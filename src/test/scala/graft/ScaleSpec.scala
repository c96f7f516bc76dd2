package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Skew

class ScaleSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("salted join equals plain join and spreads the hot key") {
    import spark.implicits._
    // 50k rows, 90% on one hot key
    val large = spark.range(0, 50000, 1, 8)
      .select(col("id"),
        when(col("id") % 10 < 9, 7L).otherwise(col("id") % 100).as("k"))
    val small = (0L until 100L).map(k => (k, s"dim_$k")).toDF("k", "name")

    val plain = large.join(small, "k").agg(count(lit(1)), sum("id")).collect()(0)
    val salted = Skew.saltedJoin(large, small, "k", col("id"), 16)
      .agg(count(lit(1)), sum("id")).collect()(0)
    assert(plain == salted)

    // the hot key's rows now hash to many distinct (k, salt) partitions
    val spread = large.withColumn("_salt", pmod(hash(col("id")), lit(16)))
      .filter(col("k") === 7).select("_salt").distinct().count()
    assert(spread == 16)
  }

  test("two-phase count equals plain count") {
    import spark.implicits._
    val df = spark.range(0, 10000).select((col("id") % 5).as("k"), col("id"))
    val plain = df.groupBy("k").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val two = Skew.twoPhaseCount(df, "k", col("id"), 8).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(plain == two)
  }

  test("bucketed co-located join plans without a shuffle") {
    import graft.ops.Bucketing
    val dir = "/root/testdata/sf0.001"
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    Bucketing.writeBucketed(Tables.load(spark, dir, "orders"), "b_orders",
      "o_orderkey", 8)
    Bucketing.writeBucketed(Tables.load(spark, dir, "lineitem"), "b_lineitem",
      "l_orderkey", 8)
    // disable auto-broadcast so the sort-merge path shows the property
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.coLocatedJoin(spark, "b_lineitem", "b_orders",
        "l_orderkey", "o_orderkey")
      assert(joined.count() == 6000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    // contrast: the plain parquet join DOES shuffle both sides
    val plain = Tables.load(spark, dir, "lineitem")
      .join(Tables.load(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey")).queryExecution.executedPlan.toString
    assert(plain.contains("Exchange") || plain.contains("BroadcastHashJoin"))
  }

  test("sketches are close to exact (HLL + quantiles)") {
    val sk = graft.queries.Relational2.q26Sketches(spark, "/root/testdata/sf0.001")
      .collect()
    val exact = Tables.load(spark, "/root/testdata/sf0.001", "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct("l_orderkey").as("exact_orders"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    sk.foreach { r =>
      val approx = r.getLong(1)
      val ex = exact(r.getString(0))
      assert(math.abs(approx - ex).toDouble / ex < 0.1,
        s"HLL ${r.getString(0)}: $approx vs $ex")
    }
  }
}

/** Volume stress for the ETL core: 100× the fixture's log count through
  * encode → one-pass demux write → partition-pruned decode read. Every
  * step is executor-parallel (no driver loop), so this is the shape that
  * scales to a cluster; the assertion is end-to-end conservation. */
class DemuxVolumeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  /** n synthetic raw logs round-robined over the fixture tables, blocks
    * 15M + id (encoded per-partition — the generator is itself parallel). */
  private def syntheticRaw(n: Long): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    import graft.abi.Keccak
    import graft.codec.AbiDecoder
    import graft.fixtures.MakerFixtures
    import graft.ingest.{Demux, RawLog}
    spark.range(0L, n, 1L, 16).mapPartitions { it =>
      val local = MakerFixtures.fixtureDefs // resolve per executor
      it.map { id =>
        val d = local((id % local.size).toInt)
        val values: Seq[Any] = d.entry.inputs.map { p =>
          p.abiType match {
            case "bytes32" => java.util.Arrays.copyOf(s"K$id".getBytes("US-ASCII"), 32)
            case "address" => Keccak.hash256(s"a$id${p.name}".getBytes).take(20)
            case t if t.startsWith("int") || t.startsWith("uint") =>
              new java.math.BigDecimal(id % 100000 + 1)
            case other => throw new MatchError(other)
          }
        }
        val (topics, data) =
          if (d.isEvent) AbiDecoder.encodeEvent(d.entry, values)
          else (Seq(java.util.Arrays.copyOf(d.dispatchKey.toArray, 32)),
            AbiDecoder.encodeCall(d.entry, values))
        RawLog(Keccak.hash256(s"c$id".getBytes).take(20), topics, data,
          block_number = 15000000L + id, block_hash = Keccak.hash256(s"h$id".getBytes),
          log_index = (id % 100).toInt, transaction_index = (id % 1000).toInt,
          transaction_hash = Keccak.hash256(s"t$id".getBytes))
      }
    }.toDF().select(Demux.rawLogSchema.fieldNames.map(col).toSeq: _*)
  }

  test("100k-doc curation pipeline: survivor set exact by construction, bounded wall-clock") {
    import spark.implicits._
    // 43000 disjoint-vocabulary clusters: base doc (id 3i), a near-dup
    // copy (3i+1, one mid token changed → 3-gram jaccard ≈ 0.90), and
    // for every third cluster an exact copy (3i+2) — ~100.8k docs with
    // 500 repetitive spam docs that must fall to the quality rules
    // before they can anchor any cluster. Disjoint vocab ⇒ zero
    // cross-cluster jaccard, so the expected survivors are exactly the
    // cluster minima — the truth needs no second implementation. The
    // wall-clock ceiling is the empirical O(n²) tripwire plan asserts
    // can't provide: an accidental all-pairs step at this size runs for
    // hours, not minutes.
    val n = 43000
    val docs = spark.range(0L, n.toLong, 1L, 16).flatMap { i =>
      val toks = (0 until 60).map(j => s"c${i}t$j")
      val base = toks.mkString(" ")
      val near = toks.updated(30, "XX").mkString(" ")
      val exact = if (i % 3 == 0) Seq((i * 3L + 2, base)) else Nil
      Seq((i * 3L, base), (i * 3L + 1, near)) ++ exact
    }.toDF("doc_id", "text")
    val spam = (0 until 500).map { k =>
      (1000000L + k, Seq.fill(300)("spam").mkString(" "))
    }.toDF("doc_id", "text")
    val df = docs.unionByName(spam)
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val t0 = System.nanoTime()
    val kept = graft.ops.Curation.curate(df)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val dt = (System.nanoTime() - t0) / 1e9
    info(f"100k-doc curation in $dt%.1f s")
    val expected = (0 until n).map(_ * 3L).toSet
    assert(kept == expected,
      s"missing=${(expected -- kept).take(5)} extra=${(kept -- expected).take(5)}")
    assert(dt < 240.0, f"curation took $dt%.1f s — O(n·shingles) budget blown")
  }

  test("80k-doc substring dedup: planted spans exact by construction, bounded wall-clock") {
    import spark.implicits._
    // 40000 pairs with disjoint vocabulary except a 12-token shared
    // span per pair, planted at DIFFERENT offsets (10 vs 7) — the
    // unaligned case chunk dedup misses. Expected spans are exactly
    // (2i, 10, 12) and (2i+1, 7, 12); k=8 ⇒ 5 covered windows each.
    // The ceiling is the empirical tripwire for an accidental
    // per-occurrence join blowup on the gram key.
    val n = 40000
    val docs = spark.range(0L, n.toLong, 1L, 16).flatMap { i =>
      val shared = (0 until 12).map(j => s"s${i}x$j")
      val a = ((0 until 10).map(j => s"a${i}u$j") ++ shared ++
        (0 until 10).map(j => s"a${i}v$j")).mkString(" ")
      val b = ((0 until 7).map(j => s"b${i}u$j") ++ shared ++
        (0 until 9).map(j => s"b${i}v$j")).mkString(" ")
      Seq((i * 2L, a), (i * 2L + 1, b))
    }.toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val spans = graft.ops.SubstrDedup.substrSpansOf(docs)
      .as[(Long, Long, Long)].collect()
    val dt = (System.nanoTime() - t0) / 1e9
    info(f"80k-doc substring-span dedup in $dt%.1f s")
    assert(spans.length == 2 * n)
    val got = spans.map { case (d, st, len) => d -> ((st, len)) }.toMap
    (0 until n).foreach { i =>
      assert(got(i * 2L) == ((10L, 12L)), s"pair $i doc a: ${got(i * 2L)}")
      assert(got(i * 2L + 1) == ((7L, 12L)), s"pair $i doc b")
    }
    assert(dt < 240.0, f"substring dedup took $dt%.1f s — gram-join budget blown")
  }

  test("50k-vector ANN: planted-cluster recall exact by construction, bounded wall-clock") {
    import spark.implicits._
    // 50k vectors in 4545 tight clusters of 11 (center ~N(0,1)^64 per
    // cluster, members center + 1% noise): within-cluster cosine ≈ 0.999,
    // cross-cluster |cosine| ≲ 0.5 with overwhelming probability, so the
    // true top-10 of any member is EXACTLY its 10 cluster-mates — no
    // brute-force truth pass needed at this size. Queries are the first
    // member of clusters 0..9.
    val nVec = 50050L
    val dim = 64
    val v = spark.range(0L, nVec, 1L, 16).map { id =>
      val cluster = id / 11
      val cRnd = new scala.util.Random(1000003L * cluster)
      val base = Array.fill(dim)(cRnd.nextGaussian())
      val nRnd = new scala.util.Random(id)
      val e = base.map(x => x + 0.01 * nRnd.nextGaussian())
      var d = 0.0
      var j = 0
      while (j < dim) { d += e(j) * e(j); j += 1 }
      (id, e.toSeq, math.sqrt(d))
    }.toDF("vec_id", "e", "nrm")
    val tmp = java.nio.file.Files.createTempDirectory("graft_volann").toString
    val t0 = System.nanoTime()
    val ann = graft.ops.Ivf.searchIvf(v, tmp, "volann",
      col("vec_id") < 110 && pmod(col("vec_id"), lit(11)) === 0,
      k = 16, nProbe = 4)
      .collect()
    val dt1 = (System.nanoTime() - t0) / 1e9
    // steady state: the inverted lists are persisted now — a second
    // search is fingerprint + probes + pruned read only
    val t1 = System.nanoTime()
    val ann2 = graft.ops.Ivf.searchIvf(v, tmp, "volann",
      col("vec_id") < 110 && pmod(col("vec_id"), lit(11)) === 0,
      k = 16, nProbe = 4)
      .collect()
    val dt2 = (System.nanoTime() - t1) / 1e9
    info(f"50k-vector ANN: build+search $dt1%.1f s, steady-state search $dt2%.1f s")
    Seq(ann, ann2).foreach { rows =>
      val byQuery = rows.groupBy(_.getLong(0))
      assert(byQuery.keySet == (0 until 10).map(_ * 11L).toSet)
      byQuery.foreach { case (q, rs) =>
        val mates = rs.map(_.getLong(2)).count(nid => nid / 11 == q / 11)
        assert(mates >= 8, s"query $q: only $mates of 10 cluster-mates in top-10")
      }
    }
    assert(dt1 < 180.0, f"ANN build+search took $dt1%.1f s")
    // RELATIVE ceiling: absolute wall-clock flakes under full-suite GC
    // pressure (observed: standalone 1.5 s, in-suite >15 s), but "steady
    // state must beat build+search by 4x" holds on any host and still
    // catches a search that re-scans/re-assigns the corpus (that costs
    // roughly what the build did)
    assert(dt2 < math.max(20.0, dt1 / 4),
      f"steady-state ANN search took $dt2%.1f s vs build+search $dt1%.1f s — " +
      "is the search scanning the corpus again?")
  }

  test("500k-node ring PageRank: uniform ranks exact by symmetry, bounded wall-clock") {
    import spark.implicits._
    // A symmetric ring (i ↔ i±1 mod n) is vertex-transitive, so the
    // stationary distribution is EXACTLY uniform and stays uniform
    // through every damped round — rank_i = 1/n is a closed-form truth
    // at any scale, no second implementation needed. 500k nodes / 1M
    // directed edges is ~10× the corpus gate's edge volume; the
    // 12-dp rounding drifts each round by ≤1 ulp(1e-12), far inside
    // the 6-dp output grid. The ceiling is the empirical tripwire for
    // a loop that re-shuffles the pinned edges or leaks lineage.
    val n = 500000L
    val t0 = System.nanoTime()
    val ranks = graft.ops.PageRank.pagerankLoop(spark, sess =>
      sess.range(0L, n, 1L, 16)
        .select(explode(array(
          struct(col("id").as("src"), pmod(col("id") + 1, lit(n)).as("dst")),
          struct(col("id").as("src"), pmod(col("id") - 1 + n, lit(n)).as("dst"))))
          .as("e"))
        .select(col("e.src"), col("e.dst"), lit(2L).as("outdeg")))
    val row = ranks.agg(
      count(lit(1)), min(col("rank")), max(col("rank"))).head()
    val dt = (System.nanoTime() - t0) / 1e9
    info(f"500k-node ring PageRank in $dt%.1f s")
    assert(row.getLong(0) == n)
    val uniform = math.rint(1e6 / n) / 1e6 // round(1/n, 6) = 0.000002
    assert(row.getDouble(1) == uniform && row.getDouble(2) == uniform,
      s"ranks [${row.getDouble(1)}, ${row.getDouble(2)}] != uniform $uniform")
    assert(dt < 240.0, f"ring PageRank took $dt%.1f s — loop budget blown")
  }

  test("1M-log one-pass demux + pruned decode conserves every row, ≥2500 logs/s") {
    import graft.fixtures.MakerFixtures
    import graft.ingest.Demux
    val defs = MakerFixtures.fixtureDefs
    // 1M logs (was 150k through r8) — the S8 "one pass at scale" claim
    // proven at the next decade: encode → tag → single partitioned
    // write → per-table pruned decode, all executor-parallel
    val n = 1000000L
    val raw = syntheticRaw(n)

    val store = java.nio.file.Files.createTempDirectory("graft_vol").toString + "/store"
    val t0 = System.nanoTime()
    Demux.writeDemuxed(raw, defs, store)
    val perTable = defs.map(d =>
      d.table -> Demux.readTable(spark, store, d).count()).toMap
    val dt = (System.nanoTime() - t0) / 1e9
    info(f"1M logs demux+decode in $dt%.1f s (${n / dt}%.0f logs/s)")
    // conservation: every synthetic log decodes back out of its table
    // (round-robin over defs — the first n % defs.size tables get one
    // extra row when n doesn't divide evenly)
    defs.zipWithIndex.foreach { case (d, i) =>
      val expect = n / defs.size + (if (i < n % defs.size) 1L else 0L)
      assert(perTable(d.table) == expect,
        s"${d.table}: ${perTable(d.table)} != $expect")
    }
    assert(perTable.values.sum == n)
    // throughput floor: generous vs the observed rate (so host noise
    // can't flake it) but fatal for an accidental per-table scan or a
    // driver-side loop, which cost a decade more at this volume
    assert(dt < 400.0, f"1M-log demux took $dt%.1f s (<2500 logs/s) — " +
      "one-pass write or pruned decode regressed")
  }

  test("150k-log atomic chunked ingest through the manifest store") {
    import graft.fixtures.MakerFixtures
    import graft.ingest.{Demux, ManifestStore}
    val defs = MakerFixtures.fixtureDefs
    val n = 150000L
    val raw = Demux.taggedKnown(syntheticRaw(n), defs).persist()
    val root = java.nio.file.Files.createTempDirectory("graft_avol").toString + "/store"
    val store = new ManifestStore(root)
    // three chunked range commits (the reference's per-chunk transaction
    // cadence), middle chunk committed twice to prove range idempotence
    val bounds = Seq((15000000L, 15049999L), (15050000L, 15099999L),
      (15100000L, 15000000L + n - 1))
    val t0 = System.nanoTime()
    bounds.foreach { case (lo, hi) =>
      store.overwriteRange(spark,
        raw.filter(col("block_number").between(lo, hi)), lo, hi,
        "block_number", Seq("table_name"))
    }
    store.overwriteRange(spark, // re-deliver chunk 2 — replaced, not appended
      raw.filter(col("block_number").between(15050000L, 15099999L)),
      15050000L, 15099999L, "block_number", Seq("table_name"))
    val dt = (System.nanoTime() - t0) / 1e9
    info(f"150k logs in 4 atomic range commits in $dt%.1f s")
    val snap = store.read(spark).get
    assert(snap.count() == n)
    // pruned per-table decode off the snapshot conserves every row
    val frob = Demux.table(
      snap.filter(col("table_name") === "vat_call_frob").drop("table_name"),
      MakerFixtures.tableDef("vat_call_frob"))
    assert(frob.count() == n / defs.size)
    // every file carries range stats → future commits prune, not rewrite
    assert(store.currentStatEntries(spark).forall(_._2.isDefined))
    raw.unpersist()
  }

  test("200k-label incremental component merge: exact by construction, bounded wall-clock") {
    import spark.implicits._
    // Base: 100k clusters of two (docs 2c, 2c+1 → component 2c). Batch:
    // 5k bridge docs, bridge k linking MEMBERS (not labels) of clusters
    // 4k and 4k+2 — every bridge must merge two old clusters through
    // the label contraction. Expected labels are a closed formula, so
    // the truth needs no second implementation; the ceiling is the
    // empirical tripwire for an accidental corpus-sized shuffle or a
    // contracted graph that failed to contract.
    val base = spark.range(0L, 200000L, 1L, 16)
      .select(col("id").as("doc_id"), (col("id") / 2).cast("long") * 2L)
      .toDF("doc_id", "component")
    val edges = spark.range(0L, 5000L, 1L, 4)
      .select(col("id"))
      .select(
        explode(array(
          struct((col("id") * 4 + 1).as("i"), (lit(1000000L) + col("id")).as("j")),
          struct((col("id") * 4 + 3).as("i"), (lit(1000000L) + col("id")).as("j")))).as("e"))
      .select(col("e.i"), col("e.j"))
    val batch = spark.range(0L, 5000L, 1L, 4)
      .select((lit(1000000L) + col("id")).as("doc_id"))
    val t0 = System.nanoTime()
    val got = graft.ops.Components.mergeBatchLabels(base, edges, batch)
    // closed-form expectation: base cluster c(d)=⌊d/2⌋·2; merged to
    // ⌊c/4⌋·4 when c < 20000; bridge doc 1000000+k → 4k
    val expected = base.select(col("doc_id"),
        when(col("component") < 20000L,
          (col("component") / 4).cast("long") * 4L)
          .otherwise(col("component")).as("component"))
      .unionByName(batch.select(col("doc_id"),
        ((col("doc_id") - 1000000L) * 4L).as("component")))
    val diff = got.select("doc_id", "component")
      .exceptAll(expected).count() +
      expected.exceptAll(got.select("doc_id", "component")).count()
    val dt = (System.nanoTime() - t0) / 1e9
    info(f"200k-label merge of a 5k-bridge batch in $dt%.1f s")
    assert(diff == 0L, s"$diff label rows diverge from the closed form")
    // the property under guard is the broadcast SHAPE (the labels table
    // never shuffles for the remap), asserted on the plan rather than a
    // wall-clock ceiling — elapsed time on a loaded CI host measures the
    // host, not the merge (r8 ADVICE)
    got.collect()
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      "labels-side remap degenerated to a sort-merge join — the batch " +
        s"remap must stay broadcast-sized\n$plan")
  }
  test("sf1 tier: deterministic 10x fixtures — disjoint keys, salted docs, stable fingerprint") {
    val dir = graft.fixtures.ScaleFixtures.ensureSf1(spark)
    // idempotent: a second call is marker-guarded (no rebuild)
    val t0 = System.nanoTime()
    assert(graft.fixtures.ScaleFixtures.ensureSf1(spark) == dir)
    assert((System.nanoTime() - t0) / 1e9 < 1.0, "ensureSf1 rebuilt under the marker")
    // 10x row counts with fully disjoint key spaces
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    assert(li.count() == 6000000L)
    assert(li.select("l_orderkey").distinct().count() ==
      10 * spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
        .select("l_orderkey").distinct().count())
    // referential integrity survives the shifts: every lineitem joins
    // its order and part in the SAME replica
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    assert(li.join(orders, li("l_orderkey") === orders("o_orderkey"), "left_anti")
      .count() == 0L, "orphan lineitems after replication")
    // docs: replicas are NOT near-dups of each other (salting works) —
    // the dedup family keys on 3-gram SHINGLES, and every-5th-word
    // salting touches ~60% of them, far below the 0.7/0.9 thresholds
    val d = spark.read.parquet(s"$dir/documents.parquet")
    assert(d.count() == 50000L)
    def shingles(t: String): Set[Seq[String]] =
      t.split(" ").toSeq.sliding(3).map(_.toSeq).toSet
    val base = shingles(d.filter(col("doc_id") === 7L).head().getString(1))
    val rep = shingles(d.filter(col("doc_id") === 100007L).head().getString(1))
    val overlap = base.intersect(rep).size.toDouble / base.union(rep).size
    assert(overlap < 0.4, f"cross-replica shingle jaccard $overlap%.2f — salting too weak")
    assert(d.filter(length(col("text")) =!= col("n_chars")).count() == 0L)
    // embeddings: perturbed but close (same cluster geometry)
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    assert(e.count() == 20000L)
    val v0 = e.filter(col("vec_id") === 5L).head().getSeq[Float](1)
    val v1 = e.filter(col("vec_id") === 100005L).head().getSeq[Float](1)
    assert(v0 != v1, "replica embedding identical — perturbation missing")
    val maxd = v0.zip(v1).map { case (a, b) => math.abs(a - b) }.max
    assert(maxd <= 0.021f, s"perturbation too large: $maxd")
  }

  test("sf1 LINEAR tier: ilks fixed, 10x contiguous block span — flagship fill scales linearly") {
    val baseDir = "/root/testdata/sf0.001"
    val out = java.nio.file.Files
      .createTempDirectory("graft_sf1lin").toString
    graft.fixtures.ScaleFixtures.buildLinear(spark, baseDir, out)
    val base = spark.read.parquet(s"$baseDir/events.parquet")
    val lin = spark.read.parquet(s"$out/events.parquet")
    // 10x rows; the ilk (user) set is FIXED — the production axis
    assert(lin.count() == 10 * base.count())
    assert(lin.select("user_id").distinct().count() ==
      base.select("user_id").distinct().count(),
      "linear tier changed the ilk set")
    // span-contiguous replicas: one dense 10x block window, no holes
    // inflating the series fill (stride = SPAN = max-min+1, r13 ADVICE #4)
    val mm = base.agg(min("event_id"), max("event_id")).head()
    val (bmin, bmax) = (mm.getLong(0), mm.getLong(1))
    val span = bmax - bmin + 1
    assert(lin.agg(min("event_id")).head().getLong(0) == bmin)
    assert(lin.agg(max("event_id")).head().getLong(0) == bmin + 10 * span - 1)
    assert(lin.select("event_id").distinct().count() == lin.count(),
      "replica id windows overlap")
    // NONZERO-min base: the dense-window contract must hold there too —
    // the old stride (max+1) left min-sized holes between replicas
    val shiftDir = java.nio.file.Files
      .createTempDirectory("graft_sf1lin_shift").toString
    graft.fixtures.ScaleFixtures.tables.foreach { t =>
      if (t != "events")
        java.nio.file.Files.copy(
          java.nio.file.Paths.get(s"$baseDir/$t.parquet"),
          java.nio.file.Paths.get(s"$shiftDir/$t.parquet"))
    }
    base.withColumn("event_id", col("event_id") + 500L)
      .write.parquet(s"$shiftDir/events.parquet")
    val out2 = java.nio.file.Files
      .createTempDirectory("graft_sf1lin_shift_out").toString
    graft.fixtures.ScaleFixtures.buildLinear(spark, shiftDir, out2)
    val lin2 = spark.read.parquet(s"$out2/events.parquet")
    assert(lin2.count() == 10 * base.count())
    assert(lin2.agg(min("event_id")).head().getLong(0) == bmin + 500L)
    assert(lin2.agg(max("event_id")).head().getLong(0) ==
      bmin + 500L + 10 * span - 1, "shifted base left holes or overflowed")
    assert(lin2.select("event_id").distinct().count() == lin2.count())
    // the events-only flagship form is the SAME query: identical result
    // on the same dir as the registerAll form
    val viaAll = graft.queries.Relational.q17AssetsShape(spark, baseDir)
      .collect().toSeq
    val viaEvents = graft.queries.Relational
      .q17AssetsShapeEventsOnly(spark, baseDir).collect().toSeq
    assert(viaAll == viaEvents, "events-only flagship form diverged")
    // and on the linear tier its output span (dt buckets ≈ fill rows /
    // ilk) grows ~10x — the linear scaling the quadratic fixture lacked
    val bdt = graft.queries.Relational.q17AssetsShapeEventsOnly(spark, baseDir)
      .agg(countDistinct(col("dt"))).head().getLong(0)
    val ldt = graft.queries.Relational.q17AssetsShapeEventsOnly(spark, out)
      .agg(countDistinct(col("dt"))).head().getLong(0)
    assert(ldt >= 9 * bdt && ldt <= 11 * bdt,
      s"linear tier dt span scaled ${ldt}x/${bdt}x — not ~10x")
  }
}
