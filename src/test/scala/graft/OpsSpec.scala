package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Similarity}

object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      // local[4, 2]: 4 threads, maxFailures=2 — ONE task retry, the
      // cluster default every 100 TB job runs under (local[N]'s
      // maxFailures=1 would abort the whole job on the first attempt
      // failure, making the exactly-once-under-retry contract —
      // FaultInjectionSpec — untestable). Deterministically-broken
      // tasks still fail every attempt, so loud-failure tests keep
      // failing loudly; a retry that silently "fixes" a flaky test
      // would itself be the bug worth catching.
      .master("local[4, 2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft_wh").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

class OpsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("simhash finds most planted jaccard near-dup pairs") {
    val docs = Tables.load(spark, dir, "documents")
    val truePairs = Dedup.jaccardPairs(Dedup.shingles(docs), 0.7)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truePairs.nonEmpty)
    val simPairs = Dedup.simhashPairs(docs, 12)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truePairs.count(simPairs.contains).toDouble / truePairs.size
    assert(recall >= 0.5, s"simhash recall $recall over ${truePairs.size} pairs")
  }

  test("banded simhash pairs == all-pairs simhash; no nested-loop join") {
    val docs = Tables.load(spark, dir, "documents")
    val sims = Dedup.simhash(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = (for {
      a <- sims.iterator
      b <- sims if a._1 < b._1
      d = java.lang.Long.bitCount(a._2 ^ b._2) if d <= 10
    } yield (a._1, b._1, d)).toSet
    val bandedDf = Dedup.simhashPairs(docs, 10)
    val banded = bandedDf.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded == expected && expected.nonEmpty)
    val plan = bandedDf.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), s"all-pairs join in plan:\n$plan")
  }

  test("minhash-LSH candidates include all high-jaccard pairs") {
    val docs = Tables.load(spark, dir, "documents")
    val sh = Dedup.shingles(docs)
    val truePairs = Dedup.jaccardPairs(sh, 0.9)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cands = Dedup.lshCandidates(Dedup.minhash(sh))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(truePairs.nonEmpty)
    assert(truePairs.forall(cands.contains),
      s"missing: ${truePairs.diff(cands).take(5)}")
  }

  test("hot LSH bucket is dropped, not exploded (occupancy cap)") {
    import spark.implicits._
    // 10 docs with an identical signature → every band's bucket holds 10
    // (over the cap of 5) → all dropped; 3 docs sharing a different
    // signature stay under the cap → their 3 pairs survive
    val hotSig = Seq.fill(Dedup.NumHashes)(7L)
    val okSig = (1 to Dedup.NumHashes).map(_.toLong)
    val sig = ((0L until 10L).map(id => (id, hotSig)) ++
      Seq((100L, okSig), (101L, okSig), (102L, okSig))).toDF("doc_id", "mins")
    val pairs = Dedup.lshCandidates(sig, maxBucket = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((100L, 101L), (100L, 102L), (101L, 102L)))
    // default cap is far above fixture occupancy: same pairs either way
    val docs = Tables.load(spark, dir, "documents")
    val sh = Dedup.shingles(docs)
    val mh = Dedup.minhash(sh)
    val capped = Dedup.lshCandidates(mh)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = Dedup.lshCandidates(mh, maxBucket = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == uncapped)
  }

  test("hot SimHash bucket is dropped, not exploded (occupancy cap)") {
    import spark.implicits._
    // 10 identical texts → one simhash → hot bucket in every band (cap 5)
    // → dropped; 3 identical other texts stay expandable → 3 pairs
    val hot = (0L until 10L).map(id => (id, "aa bb cc dd ee ff gg"))
    val ok = Seq(100L, 101L, 102L).map(id => (id, "zz yy xx ww vv uu tt"))
    val docs = (hot ++ ok).toDF("doc_id", "text")
    val pairs = Dedup.simhashPairs(docs, maxDist = 3, maxBucket = 5)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((100L, 101L), (100L, 102L), (101L, 102L)))
  }

  test("int8 quantization: reconstruction error bounded by scale/2") {
    val rows = Similarity.embQuantize(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getDouble(2) <= Similarity.QuantScale / 2 + 1e-9,
        s"vec ${r.getLong(0)}: max_err ${r.getDouble(2)}")
    }
  }

  test("ann LSH results are consistent with brute-force cosines") {
    val brute = Similarity.topK(spark, dir)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    val lsh = Similarity.topKLsh(spark, dir).collect()
    assert(lsh.nonEmpty)
    // any (q, n) pair surfaced by LSH must carry the same cosine the brute
    // path computed (when the pair is in the brute top-10)
    lsh.foreach { r =>
      val key = (r.getLong(0), r.getLong(2))
      brute.get(key).foreach(c => assert(c == r.getDouble(3)))
    }
  }

  test("IVF ANN: recall vs brute force with half-space probing") {
    val brute = Similarity.topK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = graft.ops.Ivf.topKIvf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(ivf.nonEmpty)
    val recall = brute.count(ivf.contains).toDouble / brute.size
    // probing 4 of 8 clusters on weakly-clustered data → ~half-space recall
    assert(recall >= 0.3, s"IVF recall $recall")
  }

  test("incremental LSH equals the full near-dup result restricted to new docs") {
    val docs = Tables.load(spark, dir, "documents")
    val full = Dedup.minhashLsh(docs, 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = full.filter { case (i, j) => i % 2 == 1 || j % 2 == 1 }
    val inc = graft.ops.Dedup.dedupIncremental(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(inc == expected, s"incremental=$inc expected=$expected")
    assert(inc.nonEmpty)
  }

  test("IVF-PQ ANN: ADC shortlist + exact re-rank tracks brute force") {
    val brute = Similarity.topK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = graft.ops.Ivf.topKIvfPq(spark, dir).collect()
    assert(pq.nonEmpty && pq.groupBy(_.getLong(0)).forall(_._2.length <= 10))
    val pqSet = pq.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = brute.count(pqSet.contains).toDouble / brute.size
    // PQ adds quantization loss on top of IVF's probe loss
    assert(recall >= 0.3, s"IVF-PQ recall $recall")
  }

  test("token-budget sampling keeps a nonzero sample from a stratum far over budget") {
    import spark.implicits._
    // one stratum 500x over budget: an integer-PERCENT rate floors to 0
    // here and silently empties the sample (the gate can't see it — the
    // oracle floors identically); ppm granularity must keep ~1/500
    val tmp = java.nio.file.Files.createTempDirectory("graft_tokbudget").toString
    val nDocs = 100000
    val tokPerDoc = 100 // total 10M tokens vs budget 20k → rate 2000 ppm
    (0 until nDocs).map { i =>
      (i.toLong, Seq.fill(tokPerDoc)("w").mkString(" "), "en", "s", 100L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(4).write.parquet(s"$tmp/documents.parquet")
    val kept = graft.ops.Sampling.sampleTokenBudget(spark, tmp)
    val keptTokens = kept.agg(sum("n_tokens")).head().getLong(0)
    assert(keptTokens > 0, "stratum over 100x budget must not sample to empty")
    // expected ~TokenBudget tokens; allow generous hash-draw variance
    assert(keptTokens > graft.ops.Sampling.TokenBudget / 3 &&
      keptTokens < graft.ops.Sampling.TokenBudget * 3,
      s"kept $keptTokens tokens, budget ${graft.ops.Sampling.TokenBudget}")
  }

  test("pagerank: probability mass conserved, degree ordering respected") {
    val ranks = graft.ops.PageRank.pagerank(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ranks.values.forall(_ > 0))
    // symmetric graph, no dangling nodes: total mass stays 1 (up to the
    // 12-dp per-round rounding, bounded by iters * n * 1e-12)
    assert(math.abs(ranks.values.sum - 1.0) < 1e-6, s"mass=${ranks.values.sum}")
    // the highest in-degree node must outrank the lowest (power iteration
    // on a symmetric graph tracks degree)
    val o = Tables.load(spark, dir, "orders").select("o_orderkey", "o_custkey")
    val l = Tables.load(spark, dir, "lineitem").select("l_orderkey", "l_suppkey")
    val deg = o.join(l, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("c"), (col("l_suppkey") + 100000L).as("s"))
      .distinct()
      .select(explode(array(col("c"), col("s"))).as("node"))
      .groupBy("node").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hi = deg.maxBy(_._2)._1
    val lo = deg.minBy(_._2)._1
    assert(ranks(hi) > ranks(lo),
      s"deg(${deg.maxBy(_._2)._2}) node must outrank deg(${deg.minBy(_._2)._2})")
  }

  test("dangling pagerank: mass conserved via redistribution, sinks ranked") {
    val ranks = graft.ops.PageRank.pagerankDangling(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ranks.values.forall(_ > 0))
    // the whole point of the dangling term: sink mass re-enters the
    // system each round, so total mass stays 1 up to the 6-dp OUTPUT
    // rounding (n × 5e-7 ≈ 8e-4 worst case here) — WITHOUT the term it
    // would decay toward the 0.15 damping floor (a ~0.4 drop, three
    // orders of magnitude past this tolerance)
    assert(math.abs(ranks.values.sum - 1.0) < 1e-3, s"mass=${ranks.values.sum}")
    // suppliers (the +100000 node space) are pure sinks: they receive
    // mass but forward none, so every supplier must sit above the
    // uniform floor a customer with no popularity would have
    val (supp, cust) = ranks.partition(_._1 >= 100000L)
    assert(supp.nonEmpty && cust.nonEmpty)
    assert(supp.values.sum > 0.3,
      s"sinks hold ${supp.values.sum} of the mass - redistribution broken?")
  }

  test("retrieval eval: metrics bounded, full-match@1 implies mrr=1") {
    val rows = graft.ops.Retrieval.retrievalEval(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).toSet ==
      graft.ops.Retrieval.Bm25Queries.map(_._1).toSet,
      "every query id must get a metrics row")
    rows.foreach { case (qid, nRel, mrr, ndcg) =>
      assert(mrr >= 0.0 && mrr <= 1.0, s"q$qid mrr=$mrr")
      assert(ndcg >= 0.0 && ndcg <= 1.0 + 1e-9, s"q$qid ndcg=$ndcg")
      assert(nRel >= 0)
      // a query with no fully-matching doc anywhere can never have
      // positive MRR (MRR is defined on full containment)
      if (nRel == 0) assert(mrr == 0.0, s"q$qid mrr>0 with no relevant docs")
    }
    // cross-check MRR against a by-hand walk of the ranked lists
    val q = graft.ops.Retrieval.Bm25Queries.groupBy(_._1)
      .map { case (id, ts) => id -> ts.map(_._2).toSet }
    val docs = Tables.load(spark, dir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> Option(r.getString(1)).getOrElse("")
        .split(" ").filter(_.nonEmpty).toSet).toMap
    val ranked = graft.ops.Retrieval.bm25PerQuery(spark, dir)
      .select("query_id", "rank", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.foreach { case (qid, _, mrr, _) =>
      val full = ranked.filter(_._1 == qid).sortBy(_._2)
        .find(r => q(qid).subsetOf(docs(r._3)))
      val expect = full.map(r => math.rint(1e6 / r._2) / 1e6).getOrElse(0.0)
      assert(math.abs(mrr - expect) < 1e-9,
        s"q$qid mrr=$mrr, by-hand walk says $expect")
    }
  }

  test("A-ES weighted sample: exactly K rows, biased toward heavy (long) docs") {
    val docs = Tables.load(spark, dir, "documents")
    val corpusMean = docs.agg(avg("n_chars")).head().getDouble(0)
    val samp = graft.ops.Sampling.sampleWeighted(spark, dir)
    assert(samp.count() == graft.ops.Sampling.AesK.toLong)
    val sampMean = samp.join(docs.select("doc_id", "n_chars"), "doc_id")
      .agg(avg("n_chars")).head().getDouble(0)
    // marginal inclusion ∝ n_chars, so the K-subset must average longer
    // than the corpus — the property that distinguishes A-ES from the
    // uniform fixed-K sample
    assert(sampMean > corpusMean,
      f"weighted sample mean $sampMean%.1f chars ≤ corpus mean $corpusMean%.1f")
  }

  test("intersect_count_sorted matches size(array_intersect) on random input") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(200)((
      rnd.shuffle((0L to 50L).toList).take(rnd.nextInt(20)).sorted,
      rnd.shuffle((0L to 50L).toList).take(rnd.nextInt(20)).sorted))
    val df = rows.toDF("a", "b")
    val got = df.select(
      org.apache.spark.sql.graftshim.Shim.column(
        graft.ops.IntersectCountSortedLong(
          org.apache.spark.sql.graftshim.Shim.expression(col("a")),
          org.apache.spark.sql.graftshim.Shim.expression(col("b")))).as("k"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
      .collect()
    got.foreach(r => assert(r.getLong(0) == r.getLong(1),
      s"merge-count ${r.getLong(0)} != builtin ${r.getLong(1)}"))
  }

  test("semantic decontam flags every planted eval twin; threshold honest") {
    val rows = Similarity.semanticDecontam(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    // the whole corpus is scored, each vector exactly once
    val n = Tables.load(spark, dir, "embeddings").count()
    assert(rows.size.toLong == n)
    // the flag is exactly (max eval cosine >= threshold) at 6 dp
    rows.values.foreach { case (c, f) =>
      if (c >= Similarity.SemDecontamThreshold + 1e-6) assert(f)
      if (c < Similarity.SemDecontamThreshold - 1e-6) assert(!f)
    }
    // every planted twin source (vec_id % 25 == 3) sits at high cosine
    // to its own perturbation — all must be flagged
    val planted = rows.filter(_._1 % 25 == 3)
    assert(planted.nonEmpty)
    assert(planted.values.forall(_._2),
      "a planted eval twin escaped the semantic decontam flag")
    // and the clean side is non-empty (the gate exercises both values)
    assert(rows.values.exists(!_._2))
  }

  test("embedding semantic dedup: LSH-verified edges reproduce the exact pair set") {
    val u = graft.ops.Similarity.nearDupUniverse(spark, dir)
    def pairSet(df: org.apache.spark.sql.DataFrame) = df.select("i", "j")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(graft.ops.Similarity.cosinePairs(u, u)
      .filter(org.apache.spark.sql.functions.col("cosine") >= 0.9))
    val lsh = pairSet(graft.ops.Similarity.lshCosinePairs(u, 0.9))
    assert(exact.nonEmpty, "fixture should plant cosine>=0.9 pairs")
    // verification makes precision exact; 4-plane x 32-table banding
    // makes a recall miss a ~2e-11 event (Similarity.lshCosinePairs) —
    // equality is the expected outcome, and a
    // fixture regeneration that breaks it should fail HERE, visibly,
    // not as a gate hash mismatch
    assert(lsh == exact)
  }

  test("connected components: chains, cliques, and isolated nodes") {
    import spark.implicits._
    // adversarial for label propagation (diameter = n), trivial for
    // alternating stars (log n rounds): a 60-node path, plus a 5-clique
    // and one 2-cycle island
    val path = (0L until 59L).map(i => (i, i + 1))
    val clique = for (a <- 100L to 104L; b <- 100L to 104L if a < b) yield (a, b)
    val island = Seq((200L, 201L))
    val edges = (path ++ clique ++ island).toDF("i", "j")
    val comp = graft.ops.Components.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 60L).foreach(n => assert(comp(n) == 0L, s"path node $n -> ${comp(n)}"))
    (100L to 104L).foreach(n => assert(comp(n) == 100L))
    assert(comp(200L) == 200L && comp(201L) == 200L)
    assert(comp.size == 67)
  }

  test("dedup components match a union-find ground truth on the fixture") {
    val pairs = Dedup.jaccardPairs(Dedup.shingles(
      Tables.load(spark, dir, "documents")), 0.7)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1)))
    // tiny driver-side union-find as independent ground truth
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = parent.keys.map(x => x -> find(x)).toMap
    val got = graft.ops.Components.dedupComponents(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    truth.foreach { case (n, c) =>
      assert(got(n) == c, s"node $n: got ${got(n)}, want $c")
    }
    // docs in no pair are their own singleton
    got.foreach { case (n, c) => if (!truth.contains(n)) assert(c == n) }
  }

  test("incremental component merge: a batch doc bridging two old clusters " +
      "relabels BOTH to the global min; untouched clusters keep their labels") {
    import graft.ops.Components
    import spark.implicits._
    // base: cluster {2,4,6} labeled 2, cluster {10,12} labeled 10,
    // untouched cluster {20,22} labeled 20, singleton 30
    val base = Seq((2L, 2L), (4L, 2L), (6L, 2L), (10L, 10L), (12L, 10L),
      (20L, 20L), (22L, 20L), (30L, 30L))
      .toDF("doc_id", "component")
    // new batch: 99 bridges the two clusters (via members 4 and 12 —
    // NOT the labels, so contraction must route through the label);
    // 101 is a batch singleton; 103 pairs only with 30
    val edges = Seq((4L, 99L), (12L, 99L), (30L, 103L)).toDF("i", "j")
    val batch = Seq(99L, 101L, 103L).toDF("doc_id")
    val got = Components.mergeBatchLabels(base, edges, batch)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // merged cluster {2,4,6,10,12,99} → min 2
    Seq(2L, 4L, 6L, 10L, 12L, 99L).foreach(n => assert(got(n) == 2L, s"node $n"))
    // untouched cluster survives the broadcast relabel unchanged
    Seq(20L, 22L).foreach(n => assert(got(n) == 20L, s"node $n"))
    assert(got(101L) == 101L) // batch singleton
    assert(got(30L) == 30L && got(103L) == 30L) // new doc joins old singleton
    assert(got.size == base.count() + batch.count())
  }

  test("dedup_components_incremental equals the full-corpus batch recompute") {
    val dir = "/root/testdata/sf0.001"
    val full = graft.ops.Components.dedupComponents(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val inc = graft.ops.Components.dedupComponentsIncremental(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(inc == full,
      "incremental labels must be indistinguishable from a batch recompute")
  }

  test("wad rescaler: binary uint256 mode ≡ decimal mode (rad-safe path)") {
    import spark.implicits._
    import graft.codec.GraftFunctions
    import graft.abi.AbiSchema
    import org.apache.spark.sql.types._
    // rad-scale value: 78 digits would overflow Decimal(38) — binary holds it
    val big = new java.math.BigInteger("123456789012345678901234567890123456789012345")
    val small = new java.math.BigInteger("2470300000000000000000")
    val df = Seq(
      (1L, small.toByteArray, small.toString),
      (2L, big.toByteArray, null.asInstanceOf[String]))
      .toDF("id", "bin", "dec_str")
      .withColumn("dec", org.apache.spark.sql.functions.col("dec_str").cast(DecimalType(38, 0)))
    val out = df.select(
      GraftFunctions.wad(org.apache.spark.sql.functions.col("bin")).as("from_bin"),
      GraftFunctions.wad(org.apache.spark.sql.functions.col("dec")).as("from_dec"))
      .collect()
    assert(out(0).getDouble(0) == out(0).getDouble(1)) // identical for in-range
    assert(out(1).getDouble(0) == new java.math.BigDecimal(big).doubleValue / 1e18)
    // binary-mode schema derivation
    assert(AbiSchema.sparkType("uint256", wideIntsAsBinary = true) == BinaryType)
    assert(AbiSchema.sparkType("uint16", wideIntsAsBinary = true) == IntegerType)
    assert(AbiSchema.sparkType("uint256[]", wideIntsAsBinary = true) == ArrayType(BinaryType))
    // the wide mapping RECURSES through array shapes — a fixed or nested
    // wide array left at Decimal while the decoder emits raw words would
    // silently corrupt rows at read time
    assert(AbiSchema.sparkType("uint256[3]", wideIntsAsBinary = true) ==
      ArrayType(BinaryType))
    assert(AbiSchema.sparkType("uint256[][]", wideIntsAsBinary = true) ==
      ArrayType(ArrayType(BinaryType)))
    assert(AbiSchema.sparkType("uint32[3]", wideIntsAsBinary = true) ==
      ArrayType(LongType))
  }

  test("signed rescaler: negative int256 raw words; unsigned guard fails loudly") {
    import spark.implicits._
    import graft.codec.GraftFunctions
    import org.apache.spark.sql.functions.col
    // full 32-byte two's-complement word, as the decoder emits for int256
    def word32(v: java.math.BigInteger): Array[Byte] = {
      val raw = v.toByteArray
      val out = Array.fill[Byte](32)(if (v.signum() < 0) -1 else 0)
      System.arraycopy(raw, 0, out, 32 - raw.length, raw.length)
      out
    }
    val negDart = new java.math.BigInteger("-2500000000000000000") // -2.5 wad
    val posDart = new java.math.BigInteger("1500000000000000000")  //  1.5 wad
    val df = Seq((1L, word32(negDart)), (2L, word32(posDart))).toDF("id", "w")
    val out = df.orderBy("id")
      .select(GraftFunctions.wadSigned(col("w")).as("v")).collect()
    assert(out(0).getDouble(0) == -2.5)
    assert(out(1).getDouble(0) == 1.5)
    // SQL surface: wad_s registered next to wad
    graft.codec.GraftFunctions.register(spark)
    df.createOrReplaceTempView("signed_words")
    val sql = spark.sql(
      "SELECT wad_s(w) AS v FROM signed_words ORDER BY id").collect()
    assert(sql(0).getDouble(0) == -2.5 && sql(1).getDouble(0) == 1.5)
    // the UNSIGNED rescaler must fail loudly on a sign-bit-set word
    // (int256 column wrongly fed to wad/ray/rad), not return ~1e58
    val err = intercept[Exception] {
      df.filter(col("id") === 1L)
        .select(GraftFunctions.wad(col("w"))).collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(causes(err).exists(_.getMessage != null) &&
      causes(err).exists(c => String.valueOf(c.getMessage).contains("sign bit")),
      s"expected the sign-bit guard, got: $err")
    // positive words still pass the unsigned path unchanged
    val ok = df.filter(col("id") === 2L)
      .select(GraftFunctions.wad(col("w"))).collect()
    assert(ok(0).getDouble(0) == 1.5)
  }

  test("generate_series table function (PG dialect shim)") {
    graft.codec.GraftFunctions.register(spark)
    val rows = spark.sql("SELECT * FROM generate_series(1, 10, 2)")
      .collect().map(_.getInt(0))
    assert(rows.toSeq == Seq(1, 3, 5, 7, 9))
    // lateral use mirroring the original PG query shape
    val lateral = spark.sql("""
      SELECT u, d FROM (SELECT 2L AS u, 7L AS mx),
      LATERAL generate_series(u, mx, 2) AS t(d)""")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(lateral.toSeq == Seq((2L, 2L), (2L, 4L), (2L, 6L)))
  }

  test("gopher rules: each document-shape rule fires on its constructed doc") {
    import graft.ops.TextAnalysis
    import spark.implicits._
    val docs = Seq(
      (0L, "- one\n- two\n* three\nthe body is of and a in that fine"),
      (1L, "the start of a good one\nwait...\nmore...\nso it ends..."),
      (2L, "the price of a # thing is ## marked ### up #### again"),
      (3L, "11 22 33 44 55 66 77 88 99 00 the end of a line"),
      (4L, "just plain words nothing here matches stopword lists"),
      (5L, "the quick brown fox jumps over a lazy dog of the farm and barn")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.gopherLabels(docs)
      .collect().map(r => r.getLong(0) -> r.getString(8)).toMap
    assert(out == Map(0L -> "too_many_bullets", 1L -> "too_many_ellipses",
      2L -> "too_many_symbols", 3L -> "low_alpha",
      4L -> "few_stopwords", 5L -> "ok"))
  }

  test("repetition metrics: repeated phrase flags, varied text does not, short doc zeros") {
    import graft.ops.TextAnalysis
    import spark.implicits._
    val docs = Seq(
      (0L, Array.fill(10)("buy now").mkString(" ")), // "buy now" × 10
      (1L, (0 until 40).map(i => s"w$i").mkString(" ")), // all-distinct
      (2L, "ab") // one token: no bigrams at all
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionLabels(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getBoolean(5))))
      .toMap
    // doc 0: 19 bigram positions, "buy now" occupies 10; every trigram
    // position sits in a repeated trigram
    assert(out(0L)._1 == 19L && out(0L)._2 == 10L && out(0L)._5)
    assert(out(0L)._4 == 1.0, "all trigram positions are duplicated")
    assert(out(1L)._3 < 0.06 && !out(1L)._5)
    assert(out(2L) == ((0L, 0L, 0.0, 0.0, false)),
      "gram-less docs surface with zeros, not missing rows")
  }

  test("corpus mix: rates scale with source weight and never exceed the ppm cap") {
    import graft.ops.Sampling
    val out = Sampling.corpusMix(spark, dir)
      .select("source", "weight", "rate").distinct()
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty)
    assert(out.forall(_._3 <= Sampling.RatePpm))
    // same-tier sources have similar token totals (25 docs each), so any
    // weight-6 source must out-rate any weight-1 source
    val byW: Map[Long, Seq[Long]] =
      out.groupBy(_._2).map { case (k, v) => k -> v.map(_._3).toSeq }
    for (hi <- byW.getOrElse(6L, Nil); lo <- byW.getOrElse(1L, Nil))
      assert(hi > lo, s"weight-6 rate $hi must exceed weight-1 rate $lo")
  }

  test("rare-token scoring: corpus-frequency split, empty doc rejected") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    // "common common common" appears in 3 docs -> freq(common)=9 > 2;
    // "unique1 unique2" are hapax -> rare
    val docs = Seq(
      (1L, "common common common"),
      (2L, "common common common"),
      (3L, "common common common"),
      (4L, "common unique1 unique2"), // 2/3 rare -> 66% -> reject
      (5L, ""),                       // empty -> 100 -> reject
      (6L, "common common unique3")   // 1/3 rare -> 33% -> reject (>30)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.rareTokensOf(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    assert(out(1L) == ((3L, 0L, 0L, true)))
    assert(out(4L) == ((3L, 2L, 66L, false)))
    assert(out(5L) == ((0L, 0L, 100L, false)))
    assert(out(6L) == ((3L, 1L, 33L, false)))
  }

  test("unigram log-prob matches a hand-computed tiny corpus") {
    import spark.implicits._
    // corpus: a a a b  |  a b  |  (empty)   → counts: a=4, b=2, N=6
    val docs = Seq(
      (1L, "a a a b"), (2L, "a b"), (3L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = graft.ops.TextAnalysis.unigramLpOf(docs)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    val (la, lb, ln6) = (math.log(4), math.log(2), math.log(6))
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .toDouble
    assert(out(1L)._1 == 4L &&
      out(1L)._2.contains(r6((3 * la + lb) / 4 - ln6)))
    assert(out(2L)._1 == 2L &&
      out(2L)._2.contains(r6((la + lb) / 2 - ln6)))
    assert(out(3L) == ((0L, None))) // null text: no tokens, NULL score
  }

  test("fixed-token chunking covers every doc tail with the right widths") {
    import spark.implicits._
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")),  // n=10 < w → 1 chunk
      (2L, (1 to 32).map(i => s"t$i").mkString(" ")),  // n=32 = w → 1 chunk
      (3L, (1 to 33).map(i => s"t$i").mkString(" ")),  // n=33 → 2 chunks
      (4L, (1 to 81).map(i => s"t$i").mkString(" "))   // n=81 → ceil(49/24)+1=4
    ).toDF("doc_id", "text")
    val rows = graft.ops.TextAnalysis.chunksOf(docs, 32, 24)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getString(3))).toMap
    assert(rows.keys.count(_._1 == 1L) == 1 && rows((1L, 0L))._1 == 10L)
    assert(rows.keys.count(_._1 == 2L) == 1 && rows((2L, 0L))._1 == 32L)
    assert(rows.keys.count(_._1 == 3L) == 2)
    assert(rows((3L, 0L))._1 == 32L && rows((3L, 1L))._1 == 9L) // 24..33
    assert(rows.keys.count(_._1 == 4L) == 4)
    assert(rows((4L, 3L))._1 == 9L) // tail chunk 72..81
    // overlap: doc 3 chunk 1 is tokens 25..33, fp of exactly that slice
    val want = (25 to 33).map(i => s"t$i").mkString(" ")
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(want.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(rows((3L, 1L))._2 == md)
  }

  test("keep_best picks the longest doc per component, ties to min id") {
    import graft.ops.Components
    val labels = Components.dedupComponents(spark, dir)
      .select("doc_id", "component").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val chars = Tables.load(spark, dir, "documents")
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = labels.groupBy(_._2).map { case (comp, members) =>
      comp -> members.keys.toSeq.map(id => (-chars(id), id)).min._2
    }
    val got = Components.dedupKeepBest(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (comp, survivor) =>
      assert(got(comp)._1 == survivor, s"component $comp")
      assert(got(comp)._2 == chars(survivor))
    }
    // at least one component where best-quality ≠ min-id proves the
    // policy differs from keep_only on real data
    assert(want.exists { case (comp, survivor) => survivor != comp })
  }

  test("quality-budget sample keeps exactly the greedy cleanest-first prefix") {
    import graft.ops.{Sampling, TextAnalysis}
    val scored = TextAnalysis.rareTokens(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))) // (id, n_tok, rare_pct)
    var cum = 0L
    val want = scored.sortBy(x => (x._3, x._1)).flatMap { case (id, nt, rp) =>
      val start = cum; cum += nt
      if (start < Sampling.QualityBudget) Some((id, rp, nt, cum)) else None
    }.sortBy(_._1).toSeq
    val got = Sampling.sampleQualityBudget(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == want && want.nonEmpty)
  }

  test("retrieval top-k over the frozen index matches the exact cross-parity ranking") {
    import graft.ops.Dedup
    val got = Dedup.retrieveTopK(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    val jc = Dedup.jaccardPairs(
        Dedup.shingles(Tables.load(spark, dir, "documents")), 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = jc.filter { case (i, j, _) => i % 2 != j % 2 }
      .map { case (i, j, jac) => if (i % 2 == 1) (i, j, jac) else (j, i, jac) }
      .groupBy(_._1).toSeq.flatMap { case (qid, xs) =>
        xs.sortBy(x => (-x._3, x._2)).take(5).zipWithIndex
          .map { case ((_, nid, jac), k) => (qid, (k + 1).toLong, nid, jac) }
      }.sortBy(x => (x._1, x._2))
    assert(got == want && want.nonEmpty)
  }

  test("cluster-size histogram accounts for every doc and every drop") {
    import graft.ops.Components
    val labels = Components.dedupComponents(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val hist = Components.dedupClusterStats(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    val sizes = labels.groupBy(_._2).map(_._2.length)
    // every cluster size appears with the right cluster count
    assert(hist.keySet == sizes.toSet.map((n: Int) => n.toLong))
    sizes.groupBy(identity).foreach { case (sz, cs) =>
      assert(hist(sz.toLong)._1 == cs.size, s"n_clusters at size $sz")
    }
    // doc mass and drop mass reconcile with the label table
    assert(hist.values.map(_._2).sum == labels.length)
    assert(hist.values.map(_._3).sum == labels.count(!_._3))
    assert(hist.keys.exists(_ > 1L), "fixture has multi-doc clusters")
  }

  test("corpus ngrams: counts, doc frequency, and deterministic tie order") {
    import graft.ops.TextAnalysis
    import spark.implicits._
    val docs = Seq(
      (0L, "x y z x y z"), // trigrams: "x y z"×2, "y z x", "z x y"
      (1L, "x y z"),
      (2L, "ab")           // too short: no trigram
    ).toDF("doc_id", "text")
    val got = TextAnalysis.corpusNgramsOf(docs, 3, 20).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq(("x y z", 3L, 2L), ("y z x", 1L, 1L), ("z x y", 1L, 1L)))
    // topK cuts deterministically on (count desc, gram asc)
    val top2 = TextAnalysis.corpusNgramsOf(docs, 3, 2).collect()
      .map(_.getString(0)).toSeq
    assert(top2 == Seq("x y z", "y z x"))
  }

  test("bigram LM score matches the hand-computed smoothed model") {
    import graft.ops.TextAnalysis
    import spark.implicits._
    val docs = Seq(
      (0L, "a b a b"), // bigrams: "a b"×2, "b a"
      (1L, "a b"),
      (2L, "c")        // one token: no bigrams, mean_lp = 0.0
    ).toDF("doc_id", "text")
    // uni: a→3 b→3 c→1, V=3; c12: "a b"→3, "b a"→1
    val ab = math.log(4) - math.log(6) // ln(c12+1) − ln(c1+V)
    val ba = math.log(2) - math.log(6)
    val got = TextAnalysis.bigramLpOf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(0L)._1 == 3L && got(1L)._1 == 1L && got(2L)._1 == 0L)
    assert(math.abs(got(0L)._2 - (2 * ab + ba) / 3) < 2e-6)
    assert(math.abs(got(1L)._2 - ab) < 2e-6)
    assert(got(2L)._2 == 0.0)
    // repetitive text scores higher than improbable-token text: the
    // filtering signal the score exists for
    val varied = Seq((0L, "q r s t u v w x y z"), (1L, "q r q r q r q r"))
      .toDF("doc_id", "text")
    val lp = TextAnalysis.bigramLpOf(varied).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(lp(1L) > lp(0L))
  }

  test("logistic quality classifier learns a non-trivial separator") {
    val w = graft.ops.TextAnalysis.classifierTrain(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(w.size == 4 && w.values.forall(v => !v.isNaN && !v.isInfinite))
    // σ(0) = 0.5 against a non-balanced label: the bias must move off 0
    // in round 1 and stay off
    assert(math.abs(w("bias")) > 1e-6, s"inert training: $w")
    // full-batch GD is deterministic: a second run reproduces exactly
    val w2 = graft.ops.TextAnalysis.classifierTrain(spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(w == w2)
  }

  test("corpus report agrees with independently computed totals") {
    val r = graft.ops.TextAnalysis.corpusReport(spark, "/root/testdata/sf0.001")
      .collect().head
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text", "lang", "source")
      .collect().map(x => (x.getLong(0), x.getString(1), x.getString(2), x.getString(3)))
    assert(r.getAs[Long]("n_docs") == docs.length.toLong)
    assert(r.getAs[Long]("n_tokens") == docs.map(_._2.split(' ').length.toLong).sum)
    assert(r.getAs[Long]("n_distinct_texts") == docs.map(_._2).distinct.length.toLong)
    assert(r.getAs[Long]("n_dup_docs") ==
      docs.length.toLong - docs.map(_._2).distinct.length)
    assert(r.getAs[Long]("n_langs") == docs.map(_._3).distinct.length.toLong)
    assert(r.getAs[Long]("n_sources") == docs.map(_._4).distinct.length.toLong)
    assert(r.getAs[Long]("n_en") == docs.count(_._3 == "en").toLong)
    assert(r.getAs[Long]("min_tokens") <= r.getAs[Long]("max_tokens"))
  }

  test("hash embedding: known md5 buckets, signed counts, dense dims") {
    val rows = graft.ops.TextAnalysis.hashEmbed(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val dims = graft.ops.TextAnalysis.HashDim
    // dense: every (doc, dim) present
    assert(rows.size % dims == 0)
    // md5("a") = 0cc175b9... → v = ((0·16+12)·16+12)·16+1 = 3265,
    // dim = 3265 % 16 = 1, 5th hex digit 7 → sign −1
    import spark.implicits._
    val md5a = java.security.MessageDigest.getInstance("MD5")
      .digest("a".getBytes).map("%02x".format(_)).mkString
    assert(md5a.startsWith("0cc17"))
    // embedding magnitude is bounded by the doc's token count
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    docs.foreach { case (id, text) =>
      val l1 = (0 until dims).map(d => math.abs(rows((id, d.toLong)))).sum
      assert(l1 <= text.split(' ').count(_.nonEmpty) + 1e-9)
    }
  }

  test("Kneser-Ney bigram scoring matches the hand formula and sums to one per context") {
    import spark.implicits._
    import graft.ops.TextAnalysis
    val docs = Seq(
      (0L, "a b a b"), // bigrams: "a b"×2, "b a"
      (1L, "a b"),
      (2L, "c")        // one token: no bigrams, mean_lp = 0.0
    ).toDF("doc_id", "text")
    // gbi: "a b"→3, "b a"→1; ctx a: c1=3 n1p=1, b: c1=1 n1p=1;
    // cont b: n2=1, a: n2=1; B=2
    val d = TextAnalysis.KnDiscount
    def p(c12: Double, c1: Double, n1p: Double, n2: Double, b: Double) =
      math.max(c12 - d, 0.0) / c1 + (d * n1p / c1) * (n2 / b)
    val pab = p(3, 3, 1, 1, 2)
    val pba = p(1, 1, 1, 1, 2)
    val got = TextAnalysis.knLpOf(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(got(0L)._1 == 3L && got(1L)._1 == 1L && got(2L)._1 == 0L)
    assert(math.abs(got(0L)._2 - (2 * math.log(pab) + math.log(pba)) / 3) < 2e-6)
    assert(math.abs(got(1L)._2 - math.log(pab)) < 2e-6)
    assert(got(2L)._2 == 0.0)
    // KN's defining property: Σ_w2 P(w2|w1) = 1 over observed
    // continuations when every continuation of w1 was seen (here: both
    // contexts have a single observed continuation, so check the
    // discount mass lands on the backoff exactly)
    assert(math.abs(pba - (0.25 + 0.375)) < 1e-12) // (1-d)/1 + d*1*(1/2)
    // a word appearing in many CONTEXTS backs off higher than one
    // frequent only inside a single collocation
    val varied = Seq(
      (0L, "x p y p z p q q q q q r"), // p follows x,y,z; q only q
      (1L, "w p"), (2L, "w q")).toDF("doc_id", "text")
    val kn = TextAnalysis.knLpOf(varied).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(kn(1L) > kn(2L),
      "unseen-context 'w p' must outscore 'w q': p is the richer continuation")
  }

  test("semdedup invariants: verified edges only, exact survivors kept, bound holds") {
    val row = Similarity.embSemDedup(spark, dir).collect().head
    assert(row.getLong(3) == 0L,
      "an exact survivor dropped by semdedup would be a false drop")
    assert(row.getBoolean(4), "≥50% dup-removal bound")
    // the invariant counts agree with the LSH-exact keep-only listing
    val exactKept = Similarity.embDedupKeepOnly(spark, dir).count()
    assert(row.getLong(2) == exactKept)
    assert(row.getLong(1) > row.getLong(2), "fixture must carry dups")
  }

  test("temperature sampling flattens the source distribution deterministically") {
    import graft.ops.Sampling
    val rows = Sampling.sampleTemperature(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    // accept rate is per-source constant, and the most-upweighted
    // source keeps everything (pct == 100)
    val bySrc = rows.groupBy(_._2).view.mapValues(_.map(_._3).distinct).toMap
    assert(bySrc.values.forall(_.length == 1))
    val pcts = bySrc.view.mapValues(_.head).toMap
    assert(math.abs(pcts.values.max - 100.0) < 1e-9)
    // flattening: the rate is anti-monotone in source token mass —
    // smaller sources keep (weakly) higher fractions
    val tok = Tables.load(spark, dir, "documents")
      .groupBy("source")
      .agg(sum(size(split(coalesce(col("text"), lit("")), " "))).as("t"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val ordered = pcts.toSeq.map { case (s, p) => (tok(s), p) }.sortBy(_._1)
    ordered.sliding(2).foreach {
      case Seq((t1, p1), (t2, p2)) =>
        if (t1 < t2) assert(p1 >= p2 - 1e-9,
          s"source with $t1 tokens keeps $p1% < $p2% kept by $t2-token source")
      case _ =>
    }
    // every kept doc's draw actually clears its source's rate
    rows.foreach { case (id, _, pct) =>
      val draw = (((id % 2147483648L) + 2147483648L) % 2147483648L *
        2654435761L) % 4294967296L % 100L
      assert(draw < pct)
    }
  }

  test("hard negatives exclude every planted duplicate and rank below the threshold") {
    val dir = "/root/testdata/sf0.001"
    val rows = Similarity.hardNegatives(spark, dir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    // exact planted-pair cosines: the copy counts as a FALSE negative
    // (excluded) iff it clears the 0.9 near-dup threshold
    val u = Similarity.nearDupUniverse(spark, dir).localCheckpoint()
    val planted = Similarity.cosinePairs(u, u)
      .filter(col("j") === col("i") + 100000L)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    var excluded = 0
    rows.groupBy(_._1).foreach { case (qid, ns) =>
      assert(ns.length == Similarity.HardNegK)
      val dupKept = ns.exists(_._3 == qid - 100000L)
      if (planted(qid) >= 0.9) {
        assert(!dupKept, s"anchor $qid kept its >=0.9 dup"); excluded += 1
      }
      assert(ns.forall { case (_, _, nid, c) => c < 0.9 && nid != qid })
      // ranks are 1..k in descending-cosine order
      assert(ns.sortBy(_._2).map(_._4).sliding(2).forall {
        case Array(a, b) => a >= b; case _ => true
      })
    }
    // the exclusion must actually fire somewhere, or the gate is inert
    assert(excluded > 0, "no anchor had a >=0.9 planted dup to exclude")
  }

  test("long-keyed sketches reject fractional inputs at analysis time") {
    graft.codec.GraftFunctions.register(spark)
    import spark.implicits._
    Seq((1, 1.5), (2, 2.5)).toDF("k", "v").createOrReplaceTempView("skt")
    // DOUBLE into cms_agg / mg_agg / *_estimate keys: analysis error, not
    // a silent longValue() truncation that sketches the wrong keys
    for (q <- Seq(
        "SELECT cms_agg(v) FROM skt",
        "SELECT mg_agg(v) FROM skt",
        "SELECT cms_estimate(cms_agg(k), 1.5) FROM skt",
        "SELECT mg_estimate(mg_agg(k), 1.5) FROM skt")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(q).collect())
      assert(e.getMessage.toLowerCase.contains("integral"), s"$q: ${e.getMessage}")
    }
    // narrower integral widths (int here) still coerce losslessly
    val ok = spark.sql(
      "SELECT cms_estimate(cms_agg(k), 1), mg_estimate(mg_agg(k), 1) FROM skt").head()
    assert(ok.getLong(0) == 1L && ok.getLong(1) == 1L)
  }
}
