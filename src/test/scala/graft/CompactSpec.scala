package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.fixtures.MakerFixtures
import graft.ingest.{Demux, ManifestStore}

/** The manifest-committed store: atomic commits, snapshot isolation and
  * small-file compaction (layout-only rewrite). */
class CompactSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("manifest store: append/overwriteRange/compact are atomic and snapshot-isolated") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_mstore").toString + "/store"
    val store = new ManifestStore(root)
    assert(store.read(spark).isEmpty)

    // three appends → three snapshots, contents accumulate
    (0 until 3).foreach { i =>
      store.append(spark,
        (i * 100 until (i + 1) * 100).map(n => (n.toLong, s"row$n")).toDF("block_number", "v"))
    }
    assert(store.currentVersion(spark) == 3L)
    assert(store.read(spark).get.count() == 300)

    // idempotence key: a replayed commit is a no-op
    store.append(spark, Seq((999L, "dup")).toDF("block_number", "v"),
      commitKey = Some("batch-7"))
    store.append(spark, Seq((999L, "dup")).toDF("block_number", "v"),
      commitKey = Some("batch-7"))
    assert(store.read(spark).get.filter(col("v") === "dup").count() == 1)

    // overwriteRange replaces [100, 199] atomically
    store.overwriteRange(spark,
      Seq((150L, "replaced")).toDF("block_number", "v"), 100L, 199L)
    val snap = store.read(spark).get
    assert(snap.count() == 202) // 300 - 100 + 1 + the dup row
    assert(snap.filter(col("v") === "replaced").count() == 1)
    assert(snap.filter(col("block_number").between(100, 199)).count() == 1)

    // concurrent reader during compaction: every read sees a complete
    // snapshot (constant row count), never a partial swap
    val expected = store.read(spark).get.count()
    @volatile var failure: Option[String] = None
    @volatile var stop = false
    val reader = new Thread(() => {
      while (!stop && failure.isEmpty) {
        val n = store.read(spark).get.count()
        if (n != expected) failure = Some(s"reader saw $n rows, expected $expected")
      }
    })
    reader.start()
    try store.compact(spark, targetBytes = 1L << 30)
    finally { stop = true; reader.join(30000) }
    assert(failure.isEmpty, failure.getOrElse(""))
    assert(store.read(spark).get.count() == expected)

    // vacuum drops unreferenced files but keeps the live snapshot intact
    store.vacuum(spark, keepVersions = 1)
    assert(store.read(spark).get.count() == expected)

    // crash simulation: an unterminated manifest (no #end — writer died
    // mid-commit) burns its version but is invisible to readers
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val crashed = new org.apache.hadoop.fs.Path(
      root + "/_manifests/v00000099.manifest")
    val out = fs.create(crashed, false)
    out.write("data/garbage/nonexistent.parquet\n".getBytes("UTF-8")); out.close()
    assert(store.read(spark).get.count() == expected)
    // and the next commit claims a version past the burned one
    store.append(spark, Seq((5000L, "post-crash")).toDF("block_number", "v"))
    assert(store.currentVersion(spark) == 100L)
    assert(store.read(spark).get.count() == expected + 1)
  }

  test("manifest store: stats keyed by full path — one task, many partitions") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_mstats").toString + "/store"
    val store = new ManifestStore(root)
    // coalesce(1): a single task writes BOTH partition dirs, so the part
    // files share a basename — stats must key on the full relative path
    val a = (0L until 100L).map(n => (n, "a"))
    val b = (500L until 600L).map(n => (n, "b"))
    store.append(spark, (a ++ b).toDF("block_number", "table_name").coalesce(1),
      partitionCols = Seq("table_name"), rangeCol = Some("block_number"))
    val stats = store.currentStatEntries(spark)
    assert(stats.size == 2 && stats.forall(e => e._2.isDefined))
    // each file's stats must match its own partition's range
    assert(stats.exists(e => e._1.contains("table_name=a") &&
      e._2.contains(0L) && e._3.contains(99L)))
    assert(stats.exists(e => e._1.contains("table_name=b") &&
      e._2.contains(500L) && e._3.contains(599L)))
    // re-deliver partition a's window: the old copy is replaced, b kept —
    // with name-keyed stats file a would carry b's range and duplicate.
    // Re-ingesting a range adds 0 rows and leaves the resume watermark
    assert(store.statsMax(spark).contains(599L))
    store.overwriteRange(spark,
      (0L until 100L).map(n => (n, "a")).toDF("block_number", "table_name"),
      0L, 99L, "block_number", Seq("table_name"))
    val snap = store.read(spark).get
    assert(snap.count() == 200)
    assert(snap.filter(col("block_number") <= 99).count() == 100)
    assert(store.statsMax(spark).contains(599L))
  }

  test("manifest store: concurrent committers on separate instances lose no updates") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_mrace").toString + "/store"
    // two INSTANCES: no shared JVM lock — the cross-process simulation;
    // correctness rests on exclusive version create + retry re-merge
    val s1 = new ManifestStore(root)
    val s2 = new ManifestStore(root)
    val perWriter = 6
    @volatile var failure: Option[Throwable] = None
    def writer(s: ManifestStore, base: Long) = new Thread(() =>
      try (0 until perWriter).foreach { i =>
        s.append(spark, Seq((base + i, s"w$base-$i")).toDF("block_number", "v"),
          rangeCol = Some("block_number"))
      } catch { case t: Throwable => failure = Some(t) })
    val t1 = writer(s1, 0L)
    val t2 = writer(s2, 100L)
    t1.start(); t2.start(); t1.join(120000); t2.join(120000)
    assert(failure.isEmpty, failure.map(_.toString).getOrElse(""))
    val rows = s1.read(spark).get.select("v").collect().map(_.getString(0)).toSet
    // every append from both writers survived — no lost updates
    assert(rows.size == 2 * perWriter, s"lost updates: ${rows.size} of ${2 * perWriter}")
  }

  test("manifest store: time travel and stat-pruned range reads") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_mtt").toString + "/store"
    val store = new ManifestStore(root)
    // three disjoint range commits → three stat-bounded file sets
    Seq((0L, 99L), (1000L, 1099L), (2000L, 2099L)).foreach { case (lo, hi) =>
      store.overwriteRange(spark,
        (lo to hi).map(n => (n, s"v$n")).toDF("block_number", "v"), lo, hi)
    }
    val v2 = store.readVersion(spark, 2L).get
    assert(v2.count() == 200) // as of version 2: first two commits only
    assert(store.readVersion(spark, 99L).isEmpty)

    // replace the middle range; time travel still sees the old content
    store.overwriteRange(spark,
      Seq((1050L, "replaced")).toDF("block_number", "v"), 1000L, 1099L)
    assert(store.read(spark).get.count() == 201)
    assert(store.readVersion(spark, 3L).get.count() == 300)

    // range read equals the full-scan filter but opens only the
    // overlapping files (data skipping on manifest stats)
    val ranged = store.readRange(spark, 2000L, 2099L).get
    assert(ranged.count() == 100)
    val full = store.read(spark).get
    assert(ranged.inputFiles.length < full.inputFiles.length)
    assert(store.readRange(spark, 500L, 600L).isEmpty) // nothing overlaps
  }

  test("manifest store: empty append is readable, keys survive vacuum, compact keeps stats") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_mmisc").toString + "/store"
    val store = new ManifestStore(root)
    // empty append → zero-row store (Spark may or may not emit an empty
    // part file; both read as empty, never crash)
    store.append(spark, Seq.empty[(Long, String)].toDF("block_number", "v"))
    assert(store.read(spark).forall(_.count() == 0))
    // a manifest listing zero files (no part file emitted) reads as None
    val emptyRoot = java.nio.file.Files.createTempDirectory("graft_m0").toString + "/s"
    val fs0 = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    fs0.mkdirs(new org.apache.hadoop.fs.Path(emptyRoot + "/_manifests"))
    val o0 = fs0.create(new org.apache.hadoop.fs.Path(
      emptyRoot + "/_manifests/v00000001.manifest"), false)
    o0.write("#end\n".getBytes("UTF-8")); o0.close()
    assert(new ManifestStore(emptyRoot).read(spark).isEmpty)

    store.append(spark, Seq((1L, "x")).toDF("block_number", "v"),
      commitKey = Some("job-42"), rangeCol = Some("block_number"))
    (0 until 3).foreach { i =>
      store.append(spark, Seq((10L + i, "y")).toDF("block_number", "v"),
        rangeCol = Some("block_number"))
    }
    val before = store.read(spark).get.count()
    store.vacuum(spark, keepVersions = 1)
    // the keyed commit's manifest is gone, but its key survives in history
    store.append(spark, Seq((1L, "x")).toDF("block_number", "v"),
      commitKey = Some("job-42"), rangeCol = Some("block_number"))
    assert(store.read(spark).get.count() == before)

    // compact without an explicit rangeCol keeps per-file stats (header
    // records the store's range column) so pruning never degrades
    store.compact(spark, targetBytes = 1L << 30)
    val stats = store.currentStatEntries(spark)
    assert(stats.nonEmpty && stats.forall(_._2.isDefined),
      s"compact dropped range stats: $stats")
  }

  test("vacuum: burned head versions never cause live-snapshot loss") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_mvac1").toString + "/store"
    val store = new ManifestStore(root)
    store.append(spark, (0L until 50L).map(n => (n, s"r$n")).toDF("block_number", "v"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // two consecutive burned claims ABOVE the only complete snapshot —
    // the old retention math (versions.last - keep + 1) would put the
    // whole window on the burned heads, empty the live set, and delete
    // every data file
    Seq(2L, 3L).foreach { v =>
      val out = fs.create(new org.apache.hadoop.fs.Path(
        root + f"/_manifests/v$v%08d.manifest"), false)
      out.write("data/crashed/part-x.parquet\n".getBytes("UTF-8")); out.close()
    }
    store.vacuum(spark, keepVersions = 1, minDataAgeMs = 0L)
    assert(store.read(spark).get.count() == 50,
      "vacuum with burned head versions must retain the newest COMPLETE snapshot")
  }

  test("vacuum: reclaims dead files, spares young unreferenced ones, keys crash-safe") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_mvac2").toString + "/store"
    val store = new ManifestStore(root)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def dataFiles(): Set[String] = {
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root + "/data"), true)
      val out = scala.collection.mutable.Set.empty[String]
      while (it.hasNext) {
        val p = it.next().getPath
        if (p.getName.endsWith(".parquet")) out += p.toString
      }
      out.toSet
    }
    store.overwriteRange(spark,
      (0L until 50L).map(n => (n, "old")).toDF("block_number", "v"), 0L, 49L,
      commitKey = Some("k-old"))
    val firstCommitFiles = dataFiles()
    // replace the same range: the first commit's files become unreferenced
    store.overwriteRange(spark,
      (0L until 50L).map(n => (n, "new")).toDF("block_number", "v"), 0L, 49L)
    // a young unreferenced file is an in-flight committer's data: spared
    // by the age floor, reclaimed once old enough
    store.vacuum(spark, keepVersions = 1, minDataAgeMs = 60L * 60 * 1000)
    assert(firstCommitFiles.subsetOf(dataFiles()),
      "age floor must spare recently-written unreferenced files")
    store.vacuum(spark, keepVersions = 1, minDataAgeMs = 0L)
    val after = dataFiles()
    assert(firstCommitFiles.forall(!after.contains(_)),
      "an aged-out unreferenced file must be reclaimed")
    assert(store.read(spark).get.filter(col("v") === "new").count() == 50)
    // the vacuumed keyed commit survives via the append-only key segment
    val segs = fs.listStatus(new org.apache.hadoop.fs.Path(root + "/_manifests"))
      .map(_.getPath.getName).filter(n => n.startsWith("keys.") && n != "keys.history")
    assert(segs.nonEmpty, "vacuum of a keyed manifest must write a key segment")
    // fresh instance: the key must come from the persisted segment, not
    // this instance's warm in-memory key cache
    val replayer = new ManifestStore(root)
    replayer.overwriteRange(spark,
      (0L until 50L).map(n => (n, "replay")).toDF("block_number", "v"), 0L, 49L,
      commitKey = Some("k-old"))
    assert(store.read(spark).get.filter(col("v") === "replay").count() == 0,
      "idempotence key must outlive retention")
    // further keyed vacuums COLLAPSE history into one segment instead of
    // accumulating segment files
    store.append(spark, (100L until 110L).map(n => (n, "k2")).toDF("block_number", "v"),
      rangeCol = Some("block_number"), commitKey = Some("k-new"))
    store.append(spark, (110L until 120L).map(n => (n, "k3")).toDF("block_number", "v"),
      rangeCol = Some("block_number"))
    store.vacuum(spark, keepVersions = 1, minDataAgeMs = 0L)
    val segsAfter = fs.listStatus(new org.apache.hadoop.fs.Path(root + "/_manifests"))
      .map(_.getPath.getName).filter(n => n.startsWith("keys.") && n != "keys.history")
    assert(segsAfter.length == 1,
      s"vacuum must merge key segments, found: ${segsAfter.mkString(", ")}")
    val reader2 = new ManifestStore(root)
    assert(reader2.hasCommitKey(spark, "k-old") && reader2.hasCommitKey(spark, "k-new"))

    // an UNTERMINATED segment (vacuum crashed mid-write) is ignored, and
    // a legacy single-file keys.history is still honored
    val crashed = fs.create(new org.apache.hadoop.fs.Path(
      root + "/_manifests/keys.deadbeef.history"), false)
    crashed.write("ghost-key\n".getBytes("UTF-8")); crashed.close() // no #end
    val legacy = fs.create(new org.apache.hadoop.fs.Path(
      root + "/_manifests/keys.history"), false)
    legacy.write("legacy-key\n".getBytes("UTF-8")); legacy.close()
    val fresh = new ManifestStore(root) // fresh instance: no warm key cache
    assert(!fresh.hasCommitKey(spark, "ghost-key"))
    assert(fresh.hasCommitKey(spark, "legacy-key"))
  }

  test("z-order compaction: files cover tight 2-D tiles, content preserved") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_mzord").toString + "/store"
    val store = new ManifestStore(root)
    // 100×100 grid; a plain sort by x would give each of 4 files a
    // 25×100 stripe (area 2500 each, but full-width in y)
    val grid = for (x <- 0 until 100; y <- 0 until 100)
      yield (x.toLong * 100 + y, x.toLong, y.toLong)
    store.append(spark, grid.toDF("id", "x", "y"))
    val totalBytes = {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root + "/data"), true)
      var n = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) n += f.getLen
      }
      n
    }
    store.compact(spark, targetBytes = math.max(1L, totalBytes / 8),
      zorderBy = Seq("x", "y"))
    // content identical
    val snap = store.read(spark).get
    assert(snap.count() == 10000)
    assert(snap.agg(sum(col("id")).cast("long")).head().getLong(0) ==
      grid.map(_._1).sum)
    // z-order locality: most files' (x, y) bounding boxes are TILES —
    // bounded in BOTH dimensions — which a plain x-sort (full-width
    // y stripes, y-span always 100) can never produce. Files straddling
    // a major quadrant boundary of the curve may legitimately span wide,
    // so the assertion is over the majority, not each file.
    val files = snap.inputFiles
    assert(files.length >= 4, s"expected >=4 files, got ${files.length}")
    val tiles = files.count { fp =>
      val b = spark.read.parquet(fp)
        .agg(min("x"), max("x"), min("y"), max("y")).head()
      (b.getLong(1) - b.getLong(0)) <= 60 && (b.getLong(3) - b.getLong(2)) <= 60
    }
    assert(tiles >= (files.length + 1) / 2,
      s"only $tiles of ${files.length} files are z-order tiles")
  }

  test("z-order rank buckets: skewed keys still tile where uniform buckets degenerate") {
    import spark.implicits._
    // zipf-shaped x: 90% of rows dense in [0, 100) (the head), 10%
    // stretched to 1e9 (the tail); y independent-uniform. Uniform-width
    // buckets over [0, 1e9] put the ENTIRE head in x-bucket 0 — the
    // curve degenerates to a y-sort and every head file spans the full
    // head x range. Equi-depth cuts concentrate where the rows are, so
    // head files tile x too.
    val rows = (0 until 10000).map { i =>
      val x = if (i < 9000) (i % 100).toLong
              else (i.toLong - 9000) * 1_000_000L
      (i.toLong, x, ((i * 37) % 100).toLong)
    }
    def build(rank: Boolean): Seq[String] = {
      val root = java.nio.file.Files.createTempDirectory(
        s"graft_mzrank_$rank").toString + "/store"
      val store = new ManifestStore(root)
      store.append(spark, rows.toDF("id", "x", "y"))
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(root + "/data"), true)
      var total = 0L
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) total += f.getLen
      }
      store.compact(spark, targetBytes = math.max(1L, total / 16),
        zorderBy = Seq("x", "y"), zorderRank = rank)
      val snap = store.read(spark).get
      assert(snap.count() == 10000) // content preserved
      snap.inputFiles.toSeq
    }
    // pruning proxy: how many files could a head-range query x∈[40,60]
    // NOT skip on footer min/max?
    def touched(files: Seq[String]): Int = files.count { fp =>
      val b = spark.read.parquet(fp).agg(min("x"), max("x")).head()
      b.getLong(0) <= 60 && b.getLong(1) >= 40
    }
    val uniform = build(rank = false)
    val ranked = build(rank = true)
    val (tu, tr) = (touched(uniform), touched(ranked))
    // uniform: the whole head lands in x-bucket 0, the curve degenerates
    // to y-stripes, and since head rows are 90% of data EVERY file holds
    // head rows spanning x 0..99 → ~all files touched. rank: the head
    // spreads across most of the x-bucket space → a 20-wide head query
    // touches only the files whose z-tiles cross it.
    assert(uniform.size >= 8 && ranked.size >= 8)
    assert(tu * 5 >= uniform.size * 4,
      s"expected uniform buckets to degenerate on the head, touched $tu/${uniform.size}")
    assert(tr * 3 <= ranked.size * 2,
      s"rank buckets should tile the head: touched $tr/${ranked.size}")
    assert(tr < tu, s"rank ($tr) should beat uniform ($tu)")
  }

  test("manifest store: schema evolution across commits (added columns null-fill)") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_mevo").toString + "/store"
    val store = new ManifestStore(root)
    store.append(spark, Seq((1L, "a")).toDF("block_number", "v"),
      rangeCol = Some("block_number"))
    // later commit adds a column: older rows must read it as null
    store.append(spark, Seq((2L, "b", 7.5)).toDF("block_number", "v", "score"),
      rangeCol = Some("block_number"))
    val snap = store.read(spark).get
    assert(snap.columns.toSet == Set("block_number", "v", "score"))
    assert(snap.filter(col("block_number") === 1L).head().isNullAt(
      snap.columns.indexOf("score")))
    assert(snap.filter(col("score") === 7.5).count() == 1)
    // overwrite that adds yet another column: kept rows null-fill too
    store.overwriteRange(spark,
      Seq((2L, "b2", 8.0, "x")).toDF("block_number", "v", "score", "tag"),
      2L, 2L)
    val snap2 = store.read(spark).get
    assert(snap2.columns.toSet == Set("block_number", "v", "score", "tag"))
    assert(snap2.count() == 2)
    assert(snap2.filter(col("v") === "b2").head().getAs[String]("tag") == "x")
    assert(snap2.filter(col("block_number") === 1L).head().isNullAt(
      snap2.columns.indexOf("tag")))
    // compaction collapses the mixed schemas into one uniform file set
    store.compact(spark, targetBytes = 1L << 30)
    assert(store.read(spark).get.columns.toSet ==
      Set("block_number", "v", "score", "tag"))
    assert(store.read(spark).get.count() == 2)
  }

  test("manifest store: partitioned demux layout keeps partition pruning") {
    MakerFixtures.ensure(spark)
    val root = java.nio.file.Files.createTempDirectory("graft_mstore_p").toString + "/store"
    val store = new ManifestStore(root)
    val raw = spark.read.parquet(MakerFixtures.rawLogsPath)
    // incremental appends → many small files per partition
    (0 until 5).foreach { i =>
      store.append(spark, Demux.taggedKnown(
        raw.filter(pmod(col("block_number"), lit(5)) === i), MakerFixtures.fixtureDefs),
        partitionCols = Seq("table_name"))
    }
    val snap = store.read(spark).get
    assert(snap.columns.contains("table_name")) // recovered from layout
    val frob = snap.filter(col("table_name") === "vat_call_frob")
    assert(frob.count() == 800)
    def checksum() = store.read(spark).get
      .agg(sum(xxhash64(col("transaction_hash"), col("block_number"),
        col("log_index")).cast("decimal(38,0)")).as("h"), count(lit(1)).as("n")).head()
    val checksumBefore = checksum()
    val before = store.currentFiles(spark).size
    // compaction preserves the partition column and contents
    store.compact(spark, targetBytes = 1L << 30, partitionCols = Seq("table_name"))
    val after = store.currentFiles(spark).size
    assert(after < before, s"$after !< $before")
    assert(after >= MakerFixtures.fixtureDefs.size) // ≥1 file per partition
    assert(checksum() == checksumBefore)
    assert(store.read(spark).get.filter(col("table_name") === "vat_call_frob")
      .count() == 800)
    // partition-pruned decode still works
    assert(Demux.readTable(spark, store,
      MakerFixtures.tableDef("vat_call_frob")).count() == 800)
  }
}
