package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, count, expr, hex, input_file_name, lit, lower, max, min, regexp_extract, session_window, unix_millis}
import graft.fixtures.MakerFixtures
import graft.ingest.{Demux, RawLog}
import graft.streaming.ChainStream
import graft.ops.Multimodal

class StreamingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("streaming decode = batch decode (same code path, two triggers)") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    MakerFixtures.ensure(spark)
    val raw = spark.read.parquet(MakerFixtures.rawLogsPath).as[RawLog].collect()
    val frobDef = MakerFixtures.tableDef("vat_call_frob")

    val stream = MemoryStream[RawLog]
    val q = ChainStream.decodedTable(stream.toDF(), frobDef)
      .writeStream.format("memory").queryName("frob_stream")
      .outputMode("append").start()
    val (first, rest) = raw.splitAt(700)
    stream.addData(first.toIndexedSeq)
    q.processAllAvailable()
    stream.addData(rest.toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("frob_stream").count()
    val batch = Demux.table(spark.read.parquet(MakerFixtures.rawLogsPath), frobDef).count()
    assert(streamed == batch)
    assert(batch == 800)
  }

  test("DSv2 log source streams the chain in block-range micro-batches") {
    MakerFixtures.ensure(spark)
    val frobDef = MakerFixtures.tableDef("vat_call_frob")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    val stream = ChainStream.rawLogStreamV2(spark, MakerFixtures.rawLogsPath,
      from = 8928160L, to = 20000000L, blocksPerBatch = 2000000L)
    val q = ChainStream.decodedTable(stream, frobDef)
      .writeStream.format("memory").queryName("frob_chain_stream")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    val batches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    val streamed = spark.table("frob_chain_stream").count()
    val batch = Demux.table(spark.read.parquet(MakerFixtures.rawLogsPath), frobDef).count()
    assert(streamed == batch && batch == 800)
    // the chain was really consumed incrementally, not as one batch
    assert(batches > 1, s"expected multiple non-empty micro-batches, got $batches")
  }

  test("atomic streaming ingest is exactly-once under checkpoint replay") {
    MakerFixtures.ensure(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft_atomic").toString
    val store = new graft.ingest.ManifestStore(s"$tmp/store")
    def run(): Unit = {
      val stream = ChainStream.rawLogStreamV2(spark, MakerFixtures.rawLogsPath,
        from = 8928160L, to = 20000000L, blocksPerBatch = 3000000L)
      val q = ChainStream.ingestStreamAtomic(stream, MakerFixtures.fixtureDefs,
        store, s"$tmp/ckpt")
      q.processAllAvailable()
      q.stop()
    }
    run()
    val expected = Demux.taggedKnown(
      spark.read.parquet(MakerFixtures.rawLogsPath), MakerFixtures.fixtureDefs).count()
    assert(store.read(spark).get.count() == expected)
    // restart over the same checkpoint: Spark may re-deliver an already
    // ingested block range under a NEW batch id (offset WAL ahead of the
    // commit log) — the range-overwrite commit replaces the prior copy
    // instead of appending a duplicate, so the count stays exact
    run()
    val snap1 = store.read(spark).get
    assert(snap1.count() == expected)
    assert(snap1.groupBy("block_number", "log_index", "transaction_hash")
      .count().filter(col("count") > 1).count() == 0)
    // a manual re-ingest of an already-covered range is likewise a no-op
    // in content: the window's previous copy is replaced, not duplicated
    val again = Demux.taggedKnown(
      spark.read.parquet(MakerFixtures.rawLogsPath), MakerFixtures.fixtureDefs)
    val mm = again.agg(min("block_number"), max("block_number")).head()
    store.overwriteRange(spark, again, mm.getLong(0), mm.getLong(1),
      "block_number", Seq("table_name"))
    assert(store.read(spark).get.count() == expected)
    // per-table decoded read off the atomic store matches direct decode
    val frobDef = MakerFixtures.tableDef("vat_call_frob")
    assert(Demux.readTable(spark, store, frobDef).count() ==
      Demux.table(spark.read.parquet(MakerFixtures.rawLogsPath), frobDef).count())
  }

  test("stream-stream interval join matches the batch interval join") {
    MakerFixtures.ensure(spark)
    val frobDef = MakerFixtures.tableDef("vat_call_frob")
    val foldDef = MakerFixtures.tableDef("vat_call_fold")
    def streamOf(d: graft.abi.AbiSchema.TableDef) =
      ChainStream.decodedTable(
        ChainStream.rawLogStreamV2(spark, MakerFixtures.rawLogsPath,
          from = 8928160L, to = 20000000L, blocksPerBatch = 3000000L), d)
    // 4000 hours ≈ 1.1M blocks: the fixture's folds (10.82M+) trail its
    // frobs (≤10.52M) by ~300k blocks, so this window crosses the gap —
    // wide but still a bounded state window
    val joined = ChainStream.intervalJoinStreams(
      streamOf(foldDef).select(col("i"), col("block_number"), col("rate")),
      streamOf(frobDef).select(col("i"), col("block_number"), col("dart")),
      "i", window = "4000 hours", watermarkDelay = "8000 hours")
      .select(col("block_number"), col("block_number_r"),
        lower(hex(col("i"))).as("ilk_hex"))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ssjoin").toString
    val q = joined.writeStream.format("memory").queryName("ss_join")
      .option("checkpointLocation", ckpt).outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ss_join").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet

    // identical expressions on the batch decode path
    val corpus = spark.read.parquet(MakerFixtures.rawLogsPath)
    val foldB = Demux.table(corpus, foldDef)
      .select(col("i"), col("block_number"), col("rate"))
    val frobB = Demux.table(corpus, frobDef)
      .select(col("i").as("i_r"), col("block_number").as("block_number_r"))
    // 4000 hours = 14_400_000 s; times are genesis + 13·block, so the
    // interval condition reduces to 13·(bl - br) ∈ [0, 14_400_000]
    val batch = foldB.join(frobB,
      col("i") === col("i_r") &&
        (col("block_number_r") * 13 >= col("block_number") * 13 - lit(14400000L)) &&
        (col("block_number_r") <= col("block_number")))
      .select(col("block_number"), col("block_number_r"),
        lower(hex(col("i"))).as("ilk_hex"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"streamed=${streamed.size} batch=${batch.size}")
  }

  test("streaming tx-hash dedup keeps one row per transaction") {
    MakerFixtures.ensure(spark)
    // the proxy fixture has multi-log transactions → real duplicates
    val stream = ChainStream.rawLogStreamV2(spark, MakerFixtures.proxyRawLogsPath,
      from = 8928160L, to = 20000000L, blocksPerBatch = 3000000L)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_dedup").toString
    val q = ChainStream.dedupStream(stream)
      .writeStream.format("memory").queryName("tx_dedup_stream")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("tx_dedup_stream")
    val txCount = spark.read.parquet(MakerFixtures.proxyRawLogsPath)
      .select("transaction_hash").distinct().count()
    assert(streamed.count() == txCount)
    assert(streamed.select("transaction_hash").distinct().count() == txCount)
  }

  test("windowed volume with watermark emits bounded-state aggregates") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    MakerFixtures.ensure(spark)
    val raw = spark.read.parquet(MakerFixtures.rawLogsPath).as[RawLog].collect()
    val buyDef = MakerFixtures.tableDef("psm_evt_buygem")

    val stream = MemoryStream[RawLog]
    val windowed = ChainStream.windowedVolume(
      ChainStream.decodedTable(stream.toDF(), buyDef), "value")
    val q = windowed.writeStream.format("memory").queryName("vol_stream")
      .outputMode("complete").start()
    stream.addData(raw.toIndexedSeq)
    q.processAllAvailable()
    q.stop()

    val streamRows = spark.table("vol_stream").count()
    val batchRows = ChainStream.windowedVolume(
      Demux.table(spark.read.parquet(MakerFixtures.rawLogsPath), buyDef), "value").count()
    assert(streamRows == batchRows)
    assert(streamRows > 0)
  }
}

class SessionizeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("stateful streaming sessionization = batch gaps-and-islands") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.Sessionize

    // canonical ts is NTZ (Tables.load); the Ev encoder needs LTZ —
    // identity cast under the UTC session
    val events = Tables.load(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"))
    val batchSessions = Sessionize.sessionsBatch(events, 30).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(batchSessions.nonEmpty)

    val evs = events.as[Sessionize.Ev].collect().sortBy(_.ts.getTime)
    val stream = MemoryStream[Sessionize.Ev]
    val q = Sessionize.sessions(stream.toDS(), 30)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    val (a, b) = (evs.take(evs.length / 2), evs.drop(evs.length / 2))
    stream.addData(a.toIndexedSeq)
    q.processAllAvailable()
    stream.addData(b.toIndexedSeq)
    q.processAllAvailable()
    // push the watermark far forward so every open session times out
    val last = evs.last.ts.getTime
    stream.addData(Sessionize.Ev(-1L, new java.sql.Timestamp(last + 86400000L)))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("sessions")
      .filter(col("user_id") >= 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSet
    assert(streamed == batchSessions,
      s"stream ${streamed.size} vs batch ${batchSessions.size}; " +
        s"missing=${batchSessions.diff(streamed).take(3)} extra=${streamed.diff(batchSessions).take(3)}")
  }

  test("late events beyond the watermark drop deterministically and are counted") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.streaming.Sessionize
    // planted timeline (gap 30 min): on-time events for users 1 and 2, a
    // sentinel that advances the watermark a day past everything (closing
    // every session), then three LATE events with event times far below
    // the watermark — including one for a user (3) the stream has never
    // seen. Correctness under disorder is the exactly-once sibling: the
    // late rows must DROP deterministically (never resurrect or extend a
    // closed session), the engine must COUNT them
    // (numRowsDroppedByWatermark — the production monitoring signal), and
    // the emitted sessions must equal the batch replay of the on-time
    // rows alone.
    val t0 = 1700000000000L
    def ev(u: Long, ms: Long) = Sessionize.Ev(u, new java.sql.Timestamp(ms))
    val onTime = Seq(ev(1, t0), ev(1, t0 + 600000L), ev(2, t0 + 300000L))
    val late = Seq(ev(1, t0 + 300000L), ev(2, t0), ev(3, t0 + 60000L))
    val stream = MemoryStream[Sessionize.Ev]
    val q = Sessionize.sessions(stream.toDS(), 30)
      .writeStream.format("memory").queryName("late_sessions")
      .outputMode("append").start()
    stream.addData(onTime.toIndexedSeq)
    q.processAllAvailable()
    stream.addData(ev(-1L, t0 + 86400000L)) // watermark → t0 + 1d − 30min
    q.processAllAvailable()
    stream.addData(late.toIndexedSeq)
    q.processAllAvailable()
    val dropped = q.recentProgress.toSeq
      .flatMap(p => Option(p.stateOperators).toSeq.flatMap(_.toSeq))
      .map(_.numRowsDroppedByWatermark).sum
    q.stop()
    assert(dropped == late.size.toLong,
      s"engine counted $dropped dropped-by-watermark rows, planted ${late.size}")
    val streamed = spark.table("late_sessions")
      .filter(col("user_id") >= 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    val batchRef = Sessionize
      .sessionsBatch(onTime.toDF("user_id", "ts"), 30)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      .toSet
    assert(streamed == batchRef,
      s"stream $streamed != batch-replay-minus-late $batchRef")
    assert(!streamed.exists(_._1 == 3L),
      "a late-only user materialized a session — late rows reached state")
  }

  test("NATIVE streaming session_window = the batch session_window gate") {
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val gap = s"${graft.queries.Events.SessionGapSec} seconds"

    val batch = graft.queries.Events.sessionWindow(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(batch.nonEmpty)

    val evs = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"), col("value"))
      .as[(Long, java.sql.Timestamp, Double)].collect().sortBy(_._2.getTime)
    val stream = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val q = stream.toDF().toDF("user_id", "ts", "value")
      .withWatermark("ts", "0 seconds")
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_millis(col("session_window.start")).as("start_ms"),
        unix_millis(col("session_window.end")).as("end_ms"),
        col("n_events"))
      .writeStream.format("memory").queryName("native_sessions")
      .outputMode("append").start()
    val (a, b) = (evs.take(evs.length / 2), evs.drop(evs.length / 2))
    stream.addData(a.toIndexedSeq)
    q.processAllAvailable()
    stream.addData(b.toIndexedSeq)
    q.processAllAvailable()
    // sentinel far past the last event closes every open session
    val last = evs.last._2.getTime
    stream.addData((-1L, new java.sql.Timestamp(last + 86400000L), 0.0))
    q.processAllAvailable()
    q.stop()

    val streamed = spark.table("native_sessions")
      .filter(col("user_id") >= 0)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // the batch gate carries total_value too; compare the shared columns
    assert(streamed == batch,
      s"stream ${streamed.size} vs batch ${batch.size}; " +
        s"missing=${batch.diff(streamed).take(3)} extra=${streamed.diff(batch).take(3)}")
  }

  test("backfill→tail handoff: batch bootstrap, streaming tail from the seam, exactly once") {
    // The production bootstrap (r10 verdict #8): a BATCH backfill brings
    // the store to head H, then the STREAMING tail takes over from the
    // seam — with neither a gap nor a duplicate at the boundary. The
    // seam discipline: the tail's start block derives from the STORE'S
    // OWN watermark (statsMax + 1 — no operator memory, so a crash
    // between backfill and tail start loses nothing), and every tail
    // micro-batch commits as a range overwrite, so seam re-delivery of
    // any shape replaces rather than duplicates.
    import graft.ingest.{IngestJob, LogSource, ManifestStore}
    MakerFixtures.ensure(spark)
    val rpc = LogSource.replayFromParquet(spark, MakerFixtures.rawLogsPath)
    val defs = MakerFixtures.fixtureDefs
    val corpus = spark.read.parquet(MakerFixtures.rawLogsPath)
    val creation = 8928160L
    val maxBlock = corpus.agg(max("block_number")).head.getLong(0)
    val seam = creation + 900000L
    val tmp = java.nio.file.Files.createTempDirectory("graft_handoff")
    val store = new ManifestStore(s"$tmp/store")

    // 1. batch backfill to the seam head
    IngestJob.runAtomic(spark, rpc, defs, None, store, creation, seam)
    val backfilled = store.read(spark).get.count()
    assert(backfilled > 0, "backfill ingested nothing — dead seam fixture")

    // 2. the tail starts EXACTLY where the store's watermark says —
    //    gap-free by construction, no shared state with the backfill job
    val tailFrom = store.statsMax(spark).get + 1
    assert(tailFrom <= seam + 1, "watermark ran past the backfill head")
    def runTail(ckpt: String): Unit = {
      val stream = ChainStream.rawLogStreamV2(spark, MakerFixtures.rawLogsPath,
        from = tailFrom, to = maxBlock, blocksPerBatch = 400000L)
      val q = ChainStream.ingestStreamAtomic(stream, defs, store, ckpt)
      q.processAllAvailable()
      q.stop()
    }
    runTail(s"$tmp/ckpt1")

    // 3. seam exactness: the store equals the direct batch tag of the
    //    WHOLE range — nothing missing at the boundary, nothing doubled
    val truth = Demux.taggedKnown(corpus, defs)
    assert(store.read(spark).get.count() == truth.count())
    assert(store.read(spark).get
      .groupBy("block_number", "log_index", "transaction_hash")
      .count().filter(col("count") > 1).count() == 0,
      "duplicate rows at or after the seam")
    // the seam actually split the work: both sides contributed rows
    assert(store.read(spark).get.filter(col("block_number") <= seam).count() == backfilled)
    assert(store.read(spark).get.filter(col("block_number") > seam).count() ==
      truth.filter(col("block_number") > seam).count())
    // per-table rollup equality (the boundary cannot shift rows between tables)
    val perTable = store.read(spark).get.groupBy("table_name").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(perTable == truth.groupBy("table_name").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet)

    // 4. a RESTARTED tail from a fresh checkpoint re-delivers the seam
    //    range under new batch ids — the range-overwrite commits replace
    //    their previous copies, content unchanged
    runTail(s"$tmp/ckpt2")
    assert(store.read(spark).get.count() == truth.count(),
      "tail replay across the seam duplicated rows")
    assert(store.read(spark).get
      .groupBy("block_number", "log_index", "transaction_hash")
      .count().filter(col("count") > 1).count() == 0)
  }

  test("chain-follow E2E: head advance → fetch → decode → demux → store → matview") {
    // EP1's streaming future as ONE flow (r9 verdict #7): a stub chain
    // whose head advances in steps; each step runs the atomic ingest
    // (resume → adaptive fetch → demux tag → one manifest commit) and
    // refreshes an incremental matview over the store. The view must
    // reflect EXACTLY the blocks at or below the head after every step,
    // and replays (same head re-ingested, same version re-refreshed)
    // must be no-ops — the commit-key discipline end to end.
    import graft.ingest.{IngestJob, LogSource, ManifestStore, MatView}
    MakerFixtures.ensure(spark)
    val rpc = LogSource.replayFromParquet(spark, MakerFixtures.rawLogsPath)
    val defs = MakerFixtures.fixtureDefs
    val corpus = spark.read.parquet(MakerFixtures.rawLogsPath)
    val tmp = java.nio.file.Files.createTempDirectory("graft_chain_follow")
    val store = new ManifestStore(s"$tmp/store")
    val view = new MatView(s"$tmp/view", Seq("table_name"), "block_number")
    val creation = 8928160L
    val maxBlock = corpus.agg(max("block_number")).head.getLong(0)
    val heads = Seq(creation + 300000L, creation + 900000L, maxBlock)

    heads.foreach { head =>
      IngestJob.runAtomic(spark, rpc, defs, None, store, creation, head)
      val vStore = store.currentVersion(spark)
      assert(view.refresh(spark, store) == vStore)

      // truth: direct tag over the corpus at-or-below the head
      val expect = Demux.tagged(corpus.filter(col("block_number") <= head), defs)
        .filter(col("table_name").isNotNull)
        .groupBy("table_name")
        .agg(count(lit(1)).as("n"),
          org.apache.spark.sql.functions.sum(col("block_number")
            .cast("decimal(18,6)")).as("vsum"))
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getDecimal(2).toPlainString)).toSet
      val got = view.state(spark).get
        .select(col("table_name"), col("n"),
          col("vsum").cast("decimal(18,6)"))
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getDecimal(2).toPlainString)).toSet
      assert(got == expect, s"view diverged at head=$head")

      // replay safety: same head again → zero rows ingested, version
      // unchanged; same version re-refreshed → no new view commit
      assert(IngestJob.runAtomic(spark, rpc, defs, None, store, creation, head) == 0L)
      assert(store.currentVersion(spark) == vStore)
      val viewStore = new ManifestStore(s"$tmp/view")
      val vView = viewStore.currentVersion(spark)
      assert(view.refresh(spark, store) == vStore)
      assert(viewStore.currentVersion(spark) == vView,
        "a same-version refresh must not commit")
    }
    // the final state covers the whole corpus
    val all = Demux.tagged(corpus, defs).filter(col("table_name").isNotNull).count()
    assert(view.state(spark).get.agg(org.apache.spark.sql.functions.sum("n"))
      .head.getLong(0) == all)
  }
}

class MultimodalSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  test("feature extraction: deterministic, fixed-dim, batch-shaped") {
    val feats = Multimodal.extractFeatures(Multimodal.syntheticMedia(spark, 200))
      .collect().sortBy(_.media_id)
    assert(feats.length == 200)
    assert(feats.forall(_.features.length == 16))
    // deterministic across runs
    val again = Multimodal.extractFeatures(Multimodal.syntheticMedia(spark, 200))
      .collect().sortBy(_.media_id)
    assert(feats.zip(again).forall { case (a, b) =>
      a.features.sameElements(b.features) && a.feature_norm == b.feature_norm })
  }

  test("frame sampling strides the payload") {
    val frames = Multimodal.sampleFrames(Multimodal.syntheticMedia(spark, 100))
      .collect()
    assert(frames.nonEmpty)
    // only every 4th frame index kept
    assert(frames.forall(_.getInt(1) % 4 == 0))
  }
}
