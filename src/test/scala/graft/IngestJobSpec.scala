package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.fixtures.MakerFixtures
import graft.ingest.{Demux, IngestJob, LogSource}

/** EP1 end-to-end: resume → adaptive plan → parallel fetch → atomic demux commit. */
class IngestJobSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("atomic ingest: catch-up, idempotent re-run, resume (manifest commits)") {
    MakerFixtures.ensure(spark)
    val rpc = LogSource.replayFromParquet(spark, MakerFixtures.rawLogsPath)
    val root = java.nio.file.Files.createTempDirectory("graft_aingest").toString + "/store"
    val store = new graft.ingest.ManifestStore(root)
    val defs = MakerFixtures.fixtureDefs
    // the creation block cuts into the corpus: logs below it must never
    // be fetched, so an empty store provably starts AT creationBlock
    val creation = 9000000L
    val corpus = spark.read.parquet(MakerFixtures.rawLogsPath)
      .filter(col("block_number") >= creation)
    assert(Demux.taggedKnown(spark.read.parquet(MakerFixtures.rawLogsPath)
      .filter(col("block_number") < creation), defs).count() > 0)
    val head1 = 10500000L

    assert(store.read(spark).isEmpty && store.statsMax(spark).isEmpty)
    val n1 = IngestJob.runAtomic(spark, rpc, defs, None, store, creation, head1)
    val expected1 = Demux.taggedKnown(
      corpus.filter(col("block_number") <= head1), defs).count()
    assert(n1 == expected1 && n1 > 0)

    // same head: resume watermark says nothing new
    assert(IngestJob.runAtomic(spark, rpc, defs, None, store, creation, head1) == 0L)
    assert(store.read(spark).get.count() == n1)

    // after a commit the watermark is the stored max (over every table),
    // and a chain advance lands exactly the rows past it
    val watermark = store.read(spark).get.agg(max("block_number")).head().getLong(0)
    assert(store.statsMax(spark).contains(watermark))
    val n3 = IngestJob.runAtomic(spark, rpc, defs, None, store, creation, 20000000L)
    assert(n3 == Demux.taggedKnown(
      corpus.filter(col("block_number") > watermark), defs).count())
    val taggedAll = Demux.taggedKnown(corpus, defs).count()
    assert(n1 + n3 == taggedAll)
    assert(store.read(spark).get.count() == taggedAll)
    // no duplicate (block, log) keys after the two commits
    assert(store.read(spark).get
      .groupBy("block_number", "log_index", "transaction_hash").count()
      .filter(col("count") > 1).count() == 0)
    // decoded read straight off the manifest store matches direct decode
    assert(Demux.readTable(spark, store,
      MakerFixtures.tableDef("vat_call_frob")).count() ==
      Demux.table(corpus, MakerFixtures.tableDef("vat_call_frob")).count())

    // runAtomic bloom-indexes transaction_hash by default: a point
    // probe on one tx opens fewer files than the store holds, across
    // BOTH commits (each delta wrote its own sidecar) — the chain
    // store's "find my tx" shape, served without a full scan
    val total = store.currentFiles(spark).size
    assert(total >= 2, s"need multiple files to prove pruning, got $total")
    val someTx = corpus.filter(col("block_number") <= head1)
      .select("transaction_hash").head.getAs[Array[Byte]](0)
    val probe = store.read(spark).get
      .filter(col("transaction_hash") === lit(someTx))
    assert(probe.count() >= 1L)
    assert(Plans.filesRead(probe) < total.toLong,
      s"tx point probe read ${Plans.filesRead(probe)} of $total files — " +
        "the ingest path did not bloom-index transaction_hash")
  }
}
