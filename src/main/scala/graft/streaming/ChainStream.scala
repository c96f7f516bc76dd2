package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.abi.AbiSchema
import graft.ingest.Demux

/** Chain-following as Structured Streaming (SURVEY §7.4.6).
  *
  * The reference is strictly batch polling (`while fromBlock < lastBlock`,
  * eth-contract.py:77); the streaming extension reuses the exact batch
  * decode path — Demux.table is narrow (filter + decode expressions), so
  * it is legal on a streaming DataFrame unchanged. State only appears in
  * the windowed aggregations, bounded by a watermark.
  */
object ChainStream {

  /** Raw-log stream from a parquet landing directory (the replay shape;
    * a live JSON-RPC source would implement the same schema). */
  def rawLogStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(Demux.rawLogSchema).parquet(path)

  /** Chain-following via the DSv2 log source's MicroBatchStream: offsets
    * are block numbers, each trigger covers ≤ blocksPerBatch new blocks,
    * partitioned by the adaptive density planner — the same source serves
    * batch and streaming. */
  def rawLogStreamV2(spark: SparkSession, path: String, from: Long, to: Long,
                     blocksPerBatch: Long = 1000000L): DataFrame =
    spark.readStream.format("graft.sources.LogSourceV2")
      .option("path", path)
      .option("from", from).option("to", to)
      .option("blocksPerBatch", blocksPerBatch)
      .load()

  /** Decoded per-table stream — same code path as batch. */
  def decodedTable(rawStream: DataFrame, d: AbiSchema.TableDef): DataFrame =
    Demux.table(rawStream, d)

  /** Streaming ingest: demux-tag each micro-batch and commit it to a
    * [[graft.ingest.ManifestStore]] — the streaming form of IngestJob's
    * one-pass write, closing the loop chain → store while queries read
    * the same layout. Exactly-once: each micro-batch commits atomically
    * as a RANGE OVERWRITE of its own block window — the streaming
    * analogue of the reference's per-chunk transaction
    * (eth-contract.py:85,145-146) composed with its
    * idempotent re-ingest (S15). Range dedup, not batch-id dedup, is the
    * idempotence mechanism: on restart Spark may re-deliver an
    * already-ingested block range under a NEW batch id (observed — the
    * offset WAL can run ahead of the commit log), so the batch id is not
    * a stable key; the block range of the data is. Re-delivery of any
    * shape (same, split, or merged batches) replaces its previous copy
    * byte-for-byte, and per-file min/max stats in the manifest turn the
    * common forward-moving case into a pure append with no rewrite.
    * Readers resolve complete snapshots only; a crash mid-batch leaves an
    * unpublished data directory that vacuum reclaims. */
  def ingestStreamAtomic(raw: DataFrame, defs: Seq[AbiSchema.TableDef],
                         store: graft.ingest.ManifestStore, checkpoint: String)
  : org.apache.spark.sql.streaming.StreamingQuery =
    raw.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val tagged = Demux.taggedKnown(batch, defs).persist()
        try {
          val mm = tagged.agg(min("block_number"), max("block_number")).head()
          if (!mm.isNullAt(0)) // empty batch → nothing to commit
            store.overwriteRange(batch.sparkSession, tagged,
              mm.getLong(0), mm.getLong(1), "block_number", Seq("table_name"))
        } finally tagged.unpersist()
      }
      .start()

  /** Event-time clock shared by the streaming operators: block_number →
    * timestamp via the fixture's genesis epoch + 13 s/block (matches
    * FakeBlockRpc). */
  private def blockTimeOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    timestamp_seconds(lit(1438269973L) + c * 13)
  private def blockTime: org.apache.spark.sql.Column =
    blockTimeOf(col("block_number"))

  /** Watermarked stream-stream interval join: each left event pairs with
    * right events of the same key whose event time falls in
    * [left - window, left] — e.g. "every fold with the frobs of its ilk
    * in the preceding window", the streaming form of the banded range
    * join. Both sides carry watermarks and the join condition bounds the
    * time difference, so Spark can expire join state instead of buffering
    * both streams forever (the state-cleanup contract of streaming
    * joins). Right-side columns come back suffixed `_r`; both inputs must
    * carry `block_number` (the chain clock). */
  def intervalJoinStreams(left: DataFrame, right: DataFrame, key: String,
                          window: String = "1 hour",
                          watermarkDelay: String = "2 hours"): DataFrame = {
    val l = left
      .withColumn("l_time", blockTime)
      .withWatermark("l_time", watermarkDelay)
    val r = right.columns.foldLeft(right)((d, c) => d.withColumnRenamed(c, c + "_r"))
      .withColumn("r_time", blockTimeOf(col("block_number_r")))
      .withWatermark("r_time", watermarkDelay)
    l.join(r,
      col(key) === col(key + "_r") &&
        col("r_time") >= col("l_time") - expr(s"INTERVAL $window") &&
        col("r_time") <= col("l_time"))
  }

  /** Streaming tx-hash dedup (the S13 operator on a live chain): state
    * is bounded by the watermark — duplicates arriving within
    * `watermarkDelay` of event time are dropped, older state is evicted. */
  def dedupStream(raw: DataFrame, watermarkDelay: String = "2 hours"): DataFrame =
    raw
      .withColumn("block_time", blockTime)
      .withWatermark("block_time", watermarkDelay)
      .dropDuplicatesWithinWatermark("transaction_hash")

  /** Per-window event volume with a watermark: block_number is mapped to
    * event time via a fixed 13 s/block clock (the fixture's FakeBlockRpc
    * clock), watermarked to bound state. */
  def windowedVolume(decoded: DataFrame, valueCol: String,
                     windowDuration: String = "1 hour",
                     watermarkDelay: String = "2 hours"): DataFrame =
    decoded
      .withColumn("block_time", blockTime)
      .withWatermark("block_time", watermarkDelay)
      .groupBy(window(col("block_time"), windowDuration))
      .agg(count(lit(1)).as("n_events"), sum(col(valueCol)).as("volume"))
      .select(col("window.start").as("window_start"),
        col("n_events"), col("volume"))
}
