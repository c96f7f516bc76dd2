package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.abi.{AbiJson, AbiSchema}
import graft.codec.GraftFunctions

/** Topic dispatch (S8): route raw logs to per-table decoded DataFrames.
  *
  * Raw log schema (FIXTURES.md §C):
  *   address binary, topics array<binary>, data binary, block_number long,
  *   block_hash binary, log_index int, transaction_index int,
  *   transaction_hash binary
  *
  * Dispatch keys follow the reference (functions.py:86-115): events match
  * on topics[0] == keccak(signature); function calls are Maker LogNote
  * style — topics[0] == 4-byte selector right-padded with 28 zero bytes,
  * calldata embedded in `data`. Unknown topics are dropped explicitly (the
  * reference's stale-`j` fallthrough at eth-contract.py:96-97 is a bug we
  * do not reproduce).
  *
  * Scale design (SURVEY §7.4): `tagged` adds a table_name column in ONE
  * pass over the raw logs (no shuffle — a narrow CASE chain on topics[0]);
  * chain ingest commits it to a [[ManifestStore]] partitioned by
  * table_name ([[IngestJob]]) so per-table reads are partition-pruned.
  * 412 output tables cost one scan, not 412.
  */
object Demux {

  val rawLogSchema: StructType = StructType(Seq(
    StructField("address", BinaryType),
    StructField("topics", ArrayType(BinaryType)),
    StructField("data", BinaryType),
    StructField("block_number", LongType),
    StructField("block_hash", BinaryType),
    StructField("log_index", IntegerType),
    StructField("transaction_index", IntegerType),
    StructField("transaction_hash", BinaryType)))

  private val commonCols = Seq("block_number", "block_hash", "address",
    "log_index", "transaction_index", "transaction_hash")

  /** topics[0] value that selects logs for `d` (padded selector for calls). */
  def topic0Key(d: AbiSchema.TableDef): Array[Byte] =
    if (d.isEvent) d.dispatchKey.toArray
    else java.util.Arrays.copyOf(d.dispatchKey.toArray, 32)

  /** One decoded table from raw logs. */
  def table(raw: DataFrame, d: AbiSchema.TableDef): DataFrame = {
    val entryJson = AbiJson.render(d.entry)
    val matched = raw.filter(element_at(col("topics"), 1) === lit(topic0Key(d)))
    val decoded =
      if (d.isEvent)
        GraftFunctions.decodeEvent(entryJson, col("topics"), col("data"),
          d.wideIntsAsBinary)
      else
        GraftFunctions.decodeCalldata(entryJson, col("data"),
          d.wideIntsAsBinary)
    matched
      .withColumn("_params", decoded)
      .filter(col("_params").isNotNull) // undecodable wrapped calldata → drop
      .select(commonCols.map(col) :+ col("_params.*"): _*)
  }

  /** Tag each raw log with its destination table (null → unknown topic).
    * Dispatch is a broadcast join against the (topic0 → table) map rather
    * than a 412-branch CASE chain: constant plan depth, codegen-friendly,
    * and the dispatch table can grow without replanning cost.
    *
    * The tag is the def's QUALIFIED name (`<schema>.<table>` when the
    * def carries a namespace): aave and aave_v2 both define
    * `lending_pool_evt_deposit` — 12 of their 18 shared names with
    * DIFFERENT ABI shapes — and a bare-name tag would merge them into
    * one table (388 written for 412 defs). A key shared by defs in
    * SEVERAL schemas still fans the log out to each (same signature ⇒
    * the log decodes in every one), now as distinct dispatch rows. */
  def tagged(raw: DataFrame, defs: Seq[AbiSchema.TableDef]): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    val dispatch =
      defs.map(d => (topic0Key(d), d.qualified)).toDF("_topic0", "table_name")
    raw
      .join(broadcast(dispatch),
        element_at(col("topics"), 1) === col("_topic0"), "left")
      .drop("_topic0")
  }

  /** Tagged rows with unknown topics dropped — the demux-store row set. */
  def taggedKnown(raw: DataFrame, defs: Seq[AbiSchema.TableDef]): DataFrame =
    tagged(raw, defs).filter(col("table_name").isNotNull)

  /** One-pass demux write of a plain-parquet store: raw+tag partitioned
    * by table_name, replacing whatever `path` held. Serves read-only
    * stores written once (the fixture demux store); chain ingest commits
    * through [[IngestJob]] instead. */
  def writeDemuxed(raw: DataFrame, defs: Seq[AbiSchema.TableDef], path: String): Unit =
    taggedKnown(raw, defs)
      .write.mode("overwrite")
      .partitionBy("table_name")
      .parquet(path)

  /** One-scan dispatch-decode predicate over demuxed (tagged) rows: TRUE
    * iff the row decodes under the entry its `table_name` tag routes to —
    * row-for-row what `defs.map(d => table(partition(d), d))` unioned
    * keeps, without the N-branch plan (N scans, N codegen stages). The
    * per-table topics[0] filter is implied: `tagged` only assigns a tag
    * on topic0 equality, so every stored row already satisfies it.
    *
    * VALID ONLY over tagged/demuxed rows, where `topics` is non-null by
    * construction (r15 ADVICE #2): the underlying expression uses
    * default ternary null semantics, so a null `topics` yields null
    * (row dropped) even for a CALLDATA tag — where the per-table union
    * form (`DecodeCalldata`) never reads topics. Rows from any other
    * source must coalesce `topics` to an empty array first. */
  def decodesOk(defs: Seq[AbiSchema.TableDef]): org.apache.spark.sql.Column =
    GraftFunctions.decodeDispatchOk(
      defs.map(d => (d.qualified, AbiJson.render(d.entry), d.isEvent,
        d.wideIntsAsBinary)),
      col("table_name"), col("topics"), col("data"))

  /** Decoded table from a demuxed store (partition-pruned read). */
  def readTable(spark: SparkSession, path: String, d: AbiSchema.TableDef): DataFrame =
    table(spark.read.parquet(path).filter(col("table_name") === d.qualified)
      .drop("table_name"), d)

  /** Decoded table from a manifest-committed store's current snapshot —
    * the same partition-pruned decode over the snapshot-isolated read
    * path. Throws on an empty store (no snapshot to decode). */
  def readTable(spark: SparkSession, store: ManifestStore,
                d: AbiSchema.TableDef): DataFrame =
    store.read(spark) match {
      case Some(snap) =>
        table(snap.filter(col("table_name") === d.qualified).drop("table_name"), d)
      case None => throw new IllegalStateException(
        s"ManifestStore(${store.root}) is empty — nothing to decode")
    }
}
