package chainbench

import java.math.{BigDecimal => JBigDecimal}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.abi.{AbiJson, AbiSchema}
import graft.codec.GraftFunctions
import graft.ingest.{Demux, HttpLogRpc, IngestJob, ManifestStore}

/** A correctness guard that failed: the operation counts as failed. */
final class GuardFailed(msg: String) extends RuntimeException(msg)

/** The benchmark's inputs (ABI entries and query text, read from the
  * benchmark's own `inputs/` directory) and the engine calls it times. */
final class Engine(val spark: SparkSession, inputs: java.nio.file.Path, val trace: Trace) {

  val defs: Seq[AbiSchema.TableDef] = Seq("vat", "jug", "psm").flatMap { c =>
    AbiSchema.tables(c, AbiJson.parseFile(inputs.resolve(s"abi/$c.abi").toString),
      schemaName = "makermcd")
  }
  val defByTable: Map[String, AbiSchema.TableDef] = defs.map(d => d.table -> d).toMap
  val assetsSql: String = new String(java.nio.file.Files.readAllBytes(
    inputs.resolve("sql/assets_per_type.sql")), java.nio.charset.StandardCharsets.UTF_8)
  val assetsTables = Seq("vat_call_frob", "vat_call_grab", "vat_call_fold", "jug_call_file")

  /** The corpus's carried dispatch keys must be the engine's. */
  def checkDispatchKeys(): Unit = Corpus.Tables.foreach { t =>
    val engineKey = Demux.topic0Key(defByTable(t))
    if (!engineKey.sameElements(Corpus.DispatchKeys(t)))
      throw new GuardFailed(s"dispatch key of $t: corpus ${Corpus.toHex(Corpus.DispatchKeys(t))}" +
        s" vs engine ${Corpus.toHex(engineKey)}")
  }

  // --------------------------------------------------------------- keys

  /** One string per decoded row: table, common columns and every
    * parameter (binary as hex, integers as plain digits). */
  def keyExpr(d: AbiSchema.TableDef): Column = {
    val cols = d.schema.fields.toSeq.map { f =>
      f.dataType match {
        case BinaryType => lower(hex(col(f.name)))
        case _ => col(f.name).cast(StringType)
      }
    }
    concat_ws("|", (lit(d.table) +: cols): _*)
  }

  def truthKey(l: GenLog): String = {
    def s(v: Any): String = v match {
      case b: Array[Byte] => Corpus.toHex(b).drop(2)
      case d: JBigDecimal => d.toPlainString
      case other => other.toString
    }
    (Seq(l.table.get, l.block.toString, s(l.blockHash), s(l.address), l.logIndex.toString,
      l.txIndex.toString, s(l.txHash)) ++ l.values.map(s)).mkString("|")
  }

  // ------------------------------------------------------------- ingest

  /** `IngestJob.runAtomic` from the store's watermark to `head`. */
  def ingest(store: ManifestStore, rpc: HttpLogRpc, creation: Long, head: Long): Long = {
    val before = if (trace.enabled) fileSizes(store) else Map.empty[String, Long]
    trace.spanWith("ingest.runAtomic", "ingest") {
      IngestJob.runAtomic(spark, rpc, defs, None, store, creation, head)
    } { landed =>
      val added = fileSizes(store) -- before.keys
      Map("landed" -> landed.toDouble, "files_added" -> added.size.toDouble,
        "bytes_added" -> added.values.sum.toDouble)
    }
  }

  /** Live data files of the store's snapshot, with their sizes. */
  def fileSizes(store: ManifestStore): Map[String, Long] =
    store.currentFiles(spark).map { p =>
      p -> java.nio.file.Files.size(java.nio.file.Paths.get(new java.net.URI(p).getPath))
    }.toMap

  /** Decoded keys of every table over [from, to], read back through the
    * manifest's range read and `Demux.table`, one job. */
  def readBack(sess: SparkSession, store: ManifestStore, from: Long, to: Long): Array[String] =
    trace.span("readback", "read") {
      store.readRange(sess, from, to) match {
        case None => Array.empty[String]
        case Some(raw) =>
          val parts = defs.map { d =>
            Demux.table(raw.filter(col("table_name") === d.qualified).drop("table_name"), d)
              .select(keyExpr(d).as("k"))
          }
          parts.reduce(_.unionAll(_)).collect().map(_.getString(0))
      }
    }

  // -------------------------------------------------------------- reads

  def session(): SparkSession = {
    val s = spark.newSession()
    GraftFunctions.register(s)
    s
  }

  /** assets_per_type over the store's current snapshot, decoded on read. */
  def assets(sess: SparkSession, store: ManifestStore): Seq[String] = {
    val df = trace.span("read.resolve", "read") {
      assetsTables.foreach(t => Demux.readTable(sess, store, defByTable(t)).createOrReplaceTempView(t))
      sess.sql(assetsSql)
    }
    val rows = runQuery(df)
    if (trace.enabled) lastAssetsScan = Layers.scanFigures(df.queryExecution.executedPlan)
    rows
  }

  /** Scan figures of the last traced assets answer and lookup. */
  @volatile var lastAssetsScan: Map[String, Double] = Map.empty
  @volatile var lastLookupScan: Map[String, Double] = Map.empty

  /** Plan, then execute and canonicalise the rows. */
  def runQuery(df: DataFrame): Seq[String] = {
    trace.span("query.plan", "query") { df.queryExecution.executedPlan }
    trace.span("query.exec", "query") { df.collect() }.toSeq.map(canon)
  }

  def canon(r: Row): String = r.toSeq.map {
    case d: java.lang.Double => java.lang.Double.toString(d)
    case null => "null"
    case b: Array[Byte] => Corpus.toHex(b)
    case other => other.toString
  }.mkString("|")

  /** Point lookup of one decoded row by transaction hash. */
  def lookup(sess: SparkSession, store: ManifestStore, table: String, txHash: Array[Byte]): Seq[String] = {
    val d = defByTable(table)
    val df = trace.span("read.resolve", "read") {
      Demux.readTable(sess, store, d).filter(col("transaction_hash") === lit(txHash))
        .select(keyExpr(d))
    }
    val rows = trace.span("query.exec", "query") { df.collect() }.toSeq.map(_.getString(0))
    if (trace.enabled) lastLookupScan = Layers.scanFigures(df.queryExecution.executedPlan)
    rows
  }

  /** One table's rows in a block window: (count, sum of block numbers). */
  def window(sess: SparkSession, store: ManifestStore, table: String, lo: Long, hi: Long): (Long, Long) = {
    val df = trace.span("read.resolve", "read") {
      Demux.readTable(sess, store, defByTable(table))
        .filter(col("block_number").between(lo, hi))
        .agg(count(lit(1)), coalesce(sum(col("block_number")), lit(0L)))
    }
    val r = trace.span("query.exec", "query") { df.collect() }.head
    (r.getLong(0), r.getLong(1))
  }

  /** Global row count of the store (served from the manifest). */
  def countAll(sess: SparkSession, store: ManifestStore): Long = {
    val df = trace.span("read.resolve", "read") { store.read(sess) }
    df.map(d => trace.span("query.exec", "query") { d.count() }).getOrElse(0L)
  }

  // -------------------------------------------------------------- truth

  private def truthRow(l: GenLog): Row =
    Row.fromSeq(Seq[Any](l.block, l.blockHash, l.address, l.logIndex, l.txIndex, l.txHash) ++ l.values)

  /** assets_per_type over truth views built from the generated values of
    * every known log up to `head`. */
  def truthAssets(corpus: Corpus, head: Long): Seq[String] = {
    val s = session()
    val known = corpus.known(corpus.creationBlock, head)
    assetsTables.foreach { t =>
      val rows = known.filter(_.table.contains(t)).map(truthRow).toSeq
      s.createDataFrame(java.util.Arrays.asList(rows: _*), defByTable(t).schema)
        .createOrReplaceTempView(t)
    }
    s.sql(assetsSql).collect().toSeq.map(canon)
  }
}

object Guards {
  def equalAnswers(what: String, got: Seq[String], want: Seq[String]): Unit =
    if (got != want) {
      val missing = want.diff(got).take(2); val extra = got.diff(want).take(2)
      throw new GuardFailed(s"$what: ${got.size} rows vs ${want.size} expected; " +
        s"missing ${missing.mkString(", ")}; unexpected ${extra.mkString(", ")}")
    }

  /** Conservation: rows landed and rows decoded per table equal the known
    * logs the chain holds in the window. */
  def conservation(engine: Engine, corpus: Corpus, from: Long, to: Long,
                   landed: Long, decodedKeys: Array[String]): Unit = {
    val known = corpus.known(from, to)
    if (landed != known.length)
      throw new GuardFailed(s"conservation [$from, $to]: landed $landed rows, chain holds ${known.length} known logs")
    val want = known.map(engine.truthKey).sorted.toSeq
    val got = decodedKeys.sorted.toSeq
    if (got != want) {
      val byTable = (ks: Seq[String]) => ks.groupBy(_.takeWhile(_ != '|')).map { case (t, v) => t -> v.size }
      throw new GuardFailed(s"conservation [$from, $to]: decoded per table ${byTable(got)} vs generated ${byTable(want)}" +
        s"; first difference ${want.diff(got).headOption.orElse(got.diff(want).headOption).getOrElse("")}")
    }
  }
}
