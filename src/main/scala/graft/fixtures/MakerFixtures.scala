package graft.fixtures

import java.math.{BigDecimal => JBigDecimal, BigInteger}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.abi.{AbiJson, AbiSchema}
import graft.codec.AbiDecoder
import graft.ingest.Demux

/** Deterministic reference-shaped fixtures (FIXTURES.md §B/§C, seed 42).
  *
  * Generates, once, under /root/repo/fixtures:
  *   truth/<table>.parquet — ground-truth decoded tables (written directly
  *     from the generated values; never touches the decoder), and
  *   raw_logs.parquet — the same rows ABI-encoded into raw logs (events:
  *     topics+data; calls: Maker LogNote-style topic0=padded selector,
  *     calldata in data, ~20% proxy-wrapped to exercise the offset scan).
  *
  * The correctness gate then decodes raw_logs with the engine and checks
  * query results against DuckDB reading the truth tables — covering
  * S7-S10 end-to-end (SURVEY §2.1).
  */
object MakerFixtures {

  val dir = "/root/repo/fixtures"
  val rawLogsPath = s"$dir/raw_logs.parquet"
  val proxyRawLogsPath = s"$dir/proxy_raw_logs.parquet"
  val demuxStorePath = s"$dir/demux_store"
  def truthPath(table: String) = s"$dir/truth/$table.parquet"

  /** DSSProxyActions mainnet address — the contains-target of the
    * reference's receipt filter (eth-contract.py:55). */
  val ProxyActionsAddr: Array[Byte] =
    "82ecd135dce65fbc6dbdd0e4237e0af93ffd5038"
      .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  // ABI entries come from the reference's own ABI files.
  private lazy val vatAbi = AbiJson.parseFile("/root/reference/conf/makermcd/vat.abi")
  private lazy val jugAbi = AbiJson.parseFile("/root/reference/conf/makermcd/jug.abi")
  private lazy val psmAbi = AbiJson.parseFile("/root/reference/conf/makermcd/psm.abi")

  lazy val vatTables: Seq[AbiSchema.TableDef] = AbiSchema.tables("vat", vatAbi)
  lazy val jugTables: Seq[AbiSchema.TableDef] = AbiSchema.tables("jug", jugAbi)
  lazy val psmTables: Seq[AbiSchema.TableDef] = AbiSchema.tables("psm", psmAbi)

  def tableDef(name: String): AbiSchema.TableDef =
    (vatTables ++ jugTables ++ psmTables).find(_.table == name)
      .getOrElse(throw new NoSuchElementException(name))

  /** The six tables the fixture corpus populates. */
  lazy val fixtureDefs: Seq[AbiSchema.TableDef] = Seq(
    tableDef("vat_call_frob"), tableDef("vat_call_grab"), tableDef("vat_call_fold"),
    tableDef("jug_call_file"), tableDef("psm_evt_buygem"), tableDef("psm_evt_sellgem"))

  private val ilks = Seq("ETH-A", "ETH-B", "WBTC-A", "PSM-USDC-A", "USDC-A",
    "RWA001-A", "UNIV2DAIETH-A")

  def ensure(spark: SparkSession): Unit = synchronized {
    val marker = new java.io.File(s"$dir/_GENERATED_v3")
    if (marker.exists()) return
    generate(spark)
    generateBlocks(spark)
    marker.getParentFile.mkdirs()
    java.nio.file.Files.writeString(marker.toPath, "ok")
  }

  /** One-pass demuxed store of the fixture raw logs (SURVEY §7.4): written
    * once, partitioned by table_name, so per-table reads partition-prune.
    * The flagship queries read through this store — the layout a 412-table
    * production demux would use. */
  def ensureDemuxed(spark: SparkSession): Unit = synchronized {
    ensure(spark)
    val marker = new java.io.File(s"$dir/_DEMUXED_v3")
    if (marker.exists()) return
    Demux.writeDemuxed(spark.read.parquet(rawLogsPath), fixtureDefs,
      demuxStorePath)
    java.nio.file.Files.writeString(marker.toPath, "ok")
  }

  val BlockRangeStart = 46147L
  val BlockRangeEnd = 51146L

  /** Ground-truth blocks table (EP2) — same deterministic generator the
    * BlockSource query consumes, materialized for the DuckDB oracle. */
  private def generateBlocks(spark: SparkSession): Unit =
    graft.ingest.BlockSource
      .range(spark, new graft.ingest.FakeBlockRpc, BlockRangeStart, BlockRangeEnd)
      .coalesce(1).write.mode("overwrite")
      .parquet(truthPath("ethereum_transactions"))

  // ------------------------------------------------------------------ gen

  private def bytes32(s: String): Array[Byte] =
    java.util.Arrays.copyOf(s.getBytes("US-ASCII"), 32)

  private final class Gen(seed: Long) {
    val rnd = new scala.util.Random(seed)
    def bytes(n: Int): Array[Byte] = { val b = new Array[Byte](n); rnd.nextBytes(b); b }
    def addr(): Array[Byte] = bytes(20)
    def ilk(): Array[Byte] = bytes32(ilks(rnd.nextInt(ilks.length)))
    /** signed wad/ray-scale decimal, `zeroPct`% exact zeros */
    def fix(scaleDigits: Int, zeroPct: Int): JBigDecimal =
      if (rnd.nextInt(100) < zeroPct) JBigDecimal.ZERO
      else {
        val mag = new BigInteger(s"1${"0" * scaleDigits}") // 10^scale
        val units = BigInteger.valueOf(rnd.between(1L, 99999L))
        val v = mag.multiply(units).divide(BigInteger.valueOf(10)) // 0.1..1e4 units
        new JBigDecimal(if (rnd.nextBoolean()) v else v.negate())
      }
  }

  private def generate(spark: SparkSession): Unit = {
    val gen = new Gen(42)
    import gen._

    // per-table value rows (ABI param values, in declaration order)
    def frobRow(): Seq[Any] = Seq(ilk(), addr(), addr(), addr(), fix(18, 10), fix(18, 30))
    def grabRow(): Seq[Any] = Seq(ilk(), addr(), addr(), addr(), fix(18, 10), fix(18, 30))
    def foldRow(): Seq[Any] = Seq(ilk(), addr(), fix(24, 20))
    def fileRow(): Seq[Any] = Seq(ilk(), bytes32("duty"),
      // duty: ray-scale per-second rate 1.0 .. ~1.0000000085 → APR 0..~30%
      new JBigDecimal(new BigInteger("1000000000000000000000000000")
        .add(BigInteger.valueOf(rnd.between(0L, 8_500_000_000L)))))
    def gemRow(): Seq[Any] = Seq(addr(), new JBigDecimal(rnd.between(1_000_000L, 10_000_000_000_000L)),
      new JBigDecimal(rnd.between(100L, 10_000_000L)))

    val plan: Seq[(String, Int, () => Seq[Any])] = Seq(
      ("vat_call_frob", 800, frobRow _),
      ("vat_call_grab", 150, grabRow _),
      ("vat_call_fold", 400, foldRow _),
      ("jug_call_file", 80, fileRow _),
      ("psm_evt_buygem", 50, gemRow _),
      ("psm_evt_sellgem", 50, gemRow _))

    val contractAddr: Map[String, Array[Byte]] =
      Seq("vat", "jug", "psm").map(c => c -> addr()).toMap

    val rawRows = ArrayBuffer.empty[Row]
    var blockNo = 8_928_160L
    var txIndex = 0

    plan.foreach { case (table, n, mk) =>
      val d = tableDef(table)
      val truthRows = ArrayBuffer.empty[Row]
      (0 until n).foreach { i =>
        blockNo += 1 + rnd.nextInt(4000) // strictly increasing, gappy
        txIndex += 1
        val values = mk()
        val common = Seq[Any](blockNo, bytes(32), contractAddr(table.split('_').head),
          i % 500, txIndex, bytes(32))
        truthRows += Row.fromSeq(common ++ values)

        // encode into a raw log
        val (topics, data) =
          if (d.isEvent) AbiDecoder.encodeEvent(d.entry, values)
          else {
            val calldata = AbiDecoder.encodeCall(d.entry, values)
            val wrapped =
              if (rnd.nextInt(100) < 20) // proxy-style wrap: junk selector + head word
                Array[Byte](0x0e, 0x1f, 0x2a, 0x3b) ++ new Array[Byte](32) ++ calldata
              else calldata
            (Seq(java.util.Arrays.copyOf(d.dispatchKey.toArray, 32)), wrapped)
          }
        rawRows += Row.fromSeq(Seq[Any](
          common(2), topics, data, common(0), common(1), common(3), common(4), common(5)))
      }
      spark.createDataFrame(truthRows.asJava, d.schema)
        .coalesce(1).write.mode("overwrite").parquet(truthPath(table))
    }

    spark.createDataFrame(rawRows.asJava, Demux.rawLogSchema)
      .coalesce(1).write.mode("overwrite").parquet(rawLogsPath)

    // contract address registry (lets oracles resolve addresses by name)
    val contractsSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("name",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("address",
        org.apache.spark.sql.types.BinaryType)))
    spark.createDataFrame(
      contractAddr.toSeq.sortBy(_._1).map { case (n, a) => Row(n, a) }.asJava,
      contractsSchema)
      .coalesce(1).write.mode("overwrite").parquet(truthPath("contracts"))

    // S3 fixture: multi-log transactions for the proxy_actions receipt
    // filter. Wrapped-ness follows FakeReceiptRpc.isWrapped(txHash), so
    // the generator can write ground truth without running the operator.
    val proxyContract = addr()
    val proxyRows = ArrayBuffer.empty[Row]
    val proxyTruth = ArrayBuffer.empty[Row]
    (0 until 200).foreach { t =>
      blockNo += 1 + rnd.nextInt(1000)
      txIndex += 1
      val txh = bytes(32)
      val bh = bytes(32)
      val nLogs = 1 + rnd.nextInt(3)
      val datas = (0 until nLogs).map(_ => bytes(64 + rnd.nextInt(128)))
      (0 until nLogs).foreach { li =>
        proxyRows += Row.fromSeq(Seq[Any](
          proxyContract, Seq(bytes(32)), datas(li), blockNo, bh, li, txIndex, txh))
      }
      if (graft.ingest.FakeReceiptRpc.isWrapped(txh))
        proxyTruth += Row.fromSeq(Seq[Any](blockNo, 0, txIndex, txh, datas.head))
    }
    spark.createDataFrame(proxyRows.asJava, Demux.rawLogSchema)
      .coalesce(1).write.mode("overwrite").parquet(proxyRawLogsPath)
    val proxyTruthSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("block_number",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("log_index",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("transaction_index",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("transaction_hash",
        org.apache.spark.sql.types.BinaryType),
      org.apache.spark.sql.types.StructField("data",
        org.apache.spark.sql.types.BinaryType)))
    spark.createDataFrame(proxyTruth.asJava, proxyTruthSchema)
      .coalesce(1).write.mode("overwrite").parquet(truthPath("proxy_actions"))
  }

  // ---------------------------------------------------------- rad extreme

  val radxRawLogsPath = s"$dir/radx_raw_logs.parquet"

  /** jug_call_file with the RAD-SAFE mapping (uint256 → 32-byte binary)
    * — the def the `maker_rad_extreme` gate decodes with. */
  lazy val radxDef: AbiSchema.TableDef =
    AbiSchema.tables("jug", jugAbi, wideIntsAsBinary = true)
      .find(_.table == "jug_call_file")
      .getOrElse(throw new NoSuchElementException("jug_call_file (wide)"))

  /** Rad-extreme corpus (SURVEY §1.2's load-bearing design decision,
    * gated end-to-end): jug.file calls whose uint256 `data` values are
    * planted at 10^44..10^46 — 45-47 DIGITS, provably past Decimal(38)
    * (and DuckDB's 128-bit HUGEINT) — so the only lossless route is the
    * wideIntsAsBinary decode. Truth carries the exact digit string; the
    * gate hash-matches digits AND the rad()/ray() rescaled doubles. */
  def ensureRadExtreme(spark: SparkSession): Unit = synchronized {
    val marker = new java.io.File(s"$dir/_RADX_v1")
    if (marker.exists()) return
    val gen = new Gen(4242)
    import gen._
    val d = radxDef
    val jugAddr = addr()
    val rawRows = ArrayBuffer.empty[Row]
    val truthRows = ArrayBuffer.empty[Row]
    var blockNo = 12_000_000L
    (0 until 80).foreach { i =>
      blockNo += 1 + rnd.nextInt(997)
      val ilkB = ilk()
      val whatB = bytes32("duty")
      // units(1..99999) × 10^41 → 42..46 digits; floor the first ten at
      // exactly 10^44 so the fixture PROVABLY exceeds 38 digits even if
      // the random draw runs low
      val units = if (i < 10) 1000L + i else rnd.between(1L, 99999L)
      val v = BigInteger.valueOf(units)
        .multiply(new BigInteger("1" + "0" * 41))
      val values = Seq[Any](ilkB, whatB, new JBigDecimal(v))
      val calldata = AbiDecoder.encodeCall(d.entry, values)
      val wrapped =
        if (rnd.nextInt(100) < 20) // proxy-style wrap, same as §B
          Array[Byte](0x0e, 0x1f, 0x2a, 0x3b) ++ new Array[Byte](32) ++ calldata
        else calldata
      rawRows += Row.fromSeq(Seq[Any](
        jugAddr, Seq(java.util.Arrays.copyOf(d.dispatchKey.toArray, 32)),
        wrapped, blockNo, bytes(32), i % 100, i, bytes(32)))
      truthRows += Row(blockNo,
        new String(ilkB.filter(_ != 0), "US-ASCII"),
        new String(whatB.filter(_ != 0), "US-ASCII"),
        v.toString)
    }
    spark.createDataFrame(rawRows.asJava, Demux.rawLogSchema)
      .coalesce(1).write.mode("overwrite").parquet(radxRawLogsPath)
    val truthSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("block_number",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ilk_str",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("what_str",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("data_str",
        org.apache.spark.sql.types.StringType)))
    spark.createDataFrame(truthRows.asJava, truthSchema)
      .coalesce(1).write.mode("overwrite").parquet(truthPath("rad_extreme"))
    java.nio.file.Files.writeString(marker.toPath, "ok")
  }

  /** Raw logs DataFrame (generating fixtures on first use). */
  def rawLogs(spark: SparkSession): DataFrame = {
    ensure(spark)
    // marker-guarded immutable fixture: memoize the analyzed frame (the
    // demux-counts gate re-paid the listing+footer read per invocation)
    graft.ops.FrameMemo.parquet(spark, rawLogsPath)
  }
}
