package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.codec.GraftFunctions
import graft.fixtures.MakerFixtures
import graft.ingest.Demux

/** The reference's own query surface, end-to-end through the engine:
  * raw ABI-encoded logs → keccak dispatch → decode expressions → decoded
  * tables → assets_per_type (queries/makerdao/assets_per_type.sql:1-79,
  * ported per SURVEY §7.3's documented dialect rewrites).
  *
  * Oracles read the GROUND-TRUTH tables (written by the generator, never
  * touched by the decoder), so a hash-match proves the decode pipeline
  * (S7-S10) and the query semantics (Q1-Q19) simultaneously.
  */
object MakerDw {

  /** Decoded tables read through the one-pass demuxed store (SURVEY §7.4):
    * raw logs are tagged+partitioned by table_name once, and each table
    * read partition-prunes to its slice — at 412 tables that's one scan,
    * not N re-decodes of the raw stream.
    *
    * Memoized per (session, table): `Demux.readTable` pays a fresh
    * partitioned-directory listing + footer schema inference on every
    * call, and the assets gates each read four tables per invocation —
    * pure fixed cost, since the demux fixture is marker-guarded immutable
    * within a JVM (`_DEMUXED_v3`). Only the LAZY frame is memoized;
    * every action still scans the store. */
  private val decodedCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), DataFrame]()
  private def decoded(s: SparkSession, table: String): DataFrame = {
    MakerFixtures.ensureDemuxed(s)
    decodedCache.computeIfAbsent((s, table), _ =>
      Demux.readTable(s, MakerFixtures.demuxStorePath,
        MakerFixtures.tableDef(table)))
  }

  private def truthGlob(table: String): String =
    s"${MakerFixtures.truthPath(table)}/*.parquet"

  /** Hex-encode every binary column: the driver's pandas comparator can't
    * sort bytearray values, so gated outputs must carry only scalar types. */
  private def hexBinaries(df: DataFrame): DataFrame =
    df.schema.fields.foldLeft(df) {
      case (d, f) if f.dataType == org.apache.spark.sql.types.BinaryType =>
        d.withColumn(f.name, lower(hex(col(f.name))))
      case (d, _) => d
    }

  /** Decoded function-call table — vat.frob (static tuple + wrapped scan).
    * uint256/int256 columns go out as exact digit STRINGs: pandas/duckdb
    * degrade wide decimals to float64, which would corrupt the compare. */
  def decodeFrob(s: SparkSession, dir: String): DataFrame =
    hexBinaries(decoded(s, "vat_call_frob"))
      .withColumn("dink", col("dink").cast("string"))
      .withColumn("dart", col("dart").cast("string"))
      .orderBy(col("block_number"))

  /** Decoded event table — psm.BuyGem (indexed topic + data params). */
  def decodeBuyGem(s: SparkSession, dir: String): DataFrame =
    hexBinaries(decoded(s, "psm_evt_buygem"))
      .withColumn("value", col("value").cast("string"))
      .withColumn("fee", col("fee").cast("string"))
      .orderBy(col("block_number"))

  /** One-pass demux: logs per destination table (S8). */
  def demuxCounts(s: SparkSession, dir: String): DataFrame =
    Demux.tagged(MakerFixtures.rawLogs(s), MakerFixtures.fixtureDefs)
      .filter(col("table_name").isNotNull)
      .groupBy("table_name").agg(count(lit(1)).as("n"))
      .orderBy("table_name")

  /** wad rescaling + bytes32→ascii expressions vs their SQL equivalents. */
  def wadRay(s: SparkSession, dir: String): DataFrame =
    decoded(s, "vat_call_frob").select(
      col("block_number"), col("transaction_index"),
      GraftFunctions.wad(col("dart")).as("dart_wad"),
      GraftFunctions.wad(col("dink")).as("dink_wad"),
      GraftFunctions.bytes32ToAscii(col("i")).as("ilk_name"))
      .orderBy(col("block_number"), col("transaction_index"))

  /** RAD-EXTREME end-to-end gate (`maker_rad_extreme`, SURVEY §1.2):
    * jug.file calls whose uint256 values are 42-47 DIGITS — past
    * Decimal(38) on the Spark side and 128-bit HUGEINT on DuckDB's —
    * decoded through the `wideIntsAsBinary` path (raw 32-byte words),
    * exported as exact digit strings ([[graft.codec.UintToDecimalString]])
    * and rescaled with rad()/ray() from binary. The oracle reads the
    * generator's digit-string truth: a single lost digit anywhere in
    * encode → wrapped-selector scan → wide decode → rescale breaks the
    * hash, and min_digits > 38 in BOTH engines proves the fixture
    * actually exercises the overflow regime. */
  def radExtreme(s: SparkSession, dir: String): DataFrame = {
    MakerFixtures.ensureRadExtreme(s)
    val d = MakerFixtures.radxDef
    Demux.table(graft.ops.FrameMemo.parquet(s, MakerFixtures.radxRawLogsPath), d)
      .select(col("block_number"),
        GraftFunctions.bytes32ToAscii(col("ilk")).as("ilk_str"),
        GraftFunctions.bytes32ToAscii(col("what")).as("what_str"),
        GraftFunctions.uintToDecimalString(col("data")).as("data_str"),
        length(GraftFunctions.uintToDecimalString(col("data")))
          .cast("int").as("n_digits"),
        GraftFunctions.rad(col("data")).as("rad_val"),
        GraftFunctions.ray(col("data")).as("ray_val"))
      .orderBy(col("block_number"))
  }

  /** The ported production query. Dialect rewrites (SURVEY §7.3):
    * generate_series→explode(sequence), `^`→power, `::int` + truncating
    * division→div+cast, `null::numeric`→typed CAST, encode(..,'escape')→
    * bytes32_to_ascii. pow() is rounded to 9dp on both sides (libm/JVM
    * last-ulp divergence). */
  def assetsPerType(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    Seq("vat_call_frob", "vat_call_grab", "vat_call_fold", "jug_call_file")
      .foreach(t => decoded(s, t).createOrReplaceTempView(t))
    s.sql(assetsSqlText(identity))
  }

  /** The same production query against schema-qualified warehouse tables
    * (`makermcd.vat_call_frob` ...), resolved through the session catalog
    * — the reference's `CREATE DATABASE makermcd` namespace (README.md:73,
    * classes.py:56) rather than bare temp views. Shares the SQL oracle
    * with assets_per_type: both must hash-match the same DuckDB result. */
  def assetsPerTypeCatalog(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    MakerFixtures.ensureDemuxed(s)
    graft.catalog.Warehouse.materialize(s,
      Demux.readTable(s, MakerFixtures.demuxStorePath, _), MakerFixtures.fixtureDefs)
    s.sql(assetsSqlText(t => s"makermcd.$t"))
  }

  /** The reference's shipped query file on disk, executed UNMODIFIED. */
  val referenceSqlPath = "/root/reference/queries/makerdao/assets_per_type.sql"

  /** assets_per_type VERBATIM: the reference's one shipped query artifact
    * (queries/makerdao/assets_per_type.sql:1-79) read from disk and run
    * through the PG-dialect front-end ([[graft.frontend.PgDialect]] —
    * `::` casts, `^` power, PG integer `/`, `encode(..,'escape')`,
    * implicit-lateral generate_series) against the catalog-qualified
    * `makermcd.*` warehouse — no hand edits, no per-query rewrites.
    *
    * Output canonicalization (and ONLY output — the query text executes
    * as shipped): the raw query ends in float8 SUMs of values derived
    * through `power()`, so bit-exact cross-engine comparison is
    * physically impossible (JVM vs libm pow differ in the last ulp, and
    * float sums are association-ordered). Each double column is rounded
    * and round-tripped through DECIMAL — 2dp for the currency sums, 8dp
    * for the rate — which both engines represent identically; the
    * DuckDB oracle mirrors the identical wrapper around the identical
    * raw semantics. PgDialectSpec proves the rounding is not on a knife
    * edge (every pre-round value sits ≥ 1e-4 ulps-of-the-rounding-grid
    * away from a .5 boundary) and ties this result to the three hand
    * ports within the ports' own documented 3dp pre-sum rounding bound. */
  def assetsPerTypeVerbatim(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    MakerFixtures.ensureDemuxed(s)
    graft.catalog.Warehouse.materialize(s,
      Demux.readTable(s, MakerFixtures.demuxStorePath, _), MakerFixtures.fixtureDefs)
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(referenceSqlPath)),
      java.nio.charset.StandardCharsets.UTF_8)
    canonVerbatim(graft.frontend.PgDialect.run(s, raw))
  }

  /** The verbatim gate's cross-engine float canonicalization: round to a
    * fixed grid, round-trip through DECIMAL (which also normalizes -0.0,
    * reachable here as `negative_debt * 0.0 sf`), back to DOUBLE. */
  private def canonVerbatim(df: DataFrame): DataFrame =
    df.select(col("dt"), col("collateral"),
      round(col("asset"), 2).cast("decimal(30,2)").cast("double").as("asset"),
      round(col("annual_revenues"), 2).cast("decimal(30,2)").cast("double")
        .as("annual_revenues"),
      round(col("blended_rate"), 8).cast("decimal(20,8)").cast("double")
        .as("blended_rate"))
      .orderBy(col("dt").desc, col("collateral"))

  /** assets_per_type SQL text, parameterized over how table names resolve
    * (bare temp views vs catalog-qualified `makermcd.*`). */
  private def assetsSqlText(t: String => String): String = s"""
      WITH lending_assets_1 AS (
        SELECT i AS ilk, block_number, dart, CAST(NULL AS DECIMAL(38,0)) AS rate
        FROM ${t("vat_call_frob")} WHERE dart <> 0
        UNION ALL
        SELECT i, block_number, dart, CAST(0 AS DECIMAL(38,0)) FROM ${t("vat_call_grab")}
        WHERE dart <> 0
        UNION ALL
        SELECT i, block_number, CAST(NULL AS DECIMAL(38,0)), rate FROM ${t("vat_call_fold")}
        WHERE rate <> 0
      ),
      ilks AS (
        SELECT ilk, MIN(block_number) AS starting_use, MAX(block_number) AS end_use
        FROM lending_assets_1 GROUP BY ilk
      ),
      ilks_2 AS (
        SELECT ilk, starting_use, MAX(end_use) OVER () AS end_use FROM ilks
      ),
      noop_filling AS (
        SELECT ilk, d AS block_number, CAST(NULL AS DECIMAL(38,0)) AS dart,
               CAST(NULL AS DECIMAL(38,0)) AS rate, CAST(NULL AS DOUBLE) AS sf
        FROM ilks_2
        LATERAL VIEW explode(sequence(starting_use, end_use, 1000)) g AS d
      ),
      rates AS (
        SELECT block_number, ilk,
          ROUND(POWER(CAST(data AS DOUBLE)/1e27, 31536000), 9) - 1 AS sf
        FROM ${t("jug_call_file")}
      ),
      with_filling AS (
        SELECT ilk, block_number, dart, rate, CAST(NULL AS DOUBLE) AS sf
        FROM lending_assets_1
        UNION ALL
        SELECT ilk, block_number, dart, rate, sf FROM noop_filling
        UNION ALL
        SELECT ilk, block_number, CAST(NULL AS DECIMAL(38,0)),
               CAST(NULL AS DECIMAL(38,0)), sf
        FROM rates
      ),
      lending_assets_2 AS (
        SELECT ilk, block_number,
          COALESCE(1 + CAST(SUM(rate) OVER w AS DOUBLE)/1e27, 1) AS rate,
          CAST(SUM(dart) OVER w AS DOUBLE)/1e18 AS dart,
          SUM(CASE WHEN sf IS NOT NULL THEN 1 ELSE 0 END) OVER w AS sf_grp,
          sf
        FROM with_filling
        WINDOW w AS (PARTITION BY ilk ORDER BY block_number ASC)
      ),
      with_rk AS (
        SELECT CAST(block_number div 10000 AS INT) AS dt,
          bytes32_to_ascii(ilk) AS collateral,
          dart*rate AS debt,
          MAX(sf) OVER (PARTITION BY ilk, sf_grp) AS sf,
          ROW_NUMBER() OVER (PARTITION BY ilk, block_number div 10000
                             ORDER BY block_number DESC) AS rk
        FROM lending_assets_2
      ),
      group_by AS (
        SELECT dt, collateral, debt, sf, debt*sf AS annual_revenues
        FROM with_rk WHERE rk = 1 AND debt <> 0.0
      ),
      group_by_cat AS (
        SELECT dt,
          CASE WHEN collateral LIKE 'PSM%' THEN 'Stablecoins'
               WHEN collateral IN ('USDC-A','USDC-B','USDT-A','TUSD-A','GUSD-A','PAXUSD-A') THEN 'Stablecoins'
               WHEN collateral LIKE 'ETH-%' THEN 'ETH'
               WHEN collateral LIKE 'WBTC-%' THEN 'WBTC'
               WHEN collateral LIKE 'UNIV2%' THEN 'Liquidity Pools'
               WHEN collateral LIKE 'RWA%' THEN 'RWA'
               ELSE 'Others' END AS collateral,
          debt AS asset, annual_revenues
        FROM group_by
      )
      SELECT dt, collateral,
        CAST(SUM(CAST(ROUND(asset, 3) AS DECIMAL(30,3))) AS DOUBLE) AS asset,
        CAST(SUM(CAST(ROUND(annual_revenues, 3) AS DECIMAL(30,3))) AS DOUBLE) AS annual_revenues,
        CAST(SUM(CAST(ROUND(annual_revenues, 3) AS DECIMAL(30,3))) AS DOUBLE)
          / CAST(SUM(CAST(ROUND(asset, 3) AS DECIMAL(30,3))) AS DOUBLE) AS blended_rate
      FROM group_by_cat
      GROUP BY 1, 2
      ORDER BY 1 DESC, 2
    """

  /** EP2 block pipeline: blocks come from the (deterministic) RPC source
    * — NOT the truth parquet the oracle reads — so the Dataset[Block]
    * fan-out path is what's being checked. Gas / size / difficulty
    * rollup per 1000-block bucket. */
  def blocksStats(s: SparkSession, dir: String): DataFrame = {
    MakerFixtures.ensure(s)
    import graft.ingest.{BlockSource, FakeBlockRpc}
    BlockSource.range(s, new FakeBlockRpc,
      MakerFixtures.BlockRangeStart, MakerFixtures.BlockRangeEnd).toDF()
      .groupBy(expr("CAST(block_number div 1000 AS INT)").as("bucket"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("gas_used")).as("total_gas_used"),
        max(col("difficulty")).as("max_difficulty"),
        (sum(col("gas_used")).cast("double") / sum(col("gas_limit"))).as("utilization"),
        sum(col("size")).as("total_size"))
      .orderBy(col("bucket"))
  }

  /** assets_per_type in pure DataFrame DSL — same semantics, same oracle
    * as the SQL port (both must hash-match the same DuckDB result). */
  def assetsPerTypeDsl(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    val nullDec = lit(null).cast(DecimalType(38, 0))
    val nullDbl = lit(null).cast("double")

    val frob = decoded(s, "vat_call_frob")
    val grab = decoded(s, "vat_call_grab")
    val fold = decoded(s, "vat_call_fold")
    val file = decoded(s, "jug_call_file")

    val la1 = frob.filter(col("dart") =!= 0)
      .select(col("i").as("ilk"), col("block_number"), col("dart"), nullDec.as("rate"))
      .unionAll(grab.filter(col("dart") =!= 0)
        .select(col("i"), col("block_number"), col("dart"),
          lit(0).cast(DecimalType(38, 0))))
      .unionAll(fold.filter(col("rate") =!= 0)
        .select(col("i"), col("block_number"), nullDec, col("rate")))

    val ilks = la1.groupBy("ilk")
      .agg(min("block_number").as("starting_use"), max("block_number").as("end_use"))
    val ilks2 = ilks.select(col("ilk"), col("starting_use"),
      max("end_use").over(Window.partitionBy()).as("end_use"))
    val noop = ilks2
      .select(col("ilk"),
        explode(sequence(col("starting_use"), col("end_use"), lit(1000L)))
          .as("block_number"))
      .select(col("ilk"), col("block_number"), nullDec.as("dart"),
        nullDec.as("rate"), nullDbl.as("sf"))

    val rates = file.select(col("block_number"), col("ilk"),
      (round(pow(col("data").cast("double") / 1e27, 31536000), 9) - 1).as("sf"))

    val filled = la1.withColumn("sf", nullDbl)
      .unionByName(noop)
      .unionByName(rates.select(col("ilk"), col("block_number"),
        nullDec.as("dart"), nullDec.as("rate"), col("sf")))

    val w = Window.partitionBy("ilk").orderBy("block_number")
    val la2 = filled.select(col("ilk"), col("block_number"),
      coalesce(lit(1) + sum(col("rate")).over(w).cast("double") / 1e27, lit(1.0))
        .as("rate"),
      (sum(col("dart")).over(w).cast("double") / 1e18).as("dart"),
      sum(when(col("sf").isNotNull, 1).otherwise(0)).over(w).as("sf_grp"),
      col("sf"))

    val withRk = la2.select(
      expr("CAST(block_number div 10000 AS INT)").as("dt"),
      GraftFunctions.bytes32ToAscii(col("ilk")).as("collateral"),
      (col("dart") * col("rate")).as("debt"),
      max("sf").over(Window.partitionBy("ilk", "sf_grp")).as("sf"),
      row_number().over(Window.partitionBy(col("ilk"), expr("block_number div 10000"))
        .orderBy(col("block_number").desc)).as("rk"))

    val grouped = withRk.filter(col("rk") === 1 && col("debt") =!= 0.0)
      .withColumn("annual_revenues", col("debt") * col("sf"))

    val cat = grouped.select(col("dt"),
      when(col("collateral").like("PSM%"), "Stablecoins")
        .when(col("collateral").isin("USDC-A", "USDC-B", "USDT-A", "TUSD-A",
          "GUSD-A", "PAXUSD-A"), "Stablecoins")
        .when(col("collateral").like("ETH-%"), "ETH")
        .when(col("collateral").like("WBTC-%"), "WBTC")
        .when(col("collateral").like("UNIV2%"), "Liquidity Pools")
        .when(col("collateral").like("RWA%"), "RWA")
        .otherwise("Others").as("collateral"),
      col("debt").as("asset"), col("annual_revenues"))

    cat.groupBy("dt", "collateral")
      .agg(
        sum(round(col("asset"), 3).cast(DecimalType(30, 3))).cast("double").as("asset"),
        sum(round(col("annual_revenues"), 3).cast(DecimalType(30, 3))).cast("double")
          .as("annual_revenues"))
      .withColumn("blended_rate", col("annual_revenues") / col("asset"))
      .orderBy(col("dt").desc, col("collateral"))
  }

  /** DSv2 block source with range pushdown: the scan itself narrows to
    * the filtered block window (SURVEY S1's idiomatic form); oracle reads
    * the truth parquet with the same predicate. */
  def blocksDsv2Range(s: SparkSession, dir: String): DataFrame = {
    MakerFixtures.ensure(s)
    s.read.format("graft.sources.BlockSourceV2")
      .option("from", MakerFixtures.BlockRangeStart)
      .option("to", MakerFixtures.BlockRangeEnd)
      .load()
      .filter(col("block_number") >= MakerFixtures.BlockRangeStart + 1000 &&
        col("block_number") < MakerFixtures.BlockRangeStart + 3000)
      .groupBy(expr("CAST(block_number div 500 AS INT)").as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("gas_used")).as("total_gas"),
        max(col("size")).as("max_size"))
      .orderBy(col("bucket"))
  }

  /** DSv2 AGGREGATE pushdown (SupportsPushDownAggregates, complete):
    * COUNT(*)/MIN/MAX over a block range collapse to range arithmetic
    * inside the source — one 1-row partition, ZERO block fetches
    * (accumulator-proven in SourceV2Spec). The 100 TB point: chain-head
    * monitoring and ingest-resume watermarks ask exactly these
    * questions, and they must not cost a scan. */
  def blocksDsv2AggPushdown(s: SparkSession, dir: String): DataFrame = {
    MakerFixtures.ensure(s)
    s.read.format("graft.sources.BlockSourceV2")
      .option("from", MakerFixtures.BlockRangeStart)
      .option("to", MakerFixtures.BlockRangeEnd)
      .load()
      .filter(col("block_number") >= MakerFixtures.BlockRangeStart + 500 &&
        col("block_number") < MakerFixtures.BlockRangeStart + 2500)
      .agg(expr("COUNT(*)").as("n"),
        min(col("block_number")).as("min_bn"),
        max(col("block_number")).as("max_bn"))
  }

  /** DSv2 log source with address + block-range pushdown and adaptive
    * partition sizing (S2+S12): the scan fetches only the pushed
    * address/range window — the reference's server-side eth_getLogs
    * filter (eth-contract.py:61-63) as a Spark source. Oracle reads the
    * same raw-log parquet the replay RPC serves. */
  def logsDsv2Range(s: SparkSession, dir: String): DataFrame = {
    MakerFixtures.ensure(s)
    val vatAddr = graft.ops.FrameMemo
      .parquet(s, MakerFixtures.truthPath("contracts"))
      .filter(col("name") === "vat").head().getAs[Array[Byte]]("address")
    s.read.format("graft.sources.LogSourceV2")
      .option("path", MakerFixtures.rawLogsPath)
      .option("from", 8900000L).option("to", 13500000L)
      .option("blocksStep", 100000L)
      .load()
      .filter(col("address") === lit(vatAddr))
      .filter(col("block_number") >= 9000000L && col("block_number") < 10500000L)
      .groupBy(expr("CAST(block_number div 100000 AS INT)").as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(length(col("data"))).as("total_data"),
        sum(size(col("topics"))).as("total_topics"))
      .orderBy(col("bucket"))
  }

  /** S3: receipt-filtered proxy_actions source over a fixture with
    * planted wrapped/unwrapped multi-log transactions. */
  def proxyActionsFilter(s: SparkSession, dir: String): DataFrame = {
    MakerFixtures.ensure(s)
    import graft.ingest.{FakeReceiptRpc, ProxyActions}
    ProxyActions.filter(
      graft.ops.FrameMemo.parquet(s, MakerFixtures.proxyRawLogsPath),
      new FakeReceiptRpc(MakerFixtures.ProxyActionsAddr),
      MakerFixtures.ProxyActionsAddr)
      .toDF()
      .select(col("block_number"), col("log_index"), col("transaction_index"),
        lower(hex(col("transaction_hash"))).as("tx_hash"),
        lower(hex(col("data"))).as("data_hex"))
      .orderBy(col("block_number"))
  }

  /** As-of join gate: each vat.fold event picks up the latest preceding
    * vat.frob state of its ilk (union+window LOCF — one shuffle on ilk,
    * no range join; ops/AsofJoin.scala). Oracle is DuckDB's native
    * ASOF LEFT JOIN over the truth tables. */
  def asofJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.AsofJoin
    val fold = decoded(s, "vat_call_fold").withColumnRenamed("i", "ilk")
    val frobs = decoded(s, "vat_call_frob")
      .select(col("i").as("ilk"), col("block_number"),
        (col("dart").cast("double") / 1e18).as("dart_wad"))
    AsofJoin.leftAsof(fold, frobs, "ilk", "block_number", Seq("dart_wad"))
      .select(col("block_number"), col("transaction_index"),
        GraftFunctions.bytes32ToAscii(col("ilk")).as("ilk_name"),
        (col("rate").cast("double") / 1e27).as("rate_ray"),
        col("asof.dart_wad").as("last_dart_wad"))
      .orderBy(col("block_number"), col("transaction_index"))
  }

  /** PSM flow analytics over the decoded event tables: per-bucket buy/
    * sell volume, net flow, fees, and cumulative net — all sums in
    * Decimal(38,0) (exact, order-independent) cast to double only at the
    * edge. The cumulative window runs over the post-aggregation
    * bucket-level frame (dimension-sized). */
  def psmFlows(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val buy = decoded(s, "psm_evt_buygem")
      .select(col("block_number"), col("value"), col("fee"), lit(1).as("dirn"))
    val sell = decoded(s, "psm_evt_sellgem")
      .select(col("block_number"), col("value"), col("fee"), lit(-1).as("dirn"))
    buy.unionByName(sell)
      .groupBy(expr("CAST(block_number div 100000 AS INT)").as("bucket"))
      .agg(
        sum(when(col("dirn") === 1, col("value")).otherwise(lit(0))).as("buy_vol_d"),
        sum(when(col("dirn") === -1, col("value")).otherwise(lit(0))).as("sell_vol_d"),
        sum(col("value") * col("dirn")).as("net_d"),
        sum(col("fee")).as("fees_d"),
        count(lit(1)).as("n"))
      .select(col("bucket"),
        col("buy_vol_d").cast("double").as("buy_vol"),
        col("sell_vol_d").cast("double").as("sell_vol"),
        col("net_d").cast("double").as("net"),
        sum(col("net_d")).over(Window.orderBy("bucket")).cast("double").as("cum_net"),
        col("fees_d").cast("double").as("fees"),
        col("n"))
      .orderBy("bucket")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "maker_psm_flows" -> (psmFlows _),
    "q28_asof_join" -> (asofJoin _),
    "logs_dsv2_range" -> (logsDsv2Range _),
    "proxy_actions_filter" -> (proxyActionsFilter _),
    "blocks_dsv2_range" -> (blocksDsv2Range _),
    "blocks_dsv2_agg_pushdown" -> (blocksDsv2AggPushdown _),
    "assets_per_type_dsl" -> (assetsPerTypeDsl _),
    "assets_per_type_catalog" -> (assetsPerTypeCatalog _),
    "assets_per_type_verbatim" -> (assetsPerTypeVerbatim _),
    "abi_decode_frob" -> (decodeFrob _),
    "abi_decode_buygem" -> (decodeBuyGem _),
    "abi_demux_counts" -> (demuxCounts _),
    "maker_wad_ray" -> (wadRay _),
    "maker_rad_extreme" -> (radExtreme _),
    "assets_per_type" -> (assetsPerType _),
    "blocks_stats" -> (blocksStats _))

  private def truthFrom(table: String): String =
    s"read_parquet('${truthGlob(table)}')"

  /** The oracle CTE chain shared by the port gates and the verbatim
    * gate, parameterized over the one spot where their semantics differ:
    * the ports stabilize `power()` at 9dp (libm/JVM last-ulp divergence
    * absorbed before it compounds), the verbatim query computes raw
    * float8 pow and absorbs the divergence at output rounding instead. */
  private def oracleAssetsCte(sfExpr: String): String = s"""
      WITH lending_assets_1 AS (
        SELECT i AS ilk, block_number, dart, CAST(NULL AS DECIMAL(38,0)) AS rate
        FROM ${truthFrom("vat_call_frob")} WHERE dart <> 0
        UNION ALL
        SELECT i, block_number, dart, CAST(0 AS DECIMAL(38,0)) FROM ${truthFrom("vat_call_grab")}
        WHERE dart <> 0
        UNION ALL
        SELECT i, block_number, CAST(NULL AS DECIMAL(38,0)), rate FROM ${truthFrom("vat_call_fold")}
        WHERE rate <> 0
      ),
      ilks AS (
        SELECT ilk, MIN(block_number) AS starting_use, MAX(block_number) AS end_use
        FROM lending_assets_1 GROUP BY ilk
      ),
      ilks_2 AS (
        SELECT ilk, starting_use, MAX(end_use) OVER () AS end_use FROM ilks
      ),
      noop_filling AS (
        SELECT ilk, unnest(generate_series(starting_use, end_use, 1000)) AS block_number,
               CAST(NULL AS DECIMAL(38,0)) AS dart, CAST(NULL AS DECIMAL(38,0)) AS rate,
               CAST(NULL AS DOUBLE) AS sf
        FROM ilks_2
      ),
      rates AS (
        SELECT block_number, ilk, $sfExpr AS sf
        FROM ${truthFrom("jug_call_file")}
      ),
      with_filling AS (
        SELECT ilk, block_number, dart, rate, CAST(NULL AS DOUBLE) AS sf
        FROM lending_assets_1
        UNION ALL
        SELECT ilk, block_number, dart, rate, sf FROM noop_filling
        UNION ALL
        SELECT ilk, block_number, CAST(NULL AS DECIMAL(38,0)),
               CAST(NULL AS DECIMAL(38,0)), sf
        FROM rates
      ),
      lending_assets_2 AS (
        SELECT ilk, block_number,
          COALESCE(1 + CAST(SUM(rate) OVER w AS DOUBLE)/1e27, 1) AS rate,
          CAST(SUM(dart) OVER w AS DOUBLE)/1e18 AS dart,
          SUM(CASE WHEN sf IS NOT NULL THEN 1 ELSE 0 END) OVER w AS sf_grp,
          sf
        FROM with_filling
        WINDOW w AS (PARTITION BY ilk ORDER BY block_number ASC)
      ),
      with_rk AS (
        SELECT CAST(block_number // 10000 AS INT) AS dt,
          replace(decode(ilk), chr(0), '') AS collateral,
          dart*rate AS debt,
          MAX(sf) OVER (PARTITION BY ilk, sf_grp) AS sf,
          ROW_NUMBER() OVER (PARTITION BY ilk, block_number // 10000
                             ORDER BY block_number DESC) AS rk
        FROM lending_assets_2
      ),
      group_by AS (
        SELECT dt, collateral, debt, sf, debt*sf AS annual_revenues
        FROM with_rk WHERE rk = 1 AND debt <> 0.0
      ),
      group_by_cat AS (
        SELECT dt,
          CASE WHEN collateral LIKE 'PSM%' THEN 'Stablecoins'
               WHEN collateral IN ('USDC-A','USDC-B','USDT-A','TUSD-A','GUSD-A','PAXUSD-A') THEN 'Stablecoins'
               WHEN collateral LIKE 'ETH-%' THEN 'ETH'
               WHEN collateral LIKE 'WBTC-%' THEN 'WBTC'
               WHEN collateral LIKE 'UNIV2%' THEN 'Liquidity Pools'
               WHEN collateral LIKE 'RWA%' THEN 'RWA'
               ELSE 'Others' END AS collateral,
          debt AS asset, annual_revenues
        FROM group_by
      )
  """

  private lazy val oracleAssetsSql: String =
    oracleAssetsCte("ROUND(POWER(CAST(data AS DOUBLE)/1e27, 31536000), 9) - 1") + s"""
      SELECT dt, collateral,
        CAST(SUM(CAST(ROUND(asset, 3) AS DECIMAL(30,3))) AS DOUBLE) AS asset,
        CAST(SUM(CAST(ROUND(annual_revenues, 3) AS DECIMAL(30,3))) AS DOUBLE) AS annual_revenues,
        CAST(SUM(CAST(ROUND(annual_revenues, 3) AS DECIMAL(30,3))) AS DOUBLE)
          / CAST(SUM(CAST(ROUND(asset, 3) AS DECIMAL(30,3))) AS DOUBLE) AS blended_rate
      FROM group_by_cat
      GROUP BY 1, 2
      ORDER BY 1 DESC, 2"""

  /** Ground truth for the VERBATIM gate: the reference query's own raw
    * semantics (raw float8 pow, raw float8 SUMs) under the same output
    * canonicalization [[canonVerbatim]] applies on the Spark side. */
  private lazy val oracleAssetsVerbatimSql: String =
    oracleAssetsCte("POWER(CAST(data AS DOUBLE)/1e27, 31536000) - 1") + s"""
      SELECT dt, collateral,
        CAST(CAST(ROUND(asset, 2) AS DECIMAL(30,2)) AS DOUBLE) AS asset,
        CAST(CAST(ROUND(annual_revenues, 2) AS DECIMAL(30,2)) AS DOUBLE) AS annual_revenues,
        CAST(CAST(ROUND(blended_rate, 8) AS DECIMAL(20,8)) AS DOUBLE) AS blended_rate
      FROM (
        SELECT dt, collateral, SUM(asset) AS asset,
          SUM(annual_revenues) AS annual_revenues,
          SUM(annual_revenues)/SUM(asset) AS blended_rate
        FROM group_by_cat
        GROUP BY 1, 2
      )
      ORDER BY dt DESC, collateral"""

  /** the DSL and catalog-qualified ports share the SQL port's oracle
    * verbatim — all three must hash-match the same DuckDB result */
  private lazy val assetsOracleAlias: Map[String, String] =
    Map("assets_per_type_dsl" -> oracleAssetsSql,
        "assets_per_type_catalog" -> oracleAssetsSql,
        "assets_per_type_verbatim" -> oracleAssetsVerbatimSql)

  val oracle: Map[String, String] = assetsOracleAlias ++ Map(
    "maker_psm_flows" -> s"""
      WITH flows AS (
        SELECT block_number, value, fee, 1 AS dirn FROM ${truthFrom("psm_evt_buygem")}
        UNION ALL
        SELECT block_number, value, fee, -1 FROM ${truthFrom("psm_evt_sellgem")}),
      agg AS (
        SELECT CAST(block_number // 100000 AS INT) AS bucket,
          SUM(CASE WHEN dirn = 1 THEN value ELSE 0 END) AS buy_vol_d,
          SUM(CASE WHEN dirn = -1 THEN value ELSE 0 END) AS sell_vol_d,
          SUM(value * dirn) AS net_d,
          SUM(fee) AS fees_d,
          COUNT(*) AS n
        FROM flows GROUP BY 1)
      SELECT bucket,
        CAST(buy_vol_d AS DOUBLE) AS buy_vol,
        CAST(sell_vol_d AS DOUBLE) AS sell_vol,
        CAST(net_d AS DOUBLE) AS net,
        CAST(SUM(net_d) OVER (ORDER BY bucket) AS DOUBLE) AS cum_net,
        CAST(fees_d AS DOUBLE) AS fees,
        n
      FROM agg ORDER BY bucket""",
    "q28_asof_join" -> s"""
      SELECT f.block_number, f.transaction_index,
        replace(decode(f.i), chr(0), '') AS ilk_name,
        CAST(f.rate AS DOUBLE)/1e27 AS rate_ray,
        CAST(b.dart AS DOUBLE)/1e18 AS last_dart_wad
      FROM ${truthFrom("vat_call_fold")} f
      ASOF LEFT JOIN ${truthFrom("vat_call_frob")} b
        ON f.i = b.i AND f.block_number >= b.block_number
      ORDER BY f.block_number, f.transaction_index""",
    "logs_dsv2_range" -> s"""
      SELECT CAST(block_number // 100000 AS INT) AS bucket,
        COUNT(*) AS n,
        CAST(SUM(octet_length(data)) AS BIGINT) AS total_data,
        CAST(SUM(len(topics)) AS BIGINT) AS total_topics
      FROM read_parquet('${MakerFixtures.rawLogsPath}/*.parquet')
      WHERE address = (SELECT address FROM ${truthFrom("contracts")} WHERE name = 'vat')
        AND block_number >= 9000000 AND block_number < 10500000
      GROUP BY 1 ORDER BY 1""",
    "proxy_actions_filter" -> s"""
      SELECT block_number, log_index, transaction_index,
        lower(hex(transaction_hash)) AS tx_hash, lower(hex(data)) AS data_hex
      FROM ${truthFrom("proxy_actions")}
      ORDER BY block_number""",
    "blocks_dsv2_agg_pushdown" -> s"""
      SELECT COUNT(*) AS n, MIN(block_number) AS min_bn,
        MAX(block_number) AS max_bn
      FROM ${truthFrom("ethereum_transactions")}
      WHERE block_number >= ${MakerFixtures.BlockRangeStart + 500}
        AND block_number < ${MakerFixtures.BlockRangeStart + 2500}""",
    "blocks_dsv2_range" -> s"""
      SELECT CAST(block_number // 500 AS INT) AS bucket,
        COUNT(*) AS n,
        CAST(SUM(gas_used) AS BIGINT) AS total_gas,
        MAX(size) AS max_size
      FROM ${truthFrom("ethereum_transactions")}
      WHERE block_number >= ${MakerFixtures.BlockRangeStart + 1000}
        AND block_number < ${MakerFixtures.BlockRangeStart + 3000}
      GROUP BY 1 ORDER BY 1""",
    "blocks_stats" -> s"""
      SELECT CAST(block_number // 1000 AS INT) AS bucket,
        COUNT(*) AS n,
        CAST(SUM(gas_used) AS BIGINT) AS total_gas_used,
        MAX(difficulty) AS max_difficulty,
        CAST(SUM(gas_used) AS DOUBLE) / CAST(SUM(gas_limit) AS BIGINT) AS utilization,
        CAST(SUM(size) AS BIGINT) AS total_size
      FROM ${truthFrom("ethereum_transactions")}
      GROUP BY 1 ORDER BY 1""",
    "abi_decode_frob" ->
      s"""SELECT block_number, lower(hex(block_hash)) AS block_hash,
        lower(hex(address)) AS address, log_index, transaction_index,
        lower(hex(transaction_hash)) AS transaction_hash,
        lower(hex(i)) AS i, lower(hex(u)) AS u, lower(hex(v)) AS v,
        lower(hex(w)) AS w,
        CAST(dink AS VARCHAR) AS dink, CAST(dart AS VARCHAR) AS dart
      FROM ${truthFrom("vat_call_frob")} ORDER BY block_number""",
    "abi_decode_buygem" ->
      s"""SELECT block_number, lower(hex(block_hash)) AS block_hash,
        lower(hex(address)) AS address, log_index, transaction_index,
        lower(hex(transaction_hash)) AS transaction_hash,
        lower(hex(owner)) AS owner,
        CAST(value AS VARCHAR) AS value, CAST(fee AS VARCHAR) AS fee
      FROM ${truthFrom("psm_evt_buygem")} ORDER BY block_number""",
    "abi_demux_counts" -> Seq(
      "vat_call_frob", "vat_call_grab", "vat_call_fold",
      "jug_call_file", "psm_evt_buygem", "psm_evt_sellgem")
      .map(t => s"SELECT '$t' AS table_name, COUNT(*) AS n FROM ${truthFrom(t)}")
      .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY table_name"),
    "maker_wad_ray" -> s"""
      SELECT block_number, transaction_index,
        CAST(dart AS DOUBLE)/1e18 AS dart_wad,
        CAST(dink AS DOUBLE)/1e18 AS dink_wad,
        replace(decode(i), chr(0), '') AS ilk_name
      FROM ${truthFrom("vat_call_frob")}
      ORDER BY block_number, transaction_index""",
    "maker_rad_extreme" -> s"""
      SELECT block_number, ilk_str, what_str, data_str,
        CAST(LENGTH(data_str) AS INT) AS n_digits,
        CAST(data_str AS DOUBLE)/1e45 AS rad_val,
        CAST(data_str AS DOUBLE)/1e27 AS ray_val
      FROM ${truthFrom("rad_extreme")}
      ORDER BY block_number""",
    "assets_per_type" -> oracleAssetsSql)
}
