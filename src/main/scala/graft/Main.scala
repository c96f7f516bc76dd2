package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.abi.{AbiCache, AbiSchema, MapAbiFetcher}
import graft.catalog.Contracts
import graft.ingest.{BlockSource, Demux, FakeBlockRpc, IngestJob, LogSource, ManifestStore}

/** CLI mirroring the reference's entry points:
  *
  *   graft.Main ingest <schema>.<contract> [confDir] [store] [rawLogs] [head]
  *     ≙ `python eth-contract.py <schema>.<contract>` (eth-contract.py:12)
  *   graft.Main blocks <from> <to> <out>
  *     ≙ `python eth-blocks.py ethereum.transactions` (eth-blocks.py)
  *
  * Config and ABIs come from the same HOCON tree + ABI cache directory
  * the reference uses (creationBlock / blocksStep respected). The fetch
  * layer is the pluggable RPC seam: this zero-egress build wires the
  * deterministic replay/fake RPCs; a JSON-RPC client drops in without
  * touching this code. Dispatch is by topic0/selector (the engine's demux
  * key) rather than per-address fetch loops, so one pass ingests every
  * address of the contract. The ingest store is a [[ManifestStore]]
  * partitioned by table_name: `ingest` commits to it, `compact` and
  * `mstore-vacuum` maintain it, `warehouse <store>` reads it.
  */
object Main {

  /** Reuse a live session when embedded (tests, notebooks); own and stop
    * one only when the CLI created it. */
  private def session(): (SparkSession, Boolean) = {
    val existing = SparkSession.getDefaultSession
      .filterNot(_.sparkContext.isStopped)
    existing match {
      case Some(s) => (s, false)
      case None =>
        val s = SparkSession.builder()
          .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
          .config("spark.sql.shuffle.partitions",
            sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
          .config("spark.ui.enabled", "false")
          .getOrCreate()
        s.sparkContext.setLogLevel("WARN")
        (s, true)
    }
  }

  /** `<schema>.<contract>` with both parts non-empty. */
  private def isTarget(t: String): Boolean = t.split("\\.", -1) match {
    case Array(s, c) => s.nonEmpty && c.nonEmpty
    case _ => false
  }

  /** Contract config + ABI-derived table defs, shared by ingest and
    * warehouse. `confFile` is the HOCON tree root, `abiDir` the reference
    * ABI cache directory. */
  private def defsFor(confFile: String, abiDir: String, schema: String,
                      contract: String)
  : (Contracts.Contract, Seq[AbiSchema.TableDef]) = {
    val registry = Contracts.load(confFile)
    val c = registry(schema, contract)
    val abi = new AbiCache(abiDir, new MapAbiFetcher(Map.empty))
      .abi(schema, contract, c.addresses.headOption.getOrElse(""))
    (c, AbiSchema.tables(contract, abi, schemaName = schema))
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "ingest" :: target :: rest if isTarget(target) &&
        rest.lift(3).forall(_.toLongOption.isDefined) =>
      val Array(schema, contract) = target.split('.')
      val confDir = rest.headOption.getOrElse("/root/reference")
      val store = rest.lift(1).getOrElse(s"/tmp/graft_store/$schema.$contract")
      val rawLogs = rest.lift(2).getOrElse(graft.fixtures.MakerFixtures.rawLogsPath)
      val (spark, owned) = session()
      graft.fixtures.MakerFixtures.ensure(spark)
      // overlay config (adds the jug entry the reference config misses)
      // when using the default tree; explicit confDir overrides it
      val confFile =
        if (rest.nonEmpty) s"$confDir/config.conf"
        else "/root/repo/conf/graft.conf"
      val (c, defs) = defsFor(confFile, s"$confDir/conf", schema, contract)
      val rpc = LogSource.replayFromParquet(spark, rawLogs)
      val head = rest.lift(3).flatMap(_.toLongOption).getOrElse(
        spark.read.parquet(rawLogs)
          .agg(org.apache.spark.sql.functions.max("block_number"))
          .head().getLong(0))
      val n = IngestJob.runAtomic(spark, rpc, defs, None, new ManifestStore(store),
        c.creationBlock, head, blocksStep = c.blocksStep, maxLogs = 10000)
      println(s"ingested $n rows into $store (resume head=$head)")
      if (owned) spark.stop()

    case "blocks" :: from :: to :: out :: Nil
        if from.toLongOption.isDefined && to.toLongOption.isDefined =>
      val (spark, owned) = session()
      BlockSource.range(spark, new FakeBlockRpc, from.toLong, to.toLong)
        .write.mode("append").parquet(out)
      println(s"wrote blocks [$from,$to] to $out")
      if (owned) spark.stop()

    // maintenance on the ingest store: snapshot-isolated small-file
    // compaction and retention vacuum (see ManifestStore.vacuum's
    // contract). The manifest records no partition columns, so compact
    // keeps the ingest store's table_name layout explicitly — flattened,
    // every per-table read would scan every file
    case "compact" :: root :: rest
        if rest.length <= 1 &&
          rest.headOption.forall(_.toLongOption.exists(_ > 0)) =>
      val targetBytes = rest.headOption.flatMap(_.toLongOption)
        .getOrElse(128L * 1024 * 1024)
      val (spark, owned) = session()
      val store = new ManifestStore(root)
      store.compact(spark, targetBytes, partitionCols = Seq("table_name"))
      println(s"compacted $root to ${store.currentFiles(spark).size} data files " +
        s"at version ${store.currentVersion(spark)} (target $targetBytes B)")
      if (owned) spark.stop()

    // bounds keep Int/arithmetic exact: keep survives toInt, and
    // minutes*60000 cannot overflow into a negative (future) age floor
    case "mstore-vacuum" :: root :: rest
        if rest.length <= 2 &&
          rest.headOption.forall(_.toLongOption.exists(v =>
            v >= 1 && v <= 1000000)) &&
          rest.lift(1).forall(_.toLongOption.exists(v =>
            v >= 0 && v <= 1000000)) =>
      val keep = rest.headOption.flatMap(_.toLongOption).getOrElse(2L).toInt
      val minAgeMs = rest.lift(1).flatMap(_.toLongOption)
        .map(_ * 60 * 1000)
        .getOrElse(graft.ingest.ManifestStore.DefaultVacuumMinAgeMs)
      val (spark, owned) = session()
      val store = new ManifestStore(root)
      store.vacuum(spark, keepVersions = keep, minDataAgeMs = minAgeMs)
      println(s"vacuumed $root (keep=$keep, minAge=${minAgeMs / 60000} min); " +
        s"current version ${store.currentVersion(spark)}")
      if (owned) spark.stop()

    // register an ingest store's decoded tables as <db>.<table> in the
    // session catalog warehouse (reference README.md:73's CREATE DATABASE).
    // With an explicit <schema>.<contract>, table defs come from the same
    // config + ABI tree the ingest command uses; the no-arg form serves
    // the built-in (plain-parquet) fixture demux store. The db must be a
    // simple (undotted) name — a target in the db position falls through
    // to usage.
    case "warehouse" :: rest if rest.lift(2).forall(isTarget) &&
        rest.lift(1).forall(db => db.nonEmpty && !db.contains('.')) =>
      val (spark, owned) = session()
      val db = rest.lift(1).getOrElse("makermcd")
      val (store, defs) = rest match {
        case storeArg :: _ if rest.lift(2).isDefined =>
          val Array(schema, contract) = rest(2).split('.')
          (storeArg, defsFor("/root/repo/conf/graft.conf",
            "/root/reference/conf", schema, contract)._2)
        case storeArg :: _ => (storeArg, graft.fixtures.MakerFixtures.fixtureDefs)
        case Nil =>
          graft.fixtures.MakerFixtures.ensureDemuxed(spark)
          (graft.fixtures.MakerFixtures.demuxStorePath,
            graft.fixtures.MakerFixtures.fixtureDefs)
      }
      val decoded: AbiSchema.TableDef => DataFrame =
        if (rest.isEmpty) Demux.readTable(spark, store, _)
        else Demux.readTable(spark, new ManifestStore(store), _)
      graft.catalog.Warehouse.materialize(spark, decoded, defs, db, overwrite = true)
      // defs carrying a conf-tree namespace land in THEIR schema's
      // database (reference classes.py:56); namespace-less defs in `db`
      val dbs = defs.map(d =>
        if (d.schemaName.isEmpty) db else d.schemaName).distinct.sorted
      dbs.foreach { dbName =>
        val tables = spark.sql(s"SHOW TABLES IN $dbName")
          .collect().map(_.getString(1))
        println(s"materialized ${tables.length} tables in $dbName: " +
          tables.sorted.mkString(", "))
      }
      if (owned) spark.stop()

    // run any registered gate query against a fixture dir and show the
    // head, or print its executed physical plan — the operability
    // surface for "what does this operator actually do / cost"
    case cmd :: name :: rest if (cmd == "run" || cmd == "explain") &&
        rest.length <= 1 =>
      SparkEntry.queries.get(name) match {
        case None =>
          System.err.println(s"unknown query '$name'; available:\n  " +
            SparkEntry.queries.keys.toSeq.sorted.mkString("\n  "))
          sys.exit(2)
        case Some(fn) =>
          val dir = rest.headOption.getOrElse("/root/testdata/sf0.001")
          val (spark, owned) = session()
          val df = fn(spark, dir)
          if (cmd == "run") df.show(20, truncate = false)
          else {
            df.collect() // executed plan: AQE finalized, codegen resolved
            println(df.queryExecution.executedPlan.toString
              .split("== Initial Plan ==").head)
          }
          if (owned) spark.stop()
      }

    // ad-hoc SQL over the testdata tables with every graft function and
    // store TVF registered — the "run the query you run today" surface:
    //   graft.Main sql "SELECT lang, count(*) FROM documents GROUP BY 1" [sfDir]
    case "sql" :: query :: rest if rest.length <= 1 =>
      val dir = rest.headOption.getOrElse("/root/testdata/sf0.001")
      val (spark, owned) = session()
      Tables.registerAll(spark, dir)
      graft.codec.GraftFunctions.register(spark)
      spark.sql(query).show(50, truncate = false)
      if (owned) spark.stop()

    case other =>
      System.err.println(
        s"""unknown args: ${other.mkString(" ")}
           |usage:
           |  graft.Main ingest <schema>.<contract> [confDir] [store] [rawLogs] [head]
           |  graft.Main blocks <from> <to> <out>
           |  graft.Main compact <store> [targetBytes]
           |  graft.Main mstore-vacuum <store> [keepVersions] [minAgeMinutes]
           |  graft.Main warehouse [store] [db] [<schema>.<contract>]
           |  graft.Main run <queryName> [sfDir]
           |  graft.Main explain <queryName> [sfDir]
           |  graft.Main sql "<query>" [sfDir]""".stripMargin)
      sys.exit(2)
  }
}
