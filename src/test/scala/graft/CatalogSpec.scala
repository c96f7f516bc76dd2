package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.catalog.Contracts
import graft.codec.CodecRuntime

class CatalogSpec extends AnyFunSuite {

  test("registry parses the reference config tree (config.conf includes)") {
    val reg = Contracts.load("/root/reference/config.conf")
    assert(reg.defaultBlocksStep == 100L)

    val vat = reg("makermcd", "vat")
    assert(vat.addresses == Seq("0x35d1b3f3d7966a1dfe207aa4514c12a259a0492b"))
    assert(vat.creationBlock == 8928152L)
    assert(vat.blocksStep == 10000L) // per-contract override (+ trailing comment)

    val tx = reg("ethereum", "transactions")
    assert(tx.creationBlock == 46147L)
    assert(tx.blocksStep == 1L)
    assert(tx.addresses.isEmpty) // [None] → no addresses

    // 5 schemas present (SURVEY §1.1)
    assert(reg.contracts.map(_.schema).distinct.toSet ==
      Set("makermcd", "centrifuge", "aave", "aave_v2", "ethereum"))
    // addresses normalized to lowercase (S14 ingest normalization)
    assert(reg.contracts.flatMap(_.addresses).forall(a => a == a.toLowerCase))
  }

  test("contract without blocksStep falls back to global default") {
    val reg = Contracts.load("/root/reference/config.conf")
    val noOverride = reg.contracts.filter(_.blocksStep == reg.defaultBlocksStep)
    // aave's ghst has no blocksStep in conf/aave.conf
    assert(noOverride.nonEmpty)
  }

  test("EIP-55 checksum address — spec test vectors") {
    def cs(hex: String): String = {
      val b = hex.sliding(2, 2).map(Integer.parseInt(_, 16).toByte).toArray
      CodecRuntime.checksumAddress(b).toString
    }
    // vectors from the public EIP-55 specification
    assert(cs("5aaeb6053f3e94c9b9a09f33669435e7ef1beaed") ==
      "0x5aAeb6053F3E94C9b9A09f33669435E7Ef1BeAed")
    assert(cs("fb6916095ca1df60bb79ce92ce3ea74c37c5d359") ==
      "0xfB6916095ca1df60bB79Ce92cE3Ea74c37c5d359")
    assert(cs("dbf03b407c01e7cd3cbea99509d93f8dddc8c6fb") ==
      "0xdbF03B407c01E7cD3CBea99509d93f8DDDC8C6FB")
    assert(cs("d1220a0cf47c7b9be7a2e6ba89f429762e7b9adb") ==
      "0xD1220A0cf47c7B9Be7A2E6BA89F429762e7b9aDb")
  }
}

/** Schema-qualified warehouse tables (reference classes.py:56 schema
  * autocreate; README.md:73 CREATE DATABASE makermcd). */
class WarehouseSpec extends org.scalatest.funsuite.AnyFunSuite {
  /** Decoded tables of the fixture demux store. */
  private def fixtureTables(spark: org.apache.spark.sql.SparkSession) =
    graft.ingest.Demux.readTable(spark, graft.fixtures.MakerFixtures.demuxStorePath,
      _: graft.abi.AbiSchema.TableDef)

  test("decoded tables resolve by qualified name through the session catalog") {
    val spark = TestSpark.spark
    graft.fixtures.MakerFixtures.ensureDemuxed(spark)
    graft.catalog.Warehouse.materialize(spark,
      fixtureTables(spark),
      graft.fixtures.MakerFixtures.fixtureDefs)
    assert(spark.catalog.databaseExists("makermcd"))
    // qualified resolution, decoded columns present
    val frob = spark.table("makermcd.vat_call_frob")
    assert(frob.columns.contains("dart") && frob.columns.contains("i"))
    // contents identical to the decode-at-read path over the demux store
    val direct = graft.ingest.Demux.readTable(spark,
      graft.fixtures.MakerFixtures.demuxStorePath,
      graft.fixtures.MakerFixtures.tableDef("vat_call_frob"))
    assert(frob.count() == direct.count() && frob.count() > 0)
    assert(spark.sql(
      "SELECT COUNT(*) FROM makermcd.psm_evt_buygem").head().getLong(0) > 0)
    // idempotent: a second materialize keeps existing tables (no rewrite)
    graft.catalog.Warehouse.materialize(spark,
      fixtureTables(spark),
      graft.fixtures.MakerFixtures.fixtureDefs)
    assert(spark.table("makermcd.vat_call_frob").count() == direct.count())
  }

  test("namespaced defs materialize into their OWN databases (r15 #1)") {
    val spark = TestSpark.spark
    import org.apache.spark.sql.functions.col
    // two namespaces sharing a bare table name — the aave/aave_v2 shape
    // in miniature: the demux tag and the warehouse identity must both
    // be the qualified name, or one namespace's rows swallow the other's
    val base = graft.fixtures.MakerFixtures.tableDef("vat_call_frob")
    val defs = Seq(base.copy(schemaName = "nsalpha"),
      base.copy(schemaName = "nsbeta"))
    val root = java.nio.file.Files
      .createTempDirectory("graft_ns_wh").toString + "/demux"
    // tag the SAME raw fixture logs under each namespace; both tables
    // get every matching log (shared dispatch key, distinct tag rows)
    graft.ingest.Demux.writeDemuxed(
      graft.fixtures.MakerFixtures.rawLogs(spark), defs, root)
    try {
      graft.catalog.Warehouse.materialize(spark,
        graft.ingest.Demux.readTable(spark, root, _), defs)
      assert(spark.catalog.databaseExists("nsalpha"))
      assert(spark.catalog.databaseExists("nsbeta"))
      val a = spark.table("nsalpha.vat_call_frob").count()
      val b = spark.table("nsbeta.vat_call_frob").count()
      assert(a > 0 && a == b, s"per-schema counts diverged: $a vs $b")
      // the demux store kept the namespaces apart
      val tags = spark.read.parquet(root).select("table_name").distinct()
        .collect().map(_.getString(0)).toSet
      assert(tags == Set("nsalpha.vat_call_frob", "nsbeta.vat_call_frob"))
      // decode-at-read over ONE namespace matches its warehouse copy
      val direct = graft.ingest.Demux.readTable(spark, root, defs.head)
      assert(direct.count() == a)
      assert(direct.filter(col("dart") =!= 0).count() ==
        spark.table("nsalpha.vat_call_frob")
          .filter(col("dart") =!= 0).count())
    } finally {
      spark.sql("DROP DATABASE IF EXISTS nsalpha CASCADE")
      spark.sql("DROP DATABASE IF EXISTS nsbeta CASCADE")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
      }
      rm(new java.io.File(root).getParentFile)
    }
  }

  test("materialize refuses foreign data at an orphan table path and bad db names") {
    val spark = TestSpark.spark
    graft.fixtures.MakerFixtures.ensureDemuxed(spark)
    val defs = graft.fixtures.MakerFixtures.fixtureDefs.take(1)
    // SQL-injection-shaped / invalid identifiers are rejected up front
    intercept[IllegalArgumentException] {
      graft.catalog.Warehouse.materialize(spark,
        fixtureTables(spark), defs, db = "x; DROP TABLE y")
    }
    // a directory at the derived managed-table path that does NOT look
    // like a prior materialization is user data — refuse to delete it
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      s"orphandb.db/${defs.head.table}")
    // user data nested under a generic dot-dir is NOT staging: the
    // wholesale-bookkeeping shortcut must not classify it as deletable
    val out2 = fs.create(
      new org.apache.hadoop.fs.Path(dir, ".backup/dump.csv"), false)
    out2.write("also precious\n".getBytes("UTF-8")); out2.close()
    try {
      val e0 = intercept[IllegalStateException] {
        graft.catalog.Warehouse.materialize(spark,
          fixtureTables(spark), defs, db = "orphandb")
      }
      assert(e0.getMessage.contains("refusing to clear"))
      assert(fs.exists(new org.apache.hadoop.fs.Path(dir, ".backup/dump.csv")),
        "dot-dir user data must survive the refused materialization")
      // a top-level foreign file refuses as well
      val out = fs.create(new org.apache.hadoop.fs.Path(dir, "precious.csv"), false)
      out.write("do not delete\n".getBytes("UTF-8")); out.close()
      val e = intercept[IllegalStateException] {
        graft.catalog.Warehouse.materialize(spark,
          fixtureTables(spark), defs, db = "orphandb")
      }
      assert(e.getMessage.contains("refusing to clear"))
      assert(fs.exists(new org.apache.hadoop.fs.Path(dir, "precious.csv")),
        "foreign file must survive the refused materialization")
    } finally {
      fs.delete(dir.getParent, true)
      spark.sql("DROP DATABASE IF EXISTS orphandb CASCADE")
    }
  }

  test("materialize clears a crashed saveAsTable staging dir automatically") {
    val spark = TestSpark.spark
    graft.fixtures.MakerFixtures.ensureDemuxed(spark)
    val defs = graft.fixtures.MakerFixtures.fixtureDefs.take(1)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      s"crashdb.db/${defs.head.table}")
    // a crashed write leaves staging under _temporary with '='-less inner
    // dirs — still a materialization artifact, must be cleared, not refused
    val staged = new org.apache.hadoop.fs.Path(
      dir, "_temporary/0/task_202601_0001_m_000000/part-00000.parquet")
    val out = fs.create(staged, false)
    out.write(Array[Byte](1, 2, 3)); out.close()
    try {
      graft.catalog.Warehouse.materialize(spark,
        fixtureTables(spark), defs, db = "crashdb")
      assert(spark.sql(s"SELECT COUNT(*) FROM crashdb.${defs.head.table}")
        .head().getLong(0) > 0)
    } finally {
      fs.delete(dir.getParent, true)
      spark.sql("DROP DATABASE IF EXISTS crashdb CASCADE")
    }
  }
}

/** Config-driven function registration via SparkSessionExtensions. */
class ExtensionsSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("spark.sql.extensions=graft.codec.GraftExtensions registers all functions") {
    import org.apache.spark.sql.SparkSession
    val base = TestSpark.spark // keep the shared context alive
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // the config route (spark.sql.extensions=graft.codec.GraftExtensions)
      // only applies when the SparkContext is created; the shared test
      // context already exists, so exercise the same injection hook via
      // the builder
      val s2 = SparkSession.builder().master("local[2]")
        .withExtensions(new graft.codec.GraftExtensions())
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val r = s2.sql("""
        SELECT wad(CAST(1500000000000000000 AS DECIMAL(38,0))) AS w,
               lower(hex(keccak256(CAST('' AS BINARY)))) AS h,
               bytes32_to_ascii(CAST('ETH-A' AS BINARY)) AS ilk""").head()
      assert(r.getDouble(0) == 1.5)
      assert(r.getString(1).startsWith("c5d2460186f7")) // keccak256("")
      assert(r.getString(2) == "ETH-A")
      val series = s2.sql("SELECT * FROM generate_series(1, 9, 4)")
        .collect().map(_.get(0).toString.toLong).toSeq
      assert(series == Seq(1L, 5L, 9L))
      // similarity surface is SQL-reachable too
      val sim = s2.sql("""
        SELECT dot_double(array(1D, 2D, 3D), array(4D, 5D, 6D)) AS dp,
               (SELECT simhash_agg(h) FROM VALUES (CAST(5 AS BIGINT)),
                (CAST(5 AS BIGINT)) AS t(h)) AS sh""").head()
      assert(sim.getDouble(0) == 32.0)
      assert(sim.getLong(1) == 5L)
      // store TVFs: build a tiny store, read a range and a version via SQL
      val root = java.nio.file.Files
        .createTempDirectory("graft_ext_tvf").toString + "/store"
      val store = new graft.ingest.ManifestStore(root)
      import s2.implicits._
      store.append(s2, Seq((1L, "a"), (5L, "b")).toDF("event_id", "p"),
        rangeCol = Some("event_id"))
      val v1 = store.currentVersion(s2)
      store.append(s2, Seq((9L, "c")).toDF("event_id", "p"),
        rangeCol = Some("event_id"))
      val rng = s2.sql(
        s"SELECT event_id FROM graft_store_range('$root', 4, 10) ORDER BY 1")
        .collect().map(_.getLong(0)).toSeq
      assert(rng == Seq(5L, 9L))
      val tt = s2.sql(
        s"SELECT event_id FROM graft_store_version('$root', $v1) ORDER BY 1")
        .collect().map(_.getLong(0)).toSeq
      assert(tt == Seq(1L, 5L))
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }
}

/** Repo overlay config: reference tree + the jug entry it is missing. */
class OverlayConfSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("graft.conf includes the reference config and adds jug") {
    val reg = graft.catalog.Contracts.load("/root/repo/conf/graft.conf")
    // reference entries still present
    val vat = reg("makermcd", "vat")
    assert(vat.addresses.nonEmpty && vat.creationBlock > 0)
    // the gap the reference shipped with is closed
    val jug = reg("makermcd", "jug")
    assert(jug.addresses == Seq("0x19c0976f590d67707e62397c87829d896dc0f1f1"))
    assert(jug.creationBlock == 8928160L && jug.blocksStep == 10000L)
  }
}
