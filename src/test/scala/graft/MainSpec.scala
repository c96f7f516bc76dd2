package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.fixtures.MakerFixtures

/** CLI entry points (reference EP1/EP2 equivalents). */
class MainSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("ingest makermcd.vat runs the reference config end-to-end") {
    MakerFixtures.ensure(spark)
    val store = java.nio.file.Files.createTempDirectory("graft_cli").toString + "/store"
    Main.main(Array("ingest", "makermcd.vat", "/root/reference", store))
    val ms = new graft.ingest.ManifestStore(store)
    val written = ms.read(spark).get
    // the fixture corpus carries 800 frob + 150 grab + 400 fold vat
    // calls; tags are SCHEMA-QUALIFIED since r15 (the conf-tree
    // namespace is part of the table identity)
    val counts = written.groupBy("table_name").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("makermcd.vat_call_frob") == 800)
    assert(counts("makermcd.vat_call_grab") == 150)
    assert(counts("makermcd.vat_call_fold") == 400)

    // same head again: the snapshot watermark says nothing is new — no
    // rows land, no version is published, the row count stands
    val rows = written.count()
    val version = ms.currentVersion(spark)
    val again = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(again)) {
      Main.main(Array("ingest", "makermcd.vat", "/root/reference", store))
    }
    assert(again.toString.contains("ingested 0 rows"), again.toString)
    assert(ms.currentVersion(spark) == version)
    assert(ms.read(spark).get.count() == rows)

    // the warehouse decodes the ingest store into the defs' own
    // `makermcd` namespace
    Main.main(Array("warehouse", store, "makermcd", "makermcd.vat"))
    def n(t: String) = spark.sql(s"SELECT COUNT(*) FROM makermcd.$t").head().getLong(0)
    assert(n("vat_call_frob") == 800)
    assert(n("vat_call_grab") == 150)
    assert(n("vat_call_fold") == 400)
  }

  test("blocks writes the requested range") {
    val out = java.nio.file.Files.createTempDirectory("graft_cli").toString + "/blocks"
    Main.main(Array("blocks", "100", "299", out))
    assert(spark.read.parquet(out).count() == 200)
  }

  test("compact CLI shrinks a store's file count, content preserved") {
    MakerFixtures.ensure(spark)
    val store = java.nio.file.Files.createTempDirectory("graft_cli").toString + "/store"
    Main.main(Array("ingest", "makermcd.vat", "/root/reference", store))
    val ms = new graft.ingest.ManifestStore(store)
    val before = ms.read(spark).get.count()
    val filesBefore = ms.currentFiles(spark).size
    Main.main(Array("compact", store))
    assert(ms.read(spark).get.count() == before)
    val files = ms.currentFiles(spark)
    assert(files.size < filesBefore, s"${files.size} !< $filesBefore")
    // the table_name layout survives compaction, so a per-table read
    // still prunes to its own directory
    assert(files.forall(_.contains("/table_name=")), files.mkString("\n"))
    val frob = graft.ingest.Demux.readTable(spark, ms,
      MakerFixtures.tableDef("vat_call_frob").copy(schemaName = "makermcd"))
    assert(frob.count() == 800)
    assert(Plans.filesRead(frob) < files.size.toLong)
  }

  test("warehouse CLI materializes qualified tables") {
    Main.main(Array("warehouse"))
    assert(spark.sql("SELECT COUNT(*) FROM makermcd.vat_call_frob")
      .head().getLong(0) == 800)
  }

  test("run/explain CLI serve any registered query; unknown name lists all") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      graft.Main.main(Array("run", "q01_agg", "/root/testdata/sf0.001"))
    }
    assert(out.toString.contains("l_returnflag"))
    val out2 = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out2)) {
      graft.Main.main(Array("explain", "q02_filter_pushdown",
        "/root/testdata/sf0.001"))
    }
    assert(out2.toString.contains("PushedFilters"),
      "explain must print the executed physical plan")
  }

  test("sql CLI runs ad-hoc SQL with graft functions registered") {
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out)) {
      graft.Main.main(Array("sql",
        "SELECT lang, COUNT(*) AS n, " +
          "lower(hex(keccak256(CAST('' AS BINARY)))) AS h " +
          "FROM documents GROUP BY lang ORDER BY lang LIMIT 3",
        "/root/testdata/sf0.001"))
    }
    val s = out.toString
    assert(s.contains("lang") && s.contains("c5d2460186f7"),
      s"sql CLI output missing expected columns/functions: $s")
  }

  test("mstore CLI: compact and vacuum a manifest-committed store") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_cli").toString + "/mstore"
    val store = new graft.ingest.ManifestStore(root)
    (0 until 3).foreach { i =>
      store.append(spark, Seq((i.toLong, s"t${i % 2}")).toDF("block_number", "table_name"),
        partitionCols = Seq("table_name"), rangeCol = Some("block_number"))
    }
    Main.main(Array("compact", root))
    assert(store.read(spark).get.count() == 3)
    // one file per table_name directory after compaction
    val files = store.currentFiles(spark)
    assert(files.size == 2 && files.exists(_.contains("/table_name=t0/")) &&
      files.exists(_.contains("/table_name=t1/")), files.mkString("\n"))
    Main.main(Array("mstore-vacuum", root, "1", "0"))
    assert(store.read(spark).get.count() == 3)
    // below the retained window the manifests are gone
    assert(store.readVersion(spark, 1L).isEmpty)
  }
}
