package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.abi.{AbiJson, AbiSchema}
import graft.fixtures.MakerFixtures
import graft.ingest.{Demux, ManifestStore}

/** A ManifestStore read plans one relation per physical schema, not one
  * per commit: commits that share a schema read through one manifest
  * file index, so planning cost stays flat as commits pile up while
  * pruning, answers and schema evolution stay what per-commit reads
  * gave. */
class SnapshotRelationsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def fresh(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_rel_$tag").toString + "/store"

  private def scans(df: DataFrame): Int =
    Plans.parquetScans(df.queryExecution.executedPlan).size

  /** `<root>/data/<commit>` of a snapshot file's absolute path. */
  private def commitDir(file: String): String =
    file.substring(0, file.indexOf('/', file.indexOf("/data/") + "/data/".length))

  /** The current snapshot read the way a per-commit reader does: each
    * commit directory on its own with itself as `basePath`, unioned. */
  private def perCommitRead(store: ManifestStore): DataFrame =
    store.currentFiles(spark).groupBy(commitDir).toSeq.sortBy(_._1).map {
      case (dir, files) => spark.read.option("basePath", dir).parquet(files: _*)
    }.reduce(_.unionByName(_, allowMissingColumns = true))

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  // the fixture corpus's PSM events (the same entries as conf/makermcd/psm.abi)
  private lazy val psmDefs: Seq[AbiSchema.TableDef] = AbiSchema.tables("psm",
    AbiJson.parse("""[
      {"type": "event", "name": "BuyGem", "anonymous": false, "inputs": [
        {"name": "owner", "type": "address", "indexed": true},
        {"name": "value", "type": "uint256", "indexed": false},
        {"name": "fee", "type": "uint256", "indexed": false}]},
      {"type": "event", "name": "SellGem", "anonymous": false, "inputs": [
        {"name": "owner", "type": "address", "indexed": true},
        {"name": "value", "type": "uint256", "indexed": false},
        {"name": "fee", "type": "uint256", "indexed": false}]}]"""))

  test("relations stay flat as commits grow: C = 10 range commits plan one scan") {
    MakerFixtures.ensure(spark)
    val tagged = Demux.taggedKnown(
      spark.read.parquet(MakerFixtures.rawLogsPath), psmDefs)
    val bounds = tagged.agg(min("block_number"), max("block_number")).head()
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val step = (hi - lo) / 10 + 1
    val store = new ManifestStore(fresh("c10"))
    (0 until 10).foreach { i =>
      val (from, to) = (lo + i * step, lo + (i + 1) * step - 1)
      store.overwriteRange(spark,
        tagged.filter(col("block_number").between(from, to)),
        from, to, "block_number", Seq("table_name"),
        bloomCols = Seq("transaction_hash"))
    }
    val commits = store.currentFiles(spark).map(commitDir).distinct
    assert(commits.size == 10, s"expected 10 commit dirs, got ${commits.size}")
    val buy = psmDefs.find(_.table == "psm_evt_buygem").get
    val frame = Demux.readTable(spark, store, buy)
    assert(scans(frame) == 1, s"planned ${scans(frame)} scans over 10 commits")
    // the answer is the per-commit reads' answer, row for row
    val expected = Demux.table(perCommitRead(store)
      .filter(col("table_name") === buy.qualified).drop("table_name"), buy)
    assert(frame.count() > 0)
    assert(sameRows(frame, expected), "one-relation read diverged from per-commit reads")
    // partition + stats pruning compose across commits: a table + block
    // window probe opens exactly the files of that table whose recorded
    // window overlaps — what per-commit indexes opened
    val (wLo, wHi) = (lo + 2 * step, lo + 4 * step - 1)
    val total = store.currentFiles(spark).size
    val want = store.currentStatEntries(spark).count { case (rel, mn, mx) =>
      rel.contains(s"table_name=${buy.qualified}/") &&
        mn.forall(_ <= wHi) && mx.forall(_ >= wLo)
    }
    val probe = store.read(spark).get
      .filter(col("table_name") === buy.qualified &&
        col("block_number").between(wLo, wHi))
    val read = Plans.filesRead(probe)
    assert(read == want && read < total,
      s"table + window probe read $read files, expected $want of $total")
    // a tx-hash lookup still opens one file through the bloom sidecar
    val tx = frame.select("transaction_hash").head().getAs[Array[Byte]](0)
    val lookup = frame.filter(col("transaction_hash") === lit(tx))
    assert(Plans.filesRead(lookup) == 1)
    assert(lookup.count() >= 1)
  }

  test("mixed stores: one relation per physical schema plus one per fallback commit") {
    val store = new ManifestStore(fresh("mixed"))
    val parts = Seq("k")
    // schema A, two commits → one relation
    store.append(spark, Seq((1L, "a", "p_a"), (2L, "b", "p_a")).toDF("id", "name", "k"),
      partitionCols = parts)
    store.append(spark, Seq((3L, "c", "p_b")).toDF("id", "name", "k"),
      partitionCols = parts)
    // schema B: an append that adds a column
    store.append(spark, Seq((4L, "d", 0.5, "p_a")).toDF("id", "name", "score", "k"),
      partitionCols = parts)
    // schema C: the rename generation's files carry the new physical name
    store.renameColumn(spark, "name", "label")
    store.append(spark, Seq((5L, "e", 1.5, "p_c")).toDF("id", "label", "score", "k"),
      partitionCols = parts)
    // a partition value outside the plain-identifier shape (leading
    // digit) reads through its own basePath fallback relation
    store.append(spark, Seq((6L, "f", 2.5, "7x")).toDF("id", "label", "score", "k"),
      partitionCols = parts)
    store.append(spark, Seq((7L, "g", 3.5, "p_d")).toDF("id", "label", "score", "k"),
      partitionCols = parts)
    val df = store.read(spark).get
    assert(scans(df) == 4, s"3 physical schemas + 1 fallback commit, planned ${scans(df)}")
    val rows = df.select(col("id"), col("label"), col("score"), col("k").cast("string"))
      .collect().map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getString(3)))
      .sortBy(_._1).toSeq
    assert(rows == Seq(
      (1L, "a", None, "p_a"), (2L, "b", None, "p_a"), (3L, "c", None, "p_b"),
      (4L, "d", Some(0.5), "p_a"), (5L, "e", Some(1.5), "p_c"),
      (6L, "f", Some(2.5), "7x"), (7L, "g", Some(3.5), "p_d")), rows)
    // partition pruning reaches into every merged relation: a `k` probe
    // opens only that partition's files, from both schema generations
    val pa = df.filter(col("k") === "p_a")
    assert(Plans.filesRead(pa) == store.currentFiles(spark).count(_.contains("/k=p_a/")))
    assert(pa.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 4L))
  }
}
