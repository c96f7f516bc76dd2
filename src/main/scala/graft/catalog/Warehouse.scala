package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.abi.AbiSchema

/** Schema-qualified warehouse namespaces (SURVEY Q2; reference
  * classes.py:56 `create schema if not exists {schema}`, README.md:73's
  * `CREATE DATABASE makermcd`): decoded tables are materialized into
  * `<db>.<table>` through the session catalog, so a BI tool or
  * `spark.sql("SELECT ... FROM makermcd.vat_call_frob")` resolves them by
  * qualified name like any warehouse table.
  *
  * Design: the demux store stays the ingest-side format (raw+tag,
  * partitioned by table_name); the warehouse holds the decoded serving
  * copy — the same split the reference makes between its fetch loop and
  * the PG/Snowflake tables it INSERTs decoded rows into. Decode runs once
  * at materialization instead of on every read, the right trade for a
  * many-reader warehouse at scale; `saveAsTable` keeps Spark's native
  * parquet layout so downstream scans get pushdown/pruning as usual.
  */
object Warehouse {

  /** Sessions×table sets this JVM has fully materialized (non-overwrite
    * path only), so a repeat gate invocation skips one CREATE DATABASE +
    * one catalog tableExists lookup PER DEF — pure catalog-metadata
    * churn. The source is not part of the key: a non-overwrite call never
    * rewrites an existing table, whatever it would read. An overwrite
    * call always runs and re-registers. */
  private val materialized =
    java.util.concurrent.ConcurrentHashMap.newKeySet[(SparkSession, String)]()

  /** Create each def's database if needed and materialize its decoded
    * table, read through `decoded` — the caller names the store and its
    * format (`Demux.readTable` over a plain demux directory or a
    * [[graft.ingest.ManifestStore]]). A def carrying a namespace
    * (`schemaName`, the conf-tree directory) lands in ITS OWN database —
    * the reference's `create schema if not exists {schema}`
    * (classes.py:56): aave.lending_pool_evt_deposit and
    * aave_v2.lending_pool_evt_deposit are separate warehouse tables.
    * Namespace-less defs (fixtures, single-schema callers) fall back to
    * the `db` argument. Idempotent: existing tables are kept unless
    * `overwrite` (the reference's autocreate-then-append shape).
    *
    * Orphan-directory handling: a previous SESSION's managed-table
    * directory can survive in the warehouse dir while the in-memory
    * catalog starts empty — CREATE refuses an existing location, so such
    * a directory must be cleared. But the derived path might equally hold
    * user data this job never wrote, so deletion happens only immediately
    * before the write, and only when the directory's contents look like a
    * prior Spark table materialization (part files, `col=...` partition
    * dirs, and `_`/`.`-prefixed bookkeeping); anything else aborts loudly
    * instead of being destroyed. */
  def materialize(spark: SparkSession, decoded: AbiSchema.TableDef => DataFrame,
                  defs: Seq[AbiSchema.TableDef], db: String = "makermcd",
                  overwrite: Boolean = false): Unit = synchronized {
    val memoKey = (spark, db + ":" + defs.map(_.qualified).mkString(","))
    if (!overwrite && materialized.contains(memoKey)) return
    defs.groupBy(d => if (d.schemaName.isEmpty) db else d.schemaName)
      .toSeq.sortBy(_._1).foreach { case (dbName, ds) =>
        require(dbName.matches("[A-Za-z0-9_]+"),
          s"invalid database name: '$dbName'")
        spark.sql(s"CREATE DATABASE IF NOT EXISTS `$dbName`")
        ds.foreach { d =>
          val fq = s"$dbName.${d.table}"
          val exists = spark.catalog.tableExists(fq)
          if (!exists || overwrite) {
            if (!exists) clearOrphanTableDir(spark, dbName, d.table)
            decoded(d).write.mode("overwrite").format("parquet").saveAsTable(fq)
          }
        }
      }
    materialized.add(memoKey)
  }

  /** Directory names whose ENTIRE subtree is writer bookkeeping — the
    * staging layouts Spark/Hive actually produce on a crashed write,
    * whose inner names (attempt/task ids) follow no other convention.
    * Deliberately a closed list: a generic `_`/`.` prefix rule would
    * classify a user's `.backup/` as deletable. */
  private def isStagingDir(name: String): Boolean =
    name == "_temporary" || name.startsWith(".hive-staging") ||
      name.startsWith(".spark-staging")

  /** True iff EVERY file under `p` (recursively) is something Spark
    * writes into a managed parquet table: part files or `_`/`.`
    * bookkeeping files, under `col=value` partition dirs — plus anything
    * nested under a known staging dir ([[isStagingDir]]). A single
    * foreign file at any depth fails the check (empty stray directories
    * are tolerated: deleting them loses nothing). */
  private def looksLikeMaterialization(
      fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Boolean = {
    val base = p.toUri.getPath.stripSuffix("/")
    val it = fs.listFiles(p, true)
    var ok = true
    while (ok && it.hasNext) {
      val st = it.next()
      val n = st.getPath.getName
      val rel = st.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/")
      val dirSegs = rel.split('/').dropRight(1)
      val underStaging = dirSegs.exists(isStagingDir)
      val fileOk = n.startsWith("part-") || n.startsWith("_") || n.startsWith(".")
      ok = underStaging || (fileOk && dirSegs.forall(_.contains("=")))
    }
    ok
  }

  private def clearOrphanTableDir(spark: SparkSession, db: String,
                                  table: String): Unit = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), s"$db.db/$table")
    if (fs.exists(dir)) {
      if (!looksLikeMaterialization(fs, dir))
        throw new IllegalStateException(
          s"refusing to clear $dir: directory is not registered in the " +
            "catalog but does not look like a prior table materialization " +
            "— remove or relocate it manually")
      fs.delete(dir, true)
    }
  }
}
