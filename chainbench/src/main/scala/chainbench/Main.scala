package chainbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Ingest-to-answer benchmark driver.
  *
  * {{{
  *   chainbench.Main --workload backfill|dashboard --seed N --seconds S
  *                   --trace 0|1 --inputs DIR --work DIR --out DIR
  * }}}
  *
  * Prints one JSON object as its last stdout line: `correct`, `attempted`,
  * `failed` and `metrics` (the end-to-end metrics untraced, the per-layer
  * metrics traced). Exits 1 when any correctness guard failed.
  */
object Main {

  /** Set-up repetitions per workload (setup_s is their median). */
  val SetupReps: Map[String, Int] = Map("backfill" -> 3, "dashboard" -> 2)
  /** Follow-sized commits on top of the dashboard's backfill (C). */
  val DashboardCommits = 2

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        inputs: Path, work: Path, out: Path)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(SetupReps.contains(w), s"unknown workload $w")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Paths.get(need("inputs")), Paths.get(need("work")), Paths.get(need("out")))
  }

  private def gcNs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum * 1000000L

  /** Heap still in use right after a full collection, in MB. Spark's
    * listener events are delivered first: queued, they would count. */
  private def liveHeapMb(sc: org.apache.spark.SparkContext): Double = {
    org.apache.spark.ChainbenchShim.drainListeners(sc)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Alternating untraced and traced probe pairs for `trace.overhead_s`. */
  val OverheadPairs = 6

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmUpS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val nproc = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(a.work)
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"chainbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"[chainbench] jvm_start_s $jvmUpS%.3f spark_start_s ${
      ManagementFactory.getRuntimeMXBean.getUptime / 1e3 - jvmUpS}%.3f")
    val code =
      try run(a, spark, nproc)
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally {
        val t = System.nanoTime()
        spark.stop()
        System.err.println(f"[chainbench] spark_stop_s ${(System.nanoTime() - t) / 1e9}%.3f")
      }
    // the stub's and Spark's worker threads must not keep the JVM alive
    sys.exit(code)
  }

  def run(a: Args, spark: SparkSession, nproc: Int): Int = {
    val runId = s"${a.workload}-${a.seed}-${System.currentTimeMillis()}"
    val trace = new Trace(runId, spark.sparkContext)
    spark.sparkContext.addSparkListener(trace.listener)
    val engine = new Engine(spark, a.inputs, trace)
    engine.checkDispatchKeys()

    val setupSamples = new Samples
    val w = new Workloads(engine, a.work, a.seed, nproc, DashboardCommits, setupSamples)
    val setup = a.workload match {
      case "backfill" => () => w.setupBackfill()
      case _ => () => w.setupDashboard()
    }
    // cold-start costs land here, not in the first timed set-up or
    // operation
    val tw = System.nanoTime()
    w.warmup(a.workload)
    System.err.println(f"[chainbench] warmup_s ${(System.nanoTime() - tw) / 1e9}%.3f")
    val reps = SetupReps(a.workload)
    val setupTimes = (1 to reps).map { r =>
      w.traceCommits = a.trace && r == reps
      val t0 = System.nanoTime()
      val st = setup()
      val s = (System.nanoTime() - t0) / 1e9
      if (r < reps) st.stub.close()
      s -> st
    }
    val st = setupTimes.last._2
    // taken after the set-ups, whose work is the same in every run; after
    // the measured phase the heap would also hold Spark's status records
    // of however many operations the run fitted
    val liveMb = liveHeapMb(spark.sparkContext)
    System.err.println(f"[chainbench] setup_s ${setupTimes.map(_._1).map(x => f"$x%.3f").mkString(" ")}")

    val measure: Long => Unit = a.workload match {
      case "backfill" => d => w.runBackfill(st, d)
      case _ => d => w.runDashboard(st, d)
    }
    val samples = new Samples
    w.samples = samples
    if (a.trace) {
      st.stub.drain()
      org.apache.spark.ChainbenchShim.drainListeners(spark.sparkContext)
      trace.enabled = true
    }
    val gc0 = gcNs()
    val t0 = System.nanoTime()
    measure(t0 + a.seconds * 1000000000L)
    val wall = (System.nanoTime() - t0) / 1e9
    val layerMetrics =
      if (!a.trace) Map.empty[String, Double]
      else {
        org.apache.spark.ChainbenchShim.drainListeners(spark.sparkContext)
        trace.addRpc(st.stub.drain())
        trace.enabled = false
        val layer = Layers.compute(trace.all, nproc, t0, wall) ++
          layerExtras(engine, w, samples, setupSamples) ++
          Map("jvm.gc_s" -> (gcNs() - gc0) / 1e9)
        val overhead = w.traceOverhead(OverheadPairs)
        System.err.println(s"[chainbench] trace overhead per pair: ${overhead.map(x => f"$x%.4f").mkString(" ")}")
        layer ++ Map("trace.overhead_s" -> Stats.median(overhead), "trace.overhead_n" -> overhead.size.toDouble,
          "jvm.live_heap_mb" -> liveMb)
      }
    st.stub.close()

    val all = Seq(setupSamples, samples)
    val attempted = all.map(_.attempted.get).sum
    val failed = all.map(_.failed.get).sum
    all.flatMap(_.failures.asScala).take(10).foreach(f => System.err.println(s"[chainbench] FAILED $f"))

    // dashboard ingests only in set-up: its ingest-side figures come from
    // the set-up's follow-sized commits and closing answer
    val ingestSide = if (a.workload == "dashboard") setupSamples else samples
    // medians only: a run holds too few samples of each kind (under 20)
    // for any percentile above the median to have ten samples beyond it;
    // stderr shows each count and maximum
    def med(s: Samples, k: String) = {
      val xs = s.get(k)
      System.err.println(f"[chainbench] $k: n=${xs.size} p50=${Stats.median(xs)}%.4f max=${xs.maxOption.getOrElse(Double.NaN)}%.4f")
      Stats.median(xs)
    }
    val endToEnd = Seq(
      ("setup_s", Stats.median(setupTimes.map(_._1)), "s"),
      ("ingest_logs_per_s", ingestSide.get("landed").sum / ingestSide.get("ingest_s").sum, "logs/s"),
      ("ingest_to_answer_s", med(ingestSide, "ingest_to_answer"), "s"),
      ("freshness_p50_s", med(ingestSide, "freshness"), "s"),
      ("assets_p50_s", med(samples, "assets"), "s"),
      ("lookup_p50_s", med(samples, "lookup"), "s"),
      ("queries_per_s", med(samples, "read_rate"), "1/s"),
      ("store_bytes_per_log", med(samples, "store_bytes_per_log"), "B"))

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) endToEnd
      else PerLayer.map { case (k, unit) =>
        (k, layerMetrics.getOrElse(k, if (k == "failed_ratio") failed.toDouble / math.max(1, attempted) else Double.NaN), unit)
      }
    val correct = failed == 0 && metrics.forall(m => !m._2.isNaN)
    metrics.filter(_._2.isNaN).foreach(m => System.err.println(s"[chainbench] metric ${m._1} has no samples"))

    if (a.trace) trace.write(a.out.resolve(s"trace-$runId.jsonl"))
    val report = metrics.map { case (k, v, u) => s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}" }
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${report.mkString(",")}}}""")
    if (correct) 0 else 1
  }

  /** Per-layer figures that are not spans: store and manifest state,
    * scan figures of the last traced plans, the decode cost, the no-op
    * poll. */
  def layerExtras(engine: Engine, w: Workloads, traced: Samples, setup: Samples): Map[String, Double] = {
    val spark = engine.spark
    // decode: raw row count versus decoded row count over the same files
    val (rowsIn, rowsOut, rawS, decS) = engine.assetsTables.map { t =>
      val d = engine.defByTable(t)
      val t0 = System.nanoTime()
      val raw = w.lastStore.read(spark).get
        .filter(org.apache.spark.sql.functions.col("table_name") === d.qualified).count()
      val t1 = System.nanoTime()
      val dec = graft.ingest.Demux.readTable(spark, w.lastStore, d).count()
      val t2 = System.nanoTime()
      (raw, dec, t1 - t0, t2 - t1)
    }.foldLeft((0L, 0L, 0L, 0L)) { case (x, y) => (x._1 + y._1, x._2 + y._2, x._3 + y._3, x._4 + y._4) }
    val scan = engine.lastAssetsScan
    val look = engine.lastLookupScan
    Map(
      "manifest.versions" -> w.lastStore.currentVersion(spark).toDouble,
      "manifest.live_files" -> w.lastStore.currentFiles(spark).size.toDouble,
      "poll.noop_s" -> Stats.median(traced.get("poll_noop") ++ setup.get("poll_noop")),
      "scan.relations" -> scan.getOrElse("relations", Double.NaN),
      "scan.files_read" -> scan.getOrElse("files_read", Double.NaN),
      "scan.files_total" -> scan.getOrElse("files_total", Double.NaN),
      "scan.prune_ratio" -> scan.getOrElse("prune_ratio", Double.NaN),
      "lookup.files_read" -> look.getOrElse("files_read", Double.NaN),
      "lookup.prune_ratio" -> look.getOrElse("prune_ratio", Double.NaN),
      "decode.rows_in" -> rowsIn.toDouble,
      "decode.rows_out" -> rowsOut.toDouble,
      "decode.s" -> (decS - rawS) / 1e9)
  }

  /** The per-layer metrics a traced run prints, with units. */
  val PerLayer: Seq[(String, String)] = Seq(
    "rpc.requests" -> "count", "rpc.overlimit_errors" -> "count", "rpc.bytes_served" -> "B",
    "rpc.logs_served_per_landed" -> "ratio", "rpc.stub_busy_s" -> "s",
    "plan.s" -> "s", "plan.requests" -> "count", "plan.ranges" -> "count",
    "write.task_s" -> "s", "write.task_skew" -> "ratio", "tag.kept_ratio" -> "ratio",
    "commit.s" -> "s", "write.files_added" -> "count", "write.bytes_per_log" -> "B",
    "manifest.versions" -> "count", "manifest.live_files" -> "count", "poll.noop_s" -> "s",
    "scan.relations" -> "count", "scan.files_read" -> "count", "scan.files_total" -> "count",
    "scan.prune_ratio" -> "ratio", "scan.bytes_read" -> "B",
    "lookup.files_read" -> "count", "lookup.prune_ratio" -> "ratio",
    "decode.rows_in" -> "count", "decode.rows_out" -> "count", "decode.s" -> "s",
    "query.plan_s" -> "s", "query.exec_s" -> "s", "query.jobs" -> "count",
    "query.stages" -> "count", "query.tasks" -> "count", "query.shuffle_bytes" -> "B",
    "query.spill_bytes" -> "B", "query.task_skew" -> "ratio",
    "jvm.gc_s" -> "s", "jvm.live_heap_mb" -> "MB", "cpu.utilisation" -> "ratio",
    "self.plan_s" -> "s", "self.write_s" -> "s", "self.commit_s" -> "s", "self.readback_s" -> "s",
    "self.resolve_s" -> "s", "self.query_plan_s" -> "s", "self.query_exec_s" -> "s",
    "self.check_s" -> "s", "self.other_s" -> "s",
    "trace.wall_s" -> "s", "trace.unattributed_share" -> "ratio", "trace.overhead_s" -> "s",
    "trace.overhead_n" -> "count", "failed_ratio" -> "ratio")
}
