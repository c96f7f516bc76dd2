package chainbench

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Per-layer figures of a traced phase, from its spans. */
object Layers {

  import Stats.median
  private def nz(xs: Seq[Double]): Seq[Double] = if (xs.isEmpty) Seq(0.0) else xs

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(ivs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(i => i._2 > i._1)
      .sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** One runAtomic call split into its phases (ns): planning (entry to
    * the first job), the write jobs, the readback count (its last job),
    * and the rest of its own time (write finalisation and commit). */
  final case class IngestCall(span: Span, jobs: Seq[Span], rpc: Seq[Span]) {
    val sortedJobs: Seq[Span] = jobs.sortBy(_.start)
    val noop: Boolean = jobs.isEmpty
    val planEnd: Long = sortedJobs.headOption.map(_.start).getOrElse(span.end)
    val planNs: Long = planEnd - span.start
    val writeJobs: Seq[Span] = sortedJobs.dropRight(1)
    val readbackJob: Option[Span] = sortedJobs.lastOption
    val commitNs: Long = span.dur - planNs - covered(jobs.map(j => (j.start, j.end)), span.start, span.end)
    val planRpc: Seq[Span] = rpc.filter(r => r.start >= span.start && r.start < planEnd)
    val fetchRpc: Seq[Span] = rpc.filter(r => r.start >= planEnd && r.start <= span.end)
  }

  /** `phaseStart`/`phaseWallS` bound the traced measured phase, which the
    * CPU utilisation is taken over. */
  def compute(traced: Vector[Span], nproc: Int, phaseStart: Long, phaseWallS: Double): Map[String, Double] = {
    // operations that threw (cancelled at the end of the phase, or failed)
    // are left out, with every span under them
    val under = traced.groupBy(_.parent)
    def subtree(id: Long): Seq[Long] = id +: under.getOrElse(id, Nil).flatMap(k => subtree(k.id))
    val dropped = traced.filter(s => s.kind == "bench" && s.name.startsWith("op.") && s.attrs.contains("failed"))
      .flatMap(s => subtree(s.id)).toSet
    val spans = traced.filterNot(s => dropped.contains(s.id))
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.groupBy(_.parent)
    val bench = spans.filter(_.kind == "bench")
    val jobs = spans.filter(_.kind == "job")
    val stages = spans.filter(_.kind == "stage")
    val tasks = spans.filter(_.kind == "task")
    val rpc = spans.filter(_.kind == "rpc")
    val stagesOf = stages.groupBy(_.parent)
    val tasksOf = tasks.groupBy(_.parent)
    def jobsUnder(id: Long): Seq[Span] = children.getOrElse(id, Nil).filter(_.kind == "job")
    def stagesUnder(jobIds: Seq[Long]): Seq[Span] = jobIds.flatMap(j => stagesOf.getOrElse(j, Nil))
    def tasksUnder(stageIds: Seq[Long]): Seq[Span] = stageIds.flatMap(s => tasksOf.getOrElse(s, Nil))
    def skew(ts: Seq[Span]): Double =
      if (ts.isEmpty) 1.0 else ts.map(_.dur.toDouble).max / math.max(1.0, median(ts.map(_.dur.toDouble)))

    // ---- ingest
    val calls = bench.filter(_.name == "ingest.runAtomic").map(s => IngestCall(s, jobsUnder(s.id), rpc))
    val live = calls.filterNot(_.noop)
    val landed = bench.filter(_.name == "ingest.runAtomic").map(_.attrs.getOrElse("landed", 0.0)).sum
    val fetchLogs = live.flatMap(_.fetchRpc).filter(_.attrs("over_limit") == 0).map(_.attrs("logs")).sum
    val writeTasks = live.map(c => tasksUnder(stagesUnder(c.writeJobs.map(_.id)).map(_.id)))
    val writeStageSkew = live.map { c =>
      val st = stagesUnder(c.writeJobs.map(_.id))
      val biggest = st.sortBy(s => -tasksOf.getOrElse(s.id, Nil).size).headOption
      skew(biggest.map(s => tasksOf.getOrElse(s.id, Nil)).getOrElse(Nil))
    }
    val metaOf = (k: String) => live.map(_.span.attrs.getOrElse(k, 0.0))

    // ---- queries (assets answers)
    val assetOps = bench.filter(_.name == "op.assets")
    val underOp = (op: Span, name: String) => children.getOrElse(op.id, Nil).filter(_.name == name)
    val qPlans = assetOps.flatMap(underOp(_, "query.plan"))
    val qExecs = assetOps.flatMap(underOp(_, "query.exec"))
    val perQuery = qExecs.map { e =>
      val js = jobsUnder(e.id)
      val st = stagesUnder(js.map(_.id))
      val ts = tasksUnder(st.map(_.id))
      val longest = st.sortBy(-_.dur).headOption
      Map("jobs" -> js.size.toDouble, "stages" -> st.size.toDouble,
        "tasks" -> st.map(_.attrs.getOrElse("tasks", 0.0)).sum,
        "shuffle" -> st.map(_.attrs.getOrElse("shuffle_write_bytes", 0.0)).sum,
        "spill" -> st.map(_.attrs.getOrElse("spill_bytes", 0.0)).sum,
        "input" -> ts.map(_.attrs.getOrElse("input_bytes", 0.0)).sum,
        "skew" -> skew(longest.map(s => tasksOf.getOrElse(s.id, Nil)).getOrElse(Nil)))
    }
    def perQ(k: String): Double = median(nz(perQuery.map(_(k))))

    // ---- self time by layer, over every root op
    val roots = bench.filter(b => b.name.startsWith("op.") && !byId.contains(b.parent))
    val self = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    def attribute(s: Span): Unit = {
      val kids = children.getOrElse(s.id, Nil).filter(k => k.kind == "bench" || k.kind == "job")
      if (s.name == "ingest.runAtomic") {
        val c = IngestCall(s, kids.filter(_.kind == "job"), Nil)
        self("plan") += c.planNs
        self("write") += c.writeJobs.map(_.dur).sum
        self("readback") += c.readbackJob.map(_.dur).getOrElse(0L)
        self("commit") += c.commitNs
      } else {
        val layer = s.kind match {
          case "job" => "job"
          case _ => s.name match {
            case "readback" => "readback"
            case "read.resolve" => "resolve"
            case "query.plan" => "query_plan"
            case "query.exec" => "query_exec"
            case "check" => "check"
            case n if n.startsWith("op.") => "unattributed"
            case _ => "other"
          }
        }
        val own = s.dur - covered(kids.map(k => (k.start, k.end)), s.start, s.end)
        self(layer) += own
        kids.foreach { k =>
          if (k.kind == "job") self(if (layer == "unattributed") "other" else layer) += k.dur
          else attribute(k)
        }
      }
    }
    roots.foreach(attribute)
    val rootWall = roots.map(_.dur).sum.toDouble
    val taskNs = tasks.filter(_.start >= phaseStart).map(_.dur).sum.toDouble

    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    m("rpc.requests") = rpc.size
    m("rpc.overlimit_errors") = rpc.count(_.attrs("over_limit") > 0)
    m("rpc.bytes_served") = rpc.map(_.attrs("bytes")).sum
    m("rpc.logs_served_per_landed") = rpc.map(_.attrs("logs")).sum / math.max(1.0, landed)
    m("rpc.stub_busy_s") = rpc.map(_.dur).sum / 1e9
    m("plan.s") = median(nz(live.map(_.planNs / 1e9)))
    m("plan.requests") = median(nz(live.map(_.planRpc.size.toDouble)))
    m("plan.ranges") = median(nz(live.map { c =>
      val f = c.fetchRpc
      (f.size - 2 * f.count(_.attrs("over_limit") > 0)).toDouble
    }))
    m("write.task_s") = median(nz(writeTasks.map(_.map(_.dur).sum / 1e9)))
    m("write.task_skew") = median(nz(writeStageSkew))
    m("tag.kept_ratio") = landed / math.max(1.0, fetchLogs)
    m("commit.s") = median(nz(live.map(_.commitNs / 1e9)))
    m("write.files_added") = median(nz(metaOf("files_added")))
    m("write.bytes_per_log") = metaOf("bytes_added").sum / math.max(1.0, landed)
    m("query.plan_s") = median(nz(qPlans.map(_.dur / 1e9)))
    m("query.exec_s") = median(nz(qExecs.map(_.dur / 1e9)))
    m("query.jobs") = perQ("jobs")
    m("query.stages") = perQ("stages")
    m("query.tasks") = perQ("tasks")
    m("query.shuffle_bytes") = perQ("shuffle")
    m("query.spill_bytes") = perQ("spill")
    m("query.task_skew") = perQ("skew")
    m("scan.bytes_read") = perQ("input")
    m("cpu.utilisation") = taskNs / 1e9 / math.max(1e-9, phaseWallS * nproc)
    Seq("plan", "write", "commit", "readback", "resolve", "query_plan", "query_exec", "check", "other")
      .foreach(l => m(s"self.${l}_s") = self(l) / 1e9)
    m("trace.wall_s") = rootWall / 1e9
    m("trace.unattributed_share") = self("unattributed") / math.max(1.0, rootWall)
    m.toMap
  }

  /** Every plan node, through AQE stages and reused exchanges. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => Seq(r)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Scan figures of one executed plan: relations scanned, files read
    * after pruning, files the relations list, bytes of files read. */
  def scanFigures(p: SparkPlan): Map[String, Double] = {
    val scans = nodes(p).collect { case s: FileSourceScanExec => s }
    def metric(s: FileSourceScanExec, k: String): Double = s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    val read = scans.map(metric(_, "numFiles")).sum
    val total = scans.map(_.relation.location.inputFiles.length.toDouble).sum
    Map("relations" -> scans.size.toDouble, "files_read" -> read, "files_total" -> total,
      "prune_ratio" -> (if (total > 0) 1 - read / total else 0.0),
      "files_bytes" -> scans.map(metric(_, "filesSize")).sum)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
