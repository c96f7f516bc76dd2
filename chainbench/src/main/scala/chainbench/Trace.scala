package chainbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One span. `kind` is "bench" (around a public call, recorded by the
  * benchmark), "job", "stage" or "task" (Spark listener events) or "rpc"
  * (the stub's request log). Times are System.nanoTime-based. */
final case class Span(id: Long, parent: Long, run: String, kind: String,
                      name: String, layer: String, start: Long, end: Long,
                      attrs: Map[String, Double] = Map.empty) {
  def dur: Long = end - start
}

/** Span recorder. Off by default: then [[span]] only runs its body.
  * Spans stay in memory until [[write]]. Spark work submitted inside a
  * bench span is tied to it through a job-local property. */
final class Trace(val run: String, sc: SparkContext) {
  @volatile var enabled = false
  private val ids = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }
  private val SpanProp = "chainbench.span"

  def all: Vector[Span] = spans.asScala.toVector
  def nextId(): Long = ids.getAndIncrement()

  /** Record `f` as a span of `layer`; Spark jobs it starts become its children. */
  def span[T](name: String, layer: String)(f: => T): T =
    spanWith(name, layer)(f)(_ => Map.empty)

  /** [[span]] with attributes computed from the result, after the span ends. */
  def spanWith[T](name: String, layer: String)(f: => T)(attrs: T => Map[String, Double]): T =
    if (!enabled) f
    else {
      val id = nextId()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val prevProp = sc.getLocalProperty(SpanProp)
      sc.setLocalProperty(SpanProp, id.toString)
      val t0 = System.nanoTime()
      var end = 0L
      try {
        val r = f
        end = System.nanoTime()
        spans.add(Span(id, parent, run, "bench", name, layer, t0, end, attrs(r)))
        r
      } catch {
        case e: Throwable =>
          spans.add(Span(id, parent, run, "bench", name, layer, t0, System.nanoTime(), Map("failed" -> 1.0)))
          throw e
      } finally {
        stack.set(stack.get.tail)
        sc.setLocalProperty(SpanProp, prevProp)
      }
    }

  /** Listener turning job, stage and task events into spans. The span
    * start of a job or stage is taken from the event's wall clock,
    * converted to the nanoTime base at receipt. */
  val listener: SparkListener = new SparkListener {
    private val jobIds = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Long)]() // job -> (span id, parent, startNs)
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Long]()            // stage -> job span id
    private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    private def nowNs(wallMs: Long): Long =
      System.nanoTime() - (System.currentTimeMillis() - wallMs) * 1000000L

    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)
      val id = nextId()
      jobIds.put(e.jobId, (id, parent, nowNs(e.time)))
      e.stageIds.foreach(s => stageJob.put(s, id))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobIds.remove(e.jobId)
      if (j != null && enabled)
        spans.add(Span(j._1, j._2, run, "job", s"job ${e.jobId}", "", j._3, nowNs(e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
      val info = e.stageInfo
      val parent = Option(stageJob.get(info.stageId)).getOrElse(0L)
      val id = Option(stageSpan.remove(info.stageId)).getOrElse(nextId())
      val m = info.taskMetrics
      val attrs = if (m == null) Map.empty[String, Double] else Map(
        "tasks" -> info.numTasks.toDouble,
        "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
        "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead.toDouble,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble,
        "input_bytes" -> m.inputMetrics.bytesRead.toDouble)
      val start = info.submissionTime.map(nowNs).getOrElse(System.nanoTime())
      val end = info.completionTime.map(nowNs).getOrElse(System.nanoTime())
      spans.add(Span(id, parent, run, "stage", s"stage ${info.stageId}", "", start, end, attrs))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (enabled)
      stageSpan.putIfAbsent(e.stageInfo.stageId, nextId())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled && e.taskInfo != null) {
      val parent = Option(stageSpan.get(e.stageId)).getOrElse(0L)
      val m = e.taskMetrics
      val attrs = if (m == null) Map.empty[String, Double] else Map(
        "run_ms" -> m.executorRunTime.toDouble,
        "gc_ms" -> m.jvmGCTime.toDouble,
        "input_bytes" -> m.inputMetrics.bytesRead.toDouble)
      spans.add(Span(nextId(), parent, run, "task", s"task ${e.taskInfo.taskId}", "",
        nowNs(e.taskInfo.launchTime), nowNs(e.taskInfo.finishTime), attrs))
    }
  }

  /** Stub requests become "rpc" spans; the parent is the innermost bench
    * span open on any thread that covers the request. */
  def addRpc(records: Seq[RpcRecord]): Unit = if (enabled) records.foreach { r =>
    spans.add(Span(nextId(), 0L, run, "rpc", "eth_getLogs", "rpc", r.startNs, r.endNs,
      Map("logs" -> r.logs.toDouble, "known_logs" -> r.knownLogs.toDouble,
        "bytes" -> r.bytes.toDouble, "over_limit" -> (if (r.overLimit) 1.0 else 0.0))))
  }

  /** Write every span as one JSON line. */
  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.start).foreach { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      w.write(s"""{"run":"${s.run}","id":${s.id},"parent":${s.parent},"kind":"${s.kind}",""" +
        s""""name":"${s.name}","layer":"${s.layer}","start_ns":${s.start},"end_ns":${s.end},"attrs":{$attrs}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Tiny JSON number rendering shared by the report writers. */
object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
