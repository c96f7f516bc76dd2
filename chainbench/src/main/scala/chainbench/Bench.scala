package chainbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.ingest.{HttpLogRpc, ManifestStore}

/** Timed samples of one run, by kind, plus counts. */
final class Samples {
  private val m = scala.collection.concurrent.TrieMap.empty[String, ArrayBuffer[Double]]
  def add(kind: String, v: Double): Unit = {
    val b = m.getOrElseUpdate(kind, ArrayBuffer.empty[Double])
    b.synchronized(b += v)
  }
  def get(kind: String): Vector[Double] = m.get(kind).map(b => b.synchronized(b.toVector)).getOrElse(Vector.empty)
  val attempted = new java.util.concurrent.atomic.AtomicLong
  val failed = new java.util.concurrent.atomic.AtomicLong
  val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val readOps = new java.util.concurrent.atomic.AtomicLong
}

/** Store, stub and truth a workload measures against. */
final case class State(corpus: Corpus, stub: Stub, rpc: HttpLogRpc, store: ManifestStore,
                       truthAnswer: Seq[String])

/** The workloads. Each has a set-up (timed as `setup_s`, repeated
  * and reported as the median) and a measured closed loop. */
final class Workloads(engine: Engine, workDir: Path, seed: Long, threads: Int,
                      commits: Int, var samples: Samples) {
  import engine.spark

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  /** Trace the dashboard set-up's commits (set for the last set-up of a traced run). */
  var traceCommits = false
  private val dirs = new java.util.concurrent.atomic.AtomicInteger

  /** The store the last measured operations ran against. */
  @volatile var lastStore: ManifestStore = _
  /** The state the last measured operations ran against. */
  @volatile var lastState: State = _

  def freshStore(): ManifestStore = {
    lastStore = new ManifestStore(workDir.resolve(s"store-${dirs.incrementAndGet()}").toString)
    lastStore
  }

  /** Operations still running at this time are cut, not failed: they are
    * cancelled, and neither timed nor counted. */
  @volatile var cutAt: Long = Long.MaxValue

  /** Run one operation: count it, time it, and count a failed guard or
    * an exception as a failure (the run then reports incorrect). */
  def op[T](kind: String)(f: => T): Option[T] = {
    samples.attempted.incrementAndGet()
    val t0 = System.nanoTime()
    try {
      val r = engine.trace.span(s"op.$kind", "op")(f)
      samples.add(kind, secs(t0))
      Some(r)
    } catch {
      case e: Exception if !e.isInstanceOf[GuardFailed] && System.nanoTime() >= cutAt =>
        samples.attempted.decrementAndGet()
        None
      case e: Exception =>
        samples.failed.incrementAndGet()
        samples.failures.add(s"$kind: ${e.getClass.getSimpleName}: ${e.getMessage}".take(600))
        None
    }
  }

  private def check(f: => Unit): Unit = engine.trace.span("check", "check")(f)

  /** One catch-up to the stub head with its readback guard. Records the
    * ingest rate and the freshness (head set → new window read back and
    * checked). A poll at an unchanged head (`noop`) must land nothing;
    * it is timed as `poll_noop`. */
  def catchUp(st: State, advancedAt: Long, noop: Boolean = false): Long = {
    // the engine resumes after the last stored block, so a poll re-reads
    // the blocks since the last known log
    val from = st.store.statsMax(spark).map(_ + 1).getOrElse(st.corpus.creationBlock)
    val head = st.stub.head
    val t0 = System.nanoTime()
    val landed = engine.ingest(st.store, st.rpc, st.corpus.creationBlock, head)
    val ingestS = secs(t0)
    if (noop) {
      check(if (landed != 0) throw new GuardFailed(s"no-op poll at head $head landed $landed rows"))
      samples.add("poll_noop", ingestS)
    } else {
      val keys = engine.readBack(spark, st.store, from, head)
      check(Guards.conservation(engine, st.corpus, from, head, landed, keys))
      samples.add("freshness", secs(advancedAt))
      samples.add("landed", landed.toDouble)
      samples.add("ingest_s", ingestS)
    }
    landed
  }

  def assetsChecked(st: State, sess: SparkSession, want: Seq[String]): Unit = {
    val got = engine.assets(sess, st.store)
    check(Guards.equalAnswers("assets_per_type", got, want))
    samples.readOps.incrementAndGet()
  }

  def lookupChecked(st: State, sess: SparkSession, rnd: scala.util.Random, lo: Long, hi: Long): Unit = {
    val known = st.corpus.known(lo, hi)
    val l = known(rnd.nextInt(known.length))
    val got = engine.lookup(sess, st.store, l.table.get, l.txHash)
    check(Guards.equalAnswers(s"lookup ${Corpus.toHex(l.txHash)}", got, Seq(engine.truthKey(l))))
    samples.readOps.incrementAndGet()
  }

  private def newState(shape: Shape): State = {
    val corpus = new Corpus(seed, shape)
    val stub = new Stub(corpus, threads)
    stub.setHead(corpus.backfillHead)
    State(corpus, stub, new HttpLogRpc(stub.url), freshStore(), Nil)
  }

  /** Passes over the ingest and read operations, so that class loading,
    * JIT and Spark's code generation happen before set-up is timed. The
    * backfill makes two passes on its own chain: after one, its first
    * measured iteration still ran about a third slower than the next, so
    * a run's median moved with how many iterations fitted. The dashboard
    * makes one on a small chain (a whole dashboard set-up would warm it a
    * little more, at twice the cost). The assets answer is not checked
    * here (its truth query would only warm itself); every other guard
    * counts. */
  def warmup(workload: String): Unit = {
    val passes = if (workload == "backfill") 2 else 1
    val shape = if (workload == "backfill") Shape() else Shape.Warmup
    aside {
      val sess = engine.session()
      (1 to passes).foreach { _ =>
        val st = newState(shape)
        try {
          op("warmup")(catchUp(st, System.nanoTime()))
          op("warmup")(engine.assets(sess, st.store))
          op("warmup")(lookupChecked(st, sess, new scala.util.Random(seed), st.corpus.creationBlock, st.stub.head))
          op("warmup")(catchUp(st, System.nanoTime(), noop = true))
        } finally st.stub.close()
      }
    }
  }

  /** Run `f` with its timings kept out of the current samples; its
    * operation and failure counts still count. */
  private def aside[T](f: => T): T = {
    val sink = samples
    samples = new Samples
    try f
    finally {
      sink.attempted.addAndGet(samples.attempted.get)
      sink.failed.addAndGet(samples.failed.get)
      samples.failures.forEach(f => sink.failures.add(f))
      samples = sink
    }
  }

  // ------------------------------------------------------------ set-ups

  /** backfill: chain, stub and the truth answer at the backfill head. */
  def setupBackfill(): State = {
    val st = newState(Shape())
    st.copy(truthAnswer = engine.truthAssets(st.corpus, st.corpus.backfillHead))
  }

  /** A store backfilled to the backfill head. */
  def backfilled(shape: Shape): State = {
    val st = newState(shape)
    // the backfill's own timings stay out of the commits' ones
    if (aside(op("setup_backfill")(catchUp(st, System.nanoTime()))).isEmpty)
      throw new GuardFailed(s"set-up backfill failed: ${samples.failures.peek()}")
    st
  }

  /** dashboard: one backfill of a 6,000-block chain (without dense
    * windows: they only matter to a fetch) plus `commits` follow-sized commits of 100
    * blocks (the reference's default poll step), then a no-op poll, the
    * truth answer and one checked assets answer. The other read kinds
    * are checked on every call in the measured phase. */
  def setupDashboard(): State = {
    val tb = System.nanoTime()
    val st = backfilled(Shape(spanBlocks = 6000L, dense = Nil))
    val backfillS = secs(tb)
    var lastCommitS = 0.0
    // a traced run traces the last set-up's commits: they are the
    // dashboard's only ingest
    if (traceCommits) { st.stub.drain(); engine.trace.enabled = true }
    (1 to commits).foreach { _ =>
      st.stub.setHead(st.stub.head + 100)
      val t0 = System.nanoTime()
      if (op("setup_ingest")(catchUp(st, t0)).isEmpty)
        throw new GuardFailed(s"set-up commit failed: ${samples.failures.peek()}")
      lastCommitS = secs(t0)
    }
    op("setup_noop")(catchUp(st, System.nanoTime(), noop = true))
    if (traceCommits) {
      org.apache.spark.ChainbenchShim.drainListeners(spark.sparkContext)
      engine.trace.addRpc(st.stub.drain())
      engine.trace.enabled = false
    }
    val commitsS = secs(tb) - backfillS
    val tt = System.nanoTime()
    val ready = st.copy(truthAnswer = engine.truthAssets(st.corpus, st.stub.head))
    val truthS = secs(tt)
    val sess = engine.session()
    val t0 = System.nanoTime()
    if (op("setup_assets")(assetsChecked(ready, sess, ready.truthAnswer)).isEmpty)
      throw new GuardFailed(s"set-up assets answer failed: ${samples.failures.peek()}")
    System.err.println(f"[chainbench] dashboard set-up: backfill $backfillS%.3f commits $commitsS%.3f" +
      f" truth $truthS%.3f answer ${secs(t0)}%.3f")
    // last commit, then the answer; the truth query between is not timed
    samples.add("ingest_to_answer", lastCommitS + secs(t0))
    ready
  }

  // ----------------------------------------------------------- measured

  /** Repeated backfills, each into a fresh store: catch-up, readback and
    * assets answer; then four lookups and one no-op poll on the last
    * store. The lookups stay out of the iteration so that three
    * iterations fit one window. */
  def runBackfill(st0: State, deadline: Long): Unit = {
    val rnd = new scala.util.Random(seed * 31 + 1)
    val sess = engine.session()
    val start = System.nanoTime()
    var st = st0
    do {
      st = st0.copy(store = freshStore())
      val t0 = System.nanoTime()
      op("ingest")(catchUp(st, t0)).foreach { _ =>
        samples.readOps.incrementAndGet()
        op("assets")(assetsChecked(st, sess, st.truthAnswer))
          .foreach(_ => samples.add("ingest_to_answer", secs(t0)))
        samples.add("store_bytes_per_log", storeBytes(st.store) / st.corpus.known(st.corpus.creationBlock, st.stub.head).length)
      }
    } while (System.nanoTime() < deadline)
    samples.add("read_rate", samples.readOps.get / secs(start))
    (1 to 4).foreach(_ => op("lookup")(lookupChecked(st, sess, rnd, st.corpus.creationBlock, st.stub.head)))
    op("noop")(catchUp(st, System.nanoTime(), noop = true))
    lastState = st
  }

  /** `threads` closed-loop clients, each on its own session, over the
    * fixed store. Client 0 answers assets_per_type back to back and
    * starts its last answer before the deadline; the others repeat one
    * cycle of twelve transaction-hash lookups, four one-table
    * block-window reads and a global count, drawn from their seeded
    * generators and started at staggered steps, and keep going until
    * client 0's last answer is in, so every answer meets the same load.
    * Their operations still running then are cancelled and not counted. */
  def runDashboard(st: State, deadline: Long): Unit = {
    val lo = st.corpus.creationBlock
    val hi = st.stub.head
    val total = st.corpus.known(lo, hi).length.toLong
    val cycle = Vector.fill(12)("lookup") ++ Vector.fill(4)("window") :+ "count"
    val sc = spark.sparkContext
    @volatile var answering = true
    val answerer = new Thread(() => {
      val sess = engine.session()
      try do op("assets")(assetsChecked(st, sess, st.truthAnswer))
      while (System.nanoTime() < deadline)
      finally answering = false
    }, "client-0")
    val others = (1 until threads).map { c =>
      new Thread(() => {
        sc.setJobGroup(s"dashboard-$c", s"dashboard client $c", interruptOnCancel = false)
        val rnd = new scala.util.Random(seed * 31 + 100 + c)
        val sess = engine.session()
        var step = c * cycle.size / threads
        while (answering) {
          cycle(step % cycle.size) match {
            case "lookup" => op("lookup")(lookupChecked(st, sess, rnd, lo, hi))
            case "window" =>
              val t = Corpus.Tables(rnd.nextInt(Corpus.Tables.size))
              val a = lo + rnd.nextInt((hi - lo).toInt)
              val b = math.min(hi, a + 2000)
              op("window") {
                val got = engine.window(sess, st.store, t, a, b)
                val want = st.corpus.known(a, b).filter(_.table.contains(t))
                val exp = (want.length.toLong, want.map(_.block).sum)
                check(if (got != exp) throw new GuardFailed(s"window $t [$a, $b]: $got vs $exp"))
                samples.readOps.incrementAndGet()
              }
            case _ => op("count") {
              val n = engine.countAll(sess, st.store)
              check(if (n != total) throw new GuardFailed(s"count(*) $n vs $total"))
              samples.readOps.incrementAndGet()
            }
          }
          step += 1
        }
      }, s"client-$c")
    }
    val start = System.nanoTime()
    (others :+ answerer).foreach(_.start())
    answerer.join()
    cutAt = System.nanoTime()
    // the rate covers the clients' window: start to the last answer
    samples.add("read_rate", samples.readOps.get / secs(start))
    // a client between jobs submits its next one after a cancel: keep
    // cancelling until every client has stopped
    while (others.exists(_.isAlive)) {
      others.indices.foreach(c => sc.cancelJobGroup(s"dashboard-${c + 1}"))
      others.foreach(_.join(50))
    }
    cutAt = Long.MaxValue
    samples.add("store_bytes_per_log", storeBytes(st.store) / total)
    lastState = st
  }

  /** Tracing overhead: `pairs` pairs of probes on the last measured
    * state, one probe untraced and one traced, in alternating order. A
    * probe is one lookup and one no-op poll; both probes of a pair look
    * up the same row. Returns traced minus untraced wall time per pair. */
  def traceOverhead(pairs: Int): Seq[Double] = {
    val st = lastState
    val sess = engine.session()
    def probe(traced: Boolean, pair: Int): Double = {
      val rnd = new scala.util.Random(seed * 31 + 1000 + pair)
      engine.trace.enabled = traced
      val t0 = System.nanoTime()
      try {
        op("overhead")(lookupChecked(st, sess, rnd, st.corpus.creationBlock, st.stub.head))
        op("overhead")(catchUp(st, System.nanoTime(), noop = true))
      } finally engine.trace.enabled = false
      secs(t0)
    }
    aside {
      (1 to pairs).map { i =>
        if (i % 2 == 1) { val off = probe(false, i); probe(true, i) - off }
        else { val on = probe(true, i); on - probe(false, i) }
      }
    }
  }

  def storeBytes(store: ManifestStore): Double =
    store.currentFiles(spark).map(p => Files.size(Paths.get(new java.net.URI(p).getPath))).sum.toDouble
}
