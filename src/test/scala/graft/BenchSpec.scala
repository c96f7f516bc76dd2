package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The bench's loud-failure contract: a throwing query gets NO wall
  * time (None, landing in the JSON's `failed` list and rc≠0), while
  * healthy queries are timed normally — a broken query can never post
  * a benchmark number again (the r7 lesson). */
class BenchSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("a throwing query is recorded as failed, never as a time") {
    val qs: Map[String, (SparkSession, String) => DataFrame] = Map(
      "ok_query" -> ((s, _) => { import s.implicits._; Seq(1, 2, 3).toDF("x") }),
      "broken_analysis" -> ((s, d) =>
        Tables.load(s, d, "events").selectExpr("no_such_column + 1")),
      "broken_runtime" -> ((s, _) => {
        import s.implicits._
        Seq("x").toDF("v").selectExpr("CAST(assert_true(v = 'y') AS STRING)")
      }))
    val timed = Bench.timedPass(spark, "/root/testdata/sf0.001", qs)
    assert(timed("ok_query").exists(_.wall >= 0.0))
    assert(timed("broken_analysis").isEmpty,
      "an analysis-broken query must not post a wall time")
    assert(timed("broken_runtime").isEmpty,
      "a runtime-failing query must not post a wall time")
    val failed = timed.collect { case (k, None) => k }.toSeq.sorted
    assert(failed == Seq("broken_analysis", "broken_runtime"))
  }

  private def qt(wall: Double, contended: Boolean = false, gc: Double = 0.0,
                 ioMs: Double = 1.0) = Some(Bench.QTime(wall, contended, gc, ioMs))

  test("per-pass JSON carries only succeeded queries, sorted, 3 dp") {
    val json = Bench.passJson(Map(
      "b_ok" -> qt(1.23456), "a_ok" -> qt(0.5, contended = true),
      "broken" -> None))
    assert(json == """{"a_ok":0.500,"b_ok":1.235}""",
      s"per-pass map malformed: $json")
  }

  test("contended markers surface per query, sorted") {
    val json = Bench.contendedJson(Map(
      "b_cont" -> qt(1.0, contended = true), "a_ok" -> qt(0.5),
      "a_cont" -> qt(2.0, contended = true), "broken" -> None))
    assert(json == """["a_cont","b_cont"]""", s"contended list malformed: $json")
  }

  test("interference channels: cpu/gc/io fire on their own evidence only") {
    assert(Bench.QTime(10.0, contended = false, gc = 0.1, ioMs = 5.0)
      .interference.isEmpty)
    assert(Bench.QTime(10.0, contended = true, gc = 0.1, ioMs = 5.0)
      .interference == Seq("cpu"))
    // gc fires above max(0.5s, 20% of wall): 3s of GC in a 10s window
    assert(Bench.QTime(10.0, contended = false, gc = 3.0, ioMs = 5.0)
      .interference == Seq("gc"))
    // a short window with trivial absolute GC does NOT fire (0.3s > 20%
    // of 1s but below the 0.5s floor)
    assert(Bench.QTime(1.0, contended = false, gc = 0.3, ioMs = 5.0)
      .interference.isEmpty)
    assert(Bench.QTime(10.0, contended = false, gc = 0.1, ioMs = 500.0)
      .interference == Seq("io"))
    val json = Bench.interferenceJson(Map(
      "slow_gc" -> qt(10.0, gc = 9.0), "clean" -> qt(1.0), "broken" -> None))
    assert(json == """{"slow_gc":["gc"]}""", s"interference map malformed: $json")
  }

  test("sf1 subset names are all declared gates (typo guard)") {
    val unknown = Bench.Sf1Queries -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"sf1 subset names not in SparkEntry: $unknown")
  }

  test("rerun rule: >2x pass swings are suspects even when one window was contended") {
    val p1 = Map("swing" -> qt(13.4), "steady" -> qt(1.0),
      "contended_swing" -> qt(20.0, contended = true), "broken" -> None)
    val p2 = Map("swing" -> qt(58.9), "steady" -> qt(1.1),
      "contended_swing" -> qt(2.0), "broken" -> qt(1.0))
    // swing: 58.9/13.4 > 2x -> suspect. steady: 1.1x -> no.
    // contended_swing: >2x swing — the r13 lesson is that a contended
    // sample can't CORROBORATE the slow clean one, so it IS a suspect
    // now (the old rule's blindness recorded graph_pagerank at 16.7 s).
    // broken: no p1 time -> not arbitrable.
    assert(Bench.suspectsOf(p1, p2) == Seq("contended_swing", "swing"))
    assert(Bench.medianOf(Seq(13.4, 58.9, 13.6)) == 13.6)
    assert(Bench.medianOf(Seq(58.9, 13.4)) == 58.9,
      "even-count median must resolve conservatively (upper middle)")
    assert(Bench.medianOf(Seq(4.5)) == 4.5)
  }

  test("candidateWalls: contended samples never become the record when a clean one exists") {
    def q(w: Double, c: Boolean) = Bench.QTime(w, c, 0.0, 1.0)
    // corpus_ngrams r13: a CONTENDED p1 min was recorded — must not be
    assert(Bench.candidateWalls(Seq(q(1.2, true), q(4.8, false))) == Seq(4.8))
    assert(Bench.candidateWalls(Seq(q(1.2, false), q(4.8, false))) == Seq(1.2, 4.8))
    // all-contended degrades to all samples (flagged elsewhere)
    assert(Bench.candidateWalls(Seq(q(3.0, true), q(5.0, true))) == Seq(3.0, 5.0))
  }

  test("mergePasses: clean min for all, short list on suspects with <3 clean") {
    val p1 = Map("swing" -> qt(47.9, contended = true), "steady" -> qt(2.0),
      "lost" -> qt(30.0), "broken" -> (None: Option[Bench.QTime]),
      "cmin" -> qt(1.2, contended = true))
    val p2 = Map("swing" -> qt(16.7), "steady" -> qt(1.0),
      "lost" -> qt(3.0), "broken" -> None, "cmin" -> qt(4.8))
    val p3 = Map("swing" -> qt(4.5), "lost" -> None) // lost's p3 FAILED
    val p4 = Map("swing" -> qt(4.6), "lost" -> None)
    val (merged, short) = Bench.mergePasses(
      Seq(p1, p2, p3, p4), suspects = Seq("swing", "lost"))
    // the r13 graph_pagerank shape: contended 47.9 EXCLUDED, best CLEAN
    // demonstrated wall of {16.7, 4.5, 4.6} = 4.5 (r16: min, not median
    // — the r15 driver run showed environment-correlated slowness
    // poisons BOTH full passes, and the median then records the
    // poisoned value over a demonstrated-healthy targeted rerun)
    assert(merged("swing").contains(4.5),
      s"suspect must take the best CLEAN wall, got ${merged("swing")}")
    assert(merged("steady").contains(1.0), "non-suspect must take the min")
    assert(merged("lost").contains(3.0),
      "a suspect with 2 clean samples records their min, flagged short")
    assert(merged("broken").isEmpty)
    // non-suspect with a contended min: record the clean value
    assert(merged("cmin").contains(4.8),
      "a contended wall must never be recorded as the min")
    assert(short == Seq("lost"),
      "suspects ending under 3 clean samples must be visible")
    // single-pass degenerate form (the p1Total>900 skip path)
    val (solo, noShort) = Bench.mergePasses(Seq(p1), Nil)
    assert(solo("swing").contains(47.9) && noShort.isEmpty)
  }

  test("trend baseline: min over last window lines; trigger fires on correlated slowness") {
    val f = java.nio.file.Files.createTempFile("graft_trend", ".jsonl")
    Bench.appendTrend(f.toString,
      """{"epoch_ms":1,"total":10.0,"queries":{"pagerank":4.500,"ngrams":1.070}}""")
    Bench.appendTrend(f.toString,
      """{"epoch_ms":2,"total":30.0,"queries":{"pagerank":16.700,"ngrams":1.200}}""")
    val base = Bench.trendBaseline(f.toString)
    // min over the window: one poisoned recorded line cannot raise it
    assert(base("pagerank") == 4.5 && base("ngrams") == 1.07)
    // correlated slowness: BOTH passes slow, intra-run rule silent —
    // the r13 graph_pagerank_dangling hole. The trend trigger fires.
    val p1 = Map("pagerank" -> qt(21.3), "ngrams" -> qt(1.1))
    val p2 = Map("pagerank" -> qt(16.2), "ngrams" -> qt(1.2))
    assert(Bench.suspectsOf(p1, p2).isEmpty, "intra-run rule stays silent")
    assert(Bench.trendSuspectsOf(base, Seq(p1, p2)) == Seq("pagerank"))
    // the ABSOLUTE floor (r15): 2x of a ~0.1 s baseline is parquet/
    // tmpdir jitter, not signal — sub-half-second drift never fires
    val smallBase = Map("tiny" -> 0.09)
    val s1 = Map("tiny" -> qt(0.21))
    val s2 = Map("tiny" -> qt(0.19))
    assert(Bench.trendSuspectsOf(smallBase, Seq(s1, s2)).isEmpty,
      "sub-half-second absolute drift must not trip the trend trigger")
    assert(Bench.trendHit(1.3, 0.6) && !Bench.trendHit(1.0, 0.6))
    // a missing file degrades to an empty baseline, not an error
    assert(Bench.trendBaseline("/no/such/file.jsonl").isEmpty)
  }

  test("arbitrated: targeted passes run until suspects hold 3 clean samples, capped") {
    val p1 = Map("swing" -> qt(13.4, contended = true), "ok" -> qt(1.0))
    val p2 = Map("swing" -> qt(58.9), "ok" -> qt(1.1))
    var calls = 0
    val targeted: Set[String] => Map[String, Option[Bench.QTime]] = { need =>
      calls += 1
      assert(need == Set("swing"), s"targeted pass must be suspects-only: $need")
      Map("swing" -> qt(14.0))
    }
    val (rec, suspects, short, extras) =
      Bench.arbitrated(p1, Some(p2), Map.empty, targeted)
    assert(suspects == Seq("swing") && calls == 2 && extras.size == 2,
      s"needs exactly 2 targeted passes for 3 clean samples (got $calls)")
    // clean samples {58.9, 14.0, 14.0} -> min 14.0; contended excluded
    assert(rec("swing").contains(14.0) && short.isEmpty)
    assert(rec("ok").contains(1.0))
    // a targeted pass that keeps failing caps at maxExtra
    var failCalls = 0
    val failing: Set[String] => Map[String, Option[Bench.QTime]] = { _ =>
      failCalls += 1; Map("swing" -> None)
    }
    val (rec2, _, short2, _) =
      Bench.arbitrated(p1, Some(p2), Map.empty, failing)
    assert(failCalls == 3 && short2 == Seq("swing"))
    // one clean sample {58.9}: median of it
    assert(rec2("swing").contains(58.9))
  }

  test("BuildLog: per-name sums, cost-descending, drain empties, records on failure") {
    import graft.ops.BuildLog
    BuildLog.drain() // isolate from builds other suites triggered
    BuildLog.record("idx_a", 2.0)
    BuildLog.record("idx_a", 1.0)
    BuildLog.record("idx_b", 0.5)
    val r = BuildLog.timed("timed_c") { 42 }
    assert(r == 42)
    intercept[RuntimeException] {
      BuildLog.timed("crashed_d") { throw new RuntimeException("boom") }
    }
    val drained = BuildLog.drain()
    val byName = drained.toMap
    assert(byName("idx_a") == 3.0, "same-name builds must sum")
    assert(byName("idx_b") == 0.5)
    assert(byName.contains("timed_c") && byName("timed_c") >= 0.0)
    assert(byName.contains("crashed_d"),
      "a crashed build burned real pass-1 wall and must still be attributed")
    assert(drained.head._1 == "idx_a", "must sort cost-descending")
    assert(BuildLog.drain().isEmpty, "drain must empty the registry")
  }

  test("a concurrent wrong answer reaches the contract line and exits 1") {
    // a query whose answer changes after its sequential reference: every
    // concurrent run diverges, as a wrong answer under concurrency would
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val qs: Map[String, (SparkSession, String) => DataFrame] = Map(
      "drifting" -> ((s, _) => s.range(1 + calls.getAndIncrement()).toDF("x")),
      "stable" -> ((s, _) => s.range(3).toDF("x")))
    val cs = Bench.concurrentPass(spark, "", 2, qs)
    assert(cs.mismatches == Seq("drifting") && cs.errors.isEmpty,
      s"mismatches ${cs.mismatches}, errors ${cs.errors}")
    val line = Bench.contractLine("sf0.001", 2, Nil, cs.mismatches.size,
      "true", "\"env\":{}", """{"stable":0.100}""", "0.100")
    val parsed = org.json4s.jackson.JsonMethods.parse(line)
    import org.json4s._
    assert((parsed \ "n_mismatch") == JInt(1), line)
    assert((parsed \ "queries" \ "stable") != JNothing, line)
    assert(line.endsWith(""""metric":"total","value":0.100,"unit":"sec"}"""),
      s"value must stay last: $line")
    assert(Bench.exitCode(Nil, cs.mismatches.size) == 1)
    assert(Bench.exitCode(Nil, 0) == 0)
    assert(Bench.exitCode(Seq("broken"), 0) == 1)
  }
}
