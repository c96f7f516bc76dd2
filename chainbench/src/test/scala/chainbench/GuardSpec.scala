package chainbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.json4s._
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{HttpLogRpc, JsonRpcClient, JsonRpcError, ManifestStore}

/** The benchmark's own guards: a stub that loses or repeats one log must
  * trip the conservation guard, and the stub must refuse a window over the
  * provider's 10,000-log limit the way a provider does. */
class GuardSpec extends AnyFunSuite {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  private lazy val engine = new Engine(spark, Paths.get("inputs"), new Trace("test", spark.sparkContext))
  private val shape = Shape(spanBlocks = 3000L, tailBlocks = 200L, dense = Nil)
  private lazy val corpus = new Corpus(7L, shape)

  /** Catch up once against a stub with `fault`; the guard's verdict. */
  private def catchUp(fault: Fault): Either[GuardFailed, Long] = {
    val stub = new Stub(corpus, 2, fault = fault)
    val dir = Files.createTempDirectory("chainbench-guard")
    try {
      val w = new Workloads(engine, dir, 7L, 2, 0, new Samples)
      val st = State(corpus, stub, new HttpLogRpc(stub.url), new ManifestStore(dir.resolve("store").toString), Nil)
      try Right(w.catchUp(st, System.nanoTime()))
      catch { case g: GuardFailed => Left(g) }
    } finally stub.close()
  }

  private def firstKnown: Int = corpus.logs.indexWhere(_.table.isDefined)

  test("the dispatch keys carried by the corpus are the engine's") {
    engine.checkDispatchKeys()
  }

  test("a faithful stub passes the conservation guard") {
    assert(catchUp(Fault.None) == Right(corpus.known(corpus.creationBlock, corpus.backfillHead).length))
  }

  test("a dropped log trips the conservation guard") {
    val r = catchUp(Fault.Drop(firstKnown))
    assert(r.isLeft, s"guard passed: $r")
    assert(r.left.toOption.get.getMessage.contains("conservation"))
  }

  test("a duplicated log trips the conservation guard") {
    val r = catchUp(Fault.Duplicate(firstKnown))
    assert(r.isLeft, s"guard passed: $r")
    assert(r.left.toOption.get.getMessage.contains("conservation"))
  }

  test("the stub answers -32005 above 10,000 logs and serves a window at the limit") {
    // 10,000 logs in one window, then one more block of 40
    val dense = new Corpus(3L, Shape(spanBlocks = 1000L, tailBlocks = 10L,
      eraDensity = Seq(0.0), dense = Seq(Dense(100, 251, 40, 0.5))))
    val first = dense.creationBlock + 100
    val stub = new Stub(dense, 2)
    try {
      val client = new JsonRpcClient(stub.url)
      def getLogs(from: Long, to: Long): JValue = client.call("eth_getLogs", JArray(List(JObject(
        "fromBlock" -> JString("0x" + from.toHexString), "toBlock" -> JString("0x" + to.toHexString)))))
      getLogs(first, first + 249) match {
        case JArray(logs) => assert(logs.size == 10000)
        case other => fail(s"unexpected result $other")
      }
      val e = intercept[JsonRpcError](getLogs(first, first + 250))
      assert(e.code == -32005L)
      // the engine's client halves the refused window and gets every log
      assert(new HttpLogRpc(stub.url).getLogs(first, first + 250, None).size == 10040)
    } finally stub.close()
  }
}
