package graft

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{HttpBlockRpc, HttpLogRpc, HttpReceiptRpc, JsonRpcClient,
  JsonRpcError}

/** HTTP transports against a local stub JSON-RPC/Etherscan server: the
  * over-limit halving policy, field decoding, executor-side use, and the
  * fetch-and-cache ABI loop — no live network needed. */
class HttpRpcSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  // ---------------------------------------------------------- stub server

  private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(status, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** JSON-RPC stub: `handler(method, params)` returns Right(result) or
    * Left((code, message)). Runs `f` with the endpoint URL. */
  private def withRpcServer(handler: (String, JValue) => Either[(Long, String), JValue])
                           (f: String => Unit): Unit = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      val req = JsonMethods.parse(
        new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
      val method = (req \ "method") match { case JString(m) => m; case _ => "" }
      val resp = handler(method, req \ "params") match {
        case Right(result) => JObject("jsonrpc" -> JString("2.0"),
          "id" -> (req \ "id"), "result" -> result)
        case Left((code, msg)) => JObject("jsonrpc" -> JString("2.0"),
          "id" -> (req \ "id"), "error" -> JObject(
            "code" -> JLong(code), "message" -> JString(msg)))
      }
      respond(ex, 200, JsonMethods.compact(JsonMethods.render(resp)))
    })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(8))
    server.start()
    try f(s"http://127.0.0.1:${server.getAddress.getPort}/")
    finally server.stop(0)
  }

  private def hex(n: Long): String = "0x" + java.lang.Long.toHexString(n)
  private def hexToLong(v: JValue): Long = v match {
    case JString(s) => java.lang.Long.parseLong(s.stripPrefix("0x"), 16)
    case _ => fail(s"not hex: $v")
  }

  private val AddrA = "0x" + "aa" * 20
  private val AddrB = "0x" + "bb" * 20

  /** Synthetic log: block b carries `perBlock` logs alternating A/B. */
  private def logJson(b: Long, idx: Int): JValue = JObject(
    "address" -> JString(if (idx % 2 == 0) AddrA else AddrB),
    "topics" -> JArray(List(JString("0x" + "11" * 32))),
    "data" -> JString(f"0x${b * 16 + idx}%08x"),
    "blockNumber" -> JString(hex(b)),
    "blockHash" -> JString("0x" + "22" * 32),
    "logIndex" -> JString(hex(idx.toLong)),
    "transactionIndex" -> JString(hex(idx.toLong)),
    "transactionHash" -> JString("0x" + f"$b%064x"))

  /** eth_getLogs handler over blocks 0..99 (2 logs each, block 50 gets
    * `hotLogs` extra): windows yielding > `limit` matches error out like
    * a provider. */
  private def getLogsHandler(limit: Int, hotLogs: Int,
                             calls: AtomicInteger, errors: AtomicInteger)
      : (String, JValue) => Either[(Long, String), JValue] = {
    case ("eth_getLogs", JArray(List(filter))) =>
      calls.incrementAndGet()
      val from = hexToLong(filter \ "fromBlock")
      val to = hexToLong(filter \ "toBlock")
      val addr = (filter \ "address") match {
        case JString(a) => Some(a); case _ => None
      }
      val logs = (math.max(0L, from) to math.min(99L, to)).flatMap { b =>
        val n = if (b == 50) 2 + hotLogs else 2
        (0 until n).map(i => (b, i))
      }.collect {
        case (b, i) if addr.forall(a =>
          a == (if (i % 2 == 0) AddrA else AddrB)) => logJson(b, i)
      }
      if (logs.size > limit) {
        errors.incrementAndGet()
        Left((-32005L, s"query returned more than $limit results"))
      } else Right(JArray(logs.toList))
    case (m, _) => Left((-32601L, s"method not found: $m"))
  }

  test("getLogs halves over-limit windows and returns the full ordered range") {
    val calls = new AtomicInteger; val errors = new AtomicInteger
    withRpcServer(getLogsHandler(limit = 25, hotLogs = 0, calls, errors)) { url =>
      val rpc = new HttpLogRpc(url)
      val logs = rpc.getLogs(0, 99, None).toVector
      assert(logs.size == 200)
      assert(logs.map(_.block_number) == logs.map(_.block_number).sorted)
      assert(errors.get() > 0, "the stub never rejected a window — limit untested")
      assert(calls.get() > errors.get())
      // field decoding round-trips
      val l = logs.head
      assert(l.block_number == 0 && l.log_index == 0 &&
        l.address.length == 20 && l.block_hash.length == 32 &&
        l.topics.head.length == 32 && l.transaction_hash.length == 32)
    }
  }

  test("getLogs address filter is pushed to the provider") {
    val calls = new AtomicInteger; val errors = new AtomicInteger
    withRpcServer(getLogsHandler(25, 0, calls, errors)) { url =>
      val a = Array.fill[Byte](20)(0xaa.toByte)
      val logs = new HttpLogRpc(url).getLogs(0, 99, Some(a)).toVector
      assert(logs.size == 100)
      assert(logs.forall(_.address.sameElements(a)))
    }
  }

  test("a single-block over-limit error is genuine and propagates") {
    val calls = new AtomicInteger; val errors = new AtomicInteger
    withRpcServer(getLogsHandler(limit = 25, hotLogs = 30, calls, errors)) { url =>
      val ex = intercept[JsonRpcError] {
        new HttpLogRpc(url).getLogs(50, 50, None).toVector
      }
      assert(ex.getMessage.contains("more than 25"))
    }
  }

  test("a provider that accepts and never answers times the call out") {
    val release = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: HttpExchange) => {
      ex.getRequestBody.readAllBytes()
      release.await() // hold the exchange open without a response
      ex.close()
    })
    server.setExecutor(pool)
    server.start()
    try {
      val client = new JsonRpcClient(
        s"http://127.0.0.1:${server.getAddress.getPort}/")
      val t0 = System.nanoTime()
      intercept[java.net.http.HttpTimeoutException] {
        client.call("eth_blockNumber", JArray(Nil))
      }
      val waited = (System.nanoTime() - t0) / 1e9
      val bound = JsonRpcClient.RequestTimeout.toMillis / 1e3
      assert(waited >= bound - 1 && waited < bound + 10,
        s"timed out after $waited s, bound $bound s")
    } finally {
      release.countDown()
      server.stop(0)
      pool.shutdownNow()
    }
  }

  test("estimateLogs extrapolates from a bounded probe window") {
    val calls = new AtomicInteger; val errors = new AtomicInteger
    withRpcServer(getLogsHandler(100, 0, calls, errors)) { url =>
      val rpc = new HttpLogRpc(url, probeWindow = 16)
      // uniform 2 logs/block → exact extrapolation
      assert(rpc.estimateLogs(0, 99, None) == 200L)
      val callsAfterEstimate = calls.get()
      assert(callsAfterEstimate >= 1 && callsAfterEstimate <= 2,
        "the probe must stay bounded, not scan the range")
    }
  }

  test("blocks fetch executor-side through BlockSource.range (EP2 with a URL)") {
    val handler: (String, JValue) => Either[(Long, String), JValue] = {
      case ("eth_getBlockByNumber", JArray(List(numHex, JBool(false)))) =>
        val n = hexToLong(numHex)
        Right(JObject(
          "number" -> JString(hex(n)),
          "hash" -> JString("0x" + f"$n%064x"),
          "miner" -> JString("0x" + "cc" * 20),
          "nonce" -> JString("0x" + "dd" * 8),
          "gasLimit" -> JString(hex(8000000L + n)),
          "gasUsed" -> JString(hex(4000000L + n)),
          "difficulty" -> JString(hex(2000000000000L + n)),
          "extraData" -> JString("0x" + "ee" * 8),
          "timestamp" -> JString(hex(1438269973L + 13 * n)),
          "size" -> JString(hex(500L + n))))
      case (m, _) => Left((-32601L, s"method not found: $m"))
    }
    withRpcServer(handler) { url =>
      val rows = graft.ingest.BlockSource
        .range(spark, new HttpBlockRpc(url), 0, 9, parallelism = 4)
        .collect().sortBy(_.block_number)
      assert(rows.length == 10)
      assert(rows(3).block_number == 3 && rows(3).gas_limit == 8000003L &&
        rows(3).gas_used == 4000003L && rows(3).size == 503L &&
        rows(3).time.getTime == (1438269973L + 39) * 1000L &&
        rows(3).miner.length == 20 && rows(3).block_hash.length == 32)
    }
  }

  test("EP1 ingest runs end-to-end against an HTTP endpoint") {
    graft.fixtures.MakerFixtures.ensure(spark)
    // serve the fixture raw-log corpus over eth_getLogs with a provider
    // limit, so the ingest exercises the halving path too
    val corpus = spark.read.parquet(graft.fixtures.MakerFixtures.rawLogsPath)
      .collect().map { r =>
        val toHexS = (b: Array[Byte]) => "0x" + b.map(x => f"${x & 0xff}%02x").mkString
        JObject(
          "address" -> JString(toHexS(r.getAs[Array[Byte]]("address"))),
          "topics" -> JArray(r.getAs[scala.collection.Seq[Array[Byte]]]("topics")
            .map(t => JString(toHexS(t))).toList),
          "data" -> JString(toHexS(r.getAs[Array[Byte]]("data"))),
          "blockNumber" -> JString(hex(r.getAs[Long]("block_number"))),
          "blockHash" -> JString(toHexS(r.getAs[Array[Byte]]("block_hash"))),
          "logIndex" -> JString(hex(r.getAs[Int]("log_index").toLong)),
          "transactionIndex" -> JString(hex(r.getAs[Int]("transaction_index").toLong)),
          "transactionHash" -> JString(toHexS(r.getAs[Array[Byte]]("transaction_hash")))
        ) -> r.getAs[Long]("block_number")
      }
    val handler: (String, JValue) => Either[(Long, String), JValue] = {
      case ("eth_getLogs", JArray(List(filter))) =>
        val from = hexToLong(filter \ "fromBlock")
        val to = hexToLong(filter \ "toBlock")
        val hit = corpus.collect { case (j, b) if b >= from && b <= to => j }
        if (hit.length > 400) Left((-32005L, "query returned more than 400 results"))
        else Right(JArray(hit.toList))
      case (m, _) => Left((-32601L, s"method not found: $m"))
    }
    withRpcServer(handler) { url =>
      val store = new graft.ingest.ManifestStore(java.nio.file.Files
        .createTempDirectory("graft_http_ingest").toString + "/store")
      val defs = graft.fixtures.MakerFixtures.fixtureDefs
      val n = graft.ingest.IngestJob.runAtomic(spark, new HttpLogRpc(url), defs,
        None, store, 8928160L, 20000000L)
      val expected = graft.ingest.Demux.taggedKnown(
        spark.read.parquet(graft.fixtures.MakerFixtures.rawLogsPath), defs).count()
      assert(n == expected && n > 0,
        s"HTTP ingest committed $n rows, replay expects $expected")
      assert(store.read(spark).get.count() == expected)
    }
  }

  test("Etherscan fetcher completes the read-or-fetch-and-cache loop") {
    val jugText = java.nio.file.Files.readString(
      java.nio.file.Paths.get("/root/reference/conf/makermcd/jug.abi"))
    val requests = new AtomicInteger
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/api", (ex: HttpExchange) => {
      requests.incrementAndGet()
      val q = Option(ex.getRequestURI.getQuery).getOrElse("")
      val body =
        if (q.contains("address=0x19c0976f590d67707e62397c87829d896dc0f1f1"))
          JObject("status" -> JString("1"), "message" -> JString("OK"),
            "result" -> JArray(List(JObject("ABI" -> JString(jugText)))))
        else
          JObject("status" -> JString("1"), "message" -> JString("OK"),
            "result" -> JArray(List(JObject(
              "ABI" -> JString("Contract source code not verified")))))
      respond(ex, 200, JsonMethods.compact(JsonMethods.render(body)))
    })
    server.start()
    try {
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/api"
      val fetcher = new graft.abi.EtherscanFetcher(url, "testkey")
      val tmp = java.nio.file.Files.createTempDirectory("graft_escache").toString
      val cache = new graft.abi.AbiCache(tmp, fetcher)
      val parsed = cache.abi("makermcd", "jug",
        "19c0976f590d67707e62397c87829d896dc0f1f1")
      assert(parsed.nonEmpty && requests.get() == 1)
      // second read comes from the cache file — no HTTP
      val again = cache.abi("makermcd", "jug",
        "19c0976f590d67707e62397c87829d896dc0f1f1")
      assert(again.nonEmpty && requests.get() == 1)
      // unverified contract → loud failure, nothing cached
      val ex = intercept[java.io.IOException] {
        cache.abi("makermcd", "nope", "00" * 20)
      }
      assert(ex.getMessage.contains("no verified ABI"))
    } finally server.stop(0)
  }
}
