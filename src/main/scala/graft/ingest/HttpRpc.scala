package graft.ingest

import java.nio.charset.StandardCharsets
import org.json4s._
import org.json4s.jackson.JsonMethods

/** HTTP JSON-RPC transports for the pluggable fetch seams — the
  * production counterpart of the replay/parquet fakes, speaking the same
  * wire protocol the reference drives through web3
  * (`eth-contract.py:61-63` eth_getLogs, `eth-blocks.py:61`
  * eth_getBlockByNumber, `eth-contract.py:53` eth_get_transaction_receipt
  * against an Infura endpoint).
  *
  * Instances hold only the endpoint URL (plus a transient HTTP client),
  * so they serialize trivially into executor-side tasks: a 1000-executor
  * cluster fetches its partitions' ranges concurrently — the
  * parallel-fan-out shape the replay RPCs already exercise, now with a
  * network edge.
  *
  * Error adaptation mirrors the reference's runtime policy
  * (`eth-contract.py:132-135`): a provider rejecting a window as too
  * large (Infura's over-limit error — surfaced by web3 as ValueError,
  * here as [[JsonRpcError]]) makes the fetch HALVE the window and retry,
  * recursively, until chunks fit; a single-block window's error is
  * genuine and propagates.
  */
final class JsonRpcError(val code: Long, message: String)
  extends RuntimeException(s"JSON-RPC error $code: $message")

/** Minimal JSON-RPC 2.0 client over the JDK HTTP client. Every call is
  * bounded: a provider that stalls on connect or never answers makes
  * [[call]] throw `java.net.http.HttpTimeoutException` instead of holding
  * a fetch task forever. */
final class JsonRpcClient(endpoint: String) extends Serializable {

  // both lazy: rebuilt after task-side deserialization (a plain
  // @transient val would deserialize to null)
  @transient private lazy val http = java.net.http.HttpClient.newBuilder()
    .connectTimeout(JsonRpcClient.ConnectTimeout).build()
  @transient private lazy val nextId = new java.util.concurrent.atomic.AtomicLong(1)

  def call(method: String, params: JValue): JValue = {
    val body = JsonMethods.compact(JsonMethods.render(
      JObject("jsonrpc" -> JString("2.0"), "id" -> JLong(nextId.getAndIncrement()),
        "method" -> JString(method), "params" -> params)))
    val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(endpoint))
      .header("Content-Type", "application/json")
      .timeout(JsonRpcClient.RequestTimeout)
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(body,
        StandardCharsets.UTF_8))
      .build()
    val resp = http.send(req,
      java.net.http.HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
    if (resp.statusCode() / 100 != 2)
      throw new java.io.IOException(
        s"HTTP ${resp.statusCode()} from $endpoint: ${resp.body().take(200)}")
    val parsed = JsonMethods.parse(resp.body())
    parsed \ "error" match {
      case JObject(_) =>
        val code = (parsed \ "error" \ "code") match {
          case JInt(c) => c.toLong
          case JLong(c) => c
          case _ => -1L
        }
        val msg = (parsed \ "error" \ "message") match {
          case JString(m) => m
          case _ => "unknown"
        }
        throw new JsonRpcError(code, msg)
      case _ => parsed \ "result"
    }
  }
}

object JsonRpcClient {
  /** TCP connect bound per call. */
  val ConnectTimeout: java.time.Duration = java.time.Duration.ofSeconds(10)

  /** Bound on one call until the response headers arrive: well above a
    * healthy provider's answer to a full 10,000-log `eth_getLogs`
    * window. */
  val RequestTimeout: java.time.Duration = java.time.Duration.ofSeconds(30)
}

private[ingest] object EthJson {
  def hexToLong(v: JValue): Long = v match {
    case JString(s) => BigInt(s.stripPrefix("0x"), 16).toLong
    case JInt(i) => i.toLong
    case JLong(l) => l
    case other => throw new IllegalArgumentException(s"not a quantity: $other")
  }

  def hexToBytes(v: JValue): Array[Byte] = v match {
    case JString(s0) =>
      val s = s0.stripPrefix("0x")
      val even = if (s.length % 2 == 0) s else "0" + s
      even.grouped(2).map(h => Integer.parseInt(h, 16).toByte).toArray
    case other => throw new IllegalArgumentException(s"not hex data: $other")
  }

  def toHexQuantity(n: Long): String = "0x" + java.lang.Long.toHexString(n)

  def toHexData(b: Array[Byte]): String =
    "0x" + b.map(x => f"${x & 0xff}%02x").mkString
}

/** `eth_getLogs` over HTTP, with the reference's over-limit window
  * halving. [[estimateLogs]] (the partition planner's density input)
  * probes a bounded prefix window and extrapolates — a provider has no
  * count API, so planning-time estimation stays cheap and the runtime
  * halving catches any under-estimate. */
final class HttpLogRpc(endpoint: String,
                       probeWindow: Long = 512) extends LogRpc {
  import EthJson._

  private val client = new JsonRpcClient(endpoint)

  private def filter(from: Long, to: Long,
                     address: Option[Array[Byte]]): JValue = {
    val base = List("fromBlock" -> JString(toHexQuantity(from)),
      "toBlock" -> JString(toHexQuantity(to)))
    JArray(List(JObject(base ++
      address.map(a => "address" -> JString(toHexData(a))).toList)))
  }

  private def parseLog(v: JValue): RawLog = RawLog(
    address = hexToBytes(v \ "address"),
    topics = (v \ "topics") match {
      case JArray(ts) => ts.map(hexToBytes)
      case _ => Nil
    },
    data = hexToBytes(v \ "data"),
    block_number = hexToLong(v \ "blockNumber"),
    block_hash = hexToBytes(v \ "blockHash"),
    log_index = hexToLong(v \ "logIndex").toInt,
    transaction_index = hexToLong(v \ "transactionIndex").toInt,
    transaction_hash = hexToBytes(v \ "transactionHash"))

  /** Is this the provider's "window too large" rejection? Matched by
    * code (-32005, Infura/Alchemy's limit error) or message shape —
    * halving on ANY error would turn a rate cap or auth failure into a
    * log2(span)-deep doomed retry chain that amplifies traffic exactly
    * when the provider is pushing back. */
  private def isOverLimit(e: JsonRpcError): Boolean =
    e.code == -32005L || {
      val m = e.getMessage.toLowerCase
      m.contains("more than") || m.contains("too many") ||
        m.contains("response size") || m.contains("block range")
    }

  /** One window, halved recursively on a provider over-limit error
    * (mirrors eth-contract.py:132-135's `blocksStep /= 2`; recursion
    * reaches the same fixpoint without losing the already-fetched
    * prefix). A one-block window's error — and any non-limit error —
    * is genuine and propagates. */
  private def fetch(from: Long, to: Long,
                    address: Option[Array[Byte]]): Vector[RawLog] =
    try {
      client.call("eth_getLogs", filter(from, to, address)) match {
        case JArray(logs) => logs.map(parseLog).toVector
        case JNothing => Vector.empty
        case other =>
          throw new IllegalArgumentException(s"unexpected eth_getLogs result: $other")
      }
    } catch {
      case e: JsonRpcError if to > from && isOverLimit(e) =>
        val mid = from + (to - from) / 2
        fetch(from, mid, address) ++ fetch(mid + 1, to, address)
    }

  override def getLogs(from: Long, to: Long,
                       address: Option[Array[Byte]]): Iterator[RawLog] =
    fetch(from, to, address).iterator

  // probe results memoized per (from, address): the partition planner
  // re-calls estimateLogs with the SAME start while it shrinks its step,
  // and re-downloading an identical full-payload window per iteration
  // would fetch a large slice of the chain during planning alone
  @transient private lazy val probeCache =
    new java.util.concurrent.ConcurrentHashMap[(Long, String), Long]()

  override def estimateLogs(from: Long, to: Long,
                            address: Option[Array[Byte]]): Long = {
    val span = to - from + 1
    if (span <= 0) return 0
    val window = math.min(span, probeWindow)
    val key = (from, address.map(a => EthJson.toHexData(a)).getOrElse(""))
    val sampled =
      if (window == probeWindow)
        probeCache.computeIfAbsent(key,
          _ => fetch(from, from + window - 1, address).size.toLong)
      else fetch(from, from + window - 1, address).size.toLong
    math.max(1L, sampled * span / window)
  }
}

/** `eth_getBlockByNumber` over HTTP: the reference's 10 block fields
  * (eth-blocks.py:61-73). */
final class HttpBlockRpc(endpoint: String) extends BlockRpc {
  import EthJson._

  private val client = new JsonRpcClient(endpoint)

  override def getBlock(n: Long): Block = {
    val b = client.call("eth_getBlockByNumber",
      JArray(List(JString(toHexQuantity(n)), JBool(false))))
    Block(
      block_number = hexToLong(b \ "number"),
      block_hash = hexToBytes(b \ "hash"),
      miner = hexToBytes(b \ "miner"),
      nonce = hexToBytes(b \ "nonce"),
      gas_limit = hexToLong(b \ "gasLimit"),
      gas_used = hexToLong(b \ "gasUsed"),
      difficulty = hexToLong(b \ "difficulty"),
      extra_data = hexToBytes(b \ "extraData"),
      time = new java.sql.Timestamp(hexToLong(b \ "timestamp") * 1000L),
      size = hexToLong(b \ "size"))
  }
}

/** `eth_getTransactionReceipt` over HTTP: the receipt haystack is the
  * concatenated data of the receipt's logs — the bytes the reference
  * scans for the proxy address (eth-contract.py:53-55). */
final class HttpReceiptRpc(endpoint: String) extends ReceiptRpc {
  import EthJson._

  private val client = new JsonRpcClient(endpoint)

  override def getReceiptData(txHash: Array[Byte]): Array[Byte] = {
    val r = client.call("eth_getTransactionReceipt",
      JArray(List(JString(toHexData(txHash)))))
    (r \ "logs") match {
      case JArray(logs) => logs.toArray.flatMap(l => hexToBytes(l \ "data"))
      case _ => Array.empty[Byte]
    }
  }
}
