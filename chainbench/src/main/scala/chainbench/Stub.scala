package chainbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicLong
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One served request, as the stub logged it. */
final case class RpcRecord(startNs: Long, endNs: Long, from: Long, to: Long,
                           logs: Int, knownLogs: Int, bytes: Long, overLimit: Boolean)

/** A fault the stub injects into its answers (self-test only). */
sealed trait Fault
object Fault {
  case object None extends Fault
  /** Never serve the log at this position of the corpus. */
  final case class Drop(index: Int) extends Fault
  /** Serve the log at this position twice. */
  final case class Duplicate(index: Int) extends Fault
}

/** In-process `eth_getLogs` provider over a [[Corpus]], on the JDK
  * HttpServer. It serves blocks up to a movable head, rejects a window
  * holding more than `limit` logs with the provider's -32005 error, and
  * logs every request. Log JSON is rendered once, up front, so serving
  * is a copy, not a re-encoding. */
final class Stub(corpus: Corpus, threads: Int, limit: Int = 10000,
                 fault: Fault = Fault.None) extends AutoCloseable {

  private val rendered: Array[Array[Byte]] = corpus.logs.map(renderLog)
  private val headBlock = new AtomicLong(corpus.backfillHead)
  private val records = new java.util.concurrent.ConcurrentLinkedQueue[RpcRecord]()

  def head: Long = headBlock.get
  def setHead(b: Long): Unit = headBlock.set(math.min(b, corpus.lastBlock))

  /** Requests logged since the last drain, in completion order. */
  def drain(): Vector[RpcRecord] = {
    val out = Vector.newBuilder[RpcRecord]
    var r = records.poll()
    while (r != null) { out += r; r = records.poll() }
    out.result()
  }

  private val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/", (ex: HttpExchange) => handle(ex))
  server.setExecutor(pool)
  server.start()

  val url: String = s"http://127.0.0.1:${server.getAddress.getPort}/"

  override def close(): Unit = {
    server.stop(0)
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
  }

  private def renderLog(l: GenLog): Array[Byte] = {
    import Corpus.toHex
    val q = (n: Long) => "0x" + java.lang.Long.toHexString(n)
    (s"""{"address":"${toHex(l.address)}","topics":[${l.topics.map(t => "\"" + toHex(t) + "\"").mkString(",")}],""" +
      s""""data":"${toHex(l.data)}","blockNumber":"${q(l.block)}","blockHash":"${toHex(l.blockHash)}",""" +
      s""""logIndex":"${q(l.logIndex)}","transactionIndex":"${q(l.txIndex)}",""" +
      s""""transactionHash":"${toHex(l.txHash)}","removed":false}""").getBytes(StandardCharsets.US_ASCII)
  }

  private def quantity(v: JValue): Long = v match {
    case JString(s) => java.lang.Long.parseLong(s.stripPrefix("0x"), 16)
    case _ => throw new IllegalArgumentException(s"not a quantity: $v")
  }

  private def handle(ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val req = JsonMethods.parse(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))
    val id = JsonMethods.compact(JsonMethods.render(req \ "id"))
    val out = new java.io.ByteArrayOutputStream()
    def w(s: String): Unit = out.write(s.getBytes(StandardCharsets.US_ASCII))
    var rec = RpcRecord(t0, 0, -1, -1, 0, 0, 0, overLimit = false)
    (req \ "method", req \ "params") match {
      case (JString("eth_getLogs"), JArray(List(filter))) =>
        val from = quantity(filter \ "fromBlock")
        val to = math.min(quantity(filter \ "toBlock"), head)
        val lo = corpus.lowerIndex(from)
        val hi = if (to < from) lo else corpus.lowerIndex(to + 1)
        val idx = fault match {
          case Fault.Drop(k) => (lo until hi).filter(_ != k)
          case Fault.Duplicate(k) => (lo until hi).flatMap(i => if (i == k) Seq(i, i) else Seq(i))
          case Fault.None => lo until hi
        }
        if (idx.size > limit) {
          w(s"""{"jsonrpc":"2.0","id":$id,"error":{"code":-32005,"message":"query returned more than $limit results"}}""")
          rec = rec.copy(from = from, to = to, overLimit = true)
        } else {
          w(s"""{"jsonrpc":"2.0","id":$id,"result":[""")
          var first = true
          var known = 0
          idx.foreach { i =>
            if (!first) out.write(',')
            out.write(rendered(i)); first = false
            if (corpus.logs(i).table.isDefined) known += 1
          }
          w("]}")
          rec = rec.copy(from = from, to = to, logs = idx.size, knownLogs = known)
        }
      case (JString(m), _) =>
        w(s"""{"jsonrpc":"2.0","id":$id,"error":{"code":-32601,"message":"method not found: $m"}}""")
      case _ =>
        w(s"""{"jsonrpc":"2.0","id":$id,"error":{"code":-32600,"message":"invalid request"}}""")
    }
    val body = out.toByteArray
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(200, body.length)
    ex.getResponseBody.write(body)
    ex.close()
    records.add(rec.copy(endNs = System.nanoTime(), bytes = body.length.toLong))
  }
}
