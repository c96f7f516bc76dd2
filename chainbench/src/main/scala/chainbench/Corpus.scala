package chainbench

import java.math.{BigDecimal => JBigDecimal, BigInteger}
import scala.collection.mutable.ArrayBuffer

/** One generated log. `table` is the destination table for a log of a
  * known contract and None for a foreign one; `values` are its ABI
  * parameter values in declaration order (bytes32/address as byte
  * arrays, integers as BigDecimal with scale 0). */
final case class GenLog(block: Long, logIndex: Int, txIndex: Int,
                        txHash: Array[Byte], blockHash: Array[Byte],
                        address: Array[Byte], topics: Seq[Array[Byte]],
                        data: Array[Byte], table: Option[String],
                        values: Seq[Any])

/** A window of dense blocks: first block (as an offset from the creation
  * block), length, logs per block, and the share of its logs that come
  * from foreign contracts. */
final case class Dense(offset: Long, blocks: Int, logsPerBlock: Int, foreignShare: Double)

/** Traffic dimensions of the generated chain. The dense windows sit at
  * fixed offsets, so every seed meets the same planning situations:
  * window one lies inside the first 10,000-block range, behind a sparse
  * probe prefix, and holds more than 10,000 logs, so that range's call
  * is refused and halved; most of its logs are a foreign contract's
  * burst, which tagging must drop. Window two starts the second range,
  * so the planner's probe sees it and shrinks its step. */
final case class Shape(
    spanBlocks: Long = 24000L,      // backfilled history
    tailBlocks: Long = 2000L,       // blocks past the backfill head, for follow-sized commits
    eraDensity: Seq[Double] = Seq(0.06, 0.10, 0.08), // logs per block, per third of history
    dense: Seq[Dense] = Seq(Dense(1000, 262, 40, 0.9), Dense(10100, 600, 2, 0.25)),
    foreignShare: Double = 0.25,    // logs of contracts the warehouse does not know (outside dense windows)
    wrappedShare: Double = 0.20)    // proxy-wrapped share of call logs

object Shape {
  /** A small chain, for warming the JVM up. */
  val Warmup: Shape = Shape(spanBlocks = 4000L, tailBlocks = 100L, dense = Nil)
}

/** The seeded chain the stub serves and the truth every answer is checked
  * against. Logs are ABI-encoded here from the published signatures, by
  * hand: no engine encoder is involved, so a codec bug cannot cancel out.
  */
final class Corpus(val seed: Long, val shape: Shape = Shape()) {
  import Corpus._

  val creationBlock: Long = 9000000L
  val backfillHead: Long = creationBlock + shape.spanBlocks - 1
  val lastBlock: Long = backfillHead + shape.tailBlocks

  private val rnd = new scala.util.Random(seed)
  private def bytes(n: Int): Array[Byte] = { val b = new Array[Byte](n); rnd.nextBytes(b); b }

  val contractAddr: Map[String, Array[Byte]] =
    Seq("vat", "jug", "psm").map(c => c -> bytes(20)).toMap
  private val foreignAddrs = Vector.fill(16)(bytes(20))
  private val foreignTopics = Vector.fill(5)(bytes(32))

  /** Logs per block and foreign share at block b. */
  private def traffic(b: Long): (Double, Double) =
    shape.dense.find(w => b >= creationBlock + w.offset && b < creationBlock + w.offset + w.blocks)
      .map(w => (w.logsPerBlock.toDouble, w.foreignShare))
      .getOrElse {
        val pos = ((b - creationBlock).toDouble / shape.spanBlocks).min(0.999)
        (shape.eraDensity((pos * shape.eraDensity.size).toInt.min(shape.eraDensity.size - 1)),
          shape.foreignShare)
      }

  /** Table mix of known logs (weights). */
  private val mix: Seq[(String, Int)] = Seq("vat_call_frob" -> 45,
    "vat_call_grab" -> 8, "vat_call_fold" -> 20, "jug_call_file" -> 5,
    "psm_evt_buygem" -> 11, "psm_evt_sellgem" -> 11)
  private val mixTotal = mix.map(_._2).sum

  // tables follow a smooth weighted round-robin over the mix, and wrapped
  // calls an even spread, so every seed lands the same rows per table and
  // the same files per commit; the seed draws the values
  private val credit = Array.fill(mix.size)(0)
  private def pickTable(): String = {
    mix.indices.foreach(i => credit(i) += mix(i)._2)
    val next = credit.indices.maxBy(i => credit(i))
    credit(next) -= mixTotal
    mix(next)._1
  }
  private var wrapped = 0.0

  private def fix(scaleDigits: Int, zeroPct: Int): JBigDecimal =
    if (rnd.nextInt(100) < zeroPct) JBigDecimal.ZERO
    else {
      val v = BigInteger.TEN.pow(scaleDigits)
        .multiply(BigInteger.valueOf(rnd.between(1L, 99999L)))
        .divide(BigInteger.TEN)
      new JBigDecimal(if (rnd.nextBoolean()) v else v.negate())
    }
  private def ilk(): Array[Byte] = bytes32(Ilks(rnd.nextInt(Ilks.length)))

  private def valuesFor(table: String): Seq[Any] = table match {
    case "vat_call_frob" | "vat_call_grab" =>
      Seq(ilk(), bytes(20), bytes(20), bytes(20), fix(18, 10), fix(18, 30))
    case "vat_call_fold" => Seq(ilk(), bytes(20), fix(24, 20))
    case "jug_call_file" => Seq(ilk(), bytes32("duty"),
      new JBigDecimal(BigInteger.TEN.pow(27)
        .add(BigInteger.valueOf(rnd.between(0L, 8500000000L)))))
    case _ => Seq(bytes(20), new JBigDecimal(rnd.between(1000000L, 10000000000000L)),
      new JBigDecimal(rnd.between(100L, 10000000L)))
  }

  /** All logs, ordered by (block, log index). */
  val logs: Array[GenLog] = {
    val out = ArrayBuffer.empty[GenLog]
    // counts and the foreign share are spread evenly, not drawn, so every
    // seed carries the same amount of work; the seed draws the contents
    var perBlock = 0.0
    var foreign = 0.0
    var b = creationBlock
    while (b <= lastBlock) {
      val (density, foreignShare) = traffic(b)
      perBlock += density
      val n = perBlock.toInt
      perBlock -= n
      if (n > 0) {
        val blockHash = bytes(32)
        var i = 0
        while (i < n) {
          foreign += foreignShare
          out += (if (foreign >= 1.0) { foreign -= 1.0; foreignLog(b, i, blockHash) }
                  else knownLog(b, i, blockHash))
          i += 1
        }
      }
      b += 1
    }
    out.toArray
  }

  private def foreignLog(b: Long, i: Int, blockHash: Array[Byte]): GenLog =
    GenLog(b, i, i, bytes(32), blockHash, foreignAddrs(rnd.nextInt(foreignAddrs.size)),
      Seq(foreignTopics(rnd.nextInt(foreignTopics.size)), word(bytes(20))),
      bytes(32 * (1 + rnd.nextInt(3))), None, Nil)

  private def knownLog(b: Long, i: Int, blockHash: Array[Byte]): GenLog = {
    val table = pickTable()
    val values = valuesFor(table)
    val key = DispatchKeys(table)
    val contract = contractAddr(table.takeWhile(_ != '_'))
    if (table.startsWith("psm_evt_")) {
      // event: indexed owner in topics[1], value and fee in data
      GenLog(b, i, i, bytes(32), blockHash, contract,
        Seq(key, word(values.head.asInstanceOf[Array[Byte]])),
        values.tail.map(v => intWord(v.asInstanceOf[JBigDecimal])).reduce(_ ++ _),
        Some(table), values)
    } else {
      // LogNote-style call: topics[0] is the selector padded to 32 bytes,
      // data is the calldata; a proxy wrap prefixes a foreign selector and
      // one or two head words, which the decoder's aligned scan skips
      val calldata = key.take(4) ++ values.map(encodeStatic).reduce(_ ++ _)
      wrapped += shape.wrappedShare
      val data =
        if (wrapped < 1.0) calldata
        else {
          wrapped -= 1.0
          WrapSelector ++ Array.fill(1 + rnd.nextInt(2))(new Array[Byte](32)).flatten ++ calldata
        }
      GenLog(b, i, i, bytes(32), blockHash, contract, Seq(key), data, Some(table), values)
    }
  }

  // ------------------------------------------------------------- queries

  private val blocks: Array[Long] = logs.map(_.block)

  /** Index of the first log at block >= b. */
  def lowerIndex(b: Long): Int = {
    var lo = 0; var hi = blocks.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (blocks(m) < b) lo = m + 1 else hi = m }
    lo
  }

  def slice(from: Long, to: Long): Array[GenLog] =
    if (to < from) Array.empty else logs.slice(lowerIndex(from), lowerIndex(to + 1))

  def known(from: Long, to: Long): Array[GenLog] = slice(from, to).filter(_.table.isDefined)
}

object Corpus {
  val Tables: Seq[String] = Seq("vat_call_frob", "vat_call_grab", "vat_call_fold",
    "jug_call_file", "psm_evt_buygem", "psm_evt_sellgem")

  /** Dispatch keys from the published signatures (keccak-256 of the
    * canonical signature; the first four bytes for a call, padded to a
    * 32-byte topic). Carried as constants so the corpus never runs the
    * engine's hashing; `Engine.checkDispatchKeys` compares them with the
    * engine's table defs at start-up. */
  val DispatchKeys: Map[String, Array[Byte]] = Map(
    "vat_call_frob" -> selector("76088703"),   // frob(bytes32,address,address,address,int256,int256)
    "vat_call_grab" -> selector("7bab3f40"),   // grab(bytes32,address,address,address,int256,int256)
    "vat_call_fold" -> selector("b65337df"),   // fold(bytes32,address,int256)
    "jug_call_file" -> selector("1a0b287e"),   // file(bytes32,bytes32,uint256)
    "psm_evt_buygem" -> hex("085d06ecf4c34b237767a31c0888e121d89546a77f186f1987c6b8715e1a8caa"),
    "psm_evt_sellgem" -> hex("ef75f5a47cc9a929968796ceb84f19e7541617b4577f2c228ea95200e1572081"))

  val Ilks: Seq[String] = Seq("ETH-A", "ETH-B", "WBTC-A", "PSM-USDC-A", "USDC-A",
    "RWA001-A", "UNIV2DAIETH-A")

  private val WrapSelector: Array[Byte] = Array(0x0e, 0x1f, 0x2a, 0x3b).map(_.toByte)

  def hex(s: String): Array[Byte] =
    s.stripPrefix("0x").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  def toHex(b: Array[Byte]): String = {
    val sb = new StringBuilder(2 + 2 * b.length).append("0x")
    b.foreach { x => sb.append(Character.forDigit((x >> 4) & 0xf, 16)); sb.append(Character.forDigit(x & 0xf, 16)) }
    sb.toString
  }

  private def selector(s: String): Array[Byte] = java.util.Arrays.copyOf(hex(s), 32)

  def bytes32(s: String): Array[Byte] = java.util.Arrays.copyOf(s.getBytes("US-ASCII"), 32)

  /** Left-pad to one 32-byte word (addresses). */
  def word(b: Array[Byte]): Array[Byte] = new Array[Byte](32 - b.length) ++ b

  /** Two's-complement 32-byte big-endian word of an integer value. */
  def intWord(v: JBigDecimal): Array[Byte] = {
    val raw = v.toBigIntegerExact.toByteArray
    val pad: Byte = if (v.signum < 0) -1 else 0
    Array.fill[Byte](32 - raw.length)(pad) ++ raw
  }

  private def encodeStatic(v: Any): Array[Byte] = v match {
    case b: Array[Byte] if b.length == 32 => b
    case b: Array[Byte] => word(b)
    case d: JBigDecimal => intWord(d)
    case other => throw new IllegalArgumentException(s"not a static ABI value: $other")
  }
}
