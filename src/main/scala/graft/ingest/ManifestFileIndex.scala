package graft.ingest

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types._

/** One manifest data file plus its per-column integer stat rectangle
  * (colStats merged with the range column's min/max — one lookup map,
  * one pruning rule) and, for partitioned stores, the file's partition
  * values in [[ManifestFileIndex.partitionSchema]] order. */
private[graft] case class PrunableFile(status: FileStatus,
                                       stats: Map[String, (Long, Long)],
                                       partValues: Seq[String] = Nil,
                                       strStats: Map[String,
                                         (Seq[Byte], Option[Seq[Byte]])] =
                                         Map.empty,
                                       decStats: Map[String,
                                         (Long, Long, Int)] = Map.empty,
                                       tsStats: Map[String,
                                         (Long, Long, Boolean)] = Map.empty,
                                       nullStats: Map[String, (Long, Long)] =
                                         Map.empty,
                                       dblStats: Map[String, (Long, Long)] =
                                         Map.empty,
                                       blooms: Map[String,
                                         org.apache.spark.util.sketch
                                           .BloomFilter] = Map.empty,
                                       rows: Option[Long] = None)

/** AUTOMATIC manifest-stats pruning for the ordinary read path (round-13
  * verdict, Next #2): a Catalyst [[FileIndex]] over the snapshot files of
  * one physical schema and partition-key sequence — however many commits
  * they span — whose `listFiles` intersects the query's own pushed-down
  * data predicates with the per-file stat rectangles the manifest
  * records. Each file carries its own partition values, so the index
  * roots at the store's `data/` directory rather than at any one commit.
  *
  * Through round 13 the Z-order machinery pruned only when the CALLER
  * named the box (`readBox` / `graft_store_box`); a plain
  * `store.read().filter($"event_id".between(a,b) && $"user_id".between(c,d))`
  * — or the same WHERE through `graft_store_range` — listed every file.
  * `listFiles(partitionFilters, dataFilters)` is exactly the hook Spark
  * gives a source to see those predicates at physical-planning time, so
  * the pruning needs zero API change and composes with every downstream
  * consumer (TVFs, matviews, decode reads).
  *
  * Semantics are conservative by construction, the same rule as
  * [[ManifestStore.readBox]]:
  *
  *  - only top-level AND-ed comparisons between a bare column and an
  *    integral literal contribute bounds (`>=`, `>`, `<=`, `<`, `=`,
  *    both operand orders); anything else — OR, IN, casts, expressions —
  *    contributes nothing and the file is kept;
  *  - a file lacking stats for a bounded column is kept;
  *  - the exact predicate still executes on top (Spark keeps its Filter),
  *    so pruning can never change an answer, only skip provably-dead IO.
  *
  * At 100 TB this is the difference between "the engine prunes when the
  * analyst knows the incantation" and "every BETWEEN on a clustered
  * column opens a handful of files" — the latter is what a warehouse
  * means by data skipping. */
private[graft] class ManifestFileIndex(
    val rootPath: Path,
    val files: Seq[PrunableFile],
    partCols: Seq[String] = Nil) extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(rootPath)

  // partition columns type as STRING: the index path is only chosen for
  // commits whose partition values are unambiguously non-numeric (see
  // ManifestStore.readFiles), exactly where Spark's own inference would
  // also type string — behavior-identical to the basePath read there
  override val partitionSchema: StructType =
    StructType(partCols.map(StructField(_, StringType, nullable = true)))

  override def sizeInBytes: Long = files.map(_.status.getLen).sum

  override def inputFiles: Array[String] =
    files.map(_.status.getPath.toString).toArray

  override def refresh(): Unit = ()

  // value equality on (root, file list) — the same contract
  // InMemoryFileIndex ships (it compares rootPaths): without it, two
  // reads of one snapshot canonicalize UNEQUAL (reference equality on a
  // case-class field), which breaks ReuseExchange and any
  // canonicalized-plan matching (the matview router) over store reads
  override def equals(other: Any): Boolean = other match {
    case m: ManifestFileIndex =>
      rootPath == m.rootPath &&
        files.map(_.status.getPath) == m.files.map(_.status.getPath)
    case _ => false
  }

  override def hashCode(): Int =
    31 * rootPath.hashCode + files.map(_.status.getPath).hashCode

  private def partRow(values: Seq[String]): InternalRow =
    InternalRow.fromSeq(values.map(
      org.apache.spark.unsafe.types.UTF8String.fromString))

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
  : Seq[PartitionDirectory] = {
    val bounds = ManifestFileIndex.boundsOf(dataFilters)
    val strBounds = ManifestFileIndex.strBoundsOf(dataFilters)
    val decBounds = ManifestFileIndex.decBoundsOf(dataFilters)
    val tsBounds = ManifestFileIndex.tsBoundsOf(dataFilters)
    val nullProbes = ManifestFileIndex.nullProbesOf(dataFilters)
    val dblBounds = ManifestFileIndex.dblBoundsOf(dataFilters)
    val bloomProbes = ManifestFileIndex.bloomProbesOf(dataFilters)
    val statKept =
      if (bounds.isEmpty && strBounds.isEmpty && decBounds.isEmpty &&
          tsBounds.isEmpty && nullProbes.isEmpty && dblBounds.isEmpty &&
          bloomProbes.isEmpty) files
      else files.filter { f =>
        bounds.forall { case (c, (lo, hi)) =>
          f.stats.get(c).forall { case (mn, mx) => mx >= lo && mn <= hi }
        } && strBounds.forall { case (c, (lo, hi)) =>
          f.strStats.get(c).forall { case (fmin, fmaxOpt) =>
            // fmin is a TRUNCATED prefix (<= true min), fmax rounded up
            // (>= true max): overlap under unsigned byte order — the
            // same order UTF8String comparison uses
            hi.forall(h => ManifestStore.byteCompare(fmin, h) <= 0) &&
              lo.forall(l => fmaxOpt.forall(fm =>
                ManifestStore.byteCompare(fm, l) >= 0))
          }
        } && decBounds.forall { case (c, (lo, hi)) =>
          f.decStats.get(c).forall { case (mn, mx, scale) =>
            // UNSCALED file bounds rescale to VALUES at the recorded
            // scale; the comparison is exact BigDecimal arithmetic at
            // both sides' own scales — no rounding, no overflow
            val fmin = BigDecimal(BigInt(mn), scale)
            val fmax = BigDecimal(BigInt(mx), scale)
            hi.forall(fmin <= _) && lo.forall(fmax >= _)
          }
        } && tsBounds.forall { case (c, (lo, hi, wantUtc)) =>
          f.tsStats.get(c).forall { case (mn, mx, utc) =>
            // micros compare only within ONE timestamp semantics: the
            // predicate's type (instant vs wall-clock) must agree with
            // the file's isAdjustedToUTC flag, else keep the file
            utc != wantUtc || (hi.forall(mn <= _) && lo.forall(mx >= _))
          }
        } && nullProbes.forall { case (c, (wantNull, wantNotNull)) =>
          f.nullStats.get(c).forall { case (nulls, rows) =>
            // `IS NULL` needs a null row (nulls > 0); `IS NOT NULL`
            // needs a non-null row (nulls < rows) — both provable from
            // the footer's num_nulls alone
            (!wantNull || nulls > 0) && (!wantNotNull || nulls < rows)
          }
        } && dblBounds.forall { case (c, (lo, hi)) =>
          f.dblStats.get(c).forall { case (mnBits, mxBits) =>
            // recorded bounds prove the file is NaN-free (the writer
            // drops floating stats on any NaN), so comparing under
            // Spark's total order — NaN greatest, -0.0 == 0.0 — via
            // canonicalized Double.compare is exact: a NaN probe bound
            // sorts above every finite file max and prunes correctly
            val fmin = ManifestFileIndex.canonDbl(
              java.lang.Double.longBitsToDouble(mnBits))
            val fmax = ManifestFileIndex.canonDbl(
              java.lang.Double.longBitsToDouble(mxBits))
            hi.forall(h => java.lang.Double.compare(fmin, h) <= 0) &&
              lo.forall(l => java.lang.Double.compare(fmax, l) >= 0)
          }
        } && bloomProbes.forall { case (c, conjuncts) =>
          f.blooms.get(c).forall { bf =>
            // each top-level conjunct is an independent requirement: the
            // file survives only if EVERY conjunct has at least one
            // possibly-present value (x = 1 AND x IN (2,3) needs both)
            conjuncts.forall(_.exists(bf.mightContainLong))
          }
        }
      }
    if (partCols.isEmpty)
      Seq(PartitionDirectory(InternalRow.empty, statKept.map(_.status).toArray))
    else {
      // one PartitionDirectory per distinct partition tuple, pruned by
      // the pushed partition predicates (bound by NAME, evaluated on
      // the directory's own row — the same contract
      // PartitioningAwareFileIndex.prunePartitions implements)
      val byPart = statKept.groupBy(_.partValues).toSeq.sortBy(_._1.mkString("/"))
      val kept =
        if (partitionFilters.isEmpty) byPart
        else try {
          val pred = partitionFilters.reduce(And)
          val bound = pred.transform {
            case a: AttributeReference =>
              val i = partCols.indexWhere(_.equalsIgnoreCase(a.name))
              require(i >= 0, s"unknown partition column ${a.name}")
              BoundReference(i, StringType, nullable = true)
          }
          val p = Predicate.createInterpreted(bound)
          byPart.filter { case (values, _) => p.eval(partRow(values)) }
        } catch {
          // pruning is an optimization: an unbindable/unevaluable
          // partition predicate keeps every partition (Spark re-applies
          // the exact filter on the rows), never fails the query
          case _: Exception => byPart
        }
      kept.map { case (values, fs) =>
        PartitionDirectory(partRow(values), fs.map(_.status).toArray)
      }
    }
  }
}

private[graft] object ManifestFileIndex {

  /** Extract per-column [lo, hi] windows from pushed-down data filters.
    * Only shapes whose bounds are PROVABLY implied contribute; a column
    * with contradictory bounds (lo > hi) simply prunes everything —
    * correct, since no row can satisfy the conjunction. */
  private[graft] def boundsOf(filters: Seq[Expression])
  : Map[String, (Long, Long)] = {
    val acc = scala.collection.mutable.Map[String, (Long, Long)]()
    def add(name: String, lo: Long, hi: Long): Unit = {
      val (clo, chi) = acc.getOrElse(name, (Long.MinValue, Long.MaxValue))
      acc(name) = (math.max(clo, lo), math.min(chi, hi))
    }
    def litLong(e: Expression): Option[Long] = e match {
      case Literal(v, dt) if v != null => dt match {
        case ByteType => Some(v.asInstanceOf[Byte].toLong)
        case ShortType => Some(v.asInstanceOf[Short].toLong)
        case IntegerType => Some(v.asInstanceOf[Int].toLong)
        case LongType => Some(v.asInstanceOf[Long])
        // DateType compares in epoch DAYS — the same integers the
        // parquet footer's INT32 date statistics hold
        case DateType => Some(v.asInstanceOf[Int].toLong)
        case _ => None // non-integral literal types: contribute nothing
      }
      case _ => None
    }
    // raw values inside an optimizer-converted InSet (no Literal wrapper)
    def rawLong(v: Any): Option[Long] = v match {
      case n: java.lang.Byte => Some(n.toLong)
      case n: java.lang.Short => Some(n.toLong)
      case n: java.lang.Integer => Some(n.toLong)
      case n: java.lang.Long => Some(n.longValue)
      case _ => None
    }
    // x > v strengthens to x >= v+1 on integers; clamp at the extremes
    // rather than overflow (a bound AT Long.MaxValue is simply vacuous)
    def inc(v: Long) = if (v == Long.MaxValue) v else v + 1
    def dec(v: Long) = if (v == Long.MinValue) v else v - 1
    def walk(e: Expression): Unit = e match {
      case And(l, r) => walk(l); walk(r)
      case GreaterThanOrEqual(a: AttributeReference, v) =>
        litLong(v).foreach(add(a.name, _, Long.MaxValue))
      case GreaterThan(a: AttributeReference, v) =>
        litLong(v).foreach(x => add(a.name, inc(x), Long.MaxValue))
      case LessThanOrEqual(a: AttributeReference, v) =>
        litLong(v).foreach(add(a.name, Long.MinValue, _))
      case LessThan(a: AttributeReference, v) =>
        litLong(v).foreach(x => add(a.name, Long.MinValue, dec(x)))
      case EqualTo(a: AttributeReference, v) =>
        litLong(v).foreach(x => add(a.name, x, x))
      // literal-first mirrors (Catalyst does not always normalize order)
      case GreaterThanOrEqual(v, a: AttributeReference) =>
        litLong(v).foreach(add(a.name, Long.MinValue, _))
      case GreaterThan(v, a: AttributeReference) =>
        litLong(v).foreach(x => add(a.name, Long.MinValue, dec(x)))
      case LessThanOrEqual(v, a: AttributeReference) =>
        litLong(v).foreach(add(a.name, _, Long.MaxValue))
      case LessThan(v, a: AttributeReference) =>
        litLong(v).foreach(x => add(a.name, inc(x), Long.MaxValue))
      case EqualTo(v, a: AttributeReference) =>
        litLong(v).foreach(x => add(a.name, x, x))
      // IN-lists bound to their [min, max] envelope — a coarse but
      // provable box (the exact predicate re-filters the rows); every
      // element must be an integral literal or the list contributes
      // nothing
      case In(a: AttributeReference, list) if list.nonEmpty =>
        val vs = list.map(litLong)
        if (vs.forall(_.isDefined)) {
          val xs = vs.flatten
          add(a.name, xs.min, xs.max)
        }
      case InSet(a: AttributeReference, hset) if hset.nonEmpty =>
        val vs = hset.toSeq.map(rawLong)
        if (vs.forall(_.isDefined)) {
          val xs = vs.flatten
          add(a.name, xs.min, xs.max)
        }
      case _ => () // OR / casts / UDFs: no bound, conservative
    }
    filters.foreach(walk)
    acc.toMap
  }

  /** DECIMAL-column [lo, hi] value windows (optional per side) from
    * pushed-down filters (round-15 agenda #4). Accepted shapes: a bare
    * decimal attribute — or a value-preserving widening Cast of one
    * (comparisons against a wider literal insert exactly that) —
    * compared to a decimal literal, both operand orders, plus equality
    * and IN/InSet envelopes. Strict </> widen to inclusive
    * (conservative). Bounds are exact BigDecimal values; the pruning
    * side rescales each file's unscaled stats to values, so predicate
    * and stats always compare at their own true scales. */
  private[graft] def decBoundsOf(filters: Seq[Expression])
  : Map[String, (Option[BigDecimal], Option[BigDecimal])] = {
    val acc = scala.collection.mutable.Map[String,
      (Option[BigDecimal], Option[BigDecimal])]()
    def addLo(name: String, lo: BigDecimal): Unit = {
      val (clo, chi) = acc.getOrElse(name, (None, None))
      acc(name) = (Some(clo.map(_.max(lo)).getOrElse(lo)), chi)
    }
    def addHi(name: String, hi: BigDecimal): Unit = {
      val (clo, chi) = acc.getOrElse(name, (None, None))
      acc(name) = (clo, Some(chi.map(_.min(hi)).getOrElse(hi)))
    }
    // the decimal column, possibly under a lossless widening cast
    // (precision'−scale' ≥ precision−scale and scale' ≥ scale: every
    // value representable before is representable after, so a bound on
    // the cast IS a bound on the column)
    def decAttr(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference if a.dataType.isInstanceOf[DecimalType] =>
        Some(a)
      case c: Cast => (c.child, c.child.dataType, c.dataType) match {
        case (a: AttributeReference, f: DecimalType, t: DecimalType)
          if t.scale >= f.scale &&
            t.precision - t.scale >= f.precision - f.scale => Some(a)
        case _ => None
      }
      case _ => None
    }
    def lit(e: Expression): Option[BigDecimal] = e match {
      case Literal(d: org.apache.spark.sql.types.Decimal, _: DecimalType)
        if d != null => Some(d.toBigDecimal)
      case _ => None
    }
    def walk(e: Expression): Unit = e match {
      case And(l, r) => walk(l); walk(r)
      case EqualTo(a, v) if decAttr(a).isDefined =>
        lit(v).foreach { x =>
          addLo(decAttr(a).get.name, x); addHi(decAttr(a).get.name, x)
        }
      case EqualTo(v, a) if decAttr(a).isDefined =>
        lit(v).foreach { x =>
          addLo(decAttr(a).get.name, x); addHi(decAttr(a).get.name, x)
        }
      case GreaterThanOrEqual(a, v) if decAttr(a).isDefined =>
        lit(v).foreach(addLo(decAttr(a).get.name, _))
      case GreaterThan(a, v) if decAttr(a).isDefined =>
        lit(v).foreach(addLo(decAttr(a).get.name, _)) // inclusive: safe
      case LessThanOrEqual(a, v) if decAttr(a).isDefined =>
        lit(v).foreach(addHi(decAttr(a).get.name, _))
      case LessThan(a, v) if decAttr(a).isDefined =>
        lit(v).foreach(addHi(decAttr(a).get.name, _))
      case GreaterThanOrEqual(v, a) if decAttr(a).isDefined =>
        lit(v).foreach(addHi(decAttr(a).get.name, _))
      case GreaterThan(v, a) if decAttr(a).isDefined =>
        lit(v).foreach(addHi(decAttr(a).get.name, _))
      case LessThanOrEqual(v, a) if decAttr(a).isDefined =>
        lit(v).foreach(addLo(decAttr(a).get.name, _))
      case LessThan(v, a) if decAttr(a).isDefined =>
        lit(v).foreach(addLo(decAttr(a).get.name, _))
      case In(a, list) if decAttr(a).isDefined && list.nonEmpty =>
        val vs = list.map(lit)
        if (vs.forall(_.isDefined)) {
          val xs = vs.flatten
          addLo(decAttr(a).get.name, xs.min)
          addHi(decAttr(a).get.name, xs.max)
        }
      case InSet(a, hset) if decAttr(a).isDefined && hset.nonEmpty =>
        val vs = hset.toSeq.map {
          case d: org.apache.spark.sql.types.Decimal => Some(d.toBigDecimal)
          case _ => None
        }
        if (vs.forall(_.isDefined)) {
          val xs = vs.flatten
          addLo(decAttr(a).get.name, xs.min)
          addHi(decAttr(a).get.name, xs.max)
        }
      case _ => () // OR / non-decimal / expressions: conservative
    }
    filters.foreach(walk)
    acc.toMap
  }

  /** TIMESTAMP-column [lo, hi] micros windows (optional per side) plus
    * the semantics the predicate expects (true = instant /
    * TimestampType, false = wall-clock / TimestampNTZType) from
    * pushed-down filters — the time-window probe is THE 100 TB scan
    * shape. Catalyst stores both timestamp types as epoch micros
    * (instant micros for TimestampType, wall micros for NTZ), so the
    * literal value is directly comparable with the manifest's
    * micros-normalized stats WHEN the file's isAdjustedToUTC flag
    * agrees; the pruning side enforces that agreement. Strict </>
    * widen to inclusive (conservative). */
  private[graft] def tsBoundsOf(filters: Seq[Expression])
  : Map[String, (Option[Long], Option[Long], Boolean)] = {
    val acc = scala.collection.mutable.Map[String,
      (Option[Long], Option[Long], Boolean)]()
    def tsAttr(e: Expression): Option[(AttributeReference, Boolean)] =
      e match {
        case a: AttributeReference => a.dataType match {
          case TimestampType => Some((a, true))
          case TimestampNTZType => Some((a, false))
          case _ => None
        }
        case _ => None
      }
    def lit(e: Expression, utc: Boolean): Option[Long] = e match {
      case Literal(v, t) if v != null &&
        ((utc && t == TimestampType) || (!utc && t == TimestampNTZType)) =>
        Some(v.asInstanceOf[Long])
      case _ => None
    }
    def addLo(a: (AttributeReference, Boolean), v: Long): Unit = {
      val (clo, chi, _) = acc.getOrElse(a._1.name, (None, None, a._2))
      acc(a._1.name) = (Some(clo.map(math.max(_, v)).getOrElse(v)), chi, a._2)
    }
    def addHi(a: (AttributeReference, Boolean), v: Long): Unit = {
      val (clo, chi, _) = acc.getOrElse(a._1.name, (None, None, a._2))
      acc(a._1.name) = (clo, Some(chi.map(math.min(_, v)).getOrElse(v)), a._2)
    }
    def walk(e: Expression): Unit = e match {
      case And(l, r) => walk(l); walk(r)
      case EqualTo(x, v) if tsAttr(x).isDefined =>
        val a = tsAttr(x).get
        lit(v, a._2).foreach { t => addLo(a, t); addHi(a, t) }
      case EqualTo(v, x) if tsAttr(x).isDefined =>
        val a = tsAttr(x).get
        lit(v, a._2).foreach { t => addLo(a, t); addHi(a, t) }
      case GreaterThanOrEqual(x, v) if tsAttr(x).isDefined =>
        val a = tsAttr(x).get; lit(v, a._2).foreach(addLo(a, _))
      case GreaterThan(x, v) if tsAttr(x).isDefined =>
        val a = tsAttr(x).get; lit(v, a._2).foreach(addLo(a, _))
      case LessThanOrEqual(x, v) if tsAttr(x).isDefined =>
        val a = tsAttr(x).get; lit(v, a._2).foreach(addHi(a, _))
      case LessThan(x, v) if tsAttr(x).isDefined =>
        val a = tsAttr(x).get; lit(v, a._2).foreach(addHi(a, _))
      case GreaterThanOrEqual(v, x) if tsAttr(x).isDefined =>
        val a = tsAttr(x).get; lit(v, a._2).foreach(addHi(a, _))
      case GreaterThan(v, x) if tsAttr(x).isDefined =>
        val a = tsAttr(x).get; lit(v, a._2).foreach(addHi(a, _))
      case LessThanOrEqual(v, x) if tsAttr(x).isDefined =>
        val a = tsAttr(x).get; lit(v, a._2).foreach(addLo(a, _))
      case LessThan(v, x) if tsAttr(x).isDefined =>
        val a = tsAttr(x).get; lit(v, a._2).foreach(addLo(a, _))
      case In(x, list) if tsAttr(x).isDefined && list.nonEmpty =>
        val a = tsAttr(x).get
        val vs = list.map(lit(_, a._2))
        if (vs.forall(_.isDefined)) {
          val xs = vs.flatten
          addLo(a, xs.min); addHi(a, xs.max)
        }
      case _ => () // OR / casts / mixed-type comparisons: conservative
    }
    filters.foreach(walk)
    acc.toMap
  }

  /** Round a byte prefix UP to the smallest sequence greater than every
    * string carrying that prefix: last non-0xFF byte + 1, tail dropped;
    * an all-0xFF prefix has no successor → None (unbounded). */
  private[graft] def prefixUpper(p: Seq[Byte]): Option[Seq[Byte]] = {
    var i = p.length - 1
    while (i >= 0 && p(i) == -1) i -= 1
    if (i < 0) None else Some(p.take(i) :+ (p(i) + 1).toByte)
  }

  /** STRING-column [lo, hi] windows (optional per side) from pushed-down
    * filters — the string twin of [[boundsOf]]: top-level AND-ed
    * comparisons, equality, IN/InSet envelopes, and StartsWith (a
    * `LIKE 'p%'` pushes down as StartsWith: lo = the prefix, hi = the
    * prefix's successor). Strict </> widen to inclusive (conservative).
    * Only default-collation (binary-ordered) string literals qualify —
    * a non-binary collation's order is not the stats' byte order. */
  private[graft] def strBoundsOf(filters: Seq[Expression])
  : Map[String, (Option[Seq[Byte]], Option[Seq[Byte]])] = {
    val acc = scala.collection.mutable.Map[String,
      (Option[Seq[Byte]], Option[Seq[Byte]])]()
    def maxB(a: Seq[Byte], b: Seq[Byte]) =
      if (ManifestStore.byteCompare(a, b) >= 0) a else b
    def minB(a: Seq[Byte], b: Seq[Byte]) =
      if (ManifestStore.byteCompare(a, b) <= 0) a else b
    def addLo(name: String, lo: Seq[Byte]): Unit = {
      val (clo, chi) = acc.getOrElse(name, (None, None))
      acc(name) = (Some(clo.map(maxB(_, lo)).getOrElse(lo)), chi)
    }
    def addHi(name: String, hi: Seq[Byte]): Unit = {
      val (clo, chi) = acc.getOrElse(name, (None, None))
      acc(name) = (clo, Some(chi.map(minB(_, hi)).getOrElse(hi)))
    }
    def lit(e: Expression): Option[Seq[Byte]] = e match {
      case Literal(u: org.apache.spark.unsafe.types.UTF8String, StringType) =>
        Some(u.getBytes.toSeq)
      case _ => None
    }
    def walk(e: Expression): Unit = e match {
      case And(l, r) => walk(l); walk(r)
      case EqualTo(a: AttributeReference, v) =>
        lit(v).foreach { x => addLo(a.name, x); addHi(a.name, x) }
      case EqualTo(v, a: AttributeReference) =>
        lit(v).foreach { x => addLo(a.name, x); addHi(a.name, x) }
      case GreaterThanOrEqual(a: AttributeReference, v) =>
        lit(v).foreach(addLo(a.name, _))
      case GreaterThan(a: AttributeReference, v) =>
        lit(v).foreach(addLo(a.name, _)) // inclusive: conservative
      case LessThanOrEqual(a: AttributeReference, v) =>
        lit(v).foreach(addHi(a.name, _))
      case LessThan(a: AttributeReference, v) =>
        lit(v).foreach(addHi(a.name, _))
      case GreaterThanOrEqual(v, a: AttributeReference) =>
        lit(v).foreach(addHi(a.name, _))
      case GreaterThan(v, a: AttributeReference) =>
        lit(v).foreach(addHi(a.name, _))
      case LessThanOrEqual(v, a: AttributeReference) =>
        lit(v).foreach(addLo(a.name, _))
      case LessThan(v, a: AttributeReference) =>
        lit(v).foreach(addLo(a.name, _))
      case StartsWith(a: AttributeReference, v) =>
        lit(v).foreach { p =>
          addLo(a.name, p)
          prefixUpper(p).foreach(addHi(a.name, _))
        }
      case In(a: AttributeReference, list) if list.nonEmpty =>
        val vs = list.map(lit)
        if (vs.forall(_.isDefined)) {
          val xs = vs.flatten
          addLo(a.name, xs.reduce(minB))
          addHi(a.name, xs.reduce(maxB))
        }
      case InSet(a: AttributeReference, hset)
        if hset.nonEmpty && a.dataType == StringType =>
        val vs = hset.toSeq.map {
          case u: org.apache.spark.unsafe.types.UTF8String =>
            Some(u.getBytes.toSeq)
          case _ => None
        }
        if (vs.forall(_.isDefined)) {
          val xs = vs.flatten
          addLo(a.name, xs.reduce(minB))
          addHi(a.name, xs.reduce(maxB))
        }
      case _ => () // OR / casts / contains / regex: conservative
    }
    filters.foreach(walk)
    acc.toMap
  }

  /** Per-column (wants IS NULL, wants IS NOT NULL) from top-level AND-ed
    * null tests. Spark pushes IsNotNull for every column referenced by
    * any filter, so the not-null side fires on effectively every probe —
    * all-null files (a sparse column's common case at 100 TB) prune
    * without the caller asking. */
  private[graft] def nullProbesOf(filters: Seq[Expression])
  : Map[String, (Boolean, Boolean)] = {
    val acc = scala.collection.mutable.Map[String, (Boolean, Boolean)]()
    def walk(e: Expression): Unit = e match {
      case And(l, r) => walk(l); walk(r)
      case IsNull(a: AttributeReference) =>
        val (n, nn) = acc.getOrElse(a.name, (false, false))
        acc(a.name) = (true, nn)
      case IsNotNull(a: AttributeReference) =>
        val (n, nn) = acc.getOrElse(a.name, (false, false))
        acc(a.name) = (n, true)
      case _ => () // OR / nested: conservative
    }
    filters.foreach(walk)
    acc.toMap
  }

  /** Collapse -0.0 to +0.0 so pruning comparison matches Spark's
    * semantics (-0.0 == 0.0) rather than Double.compare's bit order
    * (which puts -0.0 strictly below +0.0 and would prune a +0.0-only
    * file against an `= -0.0` probe). NaN passes through — Spark and
    * Double.compare agree NaN is greatest and NaN == NaN. */
  private[graft] def canonDbl(v: Double): Double =
    if (v == 0.0) 0.0 else v

  /** DOUBLE/FLOAT-column [lo, hi] value windows (optional per side) from
    * pushed-down filters. A float attribute — bare or under the exact
    * widening Cast to double — contributes at its widened value; float
    * literals widen the same way, so both sides always compare as
    * doubles. Strict </> widen to inclusive (conservative). Comparisons
    * run under canonicalized Double.compare: NaN greatest (Spark's
    * ordering) and -0.0 == 0.0. */
  private[graft] def dblBoundsOf(filters: Seq[Expression])
  : Map[String, (Option[Double], Option[Double])] = {
    val acc = scala.collection.mutable.Map[String,
      (Option[Double], Option[Double])]()
    def maxD(a: Double, b: Double) =
      if (java.lang.Double.compare(a, b) >= 0) a else b
    def minD(a: Double, b: Double) =
      if (java.lang.Double.compare(a, b) <= 0) a else b
    def addLo(name: String, lo: Double): Unit = {
      val (clo, chi) = acc.getOrElse(name, (None, None))
      acc(name) = (Some(clo.map(maxD(_, lo)).getOrElse(lo)), chi)
    }
    def addHi(name: String, hi: Double): Unit = {
      val (clo, chi) = acc.getOrElse(name, (None, None))
      acc(name) = (clo, Some(chi.map(minD(_, hi)).getOrElse(hi)))
    }
    def dblAttr(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference
        if a.dataType == DoubleType || a.dataType == FloatType => Some(a)
      // float → double is value-exact: a bound on the cast IS a bound
      // on the column (matches how Catalyst widens mixed comparisons)
      case c: Cast => (c.child, c.child.dataType, c.dataType) match {
        case (a: AttributeReference, FloatType, DoubleType) => Some(a)
        case _ => None
      }
      case _ => None
    }
    def lit(e: Expression): Option[Double] = e match {
      case Literal(v, DoubleType) if v != null =>
        Some(canonDbl(v.asInstanceOf[Double]))
      case Literal(v, FloatType) if v != null =>
        Some(canonDbl(v.asInstanceOf[Float].toDouble))
      case _ => None
    }
    def walk(e: Expression): Unit = e match {
      case And(l, r) => walk(l); walk(r)
      case EqualTo(a, v) if dblAttr(a).isDefined =>
        lit(v).foreach { x =>
          addLo(dblAttr(a).get.name, x); addHi(dblAttr(a).get.name, x)
        }
      case EqualTo(v, a) if dblAttr(a).isDefined =>
        lit(v).foreach { x =>
          addLo(dblAttr(a).get.name, x); addHi(dblAttr(a).get.name, x)
        }
      case GreaterThanOrEqual(a, v) if dblAttr(a).isDefined =>
        lit(v).foreach(addLo(dblAttr(a).get.name, _))
      case GreaterThan(a, v) if dblAttr(a).isDefined =>
        lit(v).foreach(addLo(dblAttr(a).get.name, _)) // inclusive: safe
      case LessThanOrEqual(a, v) if dblAttr(a).isDefined =>
        lit(v).foreach(addHi(dblAttr(a).get.name, _))
      case LessThan(a, v) if dblAttr(a).isDefined =>
        lit(v).foreach(addHi(dblAttr(a).get.name, _))
      case GreaterThanOrEqual(v, a) if dblAttr(a).isDefined =>
        lit(v).foreach(addHi(dblAttr(a).get.name, _))
      case GreaterThan(v, a) if dblAttr(a).isDefined =>
        lit(v).foreach(addHi(dblAttr(a).get.name, _))
      case LessThanOrEqual(v, a) if dblAttr(a).isDefined =>
        lit(v).foreach(addLo(dblAttr(a).get.name, _))
      case LessThan(v, a) if dblAttr(a).isDefined =>
        lit(v).foreach(addLo(dblAttr(a).get.name, _))
      case In(a, list) if dblAttr(a).isDefined && list.nonEmpty =>
        val vs = list.map(lit)
        if (vs.forall(_.isDefined)) {
          val xs = vs.flatten
          addLo(dblAttr(a).get.name, xs.reduce(minD))
          addHi(dblAttr(a).get.name, xs.reduce(maxD))
        }
      case InSet(a, hset) if dblAttr(a).isDefined && hset.nonEmpty =>
        val vs = hset.toSeq.map {
          case d: java.lang.Double => Some(canonDbl(d.doubleValue))
          case f: java.lang.Float => Some(canonDbl(f.toDouble))
          case _ => None
        }
        if (vs.forall(_.isDefined)) {
          val xs = vs.flatten
          addLo(dblAttr(a).get.name, xs.reduce(minD))
          addHi(dblAttr(a).get.name, xs.reduce(maxD))
        }
      case _ => () // OR / non-floating / expressions: conservative
    }
    filters.foreach(walk)
    acc.toMap
  }

  /** xxhash64 of a literal, computed EXACTLY as the bloom write side
    * hashes column values (`functions.xxhash64`, seed 42) — the two
    * sides must agree bit-for-bit or pruning silently loses rows. */
  private def bloomHash(litExpr: Expression): Option[Long] =
    try Option(XxHash64(Seq(litExpr), 42L).eval(null))
      .map(_.asInstanceOf[Long])
    catch { case scala.util.control.NonFatal(_) => None }

  /** Per-column POINT-probe hash sets from top-level AND-ed equality /
    * IN predicates — one Set per conjunct (each is an independent
    * requirement). This is the probe family min/max structurally cannot
    * serve: `tx_hash = '0x…'` over an arrival-ordered store, where
    * every file spans the whole value range but at most one actually
    * holds the key. Only literal values of the column's own type
    * qualify (Catalyst constant-folds widening casts on the literal
    * side before pushdown). */
  private[graft] def bloomProbesOf(filters: Seq[Expression])
  : Map[String, Seq[Set[Long]]] = {
    val acc = scala.collection.mutable.Map[String, List[Set[Long]]]()
    def add(name: String, hashes: Set[Long]): Unit =
      acc(name) = hashes :: acc.getOrElse(name, Nil)
    def walk(e: Expression): Unit = e match {
      case And(l, r) => walk(l); walk(r)
      case EqualTo(a: AttributeReference, v: Literal)
        if v.value != null && v.dataType == a.dataType =>
        bloomHash(v).foreach(h => add(a.name, Set(h)))
      case EqualTo(v: Literal, a: AttributeReference)
        if v.value != null && v.dataType == a.dataType =>
        bloomHash(v).foreach(h => add(a.name, Set(h)))
      case In(a: AttributeReference, list)
        if list.nonEmpty && list.forall {
          case l: Literal => l.value != null && l.dataType == a.dataType
          case _ => false
        } =>
        val hs = list.map(bloomHash)
        if (hs.forall(_.isDefined)) add(a.name, hs.flatten.toSet)
      case InSet(a: AttributeReference, hset) if hset.nonEmpty =>
        val hs = hset.toSeq.map { raw =>
          if (raw == null) None
          else bloomHash(Literal(raw, a.dataType))
        }
        // a null element means the IN can also match via NULL semantics
        // paths we don't model — contribute nothing (conservative)
        if (hs.forall(_.isDefined)) add(a.name, hs.flatten.toSet)
      case _ => () // OR / ranges / expressions: no point probe
    }
    filters.foreach(walk)
    acc.view.mapValues(_.reverse.toSeq).toMap
  }
}
