package graft.engine.format

import java.sql.{Date, Timestamp}
import java.time.{Instant, LocalDate, LocalDateTime, ZoneOffset}

/** Encoding + comparison of per-segment column min/max values.
  *
  * Values are stored in `segmentmeta.stats` as strings in a canonical
  * form per type family:
  *   - numeric (byte..double, decimal): plain decimal string
  *   - string: the raw string
  *   - date: epoch day as decimal string
  *   - timestamp: epoch micros as decimal string
  *   - boolean: "0"/"1"
  *
  * Comparison against filter literals (DSv2 `sources.Filter` values) is
  * *conservative*: `None` means "don't know" and the pruner must keep the
  * segment. A wrong prune corrupts results; a missed prune only costs IO
  * (the reference's min/max blocklet skip has the same contract,
  * hadoop/.../CarbonInputFormat.java:540-584).
  */
object StatValue {

  /** Canonical string form of a value observed at write time. */
  def encode(v: Any): Option[String] = v match {
    case null => None
    case b: Boolean => Some(if (b) "1" else "0")
    case n @ (_: Byte | _: Short | _: Int | _: Long | _: Float | _: Double) =>
      Some(n.toString)
    case d: java.math.BigDecimal => Some(d.toPlainString)
    case d: BigDecimal => Some(d.underlying.toPlainString)
    case s: String => Some(s)
    case t: Timestamp => Some((t.getTime * 1000L + (t.getNanos / 1000) % 1000).toString)
    case i: Instant => Some((i.getEpochSecond * 1000000L + i.getNano / 1000).toString)
    case d: Date => Some(d.toLocalDate.toEpochDay.toString)
    case d: LocalDate => Some(d.toEpochDay.toString)
    case d: LocalDateTime => encode(d.toInstant(ZoneOffset.UTC))
    case _ => None // complex / binary: no stats
  }

  /** Normalize a filter literal to the same canonical space as `encode`,
    * tagged with its comparison family. */
  private def literal(v: Any): Option[(Char, Any)] = v match {
    case null => None
    case b: Boolean => Some(('n', BigDecimal(if (b) 1 else 0)))
    case n: Byte => Some(('n', BigDecimal(n.toInt)))
    case n: Short => Some(('n', BigDecimal(n.toInt)))
    case n: Int => Some(('n', BigDecimal(n)))
    case n: Long => Some(('n', BigDecimal(n)))
    case n: Float => if (n.isNaN || n.isInfinite) None else Some(('n', BigDecimal(n.toDouble)))
    case n: Double => if (n.isNaN || n.isInfinite) None else Some(('n', BigDecimal(n)))
    case d: java.math.BigDecimal => Some(('n', BigDecimal(d)))
    case d: BigDecimal => Some(('n', d))
    case s: String => Some(('s', s))
    case t: Timestamp => Some(('n', BigDecimal(t.getTime * 1000L + (t.getNanos / 1000) % 1000)))
    case i: Instant => Some(('n', BigDecimal(i.getEpochSecond * 1000000L + i.getNano / 1000)))
    case d: Date => Some(('n', BigDecimal(d.toLocalDate.toEpochDay)))
    case d: LocalDate => Some(('n', BigDecimal(d.toEpochDay)))
    case d: LocalDateTime => // TIMESTAMP_NTZ literals
      Some(('n', BigDecimal(d.toInstant(ZoneOffset.UTC).getEpochSecond * 1000000L +
        d.getNano / 1000)))
    case _ => None
  }

  private def asciiOnly(s: String): Boolean = s.forall(_ < 128)

  /** Compare two *stored* canonical values of the same column. Strings
    * compare lexically (ASCII only); every other supported type's
    * canonical form is a decimal string. None = don't know. */
  def compareStored(dt: org.apache.spark.sql.types.DataType, a: String, b: String): Option[Int] =
    dt match {
      case org.apache.spark.sql.types.StringType =>
        if (asciiOnly(a) && asciiOnly(b)) Some(a.compareTo(b)) else None
      case _ =>
        try Some(BigDecimal(a).compare(BigDecimal(b)))
        catch { case _: NumberFormatException => None }
    }

  /** Canonical stored string → Catalyst INTERNAL value of the column's
    * type (for metadata-answered aggregates). None = not decodable —
    * caller must fall back to scanning. */
  def decode(dt: org.apache.spark.sql.types.DataType, stored: String): Option[Any] = {
    import org.apache.spark.sql.types._
    try dt match {
      case BooleanType => Some(stored == "1")
      case ByteType => Some(stored.toByte)
      case ShortType => Some(stored.toShort)
      case IntegerType => Some(stored.toInt)
      case LongType => Some(stored.toLong)
      case FloatType => Some(stored.toFloat)
      case DoubleType => Some(stored.toDouble)
      case d: DecimalType =>
        val v = Decimal(BigDecimal(stored))
        if (v.changePrecision(d.precision, d.scale)) Some(v) else None
      case StringType => Some(org.apache.spark.unsafe.types.UTF8String.fromString(stored))
      case TimestampType | TimestampNTZType => Some(stored.toLong) // micros
      case DateType => Some(stored.toInt) // epoch days
      case _ => None
    } catch { case _: NumberFormatException => None }
  }

  /** Fold stored canonical values to their min/max under `dt`'s
    * comparison family. None = empty input or an incomparable pair —
    * callers must drop the stats entry rather than guess (shared by
    * file-retirement and footer lifting, so the incomparable contract
    * stays identical in both). */
  def foldStored(
      dt: org.apache.spark.sql.types.DataType,
      vs: Seq[String],
      wantMin: Boolean): Option[String] =
    vs.reduceLeftOption[String] { (a, b) =>
      compareStored(dt, a, b) match {
        case Some(c) => if ((c <= 0) == wantMin) a else b
        case None => return None
      }
    }

  /** One-time-compiled form of [[compare]]: the literal normalizes ONCE
    * and integral literals get a Long fast path for integral stored
    * values — at 1M segments the per-segment `BigDecimal` parse of both
    * sides dominated the pruning pass. `None` = the literal itself is
    * un-normalizable (every comparison would be None). Semantics are
    * identical to compare(stored, lit) by construction: the fast path
    * only fires when BOTH sides parse as exact longs, where long order
    * equals decimal order. */
  def comparator(lit: Any): Option[String => Option[Int]] = literal(lit).map {
    case ('n', d: BigDecimal) =>
      val asLong: Option[Long] =
        if (d.isWhole && d.abs <= BigDecimal(Long.MaxValue))
          try Some(d.toLongExact) catch { case _: ArithmeticException => None }
        else None
      (stored: String) => {
        val fast = asLong.flatMap { lv =>
          try Some(java.lang.Long.compare(java.lang.Long.parseLong(stored), lv))
          catch { case _: NumberFormatException => None }
        }
        fast.orElse {
          try Some(BigDecimal(stored).compare(d))
          catch { case _: NumberFormatException => None }
        }
      }
    case ('s', s: String) =>
      if (!asciiOnly(s)) (_: String) => None
      else (stored: String) =>
        if (asciiOnly(stored)) Some(stored.compareTo(s)) else None
    case _ => (_: String) => None
  }

  /** compare(stored, lit) < 0 iff stored < lit; None = incomparable. */
  def compare(stored: String, lit: Any): Option[Int] = literal(lit).flatMap {
    case ('n', d: BigDecimal) =>
      try Some(BigDecimal(stored).compare(d)) catch { case _: NumberFormatException => None }
    case ('s', s: String) =>
      // UTF8String binary order == String order only for ASCII; stay
      // conservative outside that range.
      if (asciiOnly(stored) && asciiOnly(s)) Some(stored.compareTo(s)) else None
    case _ => None
  }
}

/** Evaluates pushed-down DSv2 filters against segment-level min/max —
  * the first rung of the pruning ladder (segment stats → parquet
  * row-group stats → parquet page/bloom, SURVEY §7.1). */
object SegmentPruner {
  import org.apache.spark.sql.sources._

  /** true = segment may contain matching rows (keep); false = provably
    * disjoint (skip). Unknown anything → keep. */
  def mayMatch(seg: SegmentMeta, filter: Filter): Boolean = {
    if (seg.rowCount == 0) return false // committed-empty segment

    def stats(attr: String): Option[ColumnStats] = seg.stats.get(attr)
    def cmpMin(attr: String, v: Any): Option[Int] =
      stats(attr).flatMap(_.min).flatMap(StatValue.compare(_, v))
    def cmpMax(attr: String, v: Any): Option[Int] =
      stats(attr).flatMap(_.max).flatMap(StatValue.compare(_, v))

    filter match {
      case EqualTo(a, v) =>
        !(cmpMin(a, v).exists(_ > 0) || cmpMax(a, v).exists(_ < 0))
      case EqualNullSafe(a, v) =>
        if (v == null) stats(a).forall(_.nullCount > 0)
        else !(cmpMin(a, v).exists(_ > 0) || cmpMax(a, v).exists(_ < 0))
      case GreaterThan(a, v) => !cmpMax(a, v).exists(_ <= 0)
      case GreaterThanOrEqual(a, v) => !cmpMax(a, v).exists(_ < 0)
      case LessThan(a, v) => !cmpMin(a, v).exists(_ >= 0)
      case LessThanOrEqual(a, v) => !cmpMin(a, v).exists(_ > 0)
      case In(a, vs) =>
        vs.isEmpty || vs.exists(v =>
          !(cmpMin(a, v).exists(_ > 0) || cmpMax(a, v).exists(_ < 0)))
      case IsNull(a) => stats(a).forall(_.nullCount > 0)
      case IsNotNull(a) =>
        stats(a).forall(s => seg.rowCount == 0 || s.nullCount < seg.rowCount)
      case StringStartsWith(a, p) if p.nonEmpty =>
        // p-prefixed strings live in [p, succ(p)) with succ = last char
        // incremented — stays ASCII-comparable, unlike appending U+FFFF
        // (which compare rejects, silently disabling this bound). A
        // prefix ending in 0x7F would need a carry; keep conservatively.
        val minBeyond =
          if (p.last < '\u007f') {
            val succ = p.init + (p.last + 1).toChar
            cmpMin(a, succ).exists(_ >= 0)
          } else false
        !(minBeyond || cmpMax(a, p).exists(_ < 0))
      case And(l, r) => mayMatch(seg, l) && mayMatch(seg, r)
      case Or(l, r) => mayMatch(seg, l) || mayMatch(seg, r)
      case _ => true // Not, EndsWith, Contains, unknown: conservative keep
    }
  }

  def prune(segments: Seq[SegmentMeta], filters: Seq[Filter]): Seq[SegmentMeta] =
    if (filters.isEmpty) segments
    else {
      // compile once per pass: literal normalization (and the integral
      // Long fast path) happen per FILTER, not per segment — the
      // mayMatch form re-parsed the literal 1M times on a 1M-segment
      // pass (r16 MetaScaleProbe: StatValue.compare was the top frame)
      val preds = filters.map(compile)
      segments.filter(seg => seg.rowCount != 0 && preds.forall(_(seg)))
    }

  /** Per-filter compiled predicate, semantics identical to [[mayMatch]]
    * minus the rowCount==0 cut (hoisted into [[prune]]). */
  private def compile(filter: Filter): SegmentMeta => Boolean = {
    type Cmp = Option[String => Option[Int]]
    def cmpMin(seg: SegmentMeta, a: String, c: Cmp): Option[Int] =
      for { cc <- c; st <- seg.stats.get(a); mn <- st.min; r <- cc(mn) } yield r
    def cmpMax(seg: SegmentMeta, a: String, c: Cmp): Option[Int] =
      for { cc <- c; st <- seg.stats.get(a); mx <- st.max; r <- cc(mx) } yield r
    def eqPred(a: String, c: Cmp): SegmentMeta => Boolean =
      seg => !(cmpMin(seg, a, c).exists(_ > 0) || cmpMax(seg, a, c).exists(_ < 0))
    filter match {
      case EqualTo(a, v) => eqPred(a, StatValue.comparator(v))
      case EqualNullSafe(a, v) =>
        if (v == null) seg => seg.stats.get(a).forall(_.nullCount > 0)
        else eqPred(a, StatValue.comparator(v))
      case GreaterThan(a, v) =>
        val c = StatValue.comparator(v)
        seg => !cmpMax(seg, a, c).exists(_ <= 0)
      case GreaterThanOrEqual(a, v) =>
        val c = StatValue.comparator(v)
        seg => !cmpMax(seg, a, c).exists(_ < 0)
      case LessThan(a, v) =>
        val c = StatValue.comparator(v)
        seg => !cmpMin(seg, a, c).exists(_ >= 0)
      case LessThanOrEqual(a, v) =>
        val c = StatValue.comparator(v)
        seg => !cmpMin(seg, a, c).exists(_ > 0)
      case In(a, vs) =>
        if (vs.isEmpty) _ => true
        else {
          val cs = vs.toSeq.map(v => StatValue.comparator(v))
          seg => cs.exists(c => eqPred(a, c)(seg))
        }
      case IsNull(a) => seg => seg.stats.get(a).forall(_.nullCount > 0)
      case IsNotNull(a) =>
        seg => seg.stats.get(a).forall(s => seg.rowCount == 0 || s.nullCount < seg.rowCount)
      case StringStartsWith(a, p) if p.nonEmpty =>
        val cMax = StatValue.comparator(p)
        val cSucc: Cmp =
          if (p.last < '\u007f') StatValue.comparator(p.init + (p.last + 1).toChar)
          else None
        seg => {
          val minBeyond = cmpMin(seg, a, cSucc).exists(_ >= 0)
          !(minBeyond || cmpMax(seg, a, cMax).exists(_ < 0))
        }
      case And(l, r) =>
        val cl = compile(l); val cr = compile(r)
        seg => cl(seg) && cr(seg)
      case Or(l, r) =>
        val cl = compile(l); val cr = compile(r)
        seg => cl(seg) || cr(seg)
      case _ => _ => true // Not, EndsWith, Contains, unknown: conservative keep
    }
  }
}
