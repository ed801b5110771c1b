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

  /** Comparison of stored canonical values against one filter literal,
    * compiled once: the literal normalizes ONCE and integral literals
    * get a Long fast path for integral stored values — at 1M segments
    * the per-segment `BigDecimal` parse of both sides dominated the
    * pruning pass. The returned function's result is < 0 iff stored <
    * lit; its None = incomparable. `None` = the literal itself is
    * un-normalizable (every comparison would be None). The fast path
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
      // UTF8String binary order == String order only for ASCII; stay
      // conservative outside that range
      if (!asciiOnly(s)) (_: String) => None
      else (stored: String) =>
        if (asciiOnly(stored)) Some(stored.compareTo(s)) else None
    case _ => (_: String) => None
  }
}

/** The pruning ladder over pushed-down DSv2 filters: segment min/max,
  * then per-file stats (footer stats ∩ path-encoded partition tuple),
  * then the hash-bucket pin, ahead of parquet's own row-group, page and
  * bloom tiers (SURVEY §7.1). Like the reference's one entry point
  * (CarbonInputFormat.getPrunedBlocklets), [[keep]] serves planned
  * scans, runtime filters and mutation candidates alike. */
object SegmentPruner extends org.apache.spark.internal.Logging {
  import org.apache.spark.sql.sources._
  import org.apache.spark.sql.types.StructType

  /** What [[keep]] kept and which rung cut the rest. `kept` pairs each
    * surviving segment with its surviving files (segment-relative, in
    * segment order); `segmentsKept` counts the segment rung's
    * survivors, which the finer rungs may still empty. */
  case class Pruned(
      kept: Seq[(SegmentMeta, Seq[String])],
      segmentsKept: Int,
      segmentsTotal: Int,
      skippedByFile: Int,
      skippedByBucket: Int) {
    def filesSkipped: Int = skippedByFile + skippedByBucket
  }

  /** The segments and files of `visible` that may hold a row matching
    * every filter. Each filter compiles once; the per-file rungs run
    * over the segment rung's survivors only, so the cost is one pass
    * over the segments plus O(kept segments' files), never O(table
    * files). Unknown anything → keep. */
  def keep(
      visible: Seq[SegmentMeta],
      filters: Seq[Filter],
      schema: StructType,
      buckets: => Option[Buckets.BucketSpec]): Pruned = {
    if (filters.isEmpty)
      return Pruned(visible.map(s => s -> s.files), visible.size, visible.size, 0, 0)
    val preds = filters.map(compile)
    val segs = visible.filter(mayHold(preds, _))
    val pinned = buckets.flatMap(allowedBuckets(_, filters, schema))
    var byFile = 0
    var byBucket = 0
    val kept = segs.flatMap { s =>
      val rels = s.files.filter { rel =>
        // a file with footer stats or a partition tuple is bounded more
        // tightly than its segment; any other file shares the segment's
        // bounds, which already passed
        val fileOk = !(s.fileMeta.contains(rel) || rel.contains("=")) ||
          mayHold(preds, Partitions.fileAsSegment(s, rel, schema))
        val bucketOk = pinned.forall(ok => Buckets.tagOf(rel).forall(ok.contains))
        if (!fileOk) byFile += 1 else if (!bucketOk) byBucket += 1
        fileOk && bucketOk
      }
      if (rels.isEmpty) None else Some(s -> rels)
    }
    Pruned(kept, segs.size, visible.size, byFile, byBucket)
  }

  /** The segment rung alone. */
  def prune(segments: Seq[SegmentMeta], filters: Seq[Filter]): Seq[SegmentMeta] =
    if (filters.isEmpty) segments
    else {
      val preds = filters.map(compile)
      segments.filter(mayHold(preds, _))
    }

  /** May `s` (a segment, or a file as one) hold a row matching every
    * compiled filter? A committed-empty one never does. */
  private def mayHold(preds: Seq[SegmentMeta => Boolean], s: SegmentMeta): Boolean =
    s.rowCount != 0 && preds.forall(_(s))

  /** One line per pruning decision: the log and EXPLAIN's "== Graft =="
    * section print the same text. */
  def report(line: String, filters: Seq[Filter]): Unit = {
    logInfo(s"[graft] $line for filters ${filters.mkString("[", ", ", "]")}")
    graft.engine.ExplainCollector.record(line)
  }

  /** Bucket ids that can satisfy the conjunction of `filters`, when the
    * bucket columns are pinned by equality — a point lookup on a
    * bucketed 100 TB table reads exactly one bucket's files. None =
    * not derivable (keep all). */
  private def allowedBuckets(
      bs: Buckets.BucketSpec, filters: Seq[Filter], schema: StructType): Option[Set[Int]] = {
    val dts = bs.columns.flatMap(c => schema.fields.find(_.name == c).map(c -> _.dataType)).toMap
    if (dts.size != bs.columns.size) None
    else if (bs.columns.size == 1) {
      val c = bs.columns.head
      val dt = dts(c)
      def id(v: Any): Int = Buckets.bucketIdExternal(bs.count, Seq((v, dt)))
      val sets = filters.flatMap {
        case EqualTo(a, v) if a == c && v != null => Some(Set(id(v)))
        case EqualNullSafe(a, v) if a == c => Some(Set(id(v)))
        case In(a, vs) if a == c && vs.nonEmpty && !vs.contains(null) =>
          Some(vs.map(id).toSet)
        case IsNull(a) if a == c => Some(Set(id(null)))
        case _ => None
      }
      sets.reduceOption(_ intersect _)
    } else {
      // multi-column buckets need every column pinned by equality
      val pinned = bs.columns.map(c => filters.collectFirst {
        case EqualTo(a, v) if a == c && v != null => (v, dts(c))
        case EqualNullSafe(a, v) if a == c => (v, dts(c))
      })
      if (pinned.exists(_.isEmpty)) None
      else Some(Set(Buckets.bucketIdExternal(bs.count, pinned.map(_.get))))
    }
  }

  /** One filter compiled against a segment's (or a file's, through
    * [[Partitions.fileAsSegment]]) stats: true = may hold a match,
    * false = provably disjoint. The rowCount==0 cut is [[mayHold]]'s. */
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
        // p-prefixed strings live in [p, succ(p)) with succ = last char
        // incremented — stays ASCII-comparable, unlike appending U+FFFF
        // (which the comparator rejects, silently disabling this bound).
        // A prefix ending in 0x7F would need a carry; keep conservatively.
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
