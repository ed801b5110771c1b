package graft.engine.format

import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Hive-style partition support for carbonish tables.
  *
  * Reference semantics: `PARTITIONED BY` DDL + partition dirs +
  * SHOW/ADD/DROP PARTITION (CarbonAlterTableAddHivePartitionCommand
  * .scala:52, docs/ddl-of-carbondata.md:62-67). Spark-first layout: each
  * SEGMENT's data is written with Spark's dynamic-partition writer over
  * MIRROR columns (`__p_<col>` = the partition column), so
  *
  *   segments/<id>/__p_dt=2020-01-01/part-0.parquet
  *
  * holds exactly one partition tuple per file while the real column
  * stays in the data files (scans need no dir-value reconstruction, and
  * parquet row-group stats on the column collapse to min==max). The
  * file path IS the partition index: pruning, SHOW PARTITIONS and
  * metadata-only DROP PARTITION all read tuples straight out of the
  * committed file names — no extra metastore state.
  *
  * Partition column types are restricted to the unambiguously
  * path-codable families (string / integral / date / boolean), like the
  * reference restricts its partition datatypes.
  */
object Partitions {

  val MirrorPrefix = "__p_"
  val DefaultPartitionName = "__HIVE_DEFAULT_PARTITION__"

  def supported(dt: DataType): Boolean = dt match {
    case StringType | ByteType | ShortType | IntegerType | LongType |
         DateType | BooleanType => true
    case _ => false
  }

  def mirror(c: String): String = MirrorPrefix + c

  /** Partition tuple encoded in a segment-relative file path, in dir
    * order: `__p_dt=2020-01-01/part-0.parquet` →
    * `Seq(("dt", Some("2020-01-01")))`; `None` = hive default (null).
    * Values are unescaped raw strings as the dynamic writer printed them
    * (Cast-to-string forms: dates `2020-01-01`, booleans `true`). */
  def tupleFromPath(relPath: String): Seq[(String, Option[String])] =
    relPath.split('/').toSeq.dropRight(1).flatMap { dir =>
      val i = dir.indexOf('=')
      if (i > MirrorPrefix.length && dir.startsWith(MirrorPrefix)) {
        val name = dir.substring(MirrorPrefix.length, i)
        val raw = ExternalCatalogUtils.unescapePathName(dir.substring(i + 1))
        Some(name -> (if (raw == DefaultPartitionName) None else Some(raw)))
      } else None
    }

  /** Raw dir string → catalyst INTERNAL value of `dt` (None when the
    * string doesn't parse — callers must stay conservative). Uses the
    * same Cast the writer used in reverse, so round-trips exactly. */
  def castRaw(raw: String, dt: DataType): Option[Any] = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    val v = Cast(Literal(UTF8String.fromString(raw), StringType), dt,
      Some(java.util.TimeZone.getDefault.getID)).eval()
    Option(v)
  }

  /** Canonical [[StatValue]] string for an INTERNAL value. */
  def encodeInternal(dt: DataType, v: Any): Option[String] = (dt, v) match {
    case (_, null) => None
    case (BooleanType, b: Boolean) => Some(if (b) "1" else "0")
    case (DateType, d: Int) => Some(d.toString) // epoch days — canonical date form
    case (StringType, s: UTF8String) => Some(s.toString)
    case (ByteType | ShortType | IntegerType | LongType, n) => Some(n.toString)
    case _ => None
  }

  /** Stats entry asserting a column is constant `raw` (or null) in a
    * file, for [[SegmentPruner]] evaluation at file grain.
    *
    * The hive default dir is ambiguous for STRING columns: Spark's
    * partition writer sends both null AND the empty string there, so
    * the all-null claim is only sound for non-string types; string
    * default-dir files claim nothing (conservative keep). */
  def valueStats(dt: DataType, raw: Option[String], rows: Long): Option[ColumnStats] =
    raw match {
      case None if dt == StringType => None
      case None => // default partition: the column is all-null here
        Some(ColumnStats(None, None, nullCount = math.max(rows, 1L)))
      case Some(r) =>
        castRaw(r, dt).flatMap(encodeInternal(dt, _))
          .map(enc => ColumnStats(Some(enc), Some(enc), nullCount = 0L))
    }

  /** Segment-level stats recomputed from the surviving files' footer
    * stats, keyed by the segment's existing stat columns: exact for any
    * column every remaining file carries (the sort columns), dropped
    * otherwise — stale min/max would let a metadata-only MIN/MAX answer
    * with a deleted value, and a stale nullCount can make IsNotNull
    * pruning skip live rows. Absent stats are merely slower (scan
    * fallback / conservative keep), never wrong. Shared by
    * [[retireFiles]] and the delta fold (both replace/remove files of a
    * committed segment, invalidating its write-time stats). */
  def recomputeStats(
      files: Seq[String], fileMeta: Map[String, FileMeta],
      oldStats: Map[String, ColumnStats], schema: StructType): Map[String, ColumnStats] =
    oldStats.flatMap { case (c, _) =>
      val dtOpt = schema.fields.find(_.name == c).map(_.dataType)
      val perFile = files.map(f => fileMeta.get(f).flatMap(_.stats.get(c)))
      // a file entry without bounds whose live rows are not all null
      // has UNKNOWN bounds (INT96 timestamps, lifted before footers
      // learned to tell them apart), not an all-null file
      val unbounded = files.exists(f => fileMeta.get(f).exists(fm =>
        fm.stats.get(c).exists(cs => cs.min.isEmpty && cs.nullCount < fm.rows)))
      if (files.isEmpty || dtOpt.isEmpty || perFile.exists(_.isEmpty) || unbounded) None // drop
      else {
        val dt = dtOpt.get
        val cs = perFile.flatten
        // fold footer stats with the column's own comparison family
        // (string = lexical, everything else = decimal); an incomparable
        // pair (e.g. non-ASCII strings) drops the entry — absent stats
        // are conservative, stale ones are not
        val mins = cs.flatMap(_.min)
        val maxs = cs.flatMap(_.max)
        val minF = StatValue.foldStored(dt, mins, wantMin = true)
        val maxF = StatValue.foldStored(dt, maxs, wantMin = false)
        if ((mins.nonEmpty && minF.isEmpty) || (maxs.nonEmpty && maxF.isEmpty)) None
        else Some(c -> ColumnStats(minF, maxF, cs.map(_.nullCount).sum))
      }
    }

  /** Retire `rels` from a segment's file list as a pure metadata edit:
    * exact row/byte decrements from footer counts, tombstones for CLEAN
    * FILES, and per-column stats refreshed via [[recomputeStats]].
    *
    * Caller must have verified every rel has a fileMeta entry. */
  def retireFiles(s: SegmentMeta, rels: Seq[String], schema: StructType): SegmentMeta = {
    val rset = rels.toSet
    val droppedRows = rels.map(s.fileMeta(_).rows).sum
    val droppedBytes = rels.map(s.fileMeta(_).bytes).sum
    val remaining = s.files.filterNot(rset)
    val remainingMeta = s.fileMeta -- rset
    // a retired data file takes its merge-on-read delete deltas with it
    val droppedDeltas = rels.flatMap(r => s.deltas.getOrElse(r, Nil))
    val newStats = recomputeStats(remaining, remainingMeta, s.stats, schema)
    s.copy(
      files = remaining,
      fileMeta = remainingMeta,
      deltas = s.deltas -- rset,
      removedFiles = s.removedFiles ++ rels ++ droppedDeltas,
      rowCount = if (s.rowCount >= 0) s.rowCount - droppedRows else s.rowCount,
      sizeBytes = math.max(0L, s.sizeBytes - droppedBytes),
      stats = newStats,
      status = if (remaining.isEmpty) SegmentStatus.MarkedForDelete else s.status)
  }

  /** Per-FILE pseudo segment-meta: segment stats refined by footer file
    * stats and the path-encoded partition tuple. Both refinements bound
    * the file's contents, so [[SegmentPruner]]'s compiled filters over
    * this meta are exactly file-grain pruning.
    *
    * The rowCount becomes the FILE's (footer) count, so every segment-
    * level nullCount must be made consistent with it: a segment-wide
    * nullCount larger than the file's rows would make the IsNotNull
    * prune (`nullCount < rowCount`) drop files whose rows are all
    * non-null. Per-column: keep 0 (no nulls anywhere ⊆ no nulls here);
    * clamp to 1 when the segment has nulls and the file has ≥2 rows
    * (keeps both IsNull and IsNotNull conservative); drop the entry
    * entirely when neither is expressible. File-level footer stats and
    * the partition tuple then override with exact values. */
  def fileAsSegment(seg: SegmentMeta, relPath: String, schema: StructType): SegmentMeta = {
    val fm = seg.fileMeta.get(relPath)
    val rows = fm.map(_.rows).getOrElse(seg.rowCount)
    val segLevel =
      if (fm.isEmpty) seg.stats // rowCount unchanged: segment stats stay consistent
      else seg.stats.flatMap { case (c, cs) =>
        if (cs.nullCount == 0) Some(c -> cs)
        else if (rows >= 2) Some(c -> cs.copy(nullCount = 1))
        else None // 0/1-row file with maybe-nulls: no consistent claim
      }
    val tupleStats = tupleFromPath(relPath).flatMap { case (name, raw) =>
      schema.fields.find(_.name == name)
        .flatMap(f => valueStats(f.dataType, raw, rows).map(name -> _))
    }.toMap
    seg.copy(
      rowCount = rows,
      stats = segLevel ++ fm.map(_.stats).getOrElse(Map.empty) ++ tupleStats)
  }
}
