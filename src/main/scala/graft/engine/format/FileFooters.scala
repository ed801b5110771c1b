package graft.engine.format

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

import scala.jdk.CollectionConverters._

/** Lift per-file metadata out of parquet footers at write time (the
  * reference writes the same information into its carbonindex files,
  * format/src/main/thrift/carbondataindex.thrift). One small footer read
  * per file, immediately after the segment write, on the driver — a
  * 1 GB segment is a few dozen footers; nothing is read at query time.
  *
  * Only types whose parquet statistics order matches our canonical
  * [[StatValue]] order are lifted (ints, longs, UTF8 strings, dates,
  * booleans, and timestamps stored as INT64 TIMESTAMP(MICROS), whose
  * values already are [[StatValue]]'s epoch micros). Floats carry NaN
  * hazards and are skipped. INT96 timestamps — Spark's default, and
  * what tables written before [[GraftParquetFormat]] hold — have no
  * parquet statistics, so they get none here either: per-file stats
  * are an optional refinement, absent stats just mean coarser pruning. */
object FileFooters {

  /** rows + min/max/nulls for `wantCols` of one parquet file.
    * Returns None if the footer is unreadable (caller stays stat-less). */
  def read(conf: Configuration, file: Path, bytes: Long,
      wantCols: Map[String, org.apache.spark.sql.types.DataType]): Option[FileMeta] =
    try {
      val in = HadoopInputFile.fromPath(file, conf)
      val reader = ParquetFileReader.open(in)
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        val stats = wantCols.flatMap { case (name, dt) =>
          liftColumn(blocks, name, dt).map(name -> _)
        }
        Some(FileMeta(rows, bytes, stats))
      } finally reader.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  private def liftColumn(
      blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
      name: String,
      dt: org.apache.spark.sql.types.DataType): Option[ColumnStats] = {
    import org.apache.spark.sql.types._
    val chunks = blocks.flatMap(_.getColumns.asScala.find(_.getPath.toDotString == name))
    if (chunks.isEmpty || chunks.size != blocks.size) return None
    val perChunk = chunks.map { c =>
      val st = c.getStatistics
      if (st == null || st.isEmpty || !st.isNumNullsSet) return None
      val nulls = st.getNumNulls
      // no bounds means an all-null chunk only when every value is null;
      // INT96 chunks hold values but parquet keeps no min/max for them
      if (!st.hasNonNullValue) {
        if (nulls == c.getValueCount) Some((None: Option[String], None: Option[String], nulls))
        else return None
      } else {
        val pt = c.getPrimitiveType
        def enc(v: Any): Option[String] = (pt.getPrimitiveTypeName, dt) match {
          case (PrimitiveTypeName.BINARY, StringType)
              if pt.getLogicalTypeAnnotation.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
            val s = v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8
            Some(s)
          case (PrimitiveTypeName.INT32, IntegerType | DateType | ShortType | ByteType) =>
            Some(v.toString)
          case (PrimitiveTypeName.INT64, LongType) => Some(v.toString)
          case (PrimitiveTypeName.INT64, TimestampType | TimestampNTZType) =>
            pt.getLogicalTypeAnnotation match {
              // a UTC-adjusted instant backs TimestampType, a wall clock
              // backs TimestampNTZType; any other pairing is not ours
              case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                  if ts.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS &&
                    ts.isAdjustedToUTC == (dt == TimestampType) =>
                Some(v.toString)
              case _ => None
            }
          case (PrimitiveTypeName.BOOLEAN, BooleanType) =>
            Some(if (v.asInstanceOf[Boolean]) "1" else "0")
          case _ => None
        }
        for {
          mn <- enc(st.genericGetMin())
          mx <- enc(st.genericGetMax())
        } yield (Some(mn), Some(mx), nulls)
      }
    }
    if (perChunk.exists(_.isEmpty)) return None
    val flat = perChunk.flatten
    val nullCount = flat.map(_._3).sum
    val mins = flat.flatMap(_._1)
    val maxs = flat.flatMap(_._2)
    // all-null file: valid stats with no bounds
    if (mins.isEmpty) return Some(ColumnStats(None, None, nullCount))
    for {
      mn <- StatValue.foldStored(dt, mins, wantMin = true)
      mx <- StatValue.foldStored(dt, maxs, wantMin = false)
    } yield ColumnStats(Some(mn), Some(mx), nullCount)
  }
}
