package graft.engine.format

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.hadoop.fs.{Options, Path}

import scala.collection.parallel.CollectionConverters._

/** Sorted segment write with inline statistics collection.
  *
  * Reference semantics: one load = one new segment, written sorted by
  * SORT_COLUMNS with per-segment min/max recorded for the pruning ladder
  * (processing/.../DataLoadProcessBuilder.java:65-81, sort scopes
  * core/.../CarbonCommonConstants.java:971-986). Spark-first mapping:
  *   - GLOBAL_SORT  → repartitionByRange(sortCols).sortWithinPartitions
  *     (cluster-wide clustering; range exchange is the only shuffle)
  *   - LOCAL_SORT   → sortWithinPartitions only (no shuffle)
  *   - NO_SORT      → write as-is
  * Stats ride the same job via Dataset.observe — no second pass over the
  * data, which matters when one load is terabytes.
  */
object SegmentWriter {

  private[engine] def statsSupported(dt: DataType): Boolean = dt match {
    case _: NumericType | StringType | DateType | TimestampType |
         TimestampNTZType | BooleanType => true
    case _ => false
  }

  /** The table's parquet writer options, for every data file graft
    * writes (segment loads, rewrites, delta folds, streaming batches).
    * `parquet.*` table properties pass through — row-group size
    * (parquet.block.size), page size, bloom NDV hints etc. are per-table
    * tuning knobs exactly like the reference's table-level
    * TBLPROPERTIES — and `bloom_columns=c1,c2` (the CREATE INDEX … AS
    * 'bloomfilter' analog: the reference's bloom CG index collapses onto
    * parquet's) layers per-column bloom filter enables on top.
    *
    * Bloom bitsets are sized to the data: with bloom columns, parquet's
    * adaptive sizing is on (the global key; parquet ignores its `#col`
    * form), so a chunk's bitset fits the distinct values it saw instead
    * of parquet's 1 MiB maximum — on a 6k-row file, 64 KiB instead of
    * 1 MiB, and every probe reads the bitset before it can skip. A
    * table's own `parquet.bloom.filter.expected.ndv#c` still wins: parquet
    * sizes from an NDV hint before it considers adaptive sizing. */
  private def writerOptions(meta: TableMeta): Map[String, String] = {
    val bloomCols = meta.properties.get("bloom_columns").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val adaptive =
      if (bloomCols.isEmpty) Map.empty[String, String]
      else Map("parquet.bloom.filter.adaptive.enabled" -> "true")
    adaptive ++ meta.properties.filter(_._1.startsWith("parquet.")) ++
      bloomCols.map(c => s"parquet.bloom.filter.enabled#$c" -> "true")
  }

  /** Write `df` as the parquet data files of a table under `dir`, split
    * into `dirCols` subdirectories when given. The one writer of table
    * data files: segment loads and rewrites ([[write]]), delta folds and
    * streaming batches all come here, so every file carries the writer
    * options above and the INT64 timestamps of [[GraftParquetFormat]]. */
  private[engine] def writeFiles(df: DataFrame, meta: TableMeta, dir: Path,
      dirCols: Seq[String] = Nil): Unit =
    df.write.mode("overwrite").format(classOf[GraftParquetFormat].getName)
      .options(writerOptions(meta)).partitionBy(dirCols: _*).save(dir.toString)

  /** Write `df` as segment `id` under `layout`, returning its metadata
    * (not yet committed to tablestatus).
    *
    * Partitioned tables (`meta.partitionColumns`) write through Spark's
    * dynamic-partition writer over mirror columns (see [[Partitions]]):
    * clustering puts the partition columns FIRST in the shuffle key so
    * each task writes few partition dirs, and the sort columns after so
    * rows stay sorted within every file.
    *
    * `preservesOrder = true` declares that `df` reaches this writer
    * through narrow ops over already-sorted segment files (the
    * copy-on-write rewrite shape: victim-file scan → filter/project) —
    * each input partition is a sorted run (or a concatenation of a few,
    * when the scan packs small files). Then a GLOBAL_SORT table skips
    * the range re-shuffle and its sampling pass and writes each
    * partition with a local sort: one output file per INPUT SPLIT
    * (NOTE: Spark's file-scan bin-packing orders splits by descending
    * file size, so the rewrite segment's committed file-chain order
    * does NOT follow sort-key order — per-file sorting and footer
    * ranges stay tight, but "committed order IS sort order" does not
    * hold for this segment; see the caveat in
    * [[graft.engine.Pagination]]). Same clustering quality the victims
    * had, at zero shuffles: a point UPDATE on a 100 TB table rewrites
    * its few victim files in place-parallel instead of
    * range-exchanging them cluster-wide. Cross-file range disjointness
    * is NOT preserved, which only means the scan's footer-verified
    * ordering claim won't fire across these files — exactly as for any
    * multi-segment table. Partitioned and bucketed tables keep the
    * clustered write (their dir/bucket split needs the repartition). */
  def write(layout: TableLayout, meta: TableMeta, df: DataFrame, id: Long,
      preservesOrder: Boolean = false): SegmentMeta = {
    val spark = df.sparkSession
    val pCols = meta.partitionColumns.filter(df.columns.contains)
    val sortCols = meta.sortColumns.filter(df.columns.contains)
    val clusterCols = pCols ++ sortCols.filterNot(pCols.contains)
    val bucketSpec = Buckets.specOf(meta).filter(_.columns.forall(df.columns.contains))
    // the scope this write ACTUALLY sorts under (bucketed writes always
    // sortWithinPartitions) — recorded below: a segment's sortColumns
    // must describe what the files contain, not the table's declared
    // intent, or a NO_SORT write would later back a false ordering claim
    val effScope = bucketSpec match {
      case Some(_) => "LOCAL_SORT"
      case None =>
        // ZORDER_SORT keeps its scope under preservesOrder: the input is
        // narrow ops over already-z-clustered files — a lexicographic
        // local re-sort would DESTROY the interleaved clustering
        if (preservesOrder && pCols.isEmpty && meta.sortScope != "NO_SORT" &&
            meta.sortScope != "ZORDER_SORT")
          "LOCAL_SORT"
        else meta.sortScope
    }
    val sorted = bucketSpec match {
      case Some(bs) =>
        // bucketed: one shuffle keyed by the bucket id, rows sorted by
        // (partition, sort) columns within each bucket — bucket dirs
        // split the files, so every file is bucket-exclusive and sorted
        df.withColumn("__b", Buckets.bucketExpr(bs))
          .repartition(bs.count, col("__b"))
          .sortWithinPartitions(("__b" +: clusterCols).map(col): _*)
      case None =>
        (effScope, clusterCols) match {
        case (_, Nil) => df
        case ("NO_SORT", _) =>
          // still cluster rows by partition value (one shuffle) so a load
          // doesn't fan every task out into every partition dir
          if (pCols.isEmpty) df else df.repartition(pCols.map(col): _*)
        case ("LOCAL_SORT", cs) => df.sortWithinPartitions(cs.map(col): _*)
        case ("ZORDER_SORT", _) if preservesOrder =>
          // copy-on-write rewrite of z-clustered files: narrow ops keep
          // the clustering; per-file footer stats are re-lifted below
          df
        case ("ZORDER_SORT", _) =>
          // multi-dimensional clustering: range-shuffle + sort on the
          // interleaved z-value so every file is a value-space
          // hyper-rectangle — see [[ZOrderSort]]
          val parts = meta.properties.get("global_sort_partitions").map(_.toInt)
            .getOrElse(spark.sessionState.conf.numShufflePartitions)
          df.withColumn("__z", ZOrderSort.zvalue(df, sortCols))
            .repartitionByRange(parts, (pCols.map(col) :+ col("__z")): _*)
            .sortWithinPartitions((pCols.map(col) :+ col("__z")): _*)
            .drop("__z")
        case _ => // GLOBAL_SORT default
          val parts = meta.properties.get("global_sort_partitions").map(_.toInt)
            .getOrElse(spark.sessionState.conf.numShufflePartitions)
          df.repartitionByRange(parts, clusterCols.map(col): _*)
            .sortWithinPartitions(clusterCols.map(col): _*)
      }
    }

    // inline stats: count + per-column min/max/nullCount in the write job
    val statCols = df.schema.fields.filter(f => statsSupported(f.dataType))
    val obs = Observation(s"graft_seg_$id")
    val aggs = count(lit(1)).as("__n") +:
      statCols.flatMap { f =>
        Seq(min(col(f.name)).as(s"min:${f.name}"),
          max(col(f.name)).as(s"max:${f.name}"),
          sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"nulls:${f.name}"))
      }.toSeq
    val observed = sorted.observe(obs, aggs.head, aggs.tail: _*)

    val tmp = layout.tmpSegmentDir(id)
    // partitioned: mirror columns drive the dir split; the real columns
    // stay in the data files (partitionBy drops only the mirrors).
    // bucketed: the __b id column splits bucket dirs the same way.
    val toWrite = pCols.foldLeft(observed)((d, c) =>
      d.withColumn(Partitions.mirror(c), col(c)))
    val dirCols = pCols.map(Partitions.mirror) ++
      (if (bucketSpec.isDefined) Seq("__b") else Nil)
    writeFiles(toWrite, meta, tmp, dirCols)

    val m = obs.get
    val rowCount = m("__n").asInstanceOf[Long]
    val stats = statCols.map { f =>
      f.name -> ColumnStats(
        min = Option(m(s"min:${f.name}")).flatMap(StatValue.encode),
        max = Option(m(s"max:${f.name}")).flatMap(StatValue.encode),
        nullCount = Option(m(s"nulls:${f.name}")).map(_.asInstanceOf[Long]).getOrElse(0L))
    }.toMap

    // atomic publish: rename tmp dir into place, then the caller commits
    val dest = layout.segmentDir(id)
    val fs = layout.fs
    if (fs.exists(dest)) fs.delete(dest, true)
    if (!fs.rename(tmp, dest))
      throw new IllegalStateException(s"failed to rename $tmp to $dest")
    // partitioned segments nest files under __p_<col>=<value>/ dirs;
    // `files` holds segment-RELATIVE paths either way
    val files = listParquetFiles(fs, dest, dest)

    // per-file footer lift: exact row counts (metadata DROP PARTITION /
    // file-grain LIMIT) + sort-column min/max (file-grain pruning and
    // ordering report). O(files) small footer reads, write-time only.
    val conf = spark.sessionState.newHadoopConf()
    val footerCols = sortCols.map(c => c -> df.schema(c).dataType).toMap
    val fileMeta = files.par.flatMap { case (rel, len) =>
      FileFooters.read(conf, new Path(dest, rel), len, footerCols).map(rel -> _)
    }.seq.toMap

    graft.engine.OpMetrics.addSegmentWrite(files.map(_._2).sum, rowCount)
    SegmentMeta(
      id = id,
      status = SegmentStatus.Success,
      format = "parquet",
      files = files.map(_._1),
      rowCount = rowCount,
      sizeBytes = files.map(_._2).sum,
      stats = stats,
      // what the files actually contain: a NO_SORT write stores nothing
      // sorted, so recording the declared sortColumns would let
      // outputOrdering claim an order the data does not have. Z-ordered
      // files are clustered but NOT lexically sorted by any single
      // column — same rule (their fileMeta stats above still power
      // multi-dimensional pruning, which is the point of the layout)
      sortColumns =
        if (effScope == "NO_SORT" || effScope == "ZORDER_SORT") Nil else sortCols,
      createdAt = System.currentTimeMillis(),
      fileMeta = fileMeta)
  }

  /** Recursively list `*.parquet` under `dir` as (path relative to
    * `base`, length), sorted by relative path. */
  private[engine] def listParquetFiles(
      fs: org.apache.hadoop.fs.FileSystem,
      base: Path,
      dir: Path): Seq[(String, Long)] = {
    val entries = fs.listStatus(dir)
    val here = entries.filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map { s =>
        val rel = s.getPath.toString.stripPrefix(
          fs.makeQualified(base).toString).stripPrefix("/")
        rel -> s.getLen
      }.toSeq
    val below = entries.filter(s => s.isDirectory && !s.getPath.getName.startsWith("."))
      .flatMap(s => listParquetFiles(fs, base, s.getPath)).toSeq
    (here ++ below).sortBy(_._1)
  }
}

/** Spark's parquet format, writing `TimestampType` as INT64
  * TIMESTAMP(MICROS) instead of Spark's default INT96. Parquet keeps no
  * min/max and no column index for INT96, so a timestamp-led sort key
  * would prune no file, row group or page. The write reads its SQL conf
  * through `getSqlConf`; this format hands it a copy of the session's
  * conf with the timestamp type set, so the session conf is never
  * written and a plain `df.write.parquet` in the same session still
  * writes INT96. */
class GraftParquetFormat extends ParquetFileFormat {
  override def getSqlConf(spark: SparkSession): SQLConf = {
    val writeConf = super.getSqlConf(spark).clone()
    writeConf.setConf(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE,
      SQLConf.ParquetOutputTimestampType.TIMESTAMP_MICROS)
    writeConf
  }
}
