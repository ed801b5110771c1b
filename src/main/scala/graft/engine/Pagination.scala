package graft.engine

import graft.engine.format.SegmentMeta
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Paged reads over committed table order — the reference's pagination
  * reader (sdk/sdk/src/main/java/org/apache/carbondata/sdk/file/
  * PaginationCarbonReader.java: splits ordered by segment/file, `read`
  * locates the covering splits by binary search over cumulative row
  * counts).
  *
  * Committed order = tablestatus segment order (ascending id), file
  * chain order within each segment, row order within each file. Per-file
  * LIVE row counts (footer counts, decremented at delete-delta commit)
  * give the driver a cumulative index over that order, so rows
  * [offset, offset+limit) are located with pure arithmetic and ONLY the
  * covering files are opened — a page deep into a 100 TB table reads
  * one or two files, never the table. No sort of table data happens
  * anywhere: the page's own rows (≤ a couple of file-fuls) are the
  * largest thing in flight.
  *
  * On a GLOBAL_SORT table whose loads arrived in sort-key order,
  * committed order IS the sort order, which makes `page` the scalable
  * form of `ORDER BY keys LIMIT n OFFSET m` (oracle-checked by the
  * `q_page` CORRECTNESS row). Like the reference's pagination reader,
  * the coordinate system is only stable while the table is unchanged:
  * a compaction or load renumbers pages.
  *
  * CAVEAT — "committed order IS sort order" degrades after
  * DELETE/UPDATE on a sorted table: the copy-on-write rewrite
  * ([[graft.engine.format.SegmentWriter.write]] with
  * `preservesOrder = true`) keeps every file internally sorted but
  * Spark's scan bin-packing orders the rewrite segment's file chain by
  * descending file size, not sort-key position. Paging stays correct
  * as a stable row enumeration; it just no longer coincides with
  * `ORDER BY keys` on such a segment — re-sort (compact) to restore
  * the coincidence.
  */
object Pagination {

  /** One data file with its global start position in committed order. */
  private[engine] case class PageFile(
      seg: SegmentMeta, rel: String, abs: String, startPos: Long, liveRows: Long)

  /** All visible files in committed order with cumulative positions.
    * Requires parquet segments with exact per-file live counts (foreign
    * ADD SEGMENT files and open streaming appends have neither a stable
    * order nor footer meta). */
  private[engine] def orderedFiles(t: GraftTable): Seq[PageFile] = {
    val vis = t.status.visible.sortBy(_.id)
    val foreign = vis.filter(_.format != "parquet")
    require(foreign.isEmpty,
      s"page() needs parquet segments; segment(s) " +
        s"${foreign.map(s => s"${s.id}(${s.format})").mkString(",")} are foreign")
    var cum = 0L
    vis.flatMap { s =>
      val abs = t.layout.segmentFilePaths(s)
      s.files.zip(abs).map { case (rel, a) =>
        val rows = s.fileMeta.get(rel).map(_.rows).getOrElse(
          throw new IllegalStateException(
            s"page() needs per-file row counts; segment ${s.id} file $rel has no " +
              "footer metadata (external or pre-footer segment — compact first)"))
        val pf = PageFile(s, rel, a, cum, rows)
        cum += rows
        pf
      }
    }
  }

  /** The files whose live-row spans intersect [offset, offset+limit). */
  private[engine] def coveringFiles(
      t: GraftTable, offset: Long, limit: Long): Seq[PageFile] =
    orderedFiles(t).filter(f =>
      f.liveRows > 0 && f.startPos < offset + limit && f.startPos + f.liveRows > offset)

  def page(t: GraftTable, offset: Long, limit: Int): DataFrame = {
    require(offset >= 0, s"offset must be >= 0, got $offset")
    require(limit >= 0, s"limit must be >= 0, got $limit")
    val spark = t.spark
    def empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], t.schema)
    if (limit == 0) return empty
    val cover = coveringFiles(t, offset, limit)
    if (cover.isEmpty) return empty

    val coverSegs = cover.map(_.seg).distinct.map(s => s -> t.layout.segmentFilePaths(s))
    val live = LiveRows.read(t, coverSegs, cover.map(_.abs), spark)
    // start positions keyed by normalized path (SparkPath prints
    // file:/// while a qualified Path prints file:/ — same trick as
    // LiveRows' delta map); the cover set is tiny, so a broadcast map
    // beats a when-chain that would grow with page span
    val fs = t.layout.fs
    val startByPath: Map[String, Long] = cover.map(f =>
      fs.makeQualified(new org.apache.hadoop.fs.Path(f.abs)).toString -> f.startPos).toMap
    val bc = spark.sparkContext.broadcast(startByPath)
    val startPos = udf { fp: String =>
      bc.value.getOrElse(new org.apache.hadoop.fs.Path(fp).toString,
        // a miss means the scan read a file the driver did not plan —
        // fail loudly rather than return a silently shifted page
        throw new IllegalStateException(s"page(): unplanned file $fp"))
    }
    val fp = col("_metadata.file_path")
    val ri = col("_metadata.row_index")

    // live ordinal within the file: the physical row index where no rows
    // are masked; rank among surviving rows where delete deltas apply
    // (window shuffles only the covering files' rows — page-bounded)
    val ordinal =
      if (!cover.exists(f => f.seg.deltas.contains(f.rel))) ri
      else row_number().over(Window.partitionBy(fp).orderBy(ri)).cast("long") - 1L
    val pos = startPos(fp) + ordinal
    live
      .withColumn("__pos", pos)
      .filter(col("__pos") >= offset && col("__pos") < offset + limit.toLong)
      .orderBy(col("__pos"))
      .select(t.schema.fieldNames.map(col).toSeq: _*)
  }
}
