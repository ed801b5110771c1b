package graft.engine

import graft.engine.format.SegmentMeta
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Positional reads of table rows, and the one place the merge-on-read
  * delete mask is built for them. Mutation match and rewrite scans,
  * compaction, delta fold, pagination and tupleId reads need
  * `_metadata.file_path` / `_metadata.row_index`, which the DSv2
  * FileTable lacks, so they read parquet through Spark's v1 path and
  * mask deleted rows here. Every other read of table rows goes through
  * the carbonish DSv2 scan, which masks deltas in its reader factory
  * ([[graft.engine.source.DeltaAwareReaderFactory]]). */
private[engine] object LiveRows {

  /** The live rows of all files of `segs`, on the table's session. */
  def read(t: GraftTable, segs: Seq[(SegmentMeta, Seq[String])]): DataFrame =
    read(t, segs, segs.flatMap(_._2), t.spark)

  /** The live rows of `files` (absolute paths of data files of `segs`)
    * under the table's current schema, planned on `spark`. The schema
    * is explicit: after a metadata-only ADD COLUMNS, footer inference
    * would miss the new column. */
  def read(t: GraftTable, segs: Seq[(SegmentMeta, Seq[String])],
      files: Seq[String], spark: SparkSession): DataFrame =
    mask(t, segs.map(_._1), spark.read.schema(t.schema).parquet(files: _*))

  /** `df`, a positional read over files of `segs`, with the rows that
    * their delete deltas name removed. */
  def mask(t: GraftTable, segs: Seq[SegmentMeta], df: DataFrame): DataFrame =
    deltaFilter(t, segs).map(df.filter).getOrElse(df)

  /** Keep-row predicate over `_metadata`. Only the data-file →
    * delta-file PATH map ships (driver-bounded metadata, same class as
    * the file lists the caller already holds); each task loads the
    * position sets of the files it actually reads, lazily, with a
    * per-task cache — positions never touch the driver, so a
    * 10⁹-scattered-delete table masks at executor parallelism exactly
    * like the main scan path. None = no deltas anywhere (the caller
    * skips the filter, keeping codegen clean). */
  private def deltaFilter(t: GraftTable, segs: Seq[SegmentMeta]): Option[Column] = {
    val withDeltas = segs.filter(_.deltas.nonEmpty)
    if (withDeltas.isEmpty) return None
    val fs = t.layout.fs
    val pathMap: Map[String, Seq[String]] = withDeltas.flatMap { s =>
      val dir = t.layout.segmentDir(s.id)
      s.deltas.map { case (rel, dRels) =>
        fs.makeQualified(new org.apache.hadoop.fs.Path(dir, rel)).toString ->
          dRels.map(dr => new org.apache.hadoop.fs.Path(dir, dr).toString)
      }
    }.toMap
    val bc = t.spark.sparkContext.broadcast(pathMap)
    val lookup = new org.apache.spark.sql.graft.DeltaLookup(bc,
      new graft.engine.source.SerializableHadoopConf(
        t.spark.sessionState.newHadoopConf()))
    Some(org.apache.spark.sql.graft.Shims.column(
      org.apache.spark.sql.graft.DeltaKeep(
        org.apache.spark.sql.graft.Shims.expression(col("_metadata.file_path")),
        org.apache.spark.sql.graft.Shims.expression(col("_metadata.row_index")),
        lookup)))
  }
}
