package graft.engine.streaming

import graft.engine.GraftTable
import graft.engine.format._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.hadoop.fs.Path

/** Streaming ingest into carbonish tables.
  *
  * Reference semantics (SURVEY §2.9): a stream appends row batches to an
  * open STREAMING segment (CarbonAppendableStreamSink.scala:117,
  * StreamSegment.java:65); queries union columnar + streaming segments;
  * when the streaming segment grows past a threshold it is "handed off"
  * — rewritten as a sorted columnar segment (StreamHandoffRDD.scala);
  * CREATE/DROP/SHOW STREAM + ALTER TABLE FINISH STREAMING manage jobs
  * (StreamJobManager.scala:100-146).
  *
  * Spark-first mapping: Structured Streaming foreachBatch appends
  * parquet files into the open streaming segment with an atomic
  * tablestatus update per batch (idempotent via lastBatchId, so batch
  * replays after failure don't duplicate); handoff = sorted rewrite +
  * atomic swap, reusing the compaction machinery. Windows/watermarks
  * stay whatever the user's streaming query does — Spark's own
  * semantics, as in the reference.
  */
object GraftStreaming {

  /** Append one micro-batch to the table's open STREAMING segment. */
  def appendBatch(t: GraftTable, batch: DataFrame, batchId: Long): Unit = {
    val layout = t.layout
    val target = t.schema
    val aligned = GraftTable.align(batch, target)

    // open (or reuse) the streaming segment id — one open segment per table
    var segId = -1L
    var lastBatch = -1L
    layout.commit { st =>
      st.segments.find(_.status == SegmentStatus.Streaming) match {
        case Some(s) =>
          segId = s.id
          lastBatch = s.lastBatchId
          st
        case None =>
          segId = st.nextSegmentId
          st.copy(segments = st.segments :+ SegmentMeta(
            segId, SegmentStatus.Streaming, "parquet", Nil, 0L, 0L, Map.empty,
            Nil, System.currentTimeMillis()))
      }
    }
    if (batchId <= lastBatch) return // replayed batch — already committed

    // write the batch, collecting stats in the same job
    val obs = Observation(s"graft_stream_${segId}_$batchId")
    val statCols = target.fields.filter(f => SegmentWriter.statsSupported(f.dataType))
    val aggs = count(lit(1)).as("__n") +: statCols.flatMap { f =>
      Seq(min(col(f.name)).as(s"min:${f.name}"),
        max(col(f.name)).as(s"max:${f.name}"),
        sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"nulls:${f.name}"))
    }.toSeq
    val tmp = layout.tmpSegmentDir(segId)
    SegmentWriter.writeFiles(aligned.observe(obs, aggs.head, aggs.tail: _*), t.meta, tmp)
    val m = obs.get
    val n = m("__n").asInstanceOf[Long]

    // move batch files into the open segment under unique names
    val fs = layout.fs
    val segDir = layout.segmentDir(segId)
    fs.mkdirs(segDir)
    val moved = fs.listStatus(tmp)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .zipWithIndex.map { case (s, i) =>
        val name = s"batch-$batchId-$i.parquet"
        val dst = new Path(segDir, name)
        // Same-named leftovers can only be debris from a crashed attempt
        // of THIS batch (a committed batchId returns early above), so
        // overwrite them — without this, replay-after-crash hits the
        // rename-onto-existing failure below forever and the stream is
        // permanently stuck (found by the crash-point fuzz, r15).
        if (fs.exists(dst)) fs.delete(dst, false)
        // a failed rename (e.g. crash-replay leftovers on HDFS, where
        // rename-onto-existing returns false) must abort BEFORE the
        // commit, or the commit would record names whose data is gone
        require(fs.rename(s.getPath, dst),
          s"failed to move streaming batch file ${s.getPath} to $segDir/$name")
        (name, s.getLen)
      }
    fs.delete(tmp, true)
    graft.engine.Failpoints.hit("stream.batchMoved", t.path)

    val batchStats = statCols.map { f =>
      f.name -> ColumnStats(
        Option(m(s"min:${f.name}")).flatMap(StatValue.encode),
        Option(m(s"max:${f.name}")).flatMap(StatValue.encode),
        Option(m(s"nulls:${f.name}")).map(_.asInstanceOf[Long]).getOrElse(0L))
    }.toMap

    layout.commit { st =>
      st.copy(segments = st.segments.map { s =>
        if (s.id != segId) s
        else s.copy(
          files = s.files ++ moved.map(_._1),
          rowCount = s.rowCount + n,
          sizeBytes = s.sizeBytes + moved.map(_._2).sum,
          stats = mergeStats(target, s.stats, batchStats),
          lastBatchId = batchId)
      })
    }
  }

  private def mergeStats(
      schema: org.apache.spark.sql.types.StructType,
      a: Map[String, ColumnStats], b: Map[String, ColumnStats]): Map[String, ColumnStats] =
    if (a.isEmpty) b
    else (a.keySet ++ b.keySet).map { k =>
      val dt = schema.fields.find(_.name == k).map(_.dataType)
        .getOrElse(org.apache.spark.sql.types.StringType)
      // widen bounds type-aware; an incomparable pair degrades to
      // "unknown" (None) — a missing bound only costs IO, a wrong one
      // corrupts pruning
      def widen(x: Option[String], y: Option[String], keepSmaller: Boolean) =
        for {
          mx <- x; my <- y
          c <- StatValue.compareStored(dt, mx, my)
        } yield if ((c <= 0) == keepSmaller) mx else my
      (a.get(k), b.get(k)) match {
        case (Some(x), Some(y)) => k -> ColumnStats(
          widen(x.min, y.min, keepSmaller = true),
          widen(x.max, y.max, keepSmaller = false),
          x.nullCount + y.nullCount)
        case (Some(x), None) => k -> x
        case (None, Some(y)) => k -> y
        case _ => k -> ColumnStats(None, None, 0)
      }
    }.toMap

  /** Handoff: rewrite the open STREAMING segment as a sorted columnar
    * segment (reference StreamHandoffRDD). Returns the new segment id. */
  def handoff(t: GraftTable): Option[Long] = {
    val open = t.status.segments.find(s =>
      s.status == SegmentStatus.Streaming && s.files.nonEmpty)
    open.flatMap { s =>
      val df = t.spark.read.schema(t.schema)
        .parquet(t.layout.segmentFilePaths(s): _*)
      var id = -1L
      t.layout.commit { st =>
        id = st.nextSegmentId
        st.copy(segments = st.segments :+ SegmentMeta(
          id, SegmentStatus.InProgress, "parquet", Nil, -1L, 0L, Map.empty,
          t.meta.sortColumns, System.currentTimeMillis()))
      }
      val seg = SegmentWriter.write(t.layout, t.meta, df, id)
      graft.engine.Failpoints.hit("handoff.written", t.path)
      t.layout.commit { st =>
        st.copy(segments = st.segments.map { x =>
          if (x.id == id) seg.copy(origin = "handoff")
          else if (x.id == s.id) x.retire(SegmentStatus.Compacted)
          else x
        })
      }
      // post-publish maintenance like load/compaction: the columnar
      // copy enters index coverage, and an MV that had folded the
      // streaming segment rebases onto it (same rows, new id)
      t.maintainIndexesFor(id)
      graft.engine.mv.Mv.rebaseAfterCompaction(t.spark, t.path,
        Map(s.id -> s.rowCount), id, seg.rowCount)
      Some(id)
    }
  }

  /** Auto-handoff when the open streaming segment exceeds `maxBytes`
    * (carbon.streaming.segment.max.size analog). */
  def maybeHandoff(t: GraftTable, maxBytes: Long): Option[Long] =
    t.status.segments
      .find(s => s.status == SegmentStatus.Streaming && s.sizeBytes >= maxBytes)
      .flatMap(_ => handoff(t))

  /** Streaming CHANGE DATA FEED (r20): an unbounded DataFrame of
    * [[GraftTable.readChanges]] batches keyed on the commit-log
    * version — see [[ChangeFeedSource]]. `startingVersion` rewinds
    * into the retained log; default = changes after the stream
    * starts. */
  def readChangesStream(
      spark: SparkSession,
      path: String,
      startingVersion: Option[Long] = None): DataFrame = {
    var r = spark.readStream
      .format(classOf[ChangeFeedSourceProvider].getName)
      .option("path", path)
    startingVersion.foreach(v => r = r.option("startingVersion", v.toString))
    r.load()
  }
}

/** CREATE/DROP/SHOW STREAM + FINISH STREAMING — thin job registry over
  * StreamingQueryManager (reference StreamJobManager.scala:100-146). */
object StreamManager {
  private case class Job(name: String, tablePath: String, query: StreamingQuery)
  private val jobs = scala.collection.mutable.LinkedHashMap.empty[String, Job]

  /** Register + start a foreachBatch job under the stream registry
    * (shared by the append sink and the CDC streamer). */
  private[streaming] def createForeachBatchStream(
      name: String,
      table: GraftTable,
      source: DataFrame,
      trigger: Trigger,
      checkpoint: Option[String])(
      f: (DataFrame, Long) => Unit): StreamingQuery = synchronized {
    require(!jobs.contains(name), s"stream $name already exists")
    var w = source.writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) => f(batch, id); () }
    checkpoint.foreach(p => w = w.option("checkpointLocation", p))
    val q = w.queryName(name).start()
    jobs(name) = Job(name, table.path, q)
    q
  }

  /** CREATE STREAM name ON TABLE t AS <sourceDf> (already transformed to
    * the sink schema). `handoffBytes`: auto-handoff threshold. */
  def createStream(
      name: String,
      table: GraftTable,
      source: DataFrame,
      trigger: Trigger = Trigger.ProcessingTime(0),
      checkpoint: Option[String] = None,
      handoffBytes: Long = Long.MaxValue): StreamingQuery =
    createForeachBatchStream(name, table, source, trigger, checkpoint) { (batch, id) =>
      GraftStreaming.appendBatch(table, batch, id)
      GraftStreaming.maybeHandoff(table, handoffBytes)
    }

  def showStreams: Seq[(String, String, String)] = synchronized {
    jobs.values.map(j =>
      (j.name, j.tablePath, if (j.query.isActive) "RUNNING" else "STOPPED")).toSeq
  }

  /** The registered job's query (tests drive processAllAvailable). */
  def query(name: String): Option[StreamingQuery] = synchronized {
    jobs.get(name).map(_.query)
  }

  /** DROP STREAM: stop the job, keep the data. */
  def dropStream(name: String): Unit = synchronized {
    jobs.remove(name).foreach(_.query.stop())
  }

  /** ALTER TABLE FINISH STREAMING: stop all streams on the table and
    * hand the open streaming segment off to columnar. */
  def finishStreaming(t: GraftTable): Option[Long] = synchronized {
    jobs.values.filter(_.tablePath == t.path).toSeq.foreach { j =>
      j.query.stop(); jobs.remove(j.name)
    }
    GraftStreaming.handoff(t)
  }
}
