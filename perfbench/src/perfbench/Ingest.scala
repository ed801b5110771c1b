package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.GraftTable
import graft.engine.mv.Mv

/** `ingest`: writes, with one reader thread beside the writer.
  *
  * Every round repeats the same seeded sequence on fresh tables: a CSV
  * LOAD, small-batch inserts into a table whose MV refreshes on commit,
  * copy-on-write and merge-on-read UPDATE/DELETE and a MERGE upsert,
  * then delta fold and MINOR compaction; CLEAN FILES runs on the
  * previous round's table, whose retired files are past their retention
  * by then. A model built from the seeded inputs checks the final
  * contents, sampled `AS OF` versions, one change-feed span and every
  * state the reader saw. */
object Ingest {
  val CsvRows = 60000L
  val Batches = 4
  val BatchRows = 1000
  val MergeRows = 500
  /** Small segments that make a MINOR compaction rewrite. */
  val MinorThreshold = 3
  /** Longer than any reader query, so CLEAN FILES never pulls files from
    * under a scan in flight. */
  val RetentionMs = 2000L

  val schema: StructType = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("g", IntegerType, nullable = false),
    StructField("v", LongType, nullable = false),
    StructField("s", StringType, nullable = false)))

  type Model = Map[Long, (Int, Long)]
  private def rowOf(k: Long, gv: (Int, Long)): Row = Row(k, gv._1, gv._2, s"s${k % 97}")
  private def tuples(m: Model): Seq[(Long, Int, Long)] =
    m.toSeq.map { case (k, (g, v)) => (k, g, v) }.sorted
  private def csvBytes(rows: Seq[Row]): Long =
    rows.map(r => s"${r.get(0)},${r.get(1)},${r.get(2)},${r.get(3)}\n".length.toLong).sum

  /** A state the reader may see: (rows, sum of k, sum of v). */
  private def sig(m: Model): (Long, Long, Long) =
    (m.size.toLong, m.keysIterator.sum, m.valuesIterator.map(_._2).sum)

  final case class Inputs(batches: Seq[Seq[Row]], merge: Seq[Row])

  def inputs(seed: Long): Inputs = {
    val rnd = new scala.util.Random(seed ^ 0x5eed)
    val keys = rnd.shuffle((1L to (Batches * BatchRows * 3).toLong).toVector)
    val batches = (0 until Batches).map { b =>
      keys.slice(b * BatchRows, (b + 1) * BatchRows).map(k =>
        rowOf(k, (rnd.nextInt(16), rnd.nextInt(1000000).toLong)))
    }
    // the MERGE runs after the first half of the batches
    val existing = rnd.shuffle(batches.take(Batches / 2).flatten.map(_.getLong(0))).take(MergeRows / 2)
    val fresh = keys.slice(Batches * BatchRows, Batches * BatchRows + MergeRows / 2)
    val merge = (existing ++ fresh).map(k => rowOf(k, (rnd.nextInt(16), rnd.nextInt(1000000).toLong)))
    Inputs(batches, merge)
  }

  /** Per-round facts the metrics are built from. */
  final class RoundStats {
    val ops = ArrayBuffer.empty[Op]
    var roundMs = 0.0
    var mutationsMs = 0.0
    var maintenanceMs = 0.0
    var segments = 0.0
    var logKb = 0.0
    var insertedBytes = 0L
    var writtenBytes = 0L
    var newFiles = 0L
    var rewrittenBytes = 0L
    var bytesPerRow = Option.empty[Double]
  }

  def run(spark: SparkSession, tr: Tracer, a: Args): Result = {
    val in = inputs(a.seed)
    val csvDir = s"${a.runDir}/source/lineitem_csv"
    Gen.lineitem(spark, CsvRows, a.seed, 4).coalesce(1)
      .write.option("header", "true").csv(csvDir)
    val csvSize = new java.io.File(csvDir).listFiles().filter(_.getName.endsWith(".csv"))
      .map(_.length).sum
    val liSchema = StructType(Gen.lineitem(spark, 1, a.seed, 1).schema.map(_.copy(nullable = true)))

    var attempted = 0L
    var failed = 0L
    var wrong = 0L
    def tally(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }
    def check(what: String, ok: Boolean): Unit = {
      tally(ok)
      if (!ok) { wrong += 1; System.err.println(s"[perfbench] ingest check failed: $what") }
    }

    // ---- the reader thread: aggregates over the current round's table
    @volatile var readTable: String = null
    val observed = new ConcurrentLinkedQueue[(String, (Long, Long, Long))]()
    val readerOps = new ConcurrentLinkedQueue[Op]()
    val readerFailed = new java.util.concurrent.atomic.AtomicLong(0)
    val openMs = new ConcurrentLinkedQueue[Double]()
    val readerOn = new AtomicBoolean(false)
    val readerStop = new AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!readerStop.get()) {
        val p = readTable
        if (p == null || !readerOn.get()) Thread.sleep(5)
        else {
          if (tr.armed) {
            val o0 = System.nanoTime()
            GraftTable.at(spark, p).status
            openMs.add((System.nanoTime() - o0) / 1e6)
          }
          val (r, op) = tr.op("reader") {
            GraftTable.at(spark, p).read
              .agg(count(lit(1)), coalesce(sum(col("k")), lit(0L)), coalesce(sum(col("v")), lit(0L)))
              .collect().head
          }
          op.rowsOut = 1
          r match {
            case Some(row) =>
              observed.add(p -> ((row.getLong(0), row.getLong(1), row.getLong(2))))
              readerOps.add(op)
            case None => readerFailed.incrementAndGet()
          }
        }
      }
    }, "ingest-reader")
    reader.setDaemon(true)
    reader.start()

    var prev: Option[(String, Model)] = None
    val roundStates = scala.collection.mutable.HashMap.empty[String, Set[(Long, Long, Long)]]

    /** One round on fresh tables; returns its stats. */
    def round(r: Int): RoundStats = {
      val st = new RoundStats
      def timed[T](kind: String)(body: => T): Option[T] = {
        val (res, op) = tr.op(kind)(body)
        tally(res.isDefined)
        st.ops += op
        res
      }
      val r0 = System.nanoTime()
      // 1. CSV LOAD into a fresh table
      val lp = s"${a.runDir}/warehouse/ingest/load_$r"
      val lt = GraftTable.create(spark, lp, liSchema, sortColumns = Seq("l_shipdate", "l_orderkey"))
      timed("load")(lt.loadCsv(csvDir))
      val loadEnd = System.nanoTime()
      // 2. the commit table with an MV that refreshes on commit
      val tp = s"${a.runDir}/warehouse/ingest/t_$r"
      val t = GraftTable.create(spark, tp, schema, sortColumns = Seq("k"),
        properties = Map("clean_files_retention_ms" -> RetentionMs.toString, "timetravel" -> "true"))
      Mv.create(spark, s"mv_ingest_$r",
        t.read.groupBy("g").agg(count(lit(1)).as("n"), sum(col("v")).as("sv")),
        s"${a.runDir}/mv/mv_ingest_$r")
      readTable = tp
      var model: Model = Map.empty
      val states = scala.collection.mutable.LinkedHashMap[Long, Model](t.status.version -> model)
      def committed(m: Model): Unit = { model = m; states(t.status.version) = m }
      val setupEnd = System.nanoTime()
      // 3. small-batch inserts around the fixed mutation sequence: the
      // copy-on-write statements rewrite the early segments, the
      // merge-on-read ones leave deltas for the fold, and the late
      // inserts bring the small segments up to the MINOR threshold
      def insert(b: Seq[Row]): Unit = {
        val before = if (tr.armed) (Stats.dirBytes(tp), Stats.dataFiles(tp)) else (0L, 0L)
        val df = spark.createDataFrame(b.asJava, schema)
        if (timed("insert")(t.insert(df)).isDefined)
          committed(model ++ b.map(row => row.getLong(0) -> ((row.getInt(1), row.getLong(2)))))
        if (tr.armed) {
          st.insertedBytes += csvBytes(b)
          st.writtenBytes += Stats.dirBytes(tp) - before._1
          st.newFiles += Stats.dataFiles(tp) - before._2
        }
      }
      in.batches.take(Batches / 2).foreach(insert)
      // 4. the fixed mutation sequence
      val m0 = System.nanoTime()
      if (timed("cow_update")(t.update(col("k") % 5 === 1, Map("v" -> (col("v") + 1)))).isDefined)
        committed(model.map { case (k, (g, v)) => k -> (if (k % 5 == 1) (g, v + 1) else (g, v)) })
      val src = spark.createDataFrame(in.merge.asJava, schema)
      if (timed("merge")(t.upsert(src, "k")).isDefined)
        committed(model ++ in.merge.map(row => row.getLong(0) -> ((row.getInt(1), row.getLong(2)))))
      if (timed("mor_update")(t.updateMor(col("k") % 7 === 2, Map("v" -> (col("v") * 2)))).isDefined)
        committed(model.map { case (k, (g, v)) => k -> (if (k % 7 == 2) (g, v * 2) else (g, v)) })
      if (timed("mor_delete")(t.deleteMor(col("k") % 11 === 3)).isDefined)
        committed(model.filterNot { case (k, _) => k % 11 == 3 })
      st.mutationsMs = (System.nanoTime() - m0) / 1e6
      in.batches.drop(Batches / 2).foreach(insert)
      st.segments = t.status.visible.size
      st.logKb = Stats.dirBytes(s"$tp/_meta") / 1024.0
      // 5. maintenance: fold the delete deltas, MINOR compaction, and
      // CLEAN FILES on the previous round's table
      val x0 = System.nanoTime()
      timed("fold")(t.foldDeltas(minFraction = 0.05))
      committed(model)
      val beforeCompact = if (tr.armed) Stats.dirBytes(tp) else 0L
      val c0 = System.nanoTime()
      val (compacted, cop) = tr.op("minor")(t.compact("MINOR", minorThreshold = MinorThreshold))
      tally(compacted.isDefined)
      // a MINOR below its threshold rewrites nothing and is not timed
      if (compacted.exists(_.isDefined)) st.ops += cop
      committed(model)
      st.rewrittenBytes = if (tr.armed) Stats.dirBytes(tp) - beforeCompact else 0L
      val c1 = System.nanoTime()
      prev.foreach { case (pp, _) => timed("clean")(GraftTable.at(spark, pp).cleanFiles()) }
      val x1 = System.nanoTime()
      prev.foreach { case (pp, pm) => st.bytesPerRow = Some(Stats.dirBytes(pp).toDouble / math.max(1, pm.size)) }
      st.maintenanceMs = (x1 - x0 - (if (compacted.exists(_.isDefined)) 0L else c1 - c0)) / 1e6
      st.roundMs = ((loadEnd - r0) + (x1 - setupEnd)) / 1e6

      // ---- checks against the model, outside the round's time; the
      // warm-up round's table is checked after its CLEAN FILES in round 1
      if (r > 0) {
        check(s"round $r: LOAD row count", lt.countStar == CsvRows)
        val vs = states.keys.toVector
        val rnd = new scala.util.Random(a.seed + r)
        Seq(vs(1 + rnd.nextInt(vs.size - 1)), vs(1 + rnd.nextInt(vs.size - 1))).foreach { v =>
          val got = t.readAsOf(v).select("k", "g", "v").collect()
            .map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSeq.sorted
          check(s"round $r: AS OF $v", got == tuples(states(v)))
        }
        val from = vs(Batches / 2)
        val to = vs(vs.size - 3)
        val feed = t.readChanges(from, to).select("_change_type", "k", "g", "v").collect()
          .map(x => (x.getString(0), x.getLong(1), x.getInt(2), x.getLong(3))).toSeq.sorted
        val (fa, fb) = (tuples(states(from)).toSet, tuples(states(to)).toSet)
        val want = ((fb -- fa).toSeq.map { case (k, g, v) => ("insert", k, g, v) } ++
          (fa -- fb).toSeq.map { case (k, g, v) => ("delete", k, g, v) }).sorted
        check(s"round $r: change feed $from..$to", feed == want)
        val fin = t.read.select("k", "g", "v").collect()
          .map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSeq.sorted
        check(s"round $r: final contents", fin == tuples(model))
        prev.foreach { case (pp, pm) =>
          val after = GraftTable.at(spark, pp).read.select("k", "g", "v").collect()
            .map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSeq.sorted
          check(s"round ${r - 1}: contents after CLEAN FILES", after == tuples(pm))
        }
      }
      roundStates(tp) = states.values.map(sig).toSet
      // drop what no later step reads
      GraftTable.drop(spark, lp)
      prev.foreach { case (pp, _) => Mv.drop(spark, s"mv_ingest_${r - 1}"); GraftTable.drop(spark, pp) }
      prev = Some(tp -> model)
      st
    }

    readerOn.set(true)
    round(0) // warm-up round: JIT, codegen and the first LOADs
    val warmAttempted = attempted
    val warmFailed = failed
    tr.settle()
    readerOps.clear(); openMs.clear(); readerFailed.set(0)
    val gc0 = Stats.gcMs
    val firstTimedMs = System.currentTimeMillis()
    val readerFrom = observed.size
    val t0 = System.nanoTime()
    val rounds = ArrayBuffer.empty[RoundStats]
    var i = 1
    while (rounds.isEmpty || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      rounds += round(i); i += 1
    }
    val readerWall = (System.nanoTime() - t0) / 1e9
    readerStop.set(true)
    reader.join()
    val gcMs = (Stats.gcMs - gc0).toDouble
    val heap = Stats.heapLiveMb()
    tr.settle()
    // every state the reader saw must be a committed state of its table
    val seen = observed.asScala.toSeq
    val torn = seen.count { case (p, s) => !roundStates.get(p).exists(_.contains(s)) }
    val timedSeen = seen.drop(readerFrom)
    attempted += timedSeen.size + readerFailed.get()
    failed += readerFailed.get() + timedSeen.count { case (p, s) => !roundStates.get(p).exists(_.contains(s)) }
    if (torn > 0) { wrong += torn; System.err.println(s"[perfbench] reader saw $torn uncommitted state(s)") }
    attempted -= warmAttempted
    failed -= warmFailed

    rounds.flatMap(_.ops).groupBy(_.kind).foreach { case (k, os) =>
      System.err.println(f"[perfbench] ingest: $k median ${Stats.median(os.map(_.wallMs).toSeq)}%.0f ms over ${os.size}")
    }
    val rops = readerOps.asScala.toSeq
    val lat = rops.map(_.wallMs)
    def kindMs(k: String): Seq[Double] = rounds.toSeq.flatMap(_.ops.filter(_.kind == k).map(_.wallMs))
    def med(k: String): Double = { val xs = kindMs(k); if (xs.isEmpty) 0.0 else Stats.median(xs) }
    val endToEnd = Map(
      "round_s" -> Stats.median(rounds.toSeq.map(_.roundMs)) / 1e3,
      "query_ms" -> Stats.median(lat),
      "queries_per_s" -> rops.size / readerWall,
      "heap_live_mb" -> heap)
    val layers =
      if (!tr.armed) Map.empty[String, Double]
      else {
        val all = rounds.toSeq.flatMap(_.ops)
        def ofKind(k: String) = all.filter(_.kind == k)
        val inserts = ofKind("insert")
        val loads = ofKind("load")
        def total(f: RoundStats => Long) = rounds.toSeq.map(f).sum.toDouble
        val g = Layers.generic(rops)
        g ++ Layers.exec(all ++ rops, rounds.size, gcMs) ++ Map(
          "sched.jobs_per_op" -> Stats.mean(inserts.map(_.jobs.toDouble)),
          "ingest.load_mb_per_s" -> csvSize / 1e6 / (med("load") / 1e3),
          "ingest.commit_p50_ms" -> med("insert"),
          "ingest.mutations_per_s" -> 4.0 / (Stats.median(rounds.toSeq.map(_.mutationsMs)) / 1e3),
          "ingest.maintenance_s" -> Stats.median(rounds.toSeq.map(_.maintenanceMs)) / 1e3,
          "format.bytes_per_row" -> Stats.median(rounds.toSeq.flatMap(_.bytesPerRow)),
          "format.open_ms" -> Stats.median(openMs.asScala.toSeq),
          "format.log_kb" -> Stats.median(rounds.toSeq.map(_.logKb)),
          "format.segments" -> Stats.median(rounds.toSeq.map(_.segments)),
          "commit.job_ms" -> Stats.median(inserts.map(_.jobMs.toDouble)),
          "commit.publish_ms" -> Stats.median(inserts.map(o => o.wallMs - o.jobMs)),
          "commit.files_per_commit" -> total(_.newFiles) / math.max(1, inserts.size),
          "commit.write_amp" -> total(_.writtenBytes) / math.max(1.0, total(_.insertedBytes)),
          "mutate.cow_update_ms" -> med("cow_update"),
          "mutate.mor_update_ms" -> med("mor_update"),
          "mutate.mor_delete_ms" -> med("mor_delete"),
          "mutate.merge_ms" -> med("merge"),
          "compact.minor_ms" -> med("minor"),
          "compact.fold_ms" -> med("fold"),
          "compact.clean_ms" -> med("clean"),
          "compact.mb_rewritten" -> Stats.median(rounds.toSeq.map(_.rewrittenBytes.toDouble)) / 1e6,
          "load.job_s" -> Stats.median(loads.map(_.jobMs.toDouble)) / 1e3,
          "load.publish_ms" -> Stats.median(loads.map(o => o.wallMs - o.jobMs)))
      }
    Result(attempted, failed, correct = wrong == 0, firstTimedMs, endToEnd, layers)
  }
}
