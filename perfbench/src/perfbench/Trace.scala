package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.perfbench.SparkAccess

/** One timed operation: its wall-clock span and, in a traced run, the
  * Spark work attributed to it through a per-operation job tag. */
final class Op(val id: Long, val kind: String) {
  var startNs = 0L
  var endNs = 0L
  var startMs = 0L
  var endMs = 0L
  /** Rows the operation handed back to its caller (source pruning ratio). */
  var rowsOut = 0L
  // Spark-side facts, written by the listener thread under `this` lock
  var jobs = 0
  val jobSpans = ArrayBuffer.empty[(Long, Long)]
  val taskSpans = ArrayBuffer.empty[(Long, Long)]
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var analysisMs = 0L
  var optimizeMs = 0L
  var physicalMs = 0L

  def wallMs: Double = (endNs - startNs) / 1e6
  def planMs: Long = analysisMs + optimizeMs + physicalMs

  /** Length of the union of `spans` clipped to this operation's window. */
  private def covered(spans: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = -1L
    var curE = -1L
    spans.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }
  def jobMs: Long = {
    val spans = synchronized(jobSpans.toSeq)
    covered(spans)
  }
  /** Wall time during which none of this operation's tasks was running. */
  def waitMs: Double = {
    val spans = synchronized(taskSpans.toSeq)
    math.max(0.0, wallMs - covered(spans))
  }
}

/** Times operations and, when armed, attributes Spark's own events to
  * them: every job, stage, task and SQL execution started inside
  * [[op]] carries the operation's job tag, so the listener can sum task
  * metrics, job spans and Catalyst planning phases per operation. The
  * untraced run registers nothing and only reads the clock. */
final class Tracer(spark: SparkSession, val armed: Boolean) {
  private val nextId = new AtomicLong(0)
  private val ops = new ConcurrentHashMap[Long, Op]()
  private val stageOp = new ConcurrentHashMap[Int, Op]()
  private val jobOp = new ConcurrentHashMap[Int, (Op, Long)]()
  private val execOp = new ConcurrentHashMap[Long, Op]()
  private val Tag = "pb-op-"

  private def opOfTags(tags: Iterable[String]): Option[Op] =
    tags.collectFirst { case t if t.startsWith(Tag) => ops.get(t.drop(Tag.length).toLong) }
      .flatMap(Option(_))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").toSeq).getOrElse(Nil)
      opOfTags(tags).foreach { op =>
        jobOp.put(e.jobId, (op, e.time))
        e.stageIds.foreach(s => stageOp.put(s, op))
        op.synchronized(op.jobs += 1)
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobOp.remove(e.jobId)).foreach { case (op, t0) =>
        op.synchronized(op.jobSpans += ((t0, e.time)))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOp.get(e.stageId)).foreach { op =>
        val m = e.taskMetrics
        op.synchronized {
          op.tasks += 1
          op.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
          if (m != null) {
            op.taskRunMs += m.executorRunTime
            op.taskCpuNs += m.executorCpuTime
            op.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
            op.inputBytes += m.inputMetrics.bytesRead
            op.inputRecords += m.inputMetrics.recordsRead
          }
        }
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        opOfTags(s.jobTags).foreach(op => execOp.put(s.executionId, op))
      case end: SparkListenerSQLExecutionEnd =>
        Option(execOp.remove(end.executionId)).foreach { op =>
          SparkAccess.qe(end).foreach { qe =>
            val ph = qe.tracker.phases
            def ms(n: String): Long = ph.get(n).map(_.durationMs).getOrElse(0L)
            op.synchronized {
              op.analysisMs += ms("analysis")
              op.optimizeMs += ms("optimization")
              op.physicalMs += ms("planning")
            }
          }
        }
      case _ =>
    }
  }
  if (armed) spark.sparkContext.addSparkListener(listener)

  /** Run `body` as one operation of `kind`; failures are recorded, not
    * thrown, so a workload always finishes its rounds. */
  def op[T](kind: String)(body: => T): (Option[T], Op) = {
    val o = new Op(nextId.incrementAndGet(), kind)
    val tag = Tag + o.id
    if (armed) { ops.put(o.id, o); spark.sparkContext.addJobTag(tag) }
    o.startMs = System.currentTimeMillis()
    o.startNs = System.nanoTime()
    val r =
      try Some(body)
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $kind failed: ${e.getClass.getSimpleName}: " +
            Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse(""))
          None
      }
    o.endNs = System.nanoTime()
    o.endMs = System.currentTimeMillis()
    if (armed) spark.sparkContext.removeJobTag(tag)
    (r, o)
  }

  /** Wait until every event of the finished operations has been seen. */
  def settle(): Unit = if (armed) SparkAccess.drainListenerBus(spark)

  def removeListener(): Unit = if (armed) spark.sparkContext.removeSparkListener(listener)
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Live heap after a full collection, in MB: the least of three
    * collections a moment apart, so garbage that Spark's cleaner thread
    * releases only after the first one is not counted as live. */
  def heapLiveMb(): Double = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      mx.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  /** Bytes of regular files under `dir` (0 when it does not exist). */
  def dirBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val st = java.nio.file.Files.walk(p)
      try st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally st.close()
    }
  }
  def dataFiles(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val st = java.nio.file.Files.walk(p)
      try st.iterator().asScala.count(f => f.toString.endsWith(".parquet")).toLong
      finally st.close()
    }
  }
}

/** The per-layer metrics every workload derives the same way from its
  * traced operations: Catalyst phases, scan volume, task time and the
  * scheduler's share of wall time. */
object Layers {
  def generic(ops: Seq[Op]): Map[String, Double] = {
    if (ops.isEmpty) return Map.empty
    val n = ops.size.toDouble
    val rowsOut = ops.map(_.rowsOut).sum
    Map(
      "plan.analysis_ms" -> Stats.median(ops.map(_.analysisMs.toDouble)),
      "plan.optimize_ms" -> Stats.median(ops.map(_.optimizeMs.toDouble)),
      "plan.physical_ms" -> Stats.median(ops.map(_.physicalMs.toDouble)),
      "source.tasks_per_query" -> ops.map(_.tasks).sum / n,
      "source.rows_read_per_row_returned" ->
        (if (rowsOut > 0) ops.map(_.inputRecords).sum.toDouble / rowsOut else 0.0),
      "source.mb_read_per_query" -> ops.map(_.inputBytes).sum / n / 1e6,
      "source.task_ms_per_query" -> ops.map(_.taskRunMs).sum / n,
      "sched.jobs_per_op" -> ops.map(_.jobs).sum / n,
      "sched.wait_ms_per_op" -> Stats.mean(ops.map(_.waitMs)))
  }

  /** Executor-side totals over a set of operations, per `passes`. */
  def exec(ops: Seq[Op], passes: Int, gcMs: Double): Map[String, Double] = Map(
    "exec.task_cpu_s" -> ops.map(_.taskCpuNs).sum / 1e9 / passes,
    "exec.task_run_s" -> ops.map(_.taskRunMs).sum / 1e3 / passes,
    "exec.shuffle_mb" -> ops.map(_.shuffleBytes).sum / 1e6 / passes,
    "exec.gc_ms" -> gcMs / passes)
}
