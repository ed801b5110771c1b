package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.GraftTable
import graft.engine.mv.Mv

/** `serve`: interactive reads against one warm table.
  *
  * Set-up writes seeded sf0.05 lineitem rows to parquet, loads them into a
  * graft table as shipdate-ordered segments (bloom filter on
  * `l_partkey`, sort key `l_shipdate, l_orderkey`), and creates one MV.
  * Then `nproc` clients share the session, each in its own FAIR pool,
  * and run a seeded round of reads in a closed loop through `spark.sql`.
  * Every answer is compared with the same SQL run by plain Spark on the
  * source parquet. */
object Serve {
  val Rows = 300000L
  val Segments = 12
  /** The traced run reports p95, so it runs at least this many reads
    * (10 beyond the p95). */
  val MinSamples = 200
  val Table = "graft.bench.li"

  final case class Read(kind: String, sql: String)

  /** Canonical answer: rows as strings, sorted. */
  def canon(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  /** `f` over `xs` on `n` threads, in order. */
  def par[A, B](n: Int, xs: Vector[A])(f: A => B): Vector[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally pool.shutdown()
  }

  def run(spark: SparkSession, tr: Tracer, a: Args, clients: Int): Result = {
    val rnd = new scala.util.Random(a.seed)
    val p0 = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] serve: $what at ${(System.nanoTime() - p0) / 1e9}%.1f s")
    val srcPath = s"${a.runDir}/source/lineitem"
    Gen.lineitem(spark, Rows, a.seed, 4).write.parquet(srcPath)
    val src = spark.read.parquet(srcPath)
    src.createOrReplaceTempView("source_li")

    phase("source written")
    val tablePath = s"${a.runDir}/warehouse/bench/li"
    val t = GraftTable.create(spark, tablePath, src.schema,
      sortColumns = Seq("l_shipdate", "l_orderkey"),
      properties = Map("bloom_columns" -> "l_partkey"))
    val day0 = 8036L
    val per = Gen.Days / Segments
    // one insert per shipdate range, `clients` at a time
    par(clients, (0 until Segments).toVector) { i =>
      val lo = (day0 + i * per) * 86400L
      val hi = if (i == Segments - 1) Long.MaxValue else (day0 + (i + 1) * per) * 86400L
      t.insert(src.filter(col("l_shipdate").cast("long") >= lo && col("l_shipdate").cast("long") < hi))
    }
    phase("segments loaded")
    val mvPath = s"${a.runDir}/mv/mv_serve"
    Mv.create(spark, "mv_serve", spark.sql(
      s"""SELECT l_returnflag, l_linestatus, sum(CAST(l_quantity AS DECIMAL(12,4))) AS sq,
         |count(1) AS n FROM $Table GROUP BY l_returnflag, l_linestatus""".stripMargin), mvPath)

    phase("MV created")
    // the seeded round: 5 point lookups, 4 short ranges, 3 bloom
    // equalities, 2 metadata counts, 2 MV rollups
    def day(d: Long): String = java.time.LocalDate.ofEpochDay(d).toString
    val pointKeys = (1 to 5).map(_ => 1L + rnd.nextInt((Rows / 4).toInt))
    val pointRows = src.filter(col("l_orderkey").isin(pointKeys: _*))
      .select("l_orderkey", "l_shipdate").collect()
    val points = pointKeys.map { k =>
      val ts = pointRows.filter(_.getLong(0) == k).map(_.getTimestamp(1)).minBy(_.getTime)
      val d = day(ts.getTime / 86400000L)
      Read("point", s"SELECT * FROM $$T WHERE l_shipdate = TIMESTAMP '$d 00:00:00' AND l_orderkey = $k")
    }
    val ranges = (1 to 4).map { _ =>
      val d = day0 + rnd.nextInt(Gen.Days - 7)
      Read("range",
        s"""SELECT l_returnflag, count(*) AS n, sum(CAST(l_quantity AS DECIMAL(12,2))) AS sq
           |FROM $$T WHERE l_shipdate >= TIMESTAMP '${day(d)} 00:00:00'
           |AND l_shipdate < TIMESTAMP '${day(d + 7)} 00:00:00' GROUP BY l_returnflag""".stripMargin)
    }
    val blooms = (1 to 3).map { _ =>
      val p = 1 + rnd.nextInt(20000)
      Read("bloom", s"SELECT count(*) AS n, sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS s " +
        s"FROM $$T WHERE l_partkey = $p")
    }
    val counts = Seq.fill(2)(Read("count", "SELECT count(*) AS n FROM $T"))
    val mvs = Seq.fill(2)(Read("mv",
      "SELECT l_returnflag, sum(CAST(l_quantity AS DECIMAL(12,4))) AS sq, count(1) AS n " +
        "FROM $T GROUP BY l_returnflag"))
    val round = rnd.shuffle(points ++ ranges ++ blooms ++ counts ++ mvs).toVector
    def on(r: Read, table: String): String = r.sql.replace("$T", table)
    val expected: Map[String, Seq[String]] = par(clients, round.distinct) { r =>
      r.sql -> canon(spark.sql(on(r, "source_li")).collect())
    }.toMap

    phase("expected answers computed")
    val attempted = new AtomicLong(0)
    val failed = new AtomicLong(0)
    val mismatched = new AtomicLong(0)
    val openMs = new ConcurrentLinkedQueue[Double]()
    val mvServed = new AtomicLong(0)
    val mvEligible = new AtomicLong(0)
    val timedOps = new ConcurrentLinkedQueue[Op]()
    val roundMs = new ConcurrentLinkedQueue[Double]()
    val done = new AtomicLong(0)
    val stop = new AtomicBoolean(false)
    @volatile var deadlineNs = Long.MaxValue

    // client c starts its round at read 4c; the warm-up runs only each
    // client's first four reads, so together they check every answer once
    def runRound(c: Int, timed: Boolean, warm: Boolean = false): Unit = {
      val rot = round.drop(c * 4 % round.size) ++ round.take(c * 4 % round.size)
      val mine = if (warm) rot.take(math.max(4, round.size / clients + 1)) else rot
      val r0 = System.nanoTime()
      mine.foreach { r =>
        if (tr.armed) {
          val o0 = System.nanoTime()
          GraftTable.at(spark, tablePath).status
          openMs.add((System.nanoTime() - o0) / 1e6)
        }
        val (res, op) = tr.op(s"read:${r.kind}") {
          val df = spark.sql(on(r, Table))
          (df, df.collect())
        }
        if (timed) attempted.incrementAndGet()
        res match {
          case Some((df, out)) =>
            op.rowsOut = out.length
            if (canon(out) != expected(r.sql)) {
              mismatched.incrementAndGet()
              if (timed) failed.incrementAndGet()
              System.err.println(s"[perfbench] serve ${r.kind} answer differs: ${r.sql}")
            } else if (timed) {
              timedOps.add(op)
              done.incrementAndGet()
            }
            if (timed && tr.armed && r.kind == "mv") {
              mvEligible.incrementAndGet()
              if (df.queryExecution.executedPlan.toString.contains("mv_serve")) mvServed.incrementAndGet()
            }
          case None => if (timed) failed.incrementAndGet() else mismatched.incrementAndGet()
        }
      }
      if (timed) roundMs.add((System.nanoTime() - r0) / 1e6)
    }

    def clientsRun(timed: Boolean): Unit = {
      val threads = (0 until clients).map { c =>
        new Thread(() => {
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"client$c")
          if (!timed) runRound(c, timed = false, warm = true)
          else while (!stop.get()) {
            runRound(c, timed = true)
            if (System.nanoTime() >= deadlineNs && (!tr.armed || done.get() >= MinSamples))
              stop.set(true)
          }
        }, s"serve-client-$c")
      }
      threads.foreach(_.start()); threads.foreach(_.join())
    }
    clientsRun(timed = false) // warm-up and first check of every answer
    phase("warm-up round done")
    tr.settle()
    val gc0 = Stats.gcMs
    val firstTimedMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    deadlineNs = t0 + a.seconds * 1000000000L
    clientsRun(timed = true)
    val wallS = (System.nanoTime() - t0) / 1e9
    val gcMs = (Stats.gcMs - gc0).toDouble
    val heap = Stats.heapLiveMb()
    tr.settle()
    val ops = timedOps.asScala.toSeq
    ops.groupBy(_.kind).foreach { case (k, os) =>
      System.err.println(f"[perfbench] serve: $k median ${Stats.median(os.map(_.wallMs))}%.1f ms over ${os.size}" +
        (if (!tr.armed) "" else f", ${os.map(_.inputBytes).sum / 1e6 / os.size}%.2f MB and " +
          f"${os.map(_.inputRecords).sum / os.size} rows read, ${os.map(_.tasks).sum / os.size} tasks per read"))
    }
    val lat = ops.map(_.wallMs)
    val live = t.countStar
    val endToEnd = Map(
      "round_s" -> Stats.median(roundMs.asScala.toSeq) / 1e3,
      "query_ms" -> Stats.median(lat),
      "queries_per_s" -> ops.size / wallS,
      "heap_live_mb" -> heap)
    val rounds = attempted.get().toDouble / round.size
    val layers =
      if (!tr.armed) Map.empty[String, Double]
      else Layers.generic(ops) ++ Layers.exec(ops, 1, gcMs).map { case (k, v) => k -> v / rounds } ++
        Map(
          "serve.query_p95_ms" -> Stats.pct(lat, 0.95),
          "format.open_ms" -> Stats.median(openMs.asScala.toSeq),
          "format.log_kb" -> Stats.dirBytes(s"$tablePath/_meta") / 1024.0,
          "format.segments" -> t.status.visible.size.toDouble,
          "format.bytes_per_row" -> Stats.dirBytes(tablePath).toDouble / live,
          "mv.served_per_eligible" ->
            (if (mvEligible.get() > 0) mvServed.get().toDouble / mvEligible.get() else 0.0))
    Result(attempted.get(), failed.get(), correct = mismatched.get() == 0, firstTimedMs,
      endToEnd, layers)
  }
}
