package perfbench

import org.apache.spark.sql.SparkSession

/** What one workload run reports: operation counts, whether every
  * output it checked was right, the first timed operation's start
  * (epoch ms), and its metrics by name. `extra` carries facts the
  * Python runner needs to finish its own checks. */
final case class Result(
    attempted: Long,
    failed: Long,
    correct: Boolean,
    firstTimedMs: Long,
    endToEnd: Map[String, Double],
    layers: Map[String, Double],
    extra: Map[String, String] = Map.empty)

final case class Args(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    launchMs: Long,
    runDir: String,
    dataDir: String)

/** Benchmark entry point, launched by `perfbench/run.py`:
  * {{{
  * perfbench.Main --workload suite|serve|ingest --seed N --seconds S
  *   --trace 0|1 --launch-ms EPOCH_MS --run-dir DIR --data-dir DIR
  * }}}
  * or `perfbench.Main --dump-oracle FILE` to write the DuckDB oracle SQL
  * of the suite's queries. Prints one JSON line, last, on stdout. */
object Main {
  private def parse(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap

  def main(argv: Array[String]): Unit = {
    val kv = parse(argv)
    kv.get("dump-oracle") match {
      case Some(file) => Suite.dumpOracle(file); return
      case None =>
    }
    val a = Args(
      workload = kv("workload"),
      seed = kv("seed").toLong,
      seconds = kv("seconds").toInt,
      trace = kv("trace") == "1",
      launchMs = kv("launch-ms").toLong,
      runDir = kv("run-dir"),
      dataDir = kv("data-dir"))
    require(Seq("suite", "serve", "ingest").contains(a.workload), s"unknown workload ${a.workload}")
    val cpus = math.max(1, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", s"${a.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.runDir}/spark-warehouse")
      // the session confs graft's own serial bench plans every query under
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "8192")
      // serve: each client thread runs in its own FAIR pool
      .config("spark.scheduler.mode", "FAIR")
      // names resolve through graft's catalog (graft.<ns>.<table>)
      .config("spark.sql.catalog.graft", "graft.engine.catalog.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", s"${a.runDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, a.trace)
    val r =
      try a.workload match {
        case "suite" => Suite.run(spark, tracer, a)
        case "serve" => Serve.run(spark, tracer, a, cpus)
        case "ingest" => Ingest.run(spark, tracer, a)
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          sys.exit(1)
      }
    tracer.removeListener()
    val setupS = (r.firstTimedMs - a.launchMs) / 1000.0
    val metrics =
      if (a.trace) r.layers
      else r.endToEnd + ("setup_s" -> setupS)
    println(Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "correct" -> r.correct.toString,
      "attempted" -> r.attempted.toString,
      "failed" -> r.failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
      "extra" -> Json.obj(r.extra.toSeq.map { case (k, v) => k -> Json.str(v) }))))
    spark.stop()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
