package perfbench

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** `suite`: a fixed set of registered queries that have a DuckDB oracle,
  * run serially by one client over the committed sf0.01 tables.
  *
  * An untimed check pass writes every answer to parquet exactly as
  * `graft.Verify` does (the runner hashes it against `oracle.json`);
  * then whole timed passes, each answer materialised through a noop
  * write, run until `--seconds` have passed. The seed only permutes the
  * query order of each pass. */
object Suite {
  /** One query per `ops` family whose fixtures build in about a second,
    * plus the MV rewrite and the metadata count. All 149 oracle-checked
    * queries take about 36 s per warm pass on 4 cores, and their fixture
    * builds about as long again, which no single benchmark run can
    * afford; this set runs a pass in about 3 s after a 20 s check pass.
    * Left out for their fixture builds: vector (10 s), iud (4 s),
    * changes (3.5 s) and the SI lookup (3 s). */
  val Queries: Seq[String] = Seq(
    "q_dedup_minhash", "q_text_tokens", "q_sql_update", "q1_agg", "q_join_inner",
    "q_ann_topk", "q_sessionize", "q_geo_bbox", "q_fn_json", "q_mv_rollup",
    "q_countstar_meta")

  /** The family a query's time is charged to in `ops.<family>_s`. */
  def family(name: String): String =
    if (name.startsWith("q1_")) "agg" else name.split("_")(1)

  val Families: Seq[String] = Seq("dedup", "text", "sql", "agg", "join", "ann",
    "sessionize", "geo", "fn")

  /** Timed passes always run at least this often. */
  val MinPasses = 2

  def dumpOracle(file: String): Unit = {
    val sql = SparkEntry.oracleSql
    val missing = Queries.filterNot(sql.contains)
    require(missing.isEmpty, s"no oracle SQL for ${missing.mkString(",")}")
    val json = Json.obj(Queries.map(q => q -> Json.str(sql(q))))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(file), json)
  }

  def run(spark: SparkSession, tr: Tracer, a: Args): Result = {
    val fns = Queries.map(q => q -> SparkEntry.queries(q))
    val rnd = new scala.util.Random(a.seed)
    val dumps = s"${a.runDir}/answers"
    val p0 = System.nanoTime()
    var attempted = 0L
    var failed = 0L
    // check pass: also builds the per-run fixture tables and warms JIT
    rnd.shuffle(fns).foreach { case (name, fn) =>
      attempted += 1
      val (r, _) = tr.op(s"check:$name") {
        fn(spark, a.dataDir).coalesce(1).write.mode("overwrite").parquet(s"$dumps/$name")
      }
      if (r.isEmpty) failed += 1
      System.err.println(f"[perfbench] suite: check $name at ${(System.nanoTime() - p0) / 1e9}%.1f s")
    }
    System.err.println(f"[perfbench] suite: check pass done at ${(System.nanoTime() - p0) / 1e9}%.1f s")
    tr.settle()
    val gc0 = Stats.gcMs
    val t0 = System.nanoTime()
    val firstTimedMs = System.currentTimeMillis()
    val timed = scala.collection.mutable.ArrayBuffer.empty[Op]
    var passes = 0
    while (passes < MinPasses || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      rnd.shuffle(fns).foreach { case (name, fn) =>
        attempted += 1
        val (r, op) = tr.op(name) {
          fn(spark, a.dataDir).write.format("noop").mode("overwrite").save()
        }
        if (r.isEmpty) failed += 1 else timed += op
      }
      passes += 1
      System.err.println(f"[perfbench] suite: pass $passes done at ${(System.nanoTime() - p0) / 1e9}%.1f s")
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val gcMs = (Stats.gcMs - gc0).toDouble
    val heap = Stats.heapLiveMb()
    tr.settle()
    val byQuery = timed.toSeq.groupBy(_.kind).map { case (q, os) => q -> Stats.median(os.map(_.wallMs)) }
    val suiteS = byQuery.values.sum / 1e3
    byQuery.toSeq.sortBy(-_._2).foreach { case (q, ms) =>
      System.err.println(f"[perfbench] suite: $q median $ms%.0f ms")
    }
    val endToEnd = Map(
      "round_s" -> suiteS,
      // the queries' costs differ by 20x, so any one median across them
      // jumps from query to query; a geometric mean moves with all of them
      "query_ms" -> math.exp(Stats.mean(byQuery.values.toSeq.map(math.log))),
      "queries_per_s" -> timed.size / wallS,
      "heap_live_mb" -> heap)
    val layers =
      if (!tr.armed) Map.empty[String, Double]
      else {
        val ops = timed.toSeq
        Layers.generic(ops) ++ Layers.exec(ops, passes, gcMs) ++
          Families.map(f => s"ops.${f}_s" ->
            byQuery.collect { case (q, ms) if family(q) == f => ms }.sum / 1e3) ++
          Map("plan.total_s" -> ops.map(_.planMs).sum / 1e3 / passes)
      }
    Result(attempted, failed, correct = true, firstTimedMs, endToEnd, layers,
      Map("answers" -> dumps, "passes" -> passes.toString))
  }
}
