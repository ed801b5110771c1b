package graft.engine

import graft.engine.mv.{Mv, MvCatalog}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** MV create/refresh + query rewrite: rewritten answers must equal the
  * non-rewritten answers, and the plan must scan the MV, not the fact. */
class MvSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(): String = Files.createTempDirectory("graft_mv_").toString

  private def checkSame(a: DataFrame, b: DataFrame): Unit = {
    val ac = a.collect().map(_.toString).sorted
    val bc = b.collect().map(_.toString).sorted
    assert(ac.length == bc.length, s"rows ${ac.length} vs ${bc.length}")
    assert(ac.sameElements(bc),
      s"first diff: ${ac.zip(bc).find { case (x, y) => x != y }}")
  }

  private def lineitem = spark.read.parquet(s"$sf/lineitem.parquet")

  test("exact-signature rewrite: query served from the MV table") {
    val base = lineitem
    val mvq = base.groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("sum_qty"),
        count(lit(1)).as("cnt"))
    val expected = mvq.collect()
    Mv.create(spark, "mv_exact", mvq, s"${tmp()}/mv_exact")
    try {
      val q = base.groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("sum_qty"),
          count(lit(1)).as("cnt"))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("mv_exact"), s"expected MV scan in plan:\n$plan")
      assert(q.collect().map(_.toString).sorted
        .sameElements(expected.map(_.toString).sorted))
    } finally Mv.drop(spark, "mv_exact")
  }

  test("groupby-rollup rewrite: coarser grouping answered by finer MV") {
    val base = lineitem
    val mvq = base.groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("sum_qty"),
        count(lit(1)).as("cnt"),
        min(col("l_extendedprice")).as("min_p"),
        max(col("l_extendedprice")).as("max_p"))
    Mv.create(spark, "mv_roll", mvq, s"${tmp()}/mv_roll")
    try {
      // coarser: group by l_returnflag only
      val q = base.groupBy("l_returnflag")
        .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("sum_qty"),
          count(lit(1)).as("cnt"),
          min(col("l_extendedprice")).as("min_p"),
          max(col("l_extendedprice")).as("max_p"))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("mv_roll"), s"expected MV rollup in plan:\n$plan")
      val noMv = MvCatalog.get("mv_roll").map { d =>
        MvCatalog.drop(d.name)
        val r = base.groupBy("l_returnflag")
          .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("sum_qty"),
            count(lit(1)).as("cnt"),
            min(col("l_extendedprice")).as("min_p"),
            max(col("l_extendedprice")).as("max_p")).collect()
        MvCatalog.register(d)
        r
      }.get
      assert(q.collect().map(_.toString).sorted
        .sameElements(noMv.map(_.toString).sorted))
      // global aggregate (empty grouping) also rolls up
      val g = base.agg(count(lit(1)).as("cnt"))
      // (count(*) over lineitem — served by MV sum of counts)
      assert(g.queryExecution.optimizedPlan.toString.contains("mv_roll"))
      assert(g.collect().head.getLong(0) == base.count())
    } finally Mv.drop(spark, "mv_roll")
  }

  test("stale MV over a carbonish base is not used until refreshed") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_mvstale_").toString
    val base = GraftTable.createAsSelect(spark, s"$root/base",
      Seq((1L, 10.0), (1L, 20.0), (2L, 5.0)).toDF("k", "x"), Seq("k"))
    def q = base.read.groupBy("k").agg(sum(col("x")).as("sx"), count(lit(1)).as("c"))
    // deferred: this test pins the staleness GATE, so refresh-on-commit
    // (the non-deferred default) must not catch the MV up behind it
    Mv.create(spark, "mv_stale", q, s"$root/mv_stale", deferred = true)
    try {
      assert(q.queryExecution.optimizedPlan.toString.contains("mv_stale"))
      // base grows: the MV must stop serving queries (no silent staleness)
      base.insert(Seq((2L, 100.0)).toDF("k", "x"))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(!plan.contains("mv_stale"), s"stale MV served a query:\n$plan")
      assert(q.filter(col("k") === 2).collect().head.getDouble(1) == 105.0)
      // incremental refresh folds the new segment; rewrite resumes
      Mv.refreshIncremental(spark, "mv_stale")
      assert(q.queryExecution.optimizedPlan.toString.contains("mv_stale"))
      assert(q.filter(col("k") === 2).collect().head.getDouble(1) == 105.0)
    } finally Mv.drop(spark, "mv_stale")
  }

  test("removal-only base change (segment delete) also disables the MV") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_mvshrink_").toString
    val base = GraftTable.createAsSelect(spark, s"$root/base",
      Seq((1L, 10.0), (2L, 5.0)).toDF("k", "x"), Seq("k"))
    base.insert(Seq((2L, 100.0)).toDF("k", "x")) // segment 1
    def q = base.read.groupBy("k").agg(sum(col("x")).as("sx"))
    Mv.create(spark, "mv_shrink", q, s"$root/mv_shrink")
    try {
      assert(q.queryExecution.optimizedPlan.toString.contains("mv_shrink"))
      // base SHRINKS: no new segment appears, but serving the MV would
      // still include the dropped segment's rows (ADVICE r5)
      base.deleteSegmentsById(Seq(1L))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(!plan.contains("mv_shrink"), s"MV served dropped-segment data:\n$plan")
      assert(q.filter(col("k") === 2).collect().head.getDouble(1) == 5.0)
      // refresh resyncs to the shrunken base; rewrite resumes
      Mv.refresh(spark, "mv_shrink")
      assert(q.queryExecution.optimizedPlan.toString.contains("mv_shrink"))
      assert(q.filter(col("k") === 2).collect().head.getDouble(1) == 5.0)
      // truncate is the extreme shrink — MV must stop serving immediately
      base.truncate()
      assert(!q.queryExecution.optimizedPlan.toString.contains("mv_shrink"))
      assert(q.collect().isEmpty)
    } finally Mv.drop(spark, "mv_shrink")
  }

  test("in-place segment shrink (file-grain/DROP PARTITION) also disables the MV") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_mvfg_").toString
    val src = spark.range(0, 400)
      .selectExpr("id AS k", "CAST(id % 2 AS INT) AS b", "CAST(1.0 AS DOUBLE) AS x")
    val base = GraftTable.create(spark, s"$root/base", src.schema, Seq("k"),
      properties = Map("global_sort_partitions" -> "4"))
    base.insert(src)
    // an aggregate MV over the base
    def mvq = base.read.groupBy("b")
      .agg(sum(col("x")).as("sx"), count(lit(1)).as("cnt"))
    Mv.create(spark, "mv_fg", mvq, s"$root/mv_fg")
    try {
      assert(mvq.queryExecution.optimizedPlan.toString.contains("mv_fg"))
      // shrink segment 0 IN PLACE (same id, fewer rows) — the metadata
      // file-retirement path, with no new segment appearing
      val seg0 = base.status.visible.head
      base.layout.commit { st =>
        st.copy(segments = st.segments.map(s =>
          if (s.id == seg0.id)
            graft.engine.format.Partitions.retireFiles(s, Seq(s.files.head), base.schema)
          else s))
      }
      assert(base.status.visible.map(_.id) == Seq(seg0.id), "same id survives")
      val plan = mvq.queryExecution.optimizedPlan.toString
      assert(!plan.contains("mv_fg"),
        s"MV served rows dropped by an in-place shrink:\n$plan")
      // values come from the base, not the stale MV
      assert(mvq.collect().map(_.getLong(2)).sum == base.read.count())
      Mv.refresh(spark, "mv_fg")
      assert(mvq.queryExecution.optimizedPlan.toString.contains("mv_fg"))
    } finally Mv.drop(spark, "mv_fg")
  }

  test("timeseries hierarchy: day/month queries served by an hour-grain MV") {
    val base = lineitem.withColumn("ts",
      to_timestamp(col("l_shipdate")) +
        make_interval(lit(0), lit(0), lit(0), lit(0), col("l_linenumber")))
    def bucket(g: String) = graft.functions.GraftFunctions.timeseries(col("ts"), g)
    val mvq = base.groupBy(bucket("hour").as("b"))
      .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("sum_qty"),
        count(lit(1)).as("cnt"))
    Mv.create(spark, "mv_ts", mvq, s"${tmp()}/mv_ts")
    try {
      for (g <- Seq("day", "month", "year", "week")) {
        val q = base.groupBy(bucket(g).as("b"))
          .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("sum_qty"),
            count(lit(1)).as("cnt"))
        val plan = q.queryExecution.optimizedPlan.toString
        assert(plan.contains("mv_ts"), s"$g not served by hour MV:\n$plan")
        // withoutRewrite must span the ACTION (the rule fires at
        // optimization time), so collect the baseline inside it
        val expected = graft.engine.mv.MvRewriteRule.withoutRewrite {
          q.collect().map(_.toString).sorted
        }
        val got = q.collect().map(_.toString).sorted
        assert(got.sameElements(expected),
          s"$g: ${got.zip(expected).find { case (x, y) => x != y }}")
      }
      // month CANNOT be served by a week-grain MV (boundaries don't nest)
      val mvw = base.groupBy(bucket("week").as("b"))
        .agg(count(lit(1)).as("cnt"))
      Mv.create(spark, "mv_tsw", mvw, s"${tmp()}/mv_tsw")
      try {
        val qm = base.groupBy(bucket("month").as("b")).agg(count(lit(1)).as("cnt"))
        val plan = qm.queryExecution.optimizedPlan.toString
        assert(!plan.contains("mv_tsw"), s"month must NOT roll up from week:\n$plan")
      } finally Mv.drop(spark, "mv_tsw")
    } finally Mv.drop(spark, "mv_ts")
  }

  test("filter subsumption: residual filter on grouping columns rewrites") {
    val base = lineitem
    val mvq = base.groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("sum_qty"),
        count(lit(1)).as("cnt"))
    Mv.create(spark, "mv_fsub", mvq, s"${tmp()}/mv_fsub")
    try {
      def q = base.filter(col("l_returnflag") =!= "A")
        .groupBy("l_linestatus")
        .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("sum_qty"),
          count(lit(1)).as("cnt"))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("mv_fsub"), s"expected MV + residual filter in plan:\n$plan")
      val expected = graft.engine.mv.MvRewriteRule.withoutRewrite { q.collect() }
      checkSame(q, spark.createDataFrame(
        spark.sparkContext.parallelize(expected.toIndexedSeq), q.schema))
      // a filter on a NON-grouping column must not be served by the MV
      val noRw = base.filter(col("l_quantity") > 10)
        .groupBy("l_linestatus").agg(count(lit(1)).as("cnt"))
      assert(!noRw.queryExecution.optimizedPlan.toString.contains("mv_fsub"),
        "filter on a measure column must block the rewrite")
    } finally Mv.drop(spark, "mv_fsub")
  }

  test("avg rollup via auto-expanded sum/count") {
    val base = lineitem
    val mvq = base.groupBy("l_returnflag", "l_linestatus")
      .agg(avg(col("l_discount")).as("avg_d"))
    Mv.create(spark, "mv_avg", mvq, s"${tmp()}/mv_avg")
    try {
      val q = base.groupBy("l_returnflag").agg(avg(col("l_discount")).as("avg_d"))
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("mv_avg"), s"avg rollup should hit MV:\n$plan")
      MvCatalog.get("mv_avg").foreach { d =>
        MvCatalog.drop(d.name)
        val expected = base.groupBy("l_returnflag").agg(avg(col("l_discount")).as("avg_d"))
          .collect().map(r => (r.getString(0), math.round(r.getDouble(1) * 1e9))).toMap
        MvCatalog.register(d)
        val got = q.collect().map(r => (r.getString(0), math.round(r.getDouble(1) * 1e9))).toMap
        assert(got == expected)
      }
    } finally Mv.drop(spark, "mv_avg")
  }

  test("incremental refresh folds only new segments into the MV") {
    val src = lineitem
    val path = tmp()
    val t = GraftTable.createAsSelect(spark, s"$path/fact", src.limit(1000))
    val mvq = t.read.groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("sq"),
        count(lit(1)).as("cnt"),
        min(col("l_extendedprice")).as("mn"),
        max(col("l_extendedprice")).as("mx"))
    Mv.create(spark, "mv_inc", mvq, s"$path/mv_inc")
    try {
      t.insert(src.limit(1500).except(src.limit(1000)))
      assert(Mv.refreshIncremental(spark, "mv_inc"), "should take the incremental path")
      val got = GraftTable.at(spark, s"$path/mv_inc").read
      val expected = t.read.groupBy("l_returnflag")
        .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("sq"),
          count(lit(1)).as("cnt"),
          min(col("l_extendedprice")).as("mn"),
          max(col("l_extendedprice")).as("mx"))
      // compare without the MV rewrite answering `expected` from the MV
      val exp = MvCatalog.get("mv_inc").map { d =>
        MvCatalog.drop(d.name)
        val r = expected.collect(); MvCatalog.register(d); r
      }.get
      assert(got.collect().map(_.toString).sorted.sameElements(exp.map(_.toString).sorted))
      // no new segments → trivially incremental
      assert(Mv.refreshIncremental(spark, "mv_inc"))
      // avg-bearing MV refuses the incremental path (falls back, stays correct)
      val mvAvg = t.read.groupBy("l_returnflag").agg(avg("l_quantity").as("av"))
      Mv.create(spark, "mv_inc_avg", mvAvg, s"$path/mv_inc_avg")
      t.insert(src.limit(100))
      assert(!Mv.refreshIncremental(spark, "mv_inc_avg"))
      Mv.drop(spark, "mv_inc_avg")
    } finally Mv.drop(spark, "mv_inc")
  }

  test("persisted def survives a catalog wipe (JVM-restart analog)") {
    val base = lineitem
    val path = tmp()
    val mvq = base.groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("sq"),
        count(lit(1)).as("cnt"),
        avg(col("l_discount")).as("ad"))
    Mv.create(spark, "mv_persist", mvq, s"$path/mv_persist")
    try {
      def q = base.groupBy("l_returnflag")
        .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("sq"),
          avg(col("l_discount")).as("ad"))
      val expected = MvCatalog.get("mv_persist").map { d =>
        MvCatalog.drop(d.name); val r = q.collect(); MvCatalog.register(d); r
      }.get
      // wipe the in-memory catalog — what a JVM restart does
      MvCatalog.drop("mv_persist")
      assert(!q.queryExecution.optimizedPlan.toString.contains("mv_persist"))
      // re-hydrate from the on-disk def
      assert(Mv.load(spark, s"$path/mv_persist").isDefined, "mvdef.bin should load")
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("mv_persist"), s"reloaded MV should rewrite:\n$plan")
      val got = q.collect().map(r => (r.getString(0),
        r.getDecimal(1).toString, math.round(r.getDouble(2) * 1e9)))
      val exp = expected.map(r => (r.getString(0),
        r.getDecimal(1).toString, math.round(r.getDouble(2) * 1e9)))
      assert(got.sorted.sameElements(exp.sorted))
    } finally Mv.drop(spark, "mv_persist")
  }

  test("persisted def over a carbonish base keeps the refresh watermark") {
    val src = lineitem
    val path = tmp()
    val t = GraftTable.createAsSelect(spark, s"$path/fact", src.limit(1000))
    val mvq = t.read.groupBy("l_returnflag")
      .agg(sum(col("l_quantity").cast("decimal(18,4)")).as("sq"), count(lit(1)).as("cnt"))
    Mv.create(spark, "mv_wm", mvq, s"$path/mv_wm")
    try {
      MvCatalog.drop("mv_wm")
      assert(Mv.load(spark, s"$path/mv_wm").isDefined)
      // the reloaded watermark must cover the already-folded segment, so
      // a no-growth incremental refresh is a no-op success
      assert(Mv.refreshIncremental(spark, "mv_wm"))
      // growth after reload folds only the delta
      t.insert(src.limit(1200).except(src.limit(1000)))
      assert(Mv.refreshIncremental(spark, "mv_wm"))
      val total = GraftTable.at(spark, s"$path/mv_wm").read
        .agg(sum("cnt")).collect().head.getLong(0)
      assert(total == 1200, s"MV should cover 1200 rows, got $total")
    } finally Mv.drop(spark, "mv_wm")
  }

  test("hostile or corrupt mvdef.bin is rejected, not executed") {
    import graft.engine.mv.MvStore
    val path = tmp()
    val mvq = lineitem.groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
    Mv.create(spark, "mv_sec", mvq, s"$path/mv_sec")
    try {
      val defFile = new java.io.File(s"$path/mv_sec/_meta/mvdef.bin")
      assert(defFile.exists())
      // a planted object of a class outside the allowlist must be
      // refused by the deserialization filter (gadget-chain defense)
      val bos = new java.io.ByteArrayOutputStream()
      val oos = new java.io.ObjectOutputStream(bos)
      oos.writeObject(new java.io.File("/etc/passwd")); oos.close()
      java.nio.file.Files.write(defFile.toPath, bos.toByteArray)
      assert(MvStore.load(spark, s"$path/mv_sec").isEmpty, "hostile def must not load")
      // plain garbage bytes: load degrades to None, no throw
      java.nio.file.Files.write(defFile.toPath, Array[Byte](1, 2, 3, 4))
      assert(MvStore.load(spark, s"$path/mv_sec").isEmpty)
      // and the filter still admits a legitimate def end-to-end
      MvStore.save(spark, MvCatalog.get("mv_sec").get)
      assert(MvStore.load(spark, s"$path/mv_sec").isDefined, "legit def must reload")
    } finally Mv.drop(spark, "mv_sec")
  }

  test("non-matching queries are untouched; refresh tracks base growth") {
    val src = lineitem
    val path = tmp()
    val t = GraftTable.createAsSelect(spark, s"$path/fact", src.limit(1000))
    val mvq = t.read.groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
    Mv.create(spark, "mv_fresh", mvq, s"$path/mv_fresh")
    try {
      // different child (filter) → no rewrite
      val other = t.read.filter(col("l_orderkey") > 10)
        .groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
      assert(!other.queryExecution.optimizedPlan.toString.contains("mv_fresh"))
      // stale after base insert; refresh catches up
      t.insert(src.limit(200))
      Mv.refresh(spark, "mv_fresh")
      val q = t.read.groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
      assert(q.queryExecution.optimizedPlan.toString.contains("mv_fresh"))
      assert(q.agg(sum("cnt")).collect().head.getLong(0) == 1200)
    } finally Mv.drop(spark, "mv_fresh")
  }

  test("join MV: fact-dim join aggregate served from the MV, incl. rollup") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val customer = spark.read.parquet(s"$sf/customer.parquet")
    def joined = orders.join(customer, col("o_custkey") === col("c_custkey"))
    val mvq = joined.groupBy("c_mktsegment", "o_orderstatus")
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("sum_price"),
        count(lit(1)).as("cnt"))
    Mv.create(spark, "mv_join", mvq, s"${tmp()}/mv_join")
    try {
      // exact: same join, same groupings
      def qe = joined.groupBy("c_mktsegment", "o_orderstatus")
        .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("sum_price"),
          count(lit(1)).as("cnt"))
      val planE = qe.queryExecution.optimizedPlan.toString
      assert(planE.contains("mv_join"), s"exact join query should hit MV:\n$planE")
      val expE = graft.engine.mv.MvRewriteRule.withoutRewrite { qe.collect() }
      assert(qe.collect().map(_.toString).sorted
        .sameElements(expE.map(_.toString).sorted))
      // rollup: coarser grouping answered by the join MV — the query's
      // join branches prune harder than the MV's (o_orderstatus gone
      // from the orders side), which the branch-wise matcher absorbs
      def qr = joined.groupBy("c_mktsegment")
        .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("sum_price"),
          count(lit(1)).as("cnt"))
      val planR = qr.queryExecution.optimizedPlan.toString
      assert(planR.contains("mv_join"), s"join rollup should hit MV:\n$planR")
      val expR = graft.engine.mv.MvRewriteRule.withoutRewrite { qr.collect() }
      assert(qr.collect().map(_.toString).sorted
        .sameElements(expR.map(_.toString).sorted))
      // a different join condition must never be served by this MV
      val other = orders.join(customer, col("o_custkey") === col("c_nationkey"))
        .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
      assert(!other.queryExecution.optimizedPlan.toString.contains("mv_join"),
        "different join condition must block the rewrite")
    } finally Mv.drop(spark, "mv_join")
  }

  test("join MV over carbonish bases: growth of EITHER base disables serving") {
    val path = tmp()
    val o = GraftTable.createAsSelect(spark, s"$path/ordc",
      spark.read.parquet(s"$sf/orders.parquet").limit(2000))
    val c = GraftTable.createAsSelect(spark, s"$path/custc",
      spark.read.parquet(s"$sf/customer.parquet").limit(500))
    def joined = o.read.join(c.read, col("o_custkey") === col("c_custkey"))
    def q = joined.groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"))
    val mvq = joined.groupBy("c_mktsegment", "o_orderstatus")
      .agg(count(lit(1)).as("cnt"))
    // deferred: pins the multi-base staleness gate itself (non-deferred
    // MVs would be caught up by refresh-on-commit before the assert)
    Mv.create(spark, "mv_join_c", mvq, s"$path/mv_join_c", deferred = true)
    try {
      assert(q.queryExecution.optimizedPlan.toString.contains("mv_join_c"),
        "fresh join MV over carbonish bases should serve")
      // grow the DIM side only — the MV is stale for both
      c.insert(spark.read.parquet(s"$sf/customer.parquet")
        .limit(600).except(spark.read.parquet(s"$sf/customer.parquet").limit(500)))
      assert(!q.queryExecution.optimizedPlan.toString.contains("mv_join_c"),
        "dim-side growth must disable the join MV")
      Mv.refresh(spark, "mv_join_c")
      assert(q.queryExecution.optimizedPlan.toString.contains("mv_join_c"),
        "refresh must re-enable serving")
      // and the served answer equals the base answer
      val exp = graft.engine.mv.MvRewriteRule.withoutRewrite { q.collect() }
      assert(q.collect().map(_.toString).sorted
        .sameElements(exp.map(_.toString).sorted))
    } finally Mv.drop(spark, "mv_join_c")
  }

  test("MV keeps serving through base compaction (rows unchanged)") {
    import spark.implicits._
    val path = tmp()
    val t = GraftTable.create(spark, s"$path/fact",
      Seq((0L, 0.0)).toDF("k", "x").schema)
    (0 until 4).foreach { b =>
      t.insert((0L until 100L).map(i => (i % 7, (b * 100 + i).toDouble)).toDF("k", "x"))
    }
    def q = t.read.groupBy("k").agg(sum(col("x").cast("decimal(18,4)")).as("sx"),
      count(lit(1)).as("c"))
    Mv.create(spark, "mv_compact", q, s"$path/mv_compact")
    try {
      assert(q.queryExecution.optimizedPlan.toString.contains("mv_compact"))
      val before = canonRows(q)
      // compaction rewrites the same rows into one segment: the
      // watermark rebases onto the merged segment and the MV keeps
      // serving — no recompute, no staleness window
      assert(t.compact("MINOR", minorThreshold = 4).isDefined)
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("mv_compact"),
        s"MV must keep serving after compaction:\n$plan")
      assert(canonRows(q) == before)
      // growth after the rebase: refresh-on-commit catches the MV up
      // inside the load, so the ANSWER must include the new row
      t.insert(Seq((1L, 9999.0)).toDF("k", "x"))
      assert(q.agg(sum("c")).collect().head.getLong(0) == 401L,
        "post-compaction insert must be visible through the MV path")
    } finally Mv.drop(spark, "mv_compact")
  }

  private def canonRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("MV defined WITH a filter serves same-filter queries and rollups") {
    val base = lineitem
    val mvq = base.filter(col("l_quantity") > 10)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_extendedprice").cast("decimal(18,4)")).as("sp"),
        count(lit(1)).as("cnt"))
    Mv.create(spark, "mv_fdef", mvq, s"${tmp()}/mv_fdef")
    try {
      // exact: same filter, same groupings
      def qe = base.filter(col("l_quantity") > 10)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(col("l_extendedprice").cast("decimal(18,4)")).as("sp"),
          count(lit(1)).as("cnt"))
      assert(qe.queryExecution.optimizedPlan.toString.contains("mv_fdef"),
        s"same-filter query should hit the filtered MV:\n${qe.queryExecution.optimizedPlan}")
      val expE = graft.engine.mv.MvRewriteRule.withoutRewrite { qe.collect() }
      assert(canonRows(qe) == expE.map(_.toString).sorted.toSeq)
      // rollup over the filtered child
      def qr = base.filter(col("l_quantity") > 10)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"))
      assert(qr.queryExecution.optimizedPlan.toString.contains("mv_fdef"),
        s"rollup over the filtered child should hit the MV:\n${qr.queryExecution.optimizedPlan}")
      val expR = graft.engine.mv.MvRewriteRule.withoutRewrite { qr.collect() }
      assert(canonRows(qr) == expR.map(_.toString).sorted.toSeq)
      // a DIFFERENT filter must never be served by this MV — its rows
      // are simply not all there
      val qd = base.filter(col("l_quantity") > 5)
        .groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
      assert(!qd.queryExecution.optimizedPlan.toString.contains("mv_fdef"),
        "weaker filter must block the filtered-MV rewrite")
      // and the UNFILTERED query must not be served either
      val qu = base.groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
      assert(!qu.queryExecution.optimizedPlan.toString.contains("mv_fdef"),
        "unfiltered query must block the filtered-MV rewrite")
    } finally Mv.drop(spark, "mv_fdef")
  }

  test("SHOW MATERIALIZED VIEWS reports status, refresh mode and trigger") {
    val path = tmp()
    val t = GraftTable.createAsSelect(spark, s"$path/fact", lineitem.limit(500))
    Mv.create(spark, "mv_show_a",
      t.read.groupBy("l_returnflag").agg(count(lit(1)).as("cnt")), s"$path/mva")
    Mv.create(spark, "mv_show_b",
      t.read.groupBy("l_returnflag").agg(avg(col("l_discount")).as("ad")),
      s"$path/mvb", deferred = true)
    try {
      val rows = spark.sql("SHOW MATERIALIZED VIEWS")
        .collect().map(r => r.getString(0) ->
          ((r.getString(1), r.getString(2), r.getString(3)))).toMap
      assert(rows("mv_show_a") == (("ENABLED", "INCREMENTAL", "ON_COMMIT")))
      // avg keeps a composite output → FULL refresh; deferred → manual
      assert(rows("mv_show_b")._2 == "FULL", rows("mv_show_b"))
      assert(rows("mv_show_b")._3 == "ON_MANUAL")
      // growth: the non-deferred MV is caught up by refresh-on-commit,
      // the deferred one reports DISABLED until a manual refresh
      t.insert(lineitem.limit(600).except(lineitem.limit(500)))
      val rows2 = spark.sql(
        s"SHOW MATERIALIZED VIEWS ON TABLE $path/fact")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(rows2.keySet == Set("mv_show_a", "mv_show_b"),
        "ON TABLE must filter to this base's MVs")
      assert(rows2("mv_show_a") == "ENABLED")
      assert(rows2("mv_show_b") == "DISABLED")
    } finally { Mv.drop(spark, "mv_show_a"); Mv.drop(spark, "mv_show_b") }
  }

  test("refresh-on-commit: base load refreshes non-deferred MVs, DEFERRED waits") {
    val path = tmp()
    val t = GraftTable.createAsSelect(spark, s"$path/fact", lineitem.limit(1000))
    Mv.create(spark, "mv_oncommit",
      t.read.groupBy("l_returnflag").agg(count(lit(1)).as("cnt")),
      s"$path/mv_oncommit")
    // the SQL surface carries the deferred flag
    spark.sql(
      s"""CREATE MATERIALIZED VIEW mv_defer WITH DEFERRED REFRESH
          STORED AT '$path/mv_defer_sql' AS
          SELECT l_linestatus, count(*) AS cnt
          FROM parquet.`$sf/lineitem.parquet` GROUP BY l_linestatus""")
    assert(MvCatalog.get("mv_defer").exists(_.deferred),
      "SQL WITH DEFERRED REFRESH must set the deferred flag")
    Mv.drop(spark, "mv_defer")
    Mv.create(spark, "mv_defer",
      t.read.groupBy("l_linestatus").agg(count(lit(1)).as("cnt")),
      s"$path/mv_defer", deferred = true)
    try {
      t.insert(lineitem.limit(1200).except(lineitem.limit(1000)))
      // non-deferred MV caught up inside the load commit: serves and
      // covers the new rows without any manual refresh
      val q = t.read.groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
      assert(q.queryExecution.optimizedPlan.toString.contains("mv_oncommit"),
        "non-deferred MV should serve right after the load")
      assert(q.agg(sum("cnt")).collect().head.getLong(0) == 1200)
      // deferred MV did not refresh: stale, so not served
      def qd = t.read.groupBy("l_linestatus").agg(count(lit(1)).as("cnt"))
      assert(!qd.queryExecution.optimizedPlan.toString.contains("mv_defer"),
        "deferred MV must stay unserved until REFRESH")
      Mv.refreshIncremental(spark, "mv_defer")
      assert(qd.queryExecution.optimizedPlan.toString.contains("mv_defer"),
        "deferred MV serves after an explicit refresh")
      assert(qd.agg(sum("cnt")).collect().head.getLong(0) == 1200)
    } finally { Mv.drop(spark, "mv_oncommit"); Mv.drop(spark, "mv_defer") }
  }

  test("select-only MV: filtered projection served, residual conjuncts re-apply") {
    val base = lineitem
    val mvq = base.filter(col("l_quantity") > 30)
      .select(col("l_orderkey"), col("l_partkey"),
        col("l_extendedprice"), col("l_quantity"))
    Mv.create(spark, "mv_sel", mvq, s"${tmp()}/mv_sel")
    try {
      // same filter, narrower projection + a derived expression
      def q1 = base.filter(col("l_quantity") > 30)
        .select(col("l_orderkey"),
          (col("l_extendedprice") * col("l_quantity")).as("amount"))
      assert(q1.queryExecution.optimizedPlan.toString.contains("mv_sel"),
        s"select MV should serve:\n${q1.queryExecution.optimizedPlan}")
      checkSame(q1, graft.engine.mv.MvRewriteRule.withoutRewrite {
        base.filter(col("l_quantity") > 30)
          .select(col("l_orderkey"),
            (col("l_extendedprice") * col("l_quantity")).as("amount"))
      })
      // stronger filter: extra conjunct re-applies over the MV
      def q2 = base.filter(col("l_quantity") > 30 && col("l_extendedprice") > 20000)
        .select(col("l_orderkey"), col("l_partkey"))
      assert(q2.queryExecution.optimizedPlan.toString.contains("mv_sel"),
        s"residual conjunct should still serve:\n${q2.queryExecution.optimizedPlan}")
      checkSame(q2, graft.engine.mv.MvRewriteRule.withoutRewrite {
        base.filter(col("l_quantity") > 30 && col("l_extendedprice") > 20000)
          .select(col("l_orderkey"), col("l_partkey"))
      })
      // WEAKER filter (MV rows ⊉ query rows): must not serve
      val q3 = base.select(col("l_orderkey"), col("l_partkey"))
      assert(!q3.queryExecution.optimizedPlan.toString.contains("mv_sel"),
        "unfiltered query must not be served by a filtered MV")
      // residual on a column the MV does not store: must not serve
      val q4 = base.filter(col("l_quantity") > 30 && col("l_discount") > 0.05)
        .select(col("l_orderkey"))
      assert(!q4.queryExecution.optimizedPlan.toString.contains("mv_sel"),
        "underivable residual must block the rewrite")
      // a projection of a column outside the MV: must not serve
      val q5 = base.filter(col("l_quantity") > 30)
        .select(col("l_orderkey"), col("l_shipdate"))
      assert(!q5.queryExecution.optimizedPlan.toString.contains("mv_sel"),
        "projection outside the MV columns must block the rewrite")
    } finally Mv.drop(spark, "mv_sel")
  }

  test("select-only MV over carbonish base: stale gate + append-delta refresh") {
    val path = tmp()
    val t = GraftTable.createAsSelect(spark, s"$path/base",
      lineitem.limit(1000))
    val mvq = t.read.filter(col("l_quantity") > 30)
      .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
    // deferred: the on-commit hook must not mask the staleness gate here
    Mv.create(spark, "mv_selc", mvq, s"$path/mv_selc", deferred = true)
    try {
      assert(Mv.incrementalCapable(graft.engine.mv.MvCatalog.get("mv_selc").get),
        "select-only MV over one carbonish base must be incremental-capable")
      def q = t.read.filter(col("l_quantity") > 30)
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
      assert(q.queryExecution.optimizedPlan.toString.contains("mv_selc"))
      val before = q.count()
      // base grows → serving must stop
      t.insert(lineitem.limit(1200).except(lineitem.limit(1000)))
      assert(!q.queryExecution.optimizedPlan.toString.contains("mv_selc"),
        "grown base must disable the select MV")
      // incremental refresh takes the APPEND path (returns true) and
      // only adds a segment to the MV (no overwrite of segment 0)
      val mvT = GraftTable.at(spark, s"$path/mv_selc")
      val segsBefore = mvT.status.visible.map(_.id).toSet
      assert(Mv.refreshIncremental(spark, "mv_selc"),
        "select MV refresh should take the incremental path")
      val segsAfter = mvT.status.visible.map(_.id).toSet
      assert(segsBefore.subsetOf(segsAfter) && segsAfter.size > segsBefore.size,
        s"append-delta refresh should ADD segments: $segsBefore -> $segsAfter")
      assert(q.queryExecution.optimizedPlan.toString.contains("mv_selc"),
        "refreshed select MV serves again")
      val expected = graft.engine.mv.MvRewriteRule.withoutRewrite { q.count() }
      assert(q.count() == expected && q.count() > before)
    } finally Mv.drop(spark, "mv_selc")
  }
}
