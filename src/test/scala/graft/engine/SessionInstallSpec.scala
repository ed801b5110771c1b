package graft.engine

import graft.engine.catalog.GraftDmlStrategy
import graft.engine.index.{Si, SiRewriteRule, TextIndex, TextMatchRule}
import graft.engine.mv.{Mv, MvRewriteRule}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Graft's parts reach a session in one of two ways, both drawn from
  * [[GraftSession]]'s one parts list: [[GraftExtensions]] injects them
  * when the session is built, and [[GraftSession.install]] puts them on
  * any other session at its first table open. Either way the MV, SI and
  * text_match rules, the DML strategy and the SQL functions arrive
  * together, so what a query gets never depends on what its session ran
  * before. */
class SessionInstallSpec extends AnyFunSuite {
  import TestSpark._

  private def counts(s: SparkSession): Seq[Int] = {
    val rules = s.experimental.extraOptimizations
    Seq(classOf[MvRewriteRule], classOf[SiRewriteRule], classOf[TextMatchRule])
      .map(c => rules.count(c.isInstance)) :+
      s.sessionState.planner.strategies.count(_.isInstanceOf[GraftDmlStrategy])
  }

  private def catalogOn(s: SparkSession, name: String, warehouse: String): Unit = {
    s.conf.set(s"spark.sql.catalog.$name", "graft.engine.catalog.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$name.warehouse", warehouse)
  }

  private def scannedFiles(q: org.apache.spark.sql.DataFrame): Seq[String] =
    q.queryExecution.executedPlan.collect { case b: BatchScanExec => b.scan }
      .flatMap(s => TestSpark.parquetScanOf(s).fileIndex.inputFiles.toSeq)

  test("a fresh session that only opens tables gets every graft feature") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_sess_").toString
    // tables, indexes and the MV are built on the shared session
    val src = spark.read.parquet(s"$sf/orders.parquet")
    val o = GraftTable.create(spark, s"$root/o", src.schema, Seq("o_orderkey"))
    Seq("O", "F", "P").foreach(st => o.insert(src.filter(col("o_orderstatus") === st)))
    Si.create(o, "o_orderstatus", s"$root/o_si")
    val docs = GraftTable.create(spark, s"$root/docs",
      Seq((0L, "x")).toDF("id", "body").schema)
    Seq(Seq((0L, "alpha shared"), (1L, "alpha bravo")),
      Seq((10L, "charlie shared"), (11L, "charlie delta")))
      .foreach(rows => docs.insert(rows.toDF("id", "body")))
    TextIndex.create(docs, "body", s"$root/docs_ti")
    val d = GraftTable.createAsSelect(spark, s"$root/wh/ns/d",
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    Mv.create(spark, "mv_sess",
      o.read.groupBy("o_orderstatus").agg(count(lit(1)).as("cnt")), s"$root/mv_sess")
    try {
      // no enable or install call anywhere below: opening is enough
      val fresh = plainSession()
      val o2 = GraftTable.at(fresh, o.path)
      val docs2 = GraftTable.at(fresh, docs.path)

      val agg = o2.read.groupBy("o_orderstatus").agg(count(lit(1)).as("cnt"))
      val plan = agg.queryExecution.optimizedPlan.toString
      assert(plan.contains("mv_sess"), s"MV rewrite did not serve the aggregate:\n$plan")
      assert(agg.collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
        src.groupBy("o_orderstatus").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap)

      val eq = o2.read.filter(col("o_orderstatus") === "P")
      val files = scannedFiles(eq)
      assert(files.nonEmpty && files.forall(_.contains("/segments/2/")),
        s"SI rewrite did not pin segment 2, scanned: $files")
      assert(eq.count() == src.filter(col("o_orderstatus") === "P").count())

      docs2.read.createOrReplaceTempView("sess_docs")
      assert(fresh.sql("SELECT id FROM sess_docs WHERE text_match('body:charlie')")
        .collect().map(_.getLong(0)).toSet == Set(10L, 11L))

      catalogOn(fresh, "gsess", s"$root/wh")
      fresh.sql("UPDATE gsess.ns.d SET v = 'z' WHERE k = 1")
      fresh.createDataFrame(Seq((2L, "B"), (3L, "C"))).toDF("k", "v")
        .createOrReplaceTempView("sess_src")
      fresh.sql("""MERGE INTO gsess.ns.d t USING sess_src s ON t.k = s.k
                   WHEN MATCHED THEN UPDATE SET v = s.v
                   WHEN NOT MATCHED THEN INSERT *""")
      assert(d.read.as[(Long, String)].collect().toSet ==
        Set((1L, "z"), (2L, "B"), (3L, "C")))
    } finally Mv.drop(spark, "mv_sess")
  }

  test("a catalog table named in SQL attaches graft on its own") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_sess_cat_").toString
    val d = GraftTable.createAsSelect(spark, s"$root/wh/ns/d",
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val fresh = plainSession()
    catalogOn(fresh, "gsess2", s"$root/wh")
    fresh.sql("UPDATE gsess2.ns.d SET v = 'z' WHERE k = 2")
    assert(d.read.as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "z")))
  }

  test("VERSION AS OF through the catalog is not rewritten to current index reads") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_sess_tt_").toString
    val src = spark.read.parquet(s"$sf/orders.parquet")
    val o = GraftTable.create(spark, s"$root/wh/ns/o", src.schema, Seq("o_orderkey"),
      properties = Map("timetravel" -> "true"))
    Seq("O", "F").foreach(st => o.insert(src.filter(col("o_orderstatus") === st)))
    Si.create(o, "o_orderstatus", s"$root/o_si")
    val docs = GraftTable.create(spark, s"$root/wh/ns/docs",
      Seq((0L, "x")).toDF("id", "body").schema, properties = Map("timetravel" -> "true"))
    docs.insert(Seq((0L, "alpha"), (1L, "bravo")).toDF("id", "body"))
    TextIndex.create(docs, "body", s"$root/docs_ti")
    val v = o.status.version
    val vDocs = docs.status.version
    // after v: more 'O' rows and the first 'P' rows; a later 'alpha' doc
    o.insert(src.filter(col("o_orderstatus") === "O"))
    o.insert(src.filter(col("o_orderstatus") === "P"))
    docs.insert(Seq((2L, "alpha")).toDF("id", "body"))
    Si.create(o, "o_orderstatus", s"$root/o_si")
    TextIndex.create(docs, "body", s"$root/docs_ti")

    val fresh = plainSession()
    catalogOn(fresh, "gsess3", s"$root/wh")
    Seq("O", "P").foreach { st =>
      val asOf = fresh.sql(
        s"SELECT o_orderkey FROM gsess3.ns.o VERSION AS OF $v WHERE o_orderstatus = '$st'")
      val expected = o.readAsOf(v).filter(col("o_orderstatus") === st)
        .select("o_orderkey").as[Long].collect().sorted.toSeq
      assert(asOf.as[Long].collect().sorted.toSeq == expected, s"status $st at version $v")
    }
    assert(fresh.sql(s"SELECT count(*) FROM gsess3.ns.o WHERE o_orderstatus = 'P'")
      .head.getLong(0) > 0, "the live read must see the rows added after v")
    // the text index is current too: a historical text_match fails loudly
    // instead of answering from the current snapshot
    val e = intercept[Exception] {
      fresh.sql(s"SELECT id FROM gsess3.ns.docs VERSION AS OF $vDocs " +
        "WHERE text_match('body:alpha')").collect()
    }
    assert(e.toString.contains("text_match") ||
      Option(e.getCause).exists(_.toString.contains("text_match")), e.toString)
  }

  test("opens racing on 8 threads install each rule and the strategy exactly once") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_sess_race_").toString
    val path = GraftTable.createAsSelect(spark, s"$root/t", Seq(1L).toDF("k")).path
    val fresh = plainSession()
    val start = new java.util.concurrent.CyclicBarrier(8)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 8).map(_ => new Thread(() =>
      try { start.await(); GraftTable.at(fresh, path) }
      catch { case e: Throwable => errors.add(e) }))
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, errors.asScala.mkString("; "))
    assert(counts(fresh) == Seq(1, 1, 1, 1))
    GraftTable.at(fresh, path)
    assert(counts(fresh) == Seq(1, 1, 1, 1), "a second open must add nothing")
    Seq("text_match", "text_match_with_limit", "text_match_contains",
      "timeseries", "approx_top_k", "lat_lng_to_geo_id", "in_polygon")
      .foreach(f => assert(fresh.catalog.functionExists(f), s"$f not registered"))
  }

  test("an extension session resolves graft's functions and TABLE_CHANGES before any table opens") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sess_ext_").toString + "/t"
    val t = GraftTable.create(spark, dir, Seq(0L).toDF("k").schema,
      properties = Map("timetravel" -> "true"))
    t.insert(Seq(1L, 2L, 3L).toDF("k"))
    val v = t.status.version
    // the shared session carries the extension, and so does each of its
    // new sessions: nothing below opens a table first
    val fresh = spark.newSession()
    assert(fresh.sql("SELECT k FROM VALUES (1L, 'a b') AS v(k, body) " +
      "WHERE text_match('body:a')").queryExecution.analyzed.resolved)
    // graft's Misra-Gries aggregate, not a same-named Spark built-in
    val topK = fresh.sql("SELECT approx_top_k(w, 2) FROM VALUES ('a'), ('a'), ('b') AS v(w)")
    assert(topK.queryExecution.analyzed.toString.contains("approx_top_k_mg"),
      topK.queryExecution.analyzed.toString)
    assert(fresh.sql(s"SELECT k FROM TABLE_CHANGES('$dir', $v)")
      .collect().map(_.getLong(0)).toSet == Set(1L, 2L, 3L))
  }

  test("after table opens on an extension session each rule and the strategy are there once") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_sess_ext2_").toString
    val path = GraftTable.createAsSelect(spark, s"$root/t", Seq(1L).toDF("k")).path
    val fresh = GraftExtensions.session()
    assert(fresh.sessionState.sqlParser.isInstanceOf[GraftSqlParser])
    assert(SparkSession.active eq spark, "building the session must not change the active one")
    assert(GraftTable.at(fresh, path).read.count() == 1L)
    GraftTable.at(fresh, path)
    fresh.sql(s"SHOW SEGMENTS FOR TABLE $path").collect()
    assert(counts(fresh) == Seq(1, 1, 1, 1))
    assert(!fresh.experimental.extraStrategies.exists(_.isInstanceOf[GraftDmlStrategy]),
      "install must not add a second strategy to an extension session")
  }

  test("only the installer touches a session's rules, strategies and functions") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main),
      s"expected the sources under ${main.toAbsolutePath}")
    // the one parts list and install
    val installer = main.resolve("graft/engine/GraftSession.scala")
    // the injection of those parts
    val extension = main.resolve("graft/engine/GraftExtensions.scala")
    val touches = Seq(
      """\bextraOptimizations\s*(\+\+|:\+)?=(?!=)""".r,
      """\bextraStrategies\s*(\+\+|:\+)?=(?!=)""".r,
      """\budf\.register\s*\(""".r,
      """\bShims\.register\w*\s*\(""".r,
      """\bnew\s+(MvRewriteRule|SiRewriteRule|TextMatchRule|GraftDmlStrategy)\b""".r)
    val injects = """\.inject\w+\s*[({]""".r
    val installCall = """GraftSession\.install\s*\(""".r
    val files = Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def code(p: java.nio.file.Path): Seq[(String, Int)] =
      Files.readAllLines(p).asScala.zipWithIndex.filterNot { case (l, _) =>
        val t = l.trim
        t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
      }.toSeq
    val offenders = for {
      p <- files if p != installer
      (l, i) <- code(p)
      if touches.exists(_.findFirstIn(l).isDefined) ||
        (p != extension && injects.findFirstIn(l).isDefined)
    } yield s"$p:${i + 1}: ${l.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
    assert(Files.exists(installer) && Files.exists(extension))
    assert(code(extension).exists { case (l, _) => injects.findFirstIn(l).isDefined })
    val calls = for {
      p <- files if p != installer
      (l, i) <- code(p) if installCall.findFirstIn(l).isDefined
    } yield s"$p:${i + 1}"
    assert(calls.nonEmpty && calls.size <= 2, calls.mkString("\n"))
  }
}
