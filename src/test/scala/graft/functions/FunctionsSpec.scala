package graft.functions

import graft.engine.{GraftTable, TestSpark}
import graft.geo.Geo
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class FunctionsSpec extends AnyFunSuite {
  import TestSpark._

  test("text_match: AND terms, OR clauses, SQL registration agrees") {
    import spark.implicits._
    val df = Seq("Big Data engine", "carbon rocks", "plain text", null)
      .toDF("t")
    val got = df.filter(GraftFunctions.textMatch(col("t"), "big data OR carbon"))
      .collect().map(_.getString(0)).toSet
    assert(got == Set("Big Data engine", "carbon rocks"))
    graft.engine.GraftSession.install(spark)
    df.createOrReplaceTempView("tm_t")
    val sqlGot = spark.sql(
      "SELECT t FROM tm_t WHERE text_match_contains(t, 'big data OR carbon')")
      .collect().map(_.getString(0)).toSet
    assert(sqlGot == got)
  }

  test("approx_top_k SQL aggregate matches the Column form") {
    graft.engine.GraftSession.install(spark)
    import spark.implicits._
    Seq("a", "b", "a", "c", "a", "b").toDF("token")
      .createOrReplaceTempView("atk_t")
    val rows = spark.sql(
      "SELECT explode(approx_top_k(token, 8)) AS e FROM atk_t")
      .select("e.token", "e.count")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(rows == Seq("a" -> 3L, "b" -> 2L, "c" -> 1L))
    // k must be a literal
    intercept[Exception] {
      spark.sql("SELECT approx_top_k(token, token) FROM atk_t").collect()
    }
  }

  test("duplicateNgramRatio: repeats score high, unique text scores 0, short text safe") {
    import spark.implicits._
    val got = Seq("a b c a b c d e", "x y", "w w w w w", "p q r s")
      .toDF("t").select(GraftFunctions.duplicateNgramRatio(col("t"), 3))
      .collect().map(_.getDouble(0)).toSeq
    assert(got(0) == 1.0 - 5.0 / 6.0) // 'a b c' repeats once among 6 grams
    assert(got(1) == 0.0)             // too short for a trigram
    assert(got(2) == 1.0 - 1.0 / 3.0) // 'w w w' three times
    assert(got(3) == 0.0)             // all grams unique
  }

  test("redactPii masks emails and phone shapes, leaves prose alone") {
    import spark.implicits._
    val got = Seq(
      "mail me at jo.doe+x@corp-mail.co or 555-0199 today",
      "no pii here, just 12-34 and a@b (not an email)")
      .toDF("t").select(GraftFunctions.redactPii(col("t")))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq(
      "mail me at <EMAIL> or <PHONE> today",
      "no pii here, just 12-34 and a@b (not an email)"))
  }

  test("tupleId addresses rows stably on a carbonish table") {
    val src = spark.read.parquet(s"$sf/region.parquet")
    val path = Files.createTempDirectory("graft_fn_").toString + "/t"
    val t = GraftTable.createAsSelect(spark, path, src)
    val ids = t.readWithTupleId("tid").select("tid").collect().map(_.getString(0))
    assert(ids.length == 5 && ids.distinct.length == 5)
    assert(ids.forall(_.contains("/segments/0/")))
  }

  test("tupleId read keeps segment min/max pruning") {
    val path = Files.createTempDirectory("graft_fn_").toString + "/t"
    val src = spark.range(0, 200).selectExpr("id AS k", "CAST(id AS STRING) AS v")
    val t = GraftTable.create(spark, path, src.schema, Seq("k"))
    t.insert(src.filter(col("k") < 100))
    t.insert(src.filter(col("k") >= 100))
    val q = t.readWithTupleId("tid").filter(col("k") >= 150)
    assert(q.count() == 50)
    // the v1 scan goes through SegmentFileIndex → only segment 1's files
    val scanned = q.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.listFiles(Nil,
          Seq(org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(
            f.output.find(_.name == "k").get,
            org.apache.spark.sql.catalyst.expressions.Literal(150L))))
          .flatMap(_.files.map(_.getPath.toString))
    }.flatten
    assert(scanned.nonEmpty && scanned.forall(_.contains("/segments/1/")),
      s"expected only segment 1 files:\n${scanned.mkString("\n")}")
  }

  test("timeseries granularities bucket like date_trunc") {
    import spark.implicits._
    val df = Seq("2024-03-15 10:23:45").toDF("s")
      .select(col("s").cast("timestamp").as("ts"))
    val r = df.select(
      GraftFunctions.timeseries(col("ts"), "HOUR").cast("string"),
      GraftFunctions.timeseries(col("ts"), "month").cast("string"),
      GraftFunctions.timeseries(col("ts"), "year").cast("string")).collect().head
    assert(r.getString(0) == "2024-03-15 10:00:00")
    assert(r.getString(1) == "2024-03-01 00:00:00")
    assert(r.getString(2) == "2024-01-01 00:00:00")
    intercept[IllegalArgumentException](
      GraftFunctions.timeseries(col("ts"), "fortnight"))
  }

  test("timeseries SQL registration resolves to the same date_trunc expression") {
    import spark.implicits._
    graft.engine.GraftSession.install(spark)
    Seq("2024-03-15 10:23:45", "2024-03-15 11:59:59").toDF("s")
      .select(col("s").cast("timestamp").as("ts"))
      .createOrReplaceTempView("ts_reg_v")
    val viaSql = spark.sql(
      "SELECT CAST(timeseries(ts, 'HOUR') AS STRING) b FROM ts_reg_v")
      .collect().map(_.getString(0)).sorted
    assert(viaSql.sameElements(Array("2024-03-15 10:00:00", "2024-03-15 11:00:00")))
    // resolves to TruncTimestamp, not an opaque UDF — so MV matching
    // sees SQL and DataFrame timeseries buckets as the same expression
    val plan = spark.sql("SELECT timeseries(ts, 'hour') FROM ts_reg_v")
      .queryExecution.analyzed.toString
    assert(plan.contains("date_trunc") && !plan.contains("UDF"), plan)
    intercept[Exception](
      spark.sql("SELECT timeseries(ts, 'fortnight') FROM ts_reg_v").collect())
  }

  test("geo: geoId roundtrip, upper layer, polygon, bbox ranges") {
    val pts = Seq((37.77, -122.42), (0.0, 0.0), (-33.86, 151.21), (89.99, 179.99))
    pts.foreach { case (lat, lng) =>
      val id = Geo.latLngToGeoIdScalar(lat, lng)
      val (la, ln) = Geo.geoIdToLatLngScalar(id)
      assert(math.abs(la - lat) < 0.001 && math.abs(ln - lng) < 0.001,
        s"roundtrip $lat,$lng -> $la,$ln")
      assert(Geo.toUpperLayerScalar(id, 2) == (id >> 4))
    }
    // unit square polygon
    val sq = Seq((0.0, 0.0), (0.0, 10.0), (10.0, 10.0), (10.0, 0.0))
    assert(Geo.pointInPolygon(5, 5, sq))
    assert(!Geo.pointInPolygon(15, 5, sq))
    assert(!Geo.pointInPolygon(-1, 5, sq))
    // every point in the box has its geoId inside some bbox range; the
    // covering is a bounded-size superset, so only far-outside points
    // are guaranteed excluded
    val ranges = Geo.bboxRanges(10, 20, 30, 40)
    assert(ranges.size <= 64, s"range budget exceeded: ${ranges.size}")
    val inside = Seq((10.5, 30.5), (19.9, 39.9), (15.0, 35.0))
      .map { case (a, b) => Geo.latLngToGeoIdScalar(a, b) }
    assert(inside.forall(id => ranges.exists(r => id >= r._1 && id <= r._2)))
    val farOutside = Geo.latLngToGeoIdScalar(60.0, 120.0)
    assert(!ranges.exists(r => farOutside >= r._1 && farOutside <= r._2))
  }

  test("geo: native geoId column equals the scalar engine bit-for-bit") {
    import spark.implicits._
    val pts = (0 until 3000).map { i =>
      ((i % 180) - 90 + 0.125, ((i * 11) % 360) - 180 + 0.125)
    }.toDF("lat", "lng")
    val both = pts.select(
      Geo.latLngToGeoId(col("lat"), col("lng")).as("native"),
      udf(Geo.latLngToGeoIdScalar _).apply(col("lat"), col("lng")).as("scalar"))
    assert(both.filter(col("native") =!= col("scalar")).count() == 0)
  }

  test("geo: range-list filter + polygon join agree with direct predicate") {
    import spark.implicits._
    // deterministic synthetic points
    val pts = (0 until 2000).map { i =>
      (i.toLong, (i % 180) - 90 + 0.25, ((i * 7) % 360) - 180 + 0.25)
    }.toDF("id", "lat", "lng")
    val withGeo = pts.withColumn("geo_id", Geo.latLngToGeoId(col("lat"), col("lng")))
    val direct = pts.filter(col("lat").between(10, 20) && col("lng").between(30, 40))
      .select("id").collect().map(_.getLong(0)).toSet
    val ranged = withGeo
      .filter(Geo.geoIdInRanges(col("geo_id"), Geo.bboxRanges(10, 20, 30, 40)))
      .filter(col("lat").between(10, 20) && col("lng").between(30, 40)) // exact residual
      .select("id").collect().map(_.getLong(0)).toSet
    assert(ranged == direct)
    val sq = Seq((10.0, 30.0), (10.0, 40.0), (20.0, 40.0), (20.0, 30.0))
    val joined = Geo.polygonJoin(pts, "lat", "lng", Seq("box" -> sq))
    val jIds = joined.select("id").collect().map(_.getLong(0)).toSet
    // ray casting excludes some boundary points; interior must agree
    val interior = pts.filter(col("lat") > 10 && col("lat") < 20 &&
      col("lng") > 30 && col("lng") < 40).select("id").collect().map(_.getLong(0)).toSet
    assert(interior.subsetOf(jIds) && jIds.subsetOf(direct))
  }

  test("CountOccurrences equals the replace counting trick on random strings") {
    import spark.implicits._
    import org.apache.spark.sql.graft.{CountOccurrences, Shims}
    val rnd = new scala.util.Random(11)
    val alphabet = "ab \u00e9\u4e2d"
    def randStr(n: Int): String =
      (0 until n).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
    val rows = (0 until 300).map(_ => randStr(rnd.nextInt(40))) ++
      Seq("", "aaaa", "aaa", " the the the ", "\u4e2d\u4e2d\u4e2d")
    val words = Seq("a", "aa", "ab", " the ", "\u4e2d", "\u00e9b")
    val df = rows.toDF("s")
    for (w <- words) {
      def nat = Shims.column(CountOccurrences(
        Shims.expression(col("s")), Shims.expression(lit(w))))
      val ref = ((length(col("s")) -
        length(replace(col("s"), lit(w), lit("")))) / lit(w.length)).cast("long")
      val bad = df.select(col("s"), nat.as("n"), ref.as("r"))
        .filter(col("n") =!= col("r")).collect()
      assert(bad.isEmpty,
        s"mismatch for word '$w': ${bad.take(3).mkString(", ")}")
    }
  }
}
