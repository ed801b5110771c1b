package graft.functions

import graft.engine.TestSpark
import graft.geo.Geo
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-shape asserts for the geo pack: the polygon join must be a
  * broadcast equi-join on covering cells (not a nested loop over every
  * (row, polygon) pair), and a range-list filter on a stored geoId must
  * skip segments via min/max stats. */
class GeoSpec extends AnyFunSuite {
  import TestSpark._

  private val tri = Seq((12.3, 32.1), (18.7, 35.6), (14.2, 44.9))
  private val quad = Seq((-5.2, -60.3), (2.8, -55.1), (6.4, -40.7), (-3.9, -38.2))

  private def pts = {
    import spark.implicits._
    spark.range(0, 5000).select(
      col("id"),
      ((col("id") % 120) - 60 + 0.5).as("lat"),
      (((col("id") * 7) % 360) - 180 + 0.5).as("lng"))
  }

  test("polygonJoin is a broadcast hash equi-join, not a nested loop") {
    val joined = Geo.polygonJoin(pts, "lat", "lng", Seq("tri" -> tri, "quad" -> quad))
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested loop in plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"expected broadcast equi-join:\n$plan")
  }

  test("polygonJoin equals brute-force membership") {
    val fast = Geo.polygonJoin(pts, "lat", "lng", Seq("tri" -> tri, "quad" -> quad))
      .select("id", "poly_name").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val brute = (for {
      (n, poly) <- Seq("tri" -> tri, "quad" -> quad)
      r <- pts.collect()
      if Geo.pointInPolygon(r.getDouble(1), r.getDouble(2), poly)
    } yield (r.getLong(0), n)).toSet
    assert(fast == brute, s"missing=${brute -- fast} extra=${fast -- brute}")
  }

  test("inPolygonList OR/AND and inPolylineList agree with scalar engines") {
    val p = pts.limit(500)
    val got = p.filter(Geo.inPolygonList(col("lat"), col("lng"), Seq(tri, quad), "OR"))
      .count()
    val want = p.collect().count(r =>
      Geo.pointInPolygon(r.getDouble(1), r.getDouble(2), tri) ||
        Geo.pointInPolygon(r.getDouble(1), r.getDouble(2), quad))
    assert(got == want)
    val line = Seq((20.5, -100.3), (25.7, -90.2))
    val gotL = p.filter(Geo.inPolylineList(col("lat"), col("lng"), Seq(line), 3.0)).count()
    val wantL = p.collect().count(r => Geo.pointToSegment(
      r.getDouble(1), r.getDouble(2), 20.5, -100.3, 25.7, -90.2) <= 3.0)
    assert(gotL == wantL)
  }

  test("SQL utility UDFs: to_range_list / geo_id_to_grid_xy / in_polygon_range_list") {
    graft.engine.GraftSession.install(spark)
    import spark.implicits._
    // grid xy round-trips the morton id
    val id = Geo.latLngToGeoIdScalar(15.0, 35.0)
    val xy = spark.sql(s"SELECT geo_id_to_grid_xy(${id}L) AS xy")
      .collect().head.getSeq[Long](0)
    assert(xy.length == 2)
    val rt = spark.sql(
      s"SELECT lat_lng_to_geo_id(geo_id_to_lat(${id}L), geo_id_to_lng(${id}L)) AS r")
      .collect().head.getLong(0)
    assert(rt == id)
    // to_range_list over the reference's 'lng lat, …' polygon string —
    // a covering superset of the polygon's points
    val poly = "30.0 10.0, 40.0 10.0, 40.0 20.0, 30.0 20.0, 30.0 10.0"
    val ranges = spark.sql(s"SELECT to_range_list('$poly') AS r")
      .collect().head.getSeq[scala.collection.Seq[Long]](0)
    assert(ranges.nonEmpty)
    assert(ranges.exists(r => id >= r(0) && id <= r(1)),
      "a point inside the polygon bbox must fall in some covering range")
    // in_polygon_range_list via the string RANGELIST form, OR and AND
    val rlStr = spark.sql(s"SELECT to_range_list_as_string('$poly') AS s")
      .collect().head.getString(0)
    assert(rlStr.startsWith("RANGELIST ("))
    val dfp = Seq((id, 15.0, 35.0), (Geo.latLngToGeoIdScalar(-50.0, -120.0), -50.0, -120.0))
      .toDF("geo_id", "lat", "lng")
    dfp.createOrReplaceTempView("geo_udf_pts")
    val hits = spark.sql(
      s"""SELECT lat FROM geo_udf_pts
          WHERE in_polygon_range_list(geo_id, '$rlStr', 'OR')""")
      .collect().map(_.getDouble(0)).toSet
    assert(hits == Set(15.0))
    // exact residual via the SQL in_polygon over the same string
    val exact = spark.sql(
      s"SELECT lat FROM geo_udf_pts WHERE in_polygon(lat, lng, '$poly')")
      .collect().map(_.getDouble(0)).toSet
    assert(exact == Set(15.0))
    // polygon LIST with POLYGON ((…)) wrappers, AND of two overlapping
    val polyList = "POLYGON ((30.0 10.0, 40.0 10.0, 40.0 20.0, 30.0 20.0, 30.0 10.0)), " +
      "POLYGON ((32.0 12.0, 38.0 12.0, 38.0 18.0, 32.0 18.0, 32.0 12.0))"
    val inBoth = spark.sql(
      s"SELECT lat FROM geo_udf_pts WHERE in_polygon_list(lat, lng, '$polyList', 'AND')")
      .collect().map(_.getDouble(0)).toSet
    assert(inBoth == Set(15.0))
  }

  test("stored geoId range-list filter skips segments") {
    val t = graft.queries.GeoQueries.geopts(spark, sf)
    assert(t.status.visible.size == 3)
    val ranges = Geo.bboxRanges(10, 20, 30, 40, maxRanges = 64)
    // translate the BETWEEN disjunction the query pushes into source
    // filters and check the segment pruner drops at least one segment
    import org.apache.spark.sql.sources.{And => SAnd, GreaterThanOrEqual, LessThanOrEqual, Or => SOr}
    val filters = ranges.map { case (lo, hi) =>
      SAnd(GreaterThanOrEqual("geo_id", lo), LessThanOrEqual("geo_id", hi))
    }.reduce[org.apache.spark.sql.sources.Filter](SOr(_, _))
    val kept = graft.engine.format.SegmentPruner.prune(t.status.visible, Seq(filters))
    assert(kept.size < 3, s"kept ${kept.map(_.id)} of 3 segments")
    // end-to-end equality with the raw recompute
    val viaTable = t.read.filter(Geo.geoIdInRanges(col("geo_id"), ranges))
      .filter(col("lat").between(10, 20) && col("lng").between(30, 40)).count()
    val viaRaw = graft.queries.Q.t(spark, sf, "events").select(
      ((col("user_id") % 120) - 60 + 0.5).as("lat"),
      (((col("event_id") * 7) % 360) - 180 + 0.5).as("lng"))
      .filter(col("lat").between(10, 20) && col("lng").between(30, 40)).count()
    assert(viaTable == viaRaw)
  }

  test("SPATIAL_INDEX tblproperties: generated column, derived loads, implicit IN_POLYGON") {
    import graft.engine.GraftTable
    import graft.geo.SpatialIndex
    import org.apache.spark.sql.types._
    val p = s"${graft.queries.Fixtures.root}/spec/spatial_prop"
    GraftTable.drop(spark, p)
    val userSchema = StructType(Seq(
      StructField("id", LongType), StructField("lng", DoubleType),
      StructField("lat", DoubleType)))
    val props = Map(
      "SPATIAL_INDEX" -> "mygeohash",
      "SPATIAL_INDEX.mygeohash.type" -> "geohash",
      "SPATIAL_INDEX.mygeohash.sourcecolumns" -> "lng, lat")
    val t = GraftTable.create(spark, p, userSchema, properties = props)
    // CREATE appended the generated column and defaulted the sort to it
    assert(t.schema.fieldNames.toSeq == Seq("id", "lng", "lat", "mygeohash"))
    assert(t.meta.sortColumns == Seq("mygeohash"))
    // loads never carry the column — it's derived
    val src = pts.select(col("id"), col("lng"), col("lat"))
    t.insert(src)
    val got = t.read
    assert(got.columns.contains("mygeohash"))
    val mismatched = got.filter(
      col("mygeohash") =!= Geo.latLngToGeoId(col("lat"), col("lng"))).count()
    assert(mismatched == 0, "stored geoId must equal the derived morton id")
    // implicit IN_POLYGON: equals brute-force ray-cast membership
    val poly = "32.1 12.3, 35.6 18.7, 44.9 14.2" // lng lat, per the reference
    val viaIndex = t.inPolygon(poly).select(col("id")).collect().map(_.getLong(0)).toSet
    val brute = pts.filter(Geo.inPolygon(col("lat"), col("lng"), tri))
      .select(col("id")).collect().map(_.getLong(0)).toSet
    assert(viaIndex == brute)
    // the rewritten filter is range BETWEENs on the stored id: pushable
    val sp = SpatialIndex.of(t.meta.properties).get
    assert(sp == SpatialIndex.Spec("mygeohash", "lng", "lat"))
    GraftTable.drop(spark, p)
  }
}
