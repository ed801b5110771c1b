package graft.geo

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** Geospatial pack (reference geo/ module, SURVEY §2.6):
  * a Z-order (morton) geoId over quantized lat/lng — the same index
  * family as the reference's geohash (GeoHashUtils.java) — plus the
  * polygon predicate and the range-list pruning path.
  *
  * Scale design: `in_polygon` as a bare UDF would force a full scan; the
  * range-list form (`bboxRanges` → `geoIdInRanges`) turns the spatial
  * predicate into BETWEEN disjunctions on the geoId column, which push
  * down to parquet min/max and our segment stats — the reference's
  * `IN_POLYGON_RANGE_LIST` pruning (PolygonRangeListExpression).
  */
object Geo {
  val Bits = 20 // per-axis resolution: ~1e-4 deg ≈ 10 m
  private val MaxCell = (1L << Bits) - 1

  private def quantLat(lat: Double): Long =
    math.min(MaxCell, math.max(0L, ((lat + 90.0) / 180.0 * (1L << Bits)).toLong))
  private def quantLng(lng: Double): Long =
    math.min(MaxCell, math.max(0L, ((lng + 180.0) / 360.0 * (1L << Bits)).toLong))

  private def interleave(x: Long, y: Long): Long = {
    var r = 0L
    var i = 0
    while (i < Bits) {
      r |= ((x >> i) & 1L) << (2 * i)
      r |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    r
  }
  private def deinterleave(z: Long): (Long, Long) = {
    var x = 0L; var y = 0L; var i = 0
    while (i < Bits) {
      x |= ((z >> (2 * i)) & 1L) << i
      y |= ((z >> (2 * i + 1)) & 1L) << i
      i += 1
    }
    (x, y)
  }

  // ---- scalar engines (exposed for tests + UDF registration) ----
  def latLngToGeoIdScalar(lat: Double, lng: Double): Long =
    interleave(quantLng(lng), quantLat(lat))

  def geoIdToLatLngScalar(id: Long): (Double, Double) = {
    val (x, y) = deinterleave(id)
    (y.toDouble / (1L << Bits) * 180.0 - 90.0,
      x.toDouble / (1L << Bits) * 360.0 - 180.0)
  }

  /** parent cell at `levels` coarser resolution (ToUpperLayerGeoId). */
  def toUpperLayerScalar(id: Long, levels: Int): Long = id >> (2 * levels)

  /** ray-casting point-in-polygon (reference InPolygonUDF.scala:37). */
  def pointInPolygon(lat: Double, lng: Double, poly: Seq[(Double, Double)]): Boolean = {
    var inside = false
    var i = 0
    val n = poly.size
    while (i < n) {
      val (y1, x1) = poly(i)
      val (y2, x2) = poly((i + 1) % n)
      if (((y1 > lat) != (y2 > lat)) &&
        (lng < (x2 - x1) * (lat - y1) / (y2 - y1) + x1)) inside = !inside
      i += 1
    }
    inside
  }

  // ---- Column API ----
  /** Native (codegen'd) geoId — a custom Catalyst expression whose
    * generated code is ONE static call into the scalar engine per row
    * (bit-for-bit the same result), instead of the previous ~60-node
    * shift/mask expression tree. Stays inside whole-stage codegen; the
    * interleave loop itself runs as JIT-compiled bytecode. */
  def latLngToGeoId(lat: Column, lng: Column): Column = {
    import org.apache.spark.sql.graft.{GeoIdExpression, Shims}
    Shims.column(GeoIdExpression(
      Shims.expression(lat.cast("double")), Shims.expression(lng.cast("double"))))
  }

  /** Native (codegen'd) ray-cast against a constant polygon — one
    * static call per row inside whole-stage codegen, no UDF ser/de
    * (reference keeps polygon verify as an expression too,
    * geo/scan/expression/PolygonExpression.java:50). */
  def inPolygon(lat: Column, lng: Column, poly: Seq[(Double, Double)]): Column = {
    import org.apache.spark.sql.graft.{PointInPolygon, Shims}
    Shims.column(PointInPolygon(
      Shims.expression(lat.cast("double")), Shims.expression(lng.cast("double")),
      poly.map(_._1), poly.map(_._2)))
  }

  /** morton ranges covering a [latMin,latMax]×[lngMin,lngMax] box.
    * Pushdown-friendly: OR of BETWEENs on the geoId column. The cell
    * level adapts so at most `maxRanges` ranges come back — each range
    * predicate re-evaluates the (inlined) geoId expression, so an
    * unbounded range list turns a cheap filter into a per-row expression
    * explosion; a coarser covering superset + the exact residual filter
    * is always the better trade. */
  def bboxRanges(latMin: Double, latMax: Double, lngMin: Double, lngMax: Double,
      maxRanges: Int = 64): Seq[(Long, Long)] = {
    def at(shift: Int): Seq[(Long, Long)] = {
      val y0 = quantLat(latMin) >> shift; val y1 = quantLat(latMax) >> shift
      val x0 = quantLng(lngMin) >> shift; val x1 = quantLng(lngMax) >> shift
      (y0 to y1).flatMap { y =>
        (x0 to x1).map { x =>
          val base = interleave(x, y) << (2 * shift)
          (base, base | ((1L << (2 * shift)) - 1))
        }
      }.sorted.foldLeft(Vector.empty[(Long, Long)]) { case (acc, (lo, hi)) =>
        acc.lastOption match {
          case Some((plo, phi)) if lo <= phi + 1 =>
            acc.init :+ (plo, math.max(phi, hi))
          case _ => acc :+ (lo, hi)
        }
      }
    }
    var shift = 6
    var r = at(shift)
    while (r.size > maxRanges && shift < Bits) { shift += 2; r = at(shift) }
    r
  }

  /** geoId ∈ ranges as BETWEEN disjunctions (IN_POLYGON_RANGE_LIST).
    * Use on a STORED geoId column: the BETWEENs push down to parquet
    * min/max and segment stats. On a computed-on-the-fly geoId use
    * [[geoIdInRangesSearch]] — the optimizer inlines the geoId
    * expression into every disjunct, which explodes per-row cost. */
  def geoIdInRanges(geoId: Column, ranges: Seq[(Long, Long)]): Column =
    ranges.map { case (lo, hi) => geoId.between(lo, hi) }.reduce(_ || _)

  /** geoId ∈ ranges via one binary search per row — a native codegen
    * expression (single evaluation of the geoId child; the range list
    * ships once as reference arrays, not a per-row closure). */
  def geoIdInRangesSearch(geoId: Column, ranges: Seq[(Long, Long)]): Column = {
    import org.apache.spark.sql.graft.{GeoIdInRanges, Shims}
    val sorted = ranges.sortBy(_._1)
    Shims.column(GeoIdInRanges(Shims.expression(geoId.cast("long")),
      sorted.map(_._1), sorted.map(_._2)))
  }

  /** Broadcast polygon join (BroadCastPolygonFilterPushJoin analog,
    * reference DMLStrategy.scala:77-171): polygons explode into their
    * bbox's covering cells at a shared coarse morton level, rows compute
    * the same coarse cell from their geoId, and a broadcast *equi-join*
    * on the cell collapses the pair space; the exact ray-casting test
    * runs only on cell-colliding pairs as a residual filter. At 100 TB ×
    * 10k polygons this is rows×(polygons per cell) UDF calls instead of
    * a rows×polygons nested loop. Each row lands in exactly one cell, so
    * no (row, polygon) pair can match twice — no post-join dedup needed.
    * `polys`: (name, Seq[(lat,lng)]). */
  def polygonJoin(df: DataFrame, lat: String, lng: String,
      polys: Seq[(String, Seq[(Double, Double)])],
      maxCellsPerPoly: Int = 1024): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    require(polys.nonEmpty, "polygonJoin needs at least one polygon")
    // finest shared level where every polygon's bbox is ≤ maxCellsPerPoly
    // cells (one level for all: the equi-join key must align)
    def spanCells(pts: Seq[(Double, Double)], s: Int): Long = {
      val ys = pts.map(p => quantLat(p._1)); val xs = pts.map(p => quantLng(p._2))
      ((ys.max >> s) - (ys.min >> s) + 1) * ((xs.max >> s) - (xs.min >> s) + 1)
    }
    var shift = 2
    while (shift < Bits && polys.exists(p => spanCells(p._2, shift) > maxCellsPerPoly))
      shift += 2
    val sh = shift
    val polyCells = polys.flatMap { case (n, pts) =>
      val ys = pts.map(p => quantLat(p._1)); val xs = pts.map(p => quantLng(p._2))
      for {
        y <- (ys.min >> sh) to (ys.max >> sh)
        x <- (xs.min >> sh) to (xs.max >> sh)
      } yield (interleave(x, y), n, pts.map(_._1), pts.map(_._2))
    }.toDF("__cell", "poly_name", "lats", "lngs")
    // codegen'd per-row-polygon ray-cast (the polygon arrives as the
    // broadcast side's array columns) — no UDF ser/de on the residual
    def verify(la: Column, ln: Column, lats: Column, lngs: Column): Column = {
      import org.apache.spark.sql.graft.{PointInPolygonVar, Shims}
      Shims.column(PointInPolygonVar(
        Shims.expression(la.cast("double")), Shims.expression(ln.cast("double")),
        Shims.expression(lats), Shims.expression(lngs)))
    }
    // morton property: geoId >> 2s == interleave(x >> s, y >> s)
    df.withColumn("__cell", shiftright(latLngToGeoId(col(lat), col(lng)), 2 * sh))
      .join(broadcast(polyCells), "__cell")
      .filter(verify(col(lat), col(lng), col("lats"), col("lngs")))
      .drop("__cell", "lats", "lngs")
  }

  /** IN_POLYGON_LIST (reference InPolygonListUDF.scala:29): membership in
    * the union ("OR") or intersection ("AND") of several polygons. */
  def inPolygonList(lat: Column, lng: Column,
      polys: Seq[Seq[(Double, Double)]], opType: String = "OR"): Column = {
    val op = opType.toUpperCase
    require(op == "OR" || op == "AND", s"opType must be OR or AND, got $opType")
    require(polys.nonEmpty, "empty polygon list")
    // pure composition of the codegen'd single-polygon predicate
    val preds = polys.map(p => inPolygon(lat, lng, p))
    if (op == "OR") preds.reduce(_ || _) else preds.reduce(_ && _)
  }

  /** distance from point P to segment AB, in degrees (flat-earth). */
  def pointToSegment(pLat: Double, pLng: Double,
      aLat: Double, aLng: Double, bLat: Double, bLng: Double): Double = {
    val dx = bLng - aLng; val dy = bLat - aLat
    val len2 = dx * dx + dy * dy
    val t =
      if (len2 == 0.0) 0.0
      else math.max(0.0, math.min(1.0,
        ((pLng - aLng) * dx + (pLat - aLat) * dy) / len2))
    val cx = aLng + t * dx; val cy = aLat + t * dy
    math.sqrt((pLng - cx) * (pLng - cx) + (pLat - cy) * (pLat - cy))
  }

  /** IN_POLYLINE_LIST (reference InPolylineListUDF.scala:29): true when
    * the point lies within `bufferDeg` of any of the polylines. */
  def inPolylineList(lat: Column, lng: Column,
      lines: Seq[Seq[(Double, Double)]], bufferDeg: Double): Column = {
    import org.apache.spark.sql.graft.{PointNearPolylines, Shims}
    Shims.column(PointNearPolylines(
      Shims.expression(lat.cast("double")), Shims.expression(lng.cast("double")),
      lines.map(_.map(_._1)), lines.map(_.map(_._2)), bufferDeg))
  }

  // ---- SQL utility surface (reference GeoUtilUDFs.scala,
  // InPolygonUDF.scala:37-74, spatial-index-guide.md:34-56) ----

  /** Parse the reference's polygon string — `lng1 lat1, lng2 lat2, …`
    * (longitude FIRST, per spatial-index-guide.md:34), optionally
    * wrapped as `POLYGON ((…))` — into (lat, lng) pairs. */
  private[geo] def parsePolygon(s: String): Seq[(Double, Double)] = {
    val body = "(?is)^\\s*POLYGON\\s*\\(\\((.*)\\)\\)\\s*$".r
      .findFirstMatchIn(s).map(_.group(1)).getOrElse(s)
    body.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { p =>
      val parts = p.split("\\s+")
      require(parts.length == 2, s"bad polygon point '$p' (expected 'lng lat')")
      (parts(1).toDouble, parts(0).toDouble)
    }
  }

  private[geo] def parsePolygonList(s: String): Seq[Seq[(Double, Double)]] = {
    val polys = "(?is)POLYGON\\s*\\(\\(([^)]*)\\)\\)".r
      .findAllMatchIn(s).map(m => parsePolygon(m.group(1))).toSeq
    require(polys.nonEmpty, s"no POLYGON ((…)) found in: $s")
    polys
  }

  /** `RANGELIST (lo hi, lo hi, …)` groups from the reference's
    * IN_POLYGON_RANGE_LIST argument (spatial-index-guide.md:183). */
  private[geo] def parseRangeLists(s: String): Seq[Seq[(Long, Long)]] = {
    val lists = "(?is)RANGELIST\\s*\\(([^)]*)\\)".r.findAllMatchIn(s).map { m =>
      m.group(1).split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { r =>
        val parts = r.split("\\s+")
        require(parts.length == 2, s"bad range '$r' (expected 'lo hi')")
        (parts(0).toLong, parts(1).toLong)
      }
    }.toSeq
    require(lists.nonEmpty, s"no RANGELIST (…) found in: $s")
    lists
  }

  /** ToRangeList analog: morton ranges covering the polygon. The
    * reference rasterizes the exact polygon (GeoHashUtils.getRangeList);
    * here the covering is the polygon's bbox cells — a SUPERSET, so
    * pairing with the exact `in_polygon` residual (as every range-list
    * consumer does) yields identical results while the BETWEENs stay
    * pushdown-eligible. */
  def toRangeListScalar(polygon: String, maxRanges: Int = 64): Seq[Array[Long]] = {
    val pts = parsePolygon(polygon)
    require(pts.nonEmpty, "empty polygon")
    val lats = pts.map(_._1); val lngs = pts.map(_._2)
    bboxRanges(lats.min, lats.max, lngs.min, lngs.max, maxRanges)
      .map { case (lo, hi) => Array(lo, hi) }
  }

  /** GeoIdToGridXy analog: morton id → [x, y] grid coordinates. */
  def geoIdToGridXyScalar(id: Long): Array[Long] = {
    val (x, y) = deinterleave(id); Array(x, y)
  }

  /** IN_POLYGON_RANGE_LIST membership. The reference UDF receives the
    * spatial-index column implicitly (carbon applies the filter); the
    * Spark-native form takes the geoId column explicitly. */
  def inPolygonRangeListScalar(geoId: Long, rangeLists: String, opType: String): Boolean = {
    val op = opType.toUpperCase
    require(op == "OR" || op == "AND", s"opType must be OR or AND, got $opType")
    val lists = parseRangeLists(rangeLists)
    def hit(rs: Seq[(Long, Long)]) = rs.exists { case (lo, hi) => geoId >= lo && geoId <= hi }
    if (op == "OR") lists.exists(hit) else lists.forall(hit)
  }

  /** The geo SQL functions (reference GeoUtilUDFs.registerUDFs +
    * GeoFilterUDFs.registerUDFs), attached to a session by
    * [[graft.engine.GraftSession.install]]. */
  private[graft] def sqlUdfs: Seq[(String, UserDefinedFunction)] = Seq(
    "lat_lng_to_geo_id" -> udf(latLngToGeoIdScalar _),
    "geo_id_to_lat" -> udf((id: Long) => geoIdToLatLngScalar(id)._1),
    "geo_id_to_lng" -> udf((id: Long) => geoIdToLatLngScalar(id)._2),
    "to_upper_layer_geo_id" -> udf(toUpperLayerScalar _),
    "geo_id_to_grid_xy" -> udf(geoIdToGridXyScalar _),
    "to_range_list" -> udf((p: String) => toRangeListScalar(p)),
    "to_range_list_as_string" -> udf((p: String) =>
      toRangeListScalar(p).map(r => s"${r(0)} ${r(1)}")
        .mkString("RANGELIST (", ", ", ")")),
    "in_polygon_range_list" -> udf(
      (g: Long, rl: String, op: String) => inPolygonRangeListScalar(g, rl, op)),
    "in_polygon" -> udf((lat: Double, lng: Double, poly: String) =>
      pointInPolygon(lat, lng, parsePolygon(poly))),
    "in_polygon_list" -> udf(
      (lat: Double, lng: Double, polys: String, op: String) => {
        val ps = parsePolygonList(polys)
        op.toUpperCase match {
          case "OR" => ps.exists(p => pointInPolygon(lat, lng, p))
          case "AND" => ps.forall(p => pointInPolygon(lat, lng, p))
          case other => throw new IllegalArgumentException(
            s"opType must be OR or AND, got $other")
        }
      }))
}
