package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** r19 (VERDICT r18 #1): `GraftSql`'s regex surface used to parse
  * `TIMESTAMP AS OF '…'` strings with `java.sql.Timestamp.valueOf` —
  * the JVM DEFAULT zone — while Spark's catalog path resolves the same
  * literal in `spark.sql.session.timeZone`. On a cluster whose JVMs
  * run local time with the session pinned to UTC the two SQL surfaces
  * disagreed by the zone offset, silently restoring/cloning the wrong
  * version. Both surfaces now resolve in the SESSION zone; this spec
  * pins a session zone ≠ JVM zone (Asia/Kolkata, +05:30, no DST —
  * discriminates even against sandbox-UTC JVMs) and asserts the regex
  * surface, the catalog surface, and the raw helper all name the same
  * instant → the same version. */
class TimeZoneSpec extends AnyFunSuite {
  import TestSpark._

  private val zone = "Asia/Kolkata"

  /** Format epoch millis as the session-zone wall clock (ms precision,
    * the shape SHOW VERSIONS emits and a user would paste back). */
  private def wallClock(millis: Long): String =
    java.time.Instant.ofEpochMilli(millis)
      .atZone(java.time.ZoneId.of(zone))
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))

  test("TIMESTAMP AS OF: regex surface and catalog surface resolve the same instant in the SESSION zone") {
    assume(java.util.TimeZone.getDefault.getID != zone,
      "test needs JVM default zone != session zone to discriminate")
    val sess = spark.newSession()
    sess.conf.set("spark.sql.session.timeZone", zone)

    // The helper resolves in the session zone: for a +05:30 session on
    // a non-Kolkata JVM, the old JVM-default parse differs by exactly
    // the offset delta — the silent-wrong-version failure mode.
    val now = System.currentTimeMillis() / 1000 * 1000
    val str = wallClock(now)
    assert(GraftSql.sessionTsMillis(sess, str) == now,
      "session-zone string must round-trip to the same instant")
    val jvmParse = java.sql.Timestamp.valueOf(str).getTime
    assert(jvmParse != now,
      "JVM-default parse must disagree here, or this spec cannot discriminate")
    // all-digit strings are epoch millis on both surfaces, zone-free
    assert(GraftSql.sessionTsMillis(sess, now.toString) == now)

    // Both SQL surfaces against a real two-version table.
    val wh = Files.createTempDirectory("graft_tz_").toString
    sess.conf.set("spark.sql.catalog.gtz", "graft.engine.catalog.GraftCatalog")
    sess.conf.set("spark.sql.catalog.gtz.warehouse", wh)
    sess.sql("CREATE NAMESPACE IF NOT EXISTS gtz.ns")
    sess.sql("CREATE TABLE gtz.ns.t (k BIGINT) USING carbonish " +
      "TBLPROPERTIES ('timetravel'='true')")
    sess.sql("INSERT INTO gtz.ns.t SELECT id FROM range(100)")
    val t = GraftTable.at(sess, s"$wh/ns/t")
    val v1 = t.status.version
    Thread.sleep(30)
    val mid = System.currentTimeMillis()
    val midStr = wallClock(mid)
    Thread.sleep(30)
    sess.sql("INSERT INTO gtz.ns.t SELECT id FROM range(100, 150)")

    // catalog surface: Spark resolves the literal in the session zone
    assert(sess.sql(s"SELECT count(*) FROM gtz.ns.t TIMESTAMP AS OF '$midStr'")
      .head.getLong(0) == 100L, "catalog surface must see version 1")
    // regex surface, same string: SHALLOW CLONE AS OF
    val cDir = s"$wh/clone_tz"
    sess.sql(
      s"CREATE TABLE $cDir SHALLOW CLONE $wh/ns/t TIMESTAMP AS OF '$midStr'")
    assert(GraftTable.at(sess, cDir).read.count() == 100L,
      "regex surface (SHALLOW CLONE) must resolve the same instant → same version")
    // regex surface: RESTORE TO TIMESTAMP AS OF
    val restored = sess.sql(
      s"RESTORE TABLE $wh/ns/t TO TIMESTAMP AS OF '$midStr'").collect()
    assert(restored.head.getLong(0) == v1,
      s"RESTORE must resolve to v$v1, got ${restored.head.getLong(0)}")
    assert(t.read.count() == 100L)

    // the helper and the layout agree end-to-end
    assert(t.layout.versionAtTimestamp(GraftSql.sessionTsMillis(sess, midStr)) == v1)
    GraftTable.drop(sess, cDir)
  }

  test("SHOW VERSIONS commit_time strings round-trip through TIMESTAMP AS OF in the session zone") {
    val sess = spark.newSession()
    sess.conf.set("spark.sql.session.timeZone", zone)
    val dir = Files.createTempDirectory("graft_tzshow_").toString + "/t"
    val a = sess.range(0, 40).selectExpr("id AS k")
    val t = GraftTable.create(sess, dir, a.schema,
      properties = Map("timetravel" -> "true"))
    t.insert(a)
    Thread.sleep(5)
    t.insert(sess.range(40, 60).selectExpr("id AS k"))
    val rows = sess.sql(s"SHOW VERSIONS FOR TABLE $dir").collect()
    // paste each listed commit_time back into the resolver: it must
    // resolve to a version >= the listed one (ties share a stamp), and
    // the newest row's string must resolve to the current version
    rows.foreach { r =>
      val v = t.layout.versionAtTimestamp(GraftSql.sessionTsMillis(sess, r.getString(1)))
      assert(v >= r.getLong(0), s"round-trip of '${r.getString(1)}' lost version ${r.getLong(0)}")
    }
    val newest = rows.head
    assert(t.layout.versionAtTimestamp(
      GraftSql.sessionTsMillis(sess, newest.getString(1))) == t.status.version)
    GraftTable.drop(sess, dir)
  }

  /** Copy-on-write mutations decide their files in a query that must
    * resolve `cond` in the CALLER's session: rows at session-zone and
    * UTC midnight of 2020-01-01, one per segment, and a predicate on
    * the wall-clock string. Each statement must touch exactly the rows
    * plain Spark's filter picks in the same session. */
  private def midnights(): (org.apache.spark.sql.SparkSession, GraftTable,
      org.apache.spark.sql.DataFrame) = {
    assume(java.util.TimeZone.getDefault.getID != zone,
      "test needs JVM default zone != session zone to discriminate")
    val sess = spark.newSession()
    sess.conf.set("spark.sql.session.timeZone", zone)
    val schema = org.apache.spark.sql.types.StructType.fromDDL("k INT, ts TIMESTAMP, v INT")
    def seg(rows: (Int, String)*) = sess.createDataFrame(
      java.util.Arrays.asList(rows.map { case (k, at) =>
        org.apache.spark.sql.Row(k, java.sql.Timestamp.from(java.time.Instant.parse(at)), 0)
      }: _*), schema)
    val local = seg(1 -> "2019-12-31T18:30:00Z", 2 -> "2019-12-31T12:00:00Z")
    val utc = seg(3 -> "2020-01-01T00:00:00Z", 4 -> "2020-01-01T06:00:00Z")
    val t = GraftTable.create(sess,
      Files.createTempDirectory("graft_tzcow_").toString + "/t", schema,
      sortColumns = Seq("k"))
    t.insert(local)
    t.insert(utc)
    (sess, t, local.union(utc))
  }

  private val midnight = org.apache.spark.sql.functions.col("ts") ===
    org.apache.spark.sql.functions.lit("2020-01-01 00:00:00")

  private def keys(df: org.apache.spark.sql.DataFrame): Set[Int] =
    df.collect().map(_.getInt(0)).toSet

  test("copy-on-write UPDATE decides its files in the session zone") {
    import org.apache.spark.sql.functions.{col, lit}
    val (_, t, src) = midnights()
    val want = keys(src.filter(midnight))
    assert(want == Set(1), "plain Spark must pick the session-zone midnight")
    assert(t.update(midnight, Map("v" -> lit(1))) == want.size.toLong)
    assert(keys(t.read.filter(col("v") === 1)) == want)
    assert(keys(t.read) == Set(1, 2, 3, 4))
  }

  test("copy-on-write DELETE decides its files in the session zone") {
    val (_, t, src) = midnights()
    val want = keys(src.filter(midnight))
    assert(t.delete(midnight) == want.size.toLong)
    assert(keys(t.read) == keys(src.filter(!midnight)))
  }

  test("INSERT OVERWRITE WHERE decides its files in the session zone") {
    import org.apache.spark.sql.functions.{col, lit}
    val (_, t, src) = midnights()
    val fresh = src.filter(midnight).withColumn("k", col("k") + 10)
      .withColumn("v", lit(7))
    t.insertOverwriteWhere(midnight, fresh)
    assert(keys(t.read) == keys(src.filter(!midnight)) ++ keys(fresh))
    assert(keys(t.read.filter(col("v") === 7)) == Set(11))
  }
}
