package graft.engine

import graft.engine.index.{Si, TextIndex}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** A pre-r13 index table stores (value, seg_id, file) without the
  * row-group geometry columns. Those indexes must (a) keep serving at
  * file grain, and (b) upgrade transparently to row-group grain on
  * REFRESH INDEX / REINDEX — the documented "grain: file" →
  * "grain: row-group" route in SHOW INDEXES. Without the upgrade
  * check, REFRESH would try to overwrite a 3-column table with
  * 6-column rows and fail on schema mismatch. */
class LegacyIndexUpgradeSpec extends AnyFunSuite {
  import TestSpark._

  /** Rewrite an index table in place WITHOUT the rg columns, keeping
    * its coverage ledger — a faithful pre-r13 on-disk index. */
  private def stripToLegacy(path: String, cols: Seq[String]): Unit = {
    val idx = GraftTable.at(spark, path)
    val ledger = idx.meta.properties.getOrElse("indexed_segments", "")
    val schema = org.apache.spark.sql.types.StructType(cols.map(c => idx.schema(c)))
    val rows = idx.read.select(cols.map(col): _*).collect().toIndexedSeq
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
    GraftTable.drop(spark, path)
    val legacy = GraftTable.createAsSelect(spark, path, df,
      sortColumns = Seq(cols.head))
    legacy.setProperties(Map("indexed_segments" -> ledger))
  }

  private def grainShown(tPath: String): String = {
    val sync = spark.sql(s"SHOW INDEXES ON TABLE $tPath")
      .collect().map(_.getString(5)).head
    "grain: ([a-z-]+)".r.findFirstMatchIn(sync).map(_.group(1)).getOrElse("?")
  }

  test("pre-r13 SI serves at file grain and upgrades on REFRESH INDEX") {
    val src = spark.read.parquet(s"$sf/orders.parquet")
    val root = Files.createTempDirectory("graft_legacy_si_").toString
    val t = GraftTable.create(spark, s"$root/t", src.schema, Seq("o_orderkey"))
    Seq("O", "F").foreach(s0 => t.insert(src.filter(col("o_orderstatus") === s0)))
    spark.sql(
      s"CREATE INDEX lsi ON TABLE ${t.path} (o_orderstatus) AS 'carbondata'")
    val siPath = Si.show(t).head._2
    val expected = src.filter(col("o_orderstatus") === "F").count()

    stripToLegacy(siPath, Seq("v", "seg_id", "file"))
    assert(!GraftTable.at(spark, siPath).schema.fieldNames.contains("rg_start"))
    // still correct, still file-grain-capable
    assert(Si.readWhereIn(t, "o_orderstatus", Seq("F")).count() == expected)
    assert(grainShown(t.path) == "file")

    // REFRESH rebuilds in place with the rg schema (not a schema-mismatch)
    spark.sql(s"REFRESH INDEX lsi ON TABLE ${t.path}")
    assert(GraftTable.at(spark, siPath).schema.fieldNames.contains("rg_start"))
    assert(grainShown(t.path) == "row-group")
    assert(Si.readWhereIn(t, "o_orderstatus", Seq("F")).count() == expected)

    // REINDEX on a legacy index also upgrades (full rebuild, coverage
    // complete) instead of appending mismatched rows
    stripToLegacy(siPath, Seq("v", "seg_id", "file"))
    t.insert(src.filter(col("o_orderstatus") === "F").limit(10))
    spark.sql(s"REINDEX INDEX TABLE lsi ON ${t.path}")
    val upgraded = GraftTable.at(spark, siPath)
    assert(upgraded.schema.fieldNames.contains("rg_start"))
    assert(Si.indexedSegments(upgraded) == t.status.visible.map(_.id).toSet)
    assert(Si.readWhereIn(t, "o_orderstatus", Seq("F")).count() == expected + 10)
  }

  test("pre-r13 text index serves at file grain and upgrades on REFRESH") {
    val root = Files.createTempDirectory("graft_legacy_ti_").toString
    import spark.implicits._
    val seg0 = Seq((0L, "alpha shared"), (1L, "alpha bravo"))
    val seg1 = Seq((10L, "charlie shared"), (11L, "charlie delta"))
    val t = GraftTable.create(spark, s"$root/t", seg0.toDF("id", "body").schema)
    Seq(seg0, seg1).foreach(s0 => t.insert(s0.toDF("id", "body")))
    spark.sql(
      s"CREATE INDEX lti ON TABLE ${t.path} (body) AS 'lucene'")
    val tiPath = t.meta.properties("textindex.body")

    stripToLegacy(tiPath, Seq("term", "seg_id", "file"))
    assert(TextIndex.readMatching(t, "body", "charlie")
      .select("id").collect().map(_.getLong(0)).toSet == Set(10L, 11L))
    assert(grainShown(t.path) == "file")

    spark.sql(s"REFRESH INDEX lti ON TABLE ${t.path}")
    assert(GraftTable.at(spark, tiPath).schema.fieldNames.contains("rg_start"))
    assert(grainShown(t.path) == "row-group")
    assert(TextIndex.readMatching(t, "body", "charlie")
      .select("id").collect().map(_.getLong(0)).toSet == Set(10L, 11L))

    // REINDEX upgrade path for the text index too
    stripToLegacy(tiPath, Seq("term", "seg_id", "file"))
    t.insert(Seq((20L, "echo charlie")).toDF("id", "body"))
    spark.sql(s"REINDEX INDEX TABLE lti ON ${t.path}")
    assert(GraftTable.at(spark, tiPath).schema.fieldNames.contains("rg_start"))
    assert(TextIndex.readMatching(t, "body", "charlie")
      .select("id").collect().map(_.getLong(0)).toSet == Set(10L, 11L, 20L))
  }
}
