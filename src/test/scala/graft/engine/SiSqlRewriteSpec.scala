package graft.engine

import graft.engine.index.Si
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Automatic SI acceleration (reference CarbonSITransformationRule):
  * a PLAIN SQL/DataFrame equality or IN filter on an indexed column —
  * no [[Si.readWhereIn]] call — must be rewritten to the SI-pinned
  * read with the original predicate kept as the exact residual. */
class SiSqlRewriteSpec extends AnyFunSuite {
  import TestSpark._

  private def fixture(): (GraftTable, org.apache.spark.sql.DataFrame) = {
    val src = spark.read.parquet(s"$sf/orders.parquet")
    val root = Files.createTempDirectory("graft_sisql_").toString
    val t = GraftTable.create(spark, s"$root/t", src.schema, Seq("o_orderkey"))
    Seq("O", "F", "P").foreach(s0 =>
      t.insert(src.filter(col("o_orderstatus") === s0)))
    Si.create(t, "o_orderstatus", s"$root/si")
    (t, src)
  }

  private def scannedFiles(q: org.apache.spark.sql.DataFrame): Seq[String] =
    q.queryExecution.executedPlan.collect { case b: BatchScanExec => b.scan }
      .map(s => TestSpark.parquetScanOf(s).fileIndex.inputFiles.toSeq)
      .headOption.getOrElse(Nil)

  test("plain equality filter on the SI column prunes without readWhereIn") {
    val (t, src) = fixture()
    val expected = src.filter(col("o_orderstatus") === "P").count()
    val q = t.read.filter(col("o_orderstatus") === "P")
    assert(q.count() == expected && expected > 0)
    val files = scannedFiles(q)
    assert(files.nonEmpty && files.forall(_.contains("/segments/2/")),
      s"expected the rewrite to pin segment 2's files only, scanned: $files")

    // the SQL-string path goes through the same optimizer
    t.read.createOrReplaceTempView("si_sql_t")
    val viaSql = spark.sql(
      "SELECT count(*) AS c FROM si_sql_t WHERE o_orderstatus = 'P'")
    assert(viaSql.collect().head.getLong(0) == expected)
    assert(scannedFiles(viaSql).forall(_.contains("/segments/2/")))
  }

  test("IN unions the matched segments; extra conjuncts stay exact") {
    val (t, src) = fixture()
    val q = t.read.filter(col("o_orderstatus").isin("P", "F") &&
      col("o_totalprice") > 200000.0)
    val expected = src.filter(col("o_orderstatus").isin("P", "F") &&
      col("o_totalprice") > 200000.0).count()
    assert(q.count() == expected && expected > 0)
    val files = scannedFiles(q)
    assert(files.nonEmpty && files.forall(f =>
      f.contains("/segments/1/") || f.contains("/segments/2/")),
      s"expected only segments 1+2, scanned: $files")
  }

  test("unindexed-column filters and oversized IN lists are untouched but correct") {
    val (t, src) = fixture()
    // no SI on o_orderpriority: full scan, plain result
    val q1 = t.read.filter(col("o_orderpriority") === "1-URGENT")
    assert(q1.count() == src.filter(col("o_orderpriority") === "1-URGENT").count())
    assert(scannedFiles(q1).exists(_.contains("/segments/0/")),
      "unindexed filter must not be pinned")
    // 300 literals blow the MaxValues cap: no rewrite, same answer
    val many = (1 to 299).map(i => s"ZZ$i") :+ "P"
    val q2 = t.read.filter(col("o_orderstatus").isin(many: _*))
    assert(q2.count() == src.filter(col("o_orderstatus") === "P").count())
  }

  test("row-set-sensitive operators between filter and scan block the rewrite") {
    val (t, src) = fixture()
    // ORDER BY + LIMIT below the filter: pinning the scan would change
    // WHICH rows the limit keeps — the answer must be "status-P rows
    // among the 100 globally-smallest orderkeys", not "the 100 smallest
    // P rows"
    val viaLimit = t.read.orderBy("o_orderkey").limit(100)
      .filter(col("o_orderstatus") === "P")
    val expectLimit = src.orderBy("o_orderkey").limit(100)
      .filter(col("o_orderstatus") === "P").count()
    assert(viaLimit.count() == expectLimit)
    // a window below the filter ranks over the FULL peer set (priority
    // partitions span all three status segments); pinning would rank
    // among P rows only and admit extra rows
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("o_orderpriority").orderBy("o_orderkey")
    val viaWin = t.read.withColumn("rn", row_number().over(w))
      .filter(col("o_orderstatus") === "P" && col("rn") <= 5)
      .select("o_orderkey")
    val expectWin = src.withColumn("rn", row_number().over(w))
      .filter(col("o_orderstatus") === "P" && col("rn") <= 5)
      .select("o_orderkey")
    assert(viaWin.collect().map(_.getLong(0)).toSet ==
      expectWin.collect().map(_.getLong(0)).toSet)
  }

  test("segments loaded after the index build are still scanned (coverage)") {
    val (t, src) = fixture()
    val expected = src.filter(col("o_orderstatus") === "P").count()
    t.insert(src.filter(col("o_orderstatus") === "P").limit(10))
    assert(t.read.filter(col("o_orderstatus") === "P").count() == expected + 10,
      "rows in unindexed segments must not be dropped by the rewrite")
  }
}
