package graft.engine

import graft.engine.streaming.GraftStreaming
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** A column the table declares NOT NULL takes no null from any write of
  * new or changed rows: the write fails and the table keeps its rows. */
class NotNullSpec extends AnyFunSuite {
  import TestSpark._

  private val schema = StructType(Seq(
    StructField("k", LongType, nullable = false),
    StructField("v", StringType)))

  private def mk(props: Map[String, String] = Map.empty): GraftTable = {
    val t = GraftTable.create(spark,
      Files.createTempDirectory("graft_notnull_").toString + "/t", schema, Seq("k"),
      properties = props)
    t.insert(spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, "a"), Row(2L, "b")), schema))
    t
  }

  /** One row whose `k` is null, typed like the column. */
  private def nullK: DataFrame = spark.sql("SELECT CAST(NULL AS BIGINT) AS k, 'x' AS v")

  private def rows(t: GraftTable): Seq[String] =
    t.read.collect().map(_.toString).sorted.toSeq

  private def rejected(t: GraftTable, what: String)(write: => Any): Unit = {
    val before = rows(t)
    val e = intercept[Throwable](write)
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(x => String.valueOf(x.getMessage).contains("non-nullable field")),
      s"$what: expected a NOT NULL violation, got $e")
    assert(rows(t) == before, s"$what changed the table")
  }

  test("insert, INSERT OVERWRITE WHERE and a whole-table overwrite reject a null " +
      "in a NOT NULL column") {
    val t = mk()
    rejected(t, "insert")(t.insert(nullK))
    rejected(t, "insert overwrite")(t.insert(nullK, overwrite = true))
    rejected(t, "insertOverwriteWhere")(t.insertOverwriteWhere(col("k") === 1L, nullK))
    rejected(t, "insertOverwriteDynamic")(t.insertOverwriteDynamic(nullK))
    // a non-null row still goes in
    t.insert(spark.sql("SELECT CAST(3 AS BIGINT) AS k, CAST(NULL AS STRING) AS v"))
    assert(rows(t) == Seq("[1,a]", "[2,b]", "[3,null]"))
  }

  test("UPDATE SET null on a NOT NULL column fails (copy-on-write and merge-on-read)") {
    Seq("cow", "mor").foreach { mode =>
      val t = mk(Map("iud_mode" -> mode))
      rejected(t, s"$mode update")(
        t.update(col("k") === 1L, Map("k" -> lit(null).cast(LongType))))
      // SET on another column leaves the NOT NULL one as it was
      assert(t.update(col("k") === 1L, Map("v" -> lit(null).cast(StringType))) == 1L)
      assert(rows(t) == Seq("[1,null]", "[2,b]"), mode)
    }
  }

  test("MERGE that inserts or updates a null into a NOT NULL column fails") {
    val t = mk()
    val src = spark.sql("SELECT CAST(7 AS BIGINT) AS k, 'z' AS v")
    // the insert names no value for k
    rejected(t, "merge insert")(t.merge(src, col("t.k") === col("s.k"))
      .whenNotMatched().insertExpr(Map("v" -> col("s.v"))).execute())
    rejected(t, "merge update")(t.merge(src.withColumn("k", lit(1L)), col("t.k") === col("s.k"))
      .whenMatched().updateExpr(Map("k" -> lit(null).cast(LongType))).execute())
  }

  test("a streaming batch with a null in a NOT NULL column fails") {
    val t = mk()
    rejected(t, "streaming batch")(GraftStreaming.appendBatch(t, nullK, 0L))
  }
}
