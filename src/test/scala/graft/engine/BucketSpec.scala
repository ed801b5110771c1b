package graft.engine

import graft.engine.format.Buckets
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Hash bucketing (reference schema.thrift BucketingInfo) + DSv2
  * storage-partitioned join: two co-bucketed carbonish tables join with
  * no shuffle on either side, and equality filters on the bucket column
  * prune to a single bucket's files. */
class BucketSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(): String = Files.createTempDirectory("graft_bkt_").toString + "/t"

  private def withSQLConf(kvs: (String, String)*)(body: => Unit): Unit = {
    val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val N = 8

  private def mkBucketed(path: String, rows: Int, seed: Int): GraftTable = {
    val src = spark.range(0, rows)
      .selectExpr("id AS k", s"CAST(id * $seed AS DOUBLE) AS v")
    val t = GraftTable.create(spark, path, src.schema,
      sortColumns = Seq("k"),
      properties = Map("bucket_columns" -> "k", "bucket_count" -> N.toString))
    t.insert(src)
    t
  }

  test("bucketed write: files are bucket-exclusive and tagged") {
    val t = mkBucketed(tmp(), 1000, 1)
    val seg = t.status.visible.head
    assert(seg.files.nonEmpty)
    assert(seg.files.forall(f => Buckets.tagOf(f).exists(b => b >= 0 && b < N)),
      seg.files.take(3).toString)
    // every row's recomputed bucket id matches its file's tag
    val mismatches = t.read
      .withColumn("b", pmod(hash(col("k")), lit(N)))
      .withColumn("f", input_file_name())
      .filter(!expr(s"f LIKE concat('%${Buckets.TagPrefix}', CAST(b AS STRING), '/%')"))
      .count()
    assert(mismatches == 0)
    assert(t.read.count() == 1000)
  }

  test("storage-partitioned join: no shuffle between co-bucketed tables") {
    val wh = Files.createTempDirectory("graft_bwh_").toString
    spark.conf.set("spark.sql.catalog.gb", "graft.engine.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gb.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gb.ns")
    spark.sql(s"CREATE TABLE gb.ns.fact (k BIGINT, v DOUBLE) USING carbonish " +
      s"PARTITIONED BY (bucket($N, k)) TBLPROPERTIES ('sort_columns'='k')")
    spark.sql(s"CREATE TABLE gb.ns.dim (k BIGINT, w DOUBLE) USING carbonish " +
      s"PARTITIONED BY (bucket($N, k)) TBLPROPERTIES ('sort_columns'='k')")
    spark.sql("INSERT INTO gb.ns.fact SELECT id, CAST(id AS DOUBLE) FROM range(0, 2000)")
    spark.sql("INSERT INTO gb.ns.dim SELECT id * 2, CAST(id AS DOUBLE) FROM range(0, 600)")
    // created through the transform → properties recorded
    val t = GraftTable.at(spark, s"$wh/ns/fact")
    assert(t.meta.properties.get("bucket_columns").contains("k"))
    assert(t.meta.properties.get("bucket_count").contains(N.toString))

    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val joined = spark.sql(
        """SELECT f.k AS k, f.v AS v, d.w AS w
           FROM gb.ns.fact f JOIN gb.ns.dim d ON f.k = d.k""")
      val rows = joined.collect()
      assert(rows.length == 600, s"expected 600 join rows, got ${rows.length}")
      assert(rows.forall(r => r.getLong(0) % 2 == 0))
      val plan = joined.queryExecution.executedPlan
      val shuffles = plan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      assert(shuffles.isEmpty,
        s"storage-partitioned join must not shuffle; plan:\n$plan")
    }

    // sanity: same join WITHOUT v2 bucketing shuffles both sides
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val joined = spark.sql(
        "SELECT f.k FROM gb.ns.fact f JOIN gb.ns.dim d ON f.k = d.k")
      val shuffles = joined.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      assert(shuffles.nonEmpty)
    }
  }

  test("compaction preserves the bucket layout: SPJ stays shuffle-free after MAJOR") {
    val wh = Files.createTempDirectory("graft_bwh2_").toString
    spark.conf.set("spark.sql.catalog.gbc", "graft.engine.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gbc.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gbc.ns")
    spark.sql(s"CREATE TABLE gbc.ns.fact (k BIGINT, v DOUBLE) USING carbonish " +
      s"PARTITIONED BY (bucket($N, k)) TBLPROPERTIES ('sort_columns'='k')")
    spark.sql(s"CREATE TABLE gbc.ns.dim (k BIGINT, w DOUBLE) USING carbonish " +
      s"PARTITIONED BY (bucket($N, k)) TBLPROPERTIES ('sort_columns'='k')")
    // several small inserts → several segments, then compact them away
    (0 until 3).foreach(i => spark.sql(
      s"INSERT INTO gbc.ns.fact SELECT id, CAST(id AS DOUBLE) " +
        s"FROM range(${i * 500}, ${(i + 1) * 500})"))
    spark.sql("INSERT INTO gbc.ns.dim SELECT id * 2, CAST(id AS DOUBLE) FROM range(0, 400)")
    val t = GraftTable.at(spark, s"$wh/ns/fact")
    assert(t.status.visible.size == 3)
    assert(t.compact("MAJOR").nonEmpty)
    assert(t.status.visible.size == 1)
    // the compacted segment's files are still bucket-exclusive
    val seg = t.status.visible.head
    assert(seg.files.forall(f => Buckets.tagOf(f).exists(b => b >= 0 && b < N)),
      seg.files.take(3).toString)
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val joined = spark.sql(
        """SELECT f.k AS k, f.v AS v, d.w AS w
           FROM gbc.ns.fact f JOIN gbc.ns.dim d ON f.k = d.k""")
      assert(joined.collect().length == 400)
      val shuffles = joined.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      assert(shuffles.isEmpty,
        "compaction must not break storage-partitioned joins")
    }
    // and bucket pruning still fires on the compacted segment
    val b = Buckets.bucketIdExternal(N, Seq((123L,
      org.apache.spark.sql.types.LongType)))
    val pruned = plannedFiles(t.read.filter(col("k") === 123L).select("k"))
    assert(pruned.nonEmpty &&
      pruned.forall(_.contains(s"${Buckets.TagPrefix}$b")), pruned.toString)
  }

  test("equality filter on the bucket column prunes to one bucket's files") {
    val t = mkBucketed(tmp(), 4000, 3)
    val all = plannedFiles(t.read.select("k"))
    assert(all.size >= N / 2, s"expected multiple bucket files, got ${all.size}")
    val expected = Buckets.bucketIdExternal(N, Seq((123L,
      org.apache.spark.sql.types.LongType)))
    val pruned = plannedFiles(t.read.filter(col("k") === 123L).select("k"))
    assert(pruned.nonEmpty)
    assert(pruned.forall(_.contains(s"${Buckets.TagPrefix}$expected")),
      s"expected only bucket $expected files, got:\n${pruned.mkString("\n")}")
    assert(t.read.filter(col("k") === 123L).count() == 1)
  }

  test("bucketed AND partitioned compose: dirs nest, both prunes fire") {
    val src = spark.range(0, 600)
      .selectExpr("id AS k", "CAST(id % 3 AS INT) AS p")
    val t = GraftTable.create(spark, tmp(), src.schema,
      sortColumns = Seq("k"), partitionColumns = Seq("p"),
      properties = Map("bucket_columns" -> "k", "bucket_count" -> "4"))
    t.insert(src)
    val seg = t.status.visible.head
    assert(seg.files.forall(f => f.startsWith("__p_p=") && f.contains("/__b=")),
      seg.files.take(3).toString)
    val files = plannedFiles(t.read.filter(col("p") === 1 && col("k") === 7L).select("k"))
    val b = Buckets.bucketIdExternal(4, Seq((7L, org.apache.spark.sql.types.LongType)))
    assert(files.nonEmpty)
    assert(files.forall(f => f.contains("__p_p=1") && f.contains(s"__b=$b")), files.toString)
    assert(t.read.filter(col("p") === 1 && col("k") === 7L).count() == 1)
  }

  test("point DELETE and UPDATE on a bucketed table scan one bucket's files " +
      "(copy-on-write and merge-on-read)") {
    Seq("cow", "mor").foreach { mode =>
      val src = spark.range(0, 2000).selectExpr("id AS k", "CAST(id % 10 AS DOUBLE) AS v")
      // sorted on v: footer stats on k span the whole range in every
      // bucket file, so only the bucket rung can narrow a point predicate
      val t = GraftTable.create(spark, tmp(), src.schema, sortColumns = Seq("v"),
        properties = Map("bucket_columns" -> "k", "bucket_count" -> N.toString,
          "iud_mode" -> mode))
      t.insert(src)
      val segs = Mutation.visibleFiles(t)
      assert(segs.flatMap(_._2).size == N)
      def bucketOf(k: Long): Int =
        Buckets.bucketIdExternal(N, Seq((k, org.apache.spark.sql.types.LongType)))
      // the API's typed literal and SQL's int literal (cast by analysis)
      Seq(42L -> (col("k") === 42L), 42L -> expr("k = 42"), 43L -> (col("k") === 43L))
        .foreach { case (k, cond) =>
          val kept = Mutation.pruneCandidates(t, segs, cond).flatMap(_._2)
          assert(kept.size == 1 && kept.head.contains(s"/${Buckets.TagPrefix}${bucketOf(k)}/"),
            s"$mode $cond kept ${kept.size} of $N bucket files:\n${kept.mkString("\n")}")
        }
      assert(t.delete(col("k") === 42L) == 1L, mode)
      assert(t.update(col("k") === 43L, Map("v" -> lit(-1.0))) == 1L, mode)
      val want = src.filter(col("k") =!= 42L)
        .select(col("k"), when(col("k") === 43L, lit(-1.0)).otherwise(col("v")).as("v"))
      assert(t.read.collect().map(_.toString).sorted
        .sameElements(want.collect().map(_.toString).sorted), mode)
    }
  }

  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def scans(p: SparkPlan): Seq[BatchScanExec] = p.collect {
      case b: BatchScanExec => Seq(b)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    }.flatten
    scans(df.queryExecution.executedPlan)
      .flatMap(_.scan.toBatch.planInputPartitions())
      .flatMap {
        case fp: FilePartition => fp.files.map(_.filePath.toString)
        case b: graft.engine.source.BucketedFilePartition =>
          b.filePartition.files.map(_.filePath.toString)
      }
  }
}
