package graft.engine

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class DdlSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpTable(): String =
    Files.createTempDirectory("graft_ddl_").toString + "/t"

  test("DataFrameWriter save() creates the table on a fresh path") {
    import spark.implicits._
    val path = Files.createTempDirectory("graft_dfw_").toString + "/t"
    val df = Seq((3L, "c"), (1L, "a"), (2L, "b")).toDF("k", "v")
    df.write.format("carbonish").option("sort_columns", "k")
      .mode("append").save(path)
    val t = GraftTable.at(spark, path)
    assert(t.meta.sortColumns == Seq("k"))
    assert(t.read.orderBy("k").collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // second append lands as a new segment; overwrite replaces
    df.write.format("carbonish").mode("append").save(path)
    assert(t.read.count() == 6)
    df.limit(1).write.format("carbonish").mode("overwrite").save(path)
    assert(t.read.count() == 1)
  }

  test("truncate retires all segments; describe reports metadata") {
    val src = spark.read.parquet(s"$sf/region.parquet")
    val t = GraftTable.createAsSelect(spark, tmpTable(), src,
      properties = Map("owner" -> "graft"))
    assert(t.read.count() == 5)
    val desc = t.describe.collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(desc("visible_segments") == "1" && desc("owner") == "graft")
    t.truncate()
    assert(t.read.count() == 0)
    assert(t.countStar == 0)
    t.cleanFiles()
    assert(t.segments.isEmpty)
    t.insert(src) // usable after truncate
    assert(t.read.count() == 5)
  }

  test("plain LIMIT scans only a prefix of segments") {
    val src = spark.read.parquet(s"$sf/orders.parquet")
    val t = GraftTable.create(spark, tmpTable(), src.schema, Seq("o_orderkey"))
    t.insert(src.filter(col("o_orderkey") < 500))
    t.insert(src.filter(col("o_orderkey") >= 500 && col("o_orderkey") < 1000))
    t.insert(src.filter(col("o_orderkey") >= 1000))
    val q = t.read.limit(7)
    val scans = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }
    assert(scans.nonEmpty)
    val files = TestSpark.parquetScanOf(scans.head).fileIndex.inputFiles.length
    val seg0Files = t.status.visible.minBy(_.id).files.size
    assert(files == seg0Files, s"limit should scan only segment 0 ($seg0Files files), got $files")
    assert(q.count() == 7)
  }

  test("mixed-format table: csv segment unions into reads, incl. the DSv2 scan") {
    val src = spark.read.parquet(s"$sf/nation.parquet")
    val t = GraftTable.createAsSelect(spark, tmpTable(), src.filter(col("n_nationkey") < 10))
    val ext = Files.createTempDirectory("graft_csv_").toString
    src.filter(col("n_nationkey") >= 10)
      .coalesce(1).write.option("header", "true").mode("overwrite").csv(ext)
    t.addSegment(ext, "csv")
    assert(t.read.count() == 25)
    assert(t.read.agg(sum("n_nationkey")).collect().head.getLong(0) == (0 until 25).sum)
    // the DSv2 scan itself (and with it catalog-name reads) plans the
    // per-format union too — MixedScan, one sub-scan per format
    val direct = spark.read.format("carbonish").load(t.path)
    assert(direct.count() == 25)
    assert(direct.agg(sum("n_nationkey")).collect().head.getLong(0) == (0 until 25).sum)
    // column pruning reaches the union's sub-scans
    assert(direct.select("n_name").distinct().count() == 25)
  }

  test("RENAME COLUMN on a mixed-format table rewrites the csv segment too") {
    val rows = (lo: Long, hi: Long) =>
      spark.range(lo, hi).selectExpr("id AS k", "CAST(id AS STRING) AS s")
    val t = GraftTable.create(spark, tmpTable(), rows(0, 1).schema)
    t.insert(rows(0, 50))
    val ext = Files.createTempDirectory("graft_csv_").toString
    rows(50, 100).coalesce(1).write.option("header", "true").mode("overwrite").csv(ext)
    t.addSegment(ext, "csv")
    t.renameColumn("s", "name")
    assert(t.schema.fieldNames.toSeq == Seq("k", "name"))
    val got = t.read.select("k", "name").collect()
    assert(got.length == 100)
    assert(got.map(_.getLong(0)).toSet == (0L until 100L).toSet)
    assert(got.forall(r => r.getString(1) == r.getLong(0).toString))
    assert(t.status.visible.forall(_.format == "parquet"))
  }

  test("ADD SEGMENT parquet registers from footers: zero Spark jobs, file stats on") {
    val src = spark.read.parquet(s"$sf/nation.parquet")
    val t = GraftTable.createAsSelect(spark, tmpTable(), src.filter(col("n_nationkey") < 10))
    val ext = Files.createTempDirectory("graft_extpq_").toString
    src.filter(col("n_nationkey") >= 10).coalesce(2)
      .write.mode("overwrite").parquet(ext)

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val id = t.addSegment(ext, "parquet")
      org.apache.spark.sql.graft.Shims.waitListenerBus(spark)
      assert(jobs.get == 0, s"ADD SEGMENT parquet must not run Spark jobs, ran ${jobs.get}")
      val seg = t.status.visible.find(_.id == id).get
      assert(seg.rowCount == 15, "footer row counts must be exact")
      assert(seg.fileMeta.nonEmpty, "adopted files must carry footer stats")
      assert(seg.fileMeta.values.map(_.rows).sum == 15)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(t.read.count() == 25)
  }

  test("Arrow export round-trips the table through IPC batches") {
    val src = spark.read.parquet(s"$sf/nation.parquet")
    val t = GraftTable.createAsSelect(spark, tmpTable(), src, Seq("n_nationkey"))
    val batches = t.toArrowBatches.collect()
    assert(batches.nonEmpty && batches.forall(_.nonEmpty))
    val back = org.apache.spark.sql.graft.Shims.fromArrowBatches(
      spark, batches.iterator, t.read.schema.json)
    assert(back.schema == t.read.schema)
    assert(back.count() == src.count())
    assert(back.agg(sum("n_nationkey")).collect().head.getLong(0) ==
      src.agg(sum("n_nationkey")).collect().head.getLong(0))
  }

  test("auto_compact_threshold merges small loads automatically") {
    val src = spark.read.parquet(s"$sf/region.parquet")
    val t = GraftTable.create(spark, tmpTable(), src.schema,
      properties = Map("auto_compact_threshold" -> "3"))
    t.insert(src); t.insert(src)
    assert(t.status.visible.size == 2) // below threshold: untouched
    t.insert(src)
    assert(t.status.visible.size == 1, "3rd load should trigger MINOR compaction")
    assert(t.read.count() == 15)
  }

  test("bloom_columns property writes parquet bloom filters") {
    val src = spark.read.parquet(s"$sf/customer.parquet")
    val t = GraftTable.create(spark, tmpTable(), src.schema,
      properties = Map("bloom_columns" -> "c_custkey"))
    t.insert(src)
    val seg = t.status.visible.head
    val file = t.layout.segmentFilePaths(seg).head
    val conf = new org.apache.hadoop.conf.Configuration()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), conf))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns
      val custkey = (0 until cols.size).map(cols.get)
        .find(_.getPath.toDotString == "c_custkey").get
      assert(custkey.getBloomFilterOffset > 0, "bloom filter missing for c_custkey")
    } finally reader.close()
  }

  test("CREATE INDEX bloom PROPERTIES: BLOOM_SIZE/BLOOM_FPP become parquet writer hints") {
    val src = spark.read.parquet(s"$sf/customer.parquet")
    val t = GraftTable.create(spark, tmpTable(), src.schema)
    t.insert(src)
    // reference bloomfilter-index-guide.md:33 PROPERTIES — mapped onto
    // parquet's per-column expected-NDV / FPP knobs, flowing to every
    // future load via the parquet.* property passthrough
    spark.sql(
      s"CREATE INDEX cb ON TABLE ${t.path} (c_custkey) AS 'bloomfilter' " +
        "PROPERTIES('BLOOM_SIZE'='640000', 'BLOOM_FPP'='0.00001')")
    val props = GraftTable.at(spark, t.path).meta.properties
    assert(props.get("bloom_columns").contains("c_custkey"))
    assert(props.get("parquet.bloom.filter.expected.ndv#c_custkey")
      .contains("640000"))
    assert(props.get("parquet.bloom.filter.fpp#c_custkey")
      .contains("0.00001"))
    // a bloom index has nothing to defer — loud error, not a silent no-op
    intercept[IllegalArgumentException] {
      spark.sql(
        s"CREATE INDEX cb2 ON TABLE ${t.path} (c_name) AS 'bloomfilter' WITH DEFERRED REFRESH")
    }
    // the next load's files carry the filter with the tuned params
    t.insert(src.limit(500))
    val seg = t.status.visible.last
    val file = t.layout.segmentFilePaths(seg).head
    val conf = new org.apache.hadoop.conf.Configuration()
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), conf))
    try {
      val cols = reader.getFooter.getBlocks.get(0).getColumns
      val custkey = (0 until cols.size).map(cols.get)
        .find(_.getPath.toDotString == "c_custkey").get
      assert(custkey.getBloomFilterOffset > 0,
        "tuned bloom filter missing for c_custkey on the post-index load")
    } finally reader.close()
  }
}
