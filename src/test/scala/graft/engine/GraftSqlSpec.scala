package graft.engine

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class GraftSqlSpec extends AnyFunSuite {
  import TestSpark._

  // spec-local catalog name: a catalog binds its warehouse at first use
  private lazy val wh: String = {
    val w = Files.createTempDirectory("graft_sqlwh_").toString
    spark.conf.set("spark.sql.catalog.gsql", "graft.engine.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gsql.warehouse", w)
    w
  }

  test("MERGE INTO SQL: update, conditional delete, insert *") {
    val src = spark.read.parquet(s"$sf/customer.parquet")
    val t = GraftTable.createAsSelect(spark, s"$wh/msql/cust", src, Seq("c_custkey"))
    src.filter(col("c_custkey") < 60)
      .withColumn("c_acctbal", col("c_acctbal") + 1000.0)
      .createOrReplaceTempView("cust_updates")
    spark.sql(
      """MERGE INTO gsql.msql.cust AS a USING cust_updates AS b
         ON a.c_custkey = b.c_custkey
         WHEN MATCHED AND a.c_acctbal < 0 THEN DELETE
         WHEN MATCHED THEN UPDATE SET c_acctbal = b.c_acctbal, c_mktsegment = concat(a.c_mktsegment, '!')
         WHEN NOT MATCHED THEN INSERT *""")
    val expected = src
      .filter(col("c_custkey") >= 60 || col("c_acctbal") >= 0)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        when(col("c_custkey") < 60, col("c_acctbal") + 1000.0)
          .otherwise(col("c_acctbal")).as("c_acctbal"),
        when(col("c_custkey") < 60, concat(col("c_mktsegment"), lit("!")))
          .otherwise(col("c_mktsegment")).as("c_mktsegment"))
    val got = t.read.select(expected.columns.map(col).toSeq: _*)
    assert(got.collect().map(_.toString).sorted
      .sameElements(expected.collect().map(_.toString).sorted))
  }

  test("MERGE INTO SQL: explicit INSERT (cols) VALUES (exprs)") {
    import spark.implicits._
    val t = GraftTable.createAsSelect(spark, s"$wh/msql2/tt",
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    Seq((2L, "B"), (3L, "C")).toDF("k", "v").createOrReplaceTempView("msrc")
    spark.sql(
      """MERGE INTO gsql.msql2.tt USING msrc ON tt.k = msrc.k
         WHEN MATCHED THEN UPDATE SET v = upper(msrc.v)
         WHEN NOT MATCHED THEN INSERT (k, v) VALUES (msrc.k, concat('new_', msrc.v))""")
    val got = t.read.as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "B"), (3L, "new_C")))
  }

  test("UPDATE subquery alias normalization is quote-aware (literals survive)") {
    val root = Files.createTempDirectory("graft_msql3_").toString
    import spark.implicits._
    val t = GraftTable.createAsSelect(spark, s"$root/t",
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    Seq((1L, "x")).toDF("k", "v").createOrReplaceTempView("qsrc")
    // 'a.' and 'qsrc.' inside the string literal must NOT be rewritten;
    // the same tokens outside literals must be
    spark.sql(
      s"""UPDATE ${t.path} AS a SET (v) = (
            SELECT concat(qsrc.v, ' a.b qsrc.c ', a.v) FROM qsrc WHERE qsrc.k = a.k)""")
    val got = t.read.as[(Long, String)].collect().toSet
    assert(got == Set((1L, "x a.b qsrc.c a"), (2L, "b")))
  }

  test("CREATE STREAM / SHOW STREAMS / DROP STREAM SQL") {
    val root = Files.createTempDirectory("graft_strsql_").toString
    import spark.implicits._
    val schema = Seq((0L, "x")).toDF("id", "v").schema
    val t = GraftTable.create(spark, s"$root/sink", schema, Seq("id"))
    val srcDir = s"$root/in"
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .write.mode("append").parquet(srcDir)
    spark.readStream.schema(schema).parquet(srcDir)
      .createOrReplaceTempView("stream_in")
    spark.sql(
      s"""CREATE STREAM ssql ON TABLE ${t.path}
          STMPROPERTIES('checkpoint'='$root/ckpt')
          AS SELECT id, v FROM stream_in""")
    try {
      graft.engine.streaming.StreamManager.query("ssql").get.processAllAvailable()
      assert(t.read.count() == 2)
      val shown = spark.sql("SHOW STREAMS").collect()
      assert(shown.exists(r => r.getString(0) == "ssql" && r.getString(2) == "RUNNING"))
    } finally spark.sql("DROP STREAM ssql")
    assert(graft.engine.streaming.StreamManager.query("ssql").isEmpty)
    // a non-streaming source is rejected loudly
    Seq((1L, "a")).toDF("id", "v").createOrReplaceTempView("not_stream")
    val e = intercept[IllegalArgumentException](spark.sql(
      s"CREATE STREAM s2 ON TABLE ${t.path} AS SELECT * FROM not_stream"))
    assert(e.getMessage.contains("streaming source"))
  }

  test("CREATE STREAM builds its own source from a streaming-source table") {
    val root = Files.createTempDirectory("graft_strsrc_").toString
    import spark.implicits._
    val schema = Seq((0L, "x")).toDF("id", "v").schema
    val sink = GraftTable.create(spark, s"$root/sink2", schema, Seq("id"))
    // raw csv landing dir — no pre-registered readStream view anywhere
    val csvDir = s"$root/landing"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(csvDir))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$csvDir/batch0.csv"),
      "1,a\n2,b\n3,c\n".getBytes)
    // the SOURCE table: schema + TBLPROPERTIES describe the feed
    // (reference CarbonCreateStreamCommand builds the reader from these)
    val src = GraftTable.create(spark, s"$root/feed", schema)
    src.setProperties(Map(
      "streaming" -> "source", "format" -> "csv", "path" -> csvDir))
    spark.sql(
      s"""CREATE STREAM scsv ON TABLE ${sink.path}
          STMPROPERTIES('checkpoint'='$root/ckpt2')
          AS SELECT id, v FROM `${src.path}`""")
    try {
      graft.engine.streaming.StreamManager.query("scsv").get.processAllAvailable()
      assert(sink.read.as[(Long, String)].collect().toSet ==
        Set((1L, "a"), (2L, "b"), (3L, "c")))
      // new files keep flowing
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$csvDir/batch1.csv"),
        "4,d\n".getBytes)
      graft.engine.streaming.StreamManager.query("scsv").get.processAllAvailable()
      assert(sink.read.count() == 4)
    } finally spark.sql("DROP STREAM scsv")
    // an unknown source format fails loudly at CREATE time
    val bad = GraftTable.create(spark, s"$root/badfeed", schema)
    bad.setProperties(Map(
      "streaming" -> "source", "format" -> "avro2", "path" -> csvDir))
    val e2 = intercept[IllegalArgumentException](spark.sql(
      s"CREATE STREAM s3 ON TABLE ${sink.path} AS SELECT * FROM `${bad.path}`"))
    assert(e2.getMessage.contains("unsupported streaming source format"))
  }

  test("SHOW BENCHMARK FOR TABLE times footer/scan/per-column reads per file") {
    val root = Files.createTempDirectory("graft_sbench_").toString
    import spark.implicits._
    val t = GraftTable.createAsSelect(spark, s"$root/t",
      (0L until 500L).map(i => (i, s"v$i", i * 0.5)).toDF("k", "v", "w"))
    val out = spark.sql(
      s"SHOW BENCHMARK FOR TABLE `${t.path}` LIMIT 2").collect()
    val ops = out.map(_.getString(2)).toSet
    assert(ops.contains("footer") && ops.contains("scan_all"))
    assert(Set("scan:k", "scan:v", "scan:w").subsetOf(ops), s"got $ops")
    assert(out.forall(_.getLong(3) >= 0L))
    val files = out.map(r => (r.getLong(0), r.getString(1))).distinct
    assert(files.nonEmpty && files.length <= 2)
  }

  test("CREATE STREAM kafka source: options + value parsing (no broker: plan only)") {
    import spark.implicits._
    // option resolution from TBLPROPERTIES (reference
    // CarbonCreateStreamCommand.scala:82-85)
    val opts = GraftSql.kafkaSourceOptions(Map(
      "kafka.bootstrap.servers" -> "b1:9092,b2:9092", "topic" -> "events",
      "starting_offsets" -> "latest"), "p")
    assert(opts == Map("kafka.bootstrap.servers" -> "b1:9092,b2:9092",
      "subscribe" -> "events", "startingOffsets" -> "latest"))
    assert(GraftSql.kafkaSourceOptions(Map(
        "bootstrap_servers" -> "b:9092", "subscribe_pattern" -> "ev.*"), "p")
      .get("subscribePattern").contains("ev.*"))
    intercept[IllegalArgumentException](
      GraftSql.kafkaSourceOptions(Map("topic" -> "t"), "p"))
    intercept[IllegalArgumentException](
      GraftSql.kafkaSourceOptions(Map("bootstrap_servers" -> "b"), "p"))

    // the message-value parsers over a kafka-wire-shaped frame (key and
    // value are BINARY on the wire) must yield exactly the table schema
    val schema = Seq((0L, "x", 0.0)).toDF("id", "v", "w").schema
    val wire = Seq(
      ("k1".getBytes("UTF-8"), "7,a,1.5".getBytes("UTF-8"), "t", 0, 0L),
      ("k2".getBytes("UTF-8"), "8,b,2.5".getBytes("UTF-8"), "t", 0, 1L))
      .toDF("key", "value", "topic", "partition", "offset")
    val parsed = GraftSql.parseDelimitedValue(wire, schema, ",")
    assert(parsed.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      schema.fields.map(f => (f.name, f.dataType)).toSeq)
    assert(parsed.as[(Long, String, Double)].collect().toSet ==
      Set((7L, "a", 1.5), (8L, "b", 2.5)))
    val wireJ = Seq("""{"id": 7, "v": "a", "w": 1.5}""".getBytes("UTF-8"))
      .toDF("value")
    assert(GraftSql.parseJsonValue(wireJ, schema)
      .as[(Long, String, Double)].collect().toSet == Set((7L, "a", 1.5)))

    // CREATE STREAM really routes a kafka-format source table to the
    // kafka provider: in this connector-less sandbox the load dies in
    // data-source lookup NAMING kafka — proving the branch is wired
    // (with spark-sql-kafka on the classpath it proceeds to ingest)
    val root = Files.createTempDirectory("graft_kafka_").toString
    val sink = GraftTable.create(spark, s"$root/sink", schema, Seq("id"))
    val feed = GraftTable.create(spark, s"$root/feed", schema)
    feed.setProperties(Map("streaming" -> "source", "format" -> "kafka",
      "kafka.bootstrap.servers" -> "localhost:9092", "topic" -> "events"))
    val e = intercept[Exception](spark.sql(
      s"""CREATE STREAM skafka ON TABLE ${sink.path}
          STMPROPERTIES('checkpoint'='$root/ckpt')
          AS SELECT id, v, w FROM `${feed.path}`"""))
    assert(e.getMessage.toLowerCase.contains("kafka"), e.getMessage)
  }

  test("UPDATE … SET (…) = (SELECT …) and tuple form route through the engine") {
    val root = Files.createTempDirectory("graft_updsq_").toString
    import spark.implicits._
    val t = GraftTable.createAsSelect(spark, s"$root/t",
      Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)).toDF("k", "v", "x"))
    Seq((1L, "A1"), (3L, "C3"), (9L, "Z9")).toDF("k", "nv")
      .createOrReplaceTempView("updsq_src")
    // correlated subquery form → MergeBuilder; outer WHERE gates rows
    spark.sql(
      s"""UPDATE ${t.path} AS u SET (v) = (
            SELECT s.nv FROM updsq_src s WHERE s.k = u.k)
          WHERE u.x < 25.0""")
    assert(t.read.as[(Long, String, Double)].collect().toSet ==
      Set((1L, "A1", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)))
    // tuple form: plain multi-assignment
    spark.sql(
      s"UPDATE ${t.path} SET (v, x) = ('zz', x + 1.0) WHERE k = 2")
    assert(t.read.as[(Long, String, Double)].collect().toSet ==
      Set((1L, "A1", 10.0), (2L, "zz", 21.0), (3L, "c", 30.0)))
    // column/select arity mismatch fails loudly
    val e = intercept[IllegalArgumentException](spark.sql(
      s"UPDATE ${t.path} SET (v, x) = (SELECT s.nv FROM updsq_src s WHERE s.k = k)"))
    assert(e.getMessage.contains("columns"))
  }

  test("SCD2 history action archives pre-images of updated/deleted rows") {
    val root = Files.createTempDirectory("graft_scd2_").toString
    import spark.implicits._
    val t = GraftTable.createAsSelect(spark, s"$root/t",
      Seq((1L, "a", 10.0), (2L, "b", -5.0), (3L, "c", 7.0)).toDF("k", "v", "bal"))
    val histSchema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("bal", DoubleType), StructField("__op", StringType),
      StructField("__merge_ts", LongType)))
    val hist = GraftTable.create(spark, s"$root/hist", histSchema)
    val srcDf = Seq((1L, "A"), (2L, "B")).toDF("k", "nv")
    t.merge(srcDf, col("t.k") === col("s.k"))
      .withHistory(hist, ts = 12345L)
      .whenMatched(col("t.bal") < 0).delete()
      .whenMatched().updateExpr(Map("v" -> col("s.nv")))
      .execute()
    assert(t.read.as[(Long, String, Double)].collect().toSet ==
      Set((1L, "A", 10.0), (3L, "c", 7.0)))
    val h = hist.read.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getString(3), r.getLong(4))).toSet
    assert(h == Set((1L, "a", "UPDATE", 12345L), (2L, "b", "DELETE", 12345L)))
  }

  test("command surface: SHOW SEGMENTS / COMPACT / segment DELETE / CLEAN FILES") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_cmd_").toString
    val t = GraftTable.create(spark, s"$root/t",
      Seq((1L, "a")).toDF("k", "v").schema, Seq("k"))
    (0 until 4).foreach(i => t.insert(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    val tt = s"`${t.path}`"

    val segs = spark.sql(s"SHOW SEGMENTS FOR TABLE $tt")
    assert(segs.count() == 4)
    assert(segs.columns.toSeq ==
      Seq("id", "status", "format", "row_count", "size_bytes", "file_count"))

    // SHOW SEGMENTS … AS <select>: the registry is queryable as
    // <table>_segments (reference CarbonShowSegmentsAsSelectCommand)
    val asSel = spark.sql(
      s"""SHOW SEGMENTS FOR TABLE $tt AS
         SELECT id, row_count FROM t_segments
         WHERE row_count >= 1 AND status = 'SUCCESS' ORDER BY id""")
    assert(asSel.columns.toSeq == Seq("id", "row_count"))
    assert(asSel.collect().map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    // aggregates over the registry work too
    val agg = spark.sql(
      s"SHOW SEGMENTS ON $tt AS SELECT sum(row_count) AS r FROM t_segments")
    assert(agg.collect().head.getLong(0) == 4L)

    // CUSTOM compaction of two named segments
    spark.sql(s"ALTER TABLE $tt COMPACT 'CUSTOM' WHERE SEGMENT.ID IN (0, 1)")
    assert(t.status.visible.size == 3 && t.read.count() == 4)

    // retire one segment by id, then physically clean it
    val vis = t.status.visible.map(_.id).min
    spark.sql(s"DELETE FROM TABLE $tt WHERE SEGMENT.ID IN ($vis)")
    assert(t.status.visible.size == 2)
    val cleaned = spark.sql(s"CLEAN FILES FOR TABLE $tt")
    assert(cleaned.collect().map(_.getLong(0)).nonEmpty)

    // the GC'd entries stay visible via SHOW HISTORY SEGMENTS …
    val plainN = spark.sql(s"SHOW SEGMENTS FOR TABLE $tt").count()
    val histN = spark.sql(s"SHOW HISTORY SEGMENTS FOR TABLE $tt").count()
    assert(histN > plainN, s"history ($histN) must exceed current ($plainN)")
    // … and LIMIT caps the (id-descending) listing
    assert(spark.sql(
      s"SHOW HISTORY SEGMENTS FOR TABLE $tt LIMIT 2").count() == 2)

    // MAJOR compaction via SQL merges the remaining small segments
    spark.sql(s"ALTER TABLE $tt COMPACT 'MAJOR'")
    assert(t.status.visible.size == 1)

    // DESCRIBE returns the schema + properties + metrics rows
    val desc = spark.sql(s"DESCRIBE FORMATTED TABLE $tt")
    assert(desc.filter(col("kind") === "column").count() == 2)

    // DESCRIBE COLUMN drills into complex children; DESCRIBE SHORT
    // abbreviates them (reference CarbonDescribeColumn/ShortCommand)
    val nestedSchema = StructType(Seq(
      StructField("id", LongType),
      StructField("meta", StructType(Seq(
        StructField("name", StringType),
        StructField("tags", org.apache.spark.sql.types.ArrayType(StringType)))))))
    val tn = GraftTable.create(spark, s"$root/tnested", nestedSchema)
    val tnRef = s"`${tn.path}`"
    val dc = spark.sql(s"DESC COLUMN meta ON TABLE $tnRef")
    assert(dc.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("name", "string"), ("tags", "array<string>")))
    val dcDeep = spark.sql(s"DESCRIBE COLUMN meta.tags ON $tnRef")
    assert(dcDeep.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("element", "string")))
    val ds = spark.sql(s"DESC SHORT $tnRef")
    assert(ds.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("id", "bigint"), ("meta", "struct<...>")))
    // anything else is Spark's own statement, parsed by Spark's parser
    val plain = "SELECT k, count(*) FROM t GROUP BY k"
    assert(spark.sessionState.sqlParser.parsePlan(plain) ==
      new org.apache.spark.sql.execution.SparkSqlParser().parsePlan(plain))
  }

  test("command surface: MV lifecycle via SQL") {
    val root = Files.createTempDirectory("graft_cmdmv_").toString
    spark.read.parquet(s"$sf/lineitem.parquet").createOrReplaceTempView("li_cmd")
    spark.sql(
      s"""CREATE MATERIALIZED VIEW mv_cmd STORED AT '$root/mv' AS
          SELECT l_returnflag, count(*) AS cnt FROM li_cmd GROUP BY l_returnflag""")
    try {
      assert(graft.engine.mv.MvCatalog.get("mv_cmd").isDefined)
      assert(GraftTable.at(spark, s"$root/mv").read.count() == 3)
      spark.sql("REFRESH MATERIALIZED VIEW mv_cmd")
    } finally {
      spark.sql("DROP MATERIALIZED VIEW mv_cmd")
      assert(graft.engine.mv.MvCatalog.get("mv_cmd").isEmpty)
    }
  }

  test("EXPLAIN surfaces segment pruning, SI pins, and MV serving") {
    import graft.engine.index.Si
    val root = Files.createTempDirectory("graft_explain_").toString
    val src = spark.read.parquet(s"$sf/orders.parquet")
    val t = GraftTable.create(spark, s"$root/t", src.schema,
      Seq("o_orderdate", "o_orderkey"))
    val c1 = lit("1995-01-01").cast("timestamp")
    val c2 = lit("1997-01-01").cast("timestamp")
    t.insert(src.filter(col("o_orderdate") < c1))
    t.insert(src.filter(col("o_orderdate") >= c1 && col("o_orderdate") < c2))
    t.insert(src.filter(col("o_orderdate") >= c2))

    // 1) segment min/max pruning appears for a sort-column filter
    t.read.createOrReplaceTempView("ord_ex")
    val pruned = spark.sql(
      "EXPLAIN SELECT count(*) AS c FROM ord_ex WHERE o_orderdate >= TIMESTAMP '1997-06-01'").collect().head.getString(0)
    assert(pruned.contains("== Graft =="), pruned)
    assert(pruned.contains("min/max skip: kept 1/3 segments"), pruned)

    // 2) SI-pinned read reports its grain and pin counts (API form —
    // the frame is built inside the explain scope)
    Si.create(t, "o_orderstatus", s"$root/si")
    val siText = GraftExplain.explain(spark,
      Si.readWhereIn(t, "o_orderstatus", Seq("P")))
    assert(siText.contains("SI(o_orderstatus)"), siText)
    assert(siText.contains("pinned"), siText)
    assert(siText.contains("pinned segments [") ||
      siText.contains("position grain"), siText)

    // 3) MV-served query names the MV in the Graft section
    graft.engine.mv.Mv.create(spark, "mv_ex",
      t.read.groupBy("o_orderstatus").agg(count(lit(1)).as("cnt")),
      s"$root/mv")
    try {
      val mvText = spark.sql(
        "EXPLAIN SELECT o_orderstatus, count(*) AS cnt FROM ord_ex GROUP BY o_orderstatus").collect().head.getString(0)
      assert(mvText.contains("MV 'mv_ex' served"), mvText)
      // EXTENDED mode still carries the Graft section
      val ext = spark.sql(
        "EXPLAIN EXTENDED SELECT o_orderstatus, count(*) AS cnt FROM ord_ex GROUP BY o_orderstatus").collect().head.getString(0)
      assert(ext.contains("== Graft ==") && ext.contains("== Parsed Logical Plan =="), ext)
    } finally graft.engine.mv.Mv.drop(spark, "mv_ex")
  }

  test("EXPLAIN previews the bloom row-group skip and vector probe stats") {
    val root = Files.createTempDirectory("graft_explain_bv_").toString
    // bloom fixture: high-cardinality k dealt round-robin so min-max
    // stats keep everything; tiny row groups so blooms have groups to
    // skip (same adversarial shape as BloomPruneSpec)
    val src = spark.range(0, 40000).select(
      col("id").as("k"),
      concat(lit("v"), lpad((col("id") % 97).cast("string"), 4, "0")).as("v"),
      sha2(concat(lit("pad"), col("id").cast("string")), 256).as("pad"))
      .repartition(2)
    val t = GraftTable.create(spark, s"$root/t", src.schema,
      sortColumns = Seq("v"),
      properties = Map(
        "bloom_columns" -> "k",
        "parquet.block.size" -> "65536",
        "parquet.bloom.filter.expected.ndv#k" -> "40000"))
    t.insert(src)
    val bloomText = GraftExplain.explain(spark,
      t.read.filter(col("k") === 421L))
    assert(bloomText.contains("bloom row-group skip: blooms keep"), bloomText)
    // the preview must show blooms strictly beating stats on this fixture
    val m = "blooms keep (\\d+)/(\\d+) row group\\(s\\) \\(min-max stats alone keep (\\d+)\\)".r
    val hit = m.findFirstMatchIn(bloomText).getOrElse(fail(bloomText))
    // round-robin keys leave min-max nearly blind (boundary groups may
    // still fall to stats): blooms must beat stats by a wide margin,
    // stats must keep the great majority — structural, not exact, since
    // repartition(2) deals keys nondeterministically across runs
    val (bloomKept, total, statsKept) =
      (hit.group(1).toInt, hit.group(2).toInt, hit.group(3).toInt)
    assert(bloomKept * 5 <= statsKept, bloomText)
    assert(statsKept * 4 >= total * 3, bloomText)

    // vector index probe stats: served/exact split + nprobe/nlist
    import graft.engine.index.VectorIndex
    val emb = spark.range(0, 300).select(col("id").cast("long").as("vec_id"),
      org.apache.spark.sql.functions.transform(
        sequence(lit(1), lit(8)),
        i => ((col("id") * 31 + i * 7) % 13).cast("double")).as("embedding"))
    val vt = GraftTable.createAsSelect(spark, s"$root/vt", emb)
    VectorIndex.create(vt, "vec_id", "embedding", s"$root/vt_idx",
      VectorIndex.Params(dim = 8, nlist = 4, m = 4, ksub = 8))
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("id"),
        graft.ops.Ann.quantize(col("embedding")).as("qv"))
      .withColumn("nq", graft.ops.Ann.normQ(col("qv")))
    val vecText = GraftExplain.explain(spark,
      VectorIndex.search(vt, "embedding", queries, 3, nprobe = 2, rerank = 50))
    assert(vecText.contains("VectorIndex(embedding): 1/1 segments served"), vecText)
    assert(vecText.contains("nprobe=2/4"), vecText)
  }

  test("Spark's own statements pass through an extension session unchanged") {
    import org.apache.spark.sql.SparkSession
    val root = Files.createTempDirectory("graft_pass_").toString
    val plain = plainSession()
    assert(!plain.sessionState.sqlParser.isInstanceOf[GraftSqlParser])
    // the same plan but for the fresh expression ids each parse mints
    def same(q: String): Unit = {
      def shape(s: SparkSession) =
        s.sessionState.sqlParser.parsePlan(q).treeString.replaceAll("#\\d+", "#")
      assert(shape(spark) == shape(plain), q)
    }
    def rows(s: SparkSession, q: String): Seq[String] = s.sql(q).collect().map(_.toString).toSeq
    // spark_catalog parquet tables, one per session
    Seq(spark -> "pass_ext", plain -> "pass_plain").foreach { case (s, n) =>
      s.sql(s"CREATE TABLE default.$n (k INT, v STRING) USING parquet LOCATION '$root/$n'")
      s.sql(s"ALTER TABLE default.$n SET TBLPROPERTIES ('note'='n1')")
      s.sql(s"CREATE TABLE default.${n}_like LIKE default.$n LOCATION '$root/${n}_like'")
    }
    try {
      Seq("DESCRIBE TABLE default.pass_ext", "ALTER TABLE default.pass_ext SET TBLPROPERTIES ('note'='n1')",
        "CREATE TABLE default.pass_x LIKE default.pass_ext").foreach(same)
      assert(rows(spark, "DESCRIBE TABLE default.pass_ext") == rows(plain, "DESCRIBE TABLE default.pass_plain"))
      assert(rows(spark, "SHOW TBLPROPERTIES default.pass_ext ('note')") ==
        rows(plain, "SHOW TBLPROPERTIES default.pass_plain ('note')"))
      assert(rows(spark, "DESCRIBE TABLE default.pass_ext_like") ==
        rows(plain, "DESCRIBE TABLE default.pass_plain_like"))
    } finally Seq("pass_ext", "pass_plain", "pass_ext_like", "pass_plain_like")
      .foreach(n => spark.sql(s"DROP TABLE IF EXISTS default.$n"))

    // Spark's DESCRIBE TABLE on a graft catalog name
    Seq(spark, plain).foreach { s =>
      s.conf.set("spark.sql.catalog.gpass", "graft.engine.catalog.GraftCatalog")
      s.conf.set("spark.sql.catalog.gpass.warehouse", s"$root/wh")
    }
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gpass.ns")
    spark.sql("CREATE TABLE gpass.ns.t (k INT, v STRING) USING carbonish")
    same("DESCRIBE TABLE gpass.ns.t")
    assert(rows(spark, "DESCRIBE TABLE gpass.ns.t") == rows(plain, "DESCRIBE TABLE gpass.ns.t"))
    // a plain SELECT parses to the delegate's plan
    same("SELECT k, count(*) FROM gpass.ns.t WHERE v LIKE 'a%' GROUP BY k")
  }
}
