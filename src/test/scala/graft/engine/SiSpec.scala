package graft.engine

import graft.engine.index.Si
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class SiSpec extends AnyFunSuite {
  import TestSpark._

  test("SI lookup prunes to the segments containing the value") {
    val src = spark.read.parquet(s"$sf/orders.parquet")
    val root = Files.createTempDirectory("graft_si_").toString
    val t = GraftTable.create(spark, s"$root/t", src.schema, Seq("o_orderkey"))
    // one segment per status: the SI can prove which segments hold a value
    Seq("O", "F", "P").foreach(s0 =>
      t.insert(src.filter(col("o_orderstatus") === s0)))

    Si.create(t, "o_orderstatus", s"$root/si_status")
    assert(Si.show(t).map(_._1) == Seq("o_orderstatus"))

    val q = Si.readWhereIn(t, "o_orderstatus", Seq("P"))
    // correctness: equals the direct filter
    val expected = src.filter(col("o_orderstatus") === "P").count()
    assert(q.count() == expected && expected > 0)
    // pruning: the scan reads only segment 2's files
    val scanned = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }.head match {
      case s => TestSpark.parquetScanOf(s).fileIndex.inputFiles.toSeq
    }
    assert(scanned.nonEmpty && scanned.forall(_.contains("/segments/2/")),
      s"expected only segment 2, scanned: $scanned")

    // a segment loaded AFTER the index build is outside the coverage
    // ledger — it must be scanned unindexed (no silent row loss), and
    // refresh folds it in so pruning resumes
    t.insert(src.filter(col("o_orderstatus") === "P").limit(10))
    assert(Si.readWhereIn(t, "o_orderstatus", Seq("P")).count() == expected + 10,
      "rows in unindexed segments must not be dropped")
    // compaction retires the indexed seg_ids; results must survive that too
    t.compact("MAJOR")
    assert(Si.readWhereIn(t, "o_orderstatus", Seq("P")).count() == expected + 10,
      "rows must survive compaction of indexed segments")
    Si.refresh(t, "o_orderstatus")
    assert(Si.readWhereIn(t, "o_orderstatus", Seq("P")).count() == expected + 10)

    // no matching segments → empty without scanning
    assert(Si.readWhereIn(t, "o_orderstatus", Seq("ZZ")).count() == 0)

    Si.drop(t, "o_orderstatus")
    assert(Si.show(t).isEmpty)
    // falls back to plain filtered read
    assert(Si.readWhereIn(t, "o_orderstatus", Seq("P")).count() == expected + 10)
  }

  test("deferred SI: zero coverage until REFRESH, correct throughout") {
    val src = spark.read.parquet(s"$sf/orders.parquet")
    val root = Files.createTempDirectory("graft_si_def_").toString
    val t = GraftTable.create(spark, s"$root/t", src.schema, Seq("o_orderkey"))
    Seq("O", "F").foreach(s0 =>
      t.insert(src.filter(col("o_orderstatus") === s0)))
    // WITH DEFERRED REFRESH: empty index table, zero coverage — lookups
    // scan unindexed (correct, unaccelerated) and SHOW reports DISABLED
    spark.sql(
      s"CREATE INDEX dsi ON TABLE ${t.path} (o_orderstatus) AS 'carbondata' WITH DEFERRED REFRESH")
    val expected = src.filter(col("o_orderstatus") === "F").count()
    assert(Si.readWhereIn(t, "o_orderstatus", Seq("F")).count() == expected)
    val (st1, sync1) = spark.sql(
        s"SHOW INDEXES ON TABLE ${t.path}")
      .collect().map(r => (r.getString(4), r.getString(5))).head
    assert(st1 == "DISABLED" && sync1.startsWith("0/2 segments"),
      s"expected a disabled 0/2 index, got ($st1, $sync1)")
    // REFRESH builds it: coverage complete, lookups prune again
    spark.sql(s"REFRESH INDEX dsi ON TABLE ${t.path}")
    val (st2, sync2) = spark.sql(
        s"SHOW INDEXES ON TABLE ${t.path}")
      .collect().map(r => (r.getString(4), r.getString(5))).head
    assert(st2 == "ENABLED" && sync2.startsWith("2/2 segments"),
      s"expected enabled 2/2 after REFRESH, got ($st2, $sync2)")
    val q = Si.readWhereIn(t, "o_orderstatus", Seq("F"))
    assert(q.count() == expected)
    val scanned = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }.head match {
      case s => TestSpark.parquetScanOf(s).fileIndex.inputFiles.toSeq
    }
    assert(scanned.nonEmpty && scanned.forall(_.contains("/segments/1/")),
      s"expected only segment 1 after refresh, scanned: $scanned")
  }

  test("SI file-grain: selective lookup opens fewer files than the segment holds") {
    val root = Files.createTempDirectory("graft_si_fg_").toString
    import spark.implicits._
    val df = (0L until 4000L).map(i => (i, s"name${i % 97}")).toDF("k", "name")
    val t = GraftTable.create(spark, s"$root/t", df.schema)
    // ONE segment whose rows are range-split over many files: a point
    // lookup's matches live in exactly one of them
    t.insert(df.repartitionByRange(8, col("k")))
    val segFiles = t.status.visible.head.files
    assert(t.status.visible.size == 1 && segFiles.size >= 4,
      s"fixture wants a multi-file segment, got ${segFiles.size} files")
    Si.create(t, "k", s"$root/si_k")

    val q = Si.readWhereIn(t, "k", Seq(7L))
    assert(q.count() == 1)
    // plan-asserted position grain: the scan's file index holds only the
    // SI-matched file(s), not the whole segment (segment-grain pruning
    // alone would still open all of them)
    val scanned = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }.head match {
      case s => TestSpark.parquetScanOf(s).fileIndex.inputFiles.toSeq
    }
    assert(scanned.nonEmpty && scanned.size < segFiles.size,
      s"expected < ${segFiles.size} files in the planned scan, got: $scanned")

    // metadata-only answers must NOT come from segment-wide stats on a
    // file-pinned read: min/max over one file's read is computed, and
    // differs from the segment-wide bounds
    val mm = Si.readWhereIn(t, "k", Seq(7L)).agg(min(col("k")), max(col("k"))).head()
    assert(mm.getLong(0) == 7L && mm.getLong(1) == 7L)
  }

  test("load-time auto-refresh: a fresh insert is index-covered without manual REINDEX") {
    val root = Files.createTempDirectory("graft_si_auto_").toString
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i, s"u${i % 10}")).toDF("k", "u")
    val t = GraftTable.create(spark, s"$root/t", df.schema)
    t.insert(df)
    val si = Si.create(t, "u", s"$root/si_u")
    // the reference's SILoadEventListener analog: insert folds the new
    // segment in automatically (index.autorefresh defaults true)
    t.insert(Seq((5000L, "u3")).toDF("k", "u"))
    assert(Si.indexedSegments(GraftTable.at(spark, s"$root/si_u")) == Set(0L, 1L),
      "new segment must enter the coverage ledger at load time")
    val q = Si.readWhereIn(t, "u", Seq("u3"))
    assert(q.count() == 101L)
    // file-grain pruning works on the new segment too: the lookup scan
    // is pinned to SI-matched files, not whole-segment fallbacks
    val scanned = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }.head match {
      case s => TestSpark.parquetScanOf(s).fileIndex.inputFiles.toSeq
    }
    val allFiles = t.status.visible.flatMap(_.files).size
    assert(scanned.nonEmpty && scanned.size <= allFiles)

    // opt-out for bulk backfills: coverage stays put, results stay
    // correct via the uncovered-segment fallback
    t.setProperties(Map("index.autorefresh" -> "false"))
    t.insert(Seq((6000L, "u3")).toDF("k", "u"))
    assert(Si.indexedSegments(GraftTable.at(spark, s"$root/si_u")) == Set(0L, 1L),
      "opted-out insert must not touch the ledger")
    assert(Si.readWhereIn(t, "u", Seq("u3")).count() == 102L)

    // a FAILED load records no phantom coverage: the aligned ANSI cast
    // blows up mid-write, the segment never publishes, ledger unchanged
    t.setProperties(Map("index.autorefresh" -> "true"))
    val before = Si.indexedSegments(GraftTable.at(spark, s"$root/si_u"))
    intercept[Exception] {
      t.insert(Seq(("boom", "zz")).toDF("k", "u"))
    }
    assert(Si.indexedSegments(GraftTable.at(spark, s"$root/si_u")) == before,
      "failed load must not extend index coverage")
    assert(Si.readWhereIn(t, "u", Seq("zz")).count() == 0L)
  }

  test("file-grain overflow check runs on the RAW hit count, not post-visibility") {
    // A stale SI holding retired seg_ids must not let them consume limit
    // slots and sneak a truncated file list under the cap: the degrade
    // decision is made on the raw collected count, BEFORE the visibility
    // filter, so an over-cap lookup always falls back to segment grain.
    val root = Files.createTempDirectory("graft_si_ovf_").toString
    import spark.implicits._
    val df = (0L until 4000L).map(i => (i % 2, i)).toDF("flag", "k")
    val t = GraftTable.create(spark, s"$root/t", df.schema)
    // two segments, 'flag' values live in every file of both
    t.insert(df.filter(col("k") < 2000L).repartition(4))
    t.insert(df.filter(col("k") >= 2000L).repartition(4))
    Si.create(t, "flag", s"$root/si_flag")
    // compaction retires segs 0+1; REINDEX folds the successor in but
    // the stale seg-0/1 postings remain in the SI table
    t.compact("MAJOR")
    Si.repair(t, "flag")
    val vis = t.status.visible
    assert(vis.size == 1 && vis.head.id > 1L, "compaction must retire segs 0+1")
    val visFiles = vis.head.files.size
    val stale = GraftTable.at(spark, s"$root/si_flag").read
      .filter(col("seg_id") < 2L).count()
    assert(stale > 0, "fixture wants stale retired-segment postings in the SI")

    // cap below the raw hit count (stale + fresh): must degrade to
    // segment grain — ALL the visible segment's files planned, none
    // silently dropped
    val q = Si.readWhereIn(t, "flag", Seq(1L), maxFileHits = 2)
    assert(q.count() == 2000L)
    val scanned = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }.head match {
      case s => TestSpark.parquetScanOf(s).fileIndex.inputFiles.toSeq
    }
    assert(scanned.size == visFiles,
      s"over-cap lookup must scan the whole segment ($visFiles files), got ${scanned.size}")
  }

  test("SI file-grain round-trips partition subdir paths") {
    val root = Files.createTempDirectory("graft_si_part_").toString
    import spark.implicits._
    val df = (0L until 900L).map(i => (i, (i % 3).toInt, s"u${i % 11}"))
      .toDF("k", "p", "u")
    val t = GraftTable.create(spark, s"$root/t", df.schema,
      partitionColumns = Seq("p"))
    t.insert(df)
    // partitioned layout: SegmentMeta.files carry the __p_p=<v>/ prefix
    assert(t.status.visible.head.files.forall(_.startsWith("__p_p=")),
      t.status.visible.head.files.take(3).toString)
    Si.create(t, "u", s"$root/si_u")
    val q = Si.readWhereIn(t, "u", Seq("u7"))
    val expect = df.filter(col("u") === "u7").count()
    assert(q.count() == expect && expect > 0)
    // the planned scan resolved the partition-prefixed rel paths
    val scanned = q.queryExecution.executedPlan.collect {
      case b: BatchScanExec => b.scan
    }.head match {
      case s => TestSpark.parquetScanOf(s).fileIndex.inputFiles.toSeq
    }
    assert(scanned.nonEmpty && scanned.forall(_.contains("__p_p=")),
      scanned.take(3).toString)
  }

  test("compaction folds the merged segment into SI coverage automatically") {
    val root = Files.createTempDirectory("graft_si_compact_").toString
    import spark.implicits._
    val t = GraftTable.create(spark, s"$root/t",
      Seq((0L, "u0")).toDF("k", "u").schema)
    (0 until 4).foreach { b =>
      t.insert((0L until 250L).map(i => (b * 1000L + i, s"u${i % 10}")).toDF("k", "u"))
    }
    Si.create(t, "u", s"$root/si_u")
    assert(Si.indexedSegments(GraftTable.at(spark, s"$root/si_u")) == Set(0L, 1L, 2L, 3L))
    val merged = t.compact("MINOR", minorThreshold = 4)
    assert(merged.isDefined, "four small segments should minor-compact")
    // the reference SI compaction-listener analog: the merged segment
    // enters the ledger without a manual REINDEX, so lookups keep their
    // index pruning (retired victims drop out via visibility)
    assert(Si.indexedSegments(GraftTable.at(spark, s"$root/si_u"))
      .contains(merged.get),
      "merged segment must be index-covered after compaction")
    assert(Si.readWhereIn(t, "u", Seq("u3")).count() == 100L)
  }
}
