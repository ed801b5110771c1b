package graft.engine

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Merge-on-read IUD: DELETE/UPDATE write per-file delete-delta
  * position files (the reference's immutable-file model,
  * dml-of-carbondata.md:406-409) instead of rewriting parquet; scans
  * anti-filter by row index; horizontal compaction bounds delta
  * fan-out; copy-on-write paths and compaction fold deltas away. */
class MorSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(): String = Files.createTempDirectory("graft_mor_").toString + "/t"

  /** one segment, 4 globally-sorted files, MoR mode on */
  private def mk(props: Map[String, String] = Map.empty): GraftTable = {
    val src = spark.range(0, 4000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    val t = GraftTable.create(spark, tmp(), src.schema, sortColumns = Seq("k"),
      properties = Map("global_sort_partitions" -> "4", "iud_mode" -> "mor") ++ props)
    t.insert(src)
    t
  }

  test("MoR delete writes deltas, rewrites nothing, reads stay exact") {
    val t = mk()
    val seg0 = t.status.visible.head
    assert(seg0.files.size == 4)

    val deleted = t.delete(col("k") % 100 === 7L) // scattered: every file hit
    assert(deleted == 40L)

    val vis = t.status.visible
    assert(vis.size == 1 && vis.head.id == seg0.id, "no new segment, no retirement")
    val s = vis.head
    assert(s.files == seg0.files, "data files must not be rewritten")
    assert(s.deltas.size == 4, "every hit file carries a delta")
    assert(s.rowCount == 3960, "live count decremented exactly")
    assert(s.files.forall(f => s.fileMeta(f).rows == seg0.fileMeta(f).rows - 10))

    // DSv2 read path applies the anti-filter
    assert(t.read.count() == 3960)
    assert(t.read.filter(col("k") % 100 === 7L).count() == 0)
    assert(t.read.filter(col("k") === 8L).count() == 1)
    // metadata count(*) stays zero-IO correct (live counts)
    assert(t.countStar == 3960)
    val agg = t.read.agg(count(lit(1))).queryExecution.executedPlan.toString
    assert(agg.contains("LocalTableScan") && !agg.contains("BatchScan"),
      s"metadata count must still fire (zero files):\n$agg")
    // tupleId (v1) path masks deltas too
    assert(t.readWithTupleId().count() == 3960)
  }

  test("RENAME and CHANGE DATATYPE keep merge-on-read deletes") {
    // both rewrite every visible row under the new schema; the rewrite
    // must read through the delete mask, not the raw data files
    val renamed = mk()
    assert(renamed.delete(col("k") % 100 === 7L) == 40L)
    renamed.renameColumn("v", "w")
    assert(renamed.read.count() == 3960 && renamed.countStar == 3960)
    assert(renamed.read.filter(col("k") % 100 === 7L).count() == 0)

    val retyped = mk()
    assert(retyped.delete(col("k") % 100 === 7L) == 40L)
    retyped.changeColumnType("v", org.apache.spark.sql.types.StringType)
    assert(retyped.read.count() == 3960 && retyped.countStar == 3960)
    assert(retyped.read.filter(col("k") % 100 === 7L).count() == 0)
  }

  test("maintenance reads load delta positions on executors only (no driver materialization)") {
    // deltas on EVERY file of a multi-file segment; threshold high so
    // horizontal compaction (a legitimate per-file driver fold) stays out
    val t = mk(Map("horizontal_compaction_threshold" -> "100"))
    assert(t.delete(col("k") % 100 === 7L) == 40L)
    assert(t.status.visible.head.deltas.size == 4, "every file must carry a delta")

    import graft.engine.format.Deltas
    Deltas.ReadProbe.reset()
    try {
      // v1 tupleId read masks deltas
      assert(t.readWithTupleId().count() == 3960)
      // pagination over delta-bearing files
      assert(t.page(0, 50).count() == 50)
      // a second MoR mutation: its match scan masks the existing deltas
      assert(t.update(col("k") === 8L, Map("v" -> lit(-1.0))) == 1L)
    } finally Deltas.ReadProbe.stop()

    import scala.jdk.CollectionConverters._
    val threads = Deltas.ReadProbe.threads.asScala.toSet
    assert(threads.nonEmpty, "probe saw no delta-position reads at all")
    val offExecutor = threads.filterNot(_.startsWith("Executor task launch worker"))
    assert(offExecutor.isEmpty,
      s"delta positions were materialized outside executor tasks: $offExecutor")
  }

  test("metadata MIN/MAX answers are disabled under deltas (stats may be stale)") {
    val t = mk()
    t.delete(col("k") >= 3990L) // shaves the max
    assert(t.status.visible.head.deltas.nonEmpty)
    val df = t.read.agg(min(col("k")).as("mn"), max(col("k")).as("mx"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan") && !plan.contains("LocalTableScan"),
      s"metadata MIN/MAX must fall back to a scan under deltas:\n$plan")
    val r = df.collect()(0)
    assert(r.getLong(0) == 0L && r.getLong(1) == 3989L)
  }

  test("second delete on a file triggers horizontal compaction to one delta") {
    val t = mk()
    t.delete(col("k") === 5L)
    t.delete(col("k") === 6L) // same (first) file → 2 deltas → auto-merge
    val s = t.status.visible.head
    val rel = s.deltas.keys.head
    assert(s.deltas(rel).size == 1, s"deltas must have merged: ${s.deltas}")
    assert(s.removedFiles.nonEmpty, "pre-merge deltas tombstoned for CLEAN FILES")
    assert(t.read.count() == 3998)
    assert(t.read.filter(col("k").isin(5L, 6L)).count() == 0)
    t.cleanFiles()
    assert(t.status.visible.head.removedFiles.isEmpty)
    // merged delta file still present and effective
    assert(t.read.count() == 3998)
  }

  test("MoR update masks pre-images and publishes updated rows atomically") {
    val t = mk()
    val updated = t.update(col("k") < 10L, Map("v" -> (col("v") + 1000.0)))
    assert(updated == 10L)
    assert(t.read.count() == 4000, "update must not change cardinality")
    val vs = t.read.filter(col("k") < 10L).select("v").collect().map(_.getDouble(0)).sorted
    assert(vs.toSeq == (0 until 10).map(_ + 1000.0))
    // pre-images masked by deltas, updates in a NEW segment
    val vis = t.status.visible
    assert(vis.size == 2)
    assert(vis.exists(_.deltas.nonEmpty))
    assert(vis.exists(s => s.deltas.isEmpty && s.rowCount == 10))
  }

  test("copy-on-write rewrite of a delta-bearing file folds its deltas") {
    val t = mk()
    t.delete(col("k") === 5L) // MoR delta on file 0
    val cowDeleted = Mutation.delete(t, col("k") === 6L) // explicit CoW, same file
    assert(cowDeleted == 1L)
    val s = t.status.visible.find(_.id == 0L)
    // the hit file was rewritten out of segment 0; its delta went with it
    assert(s.forall(_.deltas.isEmpty), s"deltas must retire with their file: ${s.map(_.deltas)}")
    assert(t.read.count() == 3998)
    assert(t.read.filter(col("k").isin(5L, 6L)).count() == 0)
  }

  test("a delta fold keeps the table's parquet bloom filters") {
    val src = spark.range(0, 4000).selectExpr("id AS k", "md5(CAST(id AS STRING)) AS v")
    val t = GraftTable.create(spark, tmp(), src.schema, sortColumns = Seq("k"),
      properties = Map("global_sort_partitions" -> "1", "iud_mode" -> "mor",
        "bloom_columns" -> "v"))
    t.insert(src)
    assert(TestSpark.bloomOn(t, t.status.visible.head, "v"))
    assert(t.delete(col("k") < 2000L) == 2000L)
    assert(t.foldDeltas(minFraction = 0.3) == 1)
    val folded = t.status.visible.head
    assert(folded.deltas.isEmpty && folded.files.forall(_.contains("-fold-")), folded.files.toString)
    assert(TestSpark.bloomOn(t, folded, "v"), "the folded file must keep its bloom filter on v")
    assert(t.read.count() == 2000)
  }

  test("foldDeltas rewrites a heavily-deleted file clean and restores columnar scans") {
    val t = mk(Map("horizontal_compaction_threshold" -> "100"))
    def scanColumnar(): Boolean =
      t.read.filter(col("v") >= 0.0).queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.head.supportsColumnar

    assert(scanColumnar(), "clean table scans columnar")
    // two deletes stack two deltas on file 0 (k in [0,1000)), 40% dead
    assert(t.delete(col("k") < 200L) == 200L)
    assert(t.delete(col("k") >= 200L && col("k") < 400L) == 200L)
    val s0 = t.status.visible.head
    assert(s0.deltas.size == 1 && s0.deltas.head._2.size == 2)
    assert(!scanColumnar(), "outstanding deltas force the row-based read")

    // below the fraction: nothing folds
    assert(t.foldDeltas(minFraction = 0.5) == 0)
    // at the fraction: exactly the heavy file folds, deltas retire
    assert(t.foldDeltas(minFraction = 0.3) == 1)
    val s1 = t.status.visible.head
    assert(s1.deltas.isEmpty, "folded file's deltas must retire")
    assert(s1.files.size == 4 && !s1.files.contains(s0.deltas.head._1),
      "the heavy file was replaced in place")
    assert(s1.rowCount == 3600)
    assert(scanColumnar(), "no deltas left: scan returns to columnar batches")

    // values exact and order claim intact
    assert(t.read.count() == 3600)
    assert(t.read.filter(col("k") < 400L).count() == 0)
    assert(t.read.agg(sum("k")).collect().head.getLong(0) ==
      (400L until 4000L).sum)
    assert(t.read.select("k", "v").queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.ordering.getOrElse(Nil)
    }.exists(_.nonEmpty), "sorted chains must survive the in-place fold")

    // metadata MIN/MAX re-enables once the last delta retires — it must
    // see stats RECOMPUTED from the surviving footers, not the
    // write-time segment stats that still describe the deleted k<400
    val mm = t.read.agg(min(col("k")).as("mn"), max(col("k")).as("mx"))
    val mmPlan = mm.queryExecution.executedPlan.toString
    assert(mmPlan.contains("LocalTableScan") && !mmPlan.contains("BatchScan"),
      s"metadata MIN/MAX should fire on the delta-free table:\n$mmPlan")
    val mmRow = mm.collect()(0)
    assert(mmRow.getLong(0) == 400L && mmRow.getLong(1) == 3999L,
      s"metadata MIN/MAX answered stale stats: $mmRow")

    // a malformed fraction must not fail mutations (the delta already
    // committed when the hook runs) — it degrades to a warning + no fold
    // (the victim row sits inside the range the auto trigger below
    // deletes, so whichever file holds it crosses the fold fraction and
    // the stray delta retires with it)
    t.setProperties(Map("horizontal_rewrite_fraction" -> "30%"))
    assert(t.delete(col("k") === 1234L) == 1L)
    assert(t.status.visible.head.deltas.nonEmpty, "invalid fraction must not fold")

    // opt-in auto trigger: with the property set, the post-mutation
    // hook folds without an explicit call
    t.setProperties(Map("horizontal_rewrite_fraction" -> "0.3"))
    assert(t.delete(col("k") >= 1000L && col("k") < 1500L) == 499L)
    assert(t.status.visible.head.deltas.isEmpty, "auto fold after MoR delete")
    assert(t.read.count() == 3100)
  }

  test("foldDeltas folds many files concurrently, values exact") {
    val t = mk(Map("horizontal_compaction_threshold" -> "100"))
    // every file ~40% dead: all 4 are fold candidates in one pass
    assert(t.delete(col("k") % 10 < 4L) == 1600L)
    assert(t.status.visible.head.deltas.size == 4)
    assert(t.foldDeltas(minFraction = 0.3, parallelism = 4) == 4)
    val s = t.status.visible.head
    assert(s.deltas.isEmpty && s.files.size == 4)
    assert(s.rowCount == 2400)
    assert(t.read.count() == 2400)
    assert(t.read.agg(sum("k")).collect().head.getLong(0) ==
      (0L until 4000L).filter(_ % 10 >= 4).sum)
    // recomputed stats: metadata MIN/MAX reflects the fold
    val r = t.read.agg(min("k"), max("k")).collect()(0)
    assert(r.getLong(0) == 4L && r.getLong(1) == 3999L)
  }

  test("CLEAN FILES reclaims crashed fold leftovers, spares fresh ones") {
    val t = mk()
    // a crashed fold leaves its deltas in place — plant one so the
    // segment qualifies for the (delta/tombstone-bounded) sweep
    t.delete(col("k") === 5L)
    val segDir = t.layout.segmentDir(0L)
    val fs = t.layout.fs
    import org.apache.hadoop.fs.Path
    // simulate a fold that crashed between rename and commit: an
    // unreferenced -fold- parquet + a leftover .fold-tmp- dir
    val orphan = new Path(segDir, "part-zzz-fold-dead.parquet")
    fs.create(orphan, true).close()
    val tmpDir = new Path(segDir, ".fold-tmp-dead")
    fs.mkdirs(tmpDir)
    // a FRESH orphan (mtime now) must survive the grace window
    val fresh = new Path(segDir, "part-yyy-fold-fresh.parquet")
    fs.create(fresh, true).close()
    val old = System.currentTimeMillis() - 2 * 3600 * 1000
    fs.setTimes(orphan, old, old)
    fs.setTimes(tmpDir, old, old)
    t.cleanFiles()
    assert(!fs.exists(orphan), "stale fold orphan must be reclaimed")
    assert(!fs.exists(tmpDir), "stale .fold-tmp- dir must be reclaimed")
    assert(fs.exists(fresh), "an in-grace fold output must never be touched")
    assert(t.read.count() == 3999, "reads unaffected by the sweep")
    fs.delete(fresh, false)
  }

  test("segment compaction folds deltas into a clean segment") {
    val t = mk()
    t.insert(spark.range(4000, 5000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"))
    t.delete(col("k") % 500 === 3L) // deltas in both segments
    assert(t.read.count() == 4990)
    val id = t.compact("MAJOR")
    assert(id.nonEmpty)
    val vis = t.status.visible
    assert(vis.size == 1 && vis.head.deltas.isEmpty)
    assert(vis.head.rowCount == 4990)
    assert(t.read.count() == 4990)
    assert(t.read.filter(col("k") % 500 === 3L).count() == 0)
  }

  test("a fully-deleted file retires from the segment") {
    val t = mk()
    val seg0 = t.status.visible.head
    val firstFileMax = seg0.fileMeta(seg0.files.head).stats("k").max.get.toLong
    t.delete(col("k") <= firstFileMax) // wipes file 0 entirely
    val s = t.status.visible.head
    assert(s.files.size == 3, s"empty file must retire: ${s.files}")
    assert(s.deltas.isEmpty, "retired file takes its delta along")
    assert(s.rowCount == 4000 - (firstFileMax + 1))
    assert(t.read.count() == s.rowCount)
    // survivor stats refreshed: metadata paths must not see min=0
    s.stats.get("k").flatMap(_.min).foreach(m =>
      assert(m.toLong > firstFileMax, s"stale min $m after full-file delete"))
  }

  test("deltas survive pruned and limited reads") {
    val t = mk()
    t.delete(col("k") === 1500L)
    // segment/file pruning path (filter on sort column)
    assert(t.read.filter(col("k").between(1400L, 1600L)).count() == 200)
    // limit-prefix path
    assert(t.read.limit(4000).count() == 3999)
    // order-by path
    val top = t.read.orderBy(col("k").desc).limit(5).collect().map(_.getLong(0))
    assert(top.toSeq == Seq(3999L, 3998L, 3997L, 3996L, 3995L))
  }

  test("MoR falls back to copy-on-write for segments without footer metadata") {
    // external ADD SEGMENT files have no fileMeta → CoW path must kick in
    val t = mk()
    val ext = Files.createTempDirectory("graft_mor_ext_").toString
    spark.range(9000, 9100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
      .write.mode("overwrite").parquet(ext)
    t.addSegment(ext)
    val deleted = t.delete(col("k") === 9005L)
    assert(deleted == 1L)
    assert(t.read.filter(col("k") === 9005L).count() == 0)
    assert(t.read.count() == 4099)
  }

  test("only LiveRows builds the merge-on-read mask for positional reads") {
    val main = Paths.get("src/main/scala")
    assert(Files.isDirectory(main),
      s"expected the sources under ${main.toAbsolutePath}")
    val helper = main.resolve("graft/engine/LiveRows.scala")
    assert(Files.exists(helper))
    val maskBuilders = Seq(
      """(?<!class )\bDeltaKeep\s*\(""".r,
      """\bdeltaFilter\s*\(""".r)
    val relationCall = """(?<!def )\bparquetRelationDf\s*\(""".r
    val files = Files.walk(main).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    def code(p: java.nio.file.Path): Seq[(String, Int)] =
      Files.readAllLines(p).asScala.zipWithIndex.filterNot { case (l, _) =>
        val t = l.trim
        t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
      }.toSeq
    val offenders = for {
      p <- files if p != helper
      (l, i) <- code(p) if maskBuilders.exists(_.findFirstIn(l).isDefined)
    } yield s"$p:${i + 1}: ${l.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // readWithTupleId is the one v1-relation read left
    val relationCalls = for {
      p <- files
      (l, i) <- code(p) if relationCall.findFirstIn(l).isDefined
    } yield s"$p:${i + 1}"
    assert(relationCalls.size <= 1, relationCalls.mkString("\n"))
  }
}
