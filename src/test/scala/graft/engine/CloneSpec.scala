package graft.engine

import graft.engine.index.Si
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** SHALLOW CLONE (r18, beyond the reference — Delta's CLONE): a new
  * independent table whose segments REFERENCE the source's files in
  * place. One metadata commit, zero data movement at any size; the
  * external-segment machinery supplies isolation (clone DML is
  * copy-on-write into the clone's own managed segments, clone CLEAN
  * FILES never unlinks external files). Composes with time travel
  * (clone AS OF a retained version). */
class CloneSpec extends AnyFunSuite {
  import TestSpark._

  test("shallow clone: metadata-only, pruning works, DML independent both ways, clean never touches source") {
    val root = Files.createTempDirectory("graft_clone_").toString
    val src = spark.range(0, 2000).select(col("id").as("k"),
      (col("id") % 5).cast("string").as("grp"), (col("id") * 1.5).as("v"))
    val t = GraftTable.create(spark, s"$root/t", src.schema, sortColumns = Seq("k"))
    t.insert(src.filter(col("k") < 1000))
    t.insert(src.filter(col("k") >= 1000))
    // a foreign ADD SEGMENT rides along by its own external path
    val csvDir = s"$root/extra_csv"
    spark.range(5000, 5100).select(col("id").as("k"),
        (col("id") % 5).cast("string").as("grp"), (col("id") * 1.5).as("v"))
      .coalesce(1).write.mode("overwrite").option("header", "true").csv(csvDir)
    t.addSegment(csvDir, "csv")
    val srcCount = t.read.count()
    assert(srcCount == 2100)

    val c = t.shallowCloneTo(s"$root/c")
    assert(c.read.count() == srcCount)
    assert(c.read.agg(sum("k")).head.getLong(0) ==
      t.read.agg(sum("k")).head.getLong(0))
    // METADATA-ONLY: the clone's own segments dir holds zero data files
    val cSegs = new java.io.File(s"$root/c/segments")
    def dataFiles(d: java.io.File): Seq[java.io.File] =
      if (!d.exists) Nil
      else d.listFiles.toSeq.flatMap(f =>
        if (f.isDirectory) dataFiles(f) else Seq(f))
    assert(dataFiles(cSegs).isEmpty, "shallow clone must move zero data bytes")
    // the pruning ladder runs on the clone (copied footer stats)
    assert(c.read.filter(col("k") === 1500L).count() == 1)

    // the clone's CLEAN FILES reclaims only CLONE-owned files: retire
    // the cloned csv foreign on the CLONE, clean, and the source still
    // reads everything (mutations refuse foreign formats, so this also
    // clears the way for the CoW check below)
    val csvId = c.status.visible.find(_.format == "csv").get.id
    c.deleteSegmentsById(Seq(csvId))
    c.cleanFiles()
    assert(c.read.count() == 2000)
    assert(t.read.count() == srcCount, "clone CLEAN FILES unlinked source data")

    // DML on the CLONE: copy-on-write into the clone's own segments —
    // the source's bytes and row set are untouched
    assert(Mutation.delete(c, col("k") < 100L) == 100L)
    assert(c.read.count() == 1900)
    assert(t.read.count() == srcCount, "clone DML leaked into the source")
    assert(dataFiles(cSegs).nonEmpty, "CoW must land in the clone's own layout")

    // writes to the SOURCE don't move the clone
    t.insert(spark.range(9000, 9010).select(col("id").as("k"),
      (col("id") % 5).cast("string").as("grp"), (col("id") * 1.5).as("v")))
    assert(t.read.count() == srcCount + 10)
    assert(c.read.count() == 1900, "source insert leaked into the clone")

    GraftTable.drop(spark, s"$root/c")
    assert(t.read.count() == srcCount + 10, "dropping the clone touched the source")
    GraftTable.drop(spark, s"$root/t")
  }

  test("clone AS OF composes with time travel; deltas refused; vacuumed source fails loudly; SQL surface") {
    val root = Files.createTempDirectory("graft_clone_asof_").toString
    val src = spark.range(0, 1500).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    val t = GraftTable.create(spark, s"$root/t", src.schema, sortColumns = Seq("k"),
      properties = Map("timetravel" -> "true", "global_sort_partitions" -> "2"))
    t.insert(src)
    val vGood = t.status.version
    assert(Mutation.delete(t, col("k") % 3 === 0L) == 500L)
    assert(t.read.count() == 1000L)

    // clone the PRE-mis-step state aside; the live table stays as-is
    val c = t.shallowCloneTo(s"$root/c_asof", Some(vGood))
    assert(c.read.count() == 1500L, "AS-OF clone must see the pre-delete rows")
    assert(c.read.agg(sum("k")).head.getLong(0) == 1499L * 1500L / 2)
    assert(t.read.count() == 1000L)

    // SQL surface, current version
    spark.sql(
      s"CREATE TABLE $root/c_sql SHALLOW CLONE $root/t")
    assert(GraftTable.at(spark, s"$root/c_sql").read.count() == 1000L)
    // SQL surface, AS OF
    spark.sql(
      s"CREATE TABLE $root/c_sql2 SHALLOW CLONE $root/t VERSION AS OF $vGood")
    assert(GraftTable.at(spark, s"$root/c_sql2").read.count() == 1500L)

    // outstanding MoR deltas are refused (positions resolve against
    // the source layout — fold first)
    val tm = GraftTable.create(spark, s"$root/tm",
      src.schema, sortColumns = Seq("k"),
      properties = Map("iud_mode" -> "mor",
        "horizontal_compaction_enable" -> "false"))
    tm.insert(src.filter(col("k") < 500))
    assert(Mutation.deleteMor(tm, col("k") < 50L) == 50L)
    assert(tm.status.visible.exists(_.deltas.nonEmpty), "fixture must carry deltas")
    val e1 = intercept[IllegalArgumentException] { tm.shallowCloneTo(s"$root/cm") }
    assert(e1.getMessage.contains("merge-on-read"))

    // a vacuumed AS-OF target fails BEFORE any metadata is written
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2 * 3600 * 1000)
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/t")).forEach(p =>
      try java.nio.file.Files.setLastModifiedTime(p, old)
      catch { case scala.util.control.NonFatal(_) => () })
    t.cleanFiles()
    val e2 = intercept[IllegalArgumentException] {
      t.shallowCloneTo(s"$root/c_gone", Some(vGood))
    }
    assert(e2.getMessage.contains("physically reclaimed"))
    assert(!new java.io.File(s"$root/c_gone").exists() ||
      !new GraftTableProbe(s"$root/c_gone").hasLog,
      "failed clone must not leave a committed table behind")
    GraftTable.drop(spark, s"$root/t")
  }

  private def withSQLConf(kvs: (String, String)*)(body: => Unit): Unit = {
    val olds = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
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

  test("clone of a PARTITIONED + bucketed source: partition pruning and SPJ run on the clone (r19, VERDICT r18 #3a)") {
    val wh = Files.createTempDirectory("graft_clone_pb_").toString
    spark.conf.set("spark.sql.catalog.gcl", "graft.engine.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcl.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gcl.ns")
    val src = spark.range(0, 3000)
      .selectExpr("id AS k", "CAST(id % 3 AS INT) AS p", "CAST(id AS DOUBLE) AS x")
    val t = GraftTable.create(spark, s"$wh/ns/fact", src.schema,
      sortColumns = Seq("k"),
      properties = Map("bucket_columns" -> "k", "bucket_count" -> "8"),
      partitionColumns = Seq("p"))
    t.insert(src)
    val c = t.shallowCloneTo(s"$wh/ns/factc")
    assert(c.read.count() == 3000)

    // partition pruning: the partition-dir RELATIVE paths resolve
    // through externalPath INTO THE SOURCE — and the planner reads
    // only the matching partition's files
    val files = plannedFiles(c.read.filter(col("p") === 2).select("k"))
    assert(files.nonEmpty)
    assert(files.forall(_.contains("__p_p=2")),
      s"expected only __p_p=2 files, got:\n${files.take(5).mkString("\n")}")
    assert(files.forall(_.contains("/ns/fact/")),
      s"clone files must resolve into the SOURCE layout:\n${files.take(3).mkString("\n")}")
    assert(c.read.filter(col("p") === 2).count() == 1000)

    // SPJ: the clone keeps the bucket spec → joins a co-bucketed dim
    // with NO shuffle on either side
    val dim = GraftTable.create(spark,
      s"$wh/ns/dim", spark.range(0, 600).selectExpr("id * 2 AS k",
        "CAST(id AS DOUBLE) AS w").schema,
      sortColumns = Seq("k"),
      properties = Map("bucket_columns" -> "k", "bucket_count" -> "8"))
    dim.insert(spark.range(0, 600).selectExpr("id * 2 AS k", "CAST(id AS DOUBLE) AS w"))
    withSQLConf(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      val joined = spark.sql(
        "SELECT f.k, d.w FROM gcl.ns.factc f JOIN gcl.ns.dim d ON f.k = d.k")
      assert(joined.collect().length == 600)
      val shuffles = joined.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }
      assert(shuffles.isEmpty,
        s"SPJ on the clone must not shuffle; plan:\n${joined.queryExecution.executedPlan}")
    }
    GraftTable.drop(spark, s"$wh/ns/factc")
    GraftTable.drop(spark, s"$wh/ns/fact")
    GraftTable.drop(spark, s"$wh/ns/dim")
  }

  test("clone of a clone: chained externals keep pointing at the ORIGINAL files (r19, VERDICT r18 #3b)") {
    val root = Files.createTempDirectory("graft_clone_chain_").toString
    val src = spark.range(0, 800).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    val t = GraftTable.create(spark, s"$root/t", src.schema, sortColumns = Seq("k"))
    t.insert(src)
    val c1 = t.shallowCloneTo(s"$root/c1")
    val c2 = c1.shallowCloneTo(s"$root/c2")
    // every c2 segment references the ORIGINAL table's layout, not c1's
    c2.status.visible.foreach { s =>
      val ext = s.externalPath.getOrElse(fail(s"clone segment ${s.id} not external"))
      assert(ext.contains(s"$root/t/"),
        s"chained clone must point at the original, got $ext")
      assert(!ext.contains("/c1/"), s"chained clone leaked through c1: $ext")
    }
    // the intermediate clone can disappear entirely — c2 still reads
    GraftTable.drop(spark, s"$root/c1")
    assert(c2.read.count() == 800)
    assert(c2.read.agg(sum("k")).head.getLong(0) == 799L * 800 / 2)
    GraftTable.drop(spark, s"$root/c2"); GraftTable.drop(spark, s"$root/t")
  }

  test("post-clone hazard: source CLEAN FILES reclaiming a referenced file is a LOUD scan failure, never silent wrong rows (r19, VERDICT r18 #3c)") {
    val root = Files.createTempDirectory("graft_clone_haz_").toString
    val src = spark.range(0, 1200).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    val t = GraftTable.create(spark, s"$root/t", src.schema, sortColumns = Seq("k"))
    t.insert(src)
    val c = t.shallowCloneTo(s"$root/c")
    assert(c.read.count() == 1200)
    // the documented hazard: source CoW delete retires the original
    // segment; an aged CLEAN FILES physically reclaims the files the
    // clone still references
    assert(Mutation.delete(t, col("k") % 2 === 0L) == 600L)
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2 * 3600 * 1000)
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/t")).forEach(p =>
      try java.nio.file.Files.setLastModifiedTime(p, old)
      catch { case scala.util.control.NonFatal(_) => () })
    t.cleanFiles()
    assert(t.read.count() == 600, "source must stay intact post-clean")
    // the clone must now fail LOUDLY at scan — a silent 600-row (or
    // 0-row) answer would be data corruption from the user's view
    val e = intercept[Throwable] { c.read.collect() }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(x => s"${x.getClass.getName}: ${x.getMessage}").mkString("\n")
    assert(msgs.toLowerCase.contains("exist") || msgs.contains("FileNotFound") ||
      msgs.toLowerCase.contains("no such file"),
      s"expected a missing-file failure, got:\n$msgs")
    GraftTable.drop(spark, s"$root/c"); GraftTable.drop(spark, s"$root/t")
  }

  test("DEEP CLONE owns its bytes: survives the source CLEAN FILES that breaks a shallow clone; SQL surface; meta carried (r19, VERDICT r18 #6)") {
    val root = Files.createTempDirectory("graft_clone_deep_").toString
    val src = spark.range(0, 1500)
      .selectExpr("id AS k", "CAST(id % 3 AS INT) AS p", "CAST(id AS DOUBLE) AS v")
    val t = GraftTable.create(spark, s"$root/t", src.schema,
      sortColumns = Seq("k"),
      properties = Map("timetravel" -> "true", "custom_tag" -> "keepme"),
      partitionColumns = Seq("p"))
    t.insert(src)
    val v1 = t.status.version
    assert(Mutation.delete(t, col("k") % 3 === 0L) == 500L)

    // both clone forms of the PRE-delete version, deep via SQL
    val shallow = t.shallowCloneTo(s"$root/cs", Some(v1))
    val res = spark.sql(
      s"CREATE TABLE $root/cd DEEP CLONE $root/t VERSION AS OF $v1").collect()
    assert(res.head.getLong(1) == 1500L, "DEEP CLONE must report the copied rows")
    val deep = GraftTable.at(spark, s"$root/cd")
    assert(deep.read.count() == 1500)
    // meta carried: sort spec, partition columns, user properties —
    // index registrations would be excluded (CloneSpec idx cell)
    assert(deep.meta.sortColumns == Seq("k"))
    assert(deep.meta.partitionColumns == Seq("p"))
    assert(deep.meta.properties.get("custom_tag").contains("keepme"))
    // deep clone owns its bytes: nothing external
    assert(deep.status.visible.forall(_.externalPath.isEmpty))

    // vacuum the source: reclaim the pre-delete files
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2 * 3600 * 1000)
    java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/t")).forEach(p =>
      try java.nio.file.Files.setLastModifiedTime(p, old)
      catch { case scala.util.control.NonFatal(_) => () })
    t.cleanFiles()

    // the shallow clone breaks (loudly) …
    intercept[Throwable] { shallow.read.collect() }
    // … the deep clone doesn't notice
    assert(deep.read.count() == 1500)
    assert(deep.read.agg(sum("k")).head.getLong(0) == 1499L * 1500 / 2)
    // and its partition pruning works on its OWN layout
    val files = plannedFiles(deep.read.filter(col("p") === 1).select("k"))
    assert(files.nonEmpty && files.forall(_.contains("__p_p=1")))
    assert(files.forall(_.contains("/cd/")),
      "deep clone must read its own files")
    GraftTable.drop(spark, s"$root/cd"); GraftTable.drop(spark, s"$root/cs")
    GraftTable.drop(spark, s"$root/t")
  }

  test("index registrations do NOT follow the clone (a clone REFRESH must never overwrite the source's index)") {
    val root = Files.createTempDirectory("graft_clone_idx_").toString
    val src = spark.range(0, 1000).select(col("id").as("k"),
      (col("id") % 9).cast("string").as("grp"))
    val t = GraftTable.create(spark, s"$root/t", src.schema, sortColumns = Seq("k"))
    t.insert(src)
    Si.create(t, "grp", s"$root/si")
    assert(Si.show(t).nonEmpty)
    val c = t.shallowCloneTo(s"$root/c")
    assert(Si.show(c).isEmpty, "SI registration leaked into the clone")
    // the source's indexed lookup still works after the clone exists
    assert(Si.readWhereIn(t, "grp", Seq("3")).count() ==
      src.filter(col("grp") === "3").count())
    // and the clone serves the same rows through plain scans
    assert(c.read.filter(col("grp") === "3").count() ==
      src.filter(col("grp") === "3").count())
    GraftTable.drop(spark, s"$root/c"); GraftTable.drop(spark, s"$root/t")
  }
}

/** Minimal existence probe for a table dir that may not have a
  * committed log (CloneSpec's failed-clone assertion). */
private class GraftTableProbe(path: String) {
  def hasLog: Boolean =
    new java.io.File(s"$path/_meta/tablestatus.json").exists()
}
