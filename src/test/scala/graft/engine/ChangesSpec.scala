package graft.engine

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** CHANGE DATA FEED (r19, beyond the reference — Delta's
  * `table_changes` without stored change files): row-level NET
  * multiset changes between two retained versions, derived from the
  * commit log. The at-scale property under test: a METADATA segment
  * diff prunes the scan to CHURNED segments only — multiset
  * difference cancels identical contributions, (U+A) −ₘ (U+B) =
  * A −ₘ B, so unchanged segments are provably skippable and the
  * exceptAll pair shuffles only churned rows. */
class ChangesSpec extends AnyFunSuite {
  import TestSpark._

  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    // query stages are leaves of an adaptive plan: descend into them,
    // or a scan below an exchange goes uncounted
    def scansExec(p: SparkPlan): Seq[BatchScanExec] = p.collect {
      case b: BatchScanExec => Seq(b)
      case a: AdaptiveSparkPlanExec => scansExec(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scansExec(q.plan)
    }.flatten
    val fromExec = scansExec(df.queryExecution.executedPlan)
      .flatMap(_.scan.toBatch.planInputPartitions())
    // a leg read through a v1 parquet HadoopFsRelation would show its
    // files only in the optimized plan — count those too, so no read
    // path escapes the count
    val fromRelation = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            f.location.inputFiles.toSeq
          case _ => Nil
        }
    }.flatten
    fromExec.flatMap {
      case fp: FilePartition => fp.files.map(_.filePath.toString)
      case b: graft.engine.source.BucketedFilePartition =>
        b.filePartition.files.map(_.filePath.toString)
    } ++ fromRelation
  }

  test("net multiset changes across insert / CoW delete / MoR delete versions") {
    val dir = Files.createTempDirectory("graft_cdf_").toString + "/t"
    val t = GraftTable.create(spark, dir,
      spark.range(0, 1).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").schema,
      sortColumns = Seq("k"), properties = Map("timetravel" -> "true"))
    t.insert(spark.range(0, 100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"))
    val v1 = t.status.version
    t.insert(spark.range(100, 150).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"))
    val v2 = t.status.version
    assert(Mutation.delete(t, col("k") < 20L) == 20L)
    val v3 = t.status.version

    def changes(a: Long, b: Long): (Set[Long], Set[Long]) = {
      val rows = t.readChanges(a, b).collect()
      (rows.filter(_.getAs[String]("_change_type") == "insert").map(_.getLong(0)).toSet,
        rows.filter(_.getAs[String]("_change_type") == "delete").map(_.getLong(0)).toSet)
    }
    // v1 → v2: one appended segment, nothing deleted
    assert(changes(v1, v2) == ((100L until 150L).toSet, Set.empty[Long]))
    // v2 → v3: the CoW delete — net deletes only; the rewritten
    // survivors cancel exactly (no phantom insert+delete churn)
    assert(changes(v2, v3) == (Set.empty[Long], (0L until 20L).toSet))
    // v1 → v3 composes: appended batch in, deleted keys out
    assert(changes(v1, v3) == ((100L until 150L).toSet, (0L until 20L).toSet))
    // version metadata rides along
    val r = t.readChanges(v1, v3).head
    assert(r.getAs[Long]("_from_version") == v1)
    assert(r.getAs[Long]("_to_version") == v3)
    // degenerate: same version → empty
    assert(t.readChanges(v3, v3).count() == 0)
    GraftTable.drop(spark, dir)
  }

  test("MoR delete deltas change a segment's identity: delta-deleted rows surface as deletes") {
    val dir = Files.createTempDirectory("graft_cdfmor_").toString + "/t"
    val src = spark.range(0, 200).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    val t = GraftTable.create(spark, dir, src.schema, sortColumns = Seq("k"),
      properties = Map("timetravel" -> "true", "iud_mode" -> "mor",
        "horizontal_compaction_enable" -> "false"))
    t.insert(src)
    val v1 = t.status.version
    // a predicate spread across every file, so the delete cannot take
    // the whole-file drop path and MUST write position deltas
    assert(Mutation.deleteMor(t, col("k") % 4 === 0L) == 50L)
    val v2 = t.status.version
    assert(t.status.visible.exists(_.deltas.nonEmpty), "fixture must be MoR")
    val rows = t.readChanges(v1, v2).collect()
    assert(rows.forall(_.getAs[String]("_change_type") == "delete"))
    assert(rows.map(_.getLong(0)).toSet == (0L until 200L by 4).toSet)
    GraftTable.drop(spark, dir)
  }

  test("metadata diff prunes the scan to CHURNED segments; a value duplicated in an unchanged segment still nets out correctly") {
    val dir = Files.createTempDirectory("graft_cdfprune_").toString + "/t"
    val t = GraftTable.create(spark, dir,
      spark.range(0, 1).selectExpr("id AS k").schema,
      sortColumns = Seq("k"), properties = Map("timetravel" -> "true"))
    // segment A: 0..99; segment B: 50..149 — values 50..99 exist in
    // BOTH segments (a distinct-set EXCEPT would lose their deletes)
    t.insert(spark.range(0, 100).selectExpr("id AS k"))
    val segA = t.status.visible.map(_.id).max
    t.insert(spark.range(50, 150).selectExpr("id AS k"))
    val segB = t.status.visible.map(_.id).max
    val v1 = t.status.version
    // CoW delete k < 50: only segment A contains matches → only A is
    // rewritten; B is untouched at both versions
    assert(Mutation.delete(t, col("k") < 50L) == 50L)
    val v2 = t.status.version
    val diff = t.readChanges(v1, v2)
    val rows = diff.collect()
    // NET semantics: 0..49 deleted once; 50..99 survive in A's
    // rewrite AND stay duplicated in B → no change reported for them
    assert(rows.forall(_.getAs[String]("_change_type") == "delete"))
    assert(rows.map(_.getLong(0)).toSet == (0L until 50L).toSet)
    // duplicates are still served twice at v2 (sanity that the table
    // really holds multiset duplicates)
    assert(t.read.filter(col("k") === 75L).count() == 2)
    // PRUNING: the diff's scans must touch only segment A's files
    // (original + rewrite) — segment B's identity is unchanged and
    // must not be read on either side
    val files = plannedFiles(diff)
    assert(files.nonEmpty, "expected the diff to scan the churned segments")
    assert(!files.exists(_.contains(s"/segments/$segB/")),
      s"unchanged segment $segB must be pruned from the diff, got:\n${files.mkString("\n")}")
    GraftTable.drop(spark, dir)
  }

  // ---- rewrite-only commit skipping (r20, VERDICT r19 #1) ------------

  test("rewrite-only span: CDF across a MAJOR compaction emits zero rows and scans ZERO files") {
    val dir = Files.createTempDirectory("graft_cdfcompact_").toString + "/t"
    val t = GraftTable.create(spark, dir,
      spark.range(0, 1).selectExpr("id AS k").schema,
      sortColumns = Seq("k"), properties = Map("timetravel" -> "true"))
    t.insert(spark.range(0, 40).selectExpr("id AS k"))
    t.insert(spark.range(40, 80).selectExpr("id AS k"))
    t.insert(spark.range(80, 120).selectExpr("id AS k"))
    val v1 = t.status.version
    assert(t.compact("MAJOR").nonEmpty, "fixture must compact")
    val v2 = t.status.version
    val diff = t.readChanges(v1, v2)
    // the dataChange=false edge cancels the rewrite symbolically: the
    // scan-killer shape (O(table) scan through both exceptAll legs to
    // net zero) plans ZERO files
    assert(plannedFiles(diff).isEmpty,
      s"rewrite-only span must plan no files, got:\n${plannedFiles(diff).mkString("\n")}")
    assert(diff.count() == 0)
    GraftTable.drop(spark, dir)
  }

  test("mixed span: the compaction cancels symbolically, only truly-churned segments scan") {
    val dir = Files.createTempDirectory("graft_cdfmixed_").toString + "/t"
    val t = GraftTable.create(spark, dir,
      spark.range(0, 1).selectExpr("id AS k").schema,
      sortColumns = Seq("k"), properties = Map("timetravel" -> "true"))
    t.insert(spark.range(0, 40).selectExpr("id AS k"))
    t.insert(spark.range(40, 80).selectExpr("id AS k"))
    val v1 = t.status.version
    assert(t.compact("MAJOR").nonEmpty)
    t.insert(spark.range(1000, 1025).selectExpr("id AS k"))
    val segNew = t.status.visible.map(_.id).max
    val v2 = t.status.version
    val diff = t.readChanges(v1, v2)
    val rows = diff.collect()
    assert(rows.forall(_.getAs[String]("_change_type") == "insert"))
    assert(rows.map(_.getLong(0)).toSet == (1000L until 1025L).toSet)
    val files = plannedFiles(diff)
    assert(files.nonEmpty)
    assert(files.forall(_.contains(s"/segments/$segNew/")),
      s"only the truly-churned segment $segNew may scan, got:\n${files.mkString("\n")}")
    GraftTable.drop(spark, dir)
  }

  test("chained rewrites compose: a compaction of a compaction still cancels to zero-scan") {
    val dir = Files.createTempDirectory("graft_cdfchain_").toString + "/t"
    val t = GraftTable.create(spark, dir,
      spark.range(0, 1).selectExpr("id AS k").schema,
      sortColumns = Seq("k"), properties = Map("timetravel" -> "true"))
    t.insert(spark.range(0, 30).selectExpr("id AS k"))
    t.insert(spark.range(30, 60).selectExpr("id AS k"))
    t.insert(spark.range(60, 90).selectExpr("id AS k"))
    val ids = t.status.visible.map(_.id).sorted
    val v1 = t.status.version
    val m1 = t.compact("CUSTOM", customIds = Seq(ids(0), ids(1))).get
    assert(t.compact("CUSTOM", customIds = Seq(m1, ids(2))).nonEmpty)
    val v3 = t.status.version
    val diff = t.readChanges(v1, v3)
    // expansion walks final → (m1, ids(2)) → (ids(0), ids(1), ids(2));
    // the middle state's edge lives on the retired m1 ENTRY in the
    // endpoint log — chained composition, zero files
    assert(plannedFiles(diff).isEmpty,
      s"chained rewrites must cancel, got:\n${plannedFiles(diff).mkString("\n")}")
    assert(diff.count() == 0)
    GraftTable.drop(spark, dir)
  }

  test("horizontal delta merge and delta fold between bounds are dataChange=false") {
    val dir = Files.createTempDirectory("graft_cdfhoriz_").toString + "/t"
    val src = spark.range(0, 4000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    val t = GraftTable.create(spark, dir, src.schema, sortColumns = Seq("k"),
      properties = Map("timetravel" -> "true", "iud_mode" -> "mor",
        "global_sort_partitions" -> "4",
        "horizontal_compaction_threshold" -> "100"))
    t.insert(src)
    // two deltas stack on file 0 (k in [0,1000)), 40% of it dead
    assert(t.delete(col("k") < 200L) == 200L)
    assert(t.delete(col("k") >= 200L && col("k") < 400L) == 200L)
    val v1 = t.status.version

    // tier 1: merge the two delta files into one — same masked positions
    t.layout.updateTableMeta(m => m.copy(properties =
      m.properties.updated("horizontal_compaction_threshold", "1")))
    assert(t.horizontalCompact() == 1)
    val v2 = t.status.version
    val d1 = t.readChanges(v1, v2)
    assert(plannedFiles(d1).isEmpty,
      s"delta merge is rewrite-only, got:\n${plannedFiles(d1).mkString("\n")}")
    assert(d1.count() == 0)

    // tier 2: fold the heavy file clean — rows served unchanged
    assert(t.foldDeltas(minFraction = 0.3) == 1)
    val v3 = t.status.version
    val d2 = t.readChanges(v2, v3)
    assert(plannedFiles(d2).isEmpty,
      s"delta fold is rewrite-only, got:\n${plannedFiles(d2).mkString("\n")}")
    assert(d2.count() == 0)

    // and the CHAIN across both tiers cancels too
    val d3 = t.readChanges(v1, v3)
    assert(plannedFiles(d3).isEmpty && d3.count() == 0)
    GraftTable.drop(spark, dir)
  }

  test("churn flowing INTO a rewrite falls back to the conservative scan and stays correct") {
    val dir = Files.createTempDirectory("graft_cdffall_").toString + "/t"
    val t = GraftTable.create(spark, dir,
      spark.range(0, 1).selectExpr("id AS k").schema,
      sortColumns = Seq("k"), properties = Map("timetravel" -> "true"))
    t.insert(spark.range(0, 60).selectExpr("id AS k"))
    t.insert(spark.range(60, 120).selectExpr("id AS k"))
    val v1 = t.status.version
    // real churn (CoW delete rewrites the first segment), then a
    // compaction swallows the rewritten state — its sources are NOT
    // the v1 states, so a virtual leaf survives and the diff must
    // take the conservative path, never a wrong shortcut
    assert(Mutation.delete(t, col("k") < 20L) == 20L)
    assert(t.compact("MAJOR").nonEmpty)
    val v2 = t.status.version
    val diff = t.readChanges(v1, v2)
    val rows = diff.collect()
    assert(rows.forall(_.getAs[String]("_change_type") == "delete"))
    assert(rows.map(_.getLong(0)).toSet == (0L until 20L).toSet)
    assert(plannedFiles(diff).nonEmpty, "conservative path must scan")
    GraftTable.drop(spark, dir)
  }

  test("pre-r20 logs without provenance degrade to the conservative scan, still correct") {
    val dir = Files.createTempDirectory("graft_cdfback_").toString + "/t"
    val t = GraftTable.create(spark, dir,
      spark.range(0, 1).selectExpr("id AS k").schema,
      sortColumns = Seq("k"), properties = Map("timetravel" -> "true"))
    t.insert(spark.range(0, 40).selectExpr("id AS k"))
    t.insert(spark.range(40, 80).selectExpr("id AS k"))
    val v1 = t.status.version
    assert(t.compact("MAJOR").nonEmpty)
    val v2 = t.status.version
    // simulate a pre-r20 log: strip the provenance fields from every
    // entry (one more commit) and drop the intermediate log file the
    // edge walk would read (a delta, or the checkpoint a compaction of
    // most of the table writes instead)
    t.layout.commit(st => st.copy(segments =
      st.segments.map(_.copy(rewriteOf = Nil, rewriteFp = ""))))
    val v3 = t.status.version
    Seq(s"delta-$v2.json", s"ckpt-$v2.jsonl").foreach(f =>
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(s"$dir/_meta/log/$f")))
    val diff = t.readChanges(v1, v3)
    assert(diff.count() == 0, "compaction still nets to zero rows")
    assert(plannedFiles(diff).nonEmpty,
      "without tags the diff must scan conservatively (back-compat)")
    GraftTable.drop(spark, dir)
  }

  // ---- single-commit + misuse surfaces (r20, VERDICT r19 #4) ---------

  test("single-commit form: readChanges(v) == readChanges(v-1, v); SQL one-bound form") {
    val dir = Files.createTempDirectory("graft_cdfone_").toString + "/t"
    val t = GraftTable.create(spark, dir,
      spark.range(0, 1).selectExpr("id AS k").schema,
      properties = Map("timetravel" -> "true"))
    t.insert(spark.range(0, 30).selectExpr("id AS k"))
    t.insert(spark.range(30, 45).selectExpr("id AS k"))
    val v2 = t.status.version
    val one = t.readChanges(v2).collect()
    assert(one.length == 15 && one.forall(_.getAs[String]("_change_type") == "insert"))
    assert(one.map(_.getLong(0)).toSet == (30L until 45L).toSet)
    val sql = spark.sql(
      s"SELECT * FROM TABLE_CHANGES('$dir', $v2)").collect()
    assert(sql.map(_.getLong(0)).toSet == (30L until 45L).toSet)
    intercept[IllegalArgumentException](t.readChanges(0L))
    GraftTable.drop(spark, dir)
  }

  test("TABLE_CHANGES is a table-valued function: projection and WHERE around it") {
    val dir = Files.createTempDirectory("graft_cdftvf_").toString + "/t"
    val t = GraftTable.create(spark, dir,
      spark.range(0, 1).selectExpr("id AS k").schema,
      properties = Map("timetravel" -> "true"))
    t.insert(spark.range(0, 5).selectExpr("id AS k"))
    val v1 = t.status.version
    t.insert(spark.range(5, 12).selectExpr("id AS k"))
    Mutation.delete(t, col("k") === 2L)
    val v3 = t.status.version
    val got = spark.sql(s"SELECT k FROM TABLE_CHANGES('$dir', $v1, $v3) WHERE k > 3")
      .collect().map(_.getLong(0)).sorted.toSeq
    val expected = t.readChanges(v1, v3).where(col("k") > 3).select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got.nonEmpty && got == expected)
    // joins around the feed work too
    spark.range(0, 8).selectExpr("id AS k", "id * 10 AS w").createOrReplaceTempView("cdf_dim")
    assert(spark.sql(s"""SELECT c.k, d.w FROM TABLE_CHANGES('$dir', $v1, $v3) c
                         JOIN cdf_dim d ON c.k = d.k""").count() ==
      t.readChanges(v1, v3).where(col("k") < 8).count())
    GraftTable.drop(spark, dir)
  }

  test("README's change-feed lines run through spark.sql, by path and by catalog name") {
    val wh = Files.createTempDirectory("graft_cdfreadme_").toString
    spark.conf.set("spark.sql.catalog.gcdf", "graft.engine.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gcdf.warehouse", wh)
    val dir = s"$wh/prod/sales"
    val t = GraftTable.create(spark, dir,
      spark.range(0, 1).selectExpr("id AS k").schema,
      properties = Map("timetravel" -> "true"))
    t.insert(spark.range(0, 10).selectExpr("id AS k"))
    val v40 = t.status.version
    Thread.sleep(30)
    // a session-zone (UTC) timestamp string, as the README writes it
    val ts = java.time.LocalDateTime.now(java.time.ZoneOffset.UTC).toString.replace('T', ' ')
    Thread.sleep(30)
    t.insert(spark.range(10, 14).selectExpr("id AS k"))
    val v42 = t.status.version
    val expected = t.readChanges(v40, v42).collect().map(_.toString).sorted.toSeq
    Seq(s"SELECT * FROM TABLE_CHANGES('$dir', $v40, $v42)",
      s"SELECT * FROM TABLE_CHANGES('$dir', '$ts', $v42)",
      s"SELECT * FROM TABLE_CHANGES('gcdf.prod.sales', $v40, $v42)").foreach { q =>
      assert(spark.sql(q).collect().map(_.toString).sorted.toSeq == expected, q)
    }
    GraftTable.drop(spark, dir)
  }

  test("readChangesPaired relabels one-delete-one-insert keys as update pre/post images") {
    val dir = Files.createTempDirectory("graft_cdfpair_").toString + "/t"
    val t = GraftTable.create(spark, dir,
      spark.range(0, 1).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").schema,
      sortColumns = Seq("k"), properties = Map("timetravel" -> "true"))
    t.insert(spark.range(0, 100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"))
    val v1 = t.status.version
    // an UPDATE (delete+insert of the same keys at new values), plus a
    // pure delete and a pure insert that must keep their plain labels
    Mutation.update(t, col("k") < 10L, Map("v" -> (col("v") + 1000.0)))
    assert(Mutation.delete(t, col("k") === 50L) == 1L)
    t.insert(spark.range(200, 205).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"))
    val v2 = t.status.version
    val rows = t.readChangesPaired(v1, v2, "k").collect()
    def byType(ct: String) =
      rows.filter(_.getAs[String]("_change_type") == ct).map(_.getLong(0)).toSet
    assert(byType("update_preimage") == (0L until 10L).toSet)
    assert(byType("update_postimage") == (0L until 10L).toSet)
    val pre = rows.filter(_.getAs[String]("_change_type") == "update_preimage")
    val post = rows.filter(_.getAs[String]("_change_type") == "update_postimage")
    assert(pre.forall(r => r.getAs[Double]("v") == r.getLong(0).toDouble))
    assert(post.forall(r => r.getAs[Double]("v") == r.getLong(0).toDouble + 1000.0))
    assert(byType("delete") == Set(50L))
    assert(byType("insert") == (200L until 205L).toSet)
    GraftTable.drop(spark, dir)
  }

  // ---- CDF × schema evolution (r20, VERDICT r19 #3) ------------------

  test("CDF × ADD COLUMN between bounds: old rows read null on both legs, net correct") {
    val dir = Files.createTempDirectory("graft_cdfadd_").toString + "/t"
    val t = GraftTable.create(spark, dir,
      spark.range(0, 1).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").schema,
      properties = Map("timetravel" -> "true"))
    t.insert(spark.range(0, 50).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"))
    val v1 = t.status.version
    t.addColumns(Seq(org.apache.spark.sql.types.StructField("bonus",
      org.apache.spark.sql.types.LongType)))
    t.insert(spark.range(50, 70).selectExpr(
      "id AS k", "CAST(id AS DOUBLE) AS v", "id % 7 AS bonus"))
    assert(Mutation.delete(t, col("k") < 10L) == 10L)
    val v2 = t.status.version
    val rows = t.readChanges(v1, v2).collect()
    val ins = rows.filter(_.getAs[String]("_change_type") == "insert")
    val del = rows.filter(_.getAs[String]("_change_type") == "delete")
    assert(ins.map(_.getLong(0)).toSet == (50L until 70L).toSet)
    assert(ins.forall(r => r.getAs[Long]("bonus") == r.getLong(0) % 7))
    // deleted rows predate the column: the pre-image reads null
    assert(del.map(_.getLong(0)).toSet == (0L until 10L).toSet)
    assert(del.forall(_.isNullAt(del.head.fieldIndex("bonus"))))
    GraftTable.drop(spark, dir)
  }

  test("CDF × DROP COLUMN between bounds: the column is excluded from both legs") {
    val dir = Files.createTempDirectory("graft_cdfdrop_").toString + "/t"
    val t = GraftTable.create(spark, dir,
      spark.range(0, 1).selectExpr(
        "id AS k", "CAST(id AS DOUBLE) AS v", "id % 5 AS extra").schema,
      properties = Map("timetravel" -> "true"))
    t.insert(spark.range(0, 50).selectExpr(
      "id AS k", "CAST(id AS DOUBLE) AS v", "id % 5 AS extra"))
    val v1 = t.status.version
    t.dropColumns(Seq("extra"))
    assert(Mutation.delete(t, col("k") < 15L) == 15L)
    val v2 = t.status.version
    val diff = t.readChanges(v1, v2)
    assert(!diff.schema.fieldNames.contains("extra"))
    val rows = diff.collect()
    assert(rows.forall(_.getAs[String]("_change_type") == "delete"))
    assert(rows.map(_.getLong(0)).toSet == (0L until 15L).toSet)
    GraftTable.drop(spark, dir)
  }

  test("CDF × RENAME COLUMN between bounds: pinned semantics — a rename is a full-rewrite " +
      "commit; every row surfaces as delete+insert and the pre-image reads the renamed " +
      "column as null (name-based parquet matching against the pre-rename files)") {
    val dir = Files.createTempDirectory("graft_cdfren_").toString + "/t"
    val t = GraftTable.create(spark, dir,
      spark.range(0, 1).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").schema,
      properties = Map("timetravel" -> "true"))
    t.insert(spark.range(0, 25).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"))
    val v1 = t.status.version
    t.renameColumn("v", "price")
    val v2 = t.status.version
    val rows = t.readChanges(v1, v2).collect()
    val ins = rows.filter(_.getAs[String]("_change_type") == "insert")
    val del = rows.filter(_.getAs[String]("_change_type") == "delete")
    assert(ins.length == 25 && del.length == 25)
    assert(ins.forall(r => r.getAs[Double]("price") == r.getLong(0).toDouble))
    assert(del.forall(_.isNullAt(del.head.fieldIndex("price"))))
    GraftTable.drop(spark, dir)
  }

  test("CDF × RETYPE between bounds: a widening retype is a full-rewrite commit; " +
      "pre-image values read under the new type") {
    val dir = Files.createTempDirectory("graft_cdfretype_").toString + "/t"
    val t = GraftTable.create(spark, dir,
      spark.range(0, 1).selectExpr("id AS k", "CAST(id AS INT) AS n").schema,
      properties = Map("timetravel" -> "true"))
    t.insert(spark.range(0, 25).selectExpr("id AS k", "CAST(id AS INT) AS n"))
    val v1 = t.status.version
    t.changeColumnType("n", org.apache.spark.sql.types.LongType)
    val v2 = t.status.version
    val rows = t.readChanges(v1, v2).collect()
    // identical VALUES under the widened type cancel: the rewrite nets
    // to nothing (int 5 and long 5 are the same row once both legs are
    // served under the current schema)
    assert(rows.isEmpty,
      s"widening retype preserves values — net feed must be empty, got ${rows.length}")
    GraftTable.drop(spark, dir)
  }

  test("reserved change-feed column names in the table schema are refused") {
    val dir = Files.createTempDirectory("graft_cdfres_").toString + "/t"
    val t = GraftTable.create(spark, dir,
      spark.range(0, 1).selectExpr("id AS k", "'x' AS _change_type").schema,
      properties = Map("timetravel" -> "true"))
    t.insert(spark.range(0, 5).selectExpr("id AS k", "'x' AS _change_type"))
    val v = t.status.version
    val e = intercept[IllegalArgumentException](t.readChanges(v - 1, v))
    assert(e.getMessage.contains("_change_type"))
    GraftTable.drop(spark, dir)
    val dir2 = Files.createTempDirectory("graft_cdfres2_").toString + "/t"
    val t2 = GraftTable.create(spark, dir2,
      spark.range(0, 1).selectExpr("id AS k", "id AS _commit_timestamp").schema,
      properties = Map("timetravel" -> "true"))
    t2.insert(spark.range(0, 5).selectExpr("id AS k", "id AS _commit_timestamp"))
    val v2 = t2.status.version
    val e2 = intercept[IllegalArgumentException](t2.readChanges(v2 - 1, v2))
    assert(e2.getMessage.contains("_commit_timestamp"))
    GraftTable.drop(spark, dir2)
  }

  test("_commit_timestamp carries the span-end commit's persisted wall-clock") {
    val dir = Files.createTempDirectory("graft_cdfts_").toString + "/t"
    val t = GraftTable.create(spark, dir,
      spark.range(0, 1).selectExpr("id AS k").schema,
      properties = Map("timetravel" -> "true"))
    t.insert(spark.range(0, 10).selectExpr("id AS k"))
    t.insert(spark.range(10, 25).selectExpr("id AS k"))
    val v2 = t.status.version
    // per-commit form: every row is attributed to commit v2 — Delta's
    // table_changes semantics exactly
    val stampMs = t.layout.statusAt(v2).committedAt
    assert(stampMs > 0, "timetravel logs persist commit stamps since r18")
    val one = t.readChanges(v2).collect()
    assert(one.nonEmpty)
    assert(one.forall(_.getAs[java.sql.Timestamp]("_commit_timestamp")
      .getTime == stampMs))
    // span form: the END commit's stamp (the instant the net change
    // became fully visible), not the first bound's
    val span = t.readChanges(v2 - 2, v2).collect()
    assert(span.forall(_.getAs[java.sql.Timestamp]("_commit_timestamp")
      .getTime == stampMs))
    GraftTable.drop(spark, dir)
  }

  // ---- streaming form (r20, VERDICT r19 #4) ---------------------------

  test("readChangesStream: version-keyed micro-batches serve the same net feed") {
    val dir = Files.createTempDirectory("graft_cdfstream_").toString + "/t"
    val t = GraftTable.create(spark, dir,
      spark.range(0, 1).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").schema,
      sortColumns = Seq("k"), properties = Map("timetravel" -> "true"))
    t.insert(spark.range(0, 100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"))
    val v0 = t.status.version
    // commits AFTER the starting version: a CoW delete then an insert
    assert(Mutation.delete(t, col("k") < 20L) == 20L)
    t.insert(spark.range(200, 230).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"))

    val feed = graft.engine.streaming.GraftStreaming
      .readChangesStream(spark, dir, Some(v0))
    assert(feed.isStreaming)
    val qn = s"cdf_stream_${System.nanoTime()}"
    val q = feed.writeStream.format("memory").queryName(qn)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = spark.table(qn).collect()
    val ins = rows.filter(_.getAs[String]("_change_type") == "insert")
    val del = rows.filter(_.getAs[String]("_change_type") == "delete")
    // whether the engine split the two commits into one batch or two,
    // the union is the same: the delete touches only pre-v0 rows and
    // the insert is disjoint from it
    assert(ins.map(_.getLong(0)).toSet == (200L until 230L).toSet)
    assert(del.map(_.getLong(0)).toSet == (0L until 20L).toSet)
    GraftTable.drop(spark, dir)
  }

  test("readChangesStream across a rewrite-only commit: the batch nets empty " +
      "(the CDC-consumer-during-OPTIMIZE serving shape)") {
    val dir = Files.createTempDirectory("graft_cdfstreamrw_").toString + "/t"
    val t = GraftTable.create(spark, dir,
      spark.range(0, 1).selectExpr("id AS k").schema,
      sortColumns = Seq("k"), properties = Map("timetravel" -> "true"))
    t.insert(spark.range(0, 40).selectExpr("id AS k"))
    t.insert(spark.range(40, 80).selectExpr("id AS k"))
    val v0 = t.status.version
    // the only commit after the stream's start is a MAJOR compaction —
    // the consumer's next batch spans a rewrite and nothing else
    assert(t.compact("MAJOR").nonEmpty)
    assert(t.status.version > v0, "compaction must commit")
    val feed = graft.engine.streaming.GraftStreaming
      .readChangesStream(spark, dir, Some(v0))
    val qn = s"cdf_streamrw_${System.nanoTime()}"
    val q = feed.writeStream.format("memory").queryName(qn)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // the version offset advances past the compaction, but the served
    // batch cancels symbolically — zero rows delivered downstream
    assert(spark.table(qn).count() == 0,
      "a rewrite-only commit must deliver an empty micro-batch")
    // and a real commit AFTER the rewrite still flows through a fresh
    // stream whose span crosses the compaction: only the insert emits
    t.insert(spark.range(500, 510).selectExpr("id AS k"))
    val feed2 = graft.engine.streaming.GraftStreaming
      .readChangesStream(spark, dir, Some(v0))
    val qn2 = s"cdf_streamrw2_${System.nanoTime()}"
    val q2 = feed2.writeStream.format("memory").queryName(qn2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q2.awaitTermination()
    val rows2 = spark.table(qn2).collect()
    assert(rows2.forall(_.getAs[String]("_change_type") == "insert"))
    assert(rows2.map(_.getLong(0)).toSet == (500L until 510L).toSet)
    GraftTable.drop(spark, dir)
  }

  test("SQL surface: SELECT * FROM TABLE_CHANGES('<t>', v1, v2) and timestamp bounds") {
    val dir = Files.createTempDirectory("graft_cdfsql_").toString + "/t"
    val t = GraftTable.create(spark, dir,
      spark.range(0, 1).selectExpr("id AS k").schema,
      properties = Map("timetravel" -> "true"))
    t.insert(spark.range(0, 30).selectExpr("id AS k"))
    val v1 = t.status.version
    Thread.sleep(30)
    val mid = System.currentTimeMillis()
    Thread.sleep(30)
    t.insert(spark.range(30, 45).selectExpr("id AS k"))
    val v2 = t.status.version
    val byVersion = spark.sql(
      s"SELECT * FROM TABLE_CHANGES('$dir', $v1, $v2)").collect()
    assert(byVersion.length == 15)
    assert(byVersion.forall(_.getAs[String]("_change_type") == "insert"))
    // timestamp bounds resolve session-TZ like every other surface
    val byTs = spark.sql(
      s"SELECT * FROM TABLE_CHANGES('$dir', '${new java.sql.Timestamp(mid)}', $v2)").collect()
    assert(byTs.length == 15)
    GraftTable.drop(spark, dir)
  }
}
