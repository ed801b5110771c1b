package graft.engine

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** TIME TRAVEL — `readAsOf(version)` / `readAsOfTimestamp(ts)` (r17,
  * beyond the reference; the Delta/Iceberg `VERSION AS OF` capability
  * built on this engine's own commit-log retention).
  *
  * Every table commits checkpoint + delta, so every table time-travels
  * with no opt-in: a version replays from the newest checkpoint at or
  * below it plus its delta tail, and CLEAN FILES keeps at least the
  * last graft.timetravel.retain versions replayable.
  *
  * Contracts: an as-of read is byte-identical to what a reader saw at
  * that version (copy-on-write rewrites resurrect the retired inputs;
  * merge-on-read masks exactly the deltas that existed THEN); versions
  * past the horizon fail loudly, never serve wrong data.
  */
class TimeTravelSpec extends AnyFunSuite {
  import TestSpark._

  test("inline table with timetravel='true': every version readable, CoW past resurrected") {
    val dir = Files.createTempDirectory("graft_tt_").toString + "/t"
    val a = spark.range(0, 1000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    val t = GraftTable.create(spark, dir, a.schema, sortColumns = Seq("k"),
      properties = Map("timetravel" -> "true", "global_sort_partitions" -> "2"))
    t.insert(a)
    val v1 = t.status.version
    t.insert(spark.range(1000, 1500).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"))
    val v2 = t.status.version
    val ts2 = System.currentTimeMillis()
    Thread.sleep(20)
    // copy-on-write delete rewrites the touched segment and retires the
    // input — the as-of read must resurrect the retired segment
    assert(Mutation.delete(t, col("k") < 100L) == 100L)
    val v3 = t.status.version

    assert(t.read.count() == 1400L)
    assert(t.readAsOf(v3).count() == 1400L, "as-of current == current")
    assert(t.readAsOf(v2).count() == 1500L, "pre-delete version must see deleted rows")
    assert(t.readAsOf(v1).count() == 1000L, "first-insert version")
    assert(t.readAsOf(v1).agg(sum("k")).head.getLong(0) == 999L * 1000L / 2)
    // version between: the reserve commit of insert #2 (IN_PROGRESS is
    // invisible) — consistent with what a reader saw at that instant
    assert(t.readAsOf(v1 + 1).count() == 1000L)
    // timestamp resolution picks the newest commit at or before ts
    assert(t.readAsOfTimestamp(ts2).count() == 1500L)
    assert(t.readAsOfTimestamp(System.currentTimeMillis()).count() == 1400L)
    intercept[IllegalArgumentException] { t.readAsOf(v3 + 10) }
    GraftTable.drop(spark, dir)
  }

  test("checkpointed table: ckpt+delta replay serves the horizon, MoR deltas as-of, loud past it") {
    System.setProperty("graft.status.checkpoint.every", "6")
    try {
      val dir = Files.createTempDirectory("graft_ttc_").toString + "/t"
      val a = spark.range(0, 600).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
      val t = GraftTable.create(spark, dir, a.schema, sortColumns = Seq("k"),
        properties = Map("iud_mode" -> "mor", "global_sort_partitions" -> "1"))
      t.insert(a)
      assert(t.status.ckptV >= 0, "every table commits checkpoint + delta")
      val v1 = t.status.version
      // a MoR delete adds a delta to the SAME segment: the as-of read
      // must serve the segment WITHOUT the later delta
      assert(Mutation.delete(t, col("k") < 50L) == 50L)
      val v2 = t.status.version
      assert(t.read.count() == 550L)
      assert(t.readAsOf(v1).count() == 600L, "pre-MoR-delete rows must be visible as-of")
      assert(t.readAsOf(v2).count() == 550L)

      // roll the checkpoint twice: versions below prevCkptV still replay
      // from the older checkpoints left in the log directory
      (0 until 14).foreach(i => t.insert(
        spark.range(1000L + i * 10, 1000L + i * 10 + 10)
          .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")))
      val st = t.status
      assert(st.prevCkptV > v1,
        s"fixture must have rolled past v1 (prevCkptV=${st.prevCkptV}, v1=$v1)")
      assert(t.readAsOf(v1).count() == 600L)
      assert(t.readAsOf(v2).count() == 550L)

      // once CLEAN FILES sweeps the log past the retention horizon, v1
      // fails LOUDLY; versions inside [prevCkptV, version] still replay
      System.setProperty("graft.timetravel.retain", "4")
      val old = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2 * 3600 * 1000)
      java.nio.file.Files.list(java.nio.file.Paths.get(dir, "_meta", "log"))
        .forEach(p => java.nio.file.Files.setLastModifiedTime(p, old))
      t.cleanFiles()
      val e = intercept[IllegalStateException] { t.readAsOf(v1) }
      assert(e.getMessage.contains("horizon"))
      assert(t.readAsOf(st.prevCkptV).count() >= 550L)
      GraftTable.drop(spark, dir)
    } finally {
      System.clearProperty("graft.status.checkpoint.every")
      System.clearProperty("graft.timetravel.retain")
    }
  }

  test("a table created with no properties time-travels and feeds changes: every version, TIMESTAMP AS OF, readChanges, TABLE_CHANGES, SHOW VERSIONS") {
    val dir = Files.createTempDirectory("graft_ttplain_").toString + "/t"
    val t = GraftTable.create(spark, dir, spark.range(0, 1).selectExpr("id AS k").schema)
    // final version of each operation -> the rows it leaves; a version
    // between two operations' final commits (a reserve commit) serves
    // the earlier state
    val states = scala.collection.mutable.LinkedHashMap[Long, Seq[Long]](0L -> Nil)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getLong(0)).toSeq.sorted
    t.insert(spark.range(0, 100).selectExpr("id AS k"))
    val v1 = t.status.version
    states(v1) = 0L until 100L
    Thread.sleep(20)
    val ts1 = System.currentTimeMillis()
    Thread.sleep(20)
    t.insert(spark.range(100, 150).selectExpr("id AS k"))
    states(t.status.version) = 0L until 150L
    assert(Mutation.delete(t, col("k") < 10L) == 10L)
    val v3 = t.status.version
    states(v3) = 10L until 150L

    (1L to v3).foreach { v =>
      val want = states(states.keys.filter(_ <= v).max)
      assert(rows(t.readAsOf(v)) == want, s"AS OF $v")
    }
    assert(rows(t.readAsOfTimestamp(ts1)) == states(v1))
    val feed = t.readChanges(v1, v3).select("_change_type", "k").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(feed == ((100L until 150L).map(k => ("insert", k)) ++
      (0L until 10L).map(k => ("delete", k))).sorted)
    val sqlFeed = spark.sql(s"SELECT _change_type, k FROM TABLE_CHANGES('$dir', $v1, $v3)")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
    assert(sqlFeed == feed)
    val versions = spark.sql(s"SHOW VERSIONS FOR TABLE $dir").collect().map(_.getLong(0)).toSeq
    assert(versions == (v3 to 1L by -1L), s"every commit listed, got $versions")
    GraftTable.drop(spark, dir)
  }

  test("six-segment table, three copy-on-write UPDATEs that each roll a checkpoint: AS OF every version equals the per-version model") {
    val dir = Files.createTempDirectory("graft_ttroll_").toString + "/t"
    val t = GraftTable.create(spark, dir,
      spark.range(0, 1).selectExpr("id AS k", "0L AS v").schema)
    val states = scala.collection.mutable.LinkedHashMap[Long, Seq[(Long, Long)]](0L -> Nil)
    var model = Seq.empty[(Long, Long)]
    var nextK = 0L
    // tops the table up to six live segments: a copy-on-write UPDATE
    // rewrites every segment it touches into one
    def topUp(): Unit = while (t.status.visible.size < 6) {
      t.insert(spark.range(nextK, nextK + 50).selectExpr("id AS k", "0L AS v"))
      model = model ++ (nextK until nextK + 50).map(_ -> 0L)
      nextK += 50
      states(t.status.version) = model
    }
    topUp()
    val firstInsert = states.keys.drop(1).head
    val ckpts = scala.collection.mutable.ArrayBuffer(t.status.ckptV)
    (1 to 3).foreach { _ =>
      topUp()
      assert(t.update(lit(true), Map("v" -> (col("v") + 1))) == model.size.toLong)
      model = model.map { case (k, v) => (k, v + 1) }
      states(t.status.version) = model
      ckpts += t.status.ckptV
    }
    assert(ckpts.distinct.size == ckpts.size,
      s"each full-table UPDATE must roll a checkpoint: $ckpts")
    assert(t.status.prevCkptV > firstInsert)
    (firstInsert to t.status.version).foreach { v =>
      val want = states(states.keys.filter(_ <= v).max).sorted
      val got = t.readAsOf(v).select("k", "v").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      assert(got == want, s"AS OF $v")
    }
    GraftTable.drop(spark, dir)
  }

  test("tables an older release wrote (single-file manifest, whole-JSON checkpoint) open, read, commit and time-travel") {
    import graft.engine.format.{MetaCache, TableStatus}
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    def write(p: java.nio.file.Path, st: TableStatus): Unit =
      java.nio.file.Files.write(p, m.writerWithDefaultPrettyPrinter().writeValueAsBytes(st))
    def legacy(name: String)(rewrite: (java.nio.file.Path, TableStatus) => Unit): Unit = {
      val dir = Files.createTempDirectory(s"graft_ttlegacy_${name}_").toString + "/t"
      val a = spark.range(0, 100).selectExpr("id AS k")
      val t = GraftTable.create(spark, dir, a.schema)
      t.insert(a)
      t.insert(spark.range(100, 130).selectExpr("id AS k"))
      val meta = java.nio.file.Paths.get(dir, "_meta")
      val st = t.layout.readStatusUncached()
      val logDir = meta.resolve("log")
      java.nio.file.Files.list(logDir).forEach(p => java.nio.file.Files.delete(p))
      rewrite(meta, st.copy(ckptV = -1L, prevCkptV = -1L, ckptId = ""))
      MetaCache.drop(Some(t.layout.root.toString))
      val old = GraftTable.at(spark, dir)
      val v0 = old.status.version
      assert(v0 == st.version && old.read.count() == 130L, name)
      // the next commits convert the log; the versions they write replay
      Mutation.delete(old, col("k") < 20L)
      val v1 = old.status.version
      old.insert(spark.range(200, 205).selectExpr("id AS k"))
      val v2 = old.status.version
      assert(old.status.ckptV >= 0, s"$name: the first new commit converts the log")
      assert(old.read.count() == 115L)
      assert(old.readAsOf(v1).count() == 110L, name)
      assert(old.readAsOf(v2).count() == 115L, name)
      assert(old.readChanges(v1, v2).count() == 5L, name)
      MetaCache.drop(Some(old.layout.root.toString))
      assert(GraftTable.at(spark, dir).readAsOf(v1).count() == 110L, s"$name: cold replay")
      GraftTable.drop(spark, dir)
    }
    // the single-file manifest: every segment inline, no log directory
    legacy("inline") { (meta, full) =>
      java.nio.file.Files.delete(meta.resolve("log"))
      write(meta.resolve("tablestatus.json"), full)
    }
    // a manifest over a whole-JSON checkpoint at the current version
    legacy("ckptjson") { (meta, full) =>
      write(meta.resolve("log").resolve(s"ckpt-${full.version}.json"), full)
      write(meta.resolve("tablestatus.json"), full.copy(segments = Nil,
        ckptV = full.version, ckptId = "0123456789ab"))
    }
  }

  test("SQL surface: SELECT ... VERSION AS OF / TIMESTAMP AS OF through the catalog") {
    // Spark's own time-travel grammar lands on TableCatalog.loadTable
    // (ident, version) — GraftCatalog resolves it to a scan pinned to
    // statusAt(v)
    val wh = Files.createTempDirectory("graft_ttsql_").toString
    spark.conf.set("spark.sql.catalog.gtt", "graft.engine.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtt.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gtt.ns")
    spark.sql("CREATE TABLE gtt.ns.t (k BIGINT, v DOUBLE) USING carbonish " +
      "TBLPROPERTIES ('timetravel'='true')")
    spark.sql("INSERT INTO gtt.ns.t SELECT id, CAST(id AS DOUBLE) FROM range(100)")
    val t = GraftTable.at(spark, s"$wh/ns/t")
    val v1 = t.status.version
    Thread.sleep(20)
    val ts1 = new java.sql.Timestamp(System.currentTimeMillis())
    Thread.sleep(20)
    spark.sql("INSERT INTO gtt.ns.t SELECT id, CAST(id AS DOUBLE) FROM range(100, 150)")
    assert(spark.sql("SELECT count(*) FROM gtt.ns.t").head.getLong(0) == 150L)
    assert(spark.sql(s"SELECT count(*) FROM gtt.ns.t VERSION AS OF $v1")
      .head.getLong(0) == 100L)
    assert(spark.sql(s"SELECT sum(k) FROM gtt.ns.t VERSION AS OF $v1")
      .head.getLong(0) == 99L * 100L / 2)
    assert(spark.sql(s"SELECT count(*) FROM gtt.ns.t TIMESTAMP AS OF '$ts1'")
      .head.getLong(0) == 100L)
    // out-of-range / aged-out versions fail at RESOLUTION, loudly
    val e = intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM gtt.ns.t VERSION AS OF 99999").collect()
    }
    assert(e.getMessage.contains("out of range") || e.getMessage.contains("99999"))
  }

  test("catalog VERSION AS OF before a NOT NULL column rename equals readAsOf") {
    // history is served under the current schema with every column
    // nullable, on the path and the catalog surface alike: files from
    // before the rename lack the new name and read it as null
    val wh = Files.createTempDirectory("graft_ttren_").toString
    spark.conf.set("spark.sql.catalog.gttr", "graft.engine.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gttr.warehouse", wh)
    val src = spark.range(0, 100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    assert(!src.schema("v").nullable)
    val t = GraftTable.create(spark, s"$wh/ns/t", src.schema, sortColumns = Seq("k"),
      properties = Map("timetravel" -> "true"))
    t.insert(src)
    val v = t.status.version
    t.renameColumn("v", "w")
    val viaPath = t.readAsOf(v)
    val viaCatalog = spark.sql(s"SELECT * FROM gttr.ns.t VERSION AS OF $v")
    assert(viaCatalog.schema == viaPath.schema)
    val rows = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(_.toSeq.mkString(",")).sorted.toSeq
    assert(rows(viaCatalog).size == 100)
    assert(rows(viaCatalog) == rows(viaPath))
  }

  test("SHOW VERSIONS lists the retained as-of coordinates") {
    val dir = Files.createTempDirectory("graft_ttshow_").toString + "/t"
    val a = spark.range(0, 50).selectExpr("id AS k")
    val t = GraftTable.create(spark, dir, a.schema,
      properties = Map("timetravel" -> "true"))
    t.insert(a)
    t.insert(spark.range(50, 80).selectExpr("id AS k"))
    val rows = spark.sql(s"SHOW VERSIONS FOR TABLE $dir").collect()
    val versions = rows.map(_.getLong(0))
    assert(versions.head == t.status.version, "newest first, current on top")
    assert(rows.head.getString(2) == "current")
    assert(versions.length >= 4, s"every commit retained, got ${versions.toSeq}")
    assert(versions.toSeq == versions.toSeq.sorted.reverse)
    // every listed non-current version is actually readable
    versions.tail.foreach(v => assert(t.readAsOf(v).count() >= 0))
    GraftTable.drop(spark, dir)
  }

  test("RESTORE: metadata-only rollback; forward version; restorable restore; vacuumed target fails loudly") {
    val dir = Files.createTempDirectory("graft_ttrestore_").toString + "/t"
    val a = spark.range(0, 500).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    val t = GraftTable.create(spark, dir, a.schema, sortColumns = Seq("k"),
      properties = Map("timetravel" -> "true", "global_sort_partitions" -> "2"))
    t.insert(a)
    val vGood = t.status.version
    // the mis-step: a bad CoW delete wipes 40% of the table
    assert(Mutation.delete(t, col("k") % 5 < 2) == 200L)
    assert(t.read.count() == 300L)
    // rollback — one metadata commit, no data rewrite
    val vAfterRestore = t.restoreTo(vGood)
    assert(t.read.count() == 500L, "restore must resurrect the pre-delete data")
    assert(t.read.agg(sum("k")).head.getLong(0) == 499L * 500L / 2)
    assert(vAfterRestore > vGood, "restore moves the version FORWARD (audit, not erasure)")
    // the mis-step stays readable as history
    assert(t.readAsOf(vAfterRestore - 1).count() == 300L,
      "the restored-over state must remain time-travel readable")
    // a restore can itself be restored (back to the bad state)
    t.restoreTo(vAfterRestore - 1)
    assert(t.read.count() == 300L)
    t.restoreTo(vGood)
    assert(t.read.count() == 500L)
    // SQL surface
    spark.sql(s"RESTORE TABLE $dir TO VERSION AS OF $vGood")
    assert(t.read.count() == 500L)
    // new ids minted after vGood are never re-minted post-restore
    val idsBefore = t.status.segments.map(_.id).toSet
    t.insert(spark.range(9000, 9010).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"))
    val newId = t.status.segments.map(_.id).max
    assert(!idsBefore.contains(newId))
    assert(newId > idsBefore.max, "id high-water mark must survive the restore")

    // vacuumed restore target: physically reclaim the retired rewrite
    // inputs, then the restore must fail BEFORE touching metadata
    val t2dir = Files.createTempDirectory("graft_ttrestore2_").toString + "/t"
    val t2 = GraftTable.create(spark, t2dir, a.schema,
      properties = Map("timetravel" -> "true"))
    t2.insert(a)
    val v2 = t2.status.version
    Mutation.delete(t2, col("k") < 100L)
    // age + clean: retention 0 reclaims the retired segment's files
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2 * 3600 * 1000)
    java.nio.file.Files.walk(java.nio.file.Paths.get(t2dir)).forEach(p =>
      try java.nio.file.Files.setLastModifiedTime(p, old)
      catch { case scala.util.control.NonFatal(_) => () })
    t2.cleanFiles()
    val before = t2.read.count()
    val e = intercept[IllegalArgumentException] { t2.restoreTo(v2) }
    assert(e.getMessage.contains("physically reclaimed"))
    assert(t2.read.count() == before, "failed restore must not touch metadata")
    GraftTable.drop(spark, dir); GraftTable.drop(spark, t2dir)
  }

  test("RESTORE racing CLEAN FILES: a resurrected segment survives the clean's stale dead-set") {
    // the widest real window: CLEAN FILES decided its dead set (phase
    // A) and is about to walk object storage (phase B can take
    // minutes); a RESTORE lands in between and resurrects one of the
    // decided-dead entries — same (id, createdAt), status back to
    // SUCCESS. The clean must neither delete its files (phase B
    // re-verifies identity INCLUDING status) nor drop the live entry
    // (phase C matches on (id, createdAt, status)).
    val dir = Files.createTempDirectory("graft_ttrace_").toString + "/t"
    val a = spark.range(0, 300).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    val t = GraftTable.create(spark, dir, a.schema,
      properties = Map("timetravel" -> "true"))
    t.insert(a)
    val vGood = t.status.version
    assert(Mutation.delete(t, col("k") < 50L) == 50L) // retires segment 0
    var restored = false
    Failpoints.withHandler((point, path) => {
      if (point == "clean.decided" && path == dir && !restored) {
        restored = true
        t.restoreTo(vGood) // resurrects the decided-dead entry
      }
    }) { t.cleanFiles() }
    assert(restored, "failpoint never fired")
    assert(t.read.count() == 300L,
      "the clean deleted/dropped the segment a concurrent RESTORE resurrected")
    assert(t.read.agg(sum("k")).head.getLong(0) == 299L * 300L / 2)
    // and a later clean with no interleaving still reclaims the now-
    // retired rewrite output normally (idempotent convergence)
    t.cleanFiles()
    assert(t.read.count() == 300L)
    GraftTable.drop(spark, dir)
  }

  test("retention: CLEAN FILES reclaims log files past graft.timetravel.retain") {
    System.setProperty("graft.timetravel.retain", "3")
    System.setProperty("graft.status.checkpoint.every", "2")
    try {
      val dir = Files.createTempDirectory("graft_ttgc_").toString + "/t"
      val a = spark.range(0, 100).selectExpr("id AS k")
      val t = GraftTable.create(spark, dir, a.schema)
      t.insert(a)
      val vOld = t.status.version
      // final version of each insert -> visible rows; the reserve commit
      // between two of them serves the earlier count
      val counts = scala.collection.mutable.LinkedHashMap(vOld -> 100L)
      (0 until 3).foreach { i =>
        t.insert(spark.range(100L + i * 10, 100L + i * 10 + 10).selectExpr("id AS k"))
        counts(t.status.version) = 110L + i * 10
      }
      val vNew = t.status.version
      assert(t.readAsOf(vOld).count() == 100L, "inside retention before the clean")
      // age the log files past the 1h sweep grace, then clean
      val logDir = java.nio.file.Paths.get(dir, "_meta", "log")
      val old = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2 * 3600 * 1000)
      java.nio.file.Files.list(logDir).forEach(p =>
        java.nio.file.Files.setLastModifiedTime(p, old))
      t.cleanFiles()
      intercept[IllegalStateException] { t.readAsOf(vOld) }
      // the last `retain` versions survive the clean, exactly
      (vNew - 3 to vNew).foreach(v =>
        assert(t.readAsOf(v).count() == counts(counts.keys.filter(_ <= v).max), s"AS OF $v"))
      // and the sweep kept no more than one checkpoint interval beyond them
      val kept = t.layout.retainedVersions().map(_._1)
      assert(kept.min >= vNew - 3 - 2 && kept.min <= vNew - 3, s"retained $kept")
      GraftTable.drop(spark, dir)
    } finally {
      System.clearProperty("graft.timetravel.retain")
      System.clearProperty("graft.status.checkpoint.every")
    }
  }

  test("TIMESTAMP AS OF resolves from the PERSISTED commit wall-clock, surviving a full mtime rewrite (r18)") {
    // Advisor r17: mtime-based resolution silently shifts to wrong
    // versions when a table dir is copied/restored by backup tooling
    // (every mtime becomes copy time), and lingering pre-checkpoint
    // deltas resolved-then-rejected spuriously. r18 persists the
    // commit wall-clock INSIDE every log file (manifest, delta, ckpt
    // header) — this test simulates the migrated table by
    // rewriting EVERY file mtime to a year ago and asserts resolution
    // and SHOW VERSIONS still use the true commit times.
    val dir = Files.createTempDirectory("graft_ttwall_").toString + "/t"
    val a = spark.range(0, 200).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    val t0 = System.currentTimeMillis()
    val t = GraftTable.create(spark, dir, a.schema)
    t.insert(a)
    assert(t.status.ckptV >= 0, "fixture must be checkpointed")
    val v1 = t.status.version
    Thread.sleep(30)
    val mid = System.currentTimeMillis()
    Thread.sleep(30)
    t.insert(spark.range(200, 260).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"))
    val v2 = t.status.version

    // the migrated/copied table: every mtime rewritten
    val bogus = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 365L * 24 * 3600 * 1000)
    java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).forEach(p =>
      try java.nio.file.Files.setLastModifiedTime(p, bogus)
      catch { case scala.util.control.NonFatal(_) => () })

    assert(t.layout.versionAtTimestamp(mid) == v1,
      "TIMESTAMP AS OF must resolve from the persisted stamp, not mtimes")
    assert(t.readAsOfTimestamp(mid).count() == 200L)
    assert(t.layout.versionAtTimestamp(System.currentTimeMillis()) == v2)
    // every version a pre-checkpoint delta still covers resolves too
    // (advisor r17: these used to resolve by mtime then reject)
    assert(t.readAsOfTimestamp(System.currentTimeMillis()).count() == 260L)
    // SHOW VERSIONS surfaces the true commit times, not the rewrite
    val now = System.currentTimeMillis()
    val rows = t.layout.retainedVersions()
    assert(rows.nonEmpty)
    rows.foreach { case (v, ts, kind) =>
      assert(ts >= t0 - 1000 && ts <= now + 1000,
        s"version $v ($kind) shows stamp $ts outside the test's run " +
          s"window [$t0, $now] — mtime leaked into SHOW VERSIONS")
    }
    GraftTable.drop(spark, dir)
  }

  test("mass RESTORE: the resurrection walk (10k file probes) never rides the table lock (r18)") {
    // VERDICT r17 #1: the r17 resurrection verification ran per-file
    // driver-side existence probes INSIDE the locked commit — a mass
    // restore (the operation's core use case) is O(table) RPCs holding
    // the table lock for minutes on object storage. r18 pre-verifies
    // UNLOCKED (parallel probes) and re-verifies only drifted entries
    // under the lock. Local-fs stats are too fast to discriminate, so
    // the spec injects per-probe latency through the scheduling hook
    // and asserts the injected time shows up in the restore WALL but
    // not in the LOCK HOLD.
    val dir = Files.createTempDirectory("graft_ttmass_").toString + "/t"
    val a = spark.range(0, 100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    val t = GraftTable.create(spark, dir, a.schema)
    t.insert(a)
    // 20 synthetic segments × 500 physically-present files = 10k
    // probe targets, injected through the normal locked commit
    val SegN = 20; val FilesPer = 500
    val base = t.status.nextSegmentId
    (0 until SegN).foreach { i =>
      val sd = java.nio.file.Paths.get(t.layout.segmentDir(base + i).toString)
      java.nio.file.Files.createDirectories(sd)
      (0 until FilesPer).foreach(j =>
        java.nio.file.Files.createFile(sd.resolve(s"part-$j.parquet")))
    }
    t.layout.commit { st =>
      val fakes = (0 until SegN).map { i =>
        graft.engine.format.SegmentMeta(
          id = base + i, status = graft.engine.format.SegmentStatus.Success,
          format = "parquet",
          files = (0 until FilesPer).map(j => s"part-$j.parquet"),
          rowCount = 0, sizeBytes = 0, stats = Map.empty,
          sortColumns = Nil, createdAt = System.currentTimeMillis())
      }
      st.copy(segments = st.segments ++ fakes)
    }
    val vFull = t.status.version
    // the mis-step: retire every synthetic segment (metadata-only)
    t.layout.commit { st =>
      st.copy(segments = st.segments.map(s =>
        if (s.id >= base) s.retire(graft.engine.format.SegmentStatus.MarkedForDelete)
        else s))
    }
    assert(t.status.visible.size == 1)

    var probes = 0
    val probeCounter = new java.util.concurrent.atomic.AtomicInteger(0)
    graft.engine.format.TableLayout.resetLockHold()
    val tr = System.nanoTime()
    Failpoints.withHandler((point, p) => {
      if (point == "restore.verifyProbe" && p == dir) {
        probeCounter.incrementAndGet()
        Thread.sleep(0, 100000) // 0.1 ms of injected stat latency
      }
    }) { t.restoreTo(vFull) }
    val wallMs = (System.nanoTime() - tr) / 1e6
    probes = probeCounter.get
    val holdMs = graft.engine.format.TableLayout.lockHoldMaxNanos / 1e6
    info(f"mass restore: $probes probes, wall $wallMs%.0f ms, max lock hold $holdMs%.0f ms")
    assert(probes >= SegN * FilesPer, s"expected >= ${SegN * FilesPer} probes, saw $probes")
    assert(t.status.visible.size == SegN + 1, "restore must resurrect every segment")
    // the injected ~1s of probe latency must be visible in the wall…
    assert(wallMs >= 250, f"injected latency missing from wall ($wallMs%.0f ms) — hook dead?")
    // …and ABSENT from the lock hold: ms-scale flip only
    assert(holdMs < math.max(250, wallMs / 4),
      f"restore held the table lock $holdMs%.0f ms of a $wallMs%.0f ms walk — " +
        "the resurrection verification is back under the lock")
    GraftTable.drop(spark, dir)
  }

  test("RESTORE inside the single-entry unlink window: CLEAN FILES aborts LOUDLY, never silently (r18)") {
    // the irreducible residual after per-entry re-verification: an
    // entry passed its final identity check and a RESTORE publishes
    // before the unlink lands. The bytes are unrecoverable at that
    // point — the contract is DETECTION: phase C's resurrection-
    // conflict check must fail the clean loudly, naming the segment,
    // instead of committing its result over a live table that now
    // references missing data.
    val dir = Files.createTempDirectory("graft_ttloud_").toString + "/t"
    val a = spark.range(0, 200).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    val t = GraftTable.create(spark, dir, a.schema,
      properties = Map("timetravel" -> "true"))
    t.insert(a)
    val vGood = t.status.version
    val seg = t.status.visible.map(_.id).max
    t.deleteSegmentsById(Seq(seg))
    var fired = false
    val e = intercept[IllegalStateException] {
      Failpoints.withHandler((point, p) => {
        if (point == "clean.preUnlink" && p == dir && !fired) {
          fired = true
          t.restoreTo(vGood) // lands between the entry's re-verify and its unlink
        }
      }) { t.cleanFiles() }
    }
    assert(fired, "failpoint never fired")
    assert(e.getMessage.contains("RESTORE") && e.getMessage.contains(seg.toString),
      s"conflict must be loud and name the segment, got: ${e.getMessage}")
    GraftTable.drop(spark, dir)
  }

  test("RESTORE aborts loudly when a vacuum lands between pre-verification and its commit (r18)") {
    // the decide-unlocked/confirm-locked race: pre-verification passed
    // (files existed), then a CLEAN FILES physically reclaimed the
    // restore target before the locked commit — the drifted-entry
    // re-verify under the lock must abort, never publish a table that
    // references missing data
    val dir = Files.createTempDirectory("graft_ttvrace_").toString + "/t"
    val a = spark.range(0, 400).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    val t = GraftTable.create(spark, dir, a.schema, sortColumns = Seq("k"),
      properties = Map("timetravel" -> "true", "global_sort_partitions" -> "2"))
    t.insert(a)
    val vGood = t.status.version
    assert(Mutation.delete(t, col("k") < 100L) == 100L)
    val postDelete = t.read.count()
    val vBefore = t.status.version
    var vacuumed = false
    val e = intercept[IllegalArgumentException] {
      Failpoints.withHandler((point, p) => {
        if (point == "restore.preVerified" && p == dir && !vacuumed) {
          vacuumed = true
          // age everything past the sweep graces, then reclaim — the
          // CoW inputs the restore wants back are physically deleted
          val old = java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - 2 * 3600 * 1000)
          java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).forEach(q =>
            try java.nio.file.Files.setLastModifiedTime(q, old)
            catch { case scala.util.control.NonFatal(_) => () })
          t.cleanFiles()
        }
      }) { t.restoreTo(vGood) }
    }
    assert(vacuumed, "failpoint never fired")
    assert(e.getMessage.contains("physically reclaimed"))
    assert(t.read.count() == postDelete, "aborted restore must not touch metadata")
    assert(t.status.version == t.layout.readStatusUncached().version)
    assert(t.status.version >= vBefore)
    GraftTable.drop(spark, dir)
  }

  test("committedAt header probes are memoized across AS-OF resolutions (advisor r18)") {
    import graft.engine.format.TableLayout
    val dir = Files.createTempDirectory("graft_ttmemo_").toString + "/t"
    val a = spark.range(0, 30).selectExpr("id AS k")
    val t = GraftTable.create(spark, dir, a.schema,
      properties = Map("timetravel" -> "true"))
    t.insert(a)
    t.insert(spark.range(30, 50).selectExpr("id AS k"))
    t.insert(spark.range(50, 60).selectExpr("id AS k"))
    TableLayout.committedAtCache.clear()
    val now = System.currentTimeMillis() + 1000
    val v1 = t.layout.versionAtTimestamp(now)
    val n1 = TableLayout.committedAtCache.size
    assert(n1 > 0, "first resolution must populate the header-stamp memo")
    // stamps are immutable: a second resolution re-opens NOTHING
    assert(t.layout.versionAtTimestamp(now) == v1)
    assert(TableLayout.committedAtCache.size == n1,
      "second resolution must be served from the memo, not re-opened files")
    // new commits add only their OWN log files' entries
    t.insert(spark.range(60, 65).selectExpr("id AS k"))
    assert(t.layout.versionAtTimestamp(System.currentTimeMillis() + 1000) ==
      t.status.version)
    assert(TableLayout.committedAtCache.size >= n1)
    GraftTable.drop(spark, dir)
  }

  test("one commit-log form: src/main names no removed log knob, and TableLayout builds no v-<n> path") {
    import scala.jdk.CollectionConverters._
    val main = java.nio.file.Paths.get("src/main/scala")
    assert(Files.isDirectory(main), s"expected the sources under ${main.toAbsolutePath}")
    val gone = Seq("\"timetravel\"", "graft.status.inline.max", "graft.status.ckpt.jsonl.min",
      "graft.meta.probe", "graft.meta.serial.below")
    val vPath = """["/]v-\$""".r
    val offenders = for {
      p <- Files.walk(main).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      (l, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if gone.exists(l.contains) ||
        (p.getFileName.toString == "TableLayout.scala" && vPath.findFirstIn(l).isDefined)
    } yield s"$p:${i + 1}: ${l.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
