package graft.engine

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path => JPath}

/** Systematic crash-point fuzz of every commit state machine (VERDICT
  * r14 Next #4 — the reference hardens the same windows piecemeal in
  * SegmentStatusManager/CarbonCleanFilesCommand; here every window is
  * an enumerable [[Failpoints]] entry and each one is fuzzed).
  *
  * Kill simulation is COPY-based: the armed handler snapshots the whole
  * table directory at the instant the point fires — byte-for-byte the
  * state a `kill -9` at that step would leave — then the live operation
  * continues. Unlike throwing from the hook, a snapshot is not masked
  * by `finally` cleanup the real kill would never get to run.
  *
  * For every snapshot the same recovery contract is asserted:
  *  1. the commit log parses and the VISIBLE data equals the pre-op
  *     state or the post-op state, never anything in between;
  *  2. after the reclaim grace (mtimes aged 2h; stale-in-progress
  *     timeout set to 1ms) CLEAN FILES converges: no staged tmp dirs /
  *     fold debris / unreferenced data files survive, and visible data
  *     is unchanged by the clean;
  *  3. a second CLEAN FILES is a no-op (the recovery is idempotent).
  */
class CrashFuzzSpec extends AnyFunSuite {
  import TestSpark._

  private def tmpRoot(): JPath = Files.createTempDirectory("graft_fuzz_")

  /** Copy a table directory recursively (the "kill"). Other state
    * machines may be mid-write while the snapshot walks (e.g. a
    * concurrent fold's Spark job churning `_temporary` dirs), exactly
    * like a real kill racing them — so the walker tolerates entries
    * vanishing underneath it instead of failing the copy. */
  private def snapshot(src: String, dst: JPath): Unit = {
    val s = java.nio.file.Paths.get(src)
    import java.nio.file.{FileVisitResult, SimpleFileVisitor, Path => NioPath}
    import java.nio.file.attribute.BasicFileAttributes
    Files.walkFileTree(s, new SimpleFileVisitor[NioPath] {
      override def preVisitDirectory(p: NioPath, a: BasicFileAttributes): FileVisitResult = {
        Files.createDirectories(dst.resolve(s.relativize(p).toString))
        FileVisitResult.CONTINUE
      }
      override def visitFile(p: NioPath, a: BasicFileAttributes): FileVisitResult = {
        val t = dst.resolve(s.relativize(p).toString)
        Files.createDirectories(t.getParent)
        try Files.copy(p, t, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        catch { case _: java.io.IOException => () /* vanished mid-walk */ }
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(p: NioPath, e: java.io.IOException): FileVisitResult =
        FileVisitResult.CONTINUE // entry vanished between list and stat
      override def postVisitDirectory(p: NioPath, e: java.io.IOException): FileVisitResult =
        FileVisitResult.CONTINUE // dir vanished mid-iteration
    })
  }

  /** Age every file/dir mtime past the 1h reclaim grace. */
  private def ageAll(root: JPath): Unit = {
    val old = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() - 2 * 3600 * 1000)
    Files.walk(root).forEach(p =>
      try Files.setLastModifiedTime(p, old)
      catch { case scala.util.control.NonFatal(_) => () })
  }

  /** Every data-bearing file under segments/ must be referenced by the
    * commit log (files / deltas / removedFiles of some segment) — an
    * unreferenced survivor after a post-grace clean is a leak. */
  private def unreferencedFiles(t: GraftTable): Seq[String] = {
    val segsDir = java.nio.file.Paths.get(t.path, "segments")
    if (!Files.isDirectory(segsDir)) return Nil
    val referenced = t.status.segments.flatMap { s =>
      (s.files ++ s.removedFiles ++ s.deltas.values.flatten ++ s.deltas.keys)
        .map(r => java.nio.file.Paths.get(t.path, "segments", s.id.toString, r)
          .normalize.toString)
    }.toSet
    val out = scala.collection.mutable.ListBuffer.empty[String]
    Files.walk(segsDir).forEach { p =>
      // `_SUCCESS` / `_committed`-style markers are Spark committer
      // artifacts, not data; dotfiles are staging (checked separately)
      val n = p.getFileName.toString
      if (Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
          && !n.endsWith(".crc") && !referenced(p.normalize.toString))
        out += p.toString
    }
    out.toList
  }

  /** Staged debris that a post-grace clean must have reclaimed. */
  private def stagedDebris(path: String): Seq[String] = {
    val root = java.nio.file.Paths.get(path)
    if (!Files.isDirectory(root)) return Nil
    val out = scala.collection.mutable.ListBuffer.empty[String]
    Files.walk(root).forEach { p =>
      val n = p.getFileName.toString
      if (n.startsWith(".tmp-") || n.startsWith(".fold-tmp-") ||
          (n.startsWith(".") && n.contains(".tmp-")))
        out += p.toString
    }
    out.toList
  }

  /** Sorted full listing — for the clean-is-idempotent check. */
  private def listing(path: String): Seq[String] = {
    val root = java.nio.file.Paths.get(path)
    val out = scala.collection.mutable.ListBuffer.empty[String]
    Files.walk(root).forEach(p => out += root.relativize(p).toString)
    out.toList.sorted
  }

  private val tblProps = Map(
    "global_sort_partitions" -> "2",
    // reclaim reserved-but-crashed records immediately in the fuzz
    "stale_inprogress_timeout_ms" -> "1",
    // keep auto horizontal compaction out of the scripted scenarios
    "horizontal_compaction_threshold" -> "100")

  /** Build a 2-segment table with MoR deltas available for folding. */
  private def freshTable(dir: String, mor: Boolean = false): GraftTable = {
    val src = spark.range(0, 2000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    val t = GraftTable.create(spark, dir, src.schema, sortColumns = Seq("k"),
      properties = tblProps ++ (if (mor) Map("iud_mode" -> "mor") else Map.empty))
    t.insert(src)
    t.insert(spark.range(2000, 3000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"))
    t
  }

  /** Run `op` with `point` armed; return the snapshot dir (fails the
    * test if the point never fired). Snapshots only the FIRST firing. */
  private def killAt(point: String, t: GraftTable)(op: => Unit): String = {
    val snapDir = tmpRoot().resolve("snap")
    @volatile var fired = false
    Failpoints.withHandler { (p, path) =>
      if (!fired && p == point && path == t.path) {
        fired = true
        snapshot(t.path, snapDir)
      }
    }(op)
    assert(fired, s"failpoint $point never fired — instrumentation gap")
    snapDir.toString
  }

  /** The shared recovery contract. `allowedCounts` = the visible-row
    * counts the snapshot may legally show (pre-op and/or post-op). */
  private def assertRecovers(snapDir: String, allowedCounts: Set[Long]): Unit = {
    val t = GraftTable.at(spark, snapDir)
    // 1. atomicity: parseable log, no in-between states visible
    val n0 = t.read.count()
    assert(allowedCounts.contains(n0),
      s"snapshot shows $n0 visible rows; allowed: $allowedCounts")
    // 2. recovery: age past every grace, clean, re-check
    ageAll(java.nio.file.Paths.get(snapDir))
    Thread.sleep(5) // stale_inprogress_timeout_ms=1
    t.cleanFiles()
    assert(t.read.count() == n0, "CLEAN FILES changed visible data")
    val debris = stagedDebris(snapDir)
    assert(debris.isEmpty, s"staged debris survived the post-grace clean: $debris")
    val orphans = unreferencedFiles(t)
    assert(orphans.isEmpty, s"unreferenced files survived the post-grace clean: $orphans")
    // 3. idempotence: a second clean changes nothing on disk
    val before = listing(snapDir)
    t.cleanFiles()
    // allow the commit log itself (version bump) but nothing else
    val after = listing(snapDir)
    assert(before == after, {
      val d1 = before.diff(after); val d2 = after.diff(before)
      s"second CLEAN FILES changed the tree: -$d1 +$d2"
    })
    assert(t.read.count() == n0)
  }

  test("legacy tablestatus entries (pre-retiredAt) deserialize with safe defaults") {
    // an upgraded deployment reads commit logs written before the
    // retention field existed — retiredAt must come back 0 ("unknown",
    // reclaimed immediately once retention is enabled), and the other
    // defaulted fields keep their documented values
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m.configure(com.fasterxml.jackson.databind.DeserializationFeature
      .FAIL_ON_UNKNOWN_PROPERTIES, false)
    val js = """{"version":3,"segments":[{"id":0,"status":"MARKED_FOR_DELETE",
      "format":"parquet","files":["part-0.parquet"],"rowCount":10,
      "sizeBytes":100,"stats":{},"sortColumns":[],"createdAt":1700000000000}]}"""
    val st = m.readValue(js, classOf[graft.engine.format.TableStatus])
    val s = st.segments.head
    assert(s.retiredAt == 0L, "legacy retiredAt must default to 0 (reclaim-now)")
    assert(s.origin == "load" && s.lastBatchId == -1L && !s.isVisible)
  }

  test("registry: every instrumented point is fuzzed by this spec") {
    val fuzzed = Set(
      "meta.tmpWritten", "insert.reserved", "insert.filesWritten",
      "compact.outputWritten", "mutation.rewritten", "mor.deltaWritten",
      "fold.tmpWritten", "fold.renamed", "clean.midSweep",
      "handoff.written", "stream.batchMoved", "publish.beforeIndexMaintain",
      "meta.deltaWritten", "meta.checkpointWritten")
    assert(Failpoints.registry.keySet == fuzzed,
      "Failpoints.registry and CrashFuzzSpec disagree — a new point needs a scenario")
  }

  test("kill between publish and index maintenance: lookups stay correct via fallback") {
    import org.apache.spark.sql.SparkSession
    val root = tmpRoot()
    val dir = root.resolve("t").toString
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i, s"u${i % 10}")).toDF("k", "u")
    val t = GraftTable.create(spark, dir, df.schema, properties = tblProps)
    t.insert(df)
    graft.engine.index.Si.create(t, "u", root.resolve("si_u").toString)
    // the insert publishes segment N, then dies BEFORE folding it into
    // the SI — the snapshot's index has no coverage of the new rows
    val snap = killAt("publish.beforeIndexMaintain", t) {
      t.insert(Seq((5000L, "u3"), (5001L, "u7")).toDF("k", "u"))
    }
    // the snapshotted table path differs, but the SI registration in
    // table properties points at the ORIGINAL si path — reopen and
    // query through the same SI: the uncovered segment must be scanned
    // unindexed (fallback), so both new rows are visible
    val tr = GraftTable.at(spark, snap)
    assert(tr.read.count() == 1002L, "published segment must be visible")
    val hits = graft.engine.index.Si.readWhereIn(tr, "u", Seq("u3"))
      .select("k").as[Long].collect().toSet
    assert(hits.contains(5000L),
      s"SI lookup lost the uncovered segment's row (got ${hits.size} hits)")
    assert(hits == (0L until 1000L).filter(_ % 10 == 3).toSet + 5000L)
  }

  test("kill during insert: reserved / files-written / torn status commit") {
    for (point <- Seq("insert.reserved", "insert.filesWritten", "meta.tmpWritten")) {
      val t = freshTable(tmpRoot().resolve("t").toString)
      val snap = killAt(point, t) {
        t.insert(spark.range(5000, 5100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"))
      }
      // the snapshot predates the publish commit at every one of these
      // points (meta.tmpWritten first fires on the reserve commit), so
      // only the pre-op count may be visible
      assertRecovers(snap, allowedCounts = Set(3000L))
    }
  }

  test("kill during compaction: output written, swap pending") {
    val t = freshTable(tmpRoot().resolve("t").toString)
    val snap = killAt("compact.outputWritten", t) {
      assert(t.compact("CUSTOM", customIds = t.status.visible.map(_.id)).nonEmpty)
    }
    assertRecovers(snap, allowedCounts = Set(3000L))
  }

  test("kill during copy-on-write delete: rewrite written, swap pending") {
    val t = freshTable(tmpRoot().resolve("t").toString)
    val snap = killAt("mutation.rewritten", t) {
      assert(Mutation.delete(t, col("k") < 100L) == 100L)
    }
    assertRecovers(snap, allowedCounts = Set(3000L))
  }

  test("kill during merge-on-read delete: deltas written, commit pending") {
    val t = freshTable(tmpRoot().resolve("t").toString, mor = true)
    val snap = killAt("mor.deltaWritten", t) {
      assert(t.delete(col("k") < 100L) == 100L)
    }
    // uncommitted delta files must NOT mask rows
    assertRecovers(snap, allowedCounts = Set(3000L))
  }

  test("kill during delta fold: tmp written / renamed-but-uncommitted") {
    for (point <- Seq("fold.tmpWritten", "fold.renamed")) {
      val t = freshTable(tmpRoot().resolve("t").toString, mor = true)
      // scattered hits: every file keeps live rows, so the delete lands
      // as DELTAS (an emptied file would retire outright, nothing to fold)
      assert(t.delete(col("k") % 2L === 0L && col("k") < 2000L) == 1000L)
      assert(t.status.visible.exists(_.deltas.nonEmpty), "fixture must carry deltas")
      val snap = killAt(point, t) { t.foldDeltas(minFraction = 0.1) }
      assertRecovers(snap, allowedCounts = Set(2000L))
    }
  }

  test("kill mid-CLEAN FILES: physical deletes done, status commit pending") {
    val t = freshTable(tmpRoot().resolve("t").toString)
    val victim = t.status.visible.map(_.id).max
    t.deleteSegmentsById(Seq(victim)) // MarkedForDelete, 1000 rows gone
    assert(t.read.count() == 2000L)
    val snap = killAt("clean.midSweep", t) { t.cleanFiles() }
    // the snapshot's status still lists the dead segment (MarkedForDelete
    // = invisible) while its files are already gone — recovery must not
    // trip over re-deleting them, and history must not double-count
    assertRecovers(snap, allowedCounts = Set(2000L))
    val t2 = GraftTable.at(spark, snap)
    val hist = t2.layout.readHistory()
    assert(hist.map(_.id).count(_ == victim) <= 1,
      s"crash-retried clean duplicated history entries: ${hist.map(_.id)}")
  }

  test("kill during checkpointed-log commits: checkpoint / delta written, manifest pending") {
    // a short checkpoint interval so a 3-segment table rolls (suites
    // run sequentially in this JVM, so the property window is
    // race-free)
    System.setProperty("graft.status.checkpoint.every", "4")
    try {
      // a fresh table's first commit writes the FIRST full snapshot
      // under the lock; a kill between it and the manifest rename must
      // leave the empty table authoritative and the orphan snapshot
      // reclaimable
      val t0 = GraftTable.create(spark, tmpRoot().resolve("t0").toString,
        spark.range(0, 1).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v").schema,
        sortColumns = Seq("k"), properties = tblProps)
      val snap0 = killAt("meta.checkpointWritten", t0) {
        t0.insert(spark.range(0, 100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"))
      }
      assertRecovers(snap0, allowedCounts = Set(0L))

      // a commit that rolls the checkpoint (the fifth since the first
      // snapshot): a kill between the staged snapshot and the manifest
      // flip must leave the commit it follows durable
      val t = freshTable(tmpRoot().resolve("t").toString)
      val snap = killAt("meta.checkpointWritten", t) {
        t.insert(spark.range(5000, 5100)
          .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"))
      }
      assertRecovers(snap, allowedCounts = Set(3000L))

      // steady-state delta commit: a kill between the delta write and
      // the manifest rename must keep the old manifest serving and let
      // the retry overwrite the orphan
      val t2 = freshTable(tmpRoot().resolve("t2").toString)
      t2.insert(spark.range(5000, 5100)
        .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"))
      assert(t2.layout.readStatus().ckptV >= 0, "fixture must be checkpointed")
      val snap2 = killAt("meta.deltaWritten", t2) {
        t2.insert(spark.range(6000, 6100)
          .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"))
      }
      assertRecovers(snap2, allowedCounts = Set(3100L))

      // and the live table (no kill) round-trips: checkpoint + deltas
      // reassemble exactly, across a checkpoint rollover
      (0 until 5).foreach(i => t2.insert(
        spark.range(7000L + i * 100, 7000L + i * 100 + 50)
          .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")))
      val st = t2.layout.readStatusUncached()
      assert(st.ckptV >= 0 && t2.read.count() == 3450L)
      graft.engine.format.MetaCache.drop(Some(t2.layout.root.toString))
      assert(t2.read.count() == 3450L, "cold reassembly diverged")

      // rollover kill (r17 — the snapshot now writes OUTSIDE the lock,
      // after the triggering commit published): a kill between the
      // staged ckpt-v and the manifest flip must leave the COMMIT
      // visible (it was already durable), the old manifest serving, and
      // the orphan snapshot reclaimable by the post-grace clean
      var guard = 0
      while (t2.layout.readStatus().version - t2.layout.readStatus().ckptV < 3
          && guard < 10) {
        t2.insert(spark.range(8000L + guard * 100, 8000L + guard * 100 + 50)
          .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"))
        guard += 1
      }
      val preN = t2.read.count()
      val snapR = killAt("meta.checkpointWritten", t2) {
        t2.insert(spark.range(9000, 9050)
          .selectExpr("id AS k", "CAST(id AS DOUBLE) AS v"))
      }
      // the rollover can trigger on either of the insert's two commits
      // (IN_PROGRESS reserve or the data publish) — both leave a staged
      // ckpt-v with the manifest flip pending; pre-op and post-op counts
      // are both legal, an orphan snapshot never is (post-grace clean)
      assertRecovers(snapR, allowedCounts = Set(preN, preN + 50L))
    } finally System.clearProperty("graft.status.checkpoint.every")
  }

  test("kill during streaming append and handoff; replay does not brick") {
    val dir = tmpRoot().resolve("t").toString
    val src = spark.range(0, 500).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    val t = GraftTable.create(spark, dir, src.schema, sortColumns = Seq("k"),
      properties = tblProps)
    graft.engine.streaming.GraftStreaming.appendBatch(t, src, batchId = 0)
    assert(t.read.count() == 500L)

    // batch 1 killed after its files moved into the segment dir —
    // snapshot shows orphan batch files; REPLAYING batch 1 on the
    // snapshot must overwrite the debris and commit (the pre-fix code
    // failed the rename-onto-existing require forever)
    val more = spark.range(500, 900).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    val snap1 = killAt("stream.batchMoved", t) {
      graft.engine.streaming.GraftStreaming.appendBatch(t, more, batchId = 1)
    }
    val tr = GraftTable.at(spark, snap1)
    assert(tr.read.count() == 500L, "uncommitted batch files must stay invisible")
    graft.engine.streaming.GraftStreaming.appendBatch(tr, more, batchId = 1)
    assert(tr.read.count() == 900L, "replay after crash must commit the batch")
    // replaying an ALREADY-committed batch stays idempotent
    graft.engine.streaming.GraftStreaming.appendBatch(tr, more, batchId = 1)
    assert(tr.read.count() == 900L)

    // handoff killed after the columnar copy is written, swap pending
    val snap2 = killAt("handoff.written", t) {
      assert(graft.engine.streaming.GraftStreaming.handoff(t).nonEmpty)
    }
    assertRecovers(snap2, allowedCounts = Set(900L))
  }
}
