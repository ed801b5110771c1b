package graft.engine.format

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Options, Path}

import java.io.{InputStreamReader, BufferedReader}
import java.nio.charset.StandardCharsets
import java.util.UUID

/** On-disk layout + atomic metadata IO for a carbonish table.
  *
  * Layout (reference semantics: Metadata/tablestatus + per-segment files;
  * here JSON + parquet):
  * {{{
  *   <table>/_meta/tablemeta.json      — schema, sort columns, properties
  *   <table>/_meta/tablestatus.json    — commit log (TableStatus)
  *   <table>/segments/<id>/part-N.parquet — data files of segment <id>
  * }}}
  *
  * Commits are atomic: metadata is written to a temp file then renamed
  * over the target (single-file rename is atomic on HDFS and local FS).
  * Concurrent writers serialize on a best-effort `.lock` file (the
  * reference uses table-level lock files too, SURVEY §7.4).
  */
class TableLayout(val tablePath: String, conf: Configuration) {
  val root = new Path(tablePath)
  val metaDir = new Path(root, "_meta")
  val segmentsDir = new Path(root, "segments")
  private val statusPath = new Path(metaDir, "tablestatus.json")
  private val tableMetaPath = new Path(metaDir, "tablemeta.json")
  private val lockPath = new Path(metaDir, ".lock")
  /** Checkpoint + delta files of the commit log (see [[TableStatus]]). */
  val logDir = new Path(metaDir, "log")
  /** Whole-JSON checkpoint that older releases wrote for small tables;
    * read, never written. */
  private def ckptPath(v: Long) = new Path(logDir, s"ckpt-$v.json")
  /** Checkpoints write as JSON LINES — one SegmentMeta per line behind
    * a header line — so a cold read can parse line chunks on all cores
    * instead of one (jackson parse of a 1M-entry whole-JSON snapshot
    * was ~9 s single-threaded). */
  private def ckptJsonlPath(v: Long) = new Path(logDir, s"ckpt-$v.jsonl")
  private def deltaPath(v: Long) = new Path(logDir, s"delta-$v.json")

  // cached: FileSystem.get walks the Hadoop FS cache (conf hash) on
  // every call — at 100k-file planning loops that lookup alone was a
  // top profile frame (r15 MetaScaleProbe). Hadoop shares/caches the
  // underlying FileSystem instance anyway, so holding it is safe; the
  // layout lives driver-side only (executor paths ship
  // SerializableHadoopConf, never a TableLayout).
  private lazy val cachedFs: FileSystem = root.getFileSystem(conf)
  def fs: FileSystem = cachedFs

  private val isLocal = root.toUri.getScheme match {
    case null | "file" => true
    case _ => false
  }

  /** Metadata IO runs on the RAW local fs when the table is local:
    * ChecksumFileSystem renames a file and its .crc sidecar separately
    * and implements overwrite-rename as delete-then-rename — both break
    * commit atomicity for racing readers. Raw fs + POSIX ATOMIC_MOVE
    * restore the single-syscall swap; on HDFS the namenode rename is
    * already atomic and checksums are server-side, so `fs` stays. */
  // cached for the same reason as `fs` above: FileSystem.getLocal walks
  // the conf-hashed FS cache per call, and the lock/fence path (r16)
  // calls metaFs several times per commit
  private lazy val cachedMetaFs: FileSystem =
    if (isLocal) FileSystem.getLocal(conf).getRaw else fs
  private def metaFs: FileSystem = cachedMetaFs

  def segmentDir(id: Long): Path = new Path(segmentsDir, id.toString)
  def tmpSegmentDir(id: Long): Path =
    new Path(segmentsDir, s".tmp-$id-${UUID.randomUUID().toString.take(8)}")

  def exists: Boolean = fs.exists(tableMetaPath)

  // ---- JSON (jackson-scala ships with Spark) ----
  // Per-thread cached mapper (r20 optimization): the previous per-call
  // `def` rebuilt the mapper and re-introspected SegmentMeta/TableStatus
  // reflectively on EVERY metadata read/write, which dominated commit
  // latency and the 1M-segment cold read (MetadataScaleSpec measured
  // 36 s; see OPTIMIZATION_r20.md). Thread-LOCAL rather than shared:
  // jackson's internal caches are synchronized and parallel checkpoint
  // parse threads would serialize on them.
  private def mapper = TableLayout.MapperTL.get()

  private def readJson[T](p: Path, clazz: Class[T]): T = {
    var attempts = 0
    while (true) {
      try return readJsonOnce(p, clazz)
      catch {
        // ChecksumFileSystem renames a file and its .crc sidecar
        // SEPARATELY, so a reader racing the commit's atomic rename can
        // briefly see new data under the old checksum. The data file
        // itself is never torn — retry reads the settled pair. Persistent
        // mismatch (real corruption) still surfaces.
        case _: org.apache.hadoop.fs.ChecksumException if attempts < 8 =>
          attempts += 1
          Thread.sleep(10L * attempts)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def readJsonOnce[T](p: Path, clazz: Class[T]): T = {
    // Fast path (r20): hand-rolled jackson-core token readers for the
    // two commit-log model classes — the databind+scala-module path is
    // a huge bytecode surface that runs interpreted for its first
    // ~100k values in a JVM (a 23 s vs 0.8 s JIT cliff on the same
    // cold read, measured) and stays slower compiled. Any hand-parse
    // error falls back to databind below, so a format change degrades
    // to the slow path, never to a wrong read.
    if (clazz == classOf[TableStatus] || clazz == classOf[StatusDelta]) {
      try {
        // whole file into one array, parse from the array: the byte[]
        // parser variant is the one the checkpoint path (and the JIT
        // warm-up) keeps hot — the stream-fed variant measured a 12x
        // first-use cliff on a 122 MB delta; metadata files are bounded
        // (manifest KB, delta ≤ a bulk commit) so one array is fine
        val len = metaFs.getFileStatus(p).getLen
        if (len <= Int.MaxValue - 8) {
          val bytes = new Array[Byte](len.toInt)
          val in = metaFs.open(p)
          try in.readFully(0L, bytes) finally in.close()
          return (if (clazz == classOf[TableStatus]) MetaJson.tableStatusOf(bytes, 0, bytes.length)
                  else MetaJson.statusDeltaOf(bytes, 0, bytes.length)).asInstanceOf[T]
        }
        val in = metaFs.open(p)
        try {
          val buf = new java.io.BufferedInputStream(in, 1 << 20)
          return (if (clazz == classOf[TableStatus]) MetaJson.tableStatusOf(buf)
                  else MetaJson.statusDeltaOf(buf)).asInstanceOf[T]
        } finally in.close()
      } catch {
        case e: org.apache.hadoop.fs.ChecksumException => throw e // readJson retries
        case scala.util.control.NonFatal(e) => // databind fallback below
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"[graft] hand-parse of $p fell back to databind: $e")
      }
    }
    // Stream straight into jackson's byte-level parser (r20): the old
    // form accumulated the whole file into a String first — on a
    // 122 MB bulk-commit delta that tripled the memory traffic (char
    // buffer + String copy + parse) for zero benefit. Trailing pad
    // spaces (writeJsonAtomic) are legal JSON whitespace either way.
    val in = metaFs.open(p)
    try mapper.readValue(
      new java.io.BufferedInputStream(in, 1 << 20): java.io.InputStream, clazz)
    finally in.close()
  }

  /** Readers validate their [[MetaCache]] snapshot by (mtime, length)
    * alone, and filesystem mtime granularity can make two back-to-back
    * commits stamp identically. `pad` trailing spaces (legal JSON
    * whitespace) force the LENGTH to differ between adjacent commits:
    * status commits pass `version % 37` (strictly increasing under the
    * table lock, so consecutive commits always differ); other writes
    * draw from a nanoTime-salted sequence. */
  private def writeJsonAtomic[T](p: Path, value: T, pad: Int = -1): Unit =
    writeAtomic(p) { out =>
      val padN =
        (if (pad >= 0) pad
         else ((TableLayout.padSeq.incrementAndGet() ^ (System.nanoTime() >>> 10)) & 0x7fffffff).toInt) % 37
      // pretty-print while the file is human-sized; past the threshold
      // the indentation is pure overhead — on a 100k-segment commit log
      // it roughly doubles both the bytes on disk and the parse time of
      // every cold read (r15 MetadataScaleSpec: 76 MB pretty). The
      // switch is invisible to readers (JSON is JSON). Compact-first so
      // the LARGE case serializes once; re-rendering a small file
      // pretty is cheap.
      val m = mapper
      val compact = m.writeValueAsBytes(value)
      if (compact.length > TableLayout.PrettyMaxBytes) out.write(compact)
      else out.write(m.writerWithDefaultPrettyPrinter().writeValueAsBytes(value))
      out.write(Array.fill[Byte](padN)(' '))
    }

  /** Stage-then-atomic-rename with the commit fence — the shared tail
    * of every metadata write (JSON value or raw stream). */
  private def writeAtomic(p: Path)(write: java.io.OutputStream => Unit): Unit = {
    val tmp = new Path(p.getParent, s".${p.getName}.tmp-${UUID.randomUUID().toString.take(8)}")
    val out = metaFs.create(tmp, true)
    try write(out)
    finally out.close()
    graft.engine.Failpoints.hit("meta.tmpWritten", tablePath)
    // Fencing (VERDICT r15 #2): re-verify lock ownership IMMEDIATELY
    // before the publish rename. A holder paused past LockStaleMs (GC,
    // NFS stall, cgroup freeze) loses its lock to the staleness
    // takeover; without this check it would wake and blindly rename its
    // RMW over the interleaved writer's commit — a silent lost update.
    // The residual window is the microseconds between this read and the
    // rename itself, the fundamental limit of fencing without a
    // filesystem CAS.
    try verifyFence()
    catch { case e: Throwable =>
      try metaFs.delete(tmp, false)
      catch { case scala.util.control.NonFatal(_) => }
      throw e
    }
    if (isLocal) {
      java.nio.file.Files.move(
        new java.io.File(tmp.toUri.getPath).toPath,
        new java.io.File(p.toUri.getPath).toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      // reclaim a checksum sidecar left by writes that predate raw-fs
      // metadata IO — it would describe stale bytes forever
      try metaFs.delete(new Path(p.getParent, s".${p.getName}.crc"), false)
      catch { case scala.util.control.NonFatal(_) => }
    } else {
      // FileContext.rename supports atomic OVERWRITE (plain FileSystem doesn't)
      org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf)
        .rename(tmp, p, Options.Rename.OVERWRITE)
    }
  }

  // ---- table meta ----
  def writeTableMeta(meta: TableMeta): Unit = {
    fs.mkdirs(metaDir); fs.mkdirs(segmentsDir)
    writeJsonAtomic(tableMetaPath, meta)
    try MetaCache.putMeta(root.toString, fs.getFileStatus(tableMetaPath), meta)
    catch { case scala.util.control.NonFatal(_) => MetaCache.drop(Some(root.toString)) }
  }

  /** Stat-validated cached read (one getFileStatus call when the file is
    * unchanged — see [[MetaCache]]); commit paths use the uncached form. */
  def readTableMeta(): TableMeta =
    MetaCache.metaFor(root.toString, tableMetaPath,
      fs.getFileStatus(tableMetaPath), readTableMetaUncached())
  def readTableMetaUncached(): TableMeta = readJson(tableMetaPath, classOf[TableMeta])

  /** Locked read-modify-write of the table meta — ALTER-style metadata
    * changes go through here so concurrent writers can't lose updates
    * (same two-layer lock as the tablestatus commit). */
  def updateTableMeta(f: TableMeta => TableMeta): Unit = withLock {
    writeTableMeta(f(readTableMetaUncached()))
  }

  // ---- segment history ledger (SHOW HISTORY SEGMENTS) ----
  // Append-only JSONL beside the commit log: CLEAN FILES moves the
  // registry entries it garbage-collects here, so history survives GC
  // without growing the hot tablestatus file (reference keeps a
  // tablestatus.history the same way). Append-only lines sidestep the
  // atomic-rewrite format-compat question entirely.
  //
  // BOUNDED (r16, VERDICT r15 #7): years of churn grow an append-only
  // ledger without bound, and readHistory parsed all of it into memory.
  // The ledger now rotates ONE generation when the hot file passes
  // [[TableLayout.historyMaxBytes]] (rotation happens inside the same
  // locked CLEAN FILES commit that appends), so both the on-disk
  // footprint and a SHOW HISTORY read are bounded by 2x the threshold;
  // entries older than two generations age out — the same retention
  // contract every vacuum ledger carries.
  private def historyPath = new Path(metaDir, "history.jsonl")
  private def historyPrevPath = new Path(metaDir, "history.1.jsonl")

  /** FENCED (r17, VERDICT r16 #1): the ledger append was the one
    * metadata write outside the fence — a paused holder that lost its
    * lock could append its dead entries BEFORE its status publish
    * aborted, reporting retirements the aborted commit never made, and
    * two raw appends could interleave bytes mid-line. Now (a) the
    * append re-verifies lock ownership first (same fence as every
    * publish rename), and (b) [[commitWithHistory]] orders it AFTER the
    * status publish succeeds, still under the lock — an aborted commit
    * appends nothing, and concurrent appends are excluded by the lock
    * up to the same microsecond fence window every publish has. The
    * crash window flips from duplicate-on-retry to lost-entries-on-
    * crash (publish durable, append never ran): acceptable for an
    * advisory ledger, and [[readHistory]] tolerates a torn line. */
  def appendHistory(entries: Seq[SegmentMeta]): Unit = if (entries.nonEmpty) {
    verifyFence()
    val m = mapper // one ObjectMapper for the batch, not per entry
    val out =
      if (metaFs.exists(historyPath)) metaFs.append(historyPath)
      else metaFs.create(historyPath, false)
    try entries.foreach { e =>
      out.write(m.writeValueAsBytes(e)); out.write('\n')
    } finally out.close()
    try {
      if (metaFs.getFileStatus(historyPath).getLen > TableLayout.historyMaxBytes) {
        metaFs.delete(historyPrevPath, false)
        metaFs.rename(historyPath, historyPrevPath)
      }
    } catch { case scala.util.control.NonFatal(_) => }
  }

  def readHistory(): Seq[SegmentMeta] = {
    val m = mapper // one ObjectMapper for the whole read, not per line
    def lines(p: Path): List[SegmentMeta] =
      if (!metaFs.exists(p)) Nil
      else {
        val in = metaFs.open(p)
        try {
          val r = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
          Iterator.continually(r.readLine()).takeWhile(_ != null)
            .filter(_.trim.nonEmpty)
            .flatMap { l =>
              // a torn line (writer killed mid-append, or a pre-r17
              // interleaved raw append) must not break SHOW HISTORY for
              // every later entry until rotation buries it — skip it,
              // loudly, and keep parsing
              try Some(m.readValue(l, classOf[SegmentMeta]))
              catch { case scala.util.control.NonFatal(_) =>
                org.slf4j.LoggerFactory.getLogger(getClass).warn(
                  s"[graft] skipping unparseable history line in $p " +
                    s"(${l.length} chars — torn append?)")
                None
              }
            }.toList
        } finally in.close()
      }
    // a CLEAN FILES killed between its history append and its status
    // rename re-appends the same dead entries on the next run
    // (append-only ledger, at-least-once by design) — dedupe on read by
    // identity so the crash-retry is invisible
    (lines(historyPrevPath) ++ lines(historyPath))
      .distinctBy(s => (s.id, s.createdAt, s.status))
  }

  // ---- tablestatus commit log ----
  /** (mtime, length) of the commit log file — the same pair MetaCache
    * validates snapshots by. Callers that memoize derived state (e.g.
    * the SI probe cache) must key on THIS as well as the version:
    * dropping and recreating a table restarts version numbering, so
    * version alone can collide across incarnations. (0, 0) = no log. */
  def statusStamp(): (Long, Long) =
    if (fs.exists(statusPath)) {
      val st = fs.getFileStatus(statusPath)
      (st.getModificationTime, st.getLen)
    } else (0L, 0L)

  /** Stat-validated cached snapshot; a reader racing a commit may see
    * the immediately-previous COMPLETE snapshot (same as reading a
    * moment earlier). Commit paths use this under the table lock too
    * (see [[commit]]) — there the stamp match is exact, not racy.
    * A warm miss (manifest moved forward) applies only the NEW delta
    * tail to the cached snapshot. */
  def readStatus(): TableStatus =
    if (fs.exists(statusPath))
      MetaCache.statusForIncr(root.toString, statusPath,
        fs.getFileStatus(statusPath), prior => readStatusAssembled(prior))
    else TableStatus(0L, Nil)

  def readStatusUncached(): TableStatus =
    if (fs.exists(statusPath)) readStatusAssembled(None)
    else TableStatus(0L, Nil)

  /** Parse the manifest and assemble the full segment list: checkpoint
    * snapshot + delta tail. `prior` (a stamp-stale previous snapshot of
    * this table, from [[MetaCache]]) lets the warm path start from its
    * own last assembly and parse only the deltas beyond it — guarded by
    * the checkpoint's random id so a drop-and-recreate at the same path
    * can never splice incarnations. A manifest with `ckptV < 0` is the
    * single-file form older releases wrote: it carries the full list
    * itself until its next commit converts it. */
  private def readStatusAssembled(prior: Option[TableStatus]): TableStatus = {
    val m = readJson(statusPath, classOf[TableStatus])
    if (m.ckptV < 0) m
    else {
      val base = prior match {
        case Some(p) if p.ckptId == m.ckptId && p.ckptV == m.ckptV &&
          p.version <= m.version => p
        case _ => readCkpt(m.ckptV)
      }
      var segs = base.segments
      var v = base.version
      while (v < m.version) {
        v += 1
        segs = TableLayout.applyDelta(segs, readJson(deltaPath(v), classOf[StatusDelta]))
      }
      m.copy(segments = segs)
    }
  }

  /** The checkpoint snapshot at version `v` (JSONL, or an older
    * release's whole-JSON form). */
  private def readCkpt(v: Long): TableStatus =
    if (metaFs.exists(ckptJsonlPath(v))) readCkptJsonl(v)
    else readJson(ckptPath(v), classOf[TableStatus])

  /** JSONL checkpoint: header line = the TableStatus envelope (version,
    * empty segments), then one compact SegmentMeta per line. Same
    * atomic stage-then-rename (and fence) as every metadata write. */
  private def writeCkptJsonl(p: Path, full: TableStatus): Unit =
    writeAtomic(p) { out =>
      val m = mapper
      out.write(m.writeValueAsBytes(
        full.copy(segments = Nil, ckptV = -1L, prevCkptV = -1L, ckptId = "")))
      out.write('\n')
      val segs = full.segments.toIndexedSeq
      val nThreads = TableLayout.metaPoolThreads
      if (segs.size < 50000 || nThreads == 1) {
        val w = m.writerFor(classOf[SegmentMeta])
        val buffered = new java.io.BufferedOutputStream(out, 1 << 20)
        segs.foreach { s => buffered.write(w.writeValueAsBytes(s)); buffered.write('\n') }
        buffered.flush()
      } else {
        // parallel chunk serialization (r20): jackson databind of 1M
        // SegmentMeta lines was the single-threaded wall of every bulk
        // rollover (O(table) serialize ~20 s at 1M entries). Chunks
        // serialize concurrently into byte buffers (each worker on its
        // own thread-local mapper — jackson caches are synchronized,
        // sharing one across threads serializes them) and are written
        // in order — the file bytes are identical to the serial form.
        val chunk = (segs.size + nThreads - 1) / nThreads
        val futures = (0 until nThreads).map { t =>
          TableLayout.metaPool.submit(new java.util.concurrent.Callable[Array[Byte]] {
            override def call(): Array[Byte] = {
              val w = TableLayout.MapperTL.get().writerFor(classOf[SegmentMeta])
              val bos = new java.io.ByteArrayOutputStream(1 << 20)
              val from = t * chunk
              val until = math.min(from + chunk, segs.size)
              var i = from
              while (i < until) {
                bos.write(w.writeValueAsBytes(segs(i))); bos.write('\n')
                i += 1
              }
              bos.toByteArray
            }
          })
        }
        futures.foreach(f => out.write(f.get()))
      }
    }

  /** Parallel cold read of a JSONL checkpoint: the line split is
    * single-threaded IO, the per-line jackson parse fans out over the
    * cores (it dominated the 1M-entry cold read at ~9 s on one). */
  private def readCkptJsonl(v: Long): TableStatus = {
    // r20: the old form materialized every line as a java String
    // (~2-3x the file size in char data, 1M allocations) before the
    // parallel parse. Now the file is read ONCE into a byte array,
    // line boundaries are found with a single byte scan, and the
    // chunks databind in parallel straight from the byte slices —
    // no intermediate Strings. Falls back to the streaming line
    // reader only for checkpoints too large for one array (>1.5 GB,
    // ~4M segments — far past the rollover sizing).
    val p = ckptJsonlPath(v)
    val len = metaFs.getFileStatus(p).getLen
    if (len > (1L << 30) + (1L << 29)) return readCkptJsonlStreaming(p)
    val bytes = new Array[Byte](len.toInt)
    val in = metaFs.open(p)
    try in.readFully(0L, bytes) finally in.close()
    // line offsets: (start, end) pairs of non-empty lines
    val starts = new java.util.ArrayList[Int](1 << 16)
    val ends = new java.util.ArrayList[Int](1 << 16)
    var i = 0
    val n = bytes.length
    while (i < n) {
      var j = i
      while (j < n && bytes(j) != '\n') j += 1
      if (j > i) { starts.add(i); ends.add(j) }
      i = j + 1
    }
    require(starts.size > 0, s"empty checkpoint $p")
    try {
      val header = MetaJson.tableStatusOf(new java.io.ByteArrayInputStream(
        bytes, starts.get(0), ends.get(0) - starts.get(0)))
      val bodyN = starts.size - 1
      val nThreads = TableLayout.metaPoolThreads
      val segs: IndexedSeq[SegmentMeta] =
        if (bodyN < TableLayout.SerialParseBelow || nThreads == 1) {
          (1 to bodyN).map(k =>
            MetaJson.segmentMetaOf(bytes, starts.get(k), ends.get(k) - starts.get(k)))
        } else {
          val chunk = (bodyN + nThreads - 1) / nThreads
          val futures = (0 until nThreads).map { t =>
            TableLayout.metaPool.submit(new java.util.concurrent.Callable[Array[SegmentMeta]] {
              override def call(): Array[SegmentMeta] = {
                val from = 1 + t * chunk
                val until = math.min(from + chunk, bodyN + 1)
                val out = new Array[SegmentMeta](math.max(0, until - from))
                var k = from
                while (k < until) {
                  out(k - from) = MetaJson.segmentMetaOf(
                    bytes, starts.get(k), ends.get(k) - starts.get(k))
                  k += 1
                }
                out
              }
            })
          }
          futures.flatMap(_.get()).toIndexedSeq
        }
      header.copy(segments = segs)
    } catch {
      // hand-parse failure (format drift): redo the whole read with
      // databind — slow path, never a wrong read
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"[graft] hand-parse of $p fell back to databind: $e")
        readCkptJsonlDatabind(bytes)
    }
  }

  /** Databind fallback over the already-read checkpoint bytes (kept
    * semantically identical to the hand-parse path). */
  private def readCkptJsonlDatabind(bytes: Array[Byte]): TableStatus = {
    val m = mapper
    val starts = new java.util.ArrayList[Int](1 << 16)
    val ends = new java.util.ArrayList[Int](1 << 16)
    var i = 0
    while (i < bytes.length) {
      var j = i
      while (j < bytes.length && bytes(j) != '\n') j += 1
      if (j > i) { starts.add(i); ends.add(j) }
      i = j + 1
    }
    val header = m.readValue(bytes, starts.get(0), ends.get(0) - starts.get(0),
      classOf[TableStatus])
    val reader = m.readerFor(classOf[SegmentMeta])
    header.copy(segments = (1 until starts.size).map(k =>
      reader.readValue[SegmentMeta](bytes, starts.get(k), ends.get(k) - starts.get(k))))
  }

  /** Fallback line-streaming form of [[readCkptJsonl]] for checkpoints
    * past the single-array bound (kept byte-for-byte equivalent). */
  private def readCkptJsonlStreaming(p: Path): TableStatus = {
    val in = metaFs.open(p)
    val lines =
      try {
        val r = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8), 1 << 20)
        val buf = scala.collection.mutable.ArrayBuffer.empty[String]
        var line = r.readLine()
        while (line != null) {
          if (line.nonEmpty) buf += line
          line = r.readLine()
        }
        buf
      } finally in.close()
    require(lines.nonEmpty, s"empty checkpoint $p")
    val m = mapper
    val header = m.readValue(lines.head, classOf[TableStatus])
    val reader = m.readerFor(classOf[SegmentMeta])
    header.copy(segments =
      lines.view.slice(1, lines.size).map(l => reader.readValue[SegmentMeta](l)).toIndexedSeq)
  }

  /** TIME TRAVEL: the table status exactly as of commit version `v`
    * (r17, beyond the reference — the Delta/Iceberg `VERSION AS OF`
    * capability, built on this log's own retention): the newest
    * checkpoint at or below `v` in the log directory plus its delta
    * tail. Every table keeps at least its last
    * [[TableLayout.timetravelRetainVersions]] versions until CLEAN
    * FILES reclaims older log files; a version whose checkpoint or
    * deltas are gone fails LOUDLY. Data files must also still exist:
    * CLEAN FILES' clean_files_retention_ms bounds how far back retired
    * segments remain physically readable — the effective horizon is
    * min(log horizon, data retention), the same contract Delta's VACUUM
    * imposes. */
  def statusAt(v: Long): TableStatus = {
    val cur = readStatus()
    if (v == cur.version) return cur
    require(v >= 0 && v <= cur.version,
      s"version $v out of range [0, ${cur.version}] for $tablePath")
    def aged = new IllegalStateException(
      s"version $v has aged out of the time-travel horizon for $tablePath (the log " +
        s"keeps the last ${TableLayout.timetravelRetainVersions} versions until CLEAN FILES)")
    val from =
      if (cur.ckptV >= 0 && v >= cur.ckptV) cur.ckptV
      else logFiles().collect { case ("ckpt", n, _) if n <= v => n }
        .maxOption.getOrElse(throw aged)
    try {
      val base = readCkpt(from)
      var segs = base.segments
      var ts = base.committedAt // ckpt header carries v=from's stamp
      var i = from
      while (i < v) {
        i += 1
        val d = readJson(deltaPath(i), classOf[StatusDelta])
        segs = TableLayout.applyDelta(segs, d)
        ts = d.committedAt
      }
      cur.copy(version = v, segments = segs, committedAt = ts)
    } catch { case _: java.io.FileNotFoundException => throw aged }
  }

  /** (kind, version, file) of every `ckpt-<v>` and `delta-<v>` file in
    * the log directory. */
  private def logFiles(): Seq[(String, Long, org.apache.hadoop.fs.FileStatus)] =
    if (!fs.exists(logDir)) Nil
    else fs.listStatus(logDir).toSeq.flatMap { f =>
      f.getPath.getName match {
        case TableLayout.LogName(kind, n) => Some((kind, n.toLong, f))
        case _ => None
      }
    }

  /** Rewrite-provenance edges observable in the log over
    * `(a.version, b.version]` plus both endpoint snapshots:
    * `rewriteFp → rewriteOf` facts ([[SegmentMeta.rewriteOf]]) the
    * change-data feed composes segment identity through. Metadata-only
    * — each intermediate version's delta, or its checkpoint when the
    * commit wrote a snapshot. Intermediate versions matter for CHAINED
    * in-place rewrites (horizontal delta merge at v, delta fold at
    * v+1: the middle state's edge lives only in v's upsert); a missing
    * intermediate (aged out of the log) just drops
    * that edge — the reader degrades to a conservative scan, never to
    * wrong rows. Ranges past `maxWalk` commits skip the intermediate
    * walk entirely for the same reason. */
  def rewriteEdges(a: TableStatus, b: TableStatus,
      maxWalk: Long = 4096L): Map[String, Seq[String]] = {
    val out = scala.collection.mutable.Map[String, Seq[String]]()
    def collect(ss: Seq[SegmentMeta]): Unit = ss.foreach { s =>
      if (s.rewriteFp.nonEmpty && s.rewriteOf.nonEmpty) out(s.rewriteFp) = s.rewriteOf
    }
    collect(a.segments)
    collect(b.segments)
    if (b.version - a.version <= maxWalk) {
      var v = a.version + 1
      while (v < b.version) {
        val p = deltaPath(v)
        if (metaFs.exists(p)) collect(readJson(p, classOf[StatusDelta]).upserts)
        else try collect(readCkpt(v).segments)
        catch { case _: java.io.FileNotFoundException => }
        v += 1
      }
    }
    out.toMap
  }

  /** First `max` bytes of `p` as a string, LOOP-reading until the
    * buffer fills or EOF (r19, advisor r18): `InputStream.read` may
    * legally return short counts on remote filesystems, and a silently
    * short header read turns into the wrong fallback — mtime
    * resolution for `TIMESTAMP AS OF` (the exact backup-copied-table
    * scenario the persisted stamp exists for), or a spurious fence
    * abort from a truncated lock token. None = EMPTY file; IO errors
    * THROW (each caller decides whether an error means "fall back" or
    * "retry later" — the committedAt memo must not cache one). */
  private def readHead(p: Path, max: Int): Option[String] = {
    val in = metaFs.open(p)
    try {
      val buf = new Array[Byte](max)
      var n = 0
      var r = 0
      while (n < buf.length && r >= 0) {
        r = in.read(buf, n, buf.length - n)
        if (r > 0) n += r
      }
      if (n <= 0) None
      else Some(new String(buf, 0, n, StandardCharsets.UTF_8))
    } finally in.close()
  }

  /** Persisted commit wall-clock from a log file's first bytes (r18,
    * advisor r17): `committedAt` serializes right after `version`
    * (JsonPropertyOrder on [[TableStatus]]/[[StatusDelta]]), so one
    * 512-byte read resolves it without parsing a possibly-table-sized
    * delta/snapshot. None = pre-r18 file or unreadable → caller falls
    * back to the file mtime (the historical resolution).
    *
    * MEMOIZED across calls keyed by (path, mtime, length) — the stamp
    * is immutable once a log file is written, so `TIMESTAMP AS OF`
    * resolution costs one `listStatus`, not O(retained log) re-opens
    * per call on object storage (advisor r18). Only a COMPLETED probe
    * is cached (stamp or proven-absent); an IO failure is retried on
    * the next call. */
  private def readCommittedAtHeader(f: org.apache.hadoop.fs.FileStatus): Option[Long] = {
    val key = (f.getPath.toString, f.getModificationTime, f.getLen)
    val hit = TableLayout.committedAtCache.get(key)
    if (hit != null) return if (hit > 0) Some(hit.longValue) else None
    try {
      val head = readHead(f.getPath, 512)
      val v = head.flatMap(s => TableLayout.CommittedAtHeaderRe
        .findFirstMatchIn(s).map(_.group(1).toLong).filter(_ > 0))
      // head == None (empty file) is also a completed probe for a file
      // listStatus just returned: pre-stamp or torn → proven absent
      if (TableLayout.committedAtCache.size > 65536)
        TableLayout.committedAtCache.clear() // tiny keys; wholesale reset
      TableLayout.committedAtCache.put(key, java.lang.Long.valueOf(v.getOrElse(0L)))
      v
    } catch {
      // unreadable (racing rename, transient remote-fs error): mtime
      // fallback for THIS call only — never cached
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Resolve `TIMESTAMP AS OF`-style reads: the largest retained
    * version whose commit completed at or before `tsMillis`, from the
    * PERSISTED per-commit wall-clock (r18; file mtimes only as the
    * pre-r18 fallback — mtimes do not survive a table dir copied or
    * restored by backup tooling, and a rolled checkpoint's mtime lags
    * its version's commit by the staging delay). Driver-side listing
    * of the bounded log dir only. */
  def versionAtTimestamp(tsMillis: Long): Long = {
    val cand = retainedVersions()
    val ok = cand.filter(_._2 <= tsMillis)
    require(ok.nonEmpty,
      s"no retained version of $tablePath is as old as $tsMillis " +
        s"(earliest retained commit stamp: ${cand.map(_._2).min})")
    ok.map(_._1).max
  }

  /** Retained time-travel coordinates for SHOW VERSIONS: (version,
    * commit stamp millis, source), newest first — "current" (the
    * manifest), then every version [[statusAt]] can replay: "snapshot"
    * (a checkpoint at that version) or "delta" (the previous version's
    * state plus its delta). Driver-side listing of the bounded log dir;
    * each version appears once. */
  def retainedVersions(): Seq[(Long, Long, String)] = {
    val cur = readStatus()
    val (sm, _) = statusStamp()
    val byVersion = logFiles().filter(_._2 < cur.version).groupBy(_._2)
    val reachable = scala.collection.mutable.Set.empty[Long]
    val past = byVersion.keys.toSeq.sorted.flatMap { n =>
      val ckpt = byVersion(n).find(_._1 == "ckpt")
      if (ckpt.isEmpty && !reachable(n - 1)) None
      else {
        reachable += n
        val f = ckpt.getOrElse(byVersion(n).head)._3
        Some((n, readCommittedAtHeader(f).getOrElse(f.getModificationTime),
          if (ckpt.isDefined) "snapshot" else "delta"))
      }
    }
    ((cur.version, if (cur.committedAt > 0) cur.committedAt else sm, "current") +:
      past.reverse)
  }

  /** Write one commit's result: one O(changed-segments) delta file plus
    * the KB manifest rename. A full snapshot is written UNDER THE LOCK
    * when no delta base exists — a table's first commit, or the first
    * commit on a single-file log an older release wrote — for a change
    * the delta form cannot replay faithfully (reorder), and for a change
    * that adds or rewrites more than about a quarter of the segments.
    * Periodic checkpoint ROLLOVER happens OUTSIDE the lock (r17,
    * VERDICT r16 #2 — the every-64th-commit O(table) serialize was a
    * multi-second writer stall at 1M segments): see
    * [[rolloverCheckpoint]]. Returns the canonical assembled value and
    * whether the caller should roll a checkpoint after releasing the
    * lock. */
  private def publishStatus(
      next0: TableStatus, base: TableStatus): (TableStatus, Boolean) = {
    // Commit wall-clock, persisted in every log file this publish
    // writes (r18, advisor r17): TIMESTAMP AS OF must survive a table
    // whose file mtimes were rewritten by copy/backup tooling.
    val next = next0.copy(committedAt = System.currentTimeMillis())
    // an OVERSIZED delta (bulk ingest, a rewrite of most segments —
    // upserts of more than ~a quarter of the table) is written as a
    // full snapshot instead: the snapshot costs at most ~4x the delta
    // it replaces, and a table-sized delta would otherwise sit beside a
    // table-sized checkpoint and be re-parsed single-threaded by every
    // cold assembly until the next rollover. Removes are bare ids, so a
    // mass clean stays a small delta and never serializes the table
    // under the lock.
    val delta =
      if (base.ckptV < 0) None // no delta base exists yet
      else TableLayout.computeDelta(base.segments, next.segments, next.version)
        .filter(_.upserts.size.toLong * 4L < next.segments.size.toLong + 4L)
    val canonical = delta match {
      case Some(d0) =>
        // version numbers repeat across a crashed commit and its
        // successor (both allocate base.version+1): a snapshot a crashed
        // commit left at this version must not outlive this delta, or
        // statusAt — which replays from the newest checkpoint it lists —
        // would serve it. (delete failures PROPAGATE: publishing over a
        // live stale checkpoint is worse than a failed commit)
        metaFs.delete(ckptJsonlPath(next.version), false)
        metaFs.delete(ckptPath(next.version), false)
        val d = d0.copy(committedAt = next.committedAt)
        writeJsonAtomic(deltaPath(next.version), d)
        graft.engine.Failpoints.hit("meta.deltaWritten", tablePath)
        next.copy(ckptV = base.ckptV, prevCkptV = base.prevCkptV, ckptId = base.ckptId)
      case None =>
        fs.mkdirs(logDir)
        writeCkptJsonl(ckptJsonlPath(next.version), next)
        graft.engine.Failpoints.hit("meta.checkpointWritten", tablePath)
        next.copy(ckptV = next.version, prevCkptV = base.ckptV,
          ckptId = UUID.randomUUID().toString.take(12))
    }
    writeJsonAtomic(statusPath, canonical.copy(segments = Nil), pad = (next.version % 37).toInt)
    // write-through: the committer's JVM serves its own commit
    // immediately, regardless of filesystem timestamp granularity
    try MetaCache.putStatus(root.toString, fs.getFileStatus(statusPath), canonical)
    catch { case scala.util.control.NonFatal(_) => MetaCache.drop(Some(root.toString)) }
    // roll a fresh checkpoint (outside the lock) when the tail is due
    (canonical, canonical.version - canonical.ckptV >= TableLayout.checkpointEvery)
  }

  /** Roll a fresh checkpoint WITHOUT holding the table lock across the
    * O(table) serialize (VERDICT r16 #2). `canonical` is this writer's
    * just-published assembled state — immutable once published, so the
    * snapshot file can be staged unlocked; the lock is then held only
    * for the ms-scale manifest flip. Interleaved foreign commits are
    * fine: the flip keeps the CURRENT version and only moves ckptV to
    * `v` — deltas in (v, version] stay on disk, so any reader
    * reassembles exactly. The flip is skipped (and the orphan snapshot
    * deleted, else GC'd) if another writer already checkpointed past us
    * or the table was dropped/recreated (ckptId mismatch). Failures are
    * logged, never thrown: the triggering commit already succeeded and
    * a missed rollover just means a longer delta tail until the next
    * threshold crossing. */
  private def rolloverCheckpoint(canonical: TableStatus): Unit = try {
    val v = canonical.version
    // cheap incarnation/progress pre-check BEFORE the O(table)
    // serialize (r18, advisor r17): a drop/recreate (or a foreign
    // rollover) racing this one must not get a whole table-sized
    // snapshot staged against a dead incarnation — the stat-validated
    // readStatus makes this one getFileStatus on the warm path.
    val pre = readStatus()
    if (!(pre.ckptV >= 0 && pre.ckptId == canonical.ckptId &&
        pre.ckptV < v && v <= pre.version)) return
    // Stage under a UNIQUIFIED name owned by this rollover (r18,
    // advisor r17): the final `ckpt-<v>` name is claimed only by an
    // atomic rename under the lock AFTER the incarnation re-check — a
    // recreate reaching the same version coordinates can never have
    // its live checkpoint overwritten by (or deleted as) this
    // rollover's staging, and the stale branch deletes only the file
    // THIS rollover wrote. The `.tmp-` infix keeps a crashed staging
    // inside the log GC's existing orphan sweep.
    val finalPath = ckptJsonlPath(v)
    val staged = new Path(finalPath.getParent,
      s".${finalPath.getName}.tmp-roll-${UUID.randomUUID().toString.take(8)}")
    writeCkptJsonl(staged, canonical)
    withLock {
      val cur = commitBaseStatus()
      if (cur.ckptV >= 0 && cur.ckptId == canonical.ckptId &&
          cur.ckptV < v && v <= cur.version) {
        // flip the staged snapshot live: one atomic rename + the KB
        // manifest write — ms-scale metadata ops under the lock
        metaFs.delete(finalPath, false)
        require(metaFs.rename(staged, finalPath),
          s"checkpoint rollover rename $staged -> $finalPath failed")
        graft.engine.Failpoints.hit("meta.checkpointWritten", tablePath)
        val flipped = cur.copy(ckptV = v, prevCkptV = cur.ckptV,
          ckptId = UUID.randomUUID().toString.take(12))
        writeJsonAtomic(statusPath, flipped.copy(segments = Nil))
        try MetaCache.putStatus(root.toString, fs.getFileStatus(statusPath), flipped)
        catch { case scala.util.control.NonFatal(_) => MetaCache.drop(Some(root.toString)) }
      } else {
        // stale rollover (foreign checkpoint won, or a new table
        // incarnation): drop only OUR staged file — never a bare
        // versioned name another incarnation may own
        try metaFs.delete(staged, false)
        catch { case scala.util.control.NonFatal(_) => }
      }
    }
  } catch { case scala.util.control.NonFatal(e) =>
    org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"[graft] checkpoint rollover at v=${canonical.version} failed " +
        s"(commit already durable; tail grows until the next rollover): $e")
  }

  /** Publish-side normalization of the persisted segment-id high-water
    * mark (r17, advisor r16): CLEAN FILES dropping the max-id entry
    * must never let nextSegmentId re-mint that id — a concurrent
    * clean's unlocked sweep could then mistake the FRESH segment for
    * the dead one it decided on. The mark only ever grows and rides
    * the manifest (every commit rewrites it), so ids are never reused
    * within a table incarnation. */
  private def withHwm(next: TableStatus, base: TableStatus): TableStatus = {
    var hwm = math.max(next.maxSegmentId, base.maxSegmentId)
    base.segments.foreach(s => if (s.id > hwm) hwm = s.id)
    next.segments.foreach(s => if (s.id > hwm) hwm = s.id)
    if (hwm == next.maxSegmentId) next else next.copy(maxSegmentId = hwm)
  }

  /** Read-modify-write of the commit log under the table lock.
    *
    * The read is the STAT-VALIDATED cache (r15) cross-checked against a
    * cheap version-header probe (r16, see [[commitBaseStatus]]): under
    * the lock no writer can interleave, so a snapshot whose stamp AND
    * version both match the file IS the file. The practical difference
    * is commit latency at scale: the uncached form re-parsed the ENTIRE
    * log under the table lock (~1.2 s per commit on a 100k-segment
    * table, serializing every writer behind it); the validated read is
    * one getFileStatus + one 256-byte header read when this JVM
    * published the last commit (the write-through below), and a full
    * parse only after a foreign process committed. */
  def commit(update: TableStatus => TableStatus): TableStatus =
    commitWithHistory(st => (update(st), Nil))

  /** [[commit]] plus a history-ledger append that is (a) fenced and
    * (b) ordered AFTER the status publish succeeds, still under the
    * lock — an aborted commit appends nothing (VERDICT r16 #1). */
  def commitWithHistory(
      update: TableStatus => (TableStatus, Seq[SegmentMeta])): TableStatus = {
    var rollAfter = false
    val out = withLock {
      val base = commitBaseStatus()
      val (next0, hist) = update(base)
      // No-change commits don't publish (r16): an idle maintenance loop
      // (CLEAN FILES with nothing to reclaim, a no-op compaction check)
      // must not churn the manifest — each churn would be a new delta
      // file. The comparison rides the
      // case-class `eq` fast path on untouched entries.
      val canonical =
        if ((next0 eq base) || next0 == base) base
        else {
          val next = withHwm(next0, base).copy(version = next0.version + 1)
          val (c, roll) = publishStatus(next, base)
          rollAfter = roll
          c
        }
      if (hist.nonEmpty) appendHistory(hist)
      canonical
    }
    if (rollAfter) rolloverCheckpoint(out)
    out
  }

  /** The RMW base snapshot under the table lock: the stat-validated
    * cache, CROSS-CHECKED against a cheap version-header read (advisor
    * r15: (mtime, length) alone can collide when a foreign commit's
    * content-length delta cancels the version pad delta inside one
    * mtime tick — the version field itself cannot). `version` is the
    * FIRST field TableStatus serializes, so the first bytes of the log
    * identify the snapshot without parsing it; any mismatch or
    * unreadable header falls back to the authoritative full parse. */
  private def commitBaseStatus(): TableStatus = {
    val cached = readStatus()
    readVersionHeader() match {
      case Some(v) if v == cached.version => cached
      case None if !fs.exists(statusPath) => cached // no log yet
      case _ => readStatusUncached()
    }
  }

  /** Version of the on-disk log from its first bytes (None = missing
    * or unreadable — e.g. a reader racing the rename). */
  private def readVersionHeader(): Option[Long] =
    try readHead(statusPath, 256).flatMap(s =>
      TableLayout.VersionHeaderRe.findFirstMatchIn(s).map(_.group(1).toLong))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Schema-change publish: status update + new table meta under ONE
    * table lock, so no other writer interleaves between the two files.
    * The two renames are individually atomic; the crash window between
    * them is the residual risk a two-file layout cannot close. */
  def commitWithMeta(newMeta: TableMeta)(update: TableStatus => TableStatus): TableStatus = {
    var rollAfter = false
    val out = withLock {
      val base = commitBaseStatus()
      val next0 = update(base)
      val next = withHwm(next0, base).copy(version = next0.version + 1)
      val (canonical, roll) = publishStatus(next, base)
      rollAfter = roll
      writeTableMeta(newMeta)
      canonical
    }
    if (rollAfter) rolloverCheckpoint(out)
    out
  }

  /** Owner token of the lock THIS thread holds (null outside withLock)
    * — the fence [[verifyFence]] checks before every publish rename. */
  private val heldToken = new ThreadLocal[String]()

  private def writeLockToken(token: String): Unit = {
    val out = metaFs.create(lockPath, true)
    try out.write(token.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  /** Current lock-file content; None = missing or (transiently)
    * unreadable. 64 bytes is plenty for a UUID token. */
  private def readLockToken(): Option[String] =
    try readHead(lockPath, 64)
    catch { case scala.util.control.NonFatal(_) => None }

  /** Abort if this thread's lock was taken over while held (see the
    * call site in writeJsonAtomic). Surfaced as the same exception the
    * optimistic-swap paths use: the caller lost a race, loudly. */
  private def verifyFence(): Unit = {
    val tok = heldToken.get
    if (tok != null) {
      val cur = readLockToken()
      if (!cur.contains(tok))
        throw new graft.engine.ConcurrentMutationException(
          s"table lock $lockPath lost while held (stale-lock takeover " +
            s"after a pause?) — commit aborted to avoid erasing the " +
            s"interleaved writer's publish (current holder: " +
            s"${cur.getOrElse("<released>")})")
    }
  }

  private def withLock[T](body: => T): T = {
    // two layers: a JVM-wide monitor per table path (FileSystem
    // .createNewFile is check-then-create on the local FS, so it can't
    // arbitrate same-process writers), then the lock FILE for
    // cross-process writers (HDFS create(overwrite=false) is atomic at
    // the namenode — the reference's table-level lock, SURVEY §7.4).
    val monitor = TableLayout.jvmLocks.computeIfAbsent(
      root.toString, _ => new Object)
    monitor.synchronized {
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var locked = false
      fs.mkdirs(metaDir)
      while (!locked) {
        try { locked = metaFs.createNewFile(lockPath) }
        catch { case _: java.io.IOException => }
        if (!locked) {
          tryReclaimStaleLock()
          if (System.nanoTime() > deadline)
            throw new IllegalStateException(
              s"could not acquire table lock $lockPath within 60s")
          Thread.sleep(50)
        }
      }
      // fencing token: every publish re-verifies ownership right before
      // its atomic rename (verifyFence), so a holder that lost the lock
      // to the staleness takeover aborts instead of silently erasing
      // the interleaved commit
      val token = UUID.randomUUID().toString
      try writeLockToken(token)
      catch { case e: Throwable =>
        try metaFs.delete(lockPath, false)
        catch { case scala.util.control.NonFatal(_) => }
        throw e
      }
      heldToken.set(token)
      // heartbeat: a LIVE holder doing long physical work under the
      // lock (CLEAN FILES walking object storage, a multi-second
      // 100k-segment serialize) must never look stale — touch the lock
      // mtime at LockStaleMs/4 so only a truly wedged/paused JVM can be
      // reclaimed (advisor r15). A full-JVM pause stops this thread too
      // — that case is what the fence is for. LEASE-BOUNDED (r17,
      // advisor r16): renewals stop after LockLeaseMaxMs, so a holder
      // whose JVM is alive but whose lock thread is wedged (deadlock,
      // hung FS call) eventually looks stale and other writers recover
      // — the fence keeps the late publish from losing anyone's commit.
      val period = math.max(java.lang.Long.getLong(
        "graft.lock.heartbeat.ms", TableLayout.LockStaleMs / 4), 50L)
      val maxBeats = math.max(1L, TableLayout.LockLeaseMaxMs / period)
      val beats = new java.util.concurrent.atomic.AtomicLong(0)
      val hb = TableLayout.heartbeats.scheduleWithFixedDelay(
        () => try {
          graft.engine.Failpoints.hit("lock.heartbeat", tablePath)
          if (beats.incrementAndGet() <= maxBeats)
            metaFs.setTimes(lockPath, System.currentTimeMillis(), -1)
        } catch { case scala.util.control.NonFatal(_) => },
        period, period, java.util.concurrent.TimeUnit.MILLISECONDS)
      val held0 = System.nanoTime()
      try body
      finally {
        TableLayout.noteLockHold(System.nanoTime() - held0)
        hb.cancel(false)
        heldToken.remove()
        // release only on a POSITIVE token match (advisor r16): a
        // transient read failure here must not unlink what may be
        // another writer's LIVE lock (after a takeover the file is the
        // new holder's active critical section). A leaked own lock
        // (missing/unreadable at release) self-heals via the staleness
        // takeover once the heartbeat stops.
        val cur = readLockToken()
        if (cur.contains(token)) metaFs.delete(lockPath, false)
      }
    }
  }

  /** Crashed-holder takeover (found by the crash-point fuzz, r15): a
    * writer killed between acquiring `.lock` and its finally-delete
    * wedges every future writer forever — the lock file has no owner
    * process to release it. The lock is only ever held across the
    * metadata read-modify-write (milliseconds; data writes happen
    * OUTSIDE it), so a lock file untouched for [[TableLayout.LockStaleMs]]
    * is a crashed holder. Claim is by atomic RENAME to a unique name —
    * two waiters can't both reclaim one incarnation — and the claimed
    * file's mtime is re-checked after the rename: if a live writer
    * re-created the lock in the stat→rename window we claimed a FRESH
    * lock and put it back. The residual race (a second re-create inside
    * that same microsecond window making the put-back fail) is logged
    * loudly; its worst case is one early lock grant — and since r16 an
    * early grant can no longer lose a commit: a LIVE holder doing long
    * work heartbeats the lock mtime (so it never looks stale), and a
    * PAUSED holder that genuinely lost the lock fails [[verifyFence]]
    * before its publish rename and aborts instead of erasing the
    * interleaved commit. */
  private def tryReclaimStaleLock(): Unit = {
    val staleMs = TableLayout.LockStaleMs
    try {
      val st = metaFs.getFileStatus(lockPath)
      if (System.currentTimeMillis() - st.getModificationTime > staleMs) {
        val claim = new Path(metaDir, s".lock.reclaim-${UUID.randomUUID().toString.take(8)}")
        if (metaFs.rename(lockPath, claim)) {
          val claimed = metaFs.getFileStatus(claim)
          if (System.currentTimeMillis() - claimed.getModificationTime > staleMs) {
            metaFs.delete(claim, false)
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"[graft] reclaimed stale table lock $lockPath " +
                s"(holder silent for >${staleMs / 1000}s — crashed?)")
          } else if (!metaFs.rename(claim, lockPath)) {
            // a THIRD writer recreated the lock inside the window;
            // drop the claim so at most one early grant can occur
            metaFs.delete(claim, false)
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"[graft] lock takeover race on $lockPath — claimed a live " +
                "lock and could not restore it; one early grant possible")
          }
        }
      }
    } catch {
      case _: java.io.FileNotFoundException => // holder released — retry wins
      case scala.util.control.NonFatal(_) =>
    }
  }

  /** List absolute data-file paths of the given segment. */
  // (companion holds the JVM-wide lock registry — see withLock)
  def segmentFilePaths(seg: SegmentMeta): Seq[String] = segmentFilePaths(seg, seg.files)

  /** Absolute paths of `rels`, files of `seg`. */
  def segmentFilePaths(seg: SegmentMeta, rels: Seq[String]): Seq[String] = {
    val base = seg.externalPath.map(new Path(_)).getOrElse(segmentDir(seg.id))
    rels.map(f => new Path(base, f).toString)
  }
}

object TableLayout {
  /** Metadata files up to this size pretty-print (debuggability); past
    * it they write compact — indentation on a 100k-segment commit log
    * doubles bytes and cold-parse time for zero information. */
  val PrettyMaxBytes: Int = 4 * 1024 * 1024
  /** Checkpoints with fewer entries than this parse on the calling
    * thread; the pool hand-off costs more than it saves below it. */
  private val SerialParseBelow = 20000

  /** Lock-file staleness horizon for crashed-holder takeover. Commits
    * hold the lock for milliseconds, so 5 minutes is ~10^4 margin;
    * overridable for tests via -Dgraft.lock.stale.ms. */
  val LockStaleMs: Long =
    java.lang.Long.getLong("graft.lock.stale.ms", 5L * 60 * 1000)
  /** Maximum total heartbeat-renewed hold time per acquisition (r17,
    * advisor r16): past this lease even a heartbeating holder goes
    * stale, so a wedged-but-alive holder (deadlocked thread, hung FS
    * call) can't block every writer forever. Liveness tradeoff is
    * explicit: a LEGITIMATE critical section longer than the lease
    * loses its lock and its publish aborts on the fence — size it far
    * above any real metadata RMW (default 1h; commits hold the lock
    * for milliseconds, CLEAN FILES decision commits for seconds). */
  def LockLeaseMaxMs: Long =
    java.lang.Long.getLong("graft.lock.lease.max.ms", 60L * 60 * 1000)
  /** JVM-wide per-table-path monitors backing withLock's first layer. */
  private[format] val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  /** Shared daemon scheduler behind the held-lock mtime heartbeat.
    * FOUR threads (r17, VERDICT r16 #6): with one, a single setTimes
    * stalling on a slow metadata store delayed every other table's
    * heartbeat past its stale horizon. Four bounds the blast radius;
    * the fence backstops the residual (worst case = spurious abort,
    * never a lost update). */
  private[format] val heartbeats: java.util.concurrent.ScheduledThreadPoolExecutor = {
    val e = new java.util.concurrent.ScheduledThreadPoolExecutor(4, (r: Runnable) => {
      val t = new Thread(r, "graft-lock-heartbeat"); t.setDaemon(true); t
    })
    e.setRemoveOnCancelPolicy(true)
    e
  }
  /** Max observed table-lock hold time since the last [[resetLockHold]]
    * — the instrument behind MetadataScaleSpec's "rollover commits hold
    * the lock for ms, not O(table)" assertion. */
  private val maxLockHoldNanos = new java.util.concurrent.atomic.AtomicLong(0)
  private[format] def noteLockHold(nanos: Long): Unit =
    maxLockHoldNanos.accumulateAndGet(nanos, math.max)
  def lockHoldMaxNanos: Long = maxLockHoldNanos.get
  def resetLockHold(): Unit = maxLockHoldNanos.set(0)
  private def buildMapper(): ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    // derived defs (isVisible, nextSegmentId, …) serialize as extra
    // properties; tolerate them (and future schema additions) on read
    m.configure(
      com.fasterxml.jackson.databind.DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }
  /** Per-THREAD jackson mappers (r20): one mapper per thread keeps its
    * (de)serializer caches warm across calls — the old per-call `def`
    * re-introspected the model classes on every metadata read/write —
    * while keeping the caches UNSHARED across threads: jackson's
    * DeserializerCache/SerializerCache and the scala module's
    * reflection caches are synchronized, so 16 parse threads hammering
    * ONE mapper serialize on those locks (measured: a shared mapper
    * made the 100k cold parse 25x SLOWER than per-thread mappers). */
  private[format] val MapperTL: ThreadLocal[ObjectMapper] =
    ThreadLocal.withInitial(() => buildMapper())
  /** Shared daemon pool for parallel checkpoint (de)serialization —
    * fixed threads so each worker's thread-local mapper (and its warm
    * jackson caches) survives across checkpoint reads/writes. */
  private[format] lazy val metaPool: java.util.concurrent.ExecutorService = {
    val n = math.max(1, math.min(Runtime.getRuntime.availableProcessors(), 16))
    java.util.concurrent.Executors.newFixedThreadPool(n, (r: Runnable) => {
      val t = new Thread(r, "graft-meta-json"); t.setDaemon(true); t
    })
  }
  private[format] def metaPoolThreads: Int =
    math.max(1, math.min(Runtime.getRuntime.availableProcessors(), 16))
  /** Sequence behind writeJsonAtomic's length-uniquifying pad. */
  private[format] val padSeq =
    new java.util.concurrent.atomic.AtomicLong(System.nanoTime() & 0xff)
  /** First-bytes probe for the commit log's leading version field. */
  private[format] val VersionHeaderRe = """"version"\s*:\s*(\d+)""".r
  private[format] val CommittedAtHeaderRe = """"committedAt"\s*:\s*(\d+)""".r
  /** Memo for [[readCommittedAtHeader]]: (path, mtime, length) →
    * stamp millis (0 = probed, proven absent). Process-wide — log
    * files are immutable and the key self-invalidates on rewrite. */
  private[engine] val committedAtCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), java.lang.Long]()

  /** Checkpoint (`ckpt-<v>.jsonl`, or an older release's `.json`) and
    * delta (`delta-<v>.json`) file names in the log directory. */
  private[engine] val LogName = """(ckpt|delta)-(\d+)\.jsonl?""".r
  /** Commits between full snapshots — the bound on a cold read's delta
    * tail. */
  def checkpointEvery: Int =
    Integer.getInteger("graft.status.checkpoint.every", 64)
  /** History-ledger rotation threshold: the hot file rotates to its
    * single `.1` predecessor past this size, bounding SHOW HISTORY
    * SEGMENTS reads (and disk) at ~2x this value. */
  def historyMaxBytes: Long =
    java.lang.Long.getLong("graft.history.max.bytes", 64L * 1024 * 1024)
  /** Time-travel horizon: CLEAN FILES keeps the log files that replay
    * at least the last this-many versions (see [[statusAt]]). */
  def timetravelRetainVersions: Long =
    java.lang.Long.getLong("graft.timetravel.retain", 128L)

  /** Replay one delta: removes drop by id, upserts replace in place by
    * id, upserts with NEW ids append in delta order — exactly the
    * operations every commit actually performs on the Seq (append,
    * map-in-place, filter), verified per commit by [[computeDelta]].
    * One O(n) pass with delta-sized aux structures only — a cold read
    * applies up to [[checkpointEvery]] of these over a possibly
    * 1M-entry list, so per-delta O(n) set builds are not acceptable. */
  private[format] def applyDelta(
      segments: Seq[SegmentMeta], d: StatusDelta): Seq[SegmentMeta] = {
    val up = d.upserts.iterator.map(s => s.id -> s).toMap
    val rm = d.removes.toSet
    val consumed = scala.collection.mutable.Set.empty[Long]
    val out = Vector.newBuilder[SegmentMeta]
    out.sizeHint(segments.size)
    segments.foreach { s =>
      if (!rm(s.id)) up.get(s.id) match {
        case Some(n) => consumed += s.id; out += n
        case None => out += s
      }
    }
    d.upserts.foreach(s => if (!consumed(s.id)) out += s)
    out.result()
  }

  /** Diff two segment lists into a [[StatusDelta]], or None when the
    * delta form cannot reproduce `next` exactly — the caller then
    * writes a full checkpoint instead. Single synchronized walk, no
    * table-sized maps (a 1M-entry commit must stay O(n) with tiny
    * constants — building id maps per commit measured ~3.7 s there):
    * positions advance together; an id mismatch means the base entry
    * was removed; base exhausted means the remaining next entries are
    * appends, recognizable without an id set because real appends mint
    * ids ABOVE every base id (nextSegmentId) — anything else falls back
    * to a checkpoint. Unchanged-entry comparison hits the case-class
    * `eq` fast path: update functions copy only what they touch. */
  private[format] def computeDelta(
      base: Seq[SegmentMeta], next: Seq[SegmentMeta],
      version: Long): Option[StatusDelta] = {
    val upserts = Vector.newBuilder[SegmentMeta]
    val removes = Vector.newBuilder[Long]
    var maxBaseId = Long.MinValue
    val bi = base.iterator.buffered
    val ni = next.iterator.buffered
    while (bi.hasNext) {
      val b = bi.next()
      maxBaseId = math.max(maxBaseId, b.id)
      if (ni.hasNext && ni.head.id == b.id) {
        val n = ni.next()
        if (!(n eq b) && n != b) upserts += n
      } else {
        // next skipped this id: a removal — unless next actually
        // INSERTED an entry here (unrepresentable → the append check
        // below fails it, because an inserted id can't outrank every
        // base id while sitting mid-list)
        removes += b.id
      }
    }
    var representable = true
    while (representable && ni.hasNext) {
      val n = ni.next()
      if (n.id > maxBaseId) { upserts += n; maxBaseId = n.id }
      else representable = false // reorder/mid-insert/duplicate — checkpoint
    }
    if (representable) Some(StatusDelta(version, upserts.result(), removes.result()))
    else None
  }
}
