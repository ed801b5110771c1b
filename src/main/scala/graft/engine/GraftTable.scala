package graft.engine

import graft.engine.format._

import scala.collection.parallel.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** User-facing handle on a carbonish table — the analog of the
  * reference's command surface (SURVEY §2.8): create/insert/load,
  * segment lifecycle (show/delete/clean/compact), and metadata reads.
  *
  * All data movement is expressed as Spark jobs over DataFrames; all
  * metadata movement is atomic tablestatus commits. Nothing here ever
  * collects table data to the driver.
  */
class GraftTable private (val spark: SparkSession, val path: String)
    extends org.apache.spark.internal.Logging {
  GraftSession.install(spark)
  val layout = new TableLayout(path, spark.sessionState.newHadoopConf())

  def meta: TableMeta = layout.readTableMeta()
  def schema: StructType =
    DataType.fromJson(meta.schemaJson).asInstanceOf[StructType]
  def status: TableStatus = layout.readStatus()
  def segments: Seq[SegmentMeta] = status.segments

  /** Read through the DSv2 source (segment pruning + parquet pushdown,
    * merge-on-read deletes masked). On mixed-format tables (ADD SEGMENT
    * csv/json/orc — MixedFormatHandler.scala:56) the same scan serves
    * every format ([[graft.engine.source.MixedScan]]). */
  def read: DataFrame = spark.read.format("carbonish").load(path)

  /** IN_POLYGON over a SPATIAL_INDEX table (reference InPolygonUDF —
    * the index column is implicit): rows inside the `"lng lat, …"`
    * polygon, filtered as morton-range BETWEENs on the stored geoId
    * (segment + file + row-group pruning on the sorted id) plus the
    * exact ray-cast residual. */
  def inPolygon(polygon: String, maxRanges: Int = 64): DataFrame = {
    val sp = graft.geo.SpatialIndex.of(meta.properties).getOrElse(
      throw new IllegalArgumentException(
        s"table $path has no SPATIAL_INDEX table property"))
    read.filter(graft.geo.SpatialIndex.inPolygonFilter(sp, polygon, maxRanges))
  }

  /** Pinned-segment read — `insegment('0,2')` analog (CarbonEnv.scala:100). */
  def readSegments(ids: Seq[Long]): DataFrame =
    spark.read.format("carbonish").option("segments", ids.mkString(",")).load(path)

  /** Position-grain read: only the named files (relative paths, as they
    * appear in `SegmentMeta.files`) of the given segments — the SI
    * pushdown target (the reference ships matched block positions into
    * the scan via BroadCastSIFilterPushJoin; file grain is our
    * equivalent over parquet, whose row groups then self-prune via
    * footer stats). Metadata-only count/min-max answers are disabled on
    * this path by the scan builder. Falls back to whole-segment reads if
    * a path would break the comma/colon option encoding. */
  def readFiles(files: Map[Long, Seq[String]]): DataFrame =
    if (files.exists { case (_, fs) => fs.exists(f => f.contains(",") || f.contains(":")) })
      readSegments(files.keys.toSeq.sorted)
    else
      spark.read.format("carbonish")
        .option("segments", files.keys.toSeq.sorted.mkString(","))
        .option("files", files.toSeq.sortBy(_._1)
          .flatMap { case (s, fs) => fs.map(f => s"$s:$f") }.mkString(","))
        .load(path)

  /** Row-group-grain read (the reference's FINE-grain index target —
    * lucene FG postings name blocklets inside a block,
    * LuceneFineGrainIndex.java:63,137-142; parquet row groups are our
    * blocklets): like [[readFiles]], but files with an entry in
    * `ranges` are additionally clipped to the given (byteStart, byteLen)
    * row-group spans — the parquet reader selects exactly the row
    * groups whose byte midpoint falls inside a span, so unmatched row
    * groups are never read. Files WITHOUT a ranges entry scan whole
    * (the uncovered-segment / no-posting-info degrade path). Falls back
    * to plain file grain when a path would break the option encoding —
    * coarser, never wrong. */
  def readFilesRanges(files: Map[Long, Seq[String]],
      ranges: Map[(Long, String), Seq[(Long, Long)]]): DataFrame =
    if (ranges.isEmpty ||
        files.exists { case (_, fs) =>
          fs.exists(f => f.contains(",") || f.contains(":") || f.contains(";"))
        })
      readFiles(files)
    else
      spark.read.format("carbonish")
        .option("segments", files.keys.toSeq.sorted.mkString(","))
        .option("files", files.toSeq.sortBy(_._1)
          .flatMap { case (s, fs) => fs.map(f => s"$s:$f") }.mkString(","))
        .option("ranges", ranges.toSeq.sortBy(_._1)
          .map { case ((s, f), rs) =>
            s"$s:$f:" + rs.sorted.map { case (st, ln) => s"$st+$ln" }.mkString(";")
          }.mkString(","))
        .load(path)

  /** Read with a stable per-row address column (getTupleId analog) —
    * a v1 parquet relation over the segment-pruning file index: the
    * `_metadata` columns tupleId needs only exist on the v1 path (DSv2
    * FileTable has no metadata columns), and routing the index through
    * [[graft.engine.source.SegmentFileIndex]] keeps segment min/max skip
    * on tupleId-bearing queries. */
  def readWithTupleId(idCol: String = "tuple_id"): DataFrame = {
    val vis = status.visible
    val foreign = vis.filter(_.format != "parquet")
    require(foreign.isEmpty,
      s"tupleId read needs parquet segments; found ${foreign.map(_.id).mkString(",")}")
    val idx = new graft.engine.source.SegmentFileIndex(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], layout, vis, schema)
    val df = org.apache.spark.sql.graft.Shims.parquetRelationDf(spark, idx, schema)
    LiveRows.mask(this, vis, df).withColumn(idCol, graft.functions.GraftFunctions.tupleId)
  }

  /** TIME TRAVEL (r17, beyond the reference — Delta/Iceberg `VERSION AS
    * OF`): the table exactly as of commit-log version `version`,
    * resolved via [[TableLayout.statusAt]] (checkpoint + delta tail
    * replay; every table, no opt-in). The same scan as the catalog's
    * `SELECT … VERSION AS OF v`: the as-of segment list drives the DSv2 scan's
    * pruning, and as-of merge-on-read delta lists mask exactly the rows
    * that were dead AT that version. Served under the CURRENT schema
    * with every column nullable (columns added or renamed since read
    * as null on old files via parquet name matching). Fails loudly past
    * the log horizon, at call time; segments physically reclaimed by
    * CLEAN FILES (clean_files_retention_ms) fail at scan time —
    * retention bounds the readable past, exactly like Delta VACUUM. */
  def readAsOf(version: Long): DataFrame = {
    layout.statusAt(version)
    scanAsOf(version, None)
  }

  /** The carbonish scan pinned to `version` (the relation
    * `GraftCatalog.loadTable(ident, version)` serves), optionally
    * restricted to the segment ids visible at that version in
    * `segments`. */
  private def scanAsOf(version: Long, segments: Option[Seq[Long]]): DataFrame = {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    val table = new graft.engine.source.CarbonishTable(path, schema, asOfVersion = Some(version))
    val options = new java.util.HashMap[String, String]()
    segments.foreach(ids => options.put("segments", ids.mkString(",")))
    org.apache.spark.sql.graft.Shims.ofRows(spark, DataSourceV2Relation.create(
      table, None, None, new org.apache.spark.sql.util.CaseInsensitiveStringMap(options)))
  }

  /** CHANGE DATA FEED (r19, beyond the reference — Delta's
    * `table_changes` without stored change files): the row-level NET
    * changes between two retained versions, derived from the commit
    * log alone. Result = this table's columns plus `_change_type`
    * ('insert' | 'delete'), `_from_version`, `_to_version`, and
    * `_commit_timestamp` (the span-end commit's persisted wall-clock;
    * see the column comment at the end of this method).
    *
    * Semantics are NET MULTISET diff: a row counts as inserted
    * (deleted) once per copy that exists at `toVersion` but not
    * `fromVersion` (vice versa) — a row rewritten UNCHANGED by
    * copy-on-write cancels exactly; updates surface as a
    * delete+insert pair, like Delta CDF's update_preimage/postimage
    * without the stored files.
    *
    * The 100 TB design point: a METADATA diff of the two segment
    * lists runs first — segments whose identity (files, deltas,
    * external path, format) is byte-identical at both versions cannot
    * contribute to a multiset difference ((U+A) −ₘ (U+B) = A −ₘ B),
    * so only CHURNED segments are scanned, and the `exceptAll` pair
    * shuffles only churned rows. A 100 TB table with 1% churn diffs
    * ~1% of its bytes; the common per-commit feed (`v`, `v+1`) scans
    * exactly the segments that commit touched.
    *
    * REWRITE-ONLY commits are skipped symbolically (r20, VERDICT r19
    * #1 — Delta's `dataChange=false`): compaction/z-order re-cluster,
    * horizontal delta merge, and delta fold change every touched
    * segment's identity while changing NO rows, so without provenance
    * a span crossing a MAJOR compaction scanned ~2× the table to emit
    * an empty feed. Each rewrite records
    * [[graft.engine.format.SegmentMeta.rewriteOf]] (its output state's
    * row multiset == the source states'), and the diff EXPANDS churned
    * fingerprints through those edges to fixpoint before cancelling:
    * a pure-rewrite span cancels to nothing (zero rows, ZERO files
    * scanned), and a mixed span (rewrite + real churn elsewhere)
    * cancels the rewrite and scans only the truly-churned segments.
    * If cancellation leaves an expanded fingerprint that maps to no
    * scannable endpoint segment (e.g. rows both inserted AND compacted
    * inside the span), the diff falls back to the full churned-segment
    * scan — conservative, never wrong; pre-r20 logs without the tags
    * take the same path.
    *
    * SCHEMA EVOLUTION across the bounds (r20, pinned semantics — both
    * legs always serve under the CURRENT schema, nullability-relaxed):
    * a column ADDED between the bounds reads null on pre-add states
    * (net correct — unchanged segments prune anyway); a DROPPED column
    * is excluded from both legs; RENAME and RETYPE are full-rewrite
    * commits (parquet matches by name, so [[renameColumn]] rewrites
    * the data), and the feed reports what the CURRENT schema can see:
    * a widening retype nets to EMPTY (same values both legs), while a
    * rename surfaces every row as a delete+insert pair whose
    * pre-image reads the renamed column as null — the pre-rename
    * value is not representable under the current name (Delta needs
    * column-mapping ids for the same reason). */
  def readChanges(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion,
      s"readChanges: fromVersion $fromVersion > toVersion $toVersion")
    // reserved-column guard (r20, advisor r19): withColumn REPLACES a
    // same-named user column, which would silently corrupt the feed.
    // Name comparison follows the session's resolution rules (r21,
    // advisor r20): Spark resolves case-insensitively by default, so
    // "_CHANGE_TYPE" collides too unless spark.sql.caseSensitive is on.
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    def nameClash(a: String, b: String): Boolean =
      if (caseSensitive) a == b else a.equalsIgnoreCase(b)
    val reserved =
      Seq("_change_type", "_from_version", "_to_version", "_commit_timestamp")
        .filter(r => schema.fieldNames.exists(nameClash(r, _)))
    require(reserved.isEmpty,
      s"readChanges: table schema already contains reserved change-feed " +
        s"column(s) ${reserved.mkString(", ")} — rename them first " +
        "(Delta reserves the same names)")
    val a = layout.statusAt(fromVersion)
    val b = layout.statusAt(toVersion)
    // segment-state identity: everything that determines the rows a
    // state serves (delta map included — a MoR delete changes served
    // rows without touching the data files)
    def fp(s: graft.engine.format.SegmentMeta): String =
      graft.engine.format.SegmentMeta.contentFp(layout.tablePath, s)
    val aFp = a.visible.map(s => fp(s) -> s)
    val bFp = b.visible.map(s => fp(s) -> s)
    val af = aFp.map(_._1).toSet
    val bf = bFp.map(_._1).toSet
    val aOnly = aFp.filterNot { case (f, _) => bf(f) }
    val bOnly = bFp.filterNot { case (f, _) => af(f) }

    // ---- rewrite-edge composition (r20) ---------------------------
    // Expand each side's churned fingerprints through recorded
    // rewriteFp → rewriteOf edges to LEAF multisets, then cancel. Each
    // edge is an eternal fact about immutable state values (row
    // multiset of the output state == Σ sources), so expansion
    // preserves each side's served-row multiset exactly; equal leaf
    // multisets ⇒ equal rows ⇒ nothing to emit or scan.
    val (scanA, scanB): (Seq[graft.engine.format.SegmentMeta],
        Seq[graft.engine.format.SegmentMeta]) =
      if (aOnly.isEmpty && bOnly.isEmpty) (Nil, Nil)
      else {
        val edges = layout.rewriteEdges(a, b)
        def leaves(fps: Seq[String]): Map[String, Int] =
          if (edges.isEmpty) fps.groupBy(identity).map { case (k, v) => k -> v.size }
          else {
            val out = scala.collection.mutable.Map[String, Int]()
            val stack = scala.collection.mutable.Stack[String](fps: _*)
            var steps = 0
            while (stack.nonEmpty && steps < 1000000) {
              steps += 1
              val f = stack.pop()
              edges.get(f) match {
                case Some(srcs) => srcs.foreach(stack.push)
                case None => out(f) = out.getOrElse(f, 0) + 1
              }
            }
            // a cycle can only mean fingerprint corruption — degrade
            // to the conservative scan rather than loop
            if (stack.nonEmpty) fps.groupBy(identity).map { case (k, v) => k -> v.size }
            else out.toMap
          }
        def minus(x: Map[String, Int], y: Map[String, Int]): Map[String, Int] =
          x.flatMap { case (k, n) =>
            val m = n - y.getOrElse(k, 0)
            if (m > 0) Some(k -> m) else None
          }
        val la = leaves(aOnly.map(_._1))
        val lb = leaves(bOnly.map(_._1))
        val netA = minus(la, lb)
        val netB = minus(lb, la)
        val aBy = aOnly.toMap
        val bBy = bOnly.toMap
        if (netA.isEmpty && netB.isEmpty) (Nil, Nil) // pure rewrite span
        else if (netA.forall { case (k, n) => n == 1 && aBy.contains(k) } &&
            netB.forall { case (k, n) => n == 1 && bBy.contains(k) })
          // every surviving leaf is a concrete endpoint state — scan
          // exactly those (the rewrite cancelled symbolically)
          (netA.keysIterator.map(aBy).toSeq, netB.keysIterator.map(bBy).toSeq)
        else
          // a virtual leaf survived (real churn flowed INTO a rewrite
          // within the span) — conservative full churned-segment scan
          (aOnly.map(_._2), bOnly.map(_._2))
      }

    // ---- single-pass NET diff (r20 optimization) -------------------
    // Semantics identical to the previous
    // `new.exceptAll(old) ∪ old.exceptAll(new)` pair — for each
    // distinct row r with net = count_new(r) − count_old(r), emit r
    // net times as 'insert' when positive and |net| times as 'delete'
    // when negative — but computed with ONE aggregation over a ±1
    // tagged union. The exceptAll pair planned each leg TWICE and
    // shuffled twice (4 leg scans, 2 exchanges; the bench measured
    // 530k rows scanned for a 150k-row table); this shape scans each
    // leg once and shuffles once, replicating multiplicities with the
    // same ReplicateRows generator Spark's own RewriteExceptAll rule
    // emits, so the result multiset matches by construction (grouping
    // equality == set-op equality: both normalize NaN/−0.0 through the
    // Aggregate keys; map-typed columns are rejected by both shapes).
    val oldRows = scanAsOf(fromVersion, Some(scanA.map(_.id)))
    val newRows = scanAsOf(toVersion, Some(scanB.map(_.id)))
    val dataCols = newRows.columns.toSeq
    // fresh under the session's resolution rules (withColumn replaces
    // case-insensitively by default — r21, advisor r20)
    def freshName(base: String): String =
      Iterator.from(0).map(i => if (i == 0) base else s"$base$i")
        .find(n => !dataCols.exists(nameClash(n, _))).get
    // backtick-quote every data-column reference (r21, advisor r20):
    // groupBy/select parse bare names as nested-field paths, so a
    // column named "a.b" (or carrying a backtick) would otherwise
    // throw where the old exceptAll shape was name-agnostic
    def bq(n: String): org.apache.spark.sql.Column =
      col("`" + n.replace("`", "``") + "`")
    val wCol = freshName("__cdf_w")
    val tagged = newRows.withColumn(wCol, lit(1L))
      .unionByName(oldRows.withColumn(wCol, lit(-1L)))
    val net = tagged.groupBy(dataCols.map(bq): _*)
      .agg(sum(col(wCol)).as(wCol))
      .filter(col(wCol) =!= 0L)
      .withColumn("_change_type",
        when(col(wCol) > 0, lit("insert")).otherwise(lit("delete")))
    val outCols = dataCols :+ "_change_type"
    val shims = org.apache.spark.sql.graft.Shims
    val replicated = net.select(shims.column(
      org.apache.spark.sql.catalyst.expressions.ReplicateRows(
        shims.expression(abs(col(wCol))) +:
          outCols.map(n => shims.expression(bq(n))))).as(outCols))
    replicated
      .withColumn("_from_version", lit(fromVersion))
      .withColumn("_to_version", lit(toVersion))
      // _commit_timestamp (r20, Delta parity): the wall-clock the log
      // persisted for `_to_version`'s commit — on the per-commit form
      // this IS Delta's per-row commit attribution; on a multi-commit
      // span (incl. streaming batches that coalesce commits) it is the
      // span-END commit time, i.e. the instant the net change became
      // fully visible (per-commit attribution inside a net multiset
      // diff would be fiction — slice with readChanges(v) for it).
      // NULL only for pre-r18 logs that carry no commit stamps.
      .withColumn("_commit_timestamp",
        if (b.committedAt > 0) lit(new java.sql.Timestamp(b.committedAt))
        else lit(null).cast(org.apache.spark.sql.types.TimestampType))
  }

  /** UPDATE pre/post-image pairing (r20, VERDICT r19 #5 — Delta's
    * `update_preimage`/`update_postimage`): the net feed with
    * delete+insert pairs that share `key` relabelled as an UPDATE.
    * `key` is the caller-declared row identity (the commit log stores
    * no PK); only keys with EXACTLY one delete and one insert in the
    * feed pair up — a key inserted twice or deleted without
    * replacement keeps its plain labels, so a mis-declared key can
    * mislabel nothing, it just pairs less. Cost on top of the feed:
    * one aggregation + one join over the (already segment-pruned)
    * churned rows only. */
  def readChangesPaired(
      fromVersion: Long, toVersion: Long, key: String): DataFrame = {
    require(schema.fieldNames.contains(key),
      s"readChangesPaired: no such column $key")
    val feed = readChanges(fromVersion, toVersion)
    val counts = feed.groupBy(col(key)).agg(
      sum(when(col("_change_type") === "insert", 1).otherwise(0)).as("__ins_n"),
      sum(when(col("_change_type") === "delete", 1).otherwise(0)).as("__del_n"))
    feed.join(counts, Seq(key), "left")
      .withColumn("_change_type",
        when(col("__ins_n") === 1 && col("__del_n") === 1,
          when(col("_change_type") === "delete", lit("update_preimage"))
            .otherwise(lit("update_postimage")))
          .otherwise(col("_change_type")))
      .drop("__ins_n", "__del_n")
      .select(feed.columns.map(col).toSeq: _*)
  }

  /** Per-commit change feed (r20, VERDICT r19 #4): exactly what commit
    * `version` changed — the first-class form of the documented
    * `readChanges(v, v+1)` iteration pattern. SQL:
    * `TABLE_CHANGES('<t>', v)`. */
  def readChanges(version: Long): DataFrame = {
    require(version >= 1,
      s"readChanges: commit $version has no predecessor (version 0 is CREATE)")
    readChanges(version - 1, version)
  }

  /** `TIMESTAMP AS OF` form: largest retained version committed at or
    * before `tsMillis` (resolved from the per-commit wall-clock the
    * log entries persist — r18; file mtimes only for pre-r18 logs). */
  def readAsOfTimestamp(tsMillis: Long): DataFrame =
    readAsOf(layout.versionAtTimestamp(tsMillis))

  /** RESTORE TABLE … TO VERSION AS OF (r17, beyond the reference —
    * Delta's RESTORE): one locked commit that sets the segment list
    * back to [[TableLayout.statusAt]]'s reconstruction of `version` —
    * a bad load/delete/merge is undone by a METADATA-ONLY operation,
    * no data rewrite at any table size. The restore itself is a new
    * commit (version moves FORWARD; the mis-step stays in the log and
    * in SHOW VERSIONS — an audit trail, not an erasure), so a restore
    * can itself be restored. Segments the restore RESURRECTS (present
    * at `version`, absent or invisible now) are verified on disk first
    * — data files already vacuumed by CLEAN FILES' retention fail the
    * restore loudly BEFORE any metadata moves (Delta's own
    * vacuumed-version contract). The segment-id high-water mark is
    * monotone across restores, so ids minted after `version` are never
    * re-minted. */
  def restoreTo(version: Long): Long = {
    val target = layout.statusAt(version)
    // ---- resurrection check, UNLOCKED (r18, VERDICT r17 #1) --------
    // The verification walk is O(restore change set) driver-side
    // file-existence probes — a MASS restore (the operation's core use
    // case) is O(table) RPCs, minutes on object storage, and must not
    // ride inside the table lock (the same stall class r17 moved out
    // of checkpoint rollover). Decide-unlocked / confirm-locked, like
    // rolloverCheckpoint and CLEAN FILES phase B: probe everything
    // against a pre-lock snapshot IN PARALLEL, then under the lock
    // re-verify only entries whose log record drifted since (a foreign
    // clean / compaction / writer landed in the window) — normally
    // zero. A clean's unlocked sweep racing the gap is covered from
    // the other side: its per-entry re-verify skips entries a
    // committed restore resurrected, and its phase-C conflict check
    // fails loudly on the residual window (see cleanFiles).
    val pre = layout.readStatus()
    val preById = pre.segments.iterator.map(s => s.id -> s).toMap
    verifyResurrected(version,
      target.visible.filterNot(s => pre.visibleById.get(s.id).contains(s)))
    Failpoints.hit("restore.preVerified", path)
    layout.commit { st =>
      if (st.segments == target.segments) st
      else {
        val stById = st.segments.iterator.map(s => s.id -> s).toMap
        val drifted = target.visible.filterNot(s =>
            st.visibleById.get(s.id).contains(s))
          .filter(s => stById.get(s.id) != preById.get(s.id))
        require(drifted.size <= 4096,
          s"cannot restore to version $version: ${drifted.size} segment " +
            "records changed under a concurrent writer between the restore's " +
            "pre-verification and its commit — retry the RESTORE")
        verifyResurrected(version, drifted)
        st.copy(segments = target.segments)
      }
    }.version
  }

  /** Driver-side existence probes for segments a restore would
    * resurrect (data files + MoR delete deltas), fanned out over a
    * bounded thread pool like the commit log's JSONL cold parse —
    * object-storage stat latency must not serialize a mass restore.
    * Throws (message spec-pinned) when CLEAN FILES' retention already
    * reclaimed a target, BEFORE any metadata moves. */
  private def verifyResurrected(
      version: Long, segs: Seq[graft.engine.format.SegmentMeta]): Unit =
    verifyFilesExist("restore", version, segs)

  /** Shared by RESTORE and SHALLOW CLONE: see [[verifyResurrected]]. */
  private def verifyFilesExist(op: String,
      version: Long, segs: Seq[graft.engine.format.SegmentMeta]): Unit = {
    if (segs.isEmpty) return
    val paths: IndexedSeq[(Long, String)] = segs.iterator.flatMap { s =>
      layout.segmentFilePaths(s).iterator.map(p => s.id -> p) ++
        s.deltas.values.iterator.flatten.map(d => s.id ->
          new org.apache.hadoop.fs.Path(layout.segmentDir(s.id), d).toString)
    }.toIndexedSeq
    val fs = layout.fs
    def exists(p: String) = {
      // scheduling hook (per probe): lets a spec inject object-storage
      // stat latency and prove the walk never rides the table lock
      Failpoints.hit("restore.verifyProbe", path)
      fs.exists(new org.apache.hadoop.fs.Path(p))
    }
    val nThreads = math.max(1, math.min(
      Runtime.getRuntime.availableProcessors(), 16))
    val missing: Seq[(Long, String)] =
      if (paths.size < 64 || nThreads == 1) paths.filterNot(p => exists(p._2))
      else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
        try {
          val chunk = (paths.size + nThreads - 1) / nThreads
          val futs = paths.grouped(chunk).map(g =>
            pool.submit(new java.util.concurrent.Callable[Seq[(Long, String)]] {
              override def call(): Seq[(Long, String)] =
                g.filterNot(p => exists(p._2))
            })).toIndexedSeq
          try futs.flatMap(_.get())
          catch {
            case e: java.util.concurrent.ExecutionException =>
              // advisor r18: a probe IOException must surface with the
              // OPERATION'S context (which op, which version, why it
              // matters), not as a raw ExecutionException — and the
              // sibling probe threads stop immediately (shutdownNow
              // interrupts them) instead of finishing a doomed walk
              pool.shutdownNow()
              val cause = Option(e.getCause).getOrElse(e)
              throw new IllegalStateException(
                s"cannot $op to version $version: file existence probe " +
                  s"failed (${cause.getClass.getSimpleName}: ${cause.getMessage}) — " +
                  "storage error, not a reclaimed file; retry when the " +
                  "filesystem recovers", cause)
          }
        } finally pool.shutdown()
      }
    require(missing.isEmpty,
      s"cannot $op to version $version: segment ${missing.head._1} data was " +
        s"physically reclaimed (${missing.map(_._2).take(3).mkString(", ")}…) — " +
        "raise clean_files_retention_ms to keep restore targets readable")
  }

  /** SHALLOW CLONE (r18, beyond the reference — the Delta `CLONE`
    * capability): a NEW independent table at `destPath` whose segment
    * list REFERENCES this table's data files in place — one metadata
    * commit, ZERO data movement at any table size (a 100 TB clone is a
    * few MB of metadata). `version` clones the table AS OF a retained
    * commit-log version (composes with time travel: clone the
    * pre-mis-step state aside, inspect both).
    *
    * Mechanics: every source-visible segment becomes an EXTERNAL
    * segment of the clone (`externalPath` → the source segment dir;
    * ADD SEGMENT foreigns keep their own path), carrying the source's
    * per-file footer stats so the whole pruning ladder works on the
    * clone unchanged. The external-segment machinery supplies the
    * isolation for free: DML on the clone is copy-on-write into the
    * clone's OWN managed segments (external files are MoR-ineligible
    * by design and never rewritten in place), and the clone's CLEAN
    * FILES never unlinks external files — the source is physically
    * read-only to the clone.
    *
    * Contracts: segments carrying outstanding merge-on-read delete
    * deltas are REFUSED (delta positions resolve against the source
    * layout; fold them first — horizontal compaction); open STREAMING
    * segments are refused (their file set is still growing); every
    * referenced file is existence-probed (parallel, unlocked) BEFORE
    * any metadata is written. Like Delta's shallow clones, a later
    * DELETE + CLEAN FILES on the SOURCE can reclaim files the clone
    * references — scans then fail loudly on the missing file; set
    * `clean_files_retention_ms` on the source, or deep-copy via CTAS,
    * when clones must outlive source rewrites. */
  def shallowCloneTo(destPath: String, version: Option[Long] = None): GraftTable = {
    val st = version.map(layout.statusAt).getOrElse(layout.readStatus())
    val vis = st.visible
    val withDeltas = vis.filter(_.deltas.nonEmpty)
    require(withDeltas.isEmpty,
      s"cannot shallow-clone version ${st.version} of $path: segment(s) " +
        s"${withDeltas.map(_.id).mkString(",")} carry outstanding merge-on-read " +
        "delete deltas, whose positions resolve against the SOURCE layout — " +
        "fold them first (horizontal compaction) or clone a delta-free version")
    val streaming = vis.filter(_.status == SegmentStatus.Streaming)
    require(streaming.isEmpty,
      s"cannot shallow-clone $path: open streaming segment(s) " +
        s"${streaming.map(_.id).mkString(",")} are still being appended — " +
        "FINISH STREAMING (handoff) first")
    verifyFilesExist("shallow-clone", st.version, vis)
    val m = meta
    // derived-object registrations must NOT follow the clone: SI/text/
    // vector index tables belong to the SOURCE path — a REFRESH from
    // the clone would overwrite the source's index. The clone starts
    // index-free; recreate indexes against it if needed.
    val props = m.properties.filterNot { case (k, _) =>
      k.startsWith("si.") || k.startsWith("textindex.") ||
        k.startsWith("vector.") || k.startsWith("sqlindex.")
    }
    val dest = GraftTable.create(spark, destPath, schema)
    // carry the source's table meta verbatim (schema json, sort spec,
    // partition columns, filtered properties) — create() re-derives
    // some of these from properties (e.g. SPATIAL_INDEX appends its
    // generated column), which must not run twice on an
    // already-derived schema
    dest.layout.updateTableMeta(_ => m.copy(properties = props))
    val entries = vis.map { s =>
      s.copy(
        externalPath = Some(s.externalPath.getOrElse(layout.segmentDir(s.id).toString)),
        removedFiles = Nil, // tombstoned files are the source's to reclaim
        retiredAt = 0L,
        lastBatchId = -1L,
        // rewrite provenance references SOURCE-table state fingerprints
        // (table-path-salted, so they could never alias here anyway) —
        // meaningless in the clone's own log, drop them
        rewriteOf = Nil,
        rewriteFp = "")
    }
    dest.layout.commit(st0 => st0.copy(segments = st0.segments ++ entries))
    dest
  }

  /** DEEP CLONE (r19, VERDICT r18 Next #6): a full COPY of this
    * table's rows as of `version` into a new independent table at
    * `destPath`, preserving sort spec, partition columns, and table
    * properties (index registrations excluded, like
    * [[shallowCloneTo]] — recreate them against the clone). One
    * distributed CTAS-style write: the clone owns every byte, so it
    * SURVIVES any later source rewrite or CLEAN FILES — the
    * documented escape hatch for the shallow-clone shared-file
    * hazard. Unlike shallow, MoR deltas are fine (the read
    * materializes delta-applied rows) — only open streaming segments
    * are refused (their file set is still growing; FINISH STREAMING
    * first). Choose shallow for instant metadata-only forks, deep
    * when the clone must outlive source rewrites; at 100 TB the cost
    * difference (a few MB of metadata vs a full read+rewrite) IS the
    * decision.
    *
    * NOT atomic (r20, advisor r19): create + meta + insert are three
    * commits, so a concurrent reader can observe an EMPTY destination
    * table between create and the insert's publish (the insert itself
    * is atomic — rows appear all-or-nothing). A mid-way FAILURE
    * best-effort drops the partial destination so a retry of
    * `CREATE TABLE … DEEP CLONE` does not collide with the husk; if
    * the drop itself fails (e.g. storage down), the husk remains and
    * must be dropped manually before retrying. */
  def deepCloneTo(destPath: String, version: Option[Long] = None): GraftTable = {
    val st = version.map(layout.statusAt).getOrElse(layout.readStatus())
    val streaming = st.visible.filter(_.status == SegmentStatus.Streaming)
    require(streaming.isEmpty,
      s"cannot deep-clone $path: open streaming segment(s) " +
        s"${streaming.map(_.id).mkString(",")} are still being appended — " +
        "FINISH STREAMING (handoff) first")
    val m = meta
    val df = version.map(readAsOf).getOrElse(read)
    val props = m.properties.filterNot { case (k, _) =>
      k.startsWith("si.") || k.startsWith("textindex.") ||
        k.startsWith("vector.") || k.startsWith("sqlindex.")
    }
    val dest = GraftTable.create(spark, destPath, schema)
    try {
      // carry the source meta verbatim (same rationale as
      // shallowCloneTo: create() re-derives generated columns from
      // properties, which must not run twice on an already-derived
      // schema)
      dest.layout.updateTableMeta(_ => m.copy(properties = props))
      dest.insert(df)
    } catch {
      case scala.util.control.NonFatal(e) =>
        // best-effort: don't leave a partial (empty or meta-only)
        // destination for a retried CREATE … DEEP CLONE to collide with
        try GraftTable.drop(spark, destPath)
        catch { case scala.util.control.NonFatal(_) => }
        throw e
    }
    dest
  }

  /** Paged read: rows [offset, offset+limit) of committed table order
    * (PaginationCarbonReader analog — see [[Pagination]]): only the
    * covering files are opened, located from footer live row counts. */
  def page(offset: Long, limit: Int): DataFrame = Pagination.page(this, offset, limit)

  /** Arrow export (reference SDK ArrowCarbonReader,
    * sdk/sdk/src/main/java/org/apache/carbondata/sdk/file/
    * ArrowCarbonReader.java): the table's live rows as serialized Arrow
    * record batches, produced DISTRIBUTED (one batch stream per scan
    * partition, `spark.sql.execution.arrow.maxRecordsPerBatch` rows per
    * batch) — the consumer decides whether to collect or keep them on
    * the executors. Pair with [[read]]`.schema.json` to deserialize. */
  def toArrowBatches: org.apache.spark.rdd.RDD[Array[Byte]] =
    org.apache.spark.sql.graft.Shims.toArrowBatchRdd(read)

  /** Metadata-only count(*) (reference CarbonCountStar.scala:44-50).
    * External ADD SEGMENT files carry a -1 row-count sentinel — those
    * segments are counted with a real scan rather than poisoning the
    * metadata sum. */
  def countStar: Long = {
    val vis = status.visible
    val (known, unknown) = vis.partition(_.rowCount >= 0)
    val base = known.map(_.rowCount).sum
    // -1 sentinels are foreign-format ADD SEGMENT entries: count them
    // with a scan of just those segments
    base + (if (unknown.isEmpty) 0L else readSegments(unknown.map(_.id)).count())
  }

  // ---------------------------------------------------------------- insert
  /** INSERT INTO / INSERT OVERWRITE: one new sorted segment per call.
    * Two-phase commit like the reference's load: reserve the segment id
    * as IN_PROGRESS, write data files, then flip to SUCCESS (and on
    * overwrite, retire the previously visible segments) atomically. */
  def insert(df: DataFrame, overwrite: Boolean = false): Long = {
    val m = meta
    val target = schema
    // spatial-index tables derive the generated geoId column at load
    // time — the writer never supplies it (SpatialIndex.derive)
    val incoming = graft.geo.SpatialIndex.of(m.properties)
      .map(graft.geo.SpatialIndex.derive(df, _)).getOrElse(df)
    val aligned = GraftTable.align(incoming, target)
    var id = -1L
    layout.commit { st =>
      id = st.nextSegmentId
      st.copy(segments = st.segments :+ SegmentMeta(
        id, SegmentStatus.InProgress, "parquet", Nil, -1L, 0L, Map.empty,
        m.sortColumns, System.currentTimeMillis()))
    }
    Failpoints.hit("insert.reserved", path)
    val seg =
      try SegmentWriter.write(layout, m, aligned, id)
      catch {
        case e: Throwable =>
          layout.commit(st => st.copy(segments = st.segments.map(s =>
            if (s.id == id) s.retire(SegmentStatus.MarkedForDelete) else s)))
          throw e
      }
    Failpoints.hit("insert.filesWritten", path)
    layout.commit { st =>
      // the reserved record must still exist — if CLEAN FILES reclaimed
      // it as stale (load ran past the timeout), publishing would
      // silently no-op and the data would be an orphan
      require(st.segments.exists(_.id == id),
        s"segment $id record vanished during load (reclaimed as stale?) — " +
          "raise stale_inprogress_timeout_ms for long loads")
      val others =
        if (overwrite) st.segments.map(s =>
          if (s.id != id && s.isVisible) s.retire(SegmentStatus.MarkedForDelete) else s)
        else st.segments
      st.copy(segments = others.map(s => if (s.id == id) seg else s))
    }
    // load-time index maintenance (reference SILoadEventListener family,
    // index/secondary-index/): fold ONLY the new segment into every
    // registered SI / text index — incremental, reads the fresh segment,
    // not the table. Runs strictly AFTER the publish commit, so a failed
    // load never records phantom coverage. `index.autorefresh=false`
    // opts a bulk backfill out (scans stay correct via the uncovered-
    // segment fallback until a manual REINDEX).
    Failpoints.hit("publish.beforeIndexMaintain", path)
    maintainIndexesFor(id, m)
    // MV refresh-on-commit (reference "Loading data on commit",
    // docs/mv-guide.md:138-146): non-deferred MVs over this table catch
    // up right after the publish; mv.autorefresh=false opts the table
    // out (their serving gate keeps stale MVs unserved either way)
    if (m.properties.getOrElse("mv.autorefresh", "true").toBoolean)
      graft.engine.mv.Mv.autoRefreshFor(spark, path)
    // auto load merge (reference auto-compaction, docs/usecases.md:91-93):
    // when the visible segment count reaches the threshold, run a MINOR
    // compaction so read amplification stays bounded under many small loads
    m.properties.get("auto_compact_threshold").map(_.toInt).foreach { th =>
      if (status.visible.count(_.format == "parquet") >= th)
        compact("MINOR", minorThreshold = th)
    }
    id
  }

  /** LOAD DATA (CSV) with bad-record handling via Spark's PERMISSIVE
    * mode (reference CarbonLoadDataCommand.scala:50; bad-record actions
    * docs/dml-of-carbondata.md:68-71). `badRecordsAction`:
    * FAIL | IGNORE | REDIRECT(badRecordsPath).
    *
    * ARRAY/STRUCT/MAP columns are ingested from
    * COMPLEX_DELIMITER_LEVEL_1/2/3-delimited cells
    * (docs/dml-of-carbondata.md:161-184): the CSV parser reads them as
    * strings, [[format.ComplexCsv]] rebuilds the typed values with
    * codegen'd split/transform expressions, and malformed complex cells
    * route through the SAME action matrix as malformed scalar rows. */
  def loadCsv(
      csvPath: String,
      options: Map[String, String] = Map.empty,
      badRecordsAction: String = "FAIL",
      badRecordsPath: Option[String] = None): Long = {
    import graft.engine.format.ComplexCsv
    // spatial-index tables: the CSV carries only the source lat/lng —
    // parse without the generated column; insert() derives it
    val target = graft.geo.SpatialIndex.of(meta.properties) match {
      case Some(sp) => StructType(schema.fields.filterNot(_.name == sp.name))
      case None => schema
    }
    // complex columns come off the CSV parser as raw strings
    val parseSchema = ComplexCsv.csvSchema(target)
    val action = badRecordsAction.toUpperCase
    // raw rejected rows always land somewhere inspectable — with no
    // explicit path, a per-load timestamped dir under the table,
    // mirroring the reference's redirect layout
    // (docs/dml-of-carbondata.md:68-71)
    lazy val quarantine = badRecordsPath.getOrElse(
      s"$path/badrecords/${System.currentTimeMillis()}")
    val base = spark.read
      .options(Map("header" -> "true", "delimiter" -> ",") ++ options)
    val raw = action match {
      case "FAIL" =>
        base.option("mode", "FAILFAST").schema(parseSchema).csv(csvPath)
      case "FORCE" =>
        // reference FORCE (docs/dml-of-carbondata.md:64): bad VALUES
        // become NULL and the row is kept — spark's PERMISSIVE parse
        base.option("mode", "PERMISSIVE").schema(parseSchema).csv(csvPath)
      case "IGNORE" =>
        base.option("mode", "DROPMALFORMED").schema(parseSchema).csv(csvPath)
      case "REDIRECT" =>
        val withCorrupt = StructType(parseSchema.fields :+
          org.apache.spark.sql.types.StructField("_corrupt_record",
            org.apache.spark.sql.types.StringType, true))
        val df = base.option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", "_corrupt_record")
          .schema(withCorrupt).csv(csvPath).cache()
        val bad = df.filter(col("_corrupt_record").isNotNull)
          .select(col("_corrupt_record"))
        if (!bad.isEmpty) bad.write.mode("append").text(quarantine)
        df.filter(col("_corrupt_record").isNull).drop("_corrupt_record")
      case other => throw new IllegalArgumentException(s"bad records action: $other")
    }
    val complexFields = target.fields.filter(f => ComplexCsv.isComplex(f.dataType))
    val typed = if (complexFields.isEmpty) raw else {
      val delims = ComplexCsv.delimsFrom(options)
      val ok = complexFields.map(f =>
        ComplexCsv.wellFormed(col(f.name), f.dataType, delims)).reduce(_ && _)
      val good = action match {
        case "FAIL" =>
          val sample = raw.filter(!ok).limit(1).collect()
          if (sample.nonEmpty) throw new IllegalArgumentException(
            s"malformed complex cell in load (BAD_RECORDS_ACTION=FAIL): ${sample.head}")
          raw
        case "FORCE" => raw // malformed complex cells null out below
        case "IGNORE" => raw.filter(ok)
        case "REDIRECT" =>
          val bad = raw.filter(!ok)
            .select(concat_ws(",", parseSchema.fieldNames.map(c =>
              col(c).cast("string")).toSeq: _*))
          if (!bad.isEmpty) bad.write.mode("append").text(quarantine)
          raw.filter(ok)
      }
      good.select(target.fields.map(f =>
        if (ComplexCsv.isComplex(f.dataType)) {
          val parsed = ComplexCsv.parse(col(f.name), f.dataType, delims)
          // FORCE: a malformed complex cell becomes NULL, row kept
          (if (action == "FORCE")
            when(ComplexCsv.wellFormed(col(f.name), f.dataType, delims), parsed)
          else parsed).as(f.name)
        } else col(f.name)).toSeq: _*)
    }
    insert(typed)
  }

  // ----------------------------------------------------------------- IUD
  /** Table property `iud_mode=mor` switches DELETE/UPDATE to the
    * reference's merge-on-read model (immutable data files + delete
    * deltas, docs/dml-of-carbondata.md:406-409); default is file-grain
    * copy-on-write. */
  private def morMode: Boolean =
    meta.properties.get("iud_mode").exists(_.equalsIgnoreCase("mor"))

  /** DELETE FROM … WHERE (CarbonProjectForDeleteCommand.scala:44) —
    * copy-on-write by default, merge-on-read delete deltas under
    * `iud_mode=mor`. Returns #rows deleted. */
  def delete(cond: org.apache.spark.sql.Column): Long =
    if (morMode) Mutation.deleteMor(this, cond) else Mutation.delete(this, cond)

  /** Explicit merge-on-read forms (property-independent). */
  def deleteMor(cond: org.apache.spark.sql.Column): Long = Mutation.deleteMor(this, cond)
  def updateMor(cond: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Long =
    Mutation.updateMor(this, cond, set)

  /** INSERT OVERWRITE ... WHERE — replace rows matching `cond` with `df`
    * (partition-overwrite equivalent; see [[Mutation.insertOverwriteWhere]]). */
  def insertOverwriteWhere(cond: org.apache.spark.sql.Column, df: DataFrame): Long =
    Mutation.insertOverwriteWhere(this, cond, df)

  /** Dynamic partition overwrite (hive `partitionOverwriteMode=dynamic`)
    * — the one operation behind both this call and SQL `INSERT
    * OVERWRITE` in dynamic mode. A table without partition columns
    * (plain or bucket-only) is overwritten whole, as in hive. Otherwise
    * exactly the partitions present in `df` are replaced and the rest
    * kept: the scope is a value predicate over `df`'s distinct partition
    * tuples (the collect is bounded by the partition count), rewritten
    * through [[Mutation.insertOverwriteWhere]], so every segment kind
    * (external, streaming, pre-footer) and bucketed layouts take part.
    * `df` is evaluated once: the tuples and the written rows come from
    * the same materialization, so a source that changes between reads
    * cannot drop a partition without new rows or keep stale rows beside
    * new ones. Returns #rows replaced. */
  def insertOverwriteDynamic(df: DataFrame): Long = {
    val pCols = meta.partitionColumns
    if (pCols.isEmpty) {
      val replaced = countStar
      insert(df, overwrite = true)
      return replaced
    }
    val pinned = GraftTable.align(df, schema).localCheckpoint()
    val tuples = pinned.select(pCols.map(col): _*).distinct().collect()
    if (tuples.isEmpty) 0L
    else {
      val cond = tuples.map { r =>
        pCols.zipWithIndex.map { case (c, i) =>
          if (r.isNullAt(i)) col(c).isNull else col(c) === lit(r.get(i))
        }.reduce(_ && _)
      }.reduce(_ || _)
      insertOverwriteWhere(cond, pinned)
    }
  }

  /** UPDATE … SET … WHERE (CarbonProjectForUpdateCommand.scala:48) —
    * copy-on-write by default, merge-on-read under `iud_mode=mor`.
    * Returns #rows updated. */
  def update(cond: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column]): Long =
    if (morMode) Mutation.updateMor(this, cond, set)
    else Mutation.update(this, cond, set)

  /** Dataset merge builder (MergeDataSetBuilder.scala:39-96). Reference
    * target columns as `t.<col>`, source columns as `s.<col>` in the
    * condition and action expressions. */
  def merge(source: DataFrame, condition: org.apache.spark.sql.Column): MergeBuilder =
    new MergeBuilder(this, source, condition)

  /** upsert shortcut (docs/scd-and-cdc-guide.md:30-76): update matched,
    * insert unmatched, keyed on `key`. */
  def upsert(source: DataFrame, key: String): Option[Long] =
    merge(source, col(s"t.$key") === col(s"s.$key"))
      .whenMatched().updateAll()
      .whenNotMatched().insertAll()
      .execute()

  // ------------------------------------------------------ schema evolution
  /** ALTER TABLE ADD COLUMNS (CarbonAlterTableAddColumnCommand.scala:36).
    * Metadata-only: old segments read the new column as null (parquet
    * fills missing columns), like the reference's restructure fill. */
  def addColumns(cols: Seq[org.apache.spark.sql.types.StructField]): Unit =
    layout.updateTableMeta { m =>
      val cur = org.apache.spark.sql.types.DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      val dup = cols.map(_.name).filter(cur.fieldNames.contains)
      require(dup.isEmpty, s"columns already exist: ${dup.mkString(",")}")
      m.copy(schemaJson = StructType(cur.fields ++ cols).json)
    }

  /** ALTER TABLE DROP COLUMNS (CarbonAlterTableDropColumnCommand.scala:40).
    * Metadata-only: extra columns in old files are simply not read. */
  def dropColumns(names: Seq[String]): Unit =
    layout.updateTableMeta { m =>
      val cur = org.apache.spark.sql.types.DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
      val missing = names.filterNot(cur.fieldNames.contains)
      require(missing.isEmpty, s"no such columns: ${missing.mkString(",")}")
      val inSort = names.filter(m.sortColumns.contains)
      require(inSort.isEmpty, s"cannot drop sort columns: ${inSort.mkString(",")}")
      require(names.size < cur.fields.length, "cannot drop every column")
      m.copy(schemaJson =
        StructType(cur.fields.filterNot(f => names.contains(f.name))).json)
    }

  /** ALTER TABLE RENAME COLUMN / CHANGE DATATYPE
    * (CarbonAlterTableColRenameDataTypeChangeCommand.scala:76). The
    * reference does this metadata-only via column ids; parquet matches
    * by name, so here the visible data is rewritten once (a single
    * sorted job) and swapped atomically. */
  def renameColumn(from: String, to: String): Unit = {
    val cur = schema
    require(cur.fieldNames.contains(from), s"no such column $from")
    require(!cur.fieldNames.contains(to), s"column $to already exists")
    rewriteAll(df => df.withColumnRenamed(from, to)) { m =>
      m.copy(
        schemaJson = StructType(cur.fields.map(f =>
          if (f.name == from) f.copy(name = to) else f)).json,
        sortColumns = m.sortColumns.map(c => if (c == from) to else c))
    }
  }

  def changeColumnType(name: String, dt: org.apache.spark.sql.types.DataType): Unit = {
    val cur = schema
    require(cur.fieldNames.contains(name), s"no such column $name")
    rewriteAll(df => df.withColumn(name, col(name).cast(dt))) { m =>
      m.copy(schemaJson = StructType(cur.fields.map(f =>
        if (f.name == name) f.copy(dataType = dt) else f)).json)
    }
  }

  /** Physical-layout keys that existing data was WRITTEN under — a
    * bucket-spec or spatial-index change would silently mis-route
    * bucket pruning / SPJ / geoId pruning over old files (the
    * reference refuses altering these too). Immutable once any
    * segment exists. */
  private def immutableLayoutKey(k: String): Boolean = {
    val l = k.toLowerCase
    l == "bucket_columns" || l == "bucket_count" || l == "spatial_index" ||
      l.startsWith("spatial_index.")
  }
  /** The layout-critical property view of a meta (lowercased keys) —
    * compared at insert publish time to abort loads that raced a
    * layout change through the empty-table window. */
  private def layoutFingerprint(m: TableMeta): Map[String, String] =
    m.properties.collect { case (k, v) if immutableLayoutKey(k) => k.toLowerCase -> v }
  private def checkLayoutImmutable(
      m: TableMeta, keys: Iterable[String], changed: String => Boolean): Unit = {
    val bad = keys.filter(k => immutableLayoutKey(k) && changed(k))
    require(bad.isEmpty || layout.readStatusUncached().segments.isEmpty,
      s"cannot alter physical-layout propert${if (bad.size == 1) "y" else "ies"} " +
        s"${bad.mkString(", ")} once data exists: existing files were " +
        "written under the current bucket/spatial spec, and pruning " +
        "against a new spec would silently drop rows")
  }

  /** Metadata-only property changes, one locked RMW each. */
  def setProperties(props: Map[String, String]): Unit = alterMeta(None, None, props, Nil)
  def unsetProperties(keys: Seq[String]): Unit = alterMeta(None, None, Map.empty, keys)

  /** ALTER TABLE SET/UNSET TBLPROPERTIES, for both SQL surfaces, in one
    * commit: if ANY part fails validation, NOTHING is applied.
    * SORT_COLUMNS/SORT_SCOPE alter the sort spec (reference
    * CarbonAlterTableSetCommand; docs/ddl-of-carbondata.md) — as plain
    * properties they would be a silent no-op. That is metadata-only:
    * FUTURE loads and compactions write under the new spec, existing
    * segments keep the sortColumns RECORDED in their SegmentMeta. Every
    * sort-dependent read claim (outputOrdering, pagination) refuses
    * mixed-spec tables and TopN/min-max pruning is footer-stats-based,
    * so the change is always sound; a MAJOR compaction restores the
    * table-wide ordering claim. Empty SORT_COLUMNS = NO sort. */
  def alterProperties(set: Map[String, String], unset: Seq[String] = Nil): Unit = {
    def sortKey(k: String): Boolean =
      k.equalsIgnoreCase("sort_columns") || k.equalsIgnoreCase("sort_scope")
    // sort_scope always has a value: "unsetting" it has no meaning
    require(!unset.exists(_.equalsIgnoreCase("sort_scope")),
      "cannot UNSET sort_scope — SET it to NO_SORT/LOCAL_SORT/GLOBAL_SORT/ZORDER_SORT")
    val cols = set.collectFirst { case (k, v) if k.equalsIgnoreCase("sort_columns") =>
      v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }.orElse(if (unset.exists(_.equalsIgnoreCase("sort_columns"))) Some(Nil) else None)
    val scope = set.collectFirst { case (k, v) if k.equalsIgnoreCase("sort_scope") => v }
    alterMeta(cols, scope, set.filterNot(kv => sortKey(kv._1)), unset.filterNot(sortKey))
  }

  /** The sort-spec part of [[alterProperties]], plus ordinary properties. */
  def alterSortColumns(cols: Seq[String], scope: Option[String] = None): Unit =
    alterSortAndProperties(cols, scope, Map.empty)
  def alterSortAndProperties(cols: Seq[String], scope: Option[String],
      rest: Map[String, String]): Unit =
    alterMeta(Some(cols), scope, rest, Nil)

  /** One locked TableMeta commit. The layout-immutability check runs
    * INSIDE the update closure — the lock segment commits take — so no
    * concurrent writer slips between check and act; current-value
    * lookups are case-insensitive (DSv2 preserves user key case). */
  private def alterMeta(cols: Option[Seq[String]], scope: Option[String],
      set: Map[String, String], unset: Seq[String]): Unit = {
    cols.foreach { cs =>
      val bad = cs.filterNot(c => schema.fieldNames.contains(c))
      require(bad.isEmpty, s"sort columns not in schema: ${bad.mkString(",")}")
      // a spatial-index table's generated geoId column must stay the
      // leading sort key — geoId range pruning degrades badly without
      // the write-time clustering (the reference refuses altering the
      // SPATIAL_INDEX column entirely)
      graft.geo.SpatialIndex.of(meta.properties).foreach { sp =>
        require(cs.headOption.contains(sp.name),
          s"spatial-index table: SORT_COLUMNS must keep '${sp.name}' first")
      }
    }
    scope.foreach(sc => require(
      Seq("NO_SORT", "LOCAL_SORT", "GLOBAL_SORT", "ZORDER_SORT").contains(sc.toUpperCase),
      s"bad sort scope $sc"))
    layout.updateTableMeta { m =>
      val lower = m.properties.map { case (k, v) => k.toLowerCase -> v }
      checkLayoutImmutable(m, set.keys, k => !lower.get(k.toLowerCase).contains(set(k)))
      checkLayoutImmutable(m, unset, k => lower.contains(k.toLowerCase))
      m.copy(
        sortColumns = cols.getOrElse(m.sortColumns),
        sortScope = scope.map(_.toUpperCase).getOrElse(m.sortScope),
        properties = m.properties ++ set -- unset)
    }
  }

  /** Rewrite all visible data as one new segment under the NEW meta,
    * committing data + schema together. */
  private def rewriteAll(f: DataFrame => DataFrame)(updateMeta: TableMeta => TableMeta): Unit = {
    val vis = status.visible
    val newMeta = updateMeta(meta)
    if (vis.isEmpty) { layout.writeTableMeta(newMeta); return }
    val df = f(readSegments(vis.map(_.id)))
    var id = -1L
    layout.commit { st =>
      id = st.nextSegmentId
      st.copy(segments = st.segments :+ SegmentMeta(
        id, SegmentStatus.InProgress, "parquet", Nil, -1L, 0L, Map.empty,
        newMeta.sortColumns, System.currentTimeMillis()))
    }
    val seg = SegmentWriter.write(layout, newMeta, df, id)
    val victims = vis.map(_.id).toSet
    // publish data + schema together under one lock, with the same
    // optimistic-concurrency guards as Mutation.swap: a victim retired
    // concurrently must not resurrect, and a segment inserted
    // concurrently (under the OLD schema) must not survive a schema
    // change it never saw
    try layout.commitWithMeta(newMeta) { st =>
      val visNow = st.segments.filter(_.isVisible).map(_.id).toSet
      val lost = victims -- visNow
      if (lost.nonEmpty) throw new ConcurrentMutationException(
        s"segments ${lost.toSeq.sorted.mkString(",")} were retired during the schema rewrite")
      val appeared = visNow -- victims
      if (appeared.nonEmpty) throw new ConcurrentMutationException(
        s"segments ${appeared.toSeq.sorted.mkString(",")} were inserted during the schema rewrite")
      require(st.segments.exists(_.id == id),
        s"segment $id record vanished during the schema rewrite")
      st.copy(segments = st.segments.map { s =>
        if (s.id == id) seg
        else if (victims.contains(s.id) && s.isVisible)
          s.retire(SegmentStatus.MarkedForDelete)
        else s
      })
    } catch {
      case e: ConcurrentMutationException =>
        try Mutation.retire(this, id)
        catch { case cleanup: Throwable => e.addSuppressed(cleanup) }
        throw e
    }
  }

  // ------------------------------------------------------ segment lifecycle
  /** TRUNCATE TABLE (CarbonTruncateCommand.scala:31): retire all visible
    * segments in one atomic commit; CLEAN FILES reclaims the space. */
  def truncate(): Unit = layout.commit { st =>
    st.copy(segments = st.segments.map(s =>
      if (s.isVisible) s.retire(SegmentStatus.MarkedForDelete) else s))
  }

  /** DESCRIBE FORMATTED (CarbonDescribeFormattedCommand analog). */
  def describe: DataFrame = {
    import spark.implicits._
    val m = meta
    val st = status
    val rows = schema.fields.map(f => (f.name, f.dataType.simpleString, "column")) ++
      Seq(
        ("sort_columns", m.sortColumns.mkString(","), "property"),
        ("partition_columns", m.partitionColumns.mkString(","), "property"),
        ("sort_scope", m.sortScope, "property"),
        ("location", path, "property"),
        ("visible_segments", st.visible.size.toString, "metric"),
        ("total_rows", st.visible.map(_.rowCount).sum.toString, "metric"),
        ("total_bytes", st.visible.map(_.sizeBytes).sum.toString, "metric")) ++
      m.properties.map { case (k, v) => (k, v, "property") }
    rows.toSeq.toDF("name", "value", "kind")
  }

  /** CarbonCli-style per-file summary (tools/cli/src/main/java/org/
    * apache/carbondata/tool/CarbonCli.java `summary`): one row per data
    * file with its segment, live rows, bytes, delta fan-out and leading
    * sort-column bounds — all from driver metadata, zero file IO. */
  def describeFiles: DataFrame = {
    import spark.implicits._
    val sortCol = meta.sortColumns.headOption
    status.visible.sortBy(_.id).flatMap { s =>
      s.files.map { rel =>
        val fm = s.fileMeta.get(rel)
        val cs = for { c <- sortCol; m <- fm; st <- m.stats.get(c) } yield st
        (s.id, rel, s.format,
          fm.map(_.rows).getOrElse(-1L),
          fm.map(_.bytes).getOrElse(-1L),
          s.deltas.get(rel).map(_.size).getOrElse(0),
          sortCol.orNull,
          cs.flatMap(_.min).orNull,
          cs.flatMap(_.max).orNull)
      }
    }.toDF("segment", "file", "format", "live_rows", "bytes",
      "delta_files", "sort_col", "sort_min", "sort_max")
  }

  /** SHOW SEGMENTS (CarbonShowSegmentsCommand.scala:35). */
  def showSegments: DataFrame = {
    import spark.implicits._
    segments.sortBy(-_.id)
      .map(s => (s.id, s.status, s.format, s.rowCount, s.sizeBytes,
        s.files.size.toLong, new java.sql.Timestamp(s.createdAt)))
      .toDF("id", "status", "format", "row_count", "size_bytes", "file_count", "created_at")
  }

  /** DELETE SEGMENT BY ID (CarbonDeleteLoadByIdCommand). */
  def deleteSegmentsById(ids: Seq[Long]): Unit = layout.commit { st =>
    val unknown = ids.toSet -- st.segments.map(_.id).toSet
    require(unknown.isEmpty, s"no such segments: ${unknown.mkString(",")}")
    st.copy(segments = st.segments.map(s =>
      if (ids.contains(s.id) && s.isVisible) s.retire(SegmentStatus.MarkedForDelete)
      else s))
  }

  /** DELETE SEGMENT BY DATE (CarbonDeleteLoadByLoadDateCommand). */
  def deleteSegmentsBefore(tsMillis: Long): Unit = layout.commit { st =>
    st.copy(segments = st.segments.map(s =>
      if (s.createdAt < tsMillis && s.isVisible) s.retire(SegmentStatus.MarkedForDelete)
      else s))
  }

  /** THE eligibility predicate for CLEAN FILES — shared by the real run
    * and the dry run so the report can never drift from what a clean
    * actually reclaims. */
  /** The two property-driven horizons, resolved ONCE per clean pass —
    * cleanDoomed runs per segment, and the memoized tablemeta read it
    * did per call still cost ~1.8 s under the table lock on a
    * 100k-segment table (r15 MetadataScaleSpec). */
  private def cleanHorizons(): (Long, Long) = {
    val props = meta.properties
    (props.get("stale_inprogress_timeout_ms").map(_.toLong)
       .getOrElse(24L * 3600 * 1000),
     props.get("clean_files_retention_ms").map(_.toLong).getOrElse(0L))
  }

  private def cleanDoomed(s: SegmentMeta, now: Long,
      horizons: (Long, Long)): Boolean = {
    val (staleMs, retainMs0) = horizons
    // Retention window (r15, found by the multi-writer mix): a reader
    // that resolved its snapshot just before a segment's retirement can
    // still be scanning its files — physical reclaim inside that window
    // is the vacuum-vs-reader race every snapshot engine guards with
    // retention (tombstoned FILES already had the 1h grace; whole dead
    // segments did not). Default 0 keeps CLEAN FILES immediate (the
    // historical behavior, right for single-writer maintenance windows);
    // concurrent deployments set clean_files_retention_ms above their
    // max query runtime. retiredAt=0 (legacy entries) reclaims at once.
    val retainMs = retainMs0
    def pastRetention = retainMs <= 0 || now - s.retiredAt > retainMs
    ((s.status == SegmentStatus.MarkedForDelete ||
      s.status == SegmentStatus.Compacted) && pastRetention) ||
      (s.status == SegmentStatus.InProgress && now - s.createdAt > staleMs)
  }

  /** Stale `.tmp-` dirs from crashed writes, old enough to reclaim. */
  private def staleTmpDirs(now: Long): Seq[org.apache.hadoop.fs.Path] = {
    val fs = layout.fs
    if (!fs.exists(layout.segmentsDir)) Nil
    else fs.listStatus(layout.segmentsDir)
      .filter(st0 => st0.isDirectory && st0.getPath.getName.startsWith(".tmp-"))
      .filter(st0 => now - st0.getModificationTime > 3600 * 1000)
      .map(_.getPath).toSeq
  }

  /** CLEAN FILES dry run (reference clean-files.md "DRY RUN OPTION"):
    * report the segments the next [[cleanFiles]] would reclaim —
    * (id, status, sizeBytes) — plus stale tmp dirs (id -1, "StaleTmp")
    * WITHOUT touching disk or the commit log. Shares [[cleanDoomed]]
    * with the real run. Read-only: safe to run any time. */
  def cleanFilesDryRun(): Seq[(Long, String, Long)] = {
    val now = System.currentTimeMillis()
    val horizons = cleanHorizons()
    layout.readStatus().segments
      .filter(cleanDoomed(_, now, horizons))
      .map(s => (s.id, s.status.toString, s.sizeBytes)) ++
      staleTmpDirs(now).map(p =>
        (-1L, "StaleTmp", layout.fs.getContentSummary(p).getLength))
  }

  /** CLEAN FILES: physically remove non-visible segments and stale tmp
    * dirs, then drop them from the commit log (CarbonCleanFilesCommand).
    * IN_PROGRESS records are only reclaimed after
    * `stale_inprogress_timeout_ms` (default 24 h — a TB-scale load can
    * legitimately run for hours; the writer's own publish commit fails
    * loudly if its record was reclaimed underneath it). */
  def cleanFiles(): Seq[Long] = {
    val horizons = cleanHorizons()
    val fs = layout.fs

    // ---- Phase A: locked DECISION commit (metadata-only, ms) --------
    // The table lock must never be held across O(#segments) physical
    // filesystem work (advisor r15: a multi-minute clean on object
    // storage outlasting the stale horizon hands the lock to a second
    // writer): everything physical happens UNLOCKED between two
    // ms-scale metadata commits, made safe by (a) terminal statuses
    // never resurrecting, (b) the retention gate already covering the
    // reader race, and (c) every delete being idempotent on retry.
    // Stale IN_PROGRESS reservations are the one exception handled
    // inside the lock — dropping the record first would let the
    // still-running load publish files we're deleting.
    var deadTerminal = Seq.empty[SegmentMeta]
    var deadStaleIds = Seq.empty[Long]
    var tombstones = Map.empty[(Long, Long), Seq[String]]
    // history rides commitWithHistory (r17, VERDICT r16 #1): the ledger
    // append is fenced and ordered AFTER the status publish succeeds —
    // a paused holder whose publish aborts on the fence appends nothing
    layout.commitWithHistory { st =>
      val now = System.currentTimeMillis()
      val (dead, live) = st.segments.partition(cleanDoomed(_, now, horizons))
      val (stale, terminal) = dead.partition(_.status == SegmentStatus.InProgress)
      deadTerminal = terminal
      deadStaleIds = stale.map(_.id)
      tombstones = live.collect {
        case s if s.removedFiles.nonEmpty && s.externalPath.isEmpty =>
          (s.id, s.createdAt) -> s.removedFiles
      }.toMap
      stale.filter(_.externalPath.isEmpty)
        .foreach(s => fs.delete(layout.segmentDir(s.id), true))
      // history ledger: GC'd entries remain visible to SHOW HISTORY
      // SEGMENTS (append-only, outside the hot log)
      if (stale.isEmpty) (st, Nil) // value-equal → publish skipped
      else (st.copy(segments =
        st.segments.filterNot(s => deadStaleIds.contains(s.id))), stale)
    }
    // scheduling hook (not a crash point — a kill here is a kill after
    // a plain commit, covered by clean.midSweep's recovery contract):
    // lets a spec interleave a RESTORE between the decision and the
    // sweeps, the widest real window (phase B walks object storage)
    Failpoints.hit("clean.decided", path)

    // ---- Phase B: UNLOCKED physical sweeps --------------------------
    val now = System.currentTimeMillis()
    // terminal dead segments: delete-then-drop is safe (terminal never
    // resurrects; a crash here leaves the entries for the next clean to
    // re-delete idempotently — the same recovery contract the crash
    // fuzz asserts at clean.midSweep). IDENTITY-VERIFIED PER ENTRY
    // (r18, advisor r17 — r17's one-shot phase snapshot left a RESTORE
    // committing mid-sweep exposed for the REST of the sweep, minutes
    // on object storage): the fresh snapshot is re-validated
    // immediately before EACH unlink. readStatus is stat-validated and
    // identity-stable (one getFileStatus RPC per entry while nothing
    // commits; a re-parse only after a real commit), so the per-entry
    // key map below rebuilds only when the manifest actually moved —
    // the sweep stays O(dead) stats + O(dead) unlinks, never
    // O(dead × table) scans. The residual window is ONE entry's
    // stat-to-unlink instants; a restore landing inside it is caught
    // LOUDLY by phase C's resurrection-conflict check (belt to the
    // persisted id high-water mark's braces: even if an id WERE
    // re-minted, the fresh entry's createdAt differs and the delete is
    // skipped).
    var snapB = layout.readStatus()
    var snapByKey: Map[(Long, Long), SegmentMeta] =
      snapB.segments.map(s => (s.id, s.createdAt) -> s).toMap
    def freshEntry(id: Long, cAt: Long): Option[SegmentMeta] = {
      val cur = layout.readStatus()
      if (!(cur eq snapB)) {
        snapB = cur
        snapByKey = cur.segments.map(s => (s.id, s.createdAt) -> s).toMap
      }
      snapByKey.get((id, cAt))
    }
    val deletedDirs = scala.collection.mutable.Set.empty[(Long, Long)]
    deadTerminal.filter(_.externalPath.isEmpty).foreach { s =>
      if (freshEntry(s.id, s.createdAt).exists(_.status == s.status)) {
        // scheduling hook: the ONE residual window (entry re-verified,
        // unlink pending) — the race spec drives a RESTORE into it and
        // asserts phase C's conflict check turns it into a loud abort
        Failpoints.hit("clean.preUnlink", path)
        fs.delete(layout.segmentDir(s.id), true)
        deletedDirs += ((s.id, s.createdAt))
      }
    }
    // stale tmp dirs from crashed writes (same detector as the dry run)
    staleTmpDirs(now).foreach(p => fs.delete(p, true))
    // metadata-only DROP PARTITION leaves the dropped files on disk
    // (tombstoned) for in-flight readers; reclaim them here — retired
    // merge-on-read delta files ride the same tombstone list.
    // fold-debris sweep candidates, decided PRE-clean: a crashed fold
    // leaves its deltas in place, a committed one leaves tombstones —
    // both visible in the phase-A snapshot, before the tombstone reset
    // in phase C. All sweeps below are 1-hour-grace-protected, which is
    // what makes them safe OUTSIDE the lock: anything a concurrent
    // writer is staging right now is fresh and untouchable.
    // identity key includes STATUS (r17): a RESTORE between the phases
    // resurrects the exact same (id, createdAt) entry with its status
    // flipped back to SUCCESS — phase B/C must treat that as a
    // DIFFERENT entry and leave it alone, else the clean drops a live
    // restored segment from the log (committed data loss)
    val deadKeys = deadTerminal.map(s => (s.id, s.createdAt, s.status)).toSet
    val live = layout.readStatus().segments
      .filterNot(s => deadKeys((s.id, s.createdAt, s.status)) ||
        cleanDoomed(s, now, horizons))
    val foldSweepIds = live
      .filter(s => s.deltas.nonEmpty || s.removedFiles.nonEmpty)
      .map(_.id).toSet
    // Segments whose fold debris was FOUND but SPARED by the 1-hour
    // grace below: their tombstone reset is deferred this run, so the
    // segment re-qualifies for this sweep on the next CLEAN FILES.
    // Without the deferral, a clean inside the grace window clears
    // the tombstones (the only qualification left once a successful
    // re-fold removed the deltas) while sparing the fresh orphan —
    // and no later clean ever looks at the segment again, leaking
    // the orphan permanently (advisor r14).
    val sparedFoldDebris = scala.collection.mutable.Set.empty[Long]
    // stray delta files: written but never committed (crashed or
    // lost-race MoR delete) — unreferenced by tablestatus, reclaim
    // after the same staleness grace as tmp dirs. Runs over the
    // PRE-clean segments so the fold sweep can inform the tombstone
    // reset decision below.
    live.filter(_.externalPath.isEmpty).foreach { s =>
      val segDir = layout.segmentDir(s.id)
      val dDir = new org.apache.hadoop.fs.Path(
        segDir, graft.engine.format.Deltas.Dir)
      if (fs.exists(dDir)) {
        val referenced = s.deltas.values.flatten
          .map(r => fs.makeQualified(
            new org.apache.hadoop.fs.Path(segDir, r)).toString)
          .toSet
        fs.listStatus(dDir)
          .filter(f => !referenced(fs.makeQualified(f.getPath).toString))
          .filter(f => System.currentTimeMillis() - f.getModificationTime > 3600 * 1000)
          .foreach(f => fs.delete(f.getPath, false))
      }
      // crashed tier-2 folds: `.fold-tmp-` dirs live INSIDE segment
      // dirs (the `.tmp-` sweep above only scans the segments root),
      // and a crash between the rename and the commit leaves an
      // orphan `-fold-` parquet no list references — both reclaim
      // after the same grace (a racing fold within the grace is never
      // touched; one stalled PAST it loses its commit to foldOne's own
      // exists-check at publish time). Bounded to segments that can
      // actually hold fold debris (foldSweepIds, decided pre-clean) —
      // a 100k-segment table must not pay a full tree walk for this.
      if (foldSweepIds(s.id) && fs.exists(segDir)) {
        fs.listStatus(segDir)
          .filter(f => f.isDirectory && f.getPath.getName.startsWith(".fold-tmp-"))
          .foreach { f =>
            if (System.currentTimeMillis() - f.getModificationTime > 3600 * 1000)
              fs.delete(f.getPath, true)
            else sparedFoldDebris += s.id
          }
        val livePaths = (s.files ++ s.removedFiles)
          .map(r => fs.makeQualified(new org.apache.hadoop.fs.Path(segDir, r)).toString)
          .toSet
        val it = fs.listFiles(segDir, true)
        while (it.hasNext) {
          val f = it.next()
          val name = f.getPath.getName
          if (name.contains("-fold-") && name.endsWith(".parquet") &&
              !livePaths(fs.makeQualified(f.getPath).toString)) {
            if (System.currentTimeMillis() - f.getModificationTime > 3600 * 1000)
              fs.delete(f.getPath, false)
            else sparedFoldDebris += s.id
          }
        }
      }
    }
    // tombstoned-file deletes: physical here, the metadata reset in
    // phase C subtracts EXACTLY this set — tombstones a concurrent
    // writer adds between the phases survive untouched. RE-VERIFIED
    // PER FILE (r18, advisor r17): a RESTORE interleaving after the
    // phase-A decision can resurrect a tombstoned file as LIVE data —
    // the entry's tombstone set is re-validated (same stat-cached
    // freshEntry as the terminal sweep) immediately before EACH
    // unlink, not once per phase, so a restore committing mid-sweep
    // flips the remaining files' check within one unlink. The residual
    // single-file stat-to-unlink window is caught loudly by phase C's
    // resurrection-conflict check below.
    val deletedTombstones: Map[Long, Set[String]] = tombstones.collect {
      case ((id, cAt), rels) if !sparedFoldDebris(id) =>
        // tombstone SET memoized per entry INSTANCE (identity-stable
        // while nothing commits) — a mass DROP PARTITION entry must
        // not pay O(tombstones²) contains scans
        var cachedEntry: SegmentMeta = null
        var cachedSet: Set[String] = Set.empty
        val doomed = rels.filter { f =>
          val e = freshEntry(id, cAt).orNull
          if (e ne cachedEntry) {
            cachedEntry = e
            cachedSet = if (e == null) Set.empty else e.removedFiles.toSet
          }
          val still = cachedSet(f)
          if (still) {
            Failpoints.hit("clean.preUnlink", path) // same residual window
            fs.delete(new org.apache.hadoop.fs.Path(layout.segmentDir(id), f), false)
          }
          still
        }
        id -> doomed.toSet
    }.filter(_._2.nonEmpty)
    // stale metadata tmp files from crashed commits: writeJsonAtomic
    // stages `.tablestatus.json.tmp-*` / `.tablemeta.json.tmp-*` in
    // _meta before its atomic rename — a kill in that window leaves
    // the tmp behind forever (no other sweep looks at _meta). Same
    // 1-hour grace; a racing commit's in-flight tmp is never touched.
    try {
      val metaDirPath = new org.apache.hadoop.fs.Path(layout.tablePath, "_meta")
      fs.listStatus(metaDirPath)
        .filter(f => f.isFile && f.getPath.getName.startsWith(".") &&
          // crashed-commit tmp files AND a reclaimer's orphan claim
          // file (crash between rename(lock, claim) and delete(claim)
          // — advisor r15: nothing else ever removes it)
          (f.getPath.getName.contains(".tmp-") ||
            f.getPath.getName.startsWith(".lock.reclaim-")))
        .filter(f => now - f.getModificationTime > 3600 * 1000)
        .foreach(f => fs.delete(f.getPath, false))
    } catch { case scala.util.control.NonFatal(_) => }
    // commit-log GC, one horizon for every table: the newest checkpoint
    // at or below version − graft.timetravel.retain and every log file
    // newer than it stay, so statusAt replays at least the last
    // `retain` versions. The manifest's ckptV and prevCkptV and the
    // deltas past them stay too: a reader that read the manifest just
    // before a rollover flip still assembles from them. Older files
    // (v-<n>.json snapshots older releases wrote included), names with a
    // version BEYOND the manifest (crashed-commit orphans; their retry
    // overwrites them in place) and crashed staging files go, after the
    // same 1-hour grace every other sweep uses.
    try {
      if (fs.exists(layout.logDir)) {
        val snap = layout.readStatus()
        val files = fs.listStatus(layout.logDir)
        val horizonCkpt = files.map(_.getPath.getName).collect {
          case graft.engine.format.TableLayout.LogName("ckpt", v)
            if v.toLong <= snap.version -
              graft.engine.format.TableLayout.timetravelRetainVersions => v.toLong
        }.maxOption
        val floor = horizonCkpt.fold(-1L)(h =>
          (h +: Seq(snap.ckptV, snap.prevCkptV).filter(_ >= 0)).min)
        val Versioned = """[a-z]+-(\d+)\.jsonl?""".r
        files
          .filter(f => now - f.getModificationTime > 3600 * 1000)
          .filter { f =>
            f.getPath.getName match {
              case Versioned(v) => v.toLong < floor || v.toLong > snap.version
              case name => name.contains(".tmp-") // crashed log writes
            }
          }
          .foreach { f =>
            // re-stat immediately before the delete (advisor r16): the
            // candidate was chosen from a LISTING snapshot, but a live
            // commit can rename a fresh file into the same versioned
            // path in the window — deleting by bare path would then
            // remove a LIVE log file and break cold assembly until the
            // next checkpoint. An unchanged mtime proves it is still
            // the hour-old orphan the listing saw.
            try {
              if (fs.getFileStatus(f.getPath).getModificationTime ==
                  f.getModificationTime)
                fs.delete(f.getPath, false)
            } catch { case _: java.io.FileNotFoundException => }
          }
      }
    } catch { case scala.util.control.NonFatal(_) => }
    Failpoints.hit("clean.midSweep", path)

    // ---- Phase C: locked RESULT commit (metadata-only, ms) ----------
    // Drop the reclaimed terminal entries — matched on (id, createdAt),
    // never bare id, so a stale phase-A decision can only ever remove
    // the exact entries it decided on (advisor r16) — and subtract
    // exactly the tombstones phase B deleted (never a blanket reset — a
    // concurrent writer may have added new tombstones between the
    // phases). The history append is fenced + post-publish.
    layout.commitWithHistory { st =>
      // RESURRECTION-CONFLICT detection (r18, advisor r17): the
      // per-entry re-verify above leaves exactly one irreducible
      // window — a RESTORE publishing between an entry's final stat
      // and its unlink. If that race fired, the locked view now shows
      // a VISIBLE segment whose dir (or whose no-longer-tombstoned
      // file) this sweep just physically deleted: a committed table
      // referencing missing data. That must never be silent — abort
      // the clean's result commit LOUDLY (the decision entries stay
      // for the next clean; the operator restores from an older
      // version or re-loads, and sets clean_files_retention_ms above
      // the restore horizon to keep the race structurally closed).
      val dirConflicts = st.segments.filter(s =>
        s.isVisible && deletedDirs((s.id, s.createdAt)))
      val tombConflicts = st.segments.filter { s =>
        s.isVisible && tombstones.contains((s.id, s.createdAt)) &&
          deletedTombstones.get(s.id).exists(rels => s.files.exists(rels))
      }
      if (dirConflicts.nonEmpty || tombConflicts.nonEmpty)
        throw new IllegalStateException(
          "CLEAN FILES lost a race with a concurrent RESTORE in the final " +
            "pre-unlink window: physically reclaimed data is now referenced " +
            "by live segment(s) " +
            (dirConflicts ++ tombConflicts).map(_.id).distinct.sorted.mkString(",") +
            s" of $path — restore again from an older version or re-load the " +
            "affected segments, and set clean_files_retention_ms above the " +
            "restore horizon to close the race structurally")
      val (gone, kept) = st.segments.partition(s =>
        deadKeys((s.id, s.createdAt, s.status)))
      val cleaned = kept.map { s =>
        deletedTombstones.get(s.id) match {
          case Some(rels) if s.removedFiles.exists(rels) =>
            s.copy(removedFiles = s.removedFiles.filterNot(rels))
          case _ => s
        }
      }
      // commit() skips the publish when nothing actually changed
      (st.copy(segments = cleaned), gone)
    }
    val removed = deadStaleIds ++ deadTerminal.map(_.id)
    // Index GC rides the same command (r13): rows/codes for the
    // segments just physically reclaimed can never serve again, so
    // every registered index drops them and shrinks its ledger —
    // otherwise a years-old table's indexes bloat with dead rows and
    // file-grain lookups degrade to segment grain via the RAW-count
    // over-cap check. Outside the base commit on purpose: each index
    // is its own table with its own atomic log, and a failed vacuum
    // leaves stale-but-harmless rows (visibility-filtered at lookup),
    // reclaimed by the next CLEAN FILES.
    if (removed.nonEmpty) {
      val dead = removed.toSet
      val m = meta
      m.properties.foreach { case (k, p) =>
        try {
          if (k.startsWith("si.") || k.startsWith("textindex."))
            graft.engine.index.Si.vacuumIndexTable(GraftTable.at(spark, p), dead)
          else if (k.startsWith("vector."))
            graft.engine.index.VectorIndex.vacuum(GraftTable.at(spark, p), dead)
        } catch { case scala.util.control.NonFatal(e) =>
          logWarning(s"index vacuum failed for $k at $p: ${e.getMessage}")
        }
      }
    }
    removed
  }

  /** ALTER TABLE COMPACT 'MINOR'|'MAJOR'|'CUSTOM' (segment ids).
    * Sorted rewrite of the victim segments into one new segment +
    * atomic swap (CarbonAlterTableCompactionCommand.scala:58).
    * MINOR: merge when ≥ `minorThreshold` small visible segments;
    * MAJOR: merge all visible segments below `majorSizeBytes`. */
  def compact(
      compactionType: String,
      customIds: Seq[Long] = Nil,
      minorThreshold: Int = 4,
      majorSizeBytes: Long = 1024L * 1024 * 1024,
      minorSizeBytes: Long = 512L * 1024 * 1024): Option[Long] = {
    // never compact an open STREAMING segment: the stream may still be
    // appending files/batches to it (the reference excludes streaming
    // segments until handoff). MINOR/MAJOR skip them silently; CUSTOM
    // ids naming an ineligible segment are an explicit error.
    val allVisible = status.visible
    val visible = allVisible.filter(s =>
      s.format == "parquet" && s.status == SegmentStatus.Success)
    val victims = compactionType.toUpperCase match {
      case "MINOR" =>
        // only SMALL segments merge: without the size cap, auto-compact
        // re-rewrites the previously-compacted big segment on every
        // threshold trip — O(table) write amplification per insert
        val small = visible.filter(_.sizeBytes < minorSizeBytes).sortBy(_.id)
        if (small.size >= minorThreshold) small else Nil
      case "MAJOR" => visible.filter(_.sizeBytes < majorSizeBytes).sortBy(_.id)
      case "CUSTOM" =>
        require(customIds.nonEmpty, "CUSTOM compaction needs segment ids")
        val eligible = visible.map(_.id).toSet
        val bad = customIds.filterNot(eligible.contains)
        require(bad.isEmpty, {
          val why = bad.map { id =>
            allVisible.find(_.id == id) match {
              case Some(s) if s.status == SegmentStatus.Streaming =>
                s"$id(streaming — FINISH STREAMING first)"
              case Some(s) if s.format != "parquet" => s"$id(${s.format})"
              case Some(_) => s"$id(not compactable)"
              case None => s"$id(not visible)"
            }
          }
          s"CUSTOM compaction: ineligible segment(s) ${why.mkString(", ")}"
        })
        visible.filter(s => customIds.contains(s.id)).sortBy(_.id)
      case other => throw new IllegalArgumentException(s"compaction type: $other")
    }
    if (victims.size < 2) None
    else {
      // merge-on-read deltas fold into the compacted copy: read masked,
      // write clean — the compacted segment carries no deltas
      val df = LiveRows.read(this, victims.map(s => s -> layout.segmentFilePaths(s)))
      var id = -1L
      layout.commit { st =>
        id = st.nextSegmentId
        st.copy(segments = st.segments :+ SegmentMeta(
          id, SegmentStatus.InProgress, "parquet", Nil, -1L, 0L, Map.empty,
          meta.sortColumns, System.currentTimeMillis()))
      }
      val seg = SegmentWriter.write(layout, meta, df, id)
      Failpoints.hit("compact.outputWritten", path)
      val victimIds = victims.map(_.id).toSet
      // optimistic publish: if a concurrent mutation retired any victim
      // between selection and commit, publishing the compacted copy would
      // resurrect its pre-mutation rows — abort instead (the compaction
      // can simply be retried).
      try layout.commit { st =>
        val vis = st.segments.filter(_.isVisible).map(_.id).toSet
        val lost = victimIds -- vis
        if (lost.nonEmpty) throw new ConcurrentMutationException(
          s"segments ${lost.mkString(",")} were retired during compaction")
        // fingerprint, not just visibility: a concurrent file-grain
        // rewrite or merge-on-read delta inside a victim would be
        // resurrected (or lost) by publishing the compacted pre-image
        victims.foreach { sel =>
          val cur = st.segments.find(_.id == sel.id).get
          if (cur.files != sel.files || cur.rowCount != sel.rowCount ||
              cur.deltas != sel.deltas)
            throw new ConcurrentMutationException(
              s"segment ${sel.id} was mutated during compaction")
        }
        // rewrite provenance (r20): the merged segment serves EXACTLY
        // the victims' live rows (deltas folded in — validated just
        // above against concurrent mutation), so record the
        // dataChange=false edge the change-data feed composes through:
        // a CDF span crossing this compaction cancels it symbolically
        // instead of scanning the rewritten bytes to net zero.
        val merged = seg.copy(origin = "compact",
          rewriteOf = victims.map(v =>
            graft.engine.format.SegmentMeta.contentFp(layout.tablePath, v)))
        st.copy(segments = st.segments.map { s =>
          if (s.id == id) merged.copy(rewriteFp =
            graft.engine.format.SegmentMeta.contentFp(layout.tablePath, merged))
          else if (victimIds.contains(s.id)) s.retire(SegmentStatus.Compacted)
          else s
        })
      } catch {
        case e: ConcurrentMutationException =>
          layout.commit(st => st.copy(segments = st.segments.map(s =>
            if (s.id == id) s.retire(SegmentStatus.MarkedForDelete) else s)))
          logWarning(s"[graft] compaction aborted: ${e.getMessage}")
          return None
      }
      // post-publish maintenance, mirroring the load hook (reference SI
      // compaction listeners): fold the merged segment into registered
      // SI/text indexes (retired victims drop out via visibility), and
      // rebase MV watermarks — compaction rewrites rows UNCHANGED
      // (deltas folded in), so an MV that had folded exactly the
      // victims stays data-fresh and keeps serving.
      maintainIndexesFor(id)
      graft.engine.mv.Mv.rebaseAfterCompaction(spark, path,
        victims.map(s => s.id -> s.rowCount).toMap, id, seg.rowCount)
      Some(id)
    }
  }

  /** Post-publish index maintenance shared by load, compaction, and
    * streaming handoff (reference SILoadEventListener family): fold
    * one freshly-published segment into every registered SI and text
    * index incrementally. `index.autorefresh=false` opts the table out
    * (scans stay correct via the uncovered-segment fallback). */
  private[engine] def maintainIndexesFor(
      segId: Long, m: TableMeta = meta): Unit =
    if (m.properties.getOrElse("index.autorefresh", "true").toBoolean) {
      m.properties.keys.filter(_.startsWith("si.")).foreach(k =>
        graft.engine.index.Si.repair(this, k.stripPrefix("si."), Some(Seq(segId))))
      m.properties.keys.filter(_.startsWith("textindex.")).foreach(k =>
        graft.engine.index.TextIndex.repair(this,
          k.stripPrefix("textindex."), Some(Seq(segId))))
      m.properties.keys.filter(_.startsWith("vector.")).foreach(k =>
        graft.engine.index.VectorIndex.repair(this,
          k.stripPrefix("vector."), Some(Seq(segId))))
    }

  /** HORIZONTAL compaction (reference: configuration-parameters.md:120):
    * when a data file accrues more delete-delta files than
    * `horizontal_compaction_threshold` (default 1), its deltas merge
    * into ONE file per data file — bounding the per-task delta reads a
    * scan pays. Pure metadata + tiny-file work on the driver: positions
    * were already applied to live counts, so the merge changes no
    * counts. Returns #files whose deltas were merged. */
  def horizontalCompact(): Int = {
    val thr = meta.properties.get("horizontal_compaction_threshold")
      .map(_.toInt).getOrElse(1)
    val targets = status.visible.filter(_.externalPath.isEmpty).flatMap(s =>
      s.deltas.collect { case (rel, dRels) if dRels.size > thr => (s.id, rel, dRels) })
    var merged = 0
    targets.foreach { case (id, rel, oldRels) =>
      val dir = layout.segmentDir(id)
      val positions = graft.engine.format.Deltas.positionsOf(layout.fs, dir, oldRels)
      val newRel = graft.engine.format.Deltas.newRelPath(rel)
      graft.engine.format.Deltas.write(layout.fs,
        new org.apache.hadoop.fs.Path(dir, newRel), positions.iterator)
      try {
        layout.commit { st =>
          st.copy(segments = st.segments.map { s =>
            if (s.id != id) s
            else if (!s.isVisible || s.deltas.getOrElse(rel, Nil) != oldRels)
              throw new ConcurrentMutationException(
                s"deltas of $rel (segment $id) changed during horizontal compaction")
            else {
              // rewrite provenance (r20): the merged delta masks the
              // SAME positions, so the new state is row-equal to the
              // prior one — a dataChange=false edge for the CDF
              val next = s.copy(
                deltas = s.deltas.updated(rel, Seq(newRel)),
                removedFiles = s.removedFiles ++ oldRels,
                rewriteOf = Seq(
                  graft.engine.format.SegmentMeta.contentFp(layout.tablePath, s)))
              next.copy(rewriteFp =
                graft.engine.format.SegmentMeta.contentFp(layout.tablePath, next))
            }
          })
        }
        merged += 1
      } catch {
        case e: ConcurrentMutationException =>
          try layout.fs.delete(new org.apache.hadoop.fs.Path(dir, newRel), false)
          catch { case scala.util.control.NonFatal(_) => }
          logWarning(s"[graft] horizontal compaction skipped $rel: ${e.getMessage}")
      }
    }
    merged
  }

  /** Tier 2 of horizontal compaction — FOLD the MoR debt clean: every
    * data file whose outstanding deleted fraction has reached
    * `minFraction` is rewritten WITHOUT its deleted rows (one bounded
    * per-file job, order-preserving) and its deltas retired. Tier 1
    * (delta-FILE merge, [[horizontalCompact]]) bounds how many delta
    * files a task loads; this bounds the penalty tier 1 can't touch:
    * Spark requires columnar uniformity across a scan, so ONE
    * outstanding delta anywhere forces the WHOLE scan row-based with a
    * per-row position mask (DeltaRead's documented cost). At 100 TB the
    * policy is debt-proportional — a file pays a rewrite exactly when a
    * third of it is dead, and the table returns to vectorized batches
    * once no deltas remain. Each fold is a ONE-task job (one file in,
    * one file out), so candidates run through a bounded driver-side
    * pool instead of serializing k tiny jobs — on a 100 TB table a
    * maintenance pass folds `parallelism` files concurrently while the
    * per-file commits still serialize on the locked tablestatus RMW
    * (each validates only its own file, so interleaving is safe).
    * Returns #files folded. */
  def foldDeltas(minFraction: Double = 0.3, parallelism: Int = 4): Int = {
    val candidates: Seq[(SegmentMeta, String, Seq[String])] = for {
      s <- status.visible.filter(_.externalPath.isEmpty)
      (rel, dRels) <- s.deltas.toSeq
      live <- s.fileMeta.get(rel).map(_.rows).toSeq
      // deleted-count bound from delta file SIZES (8-byte header +
      // 8 bytes/position) — the driver never reads positions; a
      // duplicate position across deltas can only overcount, which at
      // worst folds a file one mutation early
      deleted = dRels.map { dr =>
        val st = layout.fs.getFileStatus(
          new org.apache.hadoop.fs.Path(layout.segmentDir(s.id), dr))
        math.max(0L, (st.getLen - 8) / 8)
      }.sum
      if dRels.nonEmpty && deleted > 0 &&
        deleted >= minFraction * (live + deleted)
    } yield (s, rel, dRels)
    if (candidates.isEmpty) return 0
    val folded = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = new java.util.concurrent.ForkJoinPool(
      math.max(1, math.min(parallelism, candidates.size)))
    try {
      val pc = candidates.par
      pc.tasksupport = new scala.collection.parallel.ForkJoinTaskSupport(pool)
      pc.foreach { case (s, rel, dRels) =>
        if (foldOne(s, rel, dRels)) folded.incrementAndGet()
      }
    } finally pool.shutdown()
    folded.get
  }

  /** One file's fold: rewrite without its deleted rows, commit the swap.
    * Returns false when a concurrent mutation won the file (skip —
    * the next maintenance pass re-evaluates). */
  private def foldOne(s: SegmentMeta, rel: String, dRels: Seq[String]): Boolean = {
    val dir = layout.segmentDir(s.id)
    val abs = new org.apache.hadoop.fs.Path(dir, rel)
          // one file in, one file out, original row order kept (the
          // segment's sort claim survives the fold)
          val df = LiveRows.read(this, Seq(s -> Seq(abs.toString)))
            .withColumn("__fold_ri", col("_metadata.row_index"))
            .coalesce(1).sortWithinPartitions("__fold_ri")
            .drop("__fold_ri")
          val tmp = new org.apache.hadoop.fs.Path(dir,
            s".fold-tmp-${java.util.UUID.randomUUID().toString.take(8)}")
          val res: Boolean = try {
            SegmentWriter.writeFiles(df, meta, tmp)
            Failpoints.hit("fold.tmpWritten", path)
            val part = layout.fs.listStatus(tmp)
              .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
            require(part.length == 1, s"fold of $rel produced ${part.length} files")
            val dot = rel.lastIndexOf('.')
            val newRel = s"${rel.substring(0, dot)}-fold-" +
              s"${java.util.UUID.randomUUID().toString.take(8)}.parquet"
            val dst = new org.apache.hadoop.fs.Path(dir, newRel)
            if (!layout.fs.rename(part.head.getPath, dst))
              throw new java.io.IOException(s"failed to rename fold output to $dst")
            Failpoints.hit("fold.renamed", path)
            val bytes = layout.fs.getFileStatus(dst).getLen
            val fm = graft.engine.format.FileFooters.read(
              spark.sessionState.newHadoopConf(), dst, bytes,
              schema.fields.map(f => f.name -> f.dataType).toMap)
            // An unreadable footer on the just-written output means the
            // fold itself is suspect; committing would also leave newRel
            // with NO fileMeta entry, breaking the invariant every
            // managed rel has one (retireFiles and stats recompute rely
            // on it). Treat it as a failed fold: drop the output, skip.
            if (fm.isEmpty) {
              try layout.fs.delete(dst, false)
              catch { case scala.util.control.NonFatal(_) => }
              logWarning(s"[graft] delta fold skipped $rel: unreadable " +
                s"footer on fold output $newRel")
              false
            } else try {
              layout.commit { st =>
                st.copy(segments = st.segments.map { seg =>
                  if (seg.id != s.id) seg
                  else if (!seg.isVisible || !seg.files.contains(rel) ||
                      seg.deltas.getOrElse(rel, Nil) != dRels)
                    throw new ConcurrentMutationException(
                      s"$rel (segment ${s.id}) changed during delta fold")
                  // a fold stalled past CLEAN FILES' staleness grace can
                  // have its renamed-but-uncommitted output reclaimed as
                  // an orphan; committing blindly would then reference a
                  // deleted file AND tombstone the original. The check
                  // runs under the same table lock as the sweep, so
                  // there is no re-delete window.
                  else if (!layout.fs.exists(dst))
                    throw new ConcurrentMutationException(
                      s"fold output $newRel vanished before commit " +
                        "(reclaimed as a stale orphan?)")
                  else {
                    val seg2 = seg.copy(
                      files = seg.files.map(f => if (f == rel) newRel else f),
                      fileMeta = seg.fileMeta - rel ++
                        fm.map(newRel -> _),
                      deltas = seg.deltas - rel,
                      sizeBytes = seg.sizeBytes -
                        seg.fileMeta.get(rel).map(_.bytes).getOrElse(0L) + bytes,
                      removedFiles = seg.removedFiles ++ (rel +: dRels))
                    // the write-time segment stats describe rows the fold
                    // just removed; once the last delta retires they'd
                    // answer metadata MIN/MAX with deleted values —
                    // recompute from the surviving files' footer stats
                    // (exact for sort columns, dropped otherwise)
                    val seg3 = seg2.copy(
                      stats = graft.engine.format.Partitions
                        .recomputeStats(seg2.files, seg2.fileMeta, seg2.stats, schema),
                      // rewrite provenance (r20): a fold rewrites the
                      // file WITHOUT its delta-dead rows — served rows
                      // unchanged, a dataChange=false edge for the CDF
                      rewriteOf = Seq(graft.engine.format.SegmentMeta
                        .contentFp(layout.tablePath, seg)))
                    seg3.copy(rewriteFp = graft.engine.format.SegmentMeta
                      .contentFp(layout.tablePath, seg3))
                  }
                })
              }
              true
            } catch {
              case e: ConcurrentMutationException =>
                try layout.fs.delete(dst, false)
                catch { case scala.util.control.NonFatal(_) => }
                logWarning(s"[graft] delta fold skipped $rel: ${e.getMessage}")
                false
            }
          } finally {
            try layout.fs.delete(tmp, true)
            catch { case scala.util.control.NonFatal(_) => }
          }
          res
  }

  /** Auto horizontal compaction after each MoR mutation, like the
    * reference's post-DELETE/UPDATE trigger; disable with
    * `horizontal_compaction_enable=false`. Tier-2 folding joins the
    * auto trigger only when the table opts in by setting
    * `horizontal_rewrite_fraction` — the default keeps mutations
    * delta-cheap (the MoR contract). */
  private[engine] def maybeHorizontalCompact(): Unit =
    if (!meta.properties.get("horizontal_compaction_enable").exists(_.equalsIgnoreCase("false"))) {
      horizontalCompact()
      // defensive parse: the mutation already committed when this hook
      // runs, so a malformed property must degrade to a warning, not
      // fail every subsequent mutation until someone fixes the table
      meta.properties.get("horizontal_rewrite_fraction")
        .foreach(f => f.toDoubleOption match {
          case Some(v) if v > 0 && v <= 1 => foldDeltas(v)
          case _ => logWarning(
            s"[graft] ignoring invalid horizontal_rewrite_fraction='$f' " +
              "(want a number in (0, 1])")
        })
    }

  /** ALTER TABLE ADD SEGMENT: register an external folder of data files
    * as a segment without moving them (CarbonAddLoadCommand.scala:66;
    * mixed formats per MixedFormatHandler.scala:56). */
  def addSegment(externalPath: String, format: String = "parquet"): Long = {
    require(Seq("parquet", "orc", "csv", "json").contains(format),
      s"unsupported segment format: $format")
    val fs = new org.apache.hadoop.fs.Path(externalPath)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val files = fs.listStatus(new org.apache.hadoop.fs.Path(externalPath))
      .filter(_.isFile).filterNot(_.getPath.getName.startsWith("_"))
      .filterNot(_.getPath.getName.startsWith("."))
    require(files.nonEmpty, s"no data files at $externalPath")
    // parquet adoption is metadata-only: row counts AND per-file stats
    // come from the footers (driver-local reads, zero Spark jobs — the
    // count() job this replaces scanned the whole location), so file-
    // grain pruning works on adopted segments too. An unreadable footer
    // falls back to a counting scan with no fileMeta (old behavior).
    val conf = spark.sessionState.newHadoopConf()
    val wantCols = schema.fields.map(f => f.name -> f.dataType).toMap
    val footers: Option[Map[String, graft.engine.format.FileMeta]] =
      if (format != "parquet") None
      else {
        val metas = files.toSeq.map(f =>
          f.getPath.getName -> graft.engine.format.FileFooters.read(
            conf, f.getPath, f.getLen, wantCols))
        if (metas.forall(_._2.isDefined))
          Some(metas.map { case (n, m) => n -> m.get }.toMap)
        else None
      }
    val rowCount = footers match {
      case Some(fm) => fm.values.map(_.rows).sum
      case None if format == "parquet" => spark.read.parquet(externalPath).count()
      case None => -1L
    }
    var id = -1L
    layout.commit { st =>
      id = st.nextSegmentId
      st.copy(segments = st.segments :+ SegmentMeta(
        id, SegmentStatus.Success, format,
        files.map(_.getPath.getName).toSeq.sorted, rowCount,
        files.map(_.getLen).sum, Map.empty, Nil,
        System.currentTimeMillis(), externalPath = Some(externalPath),
        fileMeta = footers.getOrElse(Map.empty)))
    }
    id
  }
}

object GraftTable {
  /** `df`'s columns aligned to `schema` by name: cast to the table's
    * types, in the table's order, every NOT NULL field null-checked (see
    * [[fit]]). Every write of new rows goes through it. */
  private[engine] def align(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fields.map(f => fit(f, col(f.name))).toSeq: _*)

  /** `c` cast to `f`'s type and named after it. When `f` is NOT NULL, a
    * null fails the job that evaluates it (Spark's v2 insert check,
    * `AssertNotNull`), so the write fails before anything publishes. */
  private[engine] def fit(f: StructField, c: Column): Column = {
    val cast = c.cast(f.dataType)
    (if (f.nullable) cast
     else org.apache.spark.sql.graft.Shims.column(
       org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull(
         org.apache.spark.sql.graft.Shims.expression(cast), Seq(f.name)))).as(f.name)
  }

  /** CREATE TABLE (CarbonCreateTableCommand.scala:38). `partitionColumns`
    * declares hive-style partitioning (CarbonAlterTableAddHivePartition
    * Command.scala:52): writes split into per-value dirs inside each
    * segment — see [[graft.engine.format.Partitions]]. */
  def create(
      spark: SparkSession,
      path: String,
      schema: StructType,
      sortColumns: Seq[String] = Nil,
      sortScope: String = "GLOBAL_SORT",
      properties: Map[String, String] = Map.empty,
      partitionColumns: Seq[String] = Nil): GraftTable = {
    // SPATIAL_INDEX tblproperties: append the generated geoId column to
    // the schema and, when the user gave no sort, sort on it — sorted
    // morton ids are what make bbox BETWEENs prune (reference
    // spatial-index-guide.md:34-56 recommends SORT_COLUMNS=<index>)
    val spatial = graft.geo.SpatialIndex.of(properties)
    val schema0 = schema
    val schema1 = spatial.map(graft.geo.SpatialIndex.addToSchema(schema0, _))
      .getOrElse(schema0)
    val sortColumns1 =
      if (sortColumns.isEmpty) spatial.map(sp => Seq(sp.name)).getOrElse(Nil)
      else sortColumns
    create0(spark, path, schema1, sortColumns1, sortScope, properties,
      partitionColumns)
  }

  private def create0(
      spark: SparkSession,
      path: String,
      schema: StructType,
      sortColumns: Seq[String],
      sortScope: String,
      properties: Map[String, String],
      partitionColumns: Seq[String]): GraftTable = {
    val bad = sortColumns.filterNot(c => schema.fieldNames.contains(c))
    require(bad.isEmpty, s"sort columns not in schema: ${bad.mkString(",")}")
    require(Seq("NO_SORT", "LOCAL_SORT", "GLOBAL_SORT", "ZORDER_SORT").contains(sortScope),
      s"bad sort scope $sortScope")
    val badP = partitionColumns.filterNot(c => schema.fieldNames.contains(c))
    require(badP.isEmpty, s"partition columns not in schema: ${badP.mkString(",")}")
    val badT = partitionColumns.filter(c =>
      !graft.engine.format.Partitions.supported(schema(schema.fieldIndex(c)).dataType))
    require(badT.isEmpty,
      s"unsupported partition column type(s): ${badT.map(c =>
        s"$c:${schema(schema.fieldIndex(c)).dataType.simpleString}").mkString(",")} " +
        "(allowed: string, integral, date, boolean)")
    // bucket_columns/bucket_count (hash bucketing — Buckets.scala)
    graft.engine.format.Buckets.specOf(
      TableMeta(schema.json, sortColumns, sortScope, properties, partitionColumns))
      .foreach { bs =>
        val badB = bs.columns.filterNot(schema.fieldNames.contains)
        require(badB.isEmpty, s"bucket columns not in schema: ${badB.mkString(",")}")
      }
    val t = new GraftTable(spark, path)
    require(!t.layout.exists, s"table already exists at $path")
    t.layout.writeTableMeta(TableMeta(schema.json, sortColumns, sortScope, properties,
      partitionColumns))
    t
  }

  def at(spark: SparkSession, path: String): GraftTable = {
    val t = new GraftTable(spark, path)
    require(t.layout.exists, s"no carbonish table at $path")
    t
  }

  /** CTAS (CarbonCreateTableAsSelectCommand.scala:38). */
  def createAsSelect(
      spark: SparkSession,
      path: String,
      df: DataFrame,
      sortColumns: Seq[String] = Nil,
      sortScope: String = "GLOBAL_SORT",
      properties: Map[String, String] = Map.empty,
      partitionColumns: Seq[String] = Nil): GraftTable = {
    val t = create(spark, path, df.schema, sortColumns, sortScope, properties,
      partitionColumns)
    t.insert(df)
    t
  }

  def drop(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }
}
