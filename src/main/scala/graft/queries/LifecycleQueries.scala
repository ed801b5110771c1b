package graft.queries

import graft.engine.GraftTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Q._

/** Table-LIFECYCLE correctness rows: each fixture drives a whole engine
  * lifecycle — LOAD DATA CSV, mixed-format ADD SEGMENT, compaction +
  * CLEAN FILES, schema evolution, streaming ingest + handoff — and the
  * query reads the end state; the DuckDB oracle reads the ORIGINAL
  * parquet, so a green row proves the lifecycle is value-preserving
  * end to end (the reference's own differential methodology, SURVEY
  * §5). These flip components that previously had only ScalaTest
  * evidence (VERDICT r12 rows 7/8/9/11/35/37/38) into oracle-certified
  * ones. Fixtures build once per (sf, name) and are reused across
  * Verify/Bench JVMs — every lifecycle step is idempotent-after-build
  * and the cache check validates the END state, so a half-built
  * fixture rebuilds from scratch. */
object LifecycleQueries {

  private val lock = new Object
  private def path(sfDir: String, name: String): String =
    s"${Fixtures.root}/${new java.io.File(sfDir).getName}/$name"
  private def layoutOf(s: SparkSession, p: String) =
    new graft.engine.format.TableLayout(p, s.sessionState.newHadoopConf())
  /** Versions a fixture recorded in its mark file (comma-separated). */
  private def marked(mark: java.io.File): Seq[Long] =
    new String(java.nio.file.Files.readAllBytes(mark.toPath)).trim.split(",").map(_.toLong).toSeq
  /** Whether a kept fixture still serves its query: the table has
    * visible rows and every version its mark file records still
    * replays (a fixture whose versions aged out of the log is rebuilt). */
  private def servesAsOf(l: graft.engine.format.TableLayout, mark: java.io.File): Boolean =
    l.exists && mark.exists() && {
      try { marked(mark).foreach(l.statusAt); l.readStatus().visible.nonEmpty }
      catch { case scala.util.control.NonFatal(_) => false }
    }

  /** customer ingested via LOAD DATA CSV (header, FORCE bad-record
    * action — the reference default): exercises the CSV parse → sorted
    * write → footer stats → atomic commit path. */
  private def customerCsv(s: SparkSession, d: String): GraftTable = lock.synchronized {
    val p = path(d, "lc_load_csv")
    val l = layoutOf(s, p)
    if (l.exists && l.readStatus().visible.nonEmpty) GraftTable.at(s, p)
    else {
      if (l.exists) GraftTable.drop(s, p)
      val src = t(s, d, "customer")
      val csvDir = s"${p}_csv"
      src.coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(csvDir)
      val tbl = GraftTable.create(s, p, src.schema, Seq("c_custkey"))
      tbl.loadCsv(csvDir, badRecordsAction = "FORCE")
      tbl
    }
  }

  /** supplier spread over three SEGMENT FORMATS: a native parquet
    * insert, plus CSV and JSON segments adopted via ALTER TABLE ADD
    * SEGMENT — reads union one sub-scan per format (MixedScan). */
  private def supplierMixed(s: SparkSession, d: String): GraftTable = lock.synchronized {
    val p = path(d, "lc_mixed")
    val l = layoutOf(s, p)
    if (l.exists && l.readStatus().visible.size == 3) GraftTable.at(s, p)
    else {
      if (l.exists) GraftTable.drop(s, p)
      val src = t(s, d, "supplier")
      val tbl = GraftTable.createAsSelect(s, p,
        src.filter(col("s_suppkey") % 3 === 0), Seq("s_suppkey"))
      val csvDir = s"${p}_csv"
      src.filter(col("s_suppkey") % 3 === 1).coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(csvDir)
      tbl.addSegment(csvDir, "csv")
      val jsonDir = s"${p}_json"
      src.filter(col("s_suppkey") % 3 === 2).coalesce(1)
        .write.mode("overwrite").json(jsonDir)
      tbl.addSegment(jsonDir, "json")
      tbl
    }
  }

  /** orders loaded as four key-range segments, MAJOR-compacted into
    * one, retired inputs reclaimed by CLEAN FILES — the full
    * consolidation lifecycle must be value-preserving. */
  private def ordersCompacted(s: SparkSession, d: String): GraftTable = lock.synchronized {
    val p = path(d, "lc_compact")
    val l = layoutOf(s, p)
    if (l.exists && { val st = l.readStatus()
        st.visible.size == 1 && st.visible.head.id >= 4 }) GraftTable.at(s, p)
    else {
      if (l.exists) GraftTable.drop(s, p)
      val src = t(s, d, "orders")
      val n = src.agg(max("o_orderkey")).collect().head.getLong(0) + 1
      val tbl = GraftTable.create(s, p, src.schema, Seq("o_orderkey"))
      (0 until 4).foreach(i => tbl.insert(src.filter(
        col("o_orderkey") >= i * n / 4 && col("o_orderkey") < (i + 1) * n / 4)))
      tbl.compact("MAJOR")
      tbl.cleanFiles()
      tbl
    }
  }

  /** customer through schema evolution: ADD COLUMN (old segments read
    * null), a second insert carrying the new column, then RENAME
    * COLUMN (single consolidating rewrite). The oracle doubles
    * customer with a NULL/derived bonus split. */
  private def customerEvolved(s: SparkSession, d: String): GraftTable = lock.synchronized {
    val p = path(d, "lc_evolve")
    val l = layoutOf(s, p)
    val ok = l.exists && l.readStatus().visible.nonEmpty && {
      val f = DataType.fromJson(l.readTableMeta().schemaJson)
        .asInstanceOf[StructType].fieldNames
      f.contains("balance") && f.contains("bonus")
    }
    if (ok) GraftTable.at(s, p)
    else {
      if (l.exists) GraftTable.drop(s, p)
      val src = t(s, d, "customer")
      val tbl = GraftTable.createAsSelect(s, p, src, Seq("c_custkey"))
      tbl.addColumns(Seq(StructField("bonus", LongType, nullable = true)))
      tbl.insert(src.withColumn("bonus", col("c_custkey") % 97))
      tbl.renameColumn("c_acctbal", "balance")
      tbl
    }
  }

  /** orders ingested through the STREAMING path: a file-source
    * readStream drained with Trigger.AvailableNow into the table's
    * open streaming segment, then ALTER TABLE FINISH STREAMING hands
    * the segment off to columnar. */
  private def ordersStreamed(s: SparkSession, d: String): GraftTable = lock.synchronized {
    val p = path(d, "lc_stream")
    val l = layoutOf(s, p)
    val ok = l.exists && { val st = l.readStatus()
      st.visible.nonEmpty &&
        !st.segments.exists(_.status == graft.engine.format.SegmentStatus.Streaming)
    }
    if (ok) GraftTable.at(s, p)
    else {
      if (l.exists) GraftTable.drop(s, p)
      val schema = StructType(Seq(
        StructField("o_orderkey", LongType),
        StructField("o_orderstatus", StringType),
        StructField("o_totalprice", DoubleType)))
      val tbl = GraftTable.create(s, p, schema)
      val stage = s"${p}_stage"
      t(s, d, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite").parquet(stage)
      val src = s.readStream.schema(schema).parquet(stage)
      val name = s"lc_stream_${System.nanoTime()}"
      val q = graft.engine.streaming.StreamManager.createStream(
        name, tbl, src,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        checkpoint = Some(s"${p}_ckpt"))
      // bounded wait: a wedged stream must fail THIS row, not hang the
      // whole Verify gate run
      require(q.awaitTermination(300000), "streaming ingest did not drain in 300s")
      graft.engine.streaming.StreamManager.finishStreaming(tbl)
      tbl
    }
  }

  /** orders (key subset) mutated by a CDC change stream: Debezium-style
    * JSON envelopes (`before`/`after`/`op`/`ts_ms`) staged as kafka-
    * wire-shaped binary frames, decoded by [[CdcStreamer
    * .decodeJsonEnvelope]], applied as per-batch merges — deletes for
    * key%10=3, doubled-price updates for %10=4, fresh inserts for
    * %10=5. The oracle replays the same change set relationally. */
  private def ordersCdc(s: SparkSession, d: String): GraftTable = lock.synchronized {
    val p = path(d, "lc_cdc")
    val l = layoutOf(s, p)
    val ok = l.exists && l.readStatus().visible.nonEmpty &&
      l.readTableMeta().properties.contains("lc_cdc_done")
    if (ok) GraftTable.at(s, p)
    else {
      if (l.exists) GraftTable.drop(s, p)
      val src = t(s, d, "orders").select(
        col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"))
      val tbl = GraftTable.createAsSelect(s, p, src, Seq("o_orderkey"))
      val maxk = src.agg(max("o_orderkey")).collect().head.getLong(0) + 1
      val rowT = tbl.schema
      def envelope(before: org.apache.spark.sql.Column,
          after: org.apache.spark.sql.Column, op: String) =
        to_json(struct(before.as("before"), after.as("after"),
          lit(op).as("op"), lit(1000L).as("ts_ms"))).cast("binary").as("value")
      val nullRow = lit(null).cast(rowT)
      val image = struct(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderpriority"))
      val m = col("o_orderkey") % 10
      val dels = src.filter(m === 3).select(envelope(image, nullRow, "d"))
      val upds = src.filter(m === 4).select(envelope(nullRow,
        struct(col("o_orderkey"), col("o_orderstatus"),
          (col("o_totalprice") * 2).as("o_totalprice"),
          lit("CDC-UPD").as("o_orderpriority")), "u"))
      val ins = src.filter(m === 5).select(envelope(nullRow,
        struct((col("o_orderkey") + maxk).as("o_orderkey"),
          lit("N").as("o_orderstatus"), col("o_totalprice"),
          col("o_orderpriority")), "c"))
      val stage = s"${p}_stage"
      dels.union(upds).union(ins).coalesce(1)
        .write.mode("overwrite").parquet(stage)
      val raw = s.readStream.schema(
        StructType(Seq(StructField("value", BinaryType)))).parquet(stage)
      val cfg = graft.engine.streaming.CdcConfig(
        "o_orderkey", orderColumn = Some("ts_ms"))
      val name = s"lc_cdc_${System.nanoTime()}"
      val q = graft.engine.streaming.CdcStreamer.start(
        name, tbl,
        graft.engine.streaming.CdcStreamer.decodeJsonEnvelope(raw, rowT, cfg),
        cfg,
        trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
        checkpoint = Some(s"${p}_ckpt"))
      // bounded for the same gate-survival reason as ordersStreamed
      require(q.awaitTermination(300000), "CDC stream did not drain in 300s")
      graft.engine.streaming.StreamManager.dropStream(name)
      tbl.setProperties(Map("lc_cdc_done" -> "1"))
      tbl
    }
  }

  /** supplier as a carbonish table round-tripped through the Arrow IPC
    * export (reference SDK ArrowCarbonReader): serialized batches back
    * to a DataFrame, then aggregated — a value-level proof of the
    * export surface, not just a schema check. */
  private def supplierArrow(s: SparkSession, d: String): DataFrame = {
    val tbl = lock.synchronized {
      val p = path(d, "lc_arrow")
      val l = layoutOf(s, p)
      if (l.exists && l.readStatus().visible.nonEmpty) GraftTable.at(s, p)
      else {
        if (l.exists) GraftTable.drop(s, p)
        GraftTable.createAsSelect(s, p, t(s, d, "supplier"), Seq("s_suppkey"))
      }
    }
    // export is a client/SDK surface: batches are driver-sized by
    // contract (the reference reader hands them to a local process)
    val batches = tbl.toArrowBatches.collect().iterator
    org.apache.spark.sql.graft.Shims.fromArrowBatches(
      s, batches, tbl.schema.json)
  }

  /** orders in three custkey-range segments for the runtime-filter
    * (DPP-style) row: the dim side's keys resolve only at execution
    * time, and the scan's SupportsRuntimeFiltering prunes fact
    * segments whose custkey stats cannot match. */
  private def ordersByCust(s: SparkSession, d: String): GraftTable = lock.synchronized {
    val p = path(d, "lc_cust3")
    val l = layoutOf(s, p)
    if (l.exists && l.readStatus().visible.size == 3) GraftTable.at(s, p)
    else {
      if (l.exists) GraftTable.drop(s, p)
      val src = t(s, d, "orders")
      val n = src.agg(max("o_custkey")).collect().head.getLong(0) + 1
      val tbl = GraftTable.create(s, p, src.schema, Seq("o_custkey", "o_orderkey"))
      (0 until 3).foreach(i => tbl.insert(src.filter(
        col("o_custkey") >= i * n / 3 && col("o_custkey") < (i + 1) * n / 3)))
      tbl
    }
  }

  /** orders in three date-range segments with the middle one removed
    * via DELETE SEGMENT — retirement is a metadata commit; the files
    * stay until CLEAN FILES but reads must never see the rows. */
  private def ordersSegDeleted(s: SparkSession, d: String): GraftTable = lock.synchronized {
    val p = path(d, "lc_segdel")
    val l = layoutOf(s, p)
    val ok = l.exists && { val st = l.readStatus()
      st.segments.size == 3 && st.visible.size == 2 }
    if (ok) GraftTable.at(s, p)
    else {
      if (l.exists) GraftTable.drop(s, p)
      val src = t(s, d, "orders")
      val tbl = GraftTable.create(s, p, src.schema, Seq("o_orderdate", "o_orderkey"))
      val c1 = lit("1995-01-01").cast("timestamp")
      val c2 = lit("1997-01-01").cast("timestamp")
      tbl.insert(src.filter(col("o_orderdate") < c1))
      tbl.insert(src.filter(col("o_orderdate") >= c1 && col("o_orderdate") < c2))
      tbl.insert(src.filter(col("o_orderdate") >= c2))
      tbl.deleteSegmentsById(Seq(1L))
      tbl
    }
  }

  /** orders with an SI on o_custkey (NON-sort column) taken through the
    * full index-maintenance lifecycle: segment loads after CREATE INDEX
    * (load-time fold-in), MAJOR compaction (merged segment folded in,
    * victims retired), CLEAN FILES (victim files reclaimed AND their
    * posting rows vacuumed from the SI table + coverage ledger — the
    * r13 index-GC path, IndexVacuumSpec's subject). The query serves
    * through Si.readWhereIn, so a green row proves the post-vacuum
    * index is complete (no live value lost through compact+vacuum) and
    * exact (no dead posting resurrects a reclaimed row). */
  private def ordersVacuumed(s: SparkSession, d: String): GraftTable = lock.synchronized {
    val p = path(d, "lc_vacuum")
    val l = layoutOf(s, p)
    // explicit done-marker set strictly LAST (the lc_cdc pattern): the
    // structural state alone (1 visible segment, SI registered) is
    // already true after compact but BEFORE cleanFiles, so a crash in
    // that window would otherwise cache a fixture whose vacuum — the
    // very thing this row certifies — never ran
    val ok = l.exists && {
      try l.readStatus().visible.nonEmpty &&
        l.readTableMeta().properties.contains("lc_vacuum_done")
      catch { case scala.util.control.NonFatal(_) => false }
    }
    if (ok) GraftTable.at(s, p)
    else {
      if (l.exists) GraftTable.drop(s, p)
      val src = t(s, d, "orders")
      val tbl = GraftTable.create(s, p, src.schema, Seq("o_orderdate", "o_orderkey"))
      val c1 = lit("1995-01-01").cast("timestamp")
      val c2 = lit("1997-01-01").cast("timestamp")
      tbl.insert(src.filter(col("o_orderdate") < c1))
      graft.engine.index.Si.create(tbl, "o_custkey", s"$p/_si")
      tbl.insert(src.filter(col("o_orderdate") >= c1 && col("o_orderdate") < c2))
      tbl.insert(src.filter(col("o_orderdate") >= c2))
      tbl.compact("MAJOR")
      tbl.cleanFiles()
      tbl.setProperties(Map("lc_vacuum_done" -> "1"))
      tbl
    }
  }

  /** orders + SI on o_custkey taken through the MUTATION candidate
    * ladder (r13 SI rung, SiMutationPruneSpec's subject): a CoW DELETE
    * and a MoR UPDATE whose point predicates sit on the indexed
    * non-sort column, so victim discovery prunes through the SI's
    * value → (file, row-group) postings instead of scanning every
    * stats-surviving footer. The CoW rewrite leaves the SI stale for
    * the rewritten files (read-side conservatism covers it), so a
    * green row also proves a stale SI can never hide rows from a
    * later full read. */
  private def ordersSiMutated(s: SparkSession, d: String): GraftTable = lock.synchronized {
    val p = path(d, "lc_simut")
    val l = layoutOf(s, p)
    val ok = l.exists && {
      try l.readStatus().visible.nonEmpty &&
        l.readTableMeta().properties.contains("lc_simut_done")
      catch { case scala.util.control.NonFatal(_) => false }
    }
    if (ok) GraftTable.at(s, p)
    else {
      if (l.exists) GraftTable.drop(s, p)
      val src = t(s, d, "orders")
      val tbl = GraftTable.create(s, p, src.schema, Seq("o_orderdate", "o_orderkey"))
      val c = lit("1996-01-01").cast("timestamp")
      tbl.insert(src.filter(col("o_orderdate") < c))
      tbl.insert(src.filter(col("o_orderdate") >= c))
      graft.engine.index.Si.create(tbl, "o_custkey", s"$p/_si")
      tbl.delete(col("o_custkey").isin(7L, 21L, 404L))
      tbl.updateMor(col("o_custkey") === 11L,
        Map("o_totalprice" -> (col("o_totalprice") * 2),
          "o_orderpriority" -> lit("SI-UPD")))
      tbl.setProperties(Map("lc_simut_done" -> "1"))
      tbl
    }
  }

  /** orders through a SORT-SPEC change mid-life (reference
    * CarbonAlterTableSetCommand, ALTER TABLE SET TBLPROPERTIES
    * ('SORT_COLUMNS'/'SORT_SCOPE')): first half loaded sorted by
    * o_orderkey, spec altered to o_custkey/LOCAL_SORT via the SQL
    * surface, second half loaded under the new spec (mixed-spec table —
    * ordering claims refuse, values must not care), then MAJOR
    * compaction rewrites everything under the new spec. */
  private def ordersResorted(s: SparkSession, d: String): GraftTable = lock.synchronized {
    val p = path(d, "lc_resort")
    val l = layoutOf(s, p)
    val ok = l.exists && {
      try { val st = l.readStatus()
        st.visible.size == 1 && st.visible.head.id >= 2 &&
          l.readTableMeta().sortColumns == Seq("o_custkey")
      } catch { case scala.util.control.NonFatal(_) => false }
    }
    if (ok) GraftTable.at(s, p)
    else {
      if (l.exists) GraftTable.drop(s, p)
      val src = t(s, d, "orders")
      val n = src.agg(max("o_orderkey")).collect().head.getLong(0) + 1
      val tbl = GraftTable.create(s, p, src.schema, Seq("o_orderkey"))
      tbl.insert(src.filter(col("o_orderkey") < n / 2))
      tbl.alterSortAndProperties(Seq("o_custkey"), Some("LOCAL_SORT"), Map.empty)
      tbl.insert(src.filter(col("o_orderkey") >= n / 2))
      tbl.compact("MAJOR")
      tbl
    }
  }

  /** orders Z-ORDERED on (o_custkey, o_totalprice) — SORT_SCOPE =
    * 'ZORDER_SORT' interleaves the two columns' bits so per-file footer
    * stats prune on EITHER dimension (see [[graft.engine.format
    * .ZOrderSort]]; a lexicographic sort clusters only its leading
    * column). The row filters on the SECOND dimension and must match
    * the relational oracle exactly — the layout rewrite is invisible
    * to values; ZOrderSpec asserts the pruning side. */
  private def ordersZordered(s: SparkSession, d: String): GraftTable = lock.synchronized {
    val p = path(d, "lc_zorder")
    val l = layoutOf(s, p)
    val ok = l.exists && {
      try l.readStatus().visible.nonEmpty &&
        l.readTableMeta().sortScope == "ZORDER_SORT"
      catch { case scala.util.control.NonFatal(_) => false }
    }
    if (ok) GraftTable.at(s, p)
    else {
      if (l.exists) GraftTable.drop(s, p)
      val src = t(s, d, "orders")
      val tbl = GraftTable.create(s, p, src.schema,
        sortColumns = Seq("o_custkey", "o_totalprice"),
        sortScope = "ZORDER_SORT",
        properties = Map("global_sort_partitions" -> "8"))
      tbl.insert(src)
      tbl
    }
  }

  /** TIME-TRAVEL lifecycle (r17, beyond the reference — Delta/Iceberg
    * `VERSION AS OF` over this engine's own commit log): orders loaded
    * whole, the as-of version captured, then a third of the rows
    * DELETED copy-on-write. The query reads the
    * PRE-DELETE version back out of the versioned log — the oracle is
    * the FULL orders table, so a green row proves the as-of read
    * resurrects the retired segments exactly (reading the current
    * state instead would hash-mismatch on every group). */
  private def ordersTimeTravel(s: SparkSession, d: String): (GraftTable, Long) = lock.synchronized {
    val p = path(d, "lc_timetravel")
    val vMark = new java.io.File(s"${p}_v1.txt")
    val l = layoutOf(s, p)
    if (servesAsOf(l, vMark)) (GraftTable.at(s, p), marked(vMark).head)
    else {
      if (l.exists) GraftTable.drop(s, p)
      val src = t(s, d, "orders")
      val tbl = GraftTable.create(s, p, src.schema, Seq("o_orderkey"))
      tbl.insert(src)
      val v1 = tbl.status.version
      // the current state diverges: CoW delete retires the loaded
      // segment and publishes a rewritten one
      graft.engine.Mutation.delete(tbl, col("o_orderkey") % 3 === 0)
      java.nio.file.Files.write(vMark.toPath, v1.toString.getBytes)
      (tbl, v1)
    }
  }

  /** SHALLOW CLONE AS OF lifecycle (r18, beyond the reference —
    * Delta's CLONE capability): orders loaded whole, a third
    * CoW-deleted (the mis-step), then the PRE-delete version
    * shallow-cloned aside — ONE metadata commit, zero data movement
    * (the clone's segments reference the source's
    * files in place as externals). The query reads the CLONE; the
    * oracle is the FULL orders table, so a green row proves the clone
    * pins the as-of version's files exactly while the live table stays
    * post-delete. */
  private def ordersClonedAsOf(s: SparkSession, d: String): GraftTable = lock.synchronized {
    val p = path(d, "lc_clone")
    val cp = s"${p}_c"
    val lc = layoutOf(s, cp)
    val ok = layoutOf(s, p).exists && lc.exists && {
      try lc.readStatus().visible.nonEmpty
      catch { case scala.util.control.NonFatal(_) => false }
    }
    if (ok) GraftTable.at(s, cp)
    else {
      if (layoutOf(s, p).exists) GraftTable.drop(s, p)
      if (lc.exists) GraftTable.drop(s, cp)
      val src = t(s, d, "orders")
      val tbl = GraftTable.create(s, p, src.schema, Seq("o_orderkey"))
      tbl.insert(src)
      val v1 = tbl.status.version
      graft.engine.Mutation.delete(tbl, col("o_orderkey") % 3 === 2)
      tbl.shallowCloneTo(cp, Some(v1))
    }
  }

  /** SHALLOW CLONE of a PARTITIONED + BUCKETED source (r19, VERDICT
    * r18 Next #3a): orders partitioned by o_orderstatus and
    * hash-bucketed by o_custkey, shallow-cloned whole. The query reads
    * the CLONE with a partition filter, so a green row proves
    * partition-dir RELATIVE paths (`__p_…/__bkt_…/file`) resolve
    * through `externalPath` and the partition-pruning ladder runs on
    * external segments unchanged. */
  private def ordersClonedPartitioned(s: SparkSession, d: String): GraftTable = lock.synchronized {
    val p = path(d, "lc_clonepart")
    val cp = s"${p}_c"
    val lc = layoutOf(s, cp)
    val ok = layoutOf(s, p).exists && lc.exists && {
      try lc.readStatus().visible.nonEmpty
      catch { case scala.util.control.NonFatal(_) => false }
    }
    if (ok) GraftTable.at(s, cp)
    else {
      if (layoutOf(s, p).exists) GraftTable.drop(s, p)
      if (lc.exists) GraftTable.drop(s, cp)
      val src = t(s, d, "orders")
      val tbl = GraftTable.create(s, p, src.schema, Seq("o_orderkey"),
        properties = Map("bucket_columns" -> "o_custkey", "bucket_count" -> "4"),
        partitionColumns = Seq("o_orderstatus"))
      tbl.insert(src)
      tbl.shallowCloneTo(cp)
    }
  }

  /** DEEP CLONE surviving a source vacuum (r19, VERDICT r18 Next #6):
    * orders, a third CoW-deleted (the mis-step), the
    * PRE-delete version DEEP-cloned via the SQL surface (full copy —
    * the clone owns every byte), then the SOURCE aged and CLEAN FILES
    * run so the pre-delete files a SHALLOW clone would still reference
    * are PHYSICALLY RECLAIMED. The query reads the clone; the oracle
    * is the FULL orders table — a green row proves the deep clone
    * outlives source reclamation (the documented shallow-clone
    * hazard's escape hatch). */
  private def ordersClonedDeep(s: SparkSession, d: String): GraftTable = lock.synchronized {
    val p = path(d, "lc_clonedeep")
    val cp = s"${p}_c"
    val mark = new java.io.File(s"${p}_cleaned")
    val lc = layoutOf(s, cp)
    val ok = layoutOf(s, p).exists && lc.exists && mark.exists() && {
      try lc.readStatus().visible.nonEmpty
      catch { case scala.util.control.NonFatal(_) => false }
    }
    if (ok) GraftTable.at(s, cp)
    else {
      if (layoutOf(s, p).exists) GraftTable.drop(s, p)
      if (lc.exists) GraftTable.drop(s, cp)
      if (mark.exists()) mark.delete()
      val src = t(s, d, "orders")
      val tbl = GraftTable.create(s, p, src.schema, Seq("o_orderkey"))
      tbl.insert(src)
      val v1 = tbl.status.version
      graft.engine.Mutation.delete(tbl, col("o_orderkey") % 3 === 2)
      tbl.deepCloneTo(cp, Some(v1))
      // vacuum the source: age every mtime past the sweep graces, then
      // CLEAN FILES — reclaims the pre-delete files a shallow clone
      // would still point at
      val old = java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 2 * 3600 * 1000)
      java.nio.file.Files.walk(java.nio.file.Paths.get(p)).forEach(q =>
        try java.nio.file.Files.setLastModifiedTime(q, old)
        catch { case scala.util.control.NonFatal(_) => () })
      tbl.cleanFiles()
      java.nio.file.Files.write(mark.toPath, "1".getBytes)
      GraftTable.at(s, cp)
    }
  }

  /** CHANGE DATA FEED (r19, beyond the reference — Delta's
    * table_changes without stored change files): orders loaded
    * whole (v1), a third CoW-deleted, then a
    * doubled-price batch of the mod-10==5 rows re-inserted (v3). The
    * query reads `readChanges(v1, v3)` — net multiset diff computed
    * from the commit log with the scan pruned to CHURNED segments —
    * grouped by change type; the oracle reconstructs the same feed
    * from the raw parquet (deletes = the mod-3 rows at original
    * values, inserts = the doubled batch), so a green row proves the
    * diff is exact row-level: survivors rewritten by the CoW cancel,
    * deleted rows surface once with pre-delete values, and the
    * inserted batch surfaces at its new values. */
  private def ordersChanged(s: SparkSession, d: String): (GraftTable, Long, Long) = lock.synchronized {
    val p = path(d, "lc_cdf")
    val mark = new java.io.File(s"${p}_v.txt")
    val l = layoutOf(s, p)
    if (servesAsOf(l, mark)) {
      val vs = marked(mark)
      (GraftTable.at(s, p), vs(0), vs(1))
    } else {
      if (l.exists) GraftTable.drop(s, p)
      if (mark.exists()) mark.delete()
      val src = t(s, d, "orders")
      val tbl = GraftTable.create(s, p, src.schema, Seq("o_orderkey"))
      tbl.insert(src)
      val v1 = tbl.status.version
      graft.engine.Mutation.delete(tbl, col("o_orderkey") % 3 === 2)
      tbl.insert(src.filter(col("o_orderkey") % 10 === 5)
        .withColumn("o_totalprice", col("o_totalprice") * 2))
      val v3 = tbl.status.version
      java.nio.file.Files.write(mark.toPath, s"$v1,$v3".getBytes)
      (tbl, v1, v3)
    }
  }

  /** MIXED-FORMAT TIME TRAVEL (r18, VERDICT r17 #7): supplier split
    * across a managed parquet segment plus ADD SEGMENT csv and json
    * foreigns (the [[supplierMixed]] shape), the as-of version
    * captured, then the CSV FOREIGN segment retired
    * (the mis-step). The query reads the pre-retire version — the
    * oracle is the FULL supplier table, so a green row proves the
    * as-of read resurrects a foreign-format segment through the same
    * mixed-format scan the live read uses (one sub-scan per segment
    * format), not just parquet. */
  private def supplierMixedTravel(s: SparkSession, d: String): (GraftTable, Long) = lock.synchronized {
    val p = path(d, "lc_ttmixed")
    val vMark = new java.io.File(s"${p}_v1.txt")
    val l = layoutOf(s, p)
    if (servesAsOf(l, vMark)) (GraftTable.at(s, p), marked(vMark).head)
    else {
      if (l.exists) GraftTable.drop(s, p)
      val src = t(s, d, "supplier")
      val tbl = GraftTable.createAsSelect(s, p,
        src.filter(col("s_suppkey") % 3 === 0), Seq("s_suppkey"))
      val csvDir = s"${p}_csv"
      src.filter(col("s_suppkey") % 3 === 1).coalesce(1)
        .write.mode("overwrite").option("header", "true").csv(csvDir)
      tbl.addSegment(csvDir, "csv")
      val jsonDir = s"${p}_json"
      src.filter(col("s_suppkey") % 3 === 2).coalesce(1)
        .write.mode("overwrite").json(jsonDir)
      tbl.addSegment(jsonDir, "json")
      val v1 = tbl.status.version
      val csvSeg = tbl.status.visible.find(_.format == "csv").get.id
      tbl.deleteSegmentsById(Seq(csvSeg))
      java.nio.file.Files.write(vMark.toPath, v1.toString.getBytes)
      (tbl, v1)
    }
  }

  /** RESTORE lifecycle (r17): load orders whole, CoW-delete a third
    * (the "mis-step"), then RESTORE TO VERSION AS OF the pre-delete
    * commit — a metadata-only rollback. The query reads the CURRENT
    * table after the restore; the oracle is the FULL orders table, so
    * a green row proves the rollback resurrected the data exactly. */
  private def ordersRestored(s: SparkSession, d: String): GraftTable = lock.synchronized {
    val p = path(d, "lc_restore")
    val mark = new java.io.File(s"${p}_restored")
    val l = layoutOf(s, p)
    if (l.exists && mark.exists()) GraftTable.at(s, p)
    else {
      if (l.exists) GraftTable.drop(s, p)
      val src = t(s, d, "orders")
      val tbl = GraftTable.create(s, p, src.schema, Seq("o_orderkey"))
      tbl.insert(src)
      val vGood = tbl.status.version
      graft.engine.Mutation.delete(tbl, col("o_orderkey") % 3 === 1)
      tbl.restoreTo(vGood)
      java.nio.file.Files.write(mark.toPath, vGood.toString.getBytes)
      tbl
    }
  }

  /** COMPLEX-TYPE lifecycle (reference complexType suite over
    * `Array.csv`/`Struct.csv` fixtures + COMPLEX_DELIMITER_LEVEL_1/2
    * contract, docs/dml-of-carbondata.md:161-184): customer expanded
    * into delimited ARRAY / STRUCT / MAP cells — each derived
    * RELATIONALLY from scalar columns, so DuckDB can reconstruct the
    * oracle from the base table — written as CSV, then ingested via
    * `loadCsv` (FAIL mode: any parse drift aborts loudly) into a
    * carbonish table whose schema carries the real nested types. The
    * query reads nested struct fields, array aggregation, and a map
    * lookup back out of the STORED table. */
  private def customerComplex(s: SparkSession, d: String): GraftTable = lock.synchronized {
    val p = path(d, "lc_complex")
    val l = layoutOf(s, p)
    if (l.exists && l.readStatus().visible.nonEmpty) GraftTable.at(s, p)
    else {
      if (l.exists) GraftTable.drop(s, p)
      val src = t(s, d, "customer")
      val d1 = "\u0001"; val d2 = "\u0002"
      val csvDf = src.select(
        col("c_custkey").as("key"),
        // ARRAY<BIGINT>: [key%7, key%11, key%13]
        concat_ws(d1,
          (col("c_custkey") % 7).cast("string"),
          (col("c_custkey") % 11).cast("string"),
          (col("c_custkey") % 13).cast("string")).as("nums"),
        // STRUCT<seg: STRING, bal: DOUBLE> (double→string→double is an
        // exact round trip: Spark prints the shortest exact form)
        concat_ws(d1, col("c_mktsegment"),
          col("c_acctbal").cast("string")).as("info"),
        // MAP<STRING,BIGINT>: n→nationkey, m→key%5
        concat(
          lit("n"), lit(d2), col("c_nationkey").cast("string"), lit(d1),
          lit("m"), lit(d2), (col("c_custkey") % 5).cast("string")).as("tags"))
      val csvDir = s"${p}_csv"
      csvDf.coalesce(1).write.mode("overwrite")
        .option("header", "true").csv(csvDir)
      val schema = StructType(Seq(
        StructField("key", LongType),
        StructField("nums", ArrayType(LongType)),
        StructField("info", StructType(Seq(
          StructField("seg", StringType),
          StructField("bal", DoubleType)))),
        StructField("tags", MapType(StringType, LongType))))
      val tbl = GraftTable.create(s, p, schema, Seq("key"))
      tbl.loadCsv(csvDir)
      tbl
    }
  }

  /** orders under MoR with BOTH horizontal-compaction tiers: two
    * scattered deletes stack two delete-delta files on every data file;
    * tier 1 merges each stack into one delta file; tier 2
    * ([[GraftTable.foldDeltas]]) rewrites the 20%-dead files clean and
    * retires their deltas — post-fold the table carries ZERO deltas, so
    * the scan leaves the row-based delta path and returns to columnar
    * batches (asserted in the row). */
  private def ordersFolded(s: SparkSession, d: String): GraftTable = lock.synchronized {
    val p = path(d, "lc_fold")
    val l = layoutOf(s, p)
    val ok = l.exists && { val st = l.readStatus()
        st.visible.nonEmpty && st.visible.forall(_.deltas.isEmpty) } &&
      l.readTableMeta().properties.contains("lc_fold_done")
    if (ok) GraftTable.at(s, p)
    else {
      if (l.exists) GraftTable.drop(s, p)
      val src = t(s, d, "orders")
      val tbl = GraftTable.createAsSelect(s, p, src, Seq("o_orderkey"),
        properties = Map("iud_mode" -> "mor",
          "horizontal_compaction_threshold" -> "100"))
      tbl.delete(col("o_orderkey") % 10 === 3L)
      tbl.delete(col("o_orderkey") % 10 === 7L)
      require(tbl.status.visible.exists(_.deltas.values.exists(_.size == 2)),
        "fixture expects stacked deltas before tier 1")
      tbl.setProperties(Map("horizontal_compaction_threshold" -> "1"))
      require(tbl.horizontalCompact() > 0, "tier-1 delta merge did not run")
      require(tbl.foldDeltas(minFraction = 0.15) > 0, "tier-2 fold did not run")
      require(tbl.status.visible.forall(_.deltas.isEmpty),
        "fold left deltas outstanding")
      tbl.setProperties(Map("lc_fold_done" -> "true"))
      tbl
    }
  }

  def queries: Map[String, QFn] = Map(
    "q_horizontal_compact" -> ((s, d) => {
      val tbl = ordersFolded(s, d)
      // columnar assert on an exchange-free probe (AQE wraps aggregate
      // plans and hides the scan from a plan walk): same scan shape the
      // aggregate below consumes
      val probe = tbl.read.filter(col("o_totalprice") >= 0.0)
        .select("o_orderstatus", "o_totalprice")
      val scans = probe.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b }
      require(scans.nonEmpty && scans.forall(_.supportsColumnar),
        "post-fold scan must run in columnar batches (row-based delta penalty gone)")
      tbl.read.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))
    }),
    "q_load_complex" -> ((s, d) =>
      customerComplex(s, d).read.select(
          col("info.seg").as("seg"),
          col("info.bal").as("bal"),
          expr("aggregate(nums, 0L, (a, x) -> a + x)").as("nums_sum"),
          size(col("nums")).as("nums_n"),
          element_at(col("tags"), "n").as("tag_n"))
        .groupBy("seg")
        .agg(count(lit(1)).as("cnt"),
          sum("nums_sum").cast("long").as("sum_nums"),
          sum("nums_n").cast("long").as("sum_nums_n"),
          sum("tag_n").cast("long").as("sum_tag_n"),
          dsum(col("bal")).as("sum_bal"))),
    "q_load_csv" -> ((s, d) =>
      customerCsv(s, d).read.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"), dsum(col("c_acctbal")).as("sum_bal"))),
    "q_mixed_format" -> ((s, d) =>
      supplierMixed(s, d).read.groupBy("s_nationkey")
        .agg(count(lit(1)).as("cnt"), dsum(col("s_acctbal")).as("sum_bal"))),
    "q_compaction" -> ((s, d) =>
      ordersCompacted(s, d).read.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))),
    "q_schema_evolution" -> ((s, d) =>
      customerEvolved(s, d).read.groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"), dsum(col("balance")).as("sum_bal"),
          sum(col("bonus")).cast("long").as("sum_bonus"))),
    "q_stream_sink" -> ((s, d) =>
      ordersStreamed(s, d).read.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))),
    "q_cdc_apply" -> ((s, d) =>
      ordersCdc(s, d).read.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))),
    "q_arrow_export" -> ((s, d) =>
      supplierArrow(s, d).groupBy("s_nationkey")
        .agg(count(lit(1)).as("cnt"),
          sum(col("s_suppkey")).cast("long").as("sum_key"))),
    "q_runtime_prune" -> ((s, d) => {
      val fact = ordersByCust(s, d)
      val cust = t(s, d, "customer")
      val n = cust.agg(max("c_custkey")).collect().head.getLong(0) + 1
      // dim keys resolve at run time and live only in segment 0's
      // custkey range — SupportsRuntimeFiltering prunes segments 1/2
      val dim = cust.filter(
        col("c_custkey") < lit(n / 3) && col("c_mktsegment") === "BUILDING")
      fact.read.join(broadcast(dim),
          col("o_custkey") === col("c_custkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))
    }),
    "q_segment_delete" -> ((s, d) =>
      ordersSegDeleted(s, d).read.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"))),
    "q_index_vacuum" -> ((s, d) =>
      graft.engine.index.Si.readWhereIn(ordersVacuumed(s, d), "o_custkey",
          Seq(7L, 21L, 404L))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))),
    "q_si_mutation" -> ((s, d) =>
      ordersSiMutated(s, d).read.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"),
          sum(when(col("o_orderpriority") === "SI-UPD", 1L).otherwise(0L))
            .cast("long").as("n_upd"))),
    "q_alter_sort" -> ((s, d) =>
      ordersResorted(s, d).read.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"),
          sum(col("o_custkey")).cast("long").as("sum_cust"))),
    "q_zorder_prune" -> ((s, d) =>
      ordersZordered(s, d).read
        .filter(col("o_totalprice") >= 200000.0 && col("o_totalprice") < 260000.0)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"),
          sum(col("o_custkey")).cast("long").as("sum_cust"))),
    "q_timetravel" -> ((s, d) => {
      val (tbl, v1) = ordersTimeTravel(s, d)
      tbl.readAsOf(v1).groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"),
          sum(col("o_custkey")).cast("long").as("sum_cust"))
    }),
    "q_restore" -> ((s, d) =>
      ordersRestored(s, d).read.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"),
          sum(col("o_custkey")).cast("long").as("sum_cust"))),
    "q_timetravel_mixed" -> ((s, d) => {
      val (tbl, v1) = supplierMixedTravel(s, d)
      tbl.readAsOf(v1).groupBy("s_nationkey")
        .agg(count(lit(1)).as("cnt"), dsum(col("s_acctbal")).as("sum_bal"),
          sum(col("s_suppkey")).cast("long").as("sum_supp"))
    }),
    "q_clone_asof" -> ((s, d) =>
      ordersClonedAsOf(s, d).read.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"),
          sum(col("o_custkey")).cast("long").as("sum_cust"))),
    "q_clone_partitioned" -> ((s, d) =>
      ordersClonedPartitioned(s, d).read
        .filter(col("o_orderstatus") =!= "O")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"),
          sum(col("o_custkey")).cast("long").as("sum_cust"))),
    "q_clone_deep" -> ((s, d) =>
      ordersClonedDeep(s, d).read.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"),
          sum(col("o_custkey")).cast("long").as("sum_cust"))),
    "q_table_changes" -> ((s, d) => {
      val (tbl, v1, v3) = ordersChanged(s, d)
      tbl.readChanges(v1, v3)
        .withColumnRenamed("_change_type", "change_type")
        .groupBy("change_type", "o_orderstatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"),
          sum(col("o_custkey")).cast("long").as("sum_cust"))
    }),
    // STREAMING change feed (r20): the same fixture consumed through
    // the version-keyed micro-batch source — whether the engine slices
    // the two commits into one batch or two, the union equals the
    // batch feed (the delete touches only pre-start rows and the
    // re-insert batch arrives after it), so the q_table_changes oracle
    // certifies the streaming path row-for-row
    "q_changes_stream" -> ((s, d) => {
      val (tbl, v1, _) = ordersChanged(s, d)
      val feed = graft.engine.streaming.GraftStreaming
        .readChangesStream(s, tbl.path, Some(v1))
      val qn = s"q_changes_stream_${System.nanoTime()}"
      val q = feed.writeStream.format("memory").queryName(qn)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
      s.table(qn)
        .withColumnRenamed("_change_type", "change_type")
        .groupBy("change_type", "o_orderstatus")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("sum_price"),
          sum(col("o_custkey")).cast("long").as("sum_cust"))
    })
  )

  def oracle: Map[String, String] = Map(
    "q_horizontal_compact" ->
      s"""SELECT o_orderstatus, count(*) AS cnt,
          ${oDsum("o_totalprice")} AS sum_price
          FROM orders WHERE o_orderkey % 10 NOT IN (3, 7)
          GROUP BY o_orderstatus""",
    "q_load_complex" ->
      s"""SELECT c_mktsegment AS seg, count(*) AS cnt,
          CAST(sum(c_custkey % 7 + c_custkey % 11 + c_custkey % 13) AS BIGINT)
            AS sum_nums,
          CAST(count(*) * 3 AS BIGINT) AS sum_nums_n,
          CAST(sum(c_nationkey) AS BIGINT) AS sum_tag_n,
          ${oDsum("c_acctbal")} AS sum_bal
          FROM customer GROUP BY c_mktsegment""",
    "q_load_csv" ->
      s"""SELECT c_mktsegment, count(*) AS cnt,
          ${oDsum("c_acctbal")} AS sum_bal
          FROM customer GROUP BY c_mktsegment""",
    "q_mixed_format" ->
      s"""SELECT s_nationkey, count(*) AS cnt,
          ${oDsum("s_acctbal")} AS sum_bal
          FROM supplier GROUP BY s_nationkey""",
    "q_compaction" ->
      s"""SELECT o_orderstatus, count(*) AS cnt,
          ${oDsum("o_totalprice")} AS sum_price
          FROM orders GROUP BY o_orderstatus""",
    "q_schema_evolution" ->
      s"""SELECT c_mktsegment, count(*) AS cnt,
          ${oDsum("balance")} AS sum_bal,
          CAST(sum(bonus) AS BIGINT) AS sum_bonus
          FROM (
            SELECT c_mktsegment, c_acctbal AS balance, NULL AS bonus FROM customer
            UNION ALL
            SELECT c_mktsegment, c_acctbal AS balance, c_custkey % 97 AS bonus
            FROM customer)
          GROUP BY c_mktsegment""",
    "q_stream_sink" ->
      s"""SELECT o_orderstatus, count(*) AS cnt,
          ${oDsum("o_totalprice")} AS sum_price
          FROM orders GROUP BY o_orderstatus""",
    "q_cdc_apply" ->
      s"""SELECT o_orderstatus, count(*) AS cnt,
          ${oDsum("o_totalprice")} AS sum_price
          FROM (
            SELECT o_orderstatus, o_totalprice FROM orders
            WHERE o_orderkey % 10 NOT IN (3, 4)
            UNION ALL
            SELECT o_orderstatus, o_totalprice * 2 FROM orders
            WHERE o_orderkey % 10 = 4
            UNION ALL
            SELECT 'N' AS o_orderstatus, o_totalprice FROM orders
            WHERE o_orderkey % 10 = 5)
          GROUP BY o_orderstatus""",
    "q_arrow_export" ->
      s"""SELECT s_nationkey, count(*) AS cnt,
          CAST(sum(s_suppkey) AS BIGINT) AS sum_key
          FROM supplier GROUP BY s_nationkey""",
    "q_runtime_prune" ->
      s"""SELECT o_orderstatus, count(*) AS cnt,
          ${oDsum("o_totalprice")} AS sum_price
          FROM orders JOIN customer ON o_custkey = c_custkey
          WHERE c_custkey < (SELECT (max(c_custkey) + 1) // 3 FROM customer)
            AND c_mktsegment = 'BUILDING'
          GROUP BY o_orderstatus""",
    "q_segment_delete" ->
      s"""SELECT o_orderstatus, count(*) AS cnt,
          ${oDsum("o_totalprice")} AS sum_price
          FROM orders
          WHERE o_orderdate < TIMESTAMP '1995-01-01'
             OR o_orderdate >= TIMESTAMP '1997-01-01'
          GROUP BY o_orderstatus""",
    "q_index_vacuum" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         FROM orders WHERE o_custkey IN (7, 21, 404)""",
    // the doubled price is stored as an IEEE double (*2 is exact), so
    // the decimal view of the stored value equals the decimal view of
    // o_totalprice*2 computed here
    "q_si_mutation" ->
      s"""SELECT o_orderstatus, count(*) AS cnt,
          CAST(sum(CASE WHEN o_custkey = 11
            THEN ${oDec("o_totalprice * 2")}
            ELSE ${oDec("o_totalprice")} END) AS DOUBLE) AS sum_price,
          CAST(sum(CASE WHEN o_custkey = 11 THEN 1 ELSE 0 END) AS BIGINT) AS n_upd
          FROM orders WHERE o_custkey NOT IN (7, 21, 404)
          GROUP BY o_orderstatus""",
    "q_alter_sort" ->
      s"""SELECT o_orderstatus, count(*) AS cnt,
          ${oDsum("o_totalprice")} AS sum_price,
          CAST(sum(o_custkey) AS BIGINT) AS sum_cust
          FROM orders GROUP BY o_orderstatus""",
    "q_zorder_prune" ->
      s"""SELECT o_orderstatus, count(*) AS cnt,
          ${oDsum("o_totalprice")} AS sum_price,
          CAST(sum(o_custkey) AS BIGINT) AS sum_cust
          FROM orders
          WHERE o_totalprice >= 200000.0 AND o_totalprice < 260000.0
          GROUP BY o_orderstatus""",
    // the as-of read serves the PRE-delete version: the oracle is the
    // FULL table — a reader leaking the current (post-delete) state
    // mismatches every group
    "q_timetravel" ->
      s"""SELECT o_orderstatus, count(*) AS cnt,
          ${oDsum("o_totalprice")} AS sum_price,
          CAST(sum(o_custkey) AS BIGINT) AS sum_cust
          FROM orders GROUP BY o_orderstatus""",
    // RESTORE rolled the CoW delete back — the CURRENT read equals the
    // full table again
    "q_restore" ->
      s"""SELECT o_orderstatus, count(*) AS cnt,
          ${oDsum("o_totalprice")} AS sum_price,
          CAST(sum(o_custkey) AS BIGINT) AS sum_cust
          FROM orders GROUP BY o_orderstatus""",
    // the as-of read over a MIXED-format history: current state is
    // missing the retired csv foreign — only a reader that resurrects
    // it (and unions it with the parquet base) reproduces the full
    // table
    "q_timetravel_mixed" ->
      s"""SELECT s_nationkey, count(*) AS cnt,
          ${oDsum("s_acctbal")} AS sum_bal,
          CAST(sum(s_suppkey) AS BIGINT) AS sum_supp
          FROM supplier GROUP BY s_nationkey""",
    // the shallow clone pins the PRE-delete version: the clone read
    // equals the full table while the source stays post-delete
    "q_clone_asof" ->
      s"""SELECT o_orderstatus, count(*) AS cnt,
          ${oDsum("o_totalprice")} AS sum_price,
          CAST(sum(o_custkey) AS BIGINT) AS sum_cust
          FROM orders GROUP BY o_orderstatus""",
    // the clone of a partitioned+bucketed source serves a
    // partition-filtered read through externalPath-resolved relative
    // paths — any dir-resolution slip drops whole partitions
    "q_clone_partitioned" ->
      s"""SELECT o_orderstatus, count(*) AS cnt,
          ${oDsum("o_totalprice")} AS sum_price,
          CAST(sum(o_custkey) AS BIGINT) AS sum_cust
          FROM orders WHERE o_orderstatus <> 'O'
          GROUP BY o_orderstatus""",
    // the deep clone pins the PRE-delete version AND owns its bytes:
    // the source was vacuumed (CLEAN FILES reclaimed the pre-delete
    // files), so only a true full copy reproduces the full table
    "q_clone_deep" ->
      s"""SELECT o_orderstatus, count(*) AS cnt,
          ${oDsum("o_totalprice")} AS sum_price,
          CAST(sum(o_custkey) AS BIGINT) AS sum_cust
          FROM orders GROUP BY o_orderstatus""",
    // the change feed reconstructed from raw parquet: deletes = the
    // CoW-deleted third at ORIGINAL values, inserts = the re-inserted
    // doubled-price batch — rewritten survivors must cancel exactly
    "q_table_changes" ->
      s"""SELECT change_type, o_orderstatus, count(*) AS cnt,
          ${oDsum("o_totalprice")} AS sum_price,
          CAST(sum(o_custkey) AS BIGINT) AS sum_cust
          FROM (
            SELECT 'delete' AS change_type, o_orderstatus, o_totalprice,
                   o_custkey
            FROM orders WHERE o_orderkey % 3 = 2
            UNION ALL
            SELECT 'insert' AS change_type, o_orderstatus,
                   o_totalprice * 2 AS o_totalprice, o_custkey
            FROM orders WHERE o_orderkey % 10 = 5)
          GROUP BY change_type, o_orderstatus""",
    // identical reconstruction: the streaming consumption of the same
    // commits must union to the same net feed
    "q_changes_stream" ->
      s"""SELECT change_type, o_orderstatus, count(*) AS cnt,
          ${oDsum("o_totalprice")} AS sum_price,
          CAST(sum(o_custkey) AS BIGINT) AS sum_cust
          FROM (
            SELECT 'delete' AS change_type, o_orderstatus, o_totalprice,
                   o_custkey
            FROM orders WHERE o_orderkey % 3 = 2
            UNION ALL
            SELECT 'insert' AS change_type, o_orderstatus,
                   o_totalprice * 2 AS o_totalprice, o_custkey
            FROM orders WHERE o_orderkey % 10 = 5)
          GROUP BY change_type, o_orderstatus"""
  )
}
