package graft.engine.index

import graft.engine.GraftTable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Term-posting text index (the reference's lucene FINE-grain index,
  * LuceneFineGrainIndex.java:63,137-142 — postings carry the position
  * inside the segment, not just the segment).
  *
  * The index is a carbonish table (term, seg_id, file) holding the
  * distinct whole tokens per FILE, sorted by term so lookups prune via
  * segment stats. `readMatching` evaluates a text query of
  * OR-separated clauses of AND-terms: each clause's candidate files
  * are the intersection of its terms' posting sets; the union over
  * clauses bounds the scan to the matched files (position grain, the
  * same ladder rung `Si.readWhereIn` sits on), and an exact
  * token-membership residual filter runs on the survivors. Lookups
  * matching more than a capped number of files — and indexes built
  * before the file column existed — degrade to segment-grain pruning;
  * segments outside the coverage ledger are scanned unindexed.
  *
  * Semantics note: like lucene, this matches whole TOKENS —
  * `GraftFunctions.textMatch` (substring contains) is the unindexed
  * row-level variant.
  */
object TextIndex {

  private def key(column: String) = s"textindex.$column"

  private def tokensOf(c: Column): Column =
    array_distinct(split(lower(trim(c)), " "))

  private def postings(t: GraftTable, column: String,
      segments: Option[Seq[graft.engine.format.SegmentMeta]] = None): DataFrame = {
    val segs = segments.getOrElse(t.status.visible)
    val files = segs.flatMap(t.layout.segmentFilePaths)
    val segId = regexp_extract(col("_metadata.file_path"), "/segments/([0-9]+)/", 1)
      .cast("long")
    val relFile = regexp_extract(col("_metadata.file_path"),
      "/segments/[0-9]+/(.*)$", 1)
    // unmasked on purpose: postings may name rows that merge-on-read
    // deltas deleted, and an index over a superset of the live rows
    // stays correct because the scan it steers masks those rows
    val base = t.spark.read.schema(t.schema).parquet(files.toSeq: _*)
      .select(explode(tokensOf(col(column))).as("term"), segId.as("seg_id"),
        relFile.as("file"), col("_metadata.row_index").as("ri"))
    // row-group grain (the reference's FINE-grain posting,
    // LuceneFineGrainIndex.java:63: postings name the blocklet, not just
    // the block): tag each token row with its row group via a BROADCAST
    // range join against the footer geometry (see [[RowGroups]])
    RowGroups.geometryDf(t, segs) match {
      case None => RowGroups.nullTagged(base) // unreadable footer
      case Some(geo) => RowGroups.tag(base, geo)
        .select(col("term"), col("seg_id"), col("file"), col("rg"),
          col("rg_start"), col("rg_len"))
        .distinct()
    }
  }

  /** CREATE INDEX … AS 'lucene'-analog on a text column. */
  /** `deferred` (WITH DEFERRED REFRESH): empty postings, zero coverage
    * — text lookups scan unindexed until REFRESH INDEX builds it. */
  def create(t: GraftTable, column: String, path: String,
      deferred: Boolean = false): GraftTable = {
    require(t.schema.fieldNames.contains(column), s"no such column $column")
    val snapshot =
      if (deferred) Set.empty[Long] else t.status.visible.map(_.id).toSet
    GraftTable.drop(t.spark, path)
    val idx =
      if (deferred)
        GraftTable.create(t.spark, path,
          org.apache.spark.sql.types.StructType(Seq(
            org.apache.spark.sql.types.StructField("term",
              org.apache.spark.sql.types.StringType),
            org.apache.spark.sql.types.StructField("seg_id",
              org.apache.spark.sql.types.LongType),
            org.apache.spark.sql.types.StructField("file",
              org.apache.spark.sql.types.StringType)) ++
            RowGroups.schemaFields),
          sortColumns = Seq("term"))
      else
        GraftTable.createAsSelect(t.spark, path, postings(t, column),
          sortColumns = Seq("term"))
    Si.recordIndexedSegments(idx, snapshot)
    t.layout.updateTableMeta(m => m.copy(
      properties = m.properties + (key(column) -> path)))
    idx
  }

  /** A pre-r13 posting table lacks the rg columns; REFRESH/REINDEX
    * upgrade it by rebuilding in place (the SHOW INDEXES
    * "grain: file" → "grain: row-group" route, same as [[Si]]). */
  private def legacySchema(idx: GraftTable): Boolean =
    !idx.schema.fieldNames.contains("rg_start")

  def refresh(t: GraftTable, column: String): Unit = {
    val p = t.meta.properties.getOrElse(key(column),
      throw new IllegalArgumentException(s"no text index on $column"))
    val idx = GraftTable.at(t.spark, p)
    if (legacySchema(idx)) { create(t, column, p); return } // upgrade
    val snapshot = t.status.visible.map(_.id).toSet
    idx.insert(postings(t, column), overwrite = true)
    Si.recordIndexedSegments(idx, snapshot)
  }

  /** REINDEX analog of [[Si.repair]]: append postings for segments the
    * coverage ledger is missing (optionally restricted to `segIds`) —
    * incremental, reads only the new segments. */
  def repair(t: GraftTable, column: String, segIds: Option[Seq[Long]] = None): Unit = {
    val p = t.meta.properties.getOrElse(key(column),
      throw new IllegalArgumentException(s"no text index on $column"))
    val idx = GraftTable.at(t.spark, p)
    if (legacySchema(idx)) { create(t, column, p); return } // upgrade
    val covered = Si.indexedSegments(idx)
    val visible = t.status.visible
    val want = segIds.map(_.toSet).getOrElse(visible.map(_.id).toSet)
    val missing = visible.filter(s => want.contains(s.id) && !covered.contains(s.id))
    if (missing.nonEmpty) {
      idx.insert(postings(t, column, Some(missing)))
      Si.recordIndexedSegments(idx, covered ++ missing.map(_.id))
    }
  }

  def drop(t: GraftTable, column: String): Unit = {
    t.meta.properties.get(key(column)).foreach(p => GraftTable.drop(t.spark, p))
    t.layout.writeTableMeta(t.meta.copy(properties = t.meta.properties - key(column)))
  }

  /** Token-membership residual predicate matching the index semantics:
    * whole tokens for bare terms, token-prefix for `p*` wildcards,
    * whole-token sequence (space-padded containment over the
    * single-space corpus) for `"quoted phrases"`, `NOT` negation. */
  def tokenMatch(c: Column, query: String): Column = {
    import graft.functions.GraftFunctions.{TextTerm, parseLucene}
    val toks = tokensOf(c)
    def one(t: TextTerm): Column = t match {
      case TextTerm.Tok(s) => array_contains(toks, s)
      case TextTerm.Prefix(p) => exists(toks, _.startsWith(p))
      case TextTerm.Phrase(ws) =>
        concat(lit(" "), lower(trim(c)), lit(" "))
          .contains(" " + ws.mkString(" ") + " ")
      case TextTerm.Fuzzy(s, n) =>
        graft.functions.GraftFunctions.fuzzyPred(c, s, n)
      case TextTerm.Near(ws, k) =>
        graft.functions.GraftFunctions.nearPred(c, ws, k)
    }
    parseLucene(query)
      .map(_.map(l => if (l.negated) !one(l.term) else one(l.term)).reduce(_ && _))
      .reduce(_ || _)
  }

  /** Same role and value as [[Si.FileGrainMaxHits]]: a selective text
    * query names few (segment, file) hits; past this many the read
    * degrades to segment grain. */
  private val FileGrainMaxHits = 10000

  /** Driver-side Levenshtein check for posting rows — shared impl (must
    * agree with Spark's `levenshtein` used in the index-scan predicate
    * and the residual, or a candidate could be pruned that the residual
    * would keep). */
  private def withinEdits(a: String, b: String, n: Int): Boolean =
    graft.functions.GraftFunctions.editsAtMost(a, b, n)

  /** Evaluate the clause structure over posting rows at any grain `K`
    * (segment id, or (segment id, file)): per clause, positive literals
    * intersect — phrase words are a necessary co-occurrence condition,
    * word order is the residual's job; prefixes union their matching
    * terms' postings — and clauses union. Negated literals can never
    * EXCLUDE a hit (other rows in it may lack the term), so only
    * positives prune; the caller guarantees every clause has one. */
  private def evalClauses[K](
      clauses: Seq[Seq[graft.functions.GraftFunctions.TextLit]],
      rows: Seq[(String, K)]): Set[K] = {
    import graft.functions.GraftFunctions.TextTerm
    val byTerm: Map[String, Set[K]] =
      rows.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    def postingsOf(term: TextTerm): Set[K] = term match {
      case TextTerm.Tok(s) => byTerm.getOrElse(s, Set.empty)
      case TextTerm.Phrase(ws) =>
        ws.map(w => byTerm.getOrElse(w, Set.empty[K])).reduce(_ intersect _)
      // proximity words are a necessary co-occurrence condition, same
      // as phrase words — the window test is the residual's job
      case TextTerm.Near(ws, _) =>
        ws.map(w => byTerm.getOrElse(w, Set.empty[K])).reduce(_ intersect _)
      case TextTerm.Prefix(p) =>
        rows.collect { case (tm, k) if tm.startsWith(p) => k }.toSet
      // the index scan already restricted fuzzy rows to dictionary
      // terms within edit distance (see candidateHits preds); union
      // their postings like a prefix expansion
      case TextTerm.Fuzzy(s, n) =>
        rows.collect { case (tm, k) if withinEdits(tm, s, n) => k }.toSet
    }
    clauses.map(_.filterNot(_.negated).map(l => postingsOf(l.term))
      .reduce(_ intersect _)).reduce(_ union _)
  }

  /** Lookup result at the index's finest trustworthy grain. */
  private sealed trait Hits
  /** Segment grain: a pre-file-column index, an over-cap lookup, or a
    * clause with no positive literal (which can never prune). */
  private case class SegHits(segs: Set[Long]) extends Hits
  /** File grain (the reference's coarse-grain blocklet→block collapse). */
  private case class FileHits(files: Map[Long, Seq[String]]) extends Hits
  /** Row-group grain (the reference's FINE grain): `files` to pin the
    * scan, plus per-(segment, file) byte spans of the posting row
    * groups; files without a `ranges` entry (uncovered segments) scan
    * whole. */
  private case class RgHits(files: Map[Long, Seq[String]],
      ranges: Map[(Long, String), Seq[(Long, Long)]]) extends Hits

  /** Candidate hits for a text query at the index's finest grain.
    * Outer None = no index on the column (caller falls back to a full
    * scan). All variants already include uncovered segments (inserted/
    * compacted since the last refresh — the index can only prune within
    * its coverage) and are visibility-filtered; retired seg_ids drop
    * out because their rows live in uncovered successors. */
  private def candidateHits(t: GraftTable, column: String, query: String)
      : Option[Hits] = {
    import graft.functions.GraftFunctions.{TextTerm, parseLucene}
    val clauses = parseLucene(query)
    t.meta.properties.get(key(column)).map { p =>
      val idx = GraftTable.at(t.spark, p)
      val visSegs = t.status.visible
      val visible = visSegs.map(_.id).toSet
      val uncovered = visible -- Si.indexedSegments(idx)
      // one index read serves every positive literal: exact terms by
      // IN-list, wildcards by prefix predicate — the index is sorted by
      // term, so both prune via segment min/max stats
      val positives = clauses.flatten.filterNot(_.negated).map(_.term)
      val exact = positives.flatMap {
        case TextTerm.Tok(s) => Seq(s)
        case TextTerm.Phrase(ws) => ws
        case TextTerm.Near(ws, _) => ws
        case _ => Nil
      }.distinct
      val prefixes = positives.collect { case TextTerm.Prefix(p) => p }.distinct
      // fuzzy terms select dictionary tokens within edit distance right
      // in the index scan (a tiny sorted table; the length bracket is
      // the cheap pre-filter) — the expansion then unions postings like
      // a wildcard
      val fuzzies = positives.collect { case TextTerm.Fuzzy(s, n) => (s, n) }.distinct
      val preds = (if (exact.nonEmpty) Seq(col("term").isin(exact: _*)) else Nil) ++
        prefixes.map(p => col("term").startsWith(p)) ++
        fuzzies.map { case (s, n) =>
          // length() counts code points, so the bracket must too — a
          // UTF-16 length would exclude dictionary tokens holding
          // supplementary-plane chars that are within edit distance
          val sLen = s.codePointCount(0, s.length)
          length(col("term")).between(sLen - n, sLen + n) &&
            levenshtein(col("term"), lit(s), n).between(0, n) }
      def segmentGrain(): Hits = {
        val rows: Seq[(String, Long)] =
          idx.read.filter(preds.reduce(_ || _)).select("term", "seg_id")
            .distinct().collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
        SegHits((evalClauses[Long](clauses, rows) & visible) ++ uncovered)
      }
      // uncovered segments contribute ALL their files, never ranged
      def uncovFiles: Seq[(Long, String)] =
        visSegs.filter(s => uncovered.contains(s.id))
          .flatMap(s => s.files.map(f => (s.id, f)))
      if (preds.isEmpty || clauses.exists(_.forall(_.negated)))
        SegHits(visible) // nothing to prune with
      else if (!idx.schema.fieldNames.contains("file")) segmentGrain()
      else {
        val rgCapable = idx.schema.fieldNames.contains("rg_start")
        val cols =
          if (rgCapable) Seq("term", "seg_id", "file", "rg_start", "rg_len")
          else Seq("term", "seg_id", "file")
        // the overflow check runs on the RAW collected count, BEFORE the
        // visibility filter — stale retired-seg postings must not consume
        // limit slots and mask a truncated file list (same invariant as
        // Si.readWhereIn)
        val raw = idx.read.filter(preds.reduce(_ || _))
          .select(cols.map(col): _*).distinct()
          .limit(FileGrainMaxHits + 1).collect()
        if (raw.length > FileGrainMaxHits) segmentGrain()
        else if (!rgCapable || raw.exists(_.isNullAt(3))) {
          // file grain: pre-r13 index, or a degraded (null-rg) posting —
          // a null means "somewhere in the file", so the whole lookup
          // falls back to whole-file pins
          val rows: Seq[(String, (Long, String))] = raw.toSeq
            .map(r => (r.getString(0), (r.getLong(1), r.getString(2))))
          val hits = evalClauses[(Long, String)](clauses, rows)
            .filter { case (sId, _) => visible.contains(sId) }
          FileHits((hits.toSeq ++ uncovFiles).groupBy(_._1)
            .view.mapValues(_.map(_._2).distinct).toMap)
        } else {
          // ROW-GROUP grain (the reference's lucene FG index,
          // LuceneFineGrainIndex.java:63,137-142: postings name the
          // blocklet inside the block; parquet row groups are our
          // blocklets). Clause AND-intersection is sound here because a
          // row lives entirely inside one row group — co-occurrence in
          // a file implies co-occurrence in some row group's postings.
          val rows: Seq[(String, (Long, String, Long, Long))] = raw.toSeq
            .map(r => (r.getString(0),
              (r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4))))
          val hits = evalClauses[(Long, String, Long, Long)](clauses, rows)
            .filter { case (sId, _, _, _) => visible.contains(sId) }
          val ranges = hits.toSeq.groupBy { case (s, f, _, _) => (s, f) }
            .view.mapValues(_.map { case (_, _, st, ln) => (st, ln) }.distinct)
            .toMap
          val files = (hits.toSeq.map { case (s, f, _, _) => (s, f) } ++
            uncovFiles).groupBy(_._1)
            .view.mapValues(_.map(_._2).distinct).toMap
          graft.engine.ExplainCollector.record(
            s"text index '$column': row-group grain — " +
              s"${ranges.values.map(_.size).sum} row group(s) in " +
              s"${ranges.size} file(s)" +
              (if (uncovered.nonEmpty)
                s", +${uncovered.size} uncovered segment(s) scanned whole"
              else ""))
          RgHits(files, ranges)
        }
      }
    }
  }

  /** SQL-rule / probe-loop entry: candidate segments (file-grain hits
    * collapse to their segments), None = no index on column. */
  private[index] def candidates(
      t: GraftTable, column: String, query: String): Option[Set[Long]] =
    candidateSegments(t, column, query)

  private def candidateSegments(
      t: GraftTable, column: String, query: String): Option[Set[Long]] =
    candidateHits(t, column, query).map {
      case SegHits(segs) => segs
      case FileHits(files) => files.keySet
      case RgHits(files, _) => files.keySet
    }

  /** text_match-accelerated read: consult the posting index for the
    * candidate row groups (fine grain — matched files are pinned into
    * the scan exactly like `Si.readWhereIn`, and their splits clipped
    * to the posting row groups' byte spans), scan only those, apply the
    * exact residual. Over-cap and pre-file-column lookups use coarser
    * grains; falls back to a full filtered read without an index. */
  def readMatching(t: GraftTable, column: String, query: String): DataFrame =
    candidateHits(t, column, query) match {
      case None => t.read.filter(tokenMatch(col(column), query))
      case Some(SegHits(segs)) =>
        if (segs.isEmpty)
          t.read.filter(tokenMatch(col(column), query)).limit(0)
        else t.readSegments(segs.toSeq.sorted)
          .filter(tokenMatch(col(column), query))
      case Some(FileHits(files)) =>
        if (files.isEmpty)
          t.read.filter(tokenMatch(col(column), query)).limit(0)
        else t.readFiles(files).filter(tokenMatch(col(column), query))
      case Some(RgHits(files, ranges)) =>
        if (files.isEmpty)
          t.read.filter(tokenMatch(col(column), query)).limit(0)
        else t.readFilesRanges(files, ranges)
          .filter(tokenMatch(col(column), query))
    }

  /** text_match_with_limit (reference MatchExpression limit,
    * TEXT_MATCH('term', N)): the cap is applied at the INDEX layer —
    * candidate segments are consumed in id order, small groups at a
    * time, and scanning STOPS once `limit` matches are in hand, so a
    * selective query over a 100 TB table reads the first candidate
    * segment group, not every candidate. The collected rows are bounded
    * by `limit` (the reference's search-cap contract — results are
    * driver-sized by definition). */
  def readMatchingWithLimit(
      t: GraftTable, column: String, query: String, limit: Int,
      segmentsPerProbe: Int = 4): DataFrame = {
    require(limit > 0, "limit must be positive")
    val residual = tokenMatch(col(column), query)
    candidateSegments(t, column, query) match {
      case None => t.read.filter(residual).limit(limit)
      case Some(candidates) if candidates.isEmpty =>
        t.read.filter(residual).limit(0)
      case Some(candidates) =>
        val sorted = candidates.toSeq.sorted
        val rows = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
        var i = 0
        while (i < sorted.size && rows.size < limit) {
          val probe = sorted.slice(i, i + segmentsPerProbe)
          rows ++= t.readSegments(probe).filter(residual)
            .limit(limit - rows.size).collect()
          i += segmentsPerProbe
        }
        t.spark.createDataFrame(
          t.spark.sparkContext.parallelize(rows.toIndexedSeq, 1), t.schema)
    }
  }
}
