package graft.engine

import graft.engine.source.CarbonishTable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAlias, UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, CreateNamedStruct, Expression, ScalarSubquery}
import org.apache.spark.sql.catalyst.parser.{ParameterContext, ParserInterface}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.{DataType, StructType}

/** graft's statements inside `spark.sql`: the segment-management, MV,
  * index, stream and time-travel grammar Spark's parser lacks
  * (reference CarbonSpark2SqlParser.scala:75-788). Installed by
  * [[GraftExtensions]]; everything that is not a graft statement goes to
  * Spark's parser unchanged.
  */
class GraftSqlParser(spark: SparkSession, delegate: ParserInterface) extends ParserInterface {
  override def parsePlan(text: String): LogicalPlan =
    GraftSql.plan(spark, delegate, text).getOrElse(delegate.parsePlan(text))
  override def parsePlanWithParameters(text: String, ctx: ParameterContext): LogicalPlan =
    GraftSql.plan(spark, delegate, text).getOrElse(delegate.parsePlanWithParameters(text, ctx))
  override def parseExpression(text: String): Expression = delegate.parseExpression(text)
  override def parseTableIdentifier(text: String): TableIdentifier =
    delegate.parseTableIdentifier(text)
  override def parseFunctionIdentifier(text: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(text)
  override def parseMultipartIdentifier(text: String): Seq[String] =
    delegate.parseMultipartIdentifier(text)
  override def parseQuery(text: String): LogicalPlan = delegate.parseQuery(text)
  override def parseRoutineParam(text: String): StructType = delegate.parseRoutineParam(text)
  override def parseTableSchema(text: String): StructType = delegate.parseTableSchema(text)
  override def parseDataType(text: String): DataType = delegate.parseDataType(text)
}

/** A graft action statement (COMPACT, CLEAN FILES, RESTORE, CLONE, index,
  * MV and stream DDL, …): `body` runs when Spark executes the command,
  * not when the statement is parsed. */
case class GraftCommand(statement: String, override val output: Seq[Attribute])(
    body: SparkSession => Seq[Row]) extends LeafRunnableCommand {
  override def run(sparkSession: SparkSession): Seq[Row] = body(sparkSession)
  override protected def otherCopyArgs: Seq[AnyRef] = body :: Nil
}

object GraftSql {

  /** Resolve a `TIMESTAMP AS OF '…'` / `SEGMENT.STARTTIME BEFORE '…'`
    * string to epoch millis in the SESSION time zone, as Spark resolves
    * the literal of its own `TIMESTAMP AS OF` — never the JVM default
    * zone, which would move a RESTORE/CLONE by the zone offset.
    * All-digit strings are epoch millis verbatim. */
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

  /** The one table-reference rule: a reference containing `/` is a
    * filesystem path, optionally backquoted; any other reference is a
    * catalog identifier, resolved through Spark's catalog to its
    * carbonish table. */
  private def isPath(ref: String): Boolean = ref.contains('/')
  private def unquote(path: String): String = path.stripPrefix("`").stripSuffix("`")

  private def tablePath(spark: SparkSession, ref: String): String =
    if (isPath(ref)) unquote(ref)
    else spark.table(ref).queryExecution.analyzed.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[CarbonishTable] =>
        r.table.asInstanceOf[CarbonishTable].tablePath
    }.getOrElse(throw new IllegalArgumentException(s"$ref is not a carbonish table"))

  private def table(spark: SparkSession, ref: String): GraftTable =
    GraftTable.at(spark, tablePath(spark, ref))

  /** `TABLE_CHANGES('<t>', <v|'ts'> [, <v|'ts'>])` — the change data
    * feed (r19, Delta table_changes analog) as a table-valued function:
    * row-level net changes between two retained versions/timestamps,
    * computed from the commit log. Each bound is a version number or a
    * session-TZ timestamp string; the one-bound form (r20) is the
    * per-commit feed of that version (bounds v-1 → v). */
  private[engine] val tableChanges: Seq[Expression] => LogicalPlan = args => {
    val spark = SparkSession.active
    require((args.size == 2 || args.size == 3) && args.forall(_.foldable),
      "TABLE_CHANGES takes ('<table>', <version|'timestamp'> [, <version|'timestamp'>])")
    val Seq(ref, bounds @ _*) = args.map(_.eval())
    val t0 = table(spark, ref.toString)
    def bound(b: Any): Long = b match {
      case n: Number => n.longValue
      case ts => t0.layout.versionAtTimestamp(sessionTsMillis(spark, ts.toString))
    }
    val feed = bounds.map(bound) match {
      case Seq(v) => t0.readChanges(v)
      case Seq(from, to) => t0.readChanges(from, to)
    }
    feed.queryExecution.analyzed
  }

  /** Leading keywords of graft's statements: anything else goes to
    * Spark's parser without a regex match. */
  private val Keywords = Set("ALTER", "CLEAN", "CREATE", "DELETE", "DESC", "DESCRIBE",
    "DROP", "EXPLAIN", "REFRESH", "REINDEX", "RESTORE", "SHOW", "UPDATE")
  private val LeadingWord = """(?s)^\s*([A-Za-z]+)""".r.unanchored

  // the statement table (reference CarbonSpark2SqlParser command grammar)
  private val Describe = """(?is)^\s*DESC(?:RIBE)?\s+(?:FORMATTED\s+|EXTENDED\s+)?TABLE\s+(\S+)\s*$""".r
  // DESCRIBE COLUMN a.b.c ON t: a complex column's children; DESCRIBE
  // SHORT t: complex types abbreviated (reference parser :121-134)
  private val DescColumn =
    """(?is)^\s*DESC(?:RIBE)?\s+COLUMN\s+(\S+)\s+ON\s+(?:TABLE\s+)?(\S+)\s*$""".r
  private val DescShort = """(?is)^\s*DESC(?:RIBE)?\s+SHORT\s+(\S+)\s*$""".r
  // SHOW [HISTORY] SEGMENTS … [LIMIT n] [AS <query>] — HISTORY adds
  // the entries CLEAN FILES garbage-collected; AS queries the registry
  // as the temp view `<table>_segments` (reference parser :585-600)
  private val ShowSegments =
    """(?is)^\s*SHOW\s+(HISTORY\s+)?SEGMENTS\s+(?:FOR\s+TABLE|ON)\s+(\S+?)(?:\s+LIMIT\s+(\d+))?(?:\s+AS\s+(.+?))?\s*$""".r
  private val Compact = """(?is)^\s*ALTER\s+TABLE\s+(\S+)\s+COMPACT\s+'(\w+)'\s*(?:WHERE\s+SEGMENT\.ID\s+IN\s*\(([^)]*)\)\s*)?$""".r
  private val CleanFiles = """(?is)^\s*CLEAN\s+FILES\s+FOR\s+TABLE\s+(\S+)\s*(?:OPTIONS\s*\(\s*'dryrun'\s*=\s*'(true|false)'\s*\)\s*)?$""".r
  private val DeleteSegments = """(?is)^\s*DELETE\s+FROM\s+TABLE\s+(\S+)\s+WHERE\s+SEGMENT\.(?:ID\s+IN\s*\(([^)]*)\)|STARTTIME\s+BEFORE\s+'([^']+)')\s*$""".r
  private val FinishStreaming = """(?is)^\s*ALTER\s+TABLE\s+(\S+)\s+FINISH\s+STREAMING\s*$""".r
  // SET/UNSET TBLPROPERTIES on a path; on a catalog name Spark parses
  // it and GraftCatalog.alterTable makes the same GraftTable call
  private val SetTblProps =
    """(?is)^\s*ALTER\s+TABLE\s+(\S+)\s+SET\s+TBLPROPERTIES\s*\(\s*(.+?)\s*\)\s*$""".r
  private val UnsetTblProps =
    """(?is)^\s*ALTER\s+TABLE\s+(\S+)\s+UNSET\s+TBLPROPERTIES\s*\(\s*(.+?)\s*\)\s*$""".r
  private val CreateMv = """(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(\w+)\s+(WITH\s+DEFERRED\s+REFRESH\s+)?STORED\s+AT\s+'([^']+)'\s+AS\s+(.+)$""".r
  private val RefreshMv = """(?is)^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(\w+)\s*$""".r
  private val ShowMvs = """(?is)^\s*SHOW\s+MATERIALIZED\s+VIEWS\s*(?:ON\s+TABLE\s+(\S+)\s*)?$""".r
  private val DropMv = """(?is)^\s*DROP\s+MATERIALIZED\s+VIEW\s+(\w+)\s*$""".r
  private val CreateLike = """(?is)^\s*CREATE\s+TABLE\s+(\S+)\s+LIKE\s+(\S+)\s*$""".r
  private val ShowSummary = """(?is)^\s*SHOW\s+SUMMARY\s+FOR\s+TABLE\s+(\S+)\s*$""".r
  // CarbonCli's other half: per-file scan timings (ScanBenchmark.java)
  private val ShowBenchmark = """(?is)^\s*SHOW\s+BENCHMARK\s+FOR\s+TABLE\s+(\S+)(?:\s+LIMIT\s+(\d+))?\s*$""".r
  // the retained AS-OF coordinates: version, commit time, log artifact
  private val ShowVersions =
    """(?is)^\s*SHOW\s+VERSIONS\s+(?:FOR\s+TABLE|ON)\s+(\S+)(?:\s+LIMIT\s+(\d+))?\s*$""".r
  // rollback (r17, Delta RESTORE analog): metadata-only commit back
  // to a retained version; the mis-step stays in the log
  private val Restore =
    """(?is)^\s*RESTORE\s+TABLE\s+(\S+)\s+TO\s+(?:VERSION\s+AS\s+OF\s+(\d+)|TIMESTAMP\s+AS\s+OF\s+'([^']+)')\s*$""".r
  // CLONE (Delta CLONE analog), optionally AS OF a retained version:
  // SHALLOW (r18) references the source's files in place — one
  // metadata commit, zero data movement; DEEP (r19) copies every byte,
  // so the clone survives source rewrites/CLEAN FILES
  private val Clone =
    """(?is)^\s*CREATE\s+TABLE\s+(\S+)\s+(SHALLOW|DEEP)\s+CLONE\s+(\S+?)(?:\s+VERSION\s+AS\s+OF\s+(\d+)|\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)')?\s*$""".r
  // driver metadata cache (reference CarbonShowCacheCommand, parser :613-619)
  private val ShowMetacache = """(?is)^\s*SHOW\s+METACACHE(?:\s+FOR\s+TABLE\s+(\S+))?\s*$""".r
  private val DropMetacache = """(?is)^\s*DROP\s+METACACHE(?:\s+FOR\s+TABLE\s+(\S+))?\s*$""".r
  // UPDATE t [AS a] SET (c1, …) = (SELECT …|e1, …) [WHERE …]
  private val UpdateSet =
    """(?is)^\s*UPDATE\s+(\S+)(?:\s+(?:AS\s+)?(?!SET\s)(\w+))?\s+SET\s*\(([^)]*)\)\s*=\s*(\(.+)$""".r
  // stream DDL (reference CarbonCreateStreamCommand.scala:43, parser
  // CarbonSpark2SqlParser.scala:154-179): the AS SELECT must read a
  // STREAMING relation (a readStream temp view); STMPROPERTIES carry
  // 'interval' (ProcessingTime trigger), 'checkpoint', 'handoff_bytes'.
  private val CreateStream = """(?is)^\s*CREATE\s+STREAM\s+(\w+)\s+ON\s+TABLE\s+(\S+)(?:\s+STMPROPERTIES\s*\(([^)]*)\))?\s+AS\s+(.+)$""".r
  private val DropStream = """(?is)^\s*DROP\s+STREAM\s+(\w+)\s*$""".r
  private val ShowStreams = """(?is)^\s*SHOW\s+STREAMS\s*$""".r
  // index DDL (reference CarbonCreateIndexCommand.scala:49, parser
  // :192,733-788): kinds 'carbondata' (SI), 'lucene' (text postings),
  // 'bloomfilter' (parquet bloom on future writes), 'vector' (id_col,
  // vector_col). The name → (kind, column, path) registry lives in
  // table properties. WITH DEFERRED REFRESH registers the index
  // DISABLED until the first REFRESH INDEX; PROPERTIES carry per-kind
  // tuning ('BLOOM_SIZE'/'BLOOM_FPP', 'NLIST'/'M'/'KSUB'/'ITERS'/'DIM')
  private val CreateIndex = """(?is)^\s*CREATE\s+INDEX\s+(\w+)\s+ON\s+(?:TABLE\s+)?(\S+?)\s*\(([\w\s,]+)\)\s+AS\s+'(\w+)'(?:\s+(WITH\s+DEFERRED\s+REFRESH))?(?:\s+PROPERTIES\s*\(([^)]*)\))?(?:\s+STORED\s+AT\s+'([^']+)')?\s*$""".r
  private val DropIndex = """(?is)^\s*DROP\s+INDEX\s+(?:(IF\s+EXISTS)\s+)?(\w+)\s+ON\s+(?:TABLE\s+)?(\S+)\s*$""".r
  private val ShowIndexes = """(?is)^\s*SHOW\s+INDEXES\s+ON\s+(?:TABLE\s+)?(\S+)\s*$""".r
  private val RefreshIndex = """(?is)^\s*REFRESH\s+INDEX\s+(\w+)\s+ON\s+(?:TABLE\s+)?(\S+)\s*$""".r
  // REINDEX [INDEX TABLE name] ON t [WHERE SEGMENT.ID IN (…)] —
  // incremental repair (reference IndexRepairCommand, parser :750-760)
  private val Reindex =
    """(?is)^\s*REINDEX(?:\s+INDEX\s+TABLE\s+(\w+))?\s+ON\s+(?:TABLE\s+)?(\S+?)(?:\s+WHERE\s+SEGMENT\.ID\s+IN\s*\(([^)]*)\))?\s*$""".r
  // EXPLAIN <select>: Spark's plan plus the "== Graft ==" pruning /
  // index / MV section (reference CarbonExplainCommand.scala:29)
  private val Explain = """(?is)^\s*EXPLAIN\s+(EXTENDED\s+)?((?:SELECT|WITH)\s.+)$""".r
  private val PropItem = """(?s)^\s*'([^']*)'\s*=\s*'([^']*)'\s*$""".r

  private def ids(s: String): Seq[Long] = {
    val parsed = s.split(",").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq
    require(parsed.nonEmpty, s"empty segment id list in: $s")
    parsed
  }

  private def parseProps(s: String): Map[String, String] =
    splitTopLevel(s, ",").map {
      case PropItem(k, v) => k.toLowerCase -> v
      case other => throw new IllegalArgumentException(s"bad property item: $other")
    }.toMap

  private def indexReg(t0: GraftTable): Map[String, (String, String, String)] =
    t0.meta.properties.collect { case (k, v) if k.startsWith("sqlindex.") =>
      k.stripPrefix("sqlindex.") -> (v.split(",", 3) match {
        case Array(kind, c, p) => (kind, c, p)
        // malformed/legacy registry value: shown by SHOW INDEXES and
        // DROP-able, instead of failing every index statement
        case parts => (parts.headOption.getOrElse("corrupt"),
          if (parts.length > 1) parts(1) else "", "")
      })
    }

  private def versionOf(t0: GraftTable, v: String, ts: String): Option[Long] =
    if (v != null) Some(v.toLong)
    else Option(ts).map(s => t0.layout.versionAtTimestamp(sessionTsMillis(t0.spark, s)))

  /** An action statement whose rows have the columns of `ddl`. */
  private def action(statement: String, ddl: String = "")(
      body: SparkSession => Seq[Row]): Option[LogicalPlan] =
    Some(GraftCommand(statement,
      DataTypeUtils.toAttributes(if (ddl.isEmpty) new StructType else StructType.fromDDL(ddl)))(body))

  private def done(statement: String)(body: SparkSession => Unit): Option[LogicalPlan] =
    action(statement)(s => { body(s); Nil })

  private def rows(df: DataFrame): Option[LogicalPlan] = Some(df.queryExecution.analyzed)

  /** graft's plan for `sql`, or None when it is not a graft statement.
    * Statements that show rows return their query's plan; actions return
    * a [[GraftCommand]]. */
  private[engine] def plan(spark: SparkSession, delegate: ParserInterface,
      sql: String): Option[LogicalPlan] = {
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    def t(ref: String): GraftTable = table(spark, ref)
    sql match {
      case LeadingWord(w) if !Keywords.contains(w.toUpperCase) => None
      case Explain(ext, inner) =>
        val text = GraftExplain.explain(spark, spark.sql(inner), ext != null)
        rows(localSeqToDatasetHolder(Seq(Tuple1(text))).toDF("plan"))
      case Clone(dest, kind, src, v, ts) =>
        require(isPath(dest), s"CLONE creates a table at a path, got: $dest")
        val shallow = kind.equalsIgnoreCase("SHALLOW")
        action(s"CREATE TABLE ${kind.toUpperCase} CLONE",
            s"cloned_to STRING, ${if (shallow) "segments" else "rows"} BIGINT") { s =>
          val t0 = table(s, src)
          val to = versionOf(t0, v, ts)
          if (shallow) {
            val c = t0.shallowCloneTo(unquote(dest), to)
            Seq(Row(c.path, c.status.visible.size.toLong))
          } else {
            val c = t0.deepCloneTo(unquote(dest), to)
            Seq(Row(c.path, c.countStar))
          }
        }
      case Restore(tRef, v, ts) =>
        action("RESTORE TABLE", "restored_version BIGINT, new_version BIGINT") { s =>
          val t0 = table(s, tRef)
          val to = versionOf(t0, v, ts).get
          Seq(Row(to, t0.restoreTo(to)))
        }
      case ShowVersions(tRef, lim) =>
        // rendered in the SESSION zone so the strings round-trip through
        // TIMESTAMP AS OF '…' (both surfaces session-TZ as of r19)
        val zone = org.apache.spark.sql.catalyst.util.DateTimeUtils
          .getZoneId(spark.sessionState.conf.sessionLocalTimeZone)
        val fmt = java.time.format.DateTimeFormatter
          .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
        val vs = t(tRef).layout.retainedVersions()
          .map { case (v, ts, src) =>
            (v, java.time.Instant.ofEpochMilli(ts).atZone(zone).format(fmt), src) }
        val limited = Option(lim).map(n => vs.take(n.toInt)).getOrElse(vs)
        rows(limited.toDF("version", "commit_time", "source"))
      case ShowMetacache(tRef) =>
        val key = Option(tRef).map(tablePath(spark, _))
        rows(graft.engine.format.MetaCache.entries(key)
          .toDF("table_path", "kind", "entries", "bytes", "hits", "misses"))
      case DropMetacache(tRef) =>
        done("DROP METACACHE") { s =>
          graft.engine.format.MetaCache.drop(Option(tRef).map(tablePath(s, _)))
        }
      case UpdateSet(tgt, alias, colList, tail) =>
        Some(update(spark, delegate, tgt, Option(alias), colList, tail))
      case CreateStream(name, tRef, props, select) =>
        done("CREATE STREAM") { s =>
          import org.apache.spark.sql.streaming.Trigger
          val t0 = table(s, tRef)
          val p = Option(props).map(parseProps).getOrElse(Map.empty)
          val src = resolveStreamingSelect(s, select)
          require(src.isStreaming,
            "CREATE STREAM requires a streaming source (a readStream temp view, " +
              "or a table with TBLPROPERTIES 'streaming'='source')")
          val trigger = p.get("interval")
            .map(Trigger.ProcessingTime(_)).getOrElse(Trigger.ProcessingTime(0))
          graft.engine.streaming.StreamManager.createStream(
            name, t0, src, trigger, p.get("checkpoint"),
            p.get("handoff_bytes").map(_.toLong).getOrElse(Long.MaxValue))
        }
      case DropStream(name) =>
        done("DROP STREAM")(_ => graft.engine.streaming.StreamManager.dropStream(name))
      case ShowStreams() =>
        rows(graft.engine.streaming.StreamManager.showStreams
          .toDF("name", "table_path", "status"))
      case CreateIndex(name, tRef, colList, kind0, deferred0, propsStr, at) =>
        done("CREATE INDEX") { s =>
          createIndex(table(s, tRef), name, colList, kind0.toLowerCase, deferred0 != null,
            Option(propsStr).map(parseProps).getOrElse(Map.empty), Option(at))
        }
      case DropIndex(ifExists, name, tRef) =>
        done("DROP INDEX") { s =>
          val t0 = table(s, tRef)
          indexReg(t0).get(name) match {
            case None => require(ifExists != null, s"no such index $name")
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
          }
        }
      case ShowIndexes(tRef) => rows(showIndexes(t(tRef)))
      case RefreshIndex(name, tRef) =>
        done("REFRESH INDEX") { s =>
          val t0 = table(s, tRef)
          indexReg(t0).get(name) match {
            case None => throw new IllegalArgumentException(s"no such index $name")
            case Some(("carbondata", colName, _)) => index.Si.refresh(t0, colName)
            case Some(("lucene", colName, _)) => index.TextIndex.refresh(t0, colName)
            case Some(("vector", colName, _)) => index.VectorIndex.refresh(t0, colName)
            case Some(_) => // bloom applies at write time — nothing to rebuild
          }
        }
      case Reindex(name, tRef, idList) =>
        done("REINDEX") { s =>
          val t0 = table(s, tRef)
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
        }
      case ShowSummary(tRef) => rows(t(tRef).describeFiles)
      case ShowBenchmark(tRef, lim) => rows(graft.tools.ScanBench.run(
        t(tRef), Option(lim).map(_.toInt).getOrElse(1)))
      // reference CarbonCreateTableLikeCommand: an empty table carrying
      // the source's schema, sort spec, partitioning, bucketing and
      // user properties (no data, no segments)
      case CreateLike(dst, src) if isPath(dst) =>
        done("CREATE TABLE LIKE") { s =>
          val s0 = table(s, src)
          val m = s0.meta
          GraftTable.create(s, unquote(dst),
            s0.schema, m.sortColumns, m.sortScope, m.properties, m.partitionColumns)
        }
      case Describe(tRef) if isPath(tRef) => rows(t(tRef).describe)
      case DescColumn(fieldPath, tRef) => rows(describeColumn(spark, t(tRef), fieldPath))
      case DescShort(tRef) =>
        import org.apache.spark.sql.types._
        def brief(dt: DataType): String = dt match {
          case _: StructType => "struct<...>"
          case a: ArrayType => s"array<${brief(a.elementType)}>"
          case _: MapType => "map<...>"
          case other => other.simpleString
        }
        rows(t(tRef).schema.fields.toSeq
          .map(f => (f.name, brief(f.dataType)))
          .toDF("col_name", "data_type"))
      case ShowSegments(hist, tRef, limit, q) =>
        val t0 = t(tRef)
        val segs = t0.segments ++
          (if (hist != null) t0.layout.readHistory() else Nil)
        val seg0 = segs.map(s =>
          (s.id, s.status, s.format, s.rowCount, s.sizeBytes, s.files.size))
          .toDF("id", "status", "format", "row_count", "size_bytes", "file_count")
          .orderBy(org.apache.spark.sql.functions.col("id").desc)
        val seg = Option(limit).map(n => seg0.limit(n.toInt)).getOrElse(seg0)
        Option(q) match {
          case None => rows(seg)
          case Some(query) =>
            // SHOW SEGMENTS … AS <select>: the registry queries like a
            // table via the `<name>_segments` temp view (reference
            // CarbonShowSegmentsAsSelectCommand)
            val view = s"${t0.path.split('/').last}_segments"
            seg.createOrReplaceTempView(view)
            try rows(spark.sql(query))
            finally spark.catalog.dropTempView(view)
        }
      case Compact(tRef, kind, idList) =>
        // reference CompactionType's stream kinds (:58): STREAMING hands
        // off the closed segment, CLOSE_STREAMING finishes the stream first
        done("ALTER TABLE COMPACT") { s =>
          kind.toUpperCase match {
            case "STREAMING" =>
              graft.engine.streaming.GraftStreaming.handoff(table(s, tRef))
            case "CLOSE_STREAMING" =>
              graft.engine.streaming.StreamManager.finishStreaming(table(s, tRef))
            case k => table(s, tRef).compact(k, Option(idList).map(ids).getOrElse(Nil))
          }
        }
      case CleanFiles(tRef, dry) if dry != null && dry.toBoolean =>
        // reference clean-files.md "DRY RUN OPTION": report what the
        // real run would reclaim, touch nothing
        action("CLEAN FILES", "segment_id BIGINT, status STRING, size_bytes BIGINT") { s =>
          table(s, tRef).cleanFilesDryRun().map(Row.fromTuple)
        }
      case CleanFiles(tRef, _) =>
        action("CLEAN FILES", "removed_segment_id BIGINT") { s =>
          table(s, tRef).cleanFiles().map(Row(_))
        }
      case DeleteSegments(tRef, idList, ts) =>
        done("DELETE FROM TABLE") { s =>
          if (idList != null) table(s, tRef).deleteSegmentsById(ids(idList))
          else table(s, tRef).deleteSegmentsBefore(sessionTsMillis(s, ts))
        }
      case FinishStreaming(tRef) =>
        done("ALTER TABLE FINISH STREAMING") { s =>
          graft.engine.streaming.StreamManager.finishStreaming(table(s, tRef))
        }
      case SetTblProps(tRef, propStr) if isPath(tRef) =>
        done("ALTER TABLE SET TBLPROPERTIES")(s => table(s, tRef).alterProperties(parseProps(propStr)))
      case UnsetTblProps(tRef, keyStr) if isPath(tRef) =>
        done("ALTER TABLE UNSET TBLPROPERTIES") { s =>
          table(s, tRef).alterProperties(Map.empty, splitTopLevel(keyStr, ",").map(
            _.trim.stripPrefix("'").stripSuffix("'").toLowerCase))
        }
      case CreateMv(name, deferredKw, path, query) =>
        // WITH DEFERRED REFRESH (docs/mv-guide.md:147-161): deferred MVs
        // skip refresh-on-commit and wait for REFRESH MATERIALIZED VIEW
        done("CREATE MATERIALIZED VIEW") { s =>
          mv.Mv.create(s, name, s.sql(query), path, deferred = deferredKw != null)
        }
      case RefreshMv(name) =>
        done("REFRESH MATERIALIZED VIEW")(s => mv.Mv.refreshIncremental(s, name))
      case ShowMvs(onT) =>
        // reference column set (docs/mv-guide.md:225-245)
        rows(mv.Mv.showDetailed(spark, Option(onT).map(tablePath(spark, _)))
          .toDF("name", "status", "refresh_mode", "refresh_trigger_mode", "path"))
      case DropMv(name) =>
        done("DROP MATERIALIZED VIEW")(s => mv.Mv.drop(s, name))
      case _ => None
    }
  }

  /** `UPDATE t [AS a] SET (c…) = (SELECT … FROM s WHERE corr) [WHERE …]`
    * — the reference's update-from-subquery form
    * (CarbonSpark2SqlParser.scala:259, CarbonAnalysisRules.scala:40-52)
    * — as Spark's MERGE: the subquery's WHERE is the merge condition and
    * the outer WHERE gates the matched update. The tuple form
    * `SET (c…) = (e…)` is a plain UPDATE. Spark's parser reads the
    * right-hand side and the outer WHERE as `SELECT <rest>`, and
    * [[catalog.GraftDmlStrategy]] executes both plans. */
  private def update(spark: SparkSession, delegate: ParserInterface, tgt: String,
      alias: Option[String], colList: String, tail: String): LogicalPlan = {
    val cols = colList.split(",").map(c => unquote(c.trim))
      .filter(_.nonEmpty).toSeq
    val rel =
      if (isPath(tgt)) table(spark, tgt).read.queryExecution.analyzed
      else UnresolvedRelation(delegate.parseMultipartIdentifier(tgt))
    val target = alias.fold(rel)(SubqueryAlias(_, rel))
    val (rhs, outer) = delegate.parseQuery(s"SELECT $tail") match {
      case Project(Seq(e), Filter(c, _: OneRowRelation)) => (e, Some(c))
      case Project(Seq(e), _: OneRowRelation) => (e, None)
      case _ => throw new IllegalArgumentException(
        s"expected UPDATE … SET (…) = (…) [WHERE …], got: $tail")
    }
    def unalias(e: Expression): Expression = e match {
      case u: UnresolvedAlias => u.child
      case a: Alias => a.child
      case other => other
    }
    def assign(values: Seq[Expression], what: String): Seq[Assignment] = {
      require(values.length == cols.length,
        s"SET lists ${cols.length} columns but the $what ${values.length}")
      cols.zip(values).map { case (c, v) => Assignment(UnresolvedAttribute(Seq(c)), unalias(v)) }
    }
    unalias(rhs) match {
      case sub: ScalarSubquery => sub.plan match {
        case Project(list, Filter(cond, source)) =>
          MergeIntoTable(target, source, cond,
            Seq(UpdateAction(outer, assign(list, "subquery selects"), false)),
            Nil, Nil, false)
        case _ => throw new IllegalArgumentException(
          "UPDATE … SET (…) = (SELECT …) needs a correlated WHERE joining the " +
            "subquery to the target table")
      }
      case tuple: CreateNamedStruct => UpdateTable(target, assign(tuple.valExprs, "tuple has"), outer)
      case single => UpdateTable(target, assign(Seq(single), "tuple has"), outer)
    }
  }

  private def createIndex(t0: GraftTable, name: String, colList: String, kind: String,
      deferred: Boolean, props: Map[String, String], at: Option[String]): Unit = {
    require(!indexReg(t0).contains(name), s"index $name already exists")
    val path = at.getOrElse(s"${t0.path}/_indexes/$name")
    val cols = colList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
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
  }

  /** SHOW INDEXES rows. The reference surfaces Status + Sync Info
    * alongside name/provider/columns (docs/index/index-management.md:
    * 117-127); sync here = how much of the base's visible segment set
    * the index covers, per each kind's own ledger (SI/text: segment-id
    * coverage; vector: rowCount fingerprints, so an in-place MoR shrink
    * counts as out-of-sync; bloom: write-time, always in step with the
    * files that have it). */
  private def showIndexes(t0: GraftTable): DataFrame = {
    import t0.spark.implicits._
    val spark = t0.spark
    val vis = t0.status.visible
    val visIds = vis.map(_.id).toSet
    indexReg(t0).toSeq.sortBy(_._1).map { case (n, (k, c, p)) =>
      // a deferred index is DISABLED until its first REFRESH
      // (index-management.md:87): it covers nothing of a non-empty
      // base (vector: no quantizer yet). Grain: row-group when the
      // postings carry rg geometry, file for a pre-r13 build
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
    }.toDF("name", "kind", "column", "path", "status", "sync_info")
  }

  /** DESCRIBE COLUMN rows: the children of the complex column at
    * `fieldPath`; drilling "through" a collection addresses its
    * payload. */
  private def describeColumn(spark: SparkSession, t0: GraftTable, fieldPath: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    def field(s: StructType, p: String): DataType = s.fields
      .find(_.name.equalsIgnoreCase(p))
      .getOrElse(throw new IllegalArgumentException(
        s"no field '$p' in ${s.simpleString}")).dataType
    val dt = fieldPath.split('.').foldLeft(t0.schema: DataType) {
      case (s: StructType, p) => field(s, p)
      case (ArrayType(s: StructType, _), p) => field(s, p)
      case (other, p) => throw new IllegalArgumentException(
        s"cannot drill into ${other.simpleString} at '$p'")
    }
    (dt match {
      case s: StructType =>
        s.fields.toSeq.map(f => (f.name, f.dataType.simpleString))
      case a: ArrayType => Seq(("element", a.elementType.simpleString))
      case m: MapType =>
        Seq(("key", m.keyType.simpleString), ("value", m.valueType.simpleString))
      case other => Seq((fieldPath.split('.').last, other.simpleString))
    }).toDF("child", "data_type")
  }

  /** CREATE STREAM builds its own source (reference
    * CarbonCreateStreamCommand.scala:149-181,246-252): any relation in
    * the AS SELECT that resolves to a graft table carrying TBLPROPERTIES
    * `'streaming'='source'` is swapped for a `readStream` relation built
    * from the table's properties ([[buildStreamSource]]). An existing
    * readStream temp view of the same name keeps precedence. */
  private def resolveStreamingSelect(spark: SparkSession, select: String): DataFrame = {
    val plan = spark.sessionState.sqlParser.parsePlan(select)
    val swapped = plan.transformUp {
      case u: UnresolvedRelation if u.multipartIdentifier.size == 1 &&
          !spark.sessionState.catalog.getTempView(u.multipartIdentifier.head).isDefined =>
        val nm = u.multipartIdentifier.head
        scala.util.Try(table(spark, nm)).toOption match {
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

  /** readStream relation from a streaming-source table's properties:
    * `'format'` (csv|json|parquet|text|socket|rate|kafka), `'path'`
    * (file formats), `'delimiter'`/`'header'` (csv/text), `'host'`/
    * `'port'`/`'value_format'` (socket), `'rows_per_second'` (rate),
    * [[kafkaSourceOptions]] + `'value_format'` (kafka). */
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
        // needs the spark-sql-kafka connector on the classpath at load
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
