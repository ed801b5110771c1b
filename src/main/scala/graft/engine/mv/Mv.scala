package graft.engine.mv

import graft.engine.GraftTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}

/** Materialized views with query rewrite.
  *
  * Reference: CREATE MATERIALIZED VIEW + MVRewriteRule + the MVMatcher
  * subsumption algebra (CarbonCreateMVCommand.scala:60,
  * MVRewriteRule.scala:44, MVMatcher.scala:54-61, rollup decomposition
  * AggregatePushDown.scala:73-137). Scoped per SURVEY §7.4 to the
  * patterns that pay: an MV is an Aggregate over an arbitrary
  * (canonically-comparable) child; a query Aggregate is rewritten when
  *   - its child subtree is canonically identical to the MV's child, and
  *   - its grouping expressions are a subset of the MV's, and
  *   - every aggregate decomposes over the MV's partial results
  *     (sum→sum, count→sum of counts, min→min, max→max,
  *      avg→sum/count — avg is auto-expanded at CREATE time).
  * The rewritten plan re-aggregates the (small) MV table, so both exact
  * matches and group-subset rollups are served by one code path.
  */
case class MvDef(
    name: String,
    plan: LogicalPlan, // optimized MV plan (avg expanded) — used for
                       // matching; an Aggregate (groupby MV) or an SPJ
                       // plan (select-only MV: Project/Filter/Join only)
    build: LogicalPlan, // analyzed plan (avg expanded) — re-resolves base
                        // table state at materialization time
    path: String,
    // WITH DEFERRED REFRESH (docs/mv-guide.md:147-161): deferred MVs
    // only catch up on an explicit REFRESH; non-deferred ones are
    // refreshed by the base table's load commit
    deferred: Boolean = false) {
  /** The groupby-MV view of the plan, when it is one. */
  def asAgg: Option[Aggregate] = plan match {
    case a: Aggregate => Some(a); case _ => None
  }
}

/** In-memory session catalog. Persistence lives in [[MvStore]]: every
  * create/refresh ALSO writes `<mvPath>/_meta/mvdef.bin`, and
  * [[Mv.load]] re-hydrates defs after a JVM restart
  * (the reference keeps MV schemas in its metastore for the same
  * reason, CarbonCreateMVCommand.scala:60). */
object MvCatalog {
  private val views = scala.collection.mutable.LinkedHashMap.empty[String, MvDef]
  // base-table segments already folded into each MV, FINGERPRINTED by
  // row count: file-grain mutation and metadata DROP PARTITION shrink a
  // segment IN PLACE (same id, fewer rows), so an id-only watermark
  // would serve / incrementally fold a stale MV
  // keyed by base-table path: a join MV folds several carbonish bases,
  // and each base's visible-segment fingerprints gate serving/refresh
  private val refreshed = scala.collection.mutable.HashMap.empty[String, Map[String, Map[Long, Long]]]
  def register(d: MvDef): Unit = synchronized { views(d.name) = d }
  def drop(name: String): Unit = synchronized { views.remove(name); refreshed.remove(name) }
  def all: Seq[MvDef] = synchronized { views.values.toSeq }
  def get(name: String): Option[MvDef] = synchronized { views.get(name) }
  def refreshedSegments(name: String): Map[String, Map[Long, Long]] = synchronized { refreshed.getOrElse(name, Map.empty) }
  def setRefreshedSegments(name: String, s: Map[String, Map[Long, Long]]): Unit = synchronized { refreshed(name) = s }
  /** Atomic read-modify-write of a watermark: rebase-after-compaction
    * must not compute from a snapshot another thread's refresh is about
    * to replace and then overwrite it (two separate get/set calls leave
    * exactly that window). `f` runs INSIDE the catalog lock — keep it
    * pure. */
  def updateRefreshedSegments(name: String)(
      f: Map[String, Map[Long, Long]] => Map[String, Map[Long, Long]]): Map[String, Map[Long, Long]] =
    synchronized {
      val next = f(refreshed.getOrElse(name, Map.empty))
      refreshed(name) = next
      next
    }
}

object Mv {
  /** An MV plan that is not an Aggregate must be pure
    * select-project-join: Project/Filter/Join over leaves, everything
    * deterministic. Windows, unions, limits, generators etc. have no
    * matcher and must not silently register as unservable MVs. */
  private def requireSpj(p: LogicalPlan, what: String): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical._
    p.foreach {
      case _: Project | _: Filter | _: Join | _: LeafNode | _: SubqueryAlias => ()
      case other => throw new IllegalArgumentException(
        s"MV must be an aggregation or a select-project-join query, " +
          s"got ${other.nodeName} ($what)")
    }
    p.foreach {
      case n if n.expressions.exists(!_.deterministic) =>
        throw new IllegalArgumentException(
          s"MV plan contains a non-deterministic expression ($what)")
      case _ => ()
    }
  }

  /** CREATE MATERIALIZED VIEW name AS <df> stored at `path`.
    * avg(x) is expanded to sum(x)+count(x) so rollups can reconstruct it
    * (reference AggregatePushDown.scala:73-78). A non-aggregate
    * (select-only) query is accepted when it is pure SPJ — the
    * reference MVMatcher's SelectSelectNoChildDelta class
    * (MVMatcher.scala:613) serves projection/filter caches the same
    * way. */
  def create(spark: SparkSession, name: String, df: DataFrame, path: String,
      sortColumns: Seq[String] = Nil, deferred: Boolean = false): MvDef = {
    def prep(p: LogicalPlan, what: String): LogicalPlan = p match {
      case a: Aggregate => expandAvg(a)
      case other => requireSpj(other, what); other
    }
    val matchPlan = prep(df.queryExecution.optimizedPlan, "optimized")
    val buildPlan = prep(df.queryExecution.analyzed, "analyzed")
    val mvDf = MvRewriteRule.withoutRewrite {
      org.apache.spark.sql.graft.Shims.ofRows(spark, buildPlan)
    }
    val snapshot = baseSegmentSnapshot(spark, buildPlan) // before materializing
    GraftTable.drop(spark, path)
    GraftTable.createAsSelect(spark, path, mvDf, sortColumns)
    val d = MvDef(name, matchPlan, buildPlan, path, deferred)
    MvCatalog.register(d)
    snapshot.foreach(s => MvCatalog.setRefreshedSegments(name, s))
    persist(spark, d)
    d
  }

  /** Best-effort def persistence: an MV over an un-stubbable relation
    * (e.g. an in-memory DataFrame) stays session-only rather than
    * failing CREATE. */
  private def persist(spark: SparkSession, d: MvDef): Unit =
    try MvStore.save(spark, d)
    catch { case scala.util.control.NonFatal(_) => () }

  /** Re-register an MV persisted at `mvPath` by a previous session.
    * Returns None if no (readable) def is stored there. */
  def load(spark: SparkSession, mvPath: String): Option[MvDef] =
    MvStore.load(spark, mvPath).map { case (d, refreshed) =>
      // the open attaches graft, and so the rewrite rule, to `spark`
      // even when every base of the MV is plain parquet
      GraftTable.at(spark, d.path)
      MvCatalog.register(d)
      refreshed.foreach(s => MvCatalog.setRefreshedSegments(d.name, s))
      d
    }

  /** Visible base segments (path → id → rowCount fingerprint) for every
    * carbonish table in the build plan — one entry per base of a join
    * MV. None when no base is carbonish (parquet-directory bases are
    * treated as immutable). */
  private def baseSegmentSnapshot(
      spark: SparkSession, build: LogicalPlan): Option[Map[String, Map[Long, Long]]] = {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    val paths = build.collectLeaves().collect {
      case r: DataSourceV2Relation => r.table
    }.collect { case t: graft.engine.source.CarbonishTable => t.tablePath }.distinct
    if (paths.isEmpty) None
    else Some(paths.map(p => p -> GraftTable.at(spark, p).status.visible
      .map(s => s.id -> s.rowCount).toMap).toMap)
  }

  /** REFRESH MATERIALIZED VIEW: full rebuild (reference supports
    * full/incremental; incremental is future work). */
  def refresh(spark: SparkSession, name: String): Unit = {
    val d = MvCatalog.get(name).getOrElse(
      throw new IllegalArgumentException(s"no MV $name"))
    val t = GraftTable.at(spark, d.path)
    val snapshot = baseSegmentSnapshot(spark, d.build)
    MvRewriteRule.withoutRewrite {
      // the guard stops the rule from rewriting the refresh query into a
      // read of the (stale) MV itself; `build` re-resolves base segments
      t.insert(org.apache.spark.sql.graft.Shims.ofRows(spark, d.build),
        overwrite = true)
    }
    snapshot.foreach(s => MvCatalog.setRefreshedSegments(name, s))
    persist(spark, d) // refresh watermark rides the def file
  }

  def drop(spark: SparkSession, name: String): Unit = {
    MvCatalog.get(name).foreach(d => GraftTable.drop(spark, d.path))
    MvCatalog.drop(name)
  }

  /** Compaction rewrites rows unchanged (MoR deltas folded in), so an
    * MV that had folded exactly the victim segments is still DATA-fresh
    * afterwards — rebase its watermark onto the merged segment instead
    * of forcing a recompute. Applies only with identity evidence: every
    * victim must appear in the folded snapshot with its pre-compaction
    * fingerprint AND the merged row count must equal the victims' sum.
    * Anything else leaves the watermark alone and the serving gate
    * refuses, exactly as before. Metadata-only, so it covers deferred
    * MVs too. */
  def rebaseAfterCompaction(spark: SparkSession, basePath: String,
      victims: Map[Long, Long], newId: Long, newRows: Long): Unit =
    MvCatalog.all.foreach { d =>
      // read-check-rebase runs as ONE atomic update inside the catalog
      // lock: a refresh/load racing this rebase could otherwise publish
      // a new watermark between our read and write and have it silently
      // overwritten with one derived from the pre-refresh snapshot
      var changed = false
      MvCatalog.updateRefreshedSegments(d.name) { byPath =>
        byPath.get(basePath) match {
          case Some(folded)
              if victims.nonEmpty &&
                victims.forall { case (id, n) => folded.get(id).contains(n) } &&
                victims.values.sum == newRows =>
            changed = true
            byPath + (basePath -> ((folded -- victims.keys) + (newId -> newRows)))
          case _ => byPath
        }
      }
      if (changed) persist(spark, d)
    }

  /** Refresh-on-commit hook (reference "Loading data on commit",
    * docs/mv-guide.md:138-146): after a base-table load publishes,
    * every registered NON-deferred MV reading that table catches up —
    * incrementally when its aggregates decompose, full otherwise.
    * A failed MV refresh must never fail the load that triggered it:
    * the MV simply stays stale, and the serving gate already refuses
    * stale MVs. Deferred MVs wait for an explicit REFRESH. */
  def autoRefreshFor(spark: SparkSession, basePath: String): Unit =
    MvCatalog.all.filterNot(_.deferred).foreach { d =>
      import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
      val bases = d.build.collectLeaves().collect {
        case r: DataSourceV2Relation => r.table
      }.collect { case t: graft.engine.source.CarbonishTable => t.tablePath }
      if (bases.contains(basePath)) {
        // only MVs whose catch-up is a DELTA fold run in the load path:
        // a non-incremental MV (join MVs, avg/composite aggregates)
        // would pay a FULL join+aggregate recompute inside every small
        // load. Those stay stale behind the serving gate until an
        // explicit REFRESH — same contract as deferred, minus the
        // intent (set mv.fullrefresh_on_commit=true on the base table
        // to opt a table's loads into full rebuilds anyway).
        val fullOk = try {
          GraftTable.at(spark, basePath).meta.properties
            .get("mv.fullrefresh_on_commit").exists(_.equalsIgnoreCase("true"))
        } catch { case scala.util.control.NonFatal(_) => false }
        if (incrementalCapable(d) || fullOk) {
          try refreshIncremental(spark, d.name)
          catch {
            case scala.util.control.NonFatal(e) =>
              org.slf4j.LoggerFactory.getLogger("graft.engine.mv.Mv").warn(
                s"refresh-on-commit of MV '${d.name}' after load to $basePath " +
                  s"failed — MV stays stale and will not serve", e)
          }
        } else org.slf4j.LoggerFactory.getLogger("graft.engine.mv.Mv").info(
          s"MV '${d.name}' is not incremental-capable — staying stale after " +
            s"load to $basePath (serving gate refuses until REFRESH)")
      }
    }

  /** SHOW MATERIALIZED VIEWS. */
  def show: Seq[(String, String)] = MvCatalog.all.map(d => (d.name, d.path))

  /** Carbonish base paths of an MV's build plan (empty for pure
    * parquet-directory bases, which are treated as immutable). */
  private[mv] def carbonishBases(d: MvDef): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    d.build.collectLeaves().collect { case r: DataSourceV2Relation => r.table }
      .collect { case t: graft.engine.source.CarbonishTable => t.tablePath }
      .distinct
  }

  /** Would the serving gate pass right now? Same per-base fingerprint
    * test [[MvRewriteRule]] applies before rewriting. */
  def isFresh(spark: SparkSession, d: MvDef): Boolean = {
    val folded = MvCatalog.refreshedSegments(d.name)
    carbonishBases(d).forall { p =>
      val vis = new graft.engine.format.TableLayout(
        p, spark.sessionState.newHadoopConf())
        .readStatus().visible.map(s => s.id -> s.rowCount).toMap
      folded.getOrElse(p, Map.empty[Long, Long]) == vis
    }
  }

  /** Per-output delta-merge classification — the ONE place that decides
    * whether an MV's outputs decompose over new-segment deltas. Used by
    * both [[incrementalCapable]] (SHOW MATERIALIZED VIEWS refresh_mode,
    * the on-commit gate) and [[refreshIncremental]]'s merge builder, so
    * the advertised mode can never drift from actual refresh behavior.
    * G = grouping column, S = sum-mergeable (sum/count), Mn/Mx =
    * min/max-mergeable. None = a non-decomposable output (avg,
    * distinct, filtered, composite). */
  private[mv] sealed trait Kind
  private[mv] case object G extends Kind; private[mv] case object S extends Kind
  private[mv] case object Mn extends Kind; private[mv] case object Mx extends Kind
  private[mv] def outputKinds(d: MvDef): Option[Seq[(String, Kind)]] =
    d.asAgg.flatMap { agg =>
      val groupCanon = agg.groupingExpressions.map(_.canonicalized).toSet
      val kinds = agg.aggregateExpressions.map { ne =>
        val core = ne match { case Alias(c, _) => c; case other => other }
        if (groupCanon.contains(core.canonicalized)) Some(ne.name -> (G: Kind))
        else core match {
          case AggregateExpression(_: Sum, _, false, None, _) => Some(ne.name -> (S: Kind))
          case AggregateExpression(_: Count, _, false, None, _) => Some(ne.name -> (S: Kind))
          case AggregateExpression(_: Min, _, false, None, _) => Some(ne.name -> (Mn: Kind))
          case AggregateExpression(_: Max, _, false, None, _) => Some(ne.name -> (Mx: Kind))
          case _ => None // avg and composite expressions: not mergeable
        }
      }
      if (kinds.exists(_.isEmpty)) None else Some(kinds.flatten)
    }

  /** The single-carbonish-base precondition both incremental paths
    * share: the delta is definable only when exactly one scan leaf
    * feeds the MV and it is a segment-ledgered (carbonish) table. */
  private def singleCarbonishBase(d: MvDef): Boolean = {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    d.build.collectLeaves().collect { case r: DataSourceV2Relation => r } match {
      case Seq(r) => r.table.isInstanceOf[graft.engine.source.CarbonishTable]
      case _ => false
    }
  }

  /** Whether [[refreshIncremental]] can take a delta path: one
    * carbonish base, and either every output decomposes
    * ([[outputKinds]]) or the MV is select-only (a new segment's rows
    * just APPEND — a projection/filter distributes over union). */
  def incrementalCapable(d: MvDef): Boolean =
    singleCarbonishBase(d) && (d.asAgg match {
      case Some(_) => outputKinds(d).isDefined
      case None => true // select-only: delta rows append
    })

  /** SHOW MATERIALIZED VIEWS [ON TABLE p] rows, reference column set
    * (docs/mv-guide.md:225-245): status mirrors the serving gate,
    * refresh mode mirrors the incremental capability, trigger mode is
    * the deferred flag. */
  def showDetailed(spark: SparkSession, onTable: Option[String] = None)
      : Seq[(String, String, String, String, String)] =
    MvCatalog.all
      .filter(d => onTable.forall(p => carbonishBases(d).contains(p)))
      .map { d =>
        (d.name,
          if (isFresh(spark, d)) "ENABLED" else "DISABLED",
          if (incrementalCapable(d)) "INCREMENTAL" else "FULL",
          if (d.deferred) "ON_MANUAL" else "ON_COMMIT",
          d.path)
      }

  /** Incremental refresh (reference mv-guide "incremental refresh"):
    * when the MV's base is a single carbonish table that has only grown
    * since the last refresh, fold ONLY the new segments' delta aggregate
    * into the stored MV (sum→sum, count→sum, min/max→min/max) instead of
    * re-scanning the whole base. Falls back to a full refresh otherwise.
    * Returns true if the incremental path was taken. */
  def refreshIncremental(spark: SparkSession, name: String): Boolean = {
    import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
    import org.apache.spark.sql.functions.{col, count => _, _}
    val d = MvCatalog.get(name).getOrElse(
      throw new IllegalArgumentException(s"no MV $name"))

    def fullRefresh(): Boolean = { refresh(spark, name); false }

    // base = exactly one carbonish relation in the build plan
    val rels = d.build.collectLeaves().collect { case r: DataSourceV2Relation => r }
    val basePath = rels match {
      case Seq(r) => r.table match {
        case t: graft.engine.source.CarbonishTable => Some((r, t.tablePath))
        case _ => None
      }
      case _ => None
    }
    if (basePath.isEmpty) return fullRefresh()
    val (oldRel, path) = basePath.get

    // every output must be a grouping column or a self-decomposable agg
    // (shared classification — also SHOW MATERIALIZED VIEWS's
    // refresh_mode); a select-only MV (no Aggregate) takes the
    // append-delta branch below instead
    val selectOnly = d.asAgg.isEmpty
    val kindsOpt = outputKinds(d)
    if (!selectOnly && kindsOpt.isEmpty) return fullRefresh()

    val base = GraftTable.at(spark, path)
    val vis = base.status.visible.map(s => s.id -> s.rowCount).toMap
    val done = MvCatalog.refreshedSegments(name).getOrElse(path, Map.empty)
    // every folded segment must still be visible WITH ITS FOLDED ROW
    // COUNT — file-grain mutation / metadata DROP PARTITION shrink a
    // segment in place, and folding only the delta would double-count
    // the removed rows
    if (!done.forall { case (id, n) => vis.get(id).contains(n) })
      return fullRefresh() // deletes/compaction/in-place shrink happened
    val fresh = vis.keySet -- done.keySet
    if (fresh.isEmpty) return true

    // delta aggregate over only the new segments
    val pinned = spark.read.format("carbonish")
      .option("segments", fresh.toSeq.sorted.mkString(","))
      .load(path).queryExecution.analyzed.asInstanceOf[DataSourceV2Relation]
    val amap = oldRel.output.map(a =>
      a.exprId -> pinned.output.find(_.name == a.name).getOrElse(return fullRefresh())).toMap
    val deltaPlan = d.build.transformUp {
      case r: DataSourceV2Relation if r.eq(oldRel) => pinned
    }.transformAllExpressions {
      case a: AttributeReference => amap.getOrElse(a.exprId, a)
    }
    val deltaDf = MvRewriteRule.withoutRewrite {
      org.apache.spark.sql.graft.Shims.ofRows(spark, deltaPlan)
    }

    val mvT = GraftTable.at(spark, d.path)
    if (selectOnly) {
      // select-only MV: the projection/filter distributes over union, so
      // the new segments' projected rows simply APPEND as a new MV
      // segment — no re-read of the stored MV at all (the 100 TB shape:
      // a load folds in O(delta), not O(MV))
      MvRewriteRule.withoutRewrite { mvT.insert(deltaDf, overwrite = false) }
    } else {
      // merge stored MV + delta by group, combining partials; an
      // aggregate-free MV (SELECT DISTINCT shape — every output is a
      // grouping column) combines by deduplication instead
      val names = kindsOpt.get
      val groupNames = names.collect { case (n, G) => n }
      val combiners = names.collect {
        case (n, S) => sum(col(n)).as(n)
        case (n, Mn) => min(col(n)).as(n)
        case (n, Mx) => max(col(n)).as(n)
      }
      val combined = MvRewriteRule.withoutRewrite {
        val unioned = mvT.read.unionByName(deltaDf)
        if (combiners.isEmpty) unioned.dropDuplicates(groupNames)
        else unioned
          .groupBy(groupNames.map(col): _*)
          .agg(combiners.head, combiners.tail: _*)
          .select(names.map { case (n, _) => col(n) }: _*)
      }
      // the write ACTION must also run with rewriting off — the rule
      // fires at optimization time, not DataFrame-construction time
      MvRewriteRule.withoutRewrite { mvT.insert(combined, overwrite = true) }
    }
    MvCatalog.setRefreshedSegments(name, Map(path -> vis))
    persist(spark, d)
    true
  }

  /** Replace every Average with Sum+Count pairs (keeping one column per
    * distinct child), so the stored MV carries decomposable parts. */
  private[mv] def expandAvg(agg: Aggregate): Aggregate = {
    val extra = scala.collection.mutable.ArrayBuffer.empty[NamedExpression]
    val rewritten = agg.aggregateExpressions.map { ne =>
      ne.transform {
        case ae @ AggregateExpression(Average(child, _), _, false, _, _) =>
          // keep avg itself in the MV output (it may be selected as-is),
          // and add sum/count companions for rollup reconstruction
          val s = AggregateExpression(Sum(child), ae.mode, ae.isDistinct)
          val c = AggregateExpression(Count(Seq(child)), ae.mode, ae.isDistinct)
          extra += Alias(s, s"__mv_sum_${extra.size}")()
          extra += Alias(c, s"__mv_cnt_${extra.size}")()
          ae
      }.asInstanceOf[NamedExpression]
    }
    agg.copy(aggregateExpressions = rewritten ++ extra)
  }
}
