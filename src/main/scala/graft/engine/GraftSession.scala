package graft.engine

import graft.engine.catalog.GraftDmlStrategy
import graft.engine.index.{SiRewriteRule, TextMatchRule, TextMatchSql}
import graft.engine.mv.MvRewriteRule

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graft.Shims

/** The parts graft adds to a Spark session — the analog of the
  * reference's CarbonExtensions (CarbonExtensions.scala:31-62): the MV,
  * SI and text_match optimizer rules, the DML strategy (SQL UPDATE and
  * MERGE INTO on carbonish tables), graft's SQL functions and the
  * `TABLE_CHANGES` table function. [[GraftExtensions]] injects them,
  * with graft's statement parser, when a session is built;
  * [[install]] puts them on any other session at its first table open
  * ([[GraftTable]]'s constructor, [[catalog.GraftCatalog]]'s
  * `loadTable`), so what a query gets never depends on what its session
  * ran before. */
object GraftSession {
  // ExperimentalMethods' rule and strategy lists are plain vars: two
  // unsynchronized read-modify-writes could drop one another's entries
  private val lock = new Object

  // MV first: a whole aggregate served by an MV beats an index pinning
  // its input, and a pinned scan no longer matches the MV
  private[engine] def rules: Seq[Rule[LogicalPlan]] =
    Seq(new MvRewriteRule, new SiRewriteRule, new TextMatchRule)

  private[engine] def strategy: GraftDmlStrategy = new GraftDmlStrategy

  private[engine] lazy val functions: Seq[(String, Seq[Expression] => Expression)] =
    (TextMatchSql.markers ++ graft.functions.GraftFunctions.sqlUdfs ++
        graft.geo.Geo.sqlUdfs).map { case (name, f) => name -> Shims.udfBuilder(name, f) } ++
      graft.functions.GraftFunctions.sqlNatives

  private[engine] val tableFunction = "table_changes" -> GraftSql.tableChanges

  def info(name: String): ExpressionInfo =
    new ExpressionInfo(getClass.getName, null, name, null, "", "", "", "", "", "", "built-in")

  /** Idempotent; once a session carries graft this is a lock-free check.
    * A no-op on a session built with [[GraftExtensions]]. */
  def install(spark: SparkSession): Unit =
    if (!installed(spark)) lock.synchronized {
      if (!installed(spark)) {
        functions.foreach { case (name, build) => Shims.registerFunction(spark, name, build) }
        Shims.registerTableFunction(spark, tableFunction._1, tableFunction._2)
        attachRules(spark)
        // written last: its presence is what `installed` checks
        spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ strategy
      }
    }

  /** The rules must see DSv2 scans after push-down: only the session's
    * `experimental.extraOptimizations` batch runs there, and session
    * extensions have no hook into it. Idempotent. */
  private[engine] def attachRules(spark: SparkSession): Unit =
    if (!rulesAttached(spark)) lock.synchronized {
      if (!rulesAttached(spark)) {
        val x = spark.experimental
        x.extraOptimizations = x.extraOptimizations ++ rules
      }
    }

  private def rulesAttached(spark: SparkSession): Boolean =
    spark.experimental.extraOptimizations.exists(_.isInstanceOf[MvRewriteRule])

  /** The strategy list is a volatile field written after everything
    * else, so seeing the strategy means the rest is visible too. */
  private def installed(spark: SparkSession): Boolean =
    spark.experimental.extraStrategies.exists(_.isInstanceOf[GraftDmlStrategy]) ||
      spark.sessionState.sqlParser.isInstanceOf[GraftSqlParser]
}
