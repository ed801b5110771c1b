package graft.engine

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** graft's one SQL front door, set with Spark's own conf:
  * {{{
  * spark.sql.extensions = graft.engine.GraftExtensions
  * }}}
  * A session built with it parses graft's statements inside `spark.sql`
  * ([[GraftSqlParser]]) and resolves graft's functions, `TABLE_CHANGES`,
  * rules and DML strategy before it opens any table. The parts come
  * from [[GraftSession]], the same list [[GraftSession.install]] puts on
  * sessions built without the extension. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(x: SparkSessionExtensions): Unit = {
    x.injectParser((session, delegate) => new GraftSqlParser(session, delegate))
    GraftSession.functions.foreach { case (name, build) =>
      x.injectFunction((FunctionIdentifier(name), GraftSession.info(name), build))
    }
    val (tvf, buildTvf) = GraftSession.tableFunction
    x.injectTableFunction((FunctionIdentifier(tvf), GraftSession.info(tvf), buildTvf))
    x.injectPlannerStrategy(_ => GraftSession.strategy)
    // the analyzer is built before the session optimizes its first plan,
    // so the rules are in place for every query
    x.injectCheckRule { session =>
      GraftSession.attachRules(session)
      _ => ()
    }
  }
}

object GraftExtensions {
  /** A new session carrying the extension over the running
    * SparkContext (the JVM's one). The builder makes the session it
    * creates the default and active one; both are put back, so nothing
    * else sees the new session. */
  def session(): SparkSession = {
    val (default, active) = (SparkSession.getDefaultSession, SparkSession.getActiveSession)
    try SparkSession.builder().withExtensions(new GraftExtensions).create()
    finally {
      default.fold(SparkSession.clearDefaultSession())(SparkSession.setDefaultSession)
      active.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
    }
  }
}
