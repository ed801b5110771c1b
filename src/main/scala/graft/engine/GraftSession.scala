package graft.engine

import graft.engine.catalog.GraftDmlStrategy
import graft.engine.index.{SiRewriteRule, TextMatchRule, TextMatchSql}
import graft.engine.mv.MvRewriteRule

import org.apache.spark.sql.SparkSession

/** The one way graft attaches to a Spark session — the analog of the
  * reference's CarbonExtensions, which injects its parser, rules and
  * strategies together (CarbonExtensions.scala:31-62). [[install]] puts
  * everything graft adds to a session onto it at once:
  *   - optimizer rules: MV rewrite, SI rewrite, text_match rewrite;
  *   - the DML strategy (SQL UPDATE and MERGE INTO on carbonish catalog
  *     tables);
  *   - SQL functions: the text_match markers, graft's functions
  *     ([[graft.functions.GraftFunctions]]) and the geo functions.
  * Every table open runs it — [[GraftTable]]'s constructor and
  * [[catalog.GraftCatalog]]'s `loadTable` — so which accelerations a
  * query gets never depends on what its session happened to run
  * before. */
object GraftSession {
  // ExperimentalMethods' rule and strategy lists are plain vars: two
  // unsynchronized read-modify-writes could drop one another's entries
  private val lock = new Object

  /** Idempotent; once a session carries graft this is a lock-free check. */
  def install(spark: SparkSession): Unit =
    if (!installed(spark)) lock.synchronized {
      if (!installed(spark)) {
        (TextMatchSql.markers ++ graft.functions.GraftFunctions.sqlUdfs ++
            graft.geo.Geo.sqlUdfs).foreach { case (name, f) =>
          spark.udf.register(name, f)
        }
        graft.functions.GraftFunctions.sqlNatives.foreach { case (name, build) =>
          org.apache.spark.sql.graft.Shims.registerNative(spark, name, build)
        }
        val x = spark.experimental
        // MV first: a whole aggregate served by an MV beats an index
        // pinning its input, and a pinned scan no longer matches the MV
        x.extraOptimizations = x.extraOptimizations ++
          Seq(new MvRewriteRule, new SiRewriteRule, new TextMatchRule)
        // written last: its presence is what `installed` checks
        x.extraStrategies = x.extraStrategies :+ new GraftDmlStrategy
      }
    }

  /** The strategy list is a volatile field written after everything
    * else, so seeing the strategy means the rest is visible too. */
  private def installed(spark: SparkSession): Boolean =
    spark.experimental.extraStrategies.exists(_.isInstanceOf[GraftDmlStrategy])
}
