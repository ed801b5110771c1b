package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.sources.Filter

/** Narrow bridge to `protected[sql]` Spark internals. The reference
  * integrates the same way — its Spark-side code lives inside the
  * `org.apache.spark.sql` package tree (e.g. CarbonSource.scala,
  * CarbonSourceStrategy.scala) precisely to reach these hooks. */
object Shims {
  /** Catalyst predicate → DSv2 source filter (for segment-stat pruning). */
  def translateFilter(e: Expression): Option[Filter] =
    DataSourceStrategy.translateFilter(e, supportNestedPredicatePushdown = true)

  /** DataFrame from a logical plan (private[sql] Dataset.ofRows). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Column from a raw catalyst Expression (private[sql] in Spark 4). */
  def column(e: Expression): org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  def expression(c: org.apache.spark.sql.Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** The parquet reader's magic row-index column (private[sql]
    * constant): a read schema containing this field makes both the
    * vectorized and parquet-mr readers emit each row's file-level row
    * index — correct under splits and row-group skipping. The
    * merge-on-read delta filter keys on it. */
  def rowIndexTempField: org.apache.spark.sql.types.StructField =
    org.apache.spark.sql.types.StructField(
      rowIndexTempName, org.apache.spark.sql.types.LongType)

  def rowIndexTempName: String =
    org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
      .ROW_INDEX_TEMPORARY_COLUMN_NAME

  /** Clone of a session — shares the SparkContext and copies session
    * state (SQL confs, temp views, catalog registrations), so a query
    * row can pin planner confs on the clone without mutating the
    * caller's session (advisor r14: a concurrent runner sharing one
    * session would race a set/restore pair). `cloneSession` is
    * private[sql]; this bridge is the supported in-tree idiom. */
  def cloneSession(s: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.SparkSession =
    s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].cloneSession()

  /** Arrow IPC record batches of a DataFrame (private[sql]
    * Dataset.toArrowBatchRdd) — one serialized batch per
    * `spark.sql.execution.arrow.maxRecordsPerBatch` rows. */
  def toArrowBatchRdd(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.rdd.RDD[Array[Byte]] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .toArrowBatchRdd

  /** The reverse: Arrow batches + schema JSON back to a DataFrame. */
  def fromArrowBatches(
      spark: org.apache.spark.sql.SparkSession,
      batches: Iterator[Array[Byte]],
      schemaJson: String): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.execution.arrow.ArrowConverters.toDataFrame(
      batches, schemaJson,
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession])

  /** Drain the listener bus (private[spark]) — specs that count Spark
    * jobs via a listener need the events delivered before asserting. */
  def waitListenerBus(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** Register a (table-valued) function builder under a SQL name on a
    * running session (private[sql] registries) — the runtime twins of
    * `injectFunction`/`injectTableFunction`. */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name),
      graft.engine.GraftSession.info(name), builder)
  def registerTableFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Unit =
    spark.sessionState.tableFunctionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name),
      graft.engine.GraftSession.info(name), builder)

  /** A Scala UDF as a function builder: the ScalaUDF expression
    * `spark.udf.register` would build, named so plans show `name`. */
  def udfBuilder(name: String,
      f: org.apache.spark.sql.expressions.UserDefinedFunction)
      : Seq[Expression] => Expression = {
    val named = f.withName(name)
      .asInstanceOf[org.apache.spark.sql.expressions.SparkUserDefinedFunction]
    children => org.apache.spark.sql.classic.UserDefinedFunctionUtils.toScalaUDF(named, children)
  }

  /** v1 parquet relation over a caller-supplied FileIndex. Unlike the
    * DSv2 FileTable path this exposes the `_metadata` columns (tupleId),
    * while the custom index keeps segment-level pruning in the loop. */
  def parquetRelationDf(
      spark0: org.apache.spark.sql.SparkSession,
      index: org.apache.spark.sql.execution.datasources.FileIndex,
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val spark = spark0.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rel = HadoopFsRelation(
      index, org.apache.spark.sql.types.StructType(Nil), schema, None,
      new ParquetFileFormat, Map.empty)(spark)
    org.apache.spark.sql.classic.Dataset.ofRows(spark, LogicalRelation(rel))
  }

  /** Free the pinned blocks of a `localCheckpoint`ed DataFrame.
    * `df.unpersist()` goes through the CacheManager, which only knows
    * plans cached via `persist()` — a checkpointed frame's blocks are
    * RDD-level and live until driver GC otherwise. Safe ONLY when the
    * frame's contents are no longer needed: a checkpointed frame has
    * no lineage, so the data cannot be recomputed after this. */
  def freeLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
      .queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false)
      case _ => () // not a checkpointed frame: nothing pinned here
    }

  /** Wrap an InternalRow RDD as a DataFrame, optionally tagged
    * `isStreaming=true` — MicroBatchExecution asserts that tag on every
    * v1 `Source.getBatch` result, and the change-feed source computes
    * each batch as a regular BATCH query (a metadata diff + exceptAll
    * pair) whose lazy `toRdd` is re-wrapped through here. */
  def internalCreateDataFrame(
      spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType,
      isStreaming: Boolean): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema, isStreaming)
}
