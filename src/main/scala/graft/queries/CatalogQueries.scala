package graft.queries

import graft.engine.GraftTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import Q._

/** SQL-by-name correctness rows: the whole statement — resolution,
  * mutation, and the verifying read — goes through `spark.sql` against a
  * catalog-registered table name (reference: the metastore-backed
  * CarbonSource + CarbonSpark2SqlParser surface, SURVEY §2.7/§2.8).
  * The DuckDB oracle performs the same mutation relationally over the
  * original parquet, as in IudQueries. */
object CatalogQueries {

  private val lock = new Object

  /** Register a PER-SF catalog on this session (idempotent) and return
    * (catalogName, warehouseDir). Spark's CatalogManager caches the
    * catalog instance at first use, so re-pointing one name at another
    * sf's warehouse would be silently ignored — each sf gets its own
    * catalog name instead. */
  private def warehouse(s: SparkSession, d: String): (String, String) = {
    val base = new java.io.File(d).getName
    val cat = "graft_" + base.replace('.', '_')
    val w = s"${Fixtures.root}/$base/warehouse"
    s.conf.set(s"spark.sql.catalog.$cat", classOf[graft.engine.catalog.GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    (cat, w)
  }

  /** Fresh catalog table `graft.default.<name>` cloned from a pristine
    * build of `src` (same reuse-or-rebuild pattern as IudQueries: the
    * load is built once per sf, the per-run cost is a file copy, so the
    * mutation is what the bench measures). */
  private def freshCatalogTable(
      s: SparkSession, d: String, name: String, src: DataFrame,
      sortCols: Seq[String]): String = lock.synchronized {
    val (cat, w) = warehouse(s, d)
    val base = new java.io.File(d).getName
    val pristine = s"${Fixtures.root}/$base/sql_${name}_pristine"
    val p = s"$w/default/$name"
    val conf = s.sessionState.newHadoopConf()
    val pl = new graft.engine.format.TableLayout(pristine, conf)
    if (!(pl.exists && pl.readStatus().visible.nonEmpty)) {
      GraftTable.drop(s, pristine)
      GraftTable.createAsSelect(s, pristine, src, sortCols)
    }
    GraftTable.drop(s, p)
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$w/default"))
    Q.cloneTable(pristine, p) // hardlinks the immutable data files
    // drop any cached resolution of the previous incarnation
    s.catalog.clearCache()
    cat
  }

  /** Cached co-bucketed catalog table (non-destructive rows). */
  private def bucketedTable(
      s: SparkSession, d: String, name: String, src: => DataFrame,
      bucketCol: String, buckets: Int): String = lock.synchronized {
    val (cat, w) = warehouse(s, d)
    val p = s"$w/default/$name"
    val layout = new graft.engine.format.TableLayout(p, s.sessionState.newHadoopConf())
    val ok = layout.exists && layout.readStatus().visible.nonEmpty &&
      layout.readTableMeta().properties.get("bucket_columns").contains(bucketCol)
    if (!ok) {
      GraftTable.drop(s, p)
      GraftTable.createAsSelect(s, p, src, Seq(bucketCol),
        properties = Map("bucket_columns" -> bucketCol, "bucket_count" -> buckets.toString))
      s.catalog.clearCache()
    }
    cat
  }

  def queries: Map[String, QFn] = Map(
    // storage-partitioned join over two co-bucketed tables: with
    // spark.sql.sources.v2.bucketing.enabled the scans report
    // KeyGroupedPartitioning(bucket(16, custkey)) and the join plans
    // WITHOUT a shuffle on either side (plan-asserted in BucketSpec;
    // this row oracle-checks the values through the bucketed layout)
    "q_bucket_join" -> ((s, d) => {
      val cat = bucketedTable(s, d, "orders_bkt",
        t(s, d, "orders"), "o_custkey", 16)
      bucketedTable(s, d, "customer_bkt", t(s, d, "customer"), "c_custkey", 16)
      // Bench/Verify already set this at session build; for an ad-hoc
      // session the row pins it on a CLONE so it never mutates shared
      // session state (advisor r14 — the conf only affects scans that
      // REPORT bucketing, but the hygiene rule is uniform: no row
      // touches the caller's conf).
      val s2 =
        if (s.conf.get("spark.sql.sources.v2.bucketing.enabled", "false") == "true") s
        else {
          val c = org.apache.spark.sql.graft.Shims.cloneSession(s)
          c.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
          c
        }
      s2.sql(
        s"""SELECT c.c_mktsegment AS seg, count(*) AS cnt,
            CAST(sum(CAST(o.o_totalprice AS DECIMAL(12,4))) AS DOUBLE) AS sum_price
            FROM $cat.default.orders_bkt o
            JOIN $cat.default.customer_bkt c ON o.o_custkey = c.c_custkey
            GROUP BY c.c_mktsegment""")
    }),
    // Zero-sort zero-shuffle SMJ over two co-bucketed SORTED tables
    // (VERDICT r13 Next #3): the scans report KeyGroupedPartitioning
    // AND SupportsReportOrdering's sort order, so the merge join — and
    // the group-by on the same key above it — plan with NO exchange and
    // NO sort anywhere. The plan shape is asserted INSIDE the row
    // (under pinned confs) and the VALUES flow to the DuckDB oracle:
    // a wrong-but-sorted-looking ordering claim now fails the gate.
    "q_sorted_join" -> ((s, d) => {
      val cat = bucketedTable(s, d, "orders_bkt",
        t(s, d, "orders"), "o_custkey", 16)
      bucketedTable(s, d, "customer_bkt", t(s, d, "customer"), "c_custkey", 16)
      // Pin the planner confs on a CLONED session (advisor r14): the
      // clone shares the SparkContext and copies conf + catalog
      // registrations, so concurrent queries planning on the original
      // session never see the pinned values — no set/restore race.
      val s2 = org.apache.spark.sql.graft.Shims.cloneSession(s)
      val pinned = Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.join.preferSortMergeJoin" -> "true",
        "spark.sql.adaptive.enabled" -> "false")
      pinned.foreach { case (k, v) => s2.conf.set(k, v) }
      locally {
        val q = s2.sql(
          s"""SELECT o.o_custkey AS custkey, count(*) AS cnt,
              CAST(sum(CAST(o.o_totalprice AS DECIMAL(12,4))) AS DOUBLE)
                AS sum_price
              FROM $cat.default.orders_bkt o
              JOIN $cat.default.customer_bkt c ON o.o_custkey = c.c_custkey
              GROUP BY o.o_custkey""")
        val plan = q.queryExecution.executedPlan
        val smj = plan.collect {
          case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j }
        val shuffles = plan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e }
        val sorts = plan.collect {
          case e: org.apache.spark.sql.execution.SortExec => e }
        require(smj.nonEmpty, s"expected a sort-merge join; plan:\n$plan")
        require(shuffles.isEmpty && sorts.isEmpty,
          s"expected zero exchanges (got ${shuffles.size}) and zero sorts " +
            s"(got ${sorts.size}); plan:\n$plan")
        // execute the ASSERTED plan, eagerly, while bound to the pinned
        // clone — returning `q` lazily would let the consumer (bench
        // noop write, verify dump) re-plan it under other session confs
        // (typically a broadcast join), decoupling the certified plan
        // from the executed one. localCheckpoint keeps the result
        // distributed (no driver collect; the row scales with SF).
        q.localCheckpoint()
      }
    }),
    // UPDATE ... SET ... WHERE through spark.sql on a catalog table name
    "q_sql_update" -> ((s, d) => {
      val cat = freshCatalogTable(s, d, "sqlupd", t(s, d, "orders"), Seq("o_orderkey"))
      s.sql(s"UPDATE $cat.default.sqlupd SET o_orderpriority = 'X-SQL' " +
        "WHERE o_totalprice > 400000.0")
      s.sql(s"SELECT o_orderpriority, count(*) AS cnt " +
        s"FROM $cat.default.sqlupd GROUP BY o_orderpriority")
    }),
    // UPDATE … SET (…) = (SELECT …) — the reference's update-from-
    // subquery form (CarbonSpark2SqlParser.scala:259), which graft's
    // parser builds as a MERGE for the MergeBuilder: stamp each
    // high-value order's clerk with its customer's name. The grammar
    // needs a session carrying GraftExtensions.
    "q_sql_update_subquery" -> ((s, d) => {
      val cat = freshCatalogTable(s, d, "sqlupdsq", t(s, d, "orders"), Seq("o_orderkey"))
      val base = new java.io.File(d).getName
      val p = s"${Fixtures.root}/$base/warehouse/default/sqlupdsq"
      val x = graft.engine.GraftExtensions.session()
      t(x, d, "customer").createOrReplaceTempView("updsq_cust")
      x.sql(
        s"""UPDATE $p AS o SET (o_orderpriority) = (
              SELECT c.c_name FROM updsq_cust c WHERE c.c_custkey = o.o_custkey)
            WHERE o.o_totalprice > 400000.0""")
      s.sql(s"SELECT o_orderpriority, count(*) AS cnt " +
        s"FROM $cat.default.sqlupdsq GROUP BY o_orderpriority")
    }),
    // Native MERGE INTO through spark.sql against a catalog table name:
    // Spark parses + resolves the statement, GraftDmlStrategy routes it
    // to the single-projection copy-on-write MergeBuilder. Exercises
    // conditional DELETE, UPDATE and INSERT * in one statement.
    "q_sql_merge" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val src = t(s, d, "customer")
      val cat = freshCatalogTable(s, d, "sqlmrg", src, Seq("c_custkey"))
      src.filter(col("c_custkey") < 50)
        .withColumn("c_acctbal", col("c_acctbal") * 0.5)
        .union(src.filter(col("c_custkey") < 10)
          .withColumn("c_custkey", col("c_custkey") + 100000))
        .createOrReplaceTempView("sqlmrg_src")
      s.sql(
        s"""MERGE INTO $cat.default.sqlmrg tgt USING sqlmrg_src src
            ON tgt.c_custkey = src.c_custkey
            WHEN MATCHED AND src.c_acctbal < 0 THEN DELETE
            WHEN MATCHED THEN UPDATE SET c_acctbal = src.c_acctbal
            WHEN NOT MATCHED THEN INSERT *""")
      s.sql(s"SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM $cat.default.sqlmrg")
    }),
    // DELETE FROM through spark.sql (DSv2 SupportsDelete path)
    "q_sql_delete" -> ((s, d) => {
      val cat = freshCatalogTable(s, d, "sqldel", t(s, d, "orders"), Seq("o_orderkey"))
      s.sql(s"DELETE FROM $cat.default.sqldel " +
        "WHERE o_orderstatus = 'F' AND o_totalprice < 100000.0")
      s.sql(s"SELECT o_orderstatus, count(*) AS cnt, " +
        s"CAST(sum(CAST(o_totalprice AS DECIMAL(12,4))) AS DOUBLE) AS sum_price " +
        s"FROM $cat.default.sqldel GROUP BY o_orderstatus")
    })
  )

  def oracle: Map[String, String] = Map(
    "q_sorted_join" ->
      s"""SELECT o.o_custkey AS custkey, count(*) AS cnt,
          ${oDsum("o.o_totalprice")} AS sum_price
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY o.o_custkey""",
    "q_bucket_join" ->
      s"""SELECT c.c_mktsegment AS seg, count(*) AS cnt,
          ${oDsum("o.o_totalprice")} AS sum_price
          FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
          GROUP BY c.c_mktsegment""",
    "q_sql_update" ->
      """SELECT CASE WHEN o_totalprice > 400000.0 THEN 'X-SQL' ELSE o_orderpriority END
           AS o_orderpriority, count(*) AS cnt
         FROM orders GROUP BY 1""",
    "q_sql_update_subquery" ->
      """SELECT CASE WHEN o.o_totalprice > 400000.0 AND c.c_custkey IS NOT NULL
                THEN c.c_name ELSE o.o_orderpriority END AS o_orderpriority,
           count(*) AS cnt
         FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey
         GROUP BY 1""",
    "q_sql_merge" ->
      """WITH merged AS (
           SELECT c_custkey, c_name,
             CASE WHEN c_custkey < 50 THEN c_acctbal * 0.5 ELSE c_acctbal END AS c_acctbal,
             c_mktsegment
           FROM customer
           WHERE NOT (c_custkey < 50 AND c_acctbal < 0)
           UNION ALL
           SELECT c_custkey + 100000, c_name, c_acctbal, c_mktsegment
           FROM customer WHERE c_custkey < 10)
         SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM merged""",
    "q_sql_delete" ->
      s"""SELECT o_orderstatus, count(*) AS cnt, ${oDsum("o_totalprice")} AS sum_price
          FROM orders
          WHERE NOT (o_orderstatus = 'F' AND o_totalprice < 100000.0)
          GROUP BY o_orderstatus"""
  )
}
