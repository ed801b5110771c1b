package graft.engine

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** ALTER TABLE … SET TBLPROPERTIES('SORT_COLUMNS'/'SORT_SCOPE') —
  * reference CarbonAlterTableSetCommand semantics: metadata-only, new
  * loads and compactions write under the new spec, existing segments
  * keep their RECORDED per-segment sort, and every sort-dependent read
  * claim refuses mixed-spec tables (soundness), coming back once a
  * compaction rewrites everything under one spec. */
class AlterSortSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(): String = Files.createTempDirectory("graft_asort_").toString

  private def scanOrdering(df: org.apache.spark.sql.DataFrame): Seq[_] =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.ordering.getOrElse(Nil)
    }.getOrElse(Nil)

  test("alter sort columns: new loads sorted by new spec, old segments keep theirs") {
    val root = tmp()
    val src = spark.range(0, 4000).selectExpr(
      "id AS a", "(3999 - id) AS b", "CAST(id AS DOUBLE) AS v")
    val t = GraftTable.create(spark, s"$root/t", src.schema, sortColumns = Seq("a"))
    t.insert(src.filter(col("a") < 2000))
    assert(scanOrdering(t.read.select("a", "v")).nonEmpty)

    t.alterSortColumns(Seq("b"))
    assert(t.meta.sortColumns == Seq("b"))
    t.insert(src.filter(col("a") >= 2000))

    val segs = t.status.visible.sortBy(_.id)
    assert(segs.map(_.sortColumns) == Seq(Seq("a"), Seq("b")),
      "each segment records the spec it was written under")
    // mixed spec: no ordering claim on either column (a wrong claim
    // would silently drop a needed Sort)
    assert(scanOrdering(t.read.select("a", "b", "v")).isEmpty)
    // values complete regardless
    assert(t.read.count() == 4000)
    assert(t.read.agg(sum("a")).collect().head.getLong(0) == 4000L * 3999 / 2)

    // compaction rewrites under the NEW spec → claim comes back on b
    t.compact("MAJOR")
    val merged = t.status.visible
    assert(merged.size == 1 && merged.head.sortColumns == Seq("b"))
    val ord = scanOrdering(t.read.select("b", "v"))
    assert(ord.nonEmpty, "post-compaction single-spec table must report ordering")
    assert(t.read.count() == 4000)
  }

  test("NO_SORT writes record no sort columns — no false ordering claim") {
    val root = tmp()
    val src = spark.range(0, 2000).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    val t = GraftTable.create(spark, s"$root/t", src.schema, sortColumns = Seq("k"))
    t.alterSortColumns(Seq("k"), Some("NO_SORT"))
    // shuffle the input so file order is provably not k order
    t.insert(src.orderBy(expr("hash(id)")))
    // the segment must NOT claim it is sorted by k: the files aren't
    assert(t.status.visible.head.sortColumns.isEmpty,
      "a NO_SORT write must not record the declared sort columns")
    assert(scanOrdering(t.read.select("k", "v")).isEmpty,
      "NO_SORT segment backed a false ordering claim")
    // and the data itself must round-trip
    assert(t.read.count() == 2000)
  }

  test("physical-layout properties are immutable once data exists") {
    val root = tmp()
    val src = spark.range(0, 100).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
    val t = GraftTable.create(spark, s"$root/t", src.schema,
      sortColumns = Seq("k"),
      properties = Map("bucket_columns" -> "k", "bucket_count" -> "4"))
    t.insert(src)
    intercept[IllegalArgumentException](
      t.setProperties(Map("bucket_count" -> "8")))
    intercept[IllegalArgumentException](
      t.unsetProperties(Seq("bucket_columns")))
    // same-value set and unrelated keys still fine
    t.setProperties(Map("bucket_count" -> "4", "some.tag" -> "x"))
    assert(t.meta.properties.get("some.tag").contains("x"))
  }

  test("alter sort scope + validation") {
    val root = tmp()
    val src = spark.range(0, 100).selectExpr("id AS k", "CAST(id AS STRING) AS s")
    val t = GraftTable.create(spark, s"$root/t", src.schema, sortColumns = Seq("k"))
    t.alterSortColumns(Seq("k"), Some("global_sort"))
    assert(t.meta.sortScope == "GLOBAL_SORT")
    intercept[IllegalArgumentException](t.alterSortColumns(Seq("nope")))
    intercept[IllegalArgumentException](t.alterSortColumns(Seq("k"), Some("BAD")))
    // SORT_COLUMNS='' → NO sort recorded for future loads
    t.alterSortColumns(Nil)
    assert(t.meta.sortColumns.isEmpty)
  }

  test("fuzz: random insert/alter/compact sequences preserve values and ORDER BY") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 2) {
      val root = tmp()
      val t = GraftTable.create(spark,
        s"$root/t$trial",
        spark.range(0).selectExpr("id AS a", "id AS b", "CAST(id AS DOUBLE) AS v").schema,
        sortColumns = Seq("a"))
      var n = 0L
      var sumA = 0L
      def insert(): Unit = {
        val lo = rnd.nextInt(5000); val sz = 500 + rnd.nextInt(1500)
        val src = spark.range(lo, lo + sz).selectExpr(
          "id AS a", s"(${lo + sz} - id) AS b", "CAST(id AS DOUBLE) AS v")
        t.insert(src.orderBy(expr("hash(id)"))) // pre-shuffled input
        n += sz; sumA += (lo.toLong + (lo + sz - 1)) * sz / 2
      }
      insert()
      for (_ <- 0 until 6) {
        rnd.nextInt(4) match {
          case 0 => insert()
          case 1 => t.alterSortColumns(
            if (rnd.nextBoolean()) Seq("a") else Seq("b"),
            Some(Seq("NO_SORT", "LOCAL_SORT", "GLOBAL_SORT")(rnd.nextInt(3))))
          case 2 => t.compact("MAJOR")
          case 3 => insert()
        }
        // values always complete…
        val agg = t.read.agg(count(lit(1)), sum(col("a"))).collect().head
        assert(agg.getLong(0) == n && agg.getLong(1) == sumA,
          s"value drift after op (trial $trial)")
        // …and ORDER BY is always CORRECT: if a false ordering claim
        // ever slipped through, Spark would elide the needed Sort here
        val got = t.read.orderBy(col("a")).select(col("a"))
          .collect().map(_.getLong(0))
        assert(got.sameElements(got.sorted), s"ORDER BY broke (trial $trial)")
      }
    }
  }

  test("SQL surfaces: GraftSql path form and catalog SET TBLPROPERTIES form") {
    val root = tmp()
    val src = spark.range(0, 500).selectExpr("id AS a", "(499 - id) AS b")
    val t = GraftTable.createAsSelect(spark, s"$root/t", src, Seq("a"))
    // path-table form through the command grammar
    spark.sql(
      s"ALTER TABLE `$root/t` SET TBLPROPERTIES('sort_columns'='b', " +
        "'sort_scope'='LOCAL_SORT', 'custom.tag'='x')")
    assert(t.meta.sortColumns == Seq("b"))
    assert(t.meta.sortScope == "LOCAL_SORT")
    assert(t.meta.properties.get("custom.tag").contains("x"))
    assert(!t.meta.properties.contains("sort_columns"),
      "sort spec must not leak into the property bag")
    spark.sql(
      s"ALTER TABLE `$root/t` UNSET TBLPROPERTIES('custom.tag', 'sort_columns')")
    assert(t.meta.sortColumns.isEmpty)
    assert(!t.meta.properties.contains("custom.tag"))

    // name-based form through Spark's v2 ALTER → GraftCatalog.alterTable
    val w = Files.createTempDirectory("graft_asort_wh_").toString
    spark.conf.set("spark.sql.catalog.gasort", "graft.engine.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gasort.warehouse", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gasort.ns")
    spark.sql("CREATE TABLE gasort.ns.t (k INT, j INT) USING carbonish " +
      "TBLPROPERTIES ('sort_columns'='k')")
    spark.sql("ALTER TABLE gasort.ns.t SET TBLPROPERTIES('sort_columns'='j')")
    assert(GraftTable.at(spark, s"$w/ns/t").meta.sortColumns == Seq("j"))
    spark.sql("ALTER TABLE gasort.ns.t SET TBLPROPERTIES('sort_scope'='GLOBAL_SORT')")
    assert(GraftTable.at(spark, s"$w/ns/t").meta.sortScope == "GLOBAL_SORT")
  }

  test("catalog ALTER SET TBLPROPERTIES commits the statement once: a rejected key leaves the sort spec") {
    val w = Files.createTempDirectory("graft_asort_once_").toString
    spark.conf.set("spark.sql.catalog.gasort1", "graft.engine.catalog.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gasort1.warehouse", w)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS gasort1.ns")
    spark.sql("CREATE TABLE gasort1.ns.t (k INT, j INT) USING carbonish " +
      "TBLPROPERTIES ('sort_columns'='k', 'bucket_columns'='k', 'bucket_count'='4')")
    spark.sql("INSERT INTO gasort1.ns.t VALUES (1, 2), (3, 4)")
    val t = GraftTable.at(spark, s"$w/ns/t")
    // bucket_count cannot change once data exists, so the whole
    // statement must fail — including its sort_columns part
    val e = intercept[Exception](spark.sql(
      "ALTER TABLE gasort1.ns.t SET TBLPROPERTIES('sort_columns'='j', 'bucket_count'='8')"))
    assert(e.getMessage.contains("bucket_count"), e.getMessage)
    assert(t.meta.sortColumns == Seq("k"), "the rejected statement altered the sort spec")
    assert(t.meta.properties.get("bucket_count").contains("4"))
  }
}
