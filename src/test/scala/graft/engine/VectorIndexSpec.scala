package graft.engine

import graft.engine.index.VectorIndex
import graft.ops.Ann
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Table-integrated vector index: exactness through every lifecycle
  * state (covered, uncovered load, MoR-stale, compacted), pruned-probe
  * recall, and the SQL DDL surface.
  *
  * The exactness checks all use the same contract: with nprobe = nlist
  * and a corpus-wide rerank pool, index search must equal brute force
  * over the table's CURRENT live rows — whatever mix of index-served
  * and fallback-scanned segments produced it. */
class VectorIndexSpec extends AnyFunSuite {
  import TestSpark._

  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))

  private def quant(df: DataFrame): DataFrame = df
    .select(col("vec_id").cast("long").as("id"),
      Ann.quantize(col("embedding")).as("qv"))
    .withColumn("nq", Ann.normQ(col("qv")))

  private val queries = quant(emb.filter(col("vec_id") % 50 === 0))

  private def exactTop(t: GraftTable, k: Int): Set[(Long, Long, Int)] =
    Ann.bruteForceTopK(queries,
        quant(t.read.select(col("vec_id"), col("embedding"))), k)
      .select("query_id", "neighbor_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  private def idxTop(t: GraftTable, k: Int, nprobe: Int,
      rerank: Int): Set[(Long, Long, Int)] =
    VectorIndex.search(t, "embedding", queries, k, nprobe, rerank)
      .select("query_id", "neighbor_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("exact through the segment lifecycle; pruned probe recalls; load-time maintenance") {
    val p = s"${graft.queries.Fixtures.root}/spec/vecidx"
    GraftTable.drop(spark, p)
    // manual-maintenance table first: the fallback paths must be
    // exercised, and autorefresh would repair them away
    val t0 = GraftTable.createAsSelect(spark, p,
      emb.filter(col("vec_id") % 10 =!= 0),
      properties = Map("index.autorefresh" -> "false"))
    VectorIndex.create(t0, "vec_id", "embedding", s"$p/_indexes/v",
      VectorIndex.Params(dim = 64))

    // 1. covered: full probe + full pool == brute force
    assert(idxTop(t0, 5, nprobe = 8, rerank = 100000) == exactTop(t0, 5))

    // 2. a new uncovered segment: results stay exact via the fallback
    t0.insert(emb.filter(col("vec_id") % 10 === 0))
    val (r2, lines2) = ExplainCollector.collect(
      idxTop(t0, 5, nprobe = 8, rerank = 100000))
    assert(r2 == exactTop(t0, 5), "uncovered segment broke exactness")
    assert(lines2.exists(_.contains("1/2 segments served from the index")),
      s"expected a 1/2-covered explain line, got: $lines2")

    // 3. REINDEX folds the new segment in; now fully index-served
    VectorIndex.repair(t0, "embedding")
    val (r3, lines3) = ExplainCollector.collect(
      idxTop(t0, 5, nprobe = 8, rerank = 100000))
    assert(r3 == exactTop(t0, 5))
    assert(lines3.exists(_.contains("2/2 segments served from the index")),
      s"expected a 2/2-covered explain line, got: $lines3")

    // 4. a merge-on-read delete shrinks a segment IN PLACE (same id,
    // fewer live rows): the fingerprint gate must push that segment to
    // the exact scan — deleted rows must vanish from results
    val doomed = 35L // %10 != 0 so it lives in segment 0; a neighbor-able id
    t0.deleteMor(col("vec_id") === doomed)
    val (r4, lines4) = ExplainCollector.collect(
      idxTop(t0, 5, nprobe = 8, rerank = 100000))
    assert(r4 == exactTop(t0, 5), "MoR-stale segment served stale rows")
    assert(!r4.exists(_._2 == doomed), "deleted row returned as a neighbor")
    assert(lines4.exists(_.contains("1/2 segments served from the index")),
      s"expected the shrunk segment to fall back, got: $lines4")

    // 5. repair re-encodes the shrunk segment (replacing its old index
    // rows) — fully served again, still no deleted row
    VectorIndex.repair(t0, "embedding")
    val (r5, lines5) = ExplainCollector.collect(
      idxTop(t0, 5, nprobe = 8, rerank = 100000))
    assert(r5 == exactTop(t0, 5))
    assert(!r5.exists(_._2 == doomed))
    assert(lines5.exists(_.contains("2/2 segments served from the index")))

    // 6. compaction retires the victims into a merged segment the
    // ledger has never seen: exact via fallback, then repair re-covers
    assert(t0.compact("CUSTOM", customIds = t0.status.visible.map(_.id)).nonEmpty)
    assert(idxTop(t0, 5, nprobe = 8, rerank = 100000) == exactTop(t0, 5),
      "compaction broke exactness")
    VectorIndex.repair(t0, "embedding")
    val (r6, lines6) = ExplainCollector.collect(
      idxTop(t0, 5, nprobe = 8, rerank = 100000))
    assert(r6 == exactTop(t0, 5))
    assert(lines6.exists(_.contains("1/1 segments served from the index")))

    // 7. pruned probe: equi-join only, no invented neighbors, useful
    // recall at nprobe 3/8 + pool 25 (the production search shape)
    val pruned = VectorIndex.search(t0, "embedding", queries, 5,
      nprobe = 3, rerank = 25)
    assert(!pruned.queryExecution.executedPlan.toString.contains("Cartesian"))
    val prunedPairs = pruned.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val top500 = exactTop(t0, 500).map(x => (x._1, x._2))
    assert(prunedPairs.subsetOf(top500), "pruned search invented neighbors")
    val top5 = exactTop(t0, 5).map(x => (x._1, x._2))
    val recall = (top5 & prunedPairs).size.toDouble / top5.size
    assert(recall >= 0.3, s"pruned-probe recall too low: $recall")

    // 8. load-time maintenance: with autorefresh back on, an insert
    // folds itself into the index — no manual repair
    t0.setProperties(Map("index.autorefresh" -> "true"))
    t0.insert(emb.filter(col("vec_id") % 10 === 0)
      .withColumn("vec_id", col("vec_id") + lit(20000)))
    val (r8, lines8) = ExplainCollector.collect(
      idxTop(t0, 5, nprobe = 8, rerank = 100000))
    assert(r8 == exactTop(t0, 5))
    assert(lines8.exists(_.contains("2/2 segments served from the index")),
      s"load-time maintenance did not cover the new segment: $lines8")
  }

  test("SQL DDL: CREATE/SHOW/REINDEX/REFRESH/DROP INDEX AS 'vector'") {
    val p = s"${graft.queries.Fixtures.root}/spec/vecidx_sql"
    GraftTable.drop(spark, p)
    GraftTable.createAsSelect(spark, p, emb,
      properties = Map("index.autorefresh" -> "false"))
    spark.sql(
      s"CREATE INDEX vx ON TABLE $p (vec_id, embedding) AS 'vector'")
    val t0 = GraftTable.at(spark, p)
    val shown = spark.sql(s"SHOW INDEXES ON TABLE $p")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(4), r.getString(5)))
    assert(shown.exists { case (n, k, c, st, sync) =>
      (n, k, c, st) == ("vx", "vector", "embedding", "ENABLED") &&
        sync.startsWith("1/1 segments")
    }, s"SHOW INDEXES sync info wrong: ${shown.mkString}")
    assert(idxTop(t0, 5, nprobe = 8, rerank = 100000) == exactTop(t0, 5))

    // lifecycle statements route to the vector maintenance paths; the
    // not-yet-reindexed load shows as out-of-sync in SHOW INDEXES
    t0.insert(emb.withColumn("vec_id", col("vec_id") + lit(50000)))
    val stale = spark.sql(s"SHOW INDEXES ON TABLE $p")
      .collect().map(_.getString(5))
    assert(stale.exists(_.startsWith("1/2 segments")),
      s"expected 1/2 sync after an unindexed load, got: ${stale.mkString}")
    spark.sql(s"REINDEX INDEX TABLE vx ON TABLE $p")
    val synced = spark.sql(s"SHOW INDEXES ON TABLE $p")
      .collect().map(_.getString(5))
    assert(synced.exists(_.startsWith("2/2 segments")),
      s"expected 2/2 sync after REINDEX, got: ${synced.mkString}")
    val (r1, lines1) = ExplainCollector.collect(
      idxTop(t0, 5, nprobe = 8, rerank = 100000))
    assert(r1 == exactTop(t0, 5))
    assert(lines1.exists(_.contains("2/2 segments served from the index")))
    spark.sql(s"REFRESH INDEX vx ON TABLE $p")
    assert(idxTop(t0, 5, nprobe = 8, rerank = 100000) == exactTop(t0, 5))

    spark.sql(s"DROP INDEX vx ON TABLE $p")
    assert(spark.sql(s"SHOW INDEXES ON TABLE $p").count() == 0)
    intercept[IllegalArgumentException] {
      VectorIndex.search(GraftTable.at(spark, p), "embedding", queries,
        5, 8, 100)
    }
    // a 2-column list is vector-only
    intercept[IllegalArgumentException] {
      spark.sql(
        s"CREATE INDEX bad ON TABLE $p (vec_id, embedding) AS 'carbondata'")
    }
  }

  test("WITH DEFERRED REFRESH + PROPERTIES: disabled until REFRESH, exact throughout") {
    val p = s"${graft.queries.Fixtures.root}/spec/vecidx_def"
    GraftTable.drop(spark, p)
    val t0 = GraftTable.createAsSelect(spark, p, emb) // autorefresh default ON
    spark.sql(
      s"CREATE INDEX vd ON TABLE $p (vec_id, embedding) AS 'vector' " +
        "WITH DEFERRED REFRESH PROPERTIES('nlist'='4', 'm'='4', 'dim'='64')")
    def shown() = spark.sql(s"SHOW INDEXES ON TABLE $p")
      .collect().map(r => (r.getString(4), r.getString(5))).head

    // registered DISABLED; search stays correct via the exact fallback
    val (st1, sync1) = shown()
    assert(st1 == "DISABLED" && sync1.startsWith("deferred"),
      s"expected a disabled deferred index, got ($st1, $sync1)")
    val (r1, lines1) = ExplainCollector.collect(
      idxTop(t0, 5, nprobe = 4, rerank = 100000))
    assert(r1 == exactTop(t0, 5), "deferred index broke exactness")
    assert(lines1.exists(_.contains("DEFERRED")), s"no deferred line: $lines1")

    // load-time maintenance must SKIP the pending index (nothing to
    // fold into) and results must stay exact over the new rows
    t0.insert(emb.withColumn("vec_id", col("vec_id") + lit(90000)))
    assert(shown()._1 == "DISABLED")
    assert(idxTop(t0, 5, nprobe = 4, rerank = 100000) == exactTop(t0, 5))

    // the first REFRESH trains with the frozen PROPERTIES and builds;
    // full probe at the CONFIGURED nlist (4) reproduces brute force
    spark.sql(s"REFRESH INDEX vd ON TABLE $p")
    val (st2, sync2) = shown()
    assert(st2 == "ENABLED" && sync2.startsWith("2/2 segments"),
      s"expected enabled 2/2 after REFRESH, got ($st2, $sync2)")
    assert(idxTop(t0, 5, nprobe = 4, rerank = 100000) == exactTop(t0, 5))
    // pruned probe against the built index never invents neighbors
    val prunedPairs = VectorIndex.search(t0, "embedding", queries, 5,
        nprobe = 1, rerank = 25)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(prunedPairs.subsetOf(exactTop(t0, 500).map(x => (x._1, x._2))))
  }

  test("filtered ANN: predicate pre-filters every candidate corpus") {
    val p = s"${graft.queries.Fixtures.root}/spec/vecidx_filt"
    GraftTable.drop(spark, p)
    // one covered segment + one deliberately uncovered (autorefresh
    // off): BOTH serving paths must honor the predicate
    val t0 = GraftTable.createAsSelect(spark, p,
      emb.filter(col("vec_id") % 10 =!= 0),
      properties = Map("index.autorefresh" -> "false"))
    VectorIndex.create(t0, "vec_id", "embedding", s"$p/_indexes/v",
      VectorIndex.Params(dim = 64))
    t0.insert(emb.filter(col("vec_id") % 10 === 0))
    val pred = col("vec_id") % 3 === 0

    // full probe + full pool == brute force over the FILTERED corpus
    val (got, lines) = ExplainCollector.collect(
      VectorIndex.search(t0, "embedding", queries, 5,
          nprobe = 8, rerank = 100000, where = Some(pred))
        .select("query_id", "neighbor_id", "rnk").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet)
    val want = Ann.bruteForceTopK(queries,
        quant(t0.read.filter(pred).select(col("vec_id"), col("embedding"))), 5)
      .select("query_id", "neighbor_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want, "filtered full-probe search != brute force over filtered corpus")
    assert(got.forall(_._2 % 3 == 0), "a filtered-out row served as neighbor")
    assert(lines.exists(_.contains("candidate corpus pre-filtered")),
      s"expected the pre-filter explain note, got: $lines")

    // pruned probe: never invents, never leaks a filtered-out id
    val pruned = VectorIndex.search(t0, "embedding", queries, 5,
        nprobe = 3, rerank = 25, where = Some(pred))
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pruned.forall(_._2 % 3 == 0))
  }
}
