package graft.engine

import graft.engine.index.TextIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** ROW-GROUP-grain text-index pruning — the reference's lucene
  * FINE-grain index prunes blocklets INSIDE a block
  * (index/lucene/.../LuceneFineGrainIndex.java:63,137-142); parquet row
  * groups are our blocklets. A selective `text_match` over a
  * multi-row-group file must plan a scan covering only the posting row
  * groups' byte spans, not the whole file — with 512 MB–1 GB files at
  * 100 TB, file-grain pruning alone still scans whole files for a
  * point-ish term.
  *
  * The fixture is one 40k-row sorted file cut into many 64 KB row
  * groups (sha pad defeats dictionary compaction, as in
  * BloomPruneSpec); a needle token rides rows [10000, 10100) only, so
  * its postings name 1–2 row groups out of dozens. */
class TextRowGroupSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(): String = Files.createTempDirectory("graft_trg_").toString + "/t"

  private def mkSrc(lo: Long, hi: Long, needleLo: Long, needleHi: Long,
      needle: String): DataFrame =
    spark.range(lo, hi).select(
      col("id").as("k"),
      concat_ws(" ",
        lit("common"),
        concat(lit("grp"), (col("id") / 2000).cast("long").cast("string")),
        sha2(concat(lit("pad"), col("id").cast("string")), 256),
        when(col("id") >= needleLo && col("id") < needleHi, lit(needle))
          .otherwise(lit("filler"))).as("body"))

  private def mk(): (GraftTable, String) = {
    val path = tmp()
    val t = GraftTable.create(spark, path,
      mkSrc(0, 1, 0, 0, "x").schema, sortColumns = Seq("k"),
      properties = Map("parquet.block.size" -> "65536"))
    t.insert(mkSrc(0, 40000, 10000, 10100, "needletok").repartition(1))
    (t, path)
  }

  private def plannedFileBytes(df: DataFrame): Seq[(String, Long)] =
    df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.partitions.flatten.collect {
          case f: org.apache.spark.sql.execution.datasources.FilePartition =>
            f.files.map(pf => pf.filePath.toString -> pf.length).toSeq
        }.flatten
    }.flatten

  test("selective term scans only the posting row groups of a file") {
    val (t, _) = mk()
    val seg = t.status.visible.head
    val absFile = t.layout.segmentFilePaths(seg).head
    val fileBytes = t.layout.fs.getFileStatus(
      new org.apache.hadoop.fs.Path(absFile)).getLen
    val idx = TextIndex.create(t, "body", s"${t.path}_idx")
    // fixture sanity: many row groups, postings carry rg geometry
    val rgTotal = idx.read.select("rg").distinct().count()
    assert(rgTotal >= 8, s"fixture too small to prove rg skip: $rgTotal row groups")
    assert(idx.schema.fieldNames.contains("rg_start"))

    val df = TextIndex.readMatching(t, "body", "needletok")
    val got = df.select("k").collect().map(_.getLong(0)).sorted
    assert(got.toSeq == (10000L until 10100L).toSeq)

    val planned = plannedFileBytes(df)
    assert(planned.nonEmpty)
    val readBytes = planned.map(_._2).sum
    assert(readBytes < fileBytes / 4,
      s"expected a row-group-clipped scan, planned $readBytes of $fileBytes bytes")
    // a common term present in every row group plans (essentially) the
    // whole file — the clip must not under-read
    val full = TextIndex.readMatching(t, "body", "common")
    assert(full.count() == 40000)
  }

  test("AND clause intersects postings at row-group grain") {
    val (t, _) = mk()
    TextIndex.create(t, "body", s"${t.path}_idx")
    // grp5 spans rows [10000, 12000) — co-occurs with the needle band
    val both = TextIndex.readMatching(t, "body", "needletok grp5")
    assert(both.count() == 100)
    // grp15 = rows [30000, 32000): no row holds both tokens, and no row
    // group does either — the index answers empty before any file IO
    val none = TextIndex.readMatching(t, "body", "needletok grp15")
    assert(none.count() == 0)
  }

  test("covered-at-insert segments are clipped too (auto maintenance)") {
    val (t, _) = mk()
    TextIndex.create(t, "body", s"${t.path}_idx")
    // load maintenance REINDEXes the new segment inside insert, so both
    // segments serve at row-group grain immediately
    t.insert(mkSrc(40000, 80000, 50000, 50050, "needletok").repartition(1))
    val df = TextIndex.readMatching(t, "body", "needletok")
    assert(df.count() == 150)
    val planned = plannedFileBytes(df)
    assert(planned.map(_._1).distinct.size == 2, "hits pin files in both segments")
    val totalBytes = t.status.visible.flatMap(t.layout.segmentFilePaths)
      .map(p => t.layout.fs.getFileStatus(new org.apache.hadoop.fs.Path(p)).getLen).sum
    assert(planned.map(_._2).sum < totalBytes / 4,
      s"both segments must serve clipped: ${planned.map(_._2).sum} of $totalBytes bytes")
  }

  test("deferred index scans whole until REFRESH restores fine grain") {
    val (t, _) = mk()
    t.insert(mkSrc(40000, 80000, 50000, 50050, "needletok").repartition(1))
    TextIndex.create(t, "body", s"${t.path}_idx", deferred = true)
    // zero coverage: every segment is uncovered — scanned whole, CORRECT
    val df = TextIndex.readMatching(t, "body", "needletok")
    assert(df.count() == 150)
    val wholeBytes = plannedFileBytes(df).map(_._2).sum
    TextIndex.refresh(t, "body")
    val df2 = TextIndex.readMatching(t, "body", "needletok")
    assert(df2.count() == 150)
    val refreshed = plannedFileBytes(df2).map(_._2).sum
    assert(refreshed < wholeBytes / 4,
      s"REFRESH must restore the row-group clip: $refreshed !< $wholeBytes/4")
  }

  test("EXPLAIN surfaces the fine-grain pin") {
    val (t, _) = mk()
    TextIndex.create(t, "body", s"${t.path}_idx")
    val out = GraftExplain.explain(spark,
      TextIndex.readMatching(t, "body", "needletok"))
    assert(out.contains("row-group grain"), out)
    assert(out.contains("pinned row groups"), out)
  }

  test("SI lookups clip to the value-bearing row groups too") {
    import graft.engine.index.Si
    val (t, _) = mk()
    val seg = t.status.visible.head
    val fileBytes = t.layout.fs.getFileStatus(new org.apache.hadoop.fs.Path(
      t.layout.segmentFilePaths(seg).head)).getLen
    val si = Si.create(t, "k", s"${t.path}_si")
    assert(si.schema.fieldNames.contains("rg_start"))
    // k is the sort column: a point value lives in exactly one row group
    val df = Si.readWhereIn(t, "k", Seq(10050L, 30001L))
    assert(df.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(10050L, 30001L))
    val readBytes = plannedFileBytes(df).map(_._2).sum
    assert(readBytes < fileBytes / 4,
      s"SI hit must clip to row groups: planned $readBytes of $fileBytes bytes")
    // EXPLAIN names the grain
    val out = GraftExplain.explain(spark, Si.readWhereIn(t, "k", Seq(10050L)))
    assert(out.contains("SI(k) row-group-grain"), out)
    // SHOW INDEXES surfaces the grain (needs the SQL-DDL registration)
    spark.sql(
      s"CREATE INDEX ksi ON TABLE ${t.path} (k) AS 'carbondata'")
    val shown = spark.sql(s"SHOW INDEXES ON TABLE ${t.path}").collect()
    assert(shown.exists(_.getString(5).contains("grain: row-group")),
      shown.mkString("\n"))
  }

  test("MoR delete deltas stay correct under a clipped scan") {
    val (t, _) = mk()
    TextIndex.create(t, "body", s"${t.path}_idx")
    t.deleteMor(col("k") === 10050L)
    val df = TextIndex.readMatching(t, "body", "needletok")
    val got = df.select("k").collect().map(_.getLong(0)).sorted
    assert(got.length == 99 && !got.contains(10050L),
      "delta anti-filter must hold on row-group-clipped splits")
  }
}
