package graft.engine

import graft.engine.format.{Buckets, SegmentPruner}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The pruning ladder, `SegmentPruner.keep`, decides for planned scans,
  * runtime filters and mutation candidates alike, so a wrong skip loses
  * rows everywhere at once. Soundness: over seeded-random sorted,
  * partitioned and bucketed tables (nulls, non-ASCII strings and
  * merge-on-read deletes included) and seeded-random filter trees,
  * every live row that plain Spark says matches a filter sits in a file
  * `keep` kept. (Plain scalacheck generators driven from a loop, as in
  * the other property specs.) */
class PruneLadderSpec extends AnyFunSuite {
  import TestSpark._

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("x", DoubleType),
    StructField("s", StringType), StructField("p", IntegerType)))

  private val strings = Seq("", "a", "ab", "abc", "abd", "b", "ba", "bz", "c", "zz",
    "a\u007f", "é", "éa")
  private def orNull[A](g: Gen[A]): Gen[Any] = Gen.frequency(1 -> Gen.const(null), 7 -> g)
  private val kVal = Gen.choose(-45L, 45L)
  private val xVal = Gen.choose(-24, 24).map(_ * 0.5)
  private val sVal = Gen.oneOf(strings)
  private val pVal = Gen.choose(-1, 4)

  private val row: Gen[org.apache.spark.sql.Row] = for {
    k <- orNull(Gen.choose(-40L, 40L))
    x <- orNull(Gen.choose(-20, 20).map(_ * 0.5))
    s <- orNull(sVal)
    p <- orNull(Gen.choose(0, 3))
  } yield org.apache.spark.sql.Row(k, x, s, p)

  /** A filter as the ladder sees it and as plain Spark evaluates it. */
  private case class F(filter: sources.Filter, column: Column)

  private def leaf: Gen[F] = {
    def cmp(c: String, v: Gen[Any]): Gen[F] = for {
      a <- v
      op <- Gen.oneOf("=", "<=>", "<", "<=", ">", ">=")
    } yield op match {
      case "=" => F(sources.EqualTo(c, a), col(c) === lit(a))
      case "<=>" => F(sources.EqualNullSafe(c, a), col(c) <=> lit(a))
      case "<" => F(sources.LessThan(c, a), col(c) < lit(a))
      case "<=" => F(sources.LessThanOrEqual(c, a), col(c) <= lit(a))
      case ">" => F(sources.GreaterThan(c, a), col(c) > lit(a))
      case _ => F(sources.GreaterThanOrEqual(c, a), col(c) >= lit(a))
    }
    def in(c: String, v: Gen[Any]): Gen[F] =
      Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, v))
        .map(vs => F(sources.In(c, vs.toArray), col(c).isin(vs: _*)))
    val nullTests = Gen.oneOf("k", "x", "s", "p").flatMap(c => Gen.oneOf(
      F(sources.IsNull(c), col(c).isNull), F(sources.IsNotNull(c), col(c).isNotNull)))
    val startsWith = Gen.oneOf("a", "ab", "b", "z", "é", "a\u007f")
      .map(pre => F(sources.StringStartsWith("s", pre), col("s").startsWith(pre)))
    Gen.frequency(
      3 -> cmp("k", kVal), 2 -> cmp("x", xVal), 2 -> cmp("s", sVal), 2 -> cmp("p", pVal),
      1 -> cmp("k", Gen.const(null)),
      2 -> in("k", kVal), 1 -> in("s", sVal), 1 -> in("p", pVal),
      2 -> nullTests, 2 -> startsWith)
  }

  private def tree(depth: Int): Gen[F] =
    if (depth == 0) leaf
    else Gen.frequency(
      3 -> leaf,
      2 -> Gen.zip(tree(depth - 1), tree(depth - 1)).map { case (l, r) =>
        F(sources.And(l.filter, r.filter), l.column && r.column) },
      2 -> Gen.zip(tree(depth - 1), tree(depth - 1)).map { case (l, r) =>
        F(sources.Or(l.filter, r.filter), l.column || r.column) },
      1 -> leaf.map(f => F(sources.Not(f.filter), !f.column)))

  private def sample[A](g: Gen[A], seed: Long): A =
    g.apply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed)).get

  private def table(name: String, seed: Long, loads: Int, sortColumns: Seq[String],
      props: Map[String, String], partitionColumns: Seq[String] = Nil): GraftTable = {
    val t = GraftTable.create(spark,
      Files.createTempDirectory(s"graft_ladder_$name").toString + "/t", schema, sortColumns,
      properties = props, partitionColumns = partitionColumns)
    (0 until loads).foreach { i =>
      t.insert(spark.createDataFrame(
        sample(Gen.listOfN(80, row), seed + i).asJava, schema))
    }
    t
  }

  test("soundness: every row matching a filter sits in a file the ladder kept") {
    val sorted = table("sorted", 101L, 3, Seq("k"),
      Map("global_sort_partitions" -> "3", "iud_mode" -> "mor"))
    sorted.delete(col("k") % 5 === 0) // live counts below the footers' rows
    val tables = Seq(
      "sorted" -> sorted,
      "partitioned" -> table("partitioned", 201L, 2, Seq("s"), Map.empty, Seq("p")),
      "bucketed" -> table("bucketed", 301L, 2, Seq("x"),
        Map("bucket_columns" -> "k", "bucket_count" -> "4")))
    val filters = sample(Gen.listOfN(150, tree(2)), 20261020L)
    tables.foreach { case (name, t) =>
      val segs = t.status.visible
      assert(segs.flatMap(_.files).size > segs.size, s"$name: expected multi-file segments")
      val fs = t.layout.fs
      val live = LiveRows.read(t, Mutation.visibleFiles(t))
      var skipped = 0
      filters.grouped(50).foreach { chunk =>
        // one job per chunk: which files hold a row each filter matches
        val hits = live.select(col("_metadata.file_path") +:
            chunk.map(f => coalesce(f.column, lit(false))): _*).collect()
        chunk.zipWithIndex.foreach { case (f, i) =>
          val p = SegmentPruner.keep(segs, Seq(f.filter), t.schema, Buckets.specOf(t.meta))
          skipped += p.filesSkipped + (segs.size - p.segmentsKept)
          val kept = p.kept.flatMap { case (s, rels) =>
            t.layout.segmentFilePaths(s, rels)
              .map(a => fs.makeQualified(new org.apache.hadoop.fs.Path(a)).toString)
          }.toSet
          val lost = hits.filter(_.getBoolean(i + 1))
            .map(r => new org.apache.hadoop.fs.Path(r.getString(0)).toString)
            .filterNot(kept).distinct
          assert(lost.isEmpty, s"$name: ${f.filter} skipped matching files ${lost.mkString(", ")}")
        }
      }
      // the property is vacuous unless the ladder actually cuts
      assert(skipped > 0, s"$name: no filter pruned anything")
    }
  }

  private val main = Paths.get("src/main/scala")
  private val stats = main.resolve("graft/engine/format/Stats.scala")

  private def code(p: Path): Seq[(String, Int)] =
    Files.readAllLines(p).asScala.zipWithIndex.filterNot { case (l, _) =>
      val t = l.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }.map { case (l, i) => (l, i + 1) }.toSeq

  test("one pruning ladder: no interpreted twin, and the rungs run only inside SegmentPruner") {
    assert(Files.isRegularFile(stats), s"expected ${stats.toAbsolutePath}")
    val sources = Files.walk(main).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    val ladderStart = code(stats).collectFirst {
      case (l, n) if l.startsWith("object SegmentPruner") => n
    }.getOrElse(fail("SegmentPruner not found in Stats.scala"))
    val twin = """\bmayMatch\b|StatValue\.compare\s*\(""".r
    val compareDef = """\bdef\s+compare\s*\(""".r
    val fileRung = """(?<!def\s)\bfileAsSegment\s*\(""".r
    val segRung = """SegmentPruner\s*\.\s*(prune\b|\{[^}]*\bprune\b)""".r
    val offenders = for {
      p <- sources
      (l, n) <- code(p)
      inLadder = p == stats && n > ladderStart
      if twin.findFirstIn(l).isDefined ||
        (p == stats && compareDef.findFirstIn(l).isDefined) ||
        (fileRung.findFirstIn(l).isDefined && !inLadder) ||
        (segRung.findFirstIn(l).isDefined && !inLadder)
    } yield s"$p:$n: ${l.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // and the three deciders call the one ladder
    def keeps(rel: String): Int =
      code(main.resolve(rel)).count(_._1.contains("SegmentPruner.keep("))
    assert(keeps("graft/engine/source/CarbonishSource.scala") == 2)
    assert(code(main.resolve("graft/engine/Mutation.scala")).exists(_._1.contains(".keep(")))
  }
}
