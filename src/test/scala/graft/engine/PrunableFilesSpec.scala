package graft.engine

import graft.engine.format.{ColumnStats, FileFooters, SegmentMeta}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.time.{Instant, LocalDateTime, ZoneOffset}
import scala.jdk.CollectionConverters._

/** Every data file graft writes carries the statistics and bloom sizes
  * its pruning ladder assumes. Timestamps are written as INT64
  * TIMESTAMP(MICROS) with footer min/max — Spark's default INT96 has
  * neither, so a timestamp-led sort key pruned no file, row group or
  * page — and bloom bitsets are sized to the data instead of parquet's
  * 1 MiB maximum. Every answer is checked against plain Spark over a
  * plain parquet copy of the same rows. */
class PrunableFilesSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(): String = Files.createTempDirectory("graft_prunable_").toString

  private val base = 1577836800L // 2020-01-01T00:00:00Z, in seconds

  /** `n` rows from `from`: ts one hour apart (ascending with k), k, a
    * double payload. `ntz` makes ts a TIMESTAMP_NTZ column. */
  private def rows(from: Long, n: Long, ntz: Boolean = false): DataFrame = {
    val ts = (lit(base) + col("id") * 3600).cast("timestamp")
    spark.range(from, from + n).select(
      (if (ntz) ts.cast("timestamp_ntz") else ts).as("ts"),
      col("id").as("k"),
      (col("id") * 0.5).as("v"))
  }

  /** The literal of row `id`'s ts, typed like the column. */
  private def tsLit(id: Long, ntz: Boolean = false): Column = {
    val secs = base + id * 3600
    if (ntz) lit(LocalDateTime.ofEpochSecond(secs, 0, ZoneOffset.UTC))
    else lit(java.sql.Timestamp.from(Instant.ofEpochSecond(secs)))
  }

  /** A plain Spark parquet copy of `df`: the answer oracle. */
  private def plain(df: DataFrame, dir: String): DataFrame = {
    df.write.parquet(dir)
    spark.read.parquet(dir)
  }

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    val (x, y) = (a.collect().map(_.toString).sorted.toSeq,
      b.collect().map(_.toString).sorted.toSeq)
    assert(x.nonEmpty || y.isEmpty)
    assert(x == y, s"graft ${x.take(5)} vs plain ${y.take(5)}")
  }

  private def footer(file: String) = {
    val r = ParquetFileReader.open(HadoopInputFile.fromPath(
      new Path(file), spark.sessionState.newHadoopConf()))
    try r.getFooter finally r.close()
  }

  /** Physical type and logical annotation of column `c` in `file`. */
  private def typeOf(file: String, c: String): String = {
    val pt = footer(file).getFileMetaData.getSchema.getType(Array(c): _*).asPrimitiveType
    s"${pt.getPrimitiveTypeName} ${Option(pt.getLogicalTypeAnnotation).getOrElse("")}".trim
  }

  private def files(t: GraftTable, s: SegmentMeta): Seq[String] =
    t.layout.segmentFilePaths(s)

  private def plannedFiles(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def scans(p: SparkPlan): Seq[BatchScanExec] = p.collect {
      case b: BatchScanExec => Seq(b)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    }.flatten
    scans(df.queryExecution.executedPlan)
      .flatMap(_.scan.toBatch.planInputPartitions())
      .flatMap { case fp: FilePartition => fp.files.map(_.filePath.toString) }
  }

  private def scanOrdering(df: DataFrame): Seq[_] =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.ordering.getOrElse(Nil)
    }.getOrElse(Nil)

  /** Rewrite segment `s`'s files the way a plain Spark parquet write
    * leaves them (INT96 timestamps) and give them the file metadata that
    * segments written before timestamps went INT64 carry: footer rows
    * and bytes, and a timestamp entry with no bounds — parquet keeps no
    * min/max for INT96, and the footer lift of that time recorded only
    * the null count. */
  private def asInt96(t: GraftTable, s: SegmentMeta): Unit = {
    val fs = t.layout.fs
    val dir = t.layout.segmentDir(s.id)
    val conf = spark.sessionState.newHadoopConf()
    val sortStats = t.meta.sortColumns.map(c => c -> t.schema(c).dataType).toMap
    val fm = s.files.map { rel =>
      val abs = new Path(dir, rel)
      val out = new Path(dir, s".int96-$rel")
      // one small file is one split: the rewrite keeps its row order
      spark.read.parquet(abs.toString).coalesce(1).write.parquet(out.toString)
      val part = fs.listStatus(out).map(_.getPath).filter(_.getName.endsWith(".parquet"))
      assert(part.length == 1)
      assert(fs.delete(abs, false) && fs.rename(part.head, abs))
      fs.delete(out, true)
      val lifted = FileFooters.read(conf, abs, fs.getFileStatus(abs).getLen, sortStats).get
      assert(!lifted.stats.contains("ts"), "an INT96 chunk has no bounds to lift")
      rel -> lifted.copy(stats = lifted.stats + ("ts" -> ColumnStats(None, None, 0L)))
    }.toMap
    t.layout.commit(st => st.copy(segments = st.segments.map(x =>
      if (x.id != s.id) x
      else x.copy(fileMeta = fm, sizeBytes = fm.values.map(_.bytes).sum))))
  }

  Seq(false -> "TIMESTAMP(MICROS,true)", true -> "TIMESTAMP(MICROS,false)").foreach {
    case (ntz, annotation) =>
      val kind = if (ntz) "TimestampNTZType" else "TimestampType"
      test(s"a $kind lead key is written as INT64 micros with stats; a point lookup plans one file") {
        val root = tmp()
        val src = rows(0, 4000, ntz)
        val t = GraftTable.create(spark, s"$root/t", src.schema,
          sortColumns = Seq("ts", "k"),
          properties = Map("global_sort_partitions" -> "4"))
        t.insert(src)
        val seg = t.status.visible.head
        assert(seg.files.size == 4, s"fixture needs a multi-file segment: ${seg.files}")
        files(t, seg).foreach(f => assert(typeOf(f, "ts") == s"INT64 $annotation", f))
        // every file carries the key's stats, in the segment stats' form
        val fileStats = seg.files.map(f => seg.fileMeta(f).stats.get("ts"))
        assert(fileStats.forall(_.exists(s => s.min.isDefined && s.max.isDefined)),
          s"missing ts file stats: $fileStats")
        assert(fileStats.flatMap(_.get.min).map(_.toLong).min ==
          seg.stats("ts").min.get.toLong)
        assert(fileStats.flatMap(_.get.max).map(_.toLong).max ==
          seg.stats("ts").max.get.toLong)

        val oracle = plain(src, s"$root/plain")
        Seq(7L, 1234L, 3999L).foreach { id =>
          val q = (df: DataFrame) => df.filter(col("ts") === tsLit(id, ntz))
          assert(plannedFiles(q(t.read)).size == 1,
            s"point lookup of row $id planned ${plannedFiles(q(t.read))}")
          sameRows(q(t.read), q(oracle))
        }
        val range = (df: DataFrame) => df.filter(
          col("ts") >= tsLit(1000, ntz) && col("ts") < tsLit(1100, ntz))
        sameRows(range(t.read), range(oracle))
        sameRows(t.read, oracle)
      }
  }

  test("after a graft write a plain parquet write still writes INT96, and the session conf is unchanged") {
    val key = "spark.sql.parquet.outputTimestampType"
    val before = spark.conf.get(key)
    assume(before == "INT96", s"this check needs the INT96 default, got $before")
    val root = tmp()
    val src = rows(0, 50)
    val t = GraftTable.create(spark, s"$root/t", src.schema, sortColumns = Seq("ts"))
    t.insert(src)
    files(t, t.status.visible.head).foreach(f =>
      assert(typeOf(f, "ts") == "INT64 TIMESTAMP(MICROS,true)", f))
    src.write.parquet(s"$root/plain")
    val plainFiles = new java.io.File(s"$root/plain").listFiles()
      .map(_.getPath).filter(_.endsWith(".parquet"))
    assert(plainFiles.nonEmpty)
    plainFiles.foreach(f => assert(typeOf(f, "ts") == "INT96", f))
    assert(spark.conf.get(key) == before)
  }

  test("a table holding an INT96 segment reads, looks up, travels, folds and compacts") {
    val root = tmp()
    val (first, second) = (rows(0, 2000), rows(2000, 2000))
    val t = GraftTable.create(spark, s"$root/t", first.schema,
      sortColumns = Seq("ts", "k"),
      properties = Map("global_sort_partitions" -> "2", "iud_mode" -> "mor"))
    t.insert(first)
    val old = t.status.visible.head
    asInt96(t, old)
    val vOld = t.status.version
    t.insert(second)

    val segs = t.status.visible
    assert(segs.size == 2)
    files(t, segs.head).foreach(f => assert(typeOf(f, "ts") == "INT96", f))
    assert(segs.head.fileMeta.values.forall(_.stats("ts").min.isEmpty))
    files(t, segs(1)).foreach(f => assert(typeOf(f, "ts") == "INT64 TIMESTAMP(MICROS,true)", f))
    assert(segs(1).fileMeta.values.forall(_.stats.contains("ts")))

    val oracle = plain(first.union(second), s"$root/plain")
    sameRows(t.read, oracle)
    Seq(17L, 1999L, 2000L, 3500L).foreach { id =>
      val q = (df: DataFrame) => df.filter(col("ts") === tsLit(id))
      sameRows(q(t.read), q(oracle))
    }
    // the new segment's lookup reaches one file; the INT96 segment has
    // only segment stats, which exclude it
    assert(plannedFiles(t.read.filter(col("ts") === tsLit(3500))).size == 1)
    sameRows(t.readAsOf(vOld), oracle.filter(col("k") < 2000))

    // a merge-on-read delete on the INT96 segment, folded: the fold's
    // output is INT64 with stats
    assert(t.delete(col("ts") === tsLit(17)) == 1L)
    assert(t.foldDeltas(minFraction = 0.0) == 1)
    val folded = t.status.visible.find(_.id == old.id).get
    assert(folded.deltas.isEmpty)
    val foldedRel = folded.files.filterNot(old.files.contains)
    assert(foldedRel.size == 1, s"${folded.files} vs ${old.files}")
    assert(typeOf(new Path(t.layout.segmentDir(old.id), foldedRel.head).toString, "ts") ==
      "INT64 TIMESTAMP(MICROS,true)")
    assert(folded.fileMeta(foldedRel.head).stats.contains("ts"))
    val live = oracle.filter(col("k") =!= 17L)
    sameRows(t.read, live)
    // the segment still holds an INT96 file, whose bounds are unknown:
    // its segment stats must not shrink to the folded file's range
    Seq(5L, 1500L, 1999L).foreach { id =>
      val q = (df: DataFrame) => df.filter(col("ts") === tsLit(id))
      sameRows(q(t.read), q(live))
    }

    // MINOR compaction rewrites both into INT64 files with stats
    assert(t.compact("MINOR", minorThreshold = 2).isDefined)
    val merged = t.status.visible
    assert(merged.size == 1)
    files(t, merged.head).foreach(f => assert(typeOf(f, "ts") == "INT64 TIMESTAMP(MICROS,true)", f))
    assert(merged.head.fileMeta.values.forall(_.stats.contains("ts")))
    sameRows(t.read, live)
    Seq(5L, 1999L, 3500L).foreach { id =>
      val q = (df: DataFrame) => df.filter(col("ts") === tsLit(id))
      assert(plannedFiles(q(t.read)).size == 1)
      sameRows(q(t.read), q(live))
    }
  }

  test("timestamp-led segments back the scan's ordering; a null past the chain head drops it") {
    val root = tmp()
    val (a, b) = (rows(0, 1000), rows(1000, 1000))
    val props = Map("global_sort_partitions" -> "2")
    // no open cost and one split minimum pack every file into one
    // partition, so the claim rests on a chain of all four files, not
    // on one file each
    val sess = spark.newSession()
    sess.conf.set("spark.sql.files.openCostInBytes", "0")
    sess.conf.set("spark.sql.files.minPartitionNum", "1")
    def chains(df: DataFrame): Int = {
      import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
      df.queryExecution.executedPlan.collect { case s: BatchScanExec => s }
        .map(_.scan.toBatch.planInputPartitions().length).sum
    }
    val t = GraftTable.create(spark, s"$root/t", a.schema, sortColumns = Seq("ts"),
      properties = props)
    t.insert(a)
    t.insert(b)
    val read = GraftTable.at(sess, t.path).read.select("ts", "k")
    assert(t.status.visible.map(_.files.size).sum == 4 && chains(read) == 1)
    assert(scanOrdering(read).nonEmpty,
      "disjoint timestamp-led segments must report their order")
    val oracle = plain(a.union(b), s"$root/plain")
    val ordered = (df: DataFrame) => df.orderBy("ts").select("ts", "k")
    assert(ordered(read).collect().toSeq == ordered(oracle).collect().toSeq)

    // a null key in the later segment sits inside the chain, past its
    // head: no ordering claim, and ORDER BY still sorts it first
    val bNull = b.union(b.limit(1).select(lit(null).cast("timestamp").as("ts"),
      lit(-1L).as("k"), lit(0.0).as("v")))
    val t2 = GraftTable.create(spark, s"$root/t2", bNull.schema, sortColumns = Seq("ts"),
      properties = props)
    t2.insert(a)
    t2.insert(bNull)
    assert(t2.status.visible.last.fileMeta.values.exists(_.stats("ts").nullCount == 1L))
    val read2 = GraftTable.at(sess, t2.path).read.select("ts", "k")
    assert(chains(read2) == 1)
    assert(scanOrdering(read2).isEmpty,
      "a null past the chain head must not back an ordering claim")
    val oracle2 = plain(a.union(bNull), s"$root/plain2")
    val got = ordered(read2).collect().toSeq
    val want = ordered(oracle2).collect().toSeq
    assert(got == want, s"graft ${got.take(3)} vs plain ${want.take(3)}")
    assert(got.head.isNullAt(0), got.take(3))
  }

  test("a bloom column without an NDV hint gets a bitset sized to its file") {
    val root = tmp()
    // unique keys: parquet drops their dictionary, so the chunk gets a bloom
    val src = spark.range(0, 6000).select(col("id").as("k"), (col("id") % 50).as("v"))
    val t = GraftTable.create(spark, s"$root/t", src.schema, sortColumns = Seq("v"),
      properties = Map("bloom_columns" -> "k", "global_sort_partitions" -> "1"))
    t.insert(src)
    val seg = t.status.visible.head
    assert(bloomOn(t, seg, "k"))
    val sizes = files(t, seg).flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new Path(f), spark.sessionState.newHadoopConf()))
      try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala
        .filter(_.getPath.toDotString == "k").map(c => r.readBloomFilter(c).getBitsetSize))
      finally r.close()
    }
    assert(sizes.nonEmpty && sizes.forall(_ <= 64 * 1024), s"bitset bytes: $sizes")
    val oracle = plain(src, s"$root/plain")
    Seq(0L, 4321L, 6000L).foreach { k =>
      sameRows(t.read.filter(col("k") === k), oracle.filter(col("k") === k))
    }
  }
}
