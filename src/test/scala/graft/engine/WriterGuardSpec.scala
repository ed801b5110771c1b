package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Table data files are written in one place, `SegmentWriter.writeFiles`,
  * so every file carries the table's writer options and INT64
  * timestamps: a second parquet write path would silently write INT96
  * timestamps without statistics, or 1 MiB bloom bitsets. The INT64
  * type is set on a copy of each write's SQL conf, never on a session,
  * where it would also change what plain Spark writes. */
class WriterGuardSpec extends AnyFunSuite {

  private val main = Paths.get("src/main/scala")
  private val engine = main.resolve("graft/engine")
  private val helper = engine.resolve("format/SegmentWriter.scala")

  private def sources(dir: Path): Seq[Path] =
    Files.walk(dir).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq

  /** Code lines (comment lines dropped) with their 1-based numbers. */
  private def code(p: Path): Seq[(String, Int)] =
    Files.readAllLines(p).asScala.zipWithIndex.filterNot { case (l, _) =>
      val t = l.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }.map { case (l, i) => (l, i + 1) }.toSeq

  test("only SegmentWriter.writeFiles writes table data files") {
    assert(Files.isDirectory(engine), s"expected the sources under ${engine.toAbsolutePath}")
    // a DataFrameWriter (`.write` not followed by a call), a streaming
    // file sink, or a direct parquet writer
    val writer = """(?<!connector)\.write\b(?!\s*\()""".r
    val textSink = """\.(text|csv|json)\s*\(""".r
    val parquetSink = """\.writeStream\b.*(\.parquet\s*\(|format\(\s*"parquet")""".r
    val direct = """\bnew\s+[\w.]*Parquet(Writer|FileWriter|FileFormat)\b|Parquet\w*Writer\.builder\b|extends\s+[\w.]*ParquetFileFormat\b""".r
    val offenders = for {
      p <- sources(engine)
      (l, n) <- code(p)
      if (writer.findFirstIn(l).isDefined && textSink.findFirstIn(l).isEmpty && p != helper) ||
        parquetSink.findFirstIn(l).isDefined ||
        (direct.findFirstIn(l).isDefined && p != helper)
    } yield s"$p:$n: ${l.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
    // and the helper holds exactly one writer, inside writeFiles
    val inHelper = code(helper).filter { case (l, _) => writer.findFirstIn(l).isDefined }
    assert(inHelper.size == 1, inHelper.mkString("\n"))
    val start = code(helper).collectFirst { case (l, n) if l.contains("def writeFiles(") => n }
    assert(start.exists(s => inHelper.head._2 > s && inHelper.head._2 <= s + 3),
      s"the writer at line ${inHelper.head._2} must be writeFiles' body (def at $start)")
  }

  test("no source sets the parquet timestamp type on a session") {
    val key = """outputTimestampType|PARQUET_OUTPUT_TIMESTAMP_TYPE""".r
    val sessionSet =
      """\.conf\.set\s*\(|sessionState\.conf|SQLConf\.get\b|\.config\s*\(|setConfString\s*\(""".r
    val hits = for {
      p <- sources(main)
      (l, n) <- code(p) if key.findFirstIn(l).isDefined
    } yield (p, n, l.trim)
    val offenders = hits.filter { case (p, _, l) =>
      p != helper || sessionSet.findFirstIn(l).isDefined
    }
    assert(offenders.isEmpty, offenders.map { case (p, n, l) => s"$p:$n: $l" }.mkString("\n"))
    // the one setting is on the format's private copy of the write's conf
    assert(hits.size == 1 && hits.head._3.startsWith("writeConf.setConf("), hits.mkString("\n"))
    assert(code(helper).exists { case (l, _) =>
      l.contains("val writeConf = super.getSqlConf(spark).clone()") })
  }
}
