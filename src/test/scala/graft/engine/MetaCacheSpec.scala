package graft.engine

import graft.engine.format.{MetaCache, TableLayout}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Driver metadata cache: tablestatus/tablemeta snapshots served from a
  * stat-validated cache (one getFileStatus instead of a full JSON
  * read+parse per query — at 100k segments the parse is the driver
  * bottleneck), write-through on same-JVM commits, SHOW/DROP METACACHE
  * observability (reference CarbonShowCacheCommand). */
class MetaCacheSpec extends AnyFunSuite {
  import TestSpark._

  private def tmp(): String = Files.createTempDirectory("graft_mc_").toString + "/t"

  test("status reads hit the cache; commits write through immediately") {
    val path = tmp()
    import spark.implicits._
    val t = GraftTable.createAsSelect(spark, path, Seq((1L, "a")).toDF("k", "v"))
    MetaCache.drop() // clean slate for counters
    val key = t.layout.root.toString

    val v1 = t.layout.readStatus().version
    val before = MetaCache.entries(Some(key))
      .find(_._2 == "tablestatus").map(e => (e._5, e._6)).getOrElse((0L, 0L))
    t.layout.readStatus(); t.layout.readStatus()
    val after = MetaCache.entries(Some(key))
      .find(_._2 == "tablestatus").map(e => (e._5, e._6)).get
    assert(after._1 >= before._1 + 2, s"repeat reads must be cache hits: $before -> $after")

    // a commit is visible to the very next read (write-through)
    t.insert(Seq((2L, "b")).toDF("k", "v"))
    assert(t.layout.readStatus().version > v1)
    assert(t.read.count() == 2)

    // a fresh layout instance on the same path shares the cache
    val l2 = new TableLayout(path, spark.sessionState.newHadoopConf())
    assert(l2.readStatus().version == t.layout.readStatus().version)
  }

  test("consecutive commits always differ in file LENGTH (stat-check collision guard)") {
    val path = tmp()
    import spark.implicits._
    val t = GraftTable.createAsSelect(spark, path, Seq((1L, "a")).toDF("k", "v"))
    val statusPath = new org.apache.hadoop.fs.Path(t.layout.root, "_meta/tablestatus.json")
    val fs = t.layout.fs
    // metadata-only commits whose JSON payload length stays constant
    // (single-digit version bumps notwithstanding) — the version%37 pad
    // must still separate every adjacent pair, or a reader whose mtime
    // check collides would pin a stale snapshot forever
    var lens = List.empty[Long]
    (0 until 8).foreach { _ =>
      // a REAL commit with constant payload length (identical-content
      // commits skip the publish since r16, so flip a timestamp by a
      // length-preserving +1/-1 each round)
      t.layout.commit { st =>
        val h = st.segments.head
        st.copy(segments = h.copy(createdAt = h.createdAt ^ 1L) +: st.segments.tail)
      }
      lens ::= fs.getFileStatus(statusPath).getLen
    }
    val adjacentEqual = lens.zip(lens.tail).filter { case (a, b) => a == b }
    assert(adjacentEqual.isEmpty,
      s"adjacent commits share a length: $lens")
  }

  test("cross-instance external commit invalidates via the stat check") {
    val path = tmp()
    import spark.implicits._
    val t = GraftTable.createAsSelect(spark, path, Seq((1L, "a")).toDF("k", "v"))
    // warm this JVM's cache, then commit through a DIFFERENT layout
    // instance (same JVM cache is write-through, so simulate an external
    // writer by dropping the cache after its commit and checking the
    // stat-validation path re-reads)
    val v1 = t.layout.readStatus().version
    val other = GraftTable.at(spark, path)
    other.insert(Seq((2L, "b")).toDF("k", "v"))
    MetaCache.drop() // forget everything this JVM knows
    assert(t.layout.readStatus().version > v1, "stat check must observe the new file")
    assert(t.layout.readStatus().segments.count(_.isVisible) == 2)
  }

  test("SHOW METACACHE / DROP METACACHE SQL") {
    val path = tmp()
    import spark.implicits._
    val t = GraftTable.createAsSelect(spark, path, Seq((1L, "a")).toDF("k", "v"))
    t.layout.readStatus(); t.meta // populate both kinds
    val rows = spark.sql(s"SHOW METACACHE FOR TABLE ${t.path}").collect()
    assert(rows.map(_.getString(1)).toSet.subsetOf(Set("tablestatus", "tablemeta")))
    assert(rows.nonEmpty)
    spark.sql(s"DROP METACACHE FOR TABLE ${t.path}")
    assert(spark.sql(s"SHOW METACACHE FOR TABLE ${t.path}").collect().isEmpty)
    // global SHOW still works (other tables may be cached)
    spark.sql("SHOW METACACHE")
    spark.sql("DROP METACACHE")
    assert(spark.sql("SHOW METACACHE").collect().isEmpty)
  }
}
