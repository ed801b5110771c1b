package graft.engine

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the SQL string plumbing: top-level splitting must
  * hold for ARBITRARY expression text, not just the shapes the unit
  * specs happen to use. (Plain scalacheck generators driven from a
  * loop; the scalatest bridge artifact isn't part of the build.) */
class SqlTextPropsSpec extends AnyFunSuite {

  private val literalText: Gen[String] =
    Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf(' ', '.', '(', ')', '$', '*')))
      .map(_.mkString)

  private def samples[A](g: Gen[A], n: Int = 200): Seq[A] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  test("splitTopLevel never splits inside parens or quotes") {
    for (lit <- samples(literalText)) {
      val s = s"f(a, b), 'x, y $lit', g(h(c, d), e), z"
      val parts = GraftSql.splitTopLevel(s, ",")
      assert(parts == Seq("f(a, b)", s"'x, y $lit'", "g(h(c, d), e)", "z"), s"lit=$lit")
    }
  }
}
