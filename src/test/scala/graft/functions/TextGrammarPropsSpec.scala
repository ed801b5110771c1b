package graft.functions

import graft.engine.TestSpark
import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite

/** Property tests for the lucene-subset text grammar: the three
  * evaluators — the codegen Column tree ([[GraftFunctions.textMatch]]),
  * the plain-Scala UDF body (`text_match_contains`), and the DuckDB
  * oracle fragment — must agree on ARBITRARY generated queries and
  * documents, not just the shapes the unit specs use. (Plain
  * scalacheck generators driven from a loop, as in SqlTextPropsSpec.) */
class TextGrammarPropsSpec extends AnyFunSuite {
  import TestSpark._
  import GraftFunctions.{TextLit, TextTerm}

  private val word: Gen[String] =
    Gen.choose(1, 6).flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar)).map(_.mkString)

  private val term: Gen[String] = Gen.frequency(
    5 -> word,
    2 -> (for { a <- word; b <- word } yield s""""$a $b""""), // phrase
    2 -> word.map(w => s"${w.take(3)}*"), // prefix wildcard
    2 -> (for { w <- word; n <- Gen.oneOf("", "1", "2") }
      yield s"$w~$n"), // fuzzy (bare ~ = 2)
    2 -> (for { a <- word; b <- word; k <- Gen.choose(1, 3) }
      yield s""""$a $b"~$k"""), // proximity
    1 -> word.map(w => s"-$w")) // dash negation

  private val clause: Gen[String] = for {
    n <- Gen.choose(1, 3)
    ts <- Gen.listOfN(n, term)
    nots <- Gen.listOfN(n, Gen.frequency(4 -> Gen.const(""), 1 -> Gen.const("NOT ")))
  } yield ts.zip(nots).map { case (t, p) =>
    if (t.startsWith("-")) t else p + t }.mkString(" ")

  private val query: Gen[String] =
    Gen.choose(1, 3).flatMap(n => Gen.listOfN(n, clause)).map(_.mkString(" OR "))

  private val doc: Gen[String] =
    Gen.choose(1, 12).flatMap(n => Gen.listOfN(n, word)).map(_.mkString(" "))

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    Iterator.continually(g.sample).flatten.take(n).toSeq

  /** The reference evaluator: substring semantics, straight off the
    * parsed literal list (independent of the Column builders). */
  /** Naive full-matrix Levenshtein — deliberately INDEPENDENT of the
    * production two-row DP (GraftFunctions.editsAtMost) and of Spark's
    * codegen `levenshtein`, so the property cross-checks all three. */
  private def naiveLev(a: String, b: String): Int = {
    val dp = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
        dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    dp(a.length)(b.length)
  }

  private def evalSubstring(text: String, clauses: Seq[Seq[TextLit]]): Boolean = {
    val lc = text.toLowerCase
    val toks = lc.trim.split(" ")
    def one(t: TextTerm): Boolean = t match {
      case TextTerm.Tok(s) => lc.contains(s)
      case TextTerm.Phrase(ws) => lc.contains(ws.mkString(" "))
      case TextTerm.Prefix(p) => toks.exists(_.startsWith(p))
      case TextTerm.Fuzzy(s, n) => toks.exists(tok => naiveLev(tok, s) <= n)
      case TextTerm.Near(ws, k) =>
        val w = ws.length + k
        toks.indices.exists(p =>
          ws.forall(word => toks.slice(p, p + w).contains(word)))
    }
    clauses.exists(_.forall(l => one(l.term) != l.negated))
  }

  test("parseLucene never crashes and parses every generated query") {
    for (q <- samples(query, 300)) {
      val clauses = GraftFunctions.parseLucene(q)
      assert(clauses.nonEmpty, s"query '$q' parsed to nothing")
      assert(clauses.forall(_.nonEmpty))
    }
  }

  test("textMatch Column tree agrees with the scalar evaluator on random docs") {
    import spark.implicits._
    val docs = samples(doc, 120).distinct
    val df = docs.zipWithIndex.map { case (d, i) => (i.toLong, d) }.toDF("id", "text")
    df.cache().count()
    try {
      for (q <- samples(query, 25)) {
        val clauses = GraftFunctions.parseLucene(q)
        val got = df.filter(GraftFunctions.textMatch(col("text"), q))
          .select("id").collect().map(_.getLong(0)).toSet
        val want = docs.zipWithIndex.collect {
          case (d, i) if evalSubstring(d, clauses) => i.toLong
        }.toSet
        assert(got == want, s"query '$q'")
      }
    } finally df.unpersist()
  }

  test("text_match_contains UDF agrees with the Column tree") {
    import spark.implicits._
    graft.engine.GraftSession.install(spark)
    val docs = samples(doc, 80).distinct
    val df = docs.zipWithIndex.map { case (d, i) => (i.toLong, d) }.toDF("id", "text")
    df.createOrReplaceTempView("tg_props_docs")
    for (q <- samples(query, 12)) {
      val viaCol = df.filter(GraftFunctions.textMatch(col("text"), q))
        .select("id").collect().map(_.getLong(0)).toSet
      val esc = q.replace("'", "''")
      val viaUdf = spark.sql(
        s"SELECT id FROM tg_props_docs WHERE text_match_contains(text, '$esc')")
        .collect().map(_.getLong(0)).toSet
      assert(viaCol == viaUdf, s"query '$q'")
    }
  }

  test("OR inside a quoted phrase is a literal, not a clause separator") {
    val clauses = GraftFunctions.parseLucene("\"a OR b\" OR c")
    assert(clauses.size == 2)
    assert(clauses.head == Seq(TextLit(false, TextTerm.Phrase(Seq("a", "or", "b")))))
    assert(clauses(1) == Seq(TextLit(false, TextTerm.Tok("c"))))
  }

  test("explicit AND is an operator (separator), never a literal term") {
    val clauses = GraftFunctions.parseLucene("alpha AND bravo OR charlie")
    assert(clauses == Seq(
      Seq(TextLit(false, TextTerm.Tok("alpha")), TextLit(false, TextTerm.Tok("bravo"))),
      Seq(TextLit(false, TextTerm.Tok("charlie")))))
    // NOT composes with AND
    assert(GraftFunctions.parseLucene("a AND NOT b") ==
      Seq(Seq(TextLit(false, TextTerm.Tok("a")), TextLit(true, TextTerm.Tok("b")))))
  }

  test("per-term field scoping strips the indexed column, rejects others") {
    import graft.engine.index.TextMatchSql
    assert(TextMatchSql.parseArg("body:body:n10* AND body:abc") ==
      ("body", "n10* AND abc"))
    // lucene-style single-field query with the field on each term
    assert(TextMatchSql.parseArg("name:n10*") == ("name", "n10*"))
    assert(TextMatchSql.parseArg("body:\"a b:c\" x") == ("body", "\"a b:c\" x"))
    val e = intercept[IllegalArgumentException](
      TextMatchSql.parseArg("body:other:term"))
    assert(e.getMessage.contains("does not match the indexed column"))
  }

  test("fuzzy and proximity parse shapes") {
    // bare ~ defaults to 2 edits (lucene), explicit caps at 2, ~0 = exact
    assert(GraftFunctions.parseLucene("query~") ==
      Seq(Seq(TextLit(false, TextTerm.Fuzzy("query", 2)))))
    assert(GraftFunctions.parseLucene("query~1") ==
      Seq(Seq(TextLit(false, TextTerm.Fuzzy("query", 1)))))
    assert(GraftFunctions.parseLucene("query~9") ==
      Seq(Seq(TextLit(false, TextTerm.Fuzzy("query", 2)))))
    assert(GraftFunctions.parseLucene("query~0") ==
      Seq(Seq(TextLit(false, TextTerm.Tok("query")))))
    // a mid-word tilde is part of the term, not an operator
    assert(GraftFunctions.parseLucene("a~b") ==
      Seq(Seq(TextLit(false, TextTerm.Tok("a~b")))))
    // proximity attaches to its phrase through the lexer; ~0 = phrase
    assert(GraftFunctions.parseLucene("\"a b\"~2") ==
      Seq(Seq(TextLit(false, TextTerm.Near(Seq("a", "b"), 2)))))
    assert(GraftFunctions.parseLucene("\"a b\"~0") ==
      Seq(Seq(TextLit(false, TextTerm.Phrase(Seq("a", "b"))))))
    // negation composes
    assert(GraftFunctions.parseLucene("-quer~1") ==
      Seq(Seq(TextLit(true, TextTerm.Fuzzy("quer", 1)))))
    assert(GraftFunctions.parseLucene("NOT \"a b\"~3 c") ==
      Seq(Seq(TextLit(true, TextTerm.Near(Seq("a", "b"), 3)),
        TextLit(false, TextTerm.Tok("c")))))
  }

  test("editsAtMost counts code points like Spark's levenshtein (supplementary planes)") {
    import spark.implicits._
    // 𝒜 and 😀 are outside the BMP: two UTF-16 chars, ONE code point.
    // Spark's levenshtein counts code points (UTF8String.numChars), so
    // the shared driver-side DP must too — a UTF-16 count would prune
    // index postings the codegen residual matches.
    val sup = Seq("𝒜", "𝒜b", "a𝒜", "ab", "a",
      "𝒜𝒜", "a𝒜b", "😀ab", "")
    val pairs = for (a <- sup; b <- sup) yield (a, b)
    val got = pairs.toDF("a", "b")
      .withColumn("lev", org.apache.spark.sql.functions.levenshtein(col("a"), col("b")))
      .collect()
    got.foreach { r =>
      val (a, b, lev) = (r.getString(0), r.getString(1), r.getInt(2))
      for (n <- 0 to 3)
        assert(GraftFunctions.editsAtMost(a, b, n) == (lev <= n),
          s"editsAtMost('$a','$b',$n) disagrees with Spark levenshtein=$lev")
    }
  }

  test("oversized fuzzy/proximity suffixes cap instead of overflowing") {
    assert(GraftFunctions.parseLucene("query~9999999999") ==
      Seq(Seq(TextLit(false, TextTerm.Fuzzy("query", 2)))))
    assert(GraftFunctions.parseLucene("\"a b\"~9999999999") ==
      Seq(Seq(TextLit(false, TextTerm.Near(Seq("a", "b"), 1000000)))))
    // leading zeros are value-equivalent, not parse errors
    assert(GraftFunctions.parseLucene("query~00") ==
      Seq(Seq(TextLit(false, TextTerm.Tok("query")))))
    assert(GraftFunctions.parseLucene("\"a b\"~007") ==
      Seq(Seq(TextLit(false, TextTerm.Near(Seq("a", "b"), 7)))))
  }

  test("dangling NOT and unterminated phrases fail loudly") {
    intercept[IllegalArgumentException](GraftFunctions.parseLucene("a NOT"))
    intercept[IllegalArgumentException](GraftFunctions.parseLucene("a NOT OR b"))
    intercept[IllegalArgumentException](GraftFunctions.parseLucene("\"abc"))
  }
}
