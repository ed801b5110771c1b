package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._

/** The reference's registered UDF surface (SURVEY §2.6 / CarbonEnv
  * .scala:83-113), Spark-first: wherever possible the "UDF" is expanded
  * into native codegen'd functions instead of a black-box lambda, so
  * predicates stay pushdown-eligible.
  */
object GraftFunctions {

  // ---------------------------------------------------- text queries

  /** One parsed text-query literal. The grammar is the lucene subset
    * the reference's TEXT_MATCH exposes (TextMatchUDF.scala:23-30,
    * lucene MatchExpression): `OR`-separated clauses; inside a clause,
    * whitespace-separated literals that must ALL hold; a literal is a
    * bare token, a `"quoted phrase"`, or a `prefix*` wildcard, each
    * optionally negated with a preceding `NOT` (or a `-` prefix). */
  sealed trait TextTerm
  object TextTerm {
    final case class Tok(s: String) extends TextTerm
    final case class Prefix(s: String) extends TextTerm
    final case class Phrase(words: Seq[String]) extends TextTerm
    /** `term~N` fuzzy match (lucene FuzzyQuery, accepted verbatim by the
      * reference's lucene FG index, LuceneFineGrainIndex.java:137-142):
      * some whole token of the document is within `maxEdits`
      * (Levenshtein) of the term. Like lucene, `maxEdits` ∈ {1, 2};
      * a bare `~` means 2 (lucene's default). */
    final case class Fuzzy(s: String, maxEdits: Int) extends TextTerm
    /** `"w1 w2"~k` proximity: every phrase word occurs as a whole token
      * inside SOME window of `words.length + slop` consecutive tokens,
      * in any order. This is a documented simplification of lucene's
      * move-count slop (lucene charges reorders extra moves; the
      * window test does not) — chosen because it is exactly
      * expressible in both codegen'd Spark and the DuckDB oracle.
      * `~0` parses as a plain ordered [[Phrase]]. */
    final case class Near(words: Seq[String], slop: Int) extends TextTerm
  }
  final case class TextLit(negated: Boolean, term: TextTerm)

  /** Shared token-level predicates for the fuzzy / proximity terms —
    * identical in [[textMatch]] (substring family) and
    * `TextIndex.tokenMatch` (whole-token family): both operators are
    * inherently token-level, like lucene's. */
  private[graft] def fuzzyPred(c: Column, s: String, n: Int): Column =
    // threshold form: banded DP, O(n·len) per token instead of O(len²),
    // and an early length bail-out; returns -1 past the threshold so
    // `between(0, n)` is exactly `distance <= n`
    exists(split(lower(trim(c)), " "),
      x => levenshtein(x, lit(s), n).between(0, n))
  private[graft] def nearPred(c: Column, ws: Seq[String], slop: Int): Column = {
    // native sliding-window co-occurrence (one O(len) codegen scan) —
    // the HOF exists/slice formulation ran interpreted and allocated a
    // window copy per token position; semantics identical (window =
    // ORIGINAL phrase length + slop, like the oracle's list_slice)
    val toks = split(lower(trim(c)), " ")
    org.apache.spark.sql.graft.Shims.column(
      org.apache.spark.sql.graft.WindowCoOccur(
        org.apache.spark.sql.graft.Shims.expression(toks), ws, ws.length + slop))
  }

  /** `text_match(column, query)` — lucene-lite full-text predicate
    * (reference TextMatchUDF.scala:23-30 backed by the lucene FG index;
    * here: native contains-conjunctions, SURVEY §4.2 "text_match-lite").
    *
    * Substring semantics (the unindexed row-level variant): a token or
    * phrase matches as a case-insensitive substring; a `prefix*`
    * wildcard matches when any whitespace token of the document starts
    * with the prefix; `NOT` negates its literal.
    * e.g. `"big data" NOT spark OR quer*` = (contains "big data" AND
    * NOT contains "spark") OR (some token starts with "quer").
    */
  def textMatch(c: Column, query: String): Column = {
    val clauses = parseLucene(query)
    require(clauses.nonEmpty, "empty text_match query")
    val lc = lower(c)
    def one(t: TextTerm): Column = t match {
      case TextTerm.Tok(s) => lc.contains(s)
      case TextTerm.Phrase(ws) => lc.contains(ws.mkString(" "))
      case TextTerm.Prefix(p) =>
        exists(split(lower(trim(c)), " "), _.startsWith(p))
      case TextTerm.Fuzzy(s, n) => fuzzyPred(c, s, n)
      case TextTerm.Near(ws, k) => nearPred(c, ws, k)
    }
    clauses.map(_.map(l => if (l.negated) !one(l.term) else one(l.term))
      .reduce(_ && _)).reduce(_ || _)
  }

  /** Whitespace lexer that keeps `"quoted phrases"` as one token. */
  private def lex(query: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < query.length) {
      val ch = query(i)
      if (ch.isWhitespace) i += 1
      else if (ch == '"') {
        val j = query.indexOf('"', i + 1)
        require(j > 0, s"unterminated phrase in text query '$query'")
        // keep a proximity suffix (`"a b"~2`) attached to its phrase
        var k = j + 1
        while (k < query.length && !query(k).isWhitespace) k += 1
        out += query.substring(i, k)
        i = k
      } else {
        var j = i
        while (j < query.length && !query(j).isWhitespace) j += 1
        out += query.substring(i, j)
        i = j
      }
    }
    out.toSeq
  }

  private val NearRe = "^\"(.*)\"~(\\d*)$".r
  private val FuzzyRe = "^([^\"*]+)~(\\d*)$".r

  /** Scalar Levenshtein-within-n (two-row DP) — the one implementation
    * every driver-side fuzzy consumer shares (the `text_match_contains`
    * UDF, TextIndex posting filtering), so it cannot drift from itself;
    * it must agree with Spark's `levenshtein` used in the codegen
    * predicates. Spark's UTF8String.levenshteinDistance counts CODE
    * POINTS (numChars), so the DP runs over code points, not UTF-16
    * chars — a supplementary-plane char is ONE edit unit; counting its
    * two surrogates would over-prune index postings the codegen
    * residual matches. */
  private[graft] def editsAtMost(a: String, b: String, n: Int): Boolean = {
    val ac = a.codePoints.toArray
    val bc = b.codePoints.toArray
    if (math.abs(ac.length - bc.length) > n) return false
    val m = Array.tabulate(bc.length + 1)(identity)
    for (i <- 1 to ac.length) {
      var prevDiag = m(0); m(0) = i
      for (j <- 1 to bc.length) {
        val t = m(j)
        m(j) = math.min(math.min(m(j) + 1, m(j - 1) + 1),
          prevDiag + (if (ac(i - 1) == bc(j - 1)) 0 else 1))
        prevDiag = t
      }
    }
    m(bc.length) <= n
  }

  /** Parse the lucene-subset grammar into OR-of-AND-of-literals. */
  private[graft] def parseLucene(query: String): Seq[Seq[TextLit]] = {
    val clauses = scala.collection.mutable.ArrayBuffer(
      scala.collection.mutable.ArrayBuffer.empty[TextLit])
    var negateNext = false
    // operators are UPPERCASE-ONLY, like lucene's QueryParser — the
    // lowercase words "or"/"and"/"not" are legitimate search terms
    // (treating them as operators made the word "or" unsearchable and
    // 'NOT or' a parse error)
    lex(query).foreach { tok =>
      if (tok == "OR") {
        require(!negateNext, s"dangling NOT before OR in '$query'")
        clauses += scala.collection.mutable.ArrayBuffer.empty[TextLit]
      } else if (tok == "AND") {
        // lucene's explicit AND: terms in a clause already conjoin, so
        // the keyword is a separator, never a literal
        require(!negateNext, s"dangling NOT before AND in '$query'")
      } else if (tok == "NOT") {
        negateNext = true
      } else {
        val (neg0, body0) =
          if (tok.startsWith("-") && tok.length > 1) (true, tok.drop(1))
          else (false, tok)
        val term = body0 match {
          // `"w1 w2"~k` proximity; `~`/`~0` degrade to the plain phrase.
          // Slop caps at 10^6: any longer window behaves identically on
          // any real document while keeping the window arithmetic (and
          // the oracle's list_slice) overflow-free, and it turns a
          // pathological >9-digit suffix into a grammar-level cap
          // instead of a raw NumberFormatException
          case NearRe(inner, slopS) =>
            val ws = inner.toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty)
            val digits = slopS.dropWhile(_ == '0')
            val slop =
              if (digits.isEmpty) 0
              else if (digits.length > 6) 1000000
              else digits.toInt
            if (slop <= 0) TextTerm.Phrase(ws) else TextTerm.Near(ws, slop)
          case _ if body0.startsWith("\"") && body0.endsWith("\"") && body0.length >= 2 =>
            TextTerm.Phrase(body0.substring(1, body0.length - 1)
              .toLowerCase.split("\\s+").toSeq.filter(_.nonEmpty))
          // `term~N` fuzzy; bare `~` = 2 edits (lucene default), capped
          // at 2 like lucene's LevenshteinAutomata; `~0` is exact
          case FuzzyRe(stem, edS) =>
            // any multi-digit distance is >= 10 and caps at lucene's 2
            // without parsing (a >9-digit suffix would overflow toInt)
            val nd = edS.dropWhile(_ == '0')
            val n = math.min(
              if (edS.isEmpty) 2 else if (nd.isEmpty) 0
              else if (nd.length > 1) 2 else nd.toInt, 2)
            if (n <= 0) TextTerm.Tok(stem.toLowerCase)
            else TextTerm.Fuzzy(stem.toLowerCase, n)
          case _ if body0.endsWith("*") && body0.length > 1 =>
            TextTerm.Prefix(body0.dropRight(1).toLowerCase)
          case _ => TextTerm.Tok(body0.toLowerCase)
        }
        val nonEmpty = term match {
          case TextTerm.Phrase(ws) => ws.nonEmpty
          case TextTerm.Near(ws, _) => ws.nonEmpty
          case TextTerm.Prefix(p) => p.nonEmpty
          case TextTerm.Tok(s) => s.nonEmpty
          case TextTerm.Fuzzy(s, _) => s.nonEmpty
        }
        if (nonEmpty) {
          clauses.last += TextLit(negateNext || neg0, term)
          negateNext = false
        }
      }
    }
    require(!negateNext, s"dangling NOT at end of '$query'")
    clauses.map(_.toSeq).toSeq.filter(_.nonEmpty)
  }

  /** Back-compat view for consumers that only need the positive flat
    * token lists (e.g. simple conjunction building): phrases expand to
    * their words, prefixes and negations are NOT representable — use
    * [[parseLucene]] wherever those must be honored. */
  private[graft] def parseQuery(query: String): Seq[Seq[String]] =
    parseLucene(query).map(_.collect {
      case TextLit(false, TextTerm.Tok(s)) => Seq(s)
      case TextLit(false, TextTerm.Phrase(ws)) => ws
      case TextLit(false, TextTerm.Near(ws, _)) => ws
    }.flatten).filter(_.nonEmpty)

  /** DuckDB fragments for the token-level fuzzy / proximity terms
    * (shared by [[oTextMatch]] and [[oTokenMatch]] — the semantics are
    * token-level in both families, mirroring [[fuzzyPred]]/[[nearPred]]
    * exactly). */
  private def oFuzzy(toks: String, s: String, n: Int): String =
    s"len(list_filter($toks, x -> levenshtein(x, '${sqlEsc(s)}') <= $n)) > 0"
  private def oNear(toks: String, ws: Seq[String], slop: Int): String = {
    val w = ws.length + slop
    val inWindow = ws.map(word =>
      s"list_contains(list_slice($toks, p, p + ${w - 1}), '${sqlEsc(word)}')")
      .mkString(" AND ")
    s"len(list_filter(range(1, len($toks) + 1), p -> $inWindow)) > 0"
  }

  private def sqlEsc(t: String): String = t.replace("'", "''")

  /** DuckDB oracle fragment with [[textMatch]]'s exact semantics. */
  def oTextMatch(cSql: String, query: String): String =
    parseLucene(query)
      .map(_.map { l =>
        val base = l.term match {
          case TextTerm.Tok(s) => s"contains(lower($cSql), '${sqlEsc(s)}')"
          case TextTerm.Phrase(ws) =>
            s"contains(lower($cSql), '${sqlEsc(ws.mkString(" "))}')"
          case TextTerm.Prefix(p) =>
            s"len(list_filter(string_split(lower(trim($cSql)), ' '), " +
              s"x -> starts_with(x, '${sqlEsc(p)}'))) > 0"
          case TextTerm.Fuzzy(s, n) =>
            oFuzzy(s"string_split(lower(trim($cSql)), ' ')", s, n)
          case TextTerm.Near(ws, k) =>
            oNear(s"string_split(lower(trim($cSql)), ' ')", ws, k)
        }
        if (l.negated) s"(NOT $base)" else base
      }.mkString("(", " AND ", ")"))
      .mkString("(", " OR ", ")")

  /** DuckDB oracle fragment with [[graft.engine.index.TextIndex
    * .tokenMatch]]'s exact whole-token semantics. */
  def oTokenMatch(cSql: String, query: String): String = {
    val toks = s"string_split(lower(trim($cSql)), ' ')"
    parseLucene(query)
      .map(_.map { l =>
        val base = l.term match {
          case TextTerm.Tok(s) => s"list_contains($toks, '${sqlEsc(s)}')"
          case TextTerm.Phrase(ws) =>
            s"contains(' ' || lower(trim($cSql)) || ' ', ' ${sqlEsc(ws.mkString(" "))} ')"
          case TextTerm.Prefix(p) =>
            s"len(list_filter($toks, x -> starts_with(x, '${sqlEsc(p)}'))) > 0"
          case TextTerm.Fuzzy(s, n) => oFuzzy(toks, s, n)
          case TextTerm.Near(ws, k) => oNear(toks, ws, k)
        }
        if (l.negated) s"(NOT $base)" else base
      }.mkString("(", " AND ", ")"))
      .mkString("(", " OR ", ")")
  }

  /** `text_match_with_limit` — reference caps hits at the index layer;
    * without an FG index the limit composes as a plain limit. */
  def textMatchWithLimit(c: Column, query: String, limit: Int): (Column, Int) =
    (textMatch(c, query), limit)

  /** `getTupleId()` analog: stable row address = file + row ordinal
    * (reference addresses IUD rows the same way; CarbonEnv.scala:83).
    * Valid on v1 file-source reads (`_metadata` column); for carbonish
    * tables use `GraftTable.readWithTupleId`. */
  def tupleId: Column =
    concat_ws("/", col("_metadata.file_path"), col("_metadata.row_index"))

  /** `getPositionId()` — the row ordinal WITHIN its file; pair with
    * `_metadata.file_path` (or use [[tupleId]]) for a globally unique
    * row address. */
  def positionId: Column = col("_metadata.row_index")

  /** `timeseries(col, granularity)` (reference TimeSeriesUDF.java:79-142)
    * = date_trunc with the carbon granularity names. */
  def timeseries(c: Column, granularity: String): Column = {
    val g = granularity.trim.toLowerCase match {
      case "second" => "second"; case "minute" => "minute"
      case "hour" => "hour"; case "day" => "day"
      case "week" => "week"; case "month" => "month"; case "year" => "year"
      case other => throw new IllegalArgumentException(s"granularity: $other")
    }
    date_trunc(g, c)
  }

  /** The UDF-shaped SQL surface (SQL queries can't call the Column
    * builders directly), attached to a session by
    * [[graft.engine.GraftSession.install]]. Named `text_match_contains`
    * — the row-level substring variant — so it can't collide with the
    * indexed `text_match('col:query')` marker
    * ([[graft.engine.index.TextMatchSql.markers]]). */
  private[graft] def sqlUdfs: Seq[(String, UserDefinedFunction)] = Seq(
    "text_match_contains" -> udf((text: String, query: String) => {
      if (text == null) false
      else {
        val lc = text.toLowerCase
        lazy val toks = lc.trim.split(" ")
        def one(t: TextTerm): Boolean = t match {
          case TextTerm.Tok(s) => lc.contains(s)
          case TextTerm.Phrase(ws) => lc.contains(ws.mkString(" "))
          case TextTerm.Prefix(p) => toks.exists(_.startsWith(p))
          case TextTerm.Fuzzy(s, n) => toks.exists(editsAtMost(_, s, n))
          case TextTerm.Near(ws, k) =>
            val w = ws.length + k
            toks.indices.exists(p =>
              ws.forall(word => toks.slice(p, p + w).contains(word)))
        }
        parseLucene(query).exists(_.forall(l => one(l.term) != l.negated))
      }
    }))

  /** Native catalyst functions under SQL names, registered next to
    * [[sqlUdfs]]. */
  private[graft] def sqlNatives
      : Seq[(String, Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression)] = Seq(
    // timeseries(col, 'granularity') as a SQL function (reference
    // TimeSeriesUDF registration, TimeSeriesFunction.scala): resolves
    // to the very TruncTimestamp the Column builder produces, so
    // timeseries MVs rewrite identically whether the query came from
    // SQL or the DataFrame API (a udf-wrapped variant would be opaque
    // to the matcher)
    "timeseries" -> (exprs => {
      require(exprs.length == 2,
        "timeseries(column, granularity) takes exactly two arguments")
      val g = exprs(1) match {
        case e if e.foldable => Option(e.eval())
          .map(_.toString.trim.toLowerCase)
          .getOrElse(throw new IllegalArgumentException(
            "timeseries: granularity must be a non-null string literal"))
        case _ => throw new IllegalArgumentException(
          "timeseries: granularity must be a literal")
      }
      g match {
        case "second" | "minute" | "hour" | "day" | "week" | "month" | "year" =>
        case other => throw new IllegalArgumentException(s"granularity: $other")
      }
      org.apache.spark.sql.catalyst.expressions.TruncTimestamp(
        org.apache.spark.sql.catalyst.expressions.Literal(g), exprs.head)
    }),
    // approx_top_k(col, k): the Misra-Gries aggregate as a SQL function
    // (a native AggregateFunction is not a UDF)
    "approx_top_k" -> (exprs => {
      require(exprs.length == 2,
        "approx_top_k(column, k) takes exactly two arguments")
      val k = exprs(1) match {
        case e if e.foldable => e.eval() match {
          case i: Int => i
          case l: Long => l.toInt
          case other => throw new IllegalArgumentException(
            s"approx_top_k: k must be an integer literal, got $other")
        }
        case _ => throw new IllegalArgumentException(
          "approx_top_k: k must be a literal")
      }
      org.apache.spark.sql.graft.MisraGries(exprs.head, k)
    }))

  // ---------------------------------------------------------- redaction

  /** PII redaction for training corpora: emails → `<EMAIL>`,
    * NNN-NNNN phone shapes → `<PHONE>`. Pure regexp_replace projection
    * (codegen'd, embarrassingly parallel); the patterns are restricted
    * to syntax Java regex and RE2 share, so the DuckDB oracle fragment
    * below is bit-identical. */
  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "\\b\\d{3}-\\d{4}\\b"

  def redactPii(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")

  /** DuckDB oracle fragment with identical semantics. */
  def oRedactPii(cSql: String): String =
    s"regexp_replace(regexp_replace($cSql, '$EmailRe', '<EMAIL>', 'g'), '$PhoneRe', '<PHONE>', 'g')"

  /** Intra-document repetition (the Gopher-style duplicate-n-gram
    * quality rule): fraction of n-grams that are repeats of an earlier
    * n-gram in the same doc — 0.0 for docs too short to form one. Pure
    * per-row array work (no shuffle); heavily templated/boilerplate
    * text scores high and gets filtered before training. */
  def duplicateNgramRatio(c: Column, n: Int = 3): Column = {
    require(n >= 1, s"n must be >= 1, got $n")
    val toks = split(lower(trim(c)), " ")
    // gram strings built by the native WordNgrams loop (r21) — the
    // former interpreted transform/concat_ws chain (even with the token
    // array lambda-bound to stay linear) spent ~1.4 s of the sf1 row
    // building gram strings; values are byte-identical (WordNgramSpec)
    val grams = org.apache.spark.sql.graft.Shims.column(
      org.apache.spark.sql.graft.WordNgrams(
        org.apache.spark.sql.graft.Shims.expression(toks), n, 1,
        partialTail = false))
    val nDistinct = org.apache.spark.sql.graft.Shims.column(
      org.apache.spark.sql.graft.DistinctStringCount(
        org.apache.spark.sql.graft.Shims.expression(grams)))
    when(size(grams) >= 1,
      lit(1.0) - nDistinct.cast("double") / size(grams).cast("double"))
      .otherwise(lit(0.0))
  }

  /** Approximate top-k heavy hitters (Misra-Gries sketch) as an
    * aggregate Column: `df.agg(approxTopK(col("token"), 200))` →
    * array<struct<token,count>> sorted by count desc. Mergeable ≤ k
    * counters per partition instead of a full distinct-token shuffle;
    * every item with true frequency > N/(k+1) is guaranteed present,
    * counts undercount by ≤ N/(k+1). Size k ~10× the wanted top-m. */
  def approxTopK(c: Column, k: Int): Column =
    org.apache.spark.sql.graft.Shims.column(
      org.apache.spark.sql.graft.MisraGries(
        org.apache.spark.sql.graft.Shims.expression(c), k)
        .toAggregateExpression())
}
