package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.search._

/** Flexible StandardQueryParser vectors derived from the reference
  * TestQPHelper.java (queryparser/flexible/standard): AND > OR
  * precedence, nested groups, modifier resolution
  * (BooleanQuery2ModifierNodeProcessor), single-child group collapse,
  * phrase slop, float fuzzy similarity, term ranges, and the
  * relational open-range syntax. Stopword terms are avoided so the
  * vectors exercise the parser, not the analyzer. */
class StandardParserSpec extends AnyFunSuite {
  private def p(q: String) = StandardParser.parse(q)
  private val S = Occur.Should
  private val M = Occur.Must
  private val N = Occur.MustNot

  test("juxtaposition and default OR (testSimple)") {
    assert(p("alpha beta gamma").clauses ==
      Seq((S, TermQ("alpha")), (S, TermQ("beta")), (S, TermQ("gamma"))))
    assert(p("alpha OR beta").clauses ==
      Seq((S, TermQ("alpha")), (S, TermQ("beta"))))
    assert(p("alpha || beta").clauses ==
      Seq((S, TermQ("alpha")), (S, TermQ("beta"))))
  }

  test("AND makes both sides MUST; && too (testSimple)") {
    assert(p("alpha AND beta").clauses ==
      Seq((M, TermQ("alpha")), (M, TermQ("beta"))))
    assert(p("(alpha AND beta)").clauses ==
      Seq((M, TermQ("alpha")), (M, TermQ("beta"))))
    assert(p("alpha && beta").clauses ==
      Seq((M, TermQ("alpha")), (M, TermQ("beta"))))
  }

  test("NOT/!/- inside AND and OR (testSimple)") {
    assert(p("alpha AND NOT beta").clauses ==
      Seq((M, TermQ("alpha")), (N, TermQ("beta"))))
    assert(p("alpha AND -beta").clauses ==
      Seq((M, TermQ("alpha")), (N, TermQ("beta"))))
    assert(p("alpha AND !beta").clauses ==
      Seq((M, TermQ("alpha")), (N, TermQ("beta"))))
    assert(p("alpha && ! beta").clauses ==
      Seq((M, TermQ("alpha")), (N, TermQ("beta"))))
    assert(p("alpha OR !beta").clauses ==
      Seq((S, TermQ("alpha")), (N, TermQ("beta"))))
    assert(p("alpha OR -beta").clauses ==
      Seq((S, TermQ("alpha")), (N, TermQ("beta"))))
    assert(p("+alpha -beta gamma").clauses ==
      Seq((M, TermQ("alpha")), (N, TermQ("beta")), (S, TermQ("gamma"))))
  }

  test("leading negation (testLeadingNegation)") {
    assert(p("-alpha").clauses == Seq((N, TermQ("alpha"))))
    assert(p("!alpha").clauses == Seq((N, TermQ("alpha"))))
    assert(p("NOT alpha").clauses == Seq((N, TermQ("alpha"))))
  }

  test("AND binds tighter than OR; groups nest (testSimple/testGroup)") {
    // c OR (a AND b) -> c (+a +b)
    assert(p("gamma OR (alpha AND beta)").clauses ==
      Seq((S, TermQ("gamma")),
        (S, BoolQ(Seq((M, TermQ("alpha")), (M, TermQ("beta")))))))
    // precedence WITHOUT parens: a AND b OR c == (+a +b) c
    assert(p("alpha AND beta OR gamma").clauses ==
      Seq((S, BoolQ(Seq((M, TermQ("alpha")), (M, TermQ("beta"))))),
        (S, TermQ("gamma"))))
    // ((a AND b) AND c) -> +(+a +b) +c
    assert(p("((alpha AND beta) AND gamma)").clauses ==
      Seq((M, BoolQ(Seq((M, TermQ("alpha")), (M, TermQ("beta"))))),
        (M, TermQ("gamma"))))
    // !(a AND b) OR c -> -(+a +b) c
    assert(p("!(alpha AND beta) OR gamma").clauses ==
      Seq((N, BoolQ(Seq((M, TermQ("alpha")), (M, TermQ("beta"))))),
        (S, TermQ("gamma"))))
    // b !(a AND b) -> b -(+a +b)
    assert(p("beta !(alpha AND beta)").clauses ==
      Seq((S, TermQ("beta")),
        (N, BoolQ(Seq((M, TermQ("alpha")), (M, TermQ("beta")))))))
    // ((a OR b) AND NOT c) OR d -> (+(a b) -c) d
    assert(p("((alpha OR beta) AND NOT gamma) OR delta").clauses ==
      Seq((S, BoolQ(Seq(
        (M, BoolQ(Seq((S, TermQ("alpha")), (S, TermQ("beta"))))),
        (N, TermQ("gamma"))))),
        (S, TermQ("delta"))))
  }

  test("boosts incl. single-child group collapse (testSimple/testGroup)") {
    assert(p("germ term^2.0").clauses ==
      Seq((S, TermQ("germ")), (S, BoostQ(TermQ("term"), 2f))))
    assert(p("(term)^2.0").clauses == Seq((S, BoostQ(TermQ("term"), 2f))))
    assert(p("(germ term)^2.0").clauses == Seq((S, BoostQ(
      BoolQ(Seq((S, TermQ("germ")), (S, TermQ("term")))), 2f))))
    assert(p("term^2").clauses == Seq((S, BoostQ(TermQ("term"), 2f))))
    // (a AND b)^4 OR c
    assert(p("(alpha AND beta)^4 OR gamma").clauses ==
      Seq((S, BoostQ(BoolQ(Seq((M, TermQ("alpha")), (M, TermQ("beta")))),
        4f)), (S, TermQ("gamma"))))
  }

  test("phrases and slop (testSlop)") {
    assert(p("\"term germ\"~2").clauses == Seq((S,
      SloppyPhraseQ(Seq("term", "germ"), Seq(0, 1), 2))))
    assert(p("\"term germ\"~2 flork").clauses == Seq((S,
      SloppyPhraseQ(Seq("term", "germ"), Seq(0, 1), 2)),
      (S, TermQ("flork"))))
    // single-term phrase loses phrase-ness and slop
    assert(p("\"term\"~2").clauses == Seq((S, TermQ("term"))))
    // all-stopword phrase drops entirely
    assert(p("\" the \"~2 germ").clauses == Seq((S, TermQ("germ"))))
    assert(p("\"term germ\"~2^2").clauses == Seq((S, BoostQ(
      SloppyPhraseQ(Seq("term", "germ"), Seq(0, 1), 2), 2f))))
  }

  test("wildcard / prefix / fuzzy incl. float similarity (testWildcard)") {
    assert(p("term*").clauses == Seq((S, PrefixQ("term"))))
    assert(p("term*^2").clauses == Seq((S, BoostQ(PrefixQ("term"), 2f))))
    assert(p("term~").clauses == Seq((S, FuzzyQ("term", 2))))
    // float similarity: floatToEdits(0.7, 4) == 1
    assert(p("term~0.7").clauses == Seq((S, FuzzyQ("term", 1))))
    assert(p("term~^3").clauses == Seq((S, BoostQ(FuzzyQ("term", 2), 3f))))
    assert(p("term*germ").clauses == Seq((S, WildcardQ("term*germ"))))
  }

  test("term ranges: bracket kinds and open bounds (testRange)") {
    assert(p("[alpha TO omega]").clauses ==
      Seq((S, RangeQ("alpha", "omega", incLo = true, incHi = true))))
    assert(p("{alpha TO omega}").clauses ==
      Seq((S, RangeQ("alpha", "omega", incLo = false, incHi = false))))
    assert(p("{alpha TO omega]").clauses ==
      Seq((S, RangeQ("alpha", "omega", incLo = false, incHi = true))))
    val open = p("[* TO omega]").clauses
    assert(open == Seq((S, RangeQ("", "omega", incLo = true, incHi = true))))
    val openHi = p("[alpha TO *]").clauses.head._2.asInstanceOf[RangeQ]
    assert(openHi.lo == "alpha" && openHi.hi > "zzzz")
  }

  test("fielded ranges are rejected, never split into garbage terms") {
    for (q <- Seq("date:[alpha TO beta]", "date:{alpha TO beta}",
      "spark AND path:[a TO m]", "+date:[* TO omega}")) {
      val e = intercept[IllegalArgumentException](p(q))
      assert(e.getMessage.contains(":[") || e.getMessage.contains(":{"),
        e.getMessage)
    }
  }

  test("relational open-range syntax (OpenRangeQueryNodeProcessor)") {
    assert(p("content=spark").clauses == Seq((S, TermQ("spark"))))
    assert(p("content<spark").clauses ==
      Seq((S, RangeQ("", "spark", incLo = true, incHi = false))))
    assert(p("content<=spark").clauses ==
      Seq((S, RangeQ("", "spark", incLo = true, incHi = true))))
    val gt = p("content>spark").clauses.head._2.asInstanceOf[RangeQ]
    assert(gt.lo == "spark" && !gt.incLo && gt.incHi)
    val ge = p("content>=spark").clauses.head._2.asInstanceOf[RangeQ]
    assert(ge.lo == "spark" && ge.incLo)
    // path keeps its keyed term space — including on OPEN ends, where
    // the prefix bounds the range inside the path dictionary
    assert(p("path=Main.scala").clauses ==
      Seq((S, TermQ("path:main.scala"))))
    val pGt = p("path>main").clauses.head._2.asInstanceOf[RangeQ]
    assert(pGt.lo == "path:main" && pGt.hi.startsWith("path:") &&
      pGt.hi.length > "path:".length)
    val pLt = p("path<main").clauses.head._2.asInstanceOf[RangeQ]
    assert(pLt.lo == "path:" && pLt.hi == "path:main")
  }

  test("leaf semantics agree with the classic parser (shared lowering)") {
    for (q <- Seq("hello", "+hello", "-hello", "\"alpha beta\"",
      "term*", "te?m", "term~1", "/re.*/", "path:Main", "term^2.5",
      "\"alpha beta\"~3", "*:*"))
      assert(StandardParser.parse(q).clauses == QueryParser.parse(q).clauses,
        s"diverged on: $q")
  }

  test("fuzz: random inputs never crash uncontrolled") {
    // anything the tokenizer can produce must either parse or raise a
    // controlled IllegalArgumentException — no NPE/SO/match errors
    val rnd = new scala.util.Random(11)
    val alphabet = "ab ()+-!\"*?~^0.5ANDORT:[]{}/<>=|&"
    var parsed = 0
    for (_ <- 1 to 300) {
      val q = Array.fill(1 + rnd.nextInt(24))(
        alphabet(rnd.nextInt(alphabet.length))).mkString
      try { StandardParser.parse(q); parsed += 1 }
      catch { case _: IllegalArgumentException => }
    }
    assert(parsed > 50, s"only $parsed/300 parsed — grammar too brittle")
  }

  test("regexp and match-all leaves pass through") {
    assert(p("/spa[rk]+/").clauses == Seq((S, RegexpQ("spa[rk]+"))))
    assert(p("*:*").clauses == Seq((S, MatchAllQ)))
  }
}
