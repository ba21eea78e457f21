package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.{Analyzer, TermPos}

/** CJK bigram chain golden vectors (reference semantics:
  * lucene/analysis/common/src/java/org/apache/lucene/analysis/cjk/CJKBigramFilter.java,
  * vectors adapted from
  * lucene/analysis/common/src/test/org/apache/lucene/analysis/cjk/TestCJKBigramFilter.java
  * HAN-only cases): runs of Han codepoints become overlapping bigrams,
  * isolated ideographs stay unigrams, other scripts pass through. */
class CjkBigramSpec extends AnyFunSuite {

  private def terms(text: String): Seq[String] =
    Analyzer.analyzeCjk(text).map(_.term)

  test("pure Han run becomes overlapping bigrams") {
    assert(terms("一二三四") == Seq("一二", "二三", "三四"))
  }

  test("HAN-only: hiragana passes through, Han pairs bigram " +
    "(TestCJKBigramFilter han-only vector)") {
    assert(terms("多くの学生が試験に落ちた") ==
      Seq("多", "く", "の", "学生", "が", "試験", "に", "落", "ち", "た"))
  }

  test("isolated ideograph stays a unigram") {
    assert(terms("break 中 word") == Seq("break", "中", "word"))
  }

  test("latin breaks the run; positions advance by one per emitted token") {
    assert(Analyzer.analyzeCjk("abc一二三def") == Vector(
      TermPos("abc", 0), TermPos("一二", 1), TermPos("二三", 2),
      TermPos("def", 3)))
  }

  test("runs separated by a non-CJK token bigram independently") {
    assert(terms("日本 x 語言") == Seq("日本", "x", "語言"))
  }

  test("indexing path: cjk analyzer wires through invertDoc") {
    val sd = graft.index.IndexBuilder.invertDoc(0L, 0, "r", "p", "c", "zh",
      "検索一二三 engine",
      graft.index.IndexChain.of(graft.index.IndexConfig(analyzer = "cjk")))
    val got = sd.postings.map(_.term).filterNot(_.startsWith("path:")).toSet
    // 検索 bigrams with the following Han chars: 検索|索一|一二|二三
    assert(got == Set("検索", "索一", "一二", "二三", "engine"))
    assert(sd.dl == 5)
  }
}
