package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.index._
import graft.search.DirectSpell
import graft.search.DirectSpell._
import graft.search.StringDistances

/** DirectSpellChecker semantics
  * (suggest/spell/DirectSpellChecker.java:280-465): candidate drawing by
  * Damerau-Levenshtein, the ed1-then-maybe-ed2 two-pass union, per-pass
  * top-inspections PQ, the SuggestWordScoreComparator response order, and
  * every pre-scan gate (minQueryLength, lowerCaseTerms, suggest modes,
  * maxQueryFrequency, thresholdFrequency). */
class DirectSpellSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  private val P = Params()

  // ---- pure assembly over synthetic candidate lists ----

  private def c(t: String, df: Long, q: String = "mrege") =
    Candidate(t, df, StringDistances.luceneLevenshteinEdits(q, t))

  test("internal similarity = 1 - ed/min(cp) with OSA transpositions") {
    // merge <- mrege is ONE transposition (re <-> er)
    assert(StringDistances.luceneLevenshteinEdits("mrege", "merge") == 1)
    val out = assemble("mrege", Seq(c("merge", 10)), 5, 0L, P)
    assert(out == Seq(SuggestWord("merge", 1f - 1f / 5f, 10)))
  }

  test("response order: score desc, then freq desc, then term asc") {
    // all at ed=1 from "stream": freq breaks the score tie, term breaks
    // the freq tie
    val q = "strea"
    val cands = Seq(c("stream", 5, q), c("streak", 9, q), c("stread", 9, q))
    val out = assemble(q, cands, 5, 0L, P)
    assert(out.map(_.string) == Seq("stread", "streak", "stream"))
  }

  test("accuracy gate: score < accuracy dropped, >= kept") {
    // ed 2 on a 4-char candidate vs 5-char query: score = 1 - 2/4 = 0.5
    // (kept at the default 0.5); 1 - 2/3 = 0.333 dropped
    assert(StringDistances.luceneLevenshteinEdits("mrege", "mrgg") == 2)
    assert(StringDistances.luceneLevenshteinEdits("mrege", "mrg") == 2)
    val out = assemble("mrege", Seq(c("mrgg", 1), c("mrg", 1)), 5, 0L, P)
    assert(out.map(_.string) == Seq("mrgg"))
    assert(out.head.score == 0.5f)
  }

  test("exact term and df <= minDf candidates are skipped") {
    val out = assemble("mrege", Seq(c("mrege", 50), c("merge", 3)), 5, 3L, P)
    assert(out.isEmpty)
    val out2 = assemble("mrege", Seq(c("merge", 4)), 5, 3L, P)
    assert(out2.map(_.string) == Seq("merge"))
  }

  test("prefix gate: ed2 pass requires max(minPrefix, ed-1) codepoints") {
    // with minPrefix=2: candidate sharing only 1 char survives NEITHER
    // pass; sharing 2 chars survives both
    val p2 = P.copy(minPrefix = 2)
    val out = assemble("mrege", Seq(c("marge", 5), c("mrege2", 5)), 5, 0L, p2)
    assert(out.map(_.string) == Seq("mrege2"))
  }

  test("ed<=1 pass that fills inspections suppresses the ed2 pass") {
    // numSug=1, maxInspections=1 -> inspections=1; an ed1 candidate with a
    // LOWER final comparator rank than an ed2 candidate still wins because
    // the ed2 enumeration never runs
    val p1 = P.copy(maxInspections = 1)
    val q = "mrege"
    val ed1 = c("mregs", 1, q) // ed 1, score 0.8, tiny freq
    val ed2 = c("mreg", 999, q) // ed 1 actually? mreg = delete e -> ed 1
    assert(ed2.ed == 1)
    val realEd2 = c("mrg", 999, q) // too short, fails accuracy anyway
    val ed2b = c("mregse", 999, q) // ed 2? mrege -> mregse: insert s = 1
    assert(ed2b.ed == 1)
    val ed2c = c("mersge", 999, q) // transpose re + insert s
    assert(ed2c.ed == 2, s"got ${ed2c.ed}")
    val out = assemble(q, Seq(ed1, realEd2, ed2c), 1, 0L, p1)
    // pass1 keeps top-1 by (score, term): mreg (0.75)? no: mregs 0.8 wins
    // the PQ; pool is FULL (1 >= inspections) so ed2c (0.6) never joins;
    // final = mregs even though mreg has higher freq at equal... mreg
    // scored 0.75 < 0.8. Check the suppression: ed2c absent.
    assert(!out.exists(_.string == "mersge"))
    assert(out.map(_.string) == Seq("mregs"))
  }

  test("per-pass PQ keeps top inspections by score desc, term asc") {
    val p1 = P.copy(maxInspections = 1)
    val q = "mrege"
    // two ed1 candidates, equal score: term-earlier kept even with lower
    // freq (the reference PQ skips equal-boost arrivals once full)
    val out = assemble(q, Seq(c("mrega", 1, q), c("mregz", 999, q)), 1, 0L, p1)
    assert(out.map(_.string) == Seq("mrega"))
  }

  test("union dedups by term when the ed1 pass under-fills") {
    val q = "mrege"
    val out = assemble(q, Seq(c("merge", 7, q)), 5, 0L, P)
    assert(out.size == 1)
  }

  // ---- end-to-end over a real index ----

  private lazy val reader: IndexReader = {
    import spark.implicits._
    val docs = Seq(
      // "merge" df 3, "merged" df 1, "marge" df 1, "stream" df 2
      ("r", "0001", "c", "en", "merge sort merge"),
      ("r", "0002", "c", "en", "merge stream"),
      ("r", "0003", "c", "en", "merge marge"),
      ("r", "0004", "c", "en", "merged stream"),
      ("r", "0005", "c", "en", "alpha beta gamma")
    ).toDF("repo", "path", "commit", "lang", "content")
    val dir = SparkSuite.tmpDir("graft-dspell")
    IndexBuilder.build(spark, docs, dir,
      IndexConfig(numDocParts = 2, numBuckets = 2,
        shufflePartitions = 4))
    new IndexReader(spark, dir, 2, cacheData = false)
  }

  test("end-to-end: suggests dictionary neighbors with real dfs") {
    val out = DirectSpell.suggestSimilar(reader, "mrege", 5,
      p = P.copy(maxQueryFrequency = 1000f))
    assert(out.map(w => (w.string, w.freq)) ==
      Seq(("merge", 3L), ("marge", 1L), ("merged", 1L)))
    assert(out.head.score == 1f - 1f / 5f)
    // merged: ed 2 (insert d + transposition) -> 1 - 2/5
    assert(out.last.score == 1f - 2f / 5f)
  }

  test("SUGGEST_WHEN_NOT_IN_INDEX returns nothing for an indexed term") {
    assert(DirectSpell.suggestSimilar(reader, "merge", 5,
      p = P.copy(maxQueryFrequency = 1000f)).isEmpty)
  }

  test("SUGGEST_MORE_POPULAR only returns terms with greater df") {
    val out = DirectSpell.suggestSimilar(reader, "marge", 5,
      mode = SuggestMorePopular, p = P.copy(maxQueryFrequency = 1000f))
    assert(out.map(_.string) == Seq("merge"))
  }

  test("maxQueryFrequency gates an over-frequent query term") {
    // merge df 3 of maxDoc 5; fractional 0.2 -> ceil(1)=1 < 3 -> gated
    assert(DirectSpell.suggestSimilar(reader, "merge", 5,
      mode = SuggestAlways, p = P.copy(maxQueryFrequency = 0.2f)).isEmpty)
    // absolute 3.0 -> df not > 3 -> passes the absolute gate
    assert(DirectSpell.suggestSimilar(reader, "merge", 5,
      mode = SuggestAlways, p = P.copy(maxQueryFrequency = 3f)).nonEmpty)
  }

  test("thresholdFrequency >= 1 demands candidate df > threshold") {
    val out = DirectSpell.suggestSimilar(reader, "mrege", 5,
      p = P.copy(maxQueryFrequency = 1000f, thresholdFrequency = 1f))
    assert(out.map(_.string) == Seq("merge"))
  }

  test("a path: term is corrected among path terms only") {
    // the path field's dictionary is path:0001 .. path:0005, all at one
    // edit from path:0009; content terms never qualify
    val out = DirectSpell.suggestSimilar(reader, "path:0009", 5,
      p = P.copy(maxQueryFrequency = 1000f))
    assert(out.map(w => (w.string, w.freq)) ==
      (1 to 5).map(i => (f"path:$i%04d", 1L)))
  }

  test("minQueryLength and lowercasing") {
    assert(DirectSpell.suggestSimilar(reader, "mrg", 5).isEmpty)
    val out = DirectSpell.suggestSimilar(reader, "MREGE", 5,
      p = P.copy(maxQueryFrequency = 1000f))
    assert(out.headOption.map(_.string).contains("merge"))
  }
}
