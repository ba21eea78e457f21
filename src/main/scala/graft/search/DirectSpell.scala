package graft.search

import org.apache.spark.sql.functions._

import graft.index.{IndexBuilder, SearchReader}

/** DirectSpellChecker — the automaton-based spell checker real Solr
  * deployments use (DirectSolrSpellChecker), ported from
  * lucene/suggest/src/java/org/apache/lucene/search/spell/DirectSpellChecker.java:280-465.
  *
  * Candidates come straight from the term dictionary by Damerau-Levenshtein
  * distance (no auxiliary n-gram index): an ed<=1 enumeration runs first,
  * and only if it yields fewer than numSug*maxInspections candidates is the
  * ed<=maxEdits enumeration unioned in (suggestSimilar at :357-364). Each
  * enumeration keeps its top `inspections` candidates by internal similarity
  * (boost), ties resolved toward the term-order-earlier term (the
  * ScoreTerm PQ at :414-461: a full queue skips boost<=peek arrivals, and
  * evicts the larger term among equal-boost minima). The final response is
  * sorted by SuggestWordScoreComparator — score desc, doc freq desc, term
  * asc — and trimmed to numSug (:367-386).
  *
  * Internal similarity (INTERNAL_LEVENSHTEIN = LuceneLevenshteinDistance):
  * 1 - ed / min(cp(query), cp(candidate)), recovered from the FuzzyTermsEnum
  * boost at :437-440 (FuzzyTermsEnum.java:354-358 with minSimilarity=0,
  * scale=1 because the enum is edit-count-driven).
  *
  * Spark shape: ONE length-banded, prefix-pruned dictionary scan (the term
  * dictionary is term-sorted parquet, so the shared-prefix predicate prunes
  * row groups by min/max like the fuzzy rewrite) computing the OSA edit
  * distance per surviving term; both ed-passes and all the PQ/comparator
  * logic then run over that k-row candidate set on the driver. At 100 TB
  * the scan cost is the pruned dictionary slice, never the corpus.
  */
object DirectSpell {

  sealed trait SuggestMode
  /** Generate suggestions only for terms NOT in the index (spellcheck). */
  case object SuggestWhenNotInIndex extends SuggestMode
  /** Suggest only terms more frequent than the query term ("did you
    * mean" toward popular spellings). */
  case object SuggestMorePopular extends SuggestMode
  /** Always suggest (the query term's own presence is irrelevant). */
  case object SuggestAlways extends SuggestMode

  /** One suggestion: surface form, internal similarity score, doc freq. */
  final case class SuggestWord(string: String, score: Float, freq: Long)

  /** A dictionary candidate prior to PQ/comparator assembly. */
  final case class Candidate(term: String, df: Long, ed: Int)

  final case class Params(
      maxEdits: Int = 2,
      minPrefix: Int = 1,
      maxInspections: Int = 5,
      accuracy: Float = 0.5f,
      thresholdFrequency: Float = 0f,
      minQueryLength: Int = 4,
      maxQueryFrequency: Float = 0.01f,
      lowerCaseTerms: Boolean = true) {
    require(maxEdits >= 1 && maxEdits <= 2, "maxEdits must be 1 or 2")
  }

  /** Suggest corrections for `queryTerm` from the reader's dictionary. */
  def suggestSimilar(reader: SearchReader, queryTerm: String, numSug: Int,
                     mode: SuggestMode = SuggestWhenNotInIndex,
                     p: Params = Params()): Seq[SuggestWord] = {
    val cp = queryTerm.codePointCount(0, queryTerm.length)
    if (p.minQueryLength > 0 && cp < p.minQueryLength) return Nil
    val term =
      if (p.lowerCaseTerms) queryTerm.toLowerCase(java.util.Locale.ROOT)
      else queryTerm

    val df = reader.termStats(Seq(term)).get(term).map(_.df).getOrElse(0L)
    if (mode == SuggestWhenNotInIndex && df > 0) return Nil
    val maxDoc = reader.collStats.maxDoc
    // reference gate order kept verbatim (:338-343): an absolute
    // maxQueryFrequency >= 1 is checked first; the fractional ceil check
    // otherwise
    if (p.maxQueryFrequency >= 1f && df > p.maxQueryFrequency) return Nil
    else if (df > math.ceil(p.maxQueryFrequency * maxDoc.toFloat).toInt)
      return Nil

    // candidate df must EXCEED this (:345-352)
    var minDf = if (mode != SuggestMorePopular) 0L else df
    if (p.thresholdFrequency >= 1f)
      minDf = math.max(minDf, p.thresholdFrequency.toLong)
    else if (p.thresholdFrequency > 0f)
      minDf = math.max(minDf, (p.thresholdFrequency * maxDoc.toFloat).toInt - 1L)

    assemble(term, scanCandidates(reader, term, p), numSug, minDf, p)
  }

  /** ONE dictionary scan: the term's own field, length band +-maxEdits,
    * shared prefix of max(minPrefix, 0) codepoints (the WEAKEST prefix any
    * ed-pass uses; pass-specific prefixes re-apply in assemble), OSA edit
    * distance <= maxEdits. */
  private def scanCandidates(reader: SearchReader, term: String,
                             p: Params): Seq[Candidate] = {
    val len = term.length
    val edUdf = udf((t: String) =>
      StringDistances.luceneLevenshteinEdits(term, t))
    val prefLen = math.max(p.minPrefix, 0)
    val pref =
      if (prefLen > 0) col("term").startsWith(cpPrefix(term, prefLen))
      else lit(true)
    reader.expandTerms(
      length(col("term")).between(len - p.maxEdits, len + p.maxEdits) &&
        IndexBuilder.fieldGuard(term) && pref && edUdf(col("term")) <= p.maxEdits)
      .map(ts => Candidate(ts.term,
        ts.df, StringDistances.luceneLevenshteinEdits(term, ts.term)))
  }

  /** First `n` codepoints of `s` (prefix semantics are codepoint-based in
    * FuzzyTermsEnum). */
  private def cpPrefix(s: String, n: Int): String =
    if (s.codePointCount(0, s.length) <= n) s
    else s.substring(0, s.offsetByCodePoints(0, n))

  /** Pure assembly over a candidate list — the two ed-passes, per-pass
    * top-inspections PQ, union, and the final comparator sort. Exposed for
    * direct unit testing. `minDf` is exclusive (candidate df must be
    * strictly greater, :432-435). */
  def assemble(term: String, cands: Seq[Candidate], numSug: Int,
               minDf: Long, p: Params): Seq[SuggestWord] = {
    val qcp = term.codePointCount(0, term.length)
    val inspections = numSug * p.maxInspections

    def pass(edMax: Int): Seq[SuggestWord] = {
      // FuzzyTermsEnum prefix per enumeration: max(minPrefix, ed - 1)
      val pfx = cpPrefix(term, math.max(p.minPrefix, edMax - 1))
      cands.iterator
        .filter(c => c.ed <= edMax && c.term != term &&
          c.term.startsWith(pfx) && c.df > minDf)
        .map { c =>
          val ccp = c.term.codePointCount(0, c.term.length)
          SuggestWord(c.term,
            1.0f - c.ed.toFloat / math.min(qcp, ccp), c.df)
        }
        .filter(_.score >= p.accuracy)
        .toSeq
        // per-enumeration PQ: top `inspections` by boost desc, ties kept
        // toward the term-order-earlier candidate
        .sortBy(w => (-w.score, w.string))
        .take(inspections)
    }

    val ed1 = pass(1)
    val pool =
      if (p.maxEdits > 1 && ed1.size < inspections)
        (ed1 ++ pass(p.maxEdits)).distinct
      else ed1

    // SuggestWordScoreComparator: score desc, freq desc, term asc
    pool.sortBy(w => (-w.score, -w.freq, w.string)).take(numSug)
  }
}
