package graft.analysis

/** A term occurrence after the full analysis chain.
  * `position` is the Lucene token position (starts at 0; gaps where
  * stopwords / too-long tokens were dropped).
  */
final case class TermPos(term: String, position: Int)

/** StandardAnalyzer-equivalent chain: StandardTokenizer -> per-codepoint
  * lowercase -> stopword filter with position-gap accumulation.
  *
  * Reference semantics:
  *  - chain: lucene/analysis/common/src/java/org/apache/lucene/analysis/standard/StandardAnalyzer.java:87-113
  *  - lowercase is per-codepoint Character.toLowerCase (NOT locale String
  *    lowercase): lucene/analysis/common/src/java/org/apache/lucene/analysis/core/LowerCaseFilter.java:43-49
  *  - dropped tokens add their positionIncrement to the next emitted token:
  *    lucene/analysis/common/src/java/org/apache/lucene/analysis/util/FilteringTokenFilter.java:49-63
  */
object Analyzer {

  /** Shared StopFilter-with-position-gaps tail of a flat analysis chain
    * (FilteringTokenFilter.java:49-63 posInc contract): each token is
    * keyed by `key` (the form the stop set is tested against), stopped
    * tokens leave a position gap, and survivors emit `emit(key(token))`.
    * Used by the segmenting analyzers (Japanese / Thai / SmartChinese)
    * whose chains differ only in these two transforms. */
  def stopGapFlat(toks: IndexedSeq[String], stops: Set[String],
                  key: String => String,
                  emit: String => String = identity)
  : (Array[String], Array[Int]) = {
    val terms = new Array[String](toks.length)
    val positions = new Array[Int](toks.length)
    var n = 0
    var pos = -1
    toks.foreach { t =>
      pos += 1
      val k = key(t)
      if (!stops.contains(k)) {
        terms(n) = emit(k); positions(n) = pos; n += 1
      }
    }
    if (n == toks.length) (terms, positions)
    else (java.util.Arrays.copyOf(terms, n),
      java.util.Arrays.copyOf(positions, n))
  }

  /** Codepoint-wise lowercase, as CharacterUtils.toLowerCase does.
    * Fast path: if no codepoint changes (the common case for source-code
    * and already-lowercase corpora), the input string is returned as-is —
    * no allocation. */
  def lowerCase(s: String): String = {
    var i = 0
    while (i < s.length) { // scan for the first char that would change
      val cp = s.codePointAt(i)
      if (Character.toLowerCase(cp) != cp) {
        val sb = new java.lang.StringBuilder(s.length)
        sb.append(s, 0, i)
        var j = i
        while (j < s.length) {
          val c = s.codePointAt(j)
          sb.appendCodePoint(Character.toLowerCase(c))
          j += Character.charCount(c)
        }
        return sb.toString
      }
      i += Character.charCount(cp)
    }
    s
  }

  /** Full chain; returns (term, position) pairs in reading order.
    * Stopword matching happens AFTER lowercasing (StandardAnalyzer order).
    * A boxing adapter over [[analyzeFlat]] for the query parsers. */
  def analyze(text: String, stopSet: Set[String]): Vector[TermPos] = {
    val (terms, positions) = analyzeFlat(text, stopSet)
    Vector.tabulate(terms.length)(i => TermPos(terms(i), positions(i)))
  }

  /** Flat-array form of the StandardAnalyzer chain for the indexing hot
    * path: (terms, positions) parallel arrays, no per-token TermPos
    * boxing (2M docs x ~115 tokens makes that churn matter). */
  def analyzeFlat(text: String, stopSet: Set[String]): (Array[String], Array[Int]) =
    analyzeLightFlat(text, stopSet, identity)

  /** CJK bigram chain, HAN script (reference
    * analysis/common/src/java/org/apache/lucene/analysis/cjk/CJKBigramFilter.java:141-215,
    * cjk/CJKAnalyzer.java:72-80): a run of n consecutive single-codepoint
    * <IDEOGRAPHIC> tokens becomes n-1 overlapping bigrams
    * ("一二三" -> 一二, 二三), each advancing the position by 1; an
    * ISOLATED ideograph stays a unigram (the reference emits the single
    * char when no bigram can be formed). Non-Han tokens (incl. hiragana /
    * katakana under the HAN-only flags) pass through and break the run. */
  def analyzeCjk(text: String, stopSet: Set[String] = Set.empty): Vector[TermPos] = {
    val toks = StandardTokenizer.tokenize(text)
    val out = Vector.newBuilder[TermPos]
    var pos = -1
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      if (t.tokenType == "<IDEOGRAPHIC>") {
        var j = i + 1 // extend the uninterrupted Han run
        while (j < toks.length && toks(j).tokenType == "<IDEOGRAPHIC>" &&
          toks(j).posInc == 1) j += 1
        pos += t.posInc
        if (j - i == 1) {
          val term = lowerCase(MiscFilters.cjkWidth(t.term))
          if (!stopSet.contains(term)) out += TermPos(term, pos)
        } else {
          var k = i
          while (k < j - 1) {
            val term = lowerCase(MiscFilters.cjkWidth(toks(k).term + toks(k + 1).term))
            if (!stopSet.contains(term)) out += TermPos(term, pos)
            if (k < j - 2) pos += 1
            k += 1
          }
        }
        i = j
      } else {
        pos += t.posInc
        // CJKAnalyzer runs CJKWidthFilter before lowercase (cjk/CJKAnalyzer.java:72)
        val term = lowerCase(MiscFilters.cjkWidth(t.term))
        if (!stopSet.contains(term)) out += TermPos(term, pos)
        i += 1
      }
    }
    out.result()
  }

  /** Flat-array variant of [[analyzeCjk]] for the indexing path. */
  def analyzeCjkFlat(text: String, stopSet: Set[String]): (Array[String], Array[Int]) = {
    val v = analyzeCjk(text, stopSet)
    val terms = new Array[String](v.length)
    val positions = new Array[Int](v.length)
    var i = 0
    while (i < v.length) { terms(i) = v(i).term; positions(i) = v(i).position; i += 1 }
    (terms, positions)
  }

  // non-decomposable Latin letters the NFKD pass cannot fold (reference
  // miscellaneous/ASCIIFoldingFilter.java handles these in its big switch)
  private val FoldMap: Map[Char, String] = Map(
    'æ' -> "ae", 'Æ' -> "AE", 'œ' -> "oe", 'Œ' -> "OE", 'ø' -> "o",
    'Ø' -> "O", 'ß' -> "ss", 'đ' -> "d", 'Đ' -> "D", 'ð' -> "d",
    'Ð' -> "D", 'þ' -> "th", 'Þ' -> "TH", 'ł' -> "l", 'Ł' -> "L",
    'ħ' -> "h", 'Ħ' -> "H", 'ŧ' -> "t", 'Ŧ' -> "T", 'ĸ' -> "q",
    'ı' -> "i") // dotless i

  /** ASCII folding (reference ASCIIFoldingFilter semantics for the Latin
    * block): NFKD-decompose, drop combining marks, then map the
    * non-decomposable Latin letters. ASCII input returns identically
    * (fast path, no allocation). */
  def foldToAscii(s: String): String = {
    var i = 0
    var ascii = true
    while (ascii && i < s.length) { if (s(i) >= 0x80) ascii = false; i += 1 }
    if (ascii) return s
    val de = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFKD)
    val sb = new java.lang.StringBuilder(de.length)
    i = 0
    while (i < de.length) {
      val c = de.charAt(i)
      if (Character.getType(c) != Character.NON_SPACING_MARK) {
        FoldMap.get(c) match {
          case Some(r) => sb.append(r)
          case None => sb.append(c)
        }
      }
      i += 1
    }
    sb.toString
  }

  /** Strip a trailing possessive ('s, ’s, ＇s — any case) — reference
    * en/EnglishPossessiveFilter.java:37-54. */
  def stripPossessive(s: String): String = {
    val n = s.length
    if (n >= 2 && (s(n - 1) == 's' || s(n - 1) == 'S') &&
      (s(n - 2) == '\'' || s(n - 2) == '’' || s(n - 2) == '＇'))
      s.substring(0, n - 2)
    else s
  }

  /** The one StandardTokenizer -> `pre` -> LowerCaseFilter ->
    * StopFilter -> `stem` loop. With both transforms `identity` it is the
    * StandardAnalyzer chain ([[analyzeFlat]]); with `pre` =
    * [[stripPossessive]] and a Porter/KStem `stem` the EnglishAnalyzer
    * chain (en/EnglishAnalyzer.java:101-116); with a light stemmer the
    * GermanAnalyzer / SpanishAnalyzer / FrenchAnalyzer shape
    * (analysis/common/.../de/GermanAnalyzer.java). Stopwords are removed
    * BEFORE stemming (so "this" never survives as "thi") and dropped
    * tokens still contribute position gaps, as in every reference
    * chain. */
  def analyzeLightFlat(text: String, stopSet: Set[String],
                       stem: String => String, pre: String => String = identity)
      : (Array[String], Array[Int]) = {
    val toks = StandardTokenizer.tokenize(text)
    val terms = new Array[String](toks.length)
    val positions = new Array[Int](toks.length)
    var n = 0
    var pos = -1
    var i = 0
    while (i < toks.length) {
      val t = toks(i)
      pos += t.posInc
      // `pre` runs BEFORE LowerCaseFilter — the reference fr/it/ca/ga
      // chains put ElisionFilter there (fr/FrenchAnalyzer.java:146-147)
      val term = lowerCase(pre(t.term))
      if (!stopSet.contains(term)) {
        terms(n) = stem(term); positions(n) = pos; n += 1
      }
      i += 1
    }
    if (n == toks.length) (terms, positions)
    else (java.util.Arrays.copyOf(terms, n),
      java.util.Arrays.copyOf(positions, n))
  }

  /** One compiled index-time synonym rule: LHS token sequence (matched
    * against CONSECUTIVE positions) -> RHS alternatives, each a token
    * sequence. Both sides are run through the analysis chain at compile
    * time, like the reference's SynonymMap.Builder does
    * (analysis/common/src/java/org/apache/lucene/analysis/synonym/
    * SynonymMap.java:184-199). */
  final case class SynRule(lhs: Array[String], rhs: Array[Array[String]])

  /** Compile raw rules (lhs text -> rhs alternative texts) through the
    * INDEX'S OWN analyzer chain, stopwords off (the reference's
    * SynonymMap.Builder runs rule text through the chain analyzer,
    * SynonymMap.java:184-199; synonyms run BEFORE StopFilter in the
    * canonical chain order). Compiling with a different chain than the
    * index would leave rules silently inert for stemmed indexes: LHS
    * 'running' never matches the indexed term 'run'. Default tokenizer =
    * the standard chain. */
  def compileSynonyms(raw: Seq[(String, Seq[String])],
                      tokenize: String => Array[String] =
                        analyze(_, Set.empty).map(_.term).toArray)
      : Seq[SynRule] =
    raw.map { case (l, rs) =>
      SynRule(tokenize(l), rs.map(tokenize).toArray)
    }.filter(r => r.lhs.nonEmpty && r.rhs.forall(_.nonEmpty))

  /** Index-time SynonymFilter (reference analysis/common/.../synonym/
    * SynonymFilter.java:1 semantics, keepOrig=true, greedy longest match,
    * no overlapping matches): wherever an LHS token run matches at
    * consecutive positions, each RHS alternative's tokens are INJECTED
    * with the first token at the SAME position as the match start
    * (posInc=0) and subsequent tokens at the following positions — so
    * phrases and spans match THROUGH the synonym on the indexed side,
    * including the reference's documented multi-word "sausage" overlap.
    * Returns (terms, positions, fieldLength) where fieldLength counts
    * DISTINCT positions: injected tokens are overlaps and must not
    * inflate the BM25 norm (discountOverlaps, BM25Similarity.java:138).
    * NOTE: output array order does NOT guarantee per-term ascending
    * positions (an RHS longer than its LHS can emit a tail token at a
    * LATER position than a later original occurrence of the same term —
    * e.g. rule a->[q,r,t] over [a,t] emits t@2 before t@1). The postings
    * encoder is safe because IndexBuilder.invertDoc re-sorts by
    * (term, position) before delta-encoding; any NEW caller that
    * delta-encodes this output directly must do the same. */
  def applySynonymsFlat(terms: Array[String], positions: Array[Int],
                        rules: Seq[SynRule]): (Array[String], Array[Int], Int) = {
    if (rules.isEmpty || terms.isEmpty) {
      return (terms, positions, terms.length)
    }
    val byFirst = rules.groupBy(_.lhs(0))
    val outT = new scala.collection.mutable.ArrayBuffer[String](terms.length + 8)
    val outP = new scala.collection.mutable.ArrayBuffer[Int](terms.length + 8)
    @inline def matchesAt(i: Int, lhs: Array[String]): Boolean = {
      if (i + lhs.length > terms.length) return false
      var k = 0
      while (k < lhs.length) {
        if (terms(i + k) != lhs(k)) return false
        // consecutive positions only (a stopword gap breaks the phrase)
        if (k > 0 && positions(i + k) != positions(i + k - 1) + 1) return false
        k += 1
      }
      true
    }
    var i = 0
    while (i < terms.length) {
      outT += terms(i); outP += positions(i)
      var best: SynRule = null
      byFirst.get(terms(i)) match {
        case Some(cands) =>
          cands.foreach { r =>
            if ((best == null || r.lhs.length > best.lhs.length) &&
              matchesAt(i, r.lhs)) best = r
          }
        case None =>
      }
      if (best != null) {
        val L = best.lhs.length
        var k = i + 1 // keepOrig: the rest of the matched originals
        while (k < i + L) { outT += terms(k); outP += positions(k); k += 1 }
        best.rhs.foreach { alt =>
          var j = 0
          while (j < alt.length) {
            outT += alt(j); outP += positions(i) + j; j += 1
          }
        }
        i += L
      } else i += 1
    }
    val seen = new java.util.HashSet[Integer]()
    var d = 0
    var m = 0
    while (m < outP.length) { if (seen.add(outP(m))) d += 1; m += 1 }
    (outT.toArray, outP.toArray, d)
  }
}
