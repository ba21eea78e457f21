package graft.search

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.codec.PostingsCodec
import graft.index.{IndexBuilder, SearchReader, TermStats}
import graft.index.IndexBuilder.fieldGuard

/** A clause match for one doc: `score` is the clause's float
  * contribution (NaN for non-scoring Filter/MustNot presence rows). */
final case class ClauseHit(docId: Long, clause: Int, kind: Int, score: Float)

object ClauseKind {
  final val Must = 0; final val Should = 1
  final val Filter = 2; final val MustNot = 3
}

/** The Dataset "join path" scorer — the semantic spec the WAND path must
  * equal (SURVEY.md §7.1 step 7). Each clause produces a (docId, score)
  * frame from key-pruned block scans; boolean combination is ONE
  * hash-aggregate shuffle (groupByKey(docId)); top-k is Catalyst's
  * TakeOrderedAndProject, whose bounded per-partition heap + driver merge
  * reproduces the reference collector exactly, ties to lower docId
  * (search/TopScoreDocCollector.java:63-79, HitQueue.java:68-81).
  * Every clause scores through `sim` (see [[Similarity]]); BM25 is the
  * default and the only similarity [[WandScorer]] implements.
  */
final class JoinScorer(reader: SearchReader,
                       sim: Similarity = Similarities.bm25) {
  private val spark = reader.spark
  import spark.implicits._

  /** Rewrite multi-term queries against the term dictionary
    * (MultiTermQuery -> constant-score set, the 5.2 default rewrite,
    * queryparser/.../QueryParserBase.java:67). */
  def rewrite(q: BoolQ): Seq[(Occur, Query, RewrittenClause)] = {
    // fold BoostQ wrappers into a (query, boost) pair before rewriting
    def unwrap(qq: Query, b: Float = 1f): (Query, Float) = qq match {
      case BoostQ(inner, bb) => unwrap(inner, b * bb)
      case other => (other, b)
    }
    val flat = q.clauses.map { case (o, qq) =>
      val (inner, b) = unwrap(qq); (o, inner, b)
    }
    val termQs = flat.collect { case (_, TermQ(t), _) => Seq(t)
      case (_, PhraseQ(ts, _), _) => ts
      case (_, MultiPhraseQ(ss, _), _) => ss.flatten
      case (_, SloppyPhraseQ(ts, _, _), _) => ts
      case (_, SpanNearQ(ts, _, _), _) => ts
      case (_, SpanOrQ(ts), _) => ts
      case (_, SpanNotQ(inc, exc, _, _), _) => Seq(inc, exc)
      case (_, SpanWithinQ(l, bg, _), _) => l +: bg
      case (_, SpanContainingQ(l, bg, _), _) => l +: bg
      case (_, TermAutomatonQ(_, _, trs, _), _) => trs.map(_._3)
      case (_, SpanFirstQ(t, _), _) => Seq(t)
      case (_, SpanPayloadCheckQ(t, _), _) => Seq(t)
      case (_, SpanNearPayloadCheckQ(ts, _, _), _) => ts
      case (_, SpanPositionRangeQ(t, _, _), _) => Seq(t) }.flatten
    val stats = reader.termStats(termQs.distinct)
    // exact phrases and plain span-nears score as their multi-term forms
    // over single-term slots
    def singleSlots[A](xs: Seq[A]): Seq[Seq[A]] = xs.map(Seq(_))
    def exactPhrase(ts: Seq[String], rel: Seq[Int], b: Float) =
      ScoredMultiPhrase(singleSlots(ts), rel, singleSlots(ts.map(stats.get)), b)
    flat.map {
      case (o, tq @ TermQ(t), b) =>
        (o, tq, ScoredTerm(t, stats.get(t), b))
      case (o, sq @ SpanNearQ(ts, slop, inOrder), b) =>
        (o, sq, ScoredSpanMulti(singleSlots(ts), slop, inOrder,
          singleSlots(ts.map(stats.get)), b))
      case (o, sq @ SpanNearMultiQ(legs, slop, inOrder), b) =>
        // SpanMultiTermQueryWrapper: expand each pattern leg against the
        // dictionary (TooManyClauses-guarded), then span-near over the
        // expanded slots
        val slots = legs.map(expandPattern)
        val slotStats = slots.map { ts =>
          val st = reader.termStats(ts)
          ts.map(st.get)
        }
        (o, sq, ScoredSpanMulti(slots, slop, inOrder, slotStats, b))
      case (o, sq @ SpanOrQ(ts), b) =>
        (o, sq, ScoredSpanOr(ts, ts.map(stats.get), b))
      case (o, sq @ SpanNotQ(inc, exc, pre, post), b) =>
        (o, sq, ScoredSpanNot(inc, exc, pre, post, stats.get(inc),
          stats.contains(exc), b))
      case (o, sq @ SpanFirstQ(t, end), b) =>
        (o, sq, ScoredSpanRange(t, 0, end, stats.get(t), b))
      case (o, sq @ SpanPositionRangeQ(t, st, end), b) =>
        (o, sq, ScoredSpanRange(t, st, end, stats.get(t), b))
      case (o, sq @ SpanPayloadCheckQ(t, pays), b) =>
        (o, sq, ScoredSpanPayCheck(Seq(t), 0, nearRule = false, pays,
          Seq(stats.get(t)), b))
      case (o, sq @ SpanNearPayloadCheckQ(ts, slop, pays), b) =>
        (o, sq, ScoredSpanPayCheck(ts, slop, nearRule = true, pays,
          ts.map(stats.get), b))
      case (o, sq @ SpanWithinQ(l, bg, slop), b) =>
        (o, sq, ScoredSpanContain(l, bg, slop, within = true,
          stats.get(l), bg.map(stats.get), b))
      case (o, sq @ SpanContainingQ(l, bg, slop), b) =>
        (o, sq, ScoredSpanContain(l, bg, slop, within = false,
          stats.get(l), bg.map(stats.get), b))
      case (o, pq @ SloppyPhraseQ(ts, rel, slop), b) if slop > 0 =>
        (o, pq, ScoredSloppyPhrase(ts, rel, ts.map(stats.get), slop, b))
      case (o, pq @ SloppyPhraseQ(ts, rel, _), b) =>
        (o, pq, exactPhrase(ts, rel, b))
      case (o, pq @ PhraseQ(ts, rel), b) =>
        (o, pq, exactPhrase(ts, rel, b))
      case (o, mq @ MultiPhraseQ(ss, rel), b) =>
        (o, mq, ScoredMultiPhrase(ss, rel, ss.map(_.map(stats.get)), b))
      case (o, tq: TermAutomatonQ, b) =>
        val ts = tq.transitions.map(_._3).distinct.sorted
        (o, tq, ScoredAutomaton(tq, ts.map(stats.get), b))
      case (o, rq: RegexpQ, b) => (o, rq, ConstSet(expandPattern(rq), b))
      case (o, pq: PrefixQ, b) => (o, pq, ConstSet(expandPattern(pq), b))
      case (o, wq @ WildcardQ(pat), b)
        if pat.length > 1 && pat.startsWith("*") &&
          !pat.substring(1).exists(c => c == '*' || c == '?') &&
          reader.hasReverseField =>
        // leading wildcard via the reversed-token field (Solr
        // ReversedWildcardFilterFactory): *fix -> prefix scan of
        // rev:xif* — O(matching dictionary row groups), never the
        // full-vocabulary regex scan
        val terms = reader.expandTerms(
          $"term".startsWith("rev:" + pat.substring(1).reverse))
          .map(ts => ts.term.stripPrefix("rev:").reverse)
        (o, wq, ConstSet(terms, b))
      case (o, wq: WildcardQ, b) => (o, wq, ConstSet(expandPattern(wq), b))
      case (o, fq: FuzzyQ, b) => (o, fq, ConstSet(expandPattern(fq), b))
      case (o, rq @ RangeQ(lo, hi, incLo, incHi), b) =>
        val loP = if (incLo) $"term" >= lo else $"term" > lo
        val hiP = if (incHi) $"term" <= hi else $"term" < hi
        (o, rq, ConstSet(reader.expandTerms(
          loP && hiP && fieldGuard(lo)).map(_.term), b))
      case (o, MatchAllQ, b) => (o, MatchAllQ, MatchAll(b))
      case (_, other, _) =>
        throw new IllegalArgumentException(s"cannot rewrite $other")
    }
  }

  /** Wildcard pattern -> anchored-regex body (the WildcardQuery rewrite). */
  private def wildcardRx(pat: String): String =
    "(?s)" + pat.flatMap {
      case '*' => ".*"
      case '?' => "."
      case c if "\\.[]{}()<>+-=!?^$|".contains(c) => "\\" + c
      case c => c.toString
    }

  /** Expand a term or multi-term pattern (a SpanNearMultiQ leg, or a
    * const-set clause of [[rewrite]]) to its dictionary terms. */
  private def expandPattern(q: Query): Seq[String] = q match {
    case TermQ(t) => Seq(t)
    case PrefixQ(p) =>
      reader.expandTerms($"term".startsWith(p) && fieldGuard(p)).map(_.term)
    case WildcardQ(pat) =>
      reader.expandTerms(
        $"term".rlike("^" + wildcardRx(pat) + "$") && fieldGuard(pat)).map(_.term)
    case RegexpQ(p) =>
      reader.expandTerms($"term".rlike("^" + p + "$") && fieldGuard(p)).map(_.term)
    case FuzzyQ(t, e) => reader.fuzzyTerms(t, e).map(_.term)
    case other => throw new IllegalArgumentException(
      s"span-near leg must be a term or multi-term pattern: $other")
  }

  sealed trait RewrittenClause
  /** A clause scored by the similarity. */
  sealed trait Scored extends RewrittenClause {
    def boost: Float
    /** Dictionary stats of the terms behind the clause's weight (their
      * idfs sum, in this order); empty when none is in the dictionary. */
    def weightStats: Seq[TermStats]
  }
  final case class ScoredTerm(term: String, stats: Option[TermStats],
                              boost: Float = 1f) extends Scored {
    def weightStats: Seq[TermStats] = stats.toSeq
  }
  final case class ScoredSloppyPhrase(terms: Seq[String], rel: Seq[Int],
                                      stats: Seq[Option[TermStats]],
                                      slop: Int,
                                      boost: Float = 1f) extends Scored {
    def weightStats: Seq[TermStats] = stats.flatten
  }
  final case class ScoredMultiPhrase(slots: Seq[Seq[String]], rel: Seq[Int],
                                     stats: Seq[Seq[Option[TermStats]]],
                                     boost: Float = 1f) extends Scored {
    def weightStats: Seq[TermStats] = stats.flatten.flatten
  }
  final case class ScoredSpanOr(terms: Seq[String],
                                stats: Seq[Option[TermStats]],
                                boost: Float = 1f) extends Scored {
    def weightStats: Seq[TermStats] = stats.flatten
  }
  final case class ScoredSpanMulti(slots: Seq[Seq[String]], slop: Int,
                                   inOrder: Boolean,
                                   stats: Seq[Seq[Option[TermStats]]],
                                   boost: Float = 1f) extends Scored {
    def weightStats: Seq[TermStats] = stats.flatten.flatten
  }
  /** Weight from the include term only. */
  final case class ScoredSpanNot(include: String, exclude: String,
                                 pre: Int, post: Int,
                                 incStats: Option[TermStats],
                                 excPresent: Boolean,
                                 boost: Float = 1f) extends Scored {
    def weightStats: Seq[TermStats] = incStats.toSeq
  }
  final case class ScoredSpanRange(term: String, start: Int, end: Int,
                                   stats: Option[TermStats],
                                   boost: Float = 1f) extends Scored {
    def weightStats: Seq[TermStats] = stats.toSeq
  }
  final case class ScoredSpanPayCheck(terms: Seq[String], slop: Int,
                                      nearRule: Boolean,
                                      payloads: Seq[Float],
                                      stats: Seq[Option[TermStats]],
                                      boost: Float = 1f) extends Scored {
    def weightStats: Seq[TermStats] = stats.flatten
  }
  /** Weight from little's idf (within) or the big terms' summed idf
    * (containing). */
  final case class ScoredSpanContain(little: String, big: Seq[String],
                                     slop: Int, within: Boolean,
                                     littleStats: Option[TermStats],
                                     bigStats: Seq[Option[TermStats]],
                                     boost: Float = 1f) extends Scored {
    def weightStats: Seq[TermStats] =
      if (within) littleStats.toSeq else bigStats.flatten
  }
  /** Weight blends every distinct alphabet term's idf (TermAutomatonWeight
    * computeWeight over allTermStats). */
  final case class ScoredAutomaton(q: TermAutomatonQ,
                                   stats: Seq[Option[TermStats]],
                                   boost: Float = 1f) extends Scored {
    def weightStats: Seq[TermStats] = stats.flatten
  }
  /** Constant-score set: every matching doc scores `boost` (reference
    * ConstantScoreQuery multiplies 1.0 by the query boost,
    * search/ConstantScoreQuery.java). */
  final case class ConstSet(terms: Seq[String],
                            boost: Float = 1f) extends RewrittenClause
  final case class MatchAll(boost: Float = 1f) extends RewrittenClause

  private def kindOf(o: Occur): Int = o match {
    case Occur.Must => ClauseKind.Must
    case Occur.Should => ClauseKind.Should
    case Occur.Filter => ClauseKind.Filter
    case Occur.MustNot => ClauseKind.MustNot
  }

  /** Clause weights (Weight.getValueForNormalization -> queryNorm ->
    * Weight.normalize) from each clause's (weight stats, boost): None for a
    * clause none of whose terms is in the dictionary. A clause's field —
    * its norms — is its first weight term's. */
  private def clauseWeights(clauses: Seq[(Seq[TermStats], Float)])
      : Seq[Option[SimWeight]] = {
    val ws = clauses.map { case (stats, boost) =>
      stats.headOption.map(first => sim.weight(stats, boost, reader.collStats,
        reader.normCacheFor(IndexBuilder.fieldOfTerm(first.term))))
    }
    var sumSq = 0f
    ws.flatten.foreach(w => sumSq += w.valueForNormalization)
    val queryNorm = sim.queryNorm(sumSq)
    ws.map(_.map(_.normalize(queryNorm)))
  }

  /** Weights of single-term (term, boost) clauses, normalized together. */
  private def termWeights(terms: Seq[(String, Float)]): Seq[Option[SimWeight]] = {
    val stats = reader.termStats(terms.map(_._1).distinct)
    clauseWeights(terms.map { case (t, b) => (stats.get(t).toSeq, b) })
  }

  /** Per-term scored hits: decode blocks, score each posting. */
  private def termHits(term: String, clause: Int, kind: Int,
                       w: SimWeight): Dataset[ClauseHit] =
    reader.blocks(Seq(term)).flatMap { b =>
      val (docs, tfs, nrms) = PostingsCodec.decodeDocs(b)
      (0 until docs.length).iterator.map { i =>
        ClauseHit(docs(i), clause, kind, w.score(tfs(i).toFloat, nrms(i)))
      }
    }

  /** Per-term score contributions of ONE document (reference
    * search/Explanation.java, Weight.explain): a single job that prunes
    * each term's blocks to the one(s) whose [firstDoc, lastDoc] range
    * covers the target docId and decodes only those — instead of scoring
    * every term's entire postings to keep one row. Returns (term, score)
    * for each term present in the doc. */
  def explainDoc(terms: Seq[String], docId: Long): Seq[(String, Float)] = {
    val distinct = terms.distinct
    val ws: Map[String, SimWeight] =
      distinct.zip(termWeights(distinct.map(_ -> 1f)))
        .collect { case (t, Some(w)) => t -> w }.toMap
    if (ws.isEmpty) return Nil
    val target = docId
    reader.blocks(distinct.filter(ws.contains))
      .where($"firstDoc" <= target && $"lastDoc" >= target)
      .flatMap { b =>
        val (docs, tfs, nrms) = PostingsCodec.decodeDocs(b)
        val i = java.util.Arrays.binarySearch(docs, target)
        if (i >= 0)
          Iterator.single((b.term, ws(b.term).score(tfs(i).toFloat, nrms(i))))
        else Iterator.empty
      }.collect().toSeq
  }

  /** Constant-score set (multi-term rewrite): score = boost per match. */
  private def constHits(terms: Seq[String], clause: Int, kind: Int,
                        boost: Float = 1f): Dataset[ClauseHit] = {
    if (terms.isEmpty) return spark.emptyDataset[ClauseHit]
    reader.blocks(terms).flatMap { b =>
      PostingsCodec.decodeDocs(b)._1.iterator
        .map(d => ClauseHit(d, clause, kind, boost))
    }.dropDuplicates("docId").as[ClauseHit]
  }

  /** The one postings pass behind every positional clause (phrases,
    * spans, term automata): the approximate-then-verify split of the
    * reference (search/TwoPhaseIterator.java:24-35), with the per-doc
    * position gather done by a groupByKey(docId). Per doc, slot i holds
    * the ascending positions of the terms feeding it — the posting's own
    * array for one term, a [[JoinScorer.mergeSorted]] union when several
    * terms feed the slot (a term listed twice in a slot feeds it twice),
    * and null when none occurs in the doc. `freq` turns the slot array
    * into the clause frequency; a doc with freq > 0 scores
    * `w.score(freq, norm)`. A term may feed several slots ("a b a"); its
    * postings are fetched and decoded once. */
  private def positionalHits(slots: Seq[Seq[String]], w: SimWeight,
                             clause: Int, kind: Int)
                            (freq: Array[Array[Int]] => Float)
      : Dataset[ClauseHit] = {
    val terms = slots.flatten.distinct
    val termId = terms.zipWithIndex.toMap
    val slotsOf: Array[Array[Int]] = terms.map(t =>
      slots.indices.flatMap(i => slots(i).filter(_ == t).map(_ => i))
        .toArray).toArray
    val nSlots = slots.length
    reader.blocks(terms).flatMap { b =>
      val t = termId(b.term)
      PostingsCodec.decode(b).iterator
        .map(p => (p.docId, t, p.positions, p.norm))
    }.groupByKey(_._1).flatMapGroups { (docId, rows) =>
      val pos = new Array[Array[Int]](nSlots)
      var norm: Byte = 0
      rows.foreach { case (_, t, ps, n) =>
        norm = n
        slotsOf(t).foreach(i => pos(i) =
          if (pos(i) == null) ps else JoinScorer.mergeSorted(pos(i), ps))
      }
      val f = freq(pos)
      if (f > 0f) Iterator.single(ClauseHit(docId, clause, kind, w.score(f, norm)))
      else Iterator.empty
    }
  }

  /** Multi-phrase hits (reference search/MultiPhraseQuery.java +
    * UnionPostingsEnum; exact phrases are multi-phrases over single-term
    * slots, search/ExactPhraseScorer.java:27-84): each slot's
    * alternatives are unioned into one sorted position list, then pf =
    * slot-0 positions where every slot aligns at its rel offset. Weight
    * blends ALL member terms' statistics (idf sum), as the reference's
    * union enum does; the clause scores its weight at freq = pf. */
  private def multiPhraseHits(slots: Seq[Seq[String]], rel: Seq[Int],
                              stats: Seq[Seq[Option[TermStats]]],
                              clause: Int, kind: Int,
                              w: SimWeight): Dataset[ClauseHit] = {
    // a slot with no indexed alternative can never align -> no matches
    if (slots.isEmpty || stats.exists(_.forall(_.isEmpty)))
      return spark.emptyDataset[ClauseHit]
    val relArr = rel.toArray
    positionalHits(slots, w, clause, kind) { s =>
      var pf = 0
      if (!s.contains(null)) {
        val base = s(0)
        var i = 0
        while (i < base.length) {
          val p0 = base(i) - relArr(0)
          var ok = true
          var j = 1
          while (ok && j < s.length) {
            ok = java.util.Arrays.binarySearch(s(j), p0 + relArr(j)) >= 0
            j += 1
          }
          if (ok) pf += 1
          i += 1
        }
      }
      pf.toFloat
    }
  }

  /** Sloppy-phrase hits: the reference pq-walk over adjusted cursors —
    * freq is the sum of 1/(1+matchLength) over encountered matches
    * (search/SloppyPhraseScorer.java:96-135 via SloppyMatch). Slots that
    * share a term form the walk's repeat groups. */
  private def sloppyPhraseHits(terms: Seq[String], rel: Seq[Int],
                               stats: Seq[Option[TermStats]], slop: Int,
                               clause: Int, kind: Int,
                               w: SimWeight): Dataset[ClauseHit] = {
    if (stats.exists(_.isEmpty) || terms.isEmpty)
      return spark.emptyDataset[ClauseHit]
    val relArr = rel.toArray
    val rptSlots: Array[Array[Int]] = terms.indices.groupBy(terms(_))
      .valuesIterator.filter(_.length > 1).map(_.toArray).toArray
    positionalHits(terms.map(Seq(_)), w, clause, kind) { s =>
      if (s.contains(null)) 0f else SloppyMatch.freq(s, relArr, slop, rptSlots)
    }
  }

  /** Term-automaton hits (reference sandbox TermAutomatonQuery/Scorer):
    * one postings pass over the automaton's alphabet (one slot per
    * symbol), then a per-doc DFA walk (see
    * [[TermAutomatonDfa.countMatches]]); tf = counted accepting state
    * entries. */
  private def termAutomatonHits(taq: TermAutomatonQ, clause: Int, kind: Int,
                                w: SimWeight): Dataset[ClauseHit] = {
    val dfa = TermAutomatonDfa.compile(taq)
    if (dfa.terms.isEmpty) return spark.emptyDataset[ClauseHit]
    positionalHits(dfa.terms.toSeq.map(Seq(_)), w, clause, kind) { s =>
      val pairs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var tid = 0
      while (tid < s.length) {
        if (s(tid) != null) s(tid).foreach(p => pairs += ((p, tid)))
        tid += 1
      }
      TermAutomatonDfa.countMatches(dfa,
        pairs.sortInPlaceBy(x => (x._1, x._2)).toSeq).toFloat
    }
  }

  /** Payload-check spans (SpanPayloadCheckQuery / SpanNearPayloadCheckQuery):
    * ordered greedy span walk as in span-near, but each match's leg
    * positions are surfaced and its payloads (the position-derived channel
    * shared with ft_payload: 2.0 inside the 20-token lead window, 1.0
    * after) are compared against `expected` — in order for the single-span
    * check (SpanPayloadCheckQuery.java:52-73), by match-any counting for
    * the near variant (SpanNearPayloadCheckQuery.java:47-76). freq =
    * accepted matches, scored with the summed-idf statistics. */
  private def spanPayloadCheckHits(terms: Seq[String], slop: Int,
                                   expected: Seq[Float], nearRule: Boolean,
                                   stats: Seq[Option[TermStats]],
                                   clause: Int, kind: Int,
                                   w: SimWeight): Dataset[ClauseHit] = {
    if (stats.exists(_.isEmpty) || terms.isEmpty)
      return spark.emptyDataset[ClauseHit]
    val exp = expected.toArray
    positionalHits(terms.map(Seq(_)), w, clause, kind) { s =>
      if (s.contains(null)) 0f
      else JoinScorer.orderedSpanMatches(s, s.length, slop).count { legs =>
        val cand = legs.map(JoinScorer.leadPayload)
        if (cand.length != exp.length) false
        else if (!nearRule) cand.indices.forall(i => cand(i) == exp(i))
        else cand.count(c => exp.contains(c)) == exp.length
      }.toFloat
    }
  }

  /** Span-near hits (reference spans/SpanNearQuery.java, with
    * SpanMultiTermQueryWrapper legs; a plain span-near is this over
    * single-term slots): a slot's occurrence set is the sorted UNION of
    * its expanded terms' positions. inOrder: for each start occurrence of
    * the first slot, greedily chain each next slot to its smallest
    * position after the previous; match when spanWidth - nSlots <= slop
    * (greedy minimizes the end, so membership is exact). freq = number of
    * matches. Blended statistics: idf sums over every matched term of
    * every slot (SpanOrQuery's UnionPostings posture). */
  private def spanNearMultiHits(slots: Seq[Seq[String]], slop: Int,
                                inOrder: Boolean,
                                stats: Seq[Seq[Option[TermStats]]],
                                clause: Int, kind: Int,
                                w: SimWeight): Dataset[ClauseHit] = {
    val presentSlots: Seq[Seq[String]] = slots.zip(stats).map { case (ts, st) =>
      ts.zip(st).collect { case (t, Some(_)) => t }.distinct
    }
    // a slot with no dictionary match can never occur -> no clause hits
    if (slots.isEmpty || presentSlots.exists(_.isEmpty))
      return spark.emptyDataset[ClauseHit]
    positionalHits(presentSlots, w, clause, kind) { s =>
      if (s.contains(null)) 0f
      else if (inOrder) JoinScorer.orderedSpanFreq(s, s.length, slop).toFloat
      else JoinScorer.unorderedSpanFreq(s, s.length, slop).toFloat
    }
  }

  /** Span disjunction over terms (SpanOrQuery analog): freq = total
    * occurrences of any clause term, scored once with the summed idf. */
  private def spanOrHits(terms: Seq[String], stats: Seq[Option[TermStats]],
                         clause: Int, kind: Int,
                         w: SimWeight): Dataset[ClauseHit] = {
    val present = terms.zip(stats).collect { case (t, Some(_)) => t }
    reader.blocks(present.distinct).flatMap { b =>
      val (docs, tfs, nrms) = PostingsCodec.decodeDocs(b)
      docs.indices.iterator.map(i => (docs(i), tfs(i), nrms(i)))
    }.groupByKey(_._1).mapGroups { (docId, it) =>
      var freq = 0
      var norm: Byte = 0
      it.foreach { case (_, tf, n) => freq += tf; norm = n }
      ClauseHit(docId, clause, kind, w.score(freq.toFloat, norm))
    }
  }

  /** Span difference (SpanNotQuery analog): include occurrences survive
    * unless an exclude occurrence lies within [p-pre, p+post]; freq =
    * surviving count. An exclude equal to the include blocks every
    * occurrence (its own position lies in the window), so it matches
    * nothing, as the reference's SpanNotQuery. */
  private def spanNotHits(include: String, exclude: String, pre: Int,
                          post: Int, excPresent: Boolean, clause: Int,
                          kind: Int, w: SimWeight): Dataset[ClauseHit] = {
    val slots =
      if (excPresent && exclude != include) Seq(Seq(include), Seq(exclude))
      else Seq(Seq(include))
    positionalHits(slots, w, clause, kind) { s =>
      val incPos = s(0)
      val excPos =
        if (s.length > 1) s(1) else if (exclude == include) incPos else null
      var sf = 0
      if (incPos != null) {
        var i = 0
        while (i < incPos.length) {
          val p = incPos(i)
          var blocked = false
          if (excPos != null) {
            // first exclude >= p - pre; blocked when it is <= p + post
            val at = java.util.Arrays.binarySearch(excPos, p - pre)
            val ins = if (at >= 0) at else -at - 1
            blocked = ins < excPos.length && excPos(ins) <= p + post
          }
          if (!blocked) sf += 1
          i += 1
        }
      }
      sf.toFloat
    }
  }

  /** Span-within / span-containing (reference search/spans/
    * SpanWithinQuery.java, SpanContainingQuery.java — both new in the
    * 5.2 reference): ordered `big` spans are enumerated greedily
    * (minimal end per start, as NearSpansOrdered does); `within` counts
    * little occurrences inside some big span, `containing` counts big
    * spans holding at least one little occurrence. */
  private def spanContainHits(little: String, big: Seq[String], slop: Int,
                              within: Boolean,
                              littleStats: Option[TermStats],
                              bigStats: Seq[Option[TermStats]],
                              clause: Int, kind: Int,
                              w: SimWeight): Dataset[ClauseHit] = {
    if (littleStats.isEmpty || bigStats.exists(_.isEmpty) || big.isEmpty)
      return spark.emptyDataset[ClauseHit]
    val nBig = big.length
    // slot 0 = little, slots 1..nBig = the big legs (a term may fill both)
    positionalHits(Seq(little) +: big.map(Seq(_)), w, clause, kind) { s =>
      if (s.contains(null)) 0f
      else {
        val lp = s(0)
        val spans = JoinScorer.orderedSpanMatches(s.tail, nBig, slop)
          .map(legs => (legs(0), legs(nBig - 1))).toArray
        if (within) // little occurrences inside ANY big span (each once)
          lp.count(p => spans.exists(se => se._1 <= p && p <= se._2)).toFloat
        else // big spans containing at least one little occurrence
          spans.count { case (st, e) =>
            val at = java.util.Arrays.binarySearch(lp, st)
            val ins = if (at >= 0) at else -at - 1
            ins < lp.length && lp(ins) <= e
          }.toFloat
      }
    }
  }

  /** Span position range (SpanPositionRangeQuery; SpanFirstQuery is
    * start=0): occurrences at position in [start, end) survive; freq =
    * surviving count. The positions filter runs inside the postings
    * decode — no extra pass. */
  private def spanRangeHits(term: String, start: Int, end: Int, clause: Int,
                            kind: Int, w: SimWeight): Dataset[ClauseHit] = {
    val startPos = start
    val endPos = end
    reader.blocks(Seq(term)).flatMap { b =>
      PostingsCodec.decode(b).iterator.flatMap { p =>
        // positions are ascending: skip past < startPos, count < endPos
        var j = 0
        while (j < p.positions.length && p.positions(j) < startPos) j += 1
        var sf = 0
        while (j + sf < p.positions.length && p.positions(j + sf) < endPos) sf += 1
        if (sf == 0) Iterator.empty
        else Iterator.single(ClauseHit(p.docId, clause, kind,
          w.score(sf.toFloat, p.norm)))
      }
    }
  }

  private def matchAllHits(clause: Int, kind: Int,
                           boost: Float = 1f): Dataset[ClauseHit] =
    reader.docmeta.map(d => ClauseHit(d.docId, clause, kind, boost))

  /** A nested boolean clause, possibly boost-wrapped (BooleanQuery inside
    * BooleanQuery — reference queries nest freely; the boost multiplies
    * the inner query's combined score, Query.setBoost semantics). */
  private def nestedBool(qq: Query, b: Float = 1f): Option[(BoolQ, Float)] =
    qq match {
      case inner: BoolQ => Some((inner, b))
      case BoostQ(inner, bb) => nestedBool(inner, b * bb)
      case _ => None
    }

  /** Score a boolean query -> (docId, score) with exact reference
    * semantics (score = left-to-right float sum of scoring clauses).
    * Clauses may themselves be BoolQ (nested): each nested clause scores
    * recursively into its own (docId, score) frame; leaf clauses keep
    * the single batched term-stats rewrite. */
  def scores(q: BoolQ): Dataset[(Long, Float)] = {
    val withIdx = q.clauses.zipWithIndex
    val leaves = withIdx.filter { case ((_, sub), _) => nestedBool(sub).isEmpty }
    val rewritten = rewrite(BoolQ(leaves.map(_._1), q.minShouldMatch))
    val weights = clauseWeights(rewritten.map(_._3).map {
      case sc: Scored => (sc.weightStats, sc.boost)
      case _ => (Nil, 1f)
    })
    val nestedFrames: Seq[(Int, Dataset[ClauseHit])] =
      withIdx.flatMap { case ((o, sub), i) =>
        nestedBool(sub).map { case (b, bst) =>
          val kind = kindOf(o)
          i -> scores(b).map(t => ClauseHit(t._1, i, kind, t._2 * bst))
        }
      }
    // a scored leaf none of whose terms is in the dictionary matches
    // nothing: it gets no frame and no place in coord's maxOverlap
    val leafFrames = rewritten.zip(leaves.map(_._2)).zip(weights).flatMap {
      case (((o, _, rc), i), w) =>
        val kind = kindOf(o)
        (rc match {
          case ConstSet(ts, b) => Some(constHits(ts, i, kind, b))
          case MatchAll(b) => Some(matchAllHits(i, kind, b))
          case sc: Scored => w.map(scoredHits(sc, i, kind, _))
        }).map(i -> _)
    }
    val frames = nestedFrames ++ leafFrames
    if (frames.isEmpty) return spark.emptyDataset[(Long, Float)]
    val all = frames.map(_._2).reduce(_ union _)
    val nMust = q.clauses.count(c => c._1 == Occur.Must) +
      q.clauses.count(c => c._1 == Occur.Filter)
    val nShould = q.clauses.count(c => c._1 == Occur.Should)
    val effMsm =
      if (q.minShouldMatch > 0) q.minShouldMatch
      else if (nMust == 0 && nShould > 0) 1
      else 0
    val nClauses = q.clauses.length
    val maxOverlap = frames.count { case (i, _) =>
      val o = q.clauses(i)._1
      o == Occur.Must || o == Occur.Should
    }
    val coords = Array.tabulate(maxOverlap + 1)(o =>
      if (o == 0) 1f else sim.coord(o, maxOverlap))
    val matched = all.groupByKey(_.docId).mapGroups { (docId, it) =>
      val scoresByClause = new Array[Float](nClauses)
      java.util.Arrays.fill(scoresByClause, Float.NaN)
      val kinds = new Array[Int](nClauses)
      var mustSeen = 0; var shouldSeen = 0; var vetoed = false
      it.foreach { h =>
        kinds(h.clause) = h.kind
        h.kind match {
          case ClauseKind.Must | ClauseKind.Filter =>
            mustSeen += 1; scoresByClause(h.clause) = h.score
          case ClauseKind.Should =>
            shouldSeen += 1; scoresByClause(h.clause) = h.score
          case ClauseKind.MustNot => vetoed = true
        }
      }
      if (vetoed || mustSeen < nMust || shouldSeen < effMsm)
        (docId, Float.NaN)
      else {
        // sum scoring clauses (Must + Should) left-to-right in clause
        // order, then scale by coord
        var s = 0f
        var overlap = 0
        var i = 0
        while (i < nClauses) {
          val v = scoresByClause(i)
          if (!java.lang.Float.isNaN(v) && kinds(i) != ClauseKind.Filter) {
            s += v; overlap += 1
          }
          i += 1
        }
        (docId, s * coords(overlap))
      }
    }.filter(t => !java.lang.Float.isNaN(t._2))
    // live-docs filter: tombstoned docs leave results immediately (stats
    // unchanged until compaction — reference LiveDocs semantics)
    reader.liveOnly(matched.toDF("docId", "score")).as[(Long, Float)]
  }

  /** Hits of a scored leaf clause under its normalized weight `w`. */
  private def scoredHits(sc: Scored, i: Int, kind: Int,
                         w: SimWeight): Dataset[ClauseHit] = sc match {
    case ScoredTerm(t, _, _) => termHits(t, i, kind, w)
    case ScoredSloppyPhrase(ts, rel, st, slop, _) =>
      sloppyPhraseHits(ts, rel, st, slop, i, kind, w)
    case ScoredMultiPhrase(ss, rel, st, _) =>
      multiPhraseHits(ss, rel, st, i, kind, w)
    case ScoredAutomaton(tq, _, _) => termAutomatonHits(tq, i, kind, w)
    case ScoredSpanMulti(ss, slop, ord, st, _) =>
      spanNearMultiHits(ss, slop, ord, st, i, kind, w)
    case ScoredSpanOr(ts, st, _) => spanOrHits(ts, st, i, kind, w)
    case ScoredSpanNot(inc, exc, pre, post, _, ep, _) =>
      spanNotHits(inc, exc, pre, post, ep, i, kind, w)
    case ScoredSpanRange(t, st0, end, _, _) =>
      spanRangeHits(t, st0, end, i, kind, w)
    case ScoredSpanPayCheck(ts, slop, nearRule, pays, st, _) =>
      spanPayloadCheckHits(ts, slop, pays, nearRule, st, i, kind, w)
    case ScoredSpanContain(l, bg, slop, within, lst, bst, _) =>
      spanContainHits(l, bg, slop, within, lst, bst, i, kind, w)
  }

  /** Top-k (score desc, docId asc) — TakeOrderedAndProject. */
  def topK(q: BoolQ, k: Int): DataFrame =
    scores(q).toDF("docId", "score")
      .orderBy($"score".desc, $"docId".asc).limit(k)

  /** Deep paging (reference searchAfter, search/IndexSearcher.java:324):
    * keep docs strictly after (afterScore, afterDoc) in rank order. */
  def searchAfter(q: BoolQ, k: Int, afterScore: Float, afterDoc: Long): DataFrame =
    scores(q).toDF("docId", "score")
      .where($"score" < afterScore ||
        ($"score" === afterScore && $"docId" > afterDoc))
      .orderBy($"score".desc, $"docId".asc).limit(k)

  /** Two-stage rescoring (reference search/QueryRescorer.java): take the
    * top `n` of `base`, recombine with `second`'s scores as
    * wFirst*base + wSecond*second (0 when second misses), return top `k`.
    * The second query scores ONLY the n-row candidate set — at cluster
    * scale the expensive second pass never touches the full corpus. */
  def rescore(base: BoolQ, second: BoolQ, n: Int,
              wFirst: Float, wSecond: Float, k: Int): DataFrame = {
    val baseTop = topK(base, n)
    val sec = scores(second).toDF("docId", "s2")
    baseTop.join(sec, Seq("docId"), "left")
      .select($"docId",
        ($"score" * wFirst +
          coalesce($"s2", lit(0f)) * wSecond).as("score"))
      .orderBy($"score".desc, $"docId".asc).limit(k)
  }

  /** Solr ReRank (solr/core/.../search/ReRankQParserPlugin.java:98,269-320,
    * `rq={!rerank reRankQuery=.. reRankDocs=N reRankWeight=W}`): the main
    * query collects top max(reRankDocs, length); the FIRST reRankDocs are
    * rescored as main + W*second (additive only when the rerank query
    * matches — QueryRescorer.combine at :205-214) and re-sorted, while
    * candidates PAST reRankDocs keep their original main-order positions
    * behind the reranked block (the combined-page arraycopy at :311-318)
    * — the behavior plain `rescore` lacks. Returns (docId, rank). The
    * rerank scores join only the bounded candidate slice, so the second
    * pass never reorders anything outside the top reRankDocs; the windows
    * below run over <= max(reRankDocs, length) rows, never the corpus. */
  def reRank(main: BoolQ, second: BoolQ, reRankDocs: Int,
             reRankWeight: Double, length: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE pass over the candidate frame (no head/tail union — a union of
    // two filters of the same top-k would re-execute the main query's
    // postings scan twice): head ranks come from a window partitioned on
    // the head flag, tail ranks are the main ranks unchanged.
    topK(main, math.max(reRankDocs, length))
      .withColumn("mrank", row_number().over(
        Window.orderBy($"score".desc, $"docId".asc)))
      .join(scores(second).toDF("docId", "s2"), Seq("docId"), "left")
      .withColumn("ishead", $"mrank" <= reRankDocs)
      .withColumn("comb", when($"ishead",
        $"score".cast("double") +
          lit(reRankWeight) * coalesce($"s2".cast("double"), lit(0.0))))
      .withColumn("rank", when($"ishead", row_number().over(
          Window.partitionBy($"ishead")
            .orderBy($"comb".desc_nulls_last, $"docId".asc)))
        .otherwise($"mrank").cast("long"))
      .where($"rank" <= length)
      .select($"docId", $"rank")
  }

  /** eDisMax `qf` (reference solr/core/.../search/ExtendedDismaxQParser
    * .java:162 queryFields): ONE user query string scored across several
    * fields with per-field boosts. Per term, the per-field scores combine
    * as dismax (max + tie x (sum - max), DisjunctionMaxQuery.java); per
    * doc, matching terms' dismax values SUM (the eDisMax disjunction,
    * mm=0). `fields` = (term-key prefix, boost): "" = content,
    * "path:" = the path field — each side scored with ITS field's
    * df/avgdl/norms exactly like a fielded term clause. */
  def topKEdismaxQf(toks: Seq[String], fields: Seq[(String, Float)],
                    tie: Float, k: Int): DataFrame = {
    require(toks.nonEmpty && fields.nonEmpty)
    val nf = fields.length
    val fieldTerms = for {
      (t, ti) <- toks.zipWithIndex
      ((prefix, boost), fi) <- fields.zipWithIndex
    } yield (prefix + t, ti * nf + fi, boost)
    val ws = termWeights(fieldTerms.map(ft => (ft._1, ft._3)))
    val frames = fieldTerms.zip(ws).map { case ((term, slot, _), w) =>
      w.fold(spark.emptyDataset[ClauseHit])(termHits(term, slot, ClauseKind.Should, _))
    }
    val nTerms = toks.length
    val tieV = tie
    frames.reduce(_ union _).groupByKey(_.docId).mapGroups { (docId, it) =>
      val bydSlot = new Array[Float](nTerms * nf)
      java.util.Arrays.fill(bydSlot, Float.NaN)
      it.foreach(h => bydSlot(h.clause) = h.score)
      var s = 0f
      var ti = 0
      while (ti < nTerms) {
        var m = Float.NegativeInfinity
        var sum = 0f
        var any = false
        var fi = 0
        while (fi < nf) {
          val v = bydSlot(ti * nf + fi)
          if (!java.lang.Float.isNaN(v)) {
            any = true; sum += v; if (v > m) m = v
          }
          fi += 1
        }
        if (any) s += m + tieV * (sum - m)
        ti += 1
      }
      (docId, s)
    }.toDF("docId", "score")
      .transform(reader.liveOnly)
      .orderBy($"score".desc, $"docId".asc).limit(k)
  }

  /** Disjunction-max (reference search/DisjunctionMaxQuery.java): max of
    * clause scores + tieBreakerMultiplier x (sum of the others). */
  def topKDisMax(terms: Seq[String], k: Int, tiebreak: Float = 0f): DataFrame = {
    val frames = terms.zip(termWeights(terms.map(_ -> 1f))).zipWithIndex.map { case ((t, w), i) =>
      w.fold(spark.emptyDataset[ClauseHit])(termHits(t, i, ClauseKind.Should, _))
    }
    val tie = tiebreak
    frames.reduce(_ union _)
      .groupByKey(_.docId).mapGroups { (docId, it) =>
        var m = Float.NegativeInfinity
        var sum = 0f
        it.foreach { h => sum += h.score; if (h.score > m) m = h.score }
        (docId, m + tie * (sum - m))
      }
      .toDF("docId", "score")
      .transform(reader.liveOnly) // LiveDocs contract, same as scores()
      .orderBy($"score".desc, $"docId".asc).limit(k)
  }
}

object JoinScorer {

  /** Merge two ascending int arrays (duplicates kept — distinct terms of
    * one slot can share a position under index-time synonyms). */
  def mergeSorted(a: Array[Int], b: Array[Int]): Array[Int] = {
    val out = new Array[Int](a.length + b.length)
    var i = 0; var j = 0; var k = 0
    while (i < a.length && j < b.length) {
      if (a(i) <= b(j)) { out(k) = a(i); i += 1 } else { out(k) = b(j); j += 1 }
      k += 1
    }
    while (i < a.length) { out(k) = a(i); i += 1; k += 1 }
    while (j < b.length) { out(k) = b(j); j += 1; k += 1 }
    out
  }

  /** Ordered span-near freq (NearSpansOrdered analog): for each start
    * occurrence of the first term, greedily chain each next term to its
    * smallest position after the previous; match when
    * spanWidth - nTerms <= slop (greedy minimizes the end, so membership
    * is exact). */
  /** The fixed position-derived payload channel shared by ft_payload and
    * the payload-check queries: 2.0 inside the 20-token lead window, 1.0
    * after (TokenOffsetPayloadTokenFilter-style analysis product). */
  def leadPayload(pos: Int): Float = if (pos < 20) 2f else 1f

  /** Ordered greedy span walk (same chain as orderedSpanFreq) that yields
    * each MATCHING span's per-leg positions — for accept-position checks
    * that must see the matched occurrences, not just the count. */
  def orderedSpanMatches(byTerm: Array[Array[Int]], nTerms: Int,
                         slop: Int): Iterator[Array[Int]] = {
    val starts = byTerm(0)
    (0 until starts.length).iterator.flatMap { i =>
      val legs = new Array[Int](nTerms)
      legs(0) = starts(i)
      var prev = starts(i)
      var ok = true
      var j = 1
      while (ok && j < nTerms) {
        val arr = byTerm(j)
        val at = java.util.Arrays.binarySearch(arr, prev + 1)
        val ins = if (at >= 0) at else -at - 1
        if (ins >= arr.length) ok = false else { prev = arr(ins); legs(j) = prev }
        j += 1
      }
      if (ok && (prev - legs(0) + 1) - nTerms <= slop) Iterator.single(legs)
      else Iterator.empty
    }
  }

  def orderedSpanFreq(byTerm: Array[Array[Int]],
                                      nTerms: Int, slop: Int): Int = {
    var sf = 0
    val starts = byTerm(0)
    var i = 0
    while (i < starts.length) {
      var prev = starts(i)
      var ok = true
      var j = 1
      while (ok && j < nTerms) {
        val arr = byTerm(j)
        val at = java.util.Arrays.binarySearch(arr, prev + 1)
        val ins = if (at >= 0) at else -at - 1
        if (ins >= arr.length) ok = false else prev = arr(ins)
        j += 1
      }
      if (ok && (prev - starts(i) + 1) - nTerms <= slop) sf += 1
      i += 1
    }
    sf
  }

  /** Unordered span-near freq (NearSpansUnordered analog): merge every
    * term's positions into one sorted event list and slide a two-pointer
    * window; each time the window covers all terms, shrink from the left
    * to the MINIMAL covering window and count it when
    * width - nTerms <= slop. Counts distinct minimal windows (each left
    * edge at most once), mirroring the queue-based minimal-interval
    * matching of the reference. */
  def unorderedSpanFreq(byTerm: Array[Array[Int]],
                                        nTerms: Int, slop: Int): Int = {
    var total = 0
    byTerm.foreach(a => total += a.length)
    val pos = new Array[Int](total)
    val cls = new Array[Int](total)
    // k-way merge by simple fill + sort (position lists are tiny per doc)
    var o = 0
    var t = 0
    while (t < nTerms) {
      val a = byTerm(t)
      var i = 0
      while (i < a.length) { pos(o) = a(i); cls(o) = t; o += 1; i += 1 }
      t += 1
    }
    // sort events by position (insertion indices differ => stable enough;
    // positions are unique within a doc, one token per position)
    val idx = (0 until total).sortBy(pos(_))
    val counts = new Array[Int](nTerms)
    var covered = 0
    var sf = 0
    var l = 0
    var r = 0
    while (r < total) {
      val cr = cls(idx(r))
      if (counts(cr) == 0) covered += 1
      counts(cr) += 1
      while (covered == nTerms) {
        val cl = cls(idx(l))
        if (counts(cl) == 1) {
          // minimal window [l, r]
          if ((pos(idx(r)) - pos(idx(l)) + 1) - nTerms <= slop) sf += 1
          covered -= 1
        }
        counts(cl) -= 1
        l += 1
      }
      r += 1
    }
    sf
  }
}
