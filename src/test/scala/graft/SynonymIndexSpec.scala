package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzer
import graft.index._
import graft.search._

/** Index-time SynonymFilter semantics (posInc=0 injection, multi-token
  * rules, norm discount), SpanMultiTermQueryWrapper legs, and eDisMax qf
  * over a hand-built corpus where the expectations are enumerable. */
class SynonymIndexSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  // ---- pure filter semantics ----

  private def syn(raw: (String, Seq[String])*) =
    Analyzer.compileSynonyms(raw.toSeq)

  test("single-token rule injects at the SAME position (posInc=0)") {
    val (t, p, dl) = Analyzer.applySynonymsFlat(
      Array("the", "fast", "fox"), Array(0, 1, 2), syn("fast" -> Seq("quick")))
    assert(t.toSeq == Seq("the", "fast", "quick", "fox"))
    assert(p.toSeq == Seq(0, 1, 1, 2))
    assert(dl == 3, "injected token must not inflate the field length")
  }

  test("multi-word RHS: first token at match start, rest at following " +
    "positions (the reference's documented sausage overlap)") {
    val (t, p, _) = Analyzer.applySynonymsFlat(
      Array("usa", "wins"), Array(0, 1),
      syn("usa" -> Seq("united states")))
    assert(t.toSeq == Seq("usa", "united", "states", "wins"))
    assert(p.toSeq == Seq(0, 0, 1, 1))
  }

  test("multi-token LHS: greedy consecutive-position match, keepOrig") {
    val rules = syn("hash agg" -> Seq("hashagg"))
    val (t, p, _) = Analyzer.applySynonymsFlat(
      Array("hash", "agg", "x"), Array(0, 1, 2), rules)
    assert(t.toSeq == Seq("hash", "agg", "hashagg", "x"))
    assert(p.toSeq == Seq(0, 1, 0, 2))
    // a stopword GAP between the LHS tokens breaks the phrase match
    val (t2, _, _) = Analyzer.applySynonymsFlat(
      Array("hash", "agg"), Array(0, 2), rules)
    assert(t2.toSeq == Seq("hash", "agg"))
  }

  test("longest LHS wins; matches do not overlap") {
    val rules = syn("a" -> Seq("x"), "a b" -> Seq("y"))
    val (t, p, _) = Analyzer.applySynonymsFlat(
      Array("a", "b", "a"), Array(0, 1, 2), rules)
    // "a b" (longest) consumes 0-1; the final lone "a" takes the short rule
    assert(t.toSeq == Seq("a", "b", "y", "a", "x"))
    assert(p.toSeq == Seq(0, 1, 0, 2, 2))
  }

  test("RHS longer than LHS + later original equal to an RHS tail token: " +
    "encoded per-term positions still ascend") {
    // usa -> "united states of america" injects america@3; the ORIGINAL
    // america sits at position 1. Emission order is [.., america@3, america@1,
    // ..]; the (term, position) sort in invertDoc must still produce an
    // ascending position array (a negative VInt delta round-trips, so the
    // bug would be silent and break phrase/span matching).
    val chain = IndexChain.of(IndexConfig(
      synonyms = Seq("usa" -> Seq("united states of america"))))
    val sd = IndexBuilder.invertDoc(0L, 0, "r", "p.txt", "c", "en",
      "usa america trip", chain)
    def positionsOf(term: String): Seq[Int] = {
      val sp = sd.postings.find(_.term == term).get
      val rd = new graft.codec.VByte.Reader(sp.pb)
      val tf = rd.readVInt()
      var prev = 0
      (0 until tf).map { _ => prev += rd.readVInt(); prev }
    }
    assert(positionsOf("america") == Seq(1, 3))
    sd.postings.filterNot(_.term.startsWith("path:")).foreach { sp =>
      val ps = positionsOf(sp.term)
      assert(ps == ps.sorted, s"positions of '${sp.term}' must ascend: $ps")
    }
  }

  test("synonym rules are compiled through the index's own analyzer chain") {
    // With analyzer=english, LHS 'running' must match the stemmed index
    // term 'run', and the injected RHS must be stemmed so stemmed query
    // terms reach it. (reference: SynonymMap.Builder analyzes rule text
    // with the chain analyzer, synonym/SynonymMap.java:184-199)
    val cfgEn = IndexConfig(numDocParts = 2, numBuckets = 4,
      shufflePartitions = 4, analyzer = "english",
      synonyms = Seq("running" -> Seq("sprinting")))
    val docs = Seq(
      DocInput("r", "a.txt", "c1", "en", "the running fox"),
      DocInput("r", "b.txt", "c2", "en", "a walking fox")).toDF()
    val dir = SparkSuite.tmpDir("graft-synstem")
    IndexBuilder.build(spark, docs, dir, cfgEn)
    val rd = new IndexReader(spark, dir, cfgEn.numBuckets, cacheData = false)
    val js = new JoinScorer(rd)
    def hit(t: String): Set[String] = {
      val ids = js.scores(BoolQ(Seq((Occur.Must, TermQ(t)))))
        .map(_._1).collect().toSet
      rd.docmeta.filter(d => ids.contains(d.docId)).map(_.path).collect().toSet
    }
    // 'sprinting' stems to 'sprint'; it must be indexed on a.txt
    assert(hit("sprint") == Set("a.txt"))
    // keepOrig: the stemmed original survives
    assert(hit("run") == Set("a.txt"))
  }

  // ---- end-to-end over a built index ----

  private val cfg = IndexConfig(numDocParts = 2, numBuckets = 4,
    shufflePartitions = 4,
    synonyms = Seq("fast" -> Seq("quick"), "hash agg" -> Seq("hashagg")))

  private lazy val reader: IndexReader = {
    val docs = Seq(
      DocInput("r", "x/fox.txt", "c1", "en", "the fast brown fox"),
      DocInput("r", "b.txt", "c2", "en", "a quick brown fox"),
      DocInput("r", "c.txt", "c3", "en", "hash agg pipeline wins")).toDF()
    val dir = SparkSuite.tmpDir("graft-synix")
    IndexBuilder.build(spark, docs, dir, cfg)
    new IndexReader(spark, dir, cfg.numBuckets, cacheData = false)
  }

  private def paths(q: Query): Set[String] = {
    val ids = new JoinScorer(reader)
      .scores(BoolQ(Seq((Occur.Must, q)))).map(_._1).collect().toSet
    reader.docmeta.filter(d => ids.contains(d.docId))
      .map(_.path).collect().toSet
  }

  test("phrase matches THROUGH the injected synonym on the indexed side") {
    assert(paths(PhraseQ(Seq("quick", "brown"), Seq(0, 1))) ==
      Set("x/fox.txt", "b.txt"))
    // original survives (keepOrig)
    assert(paths(PhraseQ(Seq("fast", "brown"), Seq(0, 1))) == Set("x/fox.txt"))
    // collapsed multi-token synonym is a real indexed term
    assert(paths(TermQ("hashagg")) == Set("c.txt"))
  }

  test("injected overlaps do not inflate dl/norms") {
    val byPath = reader.docmeta.collect().map(d => d.path -> d.dl).toMap
    assert(byPath("x/fox.txt") == 3) // the(stop) fast brown fox
    assert(byPath("c.txt") == 4)     // hash agg pipeline wins
  }

  test("SpanNearMultiQ: prefix leg expands and matches near-ordered") {
    // fast/quick followed within slop 1 by a bro* term
    assert(paths(SpanNearMultiQ(
      Seq(TermQ("quick"), PrefixQ("bro")), 0, inOrder = true)) ==
      Set("x/fox.txt", "b.txt"))
    assert(paths(SpanNearMultiQ(
      Seq(TermQ("hash"), PrefixQ("pipe")), 0, inOrder = true)) == Set.empty)
    assert(paths(SpanNearMultiQ(
      Seq(TermQ("hash"), PrefixQ("pipe")), 1, inOrder = true)) == Set("c.txt"))
    // an unmatched pattern leg means the clause can never match
    assert(paths(SpanNearMultiQ(
      Seq(TermQ("hash"), PrefixQ("zzz")), 5, inOrder = false)) == Set.empty)
  }

  test("eDisMax qf: per-term dismax across fields, tie-broken sum") {
    val js = new JoinScorer(reader)
    def score1(df: org.apache.spark.sql.DataFrame): Map[Long, Float] =
      df.select("docId", "score").as[(Long, Float)].collect().toMap
    // 'fox' matches doc1 in BOTH content and path (path token "fox")
    val content = score1(js.topK(BoolQ(Seq((Occur.Must, TermQ("fox")))), 10))
    val path = score1(js.topK(
      BoolQ(Seq((Occur.Must, TermQ("path:fox")))), 10))
    val tie = 0.5f
    val got = score1(js.topKEdismaxQf(Seq("fox"),
      Seq(("", 1f), ("path:", 1f)), tie, 10))
    val d1 = reader.docmeta.filter(_.path == "x/fox.txt").head().docId
    val m = math.max(content(d1), path(d1))
    val sum = content(d1) + path(d1)
    assert(got(d1) == m + tie * (sum - m), "dismax, not sum, per term")
    // doc2 has fox only in content -> its dismax is the bare content score
    val d2 = reader.docmeta.filter(_.path == "b.txt").head().docId
    assert(got(d2) == content(d2))
  }
}
