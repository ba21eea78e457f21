package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.codec.PostingsCodec
import graft.index._
import graft.search._

/** End-to-end rank-identity: engine (join path AND WAND path) vs the naive
  * oracle on the FIXTURES.md §5 reference query set — exact (docId, float
  * score bits) sequence equality, the sandbox stand-in for comparing
  * against IndexSearcher.search(topK). */
class RankIdentitySpec extends AnyFunSuite {
  import SparkSuite.spark
  import spark.implicits._

  private val cfg = IndexConfig(numDocParts = 8, numBuckets = 8,
    hotDfThreshold = 300, saltShift = 6, shufflePartitions = 8)

  private lazy val dir: String = {
    val d = SparkSuite.tmpDir("graft-index")
    val corpus = CorpusGen.generate(spark, 800, seed = 42L, parts = 8)
    IndexBuilder.build(spark, corpus.toDF(), d, cfg)
    d
  }
  private lazy val reader = IndexReader(spark, dir, cfg)
  private lazy val joiner = new JoinScorer(reader)
  private lazy val wand = new WandScorer(reader)
  // every chunk the docParts allow (one per posting, capped at 2x
  // parallelism): the test index is too small for the default grid to
  // split a query, so this keeps the multi-chunk path under test
  private lazy val wandGrid = new WandScorer(reader, postingsPerChunk = 1L)
  // the same index read without the postings cache: every answer must be
  // float-bit-identical to the cached reader's
  private lazy val uncached =
    new IndexReader(spark, dir, cfg.numBuckets, cacheData = false)

  private def bits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int)] =
    df.as[(Long, Float)].collect().toSeq
      .map { case (d, s) => (d, java.lang.Float.floatToIntBits(s)) }

  /** Oracle over the same docs with the engine's docIds. */
  private lazy val oracle: NaiveOracle.Index = {
    val docs = reader.docmeta
      .join(CorpusGen.generate(spark, 800, seed = 42L, parts = 8).toDF()
        .withColumnRenamed("lang", "lang2"),
        Seq("repo", "path", "commit"))
      .select($"docId", $"lang", $"content")
      .as[(Long, String, String)].collect()
      .map(t => NaiveOracle.Doc(t._1, t._2, t._3))
    assert(docs.length == 800)
    new NaiveOracle.Index(docs.toSeq)
  }

  private def engineTopK(q: BoolQ, k: Int = 10): Seq[(Long, Float)] =
    joiner.topK(q, k).as[(Long, Float)].collect().toSeq

  private def checkQuery(q: BoolQ, k: Int = 10): Unit = {
    val exp = oracle.topK(q, k)
    val got = engineTopK(q, k)
    assert(got == exp, s"\nquery: $q\nexpected: $exp\ngot: $got")
  }

  test("index builds with salted hot terms") {
    val hot = reader.termStatsDf.where($"df" >= cfg.hotDfThreshold)
      .select("term").as[String].collect().toSet
    assert(hot.contains("import") && hot.contains("return"))
  }

  test("q1: single hot term (salted path)") {
    checkQuery(BoolQ(Seq(Occur.Should -> TermQ("import"))))
  }

  test("q2: single rare term") {
    val rare = oracle.allTerms.find(t => oracle.df(t) == 1).get
    checkQuery(BoolQ(Seq(Occur.Should -> TermQ(rare))))
  }

  test("q3: OR of two mixed-frequency terms (float sum, clause order)") {
    checkQuery(BoolQ(Seq(Occur.Should -> TermQ("import"),
      Occur.Should -> TermQ("spark"))))
  }

  test("q4: AND of two terms (conjunction)") {
    checkQuery(BoolQ(Seq(Occur.Must -> TermQ("import"),
      Occur.Must -> TermQ("println"))))
  }

  test("q5: AND + NOT (required + prohibited)") {
    checkQuery(BoolQ(Seq(Occur.Must -> TermQ("import"),
      Occur.MustNot -> TermQ("void"))))
  }

  test("q6: OR with minShouldMatch=2 of 3") {
    checkQuery(BoolQ(Seq(Occur.Should -> TermQ("spark"),
      Occur.Should -> TermQ("println"), Occur.Should -> TermQ("merge")),
      minShouldMatch = 2))
  }

  test("q7: exact phrase (positions)") {
    val q = QueryParser.parse("\"import spark\"")
    assert(q.clauses.head._2.isInstanceOf[PhraseQ])
    checkQuery(q)
  }

  test("q7b: boosted OR (weight = idf*boost*(k1+1), float order)") {
    checkQuery(BoolQ(Seq(Occur.Should -> BoostQ(TermQ("spark"), 2.5f),
      Occur.Should -> TermQ("merge"))))
  }

  test("q7c: sloppy phrase (reference pq-walk freq)") {
    val q = QueryParser.parse("\"import spark\"~2")
    assert(q.clauses.head._2.isInstanceOf[SloppyPhraseQ])
    checkQuery(q)
  }

  test("q7c2: 3-term sloppy phrase (n-term walk)") {
    checkQuery(BoolQ(Seq(Occur.Must ->
      SloppyPhraseQ(Seq("import", "spark", "merge"), Seq(0, 1, 2), 3))))
  }

  test("q7c3: sloppy phrase with a repeated term (repeat groups)") {
    checkQuery(BoolQ(Seq(Occur.Must ->
      SloppyPhraseQ(Seq("import", "spark", "import"), Seq(0, 1, 2), 4))))
  }

  test("q7h: nested boolean clauses (BooleanQuery in BooleanQuery)") {
    // MUST( SHOULD(import, println), merge ) — SimpleParser's tree shape
    checkQuery(BoolQ(Seq(
      Occur.Must -> BoolQ(Seq(Occur.Should -> TermQ("import"),
        Occur.Should -> TermQ("println"))),
      Occur.Must -> TermQ("merge"))))
    // negation wrapper: SHOULD(spark), (MUST_NOT(void) SHOULD(MatchAll))
    checkQuery(BoolQ(Seq(
      Occur.Must -> TermQ("spark"),
      Occur.Must -> BoolQ(Seq(Occur.MustNot -> TermQ("void"),
        Occur.Should -> MatchAllQ)))))
    // boosted nested subquery scales the inner sum
    checkQuery(BoolQ(Seq(
      Occur.Should -> BoostQ(BoolQ(Seq(Occur.Should -> TermQ("import"),
        Occur.Should -> TermQ("merge"))), 2.5f),
      Occur.Should -> TermQ("spark"))))
  }

  test("q7i: SimpleParser end-to-end rank identity") {
    val q = graft.search.SimpleParser
      .parse("import+(merge|println) -void").asInstanceOf[BoolQ]
    checkQuery(q)
  }

  test("q7d: regexp + range multi-term rewrites (const score)") {
    checkQuery(BoolQ(Seq(Occur.Should -> RegexpQ("im.*t"),
      Occur.Should -> RangeQ("print", "publir"))))
  }

  test("q7e: boosted const-score rewrite scores boost, not 1") {
    // boost changes the rank ORDER vs the scored term clause — a dropped
    // boost (round-1 bug) collapses back to 1f and reorders
    checkQuery(BoolQ(Seq(Occur.Should -> BoostQ(PrefixQ("id1"), 3f),
      Occur.Should -> TermQ("spark"))), 20)
    checkQuery(BoolQ(Seq(Occur.Should -> BoostQ(MatchAllQ, 0.5f),
      Occur.Should -> TermQ("merge"))), 20)
  }

  test("q7f: multi-phrase (per-slot alternatives, blended stats)") {
    val q = BoolQ(Seq(Occur.Should -> MultiPhraseQ(
      Seq(Seq("import", "return"), Seq("val", "def")), Seq(0, 1))))
    assert(oracle.topK(q, 10).nonEmpty, "fixture must have matches")
    checkQuery(q)
    // a slot mixing present + absent alternatives still scores correctly
    checkQuery(BoolQ(Seq(Occur.Should -> MultiPhraseQ(
      Seq(Seq("import", "zzznope"), Seq("val")), Seq(0, 1)))))
  }

  test("q7g: span-within and span-containing") {
    val qw = BoolQ(Seq(Occur.Must ->
      SpanWithinQ("val", Seq("import", "return"), 8)))
    val qc = BoolQ(Seq(Occur.Must ->
      SpanContainingQ("val", Seq("import", "return"), 8)))
    assert(oracle.topK(qw, 10).nonEmpty, "fixture must have matches")
    checkQuery(qw)
    checkQuery(qc)
  }


  test("multi-term rewrite beyond maxClauseCount raises TooManyClauses") {
    // the corpus has ~1000 idNNN terms + numbers; a tiny limit must throw
    intercept[graft.index.SearchReader.TooManyClauses] {
      reader.expandTerms($"term".startsWith("id"), limit = 5)
    }
    // and the default path still expands small sets fine
    assert(reader.expandTerms($"term".startsWith("id17")).nonEmpty)
  }

  test("fuzzy expansion: length-banded pre-filter matches plain levenshtein") {
    val banded = reader.fuzzyTerms("sprk", 2).map(_.term).toSet
    val brute = oracle.allTerms.filter(t => NaiveOracle.lev(t, "sprk") <= 2).toSet
    assert(banded == brute)
  }

  test("q8: absent term -> empty") {
    assert(engineTopK(BoolQ(Seq(Occur.Should -> TermQ("zzzznotthere")))).isEmpty)
  }

  test("q9: 100% stopword query -> empty after analysis") {
    val q = QueryParser.parse("the a an of")
    assert(q.clauses.isEmpty)
    assert(engineTopK(q).isEmpty)
  }

  test("q10: near-tie docs break toward lower docId (HitQueue.java:76-81)") {
    // identical-content pairs exist by CorpusGen design; a broad query must
    // produce equal scores broken by docId asc
    val got = engineTopK(BoolQ(Seq(Occur.Should -> TermQ("import"))), 50)
    got.sliding(2).foreach {
      case Seq((d1, s1), (d2, s2)) =>
        assert(s1 > s2 || (s1 == s2 && d1 < d2))
      case _ =>
    }
    val ties = got.groupBy(_._2).filter(_._2.length > 1)
    assert(ties.nonEmpty, "corpus should contain score ties")
  }

  test("prefix / wildcard / fuzzy rewrite to constant-score sets") {
    checkQuery(BoolQ(Seq(Occur.Should -> PrefixQ("id1"))), 20)
    checkQuery(BoolQ(Seq(Occur.Should -> WildcardQ("id?7*"))), 20)
    checkQuery(BoolQ(Seq(Occur.Should -> FuzzyQ("sprk", 2))), 20)
  }

  test("searchAfter paging == oracle") {
    val q = BoolQ(Seq(Occur.Should -> TermQ("import")))
    val page1 = engineTopK(q, 10)
    val (d0, s0) = page1.last
    val exp = oracle.searchAfter(q, 10, s0, d0)
    val got = joiner.searchAfter(q, 10, s0, d0).as[(Long, Float)].collect().toSeq
    assert(got == exp)
    // no overlap between pages
    assert(page1.map(_._1).toSet.intersect(got.map(_._1).toSet).isEmpty)
  }

  test("reRank combined page == oracle (head re-sorted, tail keeps main order)") {
    val main = BoolQ(Seq(Occur.Should -> TermQ("import"),
      Occur.Should -> TermQ("spark")))
    val second = BoolQ(Seq(Occur.Should -> TermQ("merge")))
    val (rrDocs, len, w) = (8, 14, 3.0)
    // naive re-derivation of ReRankQParserPlugin's collector: top
    // max(rrDocs, len) by (score desc, docId), first rrDocs rescored
    // main + w*second and re-sorted, the rest appended in main order
    val ms = oracle.scores(main).toSeq
      .sortBy { case (d, s) => (-s, d) }.take(math.max(rrDocs, len))
    val ss = oracle.scores(second)
    val head = ms.take(rrDocs)
      .map { case (d, s) => (d, s.toDouble + w * ss.getOrElse(d, 0f).toDouble) }
      .sortBy { case (d, c) => (-c, d) }.map(_._1)
    val exp = (head ++ ms.drop(rrDocs).map(_._1)).take(len)
      .zipWithIndex.map { case (d, i) => ((i + 1).toLong, d) }
    val got = joiner.reRank(main, second, rrDocs, w, len)
      .select($"rank", $"docId").orderBy($"rank")
      .as[(Long, Long)].collect().toSeq
    assert(got == exp)
    // the tail is main-ordered, not score-ordered: rescoring must have
    // actually permuted the head for the combined-page case to be tested
    assert(head != ms.take(rrDocs).map(_._1), "rerank permuted nothing")
  }

  test("WAND path == join path == oracle (OR)") {
    for (terms <- Seq(Seq("import"), Seq("import", "spark"),
      Seq("spark", "println", "merge"), Seq("id001", "import", "dataset"))) {
      val exp = oracle.topK(BoolQ(terms.map(t => (Occur.Should, TermQ(t)))), 10)
      val got = wand.topK(terms, 10).as[(Long, Float)].collect().toSeq
      assert(got == exp, s"\nWAND OR $terms\nexpected: $exp\ngot: $got")
      assert(bits(new WandScorer(uncached).topK(terms, 10)) ==
        bits(wand.topK(terms, 10)), s"uncached WAND OR $terms")
    }
  }

  test("fuzzy expansion respects field boundaries (no content<->path leakage)") {
    // a path-field fuzzy query must expand ONLY into path: dictionary
    // terms — levenshtein can cross the field prefix (content "pathlib"
    // is 1 edit from "path:lib"), so the guard is explicit
    val pathExp = reader.fuzzyTerms("path:src", 2)
    assert(pathExp.nonEmpty)
    assert(pathExp.forall(_.term.startsWith("path:")),
      pathExp.filterNot(_.term.startsWith("path:")).map(_.term).take(5))
    // content fuzzy never returns path:/rev: dictionary entries
    val contentExp = reader.fuzzyTerms("import", 2)
    assert(contentExp.nonEmpty)
    assert(contentExp.forall(t =>
      !t.term.startsWith("path:") && !t.term.startsWith("rev:")))
  }

  test("path regexp expands only into path terms, even unanchored") {
    // "^path:d000|import$" reads as (^path:d000)|(import$): the content
    // term import matches the second branch, and the path-field guard
    // keeps it out, so the alternation finds only the path:d000 docs
    def docs(q: Query): Set[Long] =
      joiner.scores(BoolQ(Seq(Occur.Should -> q))).map(_._1).collect().toSet
    val d000 = docs(RegexpQ("path:d000"))
    assert(d000.size == 100)
    assert(!docs(TermQ("import")).subsetOf(d000))
    assert(docs(RegexpQ("path:d000|import")) == d000)
  }

  test("WAND path == oracle with DUPLICATE clauses (each occurrence scores)") {
    // duplicate SHOULD clauses each contribute a clause frame (Lucene
    // BooleanQuery keeps duplicates); a term->single-index map dropped
    // the extra cursors and returned EMPTY for +foo +foo
    val exp2 = oracle.topK(BoolQ(Seq(
      (Occur.Should, TermQ("import")), (Occur.Should, TermQ("import")))), 10)
    val got2 = wand.topK(Seq("import", "import"), 10)
      .as[(Long, Float)].collect().toSeq
    assert(got2 == exp2, s"\nOR dup\nexpected: $exp2\ngot: $got2")
    val expA = oracle.topK(BoolQ(Seq(
      (Occur.Must, TermQ("spark")), (Occur.Must, TermQ("spark")))), 10)
    val gotA = wand.topK(Seq("spark", "spark"), 10, conjunctive = true)
      .as[(Long, Float)].collect().toSeq
    assert(gotA.nonEmpty, "conjunctive duplicate returned empty")
    assert(gotA == expA, s"\nAND dup\nexpected: $expA\ngot: $gotA")
    val expM = oracle.topK(BoolQ(Seq(
      (Occur.Should, TermQ("merge")), (Occur.Should, TermQ("merge")),
      (Occur.Should, TermQ("spark"))), minShouldMatch = 2), 10)
    val gotM = wand.topK(Seq("merge", "merge", "spark"), 10,
      minShouldMatch = 2).as[(Long, Float)].collect().toSeq
    assert(gotM == expM, s"\nmsm dup\nexpected: $expM\ngot: $gotM")
  }

  test("WAND path == oracle (AND)") {
    for (terms <- Seq(Seq("import", "println"), Seq("import", "return", "spark"))) {
      val exp = oracle.topK(BoolQ(terms.map(t => (Occur.Must, TermQ(t)))), 10)
      val got = wand.topK(terms, 10, conjunctive = true)
        .as[(Long, Float)].collect().toSeq
      assert(got == exp, s"\nWAND AND $terms\nexpected: $exp\ngot: $got")
      assert(bits(new WandScorer(uncached).topK(terms, 10, conjunctive = true)) ==
        bits(wand.topK(terms, 10, conjunctive = true)), s"uncached WAND AND $terms")
    }
  }

  test("randomized boolean-query sweep == oracle (terms, phrases, " +
    "prefixes, boosts, msm; WAND agrees on pure disjunctions)") {
    val rng = new scala.util.Random(20260817L)
    val pool = Vector("import", "return", "spark", "println", "merge",
      "dataset", "data", "set", "void", "val", "def", "id001", "id007",
      "absentzzz")
    def term(): String = pool(rng.nextInt(pool.length))
    def leaf(): Query = rng.nextInt(10) match {
      case 0 => PhraseQ(Seq(term(), term()), Seq(0, 1))
      case 1 => PrefixQ(Seq("im", "pri", "id0", "da")(rng.nextInt(4)))
      case 2 => BoostQ(TermQ(term()), 1f + rng.nextInt(3).toFloat / 2f)
      case 3 => // n-term sloppy phrase, repeats allowed (pq-walk semantics)
        val k = 2 + rng.nextInt(3)
        SloppyPhraseQ(Seq.fill(k)(term()), 0 until k, 1 + rng.nextInt(4))
      case _ => TermQ(term())
    }
    def occur(): Occur = rng.nextInt(20) match {
      case n if n < 12 => Occur.Should
      case n if n < 17 => Occur.Must
      case _           => Occur.MustNot
    }
    var checked = 0
    for (_ <- 1 to 60) {
      val n = 1 + rng.nextInt(4)
      var clauses = Seq.fill(n)((occur(), leaf()))
      if (!clauses.exists(_._1 != Occur.MustNot))
        clauses = (Occur.Should: Occur, leaf()) +: clauses
      val nShould = clauses.count(_._1 == Occur.Should)
      val msm =
        if (nShould >= 2 && !clauses.exists(_._1 == Occur.Must) &&
          rng.nextInt(4) == 0) 1 + rng.nextInt(nShould) else 0
      val q = BoolQ(clauses, msm)
      checkQuery(q, 15)
      assert(bits(new JoinScorer(uncached).topK(q, 15)) == bits(joiner.topK(q, 15)),
        s"cached and uncached readers disagree on $q")
      checked += 1
      // WAND must agree with the spec path on pure term disjunctions
      if (msm == 0 && clauses.forall { case (o, l) =>
        o == Occur.Should && l.isInstanceOf[TermQ] }) {
        val ts = clauses.map(_._2.asInstanceOf[TermQ].term)
        val exp = oracle.topK(q, 15)
        val got = wand.topK(ts, 15).as[(Long, Float)].collect().toSeq
        assert(got == exp, s"WAND mismatch on $ts")
        assert(bits(new WandScorer(uncached).topK(ts, 15)) == bits(wand.topK(ts, 15)),
          s"cached and uncached WAND disagree on $ts")
        assert(bits(wandGrid.topK(ts, 15)) == bits(wand.topK(ts, 15)),
          s"one chunk and the full chunk grid disagree on $ts")
        assert(bits(new WandScorer(uncached, postingsPerChunk = 1L).topK(ts, 15)) ==
          bits(wand.topK(ts, 15)), s"uncached full-grid WAND disagrees on $ts")
      }
    }
    assert(checked == 60)
  }

  test("every similarity == a reference computed from the oracle's " +
    "postings (Classic queryNorm + coord, SweetSpot, LM, DFR, IB)") {
    val coll = CollStats(oracle.maxDoc, oracle.sttf)
    assert(reader.collStats == coll)
    // the similarity's per-posting score, summed per doc in clause order;
    // Classic's queryNorm and coord are written out here
    def expected(sim: Similarity, terms: Seq[String]): Seq[(Long, Int)] = {
      val present = terms.filter(oracle.df(_) > 0)
      val classic = sim.isInstanceOf[ClassicSimilarity]
      val raw = present.map { t =>
        val ttf = oracle.postings(t).values.map(_.length.toLong).sum
        sim.weight(Seq(TermStats(t, 0, oracle.df(t), ttf, 0)), 1f, coll,
          oracle.cache)
      }
      var sumSq = 0f
      raw.foreach(w => sumSq += w.valueForNormalization)
      val queryNorm =
        if (classic) (1.0 / math.sqrt(sumSq.toDouble)).toFloat else 1f
      val ws = raw.map(_.normalize(queryNorm))
      present.flatMap(oracle.postings(_).keys).distinct.map { d =>
        var s = 0f
        var overlap = 0
        present.zip(ws).foreach { case (t, w) =>
          oracle.postings(t).get(d).foreach { ps =>
            s += w.score(ps.length.toFloat, oracle.norm(d)); overlap += 1
          }
        }
        d -> (if (classic) s * (overlap.toFloat / present.length) else s)
      }.sortBy { case (d, s) => (-s, d) }.take(20)
        .map { case (d, s) => (d, java.lang.Float.floatToIntBits(s)) }
    }
    val sims = Seq("classic" -> Similarities.classic,
      "sweetspot" -> Similarities.sweetSpot(baseTf = 1.0f, minTf = 2.0f,
        plateauMin = 60, plateauMax = 100),
      "lmdirichlet" -> Similarities.lmDirichlet(),
      "dfr" -> Similarities.dfrGL2, "ib" -> Similarities.ibSplDf,
      "lmjm" -> Similarities.lmJelinekMercer())
    def should(ts: Seq[String]) = BoolQ(ts.map(t => (Occur.Should, TermQ(t))))
    val rng = new scala.util.Random(20261018L)
    val pool = oracle.allTerms.filter(oracle.df(_) >= 3).toVector
    val queries = Seq.fill(10)(rng.shuffle(pool).take(1 + rng.nextInt(4)))
    for ((name, sim) <- sims; terms <- queries)
      assert(bits(new JoinScorer(reader, sim).topK(should(terms), 20)) ==
        expected(sim, terms), s"$name on $terms")
    // a clause absent from the dictionary counts in neither queryNorm nor
    // coord's maxOverlap
    val absent = Seq("import", "absentzzz", "spark")
    val got = bits(new JoinScorer(reader, Similarities.classic)
      .topK(should(absent), 20))
    assert(got.nonEmpty && got == expected(Similarities.classic, absent))
  }

  test("randomized positional sweep == oracle (repeated-term phrases, " +
    "sloppy phrases, multi-phrases, span within/containing)") {
    // its own seed: the boolean sweep above keeps its draws
    val rng = new scala.util.Random(20261017L)
    // the two hot terms twice: random 3-term phrases still align in docs
    val pool = Vector("import", "import", "return", "return", "spark",
      "println", "merge", "dataset", "val", "def", "absentzzz")
    def term(): String = pool(rng.nextInt(pool.length))
    def terms(k: Int): Seq[String] = Seq.fill(k)(term())
    def positional(): Query = rng.nextInt(6) match {
      case 0 => // a term repeated across slots ("a b a")
        val a = term()
        PhraseQ(Seq(a, term(), a), Seq(0, 1, 2))
      case 1 =>
        val k = 2 + rng.nextInt(2)
        PhraseQ(terms(k), 0 until k)
      case 2 =>
        val k = 2 + rng.nextInt(3)
        SloppyPhraseQ(terms(k), 0 until k, 1 + rng.nextInt(4))
      case 3 => // single- and multi-term slots (distinct alternatives)
        val k = 2 + rng.nextInt(2)
        MultiPhraseQ(Seq.fill(k)(terms(1 + rng.nextInt(3)).distinct), 0 until k)
      case 4 => SpanWithinQ(term(), terms(2), 2 + rng.nextInt(7))
      case _ => SpanContainingQ(term(), terms(2), 2 + rng.nextInt(7))
    }
    def occur(): Occur = rng.nextInt(8) match {
      case n if n < 4 => Occur.Should
      case n if n < 7 => Occur.Must
      case _ => Occur.MustNot
    }
    var matched = 0
    for (_ <- 1 to 40) {
      val pos = positional()
      if (oracle.scores(BoolQ(Seq(Occur.Should -> pos))).nonEmpty) matched += 1
      val others = Seq.fill(rng.nextInt(3))((occur(), TermQ(term()): Query))
      var clauses = rng.shuffle((occur(), pos) +: others)
      if (clauses.forall(_._1 == Occur.MustNot))
        clauses = (Occur.Should: Occur, pos) +: clauses
      checkQuery(BoolQ(clauses), 15)
    }
    assert(matched >= 20, s"only $matched/40 positional clauses match")
  }

  test("SpanNot with exclude == include matches nothing (SpanNotQuery)") {
    for ((pre, post) <- Seq((0, 0), (2, 3))) {
      val q = BoolQ(Seq(Occur.Must -> SpanNotQ("spark", "spark", pre, post)))
      assert(joiner.scores(q).count() == 0, s"SpanNot(spark, spark, $pre, $post)")
    }
    assert(joiner.scores(BoolQ(Seq(Occur.Must -> SpanNotQ("spark", "import"))))
      .count() > 0)
    // a SHOULD SpanNot(a, a) adds nothing to the rest of the query
    assert(engineTopK(BoolQ(Seq(Occur.Should -> TermQ("merge"),
      Occur.Should -> SpanNotQ("spark", "spark")))) ==
      oracle.topK(BoolQ(Seq(Occur.Should -> TermQ("merge"))), 10))
  }

  /** Jobs, stages, tasks and shuffle bytes written by the Spark work
    * `body` starts (counted once the listener bus has drained), beside its
    * value. */
  private case class SparkWork(jobs: Int, stages: Int, tasks: Int,
                               shuffleWrite: Long)
  private def sparkWork[T](body: => T): (T, SparkWork) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = new java.util.concurrent.atomic.AtomicInteger()
    val tasks = new java.util.concurrent.atomic.AtomicInteger()
    val shuffle = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        Option(e.stageInfo.taskMetrics).foreach(m =>
          shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten))
      }
    }
    org.apache.spark.ListenerDrain(sc)
    sc.addSparkListener(listener)
    val v = try body finally {
      org.apache.spark.ListenerDrain(sc)
      sc.removeSparkListener(listener)
    }
    (v, SparkWork(jobs.get, stages.get, tasks.get, shuffle.get))
  }

  test("warm cached WAND query on new terms: no codegen, one job, " +
    "first stage only over the key partitions it needs") {
    // ... and that first stage is the only one, of one task: a query this
    // small is one chunk, which reads the key partitions through the
    // fan-out, with no shuffle
    import org.apache.spark.metrics.source.CodegenMetrics
    // warm-up: fills the postings cache and compiles the result decoder
    wand.topK(Seq("import", "spark"), 10).as[(Long, Float)].collect()
    val used = Set("import", "spark", "return", "println", "merge", "dataset",
      "data", "set", "void", "val", "def", "id001", "id007")
    val fresh = oracle.allTerms
      .filter(t => !used(t) && oracle.df(t) >= 5 && t.matches("[a-z]+")).take(3)
    assert(fresh.size == 3)
    reader.termStats(fresh) // the dictionary memo is not under test
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val (got, work) = sparkWork(wand.topK(fresh, 10).as[(Long, Float)].collect().toSeq)
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    assert(got == oracle.topK(BoolQ(fresh.map(t => (Occur.Should, TermQ(t): Query))), 10))
    assert(compiles == 0, s"$compiles classes compiled")
    assert(work.jobs == 1, s"${work.jobs} Spark jobs")
    assert(work.stages == 1, s"${work.stages} stages: the chunk tasks must " +
      "read the cache partitions in the stage that runs the WAND loop")
    assert(work.tasks == 1, s"${work.tasks} tasks for a one-chunk query")
    assert(work.shuffleWrite == 0L, s"${work.shuffleWrite} shuffle bytes written")
    // the fan-out's parent: only the cache partitions holding the keys
    val keyParts = reader.blockRdd(fresh).getNumPartitions
    assert(keyParts <= fresh.size, s"$keyParts cache partitions for ${fresh.size} keys")
  }

  test("top-0 is empty on both scorers, and WAND runs no Spark job for it") {
    val terms = Seq("import", "spark")
    val (w, work) = sparkWork(wand.topK(terms, 0).as[(Long, Float)].collect().toSeq)
    assert(w.isEmpty)
    assert(work.jobs == 0, s"${work.jobs} Spark jobs for k = 0")
    assert(wand.topK(terms, 0, conjunctive = true).count() == 0)
    assert(wand.topK(terms, -1).count() == 0)
    assert(joiner.topK(BoolQ(terms.map(t => (Occur.Should, TermQ(t)))), 0).count() == 0)
    assert(joiner.topK(BoolQ(terms.map(t => (Occur.Must, TermQ(t)))), 0).count() == 0)
  }

  test("msm above the present clauses is empty on both scorers, and WAND " +
    "runs no Spark job for it") {
    for (terms <- Seq(Seq("import", "spark"), Seq("import", "spark", "zzzabsent"))) {
      val q = BoolQ(terms.map(t => (Occur.Should, TermQ(t): Query)), minShouldMatch = 3)
      reader.termStats(terms) // the dictionary memo is not under test
      val (w, work) = sparkWork(bits(wand.topK(terms, 10, minShouldMatch = 3)))
      assert(work.jobs == 0, s"${work.jobs} Spark jobs for msm 3 over $terms")
      assert(w.isEmpty && w == bits(joiner.topK(q, 10)), s"msm 3 over $terms")
    }
  }

  test("WAND over the cached fan-out == WAND over the uncached exchange " +
    "(float bits): duplicate-clause msm, a tombstoned top hit, a rare " +
    "term whose one block spans every chunk") {
    // each query on both readers at both grids: one chunk per posting
    // (every chunk the docParts allow) and the default (one chunk here)
    def agree(r: IndexReader, u: IndexReader, ts: Seq[String], k: Int,
              msm: Int = 0): Seq[(Long, Int)] = {
      assert(r.postingsCached && !u.postingsCached)
      def run(s: WandScorer) = bits(s.topK(ts, k, minShouldMatch = msm))
      val c = run(new WandScorer(r, postingsPerChunk = 1L))
      assert(c == run(new WandScorer(u, postingsPerChunk = 1L)),
        s"cached and uncached WAND disagree on $ts (msm $msm)")
      assert(c == run(new WandScorer(r)) && c == run(new WandScorer(u)),
        s"the full grid and the default grid disagree on $ts (msm $msm)")
      c
    }
    // msm = 2 over a duplicated clause
    val dup = agree(reader, uncached, Seq("merge", "merge", "spark"), 10, msm = 2)
    assert(dup.nonEmpty)
    assert(dup.map(_._1) == oracle.topK(BoolQ(Seq((Occur.Should, TermQ("merge")),
      (Occur.Should, TermQ("merge")), (Occur.Should, TermQ("spark"))),
      minShouldMatch = 2), 10).map(_._1))

    // the other two cases on an index of their own, since it gets
    // tombstoned: a rare term's one block spans the whole doc space
    val d1 = SparkSuite.tmpDir("graft-index-tomb")
    IndexBuilder.build(spark, CorpusGen.generate(spark, 800, seed = 42L, parts = 8)
      .toDF(), d1, cfg)
    def readers(): (IndexReader, IndexReader) = (IndexReader(spark, d1, cfg),
      new IndexReader(spark, d1, cfg.numBuckets, cacheData = false))
    def spec(r: IndexReader, ts: Seq[String], k: Int): Seq[(Long, Int)] =
      bits(new JoinScorer(r).topK(BoolQ(ts.map(t => (Occur.Should, TermQ(t)))), k))
    val (r1, u1) = readers()

    // a rare term with ONE block whose span covers every chunk of the
    // full grid, and with docs in every chunk: each chunk task must keep
    // that block, or its docs go missing
    val ppc = WandScorer.partsPerChunk(r1.numDocPartsHint,
      spark.sparkContext.defaultParallelism, Long.MaxValue, WandScorer.PostingsPerChunk)
    val numChunks = (r1.numDocPartsHint + ppc - 1) / ppc
    assert(numChunks > 1)
    def chunkOf(docId: Long): Int = Ids.docPart(docId) / ppc
    val rare = r1.termStatsDf.where($"df" >= numChunks && $"df" <= 64)
      .orderBy($"term").as[TermStats].collect().iterator.find { t =>
        val bs = r1.blockRdd(Seq(t.term)).collect()
        bs.length == 1 && WandScorer.chunksOf(bs.head.firstDoc, bs.head.lastDoc,
          ppc).size == numChunks &&
          PostingsCodec.decode(bs.head).map(p => chunkOf(p.docId)).distinct.length ==
            numChunks
      }.get
    assert(WandScorer.partsPerChunk(r1.numDocPartsHint,
      spark.sparkContext.defaultParallelism, rare.df, 1L) == ppc)
    val all = agree(r1, u1, Seq(rare.term), rare.df.toInt)
    assert(all.size == rare.df)
    assert(all.map(d => chunkOf(d._1)).distinct.size == numChunks)
    assert(all == spec(r1, Seq(rare.term), rare.df.toInt))

    // a top hit tombstoned: it leaves both readers' answers, and the rest
    // keep their scores (statistics count deleted docs until compaction)
    val ts = Seq("import", "spark")
    val before = agree(r1, u1, ts, 11)
    IndexBuilder.deleteDocs(spark, d1, Seq(before.head._1).toDF("docId"))
    val (r2, u2) = readers()
    val live = agree(r2, u2, ts, 10)
    assert(live == before.tail)
    assert(live == spec(r2, ts, 10))
  }

  test("a spread block fetch returns the same blocks over " +
    "defaultParallelism tasks") {
    def ids(r: org.apache.spark.rdd.RDD[graft.codec.PostingBlock]) =
      r.map(b => (b.term, b.firstDoc, b.lastDoc)).collect().toSeq.sorted
    val one = reader.blockRdd(Seq("import"))
    val spread = reader.blockRdd(Seq("import"), postingsPerTask = 1L)
    assert(one.getNumPartitions == 1)
    assert(spread.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(ids(one).size > spread.getNumPartitions)
    assert(ids(spread) == ids(one))
    assert(spread.mapPartitions(it => Iterator(it.size)).collect().forall(_ > 0))
    // an 800-doc index has no term with enough postings to spread
    assert(reader.blockRdd(Seq("import"), SearchReader.SpreadPostings)
      .getNumPartitions == 1)
  }

  test("query parser: classic subset") {
    val q = QueryParser.parse("+import -void \"data set\" spark print*")
    val occurs = q.clauses.map(_._1)
    assert(occurs.head == Occur.Must && occurs(1) == Occur.MustNot)
    assert(q.clauses(2)._2.isInstanceOf[PhraseQ])
    assert(q.clauses(3)._2 == TermQ("spark"))
    assert(q.clauses(4)._2 == PrefixQ("print"))
    val and = QueryParser.parse("import AND spark")
    assert(and.clauses.forall(_._1 == Occur.Must))
  }
}
