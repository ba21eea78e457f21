package graft.analysis

/** The analyzer registry: every index-time analysis chain by name (the
  * role of the reference's per-language `Analyzer.createComponents`,
  * standard/StandardAnalyzer.java:87-113, en/EnglishAnalyzer.java:101-116,
  * and Solr's analyzer names in schema.xml). `IndexConfig.analyzer` is
  * validated against [[names]] and resolved by [[chain]], once per
  * build. */
object Analyzers {

  /** One resolved chain: (doc lang, text) => (terms, positions). Only the
    * "standard" chain reads `lang` (its stop set is per-row). */
  type Chain = (String, String) => (Array[String], Array[Int])

  /** A registered chain, given noStops. Synonym rule compilation runs
    * the chain WITHOUT stops: the reference's SynonymMap.Builder analyzes
    * rule text with the index analyzer, and rules match pre-StopFilter in
    * the canonical chain order. Tokens are capped at
    * StandardTokenizer.DefaultMaxTokenLength. */
  private type Factory = Boolean => Chain

  private def stops(noStops: Boolean, set: => Set[String]): Set[String] =
    if (noStops) Set.empty else set

  /** name -> factory, in the order [[names]] lists them. */
  private val registry: Seq[(String, Factory)] = Seq[(String, Factory)](
    "standard" -> { noStops => (lang, text) =>
      Analyzer.analyzeFlat(text, stops(noStops, StopSets.forLang(lang)))
    },
    "english" -> english(PorterStemmer.stem),
    "cjk" -> { _ => (_, text) => Analyzer.analyzeCjkFlat(text, Set.empty) },
    // EnglishAnalyzer shape with KStemFilter (Solr KStemFilterFactory)
    // instead of PorterStemFilter
    "kstem" -> english(KStem.stem),
    // dictionary BreakIterator segmentation (th has no word delimiters;
    // reference th/ThaiAnalyzer.java:101)
    "thai" -> segmenting(StopSets.forLang("th"), Thai.analyzeFlat),
    // lexicon-DP Chinese word segmentation (reference
    // smartcn/SmartChineseAnalyzer.java chain)
    "smartcn" -> segmenting(SmartChinese.stopSet, SmartChinese.analyzeFlat),
    // lexicon-DP Japanese word segmentation over the kuromoji FST surface
    // lexicon (reference ja/JapaneseAnalyzer chain minus the cost-table
    // stages — see analysis/Japanese)
    "japanese" -> segmenting(Japanese.stopSet, Japanese.analyzeFlat(_, _))
  ) ++ LightStemmers.byName.keys.toSeq.sorted.map(n => n -> light(n))

  private val byName: Map[String, Factory] = registry.toMap

  /** Every analyzer name, in the order error messages list them. */
  val names: Seq[String] = registry.map(_._1)

  /** Fails with the full name list unless `name` is registered. */
  def check(name: String): Unit =
    require(byName.contains(name),
      s"unknown analyzer '$name' (${names.mkString(" | ")})")

  /** The chain registered as `name`, resolved once: its stop set and
    * transforms are fixed here, not per document. */
  def chain(name: String, noStops: Boolean = false): Chain = {
    check(name)
    byName(name)(noStops)
  }

  /** A segmenting analyzer's chain: `analyze(text, stops)` under its own
    * stop set. */
  private def segmenting(
      stopSet: => Set[String],
      analyze: (String, Set[String]) => (Array[String], Array[Int])): Factory = {
    noStops =>
      val s = stops(noStops, stopSet)
      (_, text) => analyze(text, s)
  }

  /** EnglishAnalyzer chain (en/EnglishAnalyzer.java:101-116):
    * EnglishPossessiveFilter -> LowerCaseFilter -> StopFilter(en) ->
    * `stem`. */
  private def english(stem: String => String): Factory = { noStops =>
    val s = stops(noStops, StopSets.forLang("en"))
    (_, text) => Analyzer.analyzeLightFlat(text, s, stem,
      pre = Analyzer.stripPossessive)
  }

  /** A [[LightStemmers.byName]] chain: its language's stop set and
    * stemmer. The fr/it/ca chains run ElisionFilter before lowercase, like
    * the reference analyzers (no-op on apostrophe-free corpora); the ga
    * chain adds IrishLowerCaseFilter and the HYPHENATIONS {h,n,t}
    * stray-token stop set (ga/IrishAnalyzer.java:142-150). */
  private def light(name: String): Factory = { noStops =>
    val (iso, stem) = LightStemmers.byName(name)
    val pre: String => String = name match {
      case "french" => MiscFilters.elision(_, MiscFilters.FrenchArticles)
      case "italian" => MiscFilters.elision(_, MiscFilters.ItalianArticles)
      case "catalan" => MiscFilters.elision(_, MiscFilters.CatalanArticles)
      case "irish" => t => MiscFilters.irishLowerCase(
        MiscFilters.elision(t, MiscFilters.IrishArticles))
      case _ => identity
    }
    val s = stops(noStops, StopSets.forLang(iso) ++
      (if (name == "irish") Set("h", "n", "t") else Set.empty[String]))
    (_, text) => Analyzer.analyzeLightFlat(text, s, stem, pre = pre)
  }
}
