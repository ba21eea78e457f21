package graft

import scala.collection.immutable.ListMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.codec.SmallFloat
import graft.index._
import graft.analysis.Analyzer
import graft.operators.{Ann, AtomicUpdate, Classify, Dedup, Geo, Multimodal, Stats, SuggestLookups, TextAnalysis, UpdateChain}
import graft.search._

/** Driver contract (see SURVEY.md §7 + the builder prompt): `queries` maps
  * operator names to DataFrame builders over the driver's parquet tables;
  * `oracleSql` gives the DuckDB-checkable equivalent of each.
  *
  * Full-text queries run against an inverted index built once per sfDir
  * (cached) over the `documents` table with a MONOTONE docPart
  * (doc_id / 64), so internal docIds are order-isomorphic to doc_id and
  * every tie-break is reproducible by `ORDER BY score DESC, doc_id` in the
  * SQL oracle (reference tie semantics: search/HitQueue.java:76-81).
  */
object SparkEntry {

  // ================= fulltext index (built once per sfDir) =================

  /** Docs per docPart: small enough to exercise multi-part merge at test
    * scale; at cluster scale this would be sized to ~segment RAM. */
  final val DocsPerPart = 64

  /** One IndexConfig change to the corpus index: a fixture variant that
    * [[reader]] builds once per sfDir, memoized by `name`. */
  final case class Variant(name: String, change: IndexConfig => IndexConfig)

  object Variant {
    val Default = Variant("ft", identity)
    /** A language analysis chain: "english" is the EnglishAnalyzer chain
      * (possessive strip, English stop set, Porter stem — the ft_stemmed
      * surface); the others are per-language light-stem chains (reference
      * de/GermanAnalyzer.java etc.: lang stop set + UniNE light stemmer). */
    def analyzer(name: String): Variant = Variant(name, _.copy(analyzer = name))
    /** Index-time synonym rules (reference synonym/SynonymFilter.java,
      * keepOrig): "fast"->"quick" (single) and "hash agg"->"hashagg"
      * (multi-token LHS collapse). Injected tokens sit at the match-start
      * position, so phrases match through them. */
    val Synonyms = Variant("syn", _.copy(synonyms = Seq(
      "fast" -> Seq("quick"), "hash agg" -> Seq("hashagg"))))
    /** Compound decomposition (reference compound/
      * DictionaryCompoundWordTokenFilter.java): dictionary {"wind"}, so
      * "window" also indexes the subword "wind" at its position. */
    val Compound = Variant("comp", _.copy(compoundDict = Seq("wind")))
    /** The reversed-token "rev:" field indexed — the leading-wildcard
      * surface (ReversedWildcardFilterFactory analog). */
    val Reversed = Variant("rev", _.copy(reverseTokens = true))
  }

  private val readers =
    new scala.collection.concurrent.TrieMap[(String, String), IndexReader]

  private val tmpDirs = new java.util.concurrent.ConcurrentLinkedQueue[String]
  Runtime.getRuntime.addShutdownHook(new Thread(() => tmpDirs.forEach(d =>
    try IndexBuilder.deleteRecursively(java.nio.file.Paths.get(d))
    catch { case _: java.io.IOException => })))

  /** A fresh temp dir, deleted with everything in it when the JVM exits:
    * every fixture index of this object lives in one. */
  def tmpDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    tmpDirs.add(d)
    d
  }

  def ftConfig(nParts: Int): IndexConfig = IndexConfig(
    numDocParts = nParts, numBuckets = 16,
    hotDfThreshold = 300L, saltShift = 16, shufflePartitions = 32)

  /** documents -> input_hint shape, with the monotone docPart column.
    * repo must be CONSTANT here: the engine's canonical doc order is
    * (repo, path, commit) within a docPart, so doc_id-order-isomorphic
    * internal ids (which the SQL oracle's tie-breaks rely on) need the
    * sort to reduce to the zero-padded-doc_id path. */
  private val maxDocIds = new scala.collection.concurrent.TrieMap[String, Long]

  /** max(doc_id) of a corpus, memoized: every index-build variant needs it
    * to size numDocParts, and it never changes for a given snapshot dir —
    * one job instead of one per build. */
  def maxDocId(spark: SparkSession, sfDir: String): Long =
    maxDocIds.getOrElseUpdate(sfDir,
      spark.read.parquet(s"$sfDir/documents.parquet")
        .agg(max("doc_id")).head().getLong(0))

  def docsAsInput(docs: DataFrame): DataFrame =
    docs.select(
      (col("doc_id") / DocsPerPart).cast("int").as("docPart"),
      lit("corpus").as("repo"),
      lpad(col("doc_id").cast("string"), 9, "0").as("path"),
      md5(col("text")).as("commit"),
      col("lang"),
      col("text").as("content"))

  /** The corpus index under `variant`, built once per (sfDir, variant). */
  def reader(spark: SparkSession, sfDir: String,
             variant: Variant = Variant.Default): IndexReader =
    readers.getOrElseUpdate((sfDir, variant.name), {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val maxId = maxDocId(spark, sfDir)
      val cfg = variant.change(ftConfig((maxId / DocsPerPart + 1).toInt))
      val dir = tmpDir(s"graft-${variant.name}")
      IndexBuilder.build(spark, docsAsInput(docs), dir, cfg)
      IndexReader(spark, dir, cfg)
    })

  private val sortedDocsDirs =
    new scala.collection.concurrent.TrieMap[String, String]

  /** Index-time sort (lucene/misc/SortingMergePolicy.java): materialize
    * the corpus once as range-partitioned segments each stored in
    * (n_chars desc, doc_id) order, so sorted top-k queries can
    * early-terminate per segment (EarlyTerminatingSortingCollector)
    * instead of sorting at query time. */
  def sortedDocsDir(s: SparkSession, sfDir: String): String =
    sortedDocsDirs.getOrElseUpdate(sfDir, {
      val dir = tmpDir("graft-sorted")
      s.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "n_chars")
        .repartitionByRange(4, col("n_chars").desc, col("doc_id"))
        .sortWithinPartitions(col("n_chars").desc, col("doc_id"))
        .write.mode("overwrite").parquet(dir)
      dir
    })

  /** Early-terminated sorted top-k over pre-sorted segments written by
    * [[sortedDocsDir]] (EarlyTerminatingSortingCollector): per-PARTITION
    * take(k), not limit(k) — if a big segment file splits into several
    * read partitions, each partition is a contiguous (hence sorted)
    * slice, so its first k rows are its top-k and the union still covers
    * the global top-k; a bare GlobalLimit could instead keep k rows from
    * a tail slice. take(k) stops consuming the iterator after k rows —
    * the early-termination primitive. Final merge is k·segments rows. */
  def sortedEarlyTopK(s: SparkSession, segDir: String, k: Int): DataFrame = {
    import s.implicits._
    val parts = new java.io.File(segDir).listFiles()
      .filter(_.getName.startsWith("part-")).map(_.getPath).sorted
    parts.map { p =>
      s.read.parquet(p).select(col("doc_id"), col("n_chars"))
        .as[(Long, Long)].mapPartitions(_.take(k))
        .toDF("doc_id", "n_chars")
    }.reduce(_ unionByName _)
      .orderBy(col("n_chars").desc, col("doc_id")).limit(k)
  }

  private val minhashPairsCache =
    new scala.collection.concurrent.TrieMap[String, DataFrame]

  /** MinHash-LSH verified near-dup pairs materialized once per corpus
    * (same materialize-per-snapshot posture as the IVF assignments):
    * dedup_minhash reports them, dedup_clusters consumes them. */
  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    minhashPairsCache.getOrElseUpdate(dir,
      Dedup.minhashLsh(s.read.parquet(s"$dir/documents.parquet"), 3, 0.2)
        .cache())

  private val ivfIndexes =
    new scala.collection.concurrent.TrieMap[String, (DataFrame, DataFrame)]

  /** Materialized IVF index per corpus: k-means centroids (2 Lloyd rounds,
    * 8 clusters) + the cached vector->cluster assignment, shared by every
    * ANN / near-dup query instead of recomputed per query. */
  def ivfIndex(s: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    ivfIndexes.getOrElseUpdate(sfDir, {
      val emb = s.read.parquet(s"$sfDir/embeddings.parquet")
      val cents = Ann.kmeansCentroids(emb, 8, 2).cache()
      val asg = Ann.ivfAssignTo(emb, cents).cache()
      (cents, asg)
    })

  private val maxAbsStats = new scala.collection.concurrent.TrieMap[String, Double]

  /** Int8 quantization scale, memoized per corpus (a stored corpus stat
    * beside the IVF centroids/assignments). */
  private def int8MaxAbs(s: SparkSession, sfDir: String): Double =
    maxAbsStats.getOrElseUpdate(sfDir,
      Ann.corpusMaxAbs(s.read.parquet(s"$sfDir/embeddings.parquet")))

  /** Deterministic LatLonType point columns over `customer` — the spatial
    * queries' corpus. Integer-exact derivation (long mod then one double
    * divide), so the engine and the DuckDB oracle compute bit-identical
    * coordinates from the same parquet column. */
  private def geoCustomers(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/customer.parquet")
      .withColumn("lat", (col("c_custkey") * 7919 % 18000) / lit(100.0) - 90.0)
      .withColumn("lon", (col("c_custkey") * 104729 % 36000) / lit(100.0) - 180.0)

  /** Build several language indexes CONCURRENTLY: the builds are
    * independent jobs, so they are submitted from parallel driver threads
    * and Spark's scheduler overlaps their stages — exactly how a cluster
    * runs independent per-language index builds side by side. Serializing
    * them leaves most executors idle during each build's small stages. */
  def langReaders(spark: SparkSession, sfDir: String,
                  analyzers: Seq[String]): Seq[IndexReader] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, analyzers.size))
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(analyzers.map(a =>
        scala.concurrent.Future(reader(spark, sfDir, Variant.analyzer(a))))),
      scala.concurrent.duration.Duration.Inf)
    finally pool.shutdown()
  }

  /** (doc_id, tf) of a term set's postings (tf summed per doc) — the
    * shared shape of the ft_stemmed_* / ft_phonetic oracle queries. */
  private def termsTf(s: SparkSession, r: IndexReader,
                      terms: Seq[String]): DataFrame = {
    import s.implicits._
    r.blocks(terms)
      .flatMap { b =>
        val (docs, tfs, _) = graft.codec.PostingsCodec.decodeDocs(b)
        docs.indices.iterator.map(i => (docs(i), tfs(i).toLong))
      }.toDF("docId", "tf")
      .groupBy("docId").agg(sum("tf").as("tf"))
      .join(idMap(r), "docId").select("doc_id", "tf").orderBy("doc_id")
  }

  private def stemTf(s: SparkSession, r: IndexReader, stem: String): DataFrame =
    termsTf(s, r, Seq(stem))

  private val delReaders =
    new scala.collection.concurrent.TrieMap[String, (IndexReader, IndexReader)]

  /** Same corpus with every 'dup'-containing doc tombstoned: (reader over
    * the deleted-but-not-compacted index, reader over its compaction).
    * Pre-compaction stats still count the deleted docs; the compacted
    * index recomputes them over survivors (reference merge semantics). */
  def deletedReaders(spark: SparkSession, sfDir: String): (IndexReader, IndexReader) =
    delReaders.getOrElseUpdate(sfDir, {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val maxId = maxDocId(spark, sfDir)
      val cfg = ftConfig((maxId / DocsPerPart + 1).toInt)
      val dir = tmpDir("graft-del")
      IndexBuilder.build(spark, docsAsInput(docs), dir, cfg)
      IndexBuilder.deleteByQuery(spark, dir, cfg,
        BoolQ(Seq((Occur.Must, TermQ("dup")))))
      val cdir = tmpDir("graft-cpt")
      IndexBuilder.compact(spark, dir, cdir, cfg)
      (IndexReader(spark, dir, cfg), IndexReader(spark, cdir, cfg))
    })

  private val updReaders =
    new scala.collection.concurrent.TrieMap[String, (MultiIndexReader, IndexReader)]

  /** Corpus with every 'vector'-containing doc atomically UPDATED (text
    * rewrite vector -> vectorized) under its unchanged unique key
    * (repo, path): (NRT view pre-compaction — old versions tombstoned but
    * still counted in stats, new versions live in a delta — , compacted
    * index where only the rewritten corpus remains). */
  def updatedReaders(spark: SparkSession, sfDir: String): (MultiIndexReader, IndexReader) =
    updReaders.getOrElseUpdate(sfDir, {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val maxId = maxDocId(spark, sfDir)
      // fresh docParts for the new versions: shift past the base grid
      val off = (maxId / DocsPerPart + 1) * DocsPerPart
      val cfg = ftConfig((2 * off / DocsPerPart).toInt)
      val dir = tmpDir("graft-upd")
      IndexBuilder.build(spark, docsAsInput(docs), dir, cfg)
      val upd = docs.where(col("text").contains("vector"))
        .withColumn("text", regexp_replace(col("text"), "vector", "vectorized"))
      val updInput = upd.select(
        ((col("doc_id") + off) / DocsPerPart).cast("int").as("docPart"),
        lit("corpus").as("repo"),
        lpad(col("doc_id").cast("string"), 9, "0").as("path"),
        md5(col("text")).as("commit"),
        col("lang"),
        col("text").as("content"))
      IndexBuilder.updateDocs(spark, dir, updInput, cfg)
      val cdir = tmpDir("graft-updc")
      IndexBuilder.compact(spark, dir, cdir, cfg)
      (MultiIndexReader.open(spark, dir, cfg.numBuckets, cacheData = false),
        IndexReader(spark, cdir, cfg))
    })

  /** Memoized dih_delta result frame (the query builds a real index +
    * delta on first call; later calls reuse the session's plan). */
  private val dihDeltaFrames =
    new scala.collection.concurrent.TrieMap[String, DataFrame]

  private val tierTimes =
    new scala.collection.concurrent.TrieMap[String, (Double, Double)]

  /** Tiered-compaction cost fixture (TieredMergePolicy posture, reference
    * index/TieredMergePolicy.java:75-86): a quarter-corpus base + 12
    * small NRT appends, then ONE partial compactTiered — merges only the
    * overfull small tier, base untouched — timed against a FULL
    * compact() rewrite of the same collection. Returns
    * (partialSec, fullSec); the bench emits both as ft_tiered_partial /
    * ft_tiered_full so the report shows partial-merge cost << full
    * rewrite. */
  def tieredCompactTimes(spark: SparkSession, sfDir: String): (Double, Double) =
    tierTimes.getOrElseUpdate(sfDir, {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      // big cold base, tiny hot tier: partial cost must track the MERGED
      // TIER's size while the full rewrite tracks the whole collection
      // (half corpus: the full-corpus variant doubles fixture cost for
      // the same partial-vs-full contrast at bench scale)
      val base = docs.where(col("doc_id") % 2 === 0)
      val maxId = maxDocId(spark, sfDir)
      val baseParts = (maxId / DocsPerPart + 1).toInt
      val cfg = ftConfig(baseParts + 12)
      val dir = tmpDir("graft-tier")
      IndexBuilder.build(spark, docsAsInput(base), dir, cfg)
      (0 until 12).foreach { k =>
        val slice = docs.where(col("doc_id") % 2048 === k * 4 + 1)
        val in = docsAsInput(slice)
          .withColumn("docPart", lit(baseParts + k))
        IndexBuilder.append(spark, in, dir,
          IndexBuilder.nextDeltaId(dir), cfg)
      }
      def sec(body: => Any): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      val tPartial = sec {
        require(IndexBuilder.compactTiered(spark, dir, cfg).isDefined,
          "tiered fixture must trigger a merge")
      }
      val cdir = tmpDir("graft-tierc")
      val tFull = sec(IndexBuilder.compact(spark, dir, cdir, cfg))
      (tPartial, tFull)
    })

  private val nrtReaders = new scala.collection.concurrent.TrieMap[String, MultiIndexReader]

  /** Same corpus as [[reader]] but ingested as base + 2 appended deltas
    * (split at doc_id thirds, rounded to DocsPerPart): the docPart ranges
    * stay disjoint AND monotone in doc_id, so the union's internal docIds
    * remain order-isomorphic to doc_id and the SQL oracle's tie-breaks
    * hold. */
  def nrtReader(spark: SparkSession, sfDir: String): MultiIndexReader =
    nrtReaders.getOrElseUpdate(sfDir, {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val maxId = maxDocId(spark, sfDir)
      val cut1 = ((maxId + 1) / 3 / DocsPerPart).max(1) * DocsPerPart
      val cut2 = 2 * cut1
      val nParts = (maxId / DocsPerPart + 1).toInt
      val cfg = ftConfig(nParts)
      val dir = tmpDir("graft-nrt")
      IndexBuilder.build(spark,
        docsAsInput(docs.where(col("doc_id") < cut1)), dir, cfg)
      IndexBuilder.append(spark,
        docsAsInput(docs.where(col("doc_id") >= cut1 && col("doc_id") < cut2)),
        dir, 0L, cfg)
      IndexBuilder.append(spark,
        docsAsInput(docs.where(col("doc_id") >= cut2)), dir, 1L, cfg)
      MultiIndexReader.open(spark, dir, cfg.numBuckets)
    })

  /** internal docId -> source doc_id (path is the zero-padded doc_id). */
  private def idMap(r: SearchReader): DataFrame =
    r.docmeta.toDF().select(col("docId"), col("path").cast("long").as("doc_id"))

  /**

 Boolean-query doc set, as sorted doc_ids. */
  private def matchedDocs(spark: SparkSession, sfDir: String, q: BoolQ): DataFrame = {
    val r = reader(spark, sfDir)
    new JoinScorer(r).scores(q).toDF("docId", "score")
      .join(idMap(r), "docId").select("doc_id").orderBy("doc_id")
  }

  /** Top-k of a BoolQ as (rank, doc_id) — rank by (score desc, doc_id). */
  private def rankedTopK(spark: SparkSession, sfDir: String, q: BoolQ,
                         k: Int): DataFrame = {
    val r = reader(spark, sfDir)
    new JoinScorer(r).topK(q, k).join(idMap(r), "docId")
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
      .select("rank", "doc_id").orderBy("rank")
  }

  private def should(ts: String*): BoolQ =
    BoolQ(ts.map(t => (Occur.Should: Occur, TermQ(t): Query)))
  private def must(ts: String*): BoolQ =
    BoolQ(ts.map(t => (Occur.Must: Occur, TermQ(t): Query)))

  // ================= driver contract =================

  /** Flagship: end-to-end index build + BM25 top-10 on sf0.001, hits joined
    * back to the source table (the stored-fields join). */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    val r = reader(spark, sfDir)
    val hits = new JoinScorer(r).topK(should("spark", "merge", "window"), 10)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    hits.join(idMap(r), "docId")
      .join(docs, "doc_id")
      .select(col("doc_id"), col("score"), col("lang"), col("source"),
        substring(col("text"), 1, 40).as("snippet"))
      .orderBy(col("score").desc, col("doc_id"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = ListMap(

    // ---------- full-text: postings / boolean / positional ----------
    "ft_term_postings" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      r.blocks(Seq("spark"))
        .flatMap { b =>
          val (docs, tfs, _) = graft.codec.PostingsCodec.decodeDocs(b)
          docs.indices.iterator.map(i => (docs(i), tfs(i).toLong))
        }.toDF("docId", "tf")
        .join(idMap(r), "docId").select("doc_id", "tf").orderBy("doc_id")
    }),

    /** Positions codec exposed directly: decoded per-doc position lists
      * for one term (the .pos file analog; stopword gaps visible). */
    "ft_positions" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      r.blocks(Seq("window"))
        .flatMap { b =>
          graft.codec.PostingsCodec.decode(b).iterator
            .map(p => (p.docId, p.positions.mkString(",")))
        }.toDF("docId", "pos_list")
        .join(idMap(r), "docId").select("doc_id", "pos_list")
        .orderBy("doc_id")
    }),

    "ft_bool_and_not" -> ((s, dir) => matchedDocs(s, dir, BoolQ(Seq(
      (Occur.Must, TermQ("spark")), (Occur.Must, TermQ("vector")),
      (Occur.MustNot, TermQ("dup")))))),

    /** XML query parser (lucene/queryparser/.../xml/CoreParser.java +
      * builders/): the XML syntax parses into the engine's Query AST and
      * evaluates identically to the hand-built tree — here a BooleanQuery
      * of TermsQuery / TermQuery / SpanNear clauses. t:XmlQuerySpec holds
      * the reference .xml test-file tree assertions. */
    "ft_xmlquery" -> ((s, dir) => {
      val xml =
        """<BooleanQuery fieldName="contents">
          |  <Clause occurs="must"><TermsQuery>spark stream</TermsQuery></Clause>
          |  <Clause occurs="mustnot"><TermQuery>dup</TermQuery></Clause>
          |  <Clause occurs="filter">
          |    <SpanNear slop="2" inOrder="true">
          |      <SpanTerm>merge</SpanTerm><SpanTerm>sort</SpanTerm>
          |    </SpanNear>
          |  </Clause>
          |</BooleanQuery>""".stripMargin
      matchedDocs(s, dir, graft.search.XmlQuery.parseQuery(xml).asInstanceOf[BoolQ])
    }),

    "ft_bool_or_msm2" -> ((s, dir) => matchedDocs(s, dir, BoolQ(Seq(
      (Occur.Should, TermQ("merge")), (Occur.Should, TermQ("window")),
      (Occur.Should, TermQ("stream"))), minShouldMatch = 2))),

    /** Solr mm= spec language (SolrPluginUtils.calculateMinShouldMatch,
      * solr/.../util/SolrPluginUtils.java:617-654): 4 optional clauses
      * under "3<-25%" -> 4 > 3 -> all-but-25% -> msm 3. */
    "ft_mm_spec" -> ((s, dir) => {
      val terms = Seq("merge", "window", "stream", "vector")
      val msm = graft.search.MinShouldMatch.forClauses(terms.length, "3<-25%")
      matchedDocs(s, dir, BoolQ(
        terms.map(t => (Occur.Should, TermQ(t): graft.search.Query)),
        minShouldMatch = msm))
    }),

    "ft_phrase" -> ((s, dir) => matchedDocs(s, dir, BoolQ(Seq(
      (Occur.Must, PhraseQ(Seq("stream", "table", "hash"), Seq(0, 1, 2))))))),

    "ft_phrase_sloppy" -> ((s, dir) => matchedDocs(s, dir, BoolQ(Seq(
      (Occur.Must, SloppyPhraseQ(Seq("spark", "vector"), Seq(0, 1), 1)))))),

    /** n-term sloppy phrase (search/SloppyPhraseScorer.java via
      * SloppyMatch): doc matches iff some one-occurrence-per-slot window
      * has adjusted spread <= slop — SQL-expressible as a
      * greatest-least join over the three position lists. */
    "ft_phrase_sloppy3" -> ((s, dir) => matchedDocs(s, dir, BoolQ(Seq(
      (Occur.Must, SloppyPhraseQ(Seq("stream", "table", "hash"),
        Seq(0, 1, 2), 3)))))),

    /** SimpleQueryParser end-to-end (queryparser/simple/SimpleQueryParser
      * .java:99): "spark+(vector|window) -dup" with default operator AND
      * parses to a NESTED boolean — MUST(spark, SHOULD(vector, window),
      * (MUST_NOT dup, SHOULD MatchAll)) — evaluated by the recursive
      * scores() tree combiner. */
    "ft_simpleq" -> ((s, dir) => matchedDocs(s, dir,
      graft.search.SimpleParser.parse("spark+(vector|window) -dup",
        defaultOperator = Occur.Must).asInstanceOf[BoolQ])),

    "ft_regexp" -> ((s, dir) => matchedDocs(s, dir,
      BoolQ(Seq((Occur.Should, RegexpQ("s[pt][a-z]*m")))))),

    "ft_span_near" -> ((s, dir) => matchedDocs(s, dir, BoolQ(Seq(
      (Occur.Must, SpanNearQ(Seq("table", "scan"), 2)))))),

    /** Unordered span-near (NearSpansUnordered): scan & table within a
      * window of width <= 2 + slop, any order. */
    "ft_span_unordered" -> ((s, dir) => matchedDocs(s, dir, BoolQ(Seq(
      (Occur.Must, SpanNearQ(Seq("scan", "table"), 2, inOrder = false)))))),

    /** Span disjunction (SpanOrQuery): any of the clause terms. */
    "ft_span_or" -> ((s, dir) => matchedDocs(s, dir, BoolQ(Seq(
      (Occur.Must, SpanOrQ(Seq("merge", "stream"))))))),

    /** Span-first (SpanFirstQuery / SpanPositionRangeQuery start=0):
      * docs whose 'batch' occurs within the first 2 positions. */
    "ft_span_first" -> ((s, dir) => matchedDocs(s, dir, BoolQ(Seq(
      (Occur.Must, SpanFirstQ("batch", 2)))))),

    /** SpanPositionRangeQuery (the general [start, end) window; SpanFirst
      * is start=0): docs whose 'batch' occurs at a position in [2, 6). */
    "ft_span_posrange" -> ((s, dir) => matchedDocs(s, dir, BoolQ(Seq(
      (Occur.Must, SpanPositionRangeQ("batch", 2, 6)))))),

    /** FieldMaskingSpanQuery (spans/FieldMaskingSpanQuery.java:33-70): a
      * span from one field composed inside a span-near on another —
      * legal exactly when the fields are position-parallel, which the
      * "rev:" field is by construction (it shares the content field's
      * position arrays). Here the ordered phrase batch->merge reads its
      * second leg through the masked reversed field: rev:egrem's spans
      * ARE merge's spans, so the result equals the plain phrase. The
      * engine's per-field term spaces make the mask a free composition
      * (no field-equality check to defeat). */
    "ft_span_fieldmask" -> ((s, dir) => {
      val r = reader(s, dir, Variant.Reversed)
      new JoinScorer(r).scores(BoolQ(Seq(
        (Occur.Must, SpanNearMultiQ(
          Seq(TermQ("batch"), TermQ("rev:" + "merge".reverse)),
          slop = 0, inOrder = true)))))
        .toDF("docId", "score")
        .join(idMap(r), "docId").select("doc_id").orderBy("doc_id")
    }),

    /** CommonTermsQuery (reference queries/CommonTermsQuery.java): terms
      * with df > maxDoc/2 demote to SHOULD, rare terms stay MUST — the
      * stopword-free way to keep high-frequency terms from dominating
      * both match set and cost. Here 'table'/'scan' are common, 'dup' is
      * rare, so the query is dup AND (table OR scan) with all three
      * scored. */
    "ft_common_terms" -> ((s, dir) => {
      val r = reader(s, dir)
      val terms = Seq("table", "dup", "scan")
      val cutoff = r.collStats.maxDoc / 2
      val stats = r.termStats(terms)
      val clauses: Seq[(Occur, Query)] = terms.map { t =>
        val df = stats.get(t).map(_.df).getOrElse(0L)
        ((if (df > cutoff) Occur.Should else Occur.Must): Occur,
          TermQ(t): Query)
      }
      new JoinScorer(r).topK(BoolQ(clauses), 15)
        .join(idMap(r), "docId")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** Query-time synonym expansion (SynonymFilter analog): 'query' with
      * synonym 'scan' matches docs containing either. */
    "ft_synonym" -> ((s, dir) => matchedDocs(s, dir,
      QueryParser.parse("query", synonyms = Map("query" -> Seq("scan"))))),

    /** ASCII folding on the query path (ASCIIFoldingFilter analog):
      * accented query terms match the unaccented corpus. */
    "ft_folded" -> ((s, dir) => matchedDocs(s, dir,
      QueryParser.parse("mérge tāble", foldAscii = true))),

    "ft_prefix" -> ((s, dir) => matchedDocs(s, dir,
      BoolQ(Seq((Occur.Should, PrefixQ("s")))))),

    "ft_wildcard" -> ((s, dir) => matchedDocs(s, dir,
      BoolQ(Seq((Occur.Should, WildcardQ("s?a*")))))),

    "ft_fuzzy" -> ((s, dir) => matchedDocs(s, dir,
      BoolQ(Seq((Occur.Should, FuzzyQ("merg", 1)))))),

    /** Leading wildcard on a reversed-token index
      * (ReversedWildcardFilterFactory): *er rewrites to a PREFIX scan of
      * the rev dictionary ("rev:re…"), never a full-vocabulary regex. */
    "ft_leading_wildcard" -> ((s, dir) => {
      val r = reader(s, dir, Variant.Reversed)
      new JoinScorer(r)
        .scores(BoolQ(Seq((Occur.Should, WildcardQ("*er")))))
        .toDF("docId", "score")
        .join(idMap(r), "docId")
        .select("doc_id").orderBy("doc_id")
    }),

    "ft_range_term" -> ((s, dir) => matchedDocs(s, dir,
      BoolQ(Seq((Occur.Should, RangeQ("query", "sort")))))),

    /** Spell-check (reference DirectSpellChecker / SpellCheckComponent):
      * candidate corrections for a misspelled term from the term
      * dictionary within maxEdits=2, ranked by edit distance, then df
      * desc (more popular corrections first), then term. */
    "spellcheck" -> ((s, dir) => {
      val r = reader(s, dir)
      r.termStatsDf.toDF()
        .where(!col("term").startsWith("path:") &&
          length(col("term")).between(lit(3), lit(7)) &&
          levenshtein(col("term"), lit("mrege")) <= 2)
        .select(col("term"),
          levenshtein(col("term"), lit("mrege")).cast("long").as("dist"),
          col("df"))
        .orderBy(col("dist"), col("df").desc, col("term"))
        .limit(5)
    }),

    /** Spell-check collation (SpellCheckComponent collate=true): best
      * correction per query term (dist asc, df desc), re-queried as a
      * conjunction to prove the collated query actually hits. Candidate
      * generation routes through the fuzzy path's LENGTH-BANDED
      * dictionary scan (SearchReader.fuzzyTerms) — never a raw
      * levenshtein over the whole vocabulary; a length band ±maxEdits is
      * lossless because edit distance bounds the length difference. */
    "spellcheck_collate" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      def lev(a: String, b: String): Int = {
        val d = Array.tabulate(b.length + 1)(identity)
        var i = 1
        while (i <= a.length) {
          var prev = d(0); d(0) = i
          var j = 1
          while (j <= b.length) {
            val t = d(j)
            d(j) = math.min(math.min(d(j) + 1, d(j - 1) + 1),
              prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
            prev = t
            j += 1
          }
          i += 1
        }
        d(b.length)
      }
      val corrected = Seq("mrege", "windoww").map { w =>
        val cands = r.fuzzyTerms(w, 2)
        if (cands.isEmpty) w
        else cands.map(ts => (lev(ts.term, w), -ts.df, ts.term))
          .sorted.head._3
      }
      val hits = new JoinScorer(r).scores(
        BoolQ(corrected.map(t => (Occur.Must: Occur, TermQ(t): Query)))).count()
      Seq((corrected.mkString(" "), hits)).toDF("collation", "hits")
    }),

    /** DirectSpellChecker (suggest/spell/DirectSpellChecker.java — what
      * DirectSolrSpellChecker runs): ed<=1 enumeration first, ed<=2
      * unioned only when the first pass under-fills numSug*maxInspections,
      * each pass top-inspections by internal LuceneLevenshtein similarity,
      * final order score desc / freq desc / term asc. Both misspellings
      * are absent from the corpus so SUGGEST_WHEN_NOT_IN_INDEX fires;
      * 'sorw' exercises the ed2-union path (its ed1 pass under-fills) and
      * the exact accuracy=0.5 boundary (slow: 1 - 2/4). */
    /** Classic n-gram SpellChecker (reference suggest/spell/
      * SpellChecker.java:69-585 — Solr's IndexBasedSpellChecker engine):
      * gram-overlap candidate draw over the term dictionary, Levenshtein
      * (1 - lev/max) re-rank with the 0.5 accuracy floor, one branch per
      * suggest mode plus the frequency-comparator variant. */
    "spellcheck_classic" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      val dict = r.termStatsDf.map(t => (t.term, t.df))
      import graft.search.NGramSpell
      def branch(qterm: String, mode: String,
                 out: Seq[graft.search.NGramSpell.SuggestWord]) =
        out.zipWithIndex.map { case (w, i) =>
          (qterm, mode, i.toLong + 1, w.string, w.score.toDouble, w.freq)
        }
      val rows =
        branch("mrege", "always", NGramSpell.suggest(s, dict, "mrege", 5)) ++
        branch("tabel", "more_popular", NGramSpell.suggest(s, dict, "tabel", 5,
          NGramSpell.MorePopular, restrictToUserField = true)) ++
        branch("query", "when_not_in_index", NGramSpell.suggest(s, dict, "query", 5,
          NGramSpell.WhenNotInIndex, restrictToUserField = true)) ++
        branch("vlaue", "freq_comparator", NGramSpell.suggest(s, dict, "vlaue", 5,
          NGramSpell.WhenNotInIndex, restrictToUserField = true, byFrequency = true))
      rows.toDF("qterm", "mode", "rank", "term", "score", "freq")
        .select(col("qterm"), col("mode"), col("rank"), col("term"),
          round(col("score"), 6).as("score"), col("freq"))
        .orderBy("qterm", "mode", "rank")
    }),

    /** Relevance-judgment quality benchmark (reference benchmark/quality/
      * QualityStats.java:28-233, TrecJudge): ranked run = per-term
      * postings ordered (tf desc, doc_id asc) top-20; judgments = docs
      * with tf >= 2. Emits per-query P@n / MRR / AvP / recall plus the
      * reference's good-queries-only average row. */
    "quality_eval" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      val terms = Seq("merge", "stream", "vector")
      val postings = r.blocks(terms).flatMap { b =>
        val (docs, tfs, _) = graft.codec.PostingsCodec.decodeDocs(b)
        docs.indices.iterator.map(i => (b.term, docs(i), tfs(i)))
      }.toDF("query_id", "docId", "tf")
      val named = postings.join(idMap(r), "docId")
        .select(col("query_id"), col("doc_id"), col("tf"))
      val w = Window.partitionBy("query_id")
        .orderBy(col("tf").desc, col("doc_id").asc)
      val run = named.withColumn("rank", row_number().over(w).cast("long"))
        .where(col("rank") <= 20)
        .select(col("query_id"), col("rank"), col("doc_id").as("doc_name"))
      val judgments = named.where(col("tf") >= 2)
        .select(col("query_id"), col("doc_id").as("doc_name"))
      val out = graft.operators.QualityEval.evaluate(run, judgments)
      val metricCols = out.columns.filter(_ != "query_id")
      out.select(col("query_id") +:
        metricCols.map(c => round(col(c), 6).as(c)): _*)
        .orderBy("query_id")
    }),

    "spellcheck_direct" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      Seq("mrege", "sorw").flatMap { q =>
        DirectSpell.suggestSimilar(r, q, 5)
          .map(w => (q, w.string, w.score.toDouble, w.freq))
      }.toDF("qterm", "term", "score", "freq")
        .select(col("qterm"), col("term"),
          round(col("score"), 6).as("score"), col("freq"))
    }),

    /** Stemmed search on an EnglishAnalyzer-chain index: the postings for
      * stem "custom" carry every doc containing "customer" (the only
      * corpus surface form in the family; Porter: m("custom")=2>1 so -er
      * drops). tf flows through the stemmed chain. */
    "ft_stemmed" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir, Variant.analyzer("english"))
      r.blocks(Seq("custom"))
        .flatMap { b =>
          val (docs, tfs, _) = graft.codec.PostingsCodec.decodeDocs(b)
          docs.indices.iterator.map(i => (docs(i), tfs(i).toLong))
        }.toDF("docId", "tf")
        .join(idMap(r), "docId").select("doc_id", "tf").orderBy("doc_id")
    }),

    // ---------- full-text: dictionary / stats / norms ----------
    "ft_termstats" -> ((s, dir) => {
      val r = reader(s, dir)
      r.termStatsDf.toDF().select(col("term"), col("df"), col("ttf"))
        .orderBy(col("df").desc, col("term")).limit(15)
    }),

    "ft_collstats" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      val nTerms = r.termStatsDf
        .where(!col("term").startsWith("path:")).count()
      Seq((r.collStats.maxDoc, r.collStats.sumTotalTermFreq, nTerms))
        .toDF("max_doc", "sum_ttf", "n_terms")
    }),

    /** Fielded search (classic `field:term` grammar): one content clause +
      * one path-field clause whose score uses the PATH field's df/avgdl/
      * norms (per-field stats — reference FieldInfos + per-field
      * CollectionStatistics). The path clause lifts exactly doc 123. */
    "ft_fielded" -> ((s, dir) => {
      val q = QueryParser.parse("spark path:000000123")
      rankedTopK(s, dir, q, 15)
    }),

    "ft_doclen_norms" -> ((s, dir) => {
      val r = reader(s, dir)
      val qdlUdf = udf((n: Byte) => SmallFloat.Bm25NormTable(n & 0xFF).toDouble)
      r.docmeta.toDF()
        .select(col("path").cast("long").as("doc_id"),
          col("dl").cast("long").as("dl"), round(qdlUdf(col("norm")), 4).as("qdl"))
        .orderBy("doc_id")
    }),

    // ---------- full-text: BM25 ranking (join path + WAND path) ----------
    "ft_bm25_top20" -> ((s, dir) =>
      rankedTopK(s, dir, should("spark", "vector", "window"), 20)),

    "ft_bm25_conj" -> ((s, dir) =>
      rankedTopK(s, dir, must("small", "value"), 10)),

    /** Query-time auto stopwords (reference query/
      * QueryAutoStopWordAnalyzer.java:47, default maxPercentDocs=0.4):
      * query terms whose df exceeds numDocs*0.4 are dropped before
      * scoring. The reference precomputes the full high-df set with a
      * term-dict scan; only query-term membership is ever consumed, so
      * this does the equivalent per-term stats lookups (bounded by
      * query size, not vocabulary size). On this corpus every vocab
      * term except the rare "dup" crosses the 40% line, so
      * "dup spark window" scores "dup" alone. */
    "ft_autostop" -> ((s, dir) => {
      val r = reader(s, dir)
      val maxDf = (r.collStats.maxDoc * 0.4).toInt
      val qTerms = Seq("dup", "spark", "window")
      val stats = r.termStats(qTerms)
      val kept = qTerms.filter(t => stats.get(t).forall(_.df <= maxDf))
      rankedTopK(s, dir, should(kept: _*), 10)
    }),

    "ft_bm25_filter" -> ((s, dir) => rankedTopK(s, dir, BoolQ(Seq(
      (Occur.Must, TermQ("spark")), (Occur.Filter, TermQ("vector")))), 10)),

    "ft_boost" -> ((s, dir) => rankedTopK(s, dir, BoolQ(Seq(
      (Occur.Should, BoostQ(TermQ("spark"), 2f)),
      (Occur.Should, TermQ("vector")))), 15)),

    "ft_reqopt" -> ((s, dir) => rankedTopK(s, dir, BoolQ(Seq(
      (Occur.Must, TermQ("spark")), (Occur.Should, TermQ("window")))), 15)),

    "ft_rescore" -> ((s, dir) => {
      val r = reader(s, dir)
      new JoinScorer(r)
        .rescore(should("spark", "vector", "window"), should("merge"),
          40, 1f, 2f, 10)
        .join(idMap(r), "docId")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** Solr ReRank (solr/core/.../search/ReRankQParserPlugin.java:98,
      * 269-320, `rq={!rerank reRankQuery=.. reRankDocs=20 reRankWeight=3}`):
      * the main query collects top max(reRankDocs, start+rows); the FIRST
      * reRankDocs of them are rescored as main + weight*rerankScore
      * (additive only on second-pass match, QueryRescorer combine at
      * :205-214) and re-sorted, while candidates PAST reRankDocs keep
      * their original main-order positions behind the reranked block
      * (the reference's combined-page arraycopy at :311-318) — the
      * behavior plain QueryRescorer (q:ft_rescore) lacks. The rerank
      * scores join only the bounded candidate slice, so the second pass
      * never reorders anything outside the top reRankDocs. */
    "ft_rerank" -> ((s, dir) => {
      val r = reader(s, dir)
      new JoinScorer(r)
        .reRank(should("spark", "vector"), should("window"),
          reRankDocs = 20, reRankWeight = 3.0, length = 30)
        .join(idMap(r), "docId")
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** MoreLikeThis (reference lucene/queries/.../mlt/MoreLikeThis.java):
      * representative terms of doc 0 — by (tf desc, df asc, term asc),
      * df >= 2, top 5; integer-only ordering so the SQL oracle reproduces
      * the exact term set — expanded into a BM25 disjunction, source doc
      * excluded. */
    "ft_mlt" -> ((s, dir) => {
      val r = reader(s, dir)
      val d0 = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") === 0L).select("text", "lang").head()
      val toks = graft.analysis.Analyzer.analyze(d0.getString(0),
        graft.analysis.StopSets.forLang(d0.getString(1)))
      val tf = toks.groupBy(_.term).map { case (t, xs) => t -> xs.length }
      val stats = r.termStats(tf.keys.toSeq)
      val picked = tf.toSeq
        .flatMap { case (t, f) => stats.get(t).map(st => (t, f, st.df)) }
        .filter(_._3 >= 2L)
        .sortBy { case (t, f, df) => (-f, df, t) }
        .take(5).map(_._1)
      val js = new JoinScorer(r)
      js.topK(BoolQ(picked.map(t => (Occur.Should: Occur, TermQ(t): Query))), 11)
        .join(idMap(r), "docId").where(col("doc_id") =!= 0L)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .where(col("rank") <= 10)
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** NumericRangeQuery analog: typed-column range over the doc-values
      * column (here: analyzed field length dl) — trie encoding is obsolete
      * under Spark (SURVEY.md §2.4). */
    "ft_numeric_range" -> ((s, dir) => {
      val r = reader(s, dir)
      r.docmeta.toDF().where(col("dl") >= 30 && col("dl") < 60)
        .select(col("path").cast("long").as("doc_id")).orderBy("doc_id")
    }),

    "ft_page2" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      val js = new JoinScorer(r)
      val q = should("spark", "vector", "window")
      val page1 = js.topK(q, 10).as[(Long, Float)].collect()
      val (lastDoc, lastScore) = (page1.last._1, page1.last._2)
      js.searchAfter(q, 10, lastScore, lastDoc)
        .join(idMap(r), "docId")
        .withColumn("page_rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select("page_rank", "doc_id").orderBy("page_rank")
    }),

    "ft_dismax" -> ((s, dir) => {
      val r = reader(s, dir)
      new JoinScorer(r).topKDisMax(Seq("spark", "vector", "window"), 10)
        .join(idMap(r), "docId")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** LM-Dirichlet similarity (mu=2000): rare term 'dup' scores high;
      * common 'customer' clamps to 0 (reference clamp), so its docs
      * match at score 0 and tie-break by doc_id. */
    "ft_lmdirichlet" -> ((s, dir) => {
      val r = reader(s, dir)
      new JoinScorer(r, Similarities.lmDirichlet()).topK(should("dup", "customer"), 15)
        .join(idMap(r), "docId")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** German-light-stemmed search (UniNE; reference de/GermanAnalyzer):
      * postings of stem "ord" carry every "order" occurrence. */
    "ft_stemmed_de" -> ((s, dir) =>
      stemTf(s, reader(s, dir, Variant.analyzer("german")), "ord")),

    /** French-minimal-stemmed search: stem "vecto" <- "vector". */
    "ft_stemmed_fr" -> ((s, dir) =>
      stemTf(s, reader(s, dir, Variant.analyzer("french")), "vecto")),

    /** Spanish-light-stemmed search: stem "tabl" <- "table". */
    "ft_stemmed_es" -> ((s, dir) =>
      stemTf(s, reader(s, dir, Variant.analyzer("spanish")), "tabl")),

    /** Portuguese-light-stemmed search: stem "merg" <- "merge" (the only
      * corpus surface form in that family). */
    "ft_stemmed_pt" -> ((s, dir) =>
      stemTf(s, reader(s, dir, Variant.analyzer("portuguese")), "merg")),

    /** Norwegian-light-stemmed search (no/NorwegianLightStemmer.java,
      * Bokmål): "merge" -> final-e strip -> "merg". */
    "ft_stemmed_no" -> ((s, dir) =>
      stemTf(s, reader(s, dir, Variant.analyzer("norwegian")), "merg")),

    /** Czech-stemmed search (cz/CzechStemmer.java): "value" -> final
      * vowel strip -> "valu". */
    "ft_stemmed_cz" -> ((s, dir) =>
      stemTf(s, reader(s, dir, Variant.analyzer("czech")), "valu")),

    /** Dutch-Snowball-stemmed search (nl/DutchAnalyzer.java ->
      * ext/DutchStemmer.java): e-ending in R1 after a consonant drops,
      * "table" -> "tabl". */
    "ft_stemmed_nl" -> ((s, dir) =>
      stemTf(s, reader(s, dir, Variant.analyzer("dutch")), "tabl")),

    /** Danish-Snowball-stemmed search (da -> ext/DanishStemmer.java):
      * main-suffix "er" in R1 drops, "customer" -> "custom". */
    "ft_stemmed_da" -> ((s, dir) =>
      stemTf(s, reader(s, dir, Variant.analyzer("danish")), "custom")),

    /** Romanian-Snowball-stemmed search (ro -> ext/RomanianStemmer.java):
      * final vowel "a" in RV drops, "data" -> "dat". */
    "ft_stemmed_ro" -> ((s, dir) =>
      stemTf(s, reader(s, dir, Variant.analyzer("romanian")), "dat")),

    /** German2-Snowball-stemmed search (ext/German2Stemmer.java — the
      * umlaut-spelling variant, vs the light stemmer's ft_stemmed_de):
      * step-1 "er" drops in R1, "customer" -> "custom". */
    "ft_stemmed_de2" -> ((s, dir) =>
      stemTf(s, reader(s, dir, Variant.analyzer("german2")), "custom")),

    /** Galician RSLP-stemmed search (gl/GalicianStemmer.java:50, rule
      * file galician.rslp): noun-suffix chain, "vector" -> "vec". */
    "ft_stemmed_gl" -> ((s, dir) =>
      stemTf(s, reader(s, dir, Variant.analyzer("galician")), "vec")),

    /** Portuguese RSLP-stemmed search (pt/PortugueseStemmer.java:48 —
      * the full Orengo flow, vs the light stemmer's ft_stemmed_pt):
      * "stream" -> "stre". */
    "ft_stemmed_ptrslp" -> ((s, dir) =>
      stemTf(s, reader(s, dir, Variant.analyzer("portuguese_rslp")), "stre")),

    /** Turkish-Snowball-stemmed search (tr -> ext/TurkishStemmer.java):
      * the locative -DA drops after back-vowel harmony,
      * "data" -> "da". */
    "ft_stemmed_tr" -> ((s, dir) =>
      stemTf(s, reader(s, dir, Variant.analyzer("turkish")), "da")),

    /** Catalan-Snowball-stemmed search (ca/CatalanAnalyzer.java ->
      * ext/CatalanStemmer.java): standard-suffix "or" in R1 drops,
      * "vector" -> "vect" (unique preimage in the corpus vocab). */
    "ft_stemmed_ca" -> ((s, dir) =>
      stemTf(s, reader(s, dir, Variant.analyzer("catalan")), "vect")),

    /** Basque-Snowball-stemmed search (eu/BasqueAnalyzer.java ->
      * ext/BasqueStemmer.java): izenak noun suffix "ge" in RV drops,
      * "merge" -> "mer" (unique preimage). */
    "ft_stemmed_eu" -> ((s, dir) =>
      stemTf(s, reader(s, dir, Variant.analyzer("basque")), "mer")),

    /** Brazilian-Portuguese-stemmed search (br/BrazilianAnalyzer.java:123
      * -> br/BrazilianStemmer.java, the deaccent-first non-Snowball pt
      * stemmer): step2 verb suffix "er" in RV drops, "filter" -> "filt"
      * (unique preimage in the corpus vocabulary). */
    "ft_stemmed_br" -> ((s, dir) =>
      stemTf(s, reader(s, dir, Variant.analyzer("brazilian")), "filt")),

    /** Polish Stempel-stemmed search (stempel/.../PolishAnalyzer.java:139
      * -> the Egothor patch-command trie over stemmer_20000.tbl): the
      * table's statistical patch maps "column" -> "columna" (unique
      * preimage in the corpus vocabulary). */
    "ft_stemmed_pl" -> ((s, dir) =>
      stemTf(s, reader(s, dir, Variant.analyzer("polish")), "columna")),

    /** Irish-Snowball-stemmed search (ga/IrishAnalyzer.java:150 ->
      * ext/IrishStemmer.java): initial_morph treats "th" as a lenition
      * prefix, "the" -> "te" (unique preimage in the corpus vocabulary;
      * "the" is not in the ga stop set). */
    "ft_stemmed_ga" -> ((s, dir) =>
      stemTf(s, reader(s, dir, Variant.analyzer("irish")), "te")),

    /** Compound-word recall (compound/DictionaryCompoundWordTokenFilter
      * .java): with dictionary {"wind"}, the subword "wind" indexes at
      * every "window" occurrence, so the single-constituent query
      * recalls the compounds. */
    "ft_compound_de" -> ((s, dir) =>
      termsTf(s, reader(s, dir, Variant.Compound), Seq("wind"))),

    /** Russian-light-stemmed search: the Dolamic-Savoy rules touch only
      * Cyrillic suffixes, so Latin corpus terms index unchanged — the
      * oracle verifies exactly that identity ("query" postings equal the
      * surface term's); Cyrillic behavior is pinned by the 49k-pair
      * golden suite (LightStemSpec). */
    "ft_stemmed_ru" -> ((s, dir) =>
      stemTf(s, reader(s, dir, Variant.analyzer("russian")), "query")),

    /** Swedish-light-stemmed search: stem "vect" <- "vector". */
    "ft_stemmed_sv" -> ((s, dir) =>
      stemTf(s, reader(s, dir, Variant.analyzer("swedish")), "vect")),

    /** Finnish-light-stemmed search: stem "sor" <- "sort". */
    "ft_stemmed_fi" -> ((s, dir) =>
      stemTf(s, reader(s, dir, Variant.analyzer("finnish")), "sor")),

    /** Hungarian-light-stemmed search: stem "stre" <- "stream". */
    "ft_stemmed_hu" -> ((s, dir) =>
      stemTf(s, reader(s, dir, Variant.analyzer("hungarian")), "stre")),

    /** Index-time synonym: phrase "quick hash" matches THROUGH the
      * injected synonym (rule fast->quick; "quick" sits at "fast"'s
      * position, posInc=0) — the capability query-time expansion lacks. */
    "ft_synonym_index" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir, Variant.Synonyms)
      new JoinScorer(r)
        .scores(BoolQ(Seq((Occur.Must,
          PhraseQ(Seq("quick", "hash"), Seq(0, 1))))))
        .map(_._1).toDF("docId")
        .join(idMap(r), "docId").select("doc_id").orderBy("doc_id")
    }),

    /** Index-time multi-token-LHS synonym ("hash agg" -> "hashagg"):
      * tf of the injected collapsed term == count of consecutive
      * (hash, agg) occurrences per doc. */
    "ft_synonym_multitok" -> ((s, dir) =>
      stemTf(s, reader(s, dir, Variant.Synonyms), "hashagg")),

    /** eDisMax qf (ExtendedDismaxQParser queryFields): the user string
      * "spark 000000123" scored across {content^1, path^2} — each term
      * dismax-combines its per-field scores (path clause uses the path
      * field's df/avgdl/norms), matching terms sum per doc. */
    "ft_edismax_qf" -> ((s, dir) => {
      val r = reader(s, dir)
      new JoinScorer(r)
        .topKEdismaxQf(Seq("spark", "000000123"),
          Seq(("", 1f), ("path:", 2f)), tie = 0.3f, k = 15)
        .join(idMap(r), "docId")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** SpanMultiTermQueryWrapper: span-near with a PREFIX leg —
      * "fast" immediately followed by any s* dictionary term, via
      * TooManyClauses-guarded expansion into a span-OR slot. */
    "ft_span_wildcard" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      new JoinScorer(r)
        .scores(BoolQ(Seq((Occur.Must,
          SpanNearMultiQ(Seq(TermQ("fast"), PrefixQ("s")), 0,
            inOrder = true)))))
        .map(_._1).toDF("docId")
        .join(idMap(r), "docId").select("doc_id").orderBy("doc_id")
    }),

    /** Delete-by-query then search (pre-compaction): tombstoned docs
      * (those containing 'dup') leave results immediately, but BM25 stats
      * still count them — reference live-docs semantics. */
    "ft_delete_search" -> ((s, dir) => {
      val (rDel, _) = deletedReaders(s, dir)
      new JoinScorer(rDel).topK(QueryParser.parse("spark window"), 15)
        .join(idMap(rDel), "docId")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** Search after compaction: tombstones purged, df/avgdl/maxDoc
      * recomputed over the survivors (post-merge reference semantics —
      * the scores legitimately shift). */
    "ft_compact_search" -> ((s, dir) => {
      val (_, rCpt) = deletedReaders(s, dir)
      new JoinScorer(rCpt).topK(QueryParser.parse("spark window"), 15)
        .join(idMap(rCpt), "docId")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** Atomic update, pre-compaction (updateDocument = delete-by-key +
      * add): rewritten docs match their NEW content under the SAME key;
      * stats count old tombstoned versions AND new versions until the
      * merge — reference pre-merge semantics. */
    "ft_update_search" -> ((s, dir) => {
      val (rUpd, _) = updatedReaders(s, dir)
      new JoinScorer(rUpd).topK(QueryParser.parse("spark vectorized"), 15)
        .join(idMap(rUpd), "docId")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** Same search after compaction: exactly the rewritten corpus, stats
      * over one doc per key. */
    "ft_update_compact" -> ((s, dir) => {
      val (_, rCpt) = updatedReaders(s, dir)
      new JoinScorer(rCpt).topK(QueryParser.parse("spark vectorized"), 15)
        .join(idMap(rCpt), "docId")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** Realtime get (Solr /get): newest live version of doc 123 by unique
      * key across base + update delta — the post-update commit hash when
      * the doc was rewritten, the original otherwise. */
    "ft_rtget" -> ((s, dir) => {
      val (rUpd, _) = updatedReaders(s, dir)
      rUpd.realtimeGet("corpus", "000000123")
        .select(col("path").cast("long").as("doc_id"), col("commit"))
    }),

    /** Term-vectors component (per-doc forward index; reference
      * TermVectorsFormat / Solr TermVectorComponent): one column-pruned
      * segments lookup returns doc 42's (term, tf) vector — the stored
      * term vector read path, no postings scan. */
    "ft_termvector" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      val internalId = idMap(r).where(col("doc_id") === 42L)
        .select("docId").as[Long].head()
      s.read.parquet(s"${r.dir}/segments")
        .where(col("docId") === internalId)
        .select(explode(col("postings")).as("p"))
        .select(col("p.term").as("term"), col("p.pb").as("pb"))
        .as[(String, Array[Byte])]
        .filter(!_._1.startsWith("path:"))
        .map { case (t, pb) => (t, graft.codec.VByte.firstVInt(pb).toLong) }
        .toDF("term", "tf").orderBy("term")
    }),

    /** eDisMax pf (ExtendedDismaxQParser phrase-fields boost): main query
      * = per-term sum; pf adds a SCORED exact-phrase clause on the same
      * field, so documents with the terms adjacent outrank scattered
      * ones. The phrase clause is the first oracle check of phrase
      * SCORING (weight = summed term idfs, freq = aligned starts). */
    "ft_edismax_pf" -> ((s, dir) => {
      val r = reader(s, dir)
      val q = BoolQ(Seq(
        (Occur.Should, TermQ("spark")), (Occur.Should, TermQ("window")),
        (Occur.Should, PhraseQ(Seq("spark", "window"), Seq(0, 1)))))
      new JoinScorer(r).topK(q, 15)
        .join(idMap(r), "docId")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** Term vectors WITH positions (TermVectorsFormat positions option):
      * doc 42's (term, tf, first position) — pb decodes as VInt(tf) ++
      * position deltas, so the first delta IS the first position. */
    "ft_termvector_pos" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      val internalId = idMap(r).where(col("doc_id") === 42L)
        .select("docId").as[Long].head()
      s.read.parquet(s"${r.dir}/segments")
        .where(col("docId") === internalId)
        .select(explode(col("postings")).as("p"))
        .select(col("p.term").as("term"), col("p.pb").as("pb"))
        .as[(String, Array[Byte])]
        .filter(!_._1.startsWith("path:"))
        .map { case (t, pb) =>
          val v = graft.codec.VByte.allVInts(pb)
          (t, v(0).toLong, v(1).toLong)
        }
        .toDF("term", "tf", "first_pos").orderBy("term")
    }),

    /** Segments introspection (Solr admin/luke | segments handler): doc
      * count + total analyzed length per doc-partition, straight off the
      * columnar docmeta. */
    "index_segments" -> ((s, dir) => {
      val r = reader(s, dir)
      r.docmeta.toDF().groupBy(col("docPart"))
        .agg(count(lit(1)).as("docs"), sum("dl").as("sum_dl"))
        .orderBy("docPart")
        .select(col("docPart").cast("long").as("doc_part"),
          col("docs"), col("sum_dl"))
    }),

    /** JSON-facet bucket metrics (count + sum + avg per bucket) over a
      * SEARCH result set — the q + json.facet aggregation flow. */
    "facet_metrics" -> ((s, dir) => {
      val r = reader(s, dir)
      val docs = s.read.parquet(s"$dir/documents.parquet")
      new JoinScorer(r).scores(QueryParser.parse("spark window"))
        .toDF("docId", "score")
        .join(idMap(r), "docId")
        .join(docs.select(col("doc_id"), col("lang"), col("n_chars")), "doc_id")
        .groupBy("lang").agg(count(lit(1)).as("cnt"),
          sum("n_chars").as("sum_chars"),
          round(avg("n_chars"), 6).as("avg_chars"))
        .orderBy("lang")
    }),

    /** Graph gather (Solr graph query parser / streaming gatherNodes):
      * seed order 1 -> its suppliers -> every order those suppliers
      * touch. Frontiers broadcast; the corpus-side scan stays pruned. */
    "graph_gather" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_suppkey"))
      val seed = li.where(col("l_orderkey") === 1L)
        .select("l_suppkey").distinct()
      li.join(broadcast(seed), "l_suppkey")
        .select("l_orderkey").distinct().orderBy("l_orderkey")
    }),

    /** Boost function (Solr `bf` param): organic BM25 plus an additive
      * ValueSource over a stored field (0.001 * n_chars). */
    "ft_boost_func" -> ((s, dir) => {
      val r = reader(s, dir)
      val q = QueryParser.parse("spark window")
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("n_chars"))
      new JoinScorer(r).scores(q).toDF("docId", "score")
        .join(idMap(r), "docId").join(docs, "doc_id")
        .withColumn("fscore",
          col("score").cast("double") + lit(0.001) * col("n_chars"))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("fscore").desc, col("doc_id").asc)).cast("long"))
        .where(col("rank") <= 10)
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** Date range facet (Solr facet.range over a date field, gap=+1DAY). */
    "facet_date" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("day")),

    /** JSON field extraction + aggregation (Solr JSON/dynamic fields):
      * props is a JSON string column; group by its $.k value. */
    "json_field" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"),
          col("value"))
        .groupBy("k")
        .agg(round(sum("value"), 6).as("sum_value"),
          count(lit(1)).as("cnt"))
        .orderBy("k")),

    /** Nested facet (JSON Facet subfacets): top-2 sources inside each
      * lang bucket. */
    "facet_nested" -> ((s, dir) => {
      val counts = s.read.parquet(s"$dir/documents.parquet")
        .groupBy("lang", "source").agg(count(lit(1)).as("cnt"))
      counts.withColumn("rn", row_number().over(
          Window.partitionBy("lang")
            .orderBy(col("cnt").desc, col("source"))))
        .where(col("rn") <= 2).drop("rn")
        .orderBy(col("lang"), col("cnt").desc, col("source"))
    }),

    /** Phonetic match (Solr PhoneticFilterFactory analog, query-time
      * expansion): terms whose Soundex equals the query's — misspelled
      * "vektor" (V236) matches "vector". Dictionary expansion uses the
      * codegen'd built-in soundex; Phonetic.soundex pins the algorithm
      * (t:PhoneticSpec asserts parity). */
    "ft_phonetic" -> ((s, dir) => {
      val r = reader(s, dir)
      val matched = r.expandTerms(
        !col("term").startsWith("path:") &&
          soundex(col("term")) === soundex(lit("vektor"))).map(_.term)
      termsTf(s, r, matched)
    }),

    /** Double-Metaphone phonetic match (lucene/analysis/phonetic/
      * DoubleMetaphoneFilter.java semantics, query-time expansion):
      * dictionary terms sharing the query's primary code. "qwery"
      * (misspelling) encodes KR == "query"; the dictionary scan is a
      * vocabulary-sized pass, TooManyClauses-guarded like every other
      * multi-term expansion. */
    "ft_phonetic_dm" -> ((s, dir) => {
      val r = reader(s, dir)
      val dmPrimary = udf((t: String) =>
        graft.analysis.DoubleMetaphone.encodePair(t)._1)
      val qCode = graft.analysis.DoubleMetaphone.encodePair("qwery")._1
      val matched = r.expandTerms(
        !col("term").startsWith("path:") && !col("term").startsWith("rev:") &&
          dmPrimary(col("term")) === lit(qCode)).map(_.term)
      termsTf(s, r, matched)
    }),

    /** Beider-Morse phonetic match (lucene/analysis/phonetic/
      * BeiderMorseFilter.java:37 wrapping commons-codec PhoneticEngine,
      * query-time expansion, APPROX rules like the factory default):
      * dictionary terms whose alternate sets intersect the query's.
      * "vektor" and "vector" share the alternate "viktor"; no other
      * corpus term does (t:PhoneticCodecSpec pins the property). */
    "ft_phonetic_bm" -> ((s, dir) => {
      val r = reader(s, dir)
      val qSet = graft.analysis.Phonetic.beiderMorse("vektor", exact = false).toSet
      val bmHit = udf((t: String) =>
        graft.analysis.Phonetic.beiderMorse(t, exact = false).exists(qSet))
      val matched = r.expandTerms(
        !col("term").startsWith("path:") && !col("term").startsWith("rev:") &&
          bmHit(col("term"))).map(_.term)
      termsTf(s, r, matched)
    }),

    /** Daitch-Mokotoff Soundex phonetic match (lucene/analysis/phonetic/
      * DaitchMokotoffSoundexFilter.java:37, query-time expansion over the
      * branching codes): "vektor" (753900) intersects "vector"
      * {743900, 753900} and nothing else in the corpus vocabulary. */
    "ft_phonetic_dmx" -> ((s, dir) => {
      val r = reader(s, dir)
      val qSet = graft.analysis.Phonetic.dmSoundex("vektor").toSet
      val dmHit = udf((t: String) =>
        graft.analysis.Phonetic.dmSoundex(t).exists(qSet))
      val matched = r.expandTerms(
        !col("term").startsWith("path:") && !col("term").startsWith("rev:") &&
          dmHit(col("term"))).map(_.term)
      termsTf(s, r, matched)
    }),

    /** Query elevation (Solr QueryElevationComponent): doc_ids 7 and 3
      * pinned to ranks 1-2 for "spark window"; organic BM25 ranking
      * follows, excluding the pinned docs. */
    "ft_elevate" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      val pinned = Seq(7L, 3L)
      val q = QueryParser.parse("spark window")
      val pins = pinned.zipWithIndex
        .map { case (d, i) => ((i + 1).toLong, d) }.toDF("rank", "doc_id")
      val organic = new JoinScorer(r).topK(q, 10 + pinned.length)
        .join(idMap(r), "docId")
        .where(!col("doc_id").isin(pinned: _*))
        .withColumn("rank", (row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)) +
          pinned.length).cast("long"))
        .where(col("rank") <= 10)
        .select("rank", "doc_id")
      pins.union(organic).orderBy("rank")
    }),

    /** Pattern-replace char filter (Solr PatternReplaceCharFilterFactory):
      * regex rewrite BEFORE tokenization, then the standard chain — count
      * the rewritten token. */
    "charfilter_replace" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          regexp_replace(col("text"), "sp[a-z]+k", "flink").as("t"))
        .as[(Long, String)]
        .flatMap { case (id, t) =>
          val (terms, _) = graft.analysis.Analyzer.analyzeFlat(t, Set.empty)
          terms.iterator.filter(_ == "flink").map(_ => id)
        }
        .toDF("doc_id")
        .groupBy("doc_id").agg(count(lit(1)).as("tf"))
        .orderBy("doc_id")
    }),

    /** HTML-strip char filter (HTMLStripCharFilter / Solr
      * HTMLStripCharFilterFactory): every doc's text wrapped in a fixed
      * HTML scaffold (block + inline tags, a script element, entities, a
      * comment), stripped by the real scanner. The oracle CONSTRUCTS the
      * semantically-expected output from the same parts, so the strip is
      * verified byte-for-byte per row; the reference's own test vectors
      * (incl. malformed HTML) live in HtmlStripSpec. */
    /** WikipediaTokenizer over synthesized markup (reference wikipedia/
      * WikipediaTokenizerImpl.jflex, t:WikipediaSpec carries the full
      * reference vectors): each doc's text is wrapped in a category, an
      * italic intro and an external link; positions accumulate posInc
      * (the link's first word shares the URL's position). One codegen'd
      * scan + per-row tokenization, no shuffle. */
    "analysis_wikipedia" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 7 === 5)
        .select(col("doc_id"), col("lang"), col("text"))
        .as[(Long, String, String)]
        .flatMap { case (id, lang, text) =>
          val wiki = s"[[Category:$lang docs]] ''intro'' $text" +
            s" [http://example.org/$lang here]"
          var p = -1L
          graft.analysis.Wikipedia.tokenize(wiki).map { t =>
            p += t.posInc; (id, p, t.tpe, t.term)
          }
        }.toDF("doc_id", "pos", "type", "term")
        .orderBy("doc_id", "pos", "type", "term")
    }),

    "charfilter_html" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"), col("text"))
        .as[(Long, String, String)]
        .map { case (id, lang, text) =>
          val html = "<html><body id=\"d\"><p>" + text + "</p>" +
            "<script>var q = '<!-- no -->';</script><b>" + lang + "</b>" +
            " &amp; &#33; &Gamma;&nbsp;<!-- hidden --></body></html>"
          (id, graft.analysis.HtmlStrip.strip(html))
        }.toDF("doc_id", "stripped").orderBy("doc_id")
    }),

    /** Function range query (Solr frange / FunctionRangeQuery): filter by
      * a ValueSource expression's value range. */
    "func_range" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .where((col("n_chars") * 0.5 + 10).between(100, 200))
        .select("doc_id").orderBy("doc_id")),

    /** strdist() function query (Solr ValueSourceParser "strdist" with
      * the edit-distance flavor): similarity = 1 − lev/max(len), ranked.
      * One codegen'd scan + TakeOrdered — no shuffle of the table. */
    "func_strdist" -> ((s, dir) => {
      val q = "small gear"
      s.read.parquet(s"$dir/part.parquet")
        .select(col("p_partkey"), col("p_name"),
          round(lit(1.0) - levenshtein(col("p_name"), lit(q)).cast("double")
            / greatest(length(col("p_name")), lit(q.length)), 6).as("sim"))
        .orderBy(col("sim").desc, col("p_partkey")).limit(20)
    }),

    /** Solr date math (util/DateMathParser.java): NOW-relative
      * expressions — `/UNIT` floor, `±N UNIT` arithmetic, left to right —
      * resolved in Scala against the corpus max(ts) anchor, each driving
      * a range count over events (the date-filter / facet.range.start
      * companion). The 6-row bounds frame broadcasts; events stay put. */
    "date_math" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("ts").cast("timestamp").as("ts")) // NTZ -> UTC instant
      val nowMs = ev.agg(max(unix_millis(col("ts")))).head().getLong(0)
      val now = java.time.Instant.ofEpochMilli(nowMs)
      val exprs = Seq("NOW/DAY", "NOW/DAY-7DAYS", "NOW/HOUR-36HOURS",
        "NOW/MONTH", "NOW-90MINUTES", "NOW/DAY+1DAY")
      val b = s.createDataFrame(
        exprs.map(e => (e, DateMath.resolve(now, e).toEpochMilli)))
        .toDF("expr", "from_ms")
      val counts = ev.select(unix_millis(col("ts")).as("ms"))
        .crossJoin(broadcast(b))
        .where(col("ms") >= col("from_ms"))
        .groupBy("expr").agg(count(lit(1)).as("cnt"))
      b.join(counts, Seq("expr"), "left")
        .select(col("expr"), col("from_ms"),
          coalesce(col("cnt"), lit(0L)).as("cnt"))
        .orderBy("expr")
    }),

    /** Recency boost — the canonical Solr
      * `bf=recip(ms(NOW,date),3.16e-11,1,1)` (ValueSourceParser recip +
      * ms): event value × reciprocal age decay, ranked. One codegen'd
      * scan + TakeOrdered; NOW is the corpus max(ts) anchor. */
    "func_recency" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("event_id"), col("value"),
          col("ts").cast("timestamp").as("ts"))
      val nowMs = ev.agg(max(unix_millis(col("ts")))).head().getLong(0)
      ev.select(col("event_id"),
          (col("value") * (lit(1.0) /
            (lit(3.16e-11) * (lit(nowMs) - unix_millis(col("ts"))).cast("double")
              + lit(1.0)))).as("score"))
        .orderBy(col("score").desc, col("event_id")).limit(20)
        .select(col("event_id"), round(col("score"), 6).as("score"))
    }),

    /** DFR GL2 similarity (BasicModelG + AfterEffectL + NormalizationH2,
      * c=1): geometric-Bose-Einstein informative content, Laplace
      * normalization. */
    "ft_dfr_gl2" -> ((s, dir) => {
      val r = reader(s, dir)
      new JoinScorer(r, Similarities.dfrGL2).topK(should("dup", "spark"), 15)
        .join(idMap(r), "docId")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** IB similarity (DistributionSPL + LambdaDF + NormalizationH2). */
    "ft_ib_spl" -> ((s, dir) => {
      val r = reader(s, dir)
      new JoinScorer(r, Similarities.ibSplDf).topK(should("vector", "scan"), 15)
        .join(idMap(r), "docId")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** LM with Jelinek-Mercer smoothing (lambda=0.7). */
    "ft_lmjm" -> ((s, dir) => {
      val r = reader(s, dir)
      new JoinScorer(r, Similarities.lmJelinekMercer())
        .topK(should("dup", "window"), 15)
        .join(idMap(r), "docId")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** DisMax with tieBreakerMultiplier: max + 0.3 x (sum of others). */
    "ft_dismax_tie" -> ((s, dir) => {
      val r = reader(s, dir)
      new JoinScorer(r).topKDisMax(Seq("spark", "vector", "window"), 10, 0.3f)
        .join(idMap(r), "docId")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** Span difference (SpanNotQuery): 'scan' occurrences with no 'table'
      * within one position either side. */
    "ft_span_not" -> ((s, dir) => matchedDocs(s, dir, BoolQ(Seq(
      (Occur.Must, SpanNotQ("scan", "table", 1, 1)))))),

    /** ClassicSimilarity (TF-IDF with coord + queryNorm — the reference
      * 5.2 DEFAULT similarity) ranking. */
    "ft_tfidf" -> ((s, dir) => {
      val r = reader(s, dir)
      new JoinScorer(r, Similarities.classic)
        .topK(should("spark", "merge", "window"), 15)
        .join(idMap(r), "docId")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select("rank", "doc_id").orderBy("rank")
    }),

    "ft_wand_top20" -> ((s, dir) => {
      val r = reader(s, dir)
      new WandScorer(r).topK(Seq("spark", "vector", "window"), 20)
        .join(idMap(r), "docId")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select("rank", "doc_id").orderBy("rank")
    }),

    "ft_wand_conj" -> ((s, dir) => {
      val r = reader(s, dir)
      new WandScorer(r).topK(Seq("small", "value"), 10, conjunctive = true)
        .join(idMap(r), "docId")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select("rank", "doc_id").orderBy("rank")
    }),

    "ft_wand_msm2" -> ((s, dir) => {
      val r = reader(s, dir)
      new WandScorer(r).topK(Seq("merge", "window", "stream"), 15,
          minShouldMatch = 2)
        .join(idMap(r), "docId")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** NRT union view (base + 2 appended deltas) must rank identically to
      * the one-shot index — the oracle is the SAME BM25 SQL over the full
      * corpus (global stats across sub-indexes). */
    "ft_nrt_union" -> ((s, dir) => {
      val r = nrtReader(s, dir)
      val m = r.docmeta.toDF().select(col("docId"),
        col("path").cast("long").as("doc_id"))
      new JoinScorer(r).topK(should("stream", "batch"), 15).join(m, "docId")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** Sort-by-field over a matching doc set (TopFieldCollector analog,
      * search/TopFieldCollector.java:35): docs containing 'spark' ordered
      * by field length desc. */
    /** Explanation analog (reference search/Explanation.java /
      * Weight.explain): per-clause score contributions of the top-1 doc of
      * an OR query, as contribution ranks (value-free: float-vs-double
      * comparison stays exact). */
    "ft_explain" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      val js = new JoinScorer(r)
      val q = should("spark", "vector", "window")
      val top = js.topK(q, 1).as[(Long, Float)].collect().head._1
      // One block-pruned job for all three terms (decodes only the blocks
      // covering `top`) instead of three full-postings scoring scans.
      val perTerm = js.explainDoc(Seq("spark", "vector", "window"), top)
      val docIdCol = idMap(r).where(col("docId") === top)
        .select("doc_id").head().getLong(0)
      perTerm.sortBy { case (t, sc) => (-sc, t) }.zipWithIndex
        .map { case ((t, _), i) => (docIdCol, t, (i + 1).toLong) }
        .toDF("doc_id", "term", "contrib_rank")
        .orderBy("contrib_rank")
    }),

    "ft_sort_dl" -> ((s, dir) => {
      val r = reader(s, dir)
      val dls = r.docmeta.toDF().select(col("docId"),
        col("path").cast("long").as("doc_id"), col("dl").cast("long").as("dl"))
      new JoinScorer(r).scores(should("spark")).toDF("docId", "score")
        .join(dls, "docId")
        .orderBy(col("dl").desc, col("doc_id")).limit(15)
        .select("doc_id", "dl")
    }),

    /** Per-language analysis visible through the index: 'the' is an
      * English stopword, so docs matching TermQ("the") are exactly the
      * NON-en docs containing it (per-lang stop sets at index time). */
    "ft_lang_stopword" -> ((s, dir) => {
      val r = reader(s, dir)
      new JoinScorer(r).scores(should("the")).toDF("docId", "score")
        .join(r.docmeta.toDF().select(col("docId"), col("lang")), "docId")
        .groupBy("lang").agg(count(lit(1)).as("n")).orderBy("lang")
    }),

    "ft_count_or" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      val n = new JoinScorer(r).scores(should("merge", "window", "stream")).count()
      Seq(n).toDF("n")
    }),

    "ft_matchall_count" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      val n = new JoinScorer(r)
        .scores(BoolQ(Seq((Occur.Should, MatchAllQ)))).count()
      Seq(n).toDF("n").select(col("n").cast("long").as("n"))
    }),

    /** CheckIndex validation job (index/CheckIndex.java analog + north
      * rule sha256 cross-check): every invariant scan must report zero
      * violations — the oracle pins the exact expected table. */
    "ft_checkindex" -> ((s, dir) => {
      val r = reader(s, dir)
      val docs = s.read.parquet(s"$dir/documents.parquet")
      graft.index.CheckIndex.run(r, Some(docsAsInput(docs))).toDF()
        .select(col("check"), col("violations")).orderBy("check")
    }),

    "ft_sha256" -> ((s, dir) => {
      val r = reader(s, dir)
      r.docmeta.toDF()
        .select(col("path").cast("long").as("doc_id"), col("sha256").as("sha"))
        .where(col("doc_id") < 40).orderBy("doc_id")
    }),

    /** Highlighter analog (solr HighlightComponent; Lucene re-analysis
      * highlighters): top-3 hits joined back to the stored text, snippet
      * = fixed window around the first query-term occurrence. */
    "ft_highlight" -> ((s, dir) => {
      val r = reader(s, dir)
      val top = new JoinScorer(r).topK(should("vector"), 3)
        .join(idMap(r), "docId").select("doc_id")
      val docs = s.read.parquet(s"$dir/documents.parquet")
      top.join(docs, "doc_id")
        .select(col("doc_id"),
          locate("vector", lower(col("text"))).as("pos"),
          substring(col("text"),
            greatest(lit(1), locate("vector", lower(col("text"))) - 20),
            lit(60)).as("snippet"))
        .orderBy("doc_id")
    }),

    /** hl.snippets=2 (multi-fragment highlighting — Highlighter's
      * getBestFragments): up to two snippet windows per top doc, one row
      * per fragment, second occurrence found relative to the first. */
    "ft_highlight_multi" -> ((s, dir) => {
      val r = reader(s, dir)
      val top = new JoinScorer(r).topK(should("vector"), 3)
        .join(idMap(r), "docId").select("doc_id")
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val lt = lower(col("text"))
      val withPos = top.join(docs, "doc_id")
        .withColumn("p1", locate("vector", lt))
        .withColumn("rest", lt.substr(col("p1") + 1, length(lt)))
        .withColumn("q2", locate("vector", col("rest")))
        .withColumn("p2", when(col("q2") > 0, col("p1") + col("q2")))
      def snip(pos: org.apache.spark.sql.Column) =
        col("text").substr(greatest(lit(1), pos - 15), lit(40))
      val f1 = withPos.select(col("doc_id"), lit(1L).as("frag"),
        col("p1").cast("long").as("pos"), snip(col("p1")).as("snippet"))
      val f2 = withPos.where(col("p2").isNotNull)
        .select(col("doc_id"), lit(2L).as("frag"),
          col("p2").cast("long").as("pos"), snip(col("p2")).as("snippet"))
      f1.unionByName(f2).orderBy("doc_id", "frag")
    }),

    /** Index-sorted early termination (lucene/misc SortingMergePolicy +
      * EarlyTerminatingSortingCollector): segments pre-sorted by
      * (n_chars desc, doc_id), so sorted top-k = per-segment LIMIT k
      * (reads only the head of each segment — LocalLimit, no Sort of the
      * table) + a k·segments-row final merge. */
    "ft_sorted_early" -> ((s, dir) =>
      sortedEarlyTopK(s, sortedDocsDir(s, dir), 15)),

    /** Suggester analog (solr/suggest): prefix completion by document
      * frequency over the term dictionary. */
    "ft_suggest" -> ((s, dir) => {
      val r = reader(s, dir)
      r.termStatsDf.toDF().where(col("term").startsWith("s"))
        .orderBy(col("df").desc, col("term")).limit(8)
        .select(col("term"), col("df"))
    }),

    /** Infix suggester (suggest/analyzing/AnalyzingInfixSuggester.java):
      * completions whose term CONTAINS the typed fragment, weighted by
      * df — prefix-free lookup the plain FST suggester can't do. */
    "ft_suggest_infix" -> ((s, dir) => {
      val r = reader(s, dir)
      r.termStatsDf.toDF()
        .where(col("term").contains("or") && !col("term").startsWith("path:"))
        .orderBy(col("df").desc, col("term")).limit(5)
        .select(col("term"), col("df"))
    }),

    /** Terms component (solr/handler/component/TermsComponent.java):
      * raw term-dictionary enumeration — prefix-bounded, index order,
      * with df + total term freq. */
    "terms_component" -> ((s, dir) => {
      val r = reader(s, dir)
      r.termStatsDf.toDF()
        .where(col("term").startsWith("s"))
        .orderBy("term").limit(10)
        .select(col("term"), col("df"), col("ttf"))
    }),

    /** TermsQuery / {!terms} (lucene/queries/TermsQuery.java, Solr
      * TermsQParserPlugin): one filter from a large explicit id list.
      * Scale shape: the list becomes a broadcast hash join against the
      * id column — never an O(|list|) OR-expansion of clauses, never a
      * shuffle of the corpus (the exact reason TermsQuery exists next
      * to BooleanQuery in the reference). */
    "terms_query" -> ((s, dir) => {
      import s.implicits._
      val ids = (0 until 300).map(i => (i * 7 + 3).toLong)
      val terms = broadcast(ids.toDF("doc_id"))
      s.read.parquet(s"$dir/documents.parquet")
        .join(terms, "doc_id")
        .groupBy("lang")
        .agg(count(lit(1)).as("cnt"), sum("n_chars").as("chars"))
        .orderBy("lang")
    }),

    /** /analysis/field handler (solr/handler/FieldAnalysisRequestHandler,
      * AnalysisRequestHandlerBase.analyzeValue): the per-stage token
      * stream dump for two corpus docs — stage 1_tokenize = tokenizer
      * output before stop removal, stage 2_stop = after the per-lang
      * StopFilter (positions keep the gaps). */
    "analysis_field" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id").isin(3L, 7L))
        .select("doc_id", "lang", "text").as[(Long, String, String)]
        .flatMap { case (id, lang, text) =>
          Analyzer.analyze(text, Set.empty)
            .map(tp => (id, "1_tokenize", tp.position, tp.term)) ++
            Analyzer.analyze(text, graft.analysis.StopSets.forLang(lang))
              .map(tp => (id, "2_stop", tp.position, tp.term))
        }
        .toDF("doc_id", "stage", "pos", "term")
        .orderBy("doc_id", "stage", "pos")
    }),

    /** WordDelimiterFilter (reference analysis/common/.../miscellaneous/
      * WordDelimiterFilter.java:94, WordDelimiterIterator.java:26): each
      * doc contributes one composite token "w1-w2's" (intra-word delimiter
      * + English possessive) built from its first two words; flags = Solr
      * factory defaults + CATENATE_ALL, so the emitted stream is
      * [w1, w1w2, w2] at positions 0, 0, 1 (catenation injected at the
      * first subword's position, possessive stripped). */
    "analysis_wdf" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text").as[(Long, String)]
        .map { case (id, text) =>
          val sp1 = text.indexOf(' ')
          val sp2 = text.indexOf(' ', sp1 + 1)
          val w2end = if (sp2 < 0) text.length else sp2
          (id, text.substring(0, sp1) + "-" + text.substring(sp1 + 1, w2end) + "'s")
        }
        .flatMap { case (id, composite) =>
          var pos = -1L
          graft.analysis.WordDelimiter.filter(
            Vector(graft.analysis.Token(composite, 0, composite.length, 1, "word")),
            graft.analysis.WordDelimiter.SolrDefaults |
              graft.analysis.WordDelimiter.CatenateAll)
            .map { t => pos += t.posInc; (id, t.term, pos) }
        }.toDF("doc_id", "term", "pos")
        .orderBy("doc_id", "pos", "term")
    }),

    /** CommonGramsFilter + CommonGramsQueryFilter (reference
      * analysis/common/.../commongrams/CommonGramsFilter.java:51,
      * CommonGramsQueryFilter.java:58): stage 'index' overlays a
      * "left_right" gram (posInc 0) after any unigram whose pair touches
      * a common word; stage 'query' keeps each gram (posInc forced to 1)
      * and only the unigrams no gram covers. Common set {the, a}; runs on
      * a 1-in-7 doc sample across all 5 corpus languages. */
    "analysis_commongrams" -> ((s, dir) => {
      import s.implicits._
      val common = Set("the", "a")
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 7 === 0)
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val toks = graft.analysis.StandardTokenizer.tokenize(text)
            .map(t => t.copy(term = graft.analysis.Analyzer.lowerCase(t.term)))
          def positions(ts: Vector[graft.analysis.Token], stage: String) = {
            var pos = -1L
            ts.map { t => pos += t.posInc; (id, stage, pos, t.term) }
          }
          positions(graft.analysis.CommonGrams.filter(toks, common), "index") ++
            positions(graft.analysis.CommonGrams.queryFilter(toks, common), "query")
        }
        .toDF("doc_id", "stage", "pos", "term")
        .orderBy("doc_id", "stage", "pos", "term")
    }),

    /** PathHierarchyTokenizer (reference analysis/common/.../path/
      * PathHierarchyTokenizer.java:38): each doc's synthetic path
      * "/lang/srcN/doc_id" emits every cumulative prefix at one position;
      * cfg 'skip1' drops the leading component (reference skip=1
      * semantics keep the delimiter: "/a/b/c" -> "/b", "/b/c"). */
    "analysis_pathhier" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 11 === 0)
        .select("doc_id", "lang", "source").as[(Long, String, String)]
        .flatMap { case (id, lang, src) =>
          val path = s"/$lang/$src/$id"
          graft.analysis.PathHierarchy.tokenize(path)
            .map(t => (id, "default", t.term)) ++
            graft.analysis.PathHierarchy.tokenize(path, skip = 1)
              .map(t => (id, "skip1", t.term))
        }
        .toDF("doc_id", "cfg", "term")
        .orderBy("doc_id", "cfg", "term")
    }),

    /** ReversePathHierarchyTokenizer (path/ReversePathHierarchyTokenizer
      * .java:126-180): path SUFFIXES at one position; skip=1 drops the
      * trailing component. Plus the round-4 misc filters on the same
      * rows: LimitTokenPositionFilter caps the upper-cased token stream
      * at position 2. */
    "analysis_pathhier_rev" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("lang") === "en" && col("doc_id") % 11 === 7)
        .select("doc_id", "lang", "source", "text").as[(Long, String, String, String)]
        .flatMap { case (id, lang, src, text) =>
          val path = s"/$lang/$src/$id"
          val ws = text.split(' ')
          val rev = graft.analysis.PathHierarchy.tokenizeReverse(path)
            .map(t => (id, "rev", t.term))
          val revSkip = graft.analysis.PathHierarchy.tokenizeReverse(path, skip = 1)
            .map(t => (id, "revskip1", t.term))
          val upper2 = graft.analysis.MiscFilters.limitTokenPosition(
            graft.analysis.StandardTokenizer.tokenize(s"${ws(0)} ${ws(1)} ${ws(2)}"), 2)
            .map(t => (id, "upper2", graft.analysis.MiscFilters.upperCase(t.term)))
          rev ++ revSkip ++ upper2
        }
        .toDF("doc_id", "cfg", "term")
        .orderBy("doc_id", "cfg", "term")
    }),

    /** PatternTokenizer (reference analysis/common/.../pattern/
      * PatternTokenizer.java:48): mode 'split' (group=-1, String.split
      * semantics on "[:\\-]") over "lang:w1-w2", mode 'group' (group=1)
      * extracting the quoted captures of "'w1' x 'w2'". */
    "analysis_pattern" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 13 === 0)
        .select("doc_id", "lang", "text").as[(Long, String, String)]
        .flatMap { case (id, lang, text) =>
          val sp1 = text.indexOf(' ')
          val sp2 = text.indexOf(' ', sp1 + 1)
          val w1 = text.substring(0, sp1)
          val w2 = text.substring(sp1 + 1, if (sp2 < 0) text.length else sp2)
          def emit(mode: String, toks: Vector[graft.analysis.Token]) = {
            var pos = -1L
            toks.map { t => pos += t.posInc; (id, mode, pos, t.term) }
          }
          emit("split", graft.analysis.PatternTokenizer.tokenize(
            s"$lang:$w1-$w2", "[:\\-]")) ++
            emit("group", graft.analysis.PatternTokenizer.tokenize(
              s"'$w1' x '$w2'", "'([^']+)'", group = 1))
        }
        .toDF("doc_id", "mode", "pos", "term")
        .orderBy("doc_id", "mode", "pos", "term")
    }),

    /** UAX29URLEmailTokenizer (standard/UAX29URLEmailTokenizerImpl.jflex:
      * 85-155): URL + EMAIL maximal-munch rules over the UAX#29 word
      * grammar — verified at full golden parity (643 URLs / 265 emails) in
      * t:UrlEmailSpec; here over per-doc composites so the oracle can
      * re-derive the expected stream. */
    "analysis_urlemail" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("lang") === "en" && col("doc_id") % 7 === 0)
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val ws = text.split(' ')
          val composite = s"visit ${ws(0)}.com/${ws(1)} mail ${ws(0)}@${ws(1)}.org end"
          graft.analysis.UrlEmail.tokenize(composite)
            .zipWithIndex.map { case (t, pos) => (id, pos.toLong, t.term, t.tokenType) }
        }
        .toDF("doc_id", "pos", "term", "type")
        .orderBy("doc_id", "pos")
    }),

    /** PatternReplaceFilter (pattern/PatternReplaceFilter.java:40,
      * first/all), PatternReplaceCharFilter (PatternReplaceCharFilter.java:50
      * — pre-tokenization replace with offset correction back into the
      * original text; `off` carries the corrected token start) and
      * PatternCaptureGroupTokenFilter (PatternCaptureGroupTokenFilter.java:94
      * — vowel-run captures, original kept when no group matches) over the
      * doc's first two words. */
    "analysis_patternreplace" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 17 === 0)
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val sp1 = text.indexOf(' ')
          val sp2 = text.indexOf(' ', sp1 + 1)
          val w1 = text.substring(0, sp1)
          val w2 = text.substring(sp1 + 1, if (sp2 < 0) text.length else sp2)
          val toks = Vector(
            graft.analysis.Token(w1, 0, w1.length, 1, "word"),
            graft.analysis.Token(w2, w1.length + 1, w1.length + 1 + w2.length, 1, "word"))
          val repAll = graft.analysis.PatternFilters.replace(toks, "[aeiou]", "_")
            .zipWithIndex.map { case (t, i) => (id, "replace_all", i.toLong, 0L, t.term) }
          val repFirst = graft.analysis.PatternFilters.replace(
            toks.take(1), "[aeiou]", "_", all = false)
            .map(t => (id, "replace_first", 0L, 0L, t.term))
          val (cfOut, correct) = graft.analysis.PatternFilters.replaceCharFilter(
            s"$w1 $w2", "a", "aa")
          val cfToks = {
            val out = Vector.newBuilder[graft.analysis.Token]
            var i = 0
            while (i < cfOut.length) {
              while (i < cfOut.length && cfOut(i) == ' ') i += 1
              if (i < cfOut.length) {
                val st = i
                while (i < cfOut.length && cfOut(i) != ' ') i += 1
                out += graft.analysis.Token(cfOut.substring(st, i), st, i, 1, "word")
              }
            }
            out.result()
          }
          val cf = cfToks.zipWithIndex.map { case (t, i) =>
            (id, "charfilter", i.toLong, correct(t.startOffset).toLong, t.term)
          }
          val cap = graft.analysis.PatternFilters.captureGroups(
            toks.take(1), preserveOriginal = false, "([aeiou]+)")
            .zipWithIndex.map { case (t, i) => (id, "capture", i.toLong, 0L, t.term) }
          repAll ++ repFirst ++ cf ++ cap
        }
        .toDF("doc_id", "mode", "ord", "off", "term")
        .orderBy("doc_id", "mode", "ord")
    }),

    /** MappingCharFilter + NormalizeCharMap (reference
      * charfilter/MappingCharFilter.java:80-176): greedy longest-match
      * replacement before tokenization with offset correction back to the
      * original text. Map {aa->a, e->ee, ing->1} is chosen so the DuckDB
      * oracle can re-derive the output with chained non-rescanning
      * replace() calls (the three patterns share no characters, so the
      * sequential and simultaneous scans are provably identical); corrected
      * token offsets must land on the ORIGINAL word boundaries. */
    "analysis_mapping" -> ((s, dir) => {
      import s.implicits._
      val normMap = graft.analysis.CharMaps.NormMap(
        "aa" -> "a", "e" -> "ee", "ing" -> "1")
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 23 === 0)
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val sp1 = text.indexOf(' ')
          val sp2 = text.indexOf(' ', sp1 + 1)
          val w1 = text.substring(0, sp1)
          val w2 = text.substring(sp1 + 1, if (sp2 < 0) text.length else sp2)
          val (out, correct) =
            graft.analysis.CharMaps.mappingCharFilter(s"$w1 $w2", normMap)
          val toks = Vector.newBuilder[(String, Int, Int)]
          var i = 0
          while (i < out.length) {
            while (i < out.length && out(i) == ' ') i += 1
            if (i < out.length) {
              val st = i
              while (i < out.length && out(i) != ' ') i += 1
              toks += ((out.substring(st, i), correct(st), correct(i)))
            }
          }
          toks.result().zipWithIndex.map { case ((term, cs, ce), ord) =>
            (id, ord.toLong, term, cs.toLong, ce.toLong)
          }
        }
        .toDF("doc_id", "ord", "term", "cstart", "cend")
        .orderBy("doc_id", "ord")
    }),

    /** Multi-valued field positionIncrementGap (reference
      * index/DefaultIndexingChain.java:577-583; Solr text fields'
      * positionIncrementGap="100"): a doc split into two values — a
      * phrase spanning the boundary cannot match the multi-valued field
      * but does match the single-value concat; an inner phrase matches
      * both. Docs whose first 4 words hit a stopword are skipped so the
      * oracle's adjacency algebra holds exactly. */
    "ft_multivalued_gap" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 11 === 0)
        .select("doc_id", "lang", "text").as[(Long, String, String)]
        .flatMap { case (id, lang, text) =>
          val ws = text.split(" ").filter(_.nonEmpty).take(4)
          val stops = graft.analysis.StopSets.forLang(lang)
          if (ws.length < 4 || ws.exists(stops)) None
          else {
            val multi = graft.search.Percolator.docIndexMulti(
              Seq(s"${ws(0)} ${ws(1)}", s"${ws(2)} ${ws(3)}"), lang)
            val single = graft.search.Percolator.docIndex(
              ws.mkString(" "), lang)
            val cross = graft.search.PhraseQ(Seq(ws(1), ws(2)), Seq(0, 1))
            val inner = graft.search.PhraseQ(Seq(ws(0), ws(1)), Seq(0, 1))
            Some((id,
              graft.search.Percolator.matches(multi, cross),
              graft.search.Percolator.matches(single, cross),
              graft.search.Percolator.matches(multi, inner)))
          }
        }
        .toDF("doc_id", "cross_multi", "cross_single", "inner_multi")
        .orderBy("doc_id")
    }),

    /** CurrencyField (reference solr/.../schema/CurrencyField.java:
      * 69-1010): orders priced in a per-key currency, converted at query
      * time to USD through the reference test currency.xml rates (incl.
      * the asymmetric EUR->USD 0.5 and the JPY fraction-digit delta) —
      * conversion rows plus a USD range query, all as codegen'd Columns. */
    "func_currency" -> ((s, dir) => {
      import s.implicits._
      val rates = graft.operators.Currency.Rates(Map(
        ("USD", "JPY") -> 81.29, ("USD", "EUR") -> 2.5,
        ("USD", "GBP") -> 0.5, ("EUR", "USD") -> 0.5))
      val docs = s.read.parquet(s"$dir/orders.parquet").select(
        col("o_orderkey").as("key"),
        (floor(col("o_totalprice")).cast("long") * 100).as("amount"),
        when(pmod(col("o_orderkey"), lit(4)) === 0, "USD")
          .when(pmod(col("o_orderkey"), lit(4)) === 1, "EUR")
          .when(pmod(col("o_orderkey"), lit(4)) === 2, "GBP")
          .otherwise("JPY").as("currency"))
      val conv = graft.operators.Currency.convertedColumn(
        rates, col("amount"), col("currency"), "USD")
      docs.where(col("key") % 50 === 0)
        .select(lit("conv").as("mode"), col("key"), col("currency"),
          conv.as("usd"))
        .unionByName(docs.where(col("key") % 10 === 0)
          .where(graft.operators.Currency.rangeFilter(rates, col("amount"),
            col("currency"), "USD", Some(10000000L), Some(20000000L)))
          .select(lit("range").as("mode"), col("key"), col("currency"),
            conv.as("usd")))
        .orderBy("mode", "key")
    }),

    /** SolrCloud CompositeIdRouter (reference solr/solrj/.../cloud/
      * CompositeIdRouter.java:36-326): docs routed by `lang!doc_id`
      * composite keys onto a 4-shard ring — placement depends only on the
      * route key's top 16 hash bits — plus route-key query pruning rows
      * (`en!` hits one shard; `fr/1!` covers the ring's top-bit half).
      * Oracle constants are derived from an INDEPENDENT murmur3
      * implementation, not this code. */
    "route_composite" -> ((s, dir) => {
      import s.implicits._
      val shards = graft.index.CompositeId.partitionRange(4)
      val routed = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "lang").as[(Long, String)]
        .map { case (id, lang) =>
          ("route", id, lang,
            graft.index.CompositeId.shardOf(s"$lang!$id", shards).toLong)
        }
      val prunes =
        graft.index.CompositeId.searchShards(Some("en!"), shards)
          .map(sh => ("prune_en", -1L, "en", sh.toLong)) ++
        graft.index.CompositeId.searchShards(Some("fr/1!"), shards)
          .map(sh => ("prune_fr1", -1L, "fr", sh.toLong))
      routed.toDF("mode", "doc_id", "lang", "shard")
        .unionByName(prunes.toDF("mode", "doc_id", "lang", "shard"))
        .orderBy("mode", "doc_id", "shard")
    }),

    /** ExternalFileField / FileFloatSource (reference solr/.../schema/
      * ExternalFileField.java:47, search/function/FileFloatSource.java:
      * 241-325): per-doc floats from synthesized "key=value" lines —
      * base values, later override lines that win, malformed lines that
      * are skipped without erasing, a key containing '=' matching no doc,
      * and defVal=0.25 for docs absent from the file. */
    "func_external" -> ((s, dir) => {
      import s.implicits._
      val ids = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id").as[Long]
      val lines = ids.filter(_ % 3 == 0).flatMap { id =>
        Seq((id, s"d$id=${(id % 7) * 0.5}")) ++
          (if (id % 6 == 0) Seq((2000000000L + id, s"d$id=${(id % 5) + 0.25}")) else Nil) ++
          (if (id % 9 == 0) Seq((4000000000L + id, s"d$id=oops")) else Nil) ++
          (if (id == 0) Seq((5000000000L, "weird=key=9.5"), (5000000001L, "garbage")) else Nil)
      }
      val parsed = graft.functions.ExternalFile.parse(lines)
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 2 === 0)
        .select(col("doc_id"), concat(lit("d"), col("doc_id")).as("dockey"))
      graft.functions.ExternalFile.joinValues(docs, "dockey", parsed, 0.25f)
        .select(col("doc_id"), col("ext").cast("double").as("ext"))
        .orderBy("doc_id")
    }),

    /** ICUCollationKeyAnalyzer / ICUCollationDocValuesField sort
      * (reference analysis/icu/.../collation/ICUCollationKeyAnalyzer
      * .java:40, TestICUCollationDocValuesField.testBasic): case-variant
      * terms ordered by their binary ICU en collation keys — lowercase
      * before uppercase at tertiary strength, unlike code-point order.
      * Spark's BinaryType ordering IS the unsigned key comparison, so the
      * sort distributes as a plain orderBy. */
    "analysis_collation" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 13 === 0)
        .select("text").as[String]
        .map(t => t.substring(0, math.max(t.indexOf(' '), 1)))
        .flatMap(w => Seq(w, w.capitalize, w.toUpperCase))
        .distinct()
        .map(t => (t, graft.analysis.Collation.enKeyOf(t)))
        .toDF("term", "key")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("key"), col("term"))).cast("long"))
        .select("rank", "term")
        .orderBy("rank")
    }),

    /** KeywordMarkerFilter + StemmerOverrideFilter (reference
      * analysis/common/.../miscellaneous/SetKeywordMarkerFilter.java:29,
      * StemmerOverrideFilter.java:41): the distinct English corpus
      * vocabulary stemmed under keyword set {query} (protected from the
      * stemmer) and override map {customer->client, merge->combin}. The
      * oracle enumerates the expected surface->stem pairs independently
      * from English morphology. */
    "analysis_stemcontrol" -> ((s, dir) => {
      import s.implicits._
      val keywords = Set("query")
      val overrides = Map("customer" -> "client", "merge" -> "combin")
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("lang") === "en")
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (_, text) =>
          graft.analysis.Analyzer.analyzeFlat(text, Set.empty)._1.toSeq
        }
        .distinct()
        .map(t => (t, graft.analysis.StemControl.porterWithControl(
          t, keywords, overrides)))
        .toDF("term", "stem")
        .orderBy("term")
    }),

    /** NGramTokenFilter + NGramTokenizer (reference analysis/common/
      * .../ngram/NGramTokenFilter.java:31, NGramTokenizer.java:30): mode
      * 'filter' = 2..3-grams of the doc's first word in reference order
      * (by start offset, then length); mode 'tokenizer' = 2-grams of the
      * doc's first 8 chars — the streaming tokenizer crosses spaces
      * (every char is a token char by default). */
    "analysis_ngram" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 9 === 0)
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val w1 = text.substring(0, text.indexOf(' '))
          val f = graft.analysis.NGrams.filter(
            Vector(graft.analysis.Token(w1, 0, w1.length, 1, "word")), 2, 3)
            .zipWithIndex.map { case (t, i) => (id, "filter", i.toLong, t.term) }
          val tk = graft.analysis.NGrams.tokenize(text.substring(0, 8), 2, 2)
            .zipWithIndex.map { case (t, i) => (id, "tokenizer", i.toLong, t.term) }
          f ++ tk
        }
        .toDF("doc_id", "mode", "ord", "term")
        .orderBy("doc_id", "mode", "ord")
    }),

    /** EdgeNGramTokenFilter (reference analysis/common/.../ngram/
      * EdgeNGramTokenFilter.java:30): 1..4-char front grams of the doc's
      * first two words; all grams of a word share its position (first
      * carries the increment). */
    "analysis_edgengram" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 9 === 0)
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val sp1 = text.indexOf(' ')
          val sp2 = text.indexOf(' ', sp1 + 1)
          val w1 = text.substring(0, sp1)
          val w2 = text.substring(sp1 + 1, if (sp2 < 0) text.length else sp2)
          var pos = -1L
          graft.analysis.NGrams.edgeFilter(Vector(
            graft.analysis.Token(w1, 0, w1.length, 1, "word"),
            graft.analysis.Token(w2, sp1 + 1, sp1 + 1 + w2.length, 1, "word")),
            1, 4)
            .map { t => pos += t.posInc; (id, pos, t.term) }
        }
        .toDF("doc_id", "pos", "term")
        .orderBy("doc_id", "pos", "term")
    }),

    /** ShingleFilter (reference analysis/common/.../shingle/
      * ShingleFilter.java:45): bigram shingles + unigrams over each
      * doc's stop-filtered token stream — stopword holes become "_"
      * fillers (capped at maxShingleSize-1 = 1 per hole, so output
      * positions compress across multi-stopword runs exactly like the
      * reference). kind column = reference token type (word/shingle). */
    "analysis_shingle" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 5 === 1)
        .select("doc_id", "lang", "text").as[(Long, String, String)]
        .flatMap { case (id, lang, text) =>
          var prev = -1
          val stops = graft.analysis.StopSets.forLang(lang)
          val toks = Analyzer.analyze(text, stops).map { tp =>
            val inc = tp.position - prev; prev = tp.position
            graft.analysis.Token(tp.term, 0, 0, inc, "word")
          }
          var pos = -1L
          graft.analysis.Shingles.filter(toks).map { t =>
            pos += t.posInc
            (id, pos,
              if (t.tokenType == graft.analysis.Shingles.ShingleType) "shingle"
              else "word",
              t.term)
          }
        }
        .toDF("doc_id", "pos", "kind", "term")
        .orderBy("doc_id", "pos", "kind", "term")
    }),

    /** The small single-purpose filters (reference miscellaneous/
      * LengthFilter, KeepWordFilter, TruncateTokenFilter,
      * LimitTokenCountFilter, util/ElisionFilter): one mode per filter
      * over a 1-in-8 doc sample; 'length26' and 'keep' preserve position
      * gaps (FilteringTokenFilter), 'elision' runs the French article
      * strip over synthesized "l'w1 qu'w2 x'w3" composites. */
    "analysis_miscfilters" -> ((s, dir) => {
      import s.implicits._
      import graft.analysis.{MiscFilters, Token => Tok}
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 8 === 2)
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val toks = Analyzer.analyze(text, Set.empty)
            .map(tp => Tok(tp.term, 0, 0, 1, "word"))
          def emit(mode: String, ts: Seq[Tok]) = {
            var pos = -1L
            ts.map { t => pos += t.posInc; (id, mode, pos, t.term) }
          }
          val words = text.split(' ')
          val eli = Vector(s"l'${words(0)}", s"qu'${words(1)}", s"x'${words(2)}")
            .map(w => Tok(MiscFilters.elision(w, MiscFilters.FrenchArticles),
              0, 0, 1, "word"))
          emit("length26", MiscFilters.lengthFilter(toks, 2, 6)) ++
            emit("keep", MiscFilters.keepWords(toks,
              Set("spark", "data", "merge"))) ++
            emit("trunc4", MiscFilters.truncate(toks, 4)) ++
            emit("limit10", MiscFilters.limitTokenCount(toks, 10)) ++
            emit("elision", eli)
        }
        .toDF("doc_id", "mode", "pos", "term")
        .orderBy("doc_id", "mode", "pos", "term")
    }),

    /** KStem (reference en/KStemmer.java:71, Solr KStemFilterFactory):
      * dictionary-gated stems of the corpus vocabulary's inflected forms
      * (base, +s, +ing, +ed, +es), restricted to the probe forms the
      * reference's own golden file covers — so the oracle's expected
      * stems are verbatim reference data, incl. the dictionary-gated
      * asymmetries (columns->column but lines->lines, ordering->order
      * but ordered->ordered). */
    "analysis_kstem" -> ((s, dir) => {
      import s.implicits._
      val probe = Set("a", "as", "big", "columns", "customers", "data",
        "dupes", "fast", "filter", "filtered", "group", "groups", "join",
        "joined", "joining", "key", "line", "lines", "order", "ordered",
        "ordering", "orders", "part", "parts", "query", "row", "slow",
        "small", "sort", "sorts", "sparks", "stream", "streamed",
        "streaming", "streams", "table", "the", "value", "values", "windows")
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("lang") === "en")
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (_, text) =>
          graft.analysis.Analyzer.analyzeFlat(text, Set.empty)._1.toSeq
        }
        .distinct()
        .flatMap(t => Seq(t, t + "s", t + "ing", t + "ed", t + "es")
          .filter(probe))
        .distinct()
        .map(f => (f, graft.analysis.KStem.stem(f)))
        .toDF("form", "stem")
        .orderBy("form")
    }),

    /** Typed PII redaction (training-data pipeline pass; the blocklist
      * scrub's typed sibling): emails / SSNs / phone fragments / IPv4
      * addresses synthesized deterministically from corpus columns,
      * replaced by typed placeholders with per-type audit counts. */
    "scrub_pii" -> ((s, dir) => {
      val d = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 10 === 4)
        .select(col("doc_id"),
          concat(
            substring_index(col("text"), " ", 1), lit(" reach "),
            substring_index(col("text"), " ", 1), lit("."),
            element_at(split(col("text"), " "), 2),
            lit("@mail.example.com or 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" ssn 042-68-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
            lit(" host 10."), (col("doc_id") % 256).cast("string"),
            lit(".0.12 end")).as("text"))
      graft.operators.TextAnalysis.piiRedact(d).orderBy("doc_id")
    }),

    /** Core character-class tokenizers + DelimitedPayloadTokenFilter
      * (reference core/WhitespaceTokenizer, LetterTokenizer,
      * LowerCaseTokenizer, KeywordTokenizer; payloads/
      * DelimitedPayloadTokenFilter.java:30): one mode per tokenizer over
      * a per-doc composite "w1-W2 w39w1" (hyphen/digit/case boundaries),
      * plus payload parsing of "w1|2.5 w2|7 w3". */
    "analysis_tokenizers" -> ((s, dir) => {
      import s.implicits._
      import graft.analysis.Tokenizers
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 12 === 5)
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val ws = text.split(' ')
          val (w1, w2, w3) = (ws(0), ws(1), ws(2))
          val c = s"$w1-${w2.toUpperCase} ${w3}9$w1"
          def emit(mode: String, toks: Seq[graft.analysis.Token]) =
            toks.zipWithIndex.map { case (t, i) =>
              (id, mode, i.toLong, t.term, Option.empty[String])
            }
          emit("ws", Tokenizers.whitespace(c)) ++
            emit("letter", Tokenizers.letter(c)) ++
            emit("lcletter", Tokenizers.lowerCaseLetter(c)) ++
            emit("keyword", Tokenizers.keyword(c)) ++
            Tokenizers.delimitedPayload(
              Tokenizers.whitespace(s"$w1|2.5 $w2|7 $w3")).zipWithIndex
              .map { case ((t, pay), i) => (id, "payload", i.toLong, t.term, pay) }
        }
        .toDF("doc_id", "mode", "pos", "term", "payload")
        .orderBy("doc_id", "mode", "pos")
    }),

    /** Tee/sink routing (sinks/TeeSinkTokenFilter.java:46 + the three
      * SinkFilters): one analysis pass feeds date-recognizer, token-range
      * and token-type sinks; passthrough unchanged. */
    "analysis_sinks" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 12 === 5)
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val ws = text.split(' ')
          val (w1, w2, w3) = (ws(0), ws(1), ws(2))
          val toks = graft.analysis.Tokenizers.whitespace(
            s"$w1 7/11/2006 $w2 $w3 8/09/2010")
          val (pass, sunk) = graft.analysis.Sinks.tee(toks, Seq(
            graft.analysis.Sinks.dateRecognizer("MM/dd/yyyy"),
            graft.analysis.Sinks.tokenRange(1, 3),
            graft.analysis.Sinks.tokenType("word")))
          def emit(sink: String, ts: Seq[graft.analysis.Token]) =
            ts.zipWithIndex.map { case (t, i) => (id, sink, i.toLong, t.term) }
          emit("pass", pass) ++ emit("dates", sunk(0)) ++
            emit("range", sunk(1)) ++ emit("types", sunk(2))
        }.toDF("doc_id", "sink", "pos", "term")
        .orderBy("doc_id", "sink", "pos")
    }),

    /** Payload token filters (payloads/NumericPayloadTokenFilter.java:33,
      * TokenOffsetPayloadTokenFilter.java:36, TypeAsPayloadTokenFilter
      * .java:36 + PayloadHelper.java:26-44 big-endian encodings): payloads
      * rendered as lowercase hex for the comparison. */
    "analysis_payloads" -> ((s, dir) => {
      import s.implicits._
      import graft.analysis.Tokenizers
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 12 === 5)
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val ws = text.split(' ')
          val (w1, w2) = (ws(0), ws(1))
          // StandardTokenizer types the words <ALPHANUM> and 42 <NUM>
          val toks = graft.analysis.StandardTokenizer.tokenize(s"$w1 42 $w2")
          def hex(b: Array[Byte]) = b.map(x => f"$x%02x").mkString
          val base = toks.map(t => (t, Option.empty[Array[Byte]]))
          Tokenizers.numericPayload(base, 3.0f, "<NUM>").zipWithIndex.map {
            case ((t, p), i) => (id, "numeric", i.toLong, t.term, p.map(hex))
          } ++
            Tokenizers.tokenOffsetPayload(toks).zipWithIndex.map {
              case ((t, p), i) => (id, "offset", i.toLong, t.term, Some(hex(p)))
            } ++
            Tokenizers.typeAsPayload(base).zipWithIndex.map {
              case ((t, p), i) => (id, "type", i.toLong, t.term, p.map(hex))
            }
        }
        .toDF("doc_id", "mode", "pos", "term", "payload")
        .orderBy("doc_id", "mode", "pos")
    }),

    /** ClassicTokenizer + ClassicFilter (reference standard/
      * ClassicTokenizerImpl.jflex:75, ClassicFilter.java:30): per-doc
      * composite "AT&T w1's U.S.A. w2.example.org 1-2-3 w1_x" exercises
      * COMPANY, APOSTROPHE (+possessive strip), ACRONYM (+dot strip),
      * HOST, NUM, and the underscore split; token types included. */
    /** FastVectorHighlighter (vectorhighlight/FastVectorHighlighter.java:33):
      * phrase-aware fragment highlighting — the "zebraq lionq" phrase tags
      * as ONE span (not per-term), fragments are match-centered
      * (fragCharSize 40, margin 6), boundary-snapped, and score-ordered
      * (the phrase+term fragment outranks the phrase-only one). The doc's
      * own first word prefixes the content, shifting all offsets per doc;
      * the emitted fragments are offset-invariant because windows stay
      * inside the fixed tail — which is what the oracle pins. */
    "ft_highlight_fvh" -> ((s, dir) => {
      import s.implicits._
      import graft.search.FastVectorHighlight
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("lang") === "en" && col("doc_id") % 11 === 5)
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val w1 = text.split(' ')(0)
          val content = s"$w1 opening filler sentence runs first. The " +
            "zebraq lionq pair appears early here, then much later in " +
            "the long tail another zebraq lionq shows up with tigerq " +
            "close by near the end of it all."
          val tokens = "\\S+".r.findAllMatchIn(content).zipWithIndex.map {
            case (m, i) => FastVectorHighlight.Token(
              m.matched.toLowerCase(java.util.Locale.ROOT), i, m.start, m.end)
          }.toSeq
          FastVectorHighlight.bestFragments(tokens, content,
            Seq(FastVectorHighlight.FlatPhrase(Vector("zebraq", "lionq")),
              FastVectorHighlight.FlatTerm("tigerq")),
            fragCharSize = 40, maxNumFragments = 2)
            .zipWithIndex.map { case (f, i) => (id, i.toLong, f) }
        }.toDF("doc_id", "rank", "fragment").orderBy("doc_id", "rank")
    }),

    /** Classic (re-analysis) Highlighter — Solr 5.2's DEFAULT highlight
      * path (highlight/Highlighter.java:179, QueryTermScorer.java:36,
      * QueryScorer.java:107, WeightedSpanTermExtractor.java:54): one
      * column highlights every analyzed 'vector' token (position-
      * INsensitive QueryTermScorer), the other highlights only tokens
      * inside a matched "data vector" phrase span (position-sensitive
      * QueryScorer); NullFragmenter keeps the whole text so the oracle
      * can re-derive the markup. Per-row, zero-shuffle map — the scan
      * parallelizes like any row transform at 100 TB. */
    "ft_highlight_classic" -> ((s, dir) => {
      import s.implicits._
      import graft.search.ClassicHighlight._
      s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val toks = graft.analysis.StandardTokenizer.tokenize(text).map(t =>
            Tok(graft.analysis.Analyzer.lowerCase(t.term),
              t.startOffset, t.endOffset, t.posInc))
          val term = highlight(toks, text, extractFlat(HTerm("vector")), NullFrag)
          if (term.numHighlights == 0) None
          else {
            val phrase = highlight(toks, text,
              extract(HPhrase(Seq("data" -> 0, "vector" -> 1)), toks), NullFrag)
            Some((id, term.numHighlights.toLong, term.frags.head.text,
              phrase.numHighlights.toLong,
              phrase.frags.headOption.map(_.text).getOrElse(text)))
          }
        }.toDF("doc_id", "n_term", "hl_term", "n_phrase", "hl_phrase")
        .orderBy("doc_id")
    }),

    /** Passage-model highlighting (postingshighlight/PostingsHighlighter
      * .java:97): sentence passages scored norm*sum(weight*tf); the
      * double-hit sentence and the single-hit sentence win over the
      * no-hit ones, formatted with <b> match wrapping. Offsets are
      * computed by the analyzer over the stored text (this engine's
      * postings store positions; the passage model is the reference's). */
    "ft_highlight_postings" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("lang") === "en" && col("doc_id") % 11 === 8)
        .select("doc_id").as[Long]
        .flatMap { id =>
          val content =
            s"Doc $id alpha. Vector beta vector. Gamma delta. Vector epsilon."
          val lower = content.toLowerCase(java.util.Locale.ROOT)
          val offs = Iterator.iterate(lower.indexOf("vector"))(i =>
            lower.indexOf("vector", i + 1)).takeWhile(_ >= 0)
            .map(i => (i, i + 6)).toArray
          graft.search.PostingsHighlight
            .highlight(content, Map("vector" -> offs), 2)
            .map { p =>
              (id, (p.start - id.toString.length).toLong,
                graft.search.PostingsHighlight.format(content, p)
                  .replaceAll("\\s+$", ""))
            }
        }.toDF("doc_id", "pos", "snippet").orderBy("doc_id", "pos")
    }),

    /** UTR#30 character folding (icu/ICUFoldingFilter.java:63): Greek
      * case+accent folds, digit folding, Latin diacritic folds — the
      * reference's own test vectors, plus the (already-folded) corpus
      * word passing through. */
    "analysis_icufold" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("lang") === "en" && col("doc_id") % 11 === 7)
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val w1 = text.split(' ')(0)
          Seq("Ruß", "ΜΆΪΟΣ", "résumé", "৭০৬", "cræzy", "ELİF", w1)
            .zipWithIndex.map { case (t, pos) =>
              (id, pos.toLong, graft.analysis.IcuFolding.fold(t))
            }
        }.toDF("doc_id", "pos", "term").orderBy("doc_id", "pos")
    }),

    /** ICUNormalizer2Filter (icu/ICUNormalizer2Filter.java:51, default
      * nfkc_cf) over ICU4J itself — the reference's own test vectors
      * (TestICUNormalizer2Filter.java:56-72) plus a corpus word. */
    "analysis_icunorm" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("lang") === "en" && col("doc_id") % 11 === 7)
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val w1 = text.split(' ')(0)
          Seq("This", "Ruß", "ΜΆΪΟΣ", "ﴳﴺﰧ", w1)
            .zipWithIndex.map { case (t, pos) =>
              (id, pos.toLong, graft.analysis.IcuText.normalize(t))
            }
        }.toDF("doc_id", "pos", "term").orderBy("doc_id", "pos")
    }),

    /** ICUTransformFilter (icu/ICUTransformFilter.java:60) — system
      * transliterators over the reference's basic-functionality vectors
      * (TestICUTransformFilter.java:38-51). */
    "analysis_icutransform" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("lang") === "en" && col("doc_id") % 11 === 7)
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val w1 = text.split(' ')(0)
          Seq("Traditional-Simplified" -> "簡化字",
            "Katakana-Hiragana" -> "ヒラガナ",
            "Any-Latin" -> "Αλφαβητικός",
            "NFD; [:Nonspacing Mark:] Remove" -> "Alphabētikós",
            "Han-Latin" -> "中国",
            "Any-Latin" -> w1)
            .zipWithIndex.map { case ((tr, t), pos) =>
              (id, pos.toLong, graft.analysis.IcuText.transform(tr, t))
            }
        }.toDF("doc_id", "pos", "term").orderBy("doc_id", "pos")
    }),

    /** ICUTokenizer segmentation (icu/segmentation/ICUTokenizer.java:49):
      * UAX#29 words + ICU dictionary breaks — Thai and CJK runs split
      * into words, positions assigned in reading order. */
    "analysis_icutokenize" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("lang") === "en" && col("doc_id") % 11 === 7)
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val w1 = text.split(' ')(0)
          graft.analysis.IcuText
            .tokenize(s"$w1 คนที่ไปโรงเรียน 1234 日本語テキスト don't")
            .map { case (t, pos) => (id, pos.toLong, t) }
        }.toDF("doc_id", "pos", "term").orderBy("doc_id", "pos")
    }),

    /** Chinese word segmentation over the reference's SmartCN lexicon
      * (smartcn/HMMChineseTokenizer.java:38; unigram-DP on coredict.mem):
      * the reference test sentence segments into its 6 words; the corpus
      * word follows after a stopped-delimiter position gap. */
    "analysis_smartcn" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("lang") === "en" && col("doc_id") % 7 === 5)
        .select("doc_id").as[Long]
        .flatMap { id =>
          // trailing digits: Porter-neutral per-doc variation
          val (terms, positions) =
            graft.analysis.SmartChinese.analyzeFlat(s"我购买了道具和服装。$id")
          terms.indices.map(i => (id, positions(i).toLong, terms(i)))
        }.toDF("doc_id", "pos", "term").orderBy("doc_id", "pos")
    }),

    /** Japanese lexicon-DP segmentation chain (reference kuromoji
      * JapaneseAnalyzer minus the cost-table stages — analysis/Japanese):
      * TestJapaneseTokenizer.testDecomposition2's sentence segments at
      * reference parity; the chain's ja stop set then removes
      * の/は/ば/なら/ない with position gaps; a per-doc digit suffix
      * varies the last token. */
    /** Japanese iteration-mark (odoriji) normalization (reference
      * kuromoji JapaneseIterationMarkCharFilter — analysis/Japanese
      * .iterationMarkNormalize): variant 0 = kanji+kana, variant 1 =
      * kana-only; per-doc digit suffix varies the row. */
    "analysis_ja_itermark" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("lang") === "en" && col("doc_id") % 11 === 3)
        .select("doc_id").as[Long]
        .flatMap { id =>
          val src = s"時々、おゝの$id。ところゞゝゝ。"
          Seq(
            (id, 0L, graft.analysis.Japanese.iterationMarkNormalize(src)),
            (id, 1L, graft.analysis.Japanese.iterationMarkNormalize(
              src, normalizeKanji = false)))
        }.toDF("doc_id", "variant", "norm").orderBy("doc_id", "variant")
    }),

    "analysis_japanese" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("lang") === "en" && col("doc_id") % 9 === 4)
        .select("doc_id").as[Long]
        .flatMap { id =>
          val (terms, positions) = graft.analysis.Japanese.analyzeFlat(
            s"麻薬の密売は根こそぎ絶やさなければならない$id")
          terms.indices.map(i => (id, positions(i).toLong, terms(i)))
        }.toDF("doc_id", "pos", "term").orderBy("doc_id", "pos")
    }),

    /** Token statistics on SEGMENTED Chinese (the LLM-pipeline integration
      * the bigram tokens could not give): n_tokens / n_distinct over the
      * lexicon-segmented text, repeat count varying per doc. */
    "zh_token_stats" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("lang") === "en" && col("doc_id") % 11 === 6)
        .select("doc_id").as[Long]
        .map { id =>
          val k = (id % 3 + 1).toInt
          val zh = Array.fill(k)("我购买了道具和服装").mkString("。")
          val toks = graft.analysis.SmartChinese.analyzeFlat(zh)._1
          (id, toks.length.toLong, toks.distinct.length.toLong)
        }.toDF("doc_id", "n_tokens", "n_distinct").orderBy("doc_id")
    }),

    /** Token statistics on SEGMENTED Japanese (mirror of zh_token_stats:
      * the LLM-pipeline stat the CJK bigram fallback skewed): n_tokens /
      * n_distinct over lexicon-DP tokens after the ja stop set, repeat
      * count varying per doc. */
    "ja_token_stats" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("lang") === "en" && col("doc_id") % 11 === 7)
        .select("doc_id").as[Long]
        .map { id =>
          val k = (id % 3 + 1).toInt
          val ja = Array.fill(k)(
            "麻薬の密売は根こそぎ絶やさなければならない")
            .mkString("。")
          val toks = graft.analysis.Japanese.analyzeFlat(ja)._1
          (id, toks.length.toLong, toks.distinct.length.toLong)
        }.toDF("doc_id", "n_tokens", "n_distinct").orderBy("doc_id")
    }),

    /** Grammar-based compound decomposition (compound/
      * HyphenationCompoundWordTokenFilter.java:36, da_UTF8.xml grammar):
      * the reference's own test sentence decomposes læsehest -> læse +
      * hest at the compound's position; other tokens pass through. */
    "ft_compound_hyph" -> ((s, dir) => {
      import s.implicits._
      val dict = Set("læse", "hest")
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("lang") === "en" && col("doc_id") % 7 === 4)
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val w1 = text.split(' ')(0)
          val toks = "min veninde som er lidt af en læsehest".split(' ') :+ w1
          toks.zipWithIndex.flatMap { case (t, pos) =>
            (t +: graft.analysis.Hyphenation.decompose(
              graft.analysis.Hyphenation.danish, t, dict))
              .map(st => (id, pos.toLong, st))
          }
        }.toDF("doc_id", "pos", "term").orderBy("doc_id", "pos", "term")
    }),

    /** Hunspell affix stemming (hunspell/Stemmer.java, HunspellStemFilter
      * .java:48) with the reference's own simple.aff/simple.dic fixture:
      * suffix strip, prefix strip, homonym multi-stem, and pass-through
      * for out-of-dictionary corpus words. */
    "analysis_hunspell" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("lang") === "en" && col("doc_id") % 7 === 3)
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val w1 = text.split(' ')(0)
          val toks = Seq("mahoute", "solr", "foos", "lucene", w1)
          toks.zipWithIndex.flatMap { case (t, pos) =>
            graft.analysis.Hunspell.filterToken(graft.analysis.Hunspell.simple, t)
              .map(st => (id, pos.toLong, st))
          }
        }.toDF("doc_id", "pos", "term").orderBy("doc_id", "pos", "term")
    }),

    /** Thai dictionary segmentation (th/ThaiTokenizer.java:36): the fixed
      * sentence splits into the reference's 8 words (TestThaiAnalyzer
      * vector), then the corpus word follows at position 8. */
    "analysis_thai" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("lang") === "en" && col("doc_id") % 5 === 2)
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val w1 = text.split(' ')(0)
          val c = s"การที่ได้ต้องแสดงว่างานดี $w1"
          val (terms, positions) = graft.analysis.Thai.analyzeFlat(c, Set.empty)
          terms.indices.map(i => (id, positions(i).toLong, terms(i)))
        }.toDF("doc_id", "pos", "term").orderBy("doc_id", "pos")
    }),

    /** Morfologik dictionary lemmatization (morfologik/MorfologikFilter
      * .java:96-151): "Liście" reaches the lemma set via the lowercased
      * fallback lookup (4 lemmas at pos 0), "danych" hits directly (4
      * lemmas at pos 1), and the corpus word — keyword-marked, the
      * reference's own testKeywordAttrTokens path — passes through. */
    "analysis_morfologik" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("lang") === "en" && col("doc_id") % 7 === 5)
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val w1 = text.split(' ')(0)
          val (terms, positions) = graft.analysis.Morfologik.analyzeFlat(
            s"Liście danych $w1", graft.analysis.Morfologik.testDict,
            keywords = Set(w1))
          terms.indices.map(i => (id, positions(i).toLong, terms(i)))
        }.toDF("doc_id", "pos", "term").orderBy("doc_id", "pos", "term")
    }),

    "analysis_classic" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("lang") === "en" && col("doc_id") % 3 === 1)
        .select("doc_id", "text").as[(Long, String)]
        .flatMap { case (id, text) =>
          val ws = text.split(' ')
          val c = s"AT&T ${ws(0)}'s U.S.A. ${ws(1)}.example.org 1-2-3 ${ws(0)}_x"
          var pos = -1L
          graft.analysis.Classic.filter(graft.analysis.Classic.tokenize(c))
            .map { t =>
              pos += t.posInc
              (id, pos, graft.analysis.Analyzer.lowerCase(t.term), t.tokenType)
            }
        }
        .toDF("doc_id", "pos", "term", "typ")
        .orderBy("doc_id", "pos")
    }),

    /** SweetSpotSimilarity (reference lucene/misc/.../SweetSpotSimilarity
      * .java:44): Classic TF-IDF with a flat lengthNorm plateau
      * (dl in [60,100] -> norm 1.0, steep 0.5 outside) and a
      * baseline-floored tf (tf<=2 -> 1.0, else sqrt(tf-1)); applied at
      * query time to the quantized dl from the stored norm byte. */
    "ft_sweetspot" -> ((s, dir) => {
      val r = reader(s, dir)
      new JoinScorer(r, Similarities.sweetSpot(baseTf = 1.0f, minTf = 2.0f,
          plateauMin = 60, plateauMax = 100))
        .topK(should("spark", "merge", "window"), 15)
        .join(idMap(r), "docId")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** Composite search handler (solr/.../component/SearchHandler.java —
      * the default /select pipeline): q + fq + paging + highlighting in
      * ONE request: BM25 "spark window", filtered to lang:en BEFORE
      * ranking (fq semantics), page 2 (ranks 6-10), with a snippet
      * window per hit. */
    "search_handler" -> ((s, dir) => {
      val r = reader(s, dir)
      val q = QueryParser.parse("spark window")
      val docs = s.read.parquet(s"$dir/documents.parquet")
      new JoinScorer(r).scores(q).toDF("docId", "score")
        .join(idMap(r), "docId")
        .join(docs.select("doc_id", "lang", "text"), "doc_id")
        .where(col("lang") === "en")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .where(col("rank") > 5 && col("rank") <= 10)
        .select(col("rank"), col("doc_id"),
          substring(col("text"),
            greatest(lit(1), locate("spark", lower(col("text"))) - 10),
            lit(40)).as("snippet"))
        .orderBy("rank")
    }),

    /** Luke field info (solr/admin/luke, lucene index/FieldInfos): per
      * indexed field, the dictionary size + total/max term stats — one
      * pass over termstats, no postings. */
    "index_fieldinfo" -> ((s, dir) => {
      val r = reader(s, dir)
      r.termStatsDf.toDF()
        .withColumn("field",
          when(col("term").startsWith("path:"), "path")
            .when(col("term").startsWith("rev:"), "rev")
            .otherwise("content"))
        .groupBy("field")
        .agg(count(lit(1)).cast("long").as("n_terms"),
          sum("ttf").cast("long").as("sum_ttf"),
          max("df").cast("long").as("max_df"))
        .orderBy("field")
    }),

    /** Per-language corpus statistics (Luke / admin index stats sliced by
      * lang — docs, analyzed tokens, vocabulary size, mean field length).
      * One exploded-token agg + one doc-count agg, joined on 5 rows. */
    "corpus_stats" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val tok = docs.select(col("lang"),
        explode(graft.functions.TextFns.tokensLang(col("text"), col("lang")))
          .as("term"))
      val t = tok.groupBy("lang").agg(count(lit(1)).as("n_tok"),
        countDistinct(col("term")).as("vocab"))
      val d = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      d.join(t, Seq("lang"))
        .select(col("lang"), col("n_docs"), col("n_tok"), col("vocab"),
          round(col("n_tok").cast("double") / col("n_docs"), 4)
            .as("mean_dl"))
        .orderBy("lang")
    }),

    /** HighFreqTerms (lucene/misc/.../index/HighFreqTerms.java): top
      * dictionary terms by total term frequency — straight off the
      * termstats relation, no postings touched. */
    "high_freq_terms" -> ((s, dir) => {
      val r = reader(s, dir)
      r.termStatsDf.toDF()
        .where(!col("term").startsWith("path:") &&
          !col("term").startsWith("rev:"))
        .orderBy(col("ttf").desc, col("term")).limit(10)
        .select(col("term"), col("ttf"), col("df"))
    }),

    /** BoostingQuery (lucene/queries/.../BoostingQuery.java): the main
      * query scores normally, but docs also matching the context query
      * are DEMOTED (score x 0.5) without being excluded — the
      * "soft NOT". */
    "ft_boosting_demote" -> ((s, dir) => {
      val r = reader(s, dir)
      val main = QueryParser.parse("spark window")
      val ctx = QueryParser.parse("slow")
      val js = new JoinScorer(r)
      val ctxDocs = js.scores(ctx).toDF("docId", "cs").select("docId")
        .withColumn("demote", lit(0.5))
      js.scores(main).toDF("docId", "score")
        .join(ctxDocs, Seq("docId"), "left")
        .withColumn("fscore",
          col("score").cast("double") * coalesce(col("demote"), lit(1.0)))
        .join(idMap(r), "docId")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("fscore").desc, col("doc_id").asc)).cast("long"))
        .where(col("rank") <= 10)
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** Significant terms (Solr SignificantTermsQParser / ES significant
      * terms): terms over-represented in the 'dup' result set vs the
      * whole corpus, scored by foreground/background rate lift. The
      * foreground doc set broadcasts into one column-pruned pass over the
      * forward index (segments), so cost is O(|fg| terms), not a corpus
      * scan. */
    "significant_terms" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      val fg = new JoinScorer(r)
        .scores(BoolQ(Seq((Occur.Must, TermQ("dup")))))
        .map(_._1).toDF("docId")
      val fgN = fg.count()
      val n = r.collStats.maxDoc
      val fgTerms = s.read.parquet(s"${r.dir}/segments")
        .join(broadcast(fg), "docId")
        .select(explode(col("postings.term")).as("term"))
        .where(!col("term").startsWith("path:"))
        .groupBy("term").agg(count(lit(1)).as("fg_df"))
      fgTerms
        .join(r.termStatsDf.toDF().select("term", "df"), "term")
        .withColumn("score",
          (col("fg_df").cast("double") / lit(fgN.toDouble)) /
            (col("df").cast("double") / lit(n.toDouble)))
        .orderBy(round(col("score"), 9).desc, col("term")).limit(10)
        .select("term", "fg_df", "df", "score")
    }),

    // ---------- facets / stats / grouping (Solr component analogs) ----------
    /** Facet queries (Solr facet.query): a count per arbitrary sub-query,
      * each evaluated on the index like any other search. */
    "facet_query" -> ((s, dir) => {
      val r = reader(s, dir)
      def cnt(name: String, q: BoolQ): DataFrame =
        new JoinScorer(r).scores(q).toDF("docId", "score")
          .agg(count(lit(1)).as("cnt")).withColumn("facet", lit(name))
      cnt("merge", BoolQ(Seq((Occur.Must, TermQ("merge")))))
        .unionByName(cnt("scan_or_table", BoolQ(Seq(
          (Occur.Should, TermQ("scan")), (Occur.Should, TermQ("table"))))))
        .unionByName(cnt("spark_window", BoolQ(Seq(
          (Occur.Must, TermQ("spark")), (Occur.Must, TermQ("window"))))))
        .select("facet", "cnt").orderBy("facet")
    }),

    /** Interval facets (Solr interval faceting): arbitrary — possibly
      * OVERLAPPING — intervals counted in ONE pass (array + explode), the
      * semantics range facets can't express. */
    "facet_interval" -> ((s, dir) =>
      s.read.parquet(s"$dir/orders.parquet")
        .select(explode(array(
          when(col("o_totalprice") < 150000, lit("low")),
          when(col("o_totalprice").between(100000, 250000), lit("mid")),
          when(col("o_totalprice") >= 200000, lit("high")))).as("interval"))
        .where(col("interval").isNotNull)
        .groupBy("interval").agg(count(lit(1)).as("cnt"))
        .orderBy("interval")),

    "facet_field" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_quantity") > 45)
        .groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("l_returnflag"))),

    /** Sampled facet counts (facet/RandomSamplingFacetsCollector.java:44:
      * one doc per bin of 1/rate matched docs, counts amortized by the
      * sampling rate). The reference walks hits SEQUENTIALLY and draws a
      * random index per bin — order-dependent, so irreproducible on a
      * distributed scan; the Spark-first substitution is a DETERMINISTIC
      * per-row hash bin (membership depends only on the row's key), same
      * 1-in-k rate, same amortized estimate, stable under any partitioning
      * or scan order at 100 TB. */
    "facet_sampled" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_quantity") > 45)
        .where((col("l_orderkey") * lit(2654435761L) + col("l_linenumber")) % 7 === 3)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("sampled"),
          (count(lit(1)) * 7).cast("long").as("est"))
        .orderBy("l_returnflag")),

    "facet_range" -> ((s, dir) =>
      s.read.parquet(s"$dir/orders.parquet")
        .groupBy(floor(col("o_totalprice") / 50000).cast("long").as("bucket"))
        .agg(count(lit(1)).as("cnt")).orderBy("bucket")),

    /** Range facet with before/after edge buckets (SimpleFacets
      * getFacetRangeCounts: include.before/after). */
    "facet_range_edges" -> ((s, dir) =>
      s.read.parquet(s"$dir/orders.parquet")
        .groupBy(when(col("o_totalprice") < 100000, "before")
          .when(col("o_totalprice") >= 300000, "after")
          .otherwise(concat(lit("b"),
            floor((col("o_totalprice") - 100000) / 50000).cast("string")))
          .as("bucket"))
        .agg(count(lit(1)).as("cnt")).orderBy("bucket")),

    "facet_pivot" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag", "l_linestatus").agg(count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")),

    /** Pivot facet with subtotals (JSON facet / PivotFacetProcessor with
      * rollup semantics): grouping-set NULLs rendered as 'ALL'. */
    "facet_rollup" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"), col("cnt"))
        .orderBy("flag", "status")),

    /** Drill-sideways (lucene/facet/.../DrillSideways.java): per dimension,
      * facet counts computed with every drill-down filter EXCEPT the
      * dimension's own. Dims: l_returnflag (drill 'R'), l_linestatus
      * (drill 'F'); base filter l_quantity > 45. */
    "drill_sideways" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_quantity") > 45)
      val flagSide = li.where(col("l_linestatus") === "F")
        .groupBy(col("l_returnflag").as("value"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("dim", lit("l_returnflag"))
      val statusSide = li.where(col("l_returnflag") === "R")
        .groupBy(col("l_linestatus").as("value"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("dim", lit("l_linestatus"))
      flagSide.union(statusSide).select("dim", "value", "cnt")
        .orderBy("dim", "value")
    }),

    /** Two-pass grouping (lucene/grouping TermFirst/SecondPassGrouping
      * Collector): pass 1 = top-2 groups by doc count; pass 2 = top-2 docs
      * within those groups. The group set is broadcast into pass 2. */
    "group_twopass" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val topGroups = o.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("gcnt"))
        .orderBy(col("gcnt").desc, col("o_orderpriority")).limit(2)
      o.join(broadcast(topGroups), "o_orderpriority")
        .withColumn("rn", row_number().over(
          Window.partitionBy("o_orderpriority")
            .orderBy(col("o_totalprice").desc, col("o_orderkey"))).cast("long"))
        .where(col("rn") <= 2)
        .select("o_orderpriority", "gcnt", "rn", "o_orderkey")
        .orderBy("o_orderpriority", "rn")
    }),

    "stats_numeric" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"),
          min("l_extendedprice").as("min_price"),
          max("l_extendedprice").as("max_price"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_cents"))
        .withColumn("avg_r4",
          round(col("sum_cents").cast("double") / 100.0 / col("cnt"), 4))
        .orderBy("l_returnflag")),

    "stats_percentile" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_quantity, 0.95)"), 4).as("p95"))
        .orderBy("l_returnflag")),

    "group_topn" -> ((s, dir) =>
      s.read.parquet(s"$dir/orders.parquet")
        .withColumn("rn", row_number().over(
          Window.partitionBy("o_orderpriority")
            .orderBy(col("o_totalprice").desc, col("o_orderkey"))).cast("long"))
        .where(col("rn") <= 2)
        .select("o_orderpriority", "rn", "o_orderkey")
        .orderBy("o_orderpriority", "rn")),

    "collapse_best" -> ((s, dir) =>
      s.read.parquet(s"$dir/orders.parquet")
        .withColumn("rn", row_number().over(
          Window.partitionBy("o_custkey")
            .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
        .where(col("rn") === 1)
        .orderBy(col("o_totalprice").desc, col("o_custkey")).limit(20)
        .select("o_custkey", "o_orderkey")),

    /** Expand component (reference solr ExpandComponent): for each
      * collapsed group head (the collapse_best top-20), the next-best
      * rows of that group. Heads are broadcast — the expensive side never
      * reshuffles at scale. */
    "expand_hits" -> ((s, dir) => {
      val ranked = s.read.parquet(s"$dir/orders.parquet")
        .withColumn("rn", row_number().over(
          Window.partitionBy("o_custkey")
            .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      val heads = ranked.where(col("rn") === 1)
        .orderBy(col("o_totalprice").desc, col("o_custkey")).limit(20)
        .select("o_custkey")
      ranked.join(broadcast(heads), "o_custkey")
        .where(col("rn") > 1 && col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn").cast("long"))
        .orderBy("o_custkey", "rn")
    }),

    "distinct_count" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_partkey")).as("nparts"))
        .orderBy("l_returnflag")),

    // ---------- joins (query-time join / block join analogs) ----------
    "join_semi" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_mktsegment") === "AUTOMOBILE")
      val o = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_totalprice") > 200000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey").orderBy("c_custkey")
    }),

    "join_score_max" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .groupBy("c_custkey").agg(max("o_totalprice").as("score"))
        .orderBy(col("score").desc, col("c_custkey")).limit(10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("c_custkey"))).cast("long"))
        .select("rank", "c_custkey", "score")
    }),

    /** Query-time join with ScoreMode.Total (reference JoinUtil score
      * modes — completes None/Max/Avg/Total): child scores SUM into the
      * parent. Rounded to 4dp on both sides (double sum order). */
    "join_score_total" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .groupBy("c_custkey")
        .agg(round(sum("o_totalprice"), 4).as("score"))
        .orderBy(col("score").desc, col("c_custkey")).limit(10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("c_custkey"))).cast("long"))
        .select("rank", "c_custkey", "score")
    }),

    /** Query-time join with ScoreMode.Avg (reference JoinUtil score
      * modes: Max is above, Avg here — None is join_semi). */
    "join_score_avg" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .groupBy("c_custkey")
        .agg(round(avg("o_totalprice"), 4).as("score"))
        .orderBy(col("score").desc, col("c_custkey")).limit(10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("c_custkey"))).cast("long"))
        .select("rank", "c_custkey", "score")
    }),

    "block_join_parent" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val l = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_quantity") >= 50 && col("l_returnflag") === "R")
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
        .select("o_orderkey").orderBy("o_orderkey")
    }),

    "block_join_child" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_totalprice") > 400000)
      val l = s.read.parquet(s"$dir/lineitem.parquet")
      l.join(o, l("l_orderkey") === o("o_orderkey"), "left_semi")
        .select("l_orderkey", "l_linenumber").orderBy("l_orderkey", "l_linenumber")
    }),

    /** Facet over block-join parents (the q={!parent}… + facet.field
      * flow; BlockJoinFacetComponent posture): priority counts of the
      * orders whose lineitems match the child filter. Semi-join then one
      * hash agg — children never shuffle past the join. */
    "block_join_facet" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val l = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_quantity") >= 50 && col("l_returnflag") === "R")
      o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderpriority")
    }),

    /** Query-time join with ScoreMode.Min (JoinUtil — completes the
      * None/Max/Avg/Total/Min score-mode set). */
    "join_score_min" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      val o = s.read.parquet(s"$dir/orders.parquet")
      c.join(o, c("c_custkey") === o("o_custkey"))
        .groupBy("c_custkey").agg(min("o_totalprice").as("score"))
        .orderBy(col("score").desc, col("c_custkey")).limit(10)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("c_custkey"))).cast("long"))
        .select("rank", "c_custkey", "score")
    }),

    // ---------- set operations ----------
    "setop_intersect" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      c.where(col("c_mktsegment") === "AUTOMOBILE").select("c_custkey")
        .intersect(c.where(col("c_acctbal") > 5000).select("c_custkey"))
        .orderBy("c_custkey")
    }),

    "setop_except" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      c.where(col("c_mktsegment") === "BUILDING").select("c_custkey")
        .except(c.where(col("c_acctbal") > 3000).select("c_custkey"))
        .orderBy("c_custkey")
    }),

    "setop_union" -> ((s, dir) => {
      val c = s.read.parquet(s"$dir/customer.parquet")
      c.where(col("c_mktsegment") === "AUTOMOBILE").select("c_custkey")
        .union(c.where(col("c_mktsegment") === "MACHINERY").select("c_custkey"))
        .distinct().orderBy("c_custkey")
    }),

    // ---------- scalar function queries (ValueSource analogs) ----------
    "func_query" -> ((s, dir) => {
      val p = s.read.parquet(s"$dir/part.parquet")
      val mm = p.agg(min("p_retailprice").as("mn"), max("p_retailprice").as("mx"))
      p.crossJoin(broadcast(mm))
        .select(col("p_partkey"),
          (col("p_size") * 2 + 3).cast("long").as("linear"),
          round(lit(1.0) / (lit(1.0) + lit(0.1) * col("p_size")), 6).as("recip"),
          round((col("p_retailprice") - col("mn")) / (col("mx") - col("mn")), 6)
            .as("scaled"),
          when(col("p_size") < 10, "S").when(col("p_size") < 25, "M")
            .otherwise("L").as("mapped"),
          when(col("p_type") === "PROMO", col("p_size")).otherwise(-1)
            .cast("long").as("if_fn"))
        .orderBy("p_partkey").limit(200)
    }),

    "sort_fields" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .orderBy(col("l_shipdate").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(20)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate").cast("timestamp").cast("double").as("ship_epoch"))),

    /** sortMissingLast (Solr FieldType sortMissingLast=true): customers
      * ranked by their best status-'P' order total; customers with no
      * such order are "missing" and sort after every present value.
      * Served scale-right as two top-k scans (TakeOrdered each), not one
      * global nulls-last window: the 'present' head and the head of the
      * 'missing' tail. */
    "sort_missing" -> ((s, dir) => {
      val best = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderstatus") === "P")
        .groupBy("o_custkey").agg(max("o_totalprice").as("mx"))
      val joined = s.read.parquet(s"$dir/customer.parquet")
        .select("c_custkey")
        .join(best, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey"), col("mx"))
      val present = joined.where(col("mx").isNotNull)
        .orderBy(col("mx").desc, col("c_custkey")).limit(5)
      val missing = joined.where(col("mx").isNull)
        .orderBy(col("c_custkey")).limit(5)
      present.unionByName(missing)
        .select(
          when(col("mx").isNotNull, "present").otherwise("missing").as("part"),
          col("c_custkey"),
          coalesce(round(col("mx") * 100).cast("long"), lit(-1L)).as("mx_cents"))
        .orderBy(col("part").desc, col("mx_cents").desc, col("c_custkey"))
    }),

    // ---------- streaming-expression analogs (events) ----------
    "stream_reduce" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        .orderBy("user_id")),

    "stream_rank" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .orderBy(col("value").desc, col("event_id")).limit(5)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("value").desc, col("event_id"))).cast("long"))
        .select("rank", "event_id", "value")),

    /** UniqueStream (solrj/io/UniqueStream.java:61-90): over a stream
      * sorted by the comparator, emit the FIRST tuple of each
      * comparator-equal group — here per user_id, with the stream's
      * within-group arrival order pinned to (ts, event_id) so the
      * "first" is deterministic. row_number per group = the streaming
      * read() loop's keep-first, as one windowed scan. */
    "stream_unique" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id")
            .orderBy(col("ts"), col("event_id"))))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_id"),
          col("event_type"))
        .orderBy("user_id")),

    "stream_merge" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .where(col("event_type").isin("purchase", "error"))
        .orderBy(col("ts"), col("event_id")).limit(50)
        .select("event_id", "event_type")),

    "dedup_first" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id", "event_type")
            .orderBy(col("ts"), col("event_id"))))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_type"),
          col("event_id").as("first_event"))
        .orderBy("user_id", "event_type")),

    "window_tumbling" -> ((s, dir) =>
      s.read.parquet(s"$dir/events.parquet")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"))
        .select(col("w.start").cast("timestamp").cast("long").as("win_start"),
          col("event_type"), col("n"), col("sum_cents"))
        .orderBy("win_start", "event_type")),

    /** Sessionization (batch reference of the flatMapGroupsWithState
      * streaming op, StreamOps.sessionize — stream==batch equality is
      * proven in StreamingSpec): 30-minute inactivity-gap sessions over
      * the events table. */
    "stream_sessionize" -> ((s, dir) => {
      import s.implicits._
      // parquet ts is TIMESTAMP_NTZ; cast to session-tz timestamp (the
      // harness runs UTC, so epoch values match DuckDB's naive-as-UTC)
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
          col("value"))
        .as[graft.streaming.StreamOps.Event]
      graft.streaming.StreamOps.sessionizeComplete(ev, 30L * 60 * 1000)
        .select(col("user_id"), col("n"), col("sum_cents"),
          unix_millis(col("first_ts")).as("first_ms"),
          unix_millis(col("last_ts")).as("last_ms"))
        .orderBy("user_id", "first_ms")
    }),

    // ---------- training-data ops: dedup ----------
    /** SignatureUpdateProcessor fuzzy dedup (TextProfileSignature):
      * quantized term-frequency-profile md5 per doc; docs sharing a
      * signature are near-duplicates. */
    "dedup_signature" -> ((s, dir) =>
      Dedup.textProfileSignature(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("id")),

    "dedup_exact" -> ((s, dir) =>
      Dedup.exact(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("keeper")),

    "dedup_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccard(s.read.parquet(s"$dir/documents.parquet"), 3, 0.2)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("a", "b")),

    /** Substring-level dedup (winnowing pair promotion): pairs sharing
      * >= 3 selected fingerprints — i.e. evidence of a shared literal
      * run; candidate generation is an equi-join on the selected hash
      * (LSH posture), never all-pairs. */
    "dedup_substring" -> ((s, dir) =>
      Dedup.substringPairs(s.read.parquet(s"$dir/documents.parquet"),
          k = 3, w = 4, minShared = 3)
        .orderBy("a", "b")),

    "dedup_minhash" -> ((s, dir) =>
      minhashPairs(s, dir)
        .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy("a", "b")),

    /** Dedup clustering: connected components over the MinHash-LSH
      * verified near-dup pairs — (cluster = component-min doc_id,
      * member). The "keep one per duplicate group" step; min-label
      * propagation, one shuffle per round, rounds = component diameter. */
    "dedup_clusters" -> ((s, dir) => {
      Dedup.clusters(minhashPairs(s, dir).select("a", "b"))
        .orderBy("cluster", "member")
    }),

    /** Benchmark decontamination: corpus docs sharing any word 8-gram
      * with the benchmark slice (doc_id % 10 == 8 stands in for an eval
      * set); hits = distinct shared 8-grams. Benchmark grams broadcast. */
    "decontaminate" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val bench = docs.where(col("doc_id") % 10 === 8)
      TextAnalysis.decontaminate(docs, bench, 8).orderBy("doc_id")
    }),

    /** Deterministic stratified sampling: per-lang permille rates via a
      * multiplicative-hash keep rule — pure scan predicate, no RNG. */
    "sample_stratified" -> ((s, dir) => {
      TextAnalysis.sampleStratified(
        s.read.parquet(s"$dir/documents.parquet"),
        Map("en" -> 500, "fr" -> 250, "de" -> 200, "es" -> 200,
          "zh" -> 100))
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    /** Blocklist scrub: redact word-boundary occurrences of a blocklist
      * pattern (the rare term 'dup' stands in for PII/badword regexes)
      * and count redactions; emits md5 of the scrubbed text. */
    "scrub_blocklist" -> ((s, dir) => {
      TextAnalysis.scrub(s.read.parquet(s"$dir/documents.parquet"),
          "\\bdup\\b", "<BAD>")
        .where(col("redactions") > 0)
        .select(col("doc_id"), col("redactions"),
          md5(col("scrubbed")).as("scrubbed_md5"))
        .orderBy("doc_id")
    }),

    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(s.read.parquet(s"$dir/documents.parquet"), 3)
        .select(col("a"), col("b"), col("hamming").cast("long").as("hamming"))
        .orderBy("a", "b")),

    "dedup_embcos" -> ((s, dir) =>
      Dedup.embCosinePairs(s.read.parquet(s"$dir/embeddings.parquet"), 8, 0.35,
          assign0 = Some(ivfIndex(s, dir)._2))
        .select(col("a"), col("b"), round(col("sim"), 6).as("sim"))
        .orderBy("a", "b")),

    // ---------- training-data ops: similarity search ----------
    /** Hybrid retrieval via reciprocal-rank fusion (RRF, Cormack et al.
      * SIGIR'09 — the standard BM25 + dense-vector fusion): rrf(d) =
      * sum over lists of 1/(60 + rank_d); docs missing from a list
      * contribute 0. Text list = BM25 top-50 for "spark window"; vector
      * list = cosine top-50 around embedding 0. Both lists are
      * distributed top-k's; the fusion join touches only 100 rows. */
    "hybrid_rrf" -> ((s, dir) => {
      val r = reader(s, dir)
      val bm = new JoinScorer(r).topK(QueryParser.parse("spark window"), 50)
        .join(idMap(r), "docId")
        .withColumn("rt", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select(col("doc_id"), col("rt"))
      val ann = Ann.cosineTopK(
          s.read.parquet(s"$dir/embeddings.parquet"), 0L, 50)
        .select(col("id").as("doc_id"), col("rank").cast("long").as("rv"))
      bm.join(ann, Seq("doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0) / (lit(60) + col("rt")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rv")), lit(0.0)))
        .orderBy(round(col("rrf"), 9).desc, col("doc_id").asc).limit(10)
        .select(col("doc_id"), round(col("rrf"), 9).as("rrf"))
    }),

    "ann_cosine" -> ((s, dir) =>
      Ann.cosineTopK(s.read.parquet(s"$dir/embeddings.parquet"), 0L, 10)
        .select(col("rank").cast("long"), col("id"),
          round(col("sim"), 6).as("sim"))
        .orderBy("rank")),

    /** Matryoshka ANN (MRL): cosine top-k on the first 16 of 64 dims —
      * the dimension-truncated coarse-search path. */
    "ann_matryoshka" -> ((s, dir) =>
      Ann.matryoshkaTopK(s.read.parquet(s"$dir/embeddings.parquet"), 0L, 10, 16)
        .select(col("rank").cast("long"), col("id"),
          round(col("sim"), 6).as("sim"))
        .orderBy("rank")),

    /** Int8 scalar-quantized ANN (FAISS SQ8 / Lucene scalar-quantized
      * vectors analog): 4x smaller storage, cosine on the quantized ints
      * (scale cancels), exact-integer dot products in double math. The
      * quantization scale max|x| is a CORPUS STAT computed once and
      * reused across queries, never a per-query corpus scan. */
    "ann_int8" -> ((s, dir) =>
      Ann.int8CosineTopK(s.read.parquet(s"$dir/embeddings.parquet"), 0L, 10,
          maxAbs0 = Some(int8MaxAbs(s, dir)))
        .select(col("rank").cast("long"), col("id"),
          round(col("sim"), 6).as("sim"))
        .orderBy("rank")),

    /** Two-stage ANN: int8 coarse top-100 -> fp32 exact rerank top-10
      * (FAISS IndexRefine / SQ8+rerank deployment pattern). */
    "ann_rerank" -> ((s, dir) =>
      Ann.int8RerankTopK(s.read.parquet(s"$dir/embeddings.parquet"),
          0L, 100, 10, maxAbs0 = Some(int8MaxAbs(s, dir)))
        .select(col("rank").cast("long"), col("id"),
          round(col("sim"), 6).as("sim"))
        .orderBy("rank")),

    /** Percolation / saved searches (ES percolator, Luwak monitor — the
      * reverse of search: which STORED queries match each document):
      * every registered query runs as a normal search and stamps its id
      * on the matches. At scale the stored-query set broadcasts and docs
      * stream through once per registered disjunction class; here each
      * saved query is one index search. */
    "percolate" -> ((s, dir) => {
      val r = reader(s, dir)
      val saved: Seq[(String, BoolQ)] = Seq(
        "q_spark_window" -> BoolQ(Seq(
          (Occur.Must, TermQ("spark")), (Occur.Must, TermQ("window")))),
        "q_dup" -> BoolQ(Seq((Occur.Must, TermQ("dup")))),
        "q_merge_not_scan" -> BoolQ(Seq(
          (Occur.Must, TermQ("merge")), (Occur.MustNot, TermQ("scan")))))
      saved.map { case (qid, q) =>
        new JoinScorer(r).scores(q).toDF("docId", "score")
          .join(idMap(r), "docId")
          .select(lit(qid).as("query_id"), col("doc_id"))
      }.reduce(_ unionByName _).orderBy("query_id", "doc_id")
    }),

    /** CursorMark paging on a FIELD sort (Solr deep paging; searchAfter
      * covers the score sort): the cursor is the last (n_chars, doc_id)
      * of page 1; page 2 is strictly-after in total sort order, so pages
      * never shift under concurrent appends the way start/rows does. */
    "sort_cursor" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val p1 = docs.orderBy(col("n_chars").desc, col("doc_id"))
        .limit(10).select("doc_id", "n_chars").collect()
      val (cd, cn) = (p1.last.getLong(0), p1.last.getLong(1))
      docs.where(col("n_chars") < cn ||
          (col("n_chars") === cn && col("doc_id") > cd))
        .orderBy(col("n_chars").desc, col("doc_id")).limit(10)
        .select("doc_id", "n_chars")
    }),

    /** Stats component stddev/variance (population, per bucket). */
    "stats_stddev" -> ((s, dir) =>
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy("l_returnflag")
        .agg(round(stddev_pop(col("l_quantity")), 4).as("sd"),
          round(var_pop(col("l_quantity")), 4).as("variance"))
        .orderBy("l_returnflag")),

    /** Stats component `cardinality=true` (Solr 5.2 StatsValuesFactory +
      * java-hll): HyperLogLog distinct-customer estimate per priority
      * bucket. Map-side partial aggregation of fixed 4 KiB registers —
      * distinct VALUES never cross the shuffle (the whole point of the
      * option vs count(distinct) at scale). The deterministic md5-based
      * HLL is re-derived register-for-register by the SQL oracle. */
    "stats_cardinality" -> ((s, dir) =>
      s.read.parquet(s"$dir/orders.parquet")
        .groupBy("o_orderpriority")
        .agg(Stats.cardinality(col("o_custkey")).as("card_est"))
        .orderBy("o_orderpriority")),

    /** Grouped faceting (Solr group.facet=true, Grouping.java): facet
      * counts count GROUPS (distinct customers), not documents. */
    "group_facet" -> ((s, dir) =>
      s.read.parquet(s"$dir/orders.parquet")
        .groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("ngroups"))
        .orderBy("o_orderpriority")),

    /** facet.missing=true (SimpleFacets missing bucket): facet customers
      * by the price bucket of their best status-'P' order; customers with
      * no such order land in the trailing missing bucket. */
    "facet_missing" -> ((s, dir) => {
      val best = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderstatus") === "P")
        .groupBy("o_custkey").agg(max("o_totalprice").as("mx"))
      s.read.parquet(s"$dir/customer.parquet").select("c_custkey")
        .join(best, col("c_custkey") === col("o_custkey"), "left")
        .select(when(col("mx").isNull, "__missing__")
          .otherwise(concat(lit("b"),
            floor(col("mx") / 100000).cast("long").cast("string")))
          .as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("cnt"))
        .orderBy("bucket")
    }),

    /** DrillDownQuery + DrillSideways (lucene/facet/DrillSideways.java:30):
      * drills lang IN (en, de) and source IN (src3, src7); each drilled
      * dimension's counts are computed against the OTHER drills only
      * (near-misses keep sibling values visible), the non-drilled size
      * dimension counts over the full drill-down set. One scan, one
      * (dim,label) shuffle — not one collector per drill-down. */
    "facet_drillsideways" -> ((s, dir) => {
      val dims = Map(
        "lang" -> col("lang"),
        "source" -> col("source"),
        "size" -> floor(col("n_chars") / 200).cast("long"))
      graft.operators.Facets.drillSideways(
        s.read.parquet(s"$dir/documents.parquet"), dims,
        Seq(graft.operators.Facets.DrillDown("lang", Seq("en", "de")),
          graft.operators.Facets.DrillDown("source", Seq("src3", "src7"))))
    }),

    /** Multi-select faceting via tagged filter exclusion (Solr
      * `fq={!tag=t}...` + `facet.field={!ex=t}field`): SimpleFacets
      * rebuilds each excluding facet's base DocSet from the main query
      * plus every filter whose tag is NOT excluded
      * (solr/.../request/SimpleFacets.java:199-238) — so a drilled
      * dimension still shows its sibling counts. Here q=spark (an
      * index-backed match set, unlike the metadata-only
      * q:facet_drillsideways), fq={!tag=l}lang:(en de),
      * fq={!tag=s}source:(src3 src7), and each facet field excludes its
      * own tag. One postings-driven match set, one exploded (dim,label)
      * aggregation — facet width, not corpus size, is the shuffle. */
    "facet_multiselect" -> ((s, dir) => {
      val r = reader(s, dir)
      val base = new JoinScorer(r).scores(should("spark")).toDF("docId", "sc")
        .join(idMap(r), "docId").select("doc_id")
      val m = s.read.parquet(s"$dir/documents.parquet").join(base, "doc_id")
      graft.operators.Facets.drillSideways(m,
        Map("lang" -> col("lang"), "source" -> col("source")),
        Seq(graft.operators.Facets.DrillDown("lang", Seq("en", "de")),
          graft.operators.Facets.DrillDown("source", Seq("src3", "src7"))))
    }),

    /** Taxonomy facet counts over a hierarchical dim (facet/taxonomy/,
      * TestTaxonomyFacetCounts.java:118-129): children one level below a
      * path — root (per-lang) and under path [en] (per-source). */
    "facet_taxonomy" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val path = Seq(col("lang"), col("source"))
      graft.operators.Facets.pathChildren(docs, path, Nil)
        .select(lit("root").as("level"), col("label"), col("cnt"))
        .unionAll(graft.operators.Facets.pathChildren(docs, path, Seq("en"))
          .select(lit("en").as("level"), col("label"), col("cnt")))
    }),

    /** Search-results clustering (Solr ClusteringComponent,
      * solr/contrib/clustering/.../ClusteringComponent.java:60): cluster
      * the result page by embeddings (deterministic k-means, the carrot2
      * ByKMeans shape — carrot2 itself is environmental) and label each
      * cluster with its members' top analyzed terms. Bounded to the
      * result page; never a corpus-wide job. */
    "cluster_results" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .where(col("text").rlike("\\bvector\\b"))
        .select("doc_id", "text")
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      graft.operators.Clustering.clusterResults(docs, emb, k = 4, nLabels = 2)
    }),

    /** Solr langid update processor (solr/contrib/langid/.../
      * LanguageIdentifierUpdateProcessor.java:190-276): index-time language
      * detection with whitelist + fallback-field resolution and
      * language-suffixed field mapping (text -> text_{lang}); the detector
      * is the engine's stopword profile. Zero-shuffle per-row map. */
    "update_langid" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.LangIdUpdate
      val cfg = LangIdUpdate.Config(
        inputFields = Seq("text"), langField = Some("language"),
        fallbackFields = Seq("source"),
        whitelist = Set("en", "de", "fr", "zh"),
        mapEnable = true, enforceSchema = false)
      s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text", "source").as[(Long, String, String)]
        .map { case (id, text, src) =>
          val out = LangIdUpdate.process(cfg,
            Map("text" -> Seq(text), "source" -> Seq(src)),
            LangIdUpdate.stopwordDetector)
          val lang = out("language").head
          val mapped = out.keys.filter(_.startsWith("text")).toSeq.sorted
          (id, lang, mapped.mkString(","))
        }.toDF("doc_id", "language", "mapped_fields")
        .orderBy("doc_id")
    }),

    /** Association facets (facet/taxonomy/TaxonomyFacetSumIntAssociations
      * .java:23, TaxonomyFacetSumFloatAssociations.java): per-category SUM
      * of per-doc association values over the matching docs, value-desc
      * children. Each doc carries a packed (category, value) list — here
      * an array<struct> column — and the facet is one explode + one keyed
      * aggregation (map-side partials; shuffle width = category count). */
    "facet_assoc" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 3 =!= 1)
      val assoc = array(
        struct(concat(lit("lang/"), col("lang")).as("path"),
          col("n_chars").cast("double").as("value")),
        struct(concat(lit("src/"), col("source")).as("path"),
          (col("n_chars") % 7 + 1).cast("double").as("value")))
      graft.operators.Facets.sumAssociations(docs, assoc)
    }),

    /** The spell package's StringDistance family (suggest/.../spell/
      * {Levenstein,LuceneLevenshtein,JaroWinkler,NGram}Distance.java) over
      * corpus word pairs: raw edit / transposition-aware distances as
      * integers, Jaro-Winkler rounded; NGramDistance is t:-verified only
      * (no independent SQL analog). */
    "spellcheck_distances" -> ((s, dir) => {
      import s.implicits._
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("lang") === "en")
        .select(split(col("text"), " ").getItem(0).as("s"),
          split(col("text"), " ").getItem(1).as("t"))
        .distinct().as[(String, String)]
        .map { case (a, b) =>
          val lev = math.round((1f - graft.search.StringDistances.levenshtein(a, b))
            * math.max(a.length, b.length))
          // LuceneLevenshtein (OSA transpositions) and NGramDistance have
          // no independent SQL analog (DuckDB's damerau_levenshtein is the
          // UNRESTRICTED variant) -- both stay t:-verified only
          val jw = graft.search.StringDistances.jaroWinkler(a, b)
          (a, b, lev.toLong,
            BigDecimal(jw.toDouble).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        .toDF("s", "t", "lev", "jw")
        .orderBy("s", "t")
    }),

    /** Solr function queries as parsed syntax (solr/.../search/
      * ValueSourceParser.java): recip/linear/scale/map compiled to one
      * Catalyst Column each; scale()'s corpus min/max walk is one
      * distributed agg (the reference's ScaleFloatFunction full pass). */
    "func_query" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val fields = Map("n_chars" -> col("n_chars"))
      def f(src: String) = graft.functions.FuncQuery.compile(src, fields, docs)
      docs.select(col("doc_id"),
        round(f("recip(linear(n_chars,2,0),1,100000,1000)"), 6).as("r"),
        round(f("scale(n_chars,0,100)"), 6).as("s"),
        round(f("map(n_chars,0,300,0,n_chars)"), 6).as("m"))
        .orderBy("doc_id")
    }),

    /** The expressions module (lucene/expressions/.../js/Javascript.g,
      * JavascriptCompiler.java; Solr sort-by-expression): a JS arithmetic
      * expression compiled to one Catalyst Column — codegen'd in the scan,
      * no bytecode, no UDF — used as a function-query sort key. */
    "expr_sort" -> ((s, dir) => {
      val e = graft.functions.JsExpr.compile(
        "sqrt(n_chars) + (n_chars % 7) * 0.5 + (n_chars > 500 ? 2 : 0) + min(ln(n_chars), 6)",
        Map("n_chars" -> col("n_chars")))
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), round(e, 6).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(15)
    }),

    /** facet.offset + facet.limit (SimpleFacets bucket paging): the
      * count-ordered priority facet, buckets 2-4. */
    "facet_offset" -> ((s, dir) =>
      s.read.parquet(s"$dir/orders.parquet")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("o_orderpriority"))
        .offset(1).limit(3)),

    /** facet.prefix + facet.mincount + facet.sort=index (SimpleFacets'
      * prefix-bounded term walk): p_type buckets starting with 'S',
      * mincount 2, lexicographic order. The prefix is a sargable
      * range predicate — it prunes the scan, not the agg. */
    "facet_prefix" -> ((s, dir) =>
      s.read.parquet(s"$dir/part.parquet")
        .where(col("p_type").startsWith("S"))
        .groupBy("p_type").agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= 2)
        .orderBy("p_type")),

    /** Facet over SEARCH results (the core Solr q + facet.field flow, vs
      * the standalone table facets below): language counts of the docs
      * matching "spark window". */
    "ft_facet_lang" -> ((s, dir) => {
      val r = reader(s, dir)
      new JoinScorer(r).scores(QueryParser.parse("spark window"))
        .toDF("docId", "score")
        .join(r.docmeta.toDF().select("docId", "lang"), "docId")
        .groupBy("lang").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("lang"))
    }),

    /** Grouped search (Solr result grouping group.field=lang): top-2
      * scored docs per language for one query. */
    "ft_group_lang" -> ((s, dir) => {
      val r = reader(s, dir)
      new JoinScorer(r).scores(QueryParser.parse("spark window"))
        .toDF("docId", "score")
        .join(idMap(r), "docId")
        .join(r.docmeta.toDF().select("docId", "lang"), "docId")
        .withColumn("rk", row_number().over(
          Window.partitionBy("lang")
            .orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .where(col("rk") <= 2)
        .select("lang", "rk", "doc_id").orderBy("lang", "rk")
    }),

    /** FuzzyLikeThisQuery (sandbox/queries/FuzzyLikeThisQuery.java:193-258
      * + SlowFuzzyTermsEnum.java:136-142,250): per seed term, dictionary
      * variants with similarity = 1 - d/min(len) above minSimilarity=0.5
      * get boost (sim-minSim)*2; per-variant constant score ("ignoreTF")
      * = boost^2 * idf(df(seed), or the int-division average variant df
      * when the seed is unindexed); docs score the SUM of their present
      * variants' constants; rank top 10. Seeds "sparc" and "windoe". */
    "ft_fuzzylike" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      val seeds = Seq("sparc", "windoe")
      val minSim = 0.5f
      val levDist = org.apache.commons.text.similarity.LevenshteinDistance
        .getDefaultInstance
      val variantScores: Seq[(String, Float)] = seeds.flatMap { seed =>
        val acc = r.fuzzyTerms(seed, 2).flatMap { ts =>
          val d = levDist.apply(ts.term, seed).intValue
          val sim = 1.0f - d.toFloat / math.min(ts.term.length, seed.length)
          if (sim > minSim) Some((ts, (sim - minSim) * 2f)) else None
        }
        if (acc.isEmpty) Nil
        else {
          val dfSeed = r.termStats(Seq(seed)).get(seed).map(_.df).getOrElse(0L)
          val dfUsed =
            if (dfSeed > 0) dfSeed else acc.map(_._1.df).sum / acc.length
          // MAX_VARIANTS_PER_TERM = 50 (FuzzyLikeThisQuery.java:67);
          // mirrored in the oracle's per-seed row_number cap
          acc.sortBy { case (t, b) => (-b, t.term) }.take(50)
            .map { case (t, b) =>
              t.term -> b * b * graft.search.BM25.idf(dfUsed, r.collStats.maxDoc)
            }
        }
      }
      if (variantScores.isEmpty)
        Seq.empty[(Long, Long)].toDF("rank", "doc_id")
      else {
        val wvB = s.sparkContext.broadcast(variantScores.toMap)
        r.blocks(variantScores.map(_._1))
          .flatMap { b =>
            val (docs, _, _) = graft.codec.PostingsCodec.decodeDocs(b)
            docs.iterator.map(d => (d, wvB.value(b.term)))
          }.toDF("docId", "s")
          .groupBy("docId").agg(sum("s").as("score"))
          .join(idMap(r), "docId")
          .withColumn("rank", row_number().over(
            Window.orderBy(round(col("score"), 9).desc, col("doc_id").asc))
            .cast("long"))
          .where(col("rank") <= 10)
          .select("rank", "doc_id").orderBy("rank")
      }
    }),

    /** DiversifiedTopDocsCollector (lucene/misc/.../search/
      * DiversifiedTopDocsCollector.java:57): global top-k where no key
      * (here: lang) contributes more than maxHitsPerKey=2 hits — greedy
      * skip of over-cap docs == per-key rank cap then global re-rank. */
    "ft_diversified" -> ((s, dir) => {
      val r = reader(s, dir)
      new JoinScorer(r).scores(QueryParser.parse("spark vector window"))
        .toDF("docId", "score")
        .join(r.docmeta.toDF().select("docId", "lang"), "docId")
        .withColumn("rn", row_number().over(
          Window.partitionBy("lang")
            .orderBy(round(col("score"), 9).desc, col("docId").asc)))
        .where(col("rn") <= 2)
        .join(idMap(r), "docId")
        .withColumn("rank", row_number().over(
          Window.orderBy(round(col("score"), 9).desc, col("doc_id").asc))
          .cast("long"))
        .where(col("rank") <= 10)
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** HighFreqTerms (lucene/misc/.../misc/HighFreqTerms.java:41): the
      * top-N dictionary terms by document frequency (with total term
      * freq carried along) — a pure term-dictionary scan, no postings. */
    "ft_highfreq_terms" -> ((s, dir) => {
      val r = reader(s, dir)
      r.termStatsDf.toDF()
        .where(!col("term").startsWith("path:") && !col("term").startsWith("rev:"))
        .select(col("term"), col("df"), col("ttf"))
        .orderBy(col("df").desc, col("term")).limit(10)
    }),

    /** DuplicateFilter (lucene/sandbox/.../queries/DuplicateFilter.java:36,
      * KM_USE_FIRST_OCCURRENCE): query matches intersected with the per-key
      * (lang) FIRST document of the whole index — the filter computes
      * first-occurrence bits over the index independent of the query. */
    "ft_duplicate_filter" -> ((s, dir) => {
      val r = reader(s, dir)
      val firstPerKey = r.docmeta.toDF()
        .groupBy("lang").agg(min("docId").as("docId"))
        .select("docId")
      new JoinScorer(r).scores(QueryParser.parse("spark"))
        .toDF("docId", "score")
        .join(firstPerKey, "docId")
        .join(idMap(r), "docId")
        .select("doc_id").orderBy("doc_id")
    }),

    "ann_knn" -> ((s, dir) =>
      Ann.knnJoin(s.read.parquet(s"$dir/embeddings.parquet"), 3, 3)
        .select(col("qid"), col("rank").cast("long").as("rank"), col("id"))
        .orderBy("qid", "rank")),

    "ann_ivf" -> ((s, dir) => {
      val (cents, asg) = ivfIndex(s, dir)
      Ann.ivfTopK(s.read.parquet(s"$dir/embeddings.parquet"), 8, 42L, 5,
          nprobe = 1, assign0 = Some(asg), centroids0 = Some(cents))
        .select(col("rank").cast("long").as("rank"), col("id"))
        .orderBy("rank")
    }),

    // ---------- training-data ops: text analysis ----------
    "lang_id" -> ((s, dir) =>
      TextAnalysis.langId(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("id")),

    "quality_score" -> ((s, dir) =>
      TextAnalysis.quality(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("id"), round(col("quality"), 6).as("quality"))
        .orderBy("id")),

    "token_counts" -> ((s, dir) =>
      TextAnalysis.tokenCounts(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("id")),

    /** Gopher-style repetition filters: per-doc duplicate bigram/trigram
      * fraction, pure per-row collection functions (no shuffle). */
    "quality_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("id")),

    /** Unigram-LM scoring (perplexity-proxy quality filter): integer
      * micro-nat log-probs vs the corpus' own unigram LM. */
    "lm_logprob" -> ((s, dir) =>
      TextAnalysis.lmLogProb(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("id")),

    "fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("id")),

    "fingerprint_winnow" -> ((s, dir) =>
      TextAnalysis.winnow(s.read.parquet(s"$dir/documents.parquet"), 3, 4)
        .orderBy("id")),

    // ---------- training-data ops: multimodal plumbing (stub decode) ----------
    "multimodal_meta" -> ((s, dir) =>
      Multimodal.decodeStub(
        Multimodal.asMedia(s.read.parquet(s"$dir/documents.parquet")))
        .toDF()
        .select(col("id"), col("modality"), col("byte_len"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("channels").cast("long").as("channels"),
          col("n_frames").cast("long").as("n_frames"), col("n_patches"))
        .orderBy("id")),

    "multimodal_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(
        Multimodal.decodeStub(
          Multimodal.asMedia(s.read.parquet(s"$dir/documents.parquet"))), 10)
        .orderBy("id")),

    /** Multimodal feature-extract -> ANN composite (perceptual-similarity
      * dedup shape): REAL byte-class-histogram features over the opaque
      * blob (no codec needed), brute cosine top-10 vs payload 0. */
    "multimodal_ann" -> ((s, dir) =>
      Multimodal.featureTopK(
        Multimodal.asMedia(s.read.parquet(s"$dir/documents.parquet")), 0L, 10)
        .select(col("rank").cast("long"), col("id"),
          round(col("sim"), 6).as("sim"))
        .orderBy("rank")),

    // ---------- spatial (Solr LatLonType: geofilt/bbox/geodist/heatmap) ----------

    /** `{!geofilt pt=48.85,2.35 d=800}` — customers within 800 km of Paris.
      * Two-phase: sargable bbox pushdown, then exact haversine verify. */
    "geo_filt" -> ((s, dir) =>
      Geo.geofilt(geoCustomers(s, dir), "lat", "lon", 48.85, 2.35, 800.0)
        .select(col("c_custkey")).orderBy("c_custkey")),

    /** `{!bbox}` + a facet over the boxed result — pure range predicates,
      * both pushed into the parquet scan. */
    "geo_bbox" -> ((s, dir) =>
      Geo.bboxFilter(geoCustomers(s, dir), "lat", "lon", 30.0, 50.0, -20.0, 40.0)
        .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("cnt"))
        .orderBy("c_mktsegment")),

    /** Convex-polygon containment (lucene-spatial polygon shapes via
      * Spatial4j/JTS, planar): half-plane conjunction per CCW edge —
      * sargable arithmetic only, no UDF. */
    "geo_polygon" -> ((s, dir) =>
      Geo.convexPolygonFilter(geoCustomers(s, dir), "lat", "lon",
        Geo.EuropePoly)
        .select("c_custkey").orderBy("c_custkey")),

    /** `sort=geodist() asc, rows=20` near New York. Rank collapses
      * sub-nanometer distance ties via round(,9) (cf. rankSel note). */
    "geo_nearest" -> ((s, dir) =>
      Geo.nearest(geoCustomers(s, dir), "lat", "lon", 40.71, -74.0, 20,
          "c_custkey")
        .withColumn("rank", row_number().over(
          Window.orderBy(round(col("dist_km"), 9).asc, col("c_custkey").asc))
          .cast("long"))
        .select(col("rank"), col("c_custkey")).orderBy("rank")),

    /** `facet.heatmap` — 8x8 grid counts over a Europe bbox (cell sizes
      * 2.0 deg x 4.0 deg, exact binary doubles on both engines). */
    "geo_heatmap" -> ((s, dir) =>
      Geo.heatmap(geoCustomers(s, dir), "lat", "lon",
          40.0, 56.0, -10.0, 22.0, 8, 8)
        .select(col("cell_row"), col("cell_col"), col("cnt"))
        .orderBy("cell_row", "cell_col")),

    // ---------- /export handler (full sorted result streaming) ----------

    /** Solr /export (solr/handler/component/SortingResponseWriter in 5.2):
      * the FULL sorted match set, not a top-k — the feeder for streaming
      * expressions. Distributed sort; nothing driver-side. */
    "export_sorted" -> ((s, dir) => {
      val r = reader(s, dir)
      new JoinScorer(r).scores(must("merge")).toDF("docId", "score")
        .join(r.docmeta.toDF(), "docId")
        .select(col("path").cast("long").as("doc_id"),
          col("dl").cast("long").as("dl"))
        .orderBy(col("dl").desc, col("doc_id"))
    }),

    // ---------- MLT interestingTerms ----------

    /** MoreLikeThis with interestingTerms=details (mlt/MoreLikeThis.java
      * retrieveInterestingTerms): the selected terms themselves with their
      * source-doc tf and collection df — same selection as ft_mlt. */
    "mlt_interesting" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      val d0 = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") === 0L).select("text", "lang").head()
      val toks = graft.analysis.Analyzer.analyze(d0.getString(0),
        graft.analysis.StopSets.forLang(d0.getString(1)))
      val tf = toks.groupBy(_.term).map { case (t, xs) => t -> xs.length }
      val stats = r.termStats(tf.keys.toSeq)
      tf.toSeq
        .flatMap { case (t, f) => stats.get(t).map(st => (t, f.toLong, st.df)) }
        .filter(_._3 >= 2L)
        .sortBy { case (t, f, df) => (-f, df, t) }
        .take(5).toDF("term", "tf", "df")
    }),

    // ---------- fuzzy suggester ----------

    /** FuzzySuggester (lucene/suggest/.../analyzing/FuzzySuggester.java):
      * completions whose prefix is within 1 edit of the typed text,
      * weighted by df — catches in-prefix typos the plain FST can't. */
    "ft_suggest_fuzzy" -> ((s, dir) => {
      val r = reader(s, dir)
      val q = "strem"
      r.termStatsDf.toDF()
        .where(!col("term").startsWith("path:") && !col("term").startsWith("rev:"))
        .where(levenshtein(
          expr(s"substring(term, 1, ${q.length})"), lit(q)) <= 1)
        .orderBy(col("df").desc, col("term")).limit(8)
        .select(col("term"), col("df"))
    }),

    /** Index-free percolation (lucene/memory/.../MemoryIndex.java — the
      * one-doc index behind percolation/monitoring): each document is
      * analyzed once and the saved-query set is evaluated directly on its
      * term->positions map. Same operator runs over readStream micro-
      * batches (PercolatorSpec); richer query surface than the indexed
      * percolate query (phrase + prefix here). */
    "percolate_memory" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val saved: Seq[(String, BoolQ)] = Seq(
        "q_spark_window" -> BoolQ(Seq(
          (Occur.Must, TermQ("spark")), (Occur.Must, TermQ("window")))),
        "q_phrase_stream_table" -> BoolQ(Seq(
          (Occur.Must, PhraseQ(Seq("stream", "table"), Seq(0, 1))))),
        "q_prefix_sca" -> BoolQ(Seq((Occur.Must, PrefixQ("sca")))))
      Percolator.percolate(docs, saved, idCol = "doc_id")
        .orderBy("query_id", "doc_id")
    }),

    /** Relevance function queries (Solr termfreq()/docfreq()/idf() value
      * sources, solr/search/ValueSourceParser.java): per-doc tf of a term
      * read from the index postings (freq-only decode, positions
      * skipped), with the collection df and ClassicSimilarity idf. */
    "func_relevance" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      val st = r.termStats(Seq("spark"))("spark")
      val n = r.collStats.maxDoc
      val idf = math.log(n.toDouble / (st.df + 1.0)) + 1.0
      r.blocks(Seq("spark"))
        .flatMap { b =>
          val (ids, tfs, _) = graft.codec.PostingsCodec.decodeDocs(b)
          ids.indices.iterator.map(i => (ids(i), tfs(i).toLong))
        }.toDF("docId", "tf")
        .join(idMap(r), "docId")
        .select(col("doc_id"), col("tf"), lit(st.df).as("df"),
          round(lit(idf), 6).as("idf"))
        .orderBy("doc_id")
    }),

    /** Phrase highlighting (FastVectorHighlighter posture: the PHRASE
      * match drives the fragment, not the first lone term) — top-3 docs
      * of an exact phrase query, snippet centered on the phrase. */
    "ft_highlight_phrase" -> ((s, dir) => {
      val r = reader(s, dir)
      val q = BoolQ(Seq(
        (Occur.Must, PhraseQ(Seq("stream", "table"), Seq(0, 1))): (Occur, Query)))
      val top = new JoinScorer(r).topK(q, 3)
        .join(idMap(r), "docId").select("doc_id")
      top.join(s.read.parquet(s"$dir/documents.parquet"), "doc_id")
        .select(col("doc_id"),
          substring(col("text"),
            greatest(lit(1), locate("stream table", lower(col("text"))) - 15),
            lit(60)).as("snippet"))
        .orderBy("doc_id")
    }),

    /** MultiPhraseQuery (search/MultiPhraseQuery.java): a phrase slot
      * accepting alternatives — ("stream"|"spark") immediately followed
      * by "table". Statistics blended over all member terms, freq =
      * aligned starts over per-slot unions (UnionPostingsEnum). */
    "ft_multiphrase" -> ((s, dir) => {
      val q = BoolQ(Seq((Occur.Must,
        MultiPhraseQ(Seq(Seq("stream", "spark"), Seq("table")),
          Seq(0, 1))): (Occur, Query)))
      rankedTopK(s, dir, q, 15)
    }),

    /** TermAutomatonQuery (lucene/sandbox/.../search/TermAutomatonQuery
      * .java:70): a token automaton accepting per-slot alternatives of
      * DIFFERENT lengths — "stream table hash" | "stream hash" — which
      * MultiPhraseQuery cannot express. Blended idf over the alphabet,
      * freq = accepting state entries (TermAutomatonScorer.countMatches);
      * one key-pruned postings pass + per-doc DFA walk. */
    "ft_term_automaton" -> ((s, dir) => {
      val q = BoolQ(Seq((Occur.Must,
        TermAutomatonQ(4, Set(3),
          Seq((0, 1, "stream"), (1, 2, "table"), (2, 3, "hash"),
            (1, 3, "hash")))): (Occur, Query)))
      rankedTopK(s, dir, q, 10)
    }),

    /** ComplexPhraseQueryParser ({!complexphrase} — lucene/queryparser/
      * complexPhrase/ComplexPhraseQueryParser.java): a wildcard INSIDE a
      * phrase — "s* table" — expands against the term dictionary
      * (TooManyClauses-guarded, never the postings) and runs as a
      * MultiPhraseQuery over the expanded slot. */
    "ft_complexphrase" -> ((s, dir) => {
      val r = reader(s, dir)
      val slot = r.expandTerms(col("term").startsWith("s")).map(_.term)
      val q = BoolQ(Seq((Occur.Must,
        MultiPhraseQ(Seq(slot, Seq("table")), Seq(0, 1))): (Occur, Query)))
      rankedTopK(s, dir, q, 15)
    }),

    /** SpanWithinQuery (search/spans/SpanWithinQuery.java, new in 5.2):
      * occurrences of 'part' inside an ordered ("merge".."batch") span of
      * slop 5; freq = surviving occurrences, scored with part's idf. */
    "ft_span_within" -> ((s, dir) => {
      val q = BoolQ(Seq((Occur.Must,
        SpanWithinQ("part", Seq("merge", "batch"), 5)): (Occur, Query)))
      rankedTopK(s, dir, q, 10)
    }),

    /** SpanContainingQuery (search/spans/SpanContainingQuery.java):
      * ("merge".."batch") spans holding at least one 'part'; freq =
      * qualifying spans, scored with the big terms' summed idf. */
    "ft_span_containing" -> ((s, dir) => {
      val q = BoolQ(Seq((Occur.Must,
        SpanContainingQ("part", Seq("merge", "batch"), 5)): (Occur, Query)))
      rankedTopK(s, dir, q, 10)
    }),

    /** Surround query parser (queryparser/surround): distance-operator
      * grammar `stream 2w table` -> ordered span within distance 2. */
    "ft_surround" -> ((s, dir) => {
      val r = reader(s, dir)
      val q = BoolQ(Seq((Occur.Must, SurroundParser.parse("stream 2w table"))))
      new JoinScorer(r).scores(q).toDF("docId", "score")
        .join(idMap(r), "docId").select("doc_id").orderBy("doc_id")
    }),

    /** Solr {!boost} query parser (BoostQParserPlugin / lucene queries
      * CustomScoreQuery): main-query score MULTIPLIED by a function
      * query — here ln(1 + n_chars) — unlike the additive bf of
      * ft_boost_func. */
    "ft_boost_mult" -> ((s, dir) => {
      val r = reader(s, dir)
      val q = QueryParser.parse("spark window")
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("n_chars"))
      new JoinScorer(r).scores(q).toDF("docId", "score")
        .join(idMap(r), "docId").join(docs, "doc_id")
        .withColumn("fscore",
          col("score").cast("double") * log(lit(1.0) + col("n_chars")))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("fscore").desc, col("doc_id").asc)).cast("long"))
        .where(col("rank") <= 10)
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** Naive Bayes classification (lucene/classification/.../
      * SimpleNaiveBayesClassifier.java): multinomial NB with add-one
      * smoothing, model read from corpus statistics, classifying every
      * doc's lang. Model relations broadcast; data side streams. */
    "classify_nb" -> ((s, dir) => {
      Classify.naiveBayes(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")
    }),

    /** BooleanPerceptronClassifier (classification/
      * BooleanPerceptronClassifier.java:59): weights init to totalTermFreq,
      * automatic threshold sumDocFreq/2, sequential index-order training
      * reading the last published snapshot per doc. Trained on the 40-doc
      * en/de sample (driver-side — the reference's train is equally
      * sequential/order-dependent), class = (lang == 'en'); inference
      * distributes via the broadcast weights map. The oracle re-derives
      * the whole trajectory with a recursive CTE carrying the weights MAP. */
    "classify_perceptron" -> ((s, dir) => {
      import s.implicits._
      val base = s.read.parquet(s"$dir/documents.parquet")
        .where(col("lang").isin("en", "de"))
      val train = base.where(col("doc_id") % 7 === 3)
        .orderBy("doc_id").limit(40)
        .select(col("doc_id").cast("long"), col("text"), col("lang"))
        .as[(Long, String, String)].collect() // bounded: LIMIT-40 sample
        .toSeq.map { case (_, t, lang) =>
          (Analyzer.analyze(t, graft.analysis.StopSets.forLang(lang))
            .map(_.term), lang == "en")
        }
      val model = Classify.trainBooleanPerceptron(train)
      Classify.booleanPerceptronClassify(
        base.where(col("doc_id") % 13 === 2).orderBy("doc_id").limit(40),
        model).orderBy("doc_id")
    }),

    /** k-NN classification (lucene/classification/.../
      * KNearestNeighborClassifier.java): MLT-style BM25 query from the
      * target doc's top representative terms, class = majority vote of
      * the 10 nearest neighbors. Output is the vote histogram (first row
      * = the prediction). */
    "classify_knn" -> ((s, dir) => {
      val r = reader(s, dir)
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val d0 = docs.where(col("doc_id") === 42L).select("text", "lang").head()
      val toks = graft.analysis.Analyzer.analyze(d0.getString(0),
        graft.analysis.StopSets.forLang(d0.getString(1)))
      val tf = toks.groupBy(_.term).map { case (t, xs) => t -> xs.length }
      val stats = r.termStats(tf.keys.toSeq)
      val picked = tf.toSeq
        .flatMap { case (t, f) => stats.get(t).map(st => (t, f, st.df)) }
        .filter(_._3 >= 2L)
        .sortBy { case (t, f, df) => (-f, df, t) }
        .take(5).map(_._1)
      val neighbors = new JoinScorer(r)
        .topK(BoolQ(picked.map(t => (Occur.Should: Occur, TermQ(t): Query))), 11)
        .join(idMap(r), "docId").where(col("doc_id") =!= 42L)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .where(col("rank") <= 10).select("doc_id")
      Classify.knnVotes(neighbors, docs)
    }),

    /** FreeTextSuggester (lucene/suggest/.../analyzing/FreeTextSuggester
      * .java — an n-gram language model over the corpus): completions of
      * "spark w..." ranked by bigram adjacency count, derived entirely
      * from index postings positions (no raw-text pass). */
    "suggest_freetext" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      val ctx = "spark"
      val cands = r.expandTerms($"term".startsWith("w") &&
        !$"term".startsWith("path:") && !$"term".startsWith("rev:"))
        .map(_.term)
      val rows = r.blocks((ctx +: cands).distinct).flatMap { b =>
        graft.codec.PostingsCodec.decode(b).iterator
          .map(p => (p.docId, b.term, p.positions))
      }
      rows.groupByKey(_._1).flatMapGroups { (_, it) =>
        var ctxPos: Array[Int] = null
        val cs = scala.collection.mutable.ArrayBuffer.empty[(String, Array[Int])]
        it.foreach { case (_, t, pos) =>
          if (t == ctx) ctxPos = pos else cs += ((t, pos))
        }
        if (ctxPos == null) Iterator.empty
        else cs.iterator.map { case (t, pos) =>
          var cnt = 0L
          pos.foreach(p =>
            if (java.util.Arrays.binarySearch(ctxPos, p - 1) >= 0) cnt += 1)
          (t, cnt)
        }.filter(_._2 > 0L)
      }.toDF("term", "cnt")
        .groupBy("term").agg(sum("cnt").as("freq"))
        .orderBy(col("freq").desc, col("term")).limit(5)
    }),

    /** AnalyzingSuggester (lucene/suggest/.../analyzing/AnalyzingSuggester
      * .java:68): dictionary = the corpus's two-word phrase prefixes with
      * their occurrence counts as weights; keys are the stop-dropped
      * analyzed forms (PRESERVE_SEP  join), lookups match the
      * ANALYZED prefix and return the SURFACE form, exact-first. The
      * lookup "the que" analyzes to "que", so it completes phrases whose
      * first non-stop token starts with "que" even though none begin with
      * "the". */
    "suggest_analyzing" -> ((s, dir) => {
      import s.implicits._
      val stop = Set("the", "a", "of", "to", "and")
      val akeyOf = (surface: String) => graft.operators.Suggest.analyzedKey(
        surface.split(' ').filterNot(stop).toSeq)
      val dict = s.read.parquet(s"$dir/documents.parquet")
        .select("text").as[String]
        .map { text =>
          val ws = text.split(' ')
          ws(0) + " " + ws(1)
        }
        .groupByKey(identity).count()
        .map { case (surface, w) => (surface, akeyOf(surface), w) }
        .toDF("surface", "akey", "weight")
      graft.operators.Suggest.analyzing(dict, akeyOf("the que"), 5)
    }),

    /** WFSTCompletionLookup (lucene/suggest/.../fst/WFSTCompletionLookup
      * .java:63): surface-prefix completion over the first-word
      * dictionary, weight desc (= FST cost asc), exact match first. */
    "suggest_wfst" -> ((s, dir) => {
      import s.implicits._
      val dict = s.read.parquet(s"$dir/documents.parquet")
        .select(split(col("text"), " ").getItem(0).as("surface"))
        .groupBy("surface").agg(count(lit(1)).as("weight"))
      graft.operators.Suggest.wfst(dict, "s", 5)
    }),

    /** BlendedInfixSuggester (lucene/suggest/.../analyzing/
      * BlendedInfixSuggester.java:83): infix match over three-word phrase
      * surfaces, candidates = top n*numFactor by raw weight, weight
      * blended by the first matched token position (POSITION_RECIPROCAL
      * w/(1+p); startsWith keeps the raw weight). */
    "suggest_blended" -> ((s, dir) => {
      import s.implicits._
      val dict = s.read.parquet(s"$dir/documents.parquet")
        .select("text").as[String]
        .map { text =>
          val ws = text.split(' ')
          (ws(0) + " " + ws(1) + " " + ws(2), Seq(ws(0), ws(1), ws(2)))
        }
        .groupByKey(identity).count()
        .map { case ((surface, toks), w) => (surface, toks, w) }
        .toDF("surface", "toks", "weight")
      graft.operators.Suggest.blendedInfix(dict, "query", Seq("query"), 10,
        graft.operators.Suggest.PositionReciprocal, numFactor = 10)
    }),

    /** WordBreakSpellChecker.suggestWordBreaks (lucene/suggest/.../spell/
      * WordBreakSpellChecker.java): split an out-of-dictionary run-on
      * term at every point where both halves are dictionary words, ranked
      * by combined df. */
    "spellcheck_wordbreak" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      val word = "sparkwindow"
      val parts = (1 until word.length)
        .map(i => (word.substring(0, i), word.substring(i)))
      val stats = r.termStats(parts.flatMap(p => Seq(p._1, p._2)).distinct)
      parts.flatMap { case (l, rr) =>
        for (ls <- stats.get(l); rs <- stats.get(rr))
          yield (l, rr, ls.df + rs.df)
      }.toDF("left_part", "right_part", "freq")
        .orderBy(col("freq").desc, col("left_part"))
    }),

    /** WordBreakSpellChecker.suggestWordCombinations: merge adjacent
      * query terms when the concatenation is a dictionary word. */
    "spellcheck_wordcombine" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      val qterms = Seq("win", "dow", "table")
      val combos = qterms.sliding(2).map(p => p(0) + p(1)).toSeq
      val stats = r.termStats(combos)
      combos.flatMap(cb => stats.get(cb).map(st => (cb, st.df)))
        .toDF("combined", "df").orderBy("combined")
    }),

    /** Solr group.ngroups=true (Grouping.java): total distinct groups in
      * the match set alongside the doc count — one distributed agg. */
    "group_ngroups" -> ((s, dir) => {
      val r = reader(s, dir)
      new JoinScorer(r).scores(must("merge")).toDF("docId", "score")
        .join(r.docmeta.toDF(), "docId")
        .agg(countDistinct(col("lang")).as("n_groups"),
          count(lit(1)).as("n_docs"))
    }),

    // ---------- payload scoring ----------

    /** PayloadScoreQuery(includeSpanScore=false, fn=avg) over a
      * position-derived payload channel (reference: lucene/queries/.../
      * payloads/PayloadTermQuery.java + analysis/common/.../payloads/
      * TokenOffsetPayloadTokenFilter.java — payloads produced by the
      * analysis chain from token geometry; here payload(occurrence) = 2.0
      * when its position < 20 — a "lead paragraph" boost — else 1.0).
      * Score(doc) = avg payload of the term's occurrences, read from the
      * index's position channel, no re-analysis. */
    "ft_payload" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      r.blocks(Seq("spark"))
        .flatMap { b =>
          graft.codec.PostingsCodec.decode(b).iterator
            .map { p =>
              var sum = 0.0
              var j = 0
              while (j < p.positions.length) {
                sum += (if (p.positions(j) < 20) 2.0 else 1.0); j += 1
              }
              (p.docId, sum / p.tf)
            }
        }.toDF("docId", "pay")
        .join(idMap(r), "docId")
        .withColumn("rank", row_number().over(
          Window.orderBy(round(col("pay"), 9).desc, col("doc_id").asc))
          .cast("long"))
        .where(col("rank") <= 10)
        .select(col("rank"), col("doc_id")).orderBy("rank")
    }),

    // ---------- clustering component ----------

    /** Solr clustering component analog (contrib/clustering): k-means
      * document clusters over the embedding column — same deterministic
      * Lloyd iterations as the IVF index, assignments materialized once. */
    "cluster_docs" -> ((s, dir) => {
      val (_, asg) = ivfIndex(s, dir)
      asg.groupBy(col("cid").cast("long").as("cluster"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("cluster")
    }),

    // ---------- atomic updates ----------

    /** Solr field-level atomic updates (AtomicUpdateDocumentMerger): every
      * doc_id % 7 == 3 gets set(lang='xx'), inc(n_chars,+7), then on a
      * derived multivalued tags field [alpha, lang, source, lang]:
      * add [extra, extra2, lang], remove [lang] (FIRST occurrence only),
      * removeregex [ex.*] (full-match, ALL occurrences). Three ids absent
      * from the corpus are upserted from empty docs (set/inc-missing/add/
      * remove). The oracle re-derives the list surgery independently via
      * unnest + first-occurrence window + regexp_full_match. */
    "update_atomic" -> ((s, dir) => {
      import s.implicits._
      val docs0 = s.read.parquet(s"$dir/documents.parquet")
      val base = docs0.select(col("doc_id").cast("string").as("id"),
        map(
          lit("lang"), array(col("lang")),
          lit("n_chars"), array(col("n_chars").cast("string")),
          lit("tags"), array(lit("alpha"), col("lang"), col("source"),
            col("lang"))).as("fields"))
      val tgt = docs0.where(col("doc_id") % 7 === 3)
        .select(col("doc_id").cast("string").as("id"), col("lang"))
      def op(seq: Long, f: String, o: String, vs: Column) =
        tgt.select(col("id"), lit(seq).as("seq"), lit(f).as("field"),
          lit(o).as("op"), vs.as("values"))
      val updates = Seq(
        op(1L, "lang", "set", array(lit("xx"))),
        op(2L, "n_chars", "inc", array(lit("7"))),
        op(3L, "tags", "add", array(lit("extra"), lit("extra2"), col("lang"))),
        op(4L, "tags", "remove", array(col("lang"))),
        op(5L, "tags", "removeregex", array(lit("ex.*")))
      ).reduce(_ union _)
      val upserts = (1L to 3L).flatMap { k =>
        val id = (9000000000L + k).toString
        Seq((id, 1L, "lang", "set", Seq("new")),
            (id, 2L, "n_chars", "inc", Seq("5")),
            (id, 3L, "tags", "add", Seq("a", "b")),
            (id, 4L, "tags", "remove", Seq("b")))
      }.toDF("id", "seq", "field", "op", "values")
      AtomicUpdate.merge(base, updates.union(upserts),
          numeric = Map("n_chars" -> "long"))
        .select(col("id").cast("long").as("doc_id"),
          element_at(col("fields"), "lang").getItem(0).as("lang"),
          element_at(col("fields"), "n_chars").getItem(0).cast("long")
            .as("n_chars"),
          array_join(element_at(col("fields"), "tags"), ",").as("tags"))
        .orderBy("doc_id")
    }),

    /** Solr update-request-processor chain (UpdateRequestProcessorChain):
      * a whole ingest chain — trim, remove-blank, uniq, concat field
      * mutators; all-or-none numeric parse (poisoned every 10th doc);
      * MD5 signature over the add()-stream; URLClassifyProcessor over a
      * synthesized URL (5 shape cases incl. dot-dot normalization and
      * landing/toplevel quirks). Everything except the URL classifier is
      * pure codegen'd Columns — one projection, zero shuffles; the oracle
      * re-derives each case arithmetically. */
    "update_chain" -> ((s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val raw = array(concat(lit("  "), col("lang"), lit(" ")), lit(""),
        concat(lit("src:"), col("source")), col("lang"), lit("x"))
      val tags = UpdateChain.firstVal(UpdateChain.concatVals(
        UpdateChain.uniqVals(UpdateChain.removeBlank(
          UpdateChain.trimVals(raw)))))
      val nums = when(col("doc_id") % 10 === 0,
          array(format_number(col("n_chars"), 0), lit("x")))
        .otherwise(array(format_number(col("n_chars"), 0)))
      val parsed =
        coalesce(UpdateChain.firstVal(UpdateChain.parseLongs(nums)), lit(-1L))
      val sfx = when(col("doc_id") % 5 === 0, lit("/"))
        .when(col("doc_id") % 5 === 1, lit("/a/index.html"))
        .when(col("doc_id") % 5 === 2, lit("/a/b/page.htm?q=1"))
        .when(col("doc_id") % 5 === 3, lit(""))
        .otherwise(lit("/research/../research/welcome.php"))
      val url = concat(lit("http://ex"), (col("doc_id") % 50).cast("string"),
        lit(".com"), sfx)
      val classify = udf((u: String) => UpdateChain.classifyUrl(u).orNull)
      docs.select(col("doc_id"), tags.as("tags"), parsed.as("parsed_n"),
          UpdateChain.md5SignatureCol(Seq(lit("lang"), col("lang"),
            lit("source"), col("source"))).as("sig"),
          classify(url).as("u"))
        .select(col("doc_id"), col("tags"), col("parsed_n"), col("sig"),
          col("u.url_length").as("url_length"),
          col("u.url_levels").as("url_levels"),
          col("u.url_landingpage").as("url_landing"),
          col("u.url_toplevel").as("url_toplevel"),
          col("u.url_canonical").as("url_canonical"))
        .orderBy("doc_id")
    }),

    // ---------- multi-valued sort selectors ----------

    /** SortedNumericSortField / SortedSetSortField selectors (reference
      * search/SortedNumericSelector.java:30-41 MIN/MAX over the doc's
      * value LIST; search/SortedSetSelector.java:30-56 MIN/MAX/MIDDLE_MIN/
      * MIDDLE_MAX over the doc's deduplicated SORTED SET of values — with
      * an even count MIDDLE_MIN takes the lower middle ord (count-1)/2,
      * MIDDLE_MAX the higher, count/2). Doc = user, numeric values = its
      * event `value`s, set values = its event types. MIN/MAX compile to
      * plain min/max aggregates — the selector IS the aggregate, no array
      * ever materialized at any scale; the MIDDLE selectors materialize
      * only the distinct set (bounded by the event-type vocabulary, not
      * the event count). Sort (set MIDDLE_MIN asc, numeric MAX desc,
      * user) top 20. */
    "sort_multival" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      ev.groupBy(col("user_id")).agg(
          round(min(col("value")), 9).as("num_min"),
          round(max(col("value")), 9).as("num_max"),
          sort_array(collect_set(col("event_type"))).as("types"))
        .withColumn("set_mid_min",
          expr("element_at(types, cast((size(types)-1)/2 as int) + 1)"))
        .withColumn("set_mid_max",
          expr("element_at(types, cast(size(types)/2 as int) + 1)"))
        // TakeOrdered first — the rank window then runs on 20 rows, not
        // on every user
        .orderBy(col("set_mid_min").asc, col("num_max").desc,
          col("user_id").asc)
        .limit(20)
        .withColumn("rank", row_number().over(Window.orderBy(
          col("set_mid_min").asc, col("num_max").desc, col("user_id").asc))
          .cast("long"))
        .select("rank", "user_id", "set_mid_min", "set_mid_max",
          "num_min", "num_max")
        .orderBy("rank")
    }),

    // ---------- payload functions / payload-check spans ----------

    /** Min/MaxPayloadFunction (reference queries/.../payloads/
      * MinPayloadFunction.java:25-35, MaxPayloadFunction.java:26-38 —
      * PayloadTermQuery score = min / max of the term occurrences'
      * payloads instead of ft_payload's average) over the same
      * position-derived payload channel (2.0 inside the 20-token lead
      * window, 1.0 after). One postings decode produces both. */
    "ft_payload_minmax" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      r.blocks(Seq("spark"))
        .flatMap { b =>
          graft.codec.PostingsCodec.decode(b).iterator
            .map { p =>
              var mn = Float.MaxValue
              var mx = Float.MinValue
              var j = 0
              while (j < p.positions.length) {
                val pay = graft.search.JoinScorer.leadPayload(p.positions(j))
                if (pay < mn) mn = pay
                if (pay > mx) mx = pay
                j += 1
              }
              (p.docId, mn.toDouble, mx.toDouble)
            }
        }.toDF("docId", "pay_min", "pay_max")
        .join(idMap(r), "docId")
        .orderBy(col("pay_max").desc, col("pay_min").desc,
          col("doc_id").asc)
        .limit(10) // TakeOrdered before the rank window
        .withColumn("rank", row_number().over(
          Window.orderBy(col("pay_max").desc, col("pay_min").desc,
            col("doc_id").asc)).cast("long"))
        .select("rank", "doc_id", "pay_min", "pay_max").orderBy("rank")
    }),

    /** SpanPayloadCheckQuery (spans/SpanPayloadCheckQuery.java:52-73):
      * occurrences of 'batch' whose collected payloads equal [2.0] in
      * order — i.e. the occurrence lies in the lead window. */
    "ft_span_paycheck" -> ((s, dir) => matchedDocs(s, dir, BoolQ(Seq(
      (Occur.Must, SpanPayloadCheckQ("batch", Seq(2f))))))),

    /** SpanNearPayloadCheckQuery (spans/SpanNearPayloadCheckQuery
      * .java:47-76): ordered table->scan near (slop 2) accepted only when
      * BOTH matched occurrences carry payload 2.0 (match-any counting
      * over the expected list, the near variant's rule). */
    "ft_span_near_paycheck" -> ((s, dir) => matchedDocs(s, dir, BoolQ(Seq(
      (Occur.Must, SpanNearPayloadCheckQ(Seq("table", "scan"), 2,
        Seq(2f, 2f))))))),

    // ---------- legacy suggester lookups + dictionary sources ----------

    /** TSTLookup over the index term dictionary (suggest/tst/TSTLookup
      * .java), onlyMorePopular=true: LookupPriorityQueue top-10 by weight
      * among 's'-prefix terms. The dictionary parameterizes weights to be
      * injective — df-major with a lexicographic minor — so the query is
      * PQ-deterministic at any scale (equal-weight PQ survival depends on
      * trie traversal order, covered by t:SuggestLookupsSpec instead).
      * Distributed part: two scalar aggregates + one bounded prefix-range
      * scan; driver replays the balancedTree insertion order of just that
      * range (SuggestLookups.medianOrder). */
    "suggest_tst" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      val c = 1L << 20
      val dict = r.termStatsDf.toDF()
        .where(!col("term").startsWith("path:") && !col("term").startsWith("rev:"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("df")).orderBy(col("term"))).cast("long"))
        .select(col("term"), (col("df") * c + (lit(c) - col("rn"))).as("weight"))
      SuggestLookups.tstLookup(dict, "s", 10, onlyMorePopular = true)
        .zipWithIndex.map { case (x, i) => (i + 1L, x.key, x.weight) }
        .toDF("rank", "term", "weight")
    }),

    /** JaspellLookup plain mode (suggest/jaspell/JaspellLookup.java:103-
      * 140): matchPrefix = the first `num` prefix matches in LEXICOGRAPHIC
      * order (in-order trie walk), weights reported as-is (df). */
    "suggest_jaspell" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      val dict = r.termStatsDf.toDF()
        .where(!col("term").startsWith("path:") && !col("term").startsWith("rev:"))
        .select(col("term"), col("df").cast("long").as("weight"))
      SuggestLookups.jaspellLookup(dict, "co", 15, onlyMorePopular = false)
        .zipWithIndex.map { case (x, i) => (i + 1L, x.key, x.weight) }
        .toDF("rank", "term", "weight")
    }),

    /** JaspellLookup onlyMorePopular quirk: candidates = the first num*2
      * prefix matches in LEXICOGRAPHIC order, and only that head slice is
      * weight-ranked — a globally heavier term later in the alphabet is
      * invisible. Same injective weights as suggest_tst. */
    "suggest_jaspell_pop" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      val c = 1L << 20
      val dict = r.termStatsDf.toDF()
        .where(!col("term").startsWith("path:") && !col("term").startsWith("rev:"))
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("df")).orderBy(col("term"))).cast("long"))
        .select(col("term"), (col("df") * c + (lit(c) - col("rn"))).as("weight"))
      SuggestLookups.jaspellLookup(dict, "s", 5, onlyMorePopular = true)
        .zipWithIndex.map { case (x, i) => (i + 1L, x.key, x.weight) }
        .toDF("rank", "term", "weight")
    }),

    /** HighFrequencyDictionary (spell/HighFrequencyDictionary.java:30-60:
      * df >= (int)(thresh*numDocs), float truncation kept) feeding the
      * WFST surface completion: 'c'-prefix high-frequency terms by df. */
    "suggest_highfreq" -> ((s, dir) => {
      val r = reader(s, dir)
      val stats = r.termStatsDf.toDF()
        .where(!col("term").startsWith("path:") && !col("term").startsWith("rev:"))
        .select(col("term"), col("df"))
      val dict = SuggestLookups
        .highFrequency(stats, r.collStats.maxDoc, 0.10f)
        .withColumnRenamed("term", "surface")
      graft.operators.Suggest.wfst(dict, "c", 10, exactFirst = false)
    }),

    /** DocumentDictionary (suggest/DocumentDictionary.java:60-150): one
      * entry per doc with a non-null suggest field (source), weight =
      * n_chars — feeding the analyzing suggester, whose per-surface dedup
      * keeps the max-weight entry (maxSurfaceFormsPerAnalyzedForm
      * posture). exactFirst puts the exact 'src1' surface first. */
    "suggest_document" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val dict = SuggestLookups
        .documentDictionary(docs, "source", Some("n_chars"))
        .withColumn("akey", col("surface"))
      graft.operators.Suggest.analyzing(dict, "src1", 8, exactFirst = true)
    }),

    /** FileDictionary (suggest/FileDictionary.java:108-214) parse quirks
      * end-to-end: <=3 tab-split fields, long weight with a (long)double
      * fallback, bare terms weight 1, payload presence decided by the
      * FIRST line alone (2 fields here, so later payloads drop) — parsed
      * on the driver (a dictionary file is driver input) and completed
      * via the WFST surface lookup. */
    "suggest_file" -> ((s, dir) => {
      import s.implicits._
      val lines = Seq("foo\t34", "bar\t12.7\tBAR", "turbo",
        "spartan\t5000000000", "spark\t9e2", "spa\t77\tSPA")
      val dict = SuggestLookups.fileDictionary(lines)
        .map { case (t, w, _) => (t, w) }.toDF("surface", "weight")
      graft.operators.Suggest.wfst(dict, "sp", 10, exactFirst = false)
    }),

    // ---------- rescore-by-sort / block-join sort / MLT-by-text ----------

    /** SortRescorer (search/SortRescorer.java:40-90): re-sort the first
      * pass's top page by a Sort — the collector walks the page in doc
      * order through a TopFieldCollector, so ties resolve by doc order.
      * First pass: BM25 top-40 disjunction; rescore sort:
      * (n_chars desc, doc_id). The sort-field join touches only the
      * 40-row page (broadcast side), never the corpus. */
    "ft_rescore_sort" -> ((s, dir) => {
      val r = reader(s, dir)
      val first = new JoinScorer(r).topK(should("spark", "vector", "window"), 40)
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("n_chars"))
      first.join(idMap(r), "docId").join(docs, "doc_id")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("n_chars").desc, col("doc_id").asc)).cast("long"))
        .where(col("rank") <= 15)
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** BlockJoinComparatorSource (misc/.../search/BlockJoinComparatorSource
      * .java:48: sort PARENT docs by a sort over their CHILD documents —
      * here parents = orders, children = lineitems, child sort =
      * l_extendedprice asc, so a parent's key is its MIN child price).
      * One keyed child agg + top-k; children never shuffle whole rows. */
    "block_join_sort" -> ((s, dir) => {
      val o = s.read.parquet(s"$dir/orders.parquet")
      val l = s.read.parquet(s"$dir/lineitem.parquet")
      o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("o_orderkey"))
        .agg(round(min(col("l_extendedprice")), 4).as("child_min"))
        // TakeOrdered before ranking — never a global window over all
        // parents
        .orderBy(col("child_min").asc, col("o_orderkey").asc).limit(15)
        .withColumn("rank", row_number().over(
          Window.orderBy(col("child_min").asc, col("o_orderkey").asc))
          .cast("long"))
        .select("rank", "o_orderkey", "child_min").orderBy("rank")
    }),

    /** MoreLikeThis over free text (MoreLikeThisHandler ContentStream body
      * / solr CloudMLTQParser: solr/core/.../handler/MoreLikeThisHandler
      * .java:117 — "like" text that is NOT an indexed document): analyze
      * the supplied text, pick representative terms by the same
      * (tf desc, df asc, term) rule with df >= 2, top-5 disjunction. */
    "ft_mlt_text" -> ((s, dir) => {
      val r = reader(s, dir)
      val text = "spark vector window merge stream batch spark vector spark"
      val toks = graft.analysis.Analyzer.analyze(text, Set.empty[String])
      val tf = toks.groupBy(_.term).map { case (t, xs) => t -> xs.length }
      val stats = r.termStats(tf.keys.toSeq)
      val picked = tf.toSeq
        .flatMap { case (t, f) => stats.get(t).map(st => (t, f, st.df)) }
        .filter(_._3 >= 2L)
        .sortBy { case (t, f, df) => (-f, df, t) }
        .take(5).map(_._1)
      rankedTopK(s, dir, BoolQ(picked.map(t =>
        (Occur.Should: Occur, TermQ(t): Query))), 10)
    }),

    /** PrecedenceQueryParser (queryparser/flexible/precedence/
      * PrecedenceQueryParser.java:43): AND binds tighter than OR, so
      * "spark AND vector OR window" matches (spark ∧ vector) ∨ window —
      * the classic parser's flat resolution (+spark +vector window) would
      * drop every window-only doc. */
    "ft_precedence" -> ((s, dir) => matchedDocs(s, dir,
      graft.search.PrecedenceParser.parse("spark AND vector OR window"))),

    /** Flexible StandardQueryParser (queryparser/flexible/standard/
      * StandardQueryParser.java:70): the StandardSyntaxParser grammar
      * gives AND precedence over OR WITHOUT parentheses and resolves
      * modifiers per BooleanQuery2ModifierNodeProcessor, so this matches
      * (spark ∧ vector) ∨ (window ∧ ¬python) — a different match set
      * from the classic parser's flat `+spark +vector window -python`. */
    "ft_flexible" -> ((s, dir) => matchedDocs(s, dir,
      graft.search.StandardParser.parse(
        "spark AND vector OR window AND NOT python"))),

    /** MultiPassIndexSplitter part assignment (misc/.../index/
      * MultiPassIndexSplitter.java:70-100) over the corpus in BOTH modes:
      * seq (ordinal ranges, last part absorbs the remainder) and
      * round-robin (ordinal % parts), 3 parts. Output = per-(mode, part)
      * count and id range. The physical N-pass child rebuild reuses the
      * splitShard copy machinery (t:MultiPassSplitSpec drives it
      * end-to-end; this row gates the assignment semantics). */
    "split_multipass" -> ((s, dir) => {
      val ids = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").as("docId"))
      def agg(seq: Boolean, mode: String) =
        IndexBuilder.multiPassAssign(ids, 3, seq)
          .groupBy(col("part"))
          .agg(count(lit(1)).as("cnt"), min("docId").as("min_id"),
            max("docId").as("max_id"))
          .withColumn("mode", lit(mode))
      agg(seq = true, "seq").union(agg(seq = false, "rr"))
        .select("mode", "part", "cnt", "min_id", "max_id")
        .orderBy("mode", "part")
    }),

    /** PerFieldSimilarityWrapper / MultiSimilarity (similarities/
      * PerFieldSimilarityWrapper.java:30 — each field's weight comes from
      * get(field); similarities/MultiSimilarity.java:55 — sub-scores
      * sum): a two-field disjunction where the content leg scores BM25
      * and the position-parallel rev: field leg scores Classic TF-IDF.
      * Each field's similarity computes its own weights and reads its own
      * field's norms; the per-doc scores sum. 'spark' and its
      * reversed-field twin match the same docs, so the composition is an
      * inner frame join on the 1:1 doc set. */
    "ft_perfield_sim" -> ((s, dir) => {
      val r = reader(s, dir, Variant.Reversed)
      val bm = new JoinScorer(r).scores(should("spark")).toDF("docId", "s1")
      val cl = new JoinScorer(r, Similarities.classic)
        .scores(should("rev:" + "spark".reverse)).toDF("docId", "s2")
      bm.join(cl, "docId")
        .withColumn("score", col("s1") + col("s2"))
        .join(idMap(r), "docId")
        .orderBy(round(col("score"), 5).desc, col("doc_id").asc)
        .limit(15) // TakeOrdered before the rank window
        .withColumn("rank", row_number().over(
          Window.orderBy(round(col("score"), 5).desc, col("doc_id").asc))
          .cast("long"))
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** NGramPhraseQuery (core search/NGramPhraseQuery.java:37-60): the
      * 2-gram phrase for "window" (wi,in,nd,do,ow consecutive) rewrites
      * to the sparse wi@0, nd@2, ow@4 — the engine matches ONLY the
      * optimized pattern against each analyzed token's gram stream
      * (per-row flatMap, zero shuffle), while the oracle matches the
      * FULL consecutive-gram phrase (= substring containment): equal
      * results are exactly the optimization's exactness claim. */
    "ft_ngram_phrase" -> ((s, dir) => {
      import s.implicits._
      val word = "window"
      val grams = (0 to word.length - 2).map(i => word.substring(i, i + 2))
      val (optT, optP) =
        graft.search.NGramPhrase.rewrite(grams, grams.indices, 2)
      require(optT == Seq("wi", "nd", "ow") && optP == Seq(0, 2, 4))
      s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text", "lang").as[(Long, String, String)]
        .flatMap { case (id, text, lang) =>
          val stop = graft.analysis.StopSets.forLang(lang)
          val hit = graft.analysis.Analyzer.analyze(text, stop)
            .exists(t =>
              graft.search.NGramPhrase.matchesWord(t.term, optT, optP, 2))
          if (hit) Iterator.single(id) else Iterator.empty
        }
        .toDF("doc_id").orderBy("doc_id")
    }),

    /** FSTCompletionLookup (suggest/fst/FSTCompletionLookup.java:95-150,
      * fst/FSTCompletion.java:150-230): df weights DISCRETIZED into 10
      * buckets ((weight asc, key asc) line order, equal-weight runs
      * inherit the run-start bucket); results carry the BUCKET, not the
      * weight. Two modes in one output: 'pop' = 's'-prefix popular walk
      * (bucket desc, term asc); 'exact' = 'spark'-prefix with
      * exactMatchFirst promoting the exact surface to rank 1. */
    "suggest_fst" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      val dict = r.termStatsDf.toDF()
        .where(!col("term").startsWith("path:") && !col("term").startsWith("rev:"))
        .select(col("term"), col("df").cast("long").as("weight"))
      def run(mode: String, prefix: String, num: Int) =
        SuggestLookups.fstCompletion(dict, prefix, num,
            buckets = 10, exactFirst = true, popular = true)
          .zipWithIndex.map { case (x, i) => (mode, i + 1L, x.key, x.weight) }
      (run("pop", "s", 10) ++ run("exact", "spark", 5))
        .toDF("mode", "rank", "term", "bucket")
        .orderBy("mode", "rank")
    }),

    // ---------- training-pipeline: chunking + sequence packing ----------

    /** Sliding-window chunking (RAG / long-context preprocessing, beyond
      * ref): windows of 40 analyzer tokens advancing by 32 (overlap 8),
      * final window = remainder. Pure per-row explode, zero shuffle. */
    "chunk_sliding" -> ((s, dir) =>
      TextAnalysis.chunk(
        s.read.parquet(s"$dir/documents.parquet")
          .where(col("doc_id") % 17 === 0), 40, 8)
        .orderBy("id", "chunk")),

    /** GPT-style sequence packing (beyond ref): concatenate each
      * source-shard's token stream in doc order and cut every 512
      * tokens — no padding, docs may span a cut. Per-doc offsets via a
      * per-shard cumsum window (independent windows, no global
      * serialization). */
    "pack_sequences" -> ((s, dir) =>
      TextAnalysis.pack(
        s.read.parquet(s"$dir/documents.parquet"), 512)
        .orderBy("grp", "id")),

    // ---------- more ValueSourceParser functions ----------

    /** Extended scalar table (solr/.../search/ValueSourceParser.java
      * parser registry): mod, xor (MultiBoolFunction chained ^ — true on
      * an ODD count of trues), e()/pi() constants (also bare), and
      * field('name') — all via FuncQuery.compile into codegen'd
      * Columns. */
    "func_scalar2" -> ((s, dir) => {
      val p = s.read.parquet(s"$dir/part.parquet")
      val f = Map("p_size" -> col("p_size"),
        "p_retailprice" -> col("p_retailprice"))
      p.select(col("p_partkey"),
        graft.functions.FuncQuery.compile("mod(p_size, 7)", f)
          .cast("long").as("mod_fn"),
        graft.functions.FuncQuery.compile("xor(exists(p_size), mod(p_size, 2))", f)
          .cast("long").as("xor_fn"),
        round(graft.functions.FuncQuery.compile("product(e(), pi())", f), 6)
          .as("epi"),
        round(graft.functions.FuncQuery
          .compile("sum(field('p_size'), if(true, 1, 2))", f), 6).as("fld"))
        .orderBy("p_partkey").limit(150)
    }),

    /** ord()/rord() (solr/.../search/function/OrdFieldSource.java:100-110,
      * ReverseOrdFieldSource.java:100-106): the 0-based ordinal of the
      * doc's value in the field's SORTED unique-value dictionary;
      * rord = valueCount - ord - 1. The ord map is a vocabulary-sized
      * distinct frame, broadcast back. */
    "func_ord" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val vals = docs.select(col("lang")).distinct()
        .withColumn("ord",
          (dense_rank().over(Window.orderBy("lang")) - 1).cast("long"))
      val cnt = vals.count()
      docs.join(broadcast(vals), "lang")
        .select(col("doc_id"), col("ord"),
          (lit(cnt) - col("ord") - 1).as("rord"))
        .orderBy("doc_id").limit(300)
    }),

    /** Index-stat value sources (ValueSourceParser registry: docfreq /
      * termfreq / tf / idf / norm / maxdoc / totaltermfreq): per-doc
      * termfreq, Classic tf = sqrt(freq) and the decoded norm for
      * 'spark', alongside the constant stats columns — one postings
      * decode plus the memoized term/collection stats. */
    "func_indexstats" -> ((s, dir) => {
      import s.implicits._
      val r = reader(s, dir)
      val cs = r.collStats
      val st = r.termStats(Seq("spark"))("spark")
      val idf = 1.0 + math.log(cs.maxDoc / (st.df + 1.0))
      r.blocks(Seq("spark"))
        .flatMap { b =>
          graft.codec.PostingsCodec.decode(b).iterator
            .map(p => (p.docId, p.tf,
              SmallFloat.byte315ToFloat(p.norm).toDouble))
        }.toDF("docId", "termfreq", "nrm")
        .join(idMap(r), "docId")
        .select(col("doc_id"),
          col("termfreq").cast("long").as("termfreq"),
          round(sqrt(col("termfreq")), 6).as("tf_sim"),
          round(col("nrm"), 9).as("norm"))
        .withColumn("docfreq", lit(st.df))
        .withColumn("ttf", lit(st.ttf))
        .withColumn("idf", round(lit(idf), 6))
        .withColumn("maxdoc", lit(cs.maxDoc))
        .orderBy("doc_id")
    }),

    // ---------- group.func / group.query ----------

    /** group.func (solr/.../search/Grouping.java CommandFunc: group by a
      * FUNCTION value instead of a field): groups = mod(n_chars, 5)
      * compiled by FuncQuery; top-2 docs per group by (n_chars desc,
      * doc_id) plus the group size — one window + one keyed agg. */
    "group_func" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val f = Map("n_chars" -> col("n_chars"))
      val g = docs.withColumn("grpval",
        graft.functions.FuncQuery.compile("mod(n_chars, 5)", f).cast("long"))
      val sizes = g.groupBy("grpval").agg(count(lit(1)).as("grp_size"))
      g.withColumn("rank", row_number().over(
          Window.partitionBy(col("grpval"))
            .orderBy(col("n_chars").desc, col("doc_id").asc)).cast("long"))
        .where(col("rank") <= 2)
        .join(sizes, "grpval")
        .select("grpval", "rank", "doc_id", "grp_size")
        .orderBy("grpval", "rank")
    }),

    /** group.query (Grouping.java CommandQuery: each group.query defines
      * ONE group = its match set): groups 'spark' and 'vector', top-3
      * scored docs each. */
    "group_query" -> ((s, dir) => {
      val r = reader(s, dir)
      val js = new JoinScorer(r)
      def grp(name: String, t: String) =
        js.topK(should(t), 3).join(idMap(r), "docId")
          .withColumn("grp", lit(name))
          .withColumn("rank", row_number().over(
            Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
          .select("grp", "rank", "doc_id")
      grp("spark", "spark").union(grp("vector", "vector"))
        .orderBy("grp", "rank")
    }),

    /** JSON Facet nested subfacets (solr/.../search/facet/FacetField
      * .java — a facet request nested INSIDE each parent bucket): lang
      * buckets, and within each the top-2 source sub-buckets by count
      * (ties by source) with per-sub-bucket metrics. Two keyed aggs +
      * one bounded window — the sub-facet never rescans the corpus. */
    "facet_subfacet" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val langCnt = docs.groupBy("lang")
        .agg(count(lit(1)).as("lang_cnt"))
      val sub = docs.groupBy("lang", "source")
        .agg(count(lit(1)).as("cnt"), sum("n_chars").as("sum_chars"))
        .withColumn("src_rank", row_number().over(
          Window.partitionBy(col("lang"))
            .orderBy(col("cnt").desc, col("source").asc)).cast("long"))
        .where(col("src_rank") <= 2)
      sub.join(langCnt, "lang")
        .select("lang", "src_rank", "source", "cnt", "sum_chars", "lang_cnt")
        .orderBy("lang", "src_rank")
    }),

    /** MoreLikeThis boost=true (queries/mlt/MoreLikeThis.java:609-630
      * createQuery: each interesting term's clause is boosted by
      * score/bestScore where score = tf * idf, bestScore = the top
      * term's): same doc-0 pick rule as ft_mlt, but the disjunction
      * carries the relative-weight boosts. */
    "ft_mlt_boost" -> ((s, dir) => {
      val r = reader(s, dir)
      val d0 = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") === 0L).select("text", "lang").head()
      val toks = graft.analysis.Analyzer.analyze(d0.getString(0),
        graft.analysis.StopSets.forLang(d0.getString(1)))
      val tf = toks.groupBy(_.term).map { case (t, xs) => t -> xs.length }
      val stats = r.termStats(tf.keys.toSeq)
      val picked = tf.toSeq
        .flatMap { case (t, f) => stats.get(t).map(st => (t, f, st.df)) }
        .filter(_._3 >= 2L)
        .sortBy { case (t, f, df) => (-f, df, t) }
        .take(5)
      val maxDoc = r.collStats.maxDoc
      val scores = picked.map { case (t, f, df) =>
        (t, f * (1.0 + math.log(maxDoc / (df + 1.0))))
      }
      val best = scores.map(_._2).max
      val q = BoolQ(scores.map { case (t, sc) =>
        (Occur.Should: Occur,
          BoostQ(TermQ(t), (sc / best).toFloat): Query)
      })
      val js = new JoinScorer(r)
      js.topK(q, 11)
        .join(idMap(r), "docId").where(col("doc_id") =!= 0L)
        .orderBy(round(col("score"), 5).desc, col("doc_id").asc).limit(10)
        .withColumn("rank", row_number().over(
          Window.orderBy(round(col("score"), 5).desc, col("doc_id").asc))
          .cast("long"))
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** facet.contains + facet.contains.ignoreCase (SimpleFacets SOLR-1387
      * substring bucket filter, new in 5.1): p_type buckets containing
      * 'BRASS' case-insensitively, count desc then index order. Unlike
      * facet.prefix the contains filter is NOT sargable — it filters
      * bucket keys post-scan, exactly like the reference's term-walk
      * check. */
    "facet_contains" -> ((s, dir) =>
      s.read.parquet(s"$dir/part.parquet")
        .groupBy("p_type").agg(count(lit(1)).as("cnt"))
        .where(lower(col("p_type")).contains("ar"))
        .orderBy(col("cnt").desc, col("p_type")).limit(10)),

    /** terms.regex + terms.limit (TermsComponent regex filtering mode —
      * the dictionary walk keeps regex-matching terms in index order). */
    "terms_regex" -> ((s, dir) => {
      val r = reader(s, dir)
      r.termStatsDf.toDF()
        .where(col("term").rlike("^s.*k$") &&
          !col("term").startsWith("path:") && !col("term").startsWith("rev:"))
        .orderBy("term").limit(10)
        .select(col("term"), col("df"), col("ttf"))
    }),

    /** DisMax bq= additive boost query (solr/.../search/DisMaxQParser
      * .java:137-167 addBoostQuery — the user query joins the top-level
      * BooleanQuery as MUST, every bq as SHOULD, so a matching bq ADDS
      * its score where the multiplicative {!boost} would scale it):
      * main = dismax(spark, vector), bq = merge. */
    "ft_dismax_bq" -> ((s, dir) => {
      val r = reader(s, dir)
      val js = new JoinScorer(r)
      val sp = js.scores(should("spark")).toDF("docId", "s1")
      val ve = js.scores(should("vector")).toDF("docId", "s2")
      val bq = js.scores(should("merge")).toDF("docId", "sb")
      sp.join(ve, Seq("docId"), "outer")
        .select(col("docId"),
          greatest(coalesce(col("s1"), lit(Float.MinValue)),
            coalesce(col("s2"), lit(Float.MinValue))).as("main"))
        .join(bq, Seq("docId"), "left")
        .withColumn("score", col("main") + coalesce(col("sb"), lit(0f)))
        .join(idMap(r), "docId")
        .orderBy(round(col("score"), 5).desc, col("doc_id").asc)
        .limit(15) // TakeOrdered before the rank window
        .withColumn("rank", row_number().over(
          Window.orderBy(round(col("score"), 5).desc, col("doc_id").asc))
          .cast("long"))
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** Near-dup canonical selection (the "keep one per duplicate
      * cluster" pipeline step, beyond ref): connected components over
      * the verified MinHash near-dup pairs; each cluster keeps its best
      * member by the deterministic rule (n_chars desc, member asc).
      * One window over cluster-partitioned members — clusters are
      * independent keyed groups at any scale. */
    "dedup_keep_best" -> ((s, dir) => {
      val cl = graft.operators.Dedup
        .clusters(minhashPairs(s, dir).select("a", "b"))
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id").as("member"), col("n_chars"))
      cl.join(docs, "member")
        .withColumn("keep", (row_number().over(
          Window.partitionBy(col("cluster"))
            .orderBy(col("n_chars").desc, col("member").asc)) === 1)
          .cast("int"))
        .select("cluster", "member", "keep").orderBy("cluster", "member")
    }),

    /** eDisMax pf2/pf3 (solr/.../search/ExtendedDismaxQParser.java:
      * addShingledPhraseQueries — beyond the full-phrase pf, pf2 adds a
      * phrase clause per adjacent word PAIR and pf3 per TRIPLE): for
      * "spark vector window", SHOULD terms + pf2 phrases (spark vector),
      * (vector window) + the pf3 triple, all BM25-summed. */
    "ft_edismax_pf23" -> ((s, dir) => {
      val r = reader(s, dir)
      val q = BoolQ(Seq(
        (Occur.Should, TermQ("spark")),
        (Occur.Should, TermQ("vector")),
        (Occur.Should, TermQ("window")),
        (Occur.Should, PhraseQ(Seq("spark", "vector"), Seq(0, 1))),
        (Occur.Should, PhraseQ(Seq("vector", "window"), Seq(0, 1))),
        (Occur.Should, PhraseQ(Seq("spark", "vector", "window"), Seq(0, 1, 2)))))
      new JoinScorer(r).topK(q, 15)
        .join(idMap(r), "docId")
        .withColumn("rank", row_number().over(
          Window.orderBy(col("score").desc, col("doc_id").asc)).cast("long"))
        .select("rank", "doc_id").orderBy("rank")
    }),

    /** stats.facet (StatsComponent per-facet-bucket statistics,
      * solr/.../component/StatsComponent.java + StatsValuesFactory):
      * min/max/sum/count/mean/stddev of n_chars per lang bucket —
      * Solr's CORRECTED sample stddev (sumsq - sum^2/n over n-1). */
    "stats_facet" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .groupBy("lang")
        .agg(min("n_chars").as("mn"), max("n_chars").as("mx"),
          sum("n_chars").as("sm"), count(lit(1)).as("cnt"),
          round(avg("n_chars"), 6).as("mean"),
          round(stddev_samp(col("n_chars").cast("double")), 6).as("sd"))
        .orderBy("lang")),

    /** Solr AnalyticsComponent, no-facet request (solr/contrib/analytics
      * AnalyticsComponent.java, NoFacetTest posture): the contrib's OWN
      * stat math — population stddev 0-when-n<=1
      * (NumericStatsCollector.java:52-55), split median
      * (MedianCalculator.java:38-50), SELECTION percentile
      * sorted[floor(p*n)] (PercentileCalculator.java:46) — over a sparse
      * numeric source (nulls exercise missing-counting) and a string
      * source, plus the ExpressionFactory algebra evaluated from parsed
      * expression strings (add/div/log/pow/concat/rev/const). */
    "analytics_stats" -> ((s, dir) => {
      import graft.operators.Analytics
      import graft.operators.Analytics._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Analytics.statsFrame(docs, Nil, Seq(
        Source("nc7",
          when(col("doc_id") % 7 === 0, lit(null)).otherwise(col("n_chars")),
          medianWanted = true,
          percentiles = Seq("20" -> 0.2, "50" -> 0.5, "80" -> 0.8)),
        Source("lang", col("lang"), numeric = false)))
        .select(
          col("nc7__count").as("cnt"), col("nc7__missing").as("miss"),
          round(col("nc7__sum"), 6).as("sm"),
          round(col("nc7__sumofsquares"), 6).as("sumsq"),
          round(col("nc7__mean"), 6).as("mean"),
          round(col("nc7__stddev"), 6).as("sd"),
          col("nc7__min").cast("long").as("mn"),
          col("nc7__max").cast("long").as("mx"),
          col("nc7__unique").as("uniq"),
          round(col("nc7__median"), 6).as("med"),
          col("nc7__percentile_20").cast("long").as("p20"),
          col("nc7__percentile_50").cast("long").as("p50"),
          col("nc7__percentile_80").cast("long").as("p80"),
          col("lang__min").as("lang_mn"), col("lang__max").as("lang_mx"),
          col("lang__unique").as("lang_uniq"),
          round(compile(parse("add(sum(nc7),const_num(10))")), 6).as("e_add"),
          round(compile(parse("div(sum(nc7),count(nc7))")), 6).as("e_div"),
          round(compile(parse("log(mean(nc7),const_num(2))")), 6).as("e_log"),
          round(compile(parse("pow(unique(lang),const_num(2))")), 6).as("e_pow"),
          compile(parse("concat(const_str(L:),rev(max(lang)))")).as("e_concat"))
    }),

    /** Analytics field facet with sort-by-expression + offset/limit
      * (FacetingAccumulator.java:330-355): buckets sort by ONE named
      * statistic, ties keep facet-value order (the reference's stable
      * sort over the TreeMap iteration), then offset 1 / limit 3 slice
      * the bucket list. */
    "analytics_fieldfacet" -> ((s, dir) => {
      import graft.operators.Analytics
      import graft.operators.Analytics._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Analytics.statsFrame(docs, Seq("bucket" -> col("source")), Seq(
        Source("nc", col("n_chars"), medianWanted = true,
          percentiles = Seq("25" -> 0.25))))
        .withColumn("rank", row_number().over(
          Window.orderBy(col("nc__mean").desc, col("bucket").asc))
          .cast("long"))
        .where(col("rank").between(2, 4)) // offset 1, limit 3
        .select(col("rank"), col("bucket"), col("nc__count").as("cnt"),
          round(col("nc__mean"), 6).as("mean"),
          round(col("nc__stddev"), 6).as("sd"),
          round(col("nc__median"), 6).as("med"),
          col("nc__percentile_25").cast("long").as("p25"))
        .orderBy("rank")
    }),

    /** Analytics range facet (RangeEndpointCalculator.java:75-150): gap
      * list [10, 20] cycles with the LAST gap repeating, soft end
      * extends 80 -> 90 (no hardend), include=lower+edge closes only the
      * extended-end upper edge, others=all adds before/after/between
      * over the EXTENDED end. A boundary value lands in every bucket
      * whose include flags admit it. */
    "analytics_rangefacet" -> ((s, dir) => {
      import graft.operators.Analytics
      import graft.operators.Analytics._
      val ranges = Analytics.rangeLayout(0, 80, Seq(10, 20),
        hardEnd = false, include = Set("lower", "edge"),
        others = Set("all"))
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("value"),
          explode(Analytics.rangeBucket(col("value"), ranges)).as("bucket"))
      Analytics.statsFrame(ev, Seq("bucket" -> col("bucket")), Seq(
        Source("v", col("value"), medianWanted = true)))
        .select(col("bucket"), col("v__count").as("cnt"),
          round(col("v__sum"), 6).as("sm"),
          round(col("v__mean"), 6).as("mean"),
          round(col("v__stddev"), 6).as("sd"),
          round(col("v__median"), 6).as("med"))
        .orderBy("bucket")
    }),

    /** Analytics query facet (QueryFacetTest posture): each named query
      * is one bucket; a row can fund several buckets. Full stat set
      * incl. median/percentile per bucket. */
    "analytics_queryfacet" -> ((s, dir) => {
      import graft.operators.Analytics
      import graft.operators.Analytics._
      val ev = s.read.parquet(s"$dir/events.parquet")
        .select(col("value"), explode(filter(array(
          when(col("event_type") === "click", lit("click")),
          when(col("value") > lit(250.0), lit("high"))), _.isNotNull))
          .as("bucket"))
      Analytics.statsFrame(ev, Seq("bucket" -> col("bucket")), Seq(
        Source("v", col("value"), medianWanted = true,
          percentiles = Seq("10" -> 0.1, "90" -> 0.9))))
        .select(col("bucket"), col("v__count").as("cnt"),
          round(col("v__mean"), 6).as("mean"),
          round(col("v__stddev"), 6).as("sd"),
          round(col("v__median"), 6).as("med"),
          round(col("v__percentile_10"), 6).as("p10"),
          round(col("v__percentile_90"), 6).as("p90"))
        .orderBy("bucket")
    }),

    /** Solr CSV update loader (/update/csv — handler/loader/
      * CSVLoaderBase.java): the per-field adder pipeline (split with its
      * own strategy -> trim -> map -> add-dropping-empties), header
      * consumption and rowid numbering over a CSV synthesized from the
      * documents table, exploded to (doc, field, pos, value) so the
      * oracle re-derives every cell relationally. */
    "update_csv" -> ((s, dir) => {
      import s.implicits._
      import graft.sources.CsvLoader
      import graft.sources.CsvLoader.Params
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 23 === 0)
      docs.select(struct(col("doc_id"),
          concat(col("doc_id"), lit("|"), col("lang"), lit(";"),
            col("source"), lit("| "), col("n_chars"), lit(" ")).as("line"))
          .as("s"))
        .agg(concat_ws("\n", transform(array_sort(collect_list(col("s"))),
          x => x.getField("line"))).as("body"))
        .select(concat(lit("id|tags|nc\n"), col("body")).as("content"))
        .as[String]
        .flatMap { content =>
          CsvLoader.loadDocs(content, Params(separator = '|',
            fSplit = Map("tags" -> true), fSeparator = Map("tags" -> ';'),
            fMap = Map("tags" -> Seq("en" -> "english")),
            fTrim = Map("nc" -> true),
            rowId = Some("row"))).flatMap { case (_, doc) =>
            val id = doc("id").head.toLong
            doc.toSeq.filter(_._1 != "id").flatMap { case (f, vs) =>
              vs.zipWithIndex.map { case (v, i) => (id, f, i.toLong, v) }
            }
          }
        }
        .toDF("doc_id", "field", "pos", "value")
        .orderBy("doc_id", "field", "pos")
    }),

    /** Solr JSON update split mode (/update/json/docs with split= and
      * f= — solrj JsonRecordReader.java + JsonLoader.handleSplitMode):
      * nested JSON flattens into one record per split-path object, with
      * sibling commonFields persisting across the records of their
      * enclosing object and purging at its close. The JSON is
      * synthesized from orders+lineitem as SEQUENTIAL ROOT VALUES (one
      * object per order) so the oracle re-derives the flattened rows
      * relationally. */
    "update_json" -> ((s, dir) => {
      import s.implicits._
      import graft.sources.JsonRecordReader
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderkey") % 7 === 0)
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val items = li.join(ord.select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), struct(col("l_linenumber"),
          col("l_partkey"),
          concat(lit("{\"pid\":"), col("l_partkey"), lit(",\"ln\":"),
            col("l_linenumber"), lit(",\"qty\":"),
            col("l_quantity").cast("long"), lit("}")).as("s")).as("it"))
        .groupBy("l_orderkey")
        .agg(concat_ws(",", transform(array_sort(collect_list(col("it"))),
          x => x.getField("s"))).as("inner"))
      ord.join(items, col("o_orderkey") === col("l_orderkey"))
        .select(struct(col("o_orderkey"),
          concat(lit("{\"oid\":"), col("o_orderkey"),
            lit(",\"status\":\""), col("o_orderstatus"),
            lit("\",\"items\":["), col("inner"), lit("]}")).as("j")).as("s"))
        .agg(concat_ws("\n", transform(array_sort(collect_list(col("s"))),
          x => x.getField("j"))).as("content"))
        .as[String]
        .flatMap { content =>
          JsonRecordReader.getInst("/items", Seq("oid:/oid",
            "status:/status", "pid:/items/pid", "ln:/items/ln",
            "qty:/items/qty"))
            .getAllRecords(content).map { m =>
              (m("oid").asInstanceOf[Long], m("status").asInstanceOf[String],
                m("pid").asInstanceOf[Long], m("ln").asInstanceOf[Long],
                m("qty").asInstanceOf[Long])
            }
        }
        .toDF("oid", "status", "pid", "ln", "qty")
        .orderBy("oid", "ln", "pid")
    }),

    /** Solr JSON update command mode (/update/json —
      * JsonLoader.parseAdd/parseDoc/handleDeleteCommand): a synthesized
      * update body with repeated add/delete command keys, extended
      * {boost,value} field values and multi-valued arrays parses into
      * typed commands; the oracle re-derives each command row
      * relationally. */
    "update_json_cmds" -> ((s, dir) => {
      import s.implicits._
      import graft.sources.JsonUpdate
      val ev = s.read.parquet(s"$dir/events.parquet")
        .where(col("event_id") % 31 === 0)
      ev.select(struct(col("event_id"),
          when(col("event_type") === "error",
            concat(lit("'delete':{'id':"), col("event_id"), lit("}")))
            .otherwise(concat(lit("'add':{'doc':{'id':"), col("event_id"),
              lit(",'type':'"), col("event_type"),
              lit("','v':{'boost':2.5,'value':"),
              floor(col("value") * 100).cast("long"),
              lit("},'tags':['"), col("event_type"), lit("','u"),
              col("user_id"), lit("']}}"))).as("j")).as("s"))
        .agg(concat_ws(",", transform(array_sort(collect_list(col("s"))),
          x => x.getField("j"))).as("body"))
        .select(concat(lit("{"), col("body"), lit("}")).as("content"))
        .as[String]
        .flatMap { content =>
          JsonUpdate.parse(content).map {
            case JsonUpdate.Add(doc, _, _, _) =>
              ("add", doc.valuesOf("id").head.asInstanceOf[Long],
                doc.valuesOf("type").head.asInstanceOf[String],
                doc.valuesOf("tags").map(_.toString).mkString(","),
                Option(doc.boostOf("v")),
                Option(doc.valuesOf("v").head.asInstanceOf[Long]))
            case JsonUpdate.Delete(Some(id), _, _, _, _) =>
              ("delete", id.toLong, null, null,
                Option.empty[Double], Option.empty[Long])
            case other => sys.error(s"unexpected $other")
          }
        }
        .toDF("kind", "id", "etype", "tags", "vboost", "vval")
        .orderBy("kind", "id")
    }),

    /** Solr CSV response writer (wt=csv — response/CSVResponseWriter
      * .java + internal CSVPrinter): per-doc CSV lines with the
      * printer's exact quote decisions (mv join through the escape
      * strategy then quoted as ONE cell, trailing-space quoting,
      * csv.null for missing fields). Oracle rebuilds each line. */
    "wt_csv" -> ((s, dir) => {
      import s.implicits._
      import graft.sources.CsvResponse
      import graft.sources.CsvResponse.WParams
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 19 === 0)
        .select(col("doc_id").as[Long], col("lang").as[String],
          col("source").as[String])
        .map { case (id, lang, source) =>
          val doc = Map("id" -> Seq(id.toString),
            "tags" -> Seq(lang, source),
            "pad" -> Seq(source + " "))
          (id, CsvResponse.write(Seq(doc),
            WParams(fields = Seq("id", "tags", "pad", "flag"),
              nullValue = "NA", multiValued = Set("tags"),
              header = false)).stripSuffix("\n"))
        }
        .toDF("doc_id", "line").orderBy("doc_id")
    }),

    /** Analytics date expressions (ExpressionFactory const_date /
      * DateMathExpression: math strings apply successively via
      * DateMathParser semantics — /UNIT rounding + signed interval
      * arithmetic over the UTC calendar): date stats (min/max of a
      * timestamp source) fed through date_math chains. Epoch-second
      * outputs keep the compare engine-agnostic. */
    "analytics_datemath" -> ((s, dir) => {
      import graft.operators.Analytics
      import graft.operators.Analytics._
      val ev = s.read.parquet(s"$dir/events.parquet")
      Analytics.statsFrame(ev, Seq("bucket" -> col("event_type")), Seq(
        Source("ts", col("ts"), numeric = false)))
        .select(col("bucket"),
          unix_timestamp(compile(parse("date_math(min(ts),const_str(/DAY))")))
            .as("day_floor"),
          unix_timestamp(compile(parse(
            "date_math(min(ts),const_str(+2MONTHS),const_str(/HOUR))")))
            .as("plus2m_hour"),
          unix_timestamp(compile(parse(
            "date_math(max(ts),const_str(/DAY+8HOURS-30MINUTES))")))
            .as("biz_open"),
          unix_timestamp(compile(parse(
            "date_math(const_date(2024-03-31T23:59:58Z),const_str(+1MONTH/DAY))")))
            .as("const_chain"))
        .orderBy("bucket")
    }),

    /** DataImportHandler XPathEntityProcessor (dataimporthandler
      * XPathRecordReader.java, XPathEntityProcessor.java): flatten an
      * XML document column into records by a forEach xpath with
      * attribute and multi-valued element fields. The XML is
      * synthesized from orders+lineitem engine-side so the oracle can
      * re-derive the flattened rows relationally — round-trips the
      * reader end to end (attributes, multi-valued alignment, nesting). */
    "dih_xpath" -> ((s, dir) => {
      import graft.sources.XmlRecords
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderkey") % 11 === 0)
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val items = li.join(ord.select("o_orderkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), struct(col("l_linenumber"),
          concat(lit("<item pid=\""), col("l_partkey"), lit("\" ln=\""),
            col("l_linenumber"), lit("\"><qty>"),
            col("l_quantity").cast("long"), lit("</qty></item>")).as("s"))
          .as("it"))
        .groupBy("l_orderkey")
        .agg(concat_ws("", transform(array_sort(collect_list(col("it"))),
          x => x.getField("s"))).as("inner"))
      val xml = ord.join(items, col("o_orderkey") === col("l_orderkey"))
        .select(concat(lit("<order id=\""), col("o_orderkey"),
          lit("\" status=\""), col("o_orderstatus"), lit("\">"),
          col("inner"), lit("</order>")).as("xml"))
      XmlRecords.fromXml(xml, "xml", "/order", Seq(
        ("id", "/order/@id", false, false),
        ("status", "/order/@status", false, false),
        ("pid", "/order/item/@pid", true, false),
        ("ln", "/order/item/@ln", true, false),
        ("qty", "/order/item/qty", true, false)))
        .select(col("id").cast("long").as("id"), col("status"),
          explode(arrays_zip(col("pid"), col("ln"), col("qty"))).as("z"))
        .select(col("id"), col("status"),
          col("z.pid").cast("long").as("pid"),
          col("z.ln").cast("long").as("ln"),
          col("z.qty").cast("long").as("qty"))
    }),

    /** DIH LineEntityProcessor + transformer chain (LineEntityProcessor
      * .java accept/skip find-rules; Regex/DateFormat/NumberFormat/
      * Template transformers in entity order): parse a delimited line
      * into typed fields — regex groupNames fan-out, SimpleDateFormat
      * parse (UTC pin), grouped-number parse, `${e.var}` templating.
      * One mapPartitions pass, zero shuffle. */
    "dih_transformers" -> ((s, dir) => {
      import graft.operators.DataImport
      import graft.operators.DataImport.Field
      import org.apache.spark.sql.types.{LongType, StringType, TimestampType}
      val lines = s.read.parquet(s"$dir/events.parquet")
        .select(concat(col("event_id"), lit("|"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm"), lit("|"),
          format_number((col("value") * 1000).cast("long"), 0), lit("|"),
          col("event_type")).as("rawLine"))
        // LineEntityProcessor: acceptLineRegex then skipLineRegex (find)
        .where(col("rawLine").rlike("^\\d+\\|") &&
          !col("rawLine").rlike("error"))
      DataImport.transform(lines,
        Seq(
          Field("rawLine", regex = Some(
            "(\\d+)\\|([0-9: -]+)\\|([0-9,]+)\\|(\\w+)"),
            groupNames = Some("id,when,amount,etype")),
          Field("when_ts", srcColName = Some("when"),
            dateTimeFormat = Some("yyyy-MM-dd HH:mm")),
          Field("amount_n", srcColName = Some("amount"),
            formatStyle = Some("integer")),
          Field("label", template = Some("${e.id}#${e.etype}"))),
        Seq("RegexTransformer", "DateFormatTransformer",
          "NumberFormatTransformer", "TemplateTransformer"),
        out = Seq(("id", LongType), ("when_ts", TimestampType),
          ("amount_n", LongType), ("label", StringType)))
        .select(col("id").cast("long").as("id"),
          unix_timestamp(col("when_ts")).as("epoch"),
          col("amount_n"), col("label"))
    }),

    /** REAL audio decode path (upgrades the multimodal stub for
      * uncompressed formats): synthesize a deterministic PCM16 waveform
      * per row, encode it as a real RIFF/WAVE file, decode it back with
      * the pure-JVM WAV reader, and extract per-frame RMS +
      * zero-crossing features from the decoded samples. The oracle
      * recomputes the features from the waveform's closed form — any
      * codec bug (endianness, chunk walk, sample scaling) breaks the
      * match. */
    "multimodal_wav" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.RawMedia
      s.read.parquet(s"$dir/events.parquet")
        .where(col("event_id") % 29 === 0)
        .select(col("event_id").as[Long])
        .flatMap { id =>
          val samples = Array.tabulate(800)(i =>
            (((id * 31 + i * 7) % 2003 - 1001) * 16).toShort)
          val bytes = RawMedia.encodeWavPcm16(samples, 16000, 1)
          val wav = RawMedia.decodeWav(bytes)
          RawMedia.audioFrameFeatures(wav, 200).zipWithIndex.map {
            case ((rms, zc), k) =>
              (id, k.toLong, BigDecimal(rms)
                .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, zc)
          }
        }
        .toDF("id", "frame_no", "rms", "zc").orderBy("id", "frame_no")
    }),

    /** REAL image decode path: synthesize deterministic 9x7 RGB pixels
      * per row, encode as a real bottom-up padded 24bpp BMP, decode
      * back, and emit channel means + a nearest-neighbor 3x3 resize
      * checksum computed from the DECODED pixels. Exercises BGR order,
      * bottom-up rows and stride padding end to end. */
    "multimodal_bmp" -> ((s, dir) => {
      import s.implicits._
      import graft.operators.RawMedia
      import graft.operators.RawMedia.BmpImage
      s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") % 17 === 0)
        .select(col("doc_id").as[Long])
        .map { id =>
          val (w, h) = (9, 7)
          val rgb = new Array[Byte](w * h * 3)
          for (y <- 0 until h; x <- 0 until w) {
            val o = (y * w + x) * 3
            rgb(o) = ((id + 3 * x + 5 * y) % 256).toByte
            rgb(o + 1) = ((id * 2 + x + 7 * y) % 256).toByte
            rgb(o + 2) = ((x * y + id) % 256).toByte
          }
          val img = RawMedia.decodeBmp(
            RawMedia.encodeBmp24(BmpImage(w, h, rgb)))
          val (mr, mg, mb) = RawMedia.meanRgb(img)
          val rz = RawMedia.resizeNearest(img, 3, 3)
          val checksum = (for (y <- 0 until 3; x <- 0 until 3) yield
            rz.r(x, y).toLong * 65536 + rz.g(x, y) * 256 + rz.b(x, y)).sum
          def r6(v: Double) = BigDecimal(v)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
          (id, r6(mr), r6(mg), r6(mb), checksum)
        }
        .toDF("id", "mean_r", "mean_g", "mean_b", "rz_checksum")
        .orderBy("id")
    }),

    /** Deterministic domain mixing (pretraining data recipe, beyond
      * ref): per-class keep rates derived from target weights + observed
      * counts so the output mixture matches the recipe exactly,
      * downsampling only; selection by the overflow-free multiplicative
      * hash (stable across runs and engines). Weights are exact binary
      * fractions so the driver's ppm arithmetic reproduces bit-identically
      * in the oracle. */
    "mix_domains" -> ((s, dir) => {
      import graft.operators.TextAnalysis
      TextAnalysis.mixDomains(
        s.read.parquet(s"$dir/documents.parquet"),
        Map("src1" -> 0.5, "src2" -> 0.25, "src3" -> 0.125,
          "src4" -> 0.125),
        classCol = "source")
        .select("doc_id", "source").orderBy("doc_id")
    }),

    /** DIH nested entities (SqlEntityProcessor where="oid=${order.id}" +
      * CachedSqlEntityProcessor): each child row's fields append to the
      * parent document as multi-valued columns in child iteration order
      * (DocBuilder.buildDocument). The cached variant IS a hash join —
      * here one keyed aggregation + join, never a per-parent re-scan. */
    /** Solr schema.xml dynamicField/copyField binding (reference
      * schema/IndexSchema.java:999-1160): documents columns renamed to
      * Solr field names resolve through dynamic patterns; the copyField
      * rules materialize the catch-all — a glob copy with remainder
      * substitution (*_t -> *_txt), an explicit copy with maxChars
      * truncation, and dynamic-source copies into the multiValued
      * catch-all, in getCopyFieldsList-then-column order. Arrays are
      * serialized (comparator needs atomic columns). */
    "solr_schema" -> ((s, dir) => {
      import graft.sources.SolrSchema
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val in = docs.select(
        col("doc_id").cast("string").as("id"),
        substring(col("text"), 1, 80).as("title_t"),
        col("lang").as("lang_s"),
        col("source").as("source_s"))
      val schema = SolrSchema.parse(
        """<schema name="graft" version="1.5">
          |  <types>
          |    <fieldType name="string" class="solr.StrField"/>
          |    <fieldType name="text_general" class="solr.TextField"/>
          |  </types>
          |  <fields>
          |    <field name="id" type="string"/>
          |    <field name="text" type="text_general" multiValued="true"
          |           stored="false"/>
          |    <dynamicField name="*_t" type="text_general"/>
          |    <dynamicField name="*_txt" type="text_general"
          |                  multiValued="true"/>
          |    <dynamicField name="*_s" type="string"/>
          |  </fields>
          |  <copyField source="*_t" dest="*_txt"/>
          |  <copyField source="title_t" dest="text" maxChars="30"/>
          |  <copyField source="*_s" dest="text"/>
          |</schema>""".stripMargin)
      schema.bind(in)
        .select(col("id").cast("long").as("id"),
          array_join(col("title_txt"), "|").as("title_txt"),
          array_join(col("text"), "|").as("catchall"))
        .orderBy("id")
    }),

    /** DIH delta import (reference DocBuilder.java delta flow:
      * deltaQuery finds keys whose last_modified > last_index_time,
      * deltaImportQuery re-imports those rows through the transformer
      * chain into the EXISTING index; new versions replace old by PK).
      * Here: full import = latest event per user_id at or before
      * last_index_time (max ts - 7 days), built as a real index; delta =
      * later rows, routed through a TemplateTransformer and applied with
      * updateDocs (tombstone-by-key + delta sub-index — the resumable
      * build machinery). Output = the LIVE doc per key from the merged
      * MultiIndexReader view, tagged with which import produced it. */
    "dih_delta" -> ((s, dir) => dihDeltaFrames.getOrElseUpdate(dir, {
      import graft.operators.DataImport
      import graft.operators.DataImport.Field
      import org.apache.spark.sql.types.{LongType, StringType}
      val ev = s.read.parquet(s"$dir/events.parquet")
      // .get, not .getTimestamp: the column may read back as
      // TimestampNTZ (LocalDateTime); lit() handles either
      val cut = ev.agg((max(col("ts")) - expr("INTERVAL 7 DAYS")).as("c"))
        .head().get(0)
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      def latest(df: DataFrame): DataFrame =
        df.withColumn("rn", row_number().over(w))
          .where(col("rn") === 1).drop("rn")
      // the transformer chain (TemplateTransformer) builds the doc body
      def throughChain(df: DataFrame): DataFrame =
        DataImport.transform(
          df.select(col("user_id"), col("event_id"), col("event_type"),
            col("props")),
          Seq(Field("content", template = Some("${e.event_type} ${e.props}"))),
          Seq("TemplateTransformer"),
          out = Seq(("user_id", LongType), ("event_id", LongType),
            ("content", StringType)))
      val maxUid = ev.agg(max(col("user_id"))).head().getLong(0)
      val baseParts = (maxUid / DocsPerPart + 1).toInt
      def asInput(df: DataFrame, off: Int): DataFrame =
        throughChain(df).select(
          (lit(off) + (col("user_id") / DocsPerPart)).cast("int")
            .as("docPart"),
          lit("events").as("repo"),
          lpad(col("user_id").cast("string"), 9, "0").as("path"),
          col("event_id").cast("string").as("commit"),
          lit("en").as("lang"),
          col("content"))
      val cfg = ftConfig(2 * baseParts)
      val ixDir = tmpDir("graft-dihd")
      IndexBuilder.build(s, asInput(latest(ev.where(col("ts") <= lit(cut))),
        0), ixDir, cfg)
      IndexBuilder.updateDocs(s,
        ixDir, asInput(latest(ev.where(col("ts") > lit(cut))), baseParts),
        cfg)
      val r = MultiIndexReader.open(s, ixDir, cfg.numBuckets,
        cacheData = false)
      r.liveOnly(r.docmeta.toDF())
        .select(col("path").as("user_key"),
          col("commit").cast("long").as("event_id"),
          when(shiftright(col("docId"), Ids.DocIdShift) >= baseParts, "delta")
            .otherwise("full").as("src"))
        .orderBy("user_key")
    })),

    "dih_nested" -> ((s, dir) => {
      val ord = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderkey") % 13 === 0)
      val li = s.read.parquet(s"$dir/lineitem.parquet")
      val child = li.groupBy(col("l_orderkey"))
        .agg(transform(array_sort(collect_list(struct(col("l_linenumber"),
          col("l_partkey")))), x => x.getField("l_partkey")).as("parts"))
      ord.join(child, col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("o_orderkey").as("id"), col("o_orderstatus").as("status"),
          // Serialized (not array-typed): the driver's pandas compare cannot
          // hash ndarray cells, so both engine and oracle emit CSV strings.
          array_join(coalesce(col("parts"), array().cast("array<bigint>"))
            .cast("array<string>"), ",").as("parts"),
          coalesce(size(col("parts")), lit(0)).cast("long").as("n_items"))
        .orderBy("id")
    })
  )

  def oracleSql: Map[String, String] = OracleQueries.all
}
