package graft.index

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Dataset, Encoders, SparkSession}

import graft.codec.PostingBlock

/** Reader abstraction the scorers run against (IndexReader for one built
  * index; MultiIndexReader for a base index + appended delta sub-indexes —
  * the composite DirectoryReader-over-segments analog,
  * lucene/core/src/java/org/apache/lucene/index/DirectoryReader.java:62). */
trait SearchReader {
  def spark: SparkSession
  def collStats: CollStats
  def avgdl: Float
  def normCache: Array[Float]

  /** Total token count of a field (fieldstats; "content" = collstats). */
  def fieldSumTtf(field: String): Long

  /** Per-field avgdl / norm cache (reference per-field
    * CollectionStatistics, search/IndexSearcher.java:836-847). Scorers
    * pick the cache by the term's field so path-field scores use the
    * path field's length statistics. */
  def avgdlFor(field: String): Float =
    if (field == "content") avgdl
    else graft.search.BM25.avgFieldLength(fieldSumTtf(field), collStats.maxDoc)

  private val fieldCaches =
    new scala.collection.concurrent.TrieMap[String, Array[Float]]
  def normCacheFor(field: String): Array[Float] =
    if (field == "content") normCache
    else fieldCaches.getOrElseUpdate(field, graft.search.BM25.cache(avgdlFor(field)))
  /** Upper bound on docPart values present (max docPart + 1). Used by the
    * WAND distributor to size its bounded query-time chunk grid. */
  def numDocPartsHint: Int
  def termStats(terms: Seq[String]): Map[String, TermStats]
  def termStatsDf: Dataset[TermStats]
  def expandTerms(pred: Column, limit: Int = SearchReader.MaxClauseCount): Seq[TermStats]
  /** The compressed blocks of `terms` (each distinct term once), as the
    * RDD the WAND scorer consumes; over a cached reader no Spark SQL plan
    * is built for it. A cached reader keeps all blocks of a term in one
    * partition, and the RDD holds only the cache partitions of the
    * query's keys: WAND's chunk tasks each read all of them through a
    * narrow fan-out, in the same stage (see [[postingsCached]]). An
    * uncached reader's RDD is a parquet scan, which WAND shuffles to its
    * chunks. For consumers that decode in the first stage a cached reader
    * can split a term's blocks, adding a task per `postingsPerTask`
    * postings of the query's terms, up to defaultParallelism tasks in
    * all. */
  def blockRdd(terms: Seq[String],
               postingsPerTask: Long = Long.MaxValue): RDD[PostingBlock]

  /** Whether [[blockRdd]] reads the in-memory postings cache (every
    * sub-reader opened with `cacheData = true`), so that reading its
    * partitions once per WAND chunk costs no parquet scan. */
  def postingsCached: Boolean

  /** The same blocks as a Dataset, for the scorers that continue in
    * Spark SQL (JoinScorer, the similarity variants, SparkEntry). They
    * decode in the first stage, so a hot term's blocks are spread. */
  def blocks(terms: Seq[String]): Dataset[PostingBlock] =
    spark.createDataset(blockRdd(terms, SearchReader.SpreadPostings))(
      Encoders.product[PostingBlock])
  def docmeta: Dataset[DocMeta]

  /** Tombstoned docIds (one `docId` column), or None when nothing was
    * deleted. Reference semantics (index/LiveDocs + IndexWriter
    * .deleteDocuments): deleted docs vanish from RESULTS immediately, but
    * collection/term statistics keep counting them until a merge/compact
    * rewrites the segments (`IndexBuilder.compact`). Point-in-time like
    * everything else on a reader: deletes applied after the reader was
    * opened need a re-open. */
  def deletedDocs: Option[org.apache.spark.sql.DataFrame] = None

  /** Apply the live-docs filter to any frame carrying a `docId` column:
    * tombstoned docs leave RESULTS immediately (the LiveDocs contract
    * above). Every scorer's final (docId, score) frame routes through
    * here so no top-k path can forget the anti-join. */
  def liveOnly(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    deletedDocs match {
      case None => df
      case Some(d) => df.join(d, Seq("docId"), "left_anti")
    }

  /** Sorted tombstone docIds as a broadcast, built ONCE per reader and
    * reused by every WAND query against it (per-query broadcast creation
    * plus the collect behind it was a measurable driver-side cost at
    * interactive latencies — the round-4 q_wand3 @32 inversion). Bounded:
    * 8M longs = 64 MB, comparable to a Lucene live-docs bitset on a
    * 500M-doc segment. Deletes only accumulate BETWEEN compactions, so a
    * sane compaction cadence never approaches this; past it, this refuses
    * loudly rather than shipping an unbounded array to every executor
    * (the join scorer stays correct at any delete count). */
  lazy val deletedSortedBroadcast
      : org.apache.spark.broadcast.Broadcast[Array[Long]] =
    spark.sparkContext.broadcast(deletedDocs match {
      case None => Array.emptyLongArray
      case Some(d) =>
        val ids = d.select(org.apache.spark.sql.functions.col("docId"))
          .distinct().collect().map(_.getLong(0)).sorted
        if (ids.length > SearchReader.MaxBroadcastDeletes)
          throw new IllegalStateException(
            s"${ids.length} uncompacted tombstones exceed the WAND " +
              s"broadcast bound (${SearchReader.MaxBroadcastDeletes}); " +
              "run IndexBuilder.compact()")
        ids
    })

  /** Whether this index carries the reversed-token "rev:" field (built
    * with IndexConfig.reverseTokens) — one memoized dictionary probe;
    * leading-wildcard rewrites use it to pick the prefix-scan path. */
  lazy val hasReverseField: Boolean = {
    import org.apache.spark.sql.functions.col
    !termStatsDf.where(col("term").startsWith("rev:")).isEmpty
  }

  /** Realtime get (Solr /get, solr/handler/RealTimeGetHandler.java): the
    * newest live version of the doc with unique key (repo, path) — max
    * docId across base + delta sub-indexes, tombstones excluded. One row
    * of docmeta (or zero when the doc was deleted / never existed); the
    * stored fields come from the usual join back to the source table. */
  def realtimeGet(repo: String, path: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val keyed = docmeta.toDF()
      .where(col("repo") === repo && col("path") === path)
    liveOnly(keyed).orderBy(col("docId").desc).limit(1)
  }

  /** Fuzzy term expansion with dictionary pruning: a cheap |len(term) -
    * len(query)| <= maxEdits band runs BEFORE the Levenshtein evaluation,
    * so the full-vocabulary edit-distance scan of round 1 becomes a
    * length-banded one (the pragmatic stand-in for the reference's
    * Levenshtein-automaton intersection, search/FuzzyTermsEnum.java). */
  def fuzzyTerms(term: String, maxEdits: Int,
                 limit: Int = SearchReader.MaxClauseCount): Seq[TermStats] = {
    import org.apache.spark.sql.functions._
    val len = term.length
    expandTerms(
      length(col("term")).between(len - maxEdits, len + maxEdits) &&
        IndexBuilder.fieldGuard(term) && levenshtein(col("term"), lit(term)) <= maxEdits, limit)
  }
}

object SearchReader {
  /** Reference BooleanQuery.maxClauseCount default
    * (search/BooleanQuery.java:47-66). */
  final val MaxClauseCount = 1024

  /** Postings that pay for one more block-fetch task in [[SearchReader.blocks]]:
    * spreading every term over all cores made JoinScorer queries about 30%
    * slower at 5k docs, where no term reaches this; at 2M docs a hot term's
    * million postings would otherwise decode in one task. */
  final val SpreadPostings: Long = 1L << 18

  /** Upper bound on tombstones ridden as the cached WAND broadcast
    * (see [[SearchReader.deletedSortedBroadcast]]). */
  final val MaxBroadcastDeletes: Int = 8 * 1024 * 1024

  /** Raised when a multi-term rewrite matches more than `limit` dictionary
    * terms — the reference THROWS here rather than silently truncating
    * (BooleanQuery.TooManyClauses, search/BooleanQuery.java:47-66). */
  final class TooManyClauses(matched: Long, limit: Int) extends RuntimeException(
    s"multi-term query expands to > $limit dictionary terms " +
      s"(maxClauseCount, reference BooleanQuery.java:47-66)")

  private[index] def checkClauses(ts: Seq[TermStats], limit: Int): Seq[TermStats] =
    if (ts.length > limit) throw new TooManyClauses(ts.length, limit)
    else ts
}

/** Point-in-time union view over several sub-indexes with GLOBAL
  * statistics: df/ttf/maxDoc/sumTotalTermFreq sum across sub-indexes, so
  * BM25 weights (and therefore scores and ranks) are identical to a
  * from-scratch build over the union — the distributed-idf correctness the
  * reference's per-shard stats lack (SURVEY.md §3.3). Sub-indexes must
  * have disjoint docPart ranges (the append API guarantees it). */
final class MultiIndexReader(val readers: Seq[IndexReader]) extends SearchReader {
  require(readers.nonEmpty)
  val spark: SparkSession = readers.head.spark

  lazy val collStats: CollStats = CollStats(
    readers.map(_.collStats.maxDoc).sum,
    readers.map(_.collStats.sumTotalTermFreq).sum)

  lazy val avgdl: Float =
    graft.search.BM25.avgFieldLength(collStats.sumTotalTermFreq, collStats.maxDoc)

  lazy val normCache: Array[Float] = graft.search.BM25.cache(avgdl)

  def fieldSumTtf(field: String): Long = readers.map(_.fieldSumTtf(field)).sum

  lazy val numDocPartsHint: Int = readers.map(_.numDocPartsHint).max

  def termStats(terms: Seq[String]): Map[String, TermStats] = {
    val per = readers.map(_.termStats(terms))
    terms.distinct.flatMap { t =>
      val hits = per.flatMap(_.get(t))
      if (hits.isEmpty) None
      else Some(t -> TermStats(t, hits.head.bucket,
        hits.map(_.df).sum, hits.map(_.ttf).sum, hits.map(_.maxTf).max))
    }.toMap
  }

  def termStatsDf: Dataset[TermStats] = {
    import spark.implicits._
    readers.map(_.termStatsDf).reduce(_ union _)
      .groupByKey(_.term)
      .mapGroups { (t, it) =>
        val xs = it.toSeq
        TermStats(t, xs.head.bucket, xs.map(_.df).sum, xs.map(_.ttf).sum,
          xs.map(_.maxTf).max)
      }
  }

  def expandTerms(pred: Column, limit: Int = SearchReader.MaxClauseCount): Seq[TermStats] = {
    import org.apache.spark.sql.functions.col
    SearchReader.checkClauses(
      termStatsDf.where(pred).orderBy(col("term")).limit(limit + 1)
        .collect().toSeq, limit)
  }

  /** Per-(sub-index, field) WAND-bound correction. A block's stored
    * maxPartial = max tf/(tf + cacheSub[norm]) was computed at BUILD time
    * with the sub-index's own norm cache, but a multi-reader query scores
    * with the GLOBAL cache — if the sub's avgdl exceeds the union's,
    * cacheGlobal[n] < cacheSub[n] and the stored bound UNDERestimates the
    * true partial: block-max pruning would drop rank-winning docs
    * (caught by IndexMaintenanceSpec's tiered case). Since for tf,a,b > 0
    * (tf+a)/(tf+b) <= max(1, a/b), scaling by
    * f = max_n max(1, cacheSub[n]/cacheGlobal[n]) restores a sound bound:
    * tf/(tf+cg[n]) <= [tf/(tf+cs[n])] * f. nextUp guards float rounding. */
  private[graft] lazy val boundScale: Seq[(Float, Float)] = readers.map { r =>
    def f(sub: Array[Float], glob: Array[Float]): Float = {
      var m = 1.0
      var i = 0
      while (i < sub.length) {
        val q = sub(i).toDouble / glob(i).toDouble
        if (q > m) m = q
        i += 1
      }
      if (m == 1.0) 1f else Math.nextUp(Math.nextUp(m).toFloat)
    }
    (f(r.normCache, normCache),
      f(r.normCacheFor("path"), normCacheFor("path")))
  }

  def blockRdd(terms: Seq[String],
               postingsPerTask: Long = Long.MaxValue): RDD[PostingBlock] =
    spark.sparkContext.union(readers.zip(boundScale).map { case (r, (fc, fp)) =>
      val b = r.blockRdd(terms, postingsPerTask)
      if (fc == 1f && fp == 1f) b else b.map(new MultiIndexReader.ScaleBound(fc, fp))
    })

  def postingsCached: Boolean = readers.forall(_.postingsCached)

  def docmeta: Dataset[DocMeta] =
    readers.map(_.docmeta).reduce(_ union _)

  override lazy val deletedDocs: Option[org.apache.spark.sql.DataFrame] = {
    val dels = readers.flatMap(_.deletedDocs)
    if (dels.isEmpty) None else Some(dels.reduce(_ union _))
  }
}

object MultiIndexReader {
  /** A block with its [[MultiIndexReader.boundScale]] correction applied
    * (`fc` for content terms, `fp` for path terms). A named class, not a
    * lambda, so that Spark's ClosureCleaner reads no class file for it on
    * each query. */
  private final class ScaleBound(fc: Float, fp: Float)
      extends (PostingBlock => PostingBlock) with Serializable {
    def apply(x: PostingBlock): PostingBlock = x.copy(maxPartial = math.min(1f,
      x.maxPartial * (if (x.term.startsWith("path:")) fp else fc)))
  }

  /** Re-open a point-in-time view over a base index plus every committed
    * delta sub-index (the SearcherManager.maybeRefresh analog). */
  def open(spark: SparkSession, baseDir: String, numBuckets: Int,
           cacheData: Boolean = true): MultiIndexReader =
    new MultiIndexReader(IndexBuilder.subIndexDirs(baseDir)
      .map(d => new IndexReader(spark, d, numBuckets, cacheData)))
}
