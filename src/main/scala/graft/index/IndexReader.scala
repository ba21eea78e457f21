package graft.index

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.codec.PostingBlock
import graft.search.BM25

/** Point-in-time view over a built index directory (DirectoryReader analog,
  * lucene/core/src/java/org/apache/lucene/index/DirectoryReader.java:62).
  *
  * Caching mirrors the reference's serving posture: Lucene keeps the term
  * dictionary hot (FST in heap) and answers a warm query with a dictionary
  * seek plus a postings read, compiling nothing. Here: term-stats lookups
  * are memoized driver-side (the TermsEnum.seekExact cache), docmeta is a
  * Spark-cached Dataset, and the postings are ONE persisted RDD
  * (MEMORY_AND_DISK), hash-partitioned on the term key, whose partitions
  * each hold a key -> blocks map; readers of the same postings files share
  * it. A warm query reads only the partitions holding its keys, with no
  * Spark SQL planning or codegen on the way: WandScorer's chunk tasks
  * each read those partitions straight from block storage through a
  * narrow fan-out (one stage, no shuffle), and JoinScorer's Dataset scan
  * (`blocks`) reads them in its first stage.
  * `cacheData = false` restores scan-per-query (the posture for a 100TB
  * index where only the hot working set should live in executor storage —
  * Spark evicts LRU).
  *
  * Collection statistics live in the build's collstats lineage marker, as
  * the reference's segment carries its own: the reader reads them on the
  * driver, so opening it or asking for them starts no Spark job.
  *
  * The reader serves one [[Commit]] generation, read once at open (`pinned`
  * when the caller already read it), and retains it: no cleanup deletes
  * its files while the reader is reachable.
  */
final class IndexReader(val spark: SparkSession, val dir: String,
                        val numBuckets: Int, val cacheData: Boolean = true,
                        pinned: Option[Commit.Pin] = None)
    extends SearchReader {
  import spark.implicits._

  private[index] val pin: Commit.Pin = pinned.getOrElse(Commit.pin(dir))
  Commit.hold(pin.baseDir, pin.gen)

  /** Doc metadata = a column-pruned view over the segments parquet (the
    * postings column chunks are never read; parquet is columnar, so this
    * costs the same as a dedicated docmeta file without the build paying
    * a full second write of every stored field). */
  private lazy val docmetaDf: Dataset[DocMeta] = {
    val d = spark.read.parquet(s"$dir/segments")
      .select("docId", "docPart", "repo", "path", "commit", "lang",
        "dl", "norm", "sha256")
      .as[DocMeta]
    if (cacheData) d.persist(StorageLevel.MEMORY_AND_DISK) else d
  }

  def docmeta: Dataset[DocMeta] = docmetaDf

  private val stat = IndexBuilder.markerField(dir, "collstats", _: String)

  lazy val collStats: CollStats =
    CollStats(stat("maxDoc"), stat("sumTotalTermFreq"))

  lazy val avgdl: Float =
    BM25.avgFieldLength(collStats.sumTotalTermFreq, collStats.maxDoc)

  lazy val normCache: Array[Float] = BM25.cache(avgdl)

  private lazy val pathSumTtf: Long = stat("pathSumTtf")

  def fieldSumTtf(field: String): Long =
    if (field == "content") collStats.sumTotalTermFreq
    else if (field == "path") pathSumTtf else 0L

  /** max(docPart)+1 over this index. */
  lazy val numDocPartsHint: Int = math.max(1, stat("docParts").toInt)

  private lazy val termStatsCached: Dataset[TermStats] = {
    val ts = spark.read.parquet(s"$dir/termstats").as[TermStats]
    if (cacheData) ts.persist(StorageLevel.MEMORY_AND_DISK) else ts
  }

  def termStatsDf: Dataset[TermStats] = termStatsCached

  /** Driver-side memo of per-term stats (the TermsEnum.seekExact + stats
    * read of the reference, search/IndexSearcher.java:836-847). Negative
    * lookups are cached too (absent term -> None). */
  private val statsMemo =
    new scala.collection.concurrent.TrieMap[String, Option[TermStats]]

  /** The build's bucket count (termstats marker) must be this reader's:
    * lookups filter on Buckets.of(term, numBuckets) and would silently
    * miss terms. Checked once; markers without the field skip it. */
  private lazy val bucketsChecked: Unit =
    IndexBuilder.markerValue(dir, "termstats", "numBuckets").foreach { built =>
      if (built != numBuckets) throw new IllegalArgumentException(
        s"index $dir was built with numBuckets = $built but opened with " +
          s"numBuckets = $numBuckets")
    }

  def termStats(terms: Seq[String]): Map[String, TermStats] = {
    if (terms.isEmpty) return Map.empty
    val missing = terms.distinct.filterNot(statsMemo.contains)
    if (missing.nonEmpty) {
      bucketsChecked
      val buckets = missing.map(t => Buckets.of(t, numBuckets)).distinct
      val found = termStatsCached
        .where($"bucket".isin(buckets: _*) && $"term".isin(missing: _*))
        .collect().map(ts => ts.term -> ts).toMap
      missing.foreach(t => statsMemo.put(t, found.get(t)))
    }
    terms.distinct.flatMap(t => statsMemo(t).map(t -> _)).toMap
  }

  /** Term-dictionary expansion for multi-term queries (prefix/wildcard/
    * fuzzy/range rewrite, reference search/MultiTermQuery.java). The
    * predicate runs over the term dictionary, NOT the postings; matching
    * more than `limit` terms RAISES TooManyClauses (reference semantics,
    * search/BooleanQuery.java:47-66) instead of silently truncating. */
  def expandTerms(pred: org.apache.spark.sql.Column,
                  limit: Int = SearchReader.MaxClauseCount): Seq[TermStats] =
    SearchReader.checkClauses(
      termStatsCached.where(pred).orderBy($"term").limit(limit + 1)
        .collect().toSeq, limit)

  private lazy val postingsFiles: Dataset[BlockRowK] =
    spark.read.parquet(s"$dir/postings").drop("wave").as[BlockRowK]

  /** The postings cache of a cached reader, shared by every reader of the
    * same postings files (see [[IndexReader.postingsCache]]). */
  private lazy val cache = IndexReader.postingsCache(spark, dir, postingsFiles)

  /** Tombstones: exactly the delete part-files the reader's generation
    * lists, so deletes published after the open stay invisible. */
  override lazy val deletedDocs: Option[DataFrame] =
    if (pin.deleteFiles.isEmpty) None
    else {
      val d = spark.read.parquet(pin.deleteFiles: _*).select($"docId")
      Some(if (cacheData) d.persist(StorageLevel.MEMORY_AND_DISK) else d)
    }

  /** Compressed blocks of the given terms, ready for
    * [[graft.codec.PostingsCodec.decode]]. The on-disk rows are keyed by
    * the 63-bit term key (no term strings in the postings files); query
    * terms resolve to keys driver-side and the string is reattached from
    * the query's own (tiny) key->term map. Cached: only the cache
    * partitions that hold the query's keys are read. Uncached: a parquet
    * scan that reads only the row groups whose (key, docId) range can hold
    * the keys. */
  def blockRdd(terms: Seq[String],
               postingsPerTask: Long = Long.MaxValue): RDD[PostingBlock] = {
    val k2t: Map[Long, String] =
      terms.distinct.map(t => TermKeys.of(t) -> t).toMap
    if (!cacheData) return scanBlocks(k2t).rdd
    val wanted = k2t.keySet.map(cache.part.getPartition)
    val pruned = PartitionPruningRDD.create(cache.byKey, wanted.contains)
    def slice(s: Int, n: Int): RDD[PostingBlock] =
      pruned.flatMap(IndexReader.slice(k2t, s, n))
    // at most defaultParallelism tasks in all (term stats are memoized:
    // the scorer has already looked them up)
    val n =
      if (postingsPerTask == Long.MaxValue) 1
      else math.min(spark.sparkContext.defaultParallelism / math.max(1, wanted.size),
        1 + termStats(terms).values.map(_.df).sum / postingsPerTask).toInt.max(1)
    if (n == 1) slice(0, 1) else spark.sparkContext.union((0 until n).map(slice(_, n)))
  }

  def postingsCached: Boolean = cacheData

  private def scanBlocks(k2t: Map[Long, String]): Dataset[PostingBlock] =
    // Column-level term reattachment (element_at over a literal map) keeps
    // the scan -> filter -> project inside whole-stage codegen.
    postingsFiles
      .where($"key".isin(k2t.keys.toSeq: _*))
      .select(
        element_at(typedLit(k2t), $"key").as("term"),
        $"firstDoc", $"lastDoc", $"count", $"maxTf", $"sumTf", $"maxPartial",
        $"docBytes", $"nrmBytes", $"posBytes")
      .as[PostingBlock]
}

object IndexReader {
  def apply(spark: SparkSession, dir: String,
            cfg: IndexConfig = IndexConfig()): IndexReader =
    new IndexReader(spark, dir, cfg.numBuckets)

  /** The function [[IndexReader.blockRdd]] maps each pruned cache
    * partition with: slice s of n, every n-th block of each key in
    * `k2t`, from the s-th, with the key's term attached. */
  private[graft] def slice(k2t: Map[Long, String], s: Int, n: Int)
      : Map[Long, Array[BlockRowK]] => Iterator[PostingBlock] =
    new Slice(k2t, s, n)

  /** A named class, not a lambda: Spark's ClosureCleaner returns at once
    * for it, where for a lambda it reads and parses the declaring class
    * file on every query. */
  private final class Slice(k2t: Map[Long, String], s: Int, n: Int)
      extends (Map[Long, Array[BlockRowK]] => Iterator[PostingBlock])
      with Serializable {
    def apply(byKey: Map[Long, Array[BlockRowK]]): Iterator[PostingBlock] =
      k2t.iterator.flatMap { case (key, term) =>
        val bs = byKey.getOrElse(key, Array.empty[BlockRowK])
        (s until bs.length by n).iterator.map(bs(_).withTerm(term))
      }
  }

  /** A filled postings cache: one map per partition from term key to that
    * key's blocks; a key lives in partition `part.getPartition(key)`. */
  private final class PostingsCache(val dir: String,
                                    val byKey: RDD[Map[Long, Array[BlockRowK]]],
                                    val part: HashPartitioner)

  /** Postings caches by postings file listing. Spark names every written
    * part file uniquely, so a sub-index that did not change keeps its
    * listing: the readers a MultiIndexReader refresh reopens over it reuse
    * its cache instead of filling another. Held weakly, as Spark holds its
    * persisted RDDs: a cache no reader holds is unpersisted by Spark's
    * ContextCleaner. A directory that was rewritten, or that no latest
    * generation lists any more, has its cache unpersisted at the next
    * fill, since no new reader of the latest generation can use it. */
  private val postingsCaches = scala.collection.mutable
    .HashMap[Seq[String], java.lang.ref.WeakReference[PostingsCache]]()

  private def postingsCache(spark: SparkSession, dir: String,
                            rows: Dataset[BlockRowK]): PostingsCache =
    postingsCaches.synchronized {
      val files = rows.inputFiles.toSeq.sorted
      // each base's latest generation is read once per fill, not once per cache
      val latest = scala.collection.mutable.HashMap[String, Option[Commit.Manifest]]()
      postingsCaches.filterInPlace { (fs, ref) =>
        val c = ref.get
        c != null && !c.byKey.context.isStopped && {
          val stale = (c.dir == dir && fs != files) ||
            Commit.locate(c.dir, b => latest.getOrElseUpdate(b, Commit.find(b))).isEmpty
          if (stale) c.byKey.unpersist(blocking = false)
          !stale
        }
      }
      postingsCaches.get(files).map(_.get)
        .filter(c => c != null && (c.byKey.context eq spark.sparkContext))
        .getOrElse {
          // one partition per scan partition (at least defaultParallelism),
          // so a query with few terms touches few partitions
          val scan = rows.rdd
          val part = new HashPartitioner(
            math.max(scan.getNumPartitions, spark.sparkContext.defaultParallelism))
          val byKey = scan.map(b => (b.key, b)).partitionBy(part)
            .mapPartitions(it => Iterator.single(it.map(_._2).toArray.groupBy(_.key)))
            .setName(s"postings $dir")
            .persist(StorageLevel.MEMORY_AND_DISK)
          byKey.count()
          val c = new PostingsCache(dir, byKey, part)
          postingsCaches(files) = new java.lang.ref.WeakReference(c)
          c
        }
    }
}

