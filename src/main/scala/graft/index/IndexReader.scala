package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.codec.PostingBlock
import graft.search.BM25

/** Point-in-time view over a built index directory (DirectoryReader analog,
  * lucene/core/src/java/org/apache/lucene/index/DirectoryReader.java:62).
  *
  * Caching mirrors the reference's serving posture: Lucene keeps the term
  * dictionary hot (FST in heap) and postings in the OS page cache. Here:
  * term-stats lookups are memoized driver-side (the TermsEnum.seekExact
  * cache), and the postings / docmeta Datasets are Spark-cached
  * (MEMORY_AND_DISK) so repeated queries hit executor-resident columnar
  * batches instead of re-reading parquet. `cacheData = false` restores
  * scan-per-query (the posture for a 100TB index where only the hot
  * working set should live in executor storage — Spark evicts LRU).
  */
final class IndexReader(val spark: SparkSession, val dir: String,
                        val numBuckets: Int, val cacheData: Boolean = true,
                        val pinnedDeleteFiles: Option[Seq[String]] = None)
    extends SearchReader {
  import spark.implicits._

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

  lazy val collStats: CollStats =
    spark.read.parquet(s"$dir/collstats").as[CollStats].head()

  lazy val avgdl: Float =
    BM25.avgFieldLength(collStats.sumTotalTermFreq, collStats.maxDoc)

  lazy val normCache: Array[Float] = BM25.cache(avgdl)

  private lazy val fieldStats: Map[String, Long] =
    spark.read.parquet(s"$dir/fieldstats").as[FieldStats]
      .collect().map(fs => fs.field -> fs.sumTtf).toMap

  def fieldSumTtf(field: String): Long =
    if (field == "content") collStats.sumTotalTermFreq
    else fieldStats.getOrElse(field, 0L)

  /** max(docPart)+1 over this index (one tiny cached-scan agg, memoized). */
  lazy val numDocPartsHint: Int = {
    val r = docmetaDf.agg(coalesce(max($"docPart"), lit(-1))).head().getInt(0)
    math.max(1, r + 1)
  }

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

  def termStats(terms: Seq[String]): Map[String, TermStats] = {
    if (terms.isEmpty) return Map.empty
    val missing = terms.distinct.filterNot(statsMemo.contains)
    if (missing.nonEmpty) {
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

  private lazy val postingsDf: DataFrame = {
    val p = spark.read.parquet(s"$dir/postings").drop("wave")
    if (cacheData) p.persist(StorageLevel.MEMORY_AND_DISK) else p
  }

  /** Tombstones. Live readers scan the whole `deletes/` dir; a reader
    * opened at a snapshot (SnapshotDeletionPolicy analog, see
    * [[Snapshot]]) pins the exact delete part-files that existed at the
    * commit point — later appends to `deletes/` stay invisible. */
  override lazy val deletedDocs: Option[DataFrame] = {
    val p = java.nio.file.Paths.get(dir, "deletes")
    val files: Seq[String] = pinnedDeleteFiles match {
      case Some(fs) => fs.map(f => p.resolve(f).toString)
      case None =>
        if (java.nio.file.Files.exists(p)) Seq(p.toString) else Nil
    }
    if (files.isEmpty) None
    else {
      val d = spark.read.parquet(files: _*).select($"docId")
      Some(if (cacheData) d.persist(StorageLevel.MEMORY_AND_DISK) else d)
    }
  }

  /** Compressed blocks of the given terms, ready for
    * [[graft.codec.PostingsCodec.decode]]. The on-disk rows are keyed by
    * the 63-bit term key (no term strings in the postings files); query
    * terms resolve to keys driver-side and the string is reattached from
    * the query's own (tiny) key->term map. Uncached: parquet row-group
    * pruning via the files' (key, docId) sort order; cached: in-memory
    * columnar batch filter. */
  def blocks(terms: Seq[String]): Dataset[PostingBlock] = {
    val k2t: Map[Long, String] =
      terms.distinct.map(t => TermKeys.of(t) -> t).toMap
    val keys = k2t.keys.toSeq
    // Column-level term reattachment (element_at over a literal map) keeps
    // the scan -> filter -> project inside whole-stage codegen; the previous
    // typed .as[BlockRowK].map{..} deserialized every block row and broke
    // the columnar-batch filter path (round-3 verdict, query-p50 doubling).
    postingsDf
      .where($"key".isin(keys: _*))
      .select(
        element_at(typedLit(k2t), $"key").as("term"),
        $"firstDoc", $"lastDoc", $"count", $"maxTf", $"sumTf", $"maxPartial",
        $"docBytes", $"nrmBytes", $"posBytes")
      .as[PostingBlock]
  }
}

object IndexReader {
  def apply(spark: SparkSession, dir: String,
            cfg: IndexConfig = IndexConfig()): IndexReader =
    new IndexReader(spark, dir, cfg.numBuckets)
}
