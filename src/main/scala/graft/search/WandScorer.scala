package graft.search

import scala.jdk.CollectionConverters._

import org.apache.spark.{Dependency, HashPartitioner, NarrowDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{FloatType, LongType, StructField, StructType}

import graft.codec.{PostingBlock, PostingsCodec}
import graft.index.{Ids, SearchReader}

/** Block-max WAND top-k over the compressed term-partitioned postings
  * (SURVEY.md §4.3; Ding & Suel 2011 — the reference 5.2 tree has only the
  * precursors: skip lists for advance [codecs/MultiLevelSkipListWriter.java:31-62]
  * and the collector threshold [search/TopScoreDocCollector.java:71-79]).
  *
  * Distribution model: the doc space is split into a BOUNDED grid of
  * query-time chunks — at most ~2x the runtime parallelism, each owning a
  * contiguous range of docParts (mirroring per-segment search in
  * search/IndexSearcher.java:648-673) — and each chunk task keeps only
  * the blocks whose (firstDoc, lastDoc) span overlaps its chunk
  * (`chunksOf`). Because the chunk count is capped by CORES (not by
  * numDocParts), a sparse term whose one block spans the whole doc space
  * is read by at most targetChunks tasks, independent of numDocParts
  * (which is ~2e5 at 100 TB). How blocks reach the chunk tasks depends on
  * the reader:
  *  - cached postings (`SearchReader.postingsCached`): a narrow fan-out
  *    in which every chunk task reads the query's few key partitions of
  *    the in-memory cache directly. The query is ONE stage of numChunks
  *    tasks with no shuffle, the way the reference searches each segment
  *    where it lives;
  *  - uncached postings: the parquet scan's block rows are shuffled to
  *    the chunks they overlap — O(#blocks + #terms x #chunks) rows — so
  *    the scan runs once instead of once per chunk.
  * Each chunk task runs a WAND loop with a local k-heap, decoding a block
  * only when the cursor enters it (skipping via (firstDoc, lastDoc)
  * metadata) and skipping pivots whose summed upper bounds cannot beat
  * the local threshold. Upper bounds are wv * maxPartial where maxPartial
  * was computed at build time with the exact query-time float ops, so
  * pruning is rank-safe (see PostingsCodec).
  * The chunk heaps (at most k x numChunks hits) are collected and merged
  * on the driver by (score desc, docId asc) == global top-k; the answer
  * is a local DataFrame, so a warm query plans no Spark SQL and compiles
  * no code.
  */
final class WandScorer(reader: SearchReader) {
  private val sparkS = reader.spark

  /** Disjunctive (OR) or conjunctive (AND) term query. Scores and ranks
    * are float-identical to JoinScorer (tested property). */
  def topK(terms: Seq[String], k: Int, conjunctive: Boolean = false,
           minShouldMatch: Int = 0): DataFrame = {
    if (k <= 0) return WandScorer.frame(sparkS, Seq.empty)
    val stats = reader.termStats(terms.distinct)
    val present = terms.filter(stats.contains)
    if (present.isEmpty || (conjunctive && present.length < terms.length))
      return WandScorer.frame(sparkS, Seq.empty)
    val maxDoc = reader.collStats.maxDoc
    // weights in clause order (clause order = position in `terms`)
    val wvs: Array[Float] = present.map(t =>
      BM25.weightValue(BM25.idf(stats(t).df, maxDoc))).toArray
    // term -> ALL clause indices bearing it: duplicate clauses each get
    // their own cursor over the same blocks, exactly like JoinScorer's
    // one-frame-per-clause semantics (a Map to a single index would
    // silently drop duplicate clauses and break rank identity / msm)
    val termIdx: Map[String, Seq[Int]] = present.zipWithIndex
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    // per-clause norm cache (a clause's field decides its avgdl). These
    // per-query arrays are a few KB total — they ride in the task closure
    // directly; per-query sc.broadcast() calls were a measurable
    // driver-side fixed cost at interactive latency (round-4 q_wand3 @32
    // inversion). Tombstones stay a broadcast (can be MBs) but are built
    // ONCE per reader and reused across queries.
    val caches: Array[Array[Float]] = present.map(t =>
      reader.normCacheFor(graft.index.IndexBuilder.fieldOfTerm(t))).toArray
    val msm = if (conjunctive) present.length else math.max(minShouldMatch, 1)
    val kk = k
    val delSortedB = reader.deletedSortedBroadcast

    val ppc = WandScorer.partsPerChunk(reader.numDocPartsHint,
      sparkS.sparkContext.defaultParallelism)
    val numChunks =
      (math.max(1, reader.numDocPartsHint) + ppc - 1) / ppc
    // Exactly ONE task per chunk; partition i of `byChunk` holds (at
    // least) the blocks overlapping chunk i. A cached reader's blocks come
    // through the narrow fan-out, so the query is one stage with no
    // shuffle; an uncached reader's are shuffled to their chunks once,
    // since there a fan-out re-scans the parquet once per chunk (slower
    // on perfbench's uncached ingest_serve; see SCALE.md). The explicit
    // HashPartitioner over chunk ids 0..numChunks-1 is bijective, so
    // partition index == chunk id on both inputs.
    val blocks = reader.blockRdd(present)
    val byChunk: RDD[PostingBlock] =
      if (reader.postingsCached) new WandScorer.FanOutRDD(blocks, numChunks)
      else blocks
        .flatMap(b => WandScorer.chunksOf(b.firstDoc, b.lastDoc, ppc).map(c => (c, b)))
        .partitionBy(new HashPartitioner(numChunks))
        .values
    val chunkHeaps = byChunk
      .mapPartitionsWithIndex { (chunk, it) =>
        val byTerm = Array.fill(wvs.length)(
          scala.collection.mutable.ArrayBuffer[PostingBlock]())
        it.foreach { b =>
          if (WandScorer.chunksOf(b.firstDoc, b.lastDoc, ppc).contains(chunk))
            termIdx(b.term).foreach(byTerm(_) += b)
        }
        val loDoc = (chunk.toLong * ppc) << Ids.DocIdShift
        val hiDoc = ((chunk + 1).toLong * ppc) << Ids.DocIdShift
        val cursors = (0 until wvs.length).flatMap { i =>
          val blocks = WandScorer.disjointBlocks(
            byTerm(i).sortBy(_.firstDoc).toArray, caches(i))
          if (blocks.isEmpty) None
          else Some(new WandScorer.Cursor(i, wvs(i), blocks, loDoc, hiDoc,
            caches(i)))
        }.toArray
        if (cursors.length < msm) Iterator.empty
        else {
          val del = delSortedB.value
          val deleted: Long => Boolean =
            if (del.isEmpty) _ => false
            else id => java.util.Arrays.binarySearch(del, id) >= 0
          WandScorer.wand(cursors, wvs.length, msm, kk, deleted).iterator
        }
      }
      .collect()
    WandScorer.frame(sparkS, chunkHeaps.sortWith((a, b) =>
      a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)).take(k).toSeq)
  }
}

object WandScorer {
  private val HitSchema = StructType(Seq(
    StructField("docId", LongType, nullable = false),
    StructField("score", FloatType, nullable = false)))

  /** Ranked hits as a local (docId, score) DataFrame. */
  private def frame(spark: SparkSession, hits: Seq[(Long, Float)]): DataFrame =
    spark.createDataFrame(hits.map { case (d, s) => Row(d, s) }.asJava, HitSchema)

  /** Chunk grid: contiguous docPart ranges of this width. The chunk COUNT
    * is capped at ~2x parallelism so block fan-out never scales with
    * numDocParts (the round-1 scale-killer: (lo to hi) per docPart). */
  def partsPerChunk(numDocParts: Int, parallelism: Int): Int = {
    val nParts = math.max(1, numDocParts)
    val targetChunks = math.max(1, math.min(nParts, math.max(1, parallelism) * 2))
    (nParts + targetChunks - 1) / targetChunks
  }

  /** Chunks a block's (firstDoc, lastDoc) span overlaps — O(span/width)+1,
    * bounded by the chunk-count cap. */
  def chunksOf(firstDoc: Long, lastDoc: Long, ppc: Int): Range =
    Ids.docPart(firstDoc) / ppc to Ids.docPart(lastDoc) / ppc

  /** One partition per chunk, each reading EVERY partition of `prev` (a
    * narrow dependency: the chunk tasks run in the stage that reads
    * `prev`, with no shuffle). Over a cached reader `prev` is the pruned
    * postings cache, so each chunk task reads the query's few key
    * partitions from local block storage and keeps the blocks that
    * overlap its chunk. That is O(numChunks x #blocks of the query's
    * terms) block reads per query, each with the term copy `blockRdd`
    * makes, where the exchange read each block once: a hot term's blocks
    * are walked numChunks times. Each child partition carries its
    * parents' Partition objects: a pruned RDD cannot rebuild its
    * partition list on an executor. On a multi-executor cluster every
    * chunk task would fetch whole remote cache partitions (numChunks x
    * the query's cache partitions); all current deployments are
    * local[N]. */
  private final class FanOutRDD(@transient private val prev: RDD[PostingBlock],
                                numChunks: Int)
      extends RDD[PostingBlock](prev.context, Nil) {
    override protected def getPartitions: Array[Partition] = {
      val parents = prev.partitions
      Array.tabulate[Partition](numChunks)(new FanOutPartition(_, parents))
    }
    override def getDependencies: Seq[Dependency[_]] =
      Seq(new NarrowDependency(prev) {
        def getParents(id: Int): Seq[Int] = rdd.partitions.indices
      })
    override def compute(split: Partition, ctx: TaskContext): Iterator[PostingBlock] =
      split.asInstanceOf[FanOutPartition].parents.iterator
        .flatMap(firstParent[PostingBlock].iterator(_, ctx))
  }

  private final class FanOutPartition(val index: Int, val parents: Array[Partition])
      extends Partition

  /** The Cursor walks one term's blocks SEQUENTIALLY, which requires
    * their docId spans to be disjoint. A MultiIndexReader after a TIERED
    * compaction can violate that: the merged sub-index's 128-posting
    * blocks pack across the docPart holes left by cold deltas, so a
    * merged block's span can overlap a cold delta's block (the cursor
    * would then walk past the cold block's docs without visiting them —
    * caught by IndexMaintenanceSpec's tiered case). Here overlapping
    * clusters are decoded, merge-sorted by docId, and re-encoded into
    * proper disjoint blocks, chunk-locally and only for the clusters
    * that actually overlap (the common all-disjoint case returns the
    * input array untouched). Bounds are recomputed with the QUERY-side
    * cache, so they dominate the scores this query computes. */
  private[graft] def disjointBlocks(sorted: Array[PostingBlock],
                                     cache: Array[Float]): Array[PostingBlock] = {
    if (sorted.length < 2) return sorted
    var overlap = false
    var i = 1
    while (!overlap && i < sorted.length) {
      if (sorted(i - 1).lastDoc >= sorted(i).firstDoc) overlap = true
      i += 1
    }
    if (!overlap) return sorted
    val out = scala.collection.mutable.ArrayBuffer[PostingBlock]()
    val cluster = scala.collection.mutable.ArrayBuffer[PostingBlock]()
    var clusterEnd = Long.MinValue
    def flush(): Unit = {
      if (cluster.length == 1) out += cluster.head
      else if (cluster.nonEmpty) {
        val merged = cluster.toArray.flatMap(PostingsCodec.decode)
          .sortBy(_.docId)
        out ++= PostingsCodec.encode(cluster.head.term, merged.iterator, cache)
      }
      cluster.clear()
    }
    sorted.foreach { b =>
      if (cluster.nonEmpty && b.firstDoc > clusterEnd) flush()
      cluster += b
      if (b.lastDoc > clusterEnd) clusterEnd = b.lastDoc
    }
    flush()
    out.toArray
  }

  /** One term's postings iterator over (chunk-restricted) blocks with
    * metadata-level skipping. */
  private[search] final class Cursor(val clause: Int, val wv: Float,
                             blocks: Array[PostingBlock], loDoc: Long,
                             hiDoc: Long, cache: Array[Float]) {
    private var bi = -1 // current block index
    private var docs: Array[Long] = _
    private var tfs: Array[Int] = _
    private var nrms: Array[Byte] = _
    private var pi = 0
    var curDoc: Long = -1L
    // chunk-local upper bound factor (max over this chunk's blocks)
    val maxPartial: Float = {
      var m = Float.NegativeInfinity
      blocks.foreach(b => if (b.maxPartial > m) m = b.maxPartial)
      m
    }
    def termUb: Float = wv * maxPartial
    def blockUb: Float =
      if (bi >= 0 && bi < blocks.length) wv * blocks(bi).maxPartial else 0f
    advanceTo(loDoc)

    private def decodeBlock(i: Int): Unit = {
      val t = PostingsCodec.decodeDocs(blocks(i))
      docs = t._1; tfs = t._2; nrms = t._3
    }

    /** Move to first doc >= target (and >= loDoc, < hiDoc). */
    def advanceTo(target0: Long): Unit = {
      val target = math.max(target0, loDoc)
      if (curDoc == Long.MaxValue) return
      // skip blocks entirely below target via metadata (no decode)
      while (bi < blocks.length && (bi < 0 || blocks(bi).lastDoc < target)) {
        bi += 1
        if (bi < blocks.length && blocks(bi).lastDoc >= target) decodeBlock(bi)
        pi = 0
      }
      var done = false
      while (!done) {
        if (bi >= blocks.length) { curDoc = Long.MaxValue; done = true }
        else {
          while (pi < docs.length && docs(pi) < target) pi += 1
          if (pi >= docs.length) {
            bi += 1; pi = 0
            if (bi < blocks.length) decodeBlock(bi)
          } else {
            curDoc = docs(pi)
            if (curDoc >= hiDoc) { curDoc = Long.MaxValue }
            done = true
          }
        }
      }
    }

    def next(): Unit = if (curDoc != Long.MaxValue) advanceTo(curDoc + 1)
    def score: Float = BM25.score(wv, tfs(pi).toFloat, cache, nrms(pi))
  }

  /** WAND main loop with the reference collector's threshold semantics
    * (reject when score <= heap-min; docs arrive in docId order so earlier
    * docIds win ties, as in TopScoreDocCollector.java:63-79). */
  private[search] def wand(cursors: Array[Cursor], nClauses: Int, msm: Int,
                           k: Int,
                           deleted: Long => Boolean = _ => false)
      : Array[(Long, Float)] = {
    // heap.head must be the WORST kept hit (lowest score, then highest
    // docId) — HitQueue.lessThan semantics (search/HitQueue.java:68-81).
    // PriorityQueue dequeues its max, so rank "worse" as "greater".
    val worstAsMax: Ordering[(Long, Float)] =
      Ordering.by[(Long, Float), (Float, Long)](t => (t._2, -t._1)).reverse
    val heap =
      scala.collection.mutable.PriorityQueue.empty[(Long, Float)](worstAsMax)
    def theta: Float =
      if (heap.size >= k) heap.head._2 else Float.NegativeInfinity

    var live = cursors.toList
    val scoresBuf = new Array[Float](nClauses)
    var continue = true
    while (continue) {
      live = live.filter(_.curDoc != Long.MaxValue)
      if (live.length < msm) continue = false
      else {
        val sorted = live.sortBy(_.curDoc).toArray
        // pivot: first index where cumulative ub can beat theta AND at
        // least msm cursors are aligned (conjunctive: last cursor)
        var acc = 0f
        var p = -1
        val th = theta
        var i = 0
        while (p < 0 && i < sorted.length) {
          acc += sorted(i).termUb
          if (i + 1 >= msm && (acc > th || th == Float.NegativeInfinity)) p = i
          i += 1
        }
        if (p < 0) continue = false // no pivot can beat threshold
        else {
          val pivotDoc = sorted(p).curDoc
          if (sorted(0).curDoc == pivotDoc) {
            // all [0..p] aligned: block-max refinement then full eval
            var blockAcc = 0f
            var j = 0
            while (j < sorted.length && sorted(j).curDoc == pivotDoc) {
              blockAcc += sorted(j).blockUb; j += 1
            }
            val aligned = j
            if (heap.size >= k && blockAcc <= th) {
              // block-level bound cannot beat threshold: skip this doc
              var j2 = 0
              while (j2 < aligned) { sorted(j2).next(); j2 += 1 }
            } else if (aligned < msm || deleted(pivotDoc)) {
              // tombstoned doc: deleted docs must be skipped BEFORE the
              // heap so they never displace a live hit from the per-chunk
              // top-k. (aligned < msm is unreachable here — pivot
              // selection requires i+1 >= msm and sorted(0).curDoc ==
              // pivotDoc forces cursors 0..p aligned — kept as a
              // defensive guard on the pivot invariant)
              var j2 = 0
              while (j2 < aligned) { sorted(j2).next(); j2 += 1 }
            } else {
              java.util.Arrays.fill(scoresBuf, Float.NaN)
              var j2 = 0
              while (j2 < aligned) {
                scoresBuf(sorted(j2).clause) = sorted(j2).score
                j2 += 1
              }
              val s = BM25.sumScores(scoresBuf)
              if (heap.size < k) heap.enqueue((pivotDoc, s))
              else if (s > theta) { heap.dequeue(); heap.enqueue((pivotDoc, s)) }
              j2 = 0
              while (j2 < aligned) { sorted(j2).next(); j2 += 1 }
            }
          } else {
            // advance the leading cursor up to the pivot
            sorted(0).advanceTo(pivotDoc)
          }
        }
      }
    }
    heap.dequeueAll.toArray.reverse // best first (not required, cosmetic)
  }
}
