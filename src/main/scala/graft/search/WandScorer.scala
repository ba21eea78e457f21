package graft.search

import scala.jdk.CollectionConverters._

import org.apache.spark.{Dependency, HashPartitioner, NarrowDependency, Partition, TaskContext}
import org.apache.spark.broadcast.Broadcast
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
  * query-time chunks, each owning a contiguous range of docParts
  * (mirroring per-segment search in search/IndexSearcher.java:648-673),
  * and each chunk task keeps only the blocks whose (firstDoc, lastDoc)
  * span overlaps its chunk (`chunksOf`). The grid is sized by the query:
  * one chunk per [[WandScorer.PostingsPerChunk]] postings of its terms,
  * capped at ~2x the runtime parallelism and at numDocParts
  * (`partsPerChunk`). A small query is ONE task, as the reference searches
  * a small leaf where it is; a query with millions of postings gets the
  * full grid. Because the chunk count is capped by CORES (not by
  * numDocParts), a sparse term whose one block spans the whole doc space
  * is read by at most 2x parallelism tasks, independent of numDocParts
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
  * Each chunk task runs a WAND loop with a primitive local k-heap that
  * allocates nothing per pivot, decoding a block
  * only when the cursor enters it (skipping via (firstDoc, lastDoc)
  * metadata) and skipping pivots whose summed upper bounds cannot beat
  * the local threshold. Upper bounds are wv * maxPartial where maxPartial
  * was computed at build time with the exact query-time float ops, so
  * pruning is rank-safe (see PostingsCodec).
  * The chunk heaps (at most k x numChunks hits) are collected and merged
  * on the driver by (score desc, docId asc) == global top-k; the answer
  * is a local DataFrame, so a warm query plans no Spark SQL and compiles
  * no code. The job is submitted with `SparkContext.runJob` and every
  * function it ships is a named class ([[WandScorer.ChunkTask]]), so a
  * warm query also cleans no closure: Spark's ClosureCleaner reads and
  * parses the declaring class file of every lambda on every job.
  */
final class WandScorer private[graft] (reader: SearchReader,
                                      postingsPerChunk: Long) {
  def this(reader: SearchReader) = this(reader, WandScorer.PostingsPerChunk)

  private val sparkS = reader.spark

  /** Disjunctive (OR) or conjunctive (AND) term query. Scores and ranks
    * are float-identical to JoinScorer (tested property). */
  def topK(terms: Seq[String], k: Int, conjunctive: Boolean = false,
           minShouldMatch: Int = 0): DataFrame = {
    val chunkHeaps = chunkJob(terms, k, conjunctive, minShouldMatch) match {
      case None => Array.empty[(Long, Float)]
      case Some((byChunk, task)) =>
        sparkS.sparkContext.runJob(byChunk, task, 0 until byChunk.getNumPartitions)
          .flatten
    }
    WandScorer.frame(sparkS, chunkHeaps.sortWith((a, b) =>
      a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)).take(k).toSeq)
  }

  /** The query's one Spark job: partition i of the RDD holds (at least)
    * the blocks overlapping chunk i, and the function runs the WAND loop
    * over chunk i's blocks. None when the answer is empty without a job. */
  private[graft] def chunkJob(terms: Seq[String], k: Int, conjunctive: Boolean,
                              minShouldMatch: Int)
      : Option[(RDD[PostingBlock], (TaskContext, Iterator[PostingBlock]) => Array[(Long, Float)])] = {
    if (k <= 0) return None
    val stats = reader.termStats(terms.distinct)
    val present = terms.filter(stats.contains)
    if (present.isEmpty || (conjunctive && present.length < terms.length) ||
      (!conjunctive && minShouldMatch > present.length))
      return None
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
    // per-query arrays are a few KB total — they ride in the task
    // directly; per-query sc.broadcast() calls were a measurable
    // driver-side fixed cost at interactive latency (round-4 q_wand3 @32
    // inversion). Tombstones stay a broadcast (can be MBs) but are built
    // ONCE per reader and reused across queries.
    val caches: Array[Array[Float]] = present.map(t =>
      reader.normCacheFor(graft.index.IndexBuilder.fieldOfTerm(t))).toArray
    val msm = if (conjunctive) present.length else math.max(minShouldMatch, 1)

    val ppc = WandScorer.partsPerChunk(reader.numDocPartsHint,
      sparkS.sparkContext.defaultParallelism, stats.values.map(_.df).sum,
      postingsPerChunk)
    val numChunks =
      (math.max(1, reader.numDocPartsHint) + ppc - 1) / ppc
    // Exactly ONE task per chunk. A cached reader's blocks come through
    // the narrow fan-out, so the query is one stage with no shuffle; an
    // uncached reader's are shuffled to their chunks once, since there a
    // fan-out re-scans the parquet once per chunk (slower on perfbench's
    // uncached ingest_serve; see SCALE.md). The explicit HashPartitioner
    // over chunk ids 0..numChunks-1 is bijective, so partition index ==
    // chunk id on both inputs.
    val blocks = reader.blockRdd(present)
    val byChunk: RDD[PostingBlock] =
      if (reader.postingsCached) new WandScorer.FanOutRDD(blocks, numChunks)
      else blocks
        .flatMap(new WandScorer.ToChunks(ppc))
        .partitionBy(new HashPartitioner(numChunks))
        .map(new WandScorer.BlockOf)
    Some((byChunk, new WandScorer.ChunkTask(wvs, termIdx, caches, msm, k, ppc,
      reader.deletedSortedBroadcast)))
  }
}

object WandScorer {
  private val HitSchema = StructType(Seq(
    StructField("docId", LongType, nullable = false),
    StructField("score", FloatType, nullable = false)))

  /** Ranked hits as a local (docId, score) DataFrame. */
  private def frame(spark: SparkSession, hits: Seq[(Long, Float)]): DataFrame =
    spark.createDataFrame(hits.map { case (d, s) => Row(d, s) }.asJava, HitSchema)

  /** Postings of a query's terms that pay for one more chunk task. Below
    * it a query runs as one task: an 8-task stage cost ~4-8 ms more than a
    * 1-task one on a 4-vCPU host, more than a small query's whole WAND
    * loop. [[SearchReader.SpreadPostings]] (2^18) is too coarse here: it
    * gave q_wand3 at 500k docs (~1.2M postings, `ScalingBench level 4`,
    * 4 vCPU) 5 chunks instead of 8 and raised its warm p50 from 157 to
    * 244 ms. */
  private[graft] final val PostingsPerChunk: Long = 1L << 16

  /** Chunk grid: contiguous docPart ranges of this width. The chunk COUNT
    * is one per `postingsPerChunk` of the query's `postings` (the sum of
    * df over its distinct terms), capped at ~2x parallelism so block
    * fan-out never scales with numDocParts (the round-1 scale-killer:
    * (lo to hi) per docPart). */
  private[graft] def partsPerChunk(numDocParts: Int, parallelism: Int,
                                   postings: Long, postingsPerChunk: Long): Int = {
    val nParts = math.max(1, numDocParts)
    val targetChunks = math.min(1L + postings / postingsPerChunk,
      math.min(nParts, math.max(1, parallelism) * 2).toLong).toInt
    (nParts + targetChunks - 1) / targetChunks
  }

  /** Chunks a block's (firstDoc, lastDoc) span overlaps — O(span/width)+1,
    * bounded by the chunk-count cap. */
  def chunksOf(firstDoc: Long, lastDoc: Long, ppc: Int): Range =
    Ids.docPart(firstDoc) / ppc to Ids.docPart(lastDoc) / ppc

  // The per-query functions below are named classes, not lambdas: Spark's
  // ClosureCleaner returns at once for a non-lambda, where for a lambda it
  // reads and parses the class file that declares it on every job.

  /** The WAND loop over one chunk: the task's partition index is its
    * chunk id. Keeps the blocks overlapping the chunk and returns the
    * chunk's top-k hits. */
  private[graft] final class ChunkTask(wvs: Array[Float],
                                       termIdx: Map[String, Seq[Int]],
                                       caches: Array[Array[Float]], msm: Int,
                                       k: Int, ppc: Int,
                                       delSortedB: Broadcast[Array[Long]])
      extends ((TaskContext, Iterator[PostingBlock]) => Array[(Long, Float)])
      with Serializable {
    def apply(ctx: TaskContext, it: Iterator[PostingBlock]): Array[(Long, Float)] = {
      val chunk = ctx.partitionId()
      val byTerm = Array.fill(wvs.length)(
        scala.collection.mutable.ArrayBuffer[PostingBlock]())
      it.foreach { b =>
        if (chunksOf(b.firstDoc, b.lastDoc, ppc).contains(chunk))
          termIdx(b.term).foreach(byTerm(_) += b)
      }
      val loDoc = (chunk.toLong * ppc) << Ids.DocIdShift
      val hiDoc = ((chunk + 1).toLong * ppc) << Ids.DocIdShift
      val cursors = (0 until wvs.length).flatMap { i =>
        val blocks = disjointBlocks(byTerm(i).sortBy(_.firstDoc).toArray, caches(i))
        if (blocks.isEmpty) None
        else Some(new Cursor(i, wvs(i), blocks, loDoc, hiDoc, caches(i)))
      }.toArray
      if (cursors.length < msm) Array.empty
      else {
        val del = delSortedB.value
        val deleted: Long => Boolean =
          if (del.isEmpty) _ => false
          else id => java.util.Arrays.binarySearch(del, id) >= 0
        wand(cursors, wvs.length, msm, k, deleted)
      }
    }
  }

  /** The uncached exchange's map side: a block keyed by every chunk it
    * overlaps. */
  private final class ToChunks(ppc: Int)
      extends (PostingBlock => Iterator[(Int, PostingBlock)]) with Serializable {
    def apply(b: PostingBlock): Iterator[(Int, PostingBlock)] =
      chunksOf(b.firstDoc, b.lastDoc, ppc).iterator.map(c => (c, b))
  }

  /** The uncached exchange's reduce side: the block without its chunk. */
  private final class BlockOf extends (((Int, PostingBlock)) => PostingBlock)
      with Serializable {
    def apply(cb: (Int, PostingBlock)): PostingBlock = cb._2
  }

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
    * clusters are decoded to pre-encoded postings (positions stay
    * bytes), sorted by docId, and re-blocked into proper disjoint blocks, chunk-locally and only for the clusters
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
        val merged = cluster.toArray.flatMap(PostingsCodec.decodePre)
          .sortBy(_.docId)
        out ++= PostingsCodec.encodePre(cluster.head.term, merged.iterator, cache)
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

  /** Top-k hits in two primitive arrays: a binary heap whose root is the
    * WORST kept hit (lower score, then higher docId), HitQueue.lessThan
    * semantics (search/HitQueue.java:68-81). Grows on demand up to k. */
  private final class HitHeap(k: Int) {
    private var docs = new Array[Long](math.min(k, 64))
    private var scores = new Array[Float](docs.length)
    private var size = 0
    def full: Boolean = size >= k
    def worstScore: Float = scores(0)

    private def worse(i: Int, j: Int): Boolean = {
      val c = java.lang.Float.compare(scores(i), scores(j))
      c < 0 || (c == 0 && docs(i) > docs(j))
    }
    private def swap(i: Int, j: Int): Unit = {
      val d = docs(i); docs(i) = docs(j); docs(j) = d
      val s = scores(i); scores(i) = scores(j); scores(j) = s
    }
    private def down(i0: Int): Unit = {
      var i = i0
      var l = 2 * i + 1
      while (l < size) {
        val c = if (l + 1 < size && worse(l + 1, l)) l + 1 else l
        if (!worse(c, i)) l = size
        else { swap(c, i); i = c; l = 2 * i + 1 }
      }
    }

    /** Adds a hit while the heap holds fewer than k. */
    def add(doc: Long, score: Float): Unit = {
      if (size == docs.length) {
        val cap = math.min(k.toLong, 2L * size).toInt
        docs = java.util.Arrays.copyOf(docs, cap)
        scores = java.util.Arrays.copyOf(scores, cap)
      }
      docs(size) = doc; scores(size) = score
      var i = size
      size += 1
      while (i > 0 && worse(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
    }

    /** Replaces the worst kept hit. */
    def replaceWorst(doc: Long, score: Float): Unit = {
      docs(0) = doc; scores(0) = score
      down(0)
    }

    /** Empties the heap into an array, best hit first. */
    def drain(): Array[(Long, Float)] = {
      val out = new Array[(Long, Float)](size)
      while (size > 0) {
        out(size - 1) = (docs(0), scores(0))
        size -= 1
        docs(0) = docs(size); scores(0) = scores(size)
        down(0)
      }
      out
    }
  }

  /** Moves cs(i) right into the run cs(i + 1 until n), which is sorted by
    * (curDoc, clause). */
  private def sink(cs: Array[Cursor], i: Int, n: Int): Unit = {
    val c = cs(i)
    var j = i
    while (j + 1 < n && (cs(j + 1).curDoc < c.curDoc ||
        (cs(j + 1).curDoc == c.curDoc && cs(j + 1).clause < c.clause))) {
      cs(j) = cs(j + 1); j += 1
    }
    cs(j) = c
  }

  /** WAND main loop with the reference collector's threshold semantics
    * (reject when score <= heap-min; docs arrive in docId order so earlier
    * docIds win ties, as in TopScoreDocCollector.java:63-79). The live
    * cursors stay sorted by (curDoc, clause) in one array: after a step
    * only the cursors it advanced are re-inserted, and exhausted ones
    * (curDoc == Long.MaxValue) sort to the tail and are dropped, so upper
    * bounds are summed in the same order on every step and no pivot step
    * allocates. */
  private[search] def wand(cursors: Array[Cursor], nClauses: Int, msm: Int,
                           k: Int,
                           deleted: Long => Boolean = _ => false)
      : Array[(Long, Float)] = {
    val heap = new HitHeap(k)
    val cs = cursors.clone()
    var n = cs.length
    // re-sorts cs(0 until n) after cs(0 until advanced) moved on
    def resort(advanced: Int): Unit = {
      var i = advanced - 1
      while (i >= 0) { sink(cs, i, n); i -= 1 }
      while (n > 0 && cs(n - 1).curDoc == Long.MaxValue) n -= 1
    }
    resort(n)
    val scoresBuf = new Array[Float](nClauses)
    var continue = true
    while (continue) {
      if (n < msm) continue = false
      else {
        // pivot: first index where cumulative ub can beat theta AND at
        // least msm cursors are aligned (conjunctive: last cursor)
        val th = if (heap.full) heap.worstScore else Float.NegativeInfinity
        var acc = 0f
        var p = -1
        var i = 0
        while (p < 0 && i < n) {
          acc += cs(i).termUb
          if (i + 1 >= msm && (acc > th || th == Float.NegativeInfinity)) p = i
          i += 1
        }
        if (p < 0) continue = false // no pivot can beat threshold
        else {
          val pivotDoc = cs(p).curDoc
          if (cs(0).curDoc == pivotDoc) {
            // all [0..p] aligned: block-max refinement then full eval
            var blockAcc = 0f
            var aligned = 0
            while (aligned < n && cs(aligned).curDoc == pivotDoc) {
              blockAcc += cs(aligned).blockUb; aligned += 1
            }
            // a block-level bound that cannot beat the threshold skips
            // the doc; so does a tombstone, BEFORE the heap, so a deleted
            // doc never displaces a live hit from the per-chunk top-k.
            // (aligned < msm is unreachable here — pivot selection
            // requires i+1 >= msm and cs(0).curDoc == pivotDoc forces
            // cursors 0..p aligned — kept as a defensive guard on the
            // pivot invariant)
            if (!(heap.full && blockAcc <= th) && aligned >= msm &&
                !deleted(pivotDoc)) {
              java.util.Arrays.fill(scoresBuf, Float.NaN)
              var j = 0
              while (j < aligned) { scoresBuf(cs(j).clause) = cs(j).score; j += 1 }
              val s = BM25.sumScores(scoresBuf)
              if (!heap.full) heap.add(pivotDoc, s)
              else if (s > heap.worstScore) heap.replaceWorst(pivotDoc, s)
            }
            var j = 0
            while (j < aligned) { cs(j).next(); j += 1 }
            resort(aligned)
          } else {
            // advance the leading cursor up to the pivot
            cs(0).advanceTo(pivotDoc)
            resort(1)
          }
        }
      }
    }
    heap.drain()
  }
}
