package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.index._
import graft.search._

/** Round-2 scale fix: the WAND distributor's block->chunk fan-out must be
  * O(#blocks + #terms x #chunks), NOT O(#blocks x numDocParts). At 100 TB
  * numDocParts ~ 2e5, so per-docPart replication (the round-1 model) would
  * copy each rare-term block ~2e5 times; the bounded chunk grid caps the
  * copy count at ~2x parallelism regardless of numDocParts. */
class WandScaleSpec extends AnyFunSuite {
  import SparkSuite.spark
  import spark.implicits._

  test("disjointBlocks: random overlapping clusters decode to the same " +
    "ascending posting stream (tiered-merge overlap repair)") {
    import graft.codec.{Posting, PostingBlock, PostingsCodec}
    val rnd = new scala.util.Random(7)
    val cache = graft.search.BM25.cache(50f)
    def mk(postings: Seq[Posting]): Seq[PostingBlock] =
      PostingsCodec.encode("t", postings.iterator, cache).toSeq
    for (_ <- 1 to 50) {
      // 2-4 "sub-indexes" over interleaved docId ranges — exactly the
      // shape a tiered merge produces
      val nSub = 2 + rnd.nextInt(3)
      val all = scala.collection.mutable.Set[Long]()
      val subs = (0 until nSub).map { s =>
        val docs = (0 until 30 + rnd.nextInt(200))
          .map(_ => rnd.nextInt(100000).toLong * nSub + s)
        docs.distinct.sorted.map { d =>
          all += d
          val poss = Array(1, 5).take(1 + rnd.nextInt(2))
          Posting(d, poss.length, poss, (rnd.nextInt(256) - 128).toByte)
        }
      }
      val rows = subs.flatMap(mk).sortBy(_.firstDoc).toArray
      val fixed = WandScorer.disjointBlocks(rows, cache)
      // spans now pairwise disjoint
      fixed.sliding(2).foreach {
        case Array(a, b) => assert(a.lastDoc < b.firstDoc)
        case _ =>
      }
      // decoded stream = the exact original doc set, ascending
      val dec = fixed.flatMap(b => PostingsCodec.decodeDocs(b)._1)
      assert(dec.toSeq == dec.toSeq.sorted)
      assert(dec.toSet == all, "doc set must survive the repair")
      // bounds stay sound: every block's maxPartial dominates the max
      // partial of its own postings under the SAME cache
      fixed.foreach { b =>
        val ps = PostingsCodec.decode(b)
        ps.foreach { p =>
          val partial = p.tf.toFloat / (p.tf.toFloat + cache(p.norm & 0xFF))
          assert(partial <= b.maxPartial)
        }
      }
    }
  }

  private val Default = WandScorer.PostingsPerChunk

  test("chunk grid is bounded by parallelism, not numDocParts") {
    // ... and sized by the query's postings
    def chunks(numDocParts: Int, postings: Long): Int = {
      val ppc = WandScorer.partsPerChunk(numDocParts, 32, postings, Default)
      (numDocParts + ppc - 1) / ppc
    }
    // 2e5 docParts (the SCALE.md cluster figure), 32-way parallelism
    val big = 1L << 40
    val ppc = WandScorer.partsPerChunk(200000, 32, big, Default)
    assert(chunks(200000, big) <= 64 && chunks(200000, big) >= 32,
      s"chunk count ${chunks(200000, big)} is not ~2x parallelism")
    // a rare-term block spanning the WHOLE doc space fans out to <= chunks
    val span = WandScorer.chunksOf(0L, Ids.docId(199999, 5L), ppc).size
    assert(span <= 64, s"full-span block replicated $span times")
    // a query below PostingsPerChunk postings is one chunk
    for (parts <- Seq(1, 8, 256, 200000); postings <- Seq(0L, 1L,
      Default - 1))
      assert(chunks(parts, postings) == 1, s"$parts docParts, $postings postings")
    // the chunk count never rises as the query's postings fall
    for (parts <- Seq(8, 256, 4096, 200000)) {
      val counts = (0 to 40).map(e => chunks(parts, 1L << e))
      assert(counts == counts.sorted, s"$parts docParts: $counts")
      assert(counts.last == math.min(parts, 64))
    }
    // degenerate inputs stay sane
    assert(WandScorer.partsPerChunk(1, 32, big, Default) == 1)
    assert(WandScorer.chunksOf(0L, 0L, WandScorer.partsPerChunk(1, 32, big, Default)).size == 1)
  }

  test("numDocParts=4096 build: shuffled block rows O(#blocks), ranks correct") {
    val cfg = IndexConfig(numDocParts = 4096, numBuckets = 8,
      hotDfThreshold = 100, saltShift = 4, shufflePartitions = 8)
    val dir = SparkSuite.tmpDir("graft-wand4096")
    val corpus = CorpusGen.generate(spark, 300, seed = 7L, parts = 8)
    IndexBuilder.build(spark, corpus.toDF(), dir, cfg)
    val reader = IndexReader(spark, dir, cfg)
    assert(reader.numDocPartsHint > 1000 && reader.numDocPartsHint <= 4096)

    val terms = Seq("import", "spark", "println")
    // the full grid (the index is too small for the default to split)
    val ppc = WandScorer.partsPerChunk(reader.numDocPartsHint,
      spark.sparkContext.defaultParallelism, Long.MaxValue, Default)
    val nBlocks = reader.blocks(terms).count()
    val replicated = reader.blocks(terms)
      .flatMap(b => WandScorer.chunksOf(b.firstDoc, b.lastDoc, ppc).map(_ => 1))
      .count()
    val chunkCap = 2L * spark.sparkContext.defaultParallelism
    assert(replicated <= nBlocks + terms.size * chunkCap,
      s"fan-out $replicated for $nBlocks blocks (cap ${nBlocks + terms.size * chunkCap})")
    // the round-1 model would have produced ~#blocks x spanParts rows here
    // ("import" spans nearly all 4096 live parts); sanity: we beat it by 10x+
    assert(replicated < nBlocks * 400,
      s"fan-out $replicated suggests per-docPart replication returned")

    // ranks still correct at this docPart granularity, on one chunk and
    // on the full grid: WAND == join path
    val joiner = new JoinScorer(reader)
    for (wand <- Seq(new WandScorer(reader),
      new WandScorer(reader, postingsPerChunk = 1L))) {
      for (ts <- Seq(Seq("import"), Seq("import", "spark"), terms)) {
        val exp = joiner.topK(BoolQ(ts.map(t => (Occur.Should, TermQ(t)))), 10)
          .as[(Long, Float)].collect().toSeq
        val got = wand.topK(ts, 10).as[(Long, Float)].collect().toSeq
        assert(got == exp, s"WAND != join for $ts")
      }
      val expA = joiner.topK(BoolQ(Seq(Occur.Must -> TermQ("import"),
        Occur.Must -> TermQ("spark"))), 10).as[(Long, Float)].collect().toSeq
      val gotA = wand.topK(Seq("import", "spark"), 10, conjunctive = true)
        .as[(Long, Float)].collect().toSeq
      assert(gotA == expA)
    }
  }

  private def bits(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int)] =
    df.as[(Long, Float)].collect().toSeq
      .map { case (d, sc) => (d, java.lang.Float.floatToIntBits(sc)) }

  test("cached and uncached multi-readers agree after tiered compaction " +
    "with tombstones (bound rescale != 1)") {
    import org.apache.spark.sql.functions.lit
    val cfg = IndexConfig(numDocParts = 8, numBuckets = 8,
      hotDfThreshold = 400L, saltShift = 6, shufflePartitions = 8)
    val dir = SparkSuite.tmpDir("graft-wand-tier")
    IndexBuilder.build(spark, CorpusGen.generate(spark, 800).toDF(), dir, cfg)
    val cfgT = cfg.copy(numDocParts = cfg.numDocParts + 12)
    (0 until 12).foreach { k =>
      val in = CorpusGen.generate(spark, 40, seed = 100L + k).toDF()
        .withColumn("docPart", lit(cfg.numDocParts + k))
      IndexBuilder.append(spark, in, dir, IndexBuilder.nextDeltaId(dir), cfgT)
    }
    // postings caches of this index, by RDD name ("postings <sub-index dir>")
    def cachedPostings: Map[String, Int] = spark.sparkContext.getPersistentRDDs
      .values.map(r => Option(r.name).getOrElse("") -> r.id)
      .filter { case (n, _) => n == s"postings $dir" || n.startsWith(s"postings $dir/") }
      .toMap
    val beforeMerge = MultiIndexReader.open(spark, dir, cfg.numBuckets)
    new WandScorer(beforeMerge).topK(Seq("import"), 5).collect()
    val cachedBefore = cachedPostings
    assert(cachedBefore.size == 13, cachedBefore.keys.toSeq.sorted.mkString(","))
    assert(IndexBuilder.compactTiered(spark, dir, cfgT).isDefined)
    def open(cached: Boolean) =
      MultiIndexReader.open(spark, dir, cfg.numBuckets, cacheData = cached)
    // tombstone the current top hits of the hot terms, base and delta docs
    val top = new JoinScorer(open(false)).topK(BoolQ(Seq(
      (Occur.Should, TermQ("import")), (Occur.Should, TermQ("spark")))), 12)
      .select("docId").as[Long].collect()
    val deleted = top.filter(_ % 2 == 0) ++
      top.filter(d => Ids.docPart(d) >= cfg.numDocParts).take(2)
    assert(deleted.nonEmpty)
    IndexBuilder.deleteDocs(spark, dir, deleted.toSeq.toDF("docId"))
    val (rc, ru) = (open(true), open(false))
    assert(rc.readers.size == 4)
    // the refresh reuses the caches of the 3 sub-indexes the merge kept
    // (tombstones do not touch postings) and releases the 10 it deleted
    new WandScorer(rc).topK(Seq("import"), 5).collect()
    val cachedAfter = cachedPostings
    assert(cachedAfter.size == 4, cachedAfter.keys.toSeq.sorted.mkString(","))
    val kept = cachedBefore.keySet.intersect(cachedAfter.keySet)
    assert(kept.size == 3)
    kept.foreach(n => assert(cachedAfter(n) == cachedBefore(n), s"$n refilled"))
    assert(rc.boundScale.exists { case (c, p) => c != 1f || p != 1f },
      s"no sub-index needs a bound rescale: ${rc.boundScale}")

    // WAND runs on both readers at the default grid (one chunk at this
    // size) and at the full grid, where merged blocks span chunk
    // boundaries and the tombstones fall in several chunks
    val fullPpc = WandScorer.partsPerChunk(rc.numDocPartsHint,
      spark.sparkContext.defaultParallelism, Long.MaxValue, Default)
    assert((rc.numDocPartsHint + fullPpc - 1) / fullPpc > 1)
    val rng = new scala.util.Random(20261018L)
    val pool = Vector("import", "return", "spark", "println", "merge",
      "dataset", "val", "def", "id001", "absentzzz")
    for (_ <- 1 to 12) {
      val ts = Seq.fill(1 + rng.nextInt(3))(pool(rng.nextInt(pool.length)))
      val conj = rng.nextBoolean()
      val w = bits(new WandScorer(rc).topK(ts, 15, conj))
      for (r <- Seq(rc, ru); ppc <- Seq(Default, 1L))
        assert(w == bits(new WandScorer(r, ppc).topK(ts, 15, conj)),
          s"WAND $ts $conj (${r eq rc} cached, $ppc postings per chunk)")
      assert(!w.exists(h => deleted.contains(h._1)), s"deleted doc in $ts")
      val occ = if (conj) Occur.Must else Occur.Should
      val q = BoolQ(ts.map(t => (occ, TermQ(t): Query)) :+
        ((Occur.MustNot, TermQ(pool(rng.nextInt(pool.length))))))
      val j = bits(new JoinScorer(rc).topK(q, 15))
      assert(j == bits(new JoinScorer(ru).topK(q, 15)), s"join $q")
      if (!conj) assert(w == bits(new JoinScorer(rc).topK(
        BoolQ(ts.map(t => (Occur.Should, TermQ(t): Query))), 15)), s"WAND != join $ts")
    }
  }
}
