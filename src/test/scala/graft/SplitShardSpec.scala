package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index._
import graft.search._

/** SPLITSHARD (SolrCloud shard split): splitting an index at a docId
  * boundary must yield two independently searchable children whose union
  * view is float/rank-identical to the parent, with every doc in exactly
  * one child. */
class SplitShardSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  private val cfg = IndexConfig(numDocParts = 4, numBuckets = 8,
    hotDfThreshold = 1000L, saltShift = 6, shufflePartitions = 8)

  test("split children searched as one == parent; docs partition exactly") {
    val all = CorpusGen.generate(spark, 500).toDF()
      .withColumn("docPart",
        pmod(hash($"repo", $"path", $"commit"), lit(cfg.numDocParts)))
    val dir = SparkSuite.tmpDir("graft-split-base")
    IndexBuilder.build(spark, all, dir, cfg)
    val parent = new IndexReader(spark, dir, cfg.numBuckets, cacheData = false)

    // boundary between docParts 1 and 2
    val mid = Ids.docId(2, 0L)
    val (loDir, hiDir) = IndexBuilder.splitShard(spark, dir,
      SparkSuite.tmpDir("graft-split-lo"), SparkSuite.tmpDir("graft-split-hi"),
      mid, cfg)
    val lo = new IndexReader(spark, loDir, cfg.numBuckets, cacheData = false)
    val hi = new IndexReader(spark, hiDir, cfg.numBuckets, cacheData = false)

    // exact partition of the doc space, no loss, no overlap
    assert(lo.collStats.maxDoc + hi.collStats.maxDoc == parent.collStats.maxDoc)
    assert(lo.collStats.sumTotalTermFreq + hi.collStats.sumTotalTermFreq ==
      parent.collStats.sumTotalTermFreq)
    val loIds = lo.docmeta.select("docId").as[Long].collect().toSet
    val hiIds = hi.docmeta.select("docId").as[Long].collect().toSet
    assert(loIds.forall(_ < mid) && hiIds.forall(_ >= mid))
    assert((loIds ++ hiIds) ==
      parent.docmeta.select("docId").as[Long].collect().toSet)

    // union view == parent, scores and ranks (global stats via the union)
    val multi = new MultiIndexReader(Seq(lo, hi))
    assert(multi.collStats == parent.collStats)
    val qy = BoolQ(Seq((Occur.Should, TermQ("import")),
      (Occur.Should, TermQ("spark")), (Occur.Should, TermQ("merge"))))
    val got = new JoinScorer(multi).topK(qy, 25).as[(Long, Float)].collect().toSeq
    val exp = new JoinScorer(parent).topK(qy, 25).as[(Long, Float)].collect().toSeq
    assert(got == exp, "split union view must equal the parent")
    // WAND too, on one chunk and on the full grid (one chunk per docPart)
    for (wand <- Seq(new WandScorer(multi),
      new WandScorer(multi, postingsPerChunk = 1L)))
      assert(wand.topK(Seq("import", "spark", "merge"), 25)
        .as[(Long, Float)].collect().toSeq == exp)

    // each child is independently searchable (local stats, its docs only)
    val loHits = new JoinScorer(lo)
      .topK(BoolQ(Seq((Occur.Should, TermQ("import")))), 1000)
      .as[(Long, Float)].collect()
    assert(loHits.nonEmpty && loHits.forall(_._1 < mid))
  }

  test("split of a base plus a delta with tombstones: union == parent " +
    "live view, tombstones carried into the children") {
    val b = SplitFixture.build("graft-split-del", cfg, 400, 60)
    val mid = Ids.docId(2, 0L)
    val (loDir, hiDir) = IndexBuilder.splitShard(spark, b.dir,
      SparkSuite.tmpDir("graft-split-del-lo"),
      SparkSuite.tmpDir("graft-split-del-hi"), mid, b.cfg)
    SplitFixture.assertSplitMatches(b, Seq(loDir, hiDir))
  }
}
