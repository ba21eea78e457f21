package graft

import org.apache.spark.sql.functions._
import org.scalatest.Assertions._

import graft.index._
import graft.search._

/** A base index plus one appended delta, with tombstones written by
  * `deleteDocs` into both sub-indexes' `deletes/`, and the checks a split
  * of it must pass. Shared by SplitShardSpec and MultiPassSplitSpec. */
object SplitFixture {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  final case class Built(dir: String, cfg: IndexConfig, deleted: Set[Long],
                         live: Set[Long])

  /** `nBase` base docs on `cfg.numDocParts` parts, `nDelta` delta docs on
    * the next part; every 9th doc (by docId) is tombstoned, base and delta
    * docs alike, the even picks through the base dir and the odd picks
    * through the delta dir. `cfg` of the result covers both. */
  def build(prefix: String, cfg: IndexConfig, nBase: Int,
            nDelta: Int): Built = {
    val dir = SparkSuite.tmpDir(prefix)
    IndexBuilder.build(spark, CorpusGen.generate(spark, nBase).toDF(), dir, cfg)
    val cfgD = cfg.copy(numDocParts = cfg.numDocParts + 1)
    val delta = IndexBuilder.append(spark,
      CorpusGen.generate(spark, nDelta, seed = 77L).toDF()
        .withColumn("docPart", lit(cfg.numDocParts)),
      dir, IndexBuilder.nextDeltaId(dir), cfgD)
    val ids = MultiIndexReader.open(spark, dir, cfg.numBuckets,
      cacheData = false).docmeta.select("docId").as[Long].collect().sorted
    val picked = ids.indices.filter(_ % 9 == 4).map(ids)
    assert(picked.exists(Ids.docPart(_) == cfg.numDocParts),
      "the tombstones must reach delta docs too")
    val (viaBase, viaDelta) = picked.zipWithIndex.partition(_._2 % 2 == 0)
    IndexBuilder.deleteDocs(spark, dir, viaBase.map(_._1).toDF("docId"))
    IndexBuilder.deleteDocs(spark, delta, viaDelta.map(_._1).toDF("docId"))
    Built(dir, cfgD, picked.toSet, ids.toSet -- picked)
  }

  private def bits(hits: Seq[(Long, Float)]): Seq[(Long, Int)] =
    hits.map { case (d, s) => (d, java.lang.Float.floatToIntBits(s)) }

  /** The children searched as one equal the parent's live view in
    * (docId, float bits) on JoinScorer and on WAND (one chunk and the full
    * grid); every doc sits in one child, no tombstoned doc is live in any
    * child, and the children's summed statistics equal the parent's. */
  def assertSplitMatches(b: Built, childDirs: Seq[String]): Unit = {
    val nb = b.cfg.numBuckets
    val parent = MultiIndexReader.open(spark, b.dir, nb, cacheData = false)
    val children = childDirs.map(d =>
      new IndexReader(spark, d, nb, cacheData = false))

    val idsPerChild = children.map(
      _.docmeta.select("docId").as[Long].collect().toSeq)
    assert(idsPerChild.flatten.size == idsPerChild.flatten.distinct.size,
      "a doc sits in two children")
    assert(idsPerChild.flatten.toSet == b.live ++ b.deleted)
    val livePerChild = children.map { c =>
      val live = c.liveOnly(c.docmeta.toDF()).select("docId").as[Long]
        .collect().toSet
      assert((live & b.deleted).isEmpty,
        s"tombstoned docs came back in ${c.dir}: ${(live & b.deleted).take(5)}")
      live
    }
    assert(livePerChild.reduce(_ ++ _) == b.live)

    // tombstones are carried, not purged: statistics stay the parent's
    assert(children.map(_.collStats.maxDoc).sum == parent.collStats.maxDoc)
    assert(children.map(_.collStats.sumTotalTermFreq).sum ==
      parent.collStats.sumTotalTermFreq)

    val multi = new MultiIndexReader(children)
    assert(multi.collStats == parent.collStats)
    val terms = Seq("import", "spark", "merge")
    val qy = BoolQ(terms.map(t => (Occur.Should, TermQ(t))))
    val exp = bits(new JoinScorer(parent).topK(qy, 40).as[(Long, Float)]
      .collect().toSeq)
    assert(exp.nonEmpty)
    assert(bits(new JoinScorer(multi).topK(qy, 40).as[(Long, Float)]
      .collect().toSeq) == exp, "split union view must equal the parent")
    for (wand <- Seq(new WandScorer(multi),
      new WandScorer(multi, postingsPerChunk = 1L)))
      assert(bits(wand.topK(terms, 40).as[(Long, Float)].collect().toSeq) ==
        exp, "WAND over the children must equal the parent")
  }
}
