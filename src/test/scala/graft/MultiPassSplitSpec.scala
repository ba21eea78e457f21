package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index._
import graft.search._

/** MultiPassIndexSplitter (reference misc/.../index/MultiPassIndexSplitter
  * .java:70-100): N-way split by doc ORDINAL (docID order), sequential
  * ranges or round-robin; the physical splitter yields self-contained,
  * independently searchable child indexes that partition the parent. */
class MultiPassSplitSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  private val cfg = IndexConfig(numDocParts = 4, numBuckets = 8,
    hotDfThreshold = 1000L, saltShift = 6, shufflePartitions = 8)

  test("assignment: round-robin is ordinal mod parts, seq is capped ranges") {
    // docIds deliberately non-dense and unsorted on input
    val ids = Seq(40L, 2L, 17L, 5L, 23L, 11L, 31L).toDF("docId")
    val rr = IndexBuilder.multiPassAssign(ids, 3, seq = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // sorted order: 2,5,11,17,23,31,40 -> ordinals 0..6 -> parts 0,1,2,0,1,2,0
    assert(rr === Map(2L -> 0L, 5L -> 1L, 11L -> 2L, 17L -> 0L,
      23L -> 1L, 31L -> 2L, 40L -> 0L))
    val sq = IndexBuilder.multiPassAssign(ids, 3, seq = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // partLen = 7/3 = 2: parts [0,2) [2,4) [4,7) — last absorbs remainder
    assert(sq === Map(2L -> 0L, 5L -> 0L, 11L -> 1L, 17L -> 1L,
      23L -> 2L, 31L -> 2L, 40L -> 2L))
  }

  test("fewer docs than parts degenerates to the last part (seq)") {
    val ids = Seq(1L, 2L).toDF("docId")
    val sq = IndexBuilder.multiPassAssign(ids, 3, seq = true)
      .collect().map(r => r.getLong(1)).toSet
    assert(sq === Set(2L))
  }

  test("physical split: children disjoint, union is the parent, searchable") {
    val all = CorpusGen.generate(spark, 120).toDF()
      .withColumn("docPart",
        pmod(hash($"repo", $"path", $"commit"), lit(cfg.numDocParts)))
    val base = SparkSuite.tmpDir("mps-base")
    IndexBuilder.build(spark, all, base, cfg)
    val parent = new IndexReader(spark, base, cfg.numBuckets, cacheData = false)
    val parentIds = parent.docmeta.select("docId").as[Long].collect().toSet

    val outs = (0 until 3).map(i => SparkSuite.tmpDir(s"mps-$i"))
    IndexBuilder.multiPassSplit(spark, base, outs, seq = false, cfg)
    val children = outs.map(o =>
      new IndexReader(spark, o, cfg.numBuckets, cacheData = false))
    val idsPerChild = children.map(
      _.docmeta.select("docId").as[Long].collect().toSet)

    // disjoint + union = parent
    assert(idsPerChild.combinations(2).forall {
      case Seq(a, b) => (a & b).isEmpty
    })
    assert(idsPerChild.reduce(_ ++ _) === parentIds)

    // round-robin by ORDINAL in docId order, not by docId value
    val ordinalOf = parentIds.toSeq.sorted.zipWithIndex.toMap
    idsPerChild.zipWithIndex.foreach { case (ids, i) =>
      assert(ids.forall(id => ordinalOf(id) % 3 == i), s"part $i")
    }

    // each child is independently searchable over only its docs
    val hits = new JoinScorer(children(1))
      .scores(QueryParser.parse("import"))
      .collect().map(_._1).toSet
    assert(hits.nonEmpty)
    assert(hits.subsetOf(idsPerChild(1)))
  }

  test("physical split of a base plus a delta with tombstones: union == " +
    "parent live view, tombstones carried into the children") {
    val b = SplitFixture.build("mps-del", cfg, 300, 60)
    val outs = (0 until 3).map(i => SparkSuite.tmpDir(s"mps-del-$i"))
    IndexBuilder.multiPassSplit(spark, b.dir, outs, seq = false, b.cfg)
    SplitFixture.assertSplitMatches(b, outs)
  }
}
