package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index._
import graft.search._
import graft.streaming.StreamOps

/** NRT-style streaming index append (SURVEY.md §2.10): micro-batches land
  * as delta sub-indexes via foreachBatch; a MultiIndexReader over
  * base+deltas must be float/rank-IDENTICAL to a from-scratch build over
  * the union (global df/avgdl, same docIds). */
class NrtAppendSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  private val BaseParts = 4
  private val PartsPerBatch = 2
  private def cfg(nParts: Int) = IndexConfig(numDocParts = nParts,
    numBuckets = 8, hotDfThreshold = 1000L, saltShift = 6,
    shufflePartitions = 8)

  test("streamed appends == from-scratch union build (scores and docIds)") {
    val all = CorpusGen.generate(spark, 600).toDF().cache()
    // deterministic 3-way split: base 0..299, batches of 150
    val ids = all.withColumn("rid",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy("repo", "path", "commit")) - 1).cache()
    def part(lo: Int, hi: Int, offset: Int, k: Int): DataFrame =
      ids.where($"rid" >= lo && $"rid" < hi)
        .withColumn("docPart",
          lit(offset) + pmod(hash($"repo", $"path", $"commit"), lit(k)))
        .drop("rid")

    val base = part(0, 300, 0, BaseParts)
    val b1 = part(300, 450, BaseParts, PartsPerBatch)
    val b2 = part(450, 600, BaseParts + PartsPerBatch, PartsPerBatch)

    // ---- streamed: base build + 2 foreachBatch appends ----
    val dir = SparkSuite.tmpDir("graft-nrt")
    IndexBuilder.build(spark, base, dir, cfg(BaseParts))
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[DocInput]
    val q = StreamOps.indexAppendSink(
        mem.toDS().toDF(), dir, cfg(BaseParts), PartsPerBatch, BaseParts)
      .start()
    // re-derive each batch's DocInput rows (drop the docPart column: the
    // sink recomputes the same offset + hash assignment)
    mem.addData(b1.drop("docPart").as[DocInput].collect().toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(b2.drop("docPart").as[DocInput].collect().toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()

    val multi = MultiIndexReader.open(spark, dir, 8, cacheData = false)
    assert(multi.readers.length == 3, "base + 2 deltas")

    // ---- reference: one build over the union with the SAME docParts ----
    val fullDir = SparkSuite.tmpDir("graft-nrt-full")
    IndexBuilder.build(spark, base.union(b1).union(b2), fullDir,
      cfg(BaseParts + 2 * PartsPerBatch))
    val full = new IndexReader(spark, fullDir, 8, cacheData = false)

    assert(multi.collStats == full.collStats)
    val qy = BoolQ(Seq((Occur.Should, TermQ("import")),
      (Occur.Should, TermQ("spark")), (Occur.Should, TermQ("merge"))))
    val got = new JoinScorer(multi).topK(qy, 25).as[(Long, Float)].collect().toSeq
    val exp = new JoinScorer(full).topK(qy, 25).as[(Long, Float)].collect().toSeq
    assert(got == exp, "append view must equal the from-scratch build")

    // WAND over the union view agrees too, on one chunk and on the full
    // grid
    for (wand <- Seq(new WandScorer(multi),
      new WandScorer(multi, postingsPerChunk = 1L)))
      assert(wand.topK(Seq("import", "spark", "merge"), 25)
        .as[(Long, Float)].collect().toSeq == exp)
    ids.unpersist(); all.unpersist()
  }

  test("streamed updates: per-batch atomic replace; last writer wins " +
    "across batches; compaction restores exact doc count") {
    val all = CorpusGen.generate(spark, 400).toDF().cache()
    val dir = SparkSuite.tmpDir("graft-supd")
    val base = all.withColumn("docPart",
      pmod(hash($"repo", $"path", $"commit"), lit(BaseParts)))
    IndexBuilder.build(spark, base, dir, cfg(BaseParts))

    // batch 0 rewrites every 'println' doc; batch 1 rewrites the 'import'
    // subset of those SAME keys again (second generation)
    def gen(src: DataFrame, from: String, to: String): DataFrame =
      src.withColumn("content", regexp_replace($"content", from, to))
        .withColumn("commit", md5($"content"))
    val g1 = gen(all.where($"content".contains("println")),
      "println", "printfa").cache()
    val g2 = gen(g1.where($"content".contains("import")),
      "printfa", "printfb").cache()
    val (n1, n2) = (g1.count(), g2.count())
    assert(n1 > 0 && n2 > 0 && n2 < n1)

    implicit val sq = spark.sqlContext
    val mem = MemoryStream[DocInput]
    val q = StreamOps.indexUpdateSink(
        mem.toDS().toDF(), dir, cfg(BaseParts), PartsPerBatch, BaseParts)
      .start()
    mem.addData(g1.as[DocInput].collect().toIndexedSeq: _*)
    q.processAllAvailable()
    mem.addData(g2.as[DocInput].collect().toIndexedSeq: _*)
    q.processAllAvailable()
    q.stop()

    val r = MultiIndexReader.open(spark, dir, 8, cacheData = false)
    // pre-merge stats count every committed generation
    assert(r.collStats.maxDoc == 400 + n1 + n2)
    def hits(t: String): Long =
      new JoinScorer(r).scores(BoolQ(Seq((Occur.Must, TermQ(t))))).count()
    assert(hits("println") == 0, "generation-0 content must be gone")
    assert(hits("printfb") == n2, "doubly-updated keys serve generation 2")
    assert(hits("printfa") == n1 - n2,
      "singly-updated keys still serve generation 1")

    // last-writer-wins point lookup for a doubly-updated key
    val k = g2.select("repo", "path", "commit").head()
    val got = r.realtimeGet(k.getString(0), k.getString(1)).collect()
    assert(got.length == 1 && got(0).getAs[String]("commit") == k.getString(2))

    // compaction purges both generations of tombstones
    val cdir = SparkSuite.tmpDir("graft-supd-c")
    IndexBuilder.compact(spark, dir, cdir,
      cfg(BaseParts + 2 * PartsPerBatch))
    val rc = new IndexReader(spark, cdir, 8, cacheData = false)
    assert(rc.collStats.maxDoc == 400)
    def chits(t: String): Long =
      new JoinScorer(rc).scores(BoolQ(Seq((Occur.Must, TermQ(t))))).count()
    assert(chits("println") == 0 && chits("printfb") == n2 &&
      chits("printfa") == n1 - n2)
    CheckIndex.run(rc).collect()
      .foreach(c => assert(c.violations == 0L, s"compacted check ${c.check}"))
    g1.unpersist(); g2.unpersist(); all.unpersist()
  }
}
