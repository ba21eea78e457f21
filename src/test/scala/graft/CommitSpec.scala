package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, lit}
import org.scalatest.funsuite.AnyFunSuite

import graft.index._
import graft.search._

/** The commit generation as the one visibility rule: an update commits
  * its tombstones and its delta together, an open reader keeps its view
  * and its files through maintenance, a tiered compaction merges until no
  * tier is overfull, and CheckIndex audits the latest generation. */
class CommitSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  private val cfg = IndexConfig(numDocParts = 2, numBuckets = 4,
    hotDfThreshold = 1000L, saltShift = 6, shufflePartitions = 2)
  private val cfgX = cfg.copy(numDocParts = 8)

  private def docs(n: Int, seed: Long, part: Int): DataFrame =
    CorpusGen.generate(spark, n, seed, parts = 2).toDF()
      .withColumn("path", concat(lit(s"p$part/"), col("path")))
      .withColumn("docPart", lit(part))

  private def base(prefix: String, n: Int = 100): String = {
    val dir = SparkSuite.tmpDir(prefix)
    IndexBuilder.build(spark, CorpusGen.generate(spark, n, parts = 2).toDF(), dir, cfg)
    dir
  }

  private def live(r: SearchReader): Set[Long] =
    r.liveOnly(r.docmeta.toDF()).select("docId").as[Long].collect().toSet

  private def open(dir: String): MultiIndexReader =
    MultiIndexReader.open(spark, dir, cfg.numBuckets, cacheData = false)

  private val q = BoolQ(Seq((Occur.Should, TermQ("import")), (Occur.Should, TermQ("spark"))))

  test("updateDocs stopped before its publish keeps every old version") {
    val dir = base("graft-upd-crash")
    val r0 = open(dir)
    val keys = r0.docmeta.toDF().orderBy("docId").limit(10)
    val input = keys.select(lit(2).as("docPart"), col("repo"), col("path"),
      concat(lit("v2-"), col("commit")).as("commit"), col("lang"),
      lit("import spark revised").as("content"))
    val old = keys.select("docId").as[Long].collect().toSet
    val was = live(r0)
    // stopped right after its tombstones are written
    SparkSuite.crashAt(_ == s"$dir/deletes")(IndexBuilder.updateDocs(spark, dir, input, cfgX))
    assert(live(open(dir)) == was)
    // stopped inside the update dir's build: a docPart out of range
    intercept[Exception](IndexBuilder.updateDocs(spark, dir,
      input.withColumn("docPart", lit(99)), cfgX))
    assert(live(open(dir)) == was, "old versions went missing")
    IndexBuilder.updateDocs(spark, dir, input, cfgX)
    val now = live(open(dir))
    assert((now & old).isEmpty && now.size == was.size)
  }

  test("an open reader keeps its view and files through compactTiered") {
    val dir = base("graft-open-reader")
    (0 until 3).foreach(k => IndexBuilder.append(spark, docs(20, 800L + k, 2 + k), dir, k, cfgX))
    var r = open(dir)
    def answers(r: SearchReader) = (live(r),
      new JoinScorer(r).topK(q, 20).as[(Long, Float)].collect().toSeq,
      new WandScorer(r).topK(Seq("import", "spark"), 20).as[(Long, Float)].collect().toSeq)
    val before = answers(r)
    // a reader opened before a delete and first queried after it keeps its view
    var late = open(dir)
    IndexBuilder.deleteDocs(spark, dir, Seq(before._2.head._1).toDF("docId"))
    assert(live(late) == before._1)
    late = null
    assert(IndexBuilder.compactTiered(spark, dir, cfgX, segsPerTier = 1,
      maxMergeAtOnce = 3).isDefined)
    // the merged sources and the later tombstone stay out of its view
    assert(answers(r) == before)
    val sources = r.readers.map(_.dir).filterNot(_ == dir)
    assert(sources.size == 3 && sources.forall(d => Files.isDirectory(Paths.get(d))))
    assert(!IndexBuilder.subIndexDirs(dir).exists(sources.contains))
    // dropped, the reader retains nothing: the next cleanup takes the sources
    val ref = new java.lang.ref.WeakReference(r)
    r = null
    var tries = 0
    while (ref.get != null && tries < 50) { System.gc(); Thread.sleep(20); tries += 1 }
    assert(ref.get == null, "the dropped reader is still reachable")
    assert(IndexBuilder.compactTiered(spark, dir, cfgX, segsPerTier = 1).isEmpty)
    assert(sources.forall(d => !Files.exists(Paths.get(d))))
    assert(live(open(dir)) == before._1 - before._2.head._1)
  }

  test("compactTiered merges until no tier is overfull") {
    val dir = base("graft-tiers", 20)
    // three 4-doc deltas (tier 0) and two 15-doc deltas (tier 1): merging
    // tier 0 makes a third tier-1 delta
    Seq(4, 4, 4, 15, 15).zipWithIndex.foreach { case (n, k) =>
      IndexBuilder.append(spark, docs(n, 900L + k, 2 + k), dir, k, cfgX)
    }
    val was = live(open(dir))
    def tiers() = IndexBuilder.subIndexDirs(dir).tail.map(d =>
      math.floor(math.log10(IndexBuilder.markerValue(d, "collstats", "maxDoc").get.toDouble)).toInt)
    assert(tiers().sorted == Seq(0, 0, 0, 1, 1))
    val merged = IndexBuilder.compactTiered(spark, dir, cfgX, segsPerTier = 2,
      maxMergeAtOnce = 3, floorDocs = 1L)
    assert(tiers().groupBy(identity).values.forall(_.size <= 2), tiers())
    assert(IndexBuilder.subIndexDirs(dir) == Seq(dir, merged.get))
    assert(live(open(dir)) == was)
    // segsPerTier = 0 merges exactly once, even a single sub-index
    val again = IndexBuilder.compactTiered(spark, dir, cfgX, segsPerTier = 0)
    assert(again.isDefined && again != merged)
    assert(IndexBuilder.subIndexDirs(dir) == Seq(dir, again.get))
    // nothing to merge: no Spark job
    spark.sparkContext.setJobGroup("graft-noop-merge", "no-op compactTiered")
    try assert(IndexBuilder.compactTiered(spark, dir, cfgX, segsPerTier = 1).isEmpty)
    finally spark.sparkContext.clearJobGroup()
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup("graft-noop-merge").isEmpty)
  }

  test("CheckIndex counts listed commit files that are missing") {
    val dir = base("graft-commit-files")
    IndexBuilder.deleteDocs(spark, dir, Seq(Ids.docId(0, 1)).toDF("docId"))
    def missing() = CheckIndex.run(new IndexReader(spark, dir, cfg.numBuckets,
      cacheData = false)).collect().find(_.check == "commit_files_exist").get.violations
    assert(missing() == 0L)
    val part = Commit.pin(dir).deleteFiles.head
    Files.delete(Paths.get(part))
    assert(missing() == 1L)
  }

  test("compact into the same dir after a delete rebuilds every stage") {
    val dir = base("graft-recompact", 50)
    val out = IndexBuilder.compact(spark, dir, SparkSuite.tmpDir("graft-recompact-out"), cfg)
    IndexBuilder.deleteDocs(spark, dir, Seq(Ids.docId(0, 1), Ids.docId(1, 2)).toDF("docId"))
    IndexBuilder.compact(spark, dir, out, cfg)
    val r = new IndexReader(spark, out, cfg.numBuckets, cacheData = false)
    assert(r.collStats.maxDoc == 48L)
    CheckIndex.run(r).collect().foreach(c => assert(c.violations == 0L, c.check))
  }

  test("writes on a restored backup keep every doc exactly once") {
    val dir = base("graft-bk-src", 40)
    // 10 new keys as update_2, published in generation 2
    IndexBuilder.updateDocs(spark, dir, docs(10, 950L, 2), cfgX)
    assert(IndexBuilder.subIndexDirs(dir).last == s"$dir/update_2")
    Snapshot.create(spark, dir, "s")
    val bk = SparkSuite.tmpDir("graft-bk-dest")
    Snapshot.backup(dir, "s", bk)
    def check(clue: String): Set[Long] = {
      val r = open(bk)
      val all = r.docmeta.select("docId").as[Long].collect()
      assert(all.length == all.distinct.length, s"$clue: duplicate docIds")
      live(r)
    }
    val was = check("backup")
    assert(was.size == 50)
    // new versions of 3 base keys and 3 update_2 keys
    val dm = open(bk).docmeta.toDF()
    val keys = dm.where(col("docPart") === 0).orderBy("docId").limit(3)
      .unionByName(dm.where(col("docPart") === 2).orderBy("docId").limit(3))
      .localCheckpoint()
    val old = keys.select("docId").as[Long].collect().toSet
    val input = keys.select(lit(3).as("docPart"), col("repo"), col("path"),
      concat(lit("v2-"), col("commit")).as("commit"), col("lang"),
      lit("import spark revised").as("content"))
    IndexBuilder.updateDocs(spark, bk, input, cfgX)
    val now = check("updateDocs")
    assert(now == was -- old ++ (0 until 6).map(Ids.docId(3, _)))
    IndexBuilder.compactTiered(spark, bk, cfgX, segsPerTier = 0)
    assert(check("compactTiered") == now)
  }

  test("nextDeltaId skips a crashed batch's dir, which a later cleanup deletes") {
    val dir = base("graft-next-id", 40)
    SparkSuite.crashAt(_ == s"$dir/delta_0 marker segments")(IndexBuilder.append(
      spark, docs(10, 960L, 2), dir, IndexBuilder.nextDeltaId(dir), cfgX))
    assert(IndexBuilder.nextDeltaId(dir) == 1L)
    IndexBuilder.append(spark, docs(10, 961L, 3), dir, 1L, cfgX)
    assert(live(open(dir)).filter(Ids.docPart(_) >= 2) == (0 until 10).map(Ids.docId(3, _)).toSet)
    // batch 1 committed, so the crashed batch 0 is no longer in flight
    assert(IndexBuilder.compactTiered(spark, dir, cfgX).isEmpty)
    assert(!Files.exists(Paths.get(dir, "delta_0")))
  }

  test("a dir without a commit generation fails to open, naming it") {
    val dir = SparkSuite.tmpDir("graft-no-commit")
    for (opening <- Seq(() => new IndexReader(spark, dir, cfg.numBuckets), () => open(dir))) {
      val e = intercept[IllegalStateException](opening())
      assert(e.getMessage.contains(dir))
    }
  }
}
