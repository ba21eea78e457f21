package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.index._
import graft.search._

/** Commit-point snapshots (SnapshotDeletionPolicy analog) + backup
  * (ReplicationHandler SnapShooter analog): a reader opened at a snapshot
  * is immune to later deletes and appends; a backup is a self-contained
  * index that serves the snapshot's exact results. */
class SnapshotSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  private val cfg = IndexConfig(numDocParts = 4, numBuckets = 8,
    hotDfThreshold = 400L, saltShift = 6, shufflePartitions = 8)

  private def topDocs(r: SearchReader): Seq[Long] =
    new JoinScorer(r).topK(BoolQ(Seq(
      (Occur.Should, TermQ("import")), (Occur.Should, TermQ("spark")))), 20)
      .as[(Long, Float)].collect().toSeq.map(_._1)

  test("snapshot pins the commit point across deletes and appends") {
    val dir = SparkSuite.tmpDir("graft-snap")
    val input = CorpusGen.generate(spark, 400).toDF()
    IndexBuilder.build(spark, input, dir, cfg)
    val r0 = MultiIndexReader.open(spark, dir, cfg.numBuckets, cacheData = false)
    val before = topDocs(r0)

    Snapshot.create(spark, dir, "s1")
    assert(Snapshot.list(dir) == Seq("s1"))

    // mutate after the snapshot: delete the top hit + append a delta
    val victim = before.head
    IndexBuilder.deleteDocs(spark, dir, Seq(victim).toDF("docId"))
    IndexBuilder.append(spark, CorpusGen.generate(spark, 50).toDF()
      .withColumn("path", org.apache.spark.sql.functions
        .concat(org.apache.spark.sql.functions.lit("extra/"),
          org.apache.spark.sql.functions.col("path"))), dir, 1L, cfg)

    val live = MultiIndexReader.open(spark, dir, cfg.numBuckets, cacheData = false)
    assert(!topDocs(live).contains(victim), "live reader must see the delete")
    assert(live.collStats.maxDoc > r0.collStats.maxDoc,
      "live reader must see the appended delta")

    val snap = Snapshot.openAt(spark, dir, "s1", cfg.numBuckets, cacheData = false)
    assert(snap.collStats.maxDoc == r0.collStats.maxDoc,
      "snapshot reader must not see the delta")
    assert(topDocs(snap) == before,
      "snapshot reader must not see the delete")
  }

  test("snapshot after a delete pins those tombstones, not later ones") {
    val dir = SparkSuite.tmpDir("graft-snap2")
    val input = CorpusGen.generate(spark, 300).toDF()
    IndexBuilder.build(spark, input, dir, cfg)
    val all = topDocs(MultiIndexReader.open(spark, dir, cfg.numBuckets,
      cacheData = false))

    IndexBuilder.deleteDocs(spark, dir, Seq(all.head).toDF("docId"))
    Snapshot.create(spark, dir, "afterDel")
    IndexBuilder.deleteDocs(spark, dir, Seq(all(1)).toDF("docId"))

    val snap = Snapshot.openAt(spark, dir, "afterDel", cfg.numBuckets,
      cacheData = false)
    val got = topDocs(snap)
    assert(!got.contains(all.head), "first delete is inside the snapshot")
    assert(got.contains(all(1)), "second delete came after the snapshot")
  }

  test("backup is a self-contained index serving the snapshot's results") {
    val dir = SparkSuite.tmpDir("graft-snap3")
    val input = CorpusGen.generate(spark, 300).toDF()
    IndexBuilder.build(spark, input, dir, cfg)
    val before = topDocs(MultiIndexReader.open(spark, dir, cfg.numBuckets,
      cacheData = false))

    Snapshot.create(spark, dir, "bk")
    val dest = SparkSuite.tmpDir("graft-snap3-bk")
    Snapshot.backup(dir, "bk", dest)

    // mutate the source AFTER the backup; the backup must be unaffected
    IndexBuilder.deleteDocs(spark, dir, Seq(before.head).toDF("docId"))

    val restored = MultiIndexReader.open(spark, dest, cfg.numBuckets,
      cacheData = false)
    assert(topDocs(restored) == before)
    assert(Snapshot.release(dir, "bk") && Snapshot.list(dir).isEmpty)
  }

  test("replication sync: incremental catch-up, no-op when current, full copy when stale") {
    val master = SparkSuite.tmpDir("graft-repl-m")
    val follower = SparkSuite.tmpDir("graft-repl-f")
    val input = CorpusGen.generate(spark, 300).toDF()
    IndexBuilder.build(spark, input, master, cfg)

    // initial fetch: everything copies, follower serves the same results
    val (c1, s1, full1) = Snapshot.sync(master, follower)
    assert(c1 > 0 && s1 == 0 && !full1)
    val mr = MultiIndexReader.open(spark, master, cfg.numBuckets, cacheData = false)
    val fr = MultiIndexReader.open(spark, follower, cfg.numBuckets, cacheData = false)
    assert(topDocs(fr) === topDocs(mr))

    // already current: nothing copies
    val (c2, s2, full2) = Snapshot.sync(master, follower)
    assert(c2 == 0 && s2 == c1 && !full2)

    // master gains a delta commit: only the delta's files transfer
    val more = CorpusGen.generate(spark, 80).toDF()
    IndexBuilder.append(spark, more, master, 1L, cfg)
    val (c3, s3, full3) = Snapshot.sync(master, follower)
    assert(c3 > 0 && s3 == c1 && !full3)
    val fr2 = MultiIndexReader.open(spark, follower, cfg.numBuckets, cacheData = false)
    val mr2 = MultiIndexReader.open(spark, master, cfg.numBuckets, cacheData = false)
    assert(topDocs(fr2) === topDocs(mr2))

    // a diverged follower file marks the index stale -> clean full copy
    import scala.jdk.CollectionConverters._
    val vf = java.nio.file.Files.walk(java.nio.file.Paths.get(follower))
      .iterator().asScala
      .find(p => java.nio.file.Files.isRegularFile(p) &&
        p.toString.contains("collstats")).get
    java.nio.file.Files.write(vf, "tampered".getBytes)
    val (c4, _, full4) = Snapshot.sync(master, follower)
    assert(full4 && c4 > 0)
    val fr3 = MultiIndexReader.open(spark, follower, cfg.numBuckets, cacheData = false)
    assert(topDocs(fr3) === topDocs(mr2))
  }

}
