package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.scalatest.funsuite.AnyFunSuite

import graft.index._
import graft.search._

/** CheckIndex invariants + resumable-build semantics (north rule:
  * resumable from per-partition checkpoints, byte-identical results). */
class IndexMaintenanceSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  private val cfg = IndexConfig(numDocParts = 8, numBuckets = 8,
    hotDfThreshold = 400L, saltShift = 6, shufflePartitions = 8)

  private lazy val input = CorpusGen.generate(spark, 800).toDF()

  private def build(dir: String): IndexReader = {
    IndexBuilder.build(spark, input, dir, cfg)
    new IndexReader(spark, dir, cfg.numBuckets, cacheData = false)
  }

  private def topDocs(r: IndexReader): Seq[(Long, Float)] =
    new JoinScorer(r).topK(BoolQ(Seq(
      (Occur.Should, TermQ("import")), (Occur.Should, TermQ("spark")))), 20)
      .as[(Long, Float)].collect().toSeq

  test("CheckIndex: fresh build has zero violations on every invariant") {
    val dir = SparkSuite.tmpDir("graft-check")
    val r = build(dir)
    val res = CheckIndex.run(r, Some(input)).collect()
    assert(res.length == 7)
    res.foreach(c => assert(c.violations == 0L, s"check ${c.check}"))
  }

  test("resume: killed-after-stage build resumes and is result-identical") {
    val full = SparkSuite.tmpDir("graft-full")
    val rFull = build(full)
    val expect = topDocs(rFull)

    // simulate a crash after collstats: segments and collstats committed,
    // postings and termstats not (data and markers missing) — resume must
    // redo ONLY those stages
    val part = SparkSuite.tmpDir("graft-part")
    IndexBuilder.build(spark, input, part, cfg)
    deleteRec(Paths.get(s"$part/postings"))
    deleteRec(Paths.get(s"$part/termstats"))
    Seq("postings_wave_0", "termstats", "done").foreach(stage =>
      Files.deleteIfExists(IndexBuilder.markerPath(part, stage)))
    def mtimes() = Seq("segments", "collstats").map(stage =>
      Files.getLastModifiedTime(IndexBuilder.markerPath(part, stage)))
    val kept = mtimes()

    val rResumed = build(part) // resume
    assert(mtimes() == kept, "resume must not redo completed stages")
    assert(Seq("postings_wave_0", "termstats", "done")
      .forall(IndexBuilder.stageDone(part, _)))
    assert(topDocs(rResumed) == expect,
      "resumed build must be result-identical to an uninterrupted one")
    CheckIndex.run(rResumed, Some(input)).collect()
      .foreach(c => assert(c.violations == 0L, s"check ${c.check}"))
  }

  test("tiered merges never take a batch id; a merged batch's re-delivery " +
    "is a no-op through two generations of merges") {
    import org.apache.spark.sql.functions.lit
    val dir = SparkSuite.tmpDir("graft-append-merged")
    IndexBuilder.build(spark, CorpusGen.generate(spark, 200).toDF(), dir, cfg)
    val cfgA = cfg.copy(numDocParts = cfg.numDocParts + 4)
    def batch(k: Int) = CorpusGen.generate(spark, 20, seed = 300L + k).toDF()
      .withColumn("docPart", lit(cfg.numDocParts + k))
    def append(k: Int) = IndexBuilder.append(spark, batch(k), dir, k, cfgA)
    def maxDoc() = MultiIndexReader.open(spark, dir, cfg.numBuckets,
      cacheData = false).collStats.maxDoc
    (0 until 3).foreach(append)
    // equal sizes tie on dir name: delta_0 and delta_1 merge into merge_0
    assert(IndexBuilder.compactTiered(spark, dir, cfgA, segsPerTier = 2,
      maxMergeAtOnce = 2).contains(s"$dir/merge_0"))
    assert(maxDoc() == 260)
    // the next batch gets its own delta, not the merge's
    append(3)
    assert(maxDoc() == 280)
    // re-deliveries: batch 0 is merged away, batch 2 still has its delta
    Seq(0, 2).foreach(append)
    assert(maxDoc() == 280)
    // a second generation folds merge_0 in and deletes it: merge_1 alone
    // now names batch 0, whose re-delivery stays a no-op
    assert(IndexBuilder.compactTiered(spark, dir, cfgA, segsPerTier = 2,
      maxMergeAtOnce = 3).contains(s"$dir/merge_1"))
    assert(!Files.exists(Paths.get(dir, "merge_0")))
    assert(IndexBuilder.subIndexDirs(dir) == Seq(dir, s"$dir/merge_1"))
    Seq(0, 3).foreach(append)
    assert(maxDoc() == 280)
    assert(!Files.exists(Paths.get(dir, "delta_0")))
    // every batch id up to 3 is taken, on disk or not
    assert(IndexBuilder.nextDeltaId(dir) == 4L)
    // a merge written when merges shared the delta_ names fails the
    // batch that reaches its id instead of swallowing it
    Files.createDirectories(Paths.get(dir, "delta_4"))
    Files.writeString(Paths.get(dir, "delta_4", "replaces.txt"), "delta_2")
    intercept[IllegalStateException](append(4))
  }

  test("an update never takes a batch id: the batch after it is indexed") {
    import org.apache.spark.sql.functions.lit
    val dir = SparkSuite.tmpDir("graft-append-updated")
    IndexBuilder.build(spark, CorpusGen.generate(spark, 200).toDF(), dir, cfg)
    val cfgA = cfg.copy(numDocParts = cfg.numDocParts + 4)
    def batch(k: Int) = CorpusGen.generate(spark, 20, seed = 300L + k).toDF()
      .withColumn("docPart", lit(cfg.numDocParts + k))
    def maxDoc() = MultiIndexReader.open(spark, dir, cfg.numBuckets,
      cacheData = false).collStats.maxDoc
    (0 until 2).foreach(k => IndexBuilder.append(spark, batch(k), dir, k, cfgA))
    // 20 new keys: nothing to tombstone, 20 docs more
    val upd = IndexBuilder.updateDocs(spark, dir, batch(3), cfgA)
    assert(maxDoc() == 260)
    IndexBuilder.append(spark, batch(2), dir, 2L, cfgA)
    assert(maxDoc() == 280, "batch 2 was dropped")
    assert(upd == s"$dir/update_0")
    assert(IndexBuilder.subIndexDirs(dir).map(Paths.get(_).getFileName.toString) ==
      Seq(Paths.get(dir).getFileName.toString, "delta_0", "delta_1", "delta_2",
        "update_0"))
    assert(IndexBuilder.nextDeltaId(dir) == 3L)
  }

  test("a reader opened with another numBuckets than the build's fails " +
    "before its first dictionary lookup") {
    val dir = SparkSuite.tmpDir("graft-buckets")
    IndexBuilder.build(spark, CorpusGen.generate(spark, 200).toDF(), dir, cfg)
    val e = intercept[IllegalArgumentException](
      new IndexReader(spark, dir, 5, cacheData = false).termStats(Seq("import")))
    assert(e.getMessage.contains(s"numBuckets = ${cfg.numBuckets}") &&
      e.getMessage.contains("numBuckets = 5"))
    assert(new IndexReader(spark, dir, cfg.numBuckets, cacheData = false)
      .termStats(Seq("import")).contains("import"))
    // a termstats marker written before the field existed skips the check
    IndexBuilder.writeMarker(dir, "termstats", Map())
    new IndexReader(spark, dir, 5, cacheData = false).termStats(Seq("import"))
  }

  test("salting invariance: everything-salted == nothing-salted build") {
    // hotDfThreshold=1 salts EVERY term into docId-range chunks; a huge
    // threshold salts none. Query results (and CheckIndex) must be
    // identical — the firstDoc-order concatenation of chunks IS the
    // posting list (SURVEY.md §4.4).
    val salted = SparkSuite.tmpDir("graft-salt")
    val unsalted = SparkSuite.tmpDir("graft-nosalt")
    IndexBuilder.build(spark, input, salted, cfg.copy(hotDfThreshold = 1L))
    IndexBuilder.build(spark, input, unsalted,
      cfg.copy(hotDfThreshold = Long.MaxValue))
    val rs = new IndexReader(spark, salted, cfg.numBuckets, cacheData = false)
    val ru = new IndexReader(spark, unsalted, cfg.numBuckets, cacheData = false)
    assert(topDocs(rs) == topDocs(ru))
    val wandS = new WandScorer(rs).topK(Seq("import", "spark"), 20)
      .as[(Long, Float)].collect().toSeq
    val wandU = new WandScorer(ru).topK(Seq("import", "spark"), 20)
      .as[(Long, Float)].collect().toSeq
    assert(wandS == wandU && wandS == topDocs(rs))
    CheckIndex.run(rs, Some(input)).collect()
      .foreach(c => assert(c.violations == 0L, s"salted check ${c.check}"))
  }

  test("deletes: live-docs semantics pre-compaction; compact purges " +
    "tombstones and recomputes stats (merge analog)") {
    val dir = SparkSuite.tmpDir("graft-del")
    val r0 = build(dir)
    val q = BoolQ(Seq(
      (Occur.Should, TermQ("import")), (Occur.Should, TermQ("spark"))))
    val before = topDocs(r0)
    val delQ = BoolQ(Seq((Occur.Must, TermQ("println"))))
    val delIds = new JoinScorer(r0).scores(delQ).map(_._1).collect().toSet
    assert(delIds.nonEmpty && delIds.size < 800)
    val n = IndexBuilder.deleteByQuery(spark, dir, cfg, delQ)
    assert(n == delIds.size)

    val r1 = new IndexReader(spark, dir, cfg.numBuckets, cacheData = false)
    // stats keep counting deleted docs until compaction (reference
    // pre-merge semantics) -> surviving docs keep their exact scores
    assert(r1.collStats == r0.collStats)
    val after = topDocs(r1)
    assert(after.nonEmpty && after.forall(t => !delIds.contains(t._1)))
    val beforeMap = before.toMap
    after.foreach { case (id, s) =>
      beforeMap.get(id).foreach(bs => assert(bs == s)) }
    // WAND path agrees with the join path under deletes (tombstones are
    // skipped BEFORE the heap, so they cannot displace live hits)
    val wandTop = new WandScorer(r1).topK(Seq("import", "spark"), 20)
      .as[(Long, Float)].collect().toSeq
    assert(wandTop == after)
    // CheckIndex on the tombstoned (pre-compaction) reader exercises the
    // deletes_reference_live_segment invariant
    val preChecks = CheckIndex.run(r1).collect()
    assert(preChecks.exists(_.check == "deletes_reference_live_segment"))
    preChecks.foreach(c => assert(c.violations == 0L, s"pre-compact ${c.check}"))

    val cdir = SparkSuite.tmpDir("graft-compacted")
    IndexBuilder.compact(spark, dir, cdir, cfg)
    val rc = new IndexReader(spark, cdir, cfg.numBuckets, cacheData = false)
    assert(rc.deletedDocs.isEmpty)
    assert(rc.collStats.maxDoc == r0.collStats.maxDoc - delIds.size)
    assert(rc.termStats(Seq("println")).isEmpty,
      "compaction must purge the deleted docs' terms from the dictionary")
    // float-exact rank identity vs the independent oracle over survivors
    // (docIds preserved; stats recomputed over survivors only)
    val survivors = rc.docmeta
      .join(input.withColumnRenamed("lang", "lang2"),
        Seq("repo", "path", "commit"))
      .select($"docId", $"lang", $"content")
      .as[(Long, String, String)].collect()
      .map(t => NaiveOracle.Doc(t._1, t._2, t._3))
    assert(survivors.length == 800 - delIds.size)
    val oracle = new NaiveOracle.Index(survivors.toSeq)
    val got = new JoinScorer(rc).topK(q, 20).as[(Long, Float)].collect().toSeq
    assert(got == oracle.topK(q, 20))
    CheckIndex.run(rc).collect()
      .foreach(c => assert(c.violations == 0L, s"compacted check ${c.check}"))
  }

  test("live-docs contract holds in EVERY scorer: LM-Dirichlet, DFR, " +
    "Classic and DisMax exclude tombstones (round-2 advice)") {
    val dir = SparkSuite.tmpDir("graft-del-alt")
    val r0 = build(dir)
    val delQ = BoolQ(Seq((Occur.Must, TermQ("println"))))
    val delIds = new JoinScorer(r0).scores(delQ).map(_._1).collect().toSet
    assert(delIds.nonEmpty)
    IndexBuilder.deleteByQuery(spark, dir, cfg, delQ)
    val r = new IndexReader(spark, dir, cfg.numBuckets, cacheData = false)
    val terms = Seq("import", "println")
    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      df.select("docId").as[Long].collect().toSet
    val q = BoolQ(terms.map(t => (Occur.Should, TermQ(t))))
    val got = Map(
      "lmdirichlet" -> ids(new JoinScorer(r, Similarities.lmDirichlet())
        .topK(q, 100)),
      "dfr" -> ids(new JoinScorer(r, Similarities.dfrGL2).topK(q, 100)),
      "classic" -> ids(new JoinScorer(r, Similarities.classic).topK(q, 100)),
      "dismax" -> ids(new JoinScorer(r).topKDisMax(terms, 100)))
    got.foreach { case (name, s) =>
      assert(s.nonEmpty, name)
      assert(s.intersect(delIds).isEmpty,
        s"$name returned tombstoned docs: ${s.intersect(delIds).take(5)}")
    }
  }

  test("atomic update: delete-by-key + add, realtime-get, compaction " +
    "rank-identical to oracle over the rewritten corpus") {
    import org.apache.spark.sql.functions.{col, hash, md5, pmod, regexp_replace, lit, not}
    val dir = SparkSuite.tmpDir("graft-upd")
    val r0 = build(dir)
    val n0 = r0.collStats.maxDoc

    // rewrite every 'println' doc under its unchanged (repo, path) key,
    // on FRESH docParts (new internal docIds, as updateDocument assigns)
    val updInput = input.where(col("content").contains("println"))
      .withColumn("content", regexp_replace(col("content"), "println", "printfz"))
      .withColumn("commit", md5(col("content")))
      .withColumn("docPart",
        (lit(cfg.numDocParts) +
          pmod(hash(col("repo"), col("path"), col("commit")),
            lit(cfg.numDocParts))).cast("int"))
    val nUpd = updInput.count()
    assert(nUpd > 0 && nUpd < 800)
    val cfgU = cfg.copy(numDocParts = cfg.numDocParts * 2)
    IndexBuilder.updateDocs(spark, dir, updInput, cfgU)

    val rU = MultiIndexReader.open(spark, dir, cfg.numBuckets, cacheData = false)
    // pre-merge stats count old tombstoned versions AND new versions
    assert(rU.collStats.maxDoc == n0 + nUpd)
    // old content is gone from results; new content matches
    assert(new JoinScorer(rU)
      .scores(BoolQ(Seq((Occur.Must, TermQ("println"))))).count() == 0)
    val hitsNew = new JoinScorer(rU)
      .scores(BoolQ(Seq((Occur.Must, TermQ("printfz"))))).count()
    assert(hitsNew == nUpd)
    // WAND agrees with the join path under update tombstones
    val q2 = BoolQ(Seq(
      (Occur.Should, TermQ("import")), (Occur.Should, TermQ("printfz"))))
    val joinTop = new JoinScorer(rU).topK(q2, 20).as[(Long, Float)].collect().toSeq
    val wandTop = new WandScorer(rU).topK(Seq("import", "printfz"), 20)
      .as[(Long, Float)].collect().toSeq
    assert(wandTop == joinTop)

    // realtime-get: updated key -> new commit on a NEW docId
    val u0 = updInput.select("repo", "path", "commit").head()
    val got = rU.realtimeGet(u0.getString(0), u0.getString(1)).collect()
    assert(got.length == 1)
    assert(got(0).getAs[String]("commit") == u0.getString(2))
    assert(got(0).getAs[Long]("docId") >= (cfg.numDocParts.toLong << 40))
    // non-updated key -> its original version
    val k0 = input.where(not(col("content").contains("println")))
      .select("repo", "path", "commit").head()
    val got2 = rU.realtimeGet(k0.getString(0), k0.getString(1)).collect()
    assert(got2.length == 1 && got2(0).getAs[String]("commit") == k0.getString(2))

    // compaction: one doc per key, stats over the rewritten corpus;
    // float-exact rank identity vs the independent in-memory oracle
    val cdir = SparkSuite.tmpDir("graft-updc")
    IndexBuilder.compact(spark, dir, cdir, cfgU)
    val rc = new IndexReader(spark, cdir, cfg.numBuckets, cacheData = false)
    assert(rc.deletedDocs.isEmpty && rc.collStats.maxDoc == n0)
    val rewritten = input.where(not(col("content").contains("println")))
      .unionByName(updInput.select(input.columns.map(col): _*))
    val docs = rc.docmeta
      .join(rewritten.withColumnRenamed("lang", "lang2"),
        Seq("repo", "path", "commit"))
      .select($"docId", $"lang", $"content")
      .as[(Long, String, String)].collect()
      .map(t => NaiveOracle.Doc(t._1, t._2, t._3))
    assert(docs.length == n0)
    val oracle = new NaiveOracle.Index(docs.toSeq)
    val gotTop = new JoinScorer(rc).topK(q2, 20).as[(Long, Float)].collect().toSeq
    assert(gotTop == oracle.topK(q2, 20))
    CheckIndex.run(rc).collect()
      .foreach(c => assert(c.violations == 0L, s"compacted check ${c.check}"))
  }

  test("collection scope: deleteByQuery reaches delta docs, CheckIndex " +
    "accepts delta tombstones in base deletes, splitShard carries deltas") {
    import org.apache.spark.sql.functions.{col, hash, lit, md5, pmod, regexp_replace}
    val dir = SparkSuite.tmpDir("graft-coll")
    build(dir)
    // delta: rewrite the println docs to printfz under fresh docParts
    val updInput = input.where(col("content").contains("println"))
      .withColumn("content", regexp_replace(col("content"), "println", "printfz"))
      .withColumn("commit", md5(col("content")))
      .withColumn("docPart",
        (lit(cfg.numDocParts) +
          pmod(hash(col("repo"), col("path"), col("commit")),
            lit(cfg.numDocParts))).cast("int"))
    val nUpd = updInput.count()
    val cfgU = cfg.copy(numDocParts = cfg.numDocParts * 2)
    IndexBuilder.updateDocs(spark, dir, updInput, cfgU)

    // CheckIndex on the BASE reader: updateDocs wrote tombstones for
    // delta-resident old versions into base deletes/ — the dangling-
    // tombstone check must resolve docIds across the whole collection
    val baseR = new IndexReader(spark, dir, cfg.numBuckets, cacheData = false)
    CheckIndex.run(baseR).collect().foreach(c =>
      assert(c.violations == 0L, s"base-reader check ${c.check}"))

    // deleteByQuery for a term that exists ONLY in the delta: the matched
    // docs live in delta_0, a base-only reader would find nothing
    val n = IndexBuilder.deleteByQuery(spark, dir, cfgU,
      BoolQ(Seq((Occur.Must, TermQ("printfz")))))
    assert(n == nUpd, s"deleteByQuery matched $n of $nUpd delta docs")
    val rAfter = MultiIndexReader.open(spark, dir, cfg.numBuckets,
      cacheData = false)
    assert(new JoinScorer(rAfter)
      .scores(BoolQ(Seq((Occur.Must, TermQ("printfz"))))).count() == 0)

    // splitShard: children must carry the delta docs AND the delta
    // tombstones (union == parent live view, nothing resurrected)
    val loDir = SparkSuite.tmpDir("graft-coll-lo")
    val hiDir = SparkSuite.tmpDir("graft-coll-hi")
    val mid = 4L << 40 // docPart 4 boundary: split inside the base range
    IndexBuilder.splitShard(spark, dir, loDir, hiDir, mid, cfgU)
    val rChildren = new MultiIndexReader(Seq(
      new IndexReader(spark, loDir, cfg.numBuckets, cacheData = false),
      new IndexReader(spark, hiDir, cfg.numBuckets, cacheData = false)))
    // all docs present across children (deltas included)...
    assert(rChildren.docmeta.count() == rAfter.docmeta.count())
    // ...and the deleted-in-delta docs stay deleted in the children
    assert(new JoinScorer(rChildren)
      .scores(BoolQ(Seq((Occur.Must, TermQ("printfz"))))).count() == 0)
    // live results identical to the parent collection view
    val q = BoolQ(Seq((Occur.Should, TermQ("import")),
      (Occur.Should, TermQ("spark"))))
    assert(new JoinScorer(rChildren).topK(q, 20).as[(Long, Float)]
      .collect().toSeq ==
      new JoinScorer(rAfter).topK(q, 20).as[(Long, Float)].collect().toSeq)
  }

  test("tiered compaction: merges only the overfull tier, cold segments " +
    "byte-identical, results unchanged (TieredMergePolicy analog)") {
    import org.apache.spark.sql.functions.{col, lit}
    val dir = SparkSuite.tmpDir("graft-tier")
    build(dir)
    val cfgT = cfg.copy(numDocParts = cfg.numDocParts + 12)
    // 12 small appends, one fresh docPart each (NRT micro-batches)
    (0 until 12).foreach { k =>
      val in = CorpusGen.generate(spark, 40, seed = 100L + k).toDF()
        .withColumn("docPart", lit(cfg.numDocParts + k))
      IndexBuilder.append(spark, in, dir, IndexBuilder.nextDeltaId(dir), cfgT)
    }
    assert(IndexBuilder.subIndexDirs(dir).size == 13)

    def fileHashes(roots: Seq[Path]): Map[String, String] = {
      def walk(p: Path): Seq[Path] =
        if (Files.isDirectory(p))
          Option(p.toFile.listFiles()).toSeq.flatten.map(_.toPath).flatMap(walk)
        else Seq(p)
      roots.flatMap(walk).map { f =>
        f.toString -> IndexBuilder.sha256Hex(
          java.util.Base64.getEncoder.encodeToString(Files.readAllBytes(f)))
      }.toMap
    }
    // sizes tie -> lexicographic dir order: delta_8 and delta_9 stay cold
    val coldRoots = Seq(Paths.get(dir, "segments"), Paths.get(dir, "postings"),
      Paths.get(dir, "delta_8"), Paths.get(dir, "delta_9"))
    val coldBefore = fileHashes(coldRoots)

    val q = BoolQ(Seq((Occur.Should, TermQ("import")),
      (Occur.Should, TermQ("spark"))))
    val rBefore = MultiIndexReader.open(spark, dir, cfg.numBuckets,
      cacheData = false)
    val before = new JoinScorer(rBefore).topK(q, 20)
      .as[(Long, Float)].collect().toSeq

    val merged = IndexBuilder.compactTiered(spark, dir, cfgT)
    assert(merged.isDefined, "12 same-tier deltas > segsPerTier=10 must merge")
    // 12 deltas -> merge the 10 smallest -> base + 2 cold + 1 merged
    val visible = IndexBuilder.subIndexDirs(dir)
    assert(visible.size == 4, visible.mkString(","))
    assert(visible.exists(_.endsWith("delta_8")) &&
      visible.exists(_.endsWith("delta_9")))
    // cold files untouched, byte for byte
    assert(fileHashes(coldRoots) == coldBefore)
    // merged sources physically gone
    assert(!Files.exists(Paths.get(dir, "delta_0")))
    // identical results (no deletes involved -> scores float-identical)
    val rAfter = MultiIndexReader.open(spark, dir, cfg.numBuckets,
      cacheData = false)
    assert(new JoinScorer(rAfter).topK(q, 20)
      .as[(Long, Float)].collect().toSeq == before)
    // WAND agrees — this exercises BOTH multi-reader WAND soundness
    // fixes: the per-sub maxPartial bound rescale (SearchReader
    // .boundScale) and the overlapping-block merge (WandScorer
    // .disjointBlocks) that tiered merges make necessary, on one chunk
    // and on the full grid, where merged blocks span chunk boundaries
    for (wand <- Seq(new WandScorer(rAfter),
      new WandScorer(rAfter, postingsPerChunk = 1L)))
      assert(wand.topK(Seq("import", "spark"), 20)
        .as[(Long, Float)].collect().toSeq == before)
    CheckIndex.run(new IndexReader(spark, merged.get, cfg.numBuckets,
      cacheData = false)).collect()
      .foreach(c => assert(c.violations == 0L, s"merged check ${c.check}"))
    // steady state: nothing over threshold -> free no-op
    assert(IndexBuilder.compactTiered(spark, dir, cfgT).isEmpty)
    // id allocation skips the ids the merge hid: delta_10 and delta_11
    // are gone from disk, and a re-delivery of either is a no-op
    assert(IndexBuilder.nextDeltaId(dir) == 12L)
  }

  test("half-merge: a tiered merge that crashed before its done marker " +
    "stays invisible to compact, splitShard and compactTiered") {
    // an append that crashed before its done marker stays invisible too,
    // to every reader and maintenance call (multiPassSplit included)
    import org.apache.spark.sql.functions.lit
    val dir = SparkSuite.tmpDir("graft-half")
    build(dir)
    val cfgT = cfg.copy(numDocParts = cfg.numDocParts + 3)
    (0 until 2).foreach { k =>
      val in = CorpusGen.generate(spark, 40, seed = 200L + k).toDF()
        .withColumn("docPart", lit(cfg.numDocParts + k))
      IndexBuilder.append(spark, in, dir, IndexBuilder.nextDeltaId(dir), cfgT)
    }
    val live = MultiIndexReader.open(spark, dir, cfg.numBuckets,
      cacheData = false).docmeta.count()
    assert(live == 880L)
    // crash after compactTiered wrote the merged segments and
    // replaces.txt, before build() committed the done marker
    val half = Paths.get(dir, "merge_0")
    copyTree(Paths.get(dir, "delta_0", "segments"), half.resolve("segments"))
    Files.writeString(half.resolve("replaces.txt"), "delta_0")
    assert(!IndexBuilder.subIndexDirs(dir).contains(half.toString))
    // an append that crashed after its segments stage: 40 new docs on
    // disk, no stats, postings or done marker
    val crashed = IndexBuilder.append(spark,
      CorpusGen.generate(spark, 40, seed = 202L).toDF()
        .withColumn("docPart", lit(cfg.numDocParts + 2)),
      dir, IndexBuilder.nextDeltaId(dir), cfgT)
    new java.io.File(crashed).listFiles()
      .filterNot(f => f.getName == "segments" || f.getName == "_lineage")
      .foreach(f => deleteRec(f.toPath))
    Paths.get(crashed, "_lineage").toFile.listFiles()
      .filterNot(_.getName == "segments.json").foreach(f => Files.delete(f.toPath))
    assert(!IndexBuilder.subIndexDirs(dir).contains(crashed))
    assert(MultiIndexReader.open(spark, dir, cfg.numBuckets,
      cacheData = false).docmeta.count() == live)

    val out = SparkSuite.tmpDir("graft-half-compact")
    IndexBuilder.compact(spark, dir, out, cfgT)
    assert(new IndexReader(spark, out, cfg.numBuckets, cacheData = false)
      .collStats.maxDoc == live)

    val loDir = SparkSuite.tmpDir("graft-half-lo")
    val hiDir = SparkSuite.tmpDir("graft-half-hi")
    IndexBuilder.splitShard(spark, dir, loDir, hiDir, 4L << 40, cfgT)
    val children = Seq(loDir, hiDir).map(d =>
      new IndexReader(spark, d, cfg.numBuckets, cacheData = false)
        .docmeta.count())
    assert(children.sum == live, children.mkString(","))

    val parts = Seq("graft-half-p0", "graft-half-p1").map(SparkSuite.tmpDir)
    IndexBuilder.multiPassSplit(spark, dir, parts, seq = true, cfgT)
    assert(parts.map(d => new IndexReader(spark, d, cfg.numBuckets,
      cacheData = false).docmeta.count()).sum == live)

    // both visible deltas fit one tier of size 1: the merge runs over
    // them only and never reads the crashed dirs' (absent) markers
    assert(IndexBuilder.compactTiered(spark, dir, cfgT, segsPerTier = 1)
      .contains(half.toString))
    assert(MultiIndexReader.open(spark, dir, cfg.numBuckets,
      cacheData = false).docmeta.count() == live)
    // it drops the crashed merge (replaces.txt, no done marker), whose
    // free id the new merge takes with its own replaces.txt, and keeps the
    // crashed append, which may still be in flight
    assert(Files.readAllLines(half.resolve("replaces.txt")).toArray.toSeq ==
      Seq("delta_0", "delta_1"))
    assert(Files.exists(Paths.get(crashed, "segments")))
  }

  test("optimistic concurrency: matching expectCommit applies, stale or " +
    "unknown keys are rejected as conflicts") {
    import org.apache.spark.sql.functions.{col, hash, lit, md5, pmod, regexp_replace}
    val dir = SparkSuite.tmpDir("graft-ver")
    build(dir)
    val cfgU = cfg.copy(numDocParts = cfg.numDocParts * 3)
    def parted(df: org.apache.spark.sql.DataFrame, offset: Int) =
      df.withColumn("docPart", (lit(offset) +
        pmod(hash(col("repo"), col("path"), col("commit")),
          lit(cfg.numDocParts))).cast("int"))

    val g0 = input.where(col("content").contains("println"))
    val n = g0.count()
    // generation 1 carries the ORIGINAL commit as its expectation
    val g1 = parted(g0.withColumn("expectCommit", col("commit"))
      .withColumn("content", regexp_replace(col("content"), "println", "printva"))
      .withColumn("commit", md5(col("content"))), cfg.numDocParts).cache()
    assert(IndexBuilder.updateDocsVersioned(spark, dir, g1, cfgU) == (n, 0L))

    // replaying generation 1 is now STALE (live commit moved), and an
    // unknown key can never match
    val bogus = g1.limit(1).withColumn("path", lit("no/such/doc"))
    assert(IndexBuilder.updateDocsVersioned(spark, dir,
      g1.unionByName(bogus), cfgU) == (0L, n + 1))

    // generation 2 expects generation 1's commit -> applies
    val g2 = parted(g1.drop("expectCommit", "docPart")
      .withColumn("expectCommit", col("commit"))
      .withColumn("content", regexp_replace(col("content"), "printva", "printvb"))
      .withColumn("commit", md5(col("content"))), 2 * cfg.numDocParts)
    assert(IndexBuilder.updateDocsVersioned(spark, dir, g2, cfgU) == (n, 0L))

    val r = MultiIndexReader.open(spark, dir, cfg.numBuckets, cacheData = false)
    def hits(t: String): Long =
      new JoinScorer(r).scores(BoolQ(Seq((Occur.Must, TermQ(t))))).count()
    assert(hits("println") == 0 && hits("printva") == 0 && hits("printvb") == n)
    g1.unpersist()
  }

  test("reversed-token field: leading wildcard == exact-term match set; " +
    "content expansions never leak rev terms; CheckIndex clean") {
    val dir = SparkSuite.tmpDir("graft-rev")
    IndexBuilder.build(spark, input, dir, cfg.copy(reverseTokens = true))
    val r = new IndexReader(spark, dir, cfg.numBuckets, cacheData = false)
    assert(r.hasReverseField)
    val viaRev = new JoinScorer(r)
      .scores(BoolQ(Seq((Occur.Should, WildcardQ("*intln")))))
      .map(_._1).collect().toSet
    val exact = new JoinScorer(r)
      .scores(BoolQ(Seq((Occur.Must, TermQ("println")))))
      .map(_._1).collect().toSet
    assert(viaRev.nonEmpty && viaRev == exact)
    // a content prefix expansion must not pick up rev:/path: dictionary
    // entries (fieldGuard)
    val pfx = new JoinScorer(r)
      .scores(BoolQ(Seq((Occur.Should, PrefixQ("r")))))
      .map(_._1).collect()
    assert(pfx.nonEmpty)
    CheckIndex.run(r, Some(input)).collect()
      .foreach(c => assert(c.violations == 0L, s"rev check ${c.check}"))
  }

  test("write.lock: a concurrent writer fails fast; unlock clears a " +
    "stale crash lock; the lock releases after a successful mutation") {
    val dir = SparkSuite.tmpDir("graft-lock")
    build(dir)
    Files.createFile(Paths.get(dir, "write.lock"))
    val q = BoolQ(Seq((Occur.Must, TermQ("println"))))
    val e = intercept[IllegalStateException] {
      IndexBuilder.deleteByQuery(spark, dir, cfg, q)
    }
    assert(e.getMessage.contains("write.lock"))
    assert(IndexBuilder.unlock(dir))
    assert(IndexBuilder.deleteByQuery(spark, dir, cfg, q) > 0)
    assert(!Files.exists(Paths.get(dir, "write.lock")), "lock released")
  }

  // ---- tiered compaction under tombstones, and its crash states ----

  /** A small base plus three 40-doc deltas, tombstoned through three
    * homes: the base dir (base, delta_0 and delta_2 docs), delta_0 (delta_1
    * docs: inside a merge of delta_0 + delta_1) and delta_1 (base and
    * delta_2 docs: outside that merge). Returns the dir, the config that
    * covers every delta and the live docIds. */
  private def tieredFixture(prefix: String): (String, IndexConfig, Set[Long]) = {
    import org.apache.spark.sql.functions.lit
    val dir = SparkSuite.tmpDir(prefix)
    IndexBuilder.build(spark, CorpusGen.generate(spark, 200).toDF(), dir, cfg)
    val cfgT = cfg.copy(numDocParts = cfg.numDocParts + 3)
    (0 until 3).foreach { k =>
      IndexBuilder.append(spark, CorpusGen.generate(spark, 40, seed = 300L + k)
        .toDF().withColumn("docPart", lit(cfg.numDocParts + k)),
        dir, k.toLong, cfgT)
    }
    val ids = MultiIndexReader.open(spark, dir, cfg.numBuckets,
      cacheData = false).docmeta.select("docId").as[Long].collect().sorted.toSeq
    def of(part: Int): Seq[Long] = ids.filter(Ids.docPart(_) == part)
    val baseIds = ids.filter(Ids.docPart(_) < cfg.numDocParts)
    val Seq(d0, d1, d2) = (0 until 3).map(k => of(cfg.numDocParts + k))
    val viaBase = baseIds.take(3) ++ d0.take(2) ++ d2.take(2)
    val viaD0 = d1.slice(2, 4)
    val viaD1 = baseIds.slice(3, 6) ++ d2.slice(2, 4)
    Seq(dir -> viaBase, s"$dir/delta_0" -> viaD0, s"$dir/delta_1" -> viaD1)
      .foreach { case (home, picked) =>
        IndexBuilder.deleteDocs(spark, home, picked.toDF("docId")) }
    (dir, cfgT, ids.toSet -- viaBase -- viaD0 -- viaD1)
  }

  private def open(dir: String): SearchReader =
    MultiIndexReader.open(spark, dir, cfg.numBuckets, cacheData = false)

  /** Asserts a view holds each docId once and exactly `live` live. */
  private def assertLive(r: SearchReader, live: Set[Long], clue: String): Unit = {
    val all = r.docmeta.select("docId").as[Long].collect()
    assert(all.length == all.distinct.length, s"$clue: duplicate docIds")
    val got = r.liveOnly(r.docmeta.toDF()).select("docId").as[Long]
      .collect().toSet
    assert(got == live, s"$clue: resurrected ${(got -- live).take(5)}, " +
      s"missing ${(live -- got).take(5)}")
  }

  test("compactTiered keeps a merged source's tombstones for docs outside " +
    "the merge") {
    val (dir, cfgT, live) = tieredFixture("graft-tier-del")
    assertLive(open(dir), live, "before")
    // segsPerTier 1, two at once: the two smallest, delta_0 and delta_1
    val merged = IndexBuilder.compactTiered(spark, dir, cfgT,
      segsPerTier = 1, maxMergeAtOnce = 2)
    assert(merged.exists(_.endsWith("merge_0")), merged.toString)
    assert(!Files.exists(Paths.get(dir, "delta_1")))
    // delta_1's tombstones for base and delta_2 docs outlive delta_1
    assertLive(open(dir), live, "after the merge")
    // the docs tombstoned inside the merge are purged from its data
    val mergedIds = new IndexReader(spark, merged.get, cfg.numBuckets,
      cacheData = false).docmeta.select("docId").as[Long].collect().toSet
    assert(mergedIds == live.filter(id =>
      Seq(0, 1).map(_ + cfg.numDocParts).contains(Ids.docPart(id))))
  }

  test("compactTiered crash states: after the merged segments, after " +
    "replaces.txt, after the done marker; each view stays exact and the " +
    "next compactTiered completes") {
    val (src, cfgT, live) = tieredFixture("graft-crash-src")
    // a completed merge of delta_0 + delta_1 with its sources put back:
    // a crash after the done marker, before the sources were deleted
    val saved = SparkSuite.tmpDir("graft-crash-saved")
    Seq("delta_0", "delta_1").foreach(d =>
      copyTree(Paths.get(src, d), Paths.get(saved, d)))
    assert(IndexBuilder.compactTiered(spark, src, cfgT, segsPerTier = 1,
      maxMergeAtOnce = 2).exists(_.endsWith("merge_0")))
    Seq("delta_0", "delta_1").foreach(d =>
      copyTree(Paths.get(saved, d), Paths.get(src, d)))
    // what of the merged merge_0 each crash leaves on disk
    val states = Seq(
      "after the merged segments" -> Set("replaces.txt", "segments"),
      "after replaces.txt" -> Set("replaces.txt"),
      "after the done marker" -> Paths.get(src, "merge_0").toFile.list().toSet)
    for ((state, left) <- states) {
      val dir = SparkSuite.tmpDir("graft-crash")
      copyTree(Paths.get(src), Paths.get(dir))
      Paths.get(dir, "merge_0").toFile.listFiles()
        .filterNot(f => left(f.getName)).foreach(f => deleteRec(f.toPath))
      assertLive(open(dir), live, s"$state: reader")

      val out = SparkSuite.tmpDir("graft-crash-compact")
      IndexBuilder.compact(spark, dir, out, cfgT)
      assertLive(open(out), live, s"$state: compact")

      val (lo, hi) = IndexBuilder.splitShard(spark, dir,
        SparkSuite.tmpDir("graft-crash-lo"), SparkSuite.tmpDir("graft-crash-hi"),
        4L << 40, cfgT)
      assertLive(new MultiIndexReader(Seq(lo, hi).map(d =>
        new IndexReader(spark, d, cfg.numBuckets, cacheData = false))), live,
        s"$state: splitShard")

      assert(IndexBuilder.compactTiered(spark, dir, cfgT, segsPerTier = 1)
        .isDefined, s"$state: next compactTiered")
      assertLive(open(dir), live, s"$state: after the next compactTiered")
      assert(IndexBuilder.subIndexDirs(dir).size == 2,
        s"$state: ${IndexBuilder.subIndexDirs(dir)}")
      // no crashed merge outlives it: every delta dir left on disk serves
      val deltasOnDisk = new java.io.File(dir).listFiles()
        .filter(f => f.getName.startsWith("delta_") ||
          f.getName.startsWith("merge_")).map(_.getAbsolutePath).toSet
      assert(deltasOnDisk == IndexBuilder.subIndexDirs(dir).toSet - dir,
        s"$state: ${deltasOnDisk.toSeq.sorted}")
    }
  }

  private def copyTree(src: Path, dst: Path): Unit =
    Files.walk(src).sorted().forEach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q)
      else Files.copy(p, q)
    }

  private def deleteRec(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]()).forEach(f =>
        Files.deleteIfExists(f))
}
