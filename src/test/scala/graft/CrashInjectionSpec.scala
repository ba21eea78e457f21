package graft

import java.nio.file.{Files, Paths}

import java.util.concurrent.{ExecutionException, Executors}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, lit}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.index._

/** Crash injection through [[Commit.onStep]]: each mutation is stopped
  * after each of its steps (every file write, stage marker and publish)
  * on a fresh copy of a small index; a rewrite into new indexes only
  * after the steps whose crash states differ. Every crash leaves each index the
  * mutation writes showing its state before the mutation or after it:
  * each doc once, nothing missing, nothing resurrected. For a mutation
  * that changes the index in place, compact and splitShard of the crashed
  * index hold the reader's docs too. Then the next call of the mutation
  * (for an append, the re-delivery of its batch) ends at the state after. */
class CrashInjectionSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  private val cfg = IndexConfig(numDocParts = 2, numBuckets = 4,
    hotDfThreshold = 1000L, saltShift = 6, shufflePartitions = 2)
  /** Parts 0-1 base, 2-3 the fixture's deltas, 4-5 the mutations' docs. */
  private val cfgX = cfg.copy(numDocParts = 6)

  /** The step hook of the calling thread: crash states run in parallel. */
  private val hook = new ThreadLocal[String => Unit] {
    override def initialValue(): String => Unit = _ => ()
  }
  override def beforeAll(): Unit = Commit.onStep = s => hook.get()(s)
  override def afterAll(): Unit = Commit.onStep = _ => ()

  /** Runs `body` with the step hook throwing at step `k` (1-based); returns
    * the steps taken. */
  private def runTo(k: Int)(body: => Unit): Seq[String] = {
    val steps = Seq.newBuilder[String]
    var n = 0
    hook.set { s => steps += s; n += 1; if (n == k) throw new SparkSuite.Crash(s) }
    try body catch { case _: SparkSuite.Crash => } finally hook.remove()
    steps.result()
  }

  /** `check(k)` for every k, on two threads per core of the session: a
    * crash state's small jobs mostly wait on the driver. */
  private def inParallel(ks: Seq[Int])(check: Int => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(2 * spark.sparkContext.defaultParallelism)
    try ks.map(k => pool.submit(new Runnable { def run(): Unit = check(k) }))
      .foreach(f => try f.get() catch { case e: ExecutionException => throw e.getCause })
    finally pool.shutdownNow()
  }

  private def docs(n: Int, seed: Long, part: Int): DataFrame =
    CorpusGen.generate(spark, n, seed, parts = 2).toDF().withColumn("docPart", lit(part))

  private lazy val baseInput = CorpusGen.generate(spark, 60, parts = 2).toDF()

  /** 60 base docs and two 20-doc deltas whose keys repeat base keys,
    * tombstoned through the base and through delta_0 (a delta_1 doc). */
  private lazy val fixture: String = {
    val dir = SparkSuite.tmpDir("graft-crash-fx")
    IndexBuilder.build(spark, baseInput, dir, cfg)
    (0 until 2).foreach(k => IndexBuilder.append(spark, docs(20, 500L + k, 2 + k), dir, k, cfgX))
    IndexBuilder.deleteDocs(spark, dir, Seq(Ids.docId(0, 3), Ids.docId(2, 4)).toDF("docId"))
    IndexBuilder.deleteDocs(spark, s"$dir/delta_0", Seq(Ids.docId(3, 5)).toDF("docId"))
    dir
  }

  private lazy val allIds: Set[Long] =
    MultiIndexReader.open(spark, fixture, cfg.numBuckets, cacheData = false)
      .docmeta.select("docId").as[Long].collect().toSet
  private lazy val before: Set[Long] = allIds --
    Seq(Ids.docId(0, 3), Ids.docId(2, 4), Ids.docId(3, 5))

  private def copy(src: String): String = {
    val dst = SparkSuite.tmpDir("graft-crash")
    Files.walk(Paths.get(src)).sorted().forEach { p =>
      val q = Paths.get(dst).resolve(Paths.get(src).relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
    }
    dst
  }

  /** The live docIds of `r`, after checking that no doc sits in it twice. */
  private def live(r: SearchReader, clue: String): Set[Long] = {
    val all = r.docmeta.select("docId").as[Long].collect()
    assert(all.length == all.distinct.length, s"$clue: duplicate docIds")
    r.liveOnly(r.docmeta.toDF()).select("docId").as[Long].collect().toSet
  }

  /** The live docs of the index at `dir`, or None when it has no commit
    * (opening it then fails, naming the dir). */
  private def view(dir: String, clue: String): Option[Set[Long]] =
    if (Commit.find(dir).isEmpty) {
      val e = intercept[IllegalStateException](
        MultiIndexReader.open(spark, dir, cfg.numBuckets, cacheData = false))
      assert(e.getMessage.contains(dir), clue)
      None
    } else Some(live(MultiIndexReader.open(spark, dir, cfg.numBuckets,
      cacheData = false), clue))

  /** compact and splitShard of `dir` hold exactly `want` live. */
  private def assertRewritesMatch(dir: String, want: Set[Long], clue: String): Unit = {
    val out = IndexBuilder.compact(spark, dir, SparkSuite.tmpDir("graft-crash-c"), cfgX)
    assert(view(out, clue).contains(want), s"$clue: compact")
    val (lo, hi) = IndexBuilder.splitShard(spark, dir, SparkSuite.tmpDir("graft-crash-lo"),
      SparkSuite.tmpDir("graft-crash-hi"), Ids.docId(1, 0), cfgX)
    assert(live(new MultiIndexReader(Seq(lo, hi).map(d =>
      new IndexReader(spark, d, cfg.numBuckets, cacheData = false))), clue) == want,
      s"$clue: splitShard")
  }

  /** Crash `mutate` after each of its steps on a fresh copy of `src`.
    * `outputs` names the indexes it writes, relative to the copy ("" = the
    * copy itself, changed in place); each must then show its state in
    * `was` (None: no commit yet) or in `after`. For an index changed in
    * place, compact and splitShard run on the crash state right before
    * each publish, which leaves the most unpublished files (every crash
    * state shows the generation before or after). A mutation that is not
    * `idempotent` is called again
    * only when the crash came before its commit; `settled` then checks the
    * copy further. A mutation whose next call `reruns` every step (a
    * rewrite into new indexes) is stopped only after its first step and
    * right before and after each publish: every other crash state holds
    * the same uncommitted files, which the next call rewrites. */
  private def crashEverywhere(name: String, src: => String, outputs: Seq[String],
                              was: Seq[Option[Set[Long]]], after: Seq[Set[Long]],
                              idempotent: Boolean = true, reruns: Boolean = false,
                              settled: String => Unit = _ => ())
                             (mutate: String => Unit): Unit = {
    def views(dir: String, clue: String) =
      outputs.map(o => view(Commit.dirOf(dir, o), clue))
    val clean = copy(src)
    val names = runTo(Int.MaxValue)(mutate(clean))
    val steps = names.size
    assert(views(clean, name) == after.map(Some(_)), s"$name: uncrashed")
    def publishes(k: Int) = names.lift(k - 1).exists(_.startsWith("publish"))
    val ks = (1 to steps).filter(k =>
      !reruns || k == 1 || publishes(k) || publishes(k + 1))
    inParallel(ks) { k =>
      val dir = copy(src)
      assert(runTo(k)(mutate(dir)).size == k)
      val clue = s"$name crashed after step $k of $steps (${names(k - 1)})"
      val seen = views(dir, clue)
      seen.indices.foreach(i => assert(seen(i) == was(i) || seen(i).contains(after(i)),
        s"$clue: ${outputs(i)} shows ${seen(i).map(_.size)} docs"))
      if (outputs == Seq("") && was.head.isDefined && publishes(k + 1))
        assertRewritesMatch(dir, seen.head.get, clue)
      if (idempotent || seen != after.map(Some(_))) {
        mutate(dir)
        assert(views(dir, s"$clue: next call") == after.map(Some(_)), s"$clue: next call")
        settled(dir)
      }
    }
  }

  test("build: a crash at any step leaves no commit or the index") {
    crashEverywhere("build", SparkSuite.tmpDir("graft-crash-empty"), Seq(""),
      Seq(None), Seq(allIds.filter(Ids.docPart(_) < 2))) { dir =>
      IndexBuilder.build(spark, baseInput, dir, cfg)
    }
  }

  test("append: a crash at any step hides the batch until re-delivery") {
    crashEverywhere("append", fixture, Seq(""), Seq(Some(before)),
      Seq(before ++ (0 until 20).map(Ids.docId(4, _)))) { dir =>
      IndexBuilder.append(spark, docs(20, 600L, 4), dir, 2L, cfgX)
    }
  }

  test("deleteDocs: a crash at any step commits all tombstones or none") {
    val ids = Seq(Ids.docId(1, 2), Ids.docId(3, 7))
    crashEverywhere("deleteDocs", fixture, Seq(""), Seq(Some(before)),
      Seq(before -- ids)) { dir =>
      IndexBuilder.deleteDocs(spark, s"$dir/delta_0", ids.toDF("docId"))
    }
  }

  test("updateDocs: a crash at any step shows old or new versions") {
    // 6 keys the base and both deltas share, 3 base-only keys
    val keys = ((0 until 6) ++ (40 until 43)).map(i => CorpusGen.row(42L, i))
    val input = keys.map(d => (5, d.repo, d.path, s"v2-${d.commit}", d.lang, d.content + " revised"))
      .toDF("docPart", "repo", "path", "commit", "lang", "content")
    val old = MultiIndexReader.open(spark, fixture, cfg.numBuckets, cacheData = false)
      .docmeta.toDF().join(input.select("repo", "path"), Seq("repo", "path"), "left_semi")
      .select("docId").as[Long].collect().toSet
    assert(old.size == 6 * 3 + 3)
    crashEverywhere("updateDocs", fixture, Seq(""), Seq(Some(before)),
      Seq(before -- old ++ (0 until 9).map(Ids.docId(5, _))),
      idempotent = false) { dir =>
      IndexBuilder.updateDocs(spark, dir, input, cfgX)
    }
  }

  test("compactTiered: a crash at any step keeps every doc exactly once") {
    // the next call ends with one merge, and no crashed merge outlives it
    def settled(dir: String): Unit = {
      val subs = IndexBuilder.subIndexDirs(dir)
      assert(subs.size == 2, subs)
      assert(new java.io.File(dir).list().filter(_.startsWith("merge_"))
        .forall(m => subs.contains(s"$dir/$m")), subs)
    }
    crashEverywhere("compactTiered", fixture, Seq(""), Seq(Some(before)), Seq(before),
      settled = settled) { dir =>
      IndexBuilder.compactTiered(spark, dir, cfgX, segsPerTier = 1, maxMergeAtOnce = 2)
      ()
    }
  }

  test("compact, splitShard and multiPassSplit: crashed children hold no commit") {
    val mid = Ids.docId(1, 0)
    crashEverywhere("compact", fixture, Seq("out"), Seq(None), Seq(before),
      reruns = true) { dir =>
      IndexBuilder.compact(spark, dir, s"$dir/out", cfgX)
    }
    crashEverywhere("splitShard", fixture, Seq("lo", "hi"), Seq(None, None),
      Seq(before.filter(_ < mid), before.filter(_ >= mid)), reruns = true) { dir =>
      IndexBuilder.splitShard(spark, dir, s"$dir/lo", s"$dir/hi", mid, cfgX)
    }
    // seq parts by docId ordinal over every doc, tombstoned or not
    val (p0, p1) = allIds.toSeq.sorted.splitAt(allIds.size / 2)
    crashEverywhere("multiPassSplit", fixture, Seq("p0", "p1"), Seq(None, None),
      Seq(before.intersect(p0.toSet), before.intersect(p1.toSet)), reruns = true) { dir =>
      IndexBuilder.multiPassSplit(spark, dir, Seq(s"$dir/p0", s"$dir/p1"), seq = true, cfgX)
    }
  }

  test("Snapshot create and backup: a crash at any step pins all or nothing") {
    val steps = runTo(Int.MaxValue)(Snapshot.create(spark, copy(fixture), "s")).size
    for (k <- 1 to steps) {
      val dir = copy(fixture)
      runTo(k)(Snapshot.create(spark, dir, "s"))
      IndexBuilder.deleteDocs(spark, dir, Seq(Ids.docId(1, 1)).toDF("docId"))
      if (!Snapshot.list(dir).contains("s")) Snapshot.create(spark, dir, "s")
      else assert(live(Snapshot.openAt(spark, dir, "s", cfg.numBuckets,
        cacheData = false), "snapshot") == before, s"snapshot crashed after step $k")
    }
    val snapped = copy(fixture)
    Snapshot.create(spark, snapped, "s")
    // mutations after the snapshot stay out of its backup
    IndexBuilder.deleteDocs(spark, snapped, Seq(Ids.docId(1, 1)).toDF("docId"))
    IndexBuilder.append(spark, docs(5, 700L, 4).withColumn("path",
      concat(lit("x/"), col("path"))), snapped, 2L, cfgX)
    crashEverywhere("backup", snapped, Seq("bk"), Seq(None), Seq(before)) { dir =>
      Snapshot.backup(dir, "s", s"$dir/bk")
    }
  }
}
