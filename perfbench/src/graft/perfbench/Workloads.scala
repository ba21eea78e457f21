package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.index._

/** A workload: its inputs, a set-up that runs several times (each time in
  * full: fixture build, reader open, cache fill; the last one serves the
  * run), a timed op the closed-loop client repeats, untimed checks after
  * the loop, and a layer probe that only the traced run makes. */
abstract class Workload(val b: Bench) {
  protected val spark = b.spark

  /** Makes the benchmark's own inputs; not part of set-up time. */
  def inputs(): Unit
  /** One full set-up; repetition `rep` of Main.SetupReps. */
  def setup(rep: Int): Unit
  /** Op `i`; a thrown exception is the op's failure. */
  def op(i: Int): Unit
  def verify(): Unit
  def probe(): Unit

  /** The SparkRecorder kind whose calls carry this workload's builds, and
    * the docs each of those calls indexes. */
  def buildKind: String = "index.build.build"
  def docsPerBuild: Long

  /** On-disk index bytes / UTF-8 content bytes of the served index. */
  def indexBytesPerInputByte: Double

  /** The workload's own end-to-end metrics beyond op latency and set-up. */
  def extraMetrics(opMs: Seq[Double]): Unit

  /** Whether the traced run traces op `i`: every other op, so traced and
    * untraced latencies come from the same run. The seed picks which half,
    * so the first (least warm) op is traced on half the seeds. */
  def tracedOp(i: Int): Boolean = Math.floorMod(i + b.seed, 2L) == 1L

  /** (op index, latency ms) of the ops the workload times; by default the
    * wall time of each whole op as the client loop measured it. */
  def latencies(loop: Seq[(Int, Double)]): Seq[(Int, Double)] = loop
}

object Workload {
  def apply(name: String, b: Bench): Workload = name match {
    case "bulk_build" => new BulkBuild(b)
    case "query_mix" => new QueryMix(b)
    case "ingest_serve" => new IngestServe(b)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val Names = Seq("bulk_build", "query_mix", "ingest_serve")
}

/** Fresh full builds of one corpus, back to back. Nearly all the work is
  * analysis, codec encode and the build shuffle; no search. */
final class BulkBuild(b: Bench) extends Workload(b) {
  val Docs = 12000L
  /** Docs of the set-up build: other rows of the same seeded corpus. */
  val SetupDocs = 3000L
  def docsPerBuild: Long = Docs
  private var corpus, setupCorpus: DataFrame = _
  private var corpusBytes = 0L
  private val built = mutable.ArrayBuffer[(Int, String)]()

  def inputs(): Unit = {
    corpus = Fixture.corpus(spark, b.seed, 0, Docs)
    setupCorpus = Fixture.corpus(spark, b.seed, Docs, SetupDocs)
    corpusBytes = Fixture.contentBytes(b.seed, 0, Docs)
  }

  /** A small build and a reader opened on it. The first one in a fresh
    * JVM pays class loading and JIT, so no timed build does. */
  def setup(rep: Int): Unit = {
    val dir = b.freshDir("setup-ix")
    b.build(setupCorpus, dir, Fixture.cfg(SetupDocs), kind = "index.build.setup")
    val r = b.rec("index.reader.open") {
      val r = new IndexReader(spark, dir, Fixture.Buckets, cacheData = false)
      r.collStats; r
    }
    require(r.collStats.maxDoc == SetupDocs, s"set-up build holds ${r.collStats.maxDoc} docs")
  }

  def op(i: Int): Unit = {
    val dir = b.freshDir("ix")
    b.build(corpus, dir, Fixture.cfg(Docs))
    built += ((i, dir))
  }

  def verify(): Unit = built.foreach { case (i, dir) =>
    val r = new IndexReader(spark, dir, Fixture.Buckets, cacheData = false)
    val bad = CheckIndex.run(r).collect().filter(_.violations != 0L)
    if (bad.nonEmpty)
      b.report.failOp(i, s"build#$i", "CheckIndex: " +
        bad.map(c => s"${c.check}=${c.violations}").mkString(", "))
    else if (r.collStats.maxDoc != Docs)
      b.report.failOp(i, s"build#$i", s"maxDoc ${r.collStats.maxDoc} != $Docs")
  }

  def probe(): Unit = built.lastOption.foreach { case (_, dir) =>
    val reader = b.rec("index.reader.open") {
      val r = new IndexReader(spark, dir, Fixture.Buckets); r.collStats; r
    }
    val qs = Queries.draw(new IndexReader(spark, dir, Fixture.Buckets, cacheData = false),
      new scala.util.Random(b.seed), 2)
    LayerProbe.queries(b, reader, dir, qs, fresh = true)
    LayerProbe.maintain(b, dir, Docs)
  }

  def indexBytesPerInputByte: Double =
    Stats.median(built.map(d => Fixture.dirBytes(d._2).toDouble / corpusBytes))

  def extraMetrics(opMs: Seq[Double]): Unit = {
    b.report.put("build_docs_per_s", Docs / (Stats.median(opMs) / 1000),
      "docs/s", opMs.size)
  }
}

/** One closed-loop client sending a seeded mix of top-10 queries to a warm,
  * cached single index. Nearly all the work is search, reader and decode. */
final class QueryMix(b: Bench) extends Workload(b) {
  val Docs = 5000L
  /** Distinct queries per class; the client sends them in a seeded order,
    * the classes in turn, and repeats one only after the whole pool. */
  val PerClass = 16
  def docsPerBuild: Long = Docs
  private var corpus: DataFrame = _
  private var corpusBytes = 0L
  private var dir: String = _
  private var reader: IndexReader = _
  private var queries: Seq[BenchQuery] = Nil
  private var order: Array[Int] = Array.emptyIntArray
  private val answers = mutable.ArrayBuffer[(Int, Int, Array[(Long, Float)])]()

  def inputs(): Unit = {
    corpus = Fixture.corpus(spark, b.seed, 0, Docs)
    corpusBytes = Fixture.contentBytes(b.seed, 0, Docs)
  }

  /** On an empty cache: the fixture build, the reader open, the first
    * (cache-filling) query, the term statistics of every query term (the
    * reader memoizes them, so a warm reader answers a query without a
    * lookup job whichever terms it holds) and one warm-up query per class. */
  def setup(rep: Int): Unit = {
    spark.catalog.clearCache()
    dir = b.freshDir("ix")
    b.build(corpus, dir, Fixture.cfg(Docs))
    if (rep == 0) b.untimed(drawQueries())
    reader = b.rec("index.reader.open") {
      val r = new IndexReader(spark, dir, Fixture.Buckets); r.collStats; r
    }
    b.firstQuery(queries.head, reader)
    b.rec("index.reader.termstats_fill")(reader.termStats(queries.flatMap(_.terms).distinct))
    Queries.Classes.indices.foreach(c =>
      Queries.execute(b, queries(c * PerClass + 1), reader, record = false))
  }

  /** The pool, drawn from the fixture's term dictionary (the same on every
    * set-up: the corpus and the build are the same). */
  private def drawQueries(): Unit = {
    val rng = new scala.util.Random(b.seed)
    queries = Queries.draw(new IndexReader(spark, dir, Fixture.Buckets,
      cacheData = false), rng, PerClass)
    val perm = Queries.Classes.map(_ => rng.shuffle((0 until PerClass).toVector))
    order = Array.tabulate(Queries.Classes.length * PerClass) { i =>
      val c = i % Queries.Classes.length
      c * PerClass + perm(c)(i / Queries.Classes.length)
    }
  }

  /** Every other round of the four classes, so both halves hold each class;
    * the seed picks which half. */
  override def tracedOp(i: Int): Boolean =
    Math.floorMod(i / Queries.Classes.length + b.seed, 2L) == 1L

  def op(i: Int): Unit = {
    val qi = order(i % order.length)
    answers += ((i, qi, Queries.execute(b, queries(qi), reader)))
  }

  /** Every answer against the driver-side reference of its query. */
  def verify(): Unit = {
    val expected = Reference.topK(reader, answers.map(a => queries(a._2)).distinct.toSeq,
      Queries.K)
    answers.foreach { case (i, qi, got) =>
      val want = expected(queries(qi))
      if (!Queries.same(got, want))
        b.report.failOp(i, s"query#$i ${queries(qi).cls} '${queries(qi).text}'",
          s"got ${Queries.show(got)} expected ${Queries.show(want)}")
    }
  }

  /** The layer probe on the first two queries of each class. */
  def probe(): Unit = {
    LayerProbe.queries(b, reader, dir, queries.grouped(PerClass).flatMap(_.take(2)).toSeq)
    LayerProbe.maintain(b, dir, Docs)
  }

  def indexBytesPerInputByte: Double =
    Fixture.dirBytes(dir).toDouble / corpusBytes

  def extraMetrics(opMs: Seq[Double]): Unit = {
    b.report.put("query_p50_ms", Stats.median(opMs), "ms", opMs.size)
    b.report.put("query_p90_ms", Stats.percentile(opMs, 0.9), "ms", opMs.size)
    b.report.put("cache_mb", b.cacheMb, "MB")
  }
}

/** Writes alongside reads. Each step re-versions a seeded batch of keys
  * through updateDocs on a fresh doc-part, tombstones a few other docs,
  * runs tiered compaction, reopens an uncached multi-index reader, checks
  * that the new version is visible, and sends a few queries. */
final class IngestServe(b: Bench) extends Workload(b) {
  val BaseDocs = 10000L
  val Batch = 500
  val DeletesPerStep = 5
  val QueriesPerStep = 4
  /** Deltas per tier before a merge. The engine's default of 10 would need
    * 11 steps per merge cycle; 2 gives several cycles in one run. */
  val SegsPerTier = 2
  private var corpus: DataFrame = _
  private var dir: String = _
  private var reader: SearchReader = _
  private var queries: Seq[BenchQuery] = Nil
  private var deletable: Array[(Long, Int)] = Array.empty
  private var liveAtStart = 0L
  private var deleted = 0
  /** (repo, path) -> the commit of the newest version this run wrote. */
  private val newest = mutable.LinkedHashMap[(String, String), String]()
  private val visibleMs = mutable.ArrayBuffer[(Int, Double)]()
  /** UTF-8 content bytes of the live docs: base, minus deletes, with each
    * re-versioned key at its newest content. */
  private var liveBytes = 0L
  private val keyBytes = mutable.HashMap[(String, String), Long]()
  private val warmQueryMs = mutable.ArrayBuffer[Double]()
  private var updatedDocs = 0L
  private var stepNs = 0L
  private var steps = 0
  private val rng = new scala.util.Random(b.seed ^ 0x5DEECE66DL)

  private def cfgFor(parts: Int): IndexConfig =
    Fixture.cfg(Batch).copy(numDocParts = parts)

  def inputs(): Unit =
    corpus = Fixture.corpus(spark, b.seed, 0, BaseDocs)

  /** The base build, an uncached reader open and the first query. */
  def setup(rep: Int): Unit = {
    dir = b.freshDir("ix")
    b.build(corpus, dir, Fixture.cfg(BaseDocs), kind = "index.build.base")
    reader = open()
    b.untimed(drawInputs())
    b.firstQuery(queries(rep % queries.length), reader)
  }

  /** Queries and the docs to delete, from the base index: rows with
    * i % 10 == 9 are never re-versioned, and deletes draw from them. */
  private def drawInputs(): Unit = {
    queries = Queries.draw(reader, new scala.util.Random(b.seed), 3)
    import org.apache.spark.sql.functions.{col, substring_index}
    val rowOf = """f(\d+)\.""".r.unanchored
    deletable = new scala.util.Random(b.seed).shuffle(reader.docmeta.toDF()
      .where(substring_index(col("path"), ".", 1).endsWith("9"))
      .select("docId", "path").collect()
      .map(r => (r.getLong(0), r.getString(1) match { case rowOf(n) => n.toInt }))
      .sortBy(_._1).toSeq).toArray
    liveAtStart = BaseDocs
    liveBytes = Fixture.contentBytes(b.seed, 0, BaseDocs)
  }

  private def open(): SearchReader = b.rec("index.reader.open") {
    val r = MultiIndexReader.open(spark, dir, Fixture.Buckets, cacheData = false)
    r.collStats; r
  }

  def op(i: Int): Unit = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val part = Fixture.DocParts + steps
    steps += 1
    val rows = Iterator.continually(rng.nextInt(BaseDocs.toInt))
      .filter(_ % 10 != 9).distinct.take(Batch).toSeq.map { r =>
        val d = CorpusGen.row(b.seed, r)
        val content = CorpusGen.content(b.seed + 1 + i, r)._2
        (r, d.repo, d.path, f"v$i%04d-${r}%06d", d.lang, content)
      }
    val input = rows.map { case (_, rp, pa, c, l, text) => (part, rp, pa, c, l, text) }
      .toDF("docPart", "repo", "path", "commit", "lang", "content")
    val cfg = cfgFor(part + 1)
    IndexBuilder.resetStageTimes()
    b.rec("index.maintain.update")(IndexBuilder.updateDocs(spark, dir, input, cfg))
    b.stageTimes += ((buildKind, IndexBuilder.lastStageTimes))
    val dels = deletable.slice(deleted, deleted + DeletesPerStep)
    b.rec("index.maintain.delete")(
      IndexBuilder.deleteDocs(spark, dir, dels.map(_._1).toSeq.toDF("docId")))
    deleted += dels.length
    dels.foreach(d => liveBytes -= utf8(CorpusGen.row(b.seed, d._2).content))
    LayerProbe.compactTiered(b, dir, cfg, SegsPerTier)
    reader = open()
    val (_, repo, path, commit, _, _) = rows.head
    val got = b.rec("index.reader.realtime_get")(
      reader.realtimeGet(repo, path).select("commit").collect().map(_.getString(0)))
    val visible = (System.nanoTime() - t0) / 1e6
    rows.foreach { case (r, rp, pa, c, _, text) =>
      newest((rp, pa)) = c
      val old = keyBytes.getOrElse((rp, pa), utf8(CorpusGen.row(b.seed, r).content))
      keyBytes((rp, pa)) = utf8(text)
      liveBytes += utf8(text) - old
    }
    updatedDocs += rows.size
    b.subIndexes += IndexBuilder.subIndexDirs(dir).size
    if (!got.sameElements(Seq(commit)))
      b.report.failOp(i, s"step#$i realtimeGet",
        s"($repo, $path) returned ${got.mkString(",")}, expected $commit")
    else visibleMs += ((i, visible))
    b.firstQuery(queries(rng.nextInt(queries.length)), reader)
    (1 until QueriesPerStep).foreach { _ =>
      val q0 = System.nanoTime()
      Queries.execute(b, queries(rng.nextInt(queries.length)), reader)
      warmQueryMs += (System.nanoTime() - q0) / 1e6
    }
    stepNs += System.nanoTime() - t0
  }

  /** Every re-versioned key's newest live version is the last commit this
    * run wrote, and the live count moved only by the run's own deletes. */
  def verify(): Unit = {
    import org.apache.spark.sql.functions.{col, max, struct}
    import spark.implicits._
    val r = MultiIndexReader.open(spark, dir, Fixture.Buckets, cacheData = false)
    val live = r.liveOnly(r.docmeta.toDF())
    val latest = live
      .join(newest.keys.toSeq.toDF("repo", "path"), Seq("repo", "path"), "left_semi")
      .groupBy("repo", "path").agg(max(struct(col("docId"), col("commit"))).as("v"))
      .select("repo", "path", "v.commit").as[(String, String, String)]
      .collect().map(t => (t._1, t._2) -> t._3).toMap
    b.report.op("final versions") {
      val wrong = newest.filter { case (k, c) => !latest.get(k).contains(c) }
      if (wrong.nonEmpty)
        b.report.fail("final versions", s"${wrong.size} of ${newest.size} keys " +
          s"not at their newest commit, e.g. ${wrong.head}")
    }
    b.report.op("final live count") {
      val n = live.count()
      if (n != liveAtStart - deleted)
        b.report.fail("final live count", s"$n live docs, expected " +
          s"${liveAtStart - deleted} ($liveAtStart - $deleted deleted)")
    }
  }

  /** Queries and codec on the served reader; a merge and a no-op
    * compaction when the loop was too short to make one of each. */
  def probe(): Unit = {
    LayerProbe.queries(b, reader, dir, queries)
    val cfg = cfgFor(Fixture.DocParts + steps)
    if (b.compactMs.isEmpty) LayerProbe.compactTiered(b, dir, cfg, 0)
    if (b.noopCompactMs.isEmpty) LayerProbe.compactTiered(b, dir, cfg, 10)
  }

  override def buildKind: String = "index.maintain.update"
  def docsPerBuild: Long = Batch

  private def utf8(s: String): Long =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong

  def indexBytesPerInputByte: Double = Fixture.dirBytes(dir).toDouble / liveBytes

  def extraMetrics(opMs: Seq[Double]): Unit = {
    b.report.put("visible_p50_s", Stats.median(opMs) / 1000, "s", opMs.size)
    b.report.put("ingest_docs_per_s", updatedDocs / math.max(1e-9, stepNs / 1e9),
      "docs/s", visibleMs.size)
    b.report.put("query_p50_ms", Stats.median(warmQueryMs), "ms", warmQueryMs.size)
    b.report.put("query_p90_ms", Stats.percentile(warmQueryMs, 0.9), "ms",
      warmQueryMs.size)
  }

  /** The op latency of this workload is its visibility latency. */
  override def latencies(loop: Seq[(Int, Double)]): Seq[(Int, Double)] =
    visibleMs.toSeq
}
