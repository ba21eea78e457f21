package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.codec.{PostingBlock, PostingsCodec}
import graft.index._
import graft.search._

/** State shared by the workloads of one run: the session, the seed, the
  * recorder and tracer, and the run's scratch directory. */
final class Bench(val spark: SparkSession, val seed: Long, val work: Path,
                  val traced: Boolean) {
  val tracer = new Tracer
  val rec = new SparkRecorder(spark.sparkContext, tracer)
  val report = new Report
  private var dirs = 0

  def freshDir(name: String): String = {
    dirs += 1
    work.resolve(s"$name-$dirs").toString
  }

  /** (recorder kind, per-stage wall times) of every build. */
  val stageTimes = mutable.ArrayBuffer[(String, Map[String, Double])]()
  /** Tiered-compaction calls that merged, and those that had nothing to do. */
  val compactMs, noopCompactMs = mutable.ArrayBuffer[Double]()
  /** Time spent inside `untimed` blocks; set-up subtracts it. */
  private var untimedNs = 0L
  def untimedNanos: Long = untimedNs

  /** Benchmark bookkeeping inside a timed phase (drawing queries from a
    * fresh index): runs `body` and keeps its time out of the phase. */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally untimedNs += System.nanoTime() - t0
  }

  /** Spark storage memory held after set-up, in MB. */
  var cacheMb = 0.0
  /** Sub-indexes a reader spans, sampled after each maintenance round. */
  val subIndexes = mutable.ArrayBuffer[Double]()

  /** One recorded build: stage times come from the engine's own table. */
  def build(input: DataFrame, dir: String, cfg: IndexConfig,
            kind: String = "index.build.build"): String = {
    IndexBuilder.resetStageTimes()
    val out = rec(kind)(IndexBuilder.build(spark, input, dir, cfg))
    stageTimes += ((kind, IndexBuilder.lastStageTimes))
    out
  }

  /** The first query after a reader opens: it fills the reader's caches,
    * so it is timed on its own and never enters the warm samples. */
  def firstQuery(q: BenchQuery, reader: SearchReader): Array[(Long, Float)] =
    rec("index.reader.first_query")(Queries.execute(this, q, reader, record = false))
}

object Fixture {
  val DocParts = 8
  val Buckets = 8

  def cfg(docs: Long): IndexConfig = IndexConfig(
    numDocParts = DocParts, numBuckets = Buckets,
    shufflePartitions = DocParts, hotDfThreshold = math.max(1L, docs / 2))

  /** CorpusGen rows [from, from + n): a pure function of (seed, row), so
    * every build regenerates the same input (generation is ~2% of a build). */
  def corpus(spark: SparkSession, seed: Long, from: Long, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(from, from + n, 1, DocParts).map(i => CorpusGen.row(seed, i)).toDF()
  }

  /** UTF-8 content bytes of CorpusGen rows [from, from + n). */
  def contentBytes(seed: Long, from: Long, n: Long): Long =
    (from until from + n).iterator.map(i =>
      CorpusGen.row(seed, i).content.getBytes(StandardCharsets.UTF_8).length.toLong).sum

  def dirBytes(dir: String): Long = {
    val s = Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

}

/** One query of the mix: its class and its clauses (occur, term, boost),
  * from which the query text is rendered. */
final case class BenchQuery(cls: String, clauses: Seq[(Occur, String, Float)]) {
  val text: String = clauses.map { case (o, t, boost) =>
    val prefix = o match {
      case Occur.Must => "+"
      case Occur.MustNot => "-"
      case _ => ""
    }
    prefix + t + (if (boost == 1f) "" else s"^${boost.toInt}")
  }.mkString(" ")
  lazy val parsed: BoolQ = QueryParser.parse(text)
  def terms: Seq[String] = clauses.map(_._2)
}

object Queries {
  val Classes = Seq("wand_hot", "wand_rare", "wand_and", "join")
  val K = 10

  /** Draws `perClass` distinct queries per class from the reader's term
    * dictionary, grouped by document frequency: hot (df > 50% of docs),
    * rare (df <= 0.5%) and mid. Only terms the query parser keeps as they
    * are (no stop word, no split) are drawn. */
  def draw(reader: SearchReader, rng: scala.util.Random,
           perClass: Int): Seq[BenchQuery] = {
    import org.apache.spark.sql.functions.col
    val maxDoc = reader.collStats.maxDoc.toDouble
    val dict = reader.termStatsDf.where(!col("term").startsWith("path:"))
      .select("term", "df").collect().map(r => (r.getString(0), r.getLong(1)))
      .filter { case (t, _) => t.matches("[a-z0-9]+") }
      .sortBy(_._1)
    def keeps(t: String): Boolean =
      QueryParser.parse(t).clauses == Seq((Occur.Should, TermQ(t)))
    val hot = dict.filter(_._2 > maxDoc * 0.5).map(_._1)
    val rare = dict.filter(_._2 <= maxDoc * 0.005).map(_._1)
    val mid = dict.filter(d => d._2 > maxDoc * 0.005 && d._2 <= maxDoc * 0.5)
      .map(_._1)
    require(hot.length >= 4 && mid.length >= 4 && rare.length >= 4,
      s"term classes too small: hot ${hot.length}, mid ${mid.length}, rare ${rare.length}")
    def pick(from: Array[String], n: Int): Seq[String] =
      rng.shuffle(from.toSeq).iterator.filter(keeps).take(n).toList
    def should(ts: Seq[String]) = ts.map(t => (Occur.Should: Occur, t, 1f))
    val candidates = Iterator.continually {
      val cls = Classes(rng.nextInt(Classes.length))
      val clauses = cls match {
        case "wand_hot" => should(pick(hot, 2 + rng.nextInt(3)))
        case "wand_rare" => should(pick(rare, 2 + rng.nextInt(3)))
        case "wand_and" =>
          Seq((Occur.Must, pick(mid, 1).head, 1f), (Occur.Must, pick(hot, 1).head, 1f))
        case "join" =>
          val Seq(h, m1, m2) = pick(hot, 1) ++ pick(mid, 2)
          Seq((Occur.Must, h, 1f), (Occur.MustNot, m1, 1f), (Occur.Should, m2, 2f),
            (Occur.Should, pick(rare, 1).head, 1f))
      }
      BenchQuery(cls, clauses)
    }
    val byClass = mutable.LinkedHashMap[String, mutable.LinkedHashSet[BenchQuery]]()
    Classes.foreach(c => byClass(c) = mutable.LinkedHashSet())
    while (byClass.values.exists(_.size < perClass)) {
      val q = candidates.next()
      if (byClass(q.cls).size < perClass) byClass(q.cls) += q
    }
    byClass.values.flatten.toSeq
  }

  /** One top-10 query through the engine's public calls: parse, then the
    * WAND scorer for pure term queries or the join scorer for boolean
    * queries; `collect()` is part of the timed call. With `record` off
    * the calls are traced but left out of the per-call samples (cold
    * first queries and warm-up). */
  def execute(b: Bench, q: BenchQuery, reader: SearchReader,
              record: Boolean = true): Array[(Long, Float)] = {
    import b.spark.implicits._
    def call[T](kind: String)(body: => T): T =
      if (record) b.rec(kind)(body) else b.tracer(kind)(body)
    val parsed = call("search.parse")(QueryParser.parse(q.text))
    if (q.cls == "join")
      call("search.join")(new JoinScorer(reader).topK(parsed, K)
        .as[(Long, Float)].collect())
    else {
      val terms = parsed.clauses.collect { case (_, TermQ(t)) => t }
      val conj = parsed.clauses.forall(_._1 == Occur.Must)
      call(s"search.${q.cls}")(new WandScorer(reader).topK(terms, K, conj)
        .as[(Long, Float)].collect())
    }
  }

  def same(a: Array[(Long, Float)], e: Array[(Long, Float)]): Boolean =
    a.length == e.length && a.indices.forall { i =>
      a(i)._1 == e(i)._1 &&
        java.lang.Float.floatToIntBits(a(i)._2) == java.lang.Float.floatToIntBits(e(i)._2)
    }

  def show(a: Array[(Long, Float)]): String =
    a.map { case (d, s) => s"$d:$s" }.mkString("[", ",", "]")
}

/** The reference answers the query mix is checked against: exact BM25
  * top-k computed on the driver from the decoded postings of every query
  * term. It uses the engine's BM25 formula and codec (BM25.score per
  * term, clause scores summed left to right in clause order, the engine's
  * documented float order) but none of the scorers' code: no rewrite, no
  * join, no block-max pruning. One Spark job fetches the blocks of every
  * term of every query. Deletes are not applied: the served index has
  * none. */
object Reference {
  def topK(reader: SearchReader, qs: Seq[BenchQuery],
           k: Int): Map[BenchQuery, Array[(Long, Float)]] = {
    val terms = qs.flatMap(_.terms).distinct
    val stats = reader.termStats(terms)
    val maxDoc = reader.collStats.maxDoc
    val postings: Map[String, Map[Long, (Int, Byte)]] =
      reader.blocks(terms).collect().groupBy(_.term).map { case (t, bs) =>
        t -> bs.iterator.flatMap { b =>
          val (docs, tfs, nrms) = PostingsCodec.decodeDocs(PostingBlock(b.term,
            b.firstDoc, b.lastDoc, b.count, b.maxTf, b.sumTf, b.maxPartial,
            b.docBytes, b.nrmBytes, b.posBytes))
          docs.indices.iterator.map(i => docs(i) -> ((tfs(i), nrms(i))))
        }.toMap
      }.withDefaultValue(Map.empty)
    val caches = terms.map(t =>
      t -> reader.normCacheFor(IndexBuilder.fieldOfTerm(t))).toMap

    def answer(q: BenchQuery): Array[(Long, Float)] = {
      def docsOf(o: Occur) = q.clauses.filter(_._1 == o).map(c => postings(c._2).keySet)
      val must = docsOf(Occur.Must)
      val matching =
        (if (must.nonEmpty) must.reduce(_ intersect _) else docsOf(Occur.Should).reduce(_ union _))
          .filterNot(d => docsOf(Occur.MustNot).exists(_.contains(d)))
      matching.toArray.map { d =>
        var s = 0f
        q.clauses.foreach { case (o, t, boost) =>
          if (o != Occur.MustNot) postings(t).get(d).foreach { case (tf, norm) =>
            val wv = BM25.weightValue(BM25.idf(stats(t).df, maxDoc), boost)
            s += BM25.score(wv, tf.toFloat, caches(t), norm)
          }
        }
        (d, s)
      }.sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)).take(k)
    }
    qs.map(q => q -> answer(q)).toMap
  }
}
