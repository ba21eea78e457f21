package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.index._
import graft.search._

/** Index-free percolation (MemoryIndex analog): the per-document matcher
  * must agree exactly with the indexed search path on every supported
  * query shape, and the same operator must run over a stream. */
class PercolatorSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  private val cfg = IndexConfig(numDocParts = 4, numBuckets = 8,
    hotDfThreshold = 400L, saltShift = 6, shufflePartitions = 8)

  private val saved: Seq[(String, BoolQ)] = Seq(
    "must_and" -> BoolQ(Seq(
      (Occur.Must, TermQ("spark")), (Occur.Must, TermQ("query")))),
    "msm2" -> BoolQ(Seq(
      (Occur.Should, TermQ("merge")), (Occur.Should, TermQ("filter")),
      (Occur.Should, TermQ("reduce"))), minShouldMatch = 2),
    "with_not" -> BoolQ(Seq(
      (Occur.Must, TermQ("merge")), (Occur.MustNot, TermQ("void")))),
    "prefix" -> BoolQ(Seq((Occur.Must, PrefixQ("sta")),
      (Occur.Must, TermQ("index")))),
    "phrase" -> BoolQ(Seq(
      (Occur.Must, PhraseQ(Seq("import", "return"), Seq(0, 1))))),
    "wild_fuzzy" -> BoolQ(Seq(
      (Occur.Should, WildcardQ("d?taset")),
      (Occur.Should, FuzzyQ("mrege", 2))), minShouldMatch = 2),
    "multiphrase" -> BoolQ(Seq(
      (Occur.Must, MultiPhraseQ(Seq(Seq("import", "merge"), Seq("return")),
        Seq(0, 1))))))

  private lazy val input = CorpusGen.generate(spark, 300).toDF()
  private lazy val docs = input
    .withColumn("doc_id",
      regexp_extract(col("path"), "f(\\d+)", 1).cast("long"))
    .withColumnRenamed("content", "text")

  test("MemoryIndex matcher == indexed search path for every saved query") {
    val dir = SparkSuite.tmpDir("graft-perc")
    IndexBuilder.build(spark, input, dir, cfg)
    val r = new IndexReader(spark, dir, cfg.numBuckets, cacheData = false)
    val idOf = r.docmeta.toDF()
      .select(col("docId"),
        regexp_extract(col("path"), "f(\\d+)", 1).cast("long").as("doc_id"))

    val got = Percolator.percolate(docs, saved)
      .as[(String, Long)].collect().toSet
    val want = saved.flatMap { case (qid, q) =>
      new JoinScorer(r).scores(q).toDF("docId", "score")
        .join(idOf, "docId").select("doc_id")
        .as[Long].collect().map(qid -> _)
    }.toSet
    assert(got == want)
    assert(saved.map(_._1).forall(qid => got.exists(_._1 == qid)),
      "every saved query should match at least one doc in this corpus")
  }

  test("randomized query sweep: matcher == indexed path (shared-code-free)") {
    val dir = SparkSuite.tmpDir("graft-perc-rand")
    IndexBuilder.build(spark, input, dir, cfg)
    val r = new IndexReader(spark, dir, cfg.numBuckets, cacheData = false)
    val idOf = r.docmeta.toDF()
      .select(col("docId"),
        regexp_extract(col("path"), "f(\\d+)", 1).cast("long").as("doc_id"))
    val vocab = Vector("import", "return", "val", "def", "class", "object",
      "spark", "merge", "filter", "index", "query", "dataset", "void",
      "println", "reduce")
    val rng = new scala.util.Random(7L)
    def randClause(): Query = rng.nextInt(6) match {
      case 0 => TermQ(vocab(rng.nextInt(vocab.length)))
      case 1 => PrefixQ(vocab(rng.nextInt(vocab.length)).take(3))
      case 2 => WildcardQ(vocab(rng.nextInt(vocab.length)).take(2) + "*t")
      case 3 => FuzzyQ(vocab(rng.nextInt(vocab.length)).drop(1), 2)
      case 4 => PhraseQ(Seq(vocab(rng.nextInt(vocab.length)),
        vocab(rng.nextInt(vocab.length))), Seq(0, 1))
      case _ => RangeQ("d", "n")
    }
    val randQs: Seq[(String, BoolQ)] = (0 until 12).map { i =>
      val n = 1 + rng.nextInt(3)
      val clauses = (0 until n).map { _ =>
        val occ = rng.nextInt(4) match {
          case 0 => Occur.Must
          case 1 | 2 => Occur.Should
          case _ => Occur.MustNot
        }
        (occ: Occur, randClause())
      }
      val nShould = clauses.count(_._1 == Occur.Should)
      val msm = if (nShould >= 2 && rng.nextBoolean()) 2 else 0
      s"rq$i" -> BoolQ(clauses, minShouldMatch = msm)
    }
    val got = Percolator.percolate(docs, randQs)
      .as[(String, Long)].collect().toSet
    val want = randQs.flatMap { case (qid, q) =>
      new JoinScorer(r).scores(q).toDF("docId", "score")
        .join(idOf, "docId").select("doc_id")
        .as[Long].collect().map(qid -> _)
    }.toSet
    assert(got == want)
    assert(want.nonEmpty, "sweep should produce some matches")
    // pure-negative saved query matches NOTHING (Lucene semantics)
    val pn = Percolator.percolate(docs,
      Seq("neg" -> BoolQ(Seq((Occur.MustNot, TermQ("import"))))))
    assert(pn.count() == 0L)
  }

  test("same operator percolates a document stream (micro-batch == batch)") {
    implicit val sq = spark.sqlContext
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String)]
    val streamDocs = mem.toDF().toDF("doc_id", "text", "lang")
    val q = Percolator.percolate(streamDocs, saved)
      .writeStream.format("memory").queryName("perc")
      .outputMode("append").start()
    val rows = docs.select("doc_id", "text", "lang")
      .as[(Long, String, String)].collect().toSeq
    mem.addData(rows: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("perc").as[(String, Long)].collect().toSet
    val batch = Percolator.percolate(docs, saved)
      .as[(String, Long)].collect().toSet
    assert(streamed == batch)
  }
}
