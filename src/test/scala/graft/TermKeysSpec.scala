package graft

import org.apache.spark.sql.functions.lit
import org.scalatest.funsuite.AnyFunSuite

import graft.index.{Commit, IndexBuilder, IndexConfig, TermKeys}

/** Driver-side TermKeys.of must agree bit-for-bit with the codegen'd
  * Column path the merge shuffle uses — a mismatch would make query
  * terms resolve to keys no block carries (silent empty results). */
class TermKeysSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  private val terms = Seq(
    "import", "spark", "println", "a", "", "path:src", "path:main",
    "rev:tropmi", "café", "日本語", "path:日本語", "x" * 300,
    "path:", "content", "path:path:")

  test("Scala TermKeys.of == Column TermKeys.column, bit for bit") {
    val viaColumn = terms.toDF("term")
      .select($"term", TermKeys.column($"term").as("key"))
      .as[(String, Long)].collect().toMap
    terms.foreach { t =>
      assert(viaColumn(t) == TermKeys.of(t), s"term '$t'")
    }
  }

  test("field bit separates path terms; keys are nonnegative") {
    terms.foreach { t =>
      val k = TermKeys.of(t)
      assert(k >= 0L, s"'$t' key must leave the sign bit clear")
      assert(TermKeys.isPath(k) == t.startsWith("path:"), s"'$t'")
    }
  }

  test("no collisions across a realistic vocabulary slice") {
    // all distinct terms of an 800-doc generated corpus must map to
    // distinct keys (the build aborts on collision; this asserts the
    // test corpora can actually build)
    val docs = graft.index.CorpusGen.generate(spark, 800)
    val vocab = docs.flatMap(d =>
        graft.analysis.Analyzer.analyze(d.content, Set.empty).map(_.term))
      .distinct().collect()
    assert(vocab.length > 100)
    assert(vocab.map(TermKeys.of).distinct.length == vocab.length)
  }

  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  test("two terms on one key fail the dictionary rows, naming both") {
    val vocab = Seq((7L, "alpha"), (7L, "beta"), (8L, "gamma")).toDF("key", "term")
    val e = intercept[Exception](IndexBuilder.keyedTerms(vocab).collect())
    assert(messages(e).contains("term-key collision: 'alpha' and 'beta'"), messages(e))
    assert(IndexBuilder.keyedTerms(vocab.where($"term" =!= "beta"))
      .as[(Long, String)].collect().toSet == Set(7L -> "alpha", 8L -> "gamma"))
  }

  test("a build whose vocabulary holds a key collision fails before the " +
    "termstats marker, naming both terms") {
    // two 64-letter terms with one XXH64 hash: after the first 32-byte
    // stripe, each second-stripe lane is solved so both lane accumulators
    // agree (a lane round is a bijection in its input word)
    val a = "collisionprobeaaaaaaaaaaaaaaaaaadlajaswabeaaaazcamaasiaaaaapdwap"
    val b = "xqiklffcddmveheeystxelluacmmwcfzaacauaalaaxndiaanaduaamkcnuaaara"
    assert(a != b && TermKeys.of(a) == TermKeys.of(b))
    val input = Seq(("r", "A.scala", s"import $a"), ("r", "B.scala", s"import $b"))
      .toDF("path0", "path", "content")
      .select($"path0".as("repo"), $"path", lit("c1").as("commit"),
        lit("scala").as("lang"), $"content")
    val dir = SparkSuite.tmpDir("graft-collision")
    val e = intercept[Exception](IndexBuilder.build(spark, input, dir,
      IndexConfig(numDocParts = 2, numBuckets = 2, shufflePartitions = 2)))
    assert(messages(e).contains(a) && messages(e).contains(b), messages(e))
    assert(IndexBuilder.stageDone(dir, "postings_wave_0"))
    assert(!IndexBuilder.stageDone(dir, "termstats") && !IndexBuilder.stageDone(dir, "done"))
    assert(Commit.find(dir).isEmpty)
  }
}
