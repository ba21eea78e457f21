package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.index._
import graft.operators.{AtomicUpdate, FieldOp}
import graft.search._

/** Solr atomic-update merge semantics (reference
  * AtomicUpdateDocumentMerger.java:77-214), each documented quirk pinned:
  * remove drops the FIRST occurrence only, removeregex full-matches and
  * drops ALL occurrences, inc parses the FIRST value and collapses the
  * field to a scalar (missing field -> set), set-to-empty removes the
  * field, unknown ops are ignored, id-field updates are rejected, and a
  * missing document upserts from empty. */
class AtomicUpdateSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  import spark.implicits._

  private def ops(xs: (String, String, Seq[String])*): Seq[FieldOp] =
    xs.zipWithIndex.map { case ((f, o, vs), i) => FieldOp(i.toLong, f, o, vs) }

  test("remove drops only the first occurrence of each requested value") {
    val out = AtomicUpdate.applyOps(
      Map("tags" -> Seq("a", "b", "a", "b", "a")),
      ops(("tags", "remove", Seq("a", "b"))), "id", Map.empty)
    // [a,b,a,b,a] -remove first 'a'-> [b,a,b,a] -remove first 'b'-> [a,b,a]
    assert(out("tags") == Seq("a", "b", "a"))
  }

  test("remove of a twice-requested value drops two occurrences") {
    val out = AtomicUpdate.applyOps(
      Map("tags" -> Seq("a", "a", "a")),
      ops(("tags", "remove", Seq("a", "a"))), "id", Map.empty)
    assert(out("tags") == Seq("a"))
  }

  test("removeregex full-matches (not find) and drops all occurrences") {
    val out = AtomicUpdate.applyOps(
      Map("tags" -> Seq("extra", "x-extra", "extra", "keep")),
      ops(("tags", "removeregex", Seq("ex.*"))), "id", Map.empty)
    // 'x-extra' CONTAINS a match but does not fully match -> survives
    assert(out("tags") == Seq("x-extra", "keep"))
  }

  test("inc parses the first value and collapses a multivalued field") {
    val out = AtomicUpdate.applyOps(
      Map("n" -> Seq("10", "99")),
      ops(("n", "inc", Seq("7"))), "id", Map("n" -> "long"))
    assert(out("n") == Seq("17"))
  }

  test("inc on a missing field sets the increment; double typing honored") {
    val out = AtomicUpdate.applyOps(
      Map("d" -> Seq("1.5")),
      ops(("missing", "inc", Seq("5")), ("d", "inc", Seq("0.25"))),
      "id", Map("d" -> "double"))
    assert(out("missing") == Seq("5"))
    assert(out("d") == Seq("1.75"))
  }

  test("set replaces wholesale; set-to-empty removes the field") {
    val out = AtomicUpdate.applyOps(
      Map("a" -> Seq("1", "2"), "b" -> Seq("x")),
      ops(("a", "set", Seq("9")), ("b", "set", Seq.empty)), "id", Map.empty)
    assert(out("a") == Seq("9"))
    assert(!out.contains("b"))
  }

  test("add appends, creating the field when missing; unknown op ignored") {
    val out = AtomicUpdate.applyOps(
      Map("a" -> Seq("1")),
      ops(("a", "add", Seq("2")), ("fresh", "add", Seq("x")),
          ("a", "frobnicate", Seq("zzz"))), "id", Map.empty)
    assert(out("a") == Seq("1", "2"))
    assert(out("fresh") == Seq("x"))
  }

  test("updating the unique-key field is rejected (Solr 400)") {
    intercept[IllegalArgumentException] {
      AtomicUpdate.applyOps(Map.empty,
        ops(("id", "set", Seq("2"))), "id", Map.empty)
    }
  }

  test("merge: updates join docs; missing doc upserts; others pass through") {
    val docs = Seq(
      ("d1", Map("lang" -> Seq("en"), "tags" -> Seq("a", "b", "a"))),
      ("d2", Map("lang" -> Seq("de")))
    ).toDF("id", "fields")
    val updates = Seq(
      ("d1", 1L, "lang", "set", Seq("fr")),
      ("d1", 2L, "tags", "remove", Seq("a")),
      ("d3", 1L, "views", "inc", Seq("4"))
    ).toDF("id", "seq", "field", "op", "values")
    val out = AtomicUpdate.merge(docs, updates)
      .as[(String, Map[String, Seq[String]])].collect().toMap
    assert(out("d1")("lang") == Seq("fr"))
    assert(out("d1")("tags") == Seq("b", "a"))
    assert(out("d2")("lang") == Seq("de")) // untouched passthrough
    assert(out("d3")("views") == Seq("4")) // upsert from empty
  }

  test("corpus round-trip: merge stored fields, reindex, search sees it") {
    val cfg = IndexConfig(numDocParts = 16, numBuckets = 4,
      hotDfThreshold = 400L, saltShift = 6, shufflePartitions = 8)
    val input = CorpusGen.generate(spark, 200).toDF()
    val dir = SparkSuite.tmpDir("graft-atomic")
    IndexBuilder.build(spark, input, dir, cfg)

    // atomic set of one doc's content to a sentinel phrase
    val key = input.select("repo", "path").orderBy("repo", "path")
      .as[(String, String)].head()
    val updates = Seq(
      (key._1, key._2, 1L, "content", "set",
        Seq("zanzibar quorum zanzibar")),
      (key._1, key._2, 2L, "lang", "set", Seq("en"))
    ).toDF("repo", "path", "seq", "field", "op", "values")
    val merged = AtomicUpdate.mergeDocInputs(
        input.join(updates.select("repo", "path").distinct(),
          Seq("repo", "path"), "left_semi"),
        updates)
      .withColumn("docPart",
        org.apache.spark.sql.functions.lit(8)) // fresh part past the base
    IndexBuilder.updateDocs(spark, dir, merged, cfg)

    val r = MultiIndexReader.open(spark, dir, cfg.numBuckets,
      cacheData = false)
    val hits = new JoinScorer(r)
      .scores(BoolQ(Seq((Occur.Must, TermQ("zanzibar"))))).map(_._1)
    assert(hits.count() == 1L)
    val got = r.realtimeGet(key._1, key._2).select("commit").head().getString(0)
    val want = org.apache.spark.sql.functions.md5(
      org.apache.spark.sql.functions.lit("zanzibar quorum zanzibar"))
    val wantS = spark.range(1).select(want.as("m")).head().getString(0)
    assert(got == wantS, "realtime get must return the post-merge version")
  }
}
