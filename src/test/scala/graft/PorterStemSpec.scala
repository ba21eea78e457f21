package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.{Analyzers, PorterStemmer}

/** Porter stemmer vs Martin Porter's full public test vocabulary — the
  * same data the reference's TestPorterStemFilter asserts against
  * (porterTestData.zip: voc.txt -> output.txt, 23,531 words), plus the
  * EnglishAnalyzer chain semantics (possessive strip, stop-before-stem,
  * reference en/EnglishAnalyzer.java:101-116). */
class PorterStemSpec extends AnyFunSuite {

  private def lines(name: String): Vector[String] = {
    val in = getClass.getResourceAsStream(name)
    require(in != null, s"missing resource $name")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
    finally in.close()
  }

  test("full Porter test vocabulary (23,531 words) matches golden output") {
    val voc = lines("/porter/voc.txt")
    val out = lines("/porter/output.txt")
    assert(voc.length == out.length && voc.length > 23000)
    var bad = 0
    val examples = Vector.newBuilder[String]
    voc.indices.foreach { i =>
      val got = PorterStemmer.stem(voc(i))
      if (got != out(i)) {
        bad += 1
        if (bad <= 10) examples += s"${voc(i)} -> $got (want ${out(i)})"
      }
    }
    assert(bad == 0, s"$bad mismatches; first: ${examples.result().mkString("; ")}")
  }

  test("words of length <= 2 unchanged; idempotent-ish sanity") {
    assert(PorterStemmer.stem("a") == "a")
    assert(PorterStemmer.stem("is") == "is")
    assert(PorterStemmer.stem("running") == "run")
    assert(PorterStemmer.stem("relational") == "relat")
  }

  test("possessive filter strips 's variants before lowercasing") {
    for (apos <- Seq('\'', '’', '＇')) {
      val (ts, _) = Analyzers.chain("english", noStops = true)(
        "en", s"John${apos}s code")
      assert(ts.toSeq == Seq("john", "code"), s"apos=$apos")
    }
  }

  test("english chain: stop runs before stem (stopwords never stemmed in)") {
    // "this" stems to "thi" — if stemming ran before stop, "this" would
    // survive as "thi"; reference order removes it first
    val (ts, ps) = Analyzers.chain("english")("en", "this running matters")
    assert(ts.toSeq == Seq("run", "matter"))
    // dropped stopword still leaves a position gap
    assert(ps.toSeq == Seq(1, 2))
  }
}
