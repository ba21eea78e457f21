package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.analysis.Analyzers
import graft.index.{IndexBuilder, IndexConfig}

/** The analyzer registry through the build's dispatch
  * (`IndexBuilder.chainFlat`): every registered name, with and without
  * stopwords, on one mixed-script sample, against recorded outputs. */
class AnalyzersSpec extends AnyFunSuite {

  /** Latin with possessives, elisions and Irish prefixes, Cyrillic, CJK
    * (incl. full- and half-width forms), Japanese, Thai, Greek, Arabic
    * and one over-long token. */
  private val sample = Seq(
    "The John's café isn't running; l'avion dell'arte d'Irlande n-athair " +
      "t-Uisce h-Éireann",
    "Ärzte Häuser fietsen kinderen cykler ARE flies 3.14 U.S.A. don't",
    "Москва и Россия это бег", "中文分词测试 一二三 ＴＥＳＴ ｶﾀｶﾅ",
    "東京都に住んでいます", "ภาษาไทยง่ายนิดเดียว", "Τα σπίτια", "الكتاب",
    "a" * 300 + " tail").mkString(" ")

  /** name -> noStops -> (terms, positions), one line each:
    * name TAB noStops TAB terms joined by U+001F TAB positions. */
  private lazy val golden: Map[(String, Boolean), (Seq[String], Seq[Int])] = {
    val src = scala.io.Source.fromResource("analysis/registry_golden.tsv")(
      scala.io.Codec.UTF8)
    try src.getLines().map { line =>
      val Array(name, noStops, terms, positions) = line.split("\t", -1)
      (name, noStops.toBoolean) ->
        (terms.split("\u001f").toSeq.filter(_.nonEmpty),
          positions.split(" ").toSeq.filter(_.nonEmpty).map(_.toInt))
    }.toMap
    finally src.close()
  }

  test("every registered chain matches its recorded output") {
    assert(golden.keySet.map(_._1) == Analyzers.names.toSet)
    for (name <- Analyzers.names; noStops <- Seq(false, true)) {
      val (terms, positions) =
        IndexBuilder.chainFlat(name, "en", sample, 255, noStops)
      assert((terms.toSeq, positions.toSeq) == golden((name, noStops)),
        s"analyzer $name, noStops = $noStops")
    }
  }

  test("an unknown analyzer name fails with the full name list") {
    val e = intercept[IllegalArgumentException](IndexConfig(analyzer = "nope"))
    assert(e.getMessage.contains("unknown analyzer 'nope' (standard | " +
      "english | cjk | kstem | thai | smartcn | japanese | " +
      graft.analysis.LightStemmers.byName.keys.toSeq.sorted.mkString(" | ") +
      ")"))
  }
}
