package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen

import graft.codec._
import graft.index.{BlockRowK, IndexBuilder}
import graft.search.BM25

/** Deterministic property runner (scalatestplus bridge unavailable
  * offline): samples a Gen with fixed seeds — reproducible per the
  * reference's reproducible-seed testing policy (LuceneTestCase random
  * seeds, SURVEY.md §5.1). */
trait MiniCheck {
  def forAll[T](gen: Gen[T], n: Int = 60)(f: T => Unit): Unit = {
    var i = 0
    while (i < n) {
      gen.apply(Gen.Parameters.default.withSize(5 + i * 2),
        org.scalacheck.rng.Seed(0xC0FFEE + i.toLong)).foreach(f)
      i += 1
    }
  }
}

class SmallFloatSpec extends AnyFunSuite {
  test("documented extrema (SmallFloat.java:75-78)") {
    assert(SmallFloat.byte315ToFloat(1) == 5.820766e-10f)
    assert(SmallFloat.byte315ToFloat(-1) == 7.5161928e9f)
    assert(SmallFloat.byte315ToFloat(0) == 0.0f)
  }
  test("negative/zero -> 0; underflow -> 1; overflow -> -1") {
    assert(SmallFloat.floatToByte315(0f) == 0)
    assert(SmallFloat.floatToByte315(-3.5f) == 0)
    assert(SmallFloat.floatToByte315(1e-12f) == 1)
    assert(SmallFloat.floatToByte315(1e12f) == -1)
  }
  test("round-trip: decode(encode(f)) <= f (truncation) and monotone") {
    var prev = -1f
    var b = 0
    while (b < 256) {
      val f = SmallFloat.byte315ToFloat(b.toByte)
      if (b > 0) assert(f > prev)
      assert(SmallFloat.floatToByte315(f) == b.toByte)
      prev = f
      b += 1
    }
  }
  test("norm byte: known values") {
    // 1/sqrt(1)=1f -> byte 124; 1/sqrt(4)=0.5f -> byte 120
    assert(SmallFloat.normByte(1) == 124)
    assert(SmallFloat.normByte(4) == 120)
    // quantization collision: nearby lengths share a byte
    assert(SmallFloat.normByte(65) == SmallFloat.normByte(70))
  }
}

class VByteSpec extends AnyFunSuite with MiniCheck {
  test("vint/vlong round-trip") {
    forAll(Gen.listOf(Gen.chooseNum(0, Int.MaxValue))) { xs =>
      val w = new VByte.Writer()
      xs.foreach(w.writeVInt)
      val r = new VByte.Reader(w.toBytes)
      assert(xs.forall(x => r.readVInt() == x))
    }
    forAll(Gen.listOf(Gen.chooseNum(0L, Long.MaxValue))) { xs =>
      val w = new VByte.Writer()
      xs.foreach(w.writeVLong)
      val r = new VByte.Reader(w.toBytes)
      assert(xs.forall(x => r.readVLong() == x))
    }
  }
  test("vint format parity: single byte for <128, Lucene layout") {
    val w = new VByte.Writer()
    w.writeVInt(5); w.writeVInt(200)
    val b = w.toBytes
    assert(b.length == 3 && b(0) == 5.toByte)
    assert((b(1) & 0xff) == ((200 & 0x7f) | 0x80) && (b(2) & 0xff) == (200 >> 7))
  }
}

class PostingsCodecSpec extends AnyFunSuite with MiniCheck {

  private val genPostingList: Gen[List[Posting]] = for {
    n <- Gen.frequency(3 -> Gen.chooseNum(1, 127), 2 -> Gen.chooseNum(128, 900),
      1 -> Gen.const(1))
    gaps <- Gen.listOfN(n, Gen.chooseNum(1L, 5000L))
    tfs <- Gen.listOfN(n, Gen.frequency(3 -> Gen.const(1), 2 -> Gen.chooseNum(2, 50)))
  } yield {
    var doc = 0L
    (gaps zip tfs).map { case (g, tf) =>
      doc += g
      val posGaps = List.fill(tf)(1 + scala.util.Random.nextInt(9))
      val positions = posGaps.scanLeft(0)(_ + _).tail.toArray
      Posting(doc, tf, positions, SmallFloat.normByte(positions.last + 1))
    }
  }

  private val cache = BM25.cache(47.3f)

  test("encode/decode == identity; block framing & metadata invariants " +
    "(BasePostingsFormatTestCase.testRandom analog)") {
    forAll(genPostingList) { ps =>
      val blocks = PostingsCodec.encode("t", ps.iterator, cache).toList
      assert(blocks.map(_.count).sum == ps.length)
      assert(blocks.forall(_.count <= PostingsCodec.BlockSize))
      // all but last block are full
      assert(blocks.dropRight(1).forall(_.count == PostingsCodec.BlockSize))
      val decoded = blocks.flatMap(PostingsCodec.decode)
      assert(decoded.map(_.docId) == ps.map(_.docId))
      assert(decoded.map(_.tf) == ps.map(_.tf))
      assert(decoded.map(_.norm) == ps.map(_.norm))
      (decoded zip ps).foreach { case (d, p) =>
        assert(d.positions.toSeq == p.positions.toSeq)
      }
      // metadata
      blocks.foreach { b =>
        val inBlock = PostingsCodec.decode(b)
        assert(b.firstDoc == inBlock.head.docId)
        assert(b.lastDoc == inBlock.last.docId)
        assert(b.maxTf == inBlock.map(_.tf).max)
        val maxPartial = inBlock.map(p =>
          p.tf.toFloat / (p.tf.toFloat + cache(p.norm & 0xFF))).max
        assert(b.maxPartial == maxPartial)
      }
      // fast path decodeDocs agrees
      val (docs, tfs, nrms) = blocks.map(PostingsCodec.decodeDocs)
        .foldLeft((Array.empty[Long], Array.empty[Int], Array.empty[Byte])) {
          case ((a, b2, c), (x, y, z)) => (a ++ x, b2 ++ y, c ++ z)
        }
      assert(docs.toSeq == ps.map(_.docId))
      assert(tfs.toSeq == ps.map(_.tf))
      assert(nrms.toSeq == ps.map(_.norm))
    }
  }

  private def sameBlock(a: PostingBlock, b: PostingBlock): Boolean =
    a.term == b.term && a.firstDoc == b.firstDoc && a.lastDoc == b.lastDoc &&
      a.count == b.count && a.maxTf == b.maxTf && a.sumTf == b.sumTf &&
      // bit equality: a null-cache block's maxPartial is NaN
      java.lang.Float.floatToRawIntBits(a.maxPartial) ==
        java.lang.Float.floatToRawIntBits(b.maxPartial) &&
      java.util.Arrays.equals(a.docBytes, b.docBytes) &&
      java.util.Arrays.equals(a.nrmBytes, b.nrmBytes) &&
      java.util.Arrays.equals(a.posBytes, b.posBytes)

  /** A posting list, cut at random points into "map partition" runs; when
    * `mix` holds, one run of >= 3 postings is dealt alternately into two
    * runs whose docId spans interleave. */
  private val genRuns: Gen[(List[Posting], List[List[Posting]], Boolean)] = for {
    ps <- genPostingList
    cuts <- Gen.listOf(Gen.chooseNum(1, math.max(1, ps.length - 1)))
    mix <- Gen.oneOf(true, false)
  } yield {
    val bounds = (0 +: cuts.filter(_ < ps.length).distinct.sorted :+ ps.length)
      .distinct
    val runs = bounds.sliding(2).collect {
      case Seq(a, b) if b > a => ps.slice(a, b)
    }.toList
    runs.indexWhere(_.length >= 3) match {
      case k if mix && k >= 0 =>
        val (even, odd) = runs(k).zipWithIndex.partition(_._2 % 2 == 0)
        (ps, runs.patch(k, Seq(even.map(_._1), odd.map(_._1)), 1), true)
      case _ => (ps, runs, false)
    }
  }

  test("one writer: map-side pre-blocks merged by mergeRuns and re-blocked " +
    "by encodePre == the whole list's blocks, byte for byte") {
    var mixed = 0
    forAll(genRuns) { case (ps, runs, mix) =>
      if (mix) mixed += 1
      val whole = PostingsCodec.encode("", ps.iterator, cache).toList
      val pre = runs.flatMap(run => PostingsCodec.encodePre("",
        run.iterator.map(p => PrePosting(p.docId, p.norm,
          PostingsCodec.pb(p.positions, 0, p.tf))), null))
      // the exchange delivers a run's pre-blocks in no particular order
      val arrived = new scala.util.Random(ps.length).shuffle(pre)
      val merged = PostingsCodec.encodePre("", IndexBuilder.mergeRuns(
        arrived.map(BlockRowK.of(7L, _))), cache).toList
      assert(merged.length == whole.length)
      (merged zip whole).foreach { case (m, w) => assert(sameBlock(m, w)) }
    }
    assert(mixed > 0, "no sample ran mergeRuns' sort fallback")
  }

  test("encodePre(decodePre(b)) == b for every block, with and without " +
    "the norm cache") {
    forAll(genPostingList) { ps =>
      for (c <- Seq(cache, null)) {
        PostingsCodec.encode("t", ps.iterator, c).foreach { b =>
          val pre = PostingsCodec.decodePre(b)
          assert(pre.map(_.docId).toSeq == PostingsCodec.decode(b).map(_.docId).toSeq)
          val again = PostingsCodec.encodePre("t", pre.iterator, c).toList
          assert(again.length == 1 && sameBlock(again.head, b))
        }
      }
    }
  }

  test("freq==1 folding bit (Lucene50PostingsWriter.java:332-343 analog)") {
    val ps = List(Posting(10L, 1, Array(3), 120), Posting(12L, 2, Array(1, 5), 120))
    val b = PostingsCodec.encode("t", ps.iterator, cache).next()
    val r = new VByte.Reader(b.docBytes)
    assert(r.readVLong() == 1L)          // (0<<1)|1 : delta 0 from firstDoc, tf=1 folded
    assert(r.readVLong() == (2L << 1))   // delta 2, tf follows
    assert(r.readVInt() == 2)
  }

  test("salted split: concatenating docId-range sub-lists == unsalted list " +
    "(FieldsConsumer.java:90-100 docBase-concat analog)") {
    forAll(genPostingList) { ps =>
      val whole = PostingsCodec.encode("t", ps.iterator, cache).toList
        .flatMap(PostingsCodec.decode)
      val mid = if (ps.nonEmpty) ps(ps.length / 2).docId else 0L
      val (lo, hi) = ps.partition(_.docId < mid)
      val concat =
        PostingsCodec.encode("t", lo.iterator, cache).toList.flatMap(PostingsCodec.decode) ++
          PostingsCodec.encode("t", hi.iterator, cache).toList.flatMap(PostingsCodec.decode)
      assert(concat.map(_.docId) == whole.map(_.docId))
      assert(concat.map(_.tf) == whole.map(_.tf))
    }
  }
}

class BM25Spec extends AnyFunSuite {
  test("hand-computed score fixture (BM25Similarity.java:234-238 op order)") {
    // N=4, df=2, tf=3, dl=4, avgdl=10/4
    val idf = math.log(1d + (4 - 2 + 0.5d) / (2 + 0.5d)).toFloat
    assert(BM25.idf(2, 4) == idf)
    val avgdl = (10L / 4.0).toFloat
    assert(BM25.avgFieldLength(10, 4) == avgdl)
    val nb = SmallFloat.normByte(4)
    assert(nb == 120)
    assert(SmallFloat.Bm25NormTable(120) == 4.0f) // decode 0.5f -> 1/0.25
    val cache = BM25.cache(avgdl)
    val expCache = 1.2f * ((1 - 0.75f) + 0.75f * 4.0f / avgdl)
    assert(cache(120) == expCache)
    val wv = idf * 1f * (1.2f + 1)
    assert(BM25.weightValue(idf) == wv)
    assert(BM25.score(wv, 3f, cache, nb) == wv * 3f / (3f + expCache))
  }
  test("empty/edge stats (TestSimilarity2 edge configs analog)") {
    assert(BM25.avgFieldLength(0, 10) == 1f)
    assert(BM25.idf(10, 10) == math.log(1d + 0.5d / 10.5d).toFloat) // df=N
    assert(BM25.idf(1, 1) > 0f)
  }
  test("sumScores is left-to-right float fold") {
    val a = Array(0.1f, 0.2f, 0.3f)
    assert(BM25.sumScores(a) == ((0.1f + 0.2f) + 0.3f))
    assert(BM25.sumScores(Array(Float.NaN, 0.5f)) == 0.5f)
  }
  test("double-mode mirrors quantization") {
    assert(BM25.quantizedDl(4) == 4.0)
    assert(BM25.quantizedDl(65) == BM25.quantizedDl(70))
  }
}
