package graft.search

import graft.codec.SmallFloat

/** Lucene-exact BM25 (k1=1.2, b=0.75) arithmetic.
  *
  * Float-mode functions reproduce the reference's op order bit-for-bit
  * (SURVEY.md §7.4):
  *  - idf:    `(float) Math.log(1 + (numDocs - docFreq + 0.5D)/(docFreq + 0.5D))`
  *            [search/similarities/BM25Similarity.java:64-67]
  *  - avgdl:  `(float)(sumTotalTermFreq / (double) maxDoc)` [:79-89]
  *  - cache:  `k1 * ((1 - b) + b * NORM_TABLE[i] / avgdl)` over 256 bytes [:207-210]
  *  - score:  `weightValue * freq / (freq + cache[normByte & 0xFF])` where
  *            `weightValue = idf * boost * (k1 + 1)` [:225-238, normalize :289-293]
  *  - coord / queryNorm are identity for BM25, so a multi-term score is the
  *    plain sum of clause scores [:289-293, Similarity.java:121-140]; we fix
  *    the (heap-order-dependent in the reference) summation order to
  *    query-clause order, left-to-right — the oracle uses the same rule.
  */
object BM25 {

  final val K1 = 1.2f
  final val B = 0.75f

  def idf(docFreq: Long, maxDoc: Long): Float =
    math.log(1d + (maxDoc - docFreq + 0.5d) / (docFreq + 0.5d)).toFloat

  def avgFieldLength(sumTotalTermFreq: Long, maxDoc: Long): Float =
    if (sumTotalTermFreq <= 0) 1f
    else (sumTotalTermFreq / maxDoc.toDouble).toFloat

  /** 256-entry freq-independent cache (BM25Similarity.java:207-210). */
  def cache(avgdl: Float): Array[Float] = {
    val c = new Array[Float](256)
    var i = 0
    while (i < 256) {
      c(i) = K1 * ((1 - B) + B * SmallFloat.Bm25NormTable(i) / avgdl)
      i += 1
    }
    c
  }

  /** weightValue = idf * boost * (k1+1); boost defaults to 1. */
  def weightValue(idf: Float, boost: Float = 1f): Float =
    idf * boost * (K1 + 1)

  /** Single-clause score (BM25Similarity.java:234-238). */
  def score(weightValue: Float, freq: Float, normCache: Array[Float],
            normByte: Byte): Float =
    weightValue * freq / (freq + normCache(normByte & 0xFF))

  /** Left-to-right float sum of clause scores (our fixed summation order). */
  def sumScores(scores: Array[Float]): Float = {
    var s = 0f
    var first = true
    var i = 0
    while (i < scores.length) {
      if (!java.lang.Float.isNaN(scores(i))) {
        if (first) { s = scores(i); first = false } else s += scores(i)
      }
      i += 1
    }
    s
  }

  /** Quantized decoded field length for a raw dl (norm byte round-trip,
    * widened to double; float->double is exact). */
  def quantizedDl(dl: Int): Double =
    SmallFloat.Bm25NormTable(SmallFloat.normByte(dl) & 0xFF).toDouble
}
