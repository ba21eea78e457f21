package graft.search

import org.apache.spark.sql.DataFrame

import graft.codec.{PostingsCodec, SmallFloat}
import graft.index.SearchReader

/** Randomness- and information-based similarities over the shared
  * postings-scan plumbing (one scorer per reference class in
  * search/similarities/):
  *
  *  - DFR GL2  = DFRSimilarity(BasicModelG, AfterEffectL, NormalizationH2)
  *    (DFRSimilarity.java:108-112; Amati & van Rijsbergen, TOIS 2002)
  *  - IB SPL-D = IBSimilarity(DistributionSPL, LambdaDF, NormalizationH2)
  *    (IBSimilarity.java:78-86; Clinchant & Gaussier, SIGIR 2010)
  *  - LM Jelinek-Mercer (LMJelinekMercerSimilarity.java:55-62)
  *
  * All three consume (tf, quantized dl) per posting plus per-clause
  * collection stats — exactly the SimilarityBase contract (score(stats,
  * freq, docLen) with docLen the byte315-decoded norm). Clause scores sum
  * in clause order (BooleanQuery disjunction), ties break by docId.
  */
object Similarities {

  private val Log2 = math.log(2.0)
  @inline private def log2(x: Double): Double = math.log(x) / Log2

  /** Per-clause scoring closure: built driver-side from term stats,
    * applied executor-side to each (tf, dl). */
  type ClauseScore = (Int, Float) => Float

  /** DFR GL2: tfn = tf*log2(1 + avgdl/dl) (H2, c=1); lambda = F/(N+F)
    * with F = ttf+1; score = (log2(1+lambda) + tfn*log2((1+lambda)/
    * lambda)) / (tfn+1)  (BasicModelG.java:57-66, AfterEffectL.java:38,
    * NormalizationH2.java:57-60). */
  def dfrGL2(df: Long, ttf: Long, maxDoc: Long, avgdl: Double): ClauseScore = {
    val f = ttf + 1.0
    val lambda = f / (maxDoc + f)
    val g0 = log2(lambda + 1.0)
    val gr = log2((1.0 + lambda) / lambda)
    (tf: Int, dl: Float) => {
      val tfn = (tf * log2(1.0 + avgdl / dl)).toFloat
      ((g0 + tfn * gr) * (1.0f / (tfn + 1.0f))).toFloat
    }
  }

  /** IB SPL with df-lambda: lambda = (df+1)/(N+1); tfn as H2;
    * score = -ln((lambda^(tfn/(tfn+1)) - lambda)/(1-lambda))
    * (DistributionSPL.java:33-39, LambdaDF.java:33). */
  def ibSplDf(df: Long, ttf: Long, maxDoc: Long, avgdl: Double): ClauseScore = {
    val lambda0 = (df + 1.0f) / (maxDoc + 1.0f)
    val lambda = if (lambda0 == 1f) 0.99f else lambda0
    (tf: Int, dl: Float) => {
      val tfn = (tf * log2(1.0 + avgdl / dl)).toFloat
      (-math.log((math.pow(lambda, tfn / (tfn + 1.0)) - lambda) /
        (1.0 - lambda))).toFloat
    }
  }

  /** LM Jelinek-Mercer smoothing (lambda = 0.7, the reference test
    * suite's long-query setting): score = ln(1 + ((1-lambda)*tf/dl) /
    * (lambda*P(t|C))), P(t|C) = (ttf+1)/(collTokens+1)
    * (LMJelinekMercerSimilarity.java:55-62, LMSimilarity.java:80-84). */
  def lmJelinekMercer(ttf: Long, collTokens: Long,
                      lambda: Float = 0.7f): ClauseScore = {
    val p = (ttf + 1.0f) / (collTokens + 1.0f)
    (tf: Int, dl: Float) =>
      math.log(1.0 + ((1 - lambda) * tf / dl) / (lambda * p)).toFloat
  }
}

/** SweetSpotSimilarity (reference lucene/misc/src/java/org/apache/
  * lucene/misc/SweetSpotSimilarity.java:44-230): ClassicSimilarity with
  * a flat "sweet spot" — lengthNorm is 1.0 on the plateau [min, max] and
  * decays by `steep` outside it; tf is a baseline-floored sqrt or a
  * hyperbolic saturation. Engine deviation (an improvement the stored-
  * norm design buys): the reference bakes lengthNorm into the index at
  * write time (re-index to tune the spot); here the plateau is applied
  * at QUERY time to the quantized dl decoded from the stored norm byte,
  * so the same index serves any sweet-spot setting. */
object SweetSpot {

  /** 1/sqrt(steep*(|n-min| + |n-max| - (max-min)) + 1): 1.0 inside the
    * plateau, decaying outside. */
  def computeLengthNorm(numTerms: Float, min: Int, max: Int,
                        steep: Float = 0.5f): Float =
    (1.0 / math.sqrt((steep *
      (math.abs(numTerms - min) + math.abs(numTerms - max) - (max - min))) +
      1.0f)).toFloat

  /** Baseline tf: 0 at 0; `base` up to `min`; sqrt(freq + base^2 - min)
    * beyond (continuous at the knee when base^2 == min). */
  def baselineTf(freq: Float, base: Float = 0.0f, min: Float = 0.0f): Float =
    if (freq == 0.0f) 0.0f
    else if (freq <= min) base
    else math.sqrt((freq + base * base - min).toDouble).toFloat

  /** Hyperbolic tf: min + (max-min)/2 * (tanh_base(freq - xoffset) + 1) —
    * saturates between min and max around the xoffset midpoint.
    * Deviation from the reference: its (b^x - b^-x)/(b^x + b^-x) form
    * overflows to inf/inf = NaN once x*ln(base) > 709 (its OWN test
    * range i<=1000 with base=e crosses that); tanh(x*ln(base)) is the
    * same function and saturates to the correct limit instead. */
  def hyperbolicTf(freq: Float, min: Float = 0.0f, max: Float = 2.0f,
                   base: Double = 1.3, xoffset: Float = 10.0f): Float = {
    if (freq == 0.0f) return 0.0f
    val x = (freq - xoffset).toDouble
    min + ((max - min) / 2.0f * (math.tanh(x * math.log(base)) + 1.0d)).toFloat
  }
}

/** Disjunctive top-k under any per-clause (tf, dl) similarity: decode
  * (docId, tf, norm) from the pruned block scan, score each clause with
  * its closure, sum per doc in clause order (same NaN-slot combine the
  * BM25 join path uses), TakeOrderedAndProject for the global top-k. */
final class SimilarityScorer(reader: SearchReader,
    mk: (Long, Long, Long, Long, Double) => Similarities.ClauseScore) {
  private val spark = reader.spark
  import spark.implicits._

  def topK(terms: Seq[String], k: Int): DataFrame = {
    val stats = reader.termStats(terms.distinct)
    val present = terms.filter(stats.contains)
    if (present.isEmpty)
      return spark.emptyDataset[(Long, Float)].toDF("docId", "score")
    val cs = reader.collStats
    val avgdl = cs.sumTotalTermFreq.toDouble / cs.maxDoc
    val fns: Array[Similarities.ClauseScore] = present.map { t =>
      mk(stats(t).df, stats(t).ttf, cs.maxDoc, cs.sumTotalTermFreq, avgdl)
    }.toArray
    val tIdx = present.zipWithIndex.toMap
    val n = present.length
    val tIdxB = spark.sparkContext.broadcast(tIdx)
    val fnsB = spark.sparkContext.broadcast(fns)
    reader.blocks(present).flatMap { b =>
      val i = tIdxB.value(b.term)
      val fn = fnsB.value(i)
      val (docs, tfs, nrms) = PostingsCodec.decodeDocs(b)
      (0 until docs.length).iterator.map { j =>
        val dl = SmallFloat.Bm25NormTable(nrms(j) & 0xFF)
        (docs(j), i, fn(tfs(j), dl))
      }
    }.groupByKey(_._1).mapGroups { (docId, it) =>
      val byClause = new Array[Float](n)
      java.util.Arrays.fill(byClause, Float.NaN)
      it.foreach { case (_, i, v) => byClause(i) = v }
      var s = 0f
      var i = 0
      while (i < n) {
        if (!java.lang.Float.isNaN(byClause(i))) s += byClause(i)
        i += 1
      }
      (docId, s)
    }.toDF("docId", "score")
      .transform(reader.liveOnly) // LiveDocs contract, same as JoinScorer
      .orderBy($"score".desc, $"docId".asc).limit(k)
  }
}
