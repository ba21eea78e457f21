package graft.search

import graft.codec.SmallFloat
import graft.index.{CollStats, TermStats}

/** The one scoring contract of the join path (reference
  * search/similarities/Similarity.java:121-247). [[JoinScorer]] takes a
  * Similarity (BM25 by default) and scores every clause through it:
  *
  *  1. `weight` (computeWeight): the clause's weight from its terms'
  *     statistics and boost — every member term for phrases and spans;
  *  2. `queryNorm` of the summed `valueForNormalization` over the query's
  *     clause weights, handed back to each weight's `normalize`
  *     (Weight.normalize: the norm folds into the clause weight, in the
  *     reference's float order);
  *  3. `SimWeight.score(freq, normByte)` per matching doc (SimScorer);
  *  4. `coord(overlap, maxOverlap)` on each doc's clause-order sum
  *     (BooleanWeight.coord).
  *
  * BM25 and the [[SimilarityBase]] family leave queryNorm and coord at
  * identity (`x * 1f` is bit-exact); Classic TF-IDF and SweetSpot use
  * both. The values live in [[Similarities]].
  */
trait Similarity extends Serializable {
  /** `coll` is the collection (content-field) statistics; `normCache` the
    * BM25 norm table of the clause's field (per-field avgdl). */
  def weight(stats: Seq[TermStats], boost: Float, coll: CollStats,
             normCache: Array[Float]): SimWeight
  def queryNorm(sumOfSquaredWeights: Float): Float = 1f
  /** Called with 1 <= overlap <= maxOverlap. */
  def coord(overlap: Int, maxOverlap: Int): Float = 1f
}

/** A clause's weight; it ships to the executors inside the scoring
  * closure. */
trait SimWeight extends Serializable {
  def valueForNormalization: Float = 1f
  def normalize(queryNorm: Float): SimWeight = this
  def score(freq: Float, norm: Byte): Float
}

/** ClassicSimilarity (TF-IDF), the reference 5.2 DEFAULT similarity
  * (search/similarities/TFIDFSimilarity.java, DefaultSimilarity.java):
  * tf = sqrt(freq), idf = 1 + ln(maxDoc/(df+1)) summed over the clause's
  * terms, lengthNorm = byte315-decoded 1/sqrt(dl), queryNorm =
  * 1/sqrt(sum of squared clause weights), coord = overlap/maxOverlap.
  * Float op order mirrors the reference: queryWeight = idf * boost,
  * normalize -> value = (queryWeight * queryNorm) * idf, score =
  * tf * value * lengthNorm. */
class ClassicSimilarity extends Similarity {
  def tf(freq: Float): Float = math.sqrt(freq.toDouble).toFloat
  def lengthNorm(norm: Byte): Float = SmallFloat.byte315ToFloat(norm)
  def idf(df: Long, maxDoc: Long): Float =
    (1.0 + math.log(maxDoc / (df + 1.0))).toFloat

  private final class Weight(idf: Float, queryWeight: Float) extends SimWeight {
    private val value = queryWeight * idf
    override def valueForNormalization: Float = queryWeight * queryWeight
    override def normalize(queryNorm: Float): SimWeight =
      new Weight(idf, queryWeight * queryNorm)
    def score(freq: Float, norm: Byte): Float = tf(freq) * value * lengthNorm(norm)
  }

  def weight(stats: Seq[TermStats], boost: Float, coll: CollStats,
             normCache: Array[Float]): SimWeight = {
    var idfSum = 0f
    stats.foreach(ts => idfSum += idf(ts.df, coll.maxDoc))
    new Weight(idfSum, idfSum * boost)
  }
  override def queryNorm(sumOfSquaredWeights: Float): Float =
    (1.0 / math.sqrt(sumOfSquaredWeights.toDouble)).toFloat
  override def coord(overlap: Int, maxOverlap: Int): Float =
    overlap.toFloat / maxOverlap
}

/** SweetSpotSimilarity: Classic with [[SweetSpot.baselineTf]] as tf and
  * the [[SweetSpot.computeLengthNorm]] plateau over the quantized dl
  * decoded from the stored norm byte. */
final class SweetSpotSimilarity(baseTf: Float, minTf: Float, plateauMin: Int,
                                plateauMax: Int) extends ClassicSimilarity {
  override def tf(freq: Float): Float = SweetSpot.baselineTf(freq, baseTf, minTf)
  override def lengthNorm(norm: Byte): Float = SweetSpot.computeLengthNorm(
    SmallFloat.Bm25NormTable(norm & 0xFF), plateauMin, plateauMax)
}

/** SimilarityBase (reference search/similarities/SimilarityBase.java): a
  * per-term score of (freq, dl), dl the byte315-quantized field length
  * (the table BM25 uses), built from that term's statistics. A clause over
  * several terms sums its terms' scores in clause order
  * (MultiSimilarity.MultiStats), times the boost. */
abstract class SimilarityBase extends Similarity {
  protected def termScore(ts: TermStats, coll: CollStats): (Float, Float) => Float

  final def weight(stats: Seq[TermStats], boost: Float, coll: CollStats,
                   normCache: Array[Float]): SimWeight = {
    val fns = stats.map(termScore(_, coll)).toArray
    (freq: Float, norm: Byte) => {
      val dl = SmallFloat.Bm25NormTable(norm & 0xFF)
      var s = fns(0)(freq, dl)
      var i = 1
      while (i < fns.length) { s += fns(i)(freq, dl); i += 1 }
      boost * s
    }
  }
}

/** The similarity values [[JoinScorer]] takes, one per reference class in
  * search/similarities/ (plus lucene/misc SweetSpotSimilarity):
  *
  *  - BM25 (the engine default) and Classic TF-IDF;
  *  - SweetSpot: Classic with a baseline tf and a lengthNorm plateau;
  *  - LM Dirichlet and LM Jelinek-Mercer (LMSimilarity family);
  *  - DFR GL2  = DFRSimilarity(BasicModelG, AfterEffectL, NormalizationH2)
  *    (DFRSimilarity.java:108-112; Amati & van Rijsbergen, TOIS 2002);
  *  - IB SPL-D = IBSimilarity(DistributionSPL, LambdaDF, NormalizationH2)
  *    (IBSimilarity.java:78-86; Clinchant & Gaussier, SIGIR 2010).
  *
  * The SimilarityBase values read the collection (content-field)
  * statistics for every term: avgdl as a Double and collTokens =
  * sumTotalTermFreq.
  */
object Similarities {

  private val Log2 = math.log(2.0)
  @inline private def log2(x: Double): Double = math.log(x) / Log2

  /** Lucene BM25 (see [[BM25]]): the clause weight is idf summed over the
    * clause's terms in order, times boost * (k1+1); each doc scores
    * against the norm table of the clause's field. */
  val bm25: Similarity = new Similarity {
    def weight(stats: Seq[TermStats], boost: Float, coll: CollStats,
               normCache: Array[Float]): SimWeight = {
      var idfSum = 0f
      stats.foreach(ts => idfSum += BM25.idf(ts.df, coll.maxDoc))
      val wv = BM25.weightValue(idfSum, boost)
      (freq: Float, norm: Byte) => BM25.score(wv, freq, normCache, norm)
    }
  }

  val classic: Similarity = new ClassicSimilarity

  /** SweetSpot with the default plateau steepness (0.5). */
  def sweetSpot(baseTf: Float, minTf: Float, plateauMin: Int,
                plateauMax: Int): Similarity =
    new SweetSpotSimilarity(baseTf, minTf, plateauMin, plateauMax)

  /** LM-Dirichlet (LMDirichletSimilarity.java:56-66, default mu=2000;
    * P(t|C) = (ttf+1)/(collTokens+1), LMSimilarity.java:80-84):
    * log(1 + tf/(mu * P(t|C))) + log(mu/(dl + mu)), clamped >= 0 — a doc
    * whose clauses all clamp still matches, with score 0. */
  def lmDirichlet(mu: Float = 2000f): Similarity = new SimilarityBase {
    protected def termScore(ts: TermStats, coll: CollStats) = {
      val muP = mu * ((ts.ttf + 1f) / (coll.sumTotalTermFreq + 1f))
      (tf: Float, dl: Float) => {
        val s = (math.log(1.0 + tf / muP.toDouble) +
          math.log(mu / (dl + mu).toDouble)).toFloat
        if (s > 0f) s else 0f
      }
    }
  }

  /** DFR GL2: tfn = tf*log2(1 + avgdl/dl) (H2, c=1); lambda = F/(N+F)
    * with F = ttf+1; score = (log2(1+lambda) + tfn*log2((1+lambda)/
    * lambda)) / (tfn+1)  (BasicModelG.java:57-66, AfterEffectL.java:38,
    * NormalizationH2.java:57-60). */
  val dfrGL2: Similarity = new SimilarityBase {
    protected def termScore(ts: TermStats, coll: CollStats) = {
      val avgdl = coll.sumTotalTermFreq.toDouble / coll.maxDoc
      val f = ts.ttf + 1.0
      val lambda = f / (coll.maxDoc + f)
      val g0 = log2(lambda + 1.0)
      val gr = log2((1.0 + lambda) / lambda)
      (tf: Float, dl: Float) => {
        val tfn = (tf * log2(1.0 + avgdl / dl)).toFloat
        ((g0 + tfn * gr) * (1.0f / (tfn + 1.0f))).toFloat
      }
    }
  }

  /** IB SPL with df-lambda: lambda = (df+1)/(N+1); tfn as H2;
    * score = -ln((lambda^(tfn/(tfn+1)) - lambda)/(1-lambda))
    * (DistributionSPL.java:33-39, LambdaDF.java:33). */
  val ibSplDf: Similarity = new SimilarityBase {
    protected def termScore(ts: TermStats, coll: CollStats) = {
      val avgdl = coll.sumTotalTermFreq.toDouble / coll.maxDoc
      val lambda0 = (ts.df + 1.0f) / (coll.maxDoc + 1.0f)
      val lambda = if (lambda0 == 1f) 0.99f else lambda0
      (tf: Float, dl: Float) => {
        val tfn = (tf * log2(1.0 + avgdl / dl)).toFloat
        (-math.log((math.pow(lambda, tfn / (tfn + 1.0)) - lambda) /
          (1.0 - lambda))).toFloat
      }
    }
  }

  /** LM Jelinek-Mercer smoothing (lambda = 0.7, the reference test
    * suite's long-query setting): score = ln(1 + ((1-lambda)*tf/dl) /
    * (lambda*P(t|C))), P(t|C) = (ttf+1)/(collTokens+1)
    * (LMJelinekMercerSimilarity.java:55-62, LMSimilarity.java:80-84). */
  def lmJelinekMercer(lambda: Float = 0.7f): Similarity = new SimilarityBase {
    protected def termScore(ts: TermStats, coll: CollStats) = {
      val p = (ts.ttf + 1.0f) / (coll.sumTotalTermFreq + 1.0f)
      (tf: Float, dl: Float) =>
        math.log(1.0 + ((1 - lambda) * tf / dl) / (lambda * p)).toFloat
    }
  }
}

/** SweetSpotSimilarity's functions (reference lucene/misc/src/java/org/
  * apache/lucene/misc/SweetSpotSimilarity.java:44-230): lengthNorm is 1.0
  * on the plateau [min, max] and decays by `steep` outside it; tf is a
  * baseline-floored sqrt or a hyperbolic saturation. Engine deviation (an
  * improvement the stored-norm design buys): the reference bakes
  * lengthNorm into the index at write time (re-index to tune the spot);
  * here [[SweetSpotSimilarity]] applies the plateau at QUERY time to the
  * quantized dl decoded from the stored norm byte, so the same index
  * serves any sweet-spot setting. */
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
