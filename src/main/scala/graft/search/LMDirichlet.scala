package graft.search

import org.apache.spark.sql.DataFrame

import graft.codec.{PostingsCodec, SmallFloat}
import graft.index.SearchReader

/** LM-Dirichlet language-model similarity (reference
  * search/similarities/LMDirichletSimilarity.java:56-66, default mu=2000;
  * collection model P(t|C) = (ttf+1)/(collectionTokens+1) per
  * LMSimilarity.java:80-84): per matching clause
  *
  *   s = log(1 + tf / (mu * P(t|C))) + log(mu / (dl + mu)),  clamped >= 0
  *
  * with dl the byte315-quantized field length (SimilarityBase norm decode,
  * same table BM25 uses). Clause scores sum; docs where every clause
  * clamps to 0 still match with score 0 (reference behavior).
  */
final class LMDirichletScorer(reader: SearchReader, mu: Float = 2000f) {
  private val spark = reader.spark
  import spark.implicits._

  def topK(terms: Seq[String], k: Int): DataFrame = {
    val stats = reader.termStats(terms.distinct)
    val present = terms.filter(stats.contains)
    if (present.isEmpty)
      return spark.emptyDataset[(Long, Float)].toDF("docId", "score")
    val collTokens = reader.collStats.sumTotalTermFreq
    // mu * P(t|C) per clause, precomputed driver-side
    val muP: Array[Float] = present.map(t =>
      mu * ((stats(t).ttf + 1f) / (collTokens + 1f))).toArray
    val tIdx = present.zipWithIndex.toMap
    val n = present.length
    val muV = mu
    val tIdxB = spark.sparkContext.broadcast(tIdx)
    val muPB = spark.sparkContext.broadcast(muP)
    reader.blocks(present).flatMap { b =>
      val i = tIdxB.value(b.term)
      val mp = muPB.value(i)
      val (docs, tfs, nrms) = PostingsCodec.decodeDocs(b)
      (0 until docs.length).iterator.map { j =>
        val dl = SmallFloat.Bm25NormTable(nrms(j) & 0xFF)
        val s = (math.log(1.0 + tfs(j) / mp.toDouble) +
          math.log(muV / (dl + muV).toDouble)).toFloat
        (docs(j), i, if (s > 0f) s else 0f)
      }
    }.groupByKey(_._1).mapGroups { (docId, it) =>
      // clause-order float sum (shuffle iterator order is not stable)
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
