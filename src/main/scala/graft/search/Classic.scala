package graft.search

import org.apache.spark.sql.{DataFrame, Dataset}

import graft.codec.{PostingsCodec, SmallFloat}
import graft.index.SearchReader

/** ClassicSimilarity (TF-IDF) scorer — the reference 5.2 tree's DEFAULT
  * similarity (search/similarities/TFIDFSimilarity.java,
  * DefaultSimilarity.java): tf = sqrt(freq), idf = 1 + ln(maxDoc/(df+1)),
  * norm = byte315-decoded 1/sqrt(dl), queryNorm = 1/sqrt(sum idf^2), and
  * coord = overlap/maxOverlap multiplying the per-doc sum — the two
  * factors BM25 turns off. Float op order mirrors the reference
  * (TermWeight.normalize -> value = queryWeight * idf).
  */
final class ClassicScorer(reader: SearchReader,
    tfFn: Float => Float = f => math.sqrt(f.toDouble).toFloat,
    normFn: Byte => Float = SmallFloat.byte315ToFloat) {
  private val spark = reader.spark
  import spark.implicits._

  def idf(df: Long, maxDoc: Long): Float =
    (1.0 + math.log(maxDoc / (df + 1.0))).toFloat

  /** Disjunctive top-k under Classic TF-IDF. */
  def topK(terms: Seq[String], k: Int): DataFrame =
    scores(terms).orderBy($"score".desc, $"docId".asc).limit(k)

  /** All matched (docId, score) rows — the frame PerFieldSimilarityWrapper
    * composition sums with other fields' similarity frames. */
  def scores(terms: Seq[String]): DataFrame = {
    val stats = reader.termStats(terms.distinct)
    val present = terms.filter(stats.contains)
    if (present.isEmpty)
      return spark.emptyDataset[(Long, Float)].toDF("docId", "score")
    val maxDoc = reader.collStats.maxDoc
    val idfs = present.map(t => idf(stats(t).df, maxDoc))
    var sumSq = 0f
    idfs.foreach { w => sumSq += w * w } // sumOfSquaredWeights (boost=1)
    val queryNorm = (1.0 / math.sqrt(sumSq.toDouble)).toFloat
    // value_i = (idf*queryNorm) * idf  [TFIDFSimilarity normalize()]
    val values = idfs.map(w => (w * queryNorm) * w).toArray
    val tIdx = present.zipWithIndex.toMap
    val maxOverlap = present.length
    val tIdxB = spark.sparkContext.broadcast(tIdx)
    val valuesB = spark.sparkContext.broadcast(values)
    // local copies: the executor closure must not capture `this`
    val tfF = tfFn
    val normF = normFn
    reader.blocks(present).flatMap { b =>
      val i = tIdxB.value(b.term)
      val value = valuesB.value(i)
      val (docs, tfs, nrms) = PostingsCodec.decodeDocs(b)
      (0 until docs.length).iterator.map { j =>
        val raw = tfF(tfs(j).toFloat) * value
        (docs(j), i, raw * normF(nrms(j)))
      }
    }.groupByKey(_._1).mapGroups { (docId, it) =>
      // deterministic float sum: clause order, left-to-right (the shuffle
      // iterator order is not stable)
      val byClause = new Array[Float](maxOverlap)
      java.util.Arrays.fill(byClause, Float.NaN)
      it.foreach { case (_, i, v) => byClause(i) = v }
      var s = 0f
      var overlap = 0
      var i = 0
      while (i < maxOverlap) {
        if (!java.lang.Float.isNaN(byClause(i))) { s += byClause(i); overlap += 1 }
        i += 1
      }
      (docId, s * (overlap.toFloat / maxOverlap)) // coord
    }.toDF("docId", "score")
      .transform(reader.liveOnly) // LiveDocs contract, same as JoinScorer
  }
}
