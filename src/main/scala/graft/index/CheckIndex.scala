package graft.index

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.codec.{PostingsCodec, SmallFloat}

/** Index validation job (reference:
  * lucene/core/src/java/org/apache/lucene/index/CheckIndex.java:704,1688-1696
  * — postings sorted, stats consistent, term dict vs postings cross-check)
  * plus the north rule's per-row content sha256 check against the source
  * table. Every check is a distributed scan returning a violation count;
  * a healthy index returns all zeros.
  */
object CheckIndex {

  final case class CheckResult(check: String, violations: Long)

  /** Decode-level per-block stats used by several checks (public:
    * Catalyst codegen needs accessor visibility on Encoder classes).
    * Keyed by the 63-bit term key — the postings files carry no term
    * strings; the dictionary cross-check joins on the key computed from
    * the dictionary's term column. */
  final case class BlockFacts(key: Long, firstDoc: Long,
                                      lastDoc: Long, count: Int,
                                      nDecoded: Int, sumTf: Long, maxTf: Int,
                                      declaredMaxTf: Int, declaredSumTf: Long,
                                      sorted: Boolean,
                                      inRange: Boolean, boundSafe: Boolean)

  def run(reader: IndexReader, source: Option[DataFrame] = None): Dataset[CheckResult] = {
    val spark = reader.spark
    import spark.implicits._

    val cacheB = spark.sparkContext.broadcast(reader.normCache)
    val pathCacheB = spark.sparkContext.broadcast(reader.normCacheFor("path"))
    val facts = spark.read.parquet(s"${reader.dir}/postings").drop("wave")
      .as[BlockRowK]
      .map { row =>
        val b = row.withTerm("")
        val (docs, tfs, nrms) = PostingsCodec.decodeDocs(b)
        var sorted = true
        var maxTf = 0
        var sumTf = 0L
        var boundSafe = true
        // the bound must be checked with the block's FIELD cache (same
        // avgdl the scorer will use); field rides in the key's field bit
        val c = if (TermKeys.isPath(row.key)) pathCacheB.value
                else cacheB.value
        var i = 0
        while (i < docs.length) {
          if (i > 0 && docs(i) <= docs(i - 1)) sorted = false
          if (tfs(i) > maxTf) maxTf = tfs(i)
          sumTf += tfs(i)
          // WAND safety: declared upper-bound factor must dominate the
          // true per-posting partial tf/(tf+norm) in the same float ops
          val partial = tfs(i).toFloat / (tfs(i).toFloat + c(nrms(i) & 0xFF))
          if (partial > b.maxPartial) boundSafe = false
          i += 1
        }
        val inRange = docs.isEmpty ||
          (docs.head == b.firstDoc && docs.last == b.lastDoc)
        BlockFacts(row.key, b.firstDoc, b.lastDoc, b.count, docs.length,
          sumTf, maxTf, b.maxTf, b.sumTf, sorted, inRange, boundSafe)
      }.cache()

    // stored block metadata must equal the decoded truth — the term dict
    // is re-aggregated from these fields, so drift here would poison idf
    val blockBad = facts.filter(f =>
      !f.sorted || !f.inRange || !f.boundSafe ||
        f.nDecoded != f.count || f.maxTf > f.declaredMaxTf ||
        f.sumTf != f.declaredSumTf).count()

    // blocks of one term must cover disjoint, ascending docId ranges
    // (the docBase-concatenation invariant, codecs/FieldsConsumer.java:90-100)
    val w = Window.partitionBy("key").orderBy("firstDoc")
    val overlap = facts.toDF()
      .withColumn("prevLast", lag($"lastDoc", 1).over(w))
      .where($"prevLast".isNotNull && $"firstDoc" <= $"prevLast")
      .count()

    // term dict vs postings cross-check (CheckIndex.java:1688-1696),
    // joined on the dictionary term's key — this also audits the
    // key<->term mapping itself: a dictionary term whose key matches no
    // postings (or postings whose key is absent from the dictionary)
    // counts as a violation via the full_outer null arms
    val perTerm = facts.groupBy("key")
      .agg(sum($"nDecoded").as("df2"), sum($"sumTf").as("ttf2"),
        max($"maxTf").as("maxTf2"))
    val statsBad = reader.termStatsDf.toDF()
      .withColumn("key", TermKeys.column($"term"))
      .join(perTerm, Seq("key"), "full_outer")
      .where($"df".isNull || $"df2".isNull ||
        $"df" =!= $"df2" || $"ttf" =!= $"ttf2" || $"maxTf" =!= $"maxTf2")
      .count()

    val dm = reader.docmeta.toDF().cache()
    val docidDup = dm.count() - dm.select("docId").distinct().count()
    val normUdf = udf((dl: Int) => SmallFloat.normByte(dl))
    val normBad = dm.where($"norm" =!= normUdf($"dl")).count()

    // the collstats marker against the segments it describes
    val collBad = IndexBuilder.collStatsOf(spark.read.parquet(s"${reader.dir}/segments"))
      .count { case (m, v) => IndexBuilder.markerValue(reader.dir, "collstats", m) != Some(v) }.toLong

    // north rule: per-row content sha256 equality vs the source table
    val shaBad = source.map { src =>
      val srcSha = src.select($"repo", $"path", $"commit",
        sha2($"content", 256).as("srcSha"))
      dm.join(srcSha, Seq("repo", "path", "commit"), "full_outer")
        .where($"sha256".isNull || $"srcSha".isNull || $"sha256" =!= $"srcSha")
        .count()
    }

    // every dir and delete part-file the latest generation lists exists
    val latest = Commit.latest(reader.pin.baseDir)
    val exists = (p: String) => java.nio.file.Files.exists(java.nio.file.Paths.get(p))
    val commitBad = latest.subs.map(Commit.Pin(reader.pin.baseDir, latest, _))
      .flatMap(p => p.dir +: p.deleteFiles).count(!exists(_)).toLong

    // every tombstone must reference a docId that exists SOMEWHERE in the
    // collection. Tombstones are collection-scoped: updateDocs writes a
    // delta-resident doc's tombstone into the BASE dir's deletes/, so the
    // anti-join must run against the union of docmeta across every
    // sub-index of the reader's generation, not this sub-index alone (else
    // a healthy updated index is flagged corrupt)
    val delFiles = reader.pin.deleteFiles.filter(exists)
    val delBad = if (delFiles.isEmpty) None else Some {
      val collectionDocs = reader.pin.gen.dirs(reader.pin.baseDir)
        .map(d => spark.read.parquet(s"$d/segments").select($"docId"))
        .reduce(_ union _)
      spark.read.parquet(delFiles: _*).select($"docId").distinct()
        .join(collectionDocs, Seq("docId"), "left_anti").count()
    }

    val rows = Seq(
      CheckResult("block_invariants", blockBad),
      CheckResult("block_ranges_disjoint", overlap),
      CheckResult("termdict_vs_postings", statsBad),
      CheckResult("docid_unique", docidDup),
      CheckResult("norm_matches_dl", normBad),
      CheckResult("collstats_consistent", collBad),
      CheckResult("commit_files_exist", commitBad)) ++
      shaBad.map(n => CheckResult("sha256_matches_source", n)) ++
      delBad.map(n => CheckResult("deletes_reference_live_segment", n))
    facts.unpersist(); dm.unpersist()
    spark.createDataset(rows)
  }
}
