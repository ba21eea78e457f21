package graft.perfbench

import java.nio.file.{Files, Paths}

import graft.codec.{Posting, PostingBlock, PostingsCodec}
import graft.index._
import graft.search._

/** Calls the traced run makes into each layer on its own, after the timed
  * loop, so that every layer is measured on every workload's index. */
object LayerProbe {
  val Passes = 5

  /** Spark storage memory held by cached datasets, in MB. */
  def cacheMb(spark: org.apache.spark.sql.SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / (1024.0 * 1024.0)

  def compactTiered(b: Bench, dir: String, cfg: IndexConfig, segsPerTier: Int): Unit = {
    val merged = b.rec("index.maintain.compact_tiered")(
      IndexBuilder.compactTiered(b.spark, dir, cfg, segsPerTier))
    (if (merged.isDefined) b.compactMs else b.noopCompactMs) += b.rec.lastMs
  }

  /** `IndexBuilder.chainFlat` over a fixed CorpusGen sample, one thread. */
  def analysis(b: Bench): Unit = {
    val docs = (0 until 2000).map(i => CorpusGen.row(b.seed, i.toLong))
    val rates = (0 until Passes).map { _ =>
      var tokens = 0L
      b.rec("analysis.chain_flat")(docs.foreach { d =>
        tokens += IndexBuilder.chainFlat("standard", d.lang, d.content, 255)._1.length
      })
      tokens / (b.rec.lastMs / 1000)
    }
    b.report.put("analysis.tokens_per_s", Stats.median(rates), "tokens/s", Passes)
  }

  /** `PostingsCodec.decode` and `encode` over the index's own blocks of
    * `terms`, one thread; bytes per posting from the files on disk. */
  def codec(b: Bench, reader: SearchReader, dir: String, terms: Seq[String]): Unit = {
    val blocks = reader.blocks(terms).collect().map(r =>
      PostingBlock(r.term, r.firstDoc, r.lastDoc, r.count, r.maxTf, r.sumTf,
        r.maxPartial, r.docBytes, r.nrmBytes, r.posBytes))
    val postings = blocks.map(_.count.toLong).sum
    var decoded: Array[Array[Posting]] = Array.empty
    val dec = (0 until Passes).map { _ =>
      decoded = b.rec("codec.decode")(blocks.map(PostingsCodec.decode))
      postings / (b.rec.lastMs / 1000)
    }
    val byTerm = blocks.map(_.term).zip(decoded).groupBy(_._1).toSeq
      .map { case (t, xs) => t -> xs.flatMap(_._2) }
    val enc = (0 until Passes).map { _ =>
      b.rec("codec.encode")(byTerm.foreach { case (t, ps) =>
        PostingsCodec.encode(t, ps.iterator, reader.normCache).foreach(_ => ())
      })
      postings / (b.rec.lastMs / 1000)
    }
    b.report.put("codec.decode_postings_per_s", Stats.median(dec), "postings/s", Passes)
    b.report.put("codec.encode_postings_per_s", Stats.median(enc), "postings/s", Passes)
    val Postings = """"postings":\s*(\d+)""".r.unanchored
    val subs = IndexBuilder.subIndexDirs(dir)
    val onDisk = subs.map(d => Fixture.dirBytes(s"$d/postings")).sum
    val count = subs.flatMap { d =>
      Option(Paths.get(d, "_lineage").toFile.listFiles()).toSeq.flatten
        .filter(_.getName.startsWith("postings_wave_"))
        .map(f => Files.readString(f.toPath) match {
          case Postings(n) => n.toLong
          case _ => 0L
        })
    }.sum
    b.report.put("codec.bytes_per_posting", onDisk.toDouble / math.max(1L, count), "B")
  }

  /** Reader and search calls timed on their own (termStats, blocks,
    * rewrite, and the per-class latency of any class the loop missed),
    * then the codec probe on the blocks of the queries' hot terms. */
  def queries(b: Bench, reader: SearchReader, dir: String, qs: Seq[BenchQuery],
              fresh: Boolean = false): Unit = {
    if (fresh) b.firstQuery(qs.head, reader)
    Queries.Classes.filter(c => b.rec.wallMs(s"search.$c").size < 3).foreach { c =>
      val ofClass = qs.filter(_.cls == c)
      (0 until 3).foreach(i => Queries.execute(b, ofClass(i % ofClass.size), reader))
    }
    var fetched, returned = 0L
    qs.foreach { q =>
      val terms = termsOf(q.parsed)
      b.rec("index.reader.termstats")(reader.termStats(terms))
      fetched += b.rec("index.reader.blocks")(reader.blocks(terms).collect().length)
      returned += Queries.execute(b, q, reader, record = false).length
      b.rec("search.rewrite")(new JoinScorer(reader).rewrite(q.parsed))
    }
    b.report.put("index.reader.blocks_per_result",
      fetched.toDouble / math.max(1L, returned), "ratio", qs.size)
    val hot = qs.filter(_.cls == "wand_hot").flatMap(q => termsOf(q.parsed)).distinct
    codec(b, reader, dir, hot)
  }

  def termsOf(q: BoolQ): Seq[String] = q.clauses.map(_._2).collect {
    case TermQ(t) => t
    case BoostQ(TermQ(t), _) => t
  }

  /** One maintenance round on a workload's index: re-version 200 keys,
    * tombstone 5 docs, a tiered compaction with nothing to merge, and one
    * forced merge of the new delta. */
  def maintain(b: Bench, dir: String, docs: Long): Unit = {
    val spark = b.spark
    import spark.implicits._
    val part = Fixture.DocParts
    val input = (0 until 200).map { k =>
      val r = (k * 97L) % docs
      val d = CorpusGen.row(b.seed, r)
      (part, d.repo, d.path, s"probe-$r", d.lang, CorpusGen.content(b.seed + 7, r)._2)
    }.toDF("docPart", "repo", "path", "commit", "lang", "content")
    val cfg = Fixture.cfg(200).copy(numDocParts = part + 1)
    b.rec("index.maintain.update")(IndexBuilder.updateDocs(spark, dir, input, cfg))
    val ids = new IndexReader(spark, dir, Fixture.Buckets, cacheData = false)
      .docmeta.select("docId").orderBy("docId").limit(5).as[Long].collect()
    b.rec("index.maintain.delete")(IndexBuilder.deleteDocs(spark, dir, ids.toSeq.toDF("docId")))
    compactTiered(b, dir, cfg, 10)
    compactTiered(b, dir, cfg, 0)
    b.subIndexes += IndexBuilder.subIndexDirs(dir).size
  }
}
