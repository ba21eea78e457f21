package graft.index

import graft.analysis.{Analyzer, Analyzers, CompoundWords}

/** Input row shape (BASELINE.json input_hint): an Iceberg/parquet table of
  * source-code files. */
final case class DocInput(repo: String, path: String, commit: String,
                          lang: String, content: String)

/** Input row with an explicit doc-side partition (see IndexBuilder.build:
  * callers may provide `docPart` to fix the global docId order; a monotone
  * docPart over a monotone sort key makes internal docIds order-isomorphic
  * to the caller's canonical order — SURVEY.md §1.4). */
final case class PartedDocInput(docPart: Int, repo: String, path: String,
                                commit: String, lang: String, content: String)

/** One term's occurrences inside one doc (forward/segment layout).
  * `pb` = VInt(tf) ++ tf VInt position-deltas — the positions are
  * delta-VByte-encoded at INVERT time, so the global merge shuffle carries
  * ~2 bytes/occurrence instead of a 4-byte-int array plus a tf column, and
  * block posBytes are built by byte concatenation (never re-encoded). The
  * per-posting layout inside a block is identical (PostingsCodec posBytes),
  * making the segment row a zero-transcoding precursor of the index row. */
final case class SegPosting(term: String, pb: Array[Byte])

/** A fully inverted document: the per-partition "segment" row (reference
  * analog: one doc's contribution to a DocumentsWriterPerThread segment,
  * lucene/core/src/java/org/apache/lucene/index/DefaultIndexingChain.java:277-697).
  * docPart is the deterministic doc-side partition (docId >> DocIdShift).
  *
  * Two indexed fields, as in the reference's per-field model
  * (index/FieldInfos.java): `content` terms are stored bare; `path` terms
  * are stored as "path:<token>" (UAX#29 never emits ':' inside a token,
  * so the key spaces cannot collide). (dl, norm) are the content field's
  * length/norm; (pdl, pnorm) the path field's. */
final case class SegmentDoc(docId: Long, docPart: Int, repo: String,
                            path: String, commit: String, lang: String,
                            dl: Int, norm: Byte, pdl: Int, pnorm: Byte,
                            sha256: String,
                            postings: Array[SegPosting])

/** Columnar doc metadata (norms + stored-field keys; reference analogs:
  * norms lucene50/Lucene50NormsFormat.java, stored fields via join back to
  * the source table per SURVEY.md §2.1). */
final case class DocMeta(docId: Long, docPart: Int, repo: String,
                         path: String, commit: String, lang: String,
                         dl: Int, norm: Byte, sha256: String)

/** Per-term dictionary entry (BlockTree term-dict analog, SURVEY.md §2.3):
  * df/ttf drive idf; maxPartial is the term-level WAND upper-bound factor. */
final case class TermStats(term: String, bucket: Int, df: Long, ttf: Long,
                           maxTf: Int)

/** Collection-level stats (IndexSearcher.collectionStatistics analog,
  * search/IndexSearcher.java:836-847). maxDoc is the DOC COUNT (Lucene
  * maxDoc), not the max docId — our docIds are deterministic but sparse. */
final case class CollStats(maxDoc: Long, sumTotalTermFreq: Long)

/** ON-DISK block row: keyed by the 63-bit term key, NOT the term string.
  * Term text exists only in the dictionary (termstats) — the merge
  * shuffle and the postings files carry 8 fixed bytes per key where round
  * 2 carried a var-length string, and the within-partition (key, docId)
  * sort runs on Spark's 8-byte radix-sort prefix instead of byte-wise
  * string comparisons. Readers resolve query terms to keys driver-side
  * ([[TermKeys.of]]) and reattach the string, so the scorers get the
  * in-memory block type [[graft.codec.PostingBlock]] ([[IndexReader.blocks]]).
  * The reference analog: Lucene's postings files are keyed by term ORD
  * into the .tip/.tim dictionary, never by repeated term bytes
  * (lucene/core/src/java/org/apache/lucene/codecs/blocktree/
  * BlockTreeTermsWriter.java:118-160). */
final case class BlockRowK(key: Long, firstDoc: Long,
                           lastDoc: Long, count: Int, maxTf: Int,
                           sumTf: Long, maxPartial: Float,
                           docBytes: Array[Byte], nrmBytes: Array[Byte],
                           posBytes: Array[Byte]) {
  def withTerm(term: String): graft.codec.PostingBlock =
    graft.codec.PostingBlock(term, firstDoc, lastDoc, count, maxTf, sumTf,
      maxPartial, docBytes, nrmBytes, posBytes)
}

object BlockRowK {
  /** The on-disk row of `b` under term key `key` (the inverse of
    * [[BlockRowK.withTerm]]). */
  def of(key: Long, b: graft.codec.PostingBlock): BlockRowK =
    BlockRowK(key, b.firstDoc, b.lastDoc, b.count, b.maxTf, b.sumTf,
      b.maxPartial, b.docBytes, b.nrmBytes, b.posBytes)
}

object Ids {
  /** docId = (docPart << DocIdShift) | indexWithinPartition — deterministic
    * for a fixed numDocParts regardless of runtime parallelism (docIds are
    * a fixed total order used for tie-breaks, reference
    * search/HitQueue.java:76-81; density is not required). */
  final val DocIdShift = 40
  def docId(part: Int, idx: Long): Long = (part.toLong << DocIdShift) | idx
  def docPart(docId: Long): Int = (docId >> DocIdShift).toInt
}

/** Build configuration. Defaults sized for local[32] testing; at cluster
  * scale raise numDocParts/numBuckets/shufflePartitions proportionally. */
final case class IndexConfig(
    numDocParts: Int = 64,
    numBuckets: Int = 64,
    hotDfThreshold: Long = 50000L,
    saltShift: Int = 16,
    shufflePartitions: Int = 32,
    /** An [[Analyzers]] registry name. */
    analyzer: String = "standard",
    /** Also index each content token REVERSED under the "rev:" field
      * (Solr ReversedWildcardFilterFactory): leading-wildcard queries
      * then rewrite to a PREFIX scan of the rev dictionary instead of a
      * full-dictionary regex scan — the difference between O(matching
      * row groups) and O(vocabulary) at 10^8 terms. Costs one extra
      * posting per content posting. */
    reverseTokens: Boolean = false,
    /** Index-time synonym rules (reference synonym/SynonymFilter.java,
      * keepOrig=true): (lhs text, rhs alternative texts); both sides are
      * analyzed at build start. Injected tokens share the match-start
      * position (posInc=0), so phrases/spans match through synonyms on
      * the indexed side — what query-time expansion can't do. */
    synonyms: Seq[(String, Seq[String])] = Nil,
    /** Compound-decomposition dictionary (reference compound/
      * DictionaryCompoundWordTokenFilter.java): when non-empty, every
      * token >= 5 chars also indexes its dictionary subwords at the same
      * position (posInc=0, keepOrig) — single-constituent queries then
      * recall German/Dutch/Scandinavian compounds. */
    compoundDict: Seq[String] = Nil) {
  require(numDocParts > 0 && numBuckets > 0)
  Analyzers.check(analyzer)
}

/** The index-time analysis of one build, compiled once from its
  * [[IndexConfig]] (the reference's one Analyzer value per field): the
  * registry chain, the synonym rules compiled through that chain, the
  * compound dictionary and the reverse flag. [[IndexBuilder.invertDoc]]
  * runs it on every document. */
final case class IndexChain(analyze: Analyzers.Chain,
                            synRules: Seq[Analyzer.SynRule],
                            compoundDict: Set[String],
                            reverseTokens: Boolean) {
  /** One doc's content (terms, positions, dl). Synonym and compound
    * tokens are injected at their match's position (posInc=0 overlaps)
    * and never inflate dl, the norm's field length. */
  def apply(lang: String, content: String): (Array[String], Array[Int], Int) = {
    val (terms0, positions0) = analyze(lang, content)
    val (terms, positions, dl) =
      Analyzer.applySynonymsFlat(terms0, positions0, synRules)
    if (compoundDict.isEmpty) (terms, positions, dl)
    else {
      val (t, p, _) = CompoundWords.applyFlat(terms, positions, compoundDict)
      (t, p, dl)
    }
  }
}

object IndexChain {
  def of(cfg: IndexConfig): IndexChain = {
    val noStops = Analyzers.chain(cfg.analyzer, noStops = true)
    IndexChain(Analyzers.chain(cfg.analyzer),
      Analyzer.compileSynonyms(cfg.synonyms, noStops("en", _)._1),
      CompoundWords.compileDict(cfg.compoundDict), cfg.reverseTokens)
  }
}

object Buckets {
  /** Stable term -> bucket (computable driver-side for partition pruning;
    * plays the reference's FST term-dict seek role, SURVEY.md §2.1). */
  def of(term: String, numBuckets: Int): Int = {
    val h = term.hashCode % numBuckets
    if (h < 0) h + numBuckets else h
  }
}

/** 63-bit term key = xxhash64(term) with the sign bit cleared and bit 62
  * carrying the field (path vs content) so the post-shuffle encoder can
  * pick the right norm cache without the string. Computable BOTH as a
  * codegen'd Column (the build's shuffle key) and driver-side in plain
  * Scala (query-term resolution) — parity is exact because both sides
  * call Spark's own XXH64 with the xxhash64() default seed (42).
  *
  * Collisions: 62 bits of hash per field half-space; the dictionary
  * build groups the full vocabulary by key and ABORTS the build loudly
  * if any two distinct terms share one (expected collision count at a
  * 10^8-term vocabulary is ~1e-3 — and a poisoned index can never be
  * served silently because the guard runs before the `done` marker). */
object TermKeys {
  final val PathBit: Long = 1L << 62
  final val HashMask: Long = (1L << 62) - 1
  final val Seed: Long = 42L // xxhash64() Column default seed

  def of(term: String): Long = {
    val h = org.apache.spark.sql.catalyst.expressions.XXH64
      .hashUTF8String(org.apache.spark.unsafe.types.UTF8String.fromString(term), Seed)
    (h & HashMask) | (if (term.startsWith("path:")) PathBit else 0L)
  }

  /** Same function as [[of]] over a string Column (codegen'd, no UDF). */
  def column(term: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    xxhash64(term).bitwiseAND(lit(HashMask))
      .bitwiseOR(when(term.startsWith("path:"), lit(PathBit)).otherwise(lit(0L)))
  }

  def isPath(key: Long): Boolean = (key & PathBit) != 0L
}
