package graft.index

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.{Analyzers, StandardTokenizer}
import graft.codec.{PostingsCodec, PrePosting, SmallFloat}
import graft.search.BM25

/** Batch inverted-index build: input table -> per-partition segments ->
  * docmeta/stats -> global term-partitioned compressed postings.
  *
  * Spark-first design (SURVEY.md §7): the per-doc invert is a single
  * `mapPartitions` pass (the DefaultIndexingChain analog); the global merge
  * is ONE sort-merge shuffle `repartition(hash(bucket, salt)) +
  * sortWithinPartitions(term, docId)` (the SegmentMerger k-way merge analog,
  * lucene/core/src/java/org/apache/lucene/index/SegmentMerger.java:74-140);
  * hot terms (df >= hotDfThreshold) are salted by docId-range chunk so one
  * Zipfian term ("import", "return") cannot pin a single task — chunks are
  * disjoint docId ranges, so concatenating their self-contained blocks in
  * firstDoc order IS the merged posting list (the docBase-concatenation
  * trick of codecs/FieldsConsumer.java:90-100).
  *
  * The build is resumable: every stage writes a lineage JSON marker
  * after its data commits; a re-run skips completed stages. docIds
  * derive from a fixed hash-partitioning + canonical sort, never from
  * runtime state, so resumed builds are byte-identical.
  */
object IndexBuilder {

  private val sha = ThreadLocal.withInitial[MessageDigest](() =>
    MessageDigest.getInstance("SHA-256"))

  private val HexDigits = "0123456789abcdef".toCharArray

  def sha256Hex(s: String): String = {
    val d = sha.get().digest(s.getBytes(StandardCharsets.UTF_8))
    val out = new Array[Char](64)
    var i = 0
    while (i < 32) {
      out(2 * i) = HexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = HexDigits(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Path-field analysis: lowercase, split on any non-alphanumeric run
    * (path separators, dots, dashes). A keyword-ish chain — code-search
    * users match path SEGMENTS ("src", "scala", file stems). */
  def pathTokens(path: String): Array[String] =
    path.toLowerCase(java.util.Locale.ROOT)
      .split("[^a-z0-9]+").filter(_.nonEmpty)

  /** Indexed-term key of a path token (reference per-field term spaces,
    * index/FieldInfos.java — here encoded by key prefix). */
  def pathTerm(token: String): String = "path:" + token

  /** Reversed-token term key (reference
    * solr/core/src/java/org/apache/solr/analysis/ReversedWildcardFilterFactory.java,
    * lucene/analysis/common/.../reverse/ReverseStringFilter.java): the
    * "rev:" field carries each content token reversed, so a leading
    * wildcard becomes a prefix scan of this dictionary. */
  def revTerm(token: String): String = "rev:" + token.reverse

  def fieldOfTerm(term: String): String =
    if (term.startsWith("path:")) "path" else "content"

  /** The dictionary `term`s a multi-term pattern may expand into, per
    * field as in the reference's rewrite: a "path:" pattern only into
    * path terms, any other pattern never into "path:" or "rev:" terms (a
    * pattern need not anchor its field: fuzzy "pathlib" is 1 edit from
    * "path:lib"). */
  def fieldGuard(pattern: String): Column =
    if (pattern.startsWith("path:")) col("term").startsWith("path:")
    else !col("term").startsWith("path:") && !col("term").startsWith("rev:")

  /** Consecutive runs of a (key, docId)-sorted stream that share a key
    * and, for a hot key, a salt chunk (docId >> shift), as (key, run). A
    * run must break at salt boundaries: salt chunks of a hot term land in
    * different shuffle partitions, and a block's docId span must stay
    * inside ONE salt chunk so the exchange (hashed on the salt of
    * firstDoc) routes the whole block correctly. salt is monotone in docId
    * for one key, so the (key, docId) sort already groups it. */
  private def saltRuns[A](it: Iterator[A], hot: Set[Long], shift: Int)
                         (key: A => Long, doc: A => Long)
      : Iterator[(Long, ArrayBuffer[A])] = new Iterator[(Long, ArrayBuffer[A])] {
    private val buf = it.buffered
    def hasNext: Boolean = buf.hasNext
    def next(): (Long, ArrayBuffer[A]) = {
      val k = key(buf.head)
      val isHot = hot.contains(k)
      val salt = if (isHot) doc(buf.head) >> shift else 0L
      val run = ArrayBuffer.empty[A]
      while (buf.hasNext && key(buf.head) == k &&
          (!isHot || (doc(buf.head) >> shift) == salt))
        run += buf.next()
      (k, run)
    }
  }

  /** Merge one reduce-side run of same-(key, salt) pre-blocks into a
    * docId-ascending pre-encoded posting stream for the canonical
    * re-block. Map partitions are file-chunk bin-packs over docId-sorted
    * segments files, so two partitions' spans are almost always
    * disjoint: the fast path concatenates in firstDoc order. If
    * bin-packing ever interleaves chunk ranges, the fallback decodes the
    * run and sorts by docId (each pre-block is individually ascending,
    * so TimSort sees mostly-sorted input). Positions stay bytes
    * throughout ([[PostingsCodec.decodePre]]). Memory is bounded by one
    * (key, salt) run, compressed. */
  private[graft] def mergeRuns(
      run: scala.collection.Seq[BlockRowK]): Iterator[PrePosting] = {
    val sorted = run.sortBy(_.firstDoc)
    var disjoint = true
    var i = 1
    while (disjoint && i < sorted.length) {
      if (sorted(i - 1).lastDoc >= sorted(i).firstDoc) disjoint = false
      i += 1
    }
    def dec(b: BlockRowK): Array[PrePosting] =
      PostingsCodec.decodePre(b.withTerm(""))
    if (disjoint) sorted.iterator.flatMap(b => dec(b).iterator)
    else sorted.toArray.flatMap(dec).sortBy(_.docId).iterator
  }

  /** The [[Analyzers]] chain `analyzer` run on one text. `noStops` drops
    * stopword filtering, as synonym rule compilation does. Every chain
    * caps tokens at the default 255 chars, the only length accepted. */
  def chainFlat(analyzer: String, lang: String, content: String,
                maxTokenLength: Int,
                noStops: Boolean = false): (Array[String], Array[Int]) = {
    require(maxTokenLength == StandardTokenizer.DefaultMaxTokenLength,
      s"maxTokenLength must be ${StandardTokenizer.DefaultMaxTokenLength}")
    Analyzers.chain(analyzer, noStops)(lang, content)
  }

  /** Analyze one document into a SegmentDoc (terms grouped in-memory per
    * row — within-doc grouping needs no shuffle) through the build's
    * compiled `chain`. */
  def invertDoc(docId: Long, docPart: Int, repo: String, path: String,
                commit: String, lang: String, content: String,
                chain: IndexChain): SegmentDoc = {
    val (terms, positions, dl) = chain(lang, content)
    val postings = new scala.collection.mutable.ArrayBuffer[SegPosting](
      math.min(terms.length, 64))
    termRuns(terms, positions) { (t, pb) =>
      postings += SegPosting(t, pb)
      // rev field shares the content pb (same tf/positions; the doc's
      // content norm rides along at merge time), so the extra field is
      // pure posting volume, no re-encode
      if (chain.reverseTokens) postings += SegPosting(revTerm(t), pb)
    }
    // path field: its own term space ("path:"-prefixed), positions and
    // (pdl, pnorm) independent of the content field's
    val ptoks = pathTokens(path)
    val pdl = ptoks.length
    termRuns(ptoks, Array.range(0, pdl)) { (t, pb) =>
      postings += SegPosting(pathTerm(t), pb)
    }
    SegmentDoc(docId, docPart, repo, path, commit, lang, dl,
      SmallFloat.normByte(dl), pdl, SmallFloat.normByte(pdl),
      sha256Hex(content), postings.toArray)
  }

  /** One doc's tokens grouped by term, in term order: `emit(term, pb)`
    * once per distinct term, pb = [[PostingsCodec.pb]] of its ascending
    * positions. The group-by is an index sort ordered by (term, position)
    * — the position tiebreak guarantees positions ascend within each term
    * run even when synonym/compound injection emits tokens out of
    * position order. Primitive int sort: boxing would allocate ~nTok
    * objects per doc, pure GC churn at 2M docs/build. */
  private def termRuns(terms: Array[String], positions: Array[Int])
                      (emit: (String, Array[Byte]) => Unit): Unit = {
    val nTok = terms.length
    val idx = new Array[Int](nTok)
    var i = 0
    while (i < nTok) { idx(i) = i; i += 1 }
    sortIdxByTerm(idx, terms, positions, 0, nTok - 1)
    val sorted = new Array[Int](nTok)
    i = 0
    while (i < nTok) { sorted(i) = positions(idx(i)); i += 1 }
    i = 0
    while (i < nTok) {
      val t = terms(idx(i))
      var j = i + 1
      while (j < nTok && terms(idx(j)) == t) j += 1
      emit(t, PostingsCodec.pb(sorted, i, j))
      i = j
    }
  }

  /** In-place quicksort of `idx[lo..hi]` ordered by (terms(i), i). The
    * index tiebreak makes the comparator a total order, so the
    * (unstable) quicksort yields exactly the order the boxed stable sort
    * did. Insertion sort below 16 elements. */
  private def sortIdxByTerm(idx: Array[Int], terms: Array[String],
                            positions: Array[Int],
                            lo0: Int, hi0: Int): Unit = {
    // tiebreak by POSITION, not emission index: synonym/compound injection
    // can emit a term at an earlier position than a later original token
    // (e.g. usa->"united states of america" then an original "america"),
    // and the position-delta encoder (PostingsCodec.pb) requires positions ascending
    // within each term run — an emission-index tiebreak would write a
    // negative delta whose VInt round-trips into an unsorted position
    // array that phrase/span matchers silently mis-handle.
    @inline def less(a: Int, b: Int): Boolean = {
      val c = terms(a).compareTo(terms(b))
      c < 0 || (c == 0 && (positions(a) < positions(b) ||
        (positions(a) == positions(b) && a < b)))
    }
    var stack = List((lo0, hi0))
    while (stack.nonEmpty) {
      val (lo, hi) = stack.head
      stack = stack.tail
      if (hi - lo < 16) {
        var i = lo + 1
        while (i <= hi) {
          val v = idx(i)
          var j = i - 1
          while (j >= lo && less(v, idx(j))) { idx(j + 1) = idx(j); j -= 1 }
          idx(j + 1) = v
          i += 1
        }
      } else {
        // median-of-three pivot
        val mid = (lo + hi) >>> 1
        if (less(idx(mid), idx(lo))) { val t = idx(lo); idx(lo) = idx(mid); idx(mid) = t }
        if (less(idx(hi), idx(lo))) { val t = idx(lo); idx(lo) = idx(hi); idx(hi) = t }
        if (less(idx(hi), idx(mid))) { val t = idx(mid); idx(mid) = idx(hi); idx(hi) = t }
        val pivot = idx(mid)
        var i = lo
        var j = hi
        while (i <= j) {
          while (less(idx(i), pivot)) i += 1
          while (less(pivot, idx(j))) j -= 1
          if (i <= j) {
            val t = idx(i); idx(i) = idx(j); idx(j) = t
            i += 1; j -= 1
          }
        }
        if (lo < j) stack = (lo, j) :: stack
        if (i < hi) stack = (i, hi) :: stack
      }
    }
  }

  // ---- stage markers / lineage ----

  def markerPath(dir: String, stage: String): java.nio.file.Path =
    Paths.get(dir, "_lineage", s"$stage.json")

  def stageDone(dir: String, stage: String): Boolean =
    Files.exists(markerPath(dir, stage))

  /** Per-stage wall times of the most recent build in this JVM (driver
    * side; for scaling evidence — the per-stage 8-vs-32 ratios show
    * WHERE the machine ceiling bites). */
  private val stageTimes =
    new scala.collection.concurrent.TrieMap[String, Double]
  def lastStageTimes: Map[String, Double] = stageTimes.toMap
  def resetStageTimes(): Unit = stageTimes.clear()

  /** Wall-time a build stage; one line per stage on stderr (the
    * stage-level metrics the north rule's lineage markers carry). */
  private def timed[T](stage: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    val sec = (System.nanoTime() - t0) / 1e9
    stageTimes.put(stage, sec)
    System.err.println(f"[build] $stage%-16s $sec%6.2fs")
    r
  }

  /** One metric of a stage's marker, read driver-side with no Spark job
    * (None when the marker or the metric is absent). */
  def markerValue(dir: String, stage: String, metric: String): Option[Long] = {
    val p = markerPath(dir, stage)
    if (!Files.exists(p)) None
    else ("\"" + metric + "\":\\s*(\\d+)").r
      .findFirstMatchIn(Files.readString(p)).map(_.group(1).toLong)
  }

  def writeMarker(dir: String, stage: String, metrics: Map[String, Long]): Unit = {
    val p = markerPath(dir, stage)
    Files.createDirectories(p.getParent)
    val body = metrics.map { case (k, v) => s""""$k": $v""" }
      .mkString("{", ", ", s""", "stage": "$stage", "schemaVersion": 1}""")
    Files.writeString(p, body)
  }

  /** Full build. `input` must have columns repo, path, commit, lang,
    * content (extra columns ignored). If it also has an int `docPart`
    * column (values in [0, cfg.numDocParts)), that fixes the doc-side
    * partition; docId = (docPart << 40) | rank-within-docPart where rank
    * follows the canonical (repo, path, commit) sort — so a docPart that is
    * monotone in the caller's ordering yields internal docIds
    * order-isomorphic to it. Without the column, docPart =
    * pmod(hash(repo,path,commit), numDocParts) (Solr's murmur3 doc routing,
    * solr/solrj/.../CompositeIdRouter.java:55). Either way the assignment
    * is a pure function of the data — independent of runtime partitioning,
    * so a resumed build is byte-identical. Returns the index directory. */
  def build(spark: SparkSession, input: DataFrame, dir: String,
            cfg: IndexConfig = IndexConfig()): String = {
    import spark.implicits._

    // ---- stage 1: segments (invert; doc-partitioned forward index) ----
    val segPath = s"$dir/segments"
    if (!stageDone(dir, "segments")) timed("segments") {
      val chain = IndexChain.of(cfg)
      val nParts = cfg.numDocParts
      val parted = (
        if (input.columns.contains("docPart"))
          input.select($"docPart".cast("int"), $"repo", $"path", $"commit",
            $"lang", $"content")
        else input.select(
          pmod(hash($"repo", $"path", $"commit"), lit(nParts)).as("docPart"),
          $"repo", $"path", $"commit", $"lang", $"content"))
        .as[PartedDocInput]
      val segs = parted
        .repartition(cfg.numDocParts, $"docPart")
        .sortWithinPartitions($"docPart", $"repo", $"path", $"commit")
        .mapPartitions { it =>
          // one physical partition may hold several docPart groups (hash
          // collisions); the sort above groups them, so a group change
          // resets the within-group rank — no TaskContext dependence.
          var cur = Int.MinValue
          var idx = 0L
          it.map { d =>
            if (d.docPart < 0 || d.docPart >= nParts)
              throw new IllegalArgumentException(
                s"docPart ${d.docPart} outside [0, $nParts)")
            if (d.docPart != cur) { cur = d.docPart; idx = 0L }
            val sd = invertDoc(Ids.docId(cur, idx), cur, d.repo, d.path,
              d.commit, d.lang, d.content, chain)
            idx += 1
            sd
          }
        }
      val docsAcc = spark.sparkContext.longAccumulator("graft.docs")
      val tokAcc = spark.sparkContext.longAccumulator("graft.tokens")
      segs.map { s => docsAcc.add(1); tokAcc.add(s.dl); s }
        .write.mode("overwrite").option("compression", "zstd")
        .parquet(segPath)
      writeMarker(dir, "segments",
        Map("docs" -> docsAcc.value, "tokens" -> tokAcc.value))
    }
    lazy val segments = spark.read.parquet(segPath).as[SegmentDoc]
    // No separate docmeta stage: readers get docmeta by column-pruned
    // parquet scans of segments/ (the postings column chunks are never
    // read), so the build skips a full rewrite of every stored field.

    // ---- stage 2: collection stats (one pruned int-column scan) ----
    // NOT taken from the segments accumulators: accumulator values can
    // double-count under task retries/speculation, and avgdl must be
    // EXACT for rank identity.
    if (!stageDone(dir, "collstats")) timed("collstats") {
      val row = segments.agg(count(lit(1)), coalesce(sum($"dl"), lit(0L)),
        coalesce(sum($"pdl"), lit(0L))).head()
      val cs = CollStats(row.getLong(0), row.getLong(1))
      Seq(cs).toDS().write.mode("overwrite").parquet(s"$dir/collstats")
      Seq(FieldStats("content", row.getLong(1)),
        FieldStats("path", row.getLong(2))).toDS()
        .write.mode("overwrite").parquet(s"$dir/fieldstats")
      writeMarker(dir, "collstats",
        Map("maxDoc" -> cs.maxDoc, "sumTotalTermFreq" -> cs.sumTotalTermFreq,
          "pathSumTtf" -> row.getLong(2)))
    }
    val collStats = spark.read.parquet(s"$dir/collstats").as[CollStats].head()
    val pathSumTtf = spark.read.parquet(s"$dir/fieldstats").as[FieldStats]
      .collect().find(_.field == "path").map(_.sumTtf).getOrElse(0L)

    // ---- hot terms for salting: sampled df estimate ----
    // A term is hot when df >= hotDfThreshold; a deterministic doc sample
    // sized so a threshold-df term is expected >= 500 times finds the hot
    // set without exploding every posting (hot/not-hot affects only block
    // layout and skew, never results — IndexMaintenanceSpec proves both
    // extremes identical). Sample seed is fixed, the sampled frame is the
    // committed segments parquet, so resumes see the same hot set.
    // LAZY: the sampled scan + driver collect runs only when the postings
    // stage actually needs the hot set — an idempotent re-delivery of an
    // already-completed build skips it entirely instead of re-scanning
    // segments on every resume
    lazy val hotTerms: Set[String] = timed("hotterms") {
      val hs =
        if (cfg.hotDfThreshold > collStats.maxDoc) Set.empty[String]
        else {
          val f = math.min(1.0, 500.0 / cfg.hotDfThreshold)
          val sampled = if (f >= 1.0) segments else segments.sample(f, 42L)
          val minC = math.max(1L, math.ceil(cfg.hotDfThreshold * f).toLong)
          sampled.select(explode($"postings.term").as("term"))
            .groupBy($"term").agg(count(lit(1)).as("c"))
            .where($"c" >= minC)
            .select("term").as[String].collect().toSet
        }
      if (!stageDone(dir, "hotterms"))
        writeMarker(dir, "hotterms", Map("count" -> hs.size.toLong))
      hs
    }

    // ---- stage 4: global merge -> compressed blocks ----
    // per-field norm caches: the WAND bound (maxPartial) must be computed
    // with the same float ops AND the same field avgdl the query path uses
    val avgdl = BM25.avgFieldLength(collStats.sumTotalTermFreq, collStats.maxDoc)
    val cacheB = spark.sparkContext.broadcast(BM25.cache(avgdl))
    val pathCacheB = spark.sparkContext.broadcast(
      BM25.cache(BM25.avgFieldLength(pathSumTtf, collStats.maxDoc)))
    // One pass over every doc. The stage and its directory keep their
    // earlier names (`postings_wave_0`, `postings/wave=0`), so index dirs
    // already on disk stay readable and resumable.
    val postingsStage = "postings_wave_0"
    if (!stageDone(dir, postingsStage)) timed(postingsStage) {
      val shift = cfg.saltShift
      val postAcc = spark.sparkContext.longAccumulator("graft.postings")
      val blockAcc = spark.sparkContext.longAccumulator("graft.blocks")
      // Shuffle key = (termKey, salt): hashing keys spreads the merge
      // over ALL shuffle partitions at any parallelism, and salt still
      // splits hot terms into disjoint docId-range chunks. The row is
      // (key: Long, docId, pb, norm) — NO term string: the 63-bit
      // TermKeys key (field bit included) replaces the var-length term
      // bytes, cutting both the exchanged bytes and, more importantly,
      // the sort cost — (key, docId) sorts on Spark's 8-byte radix
      // prefix, where term strings fell back to byte-wise comparisons
      // on every shared prefix ("path:", common stems). Term text is
      // recovered ONLY in the dictionary stage (from the segments'
      // vocabulary) and at read time (from the query's own terms) —
      // the Lucene posture: postings files are keyed by term ord, the
      // .tim dictionary owns the bytes. Key locality for reads comes
      // from the within-partition (key, docId) sort: every file is
      // key-sorted, so parquet row-group min/max stats prune term
      // lookups (the BlockTree-seek analog). salt is a pure
      // PARTITIONING expression (hot set tiny by construction:
      // |hot| <= sumTtf/hotDfThreshold) — it steers the hash exchange
      // but is NOT materialized into the shuffled row; the encoder
      // re-derives it from (key, docId). tf rides inside pb (its VInt
      // prefix).
      val hotKeys: Set[Long] = hotTerms.map(TermKeys.of)
      val hotKeySeq = hotKeys.toSeq
      val hotB = spark.sparkContext.broadcast(hotKeys)
      // ---- map side: LOCAL (key, docId) sort + pre-block encode ----
      // Rounds 1-4 shuffled one Tungsten row PER POSTING: ~48 B of row
      // framing (null bits, fixed slots, var-length offsets) around a
      // ~4 B payload — 1558 B/doc on the wire. Now each map partition
      // sorts locally (sortWithinPartitions = spillable
      // UnsafeExternalSorter, NO exchange) and VByte-encodes 128-posting
      // PRE-BLOCKS, so the exchange carries the compressed postings
      // payload itself: row count drops ~100x for frequent terms and the
      // bytes are the codec's, not the row format's. maxPartial is NOT
      // computed here (cache = null): the reduce side re-derives it
      // during the canonical re-block, so no float work is wasted on
      // blocks that get re-blocked anyway.
      val preBlocks = segments
        .select($"docId", explode($"postings").as("p"), $"norm", $"pnorm")
        .select(TermKeys.column($"p.term").as("key"), $"docId",
          $"p.pb".as("pb"),
          // each posting carries ITS field's norm byte
          when($"p.term".startsWith("path:"), $"pnorm").otherwise($"norm")
            .as("norm"))
        .sortWithinPartitions($"key", $"docId")
        .as[(Long, Long, Array[Byte], Byte)]
        .mapPartitions { it0 =>
          IndexBuilder.saltRuns(it0, hotB.value, shift)(_._1, _._2)
            .flatMap { case (key, run) =>
              postAcc.add(run.length)
              PostingsCodec
                .encodePre("", run.iterator.map { case (_, docId, pb, norm) =>
                  PrePosting(docId, norm, pb)
                }, null)
                .map(BlockRowK.of(key, _))
            }
        }
      // ---- ONE exchange, now carrying compressed pre-blocks ----
      // Hot keys hash on the salt of firstDoc (valid: a pre-block never
      // spans a salt boundary, see above). Reduce groups consecutive
      // same-(key, salt) runs and re-blocks them into the CANONICAL
      // 128-posting block stream through the same writer (encodePre),
      // positions kept as bytes — byte-identical to the round-4 output,
      // so every reader/WAND/CheckIndex invariant is untouched. Map
      // partitions are file-chunk bin-packs, so two partitions' doc
      // ranges USUALLY don't interleave (segments files are docId-
      // sorted): the merge concatenates when spans are disjoint in
      // firstDoc order and falls back to a decode-merge-sort otherwise.
      val preSaltCol =
        if (hotKeySeq.isEmpty) lit(0L)
        else when($"key".isin(hotKeySeq: _*), shiftright($"firstDoc", shift))
          .otherwise(0L)
      val blocks = preBlocks
        .repartition(cfg.shufflePartitions, $"key", preSaltCol)
        .sortWithinPartitions($"key", $"firstDoc")
        .mapPartitions { it0 =>
          val cache = cacheB.value
          val pathCache = pathCacheB.value
          IndexBuilder.saltRuns(it0, hotB.value, shift)(_.key, _.firstDoc)
            .flatMap { case (key, run) =>
              val fieldCache = if (TermKeys.isPath(key)) pathCache else cache
              PostingsCodec
                .encodePre("", IndexBuilder.mergeRuns(run), fieldCache)
                .map { b => blockAcc.add(1); BlockRowK.of(key, b) }
            }
        }
      // zstd over snappy: ~20% fewer bytes through the (bandwidth-
      // bound) storage/shuffle path for a CPU cost that the scaling
      // bench shows is the better trade at high core counts
      blocks.write.mode("overwrite").option("compression", "zstd")
        .parquet(s"$dir/postings/wave=0")
      writeMarker(dir, postingsStage,
        Map("postings" -> postAcc.value, "blocks" -> blockAcc.value))
    }

    // ---- stage 5: term dictionary ----
    // Stats re-aggregated from block METADATA keyed by term key
    // (~postings/128 input rows — never a second full posting shuffle);
    // term STRINGS come from the segments' vocabulary (a column-pruned
    // scan of just postings.term with map-side-combined distinct), joined
    // back on the key. This is also where the 62-bit key space is
    // audited: any two distinct terms sharing a key ABORT the build
    // before the `done` marker — a collision would have interleaved two
    // posting lists in the merge, so the index must never be served.
    // (CheckIndex additionally cross-checks the dictionary against fully
    // DECODED postings, so stored block metadata can't drift unnoticed.)
    if (!stageDone(dir, "termstats")) timed("termstats") {
      val nb = cfg.numBuckets
      val keyAgg = spark.read.parquet(s"$dir/postings")
        .groupBy($"key")
        .agg(sum($"count").as("df"), sum($"sumTf").as("ttf"),
          max($"maxTf").as("maxTf"))
      // Term strings come from the pruned postings.term column. Shape
      // matters here: distinct() FIRST (HashAggregate with var-length
      // grouping key and NO aggregation buffers — stays on the fast
      // unsafe hash-map path, dedup happens map-side), THEN the
      // vocab-sized key agg whose min/max(term) buffers force the slower
      // ObjectHashAggregate — measured 2x faster than folding the
      // min/max into the 10^8-row pass. min != max per key <=> two
      // distinct terms share a 62-bit key. Cached so the clash probe and
      // the dictionary join are two actions over one pass.
      val vocab = segments.select(explode($"postings.term").as("term"))
        .distinct()
        .groupBy(TermKeys.column($"term").as("key"))
        .agg(min($"term").as("term"), max($"term").as("termHi"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val clash = vocab.where($"term" =!= $"termHi")
        .select($"term", $"termHi").limit(1).collect()
      if (clash.nonEmpty)
        throw new IllegalStateException(
          s"term-key collision: '${clash(0).getString(0)}' and " +
            s"'${clash(0).getString(1)}' share one 62-bit key — the merged " +
            "postings are poisoned; refusing to commit the index")
      vocab.select($"key", $"term").join(keyAgg, Seq("key"))
        .select($"term", $"df", $"ttf", $"maxTf")
        .as[(String, Long, Long, Int)]
        .map { case (t, df, ttf, mtf) =>
          TermStats(t, Buckets.of(t, nb), df, ttf, mtf) }
        // co-locate each bucket into one task before the partitionBy
        // write: without this every agg task writes a sliver of every
        // bucket directory (tasks x buckets tiny files — file-create
        // overhead was ~8% of the whole build and scaled at 0.94x);
        // with it the stage emits exactly numBuckets files. The
        // within-bucket TERM SORT makes each file's parquet row-group
        // min/max stats monotone in term, so prefix/range dictionary
        // expansions (PrefixQ/RangeQ/rev: leading wildcards) prune to
        // the matching row groups instead of scanning the whole
        // dictionary — the difference between O(matches) and O(vocab)
        // IO at a 10^8-term dictionary.
        .repartition($"bucket")
        .sortWithinPartitions($"term")
        .as[TermStats]
        .write.mode("overwrite").option("compression", "zstd")
        .partitionBy("bucket").parquet(s"$dir/termstats")
      vocab.unpersist()
      // readers check it: a lookup under another bucket count silently
      // misses terms (IndexReader.termStats)
      writeMarker(dir, "termstats", Map("numBuckets" -> nb.toLong))
    }

    if (!stageDone(dir, "done")) writeMarker(dir, "done", Map())
    dir
  }

  /** Append a delta batch as its own SUB-INDEX directory (the NRT
    * soft-commit analog: each micro-batch becomes a new immutable segment
    * set, made visible by re-opening a [[MultiIndexReader]] — reference
    * DirectoryReader.open(IndexWriter), index/DirectoryReader.java:85).
    *
    * `input` must carry a `docPart` column DISJOINT from the base index's
    * and every earlier delta's (callers offset by partsSoFar); that keeps
    * docIds globally unique so the union reader needs no remapping —
    * docBase concatenation again (codecs/FieldsConsumer.java:90-100).
    * Stage markers inside the delta dir make re-delivery of the same
    * batch idempotent (exactly-once sink semantics under foreachBatch
    * retries), and so does a committed tiered merge whose `replaces.txt`
    * names the batch: the merge serves it, even after its dir is gone. */
  def append(spark: SparkSession, input: DataFrame, baseDir: String,
             batchId: Long, cfg: IndexConfig): String = {
    val name = s"delta_$batchId"
    val dir = s"$baseDir/$name"
    // a tiered merge written before merges had their own names
    if (Files.exists(Paths.get(dir, "replaces.txt")))
      throw new IllegalStateException(s"cannot append batch $batchId: $dir is a tiered merge")
    if (!replacedDeltas(baseDir).contains(name)) build(spark, input, dir, cfg)
    dir
  }

  /** Single-writer lock (reference IndexWriter write.lock,
    * index/IndexWriter.java + store/NativeFSLockFactory.java — here a
    * plain atomic-create marker, which is what a driver-coordinated
    * batch pipeline needs): every MUTATING entry point (delete / update
    * / versioned update) runs under it; a second concurrent writer fails
    * fast instead of interleaving tombstone and delta commits. A crash
    * can leave a stale lock — clear it with [[unlock]] (the
    * IndexWriter.unlock analog) once no writer is running. */
  def withWriteLock[T](dir: String)(f: => T): T = {
    val lock = Paths.get(dir, "write.lock")
    try Files.createFile(lock)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"index $dir is locked by another writer (write.lock present); " +
            "if no writer is running this is a stale crash lock — clear " +
            "it with IndexBuilder.unlock(dir)")
    }
    try f finally Files.deleteIfExists(lock)
  }

  /** Remove a stale write.lock (IndexWriter.unlock analog). */
  def unlock(dir: String): Boolean =
    Files.deleteIfExists(Paths.get(dir, "write.lock"))

  /** Tombstone deletes (reference IndexWriter.deleteDocuments +
    * per-segment live-docs, index/IndexWriter.java / LiveDocsFormat):
    * append the docIds to `dir/deletes`; readers opened afterwards
    * anti-join them out of every result. Statistics intentionally keep
    * counting deleted docs until [[compact]] purges them — exactly the
    * reference's pre-merge semantics. Returns the number written. */
  def deleteDocs(spark: SparkSession, dir: String, docIds: DataFrame): Long =
    withWriteLock(dir) { deleteDocsLocked(spark, dir, docIds) }

  private def deleteDocsLocked(spark: SparkSession, dir: String,
                               docIds: DataFrame): Long = {
    import org.apache.spark.sql.functions.col
    // Materialize BEFORE the append: for delete-by-query the input plan
    // scans this index's own deletes dir, and Spark's recache-by-path
    // would re-evaluate the lazy plan against the post-write state (the
    // just-written tombstones anti-join themselves out and the returned
    // count under-reports) — same defense as updateDocsVersioned.
    val ids = docIds.select(col("docId").cast("long").as("docId"))
      .localCheckpoint(true)
    val n = ids.count()
    ids.write.mode("append").parquet(s"$dir/deletes")
    n
  }

  /** Delete-by-query (IndexWriter.deleteDocuments(Query)): every doc the
    * boolean query matches gets a tombstone. The reader must be a fresh
    * open over `dir` (the caller's serving reader keeps its point-in-time
    * view). */
  def deleteByQuery(spark: SparkSession, dir: String, cfg: IndexConfig,
                    q: graft.search.BoolQ): Long = withWriteLock(dir) {
    import spark.implicits._
    // whole-collection scope (Solr deleteByQuery): base PLUS every
    // committed delta sub-index — a bare IndexReader(dir) would silently
    // skip docs living in appended deltas
    val r = MultiIndexReader.open(spark, dir, cfg.numBuckets,
      cacheData = false)
    val matched = new graft.search.JoinScorer(r).scores(q)
      .map(_._1).toDF("docId")
    deleteDocsLocked(spark, dir, matched)
  }

  /** Atomic update (IndexWriter.updateDocument(Term, doc),
    * index/IndexWriter.java — Solr's atomic-update path resolves to the
    * same delete-by-term + add): tombstone every existing doc whose
    * unique key (repo, path) appears in `input`, then commit the new
    * versions as a delta sub-index. Old versions leave results at the
    * next reader open but keep counting in statistics until [[compact]]
    * merges them away — reference pre-merge semantics. `input` rows must
    * use FRESH docParts (disjoint from every committed sub-index), since
    * new versions get new internal docIds exactly as in Lucene. Returns
    * the delta dir, `update_<n>`. */
  def updateDocs(spark: SparkSession, baseDir: String, input: DataFrame,
                 cfg: IndexConfig): String =
    withWriteLock(baseDir) { updateDocsLocked(spark, baseDir, input, cfg) }

  private def updateDocsLocked(spark: SparkSession, baseDir: String,
                               input: DataFrame, cfg: IndexConfig): String = {
    import org.apache.spark.sql.functions.col
    val r = MultiIndexReader.open(spark, baseDir, cfg.numBuckets,
      cacheData = false)
    val old = r.docmeta.toDF()
      .join(input.select(col("repo"), col("path")).distinct(),
        Seq("repo", "path"), "left_semi")
      .select(col("docId"))
    deleteDocsLocked(spark, baseDir, old)
    // its own counter, as merges have theirs: an update that took the
    // next append id would make that stream batch a re-delivery no-op
    val dir = s"$baseDir/update_${nextId(baseDir, "update")}"
    build(spark, input, dir, cfg)
    dir
  }

  /** Optimistic-concurrency update (Solr _version_ semantics,
    * solr/update/processor/DistributedUpdateProcessor.java optimistic
    * locking — our content hash plays the _version_ role): each `input`
    * row carries `expectCommit`, the commit the caller believes is the
    * LIVE version of its (repo, path) key. Rows whose expectation matches
    * are applied atomically via [[updateDocs]]; stale rows (live version
    * moved, or doc deleted/absent) are REJECTED, exactly as Solr returns
    * HTTP 409. Returns (applied, conflicted). */
  def updateDocsVersioned(spark: SparkSession, baseDir: String,
                          input: DataFrame, cfg: IndexConfig): (Long, Long) =
      withWriteLock(baseDir) {
    import org.apache.spark.sql.functions.{col, max => fmax, struct}
    val r = MultiIndexReader.open(spark, baseDir, cfg.numBuckets,
      cacheData = false)
    // newest live version per key (max docId wins, as in realtimeGet)
    val live = r.liveOnly(r.docmeta.toDF()).groupBy(col("repo"), col("path"))
      .agg(fmax(struct(col("docId"), col("commit"))).as("v"))
      .select(col("repo"), col("path"), col("v.commit").as("liveCommit"))
    val joined = input.join(live, Seq("repo", "path"), "left")
    // localCheckpoint SEVERS the plan's dependency on the index files:
    // updateDocs is about to write new tombstones to baseDir/deletes, and
    // Spark's recache-by-path would otherwise re-evaluate this lazy plan
    // against the post-delete state (every expectation then looks stale
    // and the delta silently builds empty).
    val ok = joined.where(col("expectCommit") === col("liveCommit"))
      .drop("expectCommit", "liveCommit")
      .localCheckpoint(true)
    val nOk = ok.count()
    val nConflict = joined.count() - nOk
    if (nOk > 0) updateDocsLocked(spark, baseDir, ok, cfg)
    (nOk, nConflict)
  }

  /** Compact a base index + its appended deltas into one fresh index at
    * `outDir`, PURGING tombstoned docs (the TieredMergePolicy merge
    * analog, index/TieredMergePolicy.java — here a single full merge,
    * which is what a batch pipeline wants: deltas accumulate between
    * compactions, one shuffle folds them). docIds are preserved, so
    * callers' references stay valid; collection/term statistics are
    * recomputed over the SURVIVING docs only (post-merge reference
    * semantics — scores shift exactly as Lucene's do after a merge with
    * deletes). One [[rewrite]] of every committed sub-index. */
  def compact(spark: SparkSession, baseDir: String, outDir: String,
              cfg: IndexConfig): String = {
    rewrite(spark, baseDir, subIndexDirs(baseDir), cfg, purge = true)(
      segs => Seq(outDir -> segs))
    outDir
  }

  /** Shard split (SolrCloud SPLITSHARD — solr/core/src/java/org/apache/
    * solr/handler/admin/CollectionsHandler.java SPLITSHARD +
    * lucene/misc/.../IndexSplitter posture): split one index into two
    * independently searchable children at a docId boundary. Like the
    * reference, the children's postings are REBUILT per sub-range — here
    * by a [[rewrite]] that filters the per-doc segment rows of base +
    * deltas (a columnar scan, the cheap part) and re-runs only the stats +
    * merge stages per child; docIds are preserved, so a MultiIndexReader
    * over both children is float/rank-identical to the parent (global
    * stats come from the union — the same mechanism the NRT append view
    * uses). Pending deletes follow their docs into the matching child. */
  def splitShard(spark: SparkSession, baseDir: String,
                 outLo: String, outHi: String, midDocId: Long,
                 cfg: IndexConfig): (String, String) = {
    import org.apache.spark.sql.functions.col
    rewrite(spark, baseDir, subIndexDirs(baseDir), cfg, purge = false)(segs =>
      Seq(outLo -> segs.where(col("docId") < midDocId),
        outHi -> segs.where(col("docId") >= midDocId)))
    (outLo, outHi)
  }

  /** MultiPassIndexSplitter part assignment (reference misc/.../index/
    * MultiPassIndexSplitter.java:70-100): the doc's ordinal j in docID
    * order maps to a part — seq: part i covers ordinals
    * [i*partLen, (i+1)*partLen) with the LAST part absorbing the
    * remainder (partLen = maxDoc / numParts); round-robin (seq=false):
    * part = j % numParts (the reference keeps doc j in part i when
    * (j + numParts - i) % numParts == 0). Tombstoned docs keep their
    * ordinal slot upstream of this call but survive in no part (the
    * reference's FakeDeleteLeafIndexReader re-applies the original
    * liveDocs on every undeleteAll).
    *
    * The global ordinal is computed scale-safe: sort the (docId) column
    * and zipWithIndex per partition with partition offsets — a narrow
    * single-column sort, never a one-task window. */
  def multiPassAssign(docIds: org.apache.spark.sql.DataFrame, numParts: Int,
                      seq: Boolean): org.apache.spark.sql.DataFrame = {
    require(numParts >= 2, "Invalid number of outputs.")
    val spark = docIds.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, pmod, floor, least}
    val ords = docIds.select(col("docId").cast("long")).distinct()
      .orderBy("docId").as[Long].rdd
      .zipWithIndex().toDF("docId", "j")
    val maxDoc = ords.count()
    require(maxDoc >= 2, "Not enough documents for splitting")
    val partLen = maxDoc / numParts
    val part =
      if (seq) {
        // ordinal / partLen, capped so the remainder stays in the last
        // part; partLen 0 (fewer docs than parts) degenerates to the
        // reference behavior of everything landing in the last part
        if (partLen == 0L) lit((numParts - 1).toLong)
        else least(floor(col("j") / lit(partLen)), lit(numParts - 1L))
          .cast("long")
      } else pmod(col("j"), lit(numParts.toLong))
    ords.select(col("docId"), part.as("part"))
  }

  /** MultiPassIndexSplitter: materialize the N-way split as N child
    * indexes (the same [[rewrite]] as splitShard, whole-collection scope
    * incl. deltas, tombstones following their docs). The source is read
    * once per part, matching the reference's N-pass posture. */
  def multiPassSplit(spark: SparkSession, baseDir: String,
                     outDirs: Seq[String], seq: Boolean,
                     cfg: IndexConfig): Seq[String] = {
    import org.apache.spark.sql.functions.col
    rewrite(spark, baseDir, subIndexDirs(baseDir), cfg, purge = false) { segs =>
      // materialized once, so the N parts see one ordinal assignment
      val asg = multiPassAssign(segs.select("docId"), outDirs.length, seq)
        .localCheckpoint()
      outDirs.zipWithIndex.map { case (out, i) =>
        out -> segs.join(asg.where(col("part") === i.toLong).select("docId"),
          "docId", "left_semi")
      }
    }
    outDirs
  }

  /** The one sub-index rewrite behind [[compact]], [[compactTiered]],
    * [[splitShard]] and [[multiPassSplit]] (the reference's one
    * SegmentMerger pass): union the `sources`' already-inverted segment
    * rows once, read every committed sub-index's tombstones once, cut the
    * rows into `children` (outDir, rows) and commit each child's segments
    * stage before [[build]] runs the stats + merge stages. With `purge` (a
    * merge) tombstoned docs are dropped and stats recomputed; the
    * sources' tombstones for docs OUTSIDE them move into the child, as a
    * tiered merge deletes its sources. Without it (a split) each
    * tombstone follows its doc, so the children's summed stats are the
    * parent's. A child's `deletes/` precedes its segments marker. */
  private def rewrite(spark: SparkSession, baseDir: String,
                      sources: Seq[String], cfg: IndexConfig, purge: Boolean)
                     (children: DataFrame => Seq[(String, DataFrame)]): Unit = {
    val committed = subIndexDirs(baseDir)
    val delsOf: Map[String, DataFrame] = committed
      .filter(d => Files.exists(Paths.get(d, "deletes")))
      .map(d => d -> spark.read.parquet(s"$d/deletes").select("docId")).toMap
    val allDels = delsOf.values.reduceOption(_ union _)
    val segs = sources.map(d => spark.read.parquet(s"$d/segments"))
      .reduce(_ unionByName _)
    val rows =
      if (purge) allDels.fold(segs)(segs.join(_, Seq("docId"), "left_anti"))
      else segs
    val outside =
      if (!purge || committed.forall(sources.contains)) None
      else sources.flatMap(delsOf.get).reduceOption(_ union _)
        .map(_.join(segs.select("docId"), Seq("docId"), "left_anti"))
    children(rows).foreach { case (out, kept) =>
      kept.write.mode("overwrite").option("compression", "zstd")
        .parquet(s"$out/segments")
      val dels =
        if (purge) outside
        else allDels.map(_.join(spark.read.parquet(s"$out/segments")
          .select("docId"), Seq("docId"), "left_semi"))
      dels.map(_.distinct()).filterNot(_.isEmpty)
        .foreach(_.write.mode("overwrite").parquet(s"$out/deletes"))
      writeMarker(out, "segments", Map())
      build(spark, spark.emptyDataFrame, out, cfg)
    }
  }

  /** The committed sub-index directories of `baseDir`: the base, then
    * the deltas in append order. Every reader and maintenance call sees
    * exactly these. */
  def subIndexDirs(baseDir: String): Seq[String] = {
    // A sub-index is committed once its "done" marker exists: a build,
    // append or merge that crashed before it is skipped here, so
    // compact/splitShard never fold in docs no reader ever saw.
    // Tiered-compaction visibility pivot: a committed merged delta hides
    // the source deltas it replaced (replaces.txt, one dir name per
    // line). The done marker is the single atomic switch: before it the
    // sources serve and the half-built merge is skipped; after it the
    // merge serves and the sources are dead files awaiting cleanup — no
    // crash point shows duplicate or missing docs. Hidden dirs still
    // contribute their OWN replaces lists (a crash may leave a
    // replaced-but-not-yet-deleted dir that itself replaced others).
    val replaced = replacedDeltas(baseDir)
    Seq(baseDir).filter(stageDone(_, "done")) ++
      committedDeltas(baseDir).filterNot(f => replaced.contains(f.getName))
        .map(_.getAbsolutePath)
  }

  /** A delta sub-index dir name: an append's `delta_<batchId>`, a
    * tiered merge's `merge_<n>` or an update's `update_<n>`, each kind
    * numbered apart so neither a merge nor an update takes the id of a
    * batch still to come. (Updates written before they had their own name
    * are `delta_<n>` dirs and read as appends.) */
  private val DeltaName = "(delta|merge|update)_(\\d+)".r

  /** Every delta dir of `baseDir`, committed or not: the appends in id
    * order, then the merges, then the updates. */
  private def deltaDirs(baseDir: String): Seq[java.io.File] =
    Option(new java.io.File(baseDir).listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && DeltaName.matches(f.getName))
      .sortBy { f => val DeltaName(kind, id) = f.getName; (kind, id.toLong) }

  /** Every delta dir of `baseDir` with a done marker, in append order. */
  private def committedDeltas(baseDir: String): Seq[java.io.File] =
    deltaDirs(baseDir).filter(f => stageDone(f.getAbsolutePath, "done"))

  /** The delta dir names that committed tiered merges hide. */
  private def replacedDeltas(baseDir: String): Set[String] =
    committedDeltas(baseDir).flatMap(f => replacesOf(f.toPath)).toSet

  /** The dir names a merged delta's replaces.txt lists (none without
    * one). */
  private def replacesOf(dir: java.nio.file.Path): Seq[String] = {
    val p = dir.resolve("replaces.txt")
    if (!Files.exists(p)) Nil
    else Files.readAllLines(p).toArray(Array.empty[String]).toSeq
      .map(_.trim).filter(_.nonEmpty)
  }

  /** Next free append id: max over the delta_* names on disk or hidden
    * by a committed merge (a re-delivery no-op there), + 1. */
  def nextDeltaId(baseDir: String): Long = nextId(baseDir, "delta")

  private def nextId(baseDir: String, kind: String): Long =
    (deltaDirs(baseDir).map(_.getName) ++ replacedDeltas(baseDir)).collect {
      case DeltaName(`kind`, id) => id.toLong + 1L
    }.maxOption.getOrElse(0L)

  /** Tiered incremental compaction (reference
    * index/TieredMergePolicy.java:75-86: segsPerTier / maxMergeAtOnce /
    * floorSegmentBytes, sizes tiered on a log scale): merge ONLY when
    * some tier holds more than `segsPerTier` delta sub-indexes, and then
    * only that tier's smallest `maxMergeAtOnce` members — the base index
    * and every other delta stay byte-untouched (cold). The merged result
    * commits as a new `merge_<n>` delta whose replaces.txt + done marker
    * atomically hide the sources (see [[subIndexDirs]]). It is one
    * [[rewrite]]: tombstones covering merged docs are purged from the
    * merged data exactly like [[compact]] (the tombstone FILES of the
    * sub-indexes left in place stay — they no-op once their docs are gone
    * and a full compact clears them), and the sources' tombstones for
    * docs outside the merge move into the merged delta before it commits.
    * Returns the merged dir, or None when no tier exceeds the threshold
    * (the common steady-state call is free: one directory listing + one
    * tiny collstats read per delta). */
  def compactTiered(spark: SparkSession, baseDir: String, cfg: IndexConfig,
                    segsPerTier: Int = 10, maxMergeAtOnce: Int = 10,
                    floorDocs: Long = 4096L): Option[String] =
    withWriteLock(baseDir) {
      import spark.implicits._
      // a delta with replaces.txt but no done marker is a tiered merge
      // that crashed (only this call writes replaces.txt, under this
      // lock): nothing reads it, so drop it. A delta without replaces.txt
      // may be an append in flight and is never touched.
      deltaDirs(baseDir)
        .filter(f => Files.exists(f.toPath.resolve("replaces.txt")) &&
          !stageDone(f.getAbsolutePath, "done"))
        .foreach(f => deleteRecursively(f.toPath))
      val deltas = subIndexDirs(baseDir).filterNot(_ == baseDir) // base is always cold
      val group: Option[Seq[String]] =
        if (deltas.size <= segsPerTier) None
        else {
          // sizes come from the collstats lineage MARKER (a driver-side
          // file read, the segments_N posture) — a Spark job per delta
          // would make the steady-state no-op call cost 1 job per
          // sub-index
          val sized = deltas.map { d =>
            d -> markerValue(d, "collstats", "maxDoc").getOrElse(
              spark.read.parquet(s"$d/collstats").as[CollStats].head().maxDoc)
          }
          val byTier = sized.groupBy { case (_, n) =>
            math.floor(math.log10(math.max(n, floorDocs).toDouble)).toInt
          }
          byTier.toSeq.sortBy(_._1).collectFirst {
            case (_, members) if members.size > segsPerTier =>
              members.sortBy { case (d, n) => (n, d) }
                .take(maxMergeAtOnce).map(_._1)
          }
        }
      group.map { srcs =>
        val out = s"$baseDir/merge_${nextId(baseDir, "merge")}"
        // what the merge hides: its sources and every name they hide, gone
        // or not — a dir a crash left must not come back, and a batch
        // merged generations ago must stay a re-delivery no-op
        val hidden = srcs.map(Paths.get(_)).flatMap(d =>
          d.getFileName.toString +: replacesOf(d))
        // replaces.txt first: only the done marker the rewrite ends with
        // makes the merge, and with it the hiding, visible
        Files.createDirectories(Paths.get(out))
        Files.writeString(Paths.get(out, "replaces.txt"), hidden.mkString("\n"))
        rewrite(spark, baseDir, srcs, cfg, purge = true)(
          segs => Seq(out -> segs))
        // the hidden dirs are invisible now — cleanup is safe and
        // best-effort (a crash here just leaves dead files)
        hidden.foreach(n => deleteRecursively(Paths.get(baseDir, n)))
        out
      }
    }

  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit = {
    if (Files.isDirectory(p))
      Option(p.toFile.listFiles()).toSeq.flatten
        .foreach(f => deleteRecursively(f.toPath))
    Files.deleteIfExists(p)
  }

}
