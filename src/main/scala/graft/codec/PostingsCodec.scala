package graft.codec

/** One compressed 128-posting block of one term's posting list.
  *
  * Layout (our design, inspired by but not copied from the reference's
  * Lucene50 codec — delta-gap + VByte per the north star, with the
  * reference's freq==1 folding `(delta<<1)|1`
  * [lucene/core/src/java/org/apache/lucene/codecs/lucene50/Lucene50PostingsWriter.java:332-343]
  * and 128-posting framing [Lucene50PostingsFormat.java:398]):
  *
  *  - docBytes: per posting, VLong((docId-prev)<<1 | (tf==1)), then
  *    VInt(tf) only when tf>1; prev starts at firstDoc so blocks are
  *    self-contained (decodable without earlier blocks = skip-list jumps).
  *  - nrmBytes: one raw BM25 norm byte per posting (denormalized from the
  *    doc side at build time so query-time scoring needs no docmeta join).
  *  - posBytes: per posting, tf VInts of position deltas.
  *
  * Block metadata doubles as the skip list + block-max WAND data
  * (reference analogs: MultiLevelSkipListWriter.java:31-62 for skipping;
  * SURVEY.md §4.3 for the block-max design): `maxPartial` is the max over
  * the block's postings of tf/(tf+cache[norm]) computed with the exact
  * query-time Float ops, so weight*maxPartial dominates every true score
  * in the block (float multiply by a positive is monotone) — pruning is
  * rank-safe.
  */
final case class PostingBlock(
    term: String,
    firstDoc: Long,
    lastDoc: Long,
    count: Int,
    maxTf: Int,
    sumTf: Long,
    maxPartial: Float,
    docBytes: Array[Byte],
    nrmBytes: Array[Byte],
    posBytes: Array[Byte])

/** One decoded posting. */
final case class Posting(docId: Long, tf: Int, positions: Array[Int], norm: Byte)

/** One pre-encoded posting, the form a posting keeps from invert to
  * block: `pb` = VInt(tf) ++ tf VInt position-deltas (the
  * graft.index.SegPosting layout). */
final case class PrePosting(docId: Long, norm: Byte, pb: Array[Byte])

/** One writer, [[PostingsCodec.encodePre]], frames every block: the
  * build's map and reduce sides and the WAND overlap repair, as the
  * reference's Lucene50PostingsWriter serves both flush and merge
  * (SegmentMerger.java:74-140, through FieldsConsumer.merge).
  * [[PostingsCodec.encode]] is the `Posting` adapter, kept for callers
  * that hold decoded postings. */
object PostingsCodec {

  /** 128, the reference's postings block size / skip interval
    * (Lucene50PostingsFormat.java:398). */
  final val BlockSize = 128

  /** The `Posting` adapter over [[encodePre]], kept for callers that
    * hold decoded postings (tests, perfbench's codec probe): each
    * posting's positions become its `pb` bytes, then the one writer
    * frames the blocks. */
  def encode(term: String, postings: Iterator[Posting],
             cache: Array[Float]): Iterator[PostingBlock] =
    encodePre(term, postings.map(p =>
      PrePosting(p.docId, p.norm, pb(p.positions, 0, p.positions.length))),
      cache)

  /** A posting's `pb` from ascending positions `positions[from, until)`:
    * VInt(tf) ++ delta-VByte positions, sized exactly (two cheap passes
    * beat a growable buffer + copy-out in the invert hot loop). */
  private[graft] def pb(positions: Array[Int], from: Int, until: Int): Array[Byte] = {
    val tf = until - from
    var size = VByte.sizeVInt(tf)
    var prev = 0
    var k = from
    while (k < until) { size += VByte.sizeVInt(positions(k) - prev); prev = positions(k); k += 1 }
    val out = new Array[Byte](size)
    var off = VByte.putVInt(out, 0, tf)
    prev = 0
    k = from
    while (k < until) { off = VByte.putVInt(out, off, positions(k) - prev); prev = positions(k); k += 1 }
    out
  }

  /** Encode one term's pre-encoded postings (sorted by docId asc) into
    * blocks. `pb`'s tf prefix goes to the doc stream; its position bytes
    * are concatenated into posBytes verbatim. `cache` is the 256-entry BM25 norm cache
    * k1*((1-b)+b*dl/avgdl) (BM25Similarity.java:200-212) used only for
    * the maxPartial bound; pass null to skip it (maxPartial = NaN). */
  def encodePre(term: String, postings: Iterator[PrePosting],
                cache: Array[Float]): Iterator[PostingBlock] = {
    val grouped = postings.grouped(BlockSize)
    grouped.map { chunk =>
      val docW = new VByte.Writer(chunk.size * 2)
      val posW = new VByte.Writer(chunk.size * 4)
      val nrm = new Array[Byte](chunk.size)
      var prev = chunk.head.docId
      val firstDoc = chunk.head.docId
      var maxTf = 0
      var sumTf = 0L
      var maxPartial = Float.NegativeInfinity
      var i = 0
      while (i < chunk.size) {
        val p = chunk(i)
        val tf = VByte.firstVInt(p.pb)
        val q = VByte.sizeVInt(tf)
        val delta = p.docId - prev
        prev = p.docId
        if (tf == 1) docW.writeVLong((delta << 1) | 1L)
        else { docW.writeVLong(delta << 1); docW.writeVInt(tf) }
        nrm(i) = p.norm
        posW.writeRaw(p.pb, q, p.pb.length - q)
        if (tf > maxTf) maxTf = tf
        sumTf += tf
        if (cache != null) {
          val f = tf.toFloat
          val partial = f / (f + cache(p.norm & 0xFF))
          if (partial > maxPartial) maxPartial = partial
        }
        i += 1
      }
      PostingBlock(term, firstDoc, prev, chunk.size, maxTf, sumTf,
        if (cache == null) Float.NaN else maxPartial,
        docW.toBytes, nrm, posW.toBytes)
    }
  }

  /** Decode a block back to pre-encoded postings, the inverse of
    * [[encodePre]]: each posting's position bytes are sliced out of
    * posBytes and prefixed with VInt(tf), never decoded to ints. */
  def decodePre(b: PostingBlock): Array[PrePosting] = {
    val out = new Array[PrePosting](b.count)
    val docR = new VByte.Reader(b.docBytes)
    val pos = b.posBytes
    var prev = b.firstDoc
    var start = 0
    var i = 0
    while (i < b.count) {
      val raw = docR.readVLong()
      val tf = if ((raw & 1L) == 1L) 1 else docR.readVInt()
      prev += (raw >>> 1)
      // tf VInts end at the tf bytes without the continuation bit
      var end = start
      var n = 0
      while (n < tf) { if ((pos(end) & 0x80) == 0) n += 1; end += 1 }
      val q = VByte.sizeVInt(tf)
      val bytes = new Array[Byte](q + end - start)
      VByte.putVInt(bytes, 0, tf)
      System.arraycopy(pos, start, bytes, q, end - start)
      out(i) = PrePosting(prev, b.nrmBytes(i), bytes)
      start = end
      i += 1
    }
    out
  }

  /** Decode a block back to postings (with positions). */
  def decode(b: PostingBlock): Array[Posting] = {
    val out = new Array[Posting](b.count)
    val docR = new VByte.Reader(b.docBytes)
    val posR = new VByte.Reader(b.posBytes)
    var prev = b.firstDoc
    var i = 0
    while (i < b.count) {
      val raw = docR.readVLong()
      val tf = if ((raw & 1L) == 1L) 1 else docR.readVInt()
      val docId = prev + (raw >>> 1)
      prev = docId
      val positions = new Array[Int](tf)
      var acc = 0
      var j = 0
      while (j < tf) { acc += posR.readVInt(); positions(j) = acc; j += 1 }
      out(i) = Posting(docId, tf, positions, b.nrmBytes(i))
      i += 1
    }
    out
  }

  /** Decode only (docId, tf, norm) triples — the scoring hot path
    * (positions skipped without parsing; posBytes untouched). */
  def decodeDocs(b: PostingBlock): (Array[Long], Array[Int], Array[Byte]) = {
    val docs = new Array[Long](b.count)
    val tfs = new Array[Int](b.count)
    val docR = new VByte.Reader(b.docBytes)
    var prev = b.firstDoc
    var i = 0
    while (i < b.count) {
      val raw = docR.readVLong()
      val tf = if ((raw & 1L) == 1L) 1 else docR.readVInt()
      prev += (raw >>> 1)
      docs(i) = prev; tfs(i) = tf
      i += 1
    }
    (docs, tfs, b.nrmBytes)
  }
}
