package graft.index

/** SolrCloud document routing — CompositeIdRouter / PlainIdRouter
  * (reference solr/solrj/src/java/org/apache/solr/common/cloud/
  * CompositeIdRouter.java:36-326, DocRouter.java Range,
  * HashBasedRouter.java): murmur3_x86_32 over the id maps a doc into the
  * signed 32-bit hash ring; composite ids `user!id` (16/16 bits),
  * `app!user!id` (8/8/16) and the `/bits` override take the top bits from
  * the route key so one tenant's docs co-locate, and a route key maps to
  * a RANGE of the ring for shard-targeted queries.
  *
  * Spark shape: shard = the doc's partition — `partitionRange(n)` gives
  * the ring split (the same 0x0000ffff-boundary rounding as the
  * reference so split shards stay aligned with route keys), `sliceHash`
  * the partitioning key, and `searchSlices` the partition-pruning
  * predicate for a route-key-restricted query.
  *
  * The reference hashes the UTF-16 CharSequence with a lazy UTF-8
  * variant (solr/solrj/.../util/Hash.java:300-370) that is
  * output-identical to murmur3_x86_32 over the string's UTF-8 bytes
  * (its own TestHash.testMurmurUtf8 asserts exactly that equivalence);
  * we hash the UTF-8 bytes directly.
  */
object CompositeId {

  /** murmur3_x86_32 (public Austin Appleby algorithm) over UTF-8 bytes. */
  def murmur3(s: String, seed: Int = 0): Int = {
    val data = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val c1 = 0xcc9e2d51; val c2 = 0x1b873593
    var h1 = seed
    val nblocks = data.length / 4
    var i = 0
    while (i < nblocks) {
      val base = i * 4
      var k1 = (data(base) & 0xff) | ((data(base + 1) & 0xff) << 8) |
        ((data(base + 2) & 0xff) << 16) | ((data(base + 3) & 0xff) << 24)
      k1 *= c1; k1 = Integer.rotateLeft(k1, 15); k1 *= c2
      h1 ^= k1; h1 = Integer.rotateLeft(h1, 13); h1 = h1 * 5 + 0xe6546b64
      i += 1
    }
    var k1 = 0
    val tail = nblocks * 4
    (data.length & 3) match {
      case 3 =>
        k1 ^= (data(tail + 2) & 0xff) << 16
        k1 ^= (data(tail + 1) & 0xff) << 8
        k1 ^= data(tail) & 0xff
      case 2 =>
        k1 ^= (data(tail + 1) & 0xff) << 8
        k1 ^= data(tail) & 0xff
      case 1 =>
        k1 ^= data(tail) & 0xff
      case _ =>
    }
    if ((data.length & 3) != 0) {
      k1 *= c1; k1 = Integer.rotateLeft(k1, 15); k1 *= c2; h1 ^= k1
    }
    h1 ^= data.length
    h1 ^= h1 >>> 16; h1 *= 0x85ebca6b; h1 ^= h1 >>> 13
    h1 *= 0xc2b2ae35; h1 ^= h1 >>> 16
    h1
  }

  /** DocRouter.Range: signed-int [min, max]. */
  final case class HashRange(min: Int, max: Int) {
    def includes(h: Int): Boolean = h >= min && h <= max
    def overlaps(o: HashRange): Boolean =
      includes(o.min) || includes(o.max) || o.includes(min)
  }
  val fullRange: HashRange = HashRange(Int.MinValue, Int.MaxValue)

  /** KeyParser (CompositeIdRouter.java:180-326): split on the first two
    * '!', optional '/bits' suffixes, 16 (two-level) or 8/8 (tri-level)
    * default bit allocation, hash('') for a trailing-'!' final piece. */
  private final class KeyParser(key: String) {
    private val partsList = {
      val pl = scala.collection.mutable.ArrayBuffer[String]()
      val first = key.indexOf('!')
      if (first == -1) pl += key
      else {
        pl += key.substring(0, first)
        val lastPos = key.length - 1
        if (first < lastPos) {
          val second = key.indexOf('!', first + 1)
          if (second == -1) pl += key.substring(first + 1)
          else if (second == lastPos) {
            // SOLR-6257 String.split back-compat: drop an empty middle
            if (first < second - 1) pl += key.substring(first + 1, second)
          } else {
            pl += key.substring(first + 1, second)
            pl += key.substring(second + 1)
          }
        }
      }
      pl
    }
    private var pieces = partsList.length
    private val parts = partsList.toArray
    private val numBits = new Array[Int](2)
    if (key.endsWith("!") && pieces < 3) pieces += 1
    private val hashes = new Array[Int](pieces)
    private val triLevel = pieces == 3
    if (triLevel) { numBits(0) = 8; numBits(1) = 8 } else numBits(0) = 16

    private def getNumBits(part: String, commaIdx: Int): Int = {
      var v = 0
      var idx = commaIdx + 1
      while (idx < part.length) {
        val ch = part.charAt(idx)
        if (ch < '0' || ch > '9') return -1
        v = v * 10 + (ch - '0')
        idx += 1
      }
      if (v > 32) -1 else v
    }

    {
      var i = 0
      while (i < pieces) {
        if (i < pieces - 1) {
          val commaIdx = parts(i).indexOf('/')
          if (commaIdx > 0) {
            numBits(i) = getNumBits(parts(i), commaIdx)
            parts(i) = parts(i).substring(0, commaIdx)
          }
        }
        hashes(i) = if (i >= parts.length) murmur3("") else murmur3(parts(i))
        i += 1
      }
    }

    private val masks: Array[Int] =
      if (triLevel) {
        val m = new Array[Int](3)
        m(0) = if (numBits(0) == 0) 0 else -1 << (32 - numBits(0))
        m(1) = (if (numBits(0) + numBits(1) == 0) 0
                else -1 << (32 - numBits(0) - numBits(1))) ^ m(0)
        m(2) = if (numBits(0) + numBits(1) == 32) 0 else ~(m(0) | m(1))
        m
      } else {
        val m = new Array[Int](2)
        m(0) = if (numBits(0) == 0) 0 else -1 << (32 - numBits(0))
        m(1) = if (numBits(0) == 32) 0 else -1 >>> numBits(0)
        m
      }

    def getHash: Int = {
      var result = hashes(0) & masks(0)
      var i = 1
      while (i < pieces) { result |= hashes(i) & masks(i); i += 1 }
      result
    }

    def getRange: HashRange = {
      var lowerBound =
        if (triLevel) (hashes(0) & masks(0)) | (hashes(1) & masks(1))
        else hashes(0) & masks(0)
      var upperBound = lowerBound | masks(if (triLevel) 2 else 1)
      if ((masks(0) == 0 && !triLevel) ||
          (masks(0) == 0 && masks(1) == 0 && triLevel)) {
        lowerBound = Int.MinValue; upperBound = Int.MaxValue
      }
      HashRange(lowerBound, upperBound)
    }
  }

  /** CompositeIdRouter.sliceHash: plain murmur3 without a '!'. */
  def sliceHash(id: String): Int =
    if (id.indexOf('!') < 0) murmur3(id) else new KeyParser(id).getHash

  /** Hash range covered by a route key (CompositeIdRouter.keyHashRange). */
  def keyHashRange(routeKey: String): HashRange =
    if (routeKey.indexOf('!') < 0) {
      val h = sliceHash(routeKey); HashRange(h, h)
    } else new KeyParser(routeKey).getRange

  /** Which shard a doc lands on (HashBasedRouter.hashToSlice). */
  def shardOf(id: String, shards: Seq[HashRange]): Int = {
    val h = sliceHash(id)
    shards.indexWhere(_.includes(h))
  }

  /** Shards a route-key-restricted query must touch
    * (CompositeIdRouter.getSearchSlicesSingle). */
  def searchShards(shardKey: Option[String], shards: Seq[HashRange]): Seq[Int] =
    shardKey match {
      case None => shards.indices
      case Some(k) if k.indexOf('!') < 0 =>
        Seq(shards.indexWhere(_.includes(murmur3(k))))
      case Some(k) =>
        val complete = new KeyParser(k).getRange
        shards.indices.filter(i => shards(i).overlaps(complete))
    }

  /** Split the ring into `partitions` ranges with the reference's
    * 0x...ffff boundary rounding (CompositeIdRouter.partitionRange:
    * 128-176, bits=16). */
  def partitionRange(partitions: Int, range: HashRange = fullRange,
                     bits: Int = 16): Seq[HashRange] = {
    val min = range.min; val max = range.max
    require(max >= min)
    if (partitions == 0) return Seq.empty
    val rangeSize = max.toLong - min.toLong
    val rangeStep = math.max(1L, rangeSize / partitions)
    val ranges = scala.collection.mutable.ArrayBuffer[HashRange]()
    val mask = 0x0000ffffL
    val round = rangeStep >= (1L << bits) * 16
    var start = min.toLong
    var end = start
    var targetStart = min.toLong
    var targetEnd = targetStart
    while (end < max) {
      targetEnd = targetStart + rangeStep
      end = targetEnd
      if (round && ((end & mask) != mask)) {
        val increment = 1L << bits
        val roundDown = (end | mask) - increment
        val roundUp = (end | mask) + increment
        end = if (end - roundDown < roundUp - end && roundDown > start) roundDown
              else roundUp
      }
      if (ranges.size == partitions - 1) end = max
      ranges += HashRange(start.toInt, end.toInt)
      start = end + 1L
      targetStart = targetEnd + 1L
    }
    ranges.toSeq
  }
}
