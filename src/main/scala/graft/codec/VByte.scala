package graft.codec

/** Variable-byte ints, format-equal to the reference's DataOutput VInt/VLong
  * (low 7 bits first, 0x80 continuation flag on all but the last byte;
  * reference: lucene/core/src/java/org/apache/lucene/store/DataOutput.java:186-192).
  */
object VByte {

  final class Writer(initial: Int = 64) {
    private var buf = new Array[Byte](initial)
    private var len = 0
    private def ensure(n: Int): Unit =
      if (len + n > buf.length) {
        val nb = new Array[Byte](math.max(buf.length * 2, len + n))
        System.arraycopy(buf, 0, nb, 0, len); buf = nb
      }
    def writeVInt(v0: Int): Unit = {
      var i = v0; ensure(5)
      while ((i & ~0x7F) != 0) { buf(len) = ((i & 0x7F) | 0x80).toByte; len += 1; i >>>= 7 }
      buf(len) = i.toByte; len += 1
    }
    def writeVLong(v0: Long): Unit = {
      var i = v0; ensure(10)
      while ((i & ~0x7FL) != 0L) { buf(len) = ((i & 0x7F) | 0x80).toByte; len += 1; i >>>= 7 }
      buf(len) = i.toByte; len += 1
    }
    def size: Int = len
    def toBytes: Array[Byte] = java.util.Arrays.copyOf(buf, len)
    /** Append `n` pre-encoded bytes verbatim (the builder's positions fast
      * path: per-posting delta bytes are concatenated, never re-encoded). */
    def writeRaw(src: Array[Byte], from: Int, n: Int): Unit = {
      ensure(n); System.arraycopy(src, from, buf, len, n); len += n
    }
  }

  /** The first VInt of a byte array (e.g. SegPosting.pb's tf prefix). */
  def firstVInt(bytes: Array[Byte]): Int = new Reader(bytes).readVInt()

  /** ALL VInts in `bytes` — e.g. a SegPosting.pb, which is VInt(tf)
    * followed by tf position deltas (term-vector decode path). */
  def allVInts(bytes: Array[Byte]): Array[Int] = {
    val out = new scala.collection.mutable.ArrayBuffer[Int](8)
    val r = new Reader(bytes)
    while (r.pos < bytes.length) out += r.readVInt()
    out.toArray
  }

  /** Encoded size of a VInt (for exact-size buffer allocation). */
  def sizeVInt(v0: Int): Int = {
    var i = v0; var n = 1
    while ((i & ~0x7F) != 0) { n += 1; i >>>= 7 }
    n
  }

  /** Write a VInt into `buf` at `off0`; returns the new offset. */
  def putVInt(buf: Array[Byte], off0: Int, v0: Int): Int = {
    var i = v0; var off = off0
    while ((i & ~0x7F) != 0) { buf(off) = ((i & 0x7F) | 0x80).toByte; off += 1; i >>>= 7 }
    buf(off) = i.toByte
    off + 1
  }

  final class Reader(bytes: Array[Byte]) {
    private var p = 0
    def pos: Int = p
    def readVInt(): Int = {
      var b = bytes(p); p += 1
      var i = b & 0x7F
      var shift = 7
      while ((b & 0x80) != 0) {
        b = bytes(p); p += 1
        i |= (b & 0x7F) << shift
        shift += 7
      }
      i
    }
    def readVLong(): Long = {
      var b = bytes(p); p += 1
      var i = (b & 0x7FL)
      var shift = 7
      while ((b & 0x80) != 0) {
        b = bytes(p); p += 1
        i |= (b & 0x7FL) << shift
        shift += 7
      }
      i
    }
  }
}
