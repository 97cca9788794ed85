package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.util.ArrayData

/** The engine's portable 60-bit hash in the JVM: the first 15 hex digits
  * of md5, as a long — `conv(substring(md5(x),1,15),16,10)` in Spark SQL
  * ([[graft.operators.Dedup.h60]]) and `CAST('0x' || substr(md5(x),1,15)
  * AS BIGINT)` in DuckDB. Every JVM caller (`Dedup.h60(String)`, the
  * window-hash kernels, the MinHash constants) reads it from here: one
  * thread-local digest, the value taken from the digest bytes without
  * the hex-string round-trip. */
object H60 {
  private val md = ThreadLocal.withInitial[MessageDigest](() => MessageDigest.getInstance("MD5"))
  private val Space = Array(' '.toByte)

  /** This thread's digest, reset: a call that threw mid-window (a null
    * token) leaves its input behind. */
  private def digest(): MessageDigest = { val d = md.get; d.reset(); d }

  /** The 60-bit value at byte `off` of digest `d`: bytes off..off+6 plus
    * the high nibble of byte off+7, i.e. the 15 hex digits from digit
    * 2·off+1. Offset 0 is the h60; offset 8 is
    * `conv(substring(md5(x),17,15),16,10)`, independent digest bits. */
  def at(d: Array[Byte], off: Int): Long = {
    var v = 0L
    var k = off
    while (k < off + 7) { v = (v << 8) | (d(k) & 0xffL); k += 1 }
    (v << 4) | ((d(off + 7) & 0xf0L) >>> 4)
  }

  /** The h60 of the UTF-8 bytes of `s`. */
  def apply(s: String): Long = at(digest().digest(s.getBytes("UTF-8")), 0)

  /** The number of n-token windows of `arr`: max(0, L−n+1). */
  def windowCount(arr: ArrayData, n: Int): Int = math.max(0, arr.numElements() - n + 1)

  /** Hashes window i of `arr` — `concat_ws(' ', w[i], …, w[i+n−1])`, whose
    * UTF-8 bytes are the tokens' bytes joined by 0x20 — with one md5 per
    * window: h1(i) = its h60 and, when `h2` is non-null, h2(i) = the
    * value at byte 8 of the same digest. Both arrays hold
    * [[windowCount]] slots. A null token throws, naming `kernel`: the
    * producers are `split()` results, which never hold null, and hashing
    * a null as "" would fabricate matches. */
  def windows(arr: ArrayData, n: Int, kernel: String, h1: Array[Long], h2: Array[Long]): Unit = {
    val md5 = digest()
    val d = new Array[Byte](16)
    var i = 0
    while (i < h1.length) {
      var j = 0
      while (j < n) {
        val w = arr.getUTF8String(i + j)
        if (w == null) throw new IllegalArgumentException(
          s"$kernel: null token in input array; tokens must be non-null")
        md5.update(w.getBytes)
        if (j < n - 1) md5.update(Space)
        j += 1
      }
      md5.digest(d, 0, 16) // resets md5
      h1(i) = at(d, 0)
      if (h2 != null) h2(i) = at(d, 8)
      i += 1
    }
  }
}
