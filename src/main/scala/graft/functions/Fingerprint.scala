package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** The rules the text fingerprint kernels share, each stated once here:
  * [[RollingFingerprint]], [[WinnowedFingerprints]],
  * [[WinnowedFingerprintsMd5]], [[CdcBoundaries]] and [[CdcChunkHashes]].
  *
  *  - Character: one Unicode code point of the UTF-8 text, the unit of
  *    Spark's `length`/`substr` and of the DuckDB oracles. [[starts]]
  *    finds them, so k characters are the bytes between two starts.
  *  - Gram hash: the Karp–Rabin hash h = Σ c_t·B^(k−1−t) over 2^64 of
  *    each k consecutive code points, B = 1000003, rolled in O(1) per
  *    character ([[grams]]).
  *  - Winnow (Schleimer et al., SIGMOD'03): the rightmost minimum, in
  *    unsigned order, of every `w` consecutive gram hashes, kept once
  *    ([[winnow]]). Any shared substring of at least w + k − 1
  *    characters shares a fingerprint: deterministic recall, where
  *    MinHash is probabilistic. O(len) through a monotonic deque.
  *  - CDC cut (LBFS/rsync, Muthitacharoen et al. SOSP'01): position i
  *    (1-based, i ≥ window) ends a chunk when the gram hash of the
  *    `window` characters ending at i equals the seed in its low
  *    `maskBits` bits ([[cuts]]); expected chunk length ≈ 2^maskBits.
  *    The hash is a function of the window's content alone. The seed
  *    sits in the predicate, never in the polynomial: folded into h it
  *    would ride along as seed·B^i, a function of absolute position, and
  *    the cuts of a prefix-shifted copy would never realign.
  *  - MD5: one digest per thread ([[md5]]). A gram's md5 hash is the
  *    first 8 bytes of its digest ([[md5Prefix]]), whose unsigned order
  *    is the order of the digest's first 16 lowercase hex characters.
  *  - Short text: a text too short for one gram is fingerprinted by its
  *    xxhash64, seed 7 ([[shortText]]).
  */
private[functions] object Fingerprint {
  private val B = 1000003L

  /** The byte offset of each code point of `bytes`, then `bytes.length`:
    * code point i is bytes `[s(i), s(i + 1))`. Every byte that is not a
    * continuation byte (10xxxxxx) starts one. */
  def starts(bytes: Array[Byte]): Array[Int] = {
    val s = new Array[Int](bytes.length + 1)
    var n = 0
    var b = 0
    while (b < bytes.length) {
      if ((bytes(b) & 0xC0) != 0x80) { s(n) = b; n += 1 }
      b += 1
    }
    s(n) = bytes.length
    if (n == bytes.length) s else java.util.Arrays.copyOf(s, n + 1)
  }

  /** Code point i of `bytes`, its bytes decoded. */
  private def codePoint(bytes: Array[Byte], s: Array[Int], i: Int): Int = {
    val lead = bytes(s(i))
    if (lead >= 0) return lead
    // 110xxxxx, 1110xxxx or 11110xxx
    var cp = if (lead < -32) lead & 0x1F else if (lead < -16) lead & 0x0F else lead & 0x07
    var b = s(i) + 1
    while (b < s(i + 1)) { cp = (cp << 6) | (bytes(b) & 0x3F); b += 1 }
    cp
  }

  /** The gram hash of each run of `k` code points, in text order: one
    * per start, none when the text has fewer than `k`. */
  def grams(bytes: Array[Byte], s: Array[Int], k: Int): Array[Long] = {
    val n = s.length - 1
    if (n < k) return Array.emptyLongArray
    var pow = 1L
    var i = 0
    while (i < k - 1) { pow *= B; i += 1 }
    val out = new Array[Long](n - k + 1)
    var h = 0L
    i = 0
    while (i < n) {
      if (i >= k) h -= codePoint(bytes, s, i - k) * pow
      h = h * B + codePoint(bytes, s, i)
      if (i >= k - 1) out(i - k + 1) = h
      i += 1
    }
    out
  }

  /** The winnowed fingerprints of the gram hashes `hs`, distinct, in
    * ascending signed order. Equal hashes in one window: the rightmost
    * is the one selected. */
  def winnow(hs: Array[Long], w: Int): Array[Long] = {
    val m = hs.length
    // indices whose hashes rise strictly front to back: popping equal
    // hashes keeps the rightmost of a tie
    val deque = new Array[Int](m)
    var lo = 0
    var hi = 0
    val picked = new Array[Long](m)
    var nPicked = 0
    var last = -1
    val firstRecord = math.min(w, m) - 1
    var p = 0
    while (p < m) {
      while (hi > lo && java.lang.Long.compareUnsigned(hs(deque(hi - 1)), hs(p)) >= 0) hi -= 1
      deque(hi) = p
      hi += 1
      if (deque(lo) <= p - w) lo += 1
      if (p >= firstRecord && deque(lo) != last) {
        last = deque(lo)
        picked(nPicked) = hs(last)
        nPicked += 1
      }
      p += 1
    }
    java.util.Arrays.sort(picked, 0, nPicked)
    var out = 0
    var i = 0
    while (i < nPicked) {
      if (out == 0 || picked(i) != picked(out - 1)) { picked(out) = picked(i); out += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(picked, out)
  }

  /** The CDC cut positions of the text, ascending, in (0, len]. */
  def cuts(bytes: Array[Byte], s: Array[Int], window: Int, maskBits: Int,
           seed: Long): Array[Int] = {
    val hs = grams(bytes, s, window)
    val mask = (1L << maskBits) - 1
    val target = seed & mask
    val out = new Array[Int](hs.length)
    var n = 0
    var j = 0
    while (j < hs.length) {
      if ((hs(j) & mask) == target) { out(n) = j + window; n += 1 }
      j += 1
    }
    java.util.Arrays.copyOf(out, n)
  }

  private val Md5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  /** The MD5 digest of bytes `[from, until)`. */
  def md5(bytes: Array[Byte], from: Int, until: Int): Array[Byte] = {
    val d = Md5.get()
    d.reset()
    d.update(bytes, from, until - from)
    d.digest()
  }

  private def long(d: Array[Byte], at: Int): Long = {
    var h = 0L
    var i = at
    while (i < at + 8) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
    h
  }

  /** The first 8 bytes of [[md5]], big-endian. */
  def md5Prefix(bytes: Array[Byte], from: Int, until: Int): Long =
    long(md5(bytes, from, until), 0)

  private def hexInto(h: Long, out: Array[Byte], at: Int): Unit = {
    var i = 0
    while (i < 16) {
      val nib = ((h >>> ((15 - i) << 2)) & 0xFL).toInt
      out(at + i) = (if (nib < 10) '0' + nib else 'a' + nib - 10).toByte
      i += 1
    }
  }

  /** `h` as 16 lowercase hex characters. */
  def hex16(h: Long): UTF8String = {
    val out = new Array[Byte](16)
    hexInto(h, out, 0)
    UTF8String.fromBytes(out)
  }

  /** The lowercase hex MD5 of bytes `[from, until)`, as Spark's `md5()`. */
  def md5Hex(bytes: Array[Byte], from: Int, until: Int): UTF8String = {
    val d = md5(bytes, from, until)
    val out = new Array[Byte](32)
    hexInto(long(d, 0), out, 0)
    hexInto(long(d, 8), out, 16)
    UTF8String.fromBytes(out)
  }

  /** The fingerprint of a text too short for one gram. */
  def shortText(text: UTF8String): Long = XxHash64Function.hash(text, StringType, 7L)
}
