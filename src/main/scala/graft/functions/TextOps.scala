package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.sql.catalyst.expressions.XXH64

/**
 * Static text kernels shared by interpreted eval and generated code.
 * Hashing is xxHash64 (Spark's own XXH64) — stable across JVMs and
 * partitions, no JVM-hashCode dependence, so results are reproducible on
 * any cluster layout.
 */
object TextOps {

  private final val Seed = 42L

  def hashToken(t: UTF8String): Long =
    XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, Seed)

  // -------------------------------------------------- md5-portable kernels
  //
  // The xxhash64 kernels above are the raw-throughput path, but DuckDB
  // cannot reproduce xxhash64-of-variable-length-STRING, so queries hashed
  // with them are only rows-checkable. Both engines share md5(VARCHAR):
  // these variants hash with md5 so every sketch is value-checkable against
  // the oracle ('0x' || substr(md5(s),1,16))::UBIGINT in DuckDB ≡
  // the first 8 digest bytes big-endian here.

  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 8 md5-digest bytes, big-endian, as a long (unsigned bit
    * pattern — ≡ parsing the first 16 hex chars of the md5 hex string). */
  def md5Hash64(t: UTF8String): Long = {
    val d = md5Digest.get()
    d.reset()
    val dig = d.digest(t.getBytes)
    var out = 0L
    var i = 0
    while (i < 8) { out = (out << 8) | (dig(i) & 0xFFL); i += 1 }
    out
  }

  /** First 60 bits of the md5 (15 hex chars): always non-negative, so it
    * compares identically as BIGINT in DuckDB and long here. */
  def md5Hash60(t: UTF8String): Long = md5Hash64(t) >>> 4

  /** Consistent-hash ring successor via BINARY SEARCH over the sorted
    * vnode hash array: the shard of the first vnode with hash ≥ `h`,
    * wrapping to index 0 past the last vnode — O(log V) per key, the
    * cost the ring scheme promises (vs the O(N·V) linear filter scan a
    * higher-order-function form pays). `hashes` must be ascending;
    * `shards(i)` is vnode i's owner. Both arrays are plan-constant
    * reference objects, shared across rows. */
  def ringSuccessor(h: Long, hashes: Array[Long], shards: Array[Long]): Long = {
    var lo = 0
    var hi = hashes.length // first index with hashes(idx) >= h, else length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (hashes(mid) >= h) hi = mid else lo = mid + 1
    }
    shards(if (lo == hashes.length) 0 else lo)
  }

  /**
   * k MinHash slot hashes of one shingle: ONE md5, then slot i =
   * splitmix64(md5 + i) >>> 4 — 60-bit non-negative values. 64× fewer
   * digest computations than hashing (slot, shingle) pairs, and still
   * oracle-portable: DuckDB mirrors the mixer with HUGEINT mod-2^64
   * arithmetic (the same mirror the LSH bucket oracle uses).
   */
  def md5Slots(t: UTF8String, k: Int): ArrayData = {
    val base = md5Hash64(t)
    val out = new Array[Long](k)
    var i = 0
    while (i < k) {
      out(i) = VecOps.mix64(base + i) >>> 4
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /**
   * 64-bit SimHash over a token array: per-token xxHash64 votes on each of
   * the 64 output bits; bit set iff positive majority. Near-duplicate docs
   * land within small Hamming distance (Charikar's scheme).
   */
  def simHash64(tokens: ArrayData): Long = simHashWith(tokens, hashToken)

  /** SimHash with md5 per-token hashes — the oracle-portable variant. */
  def simHash64Md5(tokens: ArrayData): Long = simHashWith(tokens, md5Hash64)

  private def simHashWith(tokens: ArrayData, hash: UTF8String => Long): Long = {
    val counts = new Array[Int](64)
    val n = tokens.numElements()
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = hash(tokens.getUTF8String(i))
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /**
   * Document fingerprint: minimum xxHash64 over a sliding byte window of
   * width `w` (the winnowing/MinHash-of-shingles idea collapsed to one
   * value). Equal fingerprints are a cheap first-pass near-dup signal.
   * Returns 0 for texts shorter than the window.
   */
  def minWindowHash(text: UTF8String, w: Int): Long = {
    val bytes = text.getBytes
    if (bytes.length < w) return 0L
    var min = Long.MaxValue
    var i = 0
    val last = bytes.length - w
    while (i <= last) {
      val h = XXH64.hashUnsafeBytes(bytes,
        org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + i, w, Seed)
      if (h < min) min = h
      i += 1
    }
    min
  }

  /**
   * Oracle-portable fingerprint: minimum md5-60-bit hash over a sliding
   * CHARACTER window of width `w`. Character (not byte) windows so DuckDB
   * can mirror it with substr() — both engines count code points — and the
   * md5 runs over each window's UTF-8 bytes in both. 0 when shorter than
   * the window.
   */
  def minWindowMd5(text: UTF8String, w: Int): Long = {
    val n = text.numChars()
    if (n < w) return 0L
    var min = Long.MaxValue
    var i = 1
    val last = n - w + 1
    while (i <= last) {
      val h = md5Hash60(text.substringSQL(i, w))
      if (h < min) min = h
      i += 1
    }
    min
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  private val SpaceSep = UTF8String.fromString(" ")

  /**
   * Word n-gram shingles of a token array: element i is tokens
   * i..i+n−1 joined by one space — byte-identical to
   * `concat_ws(' ', …)` over the same slice, which is what the DuckDB
   * oracles mirror with `array_to_string(t[i:i+n-1], ' ')`. Fewer than
   * `n` tokens → empty array. Tokens must be non-null (the tokenizers
   * guarantee it). One tight loop over UTF8String concats — the native
   * replacement for the interpreted `transform(sequence(...))` lambda
   * that previously forced repartition barriers around every shingle
   * consumer.
   */
  def wordShingles(tokens: ArrayData, n: Int): ArrayData = {
    val len = tokens.numElements()
    if (len < n) return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](len)
    var i = 0
    while (i < len) { toks(i) = tokens.getUTF8String(i); i += 1 }
    val out = new Array[Any](len - n + 1)
    i = 0
    while (i < len - n + 1) {
      val window = new Array[UTF8String](n)
      System.arraycopy(toks, i, window, 0, n)
      out(i) = UTF8String.concatWs(SpaceSep, window: _*)
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}
