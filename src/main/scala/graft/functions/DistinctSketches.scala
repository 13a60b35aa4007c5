package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/* Mergeable distinct-count sketches over the md5-lower63 hash stream —
  * the cardinality companions to [[CountMinSketch]] (frequency). Both
  * are classic mergeable summaries: per-task partial buffers collapse
  * map-side, merge is order-independent, and a per-shard sketch union
  * equals the sketch of the union — exactly what a 100 TB profiling
  * pass needs (per-file sketches roll up to dataset cardinality with
  * no second scan). Inputs are [[Md5Hash.lower63]] values (uniform on
  * [0, 2⁶³)), so the DuckDB oracle can rebuild every register / kept
  * hash bit-exactly from the same md5 arithmetic.
  */

/** K-minimum-values (bottom-k) sketch — Bar-Yossef et al. 2002,
  * "Counting distinct elements in a data stream"; also the KMV
  * synopsis of Beyer et al. SIGMOD 2007. The buffer is a FIXED-length
  * array of the k smallest DISTINCT hashes seen, kept sorted
  * ascending and padded with Long.MaxValue sentinels (hash values are
  * 63-bit, so the sentinel can never collide with a real hash).
  * Fixed-length keeps the Spark buffer encoder flat and lets reduce
  * work in place: a row whose hash is ≥ the current k-th value is
  * rejected with one comparison (the common case once the sketch
  * saturates — acceptance rate decays to k/D), and an accepted hash
  * costs one binary search + one bounded arraycopy.
  *
  * The estimator — D̂ = (k−1)·2⁶³ / h₍ₖ₎ — is evaluated in the query
  * layer in scaled integer form, (k−1)·2⁵⁵ / (h₍ₖ₎ >> 8), so both
  * engines produce the identical BIGINT with no 128-bit arithmetic
  * (255·2⁵⁵ < 2⁶³ and the 8 dropped hash bits shift the estimate by
  * under 2⁻⁴⁷ relative).
  */
class KmvSketch(k: Int) extends Aggregator[Long, Array[Long], Seq[Long]] {
  require(k > 0 && k <= 65536, s"k=$k out of range")

  override def zero: Array[Long] = Array.fill(k)(Long.MaxValue)

  override def reduce(b: Array[Long], h: Long): Array[Long] = {
    if (h >= b(k - 1)) return b // ≥ current k-th (or sketch not full ⇒ MaxValue sentinel ⇒ never taken)
    var idx = java.util.Arrays.binarySearch(b, h)
    if (idx >= 0) return b // already present — KMV is over DISTINCT hashes
    idx = -idx - 1 // insertion point
    System.arraycopy(b, idx, b, idx + 1, k - idx - 1)
    b(idx) = h
    b
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    val out = new Array[Long](k)
    var i = 0; var j = 0; var o = 0
    while (o < k) {
      val x =
        if (a(i) < b(j)) { val v = a(i); i += 1; v }
        else if (b(j) < a(i)) { val v = b(j); j += 1; v }
        else { val v = a(i); i += 1; j += 1; v } // equal: keep once (incl. the MaxValue tail)
      out(o) = x; o += 1
    }
    out
  }

  override def finish(r: Array[Long]): Seq[Long] = r.toSeq.filter(_ != Long.MaxValue)

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()

  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}

/** HyperLogLog registers — Flajolet et al. 2007. p index bits ⇒
  * m = 2^p registers; register j keeps the max rank (position of the
  * highest set bit from the top) of the remaining 63−p hash bits.
  * With p index bits taken from the top of a 63-bit hash the word w
  * has 63−p significant bits, so rank(w) = (63−p+1) − bitlength(w)
  * and an all-zero word ranks 63−p+1. The query layer turns the
  * registers into an integer harmonic numerator
  * Σⱼ 2^(54−min(rank,54)) (≤ m·2⁵⁴ < 2⁶³ for p ≤ 8 — BIGINT-exact in
  * both engines) and applies the α·m²·2⁵⁴ / numer scaling as a fixed
  * textual chain of IEEE ×,÷ — deterministic across engines.
  *
  * finish() returns the raw m-register array: callers aggregate (and
  * merge groups by element-wise MAX, which this layer exposes simply
  * by re-running the registers through a MAX over posexploded rows).
  */
class HllRegisters(p: Int) extends Aggregator[Long, Array[Long], Seq[Long]] {
  require(p >= 4 && p <= 8, s"p=$p out of range (need m·2^54 to stay in BIGINT)")
  private val m = 1 << p
  private val wBits = 63 - p
  private val wMask = (1L << wBits) - 1

  override def zero: Array[Long] = new Array[Long](m)

  override def reduce(b: Array[Long], h: Long): Array[Long] = {
    val bucket = (h >>> wBits).toInt // top p bits of the 63-bit hash
    val w = h & wMask
    // rank = (wBits+1) − bitlength(w); bitlength via nlz on the 64-bit long:
    // bitlength(w) = 64 − nlz(w) for w>0, so rank = nlz(w) − (64 − wBits − 1).
    val rank =
      if (w == 0L) wBits + 1
      else java.lang.Long.numberOfLeadingZeros(w) - (63 - wBits)
    if (rank > b(bucket)) b(bucket) = rank.toLong
    b
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < m) { if (b(i) > a(i)) a(i) = b(i); i += 1 }
    a
  }

  override def finish(r: Array[Long]): Seq[Long] = r.toSeq

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()

  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}
