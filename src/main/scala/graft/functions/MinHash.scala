package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** SimHash aggregator: folds (termHash, weight) pairs into a 64-bit SimHash.
  * Buffer = 64 signed accumulators; bit j of the result is set iff the
  * weighted sum of bit-j contributions is positive. Constant-size buffer,
  * map-side partial aggregation — this cannot OOM on a huge document,
  * unlike the reference's per-group ArrayList buffering
  * (`CountTF.java:92-99`). */
class SimHashAgg extends Aggregator[(Long, Long), Array[Long], Long] {
  override def zero: Array[Long] = new Array[Long](64)

  override def reduce(buf: Array[Long], in: (Long, Long)): Array[Long] = {
    val (h, w) = in
    var j = 0
    while (j < 64) {
      buf(j) += (if (((h >>> j) & 1L) == 1L) w else -w)
      j += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var j = 0
    while (j < 64) { a(j) += b(j); j += 1 }
    a
  }

  override def finish(buf: Array[Long]): Long = {
    var sig = 0L
    var j = 0
    while (j < 64) { if (buf(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  override def bufferEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  override def outputEncoder: Encoder[Long] = Encoders.scalaLong
}

object MinHash {
  /** splitmix64 finalizer — good 64-bit avalanche, cheap, deterministic. */
  def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Deterministic per-bin salt for [[densify]]'s borrowed values. */
  def seed(i: Int): Long = mix64(0x5DEECE66DL * (i + 1))

  /** OPH bin update constant of the [[MinHashSignature]] expression. */
  val OphSalt = 0x6A09E667F3BCC909L

  /** OPH densification: fill each empty bin from the next non-empty bin
    * (rotating), salted by the bin index so borrowed values differ across
    * bins. */
  def densify(buf: Array[Long], k: Int): Array[Long] = {
    val out = new Array[Long](k)
    var i = 0
    while (i < k) {
      if (buf(i) != Long.MaxValue) out(i) = buf(i)
      else {
        var j = (i + 1) % k
        var hops = 0
        while (buf(j) == Long.MaxValue && hops < k) { j = (j + 1) % k; hops += 1 }
        out(i) = if (hops >= k) Long.MaxValue // all-empty (no shingles)
          else mix64(buf(j) ^ seed(i))
      }
      i += 1
    }
    out
  }

  /** Jaccard estimate from two equal-length signatures: fraction of agreeing
    * components. */
  def estimate(a: Seq[Long], b: Seq[Long]): Double = {
    var eq = 0
    var i = 0
    while (i < a.length) { if (a(i) == b(i)) eq += 1; i += 1 }
    eq.toDouble / a.length
  }
}
