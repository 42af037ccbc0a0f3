package graft

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

import graft.functions.{MinHash, ShingleHashing}

/** Test-side one-permutation MinHash references that the per-row
  * `MinHashSignature` kernel is pinned against. */
object OphReference {

  /** Bins one shingle hash into `buf`: one mix picks the bin, a salted
    * second mix is the value kept at that bin's minimum. */
  private def binMin(buf: Array[Long], shingleHash: Long, k: Int): Unit = {
    val v = MinHash.mix64(shingleHash)
    val bin = java.lang.Long.remainderUnsigned(v, k.toLong).toInt
    val mixed = MinHash.mix64(v ^ MinHash.OphSalt)
    if (mixed < buf(bin)) buf(bin) = mixed
  }

  /** Plain-Scala signature of an already canonical text: distinct byte-window
    * hashes → per-bin minimum → densify. */
  def signature(canon: String, n: Int, k: Int): Seq[Long] = {
    val bytes = canon.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val buf = Array.fill(k)(Long.MaxValue)
    (0 to bytes.length - n).map(ShingleHashing.hashRange(bytes, _, n)).distinct
      .foreach(binMin(buf, _, k))
    MinHash.densify(buf, k).toSeq
  }

  /** The same signature folded from a column of shingle hashes (one row per
    * shingle, e.g. `graft_shingle_hashes` output grouped by doc): per-bin
    * minima merge element-wise, empty bins densify at finish. */
  class Agg(k: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
    override def zero: Array[Long] = Array.fill(k)(Long.MaxValue)
    override def reduce(buf: Array[Long], shingleHash: Long): Array[Long] = {
      binMin(buf, shingleHash, k); buf
    }
    override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var i = 0
      while (i < k) { if (b(i) < a(i)) a(i) = b(i); i += 1 }
      a
    }
    override def finish(buf: Array[Long]): Array[Long] = MinHash.densify(buf, k)
    override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }
}
