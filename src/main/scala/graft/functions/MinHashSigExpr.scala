package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row one-permutation MinHash (OPH) signature: `array<bigint>` of
  * length `k` computed in ONE pass over the string's byte windows — the
  * engine's only MinHash kernel. Each window's hash
  * ([[ShingleHashing.hashRange]], the same function as the
  * [[ShingleHashes]] generator) lands in ONE of k bins (`mix64(h) mod k`)
  * and the bin keeps the minimum re-mixed value ([[MinHash.OphSalt]]):
  * one mix per shingle instead of k permutations. Empty bins are filled
  * by [[MinHash.densify]], so two signatures still estimate Jaccard by
  * component agreement. min() is duplicate-insensitive, so repeated
  * shingles need no distinct set.
  *
  * A map, not an aggregate: no shuffle and no state, so the same
  * expression serves the batch operators ([[graft.operators.Dedup]]),
  * Structured Streaming ([[graft.streaming.Streams]]) and SQL
  * (`graft_minhash(text, 5, 128)`, registered by [[graft.GraftExtensions]]).
  * A text with fewer than `n` bytes has no window and gets the
  * all-`Long.MaxValue` signature; callers drop such texts first
  * (`Dedup.minhashSigs`).
  */
case class MinHashSignature(child: Expression, n: Int, k: Int)
    extends UnaryExpression with CodegenFallback {

  require(n >= 1, "shingle length must be >= 1")
  require(k >= 1, "signature length must be >= 1")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_minhash expects a string, got ${child.dataType.simpleString}")

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val buf = Array.fill(k)(Long.MaxValue)
    val total = bytes.length - n + 1
    var p = 0
    while (p < total) {
      val v = MinHash.mix64(ShingleHashing.hashRange(bytes, p, n))
      val bin = java.lang.Long.remainderUnsigned(v, k.toLong).toInt
      val mixed = MinHash.mix64(v ^ MinHash.OphSalt)
      if (mixed < buf(bin)) buf(bin) = mixed
      p += 1
    }
    new GenericArrayData(MinHash.densify(buf, k))
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSignature =
    copy(child = newChild)
}
