package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String

/** Generator emitting the DISTINCT 64-bit hashes of all character
  * `n`-shingles of a string — the streaming replacement for
  * `explode(array_distinct(transform(sequence(...), substring(...))))`,
  * which materializes an O(|text|) array of substring copies per row
  * before deduplicating. Here each shingle is hashed in place over the
  * UTF8 bytes (no substring allocation) and deduplicated through a
  * primitive open-addressing set, so memory per row is one long set of
  * size O(distinct shingles).
  *
  * Byte-windowed (not codepoint-windowed): canonicalized corpus text is
  * overwhelmingly ASCII where the two coincide; for multi-byte text the
  * shingle window is simply measured in bytes — fine for dedup sketching,
  * which only needs a consistent shingling function, not linguistic units.
  */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with Generator with CodegenFallback {

  override def elementSchema: StructType =
    StructType(StructField("shingle_hash", LongType, nullable = false) :: Nil)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingle_hashes expects a string, got ${child.dataType.simpleString}")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val s = child.eval(input).asInstanceOf[UTF8String]
    if (s == null) return Nil
    val bytes = s.getBytes
    val total = bytes.length - n + 1
    if (total <= 0) return Nil
    // guard the Int capacity arithmetic below: past 2^29 windows (a >512 MiB
    // document) total*2 would overflow, collapse the table to minimum size,
    // and the probe loop would spin forever — fail loud instead
    require(total <= (1 << 29),
      s"shingle_hashes: document with $total shingle windows exceeds the " +
        s"${1 << 29} limit; split oversized documents upstream")

    // open-addressing set of longs (power-of-two capacity, linear probe)
    var cap = Integer.highestOneBit(math.max(4, total * 2) - 1) << 1
    var table = new Array[Long](cap)
    var used = new Array[Boolean](cap)
    var size = 0
    val out = new java.util.ArrayList[InternalRow](math.min(total, 1024))

    def insert(h: Long): Boolean = {
      var idx = (MinHash.mix64(h) & (cap - 1)).toInt
      while (used(idx)) {
        if (table(idx) == h) return false
        idx = (idx + 1) & (cap - 1)
      }
      used(idx) = true
      table(idx) = h
      size += 1
      true
    }

    var p = 0
    while (p < total) {
      val h = hashRange(bytes, p, n)
      if (insert(h)) out.add(new GenericInternalRow(Array[Any](h)))
      p += 1
    }
    // silence "never resized" — capacity fixed at 2×total, load ≤ 0.5
    locally { val _ = (table, used, size) }
    import scala.jdk.CollectionConverters._
    out.asScala
  }

  private def hashRange(bytes: Array[Byte], off: Int, len: Int): Long =
    ShingleHashing.hashRange(bytes, off, len)

  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** Shared byte-window hashing — the shingle hash function used by the
  * [[ShingleHashes]] generator and the per-row [[MinHashSignature]]
  * expression. */
object ShingleHashing {
  /** 64-bit hash of bytes[off, off+len): two murmur32 passes with distinct
    * seeds combined — deterministic, allocation-free. */
  def hashRange(bytes: Array[Byte], off: Int, len: Int): Long = {
    val lo = Murmur3_x86_32.hashUnsafeBytes(
      bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off, len, 42)
    val hi = Murmur3_x86_32.hashUnsafeBytes(
      bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off, len, 0x9747b28c)
    MinHash.mix64((hi.toLong << 32) | (lo.toLong & 0xFFFFFFFFL))
  }
}
