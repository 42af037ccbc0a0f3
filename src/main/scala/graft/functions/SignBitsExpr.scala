package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Sign-random-projection bits for cosine LSH: bit `j` is 1 iff the dot
  * product of the input vector with deterministic pseudo-random hyperplane
  * `j` is positive. Plane component (j, i) is derived ON THE FLY as
  * `mix64(j·131071 + i·524287 + 17) / Long.MaxValue` — the same formula the
  * previous `typedlit` plane matrix materialized, but with no 1024-double
  * literal in the plan: that literal inflated generated code enough that
  * codegen compilation dominated the whole query at small scale (and every
  * executor compiled it again).
  *
  * Output is `array<int>` of 0/1 so downstream banding
  * (`Lsh.bandKeys`) reads it as any other signature array.
  */
case class SignBits(child: Expression, planes: Int)
    extends UnaryExpression with CodegenFallback {

  require(planes >= 1 && planes <= 64, "planes must be in [1, 64]")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"graft_sign_bits expects array<double>, got ${other.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = v.numElements()
    val bits = new Array[Int](planes)
    var j = 0
    while (j < planes) {
      var s = 0.0
      var i = 0
      while (i < n) {
        val p = MinHash.mix64(j.toLong * 131071L + i * 524287L + 17L).toDouble /
          Long.MaxValue.toDouble
        s += p * v.getDouble(i)
        i += 1
      }
      bits(j) = if (s > 0) 1 else 0
      j += 1
    }
    new GenericArrayData(bits)
  }

  override protected def withNewChildInternal(newChild: Expression): SignBits =
    copy(child = newChild)
}
