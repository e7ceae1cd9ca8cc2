package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types._

/** All ordered index pairs (i < j) of a long array, packed as
  * `a(i) * 2^32 + a(j)` — a native codegen replacement for the
  * interpreted pipeline
  * `flatten(transform(a, (x, i) -> transform(slice(a, i + 2, size(a)),
  * y -> x * 4294967296L + y)))`, which allocates an O(n) slice COPY per
  * element (O(n²) copied cells per array) and walks every cell through
  * per-element lambda dispatch. Output order and 64-bit wrapping
  * arithmetic are bit-identical to the higher-order form, so plans built
  * on either produce the same rows (q_graph_jaccard's oracle replays the
  * same packing in DuckDB).
  *
  * Null semantics mirror the HOF exactly: NULL array → NULL; a NULL
  * element makes each pair involving it NULL (x*k+NULL). The non-null
  * fast path (always, for collect_list inputs) emits one primitive
  * long[] with zero boxing.
  */
case class PackedPairs(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<bigint>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullSafeEval(v: Any): Any = PairKernel.compute(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // PairKernel is a standalone object (no companion class), so scalac
    // emits a STATIC forwarder janino can resolve
    defineCodeGen(ctx, ev, a => s"graft.functions.PairKernel.compute($a)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_packed_pairs"
}

object PairKernel {
  /** n(n-1)/2, the output length for an n-element input. It must stay an
    * addressable array length, which bounds n at 65536 (65536*65535/2 =
    * 2147450880). Computed in Long — the Int product n*(n-1) already
    * wraps negative at n = 46342 — and narrowed only after the guard.
    */
  def pairCount(n: Int): Int = {
    val m = n.toLong * (n - 1) / 2
    require(m <= Int.MaxValue, s"graft_packed_pairs input too large: $n elements")
    m.toInt
  }

  /** static so generated code can call it directly — the pair loop is a
    * tight primitive nest either way; codegen only removes the eval()
    * boxing around it.
    */
  def compute(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val m = pairCount(n)
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = a.isNullAt(i); i += 1 }
    if (!hasNull) {
      val vs = a.toLongArray()
      val out = new Array[Long](m)
      var k = 0
      i = 0
      while (i < n) {
        val x = vs(i) * 4294967296L // wraps like the HOF's long multiply
        var j = i + 1
        while (j < n) { out(k) = x + vs(j); k += 1; j += 1 }
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    } else {
      val out = new Array[Any](m)
      var k = 0
      i = 0
      while (i < n) {
        val xn = a.isNullAt(i)
        val x = if (xn) 0L else a.getLong(i) * 4294967296L
        var j = i + 1
        while (j < n) {
          out(k) = if (xn || a.isNullAt(j)) null
            else java.lang.Long.valueOf(x + a.getLong(j))
          k += 1; j += 1
        }
        i += 1
      }
      new GenericArrayData(out)
    }
  }
}
