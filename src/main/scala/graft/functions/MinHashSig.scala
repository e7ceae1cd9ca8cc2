package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** All 16 MinHash signature minimums in ONE pass over the per-document
  * hash pairs — a native codegen replacement for the interpreted
  * `transform(sequence(0,15), j -> array_min(...g_j walk...))` pipeline,
  * which walks the pairs 16 times through per-element lambda dispatch.
  * Input: `struct<h1s:array<bigint>, h2s:array<bigint>>` (graft_minhash_hs'
  * struct-of-primitive-arrays return; pair i = (h1s[i], h2s[i]);
  * Kirsch–Mitzenmacher double hashing: g_j = h1 + j·h2).
  * Output: `array<bigint>` of length 16; element j is null when no entry
  * contributed (empty arrays — matching array_min's null-on-empty), so
  * the banding stage behaves identically.
  *
  * Arithmetic is plain wrapping long addition — bit-identical to the
  * higher-order form and to the DuckDB oracle's list_transform replay,
  * so q_dedup_minhash's CORRECTNESS rows are unaffected. A NULL input
  * (or null array fields) also matches the HOF exactly:
  * transform(sequence(0,15), ...) over a null hs yields [null × 16], not
  * NULL — so this expression is never null (its ELEMENTS are nullable).
  */
case class MinHashSig(child: Expression) extends UnaryExpression {

  private val Bands = 16

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StructType(Array(
        StructField("h1s", ArrayType(LongType, _), _, _),
        StructField("h2s", ArrayType(LongType, _), _, _))) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects struct<h1s:array<bigint>,h2s:array<bigint>>, " +
        s"got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullable: Boolean = false

  private lazy val allNull: GenericArrayData =
    new GenericArrayData(Array.fill[Any](Bands)(null))

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) allNull else compute(v.asInstanceOf[InternalRow])
  }

  private def compute(row: InternalRow): GenericArrayData = {
    if (row.isNullAt(0) || row.isNullAt(1)) return allNull
    MinHashSigKernel.compute(row.getArray(0), row.getArray(1), allNull)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val allNullRef =
      ctx.addReferenceObj("mhAllNull", allNull, classOf[GenericArrayData].getName)
    val r = childGen.value
    val resultCode =
      s"""
         |${classOf[ArrayData].getName} ${ev.value};
         |if (${childGen.isNull} || $r.isNullAt(0) || $r.isNullAt(1)) {
         |  ${ev.value} = $allNullRef;
         |} else {
         |  ${ev.value} = graft.functions.MinHashSigKernel.compute(
         |    $r.getArray(0), $r.getArray(1), $allNullRef);
         |}
       """.stripMargin
    ev.copy(code = code"${childGen.code}$resultCode", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_minhash_sig"
}

/** static kernel (standalone object → static forwarder janino resolves);
  * the tight two-primitive-array loop shared by eval and codegen.
  */
object MinHashSigKernel {
  private val Bands = 16
  /** Null parity with the HOF's zip_with + array_min: a pair with a null
    * half, or past the end of the shorter array (zip_with pads with
    * nulls), contributes nothing; when no pair contributes, every
    * element is null.
    */
  def compute(h1s: ArrayData, h2s: ArrayData,
      allNull: GenericArrayData): GenericArrayData = {
    val n = math.min(h1s.numElements(), h2s.numElements())
    val mins = new Array[Long](Bands)
    java.util.Arrays.fill(mins, Long.MaxValue)
    var seen = false
    var i = 0
    while (i < n) {
      if (!h1s.isNullAt(i) && !h2s.isNullAt(i)) {
        val h2 = h2s.getLong(i)
        var g = h1s.getLong(i)
        var j = 0
        while (j < Bands) {
          if (g < mins(j)) mins(j) = g
          g += h2 // g_j = h1 + j*h2, wrapping like the HOF long arithmetic
          j += 1
        }
        seen = true
      }
      i += 1
    }
    if (!seen) allNull
    else new GenericArrayData(Array.tabulate[Any](Bands)(j =>
      java.lang.Long.valueOf(mins(j))))
  }
}
