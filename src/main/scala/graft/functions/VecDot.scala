package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native dot product over two numeric arrays — a Catalyst `Expression`
  * with whole-stage codegen, replacing the interpreted
  * `aggregate(zip_with(...))` higher-order pipeline in the vector
  * operators (SURVEY preference order: native Expression > HOF > UDF).
  * The generated code is a tight primitive loop — no per-element lambda
  * dispatch, no boxing, and it keeps the surrounding stage inside one
  * codegen span.
  *
  * Accepts float and double arrays in either position (embeddings are
  * array<float>, the LSH hyperplanes are array<double> literals).
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  private def ok(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float>/array<double> inputs, " +
        s"got ${left.dataType.simpleString} and ${right.dataType.simpleString}")

  override def dataType: DataType = DoubleType

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  // null ELEMENTS contribute 0 to the sum (same in both eval paths);
  // null ARRAYS propagate null via the nullSafe wrappers.
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val (lf, rf) = (isFloat(left), isFloat(right))
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i)) {
        val xv = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
        val yv = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
        s += xv * yv
      }
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // fresh identifiers: two VecDots in one codegen scope (e.g. a product
    // of dot products over non-nullable children, where nullSafeCodeGen
    // adds no isolating block) must not redeclare the same variables
    val n = ctx.freshName("vdN")
    val acc = ctx.freshName("vdAcc")
    val i = ctx.freshName("vdI")
    val getL = if (isFloat(left)) (v: String) => s"(double) $v.getFloat($i)"
               else (v: String) => s"$v.getDouble($i)"
    val getR = if (isFloat(right)) (v: String) => s"(double) $v.getFloat($i)"
               else (v: String) => s"$v.getDouble($i)"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int $n = Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $acc += ${getL(a)} * ${getR(b)};
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)

  override def prettyName: String = "graft_vecdot"
}

/** The engine's native functions, in ONE table of (name, expression
  * info, builder) that both registration paths iterate: [[register]] for
  * a session built without extensions (idempotent — safe to call per
  * query build; a caller may hand us such a session), and
  * [[GraftExtensions]] at session build.
  */
object GraftFunctions {
  val table: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn[VecDot]("graft_vecdot")(c => VecDot(c(0), c(1))),
    fn[MinHashSig]("graft_minhash_sig")(c => MinHashSig(c(0))),
    fn[PackedPairs]("graft_packed_pairs")(c => PackedPairs(c(0))),
    fn[Shingles]("graft_shingles")(c => Shingles(c(0))),
    fn[MinHashHs]("graft_minhash_hs")(c => MinHashHs(c(0))),
    fn[H60]("graft_h60")(c => H60(c(0))),
    fn[GramH60]("graft_gram_h60")(c => GramH60(c(0), c(1))),
    fn[CharNgrams]("graft_char_ngrams")(c => CharNgrams(c(0), c(1))),
    fn[FixedLines]("graft_lines")(c => FixedLines(c(0), c(1))),
    fn[WordGrams]("graft_word_grams")(c => WordGrams(c(0), c(1))))

  private def fn[T](name: String)(build: Seq[Expression] => Expression)(
      implicit ct: scala.reflect.ClassTag[T]) =
    (FunctionIdentifier(name), new ExpressionInfo(ct.runtimeClass.getCanonicalName, name), build)

  def register(spark: SparkSession): Unit =
    table.foreach { case (id, info, build) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, build)
    }
}

/** Production wiring: `--conf spark.sql.extensions=graft.functions.GraftExtensions`
  * (or `builder.withExtensions(new GraftExtensions)`) registers the
  * engine's native functions at session build — the
  * SparkSessionExtensions path for clusters the engine doesn't
  * bootstrap itself. The harness uses GraftFunctions.register instead
  * because the driver hands us an already-built session.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.table.foreach(ext.injectFunction)
}
