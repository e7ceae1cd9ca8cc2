package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native single-pass kernels for the shingling pipelines (guide §1.2
  * "per-task work": the interpreted HOF chain paid per-element lambda
  * dispatch plus an intermediate 32-char hex UTF8String and a CONV
  * string-parse per shingle). Standalone object (no companion class) so
  * scalac emits STATIC forwarders the generated janino code can call.
  *
  * Value parity with the HOFs, by construction:
  *  - trigrams replicate `array_distinct(transform(sequence(0, size(w)-3),
  *    i -> concat_ws(' ', w[i], w[i+1], w[i+2])))` — UTF8String.concatWs
  *    IS concat_ws (same null skipping), same first-occurrence distinct
  *    order, same empty result under 3 tokens / on a NULL array;
  *  - xxhash64 calls the very static Spark's xxhash64 codegen calls
  *    (XXH64.hashUnsafeBytes, seed 42);
  *  - md5 slices the DIGEST BYTES exactly as the hex path did:
  *    h1 = hex chars 1-15 = (b0..b6 << 4) | (b7 >>> 4);
  *    h2 = hex chars 16-30 mod 2^56 = b8..b14 — the HOF's mod exactly
  *    cancels b7's low-nibble 2^56 contribution.
  *  (Asserted against the live HOFs in NativeFnSpec.)
  */
object ShingleKernel {
  private val Space = UTF8String.fromString(" ")

  private def trigrams(a: ArrayData): java.util.ArrayList[UTF8String] = {
    val out = new java.util.ArrayList[UTF8String]()
    if (a == null) return out
    val n = a.numElements()
    if (n < 3) return out
    val seen = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i <= n - 3) {
      val t = UTF8String.concatWs(Space,
        if (a.isNullAt(i)) null else a.getUTF8String(i),
        if (a.isNullAt(i + 1)) null else a.getUTF8String(i + 1),
        if (a.isNullAt(i + 2)) null else a.getUTF8String(i + 2))
      if (seen.add(t)) out.add(t)
      i += 1
    }
    out
  }

  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def shingles(a: ArrayData): ArrayData = {
    val ts = trigrams(a)
    val out = new Array[Long](ts.size)
    var i = 0
    while (i < out.length) {
      val t = ts.get(i)
      out(i) = XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, 42L)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** h1 of an md5 digest: hex chars 1-15 = (b0..b6 << 4) | (b7 >>> 4). */
  private def digestH1(d: Array[Byte]): Long = {
    var h1 = 0L
    var j = 0
    while (j < 7) { h1 = (h1 << 8) | (d(j) & 0xffL); j += 1 }
    (h1 << 4) | ((d(7) & 0xffL) >>> 4)
  }

  /** STRUCT-OF-ARRAYS return (r13, VERDICT r12 #1): the r12 shape — a
    * GenericArrayData of one boxed InternalRow per shingle — allocated
    * O(shingles) short-lived objects per document, implicated in the
    * driver's 32-core GC pathology. Two primitive long arrays wrapped in
    * UnsafeArrayData allocate O(1) objects per document, and downstream
    * `bh` becomes a plain field access (hs.h1s) instead of an interpreted
    * `transform(hs, p -> p.h1)` lambda walk.
    */
  def minhashHs(a: ArrayData): InternalRow = {
    val ts = trigrams(a)
    val md = md5Local.get()
    val n = ts.size
    val h1s = new Array[Long](n)
    val h2s = new Array[Long](n)
    var i = 0
    while (i < n) {
      md.reset()
      val d = md.digest(ts.get(i).getBytes)
      h1s(i) = digestH1(d)
      var h2 = 0L
      var j = 8
      while (j < 15) { h2 = (h2 << 8) | (d(j) & 0xffL); j += 1 }
      h2s(i) = h2
      i += 1
    }
    InternalRow(UnsafeArrayData.fromPrimitiveArray(h1s),
      UnsafeArrayData.fromPrimitiveArray(h2s))
  }

  /** h60 of one string: first 15 hex chars of its md5, parsed base-16 —
    * the digest-byte twin of CAST(CONV(substring(md5(s),1,15),16,10) AS
    * BIGINT), with no 32-char hex UTF8String and no CONV string parse.
    */
  def h60(s: UTF8String): Long = {
    val md = md5Local.get()
    md.reset()
    digestH1(md.digest(s.getBytes))
  }

  /** All n-character grams of `s` in position order — the one-pass twin
    * of transform(sequence(1, length(s)-(n-1)), i -> substring(s, i, n)).
    * The HOF pays interpreted per-element dispatch plus an O(chars)
    * byte-walk per substring call (substringSQL re-seeks from the string
    * start every time — O(chars²) per document); this walks the
    * codepoint boundaries once and emits zero-copy byte-range views.
    * Fewer than n chars → empty (callers filter, matching the oracle's
    * empty range()).
    */
  def charNgrams(s: UTF8String, n: Int): ArrayData = {
    if (s == null) return new GenericArrayData(new Array[Any](0))
    val bytes = s.getBytes
    val len = bytes.length
    // codepoint start offsets (starts(numChars) = len sentinel)
    val starts = new Array[Int](len + 1)
    var nc = 0
    var i = 0
    while (i < len) {
      starts(nc) = i
      i += UTF8String.numBytesForFirstByte(bytes(i))
      nc += 1
    }
    starts(nc) = len
    if (nc < n) return new GenericArrayData(new Array[Any](0))
    val out = new Array[Any](nc - n + 1)
    i = 0
    while (i <= nc - n) {
      out(i) = UTF8String.fromBytes(bytes, starts(i), starts(i + n) - starts(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** `w` cut into fixed `width`-token lines, joined with single spaces —
    * the one-pass twin of transform(sequence(0, ceil(size(w)/width)-1),
    * i -> array_join(slice(w, i*width+1, width), ' ')). The HOF copies a
    * width-element slice array per line and dispatches interpreted
    * lambdas; concatWs skips null tokens exactly like array_join.
    */
  def fixedLines(a: ArrayData, width: Int): ArrayData = {
    if (a == null) return new GenericArrayData(new Array[Any](0))
    val n = a.numElements()
    if (n == 0) return new GenericArrayData(new Array[Any](0))
    val lines = (n + width - 1) / width
    val out = new Array[Any](lines)
    val win = new Array[UTF8String](width)
    var li = 0
    while (li < lines) {
      val base = li * width
      val m = math.min(width, n - base)
      var j = 0
      while (j < m) {
        win(j) = if (a.isNullAt(base + j)) null else a.getUTF8String(base + j)
        j += 1
      }
      while (j < width) { win(j) = null; j += 1 } // short tail: nulls skip
      out(li) = UTF8String.concatWs(Space, win: _*)
      li += 1
    }
    new GenericArrayData(out)
  }

  /** Every k-token window of `w` joined with single spaces, in position
    * order — the string form of [[gramH60]] (no hash): the one-pass twin
    * of transform(sequence(0, size(w)-k), i -> concat_ws(' ',
    * slice(w, i+1, k))), and of per-position struct packers whose fields
    * are space-free tokens (split(' ') output — the join is injective
    * there, so grouping by the joined string equals grouping by the
    * struct). Fewer than k tokens → empty.
    */
  def gramStrings(a: ArrayData, k: Int): ArrayData = {
    if (a == null) return new GenericArrayData(new Array[Any](0))
    val n = a.numElements()
    if (n < k) return new GenericArrayData(new Array[Any](0))
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      toks(i) = if (a.isNullAt(i)) null else a.getUTF8String(i)
      i += 1
    }
    val out = new Array[Any](n - k + 1)
    val win = new Array[UTF8String](k)
    i = 0
    while (i <= n - k) {
      var j = 0
      while (j < k) { win(j) = toks(i + j); j += 1 }
      out(i) = UTF8String.concatWs(Space, win: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** h60 of every k-token window of `w`, in position order (NOT distinct
    * — q_dedup_substring counts window occurrences). The HOF twin is
    * transform(sequence(0, size(w)-k), i -> h60(concat_ws(' ',
    * slice(w, i+1, k)))) — which copies a k-element array per window and
    * builds hex strings; this is one pass with zero per-window arrays.
    * Fewer than k tokens → empty (callers filter those, matching the
    * oracles' empty range()).
    */
  def gramH60(a: ArrayData, k: Int): ArrayData = {
    if (a == null) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val n = a.numElements()
    if (n < k) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val md = md5Local.get()
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      toks(i) = if (a.isNullAt(i)) null else a.getUTF8String(i)
      i += 1
    }
    val out = new Array[Long](n - k + 1)
    val win = new Array[UTF8String](k)
    i = 0
    while (i <= n - k) {
      var j = 0
      while (j < k) { win(j) = toks(i + j); j += 1 }
      // concatWs skips nulls exactly like the HOF's concat_ws-over-slice
      val g = UTF8String.concatWs(Space, win: _*)
      md.reset()
      out(i) = digestH1(md.digest(g.getBytes))
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

private[functions] abstract class ShingleExpr extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<string>, got ${other.simpleString}")
  }
  override def nullable: Boolean = false
  protected def kernelMethod: String
  protected def resultJavaType: String
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val resultCode =
      s"""
         |$resultJavaType ${ev.value} =
         |  graft.functions.ShingleKernel.$kernelMethod(
         |    ${childGen.isNull} ? null : ${childGen.value});
       """.stripMargin
    ev.copy(code = code"${childGen.code}$resultCode", isNull = FalseLiteral)
  }
}

/** `graft_shingles(w: array<string>) -> array<bigint>` — the distinct
  * 3-word shingles of the token array, xxhash64-hashed, one native pass.
  */
case class Shingles(child: Expression) extends ShingleExpr {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override protected def kernelMethod: String = "shingles"
  override protected def resultJavaType: String = classOf[ArrayData].getName
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    ShingleKernel.shingles(if (v == null) null else v.asInstanceOf[ArrayData])
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_shingles"
}

/** `graft_minhash_hs(w: array<string>) ->
  * struct<h1s:array<bigint>, h2s:array<bigint>>` — the
  * Kirsch–Mitzenmacher hash pairs of the distinct 3-word shingles as a
  * struct of two PRIMITIVE arrays (pair i = (h1s[i], h2s[i])), md5
  * computed once per shingle on digest bytes (no hex, no CONV, and —
  * r13 — no boxed row per shingle).
  */
case class MinHashHs(child: Expression) extends ShingleExpr {
  override def dataType: DataType = StructType(Seq(
    StructField("h1s", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("h2s", ArrayType(LongType, containsNull = false), nullable = false)))
  override protected def kernelMethod: String = "minhashHs"
  override protected def resultJavaType: String = classOf[InternalRow].getName
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    ShingleKernel.minhashHs(if (v == null) null else v.asInstanceOf[ArrayData])
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_minhash_hs"
}

/** `graft_h60(s: string) -> bigint` — the shared 60-bit cross-engine
  * hash (first 15 hex chars of md5, parsed base-16) computed straight
  * from the digest bytes. Value-identical to
  * `CAST(CONV(substring(md5(s), 1, 15), 16, 10) AS BIGINT)` with zero
  * intermediate strings — the hex form allocates a 32-char UTF8String
  * and CONV-parses it per call, which at one call per TOKEN INSTANCE
  * (q_dedup_simhash) was the dedup family's largest garbage source.
  * Null-propagating like md5().
  */
case class H60(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects string, got ${other.simpleString}")
  }
  override def dataType: DataType = LongType
  override protected def nullSafeEval(v: Any): Any =
    ShingleKernel.h60(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.ShingleKernel.h60($s)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_h60"
}

/** `graft_word_grams(w: array<string>, k) -> array<string>` — every
  * k-token window of `w` joined with single spaces, in position order,
  * one native pass (see [[ShingleKernel.gramStrings]]). `k` must be a
  * foldable positive int.
  */
case class WordGrams(child: Expression, kExpr: Expression) extends UnaryExpression {
  private lazy val k: Int = kExpr.eval(null) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"graft_word_grams window size must be an int literal, got $other")
  }
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if kExpr.foldable &&
        (kExpr.dataType == IntegerType || kExpr.dataType == LongType) =>
      if (k >= 1) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName window size must be >= 1, got $k")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<string>, int literal), got ${other.simpleString}")
  }
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    ShingleKernel.gramStrings(if (v == null) null else v.asInstanceOf[ArrayData], k)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val resultCode =
      s"""
         |${classOf[ArrayData].getName} ${ev.value} =
         |  graft.functions.ShingleKernel.gramStrings(
         |    ${childGen.isNull} ? null : ${childGen.value}, $k);
       """.stripMargin
    ev.copy(code = code"${childGen.code}$resultCode", isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_word_grams"
}

/** `graft_char_ngrams(s: string, n) -> array<string>` — every n-char gram
  * of `s` in position order, one native pass over the codepoint
  * boundaries (see [[ShingleKernel.charNgrams]]). `n` must be a foldable
  * positive int.
  */
case class CharNgrams(child: Expression, nExpr: Expression) extends UnaryExpression {
  private lazy val n: Int = nExpr.eval(null) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"graft_char_ngrams size must be an int literal, got $other")
  }
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType if nExpr.foldable &&
        (nExpr.dataType == IntegerType || nExpr.dataType == LongType) =>
      if (n >= 1) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName size must be >= 1, got $n")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (string, int literal), got ${other.simpleString}")
  }
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    ShingleKernel.charNgrams(if (v == null) null else v.asInstanceOf[UTF8String], n)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val resultCode =
      s"""
         |${classOf[ArrayData].getName} ${ev.value} =
         |  graft.functions.ShingleKernel.charNgrams(
         |    ${childGen.isNull} ? null : ${childGen.value}, $n);
       """.stripMargin
    ev.copy(code = code"${childGen.code}$resultCode", isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_char_ngrams"
}

/** `graft_lines(w: array<string>, width) -> array<string>` — `w` cut into
  * fixed width-token lines joined with single spaces, one native pass
  * (see [[ShingleKernel.fixedLines]]). `width` must be a foldable
  * positive int.
  */
case class FixedLines(child: Expression, widthExpr: Expression) extends UnaryExpression {
  private lazy val width: Int = widthExpr.eval(null) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"graft_lines width must be an int literal, got $other")
  }
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if widthExpr.foldable &&
        (widthExpr.dataType == IntegerType || widthExpr.dataType == LongType) =>
      if (width >= 1) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName width must be >= 1, got $width")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<string>, int literal), got ${other.simpleString}")
  }
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    ShingleKernel.fixedLines(if (v == null) null else v.asInstanceOf[ArrayData], width)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val resultCode =
      s"""
         |${classOf[ArrayData].getName} ${ev.value} =
         |  graft.functions.ShingleKernel.fixedLines(
         |    ${childGen.isNull} ? null : ${childGen.value}, $width);
       """.stripMargin
    ev.copy(code = code"${childGen.code}$resultCode", isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_lines"
}

/** `graft_gram_h60(w: array<string>, k) -> array<bigint>` — h60 of every
  * k-token window of `w` in position order, one native pass. The HOF twin
  * `transform(sequence(0, size(w)-k), i -> h60(concat_ws(' ',
  * slice(w, i+1, k))))` copies a k-element array per window (slice) and
  * pays the hex/CONV garbage per window; this allocates one primitive
  * output array per document. `k` must be a foldable positive int.
  */
case class GramH60(child: Expression, kExpr: Expression) extends UnaryExpression {
  private lazy val k: Int = kExpr.eval(null) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(
      s"graft_gram_h60 window size must be an int literal, got $other")
  }
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if kExpr.foldable &&
        (kExpr.dataType == IntegerType || kExpr.dataType == LongType) =>
      if (k >= 1) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName window size must be >= 1, got $k")
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<string>, int literal), got ${other.simpleString}")
  }
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    ShingleKernel.gramH60(if (v == null) null else v.asInstanceOf[ArrayData], k)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val resultCode =
      s"""
         |${classOf[ArrayData].getName} ${ev.value} =
         |  graft.functions.ShingleKernel.gramH60(
         |    ${childGen.isNull} ? null : ${childGen.value}, $k);
       """.stripMargin
    ev.copy(code = code"${childGen.code}$resultCode", isNull = FalseLiteral)
  }
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "graft_gram_h60"
}
