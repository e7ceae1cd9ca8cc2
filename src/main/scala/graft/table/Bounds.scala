package graft.table

/** What a column bound is and how two compare, for scan planning, delete
  * scoping, the stats fold and range deletes; Iceberg's
  * `InclusiveMetricsEvaluator` likewise has one comparator per type. A
  * bound is a number or a string ([[Value]]): numbers compare numerically,
  * strings in code-point order ([[StrOrder]]), and values of different
  * kinds never compare, so never prune.
  */
object Bounds {

  sealed trait Value
  final case class Num(v: BigDecimal) extends Value
  final case class Str(v: String) extends Value

  /** Code-point order, which is unsigned UTF-8 byte order: the order
    * Spark's min/max and parquet footers record string bounds in, and so
    * the one every string bound is compared and folded with. Java's
    * `compareTo` orders UTF-16 units instead, and disagrees once a
    * character at or above U+E000 meets a supplementary one (U+F000 sorts
    * before U+1F600 here, after it there). At the first differing unit,
    * surrogates move above U+E000-U+FFFF, the ICU fix-up.
    */
  val StrOrder: Ordering[String] = new Ordering[String] {
    private def fix(c: Char): Int =
      if (c < '\uD800') c else if (c >= '\uE000') c - 0x800 else c + 0x2000
    def compare(a: String, b: String): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val (x, y) = (a.charAt(i), b.charAt(i))
        if (x != y) return fix(x) - fix(y)
        i += 1
      }
      a.length - b.length
    }
  }

  /** `a < b` (`strict`) or `a <= b` in the one ordering; false unless
    * both are present and of one kind. Allocates nothing (per file, per group).
    */
  private def before(a: Option[Value], b: Option[Value], strict: Boolean): Boolean = {
    val c = (a, b) match {
      case (Some(Num(x)), Some(Num(y))) => x.compare(y)
      case (Some(Str(x)), Some(Str(y))) => StrOrder.compare(x, y)
      case _ => return false
    }
    if (strict) c < 0 else c <= 0
  }

  /** An interval with inclusive, optional sides (None: unbounded). Every
    * answer is conservative: an absent side, or one of the other kind, proves nothing.
    */
  final case class Interval(lo: Option[Value], hi: Option[Value]) {

    val isStr: Boolean = lo.orElse(hi).exists(_.isInstanceOf[Str])

    /** no value lies in both: one ends below where the other starts */
    def disjoint(o: Interval): Boolean =
      before(hi, o.lo, strict = true) || before(o.hi, lo, strict = true)

    def intersects(o: Interval): Boolean = !disjoint(o)

    /** every value of this interval lies in `o` */
    def within(o: Interval): Boolean =
      (o.lo.isEmpty || before(o.lo, lo, strict = false)) &&
        (o.hi.isEmpty || before(hi, o.hi, strict = false))

    /** the smallest interval holding both: a side either leaves open stays open */
    def union(o: Interval): Interval = Interval(
      if (before(lo, o.lo, strict = false)) lo else if (before(o.lo, lo, strict = false)) o.lo else None,
      if (before(o.hi, hi, strict = false)) hi else if (before(hi, o.hi, strict = false)) o.hi else None)

    /** the values both hold: each side is the tighter one present */
    def intersect(o: Interval): Interval = Interval(
      if (o.lo.isEmpty || before(o.lo, lo, strict = false)) lo.orElse(o.lo) else o.lo,
      if (o.hi.isEmpty || before(hi, o.hi, strict = false)) hi.orElse(o.hi) else o.hi)

    /** each side through `f`, order-preserving; a side it cannot map is unbounded */
    def map(f: Value => Option[Value]): Interval = Interval(lo.flatMap(f), hi.flatMap(f))
  }

  object Interval {
    def apply(lo: Value, hi: Value): Interval = Interval(Some(lo), Some(hi))
    def point(v: Value): Interval = Interval(v, v)
    val Full: Interval = Interval(None, None)
  }

  private def number(s: String): Option[BigDecimal] =
    try Some(BigDecimal(s)) catch { case _: NumberFormatException => None }

  /** The values of a column a probe value can equal, in the column's
    * kind: a string on a STRING column, a number on any other (a string
    * parsed as one). A float or double is its exact value ([[Footers]]
    * records those, not `toString`'s shortest decimal) widened by half an
    * ulp: Spark casts a DECIMAL column to double to compare it, so 1.10
    * equals 1.1D. A value of neither kind, or a string that does not
    * parse, is None and prunes nothing.
    */
  def probe(value: Any, strCol: Boolean): Option[Interval] = value match {
    case s: String if strCol => Some(Interval.point(Str(s)))
    case _ if strCol => None
    case s: String => number(s).map(n => Interval.point(Num(n)))
    case n @ (_: Byte | _: Short | _: Int | _: Long) =>
      Some(Interval.point(Num(n.asInstanceOf[Number].longValue)))
    case n: Float if n.isFinite => Some(rounding(n.toDouble, Math.ulp(n).toDouble))
    case n: Double if n.isFinite => Some(rounding(n, Math.ulp(n)))
    case n: BigDecimal => Some(Interval.point(Num(n)))
    case n: java.math.BigDecimal => Some(Interval.point(Num(BigDecimal(n))))
    case _ => None
  }

  private def rounding(x: Double, ulp: Double): Interval = {
    val (v, h) = (new java.math.BigDecimal(x), new java.math.BigDecimal(ulp / 2))
    Interval(Num(BigDecimal(v.subtract(h))), Num(BigDecimal(v.add(h))))
  }

  /** `col >= value` (`lower`) or `col <= value` from [[probe]], or None
    * for a string side on a non-string column: Spark compares that by a
    * coercion that need not order as the number it parses to.
    */
  def rangeSide(value: Any, strCol: Boolean, lower: Boolean): Option[Interval] = value match {
    case _: String if !strCol => None
    case _ => probe(value, strCol).map(p => if (lower) Interval(p.lo, None) else Interval(None, p.hi))
  }

  /** A column's bounds as the log records them, read in the probe's
    * kind; text that is not a number leaves a numeric probe unbounded.
    * Each reading is built at first use and kept, and a cached entry's
    * copies share it: parsed at most once per parsed entry, and never for
    * a string column or an unpruned read.
    */
  final case class Recorded(lo: String, hi: String) {
    private lazy val num: Interval =
      (for (a <- number(lo); b <- number(hi)) yield Interval(Num(a), Num(b))).getOrElse(Interval.Full)
    private lazy val str: Interval = Interval(Str(lo), Str(hi))

    /** these bounds read as strings (`str`) or as numbers */
    def in(str: Boolean): Interval = if (str) this.str else num

    def intersects(probe: Interval): Boolean = in(probe.isStr).intersects(probe)
  }

  object Recorded {

    /** The text a footer interval is recorded as: a string raw, a number
      * at six decimals rounded outward, so the recorded bounds never
      * exclude a value the file holds. None unless both sides are present.
      */
    def of(i: Interval): Option[Recorded] = (i.lo, i.hi) match {
      case (Some(Str(lo)), Some(Str(hi))) => Some(Recorded(lo, hi))
      case (Some(Num(lo)), Some(Num(hi))) => Some(Recorded(
        lo.bigDecimal.setScale(6, java.math.RoundingMode.FLOOR).toPlainString,
        hi.bigDecimal.setScale(6, java.math.RoundingMode.CEILING).toPlainString))
      case _ => None
    }
  }
}
