package graft.table

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Iceberg-style partition transforms (hidden partitioning): the table is
  * physically laid out by `transform(sourceCol)`, but readers only ever
  * filter on the SOURCE column — the table resolves predicates to
  * partition values itself. This is the reference table format's headline
  * layout feature (the Iceberg spec's partition-spec section); the
  * reference playground leaves its tables unpartitioned, but its compose
  * file ships Spark precisely to query Iceberg tables, whose scans begin
  * with partition pruning.
  *
  * Each transform declares whether it is order-preserving:
  *  - order-preserving (identity, truncate, epochDay) ⇒ a RANGE predicate
  *    on the source column maps to a range of partition values, so both
  *    point and range reads prune.
  *  - non-order-preserving (bucket) ⇒ only EQUALITY predicates prune
  *    (Iceberg applies the same rule).
  *
  * Partition values are recorded as per-file [v, v] bounds, so file
  * pruning compares them like any other recorded bound ([[Bounds]]).
  */
sealed trait Transform {
  /** partition value as a Spark expression over the source column. */
  def expr(c: Column): Column
  /** driver-side evaluation for a literal predicate bound; must agree
    * exactly with `expr` (both are integer arithmetic on BigDecimal).
    */
  def eval(v: BigDecimal): BigDecimal
  def orderPreserving: Boolean
  /** true when partition VALUES are strings (lexicographic pruning);
    * numeric-valued transforms prune through BigDecimal bounds. Note
    * bucket-on-string is numeric-valued: the hash is the value.
    */
  def stringValued: Boolean = false
  def render(col: String): String
}

object Transform {
  /** Mirror of the engine-side `cast("decimal(38,0)")`: Spark rounds
    * fractional values HALF_UP at that cast, so driver-side eval must
    * round the same way BEFORE any transform arithmetic — otherwise a
    * DOUBLE source value like 19.6 lands in partition 20 on the engine
    * but 10 in a naive floor-divide eval, and rangePrunes would skip the
    * file that actually holds the row.
    */
  private def asDec38(v: BigDecimal): BigDecimal =
    v.setScale(0, BigDecimal.RoundingMode.HALF_UP)

  /** Exact floor(v / d) with no MathContext: BigDecimal `/` applies
    * DECIMAL128 (34 significant digits, HALF_EVEN) before any setScale,
    * which can round a 38-digit value across a partition boundary.
    * divideToIntegralValue is exact; correct its toward-zero truncation
    * to floor for negative quotients.
    */
  private def floorDiv(v: BigDecimal, d: BigDecimal): BigDecimal = {
    val q = BigDecimal(v.bigDecimal.divideToIntegralValue(d.bigDecimal))
    if (q * d > v) q - 1 else q
  }

  /** identity: partition value = source value (numeric). */
  case object Identity extends Transform {
    def expr(c: Column): Column = c.cast("decimal(38,0)")
    def eval(v: BigDecimal): BigDecimal = asDec38(v)
    def orderPreserving = true
    def render(col: String): String = s"identity($col)"
  }

  /** truncate(w): floor(v / w) * w — Iceberg's numeric truncate. */
  final case class Truncate(w: Long) extends Transform {
    require(w > 0, s"truncate width must be positive: $w")
    def expr(c: Column): Column =
      (floor(c.cast("decimal(38,0)") / w) * w).cast("decimal(38,0)")
    def eval(v: BigDecimal): BigDecimal =
      floorDiv(asDec38(v), BigDecimal(w)) * w
    def orderPreserving = true
    def render(col: String): String = s"truncate($w,$col)"
  }

  /** truncate(w) on a STRING column — Iceberg's string truncate: the
    * first w characters, order-preserving under lexicographic compare
    * (a prefix sorts ≤ everything it prefixes), so name-range probes
    * prune through the partition value like numeric ranges. Predicate
    * bounds are engine-evaluated (GraftTable.partitionValueStrOf), never
    * re-implemented driver-side — same doctrine as Bucket.
    */
  final case class TruncateStr(w: Int) extends Transform {
    require(w > 0, s"truncate width must be positive: $w")
    def expr(c: Column): Column = substring(c, 1, w)
    def eval(v: BigDecimal): BigDecimal =
      throw new UnsupportedOperationException(
        "string-truncate values are engine-evaluated (GraftTable.partitionValueStrOf)")
    def orderPreserving = true
    override def stringValued = true
    def render(col: String): String = s"truncstr($w,$col)"
  }

  /** day on an epoch-microseconds long (the reference's event timestamps,
    * kafka-load-gen/main.go:53,189): partition value = epoch day.
    */
  case object EpochDay extends Transform {
    private val DayUs = BigDecimal(86400000000L)
    def expr(c: Column): Column =
      floor(c.cast("decimal(38,0)") / DayUs.toLong).cast("decimal(38,0)")
    def eval(v: BigDecimal): BigDecimal =
      floorDiv(asDec38(v), DayUs)
    def orderPreserving = true
    def render(col: String): String = s"epochday($col)"
  }

  /** bucket(n): xxhash64(v) mod n. Spark's xxhash64 is the engine-side
    * hash; driver-side equality bounds are computed by a one-row local
    * Spark job (GraftTable.partitionValueOf) rather than a re-implemented
    * hash, so the two can never diverge.
    */
  final case class Bucket(n: Int) extends Transform {
    require(n > 0, s"bucket count must be positive: $n")
    def expr(c: Column): Column = pmod(xxhash64(c), lit(n)).cast("decimal(38,0)")
    def eval(v: BigDecimal): BigDecimal =
      throw new UnsupportedOperationException(
        "bucket values are engine-evaluated (GraftTable.partitionValueOf)")
    def orderPreserving = false
    def render(col: String): String = s"bucket($n,$col)"
  }

  /** parse "transform(args,col)" as rendered above. */
  def parse(s: String): Option[(String, Transform)] = {
    val Id = """identity\(([^)]+)\)""".r
    val Tr = """truncate\((\d+),([^)]+)\)""".r
    val Ts = """truncstr\((\d+),([^)]+)\)""".r
    val Ed = """epochday\(([^)]+)\)""".r
    val Bu = """bucket\((\d+),([^)]+)\)""".r
    s match {
      case Id(c) => Some(c -> Identity)
      case Tr(w, c) => Some(c -> Truncate(w.toLong))
      case Ts(w, c) => Some(c -> TruncateStr(w.toInt))
      case Ed(c) => Some(c -> EpochDay)
      case Bu(n, c) => Some(c -> Bucket(n.toInt))
      case _ => None
    }
  }
}

/** One dimension of a table's partition layout: a source column + a
  * transform. Specs compose: `Seq(PartitionSpec("ts", EpochDay),
  * PartitionSpec("id", Bucket(8)))` lays the table out as nested
  * day/bucket directories with per-dimension pruning
  * (GraftTable.appendPartitioned).
  */
final case class PartitionSpec(col: String, transform: Transform) {
  def render: String = transform.render(col)
}

object PartitionSpec {
  /** multi-dimension log rendering: "+"-joined per-dimension renderings
    * ('+' cannot occur inside a rendering). Order IS the dimension index.
    */
  def renderAll(specs: Seq[PartitionSpec]): String =
    specs.map(_.render).mkString("+")

  /** All-or-nothing inverse of [[renderAll]]: a partially parseable spec
    * must disable pruning entirely — dropping only the unparseable
    * dimension would shift the survivors' indices onto the wrong _pN
    * columns and prune the wrong files.
    */
  def parseAll(s: String): Seq[PartitionSpec] = {
    val parts = s.split('+').toSeq.map(Transform.parse)
    if (parts.nonEmpty && parts.forall(_.isDefined))
      parts.flatten.map { case (c, t) => PartitionSpec(c, t) }
    else Nil
  }
}
