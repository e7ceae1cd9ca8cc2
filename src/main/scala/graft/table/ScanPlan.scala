package graft.table

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions.{And, Between, EqualTo, Expression, GreaterThan,
  GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.graft.SparkShims

/** One planned table scan ([[GraftTable.planScan]]): the log entries the
  * plan was made from, read once, the data and delete files that survive
  * pruning, and the read built over them. The file counts and the rows
  * come from the same plan, so a reported count can never drift from
  * what the read opens (Iceberg's ScanReport is taken from the scan's
  * own plan the same way).
  *
  * @param where       the predicate the plan was made for
  * @param entries     the log entries read for this plan
  * @param dataFiles   surviving data files, tagged with their commit seq
  * @param deleteFiles the delete files the read applies: every live
  *                    positional delete and deletion vector, and each
  *                    equality delete that can touch a surviving file
  *                    (see [[DeleteScope]])
  * @param pruneCols   snapshot columns whose conjuncts pruned files;
  *                    empty when the plan is a full snapshot scan
  */
final class ScanPlan private[table] (
    val where: Expression,
    val entries: Seq[LogEntry],
    val dataFiles: Seq[(String, Long)],
    val deleteFiles: Seq[(String, Long, Seq[String])],
    val pruneCols: Seq[String],
    scanOf: () => DataFrame) {

  /** data files the read opens. */
  def filesOpened: Int = dataFiles.size

  /** data files live in the snapshot the plan was made from. */
  lazy val filesLive: Int = CommitLog.stateFrom(entries)._1.size

  /** merge-on-read rows of the surviving files, before `where` applies:
    * a superset of the matching rows, for a caller that keeps its own
    * filter above the scan (the SQL front end).
    */
  lazy val scan: DataFrame = scanOf()

  /** the rows matching `where`: [[scan]] with `where` as the residual
    * filter (pruning only ever drops files that cannot match).
    */
  lazy val read: DataFrame =
    SparkShims.ofRows(scan.sparkSession, Filter(where, scan.queryExecution.analyzed))
}

object ScanPlan {

  /** One top-level conjunct of a predicate, by the shapes file pruning
    * understands. Columns stay as parsed (qualifiers included); literal
    * kinds are judged by whoever consumes the split.
    */
  sealed trait Conjunct
  /** `col = lit` (either side). */
  final case class Eq(col: UnresolvedAttribute, value: Literal) extends Conjunct
  /** `col IN (lit, ...)`. */
  final case class InList(col: UnresolvedAttribute, values: Seq[Literal]) extends Conjunct
  /** `>=`/`>`/`<=`/`<` (one bound) or `BETWEEN` (two closed bounds). */
  final case class Range(bounds: Seq[Bound]) extends Conjunct
  /** any other shape: it filters, it never prunes. */
  final case class Residual(e: Expression) extends Conjunct

  /** One side of a range. A scan prunes on each side alone, a strict
    * bound by its closed superset (the residual filter keeps the strict
    * comparison); DELETE takes a closed pair and refuses strict bounds.
    */
  final case class Bound(col: UnresolvedAttribute, value: Literal,
      lower: Boolean, strict: Boolean)

  /** Split `where` at its top-level ANDs and classify each conjunct. */
  def conjuncts(where: Expression): Seq[Conjunct] = where match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case e => Seq(classify(e))
  }

  private def lower(a: UnresolvedAttribute, l: Literal, strict: Boolean) =
    Range(Seq(Bound(a, l, lower = true, strict)))

  private def upper(a: UnresolvedAttribute, l: Literal, strict: Boolean) =
    Range(Seq(Bound(a, l, lower = false, strict)))

  private def between(a: UnresolvedAttribute, lo: Literal, hi: Literal) =
    Range(lower(a, lo, strict = false).bounds ++ upper(a, hi, strict = false).bounds)

  private def classify(e: Expression): Conjunct = e match {
    case EqualTo(a: UnresolvedAttribute, l: Literal) => Eq(a, l)
    case EqualTo(l: Literal, a: UnresolvedAttribute) => Eq(a, l)
    case In(a: UnresolvedAttribute, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
      InList(a, vs.map(_.asInstanceOf[Literal]))
    case GreaterThanOrEqual(a: UnresolvedAttribute, l: Literal) => lower(a, l, strict = false)
    case GreaterThan(a: UnresolvedAttribute, l: Literal) => lower(a, l, strict = true)
    case LessThanOrEqual(a: UnresolvedAttribute, l: Literal) => upper(a, l, strict = false)
    case LessThan(a: UnresolvedAttribute, l: Literal) => upper(a, l, strict = true)
    case GreaterThanOrEqual(l: Literal, a: UnresolvedAttribute) => upper(a, l, strict = false)
    case GreaterThan(l: Literal, a: UnresolvedAttribute) => upper(a, l, strict = true)
    case LessThanOrEqual(l: Literal, a: UnresolvedAttribute) => lower(a, l, strict = false)
    case LessThan(l: Literal, a: UnresolvedAttribute) => lower(a, l, strict = true)
    case Between(a: UnresolvedAttribute, lo: Literal, hi: Literal, _) => between(a, lo, hi)
    // the parser emits BETWEEN as an unresolved function call
    case f: UnresolvedFunction if f.nameParts == Seq("between") => f.arguments match {
      case Seq(a: UnresolvedAttribute, lo: Literal, hi: Literal) => between(a, lo, hi)
      case _ => Residual(e)
    }
    case _ => Residual(e)
  }

  /** `col = value` over one named column. */
  private[table] def eq(col: String, value: Any): Expression =
    EqualTo(UnresolvedAttribute.quoted(col), Literal(value))

  /** `col >= lo AND col <= hi` over one named column. */
  private[table] def closed(col: String, lo: Any, hi: Any): Expression = {
    val a = UnresolvedAttribute.quoted(col)
    And(GreaterThanOrEqual(a, Literal(lo)), LessThanOrEqual(a, Literal(hi)))
  }
}
