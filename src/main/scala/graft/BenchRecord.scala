package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{JsonNodeFactory, ObjectNode}
import scala.jdk.CollectionConverters._

/** One entry's corroborated-min sample: best time (-1 when every rep
  * crashed), how many reps succeeded, how far apart the best two landed
  * (percent, -1 below two reps), and whether the best two failed to agree
  * within 20%. `detail` holds extra measured fields of the entry's record
  * detail (3 decimals); `stages` a stress scenario's stage fields.
  */
final case class Sample(secs: Double, reps: Int, spreadPct: Double, unsettled: Boolean,
    detail: Seq[(String, Double)] = Nil, stages: Option[ObjectNode] = None)

object Sample {
  /** the best two samples agree within 20% */
  def settled(ts: Seq[Double]): Boolean = {
    val s = ts.sorted
    s.size >= 2 && s(1) <= s(0) * 1.2
  }

  def of(ts: Seq[Double]): Sample = {
    val s = ts.sorted
    Sample(if (s.isEmpty) -1.0 else s.head, s.size,
      if (s.size < 2) -1.0 else 100.0 * (s(1) - s(0)) / s(0), !settled(s))
  }

  /** a stress scenario: fresh state is its timing, so its one rep is
    * settled by construction */
  def single(secs: Double, stages: Option[ObjectNode]): Sample =
    Sample(secs, 1, 0.0, unsettled = false, stages = stages)
}

/** One bench run: the scale-factor directory it measured, its sampling
  * parameters and its samples in report order. */
final case class Run(sf: String, passes: Int, maxExtra: Int, results: Seq[(String, Sample)])

/** The bench record (`BENCH_LOCAL.json`) and the stdout line, as Jackson
  * trees, and the rules that decide what a run does to the record. No
  * Spark: every rule is a function of the prior record and the run.
  *
  * Floats parse to BigDecimal and render back unchanged, so a record
  * read and written without a fold keeps its bytes (0.300 stays 0.300).
  */
object BenchRecord {
  val File = "BENCH_LOCAL.json"

  val mapper: ObjectMapper = new ObjectMapper()
    .enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)
    .setNodeFactory(JsonNodeFactory.withExactBigDecimals(true))

  def parse(text: String): ObjectNode = mapper.readTree(text).asInstanceOf[ObjectNode]
  def render(n: JsonNode): String = mapper.writeValueAsString(n)

  /** `v` rounded half-up to `scale` decimals, the form every timing is
    * recorded and printed in */
  def dec(v: Double, scale: Int = 3): java.math.BigDecimal =
    BigDecimal(v).setScale(scale, BigDecimal.RoundingMode.HALF_UP).bigDecimal

  /** an object of the given fields in order; a Double renders as [[dec]] */
  def obj(fields: (String, Any)*): ObjectNode = {
    val o = mapper.createObjectNode()
    fields.foreach {
      case (k, v: Double) => o.put(k, dec(v))
      case (k, v: Int) => o.put(k, v)
      case (k, v: Long) => o.put(k, v)
      case (k, v: String) => o.put(k, v)
      case (k, v: java.math.BigDecimal) => o.put(k, v)
      case (k, v) => throw new IllegalArgumentException(s"$k: unsupported value $v")
    }
    o
  }

  private def sfOf(r: ObjectNode): Option[String] = Option(r.get("sf")).map(_.asText)

  private def queriesOf(r: ObjectNode): Seq[(String, Double)] =
    Option(r.get("queries")).toSeq
      .flatMap(_.properties.asScala.toSeq.map(e => e.getKey -> e.getValue.asDouble))

  /** a record without an "unsettled" field predates it and was
    * corroborated by hand: it counts as none unsettled */
  private def unsettledOf(r: ObjectNode): Seq[String] =
    Option(r.get("unsettled")).toSeq.flatMap(_.asScala.map(_.asText))

  /** the record's values that were settled when recorded */
  private def settledOf(r: ObjectNode): Map[String, Double] = {
    val unsettled = unsettledOf(r).toSet
    queriesOf(r).filter { case (n, v) => v >= 0 && !unsettled(n) }.toMap
  }

  /** Cross-run corroboration: the record's settled value is a second
    * sample of the same plan on the same box at the same scale factor, so
    * an unsettled entry whose best lands within 20% of it is corroborated
    * and keeps its own value. Every other entry is left as measured.
    */
  def corroborate(prior: Option[ObjectNode], sf: String,
      results: Seq[(String, Sample)]): Seq[(String, Sample)] = {
    val rec = prior.filter(sfOf(_).contains(sf)).map(settledOf).getOrElse(Map.empty)
    results.map { case (n, s) =>
      n -> (rec.get(n) match {
        case Some(r) if s.unsettled && s.secs >= r * 0.8 && s.secs <= r * 1.2 =>
          s.copy(unsettled = false)
        case _ => s
      })
    }
  }

  /** Why a full run leaves the record it would replace. */
  sealed trait Refusal { def message: String }

  /** A record is per scale factor: a smoke run at sf0.001 must never
    * replace the sf0.1 record, where it would read as a 100x speedup. */
  final case class SfMismatch(recorded: String, run: String) extends Refusal {
    def message = s"it records $recorded and this run is $run " +
      "(set SPARK_GRAFT_FORCE_RECORD=1 to switch the record's scale factor)"
  }

  final case class Slower(shared: Int, newSum: Double, oldSum: Double, medianRatio: Double)
      extends Refusal {
    def message = f"the $shared shared entries sum $newSum%.1f s vs the settled " +
      f"record's $oldSum%.1f s (median per-entry ratio $medianRatio%.2f) " +
      "— a uniformly contended run, not a plan change " +
      "(set SPARK_GRAFT_FORCE_RECORD=1 to record a real regression)"
  }

  final case class LessSettled(unsettled: Seq[String], recorded: Int) extends Refusal {
    def message = s"this run left ${unsettled.size} entries uncorroborated " +
      s"(${unsettled.take(8).mkString(", ")}) vs $recorded in the existing record"
  }

  /** The overwrite guard. The record is a corroborated-min reference, so a
    * full run replaces it only when the run is at the record's scale
    * factor, leaves no more entries unsettled, and is not slower over the
    * entries both share: contention corroborates too (a uniformly loaded
    * box slows every rep alike), so a run >15% slower in sum, or whose
    * median per-entry ratio is >1.05 (contention lifts the typical entry;
    * a code regression moves a few), is refused. `force` overrides.
    */
  def guard(prior: Option[ObjectNode], run: Run, force: Boolean): Option[Refusal] =
    prior.filter(_ => !force).flatMap { r =>
      val now = run.results.toMap
      val old = queriesOf(r).toMap
      val shared = old.keySet.intersect(now.keySet)
        .filter(n => old(n) >= 0 && now(n).secs >= 0).toSeq.sorted
      val oldSum = shared.map(old).sum
      val newSum = shared.map(now(_).secs).sum
      val ratios = shared.filter(old(_) > 0.05) // sub-50ms entries are noise
        .map(n => now(n).secs / old(n)).sorted
      val median = if (ratios.isEmpty) 1.0 else ratios(ratios.size / 2)
      val recorded = unsettledOf(r).size
      val unsettled = run.results.collect { case (n, s) if s.unsettled => n }
      sfOf(r).filter(_ != run.sf).map(SfMismatch(_, run.sf))
        .orElse(Option.when(recorded == 0 && shared.nonEmpty &&
          (newSum > oldSum * 1.15 || median > 1.05))(
          Slower(shared.size, newSum, oldSum, median)))
        .orElse(Option.when(unsettled.size > recorded)(LessSettled(unsettled, recorded)))
    }

  private def detail(s: Sample): ObjectNode = {
    val d = obj("secs" -> s.secs, "reps" -> s.reps, "spread_pct" -> dec(s.spreadPct, 1))
    s.detail.foreach { case (k, v) => d.put(k, dec(v)) }
    d
  }

  /** the record's value is the sum of its non-negative recorded entries */
  private def withValue(r: ObjectNode): ObjectNode = {
    val total = Option(r.get("queries")).toSeq
      .flatMap(_.properties.asScala.toSeq.map(_.getValue.decimalValue))
      .filter(_.signum >= 0).foldLeft(java.math.BigDecimal.ZERO)(_ add _)
    r.put("value", total.setScale(3, java.math.RoundingMode.HALF_UP))
  }

  /** The record a run writes when the guard lets it replace the old one. */
  def full(run: Run): ObjectNode = {
    val r = obj("metric" -> "total", "value" -> 0, "unit" -> "sec")
    val qs = r.putObject("queries")
    run.results.foreach { case (n, s) => qs.put(n, dec(s.secs)) }
    val d = r.putObject("detail")
    run.results.foreach { case (n, s) => d.set[JsonNode](n, detail(s)) }
    val u = r.putArray("unsettled")
    run.results.foreach { case (n, s) => if (s.unsettled) u.add(n) }
    r.put("passes", run.passes).put("max_extra", run.maxExtra)
    run.results.foreach { case (n, s) => s.stages.foreach(r.set[JsonNode](n + "_stages", _)) }
    withValue(r.put("sf", run.sf))
  }

  final case class Fold(record: ObjectNode, added: Seq[String], improved: Seq[String])

  /** What a refused run still adds to the record it leaves in place.
    *  - first-seen: a settled entry the record has no value for (tagged
    *    `folded_in`): a first measurement cannot regress a record that
    *    holds none, and the box may never go quiet enough for a full write.
    *  - improved: an entry corroborated in this run (reps >= 2) more than
    *    20% below its settled recorded value (tagged `improved_in`):
    *    contention only adds time, so that is a genuine speedup.
    * A folded stress scenario brings its stage fields along. None when
    * there is nothing to fold.
    */
  def fold(prior: ObjectNode, run: Run): Option[Fold] = {
    val old = queriesOf(prior).toMap
    val settled = settledOf(prior)
    val added = run.results.filter { case (n, s) =>
      !old.contains(n) && s.secs >= 0 && !s.unsettled }
    val improved = run.results.filter { case (n, s) =>
      s.secs >= 0 && !s.unsettled && s.reps >= 2 && settled.get(n).exists(s.secs < _ * 0.8) }
    Option.when(added.nonEmpty || improved.nonEmpty) {
      val r = prior.deepCopy()
      val qs = r.withObjectProperty("queries")
      val ds = r.withObjectProperty("detail")
      def put(tag: String)(e: (String, Sample)): Unit = {
        qs.put(e._1, dec(e._2.secs))
        ds.set[JsonNode](e._1, detail(e._2).put(tag, true))
      }
      added.foreach(put("folded_in"))
      improved.foreach(put("improved_in"))
      // stage fields go before "sf", which stays last
      val sf = Option(r.remove("sf"))
      added.foreach { case (n, s) => s.stages.foreach(r.set[JsonNode](n + "_stages", _)) }
      sf.foreach(r.set[JsonNode]("sf", _))
      Fold(withValue(r), added.map(_._1), improved.map(_._1))
    }
  }

  sealed trait Decision
  final case class Overwrite(record: ObjectNode) extends Decision
  final case class Keep(refusal: Refusal, fold: Option[Fold]) extends Decision

  /** What a full run does to the record: replace it, or keep it and fold
    * in what [[fold]] allows (never across scale factors). */
  def decide(prior: Option[ObjectNode], run: Run, force: Boolean): Decision =
    guard(prior, run, force) match {
      case None => Overwrite(full(run))
      case Some(r: SfMismatch) => Keep(r, None)
      case Some(r) => Keep(r, fold(prior.get, run))
    }

  /** The line the driver parses. It keeps only a ~2000-char tail of
    * stdout, so the line degrades until it fits 1900 chars: every entry at
    * 3 decimals, then at 2, then the 40 slowest with `queries_shown`
    * (crashed -1 entries first, so truncation never hides a crash), then
    * none. Its value is the sum of the unrounded non-negative timings. The
    * unsettled list rides every line, capped at 20 names plus
    * `unsettled_count`.
    */
  def line(run: Run): String = {
    val all = run.results
    val total = dec(all.map(_._2.secs).filter(_ >= 0).sum)
    val unsettled = all.collect { case (n, s) if s.unsettled => n }
    def at(scale: Int, top: Int): String = {
      val o = obj("metric" -> "total", "value" -> total, "unit" -> "sec")
      val shown = if (top >= all.size) all
        else all.sortBy { case (_, s) => if (s.secs < 0) Double.MinValue else -s.secs }
          .take(top).sortBy(_._1)
      val qs = o.putObject("queries")
      shown.foreach { case (n, s) => qs.put(n, dec(s.secs, scale)) }
      if (top < all.size) o.put("queries_shown", top)
      val u = o.putArray("unsettled")
      unsettled.take(20).foreach(u.add)
      if (unsettled.size > 20) o.put("unsettled_count", unsettled.size)
      render(o.put("sf", run.sf))
    }
    Seq(at(3, Int.MaxValue), at(2, Int.MaxValue), at(2, 40))
      .find(_.length <= 1900).getOrElse(at(3, 0))
  }
}
