package graft

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

import BenchRecord._

/** The bench record's format and update rules, without Spark. */
class BenchRecordSpec extends AnyFunSuite {

  private def ok(secs: Double, reps: Int = 2): Sample = Sample(secs, reps, 5.0, unsettled = false)
  private def loose(secs: Double): Sample = Sample(secs, 4, 40.0, unsettled = true)
  private def run(sf: String, results: (String, Sample)*): Run = Run(sf, 2, 2, results)
  private def record(sf: String, results: (String, Sample)*): Option[ObjectNode] =
    Some(full(run(sf, results: _*)))
  private def names(n: JsonNode): Seq[String] = n.properties.asScala.toSeq.map(_.getKey)

  test("the committed records parse and render back byte for byte") {
    Seq("BENCH_LOCAL.json", "STRESS_FULL.json").foreach { f =>
      val text = Files.readString(Paths.get(f))
      assert(render(parse(text)) == text, f)
    }
  }

  test("the line: keys, order and number formatting") {
    val r = run("/d", "q_b" -> ok(1.0), "q_a" -> ok(0.2504), "q_c" -> loose(0.1),
      "x_s" -> Sample.single(-1.0, None))
    assert(line(r) == """{"metric":"total","value":1.350,"unit":"sec",""" +
      """"queries":{"q_b":1.000,"q_a":0.250,"q_c":0.100,"x_s":-1.000},""" +
      """"unsettled":["q_c"],"sf":"/d"}""")
  }

  test("the line falls back to 2 decimals, then the 40 slowest, then no entries") {
    def entries(k: Int, width: Int) = (1 to k).map(i => "q_" + s"%0${width}d".format(i))
      .map(n => n -> ok(0.001 * n.takeRight(3).toInt + 0.1234))
    def parsed(r: Run) = { val l = line(r); assert(l.length <= 1900); parse(l) }
    def scales(p: JsonNode) = p.get("queries").properties.asScala.map(_.getValue.decimalValue.scale).toSet

    val three = parsed(run("/d", entries(100, 3): _*))
    assert(three.get("queries").size == 100 && scales(three) == Set(3) && !three.has("queries_shown"))

    val two = parsed(run("/d", entries(135, 3): _*))
    assert(two.get("queries").size == 135 && scales(two) == Set(2) && !two.has("queries_shown"))

    // a crashed entry survives truncation; the rest are the slowest
    val many = entries(300, 3) :+ ("q_crashed" -> Sample.of(Nil))
    val top = parsed(run("/d", many: _*))
    assert(top.get("queries_shown").asInt == 40 && scales(top) == Set(2))
    val shown = names(top.get("queries"))
    assert(shown == shown.sorted && shown.size == 40)
    assert(shown.contains("q_crashed") && top.get("queries").get("q_crashed").asDouble == -1.0)
    assert((shown.toSet - "q_crashed") == (262 to 300).map(i => f"q_$i%03d").toSet)

    val none = parsed(run("/d", entries(300, 60): _*))
    assert(none.get("queries").size == 0 && none.get("queries_shown").asInt == 0)
    assert(none.get("value").decimalValue.scale == 3)
  }

  test("more than 20 unsettled entries are capped with unsettled_count") {
    val p = parse(line(run("/d", (1 to 25).map(i => f"q_$i%02d" -> loose(0.5)): _*)))
    assert(p.get("unsettled").size == 20 && p.get("unsettled_count").asInt == 25)
    assert(names(p).takeRight(3) == Seq("unsettled", "unsettled_count", "sf"))
    assert(!parse(line(run("/d", "q_a" -> loose(0.5)))).has("unsettled_count"))
  }

  test("the record's value is the sum of its recorded entries, the line's of the raw timings") {
    val r = run("/d", "q_a" -> ok(0.0004), "q_b" -> ok(0.0004), "q_c" -> ok(0.0004),
      "x_s" -> Sample.single(-1.0, None))
    assert(full(r).get("value").decimalValue.toString == "0.000")
    assert(full(run("/d", "q_a" -> ok(0.3), "q_b" -> ok(0.3))).get("value").decimalValue.toString == "0.600")
    assert(parse(line(r)).get("value").decimalValue.toString == "0.001")
    val fold = BenchRecord.fold(full(run("/d", "q_a" -> ok(0.0004))),
      run("/d", "q_a" -> ok(0.0004), "q_b" -> ok(1.2345))).get
    assert(fold.record.get("value").decimalValue.toString == "1.235")
  }

  test("the guard refuses another scale factor, a slower run and a less settled one; force overrides") {
    val prior = record("/a", "q_a" -> ok(1.0), "q_b" -> ok(1.0), "q_c" -> ok(1.0), "q_d" -> ok(10.0))
    def refusal(r: Run) = guard(prior, r, force = false)
    val same = run("/a", "q_a" -> ok(1.0), "q_b" -> ok(1.0), "q_c" -> ok(1.0), "q_d" -> ok(10.0))
    assert(refusal(same).isEmpty)
    assert(decide(prior, same, force = false).isInstanceOf[Overwrite])
    assert(guard(None, same, force = false).isEmpty)

    val cases = Seq(
      run("/b", same.results: _*) -> classOf[SfMismatch],
      // the shared sum 38% slower while the median entry is unmoved
      run("/a", "q_a" -> ok(1.0), "q_b" -> ok(1.0), "q_c" -> ok(1.0), "q_d" -> ok(15.0)) -> classOf[Slower],
      // the sum 2% slower while the median entry is 10% slower
      run("/a", "q_a" -> ok(1.1), "q_b" -> ok(1.1), "q_c" -> ok(1.1), "q_d" -> ok(10.0)) -> classOf[Slower],
      run("/a", "q_a" -> ok(1.0), "q_b" -> ok(1.0), "q_c" -> ok(1.0), "q_d" -> loose(10.0)) -> classOf[LessSettled])
    cases.foreach { case (r, kind) =>
      assert(refusal(r).map(_.getClass).contains(kind), r)
      assert(refusal(r).get.message.nonEmpty)
      assert(guard(prior, r, force = true).isEmpty)
      assert(decide(prior, r, force = true) == Overwrite(full(r)))
    }
    // a refusal at another scale factor folds nothing, even a new entry
    assert(decide(prior, run("/b", "q_new" -> ok(1.0)), force = false) ==
      Keep(SfMismatch("/a", "/b"), None))
  }

  test("a refused run folds in first-seen and improved entries, with their stages") {
    val prior = record("/a", "q_a" -> ok(1.0), "q_b" -> ok(2.0), "q_u" -> loose(3.0))
    val stages = obj("pairs_x2" -> 10, "total_s" -> 4.5)
    val r = run("/a", "q_a" -> ok(0.5), "q_b" -> ok(2.0), "q_u" -> ok(1.0),
      "q_new" -> ok(0.7), "q_loose" -> loose(0.1), "q_loose2" -> loose(0.2),
      "q_crash" -> Sample.of(Nil),
      "x_dedup_stress" -> Sample.single(4.5, Some(stages)),
      "x_single" -> Sample.single(0.1, None))
    val Keep(why, Some(f)) = decide(prior, r, force = false): @unchecked
    assert(why.isInstanceOf[LessSettled])
    assert(f.added == Seq("q_new", "x_dedup_stress", "x_single"))
    // q_u was unsettled in the record, so its lower value is no improvement
    assert(f.improved == Seq("q_a"))
    val rec = f.record
    assert(rec.get("queries").get("q_a").decimalValue.toString == "0.500")
    assert(rec.get("detail").get("q_a").get("improved_in").asBoolean)
    assert(rec.get("detail").get("q_new").get("folded_in").asBoolean)
    assert(rec.get("queries").get("q_u").decimalValue.toString == "3.000")
    assert(Seq("q_loose", "q_loose2", "q_crash").forall(!rec.get("queries").has(_)))
    assert(rec.get("x_dedup_stress_stages") == stages)
    assert(names(rec).takeRight(2) == Seq("x_dedup_stress_stages", "sf"))
    assert(rec.get("value").decimalValue.toString == "10.800") // 0.5+2+3+0.7+4.5+0.1
    assert(prior.get.get("queries").get("q_a").decimalValue.toString == "1.000") // prior untouched
    // a single-shot scenario does not improve through a fold
    assert(BenchRecord.fold(rec, run("/a", "x_single" -> Sample.single(0.01, None))).isEmpty)
  }

  test("an unsettled entry is corroborated by the record only within 20%, keeping its own value") {
    val prior = record("/a", "q_a" -> ok(1.0), "q_u" -> loose(1.0))
    def after(sf: String, s: Sample, name: String = "q_a") =
      corroborate(prior, sf, Seq(name -> s)).head._2
    assert(after("/a", loose(1.1)) == ok(1.1).copy(reps = 4, spreadPct = 40.0))
    assert(after("/a", loose(0.85)).unsettled == false)
    // slower by more than 20%: stays unsettled with what it measured
    assert(after("/a", loose(1.3)) == loose(1.3))
    assert(after("/a", loose(0.7)) == loose(0.7))
    assert(after("/b", loose(1.1)) == loose(1.1))
    assert(after("/a", loose(1.0), "q_u") == loose(1.0))
    assert(after("/a", Sample.of(Nil)) == Sample.of(Nil))
  }

  test("Sample.of keeps the best time, the rep count and the best two's spread") {
    assert(Sample.of(Seq(1.3, 1.0, 1.1)) == Sample(1.0, 3, 100.0 * (1.1 - 1.0) / 1.0, unsettled = false))
    assert(Sample.of(Seq(2.0, 1.0)).unsettled)
    assert(Sample.of(Seq(1.0)) == Sample(1.0, 1, -1.0, unsettled = true))
    assert(Sample.of(Nil) == Sample(-1.0, 0, -1.0, unsettled = true))
  }
}
