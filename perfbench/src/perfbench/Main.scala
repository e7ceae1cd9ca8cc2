package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Command-line arguments: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --spans <file> [--scale <sf>] [--wrong-model 1]`.
  */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, spans: Path, scale: Double, wrongModel: Boolean)

object Args {
  def parse(argv: Array[String]): Args = {
    require(argv.length % 2 == 0, s"arguments come in --key value pairs: ${argv.mkString(" ")}")
    val kv = argv.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"not an option: $k"); k.drop(2) -> v
    }.toMap
    def get(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      get("trace") == "1", Paths.get(get("work")), Paths.get(get("spans")),
      kv.getOrElse("scale", "0.1").toDouble, kv.get("wrong-model").contains("1"))
    require(a.seconds > 0 && a.scale > 0, "--seconds and --scale must be positive")
    a
  }
}

/** Statistics over latency samples. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it, as
    * (value, percentile); None below 20 samples, where that percentile
    * would fall below the median.
    */
  def tail(xs: Seq[Double]): Option[(Double, Double)] =
    if (xs.size < 20) None
    else {
      val s = xs.sorted
      val i = s.size - 11
      Some((s(i), 100.0 * (i + 1) / s.size))
    }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
}

/** Every metric of one run, by name, with its unit and sample count. */
final class Report {
  import Report.M
  private val ms = mutable.LinkedHashMap.empty[String, M]

  def put(name: String, value: Double, unit: String, n: Int = 1, note: String = ""): Unit =
    ms(name) = M(value, unit, n, note)

  /** `<prefix>_p50_ms` and `<prefix>_tail_ms` over latency samples in ms. */
  def latency(prefix: String, samplesMs: Seq[Double]): Unit = {
    put(s"${prefix}_p50_ms", Stats.median(samplesMs), "ms", samplesMs.size)
    Stats.tail(samplesMs) match {
      case Some((v, pct)) => put(s"${prefix}_tail_ms", v, "ms", samplesMs.size, f"p$pct%.1f")
      case None => put(s"${prefix}_tail_ms", Double.NaN, "ms", samplesMs.size, "under 20 samples")
    }
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Human-readable lines, then one machine-readable line. A metric with
    * no samples in this run (a layer the workload does not load) reads 0.
    */
  def print(correct: Boolean, attempted: Long, failed: Long): Unit = {
    ms.foreach { case (k, m) =>
      val shown = if (m.value.isNaN) "n/a" else f"${m.value}%.4f"
      val note = if (m.note.isEmpty) "" else s"  ${m.note}"
      println(f"metric $k%-30s $shown%16s ${m.unit}%-8s n=${m.n}$note")
    }
    val body = ms.map { case (k, m) =>
      s""""$k":{"value":${num(m.value)},"unit":"${m.unit}","n":${m.n}}"""
    }.mkString(",")
    println(s"""PERFBENCH_RESULT {"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$body}}""")
  }
}

object Report {
  private final case class M(value: Double, unit: String, n: Int, note: String)
}

/** State shared by a run's workload: the session, the tracer, the
  * listeners, the report and the op accounting.
  */
final class Ctx(val spark: SparkSession, val args: Args) {
  val tracer = new Tracer
  val exec = new ExecListener
  val streams = new StreamListener
  val report = new Report
  val cores: Int = spark.sparkContext.defaultParallelism
  var attempted = 0L
  var failed = 0L

  def traced: Boolean = tracer.on
  def setTraced(on: Boolean): Unit = { tracer.on = on; exec.on = on }

  def dir(name: String): Path = {
    val d = args.work.resolve(name)
    Files.createDirectories(d)
    d
  }

  /** Wait until the listeners have seen every event posted so far. */
  def drainListeners(): Unit = org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** One op under its own job group. It fails when it throws or when the
    * body reports a failed output check.
    */
  def op(opId: String)(body: => Boolean): Boolean = {
    attempted += 1
    spark.sparkContext.setJobGroup(s"pb:$opId", opId, interruptOnCancel = false)
    val ok =
      try body
      catch { case NonFatal(e) => warn(s"op $opId threw: $e"); false }
      finally spark.sparkContext.clearJobGroup()
    if (!ok) failed += 1
    ok
  }

  /** An output check; a failure is logged and returned. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) warn(s"check failed: $what")
    ok
  }

  def warn(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Turn the jobs seen since the last call into `exec.job` spans nested
    * under the innermost span of their op that holds them.
    */
  def recordJobSpans(): Seq[JobRec] = {
    drainListeners()
    val jobs = exec.takeJobs()
    if (traced && jobs.nonEmpty) {
      val spans = tracer.spans
      jobs.foreach { j =>
        val (a, b) = (Clock.ofMillis(j.startMs), Clock.ofMillis(j.endMs))
        tracer.record("exec.job", j.op, Tracer.enclosing(spans, j.op, a, b, 2000000L), a, b)
      }
    }
    jobs
  }

  /** Per-layer Spark counters over ops. */
  def execMetrics(ops: Seq[String], wallMs: Double): Unit = {
    val sum = new OpCounters
    ops.map(exec.countersOf).foreach { k =>
      sum.jobs += k.jobs; sum.stages += k.stages; sum.tasks += k.tasks
      sum.runMs += k.runMs; sum.gcMs += k.gcMs
      sum.shuffleRead += k.shuffleRead; sum.shuffleWrite += k.shuffleWrite
      sum.recordsRead += k.recordsRead
    }
    val n = math.max(ops.size, 1)
    report.put("exec.jobs", sum.jobs.toDouble / n, "count", ops.size, "per op")
    report.put("exec.stages", sum.stages.toDouble / n, "count", ops.size, "per op")
    report.put("exec.tasks", sum.tasks.toDouble / n, "count", ops.size, "per op")
    report.put("exec.task_ms", sum.runMs.toDouble / n, "ms", ops.size, "executorRunTime per op")
    report.put("exec.gc_ms", sum.gcMs.toDouble / n, "ms", ops.size, "jvmGCTime per op")
    report.put("exec.busy_pct",
      if (wallMs > 0) 100.0 * sum.runMs / (wallMs * cores) else Double.NaN, "%", ops.size,
      s"task time / (wall x $cores slots)")
    report.put("exec.shuffle_read_bytes", sum.shuffleRead.toDouble / n, "B", ops.size, "per op")
    report.put("exec.shuffle_write_bytes", sum.shuffleWrite.toDouble / n, "B", ops.size, "per op")
  }
}

/** One benchmark workload. `build` makes the inputs from the seed (it
  * runs several times during set-up; the last build is the one used).
  * Each `pass` is one unit of work; the `warmupPasses` passes numbered
  * below 0 are the untimed warm-up, whose outputs are checked but not
  * measured. `nominalPassS` is about how long a pass takes, and fixes
  * how many passes fill `--seconds`, so that every run of a workload
  * does the same work.
  */
trait Workload {
  def nominalPassS: Double
  def warmupPasses: Int = 1
  def build(rep: Int): Unit
  def pass(p: Int): Unit
  def finish(): Unit
}

object Main {
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val args = Args.parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    Files.createDirectories(args.work)
    val spark = graft.GraftSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, args)
    spark.sparkContext.addSparkListener(ctx.exec)
    spark.streams.addListener(ctx.streams)
    val code =
      try run(ctx, jvmStartMs)
      catch { case NonFatal(e) => e.printStackTrace(); 1 }
      finally spark.stop()
    sys.exit(code)
  }

  private def run(ctx: Ctx, jvmStartMs: Long): Int = {
    val args = ctx.args
    val w: Workload = args.workload match {
      case "ingest_drain" => new IngestDrain(ctx)
      case "sql_serve" => new SqlServe(ctx)
      case "neardup" => new NearDup(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val builds = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      w.build(rep)
      (System.nanoTime() - t0) / 1e9
    }
    val w0 = System.nanoTime()
    (-w.warmupPasses until 0).foreach(w.pass)
    val warmS = (System.nanoTime() - w0) / 1e9
    System.gc()
    // process start to the first timed op, with the repeated input build
    // counted once, at its median
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - builds.sum + Stats.median(builds)
    ctx.report.put("setup_s", setupS, "s", SetupReps,
      f"session $sessionS%.3f s, input build median ${Stats.median(builds)}%.3f s of " +
        f"${builds.map(b => f"$b%.3f").mkString("/")}, ${w.warmupPasses} warm-up passes $warmS%.3f s")
    // trace 1: untraced and traced passes alternate, so tracing overhead is
    // measured inside one run; trace 0: no pass is traced
    val fill = math.max(1, math.ceil(args.seconds / w.nominalPassS).toInt)
    val passes = if (args.trace) 2 * ((fill + 1) / 2) else fill
    (0 until passes).foreach { p =>
      ctx.setTraced(args.trace && p % 2 == 1)
      val a = System.nanoTime()
      w.pass(p)
      ctx.warn(f"pass $p${if (ctx.traced) " (traced)" else ""}: ${(System.nanoTime() - a) / 1e9}%.3f s")
      ctx.setTraced(false)
    }
    w.finish()
    ctx.report.put("peak_rss_mb", peakRssMb, "MB", 1, "VmHWM")
    ctx.report.put("failed_ops_pct",
      if (ctx.attempted == 0) 100.0 else 100.0 * ctx.failed / ctx.attempted, "%",
      ctx.attempted.toInt)
    if (args.trace) {
      val spans = ctx.tracer.spans
      ctx.tracer.write(args.spans)
      ctx.report.put("trace.spans", spans.size.toDouble, "count", spans.size, args.spans.toString)
    }
    val correct = ctx.failed == 0 && ctx.attempted > 0
    ctx.report.print(correct, ctx.attempted, ctx.failed)
    if (correct) 0 else 1
  }

  private def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Recursive size of a directory in bytes. */
  def bytesUnder(root: Path): Long = {
    val s = Files.walk(root)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val s = Files.walk(root)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    finally s.close()
  }

  /** Self time per layer over the traced spans, per traced pass. */
  def putSelfTimes(ctx: Ctx, tracedPasses: Int): Unit = {
    val self = Tracer.selfTimeByLayer(ctx.tracer.spans)
    val n = math.max(tracedPasses, 1)
    Layers.foreach { l =>
      ctx.report.put(s"self.${l}_ms", self.getOrElse(l, 0L) / 1e6 / n, "ms", tracedPasses,
        "layer self time per traced pass")
    }
    (self.keySet -- Layers).toSeq.sorted.foreach { l =>
      ctx.report.put(s"self.${l}_ms", self(l) / 1e6 / n, "ms", tracedPasses, "benchmark's own span")
    }
  }

  val Layers: Seq[String] =
    Seq("sources", "stream", "sql", "log", "table", "maint", "functions", "queries", "exec")
}
