package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.JsonFileSource
import graft.table.GraftTable

/** `ingest_drain`: a seeded backlog of JSON-lines files holding the
  * reference's nested asset event (with a seeded share of malformed
  * lines) drained by one JsonFileSource stream with an AvailableNow
  * trigger through foreachBatch into GraftTable.append, one commit per
  * epoch. Each pass drains the whole backlog into a fresh table.
  */
final class IngestDrain(ctx: Ctx) extends Workload {
  import IngestDrain._
  private val spark = ctx.spark
  private val args = ctx.args
  private val files = math.max(8, math.round(480 * args.scale).toInt)
  private val linesPerFile = 200
  private val filesPerTrigger = 4

  private var backlog: Path = _
  private var expect: Expect = _

  private val drainS = ArrayBuffer.empty[(Int, Double)] // (pass, seconds)
  private val epochMs = ArrayBuffer.empty[(Int, Double)]
  private val goodRows = ArrayBuffer.empty[Long]
  private var lastTable: GraftTable = _
  private val traced = ArrayBuffer.empty[Int]
  private val tracedOps = ArrayBuffer.empty[String]
  // per-layer samples from traced passes
  private val listMs, getBatchMs, planningMs, walMs, appendMs = ArrayBuffer.empty[Double]
  private val backlogAtStart, filesPerCommit, bytesPerCommit = ArrayBuffer.empty[Double]
  private val entriesMs = ArrayBuffer.empty[Double]
  private val rowsIn, malformed, commits = ArrayBuffer.empty[Double]
  private val tracedWallS, jobMs = ArrayBuffer.empty[Double]

  def build(rep: Int): Unit = {
    val dir = ctx.dir(s"ingest/backlog-$rep")
    expect = writeBacklog(dir, args.seed, files, linesPerFile)
    backlog = dir
  }

  def nominalPassS: Double = 5.0

  // after a single warm-up drain, the first timed drain still ran about
  // 15% slower than the second
  override def warmupPasses: Int = 2

  private def stream(dir: Path, ckpt: Path, table: GraftTable,
      onMalformed: Long => Unit, onAppendMs: Double => Unit) = {
    val acc = spark.sparkContext.longAccumulator("malformed")
    JsonFileSource(dir.toString, Ddl, maxFilesPerTrigger = filesPerTrigger).load(spark)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (b: DataFrame, bid: Long) =>
        val op = s"${spark.sparkContext.getLocalProperty(ExecListener.PassKey)}/e$bid"
        val ci = b.schema.fieldIndex("_corrupt_record")
        val before = acc.value
        val clean = b.filter { (r: Row) =>
          if (r.isNullAt(ci)) true else { acc.add(1L); false }
        }.drop("_corrupt_record")
        val t0 = System.nanoTime()
        ctx.tracer.span("table.append", op)(table.append(clean.coalesce(1)))
        onAppendMs((System.nanoTime() - t0) / 1e6)
        onMalformed(acc.value - before)
      }
  }

  private def tableChecksum(t: GraftTable): Expect = {
    val r = t.read().agg(count(lit(1)), coalesce(sum(col("eventId")), lit(0L)),
      coalesce(sum(length(col("fqdn"))), lit(0L)),
      coalesce(sum(size(col("contributingSources"))), lit(0L)),
      coalesce(sum(size(col("customField1"))), lit(0L))).head()
    Expect(r.getLong(0), 0L, r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
  }

  def pass(p: Int): Unit = {
    val passId = s"p$p"
    val table = GraftTable.createOrReplace(spark, ctx.dir(s"ingest/table-$p").toString)
    val head0 = table.headSeq
    var malformedSeen = 0L
    val appends = ArrayBuffer.empty[Double]
    val sc = spark.sparkContext
    sc.setLocalProperty(ExecListener.PassKey, passId)
    val t0 = System.nanoTime()
    val runId =
      try {
        val q = stream(backlog, ctx.dir(s"ingest/ckpt-$p"), table,
          m => malformedSeen += m, ms => appends.synchronized(appends += ms)).start()
        q.awaitTermination()
        Some(q.runId)
      } catch {
        case scala.util.control.NonFatal(e) => ctx.warn(s"drain $passId threw: $e"); None
      } finally sc.setLocalProperty(ExecListener.PassKey, null)
    val secs = (System.nanoTime() - t0) / 1e9
    ctx.drainListeners()
    val progress = runId.map(ctx.streams.of).getOrElse(Nil)
      .filter(_.durationMs.containsKey("addBatch"))
    val epochs = progress.size
    ctx.attempted += epochs
    if (runId.isEmpty) { ctx.attempted += 1; ctx.failed += 1; return }
    if (p >= 0) {
      drainS += ((p, secs))
      progress.foreach(g => epochMs += ((p, g.durationMs.get("triggerExecution").toDouble)))
    }
    // output checks for the drain, counted as one more op
    val want = if (args.wrongModel) expect.copy(good = expect.good + 1) else expect
    val commitsMade = table.headSeq - head0
    ctx.op(s"$passId/check") {
      val got = tableChecksum(table)
      if (p >= 0) goodRows += got.good
      ctx.check(got.good == want.good, s"$passId committed ${got.good} rows, generated ${want.good} good") &
        ctx.check(malformedSeen == want.malformed,
          s"$passId counted $malformedSeen malformed lines, planted ${want.malformed}") &
        ctx.check(commitsMade == epochs,
          s"$passId made $commitsMade commits for $epochs epochs") &
        ctx.check(epochs < files || files <= filesPerTrigger,
          s"$passId ran $epochs epochs for $files files: one commit per file") &
        ctx.check(got.copy(malformed = want.malformed) == want,
          s"$passId re-read checksum $got, generated $want")
    }
    if (ctx.traced) {
      traced += p
      tracedOps ++= progress.map(g => s"$passId/e${g.batchId}")
      recordEpochSpans(passId, progress)
      val jobs = ctx.recordJobSpans()
      progress.foreach { g =>
        val op = s"$passId/e${g.batchId}"
        jobMs += jobs.filter(_.op == op).map(j => (j.endMs - j.startMs).toDouble).sum
      }
      listMs ++= progress.map(g => g.durationMs.get("latestOffset").toDouble)
      getBatchMs ++= progress.map(g => g.durationMs.get("getBatch").toDouble)
      planningMs ++= progress.map(g => g.durationMs.get("queryPlanning").toDouble)
      walMs ++= progress.map(g =>
        g.durationMs.get("walCommit").toDouble + g.durationMs.get("commitOffsets").toDouble)
      appendMs ++= appends
      rowsIn += progress.map(_.numInputRows).sum.toDouble
      malformed += malformedSeen.toDouble
      commits += commitsMade.toDouble
      var consumed = 0L
      progress.foreach { g =>
        backlogAtStart += (files - consumed / linesPerFile).toDouble
        consumed += g.numInputRows
      }
      val log = table.commitLog
      val entries = ctx.tracer.span("log.entries", s"$passId/probe") {
        val t1 = System.nanoTime()
        val es = log.entries()
        entriesMs += (System.nanoTime() - t1) / 1e6
        es
      }
      entries.filter(e => e.seq > head0 && e.dataFiles.nonEmpty).foreach { e =>
        filesPerCommit += e.dataFiles.size.toDouble
        bytesPerCommit += e.dataFiles.map(f => Files.size(java.nio.file.Paths.get(f))).sum.toDouble
      }
      tracedWallS += secs
    }
    ctx.exec.takeJobs()
    if (lastTable != null) Main.deleteTree(lastTable.root)
    Main.deleteTree(args.work.resolve(s"ingest/ckpt-$p"))
    lastTable = table
  }

  /** The epoch's stages as Spark's progress reports them, laid end to end
    * from the trigger start in the order MicroBatchExecution runs them;
    * the benchmark's own table.append span nests under addBatch.
    */
  private def recordEpochSpans(passId: String,
      progress: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]): Unit =
    progress.foreach { g =>
      val op = s"$passId/e${g.batchId}"
      val d = g.durationMs.asScala.map { case (k, v) => k -> Clock.ofMillis(v.longValue) }
      val start = Clock.ofMillis(Instant.parse(g.timestamp).toEpochMilli)
      val root = ctx.tracer.record("stream.epoch", op, 0L, start, start + d("triggerExecution"))
      var at = start
      Seq("latestOffset" -> "sources.latest_offset", "walCommit" -> "stream.wal_commit",
        "getBatch" -> "sources.get_batch", "queryPlanning" -> "stream.planning",
        "addBatch" -> "stream.add_batch", "commitOffsets" -> "stream.commit_offsets")
        .foreach { case (k, name) =>
          val len = d.getOrElse(k, 0L)
          val id = ctx.tracer.record(name, op, root, at, at + len)
          if (k == "addBatch")
            ctx.tracer.reparent(s => s.op == op && s.name == "table.append", id)
          at += len
        }
    }

  def finish(): Unit = {
    val r = ctx.report
    val untraced = drainS.filterNot(d => traced.contains(d._1))
    val plain = if (untraced.nonEmpty) untraced else drainS
    r.put("wall_s", Stats.median(plain.map(_._2).toSeq), "s", plain.size, "median drain")
    r.put("throughput", goodRows.sum / drainS.map(_._2).sum, "items/s", drainS.size,
      "good rows committed per second of drain")
    val ep = epochMs.map(_._2).toSeq
    r.latency("epoch", ep)
    r.latency("op", ep)
    if (lastTable != null)
      r.put("bytes_per_row", Main.bytesUnder(lastTable.root).toDouble / expect.good, "B", 1,
        "data + metadata bytes under the table root / live rows")
    if (traced.nonEmpty) {
      val n = traced.size
      r.put("sources.list_ms", Stats.median(listMs.toSeq), "ms", listMs.size, "latestOffset per epoch")
      r.put("sources.get_batch_ms", Stats.median(getBatchMs.toSeq), "ms", getBatchMs.size)
      r.put("sources.rows_in", Stats.mean(rowsIn.toSeq), "count", n, "numInputRows per drain")
      r.put("sources.malformed", Stats.mean(malformed.toSeq), "count", n, "per drain")
      r.put("sources.backlog_files", Stats.mean(backlogAtStart.toSeq), "count", backlogAtStart.size,
        "files not yet drained at epoch start")
      r.put("stream.planning_ms", Stats.median(planningMs.toSeq), "ms", planningMs.size)
      r.put("stream.wal_ms", Stats.median(walMs.toSeq), "ms", walMs.size, "walCommit + commitOffsets")
      r.put("table.append_ms", Stats.median(appendMs.toSeq), "ms", appendMs.size)
      r.put("table.files_per_commit", Stats.mean(filesPerCommit.toSeq), "count", filesPerCommit.size)
      r.put("table.bytes_per_commit", Stats.mean(bytesPerCommit.toSeq), "B", bytesPerCommit.size)
      r.put("log.commits", Stats.mean(commits.toSeq), "count", n, "headSeq change per drain")
      r.put("log.entries_ms", Stats.median(entriesMs.toSeq), "ms", entriesMs.size)
      val wallMs = tracedWallS.sum * 1000
      ctx.execMetrics(tracedOps.toSeq, wallMs)
      r.put("exec.ms", Stats.median(jobMs.toSeq), "ms", jobMs.size, "Spark job time per epoch")
      r.put("trace.overhead_ms",
        (Stats.median(tracedWallS.toSeq) - Stats.median(untraced.map(_._2).toSeq)) * 1000, "ms",
        n, "traced minus untraced median drain")
      Main.putSelfTimes(ctx, n)
    }
  }
}

object IngestDrain {
  /** FIXTURES.md B3: the reference's AssetMessage with every type shape. */
  val Ddl: String =
    "createdTime TIMESTAMP, createdTimeEpoch BIGINT, id STRING, name STRING, fqdn STRING, " +
      "account STRING, cloudRegion STRING, networkInterface STRING, " +
      "contributingSources ARRAY<STRING>, delFlag INT, isActive BOOLEAN, eventId BIGINT, " +
      "cpuUsage DOUBLE, lastAssessmentDate STRING, " +
      "customField1 ARRAY<STRUCT<source: STRING, values: ARRAY<STRING>>>, _corrupt_record STRING"

  /** What the generated backlog must read back as. */
  final case class Expect(good: Long, malformed: Long, eventIdSum: Long, fqdnChars: Long,
      sources: Long, customEntries: Long)

  private val Sources = Array("crowdstrike", "qualys", "tenable")
  private val Regions = Array("us-east-1", "eu-west-1", "ap-south-1")

  /** Writes `files` JSON-lines files of `lines` lines each. The share of
    * malformed (truncated) lines is drawn from the seed, between 1% and 4%.
    */
  def writeBacklog(dir: Path, seed: Long, files: Int, lines: Int): Expect = {
    val rnd = new SplittableRandom(seed)
    val badShare = 0.01 + rnd.nextDouble() * 0.03
    val idBase = rnd.nextLong(1L << 40)
    var e = Expect(0, 0, 0, 0, 0, 0)
    (0 until files).foreach { f =>
      val sb = new StringBuilder
      (0 until lines).foreach { i =>
        val id = idBase + f.toLong * lines + i
        val nSrc = 1 + rnd.nextInt(3)
        val nCf = 1 + rnd.nextInt(3)
        val fqdn = s"asset-$id.${Regions(rnd.nextInt(3))}.example.internal"
        val us = 1704067200000000L + rnd.nextLong(86400L * 365) * 1000000L
        val line =
          s"""{"createdTime":"${Instant.ofEpochSecond(us / 1000000L)}","createdTimeEpoch":$us,""" +
            s""""id":"uuid-$id","name":"asset-$id","fqdn":"$fqdn","account":"acct-${rnd.nextInt(7)}",""" +
            s""""cloudRegion":"${Regions(rnd.nextInt(3))}",""" +
            s""""networkInterface":"{\\"ipAddress\\":\\"10.${rnd.nextInt(255)}.${rnd.nextInt(255)}.${rnd.nextInt(255)}\\",""" +
            s"""\\"macAddress\\":\\"${f"${rnd.nextLong(1L << 48)}%012x"}\\",\\"networkName\\":\\"net-${rnd.nextInt(5)}\\"}",""" +
            s""""contributingSources":[${(0 until nSrc).map(k => "\"" + Sources(k) + "\"").mkString(",")}],""" +
            s""""delFlag":${rnd.nextInt(2)},"isActive":${rnd.nextBoolean()},"eventId":$id,""" +
            s""""cpuUsage":${rnd.nextInt(10000) / 100.0},""" +
            s""""lastAssessmentDate":"${java.time.LocalDate.of(2018, 1, 1).plusDays(rnd.nextInt(2900))}",""" +
            s""""customField1":[${(0 until nCf).map(k => s"""{"source":"${Sources((k + f) % 3)}","values":["val-${rnd.nextInt(100)}","val-${rnd.nextInt(100)}"]}""").mkString(",")}]}"""
        if (rnd.nextDouble() < badShare) {
          sb.append(line, 0, line.length / 2).append('\n')
          e = e.copy(malformed = e.malformed + 1)
        } else {
          sb.append(line).append('\n')
          e = e.copy(good = e.good + 1, eventIdSum = e.eventIdSum + id,
            fqdnChars = e.fqdnChars + fqdn.length, sources = e.sources + nSrc,
            customEntries = e.customEntries + nCf)
        }
      }
      Files.write(dir.resolve(f"part-$f%05d.json"), sb.toString.getBytes(StandardCharsets.UTF_8))
    }
    e
  }
}
