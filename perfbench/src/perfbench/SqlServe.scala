package perfbench

import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sql.GraftSql
import graft.table.{GraftCatalog, GraftTable}

/** `sql_serve`: one client in a closed loop sends SQL statements to
  * `graft.bench.lineitem` through GraftSql.sql and waits for each result.
  * Set-up builds the table as many appends in l_orderkey order with
  * per-file l_orderkey stats. The seeded mix is mostly point lookups
  * (some on recently inserted keys), narrow range aggregates, small
  * INSERT … SELECT and DELETE … WHERE writes, and inline maintenance
  * (compactSmall, then checkpointMetadata) closing every pass. Every pass
  * runs the statements of [[SqlServe.Order]]; the seed draws their keys.
  * Every result is checked against the benchmark's own model of the table.
  */
final class SqlServe(ctx: Ctx) extends Workload {
  import SqlServe._
  private val spark = ctx.spark
  private val args = ctx.args
  // a quarter of sf0.1 lineitem (about 150000 rows at --scale 0.1), so
  // that set-up, a warm-up pass and two timed passes fit one run; one
  // timed pass of the full sf0.1 table spread about 24% between runs
  private val orders = math.max(300L, math.round(375000 * args.scale))
  private val appends = 4
  private val s = java.lang.Math.floorMod(args.seed, 1000003L)
  private val rnd = new SplittableRandom(args.seed)
  private val Table = "graft.bench.lineitem"

  private var cat: GraftCatalog = _
  private var t: GraftTable = _
  // the model: base orders [0, orders) minus deletes, plus inserted orders
  private val deleted = mutable.HashSet.empty[Long]
  private val inserted = mutable.LinkedHashMap.empty[Long, Int] // key -> lines
  private var nextKey = 0L

  private val samples = ArrayBuffer.empty[Sample]
  private val passS = ArrayBuffer.empty[(Int, Double, Int)] // (pass, seconds, statements)
  private val tracedPasses = ArrayBuffer.empty[Int]
  private val tracedOps = ArrayBuffer.empty[String]
  private val buildMs, execMs, entriesMs, planMs = ArrayBuffer.empty[Double]
  private val metaFiles, filesLive, filesOpened, deleteFilesLive = ArrayBuffer.empty[Double]
  private val usefulFiles = ArrayBuffer.empty[Double]
  private val compactMs, checkpointMs, filesRewritten = ArrayBuffer.empty[Double]
  private val appendFiles, appendBytes = ArrayBuffer.empty[Double]
  private var rowsOut = 0L
  private val selectOps = ArrayBuffer.empty[String]

  private def lines(ok: Long): Int = 1 + java.lang.Math.floorMod(ok * 7919 + s * 104729, 7L).toInt
  private def qty(ok: Long, ln: Int): Long = 1 + java.lang.Math.floorMod(ok * 31 + ln * 17 + s * 13, 50L)

  private def modelCount(k: Long): Long =
    if (deleted(k)) 0L else inserted.get(k).map(_.toLong).getOrElse(if (k < orders) lines(k).toLong else 0L)

  private def modelQty(k: Long): Long = {
    val n = modelCount(k).toInt
    (1 to n).map(ln => qty(k, ln)).sum
  }

  /** lineitem columns as expressions of an order key `ok` and line `ln` */
  private def cols: Seq[String] = Seq(
    "ok AS l_orderkey",
    s"pmod(ok * 7 + ln * 13 + $s, 20000) + 1 AS l_partkey",
    s"pmod(ok * 11 + ln * 3 + $s, 1000) + 1 AS l_suppkey",
    "CAST(ln AS INT) AS l_linenumber",
    s"CAST(1 + pmod(ok * 31 + ln * 17 + ${s * 13}, 50) AS DOUBLE) AS l_quantity",
    "CAST(pmod(ok * 37 + ln, 100000) AS DOUBLE) / 100.0 + 900.0 AS l_extendedprice",
    "CAST(pmod(ok + ln, 11) AS DOUBLE) / 100.0 AS l_discount",
    "CAST(pmod(ok * 3 + ln, 9) AS DOUBLE) / 100.0 AS l_tax",
    "element_at(array('A', 'N', 'R'), CAST(pmod(ok + ln, 3) + 1 AS INT)) AS l_returnflag",
    "element_at(array('F', 'O'), CAST(pmod(ok, 2) + 1 AS INT)) AS l_linestatus",
    "timestamp_seconds(694224000 + pmod(ok * 97 + ln, 2500) * 86400) AS l_shipdate")

  private def baseRows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi, 1, 1).toDF("ok")
      .select(col("ok"), explode(sequence(lit(1),
        (pmod(col("ok") * 7919 + lit(s * 104729), lit(7L)) + 1).cast("int"))).as("ln"))
      .selectExpr(cols: _*)

  def build(rep: Int): Unit = {
    if (cat != null) Main.deleteTree(args.work.resolve(s"sql/wh-${rep - 1}"))
    cat = GraftCatalog(spark, ctx.dir(s"sql/wh-$rep").toString)
    t = cat.createTable("bench", "lineitem")
    val per = (orders + appends - 1) / appends
    (0L until orders by per).foreach(lo => t.append(baseRows(lo, math.min(lo + per, orders)), Seq("l_orderkey")))
    deleted.clear(); inserted.clear(); nextKey = orders
  }

  private def timedMs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e6)
  }

  /** One SELECT: build through GraftSql, collect, check count and
    * sum(l_quantity) against the model.
    */
  private def select(pass: Int, opId: String, kind: String, where: String, keys: Seq[Long]): Unit = {
    var ms = Double.NaN
    val ok = ctx.op(opId) {
      ctx.tracer.span(s"client.$kind", opId) {
        val t0 = System.nanoTime()
        val (df, b) = timedMs(ctx.tracer.span("sql.build", opId)(
          GraftSql.sql(spark, cat, s"SELECT count(*) AS n, sum(l_quantity) AS q FROM $Table WHERE $where")))
        val (row, e) = timedMs(ctx.tracer.span("exec.collect", opId)(df.head()))
        ms = (System.nanoTime() - t0) / 1e6
        val n = row.getLong(0)
        val q = if (row.isNullAt(1)) 0L else row.getDouble(1).toLong
        val wantN = keys.map(modelCount).sum + (if (args.wrongModel) 1 else 0)
        val wantQ = keys.map(modelQty).sum
        if (ctx.traced) { buildMs += b; execMs += e; rowsOut += n; selectOps += opId }
        ctx.check(n == wantN && q == wantQ, s"$opId: $where gave n=$n q=$q, model n=$wantN q=$wantQ")
      }
    }
    if (ok) samples += Sample(pass, kind, ms)
    if (ctx.traced) probeRead(opId, keys)
  }

  /** Layer probes for a read, made outside the op's latency: the log read,
    * the read plan for the same predicate, and the scan's file counts. A
    * useful file holds at least one row that matches the predicate.
    */
  private def probeRead(opId: String, keys: Seq[Long]): Unit = {
    val pid = s"$opId/probe"
    ctx.op(pid)(ctx.tracer.span("client.probe", pid) {
      val log = t.commitLog
      entriesMs += timedMs(ctx.tracer.span("log.entries", pid)(log.entries()))._2
      metaFiles += ctx.tracer.span("log.meta_files", pid)(log.metaFileCount).toDouble
      val (lo, hi) = (keys.head, keys.last)
      planMs += timedMs(ctx.tracer.span("table.plan", pid) {
        if (keys.size == 1) t.readEq("l_orderkey", lo)
        else t.readRange("l_orderkey", BigDecimal(lo), BigDecimal(hi))
      })._2
      val st = ctx.tracer.span("table.state", pid)(log.state())
      filesLive += st._1.size.toDouble
      deleteFilesLive += st._2.size.toDouble
      filesOpened += ctx.tracer.span("table.pruned_count", pid) {
        if (keys.size == 1) t.prunedFileCountEq("l_orderkey", lo)
        else t.prunedFileCount("l_orderkey", BigDecimal(lo), BigDecimal(hi))
      }.toDouble
      usefulFiles += ctx.tracer.span("exec.useful_files", pid)(
        spark.read.parquet(st._1.map(_._1): _*).filter(col("l_orderkey").between(lo, hi))
          .select(input_file_name()).distinct().count()).toDouble
      true
    })
  }

  /** One INSERT or DELETE; its latency runs until the new head is visible
    * in the commit log.
    */
  private def write(pass: Int, opId: String, kind: String, sqlText: String, apply: () => Unit): Unit = {
    var ms = Double.NaN
    val head0 = t.headSeq
    val ok = ctx.op(opId) {
      ctx.tracer.span(s"client.$kind", opId) {
        val t0 = System.nanoTime()
        val summary = ctx.tracer.span("sql.dml", opId)(GraftSql.sql(spark, cat, sqlText).collect())
        val version = summary.head.getLong(summary.head.fieldIndex("new_version"))
        val head = ctx.tracer.span("log.head_seq", opId)(t.headSeq)
        ms = (System.nanoTime() - t0) / 1e6
        apply()
        ctx.check(version > head0 && head >= version,
          s"$opId: commit $version not visible (head $head, before $head0)")
      }
    }
    if (ok) samples += Sample(pass, "write", ms)
    if (ctx.traced && kind == "insert") {
      t.commitLog.entries().filter(_.seq > head0).foreach { e =>
        appendFiles += e.dataFiles.size.toDouble
        appendBytes += e.dataFiles.map(f => java.nio.file.Files.size(java.nio.file.Paths.get(f))).sum.toDouble
      }
    }
  }

  private def statement(pass: Int, i: Int, kind: String): Unit = {
    val opId = s"p$pass/s$i"
    kind match {
      case "point" | "point_recent" =>
        val k =
          if (kind == "point_recent" && inserted.nonEmpty) {
            val recent = inserted.keys.toSeq.takeRight(RecentKeys)
            recent(rnd.nextInt(recent.size))
          } else rnd.nextLong(orders)
        select(pass, opId, "point", s"l_orderkey = $k", Seq(k))
      case "range" =>
        val lo = rnd.nextLong(orders)
        select(pass, opId, "range", s"l_orderkey BETWEEN $lo AND ${lo + RangeWidth - 1}",
          lo until lo + RangeWidth)
      case "insert" =>
        val k = nextKey
        nextKey += 1
        val n = lines(k) + 1
        write(pass, opId, "insert",
          s"INSERT INTO $Table SELECT ${cols.mkString(", ")} FROM " +
            s"(SELECT CAST($k AS BIGINT) AS ok, explode(sequence(1, $n)) AS ln)",
          () => inserted(k) = n)
      case "delete" =>
        var k = rnd.nextLong(orders)
        while (modelCount(k) == 0) k = rnd.nextLong(orders)
        write(pass, opId, "delete", s"DELETE FROM $Table WHERE l_orderkey = $k", () => deleted += k)
    }
  }

  /** one pass: the statement mix in its fixed order, then maintenance */
  private def block(p: Int): Unit = {
    Order.zipWithIndex.foreach { case (k, i) => statement(p, i, k) }
    maintain(p)
  }

  private def maintain(pass: Int): Unit = {
    val opId = s"p$pass/maint"
    val before = if (ctx.traced) t.commitLog.state()._1.map(_._1).toSet else Set.empty[String]
    ctx.op(opId) {
      val (_, c) = timedMs(ctx.tracer.span("maint.compact", opId)(t.compactSmall(CompactTargetBytes, Seq("l_orderkey"))))
      val (_, k) = timedMs(ctx.tracer.span("maint.checkpoint", opId)(t.checkpointMetadata()))
      if (ctx.traced) { compactMs += c; checkpointMs += k }
      true
    }
    if (ctx.traced) {
      val after = t.commitLog.state()._1.map(_._1).toSet
      filesRewritten += (before -- after).size.toDouble
    }
  }

  def nominalPassS: Double = 6.0

  def pass(p: Int): Unit = {
    val t0 = System.nanoTime()
    block(p)
    val secs = (System.nanoTime() - t0) / 1e9
    if (p < 0) { samples.clear(); ctx.exec.takeJobs(); return }
    passS += ((p, secs, StmtsPerPass))
    if (ctx.traced) {
      tracedPasses += p
      tracedOps ++= (0 until StmtsPerPass).map(i => s"p$p/s$i") :+ s"p$p/maint"
      ctx.recordJobSpans()
    } else ctx.exec.takeJobs()
  }

  def finish(): Unit = {
    val r = ctx.report
    val plain = passS.filterNot(x => tracedPasses.contains(x._1)).toSeq
    r.put("wall_s", Stats.median(plain.map(_._2)), "s", plain.size,
      s"median pass of $StmtsPerPass statements plus maintenance")
    r.put("throughput", plain.map(_._3).sum / plain.map(_._2).sum, "items/s", plain.size,
      "statements per second")
    val lat = samples.filterNot(x => tracedPasses.contains(x.pass))
    r.latency("op", samples.map(_.ms).toSeq)
    Seq("point", "range", "write").foreach(k => r.latency(k, samples.filter(_.kind == k).map(_.ms).toSeq))
    val live = (0L until orders).iterator.filterNot(deleted).map(k => lines(k).toLong).sum +
      inserted.collect { case (k, n) if !deleted(k) => n.toLong }.sum
    r.put("bytes_per_row", Main.bytesUnder(t.root).toDouble / live, "B", 1,
      "data, delete and metadata bytes under the table root / live rows")
    if (tracedPasses.nonEmpty) {
      val n = tracedPasses.size
      val wallMs = passS.filter(x => tracedPasses.contains(x._1)).map(_._2).sum * 1000
      r.put("sql.build_ms", Stats.median(buildMs.toSeq), "ms", buildMs.size, "GraftSql.sql until a DataFrame")
      r.put("exec.ms", Stats.median(execMs.toSeq), "ms", execMs.size, "collect after the DataFrame is built")
      r.put("log.entries_ms", Stats.median(entriesMs.toSeq), "ms", entriesMs.size)
      r.put("log.meta_files", Stats.mean(metaFiles.toSeq), "count", metaFiles.size)
      r.put("table.plan_ms", Stats.median(planMs.toSeq), "ms", planMs.size, "readEq/readRange build")
      r.put("table.files_live", Stats.mean(filesLive.toSeq), "count", filesLive.size)
      r.put("table.files_opened", Stats.mean(filesOpened.toSeq), "count", filesOpened.size)
      r.put("table.prune_ratio", filesOpened.sum / filesLive.sum, "ratio", filesLive.size,
        "files opened / files live")
      r.put("table.useful_file_ratio", usefulFiles.sum / filesOpened.sum, "ratio", filesOpened.size,
        "files holding a result row / files opened")
      r.put("table.delete_files_live", Stats.mean(deleteFilesLive.toSeq), "count", deleteFilesLive.size)
      r.put("table.files_per_commit", Stats.mean(appendFiles.toSeq), "count", appendFiles.size, "INSERT commits")
      r.put("table.bytes_per_commit", Stats.mean(appendBytes.toSeq), "B", appendBytes.size, "INSERT commits")
      r.put("maint.compact_ms", Stats.median(compactMs.toSeq), "ms", compactMs.size)
      r.put("maint.checkpoint_ms", Stats.median(checkpointMs.toSeq), "ms", checkpointMs.size)
      r.put("maint.files_rewritten", Stats.mean(filesRewritten.toSeq), "count", filesRewritten.size)
      ctx.execMetrics(tracedOps.toSeq, wallMs)
      val recordsRead = selectOps.map(ctx.exec.countersOf(_).recordsRead).sum
      r.put("exec.rows_read_per_row_out", recordsRead.toDouble / math.max(rowsOut, 1L), "ratio",
        selectOps.size, "recordsRead / matched rows, SELECTs")
      val tracedLat = samples.filter(x => tracedPasses.contains(x.pass)).map(_.ms).toSeq
      r.put("trace.overhead_ms", Stats.median(tracedLat) - Stats.median(lat.map(_.ms).toSeq), "ms",
        tracedLat.size, "traced minus untraced median statement")
      Main.putSelfTimes(ctx, n)
    }
  }
}

object SqlServe {
  private final case class Sample(pass: Int, kind: String, ms: Double)

  /** The statements of one pass, in order: 7 point lookups (2 of them on
    * keys from the most recent inserts), 2 range aggregates, 2 inserts and
    * a delete. The order is fixed so that every seed does the same mix of
    * reads before and after the writes; the seed draws the keys. The
    * delete comes second, so most reads merge its delete file and the
    * median statement falls among them rather than between the reads
    * before and after it.
    */
  val Order: Seq[String] = Seq("point", "delete", "point", "range", "insert", "point_recent",
    "point", "range", "point", "insert", "point_recent", "point")
  val StmtsPerPass: Int = Order.size
  val RecentKeys = 8
  val RangeWidth = 20
  val CompactTargetBytes: Long = 128L * 1024
}
