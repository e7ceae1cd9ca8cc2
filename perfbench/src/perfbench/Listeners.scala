package perfbench

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Task and job counters of one op. */
final class OpCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var recordsRead = 0L
}

/** A Spark job as the listener saw it, attributed to an op. */
final case class JobRec(jobId: Int, op: String, startMs: Long, endMs: Long)

/** The benchmark's SparkListener. Each job is attributed to an op by the
  * job group the benchmark sets (`pb:<op>`), or, for Structured
  * Streaming micro-batches, by the pass property the benchmark sets
  * before starting the query plus the batch id Spark stamps on every
  * job of an epoch. Counting is skipped while `on` is false.
  */
final class ExecListener extends SparkListener {
  @volatile var on: Boolean = false
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val started = new ConcurrentHashMap[Int, (String, Long)]()
  private val counters = new ConcurrentHashMap[String, OpCounters]()
  private val jobs = new ConcurrentLinkedQueue[JobRec]()

  private def opOf(p: Properties): Option[String] =
    Option(p).flatMap { p =>
      val group = Option(p.getProperty("spark.jobGroup.id"))
      val pass = Option(p.getProperty(ExecListener.PassKey))
      val batch = Option(p.getProperty("streaming.sql.batchId"))
      (pass, batch) match {
        case (Some(ps), Some(b)) => Some(s"$ps/e$b")
        case _ => group.filter(_.startsWith("pb:")).map(_.stripPrefix("pb:"))
      }
    }

  private def c(op: String): OpCounters = counters.computeIfAbsent(op, _ => new OpCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    opOf(e.properties).foreach { op =>
      started.put(e.jobId, (op, e.time))
      e.stageIds.foreach(stageOp.put(_, op))
      val k = c(op)
      k.synchronized(k.jobs += 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(started.remove(e.jobId)).foreach { case (op, t0) =>
      jobs.add(JobRec(e.jobId, op, t0, e.time))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (on) {
    Option(stageOp.get(e.stageInfo.stageId)).foreach { op =>
      val k = c(op)
      k.synchronized(k.stages += 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on) {
    for {
      op <- Option(stageOp.get(e.stageId))
      m <- Option(e.taskMetrics)
    } {
      val k = c(op)
      k.synchronized {
        k.tasks += 1
        k.runMs += m.executorRunTime
        k.gcMs += m.jvmGCTime
        k.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        k.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        k.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  def countersOf(op: String): OpCounters = Option(counters.get(op)).getOrElse(new OpCounters)

  /** every job that ended since the last call */
  def takeJobs(): Seq[JobRec] = Iterator.continually(jobs.poll()).takeWhile(_ != null).toList
}

object ExecListener {
  val PassKey = "perfbench.pass"
}

/** The benchmark's StreamingQueryListener: keeps every progress event. */
final class StreamListener extends StreamingQueryListener {
  private val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  def of(runId: java.util.UUID): Seq[StreamingQueryProgress] =
    progress.asScala.filter(_.runId == runId).toSeq.sortBy(_.batchId)
}
