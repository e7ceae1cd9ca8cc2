package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Dev-only measurement probe (guide §1): splits one entry's wall time into
  * plan construction (DataFrame build), analysis+optimization+codegen
  * (executedPlan force), and execution (noop write), plus task-level totals
  * (task count, executor run time, shuffle bytes) from a listener. Runs each
  * entry twice so cold JIT/codegen lands in run 1 and run 2 shows the steady
  * state the bench's corroborated-min converges to.
  * Usage: runMain graft.BenchProbe <sfDir> <query>...
  */
object BenchProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.head
    val names = args.tail.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    @volatile var shuffleRead = 0L
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks += 1
        if (t.taskMetrics != null) {
          taskMs += t.taskMetrics.executorRunTime
          shuffleRead += t.taskMetrics.shuffleReadMetrics.totalBytesRead
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to 2).foreach { i =>
        tasks = 0; taskMs = 0L; shuffleRead = 0L
        val t0 = System.nanoTime()
        val df = fn(spark, sfDir)
        val t1 = System.nanoTime()
        df.queryExecution.executedPlan // force analysis+optimization+planning
        val t2 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        Thread.sleep(150) // let straggling task-end events drain
        println(f"[probe] $name%-26s r$i build ${(t1 - t0) / 1e9}%6.3f  " +
          f"plan ${(t2 - t1) / 1e9}%6.3f  exec ${(t3 - t2) / 1e9}%6.3f  " +
          f"total ${(t3 - t0) / 1e9}%6.3f  tasks $tasks%5d  " +
          f"taskTime ${taskMs / 1e3}%7.2f s  shufRead ${shuffleRead / 1e6}%8.2f MB")
      }
    }
    spark.stop()
  }
}
