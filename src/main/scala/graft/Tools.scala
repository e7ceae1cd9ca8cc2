package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Diagnostics over the query registry, one subcommand each:
  *
  *  - `probe <sfDir> <query>...`: splits each entry's wall time into plan
  *    construction (DataFrame build), analysis+optimization+codegen
  *    (executedPlan force) and execution (noop write), with the task count,
  *    executor run time and shuffle bytes read. Runs each entry twice, so
  *    cold JIT and codegen land in run 1 and run 2 shows the steady state
  *    the bench's corroborated-min converges to.
  *  - `plans <sfDir> <outDir> <tag> <query>...`: writes each entry's
  *    `explain("formatted")` to `<outDir>/<query>_<tag>.txt`, the plan
  *    evidence to capture before and after a change.
  *  - `scans [sfDir]`: executes every `q_*` entry and reports each whose
  *    final plan holds two or more DISTINCT scans of one source table
  *    (instance identity, so a reused AQE stage counts once): either a
  *    documented multi-pass or a shared plan that silently forked.
  *
  * Usage: `runMain graft.Tools probe|plans|scans ...`
  */
object Tools {
  def main(args: Array[String]): Unit = {
    val tool: SparkSession => Unit = args.toList match {
      case "probe" :: sfDir :: names => probe(_, sfDir, names)
      case "plans" :: sfDir :: outDir :: tag :: names => plans(_, sfDir, outDir, tag, names)
      case "scans" :: rest => scans(_, rest.headOption.getOrElse("/root/testdata/sf0.001"))
      case _ =>
        System.err.println("usage: graft.Tools probe <sfDir> <query>... | " +
          "plans <sfDir> <outDir> <tag> <query>... | scans [sfDir]")
        sys.exit(2)
    }
    val spark = GraftSession.local()
    try tool(spark) finally spark.stop()
  }

  private def probe(spark: SparkSession, sfDir: String,
      names: Seq[String]): Unit = {
    @volatile var tasks = 0
    @volatile var taskMs = 0L
    @volatile var shuffleRead = 0L
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks += 1
        if (t.taskMetrics != null) {
          taskMs += t.taskMetrics.executorRunTime
          shuffleRead += t.taskMetrics.shuffleReadMetrics.totalBytesRead
        }
      }
    })
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
  }

  private def plans(spark: SparkSession, sfDir: String, outDir: String,
      tag: String, names: Seq[String]): Unit = {
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val txt = SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
      Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), txt)
      println(s"[plans] wrote $outDir/${name}_$tag.txt (${txt.length} chars)")
    }
  }

  private def scans(spark: SparkSession, sfDir: String): Unit = {
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val nested = p match {
        case q: QueryStageExec => Seq(q.plan)
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => Nil
      }
      p +: (p.children ++ nested ++ p.subqueries).flatMap(walk)
    }
    val tables = Seq("lineitem", "orders", "customer", "supplier", "part",
      "nation", "region", "events", "documents", "embeddings")
    // query entries only: t_*/x_* scenario drivers build their own tables
    SparkEntry.queries.toSeq.sortBy(_._1).filter(_._1.startsWith("q_")).foreach {
      case (name, fn) =>
        try {
          val df = fn(spark, sfDir)
          // collect() on the SAME QueryExecution whose plan we inspect: a
          // noop write executes a different QE, so AQE stage reuse would
          // never materialize in the inspected plan and every reused
          // exchange would over-count as a second scan
          df.collect()
          val scans = walk(df.queryExecution.executedPlan)
            .filter(_.nodeName.contains("Scan"))
          val byTable = tables.flatMap { t =>
            val n = scans.filter(_.toString.contains(s"/$t.parquet"))
              .map(System.identityHashCode).distinct.size
            if (n >= 2) Some(s"$t=$n") else None
          }
          if (byTable.nonEmpty) println(s"MULTISCAN $name: ${byTable.mkString(", ")}")
        } catch { case e: Throwable =>
          System.err.println(s"[scans] $name failed: ${e.getMessage}")
        }
    }
    println("SCANS DONE")
  }
}
