package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Diagnostic sweep: execute every registered query at the given SF and
  * report how many DISTINCT scans of each source parquet its final plan
  * holds (instance-identity dedup, so a reused AQE stage counts once).
  * A query scanning one table ≥2× is either a documented multi-pass
  * (iterative graph rounds) or a silently-forked shared plan — the class
  * of defect q_sql_q17's rejoin formulation had (column pruning diverged
  * the "shared" exchange's subtrees). Debug aid, not part of the surface.
  */
object ScanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
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
          if (byTable.nonEmpty)
            // scalastyle:off println
            println(s"MULTISCAN $name: ${byTable.mkString(", ")}")
            // scalastyle:on println
        } catch { case e: Throwable =>
          System.err.println(s"[scanaudit] $name failed: ${e.getMessage}")
        }
    }
    // scalastyle:off println
    println("SCANAUDIT DONE")
    // scalastyle:on println
    spark.stop()
  }
}
