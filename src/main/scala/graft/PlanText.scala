package graft

import java.nio.file.{Files, Paths}

/** Dev-only: dump `.explain("formatted")` for the named queries into
  * <outDir>/<query>_<tag>.txt — the plan evidence the optimization rounds
  * commit under plans/r12/ (guide §1: capture the plan shape before and
  * after every change).
  * Usage: runMain graft.PlanText <sfDir> <outDir> <tag> <query>...
  */
object PlanText {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, names @ _*) = args: @unchecked
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.writeString(Paths.get(outDir, s"${name}_$tag.txt"), txt)
      println(s"[plantext] wrote $outDir/${name}_$tag.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
