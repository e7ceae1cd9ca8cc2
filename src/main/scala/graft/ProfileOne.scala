package graft

/** Dev-only micro-profiler: times named queries twice (cold = plan+codegen
  * +JIT, warm = steady state) so bench regressions can be attributed before
  * optimizing. Usage: runMain graft.ProfileOne <sfDir> <query>...
  */
object ProfileOne {
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
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[profile] $name run$i: $dt%.2f s")
      }
      if (sys.env.contains("PROFILE_EXPLAIN"))
        fn(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
