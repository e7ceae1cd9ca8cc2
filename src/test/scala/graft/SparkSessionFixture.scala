package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for specs — one JVM-wide session built like every
  * other (GraftSession: UTC, native functions injected at session build, so
  * raw Q.fn plans resolve without SparkEntry's per-query wrapper, and the
  * graft.fs local file system), small shuffle fan-out (local[4] test scale).
  */
object SparkSessionFixture {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}
