package graft

import org.apache.spark.sql.SparkSession

/** Library entry point for users bootstrapping their own cluster session
  * (the driver harness instead hands SparkEntry an already-built session
  * and goes through the same `attach`).
  *
  *  - [[builder]]: a SparkSession.Builder preloaded with the engine's
  *    required settings — UTC semantics, the TIMESTAMP(NANOS) parquet
  *    read flag, the SparkSessionExtensions hook that injects the
  *    native functions (graft_vecdot, graft_minhash_sig) at session
  *    build, the standard `spark.sql.extensions` deployment path, and
  *    the `graft.fs` local file system for `file:` paths (see
  *    [[graft.fs.NioRawLocalFileSystem]]).
  *  - [[attach]]: apply the same settings to an EXISTING session (e.g.
  *    one provided by a notebook or job server, where the extensions
  *    class can no longer be injected — functions are registered
  *    directly instead). Idempotent. The file system settings go into
  *    the session's Hadoop configuration: `FileContext` (streaming
  *    checkpoints) opens the `graft.fs` class from the next call on, but
  *    a local `FileSystem` already in Hadoop's JVM-wide cache keeps its
  *    class, because that cache is keyed by scheme and user, not by
  *    configuration.
  */
object GraftSession {

  private val localFs = Seq(
    "fs.file.impl" -> classOf[fs.NioLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[fs.NioLocalFs].getName)

  def builder(): SparkSession.Builder =
    SparkSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", classOf[functions.GraftExtensions].getName)
      .config(localFs.map { case (k, v) => s"spark.hadoop.$k" -> v }.toMap)

  def attach(s: SparkSession): SparkSession = {
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    localFs.foreach { case (k, v) => s.sparkContext.hadoopConfiguration.set(k, v) }
    functions.GraftFunctions.register(s)
    s
  }
}
