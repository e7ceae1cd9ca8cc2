package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSessionFixture
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the on-disk log format: every table write kind commits one entry
  * on a small table, and each entry's JSON (plus its bloom sidecar) must
  * equal the golden under `src/test/resources/logformat`, with shard and
  * part-file UUIDs, sidecar names, the temp root and commit timestamps
  * masked. Old logs stay readable and perfbench's `bytes_per_row` (which
  * counts `_log` bytes) stays put only while these bytes do.
  *
  * To regenerate after a deliberate format change, run this spec with
  * `GRAFT_WRITE_GOLDENS=<dir>` and copy the files it writes there into
  * `src/test/resources/logformat`.
  */
class LogFormatSpec extends AnyFunSuite {
  import SparkSessionFixture.spark
  import spark.implicits._

  private val base = Files.createTempDirectory("logfmt").toRealPath()

  private def fresh(name: String): GraftTable =
    GraftTable.createOrReplace(spark, base.resolve(name).toString)

  private def items: DataFrame =
    Seq(("A", "small", 2), ("A", "large", 7), ("B", "medium", 15),
      ("C", "medium", 10), ("D", "small", 20), ("E", "large", 20))
      .toDF("name", "size", "count").coalesce(1)

  private def row(name: String, size: String, count: Int): DataFrame =
    Seq((name, size, count)).toDF("name", "size", "count").coalesce(1)

  private def keyed(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select(col("id").as("k"), (col("id") % 7).as("v"),
      concat(lit("s"), col("id").cast("string")).as("s")).coalesce(1)

  private val Uuid = "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"

  private def mask(s: String): String =
    s.replace(base.toString, "<tmp>")
      .replaceAll(Uuid, "<uuid>")
      .replaceAll("_puffin/[0-9a-f]{32}\\.json", "_puffin/<bloom>.json")
      .replaceAll("\"tsMs\":\\d+", "\"tsMs\":0")

  /** every entry file of `t`'s log in seq order, masked, each followed by
    * its bloom sidecar when it has one
    */
  private def dump(t: GraftTable): String = {
    val logDir = t.root.resolve("_log")
    val s = Files.list(logDir)
    val entries = try s.iterator().asScala
      .filter(_.getFileName.toString.matches("\\d{20}\\.json")).toSeq.sortBy(_.toString)
    finally s.close()
    val SidecarRef = "\"bloomsRef\":\"([^\"]+)\"".r
    entries.flatMap { f =>
      val raw = Files.readString(f)
      val sidecar = SidecarRef.findFirstMatchIn(raw).map(m =>
        "  blooms " + Files.readString(t.root.resolve(m.group(1))))
      mask(raw) +: sidecar.toSeq
    }.mkString("", "\n", "\n")
  }

  private def check(name: String, t: GraftTable): Unit = {
    val got = dump(t)
    sys.env.get("GRAFT_WRITE_GOLDENS") match {
      case Some(dir) =>
        Files.createDirectories(Paths.get(dir))
        Files.write(Paths.get(dir, s"$name.jsonl"), got.getBytes(StandardCharsets.UTF_8))
      case None =>
        val in = getClass.getResourceAsStream(s"/logformat/$name.jsonl")
        assert(in != null, s"no golden for $name")
        val want = try new String(in.readAllBytes(), StandardCharsets.UTF_8) finally in.close()
        val (g, w) = (got.split("\n").toSeq, want.split("\n").toSeq)
        g.zipAll(w, "<none>", "<none>").zipWithIndex.find { case ((a, b), _) => a != b }
          .foreach { case ((a, b), i) =>
            fail(s"$name line $i differs from its golden:\n got  $a\n want $b")
          }
    }
  }

  private def marker(t: GraftTable, id: String): Path = t.root.resolveSibling(s"$id.commit")

  test("appends, mixed commits and every delete flavour write the pinned entries") {
    val t = fresh("appends")
    t.append(items, statsCols = Seq("count"), bloomCols = Seq("name"))
    t.appendInTxn(row("F", "small", 3), marker(t, "m1"), statsCols = Seq("count"),
      bloomCols = Seq("name"), props = Map("txn.stage" -> "1"))
    t.appendIdempotent(row("G", "large", 4), "app", 1L, statsCols = Seq("count"))
    val ext = base.resolve("ext")
    row("H", "small", 5).write.parquet(ext.toString)
    val extFiles = {
      val s = Files.list(ext)
      try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toSeq.sorted
      finally s.close()
    }
    t.addFiles(extFiles, statsCols = Seq("count"))
    t.appendAndDelete(row("A", "reborn", 9), Seq("A").toDF("name").coalesce(1), Seq("name"))
    t.upsert(row("B", "upserted", 16), Seq("name"), statsCols = Seq("count"),
      bloomCols = Seq("name"))
    t.upsertInTxn(row("C", "staged", 11), Seq("name"), marker(t, "m2"))
    t.merge(Seq(("D", "merged", 21, "U"), ("Z", "new", 1, "I")).toDF("name", "size", "count", "op")
      .coalesce(1), Seq("name"), deleteWhen = col("op") === "D")
    t.delete(Seq("E").toDF("name").coalesce(1), Seq("name"))
    t.deleteInTxn(Seq("Z").toDF("name").coalesce(1), Seq("name"), marker(t, "m3"))
    t.deleteAt(t.readWithPos().filter(col("name") === "G").select("_file", "_pos"))
    t.deleteVectors(t.readWithPos().filter(col("name") === "H").select("_file", "_pos"))
    t.rewritePositionDeletes()
    t.setProperties(Map("owner" -> "spec"))
    check("appends", t)
  }

  test("partitioned appends, overwrites and layout-preserving compaction write the pinned entries") {
    val t = fresh("partitioned")
    val spec = PartitionSpec("count", Transform.Truncate(10))
    t.appendPartitioned(items, spec, statsCols = Seq("count"), bloomCols = Seq("name"))
    t.appendPartitioned(row("F", "small", 33), Seq(spec, PartitionSpec("name", Transform.Bucket(4))),
      statsCols = Nil, bloomCols = Nil)
    t.appendPartitionedInTxn(row("G", "large", 44), spec, marker(t, "m1"),
      statsCols = Seq("count"))
    t.overwritePartitions(row("A", "over", 5), spec, statsCols = Seq("count"),
      bloomCols = Seq("name"))
    t.compactPartitioned(spec, statsCols = Seq("count"))
    check("partitioned", t)
  }

  test("adopting and materializing rewrites write the pinned entries") {
    val t = fresh("rewrites")
    t.append(keyed(0, 2000), statsCols = Seq("k"))
    t.append(keyed(5000, 5003), statsCols = Seq("k"))
    t.append(keyed(6000, 6003), statsCols = Seq("k"))
    // adopting: the big file is kept, the two small ones packed
    t.compactSmall(4096, statsCols = Seq("k"), bloomCols = Seq("s"))
    // adopting: only the packed file holds the key
    t.updateWhereEq("k", 5001L, Map("v" -> lit(99L)), statsCols = Seq("k"))
    // adopting with a rewrite: the big file straddles, the packed one is kept
    t.deleteWhereRange("k", 1000L, 1999L, statsCols = Seq("k"))
    // adopting with no rewrite: the packed file lies inside, so it is dropped
    t.deleteWhereRange("k", 5000L, 6002L)
    t.recomputeStats(Seq("v"))
    t.rollbackTo(4) // metadata-only
    t.delete(Seq(7L).toDF("k").coalesce(1), Seq("k"))
    t.rollbackTo(t.headSeq) // a pending delete: materializing
    t.delete(Seq(8L).toDF("k").coalesce(1), Seq("k"))
    t.updateWhereEq("k", 9L, Map("v" -> lit(98L)), statsCols = Seq("k")) // fallback
    t.delete(Seq(10L).toDF("k").coalesce(1), Seq("k"))
    t.deleteWhereRange("k", 20L, 30L, statsCols = Seq("k")) // fallback
    t.compact(statsCols = Seq("k"), bloomCols = Seq("s"))
    check("rewrites", t)
  }

  test("clustering rewrites write the pinned entries") {
    // range repartitioning samples each input partition with a seed drawn
    // from the RDD id, so file bounds repeat only when every row of a
    // partition is sampled: inputs stay below 60 rows per file
    val t = fresh("clustered")
    t.append(keyed(0, 25), statsCols = Seq("k"))
    t.append(keyed(100, 125), statsCols = Seq("k"))
    t.delete(Seq(5L).toDF("k").coalesce(1), Seq("k"))
    t.compactSorted("k", 2)
    t.compactZOrder(Seq("k", "v"), 4)
    check("clustered", t)
  }
}
