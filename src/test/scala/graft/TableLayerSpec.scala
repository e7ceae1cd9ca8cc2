package graft

import java.nio.file.{Files, Path, Paths}

import graft.sql.GraftSql
import graft.table.{CommitLog, GraftCatalog, GraftTable, PartitionSpec, Transform}
import graft.table.Bounds.Recorded
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

/** Snapshot-lineage assertions for the table layer: append → delete →
  * time-travel → compact → conflict, on hermetic temp warehouses
  * (reference shapes: main.rs fast_append, deletes.rs equality deletes +
  * atomic mixed commit, decouple.rs batched commits, Cargo.toml conflict
  * intent).
  */
class TableLayerSpec extends AnyFunSuite {
  import SparkSessionFixture.spark
  import spark.implicits._

  private def freshTable(tag: String): GraftTable =
    GraftTable.createOrReplace(spark, Files.createTempDirectory(s"spec_$tag").toString)

  private val base = Seq(("A", "small", 2), ("A", "large", 7), ("B", "medium", 15),
    ("C", "medium", 10), ("D", "small", 20), ("E", "large", 20))

  private def items = base.toDF("name", "size", "count")

  test("append commits accumulate snapshots and rows") {
    val t = freshTable("append")
    assert(t.headSeq == -1)
    t.append(items)
    assert(t.headSeq == 0)
    t.append(items)
    assert(t.headSeq == 1)
    assert(t.read().count() == 12)
    assert(t.snapshots.map(_.action) == Seq("add", "add"))
  }

  test("equality delete removes all matching rows, later appends survive") {
    val t = freshTable("delete")
    t.append(items) // 2 rows keyed A
    t.delete(Seq("A").toDF("name"), Seq("name"))
    val afterDelete = t.read().select("name").as[String].collect().sorted
    assert(afterDelete.sameElements(Array("B", "C", "D", "E")))
    // append a fresh A AFTER the delete: must survive (seq scoping)
    t.append(Seq(("A", "post", 1)).toDF("name", "size", "count"))
    val names = t.read().select("name").as[String].collect().sorted
    assert(names.sameElements(Array("A", "B", "C", "D", "E")))
  }

  test("atomic mixed commit applies delete to prior data, not to its own append") {
    val t = freshTable("mixed")
    t.append(items)
    t.appendAndDelete(
      Seq(("A", "reborn", 99)).toDF("name", "size", "count"),
      Seq("A").toDF("name"), Seq("name"))
    val rows = t.read().filter(col("name") === "A").collect()
    assert(rows.length == 1 && rows.head.getString(1) == "reborn")
    // exactly one commit happened for the mixed action
    assert(t.snapshots.map(_.action) == Seq("add", "mixed"))
  }

  test("time travel reads any historical snapshot") {
    val t = freshTable("travel")
    t.append(items)                                   // seq 0: 6 rows
    t.append(items.withColumn("count", col("count") + 100)) // seq 1: 12 rows
    t.delete(Seq("A").toDF("name"), Seq("name"))      // seq 2: 8 rows (4 A's gone)
    assert(t.read(asOf = 0).count() == 6)
    assert(t.read(asOf = 1).count() == 12)
    assert(t.read(asOf = 2).count() == 8)
    assert(t.read().count() == 8)
  }

  test("compaction preserves the MoR view and clears delete files") {
    val t = freshTable("compact")
    t.append(items)
    t.delete(Seq("A").toDF("name"), Seq("name"))
    val before = t.read().orderBy("name", "count").collect()
    t.compact()
    val after = t.read().orderBy("name", "count").collect()
    assert(before.sameElements(after))
    // post-compaction state carries data files only
    val (dataF, delF) = t.commitLog.state()
    assert(dataF.nonEmpty && delF.isEmpty)
    // and history before the replace is still travelable
    assert(t.read(asOf = 0).count() == 6)
  }

  test("concurrent committers never lose a commit (CAS retry)") {
    val dir = Files.createTempDirectory("spec_cas").toString
    val log = CommitLog(dir)
    val n = 16
    val threads = (1 to n).map { i =>
      new Thread { override def run(): Unit = log.commit("add", dataFiles = Seq(s"f$i")) }
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val entries = log.entries()
    assert(entries.length == n)
    assert(entries.map(_.seq) == (0L until n.toLong))
    // every racer's file landed exactly once (entries surface paths
    // resolved against the table root)
    assert(entries.flatMap(_.dataFiles).map(_.split('/').last).sorted ==
      (1 to n).map(i => s"f$i").sorted)
  }

  test("a commit into a table whose _log directory is gone fails at once") {
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("spec_nolog")
    val log = CommitLog(dir.toString)
    log.commit("add", dataFiles = Seq("f0"))
    val s = Files.walk(dir.resolve("_log"))
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    val ex = intercept[java.util.ConcurrentModificationException] {
      log.commit("add", dataFiles = Seq("f1"))
    }
    assert(ex.getMessage == s"commit: table log directory ${dir.resolve("_log")} no longer exists")
  }

  test("range reads skip commits via recorded min/max stats") {
    val t = freshTable("skip")
    // three ingest epochs with disjoint count ranges
    def batch(lo: Int) = (lo until lo + 10).map(i => (s"k$i", "x", i)).toDF("name", "size", "count")
    t.append(batch(0), statsCols = Seq("count"))    // files: [0, 9]
    t.append(batch(100), statsCols = Seq("count"))  // files: [100, 109]
    t.append(batch(200), statsCols = Seq("count"))  // files: [200, 209]
    val allFiles = t.commitLog.state()._1.size
    // a range query touching only epoch 2 opens only its files
    val hit = t.prunedFileCount("count", BigDecimal(100), BigDecimal(105))
    assert(hit < allFiles && hit > 0, s"pruned $hit of $allFiles")
    val rows = t.readRange("count", BigDecimal(100), BigDecimal(105))
      .select("count").as[Int].collect().sorted
    assert(rows.sameElements(100 to 105))
    // pruning never changes results: equals the unpruned filtered read
    val full = t.read().filter($"count" >= 100 && $"count" <= 105)
      .select("count").as[Int].collect().sorted
    assert(rows.sameElements(full))
    // out-of-range query opens nothing
    assert(t.prunedFileCount("count", BigDecimal(500), BigDecimal(600)) == 0)
    // a stat-less commit is never pruned (prune blind is forbidden)
    t.append(batch(300)) // no stats
    assert(t.readRange("count", BigDecimal(300), BigDecimal(305)).count() == 6)
  }

  test("one-sided ranges prune on either side: INT, DOUBLE at the six-decimal edge, " +
      "STRING in code-point order, and an order-preserving partition dimension") {
    // U+F000 sorts below U+1F600 by code point, above it by UTF-16 units
    val (bmp, supp) = ("\uF000", "\uD83D\uDE00")
    val prefixes = Seq("a", "b", "c", "d", "e", "f", bmp, supp)
    // file k holds count k*100 .. k*100+9, x = count + 0.0000005 (recorded
    // rounded outward to six decimals) and names prefixed prefixes(k)
    val rows = prefixes.zipWithIndex.map { case (p, k) =>
      (0 until 10).map(i => (s"$p$i", k * 100 + i, k * 100 + i + 0.0000005))
    }
    val t = freshTable("onesided")
    rows.foreach(r => t.append(r.toDF("name", "count", "x").coalesce(1),
      statsCols = Seq("name", "count", "x")))
    def check(tbl: GraftTable, where: String, opened: Int): Unit = {
      val plan = tbl.planScan(where)
      assert(plan.filesOpened == opened && opened < plan.filesLive,
        s"`$where` opened ${plan.filesOpened} of ${plan.filesLive}, expected $opened")
      def sorted(df: DataFrame) = df.select("name", "count").collect().map(_.toString).sorted.toSeq
      assert(sorted(plan.read) == sorted(tbl.read().filter(expr(where))), where)
    }
    check(t, "count >= 300", 5)
    check(t, "count > 309", 5) // strict: pruned by its closed superset, keeps 309's file
    check(t, "count > 310", 4)
    check(t, "300 <= count", 5)
    check(t, "count <= 9", 1)
    check(t, "count <= 99", 1)
    check(t, "count < 100", 2)
    check(t, "count < -1", 0)
    // file 0 records x in [0.000000, 9.000001], file 7 in [700.000000, 709.000001]
    check(t, "x <= 9.0000005", 1)
    check(t, "x < 0.0000005", 1)
    check(t, "x > 709.0000005", 1)
    check(t, "x >= 709.000002", 0)
    check(t, s"name >= '$bmp'", 2)
    check(t, s"name > '$bmp'", 2)
    check(t, s"name >= '$supp'", 1)
    check(t, s"name < '$supp'", 7)
    check(t, "name <= 'b'", 1)
    // no stats: only the partition values prune, each side mapped alone
    val p = freshTable("onesided_part")
    p.appendPartitioned(rows.flatten.toDF("name", "count", "x"),
      PartitionSpec("count", Transform.Truncate(100)))
    check(p, "count >= 300", p.planScan("count BETWEEN 300 AND 799").filesOpened)
    check(p, "count < 150", p.planScan("count BETWEEN 0 AND 149").filesOpened)
    assert(p.planScan("count < 150").filesOpened > 0)
  }

  test("deleteWhereRange on a STRING column drops, adopts and rewrites by its bounds") {
    val t = freshTable("strdelete")
    // one file each: inside ['c0', 'c9'], disjoint from it, straddling it
    Seq(Seq("c0", "c5", "c9"), Seq("d0", "d9"), Seq("b5", "c5")).foreach(ns =>
      t.append(ns.map(n => (n, 1)).toDF("name", "count").coalesce(1), statsCols = Seq("name")))
    val r = t.deleteWhereRange("name", "c0", "c9", statsCols = Seq("name"))
    assert(r.dropped == 1 && r.kept == 1 && r.rewritten == 1, s"$r")
    assert(t.read().select("name").as[String].collect().sorted.toSeq == Seq("b5", "d0", "d9"))
    // a DATE has no bounds: every file straddles, and the rewrite filters
    val d = freshTable("datedelete")
    Seq("2024-01-01", "2024-02-01").foreach(day =>
      d.append(Seq((1, java.sql.Date.valueOf(day))).toDF("k", "day").coalesce(1),
        statsCols = Seq("day")))
    val rd = d.deleteWhereRange("day", java.sql.Date.valueOf("2024-01-15"),
      java.sql.Date.valueOf("2024-03-01"))
    assert(rd.dropped == 0 && rd.kept == 0 && rd.rewritten >= 1, s"$rd")
    assert(d.read().select("day").as[java.sql.Date].collect().map(_.toString).toSeq ==
      Seq("2024-01-01"))
  }

  test("a file its footer does not bound is not pruned by its commit's other files") {
    val t = freshTable("unbounded_sibling")
    // one commit of two files: A holds +Inf, so its footer bounds nothing
    // and it falls back to the commit's bounds; B bounds x to [1, 2]
    t.append(Seq(("a", 5.0), ("a", Double.PositiveInfinity), ("b", 1.0), ("b", 2.0))
      .toDF("k", "x").repartitionByRange(2, col("k")), statsCols = Seq("x"))
    // a file of nulls only still adds no bound and stays prunable
    t.append(Seq(("c", None), ("d", Some(1.5))).toDF("k", "x")
      .repartitionByRange(2, col("k")), statsCols = Seq("x"))
    assert(t.snapshots.map(_.dataFiles.size) == Seq(2, 2))
    assert(t.snapshots.map(_.stats.map(_._1)) == Seq(Nil, Seq("x")))
    for ((where, opened) <- Seq("x >= 3" -> 1, "x = 5.0" -> 1, "x > 1e300" -> 1,
        "x BETWEEN 1 AND 2" -> 4)) {
      val plan = t.planScan(where)
      assert(plan.filesOpened == opened, s"`$where` opened ${plan.filesOpened}")
      assert(plan.read.count() == t.read().filter(expr(where)).count(), where)
    }
    assert(t.read().filter("x >= 3").count() == 2)
  }

  test("float and double probes prune by the values that round to them") {
    val t = freshTable("floatexact")
    // toString gives a decimal that names the float or double (3.4028235E38
    // for Float.MaxValue), not its exact value, which the footer records
    val big = 1.2345678901234567e30
    t.append(Seq(("m", Float.MaxValue, big), ("n", 123456792f, big))
      .toDF("k", "f", "d").coalesce(1), statsCols = Seq("f", "d"))
    for (where <- Seq("d = 1.2345678901234567E30", "d >= 1.2345678901234567E30",
        "d <= 1.2345678901234567E30", "f = 123456792F", "f <= 123456792F", "f > 123456792F")) {
      val want = t.read().filter(where).count()
      assert(want > 0 && t.planScan(where).read.count() == want, where)
    }
    // SQL cannot spell Float.MaxValue as a FLOAT literal, so its probes are built
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{EqualTo, GreaterThanOrEqual, LessThanOrEqual, Literal}
    val (f, fmax) = (UnresolvedAttribute("f"), Literal(Float.MaxValue))
    for ((where, want) <- Seq(EqualTo(f, fmax) -> 1, LessThanOrEqual(f, fmax) -> 2,
        GreaterThanOrEqual(f, fmax) -> 1))
      assert(t.planScan(where).read.count() == want, where.toString)
    assert(t.readEq("f", Float.MaxValue).count() == 1)
    assert(t.readEq("f", 123456792f).count() == 1)
    assert(t.readEq("d", big).count() == 2)
    // Spark casts a DECIMAL column to double to compare it with one: 1.10
    // equals 1.1D (exact value 1.1000000000000000888...), and
    // 12345678901234567890 equals 1.2345678901234567E19D (...67168)
    val p = freshTable("decdouble")
    p.append(Seq(("a", "1.10", "12345678901234567890")).toDF("k", "p", "q")
      .select(col("k"), col("p").cast("decimal(10,2)").as("p"), col("q").cast("decimal(38,0)").as("q"))
      .coalesce(1), statsCols = Seq("p", "q"))
    for (where <- Seq("p = 1.1D", "p >= 1.1D", "p <= 1.1D", "q = 1.2345678901234567E19D",
        "q >= 1.2345678901234567E19D", "q <= 1.2345678901234567E19D")) {
      assert(p.read().filter(where).count() == 1, where)
      assert(p.planScan(where).read.count() == 1, where)
    }
    assert(p.readEq("p", 1.1).count() == 1)
    val r = p.deleteWhereRange("p", 1.1, 1.1)
    assert(r.rewritten == 1 && p.read().count() == 0, s"$r")
  }

  test("all-null stats column does not poison later range reads") {
    val t = freshTable("nullstats")
    // the batch's stats column is entirely null: min/max are null, so NO
    // stats must be recorded for it (a literal "null" min/max would make
    // every later mayContain throw NumberFormatException — ADVICE r2)
    val nullBatch = Seq(("A", "x"), ("B", "y"))
      .toDF("name", "size")
      .withColumn("count", lit(null).cast("int"))
    t.append(nullBatch, statsCols = Seq("count"))
    assert(t.commitLog.entries().last.stats.isEmpty)
    t.append(Seq(("C", "z", 5)).toDF("name", "size", "count"), statsCols = Seq("count"))
    // range read survives the stat-less commit and never prunes it blind
    val got = t.readRange("count", BigDecimal(0), BigDecimal(10))
      .select("count").as[Int].collect().toSeq
    assert(got == Seq(5))
    assert(t.prunedFileCount("count", BigDecimal(0), BigDecimal(10)) >= 2)
  }

  test("add-column schema evolution: old snapshots read with nulls, history tracked") {
    val t = freshTable("evolve")
    t.append(Seq(("A", 1), ("B", 2)).toDF("name", "count"))           // v1 schema
    t.append(Seq(("C", 3, "eu"), ("D", 4, "us")).toDF("name", "count", "region")) // v2 adds region
    val full = t.read()
    assert(full.columns.toSeq == Seq("name", "count", "region"))
    val regions = full.orderBy("name").select("region").collect().map(r => Option(r.getString(0)))
    assert(regions.sameElements(Array(None, None, Some("eu"), Some("us"))))
    // schema history: as of seq 0 the table had no region column
    assert(t.schemaAt(0).get.fieldNames.toSeq == Seq("name", "count"))
    assert(t.schemaAt().get.fieldNames.toSeq == Seq("name", "count", "region"))
    // time travel respects the old shape's data
    assert(t.read(asOf = 0).columns.toSeq == Seq("name", "count"))
    // and compaction carries the evolved schema forward
    t.compact()
    assert(t.read().columns.toSeq == Seq("name", "count", "region"))
    assert(t.read().count() == 4)
  }

  test("expireSnapshots bounds metadata and removes orphan files, reads unchanged") {
    import java.nio.file.{Files => JFiles}
    import scala.jdk.CollectionConverters._
    val t = freshTable("expire")
    t.append(items)
    t.delete(Seq("A").toDF("name"), Seq("name"))
    t.append(Seq(("F", "new", 7)).toDF("name", "size", "count"))
    val before = t.read().orderBy("name", "count").collect()
    def parquetCount = JFiles.walk(t.root).iterator().asScala
      .count(_.getFileName.toString.endsWith(".parquet"))
    val filesBefore = parquetCount
    t.expireSnapshots()
    // one surviving snapshot, same data, fewer physical files
    assert(t.snapshots.length == 1 && t.snapshots.head.action == "replace")
    assert(t.read().orderBy("name", "count").collect().sameElements(before))
    assert(parquetCount < filesBefore, s"no orphans removed ($filesBefore)")
    // pre-expiration history is gone by design
    assert(t.read(asOf = 0).isEmpty)
    // and the table keeps working: new appends commit after the replace
    t.append(Seq(("G", "post", 8)).toDF("name", "size", "count"))
    assert(t.read().count() == before.length + 1)
  }

  test("reads skip an abandoned commit claim; its seq is never reused") {
    import java.nio.file.{Files => JFiles, Paths => JPaths}
    val dir = JFiles.createTempDirectory("spec_claim").toString
    val log = CommitLog(dir)
    log.commit("add", dataFiles = Seq("f0"))
    // a committer crashed after claiming seq 1 but before moving content in
    JFiles.createFile(JPaths.get(dir, "_log", f"${1L}%020d.json"))
    assert(log.entries().map(_.seq) == Seq(0L)) // reader unaffected
    val next = log.commit("add", dataFiles = Seq("f2"))
    assert(next == 2L) // the abandoned claim's seq is not reused
    assert(log.entries().map(_.seq) == Seq(0L, 2L))
  }

  test("file paths containing commas survive the log round-trip") {
    val root = java.nio.file.Files.createTempDirectory("spec_comma")
    val log = CommitLog(root.toString)
    // one real table path (with a comma in the shard dir) and one foreign
    // absolute path outside any table structure: the first relativizes on
    // disk and resolves back, the second must pass through untouched
    val weird = Seq(s"$root/data/run,v2/part-0.parquet", "/plain/part-1.parquet")
    log.commit("add", dataFiles = weird)
    assert(log.entries().last.dataFiles == weird)
  }

  test("append records per-file bounds at Iceberg-manifest granularity") {
    val t = freshTable("filestats")
    // one epoch, two shards with disjoint count ranges via an explicit
    // range repartition — per-FILE stats must separate them even though
    // the commit-level range covers both
    val df = (0 until 20).map(i => (s"k$i", i)).toDF("name", "count")
      .repartitionByRange(2, $"count")
    t.append(df, statsCols = Seq("count"))
    val e = t.commitLog.entries().last
    assert(e.dataFiles.size == 2 && e.fileStats.size == 2)
    // commit-level pruning alone could not skip either file for a probe
    // at the max; file-level bounds open exactly one
    assert(t.prunedFileCount("count", BigDecimal(19), BigDecimal(19)) == 1)
    assert(t.readRange("count", BigDecimal(19), BigDecimal(19)).count() == 1)
  }

  test("hidden partitioning: truncate spec prunes point and range reads") {
    val t = freshTable("partspec")
    val spec = PartitionSpec("count", Transform.Truncate(10))
    def batch(lo: Int) = (lo until lo + 30).map(i => (s"k$i", i)).toDF("name", "count")
    t.appendPartitioned(batch(0), spec)   // partitions 0,10,20 → 3 files
    t.appendPartitioned(batch(100), spec) // partitions 100,110,120 → 3 files
    assert(t.partitionSpec.contains(spec))
    assert(t.commitLog.state()._1.size == 6)
    // point read resolves the transform itself (caller names the SOURCE col)
    assert(t.prunedFileCountEq("count", 15) == 1)
    assert(t.readEq("count", 15).select("name").as[String].head() == "k15")
    // order-preserving transform ⇒ range predicates prune too
    assert(t.prunedFileCount("count", BigDecimal(100), BigDecimal(119)) == 2)
    val got = t.readRange("count", BigDecimal(100), BigDecimal(119))
      .select("count").as[Int].collect().sorted
    assert(got.sameElements(100 to 119))
    // pruning never changes results vs the unpruned filtered read
    val full = t.read().filter($"count" >= 100 && $"count" <= 119)
      .select("count").as[Int].collect().sorted
    assert(got.sameElements(full))
  }

  test("hidden partitioning: bucket spec prunes string-key point reads") {
    val t = freshTable("bucket")
    val spec = PartitionSpec("name", Transform.Bucket(8))
    t.appendPartitioned(items, spec)
    val total = t.commitLog.state()._1.size
    // equality probe opens exactly the key's bucket file
    val opened = t.prunedFileCountEq("name", "C")
    assert(opened == 1, s"opened $opened of $total")
    val rows = t.readEq("name", "C").collect()
    assert(rows.length == 1 && rows.head.getInt(2) == 10)
    // a key in no bucket with data may still open its (empty-of-key)
    // bucket file but must return nothing
    assert(t.readEq("name", "ZZZ").isEmpty)
    // bucket is not order-preserving: range reads must NOT partition-prune
    // (file count equals total — never prune blind through a hash)
    assert(t.prunedFileCount("name", BigDecimal(0), BigDecimal(1)) == total)
  }

  test("rename evolution: field ids keep old files readable under the new name") {
    val t = freshTable("rename")
    t.append(Seq(("A", 1), ("B", 2)).toDF("name", "count"))
    t.renameColumn("count", "qty")
    // old files resolve to the new name BY ID — no rewrite
    assert(t.read().columns.toSeq == Seq("name", "qty"))
    assert(t.read().orderBy("name").select("qty").as[Int].collect()
      .sameElements(Array(1, 2)))
    // appends under the new name share the field id; epochs union cleanly
    t.append(Seq(("C", 3)).toDF("name", "qty"))
    assert(t.read().select("qty").as[Int].collect().sorted.sameElements(Array(1, 2, 3)))
    // time travel to before the rename still shows the historical name
    assert(t.read(asOf = 0).columns.toSeq == Seq("name", "count"))
    // invalid renames are rejected
    intercept[IllegalArgumentException](t.renameColumn("nope", "x"))
    intercept[IllegalArgumentException](t.renameColumn("qty", "name"))
  }

  test("equality delete keyed on a later-renamed column still applies") {
    val t = freshTable("rendel")
    t.append(items)
    t.delete(Seq("A").toDF("name"), Seq("name")) // recorded under old name
    t.renameColumn("name", "item")
    val got = t.read().select("item").as[String].collect().sorted
    assert(got.sameElements(Array("B", "C", "D", "E")))
  }

  test("int→long widening: old int files read as long, wide rows append") {
    val t = freshTable("widen")
    t.append(Seq(("A", 1), ("B", 2)).toDF("name", "count"))
    t.widenColumn("count", LongType)
    assert(t.read().schema("count").dataType == LongType)
    t.append(Seq(("C", 3000000000L)).toDF("name", "count")) // > Int.MaxValue
    assert(t.read().select("count").as[Long].collect().sorted
      .sameElements(Array(1L, 2L, 3000000000L)))
    // an equality delete keyed on the widened column still matches the
    // narrow historical rows (int keys coerce against the long view)
    t.delete(Seq(1).toDF("count"), Seq("count"))
    assert(t.read().select("name").as[String].collect().sorted
      .sameElements(Array("B", "C")))
    // narrowing is rejected
    intercept[IllegalArgumentException](t.widenColumn("count", IntegerType))
  }

  test("field ids are never recycled after a schema-narrowing append") {
    val t = freshTable("idfloor")
    t.append(Seq(("A", 1), ("B", 2)).toDF("name", "count")) // ids 1, 2
    t.append(Seq("C").toDF("name"))                         // narrowing: id 2 vanishes
    t.append(Seq(("D", 9)).toDF("name", "qty"))             // must get a FRESH id, not 2
    val byName = t.read().collect()
      .map(r => r.getString(r.fieldIndex("name")) -> r).toMap
    // with a recycled id, epoch 0's count would rebind into qty (A.qty=1)
    assert(byName("A").isNullAt(byName("A").fieldIndex("qty")))
    assert(byName("A").getInt(byName("A").fieldIndex("count")) == 1)
    assert(byName("D").getInt(byName("D").fieldIndex("qty")) == 9)
  }

  test("rollback reinstates an old state, preserves history, and is metadata-only without deletes") {
    val t = freshTable("rollback")
    t.append(Seq(("A", 1)).toDF("name", "count"))       // seq 0
    t.append(Seq(("B", 2)).toDF("name", "count"))       // seq 1
    t.append(Seq(("X", 9)).toDF("name", "count"))       // seq 2: bad
    def dataFileCount: Long = {
      val s = java.nio.file.Files.walk(t.root.resolve("data"))
      try s.filter(p => p.getFileName.toString.endsWith(".parquet")).count()
      finally s.close()
    }
    val before = dataFileCount
    t.rollbackTo(1)                                     // seq 3
    assert(dataFileCount == before, "no-delete rollback must not write data files")
    assert(t.read().select("name").as[String].collect().sorted.toSeq == Seq("A", "B"))
    // the rolled-over snapshot is still travelable (rollback is a new commit)
    assert(t.read(asOf = 2).count() == 3)
    // rolling back over a pending MoR delete materializes the view
    t.delete(Seq("A").toDF("name"), Seq("name"))        // seq 4
    t.append(Seq(("C", 3)).toDF("name", "count"))       // seq 5
    t.rollbackTo(4)                                     // state has a delete file
    assert(t.read().select("name").as[String].collect().sorted.toSeq == Seq("B"))
  }

  test("branches isolate staged writes and publish by fast-forward") {
    val t = freshTable("branch")
    t.append(Seq(("A", 1), ("B", 2)).toDF("name", "count"))      // main seq 0
    val b = t.createBranch("stage")
    b.append(Seq(("C", 3)).toDF("name", "count"))
    b.delete(Seq("A").toDF("name"), Seq("name"))
    // isolation: main unchanged while the branch sees its own lineage
    assert(t.read().count() == 2)
    assert(b.read().select("name").as[String].collect().sorted.toSeq == Seq("B", "C"))
    // the branch is a full table: time travel to its base works
    assert(b.read(asOf = 0).count() == 2)
    // re-opening by name sees the same state
    assert(t.branch("stage").read().count() == 2)
    intercept[IllegalArgumentException](t.createBranch("stage")) // exclusive
    // publish fast-forwards main to the audited view
    val seqs = t.publishBranch("stage")
    assert(seqs.nonEmpty)
    assert(t.read().select("name").as[String].collect().sorted.toSeq == Seq("B", "C"))
    assert(t.branches == Seq("stage"))
  }

  test("publish refuses a branch whose base main has advanced past") {
    val t = freshTable("branchdiv")
    t.append(Seq(("A", 1)).toDF("name", "count"))
    val b = t.createBranch("stage")
    b.append(Seq(("B", 2)).toDF("name", "count"))
    t.append(Seq(("Z", 9)).toDF("name", "count")) // main diverges
    intercept[IllegalArgumentException](t.publishBranch("stage"))
    // main is untouched by the refused publish
    assert(t.read().select("name").as[String].collect().sorted.toSeq == Seq("A", "Z"))
  }

  test("incremental read returns exactly the live rows added in range") {
    val t = freshTable("increm")
    t.append(Seq(("A", 1), ("B", 2)).toDF("name", "count"))  // seq 0
    t.append(Seq(("C", 3), ("D", 4)).toDF("name", "count"))  // seq 1
    t.delete(Seq("C").toDF("name"), Seq("name"))             // seq 2
    t.append(Seq(("E", 5)).toDF("name", "count"))            // seq 3
    def names(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select("name").as[String].collect().sorted.toSeq
    // full range from "before the table existed" equals a plain read
    assert(names(t.readIncremental(-1)) == names(t.read()))
    // (0, latest]: C was added then deleted in range — not emitted
    assert(names(t.readIncremental(0)) == Seq("D", "E"))
    // bounded upper end: (0, 1] sees C alive (the delete postdates toSeq)
    assert(names(t.readIncremental(0, 1)) == Seq("C", "D"))
    // empty range at the head
    assert(t.readIncremental(3).count() == 0)
    // a replace in range breaks append-only lineage — refused
    t.compact()                                              // seq 4: replace
    intercept[IllegalArgumentException](t.readIncremental(0))
    // re-baselined consumption after the compaction generation works
    t.append(Seq(("F", 6)).toDF("name", "count"))            // seq 5
    assert(names(t.readIncremental(4)) == Seq("F"))
  }

  test("a column re-added under the SAME name does not inherit orphaned history") {
    val t = freshTable("idreadd")
    t.append(Seq(("A", 1), ("B", 2)).toDF("name", "count")) // count: id 2
    t.append(Seq("C").toDF("name"))                         // narrowing: id 2 dropped
    t.append(Seq(("D", 9)).toDF("name", "count"))           // count re-added: FRESH id
    val byName = t.read().collect()
      .map(r => r.getString(r.fieldIndex("name")) -> r).toMap
    // by-id resolution: epoch 0's orphaned count (id 2) must NOT merge by
    // name into the re-added count — Iceberg reads NULL for A and B
    assert(byName("A").isNullAt(byName("A").fieldIndex("count")))
    assert(byName("B").isNullAt(byName("B").fieldIndex("count")))
    assert(byName("D").getInt(byName("D").fieldIndex("count")) == 9)
  }

  test("shallow clone: zero-copy adoption, independent divergence, MoR state carried") {
    import scala.jdk.CollectionConverters._
    val t = freshTable("clonesrc")
    t.append(items)                                          // seq 0
    t.delete(Seq("A").toDF("name"), Seq("name"))             // seq 1: MoR delete
    val dst = Files.createTempDirectory("spec_clonedst")
    val c = t.cloneTo(dst.toString)
    // the delete state travels with the metadata: clone sees the MoR view
    assert(c.read().count() == 4 && t.read().count() == 4)
    // zero-copy: nothing under the clone root but metadata
    def localParquet(): Long = {
      val w = Files.walk(dst)
      try w.iterator().asScala.count(_.toString.endsWith(".parquet"))
      finally w.close()
    }
    assert(localParquet() == 0)
    // divergence is one-way: clone writes stay local, source never moves
    c.append(Seq(("Z", "clone", 1)).toDF("name", "size", "count")) // clone seq 2
    t.append(Seq(("Y", "src", 1)).toDF("name", "size", "count"))   // src seq 2
    assert(c.read().count() == 5 && t.read().count() == 5)
    assert(c.read().collect().map(_.getString(0)).contains("Z"))
    assert(!c.read().collect().map(_.getString(0)).contains("Y"))
    assert(localParquet() > 0) // the clone's own append is the first local file
    // pre-clone history stays time-travelable through the clone
    assert(c.read(asOf = 0).count() == 6)
    // a second clone into a non-empty directory is refused
    intercept[IllegalArgumentException](t.cloneTo(dst.toString))
  }

  test("merge: clause edges — delete of unmatched is a no-op, one atomic seq, time travel intact") {
    val t = freshTable("mergeedges")
    t.append(items)                                     // seq 0 (6 rows, A twice)
    val feed = Seq(
      ("A", "gone", 0, "D"),   // matched + delete: BOTH A rows die
      ("Z", "ghost", 7, "D"),  // NOT matched: clauses are independent (SQL
      //   MERGE semantics) — a delete op for an absent key is a no-op
      //   only because the insert condition excludes it
      ("B", "upd", 99, "U"),   // matched: replaced
      ("N", "new", 5, "I"))    // not matched: inserted
      .toDF("name", "size", "count", "op")
    val seq = t.merge(feed, keyCols = Seq("name"),
      deleteWhen = col("op") === "D", insertWhen = col("op").isin("I", "U"))
    assert(seq == 1 && t.headSeq == 1) // ONE atomic commit
    val got = t.read().collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).sorted
    assert(got.toSeq == Seq(("B", "upd", 99), ("C", "medium", 10),
      ("D", "small", 20), ("E", "large", 20), ("N", "new", 5)))
    assert(!t.read().columns.contains("op")) // CDC columns never land
    // pre-merge snapshot intact
    assert(t.read(asOf = 0).count() == 6)
  }

  test("GC sweeps survive a dot-infixed (non-normalized) table root") {
    // resolved entry paths are normalized; the sweep must canonicalize
    // the walked side too, or every live file reads as "unreferenced"
    // and a zero-horizon vacuum destroys the table
    val base = Files.createTempDirectory("spec_dotroot")
    val t = GraftTable.createOrReplace(spark, s"$base/./tbl")
    t.append(items)
    t.tag("pin", 0L)
    t.expireSnapshots()
    t.removeOrphanFiles(olderThanMs = 0)
    assert(t.read().count() == 6)
    assert(t.readTag("pin").count() == 6)
  }

  test("branches survive a catalog rename (relative ..-seeded references)") {
    val cat = GraftCatalog(spark, Files.createTempDirectory("spec_brmove").toString)
    val t = cat.createTable("ns", "t1")
    t.append(items)                                            // main seq 0
    val b = t.createBranch("wip")
    b.append(Seq(("H", "staged", 7)).toDF("name", "size", "count")) // staged 1
    cat.renameTable("ns", "t1", "t2")
    val moved = cat.openTable("ns", "t2")
    // the branch's seeded references moved WITH the table directory
    assert(moved.branch("wip").read().count() == 7)
    val seqs = moved.publishBranch("wip")
    assert(seqs.nonEmpty && moved.read().count() == 7)
  }

  test("branch names reject traversal segments") {
    val t = freshTable("brname")
    t.append(items)
    intercept[IllegalArgumentException](t.createBranch(".."))
    intercept[IllegalArgumentException](t.branch("."))
  }

  test("merge refuses a source missing target columns; NULL deleteWhen updates") {
    val t = freshTable("mergenull")
    t.append(items)
    // missing `size` would silently narrow the head schema table-wide
    intercept[IllegalArgumentException] {
      t.merge(Seq(("A", 1)).toDF("name", "count"), Seq("name"))
    }
    // a NULL delete condition must NOT fire the delete clause: the row
    // falls through to the matched-update, not into the void
    val feed = Seq(("A", "upd", 11, null.asInstanceOf[String]))
      .toDF("name", "size", "count", "op")
    t.merge(feed, Seq("name"), deleteWhen = col("op") === "D")
    val a = t.read().filter(col("name") === "A").collect()
    assert(a.length == 1 && a.head.getInt(2) == 11)
  }

  test("merge into an EMPTY table degenerates to the filtered insert") {
    import org.apache.spark.sql.functions.col
    val t = freshTable("mergeempty")
    t.merge(Seq(("A", 1, "I"), ("B", 2, "X")).toDF("name", "count", "op"),
      Seq("name"), insertWhen = col("op") === "I")
    val got = t.read().collect().map(r => (r.getString(0), r.getInt(1), r.getString(2)))
    // no target schema existed, so the FULL source schema lands
    assert(got.toSeq == Seq(("A", 1, "I")))
  }

  test("compaction neither resurrects a dropped column nor launders it past a re-add") {
    // the r6 fuzz-found hole: compact() used to stamp the pass-through
    // view's schema, minting a FRESH id for the dropped column — head
    // schema changed by a rewrite, and the later re-add then KEPT that
    // id, so orphaned history read as live values (where the
    // uncompacted timeline reads NULL)
    val t = freshTable("laundern")
    t.append(Seq(("A", 1)).toDF("name", "count"))
    t.append(Seq("B").toDF("name"))       // narrowing: count dropped
    t.compact()                           // must NOT re-declare count
    // pass-through survives the rewrite: history stays readable by name
    val mid = t.read().collect().map(r => r.getString(0) -> r).toMap
    assert(mid("A").getInt(mid("A").fieldIndex("count")) == 1)
    t.append(Seq(("C", 2)).toDF("name", "count")) // re-add: FRESH id
    val got = t.read().collect().map(r => r.getString(0) -> r).toMap
    // identical to the uncompacted timeline: old generations read NULL
    assert(got("A").isNullAt(got("A").fieldIndex("count")))
    assert(got("B").isNullAt(got("B").fieldIndex("count")))
    assert(got("C").getInt(got("C").fieldIndex("count")) == 2)
  }

  test("swap-shaped rename chains read without column collisions") {
    val t = freshTable("renswap")
    t.append(Seq(("A", 1, 10)).toDF("k", "x", "y"))
    t.renameColumn("y", "z")
    t.renameColumn("x", "y") // old epoch now maps x->y AND y->z at once
    val r = t.read()
    assert(r.columns.toSeq == Seq("k", "y", "z"))
    val row = r.collect().head
    assert(row.getInt(1) == 1 && row.getInt(2) == 10)
  }

  test("a narrowing append does not break reads of wide historical rows") {
    val t = freshTable("narrow")
    t.append(Seq(("A", 3000000000L)).toDF("name", "count")) // long epoch
    t.append(Seq(("B", 2)).toDF("name", "count")) // int epoch narrows the declared type
    // the wide epoch must NOT be force-cast down (ANSI would throw);
    // unionByName coerces the union up instead, as before evolution
    val got = t.read().orderBy("name")
      .select(col("count").cast("long")).as[Long].collect()
    assert(got.sameElements(Array(3000000000L, 2L)))
  }

  test("decimal precision widening at fixed scale; scale change rejected") {
    import org.apache.spark.sql.types.DecimalType
    val t = freshTable("decwiden")
    t.append(Seq(("A", BigDecimal("12.34")), ("B", BigDecimal("56.78")))
      .toDF("name", "amt").select(col("name"), col("amt").cast(DecimalType(10, 2)).as("amt")))
    t.widenColumn("amt", DecimalType(20, 2))
    assert(t.read().schema("amt").dataType == DecimalType(20, 2))
    assert(t.read().orderBy("name").select("amt").as[java.math.BigDecimal].collect()
      .map(_.toPlainString).sameElements(Array("12.34", "56.78")))
    intercept[IllegalArgumentException](t.widenColumn("amt", DecimalType(20, 4)))
    intercept[IllegalArgumentException](t.widenColumn("amt", DecimalType(8, 2)))
  }

  test("multi-dimensional spec: each dimension prunes independently") {
    val t = freshTable("multidim")
    val specs = Seq(PartitionSpec("day", Transform.Identity),
      PartitionSpec("val", Transform.Truncate(5)))
    val rows = Seq(("a", 0, 1), ("b", 0, 7), ("c", 1, 2), ("d", 1, 8), ("e", 2, 3))
      .toDF("name", "day", "val")
    t.appendPartitioned(rows, specs, Nil, Nil)
    assert(t.partitionSpecs == specs)
    assert(t.partitionSpec.contains(specs.head)) // single-dim view intact
    // 5 distinct (day, val-bucket) tuples → 5 files, one per tuple
    assert(t.commitLog.state()._1.size == 5)
    // day dimension: point probe opens only day=1's grid row
    assert(t.prunedFileCountEq("day", 1) == 2)
    assert(t.readEq("day", 1).select("name").as[String].collect().sorted
      .sameElements(Array("c", "d")))
    // val dimension: order-preserving truncate range probe opens bucket 0
    assert(t.prunedFileCount("val", BigDecimal(0), BigDecimal(4)) == 3)
    assert(t.readRange("val", BigDecimal(0), BigDecimal(4))
      .select("name").as[String].collect().sorted
      .sameElements(Array("a", "c", "e")))
    // identity range on the day dimension prunes as well
    assert(t.prunedFileCount("day", BigDecimal(0), BigDecimal(0)) == 2)
    // no synthesized partition column leaks into the reader schema
    assert(!t.read().columns.exists(c => c == "_p" || c.matches("_p\\d+")))
  }

  test("fractional source values: driver eval mirrors the engine's cast (ADVICE r3)") {
    val t = freshTable("fracpart")
    val rows = Seq(("x", 19.6), ("y", 10.2)).toDF("name", "v")
    t.appendPartitioned(rows, PartitionSpec("v", Transform.Truncate(10)))
    // engine: cast(19.6 as decimal(38,0)) rounds HALF_UP → 20 → partition
    // 20. A floor-divide eval of the probe bound would compute partition
    // 10 and silently prune the file that holds the row.
    assert(t.readRange("v", BigDecimal("19.6"), BigDecimal("19.6"))
      .select("name").as[String].collect().sameElements(Array("x")))
    assert(t.readEq("v", 19.6).select("name").as[String].head() == "x")
  }

  test("partitioned append keeps delete/time-travel semantics intact") {
    val t = freshTable("partmor")
    val spec = PartitionSpec("count", Transform.Truncate(10))
    t.appendPartitioned(items, spec)
    t.delete(Seq("A").toDF("name"), Seq("name"))
    val names = t.read().select("name").as[String].collect().sorted
    assert(names.sameElements(Array("B", "C", "D", "E")))
    assert(t.read(asOf = 0).count() == 6)
    // partition column never leaks into reader-visible schema
    assert(!t.read().columns.contains("_p"))
  }

  test("compactSorted clusters files into disjoint ranges that prune") {
    val t = freshTable("sortcompact")
    def batch(b: Int) = (0 until 10).map(i => (s"k${b + 3 * i}", b + 3 * i))
      .toDF("name", "count").repartition(2)
    (0 until 3).foreach(b => t.append(batch(b))) // stat-less: nothing prunes
    assert(t.prunedFileCount("count", BigDecimal(29), BigDecimal(29)) == 6)
    val before = t.read().orderBy("name").collect()
    t.compactSorted("count", numFiles = 3)
    // same data, now 3 files with disjoint recorded ranges
    assert(t.read().orderBy("name").collect().sameElements(before))
    assert(t.commitLog.state()._1.size == 3)
    assert(t.prunedFileCount("count", BigDecimal(29), BigDecimal(29)) == 1)
    // every point probe opens at most one file and returns exactly its row
    Seq(0, 13, 29).foreach { v =>
      assert(t.prunedFileCount("count", BigDecimal(v), BigDecimal(v)) == 1)
      assert(t.readRange("count", BigDecimal(v), BigDecimal(v)).count() == 1)
    }
  }

  test("timestamp time travel reads the snapshot current at that wall-clock time") {
    val t = freshTable("tstravel")
    t.append(items)                                            // seq 0
    val ts0 = t.snapshots.head.tsMs
    // commit clocks have ms granularity; guarantee the second commit
    // lands on a strictly later timestamp so the boundary is decidable
    while (System.currentTimeMillis() <= ts0) Thread.sleep(1)
    t.append(items.withColumn("count", col("count") + 100))    // seq 1
    assert(t.snapshots(1).tsMs > ts0, "precondition: distinct commit timestamps")
    assert(t.readAsOfTime(ts0).count() == 6)                   // seq-0 view
    assert(t.readAsOfTime(System.currentTimeMillis()).count() == 12) // head
    intercept[IllegalArgumentException](t.readAsOfTime(ts0 - 1))
  }

  test("compactZOrder preserves data under nulls, a constant dimension, and MoR deletes") {
    val t = freshTable("zorderedge")
    // y is CONSTANT (span 0 → normalizes to 0) and x carries nulls
    // (normalize to 0, sort first); a delete must be folded by the rewrite
    val rows = Seq((Some(1), 5, "a"), (None, 5, "b"), (Some(9), 5, "c"), (Some(4), 5, "d"))
    t.append(rows.toDF("x", "y", "name"))
    t.delete(Seq("d").toDF("name"), Seq("name"))
    val before = t.read().orderBy("name").collect()
    t.compactZOrder(Seq("x", "y"), numFiles = 4)
    assert(t.read().orderBy("name").collect().sameElements(before))
    // the rewrite is a replace commit: no delete files remain in state
    assert(t.commitLog.state()._2.isEmpty)
    // non-power-of-4 file counts are rejected loudly
    intercept[IllegalArgumentException](t.compactZOrder(Seq("x", "y"), numFiles = 8))
  }

  test("compactZOrder of a fully-deleted table is an empty replace, not a crash") {
    val t = freshTable("zempty")
    t.append(items)
    t.delete(Seq("A", "B", "C", "D", "E").toDF("name"), Seq("name"))
    assert(t.read().count() == 0)
    t.compactZOrder(Seq("count", "count"), numFiles = 4) // fuzzer-found NPE class
    assert(t.read().count() == 0)
    assert(t.snapshots.last.action == "replace")
    // the table stays writable after the empty rewrite
    t.append(Seq(("F", "post", 1)).toDF("name", "size", "count"))
    assert(t.read().count() == 1)
  }

  test("positional delete removes exactly one of two IDENTICAL rows") {
    val t = freshTable("posdel")
    // two byte-identical rows: no equality predicate can separate them
    t.append(Seq(("A", "small", 2), ("A", "small", 2), ("B", "big", 9))
      .toDF("name", "size", "count"))
    val victims = t.readWithPos().filter($"name" === "A")
      .orderBy("_pos").limit(1).select("_file", "_pos")
    t.deleteAt(victims)
    val as = t.read().filter($"name" === "A").collect()
    assert(as.length == 1, "exactly one duplicate must survive")
    assert(t.read().count() == 2)
    // time travel: before the positional delete both rows exist
    assert(t.read(asOf = 0).count() == 3)
    // later appends are untouched and compaction folds the delete in
    t.append(Seq(("A", "small", 2)).toDF("name", "size", "count"))
    assert(t.read().count() == 3)
    t.compact()
    assert(t.read().count() == 3)
    assert(t.commitLog.state()._2.isEmpty, "compaction clears delete files")
    // lineage columns never leak into plain reads
    assert(!t.read().columns.exists(c => c == "_file" || c == "_pos"))
  }

  test("upsert replaces keyed rows atomically, untouched keys survive") {
    val t = freshTable("upsert")
    t.append(items) // two A rows
    t.upsert(Seq(("A", "patched", 99), ("F", "new", 1)).toDF("name", "size", "count"),
      keyCols = Seq("name"))
    val got = t.read().select("name", "size", "count").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2))).sorted.toSeq
    assert(got == Seq(("A", "patched", 99), ("B", "medium", 15), ("C", "medium", 10),
      ("D", "small", 20), ("E", "large", 20), ("F", "new", 1)))
    // exactly one commit: pre-upsert state is one time-travel step back
    assert(t.snapshots.map(_.action) == Seq("add", "mixed"))
    assert(t.read(asOf = 0).count() == 6)
  }

  test("tags pin snapshots, survive expiration, and are immutable") {
    val t = freshTable("tags")
    t.append(items)                       // seq 0: 6 rows
    t.tag("train-v1")
    t.delete(Seq("A").toDF("name"), Seq("name"))
    t.append(Seq(("F", "post", 1)).toDF("name", "size", "count"))
    assert(t.tags == Map("train-v1" -> 0L))
    // duplicate tag name must fail (immutability), as must a bogus seq
    intercept[IllegalStateException](t.tag("train-v1"))
    intercept[IllegalArgumentException](t.tag("bad", 99L))
    val tagged = t.readTag("train-v1").orderBy("name", "count").collect()
    assert(tagged.length == 6)
    t.expireSnapshots()
    // the tagged read is byte-identical after expiration; head unaffected
    assert(t.readTag("train-v1").orderBy("name", "count").collect().sameElements(tagged))
    assert(t.read().count() == 5) // B,C,D,E (A deleted; 2 A rows) + F
    // intermediate retained history is also still readable
    assert(t.read(asOf = 1).count() == 4)
    // untagged tables still expire fully (previous behavior intact)
    t.commitLog.dropTag("train-v1")
    t.expireSnapshots()
    assert(t.snapshots.length == 1 && t.snapshots.head.action == "replace")
  }

  test("metadata tables expose history and the live-file manifest") {
    val t = freshTable("meta")
    t.append(items.repartition(1), statsCols = Seq("count"))
    t.delete(Seq("A").toDF("name"), Seq("name"))
    t.compact()
    val snaps = t.snapshotsMeta.orderBy("seq")
      .select("seq", "action", "n_data_files", "n_delete_files").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSeq
    assert(snaps.map(s => (s._1, s._2)) == Seq((0L, "add"), (1L, "delete"), (2L, "replace")))
    assert(snaps.head._3 == 1 && snaps(1)._4 == 1)
    // live manifest: only the replace's files, carrying their stats
    val files = t.filesMeta.collect()
    assert(files.forall(_.getLong(1) == 2L))
    assert(files.map(_.getString(0)).toSet == t.commitLog.state()._1.map(_._1).toSet)
  }

  test("a partition-spec change never prunes old epochs with the new transform") {
    val t = freshTable("specchange")
    def batch(lo: Int) = (lo until lo + 30).map(i => (s"k$i", i)).toDF("name", "count")
    t.appendPartitioned(batch(0), PartitionSpec("count", Transform.Truncate(10)))
    // later epochs switch to a coarser spec: truncate(100) renders _p=0
    // for counts 20..29, which under the OLD spec means bucket 0-9 — a
    // spec-blind prune would drop the epoch-1 files silently
    t.appendPartitioned(batch(100), PartitionSpec("count", Transform.Truncate(100)))
    val got = t.readRange("count", BigDecimal(20), BigDecimal(29))
      .select("count").as[Int].collect().sorted
    assert(got.sameElements(20 to 29), s"lost rows across spec change: ${got.toSeq}")
    // and a bucket spec on ANOTHER column must not consult count bounds
    t.appendPartitioned(batch(200), PartitionSpec("name", Transform.Bucket(4)))
    val all = t.readRange("count", BigDecimal(0), BigDecimal(300))
    assert(all.count() == 90)
  }

  test("bucket pruning hashes the literal as the COLUMN type") {
    val t = freshTable("buckettype")
    // id written as LONG; the probe literal arrives as Int — xxhash64 of
    // IntegerType(7) != LongType(7), so an uncast literal would compute
    // the wrong bucket and silently return nothing
    val df = (0L until 20L).map(i => (i, s"v$i")).toDF("id", "payload")
    t.appendPartitioned(df, PartitionSpec("id", Transform.Bucket(8)))
    val got = t.readEq("id", 7).select("payload").as[String].collect()
    assert(got.sameElements(Array("v7")))
    assert(t.prunedFileCountEq("id", 7) == 1)
  }

  test("a non-castable probe yields no partition value, not an opaque prune crash") {
    val t = freshTable("badprobe")
    val spec = PartitionSpec("count", Transform.Truncate(10))
    t.appendPartitioned(items, spec)
    // ANSI: the cast of 'abc' to INT throws inside the one-row job;
    // partitionValueOf must swallow it into None so scan planning falls
    // back to never-prune-blind (the residual filter then surfaces the
    // clear ANSI type error, or an empty result in non-ANSI sessions)
    assert(t.partitionValueOf(spec, "abc").isEmpty)
    // a castable numeric probe still resolves
    assert(t.partitionValueOf(spec, 15).contains(BigDecimal(10)))
  }

  test("an abandoned tag claim does not poison tags or expiration") {
    import java.nio.file.{Files => JFiles}
    val t = freshTable("tagclaim")
    t.append(items)
    t.tag("good")
    // a committer crashed between claiming the tag file and moving content
    JFiles.createDirectories(t.root.resolve("_refs"))
    JFiles.createFile(t.root.resolve("_refs").resolve("crashed.json"))
    assert(t.tags == Map("good" -> 0L))
    assert(t.readTag("good").count() == 6)
    t.expireSnapshots() // must not throw on the empty claim
  }

  test("default tag target is the last COMMITTED seq, not a pending claim") {
    import java.nio.file.{Files => JFiles}
    val t = freshTable("tagdefault")
    t.append(items) // seq 0
    // a racing committer has claimed seq 1 but not yet written it
    JFiles.createFile(t.root.resolve("_log").resolve(f"${1L}%020d.json"))
    t.tag("pin") // must resolve to 0, not fail on uncommitted 1
    assert(t.tags("pin") == 0L)
  }

  test("upsert with a non-deterministic source stays key-consistent") {
    val t = freshTable("upsertnd")
    val base = (0 until 100).map(i => (i, "old")).toDF("id", "val")
    t.append(base)
    // rand()-filtered input: each evaluation yields a different subset.
    // The delete-key set must come from the data actually written, so
    // after the upsert every id still appears EXACTLY once.
    val patch = spark.range(0, 100).toDF("id")
      .filter(rand() < 0.5)
      .withColumn("val", lit("new"))
    t.upsert(patch, keyCols = Seq("id"))
    val counts = t.read().groupBy("id").count()
      .filter($"count" =!= 1).count()
    assert(counts == 0, "some id vanished or duplicated under a non-deterministic upsert")
    assert(t.read().count() == 100)
  }

  test("EpochDay partitioning of the events fact table prunes day-window reads") {
    // the 100 TB story: a time-series fact table laid out by ingest day;
    // a bounded dashboard query opens only its days' files
    val t = freshTable("events_day")
    val ev = Tables.events(spark, SparkSessionFixture.sf)
      .withColumn("ts_us", expr("unix_micros(ts)"))
    t.appendPartitioned(ev, PartitionSpec("ts_us", Transform.EpochDay))
    val total = t.commitLog.state()._1.size
    assert(total >= 25, s"one file per day expected, got $total") // ~30 days of data
    val lo = BigDecimal(java.time.LocalDate.of(2024, 1, 10).toEpochDay * 86400000000L)
    val hi = BigDecimal(java.time.LocalDate.of(2024, 1, 15).toEpochDay * 86400000000L - 1)
    val opened = t.prunedFileCount("ts_us", lo, hi)
    assert(opened <= 5, s"5-day window opened $opened of $total files")
    val got = t.readRange("ts_us", lo, hi).select("event_id").as[Long].collect().sorted
    val want = ev.filter($"ts_us" >= lo.toLong && $"ts_us" <= hi.toLong)
      .select("event_id").as[Long].collect().sorted
    assert(got.sameElements(want))
  }

  test("partition transforms parse back from their rendered form") {
    val specs = Seq(
      PartitionSpec("count", Transform.Identity),
      PartitionSpec("count", Transform.Truncate(1000)),
      PartitionSpec("ts", Transform.EpochDay),
      PartitionSpec("name", Transform.Bucket(64)),
      PartitionSpec("name", Transform.TruncateStr(2)))
    specs.foreach { s =>
      assert(Transform.parse(s.render).contains(s.col -> s.transform), s.render)
    }
    assert(Transform.parse("zorder(a,b)").isEmpty)
  }

  test("log entry JSON round-trips") {
    val log = CommitLog(Files.createTempDirectory("spec_json").toString)
    val blooms = Seq(
      Map("name" -> graft.table.Bloom.encode(
        graft.table.Bloom.positions("A", 8192), 8192)),
      Map.empty[String, String])
    val seq = log.commit("mixed", dataFiles = Seq("a.parquet", "b.parquet"),
      deleteFiles = Seq("d.parquet"), equalityCols = Seq("name", "size"),
      fileBlooms = blooms)
    val e = log.entries().last
    assert(e.seq == seq && e.action == "mixed")
    // relative inputs resolve against the log root on read
    assert(e.dataFiles.map(_.split('/').last) == Seq("a.parquet", "b.parquet"))
    assert(e.deleteFiles.map(_.split('/').last) == Seq("d.parquet"))
    assert(e.equalityCols == Seq("name", "size"))
    // blooms SPILL to a sidecar (r8, the Puffin move): the entry carries
    // only the pointer — bitmap bytes never enter the log or checkpoints
    assert(e.fileBlooms.isEmpty && e.bloomsRef.nonEmpty,
      "blooms must live in a sidecar, not inline in the entry")
    assert(e.bloomsRef.contains("_puffin"))
    val hydrated = CommitLog.bloomsOf(e)
    assert(hydrated == blooms)
    assert(graft.table.Bloom.mightContain(hydrated.head("name"), "A"))
    assert(!graft.table.Bloom.mightContain(
      hydrated.head("name"), "definitely-absent"))
  }

  test("metadata checkpoint folds the log without changing history or the CAS") {
    val t = freshTable("ckpt")
    t.append(items)                                        // seq 0
    t.delete(Seq("A").toDF("name"), Seq("name"))           // seq 1
    t.append(Seq(("F", "post", 1)).toDF("name", "size", "count")) // seq 2
    t.tag("audited", 1)
    val entriesBefore = t.snapshots
    assert(t.commitLog.metaFileCount == 3)
    assert(t.checkpointMetadata() == 2)
    assert(t.commitLog.metaFileCount == 1)
    // identical history through the checkpoint: entries, head, time
    // travel, tags — nothing observable changed but the file count
    assert(t.snapshots == entriesBefore)
    assert(t.headSeq == 2)
    assert(t.read(asOf = 0).count() == 6)
    assert(t.readTag("audited").count() == 4)
    // the CAS continues above the fold; a second checkpoint re-folds
    t.append(Seq(("G", "post", 2)).toDF("name", "size", "count")) // seq 3
    assert(t.headSeq == 3 && t.commitLog.metaFileCount == 2)
    assert(t.checkpointMetadata() == 3)
    assert(t.commitLog.metaFileCount == 1)
    assert(t.read().count() == 6) // B C D E + F + G
    // checkpointing an already-checkpointed log is a no-op
    assert(t.checkpointMetadata() == 3)
    // a branch created FROM a checkpointed table sees the same history
    // (createBranch reads through the checkpoint) and publishes cleanly
    val br = t.createBranch("from-ckpt")
    br.append(Seq(("H", "branch", 3)).toDF("name", "size", "count"))
    t.publishBranch("from-ckpt")
    assert(t.read().count() == 7)
    // expiration still works when the victims live inside the checkpoint
    t.commitLog.dropTag("audited")
    t.expireSnapshots()
    assert(t.read().count() == 7)
    assert(t.snapshots.size == 1)
  }

  test("truncstr hidden partitioning prunes string point and range probes") {
    val t = freshTable("truncstr")
    val spec = PartitionSpec("name", Transform.TruncateStr(1))
    // 4 partitions (a, b, n, z), one file each (repartition by pcol)
    t.appendPartitioned(
      Seq(("alpha", "x", 1), ("beta", "x", 2), ("nina", "x", 3), ("zed", "x", 4))
        .toDF("name", "size", "count"), spec, statsCols = Nil)
    // point probe: only the 'b' partition file opens
    assert(t.prunedFileCountEq("name", "beta") == 1)
    assert(t.readEq("name", "beta").count() == 1)
    // range probe [aa, b~]: prefixes 'a' and 'b' intersect, 'n'/'z' pruned
    val aaBz = t.planScan("name BETWEEN 'aa' AND 'bz'")
    assert(aaBz.filesOpened == 2)
    assert(aaBz.read.count() == 2)
    // a miss prunes everything
    assert(t.prunedFileCountEq("name", "quark") == 0)
    // the spec round-trips through the log rendering
    assert(t.partitionSpec.contains(spec))
  }

  test("string-column stats prune lexicographic range and point reads") {
    val t = freshTable("strskip")
    t.append(Seq(("alpha", "x", 1), ("beta", "x", 2), ("carol", "x", 3))
      .toDF("name", "size", "count").repartition(1), statsCols = Seq("name"))
    t.append(Seq(("nina", "x", 4), ("oscar", "x", 5), ("zed", "x", 6))
      .toDF("name", "size", "count").repartition(1), statsCols = Seq("name"))
    // [a, c] intersects only [alpha, carol]; carol itself sorts above "c"
    val aC = t.planScan("name BETWEEN 'a' AND 'c'")
    assert(aC.filesOpened == 1)
    assert(aC.read.count() == 2)
    // [p, t] intersects only [nina, zed]
    assert(t.planScan("name BETWEEN 'p' AND 't'").filesOpened == 1)
    // a string point probe prunes through the same lexicographic stats
    assert(t.prunedFileCountEq("name", "oscar") == 1)
    assert(t.readEq("name", "oscar").count() == 1)
    // a spanning range opens both files; deletes still apply on top
    assert(t.planScan("name BETWEEN 'b' AND 'o'").filesOpened == 2)
    t.delete(Seq("beta").toDF("name"), Seq("name"))
    assert(t.planScan("name BETWEEN 'a' AND 'c'").read.count() == 1)
  }

  test("partition overwrite replaces only touched partitions, atomically") {
    val t = freshTable("povr")
    val spec = PartitionSpec("count", Transform.Truncate(10))
    t.appendPartitioned(items, spec, statsCols = Seq("count")) // counts 2,7,15,10,20,20
    // overwrite BOTH partition 0 (counts 0-9) and partition 10, leaving 20
    t.overwritePartitions(
      Seq(("N1", "x", 3), ("N2", "x", 14)).toDF("name", "size", "count"),
      spec, statsCols = Seq("count"))
    val names = t.read().select("name").as[String].collect().sorted
    // partition 0 had A(2), A(7); partition 10 had B(15), C(10) — all gone;
    // partition 20 (D, E) untouched
    assert(names.sameElements(Array("D", "E", "N1", "N2")))
    // one atomic commit; pre-overwrite state still travelable
    assert(t.snapshots.map(_.action) == Seq("add", "mixed"))
    assert(t.read(asOf = 0).count() == 6)
    // the replacement is partition-laid-out: an equality probe on the new
    // value prunes to the one new partition-10 file (the old partition-10
    // file also intersects — its rows are delete-masked, not unlisted)
    assert(t.readEq("count", 14).filter(col("name") === "N2").count() == 1)
    // re-overwriting the same partition with a key that also existed
    // before keeps exactly the latest copy
    t.overwritePartitions(Seq(("N2", "y", 15)).toDF("name", "size", "count"), spec)
    val n2 = t.read().filter(col("name") === "N2").collect()
    assert(n2.length == 1 && n2.head.getString(1) == "y")
  }

  test("checkpoint races concurrent committers without losing or reordering entries") {
    val t = freshTable("ckptrace")
    t.append(items.repartition(1)) // seq 0
    val committers = (1 to 3).map { i =>
      new Thread {
        override def run(): Unit =
          (1 to 10).foreach(j => t.commitLog.commit("add", dataFiles = Seq(s"r$i-$j.parquet")))
      }
    }
    val folder = new Thread {
      override def run(): Unit =
        (1 to 10).foreach { _ => t.commitLog.checkpoint(); Thread.sleep(2) }
    }
    (committers :+ folder).foreach(_.start())
    (committers :+ folder).foreach(_.join())
    // CAS + fold must preserve a gapless, duplicate-free sequence with
    // every racing commit's file present
    val es = t.commitLog.entries()
    assert(es.map(_.seq).toList == (0L to 30L).toList)
    assert(es.flatMap(_.dataFiles).distinct.size == 31)
    t.commitLog.checkpoint()
    assert(t.commitLog.metaFileCount == 1)
    assert(t.commitLog.entries().map(_.seq).toList == (0L to 30L).toList)
  }

  test("orphan vacuum spares referenced files and young files inside the horizon") {
    val root = Files.createTempDirectory("spec_vacuum")
    val t = GraftTable.createOrReplace(spark, root.toString)
    t.append(items.repartition(1))
    t.delete(Seq("A").toDF("name"), Seq("name")) // a referenced DELETE file too
    // a crashed writer's debris, seconds old
    items.repartition(1).write.parquet(root.resolve("data").resolve("stray").toString)
    // the default 3h horizon protects it (it could be an in-flight write)
    assert(t.removeOrphanFiles() == 0)
    // a future cutoff vacuums it; committed data and delete files survive
    assert(t.removeOrphanFiles(olderThanMs = -60000L) == 1)
    assert(t.removeOrphanFiles(olderThanMs = -60000L) == 0) // idempotent
    assert(t.read().count() == 4)
    assert(t.read(asOf = 0).count() == 6) // history untouched, unlike expire
  }

  test("changelog crossing a rename emits every term under the head-schema name") {
    val t = freshTable("chrename")
    t.append(items)                                       // seq 0: 'name'
    t.delete(Seq("A").toDF("name"), Seq("name"))          // seq 1 (pre-rename delete)
    t.renameColumn("name", "key")                         // seq 2 (metadata-only)
    t.append(Seq(("F", "post", 1)).toDF("key", "size", "count")) // seq 3
    val ch = t.readChangelog(fromSeq = 0)
    // ONE key column named per the head schema — no 'name'/'key' split
    assert(ch.columns.count(c => c == "key") == 1 && !ch.columns.contains("name"))
    val rows = ch.select("key", "change_type", "change_seq")
      .as[(String, String, Long)].collect().sortBy(r => (r._3, r._1))
    assert(rows.toSeq == Seq(("A", "delete", 1L), ("A", "delete", 1L), ("F", "insert", 3L)))
  }

  test("changelog emits per-commit row deltas and refuses replace ranges") {
    val t = freshTable("changelog")
    t.append(items)                                        // seq 0
    t.delete(Seq("A").toDF("name"), Seq("name"))           // seq 1
    t.append(Seq(("F", "new", 1)).toDF("name", "size", "count")) // seq 2
    val ch = t.readChangelog(fromSeq = 0)
      .select("name", "change_type", "change_seq")
      .as[(String, String, Long)].collect().sortBy(r => (r._3, r._2, r._1))
    // seq 1 deletes BOTH 'A' rows of the pre-commit state; seq 2 inserts F
    assert(ch.toSeq == Seq(("A", "delete", 1L), ("A", "delete", 1L), ("F", "insert", 2L)))
    // an empty range yields no rows but the full changelog schema
    val empty = t.readChangelog(fromSeq = t.headSeq)
    assert(empty.count() == 0)
    assert(empty.columns.contains("change_type") && empty.columns.contains("change_seq"))
    // a compaction in range has no row-level delta — refuse, like Iceberg
    t.compact()                                            // seq 3: replace
    intercept[IllegalArgumentException](t.readChangelog(fromSeq = 0))
  }

  test("a commit completing after a checkpoint folded past it stays visible") {
    val dir = Files.createTempDirectory("spec_straggler")
    val log = CommitLog(dir.toString)
    log.commit("add", dataFiles = Seq("base.parquet"))               // seq 0
    // a committer claims seq 1 (empty O_EXCL file) and stalls mid-commit
    val claim = dir.resolve("_log").resolve(f"${1L}%020d.json")
    Files.createFile(claim)
    assert(log.commit("add", dataFiles = Seq("later.parquet")) == 2) // claims past it
    // maintenance folds the log while the claim is still in flight; the
    // claim file must survive the fold's sweep
    assert(log.checkpoint() == 2)
    assert(log.entries().map(_.seq) == Seq(0L, 2L))
    assert(Files.exists(claim))
    // the stalled committer now completes its atomic content move
    Files.write(claim,
      """{"seq":1,"action":"add","dataFiles":["straggler.parquet"],"deleteFiles":[],"equalityCols":[],"tsMs":1}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // the committed entry is visible, in seq order, and replay includes it
    assert(log.entries().map(_.seq) == Seq(0L, 1L, 2L))
    assert(log.state()._1.map(_._1).map(_.split('/').last) ==
      Seq("base.parquet", "straggler.parquet", "later.parquet"))
    // the next fold absorbs it (same top seq — the fold rewrites) instead
    // of deleting it
    assert(log.checkpoint() == 2)
    assert(log.entries().map(_.seq) == Seq(0L, 1L, 2L))
    assert(log.metaFileCount == 1)
    // a still-unfinished claim above the fold keeps burning its seq
    Files.createFile(dir.resolve("_log").resolve(f"${3L}%020d.json"))
    assert(log.headSeq() == 3)
    assert(log.commit("add", dataFiles = Seq("next.parquet")) == 4)
  }

  test("expireSnapshots keeps files an unpublished branch still references") {
    val t = freshTable("brexpire")
    t.append(items)                                                  // seq 0
    val b = t.createBranch("audit")
    b.append(Seq(("X", "stage", 1)).toDF("name", "size", "count"))
    t.append(Seq(("F", "post", 1)).toDF("name", "size", "count"))    // main moves on
    t.expireSnapshots()
    // the branch shares seq-0's data files with main BY PATH; the sweep
    // must not reclaim them while the branch still references them
    assert(b.read().count() == 7)
    assert(t.read().count() == 7)
    // the standalone sweep is branch-aware the same way
    assert(t.removeOrphanFiles(olderThanMs = 0) == 0)
    assert(b.read().count() == 7)
  }

  test("a mistyped string probe on a numeric column never false-prunes") {
    val t = freshTable("probekind")
    t.append(Seq(("lo1", "x", 2), ("lo2", "x", 7)).toDF("name", "size", "count")
      .repartition(1), statsCols = Seq("count"))
    t.append(Seq(("hi1", "x", 150), ("hi2", "x", 200)).toDF("name", "size", "count")
      .repartition(1), statsCols = Seq("count"))
    // numeric stats render as decimals ("2.000000"/"150.000000"); comparing
    // the probe "150" lexicographically against them would prune the very
    // file that holds 150 — the probe must be parsed into a numeric prune
    assert(t.prunedFileCountEq("count", "150") == 1)
    assert(t.readEq("count", "150").count() == 1)
    // an unparseable probe prunes nothing on the source column
    assert(t.prunedFileCountEq("count", "nope") == 2)
    // a string range over a numeric column opens everything rather
    // than comparing renderings lexicographically
    assert(t.planScan("count BETWEEN '1' AND '2'").filesOpened == 2)
    // typed probes still prune as before
    assert(t.prunedFileCountEq("count", 150) == 1)
  }

  test("bloom filters prune overlapping epochs on point reads, never falsely") {
    val t = freshTable("bloom")
    def batch(off: Int) = (off until off + 17 by 4)
      .map(i => (s"k$i", "x", i)).toDF("name", "size", "count").repartition(1)
    val cols = Seq("count", "name")
    t.append(batch(0), statsCols = cols, bloomCols = cols) // counts 0,4,8,12,16
    t.append(batch(2), statsCols = cols, bloomCols = cols) // counts 2,6,10,14,18
    // every present key opens exactly its one containing file and reads
    // exactly its one row — a false negative would surface here
    (0 until 19 by 2).foreach { i =>
      assert(t.prunedFileCountEq("count", i) == 1, s"count=$i")
      assert(t.readEq("count", i).count() == 1, s"count=$i")
      assert(t.prunedFileCountEq("name", s"k$i") <= 1, s"name=k$i")
      assert(t.readEq("name", s"k$i").count() == 1, s"name=k$i")
    }
    // a Long probe on the int column renders identically — still prunes
    assert(t.prunedFileCountEq("count", 8L) == 1)
    assert(t.readEq("count", 8L).count() == 1)
    // absent keys INSIDE both ranges: stats keep both files, blooms
    // reject both (deterministic for this fixed data)
    assert(t.prunedFileCount("count", BigDecimal(9), BigDecimal(9)) == 2)
    assert(t.prunedFileCountEq("count", 9) == 0)
    assert(t.readEq("count", 9).count() == 0)
    // an epoch appended WITHOUT blooms can never be bloom-pruned; its
    // stats range [5, 11] covers the probe, so it must stay open
    t.append(Seq(("x5", "x", 5), ("x11", "x", 11)).toDF("name", "size", "count")
      .repartition(1), statsCols = cols)
    assert(t.prunedFileCountEq("count", 9) == 1) // the bloom-less file stays
    assert(t.readEq("count", 9).count() == 0)
    // deletes still apply on top of bloom-pruned reads
    t.delete(Seq("k8").toDF("name"), Seq("name"))
    assert(t.readEq("count", 8).count() == 0)
  }

  test("compactSmall packs only undersized files and adopts the rest by path") {
    val t = freshTable("binpack")
    t.append(items.repartition(1))                                   // tiny
    t.append(items.withColumn("count", col("count") + 100)
      .repartition(1))                                               // tiny
    // counts 10000, 10002, ... 25998: disjoint from the tiny epochs and
    // sparse, so in-range absent values exercise the adopted bloom
    val big = (0 until 8000).map(i => (s"n$i", "x", 10000 + 2 * i))
      .toDF("name", "size", "count").repartition(1)
    t.append(big, statsCols = Seq("count"), bloomCols = Seq("count"))
    val before = t.commitLog.state()._1.map(_._1)
    val bigPath = before.find(f =>
      Files.size(java.nio.file.Paths.get(f)) >= 16384).get
    val preRows = t.read().count()
    t.compactSmall(targetBytes = 16384, statsCols = Seq("count"))
    val after = t.commitLog.state()._1.map(_._1)
    // the big file is the SAME path (adopted, not rewritten); the two
    // tiny files are gone, replaced by one packed file
    assert(after.contains(bigPath))
    assert(after.size == 2)
    assert(t.read().count() == preRows)
    // adopted per-file stats AND blooms survive: a present key opens the
    // big file alone, and an in-range ABSENT key (odd, never written) is
    // rejected by the adopted bloom with no file opened at all
    assert(t.prunedFileCountEq("count", 16000) == 1)
    assert(t.readEq("count", 16000).count() == 1)
    assert(t.prunedFileCountEq("count", 16001) == 0)
    // the packed file got fresh stats: probing a tiny-range value opens
    // only the packed file
    assert(t.prunedFileCount("count", BigDecimal(102), BigDecimal(102)) == 1)
    // history before the binpack stays travelable
    assert(t.read(asOf = 2).count() == preRows)
    // nothing to pack → no-op, no new commit
    val head = t.headSeq
    assert(t.compactSmall(targetBytes = 16384) == head)
    assert(t.headSeq == head)
    // a pending delete on a column without stats can touch every file:
    // all of them are rewritten with it applied
    t.delete(Seq("A").toDF("name"), Seq("name"))
    t.compactSmall(targetBytes = 16384)
    assert(t.commitLog.state()._2.isEmpty) // deletes folded in
    // items carries two A rows per epoch → 4 rows deleted across epochs
    assert(t.read().count() == preRows - 4)
  }

  test("cherryPick replays one staged append; refuses deletes and unknown ids") {
    val t = freshTable("cherry")
    t.append(items)                                                   // seq 0
    val b = t.createBranch("fix")
    b.append(Seq(("X", "s", 1)).toDF("name", "size", "count"))        // staged 1
    b.append(Seq(("Y", "s", 2, "n")).toDF("name", "size", "count", "note")) // staged 2
    b.delete(Seq("X").toDF("name"), Seq("name"))                      // staged 3
    t.append(Seq(("F", "p", 3)).toDF("name", "size", "count"))        // diverge
    intercept[IllegalArgumentException](t.publishBranch("fix"))
    t.cherryPick("fix", 1)
    // main gains exactly the picked rows; history stays travelable
    assert(t.read().filter(col("name") === "X").count() == 1)
    assert(t.read().count() == 8) // 6 items + F + X
    assert(t.read(asOf = 1).count() == 7)
    // the branch's own lineage is untouched (its delete still applies)
    assert(b.read().count() == 7) // 6 + X + Y - deleted X
    // a staged delete cannot be picked (seq-scoped semantics)
    intercept[IllegalArgumentException](t.cherryPick("fix", 3))
    // a staged append whose schema carries a field id main never assigned
    // is refused (main may have given that id to a different column)
    intercept[IllegalArgumentException](t.cherryPick("fix", 2))
    // picking a seq the branch never staged is an error, not a no-op
    intercept[IllegalArgumentException](t.cherryPick("fix", 99))
    // a second apply of the same staged commit is refused, not doubled
    intercept[IllegalArgumentException](t.cherryPick("fix", 1))
    assert(t.read().filter(col("name") === "X").count() == 1)
  }

  test("cherryPick never regresses main-side schema evolution") {
    // main RENAMED a staged column after the base → pick refused, the
    // rename survives (committing the staged schema would make it the
    // head schema and silently undo the rename)
    val t = freshTable("cherrysch")
    t.append(items)
    val b = t.createBranch("fix")
    b.append(Seq(("X", "s", 1)).toDF("name", "size", "count"))
    t.renameColumn("name", "label")
    intercept[IllegalArgumentException](t.cherryPick("fix", 1))
    assert(t.read().columns.contains("label"))
    // main that only ADDED a column accepts the pick: the staged files
    // read under main's CURRENT schema, the new column filling as null —
    // and the head schema keeps the added column
    val t2 = freshTable("cherryadd")
    t2.append(items)
    val b2 = t2.createBranch("fix")
    b2.append(Seq(("X", "s", 1)).toDF("name", "size", "count"))
    t2.append(Seq(("G", "p", 3, "eu")).toDF("name", "size", "count", "region"))
    t2.cherryPick("fix", 1)
    assert(t2.schemaAt().get.fieldNames.contains("region"))
    val x = t2.read().filter(col("name") === "X").select("region").collect()
    assert(x.length == 1 && x.head.isNullAt(0))
    // a later append under the evolved schema keeps historical ids intact
    t2.append(Seq(("H", "q", 4, "us")).toDF("name", "size", "count", "region"))
    assert(t2.read().filter(col("region") === "us").count() == 1)
    assert(t2.read().count() == 9) // 6 items + G + X + H
  }

  test("deletion vectors drop exactly the addressed rows, later appends untouched") {
    val t = freshTable("dv")
    // two byte-identical rows — only a physical address separates them
    t.append(Seq(("A", "small", 2), ("A", "small", 2), ("B", "big", 9))
      .toDF("name", "size", "count"))
    val victim = t.readWithPos().filter($"name" === "A")
      .orderBy("_pos").limit(1).select("_file", "_pos")
    t.deleteVectors(victim)
    assert(t.read().count() == 2)
    assert(t.read().filter($"name" === "A").count() == 1)
    // time travel: pre-DV snapshot intact
    assert(t.read(asOf = 0).count() == 3)
    // a file appended AFTER the DV is absent from its map — untouched,
    // even where its ordinals collide with deleted ones
    t.append(Seq(("A", "small", 2)).toDF("name", "size", "count"))
    assert(t.read().count() == 3)
    // compaction folds the DV in like any delete
    t.compact()
    assert(t.read().count() == 3)
    assert(t.commitLog.state()._2.isEmpty)
    assert(!t.read().columns.exists(c => c == "_file" || c == "_pos"))
  }

  test("rewritePositionDeletes folds positional deletes into one DV generation") {
    val t = freshTable("dvrewrite")
    t.append((1 to 100).map(i => (i.toLong, s"r$i")).toDF("id", "payload")
      .repartition(2))
    // three separate positional-delete commits + one direct DV commit
    def addr(ids: Seq[Long]) = t.readWithPos()
      .filter(col("id").isin(ids: _*)).select("_file", "_pos")
    t.deleteAt(addr(Seq(1L, 2L)))
    t.deleteAt(addr(Seq(3L)))
    t.deleteAt(addr(Seq(64L, 65L))) // word-boundary ordinals
    t.deleteVectors(addr(Seq(99L)))
    val beforeRows = t.read().orderBy("id").collect()
    assert(beforeRows.length == 94)
    val delGroupsBefore = t.commitLog.state()._2.map(_._2).distinct.size
    assert(delGroupsBefore == 4)
    val seq = t.rewritePositionDeletes()
    // one live DV generation now; the MoR view is byte-identical
    val liveDels = t.commitLog.state()._2
    assert(liveDels.nonEmpty && liveDels.map(_._2).distinct == Seq(seq))
    assert(liveDels.forall(_._3 == CommitLog.DvCols))
    assert(t.read().orderBy("id").collect().toSeq == beforeRows.toSeq)
    // idempotent: a second rewrite with one DV generation is a no-op
    assert(t.rewritePositionDeletes() == seq)
    assert(t.headSeq == seq)
    // pre-rewrite history still travels
    assert(t.read(asOf = 0).count() == 100)
    // equality deletes keep their own scoping across a rewrite
    t.delete(Seq(50L).toDF("id"), Seq("id"))
    assert(t.read().count() == 93)
    t.rewritePositionDeletes() // DV single generation + eq delete: no-op
    assert(t.read().count() == 93)
  }

  test("changelog emits positional-flavor deletes by address, skips dvrewrite") {
    val t = freshTable("dvchange")
    t.append(Seq(("A", 1), ("A", 2), ("B", 3)).toDF("name", "v")) // seq 0
    // positional delete of ONE of the two A rows — an equality-style term
    // would either cross-join (old bug) or delete both
    val victim = t.readWithPos().filter($"name" === "A")
      .orderBy("_pos").limit(1).select("_file", "_pos")
    t.deleteAt(victim)                                            // seq 1
    val v2 = t.readWithPos().filter($"v" === 3).select("_file", "_pos")
    t.deleteVectors(v2)                                           // seq 2
    t.rewritePositionDeletes()                                    // seq 3
    val ch = t.readChangelog(fromSeq = 0)
      .select("name", "v", "change_type", "change_seq")
      .as[(String, Int, String, Long)].collect().sortBy(r => (r._4, r._1))
    assert(ch.toSeq == Seq(("A", 1, "delete", 1L), ("B", 3, "delete", 2L)))
  }

  private def lineageOf(t: GraftTable): Seq[(String, Long, Long)] =
    t.readWithLineage().select("name", "_row_id", "_last_seq")
      .as[(String, Long, Long)].collect().sortBy(_._2).toSeq

  test("row lineage: stable ids across appends, deletes, and full compaction") {
    val t = freshTable("lineage")
    t.append(Seq(("A", 1), ("B", 2), ("C", 3)).toDF("name", "v")) // ids 0,1,2
    t.append(Seq(("D", 4), ("E", 5)).toDF("name", "v"))           // ids 3,4
    assert(lineageOf(t) == Seq(("A", 0L, 0L), ("B", 1L, 0L), ("C", 2L, 0L),
      ("D", 3L, 1L), ("E", 4L, 1L)))
    // an equality delete removes B; survivors keep their ids
    t.delete(Seq("B").toDF("name"), Seq("name"))                  // seq 2
    assert(lineageOf(t) == Seq(("A", 0L, 0L), ("C", 2L, 0L),
      ("D", 3L, 1L), ("E", 4L, 1L)))
    // upsert rewrites C as a NEW row version: fresh id (Iceberg MoR
    // equality-delete upserts produce a new row the same way)
    t.upsert(Seq(("C", 30)).toDF("name", "v"), Seq("name"))       // seq 3, id 5
    assert(lineageOf(t) == Seq(("A", 0L, 0L), ("D", 3L, 1L), ("E", 4L, 1L),
      ("C", 5L, 3L)))
    // full compaction MATERIALIZES lineage: ids and last-update seqs are
    // byte-identical across the rewrite
    val before = lineageOf(t)
    t.compact()
    assert(lineageOf(t) == before)
    // plain reads never leak lineage columns (logical or physical)
    assert(!t.read().columns.exists(c =>
      c.contains("row_id") || c.contains("rowid") || c.contains("lastseq")))
    // the id counter continues above all assigned ids after the rewrite
    t.append(Seq(("F", 6)).toDF("name", "v"))
    assert(lineageOf(t).map(_._2).max == 6L)
    // time travel replays lineage as of the old snapshot
    assert(t.readWithLineage(asOf = 0).select("_row_id")
      .as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("row lineage survives sorted/small-file rewrites and rollback adoption") {
    val t = freshTable("lineage2")
    t.append((0 until 40).map(i => (i.toLong, s"p$i")).toDF("id", "payload"))
    t.append((40 until 50).map(i => (i.toLong, s"p$i")).toDF("id", "payload"))
    val orig = t.readWithLineage().select("id", "_row_id")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(orig.map(_._2) == (0L until 50L))
    // sorted rewrite materializes lineage
    t.compactSorted("id", 2)
    assert(t.readWithLineage().select("id", "_row_id")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq == orig)
    // small-file pack: later small appends pack physically, the rewrite's
    // big files are adopted with lineage intact
    t.append(Seq((50L, "p50")).toDF("id", "payload"))
    t.append(Seq((51L, "p51")).toDF("id", "payload"))
    t.compactSmall(targetBytes = 2000)
    val afterPack = t.readWithLineage().select("id", "_row_id")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(afterPack.take(50) == orig)
    assert(afterPack.map(_._1).drop(50) == Seq(50L, 51L))
    assert(afterPack.map(_._2).drop(50).toSet == Set(50L, 51L))
    // metadata-only rollback adopts files WITH their lineage
    val target = t.headSeq
    t.append(Seq((99L, "oops")).toDF("id", "payload"))
    t.rollbackTo(target)
    assert(t.readWithLineage().select("id", "_row_id")
      .as[(Long, Long)].collect().sortBy(_._1).toSeq == afterPack)
    // the burned id (99's) is never reused after the rollback
    t.append(Seq((52L, "p52")).toDF("id", "payload"))
    val ids = t.readWithLineage().select("_row_id").as[Long].collect()
    assert(ids.distinct.length == ids.length)
    assert(ids.max == 53L) // 52 ids + burned 52 for "oops" -> next is 53
  }

  test("default values: pre-add rows read the default, post-add nulls stay null") {
    val t = freshTable("defaults")
    t.append(Seq(("A", 1), ("B", 2)).toDF("name", "v"))            // seq 0
    t.addColumn("grade", org.apache.spark.sql.types.StringType,
      defaultSql = Some("'unrated'"))                              // seq 1
    t.append(Seq(("C", 3, "good"), ("D", 4, null))
      .toDF("name", "v", "grade"))                                 // seq 2
    val got = t.read().select("name", "grade")
      .as[(String, String)].collect().toMap
    assert(got == Map("A" -> "unrated", "B" -> "unrated", "C" -> "good", "D" -> null))
    // time travel to the pre-add snapshot: no grade column at all
    assert(!t.read(asOf = 0).columns.contains("grade"))
    // the default survives later appends' schema stamps and a rename
    t.append(Seq(("E", 5, "ok")).toDF("name", "v", "grade"))
    t.renameColumn("grade", "rating")
    val got2 = t.read().select("name", "rating")
      .as[(String, String)].collect().toMap
    assert(got2("A") == "unrated" && got2("D") == null && got2("E") == "ok")
    // compaction materializes defaults; reads stay identical
    t.compact()
    assert(t.read().select("name", "rating").as[(String, String)]
      .collect().toMap == got2)
    // an int default widens with its column
    t.addColumn("score", IntegerType, defaultSql = Some("7"))
    t.widenColumn("score", LongType)
    assert(t.read().filter($"name" === "A").select("score")
      .as[Long].head() == 7L)
    // a non-castable default is rejected at declaration time
    intercept[IllegalArgumentException] {
      t.addColumn("bad", IntegerType, defaultSql = Some("'not-a-number'"))
    }
  }

  test("row lineage: branch publish keeps branch-assigned ids, cherry-pick reassigns") {
    val t = freshTable("lineagebr")
    t.append(Seq(("A", 1), ("B", 2)).toDF("name", "v")) // ids 0,1
    val br = t.createBranch("wap")
    br.append(Seq(("C", 3)).toDF("name", "v"))          // branch id 2
    t.publishBranch("wap")
    assert(lineageOf(t) == Seq(("A", 0L, 0L), ("B", 1L, 0L), ("C", 2L, 1L)))
    // cherry-pick after main advanced: the staged ids would collide with
    // main's, so the pick re-assigns from main's counter
    val br2 = t.createBranch("pick")
    br2.append(Seq(("D", 4)).toDF("name", "v"))         // branch id 3
    t.append(Seq(("E", 5)).toDF("name", "v"))           // main claims id 3
    t.cherryPick("pick", br2.headSeq)
    val ids = t.readWithLineage().select("name", "_row_id")
      .as[(String, Long)].collect().toMap
    assert(ids("E") == 3L && ids("D") == 4L)
    assert(ids.values.toSeq.distinct.size == ids.size)
  }

  test("updateWhereEq rewrites only pruned files; no-ops on an absent key") {
    val t = freshTable("cow")
    t.append(Seq(("A", 1), ("B", 2)).toDF("name", "v").repartition(1),
      statsCols = Seq("name"), bloomCols = Seq("name"))
    t.append(Seq(("C", 3), ("D", 4)).toDF("name", "v").repartition(1),
      statsCols = Seq("name"), bloomCols = Seq("name"))
    val before = t.commitLog.state()._1.map(_._1).toSet
    // absent key: stats prove no file can match — no commit at all
    val head = t.headSeq
    assert(t.updateWhereEq("name", "Z", Map("v" -> lit(99))) == head)
    assert(t.commitLog.state()._1.map(_._1).toSet == before)
    // present key: one file rewritten, one adopted by path
    t.updateWhereEq("name", "D", Map("v" -> (col("v") * 10)),
      statsCols = Seq("name"), bloomCols = Seq("name"))
    val after = t.commitLog.state()._1.map(_._1)
    assert(after.count(before) == 1 && after.count(f => !before(f)) == 1)
    assert(t.read().as[(String, Int)].collect().toMap ==
      Map("A" -> 1, "B" -> 2, "C" -> 3, "D" -> 40))
    // ids preserved across the rewrite (same row, new version)
    val ids = t.readWithLineage().select("name", "_row_id")
      .as[(String, Long)].collect().toMap
    assert(ids.values.toSeq.sorted == Seq(0L, 1L, 2L, 3L))
  }

  test("partitions and refs metadata tables report live state without data reads") {
    val t = freshTable("metaparts")
    t.appendPartitioned(items, PartitionSpec("size", Transform.TruncateStr(16)))
    t.append(Seq(("X", "none", 1)).toDF("name", "size", "count")) // unpartitioned
    val parts = t.partitionsMeta.as[(String, Long, Long)].collect()
      .map { case (p, f, r) => Option(p).getOrElse("<null>") -> ((f, r)) }.toMap
    assert(parts("_p=small") == ((1L, 2L)) && parts("_p=large") == ((1L, 2L)))
    assert(parts.contains("<null>")) // the unpartitioned tuple
    t.tag("v1")
    t.createBranch("audit")
    val refs = t.refsMeta.as[(String, String, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(refs("main") == (("branch", t.snapshots.last.seq)))
    assert(refs("v1")._1 == "tag" && refs("audit")._1 == "branch")
  }

  test("updateWhereEq falls back to a full rewrite over pending deletes and schema changes") {
    val t = freshTable("cowfall")
    t.append(Seq(("A", 1), ("B", 2)).toDF("name", "v").repartition(1))
    t.append(Seq(("C", 3)).toDF("name", "v").repartition(1))
    t.delete(Seq("A").toDF("name"), Seq("name"))
    // pending equality delete: flat adoption impossible — full rewrite,
    // deletes folded in, update applied
    t.updateWhereEq("name", "C", Map("v" -> (col("v") + 100)))
    assert(t.commitLog.state()._2.isEmpty)
    assert(t.read().as[(String, Int)].collect().toMap == Map("B" -> 2, "C" -> 103))
    // schema-changing assignment (int -> long) also falls back; the new
    // schema is recorded and every file carries it
    t.updateWhereEq("name", "B", Map("v" -> (col("v").cast(LongType) + 1L)))
    assert(t.read().as[(String, Long)].collect().toMap == Map("B" -> 3L, "C" -> 103L))
  }

  test("ANN-index shape: identity partitioning on list id prunes probe reads across build+delta commits") {
    // the t_ann_index physical claim: a probe of one posting list opens
    // only that list's files — per maintenance epoch, not per table size
    val t = freshTable("annprune")
    val spec = PartitionSpec("list_id", Transform.Identity)
    def batch(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong % 4, i.toLong)).toDF("list_id", "vec_id")
    t.appendPartitioned(batch(0, 40), spec)  // index build
    t.appendPartitioned(batch(40, 60), spec) // delta maintenance epoch
    val totalFiles = t.commitLog.state()._1.size
    val opened = t.prunedFileCountEq("list_id", 2L)
    assert(totalFiles >= 8, s"expected >=8 partition files, saw $totalFiles")
    assert(opened < totalFiles, s"probe opened $opened of $totalFiles — no pruning")
    assert(opened <= 2 * (totalFiles / 8 max 1),
      s"one list's files should scale with epochs, saw $opened of $totalFiles")
    val rows = t.readEq("list_id", 2L).select("vec_id").as[Long].collect().sorted.toSeq
    assert(rows == (0L until 60L).filter(_ % 4 == 2))
  }

  test("stats backfill prunes blind files metadata-only, keeps blooms/lineage, falls back over deletes") {
    val t = freshTable("statsbf")
    t.append(items.repartition(1), bloomCols = Seq("name")) // stats-less, bloom'd
    t.append(items.toDF("name", "size", "count")
      .withColumn("count", col("count") + 100).repartition(1)) // stats-less, bare
    assert(t.prunedFileCountEq("count", 115) == 2, "no bounds yet: blind opens both")
    val filesBefore = t.commitLog.state()._1.map(_._1).toSet
    // stable ids compare; _last_seq tracks the adopting commit by design
    // (same as compaction), so it stays out of the comparison
    val rowsBefore = t.readWithLineage().drop("_last_seq")
      .collect().map(_.toString).sorted.toSeq
    t.recomputeStats(Seq("count"))
    // metadata-only: same physical files adopted, one more snapshot
    assert(t.commitLog.state()._1.map(_._1).toSet == filesBefore)
    assert(t.snapshots.map(_.action) == Seq("add", "add", "replace"))
    // fresh bounds prune; the epoch-1 bloom survived the adoption (a
    // missing name prunes the bloom'd file, leaving only the bare one)
    assert(t.prunedFileCountEq("count", 115) == 1)
    assert(t.prunedFileCountEq("name", "zz") == 1)
    // rows and row ids byte-identical; history still travels
    assert(t.readWithLineage().drop("_last_seq")
      .collect().map(_.toString).sorted.toSeq == rowsBefore)
    assert(t.read(asOf = 0).count() == 6)
    // pending deletes: the backfill must fall back to a full compact
    // rather than adopt files it cannot re-scope deletes against
    t.delete(Seq("A").toDF("name"), Seq("name"))
    t.recomputeStats(Seq("count"))
    assert(t.commitLog.state()._2.isEmpty, "fallback folded the deletes")
    assert(t.read().count() == 8) // both epochs' two A-rows deleted from 12
    assert(t.prunedFileCountEq("count", 115) >= 1)
  }

  test("catalog listings surface only real tables; open refuses what drop removed") {
    val wh = Files.createTempDirectory("spec_cat")
    val cat = graft.table.GraftCatalog(spark, wh.toString)
    cat.createTable("ns", "real").append(items)
    // debris: a bare directory without a commit log must never list
    Files.createDirectories(wh.resolve("ns").resolve("debris"))
    assert(cat.listTables("ns") == Seq("real"))
    assert(!cat.tableExists("ns", "debris"))
    assert(cat.openTable("ns", "real").read().count() == 6)
    assert(cat.dropTable("ns", "real"))
    assert(cat.listTables("ns").isEmpty)
    intercept[IllegalArgumentException](cat.openTable("ns", "real"))
    assert(cat.namespaces == Seq("ns"))
    assert(cat.listTables("missing-ns").isEmpty)
  }

  test("log entries are root-relative; a moved table serves full history") {
    val src = Files.createTempDirectory("spec_move_src")
    val t0 = GraftTable.createOrReplace(spark, src.toString)
    t0.append(items)                                          // seq 0
    t0.append(Seq(("F", "tiny", 1)).toDF("name", "size", "count")) // seq 1
    t0.delete(Seq("A").toDF("name"), Seq("name"))             // seq 2: -2 rows
    // positional flavor too: addresses must survive the move
    t0.deleteVectors(t0.readWithPos().filter(col("name") === "B")
      .select("_file", "_pos"))                               // seq 3: -1 row
    t0.tag("premove", 1)
    // no entry may pin the table to its birthplace
    val logTexts = Files.list(src.resolve("_log"))
    try logTexts.forEach { p =>
      if (p.getFileName.toString.endsWith(".json") && Files.size(p) > 0)
        assert(!Files.readString(p).contains(src.toString),
          s"absolute path leaked into ${p.getFileName}")
    } finally logTexts.close()
    // relocate the WHOLE table directory — catalog rename / warehouse move
    val dst = Files.createTempDirectory("spec_move_dst").resolve("moved")
    Files.move(src, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val t = GraftTable.open(spark, dst.toString)
    val names = t.read().select("name").as[String].collect().sorted.toSeq
    assert(names == Seq("C", "D", "E", "F"), s"post-move read: $names")
    assert(t.read(asOf = 0).count() == 6)      // time travel across the move
    assert(t.readTag("premove").count() == 7)  // tags too
    assert(t.readIncremental(0).select("name").as[String].collect().toSeq == Seq("F"))
  }

  test("legacy absolute log entries rebase on read after a move") {
    val src = Files.createTempDirectory("spec_legacy_src")
    val t0 = GraftTable.createOrReplace(spark, src.toString)
    t0.append(items)                                          // seq 0
    t0.append(Seq(("F", "tiny", 1)).toDF("name", "size", "count")) // seq 1
    // rewrite the log the way pre-r6 builds wrote it: absolute paths
    val logDir = src.resolve("_log")
    val entries = Files.list(logDir)
    try entries.forEach { p =>
      if (p.getFileName.toString.endsWith(".json") && Files.size(p) > 0) {
        val legacy = Files.readString(p)
          .replace("\"data/", s"\"$src/data/")
          .replace("\"deletes/", s"\"$src/deletes/")
        Files.writeString(p, legacy)
      }
    } finally entries.close()
    val dst = Files.createTempDirectory("spec_legacy_dst").resolve("moved")
    Files.move(src, dst, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    val t = GraftTable.open(spark, dst.toString)
    assert(t.read().count() == 7, "legacy absolute entries must rebase")
    assert(t.read(asOf = 0).count() == 6)
    // checkpoint() is the PERMANENT migration: it re-renders the rebased
    // entries relative, so the folded log carries no stale absolute path
    t.commitLog.checkpoint()
    val ck = Files.list(dst.resolve("_log").resolve("_ckpt"))
    try ck.forEach { p =>
      if (p.getFileName.toString.endsWith(".json"))
        assert(!Files.readString(p).contains(src.toString) &&
               !Files.readString(p).contains(dst.toString),
          "checkpoint must re-relativize migrated entries")
    } finally ck.close()
    assert(t.read().count() == 7)
    assert(t.read(asOf = 0).count() == 6)
  }

  test("catalog rename keeps history; validation stops traversal names") {
    val wh = Files.createTempDirectory("spec_ren")
    val cat = graft.table.GraftCatalog(spark, wh.toString)
    val t = cat.createTable("ns", "orig")
    t.append(items)  // seq 0
    t.append(items)  // seq 1
    cat.renameTable("ns", "orig", "ns2", "renamed")
    assert(cat.listTables("ns").isEmpty && cat.listTables("ns2") == Seq("renamed"))
    val r = cat.openTable("ns2", "renamed")
    assert(r.read().count() == 12 && r.read(asOf = 0).count() == 6)
    // rename onto an existing table must refuse
    cat.createTable("ns2", "occupied").append(items)
    intercept[IllegalArgumentException](
      cat.renameTable("ns2", "renamed", "occupied"))
    // traversal names can never resolve outside the warehouse
    intercept[IllegalArgumentException](cat.dropTable("..", "x"))
    intercept[IllegalArgumentException](cat.createTable("ns", ".."))
    intercept[IllegalArgumentException](cat.dropTable("ns", "a/b"))
    intercept[IllegalArgumentException](cat.createNamespace("a\\b"))
    // dropping non-table debris reports false and leaves the files alone
    val debris = wh.resolve("ns2").resolve("junk")
    Files.createDirectories(debris)
    Files.writeString(debris.resolve("keep.txt"), "not a table")
    assert(!cat.dropTable("ns2", "junk"))
    assert(Files.exists(debris.resolve("keep.txt")))
  }

  test("commit CAS holds across PROCESSES: a second JVM racing commits never loses one") {
    // the reference declares an independent-process conflict bin
    // (Cargo.toml:53-55); this is that workload. In-JVM threads already
    // race in the CAS test above — here the other side is a separate JVM
    // (ConflictRacer) on the same table directory, so the only mediator
    // is the kernel's O_EXCL create, exactly the cross-process guarantee
    // a multi-writer deployment leans on.
    val dir = Files.createTempDirectory("spec_xproc")
    val log = CommitLog(dir.toString)
    val n = 40
    // classpath of the compiled classes + scala-library (from the spark
    // jars dir) — resolved from THIS class's code source, so the test
    // never hardcodes a build layout
    val classesDir = classOf[graft.table.CommitLog]
      .getProtectionDomain.getCodeSource.getLocation.toURI
    val sparkJars = java.nio.file.Paths.get(
      classOf[org.apache.spark.sql.SparkSession]
        .getProtectionDomain.getCodeSource.getLocation.toURI).getParent
    val cp = s"${java.nio.file.Paths.get(classesDir)}:$sparkJars/*"
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val proc = new ProcessBuilder(
      javaBin, "-cp", cp, "graft.table.ConflictRacer",
      dir.toString, "add", n.toString, "ext")
      .redirectErrorStream(true).start()
    // race from THIS process concurrently
    (0 until n).foreach(i => log.commit("add", dataFiles = Seq(s"loc-$i")))
    val out = new String(proc.getInputStream.readAllBytes())
    assert(proc.waitFor() == 0, s"racer JVM failed:\n$out")
    val entries = log.entries()
    // every commit from both processes landed exactly once, seqs dense
    assert(entries.length == 2 * n, s"lost commits: ${entries.length}")
    assert(entries.map(_.seq) == (0L until 2L * n), "seqs must be dense and unique")
    val files = entries.flatMap(_.dataFiles).map(_.split('/').last)
    assert(files.toSet.size == 2 * n, "duplicate or lost data files")
    assert(files.count(_.startsWith("ext-")) == n)
    assert(files.count(_.startsWith("loc-")) == n)
  }

  test("optimistic rewrites hold across PROCESSES: stale replaces never lose an append") {
    // r7's compaction-lost-update fix, proven between JVMs like the CAS:
    // a second process runs metadata-only replaces (ConflictRacer mode
    // `rewrite` — read live state, commit a replace adopting it, carrying
    // expectedCommittedSeqs) while THIS process appends. The only
    // mediators are the kernel flock (MaintLock) and the committed-set
    // validation; if either failed cross-process, a replace built from a
    // stale read would silently drop concurrently appended files.
    val dir = Files.createTempDirectory("spec_xproc_rw")
    val log = CommitLog(dir.toString)
    log.commit("add", dataFiles = Seq("seed-0"))
    val classesDir = classOf[graft.table.CommitLog]
      .getProtectionDomain.getCodeSource.getLocation.toURI
    val sparkJars = java.nio.file.Paths.get(
      classOf[org.apache.spark.sql.SparkSession]
        .getProtectionDomain.getCodeSource.getLocation.toURI).getParent
    val cp = s"${java.nio.file.Paths.get(classesDir)}:$sparkJars/*"
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val proc = new ProcessBuilder(
      javaBin, "-cp", cp, "graft.table.ConflictRacer",
      dir.toString, "rewrite", "12", "unused")
      .redirectErrorStream(true).start()
    val n = 40
    (0 until n).foreach(i => log.commit("add", dataFiles = Seq(s"loc-$i")))
    val out = new String(proc.getInputStream.readAllBytes())
    assert(proc.waitFor() == 0, s"racer JVM failed:\n$out")
    // EVERY append survives in final table state: either above the last
    // replace, or adopted by the (validated, rebuilt-on-conflict) chain
    val names = CommitLog.stateFrom(log.entries())._1
      .map(_._1.split('/').last).toSet
    (0 until n).foreach(i => assert(names.contains(s"loc-$i"),
      s"append loc-$i lost to a stale cross-process rewrite"))
    assert(names.contains("seed-0"))
  }

  test("deleteWhereRange drops aligned files metadata-only, rewrites straddlers, keeps NULL rows") {
    val t = freshTable("dropwhere")
    val spec = PartitionSpec("count", Transform.Truncate(10))
    t.appendPartitioned(items, spec, statsCols = Seq("count"))
    // files: [0,9]→{2,7}, [10,19]→{15,10}, [20,29]→{20,20}
    val filesBefore = t.snapshots.flatMap(_.dataFiles).toSet
    val r = t.deleteWhereRange("count", 10, 19, statsCols = Seq("count"))
    assert(r.dropped == 1 && r.kept == 2 && r.rewritten == 0,
      s"aligned delete must be metadata-only: $r")
    // the adopting replace reuses the SAME physical files (nothing read or written)
    val liveAfter = t.snapshots.last.dataFiles.toSet
    assert(liveAfter.subsetOf(filesBefore), "metadata-only delete must not write files")
    assert(t.read().select("count").as[Int].collect().sorted.sameElements(Array(2, 7, 20, 20)))
    // straddling range: [0,9] file has bounds (2,7); [5,25] cuts through it
    val r2 = t.deleteWhereRange("count", 5, 25, statsCols = Seq("count"))
    assert(r2.dropped == 1 && r2.kept == 0 && r2.rewritten >= 1, s"$r2")
    assert(t.read().select("count").as[Int].collect().sorted.sameElements(Array(2)))
    // pre-delete history stays travelable across both replaces
    assert(t.read(asOf = 0).count() == 6)
  }

  test("deleteWhereRange retains predicate-NULL rows and no-ops on a provably absent range") {
    val t = freshTable("dropnull")
    // ONE shard file: a parallel write would isolate the NULL row into a
    // file with no recorded count bounds, which (correctly) cannot prove
    // range absence and would take the rewrite path instead of no-op'ing
    t.append(Seq(("A", Some(2)), ("B", None), ("C", Some(30))).toDF("name", "count")
      .coalesce(1), statsCols = Seq("count"))
    val head = t.headSeq
    // range matches nothing recorded: short-circuit, no new snapshot
    val r0 = t.deleteWhereRange("count", 100, 200, statsCols = Seq("count"))
    assert(r0.dropped == 0 && r0.rewritten == 0 && t.headSeq == head,
      "absent range must not commit")
    // the file's bounds (2,30) straddle [1,5]: rewrite filters the 2 but
    // MUST keep the NULL row (SQL DELETE: predicate-NULL rows survive)
    t.deleteWhereRange("count", 1, 5, statsCols = Seq("count"))
    val left = t.read().select("name").as[String].collect().sorted
    assert(left.sameElements(Array("B", "C")), left.mkString(","))
  }

  test("compactPartitioned preserves partition pruning across the rewrite") {
    val t = freshTable("compactpart")
    val spec = PartitionSpec("count", Transform.Truncate(10))
    t.appendPartitioned(items, spec, statsCols = Seq("count"))
    t.appendPartitioned(items.withColumn("count", col("count") + 100),
      spec, statsCols = Seq("count"))
    t.delete(Seq("B").toDF("name"), Seq("name"))
    val before = t.read().select("name", "count").as[(String, Int)].collect().sorted
    val preFiles = t.prunedFileCountEq("count", 15) // wait — B(15) deleted; use 10
    t.compactPartitioned(spec, statsCols = Seq("count"))
    val after = t.read().select("name", "count").as[(String, Int)].collect().sorted
    assert(after.sameElements(before), "content must survive the rewrite")
    // one file per partition value, point probes open exactly one
    assert(t.prunedFileCountEq("count", 10) == 1)
    assert(t.prunedFileCountEq("count", 110) == 1)
    // the MoR delete folded in: no delete files remain
    assert(t.snapshots.last.action == "replace")
    assert(t.snapshots.last.deleteFiles.isEmpty)
    assert(preFiles >= 1)
  }

  test("concurrent transactions never expose cross-table divergence to a racing reader") {
    val wh = Files.createTempDirectory("spec_txnrace")
    val cat = GraftCatalog(spark, wh.toString)
    cat.createTable("lake", "left")
    cat.createTable("lake", "right")
    val one = Seq(("R", "row", 1)).toDF("name", "size", "count").coalesce(1)
    @volatile var diverged = false
    @volatile var writing = true
    val reader = new Thread(() => {
      // the atomicity invariant: BOTH tables gain each transaction's row
      // together, so a reader that counts left-then-right may see right
      // AHEAD of left (published between the two counts) but never left
      // ahead of right by more than the in-flight window — and after
      // quiescence the counts are equal. Divergence beyond the number of
      // writer iterations would mean a torn publish.
      while (writing) {
        val l = cat.openTable("lake", "left").read().count()
        val r = cat.openTable("lake", "right").read().count()
        if (l > r) diverged = true // left published without right: torn
      }
    })
    reader.start()
    (1 to 5).foreach { _ =>
      cat.transact { txn =>
        // right staged FIRST, so a torn (non-atomic) publish would let
        // the reader catch left > right between partial commits
        txn.append("lake", "right", one)
        txn.append("lake", "left", one)
      }
    }
    writing = false
    reader.join(30000)
    assert(!diverged, "a reader observed a torn multi-table publish")
    assert(cat.openTable("lake", "left").read().count() == 5)
    assert(cat.openTable("lake", "right").read().count() == 5)
  }

  test("marker vacuum removes only unreferenced old markers; checkpoint releases references") {
    val wh = Files.createTempDirectory("spec_txnvac")
    val cat = GraftCatalog(spark, wh.toString)
    cat.createTable("lake", "x")
    val t = cat.openTable("lake", "x")
    cat.transact(_.append("lake", "x", items))
    import scala.jdk.CollectionConverters._
    val markers = Files.list(wh.resolve("_txns"))
    val markerCount = try markers.iterator().asScala.size finally markers.close()
    assert(markerCount == 1)
    // referenced by a committed un-checkpointed entry: NOT reclaimable,
    // even at horizon 0 — deleting it would flip the commit to pending
    assert(cat.vacuumTxnMarkers(olderThanMs = 0) == 0)
    assert(t.read().count() == 6)
    // the checkpoint strips proven-committed marker references
    t.checkpointMetadata()
    assert(cat.vacuumTxnMarkers(olderThanMs = 0) == 1)
    assert(t.read().count() == 6, "reads survive marker removal after checkpoint")
  }

  test("version-as-of clone ends at the requested snapshot and diverges independently") {
    val t = freshTable("cloneasof")
    t.append(items)                                                  // seq 0: 6 rows
    t.append(Seq(("X", "post", 9)).toDF("name", "size", "count"))    // seq 1: 7 rows
    val c = t.cloneTo(Files.createTempDirectory("spec_cloneasof_dst").toString, asOf = 0)
    assert(c.read().count() == 6, "clone head must be the source's seq-0 snapshot")
    assert(c.headSeq == 0)
    c.append(Seq(("Y", "clone", 1)).toDF("name", "size", "count"))
    assert(c.read().count() == 7 && t.read().count() == 7)
    assert(!t.read().select("name").as[String].collect().contains("Y"))
    // an uncommitted seq is refused
    intercept[IllegalArgumentException] {
      t.cloneTo(Files.createTempDirectory("spec_cloneasof_bad").toString, asOf = 99)
    }
  }

  test("rebaseBranch replays staged appends in order onto a diverged main, all-or-nothing") {
    val t = freshTable("rebase")
    t.append(items)
    val b = t.createBranch("work")
    b.append(Seq(("R1", "w", 1)).toDF("name", "size", "count"))
    b.append(Seq(("R2", "w", 2)).toDF("name", "size", "count"))
    t.append(Seq(("M", "m", 0)).toDF("name", "size", "count")) // diverge
    val seqs = t.rebaseBranch("work")
    assert(seqs.size == 2 && seqs == seqs.sorted)
    val names = t.read().select("name").as[String].collect().sorted
    assert(names.count(_ == "R1") == 1 && names.count(_ == "R2") == 1)
    // staged order preserved: R1's commit precedes R2's
    val bySeq = t.snapshots.filter(_.seq >= seqs.head)
    assert(bySeq.head.seq == seqs.head)
    // re-rebasing the same branch is refused (double-pick guard)
    intercept[IllegalArgumentException] { t.rebaseBranch("work") }
    // row ids stay unique after re-assignment from main's counter
    val ids = t.readWithLineage().select("_row_id").as[Long].collect()
    assert(ids.distinct.length == ids.length)
    // all-or-nothing: a branch with ANY unreplayable commit adds nothing
    val d = t.createBranch("dirty")
    d.append(Seq(("X", "d", 7)).toDF("name", "size", "count"))
    d.delete(Seq("X").toDF("name"), Seq("name"))
    val head = t.headSeq
    intercept[IllegalArgumentException] { t.rebaseBranch("dirty") }
    assert(t.headSeq == head, "refused rebase must commit nothing")
  }

  test("check constraints gate every append path atomically; null predicates pass") {
    val t = freshTable("checks")
    t.setProperties(Map("check.pos" -> "count > 0", "check.named" -> "name IS NOT NULL"))
    t.append(items)
    assert(t.read().count() == 6)
    val snapshotsBefore = t.snapshots.size
    val bad = Seq(("X", "small", -5)).toDF("name", "size", "count")
    intercept[IllegalArgumentException] { t.append(bad) }
    intercept[IllegalArgumentException] {
      t.appendPartitioned(bad, PartitionSpec("count", Transform.Truncate(10)))
    }
    intercept[IllegalArgumentException] {
      t.appendInTxn(bad, t.root.resolve("_never.commit"))
    }
    // rejection is pre-write: no snapshot, no rows, no data files
    assert(t.snapshots.size == snapshotsBefore)
    assert(t.read().count() == 6)
    // SQL CHECK: NULL predicate result passes the row
    t.append(Seq(("Y", "small", Option.empty[Int])).toDF("name", "size", "count"))
    assert(t.read().count() == 7)
  }

  test("table properties fold in seq order, unset by empty value, travel with asOf") {
    val t = freshTable("props")
    t.append(items)
    val s1 = t.setProperties(Map("owner" -> "ingest", "mask.name" -> "hash"))
    val s2 = t.setProperties(Map("owner" -> "curation")) // overwrite
    t.setProperties(Map("mask.name" -> ""))              // unset
    assert(t.properties() == Map("owner" -> "curation"))
    assert(t.properties(asOf = s1) ==
      Map("owner" -> "ingest", "mask.name" -> "hash"))
    assert(t.properties(asOf = s2) ==
      Map("owner" -> "curation", "mask.name" -> "hash"))
    // props entries carry no files: table state is untouched
    assert(t.read().count() == 6)
  }

  test("readGoverned enforces masks and row filter; unknown policies fail loudly") {
    val t = freshTable("governed")
    t.append(items)
    t.setProperties(Map("mask.count" -> "null", "filter.row" -> "name <> 'A'"))
    val rows = t.readGoverned().select("name", "count").collect()
    assert(rows.forall(_.isNullAt(1)), "count must be masked to null")
    assert(!rows.map(_.getString(0)).contains("A"), "row filter must apply")
    assert(rows.length == 4)
    // a redact mask stringifies; a hash mask is a stable pseudonym
    t.setProperties(Map("mask.count" -> "", "mask.name" -> "hash"))
    val hashed = t.readGoverned().select("name").collect().map(_.getString(0))
    assert(hashed.forall(_.matches("[0-9a-f]{64}")))
    // same input hashes identically — grouping/joining on pseudonyms
    // works (both A rows are filtered, leaving B..E's 4 distinct names)
    assert(hashed.length == 4 && hashed.distinct.length == 4)
    t.setProperties(Map("mask.typo" -> "hash"))
    intercept[IllegalArgumentException] {
      t.readGoverned().collect()
    }
    t.setProperties(Map("mask.typo" -> "", "mask.name" -> "bogus"))
    intercept[IllegalArgumentException] {
      t.readGoverned().collect()
    }
  }

  test("governance, checks and idempotence watermarks travel through a clone and diverge") {
    val t = freshTable("govclone_src")
    t.append(items)
    t.setProperties(Map(
      "mask.name" -> "hash", "filter.row" -> "count >= 10",
      "check.pos" -> "count >= 0"))
    t.appendIdempotent(Seq(("F", "small", 9)).toDF("name", "size", "count"),
      appId = "ing", version = 3L)
    val c = t.cloneTo(Files.createTempDirectory("govclone_dst").toString)
    // the full property fold is the clone's too — policies are entries,
    // entries are what a shallow clone replays
    assert(c.properties() == t.properties())
    // governed reads enforce the SAME policies through the clone: every
    // name masked, the row filter keeps B,C,D,E (and drops F's 9)
    val gov = c.readGoverned().select("name", "count").collect()
    assert(gov.forall(_.getString(0).matches("[0-9a-f]{64}")))
    assert(gov.forall(_.getInt(1) >= 10) && gov.length == 4)
    // CHECK constraints bind clone-side appends; a replayed idempotent
    // batch is refused by the inherited watermark (same app, old version)
    intercept[IllegalArgumentException] {
      c.append(Seq(("X", "small", -1)).toDF("name", "size", "count"))
    }
    val head = c.headSeq
    c.appendIdempotent(Seq(("F", "small", 9)).toDF("name", "size", "count"),
      appId = "ing", version = 3L)
    assert(c.headSeq == head, "replay at the inherited watermark must be a no-op")
    // divergence is one-way: the clone relaxes its policies, the source
    // keeps enforcing — two tables, two property folds
    c.setProperties(Map("mask.name" -> "", "filter.row" -> ""))
    assert(c.readGoverned().select("name").collect().exists(!_.getString(0).matches("[0-9a-f]{64}")))
    assert(t.readGoverned().select("name", "count").collect().forall(r =>
      r.getString(0).matches("[0-9a-f]{64}") && r.getInt(1) >= 10))
  }

  test("props commits fast-forward with a branch; cherry-pick and rebase refuse them") {
    val t = freshTable("propsbranch")
    t.append(items)
    // WAP-style: governance assigned ON THE AUDIT BRANCH publishes with
    // it — main enforces the policy after the fast-forward
    val b = t.createBranch("audit")
    b.setProperties(Map("mask.name" -> "redact"))
    b.append(Seq(("G", "small", 7)).toDF("name", "size", "count"))
    t.publishBranch("audit")
    assert(t.properties() == Map("mask.name" -> "redact"))
    assert(t.readGoverned().select("name").collect().forall(_.getString(0) == "***"))
    assert(t.read().count() == 7)
    // out-of-order replay is refused: a branch staged before main moved
    // cannot cherry-pick or rebase a property-carrying commit (the fold
    // would regress main's later writes — see requirePickable)
    val b2 = t.createBranch("stale")
    val propsSeq = b2.setProperties(Map("mask.name" -> "hash"))
    b2.appendIdempotent(Seq(("H", "small", 8)).toDF("name", "size", "count"),
      appId = "ing2", version = 1L)
    t.append(Seq(("I", "small", 9)).toDF("name", "size", "count")) // main diverges
    val e1 = intercept[IllegalArgumentException] { t.cherryPick("stale", propsSeq) }
    assert(e1.getMessage.contains("pure appends only"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] { t.cherryPick("stale", propsSeq + 1) }
    assert(e2.getMessage.contains("property-carrying"), e2.getMessage)
    // all-or-nothing: the rebase refuses the WHOLE branch, main untouched
    val headBefore = t.headSeq
    intercept[IllegalArgumentException] { t.rebaseBranch("stale") }
    assert(t.headSeq == headBefore)
    assert(t.properties() == Map("mask.name" -> "redact"))
  }

  test("multi-table transact publishes atomically; readers inside the body see nothing") {
    val wh = Files.createTempDirectory("spec_txn")
    val cat = GraftCatalog(spark, wh.toString)
    cat.createTable("lake", "x")
    cat.createTable("lake", "y")
    cat.transact { txn =>
      txn.append("lake", "x", items)
      txn.append("lake", "y", items)
      // both staged, nothing published: a concurrent reader sees EMPTY
      assert(cat.openTable("lake", "x").read().count() == 0)
      assert(cat.openTable("lake", "y").read().count() == 0)
    }
    assert(cat.openTable("lake", "x").read().count() == 6)
    assert(cat.openTable("lake", "y").read().count() == 6)
    // publishing is retroactive at the staged seq: time travel sees it too
    assert(cat.openTable("lake", "x").read(asOf = 0).count() == 6)
  }

  test("aborted transaction stays invisible; staged files vacuum only past the horizon") {
    val wh = Files.createTempDirectory("spec_txnabort")
    val cat = GraftCatalog(spark, wh.toString)
    cat.createTable("lake", "x")
    val t = cat.openTable("lake", "x")
    t.append(items)
    intercept[IllegalStateException] {
      cat.transact { txn =>
        txn.append("lake", "x", items)
        throw new IllegalStateException("boom")
      }
    }
    assert(t.read().count() == 6, "aborted staging must not surface")
    // the staged data files are protected from an immediate orphan sweep
    // (the txn could still be in flight from the sweeper's point of view)
    assert(t.removeOrphanFiles(olderThanMs = 0) == 0,
      "pending staged files must survive the sweep inside the horizon")
    assert(t.read().count() == 6)
  }

  test("concurrently staged transactions never mint overlapping row ids") {
    val wh = Files.createTempDirectory("spec_txnids")
    val cat = GraftCatalog(spark, wh.toString)
    cat.createTable("lake", "x")
    val t = cat.openTable("lake", "x")
    val m1 = wh.resolve("_txns").resolve("m1.commit")
    Files.createDirectories(m1.getParent)
    t.appendInTxn(items, m1) // staged, unpublished
    t.append(items)          // a normal append races the pending txn
    // publish the transaction AFTER the normal append landed
    Files.write(m1, "ok".getBytes)
    val ids = t.readWithLineage().select("_row_id").as[Long].collect()
    assert(ids.length == 12)
    assert(ids.distinct.length == 12, "row-id ranges overlapped")
  }

  test("transact aborts instead of publishing under a replace that would swallow it") {
    val wh = Files.createTempDirectory("spec_txnconflict")
    val cat = GraftCatalog(spark, wh.toString)
    cat.createTable("lake", "x")
    val t = cat.openTable("lake", "x")
    t.append(items)
    val ex = intercept[IllegalStateException] {
      cat.transact { txn =>
        txn.append("lake", "x", items)
        t.compact() // a maintenance rewrite lands after the staged seq
      }
    }
    assert(ex.getMessage.contains("aborted"))
    assert(t.read().count() == 6, "conflicted staging must not surface")
  }

  test("deleteWhereRange falls back to copy-on-write over pending MoR deletes") {
    val t = freshTable("dropfallback")
    t.append(items, statsCols = Seq("count"))
    t.delete(Seq("A").toDF("name"), Seq("name")) // pending equality delete
    val r = t.deleteWhereRange("count", 10, 19, statsCols = Seq("count"))
    assert(r.kept == 0, "pending deletes force the full rewrite path")
    val counts = t.read().select("count").as[Int].collect().sorted
    assert(counts.sameElements(Array(20, 20)), counts.mkString(","))
    // the rewrite folded the MoR delete in: no delete files remain live
    assert(t.snapshots.last.action == "replace")
  }

  test("branch and clone logs survive checkpoint + marker vacuum (seed clears txnMarker)") {
    // ADVICE r6 (high): seeded entries used to keep their txnMarker, but
    // vacuumTxnMarkers only scans CATALOG table logs and checkpoint()
    // strips main's references — so after checkpoint + vacuum, a branch
    // or out-of-catalog clone still referencing the marker would see its
    // committed entries silently flip back to pending and lose the rows.
    val wh = Files.createTempDirectory("spec_branchvac")
    val cat = GraftCatalog(spark, wh.toString)
    cat.createTable("lake", "x")
    val t = cat.openTable("lake", "x")
    cat.transact(_.append("lake", "x", items))
    val b = t.createBranch("audit")
    val c = t.cloneTo(Files.createTempDirectory("spec_branchvac_clone").toString)
    t.checkpointMetadata() // strips main's proven-committed marker refs
    assert(cat.vacuumTxnMarkers(olderThanMs = 0) == 1)
    assert(t.read().count() == 6)
    assert(b.read().count() == 6, "branch read must survive marker vacuum")
    assert(c.read().count() == 6, "clone read must survive marker vacuum")
  }

  test("transact aborts when an equality delete lands between stage and publish") {
    // ADVICE r6 (medium): staged entries keep their stage-time seq, so an
    // equality delete committed after staging scopes ABOVE the staged
    // append and would retroactively erase the transaction's rows when
    // the marker lands (Iceberg re-sequences at commit; this model
    // refuses instead). A staged DELETE is not torn by a later delete —
    // each delete scopes independently — only by a replace.
    val wh = Files.createTempDirectory("spec_txndel")
    val cat = GraftCatalog(spark, wh.toString)
    cat.createTable("lake", "x")
    val t = cat.openTable("lake", "x")
    t.append(items)
    val ex = intercept[IllegalStateException] {
      cat.transact { txn =>
        txn.append("lake", "x", Seq(("Z", "zzz", 9)).toDF("name", "size", "count"))
        t.delete(Seq("Z").toDF("name"), Seq("name"))
      }
    }
    assert(ex.getMessage.contains("retroactively"))
    assert(!t.read().select("name").as[String].collect().contains("Z"))
    // mixed staged kinds: the staged DELETE tolerates the direct delete
    cat.transact { txn =>
      txn.delete("lake", "x", Seq("A").toDF("name"), Seq("name"))
      t.delete(Seq("B").toDF("name"), Seq("name"))
    }
    assert(t.read().select("name").as[String].collect().toSet == Set("C", "D", "E"))
  }

  test("transact racing live compaction never loses a committed transaction's rows") {
    // VERDICT r6 #4: pre-lock, a replace landing in the validate→publish
    // window could swallow staged entries AFTER validation passed — the
    // transaction reported success, the rows were gone. transact now
    // validates and publishes under the staged tables' maintenance locks
    // (the same locks every rewriting commit takes), so a transaction
    // that returns MUST have its rows visible — raced here against a
    // continuous compactor.
    val wh = Files.createTempDirectory("spec_txn_compact_race")
    val cat = GraftCatalog(spark, wh.toString)
    cat.createTable("lake", "x")
    val t = cat.openTable("lake", "x")
    t.append(items)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val compactor = new Thread(() => {
      while (!stop.get) {
        // a conflict-exhausted compact under sustained publishing is the
        // correct surrender — keep racing
        try t.compact()
        catch { case _: graft.table.CommitConflictException => () }
      }
    })
    compactor.start()
    var committed = List.empty[Int]
    try {
      (1 to 8).foreach { i =>
        try {
          cat.transact(_.append("lake", "x",
            Seq(("T", s"txn$i", 100 + i)).toDF("name", "size", "count")))
          committed ::= i
        } catch { case _: IllegalStateException => () } // validated abort: fine
      }
    } finally { stop.set(true); compactor.join() }
    val visible = t.read().filter(col("name") === "T")
      .select("count").as[Int].collect().toSet
    assert(committed.map(100 + _).toSet.subsetOf(visible),
      s"committed=${committed.sorted} visible=${visible.toSeq.sorted}")
    assert(committed.nonEmpty || t.read().count() >= 6)
  }

  test("check constraints gate mixed/upsert/merge/update paths too (ADVICE r6)") {
    val t = freshTable("checks2")
    t.append(items)
    t.setProperties(Map("check.pos" -> "count > 0"))
    val snapshotsBefore = t.snapshots.size
    val bad = Seq(("X", "small", -5)).toDF("name", "size", "count")
    intercept[IllegalArgumentException] {
      t.appendAndDelete(bad, Seq("A").toDF("name"), Seq("name"))
    }
    intercept[IllegalArgumentException] { t.upsert(bad, Seq("name")) }
    intercept[IllegalArgumentException] { t.merge(bad, Seq("name")) }
    intercept[IllegalArgumentException] {
      t.updateWhereEq("name", "A", Map("count" -> (col("count") - 100)))
    }
    // every rejection is pre-commit: no snapshot, no surviving violation
    assert(t.snapshots.size == snapshotsBefore)
    assert(t.read().count() == 6)
    assert(t.read().filter(col("count") <= 0).count() == 0)
    // conforming flavors of the same paths still land
    t.upsert(Seq(("A", "small", 3)).toDF("name", "size", "count"), Seq("name"))
    t.updateWhereEq("name", "B", Map("count" -> (col("count") + 1)))
    assert(t.read().filter(col("count") <= 0).count() == 0)
    assert(t.read().filter(col("name") === "B").select("count").as[Int].head() == 16)
  }

  test("metadata-only range delete preserves the partition spec for bucket pruning") {
    // ADVICE r6 (low): the adopting replace used to commit partSpec = "",
    // silently dropping spec-scoped pruning (bucket transforms only
    // prune via requireSpec) for every adopted file.
    val t = freshTable("droppspec")
    val specs = Seq(PartitionSpec("count", Transform.Truncate(10)),
      PartitionSpec("name", Transform.Bucket(8)))
    t.appendPartitioned(items, specs, Seq("count"), Nil)
    assert(t.prunedFileCountEq("name", "C") == 1)
    // drop the [20,29] truncate partition: aligned bounds, no straddlers
    val r = t.deleteWhereRange("count", 20, 29, statsCols = Seq("count"))
    assert(r.rewritten == 0 && r.dropped >= 1 && r.kept >= 1)
    assert(t.snapshots.last.partSpec == t.snapshots.head.partSpec
      && t.snapshots.last.partSpec.nonEmpty,
      "adopting metadata delete must carry the layout's spec forward")
    // bucket point probe still opens exactly one file after the delete
    assert(t.prunedFileCountEq("name", "C") == 1)
    assert(t.readEq("name", "C").count() == 1)
    assert(t.read().filter(col("count") >= 20).count() == 0)
  }

  test("expireSnapshots honors the orphan age horizon for in-flight writer files") {
    // r7: the inline sweep used to reclaim unconditionally — a writer
    // that staged parquet but had not yet committed would lose its files
    // to a concurrent expiration. With a horizon the young file survives;
    // the zero-horizon default keeps the GDPR immediate-destruction
    // contract intact.
    val t = freshTable("expirehorizon")
    t.append(items)
    t.append(items)
    val staged = t.root.resolve("data").resolve("inflight").resolve("part-0.parquet")
    Files.createDirectories(staged.getParent)
    Files.write(staged, Array[Byte](1, 2, 3))
    t.expireSnapshots(orphanOlderThanMs = 3600000L)
    assert(Files.exists(staged), "young in-flight files must survive a horizon sweep")
    t.expireSnapshots()
    assert(!Files.exists(staged), "zero horizon reclaims immediately (GDPR contract)")
    assert(t.read().count() == 12)
  }

  test("appendIdempotent stamps its watermark atomically with the data") {
    val t = freshTable("idem")
    t.appendIdempotent(items, "stream-a", 7)
    // the watermark is a property of the SAME entry that carries the data
    val e = t.snapshots.last
    assert(e.dataFiles.nonEmpty && e.props == Map("txn.stream-a" -> "7"))
    assert(t.properties() == Map("txn.stream-a" -> "7"))
    // replay and regression are no-ops returning the current head
    assert(t.appendIdempotent(items, "stream-a", 7) == e.seq)
    assert(t.appendIdempotent(items, "stream-a", 3) == e.seq)
    assert(t.read().count() == 6)
    // time travel BEFORE the stamped commit sees no watermark
    assert(t.properties(asOf = e.seq - 1).isEmpty || e.seq == 0)
    // constraints still gate the idempotent path
    t.setProperties(Map("check.pos" -> "count > 0"))
    intercept[IllegalArgumentException] {
      t.appendIdempotent(Seq(("X", "bad", -1)).toDF("name", "size", "count"),
        "stream-a", 8)
    }
    // the failed attempt must not have burned the watermark
    assert(t.properties()("txn.stream-a") == "7")
    t.appendIdempotent(items, "stream-a", 8)
    assert(t.read().count() == 12)
  }

  test("addFiles adopts external parquet in place; compaction re-homes; sweeps never touch external storage") {
    import scala.jdk.CollectionConverters._
    val t = freshTable("addfiles")
    t.append(items, statsCols = Seq("count"))
    // the "legacy lake": parquet written outside the table root
    val ext = Files.createTempDirectory("spec_legacy").resolve("part")
    items.withColumn("count", col("count") + 100)
      .repartition(2).write.parquet(ext.toString)
    val extFiles = {
      val s = Files.walk(ext)
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(_.toString).toList.sorted
      finally s.close()
    }
    val adoptSeq = t.addFiles(extFiles, statsCols = Seq("count"))
    assert(t.read().count() == 12)
    // adopted in place — live file set includes the EXTERNAL paths
    val liveBefore = t.filesMeta.select("path").as[String].collect().toSet
    assert(extFiles.forall(liveBefore), "adoption must not copy or move files")
    // row-id lineage spans native + adopted rows without collision
    val ids = t.readWithLineage().select("_row_id").as[Long].collect()
    assert(ids.distinct.length == 12, "adopted rows must join row-id lineage")
    // schema contract: a mismatched import is rejected, table unchanged
    intercept[IllegalArgumentException] {
      val bad = Files.createTempDirectory("spec_legacy_bad").resolve("part")
      items.withColumn("count", col("count").cast("string"))
        .write.parquet(bad.toString)
      val badFiles = {
        val s = Files.walk(bad)
        try s.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .map(_.toString).toList
        finally s.close()
      }
      t.addFiles(badFiles)
    }
    assert(t.read().count() == 12)
    // compaction re-homes adopted data INTO the table root...
    t.compact(statsCols = Seq("count"))
    val liveAfter = t.filesMeta.select("path").as[String].collect().toSet
    assert(liveAfter.forall(_.startsWith(t.root.toString)),
      "compaction must rewrite adopted files into the table root")
    assert(t.read().count() == 12)
    // ...while time travel to the adoption snapshot still reads the
    // external files, and maintenance sweeps never delete them (they
    // only walk root's data/ and deletes/ dirs — the table does not own
    // external storage, so a sweep reclaiming it would be a data-loss
    // bug for whoever else reads that lake)
    assert(t.read(adoptSeq).count() == 12)
    t.removeOrphanFiles(olderThanMs = 0)
    assert(extFiles.forall(f => Files.exists(java.nio.file.Paths.get(f))),
      "orphan sweep must never delete files outside the table root")
    assert(t.read(adoptSeq).count() == 12)
  }

  test("bloom sidecars serve branch reads and survive a catalog rename") {
    val cat = GraftCatalog(spark, Files.createTempDirectory("spec_bloombr").toString)
    cat.createNamespace("lake")
    val t = cat.createTable("lake", "src")
    def batch(off: Int) = (off until off + 17 by 4)
      .map(i => (s"k$i", "x", i)).toDF("name", "size", "count").repartition(1)
    t.append(batch(0), statsCols = Seq("count"), bloomCols = Seq("count"))
    t.append(batch(2), statsCols = Seq("count"), bloomCols = Seq("count"))
    // both epochs' count bounds ([0,16] and [2,18]) contain 8, so only
    // the bloom can prune the second file on the probe
    assert(t.prunedFileCountEq("count", 8) == 1)
    // a branch's seeded entries reference the owning table's sidecars by
    // `..`-stepping refs — bloom pruning must work THROUGH the branch
    t.createBranch("audit")
    val br = t.branch("audit")
    assert(br.prunedFileCountEq("count", 8) == 1,
      "branch reads lost bloom pruning (sidecar ref did not travel)")
    assert(br.readEq("count", 8).count() == 1)
    // a catalog rename moves table + branch + sidecars together; the
    // relative refs must keep resolving at the new location
    cat.renameTable("lake", "src", "dst")
    val moved = cat.openTable("lake", "dst")
    assert(moved.prunedFileCountEq("count", 8) == 1,
      "rename broke sidecar resolution on the table")
    assert(moved.branch("audit").prunedFileCountEq("count", 8) == 1,
      "rename broke sidecar resolution through the branch")
    assert(moved.readEq("count", 8).count() == 1)
  }

  test("maintainAll applies each table's own declared policy across the warehouse") {
    val cat = GraftCatalog(spark, Files.createTempDirectory("spec_maintall").toString)
    cat.createNamespace("lake")
    val a = cat.createTable("lake", "a") // declares a compaction policy
    a.setProperties(Map("maint.compact.target-bytes" -> (1L << 20).toString))
    (0 until 3).foreach(_ => a.append(items.repartition(1)))
    val b = cat.createTable("lake", "b") // no policy: must be a no-op
    b.append(items.repartition(1))
    val headB = b.headSeq
    val report = cat.maintainAll()
    assert(report(("lake", "a"))("compacted_small") == 3)
    assert(report(("lake", "b")).isEmpty)
    assert(b.headSeq == headB, "a policy-less table must be untouched")
    assert(a.read().count() == 18 && b.read().count() == 6)
  }

  test("maintain() with expire enabled but no horizon never sweeps a fresh staged file") {
    // the cron-beside-live-ingest hazard (r8 advice, high): a writer's
    // staged-but-uncommitted parquet is referenced by nothing, so an
    // expire step running with a ZERO horizon would delete it out from
    // under the in-flight commit. maintain() must default the expire
    // step's age gate to the 3h removeOrphanFiles horizon when neither
    // maint.expire.horizon-ms nor maint.vacuum.horizon-ms is set.
    val t = freshTable("maintexpire")
    t.append(items)
    t.setProperties(Map("maint.expire.enabled" -> "true"))
    // simulate a concurrent writer mid-append: parquet staged under the
    // table root, commit not yet attempted (fresh mtime)
    val staged = t.root.resolve("data").resolve("staged-inflight")
    items.repartition(1).write.parquet(staged.toString)
    val stagedFiles = {
      val s = Files.walk(staged)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
      } finally s.close()
    }
    assert(stagedFiles.nonEmpty)
    // pin the default NUMERICALLY at 3h (VERDICT r9 #4: the behavior test
    // alone would pass with any nonzero horizon): a second orphan
    // back-dated past 3h must fall to the same sweep that spares the
    // fresh one — together they bracket the default at exactly the
    // removeOrphanFiles horizon
    val old = t.root.resolve("data").resolve("staged-old")
    items.repartition(1).write.parquet(old.toString)
    val oldFiles = {
      val s = Files.walk(old)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toList
      } finally s.close()
    }
    oldFiles.foreach(p => Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - (3L * 3600 * 1000 + 60000))))
    val report = t.maintain()
    assert(report.contains("expired_entries"))
    assert(stagedFiles.forall(Files.exists(_)),
      "maintain()'s expire step swept a concurrent writer's staged files")
    assert(oldFiles.forall(p => !Files.exists(p)),
      "an orphan older than the 3h default horizon must be reclaimed")
    // an EXPLICIT zero horizon (ingest paused, provable reclamation)
    // still opts in to the immediate sweep
    t.setProperties(Map("maint.expire.horizon-ms" -> "0"))
    t.maintain()
    assert(stagedFiles.forall(p => !Files.exists(p)),
      "explicit maint.expire.horizon-ms=0 must reclaim immediately")
  }

  test("maintainAll confines any per-table failure and sweeps the rest of the warehouse") {
    val cat = GraftCatalog(spark, Files.createTempDirectory("spec_maintfail").toString)
    cat.createNamespace("lake")
    val bad = cat.createTable("lake", "bad") // malformed policy: NumberFormatException
    bad.setProperties(Map("maint.compact.target-bytes" -> "banana"))
    bad.append(items.repartition(1))
    val good = cat.createTable("lake", "good")
    good.setProperties(Map("maint.compact.target-bytes" -> (1L << 20).toString))
    (0 until 3).foreach(_ => good.append(items.repartition(1)))
    val report = cat.maintainAll() // must not propagate bad's failure
    assert(report(("lake", "bad")) == Map("failed" -> 1L),
      "a malformed policy must be reported, not swallowed or propagated")
    assert(report(("lake", "good"))("compacted_small") == 3,
      "a failing table must not stop the rest of the sweep")
    assert(bad.read().count() == 6 && good.read().count() == 18)
  }

  test("addFiles checks every file's schema, not only the first's") {
    import scala.jdk.CollectionConverters._
    val t = freshTable("addfiles_mixed")
    t.append(items)
    def written(df: DataFrame, tag: String): String = {
      val dir = Files.createTempDirectory(s"spec_mixed_$tag").resolve("part")
      df.coalesce(1).write.parquet(dir.toString)
      val s = Files.walk(dir)
      try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toList.head
      finally s.close()
    }
    val good = written(items, "good")
    val bad = written(items.withColumn("count", col("count").cast("string")), "bad")
    val before = t.headSeq
    val ex = intercept[IllegalArgumentException](t.addFiles(Seq(good, bad)))
    assert(ex.getMessage.contains("schema mismatch") && ex.getMessage.contains(bad))
    assert(t.headSeq == before && t.read().count() == 6)
  }

  test("addFiles rejects files the table already references (re-run import)") {
    import scala.jdk.CollectionConverters._
    val t = freshTable("addfilesdup")
    val ext = Files.createTempDirectory("spec_legacy_dup").resolve("part")
    items.repartition(1).write.parquet(ext.toString)
    val extFiles = {
      val s = Files.walk(ext)
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(_.toString).toList.sorted
      finally s.close()
    }
    t.addFiles(extFiles)
    assert(t.read().count() == 6)
    // a retried migration job re-runs the same import: must fail loudly
    // (Iceberg add_files' check_duplicate_files), never double-register
    val ex = intercept[IllegalArgumentException] { t.addFiles(extFiles) }
    assert(ex.getMessage.contains("already referenced"))
    assert(t.read().count() == 6, "re-run import duplicated rows")
  }

  test("staged-entry props publish atomically with the txn and never leak from an abort") {
    val cat = GraftCatalog(spark, Files.createTempDirectory("spec_txnprops").toString)
    cat.createTable("lake", "t")
    val t = cat.openTable("lake", "t")
    // abort: body throws after staging — the watermark must NOT leak
    // (a leaked stamp would make the replay skip rows that never landed)
    intercept[IllegalStateException] {
      cat.transact { txn =>
        txn.appendIdempotent("lake", "t", items, "ing", 5)
        throw new IllegalStateException("crash before publish")
      }
    }
    assert(t.properties().get("txn.ing").isEmpty,
      "aborted txn leaked its idempotence watermark")
    assert(t.read().count() == 0)
    // publish: rows and watermark become visible in ONE atomic step
    cat.transact(_.appendIdempotent("lake", "t", items, "ing", 5))
    assert(t.properties()("txn.ing") == "5")
    assert(t.read().count() == 6)
  }

  test("properties and idempotence watermarks survive snapshot expiration") {
    val t = freshTable("expireprops")
    t.setProperties(Map("mask.name" -> "redact"))
    t.appendIdempotent(items, "stream-a", 7)
    t.append(items)
    t.expireSnapshots() // drops the entries that carried the assignments
    // governance still enforced, watermark still set (r8 fix: the
    // pre-expiration fold is re-stamped; before it, a replayed batch
    // after expiration would double-append and masking would stop)
    assert(t.properties()("mask.name") == "redact")
    assert(t.properties()("txn.stream-a") == "7")
    val before = t.read().count()
    t.appendIdempotent(items, "stream-a", 7) // replay: must stay a no-op
    assert(t.read().count() == before, "replayed batch double-appended after expiration")
    assert(t.readGoverned().select("name").distinct().collect()
      .map(_.getString(0)).toSet == Set("***"), "masking lost after expiration")
  }

  test("CatalogTxn.appendIdempotent refuses a replayed version instead of staging it") {
    // defense-in-depth (ADVICE r9): the caller's contract is to check
    // the visible watermark BEFORE opening the transaction; a caller
    // that skips the pre-check must get a loud abort, not a silently
    // double-landed batch riding an otherwise-valid txn
    val cat = GraftCatalog(spark, Files.createTempDirectory("spec_idemtxn").toString)
    cat.createTable("lake", "t")
    val t = cat.openTable("lake", "t")
    cat.transact(_.appendIdempotent("lake", "t", items, "ing", 5))
    assert(t.read().count() == 6)
    val ex = intercept[IllegalStateException] {
      cat.transact(_.appendIdempotent("lake", "t", items, "ing", 5))
    }
    assert(ex.getMessage.contains("replayed idempotent batch"))
    assert(t.read().count() == 6, "replayed txn batch double-landed")
    assert(t.properties()("txn.ing") == "5")
    // a FRESH version still lands normally
    cat.transact(_.appendIdempotent("lake", "t", items, "ing", 6))
    assert(t.read().count() == 12 && t.properties()("txn.ing") == "6")
  }

  test("addFiles rejects a symlinked alias of an already-referenced file") {
    // ADVICE r9: a retried import addressing the same parquet through a
    // symlink evaded the normalize-only duplicate check (normalize is
    // lexical — it never resolves links) and double-registered every row
    import scala.jdk.CollectionConverters._
    val t = freshTable("addfileslink")
    val extRoot = Files.createTempDirectory("spec_link_dup")
    val ext = extRoot.resolve("real")
    items.repartition(1).write.parquet(ext.toString)
    val extFiles = {
      val s = Files.walk(ext)
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(_.toString).toList.sorted
      finally s.close()
    }
    t.addFiles(extFiles)
    assert(t.read().count() == 6)
    val alias = extRoot.resolve("alias")
    Files.createSymbolicLink(alias, ext)
    val aliased = extFiles.map(_.replace(ext.toString, alias.toString))
    val ex = intercept[IllegalArgumentException] { t.addFiles(aliased) }
    assert(ex.getMessage.contains("already referenced"))
    assert(t.read().count() == 6, "symlinked re-run import duplicated rows")
  }

  test("a concurrent setProperties during expiration is never lost to the re-stamp") {
    // VERDICT r9 #4: expireSnapshots re-stamps ONLY keys no surviving
    // entry touches — a blanket re-stamp of the pre-expiration fold
    // would clobber a set/unset landing while the expire runs. Race a
    // monotone sequence of assignments against repeated expirations:
    // whatever interleaving the scheduler picks, the final fold must be
    // the LAST value the setter wrote (a regression to any earlier value
    // is the lost update), and the fold must never be observed to move
    // backwards by the setter itself.
    val t = freshTable("expirerace")
    t.append(items)
    t.setProperties(Map("app.v" -> "0"))
    val rounds = 30
    val regressed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val setter = new Thread {
      override def run(): Unit = (1 to rounds).foreach { i =>
        t.setProperties(Map("app.v" -> i.toString))
        val seen = t.properties()("app.v").toInt
        if (seen < i) regressed.set(true)
      }
    }
    val expirer = new Thread {
      override def run(): Unit = (0 until 10).foreach { _ =>
        t.expireSnapshots(orphanOlderThanMs = 3600000L)
        Thread.sleep(5)
      }
    }
    setter.start(); expirer.start(); setter.join(); expirer.join()
    t.expireSnapshots(orphanOlderThanMs = 3600000L) // one quiescent sweep
    assert(!regressed.get(), "a setProperties fold moved backwards mid-race")
    assert(t.properties()("app.v") == rounds.toString,
      s"expiration's re-stamp clobbered the concurrent assignment: " +
        s"${t.properties().get("app.v")} != $rounds")
  }

  test("a stale txn watermark re-stamped above a higher one folds to the max") {
    // unit pin of the monotonic txn.* fold (ADVICE r9): watermarks only
    // advance, so a STALE value written at a higher seq (expiration's
    // re-stamp racing a pending txn's publish) must not regress the fold
    val t = freshTable("wmfold")
    t.appendIdempotent(items, "ing", 7)
    t.setProperties(Map("txn.ing" -> "3")) // the stale re-stamp, simulated
    assert(t.properties()("txn.ing") == "7",
      "a stale watermark at a higher seq regressed the fold")
    val before = t.read().count()
    t.appendIdempotent(items, "ing", 7) // must still read as a replay
    assert(t.read().count() == before, "regressed watermark double-appended")
    // non-watermark keys keep last-write semantics
    t.setProperties(Map("note" -> "a"))
    t.setProperties(Map("note" -> "b"))
    assert(t.properties()("note") == "b")
  }

  test("writes after a widen conform UP: no path ever narrows the head schema") {
    // r10 fuzz finding (surfaced by addFiles' strict schema check once
    // the shrinker stopped masking failures): an int-typed write landing
    // after widenColumn(long) used to stamp its own NARROWER schemaJson
    // as the head schema while reads kept serving long (old files cannot
    // down-cast) — schemaAt() and read().schema contradicted each other
    // and a subsequent read-schema-conformed addFiles import was
    // rejected. Writers must conform to the table schema (widen on
    // write); only widenColumn moves it.
    import scala.jdk.CollectionConverters._
    val t = freshTable("widenwrite")
    t.append(items) // count: int
    t.widenColumn("count", LongType)
    // every row-adding path, with the ORIGINAL int-typed frame:
    t.append(items)
    t.appendPartitioned(items, PartitionSpec("count", Transform.Truncate(25)))
    t.upsert(items, keyCols = Seq("name"))
    t.appendAndDelete(items, Seq("Z").toDF("name"), Seq("name"))
    t.overwritePartitions(items, PartitionSpec("count", Transform.Truncate(25)))
    t.merge(items, Seq("name"))
    t.appendIdempotent(items, "w", 1)
    def countType(tab: GraftTable) =
      tab.read().schema.fields.find(_.name == "count").get.dataType
    assert(t.schemaAt().get.fields.find(_.name == "count").get.dataType == LongType,
      "a write narrowed the head schema back to int")
    assert(countType(t) == LongType)
    // the read-schema-conformed import the fuzz was making when it threw
    val ext = Files.createTempDirectory("spec_widen_ext").resolve("p")
    items.withColumn("count", col("count").cast("long"))
      .coalesce(1).write.parquet(ext.toString)
    val extFiles = {
      val s = Files.walk(ext)
      try s.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(_.toString).toList.sorted
      finally s.close()
    }
    t.addFiles(extFiles) // must not throw "schema mismatch"
    assert(countType(t) == LongType)
  }

  test("reserved underscore names are rejected and never listed as namespaces") {
    val wh = Files.createTempDirectory("spec_reserved")
    val cat = GraftCatalog(spark, wh.toString)
    cat.createTable("lake", "x")
    cat.transact(_.append("lake", "x", items)) // materializes _txns/
    assert(cat.namespaces == Seq("lake"), "warehouse _txns must not list")
    intercept[IllegalArgumentException] { cat.createNamespace("_txns") }
    intercept[IllegalArgumentException] { cat.createTable("lake", "_sneaky") }
  }

  // an IN scan = one pruned MoR plan over the union of per-value file
  // sets: rows must equal the unioned per-value readEq results, and the
  // probe must open only the files the per-value prunes admit.
  test("an IN scan matches unioned readEq rows and prunes to the same files") {
    val t = freshTable("eqin")
    // identity-partitioned on count%3 buckets via three disjoint appends
    // with per-file stats — each value's rows land in separate files
    Seq(2, 10, 20).foreach { v =>
      t.append(Seq(("A", "x", v), ("B", "y", v)).toDF("name", "size", "count")
        .repartition(1), statsCols = Seq("count"))
    }
    t.delete(Seq(("B", "y", 10)).toDF("name", "size", "count"),
      Seq("name", "size", "count")) // MoR delete must apply through the read
    val in2 = t.planScan("count IN (2, 20)")
    val got = in2.read.orderBy("name", "count").collect()
    val want = (t.readEq("count", 2) unionByName t.readEq("count", 20))
      .orderBy("name", "count").collect()
    assert(got.toSeq == want.toSeq)
    assert(got.length == 4)
    // pruning: the two-value probe opens 2 of the 3 data files
    assert(in2.filesOpened == 2,
      "multi-value probe must open only the per-value pruned files")
    // MoR correctness through the merged state: the deleted row is absent
    assert(t.planScan("count IN (10)").read.count() == 1)
  }

  // the r12 branch-seeding semantics, pinned (ADVICE r12): pending txn
  // stages seed with their marker preserved, the branch's first commit
  // claims ABOVE the staged watermark (never re-mints a burned seq), the
  // seeded stage stays pending until the marker lands on main, and
  // publish still fast-forwards after the landing (marker mints no seq).
  test("branch inherits staged txn claims: watermark, pending state, publish") {
    val t = freshTable("branchtxn")
    t.append(Seq(("A", 1)).toDF("name", "count"))                 // main seq 0
    val marker = Files.createTempDirectory("spec_branchtxn_m").resolve("t1.commit")
    val staged = t.appendInTxn(Seq(("T", 7)).toDF("name", "count"), marker) // claims seq 1
    val b = t.createBranch("stage")
    // the branch's first commit must claim a seq above the staged claim
    val bSeq = b.append(Seq(("B", 2)).toDF("name", "count"))
    assert(bSeq > staged, s"branch re-minted a burned seq: $bSeq <= $staged")
    // the seeded stage stays pending on the branch (presumed abort)
    assert(b.read().select("name").as[String].collect().sorted.toSeq == Seq("A", "B"))
    // marker lands on main → the txn commits on main AND through the seed
    Files.writeString(marker, s"x.x@$staged add\n")
    assert(t.read().select("name").as[String].collect().sorted.toSeq == Seq("A", "T"))
    assert(b.read().select("name").as[String].collect().sorted.toSeq == Seq("A", "B", "T"))
    // publish still works: the landing minted no seq, so head == base
    t.publishBranch("stage")
    assert(t.read().select("name").as[String].collect().sorted.toSeq == Seq("A", "B", "T"))
  }

  // vacuumTxnMarkers must see BRANCH-log marker references (ADVICE r12):
  // after main publishes and checkpoints (stripping its proven-committed
  // refs), a pre-publish branch holds the only remaining reference — the
  // sweep deleting that marker would flip the branch's seeded entry back
  // to presumed-abort and branch reads would lose rows main serves.
  test("marker vacuum spares markers referenced only by branch logs") {
    val wh = Files.createTempDirectory("spec_branchvac")
    val cat = GraftCatalog(spark, wh.toString)
    cat.createTable("lake", "t")
    cat.transact { txn =>
      txn.append("lake", "t", items)
      // branch created while the txn is still pending: seeds the staged
      // entry with its marker reference preserved
      cat.openTable("lake", "t").createBranch("wip"): Unit
    } // marker lands here — committed on main and through the seed
    val t = cat.openTable("lake", "t")
    assert(t.branch("wip").read().count() == items.count())
    t.checkpointMetadata() // strips main's proven-committed marker refs
    val swept = cat.vacuumTxnMarkers(olderThanMs = 0)
    assert(swept == 0, s"vacuum deleted $swept marker(s) a branch still references")
    // the branch still serves the txn's rows (not flipped to presumed-abort)
    assert(t.branch("wip").read().count() == items.count())
  }

  /** Spark jobs started while `build` runs. The build runs under a job
    * group the listener keys on; a sentinel job in its own group then
    * flushes the listener bus (events arrive in order), so every job the
    * build started has been counted when the sentinel's start arrives.
    */
  private def jobsDuring[A](build: => A): (A, Int) = {
    val sc = spark.sparkContext
    val tag = s"plan-${java.util.UUID.randomUUID()}"
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(
          Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "plan build")
      val out = try build finally sc.clearJobGroup()
      sc.setJobGroup(s"$tag-sentinel", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!groups.contains(s"$tag-sentinel") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains(s"$tag-sentinel"), "listener never saw the sentinel job")
      (out, groups.toArray.count(_ == tag))
    } finally sc.removeSparkListener(listener)
  }

  test("building a read plan starts no Spark job: every delete flavor, schema change, packed file") {
    val cat = GraftCatalog(spark, Files.createTempDirectory("spec_nojob").toString)
    cat.createNamespace("ns")
    val t = cat.createTable("ns", "t")
    val stats = Seq("count", "name")
    def rows(lo: Int, hi: Int) = (lo until hi)
      .map(i => (f"n$i%02d", if (i % 2 == 0) "even" else "odd", i))
      .toDF("name", "size", "count").repartition(1)
    // three small appends packed into physical-lineage (-2) files
    (0 until 3).foreach(k => t.append(rows(10 * k, 10 * k + 10), statsCols = stats))
    t.compactSmall(targetBytes = 1L << 20, statsCols = stats)
    assert(t.commitLog.entries().last.fileRowIds.contains(-2L))
    t.append(rows(30, 40), statsCols = stats)
    t.addColumn("note", StringType)
    t.append(rows(40, 50).withColumn("note", concat(lit("x"), col("name"))), statsCols = stats)
    t.renameColumn("size", "parity")
    t.append(rows(50, 60).withColumnRenamed("size", "parity").withColumn("note", lit("y")),
      statsCols = stats)
    // equality, positional and deletion-vector deletes, in separate groups
    t.delete(Seq("n03", "n41", "n57").toDF("name"), Seq("name"))
    t.deleteAt(t.readWithPos().filter(col("count").isin(12, 33)).select("_file", "_pos"))
    t.deleteVectors(t.readWithPos().filter(col("count").isin(25, 55)).select("_file", "_pos"))
    val full = t.read()
    assert(full.count() == 60 - 7)
    val probes = Seq(3, 12, 15, 41, 44, 55, 56)
    val cases: Seq[(String, () => DataFrame, DataFrame)] = Seq(
      ("readEq", () => t.readEq("count", 15), full.filter(col("count") === 15)),
      ("readRange", () => t.readRange("count", BigDecimal(8), BigDecimal(45)),
        full.filter(col("count").between(8, 45))),
      ("planScan IN", () => t.planScan(s"count IN (${probes.mkString(", ")})").read,
        full.filter(col("count").isin(probes: _*))),
      ("planScan string range", () => t.planScan("name BETWEEN 'n10' AND 'n52'").read,
        full.filter(col("name").between("n10", "n52"))),
      ("planScan IN + range", () => t.planScan(
          s"count IN (${probes.mkString(", ")}) AND name BETWEEN 'n10' AND 'n52'").read,
        full.filter(col("count").isin(probes: _*) && col("name").between("n10", "n52"))),
      ("GraftSql point SELECT", () => GraftSql.sql(spark, cat, "SELECT * FROM graft.ns.t WHERE count = 44"),
        full.filter(col("count") === 44)))
    def sorted(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    cases.foreach { case (label, build, want) =>
      val (df, jobs) = jobsDuring(build())
      assert(jobs == 0, s"$label: $jobs job(s) started while building the plan")
      val got = sorted(df)
      assert(got.nonEmpty && got == sorted(want), label)
    }
  }

  test("per-file numeric bounds round outward: a point probe keeps the file holding its value") {
    val cat = GraftCatalog(spark, Files.createTempDirectory("spec_outward").toString)
    cat.createNamespace("ns")
    val t = cat.createTable("ns", "t")
    // one file per value; rounded half-up to six decimals, 1.2345675
    // recorded (1.234568, 1.234568) and 2.2345674 (2.234567, 2.234567),
    // each a pair of bounds excluding the file's own value
    val xs = Seq(1.2345675, 2.2345674)
    xs.foreach(x => t.append(Seq(("v", x)).toDF("k", "x").repartition(1), statsCols = Seq("x")))
    assert(t.snapshots.map(_.fileStats.head("x")) ==
      Seq(Recorded("1.234567", "1.234568"), Recorded("2.234567", "2.234568")))
    xs.foreach { x =>
      assert(t.read().filter(col("x") === x).count() == 1)
      assert(t.prunedFileCountEq("x", x) == 1, s"x = $x")
      assert(t.readEq("x", x).count() == 1, s"x = $x")
    }
    assert(GraftSql.sql(spark, cat, "SELECT count(*) FROM graft.ns.t WHERE x = 1.2345675")
      .head().getLong(0) == 1)
  }

  /** one file holding keys [lo, hi), with per-file stats on k */
  private def keyed(t: GraftTable, lo: Long, hi: Long, stats: Boolean = true): Long =
    t.append((lo until hi).map(i => (i, s"p$i")).toDF("k", "payload").repartition(1),
      statsCols = if (stats) Seq("k") else Nil)

  private def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("compactSmall rewrites only the small files and the files a pending delete can touch") {
    val t = freshTable("scoped_small")
    Seq(0L, 1000L, 2000L).foreach(lo => keyed(t, lo, lo + 1000))
    keyed(t, 5000, 5001)
    keyed(t, 5001, 5002)
    val target = 4096L
    val files = t.commitLog.state()._1.map(_._1)
    def size(f: String) = Files.size(java.nio.file.Paths.get(f))
    assert(files.take(3).forall(size(_) >= target) && files.drop(3).forall(size(_) < target))
    val ids = t.readWithLineage().select("k", "_row_id").as[(Long, Long)].collect().toMap
    t.delete(Seq(1500L).toDF("k"), Seq("k"))
    val want = rowsOf(t.read())
    t.compactSmall(targetBytes = target, statsCols = Seq("k"))
    val (after, dels) = t.commitLog.state()
    // the delete is applied and gone; the first and third large files
    // are adopted by path, the second is rewritten without key 1500 and
    // the two small ones are packed into one
    assert(dels.isEmpty)
    assert(after.size == 4)
    assert(after.map(_._1).toSet.intersect(files.toSet) == Set(files(0), files(2)))
    assert(rowsOf(t.read()) == want && want.size == 3001)
    assert(t.readWithLineage().select("k", "_row_id").as[(Long, Long)].collect().toMap ==
      ids - 1500L)
    // the rewritten file kept its key clustering: a probe in its range
    // opens it alone
    assert(t.prunedFileCountEq("k", 1200L) == 1)
    assert(t.readEq("k", 1500L).count() == 0)
    // a pending delete no file can hold gives a metadata-only replace
    t.delete(Seq(9999L).toDF("k"), Seq("k"))
    val live = t.commitLog.state()._1.map(_._1)
    t.compactSmall(targetBytes = target, statsCols = Seq("k"))
    assert(t.snapshots.last.action == "replace")
    assert(t.commitLog.state() == ((live.map(_ -> t.headSeq), Nil)))
    assert(rowsOf(t.read()) == want)
  }

  test("a read applies only the equality deletes its files can hold") {
    val t = freshTable("scoped_read")
    keyed(t, 0, 1000)
    keyed(t, 1000, 2000)
    t.delete(Seq(1500L).toDF("k"), Seq("k"))
    val full = t.read()
    assert(t.planScan("k IS NOT NULL").deleteFiles.nonEmpty)
    val miss = t.planScan("k = 200")
    assert(miss.filesOpened == 1 && miss.deleteFiles.isEmpty)
    assert(rowsOf(miss.read) == rowsOf(full.filter(col("k") === 200L)))
    val hit = t.planScan("k BETWEEN 1400 AND 1600")
    assert(hit.deleteFiles.nonEmpty)
    assert(rowsOf(hit.read) == rowsOf(full.filter(col("k").between(1400L, 1600L))))
    assert(hit.read.count() == 200)
    // a file committed after the delete is out of its reach by seq, even
    // with bounds that hold the deleted key
    val t2 = freshTable("scoped_read_seq")
    keyed(t2, 0, 1000)
    t2.delete(Seq(1500L).toDF("k"), Seq("k"))
    keyed(t2, 1000, 2000)
    val later = t2.planScan("k = 1500")
    assert(later.filesOpened == 1 && later.deleteFiles.isEmpty)
    assert(later.read.count() == 1 && t2.read().count() == 2000)
    // string keys scope by their lexicographic bounds
    val t3 = freshTable("scoped_read_str")
    t3.append((0 until 100).map(i => (f"a$i%03d", i)).toDF("name", "count").repartition(1),
      statsCols = Seq("name"))
    t3.delete(Seq("zzz").toDF("name"), Seq("name"))
    assert(t3.planScan("name = 'a042'").deleteFiles.isEmpty)
    t3.delete(Seq("a042").toDF("name"), Seq("name"))
    val probe = t3.planScan("name = 'a042'")
    assert(probe.deleteFiles.size == 1 && probe.read.count() == 0 && t3.read().count() == 99)
  }

  test("a delete whose reach cannot be bounded still applies") {
    // a null key: the null-safe join deletes null rows, which bounds do
    // not describe (the non-null keys alone would miss the file)
    val t1 = freshTable("scope_null")
    t1.append((Seq[(Option[Long], String)]((None, "n")) ++
      (0L until 10L).map(i => (Some(i), s"p$i"))).toDF("k", "payload").repartition(1),
      statsCols = Seq("k"))
    t1.delete(Seq[Option[Long]](None, Some(5000L)).toDF("k"), Seq("k"))
    assert(t1.planScan("k = 3").deleteFiles.nonEmpty)
    assert(t1.read().count() == 10 && t1.read().filter(col("k").isNull).count() == 0)
    // a rename, then a new column under the old name: the old file's
    // bounds under "k" belong to another field id, so they cannot rule
    // a delete on the new k out
    val t2 = freshTable("scope_readd")
    keyed(t2, 0, 10)
    t2.renameColumn("k", "k_old")
    t2.addColumn("k", LongType)
    t2.append(Seq((3000L, "new", 5000L)).toDF("k_old", "payload", "k"),
      statsCols = Seq("k_old", "k"))
    t2.delete(Seq(5000L).toDF("k"), Seq("k"))
    val old = t2.planScan("k_old = 7")
    assert(old.filesOpened == 1 && old.deleteFiles.nonEmpty)
    assert(old.read.count() == 1 && t2.read().count() == 10)
    // no stats on the key column: nothing bounds the file
    val t3 = freshTable("scope_nostats")
    keyed(t3, 0, 10, stats = false)
    t3.delete(Seq(5000L).toDF("k"), Seq("k"))
    assert(t3.planScan("k = 3").deleteFiles.nonEmpty)
    assert(t3.read().count() == 10)
    // a pending positional delete keeps compactSmall on the full rewrite
    val t4 = freshTable("scope_pos")
    Seq(0L, 1000L).foreach(lo => keyed(t4, lo, lo + 1000))
    keyed(t4, 5000, 5001)
    keyed(t4, 5001, 5002)
    t4.delete(Seq(1500L).toDF("k"), Seq("k"))
    t4.deleteAt(t4.readWithPos().filter(col("k") === 7L).select("_file", "_pos"))
    val before = t4.commitLog.state()._1.map(_._1).toSet
    t4.compactSmall(targetBytes = 4096, statsCols = Seq("k"))
    val (after, dels) = t4.commitLog.state()
    assert(dels.isEmpty && after.map(_._1).toSet.intersect(before).isEmpty)
    assert(t4.read().count() == 2000)
  }

  test("every staging write whose table directory is swapped mid-write commits nothing") {
    val spec = PartitionSpec("count", Transform.Truncate(10))
    val keys = Seq("A").toDF("name")
    val rows = items.withColumn("n", col("count") * 3)
    def addrs(t: GraftTable) = t.readWithPos().filter(col("name") === "A").select("_file", "_pos")
    def marker(t: GraftTable) = t.root.resolveSibling(s"${t.root.getFileName}.commit")
    // (kind, extra setup, the write under test)
    val kinds: Seq[(String, GraftTable => Any, GraftTable => Any)] = Seq(
      ("append", _ => (), _.append(rows)),
      ("appendInTxn", _ => (), t => t.appendInTxn(rows, marker(t))),
      ("appendIdempotent", _ => (), _.appendIdempotent(rows, "app", 1L)),
      ("appendPartitioned", _ => (), _.appendPartitioned(rows, spec)),
      ("appendPartitionedInTxn", _ => (), t => t.appendPartitionedInTxn(rows, spec, marker(t))),
      ("overwritePartitions", _ => (), _.overwritePartitions(rows, spec)),
      ("appendAndDelete", _ => (), _.appendAndDelete(rows, keys, Seq("name"))),
      ("upsert", _ => (), _.upsert(rows, Seq("name"))),
      ("upsertInTxn", _ => (), t => t.upsertInTxn(rows, Seq("name"), marker(t))),
      ("merge", _ => (), _.merge(rows, Seq("name"))),
      ("delete", _ => (), _.delete(keys, Seq("name"))),
      ("deleteInTxn", _ => (), t => t.deleteInTxn(keys, Seq("name"), marker(t))),
      ("deleteAt", _ => (), t => t.deleteAt(addrs(t))),
      ("deleteVectors", _ => (), t => t.deleteVectors(addrs(t))),
      ("rewritePositionDeletes", t => t.deleteAt(addrs(t)), _.rewritePositionDeletes()),
      ("updateWhereEq", _ => (), _.updateWhereEq("name", "A", Map("size" -> lit("x")))),
      ("updateWhereEq fallback", _.delete(Seq("B").toDF("name"), Seq("name")),
        _.updateWhereEq("name", "A", Map("size" -> lit("x")))),
      ("deleteWhereRange", _ => (), _.deleteWhereRange("count", 0, 12)),
      ("deleteWhereRange fallback", _.delete(Seq("B").toDF("name"), Seq("name")),
        _.deleteWhereRange("count", 0, 12)),
      ("compact", _ => (), _.compact()),
      ("compactPartitioned", _ => (), _.compactPartitioned(spec)),
      ("compactSmall", _ => (), _.compactSmall(1L << 20)),
      ("compactSorted", _ => (), _.compactSorted("count", 2)),
      ("compactZOrder", _ => (), _.compactZOrder(Seq("count", "n"), 4)),
      ("rollbackTo", _.delete(Seq("B").toDF("name"), Seq("name")), t => t.rollbackTo(t.headSeq)))
    val key = "spark.sql.sources.commitProtocolClass"
    val before = spark.conf.get(key)
    spark.conf.set(key, classOf[SwapRootCommitProtocol].getName)
    val failed = try kinds.flatMap { case (kind, setup, write) =>
      val t = freshTable("rootswap")
      (0 until 2).foreach(_ => t.append(rows.repartition(1), statsCols = Seq("count")))
      setup(t)
      val head = t.headSeq
      val aside = t.root.resolveSibling(s"${t.root.getFileName}_aside")
      SwapRootCommitProtocol.arm(t.root, aside)
      val outcome = try { write(t); "no refusal" } catch {
        case _: java.util.ConcurrentModificationException => ""
        case e: Exception => s"threw $e"
      } finally SwapRootCommitProtocol.disarm()
      val problems = Seq(
        Option.when(!Files.exists(aside))("no swap"),
        Option.when(outcome.nonEmpty)(outcome),
        Option.when(Files.exists(aside) && GraftTable.open(spark, aside.toString).headSeq != head)(
          "committed to the moved-aside table"),
        Option.when(GraftTable.open(spark, t.root.toString).headSeq != -1)(
          "committed to the replacement")).flatten
      Option.when(problems.nonEmpty)(s"$kind: ${problems.mkString("; ")}")
    } finally spark.conf.set(key, before)
    assert(failed.isEmpty, failed.mkString("\n"))
  }

  test("string bounds compare in code-point order, the order Spark and parquet record them in") {
    // U+F000 sorts below U+1F600 by code point and by UTF-8 bytes, above
    // it by UTF-16 units (Java's compareTo)
    val (bmp, supp) = ("\uF000", "\uD83D\uDE00")
    val cat = GraftCatalog(spark, Files.createTempDirectory("spec_strorder").toString)
    cat.createNamespace("ns")
    val t = cat.createTable("ns", "t")
    t.append(Seq((bmp, 1L), (supp, 2L)).toDF("name", "k").repartition(1),
      statsCols = Seq("name", "k"))
    assert(t.snapshots.head.fileStats.head("name") == Recorded(bmp, supp))
    assert(t.readEq("name", bmp).count() == 1)
    assert(t.planScan(s"name = '$bmp'").filesOpened == 1)
    assert(t.planScan(s"name >= '$bmp' AND name <= '$bmp'").read.count() == 1)
    assert(GraftSql.sql(spark, cat, s"SELECT count(*) FROM graft.ns.t WHERE name = '$bmp'")
      .head().getLong(0) == 1)
    // a delete keyed on the supplementary character is scoped by its
    // footer bounds: out of reach of a file whose names all sort below
    // it, applied to the file that can hold it
    t.append(Seq(("a", 3L), ("b", 4L)).toDF("name", "k").repartition(1),
      statsCols = Seq("name", "k"))
    t.delete(Seq(supp).toDF("name"), Seq("name"))
    val low = t.planScan("k = 3")
    assert(low.filesOpened == 1 && low.deleteFiles.isEmpty && low.read.count() == 1)
    val high = t.planScan(s"name = '$bmp'")
    assert(high.deleteFiles.nonEmpty && high.read.count() == 1)
    assert(t.read().count() == 3)
  }
}

/** A commit protocol that, once armed, moves the table directory `root`
  * aside and creates a fresh empty table (an empty `_log`) in its place
  * as the first write job under `root` sets up: GraftSql's REPLACE TABLE
  * landing mid-write.
  */
class SwapRootCommitProtocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol(
      jobId, path, dynamicPartitionOverwrite) {
  override def setupJob(jobContext: org.apache.hadoop.mapreduce.JobContext): Unit = {
    SwapRootCommitProtocol.swapIfUnder(new org.apache.hadoop.fs.Path(path).toUri.getPath)
    super.setupJob(jobContext)
  }
}

object SwapRootCommitProtocol {
  private val armed = new java.util.concurrent.atomic.AtomicReference[(Path, Path)]()

  def arm(root: Path, aside: Path): Unit = armed.set((root, aside))

  def disarm(): Unit = armed.set(null)

  def swapIfUnder(dir: String): Unit = {
    val a = armed.get
    if (a != null && Paths.get(dir).startsWith(a._1) && armed.compareAndSet(a, null)) {
      Files.move(a._1, a._2)
      Files.createDirectories(a._1.resolve("_log"))
    }
  }
}
