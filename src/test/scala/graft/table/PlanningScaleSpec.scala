package graft.table

import java.nio.file.Files

import org.apache.spark.sql.types.{LongType, MetadataBuilder, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.table.Bounds.{Interval, Num, Recorded}

/** Driver-side PLANNING cost at manifest scale (VERDICT r7 #7): the
  * commit log's per-read work is parse-checkpoint + parse-tail +
  * stateFrom fold + prune filter, all O(live files) on the driver. The
  * checkpoint bounds the FILE COUNT a read opens (1 + new commits) but
  * not the byte size of the folded file LIST — this spec measures that
  * cost at ~50k live files (a 100 TB table at a healthy 2 GB/file, or a
  * badly-compacted 10 TB one) so the bound in SURVEY §8 is a number,
  * not a guess. No SparkSession: everything measured here happens
  * before Spark sees a plan.
  *
  * Timing asserts are deliberately loose (CI boxes vary 5-10×); the
  * printed numbers are the deliverable. Reference shape: Iceberg's
  * manifest-list planning, which budgets the same way.
  */
class PlanningScaleSpec extends AnyFunSuite {

  private def ms[A](f: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1000000)
  }

  test("50k-file planning: checkpoint parse + state fold stay interactive") {
    val log = new CommitLog(Files.createTempDirectory("plan_scale"))
    val commits = 500
    val filesPer = 100 // 50k live files total
    (0 until commits).foreach { c =>
      val files = (0 until filesPer).map(f =>
        f"data/epoch-$c%04d/part-$f%05d-0123456789abcdef.snappy.parquet")
      // ts tiles DISJOINTLY: file i of commit c owns exactly
      // [c*100000 + i*1000, …+999] — a one-commit probe prunes exactly
      val fs = files.indices.map(i => Map(
        "ts" -> Recorded(s"${c * 100000 + i * 1000}.000000", s"${c * 100000 + i * 1000 + 999}.000000"),
        "user_id" -> Recorded(s"$i.000000", s"${i + 5000}.000000")))
      log.commit("add", dataFiles = files,
        stats = Seq("ts" -> Recorded(s"${c * 100000}.000000", s"${c * 100000 + 99999}.000000")),
        fileStats = fs, fileRows = files.map(_ => 10000L))
    }
    val (_, tFoldAll) = ms(log.checkpoint())
    assert(log.metaFileCount == 1)
    val (es, tParse) = ms(log.entries())
    assert(es.map(_.dataFiles.size).sum == commits * filesPer)
    // r8: the warm path goes through the parsed-checkpoint cache — the
    // per-plan cost at an unchanged head drops from the full JSON parse
    // to an attribute stat + per-call resolution
    val (es2, tParseWarm) = ms(log.entries())
    assert(es2.map(_.dataFiles.size).sum == commits * filesPer)
    val (st, tState) = ms(CommitLog.stateFrom(es))
    assert(st._1.size == commits * filesPer)
    val (pruned, tPrune) = ms(
      CommitLog.stateFrom(es,
        Seq(Prune("ts", Interval(Num(42 * 100000), Num(42 * 100000 + 99999))))))
    // the ts ranges tile disjointly per commit: exactly one commit's
    // files survive a one-commit-wide probe
    assert(pruned._1.size == filesPer)
    info(s"50k files: checkpoint fold ${tFoldAll}ms, " +
      s"entries() parse ${tParse}ms (warm ${tParseWarm}ms), " +
      s"stateFrom ${tState}ms, pruned plan ${tPrune}ms")
    println(s"PLANNING_SCALE 50k: fold=${tFoldAll}ms parse=${tParse}ms " +
      s"warm=${tParseWarm}ms state=${tState}ms prune=${tPrune}ms")
    // loose ceilings: planning must stay interactive, not instant
    assert(tParse < 15000, s"checkpoint parse took ${tParse}ms at 50k files")
    assert(tState < 5000)
    assert(tPrune < 5000)
  }

  test("5k bloom-carrying files: sidecars keep the checkpoint stats-sized, probes hydrate lazily") {
    val log = new CommitLog(Files.createTempDirectory("plan_scale_bloom"))
    // pre-sidecar (r8 measurement): 16 KiB filters inlined ≈ 21 KB
    // base64 per (file, column) → 107 MiB checkpoint at 5k bloom'd
    // files, 463 ms parse. With the Puffin-style spill the bitmaps live
    // in per-commit sidecars: the checkpoint holds only pointers, plans
    // without a point probe never read a bitmap, and a probed plan
    // hydrates only the entries whose files survive stats pruning.
    val bloom = Bloom.encode((0 until 256).map(_ * 17 % Bloom.DefaultM), Bloom.DefaultM)
    (0 until 50).foreach { c =>
      val files = (0 until 100).map(f => f"data/e$c%02d/part-$f%05d.parquet")
      log.commit("add", dataFiles = files,
        fileStats = files.indices.map(i =>
          Map("user_id" -> Recorded(s"$i.000000", s"${i + 5000}.000000"))),
        fileBlooms = files.map(_ => Map("user_id" -> bloom)),
        fileRows = files.map(_ => 10000L))
    }
    val (_, tFold) = ms(log.checkpoint())
    def dirBytes(d: java.nio.file.Path): Long =
      if (!Files.exists(d)) 0L
      else { val s = Files.list(d); try s.mapToLong(Files.size(_)).sum finally s.close() }
    val ckBytes = dirBytes(log.root.resolve("_log").resolve("_ckpt"))
    val puffinBytes = dirBytes(log.root.resolve("_log").resolve("_puffin"))
    val (es, tParse) = ms(log.entries())
    assert(es.map(_.dataFiles.size).sum == 5000)
    assert(es.forall(e => e.fileBlooms.isEmpty && e.bloomsRef.nonEmpty))
    // the r8 fix, asserted: bitmap bytes are OUT of the checkpoint
    assert(ckBytes < 8L * 1024 * 1024,
      s"checkpoint still carries bloom payloads: ${ckBytes / 1024} KiB")
    // a plain plan never touches the sidecars — counted, not inferred
    def ioCount() = (CommitLog.bloomCacheHits.sum(), CommitLog.bloomCacheMisses.sum())
    val (h0, m0) = ioCount()
    val (st, tPlain) = ms(CommitLog.stateFrom(es))
    assert(st._1.size == 5000)
    val (h1, m1) = ioCount()
    assert(h1 == h0 && m1 == m0, "a bloom-free plan must read zero sidecars")
    // a point probe hydrates lazily (cold), then serves from the cache
    val probe = Seq(Prune("user_id", Interval.point(Num(1)), bloom = Some("1")))
    val (_, tProbeCold) = ms(CommitLog.stateFrom(es, probe))
    val (_, m2) = ioCount()
    assert(m2 > m1, "a point probe must hydrate sidecars")
    val (_, tProbeWarm) = ms(CommitLog.stateFrom(es, probe))
    assert(ioCount()._2 == m2, "the second probe must hit the cache, not re-read")
    info(s"5k bloom'd files: checkpoint ${ckBytes / 1024} KiB + " +
      s"${puffinBytes / 1024 / 1024} MiB sidecars; fold ${tFold}ms, " +
      s"parse ${tParse}ms, plain plan ${tPlain}ms, " +
      s"probed plan ${tProbeCold}ms cold / ${tProbeWarm}ms warm")
    println(s"PLANNING_SCALE 5k-bloom: ckpt=${ckBytes / 1024}KiB " +
      s"puffin=${puffinBytes / 1024}KiB fold=${tFold}ms parse=${tParse}ms " +
      s"plain=${tPlain}ms probe_cold=${tProbeCold}ms probe_warm=${tProbeWarm}ms")
    assert(tParse < 5000, s"stats-only checkpoint parse took ${tParse}ms")
  }

  test("50k files, 100 equality-delete groups: scoping the deletes stays interactive") {
    val log = new CommitLog(Files.createTempDirectory("plan_scale_scope"))
    val schema = StructType(Seq(StructField("k", LongType,
      metadata = new MetadataBuilder().putLong(GraftTable.FidKey, 1L).build()))).json
    val commits = 500
    val filesPer = 100
    (0 until commits).foreach { c =>
      val files = (0 until filesPer).map(f =>
        f"data/epoch-$c%04d/part-$f%05d-0123456789abcdef.snappy.parquet")
      // k tiles disjointly: file i of commit c holds [c*100000 + i*1000, …+999]
      log.commit("add", dataFiles = files, schemaJson = schema,
        fileStats = files.indices.map(i => Map(
          "k" -> Recorded(s"${c * 100000 + i * 1000}.000000", s"${c * 100000 + i * 1000 + 999}.000000"))),
        fileRows = files.map(_ => 10000L))
    }
    // 100 one-key delete commits above every data file: group g's key
    // lies in file 0 of commit 5g for even g and beyond every file for
    // odd g. Footer bounds come from a table, not from parquet files.
    val keyOf = (0 until 100).map { g =>
      val file = f"deletes/d$g%03d/part-00000.parquet"
      log.commit("delete", deleteFiles = Seq(file), equalityCols = Seq("k"))
      val key = if (g % 2 == 0) (g * 5L) * 100000 + 500 else 1000000000L + g
      log.root.resolve(file).toString ->
        DeleteScope.FileKeys(empty = false, Map("k" -> Interval.point(Num(key))))
    }.toMap
    log.checkpoint()
    val es = log.entries()
    val (data, dels) = CommitLog.stateFrom(es)
    assert(data.size == commits * filesPer && dels.size == 100)
    val (all, tAll) = ms(DeleteScope.reachable(es, data, dels, keyOf))
    assert(all.size == 50)
    val pruned = CommitLog.stateFrom(es,
      Seq(Prune("k", Interval(Num(40 * 100000), Num(40 * 100000 + 99999)))))._1
    assert(pruned.size == filesPer)
    val (one, tPruned) = ms(DeleteScope.reachable(es, pruned, dels, keyOf))
    assert(one.size == 1)
    info(s"50k files x 100 delete groups: full scan ${tAll}ms, one-commit probe ${tPruned}ms")
    println(s"PLANNING_SCALE scope: full=${tAll}ms pruned=${tPruned}ms")
    assert(tAll < 15000, s"scoping 100 groups over 50k files took ${tAll}ms")
    assert(tPruned < 5000)
  }
}
