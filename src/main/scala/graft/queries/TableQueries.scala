package graft.queries

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.{Q, QueryPack}
import graft.table.{GraftCatalog, GraftTable, PartitionSpec, Transform}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table-format operations — the reference's core capability surface
  * (SURVEY.md §2B "Table-format ops"), exercised end-to-end on temp
  * tables built from the B1 `items` fixture (FIXTURES.md: schema
  * lib.rs:58-62, rows main.rs:58-67, duplicate-key delete variant
  * deletes.rs:33-42).
  *
  * Every scenario is hermetic (own temp warehouse) and fully
  * deterministic, so each carries a hand-computed GOLDEN oracle — a
  * VALUES literal of the exact expected output derived from the Iceberg
  * sequence-number rules. The driver's DuckDB compare then pins the
  * table layer's semantics value-exactly, not just rows>0; the deep
  * lineage assertions additionally live in TableLayerSpec. The two
  * scenarios that expose physical file counts pin their shard count with
  * an explicit repartition in the FIXTURE prep (the count would
  * otherwise depend on session parallelism).
  */
object TableQueries extends QueryPack {

  /** B1 `items` fixture (main.rs:58-67). */
  private def items(s: SparkSession): DataFrame = {
    import s.implicits._
    // fixed-size seed: one output file at any scale (guide §6) — a
    // 5-row batch fanned across the session default parallelism wrote
    // defaultParallelism tiny files per append, paying per-file write,
    // footer-read and manifest cost ~6x over; scenarios that need a
    // specific multi-file shape repartition explicitly.
    Seq(("A", "small", 2), ("B", "medium", 15), ("C", "medium", 10),
      ("D", "small", 20), ("E", "large", 20))
      .toDF("name", "size", "count").coalesce(1)
  }

  /** delete-test variant with a duplicate key "A" (deletes.rs:34). */
  private def itemsWithDup(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(("A", "small", 2), ("A", "large", 7), ("B", "medium", 15),
      ("C", "medium", 10), ("D", "small", 20), ("E", "large", 20))
      .toDF("name", "size", "count").coalesce(1)
  }

  private def tmpTable(s: SparkSession, tag: String): GraftTable =
    GraftTable.createOrReplace(s,
      Files.createTempDirectory(s"graft_$tag").toString)

  /** each (label, WHERE) pair's planned read, tagged `probe` = label and
    * `files_opened` = the data files that same plan opens.
    */
  private def probes(t: GraftTable, byLabel: (String, String)*): DataFrame =
    byLabel.map { case (label, where) =>
      val scan = t.planScan(where)
      scan.read.withColumn("probe", lit(label)).withColumn("files_opened", lit(scan.filesOpened))
    }.reduce(_ unionByName _)

  override def queries: Seq[Q] = Seq(

    // A5+A6: parquet write + atomic snapshot append (fast_append,
    // main.rs:47-93). Two appends → two snapshots, both readable.
    Q(
      "t_append_commit",
      """SELECT * FROM (VALUES
        |  ('A','small',2),('A','small',102),('B','medium',15),('B','medium',115),
        |  ('C','medium',10),('C','medium',110),('D','small',20),('D','small',120),
        |  ('E','large',20),('E','large',120)) AS t(name, size, count)
        |ORDER BY name, count""",
    ) { (s, _) =>
      val t = tmpTable(s, "append")
      t.append(items(s))
      t.append(items(s).withColumn("count", col("count") + 100))
      t.read().orderBy("name", "count")
    },

    // A24/A26: equality delete (merge-on-read) committed atomically with
    // an append in ONE log entry (deletes.rs:94-110). Both rows keyed "A"
    // disappear; the appended row keyed "A" (added in the same commit, so
    // after the delete's scope) survives.
    Q(
      "t_equality_delete",
      """SELECT * FROM (VALUES
        |  ('A','reborn',99),('B','medium',15),('C','medium',10),
        |  ('D','small',20),('E','large',20)) AS t(name, size, count)
        |ORDER BY name, count""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "delete")
      t.append(itemsWithDup(s))
      t.appendAndDelete(
        Seq(("A", "reborn", 99)).toDF("name", "size", "count"),
        Seq("A").toDF("name"),
        equalityCols = Seq("name"))
      t.read().orderBy("name", "count")
    },

    // snapshot time travel: read the table as of snapshot 0 (before the
    // second append and the delete) — the Transaction-chain lineage of
    // decouple.rs:282-296 made queryable.
    Q(
      "t_time_travel",
      """SELECT * FROM (VALUES
        |  ('A','small',2),('B','medium',15),('C','medium',10),
        |  ('D','small',20),('E','large',20)) AS t(name, size, count)
        |ORDER BY name, count""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "travel")
      t.append(items(s))                                       // seq 0
      t.append(items(s).withColumn("count", col("count") + 100)) // seq 1
      t.delete(Seq("A").toDF("name"), Seq("name"))             // seq 2
      t.read(asOf = 0).orderBy("name", "count")
    },

    // rollback (Iceberg rollback_to_snapshot): a bad batch lands at seq 2,
    // rollbackTo(1) reinstates the seq-1 state as a NEW replace commit —
    // metadata-only here (no pending deletes: the old files are adopted
    // by path, nothing is read or rewritten), and the bad snapshot stays
    // time-travelable. rows_before_rollback pins that the bad batch was
    // really live before the rollback.
    Q(
      "t_rollback",
      """SELECT name, size, count, CAST(15 AS BIGINT) AS rows_before_rollback
        |FROM (VALUES
        |  ('A','small',2),('A','small',102),('B','medium',15),
        |  ('B','medium',115),('C','medium',10),('C','medium',110),
        |  ('D','small',20),('D','small',120),('E','large',20),
        |  ('E','large',120)) AS t(name, size, count)
        |ORDER BY name, count""",
    ) { (s, _) =>
      val t = tmpTable(s, "rollback")
      t.append(items(s))                                          // seq 0
      t.append(items(s).withColumn("count", col("count") + 100))  // seq 1
      t.append(items(s).withColumn("count", col("count") + 900))  // seq 2: bad
      val rowsBad = t.read().count()                              // 15
      t.rollbackTo(1)                                             // seq 3
      t.read()
        .withColumn("rows_before_rollback", lit(rowsBad))
        .orderBy("name", "count")
    },

    // source/sink format breadth: the same lineitem slice round-trips
    // through CSV, JSON-lines, and parquet sinks and is read back through
    // each source with a PINNED schema (inference on CSV/JSON is a
    // full-extra-pass antipattern at scale and can drift types); all
    // three must reproduce the parquet-derived aggregate exactly. Columns
    // are restricted to types every text format round-trips losslessly
    // (BIGINT, integral-valued DOUBLE, VARCHAR).
    Q(
      "t_format_roundtrip",
      """WITH s AS (SELECT l_orderkey, l_quantity, l_returnflag
        |           FROM lineitem WHERE l_linenumber = 1),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |             CAST(SUM(l_orderkey) AS BIGINT) AS sum_key,
        |             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2)) * 100 AS BIGINT) AS sum_qty_x1e2
        |      FROM s)
        |SELECT fmt, n, sum_key, sum_qty_x1e2
        |FROM a, (VALUES ('csv'),('json'),('orc'),('parquet')) AS f(fmt)
        |ORDER BY fmt""",
    ) { (s, dir) =>
      val slice = graft.Tables.lineitem(s, dir)
        .filter(col("l_linenumber") === 1)
        .select("l_orderkey", "l_quantity", "l_returnflag")
      val schema = slice.schema
      val base = Files.createTempDirectory("graft_fmt")
      slice.write.option("header", "true").csv(base.resolve("csv").toString)
      slice.write.json(base.resolve("json").toString)
      slice.write.orc(base.resolve("orc").toString) // native ORC, no connector jar
      slice.write.parquet(base.resolve("pq").toString)
      def summary(df: DataFrame, fmt: String): DataFrame =
        df.agg(count(lit(1)).as("n"),
            sum(col("l_orderkey")).cast("long").as("sum_key"),
            graft.Dec.asLong(sum(graft.Dec.money(col("l_quantity"))), 2).as("sum_qty_x1e2"))
          .select(lit(fmt).as("fmt"), col("n"), col("sum_key"), col("sum_qty_x1e2"))
      summary(s.read.option("header", "true").schema(schema).csv(base.resolve("csv").toString), "csv")
        .unionByName(summary(s.read.schema(schema).json(base.resolve("json").toString), "json"))
        .unionByName(summary(s.read.schema(schema).orc(base.resolve("orc").toString), "orc"))
        .unionByName(summary(s.read.parquet(base.resolve("pq").toString), "parquet"))
        .orderBy("fmt")
    },

    // write-audit-publish on a branch (Iceberg branch refs): a risky batch
    // is staged on branch "audit" — an append plus the fix for the bad row
    // the audit found — while main keeps serving its 5 rows untouched
    // (main_rows_during_audit pins the isolation). publishBranch then
    // fast-forwards main metadata-only: the branch's data files are
    // adopted by path, never rewritten.
    Q(
      "t_branch_wap",
      """SELECT name, size, count, CAST(5 AS BIGINT) AS main_rows_during_audit
        |FROM (VALUES
        |  ('A','small',2),('A','small',102),('B','medium',15),
        |  ('C','medium',10),('C','medium',110),('D','small',20),
        |  ('D','small',120),('E','large',20),('E','large',120))
        |  AS t(name, size, count)
        |ORDER BY name, count""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "wap")
      t.append(items(s))                                          // main seq 0
      val b = t.createBranch("audit")
      b.append(items(s).withColumn("count", col("count") + 100))  // staged
      // the audit finds (B,115) bad and fixes it ON THE BRANCH
      b.delete(Seq(("B", 115)).toDF("name", "count"), Seq("name", "count"))
      val mainDuringAudit = t.read().count()                      // isolation: 5
      t.publishBranch("audit")
      t.read()
        .withColumn("main_rows_during_audit", lit(mainDuringAudit))
        .orderBy("name", "count")
    },

    // Cherry-pick from a diverged branch (Iceberg cherrypick_snapshot):
    // main advanced past the branch base, so the fast-forward publish
    // refuses — but ONE staged append can still be replayed metadata-only
    // (files adopted by path). The pick is restricted to pure appends:
    // a staged delete scopes by sequence number and would change meaning
    // out of its original position, so picking it refuses too (both
    // refusals pinned in the golden).
    Q(
      "t_branch_cherrypick",
      """SELECT * FROM (VALUES
        |  ('A','small',2, true, true),('B','medium',15, true, true),
        |  ('C','medium',10, true, true),('D','small',20, true, true),
        |  ('E','large',20, true, true),('F','post',1, true, true),
        |  ('H2','fix',42, true, true))
        |  AS t(name, size, count, publish_refused, delete_pick_refused)
        |ORDER BY name""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "cherry")
      t.append(items(s))                                            // main seq 0
      val b = t.createBranch("fix")
      b.append(Seq(("H1", "fix", 41)).toDF("name", "size", "count")) // staged 1
      b.append(Seq(("H2", "fix", 42)).toDF("name", "size", "count")) // staged 2
      b.delete(Seq("H1").toDF("name"), Seq("name"))                  // staged 3
      t.append(Seq(("F", "post", 1)).toDF("name", "size", "count")) // main diverges
      val refused =
        try { t.publishBranch("fix"); false }
        catch { case _: IllegalArgumentException => true }
      val delRefused =
        try { t.cherryPick("fix", 3); false }
        catch { case _: IllegalArgumentException => true }
      t.cherryPick("fix", 2)
      t.read()
        .withColumn("publish_refused", lit(refused))
        .withColumn("delete_pick_refused", lit(delRefused))
        .orderBy("name")
    },

    // branch REBASE publish — the diverged-main complement of the
    // fast-forward: two staged audit appends replay IN ORDER onto a main
    // that advanced past the branch base (fast-forward refuses exactly
    // this, ff_refused pinned), metadata-only under the cherry-pick
    // guards. All-or-nothing: a branch carrying a staged DELETE is
    // refused whole — main gains none of its commits (dirty_refused +
    // the absence of H3) — because seq-scoped deletes change meaning
    // replayed out of context.
    Q(
      "t_branch_rebase",
      """SELECT * FROM (VALUES
        |  ('A','small',2, true, true),('B','medium',15, true, true),
        |  ('C','medium',10, true, true),('D','small',20, true, true),
        |  ('E','large',20, true, true),('F','post',1, true, true),
        |  ('R1','audit',41, true, true),('R2','audit',42, true, true))
        |  AS t(name, size, count, ff_refused, dirty_refused)
        |ORDER BY name""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "rebase")
      t.append(items(s))                                             // main seq 0
      val b = t.createBranch("audit")
      b.append(Seq(("R1", "audit", 41)).toDF("name", "size", "count"))
      b.append(Seq(("R2", "audit", 42)).toDF("name", "size", "count"))
      t.append(Seq(("F", "post", 1)).toDF("name", "size", "count"))  // main diverges
      val ffRefused =
        try { t.publishBranch("audit"); false }
        catch { case _: IllegalArgumentException => true }
      t.rebaseBranch("audit") // both staged appends land, in order
      // a branch whose staged set contains a delete is refused WHOLE
      val d = t.createBranch("dirty")
      d.append(Seq(("H3", "dirty", 9)).toDF("name", "size", "count"))
      d.delete(Seq("H3").toDF("name"), Seq("name"))
      val pre = t.read().count()
      val dirtyRefused =
        try { t.rebaseBranch("dirty"); false }
        catch { case _: IllegalArgumentException => true }
      val atomic = t.read().count() == pre // nothing from dirty landed
      t.read()
        .withColumn("ff_refused", lit(ffRefused))
        .withColumn("dirty_refused", lit(dirtyRefused && atomic))
        .orderBy("name")
    },

    // zero-copy shallow clone (Delta CLONE): the clone replays the
    // source's commit-log metadata into a fresh root, adopting every
    // source data file by absolute path — zero_copy pins that NO parquet
    // file existed under the clone root before the clone's own append.
    // The clone then diverges independently (its +200 epoch) while the
    // source stays at 10 rows; time travel on the clone still reaches
    // the pre-clone snapshot. O(metadata) regardless of table size.
    Q(
      "t_shallow_clone",
      """SELECT name, CAST(n AS BIGINT) AS n, CAST(sum_count AS BIGINT) AS sum_count,
        |  CAST(10 AS BIGINT) AS src_rows, CAST(10 AS BIGINT) AS clone_base_rows,
        |  true AS zero_copy
        |FROM (VALUES ('A',3,306),('B',3,345),('C',3,330),('D',3,360),('E',3,360))
        |  AS t(name, n, sum_count)
        |ORDER BY name""",
    ) { (s, _) =>
      val t = tmpTable(s, "clone_src")
      t.append(items(s))                                          // seq 0
      t.append(items(s).withColumn("count", col("count") + 100))  // seq 1
      val cDir = Files.createTempDirectory("graft_clone_dst")
      val c = t.cloneTo(cDir.toString)
      // metadata-sized walk of the EMPTY clone root — pins zero-copy
      val localBefore = {
        val w = Files.walk(cDir)
        try w.iterator().asScala.count(_.toString.endsWith(".parquet"))
        finally w.close()
      }
      c.append(items(s).withColumn("count", col("count") + 200))  // clone seq 2
      c.read().groupBy("name")
        .agg(count(lit(1)).as("n"), sum("count").as("sum_count"))
        .withColumn("src_rows", lit(t.read().count()))
        .withColumn("clone_base_rows", lit(c.read(asOf = 1).count()))
        .withColumn("zero_copy", lit(localBefore == 0))
        .orderBy("name")
    },

    // incremental append scan (CDC consumption): rows added AFTER seq 0,
    // with the in-range delete applied — the primitive a downstream
    // pipeline uses to process only what's new since its last checkpoint.
    // seq 1's B,115 was appended then equality-deleted at seq 2, so it is
    // NOT emitted; seq 3's B,215 postdates the delete and is. seq 0's five
    // rows never enter the scan (their files are pruned by seq before
    // planning — incremental cost ∝ new data, not table size).
    Q(
      "t_incremental_read",
      """SELECT * FROM (VALUES
        |  ('A','small',102),('A','small',202),('B','medium',215),
        |  ('C','medium',110),('C','medium',210),('D','small',120),
        |  ('D','small',220),('E','large',120),('E','large',220))
        |  AS t(name, size, count)
        |ORDER BY name, count""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "incr")
      t.append(items(s))                                         // seq 0
      t.append(items(s).withColumn("count", col("count") + 100)) // seq 1
      t.delete(Seq("B").toDF("name"), Seq("name"))               // seq 2
      t.append(items(s).withColumn("count", col("count") + 200)) // seq 3
      t.readIncremental(fromSeq = 0).orderBy("name", "count")
    },

    // compaction: fold MoR deletes into fresh data files via a `replace`
    // commit; the compacted read equals the pre-compaction MoR view and
    // no longer carries delete files.
    Q(
      "t_compaction",
      """SELECT * FROM (VALUES
        |  ('B','medium',15),('C','medium',10),
        |  ('D','small',20),('E','large',20)) AS t(name, size, count)
        |ORDER BY name, count""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "compact")
      t.append(itemsWithDup(s))
      t.delete(Seq("A").toDF("name"), Seq("name"))
      t.compact()
      t.read().orderBy("name", "count")
    },

    // Iceberg-manifest-style data skipping: three ingest epochs with
    // recorded count stats; the range read opens only the epoch whose
    // bounds intersect and returns exactly the matching rows. The probe
    // spans the WHOLE middle epoch so the golden holds at either stats
    // granularity: every surviving shard provably intersects, every other
    // epoch's shard provably cannot (with a narrower probe, which of the
    // epoch's round-robin shards intersects would depend on the row
    // split — nondeterministic under per-file stats).
    Q(
      "t_data_skipping",
      """SELECT * FROM (VALUES
        |  ('k100','x',100,2),('k101','x',101,2),('k102','x',102,2),
        |  ('k103','x',103,2),('k104','x',104,2),('k105','x',105,2),
        |  ('k106','x',106,2),('k107','x',107,2),('k108','x',108,2),
        |  ('k109','x',109,2))
        |  AS t(name, size, count, files_opened)
        |ORDER BY count""",
    ) { (s, _) =>
      val t = tmpTable(s, "skipping")
      import s.implicits._
      // repartition(2) pins each epoch at exactly 2 parquet shards so the
      // files_opened golden is parallelism-independent
      def batch(lo: Int) = (lo until lo + 10).map(i => (s"k$i", "x", i))
        .toDF("name", "size", "count").repartition(2)
      t.append(batch(0), statsCols = Seq("count"))
      t.append(batch(100), statsCols = Seq("count"))
      t.append(batch(200), statsCols = Seq("count"))
      val scan = t.planScan("count BETWEEN 100 AND 109")
      scan.read
        .withColumn("files_opened", lit(scan.filesOpened))
        .orderBy("count")
    },

    // Bin-packing small-file compaction (rewrite_data_files binpack with
    // a min-size filter): three 1-file tiny epochs consolidate into ONE
    // packed file while the big epoch's file — already over target — is
    // adopted BY PATH (pure metadata, zero bytes rewritten for it). The
    // steady-ingest maintenance pattern at 100 TB: pay for the small-file
    // tail, never rewrite the healthy bulk. File counts are
    // parallelism-independent (every epoch pins repartition(1); the tiny
    // total is far below target so the packed output is 1 file).
    Q(
      "t_compact_small",
      """SELECT * FROM (VALUES
        |  (8015, 4, 2, true))
        |  AS t(n_rows, files_before, files_after, big_file_adopted)""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "binpack")
      def tiny(off: Int) = items(s).withColumn("count", col("count") + off)
      t.append(tiny(0).repartition(1))
      t.append(tiny(100).repartition(1))
      t.append(tiny(200).repartition(1))
      val big = (0 until 8000).map(i => (s"n$i", "x", i)).toDF("name", "size", "count")
      t.append(big.repartition(1), statsCols = Seq("count"))
      val filesBefore = t.commitLog.state()._1
      val bigPath = filesBefore.map(_._1).find(f =>
        java.nio.file.Files.size(java.nio.file.Paths.get(f)) >= 16384).get
      t.compactSmall(targetBytes = 16384, statsCols = Seq("count"))
      val filesAfter = t.commitLog.state()._1
      Seq((t.read().count().toInt, filesBefore.size, filesAfter.size,
        filesAfter.map(_._1).contains(bigPath)))
        .toDF("n_rows", "files_before", "files_after", "big_file_adopted")
    },

    // Bloom-filter file skipping: two epochs whose COUNT RANGES fully
    // overlap ([0,16] and [2,18]), so min/max stats cannot separate them —
    // a point probe intersects both files' bounds and stats-only pruning
    // opens 2. The per-file bloom filters recorded at append time answer
    // "definitely absent" and prune to exactly the containing epoch (1
    // file), for both an int and a string key. The 100 TB case: point
    // lookups on a high-cardinality key over un-compacted ingest epochs,
    // where every epoch spans most of the key domain (Iceberg's Parquet
    // bloom filters close the same gap). One file per epoch via
    // repartition(1) keeps the file counts parallelism-independent.
    Q(
      "t_bloom_skipping",
      """SELECT * FROM (VALUES
        |  ('count_eq_8', 1, 2, 1),
        |  ('name_eq_k4', 1, 2, 1))
        |  AS t(probe, n_rows, files_stats_only, files_bloom)
        |ORDER BY probe""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "bloomskip")
      def batch(off: Int) = (off until off + 17 by 4)
        .map(i => (s"k$i", "x", i)).toDF("name", "size", "count").repartition(1)
      val cols = Seq("count", "name")
      t.append(batch(0), statsCols = cols, bloomCols = cols) // counts 0,4,8,12,16
      t.append(batch(2), statsCols = cols, bloomCols = cols) // counts 2,6,10,14,18
      // the range path carries no bloom positions — it is the stats-only
      // comparator for the same point probe
      def probe(label: String, eq: String, range: String) = {
        val scan = t.planScan(eq)
        (label, scan.read.count().toInt, t.planScan(range).filesOpened, scan.filesOpened)
      }
      Seq(
        probe("count_eq_8", "count = 8", "count BETWEEN 8 AND 8"),
        // "k4" sits inside BOTH epochs' lexicographic name bounds
        // ([k0,k8] and [k10,k6]) but exists only in the first
        probe("name_eq_k4", "name = 'k4'", "name BETWEEN 'k4' AND 'k4'"))
        .toDF("probe", "n_rows", "files_stats_only", "files_bloom")
        .orderBy("probe")
    },

    // per-snapshot schema recording + add-column evolution: rows written
    // before the column was added read as nulls; history is travelable.
    Q(
      "t_schema_evolution",
      """SELECT * FROM (VALUES
        |  ('A',1,NULL),('B',2,NULL),('C',3,'eu'),('D',4,'us'))
        |  AS t(name, count, region)
        |ORDER BY name""",
    ) { (s, _) =>
      val t = tmpTable(s, "evolution")
      import s.implicits._
      t.append(Seq(("A", 1), ("B", 2)).toDF("name", "count"))
      t.append(Seq(("C", 3, "eu"), ("D", 4, "us")).toDF("name", "count", "region"))
      t.read().orderBy("name")
    },

    // Hidden partitioning (Iceberg partition-spec semantics): two epochs
    // written under truncate(10, count); queries filter on the SOURCE
    // column and the table resolves partition values itself. Each epoch
    // writes exactly one file per partition value (repartition by the
    // partition value — the anti-small-files write shape), so files_opened
    // goldens are parallelism-independent: 6 data files total, the eq
    // probe opens 1, the range probe 2.
    Q(
      "t_partition_prune",
      """SELECT * FROM (VALUES
        |  ('eq15','B','medium',15,1),
        |  ('range100_119','A','small',102,2),
        |  ('range100_119','B','medium',115,2),
        |  ('range100_119','C','medium',110,2))
        |  AS t(probe, name, size, count, files_opened)
        |ORDER BY probe, name""",
    ) { (s, _) =>
      val t = tmpTable(s, "partition")
      val spec = PartitionSpec("count", Transform.Truncate(10))
      t.appendPartitioned(items(s), spec, statsCols = Seq("count"))
      t.appendPartitioned(items(s).withColumn("count", col("count") + 100),
        spec, statsCols = Seq("count"))
      probes(t, "eq15" -> "count = 15", "range100_119" -> "count BETWEEN 100 AND 119")
        .select("probe", "name", "size", "count", "files_opened")
        .orderBy("probe", "name")
    },

    // Partition-layout-PRESERVING compaction: a partitioned fact with a
    // pending MoR delete compacts under its spec — the delete folds in,
    // the rewrite emits one file per partition value, and the replace
    // commit RECORDS the spec, so point probes still open exactly one
    // file afterwards (files_opened pinned). A plain compact would write
    // an unpartitioned blob and silently drop the layout. This is how a
    // partitioned 100 TB fact compacts.
    Q(
      "t_compact_partitioned",
      """SELECT * FROM (VALUES
        |  ('A','small',2,1),('A','small',102,1),('C','medium',10,1),
        |  ('C','medium',110,1),('D','small',20,1),('D','small',120,1),
        |  ('E','large',20,1),('E','large',120,1))
        |  AS t(name, size, count, files_opened_eq10)
        |ORDER BY name, count""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "compactpart")
      val spec = PartitionSpec("count", Transform.Truncate(10))
      t.appendPartitioned(items(s), spec, statsCols = Seq("count"))
      t.appendPartitioned(items(s).withColumn("count", col("count") + 100),
        spec, statsCols = Seq("count"))
      t.delete(Seq("B").toDF("name"), Seq("name")) // pending MoR delete
      t.compactPartitioned(spec, statsCols = Seq("count"))
      t.read().select("name", "size", "count")
        .withColumn("files_opened_eq10", lit(t.planScan("count = 10").filesOpened))
        .orderBy("name", "count")
    },

    // Write-side CHECK constraints (Delta ADD CONSTRAINT): predicates
    // declared once as table properties gate every append — a batch with
    // any violating row is rejected WHOLE before a byte lands (phase 2:
    // count -1 and NULL-named rows bounce, table state identical before/
    // after), NULL predicates pass per SQL CHECK, and dropping the
    // constraint (phase 3) re-admits the same batch. Enforcement cost is
    // one batch-sized filtered count per declared constraint, on the
    // write path only.
    Q(
      "t_check_constraint",
      """SELECT * FROM (VALUES
        |  ('1_accepted', 6, 0),
        |  ('2_rejected_whole', 6, 1),
        |  ('3_dropped_readmits', 8, 0))
        |  AS t(phase, n_rows, rejected)
        |ORDER BY phase""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "checks")
      t.setProperties(Map("check.count_positive" -> "count > 0"))
      t.append(items(s))
      // NULL predicate passes (SQL CHECK): a null count row is admitted
      t.append(Seq(("F", "small", Option.empty[Int])).toDF("name", "size", "count"))
      val n1 = t.read().count().toInt
      val bad = Seq(("G", "large", 5), ("H", "small", -1)).toDF("name", "size", "count")
      val r2 = try { t.append(bad); 0 }
        catch { case _: IllegalArgumentException => 1 }
      val n2 = t.read().count().toInt
      t.setProperties(Map("check.count_positive" -> ""))
      t.append(bad)
      val n3 = t.read().count().toInt
      Seq(("1_accepted", n1, 0), ("2_rejected_whole", n2, r2),
        ("3_dropped_readmits", n3, 0))
        .toDF("phase", "n_rows", "rejected")
        .orderBy("phase")
    },

    // Data governance riding table PROPERTIES (Iceberg UpdateProperties
    // + the policy-enforced read): masking (hash pseudonym / null) and a
    // row filter are declared ONCE as table metadata and every governed
    // read enforces them; properties version with the log (phase 2 unsets
    // the count mask — the earlier policy stays travelable). Policies are
    // row-local projections/filters: zero extra shuffles, the row filter
    // pushes toward the scan like any user predicate.
    Q(
      "t_governance",
      """WITH it(name, size, count) AS (VALUES
        |  ('A','small',2),('B','medium',15),('C','medium',10),
        |  ('D','small',20),('E','large',20))
        |SELECT '1_masked' AS phase, sha256(name) AS name, size,
        |       CAST(NULL AS INT) AS count
        |FROM it WHERE size <> 'small'
        |UNION ALL
        |SELECT '2_count_unmasked', sha256(name), size, count
        |FROM it WHERE size <> 'small'
        |ORDER BY phase, name""",
    ) { (s, _) =>
      val t = tmpTable(s, "governance")
      t.append(items(s))
      t.setProperties(Map(
        "mask.name" -> "hash", "mask.count" -> "null",
        "filter.row" -> "size <> 'small'"))
      val masked = t.readGoverned()
        .select(lit("1_masked").as("phase"), col("name"), col("size"), col("count"))
      t.setProperties(Map("mask.count" -> "")) // unset: count serves again
      val partial = t.readGoverned()
        .select(lit("2_count_unmasked").as("phase"), col("name"), col("size"), col("count"))
      masked.unionByName(partial).orderBy("phase", "name")
    },

    // Atomic MULTI-TABLE transaction (the REST-catalog multi-table
    // commit): appends staged across two tables publish with ONE marker
    // create — all-or-nothing. An aborting body (exception after staging
    // to table A) leaves both tables untouched, and a crash-simulated
    // staged entry with no marker (writer died pre-publish) stays
    // invisible — the presumed-abort path. Phase 4 (r7) is the
    // cross-table GDPR-erasure shape: one user equality-DELETED from
    // both tables at a single commit point (deletes.rs:94-110
    // generalized across tables); phase 5 mixes kinds — append to one
    // table, delete from the other, one marker. Counts pinned after
    // each phase; the per-phase (rows_a, rows_b) pair moving in
    // lockstep IS the atomicity claim.
    Q(
      "t_multi_table_txn",
      """SELECT * FROM (VALUES
        |  ('1_committed', 5, 5),
        |  ('2_aborted', 5, 5),
        |  ('3_staged_invisible', 5, 5),
        |  ('4_txn_delete', 4, 4),
        |  ('5_mixed_kinds', 9, 3),
        |  ('6_txn_upsert', 5, 3))
        |  AS t(phase, rows_a, rows_b)
        |ORDER BY phase""",
    ) { (s, _) =>
      import s.implicits._
      val wh = Files.createTempDirectory("graft_txnwh")
      val cat = GraftCatalog(s, wh.toString)
      cat.createTable("lake", "ta")
      cat.createTable("lake", "tb")
      def counts: (Int, Int) =
        (cat.openTable("lake", "ta").read().count().toInt,
          cat.openTable("lake", "tb").read().count().toInt)
      cat.transact { txn =>
        txn.append("lake", "ta", items(s))
        txn.append("lake", "tb", items(s))
      }
      val (a1, b1) = counts
      try cat.transact { txn =>
        txn.append("lake", "ta", items(s))
        txn.append("lake", "tb", items(s))
        sys.error("abort after staging both tables")
      } catch { case _: RuntimeException => () }
      val (a2, b2) = counts
      cat.openTable("lake", "tb")
        .appendInTxn(items(s), wh.resolve("_txns").resolve("never.commit"))
      val (a3, b3) = counts
      // cross-table erasure: user 'A' leaves BOTH tables at one commit
      // point (the staged pending append from phase 3 sits BELOW these
      // deletes' seqs, so even a late publish could not resurrect 'A')
      val erase = Seq("A").toDF("name")
      cat.transact { txn =>
        txn.delete("lake", "ta", erase, Seq("name"))
        txn.delete("lake", "tb", erase, Seq("name"))
      }
      val (a4, b4) = counts
      // mixed kinds under one marker: +5 rows to ta, -1 row from tb
      cat.transact { txn =>
        txn.append("lake", "ta", items(s))
        txn.delete("lake", "tb", Seq("B").toDF("name"), Seq("name"))
      }
      val (a5, b5) = counts
      // staged MoR upsert: ta's 9 rows (all keyed A–E) collapse to the
      // incoming 5 in ONE mixed entry under the marker
      cat.transact(_.upsert("lake", "ta", items(s), Seq("name")))
      val (a6, b6) = counts
      Seq(("1_committed", a1, b1), ("2_aborted", a2, b2),
        ("3_staged_invisible", a3, b3), ("4_txn_delete", a4, b4),
        ("5_mixed_kinds", a5, b5), ("6_txn_upsert", a6, b6))
        .toDF("phase", "rows_a", "rows_b")
        .orderBy("phase")
    },

    // IDEMPOTENT streaming ingest (r7 — Delta's txnAppId/txnVersion,
    // exactly-once table writes over at-least-once delivery): the
    // version watermark rides the SAME commit entry as the data, so a
    // foreachBatch sink crashing between its append and its offset
    // record can replay the batch — the replay is a no-op, pinned here
    // by both the row count and the data-commit count across a replay,
    // a next epoch, a far-stale replay, and an independent appId.
    Q(
      "t_idempotent_ingest",
      """SELECT * FROM (VALUES
        |  ('1_first', 5, CAST(1 AS BIGINT)),
        |  ('2_replay_noop', 5, CAST(1 AS BIGINT)),
        |  ('3_next_epoch', 10, CAST(2 AS BIGINT)),
        |  ('4_stale_replay', 10, CAST(2 AS BIGINT)),
        |  ('5_other_app', 15, CAST(3 AS BIGINT)))
        |  AS t(phase, rows, n_commits)
        |ORDER BY phase""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "idem")
      def snap: (Int, Long) = (t.read().count().toInt,
        t.snapshots.count(_.dataFiles.nonEmpty).toLong)
      t.appendIdempotent(items(s), "epochs", 1)
      val (r1, c1) = snap
      t.appendIdempotent(items(s), "epochs", 1) // crash replay of epoch 1
      val (r2, c2) = snap
      t.appendIdempotent(items(s), "epochs", 2)
      val (r3, c3) = snap
      t.appendIdempotent(items(s), "epochs", 1) // far-stale replay
      val (r4, c4) = snap
      t.appendIdempotent(items(s), "backfill", 1) // independent appId
      val (r5, c5) = snap
      Seq(("1_first", r1, c1), ("2_replay_noop", r2, c2),
        ("3_next_epoch", r3, c3), ("4_stale_replay", r4, c4),
        ("5_other_app", r5, c5))
        .toDF("phase", "rows", "n_commits")
        .orderBy("phase")
    },

    // Metadata-only DELETE WHERE (Iceberg metadata delete / Delta
    // partition delete): on a count-partitioned layout, delete #1's range
    // aligns with one partition file — the file leaves the file list
    // WITHOUT BEING READ (d1_rewritten = 0 pinned: zero data I/O, the
    // way a 100 TB table drops a day); delete #2's range cuts through a
    // file, so exactly that file is rewritten filtered while bounds-
    // disjoint files are adopted verbatim and a bounds-inside file drops.
    // Pre-delete history stays travelable (pre_rows = 10 via time travel
    // across both replace commits).
    Q(
      "t_metadata_drop",
      """SELECT * FROM (VALUES
        |  ('A',2,1,0,1,1,10),('A',102,1,0,1,1,10),('C',110,1,0,1,1,10),
        |  ('D',20,1,0,1,1,10),('E',20,1,0,1,1,10))
        |  AS t(name, count, d1_dropped, d1_rewritten, d2_dropped, d2_rewritten, pre_rows)
        |ORDER BY name, count""",
    ) { (s, _) =>
      val t = tmpTable(s, "metadrop")
      val spec = PartitionSpec("count", Transform.Truncate(10))
      t.appendPartitioned(items(s), spec, statsCols = Seq("count"))
      val preSeq = t.appendPartitioned(
        items(s).withColumn("count", col("count") + 100),
        spec, statsCols = Seq("count"))
      // partition-aligned: drops the [10,19] file, reads nothing
      val r1 = t.deleteWhereRange("count", 10, 19, statsCols = Seq("count"))
      // straddles the [110,119] file (keeps 110, cuts 115), drops [120,129]
      val r2 = t.deleteWhereRange("count", 115, 125, statsCols = Seq("count"))
      t.read().select("name", "count")
        .withColumn("d1_dropped", lit(r1.dropped))
        .withColumn("d1_rewritten", lit(r1.rewritten))
        .withColumn("d2_dropped", lit(r2.dropped))
        .withColumn("d2_rewritten", lit(r2.rewritten))
        .withColumn("pre_rows", lit(t.read(asOf = preSeq).count().toInt))
        .orderBy("name", "count")
    },

    // Field-id schema evolution (Iceberg's stable-id model, lib.rs:58-62):
    // rename + int→long widening are metadata-only commits; files written
    // under the old name/narrow type resolve BY ID on read — no rewrite.
    Q(
      "t_schema_rename",
      """SELECT * FROM (VALUES
        |  ('A',CAST(1 AS BIGINT)),('B',CAST(2 AS BIGINT)),
        |  ('C',CAST(3000000000 AS BIGINT))) AS t(name, qty)
        |ORDER BY name""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "rename")
      t.append(Seq(("A", 1), ("B", 2)).toDF("name", "count"))
      t.renameColumn("count", "qty")
      t.widenColumn("qty", org.apache.spark.sql.types.LongType)
      t.append(Seq(("C", 3000000000L)).toDF("name", "qty"))
      t.read().orderBy("name")
    },

    // Multi-dimensional hidden partitioning (Iceberg composed specs; the
    // reference's event workload is day(ts)+bucket(id)-shaped,
    // kafka-load-gen/main.go:52-53): identity(day) × truncate(5,val) lays
    // one epoch out as a 2×2 directory grid = 4 files, one per partition
    // tuple. Each probe names only ITS source column and prunes on that
    // dimension independently — 2 of 4 files opened either way.
    Q(
      "t_partition_multidim",
      """SELECT * FROM (VALUES
        |  ('eq_day1','c',1,2,2),('eq_day1','d',1,8,2),
        |  ('range_val0_4','a',0,1,2),('range_val0_4','c',1,2,2))
        |  AS t(probe, name, day, val, files_opened)
        |ORDER BY probe, name""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "multidim")
      val rows = Seq(("a", 0, 1), ("b", 0, 7), ("c", 1, 2), ("d", 1, 8))
        .toDF("name", "day", "val")
      t.appendPartitioned(rows,
        Seq(PartitionSpec("day", Transform.Identity),
          PartitionSpec("val", Transform.Truncate(5))), Nil, Nil)
      probes(t, "eq_day1" -> "day = 1", "range_val0_4" -> "val BETWEEN 0 AND 4")
        .select("probe", "name", "day", "val", "files_opened")
        .orderBy("probe", "name")
    },

    // Sort-clustered compaction (rewrite_data_files with a sort order):
    // three stat-less ingest epochs interleave the key domain, so a
    // bounded read must open all 6 files; compactSorted range-partitions
    // the (delete-folded) view into 3 disjoint-range files with per-file
    // bounds, after which the same probe opens exactly 1. Clustering is
    // what converts file stats into skipped I/O.
    Q(
      "t_sorted_compaction",
      """SELECT * FROM (VALUES ('k29', 29, 6, 1))
        |  AS t(name, count, files_before, files_after)""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "sortcompact")
      // batch b carries counts {b, b+3, ..., b+27}: every epoch straddles
      // the whole domain, the worst case for pruning. repartition(2) pins
      // 2 shards per epoch.
      def batch(b: Int) = (0 until 10).map(i => (s"k${b + 3 * i}", b + 3 * i))
        .toDF("name", "count").repartition(2)
      (0 until 3).foreach(b => t.append(batch(b)))
      t.delete(Seq("k0").toDF("name"), Seq("name"))
      val before = t.planScan("count BETWEEN 29 AND 29").filesOpened
      t.compactSorted("count", numFiles = 3)
      val after = t.planScan("count BETWEEN 29 AND 29")
      after.read
        .withColumn("files_before", lit(before))
        .withColumn("files_after", lit(after.filesOpened))
    },

    // MERGE-by-key upsert: one atomic commit equality-deletes the incoming
    // keys from prior data and appends the new rows — latest row wins,
    // untouched keys survive (deletes.rs:94-110 generalized).
    Q(
      "t_upsert",
      """SELECT * FROM (VALUES
        |  ('A','small',2),('B','patched',99),('C','medium',10),
        |  ('D','small',20),('E','large',20),('F','new',1)) AS t(name, size, count)
        |ORDER BY name""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "upsert")
      t.append(items(s))
      t.upsert(Seq(("B", "patched", 99), ("F", "new", 1)).toDF("name", "size", "count"),
        keyCols = Seq("name"))
      t.read().orderBy("name")
    },

    // full three-clause MERGE INTO (the CDC apply statement): a feed with
    // an op column updates A (matched → source row wins), deletes B
    // (matched + deleteWhen), inserts F (not matched + insertWhen), and
    // FILTERS OUT G (not matched, insertWhen false); the op column never
    // reaches the table (append projects to the target schema). One
    // atomic mixed commit, merge-on-read — no target file rewritten.
    Q(
      "t_merge_into",
      """SELECT * FROM (VALUES
        |  ('A','small',200),('C','medium',10),('D','small',20),
        |  ('E','large',20),('F','fresh',1)) AS t(name, size, count)
        |ORDER BY name""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "merge")
      t.append(items(s))
      val feed = Seq(
        ("A", "small", 200, "U"), ("B", "medium", 0, "D"),
        ("F", "fresh", 1, "I"), ("G", "skip", 9, "X"))
        .toDF("name", "size", "count", "op")
      t.merge(feed, keyCols = Seq("name"),
        deleteWhen = col("op") === "D", insertWhen = col("op") =!= "X")
      t.read().orderBy("name")
    },

    // POSITIONAL delete (Iceberg v2's second delete flavor): rows are
    // addressed physically as (file, row ordinal) via readWithPos, so ONE
    // of two rows sharing key 'A' can be removed surgically — not
    // expressible as an equality predicate on the key.
    Q(
      "t_positional_delete",
      """SELECT * FROM (VALUES
        |  ('A','large',7),('B','medium',15),('C','medium',10),
        |  ('D','small',20),('E','large',20)) AS t(name, size, count)
        |ORDER BY name, count""",
    ) { (s, _) =>
      val t = tmpTable(s, "posdel")
      t.append(itemsWithDup(s)) // two rows keyed A: (small,2) and (large,7)
      val victim = t.readWithPos()
        .filter(col("name") === "A" && col("count") === 2)
        .select("_file", "_pos")
      t.deleteAt(victim)
      t.read().orderBy("name", "count")
    },

    // Iceberg tag refs + ref-aware retention: a training run tags its
    // input snapshot; later deletes/appends and even snapshot expiration
    // leave the tagged read byte-identical, while the head moves on.
    Q(
      "t_snapshot_tag",
      """SELECT * FROM (VALUES
        |  ('head','B','medium',15),('head','C','medium',10),('head','D','small',20),
        |  ('head','E','large',20),('head','F','post',1),
        |  ('tag','A','small',2),('tag','B','medium',15),('tag','C','medium',10),
        |  ('tag','D','small',20),('tag','E','large',20)) AS t(view, name, size, count)
        |ORDER BY view, name""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "tag")
      t.append(items(s))                                   // seq 0
      t.tag("train-v1")                                    // pin it
      t.delete(Seq("A").toDF("name"), Seq("name"))         // seq 1
      t.append(Seq(("F", "post", 1)).toDF("name", "size", "count")) // seq 2
      t.expireSnapshots() // must RETAIN the tag's history
      t.readTag("train-v1").withColumn("view", lit("tag"))
        .unionByName(t.read().withColumn("view", lit("head")))
        .select("view", "name", "size", "count")
        .orderBy("view", "name")
    },

    // Iceberg metadata tables (SELECT * FROM t.snapshots): the table's
    // own commit history as a queryable DataFrame.
    Q(
      "t_metadata_tables",
      """SELECT CAST(seq AS BIGINT) AS seq, action, n_data_files, n_delete_files
        |FROM (VALUES (0,'add',1,0),(1,'delete',0,1),(2,'add',1,0))
        |  AS t(seq, action, n_data_files, n_delete_files)
        |ORDER BY seq""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "meta")
      t.append(items(s).repartition(1))
      t.delete(Seq("A").toDF("name"), Seq("name"))
      t.append(Seq(("F", "post", 1)).toDF("name", "size", "count").repartition(1))
      t.snapshotsMeta
        .select("seq", "action", "n_data_files", "n_delete_files")
        .orderBy("seq")
    },

    // GDPR / right-to-be-forgotten erasure: a logical equality delete
    // hides user B instantly, but the bytes LIVE ON — in the original
    // data file (time travel still reads them) and, subtly, in the
    // delete KEY file itself (the key is PII too). The erasure sweep =
    // expireSnapshots: compact (head files no longer contain B), expire
    // history, physically remove every unreferenced data AND delete
    // file. residual_before/after scan the actual parquet bytes on disk
    // for B (2 = data row + delete key row → 0); history_erased pins
    // that the pre-erasure snapshot is gone. At 100 TB the cost is one
    // compaction of live data — the unavoidable price of physical
    // erasure on immutable files (Iceberg does exactly this).
    Q(
      "t_gdpr_erasure",
      """SELECT * FROM (VALUES
        |  ('A','small',2),('C','medium',10),('D','small',20),
        |  ('E','large',20),('F','post',1)) AS t(name, size, count)
        |CROSS JOIN (VALUES (CAST(2 AS BIGINT), CAST(0 AS BIGINT), true))
        |  AS m(residual_before, residual_after, history_erased)
        |ORDER BY name""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "gdpr")
      val root = t.commitLog.root
      t.append(items(s).repartition(1))                              // seq 0: has B
      t.append(Seq(("F", "post", 1))
        .toDF("name", "size", "count").repartition(1))               // seq 1
      t.delete(Seq("B").toDF("name"), Seq("name"))                   // seq 2: logical
      def residualB: Long = {
        def ls(kind: String): Seq[String] = {
          val d = root.resolve(kind)
          if (!Files.exists(d)) Nil
          else {
            val st = Files.walk(d)
            try st.iterator().asScala.map(_.toString)
              .filter(_.endsWith(".parquet")).toSeq
            finally st.close()
          }
        }
        def hits(paths: Seq[String]): Long =
          if (paths.isEmpty) 0L
          else s.read.parquet(paths: _*).filter(col("name") === "B").count()
        hits(ls("data")) + hits(ls("deletes"))
      }
      val before = residualB
      t.expireSnapshots()                                            // erase
      val after = residualB
      val erased = scala.util.Try(t.read(asOf = 0).count()).getOrElse(0L) == 0L
      t.read()
        .withColumn("residual_before", lit(before))
        .withColumn("residual_after", lit(after))
        .withColumn("history_erased", lit(erased))
        .orderBy("name")
    },

    // Iceberg `partitions` metadata table: per-partition file/row counts
    // straight from the commit log's per-file partition-value stats — the
    // table-health dashboard (skew, small-partition tails) with ZERO data
    // files opened. Two partitioned appends: `small` accumulates a second
    // file (2 files / 3 rows), the others keep one.
    Q(
      "t_partition_stats",
      """SELECT * FROM (VALUES
        |  ('_p=large', CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
        |  ('_p=medium', CAST(1 AS BIGINT), CAST(2 AS BIGINT)),
        |  ('_p=post', CAST(1 AS BIGINT), CAST(1 AS BIGINT)),
        |  ('_p=small', CAST(2 AS BIGINT), CAST(3 AS BIGINT)))
        |  AS t("partition", n_files, n_rows)
        |ORDER BY "partition"""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "partstats")
      t.appendPartitioned(items(s), PartitionSpec("size", Transform.TruncateStr(16)))
      t.appendPartitioned(Seq(("F", "small", 1), ("G", "post", 2))
        .toDF("name", "size", "count"), PartitionSpec("size", Transform.TruncateStr(16)))
      t.partitionsMeta.orderBy("partition")
    },

    // The table layer serving the LLM pipeline: a PERSISTENT incremental
    // dedup index. Epoch 1 commits the first half of the corpus's content
    // hashes into a bucket-partitioned table; the second half (the "new
    // batch") is then checked against the index with a keyed join — the
    // 100 TB shape for deduping fresh data against ALL history without
    // rescanning it: the index is hidden-partitioned by hash bucket, the
    // new batch shuffles once on the same key, and the optimizer is left
    // to choose the join strategy (no forced broadcast of a growing
    // index). Emits every new doc with its known-dup flag.
    Q(
      "t_dedup_index",
      """WITH half AS (SELECT CAST(COUNT(*) // 2 AS BIGINT) AS h FROM documents),
        |old AS (SELECT DISTINCT md5(text) AS th FROM documents, half WHERE doc_id < half.h),
        |new AS (SELECT doc_id, md5(text) AS th FROM documents, half WHERE doc_id >= half.h)
        |SELECT n.doc_id, (o.th IS NOT NULL) AS known_dup
        |FROM new n LEFT JOIN old o ON n.th = o.th ORDER BY n.doc_id""",
    ) { (s, dir) =>
      val docs = _root_.graft.Tables.documents(s, dir)
      val half = docs.count() / 2
      val t = tmpTable(s, "dedupidx")
      t.appendPartitioned(
        docs.filter(col("doc_id") < half).select(md5(col("text")).as("th")).distinct(),
        PartitionSpec("th", Transform.Bucket(8)))
      val idx = t.read().withColumn("known", lit(true))
      docs.filter(col("doc_id") >= half)
        .select(col("doc_id"), md5(col("text")).as("th"))
        .join(idx, Seq("th"), "left")
        .select(col("doc_id"), coalesce(col("known"), lit(false)).as("known_dup"))
        .orderBy("doc_id")
    },

    // Z-order compaction (rewrite_data_files with zorder(x, y)): two
    // interleaved ingest epochs leave 4 files that straddle BOTH
    // dimension domains — a probe on either dimension opens all 4. The
    // z-order rewrite clusters the 16×16 grid into 4 quadrant files
    // (deterministic equal z-ranges), after which a low-x probe and a
    // low-y probe each open exactly 2 of 4 — the multi-dimensional
    // clustering a lexicographic sort can't give (it would prune only its
    // leading column). Golden pins the probe aggregate and all three
    // file counts.
    Q(
      "t_zorder",
      """SELECT CAST(64 AS BIGINT) AS n, CAST(2016 AS BIGINT) AS sum_v,
        |  4 AS files_before, 2 AS files_x_after, 2 AS files_y_after""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "zorder")
      val grid = for { x <- 0 until 16; y <- 0 until 16 } yield (x, y, x * 16 + y)
      // two epochs, each round-robin split into 2 files spanning the whole
      // grid — the worst case for pruning on every dimension
      val (e1, e2) = grid.partition { case (x, y, _) => (x + y) % 2 == 0 }
      t.append(e1.toDF("x", "y", "v").repartition(2), statsCols = Seq("x", "y"))
      t.append(e2.toDF("x", "y", "v").repartition(2), statsCols = Seq("x", "y"))
      val before = t.planScan("x BETWEEN 0 AND 3").filesOpened
      t.compactZOrder(Seq("x", "y"), numFiles = 4)
      val afterX = t.planScan("x BETWEEN 0 AND 3")
      val afterY = t.planScan("y BETWEEN 0 AND 3").filesOpened
      afterX.read
        .agg(count(lit(1)).as("n"), sum(col("v")).cast("long").as("sum_v"))
        .withColumn("files_before", lit(before))
        .withColumn("files_x_after", lit(afterX.filesOpened))
        .withColumn("files_y_after", lit(afterY))
    },

    // Snapshot expiration as a REGISTERED maintenance op (Iceberg
    // expire_snapshots; t_snapshot_tag shows tags SURVIVING expiration,
    // this scenario shows expiration actually RECLAIMING): with no tag
    // pinning history, expire folds the head into one replace commit,
    // drops every older log entry, and deletes the now-unreferenced data
    // AND delete files from storage. snaps_before/after pin the metadata
    // bound; orphans_gone pins physical reclamation (every parquet left
    // on disk is referenced by a retained snapshot — a boolean, so the
    // golden is independent of shard parallelism).
    Q(
      "t_expire_snapshots",
      """SELECT * FROM (VALUES
        |  ('B','medium',15),('B','medium',115),('C','medium',10),
        |  ('C','medium',110),('D','small',20),('D','small',120),
        |  ('E','large',20),('E','large',120))
        |  AS t(name, size, count)
        |CROSS JOIN (VALUES (CAST(3 AS BIGINT), CAST(1 AS BIGINT), true))
        |  AS m(snaps_before, snaps_after, orphans_gone)
        |ORDER BY name, count""",
    ) { (s, _) =>
      import s.implicits._
      val root = Files.createTempDirectory("graft_expire")
      val t = GraftTable.createOrReplace(s, root.toString)
      t.append(items(s))                                          // seq 0
      t.append(items(s).withColumn("count", col("count") + 100))  // seq 1
      t.delete(Seq("A").toDF("name"), Seq("name"))                // seq 2
      val before = t.snapshots.size.toLong                        // 3
      t.expireSnapshots()                                         // replace @3, drop 0-2
      val after = t.snapshots.size.toLong                         // 1
      val referenced = t.snapshots
        .flatMap(e => e.dataFiles ++ e.deleteFiles).toSet
      val onDisk = Seq("data", "deletes").flatMap { kind =>
        val d = root.resolve(kind)
        if (!Files.exists(d)) Nil
        else {
          val st = Files.walk(d)
          try st.iterator().asScala.filter(_.toString.endsWith(".parquet")).map(_.toString).toList
          finally st.close()
        }
      }.toSet
      t.read()
        .withColumn("snaps_before", lit(before))
        .withColumn("snaps_after", lit(after))
        .withColumn("orphans_gone", lit(onDisk == referenced))
        .orderBy("name", "count")
    },

    // Partition-spec EVOLUTION (Iceberg's per-file spec model): epoch 1
    // lands under truncate(10,count), epoch 2 under truncate(100,count).
    // Probes still name only the source column; the new spec prunes the
    // new epoch's files by partition value, while old-spec files are
    // never pruned with the new transform (the requireSpec guard) — they
    // fall back to their per-file column stats, so every probe here still
    // opens exactly one of the 4 files. No rewrite happened at the spec
    // change: evolution is metadata-only, exactly Iceberg's rule.
    Q(
      "t_partition_evolution",
      """SELECT * FROM (VALUES
        |  ('eq15','B','medium',15,1),
        |  ('eq110','C','medium',110,1),
        |  ('range10_19','B','medium',15,1),
        |  ('range10_19','C','medium',10,1))
        |  AS t(probe, name, size, count, files_opened)
        |ORDER BY probe, name""",
    ) { (s, _) =>
      val t = tmpTable(s, "specevo")
      t.appendPartitioned(items(s),
        PartitionSpec("count", Transform.Truncate(10)), statsCols = Seq("count"))
      t.appendPartitioned(items(s).withColumn("count", col("count") + 100),
        PartitionSpec("count", Transform.Truncate(100)), statsCols = Seq("count"))
      probes(t, "eq15" -> "count = 15", "eq110" -> "count = 110",
          "range10_19" -> "count BETWEEN 10 AND 19")
        .select("probe", "name", "size", "count", "files_opened")
        .orderBy("probe", "name")
    },

    // A33 (declared-only Cargo.toml:53-55): two writers race on the same
    // snapshot seq; the CAS (exclusive create of the log entry) makes one
    // win and the other retry onto the next seq — no commit is lost.
    Q(
      "t_conflict_retry",
      """SELECT CAST(seq AS BIGINT) AS seq, action, n_files FROM (VALUES
        |  (0,'add',1),(1,'add',1),(2,'add',1),(3,'add',1),(4,'add',1))
        |  AS t(seq, action, n_files)
        |ORDER BY seq""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "conflict")
      // repartition(1): one shard for the seed epoch, so n_files is
      // parallelism-independent in the golden
      t.append(items(s).repartition(1))
      val racers = (1 to 4).map { i =>
        new Thread {
          override def run(): Unit =
            t.commitLog.commit("add", dataFiles = Seq(s"racer-$i.parquet"))
        }
      }
      racers.foreach(_.start()); racers.foreach(_.join())
      // all 5 commits present, seqs strictly consecutive — summarized as
      // one row per snapshot
      val snaps = t.snapshots.map(e => (e.seq, e.action, e.dataFiles.length))
      snaps.toDF("seq", "action", "n_files").orderBy("seq")
    },

    // Metadata checkpointing (Iceberg's rewrite_manifests applied to the
    // log): after 3 commits, checkpoint() folds the per-commit entry
    // files into ONE checkpoint file — a fresh read now opens 1 + O(new
    // commits) metadata files instead of one per historical commit, the
    // property that keeps planning cost flat after a million commits.
    // meta_files pins the fold (1 checkpoint + 1 post-checkpoint entry);
    // travel_rows pins that checkpointed history stays time-travelable;
    // the data rows pin that MoR semantics (the seq-2 delete) survive the
    // fold unchanged.
    Q(
      "t_log_checkpoint",
      """SELECT * FROM (VALUES
        |  ('A','small',202),
        |  ('B','medium',15),('B','medium',115),('B','medium',215),
        |  ('C','medium',10),('C','medium',110),('C','medium',210),
        |  ('D','small',20),('D','small',120),('D','small',220),
        |  ('E','large',20),('E','large',120),('E','large',220))
        |  AS t(name, size, count)
        |CROSS JOIN (VALUES (CAST(2 AS BIGINT), 2, CAST(5 AS BIGINT)))
        |  AS m(ckpt_seq, meta_files, travel_rows)
        |ORDER BY name, count""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "ckpt")
      t.append(items(s))                                          // seq 0
      t.append(items(s).withColumn("count", col("count") + 100))  // seq 1
      t.delete(Seq("A").toDF("name"), Seq("name"))                // seq 2
      val ckptSeq = t.checkpointMetadata()                        // folds 0-2
      t.append(items(s).withColumn("count", col("count") + 200))  // seq 3
      val travelRows = t.read(asOf = 0).count()                   // 5
      t.read()
        .withColumn("ckpt_seq", lit(ckptSeq))
        .withColumn("meta_files", lit(t.commitLog.metaFileCount))
        .withColumn("travel_rows", lit(travelRows))
        .orderBy("name", "count")
    },

    // STRING-column data skipping (Iceberg prunes string manifest bounds
    // lexicographically, same as numerics): two shards with disjoint name
    // ranges; a name-range probe and a string point probe each open ONE
    // file (files_opened pinned). String stats record native
    // lexicographic min/max, so write-side fold and read-side compare
    // share one ordering by construction.
    Q(
      "t_string_skipping",
      """SELECT * FROM (VALUES
        |  ('eq_oscar','oscar',5,1),
        |  ('range_a_c','alpha',1,1),('range_a_c','beta',2,1))
        |  AS t(probe, name, count, files_opened)
        |ORDER BY probe, name""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "strskip")
      t.append(Seq(("alpha", "x", 1), ("beta", "x", 2), ("carol", "x", 3))
        .toDF("name", "size", "count").repartition(1), statsCols = Seq("name"))
      t.append(Seq(("nina", "x", 4), ("oscar", "x", 5), ("zed", "x", 6))
        .toDF("name", "size", "count").repartition(1), statsCols = Seq("name"))
      probes(t, "range_a_c" -> "name BETWEEN 'a' AND 'c'", "eq_oscar" -> "name = 'oscar'")
        .select("probe", "name", "count", "files_opened")
        .orderBy("probe", "name")
    },

    // Atomic partition overwrite (Iceberg's dynamic overwrite — the
    // daily-backfill op): the truncate(10) partition holding counts
    // 10..19 is replaced in ONE commit with exactly the incoming rows;
    // partitions 0 and 20 never move, and time travel still reads the
    // pre-overwrite table (travel_rows pins it). The replaced partition's
    // old rows vanish via equality-delete keys scoped below the commit,
    // so the replacement itself survives.
    Q(
      "t_partition_overwrite",
      """SELECT name, size, count, CAST(5 AS BIGINT) AS travel_rows
        |FROM (VALUES
        |  ('A','small',2),('B2','medium',11),('D','small',20),
        |  ('E','large',20),('F','mid',12)) AS t(name, size, count)
        |ORDER BY name, count""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "povr")
      t.appendPartitioned(items(s),
        PartitionSpec("count", Transform.Truncate(10)), statsCols = Seq("count")) // seq 0
      t.overwritePartitions(
        Seq(("B2", "medium", 11), ("F", "mid", 12)).toDF("name", "size", "count"),
        PartitionSpec("count", Transform.Truncate(10)), statsCols = Seq("count")) // seq 1
      t.read()
        .withColumn("travel_rows", lit(t.read(asOf = 0).count()))
        .orderBy("name", "count")
    },

    // Incremental materialized-view maintenance — the changelog's
    // payoff: a per-size (count, sum) aggregate materialized at snapshot
    // 0 is advanced to head by applying ONLY the changelog deltas
    // (insert → +1/+v, delete → −1/−v), never rescanning history — cost
    // ∝ changed rows. matches_full pins that the incrementally
    // maintained view equals a full recompute at head, including a group
    // born after the base ('reborn') and groups shrunk by deletes.
    Q(
      "t_incremental_mv",
      """SELECT size, CAST(n AS BIGINT) AS n_rows, CAST(s AS BIGINT) AS sum_count,
        |  true AS matches_full
        |FROM (VALUES
        |  ('large', 2, 140), ('medium', 3, 235),
        |  ('reborn', 1, 99), ('small', 3, 242)) AS t(size, n, s)
        |ORDER BY size""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "incmv")
      t.append(items(s))                                          // seq 0
      t.appendAndDelete(                                          // seq 1: mixed
        Seq(("A", "reborn", 99)).toDF("name", "size", "count"),
        Seq("A").toDF("name"), equalityCols = Seq("name"))
      t.delete(Seq("B").toDF("name"), Seq("name"))                // seq 2
      t.append(items(s).withColumn("count", col("count") + 100))  // seq 3
      def agg(df: DataFrame) = df.groupBy("size")
        .agg(count(lit(1)).cast("long").as("n_rows"),
          sum(col("count")).cast("long").as("sum_count"))
      val base = agg(t.read(asOf = 0))
      val delta = t.readChangelog(fromSeq = 0)
        .withColumn("sgn", when(col("change_type") === "insert", 1L).otherwise(-1L))
        .groupBy("size")
        .agg(sum(col("sgn")).as("dn"), sum(col("sgn") * col("count")).as("dsum"))
      val merged = base.join(delta, Seq("size"), "full_outer")
        .select(col("size"),
          (coalesce(col("n_rows"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n_rows"),
          (coalesce(col("sum_count"), lit(0L)) + coalesce(col("dsum"), lit(0L))).as("sum_count"))
        .filter(col("n_rows") > 0)
      val full = agg(t.read())
      // MV-sized equality check (a handful of groups — driver-safe, and
      // two small collects beat two exceptAll shuffle jobs)
      def rows(df: DataFrame) =
        df.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
      val matches = rows(merged) == rows(full)
      merged.withColumn("matches_full", lit(matches)).orderBy("size")
    },

    // Standalone orphan-file vacuum (Iceberg's remove_orphan_files):
    // a crashed writer left a parquet in data/ that no commit references
    // — invisible to reads but occupying storage forever. The vacuum
    // removes exactly it (files_before/removed/files_after pinned; both
    // epochs repartition(1) so physical counts are parallelism-
    // independent) while every committed file and ALL history survive —
    // unlike expireSnapshots, which trades history for space.
    Q(
      "t_vacuum_orphans",
      """SELECT * FROM (VALUES
        |  ('A','small',2),('A','small',102),('B','medium',15),('B','medium',115),
        |  ('C','medium',10),('C','medium',110),('D','small',20),('D','small',120),
        |  ('E','large',20),('E','large',120)) AS t(name, size, count)
        |CROSS JOIN (VALUES (3, 1, 2, CAST(5 AS BIGINT)))
        |  AS m(files_before, removed, files_after, travel_rows)
        |ORDER BY name, count""",
    ) { (s, _) =>
      val root = Files.createTempDirectory("graft_vacuum")
      val t = GraftTable.createOrReplace(s, root.toString)
      t.append(items(s).repartition(1))                                         // seq 0
      t.append(items(s).withColumn("count", col("count") + 100).repartition(1)) // seq 1
      // a crashed writer: data written, commit never reached
      items(s).repartition(1).write.mode("append")
        .parquet(root.resolve("data").resolve("crashed").toString)
      def parquetCount: Int = {
        val st = Files.walk(root.resolve("data"))
        try st.iterator().asScala.count(_.toString.endsWith(".parquet"))
        finally st.close()
      }
      val before = parquetCount
      // negative horizon → cutoff in the future: vacuum regardless of
      // age (the scenario's files are seconds old; the DEFAULT 3h horizon
      // that protects in-flight writers is spec-tested)
      val removed = t.removeOrphanFiles(olderThanMs = -60000L)
      val after = parquetCount
      t.read()
        .withColumn("files_before", lit(before))
        .withColumn("removed", lit(removed))
        .withColumn("files_after", lit(after))
        .withColumn("travel_rows", lit(t.read(asOf = 0).count()))
        .orderBy("name", "count")
    },

    // Changelog (CDC) read — Iceberg's create_changelog_view: row-level
    // changes in (0, head], each stamped with change_type/change_seq. The
    // mixed commit at seq 1 emits BOTH its delete (the pre-commit 'A'
    // row, matched via the equality keys against the seq-0 state) and its
    // insert (the reborn 'A' — untouched by its own delete, the seq
    // scoping rule); seq 2 emits a pure delete; seq 3 pure inserts. A
    // downstream consumer replays exactly these rows in commit order
    // instead of diffing snapshots — cost ∝ changed data, not history.
    Q(
      "t_changelog",
      """SELECT * FROM (VALUES
        |  ('A','small',2,'delete',CAST(1 AS BIGINT)),
        |  ('A','reborn',99,'insert',CAST(1 AS BIGINT)),
        |  ('B','medium',15,'delete',CAST(2 AS BIGINT)),
        |  ('A','small',102,'insert',CAST(3 AS BIGINT)),
        |  ('B','medium',115,'insert',CAST(3 AS BIGINT)),
        |  ('C','medium',110,'insert',CAST(3 AS BIGINT)),
        |  ('D','small',120,'insert',CAST(3 AS BIGINT)),
        |  ('E','large',120,'insert',CAST(3 AS BIGINT)))
        |  AS t(name, size, count, change_type, change_seq)
        |ORDER BY change_seq, change_type, name, count""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "changelog")
      t.append(items(s))                                          // seq 0
      t.appendAndDelete(                                          // seq 1: mixed
        Seq(("A", "reborn", 99)).toDF("name", "size", "count"),
        Seq("A").toDF("name"), equalityCols = Seq("name"))
      t.delete(Seq("B").toDF("name"), Seq("name"))                // seq 2
      t.append(items(s).withColumn("count", col("count") + 100))  // seq 3
      t.readChangelog(fromSeq = 0)
        .select("name", "size", "count", "change_type", "change_seq")
        .orderBy("change_seq", "change_type", "name", "count")
    },

    // SCD2 (type-2 dimension history) derived from the changelog: the
    // classic CDC-consumption shape. Each insert opens a version
    // (valid_from = its commit); the key's NEXT changelog event — the
    // equality delete an upsert or delete emits — closes it (valid_to).
    // Join-free: one changelog read + ONE window keyed on the business
    // key, so the shuffle is on `name` and cost ∝ changed rows in the
    // range, never ∝ table history or a self-join of versions. The
    // upsert discipline (delete-old + insert-new in one mixed commit)
    // makes events per key strictly alternate, which the lead() pairing
    // relies on; 'delete' < 'insert' orders a same-seq pair correctly.
    Q(
      "t_scd2",
      """SELECT * FROM (VALUES
        |  ('A','small',2,  CAST(0 AS BIGINT), CAST(2 AS BIGINT),    false),
        |  ('A','small',3,  CAST(2 AS BIGINT), CAST(NULL AS BIGINT), true),
        |  ('B','medium',15, CAST(0 AS BIGINT), CAST(1 AS BIGINT),   false),
        |  ('B','medium',150,CAST(1 AS BIGINT), CAST(NULL AS BIGINT),true),
        |  ('C','medium',10, CAST(0 AS BIGINT), CAST(3 AS BIGINT),   false),
        |  ('D','small',20, CAST(0 AS BIGINT), CAST(NULL AS BIGINT), true),
        |  ('E','large',20, CAST(0 AS BIGINT), CAST(NULL AS BIGINT), true),
        |  ('F','new',1,    CAST(2 AS BIGINT), CAST(NULL AS BIGINT), true))
        |  AS t(name, size, count, valid_from, valid_to, is_current)
        |ORDER BY name, valid_from""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "scd2")
      t.append(items(s))                                            // seq 0
      t.upsert(Seq(("B", "medium", 150)).toDF("name", "size", "count"),
        keyCols = Seq("name"))                                      // seq 1
      t.upsert(Seq(("A", "small", 3), ("F", "new", 1))
        .toDF("name", "size", "count"), keyCols = Seq("name"))      // seq 2
      t.delete(Seq("C").toDF("name"), Seq("name"))                  // seq 3
      val byKey = org.apache.spark.sql.expressions.Window
        .partitionBy("name").orderBy("change_seq", "change_type")
      // fromSeq is exclusive; -1 includes the initial seq-0 load so the
      // first version of every key opens at valid_from = 0
      t.readChangelog(fromSeq = -1)
        .withColumn("nxt_type", lead("change_type", 1).over(byKey))
        .withColumn("nxt_seq", lead("change_seq", 1).over(byKey))
        .filter($"change_type" === "insert")
        .select($"name", $"size", $"count",
          $"change_seq".as("valid_from"),
          when($"nxt_type" === "delete", $"nxt_seq").as("valid_to"),
          $"nxt_type".isNull.as("is_current"))
        .orderBy("name", "valid_from")
    },

    // Copy-on-write UPDATE WHERE key = value: stats+bloom pruning picks
    // the ONE file that may hold the key; only it is rewritten (with the
    // assignment applied), the other files are adopted by path into the
    // replace entry — never read, never moved. files_rewritten/files_kept
    // pin the pruning actually worked; row_id_kept pins that the update
    // kept the row's identity (a new version of the SAME row — upsert
    // would mint a new id); travel_rows pins pre-update history intact.
    Q(
      "t_cow_update",
      """SELECT * FROM (VALUES
        |  ('A','small',2),('B','medium',15),('C','medium',10),
        |  ('D','small',1020),('E','large',20),('G','post',7)) AS t(name, size, count)
        |CROSS JOIN (VALUES (CAST(1 AS BIGINT), CAST(2 AS BIGINT), true, CAST(6 AS BIGINT)))
        |  AS m(files_rewritten, files_kept, row_id_kept, travel_rows)
        |ORDER BY name, count""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "cow")
      t.append(Seq(("A", "small", 2), ("B", "medium", 15))
        .toDF("name", "size", "count").repartition(1),
        statsCols = Seq("name"), bloomCols = Seq("name"))            // seq 0
      t.append(Seq(("C", "medium", 10), ("D", "small", 20))
        .toDF("name", "size", "count").repartition(1),
        statsCols = Seq("name"), bloomCols = Seq("name"))            // seq 1
      t.append(Seq(("E", "large", 20), ("G", "post", 7))
        .toDF("name", "size", "count").repartition(1),
        statsCols = Seq("name"), bloomCols = Seq("name"))            // seq 2
      val idBefore = t.readWithLineage().filter(col("name") === "D")
        .select("_row_id").head.getLong(0)
      val before = t.commitLog.state()._1.map(_._1).toSet
      val preSeq = t.headSeq
      t.updateWhereEq("name", "D",
        Map("count" -> (col("count") + 1000)),
        statsCols = Seq("name"), bloomCols = Seq("name"))            // seq 3
      val after = t.commitLog.state()._1.map(_._1)
      val idAfter = t.readWithLineage().filter(col("name") === "D")
        .select("_row_id").head.getLong(0)
      t.read()
        .withColumn("files_rewritten", lit(after.count(f => !before(f)).toLong))
        .withColumn("files_kept", lit(after.count(before).toLong))
        .withColumn("row_id_kept", lit(idAfter == idBefore))
        .withColumn("travel_rows", lit(t.read(asOf = preSeq).count()))
        .orderBy("name", "count")
    },

    // Deletion vectors (Iceberg v3 DVs) + rewrite_position_delete_files:
    // two positional-delete commits accumulate, then fold into ONE
    // deletion-vector generation — a per-data-file bitmap the read path
    // applies as a broadcast probe + row-local bit test instead of one
    // anti-join per delete commit. The update-heavy-table maintenance
    // loop: K delete commits cost K joins until the rewrite makes them
    // one. dv_generations pins that exactly one positional generation is
    // live after the fold; dv_only pins that every live delete file IS a
    // vector; the row set pins that folding changed nothing.
    Q(
      "t_deletion_vector",
      """SELECT * FROM (VALUES
        |  ('A','large',7),('B','medium',15),('C','medium',10),
        |  ('D','small',20),('E','large',20),('G','post',2)) AS t(name, size, count)
        |CROSS JOIN (VALUES (4, 1, true, CAST(8 AS BIGINT)))
        |  AS m(commits_before, dv_generations, dv_only, travel_rows)
        |ORDER BY name, count""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "dv")
      t.append(itemsWithDup(s))                                   // seq 0: two A's
      t.append(Seq(("F", "post", 1), ("G", "post", 2))
        .toDF("name", "size", "count"))                           // seq 1
      def addr(pred: org.apache.spark.sql.Column) =
        t.readWithPos().filter(pred).select("_file", "_pos")
      t.deleteAt(addr(col("name") === "A" && col("count") === 2)) // seq 2
      t.deleteAt(addr(col("name") === "F"))                       // seq 3
      val commitsBefore = t.headSeq + 1
      val rw = t.rewritePositionDeletes()                         // seq 4: one DV
      val live = t.commitLog.state()._2
      t.read()
        .withColumn("commits_before", lit(commitsBefore.toInt))
        .withColumn("dv_generations", lit(live.map(_._2).distinct.size))
        .withColumn("dv_only",
          lit(live.nonEmpty && live.forall(_._3 == _root_.graft.table.CommitLog.DvCols)))
        .withColumn("travel_rows", lit(t.read(asOf = rw - 3).count())) // pre-delete epoch
        .orderBy("name", "count")
    },

    // Row lineage (Iceberg v3): every appended row gets a stable _row_id
    // assigned from the table's next-row-id counter as MANIFEST metadata
    // (no bytes written into data files on the append path), plus a
    // _last_seq version stamp. Deletes around a row never move its id; an
    // upsert produces a NEW row version with a fresh id (MoR equality
    // semantics); a full compaction MATERIALIZES ids into the rewritten
    // files so they survive; the counter continues above burned ids
    // afterwards. stable_after_compact pins byte-identical lineage across
    // the rewrite; ids_unique pins no id was ever double-assigned.
    Q(
      "t_row_lineage",
      """SELECT * FROM (VALUES
        |  ('A', CAST(0 AS BIGINT), CAST(0 AS BIGINT)),
        |  ('D', CAST(3 AS BIGINT), CAST(1 AS BIGINT)),
        |  ('E', CAST(4 AS BIGINT), CAST(1 AS BIGINT)),
        |  ('C', CAST(5 AS BIGINT), CAST(3 AS BIGINT)),
        |  ('F', CAST(6 AS BIGINT), CAST(5 AS BIGINT))) AS t(name, row_id, last_seq)
        |CROSS JOIN (VALUES (true, true)) AS m(stable_after_compact, ids_unique)
        |ORDER BY row_id""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "rowlin")
      t.append(Seq(("A", 1), ("B", 2), ("C", 3)).toDF("name", "v")) // seq 0: ids 0-2
      t.append(Seq(("D", 4), ("E", 5)).toDF("name", "v"))           // seq 1: ids 3,4
      t.delete(Seq("B").toDF("name"), Seq("name"))                  // seq 2
      t.upsert(Seq(("C", 30)).toDF("name", "v"), Seq("name"))       // seq 3: id 5
      def snap() = t.readWithLineage()
        .select(col("name"), col("_row_id"), col("_last_seq"))
        .as[(String, Long, Long)].collect().sortBy(_._2).toSeq
      val before = snap()                                           // MV-sized collect
      t.compact()                                                   // seq 4
      val stable = snap() == before
      t.append(Seq(("F", 6)).toDF("name", "v"))                     // seq 5: id 6
      val ids = snap().map(_._2)
      t.readWithLineage()
        .select(col("name"), col("_row_id").as("row_id"),
          col("_last_seq").as("last_seq"))
        .withColumn("stable_after_compact", lit(stable))
        .withColumn("ids_unique", lit(ids.distinct.size == ids.size))
        .orderBy("row_id")
    },

    // Default column values (Iceberg v3 initial-defaults): addColumn with
    // a default is METADATA-ONLY — rows in files that predate the column
    // read the default; rows written after it read exactly what their
    // writer stored, INCLUDING explicit nulls (the default is not a
    // null-coalescing view). The default survives later appends' schema
    // stamps and a rename (field-id metadata), and pre-add snapshots
    // travel without the column (pre_add_cols pins it).
    Q(
      "t_default_values",
      """SELECT * FROM (VALUES
        |  ('A', 1, 'unrated'), ('B', 2, 'unrated'),
        |  ('C', 3, 'good'), ('D', 4, NULL), ('E', 5, 'ok'))
        |  AS t(name, v, rating)
        |CROSS JOIN (VALUES (CAST(2 AS BIGINT), true)) AS m(pre_add_cols, metadata_only)
        |ORDER BY v""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "defaults")
      t.append(Seq(("A", 1), ("B", 2)).toDF("name", "v"))   // seq 0
      val dataFilesBefore = t.commitLog.state()._1.map(_._1).toSet
      t.addColumn("grade", org.apache.spark.sql.types.StringType,
        defaultSql = Some("'unrated'"))                     // seq 1: metadata-only
      val metadataOnly = t.commitLog.state()._1.map(_._1).toSet == dataFilesBefore
      t.append(Seq(("C", 3, "good"), ("D", 4, null))
        .toDF("name", "v", "grade"))                        // seq 2: explicit null kept
      t.append(Seq(("E", 5, "ok")).toDF("name", "v", "grade")) // seq 3
      t.renameColumn("grade", "rating")                     // seq 4: default follows
      t.read()
        .withColumn("pre_add_cols", lit(t.read(asOf = 0).columns.length.toLong))
        .withColumn("metadata_only", lit(metadataOnly))
        .select("name", "v", "rating", "pre_add_cols", "metadata_only")
        .orderBy("v")
    },

    // Stats backfill (compute-stats maintenance): two stat-less ingest
    // epochs leave files a bounded probe must open blind (never-prune
    // without bounds); recomputeStats reads the named column's footer
    // bounds and re-commits the same files metadata-only with them —
    // after which the probe opens just the intersecting file. Golden
    // pins data unchanged, the before/after open counts, and that the
    // backfill added exactly one (replace) snapshot.
    Q(
      "t_stats_backfill",
      """SELECT * FROM (VALUES
        |  ('A','small',2),('B','medium',15),('C','medium',10),
        |  ('D','small',20),('E','large',20),
        |  ('A','small',102),('B','medium',115),('C','medium',110),
        |  ('D','small',120),('E','large',120)) AS t(name, size, count)
        |CROSS JOIN (VALUES (2, 1, CAST(3 AS BIGINT)))
        |  AS m(files_blind, files_after, snaps)
        |ORDER BY count, name""",
    ) { (s, _) =>
      val t = tmpTable(s, "statsbf")
      // stat-less ingest: no statsCols at append time (repartition(1)
      // pins one file per epoch so the open counts are deterministic)
      t.append(items(s).repartition(1))                                   // counts 2..20
      t.append(items(s).withColumn("count", col("count") + 100)
        .repartition(1))                                                  // counts 102..120
      val blind = t.planScan("count BETWEEN 100 AND 130").filesOpened
      t.recomputeStats(Seq("count"))
      val after = t.planScan("count BETWEEN 100 AND 130").filesOpened
      t.read()
        .withColumn("files_blind", lit(blind))
        .withColumn("files_after", lit(after))
        .withColumn("snaps", lit(t.snapshots.size.toLong))
        .orderBy("count", "name")
    },

    // The CATALOG surface (lib.rs:21-78): namespace + table resolution
    // over a warehouse root, exercised end-to-end — idempotent namespace
    // create, the reference's exists→drop→create table init (a re-create
    // RESETS history: head_after_recreate pins that the old snapshots are
    // gone, exactly lib.rs's drop-then-create), 404-tolerant drop, and
    // listings that only surface directories with a commit log. Golden
    // pins the surviving table's content plus every catalog answer.
    Q(
      "t_catalog",
      """SELECT * FROM (VALUES
        |  ('A','small',2),('B','medium',15),('C','medium',10),
        |  ('D','small',20),('E','large',20)) AS t(name, size, count)
        |CROSS JOIN (VALUES (1, 2, 1, true, true, CAST(1 AS BIGINT),
        |                    true, CAST(10 AS BIGINT)))
        |  AS m(n_ns, tables_before, tables_after, drop_hit, drop_miss_false,
        |       head_after_recreate, renamed_only, renamed_head_rows)
        |ORDER BY name""",
    ) { (s, _) =>
      val cat = GraftCatalog(s,
        Files.createTempDirectory("graft_cat").toString)
      cat.createNamespace("test-ns")
      cat.createNamespace("test-ns") // idempotent (REST 409-tolerance)
      val t1 = cat.createTable("test-ns", "test-table-1")
      t1.append(items(s)) // seq 0
      t1.append(items(s)) // seq 1 — history the re-create below must drop
      val t2 = cat.createTable("test-ns", "test-table-2")
      t2.append(items(s))
      val before = cat.listTables("test-ns").size
      val dropHit = cat.dropTable("test-ns", "test-table-2")
      val dropMiss = cat.dropTable("test-ns", "test-table-2") // 404-tolerant
      val after = cat.listTables("test-ns").size
      val t1b = cat.createTable("test-ns", "test-table-1") // exists→drop→create
      t1b.append(items(s)) // fresh seq 0: history reset by the re-create
      t1b.append(items(s)) // seq 1 — history the rename must carry over
      // catalog rename: a metadata-only directory move; the renamed
      // table serves its FULL history (relative log paths), proven by
      // reading head (10 rows) and time-travelling to seq 0 (5 rows —
      // the golden's base relation)
      cat.renameTable("test-ns", "test-table-1", "test-table-renamed")
      val tr = cat.openTable("test-ns", "test-table-renamed")
      val renamedOnly = cat.listTables("test-ns") == Seq("test-table-renamed")
      tr.read(asOf = 0)
        .withColumn("n_ns", lit(cat.namespaces.size))
        .withColumn("tables_before", lit(before))
        .withColumn("tables_after", lit(after))
        .withColumn("drop_hit", lit(dropHit))
        .withColumn("drop_miss_false", lit(!dropMiss))
        .withColumn("head_after_recreate", lit(tr.headSeq))
        .withColumn("renamed_only", lit(renamedOnly))
        .withColumn("renamed_head_rows", lit(tr.read().count()))
        .orderBy("name")
    },

    // A PERSISTENT ANN index served from the table layer — the vector
    // analogue of t_dedup_index. Build: every vector is k-means-assigned
    // to its nearest of 16 coarse centroids (broadcast codebook + map-side
    // max_by argmax, the q_sim_ann_ivf kernel) and committed
    // identity-PARTITIONED by list id. Maintain: a later batch of new
    // vectors is assigned and fast-appended — cost ∝ the delta, never a
    // rebuild (the assignment of old vectors is immutable given the
    // codebook). Serve: a probe ranks the 16 centroids (metadata-sized
    // planning, like Iceberg manifest pruning — the only collect is the
    // ≤ nprobe·probes list-id set), then reads ONLY its nprobe=4 nearest
    // lists via one partition-pruned IN scan — opening nprobe/nlist of the
    // index files — and re-scores those candidates exactly. At 100 TB:
    // nlist scales with N to bound list size, probes batch into a
    // broadcast join keyed on list_id, and index maintenance stays an
    // append-only stream of assigned deltas. The oracle recomputes the
    // same top-5 from the raw embeddings table — proving the two-commit
    // (build + delta) index serves results identical to a fresh
    // single-pass index.
    Q(
      "t_ann_index",
      s"""WITH av AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c0 AS (SELECT vec_id AS cid, v AS cv FROM av WHERE vec_id < 16),
         |la AS (SELECT a.vec_id, a.v, c.cid,
         |         ${VectorQueries.cosSql("a.v", "c.cv")} AS csim FROM av a, c0 c),
         |asg AS (SELECT vec_id, v, cid AS list_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY csim DESC, cid) AS crn FROM la)
         |  WHERE crn = 1),
         |pr AS (SELECT vec_id AS probe_id, v AS pv FROM av WHERE vec_id IN (3, 47)),
         |pl AS (SELECT probe_id, pv, cid AS list_id FROM (
         |    SELECT p.probe_id, p.pv, c.cid,
         |           row_number() OVER (PARTITION BY p.probe_id
         |             ORDER BY ${VectorQueries.cosSql("p.pv", "c.cv")} DESC, c.cid) AS crn
         |    FROM pr p, c0 c)
         |  WHERE crn <= 4),
         |cand AS (SELECT l.probe_id, a.vec_id, ${VectorQueries.cosSql("l.pv", "a.v")} AS score
         |         FROM pl l JOIN asg a ON a.list_id = l.list_id AND a.vec_id <> l.probe_id)
         |SELECT probe_id, rank, vec_id, CAST(ROUND(score * 1e6) AS BIGINT) AS score_x1e6
         |FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
         |        ORDER BY score DESC, vec_id) AS rank FROM cand)
         |WHERE rank <= 5 ORDER BY probe_id, rank""",
    ) { (s, dir) =>
      // share VectorQueries' scoring kernel — these helpers carry the
      // bit-exactness contract the oracles depend on; one definition
      import VectorQueries.{cosine, dot}
      val emb = _root_.graft.Tables.spread(_root_.graft.Tables.embeddings(s, dir))
        .select(col("vec_id"), col("embedding"))
        .withColumn("vn", dot(col("embedding"), col("embedding")))
      // the 16-row codebook is the broadcast side of THREE plans (two
      // assignment epochs + probe planning): pin it once instead of
      // re-running scan+spread per use
      val c0 = emb.filter(col("vec_id") < 16)
        .select(col("vec_id").as("cid"), col("embedding").as("cv"), col("vn").as("cn"))
        .localCheckpoint(true)
      def assign(df: DataFrame): DataFrame =
        df.crossJoin(broadcast(c0))
          .withColumn("csim", cosine(dot(col("embedding"), col("cv")), col("vn"), col("cn")))
          .groupBy(col("vec_id"))
          .agg(max_by(col("cid"), struct(col("csim"), (-col("cid")).as("nc"))).as("list_id"),
            first(col("embedding")).as("embedding"), first(col("vn")).as("vn"))
          .select(col("list_id"), col("vec_id"), col("embedding"), col("vn"))
      val t = tmpTable(s, "annidx")
      val spec = PartitionSpec("list_id", Transform.Identity)
      t.appendPartitioned(assign(emb.filter(col("vec_id") % 5 =!= 0)), spec) // build
      t.appendPartitioned(assign(emb.filter(col("vec_id") % 5 === 0)), spec) // delta batch
      val probes = emb.filter(col("vec_id").isin(3L, 47L))
        .select(col("vec_id").as("probe_id"), col("embedding").as("pv"), col("vn").as("pn"))
      val probeLists = probes.crossJoin(broadcast(c0))
        .withColumn("csim", cosine(dot(col("pv"), col("cv")), col("pn"), col("cn")))
        .withColumn("crn", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("probe_id")
            .orderBy(col("csim").desc, col("cid"))))
        .filter(col("crn") <= 4)
        .select(col("probe_id"), col("pv"), col("pn"), col("cid").as("list_id"))
      // index planning: the distinct list-id set (≤ nprobe·probes rows,
      // metadata-sized) decides which partitions to open — ONE pruned
      // IN scan, not nprobe unioned readEq plans
      val lists = probeLists.select("list_id").distinct().collect().map(_.getLong(0))
      val cand = t.planScan(s"list_id IN (${lists.mkString(", ")})").read
      cand.join(broadcast(probeLists), Seq("list_id"))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("score", cosine(dot(col("pv"), col("embedding")), col("pn"), col("vn")))
        .withColumn("rank", row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("probe_id")
            .orderBy(col("score").desc, col("vec_id"))))
        .filter(col("rank") <= 5)
        .select(col("probe_id"), col("rank").cast("long").as("rank"), col("vec_id"),
          round(col("score") * 1e6).cast("long").as("score_x1e6"))
        .orderBy("probe_id", "rank")
    },

    // Governance × clone composition (r8): policies are table PROPERTIES,
    // properties are log entries, and a shallow clone replays the log —
    // so a masked, row-filtered table stays governed through cloneTo with
    // ZERO policy re-declaration (the audit-sandbox shape: hand a
    // redacted zero-copy clone to a consumer). Divergence is one-way:
    // the clone relaxing its row filter re-admits rows CLONE-SIDE only,
    // while the source keeps enforcing — two logs, two folds. Golden
    // pins the redacted/filtered rows through the clone before and after
    // the clone-side relaxation, plus the untouched source count.
    Q(
      "t_governed_clone",
      """SELECT name, count, CAST(4 AS BIGINT) AS inherited_rows,
        |  CAST(4 AS BIGINT) AS src_rows
        |FROM (VALUES ('***', 2), ('***', 10), ('***', 15), ('***', 20), ('***', 20))
        |  AS t(name, count)
        |ORDER BY count, name""",
    ) { (s, _) =>
      val t = tmpTable(s, "govclone")
      t.append(items(s))
      t.setProperties(Map("mask.name" -> "redact", "filter.row" -> "count >= 10"))
      val c = t.cloneTo(Files.createTempDirectory("graft_govclone_dst").toString)
      val inherited = c.readGoverned().count() // policy enforced through the clone
      c.setProperties(Map("filter.row" -> "")) // clone-side relaxation
      c.readGoverned().select(col("name"), col("count"))
        .withColumn("inherited_rows", lit(inherited))
        .withColumn("src_rows", lit(t.readGoverned().count())) // source unmoved
        .orderBy("count", "name")
    },

    // add_files import (r8): adopt a pre-existing raw parquet lake into a
    // governed table as ONE metadata commit — no byte copied, no rewrite
    // (Iceberg's add_files procedure, Delta's CONVERT TO DELTA). The
    // adopted files keep their external absolute paths in the log (the
    // same out-of-root adoption shallow clones use), get footer row
    // counts + per-file stats at adoption (so data skipping prunes them
    // immediately), and join row-id lineage like any native append. The
    // 100 TB story: migrating a lake in O(manifest) instead of O(data).
    // Golden pins the merged read (native + adopted rows); in-place
    // adoption and stats pruning are hard-asserted in the body, and the
    // deep checks (vacuum safety, compaction re-homing) live in
    // TableLayerSpec.
    Q(
      "t_add_files",
      """SELECT * FROM (VALUES
        |  ('A','small',2),('A','small',202),('B','medium',15),('B','medium',215),
        |  ('C','medium',10),('C','medium',210),('D','small',20),('D','small',220),
        |  ('E','large',20),('E','large',220)) AS t(name, size, count)
        |ORDER BY name, count""",
    ) { (s, _) =>
      val t = tmpTable(s, "addfiles")
      t.append(items(s), statsCols = Seq("count"))
      // the "legacy lake": parquet written OUTSIDE the table by a
      // foreign writer (two shards, pinned for the pruning assert)
      val ext = Files.createTempDirectory("graft_legacy_lake").resolve("items")
      items(s).withColumn("count", col("count") + 200)
        .repartition(2).write.parquet(ext.toString)
      val extFiles = Files.walk(ext).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(_.toString).toSeq.sorted
      t.addFiles(extFiles, statsCols = Seq("count"))
      // adopted in place: every external file is live AT its original path
      val live = t.filesMeta.select("path").collect().map(_.getString(0)).toSet
      require(extFiles.forall(live), "adopted files must stay at their external paths")
      require(extFiles.forall(f => !f.startsWith(t.root.toString)),
        "fixture broke: legacy files must live outside the table root")
      // adoption stats prune: a count>200 probe opens no native file
      require(t.planScan("count BETWEEN 202 AND 10000").filesOpened <= 2,
        "adopted per-file stats must prune the native files")
      t.read().orderBy("name", "count")
    },

    // CDC replication (r8): the Delta-CDF / Iceberg-changelog consumption
    // loop — a downstream REPLICA follows the source by reading the
    // changelog once per sync and applying each commit's delta as ONE
    // atomic mixed commit (deletes + inserts together, like the source's
    // own upserts), so the replica passes through the same consistent
    // states the source did, in order. Cost per sync ∝ changed rows
    // (one changelog read, one commit per source epoch) — never a source
    // rescan or a full diff. The per-epoch driver loop is metadata-sized
    // (epochs per sync, not rows). Golden pins the fully-synced replica;
    // the body hard-asserts replica ≡ source both ways.
    Q(
      "t_replicate",
      """SELECT * FROM (VALUES
        |  ('A','small',102, CAST(6 AS BIGINT), CAST(2 AS BIGINT)),
        |  ('A','v2',500, CAST(6 AS BIGINT), CAST(2 AS BIGINT)),
        |  ('B','medium',115, CAST(6 AS BIGINT), CAST(2 AS BIGINT)),
        |  ('C','medium',10, CAST(6 AS BIGINT), CAST(2 AS BIGINT)),
        |  ('C','medium',110, CAST(6 AS BIGINT), CAST(2 AS BIGINT)),
        |  ('D','small',20, CAST(6 AS BIGINT), CAST(2 AS BIGINT)),
        |  ('D','small',120, CAST(6 AS BIGINT), CAST(2 AS BIGINT)),
        |  ('E','large',20, CAST(6 AS BIGINT), CAST(2 AS BIGINT)),
        |  ('E','large',120, CAST(6 AS BIGINT), CAST(2 AS BIGINT)))
        |  AS t(name, size, count, n_inserts, n_deletes)
        |ORDER BY name, count""",
    ) { (s, _) =>
      import s.implicits._
      val src = tmpTable(s, "replsrc")
      src.append(items(s)) // seq 0
      val replica = tmpTable(s, "repldst")
      replica.append(src.read()) // initial full load at the sync point
      // source evolves past the sync point
      src.upsert(Seq(("A", "v2", 500)).toDF("name", "size", "count"), Seq("name")) // seq 1
      src.delete(Seq("B").toDF("name"), Seq("name"))                               // seq 2
      src.append(items(s).withColumn("count", col("count") + 100))                 // seq 3
      // ONE changelog read for the whole sync window (fromSeq is the
      // sync point, EXCLUSIVE — the snapshot the replica already holds);
      // apply per source epoch, each as one atomic mixed commit.
      // Changelog deletes name exact ROWS, so the replica-side equality
      // delete keys on the full row — an upstream key-delete replays as
      // its row-level effects.
      val log = src.readChangelog(fromSeq = 0)
        .select("name", "size", "count", "change_type", "change_seq").cache()
      // epoch plan + insert/delete tallies from ONE metadata-sized
      // aggregate collect (r13, guide §5 driver round-trips): the r12
      // loop paid two extra count() actions per epoch just to report
      // n_inserts/n_deletes. The apply loop itself stays sequential —
      // replaying commits in order IS the scenario.
      val epochCounts = log.groupBy("change_seq", "change_type").count()
        .collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      val nIns = epochCounts.collect { case ((_, "insert"), n) => n }.sum
      val nDel = epochCounts.collect { case ((_, "delete"), n) => n }.sum
      epochCounts.keys.map(_._1).toSeq.distinct.sorted.foreach { sq =>
        val epoch = log.filter(col("change_seq") === sq)
        val ins = epoch.filter(col("change_type") === "insert")
          .select("name", "size", "count")
        val del = epoch.filter(col("change_type") === "delete")
          .select("name", "size", "count")
        replica.appendAndDelete(ins, del, equalityCols = Seq("name", "size", "count"))
      }
      // replica ≡ source, both directions — ONE action for both legs
      require(replica.read().exceptAll(src.read())
        .unionAll(src.read().exceptAll(replica.read())).isEmpty,
        "replica diverged from source after CDC apply")
      replica.read()
        .withColumn("n_inserts", lit(nIns))
        .withColumn("n_deletes", lit(nDel))
        .orderBy("name", "count")
    },

    // Policy-driven maintenance (r8): the table DECLARES its upkeep as
    // properties (compact target, expiration, vacuum horizon) and one
    // maintain() call applies them — the Delta auto-optimize / Iceberg
    // table-property operations model: policy travels WITH the table
    // (through clones and branches, like every property), and the
    // scheduler that fires maintain() needs zero table-specific config.
    // Golden pins the surviving rows AND the report counts; file/entry
    // shapes are pinned by explicit repartitions in the fixture.
    Q(
      "t_maintain_policy",
      """SELECT * FROM (VALUES
        |  ('A','small',2, CAST(4 AS BIGINT), CAST(7 AS BIGINT), true),
        |  ('B','medium',15, CAST(4 AS BIGINT), CAST(7 AS BIGINT), true),
        |  ('C','medium',10, CAST(4 AS BIGINT), CAST(7 AS BIGINT), true),
        |  ('D','small',20, CAST(4 AS BIGINT), CAST(7 AS BIGINT), true))
        |  AS t(name, size, count, compacted_small, expired_entries, policy_kept)
        |ORDER BY name""",
    ) { (s, _) =>
      import s.implicits._
      val t = tmpTable(s, "maintpol")
      t.setProperties(Map(                                      // seq 0
        "maint.compact.target-bytes" -> (1L << 20).toString,
        "maint.expire.enabled" -> "true",
        "maint.vacuum.horizon-ms" -> "0"))
      // four tiny single-file appends + one (matchless) delete = the
      // classic neglected-ingest shape maintain() exists for
      Seq(("A", "small", 2), ("B", "medium", 15),
        ("C", "medium", 10), ("D", "small", 20)).foreach { r => // seq 1-4
        t.append(Seq(r).toDF("name", "size", "count").repartition(1))
      }
      t.delete(Seq("E").toDF("name"), Seq("name"))              // seq 5
      val report = t.maintain() // compactSmall @6, expire-compact @7,
                                // drop 0-6, props re-stamp @8
      // the policy SURVIVES its own expiration step (the r8 fix: the
      // pre-expiration property fold is re-stamped) — without it the
      // next maintain() would be a silent no-op forever
      val kept = t.properties().get("maint.expire.enabled").contains("true")
      t.read()
        .withColumn("compacted_small", lit(report.getOrElse("compacted_small", -1L)))
        .withColumn("expired_entries", lit(report.getOrElse("expired_entries", -1L)))
        .withColumn("policy_kept", lit(kept))
        .orderBy("name")
    },

    // SQL text front end over the GOVERNED table layer (GraftSql): the
    // reference serves its Iceberg tables to plain spark.sql through the
    // Iceberg catalog plugin (docker-compose.yml:58-81); this scenario
    // drives that capability end-to-end over a GraftCatalog — INSERT INTO
    // lands a commit, VERSION AS OF reads history, a scalar subquery and
    // the outer query both resolve graft relations, and — the semantic a
    // raw-file catalog shortcut would get WRONG — an equality delete
    // committed between the reads is APPLIED by the SQL head read,
    // because every substituted relation goes through the same
    // merge-on-read plan as the Scala API. Oracle: DuckDB recomputes all
    // stages from the raw lineitem slices.
    Q(
      "t_sql_frontend",
      """WITH a AS (SELECT CAST(l_quantity AS BIGINT) AS qty, l_returnflag
        |           FROM lineitem WHERE l_linenumber = 1),
        |b AS (SELECT CAST(l_quantity AS BIGINT) AS qty, l_returnflag
        |      FROM lineitem WHERE l_linenumber = 2),
        |head AS (SELECT * FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
        |         WHERE l_returnflag <> 'R'),
        |v0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0, CAST(SUM(qty) AS BIGINT) AS s0 FROM a),
        |ins AS (SELECT CAST(COUNT(*) AS BIGINT) AS bi FROM b),
        |abv AS (SELECT CAST(COUNT(*) AS BIGINT) AS na
        |        FROM head, (SELECT SUM(qty) AS t, COUNT(*) AS c FROM head)
        |        WHERE qty * c > t)
        |SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(qty) AS BIGINT) AS sum_qty,
        |  n0 AS v0_n, s0 AS v0_sum_qty, bi AS ins_rows,
        |  CAST(1 AS BIGINT) AS ins_version, na AS n_above_mean
        |FROM head, v0, ins, abv
        |GROUP BY l_returnflag, n0, s0, bi, na
        |ORDER BY l_returnflag""",
    ) { (s, dir) =>
      val cat = GraftCatalog(s, Files.createTempDirectory("graft_sqlfe").toString)
      cat.createNamespace("sqlfe")
      val t = cat.createTable("sqlfe", "li")
      def slice(ln: Int): DataFrame = graft.Tables.lineitem(s, dir)
        .filter(col("l_linenumber") === ln)
        .select(col("l_orderkey"), col("l_quantity").cast("long").as("qty"),
          col("l_returnflag"))
      t.append(slice(1))                                          // seq 0
      // INSERT INTO through SQL text: the source rides a temp view, the
      // target resolves through the catalog, the commit is a real append
      val srcView = s"sqlfe_src_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      slice(2).createOrReplaceTempView(srcView)
      val ins = try graft.sql.GraftSql.sql(s, cat,
          s"INSERT INTO graft.sqlfe.li SELECT * FROM $srcView").collect().head
        finally s.catalog.dropTempView(srcView)                   // seq 1
      // equality delete BETWEEN the SQL reads: head reads below must
      // apply it (merge-on-read through the SQL path, not a raw scan)
      import s.implicits._
      t.delete(Seq("R").toDF("l_returnflag"), Seq("l_returnflag")) // seq 2
      val byFlag = graft.sql.GraftSql.sql(s, cat,
        """SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
          |  CAST(SUM(qty) AS BIGINT) AS sum_qty
          |FROM graft.sqlfe.li GROUP BY l_returnflag""".stripMargin)
      val v0 = graft.sql.GraftSql.sql(s, cat,
        """SELECT CAST(COUNT(*) AS BIGINT) AS v0_n,
          |  CAST(SUM(qty) AS BIGINT) AS v0_sum_qty
          |FROM graft.sqlfe.li VERSION AS OF 0""".stripMargin)
      // scalar subqueries over the SAME graft relation as the outer query
      val abv = graft.sql.GraftSql.sql(s, cat,
        """SELECT CAST(COUNT(*) AS BIGINT) AS n_above_mean
          |FROM graft.sqlfe.li
          |WHERE qty * (SELECT COUNT(*) FROM graft.sqlfe.li)
          |      > (SELECT SUM(qty) FROM graft.sqlfe.li)""".stripMargin)
      byFlag
        .crossJoin(broadcast(v0))
        .withColumn("ins_rows", lit(ins.getLong(1)))
        .withColumn("ins_version", lit(ins.getLong(2)))
        .crossJoin(broadcast(abv))
        .orderBy("l_returnflag")
    },

    // SQL DML over the governed table layer (GraftSql): DELETE, UPDATE
    // and MERGE statements routed onto the table's NATIVE rewrite shapes
    // — DELETE's equality predicate becomes a merge-on-read equality
    // delete (zero data I/O), UPDATE becomes the stats/bloom-pruned
    // copy-on-write updateWhereEq, and MERGE's update-or-insert (+
    // conditional DELETE clause) becomes one atomic mixed commit via
    // merge(). A predicate the native shapes can't serve fails loudly
    // instead of silently rewriting the table — the 100 TB contract.
    // Golden oracle: the B1 items fixture's lineage is hand-computed.
    Q(
      "t_sql_dml",
      """SELECT * FROM (VALUES
        |  ('B', 'medium', 50, CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(3 AS BIGINT)),
        |  ('C', 'medium', 110, CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(3 AS BIGINT)),
        |  ('F', 'tiny', 7, CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(3 AS BIGINT)))
        |  AS t(name, size, count, del_version, upd_version, mrg_version)
        |ORDER BY name""",
    ) { (s, _) =>
      import s.implicits._
      val cat = GraftCatalog(s, Files.createTempDirectory("graft_sqldml").toString)
      def dml(text: String): Long =
        graft.sql.GraftSql.sql(s, cat, text).collect().head.getLong(2)
      // the table itself is born through SQL: CREATE NAMESPACE + CTAS
      graft.sql.GraftSql.sql(s, cat, "CREATE NAMESPACE graft.dml")
      val seedView = s"dml_seed_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      items(s).createOrReplaceTempView(seedView)
      try dml(s"CREATE TABLE graft.dml.items AS SELECT * FROM $seedView") // seq 0
      finally s.catalog.dropTempView(seedView)
      val delV = dml("DELETE FROM graft.dml.items WHERE size = 'small'") // -A,-D
      val updV = dml(
        "UPDATE graft.dml.items SET count = count + 100 WHERE name = 'C'")
      val srcView = s"dml_src_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      Seq(("B", "medium", 50), ("E", "large", 0), ("F", "tiny", 7))
        .toDF("name", "size", "count").createOrReplaceTempView(srcView)
      val mrgV = try dml(
          s"""MERGE INTO graft.dml.items AS t USING $srcView AS s ON t.name = s.name
             |WHEN MATCHED AND s.count = 0 THEN DELETE
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
        finally s.catalog.dropTempView(srcView)
      graft.sql.GraftSql.sql(s, cat,
        "SELECT name, size, count FROM graft.dml.items")
        .withColumn("del_version", lit(delV))
        .withColumn("upd_version", lit(updV))
        .withColumn("mrg_version", lit(mrgV))
        .orderBy("name")
    },

    // TPC-H through the SQL front end over GOVERNED tables (r10 verdict
    // #1): the star schema is loaded into GraftTables BY SQL (CTAS via
    // GraftSql), then Q5 — the canonical 6-table star — runs with every
    // relation a `graft.tpch.*` MoR snapshot read. This is the first
    // place the SQL path and the table layer meet at real plan
    // complexity: filter pushdown and column pruning must reach the
    // snapshot parquet scans UNDER an 8-relation analyzer tree, the tiny
    // dims must still broadcast, and the result must be bit-identical to
    // the raw-parquet q_sql_q5 (same oracle). GraftSqlTpchSpec widens
    // this to Q1/Q9/Q21 result parity + plan pins; the reference
    // capability is its compose Spark querying the Iceberg catalog
    // (docker-compose.yml:58-81).
    Q(
      "t_sql_tpch",
      """SELECT n_name,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS revenue_x1e6
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1994-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-01-01'
        |GROUP BY n_name
        |ORDER BY revenue_x1e6 DESC, n_name""",
    ) { (s, dir) =>
      val cat = GraftCatalog(s, Files.createTempDirectory("graft_sqltpch").toString)
      graft.sql.TpchGoverned.load(s, cat, dir)
      graft.sql.GraftSql.sql(s, cat, graft.sql.TpchGoverned.Q5)
    },

    // The CORRELATED-SCALAR shape through the governed SQL path, under
    // the DRIVER's oracle gate (r12): TPC-H Q17's two correlated
    // aggregates over the same part-sliced fact, written as literal
    // subquery SQL against graft.tpch.* MoR reads — so the analyzer's
    // decorrelation machinery (rewriting the substituted snapshot
    // subplans into aggregate-joins the statement never spelled) is
    // verified against DuckDB, not just against the temp-view twin.
    // Only the two tables the query touches are CTAS-governed.
    Q(
      "t_sql_tpch_corr",
      """WITH pf AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#13' AND p_size <= 25),
        |agg AS (SELECT l_partkey, SUM(CAST(l_quantity AS BIGINT)) AS sq, COUNT(*) AS cnt
        |        FROM lineitem JOIN pf ON l_partkey = p_partkey GROUP BY 1)
        |SELECT
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) // 7 AS BIGINT) AS avg_yearly_x1e2,
        |  CAST(COUNT(*) AS BIGINT) AS n_small_lines
        |FROM lineitem l JOIN agg ON l.l_partkey = agg.l_partkey
        |WHERE 5 * CAST(l_quantity AS BIGINT) * cnt < sq""",
    ) { (s, dir) =>
      val cat = GraftCatalog(s, Files.createTempDirectory("graft_sqlcorr").toString)
      graft.sql.TpchGoverned.loadTables(s, cat, dir, Seq("part", "lineitem"))
      graft.sql.GraftSql.sql(s, cat, graft.sql.TpchGoverned.Q17)
    },

    // Exactly-once ingest from SQL (r11 verdict #6): `INSERT INTO t
    // SELECT /*+ TXN('appId', version) */ ...` routes onto
    // appendIdempotent — the Delta txnAppId/txnVersion contract, so an
    // ETL tool that crashes between writing and recording its offset
    // replays the SAME statement and the table dedups it (version ≤
    // watermark → no-op). The scenario drives the full lifecycle: first
    // insert lands, its replay no-ops, the next version lands, a
    // far-stale replay no-ops, an independent appId is unaffected.
    // Golden oracle: every (rows_appended, new_version) is determined
    // by the contract.
    Q(
      "t_sql_idempotent",
      """SELECT * FROM (VALUES
        |  ('backfill_v1', CAST(5 AS BIGINT), CAST(3 AS BIGINT)),
        |  ('final', CAST(20 AS BIGINT), CAST(3 AS BIGINT)),
        |  ('v1', CAST(5 AS BIGINT), CAST(1 AS BIGINT)),
        |  ('v1_replay', CAST(0 AS BIGINT), CAST(1 AS BIGINT)),
        |  ('v1_stale', CAST(0 AS BIGINT), CAST(2 AS BIGINT)),
        |  ('v2', CAST(5 AS BIGINT), CAST(2 AS BIGINT)))
        |  AS t(step, rows_appended, new_version)
        |ORDER BY step""",
    ) { (s, _) =>
      import s.implicits._
      val cat = GraftCatalog(s, Files.createTempDirectory("graft_sqltxn").toString)
      graft.sql.GraftSql.sql(s, cat, "CREATE NAMESPACE graft.etl")
      val seed = s"sqltxn_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      items(s).createOrReplaceTempView(seed)
      try {
        graft.sql.GraftSql.sql(s, cat,
          s"CREATE TABLE graft.etl.t AS SELECT * FROM $seed") // seq 0
        def ins(app: String, ver: Int): (Long, Long) = {
          val r = graft.sql.GraftSql.sql(s, cat,
            s"INSERT INTO graft.etl.t SELECT /*+ TXN('$app', $ver) */ * FROM $seed")
            .collect().head
          (r.getLong(1), r.getLong(2))
        }
        val steps = Seq(
          "v1" -> ins("etl", 1),
          "v1_replay" -> ins("etl", 1), // crash-replay of the same batch
          "v2" -> ins("etl", 2),
          "v1_stale" -> ins("etl", 1), // far-stale replay after v2
          "backfill_v1" -> ins("backfill", 1)) // independent appId
        val n = graft.sql.GraftSql.sql(s, cat,
          "SELECT COUNT(*) AS n FROM graft.etl.t").collect().head.getLong(0)
        (steps :+ ("final" -> (n, cat.openTable("etl", "t").headSeq)))
          .map { case (step, (rows, ver)) => (step, rows, ver) }
          .toDF("step", "rows_appended", "new_version")
          .orderBy("step")
      } finally s.catalog.dropTempView(seed)
    },

    // EXPLAIN through the SQL front end (r11 verdict #2): a notebook
    // user tuning a slow governed query sees (a) Spark's own plan text —
    // pushdown, pruning, join strategies — for the SUBSTITUTED MoR plan,
    // and (b) the `== Graft Scans ==` trailer reporting the manifest-
    // level file prune the Spark text cannot show (a pruned plan just
    // lists fewer files). The scenario CTAS-loads a partitioned table
    // through SQL, EXPLAINs a point probe, and emits the structural
    // facts as a golden row: the predicate reached the parquet scan as
    // a pushed filter, the probe pruned to exactly the one matching
    // partition file, and the snapshot held more files than the probe
    // opened.
    Q(
      "t_sql_explain",
      """SELECT CAST(1 AS BIGINT) AS pushed_filter,
        |  CAST(1 AS BIGINT) AS pruned_files,
        |  CAST(1 AS BIGINT) AS pruned_lt_total,
        |  CAST(1 AS BIGINT) AS full_scan_noted""",
    ) { (s, _) =>
      import s.implicits._
      val cat = GraftCatalog(s, Files.createTempDirectory("graft_sqlexp").toString)
      graft.sql.GraftSql.sql(s, cat, "CREATE NAMESPACE graft.ns")
      graft.sql.GraftSql.sql(s, cat,
        """CREATE TABLE graft.ns.t (name STRING, size STRING, count INT)
          |PARTITIONED BY (truncate(10, count))""".stripMargin)
      for (shift <- Seq(0, 100, 200)) {
        val src = s"sqlexp_${java.util.UUID.randomUUID().toString.replace("-", "")}"
        items(s).withColumn("count", col("count") + shift)
          .createOrReplaceTempView(src)
        try graft.sql.GraftSql.sql(s, cat,
          s"INSERT INTO graft.ns.t SELECT * FROM $src")
        finally s.catalog.dropTempView(src)
      }
      val plan = graft.sql.GraftSql.sql(s, cat,
        "EXPLAIN FORMATTED SELECT name FROM graft.ns.t WHERE count = 115")
        .collect().head.getString(0)
      val note = "prunes to (\\d+) of (\\d+) data files".r.findFirstMatchIn(plan)
      // an UNFILTERED read explains as a full snapshot scan, stated so
      val full = graft.sql.GraftSql.sql(s, cat,
        "EXPLAIN SELECT COUNT(*) FROM graft.ns.t").collect().head.getString(0)
      Seq((
        if (plan.contains("PushedFilters") && plan.contains("EqualTo(count,115)")) 1L else 0L,
        note.map(_.group(1).toLong).getOrElse(-1L),
        if (note.exists(m => m.group(1).toInt < m.group(2).toInt)) 1L else 0L,
        if (full.contains("full snapshot scan")) 1L else 0L))
        .toDF("pushed_filter", "pruned_files", "pruned_lt_total", "full_scan_noted")
    },
  )
}
