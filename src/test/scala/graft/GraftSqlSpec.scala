package graft

import java.nio.file.Files

import graft.sql.GraftSql
import graft.table.GraftCatalog

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The SQL text front end (GraftSql) against the Scala API it must agree
  * with: every SQL read goes through the same merge-on-read plan as
  * GraftTable.read, so deletes, time travel, self-joins and subqueries
  * behave identically in both entry paths.
  */
class GraftSqlSpec extends AnyFunSuite {
  import SparkSessionFixture.spark
  import spark.implicits._

  private def freshCat(): GraftCatalog =
    GraftCatalog(spark, Files.createTempDirectory("graft_sqlspec").toString)

  private def items = Seq(("A", "small", 2), ("B", "medium", 15),
    ("C", "medium", 10), ("D", "small", 20), ("E", "large", 20))
    .toDF("name", "size", "count")

  test("SELECT resolves 3-part and 2-part graft names; head equals read()") {
    val cat = freshCat()
    cat.createNamespace("ns")
    cat.createTable("ns", "t").append(items)
    val viaSql = GraftSql.sql(spark, cat, "SELECT name, count FROM graft.ns.t")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    val viaApi = cat.openTable("ns", "t").read()
      .select("name", "count").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(viaSql == viaApi && viaSql.size == 5)
    cat.createNamespace("default")
    cat.createTable("default", "t2").append(items.limit(2))
    assert(GraftSql.sql(spark, cat, "SELECT * FROM graft.t2").count() == 2)
  }

  test("an equality delete committed between reads is applied by the SQL head read") {
    val cat = freshCat()
    cat.createNamespace("ns")
    val t = cat.createTable("ns", "t")
    t.append(items) // seq 0
    assert(GraftSql.sql(spark, cat, "SELECT * FROM graft.ns.t").count() == 5)
    t.delete(Seq("small").toDF("size"), Seq("size")) // seq 1: drops A, D
    val after = GraftSql.sql(spark, cat, "SELECT name FROM graft.ns.t")
      .collect().map(_.getString(0)).toSet
    assert(after == Set("B", "C", "E"),
      "a raw-file read would still serve the deleted rows — the SQL path " +
        "must go through the merge-on-read plan")
  }

  test("VERSION AS OF and TIMESTAMP AS OF read history; head keeps moving") {
    val cat = freshCat()
    cat.createNamespace("ns")
    val t = cat.createTable("ns", "t")
    t.append(items.limit(2)) // seq 0
    Thread.sleep(15)
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(15)
    t.append(items.except(items.limit(2))) // seq 1
    assert(GraftSql.sql(spark, cat,
      "SELECT * FROM graft.ns.t VERSION AS OF 0").count() == 2)
    assert(GraftSql.sql(spark, cat, "SELECT * FROM graft.ns.t").count() == 5)
    val tsLit = new java.sql.Timestamp(betweenMs).toInstant.toString
    val atTs = GraftSql.sql(spark, cat,
      s"SELECT * FROM graft.ns.t TIMESTAMP AS OF '$tsLit'").count()
    assert(atTs == 2, s"timestamp travel to $tsLit should see only seq 0")
  }

  test("self-join and mixed-version join of one table deduplicate attributes") {
    val cat = freshCat()
    cat.createNamespace("ns")
    val t = cat.createTable("ns", "t")
    t.append(items) // seq 0
    t.delete(Seq("E").toDF("name"), Seq("name")) // seq 1
    // self-join at head: 4 rows joined to themselves on name
    assert(GraftSql.sql(spark, cat,
      """SELECT a.name FROM graft.ns.t a JOIN graft.ns.t b
        |ON a.name = b.name""".stripMargin).count() == 4)
    // v0 (5 rows) LEFT ANTI head (4 rows) = exactly the deleted key
    val gone = GraftSql.sql(spark, cat,
      """SELECT v.name FROM graft.ns.t VERSION AS OF 0 v
        |LEFT ANTI JOIN graft.ns.t h ON v.name = h.name""".stripMargin)
      .collect().map(_.getString(0)).toSeq
    assert(gone == Seq("E"))
  }

  test("CTE definitions and set-operation branches resolve graft relations") {
    val cat = freshCat()
    cat.createNamespace("ns")
    cat.createTable("ns", "t").append(items)
    // WITH bodies are NOT plan children — a naive walk misses them
    assert(GraftSql.sql(spark, cat,
      """WITH big AS (SELECT * FROM graft.ns.t WHERE count >= 15),
        |     med AS (SELECT * FROM graft.ns.t WHERE size = 'medium')
        |SELECT * FROM big JOIN med ON big.name = med.name""".stripMargin)
      .count() == 1) // big={B,D,E} ∩-by-name med={B,C} → B alone
    assert(GraftSql.sql(spark, cat,
      """SELECT * FROM graft.ns.t
        |UNION ALL SELECT * FROM (SELECT * FROM graft.ns.t)""".stripMargin)
      .count() == 10)
  }

  test("scalar subqueries over graft relations resolve inside WHERE") {
    val cat = freshCat()
    cat.createNamespace("ns")
    cat.createTable("ns", "t").append(items)
    val above = GraftSql.sql(spark, cat,
      """SELECT name FROM graft.ns.t
        |WHERE count * (SELECT COUNT(*) FROM graft.ns.t)
        |      > (SELECT SUM(count) FROM graft.ns.t)""".stripMargin)
      .collect().map(_.getString(0)).toSet
    // mean count = 67/5 = 13.4 → B(15), D(20), E(20)
    assert(above == Set("B", "D", "E"))
  }

  test("INSERT INTO appends by name, reports the commit, and conforms column order") {
    val cat = freshCat()
    cat.createNamespace("ns")
    val t = cat.createTable("ns", "t")
    t.append(items) // seq 0
    val src = s"gsql_src_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    // source columns deliberately REORDERED: INSERT is by-name
    Seq((7, "F", "tiny"), (8, "G", "tiny")).toDF("count", "name", "size")
      .createOrReplaceTempView(src)
    val summary = try GraftSql.sql(spark, cat,
        s"INSERT INTO graft.ns.t SELECT * FROM $src").collect().head
      finally spark.catalog.dropTempView(src)
    assert(summary.getString(0) == "ns.t")
    assert(summary.getLong(1) == 2L)
    assert(summary.getLong(2) == 1L) // the append's new sequence number
    val f = GraftSql.sql(spark, cat,
      "SELECT count FROM graft.ns.t WHERE name = 'F'").collect()
    assert(f.map(_.getInt(0)).toSeq == Seq(7), "by-name insert must land " +
      "the reordered source's count column in the table's count column")
  }

  test("unsupported forms fail loudly, not silently") {
    val cat = freshCat()
    cat.createNamespace("ns")
    cat.createTable("ns", "t").append(items)
    intercept[IllegalArgumentException] { // missing table → catalog error
      GraftSql.sql(spark, cat, "SELECT * FROM graft.ns.nope").collect()
    }
    intercept[IllegalArgumentException] { // OVERWRITE needs a partitioned layout
      GraftSql.sql(spark, cat,
        "INSERT OVERWRITE TABLE graft.ns.t SELECT * FROM graft.ns.t")
    }
    intercept[IllegalArgumentException] { // non-graft INSERT target
      GraftSql.sql(spark, cat, "INSERT INTO other.tbl SELECT 1")
    }
    // non-graft SELECT relations are left to Spark's own resolution —
    // an unknown plain name still errors through the normal analyzer
    intercept[Exception] {
      GraftSql.sql(spark, cat, "SELECT * FROM definitely_not_a_view").collect()
    }
  }

  test("DELETE routes equality / IN / BETWEEN onto the native delete shapes") {
    val cat = freshCat()
    cat.createNamespace("ns")
    val t = cat.createTable("ns", "t")
    t.append(items) // seq 0
    // single equality → MoR equality delete
    val d1 = GraftSql.sql(spark, cat,
      "DELETE FROM graft.ns.t WHERE name = 'A'").collect().head
    assert(d1.getString(1) == "delete" && d1.getLong(2) == 1L)
    assert(GraftSql.sql(spark, cat, "SELECT * FROM graft.ns.t").count() == 4)
    // IN list → multi-key equality delete
    GraftSql.sql(spark, cat, "DELETE FROM graft.ns.t WHERE name IN ('B', 'C')")
    assert(GraftSql.sql(spark, cat, "SELECT name FROM graft.ns.t")
      .collect().map(_.getString(0)).toSet == Set("D", "E"))
    // multi-column equality conjunction → one composite equality key
    GraftSql.sql(spark, cat,
      "DELETE FROM graft.ns.t WHERE size = 'small' AND count = 20") // drops D only
    assert(GraftSql.sql(spark, cat, "SELECT name FROM graft.ns.t")
      .collect().map(_.getString(0)).toSeq == Seq("E"))
    // numeric BETWEEN → stats-pruned range delete
    GraftSql.sql(spark, cat, "DELETE FROM graft.ns.t WHERE count BETWEEN 15 AND 25")
    assert(GraftSql.sql(spark, cat, "SELECT * FROM graft.ns.t").count() == 0)
    // a STRING BETWEEN takes the same range delete, in code-point order
    t.append(Seq(("c5", "x", 1), ("d0", "x", 2), ("d5", "x", 3), ("d9", "x", 4), ("e0", "x", 5))
      .toDF("name", "size", "count"), statsCols = Seq("name"))
    GraftSql.sql(spark, cat, "DELETE FROM graft.ns.t WHERE name BETWEEN 'd0' AND 'd9'")
    assert(GraftSql.sql(spark, cat, "SELECT name FROM graft.ns.t")
      .collect().map(_.getString(0)).sorted.toSeq == Seq("c5", "e0"))
    // anything else fails loudly instead of rewriting the table
    intercept[IllegalArgumentException] {
      GraftSql.sql(spark, cat, "DELETE FROM graft.ns.t WHERE name = 'A' OR count = 2")
    }
  }

  test("UPDATE maps to copy-on-write updateWhereEq; expressions round-trip") {
    val cat = freshCat()
    cat.createNamespace("ns")
    val t = cat.createTable("ns", "t")
    t.append(items) // seq 0
    val u = GraftSql.sql(spark, cat,
      "UPDATE graft.ns.t SET count = count * 10 + 1, size = 'resized' WHERE name = 'B'")
      .collect().head
    assert(u.getString(1) == "update")
    val b = GraftSql.sql(spark, cat,
      "SELECT count, size FROM graft.ns.t WHERE name = 'B'").collect().head
    assert(b.getInt(0) == 151 && b.getString(1) == "resized")
    assert(GraftSql.sql(spark, cat, "SELECT * FROM graft.ns.t").count() == 5)
    intercept[IllegalArgumentException] { // full-table update unsupported
      GraftSql.sql(spark, cat, "UPDATE graft.ns.t SET count = 0")
    }
  }

  test("MERGE INTO upserts, honors a conditional DELETE clause, joins on the ON keys") {
    val cat = freshCat()
    cat.createNamespace("ns")
    val t = cat.createTable("ns", "t")
    t.append(items) // seq 0
    val src = s"gsql_merge_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    // B updated (count 15→99), E deleted (count 0 fires the clause),
    // F inserted; A/C/D untouched
    Seq(("B", "medium", 99), ("E", "large", 0), ("F", "tiny", 7))
      .toDF("name", "size", "count").createOrReplaceTempView(src)
    val m = try GraftSql.sql(spark, cat,
        s"""MERGE INTO graft.ns.t AS t USING $src AS s ON t.name = s.name
           |WHEN MATCHED AND s.count = 0 THEN DELETE
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect().head
      finally spark.catalog.dropTempView(src)
    assert(m.getString(1) == "merge")
    val got = GraftSql.sql(spark, cat, "SELECT name, count FROM graft.ns.t")
      .collect().map(r => (r.getString(0), r.getInt(1))).toMap
    assert(got == Map("A" -> 2, "B" -> 99, "C" -> 10, "D" -> 20, "F" -> 7))
    intercept[IllegalArgumentException] { // bespoke SET lists unsupported
      GraftSql.sql(spark, cat,
        s"""MERGE INTO graft.ns.t USING graft.ns.t s ON graft.ns.t.name = s.name
           |WHEN MATCHED THEN UPDATE SET count = 1""".stripMargin)
    }
  }

  test("MERGE refuses a target-qualified clause condition instead of misreading the source") {
    val cat = freshCat()
    cat.createNamespace("ns")
    val t = cat.createTable("ns", "t")
    t.append(items) // seq 0
    val src = s"gsql_mtq_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    // same-named column on both sides with DIFFERENT values: evaluating
    // t.count = 2 against the source would delete B (count 2 in source),
    // not A (count 2 in the target) — silent wrong-row DML
    Seq(("A", "small", 9), ("B", "medium", 2)).toDF("name", "size", "count")
      .createOrReplaceTempView(src)
    try {
      val e = intercept[IllegalArgumentException] {
        GraftSql.sql(spark, cat,
          s"""MERGE INTO graft.ns.t AS t USING $src AS s ON t.name = s.name
             |WHEN MATCHED AND t.count = 2 THEN DELETE
             |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
      }
      assert(e.getMessage.contains("TARGET"), e.getMessage)
      // nothing committed: both rows unchanged
      assert(GraftSql.sql(spark, cat,
        "SELECT count FROM graft.ns.t WHERE name = 'A'").collect().head.getInt(0) == 2)
      // bare and full-name target qualifiers refuse too
      intercept[IllegalArgumentException] {
        GraftSql.sql(spark, cat,
          s"""MERGE INTO graft.ns.t USING $src AS s ON graft.ns.t.name = s.name
             |WHEN MATCHED AND graft.ns.t.count = 2 THEN DELETE
             |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
      }
      // NESTED-FIELD target references cannot slip past the refusal
      // (prefix match, not exact qualifier equality)
      intercept[IllegalArgumentException] {
        GraftSql.sql(spark, cat,
          s"""MERGE INTO graft.ns.t AS t USING $src AS s ON t.name = s.name
             |WHEN MATCHED AND t.meta.flag = 2 THEN DELETE
             |WHEN MATCHED THEN UPDATE SET *""".stripMargin)
      }
    } finally spark.catalog.dropTempView(src)
  }

  test("a failed REPLACE leaves the original table intact; REPLACE may read itself") {
    val cat = freshCat()
    cat.createNamespace("ns")
    cat.createTable("ns", "t").append(items) // seq 0
    // runtime failure of the seed query (ANSI cast) must not destroy t
    intercept[Exception] {
      GraftSql.sql(spark, cat,
        "REPLACE TABLE graft.ns.t AS SELECT CAST(name AS INT) AS x FROM graft.ns.t")
    }
    assert(GraftSql.sql(spark, cat, "SELECT * FROM graft.ns.t").count() == 5,
      "destroy-then-execute would have wiped the table before the lazy " +
        "seed query ever ran")
    // no staging debris left behind
    assert(cat.listTables("ns") == Seq("t"))
    // self-referential REPLACE reads the OLD state, then swaps
    GraftSql.sql(spark, cat,
      "REPLACE TABLE graft.ns.t AS SELECT name, count * 2 AS c2 FROM graft.ns.t")
    val c2 = GraftSql.sql(spark, cat,
      "SELECT c2 FROM graft.ns.t WHERE name = 'B'").collect().head.getInt(0)
    assert(c2 == 30 && cat.listTables("ns") == Seq("t"))
  }

  test("DELETE with a non-literal BETWEEN bound refuses with the supported-shapes error") {
    val cat = freshCat()
    cat.createNamespace("ns")
    cat.createTable("ns", "t").append(items)
    val e = intercept[IllegalArgumentException] {
      GraftSql.sql(spark, cat,
        "DELETE FROM graft.ns.t WHERE count BETWEEN count - 1 AND 25")
    }
    assert(e.getMessage.contains("DELETE supports"),
      s"must be the documented refusal, not a MatchError: ${e.getMessage}")
    assert(GraftSql.sql(spark, cat, "SELECT * FROM graft.ns.t").count() == 5)
  }

  test("DELETE refuses a range with a strict bound or a filter beside it") {
    val cat = freshCat()
    cat.createNamespace("ns")
    cat.createTable("ns", "t").append(items)
    // routing the range alone would drop the other conjunct's filter and
    // delete rows it excludes (here: every row)
    for (where <- Seq("count BETWEEN 1 AND 25 AND name LIKE 'A%'",
        "count > 15 AND count BETWEEN 1 AND 25")) {
      val e = intercept[IllegalArgumentException] {
        GraftSql.sql(spark, cat, s"DELETE FROM graft.ns.t WHERE $where")
      }
      assert(e.getMessage.contains("DELETE supports"), e.getMessage)
    }
    assert(GraftSql.sql(spark, cat, "SELECT * FROM graft.ns.t").count() == 5)
  }

  test("CALL graft.system.* maintenance procedures map onto the table layer's ops") {
    val cat = freshCat()
    cat.createNamespace("ns")
    val t = cat.createTable("ns", "t")
    // many single-row appends → a small-file tail for binpack to pack
    items.collect().foreach { r =>
      t.append(Seq((r.getString(0), r.getString(1), r.getInt(2)))
        .toDF("name", "size", "count"))
    }
    val before = t.commitLog.state()._1.size
    assert(before == 5)
    val rw = GraftSql.sql(spark, cat,
      "CALL graft.system.rewrite_data_files('ns.t', stats_cols => 'count')")
      .collect().head
    assert(rw.getString(1) == "rewrite_data_files")
    val t2 = cat.openTable("ns", "t")
    assert(t2.commitLog.state()._1.size < before,
      "binpack must consolidate the small-file tail")
    assert(t2.read().count() == 5)
    // compute_stats backfills bounds for skipping
    assert(GraftSql.sql(spark, cat,
      "CALL graft.system.compute_stats('ns.t', cols => 'count')")
      .collect().head.getString(1) == "compute_stats")
    // expire_snapshots drops pre-compaction history (head survives)
    GraftSql.sql(spark, cat, "CALL graft.system.expire_snapshots('ns.t')")
    assert(cat.openTable("ns", "t").read().count() == 5)
    // remove_orphan_files with a zero horizon reports a count, not a version
    val ro = GraftSql.sql(spark, cat,
      "CALL graft.system.remove_orphan_files('ns.t', older_than_ms => 0)")
      .collect().head
    assert(ro.getString(1) == "remove_orphan_files" && ro.getLong(2) >= 0L)
    // a PARTITIONED table compacts via SQL WITHOUT losing its layout:
    // the rewrite records the spec, so a point probe still opens exactly
    // one file afterwards (t_compact_partitioned's pin, reached from SQL)
    val seedV = s"gsql_callp_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    items.createOrReplaceTempView(seedV)
    try GraftSql.sql(spark, cat,
        s"""CREATE TABLE graft.ns.p PARTITIONED BY (truncate(10, count))
           |AS SELECT * FROM $seedV""".stripMargin)
      finally spark.catalog.dropTempView(seedV)
    val insV = s"gsql_calli_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    items.withColumn("count", col("count") + 100).createOrReplaceTempView(insV)
    try GraftSql.sql(spark, cat, s"INSERT INTO graft.ns.p SELECT * FROM $insV")
      finally spark.catalog.dropTempView(insV)
    GraftSql.sql(spark, cat,
      "CALL graft.system.rewrite_data_files('ns.p', stats_cols => 'count')")
    val p = cat.openTable("ns", "p")
    assert(p.read().count() == 10)
    assert(p.prunedFileCountEq("count", 15) == 1,
      "compact-via-SQL must preserve partition pruning (spec recorded " +
        "on the replace) — a flat compact would open every file")
    // refusals surface the table layer's own contracts
    intercept[IllegalArgumentException] { // unknown procedure
      GraftSql.sql(spark, cat, "CALL graft.system.shrink_ray('ns.t')")
    }
    intercept[IllegalArgumentException] { // zorder numFiles must be a power of 4
      GraftSql.sql(spark, cat,
        "CALL graft.system.rewrite_data_files('ns.t', strategy => 'zorder', " +
          "sort_col => 'count,count', num_files => 5)")
    }
    intercept[IllegalArgumentException] { // unknown named parameter
      GraftSql.sql(spark, cat,
        "CALL graft.system.expire_snapshots('ns.t', vigor => 11)")
    }
  }

  test("CTAS creates, seeds, partitions and stamps properties; DROP TABLE honors IF EXISTS") {
    val cat = freshCat()
    GraftSql.sql(spark, cat, "CREATE NAMESPACE graft.ddl")
    items.createOrReplaceTempView("gsql_ctas_src")
    val c = try GraftSql.sql(spark, cat,
        """CREATE TABLE graft.ddl.t
          |PARTITIONED BY (size, bucket(4, count))
          |TBLPROPERTIES ('quality.tier' = 'gold')
          |AS SELECT * FROM gsql_ctas_src""".stripMargin).collect().head
      finally spark.catalog.dropTempView("gsql_ctas_src")
    // seq 0 is the TBLPROPERTIES commit, seq 1 the seed data commit
    assert(c.getString(1) == "create_as_select" && c.getLong(2) == 1L)
    val t = cat.openTable("ddl", "t")
    assert(t.read().count() == 5)
    assert(t.properties().get("quality.tier").contains("gold"))
    // the CTAS layout is the table layer's own hidden partitioning: an
    // equality probe on the partition column prunes files like a Scala
    // appendPartitioned write would
    assert(t.readEq("size", "small").count() == 2)
    // IF NOT EXISTS no-ops on the existing table; a bare CREATE refuses
    assert(GraftSql.sql(spark, cat,
      "CREATE TABLE IF NOT EXISTS graft.ddl.t AS SELECT 1 AS x")
      .collect().head.getString(1) == "create_noop")
    intercept[IllegalArgumentException] {
      GraftSql.sql(spark, cat, "CREATE TABLE graft.ddl.t AS SELECT 1 AS x")
    }
    // REPLACE resets history and schema; reads through graft SQL see it
    GraftSql.sql(spark, cat,
      "REPLACE TABLE graft.ddl.t AS SELECT 42 AS answer")
    val replaced = GraftSql.sql(spark, cat, "SELECT answer FROM graft.ddl.t")
    assert(replaced.collect().map(_.getInt(0)).toSeq == Seq(42))
    // CTAS may read graft tables in its own query
    GraftSql.sql(spark, cat,
      "CREATE TABLE graft.ddl.t2 AS SELECT answer * 2 AS a2 FROM graft.ddl.t")
    assert(GraftSql.sql(spark, cat, "SELECT a2 FROM graft.ddl.t2")
      .collect().head.getInt(0) == 84)
    // DROP
    assert(GraftSql.sql(spark, cat, "DROP TABLE graft.ddl.t2")
      .collect().head.getString(1) == "drop")
    intercept[IllegalArgumentException] {
      GraftSql.sql(spark, cat, "DROP TABLE graft.ddl.t2")
    }
    assert(GraftSql.sql(spark, cat, "DROP TABLE IF EXISTS graft.ddl.t2")
      .collect().head.getString(1) == "drop_noop")
    // unsupported clauses refuse loudly
    intercept[IllegalArgumentException] {
      GraftSql.sql(spark, cat,
        "CREATE TABLE graft.ddl.t3 USING parquet AS SELECT 1 AS x")
    }
  }

  test("INSERT OVERWRITE replaces only the touched partitions (dynamic overwrite)") {
    val cat = freshCat()
    GraftSql.sql(spark, cat, "CREATE NAMESPACE graft.ns")
    val seed = s"gsql_ow_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    items.createOrReplaceTempView(seed)
    try GraftSql.sql(spark, cat,
        s"CREATE TABLE graft.ns.t PARTITIONED BY (size) AS SELECT * FROM $seed")
      finally spark.catalog.dropTempView(seed)
    val src = s"gsql_ow2_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    // touches only size='small': A/D replaced by X, medium/large intact
    Seq(("X", "small", 1)).toDF("name", "size", "count")
      .createOrReplaceTempView(src)
    try GraftSql.sql(spark, cat,
        s"INSERT OVERWRITE TABLE graft.ns.t SELECT * FROM $src")
      finally spark.catalog.dropTempView(src)
    val got = GraftSql.sql(spark, cat, "SELECT name FROM graft.ns.t")
      .collect().map(_.getString(0)).toSet
    assert(got == Set("X", "B", "C", "E"),
      "only the small partition may be replaced — dynamic overwrite, " +
        "never the whole table")
  }

  test("metadata tables and tag/branch refs resolve in SQL") {
    val cat = freshCat()
    cat.createNamespace("ns")
    val t = cat.createTable("ns", "t")
    t.append(items) // seq 0
    t.tag("train-v1")
    t.delete(Seq("A").toDF("name"), Seq("name")) // seq 1
    val br = t.createBranch("audit")
    br.append(Seq(("Z", "huge", 99)).toDF("name", "size", "count"))
    // snapshots metadata table through SQL, filterable like any relation
    val snaps = GraftSql.sql(spark, cat,
      "SELECT seq, action FROM graft.ns.t.snapshots ORDER BY seq")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(snaps == Seq((0L, "add"), (1L, "delete")))
    // refs lists main + the tag + the branch
    val refs = GraftSql.sql(spark, cat,
      "SELECT name, kind FROM graft.ns.t.refs ORDER BY name")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(refs == Seq(("audit", "branch"), ("main", "branch"), ("train-v1", "tag")))
    // VERSION AS OF a tag name reads the tagged snapshot (5 rows, pre-delete)
    assert(GraftSql.sql(spark, cat,
      "SELECT * FROM graft.ns.t VERSION AS OF 'train-v1'").count() == 5)
    // VERSION AS OF a branch name reads the branch head (4 + Z = 5 rows)
    val branchRows = GraftSql.sql(spark, cat,
      "SELECT name FROM graft.ns.t VERSION AS OF 'audit'")
      .collect().map(_.getString(0)).toSet
    assert(branchRows == Set("B", "C", "D", "E", "Z"))
    intercept[IllegalArgumentException] {
      GraftSql.sql(spark, cat,
        "SELECT * FROM graft.ns.t VERSION AS OF 'no-such-ref'").collect()
    }
  }

  test("ALTER TABLE: add column with default, rename, widen type, set properties") {
    val cat = freshCat()
    cat.createNamespace("ns")
    val t = cat.createTable("ns", "t")
    t.append(items) // seq 0
    // ADD COLUMNS with a DEFAULT: old rows serve the default on read
    GraftSql.sql(spark, cat,
      "ALTER TABLE graft.ns.t ADD COLUMNS (score INT DEFAULT 7)")
    assert(GraftSql.sql(spark, cat,
      "SELECT DISTINCT score FROM graft.ns.t").collect().map(_.getInt(0)).toSeq
      == Seq(7))
    // RENAME COLUMN: reads resolve the new name across old epochs
    GraftSql.sql(spark, cat, "ALTER TABLE graft.ns.t RENAME COLUMN count TO qty")
    assert(GraftSql.sql(spark, cat,
      "SELECT qty FROM graft.ns.t WHERE name = 'B'").collect().head.getInt(0) == 15)
    // ALTER COLUMN TYPE: id-stable widen, old epochs upcast on read
    GraftSql.sql(spark, cat, "ALTER TABLE graft.ns.t ALTER COLUMN qty TYPE BIGINT")
    assert(GraftSql.sql(spark, cat,
      "SELECT qty FROM graft.ns.t WHERE name = 'B'").collect().head.getLong(0) == 15L)
    // SET TBLPROPERTIES lands as table properties
    GraftSql.sql(spark, cat,
      "ALTER TABLE graft.ns.t SET TBLPROPERTIES ('quality.tier' = 'silver')")
    assert(cat.openTable("ns", "t").properties()
      .get("quality.tier").contains("silver"))
    // narrowing refuses (widenColumn's contract), surfaced through SQL
    intercept[IllegalArgumentException] {
      GraftSql.sql(spark, cat, "ALTER TABLE graft.ns.t ALTER COLUMN qty TYPE INT")
    }
  }

  test("bare CREATE TABLE stamps schema+layout; INSERT INTO lands partition-laid-out") {
    val cat = freshCat()
    GraftSql.sql(spark, cat, "CREATE NAMESPACE graft.ns")
    val c = GraftSql.sql(spark, cat,
      """CREATE TABLE graft.ns.t (name STRING, size STRING, count INT)
        |PARTITIONED BY (truncate(10, count))
        |TBLPROPERTIES ('quality.tier' = 'bronze')""".stripMargin)
      .collect().head
    assert(c.getString(1) == "create")
    val t = cat.openTable("ns", "t")
    // the declared schema is live BEFORE any data arrives
    assert(t.schemaAt().map(_.fieldNames.toSeq).contains(Seq("name", "size", "count")))
    assert(t.read().count() == 0)
    assert(t.properties().get("quality.tier").contains("bronze"))
    // INSERT INTO (source deliberately reordered: by-name) must land
    // PARTITIONED under the declared layout — point probes prune from
    // the very first batch
    val src = s"gsql_bare_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    items.select("count", "name", "size").createOrReplaceTempView(src)
    try GraftSql.sql(spark, cat, s"INSERT INTO graft.ns.t SELECT * FROM $src")
      finally spark.catalog.dropTempView(src)
    val t2 = cat.openTable("ns", "t")
    assert(t2.read().count() == 5)
    assert(t2.prunedFileCountEq("count", 15) == 1,
      "INSERT INTO must preserve the table's partition layout, not " +
        "append an unpartitioned blob outside the grid")
    assert(GraftSql.sql(spark, cat,
      "SELECT name FROM graft.ns.t WHERE count = 15").collect()
      .map(_.getString(0)).toSeq == Seq("B"))
    // IF NOT EXISTS no-ops; a second bare CREATE refuses
    assert(GraftSql.sql(spark, cat,
      "CREATE TABLE IF NOT EXISTS graft.ns.t (x INT)")
      .collect().head.getString(1) == "create_noop")
    intercept[IllegalArgumentException] {
      GraftSql.sql(spark, cat, "CREATE TABLE graft.ns.t (x INT)")
    }
    intercept[IllegalArgumentException] { // defaults belong to ALTER
      GraftSql.sql(spark, cat,
        "CREATE TABLE graft.ns.d (x INT DEFAULT 7)")
    }
  }

  test("write.stats-cols property makes SQL-written batches skipping-capable") {
    val cat = freshCat()
    GraftSql.sql(spark, cat, "CREATE NAMESPACE graft.ns")
    val seed = s"gsql_ws_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    items.createOrReplaceTempView(seed)
    // declared ONCE at create time; every later SQL writer inherits it
    try GraftSql.sql(spark, cat,
        s"""CREATE TABLE graft.ns.t
           |TBLPROPERTIES ('write.stats-cols' = 'count')
           |AS SELECT * FROM $seed""".stripMargin)
      finally spark.catalog.dropTempView(seed)
    val src = s"gsql_ws2_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    items.withColumn("count", col("count") + 100).createOrReplaceTempView(src)
    try GraftSql.sql(spark, cat, s"INSERT INTO graft.ns.t SELECT * FROM $src")
      finally spark.catalog.dropTempView(src)
    val t = cat.openTable("ns", "t")
    val total = t.commitLog.state()._1.size
    // count=2 lives only in the seed batch: a point probe must open
    // strictly fewer files than a stats-blind read would
    assert(t.prunedFileCountEq("count", 2) < total,
      s"per-file stats from write.stats-cols must prune (opened all $total)")
    assert(GraftSql.sql(spark, cat,
      "SELECT name FROM graft.ns.t WHERE count = 102").collect()
      .map(_.getString(0)).toSeq == Seq("A"))
  }

  test("SHOW TABLES / DESCRIBE / SHOW TBLPROPERTIES inspect the catalog from SQL") {
    val cat = freshCat()
    cat.createNamespace("ns")
    cat.createNamespace("other")
    val t = cat.createTable("ns", "t")
    t.appendPartitioned(items,
      Seq(graft.table.PartitionSpec("count", graft.table.Transform.Truncate(10))),
      Nil, Nil)
    t.setProperties(Map("quality.tier" -> "gold"))
    cat.createTable("ns", "t2").append(items.limit(1))
    cat.createTable("other", "z").append(items.limit(1))
    // namespace-scoped, warehouse-wide, and LIKE-filtered listings
    val inNs = GraftSql.sql(spark, cat, "SHOW TABLES IN graft.ns")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(inNs == Set(("ns", "t"), ("ns", "t2")))
    assert(GraftSql.sql(spark, cat, "SHOW TABLES IN graft").count() == 3)
    assert(GraftSql.sql(spark, cat, "SHOW TABLES IN graft.ns LIKE 't2'")
      .collect().map(_.getString(1)).toSeq == Seq("t2"))
    // DESCRIBE: column rows; EXTENDED adds partitioning + properties
    val cols = GraftSql.sql(spark, cat, "DESCRIBE TABLE graft.ns.t")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(cols.map(_._1) == Seq("name", "size", "count"))
    assert(cols.find(_._1 == "count").get._2 == "int")
    val ext = GraftSql.sql(spark, cat, "DESCRIBE TABLE EXTENDED graft.ns.t")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(ext("# Partitioning") == "truncate(10,count)")
    assert(ext("# Property: quality.tier") == "gold")
    // SHOW TBLPROPERTIES: full map and single-key form
    val props = GraftSql.sql(spark, cat, "SHOW TBLPROPERTIES graft.ns.t")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    assert(props.get("quality.tier").contains("gold"))
    assert(GraftSql.sql(spark, cat,
      "SHOW TBLPROPERTIES graft.ns.t ('quality.tier')")
      .collect().head.getString(1) == "gold")
    intercept[IllegalArgumentException] {
      GraftSql.sql(spark, cat, "SHOW TBLPROPERTIES graft.ns.t ('nope')")
    }
    // SHOW CREATE TABLE: columns + layout + properties in CTAS syntax
    val ddl = GraftSql.sql(spark, cat, "SHOW CREATE TABLE graft.ns.t")
      .collect().head.getString(0)
    assert(ddl.contains("CREATE TABLE graft.ns.t"), ddl)
    assert(ddl.contains("count INT"), ddl)
    assert(ddl.contains("PARTITIONED BY (truncate(10, count))"), ddl)
    assert(ddl.contains("'quality.tier' = 'gold'"), ddl)
  }

  /** graft.ns.t partitioned by truncate(10, count), loaded through SQL
    * as three partition-separated batches (counts +0, +100, +200), so
    * probes have files to prune.
    */
  private def partitionedCat(shifts: Seq[Int] = Seq(0, 100, 200)): GraftCatalog = {
    val cat = freshCat()
    GraftSql.sql(spark, cat, "CREATE NAMESPACE graft.ns")
    GraftSql.sql(spark, cat,
      """CREATE TABLE graft.ns.t (name STRING, size STRING, count INT)
        |PARTITIONED BY (truncate(10, count))""".stripMargin)
    for (shift <- shifts) {
      val src = s"gsql_ex_${java.util.UUID.randomUUID().toString.replace("-", "")}"
      items.withColumn("count", col("count") + shift).createOrReplaceTempView(src)
      try GraftSql.sql(spark, cat, s"INSERT INTO graft.ns.t SELECT * FROM $src")
        finally spark.catalog.dropTempView(src)
    }
    cat
  }

  test("EXPLAIN shows the pushed filter AND the manifest-level file prune " +
      "for a governed read") {
    val cat = partitionedCat()
    val plan = GraftSql.sql(spark, cat,
      "EXPLAIN FORMATTED SELECT name FROM graft.ns.t WHERE count = 115")
      .collect().head.getString(0)
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(count,115)"),
      s"the probe must reach the parquet scan as a pushed filter:\n$plan")
    // the Graft Scans section reports the manifest-level prune the Spark
    // plan text cannot show: the probe opens a strict subset of the files
    val note = plan.linesIterator.find(_.startsWith("graft.ns.t: probe"))
    assert(note.isDefined, s"expected a Graft Scans note:\n$plan")
    val counts = "prunes to (\\d+) of (\\d+)".r.findFirstMatchIn(note.get).get
    assert(counts.group(1).toInt < counts.group(2).toInt,
      s"the point probe must open fewer files than the snapshot holds: $note")
    assert(counts.group(2).toInt >= 3, s"expected >=3 live files: $note")
    // EXPLAIN of eager DML refuses — there is no lazy plan to show
    intercept[IllegalArgumentException] {
      GraftSql.sql(spark, cat, "EXPLAIN DELETE FROM graft.ns.t WHERE count = 1")
    }
    // and the PRUNED read answers exactly like the full scan
    assert(GraftSql.sql(spark, cat,
      "SELECT name FROM graft.ns.t WHERE count = 115").collect()
      .map(_.getString(0)).toSeq == Seq("B"))
  }

  test("EXPLAIN of a one-sided range reports its prune") {
    val cat = partitionedCat(Seq(0, 100, 200, 300))
    val plan = GraftSql.sql(spark, cat,
      "EXPLAIN SELECT name FROM graft.ns.t WHERE count >= 300").collect().head.getString(0)
    val m = "prunes to (\\d+) of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.exists(c => c.group(1).toInt > 0 && c.group(1).toInt < c.group(2).toInt),
      s"a lower bound alone must prune:\n$plan")
    def names(where: String) = GraftSql.sql(spark, cat,
      s"SELECT name, count FROM graft.ns.t WHERE $where").collect().map(_.toString).sorted.toSeq
    assert(names("count >= 300") == names("count BETWEEN 300 AND 1000"))
    assert(names("count >= 300").size == items.count())
  }

  test("SQL pruning takes every conjunct: IN prunes, and an AND opens no " +
      "more files than either side") {
    val cat = partitionedCat()
    def opened(where: String): (Int, Int) = {
      val plan = GraftSql.sql(spark, cat,
        s"EXPLAIN SELECT name FROM graft.ns.t WHERE $where").collect().head.getString(0)
      val m = "prunes to (\\d+) of (\\d+)".r.findFirstMatchIn(plan)
      assert(m.isDefined, s"expected a pruning note for `$where`:\n$plan")
      (m.get.group(1).toInt, m.get.group(2).toInt)
    }
    def rows(where: String): Seq[String] = GraftSql.sql(spark, cat,
      s"SELECT name, count FROM graft.ns.t WHERE $where").collect().map(_.toString).sorted.toSeq
    val full = cat.openTable("ns", "t").read()
    def unpruned(c: org.apache.spark.sql.Column): Seq[String] =
      full.filter(c).select("name", "count").collect().map(_.toString).sorted.toSeq
    // IN prunes to the union of its values' partitions
    val (inOpened, live) = opened("count IN (115, 215)")
    assert(inOpened < live, s"IN must prune: opened $inOpened of $live")
    assert(rows("count IN (115, 215)") == unpruned(col("count").isin(115, 215)))
    assert(rows("count IN (115, 215)").size == 2)
    // both conjuncts prune: never more files than either one alone
    val both = "count BETWEEN 100 AND 219 AND name = 'B'"
    val (bothOpened, rangeOpened, eqOpened) =
      (opened(both)._1, opened("count BETWEEN 100 AND 219")._1, opened("name = 'B'")._1)
    assert(bothOpened <= rangeOpened && bothOpened <= eqOpened,
      s"AND opened $bothOpened files; range alone $rangeOpened, equality alone $eqOpened")
    assert(rows(both) == unpruned(col("count").between(100, 219) && col("name") === "B"))
    assert(rows(both).size == 2)
  }

  test("SQL point probes route through the table layer's pruned read and " +
      "still apply MoR deletes") {
    val cat = freshCat()
    cat.createNamespace("ns")
    val t = cat.createTable("ns", "t")
    t.appendPartitioned(items,
      Seq(graft.table.PartitionSpec("count", graft.table.Transform.Truncate(10))),
      Nil, Nil)
    t.appendPartitioned(items.withColumn("count", col("count") + 100)
        .withColumn("name", concat(col("name"), lit("2"))),
      Seq(graft.table.PartitionSpec("count", graft.table.Transform.Truncate(10))),
      Nil, Nil)
    // an equality delete lands between the writes and the probe: the
    // pruned SQL read must still anti-join it away (readEq IS the MoR path)
    t.delete(Seq("B2").toDF("name"), Seq("name"))
    assert(GraftSql.sql(spark, cat,
      "SELECT name FROM graft.ns.t WHERE count = 115").collect().isEmpty,
      "the deleted row must not resurface through the pruned SQL read")
    assert(GraftSql.sql(spark, cat,
      "SELECT name FROM graft.ns.t WHERE count = 15").collect()
      .map(_.getString(0)).toSeq == Seq("B"))
    // range probes prune too, and strict bounds keep strict semantics
    assert(GraftSql.sql(spark, cat,
      "SELECT name FROM graft.ns.t WHERE count > 102 AND count < 115")
      .collect().map(_.getString(0)).toSeq == Seq("C2"),
      "strict bounds must filter strictly (102 and 115 excluded) even " +
        "though pruning uses the closed superset")
    // a BETWEEN probe on a string column rides lexicographic stats
    assert(GraftSql.sql(spark, cat,
      "SELECT count FROM graft.ns.t WHERE name BETWEEN 'E' AND 'E2'")
      .collect().map(_.getInt(0)).toSet == Set(20, 120))
  }

  test("INSERT with a TXN hint is replay-safe (exactly-once from SQL)") {
    val cat = freshCat()
    cat.createNamespace("ns")
    cat.createTable("ns", "t").append(items.limit(1)) // seq 0
    val src = s"gsql_txn_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    items.limit(3).createOrReplaceTempView(src)
    try {
      def ins(ver: Int): org.apache.spark.sql.Row = GraftSql.sql(spark, cat,
        s"INSERT INTO graft.ns.t SELECT /*+ TXN('etl', $ver) */ * FROM $src")
        .collect().head
      val first = ins(1)
      assert(first.getLong(1) == 3 && first.getLong(2) == 1,
        s"first TXN insert must append 3 rows at seq 1: $first")
      // the REPLAY (same appId, same version — the crashed-ETL retry)
      // must be a no-op: zero rows appended, head unchanged
      val replay = ins(1)
      assert(replay.getLong(1) == 0 && replay.getLong(2) == 1,
        s"replayed TXN insert must no-op: $replay")
      assert(GraftSql.sql(spark, cat,
        "SELECT COUNT(*) AS n FROM graft.ns.t").collect().head.getLong(0) == 4)
      // the NEXT version appends; a stale version after it no-ops too
      assert(ins(2).getLong(1) == 3)
      assert(ins(1).getLong(1) == 0, "a far-stale replay must no-op")
      // independent appIds never interact
      assert(GraftSql.sql(spark, cat,
        s"INSERT INTO graft.ns.t SELECT /*+ TXN('backfill', 1) */ * FROM $src")
        .collect().head.getLong(1) == 3)
      // malformed hints refuse loudly instead of silently dropping the
      // idempotence the caller asked for
      intercept[IllegalArgumentException] {
        GraftSql.sql(spark, cat,
          s"INSERT INTO graft.ns.t SELECT /*+ TXN(42, 1) */ * FROM $src")
      }
      intercept[IllegalArgumentException] {
        GraftSql.sql(spark, cat,
          s"INSERT OVERWRITE graft.ns.t SELECT /*+ TXN('etl', 9) */ * FROM $src")
      }
    } finally spark.catalog.dropTempView(src)
  }

  test("SQL reads keep column pruning and filter pushdown on the snapshot scan") {
    val cat = freshCat()
    cat.createNamespace("ns")
    cat.createTable("ns", "t").append(items)
    val df = GraftSql.sql(spark, cat,
      "SELECT name FROM graft.ns.t WHERE size = 'small'")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(size), EqualTo(size,small)]"),
      s"the size predicate must reach the parquet scan:\n$plan")
    assert("ReadSchema: [^\n]*name".r.findFirstIn(plan).isDefined &&
      !plan.contains("count:int"), // count column pruned away
      s"only name+size should be read:\n$plan")
  }
}
