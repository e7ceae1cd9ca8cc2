package graft.queries

import graft.{Dec, Q, QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join surface — SURVEY.md §2B "Joins". Equi joins (inner/left/semi/anti),
  * broadcast star joins, a banded theta self-join, and an as-of join.
  *
  * Reference analogue: equality-delete application is a left-anti join on
  * the delete keys (deletes.rs:65-92); the star schema is what the
  * playground's Iceberg tables + Spark query container serve
  * (docker-compose.yml:58-81).
  *
  * Scale notes:
  *  - Fact-to-fact joins (lineitem ⋈ orders) shuffle both sides on the
  *    join key — unavoidable without co-bucketing; AQE re-plans skew.
  *  - Dimension joins (region/nation/supplier/customer) use explicit
  *    broadcast() hints: at 100 TB the fact side streams map-side with no
  *    shuffle at all.
  *  - The as-of join deliberately avoids the O(n·m) correlated-subquery
  *    shape: it is a union + one window pass — a single shuffle on
  *    user_id, linear in events, the standard scalable as-of pattern.
  *  - The banded theta self-join keys on user_id (equi) so the band
  *    predicate is evaluated inside each hash/merge group instead of a
  *    broadcast-nested-loop over the whole table.
  */
object JoinQueries extends QueryPack {

  // Per-(JVM, dataset dir) cache of derived layouts (bucketed tables,
  // hive-partitioned facts): writing the layout IS the amortized one-time
  // cost these queries demonstrate, and rebuilding into a fresh temp dir
  // on every invocation would redo the heavy write and leak one dataset
  // copy per bench/verify/plan-sweep run for the driver session's
  // lifetime — the same per-call leak Tables.landingDirs fixed (ADVICE
  // r4). Keyed by dir so different scale factors coexist in one JVM.
  private val colocatedBases =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val dppRoots =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()

  /** deterministic per-dir catalog-name suffix: bucketed table names are
    * JVM-global (the catalog is shared across cloned sessions), so each
    * dataset dir gets its own pair instead of dropping + rewriting.
    */
  private def dirTag(dir: String): String =
    (dir.hashCode.toLong & 0xffffffffL).toHexString

  /** Run raw SQL TEXT over session-isolated temp views: each (name, df)
    * registers under a UUID-suffixed view, `{name}` placeholders in the
    * SQL resolve to the suffixed names, and every view is dropped as soon
    * as spark.sql returns (analysis is eager — the returned DataFrame's
    * plan no longer needs the views). Concurrent invocations on one
    * session therefore never race on shared catalog state (ADVICE r5),
    * while the entries still exercise the parser/analyzer front end that
    * pure DataFrame plans bypass.
    */
  // boundedSort comes from QueryPack (r13: shared across packs; 0.89 s ->
  // 0.51 s per run on a representative aggregate, OPTIMIZATION_r12/r13)

  private def sqlOverViews(s: SparkSession, views: (String, DataFrame)*)(
      sql: String): DataFrame = {
    val sfx = java.util.UUID.randomUUID().toString.replace("-", "")
    val named = views.map { case (n, _) => n -> s"v_${n}_$sfx" }.toMap
    views.foreach { case (n, df) => df.createOrReplaceTempView(named(n)) }
    try s.sql(named.foldLeft(sql) { case (q, (n, v)) => q.replace(s"{$n}", v) })
    finally named.values.foreach(s.catalog.dropTempView)
  }

  override def queries: Seq[Q] = Seq(

    // revenue per customer over a date slice: lineitem ⋈ orders ⋈ customer
    Q(
      "q_join_inner",
      """SELECT c.c_custkey, COUNT(*) AS n_items,
        |       CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |                CAST(1 - l.l_discount AS DECIMAL(4,2))) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS revenue_x1e6
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate <  TIMESTAMP '1996-07-01'
        |GROUP BY c.c_custkey
        |ORDER BY c.c_custkey""",
    ) { (s, dir) =>
      val l = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
          && col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
      val c = Tables.customer(s, dir)
      // No broadcast hint on customer: it grows linearly with sf (VERDICT r1
      // flagged a forced broadcast as a 100 TB OOM). AQE picks broadcast only
      // when the dim is actually under the threshold at runtime.
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(c("c_custkey"))
        .agg(
          count(lit(1)).as("n_items"),
          Dec.asLong(sum(Dec.money(col("l_extendedprice")) * Dec.factor(lit(1) - col("l_discount"))), 6).as("revenue_x1e6"))
        .orderBy("c_custkey")
    },

    // TPC-H Q5 shape: fact ⋈ tiny dims, dims broadcast.
    Q(
      "q_join_broadcast",
      """SELECT r.r_name, n.n_name,
        |       CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) *
        |                CAST(1 - l.l_discount AS DECIMAL(4,2))) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS revenue_x1e6
        |FROM lineitem l
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name IN ('ASIA', 'EUROPE')
        |GROUP BY r.r_name, n.n_name
        |ORDER BY r.r_name, n.n_name""",
    ) { (s, dir) =>
      val l = Tables.lineitem(s, dir)
      val sup = Tables.supplier(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir).filter(col("r_name").isin("ASIA", "EUROPE"))
      l.join(broadcast(sup), l("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(Dec.asLong(sum(Dec.money(col("l_extendedprice")) * Dec.factor(lit(1) - col("l_discount"))), 6).as("revenue_x1e6"))
        .orderBy("r_name", "n_name")
    },

    // customers with their order counts, keeping order-less customers.
    Q(
      "q_join_left",
      """SELECT c.c_custkey, COUNT(o.o_orderkey) AS n_orders
        |FROM customer c
        |LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_custkey
        |ORDER BY c.c_custkey""",
    ) { (s, dir) =>
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, o("o_custkey") === c("c_custkey"), "left")
        .groupBy(c("c_custkey"))
        .agg(count(o("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    },

    // EXISTS: customers having at least one urgent open order.
    Q(
      "q_join_semi",
      """SELECT c_custkey, c_mktsegment FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT' AND o.o_orderstatus = 'O')
        |ORDER BY c_custkey""",
    ) { (s, dir) =>
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
        .filter(col("o_orderpriority") === "1-URGENT" && col("o_orderstatus") === "O")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey")
    },

    // NOT EXISTS: customers with no orders at all (delete-application shape,
    // deletes.rs:65-92 — our MoR read path uses exactly this join).
    Q(
      "q_join_anti",
      """SELECT c_custkey FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |                  AND o.o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""",
    ) { (s, dir) =>
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    },

    // FULL OUTER join: a positive-balance customer roster reconciled
    // against per-customer order counts — unmatched rows survive on BOTH
    // sides (customers with no orders; ordering customers missing from the
    // roster). Shuffled keyed join of two pre-aggregated/filtered inputs;
    // a full-outer can never broadcast, so keeping both sides reduced
    // before the join is the scale move.
    Q(
      "q_join_full",
      """SELECT COALESCE(c.c_custkey, o.o_custkey) AS custkey,
        |       c.c_custkey IS NOT NULL AS in_roster,
        |       COALESCE(o.n_orders, 0) AS n_orders
        |FROM (SELECT c_custkey FROM customer WHERE c_acctbal > 0) c
        |FULL JOIN (SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
        |           FROM orders GROUP BY o_custkey) o
        |  ON c.c_custkey = o.o_custkey
        |ORDER BY custkey""",
    ) { (s, dir) =>
      val roster = Tables.customer(s, dir)
        .filter(col("c_acctbal") > 0).select("c_custkey")
      val counts = Tables.orders(s, dir)
        .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
      roster.join(counts, roster("c_custkey") === counts("o_custkey"), "full")
        .select(coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_custkey").isNotNull.as("in_roster"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"))
        .orderBy("custkey")
    },

    // Co-located (bucketed) join: both sides pre-bucketed on the join key
    // at write time, so the recurring fact-to-fact join reads matching
    // buckets directly — ZERO exchange on either input, the pattern that
    // amortizes one bucketing shuffle across every future join at 100 TB.
    // join_added_exchanges is pinned from the ACTUAL physical plan: the
    // whole query may contain exactly one Exchange (the aggregation's),
    // so the value in every output row is 0. Built on an isolated cloned
    // session so auto-broadcast can be disabled for the plan without
    // leaking that conf into other registered queries (the clone keeps it
    // until the driver materializes this DataFrame).
    Q(
      "q_join_colocated",
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2)) * 100 AS BIGINT) AS sum_qty_x1e2,
        |  CAST(0 AS BIGINT) AS join_added_exchanges
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    ) { (s, dir) =>
      val iso = s.newSession()
      iso.conf.set("spark.sql.session.timeZone", "UTC")
      iso.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      iso.conf.set("spark.sql.shuffle.partitions",
        s.conf.get("spark.sql.shuffle.partitions", "32"))
      // tiny sf would broadcast and hide the bucket alignment; the plan we
      // register must be the one a large fact-to-fact join gets
      iso.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val (liName, oName) = (s"li_colocated_${dirTag(dir)}", s"o_colocated_${dirTag(dir)}")
      colocatedBases.computeIfAbsent(dir, { _ =>
        val base = java.nio.file.Files.createTempDirectory("graft_colocated").toString
        iso.sql(s"DROP TABLE IF EXISTS $liName")
        iso.sql(s"DROP TABLE IF EXISTS $oName")
        Tables.lineitem(iso, dir).select("l_orderkey", "l_quantity")
          .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", s"$base/li").saveAsTable(liName)
        Tables.orders(iso, dir).select("o_orderkey", "o_orderpriority")
          .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", s"$base/o").saveAsTable(oName)
        base
      })
      val joined = iso.table(liName)
        .join(iso.table(oName), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          Dec.asLong(sum(Dec.money(col("l_quantity"))), 2).as("sum_qty_x1e2"))
      val exchanges = joined.queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        .linesIterator.count(l => l.matches("""\(\d+\) .*Exchange.*"""))
      joined
        .withColumn("join_added_exchanges", lit(exchanges.toLong - 1L))
        .orderBy("o_orderpriority")
    },

    // The raw SQL entry path: TPC-H Q3 (shipping-priority) submitted as
    // SQL TEXT through spark.sql over temp views — the interface a BI
    // tool or notebook user hits, exercising the parser/analyzer front
    // end the DataFrame queries bypass. Catalyst produces the same
    // optimized plan either way (join reorder, pushdown, partial agg,
    // TakeOrderedAndProject for the LIMIT). Adapted to this corpus:
    // o_orderpriority stands in for TPC-H's o_shippriority.
    Q(
      "q_sql_q3",
      """SELECT l_orderkey,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS revenue_x1e6,
        |  o_orderdate, o_orderpriority
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1995-03-15'
        |  AND l_shipdate > TIMESTAMP '1995-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue_x1e6 DESC, l_orderkey
        |LIMIT 10""",
    ) { (s, dir) =>
      sqlOverViews(s,
        "customer" -> Tables.customer(s, dir),
        "orders" -> Tables.orders(s, dir),
        "lineitem" -> Tables.lineitem(s, dir))("""
        SELECT l_orderkey,
          CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS revenue_x1e6,
          o_orderdate, o_orderpriority
        FROM {customer} JOIN {orders} ON c_custkey = o_custkey
        JOIN {lineitem} ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15'
          AND l_shipdate > TIMESTAMP '1995-03-15'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue_x1e6 DESC, l_orderkey
        LIMIT 10""")
    },

    // TPC-H Q5 (local-supplier volume): the canonical 6-table star join —
    // region/nation filter the supplier and customer dims, the
    // colocation predicate c_nationkey = s_nationkey rides on the
    // lineitem⋈supplier join, and one partial agg collapses revenue per
    // nation. The plan Catalyst should (and does) pick at 100 TB: the
    // three tiny dims BROADCAST (region/nation/supplier), so the only
    // shuffles are the orders⋈customer and lineitem⋈orders fact joins,
    // join-reordered so each filter lands before its join.
    Q(
      "q_sql_q5",
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
      sqlOverViews(s,
        "region" -> Tables.region(s, dir),
        "nation" -> Tables.nation(s, dir),
        "customer" -> Tables.customer(s, dir),
        "supplier" -> Tables.supplier(s, dir),
        "orders" -> Tables.orders(s, dir),
        "lineitem" -> Tables.lineitem(s, dir))("""
        SELECT n_name,
          CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS revenue_x1e6
        FROM {customer} JOIN {orders} ON c_custkey = o_custkey
        JOIN {lineitem} ON l_orderkey = o_orderkey
        JOIN {supplier} ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN {nation} ON s_nationkey = n_nationkey
        JOIN {region} ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1994-01-01'
          AND o_orderdate < TIMESTAMP '1996-01-01'
        GROUP BY n_name
""")
        .transform(boundedSort(_, col("revenue_x1e6").desc, col("n_name")))
    },

    // TPC-H Q18 (large-volume customers): the IN-on-an-aggregate shape —
    // the subquery re-aggregates lineitem per order and keeps heavy
    // orders; Catalyst rewrites the IN as a LEFT SEMI join fed by a
    // two-phase partial agg, so lineitem is scanned twice but shuffled
    // only on l_orderkey, and the outer 3-way join reuses the same key.
    // Threshold 250 ≈ this corpus's p99 of per-order quantity (TPC-H's
    // 300 is off the synthetic distribution's scale).
    Q(
      "q_sql_q18",
      """SELECT c_name, c_custkey, o_orderkey, o_orderdate,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS totalprice_x1e2,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2)) * 100 AS BIGINT) AS sum_qty_x1e2
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderkey IN (
        |  SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(12,2))) > 250)
        |GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        |ORDER BY totalprice_x1e2 DESC, o_orderkey
        |LIMIT 100""",
    ) { (s, dir) =>
      // DataFrame formulation (r10, the q15/q17 treatment): the IN
      // subquery's HAVING aggregate and the output's SUM are the SAME
      // per-order quantity sum, but the SQL form computes them as two
      // independent lineitem scans (the scan audit flagged it). Aggregate
      // once, filter, join the dims — the fact is scanned and shuffled
      // exactly once and the output sum is the filter column itself.
      // Customer is unhinted: it grows with SF, AQE decides the strategy.
      val sq = Tables.lineitem(s, dir)
        .filter(col("l_orderkey").isNotNull)
        .groupBy("l_orderkey")
        .agg(sum(col("l_quantity").cast("decimal(12,2)")).as("sqty"))
        .filter(col("sqty") > 250)
      sq.join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_orderdate"),
          expr("CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
            .as("totalprice_x1e2"),
          expr("CAST(CAST(sqty AS DECIMAL(38,2)) * 100 AS BIGINT)")
            .as("sum_qty_x1e2"))
        .orderBy(col("totalprice_x1e2").desc, col("o_orderkey"))
        .limit(100)
    },

    // Recursive CTE (WITH RECURSIVE, new SQL surface in Spark 4): walk a
    // derived part hierarchy — parent(k) = k DIV 10, a 10-ary tree over
    // p_partkey — from every node up to its single-digit root, then roll
    // up subtree size / key checksum / max depth per root. The engine
    // executes the anchor once and iterates ONLY the frontier (UnionLoop:
    // each step joins nothing and scans just the previous step's output),
    // so total work is ∝ Σ frontier sizes = N·log₁₀(N) rows and the
    // iteration count is the tree DEPTH (log₁₀ of the key space), not N —
    // the same frontier-iteration scaling as the label-propagation loop in
    // q_dedup_cluster, here expressed declaratively in SQL text. Oracle:
    // DuckDB's recursive CTE computes the identical closure (`//` is its
    // integer-division spelling of DIV).
    Q(
      "q_sql_recursive",
      """WITH RECURSIVE walk(node, anc, depth) AS (
        |  SELECT p_partkey AS node, p_partkey AS anc, 0 AS depth FROM part
        |  UNION ALL
        |  SELECT node, anc // 10 AS anc, depth + 1 AS depth FROM walk WHERE anc > 9
        |)
        |SELECT anc AS root, CAST(COUNT(*) AS BIGINT) AS n_parts,
        |  CAST(SUM(node) AS BIGINT) AS sum_partkey,
        |  CAST(MAX(depth) AS BIGINT) AS max_depth
        |FROM walk WHERE anc <= 9
        |GROUP BY anc ORDER BY root""",
    ) { (s, dir) =>
      sqlOverViews(s, "part" -> Tables.part(s, dir))("""
        WITH RECURSIVE walk(node, anc, depth) AS (
          SELECT p_partkey AS node, p_partkey AS anc, 0 AS depth FROM {part}
          UNION ALL
          SELECT node, anc DIV 10 AS anc, depth + 1 AS depth FROM walk WHERE anc > 9
        )
        SELECT anc AS root, CAST(COUNT(*) AS BIGINT) AS n_parts,
          CAST(SUM(node) AS BIGINT) AS sum_partkey,
          CAST(MAX(depth) AS BIGINT) AS max_depth
        FROM walk WHERE anc <= 9
        GROUP BY anc ORDER BY root""")
    },

    // TPC-H Q10 (returned-item reporting): one-quarter window over
    // orders, lineitem restricted to returns, revenue rolled up per
    // customer, top-20 by revenue. The plan to want at 100 TB: both
    // date and returnflag predicates PUSH into the fact scans, nation
    // broadcasts, the two fact joins shuffle on their keys with partial
    // aggs, and the LIMIT compiles to TakeOrderedAndProject (per-partition
    // heap of 20, never a global sort). Adapted to this corpus's
    // 1995–2001 date span and its customer columns.
    Q(
      "q_sql_q10",
      """SELECT c_custkey, c_name,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS revenue_x1e6,
        |  CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS acctbal_x1e2,
        |  n_name
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, c_acctbal, n_name
        |ORDER BY revenue_x1e6 DESC, c_custkey
        |LIMIT 20""",
    ) { (s, dir) =>
      sqlOverViews(s,
        "customer" -> Tables.customer(s, dir),
        "orders" -> Tables.orders(s, dir),
        "lineitem" -> Tables.lineitem(s, dir),
        "nation" -> Tables.nation(s, dir))("""
        SELECT c_custkey, c_name,
          CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS revenue_x1e6,
          CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS acctbal_x1e2,
          n_name
        FROM {customer} JOIN {orders} ON c_custkey = o_custkey
        JOIN {lineitem} ON l_orderkey = o_orderkey
        JOIN {nation} ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1996-04-01'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue_x1e6 DESC, c_custkey
        LIMIT 20""")
    },

    // TPC-H Q7 (volume shipping, r8): the bidirectional two-nation trade
    // flow — lineitem joins BOTH dims of the same tiny table (nation
    // aliased twice, once through supplier, once through customer), with
    // an OR-of-pairs predicate that can only be applied AFTER both dims
    // attach. The plan Catalyst picks (and should at 100 TB): nation and
    // supplier broadcast, so the only shuffles are the two fact joins
    // (lineitem⋈orders, orders⋈customer) and the final 6-group partial
    // agg; the date filter pushes to the lineitem scan. Exact arithmetic:
    // revenue summed in DECIMAL then scaled to BIGINT like q3/q5/q10.
    Q(
      "q_sql_q7",
      """SELECT supp_nation, cust_nation, l_year,
        |  CAST(CAST(SUM(vol) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS revenue_x1e6,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |        CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
        |        CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) AS vol
        |      FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
        |      JOIN orders ON o_orderkey = l_orderkey
        |      JOIN customer ON c_custkey = o_custkey
        |      JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |      JOIN nation n2 ON c_nationkey = n2.n_nationkey
        |      WHERE ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
        |          OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
        |        AND l_shipdate >= TIMESTAMP '1995-01-01'
        |        AND l_shipdate < TIMESTAMP '1998-01-01')
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""",
    ) { (s, dir) =>
      sqlOverViews(s,
        "supplier" -> Tables.supplier(s, dir),
        "lineitem" -> Tables.lineitem(s, dir),
        "orders" -> Tables.orders(s, dir),
        "customer" -> Tables.customer(s, dir),
        "nation" -> Tables.nation(s, dir))("""
        SELECT supp_nation, cust_nation, l_year,
          CAST(CAST(SUM(vol) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS revenue_x1e6,
          CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
                CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) AS vol
              FROM {supplier} JOIN {lineitem} ON s_suppkey = l_suppkey
              JOIN {orders} ON o_orderkey = l_orderkey
              JOIN {customer} ON c_custkey = o_custkey
              JOIN {nation} n1 ON s_nationkey = n1.n_nationkey
              JOIN {nation} n2 ON c_nationkey = n2.n_nationkey
              WHERE ((n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
                  OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18'))
                AND l_shipdate >= TIMESTAMP '1995-01-01'
                AND l_shipdate < TIMESTAMP '1998-01-01')
        GROUP BY supp_nation, cust_nation, l_year
""")
        .transform(boundedSort(_, col("supp_nation"), col("cust_nation"), col("l_year")))
    },

    // TPC-H Q1 (pricing summary, r8): THE canonical scan-heavy report —
    // one pass over lineitem, 7 aggregates per (returnflag, linestatus),
    // nothing but a pushed date filter and a two-phase partial agg in
    // the plan (the query whole-stage codegen was built for). Exact
    // arithmetic: base/discounted/charged revenue accumulate in DECIMAL
    // at their natural scales (2/4/6) and land as scaled BIGINTs; the
    // averages are integer rationals over (sum, count) — no float, no
    // AVG() rounding divergence.
    Q(
      "q_sql_q1",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) * 100 AS BIGINT) AS sum_base_x1e2,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DECIMAL(38,4)) * 10000 AS BIGINT) AS sum_disc_x1e4,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) * CAST(1 + l_tax AS DECIMAL(4,2))) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS sum_charge_x1e6,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST((SUM(CAST(l_quantity AS BIGINT)) * 1000000) // COUNT(*) AS BIGINT) AS avg_qty_x1e6,
        |  CAST((SUM(CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)) * 10000) // COUNT(*) AS BIGINT) AS avg_disc_x1e6
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""",
    ) { (s, dir) =>
      sqlOverViews(s, "lineitem" -> Tables.lineitem(s, dir))("""
        SELECT l_returnflag, l_linestatus,
          CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
          CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) * 100 AS BIGINT) AS sum_base_x1e2,
          CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2))) AS DECIMAL(38,4)) * 10000 AS BIGINT) AS sum_disc_x1e4,
          CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - l_discount AS DECIMAL(4,2)) * CAST(1 + l_tax AS DECIMAL(4,2))) AS DECIMAL(38,6)) * 1000000 AS BIGINT) AS sum_charge_x1e6,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST((SUM(CAST(l_quantity AS BIGINT)) * 1000000L) div COUNT(*) AS BIGINT) AS avg_qty_x1e6,
          CAST((SUM(CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)) * 10000L) div COUNT(*) AS BIGINT) AS avg_disc_x1e6
        FROM {lineitem} WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
""")
        .transform(boundedSort(_, col("l_returnflag"), col("l_linestatus")))
    },

    // TPC-H Q6 shape (forecast revenue change): THE scan-bound query —
    // one pass over the fact, every predicate pushed into the parquet
    // scan (PlanAuditSpec pins PushedFilters), one global sum, zero
    // joins. Exact arithmetic: price and discount are 2-decimal values,
    // so revenue = price_x1e2 · disc_x1e2 is an exact x1e4 BIGINT per
    // row — no decimal multiplication semantics to align across engines.
    // At 100 TB this is the query that proves scan rate: cost = column-
    // pruned I/O, the agg is one partial per task + one 1-row final.
    Q(
      "q_sql_q6",
      """SELECT
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |           * CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)) AS BIGINT) AS revenue_x1e4,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND CAST(l_discount AS DECIMAL(4,2)) BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""",
    ) { (s, dir) =>
      sqlOverViews(s, "lineitem" -> Tables.lineitem(s, dir))("""
        SELECT
          CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                   * CAST(CAST(l_discount AS DECIMAL(4,2)) * 100 AS BIGINT)) AS BIGINT) AS revenue_x1e4,
          CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM {lineitem}
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
          AND CAST(l_discount AS DECIMAL(4,2)) BETWEEN 0.05 AND 0.07
          AND l_quantity < 24""")
    },

    // TPC-H Q4 shape (order-priority checking): the CORRELATED-EXISTS
    // query — orders in a quarter counted by priority when at least one
    // of their lines shipped after the order date (late-shipping proxy
    // for the spec's commit/receipt columns, which this testdata lacks).
    // The analyzer decorrelates the subquery into a LEFT SEMI join on
    // l_orderkey with the non-equi date conjunct as the join condition —
    // the semi join never multiplies rows (one probe hit suffices), so
    // the shuffle is orders-quarter-sized vs lineitem keyed, then a
    // 5-group agg. At 100 TB both sides partition on the join key; the
    // date filter pushes to the orders scan.
    Q(
      "q_sql_q4",
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""",
    ) { (s, dir) =>
      sqlOverViews(s,
        "orders" -> Tables.orders(s, dir),
        "lineitem" -> Tables.lineitem(s, dir))("""
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
        FROM {orders}
        WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM {lineitem}
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
""")
        .transform(boundedSort(_, col("o_orderpriority")))
    },

    // TPC-H Q13 shape (customer order-count distribution): the DOUBLE
    // AGGREGATION over an OUTER join — customers (including the order-
    // less ones, which only the left join keeps) rolled up to per-
    // customer order counts, then the counts histogrammed. Classic skew
    // probe: the second agg's key cardinality is tiny (distinct order
    // counts), but its input is only customer-sized — the corpus-scale
    // work is the one keyed outer join with partial counts. All-integer
    // output; count(o_orderkey) not count(*) so order-less customers
    // land in the 0 bucket exactly like the spec.
    Q(
      "q_sql_q13",
      """SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        |FROM (SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
        |      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |      GROUP BY c_custkey)
        |GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""",
    ) { (s, dir) =>
      sqlOverViews(s,
        "customer" -> Tables.customer(s, dir),
        "orders" -> Tables.orders(s, dir))("""
        SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        FROM (SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
              FROM {customer} LEFT JOIN {orders} ON c_custkey = o_custkey
              GROUP BY c_custkey)
        GROUP BY c_count
""")
        .transform(boundedSort(_, col("custdist").desc, col("c_count").desc))
    },

    // TPC-H Q14 shape (promotion effect): conditional aggregation + an
    // exact RATIO OF SUMS — the promo share of a month's revenue. Per-row
    // revenue is the exact x1e4 BIGINT of q_sql_q6; the share scales the
    // promo sum through DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) before
    // the integral divide, because sum_x1e4 · 1e6 clears int64 already at
    // sf0.1 — the overflow-safe ratio pattern, not a float in sight. The
    // part dim broadcasts (one keyed fact shuffle); the month filter
    // pushes to the lineitem scan.
    Q(
      "q_sql_q14",
      """WITH j AS (SELECT CASE WHEN p_type = 'PROMO' THEN 1 ELSE 0 END AS is_promo,
        |        CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |          * CAST(CAST(100 * (1 - l_discount) AS DECIMAL(5,2)) AS BIGINT) AS rev_x1e4
        |      FROM lineitem JOIN part ON l_partkey = p_partkey
        |      WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01')
        |SELECT
        |  CAST((CAST(SUM(is_promo * rev_x1e4) AS HUGEINT) * 1000000)
        |       // CAST(SUM(rev_x1e4) AS HUGEINT) AS BIGINT) AS promo_share_x1e6,
        |  CAST(SUM(rev_x1e4) AS BIGINT) AS revenue_x1e4,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM j""",
    ) { (s, dir) =>
      sqlOverViews(s,
        "lineitem" -> Tables.lineitem(s, dir),
        "part" -> Tables.part(s, dir))("""
        WITH j AS (SELECT CASE WHEN p_type = 'PROMO' THEN 1L ELSE 0L END AS is_promo,
                CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                  * CAST(CAST(100 * (1 - l_discount) AS DECIMAL(5,2)) AS BIGINT) AS rev_x1e4
              FROM {lineitem} JOIN {part} ON l_partkey = p_partkey
              WHERE l_shipdate >= TIMESTAMP '1996-09-01' AND l_shipdate < TIMESTAMP '1996-10-01')
        SELECT
          CAST((CAST(SUM(is_promo * rev_x1e4) AS DECIMAL(38,0)) * 1000000)
               div CAST(SUM(rev_x1e4) AS DECIMAL(38,0)) AS BIGINT) AS promo_share_x1e6,
          CAST(SUM(rev_x1e4) AS BIGINT) AS revenue_x1e4,
          CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM j""")
    },

    // TPC-H Q15 shape (top supplier): aggregate-then-select-the-max — a
    // quarter's revenue per supplier, returning every supplier that hits
    // the maximum (ties kept, per the spec's view formulation). The max-
    // of-aggregate is a 1-row broadcast back onto the supplier-sized
    // aggregate — never a window over it (a global window would
    // single-partition the aggregate; the broadcast join keeps it
    // parallel and is exactly how the spec's VIEW + scalar subquery
    // plans). Revenue as the exact x1e4 BIGINT of q_sql_q6.
    Q(
      "q_sql_q15",
      """WITH rev AS (SELECT l_suppkey AS supplier_no,
        |        CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |                 * CAST(CAST(100 * (1 - l_discount) AS DECIMAL(5,2)) AS BIGINT)) AS BIGINT) AS total_revenue_x1e4
        |      FROM lineitem
        |      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
        |      GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_revenue_x1e4
        |FROM supplier JOIN rev ON s_suppkey = supplier_no
        |WHERE total_revenue_x1e4 = (SELECT MAX(total_revenue_x1e4) FROM rev)
        |ORDER BY s_suppkey""",
    ) { (s, dir) =>
      // DataFrame formulation, not the SQL scalar subquery: Spark plans
      // a scalar subquery as its own independent stage, so the spec's
      // `WHERE rev = (SELECT MAX(...) FROM rev)` SCANS THE QUARTER'S
      // LINEITEM SLICE TWICE. Deriving the max FROM the same rev plan
      // lets AQE serve both consumers from one supplier-keyed
      // aggregation exchange (ReusedExchange — asserted in
      // PlanAuditSpec), exactly the jaccard/cms pattern.
      val rev = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= expr("TIMESTAMP '1996-01-01'") &&
          col("l_shipdate") < expr("TIMESTAMP '1996-04-01'"))
        // explicit null-key filter: the equi-join INFERS isnotnull on its
        // side only, which would make the two rev exchange subtrees
        // structurally different and break the reuse this plan is built on
        .filter(col("l_suppkey").isNotNull)
        .groupBy(col("l_suppkey").as("supplier_no"))
        .agg(sum(expr(
          """CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
            |* CAST(CAST(100 * (1 - l_discount) AS DECIMAL(5,2)) AS BIGINT)""".stripMargin))
          .cast("long").as("total_revenue_x1e4"))
      val mx = rev.agg(max(col("total_revenue_x1e4")).as("mx"))
      rev.join(broadcast(mx), col("total_revenue_x1e4") === col("mx"))
        .join(Tables.supplier(s, dir), col("s_suppkey") === col("supplier_no"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue_x1e4"))
        .transform(boundedSort(_, col("s_suppkey")))
    },

    // TPC-H Q22 shape (global sales opportunity): scalar-subquery
    // threshold + ANTI join — customers from a nation set holding more
    // than the average positive balance who have NEVER ordered, counted
    // per nation (the spec's phone-prefix becomes the nation dim this
    // testdata carries). Three distinct sub-shapes in one plan: a 1-row
    // global threshold broadcast as a filter (the average as an EXACT
    // integral division — both engines truncate identically, so the
    // boundary row can never flip on float noise), a LEFT ANTI join against
    // orders (order-less = no probe hit — never an outer join + null
    // filter), and a tiny final agg. Balances are 2-decimal values, so
    // every sum is an exact x1e2 BIGINT.
    Q(
      "q_sql_q22",
      """WITH cust AS (SELECT c_custkey, n_name,
        |        CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal_x1e2
        |      FROM customer JOIN nation ON c_nationkey = n_nationkey
        |      WHERE n_name IN ('NATION_1', 'NATION_5', 'NATION_9', 'NATION_13', 'NATION_17')),
        |thresh AS (SELECT SUM(bal_x1e2) // COUNT(*) AS a FROM cust WHERE bal_x1e2 > 0)
        |SELECT n_name, CAST(COUNT(*) AS BIGINT) AS numcust,
        |  CAST(SUM(bal_x1e2) AS BIGINT) AS totacctbal_x1e2
        |FROM cust, thresh
        |WHERE bal_x1e2 > a
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |                  AND o_orderdate >= TIMESTAMP '2000-01-01')
        |GROUP BY n_name
        |ORDER BY n_name""",
    ) { (s, dir) =>
      sqlOverViews(s,
        "customer" -> Tables.customer(s, dir),
        "nation" -> Tables.nation(s, dir),
        "orders" -> Tables.orders(s, dir))("""
        WITH cust AS (SELECT c_custkey, n_name,
                CAST(CAST(c_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal_x1e2
              FROM {customer} JOIN {nation} ON c_nationkey = n_nationkey
              WHERE n_name IN ('NATION_1', 'NATION_5', 'NATION_9', 'NATION_13', 'NATION_17')),
        thresh AS (SELECT SUM(bal_x1e2) div COUNT(*) AS a FROM cust WHERE bal_x1e2 > 0)
        SELECT n_name, CAST(COUNT(*) AS BIGINT) AS numcust,
          CAST(SUM(bal_x1e2) AS BIGINT) AS totacctbal_x1e2
        FROM cust, thresh
        WHERE bal_x1e2 > a
          AND NOT EXISTS (SELECT 1 FROM {orders} WHERE o_custkey = c_custkey
                          AND o_orderdate >= TIMESTAMP '2000-01-01')
        GROUP BY n_name
""")
        .transform(boundedSort(_, col("n_name")))
    },

    // TPC-H Q17 shape (small-quantity-order revenue): the CORRELATED
    // SCALAR SUBQUERY on the same fact — lines of a brand/size part slice
    // whose quantity sits below a fifth of that part's average, summed.
    // (p_container doesn't exist in this testdata; p_size <= 25 stands in
    // for the container filter — same selectivity role.) Spark-first the
    // decorrelation goes FURTHER than aggregate-then-rejoin: quantities
    // are small integers, so the fact collapses to a (l_partkey, qty)
    // aggregate carrying each cell's line count and price sum, and the
    // per-part average becomes a WINDOW over that aggregate — partitions
    // of ≤50 distinct-quantity rows, never the raw fact. ONE lineitem
    // scan and ONE keyed shuffle total (plan-asserted), where the SQL
    // scalar-subquery formulation scans lineitem twice — and no exchange
    // -reuse fragility: an earlier rejoin formulation silently forked
    // the shared exchange because column pruning narrowed the aggregate
    // branch's scan (qty only) away from the probe's (qty + price).
    // `qty < avg/5` is compared as `5·qty·cnt < sum` — all-integer, no
    // float boundary; the yearly average divides by 7 integrally.
    Q(
      "q_sql_q17",
      """WITH pf AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#13' AND p_size <= 25),
        |agg AS (SELECT l_partkey, SUM(CAST(l_quantity AS BIGINT)) AS sq, COUNT(*) AS cnt
        |        FROM lineitem JOIN pf ON l_partkey = p_partkey GROUP BY 1)
        |SELECT
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) // 7 AS BIGINT) AS avg_yearly_x1e2,
        |  CAST(COUNT(*) AS BIGINT) AS n_small_lines
        |FROM lineitem l JOIN agg ON l.l_partkey = agg.l_partkey
        |WHERE 5 * CAST(l_quantity AS BIGINT) * cnt < sq""",
    ) { (s, dir) =>
      val pf = Tables.part(s, dir)
        .filter(col("p_brand") === "Brand#13" && col("p_size") <= 25)
        .select("p_partkey")
      // (part, quantity)-level rollup of the part-filtered fact over ONE
      // explicit l_partkey exchange: a key-PREFIX hash partitioning
      // satisfies both the rollup's wider (l_partkey, qty) clustering and
      // the window's l_partkey partitioning below, so neither adds a
      // shuffle of its own. The part slice is deliberately UNHINTED: it
      // grows with SF (a brand×size slice of a 100 TB run's part table is
      // ~1e9 rows — a forced broadcast would OOM where AQE correctly
      // broadcasts small and shuffles large)
      val g = Tables.lineitem(s, dir)
        .join(pf, col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"),
          col("l_quantity").cast("long").as("qty"),
          expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)")
            .as("price_x1e2"))
        .repartition(col("l_partkey"))
        .groupBy("l_partkey", "qty")
        .agg(sum("price_x1e2").as("ps"), count(lit(1)).as("n"))
      // per-part totals as a window over the TINY rollup (≤50 rows per
      // part): sq = Σ qty·n, cnt = Σ n — the correlated subquery without
      // a second scan, a rejoin, or a reused-exchange dependency
      val w = Window.partitionBy("l_partkey")
      g.withColumn("sq", sum(col("qty") * col("n")).over(w))
        .withColumn("cnt", sum(col("n")).over(w))
        .filter(lit(5L) * col("qty") * col("cnt") < col("sq"))
        .agg(expr("CAST(SUM(ps) div 7 AS BIGINT)").as("avg_yearly_x1e2"),
          sum("n").cast("long").as("n_small_lines"))
    },

    // TPC-H Q20 shape (potential part promotion): the NESTED-IN over a
    // CORRELATED AGGREGATE — suppliers holding a (supplier, part) pair,
    // over a name-prefix part slice, where the window year's shipments
    // exceed half the pair's all-time shipments. (No partsupp table in
    // this testdata: ps_availqty's role — a per-(supplier,part) quantity
    // compared against a correlated lineitem sum — is played by the
    // pair's all-time shipped total, and the spec's `availqty > qty/2`
    // becomes `2·window > total`, which actually discriminates on this
    // data.) Spark-first: the spec's two nested subqueries over the same
    // fact collapse into ONE conditional aggregation per (suppkey,
    // partkey) — a single fact scan and a single keyed shuffle where the
    // literal translation would scan lineitem twice and semi-join; the
    // supplier projection is a broadcast of the tiny qualifying set.
    Q(
      "q_sql_q20",
      """WITH qual AS (
        |  SELECT l_suppkey, l_partkey FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'large%')
        |  GROUP BY l_suppkey, l_partkey
        |  HAVING 2 * SUM(CASE WHEN l_shipdate >= TIMESTAMP '1996-01-01'
        |                       AND l_shipdate < TIMESTAMP '1997-01-01'
        |                      THEN CAST(l_quantity AS BIGINT) ELSE 0 END)
        |         > SUM(CAST(l_quantity AS BIGINT)))
        |SELECT s_suppkey, s_name, CAST(COUNT(*) AS BIGINT) AS n_parts
        |FROM supplier JOIN qual ON s_suppkey = l_suppkey
        |GROUP BY s_suppkey, s_name
        |ORDER BY s_name""",
    ) { (s, dir) =>
      val pf = Tables.part(s, dir)
        .filter(col("p_name").like("large%")).select("p_partkey")
      val inWindow = col("l_shipdate") >= expr("TIMESTAMP '1996-01-01'") &&
        col("l_shipdate") < expr("TIMESTAMP '1997-01-01'")
      // the name-prefix part slice grows with SF: no forced broadcast —
      // AQE broadcasts it while small and shuffles it at warehouse scale
      val qual = Tables.lineitem(s, dir)
        .join(pf, col("l_partkey") === col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(sum(col("l_quantity").cast("long")).as("tot"),
          sum(when(inWindow, col("l_quantity").cast("long")).otherwise(0L)).as("yr"))
        .filter(lit(2L) * col("yr") > col("tot"))
        .groupBy("l_suppkey").agg(count(lit(1)).as("n_parts"))
      // qual is aggregate-sized (≤ distinct qualifying suppliers) but
      // still ∝ SF — unhinted for the same AQE-decides reason
      Tables.supplier(s, dir)
        .join(qual, col("s_suppkey") === col("l_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("n_parts").cast("long"))
        .orderBy("s_name")
    },

    // TPC-H Q21 shape (suppliers who kept orders waiting): the EXISTS +
    // NOT-EXISTS DOUBLE SELF-JOIN on the fact — the hardest decorrelation
    // in the suite. "Late" is proxied line-locally by l_returnflag = 'R'
    // (no commit/receipt dates in this testdata): count, per supplier,
    // the returned lines on FINISHED multi-supplier orders where that
    // supplier was the ONLY one with a returned line. Spark-first: the
    // spec's two correlated subqueries become ONE per-order aggregate —
    // distinct-supplier and returned-supplier counts via a (orderkey,
    // suppkey) pre-dedup — derived from the SAME order-keyed exchange as
    // the probe side (repartition once; the dedup and per-order rollup
    // run exchange-free on top, ReusedExchange plan-asserted). EXISTS ≡
    // nsupp > 1, NOT EXISTS ≡ nret = 1: the fact is scanned once and
    // shuffled once where the literal translation shuffles it three times.
    Q(
      "q_sql_q21",
      """WITH st AS (SELECT l_orderkey,
        |        COUNT(DISTINCT l_suppkey) AS nsupp,
        |        COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS nret
        |      FROM lineitem GROUP BY 1)
        |SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
        |FROM lineitem l1
        |  JOIN st ON l1.l_orderkey = st.l_orderkey
        |  JOIN orders ON o_orderkey = l1.l_orderkey
        |  JOIN supplier ON s_suppkey = l1.l_suppkey
        |WHERE l1.l_returnflag = 'R' AND o_orderstatus = 'F'
        |  AND nsupp > 1 AND nret = 1
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name""",
    ) { (s, dir) =>
      // both null-key filters are EXPLICIT in the shared plan: the
      // supplier equi-join infers isnotnull(l_suppkey) on the probe
      // branch only, which would fork the exchange subtrees and break
      // the reuse this plan is built on (the q15 lesson)
      val li = Tables.lineitem(s, dir)
        .filter(col("l_orderkey").isNotNull && col("l_suppkey").isNotNull)
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_returnflag") === "R").cast("int").as("ret"))
        .repartition(col("l_orderkey"))
      // per-(order, supplier) dedup — exchange-free on the order-keyed
      // partitioning (a hash partition on a KEY PREFIX satisfies the
      // wider clustering), sidestepping the Expand-based multi-distinct
      // rewrite a COUNT(DISTINCT ..) pair would plan. BOTH consumers
      // below branch from this aggregate, not from raw lines: its `ret`
      // is an aggregate output, which a filter cannot push through — a
      // raw-line probe's `ret = 1` filter would push below the
      // repartition, fork the exchange subtrees, and silently scan
      // lineitem twice (the q15 null-key lesson, one level up). The pair
      // carries its returned-LINE count so the final rollup still counts
      // lines, as the spec's l1 granularity does.
      val os = li.groupBy("l_orderkey", "l_suppkey")
        .agg(max("ret").as("ret"), sum("ret").as("nretlines"))
      val st = os.groupBy("l_orderkey")
        .agg(count(lit(1)).as("nsupp"), sum("ret").as("nret"))
      os.filter(col("ret") === 1)
        .join(st, "l_orderkey")
        .filter(col("nsupp") > 1 && col("nret") === 1)
        .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F"),
          col("l_orderkey") === col("o_orderkey"))
        // supplier grows with SF: unhinted, AQE decides (broadcast at
        // bench scale, shuffle at warehouse scale)
        .join(Tables.supplier(s, dir),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name").agg(sum("nretlines").cast("long").as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
    },

    // TPC-H Q8 shape (national market share): the suite's WIDEST star —
    // the fact joined through part, supplier, orders, customer, BOTH
    // nation roles and region (8 relations), then a per-year exact
    // ratio-of-sums (one nation's volume share). Q7's dual-nation join
    // + Q14's overflow-safe integral divide composed at full width: the
    // fact shuffles only on its two key joins (orders, then customer via
    // orders); part/supplier/nation/region all broadcast; the date window
    // pushes to the orders scan and the type filter to the part scan.
    Q(
      "q_sql_q8",
      """WITH j AS (
        |  SELECT EXTRACT(year FROM o_orderdate) AS o_year,
        |         CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |           * CAST(CAST(100 * (1 - l_discount) AS DECIMAL(5,2)) AS BIGINT) AS vol_x1e4,
        |         n2.n_name AS supp_nation
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |    JOIN supplier ON s_suppkey = l_suppkey
        |    JOIN orders ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |    JOIN region ON n1.n_regionkey = r_regionkey
        |    JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |  WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
        |    AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31')
        |SELECT CAST(o_year AS BIGINT) AS o_year,
        |  CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol_x1e4 ELSE 0 END) AS HUGEINT) * 1000000
        |       // CAST(SUM(vol_x1e4) AS HUGEINT) AS BIGINT) AS mkt_share_x1e6,
        |  CAST(SUM(vol_x1e4) AS BIGINT) AS volume_x1e4,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM j GROUP BY o_year ORDER BY o_year""",
    ) { (s, dir) =>
      sqlOverViews(s,
        "lineitem" -> Tables.lineitem(s, dir),
        "part" -> Tables.part(s, dir),
        "supplier" -> Tables.supplier(s, dir),
        "orders" -> Tables.orders(s, dir),
        "customer" -> Tables.customer(s, dir),
        "nation" -> Tables.nation(s, dir),
        "region" -> Tables.region(s, dir))("""
        WITH j AS (
          SELECT EXTRACT(year FROM o_orderdate) AS o_year,
                 CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                   * CAST(CAST(100 * (1 - l_discount) AS DECIMAL(5,2)) AS BIGINT) AS vol_x1e4,
                 n2.n_name AS supp_nation
          FROM {lineitem} JOIN {part} ON p_partkey = l_partkey
            JOIN {supplier} ON s_suppkey = l_suppkey
            JOIN {orders} ON l_orderkey = o_orderkey
            JOIN {customer} ON o_custkey = c_custkey
            JOIN {nation} n1 ON c_nationkey = n1.n_nationkey
            JOIN {region} ON n1.n_regionkey = r_regionkey
            JOIN {nation} n2 ON s_nationkey = n2.n_nationkey
          WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
            AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31')
        SELECT CAST(o_year AS BIGINT) AS o_year,
          CAST(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol_x1e4 ELSE 0L END) AS DECIMAL(38,0)) * 1000000
               div CAST(SUM(vol_x1e4) AS DECIMAL(38,0)) AS BIGINT) AS mkt_share_x1e6,
          CAST(SUM(vol_x1e4) AS BIGINT) AS volume_x1e4,
          CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM j GROUP BY o_year""")
        .transform(boundedSort(_, col("o_year")))
    },

    // TPC-H Q19 shape (discounted revenue): the OR-OF-CONJUNCTS join
    // predicate — three (brand, size-range, quantity-range) disjuncts
    // that each need BOTH sides of the part join (p_container/shipmode
    // don't exist here; p_size ranges play the container role). The
    // planner's job this query exists to probe: extract the common
    // p_partkey equi-key so the join stays hash-based (never a nested
    // loop over the disjunction), and push the part-only disjunction
    // (brand ∨ brand ∨ brand) to the part scan while the mixed
    // brand×quantity conjuncts evaluate post-join.
    Q(
      "q_sql_q19",
      """SELECT
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |           * CAST(CAST(100 * (1 - l_discount) AS DECIMAL(5,2)) AS BIGINT)) AS BIGINT) AS revenue_x1e4,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 20 AND 30)""",
    ) { (s, dir) =>
      sqlOverViews(s,
        "lineitem" -> Tables.lineitem(s, dir),
        "part" -> Tables.part(s, dir))("""
        SELECT
          CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                   * CAST(CAST(100 * (1 - l_discount) AS DECIMAL(5,2)) AS BIGINT)) AS BIGINT) AS revenue_x1e4,
          CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM {lineitem} JOIN {part} ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 20 AND 30)""")
    },

    // TPC-H Q2 shape (minimum-cost supplier): the CORRELATED SCALAR MIN
    // over a second relation — for each part of a size/type slice, the
    // region's suppliers quoting the minimum supply cost, top-100 by
    // account balance. (No partsupp in this testdata: the pair's quoted
    // cost is played by its minimum shipped unit price, price_x1e2 div
    // qty — integral, so truncating div and flooring // agree.) Spark-
    // first the correlated MIN decorrelates to a WINDOW over the
    // (part, supplier) aggregate: the fact collapses to pair-grain in
    // ONE keyed shuffle, the region filter rides a broadcast dim join,
    // and the per-part minimum is a partition-min over the aggregate-
    // sized candidates — never a rejoin, never a second fact scan. At
    // 100 TB the only corpus-scale work is the pair rollup; everything
    // after runs on Σ pairs of a 1/12 part slice.
    Q(
      "q_sql_q2",
      """WITH pf AS (SELECT p_partkey, p_name FROM part
        |            WHERE p_size <= 15 AND p_type = 'STANDARD'),
        |rs AS (SELECT s_suppkey, s_name,
        |         CAST(CAST(s_acctbal AS DECIMAL(12,2)) * 100 AS BIGINT) AS bal_x1e2, n_name
        |       FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |         JOIN region ON n_regionkey = r_regionkey
        |       WHERE r_name = 'EUROPE'),
        |ps AS (SELECT l_partkey, l_suppkey,
        |         MIN(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |             // CAST(l_quantity AS BIGINT)) AS cost_x1e2
        |       FROM lineitem JOIN pf ON l_partkey = p_partkey GROUP BY 1, 2),
        |cand AS (SELECT * FROM ps JOIN rs ON l_suppkey = s_suppkey),
        |mn AS (SELECT l_partkey, MIN(cost_x1e2) AS m FROM cand GROUP BY 1)
        |SELECT bal_x1e2, s_name, n_name, l_partkey AS p_partkey, p_name, cost_x1e2
        |FROM cand JOIN mn USING (l_partkey) JOIN pf ON l_partkey = pf.p_partkey
        |WHERE cost_x1e2 = m
        |ORDER BY bal_x1e2 DESC, n_name, s_name, p_partkey LIMIT 100""",
    ) { (s, dir) =>
      val pf = Tables.part(s, dir)
        .filter(col("p_size") <= 15 && col("p_type") === "STANDARD")
        .select("p_partkey", "p_name")
      // region-filtered suppliers: nation/region broadcast onto the
      // supplier dim; the result grows with SF so it stays unhinted for
      // the candidate join below (AQE broadcasts it while small)
      val rs = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
            .join(Tables.region(s, dir).filter(col("r_name") === "EUROPE"),
              col("n_regionkey") === col("r_regionkey"))
            .select("n_nationkey", "n_name")),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_name"),
          Dec.asLong(col("s_acctbal"), 2).as("bal_x1e2"), col("n_name"))
      // pair-grain quoted cost over ONE explicit l_partkey exchange (the
      // q17 key-prefix pattern): the partkey hash partitioning satisfies
      // both the (partkey, suppkey) rollup's clustering AND the window's
      // partitionBy below, so the window adds no exchange of its own
      val ps = Tables.lineitem(s, dir)
        .join(pf.select("p_partkey"), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_suppkey"),
          expr("""CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                 |div CAST(l_quantity AS BIGINT)""".stripMargin).as("unit"))
        .repartition(col("l_partkey"))
        .groupBy("l_partkey", "l_suppkey").agg(min("unit").as("cost_x1e2"))
      // correlated MIN as a partition-min window over the aggregate-
      // sized candidate set (≤ |slice| · |region suppliers| rows).
      // part IS scanned twice (slice filter here, p_name join below) —
      // deliberately: carrying p_name through the corpus-scale pair
      // rollup would widen the ONE fact shuffle by a string column to
      // save an aggregate-sized broadcast join of a filtered dim — the
      // wrong trade at 100 TB (the scan audit's documented-dim-rescan
      // class, like Q8's dual-role nation)
      val w = Window.partitionBy("l_partkey")
      ps.join(rs, col("l_suppkey") === col("s_suppkey"))
        .withColumn("m", min(col("cost_x1e2")).over(w))
        .filter(col("cost_x1e2") === col("m"))
        .join(pf, col("l_partkey") === col("p_partkey"))
        .select(col("bal_x1e2"), col("s_name"), col("n_name"),
          col("l_partkey").as("p_partkey"), col("p_name"), col("cost_x1e2"))
        .orderBy(col("bal_x1e2").desc, col("n_name"), col("s_name"),
          col("p_partkey"))
        .limit(100)
    },

    // TPC-H Q9 shape (product-type profit): the profit breakdown star —
    // the fact through part (name-pattern filter), supplier, orders (for
    // the year), and the SUPPLIER's nation, grouped (nation, year). The
    // spec's ps_supplycost·l_quantity term has no partsupp to come from
    // here; the tax charge plays the cost's role so the measure keeps
    // its sum-of-differences form: amount = price·(1−disc) − price·tax,
    // exact x1e4 (price_x1e2 · (factor_x1e2 − tax_x1e2)). Submitted as
    // raw SQL TEXT — the planner's job is the join ORDER: part filters
    // hardest and attaches first, supplier/nation broadcast, and the
    // fact shuffles only on its orders key.
    Q(
      "q_sql_q9",
      """WITH j AS (
        |  SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
        |    CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      * (CAST(CAST(100 * (1 - l_discount) AS DECIMAL(5,2)) AS BIGINT)
        |         - CAST(CAST(100 * l_tax AS DECIMAL(5,2)) AS BIGINT)) AS amount_x1e4
        |  FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
        |    JOIN part ON p_partkey = l_partkey
        |    JOIN orders ON o_orderkey = l_orderkey
        |    JOIN nation ON s_nationkey = n_nationkey
        |  WHERE p_name LIKE '%red%')
        |SELECT nation, CAST(o_year AS BIGINT) AS o_year,
        |  CAST(SUM(amount_x1e4) AS BIGINT) AS profit_x1e4,
        |  CAST(COUNT(*) AS BIGINT) AS n_lines
        |FROM j GROUP BY nation, o_year
        |ORDER BY nation, o_year DESC""",
    ) { (s, dir) =>
      sqlOverViews(s,
        "lineitem" -> Tables.lineitem(s, dir),
        "supplier" -> Tables.supplier(s, dir),
        "part" -> Tables.part(s, dir),
        "orders" -> Tables.orders(s, dir),
        "nation" -> Tables.nation(s, dir))("""
        WITH j AS (
          SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
            CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
              * (CAST(CAST(100 * (1 - l_discount) AS DECIMAL(5,2)) AS BIGINT)
                 - CAST(CAST(100 * l_tax AS DECIMAL(5,2)) AS BIGINT)) AS amount_x1e4
          FROM {lineitem} JOIN {supplier} ON s_suppkey = l_suppkey
            JOIN {part} ON p_partkey = l_partkey
            JOIN {orders} ON o_orderkey = l_orderkey
            JOIN {nation} ON s_nationkey = n_nationkey
          WHERE p_name LIKE '%red%')
        SELECT nation, CAST(o_year AS BIGINT) AS o_year,
          CAST(SUM(amount_x1e4) AS BIGINT) AS profit_x1e4,
          CAST(COUNT(*) AS BIGINT) AS n_lines
        FROM j GROUP BY nation, o_year
""")
        .transform(boundedSort(_, col("nation"), col("o_year").desc))
    },

    // TPC-H Q11 shape (important stock identification): per-part value
    // held by one nation's suppliers, kept when the part's value exceeds
    // a GLOBAL threshold — the scalar-subquery-over-the-same-aggregate
    // query. The spec's fixed fraction scales with 1/SF (a constant
    // multiplier keeps nothing at 100× the parts); here the threshold is
    // self-scaling — value · n_parts > 2 · total, i.e. twice the mean
    // part value — which is the comparison the spec's fraction encodes
    // at its calibrated SF, stated scale-freely. All-integer cross-
    // multiply: no division anywhere. Spark-first: the per-part value
    // aggregates ONCE; total and count derive FROM that same plan as a
    // 1-row broadcast (the q15 max-of-aggregate pattern), so AQE serves
    // both consumers from one part-keyed exchange instead of scanning
    // the fact twice like the literal HAVING-subquery translation.
    Q(
      "q_sql_q11",
      """WITH val AS (
        |  SELECT l_partkey, CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS value_x1e2
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |    JOIN nation ON s_nationkey = n_nationkey
        |    JOIN region ON n_regionkey = r_regionkey
        |  WHERE r_name = 'ASIA'
        |  GROUP BY 1)
        |SELECT l_partkey AS p_partkey, value_x1e2
        |FROM val, (SELECT SUM(value_x1e2) AS t, COUNT(*) AS n FROM val)
        |WHERE value_x1e2 * n > 2 * t
        |ORDER BY value_x1e2 DESC, p_partkey""",
    ) { (s, dir) =>
      // supplier⋈nation⋈region pre-reduced, broadcast onto the fact: only
      // the region's lines survive the scan-side semi shape; the one
      // corpus shuffle is the part rollup. (The spec scopes to one
      // nation; a region here so the tiny-SF supplier table still lands
      // members — the plan shape is identical.)
      val ns = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
            .join(Tables.region(s, dir).filter(col("r_name") === "ASIA"),
              col("n_regionkey") === col("r_regionkey"))
            .select("n_nationkey")),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      val value = Tables.lineitem(s, dir)
        // explicit null-key filter (the q15 lesson): the threshold branch
        // below must stay structurally identical to this one for AQE to
        // reuse the part-keyed exchange
        .filter(col("l_partkey").isNotNull)
        .join(ns, col("l_suppkey") === col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(sum(expr("CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)"))
          .cast("long").as("value_x1e2"))
      // global threshold derived FROM the same aggregate: 1 row, broadcast
      val thresh = value.agg(sum("value_x1e2").as("t"), count(lit(1)).as("n"))
      value.join(broadcast(thresh))
        .filter(col("value_x1e2") * col("n") > lit(2L) * col("t"))
        .select(col("l_partkey").as("p_partkey"), col("value_x1e2"))
        .orderBy(col("value_x1e2").desc, col("p_partkey"))
    },

    // TPC-H Q12 shape (shipping modes and order priority): the two-fact
    // CONDITIONAL COUNT join — lines of a ship-year, split per mode into
    // critical (urgent/high) vs other order priorities. (l_shipmode
    // doesn't exist in this testdata; l_returnflag's A/R classes play the
    // mode's role with the same filter-then-group shape.) Submitted as
    // raw SQL TEXT: the mode+year filters push to the lineitem scan, the
    // priority CASE rides the orders side, and the only shuffle is the
    // orderkey equi-join — the canonical fact-to-fact join with both
    // sides pre-filtered and column-pruned at the scan.
    Q(
      "q_sql_q12",
      """SELECT l_returnflag AS ship_mode,
        |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
        |  CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_returnflag IN ('A', 'R')
        |  AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""",
    ) { (s, dir) =>
      sqlOverViews(s,
        "orders" -> Tables.orders(s, dir),
        "lineitem" -> Tables.lineitem(s, dir))("""
        SELECT l_returnflag AS ship_mode,
          CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
          CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
        FROM {orders} JOIN {lineitem} ON o_orderkey = l_orderkey
        WHERE l_returnflag IN ('A', 'R')
          AND l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY l_returnflag
""")
        .transform(boundedSort(_, col("l_returnflag")))
    },

    // TPC-H Q16 shape (parts/supplier relationship): DISTINCT-COUNT of
    // suppliers per part attribute group, minus an excluded-supplier
    // NOT-IN set — the anti-join + multi-key distinct aggregation. (No
    // partsupp: the supplier-part relationship is the pairs the fact
    // actually shipped; the spec's complaints pattern-match becomes the
    // negative-balance suppliers.) Spark-first: the part attribute slice
    // joins BEFORE the pair dedup so the distinct runs on the slice, the
    // exclusion is a LEFT ANTI against a supplier-sized set (never NOT IN
    // null-traps — keys are non-null by schema), and countDistinct plans
    // the standard two-phase partial distinct on (brand, type, size).
    Q(
      "q_sql_q16",
      """SELECT p_brand, p_type, p_size, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
        |      WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)) pr
        |JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",
    ) { (s, dir) =>
      val excl = Tables.supplier(s, dir)
        .filter(col("s_acctbal") < 0).select("s_suppkey")
      val slice = Tables.part(s, dir)
        .filter(col("p_brand") =!= "Brand#45" && col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      Tables.lineitem(s, dir).select("l_partkey", "l_suppkey")
        // excl is supplier-scale (grows with SF): unhinted, AQE decides
        .join(excl, col("l_suppkey") === col("s_suppkey"), "left_anti")
        .join(slice, col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).cast("long").as("supplier_cnt"))
        .transform(boundedSort(_, col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size")))
    },

    // Node-similarity Jaccard over the customer–part co-purchase graph
    // (r8): "customers like you" / collaborative-filtering candidate
    // generation — for every customer pair sharing a purchased part,
    // |parts(a) ∩ parts(b)| / |parts(a) ∪ parts(b)| as an exact x1e6
    // rational, top-20. The classic set-similarity join: NEVER the n²
    // customer self-join — pairs are enumerated per part (the inverted
    // index), so work is Σ_p deg(p)², bounded by the hot-part cap below.
    // Parts above the cap are excluded in BOTH engines (like dedup's
    // MaxBucketDf stop keys — ubiquitous items carry no similarity
    // signal, exactly stop-word removal in set-similarity literature).
    Q(
      "q_graph_jaccard",
      """WITH cp0 AS (SELECT DISTINCT o_custkey AS c, l_partkey AS p
        |            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |hot AS (SELECT p FROM cp0 GROUP BY p HAVING COUNT(*) > 500),
        |cp AS (SELECT c, p FROM cp0 WHERE p NOT IN (SELECT p FROM hot)),
        |deg AS (SELECT c, COUNT(*) AS d FROM cp GROUP BY 1),
        |inter AS (SELECT a.c AS c1, b.c AS c2, COUNT(*) AS i
        |          FROM cp a JOIN cp b ON a.p = b.p AND a.c < b.c GROUP BY 1, 2)
        |SELECT c1, c2, CAST(i AS BIGINT) AS n_common,
        |  CAST((i * 1000000) // (d1.d + d2.d - i) AS BIGINT) AS jaccard_x1e6
        |FROM inter JOIN deg d1 ON c1 = d1.c JOIN deg d2 ON c2 = d2.c
        |ORDER BY jaccard_x1e6 DESC, c1, c2 LIMIT 20""",
    ) { (s, dir) =>
      val maxDeg = 500 // hot-part stop key: work/part ≤ maxDeg², corpus-independent
      val cp = Tables.lineitem(s, dir).select(col("l_orderkey"), col("l_partkey").as("p"))
        .join(Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey").as("c")),
          col("l_orderkey") === col("o_orderkey"))
        .select("c", "p").distinct()
      // per-part customer lists (the inverted index), hot parts dropped;
      // pair enumeration is array-local per part — no customer self-join
      val byPart = cp.groupBy("p")
        .agg(sort_array(collect_list(col("c"))).as("cs"))
        .filter(size(col("cs")) <= maxDeg)
      // pairs ride as ONE packed BIGINT (c1 << 32 | c2, c1 < c2 because
      // cs is sorted): Σdeg² of them per corpus — a narrow explode and a
      // single-long shuffle key instead of a struct. graft_packed_pairs
      // is the native codegen twin of the flatten/transform/slice HOF
      // (identical values and order): the interpreted form allocated an
      // O(deg) slice copy per element — O(deg²) copied cells per part —
      // through per-element lambda dispatch (guide §1.2 "per-task work").
      val pairs = byPart.filter(size(col("cs")) >= 2)
        .select(explode(expr("graft_packed_pairs(cs)")).as("pk"))
        .groupBy("pk").agg(count(lit(1)).as("i"))
        .select(expr("pk div 4294967296L").as("c1"),
          expr("pk % 4294967296L").as("c2"), col("i"))
      // degree = non-hot parts per customer, derived from the SAME
      // inverted index — AQE serves both branches from one part-keyed
      // aggregation exchange (ReusedExchange, asserted in PlanAuditSpec;
      // singleton parts count toward degree)
      val deg = byPart.select(explode(col("cs")).as("c"))
        .groupBy("c").agg(count(lit(1)).as("d"))
      pairs
        .join(deg.select(col("c").as("c1"), col("d").as("d1")), Seq("c1"))
        .join(deg.select(col("c").as("c2"), col("d").as("d2")), Seq("c2"))
        .select(col("c1"), col("c2"), col("i").cast("long").as("n_common"),
          expr("CAST((i * 1000000L) div (d1 + d2 - i) AS BIGINT)").as("jaccard_x1e6"))
        .orderBy(col("jaccard_x1e6").desc, col("c1"), col("c2"))
        .limit(20)
    },

    // Weighted PageRank over the nation trade graph — the iterative
    // graph-analytics shape (label propagation's weighted cousin; the
    // frontier-walk q_sql_recursive covers the traversal family, this
    // covers fixed-point score iteration). Edges = customer-nation →
    // supplier-nation purchase counts from the 4-table fact join; two
    // Jacobi iterations unrolled into one static plan. EXACT arithmetic
    // throughout: damping 0.85 = 17/20 as integer rational, per-edge
    // contribution round(n/d) computed as (2n+d) DIV (2d) on BIGINTs —
    // no float ever, so sums are associative and order-independent in
    // both engines. Rank base 1e4 (not 1e6): the contribution product
    // 34·pr·w must clear int64 at 100 TB edge weights (w ~ 1e10 for a
    // 6e11-row fact over 625 node pairs) — 34·2.1e5·1e10 ≈ 7e16 keeps
    // ~100× headroom where a 1e6 base would sit within 10× of wrap.
    // At scale each iteration is ONE keyed shuffle ∝ E
    // with partial aggs; rank state (∝ nodes) broadcasts back onto the
    // edge list — nodes ≪ edges is exactly the web/citation regime.
    Q(
      "q_graph_pagerank",
      """WITH e AS (
        |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
        |  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  GROUP BY 1, 2),
        |wsum AS (SELECT src, SUM(w) AS tw FROM e GROUP BY src),
        |p0 AS (SELECT n_nationkey AS node, CAST(10000 AS BIGINT) AS pr FROM nation),
        |i1 AS (SELECT e.dst AS node,
        |         SUM((2 * 17 * p.pr * e.w + 20 * ws.tw) // (2 * 20 * ws.tw)) AS c
        |       FROM e JOIN wsum ws ON e.src = ws.src JOIN p0 p ON e.src = p.node
        |       GROUP BY e.dst),
        |p1 AS (SELECT p0.node, 1500 + COALESCE(i1.c, 0) AS pr
        |       FROM p0 LEFT JOIN i1 ON p0.node = i1.node),
        |i2 AS (SELECT e.dst AS node,
        |         SUM((2 * 17 * p.pr * e.w + 20 * ws.tw) // (2 * 20 * ws.tw)) AS c
        |       FROM e JOIN wsum ws ON e.src = ws.src JOIN p1 p ON e.src = p.node
        |       GROUP BY e.dst),
        |p2 AS (SELECT p1.node, 1500 + COALESCE(i2.c, 0) AS pr2, p1.pr AS pr1
        |       FROM p1 LEFT JOIN i2 ON p1.node = i2.node)
        |SELECT n.n_name, CAST(p2.pr1 AS BIGINT) AS pr1_x1e4, CAST(p2.pr2 AS BIGINT) AS pr2_x1e4
        |FROM p2 JOIN nation n ON p2.node = n.n_nationkey
        |ORDER BY n.n_name""",
    ) { (s, dir) =>
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      val su = Tables.supplier(s, dir)
      val n = Tables.nation(s, dir)
      val edges = c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .join(su, l("l_suppkey") === su("s_suppkey"))
        .groupBy(c("c_nationkey").as("src"), su("s_nationkey").as("dst"))
        .agg(count(lit(1)).as("w"))
        .localCheckpoint(true) // node-scale edge list, reused by both iterations
      val wsum = edges.groupBy("src").agg(sum(col("w")).as("tw"))
      val ew = edges.join(wsum, "src")
      val p0 = n.select(col("n_nationkey").as("node"), lit(10000L).as("pr"))
      def step(p: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
        val contrib = ew.join(broadcast(p), col("src") === col("node"))
          // round(n/d) on positive BIGINTs as (2n + d) div (2d) — `div`
          // truncates and `//` floors, identical for positive operands
          .select(col("dst"),
            expr("(2L * 17L * pr * w + 20L * tw) div (2L * 20L * tw)").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("c"))
        p0.select(col("node")).join(contrib, col("node") === col("dst"), "left")
          .select(col("node"), (lit(1500L) + coalesce(col("c"), lit(0L))).as("pr"))
      }
      val p1 = step(p0)
      val p2 = step(p1)
      // fresh scan for the name join: `n` already seeds p0, and reusing
      // the same Dataset would trip the ambiguous-self-join analyzer
      val names = Tables.nation(s, dir)
        .select(col("n_nationkey").as("name_key"), col("n_name"))
      p1.select(col("node"), col("pr").as("pr1_x1e4"))
        .join(p2.select(col("node").as("node2"), col("pr").as("pr2_x1e4")),
          col("node") === col("node2"))
        .join(names, col("node") === col("name_key"))
        .select(col("n_name"), col("pr1_x1e4"), col("pr2_x1e4"))
        .orderBy("n_name")
    },

    // Triangle counting over the part co-purchase graph — the third
    // graph-analytics shape next to fixed-point iteration (pagerank) and
    // connected components (q_dedup_cluster): a LOCAL-structure motif
    // count. Nodes = parts, edges = distinct part pairs sharing an order
    // (a quarter of orders, keyed by l_orderkey % 4, keeps the bench
    // graph modest without changing the plan shape). The algorithm is
    // the degree-oriented node-iterator (MapReduce triangle counting,
    // Suri & Vassilvitskii 2011): each undirected edge is directed from
    // its (degree, id)-smaller endpoint, so every triangle materializes
    // as exactly ONE wedge at its smallest vertex and wedge fan-out is
    // bounded by out-degree ≤ O(sqrt(m)) — the hub that would explode a
    // naive wedge join only ever RECEIVES edges. Cost: wedge join +
    // closing join, both keyed shuffles with partial aggs; degrees are
    // node-scale and broadcast. Per-node output = triangle membership
    // count + degree (local clustering numerator/denominator), top 15.
    Q(
      "q_graph_triangles",
      """WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |            FROM lineitem WHERE l_orderkey % 4 = 0),
        |e AS (SELECT DISTINCT a.pk AS u, b.pk AS v
        |      FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk),
        |deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |          SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        |        GROUP BY node),
        |ed AS (SELECT e.u, e.v, du.deg AS du, dv.deg AS dv
        |       FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node),
        |o AS (SELECT CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS src,
        |             CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS dst,
        |             CASE WHEN du < dv OR (du = dv AND u < v) THEN dv ELSE du END AS dd
        |      FROM ed),
        |w AS (SELECT x.dst AS b, y.dst AS c, x.src AS a FROM o x JOIN o y
        |        ON x.src = y.src AND (x.dd < y.dd OR (x.dd = y.dd AND x.dst < y.dst))),
        |t AS (SELECT a, b, c FROM w JOIN o ON w.b = o.src AND w.c = o.dst),
        |n AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS tri FROM (
        |        SELECT a AS node FROM t UNION ALL SELECT b FROM t
        |        UNION ALL SELECT c FROM t)
        |      GROUP BY node)
        |SELECT n.node, n.tri, deg.deg
        |FROM n JOIN deg ON n.node = deg.node
        |ORDER BY n.tri DESC, n.node LIMIT 15""",
    ) { (s, dir) =>
      val li = Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 4 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
        .distinct()
      val e = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") < col("b.pk"))
        .select(col("a.pk").as("u"), col("b.pk").as("v"))
        .distinct()
        .localCheckpoint(true) // edge list feeds degrees, orientation, AND closure
      val deg = e.select(col("u").as("node"))
        .union(e.select(col("v").as("node")))
        .groupBy("node").agg(count(lit(1)).as("deg"))
        .localCheckpoint(true) // node-scale (≪ edges): broadcast twice below
      val ed = e
        .join(broadcast(deg.select(col("node").as("u"), col("deg").as("du"))), "u")
        .join(broadcast(deg.select(col("node").as("v"), col("deg").as("dv"))), "v")
      val uFirst = col("du") < col("dv") ||
        (col("du") === col("dv") && col("u") < col("v"))
      val o = ed.select(
        when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"),
        when(uFirst, col("dv")).otherwise(col("du")).as("dd"))
        .localCheckpoint(true) // reused by the wedge self-join and the closure probe
      val wedges = o.as("x").join(o.as("y"),
          col("x.src") === col("y.src") &&
            (col("x.dd") < col("y.dd") ||
              (col("x.dd") === col("y.dd") && col("x.dst") < col("y.dst"))))
        .select(col("x.src").as("a"), col("x.dst").as("b"), col("y.dst").as("c"))
      val tris = wedges.join(
        o.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"))
      val n = tris.select(col("a").as("node"))
        .union(tris.select(col("b").as("node")))
        .union(tris.select(col("c").as("node")))
        .groupBy("node").agg(count(lit(1)).as("tri"))
      n.join(broadcast(deg), "node")
        .select(col("node"), col("tri"), col("deg"))
        .orderBy(col("tri").desc, col("node")).limit(15)
    },

    // Dynamic partition pruning: the fact table is laid out partitioned by
    // the join key; joining it to a FILTERED dim makes Catalyst inject the
    // dim's key set into the fact scan's PartitionFilters at runtime
    // (broadcast reuse), so only the matching partition directories are
    // ever read — the star-schema scan pattern that turns a 100 TB fact
    // scan into a per-segment read without any explicit predicate on the
    // fact side. dpp_active is pinned from the actual plan text
    // ("dynamicpruning" in the scan's partition filters).
    Q(
      "q_join_dpp",
      """WITH dim AS (SELECT * FROM (VALUES ('purchase', 10), ('signup', 5))
        |             AS d(event_type, weight) WHERE weight > 0)
        |SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(COUNT(*) * MAX(d.weight) AS BIGINT) AS weighted,
        |  true AS dpp_active
        |FROM events e JOIN dim d ON e.event_type = d.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""",
    ) { (s, dir) =>
      import s.implicits._
      val root = dppRoots.computeIfAbsent(dir, { _ =>
        val r = java.nio.file.Files.createTempDirectory("graft_dpp")
        // one file per partition dir (anti-small-files), hive-style layout
        Tables.events(s, dir).repartition(col("event_type"))
          .write.partitionBy("event_type").parquet(r.resolve("events").toString)
        // the dim must be a FILE relation: a literal LocalRelation gets its
        // Filter constant-folded away (ConvertToLocalRelation), erasing the
        // selective predicate the DPP rule keys on — verified empirically
        Seq(("purchase", 10L), ("signup", 5L), ("error", 0L))
          .toDF("event_type", "weight").write.parquet(r.resolve("dim").toString)
        r
      })
      val fact = s.read.parquet(root.resolve("events").toString)
      val dim = s.read.parquet(root.resolve("dim").toString)
        .filter(col("weight") > 0) // the selective dim predicate DPP keys on
      val agg = fact.join(dim, Seq("event_type"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), (count(lit(1)) * max(col("weight"))).as("weighted"))
      val dpp = agg.queryExecution
        .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        .contains("dynamicpruning")
      agg.withColumn("dpp_active", lit(dpp)).orderBy("event_type")
    },

    // Fuzzy string join (entity resolution at edit distance ≤ 1) via the
    // FastSS deletion-neighborhood trick: every string emits itself plus
    // its length single-deletion variants as bucket keys — two strings
    // within one edit ALWAYS share a key (substitution: both delete the
    // differing position; indel: the shorter IS a variant of the longer;
    // equality: the identity key) — so candidates come from one
    // equi-join on the key, NEVER an all-pairs cross, and the exact
    // levenshtein verify runs only inside buckets. Cost ∝ Σ bucket², with
    // buckets = strings sharing a deletion variant (tiny for id-like
    // names); (len+1)× key expansion is map-side. The published
    // approximate-dictionary-search shape, as a distributed join.
    Q(
      "q_join_fuzzy",
      """WITH n AS (SELECT c_name AS name FROM customer),
        |k AS (SELECT name, unnest(list_prepend(name,
        |        list_transform(range(1, length(name) + 1),
        |          i -> substring(name, 1, i - 1) || substring(name, i + 1, length(name) - i)))) AS k
        |      FROM n),
        |p AS (SELECT DISTINCT a.name AS name_a, b.name AS name_b
        |      FROM k a JOIN k b ON a.k = b.k AND a.name < b.name)
        |SELECT name_a, name_b, CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
        |FROM p WHERE levenshtein(name_a, name_b) <= 1
        |ORDER BY name_a, name_b""",
    ) { (s, dir) =>
      val variants = "concat(array(name), transform(sequence(1, length(name)), " +
        "i -> concat(substring(name, 1, i - 1), substring(name, i + 1, length(name) - i))))"
      // bucket key = xxhash64 of the deletion variant, not the string:
      // the shuffle moves 8-byte longs instead of ~len-char strings, and
      // a hash collision can only ADD a candidate pair the exact
      // levenshtein verify then rejects — recall is structural (equal
      // variants always hash equal), precision is re-checked, so the
      // compression is free. The oracle joins the raw strings; results
      // agree because verification is exact on both sides.
      // spread before the (len+1)× explode: the testdata dim is a
      // single-file scan (one task) and the variant expansion + hashing
      // would otherwise run serially
      val keys = Tables.spread(Tables.customer(s, dir).select(col("c_name").as("name")))
        .select(col("name"), explode(expr(variants)).as("kv"))
        .select(col("name"), xxhash64(col("kv")).as("k"))
      // bucket-collect instead of the self-join (r12, the dedup-family
      // plan shape): the join form evaluated the scan→explode→hash
      // subtree TWICE (once per branch — the probed plan showed two
      // Generates, one under a BroadcastExchange of the whole keyed
      // relation); grouping by k derives it once and expands pairs
      // in-row. collect_set: two deletions of one name can coincide
      // (e.g. "aab"), which the join form deduped via the same distinct.
      val buckets = keys.groupBy("k")
        .agg(sort_array(collect_set(col("name"))).as("ns"))
        .filter(size(col("ns")) > 1)
      val pairs = buckets
        .select(explode(col("ns")).as("name_a"), col("ns"))
        .select(col("name_a"), explode(col("ns")).as("name_b"))
        .filter(col("name_a") < col("name_b"))
        .select("name_a", "name_b").distinct()
      // THRESHOLD levenshtein (r12): the verify computes ~1M candidate
      // distances but only keeps ≤ 1 — the bounded form early-exits the
      // DP at the band instead of filling len×len cells per pair
      // (O(len·k) vs O(len²)); for kept pairs it returns the exact
      // distance, for rejected ones -1, so the kept set and the emitted
      // dist are unchanged.
      pairs
        .withColumn("dist",
          levenshtein(col("name_a"), col("name_b"), 1).cast("long"))
        .filter(col("dist").between(0, 1))
        .orderBy("name_a", "name_b")
    },

    // Runtime bloom-filter join (Spark's row-level runtime filter, the
    // shuffle-join complement of DPP): the selective dim side builds a
    // bloom filter over its join keys at runtime and Catalyst injects a
    // might_contain probe into the FACT scan, so non-matching fact rows
    // die at the scan instead of riding the shuffle — at 100 TB this is
    // the difference between shuffling the whole fact table and
    // shuffling the ~20% that can match. Thresholds are scaled down to
    // exhibit size (the app-side default is 10 GB) and broadcast is
    // disabled while PLANNING this one query — runtime filters target
    // exactly the too-big-to-broadcast case; the plan is forced inside
    // the conf scope and rf_active pinned from the injected filter.
    Q(
      "q_join_runtime_filter",
      """SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2)) * 100 AS BIGINT) AS sum_qty_x1e2,
        |  true AS rf_active
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    ) { (s, dir) =>
      val confs = Seq(
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val prev = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        val dim = Tables.orders(s, dir)
          .filter(col("o_orderpriority") === "1-URGENT")
          .select(col("o_orderkey"), col("o_orderpriority"))
        val agg = Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_quantity"))
          .join(dim, col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"),
            Dec.asLong(sum(Dec.money(col("l_quantity"))), 2).as("sum_qty_x1e2"))
        val rf = agg.queryExecution
          .explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          .contains("might_contain")
        val out = agg.withColumn("rf_active", lit(rf)).orderBy("o_orderpriority")
        out.queryExecution.executedPlan // freeze the plan under these confs
        out
      } finally prev.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    },

    // banded theta self-join: pairs of events by the same user within 5
    // minutes. Scale pattern (banded range join): the equi key is
    // (user_id, 5-minute time bucket) — the left side is exploded into its
    // own bucket and the next one, so every qualifying pair lands in exactly
    // one equi-join group. Group size is bounded by per-user events per
    // 10 minutes (not per-user total), so one hot user can no longer pin a
    // single task at 100 TB; the band predicate filters inside each group.
    Q(
      "q_join_range_theta",
      """SELECT a.user_id, COUNT(*) AS n_pairs
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND b.ts > a.ts
        | AND epoch_us(CAST(b.ts AS TIMESTAMP)) - epoch_us(CAST(a.ts AS TIMESTAMP)) <= 300000000
        |GROUP BY a.user_id
        |ORDER BY a.user_id""",
    ) { (s, dir) =>
      val bandUs = 300000000L // 5 minutes in µs = bucket width
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"),
          expr(s"unix_micros(ts) div $bandUs").as("bucket"))
      val a = ev.select(col("user_id"), col("ts").as("ts_a"),
          explode(array(col("bucket"), col("bucket") + 1)).as("bk"))
      val b = ev.select(col("user_id").as("user_b"), col("ts").as("ts_b"),
          col("bucket").as("bk_b"))
      a.join(b,
        a("user_id") === b("user_b")
          && col("bk") === col("bk_b")
          && col("ts_b") > col("ts_a")
          && unix_micros(col("ts_b")) - unix_micros(col("ts_a")) <= bandUs)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("user_id")
    },

    // UNKEYED interval-overlap join (r7) — the genomics/log-correlation
    // primitive q_join_range_theta's banded join cannot express: two
    // interval sets with NO equality key, matched on [s,e] overlap.
    // Scale pattern (chunked interval join): both sides replicate into
    // every fixed-width time chunk their interval covers (explode over
    // sequence(chunk(s), chunk(e)) — intervals here span hours, so ~5
    // copies at a 1-hour chunk), the join equi-keys on the chunk, and
    // the overlap predicate filters inside each chunk's group. A pair
    // overlapping in several chunks is emitted EXACTLY once, dedup-free:
    // only the chunk containing max(a.s, b.s) owns the pair (that point
    // lies in both intervals iff they overlap) — no distinct, no second
    // shuffle. Group size is bounded by intervals-per-chunk, never by
    // table size, so one busy hour bounds a task at 100 TB. Durations
    // quantize exactly (decimal ×1e4 → ×6000 µs), overlap lengths are
    // integer µs. Output aggregates per left interval (pair lists are
    // quadratic-ish at bench scale; the per-a rollup keeps the output
    // interval-count-sized without weakening the join's correctness —
    // every pair's exact overlap length lands in the sum).
    Q(
      "q_join_interval",
      """WITH e AS (SELECT event_id, event_type,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS s,
        |             epoch_us(CAST(ts AS TIMESTAMP))
        |               + CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) * 6000 AS e2
        |      FROM events),
        |a AS (SELECT event_id, s, e2 FROM e WHERE event_type = 'signup'),
        |b AS (SELECT event_id, s, e2 FROM e WHERE event_type = 'error')
        |SELECT a.event_id AS a_id, COUNT(*) AS n_overlaps,
        |       CAST(SUM(least(a.e2, b.e2) - greatest(a.s, b.s)) AS BIGINT) AS sum_overlap_us
        |FROM a JOIN b ON a.s <= b.e2 AND b.s <= a.e2
        |GROUP BY a.event_id
        |ORDER BY a_id""",
    ) { (s, dir) =>
      val chunkUs = 3600L * 1000000L // 1-hour chunks
      val ev = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("s"),
          (unix_micros(col("ts")) +
            graft.Dec.asLong(graft.Dec.d4(col("value")), 4) * 6000L).as("e2"))
      def side(t: String, p: String) = ev.filter(col("event_type") === t)
        .select(col("event_id").as(s"${p}_id"), col("s").as(s"${p}_s"),
          col("e2").as(s"${p}_e"),
          explode(sequence(expr(s"s div $chunkUs"), expr(s"e2 div $chunkUs"))).as(s"${p}_ck"))
      side("signup", "a").join(side("error", "b"),
          col("a_ck") === col("b_ck")
            && col("a_s") <= col("b_e") && col("b_s") <= col("a_e")
            // chunk ownership: exactly one chunk emits each pair
            && col("a_ck") === expr(s"greatest(a_s, b_s) div $chunkUs"))
        .groupBy(col("a_id"))
        .agg(count(lit(1)).as("n_overlaps"),
          sum(least(col("a_e"), col("b_e")) - greatest(col("a_s"), col("b_s")))
            .as("sum_overlap_us"))
        .orderBy("a_id")
    },

    // skew-salted join — the hot-key mitigation registered as a surface
    // query (SkewSaltingSpec proves the task-balance property on an
    // adversarial 90%-one-key dataset; this registers the PATTERN over
    // testdata). l_returnflag has 3 values with ~half the table on 'N':
    // an unsalted shuffle join on it would send half of lineitem to one
    // task. The fact side salts each row deterministically into 8
    // subtasks (hash of its unique key — never rand(), reproducible);
    // the dim side replicates each row ×8 with a generated salt. The join
    // keys on (flag, salt), so every task holds ≤ ~1/8 of a hot key. The
    // shuffle_hash hint keeps the demonstration honest: AQE would
    // otherwise broadcast this tiny literal dim away (the real use case
    // is a dim too big to broadcast — salting is what remains when both
    // broadcast and AQE skew-split don't apply, e.g. under a required
    // sort-merge output partitioning). Salt never reaches the output, so
    // the oracle is the plain unsalted join.
    Q(
      "q_join_skew_salted",
      """SELECT d.flag_class, COUNT(*) AS n,
        |       CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(12,2))) AS DECIMAL(38,2)) * 100 AS BIGINT) AS sum_qty_x1e2
        |FROM lineitem l
        |JOIN (VALUES ('A','returned'),('N','kept'),('R','returned')) AS d(flag, flag_class)
        |  ON l.l_returnflag = d.flag
        |GROUP BY d.flag_class
        |ORDER BY d.flag_class""",
    ) { (s, dir) =>
      import s.implicits._
      val salt = 8
      val fact = Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_quantity"),
          pmod(xxhash64(col("l_orderkey"), col("l_linenumber")), lit(salt))
            .cast("int").as("_salt"))
      val dim = Seq(("A", "returned"), ("N", "kept"), ("R", "returned"))
        .toDF("flag", "flag_class")
        .withColumn("_salt", explode(sequence(lit(0), lit(salt - 1))))
      fact.join(dim.hint("shuffle_hash"),
          fact("l_returnflag") === dim("flag") && fact("_salt") === dim("_salt"))
        .groupBy("flag_class")
        .agg(count(lit(1)).as("n"),
          Dec.asLong(sum(Dec.money(col("l_quantity"))), 2).as("sum_qty_x1e2"))
        .orderBy("flag_class")
    },

    // as-of join: for each purchase, the most recent click at-or-before it
    // by the same user. Union + single window pass (scalable as-of).
    Q(
      "q_join_asof",
      """SELECT p.event_id, p.user_id, epoch_us(CAST(p.ts AS TIMESTAMP)) AS ts_us,
        |       (SELECT max(epoch_us(CAST(c.ts AS TIMESTAMP))) FROM events c
        |         WHERE c.user_id = p.user_id AND c.event_type = 'click' AND c.ts <= p.ts) AS last_click_us
        |FROM events p WHERE p.event_type = 'purchase'
        |ORDER BY p.event_id""",
    ) { (s, dir) =>
      val ev = Tables.events(s, dir).filter(col("event_type").isin("click", "purchase"))
        .select(col("event_id"), col("user_id"), col("ts"),
          when(col("event_type") === "click", 0).otherwise(1).as("rk"))
      // clicks sort before purchases at equal ts so ties honor c.ts <= p.ts
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("rk"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("last_click_us",
          max(when(col("rk") === 0, unix_micros(col("ts")))).over(w))
        .filter(col("rk") === 1)
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("last_click_us"))
        .orderBy("event_id")
    },

    // NEAREST-event as-of join (r7) — the BIDIRECTIONAL tolerance variant
    // q_join_asof's backward-only window pass cannot express: each
    // purchase pairs with its nearest click by the same user within
    // ±10 minutes, in EITHER direction (sensor/feature alignment: take
    // the closest reading, before or after). Scale pattern: the same
    // banded equi-join as q_join_range_theta — purchases explode into
    // their 10-minute bucket and both neighbors, clicks keep one bucket,
    // the join keys on (user, bucket) so |dt| ≤ band is evaluated inside
    // per-user-per-20-minute groups — then ONE purchase-keyed min_by
    // picks the winner under the deterministic (|dt|, click ts, click
    // id) order. No window over the world, no per-user sort.
    Q(
      "q_join_asof_nearest",
      """WITH p AS (SELECT event_id AS p_id, user_id,
        |             epoch_us(CAST(ts AS TIMESTAMP)) AS pus
        |           FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS c_id, user_id,
        |        epoch_us(CAST(ts AS TIMESTAMP)) AS cus
        |      FROM events WHERE event_type = 'click'),
        |j AS (SELECT p.p_id, c.c_id, c.cus - p.pus AS dt_us,
        |        abs(c.cus - p.pus) AS adt, c.cus
        |      FROM p JOIN c ON p.user_id = c.user_id
        |        AND abs(c.cus - p.pus) <= 600000000)
        |SELECT p_id, c_id, dt_us
        |FROM (SELECT *, row_number() OVER (PARTITION BY p_id
        |        ORDER BY adt, cus, c_id) AS rn FROM j)
        |WHERE rn = 1 ORDER BY p_id""",
    ) { (s, dir) =>
      val bandUs = 600000000L // ±10 minutes; bucket width = the band
      val ev = Tables.events(s, dir)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("user_id"),
          unix_micros(col("ts")).as("pus"))
        .withColumn("bk", explode(array(
          expr(s"pus div $bandUs") - 1, expr(s"pus div $bandUs"),
          expr(s"pus div $bandUs") + 1)))
      val c = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_id"), col("user_id").as("user_c"),
          unix_micros(col("ts")).as("cus"))
        .withColumn("bk_c", expr(s"cus div $bandUs"))
      p.join(c, col("user_id") === col("user_c") && col("bk") === col("bk_c")
          && abs(col("cus") - col("pus")) <= bandUs)
        .groupBy(col("p_id"))
        .agg(
          min_by(col("c_id"),
            struct(abs(col("cus") - col("pus")), col("cus"), col("c_id"))).as("c_id"),
          min_by(col("cus") - col("pus"),
            struct(abs(col("cus") - col("pus")), col("cus"), col("c_id"))).as("dt_us"))
        .orderBy("p_id")
    },

    // Multi-hop BFS reachability (r8) — the TRAVERSAL graph shape next
    // to fixed-point scoring (q_graph_pagerank), components
    // (q_dedup_cluster) and motif counting (q_graph_triangles): hop
    // distance from a seed over the trade-backbone graph (nation→nation
    // edges kept only when strictly heavier than the source's mean edge
    // weight — a deterministic sparsifier, so the walk has real depth
    // instead of a one-hop clique). The Spark side is FRONTIER BFS, the
    // scale-correct algorithm: per round, only the newly-reached
    // frontier joins the edge list (broadcast — the frontier is
    // node-scale), visited nodes never re-expand, and the driver loop
    // tests ONE aggregate (frontier count) per round — O(diameter)
    // rounds, each a keyed join, vs the oracle's exhaustive
    // (node, depth)-space recursive CTE. Edge derivation is the one
    // corpus-sized cost (same 4-table join as pagerank, partial-agg'd
    // to node²-bounded edges); everything after is metadata-sized.
    Q(
      "q_graph_bfs",
      """WITH e0 AS (
        |  SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
        |  FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
        |  JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |  GROUP BY 1, 2),
        |m AS (SELECT src, SUM(w) AS tw, COUNT(*) AS cnt FROM e0 GROUP BY src),
        |e AS (SELECT e0.src, e0.dst FROM e0 JOIN m ON e0.src = m.src
        |      WHERE e0.w * m.cnt > m.tw AND e0.src <> e0.dst),
        |b AS (
        |  WITH RECURSIVE bb(node, d) AS (
        |    SELECT CAST(0 AS BIGINT) AS node, 0 AS d
        |    UNION
        |    SELECT e.dst, bb.d + 1 FROM bb JOIN e ON e.src = bb.node WHERE bb.d < 25)
        |  SELECT node, MIN(d) AS dist FROM bb GROUP BY node)
        |SELECT CAST(node AS BIGINT) AS node, CAST(dist AS BIGINT) AS dist
        |FROM b ORDER BY node""",
    ) { (s, dir) =>
      import s.implicits._
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      val su = Tables.supplier(s, dir)
      val e0 = c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .join(su, l("l_suppkey") === su("s_suppkey"))
        .groupBy(c("c_nationkey").cast("long").as("src"),
          su("s_nationkey").cast("long").as("dst"))
        .agg(count(lit(1)).as("w"))
      val m = e0.groupBy("src").agg(sum(col("w")).as("tw"), count(lit(1)).as("cnt"))
      // node²-bounded backbone, the only corpus-derived relation; pinned
      // local so every BFS round joins a tiny materialized edge list
      val e = e0.join(m, "src")
        .filter(col("w") * col("cnt") > col("tw") && col("src") =!= col("dst"))
        .select("src", "dst")
        .localCheckpoint(true)
      var dist = Seq((0L, 0L)).toDF("node", "dist").localCheckpoint(true)
      var frontier = dist
      var round = 0L
      while (round < 25 && frontier.count() > 0) {
        round += 1
        // expand ONLY the frontier, then drop already-visited nodes —
        // both sides of both joins are node-scale (broadcast)
        val next = e.join(broadcast(frontier.select(col("node").as("src"))), "src")
          .select(col("dst").as("node")).distinct()
          .join(broadcast(dist.select(col("node"))), Seq("node"), "left_anti")
          .select(col("node"), lit(round).as("dist"))
          .localCheckpoint(true)
        frontier = next
        dist = dist.union(next).localCheckpoint(true)
      }
      dist.orderBy("node")
    },
  )
}
