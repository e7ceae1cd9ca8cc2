package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Aggregates every implemented QueryPack into the driver's
  * queries/oracleSql maps.
  */
object SparkEntry {

  /** All implemented query packs (SURVEY.md §2 coverage). */
  def packs: Seq[QueryPack] = Seq(
    _root_.graft.queries.RelQueries,
    _root_.graft.queries.JoinQueries,
    _root_.graft.queries.AggQueries,
    _root_.graft.queries.FuncQueries,
    _root_.graft.queries.TextQueries,
    _root_.graft.queries.CurateQueries,
    _root_.graft.queries.DedupQueries,
    _root_.graft.queries.VectorQueries,
    _root_.graft.queries.RetrievalQueries,
    _root_.graft.queries.MultimodalQueries,
    _root_.graft.queries.TableQueries,
    _root_.graft.queries.StreamQueries,
    _root_.graft.queries.AssetQueries,
  )

  lazy val all: Seq[Q] = packs.flatMap(_.queries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queryMap("q_agg_group")(spark, "/root/testdata/sf0.001")

  /** Every query's semantics (timestamp literals, date_trunc, casts) assume
    * UTC, and events.parquet reads only under the TIMESTAMP(NANOS) flag;
    * the driver may hand us a session built without either, so
    * [[GraftSession.attach]] pins them, and registers the native
    * functions, before the plan is built.
    */
  private def utcPinned(fn: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    (s, dir) => fn(GraftSession.attach(s), dir)

  private lazy val queryMap: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> utcPinned(q.fn)).toMap

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = queryMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
