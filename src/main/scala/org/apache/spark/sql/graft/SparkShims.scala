package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.{Dataset => ClassicDataset, SparkSession => ClassicSparkSession}

/** The `private[sql]` seams graft's SQL front end and scan planner need,
  * re-exported from a subpackage of org.apache.spark.sql — the standard
  * extension-point technique for Spark-ecosystem libraries (Delta and
  * Iceberg's Spark modules ship shims of exactly this shape). Nothing
  * here adds behavior; it only widens visibility (Spark 4 split the public API
  * into sql-api, so the implementation lives in sql.classic):
  *
  *  - `parsePlan`: the session's own SQL parser, so graft's front end
  *    accepts exactly the session dialect (including `VERSION AS OF` /
  *    `TIMESTAMP AS OF`, which the parser already understands for any
  *    relation — Spark just has no resolution rule for our tables).
  *  - `parseExpression`: the same parser for a bare predicate, so a
  *    table scan can be planned from WHERE text (GraftTable.planScan).
  *  - `ofRows`: turn a substituted logical plan back into a DataFrame,
  *    running the full analyzer/optimizer pipeline on it — substituted
  *    snapshot subplans flow through DeduplicateRelations etc. exactly
  *    like temp-view expansions do.
  */
object SparkShims {
  private def classic(spark: SparkSession): ClassicSparkSession = spark match {
    case c: ClassicSparkSession => c
    case other => throw new IllegalArgumentException(
      s"GraftSql needs a classic (local/cluster) SparkSession, got ${other.getClass}")
  }

  def parsePlan(spark: SparkSession, sqlText: String): LogicalPlan =
    classic(spark).sessionState.sqlParser.parsePlan(sqlText)

  def parseExpression(spark: SparkSession, sqlText: String): Expression =
    classic(spark).sessionState.sqlParser.parseExpression(sqlText)

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    ClassicDataset.ofRows(classic(spark), plan)
}
