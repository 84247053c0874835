package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core._
import graft.ext.{Dedup, Multimodal, Similarity, TextOps}
import graft.operators.AsOfJoin
import graft.streaming.Streams

import graft.QueryHelpers._

/** Driver contract — every operator in SURVEY.md §2 (D1–D17, S6/S7
  * batch semantics, T1) plus the north-star LLM-pipeline extensions,
  * each as a `queries` entry with (where SQL-expressible) a DuckDB
  * oracle in `oracleSql`. Column names AND types are aligned between
  * the Spark result and the oracle; all floating-point aggregates go
  * through exact DECIMAL(18,4) sums cast back to double so results are
  * order-independent and engine-portable.
  *
  * The registry BODIES live in the per-tier objects under
  * graft/queries/ (QueriesCore, QueriesCuration, QueriesAnalytics,
  * QueriesStats) with shared fixtures/oracle-CTE builders in
  * QueryHelpers; this object only concatenates them, so the
  * driver-facing API is unchanged. */
object SparkEntry {

  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val c = T(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = T(spark, dir, "orders")
    val l = T(spark, dir, "lineitem")
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(l, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  // =====================================================================
  // queries
  // =====================================================================

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueriesCore.queries ++ QueriesCuration.queries ++
      QueriesGovernance.queries ++
      QueriesAnalytics.queries ++ QueriesStats.queries

  /** The queries whose names contain any of the comma-separated
    * substrings in `patterns` (every query when absent), in name order:
    * the selection `Verify`, `Bench` and `tools.Probe` all take. */
  def select(patterns: Option[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val pats = patterns.map(_.split(',').toSeq)
    queries.toSeq.sortBy(_._1).filter { case (n, _) => pats.forall(_.exists(n.contains)) }
  }

  def oracleSql: Map[String, String] =
    QueriesCore.oracleSql ++ QueriesCuration.oracleSql ++
      QueriesGovernance.oracleSql ++
      QueriesAnalytics.oracleSql ++ QueriesStats.oracleSql
}
