package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.plans.{TopKPerKeyPlan, TopKPerKeyStrategy}

/** The whole-operator rung of the extension ladder, registered as a
  * gated query: per-customer top-3 orders by price through the
  * custom [[graft.plans.TopKPerKeyExec]] bounded-heap operator —
  * no window, no per-partition sort of the input, one clustering
  * exchange (PlanSpec pins all three). The DuckDB oracle is the
  * row_number formulation, so the gate proves the custom operator
  * equals the declarative semantics row-for-row. The (price DESC,
  * orderkey ASC) order is total, making ties deterministic on both
  * engines. */
object TopKOps {

  val K = 3

  /** Idempotently register the planner strategy on this session —
    * `experimental.extraStrategies` is the public injection point
    * that needs no session rebuild (GraftExtensions'
    * injectPlannerStrategy is the from-scratch equivalent). */
  def ensureStrategy(s: SparkSession): Unit =
    if (!s.experimental.extraStrategies.exists(_ eq TopKPerKeyStrategy))
      s.experimental.extraStrategies =
        s.experimental.extraStrategies :+ TopKPerKeyStrategy

  /** The operator body without the presentation sort (spec hook). */
  def topkPerKeyRaw(s: SparkSession, d: String): DataFrame = {
    ensureStrategy(s)
    val child = Tables.orders(s, d)
      .select("o_custkey", "o_orderkey", "o_totalprice")
    val analyzed = child.queryExecution.analyzed
    val out = analyzed.output
    def attr(n: String) = out.find(_.name == n).getOrElse(
      throw new IllegalStateException(s"column $n missing from ${out.map(_.name)}"))
    org.apache.spark.sql.GraftSqlBridge.ofRows(s,
      TopKPerKeyPlan(
        keys = Seq(attr("o_custkey")),
        order = Seq(SortOrder(attr("o_totalprice"), Descending),
          SortOrder(attr("o_orderkey"), Ascending)),
        k = K, child = analyzed))
  }

  def topkPerKey(s: SparkSession, d: String): DataFrame =
    topkPerKeyRaw(s, d).transform(Present.sortedUnbounded(_,
      col("o_custkey"), desc("o_totalprice"), col("o_orderkey")))

  /** The BUILT-IN twin of the custom operator: the declarative
    * `row_number() <= k` filter, which Catalyst's
    * InferWindowGroupLimit rewrites into partial+final
    * WindowGroupLimit operators — each task keeps a bounded k-heap
    * per key BEFORE the shuffle, so the exchange carries keys×k rows
    * instead of the full input, same asymptotics as TopKPerKeyExec.
    * Registered so the engine demonstrates both rungs (custom
    * SparkStrategy and the optimizer's own rewrite) against one
    * oracle; PlanSpec pins the Partial/Final WindowGroupLimit pair. */
  def topkWindowLimitRaw(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= K).drop("rn")
  }

  def topkWindowLimit(s: SparkSession, d: String): DataFrame =
    topkWindowLimitRaw(s, d).transform(Present.sortedUnbounded(_,
      col("o_custkey"), desc("o_totalprice"), col("o_orderkey")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "topk_per_key" -> topkPerKey _,
    "topk_window_limit" -> topkWindowLimit _,
  )

  private val oracleTopK =
    s"""SELECT o_custkey, o_orderkey, o_totalprice FROM (
       |  SELECT o_custkey, o_orderkey, o_totalprice,
       |    row_number() OVER (PARTITION BY o_custkey
       |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
       |  FROM orders) t
       |WHERE rn <= $K
       |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin

  val oracle: Map[String, String] = Map(
    "topk_per_key" -> oracleTopK,
    // the window-limit plan changes how the top K are found, never which
    "topk_window_limit" -> oracleTopK,
  )
}
