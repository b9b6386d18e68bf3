package graft

import org.apache.spark.sql.functions._

/** Bucketing — the 100 TB fact⋈fact answer (SCALE.md): co-partition
  * both tables on the join key at WRITE time so the join plans with
  * no Exchange on either side. Testdata is read-only, so this spec
  * writes bucketed copies and asserts the plan property. */
class BucketSpec extends SparkSpec {

  test("bucketed fact-fact join plans without a shuffle") {
    val db = "graft_bucket_test"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    // force the join to consider shuffle/bucket mechanics: at test
    // scale everything fits a broadcast, which would bypass buckets
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.lineitem(spark, sfDir)
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(s"$db.lineitem_b")
      Tables.orders(spark, sfDir)
        .withColumnRenamed("o_orderkey", "l_orderkey") // same key name
        .write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(s"$db.orders_b")

      val joined = spark.table(s"$db.lineitem_b")
        .join(spark.table(s"$db.orders_b"), "l_orderkey")
        .groupBy("o_orderpriority")
        .agg(sum("l_quantity").as("q"))
      joined.collect()
      // AQE's toString prints Final + Initial plans; assert on Final only
      val plan = joined.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      // neither join side may shuffle: the only exchange allowed is
      // the final aggregation's
      val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges <= 1, s"expected bucketed join without shuffles:\n$plan")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"), plan)

      // and the result matches the unbucketed join
      val expect = Tables.lineitem(spark, sfDir)
        .join(Tables.orders(spark, sfDir),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(sum("l_quantity").as("q"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val got = joined.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(got.keySet == expect.keySet)
      got.foreach { case (k, v) => assert(math.abs(v - expect(k)) < 1e-6) }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    }
  }

  test("TopKPerKey rides a bucketed layout with zero exchanges") {
    // the operator declares ClusteredDistribution(keys); a layout
    // bucketed on the key already satisfies it, so per-key top-k
    // over the landed table plans with NO exchange at all — the
    // distribution contract composing with the warehouse story
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
    val dir = SparkSpec.tempDir("graft_topk_bkt").toString
    Tables.orders(spark, sfDir)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .write.mode("overwrite")
      .bucketBy(8, "o_custkey")
      .option("path", dir).format("parquet")
      .saveAsTable("graft_topk_orders_bkt")
    try {
      graft.operators.TopKOps.ensureStrategy(spark)
      val analyzed = spark.table("graft_topk_orders_bkt")
        .queryExecution.analyzed
      def attr(n: String) = analyzed.output.find(_.name == n).get
      val df = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
        graft.plans.TopKPerKeyPlan(Seq(attr("o_custkey")),
          Seq(SortOrder(attr("o_totalprice"), Descending),
            SortOrder(attr("o_orderkey"), Ascending)),
          graft.operators.TopKOps.K, analyzed))
      df.collect()
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(p.contains("TopKPerKey"), p)
      assert(!p.contains("Exchange"), s"bucketed top-k re-shuffled:\n$p")
      // and the answer equals the shuffled registered form
      val expect = graft.operators.TopKOps.topkPerKeyRaw(spark, sfDir)
        .collect().map(_.toString).sorted.toSeq
      assert(df.collect().map(_.toString).sorted.toSeq == expect)
    } finally spark.sql("DROP TABLE IF EXISTS graft_topk_orders_bkt")
  }

  test("warehouse q18/q9 variants equal their shuffled forms; layout lands once") {
    import graft.sources.StorageOps
    val before = StorageOps.whStores.builds.get
    val q18b = StorageOps.q18Bucketed(spark, sfDir).collect()
    val q18 = graft.operators.RelOps.q18LargeOrders(spark, sfDir).collect()
    assert(q18b.map(_.toString).toSeq == q18.map(_.toString).toSeq)
    val q9b = StorageOps.q9Bucketed(spark, sfDir).collect()
    val q9 = graft.operators.RelOps.q9ProductProfit(spark, sfDir).collect()
    assert(q9b.map(_.toString).toSeq == q9.map(_.toString).toSeq)
    // q3 over the same layout: result-identical to the shuffled form
    // AND fully exchange-free — the grouped aggregate's keys contain
    // o_orderkey, so the bucketed partitioning satisfies it too
    val q3df = StorageOps.q3Bucketed(spark, sfDir)
    val q3b = q3df.collect()
    val q3 = graft.operators.RelOps.q3TopOrders(spark, sfDir).collect()
    assert(q3b.map(_.toString).toSeq == q3.map(_.toString).toSeq)
    val q3plan = q3df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!q3plan.contains("Exchange hashpartitioning"),
      s"q3_bucketed must plan zero hash exchanges:\n$q3plan")
    // all three queries (and any reruns on the same dataset) share
    // ONE landed layout — the amortization claim, pinned
    StorageOps.q18Bucketed(spark, sfDir).collect()
    assert(StorageOps.whStores.builds.get <= before + 1,
      s"warehouse rebuilt per query: ${StorageOps.whStores.builds.get - before} builds")
  }

  // last in the suite: it stops the shared context, and this suite's
  // `spark` stays bound to the stopped one
  test("warehouse files outlive a restarted context: re-registered, not rebuilt") {
    import graft.sources.StorageOps
    val before = StorageOps.q3Bucketed(spark, sfDir).collect().map(_.toString).toSeq
    val builds = StorageOps.whStores.builds.get
    spark.stop()
    val fresh = SparkSpec.session
    val df = StorageOps.q3Bucketed(fresh, sfDir)
    assert(df.collect().map(_.toString).toSeq == before)
    assert(StorageOps.whStores.builds.get == builds,
      "warehouse files re-landed after a context restart")
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"re-registered warehouse lost its bucketing:\n$plan")
  }
}
