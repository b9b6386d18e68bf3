package graft

import graft.operators.{RelOps, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** Physical-plan assertions — the 100 TB contract (SURVEY.md §4):
  * filters and projections must reach the scan, dimension joins must
  * broadcast, aggregates must have a partial (map-side) phase, top-k
  * must not globally sort. These are the properties that make the
  * same plan viable at 1000 executors, asserted so a regression is a
  * test failure, not a slow cluster. */
class PlanSpec extends SparkSpec {

  private def executed(df: DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }
  private def optimized(df: DataFrame): String =
    df.queryExecution.optimizedPlan.toString

  test("q1: shipdate filter is pushed into the parquet scan") {
    val p = executed(RelOps.q1PricingSummary(spark, sfDir))
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("LessThanOrEqual(l_shipdate"), p)
  }

  test("q1: scan reads only the columns the query needs") {
    val p = executed(RelOps.q1PricingSummary(spark, sfDir))
    // ReadSchema must not include unused columns like l_orderkey
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("l_orderkey"), read)
    assert(read.contains("l_quantity"), read)
  }

  test("q5: dimension joins are broadcast, not shuffled") {
    val p = executed(RelOps.q5NationRevenue(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("wordcount: aggregation has a partial (map-side) phase") {
    val p = executed(TextOps.wordcount(spark, sfDir))
    assert(p.contains("partial_count"), p)
    assert(p.contains("HashAggregate"), p)
  }

  /** The MapReduce surface runs Hadoop's dataflow: map tasks, one
    * hash shuffle into exactly n_reducers partitions on the key, and
    * the reduce (a sort-merge fold or a grouped black box) right
    * above it. */
  test("MapReduce surface: one n_reducers hash exchange below each reduce") {
    val n = spark.conf.get("spark.sql.shuffle.partitions")
    val exchange = s"""Exchange hashpartitioning\\(_1#\\d+, $n\\), REPARTITION_BY_NUM""".r
    for (q <- Seq("wordcount_mr", "inverted_index_mr", "run_mapred_dir",
        "run_mapred_file", "run_mapred_inline")) {
      val lines = executed(graft.operators.MapReduce.queries(q)(spark, sfDir))
        .linesIterator.toIndexedSeq
      val at = lines.indices.filter(i => exchange.findFirstIn(lines(i)).isDefined)
      assert(at.size == 1, s"$q:\n${lines.mkString("\n")}")
      val above = lines.take(at.head).reverse
      assert(above.head.contains("Sort [_1#"), s"$q:\n${lines.mkString("\n")}")
      assert(above.take(3).exists(l => l.contains("MapPartitions") ||
        l.contains("MapGroups")), s"$q:\n${lines.mkString("\n")}")
    }
  }

  test("MapReduce folds: no ObjectHashAggregate, no appended key column") {
    for (q <- Seq("wordcount_mr", "run_mapred_file")) {
      val p = executed(graft.operators.MapReduce.queries(q)(spark, sfDir))
      assert(!p.contains("ObjectHashAggregate"), p)
      assert(!p.contains("AppendColumnsWithObject"), p)
    }
  }

  test("topk: orderBy+limit plans as TakeOrderedAndProject (no global sort)") {
    val p = executed(RelOps.topkOrders(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("semi/anti joins stay joins (no subquery materialization)") {
    assert(executed(RelOps.joinSemi(spark, sfDir)).contains("LeftSemi"))
    assert(executed(RelOps.joinAnti(spark, sfDir)).contains("LeftAnti"))
  }

  test("tokenize stays inside whole-stage codegen") {
    // AQE only materializes codegen stages at execution time — run
    // the query, then read the finalized adaptive plan
    val df = TextOps.wordcount(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // codegen stages print as "*(n) Operator" in the finalized plan
    assert(p.contains("*(1) ") || p.contains("WholeStageCodegen"), p)
    assert(p.linesIterator.exists(l =>
      l.contains("*(") && l.contains("HashAggregate")), p)
  }

  test("events scan prunes to the queried columns") {
    val p = executed(RelOps.eventsWindow(spark, sfDir))
    val read = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!read.contains("event_id"), read)
  }

  test("tfidf tokenizes the corpus exactly once") {
    // df-as-window-count over tf, not a second aggregation branch:
    // a regression to the two-branch form shows up as a second
    // Generate explode (i.e. a full second pass over the corpus)
    val df = graft.operators.TextAnalysis.tfidf(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.linesIterator.count(_.contains("Generate explode")) == 1, p)
  }

  test("q21: both EXISTS subqueries decorrelate to semi/anti joins") {
    val df = graft.operators.SqlSurface.q21Waiting(spark, sfDir)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    val p = full.split("== Initial Plan ==").head
    // RewritePredicateSubquery must plan equi-joins, never a
    // nested-loop over the lineitem self-reference
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("LeftAnti"), p)
    // limit+sort plans as top-k (AQE may elide it from the tiny final
    // plan, so check the planned form), never a global range sort
    assert(full.contains("TakeOrderedAndProject"), full)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("q21_fast: the single-pass rewrite holds at ≤3 shuffles") {
    val df = graft.operators.SqlSurface.q21WaitingFast(spark, sfDir)
    df.collect()
    val full = df.queryExecution.executedPlan.toString
    val p = full.split("== Initial Plan ==").head
    val shuffles = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") ||
        l.contains("Exchange rangepartitioning"))
    // lineitem window + orders join side + s_name aggregate; at this
    // SF AQE broadcasts the orders side, so ≤3 covers both regimes.
    // The window's l_orderkey partitioning must be REUSED by the
    // orders join — a 4th shuffle means that reuse regressed.
    assert(shuffles <= 3, s"$shuffles shuffles:\n$p")
    assert(p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(l_orderkey")) == 1, p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert(full.contains("TakeOrderedAndProject"), full)
  }

  test("window_frames: one custkey shuffle serves all seven windows") {
    // two sort orders (by date, by price) share one hashpartitioning
    // exchange — a second exchange would mean Spark re-shuffled per
    // window clause; only the final presentation range-sort may add
    // its own
    val df = graft.operators.RelOps.windowFrames(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val custkeyExchanges = p.linesIterator
      .count(_.contains("Exchange hashpartitioning(o_custkey"))
    assert(custkeyExchanges == 1,
      s"expected 1 custkey exchange, got $custkeyExchanges:\n$p")
  }

  test("minhash signatures aggregate over doc-co-located input (no buffer amplification)") {
    // The capped-shingle relation arrives partitioned by SHINGLE (the
    // df-cap window), so aggregating it directly makes the partial
    // stage emit one 512-byte 64-minima buffer per doc PER input
    // partition — measured 65x the linear shuffle bytes at a 10x
    // corpus (SCALE.md round-6 rehearsal). The fix is an explicit
    // doc_id repartition below the aggregate; this pins it.
    val sig = graft.operators.Dedup.minhashSignaturesMd5From(
      graft.operators.Dedup.cappedShingles(spark, sfDir))
    val p = sig.queryExecution.optimizedPlan.toString
    assert(p.contains("RepartitionByExpression [doc_id"),
      s"minhash agg input is no longer co-located by doc:\n$p")
  }

  test("line_dedup explodes the corpus once; pack_sequences shuffles once") {
    // line_dedup: the corpus must pass through exactly ONE explode
    // (a second Generate = a second full line pass) and no join may
    // degrade to a nested loop
    // the adaptive plan prints Final + Initial sections — count in
    // the finalized one only
    def finalPlan(df: DataFrame): String =
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val ld = graft.operators.PipelineOps.lineDedup(spark, sfDir)
    ld.collect()
    val pld = finalPlan(ld)
    assert(pld.linesIterator.count(_.contains("Generate ")) == 1, pld)
    assert(!pld.contains("CartesianProduct") &&
      !pld.contains("BroadcastNestedLoopJoin"), pld)
    // pack_sequences: one hash exchange (the per-shard window) plus
    // the presentation range sort — any second hash shuffle means the
    // cumsum stopped reusing the window partitioning
    val ps = graft.operators.PipelineOps.packSequences(spark, sfDir)
    ps.collect()
    assert(finalPlan(ps).linesIterator.count(
      _.contains("Exchange hashpartitioning")) == 1, finalPlan(ps))
  }

  test("unbounded-output queries keep a parallel final sort (no single-task funnel)") {
    // O(input)-row outputs must present via a range-partitioned
    // orderBy, not repartition(1): at 100x data a single-task final
    // sort is the job's bottleneck. Bounded outputs (top-k, fixed key
    // domains) keep the 1-partition form deliberately — orderBy's
    // RangePartitioner would sample-execute their heavy upstreams
    // twice for k rows.
    val unbounded: Seq[DataFrame] = Seq(
      RelOps.windowOrders(spark, sfDir),
      RelOps.eventsWindow(spark, sfDir),
      RelOps.joinSemi(spark, sfDir),
      graft.operators.TextAnalysis.tfidf(spark, sfDir),
      graft.operators.PipelineOps.textClean(spark, sfDir),
      graft.operators.Dedup.dedupExact(spark, sfDir),
      graft.streaming.StreamOps.sessionize(spark, sfDir))
    // repartition(1) prints as "Exchange SinglePartition,
    // REPARTITION_BY_NUM"; a scalar aggregate's legitimate
    // SinglePartition exchange carries ENSURE_REQUIREMENTS instead
    unbounded.foreach { df =>
      val p = executed(df)
      assert(!p.contains("SinglePartition, REPARTITION_BY_NUM"),
        s"single-partition presentation funnel in:\n$p")
      assert(p.contains("rangepartitioning"),
        s"expected parallel range sort in:\n$p")
    }
    // bounded form stays single-partition by design
    val b = executed(RelOps.q5NationRevenue(spark, sfDir))
    assert(b.contains("SinglePartition, REPARTITION_BY_NUM"), b)
  }

  test("decontam_ngrams probes the eval set via a broadcast semi-join") {
    // the eval shingle set is B-sized; the corpus side must stream
    // through a BroadcastHashJoin LeftSemi, never shuffle on shingle
    val df = graft.operators.PipelineOps.decontamNgrams(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
  }

  test("decontam_bloom ships the filter as a scalar subquery, not a literal") {
    // The Bloom bits must ride Spark's subquery/broadcast machinery
    // (the BloomFilterAggregate + ScalarSubquery pair InjectRuntimeFilter
    // emits) — a lit(bits) form embeds the full bit array in every task
    // binary and plan dump, which at a multi-GB eval set is fatal.
    val df = graft.operators.PipelineOps.decontamBloom(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"), p.take(4000))
    assert(p.toLowerCase.contains("subquery"),
      "bloom bits are not fed through a scalar subquery:\n" + p.take(4000))
    // no plan line carries an inlined multi-KB binary literal: the
    // optimal filter for this eval set is >> 10 KB serialized, so any
    // plan line longer than that must be the embedded byte array
    assert(p.linesIterator.forall(_.length < 10000),
      "plan dump contains a line large enough to be the embedded filter")
  }

  test("stratified_sample ranks with a single hash shuffle on source") {
    val df = graft.operators.PipelineOps.stratifiedSample(spark, sfDir)
    val p = executed(df)
    assert(p.linesIterator.count(
      _.contains("Exchange hashpartitioning(source")) == 1, p)
  }

  test("wordcount_salted runs the two-stage salted aggregate") {
    // stage 1 exchanges on (word, __salt) — the skew-spreading partial
    // — and stage 2 exchanges on word alone for the final combine
    val df = graft.operators.SaltedAgg.wordcountSalted(spark, sfDir)
    val p = executed(df)
    assert(p.contains("hashpartitioning(word"), p)
    assert(p.linesIterator.exists(l =>
      l.contains("hashpartitioning(word") && l.contains("__salt")), p)
  }

  test("dedup_clusters_lsh executes the corpus-scanning LSH DAG exactly once") {
    // The composition persists the capped-shingle relation and
    // materializes the edge set before the label loop; every
    // subsequent blocking action (convergence counts, the labels
    // checkpoint write) must read the caches, never re-run the
    // scan→shingle→LSH→verify pipeline. Proof by metric: the
    // documents FileSourceScan lives inside the persisted relation's
    // cachedPlan, and its numOutputRows accumulates across
    // (re)executions — one pipeline execution ⇒ exactly nDocs rows.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def findScan(p: SparkPlan): Option[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => findScan(a.executedPlan)
      case q: QueryStageExec => findScan(q.plan)
      case f: FileSourceScanExec => Some(f)
      case other => other.children.flatMap(findScan).headOption
    }
    def findCached(p: SparkPlan): Option[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => findCached(a.executedPlan)
      case q: QueryStageExec => findCached(q.plan)
      case i: InMemoryTableScanExec => Some(i.relation.cachedPlan)
      case other => other.children.flatMap(findCached).headOption
    }
    val sh = graft.operators.Dedup.cappedShingles(spark, sfDir).persist()
    try {
      // same composition as dedupClustersLsh, sharing this sh
      graft.operators.PipelineOps.connectedComponents(
        graft.operators.PipelineOps.neardupJaccardLshFrom(sh)
          .select("doc_a", "doc_b")).collect()
      val cached = findCached(sh.queryExecution.executedPlan)
      assert(cached.nonEmpty, "persisted shingle relation not cached")
      val scan = findScan(cached.get)
      assert(scan.nonEmpty, s"no file scan under cached plan:\n${cached.get}")
      val rowsOut = scan.get.metrics("numOutputRows").value
      val nDocs = Tables.documents(spark, sfDir).count()
      assert(rowsOut == nDocs,
        s"documents scan emitted $rowsOut rows for $nDocs docs — " +
          "the LSH pipeline executed more than once")
    } finally sh.unpersist(false)
  }

  test("simhash self-join reuses one shuffle when not broadcastable") {
    // At 100 TB the banded signature table is too big to broadcast;
    // the LAND-TIME join must then compute the signature pipeline
    // ONCE and serve both sides from the same shuffle (ReuseExchange)
    // — the body runs when the pair artifact lands (r17), so the pin
    // targets simhashPairsFrom directly. Simulate by disabling
    // broadcast.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.operators.Dedup.simhashPairsFrom(
        graft.operators.Dedup.simhash(spark, sfDir))
      df.collect()
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(p.contains("ReusedExchange") || p.contains("ReusedQueryStage"), p)
      // the tokenizing document scan must appear exactly once
      assert(p.linesIterator.count(_.contains("FileScan parquet")) == 1, p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
    // the REGISTERED query's steady state is the landed pair read —
    // no self-join, no tokenize at probe time
    val probe = graft.operators.Dedup.simhashPairs(spark, sfDir)
    probe.collect()
    val pp = probe.queryExecution.executedPlan.toString
    assert(pp.contains("graft_simhash"),
      "simhash_pairs does not read its landed pair artifact:\n" + pp)
    assert(!pp.contains("Generate"),
      "simhash_pairs re-tokenized at probe time:\n" + pp)
  }

  test("jdbc read: filter pushed into the database, projection pruned, " +
    "scan partitioned") {
    val df = graft.sources.StorageOps.jdbcRoundtripRead(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val scan = p.linesIterator.find(_.contains("JDBCRelation"))
      .getOrElse(fail(s"no JDBC scan in plan:\n$p"))
    // the filter must run INSIDE the database (shipped as SQL), not as
    // a post-scan Spark Filter over a full-table pull
    assert(scan.contains("LessThan(c_nationkey,10)"),
      s"nationkey filter not pushed to the JDBC source: $scan")
    // only the aggregate's columns cross the wire
    assert(scan.contains("c_mktsegment") && scan.contains("bal_cents") &&
      !scan.contains("c_custkey#"),
      s"JDBC projection not pruned: $scan")
    // the scan is range-partitioned for parallel pull
    assert(scan.contains("numPartitions=8"), scan)
  }

  test("jdbc v2 catalog: aggregate + group-by push into the database") {
    val agg = graft.sources.StorageOps.jdbcAggPushdown(spark, sfDir)
    agg.collect()
    val ap = agg.queryExecution.executedPlan.toString
    val ascan = ap.linesIterator.find(_.contains("JDBC"))
      .getOrElse(fail(s"no JDBC scan:\n$ap"))
    // the scan returns GROUPS, not rows: the database ran the agg
    assert(ascan.contains("PushedAggregates: [COUNT(*), SUM(bal_cents)]") ||
      ascan.contains("PushedAggregates: [COUNT(*),SUM(bal_cents)]"), ascan)
    assert(ascan.contains("PushedGroupByExpressions: [c_nationkey]"), ascan)
    assert(ascan.contains("c_nationkey < 10"), ascan)
    // TopN pushdown against Derby is deliberately not asserted or
    // registered: the plan claims complete pushdown while the emitted
    // SQL drops the row bound (see the StorageOps note) — the
    // contract-honoring coverage lives in dsv2_topn_pushdown.
  }

  test("bucketed join is exchange-free even when broadcast is off") {
    // The point of the bucketed layout: a fact-to-fact join on the
    // bucket key must not re-shuffle EITHER side — at 100 TB that
    // shuffle is the query's dominant cost. Broadcast is disabled so
    // the small test tables can't cheat via BHJ.
    graft.sources.StorageOps.bucketedJoin(spark, sfDir).collect() // stage
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.sources.StorageOps.bucketedJoinRead(spark)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(p.contains("SortMergeJoin"), p)
      val joinPart = p.split("SortMergeJoin").last
      assert(!joinPart.contains("Exchange"),
        s"bucketed join re-shuffled a side:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("q18_bucketed: zero hash exchanges even when broadcast is off") {
    // The warehouse layout's contract: the per-order aggregate runs
    // on the bucketed scan's partitioning and the big⋈orders join is
    // a co-bucketed SMJ — NO side re-shuffles. The qualified handful
    // broadcasts (hinted) and the presentation sort range-partitions;
    // neither is a hash exchange.
    graft.sources.StorageOps.q18Bucketed(spark, sfDir).collect() // stage
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.sources.StorageOps.q18Bucketed(spark, sfDir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(p.contains("SortMergeJoin"), p)
      assert(p.linesIterator.count(
        _.contains("Exchange hashpartitioning")) == 0, p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("q9_bucketed: only the final aggregate hash-exchanges") {
    // vs q9_product_profit (fact⋈fact shuffles on l_orderkey AND
    // o_orderkey plus the group-by exchange), the warehouse form must
    // keep exactly ONE hash exchange: the (nation, year) aggregate.
    graft.sources.StorageOps.q9Bucketed(spark, sfDir).collect() // stage
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = graft.sources.StorageOps.q9Bucketed(spark, sfDir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==").head
      assert(p.contains("SortMergeJoin"), p)
      assert(p.linesIterator.count(
        _.contains("Exchange hashpartitioning")) == 1, p)
      assert(!p.contains("Exchange hashpartitioning(l_orderkey"), p)
      assert(!p.contains("Exchange hashpartitioning(o_orderkey"), p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  test("runtime bloom filter prunes the probe side of a selective fact join") {
    // Spark's runtime row-level filtering: a selective predicate on
    // the build side injects a bloom-filter might_contain onto the
    // PROBE side's scan, so most fact rows die before the shuffle —
    // at 100 TB this is the difference between shuffling the corpus
    // and shuffling the matching slice. Thresholds are tuned down so
    // the optimization fires at test scale; broadcast is off so the
    // join actually shuffles (the regime the filter exists for).
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = Tables.lineitem(spark, sfDir)
        .join(Tables.orders(spark, sfDir)
            .filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"))
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") || opt.contains("BloomFilter"),
        s"runtime bloom filter not injected:\n$opt")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("dpp_join injects dynamic partition pruning: 5 of 25 partitions read") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val df = graft.sources.StorageOps.dppJoin(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruningexpression"),
      s"no DynamicPruningSubquery reached the scan:\n$p")
    // the scan's runtime metric is the proof pruning HAPPENED, not
    // just that the subquery was planned
    def flatten(pl: SparkPlan): Seq[SparkPlan] = pl match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case o => o +: o.children.flatMap(flatten)
    }
    val scans = flatten(df.queryExecution.executedPlan).collect {
      case f: FileSourceScanExec
          if f.metadata.get("Location").exists(_.contains("dpp_customer")) => f
    }
    assert(scans.nonEmpty, "no file scan over the dpp_customer layout")
    val read = scans.head.metrics("numPartitions").value
    assert(read == 5, s"expected 5 of 25 partitions read, got $read")
  }

  test("parquet_agg_pushdown answers MIN/MAX/COUNT from footer stats, not rows") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val df = graft.sources.StorageOps.parquetAggPushdown(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val pushed = "PushedAggregation: \\[([^\\]]*)\\]".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(Seq("COUNT", "MIN", "MAX").forall(pushed.toUpperCase.contains),
      s"aggregates not pushed to the parquet scan:\n$p")
    // the scan must emit per-file PARTIALS (a handful of rows), not
    // the table — the proof the answer came from footers
    def flatten(pl: SparkPlan): Seq[SparkPlan] = pl match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case o => o +: o.children.flatMap(flatten)
    }
    val scanRows = flatten(df.queryExecution.executedPlan)
      .collect { case b: BatchScanExec => b.metrics("numOutputRows").value }
    assert(scanRows.nonEmpty && scanRows.head < 1000,
      s"scan emitted $scanRows rows — footer stats not used")
  }

  test("bloom_skip_layout: blooms land on the key column and skip row groups") {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val df = graft.sources.StorageOps.bloomSkipLayout(spark, sfDir)
    // the point lookup reaches the reader as a pushed literal filter
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [In(l_orderkey") ||
      p.contains("PushedFilters: [Or(EqualTo(l_orderkey"), p)
    val dir = graft.sources.StorageOps.bloomSkipLayoutDir(sfDir)
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.map(_.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted
    assert(files.nonEmpty, s"no part files under $dir")
    val conf = new Configuration()
    // footer contract: the key column carries a bloom per row group
    // (offset >= 0) and stays OFF dictionary encoding; other columns
    // carry no bloom
    val footer = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(files.head), conf))
    try {
      val cols = footer.getFooter.getBlocks.asScala.head.getColumns.asScala
      val ok = cols.find(_.getPath.toDotString == "l_orderkey").get
      val oq = cols.find(_.getPath.toDotString == "l_quantity").get
      assert(ok.getBloomFilterOffset >= 0, "no bloom on l_orderkey")
      assert(oq.getBloomFilterOffset < 0, "unexpected bloom on l_quantity")
      assert(!ok.getEncodings.asScala.exists(_.toString.contains("DICTIONARY")),
        s"l_orderkey dictionary-encoded: ${ok.getEncodings}")
    } finally footer.close()
    // skipping, attributed: probe an ABSENT key INSIDE the domain (the
    // first gap in the key sequence) — in-range, so min/max stats
    // cannot reject it on the shuffled layout, dictionary filtering is
    // off, and every killed row group is the BLOOM's verdict. Bloom ON
    // must visit zero groups; bloom OFF must visit all of them.
    import org.apache.spark.sql.functions.{col => c, min => mn, max => mx}
    val ext = spark.read.parquet(dir).agg(mn("l_orderkey"), mx("l_orderkey")).head()
    val probe = spark.range(ext.getLong(0), ext.getLong(1)).toDF("id")
      .join(spark.read.parquet(dir).select(c("l_orderkey")).distinct(),
        c("id") === c("l_orderkey"), "left_anti")
      .agg(mn("id")).head().getLong(0)
    def rowGroups(f: String, useBloom: Boolean): (Int, Int) = {
      val pred = FilterApi.eq(FilterApi.longColumn("l_orderkey"),
        java.lang.Long.valueOf(probe))
      val opts = HadoopReadOptions.builder(conf, new Path(f))
        .withRecordFilter(FilterCompat.get(pred))
        .useStatsFilter(true).useDictionaryFilter(true)
        .useBloomFilter(useBloom)
        .build()
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(f), conf), opts)
      try (r.getRowGroups.size, r.getFooter.getBlocks.size)
      finally r.close()
    }
    val (visitedOn, total) = files.map(rowGroups(_, useBloom = true))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    val (visitedOff, _) = files.map(rowGroups(_, useBloom = false))
      .reduce((a, b) => (a._1 + b._1, a._2 + b._2))
    assert(visitedOff == total,
      s"stats/dictionary skipped on shuffled data?! $visitedOff of $total")
    assert(visitedOn == 0,
      s"bloom visited $visitedOn of $total row groups for an absent key")
  }

  test("nested_prune reads only the touched struct leaves") {
    val df = graft.sources.StorageOps.nestedPrune(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val rs = "ReadSchema: ([^\\n]*)".r.findFirstMatchIn(p)
      .map(_.group(1)).getOrElse("")
    assert(rs.contains("src") && rs.contains("n_chars"),
      s"touched leaves missing from ReadSchema: $rs\n$p")
    assert(!rs.contains("head"), s"payload leaf not pruned: $rs")
  }

  test("topk_per_key plans the custom operator: no window, no input sort, one exchange") {
    val df = graft.operators.TopKOps.topkPerKeyRaw(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("TopKPerKey"), p)
    // map-side partial pass bounds the exchange to keys×k per task
    assert(p.contains("TopKPerKeyPartial"), p)
    assert(p.split("Exchange hashpartitioning").last
      .contains("TopKPerKeyPartial"), p)
    assert(!p.contains("Window"), p)
    assert(!p.contains("Sort "), p) // bounded heaps, not a partition sort
    assert(p.linesIterator.count(
      _.contains("Exchange hashpartitioning")) == 1, p)
    // result-identical to the window formulation
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy("o_custkey")
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
    val expect = Tables.orders(spark, sfDir)
      .select("o_custkey", "o_orderkey", "o_totalprice")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= graft.operators.TopKOps.K).drop("rn")
      .collect().map(_.toString).sorted.toSeq
    val got = df.collect().map(_.toString).sorted.toSeq
    assert(got == expect)
  }

  test("topk_window_limit: rank filter is rewritten to partial+final WindowGroupLimit") {
    val df = graft.operators.TopKOps.topkWindowLimitRaw(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // InferWindowGroupLimit: a bounded k-heap per key on BOTH sides of
    // the exchange — the shuffle carries keys×k rows, not the input
    val hits = p.linesIterator.filter(_.contains("WindowGroupLimit")).toSeq
    assert(hits.size == 2, s"expected Partial+Final WindowGroupLimit:\n$p")
    assert(hits.exists(_.contains("Partial")), p)
    assert(hits.exists(_.contains("Final")), p)
    // the Partial pass must sit BELOW the exchange (map-side pruning)
    assert(p.split("Exchange hashpartitioning").last
      .contains("WindowGroupLimit"), p)
    // matches the custom-operator rung row-for-row
    val custom = graft.operators.TopKOps.topkPerKeyRaw(spark, sfDir)
      .collect().map(_.toString).sorted.toSeq
    val got = df.collect().map(_.toString).sorted.toSeq
    assert(got == custom)
  }

  test("cached_reuse: both plan legs read one InMemoryRelation") {
    val df = graft.operators.RelOps.cachedReuse(spark, sfDir)
    df.collect()
    val lp = df.queryExecution.optimizedPlan
    // threshold leg + row leg both hit the cache; the lineitem scan
    // and its shuffle run once, at cache fill, not per consumer
    val leaves = lp.collectLeaves()
    assert(leaves.size == 2, lp.toString)
    assert(leaves.forall(_.nodeName == "InMemoryRelation"),
      s"a consumer bypassed the cache:\n$lp")
  }

  test("topk_per_key keeps exactly k rows per key with deterministic ties") {
    import spark.implicits._
    graft.operators.TopKOps.ensureStrategy(spark)
    // key 1: four rows, two tied at the cut — orderkey breaks the tie;
    // key 2: fewer than k rows survive whole
    val df = Seq((1L, 101L, 50.0), (1L, 102L, 50.0), (1L, 103L, 70.0),
        (1L, 104L, 10.0), (2L, 201L, 5.0))
      .toDF("o_custkey", "o_orderkey", "o_totalprice")
    val analyzed = df.queryExecution.analyzed
    import org.apache.spark.sql.catalyst.expressions.{Ascending, Descending, SortOrder}
    def attr(n: String) = analyzed.output.find(_.name == n).get
    val got = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      graft.plans.TopKPerKeyPlan(Seq(attr("o_custkey")),
        Seq(SortOrder(attr("o_totalprice"), Descending),
          SortOrder(attr("o_orderkey"), Ascending)), 3, analyzed))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == Seq((1L, 101L), (1L, 102L), (1L, 103L), (2L, 201L)), got)
  }

  test("funnel computes all stages over a single user shuffle") {
    val df = graft.operators.ChangeOps.funnelEvents(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // chained same-partitioned window mins + the per-user collapse
    // must share ONE user_id exchange; a per-stage join chain would
    // show a shuffle and a join per step
    assert(p.linesIterator.count(
      _.contains("Exchange hashpartitioning")) == 1, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"), p)
  }

  test("sliding_windows: row expansion happens before the partial aggregate") {
    val df = graft.operators.ChangeOps.slidingWindows(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // windows-per-row expansion (Expand/Explode) must feed a partial
    // (map-side) aggregate so the shuffle carries at most
    // |windows|x|types| rows per task, never the expanded input
    assert(p.contains("Expand") || p.contains("Generate"), p)
    assert(p.contains("partial_count"), p)
    assert(p.linesIterator.count(
      _.contains("Exchange hashpartitioning")) == 1, p)
  }

  test("compaction reduces part files without a shuffle") {
    graft.sources.StorageOps.compactFiles(spark, sfDir).collect()
    val before = graft.sources.StorageOps.partFileCount(
      graft.sources.StorageOps.smallDir(sfDir))
    val after = graft.sources.StorageOps.partFileCount(
      graft.sources.StorageOps.compactedDir(sfDir))
    assert(before == 64, s"staging produced $before files")
    assert(after <= graft.sources.StorageOps.CompactTarget,
      s"compaction left $after files")
    // coalesce must not plan an exchange between the scans and write
    val df = spark.read
      .parquet(graft.sources.StorageOps.smallDir(sfDir))
      .coalesce(graft.sources.StorageOps.CompactTarget)
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"),
      df.queryExecution.executedPlan.toString)
  }

  test("skew_join_aqe: the adaptive skew split fires on the hot key") {
    graft.operators.SaltedAgg.skewJoinAqe(spark, sfDir).collect()
    val plan = graft.operators.SaltedAgg.lastSkewJoinPlan
    assert(plan.nonEmpty, "no adaptive plan recorded")
    // OptimizeSkewedJoin marks the rescued join and its shuffle reads
    assert(plan.toLowerCase.contains("skew"),
      s"no skew handling in the final adaptive plan:\n$plan")
    // and the demo didn't degenerate into a broadcast join (which
    // would hide the skew instead of splitting it)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
      s"expected a shuffle join under AQE:\n$plan")
  }

  test("partitioned layout prunes to the queried partition at the scan") {
    val df = graft.sources.StorageOps.partitionedScan(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val scanLine = p.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("src1"),
      s"source=src1 did not reach PartitionFilters:\n$p")
  }

  test("perplexity scoring tokenizes the corpus exactly once") {
    // the LM is a landed artifact; the scoring execution may contain
    // ONE Generate (the doc-token explode) — a second one means the
    // lm/total/score references re-derived the tokenize head (the
    // pre-store plan paid it up to 5x)
    def finalPlan(df: DataFrame): String =
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val df = graft.operators.TextAnalysis.perplexityFilter(spark, sfDir)
    df.collect()
    val p = finalPlan(df)
    assert(p.linesIterator.count(_.contains("Generate explode")) == 1, p)
  }

  test("snapshot_cdf derives all change types from one full-outer join") {
    def finalPlan(df: DataFrame): String =
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    val df = graft.sources.StorageOps.snapshotCdf(spark, sfDir)
    df.collect()
    val p = finalPlan(df)
    // one FullOuter join; insert/delete/update branches reuse it (the
    // union must not trigger a join per branch)
    assert(p.linesIterator.count(_.contains("FullOuter")) == 1, p)
  }

  test("neardup_embedding: cosine stays inside the BNLJ condition, after the id guard") {
    // r19 win: the cosine rides the join condition's short-circuit AND
    // BEHIND the id guard — as a separate post-join filter Catalyst
    // pushed it in FRONT of the id test (all n² dot products, 2.5 s of
    // a 2.9 s query). The placement relies on Catalyst preserving And
    // ordering inside the BNLJ condition, which a Spark upgrade could
    // silently re-order — this pin makes that regression loud.
    val df = graft.operators.Similarity.neardupEmbedding(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val bnlj = p.linesIterator.find(_.contains("BroadcastNestedLoopJoin"))
      .getOrElse(fail(s"no BNLJ in plan:\n$p"))
    // the cosine is evaluated IN the condition, id guard first
    assert(bnlj.contains("graft_cosine"),
      s"cosine left the join condition: $bnlj")
    assert(bnlj.indexOf("id_a") >= 0 &&
      bnlj.indexOf("id_a") < bnlj.indexOf("graft_cosine"),
      s"id guard no longer precedes the cosine in the condition: $bnlj")
    // and no pre-join Filter re-acquired it (the n²-dot-product shape)
    assert(!p.linesIterator.exists(l =>
      l.contains("Filter") && l.contains("graft_cosine")),
      s"cosine pushed into a pre-join filter:\n$p")
    // the streamed side is spread, not one serial task
    assert(p.toLowerCase.contains("roundrobinpartitioning"),
      s"streamed side no longer spread over the cores:\n$p")
  }

  test("resample_events: round-robin spread survives between agg and explode") {
    // r19 win: a keyless round-robin with explicit width sits between
    // the KB-sized per-user bounds aggregate and the hour-grid explode
    // — without it AQE byte-coalescing collapses the exchange to ONE
    // task that then fans out 1M+ rows. AQE must not re-coalesce it.
    val df = graft.operators.ChangeOps.resampleEvents(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    val gi = p.indexOf("Generate explode")
    val ri = p.toLowerCase.indexOf("roundrobinpartitioning")
    assert(gi >= 0 && ri >= 0,
      s"explode or round-robin exchange missing:\n$p")
    // plan prints parent-above-child: the explode must CONSUME the
    // round-robin exchange, not feed it
    assert(gi < ri, s"explode no longer sits above the spread:\n$p")
  }

  test("winnow/window_frames: the sampler barrier sits between projection and sort") {
    // r19 win: a narrow hash exchange between the expensive projection
    // (md5 loop / seven-window chain) and the presentation range sort —
    // the range partitioner SAMPLES its child, so without the barrier
    // the projection executes twice (sample pass + shuffle pass).
    def planOf(df: DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    }
    val pw = planOf(graft.operators.TextAnalysis.winnowFingerprints(spark, sfDir))
    val wRange = pw.indexOf("Exchange rangepartitioning")
    val wHash = pw.indexOf("Exchange hashpartitioning(doc_id")
    assert(wRange >= 0 && wHash >= 0 && wRange < wHash,
      s"winnow barrier gone (range sort samples the md5 loop directly):\n$pw")
    // the md5 projection must sit BELOW the barrier exchange
    assert(pw.substring(wHash).contains("md5"),
      s"md5 loop no longer below the barrier:\n$pw")
    val pf = planOf(graft.operators.RelOps.windowFrames(spark, sfDir))
    val fRange = pf.indexOf("Exchange rangepartitioning")
    val fHash = pf.indexOf("Exchange hashpartitioning(o_orderkey")
    assert(fRange >= 0 && fHash >= 0 && fRange < fHash,
      s"window_frames barrier gone:\n$pf")
  }

  test("parquet variant extraction is SHREDDED into the scan") {
    // PushVariantIntoScan (file-source rule, on by default) rewrites
    // variant_get over the parquet scan into a struct read: the scan's
    // ReadSchema carries struct-typed extractions in place of the
    // variant column, and no variant_get survives in the physical plan
    val df = graft.sources.StorageOps.parquetVariantPushdown(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("struct<props:struct<"),
      "scan ReadSchema is not the shredded struct:\n" + p)
    assert(!p.contains("variant_get"),
      "variant_get survived above the scan (pushdown did not fire):\n" + p)
    // the rule changes the plan, never the values: the unpushed twin
    // (rule off) returns byte-identical rows with variant_get intact
    val off = spark.newSession()
    off.conf.set("spark.sql.variant.pushVariantIntoScan", "false")
    val twin = graft.sources.StorageOps.parquetVariantPushdown(off, sfDir)
    assert(twin.queryExecution.executedPlan.toString.contains("variant_get"),
      "control plan lost its variant_get — twin not exercising the rule")
    assert(twin.collect().toSeq ==
      graft.sources.StorageOps.parquetVariantPushdown(spark, sfDir)
        .collect().toSeq)
  }
}
