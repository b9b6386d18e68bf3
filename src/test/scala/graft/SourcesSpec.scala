package graft

import graft.sources.TextSources
import graft.operators.TextOps
import org.apache.spark.sql.functions._

/** Reference-fixture E2E (SURVEY.md §5.2): run WordCount on a
  * reference-shaped test.txt and InvertedIndex on a TestInverted corpus
  * (in-repo fixtures, see `SparkSpec.refData`), cross-checked against
  * an independent in-test Scala count. */
class SourcesSpec extends SparkSpec {

  private def scalaTokens(text: String): Seq[String] =
    text.toLowerCase.split("[^\\p{L}]+").filter(_.nonEmpty).toSeq

  test("S1 directory scan: one row per file, provenance kept") {
    val df = TextSources.directory(spark, s"$refData/TestInverted")
    val files = df.select("file").collect().map(_.getString(0)).sorted
    assert(files.toSeq == Seq("1.txt", "2.txt", "3.txt", "4.txt"))
  }

  test("wordcount on reference test.txt matches independent count") {
    import spark.implicits._
    val df = TextSources.file(spark, s"$refData/test.txt")
      .withColumnRenamed("file", "doc_id")
    val sparkCounts = TextOps.tokenize(df, idCol = "doc_id")
      .groupBy("word").count()
      .as[(String, Long)].collect().toMap
    val raw = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$refData/test.txt")), "UTF-8")
    val expected = scalaTokens(raw).groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(sparkCounts == expected)
  }

  test("inverted index on reference TestInverted (Portuguese unicode fixture)") {
    import spark.implicits._
    val df = TextSources.directory(spark, s"$refData/TestInverted")
      .withColumnRenamed("file", "doc_id")
    val sparkIdx = TextOps.tokenize(df, idCol = "doc_id")
      .groupBy("word", "doc_id").count()
      .as[(String, String, Long)].collect()
      .map { case (w, f, c) => (w, f) -> c }.toMap
    // independent recount per file
    val dir = java.nio.file.Paths.get(s"$refData/TestInverted")
    val expected = scala.collection.mutable.Map.empty[(String, String), Long]
    java.nio.file.Files.list(dir).forEach { p =>
      val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      scalaTokens(txt).foreach { w =>
        val k = (w, p.getFileName.toString)
        expected(k) = expected.getOrElse(k, 0L) + 1L
      }
    }
    assert(sparkIdx.size == expected.size)
    assert(sparkIdx == expected)
    // the Portuguese fixture must contribute accented tokens
    assert(sparkIdx.keys.exists { case (w, f) =>
      f == "3.txt" && w.exists(c => "áàâãéêíóôõúç".contains(c)) })
  }

  test("S3 inline string source") {
    val df = TextSources.inline(spark, "Hello hello world")
    val wc = TextOps.tokenize(df.withColumnRenamed("file", "doc_id"))
      .groupBy("word").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wc == Map("hello" -> 2L, "world" -> 1L))
  }

  test("resolve dispatches dir/file/string like the reference") {
    assert(TextSources.resolve(spark, s"$refData/TestInverted").count() == 4)
    assert(TextSources.resolve(spark, s"$refData/test.txt").count() > 1)
    assert(TextSources.resolve(spark, "just an inline data string").count() == 1)
  }

  test("dsv2 source: range pushdown, column pruning, partition planning") {
    import graft.sources.{SeqSource, StorageOps}
    // the registered query's plan: the custom scan must show the
    // FOLDED id range (filters consumed at planning) and only the
    // surviving columns (word pruned away by the aggregate)
    val df = StorageOps.dsv2Scan(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val lohi = (StorageOps.Dsv2N / 4, StorageOps.Dsv2N * 3 / 4)
    assert(plan.contains(s"graftseq range [${lohi._1}, ${lohi._2})"),
      s"id filter did not reach the custom scan:\n$plan")
    assert(plan.contains("cols id,bucket") && !plan.contains("word"),
      s"projection did not prune the word column:\n$plan")
    // a fully-selective point predicate collapses partition planning
    // to one split of one row
    val one = spark.read.format("graft.sources.SeqSource")
      .option("n", "1000").option("parts", "8").load()
      .filter(col("id") === 17L)
    val rows = one.collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 17L)
    assert(rows.head.getLong(1) == SeqSource.bucketOf(17L))
    assert(rows.head.getString(2) == "w17")
    assert(one.rdd.getNumPartitions == 1,
      "point lookup should plan exactly one input partition")
    // an out-of-range predicate plans zero splits (and zero rows)
    val none = spark.read.format("graft.sources.SeqSource")
      .option("n", "1000").option("parts", "8").load()
      .filter(col("id") >= 5000L)
    assert(none.count() == 0)
    // range-fold boundary semantics, one by one
    def src = spark.read.format("graft.sources.SeqSource")
      .option("n", "1000").option("parts", "8").load()
    assert(src.filter(col("id") > 999L).count() == 0, "> max")
    assert(src.filter(col("id") >= 999L).count() == 1, ">= max")
    assert(src.filter(col("id") <= 0L).count() == 1, "<= min")
    assert(src.filter(col("id") < 0L).count() == 0, "< min")
    assert(src.filter(col("id") === 1000L).count() == 0, "== n (exclusive)")
    assert(src.filter(col("id") >= 10L && col("id") <= 19L).count() == 10,
      "conjunction folds both bounds")
    // reported statistics let Catalyst broadcast a small (or tightly
    // filtered) connector table — without SupportsReportStatistics a
    // DSv2 relation defaults to unknown/huge and never broadcasts
    val dim = spark.read.format("graft.sources.SeqSource")
      .option("n", "200").option("parts", "2").load()
      .select(col("id"), col("word"))
    val joined = Tables.documents(spark, sfDir)
      .join(dim, col("doc_id") % 200 === col("id"))
    joined.collect()
    val jplan = joined.queryExecution.executedPlan.toString
    assert(jplan.contains("BroadcastHashJoin") ||
      jplan.contains("BroadcastExchange"),
      s"small stats-reporting dsv2 table did not broadcast:\n$jplan")
  }

  test("dsv2 runtime filtering: a selective join prunes planned partitions") {
    import graft.sources.{SeqSource, StorageOps}
    SeqSource.lastStaticPlanned = -1
    SeqSource.lastRuntimePlanned = -1
    val df = StorageOps.dsv2RuntimeFilter(spark, sfDir)
    val rows = df.collect()
    // content: one row per region-1 nation at id = 137·n_nationkey,
    // with the generated bucket/word intact
    val nk = Tables.nation(spark, sfDir).filter(col("n_regionkey") === 1)
      .select("n_nationkey").collect()
      .map(_.getAs[Number]("n_nationkey").longValue())
    assert(rows.length == nk.length && rows.nonEmpty)
    assert(rows.map(_.getLong(0)).toSet == nk.map(_ * 137L).toSet)
    rows.foreach { r =>
      assert(r.getLong(1) == SeqSource.bucketOf(r.getLong(0)))
      assert(r.getString(2) == "w" + (r.getLong(0) % 50))
    }
    // the scan planned all 64 static splits, then strictly fewer once
    // the runtime IN predicate arrived from the reused broadcast: the
    // 5 joinable ids live in the first ~3.3k of a 100k range, i.e. at
    // most the first 3 of 64 splits
    assert(SeqSource.lastStaticPlanned == 64,
      s"static plan saw ${SeqSource.lastStaticPlanned} splits")
    assert(SeqSource.lastRuntimePlanned >= 1 &&
      SeqSource.lastRuntimePlanned <= 3,
      s"runtime filter left ${SeqSource.lastRuntimePlanned} of 64 splits " +
        "planned — dynamic pruning did not reach the connector")
    // and the query carries no broadcast hint — the join must win BHJ
    // from the dim's own size
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan)
    // connector-reported CUSTOM METRICS tell the same pruning story
    // through the engine's own metric system: the scan's SQL metrics
    // carry splits planned/pruned (driver-reported after planning)
    // and rows generated (task-reported) — pruning saved >= 61 of 64
    // splits, visible on the query, not in a side channel
    val scanMetrics = collectScans(df.queryExecution.executedPlan)
      .flatMap(_.metrics).filter(_._1.startsWith("graft")).toMap
    assert(scanMetrics("graft_splits_pruned").value >= 61,
      s"pruned metric: $scanMetrics")
    assert(scanMetrics("graft_splits_planned").value ==
      SeqSource.lastRuntimePlanned.toLong, s"planned metric: $scanMetrics")
    assert(scanMetrics("graft_rows_generated").value > 0 &&
      scanMetrics("graft_rows_generated").value <= 3 * (100000L / 64 + 1),
      s"rows metric outside surviving-splits bound: $scanMetrics")
  }

  private def collectScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] =
    p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        collectScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        collectScans(q.plan)
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        Seq(b)
      case o => o.children.flatMap(collectScans) ++
        o.subqueries.flatMap(collectScans)
    }

  test("dsv2 custom metrics: exact row/split accounting on a folded scan") {
    val df = spark.read.format("graft.sources.SeqSource")
      .option("n", "10000").option("parts", "4").load()
      .filter(col("id") >= 2000)
    df.collect()
    val m = collectScans(df.queryExecution.executedPlan)
      .flatMap(_.metrics).filter(_._1.startsWith("graft")).toMap
    assert(m("graft_rows_generated").value == 8000, m.toString)
    assert(m("graft_splits_planned").value == 4, m.toString)
    assert(m("graft_splits_pruned").value == 0, m.toString)
  }

  test("dsv2 aggregate pushdown: the Aggregate node folds into the scan") {
    import graft.sources.StorageOps
    val df = StorageOps.dsv2AggPushdown(spark, sfDir)
    val row = df.head()
    val lo = StorageOps.Dsv2N / 10
    val hi = StorageOps.Dsv2N / 2
    val n = hi - lo
    assert(row.getLong(0) == n, "count")
    assert(row.getLong(1) == lo, "min")
    assert(row.getLong(2) == hi - 1, "max")
    assert(row.getLong(3) == (lo + hi - 1) * n / 2, "sum")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("HashAggregate") &&
      !plan.contains("SortAggregate") && !plan.contains("ObjectHashAggregate"),
      s"aggregate survived above the scan:\n$plan")
    assert(plan.contains("pushed aggregates [COUNT"),
      s"scan does not report the pushed aggregate:\n$plan")
    // grouping on a column outside the closed-form family (bucket is
    // an md5 hash — no range arithmetic) is refused: the engine keeps
    // its full Aggregate over the row scan and the answer stays exact
    val grouped = spark.read.format("graft.sources.SeqSource")
      .option("n", "1000").option("parts", "4").load()
      .groupBy("bucket").agg(count(lit(1)).as("c"))
    val gRows = grouped.collect()
    val gPlan = grouped.queryExecution.executedPlan.toString
    assert(gPlan.contains("Aggregate"), gPlan)
    assert(!gPlan.contains("pushed GROUP BY"), gPlan)
    assert(gRows.map(_.getLong(1)).sum == 1000L)
    // empty post-filter range: SQL global-agg-over-empty semantics
    val empty = spark.read.format("graft.sources.SeqSource")
      .option("n", "1000").option("parts", "4").load()
      .filter(col("id") >= 5000L)
      .agg(count(lit(1)).as("c"), min("id").as("mn"), max("id").as("mx"),
        sum("id").as("sm"))
    val e = empty.head()
    assert(e.getLong(0) == 0L && e.isNullAt(1) && e.isNullAt(2) && e.isNullAt(3))
  }

  test("dsv2 GROUPED aggregate pushdown: per-split partials, engine merges") {
    import graft.sources.StorageOps
    val df = StorageOps.dsv2GroupAggPushdown(spark, sfDir)
    val rows = df.collect()
    assert(rows.length == 50, "one row per word group")
    // replay the closed form over the filtered window [100, N-123)
    val lo = 100L; val hi = StorageOps.Dsv2N - 123
    rows.foreach { r =>
      val j = r.getString(0).drop(1).toLong
      val f = lo + (((j - lo) % 50 + 50) % 50)
      val last = f + 50L * ((hi - 1 - f) / 50)
      val cnt = (last - f) / 50 + 1
      assert(r.getLong(1) == cnt, s"count w$j")
      assert(r.getLong(2) == f && r.getLong(3) == last, s"min/max w$j")
      assert(r.getLong(4) == cnt * (f + last) / 2, s"sum w$j")
    }
    val plan = df.queryExecution.executedPlan.toString
    // the scan reports the pushed grouping...
    assert(plan.contains("pushed GROUP BY word partial aggregates"),
      s"no pushed grouping at the scan:\n$plan")
    // ...and the ENGINE still plans the final merge Aggregate above
    // (partial pushdown — unlike the global rung, which plans none)
    assert(plan.contains("HashAggregate"),
      s"partial pushdown must keep a merge Aggregate:\n$plan")
    // the merge consumes partials: COUNT merges as sum-of-partials
    assert(plan.contains("sum(agg_func_0"),
      s"final aggregate is not merging pushed partials:\n$plan")
  }

  test("dsv2 limit/TopN pushdown folds the scan to the limit-sized slice") {
    import graft.sources.StorageOps
    def src = spark.read.format("graft.sources.SeqSource")
      .option("n", "100000").option("parts", "16").load()
    // ORDER BY id ASC LIMIT 5: the scan plans exactly [0, 5)
    val asc = src.orderBy(col("id")).limit(5)
    assert(asc.collect().map(_.getLong(0)).toSeq == (0L to 4L))
    assert(asc.queryExecution.executedPlan.toString
      .contains("graftseq range [0, 5)"), "TopN did not fold the scan")
    // the registered desc+offset form: scan holds only the tail slice
    val d = StorageOps.dsv2TopnPushdown(spark, sfDir)
    assert(d.collect().map(_.getLong(0)).toSeq ==
      Seq(99996L, 99995L, 99994L, 99993L, 99992L))
    assert(d.queryExecution.executedPlan.toString
      .contains("graftseq range [99992, 100000)"),
      "desc TopN did not fold the scan tail")
    // un-sorted LIMIT folds too (any n rows are a valid LIMIT answer)
    val lim = src.limit(7)
    assert(lim.collect().length == 7)
    assert(lim.queryExecution.executedPlan.toString
      .contains("graftseq range [0, 7)"))
    // a sort the connector can't serve (generated column) is refused
    // and stays exact in the engine
    val byBucket = src.filter(col("id") < 50L).orderBy(col("bucket"), col("id")).limit(3)
    val expect = (0L until 50L).map(i => (graft.sources.SeqSource.bucketOf(i), i))
      .sorted.take(3).map(_._2)
    assert(byBucket.collect().map(_.getLong(0)).toSeq == expect)
  }

  test("dsv2 storage-partitioned join: zero exchanges under the join") {
    import graft.sources.StorageOps
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    def joinSideShuffles(plan: SparkPlan): Int = {
      val smj = plan.collect { case j: SortMergeJoinExec => j }
      assert(smj.length == 1, s"expected one SMJ, plan:\n$plan")
      smj.head.collect { case e: ShuffleExchangeExec => e }.size
    }
    // SPJ session: key-grouped layout honored, broadcast off, AQE off
    // so the executed plan is the statically pinned one
    val on = spark.newSession()
    on.conf.set("spark.sql.adaptive.enabled", "false")
    on.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    on.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    on.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    on.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    val spj = StorageOps.spjBody(on)
    assert(joinSideShuffles(spj.queryExecution.executedPlan) == 0,
      "SPJ still shuffled a join side")
    // same body, v2 bucketing off: BOTH fact sides must re-shuffle
    val off = spark.newSession()
    off.conf.set("spark.sql.adaptive.enabled", "false")
    off.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val plain = StorageOps.spjBody(off)
    assert(joinSideShuffles(plain.queryExecution.executedPlan) == 2,
      "expected both join sides to exchange without SPJ")
    // co-location changes the plan, never the rows — including the
    // keys only the larger table holds (padded empty partitions)
    assert(spj.collect().toSeq == plain.collect().toSeq)
  }

  test("dsv2 spj + reported ordering: zero exchanges AND zero sorts") {
    import graft.sources.StorageOps
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val on = StorageOps.spjSession(spark)
    on.conf.set("spark.sql.adaptive.enabled", "false")
    val spj = StorageOps.spjBody(on)
    val smj = spj.queryExecution.executedPlan.collect {
      case j: SortMergeJoinExec => j
    }
    assert(smj.length == 1, "expected one SMJ")
    // SupportsReportOrdering: readers stream ids ascending within each
    // key-grouped split, the scan says so, and the SMJ's per-task
    // sorts vanish on BOTH sides — write-ordered-table semantics: the
    // layout paid the sort once, no query pays it again
    assert(smj.head.collect { case s: SortExec => s }.isEmpty,
      "scan-reported ordering did not elide the join sorts")
    assert(smj.head.collect { case e: ShuffleExchangeExec => e }.isEmpty,
      "SPJ shuffled a join side")
    // the noorder twin makes the elision ATTRIBUTABLE: same session,
    // same SPJ layout, ordering withheld → the SMJ plans its sorts
    val twin = StorageOps.spjBodyOf(on, StorageOps.SpjAN, StorageOps.SpjBN,
      noorder = true)
    val tsmj = twin.queryExecution.executedPlan.collect {
      case j: SortMergeJoinExec => j
    }
    assert(tsmj.length == 1 &&
      tsmj.head.collect { case s: SortExec => s }.nonEmpty,
      "noorder twin should re-plan the join sorts")
    // and the sort-free plan still returns the exact rows
    val off = spark.newSession()
    off.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    assert(spj.collect().toSeq == StorageOps.spjBody(off).collect().toSeq)
  }

  test("dsv2 spj: pushed filters clip key blocks without breaking co-partition") {
    import graft.sources.StorageOps
    val on = StorageOps.spjSession(spark)
    on.conf.set("spark.sql.adaptive.enabled", "false")
    def tbl(cs: org.apache.spark.sql.SparkSession, n: Long) =
      cs.read.format("graft.sources.SeqSource")
        .option("n", n.toString).option("pstep", "500").load()
    // a's filter drops whole leading key blocks AND clips one mid-block;
    // b covers a shorter id range — partial key overlap on both ends
    def body(cs: org.apache.spark.sql.SparkSession) = {
      val a = tbl(cs, 20000).filter(col("id") >= 5250L)
      val b = tbl(cs, 12000).select(col("pkey"), col("id"),
        col("bucket").as("bucket_b"))
      a.join(b, Seq("pkey", "id"))
        .groupBy("word")
        .agg(count(lit(1)).as("cnt"), sum("bucket_b").as("s"))
        .orderBy("word")
    }
    val spj = body(on)
    // the join itself still plans shuffle-free under the clipped layout
    val smj = spj.queryExecution.executedPlan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(smj.length == 1)
    assert(smj.head.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.isEmpty, "clipped key blocks broke the co-partition")
    // and never changes the rows: ids 5250..11999 survive on both sides
    val off = spark.newSession()
    off.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    assert(spj.collect().toSeq == body(off).collect().toSeq)
  }

  test("dsv2 columnar scan: ColumnarBatch path, byte-equal to the row path") {
    import graft.sources.StorageOps
    val colDf = StorageOps.dsv2ColumnarScan(spark, sfDir)
    val colRows = colDf.collect()
    // the scan really went vectorized: the engine planned its
    // columnar-to-row bridge above the BatchScan
    assert(colDf.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
      "columnar=true scan did not plan a ColumnarToRow bridge")
    // row-path twin: identical query, columnar off
    val rowDf = spark.read.format("graft.sources.SeqSource")
      .option("n", StorageOps.Dsv2N.toString).option("parts", "8").load()
      .filter(col("id") < StorageOps.Dsv2N / 2)
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"), sum("bucket").as("sum_bucket"),
        min("id").as("min_id"))
      .orderBy("word")
    assert(!rowDf.queryExecution.executedPlan.toString.contains("ColumnarToRow"))
    assert(colRows.toSeq == rowDf.collect().toSeq)
  }

  test("dsv2 metadata column: hidden from *, split-exact when selected") {
    import graft.sources.StorageOps
    // hidden: the table schema and SELECT * never carry _split_lo
    val star = spark.read.format("graft.sources.SeqSource")
      .option("n", StorageOps.Dsv2N.toString).option("parts", "8").load()
    assert(!star.schema.fieldNames.contains("_split_lo"))
    // selected: every row's split bound matches the ceil-division
    // range math planInputPartitions uses
    val step = (StorageOps.Dsv2N + 7) / 8
    val bad = star.select(col("id"), col("_split_lo"))
      .filter(col("_split_lo") =!= expr(s"(id div $step) * $step"))
      .count()
    assert(bad == 0L, s"$bad rows carried a wrong split bound")
    // the registered per-split histogram covers the table exactly
    val hist = StorageOps.dsv2MetadataCol(spark, sfDir).collect()
    assert(hist.length == 8)
    assert(hist.map(_.getLong(1)).sum == StorageOps.Dsv2N)
    hist.foreach { r =>
      assert(r.getLong(2) == r.getLong(0), "lo_id must equal split_lo")
    }
  }

  test("file metadata: _metadata.row_index/file_name are real provenance") {
    import graft.sources.StorageOps
    val rows = StorageOps.fileMetadata(spark, sfDir).collect()
    assert(rows.nonEmpty)
    // every surviving doc keeps its physical position: the testdata
    // lands documents ordered by doc_id, so row_index == doc_id rank
    // (here: doc_id itself — ids are dense from 0)
    rows.foreach { r =>
      assert(r.getLong(1) == r.getLong(0),
        s"row_index ${r.getLong(1)} != doc_id ${r.getLong(0)}")
      assert(r.getString(2) == "documents.parquet")
    }
  }

  test("dsv2 sink: per-partition commit messages aggregate to the exact totals") {
    import graft.sources.StorageOps
    val out = StorageOps.dsv2Write(spark, sfDir).collect()
    assert(out.length == 1)
    val expect = Tables.orders(spark, sfDir)
      .agg(count(lit(1)), sum("o_orderkey")).head()
    assert(out.head.getLong(0) == expect.getLong(0), "row count drifted")
    assert(out.head.getLong(1) == expect.getLong(1), "key sum drifted")
    // repeat runs are independent commits (no cross-run state bleed)
    val again = StorageOps.dsv2Write(spark, sfDir).collect()
    assert(again.head == out.head)
  }

  test("dsv2 write distribution: the engine delivers the declared layout") {
    import graft.sources.StorageOps
    val row = StorageOps.dsv2WriteDistribution(spark, sfDir).head()
    val expect = Tables.orders(spark, sfDir)
      .agg(count(lit(1)), sum("o_orderkey"),
        countDistinct(col("o_custkey") % 101)).head()
    assert(row.getLong(0) == expect.getLong(0), "rows lost in the sink")
    assert(row.getLong(1) == expect.getLong(1), "value sum drifted")
    assert(row.getLong(2) == expect.getLong(2), "key universe drifted")
    assert(row.getLong(3) == 7L, "requiredNumPartitions not honored")
    // ordering verdict: every task saw non-decreasing k (the engine
    // really inserted the declared sort)
    assert(row.getBoolean(4), "within-task sort order violated")
    // clustering verdict: no key landed in two partitions (the engine
    // really inserted the clustered exchange) — without it, 101 keys
    // over 7 tasks of pre-shuffled input would collide immediately
    assert(row.getBoolean(5), "clustering violated: key split across tasks")
  }

  test("snapshot_cdf: the differ recovers exactly the applied change rule") {
    import graft.sources.StorageOps
    val keys = Tables.customer(spark, sfDir).select("c_custkey")
      .collect().map(_.getLong(0))
    val out = StorageOps.snapshotCdf(spark, sfDir).collect()
    val byType = out.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    val nIns = keys.count(_ % 50 == 0)
    val nDel = keys.count(_ % 7 == 1)
    val nUpd = keys.count(k => k % 3 == 0 && k % 7 != 1)
    assert(byType.getOrElse("insert", 0) == nIns, s"inserts: $byType")
    assert(byType.getOrElse("delete", 0) == nDel, s"deletes: $byType")
    assert(byType.getOrElse("update_preimage", 0) == nUpd, byType.toString)
    assert(byType.getOrElse("update_postimage", 0) == nUpd, byType.toString)
    assert(out.length == nIns + nDel + 2 * nUpd, "no unchanged row may leak")
    // every update pair differs by exactly the +100 balance
    out.filter(_.getString(1).startsWith("update_"))
      .groupBy(_.getLong(0)).foreach { case (k, rs) =>
        val pre = rs.find(_.getString(1) == "update_preimage").get
        val post = rs.find(_.getString(1) == "update_postimage").get
        assert(math.abs(post.getDouble(3) - pre.getDouble(3) - 100.0) < 1e-9,
          s"key $k update images inconsistent")
        assert(pre.getString(2) == post.getString(2))
      }
  }

  test("dsv2 sample pushdown: no Sample operator, composes with pushed aggs") {
    import graft.sources.StorageOps
    val agg = StorageOps.dsv2SamplePushdown(spark, sfDir)
    val p = agg.queryExecution.executedPlan.toString
    assert(!p.contains("Sample"), "Sample survived pushdown:\n" + p)
    assert(!p.contains("HashAggregate"),
      "sampled aggregate did not answer closed-form:\n" + p)
    val r = agg.collect().head
    val n = (StorageOps.Dsv2N * 0.25).toLong
    assert(r.getLong(0) == n && r.getLong(1) == 0 && r.getLong(2) == n - 1 &&
      r.getLong(3) == n * (n - 1) / 2, s"sampled agg wrong: $r")
    // row-level: the pushed sample is the deterministic prefix slice
    val rows = spark.read.format("graft.sources.SeqSource")
      .option("n", "1000").load().sample(0.1, 7L)
    val rp = rows.queryExecution.executedPlan.toString
    assert(!rp.contains("Sample") && rp.contains("graftseq range [0, 100)"),
      "row-level sample not folded to the slice:\n" + rp)
    assert(rows.count() == 100)
    // replacement sampling is refused — the engine keeps its Sample
    val wr = spark.read.format("graft.sources.SeqSource")
      .option("n", "1000").load().sample(withReplacement = true, 0.1, 7L)
    assert(wr.queryExecution.executedPlan.toString.contains("Sample"),
      "withReplacement must not push")
  }

  test("dsv2 variant column: typed extraction correct; pushdown refusal is safe") {
    def tbl(s: org.apache.spark.sql.SparkSession) =
      s.read.format("graft.sources.SeqSource")
        .option("n", "500").option("variant", "true").load()
    // schema carries a real VariantType column
    assert(tbl(spark).schema("props").dataType ==
      org.apache.spark.sql.types.VariantType)
    def vals(s: org.apache.spark.sql.SparkSession) =
      tbl(s).select(col("id"),
          expr("variant_get(props, '$.k', 'bigint')").as("k"),
          expr("variant_get(props, '$.tag', 'string')").as("tag"))
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    val base = vals(spark)
    assert(base.forall { case (id, k, tag) =>
      k == id % 100 && tag == s"t${id % 5}" }, base.take(5))
    // with extraction pushdown requested, the builder REFUSES (the
    // engine rewrite is broken on this path — see the builder's
    // scaladoc) and the engine keeps variant_get exact above the scan
    val on = spark.newSession()
    on.conf.set("spark.sql.variant.pushVariantIntoScan", "true")
    assert(vals(on) == base, "refused pushdown changed results")
    // columnar=true + variant=true: the pruned schema retaining the
    // props column falls back to the ROW reader (no variant vector
    // exists) instead of failing at scan time; values are identical
    val cv = spark.read.format("graft.sources.SeqSource")
      .option("n", "500").option("variant", "true")
      .option("columnar", "true").load()
      .select(col("id"), expr("variant_get(props, '$.k', 'bigint')").as("k"))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(cv == base.map(t => (t._1, t._2)), cv.take(5))
    // a variant-less projection of the same table still reads columnar
    val noProps = spark.read.format("graft.sources.SeqSource")
      .option("n", "500").option("variant", "true")
      .option("columnar", "true").load().select("id", "word")
    assert(noProps.queryExecution.executedPlan.toString
      .contains("ColumnarToRow"),
      "variant-free projection lost the columnar path")
    assert(noProps.count() == 500)
  }

  test("join pushdown refuses variant sides (schema would corrupt)") {
    val on = spark.newSession()
    on.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
    def side(variant: Boolean) = on.read.format("graft.sources.SeqSource")
      .option("n", "200").option("variant", variant.toString).load()
    val j = side(variant = true).as("a")
      .join(side(variant = false).as("b"), col("a.id") === col("b.id"))
      .select(col("a.id"),
        expr("variant_get(a.props, '$.k', 'bigint')").as("k"))
      .orderBy("id")
    // the engine keeps its join — the connector refused the variant side
    assert(j.queryExecution.executedPlan.toString.toLowerCase
      .contains("join"), "variant join was pushed (refusal expected)")
    val rows = j.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows.length == 200 && rows.forall { case (id, k) => k == id % 100 },
      rows.take(5))
  }

  test("dsv2 join pushdown: the connector answers the join — zero join nodes") {
    import graft.sources.StorageOps
    val on = spark.newSession()
    on.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
    on.conf.set("spark.sql.adaptive.enabled", "false")
    val (a, b) = StorageOps.dsv2JoinSides(on)
    val body = StorageOps.dsv2JoinBody(a, b)
    val p = body.queryExecution.executedPlan.toString
    assert(!p.toLowerCase.contains("join"),
      "pushed join still planned a join operator:\n" + p)
    // the scan folded to the INTERSECTION of the filter-folded ranges
    assert(p.contains(s"graftseq range [${StorageOps.Dsv2N / 10}, " +
      s"${StorageOps.Dsv2N / 2})"),
      "scan range is not the two-sided intersection:\n" + p)
    // the GROUP BY stayed engine-side (a joined builder refuses aggs)
    assert(p.contains("HashAggregate"),
      "expected the aggregate ABOVE the pushed join:\n" + p)
    // pushdown changes the plan, never the rows
    val off = spark.newSession()
    off.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "false")
    val (a2, b2) = StorageOps.dsv2JoinSides(off)
    val plain = StorageOps.dsv2JoinBody(a2, b2)
    assert(plain.queryExecution.executedPlan.toString.toLowerCase
      .contains("join"), "control plan lost its join?")
    assert(body.collect().toSeq == plain.collect().toSeq)
  }

  test("dsv2 join pushdown: three-way id-equijoin collapses into ONE scan") {
    val on = spark.newSession()
    on.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
    def tbl(n: Long) = on.read.format("graft.sources.SeqSource")
      .option("n", n.toString).load()
    val j3 = tbl(1000).join(tbl(700), "id").join(tbl(450), "id")
    val p = j3.queryExecution.executedPlan.toString
    assert(!p.toLowerCase.contains("join"),
      "three-way join did not collapse:\n" + p)
    assert(p.contains("graftseq range [0, 450)"),
      "chained intersection wrong:\n" + p)
    assert(j3.count() == 450)
    // the REGISTERED 3-way body (filters on two sides, columns from
    // all three): one scan over the three-way intersection, zero join
    // operators, aggregate engine-side
    import graft.sources.StorageOps
    val body = StorageOps.join3Body(on)
    val bp = body.queryExecution.executedPlan.toString
    assert(!bp.toLowerCase.contains("join"),
      "registered 3-way body kept a join:\n" + bp)
    assert(bp.contains(s"graftseq range [${StorageOps.Dsv2N / 10}, " +
      s"${StorageOps.Dsv2N * 2 / 5})"),
      "3-way intersection range wrong:\n" + bp)
    // pushdown changes the plan, never the rows
    val off = spark.newSession()
    off.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "false")
    val plain = StorageOps.join3Body(off)
    assert(plain.queryExecution.executedPlan.toString.toLowerCase
      .contains("join"), "control plan lost its joins?")
    assert(body.collect().toSeq == plain.collect().toSeq)
  }

  test("streaming a storage-partitioned table generates pkey correctly") {
    // the micro-batch reader must carry the REAL pstep (and skew map)
    // for the pkey column — a rebuilt (name, 0) pair divided by zero
    val out = java.nio.file.Files.createTempDirectory("graft_pstream")
    val q = spark.readStream.format("graft.sources.SeqSource")
      .option("n", "300").option("pstep", "100")
      .option("hotrows", "150").load()
      .writeStream.format("memory").queryName("pstream")
      .option("checkpointLocation", out.resolve("cp").toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val rows = spark.sql("SELECT id, pkey FROM pstream").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows.size == 300)
    assert(rows(0L) == 0L && rows(149L) == 0L &&
      rows(150L) == 1L && rows(299L) == 2L,
      rows.toSeq.sortBy(_._1).take(4).toString)
  }

  test("grouped-agg pushdown refuses pkey on skew-mapped tables, stays exact") {
    // the grouped scan answers partials from UNIFORM id/pstep
    // arithmetic — on a hotrows table that would return wrong groups
    // ({0:100,1:100,2:100} instead of {0:150,1:100,2:50}); the
    // connector must refuse and let the engine aggregate exactly
    def tbl(hotrows: Long) = spark.read.format("graft.sources.SeqSource")
      .option("n", "300").option("pstep", "100")
      .option("hotrows", hotrows.toString).load()
    val skewed = tbl(150L).groupBy("pkey").count()
    assert(!skewed.queryExecution.executedPlan.toString
      .contains("pushed GROUP BY"),
      "pkey grouping pushed on a skew-mapped table")
    val got = skewed.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 150L, 1L -> 100L, 2L -> 50L), got)
    // the uniform table still pushes (the rung itself is intact)
    val uniform = tbl(0L).groupBy("pkey").count()
    assert(uniform.queryExecution.executedPlan.toString
      .contains("pushed GROUP BY pkey"),
      "uniform pkey grouping lost its pushdown")
    assert(uniform.collect().map(_.getLong(1)).sum == 300L)
  }

  test("join pushdown refuses skew-mapped (hotrows) sides, stays correct") {
    val on = spark.newSession()
    on.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
    def side(hotrows: Long) = on.read.format("graft.sources.SeqSource")
      .option("n", "300").option("pstep", "100")
      .option("hotrows", hotrows.toString).load()
    // a pushed join would regenerate pkey with the UNIFORM map and
    // silently mis-key the skewed side — the connector must refuse
    val j = side(150L).select(col("id"), col("pkey"))
      .join(side(0L).select(col("id").as("id2")), col("id") === col("id2"))
    assert(j.queryExecution.executedPlan.toString.toLowerCase
      .contains("join"), "hotrows join was pushed (refusal expected)")
    val rows = j.select("id", "pkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rows.size == 300)
    // the skew map survived: ids below hotrows key 0, above uniform
    assert(rows(10L) == 0L && rows(149L) == 0L &&
      rows(150L) == 1L && rows(299L) == 2L, rows.toSeq.sorted.take(5))
  }

  test("spj skew: partially-clustered keeps hot splits apart, zero exchanges") {
    import graft.sources.StorageOps
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def flatten(p: SparkPlan): Seq[SparkPlan] = (p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => flatten(q.plan)
      case o => o.children.flatMap(flatten)
    }) :+ p
    def scanParts(df: org.apache.spark.sql.DataFrame): Seq[Int] = {
      df.collect()
      flatten(df.queryExecution.executedPlan).collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.getNumPartitions
      }
    }
    def exchanges(df: org.apache.spark.sql.DataFrame): Int =
      flatten(df.queryExecution.executedPlan).count(
        _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    // grouped twin: plain SPJ coalesces the hot key's splits into one
    // task per key — partition count == key-block count
    val grouped = StorageOps.spjSkewBody(StorageOps.spjSession(spark))
    val gParts = scanParts(grouped)
    val nKeys = (StorageOps.SpjAN / StorageOps.SpjStep).toInt
    assert(gParts.forall(_ == nKeys),
      s"grouped SPJ expected $nKeys partitions/side, got $gParts")
    // partially clustered: the hot block's extra splits stay apart
    // and the other side's matching block replicates across them
    val pcd = graft.sources.StorageOps.dsv2SpjSkew(spark, sfDir)
    val pParts = scanParts(pcd)
    val expect = nKeys + StorageOps.SkewHotSplits - 1
    assert(pParts.forall(_ == expect),
      s"partially-clustered expected $expect partitions/side, got $pParts")
    // still a storage-partitioned join: the skew handling added NO
    // join-side exchange (1 exchange = the aggregate's, same as the
    // grouped twin), and layout never changes content
    assert(exchanges(pcd) == exchanges(grouped),
      "partially-clustered added an exchange")
    assert(pcd.collect().toSeq == grouped.collect().toSeq)
  }

  test("dsv2 join pushdown: outer and non-equi joins are refused, stay correct") {
    val on = spark.newSession()
    on.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
    def tbl(n: Long) = on.read.format("graft.sources.SeqSource")
      .option("n", n.toString).load()
    val outer = tbl(300).join(tbl(200), Seq("id"), "left_outer")
    assert(outer.queryExecution.executedPlan.toString.toLowerCase
      .contains("join"), "outer join must NOT push")
    assert(outer.count() == 300)
    val ne = tbl(100).as("x").join(tbl(100).as("y"),
      col("x.id") === col("y.id") + 1)
    assert(ne.queryExecution.executedPlan.toString.toLowerCase
      .contains("join"), "non-equi join must NOT push")
    assert(ne.count() == 99)
  }

  test("S6 JSON sink roundtrip") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("graft_json").toString
    val wc = TextOps.wordcount(spark, sfDir)
    TextSources.writeJson(wc, out)
    val back = spark.read.json(out)
    assert(back.count() == wc.count())
    val a = back.select("word", "cnt").as[(String, Long)].collect().toSet
    val b = wc.select("word", "cnt").as[(String, Long)].collect().toSet
    assert(a == b)
  }

  test("CSV source/sink roundtrip preserves lineitem aggregates") {
    val out = java.nio.file.Files.createTempDirectory("graft_csv").toString
    val li = Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_quantity", "l_returnflag")
    li.write.mode("overwrite").option("header", "true").csv(out)
    val back = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(out)
    val a = back.agg(sum("l_quantity")).head().getDouble(0)
    val b = li.agg(sum("l_quantity")).head().getDouble(0)
    assert(math.abs(a - b) < 1e-6)
  }
}
