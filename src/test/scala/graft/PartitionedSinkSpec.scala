package graft

import org.apache.spark.sql.functions._

/** Partitioned-write layout — at 100 TB, data is laid out by a
  * low-cardinality key at WRITE time so later queries touch only the
  * matching directories (partition pruning), the storage-level
  * analogue of predicate pushdown. */
class PartitionedSinkSpec extends SparkSpec {

  test("partitionBy write prunes non-matching partitions on read") {
    val out = SparkSpec.tempDir("graft_part").toString
    Tables.events(spark, sfDir)
      .write.mode("overwrite")
      .partitionBy("event_type")
      .parquet(out)
    // one directory per type
    val dirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("event_type="))
    assert(dirs.length == 5, dirs.mkString(","))

    val back = spark.read.parquet(out)
      .filter(col("event_type") === "purchase")
    val plan = back.queryExecution.executedPlan.toString
    // the filter must land in PartitionFilters (directory pruning),
    // not just PushedFilters (row-group pruning)
    assert(plan.contains("PartitionFilters: [isnotnull(event_type"), plan)
    // and results must match the unpartitioned source
    val n = back.count()
    val expect = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase").count()
    assert(n == expect)
  }

  test("sorted layout: part files cover disjoint shipdate slices; filter reaches the scan") {
    import graft.sources.StorageOps
    StorageOps.sortedLayout(spark, sfDir).collect()
    val dir = StorageOps.sortedLayoutDir(sfDir)
    // disjointness is the data-skipping evidence: a range predicate
    // can rule out whole files (and row groups) by min/max stats
    val files = Option(new java.io.File(dir).listFiles()).get
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .map(_.toString).toList
    assert(files.size >= 2, s"expected >=2 range files, got $files")
    val ranges = files.map { f =>
      // l_shipdate round-trips as TIMESTAMP_NTZ → LocalDateTime
      val r = spark.read.parquet(f)
        .agg(min("l_shipdate").cast("string").as("lo"),
          max("l_shipdate").cast("string").as("hi")).head()
      assert(!r.isNullAt(0) && !r.isNullAt(1), s"empty range file $f")
      (r.getString(0), r.getString(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"file ranges overlap: $hi > $lo2")
      case _ =>
    }
    // and the date-range predicate must be pushed to the reader
    val plan = StorageOps.sortedLayoutRead(spark, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("GreaterThanOrEqual(l_shipdate"), plan)
  }

  test("schema evolution: mergeSchema unions batch schemas, legacy rows read NULL") {
    import graft.sources.StorageOps
    val got = StorageOps.schemaEvolution(spark, sfDir)
    assert(got.columns.toSet ==
      Set("source", "n_docs", "legacy_rows", "sum_quality", "sum_len"))
    val rows = got.collect()
    val base = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"), length(col("text")).as("len"))
    // legacy (batch-1, even-id) rows surface quality as NULL — counted
    // per source exactly
    val expectLegacy = base.filter(col("doc_id") % 2 === 0)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      assert(r.getLong(r.fieldIndex("legacy_rows")) ==
        expectLegacy.getOrElse(r.getString(0), 0L), r.toString)
    }
    // the discovered `batch` partition column is readable too
    val merged = spark.read.option("mergeSchema", "true")
      .parquet(StorageOps.schemaEvolutionDir(sfDir))
    assert(merged.columns.contains("batch") && merged.columns.contains("quality"))
    assert(merged.filter(col("batch") === 1 && col("quality").isNotNull).count() == 0)
  }

  test("mv refresh merges the landed aggregate with the batch; equals recompute") {
    import graft.sources.StorageOps
    val got = StorageOps.mvRefresh(spark, sfDir)
    // the refresh must READ the landed MV (not recompute history):
    // exactly one scan of the orders source feeds the plan (the
    // batch), the other leaf is the MV parquet
    val scans = got.queryExecution.executedPlan.toString
      .linesIterator.filter(_.contains("FileScan parquet")).toList
    assert(scans.exists(_.contains("graft_mv")), scans.mkString("\n"))
    assert(scans.count(_.contains("orders.parquet")) == 1, scans.mkString("\n"))
    // defined equal to the full recompute
    val full = Tables.orders(spark, sfDir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        (sum(round(col("o_totalprice") * 100).cast("long")) / 100.0)
          .as("sum_price"))
      .orderBy("o_orderpriority").collect()
    assert(got.collect().map(_.toString).toSeq ==
      full.map(_.toString).toSeq)
  }

  test("ORC sink/source roundtrip preserves data") {
    val out = SparkSpec.tempDir("graft_orc").toString
    val src = Tables.nation(spark, sfDir)
    src.write.mode("overwrite").orc(out)
    val back = spark.read.orc(out)
    assert(back.schema == src.schema)
    assert(back.collect().map(_.toString).sorted.toSeq ==
      src.collect().map(_.toString).sorted.toSeq)
  }

  test("SQL BROADCAST hint is honored in the plan") {
    Tables.nation(spark, sfDir).createOrReplaceTempView("nation_h")
    Tables.customer(spark, sfDir).createOrReplaceTempView("customer_h")
    val df = spark.sql(
      """SELECT /*+ BROADCAST(nation_h) */ n_name, count(*) AS n
        |FROM customer_h JOIN nation_h ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("sortWithinPartitions layout keeps rows clustered per file") {
    val out = SparkSpec.tempDir("graft_sorted").toString
    Tables.orders(spark, sfDir)
      .repartition(4, col("o_custkey"))
      .sortWithinPartitions("o_custkey", "o_orderdate")
      .write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out)
    assert(back.count() == Tables.orders(spark, sfDir).count())
    // min/max clustering: each file's custkey range should be narrow —
    // the property that makes parquet row-group stats selective
    import spark.implicits._
    val spans = back.withColumn("f", input_file_name())
      .groupBy("f")
      .agg((max("o_custkey") - min("o_custkey")).as("span"))
      .as[(String, Long)].collect()
    assert(spans.length >= 4)
  }
}
