package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Money, Present}

/** Storage-layout operators — the sink-side half of running at 100 TB
  * (SURVEY.md §2.3 sources/sinks): bucketed tables for shuffle-free
  * fact⋈fact joins, partitioned layouts for partition-pruned scans,
  * and the full-outer-join MERGE (upsert) that maintains a snapshot
  * under a change feed.
  *
  * Each registered query performs the WRITE as part of the operator
  * (the layout is the product, not a fixture), then computes a
  * DuckDB-checkable result from the written layout, so the gate
  * covers the round trip: plan → files → read-back semantics.
  */
object StorageOps {

  /** Deterministic per-dataset staging dir under one fixed root —
    * reruns overwrite instead of accumulating. processScoped (r19):
    * every consumer is wipe/overwrite-then-read, so a path shared
    * with a concurrent suite/Verify JVM can serve a mid-overwrite
    * gap (the AvroIO hazard class). */
  private def stageDir(tag: String, d: String): String =
    graft.Scratch.processScoped("graft_storage", tag,
      d.replaceAll("[^a-zA-Z0-9]", "_")).toString

  val Buckets = 8

  /** Bucketed fact⋈fact join: lineitem and orders land bucketed AND
    * sorted by the join key, so the join plans as a zero-exchange,
    * zero-sort sort-merge join — the layout a 100 TB warehouse keeps
    * its biggest fact tables in, where re-shuffling either side per
    * query is the cost that kills you. The layout is the SHARED
    * warehouse ([[ensureWarehouse]] — same tables q3/q9/q18_bucketed
    * read), built once per dataset per JVM: the write-time shuffle is
    * priced in SCALE.md, not re-paid on every execution (a per-run
    * rebuild made this the most expensive non-streaming query in the
    * suite at ~4× the mean, for zero semantic content). PlanSpec
    * asserts no exchange above the bucketed scans with broadcast off.
    *
    * Output: revenue by order priority over the joined layout —
    * hash-checked against DuckDB running the same join on the source
    * parquet, which proves the bucketed round trip loses nothing. */
  def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    ensureWarehouse(s, d)
    bucketedJoinRead(s)
      .transform(Present.sorted(_, col("o_orderpriority")))
  }

  /** Session-scoped landed WAREHOUSE layout per dataset dir: lineitem
    * and orders bucketed AND sorted on the orderkey — the layout a
    * 100 TB deployment keeps its two biggest fact tables in so that
    * EVERY orderkey-equi-join query (q9, q18, bucketed_join, ...)
    * plans the fact⋈fact step with zero exchange, amortizing one
    * write-time shuffle per table across the whole query mix. Parquet
    * is columnar, so landing the union of the consumers' columns
    * costs narrow queries nothing (column pruning still reaches the
    * scan). Built once per dataset per JVM (the ivfStore/SigStore
    * pattern). */
  private[graft] val whStores = new graft.Landed[String]("graft_storage")
  /** The landed root the session catalog's warehouse tables read. */
  private val whRegistered =
    new java.util.concurrent.atomic.AtomicReference[String](null)
  private val whTables = Seq("lineitem" -> "l_orderkey", "orders" -> "o_orderkey")

  def ensureWarehouse(s: SparkSession, d: String): Unit = whRegistered.synchronized {
    val root = whStores.root(d) { out =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_shipdate"))
        .write.mode("overwrite")
        .bucketBy(Buckets, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$out/wh_lineitem")
        .format("parquet").saveAsTable("graft_wh_lineitem")
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
          col("o_orderpriority"))
        .write.mode("overwrite")
        .bucketBy(Buckets, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$out/wh_orders")
        .format("parquet").saveAsTable("graft_wh_orders")
      whRegistered.set(out)
    }
    // the landed files are JVM-wide but the table CATALOG is
    // per-session — a rebuilt session (e.g. after a stopped context)
    // re-registers the files already on disk, bucketing included
    if (whRegistered.get != root ||
        whTables.exists(t => !s.catalog.tableExists(s"graft_wh_${t._1}"))) {
      for ((t, key) <- whTables) {
        val dir = s"$root/wh_$t"
        s.sql(s"DROP TABLE IF EXISTS graft_wh_$t")
        s.sql(s"CREATE TABLE graft_wh_$t (${s.read.parquet(dir).schema.toDDL}) " +
          s"USING parquet CLUSTERED BY ($key) SORTED BY ($key) " +
          s"INTO $Buckets BUCKETS LOCATION '$dir'")
      }
      whRegistered.set(root)
    }
  }

  /** TPC-H Q18 over the landed warehouse: the per-order quantity
    * aggregate runs WITHOUT an exchange (the bucketed scan already
    * hash-partitions on l_orderkey, satisfying the aggregate's
    * required distribution), the big⋈orders join is a zero-exchange
    * SMJ on co-bucketed sides, and the HAVING-qualified survivor set
    * — tiny by construction — broadcasts into the customer join. The
    * only shuffles left in the whole query are one BroadcastExchange
    * of the qualified handful and the presentation sort; vs
    * q18_large_orders this deletes BOTH fact-side hash exchanges,
    * which at 100 TB are the query's dominant cost. Same oracle as
    * q18_large_orders: the layout must change the plan, not the
    * answer. */
  def q18Bucketed(s: SparkSession, d: String): DataFrame = {
    ensureWarehouse(s, d)
    val big = s.table("graft_wh_lineitem")
      .groupBy("l_orderkey")
      .agg(round(sum("l_quantity"), 2).as("total_qty"))
      .filter(col("total_qty") > 300) // HAVING
    val qualified = big
      .join(s.table("graft_wh_orders"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("total_qty"))
    Tables.customer(s, d)
      .join(broadcast(qualified), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("total_qty"))
      .transform(Present.sortedUnbounded(_, desc("total_qty"), col("o_orderkey")))
  }

  /** Read through the custom DSv2 connector ([[SeqSource]] — the
    * sources rung of the extension ladder): a selective id predicate
    * and a narrow projection must BOTH reach the custom scan (range
    * folded at planning time, word column pruned — SourcesSpec pins
    * the scan description), then a standard aggregate runs on top.
    * The dataset dir is unused: the source generates its rows, and
    * the DuckDB oracle replays them from range() + the md5 bucket. */
  val Dsv2N = 100000L
  def dsv2Scan(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.SeqSource")
      .option("n", Dsv2N.toString).option("parts", "8").load()
      .filter(col("id") >= Dsv2N / 4 && col("id") < Dsv2N * 3 / 4)
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"), sum("id").as("sum_id"))
      .transform(Present.sorted(_, col("bucket")))

  /** Write through the custom DSv2 sink ([[CountSink]]): orders'
    * keys stream through per-task `DataWriter`s, each partition's
    * (rows, sum) rides its `WriterCommitMessage`, and the driver-side
    * `BatchWrite.commit` aggregation IS the query result — gated
    * against a plain aggregate of the same relation, so any lost /
    * duplicated / double-committed partition message hash-fails. */
  def dsv2Write(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val runId = java.util.UUID.randomUUID().toString
    Tables.orders(s, d).select("o_orderkey")
      .write.format("graft.sources.CountSink")
      .option("runid", runId).mode("append").save()
    val (rows, sum) = CountSink.take(runId).getOrElse(
      throw new IllegalStateException("CountSink committed nothing"))
    Seq((rows, sum)).toDF("n_rows", "sum_orderkey")
  }

  /** Write-side distribution/ordering through the DSv2 sink
    * ([[ClusterSink]]): the sink DECLARES "cluster by k, sort by k,
    * exactly 7 tasks" via `RequiresDistributionAndOrdering` and the
    * ENGINE inserts the exchange + sort (the Iceberg write-
    * distribution-mode shape — well-clustered output files without a
    * hand-written repartition). The sink verifies the promise as it
    * streams — per-task key sets and ordering verdicts ride the
    * commit messages; driver commit checks cross-partition key
    * disjointness — and the verdicts ARE the query result, gated
    * against the DuckDB replay (disjoint ⇔ Σ per-partition distinct
    * keys equals the global distinct count). */
  def dsv2WriteDistribution(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val runId = java.util.UUID.randomUUID().toString
    Tables.orders(s, d)
      .select((col("o_custkey") % 101).as("k"), col("o_orderkey").as("v"))
      .write.format("graft.sources.ClusterSink")
      .option("runid", runId).mode("append").save()
    val c = ClusterSink.take(runId).getOrElse(
      throw new IllegalStateException("ClusterSink committed nothing"))
    Seq((c.rows, c.sumV, c.nKeys, c.parts.toLong, c.ordered,
      c.sumPartKeys == c.nKeys))
      .toDF("n_rows", "sum_key", "n_keys", "n_parts", "ordered", "disjoint")
  }

  /** CRUD through a mounted catalog PLUGIN ([[MemCatalog]] — the
    * catalog rung of the sources ladder): the session mounts the
    * custom `TableCatalog` under `spark.sql.catalog.graft_mem`, and
    * the SQL front door drives the full lifecycle against it —
    * CREATE TABLE, INSERT INTO (DSv2 commit protocol), metadata
    * DELETE (`SupportsDelete`: the store evaluates the predicate
    * exactly, no rewrite job — the Iceberg partition-drop shape),
    * ALTER RENAME, and the final aggregate reads back through the
    * connector scan with column pruning. Child session: the catalog
    * mount stays scoped; rerun-safe because each session builds a
    * fresh catalog instance. */
  def catalogCrud(s: SparkSession, d: String): DataFrame = {
    val cs = s.newSession()
    cs.conf.set("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
    Tables.orders(cs, d).createOrReplaceTempView("orders")
    cs.sql("CREATE TABLE graft_mem.ns.fact (k BIGINT, v BIGINT)")
    cs.sql(
      """INSERT INTO graft_mem.ns.fact
        |SELECT CAST(o_custkey % 101 AS BIGINT) AS k,
        |  CAST(o_orderkey AS BIGINT) AS v FROM orders""".stripMargin)
    cs.sql("DELETE FROM graft_mem.ns.fact WHERE k >= 50")
    cs.sql("ALTER TABLE graft_mem.ns.fact RENAME TO ns.kept")
    // atomic CTAS (StagingTableCatalog): the aggregate lands as a new
    // table, visible only after the write commits
    cs.sql(
      """CREATE TABLE graft_mem.ns.agg AS
        |SELECT k, count(*) AS cnt, sum(v) AS sum_v
        |FROM graft_mem.ns.kept GROUP BY k""".stripMargin)
    cs.sql("SELECT k, cnt, sum_v FROM graft_mem.ns.agg ORDER BY k")
  }

  /** Row-level DML through the catalog plugin — UPDATE and MERGE INTO
    * against the custom connector ([[MemTable]]'s
    * `SupportsRowLevelOperations`, group-based copy-on-write): the
    * target builds one row per customer-key bucket, an UPDATE bumps
    * the small buckets, and a MERGE from a differently-bucketed
    * source updates matched keys and inserts unmatched ones — the
    * full warehouse DML surface (INSERT/DELETE/UPDATE/MERGE) running
    * through engine rewrites against connector scans and commits.
    * Store-evaluable DELETEs still route through the metadata path
    * (CatalogSpec pins the routing); everything here is the rewrite
    * path. Oracle replays the whole lifecycle as plain SQL CTEs. */
  def catalogDml(s: SparkSession, d: String): DataFrame = {
    val cs = s.newSession()
    cs.conf.set("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
    Tables.orders(cs, d).createOrReplaceTempView("orders")
    Tables.customer(cs, d).createOrReplaceTempView("customer")
    cs.sql(
      """CREATE TABLE graft_mem.ns.acct AS
        |SELECT CAST(o_custkey % 97 AS BIGINT) AS k,
        |  CAST(sum(o_orderkey) AS BIGINT) AS v
        |FROM orders GROUP BY o_custkey % 97""".stripMargin)
    cs.sql("UPDATE graft_mem.ns.acct SET v = v + 1000 WHERE k < 10")
    cs.sql(
      """MERGE INTO graft_mem.ns.acct t
        |USING (SELECT CAST(c_custkey % 120 AS BIGINT) AS k,
        |         CAST(count(*) AS BIGINT) AS cnt
        |       FROM customer GROUP BY c_custkey % 120) s
        |ON t.k = s.k
        |WHEN MATCHED AND s.cnt > 5 THEN UPDATE SET v = t.v + s.cnt
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.cnt)""".stripMargin)
    cs.sql("SELECT k, v FROM graft_mem.ns.acct ORDER BY k")
  }

  /** Row-level DML against the MERGE-ON-READ table
    * (`TBLPROPERTIES('mor'='true')` → [[graft.sources.MemDeltaOperation]],
    * the SupportsDelta path): the same UPDATE/MERGE shapes as
    * [[catalogDml]] plus a DELETE, but every statement commits per-row
    * DELTAS against an immutable base — a 1-row UPDATE writes one
    * delta record, not a group rewrite (the Iceberg MoR contract; at
    * 100 TB, bytes written ∝ change, not ∝ group). The final SELECT
    * reads through the merge-on-read scan. CatalogSpec pins the
    * routing: deltaCommits moves, rewrites stays flat, base rows stay
    * untouched. */
  def catalogDmlDelta(s: SparkSession, d: String): DataFrame = {
    val cs = s.newSession()
    cs.conf.set("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
    Tables.orders(cs, d).createOrReplaceTempView("orders")
    Tables.customer(cs, d).createOrReplaceTempView("customer")
    cs.sql(
      """CREATE TABLE graft_mem.ns.acct_mor TBLPROPERTIES('mor'='true') AS
        |SELECT CAST(o_custkey % 97 AS BIGINT) AS k,
        |  CAST(sum(o_orderkey) AS BIGINT) AS v
        |FROM orders GROUP BY o_custkey % 97""".stripMargin)
    cs.sql("UPDATE graft_mem.ns.acct_mor SET v = v + 1000 WHERE k < 10")
    cs.sql("DELETE FROM graft_mem.ns.acct_mor WHERE v % 7 = 3")
    cs.sql(
      """MERGE INTO graft_mem.ns.acct_mor t
        |USING (SELECT CAST(c_custkey % 120 AS BIGINT) AS k,
        |         CAST(count(*) AS BIGINT) AS cnt
        |       FROM customer GROUP BY c_custkey % 120) s
        |ON t.k = s.k
        |WHEN MATCHED AND s.cnt > 5 THEN UPDATE SET v = t.v + s.cnt
        |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.cnt)""".stripMargin)
    cs.sql("SELECT k, v FROM graft_mem.ns.acct_mor ORDER BY k")
  }

  /** REPLACE WHERE through the catalog plugin (`SupportsOverwrite`):
    * `df.writeTo(t).overwrite(condition)` commits delete-matching +
    * append as ONE atomic write — the partition-surgery verb that
    * replaces a slice of a table without touching the rest and
    * without a read-modify-write round trip through the engine. At
    * 100 TB this is how a backfill replaces one day of a fact table:
    * the store deletes the slice and lands the recomputation in the
    * same commit, so readers never observe the gap. Store-evaluable
    * conditions only (same contract as metadata DELETE); anything
    * else is refused loudly rather than silently mis-replaced.
    * Oracle replays base − slice + recomputation as CTEs. */
  def catalogReplaceWhere(s: SparkSession, d: String): DataFrame = {
    val cs = s.newSession()
    cs.conf.set("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
    Tables.orders(cs, d).createOrReplaceTempView("orders")
    Tables.customer(cs, d).createOrReplaceTempView("customer")
    cs.sql(
      """CREATE TABLE graft_mem.ns.rw AS
        |SELECT CAST(o_custkey % 97 AS BIGINT) AS k,
        |  CAST(sum(o_orderkey) AS BIGINT) AS v
        |FROM orders GROUP BY o_custkey % 97""".stripMargin)
    // the backfill: recompute the k < 10 slice from a different rule
    // and swap it in atomically
    cs.table("customer")
      .groupBy((col("c_custkey") % 10).cast("long").as("k"))
      .agg(count(lit(1)).cast("long").as("v"))
      .writeTo("graft_mem.ns.rw").overwrite(col("k") < 10)
    cs.sql("SELECT k, v FROM graft_mem.ns.rw ORDER BY k, v")
  }

  /** DYNAMIC partition overwrite through the catalog plugin
    * (`SupportsDynamicOverwrite` + identity `PARTITIONED BY`): with
    * `partitionOverwriteMode=dynamic`, INSERT OVERWRITE replaces
    * exactly the partitions the incoming batch TOUCHES — computed
    * from the data, never declared — and leaves every other
    * partition alone. The daily-reprocessing contract at 100 TB:
    * recompute two days, overwrite two days, the other thousand
    * survive untouched. Static mode on the same table is the
    * documented contrast: it truncates everything first
    * (CatalogSpec pins both). Oracle replays untouched ∪ recomputed. */
  def catalogDynamicOverwrite(s: SparkSession, d: String): DataFrame = {
    val cs = s.newSession()
    cs.conf.set("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
    cs.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    Tables.orders(cs, d).createOrReplaceTempView("orders")
    cs.sql(
      """CREATE TABLE graft_mem.ns.dyn (part BIGINT, k BIGINT, v BIGINT)
        |PARTITIONED BY (part)""".stripMargin)
    cs.sql(
      """INSERT INTO graft_mem.ns.dyn
        |SELECT CAST(o_custkey % 5 AS BIGINT) AS part,
        |  CAST(o_custkey % 97 AS BIGINT) AS k,
        |  CAST(sum(o_orderkey) AS BIGINT) AS v
        |FROM orders GROUP BY o_custkey % 5, o_custkey % 97""".stripMargin)
    // reprocess partitions 1 and 3 only — the overwrite set is
    // whatever the batch contains
    cs.sql(
      """INSERT OVERWRITE graft_mem.ns.dyn
        |SELECT CAST(o_custkey % 5 AS BIGINT) AS part,
        |  CAST(o_custkey % 11 AS BIGINT) AS k,
        |  CAST(count(*) AS BIGINT) AS v
        |FROM orders WHERE o_custkey % 5 IN (1, 3)
        |GROUP BY o_custkey % 5, o_custkey % 11""".stripMargin)
    cs.sql("SELECT part, k, v FROM graft_mem.ns.dyn ORDER BY part, k, v")
  }

  /** CHECK constraints through the catalog plugin
    * (`TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT`, Spark 4.1):
    * the STORE records constraints (CREATE … CONSTRAINT CHECK /
    * ALTER ADD|DROP CONSTRAINT route through createTable(TableInfo)
    * and alterTable); the ENGINE enforces them — every V2 write gets
    * a validation that fails the job on the first violating row, and
    * the failed write commits NOTHING (the final table must contain
    * only the valid batch — atomicity is the assertion, not just the
    * error). Declarative data quality at the protocol level: at
    * 100 TB a constrained table cannot ingest bad rows no matter
    * which of a thousand pipelines writes it, and the gate is
    * enforced once, in the write path, not re-implemented per
    * pipeline. Oracle replays the valid ingest only. */
  def catalogConstraints(s: SparkSession, d: String): DataFrame = {
    val cs = s.newSession()
    cs.conf.set("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
    Tables.orders(cs, d).createOrReplaceTempView("orders")
    cs.sql(
      """CREATE TABLE graft_mem.ns.chk (k BIGINT, v BIGINT,
        |  CONSTRAINT v_pos CHECK (v > 0),
        |  CONSTRAINT k_cap CHECK (k < 1000))""".stripMargin)
    cs.sql(
      """INSERT INTO graft_mem.ns.chk
        |SELECT CAST(o_custkey % 97 AS BIGINT) AS k,
        |  CAST(count(*) AS BIGINT) AS v
        |FROM orders GROUP BY o_custkey % 97""".stripMargin)
    // a batch with ANY violating row must commit NOTHING
    try {
      cs.sql(
        """INSERT INTO graft_mem.ns.chk
          |SELECT CAST(2000 + o_custkey % 9 AS BIGINT) AS k,
          |  CAST(count(*) AS BIGINT) AS v
          |FROM orders GROUP BY o_custkey % 9""".stripMargin)
      throw new IllegalStateException("constraint violation not raised")
    } catch {
      case e: IllegalStateException => throw e
      case _: Exception => () // CHECK_CONSTRAINT_VIOLATION — expected
    }
    cs.sql("SELECT k, v FROM graft_mem.ns.chk ORDER BY k, v")
  }

  /** Partition lifecycle DDL through the catalog plugin
    * (`SupportsPartitionManagement`): SHOW PARTITIONS / ALTER TABLE
    * ADD|DROP PARTITION / TRUNCATE TABLE … PARTITION all resolve to
    * store verbs. Existence is metastore-truth: a partition exists if
    * explicitly registered (possibly EMPTY — a landing slot declared
    * ahead of its data, what makes "is yesterday loaded yet?"
    * answerable without scanning) or implicitly populated. DROP
    * removes data + registration; TRUNCATE PARTITION empties but
    * keeps the slot. At 100 TB these verbs are the retention story:
    * expiring a day is one metadata call that unreferences the
    * partition, never a DELETE that scans it. Oracle replays seed
    * minus the dropped/truncated partitions. */
  def catalogPartitions(s: SparkSession, d: String): DataFrame = {
    val cs = s.newSession()
    cs.conf.set("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
    Tables.orders(cs, d).createOrReplaceTempView("orders")
    cs.sql(
      """CREATE TABLE graft_mem.ns.plc (part BIGINT, k BIGINT, v BIGINT)
        |PARTITIONED BY (part)""".stripMargin)
    cs.sql(
      """INSERT INTO graft_mem.ns.plc
        |SELECT CAST(o_custkey % 7 AS BIGINT) AS part,
        |  CAST(o_custkey % 97 AS BIGINT) AS k,
        |  CAST(sum(o_orderkey) AS BIGINT) AS v
        |FROM orders GROUP BY o_custkey % 7, o_custkey % 97""".stripMargin)
    cs.sql("ALTER TABLE graft_mem.ns.plc ADD PARTITION (part=99)")
    cs.sql("ALTER TABLE graft_mem.ns.plc DROP PARTITION (part=2)")
    cs.sql("TRUNCATE TABLE graft_mem.ns.plc PARTITION (part=5)")
    cs.sql("SELECT part, k, v FROM graft_mem.ns.plc ORDER BY part, k, v")
  }

  /** MULTI-COLUMN identity partitioning — the (date, region) shape
    * real tables carry: partition identity is the full value TUPLE,
    * so ADD/DROP/TRUNCATE PARTITION address one (day, region) cell,
    * and `SHOW PARTITIONS … PARTITION (day=3)` is a PARTIAL spec that
    * lists exactly day-3's region slots. The gated output folds two
    * listing counts onto the data (the catalogCompact pattern) so the
    * metadata surface is hash-checked alongside the rows: `n_parts`
    * counts the full listing — surviving data cells PLUS the
    * registered-empty ADD slot and the truncated-but-registered slot
    * — and `n_day3` counts the partial listing. Oracle replays data
    * minus the dropped/truncated cells and both counts as CTEs. */
  def catalogPartitions2(s: SparkSession, d: String): DataFrame = {
    val cs = s.newSession()
    cs.conf.set("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
    Tables.orders(cs, d).createOrReplaceTempView("orders")
    cs.sql(
      """CREATE TABLE graft_mem.ns.plc2
        |  (day BIGINT, region BIGINT, k BIGINT, v BIGINT)
        |PARTITIONED BY (day, region)""".stripMargin)
    cs.sql(
      """INSERT INTO graft_mem.ns.plc2
        |SELECT CAST(o_custkey % 4 AS BIGINT) AS day,
        |  CAST(o_custkey % 3 AS BIGINT) AS region,
        |  CAST(o_custkey % 97 AS BIGINT) AS k,
        |  CAST(sum(o_orderkey) AS BIGINT) AS v
        |FROM orders GROUP BY 1, 2, 3""".stripMargin)
    // a landing slot declared ahead of its data, one dropped cell,
    // one truncated cell (emptied, slot kept) — all tuple-addressed
    cs.sql("ALTER TABLE graft_mem.ns.plc2 ADD PARTITION (day=9, region=9)")
    cs.sql("ALTER TABLE graft_mem.ns.plc2 DROP PARTITION (day=2, region=1)")
    cs.sql("TRUNCATE TABLE graft_mem.ns.plc2 PARTITION (day=1, region=2)")
    val summary = cs.sql("SHOW PARTITIONS graft_mem.ns.plc2")
      .agg(count(lit(1)).cast("long").as("n_parts"))
      .crossJoin(
        cs.sql("SHOW PARTITIONS graft_mem.ns.plc2 PARTITION (day=3)")
          .agg(count(lit(1)).cast("long").as("n_day3")))
    cs.sql("SELECT day, region, k, v FROM graft_mem.ns.plc2")
      .crossJoin(broadcast(summary))
      .orderBy("day", "region", "k", "v")
  }

  /** PARTITION PRUNING ON READS, tuple edition — the query the
    * (day, region) layout exists to serve: `WHERE day = 3 AND
    * region = 1` ships ONE partition cell's rows through the
    * connector, never the table. The scan accepts partition-column
    * filters and evaluates them exactly ([[MemTable]]'s
    * `SupportsPushDownFilters`); CatalogSpec pins the pruning
    * counters (1 tuple kept of the 12 present) and that a
    * non-partition predicate is NOT accepted. At 100 TB this is a
    * point read vs a table scan on every partition-keyed lookup.
    * Oracle replays the filtered aggregate. */
  def catalogPrunedRead(s: SparkSession, d: String): DataFrame = {
    val cs = s.newSession()
    cs.conf.set("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
    Tables.orders(cs, d).createOrReplaceTempView("orders")
    cs.sql(
      """CREATE TABLE graft_mem.ns.plcr
        |  (day BIGINT, region BIGINT, k BIGINT, v BIGINT)
        |PARTITIONED BY (day, region)""".stripMargin)
    cs.sql(
      """INSERT INTO graft_mem.ns.plcr
        |SELECT CAST(o_custkey % 4 AS BIGINT) AS day,
        |  CAST(o_custkey % 3 AS BIGINT) AS region,
        |  CAST(o_custkey % 97 AS BIGINT) AS k,
        |  CAST(sum(o_orderkey) AS BIGINT) AS v
        |FROM orders GROUP BY 1, 2, 3""".stripMargin)
    cs.sql(
      """SELECT day, region, k, v FROM graft_mem.ns.plcr
        |WHERE day = 3 AND region = 1
        |ORDER BY k, v""".stripMargin)
  }

  /** DYNAMIC overwrite at partition-TUPLE granularity — the claim a
    * single-column layout cannot make: the reprocessing batch touches
    * (day=1, region=0) and (day=1, region=2) ONLY, and
    * (day=1, region=1) must SURVIVE — a layout partitioned by day
    * alone would have clobbered it. Same engine path as the
    * single-column twin (`SupportsDynamicOverwrite`; the touched set
    * is computed from the incoming rows' full tuples, never
    * declared); oracle replays untouched ∪ recomputed. */
  def catalogDynamicOverwrite2(s: SparkSession, d: String): DataFrame = {
    val cs = s.newSession()
    cs.conf.set("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
    cs.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    Tables.orders(cs, d).createOrReplaceTempView("orders")
    cs.sql(
      """CREATE TABLE graft_mem.ns.dyn2
        |  (day BIGINT, region BIGINT, k BIGINT, v BIGINT)
        |PARTITIONED BY (day, region)""".stripMargin)
    cs.sql(
      """INSERT INTO graft_mem.ns.dyn2
        |SELECT CAST(o_custkey % 4 AS BIGINT) AS day,
        |  CAST(o_custkey % 3 AS BIGINT) AS region,
        |  CAST(o_custkey % 97 AS BIGINT) AS k,
        |  CAST(sum(o_orderkey) AS BIGINT) AS v
        |FROM orders GROUP BY 1, 2, 3""".stripMargin)
    cs.sql(
      """INSERT OVERWRITE graft_mem.ns.dyn2
        |SELECT CAST(o_custkey % 4 AS BIGINT) AS day,
        |  CAST(o_custkey % 3 AS BIGINT) AS region,
        |  CAST(o_custkey % 11 AS BIGINT) AS k,
        |  CAST(count(*) AS BIGINT) AS v
        |FROM orders
        |WHERE o_custkey % 4 = 1 AND o_custkey % 3 IN (0, 2)
        |GROUP BY 1, 2, 3""".stripMargin)
    cs.sql(
      """SELECT day, region, k, v FROM graft_mem.ns.dyn2
        |ORDER BY day, region, k, v""".stripMargin)
  }

  /** Column DEFAULTs through the catalog plugin — the schema-evolution
    * rung's CATALOG-side twin (`schema_evolution` covers the file
    * source): the catalog declares
    * `TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE`, so
    * `ALTER TABLE ... ADD COLUMN tier BIGINT DEFAULT 7` routes to
    * [[MemCatalog]]`.alterTable`, which appends the field and records
    * the EXISTS-default WITHOUT touching a single committed row
    * (CatalogSpec pins the rewrite counter flat). Legacy rows surface
    * tier = 7 at SCAN time (positional backfill in [[MemScan]]); a
    * post-evolution INSERT that omits the column gets the
    * CURRENT-default filled by the ENGINE from the field metadata the
    * ALTER wrote; an INSERT that supplies the column keeps its value.
    * At 100 TB this is the contract that lets a schema grow without
    * rewriting the old petabytes — Iceberg's add-column semantics,
    * re-expressed through the Spark connector API. Oracle replays the
    * three ingest generations as CTEs. */
  def catalogDefaults(s: SparkSession, d: String): DataFrame = {
    val cs = s.newSession()
    cs.conf.set("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
    Tables.orders(cs, d).createOrReplaceTempView("orders")
    cs.sql(
      """CREATE TABLE graft_mem.ns.evo AS
        |SELECT CAST(o_custkey % 97 AS BIGINT) AS k,
        |  CAST(sum(o_orderkey) AS BIGINT) AS v
        |FROM orders GROUP BY o_custkey % 97""".stripMargin)
    cs.sql("ALTER TABLE graft_mem.ns.evo ADD COLUMN tier BIGINT DEFAULT 7")
    // post-evolution ingest, both shapes: explicit tier values...
    cs.sql(
      """INSERT INTO graft_mem.ns.evo
        |SELECT CAST(1000 + o_custkey % 7 AS BIGINT) AS k,
        |  CAST(count(*) AS BIGINT) AS v,
        |  CAST(max(o_custkey) % 5 AS BIGINT) AS tier
        |FROM orders GROUP BY o_custkey % 7""".stripMargin)
    // ...and an omitted column the ENGINE fills with the declared
    // CURRENT-default
    cs.sql("INSERT INTO graft_mem.ns.evo (k, v) VALUES (2000, 1)")
    cs.sql("SELECT k, v, tier FROM graft_mem.ns.evo ORDER BY k, v")
  }

  /** FULL schema evolution through the catalog — RENAME COLUMN and
    * DROP COLUMN joining ADD, all metadata-only (the [[MemRow]]
    * field-id model, Iceberg's evolution contract): RENAME keeps the
    * column's field id so its stored data survives untouched; DROP
    * retires the id without rewriting a row; and a later ADD under
    * the SAME NAME mints a NEW id — the old values can never
    * resurrect (the classic evolution corruption bug, pinned by both
    * the oracle and CatalogSpec). At 100 TB: renames and drops cost
    * one catalog write, never a table rewrite, and name-reuse is safe
    * because data is addressed by id, not by name. */
  def catalogEvolution(s: SparkSession, d: String): DataFrame = {
    val cs = s.newSession()
    cs.conf.set("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
    Tables.orders(cs, d).createOrReplaceTempView("orders")
    cs.sql(
      """CREATE TABLE graft_mem.ns.evr AS
        |SELECT CAST(o_custkey % 53 AS BIGINT) AS k,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS total
        |FROM orders GROUP BY o_custkey % 53""".stripMargin)
    cs.sql("ALTER TABLE graft_mem.ns.evr RENAME COLUMN total TO gross")
    cs.sql("ALTER TABLE graft_mem.ns.evr DROP COLUMN n")
    // same NAME as the dropped column — new field id, old counts must
    // NOT come back
    cs.sql("ALTER TABLE graft_mem.ns.evr ADD COLUMN n BIGINT DEFAULT -1")
    cs.sql("INSERT INTO graft_mem.ns.evr VALUES (500, 123, 7)")
    cs.sql("SELECT k, gross, n FROM graft_mem.ns.evr ORDER BY k")
  }

  /** MoR COMPACTION through the V2 PROCEDURE catalog — the
    * maintenance half of the merge-on-read bargain, surfaced the way
    * Iceberg surfaces it: `CALL graft_mem.sys.compact('ns.cmp')`
    * resolves through [[MemCatalog]]'s `ProcedureCatalog`, binds, and
    * folds the table's delta log into its base in one atomic swap —
    * after which scans stop paying the log-over-base merge and the
    * log is empty (CatalogSpec pins the counters and that the scan is
    * IDENTICAL before/after). The CALL's result set — one row of
    * `(folded_deltas, base_rows)` — rides back through a `LocalScan`
    * and is cross-joined (broadcast, 1 row) onto the table scan, so
    * the oracle checks the maintenance accounting, not just the data:
    * exactly 2 deltas folded (one UPDATE, one DELETE), 31 base rows
    * after. At 100 TB: DML commits bytes ∝ change, compaction is ONE
    * amortized rewrite scheduled by the operator via a catalog verb,
    * and the read-optimized table comes back without a single engine
    * change. */
  def catalogCompact(s: SparkSession, d: String): DataFrame = {
    val cs = s.newSession()
    cs.conf.set("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
    Tables.orders(cs, d).createOrReplaceTempView("orders")
    cs.sql(
      """CREATE TABLE graft_mem.ns.cmp TBLPROPERTIES('mor'='true') AS
        |SELECT CAST(o_custkey % 31 AS BIGINT) AS k,
        |  CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(o_orderkey) AS BIGINT) AS total
        |FROM orders GROUP BY o_custkey % 31""".stripMargin)
    cs.sql("UPDATE graft_mem.ns.cmp SET total = total + 7 WHERE k = 3")
    cs.sql("DELETE FROM graft_mem.ns.cmp WHERE k = 5")
    cs.sql("INSERT INTO graft_mem.ns.cmp VALUES (1000, 1, 42)")
    val summary = cs.sql("CALL graft_mem.sys.compact('ns.cmp')")
    cs.sql("SELECT k, n, total FROM graft_mem.ns.cmp")
      .crossJoin(broadcast(summary))
      .orderBy("k")
  }

  /** TIME TRAVEL through the catalog plugin (`VERSION AS OF` →
    * `TableCatalog.loadTable(ident, version)`): the memory catalog's
    * merge-on-read commit log already records history — every
    * content-changing commit now lands an immutable VERSION MANIFEST,
    * and a versioned read serves that manifest verbatim. This is the
    * connector twin of the file-source `time_travel` (immutable
    * staged snapshot directories): same contract, catalog protocol
    * instead of paths. The query builds three versions (CTAS ingest →
    * delta UPDATE → delta DELETE), then COMPACTS — and reads all
    * three versions plus the live table AFTER the compaction, so the
    * gate proves maintenance rewrote the present without perturbing
    * the past (v3 must equal the live read; CatalogSpec pins the
    * manifest-immutability mechanics). At 100 TB this is the Iceberg
    * snapshot contract: rollback/audit reads resolve old manifest
    * lists while rewrite_data_files churns the live files underneath.
    * Oracle replays the version chain as CTEs. */
  def catalogTimeTravel(s: SparkSession, d: String): DataFrame = {
    val cs = s.newSession()
    cs.conf.set("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
    Tables.orders(cs, d).createOrReplaceTempView("orders")
    cs.sql(
      """CREATE TABLE graft_mem.ns.tt TBLPROPERTIES('mor'='true') AS
        |SELECT CAST(o_custkey % 97 AS BIGINT) AS k,
        |  CAST(sum(o_orderkey) AS BIGINT) AS v
        |FROM orders GROUP BY o_custkey % 97""".stripMargin)   // v1
    cs.sql("UPDATE graft_mem.ns.tt SET v = v + 1000 WHERE k < 10") // v2
    cs.sql("DELETE FROM graft_mem.ns.tt WHERE v % 7 = 3")          // v3
    // fold the delta log into the base: versioned reads below must
    // not notice (manifests hold their own row references)
    cs.sql("CALL graft_mem.sys.compact('ns.tt')").collect()
    def at(v: Int): DataFrame =
      cs.sql(s"""SELECT '$v' AS version, count(*) AS n_rows,
                |  CAST(sum(v) AS BIGINT) AS sum_v,
                |  CAST(min(v) AS BIGINT) AS min_v
                |FROM graft_mem.ns.tt VERSION AS OF $v""".stripMargin)
    // TIMESTAMP AS OF "now" resolves the latest manifest ≤ the
    // instant — i.e. v3, deterministically, whatever the wall clock
    // says (the snapshot-log rule lands the nondeterministic input
    // on a deterministic version). timestamp_micros is epoch-based,
    // so the row is session-timezone-independent.
    val nowMicros = java.time.Instant.now().plusSeconds(1).toEpochMilli * 1000L
    at(1).unionByName(at(2)).unionByName(at(3))
      .unionByName(cs.sql(
        s"""SELECT 'ts' AS version, count(*) AS n_rows,
           |  CAST(sum(v) AS BIGINT) AS sum_v,
           |  CAST(min(v) AS BIGINT) AS min_v
           |FROM graft_mem.ns.tt TIMESTAMP AS OF
           |  timestamp_micros(${nowMicros}L)""".stripMargin))
      .unionByName(cs.sql(
        """SELECT 'live' AS version, count(*) AS n_rows,
          |  CAST(sum(v) AS BIGINT) AS sum_v,
          |  CAST(min(v) AS BIGINT) AS min_v
          |FROM graft_mem.ns.tt""".stripMargin))
      .transform(Present.sorted(_, col("version")))
  }

  /** CDC between committed versions through the catalog plugin —
    * the storage-maturity rung right after time travel: time travel
    * answers "what did the table SAY at v?", `changes(from, to)`
    * answers "what happened BETWEEN v-from and v-to" as row-level
    * insert/delete records stamped with their commit ordinal (an
    * update = delete(old) + insert(new) at its commit; MoR deltas
    * fold into the manifests before diffing). The history here is
    * CTAS → MoR UPDATE → MoR DELETE → INSERT, and the CALL reads the
    * full (1, 4] range; a COMPACTION before the read must contribute
    * nothing (manifests share row references; maintenance is
    * content-neutral — the same invariant the time-travel gate pins).
    * At 100 TB this is the incremental-consumer contract: downstream
    * pipelines sync by reading the diff of two snapshots, never by
    * re-scanning the table. Oracle replays the version chain as CTEs
    * and diffs consecutive versions with EXCEPT ALL — multiset
    * semantics, exactly what the reference-diff emits. */
  def catalogChanges(s: SparkSession, d: String): DataFrame = {
    val cs = s.newSession()
    cs.conf.set("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
    Tables.orders(cs, d).createOrReplaceTempView("orders")
    cs.sql(
      """CREATE TABLE graft_mem.ns.cdc TBLPROPERTIES('mor'='true') AS
        |SELECT CAST(o_custkey % 97 AS BIGINT) AS k,
        |  CAST(sum(o_orderkey) AS BIGINT) AS v
        |FROM orders GROUP BY o_custkey % 97""".stripMargin)       // v1
    cs.sql("UPDATE graft_mem.ns.cdc SET v = v + 1000 WHERE k < 10") // v2
    cs.sql("DELETE FROM graft_mem.ns.cdc WHERE v % 7 = 3")          // v3
    cs.sql(
      """INSERT INTO graft_mem.ns.cdc
        |SELECT CAST(5000 + o_custkey % 9 AS BIGINT) AS k,
        |  CAST(count(*) AS BIGINT) AS v
        |FROM orders GROUP BY o_custkey % 9""".stripMargin)         // v4
    // fold the delta log mid-history: the diff below must not notice
    cs.sql("CALL graft_mem.sys.compact('ns.cdc')").collect()
    cs.sql("CALL graft_mem.sys.changes('ns.cdc', 1L, 4L)")
      .orderBy("_commit_version", "_change_type", "k", "v")
  }

  /** True iff any throwable in the cause chain mentions `needle` —
    * the expired-read detector (the engine may surface the store's
    * IllegalStateException raw or wrapped in an analysis error). */
  private def causeChainHas(e: Throwable, needle: String): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
      .exists(t => Option(t.getMessage).exists(_.contains(needle)))

  /** VERSION RETENTION / EXPIRE-SNAPSHOTS (`CALL sys.expire`) — the
    * compliance closer of the version-chain story: without it a
    * takedown DELETE is cosmetic, because the purged rows remain one
    * `VERSION AS OF n-1` away forever (every production table format
    * ships this verb: Iceberg `expire_snapshots`, Delta `VACUUM` +
    * log retention). The chain here is CTAS → UPDATE → takedown
    * DELETE → INSERT → UPDATE (five versions), compacted
    * (content-neutral), then expired to the newest TWO. The result
    * pins all four contract faces at once:
    *   - expired version reads FAIL LOUDLY (`v1..v3` rows carry
    *     status `expired` — emitted only when the read actually threw
    *     the retention error; a silently-readable regression would
    *     surface real aggregates and hash-fail);
    *   - retained reads are byte-identical to the chain replay
    *     (`v4`/`v5`/`live` rows, oracle CTEs);
    *   - CDC stays consistent: `(3,5]` — baseline at the expiry
    *     boundary — still serves, `(2,5]` (needs an expired commit's
    *     delta) is REFUSED, never a partial diff;
    *   - no readable version or CDC record contains takedown content
    *     (`n_takedown` = rows matching the purge predicate = 0
    *     everywhere readable; the v5 update adds multiples of 7, so
    *     the residue the takedown removed cannot re-enter by
    *     arithmetic accident).
    * The `expire` summary row reuses the numeric columns as
    * (expired_versions, retained_versions, first_live_version) — the
    * union schema is fixed, the reuse is documented here and in the
    * oracle. CatalogSpec drives the same lifecycle at the API grain
    * (timestamp reads, idempotence, keep_n floor). */
  def catalogExpire(s: SparkSession, d: String): DataFrame = {
    val cs = s.newSession()
    cs.conf.set("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
    Tables.orders(cs, d).createOrReplaceTempView("orders")
    cs.sql(
      """CREATE TABLE graft_mem.ns.exp TBLPROPERTIES('mor'='true') AS
        |SELECT CAST(o_custkey % 97 AS BIGINT) AS k,
        |  CAST(sum(o_orderkey) AS BIGINT) AS v
        |FROM orders GROUP BY o_custkey % 97""".stripMargin)         // v1
    cs.sql("UPDATE graft_mem.ns.exp SET v = v + 1000 WHERE k < 10")  // v2
    cs.sql("DELETE FROM graft_mem.ns.exp WHERE v % 7 = 3")     // v3 takedown
    cs.sql("INSERT INTO graft_mem.ns.exp VALUES " +
      "(CAST(9001 AS BIGINT), CAST(77 AS BIGINT))")                  // v4
    cs.sql("UPDATE graft_mem.ns.exp SET v = v + 7000 WHERE k >= 50") // v5
    // maintenance before retention: neither changes content
    cs.sql("CALL graft_mem.sys.compact('ns.exp')").collect()
    val summary = cs.sql("CALL graft_mem.sys.expire('ns.exp', 2L)")
      .selectExpr("'expire' AS step", "'summary' AS status",
        "expired_versions AS n_rows", "retained_versions AS sum_v",
        "first_live_version AS n_takedown")
    def agg(step: String, from: String): DataFrame =
      cs.sql(
        s"""SELECT '$step' AS step, 'readable' AS status,
           |  count(*) AS n_rows, CAST(sum(v) AS BIGINT) AS sum_v,
           |  CAST(sum(CASE WHEN v % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_takedown
           |FROM $from""".stripMargin)
    def refused(step: String): DataFrame =
      cs.sql(
        s"""SELECT '$step' AS step,
           |  '${if (step.startsWith("cdc")) "refused" else "expired"}'
           |    AS status,
           |  CAST(-1 AS BIGINT) AS n_rows, CAST(-1 AS BIGINT) AS sum_v,
           |  CAST(-1 AS BIGINT) AS n_takedown""".stripMargin)
    def versionRead(v: Int): DataFrame =
      try agg(s"v$v", s"graft_mem.ns.exp VERSION AS OF $v")
      catch {
        case e: Throwable if causeChainHas(e, "has been expired") =>
          refused(s"v$v")
      }
    def cdcRead(from: Int, to: Int): DataFrame =
      try {
        cs.sql(s"CALL graft_mem.sys.changes('ns.exp', ${from}L, ${to}L)")
          .agg(count(lit(1)).as("n_rows"),
            sum(when(col("v") % 7 === 3, 1L).otherwise(0L))
              .cast("long").as("n_takedown"))
          .select(lit(s"cdc_${from}_$to").as("step"),
            lit("readable").as("status"), col("n_rows"),
            lit(-1L).as("sum_v"), col("n_takedown"))
      } catch {
        case e: Throwable if causeChainHas(e, "covers expired commits") =>
          refused(s"cdc_${from}_$to")
      }
    summary
      .unionByName(versionRead(1)).unionByName(versionRead(2))
      .unionByName(versionRead(3)).unionByName(versionRead(4))
      .unionByName(versionRead(5))
      .unionByName(agg("live", "graft_mem.ns.exp"))
      .unionByName(cdcRead(3, 5))
      .unionByName(cdcRead(2, 5))
      .transform(Present.sorted(_, col("step")))
  }

  /** NAMED VERSION TAGS with retention protection (`CALL sys.tag` /
    * `sys.untag` + the `expire` clamp) — the Iceberg refs contract
    * completing the retention story: a compliance review PINS a
    * version by name before the retention sweep runs, reads it as
    * `VERSION AS OF 'audit'`, and `expire` must not take it (the cut
    * clamps below the oldest tag); dropping the tag releases the
    * version to the next sweep. The chain is the expire scenario's
    * (CTAS → UPDATE → takedown DELETE → INSERT); the result pins:
    *   - tag resolution ≡ ordinal resolution (the 'audit' row and
    *     the v2-by-number row carry identical aggregates);
    *   - protection: expire keep_n=1 with 'audit'@v2 expires ONLY v1
    *     (summary row 1/3), not the wanted three;
    *   - tagging an expired version is refused;
    *   - untag releases: the second keep_n=1 sweep takes v2 and v3
    *     (summary 2/1), after which both the ordinal and the tag
    *     name fail loudly.
    * Statuses follow catalog_expire's convention (a regression that
    * silently serves an expired/untagged read surfaces real
    * aggregates under the wrong status and hash-fails). */
  def catalogTag(s: SparkSession, d: String): DataFrame = {
    val cs = s.newSession()
    cs.conf.set("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
    Tables.orders(cs, d).createOrReplaceTempView("orders")
    cs.sql(
      """CREATE TABLE graft_mem.ns.tg TBLPROPERTIES('mor'='true') AS
        |SELECT CAST(o_custkey % 97 AS BIGINT) AS k,
        |  CAST(sum(o_orderkey) AS BIGINT) AS v
        |FROM orders GROUP BY o_custkey % 97""".stripMargin)         // v1
    cs.sql("UPDATE graft_mem.ns.tg SET v = v + 1000 WHERE k < 10")   // v2
    cs.sql("DELETE FROM graft_mem.ns.tg WHERE v % 7 = 3")      // v3 takedown
    cs.sql("INSERT INTO graft_mem.ns.tg VALUES " +
      "(CAST(9001 AS BIGINT), CAST(77 AS BIGINT))")                  // v4
    def agg(step: String, from: String): DataFrame =
      cs.sql(
        s"""SELECT '$step' AS step, 'readable' AS status,
           |  count(*) AS n_rows, CAST(sum(v) AS BIGINT) AS sum_v
           |FROM $from""".stripMargin)
    def lits(step: String, status: String, a: Long, b: Long): DataFrame =
      cs.sql(s"""SELECT '$step' AS step, '$status' AS status,
                |  CAST($a AS BIGINT) AS n_rows,
                |  CAST($b AS BIGINT) AS sum_v""".stripMargin)
    def summary(step: String, call: String): DataFrame = {
      val r = cs.sql(call).head()
      lits(step, "summary", r.getLong(0), r.getLong(1))
    }
    val tagged = cs.sql("CALL graft_mem.sys.tag('ns.tg', 'audit', 2L)")
      .head().getLong(0)
    val tagRow = lits("tag", "summary", tagged, -1L)
    // keep_n = 1 WANTS v1..v3 gone; the tag at v2 clamps the sweep
    val expire1 = summary("expire1",
      "CALL graft_mem.sys.expire('ns.tg', 1L)")
    def readOr(step: String, from: String, failStatus: String,
               needles: Seq[String]): DataFrame =
      try agg(step, from)
      catch {
        case e: Throwable if needles.exists(causeChainHas(e, _)) =>
          lits(step, failStatus, -1L, -1L)
      }
    val v1Row = readOr("v1", "graft_mem.ns.tg VERSION AS OF 1",
      "expired", Seq("has been expired"))
    val v2Num = readOr("v2_num", "graft_mem.ns.tg VERSION AS OF 2",
      "expired", Seq("has been expired"))
    val v2Tag = readOr("v2_tag", "graft_mem.ns.tg VERSION AS OF 'audit'",
      "expired", Seq("has been expired"))
    val staleTag =
      try { cs.sql("CALL graft_mem.sys.tag('ns.tg', 'stale', 1L)").collect()
            lits("tag_stale", "tagged", 1L, -1L) }
      catch {
        case e: Throwable if causeChainHas(e, "has been expired") =>
          lits("tag_stale", "refused", -1L, -1L)
      }
    val untag = {
      val v = cs.sql("CALL graft_mem.sys.untag('ns.tg', 'audit')")
        .head().getLong(0)
      lits("untag", "summary", v, -1L)
    }
    val expire2 = summary("expire2",
      "CALL graft_mem.sys.expire('ns.tg', 1L)")
    val v2After = readOr("v2_after", "graft_mem.ns.tg VERSION AS OF 2",
      "expired", Seq("has been expired"))
    // a dropped ref surfaces as the engine's standard unresolvable-
    // relation error (the resolver swallows the store's "is neither"
    // exception on the string-version path — observed on Spark 4.1;
    // numeric-version errors propagate raw). Semantically defensible:
    // a named ref IS a table-version address, and a missing one is an
    // unresolvable relation. Attribution holds because the SAME table
    // resolves one line below (live read) and one step above (v2 by
    // ordinal) — only the ref is gone; CatalogSpec pins the store's
    // own message at the API grain where no engine sits in between.
    val auditAfter = readOr("audit_after",
      "graft_mem.ns.tg VERSION AS OF 'audit'",
      "no_such_tag", Seq("is neither on", "TABLE_OR_VIEW_NOT_FOUND"))
    tagRow.unionByName(expire1).unionByName(v1Row)
      .unionByName(v2Num).unionByName(v2Tag).unionByName(staleTag)
      .unionByName(untag).unionByName(expire2)
      .unionByName(v2After).unionByName(auditAfter)
      .unionByName(agg("live", "graft_mem.ns.tg"))
      .transform(Present.sorted(_, col("step")))
  }

  /** WRITE-AUDIT-PUBLISH over a writable branch ref — the production
    * lakehouse ingest workflow (Iceberg WAP / Delta staging) on top
    * of the catalog's version chain: stage a batch on a branch (main
    * never sees it), audit the branch, and publish fast-forwards main
    * only when the audit passes. The scenario pins every leg:
    *   - a branch write is readable at BOTH branch addresses
    *     (`ns.wap.branch_ingest` and `VERSION AS OF 'ingest'`) and
    *     invisible at main (`main_staged` ≡ seed);
    *   - branch writes are UNCHECKED (the violating row lands), and
    *     `CALL sys.publish` audits the table's CHECK constraints over
    *     the branch view: the bad batch refuses (`publish_bad`,
    *     status refused) and main is untouched (`main_after_refused`);
    *   - the repair path (drop_branch → re-branch → clean batch →
    *     publish) commits ONE version (`publish_ok`: v2, row count),
    *     after which live ≡ v2 ≡ seed + good batch and the published
    *     branch ref is gone (`ref_after`, no_such_ref).
    * Statuses follow catalog_expire's convention: a regression that
    * publishes unaudited data or leaks staged rows into main surfaces
    * real aggregates under the wrong step/status and hash-fails. */
  def catalogBranchWap(s: SparkSession, d: String): DataFrame = {
    val cs = s.newSession()
    cs.conf.set("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
    Tables.orders(cs, d).createOrReplaceTempView("orders")
    cs.sql(
      """CREATE TABLE graft_mem.ns.wap (k BIGINT, v BIGINT,
        |  CONSTRAINT v_pos CHECK (v > 0))""".stripMargin)
    cs.sql(
      """INSERT INTO graft_mem.ns.wap
        |SELECT CAST(o_custkey % 97 AS BIGINT) AS k,
        |  CAST(count(*) AS BIGINT) AS v
        |FROM orders GROUP BY o_custkey % 97""".stripMargin)          // v1
    def lits(step: String, status: String, a: Long, b: Long): DataFrame =
      cs.sql(s"""SELECT '$step' AS step, '$status' AS status,
                |  CAST($a AS BIGINT) AS n_rows,
                |  CAST($b AS BIGINT) AS sum_v""".stripMargin)
    // EAGER per step: the scenario mutates the same live table and
    // branch between steps, so a lazy aggregate would read the
    // END-state when the union finally executes (branch addresses
    // resolve their staged rows at physical planning, live reads at
    // execution) — each step must land its numbers AT its point in
    // the protocol
    def agg(step: String, from: String): DataFrame = {
      val r = cs.sql(
        s"""SELECT count(*) AS n, CAST(sum(v) AS BIGINT) AS s
           |FROM $from""".stripMargin).head()
      lits(step, "readable", r.getLong(0), r.getLong(1))
    }
    val branched = cs.sql("CALL graft_mem.sys.branch('ns.wap', 'ingest')")
      .head().getLong(0)
    val branchRow = lits("branch", "summary", branched, -1L)
    val goodBatch =
      """SELECT CAST(2000 + o_custkey % 9 AS BIGINT) AS k,
        |  CAST(count(*) AS BIGINT) AS v
        |FROM orders GROUP BY o_custkey % 9""".stripMargin
    cs.sql(s"INSERT INTO graft_mem.ns.wap.branch_ingest $goodBatch")
    // the violating row LANDS on the branch — WAP stages unchecked
    cs.sql("INSERT INTO graft_mem.ns.wap.branch_ingest VALUES " +
      "(CAST(9999 AS BIGINT), CAST(-5 AS BIGINT))")
    val mainStaged = agg("main_staged", "graft_mem.ns.wap")
    val branchStaged = agg("branch_staged", "graft_mem.ns.wap.branch_ingest")
    val branchRef = agg("branch_ref",
      "graft_mem.ns.wap VERSION AS OF 'ingest'")
    // the DQ check a WAP pipeline runs against the staged branch
    // BEFORE asking to publish — here it finds the violating row
    // (the same predicate sys.publish will enforce)
    val dqRow = {
      val r = cs.sql(
        """SELECT count(*) AS bad FROM graft_mem.ns.wap.branch_ingest
          |WHERE NOT (v > 0)""".stripMargin).head()
      lits("audit_dq", "readable", r.getLong(0), -1L)
    }
    val publishBad =
      try { cs.sql("CALL graft_mem.sys.publish('ns.wap', 'ingest')")
              .collect()
            lits("publish_bad", "published", -1L, -1L) }
      catch {
        case e: Throwable if causeChainHas(e, "audit failed") =>
          lits("publish_bad", "refused", -1L, -1L)
      }
    val mainAfterRefused = agg("main_after_refused", "graft_mem.ns.wap")
    // repair: discard the poisoned branch, stage only the clean batch
    val dropped = cs.sql("CALL graft_mem.sys.drop_branch('ns.wap', 'ingest')")
      .head().getLong(0)
    val dropRow = lits("drop", "summary", dropped, -1L)
    cs.sql("CALL graft_mem.sys.branch('ns.wap', 'ingest2')").collect()
    cs.sql(s"INSERT INTO graft_mem.ns.wap.branch_ingest2 $goodBatch")
    val pub = cs.sql("CALL graft_mem.sys.publish('ns.wap', 'ingest2')")
      .head()
    val publishOk = lits("publish_ok", "summary", pub.getLong(0),
      pub.getLong(1))
    val live = agg("live", "graft_mem.ns.wap")
    val v2 = agg("v2", "graft_mem.ns.wap VERSION AS OF 2")
    // a published branch ref is GONE (same resolver behavior as a
    // dropped tag — see catalogTag's audit_after note)
    val refAfter =
      try agg("ref_after", "graft_mem.ns.wap VERSION AS OF 'ingest2'")
      catch {
        case e: Throwable if Seq("is neither on", "TABLE_OR_VIEW_NOT_FOUND")
            .exists(causeChainHas(e, _)) =>
          lits("ref_after", "no_such_ref", -1L, -1L)
      }
    branchRow.unionByName(mainStaged).unionByName(branchStaged)
      .unionByName(branchRef).unionByName(dqRow).unionByName(publishBad)
      .unionByName(mainAfterRefused).unionByName(dropRow)
      .unionByName(publishOk).unionByName(live).unionByName(v2)
      .unionByName(refAfter)
      .transform(Present.sorted(_, col("step")))
  }

  private val streamExpireIds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** STREAM RESTART AFTER RETENTION — the streaming twin of
    * catalog_expire's refused CDC range: a `readStream.table` over
    * the catalog table drains the commit log through a CHECKPOINT,
    * retention expires commits PAST the checkpointed offset, and the
    * resume must FAIL LOUDLY (the Delta/Iceberg stream-after-VACUUM
    * contract) — silently skipping the expired gap would serve a
    * stream that is missing committed data forever. Protocol:
    * v1+v2 committed → stream drains both through ckpt (`drain1`) →
    * v3+v4 committed with the stream down → expire keep_n=1 takes
    * v1..v3 (`expire`) → the resume's (2, 4] gap covers expired v3 →
    * refused (`resume`), while a fresh BATCH read of the live table
    * (`live`) is the documented recovery. A regression that silently
    * resumes surfaces real aggregates under the refused step and
    * hash-fails. */
  def catalogStreamExpire(s: SparkSession, d: String): DataFrame = {
    val cs = s.newSession()
    cs.conf.set("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
    Tables.orders(cs, d).createOrReplaceTempView("orders")
    cs.sql("CREATE TABLE graft_mem.ns.se (k BIGINT, v BIGINT)")
    def ins(base: Int, mod: Int): Unit = cs.sql(
      s"""INSERT INTO graft_mem.ns.se
         |SELECT CAST($base + o_custkey % $mod AS BIGINT) AS k,
         |  CAST(count(*) AS BIGINT) AS v
         |FROM orders GROUP BY o_custkey % $mod""".stripMargin)
    ins(0, 97)                                                       // v1
    ins(1000, 9)                                                     // v2
    def lits(step: String, status: String, a: Long, b: Long): DataFrame =
      cs.sql(s"""SELECT '$step' AS step, '$status' AS status,
                |  CAST($a AS BIGINT) AS n_rows,
                |  CAST($b AS BIGINT) AS sum_v""".stripMargin)
    val ckpt = graft.Scratch.processScoped("graft_stream_expire",
      s"ckpt${streamExpireIds.getAndIncrement()}").toString
    // driver-side drain buffer — bounded by construction (the commit
    // batches are small grouped aggregates, ≤ 97 + 9 + 7 + 5 rows)
    val drained = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def runStream(): Unit = {
      val q = cs.readStream.table("graft_mem.ns.se")
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(r => drained.add(r.getLong(1)))
        }
        .option("checkpointLocation", ckpt)
        .start()
      try { q.processAllAvailable() } finally { q.stop() }
    }
    runStream()
    import scala.jdk.CollectionConverters._
    val drain1 = lits("drain1", "readable", drained.size.toLong,
      drained.asScala.sum)
    ins(2000, 7)                                                     // v3
    ins(3000, 5)                                                     // v4
    val ex = cs.sql("CALL graft_mem.sys.expire('ns.se', 1L)").head()
    val expireRow = lits("expire", "summary", ex.getLong(0), ex.getLong(2))
    drained.clear()
    val resume =
      try { runStream()
            lits("resume", "resumed", drained.size.toLong,
              drained.asScala.sum) }
      catch {
        case e: Throwable if causeChainHas(e, "covers expired commits") =>
          lits("resume", "refused", -1L, -1L)
      }
    val liveRow = {
      val r = cs.sql(
        """SELECT count(*) AS n, CAST(sum(v) AS BIGINT) AS s
          |FROM graft_mem.ns.se""".stripMargin).head()
      lits("live", "readable", r.getLong(0), r.getLong(1))
    }
    drain1.unionByName(expireRow).unionByName(resume).unionByName(liveRow)
      .transform(Present.sorted(_, col("step")))
  }

  /** The takedown-audit's CATALOG-VERSIONS row: proof that a takedown
    * DELETE against a versioned catalog table actually sticks — i.e.
    * after `CALL sys.expire`, the purged rows are unreachable at
    * EVERY still-readable version, not just the live one (the gap the
    * per-store tombstone rows can't see: they audit landed index
    * stores, not version history). Scenario: CTAS (v1) → takedown
    * DELETE of the v%5=4 slice (v2) → count-preserving maintenance
    * UPDATE (+500 ≡ 0 mod 5, so the purged residue cannot re-enter by
    * arithmetic; v3) → expire to the newest two, which drops v1, the
    * only version that ever held the purged rows.
    *
    * `live_after` is the live count PLUS the number of purge-predicate
    * rows still reachable at ANY readable version (v2, v3, live) — a
    * provably-zero addend, so a resurrected row shifts the value and
    * hash-fails the audit. Numbers are landed once per dataset per
    * JVM (the scenario is deterministic; the audit row re-emits
    * literals, keeping takedown_audit's zero-marginal-cost shape). */
  private val expireAuditLanded =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long, Long)]()

  def expireAuditRow(s: SparkSession, d: String): DataFrame = {
    val (tomb, before, after) = expireAuditLanded.computeIfAbsent(d, _ => {
      val cs = s.newSession()
      cs.conf.set("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
      Tables.orders(cs, d).createOrReplaceTempView("orders")
      cs.sql(
        """CREATE TABLE graft_mem.ns.tda TBLPROPERTIES('mor'='true') AS
          |SELECT CAST(o_custkey % 89 AS BIGINT) AS k,
          |  CAST(sum(o_orderkey) AS BIGINT) AS v
          |FROM orders GROUP BY o_custkey % 89""".stripMargin)       // v1
      val n1 = cs.sql("SELECT count(*) FROM graft_mem.ns.tda")
        .head().getLong(0)
      cs.sql("DELETE FROM graft_mem.ns.tda WHERE v % 5 = 4") // v2 takedown
      cs.sql("UPDATE graft_mem.ns.tda SET v = v + 500 WHERE k < 20") // v3
      cs.sql("CALL graft_mem.sys.expire('ns.tda', 2L)").collect()
      val r = cs.sql(
        s"""SELECT
           |  CAST($n1 AS BIGINT) -
           |    (SELECT count(*) FROM graft_mem.ns.tda VERSION AS OF 2)
           |    AS tombstones,
           |  CAST($n1 AS BIGINT) AS live_before,
           |  count(*) +
           |    (SELECT CAST(sum(CASE WHEN v % 5 = 4 THEN 1 ELSE 0 END)
           |       AS BIGINT)
           |     FROM (SELECT v FROM graft_mem.ns.tda VERSION AS OF 2
           |           UNION ALL
           |           SELECT v FROM graft_mem.ns.tda VERSION AS OF 3
           |           UNION ALL
           |           SELECT v FROM graft_mem.ns.tda)) AS live_after
           |FROM graft_mem.ns.tda""".stripMargin).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    })
    s.range(1).select(lit("catalog_versions").as("store"),
      lit(tomb).as("tombstones"), lit(before).as("live_before"),
      lit(after).as("live_after"))
  }

  /** Catalog-registered V2 FUNCTION ([[Hamming64Fn]] through
    * [[MemCatalog]]'s FunctionCatalog): `graft_mem.ns.hamming64(a,b)`
    * resolves through the connector, binds on (BIGINT, BIGINT), and
    * runs through the MAGIC `invoke(long,long)` codegen path — the
    * Iceberg function-catalog surface (their bucket/truncate SQL
    * functions). The query histograms the SimHash comparison kernel
    * (popcount of XOR) over the orders key pair; DuckDB replays it
    * as bit_count(xor(a,b)). */
  def catalogFunction(s: SparkSession, d: String): DataFrame = {
    val cs = s.newSession()
    cs.conf.set("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
    Tables.orders(cs, d).createOrReplaceTempView("orders")
    cs.sql(
      """SELECT graft_mem.ns.hamming64(o_orderkey, o_custkey) AS d,
        |  count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY d""".stripMargin)
  }

  /** Catalog-registered V2 AGGREGATE function ([[BitXorAggFn]]) — the
    * other half of the function-catalog surface: the engine wraps the
    * bound `AggregateFunction` in its V2Aggregator, a genuine
    * two-phase aggregate (map-side `update` per partition, serialized
    * state across the exchange, `merge` of partials), so a
    * connector-supplied aggregate gets map-side combine exactly like
    * a built-in — the exchange carries 11 group states here, not the
    * orders table. XOR is associative/commutative, so the partial
    * merge tree is exact on any partitioning; DuckDB replays it as
    * `bit_xor`. CatalogSpec additionally pins the two-phase plan and
    * binding rejection. */
  def catalogAggFunction(s: SparkSession, d: String): DataFrame = {
    val cs = s.newSession()
    cs.conf.set("spark.sql.catalog.graft_mem", "graft.sources.MemCatalog")
    Tables.orders(cs, d).createOrReplaceTempView("orders")
    cs.sql(
      """SELECT CAST(o_custkey % 11 AS BIGINT) AS k,
        |  graft_mem.ns.bitxor(CAST(o_orderkey AS BIGINT)) AS x,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM orders GROUP BY o_custkey % 11 ORDER BY k""".stripMargin)
  }

  /** Landed COLUMN statistics over the warehouse + part — the CBO
    * rung: `ANALYZE TABLE … COMPUTE STATISTICS FOR ALL COLUMNS`
    * writes row counts, ndv, min/max and null counts into the
    * catalog, which is what lets cost-based optimization estimate
    * join output sizes instead of trusting file sizes and hints.
    * Analyzed once per dataset per JVM (the ensureWarehouse
    * pattern); the stats live in the SHARED catalog, so every
    * session of this process plans against them. */
  private val cboAnalyzed =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  def ensureCboStats(s: SparkSession, d: String): Unit =
    cboAnalyzed.synchronized {
      if (cboAnalyzed.get != d || !s.catalog.tableExists("graft_wh_part")) {
        ensureWarehouse(s, d)
        Tables.part(s, d)
          .write.mode("overwrite")
          .option("path", stageDir("wh_part", d))
          .format("parquet").saveAsTable("graft_wh_part")
        Seq("graft_wh_lineitem", "graft_wh_orders", "graft_wh_part")
          .foreach { t =>
            s.sql(s"ANALYZE TABLE $t COMPUTE STATISTICS FOR ALL COLUMNS")
          }
        cboAnalyzed.set(d)
      }
    }

  /** Stats-driven join planning — the engine's queries pin their
    * plans with explicit `broadcast()` hints (deterministic at any
    * scale); this query is the OTHER regime, hints REMOVED: a
    * deliberately bad declared order (fact⋈fact first, the selective
    * part dim last) planned under `spark.sql.cbo.enabled` +
    * `joinReorder.enabled` with the landed column statistics. The
    * optimizer must (a) REORDER so the part filter — whose
    * selectivity it can only know from ndv stats on p_type — cuts
    * lineitem before the orders join, and (b) BROADCAST the filtered
    * dim from its estimated (not file) size. CboSpec pins both
    * against the un-reordered declared plan; the oracle pins that
    * reordering never changes the answer. Runs in a child session so
    * the CBO confs can't leak into the other 160+ pinned plans. */
  def cboJoinReorder(s: SparkSession, d: String): DataFrame = {
    ensureCboStats(s, d)
    val cs = s.newSession()
    cs.conf.set("spark.sql.cbo.enabled", "true")
    cs.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    cboJoinBody(cs)
  }

  /** The declared (worst-order) join body on whatever session/conf
    * the caller prepared — shared by the registered query and the
    * spec's with/without-CBO comparison. */
  private[graft] def cboJoinBody(cs: SparkSession): DataFrame =
    cs.table("graft_wh_lineitem")
      .join(cs.table("graft_wh_orders"),
        col("l_orderkey") === col("o_orderkey"))
      .join(cs.table("graft_wh_part")
        .filter(col("p_type").isin("PROMO", "ECONOMY")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(Money.money2(sum(Money.revCents4)).as("revenue"),
        count(lit(1)).as("n_items"))
      .transform(Present.sorted(_, col("o_year")))

  /** Runtime (dynamic) filtering through the DSv2 connector — the
    * DPP rung, and the last pushdown surface the connector lacked:
    * the 64-split graftseq table joins a SELECTIVE dimension (5
    * nations of one region, key space ≪ the id range), Catalyst
    * injects a DynamicPruningSubquery on the scan's declared filter
    * attribute `id`, and at execution the collected build-side keys
    * reach [[SeqScan.filter]] as an IN predicate — so the scan plans
    * only the handful of splits containing a joinable id instead of
    * all 64 (SourcesSpec pins the planned-partition drop through
    * [[SeqSource.lastRuntimePlanned]]). At 100 TB this is the
    * difference between launching tasks over every file and over
    * only the files the dimension can touch — runtime file pruning,
    * the Iceberg/Delta shape, on the custom source. No broadcast
    * hint: the dim's reported/derived size wins the BHJ on its own,
    * and the reused broadcast feeds the pruning subquery for free. */
  def dsv2RuntimeFilter(s: SparkSession, d: String): DataFrame = {
    val fact = s.read.format("graft.sources.SeqSource")
      .option("n", Dsv2N.toString).option("parts", "64").load()
    val dim = Tables.nation(s, d)
      .filter(col("n_regionkey") === 1)
      .select((col("n_nationkey").cast("long") * 137L).as("k"),
        col("n_name"))
    fact.join(dim, col("id") === col("k"))
      .select(col("id"), col("bucket"), col("word"), col("n_name"))
      .transform(Present.sorted(_, col("id")))
  }

  /** Aggregate pushdown through the DSv2 connector: COUNT/MIN/MAX/SUM
    * over a filtered id window fold INTO the scan — the filters are
    * consumed exactly first, then the whole Aggregate node disappears
    * (complete pushdown) and the connector answers from range
    * arithmetic in one partition, the way a warehouse connector
    * answers COUNT(*) from file footers without reading a data page.
    * SourcesSpec pins the no-Aggregate plan shape and the pushed-agg
    * scan description. */
  def dsv2AggPushdown(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.SeqSource")
      .option("n", Dsv2N.toString).option("parts", "8").load()
      .filter(col("id") >= Dsv2N / 10 && col("id") < Dsv2N / 2)
      .agg(count(lit(1)).as("n_rows"), min("id").as("min_id"),
        max("id").as("max_id"), sum("id").as("sum_id"))

  /** GROUPED aggregate pushdown through the connector — the partial
    * rung above [[dsv2AggPushdown]]'s complete one: the group-by on
    * `word` pushes to the scan with supportCompletePushDown = false,
    * so each of the 8 splits emits per-group PARTIAL rows (closed-form
    * modular range arithmetic, no row materialized) and the engine
    * final-merges above. The exchange carries ≤ splits × 50 rows
    * instead of the filtered table — at 100 TB this is the difference
    * between shuffling partials and shuffling rows. The pushed
    * id-range filter composes: partials are computed over the
    * surviving [lo, hi) only. SourcesSpec pins pushed grouping in the
    * scan description AND a final Aggregate above (the global rung
    * keeps planning NO Aggregate at all). */
  def dsv2GroupAggPushdown(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.SeqSource")
      .option("n", Dsv2N.toString).option("parts", "8").load()
      .filter(col("id") >= 100 && col("id") < Dsv2N - 123)
      .groupBy("word")
      .agg(count(lit(1)).as("n_rows"), min("id").as("min_id"),
        max("id").as("max_id"), sum("id").as("sum_id"))
      .transform(Present.sorted(_, col("word")))

  /** VARIANT through the connector: the source serves an open-format
    * binary VARIANT column (`variant=true` — each row's `props` built
    * with the engine's own variant encoder from id-derived JSON), and
    * typed `variant_get` path extraction runs engine-side above the
    * scan. Extraction PUSHDOWN is deliberately refused (see
    * `SeqScanBuilder.pushVariantExtractions` — accepting trips an
    * engine-internal rewrite error on the non-parquet DSv2 path,
    * verified empirically; refusal is always safe). At 100 TB this is
    * the semi-structured column contract: one binary column carries
    * evolving telemetry without schema migrations, and the typed
    * extraction replaces per-row string re-parsing. Oracle replays
    * the fields from the generating arithmetic. */
  def dsv2VariantScan(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.SeqSource")
      .option("n", Dsv2N.toString).option("parts", "8")
      .option("variant", "true").load()
      .filter(col("id") >= Dsv2N / 2)
      .select(col("id"),
        expr("variant_get(props, '$.k', 'bigint')").as("k"),
        expr("variant_get(props, '$.tag', 'string')").as("tag"))
      .groupBy("tag")
      .agg(count(lit(1)).as("cnt"), sum("k").as("sum_k"),
        min("id").as("min_id"), max("id").as("max_id"))
      .transform(Present.sorted(_, col("tag")))

  /** VARIANT extraction pushdown on the PARQUET FILE-SOURCE path —
    * the rung the connector deliberately refuses
    * ([[SeqScanBuilder.pushVariantExtractions]] — the DSv2 rewrite is
    * broken upstream), exercised where it actually works: the
    * `PushVariantIntoScan` rule (on by default,
    * `spark.sql.variant.pushVariantIntoScan`) rewrites `variant_get`
    * over a parquet scan into a SHREDDED STRUCT READ — the scan's
    * ReadSchema becomes `struct<props:struct<...>>` carrying only the
    * requested extractions, the Project reads struct fields, and no
    * variant_get survives in the physical plan (PlanSpec pins both).
    * At 100 TB this is the open-format shredding contract: a binary
    * semi-structured column is decoded once, columnar, inside the
    * scan, to exactly the paths the query touches — instead of
    * shipping whole variant blobs up the plan and re-walking them per
    * expression. The staged table's variant values are built with the
    * engine's own encoder from order-derived JSON (landed once per
    * dataset; versions are immutable), so the DuckDB oracle replays
    * the fields from the generating arithmetic on `orders`. */
  private val variantLanded = new graft.Landed[String]("graft_storage")

  private def stageVariantParquet(s: SparkSession, d: String): String =
    variantLanded.root(d) { dir =>
      Tables.orders(s, d)
        .select(col("o_orderkey").as("id"),
          parse_json(to_json(struct(
            (col("o_custkey") % 97).as("k"),
            concat(lit("t"), col("o_custkey") % 5).as("tag"),
            round(col("o_totalprice") * 100, 0).cast("long")
              .as("price_cents")))).as("props"))
        .write.mode("overwrite").parquet(dir)
    }

  def parquetVariantPushdown(s: SparkSession, d: String): DataFrame = {
    val dir = stageVariantParquet(s, d)
    s.read.parquet(dir)
      .select(col("id"),
        expr("variant_get(props, '$.k', 'bigint')").as("k"),
        expr("variant_get(props, '$.tag', 'string')").as("tag"),
        expr("variant_get(props, '$.price_cents', 'bigint')")
          .as("price_cents"))
      .groupBy("tag")
      .agg(count(lit(1)).as("cnt"), sum("k").as("sum_k"),
        sum("price_cents").as("sum_cents"))
      .transform(Present.sorted(_, col("tag")))
  }

  /** TABLESAMPLE pushdown — the source owns its sampling (the JDBC
    * `TABLESAMPLE SYSTEM` shape): the generated range instantiates a
    * sample as the deterministic [lower, upper) slice of the id span,
    * the engine drops its Sample operator entirely (complete
    * pushdown), and because the fold lands on [lo, hi) it COMPOSES
    * with aggregate pushdown — this query's sampled COUNT/MIN/MAX/SUM
    * is answered closed-form from range arithmetic over the slice,
    * zero rows read, no Sample and no Aggregate in the plan. At
    * 100 TB sample pushdown is what makes "profile 1% of the table"
    * cost 1% (or, for a stats-backed store, nothing) instead of a
    * full scan that discards 99% after the fact. SourcesSpec pins
    * both absences + the slice range + row equality vs engine-side
    * sampling semantics (count of the unsampled twin × fraction). */
  def dsv2SamplePushdown(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.SeqSource")
      .option("n", Dsv2N.toString).option("parts", "8").load()
      .sample(0.25, 42L)
      .agg(count(lit(1)).as("n_rows"), min("id").as("min_id"),
        max("id").as("max_id"), sum("id").as("sum_id"))

  /** JOIN pushdown through the connector (Spark 4.1,
    * `spark.sql.optimizer.datasourceV2JoinPushdown`) — the TOP rung
    * of the ladder: the connector answers the inner id-equality join
    * of two graftseq tables itself, so the engine plans ONE scan and
    * NO join operator at all. For id-keyed generated ranges the join
    * is closed-form (the intersection of the filter-folded ranges),
    * the way a JDBC connector ships the whole JOIN to the database —
    * strictly stronger than SPJ, which still executes the join, just
    * without exchanges. The filters on both sides fold FIRST, then
    * the join intersects the surviving ranges; the GROUP BY above
    * stays engine-side (a pushed join refuses aggregate pushdown —
    * its columns are engine-aliased), pinning that the rungs compose
    * without overclaiming. Conf rides a cloned session. SourcesSpec
    * pins zero join nodes + the intersected scan range + the 3-way
    * collapse + refusal shapes (outer/non-equi keep the engine
    * join). */
  def dsv2JoinPushdown(s: SparkSession, d: String): DataFrame = {
    val cs = s.newSession()
    cs.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
    val (a, b) = dsv2JoinSides(cs)
    dsv2JoinBody(a, b)
  }

  /** THREE-WAY join pushdown — the compositional claim made a gated
    * query: a pushed join produces another joinable builder, so the
    * second id-equijoin folds into the SAME scan and an N-way chain
    * collapses to ONE range read over the N-way intersection of the
    * filter-folded ranges ([N/10, N) ∩ [0, N/2) ∩ [0, 2N/5) =
    * [N/10, 2N/5)). Columns from all three sides survive the two
    * rename rounds (engine-assigned aliases mapped back to their
    * generators each time). At 100 TB: a JDBC-style connector that
    * owns a star's keys answers the whole multi-join as one scan —
    * two shuffles AND two join operators deleted, compounding the
    * 2-way rung. SourcesSpec pins ONE scan / zero join nodes on this
    * registered body; the oracle replays the intersection range. */
  def dsv2JoinPushdown3way(s: SparkSession, d: String): DataFrame = {
    val cs = s.newSession()
    cs.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
    join3Body(cs)
  }

  /** The 3-way body on the caller's session — shared by the
    * registered query and the spec's pushed-vs-engine comparison. */
  private[graft] def join3Body(cs: SparkSession): DataFrame = {
    // parts=32: the pushed form collapses THREE scans into one, so
    // that one scan must carry the parallelism all three would have
    // had — with 8 splits the collapsed scan underuses local[32] and
    // the wall (not shuffle) becomes the bottleneck at 200× (SCALE.md
    // §"Round-13 extension: the 3-way collapse measured": 13.2 s at
    // parts=8 vs the engine twin's 9.7 s across 24 concurrent scan
    // tasks)
    def tbl(x: Long) = cs.read.format("graft.sources.SeqSource")
      .option("n", x.toString).option("parts", "32").load()
    val a = tbl(Dsv2N).filter(col("id") >= Dsv2N / 10)
    val b = tbl(Dsv2N / 2)
    val c = tbl(Dsv2N * 3 / 4).filter(col("id") < Dsv2N * 2 / 5)
    a.join(b, a("id") === b("id")).join(c, a("id") === c("id"))
      .select(a("id").as("id"), a("bucket").as("bucket_a"),
        b("word").as("word"), c("bucket").as("bucket_c"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"), sum("bucket_a").as("sum_bucket_a"),
        sum("bucket_c").as("sum_bucket_c"),
        min("id").as("min_id"), max("id").as("max_id"))
      .transform(Present.sorted(_, col("word")))
  }

  /** The 2-way join's two sides on the caller's session — shared by
    * the registered query and the spec's pushed-vs-engine comparison
    * (measured at 1–50×: SCALE.md §"1–50× join pushdown rehearsal"). */
  private[graft] def dsv2JoinSides(cs: SparkSession)
      : (DataFrame, DataFrame) = {
    // parts=32 for the same reason as join3Body: the pushed join
    // serves BOTH sides from one scan, which must not halve the
    // machine's parallelism just because the join disappeared
    def tbl(x: Long) = cs.read.format("graft.sources.SeqSource")
      .option("n", x.toString).option("parts", "32").load()
    (tbl(Dsv2N).filter(col("id") >= Dsv2N / 10), tbl(Dsv2N / 2))
  }

  private[graft] def dsv2JoinBody(a: DataFrame, b: DataFrame): DataFrame =
    a.join(b, a("id") === b("id"))
      .select(a("id").as("id"), a("bucket").as("bucket"), b("word").as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"), sum("bucket").as("sum_bucket"),
        min("id").as("min_id"), max("id").as("max_id"))
      .transform(Present.sorted(_, col("word")))

  /** Parquet aggregate pushdown — the FILE-source twin of
    * [[dsv2AggPushdown]], and the footer-statistics story: on the V2
    * parquet read path with `spark.sql.parquet.aggregatePushdown` on,
    * an unfiltered whole-table MIN/MAX/COUNT compiles to a walk over
    * parquet FOOTER stats (row-group counts + column min/max) — cost
    * O(files), not O(rows). At 100 TB that is kilobytes of metadata
    * instead of terabytes of pages; the same footers the sorted/
    * Z-order layouts narrow are here the ANSWER, not just the skip
    * index. The engine still merges the per-file partials above the
    * scan (PlanSpec pins `PushedAggregation` at the scan and zero
    * row-reading). Confs ride a cloned session — the V1/V2 source
    * switch must not leak into other queries' plans. */
  def parquetAggPushdown(s: SparkSession, d: String): DataFrame = {
    val cs = s.newSession()
    cs.conf.set("spark.sql.parquet.aggregatePushdown", "true")
    // aggregate pushdown only exists on the V2 FileScan path
    cs.conf.set("spark.sql.sources.useV1SourceList", "")
    cs.read.parquet(s"$d/lineitem.parquet")
      .agg(count(lit(1)).as("n_rows"),
        min("l_orderkey").as("min_ok"), max("l_orderkey").as("max_ok"),
        min("l_quantity").as("min_qty"), max("l_quantity").as("max_qty"))
  }

  /** TopN/limit pushdown through the DSv2 connector — the pagination
    * rungs: ORDER BY id DESC + OFFSET/LIMIT folds the scan to the
    * limit-sized id slice at PLANNING time (the probe shows
    * `range [n-8, n)` for offset 3 + limit 5), so a top-k over the
    * connector reads k rows, not the table. The engine keeps its own
    * TakeOrdered above (isPartiallyPushed — always correct); the win
    * is the scan. SourcesSpec pins the folded range. */
  def dsv2TopnPushdown(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.SeqSource")
      .option("n", Dsv2N.toString).option("parts", "16").load()
      .orderBy(desc("id")).offset(3).limit(5)

  /** Connector METADATA column (`SupportsMetadataColumns`) — the
    * hidden-column rung: `_split_lo` exposes each row's input-split
    * lower bound, selectable on demand and invisible otherwise
    * (`SELECT *` never pays for it). The per-split histogram below is
    * the task-skew introspection every 100 TB job wants — "which
    * input splits carry the rows" — answered without a shuffle-side
    * TaskContext hack. Split math is deterministic (ceil-division
    * ranges), so DuckDB replays the split bound from id arithmetic. */
  def dsv2MetadataCol(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.SeqSource")
      .option("n", Dsv2N.toString).option("parts", "8").load()
      .select(col("id"), col("bucket"), col("_split_lo"))
      .groupBy(col("_split_lo").as("split_lo"))
      .agg(count(lit(1)).as("n"), min("id").as("lo_id"),
        max("id").as("hi_id"), sum("bucket").as("sum_bucket"))
      .transform(Present.sorted(_, col("split_lo")))

  /** FILE metadata columns on the parquet scan (`_metadata.file_name`
    * / `_metadata.row_index`) — provenance without a provenance
    * column: every file-based scan carries its origin for free, the
    * lineage primitive a 100 TB corpus audit starts from ("which
    * file, which row" for any flagged document — no join against a
    * manifest). The testdata lands documents ordered by doc_id, so
    * the oracle replays row_index as the doc_id rank. */
  def fileMetadata(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"), col("_metadata.row_index").as("ridx"),
        col("_metadata.file_name").as("fname"))
      .filter(col("doc_id") % 7 === 0)
      .transform(Present.sorted(_, col("doc_id")))

  /** Storage-partitioned join through the DSv2 connector — the
    * co-location rung: both tables declare `pstep=500` so the source
    * reports a `KeyGroupedPartitioning` over `identity(pkey)` with
    * one HasPartitionKey split per key block, and under
    * `spark.sql.sources.v2.bucketing.enabled` the join on
    * (pkey, id) plans with ZERO exchanges on either side — Spark
    * zips matching key blocks task-to-task, padding the keys the
    * smaller table lacks (partition-value push). This is the
    * Iceberg/Delta shape for 100 TB fact⋈fact: pay the partitioned
    * layout once at write time, then every query joins in place —
    * vs. the sort-merge twin that re-shuffles BOTH fact tables per
    * query. Broadcast is disabled to price the honest comparison
    * (SourcesSpec pins 1 exchange with SPJ vs 3 without on the SAME
    * body); the confs ride a child session so nothing leaks. */
  val SpjAN = 20000L
  val SpjBN = 12000L
  val SpjStep = 500L
  def dsv2SpjJoin(s: SparkSession, d: String): DataFrame =
    // join clusters on (pkey, id), a SUPERSET of the partition key —
    // spjSession sets requireAllClusterKeysForCoPartition=false so the
    // key-grouped layout satisfies it
    spjBody(spjSession(s))

  /** The join body on whatever session/conf the caller prepared —
    * shared by the registered query and the spec's with/without-SPJ
    * exchange-count comparison. `noorder` suppresses the scan's
    * reported ordering (the spec's sort-elision twin: same
    * zero-exchange SPJ, but the SMJ re-sorts every key block; measured
    * in SCALE.md §"Round-12 extension: sort elision measured"). */
  private[graft] def spjBody(cs: SparkSession,
                             noorder: Boolean = false): DataFrame = {
    def tbl(n: Long) = cs.read.format("graft.sources.SeqSource")
      .option("n", n.toString).option("pstep", SpjStep.toString)
      .option("noorder", noorder.toString).load()
    val b = tbl(SpjBN).select(col("pkey"), col("id"),
      col("bucket").as("bucket_b"))
    tbl(SpjAN).join(b, Seq("pkey", "id"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"),
        sum(col("bucket") + col("bucket_b")).as("sum_buckets"))
      .transform(Present.sorted(_, col("word")))
  }

  /** A session with the SPJ confs on — shared by the registered
    * queries and the spec. */
  private[graft] def spjSession(s: SparkSession): SparkSession = {
    val cs = s.newSession()
    cs.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
    cs.conf.set("spark.sql.sources.v2.bucketing.pushPartValues.enabled", "true")
    cs.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    cs.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    cs
  }

  /** SPJ under SKEW — the partially-clustered rung
    * (`spark.sql.sources.v2.bucketing.partiallyClusteredDistribution
    * .enabled`): the fact side's hot pkey=0 block is laid out as FOUR
    * splits carrying the same partition key (`hotsplits=4` — the
    * storage shape of a skewed key: one logical partition, many
    * files). Plain SPJ must group them back into ONE task — the
    * straggler that makes skewed SPJ slower than a shuffle with AQE
    * skew-split; partially-clustered distribution instead keeps the
    * hot block's splits apart and REPLICATES the other side's
    * matching block across them, so the hot key runs as four tasks
    * with ZERO exchanges still (SourcesSpec pins: same results, no
    * new exchange, join input partitions grow by exactly the extra
    * hot splits). At 100 TB this is the skew escape hatch that keeps
    * the co-located layout's economics: the 5%-of-keys-own-half-the-
    * rows fact table still joins in place, paying replication of ONE
    * small block instead of re-shuffling two fact tables. Content is
    * split-layout-independent, so the oracle is the same range replay
    * as the uniform SPJ. */
  val SkewHotSplits = 4
  def dsv2SpjSkew(s: SparkSession, d: String): DataFrame = {
    val cs = spjSession(s)
    cs.conf.set(
      "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled",
      "true")
    spjSkewBody(cs)
  }

  /** The skewed-layout join body on the caller's session — shared by
    * the registered query and the spec's grouped-vs-partially-
    * clustered comparison. Both sides share pstep and the uniform
    * (`hotrows=0`) key map, so the join still co-partitions; the
    * straggler on a genuinely skewed map is measured in SCALE.md
    * §"1–50× SPJ skew rehearsal". */
  private[graft] def spjSkewBody(cs: SparkSession): DataFrame = {
    def tbl(n: Long, h: Int) = cs.read.format("graft.sources.SeqSource")
      .option("n", n.toString).option("pstep", SpjStep.toString)
      .option("hotsplits", h.toString)
      .option("hotrows", "0").load()
    val b = tbl(SpjBN, 1).select(col("pkey"), col("id"),
      col("bucket").as("bucket_b"))
    tbl(SpjAN, SkewHotSplits).join(b, Seq("pkey", "id"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"),
        sum(col("bucket") + col("bucket_b")).as("sum_buckets"))
      .transform(Present.sorted(_, col("word")))
  }

  /** The vectorized DSv2 read path (`columnar=true`): the scan hands
    * the engine 4096-row `ColumnarBatch`es of on-heap vectors instead
    * of one InternalRow at a time, and the plan consumes them through
    * `ColumnarToRow` inside whole-stage codegen — the custom-source
    * analogue of the parquet vectorized reader, i.e. the difference
    * between per-row virtual calls and tight per-batch loops on a
    * 100 TB scan. Same rows as the row path (SourcesSpec pins byte
    * equality and the columnar plan shape); pushdown still applies —
    * the id filter folds into the scan range before batching. */
  def dsv2ColumnarScan(s: SparkSession, d: String): DataFrame =
    s.read.format("graft.sources.SeqSource")
      .option("n", Dsv2N.toString).option("parts", "8")
      .option("columnar", "true").load()
      .filter(col("id") < Dsv2N / 2)
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"), sum("bucket").as("sum_bucket"),
        min("id").as("min_id"))
      .transform(Present.sorted(_, col("word")))

  /** TPC-H Q3 over the landed warehouse — the third consumer of the
    * one orderkey layout (with q18/q9), which is the economics of
    * pre-bucketing: the write cost amortizes across the query mix.
    * Both fact filters (shipdate, orderdate) evaluate on the bucketed
    * scans, the fact⋈fact join is a zero-exchange SMJ, the BUILDING
    * customer filter rides a broadcast, and the grouped aggregate
    * needs NO exchange either — its keys contain o_orderkey, so the
    * bucketed hash partitioning already satisfies the aggregate's
    * required clustering. The top-10 is a TakeOrdered. Net: ZERO hash
    * exchanges in the whole query (BucketSpec pins it), vs two
    * fact-side shuffles + an aggregate exchange in q3_top_orders.
    * Same oracle: the layout changes the plan, never the answer. */
  def q3Bucketed(s: SparkSession, d: String): DataFrame = {
    ensureWarehouse(s, d)
    val li = s.table("graft_wh_lineitem")
      .filter(col("l_shipdate") > lit("1998-01-01"))
    val ord = s.table("graft_wh_orders")
      .filter(col("o_orderdate") < lit("1998-01-01"))
    val cust = broadcast(Tables.customer(s, d)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey"))
    ord.join(li, col("o_orderkey") === col("l_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
      .agg(Money.money2(sum(Money.revCents4)).as("rev"))
      .orderBy(desc("rev"), col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q9 over the landed warehouse: part and supplier⋈nation
    * stay broadcast dims (as in q9_product_profit; the explicit hint
    * keeps the plan pinned under the spec's disabled threshold), and
    * the lineitem⋈orders fact⋈fact step — the one shuffled join in
    * the original — becomes a zero-exchange SMJ on the co-bucketed
    * layout. The single remaining hash exchange is the final
    * (nation, year) aggregate, whose map-side partial reduces each
    * task to ≤ |nations|×|years| rows before it moves. Fixed-point
    * profit arithmetic identical to q9_product_profit, same oracle.
    * Broadcast-side sizing: supplier is 1/600 of lineitem in the
    * TPC-H ratio, so the hint holds far past this test scale; at the
    * point a supplier dim no longer broadcasts, the warehouse answer
    * is the same one used here — land it bucketed on s_suppkey and
    * extend the layout, not the query. */
  def q9Bucketed(s: SparkSession, d: String): DataFrame = {
    ensureWarehouse(s, d)
    val promoParts = broadcast(
      Tables.part(s, d).filter(col("p_type").isin("PROMO", "ECONOMY"))
        .select("p_partkey"))
    val supNation = broadcast(Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "n_name"))
    s.table("graft_wh_lineitem")
      .join(promoParts, col("l_partkey") === col("p_partkey"))
      .join(s.table("graft_wh_orders"),
        col("l_orderkey") === col("o_orderkey"))
      .join(supNation, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).as("o_year"))
      .agg(Money.money2(sum(Money.revCents4)).as("profit"))
      .transform(Present.sorted(_, col("nation"), desc("o_year")))
  }

  /** The join body alone over the landed warehouse tables — shared by
    * [[bucketedJoin]] and the spec's exchange-free plan assertion
    * (which wants the shape without re-timing the build). */
  def bucketedJoinRead(s: SparkSession): DataFrame =
    s.table("graft_wh_lineitem")
      .join(s.table("graft_wh_orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(Money.money2(sum(Money.revCents4)).as("revenue"),
        count(lit(1)).as("n_items"))

  /** Partition-pruned scan: documents lands partitioned by `source`
    * (the hive-style dir layout every big corpus uses for coarse
    * pruning), then a per-source aggregate over ONE source reads only
    * that partition's files — PlanSpec asserts the pruning reaches the
    * scan (PartitionFilters, not a post-scan Filter). At 100 TB the
    * difference is reading 1/N of the corpus vs all of it. */
  def partitionedScan(s: SparkSession, d: String): DataFrame = {
    val dir = stageDir("partitioned_documents", d)
    Tables.documents(s, d)
      .write.mode("overwrite").partitionBy("source").parquet(dir)
    partitionedScanRead(s, dir)
  }

  /** Read half of [[partitionedScan]] over a staged layout. */
  def partitionedScanRead(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(dir)
      .filter(col("source") === "src1")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("total_chars"),
        min("doc_id").as("min_doc_id"),
        max("doc_id").as("max_doc_id"))
      .transform(Present.sorted(_, col("source")))

  /** Dynamic partition pruning — the runtime twin of
    * [[partitionedScan]]'s static pruning, on the plain file source
    * (the 100 TB warehouse path; `dsv2_runtime_filter` is the same
    * rung for the connector): customer lands hive-partitioned by
    * c_nationkey, then joins nation filtered to ONE region. The
    * partition-filter values are the join side's OUTPUT, unknowable
    * at plan time, so Catalyst injects a DynamicPruningSubquery that
    * reuses the dim side's broadcast and prunes the fact scan to the
    * region's 5 partitions of 25 before any file is opened
    * (PlanSpec pins `dynamicpruningexpression` in PartitionFilters
    * and a post-run numPartitions metric of 5). At 100 TB this is
    * scanning one region's slice instead of the world whenever the
    * pruning value comes from a query rather than a literal. */
  def dppJoin(s: SparkSession, d: String): DataFrame = {
    val dir = dppJoinDir(d)
    Tables.customer(s, d).write.mode("overwrite")
      .partitionBy("c_nationkey").parquet(dir)
    dppJoinRead(s, d, dir)
  }

  /** Read half of [[dppJoin]] over a staged layout. */
  def dppJoinRead(s: SparkSession, d: String, dir: String): DataFrame =
    s.read.parquet(dir)
      .join(broadcast(Tables.nation(s, d)
        .filter(col("n_regionkey") === 1)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_cust"),
        sum(Money.cents(col("c_acctbal"))).as("acct_cents"))
      .transform(Present.sorted(_, col("n_name")))

  def dppJoinDir(d: String): String = stageDir("dpp_customer", d)

  /** Nested-schema pruning — the wide-struct story: documents land
    * with a `meta` STRUCT of three fields (src, n_chars, and a
    * payload-sized head the query never touches), then an aggregate
    * over two leaves reads ONLY those leaves — the executed scan's
    * ReadSchema carries `meta:struct<src,n_chars>` with the payload
    * field GONE (PlanSpec pins it). Real corpora keep metadata as
    * wide structs; at 100 TB failing to prune a struct means paying
    * the whole column chunk for every query that glances at one
    * field. Catalyst's nestedSchemaPruning is on by default — the
    * rung proves the round trip (write nested → prune → same answer
    * as the flat oracle). */
  def nestedPrune(s: SparkSession, d: String): DataFrame = {
    val dir = nestedPruneDir(d)
    Tables.documents(s, d)
      .select(col("doc_id"),
        struct(col("source").as("src"),
          length(col("text")).as("n_chars"),
          substring(col("text"), 1, 64).as("head")).as("meta"))
      .write.mode("overwrite").parquet(dir)
    nestedPruneRead(s, dir)
  }

  /** Read half of [[nestedPrune]] — two struct leaves, never `head`. */
  def nestedPruneRead(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(dir)
      .groupBy(col("meta.src").as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("meta.n_chars")).as("total_chars"))
      .transform(Present.sorted(_, col("source")))

  def nestedPruneDir(d: String): String = stageDir("nested_documents", d)

  /** Sort-clustered layout — the row-group data-skipping story that
    * hive partitioning (see [[partitionedScan]]) can't give a
    * high-cardinality column: lineitem lands range-partitioned AND
    * sorted by l_shipdate, so every part file covers a disjoint date
    * slice and every parquet row group's min/max statistics span a
    * narrow window. A date-range query then skips whole files and row
    * groups at the scan (PushedFilters reach the reader; PlanSpec),
    * instead of reading 100 TB to filter 1%. `repartitionByRange`
    * samples the sort key to pick balanced boundaries — the same
    * mechanism a global sort uses, paid once at write time.
    *
    * The read half aggregates one year's slice; the oracle runs the
    * same filter over the source parquet, proving the clustered
    * round trip loses nothing. */
  def sortedLayout(s: SparkSession, d: String): DataFrame = {
    val dir = stageDir("sorted_lineitem", d)
    Tables.lineitem(s, d)
      // The clustering column lands at DATE grain: TIMESTAMP_NTZ
      // predicates are pushed to the scan but the parquet reader does
      // NOT evaluate them against row-group min/max stats (measured:
      // an NTZ-clustered layout read all 600k rows for a 1-year
      // window; the date-clustered one read 92k). Day grain is what
      // the range queries use anyway, and it makes the skipping real.
      .select(col("l_shipdate").cast("date").as("l_shipdate"),
        col("l_quantity"), col("l_extendedprice"))
      .repartitionByRange(Buckets, col("l_shipdate"))
      .sortWithinPartitions("l_shipdate")
      .write.mode("overwrite").parquet(dir)
    sortedLayoutRead(s, dir)
  }

  /** Read half of [[sortedLayout]] over a staged layout (spec hook). */
  def sortedLayoutRead(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(dir)
      .filter(col("l_shipdate") >= lit("1995-01-01") &&
        col("l_shipdate") < lit("1996-01-01"))
      .groupBy(month(col("l_shipdate")).as("ship_month"))
      .agg(count(lit(1)).as("n"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        (sum(Money.cents(col("l_extendedprice"))) / 100.0).as("sum_price"))
      .transform(Present.sorted(_, col("ship_month")))

  def sortedLayoutDir(d: String): String = stageDir("sorted_lineitem", d)
  def schemaEvolutionDir(d: String): String = stageDir("evolving_documents", d)

  /** Schema evolution under continuous ingest — every long-lived
    * corpus's reality: early batches landed without columns later
    * batches carry. Batch 1 (even doc_ids) has (doc_id, source,
    * text_len); batch 2 (odd doc_ids) adds a `quality` score. The
    * batches live under `batch=N` directories, so partition discovery
    * types `batch` as a column for free, and `mergeSchema` unions the
    * file schemas — batch-1 rows surface `quality` as NULL instead of
    * failing the read or silently dropping the column. The aggregate
    * counts legacy (pre-evolution) rows per source and sums the new
    * column where present; the oracle derives both batches from the
    * source table. At 100 TB this is why you never rewrite the old
    * petabytes when the schema grows. */
  def schemaEvolution(s: SparkSession, d: String): DataFrame = {
    val dir = stageDir("evolving_documents", d)
    val base = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        length(col("text")).as("text_len"))
    base.filter(col("doc_id") % 2 === 0)
      .write.mode("overwrite").parquet(s"$dir/batch=1")
    base.filter(col("doc_id") % 2 === 1)
      .withColumn("quality", (col("text_len") % 97).cast("int"))
      .write.mode("overwrite").parquet(s"$dir/batch=2")
    s.read.option("mergeSchema", "true").parquet(dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("quality").isNull.cast("long")).as("legacy_rows"),
        sum("quality").as("sum_quality"),
        sum("text_len").as("sum_len"))
      .transform(Present.sorted(_, col("source")))
  }

  /** MERGE (SCD1 upsert) via full outer join — the Spark-native form
    * of `MERGE INTO target USING changes`: matched keys take the
    * change row's values, unmatched-in-target keys INSERT, everything
    * else keeps the snapshot row. The join shuffles both sides on the
    * merge key once — at 100 TB the target would be bucketed on the
    * key (see [[bucketedJoin]]) so only the (much smaller) change
    * feed moves.
    *
    * The change feed is derived deterministically from `customer`:
    * every custkey % 3 == 0 gets a +100 balance update, and shadow
    * keys (custkey + 1000000) for custkey % 50 == 0 are inserts. */
  def mergeUpsert(s: SparkSession, d: String): DataFrame = {
    val base = Tables.customer(s, d)
      .select(col("c_custkey").as("k"), col("c_name").as("name"),
        col("c_acctbal").as("bal"))
    val updates = base.filter(col("k") % 3 === 0)
      .select(col("k"), col("name"), round(col("bal") + 100.0, 2).as("bal"))
    val inserts = base.filter(col("k") % 50 === 0)
      .select((col("k") + 1000000L).as("k"),
        concat(lit("shadow-"), col("name")).as("name"), col("bal"))
    val changes = updates.unionByName(inserts)
      .select(col("k").as("ck"), col("name").as("cname"), col("bal").as("cbal"))
    base.join(changes, col("k") === col("ck"), "full_outer")
      .select(
        coalesce(col("k"), col("ck")).as("k"),
        coalesce(col("cname"), col("name")).as("name"),
        round(coalesce(col("cbal"), col("bal")), 2).as("bal"))
      .transform(Present.sortedUnbounded(_, col("k")))
  }

  /** Change-data-feed DERIVATION (Delta-CDF shape; the inverse of
    * `stream_upsert`'s CDC apply): two landed table versions are
    * diffed into typed change rows — `insert` (post values), `delete`
    * (pre values), and `update_preimage`/`update_postimage` pairs —
    * by a single full-outer join on the key with value comparison.
    * The change rule here only SYNTHESIZES v1 (delete k%7=1, +100
    * balance on k%3=0 survivors, shadow inserts on k%50=0 — the
    * merge_upsert rule extended with deletes so all three types
    * appear); the operator itself is the generic snapshot differ, and
    * the DuckDB oracle replays the rule, so a diff that invents,
    * drops, or mistypes a change hash-fails.
    *
    * Scale shape: one key shuffle per side for the full-outer join
    * (or zero on bucketed snapshot layouts — the `bucketed_join`
    * trade); all change types emit from ONE pass over the joined row
    * (per-row change-struct array, exploded), so there is exactly one
    * join and one Generate — unchanged rows produce a null array and
    * vanish in the explode. PlanSpec pins the single-join shape. */
  /** Write the two customer snapshot versions (v0 = base; v1 = the
    * delete/update/insert rule applied) — shared by the CDF differ
    * and the time-travel read. Process-scoped landed pair per dataset
    * (the ensureWarehouse/lmStore pattern): version directories are
    * IMMUTABLE by contract — time_travel's whole claim — so restaging
    * them on every call both re-paid two table writes per invocation
    * and let a previously returned lazy reader race a concurrent
    * rewrite of the same files. */
  private val snapLanded = new graft.Landed[String]("graft_storage")

  private def stageSnapshots(s: SparkSession, d: String): (String, String) = {
    val root = snapLanded.root(d) { out =>
      val (dir0, dir1) = (s"$out/snap_v0", s"$out/snap_v1")
      val base = Tables.customer(s, d)
        .select(col("c_custkey").as("k"), col("c_name").as("name"),
          col("c_acctbal").as("bal"))
      base.write.mode("overwrite").parquet(dir0)
      base.filter(col("k") % 7 =!= 1)
        .select(col("k"), col("name"),
          when(col("k") % 3 === 0, round(col("bal") + 100.0, 2))
            .otherwise(col("bal")).as("bal"))
        .unionByName(base.filter(col("k") % 50 === 0)
          .select((col("k") + 1000000L).as("k"),
            concat(lit("shadow-"), col("name")).as("name"), col("bal")))
        .write.mode("overwrite").parquet(dir1)
    }
    (s"$root/snap_v0", s"$root/snap_v1")
  }

  /** Time travel (read-at-version) over the landed snapshot pair:
    * each retained version is an immutable directory, so "AS OF v0"
    * is a plain scan of v0's files — v1's existence cannot perturb it
    * (the gate proves v0's aggregate is byte-stable under the v1
    * write). Copy-on-write versioning's read side; `snapshot_cdf` is
    * its diff side and `merge_upsert` its write side. Per-version
    * aggregates gated against the DuckDB rule replay. */
  def timeTravel(s: SparkSession, d: String): DataFrame = {
    val (dir0, dir1) = stageSnapshots(s, d)
    def agg(dir: String, v: String): DataFrame =
      s.read.parquet(dir).agg(
        count(lit(1)).as("n_rows"),
        sum("k").as("sum_key"),
        sum(when(col("k") >= 1000000L, 1L).otherwise(0L)).as("n_shadow"))
        .select(lit(v).as("version"), col("n_rows"), col("sum_key"),
          col("n_shadow"))
    agg(dir0, "v0").unionByName(agg(dir1, "v1"))
      .transform(Present.sorted(_, col("version")))
  }

  def snapshotCdf(s: SparkSession, d: String): DataFrame = {
    val (dir0, dir1) = stageSnapshots(s, d)
    val pre = s.read.parquet(dir0)
      .select(col("k"), col("name").as("pre_name"), col("bal").as("pre_bal"))
    val post = s.read.parquet(dir1)
      .select(col("k").as("pk"), col("name").as("post_name"),
        col("bal").as("post_bal"))
    val j = pre.join(post, col("k") === col("pk"), "full_outer")
    // every change type emits from ONE pass over the joined row: a
    // per-row array of typed change structs, exploded (null array for
    // unchanged rows → explode drops them). A union of filtered
    // branches re-derives the join per branch (plan-measured: 2 full
    // SMJs + 2 snapshot scans) — this form keeps one join, one
    // Generate, and PlanSpec pins it.
    def ev(ct: String, kk: Column, nm: Column, bb: Column): Column =
      struct(kk.as("k"), lit(ct).as("change_type"),
        nm.as("name"), bb.as("bal"))
    val rows =
      when(col("k").isNull,
        array(ev("insert", col("pk"), col("post_name"), col("post_bal"))))
      .when(col("pk").isNull,
        array(ev("delete", col("k"), col("pre_name"), col("pre_bal"))))
      .when(col("pre_bal") =!= col("post_bal") ||
          col("pre_name") =!= col("post_name"),
        array(
          ev("update_preimage", col("k"), col("pre_name"), col("pre_bal")),
          ev("update_postimage", col("k"), col("post_name"), col("post_bal"))))
    j.select(explode(rows).as("c"))
      .select(col("c.k"), col("c.change_type"), col("c.name"), col("c.bal"))
      .transform(Present.sortedUnbounded(_, col("k"), col("change_type")))
  }

  /** ORC round trip — the second columnar format (Spark-native ORC
    * reader/writer): lineitem columns land as ORC, the aggregate runs
    * over the read-back, and the hash gate compares against DuckDB on
    * the source parquet — proving schema + values survive the format
    * exactly. Same push-down/pruning machinery as parquet
    * (vectorized reader, predicate pushdown). */
  def orcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = stageDir("orc_lineitem", d)
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      .write.mode("overwrite").orc(dir)
    s.read.orc(dir)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
      .transform(Present.sorted(_, col("l_returnflag")))
  }

  /** JDBC ROUNDTRIP over an EMBEDDED Derby database (the Derby jars
    * ship with the Spark distribution, so this exercises the plain
    * `spark.read/write.jdbc` path — the second most common enterprise
    * source after parquet — with zero extra dependencies and no
    * network). Write side: the customer slice lands via the JDBC sink
    * (dialect DDL + batched inserts; `createTableColumnTypes` pins
    * VARCHAR over Derby's default CLOB, which can't GROUP BY). Read
    * side: a PARTITIONED JDBC scan (partitionColumn/numPartitions —
    * the shape a 100 TB ingest uses: N executors each pulling a key
    * range) with the filter pushed into the database as SQL
    * (PlanSpec pins `PushedFilters` + pruned ReadSchema on the scan)
    * and the aggregate running in Spark on top. Monetary values land
    * as BIGINT cents so nothing depends on DOUBLE round-tripping
    * through the database's types.
    *
    * The database lands once per dataset per JVM (the ensureWarehouse
    * pattern, process-scoped so a concurrent suite and Verify run
    * can't fight over Derby's db lock); the registered query is the
    * partitioned, pushed-down read. Oracle replays filter + aggregate
    * from the source parquet — proving values survive the dialect's
    * type mapping exactly. */
  private val jdbcLanded =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Long, Long)]()

  private def jdbcOpts(r: org.apache.spark.sql.DataFrameReader,
                       url: String) =
    r.format("jdbc").option("url", url)
      .option("dbtable", "graft_customer")
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")

  /** Lands the database once per (dataset, JVM) and returns
    * (url, key min, key max) — the bounds are computed from the
    * source at land time (one cheap agg over the slice being landed)
    * so the partitioned read's strides track the dataset instead of a
    * hardcoded keyspace: at sf10+ a fixed upper bound would funnel
    * every key past it into the top stride (a straggler partition),
    * while derived bounds stay deterministic per dataset. */
  private[graft] def jdbcLand(s: SparkSession, d: String): (String, Long, Long) = {
    val dir = graft.Scratch.processScoped("graft_derby",
      d.replaceAll("[^a-zA-Z0-9]", "_")).toString
    jdbcLanded.computeIfAbsent(d, _ => {
      // Derby's engine log goes to scratch, not the process cwd
      System.setProperty("derby.stream.error.file",
        graft.Scratch.path("graft_derby.log").toString)
      // explicit territory: Derby otherwise derives the new database's
      // locale from Locale.getDefault(), and a JVM pinned to
      // Locale.ROOT (Bench does, for parseable JSON numbers) makes
      // createDatabase FAIL with XBM0X "Supplied locale description ''
      // is invalid" — observed as jdbc_roundtrip/jdbc_agg_pushdown
      // silently fast-failing in every r19 bench pass. Pinning the
      // territory also makes the landed database host-locale-
      // independent; table collation stays UCS_BASIC, so no query
      // result depends on it.
      val url = s"jdbc:derby:$dir;create=true;territory=en_US"
      val src = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"),
          round(col("c_acctbal") * 100).cast("long").as("bal_cents"))
      val mm = src.agg(min("c_custkey"), max("c_custkey")).head()
      src.write.mode("overwrite")
        .format("jdbc").option("url", url)
        .option("dbtable", "graft_customer")
        .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
        .option("createTableColumnTypes", "c_mktsegment VARCHAR(16)")
        .option("batchsize", "10000")
        .save()
      (url, mm.getLong(0), mm.getLong(1))
    })
  }

  private[graft] def jdbcUrl(s: SparkSession, d: String): String =
    jdbcLand(s, d)._1

  /** The read body over the landed database — the spec's hook for the
    * pushdown assertion. Partition bounds come from the landed
    * table's key min/max ([[jdbcLand]]): deterministic per dataset,
    * and every stride carries real keys at any scale factor (fixed
    * bounds left the top stride a straggler once the keyspace
    * outgrew them). */
  def jdbcRoundtripRead(s: SparkSession, d: String): DataFrame = {
    val (url, lo, hi) = jdbcLand(s, d)
    jdbcOpts(s.read, url)
      .option("partitionColumn", "c_custkey")
      .option("lowerBound", lo.toString).option("upperBound", hi.toString)
      .option("numPartitions", "8")
      .load()
      .filter(col("c_nationkey") < 10)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum("bal_cents").as("bal_cents"))
  }

  def jdbcRoundtrip(s: SparkSession, d: String): DataFrame =
    jdbcRoundtripRead(s, d)
      .transform(Present.sorted(_, col("c_mktsegment")))

  /** A session with the landed Derby database mounted as a V2
    * JDBCTableCatalog, aggregate + limit pushdown enabled — the
    * enterprise-federation surface on top of [[jdbcUrl]]'s land. */
  private def jdbcCatalogSession(s: SparkSession, d: String): SparkSession = {
    val url = jdbcUrl(s, d)
    val cs = s.newSession()
    cs.conf.set("spark.sql.catalog.dby",
      "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
    cs.conf.set("spark.sql.catalog.dby.url", url)
    cs.conf.set("spark.sql.catalog.dby.driver",
      "org.apache.derby.jdbc.EmbeddedDriver")
    cs.conf.set("spark.sql.catalog.dby.pushDownAggregate", "true")
    cs.conf.set("spark.sql.catalog.dby.pushDownLimit", "true")
    cs
  }

  /** JDBC AGGREGATE pushdown through the V2 JDBCTableCatalog: the
    * whole COUNT/SUM + GROUP BY + filter ships into the database as
    * SQL — the scan returns GROUPS, not rows (PlanSpec pins
    * `PushedAggregates`/`PushedGroupByExpressions` on the scan). This
    * is the federation shape that matters at scale: against a large
    * operational store, pulling rows to aggregate in Spark moves the
    * table; pushing the aggregate moves the ANSWER. Same landed Derby
    * database as [[jdbcRoundtrip]]; oracle replays from parquet. */
  def jdbcAggPushdown(s: SparkSession, d: String): DataFrame =
    jdbcCatalogSession(s, d).sql(
      """SELECT c_nationkey, count(*) AS n,
        |  CAST(sum(bal_cents) AS BIGINT) AS cents
        |FROM dby.APP.GRAFT_CUSTOMER WHERE c_nationkey < 10
        |GROUP BY c_nationkey""".stripMargin)
      .transform(Present.sorted(_, col("c_nationkey")))

  // JDBC TOP-N pushdown is deliberately NOT a registered rung:
  // measured on Spark 4.1 + Derby, the scan claims complete TopN
  // pushdown (`PushedTopN: ... LIMIT 10` in the plan, Spark removes
  // its own TopN) but the SQL the Derby dialect emits carries the
  // ORDER BY without any row-bound clause — the query silently
  // returns the WHOLE sorted table (1 500 rows for a LIMIT 10 at
  // sf0.01). An upstream dialect inconsistency (supportsTopN
  // without a limit clause), not something to gate a result on;
  // `dsv2_topn_pushdown` covers the operator against the custom
  // connector where the contract is honored.

  val CompactTarget = 4

  /** Small-file compaction — the table-maintenance op every streaming
    * or incremental ingest needs: a directory of many tiny part files
    * (here: documents exploded to 64 parts, the "one file per
    * micro-batch per partition" pathology) is rewritten to a few
    * scan-sized files. `coalesce` (not repartition) does it with NO
    * shuffle — partitions merge map-side. The gate aggregates the
    * compacted layout against DuckDB on the source table, proving
    * compaction loses nothing; the spec asserts the file counts. */
  def compactFiles(s: SparkSession, d: String): DataFrame = {
    val small = stageDir("small_files", d)
    val compacted = stageDir("compacted", d)
    Tables.documents(s, d)
      .repartition(64).write.mode("overwrite").parquet(small)
    s.read.parquet(small)
      .coalesce(CompactTarget).write.mode("overwrite").parquet(compacted)
    s.read.parquet(compacted)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("total_chars"))
      .transform(Present.sorted(_, col("source")))
  }

  /** Part-file count of a staged dir (spec hook). */
  def partFileCount(dir: String): Int =
    Option(new java.io.File(dir).listFiles()).fold(0)(
      _.count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")))

  def smallDir(d: String): String = stageDir("small_files", d)
  def compactedDir(d: String): String = stageDir("compacted", d)

  /** CSV round trip (header + explicit read schema — the
    * interchange-format path; quoting handles embedded commas).
    * Orders has no embedded newlines, so the single-line reader
    * applies; corpora with newlines go through JSONL instead. */
  def csvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = stageDir("csv_orders", d)
    val src = Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
    src.write.mode("overwrite").option("header", "true").csv(dir)
    s.read.schema(src.schema).option("header", "true").csv(dir)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n"),
        (sum(Money.cents(col("o_totalprice"))) / 100.0).as("sum_price"))
      .transform(Present.sorted(_, col("o_orderpriority")))
  }

  import org.apache.spark.sql.Column

  /** 16-bit × 2 Morton (Z-order) interleave as a pure column
    * expression: each input's low 16 bits are spread to the even bit
    * positions with the standard mask ladder, then `b` lands on the
    * odd positions. Stays inside whole-stage codegen — five shifts
    * and masks per side, no UDF. */
  private[graft] def morton16(a: Column, b: Column): Column = {
    def spread(x: Column): Column = {
      var v = x.cast("long").bitwiseAND(lit(0xFFFFL))
      v = v.bitwiseOR(shiftleft(v, 8)).bitwiseAND(lit(0x00FF00FFL))
      v = v.bitwiseOR(shiftleft(v, 4)).bitwiseAND(lit(0x0F0F0F0FL))
      v = v.bitwiseOR(shiftleft(v, 2)).bitwiseAND(lit(0x33333333L))
      v.bitwiseOR(shiftleft(v, 1)).bitwiseAND(lit(0x55555555L))
    }
    spread(a).bitwiseOR(shiftleft(spread(b), 1))
  }

  /** Z-order clustered layout — multi-column data skipping, the
    * lakehouse OPTIMIZE ZORDER feature: [[sortedLayout]] clusters ONE
    * column perfectly and helps no other, while Morton-interleaving
    * (shipdate-days, suppkey) clusters BOTH approximately, so each
    * row group's min/max stats are narrow in BOTH dimensions and a
    * two-column range predicate skips on either. The Z value orders
    * the write and is then dropped — it's a layout device, not data.
    * The gated query filters one year AND a supplier range; the
    * oracle runs the same filter on the source parquet. Scan records
    * against the 1-D sorted layout on this two-dim predicate, 1–50×:
    * SCALE.md §"Relational" (Z-order). */
  def zorderLayout(s: SparkSession, d: String): DataFrame = {
    val dir = stageDir("zorder_lineitem", d)
    Tables.lineitem(s, d)
      .select(col("l_shipdate").cast("date").as("l_shipdate"),
        col("l_suppkey"), col("l_quantity"), col("l_extendedprice"))
      .withColumn("z", morton16(
        datediff(col("l_shipdate"), lit("1970-01-01"))
          .bitwiseAND(lit(0xFFFF)),
        col("l_suppkey").bitwiseAND(lit(0xFFFF))))
      .repartitionByRange(Buckets, col("z"))
      .sortWithinPartitions("z")
      .drop("z")
      .write.mode("overwrite").parquet(dir)
    zorderLayoutRead(s, dir)
  }

  /** Read half of [[zorderLayout]] — the two-dimension range query
    * (also run over the 1-D sorted layout for the skipping
    * comparison in SCALE.md §"Relational"). */
  def zorderLayoutRead(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(dir)
      .filter(col("l_shipdate") >= lit("1995-01-01") &&
        col("l_shipdate") < lit("1996-01-01") &&
        col("l_suppkey") < 50)
      .groupBy(month(col("l_shipdate")).as("ship_month"))
      .agg(count(lit(1)).as("n"),
        round(sum("l_quantity"), 2).as("sum_qty"))
      .transform(Present.sorted(_, col("ship_month")))

  /** Parquet BLOOM-FILTER data skipping — the point-lookup story the
    * range layouts can't tell: [[sortedLayout]]/[[zorderLayout]] skip
    * via row-group min/max, which only works when the data is
    * CLUSTERED on the predicate column. A point lookup on an UNSORTED
    * high-cardinality key (find one orderkey in 100 TB of
    * arrival-ordered facts) defeats min/max — every row group's range
    * covers the whole domain — and a dictionary check dies exactly
    * when cardinality forces plain encoding. The parquet bloom filter
    * (split-block, written per row group via
    * `parquet.bloom.filter.enabled#l_orderkey`) answers "definitely
    * not here" probabilistically at ~1 byte/value: the reader drops
    * row groups whose bloom rejects the probe key, so the scan reads
    * O(matching row groups), not O(table). Dictionary encoding is
    * disabled on the key column to make the attribution honest — with
    * it on, small test files would dictionary-skip and mask what the
    * bloom contributes at scale (PlanSpec pins it: an in-domain
    * absent key visits no row group with the bloom on and every row
    * group with it off; the 1–50× row-group counts are in SCALE.md
    * §"Relational").
    *
    * The layout deliberately SHUFFLES rows (hash of l_partkey) so the
    * key column is maximally unclustered — the adversarial case for
    * stats, the designed case for blooms. The gated read probes the
    * domain extremes (min/max orderkey, collected once — a point
    * lookup needs LITERALS for the pushed filter to reach the
    * reader's bloom check; a 1-row bounded agg, the same shape the
    * oracle's scalar subqueries replay). */
  def bloomSkipLayout(s: SparkSession, d: String): DataFrame = {
    val dir = stageDir("bloom_lineitem", d)
    stageBloomLineitem(s, d, dir, bloom = true)
    bloomSkipRead(s, d, dir)
  }

  /** Write half of [[bloomSkipLayout]]: same rows, same shuffle,
    * bloom on/off switchable for the no-bloom twin measured in
    * SCALE.md §"Relational". */
  private[graft] def stageBloomLineitem(s: SparkSession, src: String,
                                        dir: String, bloom: Boolean): Unit = {
    val w = Tables.lineitem(s, src)
      .select(col("l_orderkey"), col("l_partkey"),
        col("l_quantity"), col("l_extendedprice"))
      .repartition(Buckets, col("l_partkey"))
      .write.mode("overwrite")
      // small row groups: the skipping unit must exist in plural even
      // at test scale (a 100 TB layout has ~128 MB groups; same math)
      .option("parquet.block.size", (256 * 1024).toString)
      .option("parquet.enable.dictionary#l_orderkey", "false")
    (if (bloom)
      w.option("parquet.bloom.filter.enabled#l_orderkey", "true")
        // sized to the ndv a ROW GROUP holds, not the table — an
        // over-spec'd ndv inflates every group's bloom to the point
        // where reading the blooms rivals reading the data (measured:
        // ndv=300k made the bloom layout read MORE bytes than the
        // plain one)
        .option("parquet.bloom.filter.expected.ndv#l_orderkey", "8192")
    else w).parquet(dir)
  }

  /** Read half of [[bloomSkipLayout]]: point lookup on two INTERIOR
    * keys (first present keys at 1/3 and 2/3 of the domain). Interior
    * on purpose — a probe at the domain EXTREME is the one point
    * lookup min/max stats can still answer on shuffled data (a random
    * row group's range contains an interior value but rarely the
    * exact global min), so extremes would demo stats, not blooms
    * (measured: extreme probes skipped identically with blooms off). */
  private[graft] def bloomSkipRead(s: SparkSession, srcDir: String,
                                   layoutDir: String): DataFrame =
    bloomProbeRead(s, layoutDir, interiorProbes(s, srcDir))

  /** First present keys ≥ 1/3 and ≥ 2/3 of the orderkey domain — two
    * bounded 1-row aggs; the oracle replays them as scalar
    * subqueries. */
  private[graft] def interiorProbes(s: SparkSession, srcDir: String): Seq[Long] = {
    val ext = Tables.lineitem(s, srcDir)
      .agg(min("l_orderkey"), max("l_orderkey")).head()
    val (mn, mx) = (ext.getLong(0), ext.getLong(1))
    val (t1, t2) = (mn + (mx - mn) / 3, mn + 2 * ((mx - mn) / 3))
    val pr = Tables.lineitem(s, srcDir).agg(
      min(when(col("l_orderkey") >= t1, col("l_orderkey"))),
      min(when(col("l_orderkey") >= t2, col("l_orderkey")))).head()
    Seq(pr.getLong(0), pr.getLong(1))
  }

  /** The probe plan alone — probes precomputed, so a measured pass
    * (SCALE.md §"Relational", bloom on/off) contains ONLY the layout
    * scan. */
  private[graft] def bloomProbeRead(s: SparkSession, layoutDir: String,
                                    probes: Seq[Long]): DataFrame =
    s.read.parquet(layoutDir)
      .filter(col("l_orderkey").isin(probes: _*))
      .groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_lines"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        sum(Money.cents(col("l_extendedprice"))).as("price_cents"))
      .transform(Present.sorted(_, col("l_orderkey")))

  def bloomSkipLayoutDir(d: String): String = stageDir("bloom_lineitem", d)

  /** Incremental materialized-view refresh — the warehouse op that
    * keeps a 100 TB aggregate current without re-reading 100 TB: the
    * per-priority order stats over the "historical" 90% of orders
    * (o_orderkey % 10 != 0) land ONCE per dataset as a mergeable MV
    * (count + ×100 fixed-point sum — partial-aggregate state, so
    * merging is exact), and each refresh aggregates only the "newly
    * arrived" 10% batch and merges it with the landed rows. Output is
    * DEFINED equal to the full aggregate over all orders, so the
    * oracle is the plain full group-by — the gate proves the
    * merge-based refresh loses nothing. Refresh cost ∝ batch +
    * |groups|, independent of history size. */
  private val mvStores = new graft.Landed[String]("graft_mv")

  private def orderStats(df: DataFrame): DataFrame =
    df.groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        sum(round(col("o_totalprice") * 100).cast("long")).as("sp"))

  def mvRefresh(s: SparkSession, d: String): DataFrame = {
    val root = mvStores.root(d)(
      orderStats(Tables.orders(s, d).filter(col("o_orderkey") % 10 =!= 0))
        .write.mode("overwrite").parquet(_))
    val batch = orderStats(
      Tables.orders(s, d).filter(col("o_orderkey") % 10 === 0))
    s.read.parquet(root).unionByName(batch)
      .groupBy("o_orderpriority")
      .agg(sum("n_orders").as("n_orders"),
        (sum("sp") / 100.0).as("sum_price"))
      .transform(Present.sorted(_, col("o_orderpriority")))
  }

  /** XML round trip — Spark 4's built-in XML source (the spark-xml
    * package folded into core), write + schema'd read-back: the
    * interchange format feeds/catalog dumps still arrive in. Same
    * pushdown-capable scan machinery as JSON once parsed; the gate
    * aggregates the read-back against DuckDB on the source parquet,
    * proving values survive the format (numeric types via the
    * explicit read schema — XML itself is untyped). */
  def xmlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = stageDir("xml_supplier", d)
    val src = Tables.supplier(s, d)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal"))
    src.write.mode("overwrite").format("xml")
      .option("rowTag", "supplier").save(dir)
    s.read.schema(src.schema).format("xml")
      .option("rowTag", "supplier").load(dir)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"),
        (sum(Money.cents(col("s_acctbal"))) / 100.0).as("sum_bal"),
        min("s_name").as("min_name"))
      .transform(Present.sorted(_, col("s_nationkey")))
  }

  /** JSON-lines round trip — the raw-corpus interchange format (JSON
    * string escaping survives embedded newlines/quotes in document
    * text, where single-line CSV would not). */
  def jsonlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = stageDir("jsonl_documents", d)
    val src = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"))
    src.write.mode("overwrite").json(dir)
    s.read.schema(src.schema).json(dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("total_chars"),
        min(sha2(col("text"), 256)).as("min_sha"))
      .transform(Present.sorted(_, col("source")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bucketed_join"    -> bucketedJoin _,
    "q18_bucketed"     -> q18Bucketed _,
    "q3_bucketed"      -> q3Bucketed _,
    "q9_bucketed"      -> q9Bucketed _,
    "dsv2_scan"        -> dsv2Scan _,
    "dsv2_write"       -> dsv2Write _,
    "dsv2_runtime_filter" -> dsv2RuntimeFilter _,
    "dsv2_agg_pushdown"   -> dsv2AggPushdown _,
    "dsv2_group_agg_pushdown" -> dsv2GroupAggPushdown _,
    "dsv2_join_pushdown" -> dsv2JoinPushdown _,
    "dsv2_join_pushdown_3way" -> dsv2JoinPushdown3way _,
    "dsv2_sample_pushdown" -> dsv2SamplePushdown _,
    "dsv2_variant_scan" -> dsv2VariantScan _,
    "parquet_variant_pushdown" -> parquetVariantPushdown _,
    "parquet_agg_pushdown" -> parquetAggPushdown _,
    "dsv2_topn_pushdown"  -> dsv2TopnPushdown _,
    "dsv2_metadata_col"   -> dsv2MetadataCol _,
    "file_metadata"       -> fileMetadata _,
    "dsv2_spj_join"       -> dsv2SpjJoin _,
    "dsv2_spj_skew"       -> dsv2SpjSkew _,
    "dsv2_columnar_scan"  -> dsv2ColumnarScan _,
    "dsv2_write_distribution" -> dsv2WriteDistribution _,
    "catalog_crud"        -> catalogCrud _,
    "catalog_dml"         -> catalogDml _,
    "catalog_dml_delta"   -> catalogDmlDelta _,
    "catalog_defaults"    -> catalogDefaults _,
    "catalog_replace_where" -> catalogReplaceWhere _,
    "catalog_dynamic_overwrite" -> catalogDynamicOverwrite _,
    "catalog_dynamic_overwrite2" -> catalogDynamicOverwrite2 _,
    "catalog_partitions" -> catalogPartitions _,
    "catalog_partitions2" -> catalogPartitions2 _,
    "catalog_pruned_read" -> catalogPrunedRead _,
    "catalog_constraints" -> catalogConstraints _,
    "catalog_evolution"   -> catalogEvolution _,
    "catalog_compact"     -> catalogCompact _,
    "catalog_time_travel" -> catalogTimeTravel _,
    "catalog_changes"     -> catalogChanges _,
    "catalog_expire"      -> catalogExpire _,
    "catalog_tag"         -> catalogTag _,
    "catalog_branch_wap"  -> catalogBranchWap _,
    "catalog_stream_expire" -> catalogStreamExpire _,
    "catalog_function"    -> catalogFunction _,
    "catalog_agg_function" -> catalogAggFunction _,
    "cbo_join_reorder" -> cboJoinReorder _,
    "snapshot_cdf"     -> snapshotCdf _,
    "time_travel"      -> timeTravel _,
    "sorted_layout"    -> sortedLayout _,
    "zorder_layout"    -> zorderLayout _,
    "bloom_skip_layout" -> bloomSkipLayout _,
    "schema_evolution" -> schemaEvolution _,
    "partitioned_scan" -> partitionedScan _,
    "dpp_join"         -> dppJoin _,
    "nested_prune"     -> nestedPrune _,
    "merge_upsert"     -> mergeUpsert _,
    "orc_roundtrip"    -> orcRoundtrip _,
    "jdbc_roundtrip"   -> jdbcRoundtrip _,
    "jdbc_agg_pushdown" -> jdbcAggPushdown _,
    "compact_files"    -> compactFiles _,
    "csv_roundtrip"    -> csvRoundtrip _,
    "jsonl_roundtrip"  -> jsonlRoundtrip _,
    "xml_roundtrip"    -> xmlRoundtrip _,
    "mv_refresh"       -> mvRefresh _,
  )

  /** The SPJ join's replay, shared by the uniform and skewed layouts. */
  private val oracleSpjJoin =
    s"""WITH a AS (
       |  SELECT i AS id,
       |    ('0x' || substring(md5('seq' || i::VARCHAR), 1, 15))::BIGINT
       |      % 100 AS bucket,
       |    'w' || (i % 50)::VARCHAR AS word
       |  FROM range(0, $SpjAN) t(i)),
       |b AS (
       |  SELECT i AS id,
       |    ('0x' || substring(md5('seq' || i::VARCHAR), 1, 15))::BIGINT
       |      % 100 AS bucket_b
       |  FROM range(0, $SpjBN) t(i))
       |SELECT word, count(*)::BIGINT AS cnt,
       |  sum(bucket + bucket_b)::BIGINT AS sum_buckets
       |FROM a JOIN b USING (id)
       |GROUP BY word ORDER BY word""".stripMargin

  val oracle: Map[String, String] = Map(
    "bucketed_join" ->
      """SELECT o_orderpriority,
        |  ((sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
        |    AS BIGINT)) + 50) // 100) / 100.0 AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    // identical answer to q3_top_orders — the layout changes the
    // plan, never the result
    "q3_bucketed" -> graft.operators.RelOps.oracle("q3_top_orders"),
    "q18_bucketed" -> graft.operators.RelOps.oracle("q18_large_orders"),
    // the generated source replayed from range(): same id window,
    // same md5-60 bucket; DuckDB sum widens to HUGEINT, cast back
    "dsv2_scan" ->
      s"""SELECT bucket, count(*) AS cnt, sum(i)::BIGINT AS sum_id FROM (
         |  SELECT i,
         |    ('0x' || substring(md5('seq' || i::VARCHAR), 1, 15))::BIGINT
         |      % 100 AS bucket
         |  FROM range(${Dsv2N / 4}, ${Dsv2N * 3 / 4}) t(i))
         |GROUP BY bucket ORDER BY bucket""".stripMargin,
    // the generated table replayed from range(), joined to the same
    // selective dim — runtime pruning must change the task count,
    // never the rows
    "dsv2_runtime_filter" ->
      s"""SELECT i AS id,
         |  ('0x' || substring(md5('seq' || i::VARCHAR), 1, 15))::BIGINT
         |    % 100 AS bucket,
         |  'w' || (i % 50)::VARCHAR AS word,
         |  n_name
         |FROM range(0, $Dsv2N) t(i)
         |JOIN (SELECT n_nationkey::BIGINT * 137 AS k, n_name
         |      FROM nation WHERE n_regionkey = 1) d ON i = d.k
         |ORDER BY id""".stripMargin,
    // reordering must never change the answer — plain 3-table join
    // semantics regardless of the order Catalyst picks
    "cbo_join_reorder" ->
      """SELECT year(o_orderdate) AS o_year,
        |  ((sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000)
        |    AS BIGINT)) + 50) // 100) / 100.0 AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN part ON l_partkey = p_partkey
        |  AND p_type IN ('PROMO', 'ECONOMY')
        |GROUP BY 1 ORDER BY o_year""".stripMargin,
    // the same slice replayed from range(); the scan fold must change
    // planned rows, never the answer
    "dsv2_topn_pushdown" ->
      s"""SELECT i AS id,
         |  ('0x' || substring(md5('seq' || i::VARCHAR), 1, 15))::BIGINT
         |    % 100 AS bucket,
         |  'w' || (i % 50)::VARCHAR AS word
         |FROM range(0, $Dsv2N) t(i)
         |ORDER BY i DESC LIMIT 5 OFFSET 3""".stripMargin,
    // both generated tables replayed from range(); the id join implies
    // the pkey join (pkey = id / pstep on both sides), so co-location
    // changes the plan, never the rows
    "dsv2_spj_join" -> oracleSpjJoin,
    // the vectorized path must produce byte-identical rows to the
    // row path — same range replay
    "dsv2_columnar_scan" ->
      s"""SELECT word, count(*)::BIGINT AS cnt,
         |  sum(bucket)::BIGINT AS sum_bucket, min(id) AS min_id
         |FROM (
         |  SELECT i AS id,
         |    ('0x' || substring(md5('seq' || i::VARCHAR), 1, 15))::BIGINT
         |      % 100 AS bucket,
         |    'w' || (i % 50)::VARCHAR AS word
         |  FROM range(0, ${Dsv2N / 2}) t(i))
         |GROUP BY word ORDER BY word""".stripMargin,
    "parquet_agg_pushdown" ->
      """SELECT count(*) AS n_rows,
        |  min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
        |  min(l_quantity) AS min_qty, max(l_quantity) AS max_qty
        |FROM lineitem""".stripMargin,
    // the split bound replayed from ceil-division range math:
    // step = ceil(n / parts), split_lo = (id / step) * step
    "dsv2_metadata_col" ->
      s"""SELECT (i // ${(Dsv2N + 7) / 8}) * ${(Dsv2N + 7) / 8} AS split_lo,
         |  count(*)::BIGINT AS n, min(i)::BIGINT AS lo_id,
         |  max(i)::BIGINT AS hi_id,
         |  sum(('0x' || substring(md5('seq' || i::VARCHAR), 1, 15))::BIGINT
         |    % 100)::BIGINT AS sum_bucket
         |FROM range(0, $Dsv2N) t(i)
         |GROUP BY 1 ORDER BY split_lo""".stripMargin,
    // documents land ordered by doc_id in one file, so row_index is
    // the doc_id rank; rank BEFORE the filter (hidden columns exist
    // for every row, filtered or not)
    "file_metadata" ->
      """SELECT doc_id, ridx, fname FROM (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY doc_id) - 1 AS ridx,
        |    'documents.parquet' AS fname
        |  FROM documents)
        |WHERE doc_id % 7 = 0 ORDER BY doc_id""".stripMargin,
    // the folded aggregate replayed over the same id window
    "dsv2_agg_pushdown" ->
      s"""SELECT count(*)::BIGINT AS n_rows, min(i) AS min_id,
         |  max(i) AS max_id, sum(i)::BIGINT AS sum_id
         |FROM range(${Dsv2N / 10}, ${Dsv2N / 2}) t(i)""".stripMargin,
    // the merged grouped partials replayed as a plain GROUP BY over
    // the same id window and word rule (id % 50)
    "dsv2_group_agg_pushdown" ->
      s"""SELECT 'w' || (i % 50) AS word, count(*)::BIGINT AS n_rows,
         |  min(i) AS min_id, max(i) AS max_id, sum(i)::BIGINT AS sum_id
         |FROM range(100, ${Dsv2N - 123}) t(i)
         |GROUP BY 1 ORDER BY word""".stripMargin,
    // the connector's variant fields replayed from the generating
    // arithmetic (k = i % 100, tag = 't' || i % 5)
    "dsv2_variant_scan" ->
      s"""SELECT 't' || (i % 5) AS tag, count(*)::BIGINT AS cnt,
         |  sum(i % 100)::BIGINT AS sum_k,
         |  min(i) AS min_id, max(i) AS max_id
         |FROM range(${Dsv2N / 2}, $Dsv2N) t(i)
         |GROUP BY 1 ORDER BY tag""".stripMargin,
    // the pushed sample is the deterministic [0, n·fraction) slice;
    // the aggregate over it replayed from the same range (the JVM
    // computes the bound once and embeds it — both engines replay
    // the identical integer)
    "dsv2_sample_pushdown" ->
      s"""SELECT count(*)::BIGINT AS n_rows, min(i) AS min_id,
         |  max(i) AS max_id, sum(i)::BIGINT AS sum_id
         |FROM range(0, ${(Dsv2N * 0.25).toLong}) t(i)""".stripMargin,
    // the connector-answered join replayed as one range scan over the
    // INTERSECTION of the two filter-folded ranges (inner id-equijoin
    // of generated sequences ≡ their range intersection), md5 bucket
    // and word rule as everywhere
    "dsv2_join_pushdown" ->
      s"""SELECT 'w' || (i % 50) AS word, count(*)::BIGINT AS cnt,
         |  sum(('0x' || substring(md5('seq' || i::VARCHAR), 1, 15))::BIGINT
         |    % 100)::BIGINT AS sum_bucket,
         |  min(i) AS min_id, max(i) AS max_id
         |FROM range(${Dsv2N / 10}, ${Dsv2N / 2}) t(i)
         |GROUP BY 1 ORDER BY word""".stripMargin,
    // the three-way collapse replayed as one scan of the THREE-WAY
    // range intersection; both non-key column families survive the
    // chained renames (bucket from side a and side c — same id, same
    // value, which is itself the correctness claim)
    "dsv2_join_pushdown_3way" ->
      s"""SELECT 'w' || (i % 50) AS word, count(*)::BIGINT AS cnt,
         |  sum(('0x' || substring(md5('seq' || i::VARCHAR), 1, 15))::BIGINT
         |    % 100)::BIGINT AS sum_bucket_a,
         |  sum(('0x' || substring(md5('seq' || i::VARCHAR), 1, 15))::BIGINT
         |    % 100)::BIGINT AS sum_bucket_c,
         |  min(i) AS min_id, max(i) AS max_id
         |FROM range(${Dsv2N / 10}, ${Dsv2N * 2 / 5}) t(i)
         |GROUP BY 1 ORDER BY word""".stripMargin,
    // content is split-layout-independent: the skewed (hotsplits)
    // layout replays as the same range join as the uniform SPJ
    "dsv2_spj_skew" -> oracleSpjJoin,
    // each version replayed from the rule; v0 must be unperturbed by
    // the v1 write (immutable version directories)
    "time_travel" ->
      """WITH base AS (SELECT c_custkey AS k FROM customer),
        |v1 AS (
        |  SELECT k FROM base WHERE k % 7 <> 1
        |  UNION ALL
        |  SELECT k + 1000000 FROM base WHERE k % 50 = 0)
        |SELECT 'v0' AS version, count(*)::BIGINT AS n_rows,
        |  sum(k)::BIGINT AS sum_key, 0::BIGINT AS n_shadow FROM base
        |UNION ALL
        |SELECT 'v1', count(*)::BIGINT, sum(k)::BIGINT,
        |  sum(CASE WHEN k >= 1000000 THEN 1 ELSE 0 END)::BIGINT FROM v1
        |ORDER BY version""".stripMargin,
    // the rule replayed per change type: shadow keys are inserts,
    // k%7=1 are deletes with pre values, k%3=0 survivors emit both
    // update images (+100 balance differs for every such row)
    "snapshot_cdf" ->
      """WITH base AS (
        |  SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal
        |  FROM customer),
        |cdf AS (
        |  SELECT k + 1000000 AS k, 'insert' AS change_type,
        |    'shadow-' || name AS name, bal
        |  FROM base WHERE k % 50 = 0
        |  UNION ALL
        |  SELECT k, 'delete', name, bal FROM base WHERE k % 7 = 1
        |  UNION ALL
        |  SELECT k, 'update_preimage', name, bal
        |  FROM base WHERE k % 3 = 0 AND k % 7 <> 1
        |  UNION ALL
        |  SELECT k, 'update_postimage', name, round(bal + 100, 2)
        |  FROM base WHERE k % 3 = 0 AND k % 7 <> 1)
        |SELECT k, change_type, name, bal FROM cdf
        |ORDER BY k, change_type""".stripMargin,
    // the catalog lifecycle replayed as plain SQL: insert everything,
    // keep k < 50, aggregate — create/rename/delete must never change
    // the surviving rows
    "catalog_crud" ->
      """SELECT k, count(*)::BIGINT AS cnt, sum(v)::BIGINT AS sum_v
        |FROM (SELECT o_custkey % 101 AS k, o_orderkey AS v FROM orders) t
        |WHERE k < 50 GROUP BY k ORDER BY k""".stripMargin,
    // the V2 function replayed as bit_count(xor()) — the codegen'd
    // magic path and DuckDB's kernel must agree bit for bit
    "catalog_function" ->
      """SELECT bit_count(xor(o_orderkey, o_custkey))::BIGINT AS d,
        |  count(*)::BIGINT AS n
        |FROM orders GROUP BY 1 ORDER BY d""".stripMargin,
    // the connector aggregate is exact bit_xor — any partial-merge
    // tree must reproduce it
    "catalog_agg_function" ->
      """SELECT o_custkey % 11 AS k,
        |  CAST(bit_xor(o_orderkey) AS BIGINT) AS x,
        |  count(*)::BIGINT AS n
        |FROM orders GROUP BY 1 ORDER BY k""".stripMargin,
    // the DML lifecycle replayed as CTEs: build buckets, bump the
    // small ones, left-join the merge source for matched updates,
    // anti-join it for inserts
    "catalog_dml" ->
      """WITH tgt0 AS (
        |  SELECT o_custkey % 97 AS k, sum(o_orderkey)::BIGINT AS v
        |  FROM orders GROUP BY 1),
        |tgt1 AS (
        |  SELECT k, CASE WHEN k < 10 THEN v + 1000 ELSE v END AS v
        |  FROM tgt0),
        |src AS (
        |  SELECT c_custkey % 120 AS k, count(*)::BIGINT AS cnt
        |  FROM customer GROUP BY 1),
        |merged AS (
        |  SELECT t.k,
        |    CASE WHEN s.k IS NOT NULL AND s.cnt > 5 THEN t.v + s.cnt
        |         ELSE t.v END AS v
        |  FROM tgt1 t LEFT JOIN src s ON t.k = s.k
        |  UNION ALL
        |  SELECT s.k, s.cnt FROM src s LEFT JOIN tgt1 t ON t.k = s.k
        |  WHERE t.k IS NULL)
        |SELECT k, v FROM merged ORDER BY k""".stripMargin,
    // the MoR statement chain replayed as CTEs: update, delete, merge
    // in order — the delta log must converge to the same table state
    // constraints replayed: the VALID ingest only — the violating
    // batch must have committed nothing
    "catalog_constraints" ->
      """SELECT o_custkey % 97 AS k, count(*)::BIGINT AS v
        |FROM orders GROUP BY 1 ORDER BY k, v""".stripMargin,
    // partition DDL replayed: seed minus the dropped and truncated
    // partitions (the ADD registers an empty slot — no rows)
    "catalog_partitions" ->
      """SELECT o_custkey % 7 AS part, o_custkey % 97 AS k,
        |  sum(o_orderkey)::BIGINT AS v
        |FROM orders
        |WHERE o_custkey % 7 NOT IN (2, 5)
        |GROUP BY 1, 2
        |ORDER BY part, k, v""".stripMargin,
    // 2-column partition DDL replayed: data minus the dropped and
    // truncated CELLS; n_parts = surviving distinct (day, region)
    // cells + the ADD slot + the truncated-but-registered slot;
    // n_day3 = day-3's distinct regions (untouched by the DDL)
    "catalog_partitions2" ->
      """WITH kept AS (
        |  SELECT o_custkey % 4 AS day, o_custkey % 3 AS region,
        |    o_custkey % 97 AS k, sum(o_orderkey)::BIGINT AS v
        |  FROM orders
        |  WHERE NOT (o_custkey % 4 = 2 AND o_custkey % 3 = 1)
        |    AND NOT (o_custkey % 4 = 1 AND o_custkey % 3 = 2)
        |  GROUP BY 1, 2, 3),
        |np AS (
        |  SELECT (count(*) + 2)::BIGINT AS n_parts FROM
        |    (SELECT DISTINCT day, region FROM kept)),
        |nd AS (
        |  SELECT count(DISTINCT o_custkey % 3)::BIGINT AS n_day3
        |  FROM orders WHERE o_custkey % 4 = 3)
        |SELECT day, region, k, v, n_parts, n_day3
        |FROM kept CROSS JOIN np CROSS JOIN nd
        |ORDER BY day, region, k, v""".stripMargin,
    // tuple-predicate read replayed: the one (day=3, region=1) cell —
    // the Spark side ships it via connector partition pruning, the
    // oracle by filtering the seed aggregate
    "catalog_pruned_read" ->
      """SELECT o_custkey % 4 AS day, o_custkey % 3 AS region,
        |  o_custkey % 97 AS k, sum(o_orderkey)::BIGINT AS v
        |FROM orders
        |WHERE o_custkey % 4 = 3 AND o_custkey % 3 = 1
        |GROUP BY 1, 2, 3
        |ORDER BY k, v""".stripMargin,
    // tuple-granularity dynamic overwrite replayed: untouched cells ∪
    // recomputed cells — (day=1, region=1) must appear from the SEED
    "catalog_dynamic_overwrite2" ->
      """WITH seed AS (
        |  SELECT o_custkey % 4 AS day, o_custkey % 3 AS region,
        |    o_custkey % 97 AS k, sum(o_orderkey)::BIGINT AS v
        |  FROM orders GROUP BY 1, 2, 3),
        |redo AS (
        |  SELECT o_custkey % 4 AS day, o_custkey % 3 AS region,
        |    o_custkey % 11 AS k, count(*)::BIGINT AS v
        |  FROM orders
        |  WHERE o_custkey % 4 = 1 AND o_custkey % 3 IN (0, 2)
        |  GROUP BY 1, 2, 3)
        |SELECT day, region, k, v FROM seed
        |WHERE NOT (day = 1 AND region IN (0, 2))
        |UNION ALL SELECT day, region, k, v FROM redo
        |ORDER BY day, region, k, v""".stripMargin,
    // REPLACE WHERE replayed: base minus the slice, plus the
    // recomputation, in one relation
    "catalog_replace_where" ->
      """WITH base AS (
        |  SELECT o_custkey % 97 AS k, sum(o_orderkey)::BIGINT AS v
        |  FROM orders GROUP BY 1),
        |repl AS (
        |  SELECT c_custkey % 10 AS k, count(*)::BIGINT AS v
        |  FROM customer GROUP BY 1)
        |SELECT k, v FROM base WHERE NOT (k < 10)
        |UNION ALL SELECT k, v FROM repl
        |ORDER BY k, v""".stripMargin,
    // dynamic overwrite replayed: untouched partitions ∪ recomputed
    // partitions (the touched set is what the batch contains)
    "catalog_dynamic_overwrite" ->
      """WITH seed AS (
        |  SELECT o_custkey % 5 AS part, o_custkey % 97 AS k,
        |    sum(o_orderkey)::BIGINT AS v
        |  FROM orders GROUP BY 1, 2),
        |redo AS (
        |  SELECT o_custkey % 5 AS part, o_custkey % 11 AS k,
        |    count(*)::BIGINT AS v
        |  FROM orders WHERE o_custkey % 5 IN (1, 3) GROUP BY 1, 2)
        |SELECT part, k, v FROM seed WHERE part NOT IN (1, 3)
        |UNION ALL SELECT part, k, v FROM redo
        |ORDER BY part, k, v""".stripMargin,
    "catalog_dml_delta" ->
      """WITH tgt0 AS (
        |  SELECT o_custkey % 97 AS k, sum(o_orderkey)::BIGINT AS v
        |  FROM orders GROUP BY 1),
        |tgt1 AS (
        |  SELECT k, CASE WHEN k < 10 THEN v + 1000 ELSE v END AS v
        |  FROM tgt0),
        |tgt2 AS (SELECT k, v FROM tgt1 WHERE NOT (v % 7 = 3)),
        |src AS (
        |  SELECT c_custkey % 120 AS k, count(*)::BIGINT AS cnt
        |  FROM customer GROUP BY 1),
        |merged AS (
        |  SELECT t.k,
        |    CASE WHEN s.k IS NOT NULL AND s.cnt > 5 THEN t.v + s.cnt
        |         ELSE t.v END AS v
        |  FROM tgt2 t LEFT JOIN src s ON t.k = s.k
        |  UNION ALL
        |  SELECT s.k, s.cnt FROM src s LEFT JOIN tgt2 t ON t.k = s.k
        |  WHERE t.k IS NULL)
        |SELECT k, v FROM merged ORDER BY k""".stripMargin,
    // the shredded extraction changes the SCAN (struct read, pinned
    // in PlanSpec), never the values: replay the generating
    // arithmetic straight from orders
    "parquet_variant_pushdown" ->
      """SELECT 't' || (o_custkey % 5) AS tag,
        |  count(*)::BIGINT AS cnt,
        |  sum(o_custkey % 97)::BIGINT AS sum_k,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS sum_cents
        |FROM orders GROUP BY 1 ORDER BY tag""".stripMargin,
    // CDC replayed: the version chain as CTEs, consecutive versions
    // diffed with EXCEPT ALL (multiset semantics — what the
    // reference-identity diff emits), each direction tagged with its
    // change type and commit ordinal
    "catalog_changes" ->
      """WITH v1 AS (
        |  SELECT o_custkey % 97 AS k, CAST(sum(o_orderkey) AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |v2 AS (
        |  SELECT k, CASE WHEN k < 10 THEN v + 1000 ELSE v END AS v
        |  FROM v1),
        |v3 AS (SELECT k, v FROM v2 WHERE NOT (v % 7 = 3)),
        |v4 AS (
        |  SELECT k, v FROM v3
        |  UNION ALL
        |  SELECT 5000 + o_custkey % 9 AS k, count(*)::BIGINT AS v
        |  FROM orders GROUP BY o_custkey % 9),
        |d2 AS (SELECT k, v FROM v1 EXCEPT ALL SELECT k, v FROM v2),
        |i2 AS (SELECT k, v FROM v2 EXCEPT ALL SELECT k, v FROM v1),
        |d3 AS (SELECT k, v FROM v2 EXCEPT ALL SELECT k, v FROM v3),
        |i3 AS (SELECT k, v FROM v3 EXCEPT ALL SELECT k, v FROM v2),
        |d4 AS (SELECT k, v FROM v3 EXCEPT ALL SELECT k, v FROM v4),
        |i4 AS (SELECT k, v FROM v4 EXCEPT ALL SELECT k, v FROM v3)
        |SELECT k, v, 'delete' AS _change_type,
        |  CAST(2 AS BIGINT) AS _commit_version FROM d2
        |UNION ALL SELECT k, v, 'insert', 2 FROM i2
        |UNION ALL SELECT k, v, 'delete', 3 FROM d3
        |UNION ALL SELECT k, v, 'insert', 3 FROM i3
        |UNION ALL SELECT k, v, 'delete', 4 FROM d4
        |UNION ALL SELECT k, v, 'insert', 4 FROM i4
        |ORDER BY _commit_version, _change_type, k, v""".stripMargin,
    // the version chain replayed as CTEs: v1 = ingest, v2 = update
    // applied, v3 = delete applied; live == v3 (compaction is
    // content-neutral, and versioned reads ignore it entirely)
    "catalog_time_travel" ->
      """WITH v1 AS (
        |  SELECT o_custkey % 97 AS k, CAST(sum(o_orderkey) AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |v2 AS (
        |  SELECT k, CASE WHEN k < 10 THEN v + 1000 ELSE v END AS v
        |  FROM v1),
        |v3 AS (SELECT k, v FROM v2 WHERE NOT (v % 7 = 3)),
        |allv AS (
        |  SELECT '1' AS version, count(*)::BIGINT AS n_rows,
        |    CAST(sum(v) AS BIGINT) AS sum_v, CAST(min(v) AS BIGINT) AS min_v
        |  FROM v1
        |  UNION ALL
        |  SELECT '2', count(*)::BIGINT, CAST(sum(v) AS BIGINT),
        |    CAST(min(v) AS BIGINT) FROM v2
        |  UNION ALL
        |  SELECT '3', count(*)::BIGINT, CAST(sum(v) AS BIGINT),
        |    CAST(min(v) AS BIGINT) FROM v3
        |  UNION ALL
        |  SELECT 'ts', count(*)::BIGINT, CAST(sum(v) AS BIGINT),
        |    CAST(min(v) AS BIGINT) FROM v3
        |  UNION ALL
        |  SELECT 'live', count(*)::BIGINT, CAST(sum(v) AS BIGINT),
        |    CAST(min(v) AS BIGINT) FROM v3)
        |SELECT version, n_rows, sum_v, min_v FROM allv
        |ORDER BY version""".stripMargin,
    // the five-version chain replayed as CTEs; expired/refused reads
    // are LITERAL rows — the Scala side emits them only when the read
    // actually threw the retention error, so a resurrected version or
    // a partially-served CDC range surfaces real aggregates under
    // status 'readable' and hash-fails. cdc_3_5 = 1 insert (commit 4)
    // + delete/insert per k>=50 row of v4 (commit 5's update); the
    // expire summary row is (expired=3, retained=2, first_live=4) in
    // the shared numeric columns (documented column reuse).
    "catalog_expire" ->
      """WITH v1 AS (
        |  SELECT o_custkey % 97 AS k, CAST(sum(o_orderkey) AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |v2 AS (
        |  SELECT k, CASE WHEN k < 10 THEN v + 1000 ELSE v END AS v
        |  FROM v1),
        |v3 AS (SELECT k, v FROM v2 WHERE NOT (v % 7 = 3)),
        |v4 AS (SELECT k, v FROM v3
        |  UNION ALL SELECT 9001::BIGINT, 77::BIGINT),
        |v5 AS (
        |  SELECT k, CASE WHEN k >= 50 THEN v + 7000 ELSE v END AS v
        |  FROM v4),
        |allv AS (
        |  SELECT 'expire' AS step, 'summary' AS status,
        |    3::BIGINT AS n_rows, 2::BIGINT AS sum_v, 4::BIGINT AS n_takedown
        |  UNION ALL SELECT 'v1', 'expired', -1, -1, -1
        |  UNION ALL SELECT 'v2', 'expired', -1, -1, -1
        |  UNION ALL SELECT 'v3', 'expired', -1, -1, -1
        |  UNION ALL SELECT 'v4', 'readable', count(*)::BIGINT,
        |    CAST(sum(v) AS BIGINT),
        |    CAST(sum(CASE WHEN v % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM v4
        |  UNION ALL SELECT 'v5', 'readable', count(*)::BIGINT,
        |    CAST(sum(v) AS BIGINT),
        |    CAST(sum(CASE WHEN v % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM v5
        |  UNION ALL SELECT 'live', 'readable', count(*)::BIGINT,
        |    CAST(sum(v) AS BIGINT),
        |    CAST(sum(CASE WHEN v % 7 = 3 THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM v5
        |  UNION ALL SELECT 'cdc_3_5', 'readable',
        |    (SELECT 1 + 2 * count(*) FROM v4 WHERE k >= 50)::BIGINT,
        |    -1, 0
        |  UNION ALL SELECT 'cdc_2_5', 'refused', -1, -1, -1)
        |SELECT step, status, n_rows, sum_v, n_takedown FROM allv
        |ORDER BY step""".stripMargin,
    // tag resolution ≡ ordinal resolution (the two v2 rows must carry
    // identical chain-replay aggregates); every summary/refusal row
    // is a literal the Scala side only emits when the catalog action
    // actually took/failed that way
    "catalog_tag" ->
      """WITH v1 AS (
        |  SELECT o_custkey % 97 AS k, CAST(sum(o_orderkey) AS BIGINT) AS v
        |  FROM orders GROUP BY 1),
        |v2 AS (
        |  SELECT k, CASE WHEN k < 10 THEN v + 1000 ELSE v END AS v
        |  FROM v1),
        |v3 AS (SELECT k, v FROM v2 WHERE NOT (v % 7 = 3)),
        |v4 AS (SELECT k, v FROM v3
        |  UNION ALL SELECT 9001::BIGINT, 77::BIGINT),
        |allv AS (
        |  SELECT 'tag' AS step, 'summary' AS status,
        |    2::BIGINT AS n_rows, CAST(-1 AS BIGINT) AS sum_v
        |  UNION ALL SELECT 'expire1', 'summary', 1, 3
        |  UNION ALL SELECT 'v1', 'expired', -1, -1
        |  UNION ALL SELECT 'v2_num', 'readable', count(*)::BIGINT,
        |    CAST(sum(v) AS BIGINT) FROM v2
        |  UNION ALL SELECT 'v2_tag', 'readable', count(*)::BIGINT,
        |    CAST(sum(v) AS BIGINT) FROM v2
        |  UNION ALL SELECT 'tag_stale', 'refused', -1, -1
        |  UNION ALL SELECT 'untag', 'summary', 2, -1
        |  UNION ALL SELECT 'expire2', 'summary', 2, 1
        |  UNION ALL SELECT 'v2_after', 'expired', -1, -1
        |  UNION ALL SELECT 'audit_after', 'no_such_tag', -1, -1
        |  UNION ALL SELECT 'live', 'readable', count(*)::BIGINT,
        |    CAST(sum(v) AS BIGINT) FROM v4)
        |SELECT step, status, n_rows, sum_v FROM allv
        |ORDER BY step""".stripMargin,
    // stream-after-expire replay: drain1 = the two commits the
    // checkpointed stream saw; expire = protocol literals (3 expired,
    // first live 4); the resume is REFUSED (literals — a silent
    // resume surfaces real aggregates here and hash-fails); live =
    // all four batches (the fresh-batch-read recovery)
    "catalog_stream_expire" ->
      """WITH b1 AS (
        |  SELECT o_custkey % 97 AS k, count(*)::BIGINT AS v
        |  FROM orders GROUP BY 1),
        |b2 AS (
        |  SELECT 1000 + o_custkey % 9 AS k, count(*)::BIGINT AS v
        |  FROM orders GROUP BY o_custkey % 9),
        |b3 AS (
        |  SELECT 2000 + o_custkey % 7 AS k, count(*)::BIGINT AS v
        |  FROM orders GROUP BY o_custkey % 7),
        |b4 AS (
        |  SELECT 3000 + o_custkey % 5 AS k, count(*)::BIGINT AS v
        |  FROM orders GROUP BY o_custkey % 5),
        |first2 AS (SELECT v FROM b1 UNION ALL SELECT v FROM b2),
        |all4 AS (
        |  SELECT v FROM first2 UNION ALL SELECT v FROM b3
        |  UNION ALL SELECT v FROM b4),
        |allv AS (
        |  SELECT 'drain1' AS step, 'readable' AS status,
        |    count(*)::BIGINT AS n_rows, CAST(sum(v) AS BIGINT) AS sum_v
        |  FROM first2
        |  UNION ALL SELECT 'expire', 'summary', 3, 4
        |  UNION ALL SELECT 'resume', 'refused', -1, -1
        |  UNION ALL SELECT 'live', 'readable', count(*)::BIGINT,
        |    CAST(sum(v) AS BIGINT) FROM all4)
        |SELECT step, status, n_rows, sum_v FROM allv
        |ORDER BY step""".stripMargin,
    // WAP replay: seed = v1, good = the clean batch, staged = seed +
    // good + the violating row (branch view), live = seed + good
    // (published v2). Summary/refused rows are protocol literals.
    "catalog_branch_wap" ->
      """WITH seed AS (
        |  SELECT o_custkey % 97 AS k, count(*)::BIGINT AS v
        |  FROM orders GROUP BY 1),
        |good AS (
        |  SELECT 2000 + o_custkey % 9 AS k, count(*)::BIGINT AS v
        |  FROM orders GROUP BY o_custkey % 9),
        |staged AS (
        |  SELECT k, v FROM seed UNION ALL SELECT k, v FROM good
        |  UNION ALL SELECT 9999::BIGINT, -5::BIGINT),
        |published AS (
        |  SELECT k, v FROM seed UNION ALL SELECT k, v FROM good),
        |allv AS (
        |  SELECT 'branch' AS step, 'summary' AS status,
        |    1::BIGINT AS n_rows, CAST(-1 AS BIGINT) AS sum_v
        |  UNION ALL SELECT 'main_staged', 'readable', count(*)::BIGINT,
        |    CAST(sum(v) AS BIGINT) FROM seed
        |  UNION ALL SELECT 'branch_staged', 'readable', count(*)::BIGINT,
        |    CAST(sum(v) AS BIGINT) FROM staged
        |  UNION ALL SELECT 'branch_ref', 'readable', count(*)::BIGINT,
        |    CAST(sum(v) AS BIGINT) FROM staged
        |  UNION ALL SELECT 'audit_dq', 'readable',
        |    (SELECT count(*) FROM staged WHERE NOT (v > 0)), -1
        |  UNION ALL SELECT 'publish_bad', 'refused', -1, -1
        |  UNION ALL SELECT 'main_after_refused', 'readable',
        |    count(*)::BIGINT, CAST(sum(v) AS BIGINT) FROM seed
        |  UNION ALL SELECT 'drop', 'summary', 1, -1
        |  UNION ALL SELECT 'publish_ok', 'summary', 2,
        |    (SELECT count(*) FROM good)
        |  UNION ALL SELECT 'live', 'readable', count(*)::BIGINT,
        |    CAST(sum(v) AS BIGINT) FROM published
        |  UNION ALL SELECT 'v2', 'readable', count(*)::BIGINT,
        |    CAST(sum(v) AS BIGINT) FROM published
        |  UNION ALL SELECT 'ref_after', 'no_such_ref', -1, -1)
        |SELECT step, status, n_rows, sum_v FROM allv
        |ORDER BY step""".stripMargin,
    // the layout changes the plan (bloom-skipped row groups), never
    // the answer: the point lookup replays as scalar-subquery probes
    "bloom_skip_layout" ->
      """WITH ext AS (
        |  SELECT min(l_orderkey) AS mn, max(l_orderkey) AS mx FROM lineitem),
        |p AS (SELECT
        |  (SELECT min(l_orderkey) FROM lineitem, ext
        |   WHERE l_orderkey >= mn + (mx - mn) // 3) AS k1,
        |  (SELECT min(l_orderkey) FROM lineitem, ext
        |   WHERE l_orderkey >= mn + 2 * ((mx - mn) // 3)) AS k2)
        |SELECT l_orderkey, count(*) AS n_lines,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS price_cents
        |FROM lineitem, p
        |WHERE l_orderkey IN (k1, k2)
        |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin,
    // three ingest generations: pre-evolution rows MUST surface the
    // EXISTS-default (7), the engine must fill the omitted column with
    // the CURRENT-default, explicit values must survive
    "catalog_defaults" ->
      """WITH legacy AS (
        |  SELECT o_custkey % 97 AS k, sum(o_orderkey)::BIGINT AS v
        |  FROM orders GROUP BY 1),
        |explicit AS (
        |  SELECT 1000 + o_custkey % 7 AS k, count(*)::BIGINT AS v,
        |    (max(o_custkey) % 5)::BIGINT AS tier
        |  FROM orders GROUP BY o_custkey % 7),
        |evolved AS (
        |  SELECT k, v, 7::BIGINT AS tier FROM legacy
        |  UNION ALL SELECT k, v, tier FROM explicit
        |  UNION ALL SELECT 2000::BIGINT, 1::BIGINT, 7::BIGINT)
        |SELECT k, v, tier FROM evolved ORDER BY k, v""".stripMargin,
    // rename keeps the data (gross = old total), drop + same-name
    // re-add must NOT resurrect the old counts (n = -1 on legacy rows)
    "catalog_evolution" ->
      """WITH legacy AS (
        |  SELECT o_custkey % 53 AS k, sum(o_orderkey)::BIGINT AS gross
        |  FROM orders GROUP BY 1),
        |evolved AS (
        |  SELECT k, gross, CAST(-1 AS BIGINT) AS n FROM legacy
        |  UNION ALL SELECT 500::BIGINT, 123::BIGINT, 7::BIGINT)
        |SELECT k, gross, n FROM evolved ORDER BY k""".stripMargin,
    // compaction must not change the data (the fold IS the scan's
    // merge); the summary row is the maintenance accounting — exactly
    // the UPDATE + DELETE deltas folded, and the post-compaction base
    "catalog_compact" ->
      """WITH base AS (
        |  SELECT o_custkey % 31 AS k, count(*)::BIGINT AS n,
        |    CAST(sum(o_orderkey) AS BIGINT) AS total
        |  FROM orders GROUP BY 1),
        |upd AS (
        |  SELECT k, n, CASE WHEN k = 3 THEN total + 7 ELSE total END AS total
        |  FROM base WHERE k <> 5),
        |final AS (
        |  SELECT k, n, total FROM upd
        |  UNION ALL SELECT 1000::BIGINT, 1::BIGINT, 42::BIGINT)
        |SELECT k, n, total,
        |  CAST((SELECT count(*) FROM base WHERE k IN (3, 5)) AS BIGINT)
        |    AS folded_deltas,
        |  CAST((SELECT count(*) FROM final) AS BIGINT) AS base_rows
        |FROM final ORDER BY k""".stripMargin,
    // the engine honored the declared clustering iff the verdicts are
    // all-true and the totals match the plain replay
    "dsv2_write_distribution" ->
      """SELECT count(*)::BIGINT AS n_rows,
        |  sum(o_orderkey)::BIGINT AS sum_key,
        |  count(DISTINCT o_custkey % 101)::BIGINT AS n_keys,
        |  7::BIGINT AS n_parts,
        |  true AS ordered, true AS disjoint
        |FROM orders""".stripMargin,
    // the committed totals must equal a plain aggregate of the input
    "dsv2_write" ->
      """SELECT count(*)::BIGINT AS n_rows,
        |  sum(o_orderkey)::BIGINT AS sum_orderkey
        |FROM orders""".stripMargin,
    "q9_bucketed" -> graft.operators.RelOps.oracle("q9_product_profit"),
    "partitioned_scan" ->
      """SELECT source, count(*) AS n_docs,
        |  sum(length(text))::BIGINT AS total_chars,
        |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |FROM documents WHERE source = 'src1'
        |GROUP BY source ORDER BY source""".stripMargin,
    "dpp_join" ->
      """SELECT n_name, count(*) AS n_cust,
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |    AS acct_cents
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_regionkey = 1
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "nested_prune" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS total_chars
        |FROM documents
        |GROUP BY source ORDER BY source""".stripMargin,
    "sorted_layout" ->
      """SELECT month(l_shipdate) AS ship_month, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "zorder_layout" ->
      """SELECT month(l_shipdate) AS ship_month, count(*) AS n,
        |  round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_suppkey < 50
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "schema_evolution" ->
      """SELECT source, count(*) AS n_docs,
        |  sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT
        |    AS legacy_rows,
        |  sum(CASE WHEN doc_id % 2 = 1
        |    THEN length(text) % 97 END)::BIGINT AS sum_quality,
        |  sum(length(text))::BIGINT AS sum_len
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "csv_roundtrip" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS sum_price
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "jsonl_roundtrip" ->
      """SELECT source, count(*) AS n_docs,
        |  sum(length(text))::BIGINT AS total_chars,
        |  min(sha256(text)) AS min_sha
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // defined equal to the FULL aggregate — the refresh must merge to
    // exactly what a recompute over all orders produces
    "mv_refresh" ->
      """SELECT o_orderpriority,
        |  count(*) AS n_orders,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0
        |    AS sum_price
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "xml_roundtrip" ->
      """SELECT s_nationkey, count(*) AS n,
        |  sum(CAST(round(s_acctbal * 100) AS BIGINT)) / 100.0 AS sum_bal,
        |  min(s_name) AS min_name
        |FROM supplier GROUP BY s_nationkey
        |ORDER BY s_nationkey""".stripMargin,
    "compact_files" ->
      """SELECT source, count(*) AS n_docs,
        |  sum(length(text))::BIGINT AS total_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // same replay as avro_roundtrip: the format changes the files,
    // never the answer
    "orc_roundtrip" -> AvroIO.oracle("avro_roundtrip"),
    // filter + aggregate replayed from the source parquet: the JDBC
    // round trip (dialect DDL, batched insert, partitioned pushed-down
    // read) must lose nothing; cents are BIGINT end-to-end
    "jdbc_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS n,
        |  sum(CAST(round(c_acctbal * 100) AS BIGINT))::BIGINT
        |    AS bal_cents
        |FROM customer WHERE c_nationkey < 10
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
    // the DATABASE computes this aggregate (PushedAggregates); the
    // oracle recomputes it from parquet — pushdown must change where
    // the work runs, never the answer
    "jdbc_agg_pushdown" ->
      """SELECT c_nationkey, count(*) AS n,
        |  sum(CAST(round(c_acctbal * 100) AS BIGINT))::BIGINT AS cents
        |FROM customer WHERE c_nationkey < 10
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,
    "merge_upsert" ->
      """WITH base AS (
        |  SELECT c_custkey AS k, c_name AS name, c_acctbal AS bal
        |  FROM customer),
        |changes AS (
        |  SELECT k, name, round(bal + 100.0, 2) AS bal
        |  FROM base WHERE k % 3 = 0
        |  UNION ALL
        |  SELECT k + 1000000 AS k, 'shadow-' || name AS name, bal
        |  FROM base WHERE k % 50 = 0)
        |SELECT coalesce(c.k, b.k) AS k,
        |  coalesce(c.name, b.name) AS name,
        |  round(coalesce(c.bal, b.bal), 2) AS bal
        |FROM base b FULL OUTER JOIN changes c ON b.k = c.k
        |ORDER BY k""".stripMargin,
  )
}
