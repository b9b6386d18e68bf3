package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Data-governance / release-engineering operators for a training-data
  * pipeline: k-anonymity generalization, differentially-private
  * aggregate release, and deterministic training-shard manifests.
  *
  * The reference (milanchheta/mapReduceGCP) has no privacy or release
  * surface — these are north-star extensions in the same spirit as the
  * dedup/decontamination families: the operations a 100 TB corpus
  * needs before data leaves the pipeline (takedown/compliance
  * aggregation, DP statistics release, reproducible shard layout for
  * trainer consumption).
  *
  * Everything here is exact-arithmetic and md5-keyed so the DuckDB
  * oracle replays it bit-for-bit (the repo-wide determinism
  * discipline): no RNG, no floats outside ulp-proof floor(log2(int))
  * windows, no engine-specific hash.
  *
  * PRIVACY CAVEAT (applies to every dp_* operator below): the md5-PRF
  * noise is keyed on the PUBLIC group key with a fixed salt so the
  * released noise itself hash-gates across engines — that makes this
  * a gate/replay DEVICE, not a private release. The stated ε only
  * holds for a deployment that (a) swaps the fixed salts for a secret
  * per-release seed, (b) ships the n_dp column ONLY (n_exact/noise
  * ride along here as audit companions), and (c) accepts the
  * truncation of the geometric depth at 19 (a 2^-20 total-variation
  * distance from the untruncated discrete Laplace — negligible but
  * formally (ε, δ≈1e-6)-DP, not pure ε-DP).
  */
object Governance {

  // ---------------------------------------------------------------- //
  // k-anonymity                                                      //
  // ---------------------------------------------------------------- //

  /** Anonymity threshold: no released group may describe fewer than K
    * individuals. */
  val K = 5

  /** Account-balance generalization width for the level-1 quasi-id. */
  val BalBand = 2000.0

  /** K-ANONYMITY with a two-step generalization ladder over the
    * customer quasi-identifiers (nation, market segment, balance
    * band):
    *
    *   level 1: (nation, segment, floor(acctbal/2000)) — released iff
    *            the cell holds ≥ K rows;
    *   level 2: rows from failing level-1 cells generalize up by
    *            DROPPING the balance band — (nation, segment) cells
    *            re-tested against K;
    *   level 3: rows still failing are suppressed into a single
    *            global residual row (count only).
    *
    * Output is the released contingency table: one row per released
    * cell `(level, nation, segment, band, n)` with band NULL above
    * level 1 and nation/segment NULL at the suppressed level. Row
    * mass is conserved: Σ n over the output = |customer| (pinned in
    * GovernanceSpec).
    *
    * Scale shape: two hash aggregates over the quasi-id projection
    * (the level-2 regroup consumes level-1 CELLS, not rows — its
    * input is bounded by the quasi-id domain, never by the corpus)
    * plus a 1-row residual. At 100 TB this is one narrow scan, one
    * shuffle on the quasi-id, and cell-level post-processing — the
    * standard Mondrian-style ladder restricted to a fixed
    * generalization order, which is what keeps it two aggregates
    * instead of a recursive partitioner.
    */
  def kAnonymize(s: SparkSession, d: String): DataFrame = {
    val g1 = Tables.customer(s, d)
      .select(col("c_nationkey"),
        col("c_mktsegment"),
        floor(col("c_acctbal") / BalBand).as("bal_band"))
      .groupBy("c_nationkey", "c_mktsegment", "bal_band")
      .agg(count(lit(1)).as("n"))
    val pass1 = g1.filter(col("n") >= K)
      .select(lit(1).as("level"), col("c_nationkey"), col("c_mktsegment"),
        col("bal_band"), col("n"))
    val g2 = g1.filter(col("n") < K)
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(sum("n").as("n"))
    val pass2 = g2.filter(col("n") >= K)
      .select(lit(2).as("level"), col("c_nationkey"), col("c_mktsegment"),
        lit(null).cast("bigint").as("bal_band"), col("n"))
    val suppressed = g2.filter(col("n") < K)
      .agg(coalesce(sum("n"), lit(0L)).as("n"))
      .filter(col("n") > 0)
      .select(lit(3).as("level"),
        lit(null).cast("int").as("c_nationkey"),
        lit(null).cast("string").as("c_mktsegment"),
        lit(null).cast("bigint").as("bal_band"), col("n"))
    pass1.unionByName(pass2).unionByName(suppressed)
      .transform(Present.sorted(_, col("level"), col("c_nationkey"),
        col("c_mktsegment"), col("bal_band")))
  }

  /** Diversity threshold: no released cell may have fewer than this
    * many DISTINCT sensitive values. */
  val LDiv = 3
  /** The demo sensitive attribute: balance cents mod 4 — deliberately
    * moderate-entropy so the diversity gate genuinely binds on cells
    * the count gate passes (7 of 45 k-passing level-1 cells at
    * sf0.01). */
  val SensMod = 4L

  /** t-closeness threshold as an exact rational: a cell releases only
    * if TVD(cell's sensitive distribution, corpus's) ≤
    * [[TCloseNum]]/[[TCloseDen]] (t = 0.3 — measured to bind both
    * ways on sf0.01: 15 of 45 k-passing level-1 cells pass it). */
  val TCloseNum = 3L
  val TCloseDen = 10L

  /** T-CLOSENESS over the same generalization ladder as
    * [[kAnonymize]]/[[lDiversity]] (Li, Li & Venkatasubramanian 2007,
    * public — the published fix for l-diversity's skewness/similarity
    * attacks: a cell can hold ≥ L distinct sensitive values whose
    * DISTRIBUTION still discloses, e.g. 99% of one value): a cell
    * releases only if it holds ≥ [[K]] rows AND the total-variation
    * distance between its sensitive-value distribution and the
    * CORPUS distribution is ≤ t; failing cells generalize up (band
    * dropped, TVD re-derived at the coarser grain against the same
    * corpus reference) and re-test; the residue suppresses. Output
    * adds `tvd_milli` (the released cell's distance in exact
    * milli-units).
    *
    * ALL arithmetic is integer-exact: with X = Σ_v |nv·N − gn·n| −
    * gn·n over the cell's PRESENT values, plus n·N (the absent
    * values' mass), TVD = X/(2nN), so the gate is X·den ≤ 2·num·n·N
    * and the reported distance ⌊500·X/(nN)⌋ — no floating point
    * anywhere, so the DuckDB replay is bit-exact regardless of
    * summation order. (The n·N products cap at ~N², BIGINT-safe past
    * sf100; a 10¹²-row corpus would move the ratio to DECIMAL.)
    *
    * Scale shape: same two hash aggregates as the sibling ladders
    * plus one broadcast of the ≤[[SensMod]]-row corpus distribution
    * and a 1-row scalar broadcast (N); the per-cell TVD folds
    * map-side over (cell, sval) rows — absent values never
    * materialize (their mass enters via the closed-form n·N term),
    * so there is no cell×domain cross anywhere. */
  def tCloseness(s: SparkSession, d: String): DataFrame = {
    val sensC = (round(col("c_acctbal") * 100).cast("bigint") % SensMod)
      .as("sval")
    val base = Tables.customer(s, d)
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / BalBand).as("bal_band"), sensC)
    val g0 = base
      .groupBy("c_nationkey", "c_mktsegment", "bal_band", "sval")
      .agg(count(lit(1)).as("nv"))
    // The corpus reference distribution and N fold from ONE collected
    // ≤SensMod-row aggregate (the documented bounded collect): the
    // previous separate customer.count() job existed only to re-derive
    // Σgn. (r19 note: persisting g0 and folding gd from it was ALSO
    // tried — the cache materialization cost more than the duplicate
    // scans of the small dim it saved: 1.65 → 2.26 s isolated; see
    // OPTIMIZATION_r19.md.)
    val gdRows = base.groupBy("sval").agg(count(lit(1)).as("gn"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val nTot = gdRows.map(_._2).sum
    // the ≤SensMod-row corpus distribution as a literal MAP: the r19
    // shape joined a broadcast gd relation per grain and needed a
    // separate per-cell total (groupBy + join + groupBy = 3 exchanges
    // per xOf, ~28 tiny AQE stage rounds for a 15 k-row dim); with gn
    // as element_at(map, sval) each grain folds in ONE aggregate —
    // collect the (sval, nv) pairs per cell and evaluate X over the
    // ≤SensMod-element array. Same exact integer arithmetic, order-
    // independent (commutative sum of per-value terms).
    val gnMap = map(gdRows.flatMap(t => Seq(lit(t._1), lit(t._2))): _*)
    // X and ⌊500·X/(nN)⌋ for each cell of `cells` at grain `keys` —
    // one hash aggregate per grain; the interpreted array fold runs
    // over cell-count × ≤SensMod elements (hundreds of rows at ANY
    // corpus size — the quasi-id domain bounds it)
    def xOf(cells: DataFrame, keys: Seq[String]): DataFrame = {
      val gnOf = (e: Column) => element_at(gnMap, e.getField("sval"))
      cells.groupBy(keys.map(col): _*)
        .agg(sum("nv").as("n"),
          collect_list(struct(col("sval"), col("nv"))).as("vs"))
        .withColumn("n_tot", lit(nTot))
        .withColumn("xpart", aggregate(col("vs"), lit(0L), (acc, e) =>
          acc + abs(e.getField("nv") * col("n_tot") - gnOf(e) * col("n"))
            - gnOf(e) * col("n")))
        .withColumn("x", col("xpart") + col("n") * col("n_tot"))
        .withColumn("tvd_milli", expr("(500 * x) div (n * n_tot)"))
    }
    val passC = col("n") >= K &&
      col("x") * TCloseDen <= lit(2L) * TCloseNum * col("n") * col("n_tot")
    // pin the CELL-level relations (bounded by the quasi-id domain —
    // hundreds of rows at any corpus size): each feeds two union
    // branches (pass + fail/suppress), and without the pin every
    // branch re-runs the full customer aggregation lineage (measured
    // 1.7 s → 0.6 s at sf0.1)
    val x1 = xOf(g0, Seq("c_nationkey", "c_mktsegment", "bal_band"))
      .persist()
    val pass1 = x1.filter(passC)
      .select(lit(1).as("level"), col("c_nationkey"), col("c_mktsegment"),
        col("bal_band"), col("n"), col("tvd_milli"))
    // failing LEVEL-1 cells regroup at the (quasi, sval) grain so the
    // level-2 distance re-derives from values, not from level-1 X's —
    // the (sval, nv) pairs ride x1's own collected array, so no
    // re-join against g0 (r19 re-ran the customer aggregation lineage
    // here) and no second scan
    val fail0 = x1.filter(!passC)
      .select(col("c_nationkey"), col("c_mktsegment"),
        explode(col("vs")).as("e"))
      .select(col("c_nationkey"), col("c_mktsegment"),
        col("e.sval").as("sval"), col("e.nv").as("nv"))
      .groupBy("c_nationkey", "c_mktsegment", "sval")
      .agg(sum("nv").as("nv"))
    val x2 = xOf(fail0, Seq("c_nationkey", "c_mktsegment")).persist()
    val pass2 = x2.filter(passC)
      .select(lit(2).as("level"), col("c_nationkey"), col("c_mktsegment"),
        lit(null).cast("bigint").as("bal_band"), col("n"), col("tvd_milli"))
    val suppressed = x2.filter(!passC)
      .agg(coalesce(sum("n"), lit(0L)).as("n"))
      .filter(col("n") > 0)
      .select(lit(3).as("level"),
        lit(null).cast("int").as("c_nationkey"),
        lit(null).cast("string").as("c_mktsegment"),
        lit(null).cast("bigint").as("bal_band"), col("n"),
        lit(null).cast("bigint").as("tvd_milli"))
    pass1.unionByName(pass2).unionByName(suppressed)
      .transform(Present.sorted(_, col("level"), col("c_nationkey"),
        col("c_mktsegment"), col("bal_band")))
  }

  /** DISTINCT l-DIVERSITY over the same generalization ladder as
    * [[kAnonymize]] (Machanavajjhala et al. 2007, public — the
    * published fix for k-anonymity's homogeneity attack: a cell of
    * ≥ K people who all share the sensitive value still discloses
    * it): a cell releases only if it holds ≥ [[K]] rows AND ≥
    * [[LDiv]] distinct sensitive values; failing rows generalize up
    * (band dropped) and re-test; the residue suppresses. Output adds
    * `n_sens` (the released cell's diversity) and conserves row mass.
    *
    * Scale shape: the extra gate costs ONE finer pre-aggregate — the
    * (quasi-id, sensitive) level, bounded by quasi-domain ×
    * [[SensMod]] — from which both n (sum) and n_sens (count) fold;
    * the level-2 regroup consumes those CELLS, never rows, so the
    * ladder stays two hash aggregates + cell-level post-processing
    * exactly like the k-only form. */
  def lDiversity(s: SparkSession, d: String): DataFrame = {
    val sens = (round(col("c_acctbal") * 100).cast("bigint") % SensMod)
      .as("sval")
    val g0 = Tables.customer(s, d)
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / BalBand).as("bal_band"), sens)
      .groupBy("c_nationkey", "c_mktsegment", "bal_band", "sval")
      .agg(count(lit(1)).as("nv"))
    val g1 = g0.groupBy("c_nationkey", "c_mktsegment", "bal_band")
      .agg(sum("nv").as("n"), count(lit(1)).as("n_sens"))
    val pass1 = g1.filter(col("n") >= K && col("n_sens") >= LDiv)
      .select(lit(1).as("level"), col("c_nationkey"), col("c_mktsegment"),
        col("bal_band"), col("n"), col("n_sens"))
    // failing LEVEL-1 cells regroup at the (quasi, sval) grain so the
    // level-2 diversity recounts distinct values, not distinct counts
    val fail0 = g0.join(
      g1.filter(col("n") < K || col("n_sens") < LDiv)
        .select("c_nationkey", "c_mktsegment", "bal_band"),
      Seq("c_nationkey", "c_mktsegment", "bal_band"))
    val g2 = fail0
      .groupBy("c_nationkey", "c_mktsegment", "sval")
      .agg(sum("nv").as("nv"))
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(sum("nv").as("n"), count(lit(1)).as("n_sens"))
    val pass2 = g2.filter(col("n") >= K && col("n_sens") >= LDiv)
      .select(lit(2).as("level"), col("c_nationkey"), col("c_mktsegment"),
        lit(null).cast("bigint").as("bal_band"), col("n"), col("n_sens"))
    val suppressed = g2.filter(col("n") < K || col("n_sens") < LDiv)
      .agg(coalesce(sum("n"), lit(0L)).as("n"))
      .filter(col("n") > 0)
      .select(lit(3).as("level"),
        lit(null).cast("int").as("c_nationkey"),
        lit(null).cast("string").as("c_mktsegment"),
        lit(null).cast("bigint").as("bal_band"), col("n"),
        lit(null).cast("bigint").as("n_sens"))
    pass1.unionByName(pass2).unionByName(suppressed)
      .transform(Present.sorted(_, col("level"), col("c_nationkey"),
        col("c_mktsegment"), col("bal_band")))
  }

  // ---------------------------------------------------------------- //
  // Differentially-private release                                   //
  // ---------------------------------------------------------------- //

  /** 20-bit deterministic uniform from md5(salt ++ key): 5 hex chars
    * → [0, 2^20). Same expression the DuckDB oracle uses. */
  private def h20(key: Column, salt: String): Column =
    conv(substring(md5(concat(lit(salt), key.cast("string"))), 1, 5), 16, 10)
      .cast("bigint")

  /** Geometric(1/2) depth of a 20-bit uniform, computed ULP-PROOF:
    * G = max(0, 19 - floor(log2(h + 1.5))). The +1.5 keeps the log2
    * argument ≥ 0.5 away from every power of two, so floor() cannot
    * straddle a boundary on a 1-ulp libm disagreement between the JVM
    * and DuckDB — the gate's cross-engine float discipline. G ∈
    * [0, 19]; P(G = g) ≈ 2^-(g+1). */
  private def geomDepth(h: Column): Column =
    greatest(lit(0L), lit(19L) - floor(log2(h + lit(1.5d))))

  /** DIFFERENTIALLY-PRIVATE COUNT RELEASE over events by event_type:
    * the released count is `n + (G1 − G2)` clamped at 0, where G1, G2
    * are independent geometric(1/2) draws — their difference is the
    * two-sided (discrete-Laplace) geometric mechanism with ε = ln 2
    * for the unit-sensitivity count. Post-processing (the max(0, ·)
    * clamp) preserves DP.
    *
    * The "randomness" is an md5-keyed PRF of the group key (a fixed
    * release seed), so the release is reproducible AND the DuckDB
    * oracle replays the mechanism exactly — the noise itself is part
    * of the hash gate, not bracket-checked around it. That exactness
    * is what the integer-log2 construction in [[geomDepth]] buys.
    *
    * Output: (event_type, n_exact, noise, n_dp). n_exact rides along
    * as the audit companion (this is a correctness harness, not a
    * production release — a real release ships n_dp only).
    *
    * Scale shape: one hash aggregate; the mechanism is a scalar
    * expression over the |groups|-row result. Noise cost is zero at
    * any corpus size.
    */
  def dpRelease(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_exact"))
      .withColumn("noise",
        geomDepth(h20(col("event_type"), "dpa")) -
          geomDepth(h20(col("event_type"), "dpb")))
      .withColumn("n_dp", greatest(lit(0L), col("n_exact") + col("noise")))
      .transform(Present.sorted(_, col("event_type")))
  }

  /** Per-record clip bound for the DP sum, in exact integer cents —
    * the mechanism's SENSITIVITY: one customer can move the clipped
    * sum by at most this. */
  val DpClipCents = 500000L

  /** DIFFERENTIALLY-PRIVATE SUM with clipping — the sensitivity-C
    * generalization of [[dpRelease]] (counts are the C = 1 case):
    * each account balance is clipped to [0, C] in exact integer cents
    * (the Money-family fixed-point rule, so both engines agree
    * bit-for-bit), and the release adds C × (G1 − G2) — the discrete
    * Laplace scaled to the sensitivity grid, ε = ln 2 for the clipped
    * sum. Clipping before summation is what BOUNDS the sensitivity; an
    * unclipped sum has none and cannot be released. Same md5-PRF
    * noise, same exact cross-engine replay, same zero marginal cost
    * at any corpus size. */
  def dpSum(s: SparkSession, d: String): DataFrame = {
    val cents = round(col("c_acctbal") * 100).cast("bigint")
    Tables.customer(s, d)
      .select(col("c_mktsegment"),
        least(greatest(cents, lit(0L)), lit(DpClipCents)).as("clipped"))
      .groupBy("c_mktsegment")
      .agg(sum("clipped").as("sum_clipped"))
      .withColumn("noise_units",
        geomDepth(h20(col("c_mktsegment"), "dsa")) -
          geomDepth(h20(col("c_mktsegment"), "dsb")))
      .withColumn("dp_sum", greatest(lit(0L),
        col("sum_clipped") + lit(DpClipCents) * col("noise_units")))
      .transform(Present.sorted(_, col("c_mktsegment")))
  }

  /** Per-user contribution cap within one group for the user-level DP
    * count. */
  val DpUserCap = 8L
  /** Per-user GROUP bound: a user counts toward at most this many
    * groups (deterministic rank by group name). */
  val DpMaxGroups = 3L

  /** USER-LEVEL differentially-private count — the distinction that
    * makes DP releases meaningful on event data: [[dpRelease]]
    * protects single EVENTS, but one user contributes many events
    * across many groups, so event-level ε says nothing about a
    * person. The DP-SQL shape (Wilson et al., public) bounds BOTH
    * dimensions: each user counts toward at most [[DpMaxGroups]]
    * groups (deterministic rank by group name — exact, replayable)
    * and at most [[DpUserCap]] events within each, so removing one
    * user moves the release vector by at most L1 = MaxGroups × Cap.
    * Each group's noise is the discrete Laplace on THAT grid
    * (MaxGroups × Cap × (G1 − G2)) — ε = ln 2 per USER for the whole
    * release. Bounding per group alone (the tempting shortcut) leaks
    * ε × |groups touched| per user — the composition mistake the
    * group bound exists to prevent.
    *
    * Scale shape: one hash aggregate to (user, group) counts, a
    * window over each user's ≤|groups| rows (tiny — it runs on the
    * aggregate, never the raw events), one more aggregate, then a
    * |groups|-row scalar mechanism. No corpus-wide sort anywhere. */
  def dpUserCount(s: SparkSession, d: String): DataFrame = {
    // group choice per user = md5 rank, not name rank: a name rank
    // starves every late-alphabet group of ALL contributions (each
    // user keeps the same 3 types), while the PRF rank spreads kept
    // groups uniformly — same privacy, released vector covers the
    // domain. Deterministic and oracle-replayable like every md5 rule.
    val wg = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(md5(concat(col("user_id").cast("string"), lit(":"),
        col("event_type"))), col("event_type"))
    val grid = DpMaxGroups * DpUserCap
    Tables.events(s, d)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("n"))
      .withColumn("grank", row_number().over(wg))
      .filter(col("grank") <= DpMaxGroups)
      .groupBy("event_type")
      .agg(sum(least(col("n"), lit(DpUserCap))).as("n_capped"))
      .withColumn("noise_units",
        geomDepth(h20(col("event_type"), "dua")) -
          geomDepth(h20(col("event_type"), "dub")))
      .withColumn("n_dp", greatest(lit(0L),
        col("n_capped") + lit(grid) * col("noise_units")))
      .transform(Present.sorted(_, col("event_type")))
  }

  // ---------------------------------------------------------------- //
  // Privacy-budget ledger                                            //
  // ---------------------------------------------------------------- //

  /** Total ε budget for the release family, in units of ln 2 (every
    * mechanism above spends exactly one unit per release — integer
    * accounting, so the ledger hash-gates). */
  val DpBudgetUnits = 3L

  /** The release schedule the ledger accounts: seq order is the
    * order releases were requested; the fourth entry is a REFRESH of
    * the count release — a real pipeline's "monthly re-publish" —
    * which is exactly the request a budget must refuse: composition
    * is additive (each release spends its ε whether or not earlier
    * ones were on the same statistic), so the refresh would take the
    * family past [[DpBudgetUnits]]. */
  private[graft] val DpSchedule: Seq[(Long, String)] = Seq(
    1L -> "dp_release", 2L -> "dp_sum", 3L -> "dp_user_count",
    4L -> "dp_release_refresh")

  private[graft] val dpLedgerStores = new graft.Landed[String]("graft_dpledger")

  /** Land the per-release ε sidecar (seq, release, eps_units) — the
    * idf/nll-sidecar pattern applied to privacy accounting: the spend
    * is recorded WHERE the releases live, so every later release
    * request reads the ledger instead of trusting its caller. Tiny by
    * construction (one row per release ever made). */
  private def dpLedgerRoot(s: SparkSession, d: String): String =
    dpLedgerStores.root(d) { out =>
      import scala.jdk.CollectionConverters._
      s.createDataFrame(
        DpSchedule.map { case (seq, rel) =>
          org.apache.spark.sql.Row(seq, rel, 1L) }.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("seq",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("release",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("eps_units",
            org.apache.spark.sql.types.LongType))))
        .write.mode("overwrite").parquet(out)
    }

  /** The landed ledger as a fresh store read — exposed so the spec
    * can pin one row per release. */
  private[graft] def dpLedger(s: SparkSession, d: String): DataFrame =
    s.read.parquet(dpLedgerRoot(s, d))

  /** PRIVACY-BUDGET ACCOUNTING across the DP release family: the
    * landed ε ledger composed against the declared [[DpBudgetUnits]]
    * budget — cumulative spend in seq order, and the release whose
    * spend would exceed the budget is REFUSED (released = false,
    * released vector withheld as a NULL n_rows). Composition is the
    * basic DP theorem: ε's add across releases on the same data, so
    * a refresh of an earlier statistic still spends a full unit —
    * the ledger is what stops the quiet fourth release that would
    * otherwise double the count mechanism's ε.
    *
    * Output: (seq, release, eps_units, cum_units, budget_units,
    * released, n_rows) — n_rows is each RELEASED mechanism's group
    * count (the released vector's size, from the same tables the
    * mechanisms aggregate), NULL for the refused release.
    *
    * Admission is GREEDY: a refused release spends NO privacy budget
    * (nothing was published, so no ε left the system), so the
    * cumulative spend advances only on accepted rows and a later,
    * smaller release can still be admitted after a refusal. (A
    * refused-rows-too prefix sum was harmless while the only refusal
    * sat last in the schedule; greedy is the rule that stays correct
    * if the schedule grows past it.)
    *
    * Scale shape: the admission fold is inherently sequential (each
    * decision conditions on the accepted prefix) and the ledger is
    * |releases| rows by construction — the documented bounded collect;
    * the group counts stay one narrow distinct-aggregate per released
    * table. */
  def dpBudget(s: SparkSession, d: String): DataFrame = {
    val led = dpLedger(s, d)
    def sized(rel: String, df: DataFrame, k: Column): DataFrame =
      df.agg(countDistinct(k).as("n")).select(lit(rel).as("release"),
        col("n").cast("bigint").as("n"))
    val ev = Tables.events(s, d)
    val sizes = sized("dp_release", ev, col("event_type"))
      .unionByName(sized("dp_sum", Tables.customer(s, d),
        col("c_mktsegment")))
      .unionByName(sized("dp_user_count", ev, col("event_type")))
      .unionByName(sized("dp_release_refresh", ev, col("event_type")))
    // greedy admission over the LANDED ledger (decisions derive from
    // the sidecar artifact, not the schedule constant)
    val entries = led.orderBy("seq").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    var cum = 0L
    val decided = entries.map { case (seq, rel, eps) =>
      val ok = cum + eps <= DpBudgetUnits
      if (ok) cum += eps
      (seq, rel, eps, cum, ok)
    }
    import s.implicits._
    decided.toDF("seq", "release", "eps_units", "cum_units", "released")
      .join(sizes, "release")
      .withColumn("budget_units", lit(DpBudgetUnits))
      .select(col("seq"), col("release"), col("eps_units"),
        col("cum_units"), col("budget_units"), col("released"),
        when(col("released"), col("n")).as("n_rows"))
      .transform(Present.sorted(_, col("seq")))
  }

  // ---------------------------------------------------------------- //
  // Training-shard manifest                                          //
  // ---------------------------------------------------------------- //

  /** Number of output shards for the manifest rung. At 100 TB this is
    * O(10^5) (one shard ≙ one trainer file of ~256 MB–1 GB); the
    * mechanism below is shard-count-free. */
  val NumShards = 16

  /** Modulus for the order-sensitive checksum (2^31 − 1, prime).
    * contrib = (h·rank) mod P < 2^31 and ranks < 2^23 at any tested
    * sf, so every intermediate fits comfortably in a BIGINT. */
  val ChecksumMod = 2147483647L

  /** DETERMINISTIC TRAINING-SHARD MANIFEST over documents: the
    * "global shuffle + shard" step every trainer consumes, made
    * reproducible and auditable.
    *
    *   shard   = md5-bucket(doc_id) mod NumShards — assignment is a
    *             PRF of the id, NOT a global row_number: no global
    *             sort, fully parallel, stable under corpus appends
    *             (an existing doc never changes shard).
    *   order   = within a shard, docs sort by md5('order'‖doc_id) —
    *             the seeded shuffle order the shard file is written
    *             in (a per-shard parallel sort, ≙ the shard writer).
    *             The 'order' salt is DISTINCT from the assignment's
    *             'shard' salt, so order and assignment derive from
    *             independent PRFs (with a shared salt the shard was
    *             literally a prefix function of the sort key).
    *   checksum= Σ (h52(doc_id)·rank mod P) mod P — ORDER-SENSITIVE
    *             (swapping two docs changes it), computable as a
    *             plain aggregate over the ranked rows, so the
    *             manifest never materializes a shard's id list on one
    *             node (the collect_list checksum alternative is the
    *             skew hazard SURVEY §7.4 bans).
    *
    * Output: one manifest row per shard — (shard, n_docs,
    * total_chars, checksum). Trainer-side, the manifest is the
    * receipt that a re-produced shard byte-order matches the release.
    *
    * Scale shape: one narrow projection, one shuffle on shard, one
    * per-shard sort (the window), one aggregate. Shards are
    * hash-uniform by construction so the per-shard sort has no skew;
    * GovernanceSpec pins mass conservation and the
    * order-sensitivity of the checksum.
    */
  def shardManifest(s: SparkSession, d: String): DataFrame =
    manifestOf(Tables.documents(s, d), "n_chars", "total_chars")

  /** The manifest mechanism over ANY (doc_id, weight) relation — one
    * definition shared by the raw-corpus manifest and the
    * [[PipelineOps]] release capstone so the two cannot drift. */
  private[operators] def manifestOf(docs: DataFrame, weightCol: String,
                                    weightName: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(col("sortkey"), col("doc_id"))
    val h52 = conv(substring(md5(concat(lit("ck"),
      col("doc_id").cast("string"))), 1, 13), 16, 10).cast("bigint")
    docs
      .select(col("doc_id"), col(weightCol),
        PipelineOps.hashBucket(col("doc_id"), NumShards, "shard").as("shard"),
        md5(concat(lit("order"), col("doc_id").cast("string"))).as("sortkey"))
      .withColumn("rnk", row_number().over(w))
      .withColumn("contrib", (h52 % ChecksumMod) * col("rnk") % ChecksumMod)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(weightCol).as(weightName),
        sum("contrib").%(ChecksumMod).as("checksum"))
      .transform(Present.sorted(_, col("shard")))
  }

  /** Every [[ManifestIncrEvery]]-th doc plays the APPENDED batch for
    * the incremental manifest — deliberately sparse (≈0.2% of gate
    * corpora) so a meaningful set of shards receives NO batch doc and
    * the append-stability receipt is non-vacuous. */
  val ManifestIncrEvery = 100L
  val ManifestIncrSlot  = 97L

  private[graft] val manifestBaseStores = new graft.Landed[String]("graft_manifbase")

  /** Land yesterday's manifest: [[manifestOf]] over the corpus minus
    * the arriving batch — the artifact a production release already
    * has on disk when the append lands. */
  private def manifestBaseRoot(s: SparkSession, d: String): String =
    manifestBaseStores.root(d) { out =>
      manifestOf(Tables.documents(s, d)
          .filter(col("doc_id") % ManifestIncrEvery =!= ManifestIncrSlot),
        "n_chars", "total_chars")
        .write.mode("overwrite").parquet(out)
    }

  /** The landed base manifest as a fresh store read — exposed so the
    * spec can pin byte-stability of the untouched shards. */
  private[graft] def manifestBase(s: SparkSession, d: String): DataFrame =
    s.read.parquet(manifestBaseRoot(s, d))

  /** INCREMENTAL shard manifest — the append-stability receipt the
    * PRF assignment was designed for: appending a doc batch touches
    * ONLY the shards the batch's ids hash into (assignment is a pure
    * function of doc_id — an existing doc never moves), so the
    * refresh recomputes those shards over their full membership and
    * every untouched shard's manifest row is read back from the
    * LANDED base artifact byte-identically (n_docs, total_chars, AND
    * the order-sensitive checksum — the within-shard sort key is a
    * doc-id PRF too, so old docs' ranks only change in shards that
    * actually received an insertion).
    *
    * Result is DEFINED ≡ the full [[shardManifest]], so the oracle is
    * the same full replay — a stale untouched row, a missed touched
    * shard, or a rank drift in the recompute hash-fails.
    *
    * Scale shape: touched shards are a ≤ NumShards literal set (the
    * collect is the refresh plan, not data); the recompute's window
    * runs over touched membership only — at 100 TB the corpus is
    * stored shard-partitioned, so the membership filter IS partition
    * pruning and refresh cost is ∝ touched shards, never ∝ corpus. */
  def shardManifestIncremental(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val shardOf = PipelineOps.hashBucket(col("doc_id"), NumShards, "shard")
    val touched = docs
      .filter(col("doc_id") % ManifestIncrEvery === ManifestIncrSlot)
      .select(shardOf.as("shard")).distinct()
      .collect().map(_.getLong(0)).toIndexedSeq // ≤ NumShards by construction
    val recomputed = manifestOf(docs.filter(shardOf.isin(touched: _*)),
      "n_chars", "total_chars")
    manifestBase(s, d).filter(!col("shard").isin(touched: _*))
      .unionByName(recomputed)
      .transform(Present.sorted(_, col("shard")))
  }

  /** The manifest replay over a relation named `rel` carrying
    * (doc_id, weight) — the SQL twin of [[manifestOf]], exposed so
    * the release capstone's oracle composes it over the pipeline's
    * survivor CTE. */
  private[operators] def manifestSqlOver(rel: String, weightExpr: String,
                                         weightName: String): String =
    s"""mbase AS (
       |  SELECT doc_id, $weightExpr AS mweight,
       |    ${PipelineOps.bucketSql("doc_id::VARCHAR", NumShards, "shard")}
       |      AS shard,
       |    md5('order' || doc_id::VARCHAR) AS sortkey,
       |    ('0x' || substring(md5('ck' || doc_id::VARCHAR), 1, 13))::BIGINT
       |      AS h52
       |  FROM $rel),
       |mranked AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY shard ORDER BY sortkey, doc_id) AS rnk
       |  FROM mbase)
       |SELECT shard, count(*) AS n_docs,
       |  CAST(sum(mweight) AS BIGINT) AS $weightName,
       |  CAST(sum((h52 % ${ChecksumMod}) * rnk % ${ChecksumMod})
       |    % ${ChecksumMod} AS BIGINT) AS checksum
       |FROM mranked GROUP BY shard ORDER BY shard""".stripMargin

  // ---------------------------------------------------------------- //
  // Takedown audit                                                   //
  // ---------------------------------------------------------------- //

  /** TAKEDOWN AUDIT — the compliance capstone over the suite's delete
    * verbs: one row per landed index family reporting the takedown
    * batch's footprint (tombstone sidecar size, live rows before, live
    * rows after the purge) — the evidence table a data-protection
    * review asks for ("show me every store the deleted ids lived in,
    * and that each purge removed exactly them"). Every number comes
    * from a LANDED doc-grain artifact (the store's doc registry and
    * its tombstone sidecar — counts only, nothing corpus-shaped
    * moves), so the audit is six 1-row aggregates unioned: zero
    * marginal cost at any corpus size.
    *
    * live_after is DERIVED (before − tombstones) rather than read
    * from the purged stores so the oracle can replay it from the raw
    * tables; the per-family specs already pin purged = store −
    * tombstones exactly, which is what licenses the derivation. */
  def takedownAudit(s: SparkSession, d: String): DataFrame = {
    def rowOf(name: String, live: DataFrame, tomb: DataFrame): DataFrame =
      live.agg(count(lit(1)).as("live_before"))
        .crossJoin(broadcast(tomb.agg(count(lit(1)).as("tombstones"))))
        .select(lit(name).as("store"), col("tombstones"),
          col("live_before"),
          (col("live_before") - col("tombstones")).as("live_after"))
    rowOf("ann_ivf", Similarity.ivfStore(s, d)._1,
        Similarity.ivfTombStore(s, d))
      .unionByName(rowOf("bm25_postings", Retrieval.dlStore(s, d),
        Retrieval.tombStore(s, d)))
      .unionByName(rowOf("media_features", Multimodal.featuresTable(s, d),
        Multimodal.mediaTombStore(s, d)))
      .unionByName(rowOf("minhash_signatures",
        SigStore.forDataset(s, d).sig(s), Dedup.lshTombStore(s, d)))
      // the positional store shares bm25's doc id space, its
      // tombstone sidecar, AND its doc registry (a doc owns ≥ 1
      // positional row iff it owns ≥ 1 token — the dl sidecar's
      // membership exactly), so the row counts the doc-grain artifact
      // instead of distinct-aggregating the token-grain store (which
      // would be the one corpus-shaped read in the audit)
      .unionByName(rowOf("positional_postings", Retrieval.dlStore(s, d),
        Retrieval.tombStore(s, d)))
      // the VERSION-HISTORY face of the delete story: a takedown
      // against a versioned catalog table is only real once expired
      // versions can no longer resurrect it — this row's live_after
      // embeds a reachable-purged-rows addend (provably 0) summed
      // over every still-readable version
      // ([[graft.sources.StorageOps.expireAuditRow]])
      .unionByName(graft.sources.StorageOps.expireAuditRow(s, d))
      .transform(Present.sorted(_, col("store")))
  }

  // ---------------------------------------------------------------- //
  // registry                                                         //
  // ---------------------------------------------------------------- //

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "k_anonymize"    -> kAnonymize _,
    "l_diversity"    -> lDiversity _,
    "t_closeness"    -> tCloseness _,
    "dp_release"     -> dpRelease _,
    "dp_sum"         -> dpSum _,
    "dp_user_count"  -> dpUserCount _,
    "dp_budget"      -> dpBudget _,
    "shard_manifest" -> shardManifest _,
    "shard_manifest_incremental" -> shardManifestIncremental _,
    "takedown_audit" -> takedownAudit _,
  )

  /** The geometric-difference noise expression over an md5-PRF of
    * `keyExpr` — the SQL twin of [[geomDepth]]∘[[h20]], shared by the
    * count and sum releases. */
  private def noiseSql(keyExpr: String, saltA: String, saltB: String)
      : String = {
    def g(salt: String) =
      s"""greatest(0, 19 - CAST(floor(log2(
         |      ('0x' || substring(md5('$salt' || $keyExpr), 1, 5))::BIGINT
         |      + 1.5)) AS BIGINT))""".stripMargin
    s"${g(saltA)}\n    - ${g(saltB)}"
  }

  val oracle: Map[String, String] = Map(
    "k_anonymize" ->
      s"""WITH g1 AS (
         |  SELECT c_nationkey, c_mktsegment,
         |    CAST(floor(c_acctbal / $BalBand) AS BIGINT) AS bal_band,
         |    count(*) AS n
         |  FROM customer GROUP BY 1, 2, 3),
         |g2 AS (
         |  SELECT c_nationkey, c_mktsegment, CAST(sum(n) AS BIGINT) AS n
         |  FROM g1 WHERE n < $K GROUP BY 1, 2)
         |SELECT * FROM (
         |  SELECT 1 AS level, c_nationkey, c_mktsegment, bal_band, n
         |  FROM g1 WHERE n >= $K
         |  UNION ALL
         |  SELECT 2, c_nationkey, c_mktsegment, NULL, n
         |  FROM g2 WHERE n >= $K
         |  UNION ALL
         |  SELECT 3, NULL, NULL, NULL, CAST(sum(n) AS BIGINT)
         |  FROM g2 WHERE n < $K HAVING sum(n) > 0)
         |ORDER BY level, c_nationkey, c_mktsegment, bal_band""".stripMargin,
    // the ladder replayed at the (quasi, sensitive) grain so both
    // gates re-derive at each level — a level-2 diversity computed
    // from level-1 DISTINCT COUNTS (instead of values) hash-fails
    "l_diversity" ->
      s"""WITH g0 AS (
         |  SELECT c_nationkey, c_mktsegment,
         |    CAST(floor(c_acctbal / $BalBand) AS BIGINT) AS bal_band,
         |    CAST(round(c_acctbal * 100) AS BIGINT) % $SensMod AS sval,
         |    count(*) AS nv
         |  FROM customer GROUP BY 1, 2, 3, 4),
         |g1 AS (
         |  SELECT c_nationkey, c_mktsegment, bal_band,
         |    CAST(sum(nv) AS BIGINT) AS n, count(*)::BIGINT AS n_sens
         |  FROM g0 GROUP BY 1, 2, 3),
         |fail0 AS (
         |  SELECT g0.* FROM g0
         |  JOIN g1 USING (c_nationkey, c_mktsegment, bal_band)
         |  WHERE g1.n < $K OR g1.n_sens < $LDiv),
         |g2a AS (
         |  SELECT c_nationkey, c_mktsegment, sval,
         |    CAST(sum(nv) AS BIGINT) AS nv
         |  FROM fail0 GROUP BY 1, 2, 3),
         |g2 AS (
         |  SELECT c_nationkey, c_mktsegment,
         |    CAST(sum(nv) AS BIGINT) AS n, count(*)::BIGINT AS n_sens
         |  FROM g2a GROUP BY 1, 2)
         |SELECT * FROM (
         |  SELECT 1 AS level, c_nationkey, c_mktsegment, bal_band,
         |    n, n_sens
         |  FROM g1 WHERE n >= $K AND n_sens >= $LDiv
         |  UNION ALL
         |  SELECT 2, c_nationkey, c_mktsegment, NULL, n, n_sens
         |  FROM g2 WHERE n >= $K AND n_sens >= $LDiv
         |  UNION ALL
         |  SELECT 3, NULL, NULL, NULL, CAST(sum(n) AS BIGINT), NULL
         |  FROM g2 WHERE n < $K OR n_sens < $LDiv HAVING sum(n) > 0)
         |ORDER BY level, c_nationkey, c_mktsegment, bal_band""".stripMargin,
    // the ladder replayed with the SAME integer-exact TVD algebra
    // (X = Σ|nv·N − gn·n| − gn·n + n·N; gate X·den ≤ 2·num·n·N;
    // report ⌊500X/(nN)⌋) — no floats, so summation order is moot
    "t_closeness" ->
      s"""WITH base AS (
         |  SELECT c_nationkey, c_mktsegment,
         |    CAST(floor(c_acctbal / $BalBand) AS BIGINT) AS bal_band,
         |    CAST(round(c_acctbal * 100) AS BIGINT) % $SensMod AS sval
         |  FROM customer),
         |g0 AS (
         |  SELECT c_nationkey, c_mktsegment, bal_band, sval,
         |    count(*)::BIGINT AS nv
         |  FROM base GROUP BY 1, 2, 3, 4),
         |g1 AS (
         |  SELECT c_nationkey, c_mktsegment, bal_band,
         |    CAST(sum(nv) AS BIGINT) AS n
         |  FROM g0 GROUP BY 1, 2, 3),
         |gd AS (SELECT sval, count(*)::BIGINT AS gn FROM base GROUP BY 1),
         |nt AS (SELECT count(*)::BIGINT AS n_tot FROM base),
         |x1 AS (
         |  SELECT g0.c_nationkey, g0.c_mktsegment, g0.bal_band, g1.n,
         |    nt.n_tot,
         |    CAST(sum(abs(g0.nv * nt.n_tot - gd.gn * g1.n) - gd.gn * g1.n)
         |      + g1.n * nt.n_tot AS BIGINT) AS x
         |  FROM g0 JOIN g1 USING (c_nationkey, c_mktsegment, bal_band)
         |  JOIN gd USING (sval) CROSS JOIN nt
         |  GROUP BY 1, 2, 3, 4, 5),
         |f0 AS (
         |  SELECT g0.c_nationkey, g0.c_mktsegment, g0.sval,
         |    CAST(sum(g0.nv) AS BIGINT) AS nv
         |  FROM g0 JOIN x1 USING (c_nationkey, c_mktsegment, bal_band)
         |  WHERE NOT (x1.n >= $K AND
         |    x1.x * $TCloseDen <= 2 * $TCloseNum * x1.n * x1.n_tot)
         |  GROUP BY 1, 2, 3),
         |g2 AS (
         |  SELECT c_nationkey, c_mktsegment, CAST(sum(nv) AS BIGINT) AS n
         |  FROM f0 GROUP BY 1, 2),
         |x2 AS (
         |  SELECT f0.c_nationkey, f0.c_mktsegment, g2.n, nt.n_tot,
         |    CAST(sum(abs(f0.nv * nt.n_tot - gd.gn * g2.n) - gd.gn * g2.n)
         |      + g2.n * nt.n_tot AS BIGINT) AS x
         |  FROM f0 JOIN g2 USING (c_nationkey, c_mktsegment)
         |  JOIN gd USING (sval) CROSS JOIN nt
         |  GROUP BY 1, 2, 3, 4)
         |SELECT * FROM (
         |  SELECT 1 AS level, c_nationkey, c_mktsegment, bal_band, n,
         |    (500 * x) // (n * n_tot) AS tvd_milli
         |  FROM x1 WHERE n >= $K
         |    AND x * $TCloseDen <= 2 * $TCloseNum * n * n_tot
         |  UNION ALL
         |  SELECT 2, c_nationkey, c_mktsegment, NULL, n,
         |    (500 * x) // (n * n_tot)
         |  FROM x2 WHERE n >= $K
         |    AND x * $TCloseDen <= 2 * $TCloseNum * n * n_tot
         |  UNION ALL
         |  SELECT 3, NULL, NULL, NULL, CAST(sum(n) AS BIGINT), NULL
         |  FROM x2 WHERE NOT (n >= $K
         |    AND x * $TCloseDen <= 2 * $TCloseNum * n * n_tot)
         |  HAVING sum(n) > 0)
         |ORDER BY level, c_nationkey, c_mktsegment, bal_band""".stripMargin,
    "dp_release" ->
      s"""WITH g AS (
         |  SELECT event_type, count(*) AS n_exact FROM events GROUP BY 1),
         |z AS (
         |  SELECT event_type, n_exact,
         |    ${noiseSql("event_type", "dpa", "dpb")} AS noise
         |  FROM g)
         |SELECT event_type, n_exact, noise,
         |  greatest(0, n_exact + noise) AS n_dp
         |FROM z ORDER BY event_type""".stripMargin,
    "dp_user_count" ->
      s"""WITH ug AS (
         |  SELECT user_id, event_type, count(*) AS n
         |  FROM events GROUP BY 1, 2),
         |bounded AS (
         |  SELECT event_type, least(n, $DpUserCap) AS nc FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY user_id
         |      ORDER BY md5(user_id::VARCHAR || ':' || event_type),
         |        event_type) AS grank
         |    FROM ug)
         |  WHERE grank <= $DpMaxGroups),
         |g AS (
         |  SELECT event_type, CAST(sum(nc) AS BIGINT) AS n_capped
         |  FROM bounded GROUP BY 1),
         |z AS (
         |  SELECT event_type, n_capped,
         |    ${noiseSql("event_type", "dua", "dub")} AS noise_units
         |  FROM g)
         |SELECT event_type, n_capped, noise_units,
         |  greatest(0, n_capped + ${DpMaxGroups * DpUserCap} * noise_units)
         |    AS n_dp
         |FROM z ORDER BY event_type""".stripMargin,
    "dp_sum" ->
      s"""WITH g AS (
         |  SELECT c_mktsegment,
         |    CAST(sum(least(greatest(
         |      CAST(round(c_acctbal * 100) AS BIGINT), 0), $DpClipCents))
         |      AS BIGINT) AS sum_clipped
         |  FROM customer GROUP BY 1),
         |z AS (
         |  SELECT c_mktsegment, sum_clipped,
         |    ${noiseSql("c_mktsegment", "dsa", "dsb")} AS noise_units
         |  FROM g)
         |SELECT c_mktsegment, sum_clipped, noise_units,
         |  greatest(0, sum_clipped + $DpClipCents * noise_units) AS dp_sum
         |FROM z ORDER BY c_mktsegment""".stripMargin,
    "shard_manifest" ->
      s"WITH ${manifestSqlOver("documents", "n_chars", "total_chars")}",
    // each family's live set replayed from the raw tables with its
    // own membership rule (bm25 indexes docs with ≥1 token; the sig
    // store docs with ≥1 df-capped shingle; media every doc; ivf
    // every vector) and its delete slot — a tombstone sidecar that
    // drifted from its slot, or a store that indexed a different
    // membership, hash-fails the audit
    "takedown_audit" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(${Tokenizers.Letters.sql}) AS w FROM documents),
         |bmdocs AS (SELECT DISTINCT doc_id FROM toks),
         |lt AS (
         |  SELECT doc_id,
         |    ${Tokenizers.Letters.sql} AS t
         |  FROM documents),
         |sh0 AS (
         |  SELECT DISTINCT doc_id,
         |    array_to_string(t[i:i+2], ' ') AS shingle
         |  FROM lt, unnest(range(1, greatest(len(t) - 1, 1))) AS r(i)),
         |shc AS (
         |  SELECT doc_id, shingle FROM sh0
         |  QUALIFY count(*) OVER (PARTITION BY shingle)
         |    <= ${Dedup.MaxShingleDf}),
         |sigdocs AS (SELECT DISTINCT doc_id FROM shc),
         |tda AS (
         |  SELECT CAST(sum(o_orderkey) AS BIGINT) AS v
         |  FROM orders GROUP BY o_custkey % 89),
         |rows AS (
         |  SELECT 'ann_ivf' AS store,
         |    count(*) FILTER (vec_id % ${Similarity.IvfDelEvery}
         |      = ${Similarity.IvfDelSlot})::BIGINT AS tombstones,
         |    count(*)::BIGINT AS live_before
         |  FROM embeddings
         |  UNION ALL
         |  SELECT 'bm25_postings',
         |    count(*) FILTER (doc_id % ${Retrieval.DelEvery}
         |      = ${Retrieval.DelSlot})::BIGINT,
         |    count(*)::BIGINT
         |  FROM bmdocs
         |  UNION ALL
         |  SELECT 'media_features',
         |    count(*) FILTER (doc_id % ${Multimodal.MediaDelEvery}
         |      = ${Multimodal.MediaDelSlot})::BIGINT,
         |    count(*)::BIGINT
         |  FROM documents
         |  UNION ALL
         |  SELECT 'minhash_signatures',
         |    count(*) FILTER (doc_id % ${Dedup.DelEvery}
         |      = ${Dedup.DelSlot})::BIGINT,
         |    count(*)::BIGINT
         |  FROM sigdocs
         |  UNION ALL
         |  SELECT 'positional_postings',
         |    count(*) FILTER (doc_id % ${Retrieval.DelEvery}
         |      = ${Retrieval.DelSlot})::BIGINT,
         |    count(*)::BIGINT
         |  FROM bmdocs
         |  UNION ALL
         |  SELECT 'catalog_versions',
         |    (SELECT count(*) FILTER (v % 5 = 4) FROM tda)::BIGINT,
         |    (SELECT count(*) FROM tda)::BIGINT)
         |SELECT store, tombstones, live_before,
         |  live_before - tombstones AS live_after
         |FROM rows ORDER BY store""".stripMargin,
    // incremental maintenance must be invisible: untouched-from-base ∪
    // recomputed-touched ≡ the full manifest, so the oracle is the
    // same full replay — a stale untouched row, a missed touched
    // shard, or a rank drift in the recompute hash-fails
    "shard_manifest_incremental" ->
      s"WITH ${manifestSqlOver("documents", "n_chars", "total_chars")}",
    // the ledger replays as literals (the landed sidecar IS the
    // schedule), INCLUDING the greedy-admission fold — the same
    // sequential rule the operator applies (refused releases spend
    // nothing), replayed here at SQL-generation time over the same
    // schedule; the sizes come from the released tables
    "dp_budget" -> {
      var cum = 0L
      val vals = DpSchedule.map { case (q, r) =>
        val ok = cum + 1L <= DpBudgetUnits
        if (ok) cum += 1L
        s"($q, '$r', 1, $cum, $ok)"
      }.mkString(", ")
      s"""WITH led(seq, release, eps_units, cum_units, released)
         |  AS (VALUES $vals),
         |sizes AS (
         |  SELECT 'dp_release' AS release,
         |    count(DISTINCT event_type)::BIGINT AS n FROM events
         |  UNION ALL SELECT 'dp_sum',
         |    count(DISTINCT c_mktsegment)::BIGINT FROM customer
         |  UNION ALL SELECT 'dp_user_count',
         |    count(DISTINCT event_type)::BIGINT FROM events
         |  UNION ALL SELECT 'dp_release_refresh',
         |    count(DISTINCT event_type)::BIGINT FROM events)
         |SELECT l.seq::BIGINT AS seq, l.release,
         |  l.eps_units::BIGINT AS eps_units,
         |  l.cum_units::BIGINT AS cum_units,
         |  $DpBudgetUnits::BIGINT AS budget_units, l.released,
         |  CASE WHEN l.released THEN s.n END AS n_rows
         |FROM led l JOIN sizes s USING (release)
         |ORDER BY seq""".stripMargin
    },
  )
}
