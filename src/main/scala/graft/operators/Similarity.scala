package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Similarity search over `embeddings` (64-dim float vectors).
  *
  * Two paths, per SURVEY.md §2.4:
  *   - Brute-force cosine top-k: exact, one linear pass per query
  *     vector. The query set is broadcast, so the fact side streams —
  *     scales to any corpus size as long as the query set is bounded.
  *   - Random-hyperplane LSH buckets: the ANN scale path — candidates
  *     come from a shuffle on (plane-signature) equality instead of a
  *     cross join. Approximate but hash-gated (md5-derived planes
  *     replay in DuckDB); the spec additionally measures recall
  *     against the brute-force truth.
  *
  * Vectors are cast to double before arithmetic so Spark and DuckDB
  * compute on the same type; cosine is rounded to 6 places on both
  * sides (last-ulp division/ sqrt differences).
  */
object Similarity {

  /** dot(a, b) over array columns via zip_with + aggregate — stays in
    * codegen, no UDF. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  /** try_divide, not `/`: under Spark 4's default ANSI mode a plain
    * divide THROWS on a zero-norm vector; try_divide yields NULL
    * (cosine undefined), which is also what the fused native
    * [[graft.functions.CosineSim]] returns — keeping the FuseCosine
    * rewrite result-identical on every input. */
  def cosine(a: Column, b: Column): Column =
    try_divide(dot(a, b), sqrt(dot(a, a) * dot(b, b)))

  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"),
        col("label"))

  val NumQueries = 5
  val TopK       = 5

  /** Exact top-k neighbors for a bounded query set (vec_id <
    * NumQueries): broadcast queries × streamed corpus → cosine →
    * per-query top-k via window. The corpus side is a single narrow
    * pass; the only shuffle is the final per-query rank (k rows per
    * query survive the partial TakeOrdered). */
  def knnBruteForce(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val q = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("cos"), col("vec_id"))
    // native codegen'd cosine (same fold order as the declarative
    // form — oracle-identical, ~fused-loop fast; see CosineSim)
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(
        graft.functions.GraftFunctions.cosineNative(s, col("v"), col("qv")), 6))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TopK)
      .select(col("q_id"), col("rn"), col("vec_id").as("neighbor"), col("cos"))
      .transform(Present.sorted(_, col("q_id"), col("rn")))
  }

  /** Exact near-dup pairs by cosine >= minCos (a < b). Quadratic by
    * nature — this is the oracle-checkable ground-truth query, bounded
    * to a fixed id window (MaxExactIds) so its cost is constant
    * regardless of corpus size; the unbounded scale path is the LSH
    * family. Norms are precomputed once per vector (not per pair). */
  val MaxExactIds = 2000
  def neardupEmbedding(s: SparkSession, d: String,
                       minCos: Double = 0.35): DataFrame = {
    val e = emb(s, d)
      .filter(col("vec_id") < MaxExactIds)
      // no persist: the pair join broadcasts one side; re-scanning the
      // filtered parquet for the other is cheaper than pinning memory
    val cos = round(graft.functions.GraftFunctions.cosineNative(s,
      col("va"), col("vb")), 6)
    // The id window is one parquet split, so the BroadcastNestedLoop
    // streamed side would otherwise be a SINGLE task running every
    // MaxExactIds²/2 cosine serially (measured 2.5 s of a 2.9 s query
    // at sf0.1) — spread it across the session's cores; the pair work
    // is constant in corpus size either way. The cosine sits AFTER the
    // id guard in ONE short-circuit join conjunction: as a separate
    // post-join filter Catalyst pushed it in FRONT of the id test,
    // paying the dot product on all n² ordered pairs instead of half.
    e.select(col("vec_id").as("id_a"), col("v").as("va"))
      .repartition(s.sparkContext.defaultParallelism)
      .join(broadcast(e.select(col("vec_id").as("id_b"), col("v").as("vb"))),
        col("id_a") < col("id_b") && cos >= minCos)
      // fused-loop native dot (same fold order as the declarative
      // form; see CosineSim scaladoc) — the pair loop is the hot path
      .withColumn("cos", cos)
      .select("id_a", "id_b", "cos")
      .transform(Present.sorted(_, col("id_a"), col("id_b")))
  }

  val LshBands = 10 // OR-construction width
  val LshRows  = 4  // planes per band (AND within a band)

  /** Deterministic pseudo-random hyperplane component for (plane p,
    * dimension i): a hash mapped to [-0.5, 0.5). Public
    * random-projection LSH (Charikar); hashing replaces an RNG so the
    * planes are reproducible with no driver state. The hash is the
    * md5-prefix trick (Dedup.md5Hash60) so DuckDB derives the IDENTICAL
    * plane matrix — what lets ann_lsh carry a full hash oracle. The
    * mapped value is an integer/10⁶ in both engines, and the projection
    * folds left-to-right on both sides, so even the SIGN of a
    * near-zero projection agrees bit-for-bit. */
  private[graft] def planeComponent(p: Column, i: Column): Column =
    ((Dedup.md5Hash60(concat_ws(",", lit("plane"), p, i)) % 1000000L)
      .cast("double") / 1000000.0) - 0.5

  /** The same plane matrix as a driver-side constant: the planes are
    * data-independent, so hashing them per (vector, plane, dim) at
    * runtime (2 560 md5s per corpus vector) would be pure waste — the
    * signature expression embeds the B-sized (40×64 doubles) matrix
    * as a literal instead, and runtime cost drops to the projection
    * arithmetic itself. FunctionsSpec asserts this constant is
    * bit-identical to [[planeComponent]]'s expression evaluation, so
    * the DuckDB oracle (which re-derives the matrix from md5 in SQL)
    * cannot drift from it. */
  private[graft] lazy val planeMatrix: IndexedSeq[IndexedSeq[Double]] =
    IndexedSeq.tabulate(LshBands * LshRows, 64) { (p, i) =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"plane,$p,$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      (java.lang.Long.parseLong(hex, 16) % 1000000L).toDouble / 1000000.0 - 0.5
    }

  /** Per-band LSH signatures: array of LshBands ints; band b packs the
    * sign bits of its LshRows hyperplane projections. Banding is the
    * standard OR-construction: a single all-planes signature is an AND
    * over every plane — for a neighbor at angle θ the match chance is
    * (1-θ/π)^planes, which collapses for the ~70° neighbors real
    * embedding corpora contain (measured round 2: 12 AND-planes found
    * 2/25 true neighbors). With b bands of r planes the candidate
    * chance is 1-(1-(1-θ/π)^r)^b: at cos 0.3 (θ≈72.5°) and 10×4 that
    * is ~0.66 per neighbor, while a random pair (θ≈90°) lands at
    * 1-(1-1/16)^10 ≈ 0.48 of queries' buckets — selectivity improves,
    * not degrades, on corpora whose neighbors are tighter than this
    * near-random test set. */
  def lshBandSignatures(v: Column): Column = {
    def bit(p: Int): Column = {
      val proj = aggregate(
        zip_with(v, typedlit(planeMatrix(p)), (x, c) => x * c),
        lit(0.0), (acc, x) => acc + x)
      when(proj > 0, lit(1)).otherwise(lit(0))
    }
    array((0 until LshBands).map(b =>
      (0 until LshRows).map(r => bit(b * LshRows + r))
        .foldLeft(lit(0))((acc, x) => acc * 2 + x)): _*)
  }

  /** ANN via banded LSH: a corpus vector is a candidate for a query if
    * they share ANY band bucket. The corpus side NEVER shuffles its
    * vectors: band signatures are computed map-side, the query band
    * table (queries × bands rows, carrying the query vector) is
    * broadcast, and exact cosine is scored in the SAME map stage while
    * the corpus vector is still in hand — so the only rows that ever
    * enter a shuffle are narrow (q_id, vec_id, cos) triples, first for
    * the collision dedup (a pair can match in up to LshBands bands;
    * max-agg dedupes identical scores), then for the per-query rank.
    * An earlier form deduped bare id pairs and re-attached vectors by
    * joining the corpus back on vec_id — fine while candidates
    * broadcast, but the 100× rehearsal showed the candidate relation
    * outgrowing the broadcast threshold, flipping that join to an SMJ
    * that shuffles every corpus vector (the widest relation in the
    * job, and at real scale candidates never broadcast). Scoring
    * before dedup re-computes cosine once per colliding band
    * (~1–2× on near-random corpora) in exchange for keeping the wide
    * relation out of every exchange at every scale. HASH-GATED:
    * md5-derived planes replay in DuckDB, so the oracle recomputes
    * signatures → candidates → exact rank verbatim; the spec
    * additionally asserts recall vs brute force. */
  def annLsh(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    // native fused-loop signatures (graft.functions.LshSigs) — the
    // declarative zip_with/aggregate form above evaluates 40
    // interpreted lambda folds per vector (probed: 388 ms task CPU on
    // the sf0.1 corpus in one scan task, plus a ~0.6 s planning gap
    // for the 40-literal expression tree). Bit-identical left-to-right
    // fold (SimilaritySpec pins native ≡ declarative row-for-row), so
    // the hash oracle replays unchanged.
    val banded = e.select(col("vec_id"), col("v"),
      posexplode(graft.functions.GraftFunctions.lshSigsNative(s, col("v")))
        .as(Seq("band", "bsig")))
    val qBanded = banded.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("band"), col("bsig"),
        col("v").as("qv"))
    val scored = banded.join(broadcast(qBanded), Seq("band", "bsig"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), round(
        graft.functions.GraftFunctions.cosineNative(s, col("v"), col("qv")), 6)
        .as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("cos"), col("vec_id"))
    scored.groupBy("q_id", "vec_id").agg(max("cos").as("cos"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TopK)
      .select(col("q_id"), col("rn"), col("vec_id").as("neighbor"), col("cos"))
      .transform(Present.sorted(_, col("q_id"), col("rn")))
  }

  val IvfClusters   = 16
  val IvfProbes     = 8
  val IvfLloydIters = 2

  /** Dim-wise mean of a vector column as an array — one posexplode +
    * groupBy(key, dim) + reassembly. Distributed: no vector ever
    * leaves its partition un-aggregated.
    *
    * The mean is computed in FIXED POINT: each component is quantized
    * to 10⁻⁷ (round(x·10⁷) as int64) and the sum runs over integers,
    * so it is ORDER-INDEPENDENT — a float sum's value depends on
    * partition merge order, which would make centroids differ between
    * runs, engines, and cluster sizes (and is what keeps a float-avg
    * Lloyd iteration un-oracle-able). The quantization error (≤5·10⁻⁸
    * per component) is orders below any clustering decision
    * boundary. */
  private def dimMeans(df: DataFrame, key: String): DataFrame =
    df.select(col(key), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(key, "dim")
      .agg((sum(round(col("x") * 1e7, 0).cast("long")).cast("double") /
        (count(lit(1)).cast("double") * 1e7)).as("m"))
      .groupBy(key)
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("m")))),
        e => e.getField("m")).as("cv"))

  /** IVF build: coarse centroids = K deterministically-sampled seed
    * vectors refined by IvfLloydIters distributed Lloyd iterations
    * (assign → dim-wise mean). Returns (assignments, centroids):
    * assignments = (vec_id, v, cid) — the "inverted file" is just this
    * relation clustered on cid — and centroids = (cid, cv), a B-sized
    * (K-row) artifact persisted so the probe stage and the assignment
    * pass share one computation (bounded, so safe to cache at any
    * scale; in production both outputs are written to storage once).
    * Each Lloyd step is one broadcast-join pass over the corpus plus a
    * (cid, dim)-keyed aggregation — no step ever shuffles vectors by
    * anything wider than the K·64 centroid table. */
  def ivfBuild(s: SparkSession, d: String,
               k: Int = IvfClusters): (DataFrame, DataFrame) = {
    val e = emb(s, d)
    // deterministic pseudo-random K-row sample by md5 rank (engine-
    // neutral, like every split/sample op); orderBy+limit plans as
    // TakeOrdered (distributed partial top-K), not a global sort
    val seeds = e.orderBy(Dedup.md5Hash60(col("vec_id").cast("string")),
        col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    // assignment compares cosines ROUNDED to 9 places with a cid
    // tie-break: bit-identical across engines by construction (same
    // fold order), and the rounding makes any residual last-ulp
    // divergence irrelevant to the argmax
    def assign(cent: DataFrame): DataFrame = assignTo(s, e, cent)
    // Lloyd steps: refined centroid = mean of its assigned vectors.
    // Each intermediate centroid table is persisted (K rows) so the
    // next assign pass doesn't recompute the whole chain, and
    // unpersisted once superseded.
    var cent = dimMeans(assign(seeds), "cid").persist()
    for (_ <- 1 until IvfLloydIters) {
      val next = dimMeans(assign(cent), "cid").persist()
      next.count() // materialize before dropping the parent
      cent.unpersist(false)
      cent = next
    }
    // land the K-row centroid artifact as a LocalRelation: the probe
    // and assignment stages broadcast it with no extra job, and no
    // cached partitions outlive the call (asserted by InvariantSpec).
    // In production this is the index artifact written to storage.
    val rows = java.util.Arrays.asList(cent.collect(): _*)
    val local = s.createDataFrame(rows, cent.schema)
    cent.unpersist(false)
    (assign(local), local)
  }

  /** Assign a (vec_id, v) relation to its nearest centroid — the ONE
    * assignment rule (9-rounded cosine, (cos, -cid) argmax) shared by
    * the Lloyd iterations, the final inverted-file pass, and the
    * INCREMENTAL delta-segment build, so an arriving batch can never
    * be assigned under different semantics than the base was. The
    * centroid table rides a broadcast; cost ∝ |vecs| × K. */
  private def assignTo(s: SparkSession, vecs: DataFrame,
                       cent: DataFrame): DataFrame =
    vecs.crossJoin(broadcast(cent))
      .withColumn("cos", round(
        graft.functions.GraftFunctions.cosineNative(s, col("v"), col("cv")),
        9))
      .groupBy("vec_id")
      .agg(max_by(col("cid"), struct(col("cos"), -col("cid"))).as("cid"),
        first(col("v")).as("v"))
      .select("vec_id", "v", "cid")

  /** Two-level (hierarchical) IVF build — the committed scale path
    * past the flat build's cost wall: every flat Lloyd/assignment
    * pass is an N×K cosine sweep, fine at the gated K (16..3200 in
    * the rehearsals) but prohibitive once K ∝ N pushes K to ~10⁴⁺
    * (N=2M, K=16k is 3×10¹⁰ pairs PER PASS). The classic fix
    * (hierarchical k-means / faiss's coarse-quantized assignment,
    * public) quantizes the CENTROIDS first: `coarse` super-cells over
    * the K fine centroids, then each vector shortlists its `nprobe`
    * nearest super-cells (N×coarse) and argmaxes only over their fine
    * members (N×nprobe×K/coarse) — for the defaults, ~250× fewer
    * pairs per pass at K=16k. One Lloyd refinement (large-K
    * practice) instead of the flat build's IvfLloydIters.
    *
    * The result is a valid IVF index with [[ivfBuild]]'s schema —
    * the (vec_id, v, cid) inverted file lands at `outDir`, the
    * (cid, cv) centroid table returns as a LocalRelation. A boundary
    * vector
    * whose best fine centroid hides in an unprobed super-cell may
    * land in its runner-up cell — the standard recall/cost trade of
    * every hierarchical quantizer, which moves a few assignments at
    * the margin but not the cell-size economics. With
    * nprobe ≥ coarse the shortlist is exhaustive and the assignment
    * IS the exact argmax (SimilaritySpec pins that identity).
    * Deterministic end to end: same md5-rank seeds as the flat
    * build, 9-place-rounded cosines, (cos, -cid) tie-breaks, and the
    * dimMeans fixed-point refinement. NOT registered as a gated
    * query — its consumer is the large-K rehearsal
    * ([[graft.ScaleRehearsal.runSimilarity]]); the gated semdedup
    * family stays on the flat, fully-oracled build. */
  private[graft] def ivfBuildHier(s: SparkSession, d: String, k: Int,
      outDir: String, coarse: Int = 128, nprobe: Int = 2): DataFrame = {
    val e = emb(s, d)
    def cosTo(a: Column, b: Column): Column =
      round(graft.functions.GraftFunctions.cosineNative(s, a, b), 9)
    val rank = Dedup.md5Hash60(col("vec_id").cast("string"))
    val fineSeeds = e.orderBy(rank, col("vec_id")).limit(k)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    // coarse centroids = the first `coarse` seeds of the SAME rank
    // order (a prefix of the fine seeds — one sampling pass)
    val coarseCent = e.orderBy(rank, col("vec_id")).limit(math.min(coarse, k))
      .select(col("vec_id").as("ccid"), col("v").as("ccv"))
    // per-vector super-cell shortlist: one N×coarse pass folded
    // map-side into a ≤coarse-entry buffer per vector (collect_list
    // merges partially), then the top-nprobe slice — computed ONCE
    // and persisted: both assignment passes reuse it, and it is the
    // build's only corpus-sized intermediate
    val shortlist = e.crossJoin(broadcast(coarseCent))
      .withColumn("ccos", cosTo(col("v"), col("ccv")))
      .groupBy("vec_id")
      .agg(first(col("v")).as("v"),
        slice(sort_array(collect_list(struct(
          col("ccos"), (-col("ccid")).as("tb"), col("ccid"))), asc = false),
          1, nprobe).as("top"))
      .select(col("vec_id"), col("v"), explode(col("top")).as("t"))
      .select(col("vec_id"), col("v"), col("t.ccid").as("ccid"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // assignment under any fine-centroid table: label each fine
    // centroid with its super-cell (K×coarse — tiny), join the
    // shortlist on the super-cell, argmax within
    def assignHier(fine: DataFrame): DataFrame = {
      val labeled = fine.crossJoin(broadcast(coarseCent))
        .withColumn("fcos", cosTo(col("cv"), col("ccv")))
        .groupBy("cid")
        .agg(max_by(col("ccid"), struct(col("fcos"), -col("ccid"))).as("ccid"),
          first(col("cv")).as("cv"))
      shortlist.join(broadcast(labeled), Seq("ccid"))
        .withColumn("cos", cosTo(col("v"), col("cv")))
        .groupBy("vec_id")
        .agg(max_by(col("cid"), struct(col("cos"), -col("cid"))).as("cid"),
          first(col("v")).as("v"))
        .select("vec_id", "v", "cid")
    }
    // the assignment LANDS inside the call (outDir — the inverted
    // file, same relation ivfBuild._1 produces) so the shortlist
    // cache can be dropped before returning; the K-row centroid
    // table comes back as a LocalRelation like the flat build's
    try {
      val cent = dimMeans(assignHier(fineSeeds), "cid").persist()
      val rows = java.util.Arrays.asList(cent.collect(): _*)
      val local = s.createDataFrame(rows, cent.schema)
      cent.unpersist(false)
      assignHier(local).write.mode("overwrite").parquet(outDir)
      local
    } finally shortlist.unpersist(false)
  }

  def ivfIndex(s: SparkSession, d: String): DataFrame = ivfStore(s, d)._1

  /** Session-scoped LANDED IVF INDEX per dataset dir — the literal
    * form of the build comment above: the inverted file (corpus
    * clustered by cid) and the K-row centroid table written to storage
    * once, with every ANN query a store read + probe. Rebuilding the
    * index per query pays the seed + Lloyd passes over the corpus
    * every time, which no production vector store does; here (as with
    * SigStore / the multimodal features store) the artifact is a
    * [[graft.Landed]] root keyed by dataset dir. */
  private[graft] val ivfStores = new graft.Landed[String]("graft_ivf")

  /** (inverted file, centroids) as fresh parquet reads over the landed
    * index, building it on first request for the dataset. The
    * inverted file lands PARTITIONED BY cid — on disk each cell is
    * its own directory (the IVF-PQ store's layout, now on the float
    * index too), so a probe that filters on the probed cid literals
    * reads ONLY the probed lists: partition pruning as the
    * inverted-list lookup, instead of scanning the whole index and
    * discarding at the join. Partition-column inference narrows cid
    * to int; pin it back to long so joins stay cast-free. */
  def ivfStore(s: SparkSession, d: String): (DataFrame, DataFrame) =
    ivfRead(s, ivfStores.root(d)(ivfLand(ivfBuild(s, d), _)))

  /** Land (inverted file, centroids) under one root, the inverted file
    * partitioned by cid. */
  private def ivfLand(index: (DataFrame, DataFrame), out: String): Unit = {
    index._1.write.mode("overwrite").partitionBy("cid").parquet(s"$out/idx")
    index._2.write.mode("overwrite").parquet(s"$out/cent")
  }

  /** (inverted file, centroids) as fresh reads of a landed root. */
  private def ivfRead(s: SparkSession, root: String): (DataFrame, DataFrame) =
    (s.read.parquet(s"$root/idx").withColumn("cid", col("cid").cast("long")),
      s.read.parquet(s"$root/cent"))

  /** ANN via IVF: each query probes its IvfProbes nearest centroids
    * and ranks exact cosine only within those clusters — the corpus
    * side is touched only where the index points, which is the whole
    * point of IVF at 100 TB (a full scan per query is off the table;
    * candidate fetch is a join on cid). HASH-GATED: md5 seed ranks +
    * fixed-point Lloyd means make the whole index build
    * engine-deterministic, so the DuckDB oracle replays seeds → two
    * Lloyd rounds → probe → in-cell rank verbatim; the spec
    * additionally measures recall vs brute force. */
  def annIvf(s: SparkSession, d: String): DataFrame = {
    val q = emb(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    ivfProbeRanked(s, d, q, TopK)
      .select(col("q_id"), col("rn"), col("vec_id").as("neighbor"), col("cos"))
      .transform(Present.sorted(_, col("q_id"), col("rn")))
  }

  /** The landed-index probe chain — probe the [[IvfProbes]] nearest
    * centroids per query (9-rounded cosine, cid tie-break), PRUNE the
    * cid-partitioned inverted file to the probed lists (the probed
    * cids collect as ≤ queries × nprobe literals — probe plan, not
    * data), and rank exact 6-rounded cosine within the probed cells.
    * ONE implementation shared by [[annIvf]] and [[Retrieval]]'s
    * hybrid dense half: both are hash-gated against DuckDB replays of
    * these exact rounding/tie-break rules, so a single chain keeps
    * the two oracles from drifting apart. `queries` = (q_id, qv);
    * output = (q_id, rn, vec_id, cos) with self-hits excluded. */
  private[operators] def ivfProbeRanked(s: SparkSession, d: String,
      queries: DataFrame, topK: Int): DataFrame =
    ivfProbeRankedOn(s, ivfStore(s, d), queries, topK, IvfProbes)

  /** [[ivfProbeRanked]] against an EXPLICIT (inverted file, centroids)
    * pair with an explicit probe width — the store/knob-parameterized
    * core shared by the gated K=16 chain and the nprobe ≪ K pruning
    * twin ([[annIvfPruned]]). */
  private[operators] def ivfProbeRankedOn(s: SparkSession,
      store: (DataFrame, DataFrame), queries: DataFrame, topK: Int,
      nprobe: Int): DataFrame = {
    val (idx, cent) = store
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("ccos"), col("cid"))
    val probes = queries.crossJoin(broadcast(cent))
      .withColumn("ccos", round(
        graft.functions.GraftFunctions.cosineNative(s, col("qv"), col("cv")),
        9))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nprobe)
      .select("q_id", "qv", "cid")
    // the probe job runs ONCE (≤ queries × nprobe rows — probe plan,
    // not data): the collected rows feed BOTH the cid pruning literals
    // and, as a LocalRelation, the broadcast probe side of the rank
    // join — re-deriving `probes` inside the returned plan would run
    // the K-row centroid sweep a second time per consumer
    val probeRows = probes.collect()
    val cids = probeRows.map(_.getLong(2)).distinct.toIndexedSeq
    val probesLocal = s.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probes.schema)
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("cos"), col("vec_id"))
    idx.filter(col("cid").isin(cids: _*))
      .join(broadcast(probesLocal), Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos", round(
        graft.functions.GraftFunctions.cosineNative(s, col("v"), col("qv")), 6))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= topK)
      .select("q_id", "rn", "vec_id", "cos")
  }

  // ---------------------------------------------------------------
  // Incremental IVF maintenance: the dense twin of bm25_incremental —
  // an arriving vector batch assigns to the LANDED centroids and
  // lands a DELTA cell segment; probes read base ∪ delta. Update
  // cost ∝ batch × K, never ∝ corpus.
  // ---------------------------------------------------------------

  /** Every IvfIncrEvery-th vec_id (≡ [[IvfIncrSlot]] mod 10) plays
    * the ARRIVING batch; queries (vec_id < NumQueries) stay base. */
  val IvfIncrEvery = 10L
  val IvfIncrSlot  = 7L

  private[graft] val ivfIncStores = new graft.Landed[String]("graft_ivfinc")

  /** Land the (base segment, delta segment) pair: base = the landed
    * inverted file MINUS the batch (yesterday's index), delta = the
    * batch assigned to the SAME landed centroids by a separate
    * assignment pass whose cost is ∝ batch × K — the nightly
    * maintenance job's shape (the other "petabytes" of vectors are
    * never re-read, never re-assigned). Both segments keep the
    * cid-partitioned layout, so probes prune per segment. Both land
    * under one store root, each named so a plan shows which segment
    * it reads. */
  private def ivfIncRoots(s: SparkSession, d: String): (String, String) = {
    val root = ivfIncStores.root(d) { out =>
      val (idx, cent) = ivfStore(s, d)
      idx.filter(col("vec_id") % IvfIncrEvery =!= IvfIncrSlot)
        .write.mode("overwrite").partitionBy("cid").parquet(s"$out/graft_ivfb")
      val batch = emb(s, d)
        .filter(col("vec_id") % IvfIncrEvery === IvfIncrSlot)
        .select("vec_id", "v")
      assignTo(s, batch, cent)
        .write.mode("overwrite").partitionBy("cid").parquet(s"$out/graft_ivfd")
    }
    (s"$root/graft_ivfb", s"$root/graft_ivfd")
  }

  /** The landed delta segment as a fresh read — exposed so the spec
    * can pin |delta| = |batch| (update cost ∝ batch). */
  private[graft] def ivfDeltaSegment(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ivfIncRoots(s, d)._2)
      .withColumn("cid", col("cid").cast("long"))

  /** INCREMENTAL ANN — probes read base ∪ delta through the same
    * probe chain as `ann_ivf`. Results are IDENTICAL to the full
    * index by construction (assignment at fixed centroids is
    * per-vector: base ∪ delta ≡ the full inverted file), and the
    * DuckDB oracle replays the FULL build → probe → rank — a delta
    * assignment under drifted semantics, a dropped batch vector, or a
    * segment read missing a cell hash-fails against it. Completes the
    * incremental triple: dedup/semdedup/bm25 had maintenance stories,
    * now the dense index does too. */
  def annIvfIncremental(s: SparkSession, d: String): DataFrame = {
    val (baseRoot, deltaRoot) = ivfIncRoots(s, d)
    val (_, cent) = ivfStore(s, d)
    def seg(dir: String) = s.read.parquet(dir)
      .withColumn("cid", col("cid").cast("long"))
    val idx = seg(baseRoot).unionByName(seg(deltaRoot))
    val q = emb(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    ivfProbeRankedOn(s, (idx, cent), q, TopK, IvfProbes)
      .select(col("q_id"), col("rn"), col("vec_id").as("neighbor"), col("cos"))
      .transform(Present.sorted(_, col("q_id"), col("rn")))
  }

  // ---------------------------------------------------------------
  // nprobe ≪ K pruning twin: the gated K=16/nprobe=8 workload probes
  // ~15/16 cells across its three queries, so directory pruning saves
  // little IN THE GATED TABLE (an honest caveat since round 13); this
  // twin runs the production regime — K=64 cells, 4 probes — so the
  // pruned read is visible in the gate itself, not only in rehearsals.
  // ---------------------------------------------------------------

  val IvfPrunedK      = 64
  val IvfPrunedProbes = 4

  private[graft] val ivfKStores = new graft.Landed[(String, Int)]("graft_ivfk")

  /** [[ivfStore]] at an explicit K, keyed by (dataset, K) — the same
    * deterministic build (md5 seeds, fixed-point Lloyd), the same
    * cid-partitioned landed layout. */
  def ivfStoreK(s: SparkSession, d: String, k: Int): (DataFrame, DataFrame) =
    ivfRead(s, ivfKStores.root((d, k))(ivfLand(ivfBuild(s, d, k), _)))

  /** ANN in the nprobe ≪ K regime: [[IvfPrunedProbes]] probes into a
    * [[IvfPrunedK]]-cell landed index — the three queries' probed-cid
    * union covers at most queries × nprobe = 20 of 64 cell
    * directories, so the inverted file's partition pruning does real
    * work in the gated plan (PlanSpec pins the PartitionFilters and
    * the probed-cell bound). HASH-GATED like ann_ivf: the K=64 build
    * replays verbatim in DuckDB. */
  def annIvfPruned(s: SparkSession, d: String): DataFrame = {
    val q = emb(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    ivfProbeRankedOn(s, ivfStoreK(s, d, IvfPrunedK), q, TopK, IvfPrunedProbes)
      .select(col("q_id"), col("rn"), col("vec_id").as("neighbor"), col("cos"))
      .transform(Present.sorted(_, col("q_id"), col("rn")))
  }

  // ---------------------------------------------------------------
  // IVF segment COMPACTION: the dense twin of bm25_compact — fold the
  // incremental pair's base ∪ delta into ONE cid-partitioned root
  // (centroids carried alongside), completing the append/compact
  // lifecycle for the dense index family: appends keep maintenance
  // ∝ batch, scans pay a per-segment probe until an off-peak
  // compaction folds the segments back to one.
  // ---------------------------------------------------------------

  private[graft] val ivfCmpStores = new graft.Landed[String]("graft_ivfc")

  /** Fold the landed base + delta segments into one compacted root,
    * keeping the cid layout (each cell directory is rewritten from
    * its base + delta slices — vec_ids are disjoint by construction,
    * so the fold is a per-cell file merge, and the full-index oracle
    * hash-fails a fold that dropped or duplicated a vector). The
    * LANDED centroids are copied alongside, so post-compaction
    * probing stands on the compacted artifacts alone (the idfCmpRoot
    * argument, dense edition). NO embedding read, NO re-assignment:
    * compaction is index-local, priced ∝ index, scheduled off-peak,
    * amortized over every later probe's single-segment read. */
  private def ivfCmpRoot(s: SparkSession, d: String): String =
    ivfCmpStores.root(d) { out =>
      val (baseRoot, deltaRoot) = ivfIncRoots(s, d)
      def seg(dir: String) = s.read.parquet(dir)
        .withColumn("cid", col("cid").cast("long"))
      ivfLand((seg(baseRoot).unionByName(seg(deltaRoot)), ivfStore(s, d)._2), out)
    }

  /** The compacted (inverted file, centroids) as fresh store reads —
    * exposed so the spec can pin the single-segment shape. */
  private[graft] def ivfCompactStore(s: SparkSession, d: String)
      : (DataFrame, DataFrame) =
    ivfRead(s, ivfCmpRoot(s, d))

  /** Post-compaction ANN — the gated proof that the fold is INVISIBLE
    * in the answer: ONE compacted segment (single idx read, no
    * base ∪ delta union, no live-index read) probed through the same
    * chain must hash-equal `ann_ivf` against the same full-build
    * oracle. The probe keeps the cid partition pruning: compaction
    * preserves the layout, so the inverted-list lookup survives the
    * fold. */
  def annIvfCompact(s: SparkSession, d: String): DataFrame = {
    val store = ivfCompactStore(s, d)
    val q = emb(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    ivfProbeRankedOn(s, store, q, TopK, IvfProbes)
      .select(col("q_id"), col("rn"), col("vec_id").as("neighbor"), col("cos"))
      .transform(Present.sorted(_, col("q_id"), col("rn")))
  }

  // ---------------------------------------------------------------
  // IVF DELETE maintenance (tombstones): the dense twin of
  // bm25_delete — a delete request lands a ∝-batch tombstone sidecar
  // of vec_ids; probes MASK them (anti-join against the broadcast
  // sidecar — never an index rewrite); the next compaction PURGES
  // their postings from the inverted file. Unlike BM25 there are no
  // corpus stats to go stale: the centroids stay the landed ones
  // (re-clustering is a REBUILD, not maintenance — the standard
  // vector-store contract), so the masked probe and the post-purge
  // probe are answer-identical and share one oracle: the full build
  // replay with deleted vectors excluded from the probed cells.
  // ---------------------------------------------------------------

  /** Every [[IvfDelEvery]]-th vec_id (≡ [[IvfDelSlot]] mod 10) plays
    * the DELETE batch — disjoint from [[IvfIncrSlot]]. */
  val IvfDelEvery = 10L
  val IvfDelSlot  = 3L

  private[graft] val ivfTombStores = new graft.Landed[String]("graft_ivft")

  /** Land the tombstone sidecar: deleted vec_ids only — the delete
    * request IS an id list, so the artifact is ∝ batch by
    * construction. Derived index-locally from the landed inverted
    * file's id column (never an embedding read); a real pipeline
    * hands the list in directly. */
  private def ivfTombRoot(s: SparkSession, d: String): String =
    ivfTombStores.root(d) { out =>
      ivfStore(s, d)._1
        .filter(col("vec_id") % IvfDelEvery === IvfDelSlot)
        .select("vec_id")
        .write.mode("overwrite").parquet(out)
    }

  /** The landed tombstone ids as a fresh store read — exposed so the
    * spec can pin |tombstones| ∝ batch. */
  private[graft] def ivfTombStore(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ivfTombRoot(s, d))

  /** ANN with tombstone MASKING: the probe chain runs against the
    * live index with the broadcast tombstone sidecar anti-joined in —
    * at 100 TB a Bloom-sized mask over the probed cells, never an
    * index rewrite. The cid partition pruning is untouched (the mask
    * composes after the pruned read). */
  def annIvfDelete(s: SparkSession, d: String): DataFrame = {
    val (idx, cent) = ivfStore(s, d)
    val masked = idx.join(broadcast(ivfTombStore(s, d)),
      Seq("vec_id"), "left_anti")
    val q = emb(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    ivfProbeRankedOn(s, (masked, cent), q, TopK, IvfProbes)
      .select(col("q_id"), col("rn"), col("vec_id").as("neighbor"), col("cos"))
      .transform(Present.sorted(_, col("q_id"), col("rn")))
  }

  private[graft] val ivfDelCmpStores = new graft.Landed[String]("graft_ivfdc")

  /** Compaction with tombstone PURGE: rewrite the inverted file minus
    * the tombstoned ids (keeping the cid layout), carry the LANDED
    * centroids alongside — index-local (reads index + id sidecar,
    * never an embedding), priced ∝ index, after which the tombstones
    * are dead weight. */
  private def ivfDelCmpRoot(s: SparkSession, d: String): String =
    ivfDelCmpStores.root(d) { out =>
      val (idx, cent) = ivfStore(s, d)
      ivfLand((idx.join(broadcast(ivfTombStore(s, d)), Seq("vec_id"),
        "left_anti"), cent), out)
    }

  /** The purged (inverted file, centroids) as fresh store reads —
    * exposed so the spec can pin zero tombstoned rows survive. */
  private[graft] def ivfDelCompactStore(s: SparkSession, d: String)
      : (DataFrame, DataFrame) =
    ivfRead(s, ivfDelCmpRoot(s, d))

  /** Post-purge ANN — ONE purged segment, no mask anywhere in the
    * plan, probed through the same chain: must hash-equal
    * [[annIvfDelete]] (masking and purging are answer-identical at
    * fixed centroids), gated against the same full-build-minus-
    * deleted oracle. */
  def annIvfDeleteCompact(s: SparkSession, d: String): DataFrame = {
    val store = ivfDelCompactStore(s, d)
    val q = emb(s, d).filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    ivfProbeRankedOn(s, store, q, TopK, IvfProbes)
      .select(col("q_id"), col("rn"), col("vec_id").as("neighbor"), col("cos"))
      .transform(Present.sorted(_, col("q_id"), col("rn")))
  }

  /** Candidates the rerank keeps per query — the IVF-PQ shortlist
    * depth (rerank cost = PqRerankDepth exact cosines per query). */
  val PqRerankDepth = 25

  /** int8 codes of a (double-array) vector column: round(127·x/‖v‖),
    * the same quantizer embed_quantize gates. `nrm` must be a
    * precomputed column — inlining sqrt(dot(v,v)) into the per-element
    * lambda would recompute the norm 64×. */
  private def int8Codes(v: Column, nrm: Column): Column =
    transform(v, x => round(x * 127 / nrm, 0).cast("int"))

  /** Session-scoped landed PQ store per dataset: the inverted file
    * with int8 codes AND exact vectors, written PARTITIONED BY cid —
    * on disk each coarse cell is its own directory, so a probe that
    * filters on cid reads ONLY the probed lists (partition pruning,
    * pinned by PlanSpec). This is the published IVF-(S)Q memory-bound
    * layout: codes for the cheap scan, vectors co-located for the
    * rerank fetch. Built once per dataset (ivfStore's pattern). */
  private[graft] val pqStores = new graft.Landed[String]("graft_ivfpq")

  def pqStore(s: SparkSession, d: String): DataFrame = {
    val root = pqStores.root(d) { out =>
      val (idx, _) = ivfStore(s, d)
      idx.withColumn("nrm", sqrt(dot(col("v"), col("v"))))
        .select(col("cid"), col("vec_id"), col("v"),
          int8Codes(col("v"), col("nrm")).as("qvec"))
        .write.mode("overwrite").partitionBy("cid").parquet(out)
    }
    // partition-column inference may narrow cid to int; pin to long so
    // joins/filters against the centroid-derived cid stay cast-free
    s.read.parquet(root).withColumn("cid", col("cid").cast("long"))
  }

  /** ANN via IVF-PQ: probe the IvfProbes nearest coarse cells, score
    * candidates on int8 CODES (an integer dot product — engine-exact,
    * so the whole pipeline stays hash-gated), keep the top
    * PqRerankDepth per query, and rerank only those with exact cosine
    * on the co-located full vectors. Composes `embed_quantize`'s
    * quantizer with `ann_ivf`'s index — the published memory-bound
    * form: the code scan touches 4× fewer bytes than the float scan,
    * and the exact fetch touches PqRerankDepth rows per query.
    *
    * Scale shape: the probed cids are a ≤ IvfClusters literal set
    * (bounded by construction — the collect is the probe plan, not
    * data), so BOTH scans of the store are partition-pruned to the
    * probed lists; candidate scoring is map-side (codes never
    * shuffle); only narrow (q_id, vec_id, score) triples enter the
    * shortlist and rank exchanges. HASH-GATED: the DuckDB oracle
    * replays index build → probe → integer-dot shortlist → exact
    * rerank verbatim; the spec additionally measures recall against
    * brute force and pins it >= the plain-IVF floor. */
  def annIvfPq(s: SparkSession, d: String): DataFrame = {
    val (_, cent) = ivfStore(s, d)
    val pq = pqStore(s, d)
    val q = emb(s, d).filter(col("vec_id") < NumQueries)
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        int8Codes(col("v"), col("nrm")).as("qq"))
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("ccos"), col("cid"))
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("ccos", round(
        graft.functions.GraftFunctions.cosineNative(s, col("qv"), col("cv")),
        9))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= IvfProbes)
      .select("q_id", "qq", "cid")
    // probed list ids as literals (≤ IvfClusters by construction):
    // static partition pruning on both store scans below. One probe
    // execution feeds both the literals and the broadcast relation
    // (the ivfProbeRankedOn pattern — no probe recompute in-plan).
    val probeRows = probes.collect()
    val cids = probeRows.map(_.getLong(2)).distinct.toIndexedSeq
    val probesLocal = s.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probes.schema)
    val lists = pq.filter(col("cid").isin(cids: _*))
    val wShort = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("apx"), col("vec_id"))
    val short = lists.join(broadcast(probesLocal), Seq("cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        aggregate(zip_with(col("qvec"), col("qq"), (x, y) => x * y),
          lit(0L), (acc, x) => acc + x).as("apx"))
      .withColumn("sr", row_number().over(wShort))
      .filter(col("sr") <= PqRerankDepth)
      .select("q_id", "vec_id")
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("cos"), col("vec_id"))
    lists.join(broadcast(short), Seq("vec_id"))
      .join(broadcast(q.select(col("q_id"), col("qv"))), Seq("q_id"))
      .withColumn("cos", round(
        graft.functions.GraftFunctions.cosineNative(s, col("v"), col("qv")), 6))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= TopK)
      .select(col("q_id"), col("rn"), col("vec_id").as("neighbor"), col("cos"))
      .transform(Present.sorted(_, col("q_id"), col("rn")))
  }

  /** Characters of document text returned per retrieved passage. */
  val RagPassageChars = 40

  /** Retrieval compose (the RAG serving path): ANN top-k over the
    * landed IVF index, then fetch each hit's document text by id.
    * The hit list is bounded by construction (NumQueries × TopK), so
    * it collects to a literal id set and the document fetch is a
    * scan with a pushed `doc_id IN (...)` filter — the row-group-
    * skipping point-lookup shape a real retrieval layer runs, not a
    * corpus join. vec_id keys the embedding of the same-numbered
    * document (doc_id ≡ vec_id where both exist; the testdata doc
    * table is a superset at every sf). HASH-GATED: the ann_ivf chain
    * replays in DuckDB and the passage is a plain substring. */
  private val ragCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  def ragRetrieve(s: SparkSession, d: String): DataFrame = {
    // NOTE: unlike every other registered query this one EXECUTES at
    // DataFrame-construction time — the ANN hit list must be collected
    // before the pushed doc_id IN (...) filter can be built. One ann
    // plan serves both the collect and the hits relation, and the
    // result is memoized per (session object, dir) so re-registration
    // and bench re-runs don't re-pay the ANN execution (session-keyed
    // map + dead-session sweep — the cachedAggs pattern).
    ragCache.entrySet.removeIf(e =>
      e.getKey._1.sparkContext.isStopped)
    ragCache.computeIfAbsent((s, d), _ => {
      val ann = annIvf(s, d)
      val hitRows = ann.collect() // ≤ NumQueries×TopK by construction
      val hits = s.createDataFrame(
        java.util.Arrays.asList(hitRows: _*), ann.schema)
      val ids = hitRows.map(_.getLong(2)).distinct.toIndexedSeq
      val docs = Tables.documents(s, d)
        .filter(col("doc_id").isin(ids: _*))
        .select(col("doc_id"),
          substring(col("text"), 1, RagPassageChars).as("passage"))
      docs.join(broadcast(hits), col("doc_id") === col("neighbor"))
        .select(col("q_id"), col("rn"), col("neighbor"), col("cos"),
          col("passage"))
        .transform(Present.sorted(_, col("q_id"), col("rn")))
    })
  }

  /** Within-cell similarity threshold for semantic dedup — matches
    * [[neardupEmbedding]]'s 0.35 (this synthetic corpus is near-random
    * and tops out around there; real embedding corpora run the
    * published 0.9+). */
  val SemDedupMinCos = 0.35

  /** SemDeDup (Abbas et al., arXiv:2303.09540 — public): semantic
    * deduplication by k-means cell + within-cell pairwise cosine. A
    * vector is REMOVED iff some LOWER-id member of its cell has
    * cosine >= threshold with it (the released implementation's
    * keep-lowest-index rule); the emitted `dup_of` is the smallest
    * such earlier member. This is the dedup rung above
    * `neardup_embedding`: the cell structure makes it corpus-wide
    * (no bounded id window) while never forming a global pair join.
    *
    * Scale shape: reads the LANDED IVF index (cells = coarse cid, the
    * same artifact ann_ivf probes), self-joins per cell — Σ|cell|²
    * pair work, which is exactly the published algorithm's cost and is
    * controlled by growing K with the corpus (the paper's knob; cells
    * stay ~constant-sized). The pair relation is consumed map-side by
    * a partial min-aggregate, so the only rows that reach the second
    * exchange are (vec_id, dup_of) — one per removed vector, never
    * the pairs. HASH-GATED: the index build is engine-deterministic
    * (md5 seeds + fixed-point Lloyd), so the DuckDB oracle replays
    * index → within-cell pairs → keep-first verbatim. */
  def semDedup(s: SparkSession, d: String): DataFrame =
    semDedupFrom(s, ivfStore(s, d)._1)

  private[graft] def semDedupFrom(s: SparkSession, idx: DataFrame): DataFrame = {
    // alias self-join over the IDENTICAL subtree: once the relation
    // outgrows the broadcast threshold the cid SMJ shuffles each
    // side, but identical children canonicalize equal, so
    // ReuseExchange ships the vectors ONCE and replays the shuffle
    // files for the other side (plan-verified: 1 ReusedExchange with
    // broadcast off; rehearsal at 50-100x: shuffle records ≈ N
    // vectors + N narrow final-join rows, not 2N vectors, and both
    // metrics double exactly from 50x to 100x)
    val base = idx.select(col("cid"), col("vec_id"), col("v"))
    val dups = base.alias("a").join(base.alias("b"),
        col("a.cid") === col("b.cid") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(graft.functions.GraftFunctions.cosineNative(s,
          col("a.v"), col("b.v")), 6).as("cos"))
      .filter(col("cos") >= SemDedupMinCos)
      .groupBy(col("id_b").as("vec_id"))
      .agg(min("id_a").as("dup_of"))
    idx.select("vec_id", "cid")
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        col("dup_of").isNull.as("kept"), col("dup_of"))
      .transform(Present.sortedUnbounded(_, col("vec_id")))
  }

  /** SemDeDup with tombstone MASKING — the semantic-dedup family's
    * REMOVE verb, consuming the SAME landed tombstone sidecar as
    * `ann_ivf_delete` (one delete artifact serves every consumer of
    * the index — the point of landing it): the within-cell pair pass
    * runs over the masked inverted file, so a deleted vector neither
    * survives as a member nor anchors anyone's `dup_of` — a survivor
    * whose only earlier near-dup was deleted flips back to KEPT,
    * which is exactly what a takedown must do to the dedup decision.
    * Oracle: the full deterministic build replayed with both pair
    * sides and the output restricted to survivors. */
  def semDedupDelete(s: SparkSession, d: String): DataFrame = {
    val masked = ivfStore(s, d)._1
      .join(broadcast(ivfTombStore(s, d)), Seq("vec_id"), "left_anti")
    semDedupFrom(s, masked)
  }

  /** SemDeDup over the PURGED index — the delete verb's compaction
    * half: the within-cell pair pass runs on the single purged
    * segment [[ivfDelCompactStore]] already landed for
    * `ann_ivf_delete_compact` (ONE compaction artifact serves every
    * index consumer, exactly as the tombstone sidecar did for the
    * masks), so the plan reads no tombstones and applies no mask
    * anywhere. Answer-identical to [[semDedupDelete]] by
    * construction — purge ≡ mask at fixed cells — and gated against
    * the same survivors-only oracle. */
  def semDedupDeleteCompact(s: SparkSession, d: String): DataFrame =
    semDedupFrom(s, ivfDelCompactStore(s, d)._1)

  /** Every SemIncrEvery-th vec_id plays the "new batch" — the same
    * synthetic-split convention as Dedup.IncrEvery. */
  val SemIncrEvery = 5L

  /** Incremental SemDeDup: only the NEW BATCH (vec_id ≡ 0 mod
    * [[SemIncrEvery]]) is scored against the landed index — the
    * steady-state ingestion shape, where yesterday's corpus is already
    * deduped and only today's delta pays compute. Output is DEFINED
    * equal to [[semDedup]] restricted to batch members (the spec
    * asserts it; the oracle is the full rule + one filter).
    *
    * Scale shape: the batch rides a BROADCAST into the cid join, so
    * the corpus-sized index NEVER shuffles — one store scan (in a
    * cid-partitioned layout it prunes to the batch's cells, as the
    * ann_ivf_pq store demonstrates) scored map-side, with only
    * (vec_id, dup_of) partial-agg survivors entering any exchange.
    * Probe cost ∝ batch × cell size, independent of corpus size. */
  def semDedupIncremental(s: SparkSession, d: String): DataFrame =
    semDedupIncrementalFrom(s, ivfStore(s, d)._1)

  private[graft] def semDedupIncrementalFrom(s: SparkSession,
                                             idx: DataFrame): DataFrame = {
    val base = idx.select(col("cid"), col("vec_id"), col("v"))
    val batch = base.filter(col("vec_id") % SemIncrEvery === 0)
    val dups = base.alias("a").join(broadcast(batch.alias("b")),
        col("a.cid") === col("b.cid") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        round(graft.functions.GraftFunctions.cosineNative(s,
          col("a.v"), col("b.v")), 6).as("cos"))
      .filter(col("cos") >= SemDedupMinCos)
      .groupBy(col("id_b").as("vec_id"))
      .agg(min("id_a").as("dup_of"))
    batch.select("vec_id", "cid")
      .join(dups, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cid"),
        col("dup_of").isNull.as("kept"), col("dup_of"))
      .transform(Present.sortedUnbounded(_, col("vec_id")))
  }

  /** Per-label centroid + the member furthest from its centroid — an
    * embedding-quality / outlier-mining aggregate (array avg via
    * element-wise sums). */
  def labelCentroidOutlier(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val byDim = e.select(col("label"), col("vec_id"),
      posexplode(col("v")).as(Seq("dim", "x")))
    // both consumers shuffle on (label, dim) → ReuseExchange shares
    // the one shuffle write; no cache needed
    val cent = byDim.groupBy("label", "dim").agg(avg("x").as("c"))
    val joined = byDim
      .join(cent, Seq("label", "dim"))
      .groupBy("label", "vec_id")
      .agg(
        sum(col("x") * col("c")).as("dotc"),
        sum(col("x") * col("x")).as("nx"),
        sum(col("c") * col("c")).as("nc"))
      .withColumn("cos_c",
        round(col("dotc") / sqrt(col("nx") * col("nc")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("label").orderBy(col("cos_c"), col("vec_id"))
    joined.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("label"), col("vec_id").as("outlier_id"), col("cos_c"))
      .transform(Present.sorted(_, col("label")))
  }

  /** Int8 symmetric quantization of L2-normalized vectors — the
    * storage/serving form of an embedding corpus (4× smaller than
    * float32, SIMD-dot-friendly): q_i = round(127 · v_i / ‖v‖).
    * Normalizing first makes the scale constant (1/127) corpus-wide,
    * so dequantization needs no per-vector metadata beyond the norm,
    * which is emitted alongside. Pure map-side array math in codegen
    * (no UDF, no shuffle) — at 100 TB this runs as a projection fused
    * into the scan that feeds the parquet rewrite. */
  def embedQuantize(s: SparkSession, d: String): DataFrame =
    emb(s, d)
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .select(col("vec_id"), round(col("nrm"), 6).as("norm"),
        transform(col("v"),
          x => round(x * 127 / col("nrm"), 0).cast("int")).as("qvec"))
      .transform(Present.sortedUnbounded(_, col("vec_id")))

  /** Gate form of [[embedQuantize]]: the codes serialized as a CSV
    * string. The driver's pandas compare sorts/factorizes cell values
    * and cannot hash an array<int> cell, so the hash-gated row carries
    * `array_join(qvec, ',')`; library users call [[embedQuantize]] for
    * the typed array form (same math, same plan). */
  def embedQuantizeGated(s: SparkSession, d: String): DataFrame =
    embedQuantize(s, d)
      .select(col("vec_id"), col("norm"),
        array_join(transform(col("qvec"), _.cast("string")), ",")
          .as("qvec_csv"))

  /** Anchor-batch size for contrastive triplet mining. In production
    * this is the mining mini-batch (10³–10⁴ anchors per job), never
    * the corpus. */
  val MiningAnchors = 32

  /** CONTRASTIVE TRIPLET MINING (hard negatives): for each anchor
    * vector, the most-similar SAME-label neighbor (the positive) and
    * the most-similar DIFFERENT-label neighbor (the hard negative) —
    * the (anchor, positive, negative) triplets that contrastive /
    * metric-learning fine-tuning consumes, mined from the corpus.
    *
    * Gated form is the exact ground truth over a bounded anchor batch
    * (same shape as [[knnBruteForce]]: anchors broadcast, one streamed
    * pass over the corpus, native fused cosine, per-anchor top-1 via
    * window). At 100 TB the candidate generation composes with the
    * landed IVF index instead of the full scan — probe the anchor's
    * nprobe cells (ann_ivf), score only cell members, then apply the
    * same same/different-label top-1; the label split is a residual
    * predicate either way. Ties are broken (cos DESC, vec_id) on the
    * 6-dp rounded cosine, the family's cross-engine determinism rule.
    */
  def hardNegatives(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val q = e.filter(col("vec_id") < MiningAnchors)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("label").as("q_label"))
    labelSplitTop1(
      e.crossJoin(broadcast(q))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos", round(
          graft.functions.GraftFunctions.cosineNative(s,
            col("v"), col("qv")), 6))
        .withColumn("same", col("label") === col("q_label")))
  }

  /** The mining tail shared by the exact and IVF-path miners: per
    * (anchor, pool) top-1 on the 6-dp rounded cosine with the
    * vec_id tie-break (the family's cross-engine determinism rule),
    * pivoted to one triplet row per anchor. Input needs (q_id,
    * vec_id, cos, same); ONE definition so a tie-break or rounding
    * tweak can never split the two miners. */
  private def labelSplitTop1(scored: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id", "same").orderBy(desc("cos"), col("vec_id"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .groupBy("q_id")
      .agg(
        max(when(col("same"), col("vec_id"))).as("pos_id"),
        max(when(col("same"), col("cos"))).as("pos_cos"),
        max(when(!col("same"), col("vec_id"))).as("neg_id"),
        max(when(!col("same"), col("cos"))).as("neg_cos"))
      .transform(Present.sorted(_, col("q_id")))
  }

  /** [[hardNegatives]]'s committed SCALE PATH, gated: candidate
    * generation through the LANDED IVF index instead of the full
    * corpus scan — each anchor probes its [[IvfProbes]] nearest
    * centroids (the ann_ivf probe rule verbatim: 9-rounded centroid
    * cosine, cid tie-break, probed cids pruned as partition literals)
    * and the same/different-label top-1 runs over probed-cell members
    * only. The label column joins in AFTER the cell prune, so it is
    * candidate-bounded (at 100 TB: labels live as an index column and
    * the join disappears). Approximate exactly like ann_ivf is —
    * the oracle replays build → probe → in-cell label-split rank
    * verbatim, so the gate pins the INDEX-path answer, and the spec
    * measures agreement with the exact [[hardNegatives]] ground
    * truth. */
  def hardNegativesIvf(s: SparkSession, d: String): DataFrame = {
    val (idx, cent) = ivfStore(s, d)
    val q = emb(s, d).filter(col("vec_id") < MiningAnchors)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("label").as("q_label"))
    val wProbe = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("ccos"), col("cid"))
    val probes = q.crossJoin(broadcast(cent))
      .withColumn("ccos", round(
        graft.functions.GraftFunctions.cosineNative(s, col("qv"), col("cv")),
        9))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= IvfProbes)
      .select("q_id", "qv", "q_label", "cid")
    // probe job runs once (≤ anchors × nprobe rows — plan, not data);
    // see ivfProbeRankedOn for the collect-once rationale
    val probeRows = probes.collect()
    val cids = probeRows.map(_.getLong(3)).distinct.toIndexedSeq
    val probesLocal = s.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probes.schema)
    val labels = emb(s, d).select(col("vec_id"), col("label"))
    labelSplitTop1(
      idx.filter(col("cid").isin(cids: _*))
        .join(broadcast(probesLocal), Seq("cid"))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("cos", round(
          graft.functions.GraftFunctions.cosineNative(s,
            col("v"), col("qv")), 6))
        .join(labels, "vec_id")
        .withColumn("same", col("label") === col("q_label")))
  }

  /** Output dimensionality of the random projection. */
  val ProjDims = 16
  /** Source dimensionality (the embeddings table's contract). */
  val SrcDims = 64

  /** The ±1 sign matrix for [[embedProject]] — sign(j)(i) for output
    * dim j and input dim i is the low bit of md5("proj:<in-dim i>:
    * <out-dim j>") (note the key order: in-dim FIRST), so both
    * engines share it as literals and a re-run regenerates it
    * bit-identically (no RNG, the repo rule). */
  private[graft] lazy val projSigns: Array[Array[Double]] =
    Array.tabulate(ProjDims, SrcDims) { (j, i) =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"proj:$i:$j".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1.0 else -1.0
    }

  /** RANDOM-PROJECTION dimensionality reduction (Achlioptas ±1 / JL
    * sketch, public): 64-dim embeddings fold to [[ProjDims]] signed
    * sums — the cheap storage reducer and ANN prefilter an embedding
    * pipeline runs before the exact index (4× fewer VALUES per
    * vector — 2× fewer bytes as emitted, since the 64 float32 inputs
    * project to 16 doubles; narrow to float32 at write time for the
    * full 4×;
    * E‖Pv‖² = ProjDims·‖v‖², so distances survive up to the JL
    * distortion the spec measures). Projection = 16 declarative dot
    * products against PRF sign literals — codegen'd, no UDF, no
    * shuffle (a pure map over the corpus); 6-dp rounding is the
    * family's cross-engine determinism rule (both engines fold the
    * identical products left-to-right). */
  def embedProject(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val cols = (0 until ProjDims).map { j =>
      round(dot(col("v"), typedLit(projSigns(j).toSeq)), 6)
        .as(f"p$j%02d")
    }
    e.select(col("vec_id") +: cols: _*)
      .transform(Present.sortedUnbounded(_, col("vec_id")))
  }

  /** Candidates the coarse sketch pass keeps per query for
    * [[annProjectRerank]] — the exact-rerank depth. */
  val ProjShortlist = 50

  private[graft] val sketchStores = new graft.Landed[String]("graft_sketch")

  /** Session-scoped landed SKETCH STORE: [[embedProject]]'s 16-dim JL
    * sketches as one array column (vec_id, sp), NARROWED TO FLOAT32
    * at write time — 16 float32 values/vector vs the source's 64:
    * the full 4× storage reduction the embed_project scaladoc names.
    * The narrowing is IEEE round-to-nearest in both engines (JVM
    * double→float ≡ DuckDB ::REAL), so the float32-rounded sketch is
    * itself hash-gateable; compute widens back to double. Built once
    * per dataset from the same PRF sign matrix, so the gated
    * `embed_project` and this consumer can never drift. */
  /** The float32-narrowed JL sketch column — ONE definition shared by
    * the full store and the incremental delta build, so a
    * quantization or sign-matrix tweak can never split the two build
    * paths. */
  private def sketchCol: Column =
    array((0 until ProjDims).map(j =>
      round(dot(col("v"), typedLit(projSigns(j).toSeq)), 6)
        .cast("float")): _*)

  def sketchStore(s: SparkSession, d: String): DataFrame =
    s.read.parquet(sketchStores.root(d) { out =>
      emb(s, d).select(col("vec_id"), sketchCol.as("sp"))
        .write.mode("overwrite").parquet(out)
    })

  /** PROJECTED-PREFILTER ANN — the composed consumer of
    * [[embedProject]] (the round-16 sketch finally earning its keep):
    * coarse top-[[ProjShortlist]] per query on the LANDED 16-dim
    * sketches, exact cosine rerank of the survivors on the full
    * 64-dim vectors — the `ann_ivf_pq` memory-bound pattern with the
    * JL sketch in place of int8 codes (sketches shrink the DIMENSION,
    * codes the element width; both make the corpus-wide scan cheap
    * and bound the exact fetch to shortlist × queries rows).
    *
    * Scale shape: queries broadcast (bounded by construction), the
    * sketch store streams through ONE narrow pass (~4× fewer values
    * than the full-vector scan — measured in the scale rehearsal);
    * only (q_id, vec_id) shortlist pairs enter an exchange; the
    * rerank joins the broadcast shortlist against the embedding scan,
    * so full vectors are read once and never shuffled. Approximate
    * exactly as ann_ivf is: HASH-GATED against a DuckDB replay of
    * sketch → coarse rank → exact rerank (the JL distortion is part
    * of the gated definition, not an error term), with recall vs
    * brute force measured in the spec. Coarse scores rank at 9 dp
    * (the probe convention), final cosines at 6 (the family rule). */
  def annProjectRerank(s: SparkSession, d: String): DataFrame = {
    // widen the stored float32 sketches back to double for compute
    val sk = sketchStore(s, d).select(col("vec_id"),
      transform(col("sp"), x => x.cast("double")).as("sp"))
    annProjectRerankFrom(s, d, sk)
  }

  /** The coarse-rank + exact-rerank chain over an explicit sketch
    * relation — ONE definition shared by the single-store and
    * 2-segment incremental forms so the probes cannot drift. */
  private def annProjectRerankFrom(s: SparkSession, d: String,
                                   sk: DataFrame): DataFrame = {
    val q = sk.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("sp").as("qsp"))
    val wC = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("sc"), col("vec_id"))
    val short = sk.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sc", round(
        graft.functions.GraftFunctions.cosineNative(s,
          col("sp"), col("qsp")), 9))
      .withColumn("cr", row_number().over(wC))
      .filter(col("cr") <= ProjShortlist)
      .select("q_id", "vec_id")
    val e = emb(s, d)
    val qv = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("cos"), col("vec_id"))
    e.join(broadcast(short), Seq("vec_id"))
      .join(broadcast(qv), Seq("q_id"))
      .withColumn("cos", round(
        graft.functions.GraftFunctions.cosineNative(s,
          col("v"), col("qv")), 6))
      .withColumn("rn", row_number().over(wR))
      .filter(col("rn") <= TopK)
      .select(col("q_id"), col("rn"), col("vec_id").as("neighbor"), col("cos"))
      .transform(Present.sorted(_, col("q_id"), col("rn")))
  }

  /** Every SketchIncrEvery-th vec_id plays the ARRIVING batch for the
    * sketch store's append verb (the suite's incremental-slot
    * convention; distinct from the semdedup/delete slots). */
  val SketchIncrEvery = 5L
  val SketchIncrSlot  = 2L

  private[graft] val sketchSegStores = new graft.Landed[String]("graft_sketchseg")

  /** Land the (base, delta) sketch segments: base = the store minus
    * the batch (a landed artifact in production); delta PROJECTS only
    * the arriving batch — the one JL pass the append pays, ∝ batch
    * (the multimodal_features_incremental contract applied to the
    * sketch store: a pure-map artifact appends by mapping the batch,
    * never re-projecting the archive). Both land under one root. */
  private def sketchSegRoots(s: SparkSession, d: String): (String, String) = {
    val root = sketchSegStores.root(d) { out =>
      sketchStore(s, d)
        .filter(col("vec_id") % SketchIncrEvery =!= SketchIncrSlot)
        .write.mode("overwrite").parquet(s"$out/graft_sketchb")
      emb(s, d).filter(col("vec_id") % SketchIncrEvery === SketchIncrSlot)
        .select(col("vec_id"), sketchCol.as("sp"))
        .write.mode("overwrite").parquet(s"$out/graft_sketchd")
    }
    (s"$root/graft_sketchb", s"$root/graft_sketchd")
  }

  /** The landed delta segment as a fresh read — exposed so the spec
    * can pin |delta| = |batch|. */
  private[graft] def sketchDeltaSegment(s: SparkSession, d: String): DataFrame =
    s.read.parquet(sketchSegRoots(s, d)._2)
  /** The landed base segment as a fresh read. */
  private[graft] def sketchBaseSegment(s: SparkSession, d: String): DataFrame =
    s.read.parquet(sketchSegRoots(s, d)._1)

  /** [[annProjectRerank]] over the 2-segment (base ∪ delta) sketch
    * store — the append verb's probe: incremental maintenance must be
    * INVISIBLE in the answer, so this hash-equals the single-store
    * form against the same oracle (a dropped batch sketch, a
    * double-projection, or a drifted sign matrix between the build
    * paths hash-fails). */
  def annProjectRerankIncremental(s: SparkSession, d: String): DataFrame = {
    val (baseRoot, deltaRoot) = sketchSegRoots(s, d)
    val sk = s.read.parquet(baseRoot)
      .unionByName(s.read.parquet(deltaRoot))
      .select(col("vec_id"),
        transform(col("sp"), x => x.cast("double")).as("sp"))
    annProjectRerankFrom(s, d, sk)
  }

  /** Eval-benchmark slice for semantic decontamination (vec_id below
    * this plays the held-out benchmark's embeddings). */
  val DecontamEvalVecs = 16
  /** Flag threshold — same scale as the near-dup family's. */
  val DecontamMinCos = 0.35

  /** SEMANTIC DECONTAMINATION — the embedding rung of the decontam
    * family (n-gram overlap and Bloom-prefiltered exact matching live
    * in [[PipelineOps]]): training vectors whose cosine to ANY
    * held-out eval vector reaches the threshold are flagged, each
    * with its nearest eval item (6-dp rounded cosine, eval_id
    * tie-break — the family's determinism rule). Paraphrased or
    * re-encoded contamination that shares no n-grams is exactly what
    * this catches and the lexical rungs cannot.
    *
    * Scale shape: the eval set is a BENCHMARK — bounded by
    * construction — so it broadcasts and the corpus streams through
    * one pass, no corpus shuffle (the decontam_bloom economics with
    * cosine instead of membership). Against a landed IVF index the
    * same query runs index-first: each eval vector probes its nprobe
    * cells and only cell members score — the [[hardNegativesIvf]]
    * composition with the roles reversed. */
  def decontamSemantic(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val ev = e.filter(col("vec_id") < DecontamEvalVecs)
      .select(col("vec_id").as("eval_id"), col("v").as("ev"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(desc("cos"), col("eval_id"))
    e.filter(col("vec_id") >= DecontamEvalVecs)
      .crossJoin(broadcast(ev))
      .withColumn("cos", round(
        graft.functions.GraftFunctions.cosineNative(s, col("v"), col("ev")), 6))
      .filter(col("cos") >= DecontamMinCos)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("eval_id").as("nearest_eval"), col("cos"))
      .transform(Present.sortedUnbounded(_, col("vec_id")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "knn_bruteforce"    -> knnBruteForce _,
    "hard_negatives"    -> hardNegatives _,
    "hard_negatives_ivf" -> hardNegativesIvf _,
    "decontam_semantic" -> decontamSemantic _,
    "embed_project"     -> embedProject _,
    "ann_project_rerank" -> annProjectRerank _,
    "ann_project_rerank_incremental" -> annProjectRerankIncremental _,
    "neardup_embedding" -> ((s: SparkSession, d: String) => neardupEmbedding(s, d)),
    "ann_lsh"           -> annLsh _,
    "ann_ivf"           -> annIvf _,
    "ann_ivf_incremental" -> annIvfIncremental _,
    "ann_ivf_compact"   -> annIvfCompact _,
    "ann_ivf_delete"    -> annIvfDelete _,
    "ann_ivf_delete_compact" -> annIvfDeleteCompact _,
    "ann_ivf_pruned"    -> annIvfPruned _,
    "ann_ivf_pq"        -> annIvfPq _,
    "semdedup"          -> semDedup _,
    "semdedup_incremental" -> semDedupIncremental _,
    "semdedup_delete"   -> semDedupDelete _,
    "semdedup_delete_compact" -> semDedupDeleteCompact _,
    "rag_retrieve"      -> ragRetrieve _,
    "label_outliers"    -> labelCentroidOutlier _,
    "embed_quantize"    -> embedQuantizeGated _,
  )

  /** Cosine in DuckDB list arithmetic, rounded like the Spark side.
    * Shared with [[Retrieval]]'s hybrid dense-half oracle. */
  private[operators] def cosSql(a: String, b: String, places: Int): String =
    s"""round(list_dot_product($a, $b) / sqrt(
       |      list_dot_product($a, $a) * list_dot_product($b, $b)), $places)""".stripMargin

  /** One Lloyd assignment as a CTE: every vector adopts its
    * nearest-centroid cid (round-9 cosine, cid tie-break) — the SQL
    * twin of ivfBuild's assign(). */
  private def assignSql(out: String, cents: String): String =
    s"""$out AS (
       |  SELECT vec_id, v, cid FROM (
       |    SELECT e.vec_id, e.v, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id
       |        ORDER BY ${cosSql("e.v", "c.cv", 9)} DESC, c.cid) AS rn
       |    FROM e CROSS JOIN $cents c)
       |  WHERE rn = 1)""".stripMargin

  /** Fixed-point dim-wise centroid means — the SQL twin of dimMeans. */
  private def meansSql(out: String, from: String): String =
    s"""$out AS (
       |  SELECT cid, list(m ORDER BY dim) AS cv FROM (
       |    SELECT cid, i - 1 AS dim,
       |      sum(round(v[i] * 10000000)::BIGINT)::DOUBLE
       |        / (count(*)::DOUBLE * 10000000.0) AS m
       |    FROM $from, unnest(range(1, 65)) AS r(i)
       |    GROUP BY cid, i)
       |  GROUP BY cid)""".stripMargin

  /** The deterministic IVF index build (seeds → 2 Lloyd rounds →
    * final assignment `idx`) at an explicit K, as a shared CTE prefix
    * — the exact chain the ann_ivf family inlines; [[Retrieval]]'s
    * hybrid dense half replays the same landed index with its own
    * query workload. */
  private[operators] def ivfIdxSqlK(k: Int): String =
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |seeds AS (
       |  SELECT vec_id AS cid, v AS cv FROM e
       |  ORDER BY ('0x' || substring(md5(vec_id::VARCHAR), 1, 15))::BIGINT,
       |    vec_id
       |  LIMIT $k),
       |${assignSql("a0", "seeds")},
       |${meansSql("c1", "a0")},
       |${assignSql("a1", "c1")},
       |${meansSql("c2", "a1")},
       |${assignSql("idx", "c2")}""".stripMargin

  private[operators] def ivfIdxSql: String = ivfIdxSqlK(IvfClusters)

  /** The full ann oracle (build at `k` → `nprobe` probes → in-cell
    * exact rank) — ONE builder for ann_ivf, its incremental twin
    * (base ∪ delta ≡ the full inverted file at fixed centroids, so
    * the oracle IS the full replay), and the nprobe ≪ K pruned twin. */
  private def annOracleSql(k: Int, nprobe: Int,
                           scoreCond: String = "TRUE"): String =
    s"""WITH ${ivfIdxSqlK(k)},
       |probes AS (
       |  SELECT q_id, qv, cid FROM (
       |    SELECT q.vec_id AS q_id, q.v AS qv, c.cid,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cosSql("q.v", "c.cv", 9)} DESC, c.cid) AS pr
       |    FROM e q CROSS JOIN c2 c WHERE q.vec_id < $NumQueries)
       |  WHERE pr <= $nprobe),
       |scored AS (
       |  SELECT p.q_id, x.vec_id, ${cosSql("x.v", "p.qv", 6)} AS cos
       |  FROM idx x JOIN probes p ON x.cid = p.cid
       |  WHERE x.vec_id <> p.q_id AND ($scoreCond)),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, vec_id) AS rn
       |  FROM scored)
       |SELECT q_id, rn, vec_id AS neighbor, cos FROM ranked
       |WHERE rn <= $TopK ORDER BY q_id, rn""".stripMargin

  /** ann_ivf's probe → in-cell score → per-query rank tail as a CTE
    * suffix ending in `hits` — the exact chain ann_ivf's oracle
    * inlines, shared by the retrieval compose. */
  private def ivfHitsSql: String =
    s"""probes AS (
       |  SELECT q_id, qv, cid FROM (
       |    SELECT q.vec_id AS q_id, q.v AS qv, c.cid,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${cosSql("q.v", "c.cv", 9)} DESC, c.cid) AS pr
       |    FROM e q CROSS JOIN c2 c WHERE q.vec_id < $NumQueries)
       |  WHERE pr <= $IvfProbes),
       |scored AS (
       |  SELECT p.q_id, x.vec_id, ${cosSql("x.v", "p.qv", 6)} AS cos
       |  FROM idx x JOIN probes p ON x.cid = p.cid
       |  WHERE x.vec_id <> p.q_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, vec_id) AS rn
       |  FROM scored),
       |hits AS (
       |  SELECT q_id, rn, vec_id AS neighbor, cos FROM ranked
       |  WHERE rn <= $TopK)""".stripMargin

  /** Sketch → coarse rank → exact rerank, replayed verbatim: the PRF
    * sign matrix interpolates as literals (the embed_project rule)
    * with a ::REAL::DOUBLE round-trip replaying the store's float32
    * narrowing (IEEE round-to-nearest in both engines); coarse
    * cosines rank at 9 dp, final at 6. ONE builder shared by the
    * single-store and 2-segment incremental forms — the gate pins the
    * projected-prefilter ANSWER including its JL distortion. */
  private def oracleProjRerank: String = {
    val skCols = (0 until ProjDims).map { j =>
      val lits = projSigns(j).map(x =>
        if (x > 0) "1.0" else "-1.0").mkString(", ")
      s"CAST(CAST(round(list_dot_product(v, [$lits]), 6) AS REAL) AS DOUBLE)"
    }.mkString(",\n    ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |sk AS (
       |  SELECT vec_id, [
       |    $skCols] AS sp
       |  FROM e),
       |q AS (SELECT vec_id AS q_id, sp AS qsp FROM sk
       |      WHERE vec_id < $NumQueries),
       |coarse AS (
       |  SELECT q.q_id, s.vec_id, ${cosSql("s.sp", "q.qsp", 9)} AS sc
       |  FROM sk s CROSS JOIN q WHERE s.vec_id <> q.q_id),
       |short AS (
       |  SELECT q_id, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY q_id
       |      ORDER BY sc DESC, vec_id) AS cr
       |    FROM coarse)
       |  WHERE cr <= $ProjShortlist),
       |rer AS (
       |  SELECT sh.q_id, sh.vec_id, ${cosSql("x.v", "qe.v", 6)} AS cos
       |  FROM short sh
       |  JOIN e x ON x.vec_id = sh.vec_id
       |  JOIN e qe ON qe.vec_id = sh.q_id),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY q_id
       |    ORDER BY cos DESC, vec_id) AS rn
       |  FROM rer)
       |SELECT q_id, rn, vec_id AS neighbor, cos FROM ranked
       |WHERE rn <= $TopK ORDER BY q_id, rn""".stripMargin
  }

  /** The survivors-only SemDeDup replay — ONE builder shared by the
    * mask and purge twins (answer-identical at fixed cells). */
  private def semDedupDeleteOracleSql: String =
    s"""WITH $ivfIdxSql,
       |live AS (SELECT vec_id, v, cid FROM idx
       |         WHERE vec_id % $IvfDelEvery <> $IvfDelSlot),
       |dups AS (
       |  SELECT b.vec_id, min(a.vec_id) AS dup_of
       |  FROM live a JOIN live b ON a.cid = b.cid AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.v", "b.v", 6)} >= $SemDedupMinCos
       |  GROUP BY b.vec_id)
       |SELECT i.vec_id, i.cid, d.vec_id IS NULL AS kept, d.dup_of
       |FROM live i LEFT JOIN dups d ON i.vec_id = d.vec_id
       |ORDER BY i.vec_id""".stripMargin

  val oracle: Map[String, String] = Map(
    "rag_retrieve" ->
      s"""WITH $ivfIdxSql,
         |$ivfHitsSql
         |SELECT h.q_id, h.rn, h.neighbor, h.cos,
         |  substring(d.text, 1, $RagPassageChars) AS passage
         |FROM hits h JOIN documents d ON d.doc_id = h.neighbor
         |ORDER BY h.q_id, h.rn""".stripMargin,
    "semdedup" ->
      s"""WITH $ivfIdxSql,
         |dups AS (
         |  SELECT b.vec_id, min(a.vec_id) AS dup_of
         |  FROM idx a JOIN idx b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.v", "b.v", 6)} >= $SemDedupMinCos
         |  GROUP BY b.vec_id)
         |SELECT i.vec_id, i.cid, d.vec_id IS NULL AS kept, d.dup_of
         |FROM idx i LEFT JOIN dups d ON i.vec_id = d.vec_id
         |ORDER BY i.vec_id""".stripMargin,
    // tombstone masking: the full build replayed among SURVIVORS only
    // — both pair sides and the output exclude the deleted slot, so a
    // mask leak OR a stale dup_of anchored on a deleted vector
    // hash-fails
    "semdedup_delete" -> semDedupDeleteOracleSql,
    // purge ≡ mask at fixed cells: the same survivors-only replay —
    // a purge that dropped a survivor or kept a tombstoned vector
    // hash-fails
    "semdedup_delete_compact" -> semDedupDeleteOracleSql,
    // the full rule + one batch filter: incremental ≡ restricted full
    "semdedup_incremental" ->
      s"""WITH $ivfIdxSql,
         |dups AS (
         |  SELECT b.vec_id, min(a.vec_id) AS dup_of
         |  FROM idx a JOIN idx b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE ${cosSql("a.v", "b.v", 6)} >= $SemDedupMinCos
         |    AND b.vec_id % $SemIncrEvery = 0
         |  GROUP BY b.vec_id)
         |SELECT i.vec_id, i.cid, d.vec_id IS NULL AS kept, d.dup_of
         |FROM idx i LEFT JOIN dups d ON i.vec_id = d.vec_id
         |WHERE i.vec_id % $SemIncrEvery = 0
         |ORDER BY i.vec_id""".stripMargin,
    "ann_ivf" -> annOracleSql(IvfClusters, IvfProbes),
    // incremental maintenance must be invisible: base ∪ delta at the
    // landed centroids ≡ the full inverted file, so the oracle is the
    // full replay — a drifted delta assignment or dropped batch
    // vector hash-fails
    "ann_ivf_incremental" -> annOracleSql(IvfClusters, IvfProbes),
    // compaction must be invisible: the folded single segment ≡ the
    // full inverted file, so the oracle is the same full replay — a
    // fold that dropped or duplicated a vector, or probed stale
    // centroids, hash-fails
    "ann_ivf_compact" -> annOracleSql(IvfClusters, IvfProbes),
    // delete maintenance: the full-build replay with the tombstoned
    // ids excluded from scoring — the centroids are the landed ones
    // (re-clustering is a rebuild, not maintenance), so a mask leak
    // OR an accidental re-cluster hash-fails
    "ann_ivf_delete" -> annOracleSql(IvfClusters, IvfProbes,
      s"x.vec_id % $IvfDelEvery <> $IvfDelSlot"),
    // purge ≡ mask at fixed centroids: the same oracle — a purge that
    // dropped a survivor or kept a tombstoned vector hash-fails
    "ann_ivf_delete_compact" -> annOracleSql(IvfClusters, IvfProbes,
      s"x.vec_id % $IvfDelEvery <> $IvfDelSlot"),
    "ann_ivf_pruned" -> annOracleSql(IvfPrunedK, IvfPrunedProbes),
    "ann_ivf_pq" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |seeds AS (
         |  SELECT vec_id AS cid, v AS cv FROM e
         |  ORDER BY ('0x' || substring(md5(vec_id::VARCHAR), 1, 15))::BIGINT,
         |    vec_id
         |  LIMIT $IvfClusters),
         |${assignSql("a0", "seeds")},
         |${meansSql("c1", "a0")},
         |${assignSql("a1", "c1")},
         |${meansSql("c2", "a1")},
         |${assignSql("idx", "c2")},
         |codes AS (
         |  SELECT cid, vec_id, v,
         |    list_transform(v, x ->
         |      round(x * 127 / sqrt(list_dot_product(v, v)))::INTEGER) AS qvec
         |  FROM idx),
         |qc AS (
         |  SELECT vec_id AS q_id, v AS qv,
         |    list_transform(v, x ->
         |      round(x * 127 / sqrt(list_dot_product(v, v)))::INTEGER) AS qq
         |  FROM e WHERE vec_id < $NumQueries),
         |probes AS (
         |  SELECT q_id, qq, cid FROM (
         |    SELECT q.q_id, q.qq, c.cid,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY ${cosSql("q.qv", "c.cv", 9)} DESC, c.cid) AS pr
         |    FROM qc q CROSS JOIN c2 c)
         |  WHERE pr <= $IvfProbes),
         |apx AS (
         |  SELECT p.q_id, x.vec_id,
         |    CAST(list_dot_product(x.qvec::DOUBLE[], p.qq::DOUBLE[]) AS BIGINT) AS apx
         |  FROM codes x JOIN probes p ON x.cid = p.cid
         |  WHERE x.vec_id <> p.q_id),
         |short AS (
         |  SELECT q_id, vec_id FROM (
         |    SELECT *, row_number() OVER (PARTITION BY q_id
         |      ORDER BY apx DESC, vec_id) AS sr
         |    FROM apx)
         |  WHERE sr <= $PqRerankDepth),
         |rer AS (
         |  SELECT s.q_id, s.vec_id, ${cosSql("x.v", "q.qv", 6)} AS cos
         |  FROM short s
         |  JOIN codes x ON x.vec_id = s.vec_id
         |  JOIN qc q ON q.q_id = s.q_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, vec_id) AS rn
         |  FROM rer)
         |SELECT q_id, rn, vec_id AS neighbor, cos FROM ranked
         |WHERE rn <= $TopK ORDER BY q_id, rn""".stripMargin,
    "knn_bruteforce" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < $NumQueries),
         |scored AS (
         |  SELECT q.q_id, e.vec_id,
         |    round(list_dot_product(e.v, q.qv) /
         |      sqrt(list_dot_product(e.v, e.v) * list_dot_product(q.qv, q.qv)),
         |      6) AS cos
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, vec_id) AS rn
         |  FROM scored)
         |SELECT q_id, rn, vec_id AS neighbor, cos FROM ranked
         |WHERE rn <= $TopK ORDER BY q_id, rn""".stripMargin,
    "hard_negatives" ->
      s"""WITH e AS (
         |  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv
         |      FROM e WHERE vec_id < $MiningAnchors),
         |scored AS (
         |  SELECT q.q_id, e.vec_id, (e.label = q.q_label) AS same,
         |    round(list_dot_product(e.v, q.qv) /
         |      sqrt(list_dot_product(e.v, e.v) * list_dot_product(q.qv, q.qv)),
         |      6) AS cos
         |  FROM e CROSS JOIN q WHERE e.vec_id <> q.q_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY q_id, same
         |    ORDER BY cos DESC, vec_id) AS rn
         |  FROM scored)
         |SELECT q_id,
         |  max(CASE WHEN same THEN vec_id END) AS pos_id,
         |  max(CASE WHEN same THEN cos END) AS pos_cos,
         |  max(CASE WHEN NOT same THEN vec_id END) AS neg_id,
         |  max(CASE WHEN NOT same THEN cos END) AS neg_cos
         |FROM ranked WHERE rn = 1 GROUP BY q_id ORDER BY q_id""".stripMargin,
    // the PRF sign matrix interpolates as literals — both engines
    // compute the identical left-to-right product fold
    "embed_project" -> {
      val projCols = (0 until ProjDims).map { j =>
        val lits = projSigns(j).map(x =>
          if (x > 0) "1.0" else "-1.0").mkString(", ")
        f"  round(list_dot_product(v, [$lits]), 6) AS p$j%02d"
      }.mkString(",\n")
      s"""SELECT vec_id,
         |$projCols
         |FROM (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
         |ORDER BY vec_id""".stripMargin
    },
    // sketch → coarse rank → exact rerank, replayed verbatim: the PRF
    // sign matrix interpolates as literals (the embed_project rule),
    // coarse cosines rank at 9 dp, final at 6 — the gate pins the
    // projected-prefilter ANSWER including its JL distortion
    "ann_project_rerank" -> oracleProjRerank,
    // incremental maintenance must be invisible: base ∪ delta ≡ the
    // full sketch store, so the oracle is the same full replay
    "ann_project_rerank_incremental" -> oracleProjRerank,
    // flag → nearest-eval argmax, replayed naively (the eval slice is
    // 16 vectors; the oracle's cross join is the gate-scale form)
    "decontam_semantic" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |ev AS (SELECT vec_id AS eval_id, v AS evv FROM e
         |       WHERE vec_id < $DecontamEvalVecs),
         |scored AS (
         |  SELECT c.vec_id, ev.eval_id,
         |    round(list_dot_product(c.v, ev.evv) /
         |      sqrt(list_dot_product(c.v, c.v) *
         |           list_dot_product(ev.evv, ev.evv)), 6) AS cos
         |  FROM e c CROSS JOIN ev WHERE c.vec_id >= $DecontamEvalVecs),
         |flagged AS (
         |  SELECT *, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY cos DESC, eval_id) AS rn
         |  FROM scored WHERE cos >= $DecontamMinCos)
         |SELECT vec_id, eval_id AS nearest_eval, cos
         |FROM flagged WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    // the index-path replay: build → anchor probes → in-cell
    // label-split top-1, verbatim (the ann_ivf oracle's chain with a
    // label join and the same/different pools)
    "hard_negatives_ivf" ->
      s"""WITH $ivfIdxSql,
         |lab AS (SELECT vec_id, label FROM embeddings),
         |probes AS (
         |  SELECT q_id, qv, q_label, cid FROM (
         |    SELECT q.vec_id AS q_id, q.v AS qv, l.label AS q_label, c.cid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${cosSql("q.v", "c.cv", 9)} DESC, c.cid) AS pr
         |    FROM e q JOIN lab l ON l.vec_id = q.vec_id
         |    CROSS JOIN c2 c WHERE q.vec_id < $MiningAnchors)
         |  WHERE pr <= $IvfProbes),
         |scored AS (
         |  SELECT p.q_id, x.vec_id, (xl.label = p.q_label) AS same,
         |    ${cosSql("x.v", "p.qv", 6)} AS cos
         |  FROM idx x JOIN probes p ON x.cid = p.cid
         |  JOIN lab xl ON xl.vec_id = x.vec_id
         |  WHERE x.vec_id <> p.q_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY q_id, same
         |    ORDER BY cos DESC, vec_id) AS rn
         |  FROM scored)
         |SELECT q_id,
         |  max(CASE WHEN same THEN vec_id END) AS pos_id,
         |  max(CASE WHEN same THEN cos END) AS pos_cos,
         |  max(CASE WHEN NOT same THEN vec_id END) AS neg_id,
         |  max(CASE WHEN NOT same THEN cos END) AS neg_cos
         |FROM ranked WHERE rn = 1 GROUP BY q_id ORDER BY q_id""".stripMargin,
    "neardup_embedding" ->
      s"""WITH e AS (
         |  SELECT vec_id, embedding::DOUBLE[] AS v
         |  FROM embeddings WHERE vec_id < $MaxExactIds)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  round(list_dot_product(a.v, b.v) / sqrt(
         |    list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)), 6) AS cos
         |FROM e a JOIN e b ON a.vec_id < b.vec_id
         |WHERE round(list_dot_product(a.v, b.v) / sqrt(
         |    list_dot_product(a.v, a.v) * list_dot_product(b.v, b.v)), 6) >= 0.35
         |ORDER BY id_a, id_b""".stripMargin,
    "label_outliers" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |bydim AS (
        |  SELECT label, vec_id, i - 1 AS dim, v[i] AS x
        |  FROM e, unnest(range(1, 65)) AS r(i)),
        |cent AS (SELECT label, dim, avg(x) AS c FROM bydim GROUP BY 1, 2),
        |joined AS (
        |  SELECT b.label, b.vec_id,
        |    sum(b.x * c.c) AS dotc, sum(b.x * b.x) AS nx, sum(c.c * c.c) AS nc
        |  FROM bydim b JOIN cent c ON b.label = c.label AND b.dim = c.dim
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT label, vec_id, round(dotc / sqrt(nx * nc), 6) AS cos_c,
        |    row_number() OVER (PARTITION BY label
        |      ORDER BY round(dotc / sqrt(nx * nc), 6), vec_id) AS rn
        |  FROM joined)
        |SELECT label, vec_id AS outlier_id, cos_c FROM scored
        |WHERE rn = 1 ORDER BY label""".stripMargin,
    "ann_lsh" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |planes AS (
         |  SELECT p, list_transform(range(0, 64), i ->
         |    ((('0x' || substring(md5('plane,' || p::VARCHAR || ',' ||
         |        i::VARCHAR), 1, 15))::BIGINT % 1000000)::DOUBLE
         |      / 1000000.0) - 0.5) AS pc
         |  FROM unnest(range(0, ${LshBands * LshRows})) AS t(p)),
         |bits AS (
         |  SELECT vec_id, p // $LshRows AS band, p % $LshRows AS r,
         |    CASE WHEN list_dot_product(v, pc) > 0 THEN 1 ELSE 0 END AS bit
         |  FROM e CROSS JOIN planes),
         |bsig AS (
         |  SELECT vec_id, band,
         |    sum(bit << (${LshRows - 1} - r))::BIGINT AS bsig
         |  FROM bits GROUP BY 1, 2),
         |cand AS (
         |  SELECT DISTINCT q.vec_id AS q_id, a.vec_id
         |  FROM bsig a JOIN bsig q ON a.band = q.band AND a.bsig = q.bsig
         |  WHERE q.vec_id < $NumQueries AND a.vec_id <> q.vec_id),
         |scored AS (
         |  SELECT c.q_id, c.vec_id,
         |    round(list_dot_product(a.v, q.v) / sqrt(
         |      list_dot_product(a.v, a.v) * list_dot_product(q.v, q.v)),
         |      6) AS cos
         |  FROM cand c
         |  JOIN e a ON a.vec_id = c.vec_id
         |  JOIN e q ON q.vec_id = c.q_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY q_id
         |    ORDER BY cos DESC, vec_id) AS rn
         |  FROM scored)
         |SELECT q_id, rn, vec_id AS neighbor, cos FROM ranked
         |WHERE rn <= $TopK ORDER BY q_id, rn""".stripMargin,
    "embed_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v,
        |    sqrt(list_dot_product(embedding::DOUBLE[],
        |      embedding::DOUBLE[])) AS nrm
        |  FROM embeddings)
        |SELECT vec_id, round(nrm, 6) AS norm,
        |  array_to_string(list_transform(v,
        |    x -> round(x * 127 / nrm)::INTEGER), ',') AS qvec_csv
        |FROM e ORDER BY vec_id""".stripMargin,
  )
}
