package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** BM25 lexical retrieval over the documents corpus — the sparse
  * (keyword) half of a RAG stack next to [[Similarity]]'s dense
  * cosine half; also the standard relevance score for corpus
  * curation ("find training docs about X").
  *
  * Engine-neutral scoring (hash-stable by CONSTRUCTION, not by
  * rounding): with k1 = 6/5 and b = 3/4, the per-term BM25 factor
  *
  *   tf·(k1+1) / (tf + k1·(1 − b + b·len/avgdl))
  *
  * becomes, after quantizing avgdl once to tenths of a token
  * (avgq = 10·total_tokens DIV n_docs) and multiplying through by
  * 10·avgq, the exact integer ratio
  *
  *   22·avgq·tf / (10·avgq·tf + 3·avgq + 90·len)
  *
  * so each term's contribution is one BIGINT floor-division
  * idfq·22·avgq·tf DIV (10·avgq·tf + 3·avgq + 90·len) and the doc
  * score is an exact integer sum — no float ever crosses the engine
  * boundary. The only transcendental, Robertson idf
  * ln((N − df + ½)/(df + ½) + 1), is evaluated ONCE (in-plan, over
  * the distinct-df relation — at most |vocab| rows), quantized to
  * 10⁻⁷, and replayed into the oracle as integer literals — the same
  * landed-integer scheme as the perplexity gate, so a 1-ulp libm
  * divergence cannot flip a hash.
  *
  * Shape at scale: the (doc_id, word, tf) POSTINGS land once per
  * dataset ([[dtStore]] — the index-build/query split every
  * production BM25 engine makes); len/df/stats derive from the
  * landed postings without touching raw text again, the query
  * relation (a handful of terms), the distinct-df idf table, and
  * the 1-row corpus stats are all BROADCAST, so a scoring query
  * costs a postings read PRUNED to the query terms' word buckets
  * (the postings land PARTITIONED BY md5-bucket(word) — partition
  * pruning as the inverted-index lookup) plus the (query, doc)
  * partial-agg sum, and the final top-k is a per-query window over
  * docs that matched at least one query term — the inverted-index
  * selectivity is what makes BM25 cheap at 100 TB: docs sharing no
  * term with the query are never read, never scored, never
  * shuffled. Overflow
  * headroom: idfq·22·avgq·tf stays under 2⁶³ for any document up to
  * ~10⁵ tokens at ~10⁵ avgdl; book-length corpora would widen the
  * product to DECIMAL(38,0), identical floor-division semantics on
  * both engines.
  */
object Retrieval {

  val TopK = 10

  /** Fixed query workload (query_id, terms) — vocabulary drawn from
    * the synthetic corpus. */
  val Bm25Queries: Seq[(Long, String)] = Seq(
    (1L, "spark join filter"),
    (2L, "window agg order"),
    (3L, "fast table scan"))

  private def queryTermsOf(s: SparkSession,
                           workload: Seq[(Long, String)]): DataFrame = {
    import s.implicits._
    workload.flatMap { case (id, q) =>
      q.split(" ").toSeq.map(w => (id, w))
    }.toDF("query_id", "word")
  }

  private def queryTerms(s: SparkSession): DataFrame =
    queryTermsOf(s, Bm25Queries)

  /** Distinct word buckets a workload's terms hash into — the
    * partition-pruning literals of every postings probe. */
  private def bucketsOf(workload: Seq[(Long, String)]): Seq[Long] =
    workload.flatMap(_._2.split(" ")).map(wbOf).distinct

  /** GENERATED workload for the WAND win regime: each query =
    * one SELECTIVE term (mid-df — rare enough for a high idf and a
    * high θ, but df ≥ 2×[[TopK]] so the seed yields a full θ) plus
    * two HOT terms (the largest postings lists). The max-score seed
    * is the selective term by construction (its per-posting upper
    * bound dwarfs the hot terms'), θ lands near the selective docs'
    * scores, and every hot-only doc's ubsum falls below it — the
    * classic WAND regime where the prune skips the bulk of the
    * candidate set. Deterministic given the landed dfr sidecar. The
    * RetrievalSpec "wand win regime" case runs [[wandPlan]] on it
    * against full scoring; the measured win-regime receipts are in
    * SCALE.md §"The WAND WIN regime". */
  private[graft] def selectiveWorkloadOf(s: SparkSession, d: String,
                                         n: Int): Seq[(Long, String)] = {
    val hot = dfrStore(s, d).orderBy(desc("df"), col("word"))
      .limit(2 * n).select("word").collect().map(_.getString(0))
    // selective = rare enough to be discriminative (≤ a quarter of
    // the indexed docs) but with at least 2K postings so the seed
    // pass yields a full θ — both bounds from the landed sidecars
    val ndocs = dlStore(s, d).count()
    val rare = dfrStore(s, d)
      .filter(col("df") >= 2L * TopK && col("df") <= ndocs / 4)
      .orderBy(col("df"), col("word"))
      .limit(n).select("word").collect().map(_.getString(0))
    require(rare.nonEmpty && hot.nonEmpty,
      s"selectiveWorkloadOf: corpus at $d has no selective word " +
        s"(df in [${2 * TopK}, ${ndocs / 4}])")
    (0 until n).map { i =>
      val terms = Seq(rare(i % rare.length),
        hot((2 * i) % hot.length), hot((2 * i + 1) % hot.length)).distinct
      (i + 1L, terms.mkString(" "))
    }
  }

  /** Session-scoped LANDED idf sidecar per dataset dir — the
    * (df → idfq) integer table as parquet, built once (the lmStore /
    * nllq-sidecar pattern from the perplexity gate): Robertson idf's
    * single ln is evaluated HERE, distributedly, once per distinct
    * df, when the sidecar lands; every later consumer — the Spark
    * scoring plan AND the DuckDB oracle — replays the landed
    * integers. No ln survives anywhere else, so run order can no
    * longer matter and the former ln-rederiving oracle fallback is
    * gone. Bounded by distinct-df count ≤ vocabulary size. */
  /** Session-scoped LANDED INVERTED INDEX per dataset dir — the
    * (doc_id, word, tf) postings as parquet, built from ONE corpus
    * tokenize pass (the lmStore/ivfStore pattern applied to
    * retrieval, which is exactly what a production BM25 engine does:
    * the index is BUILT once, every query probes it). Everything
    * else derives from the postings without touching raw text again:
    * doc length = Σtf per doc, df = postings per word, corpus stats
    * from the lengths — so a scoring query costs one postings scan,
    * not a corpus re-tokenize. */
  /** Word-bucket count for the postings layout. */
  val WordBuckets = 64

  /** JVM twin of the Column-side bucket (md5-60 % WordBuckets) — the
    * query's terms are known driver-side, so their buckets become
    * partition-pruning literals on the store read. */
  private[graft] def wbOf(word: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(word.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    java.lang.Long.parseLong(hex, 16) % WordBuckets
  }

  private[graft] val dtStores = new graft.Landed[String]("graft_bm25")

  /** Land ONE index SEGMENT under a store root — the single
    * index-build recipe every store below shares: `dt` = postings
    * PARTITIONED BY word bucket (wb = md5-60(word) % 64 — on disk
    * each bucket is its own directory, so a probe reads ONLY the
    * matched terms' buckets: partition pruning as the inverted-index
    * lookup), plus the corpus-stat sidecars a real engine stores
    * next to the index — `dl` (doc_id → length) and `dfr`
    * (word → df) — derived from the landed postings so ONE tokenize
    * pass covers everything. A layout change edits exactly this
    * method; the full/base/delta roots only choose the doc slice. The
    * bucket count is fixed at [[WordBuckets]] (other counts measured:
    * SCALE.md §"Bucket count as a measured knob"). */
  private def landSegment(s: SparkSession, docs: DataFrame,
                          out: String): Unit = {
    TextOps.tokenize(docs)
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
      .withColumn("wb",
        pmod(Dedup.md5Hash60(col("word")), lit(WordBuckets.toLong)))
      .write.mode("overwrite").partitionBy("wb").parquet(s"$out/dt")
    deriveSidecars(s, out)
  }

  /** Re-derive the `dl`/`dfr` corpus-stat sidecars from a root's
    * landed postings — shared by the tokenize-built segments and the
    * compaction (whose postings come from a segment MERGE, not a
    * tokenize): one recipe, so the stats can't drift between build
    * paths. */
  private def deriveSidecars(s: SparkSession, root: String): Unit = {
    val dt = s.read.parquet(s"$root/dt")
    dt.groupBy("doc_id").agg(sum("tf").as("len"))
      .write.mode("overwrite").parquet(s"$root/dl")
    dt.groupBy("word").agg(count(lit(1)).as("df"))
      .write.mode("overwrite").parquet(s"$root/dfr")
  }

  private def dtRoot(s: SparkSession, d: String): String =
    dtStores.root(d)(landSegment(s, Tables.documents(s, d), _))

  /** A landed postings segment as a fresh store read. Partition-column
    * inference narrows `wb` to int; pin it back to long (the
    * Similarity.ivfStore pattern) so the driver-side Long pruning
    * literals match the attribute type cast-free by construction —
    * pruning must not depend on Spark's cast-tolerant behavior. */
  private[graft] def readPostings(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(dir).withColumn("wb", col("wb").cast("long"))

  /** The landed (doc_id, word, tf) postings as a fresh store read
    * (unpruned — callers wanting the inverted-index lookup filter on
    * `wb` first). */
  def dtStore(s: SparkSession, d: String): DataFrame =
    readPostings(s, s"${dtRoot(s, d)}/dt")

  /** The landed (doc_id, len) / (word, df) corpus-stat sidecars. */
  def dlStore(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${dtRoot(s, d)}/dl")
  def dfrStore(s: SparkSession, d: String): DataFrame =
    s.read.parquet(s"${dtRoot(s, d)}/dfr")

  private[graft] val idfStores = new graft.Landed[String]("graft_idf")

  /** Land the (df → idfq) integer sidecar from a df relation at `out`
    * — the one place Robertson idf's ln ever runs. Shared by the
    * full-index sidecar, the segment-sourced twin and the
    * post-compaction twins, so the ln/quantization can never drift.
    * `ndocs` is a 1-row (ndocs BIGINT) relation the CALLER derives
    * from its own dl sidecar(s) — N = INDEXED docs, the count every
    * real engine uses — so each build path stands on its own landed
    * artifacts and never re-reads the raw corpus (a doc that tokenizes to zero words is not indexed and
    * does not count; the oracle's replay aggregates the same
    * token-derived dl, so the two N's agree by construction). */
  private def landIdf(s: SparkSession, dfr: DataFrame, ndocs: DataFrame,
                      out: String): Unit =
    dfr.select("df").distinct()
      .crossJoin(broadcast(ndocs))
      .select(col("df"),
        round(log((col("ndocs").cast("double") - col("df").cast("double")
          + lit(0.5)) / (col("df").cast("double") + lit(0.5)) + lit(1.0))
          * 1e7, 0).cast("long").as("idfq"))
      .write.mode("overwrite").parquet(out)

  /** [[landIdf]] from a landed segment root's own dfr + dl sidecars. */
  private def landIdfOf(s: SparkSession, root: String, out: String): Unit =
    landIdf(s, s.read.parquet(s"$root/dfr"),
      s.read.parquet(s"$root/dl").agg(count(lit(1)).as("ndocs")), out)

  // built FROM the landed df + dl sidecars — the raw corpus is
  // tokenized exactly once per dataset, by the postings build
  private def idfRoot(s: SparkSession, d: String): String =
    idfStores.root(d)(landIdfOf(s, dtRoot(s, d), _))

  /** The landed (df, idfq) integers as a fresh store read. */
  def idfStore(s: SparkSession, d: String): DataFrame =
    s.read.parquet(idfRoot(s, d))

  /** Harvest contexts KEYED BY DATASET DIR — a retrieval run against
    * a staged/multiplied dataset (ScaleRehearsal) must not be able to
    * redirect a later oracle dump for the BASE dataset: the dump
    * harvests the literals of the dataset it is dumping
    * ([[dumpDir]]), not whichever dataset ran last. */
  private val ctxByDir =
    new java.util.concurrent.ConcurrentHashMap[String, SparkSession]()
  /** The dataset the next oracle dump is FOR. [[graft.Verify]] pins it
    * explicitly ([[noteDumpContext]]); absent that, the FIRST noted
    * dataset stands in (single-dataset JVMs — the spec suite), and a
    * wrong guess still fails loudly through the error() oracle, never
    * silently harvests the wrong literals. */
  private val dumpDir =
    new java.util.concurrent.atomic.AtomicReference[String](null)
  def noteContext(s: SparkSession, d: String): Unit = {
    ctxByDir.put(d, s)
    dumpDir.compareAndSet(null, d)
  }
  /** Pin the dataset the oracle dump reads literals for — called by
    * [[graft.Verify]] up front, so the dump is correct even if other
    * datasets were noted before (or none were). */
  def noteDumpContext(s: SparkSession, d: String): Unit = {
    ctxByDir.put(d, s)
    dumpDir.set(d)
  }

  /** Why the last harvest produced no literals — folded into the
    * error() oracle so an ORACLE-ERR names its actual cause instead
    * of sending the operator to a remedy that won't help. */
  private val lastHarvestErr =
    new java.util.concurrent.atomic.AtomicReference[String](null)

  private def harvestIdf(read: (SparkSession, String) => DataFrame)
      : Option[String] =
    Option(dumpDir.get())
      .map(d => (ctxByDir.get(d), d))
      // Try: a stopped session / vanished scratch dir must degrade to
      // the loud error() oracle for the RETRIEVAL queries only, not
      // abort the whole oracle_sql.json dump (Verify assembles the
      // map outside its per-query try). nonEmpty: an empty-corpus idf
      // store would otherwise emit the malformed `VALUES ` form.
      .flatMap { case (s, d) =>
        scala.util.Try(read(s, d).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq) match {
          case scala.util.Success(rs) if rs.nonEmpty =>
            lastHarvestErr.set(null); Some(rs)
          case scala.util.Success(_) =>
            lastHarvestErr.set("landed idf store is empty " +
              "(empty documents corpus?)"); None
          case scala.util.Failure(e) =>
            lastHarvestErr.set(
              s"sidecar read failed: ${e.toString.take(160)}"); None
        }
      }
      .map(_.sortBy(_._1).map { case (df, q) => s"($df,$q)" }.mkString(", "))

  /** The full-index (df → idfq) literals — every non-delete oracle's
    * idf source. */
  private[graft] def idfValuesSql: Option[String] = harvestIdf(idfStore)
  /** The post-delete-compaction literals — N and df both shrank, so
    * the purged-index oracle replays ITS OWN landed integers. */
  private[graft] def idfDelValuesSql: Option[String] =
    harvestIdf(idfDelStore)

  /** Top-[[TopK]] docs per query by exact-integer BM25:
    * (query_id, doc_id, n_terms, score, rank). */
  def bm25Retrieve(s: SparkSession, d: String): DataFrame =
    bm25Ranked(s, d)
      .transform(Present.sorted(_, col("query_id"), col("rank")))

  /** The pre-presentation ranked relation — shared by the gated query
    * and the hybrid fusion (which must not inherit the 1-partition
    * presentation sort mid-plan). */
  private[graft] def bm25Ranked(s: SparkSession, d: String): DataFrame =
    bm25RankedWith(s, d, Bm25Queries)

  /** [[bm25Ranked]] under an explicit workload — the full-scoring
    * reference a generated workload's [[wandPlan]] is checked against
    * (RetrievalSpec "wand win regime"). Only the probe's bucket union
    * and the broadcast query relation grow with the workload. */
  private[graft] def bm25RankedWith(s: SparkSession, d: String,
                                    workload: Seq[(Long, String)]): DataFrame = {
    noteContext(s, d)
    // every relation below is a LANDED index artifact — the scoring
    // query never re-tokenizes the corpus, and the postings read is
    // PRUNED to the query terms' word buckets (partition pruning as
    // the inverted-index lookup: at 100 TB the probe reads the
    // matched directories, not the index)
    val wbs = bucketsOf(workload)
    val dt = dtStore(s, d).filter(col("wb").isin(wbs: _*)).drop("wb")
    val dl = dlStore(s, d)
    // 1-row corpus stats; avgdl quantized to tenths of a token by
    // integer division — the engine-neutral constant the integer
    // ratio above is built on
    val st = dl.agg(sum("len").as("t"), count(lit(1)).as("nd"))
      .select(expr("(10 * t) div nd").as("avgq"))
    val dfr = dfrStore(s, d)
    // the LANDED (df → idfq) sidecar: ln ran once, at land time —
    // this plan (and the oracle) only ever joins stored integers
    scoreFrom(s, queryTermsOf(s, workload), dt, dl, dfr, idfStore(s, d), st)
  }

  /** The per-term exact-integer BM25 contribution — ONE expression
    * string, shared by every scoring chain AND the max-score sidecar
    * build, so the bound-vs-score arithmetic cannot drift. */
  private val ContribExpr =
    "(idfq * 22 * avgq * tf) div (10 * avgq * tf + 3 * avgq + 90 * len)"

  /** The ONE scoring chain (query join → per-term exact-integer BM25
    * contribution → doc sum → per-query rank), shared by the
    * full-index, incremental, and compacted queries so the formula
    * cannot drift between the hash gates. */
  private def scoreFrom(s: SparkSession, qt: DataFrame, dt: DataFrame,
                        dl: DataFrame, dfr: DataFrame, idf: DataFrame,
                        st: DataFrame): DataFrame =
    rankTopK(scorePairs(qt.join(dt, "word"), None, dl, dfr, idf, st))

  /** Exact-score a (query_id, word, doc_id, tf) matched relation —
    * optionally restricted to a candidate (query_id, doc_id) pair set
    * (the WAND prune's survivors) — into (query_id, doc_id, n_terms,
    * score). The candidate semi-join is what makes score-pruning REAL
    * in the plan: pruned docs never reach the dl join, the division,
    * or the score aggregate. */
  private def scorePairs(matched: DataFrame, cand: Option[DataFrame],
                         dl: DataFrame, dfr: DataFrame, idf: DataFrame,
                         st: DataFrame): DataFrame = {
    val in = cand.fold(matched)(c =>
      matched.join(c, Seq("query_id", "doc_id"), "left_semi"))
    in.join(dl, "doc_id")
      .join(dfr, "word")
      .join(broadcast(idf), "df")
      .crossJoin(broadcast(st))
      .select(col("query_id"), col("doc_id"), expr(ContribExpr).as("c"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_terms"), sum("c").as("score"))
  }

  /** Per-query rank + top-K cut over a scored relation. */
  private def rankTopK(scored: DataFrame): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(desc("score"), col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("query_id", "doc_id", "n_terms", "score", "rank")
  }

  // ---------------------------------------------------------------
  // Incremental index maintenance: the arriving-batch twin of the
  // landed index (the incremental-dedup/semdedup pattern applied to
  // retrieval) — update cost ∝ batch, never ∝ index.
  // ---------------------------------------------------------------

  /** Every IncrEvery-th doc (doc_id % 10 == 7) plays the ARRIVING
    * batch; the base index lands over the rest. */
  val IncrEvery = 10
  val IncrSlot = 7

  private[graft] val baseStores = new graft.Landed[String]("graft_bm25b")

  private def baseRoot(s: SparkSession, d: String): String =
    baseStores.root(d)(landSegment(s, Tables.documents(s, d)
      .filter(col("doc_id") % IncrEvery =!= IncrSlot), _))

  /** The arriving batch's DELTA artifacts, landed once per dataset:
    * the maintenance job tokenizes ONLY the batch (cost ∝ batch —
    * the other "petabytes" already sit in the base index) and lands
    * the batch's postings + stat sidecars next to the base's, the
    * way a production index APPENDS a day's segment. */
  private[graft] val incrStores = new graft.Landed[String]("graft_bm25i")

  private def incrRoot(s: SparkSession, d: String): String =
    incrStores.root(d)(landSegment(s, Tables.documents(s, d)
      .filter(col("doc_id") % IncrEvery === IncrSlot), _))

  /** Segment-sourced (df → idfq) sidecar — the SAME landed integers
    * as [[idfStore]] (identical formula over the identical merged df
    * domain; RetrievalSpec pins the equality) built WITHOUT touching
    * the monolithic full index: the incremental query must not
    * trigger a full-corpus postings build on cold start, or its
    * "update cost ∝ batch" contract would be false exactly when it
    * runs standalone. */
  private val idfSegStores = new graft.Landed[String]("graft_idfseg")

  private def idfSegRoot(s: SparkSession, d: String): String =
    idfSegStores.root(d) { out =>
      val merged = s.read.parquet(s"${baseRoot(s, d)}/dfr")
        .unionByName(s.read.parquet(s"${incrRoot(s, d)}/dfr"))
        .groupBy("word").agg(sum("df").as("df"))
      // ndocs from the SEGMENTS' dl sidecars (doc slices are disjoint
      // by the holdout) — index-local, like the df merge above
      val ndocs = s.read.parquet(s"${baseRoot(s, d)}/dl")
        .unionByName(s.read.parquet(s"${incrRoot(s, d)}/dl"))
        .agg(count(lit(1)).as("ndocs"))
      landIdf(s, merged, ndocs, out)
    }

  /** The segment-sourced idf integers as a fresh store read. */
  def idfSegStore(s: SparkSession, d: String): DataFrame =
    s.read.parquet(idfSegRoot(s, d))

  /** INCREMENTAL BM25 — index maintenance priced ∝ batch: the base
    * index is LANDED over the corpus minus the arriving batch, the
    * batch's delta segment lands separately (tokenizing only the
    * batch — [[incrRoot]]), and the scoring query reads base ∪ delta
    * with merged stats. Results must be IDENTICAL to the full-index
    * `bm25_retrieve` — the oracle IS the full-corpus replay, so a
    * merge that dropped a posting, double-counted a df, or staled
    * avgdl hash-fails. The idf integers come from the
    * SEGMENT-SOURCED sidecar ([[idfSegRoot]] — identical integers to
    * the full-corpus one, but built from the segments' dfrs, so a
    * cold-start incremental query never triggers the monolithic
    * full-index build), and no ln ever runs here either. At 100 TB
    * this is nightly index maintenance: tokenize the day's docs,
    * land their segment, refresh the stats — never re-read the other
    * petabytes (the incremental-dedup contract applied to the
    * retrieval index; a compaction folding segments is
    * `catalog_compact`'s story, same trade). */
  def bm25Incremental(s: SparkSession, d: String): DataFrame = {
    noteContext(s, d)
    val root = baseRoot(s, d)
    val delta = incrRoot(s, d)
    // merged stats: landed base sidecars ∪ landed delta sidecars
    // (doc ids are disjoint by the holdout; dfs add per word)
    val dl = s.read.parquet(s"$root/dl")
      .unionByName(s.read.parquet(s"$delta/dl"))
    val st = dl.agg(sum("len").as("t"), count(lit(1)).as("nd"))
      .select(expr("(10 * t) div nd").as("avgq"))
    val dfr = s.read.parquet(s"$root/dfr")
      .unionByName(s.read.parquet(s"$delta/dfr"))
      .groupBy("word").agg(sum("df").as("df"))
    // merged postings for SCORING: BOTH segments pruned to the query
    // terms' buckets (the inverted-index lookup applies per segment)
    val wbs = bucketsOf(Bm25Queries)
    def pruned(dir: String) = readPostings(s, dir)
      .filter(col("wb").isin(wbs: _*)).drop("wb")
    val dt = pruned(s"$root/dt").unionByName(pruned(s"$delta/dt"))
    scoreFrom(s, queryTerms(s), dt, dl, dfr, idfSegStore(s, d), st)
      .transform(Present.sorted(_, col("query_id"), col("rank")))
  }

  // ---------------------------------------------------------------
  // Segment COMPACTION: the maintenance verb that folds base + delta
  // into ONE segment — the other half of the incremental bargain
  // (appends keep ingestion cheap; scans pay a per-segment probe +
  // stat merge until a compaction folds the segments). The
  // catalog_compact trade, applied to the retrieval index.
  // ---------------------------------------------------------------

  private[graft] val compactStores = new graft.Landed[String]("graft_bm25c")

  /** Fold the landed base + delta segments into one compacted root:
    * merge postings per (doc_id, word) — a GENERAL segment fold (tf
    * sums per key; with the holdout's disjoint doc slices the sums
    * degenerate to pass-through, and the full-corpus oracle would
    * hash-fail either kind of merge error) — keeping the wb layout,
    * then re-derive the dl/dfr sidecars from the compacted postings
    * via the one shared recipe. NO tokenize anywhere: compaction
    * reads segments, never the corpus — at 100 TB it is an index-
    * local rewrite scheduled off-peak, priced ∝ index, amortized over
    * every later probe's single-segment read. */
  private def compactRoot(s: SparkSession, d: String): String =
    compactStores.root(d) { out =>
      readPostings(s, s"${baseRoot(s, d)}/dt")
        .unionByName(readPostings(s, s"${incrRoot(s, d)}/dt"))
        .groupBy("doc_id", "word", "wb").agg(sum("tf").as("tf"))
        .write.mode("overwrite").partitionBy("wb").parquet(s"$out/dt")
      deriveSidecars(s, out)
    }

  private val idfCmpStores = new graft.Landed[String]("graft_idfcmp")

  /** (df → idfq) sidecar sourced from the COMPACTED dfr + dl —
    * identical integers to [[idfStore]]'s (same formula, same df
    * domain, same indexed-doc N), built without touching the
    * monolithic full index OR the raw corpus: post-compaction scoring
    * stands on the compacted artifacts alone. */
  private def idfCmpRoot(s: SparkSession, d: String): String =
    idfCmpStores.root(d)(landIdfOf(s, compactRoot(s, d), _))

  /** Post-compaction BM25 — the gated proof that compaction is
    * INVISIBLE in the answer: one compacted segment (single dt read,
    * single dl/dfr sidecar pair — no union, no stat merge) must
    * hash-equal the full-index `bm25_retrieve` against the same
    * full-corpus oracle. The probe keeps the wb partition pruning:
    * compaction preserves the layout, so the inverted-index lookup
    * survives the fold. */
  def bm25Compact(s: SparkSession, d: String): DataFrame = {
    noteContext(s, d)
    val root = compactRoot(s, d)
    val dl = s.read.parquet(s"$root/dl")
    val st = dl.agg(sum("len").as("t"), count(lit(1)).as("nd"))
      .select(expr("(10 * t) div nd").as("avgq"))
    val dfr = s.read.parquet(s"$root/dfr")
    val wbs = bucketsOf(Bm25Queries)
    val dt = readPostings(s, s"$root/dt")
      .filter(col("wb").isin(wbs: _*)).drop("wb")
    scoreFrom(s, queryTerms(s), dt, dl, dfr,
      s.read.parquet(idfCmpRoot(s, d)), st)
      .transform(Present.sorted(_, col("query_id"), col("rank")))
  }

  // ---------------------------------------------------------------
  // Index DELETE maintenance (tombstones): the lifecycle's REMOVE
  // verb — a delete request (takedown, dedup-loser purge) lands a
  // ∝-batch tombstone sidecar; probes MASK tombstoned docs; the next
  // compaction PURGES their postings and refreshes the sidecars. Two
  // gated stages with two distinct, honest semantics:
  //   bm25_delete          — masked probe, STALE stats (Lucene's
  //                          contract: deleted docs still count in
  //                          df/avgdl/N until segments merge);
  //   bm25_delete_compact  — post-purge probe, FRESH stats (the
  //                          rebuild-equivalent answer).
  // Each stage has its own oracle; neither inherits the other's.
  // ---------------------------------------------------------------

  /** Every DelEvery-th doc (doc_id % 10 == 3) plays the DELETE batch
    * (disjoint from [[IncrSlot]] so the lifecycles don't entangle). */
  val DelEvery = 10L
  val DelSlot  = 3L

  private[graft] val tombStores = new graft.Landed[String]("graft_bm25t")

  /** Land the tombstone sidecar: the deleted doc_ids, nothing else —
    * the delete REQUEST is an id list, so the landed artifact is
    * ∝ batch by construction (the spec pins |tombstones| = |batch|).
    * Derived here from the dl sidecar (index-local — which docs the
    * index actually holds; never a corpus read): a real pipeline
    * hands the id list in directly. */
  private def tombRoot(s: SparkSession, d: String): String =
    tombStores.root(d) { out =>
      dlStore(s, d).filter(col("doc_id") % DelEvery === DelSlot)
        .select("doc_id")
        .write.mode("overwrite").parquet(out)
    }

  /** The landed tombstone ids as a fresh store read — exposed so the
    * spec can pin |tombstones| ∝ batch. */
  private[graft] def tombStore(s: SparkSession, d: String): DataFrame =
    s.read.parquet(tombRoot(s, d))

  /** BM25 with tombstone MASKING — the probe-time half of delete
    * maintenance: the postings read anti-joins the broadcast tombstone
    * sidecar (∝ batch — at 100 TB the mask is a Bloom-sized side
    * relation, never an index rewrite), while df/avgdl/N and the idf
    * integers stay the FULL index's — Lucene's exact contract, where
    * a deleted doc still counts in every corpus stat until a merge
    * purges it. The oracle replays precisely that: full-corpus stats,
    * scoring restricted to surviving docs — so a mask that leaked a
    * deleted doc into the answer, or an over-eager stat refresh,
    * hash-fails. */
  def bm25Delete(s: SparkSession, d: String): DataFrame = {
    noteContext(s, d)
    val wbs = bucketsOf(Bm25Queries)
    val dt = dtStore(s, d).filter(col("wb").isin(wbs: _*)).drop("wb")
      .join(broadcast(tombStore(s, d)), Seq("doc_id"), "left_anti")
    val dl = dlStore(s, d)
    val st = dl.agg(sum("len").as("t"), count(lit(1)).as("nd"))
      .select(expr("(10 * t) div nd").as("avgq"))
    scoreFrom(s, queryTerms(s), dt, dl, dfrStore(s, d), idfStore(s, d), st)
      .transform(Present.sorted(_, col("query_id"), col("rank")))
  }

  private[graft] val delCmpStores = new graft.Landed[String]("graft_bm25dc")

  /** Compaction with tombstone PURGE: rewrite the postings minus the
    * tombstoned docs (keeping the wb layout) and re-derive the dl/dfr
    * sidecars from the purged postings via the one shared recipe —
    * after this the tombstones are dead weight and the stats are
    * fresh. Index-local: reads segments + the id sidecar, never the
    * corpus; priced ∝ index, scheduled off-peak like every other
    * compaction here. */
  private def delCmpRoot(s: SparkSession, d: String): String =
    delCmpStores.root(d) { out =>
      readPostings(s, s"${dtRoot(s, d)}/dt")
        .join(broadcast(tombStore(s, d)), Seq("doc_id"), "left_anti")
        .write.mode("overwrite").partitionBy("wb").parquet(s"$out/dt")
      deriveSidecars(s, out)
    }

  private val idfDelStores = new graft.Landed[String]("graft_idfdel")

  /** (df → idfq) sidecar from the PURGED dfr + dl — the fresh-stats
    * integers post-delete-compaction (N and df both shrink), built
    * from the compacted artifacts alone. */
  private def idfDelRoot(s: SparkSession, d: String): String =
    idfDelStores.root(d)(landIdfOf(s, delCmpRoot(s, d), _))

  /** The purged-index idf integers as a fresh store read. */
  def idfDelStore(s: SparkSession, d: String): DataFrame =
    s.read.parquet(idfDelRoot(s, d))

  /** The purged postings as a fresh store read — exposed so the spec
    * can pin that compaction left ZERO tombstoned rows behind. */
  private[graft] def delCompactPostings(s: SparkSession, d: String): DataFrame =
    readPostings(s, s"${delCmpRoot(s, d)}/dt")

  /** Post-purge BM25 — the compaction half of delete maintenance: ONE
    * purged segment, FRESH stats (df/avgdl/N over the surviving docs,
    * idf integers re-landed from the purged sidecars). The oracle is
    * the full replay over the corpus MINUS the deleted docs — the
    * rebuild-equivalent answer, so a purge that missed a posting,
    * kept a stale df, or dropped a surviving doc hash-fails. */
  def bm25DeleteCompact(s: SparkSession, d: String): DataFrame = {
    noteContext(s, d)
    val root = delCmpRoot(s, d)
    val dl = s.read.parquet(s"$root/dl")
    val st = dl.agg(sum("len").as("t"), count(lit(1)).as("nd"))
      .select(expr("(10 * t) div nd").as("avgq"))
    val dfr = s.read.parquet(s"$root/dfr")
    val wbs = bucketsOf(Bm25Queries)
    val dt = readPostings(s, s"$root/dt")
      .filter(col("wb").isin(wbs: _*)).drop("wb")
    scoreFrom(s, queryTerms(s), dt, dl, dfr, idfDelStore(s, d), st)
      .transform(Present.sorted(_, col("query_id"), col("rank")))
  }

  // ---------------------------------------------------------------
  // Score-pruned top-k (WAND family): per-term integer MAX-SCORE
  // sidecars let the probe skip docs whose score upper bound cannot
  // reach rank K — the classic search-engine optimization (Broder et
  // al.'s WAND / the max-score rule), exact here BECAUSE scoring is
  // integer: the bound is a true ceiling, not a float estimate, so
  // the pruned query stays hash-gated against the full replay.
  // ---------------------------------------------------------------

  private[graft] val ubStores = new graft.Landed[String]("graft_bm25ub")

  /** Land the per-word MAX-SCORE sidecar next to the postings: for
    * every word, the maximum exact-integer contribution any of its
    * postings can add to a score ([[ContribExpr]] maximized over the
    * word's (tf, len) pairs — computed distributedly from the landed
    * index artifacts, no tokenize). Same wb layout as the postings,
    * so a probe reads only the query terms' bucket directories.
    * Vocabulary-sized, like dfr — index maintenance refreshes it with
    * the other sidecars. */
  private def ubRoot(s: SparkSession, d: String): String =
    ubStores.root(d) { out =>
      val dl = dlStore(s, d)
      val st = dl.agg(sum("len").as("t"), count(lit(1)).as("nd"))
        .select(expr("(10 * t) div nd").as("avgq"))
      dtStore(s, d).drop("wb")
        .join(dl, "doc_id")
        .join(dfrStore(s, d), "word")
        .join(broadcast(idfStore(s, d)), "df")
        .crossJoin(broadcast(st))
        .select(col("word"), expr(ContribExpr).as("c"))
        .groupBy("word").agg(max("c").as("ubq"))
        .withColumn("wb",
          pmod(Dedup.md5Hash60(col("word")), lit(WordBuckets.toLong)))
        .write.mode("overwrite").partitionBy("wb").parquet(out)
    }

  /** The landed (word, ubq) max-score integers as a fresh store read
    * (wb pinned back to long, like every bucketed store). */
  def ubStore(s: SparkSession, d: String): DataFrame =
    s.read.parquet(ubRoot(s, d)).withColumn("wb", col("wb").cast("long"))

  /** The pruned-probe plan plus the observability relations the spec
    * counts: (ranked result, matched (query, doc) pairs, exactly-
    * scored (query, doc) pairs) — skipped = matched − scored. The
    * workload parameter serves the win-regime case
    * ([[selectiveWorkloadOf]]: a selective seed makes θ prune the hot
    * terms' postings); the gated query always runs the fixed
    * [[Bm25Queries]]. */
  private[graft] def wandPlan(s: SparkSession, d: String,
      workload: Seq[(Long, String)] = Bm25Queries)
      : (DataFrame, DataFrame, DataFrame) = {
    noteContext(s, d)
    val wbs = bucketsOf(workload)
    val dt = dtStore(s, d).filter(col("wb").isin(wbs: _*)).drop("wb")
    val dl = dlStore(s, d)
    val st = dl.agg(sum("len").as("t"), count(lit(1)).as("nd"))
      .select(expr("(10 * t) div nd").as("avgq"))
    val dfr = dfrStore(s, d)
    val idf = idfStore(s, d)
    val qt = queryTermsOf(s, workload)
    // (query_id, word, doc_id, tf): every posting in the query terms'
    // buckets that matches a query term — the same relation the plain
    // probe scores IN FULL; here only seeds + survivors reach scoring
    val matched = qt.join(dt, "word")
    val qub = qt.join(
      ubStore(s, d).filter(col("wb").isin(wbs: _*)).drop("wb"), "word")
    // SEED term = the query's highest-upper-bound term: its postings
    // are guaranteed to contain every doc whose single best term is
    // the heaviest — the cheapest set that yields a useful threshold
    val wSeed = Window.partitionBy("query_id")
      .orderBy(desc("ubq"), col("word"))
    val seedT = qub.withColumn("sr", row_number().over(wSeed))
      .filter(col("sr") === 1).select("query_id", "word")
    val seedPairs = matched
      .join(broadcast(seedT), Seq("query_id", "word"), "left_semi")
      .select("query_id", "doc_id").distinct()
    val seedScored = scorePairs(matched, Some(seedPairs), dl, dfr, idf, st)
    // θ = the K-th best seed score (strictly fewer than K seeds → no
    // θ → nothing may be pruned): any doc whose upper bound is below
    // θ loses to ≥ K seeds outright
    val wT = Window.partitionBy("query_id")
      .orderBy(desc("score"), col("doc_id"))
    val theta = seedScored.withColumn("tr", row_number().over(wT))
      .filter(col("tr") === TopK)
      .select(col("query_id"), col("score").as("theta"))
    // non-seed docs: sum the matched terms' upper bounds; survivors
    // must reach θ. EXACT: score ≤ ubsum < θ ⇒ at least K docs beat
    // the doc strictly ⇒ it cannot place in the top K, ties included.
    val ubsum = matched
      .join(seedPairs, Seq("query_id", "doc_id"), "left_anti")
      .join(broadcast(qub.select("query_id", "word", "ubq")),
        Seq("query_id", "word"))
      .groupBy("query_id", "doc_id").agg(sum("ubq").as("ubsum"))
    val survivors = ubsum
      .join(broadcast(theta), Seq("query_id"), "left")
      .filter(col("theta").isNull || col("ubsum") >= col("theta"))
      .select("query_id", "doc_id")
    val survScored = scorePairs(matched, Some(survivors), dl, dfr, idf, st)
    val ranked = rankTopK(seedScored.unionByName(survScored))
    (ranked,
      matched.select("query_id", "doc_id").distinct(),
      seedPairs.unionByName(survivors))
  }

  /** Top-[[TopK]] by exact-integer BM25 through the MAX-SCORE prune —
    * hash-gated IDENTICAL to `bm25_retrieve` (the oracle is the same
    * full replay): the sidecar changes what gets SCORED, never what
    * gets ANSWERED. RetrievalSpec pins that the prune actually skips
    * docs and that the landed bounds are true per-word maxima. */
  def bm25TopkPruned(s: SparkSession, d: String): DataFrame =
    wandPlan(s, d)._1
      .transform(Present.sorted(_, col("query_id"), col("rank")))

  // ---------------------------------------------------------------
  // Hybrid retrieval: reciprocal-rank fusion of the sparse (BM25)
  // and dense (cosine) lists — the standard production RAG pattern
  // (each retriever catches what the other misses; RRF needs no
  // score calibration because it consumes only RANKS).
  // ---------------------------------------------------------------

  /** RRF constant (Cormack et al.: 1/(60 + rank)). */
  val RrfK = 60
  /** Integer micro-units: contribution = 10⁹ DIV (RrfK + rank) —
    * exact BIGINT, so fusion is engine-neutral by construction. */
  val RrfScale = 1000000000L

  /** Dense top-[[TopK]] per query THROUGH THE LANDED IVF INDEX
    * ([[Similarity.ivfStore]] — the same artifact `ann_ivf` probes):
    * query vector = the corpus embedding whose vec_id equals the
    * query_id (doc and vector ids share one domain in this corpus).
    * Each query probes its [[Similarity.IvfProbes]] nearest centroids
    * (a K-row broadcast) and ranks exact cosine only within the
    * probed cells — the corpus is touched only where the index
    * points, so the dense half is corpus-SUBLINEAR like every other
    * production retriever here; the former brute-force full-corpus
    * crossJoin is gone (it contradicted the operator's own 100 TB
    * story). HASH-GATED exactly: the index build is deterministic
    * (md5 seed ranks, fixed-point Lloyd means, 9-place probe cosines
    * with cid tie-breaks), so the DuckDB oracle replays build → probe
    * → in-cell rank verbatim and the fused ranks stay hash-exact. */
  private[graft] def denseRanked(s: SparkSession, d: String): DataFrame = {
    val ids = Bm25Queries.map(_._1)
    val q = Tables.embeddings(s, d)
      .filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id").as("q_id"),
        transform(col("embedding"), x => x.cast("double")).as("qv"))
    // ONE probe implementation, shared with ann_ivf
    // ([[Similarity.ivfProbeRanked]]) — both oracles replay the same
    // rounding/tie-break rules, so sharing the chain keeps them from
    // drifting apart
    Similarity.ivfProbeRanked(s, d, q, TopK)
      .select(col("q_id").as("query_id"), col("vec_id").as("doc_id"),
        col("rn").as("drank"))
  }

  /** Top-[[TopK]] fused docs per query:
    * (query_id, doc_id, srank, drank, rrf, rank) — srank/drank null
    * when a doc appears in only one list; rrf is the exact-integer
    * sum of the per-list reciprocal contributions. A full-outer join
    * of two k-row-per-query lists: past the two retrievers the
    * fusion is O(queries·k) — free at any corpus size. */
  def hybridRetrieve(s: SparkSession, d: String): DataFrame = {
    val sparse = bm25Ranked(s, d)
      .select(col("query_id"), col("doc_id"), col("rank").as("srank"))
    val fused = sparse
      .join(denseRanked(s, d), Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(expr(s"cast($RrfScale as bigint) div ($RrfK + srank)"),
          lit(0L)) +
        coalesce(expr(s"cast($RrfScale as bigint) div ($RrfK + drank)"),
          lit(0L)))
    val w = Window.partitionBy("query_id")
      .orderBy(desc("rrf"), col("doc_id"))
    fused.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= TopK)
      .select("query_id", "doc_id", "srank", "drank", "rrf", "rank")
      .transform(Present.sorted(_, col("query_id"), col("rank")))
  }

  private def qtValues: String =
    Bm25Queries.flatMap { case (id, q) =>
      q.split(" ").toSeq.map(w => s"(${id}::BIGINT, '$w')")
    }.mkString(", ")

  /** The idf CTE: ALWAYS the landed-integer VALUES replay — the
    * ln-rederiving fallback is GONE (it re-inherited the ulp-boundary
    * risk the literal path exists to remove). [[graft.Verify]] records
    * the (session, dir) context before anything runs, so a dump —
    * even a subset dump that skipped the retrieval queries — reads
    * the landed sidecar unconditionally. Outside any Spark context
    * (key-listing tests, a dump nobody ran Verify for) the emitted
    * SQL FAILS LOUDLY in DuckDB via error() instead of silently
    * re-deriving ln — a wrong protocol becomes an ORACLE-ERR, never
    * a maybe-flipped hash. */
  private def idfOracleParts: (String, String) =
    idfPartsOf(idfValuesSql)

  private def idfPartsOf(vals: Option[String]): (String, String) = vals match {
    case Some(vals) =>
      (s"idfv(df, idfq) AS (VALUES $vals)", "JOIN idfv USING (df)")
    case None =>
      // name the ACTUAL cause: "not landed" advice is wrong when the
      // context WAS noted but the harvest itself failed
      val why = Option(lastHarvestErr.get()).getOrElse(
        "no context - run a retrieval query or " +
          "Retrieval.noteContext first")
      val safe = why.replace("'", "\"").replaceAll("[\r\n]", " ")
      (s"idfv(df, idfq) AS (SELECT error('graft idf literals " +
        s"unavailable: $safe'), 0)", "JOIN idfv USING (df)")
  }

  /** Fixed 2-term PHRASE workload (query_id, w1, w2) — adjacent pairs
    * drawn from the corpus vocabulary so matches exist at gate
    * scales. */
  val PhraseQueries: Seq[(Long, String, String)] = Seq(
    (1L, "table", "hash"),
    (2L, "part", "filter"),
    (3L, "customer", "join"))

  private[graft] val ppStores = new graft.Landed[String]("graft_bm25pos")

  /** Land the POSITIONAL postings — (doc_id, pos, word) one row per
    * token occurrence, PARTITIONED BY the same md5 word bucket as the
    * tf postings (a probe reads only the phrase terms' buckets).
    * This is the index upgrade phrase/proximity queries require:
    * Lucene's prx file, here as a bucket-partitioned parquet. The
    * empties are filtered BEFORE positions are assigned so both
    * engines number the same filtered token sequence. */
  /** (doc_id, pos, word, wb) positional postings of a document
    * relation — ONE build expression shared by the full store and the
    * incremental delta segment, so a tokenizer or bucketing change
    * can never split the two build paths. */
  private def positionalPostingsOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(filter(Tokenizers.Letters.column(col("text")),
          w => length(w) > 0)).as(Seq("pos", "word")))
      .withColumn("wb",
        pmod(Dedup.md5Hash60(col("word")), lit(WordBuckets.toLong)))

  private def ppRoot(s: SparkSession, d: String): String =
    ppStores.root(d) { out =>
      positionalPostingsOf(Tables.documents(s, d))
        .write.mode("overwrite").partitionBy("wb").parquet(out)
    }

  /** The landed positional postings as a fresh store read. */
  def ppStore(s: SparkSession, d: String): DataFrame =
    readPostings(s, ppRoot(s, d))

  private[graft] val ppSegStores = new graft.Landed[String]("graft_bm25posseg")

  /** Land the (base, delta) positional segments — the append verb for
    * the positional index (the [[bm25Incremental]] contract: base =
    * the landed store minus the batch, an artifact production already
    * has; delta tokenizes ONLY the arriving batch, so the append is
    * priced ∝ batch). Positions are per-document, so segments union
    * without renumbering — the property that makes a positional index
    * append-friendly. Both land under one root. */
  private def ppSegRoots(s: SparkSession, d: String): (String, String) = {
    val root = ppSegStores.root(d) { out =>
      ppStore(s, d)
        .filter(col("doc_id") % IncrEvery =!= IncrSlot)
        .write.mode("overwrite").partitionBy("wb").parquet(s"$out/graft_bm25posb")
      positionalPostingsOf(Tables.documents(s, d)
          .filter(col("doc_id") % IncrEvery === IncrSlot))
        .write.mode("overwrite").partitionBy("wb").parquet(s"$out/graft_bm25posd")
    }
    (s"$root/graft_bm25posb", s"$root/graft_bm25posd")
  }

  /** The landed delta segment as a fresh read — exposed so the spec
    * can pin |delta docs| = |batch|. */
  private[graft] def ppDeltaSegment(s: SparkSession, d: String): DataFrame =
    readPostings(s, ppSegRoots(s, d)._2)
  /** The landed base segment as a fresh read. */
  private[graft] def ppBaseSegment(s: SparkSession, d: String): DataFrame =
    readPostings(s, ppSegRoots(s, d)._1)

  /** [[phraseRetrieve]] over the 2-segment (base ∪ delta) positional
    * index — incremental maintenance must be INVISIBLE in the answer,
    * so this hash-equals the single-store form against the same
    * oracle (a dropped batch posting or a renumbered position
    * hash-fails). */
  def phraseRetrieveIncremental(s: SparkSession, d: String): DataFrame = {
    val (baseRoot, deltaRoot) = ppSegRoots(s, d)
    phraseRetrieveFrom(s,
      readPostings(s, baseRoot).unionByName(readPostings(s, deltaRoot)))
  }

  /** PHRASE with tombstone MASKING — the positional index's REMOVE
    * verb, consuming the SAME landed tombstone sidecar as
    * `bm25_delete` (one delete artifact serves every index that
    * shares the doc id space — the ivf/semdedup sharing pattern,
    * retrieval edition): deleted docs' positional rows anti-join out
    * before the adjacency join, a broadcast ∝-batch mask, never a
    * store rewrite at probe time. Oracle replays the phrase rule
    * among survivors. */
  def phraseRetrieveDelete(s: SparkSession, d: String): DataFrame =
    phraseRetrieveFrom(s, ppStore(s, d)
      .join(broadcast(tombStore(s, d)), Seq("doc_id"), "left_anti"))

  private[graft] val ppPurgeStores = new graft.Landed[String]("graft_bm25pospurge")

  /** The purged positional store: rewritten minus the tombstoned
    * docs' rows, wb layout kept (the probe's bucket pruning survives
    * the purge) — index-local, no tokenize, priced ∝ store. */
  private def ppPurgeRoot(s: SparkSession, d: String): String =
    ppPurgeStores.root(d) { out =>
      ppStore(s, d)
        .join(broadcast(tombStore(s, d)), Seq("doc_id"), "left_anti")
        .write.mode("overwrite").partitionBy("wb").parquet(out)
    }

  /** The purged positional store as a fresh read — exposed so the
    * spec can pin purged = store − tombstoned rows. */
  private[graft] def ppPurgedStore(s: SparkSession, d: String): DataFrame =
    readPostings(s, ppPurgeRoot(s, d))

  /** Post-purge phrase probe — ONE purged segment, no tombstone read,
    * no mask; answer-identical to [[phraseRetrieveDelete]] (positions
    * are per-document, so the purge cannot shift a surviving doc's
    * adjacency), gated against the same survivors-only oracle. */
  def phraseRetrieveDeleteCompact(s: SparkSession, d: String): DataFrame =
    phraseRetrieveFrom(s, ppPurgedStore(s, d))

  /** Proximity slop for the NEAR operator — w2 within this many
    * positions AFTER w1 (slop 1 ≡ the exact phrase). */
  val PhraseSlop = 3

  /** PROXIMITY (sloppy-phrase / NEAR) retrieval: docs where w2 occurs
    * within [[PhraseSlop]] positions after w1, ranked by the number of
    * such (pos₁, pos₂) occurrences — Lucene's ordered sloppy phrase,
    * the relevance middle ground between the bag-of-words AND and the
    * exact phrase. The candidate join stays an EQUI-join (each w1
    * posting explodes to its [[PhraseSlop]] admissible w2 positions —
    * a bounded fan-out — instead of a range join the planner would
    * nest-loop), so the plan shape is phrase_retrieve's with a 3×
    * wider probe side. */
  def phraseRetrieveSlop(s: SparkSession, d: String): DataFrame =
    phraseRetrieveFrom(s, ppStore(s, d), slop = PhraseSlop)

  /** PHRASE RETRIEVAL over the landed positional index: documents
    * where the query's two terms occur ADJACENTLY (pos₂ = pos₁ + 1),
    * ranked per query by occurrence count — the exact-phrase lookup
    * BM25's bag-of-words scoring cannot express (it would rank a doc
    * containing both words anywhere), and the index capability
    * (positions) that separates a phrase-aware engine from a tf one.
    *
    * Scale shape: the probe reads ONLY the phrase terms' word-bucket
    * directories (partition-pruning literals, the inverted-index
    * lookup); the adjacency join keys on (doc_id, word, pos+1)
    * between two matched-postings relations — each ∝ the terms' df,
    * never the corpus; one (query, doc) count aggregate and a top-K
    * window close it out. HASH-GATED: the oracle replays tokenize →
    * positions → adjacency join → rank verbatim. */
  def phraseRetrieve(s: SparkSession, d: String): DataFrame =
    phraseRetrieveFrom(s, ppStore(s, d))

  /** The probe chain over an explicit positional relation — ONE
    * definition shared by the single-store, 2-segment, delete, and
    * slop forms (the oracle side mirrors with oraclePhraseFor).
    * `slop` = 1 is the exact phrase (a plain pos+1 projection); wider
    * slops explode each w1 posting to its admissible w2 positions —
    * an equi-join with bounded fan-out, never a range join. */
  private def phraseRetrieveFrom(s: SparkSession, pp0: DataFrame,
                                 slop: Int = 1): DataFrame = {
    import s.implicits._
    val buckets = PhraseQueries.flatMap(q => Seq(q._2, q._3))
      .map(wbOf).distinct
    val pp = pp0.filter(col("wb").isin(buckets: _*))
    val q = PhraseQueries.toDF("query_id", "w1", "w2")
    val firstPos =
      if (slop == 1) (col("pos") + 1).as("pos")
      else explode(sequence(col("pos") + 1, col("pos") + slop)).as("pos")
    val first = pp.join(broadcast(q), pp("word") === q("w1"))
      .select(col("query_id"), col("w2"), col("doc_id"), firstPos)
    val second = pp.select(col("doc_id"), col("word").as("w2"), col("pos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("n_occ"), col("doc_id"))
    first.join(second, Seq("doc_id", "w2", "pos"))
      .groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("n_occ"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= TopK)
      .select(col("query_id"), col("rn"), col("doc_id"), col("n_occ"))
      .transform(Present.sorted(_, col("query_id"), col("rn")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bm25_retrieve"    -> bm25Retrieve _,
    "phrase_retrieve"  -> phraseRetrieve _,
    "phrase_retrieve_incremental" -> phraseRetrieveIncremental _,
    "phrase_retrieve_slop" -> phraseRetrieveSlop _,
    "phrase_retrieve_delete" -> phraseRetrieveDelete _,
    "phrase_retrieve_delete_compact" -> phraseRetrieveDeleteCompact _,
    "bm25_incremental" -> bm25Incremental _,
    "bm25_compact"     -> bm25Compact _,
    "bm25_delete"      -> bm25Delete _,
    "bm25_delete_compact" -> bm25DeleteCompact _,
    "bm25_topk_pruned" -> bm25TopkPruned _,
    "hybrid_retrieve"  -> hybridRetrieve _,
  )

  /** The BM25 CTE chain ending in `rk` (ranked, un-truncated) —
    * shared by the gated query and the hybrid fusion oracle. */
  private def bm25CtesSql: String =
    bm25CtesSqlFor("", "TRUE", idfOracleParts)

  /** [[bm25CtesSql]] with three delete-lifecycle knobs: `corpusWhere`
    * restricts the TOKENIZED corpus (the fresh-stats / post-purge
    * replay — stats AND scoring see only survivors), `scoreCond`
    * restricts only the SCORING CTE (the stale-stats / masked-probe
    * replay — stats see the full corpus, deleted docs just don't
    * score), and `idfParts` picks which landed integer sidecar the
    * replay joins. */
  private def bm25CtesSqlFor(corpusWhere: String, scoreCond: String,
                             idfParts: (String, String)): String = {
    val (idfCte, idfJoin) = idfParts
    s"""toks AS (
       |  SELECT doc_id, unnest(${Tokenizers.Letters.sql}) AS word
       |  FROM documents$corpusWhere),
       |dt AS (SELECT doc_id, word, count(*)::BIGINT AS tf
       |       FROM toks GROUP BY 1, 2),
       |dl AS (SELECT doc_id, count(*)::BIGINT AS len
       |       FROM toks GROUP BY 1),
       |st AS (SELECT (10 * CAST(sum(len) AS BIGINT)) //
       |         count(*)::BIGINT AS avgq FROM dl),
       |dfr AS (SELECT word, count(*)::BIGINT AS df FROM dt GROUP BY 1),
       |$idfCte,
       |qt(query_id, word) AS (VALUES $qtValues),
       |c AS (
       |  SELECT qt.query_id, dt.doc_id,
       |    (idfv.idfq * 22 * st.avgq * dt.tf) //
       |      (10 * st.avgq * dt.tf + 3 * st.avgq + 90 * dl.len) AS c
       |  FROM qt JOIN dt USING (word) JOIN dl USING (doc_id)
       |    JOIN dfr ON dfr.word = qt.word $idfJoin CROSS JOIN st
       |  WHERE $scoreCond),
       |sc AS (SELECT query_id, doc_id, count(*)::BIGINT AS n_terms,
       |         CAST(sum(c) AS BIGINT) AS score FROM c GROUP BY 1, 2),
       |rk AS (SELECT *, row_number() OVER (
       |         PARTITION BY query_id ORDER BY score DESC, doc_id)
       |         AS rank FROM sc)""".stripMargin
  }

  /** Dense-list CTE ending in `dn` — the IVF-probe replay
    * ([[Similarity.ivfIdxSql]]'s deterministic build → per-query
    * probe of the [[Similarity.IvfProbes]] nearest centroids →
    * in-cell exact rank) with the retrieval workload's query ids:
    * the exact chain the Spark side runs against the landed index. */
  private def denseCtesSql: String = {
    val ids = Bm25Queries.map(_._1).mkString(", ")
    s"""${Similarity.ivfIdxSql},
       |dprobes AS (
       |  SELECT query_id, qv, cid FROM (
       |    SELECT q.vec_id AS query_id, q.v AS qv, c.cid,
       |      row_number() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${Similarity.cosSql("q.v", "c.cv", 9)} DESC, c.cid)
       |        AS pr
       |    FROM e q CROSS JOIN c2 c WHERE q.vec_id IN ($ids))
       |  WHERE pr <= ${Similarity.IvfProbes}),
       |dn AS (
       |  SELECT query_id, doc_id, drank FROM (
       |    SELECT p.query_id, x.vec_id AS doc_id,
       |      row_number() OVER (PARTITION BY p.query_id
       |        ORDER BY ${Similarity.cosSql("x.v", "p.qv", 6)} DESC, x.vec_id)
       |        AS drank
       |    FROM idx x JOIN dprobes p ON x.cid = p.cid
       |    WHERE x.vec_id <> p.query_id)
       |  WHERE drank <= $TopK)""".stripMargin
  }

  /** The full-corpus BM25 replay: `bm25_retrieve`'s oracle, and the
    * oracle of every twin whose index maintenance must be invisible in
    * the answer. */
  private def oracleBm25: String =
    s"""WITH $bm25CtesSql
       |SELECT query_id, doc_id, n_terms, score, rank FROM rk
       |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin

  /** The phrase replay — ONE builder parameterized by the proximity
    * condition (exact adjacency vs the slop window) and the survivor
    * predicate (the delete twins), shared by all five phrase
    * oracles. */
  private def oraclePhrase: String =
    oraclePhraseFor("b.pos = a.pos + 1", "TRUE")

  private def oraclePhraseFor(adj: String, survive: String): String = {
    val vals = PhraseQueries.map { case (id, w1, w2) =>
      s"($id, '$w1', '$w2')" }.mkString(", ")
    s"""WITH toks AS (
       |  SELECT doc_id, ${Tokenizers.Letters.sql} AS t
       |  FROM documents),
       |pp AS (
       |  SELECT doc_id, i AS pos, t[i] AS word
       |  FROM toks, unnest(range(1, len(t) + 1)) AS r(i)
       |  WHERE $survive),
       |q(query_id, w1, w2) AS (VALUES $vals),
       |m AS (
       |  SELECT q.query_id, a.doc_id, count(*)::BIGINT AS n_occ
       |  FROM q
       |  JOIN pp a ON a.word = q.w1
       |  JOIN pp b ON b.doc_id = a.doc_id AND b.word = q.w2
       |    AND $adj
       |  GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY n_occ DESC, doc_id) AS rn
       |  FROM m)
       |SELECT query_id, rn, doc_id, n_occ FROM ranked
       |WHERE rn <= $TopK ORDER BY query_id, rn""".stripMargin
  }

  // a def, not a val: embeds the idf integers harvested at dump time
  def oracle: Map[String, String] = Map(
    "bm25_retrieve" -> oracleBm25,
    // tokenize → positions over the FILTERED token sequence →
    // adjacency join → per-query occurrence rank, replayed verbatim
    // (positions are 1-based here, 0-based on the Spark side —
    // adjacency is shift-invariant, so the numbering origin cancels)
    "phrase_retrieve" -> oraclePhrase,
    // incremental maintenance must be invisible: base ∪ delta ≡ the
    // full positional store, so the oracle is the same full replay
    "phrase_retrieve_incremental" -> oraclePhrase,
    // the NEAR operator: same replay, proximity window instead of
    // exact adjacency
    "phrase_retrieve_slop" -> oraclePhraseFor(
      s"b.pos - a.pos BETWEEN 1 AND $PhraseSlop", "TRUE"),
    // the delete twins: the phrase rule among SURVIVORS (positions
    // are per-document, so the purge cannot shift adjacency) — one
    // oracle for mask and purge
    "phrase_retrieve_delete" -> oraclePhraseFor(
      "b.pos = a.pos + 1", s"doc_id % $DelEvery <> $DelSlot"),
    "phrase_retrieve_delete_compact" -> oraclePhraseFor(
      "b.pos = a.pos + 1", s"doc_id % $DelEvery <> $DelSlot"),
    // incremental index maintenance must be INVISIBLE in the answer:
    // the oracle is the full-corpus replay, identical to
    // bm25_retrieve's — a merge that dropped a posting, double-counted
    // a df, or staled avgdl hash-fails against it
    "bm25_incremental" -> oracleBm25,
    // compaction must be INVISIBLE in the answer: same full replay —
    // a fold that dropped or double-counted a posting, or re-derived
    // a sidecar wrong, hash-fails here
    "bm25_compact" -> oracleBm25,
    // tombstone MASKING with stale stats (the Lucene contract): the
    // stats CTEs replay the FULL corpus, the scoring CTE drops the
    // deleted docs — a leaked tombstoned doc or an over-eager stat
    // refresh hash-fails
    "bm25_delete" ->
      s"""WITH ${bm25CtesSqlFor("",
             s"dt.doc_id % $DelEvery <> $DelSlot", idfOracleParts)}
         |SELECT query_id, doc_id, n_terms, score, rank FROM rk
         |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin,
    // tombstone PURGE at compaction: the full replay over the corpus
    // MINUS the deleted docs, with the purged index's own landed idf
    // integers — the rebuild-equivalent answer; a missed posting, a
    // stale df, or a dropped survivor hash-fails
    "bm25_delete_compact" ->
      s"""WITH ${bm25CtesSqlFor(
             s" WHERE doc_id % $DelEvery <> $DelSlot", "TRUE",
             idfPartsOf(idfDelValuesSql))}
         |SELECT query_id, doc_id, n_terms, score, rank FROM rk
         |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin,
    // the max-score prune changes what gets SCORED, never what gets
    // ANSWERED: same full replay — an unsound bound (a skipped doc
    // that belonged in the top K) hash-fails here
    "bm25_topk_pruned" -> oracleBm25,
    "hybrid_retrieve" ->
      s"""WITH $bm25CtesSql,
         |sp AS (SELECT query_id, doc_id, rank AS srank FROM rk
         |       WHERE rank <= $TopK),
         |$denseCtesSql,
         |f AS (
         |  SELECT coalesce(s.query_id, d.query_id) AS query_id,
         |    coalesce(s.doc_id, d.doc_id) AS doc_id,
         |    s.srank, d.drank,
         |    coalesce($RrfScale::BIGINT // ($RrfK + s.srank), 0) +
         |    coalesce($RrfScale::BIGINT // ($RrfK + d.drank), 0) AS rrf
         |  FROM sp s FULL OUTER JOIN dn d
         |    ON s.query_id = d.query_id AND s.doc_id = d.doc_id),
         |rk2 AS (SELECT *, row_number() OVER (
         |          PARTITION BY query_id ORDER BY rrf DESC, doc_id)
         |          AS rank FROM f)
         |SELECT query_id, doc_id, srank, drank, rrf, rank FROM rk2
         |WHERE rank <= $TopK ORDER BY query_id, rank""".stripMargin,
  )
}
