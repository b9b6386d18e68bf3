package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Deduplication family over `documents`: exact (hash-group), exact
  * n-gram Jaccard (the verification-scale ground truth), MinHash+LSH
  * (the 100 TB near-dup path), and SimHash.
  *
  * Scale stance:
  *   - Exact dedup groups on a 32-byte SHA-256 of the canonical text,
  *     never on the full text — the shuffle key is fixed-width.
  *   - MinHash/LSH is the linear-time candidate generator: signatures
  *     are 64 mins computed in one aggregation over exploded shingles
  *     (partial min per map partition — tiny shuffle), candidates come
  *     from band-bucket equality (a shuffle on (band, hash), not a
  *     cross join), and only candidates get verified. Oversized
  *     buckets are capped — the standard guard against a degenerate
  *     band flooding the pair stage.
  *   - The exact-Jaccard query exists to *oracle-check* the semantics
  *     at sf0.01; its shingle self-join is quadratic in bucket size
  *     and is not the scale path.
  */
object Dedup {

  /** Word 3-gram shingles of the lowercased letter-token stream, one
    * row per occurrence (NOT yet deduplicated). */
  def shinglesRaw(s: SparkSession, d: String, n: Int = 3): DataFrame =
    shinglesRawFrom(Tables.documents(s, d), n)

  /** Core over any (doc_id, text) frame — lets a caller spread the
    * corpus first when its downstream partial aggregate would
    * otherwise run inside a single scan task. */
  def shinglesRawFrom(docs: DataFrame, n: Int = 3): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    docs
      .withColumn("toks", filter(toks, t => length(t) > 0))
      .withColumn("idx",
        // sequence(1, 0) would be DESCENDING in Spark — guard short docs
        when(size(col("toks")) >= n,
          sequence(lit(1), size(col("toks")) - (n - 1)))
          .otherwise(array().cast("array<int>")))
      .select(col("doc_id"), explode(col("idx")).as("i"), col("toks"))
      .select(col("doc_id"),
        concat_ws(" ", slice(col("toks"), col("i"), lit(n))).as("shingle"))
  }

  /** One distinct row per (doc_id, shingle). */
  def shingles(s: SparkSession, d: String, n: Int = 3): DataFrame =
    shinglesRaw(s, d, n).distinct()

  /** Exact dedup: canonical-hash group → keep min doc_id. Output one
    * row per distinct content with its survivor and multiplicity. */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        sha2(regexp_replace(trim(lower(col("text"))), "\\s+", " "), 256)
          .as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")
      .transform(Present.sortedUnbounded(_, col("keep_id")))

  /** Default document-frequency cap for the exact-Jaccard path: a
    * shingle appearing in more than this many documents is a
    * stop-shingle ("of the and") and is dropped BEFORE the self-join.
    * Without the cap the join is O(Σ df²) — one shingle shared by 10⁶
    * docs at 100 TB emits 10¹² pairs from a single key. With it, each
    * shingle contributes at most maxShingleDf² pairs, so the join is
    * linear in the number of distinct shingles. True near-dups lose
    * only corpus-common shingles from both numerator and denominator
    * (Jaccard is computed on the capped shingle universe, identically
    * in the DuckDB oracle), which barely moves scores for real dup
    * pairs. In production size this as a small multiple of the
    * expected duplicate-cluster size. */
  val MaxShingleDf = 100

  /** 60-bit engine-neutral hash: top 15 hex digits of md5, base-16 →
    * base-10 (same recipe as PipelineOps.hashBucket — DuckDB computes
    * the identical value as `('0x' || substring(md5(x), 1, 15))::BIGINT`).
    * Codegen'd expressions only, no UDF. Used as the shingle key so the
    * exact-Jaccard, MinHash, and verify stages all share ONE hashed
    * shingle relation AND the whole dedup family stays
    * oracle-replicable; xxhash64 would be ~2× cheaper per hash but is
    * Spark-only, which is exactly what kept minhash_lsh rows-only in
    * rounds 2–3. */
  def md5Hash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("bigint")

  /** Distinct (doc_id, shingle-hash) pairs with the document-frequency
    * cap applied. The df count partitions on `shingle` — the same key
    * the downstream self-join uses, so the join adds no exchange on
    * top of the window, and ReuseExchange serves both join sides from
    * the one shuffle write. Hashes are 60-bit md5 prefixes (see
    * [[md5Hash60]]); collisions under-count Jaccard by ~k²/2⁶⁰ per doc
    * pair — immaterial at the 0.5 threshold, and the string-exact
    * DuckDB oracle still hash-matches. */
  def cappedShingles(s: SparkSession, d: String,
                     maxDf: Int = MaxShingleDf): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    shinglesRaw(s, d)
      .select(col("doc_id"), md5Hash60(col("shingle")).as("shingle"))
      .distinct()
      .withColumn("df", count(lit(1)).over(Window.partitionBy("shingle")))
      .filter(col("df") <= maxDf)
      .drop("df")
  }

  /** Exact n-gram Jaccard near-dup pairs (a < b, jaccard >= minJ).
    * Ground truth for the MinHash path; oracle-checked.
    *
    * Shingles are hashed to 60 bits BEFORE the distinct/self-join, so
    * every shuffled row is fixed-width (doc_id, int64) instead of a
    * ~25-byte string — ~3× narrower shuffle and integer sort keys.
    * Collisions under-count by P ≈ k²/2⁶⁰ per doc pair (k = shingles
    * per doc; ~10⁻¹¹ at 10⁵ shingles) — far below the minJ threshold's
    * sensitivity; the DuckDB oracle (string-exact) still hash-matches.
    * Hot shingles are df-capped (see MaxShingleDf) so no single join
    * key can go quadratic. */
  def neardupJaccard(s: SparkSession, d: String,
                     minJ: Double = 0.5,
                     maxDf: Int = MaxShingleDf): DataFrame =
    SigStore.exactPairs(s, d, minJ, maxDf)
      .transform(Present.sortedUnbounded(_, col("doc_a"), col("doc_b")))

  /** Unsorted form building the pair set from scratch (clustering
    * consumes the pair set under unions and aggregates, where a
    * presentation sort only costs a range-sampling pass). Queries and
    * compositions read [[SigStore.exactPairs]] — the landed artifact
    * this computes — rather than calling this directly. */
  def neardupJaccardRaw(s: SparkSession, d: String,
                        minJ: Double = 0.5,
                        maxDf: Int = MaxShingleDf): DataFrame =
    neardupJaccardFromShingles(cappedShingles(s, d, maxDf), minJ)

  /** The exact-Jaccard self-join over a caller-supplied capped-shingle
    * relation (a raw build or the store's landed parquet). */
  def neardupJaccardFromShingles(sh: DataFrame, minJ: Double): DataFrame = {
    // no persist: both join sides shuffle on `shingle` with identical
    // subplans, so ReuseExchange serves them from one shuffle write —
    // unlike a cache, that works no matter how big the shingle set is
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = sh.as("a")
      .join(sh.as("b"),
        col("a.shingle") === col("b.shingle") &&
          col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")), 6))
      .filter(col("jaccard") >= minJ)
      .select("doc_a", "doc_b", "jaccard")
  }

  val NumHashes = 64
  val Bands     = 16 // 16 bands x 4 rows: catches J >= ~0.5 reliably
  /** Default hot-bucket cap for the LSH pair families — the ONE
    * definition every default parameter and spec precondition
    * references. */
  val LshMaxBucket = 1000
  /** Hot-bucket cap for the SimHash band buckets — added after the
    * round-18 ensemble rehearsal caught the family UNCAPPED: at a
    * 200×-replicated corpus LSH and exact-Jaccard collapsed to zero
    * candidates (their caps binding, by design) while SimHash emitted
    * 120 M quadratic pairs from 200-deep identical-signature buckets
    * (193 s land, 3.1 GB consensus shuffle). Same contract as
    * [[LshMaxBucket]]: a bucket holding > cap signatures is a
    * degenerate near-identical cluster whose pairs are O(n²) noise —
    * production routes those to exact clustering, never pairwise.
    * Non-binding at the gate scales (max bucket 20 at sf0.01, 170 at
    * sf0.1), so gated outputs are unchanged; the oracle applies the
    * identical cap. */
  val SimHashMaxBucket = 1000

  /** Below this cap the hot-bucket list is NOT collected to the
    * driver: the collect-and-broadcast shape is bounded by
    * docs×bands/maxBucket entries — tiny at the production caps
    * (1000), but at the clustered ensemble's degenerate threshold
    * (2) it is O(corpus), an unbounded driver materialization. Small
    * caps anti-join the hot relation as a PLAN SUBTREE instead; the
    * pair builders only ever see landed parquet inputs there, so the
    * extra reference re-reads a store, never re-executes the corpus
    * pipeline head (the hazard the collect path was built to avoid
    * on unlanded inputs). */
  val CapCollectMin = 64

  /** Carter–Wegman universal-hash family for the md5-seeded MinHash:
    * h_i(g) = (a_i·g + b_i) mod p over g = md5Hash60(shingle) mod p,
    * p = 2³¹−1 (Mersenne prime). Products stay under 2⁶² so the same
    * literal arithmetic runs overflow-free as BIGINT in both Spark and
    * DuckDB — the property that makes the whole LSH family
    * oracle-checkable. Constants are fixed (Knuth multiplier / fixed
    * odd constants), not RNG-drawn: signatures are reproducible across
    * runs, engines, and cluster sizes. */
  val MinHashP = 2147483647L // 2^31 - 1
  val mhA: IndexedSeq[Long] =
    (1 to NumHashes).map(i => (2654435761L * i) % MinHashP)
  val mhB: IndexedSeq[Long] =
    (1 to NumHashes).map(i => (1779033703L * i + 1013904242L) % MinHashP)

  /** MinHash signatures, expression form (xxhash64 family): one row
    * per doc, signature = array of 64 per-seed minima over the doc's
    * shingle set. Computed as a single groupBy(doc) with 64 min()
    * aggregates — partial aggregation makes the shuffle one row per
    * doc per partition. Spark-specific hashes → spec-checked, not
    * oracle-checked; the registered queries run the md5 family
    * ([[minhashSignaturesMd5From]]), same plan shape. */
  def minhashSignatures(s: SparkSession, d: String): DataFrame = {
    val mins = (0 until NumHashes).map(i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"h$i"))
    shingles(s, d)
      .groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until NumHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** MinHash signatures, UDAF form (xxhash64 family) — exercises the
    * custom-Aggregator surface. Hash-identical to `minhashSignatures`
    * (the Aggregator replicates xxhash64's fold; FunctionsSpec asserts
    * signature equality), and the partial/merge contract holds: the
    * buffer is the 64 minima, merged element-wise map-side before the
    * per-doc shuffle — same one-row-per-doc-per-partition bound as the
    * expression form. */
  def minhashSignaturesAgg(s: SparkSession, d: String): DataFrame = {
    val mh = udaf(new graft.functions.Aggregators.MinHashAgg(NumHashes),
      org.apache.spark.sql.Encoders.STRING)
    shingles(s, d)
      .groupBy("doc_id")
      .agg(mh(col("shingle")).as("sig"))
  }

  /** MinHash signatures over a pre-hashed capped-shingle relation,
    * md5-seeded arithmetic family, UDAF form — the registered LSH path
    * runs through this (custom Aggregator under the driver gate, with
    * a REAL DuckDB oracle: the base hash and the (a·g+b) mod p family
    * are engine-neutral). One md5 per shingle occurrence (already paid
    * by cappedShingles) + 64 integer mults per distinct shingle —
    * cheaper than the 64 string hashes per shingle the xxhash64 family
    * pays. */
  def minhashSignaturesMd5From(sh: DataFrame): DataFrame = {
    val mh = udaf(new graft.functions.Aggregators.MinHashArithAgg(
      mhA.toArray, mhB.toArray, MinHashP),
      org.apache.spark.sql.Encoders.scalaLong)
    // Repartition by doc BEFORE the aggregation: the capped-shingle
    // relation arrives partitioned by SHINGLE (the df-cap window), so
    // without this, partial aggregation emits one 512-byte 64-minima
    // buffer per (doc × input partition) — measured 671 MB vs 62 MB of
    // actual shingle rows at a 10× corpus (118× the 1× bytes; the
    // doc×partition cross term grows with BOTH corpus and cluster
    // size, the definition of a scale-killer). Co-locating each doc
    // first costs one narrow (doc_id, int64) shuffle, after which
    // partial ≡ final (one buffer per doc) and the agg needs no
    // further exchange — linear in docs forever. */
    sh.repartition(col("doc_id"))
      .groupBy("doc_id").agg(mh(col("shingle")).as("sig"))
  }

  /** Expression-form twin of [[minhashSignaturesMd5From]] (64 min()
    * aggregates over the same arithmetic) — exists so FunctionsSpec
    * can assert the UDAF is hash-identical to declarative Catalyst
    * evaluation of the same family. */
  def minhashSignaturesMd5Expr(sh: DataFrame): DataFrame = {
    val g = col("shingle") % MinHashP
    val mins = (0 until NumHashes).map(i =>
      min((lit(mhA(i)) * g + lit(mhB(i))) % MinHashP).as(s"h$i"))
    sh.groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until NumHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** MinHash+LSH candidate pairs with signature-estimated Jaccard.
    * Bands of the signature are hashed to buckets; docs sharing any
    * band bucket become candidates; candidates are scored by fraction
    * of agreeing signature positions. Oversized buckets (> maxBucket)
    * are dropped — a degenerate band (e.g. all-identical docs) would
    * otherwise emit O(bucket²) pairs.
    *
    * md5-seeded arithmetic hashes over the CAPPED shingle universe
    * (same universe as the exact-Jaccard ground truth and the verify
    * stage) → every value is engine-neutral, so this is HASH-GATED
    * against a full DuckDB re-implementation, not rows-only; the spec
    * additionally cross-checks recall against neardupJaccard. */
  def minhashLsh(s: SparkSession, d: String,
                 minEst: Double = 0.5, maxBucket: Int = LshMaxBucket): DataFrame =
    SigStore.lshPairs(s, d, minEst, maxBucket)
      .transform(Present.sortedUnbounded(_, col("doc_a"), col("doc_b")))

  /** Every DelEvery-th doc (doc_id % 10 == 3) plays the DELETE batch —
    * the suite's delete-slot convention (Retrieval.DelSlot,
    * Similarity.IvfDelSlot). */
  val DelEvery = 10L
  val DelSlot  = 3L

  // SINGLE-EPOCH tombstone contract: the batch is a fixed function of
  // the dataset (the DelEvery/DelSlot rule), so every downstream pair
  // artifact keyed only by (dataset, minEst, maxBucket) — the
  // lshDelPairStores / lshDelCompact caches — is valid for exactly
  // this one epoch. A future DYNAMIC tombstone feed must fold a
  // tombstone-epoch into those cache keys (and this root's), or a
  // newer batch would silently serve the older batch's landed pairs.
  private val lshTombStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val lshTombIds = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Build counter — exposed so DedupSpec can pin build-once. */
  private[graft] val lshTombBuildCount =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Land the tombstone sidecar for the signature store: the deleted
    * doc_ids only (∝ batch by construction), derived index-locally
    * from the landed sig artifact — never a corpus read. */
  private def lshTombRoot(s: SparkSession, d: String): String =
    lshTombStores.computeIfAbsent(d, _ => {
      lshTombBuildCount.incrementAndGet()
      val out = graft.Scratch.processScoped("graft_sigtomb",
        s"t${lshTombIds.getAndIncrement()}").toString
      SigStore.forDataset(s, d).sig(s)
        .filter(col("doc_id") % DelEvery === DelSlot)
        .select("doc_id")
        .write.mode("overwrite").parquet(out)
      out
    })

  /** The landed tombstone ids as a fresh store read — exposed so the
    * spec can pin |tombstones| ∝ batch. */
  private[graft] def lshTombStore(s: SparkSession, d: String): DataFrame =
    s.read.parquet(lshTombRoot(s, d))

  /** MinHash-LSH candidate pairs with tombstone MASKING — the
    * signature store's REMOVE verb (the bm25_delete contract applied
    * to the dedup index): deleted docs' band rows are anti-joined out
    * BEFORE the bucket self-join (a broadcast ∝-batch mask — the
    * store is never rewritten at probe time), while the hot-bucket
    * cap still counts the FULL store (stale caps: production stores
    * maintain per-bucket counts incrementally; a probe-time mask
    * doesn't recount them). The oracle replays exactly that — the
    * full-corpus pipeline with the final pair set restricted to
    * survivors — so a leaked tombstoned doc, a missed surviving pair,
    * or an over-eager cap refresh hash-fails. Purge-at-compaction for
    * this store is the same artifact rewrite the delete ladder
    * measured for BM25/IVF (anti-join + overwrite of sig/banded);
    * the masked probe is the verb's probe-time half. */
  private val lshDelPairStores =
    new java.util.concurrent.ConcurrentHashMap[(String, Double, Int), String]()
  private val lshDelPairIds = new java.util.concurrent.atomic.AtomicInteger(0)

  def minhashLshDelete(s: SparkSession, d: String,
                       minEst: Double = 0.5,
                       maxBucket: Int = LshMaxBucket): DataFrame = {
    // the masked pair set LANDS like SigStore.lshPairs' (the pair
    // artifact is the family's product — the candidate join runs once
    // per delete batch, every later read is artifact-sized); in
    // production the artifact invalidates when the next tombstone
    // batch lands, exactly as the live pair set invalidates on append
    val path = lshDelPairStores.computeIfAbsent((d, minEst, maxBucket), _ => {
      val st = SigStore.forDataset(s, d)
      val full = st.banded(s)
      val masked = full.join(broadcast(lshTombStore(s, d)),
        Seq("doc_id"), "left_anti")
      val out = graft.Scratch.processScoped("graft_sigmaskpairs",
        s"mp${lshDelPairIds.getAndIncrement()}").toString
      lshPairsFrom(masked, st.sig(s), minEst, maxBucket,
        capFrom = Some(full))
        .write.mode("overwrite").parquet(out)
      out
    })
    s.read.parquet(path)
      .transform(Present.sortedUnbounded(_, col("doc_a"), col("doc_b")))
  }

  private val lshPurgeStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val lshPurgeIds = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Build counter — exposed so DedupSpec can pin build-once. */
  private[graft] val lshPurgeBuildCount =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** Compaction with tombstone PURGE for the signature store — the
    * twin [[minhashLshDelete]]'s scaladoc names: rewrite the landed
    * sig AND banded artifacts minus the tombstoned docs (signatures
    * are per-doc, so the purge is an anti-join + overwrite — no
    * shingle pass, no df recount: the df-cap was baked into the
    * LANDED signatures at build time and a purge never re-tokenizes),
    * after which probes re-derive bucket caps over the survivors —
    * the compaction that refreshes the stale per-bucket counts the
    * masked probe lives with. Index-local, priced ∝ store. */
  private def lshPurgeRoot(s: SparkSession, d: String): String =
    lshPurgeStores.computeIfAbsent(d, _ => {
      lshPurgeBuildCount.incrementAndGet()
      val out = graft.Scratch.processScoped("graft_sigpurge",
        s"p${lshPurgeIds.getAndIncrement()}").toString
      val st = SigStore.forDataset(s, d)
      val tomb = lshTombStore(s, d)
      st.sig(s).join(broadcast(tomb), Seq("doc_id"), "left_anti")
        .write.mode("overwrite").parquet(s"$out/sig")
      st.banded(s).join(broadcast(tomb), Seq("doc_id"), "left_anti")
        .write.mode("overwrite").parquet(s"$out/banded")
      out
    })

  /** The purged (sig, banded) artifacts as fresh store reads —
    * exposed so the spec can pin purged = store − tombstones. */
  private[graft] def lshPurgedStore(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val root = lshPurgeRoot(s, d)
    (s.read.parquet(s"$root/sig"), s.read.parquet(s"$root/banded"))
  }

  /** MinHash-LSH pairs from the PURGED signature store — the delete
    * verb's compaction half (the bm25_delete_compact contract, sig
    * edition): ONE purged segment, no tombstone read, no mask
    * anywhere in the plan, and the hot-bucket cap counts the
    * SURVIVORS (the compaction re-derives the per-bucket counts the
    * mask left stale). Answer-identical to [[minhashLshDelete]]
    * whenever no bucket straddles the cap across the purge (true at
    * gate scale — DedupSpec pins the precondition and the equality);
    * the oracle replays the survivors-first pipeline: landed
    * signatures restricted to survivors, caps over survivors,
    * pairs among survivors. */
  private val lshPurgePairStores =
    new java.util.concurrent.ConcurrentHashMap[(String, Double, Int), String]()

  def minhashLshDeleteCompact(s: SparkSession, d: String,
                              minEst: Double = 0.5,
                              maxBucket: Int = LshMaxBucket): DataFrame = {
    // pairs land UNDER the purge root (so the read provably stands on
    // the purged artifacts — DedupSpec pins the path), once per
    // compaction; reads are artifact-sized thereafter
    val path = lshPurgePairStores.computeIfAbsent((d, minEst, maxBucket),
      _ => {
        val (sig, banded) = lshPurgedStore(s, d)
        val out = s"${lshPurgeRoot(s, d)}/pairs_${minEst}_$maxBucket"
        lshPairsFrom(banded, sig, minEst, maxBucket)
          .write.mode("overwrite").parquet(out)
        out
      })
    s.read.parquet(path)
      .transform(Present.sortedUnbounded(_, col("doc_a"), col("doc_b")))
  }

  /** Unsorted form for internal composition (the LSH-verified
    * clustering consumes candidates under joins and aggregates).
    * Both entry points read the session [[SigStore]]: the expensive
    * shingle→signature head builds once per (dataset, params) key and
    * every dedup-family query after the first pays only a parquet
    * scan of the landed artifacts. */
  def minhashLshRaw(s: SparkSession, d: String,
                    minEst: Double = 0.5, maxBucket: Int = LshMaxBucket): DataFrame =
    SigStore.lshPairs(s, d, minEst, maxBucket)

  // monotonically unique scratch slots — never recycled (a modulo
  // rotation would let a still-referenced reader observe its path
  // silently overwritten after enough invocations)
  private val lshEpoch = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Band expansion of a signature relation: 16 narrow
    * (doc_id, band, bucket) rows per doc; the 512-byte signature
    * array never enters the downstream (band, bucket) shuffle. The
    * band bucket is md5 over the comma-joined band slice — the same
    * value DuckDB computes from string_agg(h, ',' ORDER BY i). */
  def bandedFrom(sig: DataFrame): DataFrame = {
    val rows = NumHashes / Bands
    sig.select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(Bands - 1)),
        b => md5Hash60(concat_ws(",",
          transform(slice(col("sig"), b * rows + 1, lit(rows)),
            _.cast("string")))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
  }

  /** Candidate generation + signature scoring over already-landed (or
    * caller-persisted) banded/signature relations — the stage every
    * LSH consumer shares once the pipeline head is materialized.
    *
    * Bucket-size cap: the oversized-bucket list aggregates with
    * map-side partial counts, is COLLECTED once (bounded by
    * construction — every entry stands for > maxBucket docs, so there
    * are at most docs×bands/maxBucket of them, and on real corpora
    * the list is empty or tiny), and re-enters the plan as a literal
    * relation for a broadcast anti-join. Leaving it as a plan subtree
    * instead measurably re-executed the aggregate once per consumer
    * of `banded` (a duplicated 8M-record exchange at the 100×
    * rehearsal). The candidate distinct runs on the bare 16-byte id
    * pair; the two 64-element signatures are re-attached AFTER the
    * dedup — a ~64× narrower distinct shuffle than carrying both
    * arrays through it. */
  /** `capFrom`: the relation the hot-bucket cap COUNTS over — defaults
    * to the candidate relation itself; the tombstone-masked probe
    * passes the FULL store here (stale caps: a production store
    * maintains per-bucket counts incrementally and a probe-time mask
    * doesn't recount them — the Lucene-stale-stats convention, sig
    * edition). */
  def lshPairsFrom(banded0: DataFrame, sig: DataFrame,
                   minEst: Double, maxBucket: Int,
                   capFrom: Option[DataFrame] = None): DataFrame = {
    val s = banded0.sparkSession
    import s.implicits._
    val banded = if (maxBucket < CapCollectMin) {
      // degenerate-threshold regime: hot buckets are O(corpus) — keep
      // them as a plan subtree, never a driver collect
      val hot = capFrom.getOrElse(banded0).groupBy("band", "bucket")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > maxBucket).select("band", "bucket")
      banded0.join(hot, Seq("band", "bucket"), "left_anti")
    } else {
      val hotRows = capFrom.getOrElse(banded0).groupBy("band", "bucket")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > maxBucket).select("band", "bucket")
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      if (hotRows.isEmpty) banded0
      else banded0.join(broadcast(hotRows.toDF("band", "bucket")),
        Seq("band", "bucket"), "left_anti")
    }
    val pairIds = banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    pairIds
      .join(sig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")), "doc_a")
      .join(sig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")), "doc_b")
      .withColumn("est_jaccard",
        round(aggregate(
          zip_with(col("sig_a"), col("sig_b"),
            (a, b) => when(a === b, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / NumHashes, 6))
      .filter(col("est_jaccard") >= minEst)
      .select("doc_a", "doc_b", "est_jaccard")
  }

  /** LSH core over a pre-hashed (and possibly caller-persisted)
    * capped-shingle relation — dedupClustersLsh persists ONE shingle
    * relation and feeds it to both this candidate generator and the
    * exact-Jaccard verify stage, so the corpus scan/explode/distinct
    * runs once per composition.
    *
    * The signature and banded relations are MATERIALIZED once
    * (persist + a scratch-parquet landing for the result): this plan
    * references `sig` four ways (both banded self-join sides, both
    * signature re-attach sides) and `banded` twice more via the
    * hot-bucket aggregate, and Spark's exchange reuse does NOT
    * deduplicate them — a 100× rehearsal measured the whole
    * shingle→signature pipeline (tokenize, explode, distinct, df-cap
    * window, minhash UDAF — the expensive head) executing FOUR times,
    * once per reference. Persisting pins each artifact to one
    * execution; both are per-doc-bounded (sig: doc_id + 64 int64s;
    * banded: 16 narrow rows/doc), which is exactly the signature
    * store a production MinHash deployment materializes anyway. The
    * result lands in scratch parquet before unpersist so downstream
    * consumers (fuzzy verification, clustering) never re-execute the
    * candidate generator. */
  def minhashLshFrom(sh: DataFrame,
                     minEst: Double = 0.5, maxBucket: Int = LshMaxBucket): DataFrame = {
    val s = sh.sparkSession
    val sig = minhashSignaturesMd5From(sh).persist()
    try {
      val banded = bandedFrom(sig).persist()
      try {
        // build the cache EAGERLY: the self-join's two sides otherwise
        // race to materialize it in parallel stages, duplicating the
        // cache-build work; one count serializes the build, after
        // which every consumer (hot-bucket aggregate, both join
        // sides) reads the cache
        banded.count()
        val est = lshPairsFrom(banded, sig, minEst, maxBucket)
        val out = graft.Scratch.processScoped("graft_lsh",
          s"pairs_${lshEpoch.getAndIncrement()}").toString
        est.write.mode("overwrite").parquet(out)
        s.read.parquet(out)
      } finally banded.unpersist(false)
    } finally sig.unpersist(false)
  }

  /** Fuzzy verification of LSH candidates by edit distance on the
    * document HEAD — the cheap cross-check a dedup pipeline runs when
    * shingle overlap alone is too coarse (e.g. boilerplate-heavy
    * corpora where distinct docs share most shingles). Candidates
    * come from the banded MinHash (never a cross join); the text join
    * re-attaches only an 80-char prefix per side, so the shuffled
    * rows stay fixed-width.
    *
    * ORACLE VALIDITY — ASCII ONLY: Spark's levenshtein counts CODE
    * POINTS while DuckDB's counts BYTES, so the engines diverge on
    * ANY non-ASCII text, astral or not (measured: "café"→"cafe" is 1
    * in Spark, 2 in DuckDB; "a😀b"→"ab" is 1 vs 4). The two agree
    * exactly on ASCII, where byte = code point. The gate corpus is
    * pure ASCII and DedupSpec enforces that precondition; for the
    * multilingual case `fuzzyPairsUnicode` below folds each accented
    * codepoint to one ASCII char first, which makes byte- and
    * codepoint-levenshtein coincide — the unfenced gate. */
  def fuzzyPairs(s: SparkSession, d: String, headLen: Int = 80): DataFrame = {
    val heads = Tables.documents(s, d)
      .select(col("doc_id"), substring(col("text"), 1, headLen).as("head"))
    minhashLshRaw(s, d)
      .select("doc_a", "doc_b")
      .join(heads.select(col("doc_id").as("doc_a"), col("head").as("head_a")), "doc_a")
      .join(heads.select(col("doc_id").as("doc_b"), col("head").as("head_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("head_a"), col("head_b")).as("head_dist"))
      .transform(Present.sortedUnbounded(_, col("doc_a"), col("doc_b")))
  }

  /** Portuguese accent fold for the multilingual fuzzy gate — the
    * lowercase accent set of the reference's Portuguese fixture
    * (`Master/Data/TestInverted/3.txt`), one accented codepoint per
    * ASCII base letter so `translate` round-trips exactly. */
  private[graft] val AccentAscii = "aeiouc"
  private[graft] val AccentPt   = "áéíóúç"

  /** Multilingual (non-ASCII) variant of `fuzzyPairs` — the unfenced
    * gate for codepoint text. The corpus heads are deterministically
    * re-accented into Portuguese (codepoint `translate`, identical in
    * Spark and DuckDB), so the compared columns genuinely carry
    * multi-byte UTF-8; the edit distance is then computed over the
    * CODEPOINT-NORMALIZED fold (each accented codepoint → exactly one
    * ASCII char in BOTH engines), on which DuckDB's byte-levenshtein
    * and Spark's codepoint-levenshtein coincide. `accents_a/b`
    * (UTF-8 bytes minus codepoints) pin that the heads really were
    * multi-byte — if the accenting ever stopped producing non-ASCII
    * text, those columns go to 0 and the hash gate fails.
    *
    * Scale shape is `fuzzyPairs`: candidates from the landed SigStore
    * pair set (never a cross join), fixed-width 80-char heads through
    * the join. */
  def fuzzyPairsUnicode(s: SparkSession, d: String,
                        headLen: Int = 80): DataFrame = {
    val heads = Tables.documents(s, d)
      .select(col("doc_id"),
        translate(substring(col("text"), 1, headLen),
          AccentAscii, AccentPt).as("head"))
    minhashLshRaw(s, d)
      .select("doc_a", "doc_b")
      .join(heads.select(col("doc_id").as("doc_a"), col("head").as("head_a")), "doc_a")
      .join(heads.select(col("doc_id").as("doc_b"), col("head").as("head_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(translate(col("head_a"), AccentPt, AccentAscii),
                    translate(col("head_b"), AccentPt, AccentAscii))
          .as("head_dist"),
        (octet_length(col("head_a")) - length(col("head_a"))).as("accents_a"),
        (octet_length(col("head_b")) - length(col("head_b"))).as("accents_b"))
      .transform(Present.sortedUnbounded(_, col("doc_a"), col("doc_b")))
  }

  val SimHashBits  = 60 // md5Hash60 width — every bit is oracle-replicable
  val SimHashBands = 4  // 15-bit bands; pigeonhole covers hamming <= 3

  /** 60-bit SimHash per document: per-token md5Hash60, weighted bit
    * votes (weight = term frequency), sign → bit. One explode + one
    * groupBy(doc) with 60 sum() aggregates, then bit assembly. All
    * arithmetic is engine-neutral (integer sums and shifts over the
    * md5-derived hash), so the pair query carries a full DuckDB
    * oracle. */
  def simhash(s: SparkSession, d: String): DataFrame =
    simhashFromHash(Tables.documents(s, d), md5Hash60(col("word")), SimHashBits)

  /** xxhash64 64-bit variant — ~2× cheaper per token (no hex string
    * materialization) and the production default when oracle
    * replicability doesn't matter; spec-checked for determinism. */
  def simhash64(s: SparkSession, d: String): DataFrame =
    simhashFromHash(Tables.documents(s, d), xxhash64(col("word")), 64)

  /** Gate row for the xxhash64 production variant. xxhash64 itself
    * has no DuckDB twin, so the gate checks ALGORITHMIC INVARIANTS
    * that must hold for every document and that DuckDB can price from
    * the documents table alone:
    *
    *   - case_ok:    the tokenizer lowercases, so
    *                 simhash64(upper(text)) == simhash64(text);
    *   - punct_ok:   non-letter characters never token, so appending
    *                 punctuation/digits leaves the signature fixed;
    *   - shuffle_ok: bit votes are INTEGER sums (commutative), so the
    *                 signature is partition-layout independent.
    *
    * Each counter must equal n_docs exactly — the oracle emits
    * count(*) four times. Any nondeterminism, order-sensitivity, or
    * tokenizer drift in the production path breaks the hash match.
    *
    * n_docs counts EVERY document: the spine is the documents table
    * itself, left-joined to the four signature relations, so a doc
    * with no letter tokens (hence no signature row) still counts.
    * Equality is null-safe (<=>): a letterless doc has ⊥ signature
    * under every variant — the invariant holds vacuously — while a
    * signature present on one side but missing on the other is a
    * failure, not a silently-dropped row. */
  def simhash64Invariants(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    def sig(in: DataFrame, as: String): DataFrame =
      simhashFromHash(in, xxhash64(col("word")), 64)
        .withColumnRenamed("simhash", as)
    val base = sig(docs, "h0")
    val cased = sig(docs.withColumn("text", upper(col("text"))), "h1")
    val punct = sig(docs.withColumn("text",
      concat(col("text"), lit(" ... 42!?"))), "h2")
    val shuf = sig(docs.repartition(7), "h3")
    docs.select("doc_id")
      .join(base, Seq("doc_id"), "left")
      .join(cased, Seq("doc_id"), "left")
      .join(punct, Seq("doc_id"), "left")
      .join(shuf, Seq("doc_id"), "left")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("h1") <=> col("h0"), 1).otherwise(0)).as("case_ok"),
        sum(when(col("h2") <=> col("h0"), 1).otherwise(0)).as("punct_ok"),
        sum(when(col("h3") <=> col("h0"), 1).otherwise(0)).as("shuffle_ok"))
  }

  /** Core over any (doc_id, text) frame — also the spec's hook for
    * feeding synthetic duplicate corpora.
    *
    * Votes fold per token OCCURRENCE (±1 each) instead of per distinct
    * (doc_id, word) with tf weights: Σ±tf over distinct words ≡ Σ±1
    * over occurrences — the same exact integer sums, bit-identical
    * signatures — and the old groupBy(doc_id, word) pre-aggregate
    * shuffled the whole token stream just to weight the votes the
    * occurrence rows already carry (guide §2.4: one exchange per
    * signature instead of two; measured on the 4-signature invariants
    * gate below). The per-doc groupBy still partial-aggregates
    * map-side, so nothing extra crosses the shuffle. */
  def simhashFromHash(docs: DataFrame, hash: Column, bits: Int): DataFrame = {
    val tok = TextOps.tokenize(docs).withColumn("h", hash)
    val votes = (0 until bits).map { b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, lit(1L))
        .otherwise(lit(-1L))).as(s"v$b")
    }
    tok.groupBy("doc_id")
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(b =>
          when(col(s"v$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
          .reduce(_.bitwiseOR(_)).as("simhash"))
    // no orderBy here: simhashPairs consumes this on BOTH join sides,
    // and an internal sort would cost a range exchange per side
  }

  private val simhashSigStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val simhashPairStores =
    new java.util.concurrent.ConcurrentHashMap[(String, Int, Int), String]()
  private val simhashPairIds = new java.util.concurrent.atomic.AtomicInteger(0)
  /** Build counter — exposed so DedupSpec can pin build-once. */
  private[graft] val simhashPairBuildCount =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** The signature relation is maxHam-INDEPENDENT, so it lands keyed
    * by dataset alone (the SigStore split: store per dataset, pairs
    * per (dataset, params)) — a second threshold never re-pays the
    * corpus tokenize + 64-bit vote head. */
  private def simhashSigRoot(s: SparkSession, d: String): String =
    simhashSigStores.computeIfAbsent(d, _ => {
      val out = graft.Scratch.processScoped("graft_simhash",
        s"sig${simhashPairIds.getAndIncrement()}").toString
      simhash(s, d).write.mode("overwrite").parquet(out)
      out
    })

  /** SimHash near-dup pairs at Hamming distance <= maxHam, blocked by
    * 15-bit band equality (any pair within distance 3 must agree on
    * at least one of 4 bands — pigeonhole), verified with bit_count.
    * HASH-GATED: the md5-based bit votes replay verbatim in DuckDB.
    *
    * r17: the signature AND pair relations LAND once per (dataset,
    * maxHam) — the SigStore economics applied to the simhash family
    * (it was the suite's last pair family recomputing its corpus head
    * per execution: measured ~2 s/run at sf0.1, and dedup_ensemble
    * paid it again); steady state is a pair-artifact read. */
  def simhashPairs(s: SparkSession, d: String,
                   maxHam: Int = 3,
                   maxBucket: Int = SimHashMaxBucket): DataFrame = {
    val path = simhashPairStores.computeIfAbsent((d, maxHam, maxBucket),
      _ => {
      simhashPairBuildCount.incrementAndGet()
      val out = graft.Scratch.processScoped("graft_simhash",
        s"p${simhashPairIds.getAndIncrement()}_h${maxHam}_b$maxBucket")
        .toString
      simhashPairsFrom(s.read.parquet(simhashSigRoot(s, d)), maxHam,
        maxBucket).write.mode("overwrite").parquet(out)
      out
    })
    s.read.parquet(path)
      .transform(Present.sortedUnbounded(_, col("doc_a"), col("doc_b")))
  }

  /** The banded-candidate self-join over a signature relation — the
    * land-time body, exposed so PlanSpec can pin its exchange-reuse
    * shape (both join sides must serve from ONE signature shuffle).
    * Hot buckets (> maxBucket signatures — degenerate near-identical
    * clusters whose pairwise expansion is O(n²)) are collected once
    * (bounded: ≤ corpus/maxBucket of them by counting) and re-enter
    * as a broadcast anti-join, the [[lshPairsFrom]] contract. */
  /** The SimHash banded relation (doc_id, simhash, band, bucket) from
    * a signature relation — shared by the pair self-join and the
    * degenerate-bucket clustering path. */
  private[graft] def simhashBandedFrom(sh: DataFrame): DataFrame = {
    val bandBits = SimHashBits / SimHashBands
    val mask = (1L << bandBits) - 1
    sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until SimHashBands).map(b =>
        shiftright(col("simhash"), b * bandBits).bitwiseAND(mask)): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")
  }

  private[graft] def simhashPairsFrom(sh: DataFrame,
                                      maxHam: Int = 3,
                                      maxBucket: Int = SimHashMaxBucket)
      : DataFrame = {
    val s = sh.sparkSession
    import s.implicits._
    val banded0 = simhashBandedFrom(sh)
    val banded = if (maxBucket < CapCollectMin) {
      // see CapCollectMin: at the clustered ensemble's degenerate
      // threshold the hot list is O(corpus) — plan subtree, no collect
      val hot = banded0.groupBy("band", "bucket")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > maxBucket).select("band", "bucket")
      banded0.join(hot, Seq("band", "bucket"), "left_anti")
    } else {
      val hotRows = banded0.groupBy("band", "bucket")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") > maxBucket).select("band", "bucket")
        .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
      if (hotRows.isEmpty) banded0
      else banded0.join(broadcast(hotRows.toDF("band", "bucket")),
        Seq("band", "bucket"), "left_anti")
    }
    // (band, bucket) self-join → ReuseExchange, as in minhashLsh
    banded.as("x")
      .join(banded.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.simhash").as("ha"), col("y.simhash").as("hb"))
      .distinct()
      .withColumn("hamming", bit_count(col("ha").bitwiseXOR(col("hb"))))
      .filter(col("hamming") <= maxHam)
      .select("doc_a", "doc_b", "hamming")
  }

  /** NEAR-DUP ENSEMBLE — consensus over the family's three LANDED
    * pair artifacts: the MinHash-LSH estimated pairs, the SimHash
    * Hamming pairs, and the exact-Jaccard verified pairs. One row per
    * pair any signal found, with per-signal provenance flags and a
    * vote count — the routing table a production dedup pipeline acts
    * on (all three agree → auto-remove; one lexical signal alone →
    * human review / fuzzy verify). The three detectors see different
    * things by construction (LSH estimates set overlap, SimHash
    * weights token frequency, exact Jaccard is the ground truth on
    * its capped shingle universe), so the ensemble is strictly more
    * informative than any member.
    *
    * Scale shape: all three inputs are LANDED artifacts (SigStore
    * pairs, the simhash banded self-join, the exact pair store) —
    * pair-bounded relations, never corpus scans; the union + one
    * (doc_a, doc_b) hash aggregate is the only new work. HASH-GATED:
    * every leg's CTE chain already replays in DuckDB; the ensemble
    * oracle composes them with the same union + flag-max aggregate. */
  def dedupEnsemble(s: SparkSession, d: String): DataFrame = {
    // r19: the consensus relation itself LANDS per dataset — the
    // union + flag-max aggregate over the three pair stores was the
    // suite's last per-run recomputation in the family (BENCH_SELF
    // pass-1 3.8 s vs 0.45 s min); steady state is now a store read
    // like every other pair artifact.
    val path = ensembleStores.computeIfAbsent(d, _ => {
      val out = graft.Scratch.processScoped("graft_ensemble",
        s"e${ensembleIds.getAndIncrement()}").toString
      val mh = SigStore.lshPairs(s, d).select("doc_a", "doc_b")
        .select(col("doc_a"), col("doc_b"),
          lit(1).as("m"), lit(0).as("sm"), lit(0).as("e"))
      val sp = simhashPairs(s, d).select("doc_a", "doc_b")
        .select(col("doc_a"), col("doc_b"),
          lit(0).as("m"), lit(1).as("sm"), lit(0).as("e"))
      val ex = SigStore.exactPairs(s, d).select("doc_a", "doc_b")
        .select(col("doc_a"), col("doc_b"),
          lit(0).as("m"), lit(0).as("sm"), lit(1).as("e"))
      mh.unionByName(sp).unionByName(ex)
        .groupBy("doc_a", "doc_b")
        .agg(max("m").as("m"), max("sm").as("sm"), max("e").as("e"))
        .select(col("doc_a"), col("doc_b"),
          (col("m") === 1).as("in_minhash"),
          (col("sm") === 1).as("in_simhash"),
          (col("e") === 1).as("in_exact"),
          (col("m") + col("sm") + col("e")).as("votes"))
        .write.mode("overwrite").parquet(out)
      out
    })
    s.read.parquet(path)
      .transform(Present.sortedUnbounded(_, col("doc_a"), col("doc_b")))
  }

  private val ensembleStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Degenerate-bucket threshold for the CLUSTERED ensemble: band
    * buckets holding more than this many signatures route to O(n)
    * cluster rows instead of O(n²) pairwise expansion. Deliberately
    * tiny (2) for the registered gate so sf0.01 exercises both paths
    * (minhash max bucket there is 3, simhash 27); production runs the
    * same operator at the [[LshMaxBucket]]/[[SimHashMaxBucket]] scale,
    * where the round-18 rehearsal measured 84.9 M residual pairs from
    * 200-deep identical buckets that clustering collapses to 255 k
    * membership rows. */
  val EnsembleClusterBucket = 2

  private val ensembleClusteredStores =
    new java.util.concurrent.ConcurrentHashMap[(String, Int), String]()
  private val ensembleIds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** STAR EDGES of the degenerate band buckets of a banded signature
    * relation: every bucket deeper than `t` becomes (rep, member)
    * rows, rep = the bucket's minimum doc_id; a member in several
    * degenerate buckets keeps its smallest rep. O(members) output and
    * two key-shuffles (one on (band, bucket) for the windowed
    * count/min, one on doc_id for the per-member min) — NEVER the
    * bucket self-join, which is the entire point: a 10⁵-deep
    * near-identical cluster at 100 TB costs 10⁵ rows here vs 10¹⁰
    * pairs under pairwise expansion. Memberships are emitted
    * UNVERIFIED (the depth of the bucket is the signal; production
    * verifies a sample per cluster, not every pair). */
  private[graft] def degenerateStars(banded: DataFrame, t: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("band", "bucket")
    banded
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("rep", min(col("doc_id")).over(w))
      .filter(col("n") > t)
      .groupBy(col("doc_id"))
      .agg(min(col("rep")).as("rep"))
      .filter(col("rep") < col("doc_id"))
      .select(col("rep").as("doc_a"), col("doc_id").as("doc_b"))
  }

  /** CLUSTERED NEAR-DUP ENSEMBLE — the round-18 rehearsal's answer to
    * degenerate buckets made a first-class operator. Band buckets
    * deeper than `t` are near-identical clusters; expanding them
    * pairwise is contract-quadratic waste (measured: 255 M-record
    * consensus shuffle at 200×). Here each family routes them to
    * [[degenerateStars]] star edges (O(members), `clustered = true`)
    * and keeps pairwise expansion — with its signature verification —
    * only for buckets ≤ t (the landed pair stores at maxBucket = t).
    * The exact-Jaccard leg stays pairwise (it has no buckets; its
    * shingle universe is df-capped). Consensus is the same
    * (doc_a, doc_b) flag-max aggregate as [[dedupEnsemble]], now over
    * star edges + residual pairs, and the whole routing table LANDS
    * per (dataset, t) — steady state is an artifact read.
    * HASH-GATED: every leg replays in DuckDB (the star legs are a
    * QUALIFY-count window + per-member min over the same banded
    * CTEs). */
  def dedupEnsembleClustered(s: SparkSession, d: String,
                             t: Int = EnsembleClusterBucket): DataFrame = {
    val path = ensembleClusteredStores.computeIfAbsent((d, t), _ => {
      val out = graft.Scratch.processScoped("graft_ensemble",
        s"c${ensembleIds.getAndIncrement()}_t$t").toString
      val st = SigStore.forDataset(s, d)
      def tag(df: DataFrame, m: Int, sm: Int, e: Int, c: Int): DataFrame =
        df.select(col("doc_a"), col("doc_b"), lit(m).as("m"),
          lit(sm).as("sm"), lit(e).as("e"), lit(c).as("c"))
      val mhStar = tag(degenerateStars(
        st.banded(s).select("doc_id", "band", "bucket"), t), 1, 0, 0, 1)
      val smStar = tag(degenerateStars(
        simhashBandedFrom(s.read.parquet(simhashSigRoot(s, d)))
          .select("doc_id", "band", "bucket"), t), 0, 1, 0, 1)
      val mhPairs = tag(SigStore.lshPairs(s, d, maxBucket = t)
        .select("doc_a", "doc_b"), 1, 0, 0, 0)
      val smPairs = tag(simhashPairs(s, d, maxBucket = t)
        .select("doc_a", "doc_b"), 0, 1, 0, 0)
      val ex = tag(SigStore.exactPairs(s, d)
        .select("doc_a", "doc_b"), 0, 0, 1, 0)
      mhStar.unionByName(smStar).unionByName(mhPairs)
        .unionByName(smPairs).unionByName(ex)
        .groupBy("doc_a", "doc_b")
        .agg(max("m").as("m"), max("sm").as("sm"),
          max("e").as("e"), max("c").as("c"))
        .select(col("doc_a"), col("doc_b"),
          (col("m") === 1).as("in_minhash"),
          (col("sm") === 1).as("in_simhash"),
          (col("e") === 1).as("in_exact"),
          (col("c") === 1).as("clustered"),
          (col("m") + col("sm") + col("e")).as("votes"))
        .write.mode("overwrite").parquet(out)
      out
    })
    s.read.parquet(path)
      .transform(Present.sortedUnbounded(_, col("doc_a"), col("doc_b")))
  }

  val IncrEvery = 10

  /** Incremental near-dup: a NEW BATCH (doc_id % IncrEvery == 0 —
    * today's crawl) scored against a materialized SIGNATURE STORE of
    * the existing corpus, plus batch-internal pairs. This is the
    * production shape at 100 TB: the full corpus is minhashed ONCE
    * (the store build below, nightly-amortized), and each arriving
    * batch pays only its own signatures plus band-collision joins —
    * cost bounded by batch size and bucket collisions, independent of
    * corpus size. Output is DEFINED as the full minhash_lsh pair set
    * restricted to pairs with at least one batch member (store-store
    * pairs were yesterday's output), which is exactly what the oracle
    * computes — so the gate is a full hash gate, and DedupSpec asserts
    * the same equality against the monolithic operator.
    *
    * The store build here derives both halves from one corpus pass
    * (this fixture has no yesterday); everything downstream of the
    * landed parquet is the recurrent path, and the spec pins that the
    * probe plan contains no documents scan. The hot-bucket cap uses
    * store-∪-batch bucket counts — identical semantics to the full
    * cap; a production store maintains the per-bucket counts
    * incrementally (they are exactly the store's bucket sizes). */
  private val incrStores =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** Build counter — exposed so DedupSpec can pin build-once. */
  private[graft] val incrBuildCount =
    new java.util.concurrent.atomic.AtomicInteger(0)

  def dedupIncremental(s: SparkSession, d: String,
                       minEst: Double = 0.5, maxBucket: Int = LshMaxBucket): DataFrame = {
    // The split store lands ONCE per dataset (it depends only on d —
    // minEst/maxBucket apply at probe time), like every other pair
    // family's artifacts: the previous form re-wrote both parquet
    // halves on EVERY call, paying the store build in what is supposed
    // to be the recurrent-cost measurement (1.54 s → store-read shape).
    val root = incrStores.computeIfAbsent(d, _ => {
      incrBuildCount.incrementAndGet()
      val out = graft.Scratch.processScoped("graft_incr",
        s"store_${lshEpoch.getAndIncrement()}").toString
      // derive both halves from the session SigStore — the corpus was
      // already minhashed for the store; the split is two metadata-cheap
      // parquet rewrites partitioned by is_batch (ONE pass per artifact,
      // not one filtered pass per half)
      val st = SigStore.forDataset(s, d)
      val isBatch = col("doc_id") % IncrEvery === 0
      st.banded(s).withColumn("is_batch", isBatch)
        .write.mode("overwrite").partitionBy("is_batch")
        .parquet(s"$out/banded")
      st.sig(s).withColumn("is_batch", isBatch)
        .write.mode("overwrite").partitionBy("is_batch")
        .parquet(s"$out/sig")
      out
    })
    dedupIncrementalProbe(s, root, minEst, maxBucket)
      .transform(Present.sortedUnbounded(_, col("doc_a"), col("doc_b")))
  }

  /** The recurrent-cost stage: reads ONLY the landed store/batch
    * artifacts (partition pruning on is_batch serves each half).
    * Batch bands join store bands (cross pairs, either id order) plus
    * the batch self-join; signatures re-attach after the narrow
    * id-pair distinct, as in minhashLshFrom. */
  def dedupIncrementalProbe(s: SparkSession, root: String,
                            minEst: Double, maxBucket: Int): DataFrame = {
    import s.implicits._
    // partition-column type inference covers numerics/dates, NOT
    // booleans — is_batch reads back as the string "true"/"false";
    // string equality still partition-prunes
    val bandedAll = s.read.parquet(s"$root/banded")
    val storeB = bandedAll.filter(col("is_batch") =!= "true").drop("is_batch")
    val batchB = bandedAll.filter(col("is_batch") === "true").drop("is_batch")
    val allSig = s.read.parquet(s"$root/sig").drop("is_batch")
    val hotRows = storeB.unionByName(batchB).groupBy("band", "bucket")
      .agg(count(lit(1)).as("n")).filter(col("n") > maxBucket)
      .select("band", "bucket")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    def capped(df: DataFrame): DataFrame =
      if (hotRows.isEmpty) df
      else df.join(broadcast(hotRows.toDF("band", "bucket")),
        Seq("band", "bucket"), "left_anti")
    val sb = capped(storeB)
    val bb = capped(batchB)
    val cross = bb.as("x").join(sb.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))
    val self = bb.as("x").join(bb.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
    cross.unionByName(self).distinct()
      .join(allSig.select(col("doc_id").as("doc_a"), col("sig").as("sig_a")),
        "doc_a")
      .join(allSig.select(col("doc_id").as("doc_b"), col("sig").as("sig_b")),
        "doc_b")
      .withColumn("est_jaccard",
        round(aggregate(
          zip_with(col("sig_a"), col("sig_b"),
            (a, b) => when(a === b, 1).otherwise(0)),
          lit(0), (acc, x) => acc + x).cast("double") / NumHashes, 6))
      .filter(col("est_jaccard") >= minEst)
      .select("doc_a", "doc_b", "est_jaccard")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact"     -> dedupExact _,
    "neardup_jaccard" -> ((s: SparkSession, d: String) => neardupJaccard(s, d)),
    "minhash_lsh"     -> ((s: SparkSession, d: String) => minhashLsh(s, d)),
    "minhash_lsh_delete" -> ((s: SparkSession, d: String) => minhashLshDelete(s, d)),
    "minhash_lsh_delete_compact" ->
      ((s: SparkSession, d: String) => minhashLshDeleteCompact(s, d)),
    "dedup_incremental" -> ((s: SparkSession, d: String) => dedupIncremental(s, d)),
    "simhash_pairs"   -> ((s: SparkSession, d: String) => simhashPairs(s, d)),
    "dedup_ensemble"  -> dedupEnsemble _,
    "dedup_ensemble_clustered" ->
      ((s: SparkSession, d: String) => dedupEnsembleClustered(s, d)),
    "simhash64_invariants" -> simhash64Invariants _,
    "fuzzy_pairs"     -> ((s: SparkSession, d: String) => fuzzyPairs(s, d)),
    "fuzzy_pairs_unicode" -> ((s: SparkSession, d: String) => fuzzyPairsUnicode(s, d)),
  )

  /** DuckDB CTE chain (no leading WITH) replicating the md5 LSH
    * pipeline VERBATIM — capped string shingles `sh`, base hashes,
    * the 64-row seeds table, signature rows, banded buckets
    * (hot-capped), distinct candidate id pairs `cand`, and per-pair
    * signature agreement `est(doc_a, doc_b, est_jaccard)`. Shared by
    * the minhash_lsh and dedup_clusters_lsh oracles; every constant is
    * interpolated from the same Scala values the Spark plan uses, so
    * the two engines cannot drift. */
  /** `survive`: predicate applied to banded rows BEFORE the
    * hot-bucket cap — "TRUE" replays the live store (caps over the
    * full corpus, the masked probe's stale-cap contract); the purge
    * twin passes the survivor predicate so caps re-derive over the
    * purged store, exactly what its compaction does. */
  def lshOracleCtes(maxBucket: Int = LshMaxBucket,
                    survive: String = "TRUE"): String = {
    val rows = NumHashes / Bands
    val seeds = (0 until NumHashes)
      .map(i => s"($i, ${mhA(i)}, ${mhB(i)})").mkString(", ")
    s"""toks AS (
       |  SELECT doc_id,
       |    list_filter(string_split_regex(lower(text), '[^\\p{L}]+'),
       |      x -> x <> '') AS t
       |  FROM documents),
       |sh0 AS (
       |  SELECT DISTINCT doc_id,
       |    array_to_string(t[i:i+2], ' ') AS shingle
       |  FROM toks, unnest(range(1, greatest(len(t) - 1, 1))) AS r(i)),
       |sh AS (
       |  SELECT doc_id, shingle FROM sh0
       |  QUALIFY count(*) OVER (PARTITION BY shingle) <= $MaxShingleDf),
       |gh AS (
       |  SELECT doc_id,
       |    ('0x' || substring(md5(shingle), 1, 15))::BIGINT % $MinHashP AS g
       |  FROM sh),
       |seeds(i, a, b) AS (VALUES $seeds),
       |sigrows AS (
       |  SELECT doc_id, i, min((a * g + b) % $MinHashP) AS h
       |  FROM gh CROSS JOIN seeds GROUP BY doc_id, i),
       |banded AS (
       |  SELECT doc_id, i // $rows AS band,
       |    ('0x' || substring(md5(string_agg(h::VARCHAR, ',' ORDER BY i)),
       |      1, 15))::BIGINT AS bucket
       |  FROM sigrows GROUP BY doc_id, i // $rows),
       |capped AS (
       |  SELECT doc_id, band, bucket FROM banded
       |  WHERE $survive
       |  QUALIFY count(*) OVER (PARTITION BY band, bucket) <= $maxBucket),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM capped x JOIN capped y
       |    ON x.band = y.band AND x.bucket = y.bucket
       |    AND x.doc_id < y.doc_id),
       |est AS (
       |  SELECT c.doc_a, c.doc_b,
       |    round(sum(CASE WHEN sa.h = sb.h THEN 1 ELSE 0 END)::DOUBLE
       |      / $NumHashes, 6) AS est_jaccard
       |  FROM cand c
       |  JOIN sigrows sa ON sa.doc_id = c.doc_a
       |  JOIN sigrows sb ON sb.doc_id = c.doc_b AND sb.i = sa.i
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** The md5 SimHash pipeline as a CTE chain (no leading WITH) ending
    * in `simp(doc_a, doc_b, hamming)` — names prefixed `sm_` so the
    * chain composes next to [[lshOracleCtes]] (whose `sh`/`banded`
    * names it would otherwise shadow). Shared by the simhash_pairs
    * oracle and the ensemble's simhash leg. Parameterized by the same
    * `maxHam`/`maxBucket` as [[simhashPairsFrom]] and the landed
    * pair-store key — a caller or default change on the Scala side
    * cannot silently diverge from the oracle replay. */
  def simhashOracleCtes(maxHam: Int = 3,
                        maxBucket: Int = SimHashMaxBucket): String =
    s"""sm_tok AS (
       |  SELECT doc_id, w AS word FROM (
       |    SELECT doc_id,
       |      unnest(string_split_regex(lower(text), '[^\\p{L}]+')) AS w
       |    FROM documents) WHERE w <> ''),
       |sm_tf AS (SELECT doc_id, word, count(*) AS w FROM sm_tok GROUP BY 1, 2),
       |sm_hashed AS (
       |  SELECT doc_id,
       |    ('0x' || substring(md5(word), 1, 15))::BIGINT AS h, w
       |  FROM sm_tf),
       |sm_votes AS (
       |  SELECT doc_id, b,
       |    sum(CASE WHEN (h >> b) & 1 = 1 THEN w ELSE -w END) AS v
       |  FROM sm_hashed, unnest(range(0, $SimHashBits)) AS r(b)
       |  GROUP BY 1, 2),
       |sm_sh AS (
       |  SELECT doc_id,
       |    sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT
       |      AS simhash
       |  FROM sm_votes GROUP BY 1),
       |sm_banded AS (
       |  SELECT doc_id, simhash, b AS band,
       |    (simhash >> (b * ${SimHashBits / SimHashBands}))
       |      & ${(1L << (SimHashBits / SimHashBands)) - 1} AS bucket
       |  FROM sm_sh, unnest(range(0, $SimHashBands)) AS r(b)),
       |sm_capped AS (
       |  SELECT doc_id, simhash, band, bucket FROM sm_banded
       |  QUALIFY count(*) OVER (PARTITION BY band, bucket)
       |    <= $maxBucket),
       |sm_cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |    x.simhash AS ha, y.simhash AS hb
       |  FROM sm_capped x JOIN sm_capped y
       |    ON x.band = y.band AND x.bucket = y.bucket
       |    AND x.doc_id < y.doc_id),
       |simp AS (
       |  SELECT doc_a, doc_b, bit_count(xor(ha, hb))::INTEGER AS hamming
       |  FROM sm_cand WHERE bit_count(xor(ha, hb)) <= $maxHam)""".stripMargin

  /** The clustered-ensemble routing table as a CTE chain ending in
    * `ens(doc_a, doc_b, in_minhash, in_simhash, in_exact, clustered,
    * votes)` — shared by the dedup_ensemble_clustered oracle and the
    * connected-components consumer in PipelineOps. */
  def ensembleClusteredCtes(): String =
    s"""${lshOracleCtes(maxBucket = EnsembleClusterBucket)},
       |${simhashOracleCtes(maxBucket = EnsembleClusterBucket)},
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |exact AS (
       |  SELECT doc_a, doc_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE round(i::DOUBLE / (sa.sz + sb.sz - i), 6) >= 0.5),
       |mh_deg AS (
       |  SELECT doc_id, min(doc_id) OVER (PARTITION BY band, bucket) AS rep
       |  FROM banded
       |  QUALIFY count(*) OVER (PARTITION BY band, bucket)
       |    > $EnsembleClusterBucket),
       |mh_star AS (
       |  SELECT min(rep) AS doc_a, doc_id AS doc_b FROM mh_deg
       |  GROUP BY doc_id HAVING min(rep) < doc_id),
       |sm_deg AS (
       |  SELECT doc_id, min(doc_id) OVER (PARTITION BY band, bucket) AS rep
       |  FROM sm_banded
       |  QUALIFY count(*) OVER (PARTITION BY band, bucket)
       |    > $EnsembleClusterBucket),
       |sm_star AS (
       |  SELECT min(rep) AS doc_a, doc_id AS doc_b FROM sm_deg
       |  GROUP BY doc_id HAVING min(rep) < doc_id),
       |tagged AS (
       |  SELECT doc_a, doc_b, 1 AS m, 0 AS sm, 0 AS e, 1 AS c FROM mh_star
       |  UNION ALL SELECT doc_a, doc_b, 0, 1, 0, 1 FROM sm_star
       |  UNION ALL SELECT doc_a, doc_b, 1, 0, 0, 0 FROM est
       |  WHERE est_jaccard >= 0.5
       |  UNION ALL SELECT doc_a, doc_b, 0, 1, 0, 0 FROM simp
       |  UNION ALL SELECT doc_a, doc_b, 0, 0, 1, 0 FROM exact),
       |ens AS (
       |  SELECT doc_a, doc_b,
       |    max(m) = 1 AS in_minhash,
       |    max(sm) = 1 AS in_simhash,
       |    max(e) = 1 AS in_exact,
       |    max(c) = 1 AS clustered,
       |    (max(m) + max(sm) + max(e))::INT AS votes
       |  FROM tagged GROUP BY 1, 2)""".stripMargin

  val oracle: Map[String, String] = Map(
    "simhash_pairs" ->
      s"""WITH ${simhashOracleCtes()}
         |SELECT doc_a, doc_b, hamming FROM simp
         |ORDER BY doc_a, doc_b""".stripMargin,
    "minhash_lsh" ->
      s"""WITH ${lshOracleCtes()}
         |SELECT doc_a, doc_b, est_jaccard FROM est
         |WHERE est_jaccard >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    // tombstone masking with STALE caps: the pipeline (shingle df-cap
    // and hot-bucket cap included) replays over the FULL corpus, and
    // only the final pair set is restricted to survivors — a mask
    // leak or an over-eager cap refresh hash-fails
    "minhash_lsh_delete" ->
      s"""WITH ${lshOracleCtes()}
         |SELECT doc_a, doc_b, est_jaccard FROM est
         |WHERE est_jaccard >= 0.5
         |  AND doc_a % $DelEvery <> $DelSlot
         |  AND doc_b % $DelEvery <> $DelSlot
         |ORDER BY doc_a, doc_b""".stripMargin,
    // tombstone purge with RE-DERIVED caps: the landed per-doc
    // signatures replay unchanged (a purge never re-tokenizes, so the
    // df-cap stays the build-time one), but banded rows restrict to
    // survivors BEFORE the hot-bucket cap — the compaction refreshed
    // the bucket counts the mask left stale
    "minhash_lsh_delete_compact" ->
      s"""WITH ${lshOracleCtes(
              survive = s"doc_id % $DelEvery <> $DelSlot")}
         |SELECT doc_a, doc_b, est_jaccard FROM est
         |WHERE est_jaccard >= 0.5
         |ORDER BY doc_a, doc_b""".stripMargin,
    // the incremental operator's contract: the full pair set minus
    // pairs internal to the existing store (those were yesterday's)
    "dedup_incremental" ->
      s"""WITH ${lshOracleCtes()}
         |SELECT doc_a, doc_b, est_jaccard FROM est
         |WHERE est_jaccard >= 0.5
         |  AND (doc_a % $IncrEvery = 0 OR doc_b % $IncrEvery = 0)
         |ORDER BY doc_a, doc_b""".stripMargin,
    // xxhash64 has no DuckDB twin; the gate checks per-doc invariants
    // (case/punctuation/partition independence) that each must hold
    // for EVERY document — see simhash64Invariants.
    "simhash64_invariants" ->
      """SELECT count(*) AS n_docs, count(*) AS case_ok,
        |  count(*) AS punct_ok, count(*) AS shuffle_ok
        |FROM documents""".stripMargin,
    "fuzzy_pairs" ->
      s"""WITH ${lshOracleCtes()},
         |lsh AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.5),
         |heads AS (SELECT doc_id, substring(text, 1, 80) AS head FROM documents)
         |SELECT l.doc_a, l.doc_b,
         |  levenshtein(ha.head, hb.head) AS head_dist
         |FROM lsh l
         |JOIN heads ha ON ha.doc_id = l.doc_a
         |JOIN heads hb ON hb.doc_id = l.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin,
    // the multilingual gate: accent via codepoint translate (both
    // engines), distance over the ASCII fold where byte == codepoint;
    // strlen (bytes) − length (codepoints) witnesses the multi-byte
    // heads exactly as Spark's octet_length − length does
    "fuzzy_pairs_unicode" ->
      s"""WITH ${lshOracleCtes()},
         |lsh AS (SELECT doc_a, doc_b FROM est WHERE est_jaccard >= 0.5),
         |heads AS (SELECT doc_id,
         |  translate(substring(text, 1, 80), '$AccentAscii', '$AccentPt') AS head
         |  FROM documents)
         |SELECT l.doc_a, l.doc_b,
         |  levenshtein(translate(ha.head, '$AccentPt', '$AccentAscii'),
         |              translate(hb.head, '$AccentPt', '$AccentAscii')) AS head_dist,
         |  strlen(ha.head) - length(ha.head) AS accents_a,
         |  strlen(hb.head) - length(hb.head) AS accents_b
         |FROM lsh l
         |JOIN heads ha ON ha.doc_id = l.doc_a
         |JOIN heads hb ON hb.doc_id = l.doc_b
         |ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents
        |GROUP BY regexp_replace(trim(lower(text)), '\s+', ' ', 'g')
        |ORDER BY keep_id""".stripMargin,
    // the three legs' CTE chains composed verbatim (LSH est over the
    // shared capped-shingle sh, SimHash under sm_ prefixes, exact
    // Jaccard re-deriving from the same sh), then the identical
    // union + flag-max aggregate
    "dedup_ensemble" ->
      s"""WITH ${lshOracleCtes()},
         |${simhashOracleCtes()},
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2),
         |exact AS (
         |  SELECT doc_a, doc_b FROM inter
         |  JOIN sizes sa ON sa.doc_id = doc_a
         |  JOIN sizes sb ON sb.doc_id = doc_b
         |  WHERE round(i::DOUBLE / (sa.sz + sb.sz - i), 6) >= 0.5),
         |tagged AS (
         |  SELECT doc_a, doc_b, 1 AS m, 0 AS sm, 0 AS e FROM est
         |  WHERE est_jaccard >= 0.5
         |  UNION ALL SELECT doc_a, doc_b, 0, 1, 0 FROM simp
         |  UNION ALL SELECT doc_a, doc_b, 0, 0, 1 FROM exact)
         |SELECT doc_a, doc_b,
         |  max(m) = 1 AS in_minhash,
         |  max(sm) = 1 AS in_simhash,
         |  max(e) = 1 AS in_exact,
         |  (max(m) + max(sm) + max(e))::INT AS votes
         |FROM tagged GROUP BY 1, 2
         |ORDER BY doc_a, doc_b""".stripMargin,
    // the clustered ensemble: both banded chains replay at
    // maxBucket = t (residual pairs), and the star legs are a
    // QUALIFY-count window + per-member min over the SAME banded
    // CTEs — a routing drift between "cluster row" and "pair" on
    // either side hash-fails
    "dedup_ensemble_clustered" ->
      s"""WITH ${ensembleClusteredCtes()}
         |SELECT doc_a, doc_b, in_minhash, in_simhash, in_exact,
         |  clustered, votes
         |FROM ens ORDER BY doc_a, doc_b""".stripMargin,
    "neardup_jaccard" ->
      s"""WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^\\p{L}]+'),
        |      x -> x <> '') AS t
        |  FROM documents),
        |sh0 AS (
        |  SELECT DISTINCT doc_id,
        |    array_to_string(t[i:i+2], ' ') AS shingle
        |  FROM toks, unnest(range(1, greatest(len(t) - 1, 1))) AS r(i)),
        |sh AS (
        |  SELECT doc_id, shingle FROM sh0
        |  QUALIFY count(*) OVER (PARTITION BY shingle) <= $MaxShingleDf),
        |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
        |inter AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  round(i::DOUBLE / (sa.sz + sb.sz - i), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = doc_a
        |JOIN sizes sb ON sb.doc_id = doc_b
        |WHERE round(i::DOUBLE / (sa.sz + sb.sz - i), 6) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
  )
}
