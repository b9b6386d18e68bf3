package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped MATERIALIZED SIGNATURE STORE for the MinHash/LSH
  * dedup family.
  *
  * Four registered queries (`minhash_lsh`, `fuzzy_pairs`,
  * `dedup_clusters_lsh`, `dedup_incremental`) consume the same
  * shingle → minhash-signature → banded-bucket pipeline head — the
  * expensive part of every near-dup operator (corpus scan, tokenize,
  * explode, distinct, df-cap window, 64-min UDAF). Before this store
  * each query rebuilt that head from the raw corpus; a suite run paid
  * it four times, and at 100 TB a production deployment would never
  * do that — it lands the signature artifacts in cluster storage once
  * (they are per-doc-bounded: ≤1 row per capped shingle occurrence,
  * doc_id + 64 int64s, 16 narrow band rows/doc) and every dedup job
  * reads the store. This object is that store, scratch-parquet-backed
  * and keyed by (dataset dir, shingle df-cap, hash family params) so
  * distinct corpora or parameterizations never collide.
  *
  * Concurrency/staleness: every artifact is a [[graft.Landed]] root —
  * never reused, one build per key per JVM even when callers race.
  *
  * Derivation chain: `shingles` is written from the one corpus pass;
  * `sig` is aggregated FROM the landed shingles parquet; `banded`
  * expands FROM the landed sig parquet — so the corpus head executes
  * exactly once per key no matter how many artifacts are read later.
  */
object SigStore {

  private[graft] final case class Key(dir: String, maxDf: Int, nH: Int, bands: Int)

  private[graft] val stores = new graft.Landed[Key]("graft_sigstore")
  private val pairs = new graft.Landed[(Key, Double, Int)]("graft_sigstore")
  private val lshVerified =
    new graft.Landed[(Key, Double, Double, Int)]("graft_sigstore")
  private[graft] val exact = new graft.Landed[(Key, Double)]("graft_sigstore")

  /** Handle over the landed artifacts; DataFrames are fresh parquet
    * reads bound to the CALLER's session (the cache holds only
    * paths, so sessions across test suites interoperate). */
  final case class Store(root: String) {
    def shingles(s: SparkSession): DataFrame = s.read.parquet(s"$root/shingles")
    def sig(s: SparkSession): DataFrame      = s.read.parquet(s"$root/sig")
    def banded(s: SparkSession): DataFrame   = s.read.parquet(s"$root/banded")
  }

  /** The store for a dataset dir, building it on first request. */
  def forDataset(s: SparkSession, d: String,
                 maxDf: Int = Dedup.MaxShingleDf): Store = {
    val key = Key(d, maxDf, Dedup.NumHashes, Dedup.Bands)
    Store(stores.root(key) { root =>
      Dedup.cappedShingles(s, d, maxDf)
        .write.mode("overwrite").parquet(s"$root/shingles")
      Dedup.minhashSignaturesMd5From(s.read.parquet(s"$root/shingles"))
        .write.mode("overwrite").parquet(s"$root/sig")
      Dedup.bandedFrom(s.read.parquet(s"$root/sig"))
        .write.mode("overwrite").parquet(s"$root/banded")
    })
  }

  /** LSH candidate pairs with signature-agreement estimate, computed
    * from the store artifacts and themselves landed + cached per
    * (key, minEst, maxBucket) — so `fuzzy_pairs` reuses the exact
    * pair set `minhash_lsh` already wrote instead of re-running the
    * band self-join. */
  def lshPairs(s: SparkSession, d: String,
               minEst: Double = 0.5, maxBucket: Int = Dedup.LshMaxBucket,
               maxDf: Int = Dedup.MaxShingleDf): DataFrame = {
    val key = (Key(d, maxDf, Dedup.NumHashes, Dedup.Bands), minEst, maxBucket)
    s.read.parquet(pairs.root(key) { out =>
      val st = forDataset(s, d, maxDf)
      Dedup.lshPairsFrom(st.banded(s), st.sig(s), minEst, maxBucket)
        .write.mode("overwrite").parquet(out)
    })
  }

  /** Landed LSH-VERIFIED pair graph (r19): candidate generation from
    * the banded artifact + exact-Jaccard verification against the
    * landed shingles, run once per (dataset, minJ, minEst) and landed
    * — the scale-path twin of [[exactPairs]]. `dedup_clusters_lsh`'s
    * steady-state is then the CC loop over a pair-bounded parquet
    * scan; the verify joins never re-run within a deployment epoch. */
  def verifiedLshPairs(s: SparkSession, d: String, minJ: Double = 0.5,
                       minEst: Double = 0.35,
                       maxBucket: Int = Dedup.LshMaxBucket,
                       maxDf: Int = Dedup.MaxShingleDf): DataFrame = {
    val key = (Key(d, maxDf, Dedup.NumHashes, Dedup.Bands),
      minJ, minEst, maxBucket)
    s.read.parquet(lshVerified.root(key) { out =>
      val st = forDataset(s, d, maxDf)
      // maxDf/maxBucket forwarded: candidates and verify shingles must
      // come from the SAME parameterization or the landed artifact
      // matches neither
      PipelineOps.lshVerify(st.shingles(s),
          lshPairs(s, d, minEst, maxBucket, maxDf)
            .select("doc_a", "doc_b"), minJ)
        .write.mode("overwrite").parquet(out)
    })
  }

  /** Landed EXACT-Jaccard near-dup pair graph — the verified pair set
    * a production dedup pipeline persists before anything consumes it.
    * Five registered queries read this one artifact (`neardup_jaccard`,
    * `dedup_clusters`, `keep_one_per_cluster`, `triangle_count`,
    * `pagerank_docs`); before it each recomputed the shingle self-join
    * from the corpus, so a suite paid the most expensive relation in
    * the family five times. Derived FROM the landed shingles parquet
    * (the store's derivation-chain rule), so the corpus head still
    * executes exactly once per dataset. */
  def exactPairs(s: SparkSession, d: String, minJ: Double = 0.5,
                 maxDf: Int = Dedup.MaxShingleDf): DataFrame = {
    val key = (Key(d, maxDf, Dedup.NumHashes, Dedup.Bands), minJ)
    s.read.parquet(exact.root(key) { out =>
      Dedup.neardupJaccardFromShingles(forDataset(s, d, maxDf).shingles(s), minJ)
        .write.mode("overwrite").parquet(out)
    })
  }
}
