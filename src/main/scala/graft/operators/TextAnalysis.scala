package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Training-data text-analysis operators over `documents`: language
  * identification, quality scoring, token counting, fingerprinting,
  * and TF-IDF. All are single-pass, codegen-friendly column
  * expressions (no UDFs) so they stay inside whole-stage codegen and
  * scale linearly with corpus bytes; the only shuffles are the final
  * aggregates/joins, keyed on (doc_id) or (word).
  */
object TextAnalysis {

  /** Tiny per-language function-word lexicons (public knowledge).
    * Real language ID would use character n-gram profiles; the
    * operator's *shape* — explode, broadcast lexicon join, per-doc
    * argmax — is identical, and deterministic here so the oracle can
    * replicate it. */
  val lexicon: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "and", "en" -> "of", "en" -> "to",
    "en" -> "in", "en" -> "is", "en" -> "on", "en" -> "for", "en" -> "with",
    "es" -> "el", "es" -> "la", "es" -> "de", "es" -> "que", "es" -> "y",
    "es" -> "un", "es" -> "por", "es" -> "con", "es" -> "los", "es" -> "se",
    "fr" -> "le", "fr" -> "les", "fr" -> "des", "fr" -> "et", "fr" -> "du",
    "fr" -> "est", "fr" -> "une", "fr" -> "dans", "fr" -> "pour", "fr" -> "au",
    "de" -> "der", "de" -> "die", "de" -> "das", "de" -> "und", "de" -> "von",
    "de" -> "zu", "de" -> "mit", "de" -> "den", "de" -> "ein", "de" -> "ist")

  private def lexiconDf(s: SparkSession): DataFrame = {
    import s.implicits._
    lexicon.toDF("lex_lang", "lex_word")
  }

  /** Language ID: tokenize → broadcast-join the lexicon → per-doc
    * argmax(score) with deterministic tie-break. Docs with no lexicon
    * hit → 'unknown'. The lexicon join is a broadcast hash join (the
    * lexicon is bounded), so the plan is scan → generate → BHJ →
    * partial/final agg → one shuffle on doc_id. */
  def langId(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val scores = TextOps.tokenize(docs)
      .join(broadcast(lexiconDf(s)), col("word") === col("lex_word"))
      .groupBy("doc_id", "lex_lang")
      .agg(count(lit(1)).as("score"))
    val w = Window.partitionBy("doc_id")
      .orderBy(desc("score"), col("lex_lang"))
    val best = scores
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id").as("b_doc"), col("lex_lang"), col("score"))
    docs.select("doc_id")
      .join(best, col("doc_id") === col("b_doc"), "left")
      .select(
        col("doc_id"),
        coalesce(col("lex_lang"), lit("unknown")).as("lang_pred"),
        coalesce(col("score"), lit(0L)).as("score"))
      .transform(Present.sortedUnbounded(_, col("doc_id")))
  }

  private val enStop = lexicon.filter(_._1 == "en").map(_._2)

  /** Quality scoring: length, token counts, type-token ratio,
    * stopword ratio, alpha-char ratio — the classic cheap corpus
    * filters. Pure column math; one narrow pass. */
  def textQuality(s: SparkSession, d: String): DataFrame = {
    val toks = Tokenizers.Alnum.column(col("text"))
    Tables.documents(s, d)
      .withColumn("toks", toks)
      .select(
        col("doc_id"),
        length(col("text")).as("n_chars"),
        size(col("toks")).as("n_tokens"),
        size(array_distinct(col("toks"))).as("n_types"),
        round(size(array_distinct(col("toks"))).cast("double") /
          size(col("toks")), 6).as("ttr"),
        round((length(col("text")) -
          length(regexp_replace(col("text"), "[a-zA-Z]", ""))).cast("double") /
          length(col("text")), 6).as("alpha_ratio"),
        round(size(filter(col("toks"),
          t => t.isin(enStop: _*))).cast("double") /
          size(col("toks")), 6).as("stopword_ratio"))
      .transform(Present.sortedUnbounded(_, col("doc_id")))
  }

  /** Repetition-based quality signals (the Gopher-rule family):
    * duplicate-line fraction and most-frequent-bigram fraction —
    * the filters that catch boilerplate/spam docs that length and
    * alpha-ratio miss. Lines dedup per doc with array ops (narrow);
    * the bigram mode reuses the 2-shingle generator: one shuffle on
    * (doc, bigram) with map-side partial counts, one per-doc rollup,
    * one doc-keyed join — all keys doc-bounded, no corpus-wide hot
    * key possible. */
  def repetitionStats(s: SparkSession, d: String): DataFrame = {
    val lines = filter(split(col("text"), "\n"), l => length(trim(l)) > 0)
    // Deliberately kept as the two-aggregate shuffle form. The r19
    // optimization pass tried the "obvious" shuffle-free rewrite —
    // per-doc max-run over the sorted bigram array via higher-order
    // functions — and it measured 3.8 s (column-bound lambdas) to
    // 13.5 s (expression-captured lambdas) vs 1.2 s for this plan at
    // sf0.1: array HOF lambdas evaluate interpreted per element while
    // the hash aggregates below run whole-stage-codegen'd, and both
    // shuffles carry narrow partial-aggregated rows (guide §1.1's
    // "ideal plan is usually slower at first" case, documented in
    // OPTIMIZATION_r19.md).
    val lineStats = Tables.documents(s, d).select(
      col("doc_id"),
      size(lines).as("n_lines"),
      when(size(lines) > 0,
        round(lit(1) - size(array_distinct(lines)).cast("double") / size(lines), 6))
        .otherwise(0.0).as("dup_line_ratio"))
    // spread before the bigram pass (single scan split otherwise
    // serializes explode + partial agg in one task — probed 533 ms of
    // 1.65 s); the two-aggregate SHAPE above is untouched
    val bgStats = Dedup.shinglesRawFrom(
        Tables.documents(s, d).repartition(
          s.sparkContext.defaultParallelism, col("doc_id")), 2)
      .groupBy("doc_id", "shingle").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(sum("c").as("n_bigrams"), max("c").as("top_c"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("top_c").cast("double") / col("n_bigrams"), 6)
          .as("top_bigram_ratio"))
    lineStats.join(bgStats, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines"), col("dup_line_ratio"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("top_bigram_ratio"), lit(0.0)).as("top_bigram_ratio"))
      .transform(Present.sortedUnbounded(_, col("doc_id")))
  }

  /** Token counting three ways: whitespace, a BPE-ish regex
    * (letter runs | digit runs | single other), and the chars/4
    * budget rule — the estimators a pipeline uses to cost a corpus. */
  def tokenCounts(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        Tokenizers.Whitespace.count(col("text")).as("ws_tokens"),
        Tokenizers.BpeIsh.count(col("text")).as("bpe_ish_tokens"),
        ceil(length(col("text")) / lit(4.0)).cast("long").as("budget_tokens"))
      .transform(Present.sortedUnbounded(_, col("doc_id")))

  val HhK = 50

  /** Heavy hitters: every token with corpus frequency > n/K, found by
    * a Misra–Gries summary ([[graft.functions.Aggregators.MisraGriesAgg]])
    * and BRACKET-GATED against the exact counts (the sketch pattern
    * from approx_distinct/percentiles_approx): output = exact count +
    * boolean "the sketch found this token and its estimate undercounts
    * by ≤ n/K", which is the Misra–Gries guarantee under ANY partition
    * split and merge order — the estimates themselves are
    * partition-dependent and never emitted. All bracket arithmetic is
    * INTEGER (`cnt·K > n`, `(cnt−est)·K ≤ n`) so both engines decide
    * thresholds identically. At 100 TB the sketch side is the point:
    * the token stream folds into one K-entry buffer per task — the
    * shuffle carries ≤ K rows per partition vs the full distinct-token
    * exchange of the exact plan (the exact side here exists to price
    * the bracket, as in the other sketch gates). */
  def heavyHitters(s: SparkSession, d: String, k: Int = HhK): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select(explode(Tokenizers.Alnum.column(col("text"))).as("word"))
    val exact = toks.groupBy("word").agg(count(lit(1)).as("cnt"))
    val tot = exact.agg(sum("cnt").as("n"))
    val summary = toks.as[String]
      .select(new graft.functions.Aggregators.MisraGriesAgg(k)
        .toColumn.name("m"))
      .select(explode(col("m")).as(Seq("word", "est")))
    exact.crossJoin(broadcast(tot))
      .filter(col("cnt") * k > col("n"))
      .join(summary, Seq("word"), "left")
      .select(col("word"), col("cnt"),
        (col("est").isNotNull && col("est") <= col("cnt") &&
          (col("cnt") - col("est")) * k <= col("n")).as("sketch_ok"))
      .transform(Present.sortedUnbounded(_, col("word")))
  }

  val CmsD = 5    // hash rows (error probability e^-d per query)
  val CmsW = 2048 // counters per row (expected excess ≈ n/w)

  /** The d bucket indices for one token, as plain SQL expressions —
    * the SAME expressions serve the build side (pre-computed per
    * token, folded by [[graft.functions.Aggregators.CmsAgg]]) and the
    * probe side (replayed per candidate word), which is what makes
    * the sketch point-queryable in-plan with no UDF. */
  private def cmsBuckets(word: Column): Seq[Column] =
    (0 until CmsD).map(i =>
      pmod(hash(word, lit(i)), lit(CmsW)).cast("int"))

  /** Count-min-sketch heavy hitters — the mergeable-counter twin of
    * the Misra-Gries rung: one d×w matrix summarizes the token
    * stream (merge = element-wise add, so the matrix and therefore
    * every estimate is partition-layout-independent, unlike MG whose
    * estimates are order-dependent), then the exact heavy-hitter set
    * (cnt·k > n, the MG candidate definition) probes the matrix
    * in-plan: est = min over d rows of counters[hash_i(word)],
    * computed with `element_at` + the same `hash` expressions the
    * build side used. Emitted gate: CMS never undercounts
    * (est ≥ cnt always, a hard invariant) and the excess stays under
    * 8·n/w (expected n/w per row, min over d=5 rows — generous but
    * meaningful: ≤0.4% of corpus mass). DuckDB replays the exact set
    * and pins TRUE. At 100 TB the matrix is the point: an 80 KB
    * summary per corpus slice answers any point frequency without a
    * groupBy over the stream, and slices union by addition. */
  def cmsHeavyHitters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = Tables.documents(s, d)
      .select(explode(Tokenizers.Alnum.column(col("text"))).as("word"))
    val exact = toks.groupBy("word").agg(count(lit(1)).as("cnt"))
    val tot = exact.agg(sum("cnt").as("n"))
    val sketch = toks
      .select(array(cmsBuckets(col("word")): _*).as("bk"))
      .as[Seq[Int]]
      .select(new graft.functions.Aggregators.CmsAgg(CmsD, CmsW)
        .toColumn.name("sk"))
    // Row i's counters live at the i*w offset in the flattened matrix.
    val est = cmsBuckets(col("word")).zipWithIndex
      .map { case (b, i) => element_at(col("sk"), lit(i * CmsW) + b + 1) }
      .reduce(least(_, _))
    exact.crossJoin(broadcast(tot))
      .filter(col("cnt") * HhK > col("n"))
      .crossJoin(broadcast(sketch))
      .select(col("word"), col("cnt"),
        (est >= col("cnt") &&
          (est - col("cnt")) * lit(CmsW.toLong) <= lit(8L) * col("n"))
          .as("cms_ok"))
      .transform(Present.sortedUnbounded(_, col("word")))
  }

  /** Document fingerprint: SHA-256 over whitespace-canonicalized
    * lowercase text — the exact-dedup key at scale (fixed 32-byte
    * shuffle key instead of full text). */
  def fingerprint(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        sha2(Tokenizers.ExactKey.column(col("text")), 256)
          .as("fp"))
      .transform(Present.sortedUnbounded(_, col("doc_id")))

  val WinnowK = 8 // char k-gram width
  val WinnowW = 4 // winnowing window (grams per window)

  /** Rolling-hash document fingerprints by winnowing (Schleimer/
    * Wilkerson/Aiken 2003): hash every char k-gram, then keep the
    * minimum hash of each sliding window of w consecutive grams —
    * any substring match of length ≥ k+w-1 between two documents is
    * guaranteed to share a fingerprint, at ~2/(w+1) selection density.
    * This is the position-robust complement to the whole-doc SHA
    * `fingerprint` (which an edit anywhere breaks).
    *
    * The gram hash is the md5-hex-prefix recipe (see
    * PipelineOps.hashBucket) so DuckDB computes identical values —
    * a true rolling recurrence (Rabin-Karp) computes the SAME k-gram
    * hash family incrementally; what matters for the operator's
    * output contract is the winnowing SELECTION, which is exact here.
    * Shape: explode to one row per gram position (narrow), min over a
    * w-row window keyed on doc (1 shuffle on doc_id), distinct. */
  def winnowFingerprints(s: SparkSession, d: String): DataFrame =
    winnowFingerprintsOf(Tables.documents(s, d))

  /** Core winnowing over any (doc_id, text) relation — split out so
    * specs can assert the substring-match guarantee on crafted docs.
    *
    * Winnowing is per-document, so the whole selection runs MAP-SIDE
    * inside one projection: hash every k-gram into an array (one md5
    * per gram), take each w-window's min via slice+array_min, dedup
    * within the doc with array_distinct, explode. No shuffle anywhere
    * except the presentation sort — the round-3 form exploded to one
    * row per gram and paid a corpus-sized window sort on doc_id, which
    * was the suite's per-byte-heaviest scan stage. Output contract
    * (and the DuckDB oracle) unchanged. */
  def winnowFingerprintsOf(docs: DataFrame): DataFrame = {
    val k = WinnowK; val w = WinnowW
    docs
      .select(col("doc_id"), lower(col("text")).as("t"))
      // decouple task count from input BYTES: this stage does ~2000
      // md5s per KB of input, so split-by-size scheduling (fine for
      // scan-bound work) would run the whole corpus's hashing in a
      // handful of tasks. One narrow-row shuffle of the raw text buys
      // full-cluster parallelism for the hash loop — measured 6.7 s →
      // sub-second at sf0.1 local[32], and the same reasoning holds on
      // a real cluster whenever docs-per-split ≫ cores.
      .repartition(docs.sparkSession.sparkContext.defaultParallelism * 2,
        col("doc_id"))
      .withColumn("n_grams", length(col("t")) - (k - 1))
      .filter(col("n_grams") >= w) // docs too short for one full window
      // fingerprint = the 15-hex-char md5 prefix AS A STRING: for
      // fixed-width hex, lexicographic min ≡ numeric min, so skipping
      // the per-gram base-16 parse (conv) keeps the selection
      // identical while removing the most expensive op in the loop
      .withColumn("hs", transform(sequence(lit(1), col("n_grams")),
        p => substring(md5(col("t").substr(p, lit(k))), 1, 15)))
      .select(col("doc_id"),
        explode(array_distinct(
          transform(sequence(lit(0), col("n_grams") - w),
            j => array_min(slice(col("hs"), j + 1, lit(w)))))).as("fp"))
      // narrow hash-exchange barrier before the presentation sort: the
      // range partitioner SAMPLES its child, and with the md5 loop as
      // the sort's direct child the whole hash computation ran twice
      // (sample pass + shuffle pass). Materializing the (doc_id, fp)
      // rows through one cheap exchange makes the sampler read shuffle
      // output instead (measured 1.10 → 0.91 s at sf0.1; the same
      // barrier HURTS cheap projections — fingerprint 0.49 → 0.60 s —
      // so it is applied only where the projection dominates).
      .repartition(docs.sparkSession.sparkContext.defaultParallelism,
        col("doc_id"))
      .transform(Present.sortedUnbounded(_, col("doc_id"), col("fp")))
  }

  /** TF-IDF: composes the reference's two applications — term
    * frequencies (WordCount per doc) with document frequencies
    * (InvertedIndex cardinalities) — exactly the composition SURVEY.md
    * §2.4 calls out. df is a window count over the tf relation, not a
    * second aggregation branch: a separate `tf.groupBy(word)` branch
    * re-tokenizes the whole corpus (Catalyst prunes the branches
    * differently, so the scans don't unify), while the window form
    * tokenizes ONCE and moves tf rows on `word` exactly as the join it
    * replaces would have. N arrives via a broadcast 1-row cross join,
    * not a driver collect. Top term per doc keeps output bounded. */
  def tfidf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val tf = TextOps.tokenize(docs)
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .withColumn("df",
        count(lit(1)).over(Window.partitionBy("word")))
      .crossJoin(broadcast(n))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
    val w = Window.partitionBy("doc_id")
      .orderBy(desc("tfidf"), col("word"))
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("doc_id", "word", "tf", "df", "tfidf", "rn")
      .transform(Present.sortedUnbounded(_, col("doc_id"), col("rn")))
  }

  val VocabMinCount = 5
  val VocabCoverage = 0.95

  /** Vocabulary induction — the tokenizer-training prep step: corpus
    * token counts, min-count-filtered, globally ranked (count desc,
    * word), kept until cumulative coverage of the FULL token stream
    * (including the rare words the filter dropped) reaches
    * VocabCoverage. Emits (word, cnt, rank, coverage-after-this-word).
    *
    * Shape at scale: wordcount (narrow explode → partial agg → one
    * shuffle on word) then one GLOBAL window over the min-count
    * SURVIVORS — a vocabulary is bounded (≤ millions of rows after
    * min-count on any real corpus) and is globally ranked by
    * definition, so the single-partition window runs over a
    * vocab-sized relation, never the corpus. The min-count filter is
    * what bounds it: raise it before raising cluster size. */
  def vocabBuild(s: SparkSession, d: String): DataFrame = {
    val counts = TextOps.tokenize(Tables.documents(s, d))
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    // coverage denominator = ALL token occurrences, incl. filtered
    val total = counts.agg(sum("cnt").as("total"))
    val w = Window.orderBy(desc("cnt"), col("word"))
    val before = w.rowsBetween(Window.unboundedPreceding, -1)
    counts.filter(col("cnt") >= VocabMinCount)
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w))
      .withColumn("cum_before", coalesce(sum("cnt").over(before), lit(0L)))
      .filter(col("cum_before") < col("total") * lit(VocabCoverage))
      .select(col("word"), col("cnt"), col("rank"),
        round((col("cum_before") + col("cnt")).cast("double") / col("total"), 6)
          .as("coverage"))
      .transform(Present.sortedUnbounded(_, col("rank")))
  }

  val BpeMergeRounds = 8

  /** BPE merge learning (Sennrich et al. 2016, the public byte-pair-
    * encoding algorithm): start from each distinct word as its
    * character sequence, and for BpeMergeRounds rounds count adjacent
    * symbol pairs weighted by word frequency, pick the most frequent
    * pair (tie-break: count desc, lhs, rhs — deterministic so DuckDB
    * replays the whole merge SEQUENCE), and merge its occurrences
    * greedily left-to-right. Emits the learned merge table
    * (merge_no, lhs, rhs, merged, pair_cnt) — the artifact a tokenizer
    * trainer ships. `vocab_build` ranks whole tokens; this learns the
    * subword units under them.
    *
    * Greedy left-to-right application is expressed RELATIONALLY so
    * both engines compute it identically: match positions, then
    * gaps-and-islands parity — within each maximal run of consecutive
    * match positions (runs longer than 1 only happen for self-pairs
    * like (a,a) over "aaa"), merge the 1st, 3rd, … occurrence, which
    * is exactly what the sequential scan does.
    *
    * Shape at scale: the training input is the WORD-FREQUENCY table —
    * vocabulary-bounded, not corpus-bounded; the corpus contributes
    * one wordcount (narrow explode → one shuffle on word) and never
    * re-enters the loop. Each round shuffles only the symbol relation
    * (Σ|word| over distinct words, shrinking as merges apply) on
    * `word`; the winning pair is a single bounded row (the "broadcast
    * the winner" step — here driver-mediated, like SaltedAgg's
    * justified bounded collect) and lineage is truncated on the
    * Checkpoints rung every round so plan depth stays constant in the
    * round count. */
  def bpeMerges(s: SparkSession, d: String): DataFrame =
    bpeStore(s, d)._1.transform(Present.sorted(_, col("merge_no")))

  /** Tokenizer application under the learned merges — the "encode"
    * half of the BPE surface: per distinct word, the subword token
    * count after all BpeMergeRounds merges (the training loop's final
    * symbol state IS the encoded form — one extra aggregate, no extra
    * pass). `freq` carries the corpus weight, so corpus-level token
    * totals are sum(freq·n_sub) downstream. The oracle replays the
    * same unrolled rounds and aggregates the final state. At scale
    * the encode input is the DISTINCT-WORD table (vocabulary-bounded,
    * like training); per-document encoding is this table joined back
    * to the corpus on word — a broadcast of the vocab. */
  def bpeEncode(s: SparkSession, d: String): DataFrame =
    bpeStore(s, d)._2
      .groupBy("word", "freq")
      .agg(count(lit(1)).as("n_sub"))
      .select(col("word"), col("freq"),
        length(col("word")).as("n_chars"), col("n_sub"))
      .transform(Present.sortedUnbounded(_, col("word")))

  /** Byte-level merge table ([[bpeTrainBytes]]): lhs/rhs/merged are
    * hex-spelled byte sequences. */
  def bpeBytesMerges(s: SparkSession, d: String): DataFrame =
    bpeByteStore(s, d)._1.transform(Present.sorted(_, col("merge_no")))

  /** Per-word encoded length under the byte-level tokenizer —
    * n_bytes (the UTF-8 length, the zero-merge worst case) against
    * n_sub (the symbol count after the learned merges); multilingual
    * supplement words appear with their multi-byte spellings intact,
    * the no-OOV property in row form. */
  def bpeBytesEncode(s: SparkSession, d: String): DataFrame =
    bpeByteStore(s, d)._2
      .groupBy("word", "freq").agg(count(lit(1)).as("n_sub"))
      .select(col("word"), col("freq"),
        octet_length(col("word")).as("n_bytes"), col("n_sub"))
      .transform(Present.sortedUnbounded(_, col("word")))

  /** Per-DOCUMENT token counts under the learned tokenizer — the
    * practical question BPE answers in a pipeline ("how many tokens
    * is this corpus under MY tokenizer", for budgeting/packing):
    * each doc's word occurrences joined (vocab-sized broadcast)
    * against the landed per-word subword counts and rolled up. One
    * corpus tokenize pass + one doc_id shuffle; the store price was
    * paid once at training. */
  def bpeDocTokens(s: SparkSession, d: String): DataFrame = {
    val nsub = bpeStore(s, d)._2
      .groupBy("word").agg(count(lit(1)).as("n_sub"))
    TextOps.tokenize(Tables.documents(s, d))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("n_occ"))
      .join(broadcast(nsub), Seq("word"))
      .groupBy("doc_id")
      .agg(sum(col("n_occ") * col("n_sub")).as("bpe_tokens"),
        sum("n_occ").as("words"))
      .transform(Present.sortedUnbounded(_, col("doc_id")))
  }

  /** Session-scoped LANDED tokenizer artifact per (dataset, alphabet)
    * (the ivfStore pattern): the learned merge table and the final
    * per-word symbol state written to parquet once — they ARE the
    * artifact a tokenizer trainer ships, and every BPE query is a
    * store read instead of re-running the training loop. */
  private val bpeStores = new graft.Landed[(String, String)]("graft_bpe")

  private def bpeStoreFor(s: SparkSession, d: String, mode: String,
                          train: => (DataFrame, DataFrame))
      : (DataFrame, DataFrame) = {
    val root = bpeStores.root((mode, d)) { out =>
      val (merges, state) = train
      merges.write.mode("overwrite").parquet(s"$out/merges")
      state.write.mode("overwrite").parquet(s"$out/state")
    }
    (s.read.parquet(s"$root/merges"), s.read.parquet(s"$root/state"))
  }

  /** (merge table, final symbol state) as fresh reads over the landed
    * artifact, training on first request for the dataset. */
  def bpeStore(s: SparkSession, d: String): (DataFrame, DataFrame) =
    bpeStoreFor(s, d, "char", bpeTrain(s, d))

  /** The byte-level twin of [[bpeStore]]. */
  def bpeByteStore(s: SparkSession, d: String): (DataFrame, DataFrame) =
    bpeStoreFor(s, d, "byte", bpeTrainBytes(s, d))

  /** (learned merge table, final per-word symbol state) — RETRAINS on
    * every call; production reads [[bpeStore]]. Spec-visible so
    * determinism is asserted on the training loop itself, not on two
    * reads of one landed file. */
  private[graft] def bpeTrain(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val wf = TextOps.tokenize(Tables.documents(s, d))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    bpeTrainLoop(s,
      wf.select(col("word"), col("freq"),
        posexplode(split(col("word"), "")).as(Seq("p0", "sym")))
        .select(col("word"), col("freq"),
          (col("p0") + 1).cast("long").as("pos"), col("sym")))
  }

  /** Deterministic multilingual supplement mixed into the byte-level
    * training corpus (literal in BOTH engines): guarantees multi-byte
    * UTF-8 sequences are present whatever the dataset holds, so the
    * byte-fallback property is actually exercised, not vacuous. */
  private[graft] val ByteSupplement: Seq[(String, Long)] = Seq(
    ("coração", 40L), ("informação", 35L), ("naïve", 30L),
    ("straße", 25L), ("日本語", 20L), ("данные", 15L))

  /** Byte-level BPE training (the GPT-2 tokenizer shape, Radford et
    * al. 2019 public): the base alphabet is the 256 UTF-8 BYTES of
    * each word — represented as two-char hex symbols, the engine-
    * neutral byte spelling both Spark (`hex(encode(word,'UTF-8'))`)
    * and DuckDB (`hex(encode(word))`) produce identically — so ANY
    * text tokenizes with zero OOV: a never-seen multilingual word
    * falls back to its bytes instead of failing the vocabulary, which
    * is why production tokenizers train at the byte level. Merge
    * learning itself is [[bpeTrainLoop]], unchanged — only s0
    * differs, exactly the relationship the two alphabets have in the
    * literature. Scale shape identical to char BPE: vocabulary-
    * bounded state (~bytes-per-word × |vocab| rows), corpus touched
    * once for the word counts. */
  private[graft] def bpeTrainBytes(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val wf0 = TextOps.tokenize(Tables.documents(s, d))
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val wf = wf0.unionByName(ByteSupplement.toDF("word", "freq"))
      .groupBy("word").agg(sum("freq").as("freq"))
    bpeTrainLoop(s,
      wf.select(col("word"), col("freq"),
        posexplode(regexp_extract_all(
          hex(encode(col("word"), "UTF-8")), lit(".."), lit(0)))
          .as(Seq("p0", "sym")))
        .select(col("word"), col("freq"),
          (col("p0") + 1).cast("long").as("pos"), col("sym")))
  }

  /** The shared merge-learning loop over any initial symbol state
    * (word, freq, pos, sym) — char and byte alphabets differ only in
    * s0. */
  private def bpeTrainLoop(s: SparkSession, state0: DataFrame)
      : (DataFrame, DataFrame) = {
    val wPos = Window.partitionBy("word").orderBy("pos")
    var state: DataFrame = Checkpoints.truncate(state0)
    val learned =
      scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= BpeMergeRounds && !exhausted) {
      val win = state
        .withColumn("nxt", lead("sym", 1).over(wPos))
        .filter(col("nxt").isNotNull)
        .groupBy(col("sym").as("a"), col("nxt").as("b"))
        .agg(sum("freq").as("cnt"))
        .orderBy(desc("cnt"), col("a"), col("b"))
        .limit(1).collect() // exactly one bounded row: the round winner
      if (win.isEmpty) exhausted = true // every word is one symbol
      else {
        val (wa, wb) = (win(0).getString(0), win(0).getString(1))
        learned += ((r, wa, wb, win(0).getLong(2)))
        val applied = state
          .withColumn("nxt", lead("sym", 1).over(wPos))
          .withColumn("mt",
            when(col("sym") === lit(wa) && col("nxt") === lit(wb), 1)
              .otherwise(0))
          // islands: run id distinguishes maximal consecutive-match
          // stretches; odd offsets within a run are the greedy merges
          .withColumn("run", when(col("mt") === 1, col("pos") -
            row_number().over(Window.partitionBy("word", "mt").orderBy("pos"))))
          .withColumn("mg", when(col("mt") === 1 &&
            row_number().over(Window.partitionBy("word", "run").orderBy("pos"))
              % 2 === 1, 1).otherwise(0))
          .withColumn("pmg", lag("mg", 1).over(wPos))
          .filter(coalesce(col("pmg"), lit(0)) === 0) // drop merged rhs
          .select(col("word"), col("freq"),
            row_number().over(wPos).cast("long").as("pos"),
            when(col("mg") === 1, concat(col("sym"), col("nxt")))
              .otherwise(col("sym")).as("sym"))
        state = Checkpoints.truncate(applied)
      }
      r += 1
    }
    import s.implicits._
    val merges = learned.toSeq.toDF("merge_no", "lhs", "rhs", "pair_cnt")
      .select(col("merge_no"), col("lhs"), col("rhs"),
        concat(col("lhs"), col("rhs")).as("merged"), col("pair_cnt"))
      .transform(Present.sorted(_, col("merge_no")))
    (merges, state)
  }

  /** One BPE round as DuckDB CTEs — pair count, winner, greedy-parity
    * application — the SQL twin of the loop body above, unrolled per
    * round exactly like PipelineOps.pagerankSql unrolls iterations. */
  private def bpeRoundSql(r: Int): String = {
    val p = s"s${r - 1}"
    s""",
       |p$r AS (
       |  SELECT sym AS a, nxt AS b, CAST(sum(freq) AS BIGINT) AS cnt FROM (
       |    SELECT word, freq, sym,
       |      lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
       |    FROM $p)
       |  WHERE nxt IS NOT NULL GROUP BY 1, 2),
       |win$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
       |mg$r AS (
       |  SELECT word, freq, pos, sym, nxt, CASE WHEN mt = 1 AND
       |      (row_number() OVER (PARTITION BY word, run ORDER BY pos)) % 2 = 1
       |    THEN 1 ELSE 0 END AS mg
       |  FROM (
       |    SELECT *, CASE WHEN mt = 1
       |        THEN pos - row_number() OVER (PARTITION BY word, mt ORDER BY pos)
       |      END AS run
       |    FROM (
       |      SELECT t.word, t.freq, t.pos, t.sym, t.nxt,
       |        CASE WHEN t.sym = w.a AND t.nxt = w.b THEN 1 ELSE 0 END AS mt
       |      FROM (SELECT *, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
       |            FROM $p) t, win$r w))),
       |s$r AS (
       |  SELECT word, freq,
       |    row_number() OVER (PARTITION BY word ORDER BY pos) AS pos,
       |    CASE WHEN mg = 1 THEN sym || nxt ELSE sym END AS sym
       |  FROM (SELECT *, lag(mg) OVER (PARTITION BY word ORDER BY pos) AS pmg
       |        FROM mg$r)
       |  WHERE coalesce(pmg, 0) = 0)""".stripMargin
  }

  /** The byte-level CTE chain: same tokenize → word freq head PLUS
    * the literal multilingual supplement, then s0 as hex-pair byte
    * symbols — the round blocks are [[bpeRoundSql]] UNCHANGED, the
    * SQL mirror of char/byte training sharing one loop. */
  private lazy val bpeBytesCtes: String = {
    val sup = ByteSupplement
      .map { case (w, f) => s"('$w', $f::BIGINT)" }.mkString(", ")
    val head =
      s"""WITH tok AS (
         |  SELECT unnest(${Tokenizers.Letters.sql}) AS word FROM documents),
         |wf0 AS (SELECT word, CAST(count(*) AS BIGINT) AS freq
         |  FROM tok GROUP BY word),
         |wf AS (
         |  SELECT word, CAST(sum(freq) AS BIGINT) AS freq FROM (
         |    SELECT * FROM wf0
         |    UNION ALL
         |    SELECT * FROM (VALUES $sup) v(word, freq))
         |  GROUP BY word),
         |s0 AS (
         |  SELECT word, freq, i AS pos, h[i] AS sym
         |  FROM (SELECT word, freq,
         |          regexp_extract_all(hex(encode(word)), '..') AS h
         |        FROM wf) t,
         |       unnest(range(1, len(h) + 1)) AS r(i))""".stripMargin
    head + (1 to BpeMergeRounds).map(bpeRoundSql).mkString
  }

  private lazy val bpeBytesSql: String = {
    val out = (1 to BpeMergeRounds).map(r =>
      s"SELECT $r AS merge_no, a AS lhs, b AS rhs, a || b AS merged, cnt AS pair_cnt FROM win$r")
      .mkString("\nUNION ALL\n")
    s"$bpeBytesCtes\n$out\nORDER BY merge_no"
  }

  private lazy val bpeBytesEncodeSql: String =
    s"""$bpeBytesCtes
       |SELECT word, freq, octet_length(encode(word)) AS n_bytes,
       |  CAST(count(*) AS BIGINT) AS n_sub
       |FROM s$BpeMergeRounds GROUP BY word, freq ORDER BY word""".stripMargin

  /** Shared CTE chain: tokenize → word freq → char state s0 → one
    * (pair count, winner, application) block per round up to
    * s&#36;BpeMergeRounds. Both BPE oracles select from it. */
  private lazy val bpeCtes: String = {
    val head =
      s"""WITH tok AS (
        |  SELECT unnest(${Tokenizers.Letters.sql}) AS word FROM documents),
        |wf AS (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY word),
        |s0 AS (
        |  SELECT word, freq, i AS pos, substring(word, i, 1) AS sym
        |  FROM wf, unnest(range(1, length(word) + 1)) AS r(i))""".stripMargin
    head + (1 to BpeMergeRounds).map(bpeRoundSql).mkString
  }

  private lazy val bpeSql: String = {
    val out = (1 to BpeMergeRounds).map(r =>
      s"SELECT $r AS merge_no, a AS lhs, b AS rhs, a || b AS merged, cnt AS pair_cnt FROM win$r")
      .mkString("\nUNION ALL\n")
    s"$bpeCtes\n$out\nORDER BY merge_no"
  }

  private lazy val bpeEncodeSql: String =
    s"""$bpeCtes
       |SELECT word, freq, length(word) AS n_chars,
       |  CAST(count(*) AS BIGINT) AS n_sub
       |FROM s$BpeMergeRounds GROUP BY word, freq ORDER BY word""".stripMargin

  private lazy val bpeDocTokensSql: String =
    s"""$bpeCtes,
       |nsub AS (SELECT word, CAST(count(*) AS BIGINT) AS n_sub
       |  FROM s$BpeMergeRounds GROUP BY word),
       |dtok AS (
       |  SELECT doc_id, unnest(${Tokenizers.Letters.sql}) AS word FROM documents),
       |docw AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS n_occ
       |  FROM dtok GROUP BY 1, 2)
       |SELECT doc_id,
       |  CAST(sum(n_occ * n_sub) AS BIGINT) AS bpe_tokens,
       |  CAST(sum(n_occ) AS BIGINT) AS words
       |FROM docw JOIN nsub USING (word)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  private def lexValues: String =
    lexicon.map { case (l, w) => s"('$l','$w')" }.mkString(", ")

  private def enStopList: String = enStop.map(w => s"'$w'").mkString(", ")

  /** Keep gate on the rounded per-doc average NLL (nats/token) —
    * chosen at the synthetic corpus's ~p90 so the filter demonstrably
    * removes a tail; a real deployment tunes this per language, as
    * CCNet does. */
  val PplMaxAvgNll = 3.41

  /** CCNet-style perplexity filtering on a corpus-trained unigram LM
    * (Wenzek et al., public: score each doc under a language model,
    * drop the high-perplexity tail; the LM here is the corpus's own
    * unigram distribution, so no external artifact is needed and
    * every token has mass). Per-doc score = avg over tokens of
    * -ln(cf/N) — emitted as `avg_nll` (nats/token; perplexity is
    * exp(avg_nll), monotone, so gating on either is equivalent).
    *
    * Cross-engine exactness: each DISTINCT token's nll is quantized
    * to 10⁻⁷ fixed point ONCE (round(-ln(p)·10⁷) as int64 — the
    * dimMeans trick), and the per-doc aggregate is an INTEGER
    * sum(tf·nllq), so the fold is order-independent — a float sum
    * over tokens would differ between engines/partitionings.
    *
    * BOUNDARY-PROOF since round 12: IEEE 754 requires sqrt to be
    * correctly rounded but NOT ln, so Spark's Math.log and DuckDB's
    * libm ln can differ in the last ulp, and a (cf, N) ratio landing
    * within ~1 ulp of a ·10⁷ .5 rounding boundary would flip the
    * quantized integer between engines (PipelineSpec crafts such a
    * ratio and shows the flip). The fix is the dimMeans trick one
    * level up: the ln is evaluated by ONE engine, ONCE per distinct
    * cf, when the LM lands ([[lmStore]] writes a sibling
    * `(cf, nllq)` parquet, distinct-cf-sized — no driver collect at
    * any scale), the scoring plan JOINS those integers (zero ln in
    * the distributed plan), and the DuckDB oracle replays the SAME
    * integers as a VALUES literal ([[nllqValuesSql]], stashed when
    * the filter runs, harvested when Verify dumps oracle_sql.json).
    * Which way a boundary token rounds no longer matters — both
    * engines consume one stored integer.
    *
    * Scale shape: the LM lands once per dataset ([[lmStore]] — the
    * train-once/score-many deployment split); each scoring execution
    * is ONE tokenize pass → (doc_id, word) partial-agged tf (one
    * key-bounded shuffle) → word join against the vocab-sized landed
    * LM → broadcast join against the distinct-cf-sized nllq sidecar →
    * one doc_id-keyed integer aggregate. No corpus-sized relation is
    * shuffled twice, and no tokenize head executes twice. */
  /** Session-scoped LANDED unigram LM per dataset dir — (word, cf)
    * parquet, built once (SigStore/ivfStore pattern). Without it the
    * lm/total/score references re-derive the tokenize head up to 5×
    * per execution (plan-measured); with it, LM training pays ONE
    * corpus pass per dataset and every scoring query is one tokenize
    * pass + a vocab-sized store read — the train-once/score-many
    * deployment shape. */
  private[graft] val lmStores = new graft.Landed[String]("graft_lm")

  private def lmRoot(s: SparkSession, d: String): String =
    lmStores.root(d) { out =>
      Tables.documents(s, d)
        .select(explode(Tokenizers.Alnum.column(col("text"))).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cf"))
        .write.mode("overwrite").parquet(out)
      // the (cf -> nllq) integer sidecar: ln evaluated HERE, once per
      // distinct cf, distributedly over the vocab-sized landed LM —
      // every later consumer (Spark plan AND DuckDB oracle) replays
      // these integers instead of re-deriving ln
      val lm = s.read.parquet(out)
      lm.select("cf").distinct()
        .crossJoin(broadcast(lm.agg(sum("cf").as("n"))))
        .select(col("cf"),
          round(-log(col("cf").cast("double") / col("n").cast("double"))
            * 1e7, 0).cast("long").as("nllq"))
        .write.mode("overwrite").parquet(out + "_nllq")
    }

  def lmStore(s: SparkSession, d: String): DataFrame =
    s.read.parquet(lmRoot(s, d))

  /** The landed per-distinct-cf quantized-NLL integers (see the
    * boundary-proofing note on [[perplexityFilter]]). */
  def lmNllqStore(s: SparkSession, d: String): DataFrame =
    s.read.parquet(lmRoot(s, d) + "_nllq")

  /** Lazily-harvested oracle literals: set whenever a perplexity
    * scoring runs, evaluated only when the oracle SQL is dumped (so
    * Bench never pays the collect). Bounded by distinct-cf count —
    * tiny at oracle scales; past the cap the oracle falls back to
    * re-deriving ln (documented, pre-round-12 behavior). */
  private val nllqStash = new java.util.concurrent.atomic.AtomicReference[
    () => Seq[(Long, Long)]](null)
  private val NllqLiteralCap = 100000

  private[graft] def nllqValuesSql: Option[String] =
    Option(nllqStash.get())
      .flatMap(t => scala.util.Try(t()).toOption)
      .filter(rs => rs.nonEmpty && rs.size <= NllqLiteralCap)
      .map(_.sortBy(_._1).map { case (c, q) => s"($c,$q)" }.mkString(", "))

  def perplexityFilter(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val lm = lmStore(s, d)
    val nq = lmNllqStore(s, d)
    nllqStash.set(() =>
      nq.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    // NO pre-scoring spread here (unlike perplexity_bigram): the
    // unigram pass's single-task tokenize is only ~270 ms, and the
    // r20 A/B measured the extra text exchange costing more than it
    // parallelizes (1.19 → 1.81 s) — the spread pays only where the
    // map work dominates (bigram: 840 ms, repetition_stats: 530 ms)
    val dt = docs
      .select(col("doc_id"), explode(Tokenizers.Alnum.column(col("text"))).as("word"))
      .groupBy("doc_id", "word").agg(count(lit(1)).as("tf"))
    val scored = dt.join(lm, "word").join(broadcast(nq), "cf")
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("nllq")).as("sumq"),
        sum("tf").as("n_tokens"))
      .withColumn("avg_nll", round(
        col("sumq").cast("double") / (col("n_tokens").cast("double") * 1e7),
        6))
    docs.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        col("avg_nll"),
        coalesce(col("avg_nll") <= PplMaxAvgNll, lit(false)).as("kept"))
      .transform(Present.sortedUnbounded(_, col("doc_id")))
  }

  /** Bigram-table count cutoff — bigrams below it are PRUNED from the
    * landed table (the KenLM-style cutoff that keeps the table
    * vocab-shaped instead of corpus-shaped), which is also what makes
    * the backoff path non-vacuous on the training corpus itself:
    * singleton bigrams score through the unigram backoff. */
  val MinBigramCount = 2L
  /** Stupid-backoff discount (Brants et al. 2007, public): a pruned
    * bigram backs off to α · cf(w2)/N. */
  val BackoffAlpha = 0.4
  /** Keep gate for the bigram scorer — at this corpus's ~p90 (3.444
    * at both gate scales), like the unigram gate's 3.41. Bigram NLLs
    * run slightly ABOVE unigram here: the 31-word synthetic corpus
    * has near-uniform bigram structure, so context buys little while
    * the backoff discount adds −ln(α) to every pruned event. */
  val BgMaxAvgNll = 3.45

  /** The BIGRAM upgrade of [[perplexityFilter]] — one LM order up the
    * CCNet ladder (their production filter is a 5-gram KenLM; the
    * bigram is the smallest model where CONTEXT matters): each
    * adjacent token pair scores −ln(c(w1 w2)/c(w1)) from the landed
    * pruned bigram table, and pairs pruned below [[MinBigramCount]]
    * back off to −ln([[BackoffAlpha]] · cf(w2)/N) — stupid backoff,
    * the published large-corpus choice precisely because it needs no
    * normalization pass. Per-doc score = avg over the doc's
    * (len − 1) bigram events, emitted as `avg_nll`.
    *
    * Cross-engine exactness is the unigram sidecar discipline one
    * order up: −ln is evaluated ONCE per distinct (c12, c1) count
    * pair (and once per distinct cf for the backoff) when the LM
    * lands, quantized to 10⁻⁷ fixed point; the scoring plan and the
    * DuckDB oracle both consume the stored integers (VALUES literals,
    * harvested at dump time like [[nllqValuesSql]]), so no ln runs in
    * any distributed plan and a last-ulp libm divergence cannot flip
    * a rounding boundary.
    *
    * Scale shape: ONE tokenize pass; adjacency via lead() over a
    * doc_id window (the one corpus shuffle — at 100 TB documents are
    * the partition grain, so this window never crosses machines);
    * per-doc (w1, w2) partial agg; the bigram table is vocab²-bounded
    * post-prune and joins as a dim; the two nllq sidecars broadcast;
    * one final doc_id integer aggregate. */
  def perplexityBigram(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val bg = bgStore(s, d)
    val nb = bgNllqStore(s, d)
    val bo = boNllqStore(s, d)
    val uni = lmStore(s, d)
    bgStash.set(() =>
      nb.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq)
    boStash.set(() =>
      bo.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    // spread the corpus before the per-doc scoring pass: the docs
    // table is one parquet split at bench scale, so tokenize +
    // zip_with + the (doc, w1, w2) partial aggregate otherwise run in
    // ONE scan task (probed: 841 ms of task CPU serialized, the
    // query's dominant stage) — the same decoupling winnow and
    // substring_dedup apply
    val ev = bigramEvents(docs.repartition(
        s.sparkContext.defaultParallelism, col("doc_id")))
      .groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("tf"))
    val scored = ev
      .join(bg, Seq("w1", "w2"), "left")
      .join(broadcast(nb.withColumnRenamed("nllq", "nllq12")),
        Seq("c12", "c1"), "left")
      .join(uni.select(col("word").as("w2"), col("cf").as("cf2")), "w2")
      .join(broadcast(bo.select(col("cf").as("cf2"),
        col("nllq").as("nllqbo"))), Seq("cf2"))
      .withColumn("q", coalesce(col("nllq12"), col("nllqbo")))
      .groupBy("doc_id")
      .agg(sum(col("tf") * col("q")).as("sumq"),
        sum("tf").as("n_bigrams"))
      .withColumn("avg_nll", round(
        col("sumq").cast("double") / (col("n_bigrams").cast("double") * 1e7),
        6))
    docs.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_nll"),
        coalesce(col("avg_nll") <= BgMaxAvgNll, lit(false)).as("kept"))
      .transform(Present.sortedUnbounded(_, col("doc_id")))
  }

  /** Session-scoped landed PRUNED BIGRAM TABLE per dataset —
    * (w1, w2, c12, c1) parquet plus the two quantized-NLL sidecars
    * (the lmRoot pattern one order up). */
  private[graft] val bgStores = new graft.Landed[String]("graft_bglm")

  /** Adjacent-token pairs (doc_id, w1, w2), one row per bigram event —
    * computed MAP-SIDE by zipping the token array against itself
    * shifted by one, replacing the previous lead()-over-(doc_id, pos)
    * window that exchanged and sorted the entire corpus token stream
    * just to look one element ahead inside an array it already held
    * (guide §2.4: the shuffle was never fundamental). Pair order and
    * multiplicity are identical by construction. */
  private[graft] def bigramEvents(docs: DataFrame): DataFrame = {
    val toks = Tokenizers.Alnum.column(col("text"))
    val n1 = greatest(size(toks) - 1, lit(0))
    docs
      .select(col("doc_id"),
        explode(zip_with(slice(toks, lit(1), n1), slice(toks, lit(2), n1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
  }

  private def bgRoot(s: SparkSession, d: String): String =
    bgStores.root(d) { out =>
      val uni = lmStore(s, d)
      bigramEvents(Tables.documents(s, d))
        .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
        .filter(col("c12") >= MinBigramCount)
        .join(uni.select(col("word").as("w1"), col("cf").as("c1")), "w1")
        .write.mode("overwrite").parquet(out)
      // −ln ONCE per distinct (c12, c1), at land time (the dimMeans
      // trick one order up); ditto the backoff's distinct cfs
      s.read.parquet(out).select("c12", "c1").distinct()
        .select(col("c12"), col("c1"),
          round(-log(col("c12").cast("double") / col("c1").cast("double"))
            * 1e7, 0).cast("long").as("nllq"))
        .write.mode("overwrite").parquet(out + "_nllq")
      uni.select("cf").distinct()
        .crossJoin(broadcast(uni.agg(sum("cf").as("n"))))
        .select(col("cf"),
          round(-log(lit(BackoffAlpha) * col("cf").cast("double")
            / col("n").cast("double")) * 1e7, 0).cast("long").as("nllq"))
        .write.mode("overwrite").parquet(out + "_bo")
    }

  def bgStore(s: SparkSession, d: String): DataFrame =
    s.read.parquet(bgRoot(s, d))
  /** Landed (c12, c1) → quantized-NLL integers. */
  def bgNllqStore(s: SparkSession, d: String): DataFrame =
    s.read.parquet(bgRoot(s, d) + "_nllq")
  /** Landed backoff cf → quantized-NLL integers (α folded in). */
  def boNllqStore(s: SparkSession, d: String): DataFrame =
    s.read.parquet(bgRoot(s, d) + "_bo")

  private val bgStash = new java.util.concurrent.atomic.AtomicReference[
    () => Seq[(Long, Long, Long)]](null)
  private val boStash = new java.util.concurrent.atomic.AtomicReference[
    () => Seq[(Long, Long)]](null)

  private[graft] def bgValuesSql: Option[String] =
    Option(bgStash.get())
      .flatMap(t => scala.util.Try(t()).toOption)
      .filter(rs => rs.nonEmpty && rs.size <= NllqLiteralCap)
      .map(_.sorted.map { case (a, b, q) => s"($a,$b,$q)" }.mkString(", "))
  private[graft] def boValuesSql: Option[String] =
    Option(boStash.get())
      .flatMap(t => scala.util.Try(t()).toOption)
      .filter(rs => rs.nonEmpty && rs.size <= NllqLiteralCap)
      .map(_.sorted.map { case (c, q) => s"($c,$q)" }.mkString(", "))

  /** Corpus trigram counts through the native [[graft.functions
    * .NGramsGen]] GENERATOR (the UDTF rung): the expansion streams
    * through the same `GenerateExec` as the built-in explode — one
    * narrow per-partition pass, no materialized n-gram relation —
    * and the only shuffle is the count's key exchange. The cnt >= 5
    * filter bounds output to frequent trigrams (ngram_counts'
    * convention one n higher). */
  def ngramsUdtf(s: SparkSession, d: String): DataFrame = {
    graft.functions.GraftFunctions.ensureRegistered(s)
    Tables.documents(s, d)
      .select(expr("graft_ngrams(text, 3)"))
      .groupBy("ngram").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 5)
      .transform(Present.sortedUnbounded(_, col("ngram")))
  }

  // ---------------------------------------------------------------- //
  // quality_train: the engine TRAINS the quality filter, not just
  // applies one — distributed full-batch perceptron over integer
  // quality features.
  // ---------------------------------------------------------------- //

  /** Feature quantization scale: every feature lives in [0, 1000]
    * permil so the margin arithmetic is exact 64-bit integer math —
    * the same no-floats discipline as pagerank's ppb ranks (float
    * gradient sums depend on partition order and cannot hash-gate
    * across engines). */
  val QcMaxLen = 2000
  /** Held-out split: doc_id % QcHoldEvery == 0 never trains; the eval
    * rung scores exactly that slice. */
  val QcHoldEvery = 7
  /** Fixed epoch count — the trajectory is the output contract.
    * Measured: train violations decay 428 → ~38 (of 428) by epoch 30
    * at sf0.01 and plateau there; epoch 40 adds nothing. */
  val QcIters = 30
  /** Hidden-rule threshold (2·stop + ttr, permil): the corpus median,
    * so the stand-in classes balance ~50/50. */
  val QcLabelThresh = 590
  /** Fixed centering constants (approximate corpus feature means,
    * permil — PUBLIC constants, not data-derived, so feature building
    * stays a single static pass). Centering is what makes batch
    * updates converge here: uncentered, the epoch-1 gradient is
    * ~the mean feature vector, which dwarfs the class signal and
    * locks the iteration into a period-2 all-positive/all-negative
    * limit cycle (measured: n_viol oscillating 209/219 forever). */
  val QcCenter: Array[Long] = Array(150L, 60L, 500L)
  /** Update gain: w += (QcGain·g) div (n_viol·t). The 1/t schedule
    * damps the batch overshoot; the gain keeps small-magnitude
    * components (w_stop) from truncating to zero under integer
    * division. g div n_viol is an AVERAGE over violators, so the step
    * is corpus-size-invariant — the same schedule works unchanged at
    * sf0.001 and at 100 TB. */
  val QcGain = 4

  final case class QcIterRow(iter: Int, n_viol: Long, w_len: Long,
                             w_stop: Long, w_ttr: Long, w_bias: Long)

  private val qcFeatPaths = new graft.Landed[String]("graft_qc")
  private val qcTrajCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[QcIterRow]]()

  /** Integer quality features + label, landed to scratch parquet once
    * per dataset (SigStore's derivation discipline): the corpus
    * tokenize runs once, and every training epoch / eval pass reads a
    * ~40-bytes-per-doc columnar relation instead. Label: a REALIZABLE
    * stand-in concept — a hidden linear rule on the doc's RAW
    * stopword/type counts (2000·n_stop + 1000·n_types > 590·n_tokens,
    * integer-exact, threshold at the corpus median so classes
    * balance). The model sees only the TRUNCATED permil features, so
    * the concept is near- but not exactly-realizable — training has
    * to genuinely find the separating hyperplane (w_stop:w_ttr:w_bias
    * ∝ 200:100:−59) through a noise feature (f_len) and quantization
    * jitter. In a production pipeline the label column is simply the
    * human/LLM quality annotation; everything else in the rung is
    * unchanged by that substitution. (The synthetic corpus's `lang`
    * column was measured uncorrelated with its text — stop-ratio 60.0
    * vs 63.6 permil across classes — so a "predict lang" label would
    * gate nothing but chance.) */
  private def qcFeaturesBuilt(s: SparkSession, d: String): DataFrame =
    qcFeaturize(Tables.documents(s, d))

  /** The feature/label pipeline over ANY (doc_id, text) frame — all
    * narrow column ops, so it applies unchanged to a STREAMING frame
    * (quality_filter_stream featurizes arriving docs inline; the
    * landed store is the batch corpus's amortization, not a
    * dependency). */
  private[graft] def qcFeaturize(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        Tokenizers.Alnum.column(col("text")).as("toks"))
      // raw counts once per row: Spark does not reliably CSE
      // higher-order-function calls across select expressions, and the
      // stopword filter / distinct would otherwise run twice each per
      // document (label + feature) in the one corpus-sized pass
      .selectExpr("doc_id", "text",
        "size(toks) AS n_tok",
        s"size(filter(toks, t -> t IN ($enStopList))) AS n_stop",
        "size(array_distinct(toks)) AS n_types")
      .selectExpr(
        "doc_id",
        s"CAST(CASE WHEN 2000 * n_stop + 1000 * n_types > $QcLabelThresh * n_tok THEN 1 ELSE -1 END AS BIGINT) AS y",
        s"doc_id % $QcHoldEvery <> 0 AS is_train",
        s"CAST(least(length(text), $QcMaxLen) AS BIGINT) * 1000 div $QcMaxLen - ${QcCenter(0)} AS f_len",
        s"(CASE WHEN n_tok = 0 THEN CAST(0 AS BIGINT) ELSE CAST(n_stop AS BIGINT) * 1000 div n_tok END) - ${QcCenter(1)} AS f_stop",
        s"(CASE WHEN n_tok = 0 THEN CAST(0 AS BIGINT) ELSE CAST(n_types AS BIGINT) * 1000 div n_tok END) - ${QcCenter(2)} AS f_ttr",
        "CAST(1000 AS BIGINT) AS f_bias")

  private[graft] def qcFeatures(s: SparkSession, d: String): DataFrame =
    s.read.parquet(qcFeatPaths.root(d)(
      qcFeaturesBuilt(s, d).write.mode("overwrite").parquet(_)))

  /** Full-batch averaged-perceptron training, integer-exact. Each
    * epoch is ONE distributed pass over the landed feature relation:
    * rows violating the margin (y·(w·x) ≤ 0 under the previous
    * weights) contribute y·x to a 4-component gradient, summed with
    * map-side partial aggregation — the exact treeAggregate shape
    * MLlib's LogisticRegression uses, which is why this scales to
    * 100 TB: per-epoch driver traffic is 5 longs per partition, the
    * driver holds only the d-dimensional update (B by construction;
    * this is the one collect in the family and it is bounded by the
    * feature arity, never the corpus). The update w += g div n_viol
    * is truncating integer division — identical semantics in Spark
    * (`div`), Scala (`Long./`), and DuckDB (`//`), so the whole
    * [[QcIters]]-epoch trajectory hash-gates. Weights cache per
    * dataset: the eval rung reuses the trained model instead of
    * re-training. */
  private[graft] def qcTrajectory(s: SparkSession, d: String): Seq[QcIterRow] =
    qcTrajCache.computeIfAbsent(d, _ => qcTrainLoop(s, d))

  /** The epoch-loop CORE over any feature slice, warm-startable: runs
    * epochs `from..to` with GLOBAL step damping (the divisor is the
    * absolute epoch index, so a continued run takes the small
    * fine-tuning steps a 1/t schedule prescribes, not a restart's
    * large ones). Returns (per-epoch rows, final weights). */
  private def qcLoopRange(feats: DataFrame, w0: Array[Long],
                          from: Int, to: Int): (Seq[QcIterRow], Array[Long]) = {
      var w = w0.clone()
      val rows = Seq.newBuilder[QcIterRow]
      for (t <- from to to) {
        val margin = expr(
          s"y * ((${w(0)}L) * f_len + (${w(1)}L) * f_stop + " +
            s"(${w(2)}L) * f_ttr + (${w(3)}L) * f_bias)")
        val g = feats.filter(margin <= 0)
          .agg(count(lit(1)).as("nv"),
            coalesce(sum(expr("y * f_len")), lit(0L)).as("gl"),
            coalesce(sum(expr("y * f_stop")), lit(0L)).as("gs"),
            coalesce(sum(expr("y * f_ttr")), lit(0L)).as("gt"),
            coalesce(sum(expr("y * f_bias")), lit(0L)).as("gb"))
          .collect()(0) // 1 row × 5 longs — bounded by feature arity
        val nv = g.getLong(0)
        if (nv > 0) {
          val d = nv * t // 1/t-damped averaged step (see QcGain)
          w = Array(
            w(0) + QcGain * g.getLong(1) / d, w(1) + QcGain * g.getLong(2) / d,
            w(2) + QcGain * g.getLong(3) / d, w(3) + QcGain * g.getLong(4) / d)
        }
        rows += QcIterRow(t, nv, w(0), w(1), w(2), w(3))
      }
      (rows.result(), w)
  }

  /** The uncached epoch loop (the memoizing wrapper above is the
    * query path). */
  private def qcTrainLoop(s: SparkSession, d: String): Seq[QcIterRow] =
    qcLoopRange(qcFeatures(s, d).filter(col("is_train")),
      Array(0L, 0L, 0L, 0L), 1, QcIters)._1

  /** Uncached DataFrame form of the loop — a genuinely fresh re-run
    * that PipelineSpec compares the memoized query against (the
    * 1–200× training ladder is in SCALE.md §"In-engine classifier
    * training"). */
  private[graft] def qualityTrainFresh(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    qcTrainLoop(s, d).toDF()
  }

  /** The training trajectory as a relation: one row per epoch with
    * the violation count under the incoming weights and the updated
    * weight vector — gating the whole optimization path, not just the
    * final model. */
  def qualityTrain(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    qcTrajectory(s, d).toDF()
      .transform(Present.sortedUnbounded(_, col("iter")))
  }

  /** Arriving-batch slice for the incremental rung: docs with
    * doc_id % QcBatchEvery == 0 (disjoint from nothing — it overlaps
    * the train/eval split orthogonally; the BASE model trains on
    * train-minus-batch, the continued model on all of train). */
  val QcBatchEvery = 11
  /** Continued-training epochs after warm start. */
  val QcIncrEpochs = 5

  private val qcIncrCache =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[QcIterRow]]()

  /** Continual training — the `_incremental` verb the other artifact
    * families carry (bm25/semdedup/ann/shard_manifest), applied to
    * the MODEL: when a batch arrives, the production pipeline does
    * not retrain from scratch — it warm-starts from the landed
    * weights and fine-tunes a few epochs over base ∪ batch. Here the
    * base model trains [[QcIters]] epochs on train-minus-batch, then
    * continues [[QcIncrEpochs]] epochs (global epoch indices
    * [[QcIters]]+1.., so the 1/t schedule keeps prescribing
    * fine-tuning-sized steps) on the full train slice. Output = the
    * continued epochs' rows; the warm-start receipt is epoch 31's
    * violation count — a small fraction of the train slice, where a
    * cold start violates ALL of it (the spec pins both). Cost:
    * QcIncrEpochs extra passes — never a from-scratch retrain. */
  private[graft] def qcIncrTrajectory(s: SparkSession, d: String): Seq[QcIterRow] =
    qcIncrCache.computeIfAbsent(d, _ => {
      val feats = qcFeatures(s, d)
      val base = feats.filter(
        col("is_train") && col("doc_id") % QcBatchEvery =!= 0)
      val (_, wBase) = qcLoopRange(base, Array(0L, 0L, 0L, 0L), 1, QcIters)
      qcLoopRange(feats.filter(col("is_train")), wBase,
        QcIters + 1, QcIters + QcIncrEpochs)._1
    })

  def qualityTrainIncremental(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    qcIncrTrajectory(s, d).toDF()
      .transform(Present.sortedUnbounded(_, col("iter")))
  }

  /** The APPLY step — what training exists for: score EVERY doc with
    * the final weights and emit the keep/drop decision. The weights
    * ride the plan as literals, so this is one narrow map-only pass
    * over the landed feature relation (no join, no broadcast, no
    * shuffle but the presentation sort) — at 100 TB the filter prices
    * as a columnar scan, exactly like the hand-thresholded
    * text_quality filters it upgrades. */
  /** w·x with the weights as plan literals — shared by the eval,
    * batch-apply, and streaming-apply rungs so the decision rule
    * cannot drift between them. */
  private[graft] def qcScore(w: QcIterRow): org.apache.spark.sql.Column = expr(
    s"(${w.w_len}L) * f_len + (${w.w_stop}L) * f_stop + " +
      s"(${w.w_ttr}L) * f_ttr + (${w.w_bias}L) * f_bias")

  def qualityFilterTrained(s: SparkSession, d: String): DataFrame = {
    val score = qcScore(qcTrajectory(s, d).last)
    qcFeatures(s, d)
      .select(col("doc_id"), score.as("score"), (score > 0).as("keep"))
      .transform(Present.sortedUnbounded(_, col("doc_id")))
  }

  /** Held-out confusion matrix of the trained model: one distributed
    * aggregation over the eval slice (docs the training loop never
    * saw), scored with the final weights as literals. */
  def qualityTrainEval(s: SparkSession, d: String): DataFrame = {
    val score = qcScore(qcTrajectory(s, d).last)
    qcFeatures(s, d).filter(!col("is_train"))
      .select(col("y"), (score > 0).as("pos"))
      .agg(
        count(lit(1)).as("n_eval"),
        sum(when(col("y") === 1 && col("pos"), 1L).otherwise(0L)).as("tp"),
        sum(when(col("y") === -1 && col("pos"), 1L).otherwise(0L)).as("fp"),
        sum(when(col("y") === -1 && !col("pos"), 1L).otherwise(0L)).as("tn"),
        sum(when(col("y") === 1 && !col("pos"), 1L).otherwise(0L)).as("fn"))
      .selectExpr("n_eval", "tp", "fp", "tn", "fn",
        "(tp + tn) * 1000000 div greatest(n_eval, 1) AS accuracy_ppm")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ngrams_udtf"  -> ngramsUdtf _,
    "quality_train" -> qualityTrain _,
    "quality_train_eval" -> qualityTrainEval _,
    "quality_train_incremental" -> qualityTrainIncremental _,
    "quality_filter_trained" -> qualityFilterTrained _,
    "perplexity_filter" -> perplexityFilter _,
    "perplexity_bigram" -> perplexityBigram _,
    "lang_id"      -> langId _,
    "text_quality" -> textQuality _,
    "repetition_stats" -> repetitionStats _,
    "token_counts" -> tokenCounts _,
    "heavy_hitters" -> ((s: SparkSession, d: String) => heavyHitters(s, d)),
    "cms_heavy_hitters" -> cmsHeavyHitters _,
    "fingerprint"  -> fingerprint _,
    "winnow_fingerprints" -> winnowFingerprints _,
    "tfidf"        -> tfidf _,
    "vocab_build"  -> vocabBuild _,
    "bpe_merges"   -> bpeMerges _,
    "bpe_encode"   -> bpeEncode _,
    "bpe_doc_tokens" -> bpeDocTokens _,
    "bpe_bytes_merges" -> bpeBytesMerges _,
    "bpe_bytes_encode" -> bpeBytesEncode _,
  )

  /** Oracle fragments for the quantized-NLL sum, shared with
    * PipelineOps' corpus_build_full replay: (extra CTE, join clause,
    * per-token integer expression). Literal-replay form when the
    * landed sidecar has been stashed by a run of the filter (the
    * boundary-proof path — see [[perplexityFilter]]); ln-rederiving
    * form only as the documented past-the-cap fallback. */
  private[graft] def nllqOracleParts: (String, String, String) =
    nllqValuesSql match {
      case Some(vals) =>
        (s"nq(cf, nllq) AS (VALUES $vals)",
          "JOIN nq ON lm.cf = nq.cf",
          "nq.nllq")
      case None =>
        ("tot AS (SELECT sum(cf)::BIGINT AS n FROM lm)",
          "CROSS JOIN tot",
          "round(-ln(lm.cf::DOUBLE / tot.n::DOUBLE) * 10000000)::BIGINT")
    }

  /** Feature CTEs shared by both quality_train oracles — the exact
    * twin of [[qcFeaturesBuilt]] (same tokenize regex, same permil
    * quantization, `//` = Spark's truncating `div`, verified for
    * negatives). MATERIALIZED is load-bearing: the epoch chain scans
    * `f` $QcIters times, and DuckDB otherwise inlines the CTE into
    * that many parquet re-opens — which trips the process fd limit
    * (observed: "Too many open files" at 30 epochs). It is also the
    * oracle-side twin of the engine landing the feature relation
    * once. */
  private def qcFeatSql: String =
    s"""t AS MATERIALIZED (
       |  SELECT doc_id, length(text) AS n_chars,
       |    ${Tokenizers.Alnum.sql} AS toks
       |  FROM documents),
       |f AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(CASE WHEN 2000 * len(list_filter(toks, x -> x IN ($enStopList)))
       |      + 1000 * len(list_distinct(toks)) > $QcLabelThresh * len(toks)
       |      THEN 1 ELSE -1 END AS BIGINT) AS y,
       |    doc_id % $QcHoldEvery <> 0 AS is_train,
       |    CAST(least(n_chars, $QcMaxLen) * 1000 // $QcMaxLen - ${QcCenter(0)} AS BIGINT) AS f_len,
       |    CAST((CASE WHEN len(toks) = 0 THEN 0
       |      ELSE len(list_filter(toks, x -> x IN ($enStopList))) * 1000 // len(toks) END) - ${QcCenter(1)} AS BIGINT) AS f_stop,
       |    CAST((CASE WHEN len(toks) = 0 THEN 0
       |      ELSE len(list_distinct(toks)) * 1000 // len(toks) END) - ${QcCenter(2)} AS BIGINT) AS f_ttr,
       |    CAST(1000 AS BIGINT) AS f_bias
       |  FROM t)""".stripMargin

  /** The epoch chain unrolled: w0 → (g1, w1) → … — each gT aggregates
    * the margin violators under w(T-1), each wT applies the averaged
    * integer update. CAST the sums: DuckDB sums BIGINTs into HUGEINT,
    * and the gate compares values at BIGINT grain. Every link is
    * MATERIALIZED (they are 1-row relations): wT is referenced twice
    * per level (by g(T+1) and w(T+1)), so DuckDB's default CTE
    * inlining expands the chain 2^epochs times — the un-hinted form
    * never finishes at 30 epochs. */
  /** A zero-weights CTE named `name`. */
  private def qcZeroW(name: String): String =
    s"$name AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS wl, CAST(0 AS BIGINT) AS ws, " +
      "CAST(0 AS BIGINT) AS wt, CAST(0 AS BIGINT) AS wb)"

  /** Epoch links `${prefix}g$t`/`${prefix}w$t` for epochs from..to,
    * training on `f` rows satisfying `pred`, chained from the weight
    * CTE `init` — the oracle twin of [[qcLoopRange]] (global epoch
    * index in the damping divisor, so warm-started chains fine-tune). */
  private def qcChainLinks(prefix: String, pred: String,
                           from: Int, to: Int, init: String): String = {
    val sb = new StringBuilder
    var prev = init
    for (t <- from to to) {
      sb.append(s""",
         |${prefix}g$t AS MATERIALIZED (SELECT count(*) AS nv,
         |  CAST(coalesce(sum(y * f_len), 0) AS BIGINT) AS gl,
         |  CAST(coalesce(sum(y * f_stop), 0) AS BIGINT) AS gs,
         |  CAST(coalesce(sum(y * f_ttr), 0) AS BIGINT) AS gt,
         |  CAST(coalesce(sum(y * f_bias), 0) AS BIGINT) AS gb
         |  FROM f, $prev
         |  WHERE $pred AND y * (wl * f_len + ws * f_stop + wt * f_ttr + wb * f_bias) <= 0),
         |${prefix}w$t AS MATERIALIZED (SELECT
         |  CASE WHEN nv = 0 THEN wl ELSE wl + ($QcGain * gl) // (nv * $t) END AS wl,
         |  CASE WHEN nv = 0 THEN ws ELSE ws + ($QcGain * gs) // (nv * $t) END AS ws,
         |  CASE WHEN nv = 0 THEN wt ELSE wt + ($QcGain * gt) // (nv * $t) END AS wt,
         |  CASE WHEN nv = 0 THEN wb ELSE wb + ($QcGain * gb) // (nv * $t) END AS wb
         |  FROM $prev, ${prefix}g$t)""".stripMargin)
      prev = s"${prefix}w$t"
    }
    sb.toString
  }

  private def qcIterCtes: String =
    qcZeroW("w0") + qcChainLinks("", "is_train", 1, QcIters, "w0")

  private def qcTrainSql: String = {
    val arms = (1 to QcIters).map(t =>
      s"SELECT $t AS iter, g$t.nv AS n_viol, w$t.wl AS w_len, " +
        s"w$t.ws AS w_stop, w$t.wt AS w_ttr, w$t.wb AS w_bias " +
        s"FROM g$t, w$t").mkString("\n  UNION ALL ")
    s"""WITH $qcFeatSql,
       |$qcIterCtes
       |SELECT * FROM (
       |  $arms
       |) ORDER BY iter""".stripMargin
  }

  private def qcIncrSql: String = {
    val basePred = s"is_train AND doc_id % $QcBatchEvery <> 0"
    val arms = (QcIters + 1 to QcIters + QcIncrEpochs).map(t =>
      s"SELECT $t AS iter, cg$t.nv AS n_viol, cw$t.wl AS w_len, " +
        s"cw$t.ws AS w_stop, cw$t.wt AS w_ttr, cw$t.wb AS w_bias " +
        s"FROM cg$t, cw$t").mkString("\n  UNION ALL ")
    s"""WITH $qcFeatSql,
       |${qcZeroW("bw0")}${qcChainLinks("b", basePred, 1, QcIters, "bw0")}${
         qcChainLinks("c", "is_train",
           QcIters + 1, QcIters + QcIncrEpochs, s"bw$QcIters")}
       |SELECT * FROM (
       |  $arms
       |) ORDER BY iter""".stripMargin
  }

  // private[graft]: quality_filter_stream's oracle IS this SQL — one
  // decision rule, one oracle, two execution modes
  private[graft] def qcFilterSql: String =
    s"""WITH $qcFeatSql,
       |$qcIterCtes
       |SELECT doc_id,
       |  wl * f_len + ws * f_stop + wt * f_ttr + wb * f_bias AS score,
       |  (wl * f_len + ws * f_stop + wt * f_ttr + wb * f_bias) > 0 AS keep
       |FROM f, w$QcIters ORDER BY doc_id""".stripMargin

  private def qcEvalSql: String =
    s"""WITH $qcFeatSql,
       |$qcIterCtes,
       |e AS (
       |  SELECT y, (wl * f_len + ws * f_stop + wt * f_ttr + wb * f_bias) > 0 AS pos
       |  FROM f, w$QcIters WHERE NOT is_train)
       |SELECT n_eval, tp, fp, tn, fn,
       |  (tp + tn) * 1000000 // greatest(n_eval, 1) AS accuracy_ppm
       |FROM (
       |  SELECT count(*) AS n_eval,
       |    CAST(sum(CASE WHEN y = 1 AND pos THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |    CAST(sum(CASE WHEN y = -1 AND pos THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |    CAST(sum(CASE WHEN y = -1 AND NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS tn,
       |    CAST(sum(CASE WHEN y = 1 AND NOT pos THEN 1 ELSE 0 END) AS BIGINT) AS fn
       |  FROM e)""".stripMargin

  // a def, not a val: the perplexity entry embeds the landed nllq
  // integers harvested at dump time (Verify runs every query BEFORE
  // dumping oracle_sql.json, so the stash is always set by then)
  def oracle: Map[String, String] = Map(
    "quality_train" -> qcTrainSql,
    "quality_train_eval" -> qcEvalSql,
    "quality_train_incremental" -> qcIncrSql,
    "quality_filter_trained" -> qcFilterSql,
    // the generator's tokenize + slide replayed with the established
    // regex twin; 1-based list indexing, i up to len-2
    "ngrams_udtf" ->
      s"""WITH toks AS (
        |  SELECT ${Tokenizers.Alnum.sql} AS t
        |  FROM documents),
        |tri AS (
        |  SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS ngram
        |  FROM toks, unnest(range(1, len(t) - 1)) AS r(i)
        |  WHERE len(t) >= 3)
        |SELECT ngram, count(*)::BIGINT AS cnt FROM tri
        |GROUP BY 1 HAVING count(*) >= 5 ORDER BY ngram""".stripMargin,
    // per-distinct-token nll replayed from the LANDED integer sidecar
    // (boundary-proof — no ln on this engine), per-doc INTEGER
    // sum(tf*nllq) — order-free; DuckDB sum widens to HUGEINT, cast
    // back before the float division
    "perplexity_filter" -> {
      val (nqCte, nqJoin, nqExpr) = nllqOracleParts
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(${Tokenizers.Alnum.sql}) AS word
         |  FROM documents),
         |dt AS (SELECT doc_id, word, count(*) AS tf FROM toks GROUP BY 1, 2),
         |lm AS (SELECT word, sum(tf)::BIGINT AS cf FROM dt GROUP BY 1),
         |$nqCte,
         |sc AS (
         |  SELECT dt.doc_id,
         |    sum(dt.tf * $nqExpr)::BIGINT AS sumq,
         |    sum(dt.tf)::BIGINT AS n_tokens
         |  FROM dt JOIN lm USING (word) $nqJoin
         |  GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(sc.n_tokens, 0) AS n_tokens,
         |  round(sc.sumq::DOUBLE / (sc.n_tokens::DOUBLE * 10000000.0), 6)
         |    AS avg_nll,
         |  coalesce(round(sc.sumq::DOUBLE
         |    / (sc.n_tokens::DOUBLE * 10000000.0), 6) <= $PplMaxAvgNll,
         |    FALSE) AS kept
         |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },
    // bigram stupid-backoff replay: counts recomputed in SQL, the
    // −ln integers consumed from the landed sidecars as VALUES
    // literals (one order up from perplexity_filter's boundary-proof
    // path; same ln-rederiving fallback past the literal cap)
    "perplexity_bigram" -> {
      val (nbCte, nbJoin, nbExpr) = bgValuesSql match {
        case Some(v) => (s"nb(c12, c1, q) AS (VALUES $v),",
          "LEFT JOIN nb ON nb.c12 = bg.c12 AND nb.c1 = bg.c1", "nb.q")
        case None => ("",
          "", "round(-ln(bg.c12::DOUBLE / bg.c1::DOUBLE) " +
            "* 10000000)::BIGINT")
      }
      val (boCte, boJoin, boExpr) = boValuesSql match {
        case Some(v) => (s"bo(cf, q) AS (VALUES $v),",
          "LEFT JOIN bo ON bo.cf = u2.cf", "bo.q")
        case None => ("",
          "", s"round(-ln($BackoffAlpha * u2.cf::DOUBLE / tot.n::DOUBLE) " +
            "* 10000000)::BIGINT")
      }
      s"""WITH toks AS (
         |  SELECT doc_id, ${Tokenizers.Alnum.sql} AS t
         |  FROM documents),
         |allw AS (SELECT doc_id, unnest(t) AS word FROM toks),
         |lmw AS (SELECT word, count(*)::BIGINT AS cf FROM allw GROUP BY 1),
         |tot AS (SELECT sum(cf)::BIGINT AS n FROM lmw),
         |ev AS (
         |  SELECT doc_id, t[i] AS w1, t[i+1] AS w2
         |  FROM toks, unnest(range(1, len(t))) AS r(i)
         |  WHERE len(t) >= 2),
         |det AS (SELECT doc_id, w1, w2, count(*)::BIGINT AS tf
         |        FROM ev GROUP BY 1, 2, 3),
         |bgc AS (SELECT w1, w2, count(*)::BIGINT AS c12
         |        FROM ev GROUP BY 1, 2),
         |bg AS (SELECT b.w1, b.w2, b.c12, u.cf AS c1
         |       FROM bgc b JOIN lmw u ON u.word = b.w1
         |       WHERE b.c12 >= $MinBigramCount),
         |$nbCte
         |$boCte
         |sc AS (
         |  SELECT e.doc_id,
         |    sum(e.tf * coalesce($nbExpr, $boExpr))::BIGINT AS sumq,
         |    sum(e.tf)::BIGINT AS n_bigrams
         |  FROM det e
         |  LEFT JOIN bg ON bg.w1 = e.w1 AND bg.w2 = e.w2
         |  $nbJoin
         |  JOIN lmw u2 ON u2.word = e.w2
         |  $boJoin
         |  CROSS JOIN tot
         |  GROUP BY 1)
         |SELECT d.doc_id,
         |  coalesce(sc.n_bigrams, 0) AS n_bigrams,
         |  round(sc.sumq::DOUBLE / (sc.n_bigrams::DOUBLE * 10000000.0), 6)
         |    AS avg_nll,
         |  coalesce(round(sc.sumq::DOUBLE
         |    / (sc.n_bigrams::DOUBLE * 10000000.0), 6) <= $BgMaxAvgNll,
         |    FALSE) AS kept
         |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
         |ORDER BY d.doc_id""".stripMargin
    },
    // the merge sequence replayed round by round: same pair counts,
    // same (cnt desc, lhs, rhs) winner, same greedy-parity application
    "bpe_merges" -> bpeSql,
    "bpe_bytes_merges" -> bpeBytesSql,
    "bpe_bytes_encode" -> bpeBytesEncodeSql,
    // the same unrolled rounds, aggregated over the FINAL symbol
    // state instead of the winner rows
    "bpe_encode" -> bpeEncodeSql,
    "bpe_doc_tokens" -> bpeDocTokensSql,
    // same rank order (cnt desc, word) and integer cumsum; DuckDB's
    // sum(BIGINT) widens to HUGEINT, so both totals are CAST back
    "vocab_build" ->
      s"""WITH tok AS (
         |  SELECT unnest(${Tokenizers.Letters.sql}) AS word FROM documents),
         |counts AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word),
         |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM counts),
         |ranked AS (
         |  SELECT word, cnt,
         |    row_number() OVER (ORDER BY cnt DESC, word) AS rank,
         |    CAST(coalesce(sum(cnt) OVER (ORDER BY cnt DESC, word
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_before
         |  FROM counts WHERE cnt >= $VocabMinCount)
         |SELECT word, cnt, rank,
         |  round((cum_before + cnt)::DOUBLE / total, 6) AS coverage
         |FROM ranked, tot
         |WHERE cum_before < total * $VocabCoverage
         |ORDER BY rank""".stripMargin,
    "repetition_stats" ->
      s"""WITH lines AS (
        |  SELECT doc_id,
        |    list_filter(string_split(text, chr(10)), x -> trim(x) <> '') AS ls
        |  FROM documents),
        |toks AS (
        |  SELECT doc_id,
        |    ${Tokenizers.Letters.sql} AS t
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, array_to_string(t[i:i+1], ' ') AS bigram
        |  FROM toks, unnest(range(1, greatest(len(t), 1))) AS r(i)),
        |bg AS (
        |  SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id, bigram),
        |bgs AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
        |    round(max(c)::DOUBLE / sum(c), 6) AS top_bigram_ratio
        |  FROM bg GROUP BY doc_id)
        |SELECT l.doc_id,
        |  len(ls) AS n_lines,
        |  CASE WHEN len(ls) = 0 THEN 0.0
        |    ELSE round(1 - len(list_distinct(ls))::DOUBLE / len(ls), 6)
        |  END AS dup_line_ratio,
        |  coalesce(n_bigrams, 0) AS n_bigrams,
        |  coalesce(top_bigram_ratio, 0.0) AS top_bigram_ratio
        |FROM lines l LEFT JOIN bgs USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "lang_id" ->
      s"""WITH lex(lex_lang, lex_word) AS (VALUES $lexValues),
         |tok AS (
         |  SELECT doc_id, unnest(${Tokenizers.Letters.sql}) AS word FROM documents),
         |scores AS (
         |  SELECT doc_id, lex_lang, count(*) AS score
         |  FROM tok JOIN lex ON word = lex_word
         |  GROUP BY doc_id, lex_lang),
         |best AS (
         |  SELECT doc_id, lex_lang, score,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, lex_lang) AS rn
         |  FROM scores)
         |SELECT d.doc_id,
         |  coalesce(b.lex_lang, 'unknown') AS lang_pred,
         |  coalesce(b.score, 0) AS score
         |FROM documents d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
         |  ON d.doc_id = b.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "heavy_hitters" ->
      s"""WITH toks AS (
         |  SELECT unnest(${Tokenizers.Alnum.sql}) AS word
         |  FROM documents),
         |exact AS (SELECT word, count(*) AS cnt FROM toks GROUP BY 1),
         |tot AS (SELECT sum(cnt) AS n FROM exact)
         |SELECT word, cnt, TRUE AS sketch_ok
         |FROM exact, tot
         |WHERE cnt * $HhK > n
         |ORDER BY word""".stripMargin,
    "cms_heavy_hitters" ->
      s"""WITH toks AS (
         |  SELECT unnest(${Tokenizers.Alnum.sql}) AS word
         |  FROM documents),
         |exact AS (SELECT word, count(*) AS cnt FROM toks GROUP BY 1),
         |tot AS (SELECT sum(cnt) AS n FROM exact)
         |SELECT word, cnt, TRUE AS cms_ok
         |FROM exact, tot
         |WHERE cnt * $HhK > n
         |ORDER BY word""".stripMargin,
    "text_quality" ->
      s"""WITH t AS (
         |  SELECT doc_id, text,
         |    ${Tokenizers.Alnum.sql} AS toks
         |  FROM documents)
         |SELECT doc_id,
         |  length(text) AS n_chars,
         |  len(toks) AS n_tokens,
         |  len(list_distinct(toks)) AS n_types,
         |  round(len(list_distinct(toks))::DOUBLE / len(toks), 6) AS ttr,
         |  round((length(text) - length(regexp_replace(text, '[a-zA-Z]', '', 'g')))::DOUBLE
         |    / length(text), 6) AS alpha_ratio,
         |  round(len(list_filter(toks, x -> x IN ($enStopList)))::DOUBLE
         |    / len(toks), 6) AS stopword_ratio
         |FROM t ORDER BY doc_id""".stripMargin,
    "token_counts" ->
      s"""SELECT doc_id,
        |  ${Tokenizers.Whitespace.countSql} AS ws_tokens,
        |  ${Tokenizers.BpeIsh.countSql} AS bpe_ish_tokens,
        |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS budget_tokens
        |FROM documents ORDER BY doc_id""".stripMargin,
    "fingerprint" ->
      s"""SELECT doc_id,
        |  sha256(${Tokenizers.ExactKey.sql}) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "winnow_fingerprints" ->
      s"""WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
         |g AS (
         |  SELECT doc_id, i AS pos, length(t) - ${WinnowK - 1} AS n_grams,
         |    substring(md5(substring(t, i, $WinnowK)), 1, 15) AS h
         |  FROM d, unnest(range(1, greatest(length(t) - ${WinnowK - 2}, 1))) AS r(i)
         |  WHERE length(t) - ${WinnowK - 1} >= $WinnowW),
         |wm AS (
         |  SELECT doc_id, pos, n_grams,
         |    min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS fp
         |  FROM g)
         |SELECT DISTINCT doc_id, fp FROM wm
         |WHERE pos <= n_grams - ${WinnowW - 1}
         |ORDER BY doc_id, fp""".stripMargin,
    "tfidf" ->
      s"""WITH tok AS (
        |  SELECT doc_id, unnest(${Tokenizers.Letters.sql}) AS word FROM documents),
        |tf AS (SELECT doc_id, word, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.word, tf.tf, df.df,
        |    round(tf.tf * ln(n.n_docs::DOUBLE / df.df), 6) AS tfidf
        |  FROM tf JOIN df USING (word) CROSS JOIN n),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, word) AS rn
        |  FROM scored)
        |SELECT doc_id, word, tf, df, tfidf, rn FROM ranked
        |WHERE rn <= 3 ORDER BY doc_id, rn""".stripMargin,
  )
}
