package graft

import org.apache.spark.sql.functions._

/** The scale-rehearsal harness is evidence-generating code: if its
  * staging silently broke, every SCALE.md number after that would lie.
  * These specs pin the staging invariants the isomorphic-shard method
  * depends on, at a small multiple on the small sf dir. */
class RehearsalSpec extends SparkSpec {

  test("rehearsal table: fixed order, all = streaming + join, typos fail fast") {
    def names(arg: String) = ScaleRehearsal.selected(arg).map(_._1)
    assert(names("all") == Seq("streaming", "join"))
    assert(names("topk,join,all") == Seq("streaming", "join", "topk"))
    assert(names("workloadzipf,wand") == Seq("wand", "workloadzipf"))
    // a typo'd family throws before main builds a session: building one
    // would re-apply GraftSession's shape to the shared session and
    // overwrite this sentinel partition count
    spark.conf.set("spark.sql.shuffle.partitions", "13")
    try {
      val e = intercept[IllegalArgumentException](
        ScaleRehearsal.main(Array("join,bogus")))
      assert(e.getMessage.contains("bogus"), e.getMessage)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "13",
        "main touched a session before rejecting the family list")
    } finally spark.conf.set("spark.sql.shuffle.partitions", "4")
  }

  test("staged events shards are key-disjoint and files time-ordered") {
    val mult = 3
    val dir = ScaleRehearsal.stageEvents(spark, sfDir, mult)
    val staged = spark.read.parquet(dir)
    val base = Tables.events(spark, sfDir)
    // exact replication: rows and per-shard key ranges
    assert(staged.count() == mult * base.count())
    val shardsSeen = staged
      .select((col("user_id") / 1500).cast("int").as("shard"))
      .distinct().collect().map(_.getInt(0)).sorted.toSeq
    assert(shardsSeen == (0 until mult), s"shards=$shardsSeen")
    // event ids stay unique after offsetting
    assert(staged.select("event_id").distinct().count() == staged.count())
    // batch files cover increasing, non-overlapping event-time ranges
    import scala.jdk.CollectionConverters._
    val st = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
    val files =
      try st.iterator().asScala.map(_.toString)
        .filter(_.endsWith(".parquet")).toList.sorted
      finally st.close()
    assert(files.size >= 2)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f)
        .agg(min("ts").as("lo"), max("ts").as("hi")).head()
      // an empty batch file aggregates to null — fail diagnosably
      // instead of NPEing in the range comparison below
      assert(!r.isNullAt(0) && !r.isNullAt(1),
        s"staged batch file $f is empty at this scale factor")
      (r.getTimestamp(0), r.getTimestamp(1))
    }
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) =>
        assert(hi.before(lo2), s"batch ranges overlap: $hi !< $lo2")
      case _ =>
    }
  }

  test("staged facts replicate output-defining keys; dims stay 1x") {
    val mult = 2
    val dir = ScaleRehearsal.stageFacts(spark, sfDir, mult)
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val base = Tables.lineitem(spark, sfDir)
    assert(li.count() == mult * base.count())
    assert(li.select("l_orderkey").distinct().count() ==
      mult * base.select("l_orderkey").distinct().count())
    // dims are links to the 1x source
    assert(spark.read.parquet(s"$dir/customer.parquet").count() ==
      Tables.customer(spark, sfDir).count())
  }

  test("staged docs shards share no lines and pack independently") {
    val mult = 2
    val dir = ScaleRehearsal.stageDocs(spark, sfDir, mult)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val base = Tables.documents(spark, sfDir)
    assert(docs.count() == mult * base.count())
    // per-shard sources (independent packing domains)
    assert(docs.select("source").distinct().count() ==
      mult * base.select("source").distinct().count())
    // the per-line suffix makes shards line-disjoint: every non-blank
    // line occurs in exactly one shard tag
    val crossShard = docs
      .select(explode(split(col("text"), "\n")).as("line"))
      .filter(length(trim(col("line"))) > 0)
      .select(col("line"),
        regexp_extract(col("line"), "§([0-9]+)$", 1).as("tag"))
      .groupBy("line").agg(countDistinct("tag").as("tags"))
      .filter(col("tags") > 1)
    assert(crossShard.count() == 0, "a staged line appears in two shards")
  }

  test("workloadOf: deterministic hot-term workloads of the right shape") {
    // the amortization rehearsal's workload generator is
    // evidence-generating code: n queries, up to 3 terms each, drawn
    // from the corpus's HIGHEST-df words (the worst case for the
    // bucket-union probe), deterministic given the landed dfr sidecar
    val wl30 = graft.operators.Retrieval.workloadOf(spark, sfDir, 30)
    assert(wl30.size == 30)
    assert(wl30.map(_._1) == (1L to 30L), "query ids must be 1..n")
    wl30.foreach { case (_, q) =>
      val terms = q.split(" ")
      assert(terms.nonEmpty && terms.length <= 3 &&
        terms.distinct.length == terms.length, s"bad query shape: '$q'")
    }
    assert(wl30 == graft.operators.Retrieval.workloadOf(spark, sfDir, 30),
      "workload generator must be deterministic")
    // the pool really is the df head: every term's df is >= the df of
    // the (3n)-th ranked word
    import org.apache.spark.sql.functions._
    val dfr = graft.operators.Retrieval.dfrStore(spark, sfDir)
      .orderBy(desc("df"), col("word")).limit(90)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val floor = dfr.values.min
    wl30.flatMap(_._2.split(" ")).foreach(w =>
      assert(dfr.contains(w) && dfr(w) >= floor,
        s"workload term '$w' is not from the df head"))
    // growing n keeps the prefix: the n=3 workload is wl30's head —
    // the ladder compares the SAME queries at every size
    assert(graft.operators.Retrieval.workloadOf(spark, sfDir, 3) ==
      wl30.take(3))
  }

  test("staged embedding shards preserve norms and same-shard geometry") {
    val mult = 3
    val dir = ScaleRehearsal.stageEmbeddings(spark, sfDir, mult)
    val staged = spark.read.parquet(s"$dir/embeddings.parquet")
    val base = Tables.embeddings(spark, sfDir)
    val n = base.count()
    assert(staged.count() == mult * n)
    assert(staged.select("vec_id").distinct().count() == mult * n,
      "shard id offsets must keep vec_ids unique")
    // a dimension rotation is a coordinate permutation: every staged
    // vector's norm equals its source vector's norm exactly, and
    // same-shard dot products equal the 1x dot products exactly —
    // the isomorphism SCALE.md's linearity claims rest on
    val srcVecs = base.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val stagedVecs = staged.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
    val probe = srcVecs.keys.toSeq.sorted.take(5)
    (0 until mult).foreach { k =>
      probe.foreach { id =>
        val s0 = srcVecs(id)
        val s1 = stagedVecs(id + k * 1000000L)
        assert(math.abs(dot(s1, s1) - dot(s0, s0)) < 1e-9,
          s"shard $k vec $id norm drifted")
      }
      // pairwise same-shard dots replicate the 1x geometry
      probe.combinations(2).foreach { case Seq(a, b) =>
        val d0 = dot(srcVecs(a), srcVecs(b))
        val d1 = dot(stagedVecs(a + k * 1000000L), stagedVecs(b + k * 1000000L))
        assert(math.abs(d1 - d0) < 1e-9,
          s"shard $k pair ($a,$b) dot drifted: $d0 vs $d1")
      }
    }
  }

  test("zipf corpus: deterministic, tokenizer-safe, heavy-tailed") {
    val mult = 2
    val dir = ScaleRehearsal.stageDocsZipf(spark, sfDir, mult)
    val staged = spark.read.parquet(s"$dir/documents.parquet")
    val nBase = Tables.documents(spark, sfDir).count()
    assert(staged.count() == mult * nBase, "doc count not ∝ multiple")
    // tokenizer safety: every token survives the [^letter]+ split
    // intact (a digit in a word would shear it apart and silently
    // change the df distribution the rehearsal exists to fix)
    val toks = graft.operators.TextOps.tokenize(staged)
    val words = toks.groupBy("word").count()
    assert(words.filter(!col("word").rlike("^[a-z]+$")).count() == 0,
      "non-alphabetic token leaked into the zipf corpus")
    // heavy tail: the top-1% head covers a large share of the token
    // stream while MOST of the vocabulary sits in the df tail — the
    // two properties a 31-word corpus cannot have
    val byCount = words.orderBy(desc("count")).collect()
      .map(_.getLong(1))
    val total = byCount.sum.toDouble
    val vocab = byCount.length
    assert(vocab > 2000, s"vocabulary too small to be heavy-tailed: $vocab")
    val headShare = byCount.take(math.max(1, vocab / 100)).sum / total
    assert(headShare > 0.2, f"top-1%% head covers only $headShare%.2f")
    val tailWords = byCount.count(_ <= 5)
    assert(tailWords > vocab / 3,
      s"df tail too thin: $tailWords of $vocab words with ≤5 occurrences")
    // determinism: restaging from the same source is byte-identical
    // content (hash of the sorted projection)
    def corpusHash(df: org.apache.spark.sql.DataFrame): Long = df
      .select(xxhash64(col("doc_id"), col("text")).as("h"))
      .agg(expr("bit_xor(h)")).head.getLong(0)
    val h1 = corpusHash(staged)
    val again = corpusHash(spark.read.parquet(
      ScaleRehearsal.stageDocsZipf(spark, sfDir, mult) + "/documents.parquet"))
    assert(h1 == again, "zipf staging is not deterministic")
  }

  test("gov replicas: LM replica-invariance and dedup collapse") {
    val mult = 2
    val dir = ScaleRehearsal.stageGovDocs(spark, sfDir, mult)
    val staged = spark.read.parquet(s"$dir/documents.parquet")
    val base = Tables.documents(spark, sfDir)
    assert(staged.count() == mult * base.count())
    // ids unique after offsetting, text VERBATIM (no tag suffixes)
    assert(staged.select("doc_id").distinct().count() == staged.count())
    assert(staged.select("text").distinct().count()
      == base.select("text").distinct().count(),
      "replica staging altered document text")
    // the load-bearing invariance: every cf and N scale by the SAME
    // multiple, and IEEE division is exactly rounded, so cf/N — and
    // every per-doc avg_nll — is BIT-IDENTICAL to the base corpus
    // (this is what keeps the fixed perplexity gate meaningful on the
    // staged corpus; the tag-suffix stager broke it — see
    // stageGovDocs scaladoc)
    import org.apache.spark.sql.functions.col
    val baseNll = graft.operators.TextAnalysis.perplexityFilter(spark, sfDir)
      .select("doc_id", "avg_nll", "kept").collect()
      .map(r => r.getLong(0) -> (r.get(1), r.getBoolean(2))).toMap
    val stagedNll = graft.operators.TextAnalysis.perplexityFilter(spark, dir)
      .filter(col("doc_id") < ScaleRehearsal.DocRange)
      .select("doc_id", "avg_nll", "kept").collect()
    assert(stagedNll.nonEmpty)
    stagedNll.foreach { r =>
      val (nll, kept) = baseNll(r.getLong(0))
      assert(r.get(1) == nll && r.getBoolean(2) == kept,
        s"replica corpus shifted avg_nll for doc ${r.getLong(0)}: " +
          s"${r.get(1)} vs base $nll")
    }
    // dedup collapse: corpus_build survivors on the replica corpus =
    // the base survivors (fp ignores doc_id; min-id keeps shard 0)
    val survStaged = graft.operators.PipelineOps.corpusBuild(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val survBase = graft.operators.PipelineOps.corpusBuild(spark, sfDir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survStaged == survBase,
      "replica corpus changed the unique-content survivor set")
  }

  test("diverse media corpus: ~64-bit-diverse decoded hashes, planted " +
    "pairs recovered exactly through the banded plan") {
    import org.apache.spark.sql.functions.col
    val M = graft.operators.Multimodal
    // the staged diversity: every non-planted image decodes to its
    // own aHash — distinct hashes = images − planted copies (an
    // accidental collision between splitmix64 patterns would be a
    // ~2^-64 event; equality here IS the diversity pin, against the
    // gate synthesis's 1280-class ceiling)
    val imgs = M.featuresTableDiverse(spark, sfDir)
      .filter(col("media_type") === "image")
    val nImg = imgs.count()
    val nHash = imgs.select("ahash_hi", "ahash_lo").distinct().count()
    val ids = Tables.documents(spark, sfDir).select("doc_id")
      .filter(col("doc_id") % 3 === 0).collect().map(_.getLong(0)).toSet
    val planted = ids.filter(d =>
      (d / 3) % M.Codec.DivDupEvery == 1 && ids.contains(d - 3))
      .map(d => (d - 3, d))
    assert(planted.nonEmpty, "no planted pair at this scale — vacuous")
    assert(nHash == nImg - planted.size,
      s"diversity ceiling: $nHash distinct hashes over $nImg images " +
        s"(expected ${nImg - planted.size})")
    // the planted copy is a REAL decode-level duplicate (same pattern
    // key → identical decoded aHash regardless of dims)
    val (pa, pb) = planted.head
    val h = imgs.filter(col("doc_id").isin(pa, pb))
      .select("ahash_hi", "ahash_lo").distinct().count()
    assert(h == 1, s"planted pair ($pa, $pb) decoded to distinct hashes")
    // exact recovery: the banded plan finds the planted pairs and
    // NOTHING else — corpus-linear output on realistic diversity
    val found = M.mediaNearDupDiverse(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(found == planted,
      s"banded recovery drifted: found ${found.size}, " +
        s"planted ${planted.size}, extras ${(found -- planted).take(3)}, " +
        s"missed ${(planted -- found).take(3)}")
    // the diverse store lands once
    val b0 = M.divFeatureBuildCount.get()
    M.mediaNearDupDiverse(spark, sfDir).collect()
    assert(M.divFeatureBuildCount.get() == b0,
      "diverse features store rebuilt on a second run")
  }
}
