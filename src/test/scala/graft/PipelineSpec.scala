package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, PipelineOps}

/** Training-data pipeline operators: split determinism and coverage,
  * weighted sampling honors its thresholds, n-gram/cleaning invariants,
  * and cluster assignment consistency with the pair graph. */
class PipelineSpec extends SparkSpec {

  test("train/test split is deterministic, total, and roughly 80/10/10") {
    val a = PipelineOps.trainTestSplit(spark, sfDir).collect()
    val b = PipelineOps.trainTestSplit(spark, sfDir).collect()
    assert(a.toSeq == b.toSeq, "split assignment changed between runs")
    val n = a.length.toDouble
    assert(n > 0)
    val frac = a.groupBy(_.getString(2)).view.mapValues(_.length / n).toMap
    assert(frac.keySet == Set("train", "valid", "test"))
    // hash buckets are uniform; at 100 docs-with-salt tolerance is wide
    assert(frac("train") > 0.6 && frac("train") < 0.95, frac)
    a.foreach { r =>
      val bucket = r.getLong(1)
      assert(bucket >= 0 && bucket < 100)
      val expect =
        if (bucket < 80) "train" else if (bucket < 90) "valid" else "test"
      assert(r.getString(2) == expect)
    }
  }

  test("perplexity_filter: unigram-LM scoring replayed exactly in plain Scala") {
    import graft.operators.TextAnalysis
    // space-only trim mirrors SQL trim (NOT String.trim, which also
    // strips control chars — the PipelineSpec line_dedup trap)
    def sqlTrim(s: String): String =
      s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    def toks(text: String): Seq[String] =
      sqlTrim(text.toLowerCase(java.util.Locale.ROOT))
        .split("[^\\p{L}\\p{N}]+").toSeq.filter(_.nonEmpty)
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val docToks = docs.view.mapValues(toks).toMap
    val cf = docToks.values.flatten
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = cf.values.sum.toDouble
    val nllq = cf.view.mapValues(c =>
      math.round(-math.log(c / n) * 1e7)).toMap
    val out = TextAnalysis.perplexityFilter(spark, sfDir).collect()
    assert(out.length == docs.size, "one row per document")
    out.foreach { r =>
      val id = r.getLong(0)
      val ts = docToks(id)
      assert(r.getLong(1) == ts.length, s"doc $id token count")
      if (ts.isEmpty) {
        assert(r.isNullAt(2) && !r.getBoolean(3),
          s"empty doc $id must score null and be dropped")
      } else {
        val sumq = ts.map(nllq).sum
        val expect = BigDecimal(sumq.toDouble / (ts.length * 1e7))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(r.getDouble(2) - expect) < 1e-9,
          s"doc $id avg_nll ${r.getDouble(2)} vs $expect")
        assert(r.getBoolean(3) == (expect <= TextAnalysis.PplMaxAvgNll),
          s"doc $id kept flag")
      }
    }
    // the gate removes a real tail on this corpus but not everything
    val keptN = out.count(_.getBoolean(3))
    assert(keptN > 0 && keptN < out.length,
      s"degenerate filter: kept $keptN of ${out.length}")
    // train-once/score-many: repeat scoring must read the landed LM,
    // never re-train it
    val builds = TextAnalysis.lmStores.builds.get()
    TextAnalysis.perplexityFilter(spark, sfDir).collect()
    assert(TextAnalysis.lmStores.builds.get() == builds,
      "a repeat perplexity scoring re-built the landed LM")
  }

  test("perplexity_bigram: stupid-backoff scoring replayed exactly, " +
    "prune and backoff both bind, LM lands once") {
    import graft.operators.TextAnalysis
    def sqlTrim(s: String): String =
      s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    def toks(text: String): Seq[String] =
      sqlTrim(text.toLowerCase(java.util.Locale.ROOT))
        .split("[^\\p{L}\\p{N}]+").toSeq.filter(_.nonEmpty)
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val docToks = docs.view.mapValues(toks).toMap
    val cf = docToks.values.flatten
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n = cf.values.sum.toDouble
    // corpus bigram counts, pruned at the cutoff
    val c12 = docToks.values.toSeq
      .flatMap(ts => ts.zip(ts.drop(1)))
      .groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= TextAnalysis.MinBigramCount).toMap
    def q12(c: Long, c1: Long): Long =
      math.round(-math.log(c.toDouble / c1.toDouble) * 1e7)
    def qbo(c: Long): Long =
      math.round(-math.log(TextAnalysis.BackoffAlpha * c / n) * 1e7)
    val out = TextAnalysis.perplexityBigram(spark, sfDir).collect()
    assert(out.length == docs.size, "one row per document")
    var hits = 0L; var backoffs = 0L
    out.foreach { r =>
      val id = r.getLong(0)
      val ev = docToks(id).zip(docToks(id).drop(1))
      assert(r.getLong(1) == ev.length, s"doc $id bigram-event count")
      if (ev.isEmpty) {
        assert(r.isNullAt(2) && !r.getBoolean(3),
          s"sub-2-token doc $id must score null and be dropped")
      } else {
        val sumq = ev.map { case (w1, w2) =>
          c12.get((w1, w2)) match {
            case Some(c) => hits += 1; q12(c, cf(w1))
            case None    => backoffs += 1; qbo(cf(w2))
          }
        }.sum
        val expect = BigDecimal(sumq.toDouble / (ev.length * 1e7))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(r.getDouble(2) - expect) < 1e-9,
          s"doc $id avg_nll ${r.getDouble(2)} vs $expect")
        assert(r.getBoolean(3) == (expect <= TextAnalysis.BgMaxAvgNll),
          s"doc $id kept flag")
      }
    }
    // both scoring paths exercised: most events hit the pruned table,
    // and the singleton-pruned tail genuinely backs off (thin on this
    // 31-word corpus by construction, but it must be non-zero or the
    // backoff arm is dead code)
    assert(hits > 0 && backoffs > 0,
      s"degenerate scoring paths: hits=$hits backoffs=$backoffs")
    // the gate removes a real tail but not everything
    val keptN = out.count(_.getBoolean(3))
    assert(keptN > 0 && keptN < out.length,
      s"degenerate filter: kept $keptN of ${out.length}")
    // train-once/score-many
    val builds = TextAnalysis.bgStores.builds.get()
    TextAnalysis.perplexityBigram(spark, sfDir).collect()
    assert(TextAnalysis.bgStores.builds.get() == builds,
      "a repeat bigram scoring re-built the landed bigram table")
  }

  test("perplexity nllq: landed-integer replay is immune to ln ulp flips") {
    import graft.operators.TextAnalysis
    // 1. The risk being closed, demonstrated on a CRAFTED near-boundary
    //    token: cf=1 in a corpus of N tokens puts the quantization input
    //    at x = ln(N)·10⁷ ~ 1.7e8, where ulp(x) ≈ 3e-8 — exactly the
    //    magnitude a legal 1-2 ulp cross-libm ln divergence moves x by.
    //    Find an N whose frac(x) sits within 5e-8 of the .5 boundary and
    //    show a 2-ulp nudge flips the per-engine round() — the hash
    //    failure mode if each engine re-derived ln itself.
    var n = 2L; var best = 2L; var bestD = 1.0
    while (n < 20000000L && bestD > 5e-8) {
      val x = math.log(n.toDouble) * 1e7
      val d = math.abs(x - math.floor(x) - 0.5)
      if (d < bestD) { bestD = d; best = n }
      n += 1
    }
    assert(bestD <= 5e-8, s"no near-boundary N found (best $best at $bestD)")
    val x = math.log(best.toDouble) * 1e7
    val frac = x - math.floor(x)
    val nudged = x + math.copySign(2 * math.ulp(x), 0.5 - frac)
    assert(math.round(x) != math.round(nudged),
      s"crafted token N=$best did not straddle the boundary")
    // 2. The closure: after a scoring run, the distributed plan holds no
    //    ln at all (nllq is JOINED from the landed sidecar) ...
    val df = TextAnalysis.perplexityFilter(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.toUpperCase.contains("LOG("),
      s"scoring plan still computes ln in-flight:\n$plan")
    // ... and BOTH oracles replay the landed integers verbatim — the
    // other engine never evaluates ln either, so a boundary token
    // cannot diverge no matter which way the landed round() went.
    val landed = TextAnalysis.lmNllqStore(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(landed.nonEmpty)
    val pplSql = TextAnalysis.oracle("perplexity_filter")
    val fullSql = PipelineOps.oracle("corpus_build_full")
    for (sql <- Seq(pplSql, fullSql)) {
      assert(sql.contains("nq(cf, nllq) AS (VALUES"), sql.take(400))
      assert(!sql.contains("ln("), "oracle still re-derives ln")
      landed.foreach { case (c, q) =>
        assert(sql.contains(s"($c,$q)"), s"landed pair ($c,$q) missing")
      }
    }
  }

  test("corpus_build_full composes the gates without leaks") {
    import graft.operators.TextAnalysis
    val base = PipelineOps.corpusBuild(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2), r.getString(3)))
      .toMap
    val ppl = TextAnalysis.perplexityFilter(spark, sfDir).collect()
      .map(r => r.getLong(0) ->
        (r.getBoolean(3), if (r.isNullAt(2)) Double.NaN else r.getDouble(2)))
      .toMap
    val full = PipelineOps.corpusBuildFull(spark, sfDir).collect()
    // full = base survivors that also pass the perplexity gate — with
    // lang/tokens/split carried through unchanged
    val expectIds = base.keySet.filter(id => ppl(id)._1)
    assert(full.map(_.getLong(0)).toSet == expectIds,
      "survivor set drifted from (base ∩ perplexity-kept)")
    assert(full.length < base.size,
      "the perplexity gate must prune something on this corpus")
    full.foreach { r =>
      val id = r.getLong(0)
      val (lang, nTok, split) = base(id)
      assert(r.getString(1) == lang && r.getInt(2) == nTok &&
        r.getString(4) == split, s"doc $id columns drifted in the compose")
      assert(math.abs(r.getDouble(3) - ppl(id)._2) < 1e-9,
        s"doc $id avg_nll drifted")
    }
  }

  test("temperature_mix: exact quotas, md5 membership, α=0.5 flattens the mix") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang")
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val counts = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val sq = counts.view.mapValues(c =>
      math.round(math.sqrt(c.toDouble) * PipelineOps.TempMixScale)).toMap
    val totSq = sq.values.sum
    val n = counts.values.sum
    val quota = counts.map { case (l, c) =>
      l -> math.min(c, ((n / 2) * sq(l)) / totSq) }
    val out = PipelineOps.temperatureMix(spark, sfDir).collect()
    val byLang = out.groupBy(_.getString(1))
    quota.foreach { case (l, q) =>
      assert(byLang.get(l).map(_.length.toLong).getOrElse(0L) == q,
        s"quota for $l") }
    // membership: per lang, exactly the quota smallest by md5 rank
    def h(id: Long): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"tmix$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    docs.groupBy(_._2).foreach { case (l, ds) =>
      val expect = ds.map(_._1).sortBy(id => (h(id), id))
        .take(quota(l).toInt).toSet
      val got = byLang.getOrElse(l, Array.empty).map(_.getLong(0)).toSet
      assert(got == expect, s"membership for $l")
    }
    // α = 0.5 flattens: head lang loses share vs proportional, the
    // rarest gains (this corpus is en-heavy, so both sides are real)
    val head = counts.maxBy(_._2)._1
    val tail = counts.minBy(_._2)._1
    assert(head != tail, "corpus must be skewed for this gate")
    def keptShare(l: String) = quota(l).toDouble / (n / 2)
    def natShare(l: String) = counts(l).toDouble / n
    assert(keptShare(head) < natShare(head),
      s"head $head not down-sampled")
    assert(keptShare(tail) > natShare(tail),
      s"tail $tail not up-sampled")
  }

  test("sample_by_source keeps within per-source thresholds") {
    val docs = Tables.documents(spark, sfDir)
    val total = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val kept = PipelineOps.sampleBySource(spark, sfDir).collect()
    val keptBySrc = kept.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    val thresh = PipelineOps.mixWeights.toMap
    keptBySrc.foreach { case (src, k) =>
      assert(k <= total(src))
      // a 1000-per-mille source keeps everything
      if (thresh.getOrElse(src, PipelineOps.mixDefault) == 1000)
        assert(k == total(src), s"$src should be kept in full")
    }
    // every kept row re-clears its threshold when recomputed
    val recheck = PipelineOps.sampleBySource(spark, sfDir)
      .withColumn("b", PipelineOps.hashBucket(col("doc_id"), 1000, "mix"))
      .filter(col("b") >= col("thresh"))
    assert(recheck.count() == 0)
  }

  test("ngram_counts emits frequent two-token bigrams only") {
    val rows = PipelineOps.ngramCounts(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val parts = r.getString(0).split(" ")
      assert(parts.length == 2 && parts.forall(_.nonEmpty), r.getString(0))
      assert(r.getLong(1) >= 10)
    }
  }

  test("text_clean leaves no digits, no whitespace runs, no edge space") {
    val bad = PipelineOps.textClean(spark, sfDir)
      .filter(col("clean").rlike("[0-9]|\\s{2,}|^\\s|\\s$"))
    assert(bad.count() == 0)
    // n_chars_clean is the length of the emitted text
    val mis = PipelineOps.textClean(spark, sfDir)
      .filter(length(col("clean")) =!= col("n_chars_clean"))
    assert(mis.count() == 0)
  }

  test("dedup_clusters puts every near-dup pair in one cluster, keyed by min member") {
    val labels = PipelineOps.dedupClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.neardupJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "testdata should contain near-dup pairs")
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
    }
    // cluster id is the minimum member id of its component
    labels.foreach { case (id, c) => assert(c <= id) }
    labels.groupBy(_._2).foreach { case (c, members) =>
      assert(members.keySet.min == c, s"cluster $c not keyed by min member")
    }
  }

  test("dedup_clusters_ensemble equals union-find over the actionable " +
    "routing edges (votes >= 2 or clustered)") {
    val edges = Dedup.dedupEnsembleClustered(spark, sfDir)
      .filter(org.apache.spark.sql.functions.expr("votes >= 2 OR clustered"))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty, "no actionable relations at test scale")
    // ground truth: plain union-find with min-label canonicalization
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val expect = nodes.map(n => n -> find(n)).toMap
    val got = PipelineOps.dedupClustersEnsemble(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expect,
      s"CC labels diverge from union-find (${got.size} vs ${expect.size})")
  }

  test("vocab_build is the exact frequency-ranked coverage prefix") {
    import graft.operators.{TextAnalysis, TextOps}
    val wc = TextOps.wordcount(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val total = wc.map(_._2).sum
    val survivors = wc.filter(_._2 >= TextAnalysis.VocabMinCount)
      .sortBy { case (w, c) => (-c, w) }
    var cum = 0L
    val expect = survivors.takeWhile { case (_, c) =>
      val keep = cum < total * TextAnalysis.VocabCoverage
      cum += c; keep
    }
    val got = TextAnalysis.vocabBuild(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(got.map(t => (t._1, t._2)).toSeq == expect.toSeq,
      s"kept vocab mismatch: got ${got.length}, expected ${expect.length}")
    assert(got.map(_._3).toSeq == (1 to got.length).toSeq, "ranks contiguous")
    var run = 0L
    got.foreach { case (w, c, _, cov) =>
      run += c
      assert(math.abs(cov - run.toDouble / total) < 1e-6, s"coverage at $w")
    }
  }

  /** Naive reference BPE (Sennrich et al.): overlapping pair counts
    * weighted by word freq, (count desc, lhs, rhs) winner, greedy
    * left-to-right application — the sequential-scan form the engine's
    * relational parity rule must equal. */
  private def bpeModel(wordFreq: Seq[(String, Long)], rounds: Int)
      : (Seq[(Int, String, String, Long)], Seq[(Seq[String], Long)]) =
    bpeModelSyms(
      wordFreq.map { case (w, f) => (w.map(_.toString): Seq[String]) -> f },
      rounds)

  /** The same reference model over an arbitrary pre-split symbol
    * alphabet (chars or hex-spelled bytes). */
  private def bpeModelSyms(vocab0: Seq[(Seq[String], Long)], rounds: Int)
      : (Seq[(Int, String, String, Long)], Seq[(Seq[String], Long)]) = {
    var vocab: Seq[(Seq[String], Long)] = vocab0
    val learned = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 1
    var done = false
    while (r <= rounds && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (syms, f) =>
        syms.lazyZip(syms.drop(1)).foreach { (a, b) =>
          counts((a, b)) = counts.getOrElse((a, b), 0L) + f
        }
      }
      if (counts.isEmpty) done = true
      else {
        val ((a, b), c) = counts.minBy { case ((x, y), n) => (-n, x, y) }
        learned += ((r, a, b, c))
        vocab = vocab.map { case (syms, f) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
              out += a + b; i += 2
            } else { out += syms(i); i += 1 }
          }
          out.toSeq -> f
        }
      }
      r += 1
    }
    (learned.toSeq, vocab)
  }

  test("bpe_merges learns the reference merge sequence; encoding round-trips") {
    import graft.operators.{TextAnalysis, TextOps}
    val wf = TextOps.wordcount(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    val (expect, encoded) = bpeModel(wf, TextAnalysis.BpeMergeRounds)
    assert(expect.nonEmpty)
    val got = TextAnalysis.bpeMerges(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(got.map(t => (t._1, t._2, t._3, t._5)).toSeq == expect,
      s"merge sequence diverged:\n got=${got.toSeq}\n exp=$expect")
    // merged symbol is the concatenation
    got.foreach { case (_, l, rr, m, _) => assert(m == l + rr) }
    // encode-with-learned-merges round-trips every word: the symbol
    // sequence concatenates back to the original token
    encoded.foreach { case (syms, _) => assert(syms.nonEmpty) }
    wf.zip(encoded).foreach { case ((w, _), (syms, _)) =>
      assert(syms.mkString == w, s"word $w does not round-trip: $syms")
    }
    // determinism: a fresh TRAINING run (not a store re-read) learns
    // the identical table
    val again = TextAnalysis.bpeTrain(spark, sfDir)._1.collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(again.toSeq == got.toSeq)
  }

  test("bpe_encode equals the reference model's encoded lengths") {
    import graft.operators.{TextAnalysis, TextOps}
    val wf = TextOps.wordcount(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    val (_, encoded) = bpeModel(wf, TextAnalysis.BpeMergeRounds)
    val expect = wf.zip(encoded).map { case ((w, f), (syms, _)) =>
      (w, f, w.length, syms.length.toLong) }.sortBy(_._1)
    val got = TextAnalysis.bpeEncode(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
      .toSeq
    assert(got == expect,
      s"encoded subword counts diverged:\n got=$got\n exp=$expect")
    // every encoding compresses or preserves: 1 <= n_sub <= n_chars
    got.foreach { case (w, _, nc, ns) =>
      assert(ns >= 1 && ns <= nc, s"$w: n_sub=$ns n_chars=$nc") }
  }

  test("byte-level bpe: hex-byte alphabet, reference parity, zero OOV") {
    import graft.operators.{TextAnalysis, TextOps}
    def hexSyms(w: String): Seq[String] =
      w.getBytes("UTF-8").map(b => f"${b & 0xff}%02X").toSeq
    val wfCorpus = TextOps.wordcount(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    val wf = (wfCorpus ++ TextAnalysis.ByteSupplement)
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
    val (expect, _) = bpeModelSyms(
      wf.map { case (w, f) => hexSyms(w) -> f },
      TextAnalysis.BpeMergeRounds)
    assert(expect.nonEmpty)
    val got = TextAnalysis.bpeBytesMerges(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(got.toSeq == expect.map(t => (t._1, t._2, t._3, t._4)),
      s"byte merge sequence diverged:\n got=${got.toSeq}\n exp=$expect")
    // zero OOV / no information loss: EVERY word's final symbols
    // concatenate back to exactly its UTF-8 byte spelling — the
    // property a char alphabet cannot give an unseen script
    val state = TextAnalysis.bpeByteStore(spark, sfDir)._2.collect()
      .groupBy(_.getString(0))
    state.foreach { case (w, rows) =>
      val hex = rows.sortBy(_.getLong(2)).map(_.getString(3)).mkString
      assert(hex == hexSyms(w).mkString, s"'$w' does not byte-round-trip")
    }
    // the multilingual supplement is present with multi-byte
    // spellings intact (ç/ã/ß/кана/kanji all ≥ 2 bytes per char)
    TextAnalysis.ByteSupplement.foreach { case (w, _) =>
      assert(state.contains(w), s"supplement word '$w' missing") }
    val enc = TextAnalysis.bpeBytesEncode(spark, sfDir).collect()
      .map(r => r.getString(0) -> (r.getInt(2), r.getLong(3))).toMap
    assert(enc("日本語")._1 == 9, "kanji must spell to 9 UTF-8 bytes")
    enc.foreach { case (w, (nb, ns)) =>
      assert(ns >= 1 && ns <= nb, s"$w: n_sub=$ns n_bytes=$nb") }
  }

  test("bpe greedy parity handles self-pair runs like the sequential scan") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    // 'aaaa' stresses the overlap rule: (a,a) counts 3 pairs, greedy
    // merges positions 1-2 and 3-4 → 'aa aa'; next round (aa,aa) wins
    val dir = SparkSpec.tempDir("graft_bpe")
    Seq((1L, "aaaa aaaa aaaa ab"), (2L, "aaaa ab aaaa"))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    val wf = Seq("aaaa" -> 5L, "ab" -> 2L)
    val (expect, _) = bpeModel(wf, TextAnalysis.BpeMergeRounds)
    val got = TextAnalysis.bpeMerges(spark, dir.toString).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
    assert(got.toSeq == expect.map(t => (t._1, t._2, t._3, t._4)),
      s"self-pair merge order diverged:\n got=${got.toSeq}\n exp=$expect")
  }

  test("line_dedup keeps exactly the first occurrence of every line") {
    // replay the rule exactly in plain scala (exact strings — the
    // engine's 60-bit hash collides with p ~ lines²/2⁶⁰, test-safe)
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    val seen = scala.collection.mutable.Set[String]()
    // space-only blank test: the engine and oracle use SQL trim
    // (ASCII space), while String.trim strips every char <= U+0020 —
    // a tabs-only line is KEPT by the engine and must be here too
    val expect = docs.map { case (id, text) =>
      id -> text.split("\n", -1).filter(_.exists(_ != ' ')).filter(seen.add)
    }.toMap
    val got = PipelineOps.lineDedup(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got.keySet == expect.keySet, "every doc appears exactly once")
    expect.foreach { case (id, lines) =>
      val (n, txt) = got(id)
      assert(n == lines.length, s"doc $id kept-line count")
      assert(txt == lines.mkString("\n"), s"doc $id reconstruction")
    }
  }

  test("substring_dedup replays the removal rule exactly on the real corpus") {
    // plain-scala replay with exact gram strings (the engine's 60-bit
    // hash collides with p ~ grams²/2⁶⁰ — test-safe, like line_dedup)
    val K = PipelineOps.SubstrK
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    val seen = scala.collection.mutable.Set[Seq[String]]()
    val dup = scala.collection.mutable.Set[(Long, Int)]()
    docs.foreach { case (id, text) =>
      val t = text.split("\\s+").filter(_.nonEmpty).toIndexedSeq
      (0 to t.length - K).foreach { p =>
        if (!seen.add(t.slice(p, p + K))) dup += ((id, p))
      }
    }
    assert(dup.nonEmpty, "testdata should contain repeated >=K-token spans")
    val expect = docs.map { case (id, text) =>
      val t = text.split("\\s+").filter(_.nonEmpty).toIndexedSeq
      val keptIdx = t.indices.filterNot { i =>
        (math.max(0, i - K + 1) to math.min(i, t.length - K))
          .exists(w => dup((id, w)))
      }
      id -> ((keptIdx.length.toLong, keptIdx.map(t).mkString(" ")))
    }.toMap
    val got = PipelineOps.substringDedup(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got.keySet == expect.keySet)
    expect.foreach { case (id, e) =>
      assert(got(id) == e, s"doc $id substring-dedup mismatch")
    }
  }

  test("substring_dedup: first span survives, later ones go, unique text untouched") {
    import spark.implicits._
    val K = PipelineOps.SubstrK // 8
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val dir = SparkSpec.tempDir("graft_ssd")
    Seq(
      (1L, s"$shared uniq1 uniq2"),
      (2L, s"prefix2 $shared tail2a tail2b"),
      (3L, "one two three four five six seven eight nine ten"),
      (4L, s"$shared uniq1 uniq2") // exact copy of doc 1
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    val got = PipelineOps.substringDedup(spark, dir.toString).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    // first occurrence survives whole
    assert(got(1L) == ((12L, s"$shared uniq1 uniq2")))
    // the repeated 10-token span is excised mid-doc; its removed run is
    // >= K and the non-repeated frame survives
    assert(got(2L) == ((3L, "prefix2 tail2a tail2b")))
    // no repeated K-gram anywhere: byte-identical after the join
    assert(got(3L) == ((10L, "one two three four five six seven eight nine ten")))
    // an exact copy is removed END-TO-END (every token covered)
    assert(got(4L) == ((0L, "")))
  }

  test("pack_sequences tiles each source's token stream exactly") {
    val rows = PipelineOps.packSequences(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(rows.nonEmpty)
    val C = PipelineOps.PackTokens
    rows.foreach { case (id, _, n, seqId, off, spans) =>
      assert(n >= 1, s"doc $id token count")
      assert(off >= 0 && off < C, s"doc $id offset $off out of [0,$C)")
      assert(seqId >= 0)
      assert(spans == (off + n - 1) / C + 1, s"doc $id span count")
    }
    // within each source (docs in id order) the coordinates are the
    // exact running token sum: no gaps, no overlaps
    rows.groupBy(_._2).foreach { case (src, rs) =>
      var cum = 0L
      rs.sortBy(_._1).foreach { case (id, _, n, seqId, off, _) =>
        assert(seqId == cum / C && off == cum % C,
          s"doc $id in $src: expected offset $cum, got ($seqId, $off)")
        cum += n
      }
    }
  }

  test("exact-pair consumers share one landed pair artifact per session") {
    import graft.operators.SigStore
    // first consumer forces the build (idempotent if an earlier test
    // already did); every consumer after must be a pure store read
    Dedup.neardupJaccard(spark, sfDir).collect()
    val builds = SigStore.exact.builds.get()
    PipelineOps.dedupClusters(spark, sfDir).collect()
    PipelineOps.triangleCount(spark, sfDir).collect()
    PipelineOps.keepOnePerCluster(spark, sfDir).collect()
    PipelineOps.pagerankDocs(spark, sfDir).collect()
    assert(SigStore.exact.builds.get() == builds,
      "an exact-pair consumer re-built the landed pair artifact")
  }

  test("decontam_ngrams excludes eval docs and thresholds at 3 shared shingles") {
    val rows = PipelineOps.decontamNgrams(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) % PipelineOps.EvalEvery != 0,
        "eval docs must not appear as training rows")
      assert(r.getBoolean(2) == (r.getLong(1) >= 3))
    }
  }

  test("decontam_bloom equals the exact operator and probes through the filter") {
    val bloom = PipelineOps.decontamBloom(spark, sfDir)
    // the codegen'd probe must actually be on the plan's filter path —
    // otherwise the test is equality between two runs of the same code
    // (BloomFilterMightContain renders by its own prettyName, not the
    // registry alias)
    val plan = bloom.queryExecution.optimizedPlan.toString
    assert(plan.contains("might_contain"),
      s"bloom probe missing from the plan:\n${plan.take(2000)}")
    val viaBloom = bloom.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val exact = PipelineOps.decontamNgrams(spark, sfDir).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(viaBloom == exact,
      "bloom scale path must be output-identical to the exact operator")
    assert(viaBloom.nonEmpty)
  }

  test("keep_one_per_cluster keeps the min member; sizes sum to clustered docs") {
    val labels = PipelineOps.dedupClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val keep = PipelineOps.keepOnePerCluster(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(keep.map(_._3).sum == labels.length)
    keep.foreach { case (cid, kid, n) =>
      assert(kid == cid, "survivor is the min member = cluster id")
      assert(n >= 2, "clusters come from pairs, so size >= 2")
    }
  }

  test("stratified_sample takes exactly min(k, stratum size) per source, deterministically") {
    val bySource = graft.Tables.documents(spark, sfDir)
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = PipelineOps.stratifiedSample(spark, sfDir).collect()
      .groupBy(_.getString(0))
    assert(got.keySet == bySource.keySet)
    got.foreach { case (src, rows) =>
      assert(rows.length == math.min(PipelineOps.StratumK, bySource(src)))
    }
    val again = PipelineOps.stratifiedSample(spark, sfDir).collect()
    assert(got.values.flatten.map(_.toString).toSet ==
      again.map(_.toString).toSet, "hash-ranked sample must be stable")
  }

  test("dedup_clusters_lsh verified pairs are exact pairs; clusters nest in exact clusters") {
    // The scale path (LSH candidates -> exact verify -> label prop)
    // must agree with ground truth on everything LSH recalls:
    // 1. every verified pair is in the exact pair set (verification is
    //    exact Jaccard on the same capped-shingle universe);
    // 2. every LSH cluster sits inside one exact cluster (its edge set
    //    is a subset, so components can only split, never merge).
    val exactPairs = Dedup.neardupJaccard(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshPairs = PipelineOps.neardupJaccardLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lshPairs.nonEmpty, "LSH path should verify some pairs")
    assert(lshPairs.subsetOf(exactPairs),
      s"verified pairs not in exact set: ${lshPairs -- exactPairs}")
    // recall of the J >= 0.7 pairs must be total (16x4 banding w.h.p.)
    val strong = Dedup.neardupJaccard(spark, sfDir, minJ = 0.7).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((strong -- lshPairs).isEmpty,
      s"scale path missed high-jaccard pairs: ${strong -- lshPairs}")
    val exactLbl = PipelineOps.dedupClusters(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val lshLbl = PipelineOps.dedupClustersLsh(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // co-membership in an LSH cluster implies co-membership in the
    // exact clustering (one exact label per LSH cluster)
    lshLbl.groupBy(_._2).foreach { case (c, members) =>
      val exacts = members.keySet.map(exactLbl)
      assert(exacts.size == 1,
        s"LSH cluster $c spans exact clusters $exacts")
    }
  }

  test("doc_chunks cover every document exactly with the declared overlap") {
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val chunks = PipelineOps.docChunks(spark, sfDir).collect()
      .groupBy(_.getLong(0))
    assert(chunks.keySet == docs.keySet, "every doc must chunk")
    chunks.foreach { case (id, rows) =>
      val text = docs(id)
      val sortedRows = rows.sortBy(_.getInt(1))
      // indices are dense from 0; each chunk is the exact substring at
      // its stride offset; concatenating the non-overlap prefixes plus
      // the last chunk reconstructs the document
      sortedRows.zipWithIndex.foreach { case (r, i) =>
        assert(r.getInt(1) == i)
        val off = i * PipelineOps.ChunkStride
        val expect = text.substring(off,
          math.min(off + PipelineOps.ChunkChars, text.length))
        assert(r.getString(2) == expect, s"doc $id chunk $i")
        assert(r.getInt(3) == expect.length)
      }
      val rebuilt = sortedRows.init
        .map(_.getString(2).take(PipelineOps.ChunkStride)).mkString +
        sortedRows.last.getString(2)
      assert(rebuilt == text, s"doc $id does not reassemble")
    }
  }

  test("pii_redact masks emails, phones, and id runs; leaves no long digit span") {
    val rows = PipelineOps.piiRedact(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val red = r.getString(2)
      assert(red.contains("<email>"), red)
      assert(red.contains("<phone>"), red)
      assert(red.contains("<id>"), red) // the c_name account number
      assert(!"[0-9]{6,}".r.findFirstIn(red).isDefined, red)
      assert(!red.contains("@example.com"), red)
    }
    // rule isolation on crafted strings
    import spark.implicits._
    val crafted = Seq(
      "mail a.b+c.123@sub.host.org now",
      "call +44 (0)20-7946 0958 today",
      "acct 123456789 ok",
      "short 12345 stays").toDF("s")
      .select(PipelineOps.redactPii(col("s")).as("r"))
      .as[String].collect()
    assert(crafted(0) == "mail <email> now")
    assert(crafted(1) == "call <phone> today")
    assert(crafted(2) == "acct <id> ok")
    assert(crafted(3) == "short 12345 stays")
  }

  test("hashBucket: total, in-range, deterministic, salt-decorrelated, pinned") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val ids = (-1000L until 1000L).toDF("id")
    def run(salt: String): Map[Long, Long] = ids
      .select(col("id"), PipelineOps.hashBucket(col("id"), 100, salt).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a = run("split")
    assert(a.size == 2000 && a.values.forall(b => b >= 0 && b < 100))
    assert(a == run("split"), "same salt must reproduce identically")
    // different salts give independent assignments (cross-use of one
    // bucket set for splits AND sampling would couple the decisions)
    val diff = a.count { case (k, v) => run("mix").getOrElse(k, -1L) != v }
    assert(diff > 1800, s"salts barely decorrelate: $diff/2000 differ")
    // no bucket starves or hogs (2000 keys over 100 buckets, e~20)
    val counts = a.values.groupBy(identity).map(_._2.size)
    assert(counts.min >= 5 && counts.max <= 45, counts.toSeq.sorted.mkString(","))
    // pinned against the reference md5 arithmetic: these exact values
    // are what the DuckDB oracle computes — a silent change in the
    // hash (cast formatting, substring bounds) breaks every
    // split/sample/mix gate at once, so catch it here first
    val pinned = ids.select(col("id"),
      PipelineOps.hashBucket(col("id"), 100, "pin").as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(0L, 1L, -5L).map(pinned) == Seq(41L, 93L, 25L),
      s"pinned md5 buckets moved: ${Seq(0L, 1L, -5L).map(pinned)}")
  }

  test("repetition_stats flags boilerplate and clears clean prose") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // stage a crafted documents table: a spam doc (one line repeated,
    // one bigram dominating) and a clean doc (all lines and bigrams
    // distinct)
    val dir = SparkSpec.tempDir("graft_repfix")
    Seq(
      (1L, "buy now\nbuy now\nbuy now\nbuy now"),
      (2L, "the quick brown fox\njumps over lazy dogs"),
      (3L, "")
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir.resolve("documents.parquet").toString)
    val got = graft.operators.TextAnalysis.repetitionStats(spark, dir.toString)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))).toMap
    // spam: 4 lines, 1 distinct -> dup 0.75; bigrams all "buy now" -> ratio 1.0
    assert(got(1L) == ((4, 0.75, 7L, 0.571429)),
      s"spam doc stats off: ${got(1L)}")
    // clean: 2 distinct lines -> dup 0; 7 bigrams all distinct -> 1/7
    assert(got(2L)._1 == 2 && got(2L)._2 == 0.0)
    assert(got(2L)._4 == 0.142857)
    // empty doc: zero lines/bigrams, ratios 0
    assert(got(3L) == ((0, 0.0, 0L, 0.0)))
  }

  test("pagerank at 50 iterations keeps a checkpoint-bounded plan") {
    import spark.implicits._
    import graft.operators.PipelineOps
    // undirected triangle: symmetric edge list, every node degree 2
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),
                    (3L, 1L), (1L, 3L)).toDF("src", "dst")
    val r50 = PipelineOps.pagerankRanks(edges, iters = 50)
    // lineage is cut every PageRankCheckpointEvery rounds, so the
    // plan holds at most (iters % every) unrolled iterations — a
    // 50-iteration run must NOT analyze 50 join+agg rounds
    val nodes = r50.queryExecution.optimizedPlan.collect { case p => p }.size
    assert(nodes < 60, s"plan grew with iteration count: $nodes nodes")
    // symmetric graph: ranks converge to the uniform fixpoint; the
    // integer arithmetic keeps all three within div truncation of it
    val ranks = r50.select($"id", $"r").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranks.keySet == Set(1L, 2L, 3L))
    ranks.values.foreach(v =>
      assert(math.abs(v - 1000000000L / 3) <= 3, s"rank off uniform: $v"))
  }

  test("reliable-checkpoint rung: same results, same bounded plan depth") {
    import spark.implicits._
    import graft.operators.{Checkpoints, PipelineOps}
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),
                    (3L, 1L), (1L, 3L)).toDF("src", "dst")
    def run() = {
      val r = PipelineOps.pagerankRanks(edges, iters = 25)
      val depth = r.queryExecution.optimizedPlan.collect { case p => p }.size
      (r.select($"id", $"r").collect()
        .map(x => x.getLong(0) -> x.getLong(1)).toMap, depth)
    }
    val prev = Checkpoints.reliable
    try {
      Checkpoints.reliable = false
      val (localRanks, localDepth) = run()
      Checkpoints.reliable = true
      val (reliableRanks, reliableDepth) = run()
      // identical integer arithmetic → identical fixpoint on both rungs
      assert(reliableRanks == localRanks)
      // both rungs truncate lineage: depth bounded, and equal — the
      // mode changes the storage rung, never the plan shape
      assert(localDepth < 60 && reliableDepth < 60,
        s"plan depth grew: local=$localDepth reliable=$reliableDepth")
      assert(reliableDepth == localDepth)
    } finally Checkpoints.reliable = prev
  }

  test("quality_train: violations decay, trajectory deterministic, " +
    "weights find the hidden concept direction") {
    import graft.operators.TextAnalysis
    val a = TextAnalysis.qualityTrain(spark, sfDir).collect()
    assert(a.length == TextAnalysis.QcIters)
    val nTrain = TextAnalysis.qcFeatures(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("is_train")).count()
    // epoch 1 evaluates w=0: every train row violates the margin
    assert(a.head.getLong(1) == nTrain)
    // the optimizer genuinely descends: final violations are a small
    // fraction of the initial count
    assert(a.last.getLong(1) * 4 < nTrain,
      s"violations did not decay: ${a.last.getLong(1)} of $nTrain")
    // bit-identical on a genuinely fresh re-run: the UNCACHED loop
    // (the registered query memoizes per dataset, so comparing it to
    // itself would be vacuous)
    val b = TextAnalysis.qualityTrainFresh(spark, sfDir).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    // learned direction: the hidden rule is 2·stop + ttr > thresh, so
    // w_stop and w_ttr must both come out positive
    assert(a.last.getLong(3) > 0 && a.last.getLong(4) > 0,
      s"concept direction not found: ${a.last}")
  }

  test("quality_train_incremental: warm start fine-tunes, cold start " +
    "re-pays the corpus") {
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.functions.col
    val rows = TextAnalysis.qualityTrainIncremental(spark, sfDir).collect()
    assert(rows.length == TextAnalysis.QcIncrEpochs)
    // epochs carry GLOBAL indices: the continued run is a continuation,
    // not a restart (the 1/t schedule depends on it)
    assert(rows.map(_.getInt(0)).toSeq ==
      (TextAnalysis.QcIters + 1 to
        TextAnalysis.QcIters + TextAnalysis.QcIncrEpochs))
    // warm-start receipt: the base model already classifies most of
    // the full train slice (batch included) — first continued epoch
    // violates a small fraction of what a cold start would (all of it)
    val nTrain = TextAnalysis.qcFeatures(spark, sfDir)
      .filter(col("is_train")).count()
    assert(rows.head.getLong(1) * 3 < nTrain,
      s"warm start lost: ${rows.head.getLong(1)} of $nTrain violate")
  }

  test("quality_filter_trained: apply step agrees with the confusion " +
    "matrix and plans joinless") {
    import graft.operators.TextAnalysis
    import org.apache.spark.sql.functions.col
    val filt = TextAnalysis.qualityFilterTrained(spark, sfDir)
    val rows = filt.collect()
    val nDocs = TextAnalysis.qcFeatures(spark, sfDir).count()
    assert(rows.length == nDocs, "apply must score every doc")
    val kept = rows.count(_.getBoolean(2))
    assert(kept > 0 && kept < rows.length, "degenerate filter")
    // same decision rule as the eval rung: kept docs in the held-out
    // slice are exactly the confusion matrix's positive predictions
    val ev = TextAnalysis.qualityTrainEval(spark, sfDir).collect()(0)
    val keptHeld = TextAnalysis.qcFeatures(spark, sfDir)
      .filter(!col("is_train")).select("doc_id").collect()
      .map(_.getLong(0)).toSet
      .intersect(rows.filter(_.getBoolean(2)).map(_.getLong(0)).toSet)
      .size
    assert(keptHeld == ev.getLong(1) + ev.getLong(2), // tp + fp
      s"apply/eval drift: kept $keptHeld vs tp+fp ${ev.getLong(1) + ev.getLong(2)}")
    // weights are literals: the scoring pass joins nothing
    val plan = filt.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"unexpected join in apply plan:\n$plan")
  }

  test("quality_train_eval: confusion partitions the held-out slice, " +
    "accuracy beats chance by a wide margin") {
    import graft.operators.TextAnalysis
    val r = TextAnalysis.qualityTrainEval(spark, sfDir).collect()(0)
    val Seq(nEval, tp, fp, tn, fn) = (0 to 4).map(r.getLong)
    val nHeld = TextAnalysis.qcFeatures(spark, sfDir)
      .filter(!org.apache.spark.sql.functions.col("is_train")).count()
    assert(nEval == nHeld && nEval > 0)
    assert(tp + fp + tn + fn == nEval, "confusion cells must partition")
    // measured 916666 ppm at sf0.001 / 902777 at sf0.01; 750000 is a
    // wide determinism-safe floor far above the ~500000 chance line
    assert(r.getLong(5) > 750000L, s"accuracy_ppm=${r.getLong(5)}")
  }
}
