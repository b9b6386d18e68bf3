package graft

import graft.operators.Dedup

/** MinHash/LSH and SimHash behavior against exact ground truth. */
class DedupSpec extends SparkSpec {

  test("dedup_incremental equals full LSH restricted to batch pairs; probe reads only the store") {
    val incr = Dedup.dedupIncremental(spark, sfDir)
    val got = incr.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // the recurrent stage must read ONLY the landed store/batch
    // artifacts — corpus scans would mean incrementality is a fiction
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val sc = scans(incr.queryExecution.executedPlan)
    assert(sc.nonEmpty, "no file scans found in the probe plan")
    sc.foreach { f =>
      val loc = f.relation.location.rootPaths.mkString(",")
      assert(loc.contains("graft_incr"),
        s"probe scanned outside the signature store: $loc")
    }
    val expected = Dedup.minhashLsh(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter(t => t._1 % Dedup.IncrEvery == 0 || t._2 % Dedup.IncrEvery == 0)
      .toSeq
    assert(got == expected,
      s"incremental (${got.size}) != filtered full (${expected.size})")
  }

  test("dedup_incremental lands its split store once per dataset") {
    Dedup.dedupIncremental(spark, sfDir).collect()
    val builds = Dedup.incrStores.builds.get()
    Dedup.dedupIncremental(spark, sfDir).collect()
    assert(Dedup.incrStores.builds.get() == builds,
      "a repeat call re-landed the incremental split store")
  }

  test("dedup family shares one materialized signature store per session") {
    import graft.operators.SigStore
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    // first consumer forces the build (idempotent if an earlier test
    // already did); everything after must be a pure store read
    Dedup.minhashLsh(spark, sfDir).collect()
    val builds = SigStore.stores.builds.get()
    Dedup.fuzzyPairs(spark, sfDir).collect()
    graft.operators.PipelineOps.neardupJaccardLsh(spark, sfDir).collect()
    val pairsAgain = SigStore.lshPairs(spark, sfDir)
    pairsAgain.collect()
    assert(SigStore.stores.builds.get() == builds,
      "a second dedup-family consumer re-built the signature store")
    // the cached pair artifact is a bare parquet read: every file scan
    // under it points into the store, and the expensive pipeline head
    // (tokenize explode / df-cap window / minhash agg) is absent
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val sc = scans(pairsAgain.queryExecution.executedPlan)
    assert(sc.nonEmpty)
    sc.foreach { f =>
      val loc = f.relation.location.rootPaths.mkString(",")
      assert(loc.contains("graft_sigstore"),
        s"cached LSH pairs scanned outside the store: $loc")
    }
    val plan = pairsAgain.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Generate") && !plan.contains("Window"),
      s"cached pair read re-ran the pipeline head:\n$plan")
  }

  test("minhash LSH finds every exact-jaccard pair at J >= 0.7 (recall)") {
    // LSH with 16 bands x 4 rows catches J >= 0.5 w.h.p.; at J >= 0.7
    // a miss is vanishingly unlikely — treat as hard assertion.
    val exact = Dedup.neardupJaccard(spark, sfDir, minJ = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLsh(spark, sfDir, minEst = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = exact -- lsh
    assert(missed.isEmpty, s"LSH missed high-jaccard pairs: $missed")
  }

  test("minhash estimate correlates with exact jaccard") {
    val exact = Dedup.neardupJaccard(spark, sfDir, minJ = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val est = Dedup.minhashLsh(spark, sfDir, minEst = 0.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val both = exact.keySet.intersect(est.keySet)
    assert(both.nonEmpty)
    both.foreach { k =>
      assert(math.abs(exact(k) - est(k)) < 0.35,
        s"estimate too far from exact for $k: ${exact(k)} vs ${est(k)}")
    }
  }

  test("identical documents collide on every signature") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dupA = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq((1L, dupA), (2L, dupA), (3L, "completely different words entirely"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("spec_docs")
    val sh = Dedup.shingles(spark, sfDir) // not used; direct path below
    val sigs = {
      // reuse the signature pipeline over an in-memory frame by
      // temporarily swapping the source
      val toks = split(lower(col("text")), "[^\\p{L}]+")
      val shingled = docs
        .withColumn("toks", filter(toks, t => length(t) > 0))
        .withColumn("idx", when(size(col("toks")) >= 3,
          sequence(lit(1), size(col("toks")) - 2))
          .otherwise(array().cast("array<int>")))
        .select(col("doc_id"), explode(col("idx")).as("i"), col("toks"))
        .select(col("doc_id"),
          concat_ws(" ", slice(col("toks"), col("i"), lit(3))).as("shingle"))
        .distinct()
      val mins = (0 until Dedup.NumHashes).map(i =>
        min(xxhash64(lit(i), col("shingle"))).as(s"h$i"))
      shingled.groupBy("doc_id").agg(mins.head, mins.tail: _*)
    }
    val rows = sigs.collect().map(r =>
      r.getLong(0) -> (1 until Dedup.NumHashes + 1).map(r.getLong)).toMap
    assert(rows(1L) == rows(2L), "identical docs must share full signature")
    assert(rows(1L) != rows(3L), "different docs should differ somewhere")
  }

  test("simhash of identical docs is equal; hamming to different doc > 0") {
    import org.apache.spark.sql.functions._
    val sh = Dedup.simhash(spark, sfDir).collect()
    assert(sh.nonEmpty)
    // determinism: running twice gives identical hashes
    val sh2 = Dedup.simhash(spark, sfDir).collect()
    assert(sh.map(r => (r.getLong(0), r.getLong(1))).toMap ==
      sh2.map(r => (r.getLong(0), r.getLong(1))).toMap)
    // md5 family stays within its 60-bit width
    assert(sh.forall(r => r.getLong(1) >= 0 && r.getLong(1) < (1L << 60)))
    // docs with IDENTICAL text must share a simhash under BOTH hash
    // families, and a disjoint-vocabulary doc must differ; near-dup
    // collisions may legitimately differ per family
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "umber violet wisteria xanthic yarrow zaffre"))
      .toDF("doc_id", "text")
    for ((hash, bits) <- Seq(
        (Dedup.md5Hash60(col("word")), Dedup.SimHashBits),
        (xxhash64(col("word")), 64))) {
      val m = Dedup.simhashFromHash(docs, hash, bits).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(m(1L) == m(2L), "identical docs must share a simhash")
      assert(m(1L) != m(3L), "disjoint docs should differ")
    }
  }

  test("simhash64_invariants counts letterless docs instead of dropping them") {
    // The gate's oracle is count(*) over ALL documents; a doc with no
    // letter tokens produces no signature row, so the spine must be
    // the documents table (left join), not an inner join of signature
    // relations. Letterless docs have ⊥ signatures under every
    // variant — null-safe equality counts them as invariant-holding.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = SparkSpec.tempDir("graft_sh64_spec").toString
    Seq((1L, "alpha beta gamma"), (2L, "12345 !?!? ..."), (3L, ""))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val row = Dedup.simhash64Invariants(spark, dir).collect().head
    assert(row.getLong(0) == 3L, s"n_docs must count all docs: $row")
    assert((1 to 3).map(row.getLong).forall(_ == 3L),
      s"every invariant counter must equal n_docs: $row")
  }

  test("fuzzy_pairs oracle precondition: the gate corpus is pure ASCII") {
    import org.apache.spark.sql.functions._
    // Spark levenshtein counts code points, DuckDB counts BYTES; the
    // engines agree only where byte = code point. This assertion is
    // what makes the fuzzy_pairs hash gate valid — if the synthetic
    // corpus ever grows non-ASCII text, this fails before the gate
    // silently diverges.
    val nonAscii = Tables.documents(spark, sfDir)
      .filter(not(col("text").rlike("^[\\x00-\\x7F]*$")))
      .count()
    assert(nonAscii == 0, "corpus contains non-ASCII docs; " +
      "fuzzy_pairs cannot be DuckDB-hash-gated on them")
  }

  test("fuzzy_pairs_unicode: multi-byte heads, same distances as ASCII gate") {
    import org.apache.spark.sql.functions._
    val ascii = Dedup.fuzzyPairs(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    val uni = Dedup.fuzzyPairsUnicode(spark, sfDir).collect()
    // the accent fold round-trips exactly, so the normalized distance
    // must equal the ASCII gate's distance pair-for-pair
    assert(uni.nonEmpty)
    assert(uni.map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
      == ascii)
    // the compared heads genuinely carried multi-byte UTF-8 (bytes >
    // codepoints wherever a vowel/c got accented) — the evidence the
    // gate hashes; an all-zero column would mean the multilingual
    // path silently degraded to ASCII
    assert(uni.map(_.getInt(3)).sum > 0, "no multi-byte head on side a")
    assert(uni.map(_.getInt(4)).sum > 0, "no multi-byte head on side b")
  }

  test("accent fold on the reference Portuguese fixture is byte-stable") {
    // the real multilingual case (the Portuguese TestInverted/3.txt
    // fixture): Spark sees more UTF-8 bytes than codepoints, and the
    // fixture's lowercase accent set folds to pure ASCII under the
    // gate's translate — the precondition for byte == codepoint
    // levenshtein on the folded column
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val fixture = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$refData/TestInverted/3.txt")), "UTF-8")
    val accented = "não é coração atenção depois está alguém"
    assert(fixture.contains("ã"), "fixture lost its Portuguese accents")
    val r = Seq((accented, fixture.take(2000)))
      .toDF("a", "fx")
      .select(
        (octet_length(col("a")) - length(col("a"))).as("extra_a"),
        (octet_length(col("fx")) - length(col("fx"))).as("extra_fx"),
        translate(col("a"), Dedup.AccentPt + "àâãêô", Dedup.AccentAscii + "aaaeo")
          .rlike("^[\\x00-\\x7F]*$").as("folds_ascii"))
      .collect().head
    assert(r.getInt(0) > 0 && r.getInt(1) > 0,
      s"expected multi-byte text: $r")
    assert(r.getBoolean(2), "accent fold left non-ASCII codepoints")
  }

  test("levenshtein is code-point based, astral text included") {
    // Pins Spark's semantics on non-BMP input (emoji = one edit, not
    // four byte edits). DuckDB measured values for the same pairs are
    // 4 / 8 / 2 (bytes) — recorded here so a future engine upgrade
    // that changes either side is caught by this spec or the gate.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val d = Seq(("a😀b", "ab"),              // emoji insert
                ("😀😀", ""),      // astral-only doc
                ("café", "cafe"))                 // BMP accent
      .toDF("a", "b")
      .select(levenshtein(col("a"), col("b"))).as[Int].collect().toSeq
    assert(d == Seq(1, 2, 1))
  }

  test("minhash delete: tombstones ∝ batch, masked pairs ≡ full ∖ deleted") {
    import org.apache.spark.sql.functions.col
    // the tombstone sidecar is exactly the delete batch (∝ batch)
    val st = graft.operators.SigStore.forDataset(spark, sfDir)
    val expectTomb = st.sig(spark)
      .filter(col("doc_id") % Dedup.DelEvery === Dedup.DelSlot).count()
    assert(expectTomb > 0, "delete batch empty — the gate is vacuous")
    assert(Dedup.lshTombStore(spark, sfDir).count() == expectTomb,
      "tombstone sidecar is not batch-shaped")
    // stale caps make the masked answer an exact derivation of the
    // full one: pairs(masked) = pairs(full) restricted to survivors
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2))
    val full = Dedup.minhashLsh(spark, sfDir).collect().map(key).toSet
    val masked = Dedup.minhashLshDelete(spark, sfDir).collect().map(key).toSet
    def survives(id: Long) = id % Dedup.DelEvery != Dedup.DelSlot
    assert(masked == full.filter(p => survives(p._1) && survives(p._2)),
      s"masked pair set is not full ∖ deleted: ${masked.size} vs " +
        s"${full.count(p => survives(p._1) && survives(p._2))}")
    assert(masked.size < full.size,
      "no pair touched the delete slot — the gate is vacuous")
    // tombstones land once; re-running is pure reads
    val t0 = Dedup.lshTombStores.builds.get()
    Dedup.minhashLshDelete(spark, sfDir).collect()
    assert(Dedup.lshTombStores.builds.get() == t0,
      "tombstone sidecar rebuilt on a second run")
  }

  test("dedup_ensemble: exact union of the three landed legs with " +
    "faithful provenance, detectors genuinely disagree") {
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = pairs(Dedup.minhashLsh(spark, sfDir))
    val sp = pairs(Dedup.simhashPairs(spark, sfDir))
    val ex = pairs(graft.operators.SigStore.exactPairs(spark, sfDir))
    val out = Dedup.dedupEnsemble(spark, sfDir).collect()
    val got = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (mh | sp | ex), "ensemble domain is not the union")
    out.foreach { r =>
      val p = (r.getLong(0), r.getLong(1))
      assert(r.getBoolean(2) == mh(p) && r.getBoolean(3) == sp(p) &&
        r.getBoolean(4) == ex(p), s"provenance flags drifted for $p")
      assert(r.getInt(5) ==
        Seq(mh(p), sp(p), ex(p)).count(identity), s"vote count for $p")
    }
    // the ensemble must be non-trivial: full-consensus pairs exist
    // AND at least one detector disagrees somewhere (else one leg
    // subsumes the others and the routing table is dead weight)
    assert(out.exists(_.getInt(5) == 3), "no full-consensus pair")
    assert(out.exists(_.getInt(5) < 3), "detectors never disagree")
    // all three legs are landed artifacts: a second ensemble run
    // rebuilds none of them (r17 — the simhash pipe was the last
    // recompute-per-run leg)
    val s0 = Dedup.simhashPairStores.builds.get()
    Dedup.dedupEnsemble(spark, sfDir).collect()
    assert(Dedup.simhashPairStores.builds.get() == s0,
      "ensemble re-ran the simhash pipeline")
  }

  test("dedup_ensemble_clustered: degenerate buckets route to O(n) star " +
    "edges, residual pairs keep verification, provenance faithful") {
    import org.apache.spark.sql.DataFrame
    val t = Dedup.EnsembleClusterBucket
    // ground-truth star edges recomputed scala-side from the banded
    // relation: buckets deeper than t, rep = bucket min, per-member
    // smallest rep, edge (rep, member) for rep < member
    def starExpect(banded: DataFrame): (Set[(Long, Long)], Int) = {
      val rows = banded.select("band", "bucket", "doc_id").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      val deg = rows.groupBy(r => (r._1, r._2)).values
        .filter(_.length > t).toSeq
      val repPerDoc = deg.flatMap { g =>
        val rep = g.map(_._3).min
        g.map(m => (m._3, rep))
      }.groupBy(_._1).map { case (doc, rs) => (doc, rs.map(_._2).min) }
      // .toSeq first: collect on a Map would re-key by rep and
      // collapse every edge sharing a representative to one entry
      val edges = repPerDoc.toSeq.collect {
        case (doc, rep) if rep < doc => (rep, doc)
      }.toSet
      (edges, deg.map(_.length).sum)
    }
    val st = graft.operators.SigStore.forDataset(spark, sfDir)
    val (mhStar, mhMembers) = starExpect(st.banded(spark))
    val (smStar, _) = starExpect(
      Dedup.simhashBandedFrom(Dedup.simhash(spark, sfDir)))
    // the gate corpus must exercise the cluster path in BOTH families
    assert(mhStar.nonEmpty && smStar.nonEmpty,
      s"no degenerate buckets at t=$t — the gate is not exercising " +
        "the cluster routing")
    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mhP = pairs(graft.operators.SigStore.lshPairs(spark, sfDir, maxBucket = t))
    val smP = pairs(Dedup.simhashPairs(spark, sfDir, maxBucket = t))
    val exP = pairs(graft.operators.SigStore.exactPairs(spark, sfDir))
    val out = Dedup.dedupEnsembleClustered(spark, sfDir).collect()
    val got = out.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == (mhStar | smStar | mhP | smP | exP),
      "clustered ensemble domain is not the union of stars + residuals")
    out.foreach { r =>
      val p = (r.getLong(0), r.getLong(1))
      assert(r.getBoolean(2) == (mhStar(p) || mhP(p)), s"in_minhash $p")
      assert(r.getBoolean(3) == (smStar(p) || smP(p)), s"in_simhash $p")
      assert(r.getBoolean(4) == exP(p), s"in_exact $p")
      assert(r.getBoolean(5) == (mhStar(p) || smStar(p)), s"clustered $p")
    }
    // the O(n) contract: star edges never exceed degenerate-bucket
    // membership (pairwise expansion would be quadratic in bucket
    // depth — the exact failure the operator exists to avoid)
    assert(mhStar.size <= mhMembers,
      s"minhash star edges ${mhStar.size} exceed members $mhMembers")
    // the routing table LANDS per (dataset, t): a second run rebuilds
    // no leg (the simhash build counter is the canary, as in
    // dedup_ensemble)
    val s0 = Dedup.simhashPairStores.builds.get()
    Dedup.dedupEnsembleClustered(spark, sfDir).collect()
    assert(Dedup.simhashPairStores.builds.get() == s0,
      "clustered ensemble re-ran the simhash pipeline")
  }

  test("minhash delete compact: purge ≡ mask, purged store = sig − " +
    "tombstones exactly, purged-segment-only plan") {
    import org.apache.spark.sql.functions.{col, count, lit, max}
    val st = graft.operators.SigStore.forDataset(spark, sfDir)
    // precondition that makes mask ≡ purge PROVABLE (not accidental):
    // no band bucket exceeds the cap in the full store, so the mask's
    // stale caps and the purge's re-derived caps drop nothing either
    // way — the two twins must then agree exactly
    val hottest = st.banded(spark).groupBy("band", "bucket")
      .agg(count(lit(1)).as("n")).agg(max("n")).collect()(0).getLong(0)
    assert(hottest <= Dedup.LshMaxBucket,
      s"gate corpus has a hot bucket ($hottest) — mask/purge cap " +
        "behavior diverges and this equality is no longer structural")
    val masked = Dedup.minhashLshDelete(spark, sfDir).collect().toSeq
    val purged = Dedup.minhashLshDeleteCompact(spark, sfDir).collect().toSeq
    assert(purged == masked,
      "post-purge pairs differ from the masked pairs")
    // the purge is complete and drops nothing else: purged sig =
    // landed sig − tombstones, banded shrinks by the same doc set
    def survives(id: Long) = id % Dedup.DelEvery != Dedup.DelSlot
    val (psig, pbanded) = Dedup.lshPurgedStore(spark, sfDir)
    val sigIds = st.sig(spark).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    val psigIds = psig.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(psigIds == sigIds.filter(survives),
      "purged sig store is not (landed sig − tombstones)")
    assert(pbanded.count() == st.banded(spark)
        .filter(col("doc_id") % Dedup.DelEvery =!= Dedup.DelSlot).count(),
      "purged banded store row count drifted from the survivor slice")
    // artifacts land once; the purge twin's plan reads the purged
    // root only — no tombstone read, no mask anywhere
    val p0 = Dedup.lshPurgeStores.builds.get()
    val df = Dedup.minhashLshDeleteCompact(spark, sfDir)
    df.collect()
    assert(Dedup.lshPurgeStores.builds.get() == p0,
      "purged store rebuilt on a second run")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_sigpurge"),
      "purge twin does not read the purged store:\n" + plan)
    assert(!plan.contains("graft_sigtomb"),
      "purge twin still reads tombstones (purge incomplete):\n" + plan)
  }
}
