package graft

import org.apache.spark.sql.functions._
import graft.operators.{Governance, Similarity}

class GovernanceSpec extends SparkSpec {

  test("k_anonymize: every released cell meets K and row mass is conserved") {
    val out = Governance.kAnonymize(spark, sfDir).collect()
    val total = Tables.customer(spark, sfDir).count()
    // anonymity invariant: no released (non-suppressed) cell below K
    out.filter(_.getInt(0) < 3).foreach { r =>
      assert(r.getLong(4) >= Governance.K, s"cell under K: $r")
    }
    // generalization ladder shape: band only at level 1, quasi-ids
    // null only at the suppressed level
    out.foreach { r =>
      r.getInt(0) match {
        case 1 => assert(!r.isNullAt(3) && !r.isNullAt(1))
        case 2 => assert(r.isNullAt(3) && !r.isNullAt(1))
        case 3 => assert(r.isNullAt(1) && r.isNullAt(2) && r.isNullAt(3))
      }
    }
    // mass conservation: released + suppressed = corpus
    assert(out.map(_.getLong(4)).sum == total)
  }

  test("l_diversity: every released cell meets BOTH gates, mass " +
    "conserved, and the diversity gate genuinely binds") {
    import org.apache.spark.sql.functions.{col, count, countDistinct,
      floor, lit, round}
    // binding assertions need a corpus where level-1 cells pass K at
    // all — sf0.001's customer table is too small (all cells under
    // K), so this test reads the sf0.01 SIBLING of the suite's data
    // dir (derived, not hardcoded), and skips with a clear message
    // where that fixture isn't staged
    val dir = new java.io.File(sfDir).getParentFile
      .toPath.resolve("sf0.01").toString
    assume(new java.io.File(dir, "customer.parquet").exists(),
      s"sf0.01 fixture absent at $dir — the binding assertions need it")
    val out = Governance.lDiversity(spark, dir).collect()
    val total = Tables.customer(spark, dir).count()
    out.filter(_.getInt(0) < 3).foreach { r =>
      assert(r.getLong(4) >= Governance.K, s"cell under K: $r")
      assert(r.getLong(5) >= Governance.LDiv, s"cell under L: $r")
    }
    assert(out.map(_.getLong(4)).sum == total, "row mass not conserved")
    // the DIVERSITY gate does work the count gate doesn't: some
    // level-1 cell passes K but fails L (else l_diversity ≡
    // k_anonymize and the rung is dead weight)
    val g1 = Tables.customer(spark, dir)
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / Governance.BalBand).as("b"),
        (round(col("c_acctbal") * 100).cast("bigint")
          % Governance.SensMod).as("sv"))
      .groupBy("c_nationkey", "c_mktsegment", "b")
      .agg(count(lit(1)).as("n"), countDistinct("sv").as("ns"))
      .collect()
    assert(g1.exists(r => r.getLong(3) >= Governance.K &&
      r.getLong(4) < Governance.LDiv),
      "no k-passing cell fails the diversity gate — L never binds")
    // and the released level-1 set is exactly the both-gates pass
    val wantL1 = g1.filter(r => r.getLong(3) >= Governance.K &&
      r.getLong(4) >= Governance.LDiv).length
    assert(out.count(_.getInt(0) == 1) == wantL1,
      "level-1 release drifted from the both-gates rule")
  }

  test("t_closeness: released cells meet K and the distance gate, mass " +
    "conserved, and the distance gate catches what l-diversity passes") {
    import org.apache.spark.sql.functions.{col, count, countDistinct,
      floor, lit, round}
    // same sibling-fixture rule as the l_diversity test: binding
    // assertions need cells that pass K at all
    val dir = new java.io.File(sfDir).getParentFile
      .toPath.resolve("sf0.01").toString
    assume(new java.io.File(dir, "customer.parquet").exists(),
      s"sf0.01 fixture absent at $dir — the binding assertions need it")
    val out = Governance.tCloseness(spark, dir).collect()
    val total = Tables.customer(spark, dir).count()
    val tMilli = 1000L * Governance.TCloseNum / Governance.TCloseDen
    out.filter(_.getInt(0) < 3).foreach { r =>
      assert(r.getLong(4) >= Governance.K, s"cell under K: $r")
      val tvd = r.getLong(5)
      // floor(500X/nN) ≤ 1000t is EXACTLY the release gate's algebra
      assert(tvd >= 0 && tvd <= tMilli, s"released cell over t: $r")
    }
    assert(out.map(_.getLong(4)).sum == total, "row mass not conserved")
    assert(out.count(_.getInt(0) == 1) > 0 &&
      out.count(_.getInt(0) == 2) > 0 && out.count(_.getInt(0) == 3) > 0,
      "a ladder level is vacuous")
    // the DISTANCE gate does work the diversity gate doesn't: some
    // level-1 cell passes K AND l-diversity yet fails t-closeness
    // (the skewness attack t-closeness was published to close)
    val g1 = Tables.customer(spark, dir)
      .select(col("c_nationkey"), col("c_mktsegment"),
        floor(col("c_acctbal") / Governance.BalBand).as("b"),
        (round(col("c_acctbal") * 100).cast("bigint")
          % Governance.SensMod).as("sv"))
      .groupBy("c_nationkey", "c_mktsegment", "b")
      .agg(count(lit(1)).as("n"), countDistinct("sv").as("ns"))
      .collect()
    val ldivPass = g1.filter(r => r.getLong(3) >= Governance.K &&
      r.getLong(4) >= Governance.LDiv)
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet
    val rel1 = out.filter(_.getInt(0) == 1)
      .map(r => (r.getInt(1), r.getString(2), r.getLong(3))).toSet
    assert(rel1.subsetOf(ldivPass.union(g1.filter(
      _.getLong(3) >= Governance.K)
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2))).toSet)))
    assert((ldivPass -- rel1).nonEmpty,
      "no l-diversity-passing cell fails t-closeness — t never binds " +
        "past l-diversity")
  }

  test("dp_release: mechanism is deterministic, bounded, and clamped") {
    val a = Governance.dpRelease(spark, sfDir).collect()
    val b = Governance.dpRelease(spark, sfDir).collect()
    assert(a.toSeq == b.toSeq) // PRF noise: a release is reproducible
    a.foreach { r =>
      val (n, noise, ndp) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(noise >= -19 && noise <= 19, s"noise outside support: $r")
      assert(ndp == math.max(0L, n + noise), s"clamp violated: $r")
    }
    // the mechanism actually perturbs: not every group's noise is 0
    // (P(all zero) ≈ (1/3)^|groups| for the two-sided geometric; the
    // md5 PRF is fixed, so this is a deterministic property of the
    // release, not a flaky draw)
    assert(a.exists(_.getLong(2) != 0L))
  }

  test("dp_sum: clipping bounds the sensitivity, noise on the C grid, " +
    "clamped post-processing") {
    val out = Governance.dpSum(spark, sfDir).collect()
    val n = Tables.customer(spark, sfDir).count()
    out.foreach { r =>
      val (sc, units, dps) = (r.getLong(1), r.getLong(2), r.getLong(3))
      // a clipped sum is bounded by rows × C — the sensitivity story
      assert(sc >= 0 && sc <= n * Governance.DpClipCents, s"clip leak: $r")
      assert(units >= -19 && units <= 19, s"noise outside support: $r")
      assert(dps == math.max(0L, sc + Governance.DpClipCents * units),
        s"grid/clamp violated: $r")
    }
    assert(out.exists(_.getLong(2) != 0L), "mechanism never perturbed")
  }

  test("dp_user_count: two-level contribution bounding is exact, " +
    "noise on the L1 user-sensitivity grid, both bounds bind") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val out = Governance.dpUserCount(spark, sfDir).collect()
    // plain-Scala replay: per user keep the first DpMaxGroups groups
    // by md5-PRF rank (name only as tie-break), cap each kept group's
    // events at DpUserCap, sum per type
    val perUser = Tables.events(spark, sfDir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .groupBy(_._1)
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      d.map("%02x".format(_)).mkString
    }
    val want = perUser.values.flatMap { rows =>
      rows.sortBy(r => (md5hex(s"${r._1}:${r._2}"), r._2))
        .take(Governance.DpMaxGroups.toInt)
        .map(r => r._2 -> math.min(r._3, Governance.DpUserCap))
    }.groupBy(_._1).map { case (t, xs) => t -> xs.map(_._2).sum }
    val grid = Governance.DpMaxGroups * Governance.DpUserCap
    assert(out.nonEmpty)
    out.foreach { r =>
      val (t, nc, units, ndp) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nc == want(t), s"bound replay mismatch: $r vs ${want(t)}")
      assert(units >= -19 && units <= 19)
      assert(ndp == math.max(0L, nc + grid * units), s"grid violated: $r")
    }
    // BOTH bounds bind on this corpus (else the rung is vacuous):
    // some user exceeds the group bound, some kept group exceeds the cap
    assert(perUser.values.exists(_.size > Governance.DpMaxGroups.toInt),
      "group bound never bound")
    assert(perUser.values.exists(
      _.sortBy(r => (md5hex(s"${r._1}:${r._2}"), r._2))
        .take(Governance.DpMaxGroups.toInt)
        .exists(_._3 > Governance.DpUserCap)),
      "event cap never bound")
  }

  test("dp_budget: cumulative spend is exact, the over-budget release " +
    "is refused, ledger sidecar lands once") {
    val out = Governance.dpBudget(spark, sfDir).collect()
    assert(out.length == Governance.DpSchedule.length)
    // seq order, one ε unit per release; cumulative spend advances on
    // ACCEPTED rows only (greedy admission: a refused release
    // publishes nothing, so it spends nothing — its cum_units equals
    // the accepted prefix, and a later affordable release would still
    // be admitted)
    var cum = 0L
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == i + 1, s"seq order broken: $r")
      assert(r.getLong(2) == 1L, s"eps drifted: $r")
      val ok = cum + 1 <= Governance.DpBudgetUnits
      if (ok) cum += 1
      assert(r.getLong(3) == cum, s"cumulative spend drifted: $r")
      assert(r.getLong(4) == Governance.DpBudgetUnits)
      assert(r.getBoolean(5) == ok, s"admission drifted: $r")
    }
    // within budget → released with a non-empty vector; the refresh
    // that would exceed the budget → refused, vector withheld
    val (in, over) = out.partition(_.getBoolean(5))
    assert(in.length == Governance.DpBudgetUnits &&
      in.forall(r => r.getBoolean(5) && !r.isNullAt(6) && r.getLong(6) > 0),
      s"an in-budget release was refused or empty: ${in.toSeq}")
    assert(over.nonEmpty && over.forall(r =>
      !r.getBoolean(5) && r.isNullAt(6)),
      s"the over-budget release was not refused: ${over.toSeq}")
    // the refused row is the REFRESH — composition spends a full unit
    // even on a repeated statistic
    assert(over.head.getString(1) == "dp_release_refresh")
    // the ε sidecar lands once; a second accounting is a pure read
    val b0 = Governance.dpLedgerStores.builds.get()
    Governance.dpBudget(spark, sfDir).collect()
    assert(Governance.dpLedgerStores.builds.get() == b0,
      "ledger sidecar rebuilt on a second run")
    assert(Governance.dpLedger(spark, sfDir).count() ==
      Governance.DpSchedule.length)
  }

  test("shard_manifest: mass conservation, hash-uniform shards, " +
    "order-sensitive checksum") {
    val m = Governance.shardManifest(spark, sfDir).collect()
    val docs = Tables.documents(spark, sfDir)
    val total = docs.count()
    val chars = docs.agg(sum("n_chars")).collect()(0).getLong(0)
    assert(m.length == Governance.NumShards)
    assert(m.map(_.getLong(1)).sum == total)
    assert(m.map(_.getLong(2)).sum == chars)
    // hash-uniformity: no shard more than 3x the mean (binomial tail
    // at n=500/16 makes this deterministic-safe by a wide margin)
    val mean = total.toDouble / Governance.NumShards
    m.foreach(r => assert(r.getLong(1) < 3 * mean, s"skewed shard: $r"))
    // checksums are position-weighted: distinct across shards (equal
    // checksums for different doc sets would be a 1/2^31 accident)
    assert(m.map(_.getLong(3)).distinct.length == m.length)
  }

  test("shard_manifest_incremental: ≡ full manifest, untouched shards " +
    "byte-stable from the landed base, refresh ∝ touched") {
    import org.apache.spark.sql.functions.{col, count, lit}
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    val full = Governance.shardManifest(spark, sfDir).collect().map(key)
    val incr = Governance.shardManifestIncremental(spark, sfDir)
      .collect().map(key)
    assert(incr.toSeq == full.toSeq,
      "incremental manifest drifted from the full manifest")
    // the touched set is a strict subset of the shards — the
    // append-stability receipt is non-vacuous BOTH ways
    val docs = Tables.documents(spark, sfDir)
    val shardOf = graft.operators.PipelineOps.hashBucket(
      col("doc_id"), Governance.NumShards, "shard")
    val touched = docs
      .filter(col("doc_id") % Governance.ManifestIncrEvery ===
        Governance.ManifestIncrSlot)
      .select(shardOf.as("shard")).distinct().collect()
      .map(_.getLong(0)).toSet
    assert(touched.nonEmpty, "append batch empty — receipt vacuous")
    assert(touched.size < Governance.NumShards,
      "every shard touched — stability receipt vacuous")
    // untouched shards: the BASE artifact's rows are byte-identical
    // to the full manifest's (n_docs, weight, AND checksum) — the
    // append-stability property itself
    val base = Governance.manifestBase(spark, sfDir).collect().map(key)
      .map(r => r._1 -> r).toMap
    full.filter(r => !touched.contains(r._1)).foreach { r =>
      assert(base(r._1) == r,
        s"untouched shard ${r._1} not byte-stable across the append: " +
          s"base=${base(r._1)} full=$r")
    }
    // and touched shards genuinely changed (else the slot aliased)
    assert(full.filter(r => touched.contains(r._1))
        .exists(r => base(r._1) != r),
      "no touched shard changed — the batch aliased into the base")
    // refresh cost ∝ touched: the recomputed window's input is the
    // touched shards' membership, a strict subset of the corpus
    val touchedDocs = docs.filter(shardOf.isin(touched.toSeq: _*)).count()
    assert(touchedDocs < docs.count(),
      "touched membership is the whole corpus — nothing was pruned")
    // base artifact lands once; a second refresh is a pure read
    val b0 = Governance.manifestBaseStores.builds.get()
    Governance.shardManifestIncremental(spark, sfDir).collect()
    assert(Governance.manifestBaseStores.builds.get() == b0,
      "base manifest rebuilt on a second run")
  }

  test("takedown_audit: every family's live_after equals its PURGED " +
    "artifact, tombstones equal the sidecars") {
    import graft.operators.{Dedup, Multimodal, Retrieval}
    val audit = Governance.takedownAudit(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(audit.keySet == Set("ann_ivf", "bm25_postings",
      "media_features", "minhash_signatures", "positional_postings",
      "catalog_versions"))
    // derived arithmetic holds on every row, and nothing is vacuous
    audit.values.foreach { case (t, before, after) =>
      assert(t > 0 && after == before - t && after > 0)
    }
    // the audit's numbers are the REAL artifacts': tombstones match
    // each family's landed sidecar, live_after matches each family's
    // landed PURGED store (the cross-store consistency the audit
    // certifies)
    assert(audit("ann_ivf")._1 ==
      Similarity.ivfTombStore(spark, sfDir).count())
    assert(audit("ann_ivf")._3 ==
      Similarity.ivfDelCompactStore(spark, sfDir)._1.count())
    assert(audit("bm25_postings")._1 ==
      Retrieval.tombStore(spark, sfDir).count())
    assert(audit("bm25_postings")._3 ==
      Retrieval.delCompactPostings(spark, sfDir)
        .select("doc_id").distinct().count())
    assert(audit("minhash_signatures")._1 ==
      Dedup.lshTombStore(spark, sfDir).count())
    assert(audit("minhash_signatures")._3 ==
      Dedup.lshPurgedStore(spark, sfDir)._1.count())
    assert(audit("media_features")._1 ==
      Multimodal.mediaTombStore(spark, sfDir).count())
    assert(audit("media_features")._3 ==
      Multimodal.mediaPurgedSegment(spark, sfDir).count())
    assert(audit("positional_postings")._1 ==
      Retrieval.tombStore(spark, sfDir).count())
    assert(audit("positional_postings")._3 ==
      Retrieval.ppPurgedStore(spark, sfDir)
        .select("doc_id").distinct().count())
  }

  test("hard_negatives: positive shares the anchor's label, " +
    "negative does not, similarities are top-1") {
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val t = Similarity.hardNegatives(spark, sfDir).collect()
    assert(t.nonEmpty && t.length <= Similarity.MiningAnchors)
    t.foreach { r =>
      val q = r.getLong(0)
      // pos/neg are nullable by construction (a singleton label class
      // leaves its pool empty) — guard like the IVF twin's spec
      if (!r.isNullAt(1)) {
        val pos = r.getLong(1)
        assert(e(pos) == e(q) && pos != q, s"positive pool violated: $r")
        assert(math.abs(r.getDouble(2)) <= 1.0 + 1e-9)
      }
      if (!r.isNullAt(3)) {
        val neg = r.getLong(3)
        assert(e(neg) != e(q) && neg != q, s"negative pool violated: $r")
        assert(math.abs(r.getDouble(4)) <= 1.0 + 1e-9)
      }
    }
    // the corpus has multi-member label classes — pools non-vacuous
    assert(t.exists(r => !r.isNullAt(1)) && t.exists(r => !r.isNullAt(3)))
  }
}
