package graft

import graft.operators.Similarity

class SimilaritySpec extends SparkSpec {

  test("brute-force knn: self excluded, k rows per query, cos in [-1,1]") {
    val rows = Similarity.knnBruteForce(spark, sfDir).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == Similarity.NumQueries)
    byQ.foreach { case (q, rs) =>
      assert(rs.length == Similarity.TopK)
      assert(rs.forall(_.getLong(2) != q), "self must be excluded")
      assert(rs.forall(r => math.abs(r.getDouble(3)) <= 1.0 + 1e-9))
      // ranks are 1..k with non-increasing cosine
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to Similarity.TopK))
      val cs = sorted.map(_.getDouble(3)).toSeq
      assert(cs == cs.sorted.reverse, "cosine must be non-increasing in rank")
    }
  }

  test("native lsh signatures are bit-identical to the declarative form") {
    // the fused-loop LshSigs expression must reproduce the
    // zip_with/aggregate fold EXACTLY (same left-to-right adds, same
    // null-poisoned all-zero bands) — the hash oracle depends on even
    // the sign of a near-zero projection agreeing
    import org.apache.spark.sql.functions._
    val e = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val cmp = e.select(col("vec_id"),
        Similarity.lshBandSignatures(col("v")).as("decl"),
        graft.functions.GraftFunctions.lshSigsNative(spark, col("v")).as("nat"))
      .filter(not(col("decl") <=> col("nat")))
    assert(cmp.count() == 0, cmp.take(3).mkString("\n"))
  }

  test("ann lsh returns a subset of plausible neighbors with decent top-1") {
    // With random-hyperplane buckets the exact top-1 may fall in a
    // different bucket; assert structure, not exact recall: every ANN
    // neighbor's cosine must be <= the exact top-1 for that query.
    val exact = Similarity.knnBruteForce(spark, sfDir).collect()
      .groupBy(_.getLong(0)).map { case (q, rs) =>
        q -> rs.map(_.getDouble(3)).max }
    val ann = Similarity.annLsh(spark, sfDir).collect()
    ann.foreach { r =>
      val q = r.getLong(0)
      assert(r.getDouble(3) <= exact(q) + 1e-9,
        "ANN cannot beat the exact top-1")
    }
  }

  test("ann lsh recall vs brute force >= 0.6 at sf0.01") {
    // Deterministic, not flaky: the hyperplanes are hash-derived, so
    // recall is a fixed function of the data (measured 0.88 at sf0.01,
    // 0.68 at sf0.001 with 10 bands x 4 planes). The banded
    // OR-construction is what makes this pass — the round-2 single
    // 12-plane AND signature measured 0.08 here.
    val d = "/root/testdata/sf0.01"
    val exact = Similarity.knnBruteForce(spark, d).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val ann = Similarity.annLsh(spark, d).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val hits = exact.map { case (q, s) =>
      s.intersect(ann.getOrElse(q, Set.empty)).size }.sum
    val total = exact.values.map(_.size).sum
    assert(hits.toDouble / total >= 0.6,
      s"LSH recall too low: $hits/$total")
  }

  test("ann ivf: probes bound the search and recall vs brute force is sane") {
    val exact = Similarity.knnBruteForce(spark, sfDir).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val ivf = Similarity.annIvf(spark, sfDir).collect()
    val byQ = ivf.groupBy(_.getLong(0))
    assert(byQ.keySet == exact.keySet, "every query must return rows")
    byQ.foreach { case (q, rs) =>
      assert(rs.length <= Similarity.TopK)
      assert(rs.forall(_.getLong(2) != q), "self must be excluded")
      // ANN cosine can never beat the exact top-1
      val exactTop = Similarity.knnBruteForce(spark, sfDir).collect()
        .filter(_.getLong(0) == q).map(_.getDouble(3)).max
      assert(rs.forall(_.getDouble(3) <= exactTop + 1e-9))
    }
    // aggregate recall across queries: with 2 Lloyd iterations and
    // nprobe/K = 1/2 (this corpus is near-random — cos(top-1) ≈ 0.4 —
    // so true neighbors spread across clusters; tighter corpora probe
    // fewer). Deterministic: seeds and assignment are hash-derived.
    // Measured 0.80 at sf0.001, 0.72 at sf0.01.
    val hits = byQ.map { case (q, rs) =>
      rs.map(_.getLong(2)).count(exact(q)) }.sum
    val total = exact.values.map(_.size).sum
    assert(hits.toDouble / total >= 0.7,
      s"IVF recall too low: $hits/$total")
  }

  test("ann ivf-pq: recall >= the plain-IVF floor; rerank is list-pruned") {
    val exact = Similarity.knnBruteForce(spark, sfDir).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val ivf = Similarity.annIvf(spark, sfDir).collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    val pq = Similarity.annIvfPq(spark, sfDir).collect()
    val byQ = pq.groupBy(_.getLong(0))
    assert(byQ.keySet == exact.keySet, "every query must return rows")
    byQ.foreach { case (q, rs) =>
      assert(rs.length <= Similarity.TopK)
      assert(rs.forall(_.getLong(2) != q), "self must be excluded")
    }
    // the int8 shortlist + exact rerank may only lose a true neighbor
    // the PLAIN exact-scoring probe also lost (same probed lists), so
    // PQ recall is pinned at >= the IVF floor minus nothing — with
    // RerankDepth 25 >> TopK 5 the quantization can't evict a true
    // neighbor from the shortlist on this data (measured equal)
    def recall(ann: Map[Long, Set[Long]]): Double = {
      val hits = exact.map { case (q, s) =>
        s.intersect(ann.getOrElse(q, Set.empty)).size }.sum
      hits.toDouble / exact.values.map(_.size).sum
    }
    val pqSets = byQ.map { case (q, rs) => q -> rs.map(_.getLong(2)).toSet }
    assert(recall(pqSets) >= recall(ivf),
      s"IVF-PQ recall ${recall(pqSets)} below plain IVF ${recall(ivf)}")
    // both store scans are partition-pruned to the probed cid lists
    val plan = Similarity.annIvfPq(spark, sfDir)
      .queryExecution.executedPlan.toString
    val storeScans = plan.linesIterator
      .filter(_.contains("graft_ivfpq")).toList
    assert(storeScans.size == 2,
      s"expected the code scan + rerank fetch of the store:\n$plan")
    storeScans.foreach(l => assert(l.contains("PartitionFilters: [cid"),
      s"a PQ store scan is not pruned on cid:\n$l"))
  }

  test("ann ivf: the float-index probe is partition-pruned to the probed lists") {
    // round-13 layout parity with the PQ store: the inverted file
    // lands PARTITIONED BY cid, so the probe reads only the probed
    // lists' directories instead of scanning the index and
    // discarding at the join
    val df = Similarity.annIvf(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val idxScans = plan.linesIterator
      .filter(l => l.contains("graft_ivf") && !l.contains("graft_ivfpq"))
      .filter(_.contains("/idx")).toList
    assert(idxScans.nonEmpty, s"no inverted-file scan found:\n$plan")
    idxScans.foreach(l => assert(l.contains("PartitionFilters: [cid"),
      s"the inverted-file scan is not pruned on cid:\n$l"))
  }

  test("ann ivf incremental: ≡ full index, delta ∝ batch, reads both segments") {
    import org.apache.spark.sql.functions._
    // maintenance must be invisible in the answer: base ∪ delta at
    // the landed centroids answers exactly like the full inverted file
    val full = Similarity.annIvf(spark, sfDir).collect().toSeq
    val incr = Similarity.annIvfIncremental(spark, sfDir).collect().toSeq
    assert(incr == full,
      "incremental segments answered differently from the full index")
    // the delta segment holds EXACTLY the batch (update cost ∝ batch:
    // the separate assignment pass touched batch vectors only), and
    // its assignments agree with the full index's for the same ids
    val batchIds = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") % Similarity.IvfIncrEvery ===
        Similarity.IvfIncrSlot)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val delta = Similarity.ivfDeltaSegment(spark, sfDir)
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(delta.keySet == batchIds,
      s"delta segment ids != batch ids (delta=${delta.size}, " +
        s"batch=${batchIds.size})")
    val fullCells = Similarity.ivfIndex(spark, sfDir)
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    delta.foreach { case (id, cid) =>
      assert(fullCells(id) == cid,
        s"delta assignment drifted for vec $id: $cid != ${fullCells(id)}")
    }
    // segments land once; probes read BOTH landed segments, pruned
    val b0 = Similarity.ivfIncStores.builds.get()
    val df = Similarity.annIvfIncremental(spark, sfDir)
    df.collect()
    assert(Similarity.ivfIncStores.builds.get() == b0,
      "incremental segments rebuilt on a second run")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_ivfb") && plan.contains("graft_ivfd"),
      "probe does not read both landed segments:\n" + plan)
    plan.linesIterator
      .filter(l => l.contains("graft_ivfb") || l.contains("graft_ivfd"))
      .filter(_.contains("Location")).foreach(l =>
        assert(l.contains("PartitionFilters: [cid"),
          s"segment scan not pruned on cid:\n$l"))
  }

  test("ann ivf compact: ≡ full index, single-segment probe, builds once") {
    // compaction must be invisible in the answer: the folded single
    // segment answers exactly like the full inverted file (and so
    // like the base ∪ delta pair it folded)
    val full = Similarity.annIvf(spark, sfDir).collect().toSeq
    val cmp = Similarity.annIvfCompact(spark, sfDir).collect().toSeq
    assert(cmp == full,
      "compacted segment answered differently from the full index")
    // the compacted store IS the fold: base ∪ delta row-for-row
    val (cmpIdx, cmpCent) = Similarity.ivfCompactStore(spark, sfDir)
    val folded = cmpIdx.select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fullCells = Similarity.ivfIndex(spark, sfDir)
      .select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(folded == fullCells,
      s"fold dropped/duplicated vectors: ${folded.size} vs ${fullCells.size}")
    // centroids carried alongside — post-compaction probing stands on
    // the compacted root alone
    assert(cmpCent.count() == Similarity.IvfClusters)
    // the fold lands once; the probe reads ONE segment (the compacted
    // root), never the base/delta pair or the live full index
    val b0 = Similarity.ivfCmpStores.builds.get()
    val df = Similarity.annIvfCompact(spark, sfDir)
    df.collect()
    assert(Similarity.ivfCmpStores.builds.get() == b0,
      "compacted segment rebuilt on a second run")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_ivfc"),
      "probe does not read the compacted segment:\n" + plan)
    assert(!plan.contains("graft_ivfb") && !plan.contains("graft_ivfd"),
      "post-compaction probe still reads the base/delta segments:\n" + plan)
    // layout survives the fold: the single segment scan stays
    // partition-pruned on cid
    plan.linesIterator
      .filter(l => l.contains("graft_ivfc") && l.contains("Location"))
      .foreach(l => assert(l.contains("PartitionFilters: [cid"),
        s"compacted scan not pruned on cid:\n$l"))
  }

  test("ann ivf delete: tombstones ∝ batch, mask ≡ purge, purge complete") {
    import org.apache.spark.sql.functions.col
    // the tombstone sidecar is exactly the delete batch
    val idx = Similarity.ivfIndex(spark, sfDir)
    val expectTomb = idx.filter(
      col("vec_id") % Similarity.IvfDelEvery === Similarity.IvfDelSlot).count()
    assert(expectTomb > 0, "delete batch empty — the gate is vacuous")
    assert(Similarity.ivfTombStore(spark, sfDir).count() == expectTomb,
      "tombstone sidecar is not batch-shaped")
    // masked probe leaks no deleted vector; at fixed centroids the
    // masked answer and the post-purge answer are IDENTICAL
    val masked = Similarity.annIvfDelete(spark, sfDir).collect().toSeq
    val purged = Similarity.annIvfDeleteCompact(spark, sfDir).collect().toSeq
    assert(masked.nonEmpty && masked.forall(r =>
      r.getLong(2) % Similarity.IvfDelEvery != Similarity.IvfDelSlot),
      "a deleted vector leaked through the mask")
    assert(purged == masked,
      "post-purge probe answered differently from the masked probe")
    // the purge is COMPLETE and drops nothing else: purged store =
    // live index minus exactly the tombstoned ids
    val (delIdx, delCent) = Similarity.ivfDelCompactStore(spark, sfDir)
    val purgedCells = delIdx.select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fullCells = idx.select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(purgedCells == fullCells.filter(_._1 %
      Similarity.IvfDelEvery != Similarity.IvfDelSlot),
      "purged store is not (live index − tombstones)")
    assert(delCent.count() == Similarity.IvfClusters,
      "centroids not carried alongside the purged segment")
    // builds land once; the post-purge probe stands on the purged
    // root alone — no tombstone read, no mask, cid pruning intact
    val (t0, c0) = (Similarity.ivfTombStores.builds.get(),
      Similarity.ivfDelCmpStores.builds.get())
    val df = Similarity.annIvfDeleteCompact(spark, sfDir)
    df.collect()
    assert(Similarity.ivfTombStores.builds.get() == t0 &&
      Similarity.ivfDelCmpStores.builds.get() == c0,
      "delete artifacts rebuilt on a second run")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_ivfdc"),
      "post-purge probe does not read the purged segment:\n" + plan)
    assert(!plan.contains("graft_ivft"),
      "post-purge probe still reads tombstones (purge incomplete):\n" + plan)
    plan.linesIterator
      .filter(l => l.contains("graft_ivfdc") && l.contains("Location"))
      .foreach(l => assert(l.contains("PartitionFilters: [cid"),
        s"purged scan not pruned on cid:\n$l"))
    // the MASKED probe, by contrast, reads live index + tombstones
    val mdf = Similarity.annIvfDelete(spark, sfDir)
    mdf.collect()
    val mplan = mdf.queryExecution.executedPlan.toString
    assert(mplan.contains("graft_ivft"),
      "masked probe does not read the tombstone sidecar:\n" + mplan)
  }

  test("semdedup delete: survivors only, dup_of re-anchors, one shared sidecar") {
    def survives(id: Long) =
      id % Similarity.IvfDelEvery != Similarity.IvfDelSlot
    val full = Similarity.semDedup(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) -1L else r.getLong(3)))
      .toMap
    val del = Similarity.semDedupDelete(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) -1L else r.getLong(3)))
      .toMap
    // output domain = the surviving vectors, exactly
    assert(del.keySet == full.keySet.filter(survives),
      "delete output domain is not the survivor set")
    // no dup_of may anchor on a deleted vector
    assert(del.values.forall(d => d == -1L || survives(d)),
      "a dup_of anchors on a deleted vector")
    del.foreach { case (v, d) =>
      val fd = full(v)
      if (fd != -1L && survives(fd))
        // the full anchor survived: it is still the class minimum
        assert(d == fd, s"vec $v lost its surviving anchor: $d vs $fd")
      else if (fd != -1L)
        // the full anchor was deleted: re-anchor later (or flip KEPT)
        assert(d == -1L || d > fd,
          s"vec $v re-anchored non-monotonically: $d vs deleted $fd")
      else assert(d == -1L, s"vec $v was KEPT in full but duped after delete")
    }
    // the delete artifact is SHARED with ann_ivf_delete — consuming it
    // here must not mint a second sidecar
    val t0 = Similarity.ivfTombStores.builds.get()
    Similarity.semDedupDelete(spark, sfDir).collect()
    assert(Similarity.ivfTombStores.builds.get() == t0,
      "semdedup_delete rebuilt the tombstone sidecar")
  }

  test("semdedup delete compact: purge ≡ mask, purged-segment-only plan, " +
    "shared compaction artifact") {
    val masked = Similarity.semDedupDelete(spark, sfDir).collect().toSeq
    val compacted = Similarity.semDedupDeleteCompact(spark, sfDir)
      .collect().toSeq
    assert(compacted == masked,
      "post-purge semdedup differs from the masked twin")
    // the purged segment is the SAME artifact ann_ivf_delete_compact
    // landed — consuming it here must not mint a second compaction,
    // nor re-touch the tombstone sidecar
    val (t0, c0) = (Similarity.ivfTombStores.builds.get(),
      Similarity.ivfDelCmpStores.builds.get())
    val df = Similarity.semDedupDeleteCompact(spark, sfDir)
    df.collect()
    assert(Similarity.ivfTombStores.builds.get() == t0 &&
      Similarity.ivfDelCmpStores.builds.get() == c0,
      "delete-compaction artifacts rebuilt on a second run")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_ivfdc"),
      "purge twin does not read the purged segment:\n" + plan)
    assert(!plan.contains("graft_ivft"),
      "purge twin still reads tombstones (purge incomplete):\n" + plan)
  }

  test("ann_project_rerank: sketch shortlist carries signal, rerank " +
    "cosines are exact, sketch store lands once and is the scanned side") {
    val bf = Similarity.knnBruteForce(spark, sfDir).collect()
    val bfSets = bf.map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val bfCos = bf.map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3))
      .toMap
    val pr = Similarity.annProjectRerank(spark, sfDir).collect()
    // structure: ≤ TopK ranked rows per query, self excluded
    pr.groupBy(_.getLong(0)).foreach { case (q, rows) =>
      assert(rows.length <= Similarity.TopK)
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to rows.length))
      assert(rows.forall(_.getLong(2) != q))
    }
    // the rerank is EXACT on the shortlist: every returned cosine is
    // the brute-force cosine of that (query, neighbor) pair — the
    // approximation lives only in which candidates the sketch kept
    pr.filter(r => bfCos.contains((r.getLong(0), r.getLong(2))))
      .foreach(r => assert(r.getDouble(3) ==
        bfCos((r.getLong(0), r.getLong(2))),
        s"rerank cosine drifted from exact: $r"))
    // recall vs brute force: the 16-dim sketch keeps ProjShortlist
    // (10% of this corpus) and recovers ~52% of the true top-K —
    // far above the ~10% a random shortlist of that size would give,
    // on a synthetic corpus whose neighbors are near-noise (max cos
    // ~0.35; real embedding corpora separate much harder). Floor
    // pinned under the measured 0.52.
    val prSets = pr.map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = bfSets.keys.toSeq.map(q =>
      (prSets.getOrElse(q, Set.empty) & bfSets(q)).size.toDouble /
        bfSets(q).size)
    assert(recall.sum / recall.size >= 0.4,
      s"sketch shortlist lost the signal: recall=${recall.sum / recall.size}")
    // sketch store lands once; the coarse pass reads IT (the 4×
    // narrower artifact), and the full-vector side enters the rerank
    // via broadcast joins only — vectors are never shuffled
    val b0 = Similarity.sketchStores.builds.get()
    val df = Similarity.annProjectRerank(spark, sfDir)
    df.collect()
    assert(Similarity.sketchStores.builds.get() == b0,
      "sketch store rebuilt on a second run")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_sketch"),
      "coarse pass does not read the landed sketch store:\n" + plan)
    assert(!plan.contains("SortMergeJoin"),
      "a corpus-side join shuffled instead of broadcasting:\n" + plan)
  }

  test("ann_project_rerank incremental: ≡ single store, delta ∝ batch, " +
    "segments land once") {
    val full = Similarity.annProjectRerank(spark, sfDir).collect().toSeq
    val incr = Similarity.annProjectRerankIncremental(spark, sfDir)
      .collect().toSeq
    assert(incr == full,
      "2-segment sketch probe diverged from the single-store answer")
    // the delta holds exactly the batch (projection ∝ batch), and the
    // batch never reached the base segment
    val nBatch = Tables.embeddings(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("vec_id")
        % Similarity.SketchIncrEvery === Similarity.SketchIncrSlot).count()
    assert(nBatch > 0, "empty sketch batch — gate vacuous")
    assert(Similarity.sketchDeltaSegment(spark, sfDir).count() == nBatch,
      "delta segment is not batch-shaped")
    assert(Similarity.sketchBaseSegment(spark, sfDir)
      .filter(org.apache.spark.sql.functions.col("vec_id")
        % Similarity.SketchIncrEvery === Similarity.SketchIncrSlot)
      .count() == 0, "batch sketches leaked into the base segment")
    val b0 = Similarity.sketchSegStores.builds.get()
    Similarity.annProjectRerankIncremental(spark, sfDir).collect()
    assert(Similarity.sketchSegStores.builds.get() == b0,
      "sketch segments rebuilt on a second run")
  }

  test("ann ivf pruned: nprobe ≪ K — probed cells ≪ cell count, scan pruned") {
    import org.apache.spark.sql.functions._
    val df = Similarity.annIvfPruned(spark, sfDir)
    val rows = df.collect()
    // shape: k rows per query, self excluded, ranks dense
    assert(rows.length == Similarity.NumQueries * Similarity.TopK)
    rows.foreach(r => assert(r.getLong(0) != r.getLong(2), s"self hit: $r"))
    // the probed-cid union is bounded by queries × nprobe = 20 — a
    // real fraction of the 64 cells, unlike the K=16/nprobe=8 gate
    // workload (probes ~15/16 cells): recompute the probe driver-side
    val (idx, cent) = Similarity.ivfStoreK(spark, sfDir,
      Similarity.IvfPrunedK)
    val cents = cent.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toSeq
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < Similarity.NumQueries)
      .select(col("vec_id"), transform(col("embedding"),
        x => x.cast("double")).as("v")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      def dot(x: Array[Double], y: Array[Double]) =
        x.zip(y).map { case (p, q) => p * q }.sum
      BigDecimal(dot(a, b) / math.sqrt(dot(a, a) * dot(b, b)))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val probed = vecs.flatMap { case (_, qv) =>
      cents.map { case (cid, cv) => (cid, cos(qv, cv)) }
        .sortBy { case (cid, c) => (-c, cid) }
        .take(Similarity.IvfPrunedProbes).map(_._1)
    }.toSet
    val nCells = idx.select("cid").distinct().count()
    assert(probed.size <= Similarity.NumQueries * Similarity.IvfPrunedProbes)
    assert(probed.size < nCells / 2,
      s"pruning twin degenerate: probed ${probed.size} of $nCells cells")
    // the plan's inverted-file scan is partition-pruned to those cells
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    val idxScans = plan.linesIterator
      .filter(l => l.contains("graft_ivfk") && l.contains("/idx")).toList
    assert(idxScans.nonEmpty, s"no K=64 inverted-file scan found:\n$plan")
    idxScans.foreach(l => assert(l.contains("PartitionFilters: [cid"),
      s"the K=64 inverted-file scan is not pruned on cid:\n$l"))
    // the K-keyed store lands once per (dataset, K)
    val k0 = Similarity.ivfKStores.builds.get()
    Similarity.annIvfPruned(spark, sfDir).collect()
    assert(Similarity.ivfKStores.builds.get() == k0,
      "K-keyed IVF store rebuilt on a second run")
  }

  test("pq queries read one landed code store per dataset, never rebuilding") {
    Similarity.annIvfPq(spark, sfDir).collect()
    val builds = Similarity.pqStores.builds.get()
    Similarity.annIvfPq(spark, sfDir).collect()
    assert(Similarity.pqStores.builds.get() == builds,
      "a repeat PQ consumer re-built the landed code store")
  }

  test("hierarchical IVF: exhaustive probe = exact argmax; partial probe partitions") {
    import scala.jdk.CollectionConverters._
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / math.sqrt(na * nb)
    }
    val nVec = Tables.embeddings(spark, sfDir).count()
    val out = SparkSpec.tempDir("graft_hier").toString
    // nprobe == coarse: the shortlist is exhaustive, so the
    // hierarchical assignment must BE the exact argmax over the
    // returned centroids — the identity that pins the two-level
    // shortcut against the flat semantics
    val cents = Similarity.ivfBuildHier(spark, sfDir, 16, s"$out/full",
      coarse = 4, nprobe = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1))
    val asg = spark.read.parquet(s"$out/full").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getLong(2)))
    assert(asg.length == nVec && asg.map(_._1).distinct.length == asg.length,
      "every vector exactly once")
    asg.foreach { case (id, v, cid) =>
      val cosines = cents.map { case (c, cv) => c -> cos(v, cv) }.toMap
      val best = cosines.values.max
      assert(cosines(cid) >= best - 1e-8,
        s"vec $id assigned cell $cid (cos ${cosines(cid)}) but best is $best")
    }
    // partial probe (nprobe=1): still a complete partition into the
    // same centroid id space — the recall/cost trade moves boundary
    // vectors BETWEEN cells, never out of the index
    val c2 = Similarity.ivfBuildHier(spark, sfDir, 16, s"$out/p1",
      coarse = 4, nprobe = 1)
      .collect().map(_.getLong(0)).toSet
    val a2 = spark.read.parquet(s"$out/p1").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(a2.length == nVec && a2.map(_._1).distinct.length == a2.length)
    assert(a2.map(_._2).toSet.subsetOf(c2), "cids must come from the centroid table")
    // no persisted partitions may outlive the build (the shortlist
    // cache is call-scoped)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "ivfBuildHier leaked cached RDDs")
  }

  test("semdedup: keep-first rule replayed exactly against the index") {
    import org.apache.spark.sql.functions._
    val idx = Similarity.ivfIndex(spark, sfDir)
      .select(col("vec_id"), col("v"), col("cid")).collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getLong(2)))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / math.sqrt(na * nb)
    }
    val byId = idx.map(t => t._1 -> t).toMap
    val out = Similarity.semDedup(spark, sfDir).collect()
    // partitions the corpus: one row per vector, kept xor removed
    assert(out.length == idx.length)
    assert(out.map(_.getLong(0)).distinct.length == idx.length)
    val tau = Similarity.SemDedupMinCos
    out.foreach { r =>
      val (id, v, cid) = byId(r.getLong(0))
      assert(r.getLong(1) == cid, s"vec $id: cid drifted")
      if (r.getBoolean(2)) {
        assert(r.isNullAt(3), s"kept vec $id carries dup_of")
        // no earlier same-cell member strictly above the threshold
        // (guard band excuses exact-boundary rounding)
        idx.filter(t => t._3 == cid && t._1 < id).foreach { case (u, uv, _) =>
          assert(cos(uv, v) < tau + 1e-6,
            s"kept vec $id has earlier near neighbor $u")
        }
      } else {
        val dupOf = r.getLong(3)
        val (_, uv, ucid) = byId(dupOf)
        assert(dupOf < id && ucid == cid,
          s"removed vec $id: dup_of $dupOf not an earlier cell-mate")
        assert(cos(uv, v) >= tau - 1e-6,
          s"removed vec $id: dup_of $dupOf below threshold")
        // minimality: no earlier id strictly above the threshold
        idx.filter(t => t._3 == cid && t._1 < dupOf).foreach {
          case (u, uv2, _) =>
            assert(cos(uv2, v) < tau + 1e-6,
              s"removed vec $id: $u beats recorded dup_of $dupOf")
        }
      }
    }
    // the rule actually fires on this corpus (the gate is vacuous if
    // nothing is ever removed)
    assert(out.exists(r => !r.getBoolean(2)), "semdedup removed nothing")
  }

  test("semdedup_incremental ≡ semdedup restricted to the batch; batch broadcasts") {
    val full = Similarity.semDedup(spark, sfDir).collect()
      .filter(_.getLong(0) % Similarity.SemIncrEvery == 0)
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    val incr = Similarity.semDedupIncremental(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(incr.toSeq == full.toSeq,
      "incremental probe drifted from the restricted full rule")
    // the probe side broadcasts: the corpus-sized index never shuffles
    val df = Similarity.semDedupIncremental(spark, sfDir)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"batch probe is not a broadcast join:\n$plan")
  }

  test("semdedup self-join reuses one vector exchange with broadcast off") {
    // past the broadcast threshold the cid self-join goes SMJ; the
    // identical aliased children must share ONE vector shuffle
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val df = Similarity.semDedup(spark, sfDir)
      df.collect() // AQE finalizes reuse in the executed plan
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("ReusedExchange"),
        s"semdedup self-join shuffles the vectors twice:\n$plan")
    } finally spark.conf.set(key, prev)
  }

  test("rag_retrieve: hits ≡ ann_ivf, passages are the doc heads, fetch is pushed") {
    import org.apache.spark.sql.functions._
    val hits = Similarity.annIvf(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    val out = Similarity.ragRetrieve(spark, sfDir).collect()
    assert(out.length == hits.size, "retrieval must keep every ANN hit")
    val texts = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    out.foreach { r =>
      val key = (r.getLong(0), r.getInt(1))
      assert(hits(key) == ((r.getLong(2), r.getDouble(3))),
        s"hit drifted at $key")
      // code-point take: Spark's substring counts code points, not
      // UTF-16 units
      val cps = texts(r.getLong(2)).codePoints().toArray
        .take(Similarity.RagPassageChars)
      val expect = new String(cps, 0, cps.length)
      assert(r.getString(4) == expect, s"passage mismatch at $key")
    }
    // the doc fetch is a point lookup: the IN filter reaches the scan
    val plan = Similarity.ragRetrieve(spark, sfDir)
      .queryExecution.executedPlan.toString
    val docScan = plan.linesIterator
      .filter(l => l.contains("documents.parquet") || l.contains("documents"))
      .mkString("\n")
    assert(plan.contains("PushedFilters: [") && plan.contains("In(doc_id"),
      s"doc fetch not pushed:\n$docScan")
  }

  test("ivf index assigns every vector to exactly one cluster") {
    val idx = Similarity.ivfIndex(spark, sfDir)
    val n = graft.Tables.embeddings(spark, sfDir).count()
    assert(idx.count() == n)
    assert(idx.select("vec_id").distinct().count() == n)
    val k = idx.select("cid").distinct().count()
    assert(k > 1 && k <= Similarity.IvfClusters, s"clusters=$k")
  }

  test("ivf queries read one landed index per dataset, never rebuilding") {
    // first consumer forces the build (idempotent if an earlier test
    // already did); repeat queries must be store reads + probes
    Similarity.annIvf(spark, sfDir).collect()
    val builds = Similarity.ivfStores.builds.get()
    Similarity.annIvf(spark, sfDir).collect()
    Similarity.ivfIndex(spark, sfDir).count()
    assert(Similarity.ivfStores.builds.get() == builds,
      "a repeat IVF consumer re-built the landed index")
  }

  test("embed_quantize emits unit-scale int8-range codes that reconstruct the vector") {
    import org.apache.spark.sql.functions._
    val n = graft.Tables.embeddings(spark, sfDir).count()
    val rows = Similarity.embedQuantize(spark, sfDir).collect()
    assert(rows.length == n)
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), transform(col("embedding"),
        x => x.cast("double")).as("v"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    rows.foreach { r =>
      val v = vecs(r.getLong(0))
      val norm = r.getDouble(1)
      val q = r.getSeq[Int](2)
      assert(q.length == v.length)
      assert(q.forall(c => c >= -127 && c <= 127), s"code out of int8 range: $q")
      assert(math.abs(norm - math.sqrt(v.map(x => x * x).sum)) < 1e-6)
      // dequantized unit vector is within quantization error of the
      // true unit vector: each code is off by at most 0.5/127
      v.zip(q).foreach { case (x, c) =>
        assert(math.abs(x / norm - c / 127.0) <= 0.5 / 127 + 1e-9,
          s"vec ${r.getLong(0)}: $x/$norm vs $c")
      }
    }
  }

  test("cosine of a vector with itself is 1") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(1.0, 2.0, 3.0)))
      .toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
    assert(math.abs(df.as[Double].head() - 1.0) < 1e-12)
  }

  test("embed_project: exact PRF replay and JL norm preservation") {
    import org.apache.spark.sql.functions.col
    val out = Similarity.embedProject(spark, sfDir).collect()
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        org.apache.spark.sql.functions.transform(
          col("embedding"), x => x.cast("double")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(out.length == vecs.size)
    // plain-Scala replay of a sample: projection = signed sums
    out.take(5).foreach { r =>
      val v = vecs(r.getLong(0))
      (0 until Similarity.ProjDims).foreach { j =>
        val want = BigDecimal(
          v.zip(Similarity.projSigns(j)).map { case (x, s) => x * s }.sum)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        assert(math.abs(r.getDouble(1 + j) - want) < 2e-6,
          s"dim $j replay mismatch for vec ${r.getLong(0)}")
      }
    }
    // JL norm preservation: E‖Pv‖² = ProjDims·‖v‖² — the corpus mean
    // ratio sits near ProjDims (fixed PRF signs, deterministic bound)
    val ratios = out.map { r =>
      val v = vecs(r.getLong(0))
      val pn = (0 until Similarity.ProjDims)
        .map(j => r.getDouble(1 + j)).map(x => x * x).sum
      pn / v.map(x => x * x).sum
    }
    val mean = ratios.sum / ratios.length
    assert(mean > Similarity.ProjDims * 0.5 &&
      mean < Similarity.ProjDims * 1.5,
      s"norm ratio $mean far from ${Similarity.ProjDims}")
  }

  test("semantic decontam: flags only above-threshold corpus vectors " +
    "against the eval slice, argmax is the true nearest eval") {
    import org.apache.spark.sql.functions.col
    val out = Similarity.decontamSemantic(spark, sfDir).collect()
    assert(out.nonEmpty, "no flagged vectors — gate vacuous")
    // role separation + threshold
    out.foreach { r =>
      assert(r.getLong(0) >= Similarity.DecontamEvalVecs)
      assert(r.getLong(1) < Similarity.DecontamEvalVecs)
      assert(r.getDouble(2) >= Similarity.DecontamMinCos - 1e-9, s"$r")
    }
    // the reported eval is the argmax: no OTHER eval vector scores
    // higher for a sampled flagged vec (plain-Scala replay)
    val vecs = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        org.apache.spark.sql.functions.transform(
          col("embedding"), x => x.cast("double")).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      BigDecimal(dot / math.sqrt(
        a.map(x => x * x).sum * b.map(x => x * x).sum))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    out.take(10).foreach { r =>
      val (vid, got, gcos) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      val best = (0L until Similarity.DecontamEvalVecs)
        .map(e => (e, cos(vecs(vid), vecs(e))))
        .maxBy { case (e, c) => (c, -e) }
      assert(best._1 == got && math.abs(best._2 - gcos) < 2e-6,
        s"argmax mismatch for $vid: got ($got, $gcos), want $best")
    }
  }

  test("hard negatives via IVF: label pools honored, probe pruned on cid, " +
    "agreement with the exact miner measured") {
    import org.apache.spark.sql.functions.col
    val labels = Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val ivfT = Similarity.hardNegativesIvf(spark, sfDir).collect()
    assert(ivfT.length == Similarity.MiningAnchors.toInt)
    ivfT.foreach { r =>
      val q = r.getLong(0)
      if (!r.isNullAt(1)) assert(labels(r.getLong(1)) == labels(q), s"pos: $r")
      if (!r.isNullAt(3)) assert(labels(r.getLong(3)) != labels(q), s"neg: $r")
    }
    // agreement with the exact (full-scan) miner: the probed cells
    // cover the true top-1 for most anchors — an IVF recall floor,
    // measured (0.72–0.80 for ann_ivf at this K/nprobe; the label
    // split only partitions the candidate set, so mining inherits it)
    val exact = Similarity.hardNegatives(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    val agree = ivfT.count { r =>
      val (p, n) = exact(r.getLong(0))
      !r.isNullAt(1) && r.getLong(1) == p && !r.isNullAt(3) && r.getLong(3) == n
    }
    assert(agree >= ivfT.length / 2,
      s"IVF mining agrees with exact on only $agree/${ivfT.length} anchors")
    // the inverted-file scan is partition-pruned to the probed cells
    val plan = Similarity.hardNegativesIvf(spark, sfDir)
      .queryExecution.executedPlan.toString
    val idxScans = plan.linesIterator
      .filter(l => l.contains("graft_ivf") && l.contains("/idx")).toList
    assert(idxScans.nonEmpty, s"no inverted-file scan in:\n$plan")
    idxScans.foreach(l => assert(l.contains("PartitionFilters: [cid"),
      s"the mining probe is not pruned on cid:\n$l"))
  }
}
