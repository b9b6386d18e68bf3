package graft

import graft.operators.{Retrieval, TextOps}
import org.apache.spark.sql.functions._

/** BM25 retrieval: integer-exactness, ranking invariants, and the
  * broadcast shape that keeps scoring shuffle-free past the tf/df
  * aggregations. */
class RetrievalSpec extends SparkSpec {

  private lazy val out = Retrieval.bm25Retrieve(spark, sfDir).collect()

  test("bm25: per-query ranks are 1..k, dense, score-sorted") {
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet == Retrieval.Bm25Queries.map(_._1).toSet)
    byQ.values.foreach { rows =>
      val sorted = rows.sortBy(_.getInt(4))
      assert(sorted.map(_.getInt(4)).toSeq == (1 to sorted.length),
        "ranks not dense from 1")
      assert(sorted.length <= Retrieval.TopK)
      val scores = sorted.map(_.getLong(3)).toSeq
      assert(scores == scores.sorted(Ordering[Long].reverse),
        s"scores not descending in rank order: $scores")
      // tie-break is doc_id asc within equal scores
      sorted.sliding(2).foreach { case Array(a, b) =>
        if (a.getLong(3) == b.getLong(3))
          assert(a.getLong(1) < b.getLong(1), "tie not broken by doc_id")
        case _ =>
      }
    }
  }

  test("bm25: n_terms bounded by the query's term count") {
    val nTermsByQ = Retrieval.Bm25Queries
      .map { case (id, q) => id -> q.split(" ").length }.toMap
    out.foreach { r =>
      assert(r.getLong(2) >= 1 && r.getLong(2) <= nTermsByQ(r.getLong(0)),
        s"n_terms out of range: $r")
    }
  }

  test("bm25: score replays exactly from integer components") {
    // independently recompute the top hit of query 1 from raw tf/df/
    // len/avgq with BigInt arithmetic — the engine's BIGINT sum must
    // match to the unit (no float anywhere)
    val docs = graft.Tables.documents(spark, sfDir)
    val toks = TextOps.tokenize(docs)
    val terms = Retrieval.Bm25Queries.head._2.split(" ").toSet
    val top = out.filter(r => r.getLong(0) == 1L && r.getInt(4) == 1).head
    val docId = top.getLong(1)
    val tf = toks.filter(col("doc_id") === docId)
      .groupBy("word").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val len = tf.values.sum
    val lens = toks.groupBy("doc_id").count()
      .agg(sum("count"), count(lit(1))).collect().head
    val avgq = 10 * lens.getLong(0) / lens.getLong(1)
    val nDocs = docs.count()
    val dfByWord = toks.select("doc_id", "word").distinct()
      .groupBy("word").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = terms.filter(tf.contains).toSeq.map { w =>
      val idfq = math.round(math.log(
        (nDocs - dfByWord(w) + 0.5) / (dfByWord(w) + 0.5) + 1.0) * 1e7)
      (BigInt(idfq) * 22 * avgq * tf(w) /
        (BigInt(10) * avgq * tf(w) + 3 * avgq + 90 * len)).toLong
    }.sum
    assert(top.getLong(3) == expected,
      s"score ${top.getLong(3)} != replayed $expected for doc $docId")
  }

  test("bm25: idf, stats, and query relations broadcast (no extra shuffle)") {
    // string form reads through the AdaptiveSparkPlan wrapper
    val p = Retrieval.bm25Retrieve(spark, sfDir)
      .queryExecution.executedPlan.toString
    // idf join + at least one side of the qt/dfr joins broadcast; the
    // corpus-side tf/len/df aggregations own the only key shuffles
    assert(p.contains("BroadcastHashJoin"),
      "no broadcast join in bm25 plan:\n" + p)
    assert(!p.contains("CartesianProduct"),
      "bm25 planned a cartesian product:\n" + p)
  }

  test("hybrid: fused table replays exactly from the component ranks") {
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val sparse = Retrieval.bm25Retrieve(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(4)).toMap
    // dense twin recomputed independently AGAINST THE LANDED IVF
    // index: probe the IvfProbes nearest centroids (9-rounded cosine,
    // cid tie-break), rank exact 6-rounded cosine within the probed
    // cells — the production dense-retriever chain, replayed
    // driver-side over the same landed artifacts
    val vecs = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double], places: Int): Double = {
      def dot(x: Array[Double], y: Array[Double]) =
        x.zip(y).map { case (p, q) => p * q }.sum
      BigDecimal(dot(a, b) / math.sqrt(dot(a, a) * dot(b, b)))
        .setScale(places, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val (idxDf, centDf) = Similarity.ivfStore(spark, sfDir)
    val cents = centDf.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toSeq
    val cellOf = idxDf.select("vec_id", "cid").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qids = Retrieval.Bm25Queries.map(_._1)
    val dense = qids.flatMap { q =>
      val probed = cents
        .map { case (cid, cv) => (cid, cos(vecs(q), cv, 9)) }
        .sortBy { case (cid, c) => (-c, cid) }
        .take(Similarity.IvfProbes).map(_._1).toSet
      vecs.toSeq
        .filter { case (id, _) => id != q && probed.contains(cellOf(id)) }
        .map { case (id, v) => (id, cos(v, vecs(q), 6)) }
        .sortBy { case (id, c) => (-c, id) }
        .take(Retrieval.TopK).zipWithIndex
        .map { case ((id, _), i) => (q, id) -> (i + 1) }
    }.toMap
    val expected = qids.flatMap { q =>
      val docs = (sparse.keySet ++ dense.keySet).filter(_._1 == q)
      docs.toSeq.map { k =>
        val rrf =
          sparse.get(k).map(r => Retrieval.RrfScale / (Retrieval.RrfK + r))
            .getOrElse(0L) +
          dense.get(k).map(r => Retrieval.RrfScale / (Retrieval.RrfK + r))
            .getOrElse(0L)
        (q, k._2, rrf)
      }.sortBy { case (_, id, rrf) => (-rrf, id) }
        .take(Retrieval.TopK).zipWithIndex
        .map { case ((qq, id, rrf), i) => (qq, id, rrf, i + 1) }
    }.toSet
    val got = Retrieval.hybridRetrieve(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4), r.getInt(5)))
      .toSet
    assert(got == expected,
      s"fused mismatch:\nextra=${got -- expected}\nmissing=${expected -- got}")
  }

  test("hybrid: srank/drank nullability marks single-list docs") {
    val rows = Retrieval.hybridRetrieve(spark, sfDir).collect()
    assert(rows.exists(r => r.isNullAt(2) || r.isNullAt(3)),
      "every fused doc appeared in both lists — workload degenerate?")
    rows.foreach { r =>
      assert(!(r.isNullAt(2) && r.isNullAt(3)),
        s"fused doc in neither list: $r")
    }
  }

  test("bm25: oracle reads the LANDED idf sidecar (no ln fallback)") {
    assert(Retrieval.idfValuesSql.nonEmpty,
      "landed idf sidecar unreadable after a bm25 run")
    val sql = Retrieval.oracle("bm25_retrieve")
    assert(sql.contains("idfv(df, idfq) AS (VALUES"),
      "oracle did not embed the landed idf literals")
    assert(!sql.contains("ln("),
      "ln leaked into the bm25 oracle — the literal path must be total")
    // the sidecar AND the postings index land once per dataset;
    // re-running costs store reads, never a corpus re-tokenize
    val builds = Retrieval.idfStores.builds.get()
    val dtBuilds = Retrieval.dtStores.builds.get()
    Retrieval.bm25Retrieve(spark, sfDir).collect()
    assert(Retrieval.idfStores.builds.get() == builds,
      "idf sidecar rebuilt on a second run")
    assert(Retrieval.dtStores.builds.get() == dtBuilds,
      "postings index rebuilt on a second run")
    // the scoring plan reads the landed postings — no tokenize
    // (Generate/explode) anywhere in it
    val plan = Retrieval.bm25Retrieve(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Generate"),
      "bm25 scoring re-tokenized the corpus:\n" + plan)
    assert(plan.contains("graft_bm25"),
      "bm25 scoring does not read the landed postings:\n" + plan)
    // the postings scan carries a partition filter on wb — the
    // inverted-index lookup expressed as directory pruning
    assert(plan.contains("PartitionFilters") && plan.contains("wb#"),
      "postings scan is not partition-pruned on word bucket:\n" + plan)
    // the driver-side bucket twin matches the Column-side layout
    // hash exactly (a mismatch would silently read the WRONG buckets
    // and drop matching postings)
    val words = Retrieval.Bm25Queries.flatMap(_._2.split(" ")).distinct
    import spark.implicits._
    val colSide = words.toDF("word")
      .select(col("word"),
        pmod(graft.operators.Dedup.md5Hash60(col("word")),
          lit(Retrieval.WordBuckets.toLong)).as("wb"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    words.foreach { w =>
      assert(Retrieval.wbOf(w) == colSide(w),
        s"bucket twin mismatch for '$w': jvm=${Retrieval.wbOf(w)} " +
          s"col=${colSide(w)}")
    }
    // the landed integers equal an independent ln evaluation (the ln
    // ran exactly once, at land time — this pins WHAT it landed)
    val docs = graft.Tables.documents(spark, sfDir)
    val nDocs = docs.count()
    val byDf = Retrieval.idfStore(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    byDf.foreach { case (df, idfq) =>
      val expect = math.round(math.log(
        (nDocs - df + 0.5) / (df + 0.5) + 1.0) * 1e7)
      assert(idfq == expect, s"landed idfq for df=$df: $idfq != $expect")
    }
  }

  test("bm25 incremental: merge is invisible, update cost is batch-shaped") {
    // the merged index must answer EXACTLY like the full one
    val full = Retrieval.bm25Retrieve(spark, sfDir).collect().toSeq
    val incr = Retrieval.bm25Incremental(spark, sfDir).collect().toSeq
    assert(incr == full,
      "incremental index answered differently from the full index")
    // base + delta segments land once each; re-running is pure reads
    val (b0, i0) = (Retrieval.baseStores.builds.get(),
      Retrieval.incrStores.builds.get())
    val df = Retrieval.bm25Incremental(spark, sfDir)
    df.collect()
    assert(Retrieval.baseStores.builds.get() == b0,
      "base index rebuilt on a second run")
    assert(Retrieval.incrStores.builds.get() == i0,
      "delta segment rebuilt on a second run")
    // steady-state scoring is store reads only — ZERO tokenize
    // (Generate) in the plan; both segments ride landed parquet
    val plan = df.queryExecution.executedPlan
      .toString.split("== Initial Plan ==")(0)
    assert(!plan.contains("Generate"),
      "steady-state incremental scoring re-tokenized something:\n" + plan)
    assert(plan.contains("graft_bm25b") && plan.contains("graft_bm25i"),
      "merged scoring does not read both landed segments:\n" + plan)
    // the incremental path's idf comes from the SEGMENT-SOURCED
    // sidecar (no cold-start dependency on the monolithic index) and
    // carries the IDENTICAL integers — same formula, same merged df
    // domain
    assert(plan.contains("graft_idfseg"),
      "incremental scoring did not use the segment-sourced idf:\n" + plan)
    val fullIdf = Retrieval.idfStore(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val segIdf = Retrieval.idfSegStore(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(segIdf == fullIdf,
      s"segment-sourced idf diverged: only-seg=${segIdf -- fullIdf} " +
        s"only-full=${fullIdf -- segIdf}")
  }

  test("bm25 compact: fold is invisible, post-compaction reads ONE segment") {
    // the compacted index must answer EXACTLY like the full one
    val full = Retrieval.bm25Retrieve(spark, sfDir).collect().toSeq
    val cmp = Retrieval.bm25Compact(spark, sfDir).collect().toSeq
    assert(cmp == full,
      "compacted index answered differently from the full index")
    // compaction folds base + delta into ONE root; re-running is reads
    val c0 = Retrieval.compactStores.builds.get()
    val df = Retrieval.bm25Compact(spark, sfDir)
    df.collect()
    assert(Retrieval.compactStores.builds.get() == c0,
      "compacted segment rebuilt on a second run")
    val plan = df.queryExecution.executedPlan
      .toString.split("== Initial Plan ==")(0)
    // post-compaction scoring stands on the compacted artifacts ALONE:
    // no base/delta segment read, no full-index read, no tokenize
    assert(plan.contains("graft_bm25c"),
      "compacted scoring does not read the compacted segment:\n" + plan)
    assert(!plan.contains("graft_bm25b") && !plan.contains("graft_bm25i"),
      "compacted scoring still reads the pre-compaction segments:\n" + plan)
    assert(!plan.contains("graft_bm25/"),
      "compacted scoring fell back to the monolithic full index:\n" + plan)
    assert(!plan.contains("Generate"),
      "compacted scoring re-tokenized the corpus:\n" + plan)
    // the fold preserves the wb layout — the inverted-index partition
    // pruning survives compaction
    assert(plan.contains("PartitionFilters") && plan.contains("wb#"),
      "compacted postings scan lost the word-bucket pruning:\n" + plan)
  }

  test("bm25 delete: tombstones ∝ batch, mask leaks nothing, stats stay stale") {
    // the tombstone sidecar is exactly the delete batch — one row per
    // deleted indexed doc, nothing else (∝ batch by construction)
    val expectTomb = Retrieval.dlStore(spark, sfDir)
      .filter(col("doc_id") % Retrieval.DelEvery === Retrieval.DelSlot)
      .count()
    assert(expectTomb > 0, "delete batch empty — the gate is vacuous")
    assert(Retrieval.tombStore(spark, sfDir).count() == expectTomb,
      "tombstone sidecar is not batch-shaped")
    val full = Retrieval.bm25Retrieve(spark, sfDir).collect().toSeq
    val masked = Retrieval.bm25Delete(spark, sfDir).collect().toSeq
    // no tombstoned doc may leak into the masked answer
    assert(masked.nonEmpty && masked.forall(r =>
      r.getLong(1) % Retrieval.DelEvery != Retrieval.DelSlot),
      "a deleted doc leaked through the mask")
    // the Lucene stale-stats contract: a SURVIVING doc's score is
    // unchanged by the mask (df/avgdl/N still count deleted docs) —
    // a premature stat refresh would shift every score
    val fullScore = full.map(r =>
      (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    masked.foreach { r =>
      fullScore.get((r.getLong(0), r.getLong(1))).foreach(sc =>
        assert(sc == r.getLong(3),
          s"mask changed a surviving doc's score: $r vs $sc"))
    }
    // tombstones land once; the probe plan reads sidecar + live index,
    // never re-tokenizing
    val t0 = Retrieval.tombStores.builds.get()
    val df = Retrieval.bm25Delete(spark, sfDir)
    df.collect()
    assert(Retrieval.tombStores.builds.get() == t0,
      "tombstone sidecar rebuilt on a second run")
    val plan = df.queryExecution.executedPlan
      .toString.split("== Initial Plan ==")(0)
    assert(plan.contains("graft_bm25t"),
      "masked probe does not read the tombstone sidecar:\n" + plan)
    assert(!plan.contains("Generate"),
      "masked probe re-tokenized the corpus:\n" + plan)
  }

  test("bm25 delete compact: purge complete, stats fresh, one segment") {
    val cmp = Retrieval.bm25DeleteCompact(spark, sfDir).collect().toSeq
    assert(cmp.nonEmpty && cmp.forall(r =>
      r.getLong(1) % Retrieval.DelEvery != Retrieval.DelSlot),
      "a deleted doc survived the purge")
    // the purge is COMPLETE: zero tombstoned postings in the rewritten
    // segment
    val leaked = Retrieval.delCompactPostings(spark, sfDir)
      .filter(col("doc_id") % Retrieval.DelEvery === Retrieval.DelSlot)
      .count()
    assert(leaked == 0, s"$leaked tombstoned postings survived compaction")
    // stats are FRESH post-purge: N shrank, so the landed idf integers
    // cannot equal the full index's
    val fullIdf = Retrieval.idfStore(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    val delIdf = Retrieval.idfDelStore(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(delIdf != fullIdf,
      "purged-index idf identical to the full index's — stats not refreshed")
    // compaction runs once; post-purge scoring stands on the purged
    // artifacts alone — no tombstone read, no mask, no monolith, no
    // tokenize, and the wb partition pruning survives the rewrite
    val c0 = Retrieval.delCmpStores.builds.get()
    val df = Retrieval.bm25DeleteCompact(spark, sfDir)
    df.collect()
    assert(Retrieval.delCmpStores.builds.get() == c0,
      "purged segment rebuilt on a second run")
    val plan = df.queryExecution.executedPlan
      .toString.split("== Initial Plan ==")(0)
    assert(plan.contains("graft_bm25dc"),
      "post-purge scoring does not read the purged segment:\n" + plan)
    assert(!plan.contains("graft_bm25t"),
      "post-purge scoring still reads tombstones (purge incomplete):\n" + plan)
    assert(!plan.contains("graft_bm25/"),
      "post-purge scoring fell back to the monolithic index:\n" + plan)
    assert(!plan.contains("Generate"),
      "post-purge scoring re-tokenized the corpus:\n" + plan)
    assert(plan.contains("PartitionFilters") && plan.contains("wb#"),
      "purged postings scan lost the word-bucket pruning:\n" + plan)
  }

  test("bm25 topk pruned: skips docs, bounds are true maxima, answer exact") {
    // the pruned probe must answer EXACTLY like the full one
    val full = Retrieval.bm25Retrieve(spark, sfDir).collect().toSeq
    val pruned = Retrieval.bm25TopkPruned(spark, sfDir).collect().toSeq
    assert(pruned == full,
      "score-pruned probe answered differently from the full probe")
    // the prune is REAL: strictly fewer docs reach exact scoring than
    // match the query terms (the measured skipped-docs counter)
    val (_, matched, scored) = Retrieval.wandPlan(spark, sfDir)
    val nMatched = matched.count()
    val nScored = scored.count()
    assert(nScored < nMatched,
      s"max-score prune skipped nothing: matched=$nMatched scored=$nScored")
    // every skipped doc was SAFE to skip is already pinned by the
    // equality above; additionally pin the sidecar's bounds are true
    // per-word maxima of the exact contribution
    val docs = graft.Tables.documents(spark, sfDir)
    val toks = TextOps.tokenize(docs)
    val words = Retrieval.Bm25Queries.flatMap(_._2.split(" ")).distinct
    val tf = toks.filter(col("word").isin(words: _*))
      .groupBy("doc_id", "word").count().collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val lens = toks.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val stats = toks.groupBy("doc_id").count()
      .agg(sum("count"), count(lit(1))).collect().head
    val avgq = 10 * stats.getLong(0) / stats.getLong(1)
    val nDocs = docs.count()
    val dfByWord = toks.select("doc_id", "word").distinct()
      .groupBy("word").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val ubs = Retrieval.ubStore(spark, sfDir)
      .filter(col("word").isin(words: _*)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    words.filter(dfByWord.contains).foreach { w =>
      val idfq = math.round(math.log(
        (nDocs - dfByWord(w) + 0.5) / (dfByWord(w) + 0.5) + 1.0) * 1e7)
      val expect = tf.collect { case ((doc, word), t) if word == w =>
        (BigInt(idfq) * 22 * avgq * t /
          (BigInt(10) * avgq * t + 3 * avgq + 90 * lens(doc))).toLong
      }.max
      assert(ubs(w) == expect,
        s"landed ubq for '$w': ${ubs(w)} != replayed max $expect")
    }
    // the sidecar lands once; re-running is pure reads
    val u0 = Retrieval.ubStores.builds.get()
    Retrieval.bm25TopkPruned(spark, sfDir).collect()
    assert(Retrieval.ubStores.builds.get() == u0,
      "max-score sidecar rebuilt on a second run")
  }

  test("wand win regime: selective workload prunes the bulk, stays exact") {
    // the rehearsal's win-case twin: one mid-df seed + two hot terms
    // per query — θ lands at the selective docs' scores and hot-only
    // docs' upper bounds fall below it, so the prune skips the bulk
    // of the candidate set... and must STILL answer exactly like the
    // full-scoring plan (the bound is a true ceiling in any regime)
    val wl = Retrieval.selectiveWorkloadOf(spark, sfDir, 3)
    assert(wl == Retrieval.selectiveWorkloadOf(spark, sfDir, 3),
      "selective workload generator must be deterministic")
    val plain = Retrieval.bm25RankedWith(spark, sfDir, wl)
      .orderBy("query_id", "rank").collect().toSeq
    val (ranked, matched, scored) = Retrieval.wandPlan(spark, sfDir, wl)
    val pruned = ranked.orderBy("query_id", "rank").collect().toSeq
    assert(pruned == plain,
      "selective-workload pruned probe diverged from full scoring")
    val nm = matched.count(); val ns = scored.count()
    assert(ns < nm / 2,
      s"selective workload should prune the bulk: matched=$nm scored=$ns")
  }

  test("hybrid: dense half probes the landed IVF index, not the corpus") {
    import graft.operators.Similarity
    // the landed index is shared with ann_ivf — running the hybrid
    // must not trigger another IVF build
    Similarity.ivfStore(spark, sfDir)
    val builds = Similarity.ivfStores.builds.get()
    val df = Retrieval.hybridRetrieve(spark, sfDir)
    df.collect()
    assert(Similarity.ivfStores.builds.get() == builds,
      "hybrid dense half rebuilt the IVF index")
    // the plan reads the landed parquet index (scan nodes over the
    // ivf store) and never plans a cartesian over the corpus
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("graft_ivf"),
      "hybrid dense half does not read the landed IVF store:\n" + p)
    assert(!p.contains("CartesianProduct"),
      "hybrid planned a cartesian product:\n" + p)
  }

  test("phrase retrieve: adjacency replayed exactly, phrase ≠ AND, " +
    "probe pruned to the terms' buckets, positions land once") {
    import org.apache.spark.sql.functions.col
    // plain-Scala ground truth over the filtered token sequences
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase(java.util.Locale.ROOT)
          .split("[^\\p{L}]+").toSeq.filter(_.nonEmpty))
      .toMap
    def phraseOcc(w1: String, w2: String): Map[Long, Long] =
      docs.view.mapValues(t =>
        t.zip(t.drop(1)).count(p => p._1 == w1 && p._2 == w2).toLong)
        .filter(_._2 > 0).toMap
    val out = Retrieval.phraseRetrieve(spark, sfDir).collect()
    assert(out.nonEmpty)
    Retrieval.PhraseQueries.foreach { case (qid, w1, w2) =>
      val truth = phraseOcc(w1, w2)
      assert(truth.nonEmpty, s"phrase '$w1 $w2' absent — gate vacuous")
      val want = truth.toSeq.sortBy(p => (-p._2, p._1))
        .take(Retrieval.TopK)
      val got = out.filter(_.getLong(0) == qid)
        .sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getLong(3))).toSeq
      assert(got == want, s"phrase '$w1 $w2' rank drifted: $got vs $want")
      // phrase ≠ AND: some doc contains both words but never
      // adjacently — the positional index answers a question the tf
      // postings cannot
      assert(docs.exists { case (id, t) =>
        t.contains(w1) && t.contains(w2) && !truth.contains(id) },
        s"'$w1 $w2': every co-occurrence is adjacent — AND would do")
    }
    // positional store lands once; the probe's scan is pruned to the
    // phrase terms' word buckets
    val b0 = Retrieval.ppStores.builds.get()
    val df = Retrieval.phraseRetrieve(spark, sfDir)
    df.collect()
    assert(Retrieval.ppStores.builds.get() == b0,
      "positional postings rebuilt on a second run")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_bm25pos"),
      "probe does not read the landed positional store:\n" + plan)
    plan.linesIterator
      .filter(l => l.contains("graft_bm25pos") && l.contains("Location"))
      .foreach(l => assert(l.contains("PartitionFilters: [wb"),
        s"positional scan not pruned on wb:\n$l"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      "phrase candidates are not bucket-local:\n" + plan)
  }

  test("phrase retrieve incremental: ≡ single store, delta tokenizes " +
    "only the batch, segments land once") {
    import org.apache.spark.sql.functions.col
    val full = Retrieval.phraseRetrieve(spark, sfDir).collect().toSeq
    val incr = Retrieval.phraseRetrieveIncremental(spark, sfDir)
      .collect().toSeq
    assert(incr == full,
      "2-segment phrase probe diverged from the single-store answer")
    // the delta holds exactly the batch's docs; none leak into base
    val batchDocs = Tables.documents(spark, sfDir)
      .filter(col("doc_id") % Retrieval.IncrEvery === Retrieval.IncrSlot)
      .count()
    assert(batchDocs > 0, "empty batch — gate vacuous")
    assert(Retrieval.ppDeltaSegment(spark, sfDir)
      .select("doc_id").distinct().count() == batchDocs,
      "delta segment docs ≠ batch docs")
    assert(Retrieval.ppBaseSegment(spark, sfDir)
      .filter(col("doc_id") % Retrieval.IncrEvery === Retrieval.IncrSlot)
      .count() == 0, "batch postings leaked into the base segment")
    val b0 = Retrieval.ppSegStores.builds.get()
    Retrieval.phraseRetrieveIncremental(spark, sfDir).collect()
    assert(Retrieval.ppSegStores.builds.get() == b0,
      "positional segments rebuilt on a second run")
  }

  test("phrase slop + delete twins: NEAR ⊇ exact phrase, mask ≡ purge, " +
    "shared tombstone sidecar, purged-segment-only plan") {
    import org.apache.spark.sql.functions.col
    // the slop window subsumes exact adjacency: every doc the exact
    // phrase ranks must appear in the slop ranking with n_occ ≥ the
    // exact count (replayed at the occurrence level in plain Scala)
    val docs = Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase(java.util.Locale.ROOT)
          .split("[^\\p{L}]+").toSeq.filter(_.nonEmpty))
      .toMap
    def occ(w1: String, w2: String, maxGap: Int): Map[Long, Long] =
      docs.view.mapValues { t =>
        val idx = t.zipWithIndex
        idx.filter(_._1 == w1).map { case (_, i) =>
          idx.count(p => p._1 == w2 && p._2 > i && p._2 <= i + maxGap)
            .toLong
        }.sum
      }.filter(_._2 > 0).toMap
    val slop = Retrieval.phraseRetrieveSlop(spark, sfDir).collect()
    Retrieval.PhraseQueries.foreach { case (qid, w1, w2) =>
      val truth = occ(w1, w2, Retrieval.PhraseSlop)
      val exact = occ(w1, w2, 1)
      val want = truth.toSeq.sortBy(p => (-p._2, p._1))
        .take(Retrieval.TopK)
      val got = slop.filter(_.getLong(0) == qid)
        .sortBy(_.getInt(1)).map(r => (r.getLong(2), r.getLong(3))).toSeq
      assert(got == want, s"slop '$w1 $w2' rank drifted")
      // the window genuinely widens: some doc gains occurrences (or
      // membership) over the exact phrase
      assert(truth.exists { case (id, n) => n > exact.getOrElse(id, 0L) },
        s"slop '$w1 $w2' ≡ exact phrase — the window is dead weight")
    }
    // delete twins: mask ≡ purge, nothing tombstoned survives, the
    // sidecar is bm25_delete's (shared — no second artifact)
    val t0 = Retrieval.tombStores.builds.get()
    val masked = Retrieval.phraseRetrieveDelete(spark, sfDir).collect().toSeq
    val purged = Retrieval.phraseRetrieveDeleteCompact(spark, sfDir)
      .collect().toSeq
    assert(Retrieval.tombStores.builds.get() == t0 ||
      Retrieval.tombStores.builds.get() == t0 + 1,
      "phrase delete minted repeated tombstone sidecars")
    assert(purged == masked, "post-purge phrase ≠ masked phrase")
    assert(masked.nonEmpty && masked.forall(r =>
      r.getLong(2) % Retrieval.DelEvery != Retrieval.DelSlot),
      "a deleted doc leaked through the phrase mask")
    // the purge is complete: purged store = positional store minus
    // exactly the tombstoned docs' rows
    val store = Retrieval.ppStore(spark, sfDir)
    assert(Retrieval.ppPurgedStore(spark, sfDir).count() ==
      store.filter(col("doc_id") % Retrieval.DelEvery =!=
        Retrieval.DelSlot).count(),
      "purged positional store drifted from the survivor slice")
    // purge lands once; its probe reads the purged root, no tombstones
    val p0 = Retrieval.ppPurgeStores.builds.get()
    val df = Retrieval.phraseRetrieveDeleteCompact(spark, sfDir)
    df.collect()
    assert(Retrieval.ppPurgeStores.builds.get() == p0,
      "purged positional store rebuilt on a second run")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("graft_bm25pospurge"),
      "purge twin does not read the purged store:\n" + plan)
    assert(!plan.contains("graft_bm25t"),
      "purge twin still reads tombstones:\n" + plan)
  }
}
