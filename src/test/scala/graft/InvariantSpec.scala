package graft

import graft.operators.{Dedup, TextOps}
import org.apache.spark.sql.functions._

/** Cross-operator invariants on the real testdata (SURVEY.md §5.2):
  * relations that must hold between independent operators regardless
  * of data, so a bug in either side breaks an equation rather than
  * shifting both answers in lockstep. */
class InvariantSpec extends SparkSpec {

  test("inverted index row sums equal the word counts") {
    import spark.implicits._
    val byWord = TextOps.invertedIndex(spark, sfDir)
      .groupBy("word").agg(sum("cnt").as("total"))
      .as[(String, Long)].collect().toMap
    val wc = TextOps.wordcount(spark, sfDir)
      .as[(String, Long)].collect().toMap
    assert(byWord == wc)
  }

  test("exact dedup is idempotent and conserves documents") {
    val first = Dedup.dedupExact(spark, sfDir)
    val nDocs = Tables.documents(spark, sfDir).count()
    // survivors' multiplicities account for every document
    val copies = first.agg(sum("n_copies")).head().getLong(0)
    assert(copies == nDocs)
    // survivors are distinct by content → deduping them again is a no-op
    val survivorIds = first.select(col("keep_id").as("doc_id"))
    val survivors = Tables.documents(spark, sfDir).join(survivorIds, "doc_id")
    val again = survivors
      .select(col("doc_id"),
        sha2(regexp_replace(trim(lower(col("text"))), "\\s+", " "), 256).as("fp"))
      .groupBy("fp").agg(count(lit(1)).as("n"))
    assert(again.filter(col("n") > 1).count() == 0)
    assert(again.count() == first.count())
  }

  test("tf-idf joins back to exactly the wordcount vocabulary per doc") {
    val tfidf = graft.operators.TextAnalysis.tfidf(spark, sfDir)
    // every (doc, word) in tfidf must exist in the inverted index
    val idx = TextOps.invertedIndex(spark, sfDir)
      .select(col("word"), col("doc_id"))
    val orphans = tfidf.select("word", "doc_id").except(idx)
    assert(orphans.count() == 0)
  }

  test("iterative operators release every cache they create") {
    // connectedComponents (both compositions) and ivfBuild persist
    // intermediates for their driver loops; a Verify/Bench pass calls
    // them repeatedly, so any cache that outlives the call accumulates
    // executor memory pressure across the suite (round-3 VERDICT #5)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    graft.operators.PipelineOps.dedupClusters(spark, sfDir).collect()
    graft.operators.PipelineOps.dedupClustersLsh(spark, sfDir).collect()
    graft.operators.Similarity.annIvf(spark, sfDir).collect()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"cached RDDs left behind: $leaked")
  }

  test("winnowing: density bound holds and shared substrings share fingerprints") {
    import graft.operators.TextAnalysis.{WinnowK, WinnowW}
    val fps = graft.operators.TextAnalysis.winnowFingerprints(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val byDoc = fps.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byDoc.nonEmpty)
    // density: each selected fp covers at most w windows, so a doc
    // with g full windows keeps at least ceil(g / w) distinct... not
    // distinct — selections can repeat values; assert the weaker,
    // always-true bounds: at least 1 fp, at most g fps per doc
    val lens = Tables.documents(spark, sfDir)
      .select(col("doc_id"), length(lower(col("text"))).as("len"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    byDoc.foreach { case (id, s) =>
      val grams = lens(id) - (WinnowK - 1)
      val windows = grams - (WinnowW - 1)
      assert(s.nonEmpty && s.size <= windows,
        s"doc $id: ${s.size} fps vs $windows windows")
    }
    // the winnowing guarantee on crafted docs: any shared substring of
    // length >= k + w - 1 must yield at least one shared fingerprint,
    // wherever it sits in the surrounding text
    import spark.implicits._
    val shared = "the quick brown fox jumps over the lazy dog"
    val crafted = Seq(
      (1L, s"AAAA BBBB $shared CCCC DDDD"),
      (2L, s"zzzz qqqq wwww eeee rrrr $shared"),
      (3L, "completely unrelated content with no overlap at all here"))
      .toDF("doc_id", "text")
    val cfps = graft.operators.TextAnalysis.winnowFingerprintsOf(crafted)
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((cfps(1L) & cfps(2L)).nonEmpty,
      "docs sharing a long substring must share a fingerprint")
    assert((cfps(1L) & cfps(3L)).isEmpty,
      "unrelated docs should not collide at this scale")
  }

  test("bpe doc tokens reconcile with the encode table's corpus totals") {
    import graft.operators.TextAnalysis
    // cross-operator equation: the per-doc rollup and the per-word
    // encode table must agree on corpus totals exactly
    val enc = TextAnalysis.bpeEncode(spark, sfDir).collect()
    val corpusSubwords = enc.map(r => r.getLong(1) * r.getLong(3)).sum
    val corpusWords = enc.map(_.getLong(1)).sum
    val doc = TextAnalysis.bpeDocTokens(spark, sfDir).collect()
    assert(doc.map(_.getLong(1)).sum == corpusSubwords)
    assert(doc.map(_.getLong(2)).sum == corpusWords)
    // merges only ever join characters: a word is never fewer than
    // one subword, so per doc subwords >= words
    doc.foreach(r => assert(r.getLong(1) >= r.getLong(2), r.toString))
  }

  test("morton16 matches the bit-by-bit reference interleave") {
    import spark.implicits._
    def ref(a: Int, b: Int): Long =
      (0 until 16).map { i =>
        (((a >> i) & 1).toLong << (2 * i)) |
          (((b >> i) & 1).toLong << (2 * i + 1))
      }.reduce(_ | _)
    // deterministic pseudo-random 16-bit pairs + the corners
    val pairs = (Seq((0, 0), (0xFFFF, 0), (0, 0xFFFF), (0xFFFF, 0xFFFF)) ++
      (1 to 200).map(i => ((i * 40503) & 0xFFFF, (i * 12829) & 0xFFFF)))
    val got = pairs.toDF("a", "b")
      .select(graft.sources.StorageOps.morton16(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == pairs.map { case (a, b) => ref(a, b) },
      "column interleave diverged from the reference")
    // injective on the sampled domain — a collision would silently
    // merge distinct (date, key) cells into one cluster
    assert(got.distinct.size == got.size)
  }

  test("dq checks fire on crafted violations, not only count zeros on clean data") {
    import spark.implicits._
    // 4 customers (one duplicated key), 4 orders (one null custkey,
    // one orphaned), 3 lineitems (one orphaned, one out-of-range
    // discount)
    val dir = SparkSpec.tempDir("graft_dq")
    Seq((1, "a", 0.0), (1, "a2", 0.0), (2, "b", 0.0), (3, "c", 0.0))
      .toDF("c_custkey", "c_name", "c_acctbal")
      .write.parquet(dir.resolve("customer.parquet").toString)
    Seq((10L, Some(1), 5.0), (11L, Some(2), 5.0),
        (12L, None, 5.0), (13L, Some(99), 5.0))
      .toDF("o_orderkey", "o_custkey", "o_totalprice")
      .write.parquet(dir.resolve("orders.parquet").toString)
    Seq((10L, 0.05), (11L, 1.5), (99L, 0.05))
      .toDF("l_orderkey", "l_discount")
      .write.parquet(dir.resolve("lineitem.parquet").toString)
    val got = graft.operators.FuncOps.dqChecks(spark, dir.toString)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got("customer_key_duplicates") == (1L, 4L), got.toString)
    assert(got("orders_custkey_null") == (1L, 4L), got.toString)
    // left_anti keeps null-key rows (null matches nothing), so the
    // orphan check reports the null-custkey order AND custkey 99
    assert(got("orders_orphaned_custkey") == (2L, 4L), got.toString)
    assert(got("lineitem_orphaned_orderkey") == (1L, 3L), got.toString)
    assert(got("customers_without_orders") == (1L, 4L), got.toString)
    assert(got("discount_out_of_range") == (1L, 3L), got.toString)
  }

  test("funnel counts only strictly-ordered step sequences") {
    import spark.implicits._
    // crafted log: u1 completes in order; u2 purchases BEFORE its
    // click (counts for steps 1-2 only); u3 clicks before its first
    // view (counts for step 1 only); u4 never views (counts nowhere)
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val ev = Seq(
      (1L, ts(0), "view"), (1L, ts(1), "click"), (1L, ts(2), "purchase"),
      (2L, ts(0), "view"), (2L, ts(2), "click"), (2L, ts(1), "purchase"),
      (3L, ts(1), "view"), (3L, ts(0), "click"),
      (4L, ts(0), "click"), (4L, ts(1), "purchase"))
      .toDF("user_id", "ts", "event_type")
      .withColumn("event_id", col("user_id"))
      .withColumn("value", lit(0.0)).withColumn("props", lit("{}"))
    val dir = SparkSpec.tempDir("graft_funnel")
    ev.write.mode("overwrite")
      .parquet(dir.resolve("events.parquet").toString)
    val got = graft.operators.ChangeOps.funnelEvents(spark, dir.toString)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    assert(got == Map(1 -> 3L, 2 -> 2L, 3 -> 1L), got.toString)
  }
}
