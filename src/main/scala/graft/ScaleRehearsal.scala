package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Scratch.{sourceFingerprint, stage, wipeDir}

/** Scale-rehearsal harness (SCALE.md): stages isomorphic-shard
  * multiples of the driver testdata and measures how streaming state
  * and a fact⋈fact join behave as the corpus grows 1× → 10× → 50×.
  *
  * Method (same as the round-6/7 dedup & similarity rehearsals, now
  * committed instead of throwaway): each shard k is the base table
  * with its entity keys offset by k × (key range), so key cardinality
  * and output rows replicate EXACTLY by the multiple — linear cost is
  * the provable expectation, not an assumption.
  *
  * - events shards offset (user_id, event_id), keep `ts` — per-user
  *   session/window structure replicates; the staged dir is split into
  *   5 time-ordered files so `maxFilesPerTrigger=1` yields the same
  *   number of micro-batches at every multiple (batch SIZE scales, the
  *   batch boundary structure doesn't).
  * - lineitem/orders shards offset (l_orderkey, o_orderkey) and keep
  *   o_custkey — facts scale, dims stay 1×, exactly the 100 TB shape.
  *
  * Measurements: per-micro-batch wall + state-store rows/bytes from
  * `StreamingQueryProgress` (the state-scaling evidence), and shuffle
  * write bytes/records from a stage listener + min-of-passes wall for
  * the join. One JSON line per (query, multiple) on stdout.
  *
  * Usage: runMain graft.ScaleRehearsal [streaming|join|all] [m1,m2,..]
  */
object ScaleRehearsal {

  /** Shuffle write totals across all stages of one measured action.
    * Records are the noise-free cross-pass signal; bytes track them
    * modulo compression. */
  final class ShuffleListener extends SparkListener {
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val records = new java.util.concurrent.atomic.AtomicLong
    // bytes/records the scans actually READ (FileSystem statistics) —
    // the data-skipping evidence for the layout family: a skipped row
    // group never lands here
    val inBytes = new java.util.concurrent.atomic.AtomicLong
    val inRecords = new java.util.concurrent.atomic.AtomicLong
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        inBytes.addAndGet(m.inputMetrics.bytesRead)
        inRecords.addAndGet(m.inputMetrics.recordsRead)
      }
    }
    def reset(): Unit =
      { bytes.set(0); records.set(0); inBytes.set(0); inRecords.set(0) }
  }

  private def freshDir(parts: String*): String = {
    val p = Scratch.path(("graft_rehearsal" +: parts): _*)
    wipeDir(p)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** Staged dirs are content-addressed by (kind, SOURCE DATASET,
    * multiple, any shape params in `extra`) and reused across
    * passes/runs under the `Scratch.stage` marker rule. The dataset
    * is part of the key — keying on the multiple alone would silently
    * reuse an sf0.1 staging for an sf0.001 request — and the marker's
    * source fingerprint catches a regenerated dataset at the same
    * path. */
  private def stagedDir(kind: String, sfDir: String, mult: Int,
                        extra: String = ""): java.nio.file.Path =
    Scratch.path("graft_rehearsal", "stage",
      s"${kind}_${sfDir.replaceAll("[^A-Za-z0-9]", "_")}_x$mult$extra")

  // events sf0.1: user_id ∈ [0, 1500), event_id < 100 000, ts spans
  // 2024-01-01..31. Offsets clear the key range so shards are disjoint.
  private val UserRange = 1500L
  private val EventRange = 100000L
  /** Per-shard doc_id offset for the doc stagers (docs/govdocs) and
    * the replica-slice filter RehearsalSpec applies — ONE definition
    * so an offset change can't strand the test on the wrong slice. */
  private[graft] val DocRange = 1000000L

  /** Stage `mult` isomorphic events shards as `batches` time-ordered
    * single files (b0 < b1 < … by both event time and mtime, so the
    * file stream source replays them in event-time order and the
    * watermark advances monotonically across micro-batches). */
  def stageEvents(s: SparkSession, sfDir: String, mult: Int,
                  batches: Int = 5): String = {
    // `batches` shapes the staged files, so it is part of the key
    val dir = stagedDir("events", sfDir, mult, s"_b$batches")
    val fp = sourceFingerprint(s, s"$sfDir/events.parquet")
    stage(dir, fp) {
      val base = Tables.events(s, sfDir)
      // shard k = base with keys offset by k × range, generated as ONE
      // broadcast cross join with the shard index (not a mult-way union
      // tree, which stops planning cleanly around the hundreds — the
      // stageEmbeddings lesson; this form stages 1000× as one plan)
      val all = base
        .crossJoin(broadcast(s.range(0, mult).toDF("k")))
        .select(
          (col("event_id") + col("k") * lit(EventRange)).as("event_id"),
          col("ts"),
          (col("user_id") + col("k") * lit(UserRange)).as("user_id"),
          col("event_type"), col("value"), col("props"))
        // 30 days / 5 batches = 6-day slices: deterministic, engine-free
        // (clamped so a day-31 straggler can't mint a 6th bucket)
        .withColumn("__b",
          least(((dayofmonth(col("ts")) - 1) / 6).cast("int"), lit(batches - 1)))
      (0 until batches).foreach { b =>
        val tmp = dir.resolve(s"_tmp$b")
        // repartition(1), not coalesce(1): the single-file invariant with
        // the shard expansion still computed in parallel upstream
        all.filter(col("__b") === b).drop("__b")
          .repartition(1).write.parquet(tmp.toString)
        import scala.jdk.CollectionConverters._
        val part = java.nio.file.Files.list(tmp).iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
        java.nio.file.Files.move(part, dir.resolve(f"b$b%02d.parquet"))
        wipeDir(tmp)
        Thread.sleep(20) // distinct mtimes → deterministic replay order
      }
    }
  }

  /** Stage `mult` fact shards (lineitem + orders, orderkey-offset,
    * custkey unchanged) and link the 1× dims alongside, producing a
    * directory `Tables` reads like any sf dir. */
  def stageFacts(s: SparkSession, sfDir: String, mult: Int): String = {
    val dir = stagedDir("facts", sfDir, mult)
    // dims are symlinks (always-fresh); the copied facts are the
    // staleness risk, so they are what the fingerprint covers
    val fp = sourceFingerprint(s,
      s"$sfDir/lineitem.parquet", s"$sfDir/orders.parquet")
    stage(dir, fp) {
      val okRange = 150000L
      val li = (0 until mult).map { k =>
        Tables.lineitem(s, sfDir)
          .withColumn("l_orderkey", col("l_orderkey") + lit(k * okRange))
      }.reduce(_ union _)
      li.write.parquet(dir.resolve("lineitem.parquet").toString)
      val ord = (0 until mult).map { k =>
        Tables.orders(s, sfDir)
          .withColumn("o_orderkey", col("o_orderkey") + lit(k * okRange))
      }.reduce(_ union _)
      ord.write.parquet(dir.resolve("orders.parquet").toString)
      Seq("customer", "nation", "region", "supplier", "part").foreach { t =>
        java.nio.file.Files.createSymbolicLink(
          dir.resolve(s"$t.parquet"),
          java.nio.file.Paths.get(sfDir, s"$t.parquet"))
      }
    }
  }

  /** One micro-batch's worth of progress evidence. */
  final case class BatchRow(batchId: Long, inputRows: Long, wallMs: Long,
                            stateRows: Long, stateBytes: Long)

  /** Drain `stream` through a noop sink ([[graft.streaming.StreamOps
    * .drain]], with RocksDB row tracking on: the trail's state rows are
    * the evidence) and return the per-batch progress trail. */
  def drainWithProgress(s: SparkSession, stream: DataFrame, mode: String,
                        tag: String): Seq[BatchRow] = {
    val q = graft.streaming.StreamOps.drain(s, stream, mode,
      freshDir("ckpt", tag), trackRows = true)(_.format("noop"))
    val rows = q.recentProgress.toSeq.map { p =>
      val st = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
      BatchRow(p.batchId, p.numInputRows,
        Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(-1L),
        st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum)
    }
    q.stop()
    rows
  }

  private def jsonLine(query: String, mult: Int, batches: Seq[BatchRow]): String = {
    val bs = batches.map(b =>
      s"""{"batch":${b.batchId},"rows":${b.inputRows},"ms":${b.wallMs},""" +
        s""""state_rows":${b.stateRows},"state_bytes":${b.stateBytes}}""")
      .mkString("[", ",", "]")
    s"""{"family":"streaming","query":"$query","mult":$mult,""" +
      s""""input_rows":${batches.map(_.inputRows).sum},""" +
      s""""wall_ms":${batches.map(_.wallMs).sum},""" +
      s""""max_state_rows":${(0L +: batches.map(_.stateRows)).max},""" +
      s""""max_state_bytes":${(0L +: batches.map(_.stateBytes)).max},""" +
      s""""batches":$bs}"""
  }

  def runStreaming(s: SparkSession, sfDir: String, mults: Seq[Int]): Unit = {
    import graft.streaming.StreamOps
    // Drains run on the RocksDB state store (StreamOps.drain, called
    // by drainWithProgress) — the provider a 50×+
    // deployment actually runs (state spills to executor disk instead
    // of living on-heap), same as every gated drain. NOTE:
    // memoryUsedBytes is provider-specific (RocksDB reports its own
    // usage), so compare state ROWS across providers, bytes within one.
    mults.foreach { m =>
      val staged = stageEvents(s, sfDir, m)
      def src = StreamOps.eventsStreamFromDir(s, staged, Some(1))
      val cases = Seq(
        // state ∝ users × sessions-in-horizon → linear in the multiple
        ("sessionize_stream",
          () => StreamOps.sessionizeStreamOf(src), "append"),
        // state = one tuple per user → exactly linear
        ("running_totals_stream",
          () => StreamOps.runningTotalsOf(s, src), "update"),
        // state bounded by (windows in horizon × event types) —
        // CONSTANT across multiples while input scales: the
        // watermark-bounds-state claim, measured
        ("events_window_stream",
          () => StreamOps.windowedCountsOf(src), "append"),
        // stream-stream LEFT join: both sides buffer rows inside
        // watermark + join window; state ∝ events in that horizon —
        // linear in the multiple, evicted as the watermark advances
        ("stream_left_join",
          () => StreamOps.clickPurchaseLeftOf(src, src), "append"))
      cases.foreach { case (name, mk, mode) =>
        s.catalog.clearCache()
        val trail = drainWithProgress(s, mk(), mode, s"${name}_x$m")
        println(jsonLine(name, m, trail))
        Console.err.println(s"[rehearsal] $name x$m: " +
          trail.map(b => s"b${b.batchId}=${b.inputRows}r/${b.wallMs}ms/" +
            s"${b.stateRows}st").mkString(" "))
      }
    }
  }

  /** The DEEP streaming-state drains (SCALE.md §"200–1000×
    * streaming"): the two heaviest per-key state machines —
    * session_window merging and the transformWithState timer
    * sessionizer — pushed to 200×/1000× staged batches on RocksDB, to
    * surface checkpoint-size or timer-fan-out cliffs the 1–50× table
    * can't see (1000× ≈ 1.5M live timers, ~19M session-state rows).
    * Separate family: these drains run minutes each at 1000×, and the
    * 1–50× table keeps its four-query breadth. */
  def runStreamingDeep(s: SparkSession, sfDir: String, mults: Seq[Int]): Unit = {
    import graft.streaming.StreamOps
    mults.foreach { m =>
      val staged = stageEvents(s, sfDir, m)
      def src = StreamOps.eventsStreamFromDir(s, staged, Some(1))
      val cases = Seq(
        ("sessionize_stream",
          () => StreamOps.sessionizeStreamOf(src), "append"),
        ("tws_session_timers",
          () => StreamOps.sessionTimersOf(s, src), "append"))
      cases.foreach { case (name, mk, mode) =>
        s.catalog.clearCache()
        val trail = drainWithProgress(s, mk(), mode, s"${name}_x$m")
        println(jsonLine(name, m, trail))
        Console.err.println(s"[rehearsal] $name x$m: " +
          trail.map(b => s"b${b.batchId}=${b.inputRows}r/${b.wallMs}ms/" +
            s"${b.stateRows}st").mkString(" "))
      }
    }
  }

  /** One skip record per SKIPPED registered query — keyed by the same
    * query name the measured lines use, so a consumer keying on query
    * never sees a rung silently vanish. */
  private def skipLine(family: String, query: String, mult: Int,
                       reason: String): Unit =
    println(s"""{"family":"$family","query":"$query","mult":$mult,""" +
      s""""skipped":"$reason"}""")

  /** min-of-passes wall + shuffle totals for one measured query,
    * printed as one JSON line — shared by every batch family. */
  private def measure(s: SparkSession, listener: ShuffleListener,
                      family: String, name: String, mult: Int,
                      passes: Int)(mk: => DataFrame): Unit = {
    var bytes = 0L; var records = 0L; var rows = 0L
    var inBytes = 0L; var inRecords = 0L
    val walls = (1 to passes).map { _ =>
      s.catalog.clearCache()
      listener.reset()
      val t0 = System.nanoTime()
      val df = mk
      df.write.format("noop").mode("overwrite").save()
      val w = (System.nanoTime() - t0) / 1e9
      // the listener bus is async (and private[spark], so no
      // waitUntilEmpty) — poll until two consecutive reads of the
      // counters agree (bounded) instead of trusting one fixed sleep,
      // which under bus lag silently under-reports the totals
      var prev = -1L
      var cur = listener.bytes.get + listener.records.get +
        listener.inBytes.get + listener.inRecords.get
      var waitedMs = 0
      while (prev != cur && waitedMs < 5000) {
        Thread.sleep(100); waitedMs += 100
        prev = cur
        cur = listener.bytes.get + listener.records.get +
          listener.inBytes.get + listener.inRecords.get
      }
      bytes = listener.bytes.get; records = listener.records.get
      inBytes = listener.inBytes.get; inRecords = listener.inRecords.get
      rows = df.count()
      w
    }
    // out_rows comes from a SEPARATE count() execution after the timed
    // noop write (flagged in the JSON so readers don't attribute its
    // stages to the measured pass)
    println(f"""{"family":"$family","query":"$name","mult":$mult,""" +
      f""""wall_s":${walls.min}%.2f,"walls":[${walls.map(w => f"$w%.2f").mkString(",")}],""" +
      f""""shuffle_bytes":$bytes,"shuffle_records":$records,""" +
      f""""input_bytes":$inBytes,"input_records":$inRecords,""" +
      f""""out_rows":$rows,"out_rows_src":"separate-count-execution"}""")
  }

  def runJoin(s: SparkSession, sfDir: String, mults: Seq[Int],
              passes: Int = 3): Unit = {
    val listener = new ShuffleListener
    s.sparkContext.addSparkListener(listener)
    mults.foreach { m =>
      val staged = stageFacts(s, sfDir, m)
      measure(s, listener, "join", "q18_large_orders", m, passes)(
        operators.RelOps.q18LargeOrders(s, staged))
    }
  }

  /** Stage `mult` isomorphic documents shards: doc_id offset, every
    * LINE suffixed with the shard tag (shards share no lines, so the
    * line-dedup first-occurrence structure replicates exactly), and
    * source made per-shard (each shard packs independently, so
    * pack_sequences coordinates replicate exactly). */
  def stageDocs(s: SparkSession, sfDir: String, mult: Int): String = {
    val dir = stagedDir("docs", sfDir, mult)
    val fp = sourceFingerprint(s, s"$sfDir/documents.parquet")
    stage(dir, fp) {
      val base = Tables.documents(s, sfDir)
      // append batches of ≤ 50 shards (the stageEmbeddings rationale):
      // a 1000× staging plans 20 modest jobs, not one 1000-branch
      // union tree
      val out = dir.resolve("documents.parquet").toString
      (0 until mult).grouped(50).foreach { chunk =>
        chunk.map { k =>
          base.select(
            (col("doc_id") + lit(k * DocRange)).as("doc_id"),
            array_join(transform(split(col("text"), "\n"),
              l => concat(l, lit(s" §$k"))), "\n").as("text"),
            concat(col("source"), lit(s"_$k")).as("source"))
        }.reduce(_ union _)
          .write.mode("append").parquet(out)
      }
    }
  }

  /** Zipf vocabulary size for the realistic-corpus retrieval
    * rehearsals. */
  val ZipfVocab = 20000

  /** Deterministic alphabetic word for Zipf rank r (letters only —
    * the tokenizer splits on non-letters, so digits would shear every
    * word apart). */
  private def zipfWordOf(r: Int): String = {
    var x = r; val sb = new StringBuilder("q")
    while (x > 0) { sb.append(('a' + x % 26).toChar); x /= 26 }
    sb.toString
  }

  /** Stage a SYNTHETIC HEAVY-TAILED corpus: `mult` × the base doc
    * count, each doc 40–80 tokens drawn Zipf(s≈1) from a
    * [[ZipfVocab]]-word vocabulary — rank = ⌊exp(u·ln V)⌋ under a
    * per-(doc, pos) xxhash64-derived uniform u, the inverse-CDF of
    * P(rank ≤ r) ≈ ln r / ln V. This is the round-15 verdict's
    * missing corpus: the committed WAND default-plan verdict and the
    * workload saturation point were measured on the driver corpus's
    * 31-word vocabulary, where every df-distribution-sensitive number
    * is a degenerate-vocabulary artifact. Deterministic (hash-derived,
    * no RNG), engine-free, rehearsal-only. */
  def stageDocsZipf(s: SparkSession, sfDir: String, mult: Int): String = {
    val dir = stagedDir("docszipf", sfDir, mult)
    val fp = sourceFingerprint(s, s"$sfDir/documents.parquet") + s"|v$ZipfVocab"
    stage(dir, fp) {
      val nBase = Tables.documents(s, sfDir).count()
      val ndocs = nBase * mult
      import scala.jdk.CollectionConverters._
      val words = s.createDataFrame(
        (1 to ZipfVocab).map(r =>
          org.apache.spark.sql.Row(r, zipfWordOf(r))).asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("rank",
            org.apache.spark.sql.types.IntegerType),
          org.apache.spark.sql.types.StructField("word",
            org.apache.spark.sql.types.StringType))))
      s.range(ndocs).select(col("id").as("doc_id"))
        .withColumn("len",
          pmod(xxhash64(col("doc_id"), lit("len")), lit(41L)) + lit(40L))
        .select(col("doc_id"),
          explode(sequence(lit(1L), col("len"))).as("pos"))
        .withColumn("u",
          (pmod(xxhash64(col("doc_id"), col("pos"), lit("w")),
            lit(1000000L)) + lit(1L)).cast("double") / 1000000.0)
        .withColumn("rank",
          least(lit(ZipfVocab),
            greatest(lit(1),
              floor(exp(col("u") * log(lit(ZipfVocab.toDouble))))
                .cast("int"))))
        .join(broadcast(words), "rank")
        .groupBy("doc_id")
        .agg(array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("word")))),
            e => e.getField("word")), " ").as("text"))
        .select(col("doc_id"), col("text"), lit("xx").as("lang"),
          lit("zipf").as("source"), length(col("text")).as("n_chars"))
        .write.parquet(dir.resolve("documents.parquet").toString)
    }
  }

  /** line_dedup + pack_sequences over staged doc multiples: wall +
    * shuffle, linear expectation by construction. */
  def runPipeline(s: SparkSession, sfDir: String, mults: Seq[Int],
                  passes: Int = 3): Unit = {
    val listener = new ShuffleListener
    s.sparkContext.addSparkListener(listener)
    mults.foreach { m =>
      val staged = stageDocs(s, sfDir, m)
      measure(s, listener, "pipeline", "line_dedup", m, passes)(
        operators.PipelineOps.lineDedup(s, staged))
      measure(s, listener, "pipeline", "pack_sequences", m, passes)(
        operators.PipelineOps.packSequences(s, staged))
      // the staged shards share no LINES (per-line §k suffix) but DO
      // share every ≥K-token span that sits strictly inside a line —
      // so each shared gram's occurrence count grows with the
      // multiple, making this the hot-gram worst case for the
      // first-occurrence window, exactly the pressure worth measuring
      measure(s, listener, "pipeline", "substring_dedup", m, passes)(
        operators.PipelineOps.substringDedup(s, staged))
    }
  }

  /** The r19 §2.4 map-side text shapes over staged doc multiples:
    * the `zip_with` bigram adjacency (`bigrams_zipwith`) and the ±1
    * per-occurrence simhash vote fold (`simhash_occurrence`), wall +
    * shuffle per multiple. Expectation: linear in the multiple. The
    * removed shapes they replaced (a corpus-wide `lead()` window, a
    * per-distinct (doc, word) pre-aggregate) have their receipts in
    * `plans/r20/SCALE_textscale.jsonl` and `OPTIMIZATION_r20.md`. */
  def runTextScale(s: SparkSession, sfDir: String, mults: Seq[Int],
                   passes: Int = 3): Unit = {
    val listener = new ShuffleListener
    s.sparkContext.addSparkListener(listener)
    mults.foreach { m =>
      val docs = Tables.documents(s, stageDocs(s, sfDir, m))
      measure(s, listener, "textscale", "bigrams_zipwith", m, passes)(
        operators.TextAnalysis.bigramEvents(docs)
          .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
          .filter(col("c12") >= operators.TextAnalysis.MinBigramCount))
      measure(s, listener, "textscale", "simhash_occurrence", m, passes)(
        operators.Dedup.simhashFromHash(docs,
          operators.Dedup.md5Hash60(col("word")), operators.Dedup.SimHashBits))
    }
  }

  /** Stage `mult` VERBATIM document replicas (doc_id offset only,
    * text untouched) — the governance rehearsal's corpus. Two
    * properties the tag-suffixing stageDocs cannot give:
    * (1) the unigram LM is replica-invariant (every cf and N scale by
    * the same mult, so cf/N — and every avg_nll — is bit-identical to
    * 1×; the suffix stager's injected tokens grow N without growing
    * content cfs, which pushed EVERY staged doc over the fixed
    * perplexity gate and zeroed the pipeline — found when the first
    * governance rehearsal reported out_rows = 0 at all multiples),
    * and (2) exact-dedup collapses the replicas (fp ignores doc_id),
    * so the release output is bounded by UNIQUE content while the
    * scan/LM cost grows ∝ corpus — the replicated-crawl shape real
    * release pipelines actually face. */
  def stageGovDocs(s: SparkSession, sfDir: String, mult: Int): String = {
    val dir = stagedDir("govdocs", sfDir, mult)
    val fp = sourceFingerprint(s, s"$sfDir/documents.parquet")
    stage(dir, fp) {
      val base = Tables.documents(s, sfDir)
      val out = dir.resolve("documents.parquet").toString
      (0 until mult).grouped(50).foreach { chunk =>
        chunk.map(k => base.withColumn("doc_id", col("doc_id") + lit(k * DocRange)))
          .reduce(_ union _)
          .write.mode("append").parquet(out)
      }
    }
  }

  /** Governance/release rung (round 16): the manifest must stay ONE
    * narrow shuffle + a per-shard window as the corpus grows (fixed
    * shard count ⇒ per-shard sort grows ∝ mult — the shard-file
    * writer's own cost), and the release capstone must price as
    * corpus_build_full + a marginal manifest tail — the layout step
    * must never become the pipeline's bottleneck. The corpus is the
    * verbatim-replica stage (see [[stageGovDocs]]): gates behave
    * exactly as at 1×, dedup collapses the replicas, so out_rows
    * stays the unique-content release while cost grows ∝ corpus. */
  /** Stage `mult` verbatim customer replicas (c_custkey offset only):
    * every cell's nv, n, N multiply by m. The t-closeness gate and
    * reported distance are pure RATIO algebra (X ∝ m², n·N ∝ m²), so
    * its release decisions replay bit-exactly at every multiple —
    * measured: out_rows 611 at 1/10/50×. The k/l COUNT gates loosen
    * monotonically instead (fixed K over scaled counts), so those
    * rungs measure cost shape, with decisions near-saturated at
    * sf0.1 (749→750 / 746 released cells). */
  def stageCustomers(s: SparkSession, sfDir: String, mult: Int): String = {
    val dir = stagedDir("cust", sfDir, mult)
    val fp = sourceFingerprint(s, s"$sfDir/customer.parquet")
    stage(dir, fp) {
      val base = Tables.customer(s, sfDir)
      val out = dir.resolve("customer.parquet").toString
      (0 until mult).grouped(50).foreach { chunk =>
        chunk.map(k => base.withColumn("c_custkey",
            col("c_custkey") + lit(k * 10000000L)))
          .reduce(_ union _)
          .write.mode("append").parquet(out)
      }
    }
  }

  def runGovernance(s: SparkSession, sfDir: String, mults: Seq[Int],
                    passes: Int = 3): Unit = {
    val listener = new ShuffleListener
    s.sparkContext.addSparkListener(listener)
    mults.foreach { m =>
      // anonymization ladders over verbatim customer replicas — the
      // claim is corpus-linear cost (two hash aggregates + cell-grain
      // post-processing) with bit-identical release decisions
      val stagedC = stageCustomers(s, sfDir, m)
      measure(s, listener, "governance", "k_anonymize", m, passes)(
        operators.Governance.kAnonymize(s, stagedC))
      measure(s, listener, "governance", "l_diversity", m, passes)(
        operators.Governance.lDiversity(s, stagedC))
      measure(s, listener, "governance", "t_closeness", m, passes)(
        operators.Governance.tCloseness(s, stagedC))
      val stagedM = stageMediaDocs(s, sfDir, m) // (doc_id, n_chars)
      measure(s, listener, "governance", "shard_manifest", m, passes)(
        operators.Governance.shardManifest(s, stagedM))
      // the full-pipeline pair needs TEXT replicas (GBs past 200×) and
      // its 1–200× slopes are already measured; the manifest alone
      // scales to the 1000× tier on the narrow (doc_id, n_chars) stage
      if (m <= 200) {
        val stagedT = stageGovDocs(s, sfDir, m) // verbatim replicas
        measure(s, listener, "governance", "corpus_build_full", m, passes)(
          operators.PipelineOps.corpusBuildFull(s, stagedT))
        measure(s, listener, "governance", "corpus_release", m, passes)(
          operators.PipelineOps.corpusRelease(s, stagedT))
      } else
        Seq("corpus_build_full", "corpus_release").foreach(q =>
          skipLine("governance", q, m, "text-replica staging past 200x; " +
            "pipeline slopes measured through 200x"))
    }
  }

  /** In-engine classifier training over verbatim-replica corpora: the
    * claim is (a) per-epoch cost ∝ corpus (one pass over the landed
    * feature relation with map-side partial gradient aggregation),
    * (b) driver traffic CONSTANT in corpus size (5 longs per
    * partition per epoch), (c) the violator-averaged step makes the
    * optimization itself scale-stable — violations decay at every
    * multiple. Pass 1 includes the one-time feature land; later
    * passes price the 30-epoch loop via the cache-bypassing fresh
    * entry (the registered query memoizes per dataset). The corpus is
    * the VERBATIM-replica stage ([[stageGovDocs]], doc_id offset
    * only): each replica's features and label are identical to the
    * base doc's, so the label threshold keeps its class balance and
    * the violator-average step sees the same geometry at every
    * multiple — stageDocs' per-shard line tags would shift exactly
    * the token statistics the hidden rule thresholds (the
    * rehearsal-corpus rule the perplexity family established). Only
    * split membership varies (doc_id % splits see offset ids). */
  def runQualityTrain(s: SparkSession, sfDir: String, mults: Seq[Int],
                      passes: Int = 3): Unit = {
    val listener = new ShuffleListener
    s.sparkContext.addSparkListener(listener)
    mults.foreach { m =>
      val staged = stageGovDocs(s, sfDir, m)
      measure(s, listener, "qualitytrain", "quality_train", m, passes)(
        operators.TextAnalysis.qualityTrainFresh(s, staged))
      measure(s, listener, "qualitytrain", "quality_train_eval", m, passes)(
        operators.TextAnalysis.qualityTrainEval(s, staged))
    }
  }

  // embeddings sf0.1: vec_id < 2 000
  private val VecRange = 1000000L

  /** Above this K the semdedup rehearsal index builds hierarchically
    * (Similarity.ivfBuildHier); at or below it the flat, fully-
    * oracled ivfBuild is affordable and stays the reference. 3200 =
    * the 200× point, the largest multiple the flat build has run. */
  private val HierK = 3200

  /** Stage `mult` isomorphic embedding shards as SIGNED PERMUTATIONS
    * of the base: per-shard dimension rotation (k·7 mod 64) composed
    * with a per-shard-group sign PATTERN — shard k = 64·g + r gets
    * rotation r·7 mod 64 and flips dimension i iff bit (i mod 4) of g
    * is set. A signed permutation is orthogonal, so norms and
    * SAME-SHARD dot products are preserved exactly (each shard
    * replicates the 1× pair geometry) while cross-shard vectors
    * decorrelate. 64 rotations × 16 sign patterns = 1024 distinct
    * transforms — the former family (rotation + all-dims flip) had
    * only 128, so shard k silently DUPLICATED shard k−128 beyond that,
    * inserting cross-shard exact duplicates that would corrupt
    * semdedup/ANN rehearsal numbers; the hard require guards the new
    * ceiling. g = 0 reproduces the former shards 0–63 bit-for-bit.
    *
    * Shards are written in append batches of ≤ 64 (not one
    * `mult`-way union) so a 1000× staging plans 16 modest jobs
    * instead of one 1000-branch union tree. */
  def stageEmbeddings(s: SparkSession, sfDir: String, mult: Int): String = {
    require(mult <= 1024,
      s"stageEmbeddings: transform family has 1024 distinct signed " +
        s"permutations; mult=$mult would duplicate shards exactly")
    // "_t2" keys the TRANSFORM VERSION: markers persist across JVM
    // runs, and shards ≥ 64 changed content when the sign-pattern
    // family replaced the all-dims flip
    val dir = stagedDir("emb", sfDir, mult, "_t2")
    val fp = sourceFingerprint(s, s"$sfDir/embeddings.parquet")
    stage(dir, fp) {
      val base = Tables.embeddings(s, sfDir)
      val out = dir.resolve("embeddings.parquet").toString
      (0 until mult).grouped(64).foreach { chunk =>
        chunk.map { k =>
          val rot = (k * 7) % 64
          val g = k / 64
          val signs = array((0 until 64).map(i =>
            lit(if (((g >> (i % 4)) & 1) == 1) -1.0f else 1.0f)): _*)
          val rotated = transform(sequence(lit(0), lit(63)),
            i => element_at(col("embedding"), ((i + lit(rot)) % 64) + 1))
          val e = zip_with(rotated, signs, (x, sg) => x * sg)
          base.select((col("vec_id") + lit(k * VecRange)).as("vec_id"),
            e.as("embedding"), col("label"))
        }.reduce(_ union _)
          .write.mode("append").parquet(out)
      }
    }
  }

  /** semdedup over staged embedding multiples with K ∝ N — the
    * published knob that keeps cells ~constant-sized. The index lands
    * once per (multiple, K) OUTSIDE the measure (it is the landed
    * artifact in production; its build cost at real scale is the
    * kmeans literature's problem, not this operator's), so the
    * measured op is the within-cell pair pass + keep-first partial
    * min-agg. Expectation: linear records/bytes in the multiple —
    * a FIXED K would instead grow cells with N and go quadratic. */
  /** Storage-partitioned join vs. the same body shuffled: the
    * generated tables scale with the multiple (nA = 100k·m,
    * nB = 60k·m, pstep fixed so key blocks stay constant-sized and
    * the split count grows linearly — the production shape: more
    * files, same file size). Expectation: the shuffled twin's
    * exchange records grow ∝ nA+nB (both fact sides re-cluster per
    * query), while the SPJ form's shuffles stay FLAT (only the
    * 50-word aggregate + presentation exchanges survive) — the
    * measured form of the "deletes the two largest shuffles"
    * claim SourcesSpec pins at plan level. */
  def runSpj(s: SparkSession, sfDir: String, mults: Seq[Int],
             passes: Int = 3): Unit = {
    val listener = new ShuffleListener
    s.sparkContext.addSparkListener(listener)
    mults.foreach { m =>
      val (nA, nB) = (100000L * m, 60000L * m)
      val on = sources.StorageOps.spjSession(s)
      measure(s, listener, "spj", "spj_join", m, passes)(
        sources.StorageOps.spjBodyOf(on, nA, nB))
      // the sort-cost twin: same zero-exchange SPJ, but the scan
      // withholds its ordering so the SMJ re-sorts every key block —
      // isolates what SupportsReportOrdering saves
      measure(s, listener, "spj", "spj_join_unsorted", m, passes)(
        sources.StorageOps.spjBodyOf(on, nA, nB, noorder = true))
      val off = s.newSession()
      off.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      measure(s, listener, "spj", "spj_join_shuffled", m, passes)(
        sources.StorageOps.spjBodyOf(off, nA, nB))
    }
  }

  /** SPJ skew rehearsal — the straggler as a measured wall, on the
    * GENUINELY skewed key map (`hotrows = nA/2`): pkey 0 owns HALF
    * the fact table, laid out as 16 same-key splits, with the other
    * half spread over 16 uniform pstep blocks and the probe side
    * living entirely inside the hot key. Plain SPJ groups the hot
    * splits into ONE task — a straggler that serializes half the
    * join on one core; partially-clustered distribution keeps them
    * apart (replicating the probe side's matching block), so the hot
    * key fans across 16 tasks with zero join-side exchanges either
    * way. Expectation: the grouped twin's wall is gated by the hot
    * task; the pcd twin pays visible replication (input records) to
    * buy the parallelism. */
  def runSpjSkew(s: SparkSession, sfDir: String, mults: Seq[Int],
                 passes: Int = 3): Unit = {
    val listener = new ShuffleListener
    s.sparkContext.addSparkListener(listener)
    mults.foreach { m =>
      // GENUINE skew via the source's hotrows map: pkey 0 owns HALF
      // the fact table, the other half spreads over 16 uniform
      // blocks, and the probe side (20k·m) sits entirely inside the
      // hot key — the classic hot-customer join. Plain SPJ groups
      // the hot block's 16 splits into ONE task (a straggler owning
      // half the join); partially-clustered keeps them apart and
      // replicates the probe block across them (visible as grown
      // input records — the price of the parallelism).
      val (nA, nB) = (100000L * m, 20000L * m)
      val hotrows = nA / 2
      val pstep = math.max(1L, hotrows / 16)
      val grouped = sources.StorageOps.spjSession(s)
      measure(s, listener, "spjskew", "skew_grouped", m, passes)(
        sources.StorageOps.spjSkewBodyOf(grouped, nA, nB, pstep, 16, hotrows))
      val pcd = sources.StorageOps.spjSession(s)
      pcd.conf.set("spark.sql.sources.v2.bucketing" +
        ".partiallyClusteredDistribution.enabled", "true")
      measure(s, listener, "spjskew", "skew_partially_clustered", m, passes)(
        sources.StorageOps.spjSkewBodyOf(pcd, nA, nB, pstep, 16, hotrows))
    }
  }

  /** BM25 over staged doc multiples: the corpus-owned tf/len/df
    * aggregations are the only O(corpus) terms; the scoring join is
    * bounded by the inverted-index selectivity (docs sharing a query
    * term), so wall should track the wordcount family, not the join
    * family. The hybrid's DENSE HALF is measured over staged
    * embedding multiples as the landed-IVF probe it now is
    * ([[operators.Retrieval.denseRanked]] — the round-13 rework away
    * from the brute-force corpus scan): the store lands inside the
    * first pass, min-of-passes prices the steady-state probe, and the
    * expectation is the ann_ivf slope (cells grow with N at fixed K —
    * sublinear wall, NOT the linear full-corpus scan the old shape
    * paid). The fuse itself is O(queries·k) by construction and has
    * no corpus-sized term to rehearse. */
  def runRetrieval(s: SparkSession, sfDir: String, mults: Seq[Int],
                   passes: Int = 3): Unit = {
    val listener = new ShuffleListener
    s.sparkContext.addSparkListener(listener)
    mults.foreach { m =>
      val staged = stageDocs(s, sfDir, m)
      measure(s, listener, "retrieval", "bm25_retrieve", m, passes)(
        operators.Retrieval.bm25Retrieve(s, staged))
      val stagedEmb = stageEmbeddings(s, sfDir, m)
      measure(s, listener, "retrieval", "hybrid_dense_probe", m, passes)(
        operators.Retrieval.denseRanked(s, stagedEmb))
    }
  }

  /** WAND-family max-score prune vs the plain probe, measured — the
    * round-14 verdict's missing receipt: per multiple, the SAME
    * ranked answer through (a) the plain bucket-pruned probe that
    * exact-scores every matched posting and (b) the max-score plan
    * that exact-scores only seeds ∪ survivors. The extra JSON line
    * counts matched vs exactly-scored (query, doc) pairs — the
    * skip ratio that has to grow with corpus depth for the prune to
    * ever win (per-term postings lists deepen ∝ multiple while the
    * answer stays top-K). Also prices the segment-lifecycle probes:
    * the 2-segment incremental read vs the post-compaction
    * single-segment read (compaction's amortized payoff; its
    * build cost is pass 1 minus steady-state in the walls array). */
  def runWand(s: SparkSession, sfDir: String, mults: Seq[Int],
              passes: Int = 3): Unit = {
    val listener = new ShuffleListener
    s.sparkContext.addSparkListener(listener)
    mults.foreach { m =>
      val staged = stageDocs(s, sfDir, m)
      measure(s, listener, "wand", "bm25_plain", m, passes)(
        operators.Retrieval.bm25Retrieve(s, staged))
      measure(s, listener, "wand", "bm25_wand", m, passes)(
        operators.Retrieval.bm25TopkPruned(s, staged))
      val (_, matched, scored) = operators.Retrieval.wandPlan(s, staged)
      val nm = matched.count(); val ns = scored.count()
      println(s"""{"family":"wand","query":"wand_skipped","mult":$m,""" +
        s""""matched_pairs":$nm,"scored_pairs":$ns,""" +
        s""""skipped_pairs":${nm - ns}}""")
      measure(s, listener, "wand", "bm25_incr_2seg", m, passes)(
        operators.Retrieval.bm25Incremental(s, staged))
      measure(s, listener, "wand", "bm25_compact_1seg", m, passes)(
        operators.Retrieval.bm25Compact(s, staged))
    }
  }

  /** The WAND WIN case, measured — the other half of the `wand`
    * family's receipt: on the gate's hot-term workload the prune
    * skips a flat ~20% and never pays; THIS twin runs the selective
    * workload (one mid-df seed + two hot terms per query —
    * [[operators.Retrieval.selectiveWorkloadOf]]), where θ lands at
    * the selective docs' scores and every hot-only doc's upper bound
    * falls below it. Expectation: skip ratio ~ the hot lists' share
    * of the candidate set (≫ 90%), and the pruned plan beats the
    * plain full-scoring plan by roughly that factor's scoring cost. */
  def runWandMix(s: SparkSession, sfDir: String, mults: Seq[Int],
                 passes: Int = 3): Unit = {
    val listener = new ShuffleListener
    s.sparkContext.addSparkListener(listener)
    mults.foreach { m =>
      val staged = stageDocs(s, sfDir, m)
      val wl = operators.Retrieval.selectiveWorkloadOf(s, staged, 3)
      measure(s, listener, "wandmix", "bm25_plain_sel", m, passes)(
        operators.Retrieval.bm25RankedWith(s, staged, wl))
      // ONE wandPlan derivation: the measured plan and the skip-count
      // relations come from the same call (re-deriving it per consumer
      // re-ran the counting jobs outside the measured window)
      val (pruned, matched, scored) =
        operators.Retrieval.wandPlan(s, staged, wl)
      measure(s, listener, "wandmix", "bm25_wand_sel", m, passes)(pruned)
      val nm = matched.count(); val ns = scored.count()
      println(s"""{"family":"wandmix","query":"wandmix_skipped","mult":$m,""" +
        s""""matched_pairs":$nm,"scored_pairs":$ns,""" +
        s""""skipped_pairs":${nm - ns}}""")
    }
  }

  /** Workload amortization — the batch-inference regime: per-query
    * cost of the BM25 probe as the WORKLOAD grows (n = 3 → 30 → 100
    * generated 3-term queries over the corpus's hottest words, the
    * worst case for bucket-union saturation). The probe's postings
    * read is pruned to the UNION of the workload's term buckets, so
    * the read saturates toward the full index as n grows while the
    * scoring join stays ∝ matched pairs — wall/n falling with n is
    * the amortization receipt. */
  def runWorkload(s: SparkSession, sfDir: String, mults: Seq[Int],
                  passes: Int = 3,
                  stager: (SparkSession, String, Int) => String = stageDocs,
                  fam: String = "workload"): Unit = {
    val listener = new ShuffleListener
    s.sparkContext.addSparkListener(listener)
    mults.foreach { m =>
      val staged = stager(s, sfDir, m)
      Seq(3, 30, 100).foreach { n =>
        val wl = operators.Retrieval.workloadOf(s, staged, n)
        val buckets = wl.flatMap(_._2.split(" "))
          .map(operators.Retrieval.wbOf).distinct.size
        println(s"""{"family":"$fam","query":"wl_shape","mult":$m,""" +
          s""""n_queries":$n,"distinct_buckets":$buckets,""" +
          s""""of_buckets":${operators.Retrieval.WordBuckets}}""")
        measure(s, listener, fam, s"bm25_wl$n", m, passes)(
          operators.Retrieval.bm25RankedWith(s, staged, wl))
      }
    }
  }

  /** The WAND receipts on the REALISTIC (Zipf heavy-tailed) corpus —
    * the round-15 verdict's top item: both regimes re-measured where
    * the df distribution is no longer a 31-word artifact. Generated
    * workloads (the gate's fixed English terms don't exist in the
    * staged vocabulary): `hot` = 3-hottest-term triples (the gate
    * regime), `sel` = one mid-df seed + two hot terms (the WAND win
    * regime). Skip-ratio JSON lines ride along per regime. */
  def runWandZipf(s: SparkSession, sfDir: String, mults: Seq[Int],
                  passes: Int = 3): Unit = {
    val listener = new ShuffleListener
    s.sparkContext.addSparkListener(listener)
    mults.foreach { m =>
      val staged = stageDocsZipf(s, sfDir, m)
      def receipts(regime: String, wl: Seq[(Long, String)]): Unit = {
        measure(s, listener, "wandzipf", s"bm25_plain_$regime", m, passes)(
          operators.Retrieval.bm25RankedWith(s, staged, wl))
        val (pruned, matched, scored) =
          operators.Retrieval.wandPlan(s, staged, wl)
        measure(s, listener, "wandzipf", s"bm25_wand_$regime", m, passes)(
          pruned)
        val nm = matched.count(); val ns = scored.count()
        println(s"""{"family":"wandzipf","query":"wand_skipped_$regime",""" +
          s""""mult":$m,"matched_pairs":$nm,"scored_pairs":$ns,""" +
          s""""skipped_pairs":${nm - ns}}""")
      }
      receipts("hot", operators.Retrieval.workloadOf(s, staged, 3))
      receipts("sel", operators.Retrieval.selectiveWorkloadOf(s, staged, 3))
    }
  }

  /** DELETE-lifecycle ladder: the plain probe vs the tombstone-MASKED
    * probe vs the post-PURGE single-segment probe, for both index
    * families, at corpus multiples. Expectations the numbers should
    * show: mask ≈ plain + a broadcast anti-join (cost ∝ probe output,
    * corpus-flat overhead), purge ≈ plain on a slightly smaller
    * segment, tombstones ∝ batch (the JSON count line). Pass 1 of the
    * masked/purged walls carries the tombstone/purge builds. */
  def runDelete(s: SparkSession, sfDir: String, mults: Seq[Int],
                passes: Int = 3): Unit = {
    val listener = new ShuffleListener
    s.sparkContext.addSparkListener(listener)
    mults.foreach { m =>
      val stagedD = stageDocs(s, sfDir, m)
      measure(s, listener, "delete", "bm25_plain", m, passes)(
        operators.Retrieval.bm25Retrieve(s, stagedD))
      measure(s, listener, "delete", "bm25_masked", m, passes)(
        operators.Retrieval.bm25Delete(s, stagedD))
      measure(s, listener, "delete", "bm25_purged", m, passes)(
        operators.Retrieval.bm25DeleteCompact(s, stagedD))
      val nTomb = operators.Retrieval.tombStore(s, stagedD).count()
      val nDocs = operators.Retrieval.dlStore(s, stagedD).count()
      println(s"""{"family":"delete","query":"bm25_tombstones","mult":$m,""" +
        s""""tombstones":$nTomb,"indexed_docs":$nDocs}""")
      // the signature store's delete verbs (r17): mask = broadcast
      // anti-join against the ∝-batch tombstones with stale caps;
      // purge = sig+banded rewrite minus tombstones with caps
      // re-derived over survivors (pass 1 of the purged walls carries
      // the rewrite). semdedup's delete twins are deliberately NOT
      // re-measured here: they consume the SAME ivf tombstone/purged
      // artifacts as ann_masked/ann_purged below, so their marginal
      // cost over semdedup is exactly the anti-join those rungs price.
      measure(s, listener, "delete", "lsh_plain", m, passes)(
        operators.Dedup.minhashLsh(s, stagedD))
      measure(s, listener, "delete", "lsh_masked", m, passes)(
        operators.Dedup.minhashLshDelete(s, stagedD))
      measure(s, listener, "delete", "lsh_purged", m, passes)(
        operators.Dedup.minhashLshDeleteCompact(s, stagedD))
      val nTombL = operators.Dedup.lshTombStore(s, stagedD).count()
      val nSig = operators.SigStore.forDataset(s, stagedD).sig(s).count()
      println(s"""{"family":"delete","query":"lsh_tombstones","mult":$m,""" +
        s""""tombstones":$nTombL,"signatures":$nSig}""")
      val stagedE = stageEmbeddings(s, sfDir, m)
      measure(s, listener, "delete", "ann_plain", m, passes)(
        operators.Similarity.annIvf(s, stagedE))
      measure(s, listener, "delete", "ann_masked", m, passes)(
        operators.Similarity.annIvfDelete(s, stagedE))
      measure(s, listener, "delete", "ann_purged", m, passes)(
        operators.Similarity.annIvfDeleteCompact(s, stagedE))
      val nTombV = operators.Similarity.ivfTombStore(s, stagedE).count()
      println(s"""{"family":"delete","query":"ann_tombstones","mult":$m,""" +
        s""""tombstones":$nTombV}""")
    }
  }

  /** Stage `mult` media-document shards: doc_id offset per shard,
    * (lang, source, n_chars) carried through, text DROPPED — media
    * synthesis consumes only (doc_id, n_chars), so the staged table
    * is the narrow projection and staging cost is numeric, not
    * textual.
    *
    * Duplicate structure, stated up front: the decoded signature is a
    * function of (doc_id mod 256, n_chars mod 5) ONLY — a 1280-class
    * ceiling baked into the synthesis contract (the gate's oracle
    * replays it), so as the corpus grows every class grows ∝ mult and
    * the TRUE near-dup pair count grows ∝ mult² NO MATTER how shards
    * are staged (measured: a prime doc_id stride + per-shard n_chars
    * shift rotated both residues and changed nothing — 6.1 M pairs at
    * 10× → exactly 25× = 152.6 M at 50×, because the base corpus
    * already covers all 1280 residue combinations). The rehearsal's
    * near-dup receipt is therefore CANDIDATE EFFICIENCY against that
    * output-quadratic floor, not output linearity: the banded join's
    * shuffle must track the true pair count (band-bucket occupancy),
    * never the all-pairs candidate count. The stride/shift staging is
    * kept — ids must be unique and the shards payload-distinct. */
  def stageMediaDocs(s: SparkSession, sfDir: String, mult: Int): String = {
    // "mediadocs3": staged-dir version bumps are the cache
    // invalidation when the staging recipe changes (fingerprints
    // cover the SOURCE table, deliberately not the staging code)
    val dir = stagedDir("mediadocs3", sfDir, mult)
    val fp = sourceFingerprint(s, s"$sfDir/documents.parquet")
    stage(dir, fp) {
      // prime AND above the 1 M id range the sibling stagers reserve —
      // a sub-range stride would collide shard k's ids with shard k+1's
      // once the base corpus reaches the stride (1000003 mod 256 = 67)
      val docStride = 1000003L
      val base = Tables.documents(s, sfDir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
      val out = dir.resolve("documents.parquet").toString
      (0 until mult).grouped(50).foreach { chunk =>
        chunk.map { k =>
          base.select(
            (col("doc_id") + lit(k * docStride)).as("doc_id"),
            col("lang"), col("source"),
            (col("n_chars") + lit(3L * k)).as("n_chars"))
        }.reduce(_ union _)
          .write.mode("append").parquet(out)
      }
    }
  }

  /** Media-family lifecycle, measured (the round-15 verdict accepted
    * an inheritance NOTE for this family; this is the receipt): at
    * each multiple,
    *   - media_features — pass 1 carries the full encode+decode store
    *     build (the decode-once head, cost ∝ corpus); min-of-passes is
    *     the landed-store read every downstream query actually pays,
    *   - media_incremental — pass 1 carries the (base, delta) segment
    *     land where base is a FILTER of the landed store and only the
    *     10% arriving batch decodes (∝ batch); its build must track
    *     ~10% of the features build, not the corpus,
    *   - media_dedup — one hash aggregation over the narrow signature
    *     columns of the store (corpus-linear, no codec, no pairs),
    *   - media_neardup — banded-Hamming candidate join over the
    *     landed aHashes (ε+1 bands): wall and shuffle must scale with
    *     corpus + band-collision pairs, never quadratically (the
    *     naive all-pairs twin is the GATE's oracle at sf0.01; at 50×
    *     its image side alone is ~3.5e9 pairs — the rehearsal exists
    *     to show the banded plan never needs it). */
  def runMedia(s: SparkSession, sfDir: String, mults: Seq[Int],
               passes: Int = 3): Unit = {
    val listener = new ShuffleListener
    s.sparkContext.addSparkListener(listener)
    mults.foreach { m =>
      val staged = stageMediaDocs(s, sfDir, m)
      measure(s, listener, "media", "media_features", m, passes)(
        operators.Multimodal.multimodalFeatures(s, staged))
      measure(s, listener, "media", "media_incremental", m, passes)(
        operators.Multimodal.multimodalFeaturesIncremental(s, staged))
      measure(s, listener, "media", "media_dedup", m, passes)(
        operators.Multimodal.mediaDedup(s, staged))
      // the 1280-class signature ceiling (stageMediaDocs scaladoc)
      // makes TRUE pairs ∝ mult² — at 200× that is ~2.4 G output rows,
      // rehearsing nothing the 50× rung didn't already prove (shuffle
      // tracks output at a constant 11.4× under the all-pairs floor),
      // so the quadratic rung stops at 50× and says so
      if (m <= 50)
        measure(s, listener, "media", "media_neardup", m, passes)(
          operators.Multimodal.mediaNearDup(s, staged))
      else
        skipLine("media", "media_neardup", m, "output-quadratic by the " +
          "synthesis signature ceiling; measured through 50x")
      measure(s, listener, "media", "media_dedup_masked", m, passes)(
        operators.Multimodal.mediaDelete(s, staged))
      measure(s, listener, "media", "media_dedup_purged", m, passes)(
        operators.Multimodal.mediaDeleteCompact(s, staged))
      val nImgs = operators.Multimodal.featuresTable(s, staged)
        .filter(col("media_type") === "image").count()
      val nTomb = operators.Multimodal.mediaTombStore(s, staged).count()
      println(s"""{"family":"media","query":"corpus_shape","mult":$m,""" +
        s""""images":$nImgs,"tombstones":$nTomb}""")
    }
  }

  /** Signature-DIVERSE media near-dup ladder (round-17 verdict item
    * 1): the gate synthesis's 1280-class signature ceiling makes true
    * pairs ∝ mult² on any staged corpus, so [[runMedia]]'s near-dup
    * rung could only prove shuffle-tracks-output under saturation.
    * This family runs the SAME banded plan over the diverse twin
    * (splitmix64 cell patterns → ~64-bit-diverse aHashes, ~1.6%
    * planted duplicate classes — the rare-duplicate crawl shape) and
    * measures the claim that actually matters at 100 TB: shuffle and
    * input grow ∝ corpus, output ∝ planted pairs (∝ corpus, never
    * N²), and the planted pairs are recovered EXACTLY (the extra
    * JSON line counts found vs planted vs non-planted finds). Pass 1
    * of the features walls carries the diverse store's encode+decode
    * build. */
  def runMediaDiverse(s: SparkSession, sfDir: String, mults: Seq[Int],
                      passes: Int = 3): Unit = {
    val listener = new ShuffleListener
    s.sparkContext.addSparkListener(listener)
    mults.foreach { m =>
      val staged = stageMediaDocs(s, sfDir, m)
      measure(s, listener, "mediadiverse", "media_features_div", m, passes)(
        operators.Present.sortedUnbounded(
          operators.Multimodal.featuresTableDiverse(s, staged),
          col("doc_id")))
      measure(s, listener, "mediadiverse", "media_neardup_div", m, passes)(
        operators.Multimodal.mediaNearDupDiverse(s, staged))
      // corpus shape + planted-recovery receipt: planted pairs are
      // (image d−3, image d) at ordinal ≡ 1 (mod DivDupEvery) with
      // both ends present; found must equal planted EXACTLY (the
      // diverse hash space makes accidental ≤ε collisions ~2^-48
      // per pair — any non-planted find is a real signal, counted)
      val imgs = operators.Multimodal.featuresTableDiverse(s, staged)
        .filter(col("media_type") === "image")
      val nImg = imgs.count()
      val nHash = imgs.select("ahash_hi", "ahash_lo").distinct().count()
      val ids = Tables.documents(s, staged).select("doc_id")
        .filter(col("doc_id") % 3 === 0)
      val planted = ids
        .filter((col("doc_id") / 3) % operators.Multimodal.Codec.DivDupEvery
          === 1)
        .select((col("doc_id") - 3).as("doc_a"), col("doc_id").as("doc_b"))
        .join(ids.withColumnRenamed("doc_id", "doc_a"), Seq("doc_a"))
      val nPlanted = planted.count()
      val found = operators.Multimodal.mediaNearDupDiverse(s, staged)
      val nFound = found.count()
      val nonPlanted = found.join(planted, Seq("doc_a", "doc_b"),
        "left_anti").count()
      println(s"""{"family":"mediadiverse","query":"planted_recovery",""" +
        s""""mult":$m,"images":$nImg,"distinct_hashes":$nHash,""" +
        s""""planted_pairs":$nPlanted,"found_pairs":$nFound,""" +
        s""""non_planted_finds":$nonPlanted}""")
    }
  }

  /** Bucket-count knob, measured (round-15 verdict item 6): the same
    * Zipf corpus indexed at WordBuckets ∈ {64, 256}, probed with the
    * same hot workload through the same scoring chain — wall +
    * input_bytes/records per layout. Expectation: probes prune to the
    * matched buckets at either count (input ∝ matched postings, not
    * bucket count), converting the "4096 buckets at 100 TB" sizing
    * rule from claim to receipt. Pass 1 of each walls array carries
    * that layout's index build. */
  def runBuckets(s: SparkSession, sfDir: String, mults: Seq[Int],
                 passes: Int = 3): Unit = {
    val listener = new ShuffleListener
    s.sparkContext.addSparkListener(listener)
    mults.foreach { m =>
      val staged = stageDocsZipf(s, sfDir, m)
      val wl = operators.Retrieval.workloadOf(s, staged, 3)
      Seq(64, 256).foreach { b =>
        val root = operators.Retrieval.indexRootAt(s, staged, b)
        measure(s, listener, "buckets", s"bm25_b$b", m, passes)(
          operators.Retrieval.bm25RankedAt(s, root, b, wl))
        val probed = wl.flatMap(_._2.split(" "))
          .map(operators.Retrieval.wbOfAt(_, b)).distinct.size
        println(s"""{"family":"buckets","query":"probe_shape","mult":$m,""" +
          s""""buckets":$b,"probed_buckets":$probed}""")
      }
    }
  }

  /** IVF maintenance lifecycle, measured — full probe vs the
    * incremental base ∪ delta 2-segment probe vs the post-compaction
    * single-segment probe, plus the nprobe ≪ K pruned twin
    * (K=64/nprobe=4: input_records must stay ~probed-cells-sized
    * while the index grows ∝ multiple). Pass 1 of each walls array
    * carries that operator's index/segment build; min-of-passes is
    * the steady-state probe the SCALE.md slopes compare. */
  def runIvfMaint(s: SparkSession, sfDir: String, mults: Seq[Int],
                  passes: Int = 3): Unit = {
    val listener = new ShuffleListener
    s.sparkContext.addSparkListener(listener)
    mults.foreach { m =>
      val staged = stageEmbeddings(s, sfDir, m)
      measure(s, listener, "ivfmaint", "ann_ivf_full", m, passes)(
        operators.Similarity.annIvf(s, staged))
      measure(s, listener, "ivfmaint", "ann_ivf_incr_2seg", m, passes)(
        operators.Similarity.annIvfIncremental(s, staged))
      measure(s, listener, "ivfmaint", "ann_ivf_compact_1seg", m, passes)(
        operators.Similarity.annIvfCompact(s, staged))
      measure(s, listener, "ivfmaint", "ann_ivf_pruned_k64", m, passes)(
        operators.Similarity.annIvfPruned(s, staged))
    }
  }

  /** Join pushdown vs engine join on the SAME body: the pushed form
    * reads the intersection ONCE (no join operator at all); the
    * engine form scans both sides and joins. Broadcast disabled on
    * the engine twin so the comparison is the honest large-scale
    * shape (SMJ), not a small-side special case. */
  def runJoinPush(s: SparkSession, sfDir: String, mults: Seq[Int],
                  passes: Int = 3): Unit = {
    val listener = new ShuffleListener
    s.sparkContext.addSparkListener(listener)
    mults.foreach { m =>
      val n = sources.StorageOps.Dsv2N * m
      val on = s.newSession()
      on.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "true")
      measure(s, listener, "joinpush", "join_pushed", m, passes) {
        val (a, b) = sources.StorageOps.dsv2JoinSidesOf(on, n)
        sources.StorageOps.dsv2JoinBody(a, b)
      }
      val off = s.newSession()
      off.conf.set("spark.sql.optimizer.datasourceV2JoinPushdown", "false")
      off.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      measure(s, listener, "joinpush", "join_engine", m, passes) {
        val (a, b) = sources.StorageOps.dsv2JoinSidesOf(off, n)
        sources.StorageOps.dsv2JoinBody(a, b)
      }
      // the 3-way collapse vs the engine's two SMJs on the same body:
      // the compounding claim, measured — one scan of the three-way
      // intersection vs three scans + two joins
      measure(s, listener, "joinpush", "join3_pushed", m, passes)(
        sources.StorageOps.join3BodyOf(on, n))
      measure(s, listener, "joinpush", "join3_engine", m, passes)(
        sources.StorageOps.join3BodyOf(off, n))
    }
  }

  def runSimilarity(s: SparkSession, sfDir: String, mults: Seq[Int],
                    passes: Int = 3): Unit = {
    val listener = new ShuffleListener
    s.sparkContext.addSparkListener(listener)
    mults.foreach { m =>
      val staged = stageEmbeddings(s, sfDir, m)
      val k = operators.Similarity.IvfClusters * m
      val idxDir = java.nio.file.Paths.get(staged, s"idx_k$k")
      if (!java.nio.file.Files.exists(idxDir.resolve("_SUCCESS"))) {
        // past HierK the flat build's N×K passes are the wall
        // (K ∝ N makes them quadratic in the multiple); the
        // hierarchical build is the committed large-K path —
        // see Similarity.ivfBuildHier
        if (k > HierK)
          operators.Similarity.ivfBuildHier(s, staged, k, idxDir.toString)
        else
          operators.Similarity.ivfBuild(s, staged, k)._1
            .write.mode("overwrite").parquet(idxDir.toString)
      }
      measure(s, listener, "similarity", "semdedup", m, passes)(
        operators.Similarity.semDedupFrom(s,
          s.read.parquet(idxDir.toString)))
      // the incremental probe over the SAME landed index: the batch
      // broadcasts, so shuffle totals must stay ~batch-sized at every
      // multiple (the full form's vector shuffle never appears)
      measure(s, listener, "similarity", "semdedup_incremental", m, passes)(
        operators.Similarity.semDedupIncrementalFrom(s,
          s.read.parquet(idxDir.toString)))
      // the ANN family over the staged dir (it reads like any dataset
      // dir) — re-validates the round-7 throwaway-harness numbers
      // through committed code. ann_ivf's K-16 store lands inside the
      // first pass; min-of-passes prices the steady-state probe.
      measure(s, listener, "similarity", "knn_bruteforce", m, passes)(
        operators.Similarity.knnBruteForce(s, staged))
      measure(s, listener, "similarity", "ann_lsh", m, passes)(
        operators.Similarity.annLsh(s, staged))
      measure(s, listener, "similarity", "ann_ivf", m, passes)(
        operators.Similarity.annIvf(s, staged))
      // the projected-prefilter twin of knn_bruteforce: same query
      // set, same exact final cosines on the shortlist, but the
      // corpus-wide pass reads the LANDED 16-dim sketch store (pass 1
      // carries the store build) — input_bytes vs knn_bruteforce is
      // the ~4×-fewer-values receipt for the JL rung
      measure(s, listener, "similarity", "ann_project_rerank", m, passes)(
        operators.Similarity.annProjectRerank(s, staged))
    }
  }

  /** Focused JL-sketch receipt (round-17): the projected-prefilter
    * ANN vs the exact brute-force twin over staged embedding
    * multiples — input_bytes is the evidence that the coarse pass
    * reads the narrow sketch store (16 of 64 dims) while answering
    * with exact reranked cosines; pass 1 of the rerank walls carries
    * the sketch-store build. Split from the `similarity` family so
    * the receipt doesn't pay the semdedup K ∝ N index builds. */
  def runSketch(s: SparkSession, sfDir: String, mults: Seq[Int],
                passes: Int = 3): Unit = {
    val listener = new ShuffleListener
    s.sparkContext.addSparkListener(listener)
    mults.foreach { m =>
      val staged = stageEmbeddings(s, sfDir, m)
      measure(s, listener, "sketch", "knn_bruteforce", m, passes)(
        operators.Similarity.knnBruteForce(s, staged))
      measure(s, listener, "sketch", "ann_project_rerank", m, passes)(
        operators.Similarity.annProjectRerank(s, staged))
      // the storage claim in isolation: a full pass over each store —
      // input_bytes(sketch_scan) / input_bytes(embedding_scan) is the
      // 4× (16 float32 vs 64 float32 values/vector, same metadata)
      measure(s, listener, "sketch", "sketch_scan", m, passes)(
        operators.Similarity.sketchStore(s, staged))
      measure(s, listener, "sketch", "embedding_scan", m, passes)(
        Tables.embeddings(s, staged))
    }
  }

  /** Positional-index receipt (round-17): phrase probes over staged
    * doc multiples — the positional store is the corpus's token
    * stream (∝ corpus; pass 1 of the first walls array carries its
    * land), while every probe must stay bounded by the PHRASE TERMS'
    * bucket reads + df-bounded adjacency joins, never the corpus.
    * The gate phrases survive staging: stageDocs suffixes per LINE,
    * so within-line adjacency is untouched and matches replicate
    * with the multiple. */
  def runPhrase(s: SparkSession, sfDir: String, mults: Seq[Int],
                passes: Int = 3): Unit = {
    val listener = new ShuffleListener
    s.sparkContext.addSparkListener(listener)
    mults.foreach { m =>
      val staged = stageDocs(s, sfDir, m)
      measure(s, listener, "phrase", "phrase_retrieve", m, passes)(
        operators.Retrieval.phraseRetrieve(s, staged))
      measure(s, listener, "phrase", "phrase_slop", m, passes)(
        operators.Retrieval.phraseRetrieveSlop(s, staged))
      measure(s, listener, "phrase", "phrase_masked", m, passes)(
        operators.Retrieval.phraseRetrieveDelete(s, staged))
      measure(s, listener, "phrase", "phrase_purged", m, passes)(
        operators.Retrieval.phraseRetrieveDeleteCompact(s, staged))
    }
  }

  /** Dedup-ensemble receipt (round-18): the consensus operator over
    * the THREE landed pair stores (MinHash-LSH, SimHash, df-capped
    * exact Jaccard). Pass 1 of each leg carries its store land; the
    * claim under measurement is that the ensemble itself is a
    * three-artifact read + one pair-grain aggregate — its steady
    * state must track Σ pairs, never the corpus. NOTE the staged
    * shards share every shingle (the per-line "§k" tag tokenizes
    * away), so cross-shard TRUE pairs grow ∝ mult² by construction —
    * per the signature-ceiling rule this ladder reads as
    * consensus-cost-vs-pair-count tracking, not output linearity
    * (the r7 isomorphic-shard ladder already pinned the candidate
    * pipeline's corpus-linearity). */
  def runEnsemble(s: SparkSession, sfDir: String, mults: Seq[Int],
                  passes: Int = 3): Unit = {
    val listener = new ShuffleListener
    s.sparkContext.addSparkListener(listener)
    mults.foreach { m =>
      val staged = stageDocs(s, sfDir, m)
      measure(s, listener, "ensemble", "lsh_pairs", m, passes)(
        operators.Dedup.minhashLsh(s, staged))
      measure(s, listener, "ensemble", "simhash_pairs", m, passes)(
        operators.Dedup.simhashPairs(s, staged))
      measure(s, listener, "ensemble", "exact_pairs", m, passes)(
        operators.SigStore.exactPairs(s, staged))
      measure(s, listener, "ensemble", "dedup_ensemble", m, passes)(
        operators.Dedup.dedupEnsemble(s, staged))
      // the CLUSTERED routing (r19): degenerate buckets become O(n)
      // star edges instead of pairwise expansion — its consensus
      // shuffle must track docs-in-degenerate-buckets, not pairs
      measure(s, listener, "ensemble", "dedup_ensemble_clustered", m,
        passes)(operators.Dedup.dedupEnsembleClustered(s, staged))
      // the action stage: CC over the actionable routing relations —
      // cost must be diameter × one edge-set shuffle, edge-bounded
      measure(s, listener, "ensemble", "dedup_clusters_ensemble", m,
        passes)(operators.PipelineOps.dedupClustersEnsemble(s, staged))
      // the receipt's denominators: per-store pair counts + the two
      // output cardinalities the routing claim compares
      val nl = operators.SigStore.lshPairs(s, staged).count()
      val ns = operators.Dedup.simhashPairs(s, staged).count()
      val ne = operators.SigStore.exactPairs(s, staged).count()
      val np = operators.Dedup.dedupEnsemble(s, staged).count()
      val nc = operators.Dedup.dedupEnsembleClustered(s, staged).count()
      println(s"""{"family":"ensemble","query":"pair_counts","mult":$m,""" +
        s""""lsh_pairs":$nl,"simhash_pairs":$ns,"exact_pairs":$ne,""" +
        s""""ensemble_rows":$np,"clustered_rows":$nc}""")
    }
  }

  /** The q18 body over PRE-BUCKETED facts — the layout SCALE.md's
    * fact⋈fact note claims removes the join shuffles entirely. Both
    * facts land bucketed+sorted on orderkey once per multiple (the
    * write pays each side's shuffle ONE time); the measured join then
    * aggregates and joins inside the bucket distribution, so the only
    * shuffled rows left are the broadcast dim and the k-row output
    * sort. Run next to `runJoin`'s unbucketed numbers, this turns
    * "pre-bucketing removes the shuffle" into a measured ratio. */
  def runBucketed(s: SparkSession, sfDir: String, mults: Seq[Int],
                  passes: Int = 3): Unit = {
    val listener = new ShuffleListener
    s.sparkContext.addSparkListener(listener)
    mults.foreach { m =>
      val staged = stageFacts(s, sfDir, m)
      val liT = s"graft_rb_li_x$m"
      val orT = s"graft_rb_or_x$m"
      if (!s.catalog.tableExists(liT)) {
        s.read.parquet(s"$staged/lineitem.parquet")
          .select("l_orderkey", "l_quantity")
          .write.mode("overwrite")
          .bucketBy(32, "l_orderkey").sortBy("l_orderkey")
          .option("path", Scratch.path("graft_rehearsal", "bkt", liT).toString)
          .format("parquet").saveAsTable(liT)
        s.read.parquet(s"$staged/orders.parquet")
          .select("o_orderkey", "o_custkey", "o_orderdate")
          .write.mode("overwrite")
          .bucketBy(32, "o_orderkey").sortBy("o_orderkey")
          .option("path", Scratch.path("graft_rehearsal", "bkt", orT).toString)
          .format("parquet").saveAsTable(orT)
      }
      val cust = Tables.customer(s, sfDir).select("c_custkey", "c_name")
      measure(s, listener, "bucketed", "q18_bucketed", m, passes) {
        s.table(liT).groupBy("l_orderkey")
          .agg(round(sum("l_quantity"), 2).as("total_qty"))
          .filter(col("total_qty") > 300)
          .join(s.table(orT), col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
            col("o_orderdate"), col("total_qty"))
          .transform(operators.Present.sortedUnbounded(_,
            desc("total_qty"), col("o_orderkey")))
      }
    }
  }

  /** Data-skipping, measured: the same one-year window aggregate
    * (StorageOps.sortedLayoutRead) over two layouts of the SAME rows
    * at each fact multiple — shipdate-range-partitioned+sorted vs
    * randomly repartitioned. The sorted layout's part files cover
    * disjoint date slices, so the range predicate rules out whole
    * files/row groups at the reader; the unsorted layout interleaves
    * all dates into every file, so every row group matches the
    * min/max check and the scan reads the corpus. `input_bytes` /
    * `input_records` in the JSON are the evidence — skipped row
    * groups never land in FileSystem read statistics. */
  def runLayout(s: SparkSession, sfDir: String, mults: Seq[Int],
                passes: Int = 3): Unit = {
    val listener = new ShuffleListener
    s.sparkContext.addSparkListener(listener)
    mults.foreach { m =>
      val staged = stageFacts(s, sfDir, m)
      val srcFp = sourceFingerprint(s, s"$staged/lineitem.parquet")
      // date-grain clustering column, as in StorageOps.sortedLayout:
      // parquet never evaluates NTZ-timestamp predicates against
      // row-group stats, so an NTZ layout would measure zero skipping
      def land(kind: String)(write: DataFrame => Unit): String =
        stage(stagedDir(kind, sfDir, m), srcFp) {
          write(s.read.parquet(s"$staged/lineitem.parquet")
            .select(col("l_shipdate").cast("date").as("l_shipdate"),
              col("l_quantity"), col("l_extendedprice")))
        }
      val sortedDir = land("li_sorted_d") {
        _.repartitionByRange(32, col("l_shipdate"))
          .sortWithinPartitions("l_shipdate")
          .write.mode("overwrite")
          .parquet(stagedDir("li_sorted_d", sfDir, m).toString)
      }
      val unsortedDir = land("li_unsorted_d") {
        _.repartition(32).write.mode("overwrite")
          .parquet(stagedDir("li_unsorted_d", sfDir, m).toString)
      }
      measure(s, listener, "layout", "window_sorted", m, passes)(
        graft.sources.StorageOps.sortedLayoutRead(s, sortedDir))
      measure(s, listener, "layout", "window_unsorted", m, passes)(
        graft.sources.StorageOps.sortedLayoutRead(s, unsortedDir))
      // two-dimension predicate: Z-order vs the same data sorted on
      // date alone — the multi-column-skipping claim, measured. Both
      // layouts carry l_suppkey so the identical query runs on each.
      def withSupp(df: DataFrame): DataFrame =
        df.select(col("l_shipdate").cast("date").as("l_shipdate"),
          col("l_suppkey"), col("l_quantity"), col("l_extendedprice"))
      val zDir = land("li_zorder") { df =>
        withSupp(df.sparkSession.read
          .parquet(s"$staged/lineitem.parquet"))
          .withColumn("z", graft.sources.StorageOps.morton16(
            datediff(col("l_shipdate"), lit("1970-01-01"))
              .bitwiseAND(lit(0xFFFF)),
            col("l_suppkey").bitwiseAND(lit(0xFFFF))))
          .repartitionByRange(32, col("z")).sortWithinPartitions("z")
          .drop("z")
          .write.mode("overwrite")
          .parquet(stagedDir("li_zorder", sfDir, m).toString)
      }
      val dateDir = land("li_sorted_supp") { df =>
        withSupp(df.sparkSession.read
          .parquet(s"$staged/lineitem.parquet"))
          .repartitionByRange(32, col("l_shipdate"))
          .sortWithinPartitions("l_shipdate")
          .write.mode("overwrite")
          .parquet(stagedDir("li_sorted_supp", sfDir, m).toString)
      }
      measure(s, listener, "layout", "twodim_zorder", m, passes)(
        graft.sources.StorageOps.zorderLayoutRead(s, zDir))
      measure(s, listener, "layout", "twodim_datesorted", m, passes)(
        graft.sources.StorageOps.zorderLayoutRead(s, dateDir))
      // POINT lookup on an unsorted high-cardinality key: bloom vs
      // no-bloom over the SAME shuffled rows. Range clustering can't
      // help here (the key is deliberately unclustered); the bloom's
      // row-group kills are the only skipping in play. Probes are
      // precomputed so the measured pass contains only the layout
      // scan.
      val bloomDir = land("li_bloom") { _ =>
        graft.sources.StorageOps.stageBloomLineitem(s, staged,
          stagedDir("li_bloom", sfDir, m).toString, bloom = true) }
      val nobloomDir = land("li_nobloom") { _ =>
        graft.sources.StorageOps.stageBloomLineitem(s, staged,
          stagedDir("li_nobloom", sfDir, m).toString, bloom = false) }
      val probes = graft.sources.StorageOps.interiorProbes(s, staged)
      measure(s, listener, "layout", "point_bloom", m, passes)(
        graft.sources.StorageOps.bloomProbeRead(s, bloomDir, probes))
      measure(s, listener, "layout", "point_nobloom", m, passes)(
        graft.sources.StorageOps.bloomProbeRead(s, nobloomDir, probes))
      // row-group accounting via parquet-mr — the same stats+bloom
      // verdict the Spark reader applies at scan time, counted
      // directly: visited vs total for the present-key probes
      println(s"""{"family":"layout","query":"point_rowgroups",""" +
        s""""mult":$m,${rowGroupCounts(bloomDir, probes)},""" +
        s"""${rowGroupCounts(nobloomDir, probes, "nobloom_")}}""")
    }
  }

  /** Visited/total row groups for an equality-probe read of a staged
    * parquet dir, as parquet-mr's RowGroupFilter (stats + dictionary +
    * bloom, exactly what the Spark scan consults) decides them. */
  private def rowGroupCounts(dir: String, probes: Seq[Long],
                             prefix: String = "bloom_"): String = {
    import scala.jdk.CollectionConverters._
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.filter2.compat.FilterCompat
    import org.apache.parquet.filter2.predicate.FilterApi
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = new Configuration()
    val pred = probes.map(p => FilterApi.eq(
        FilterApi.longColumn("l_orderkey"), java.lang.Long.valueOf(p))
        : org.apache.parquet.filter2.predicate.FilterPredicate)
      .reduce(FilterApi.or(_, _))
    var visited = 0; var total = 0
    java.nio.file.Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).foreach { f =>
        val opts = HadoopReadOptions.builder(conf, new Path(f))
          .withRecordFilter(FilterCompat.get(pred))
          .useStatsFilter(true).useDictionaryFilter(true)
          .useBloomFilter(true).build()
        val r = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(f), conf), opts)
        try {
          visited += r.getRowGroups.size
          total += r.getFooter.getBlocks.size
        } finally r.close()
      }
    s""""${prefix}visited":$visited,"${prefix}total":$total"""
  }

  /** funnel_events + sliding_windows over staged event multiples.
    * Shards offset user_id, so funnel stage membership replicates
    * per shard (output user counts scale exactly ×m) and the sliding
    * window grid is IDENTICAL across multiples (same 31-day span) —
    * the funnel's one user shuffle should scale linearly in records,
    * the window aggregate's shuffle stays bounded by windows×types
    * regardless of input (the partial-agg claim, measured). The
    * staged batch dir is wrapped in a `Tables`-shaped dir via a
    * symlink so the batch files read as one events table. */
  def runEvents(s: SparkSession, sfDir: String, mults: Seq[Int],
                passes: Int = 3): Unit = {
    val listener = new ShuffleListener
    s.sparkContext.addSparkListener(listener)
    mults.foreach { m =>
      val staged = stageEvents(s, sfDir, m)
      val wrap = stagedDir("eventswrap", sfDir, m)
      java.nio.file.Files.createDirectories(wrap)
      val link = wrap.resolve("events.parquet")
      if (!java.nio.file.Files.exists(link,
          java.nio.file.LinkOption.NOFOLLOW_LINKS))
        java.nio.file.Files.createSymbolicLink(
          link, java.nio.file.Paths.get(staged))
      measure(s, listener, "events", "funnel_events", m, passes)(
        operators.ChangeOps.funnelEvents(s, wrap.toString))
      measure(s, listener, "events", "sliding_windows", m, passes)(
        operators.ChangeOps.slidingWindows(s, wrap.toString))
    }
  }

  /** Custom TopKPerKey operator vs the row_number window form over
    * staged fact multiples: orderkeys are offset but custkeys stay
    * 1×, so rows PER KEY grow with the multiple — the regime where
    * per-key top-k (k=3 of an ever-deeper pile) separates bounded
    * heaps from sorting. Both forms are measured for wall + shuffle
    * records (the window form gets Spark's own rank-limit pushdown;
    * the comparison is against the engine's best, not a strawman). */
  def runTopK(s: SparkSession, sfDir: String, mults: Seq[Int],
              passes: Int = 3): Unit = {
    val listener = new ShuffleListener
    s.sparkContext.addSparkListener(listener)
    mults.foreach { m =>
      val staged = stageFacts(s, sfDir, m)
      measure(s, listener, "topk", "topk_per_key", m, passes)(
        operators.TopKOps.topkPerKeyRaw(s, staged))
      measure(s, listener, "topk", "topk_window", m, passes) {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_custkey")
          .orderBy(desc("o_totalprice"), col("o_orderkey"))
        Tables.orders(s, staged)
          .select("o_custkey", "o_orderkey", "o_totalprice")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= operators.TopKOps.K).drop("rn")
      }
    }
  }

  type Runner = (SparkSession, String, Seq[Int]) => Unit

  /** Every rehearsal family, in the fixed order a comma list runs in:
    * families share process-scoped landed stores, so the order is
    * part of what a run measures. */
  val rehearsals: Seq[(String, Runner)] = Seq(
    ("streaming", runStreaming(_, _, _)),
    ("deepstate", runStreamingDeep(_, _, _)),
    ("join", runJoin(_, _, _)),
    ("bucketed", runBucketed(_, _, _)),
    ("pipeline", runPipeline(_, _, _)),
    ("layout", runLayout(_, _, _)),
    ("events", runEvents(_, _, _)),
    ("topk", runTopK(_, _, _)),
    ("similarity", runSimilarity(_, _, _)),
    ("spj", runSpj(_, _, _)),
    ("spjskew", runSpjSkew(_, _, _)),
    ("joinpush", runJoinPush(_, _, _)),
    ("retrieval", runRetrieval(_, _, _)),
    ("wand", runWand(_, _, _)),
    ("wandmix", runWandMix(_, _, _)),
    ("workload", runWorkload(_, _, _)),
    ("wandzipf", runWandZipf(_, _, _)),
    ("workloadzipf", (s, d, m) =>
      runWorkload(s, d, m, stager = stageDocsZipf, fam = "workloadzipf")),
    ("buckets", runBuckets(_, _, _)),
    ("delete", runDelete(_, _, _)),
    ("media", runMedia(_, _, _)),
    ("mediadiverse", runMediaDiverse(_, _, _)),
    ("sketch", runSketch(_, _, _)),
    ("phrase", runPhrase(_, _, _)),
    ("ensemble", runEnsemble(_, _, _)),
    ("governance", runGovernance(_, _, _)),
    ("qualitytrain", runQualityTrain(_, _, _)),
    ("textscale", runTextScale(_, _, _)),
    ("ivfmaint", runIvfMaint(_, _, _)))

  /** The rehearsals a comma list names, in table order; `all` is
    * streaming + join. Fails FAST on a typo'd family: a silently
    * dropped token makes a comma-list run look complete while skipping
    * a rehearsal. */
  def selected(families: String): Seq[(String, Runner)] = {
    val names = families.split(",").toSet.flatMap { (f: String) =>
      if (f == "all") Set("streaming", "join") else Set(f) }
    val known = rehearsals.map(_._1).toSet
    val unknown = names -- known
    require(unknown.isEmpty,
      s"unknown rehearsal families: ${unknown.toSeq.sorted.mkString(", ")} " +
        s"(known: ${(known + "all").toSeq.sorted.mkString(", ")})")
    rehearsals.filter { case (name, _) => names(name) }
  }

  def main(args: Array[String]): Unit = {
    // comma-separated families run in ONE JVM, sharing the
    // process-scoped landed stores (e.g. "wand,workload" tokenizes
    // each staged corpus once, not once per family)
    val runners = selected(args.headOption.getOrElse("all"))
    val mults = args.lift(1).map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 10, 50))
    val sfDir = GraftSession.sfDir
    val spark = GraftSession()
    runners.foreach { case (_, run) => run(spark, sfDir, mults) }
    spark.stop()
  }
}
