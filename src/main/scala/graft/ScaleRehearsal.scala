package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Scratch.{sourceFingerprint, stage, wipeDir}

/** Scale-rehearsal harness (SCALE.md): stages isomorphic-shard
  * multiples of the driver testdata and measures how streaming state,
  * a fact⋈fact join, the text pipeline, data-skipping layouts and
  * similarity search behave as the corpus grows 1× → 10× → 50×.
  *
  * A family stays here while an open ROADMAP item re-runs it; a
  * retired family's code comes back from git at the commit its
  * SCALE.md section names.
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
  * Usage: runMain graft.ScaleRehearsal
  *   [streaming|deepstate|join|pipeline|layout|similarity|textscale|all,..]
  *   [m1,m2,..]
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
  /** Per-shard doc_id offset for [[stageDocs]]. */
  private val DocRange = 1000000L

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
    import graft.streaming.StreamOps
    val q = StreamOps.drain(s, stream, mode,
      StreamOps.freshDir(s"rehearsal_$tag", "ckpt"),
      trackRows = true)(_.format("noop"))
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

  type Runner = (SparkSession, String, Seq[Int]) => Unit

  /** Every rehearsal family, in the fixed order a comma list runs in:
    * families share process-scoped landed stores, so the order is
    * part of what a run measures. */
  val rehearsals: Seq[(String, Runner)] = Seq(
    ("streaming", runStreaming(_, _, _)),
    ("deepstate", runStreamingDeep(_, _, _)),
    ("join", runJoin(_, _, _)),
    ("pipeline", runPipeline(_, _, _)),
    ("layout", runLayout(_, _, _)),
    ("similarity", runSimilarity(_, _, _)),
    ("textscale", runTextScale(_, _, _)))

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
    // process-scoped landed stores
    val runners = selected(args.headOption.getOrElse("all"))
    val mults = args.lift(1).map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq(1, 10, 50))
    val sfDir = GraftSession.sfDir
    val spark = GraftSession()
    runners.foreach { case (_, run) => run(spark, sfDir, mults) }
    spark.stop()
  }
}
