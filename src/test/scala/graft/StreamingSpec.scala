package graft

import graft.streaming.StreamOps
import graft.operators.RelOps
import org.apache.spark.sql.{Column, DataFrame}

/** Structured Streaming vs batch equivalence on the static testdata
  * (reading the events parquet as a file stream, complete/append
  * semantics collapse once the source is exhausted). */
class StreamingSpec extends SparkSpec {

  private def runStreamToBatch(streamDf: DataFrame, mode: String): DataFrame = {
    val id = s"stream_sink_${System.identityHashCode(streamDf)}"
    val q = streamDf.writeStream
      .format("memory")
      .queryName(id)
      .outputMode(mode)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    spark.table(id)
  }

  test("dsv2 streaming sink: epoch-ed commits fold to exact totals") {
    val out = graft.streaming.StreamOps.dsv2StreamWrite(spark, sfDir).head()
    assert(out.getLong(0) == 100000L, "rows lost across epochs")
    assert(out.getLong(1) == 100000L * 99999L / 2, "id sum drifted")
    assert(out.getLong(2) == 4L, "admission caps should yield 4 epochs")
    // independent rerun: fresh runId + fresh checkpoint, same totals
    // (per-epoch keying leaves no cross-run state behind)
    val again = graft.streaming.StreamOps.dsv2StreamWrite(spark, sfDir).head()
    assert(again == out)
  }

  test("dsv2 streaming source: capped multi-batch drain ≡ batch read") {
    import org.apache.spark.sql.streaming.Trigger
    val sink = SparkSpec.tempDir("dsv2s_sink").toString
    val ckpt = SparkSpec.tempDir("dsv2s_ckpt").toString
    val batches = new java.util.concurrent.atomic.AtomicInteger(0)
    val q = spark.readStream.format("graft.sources.SeqSource")
      .option("n", "10000").option("parts", "4")
      .option("batchrows", "3000").load()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        batches.incrementAndGet()
        b.write.mode(if (id == 0) "overwrite" else "append").parquet(sink)
      }
      .start()
    q.awaitTermination()
    // 10 000 rows / 3 000-row admission cap → 4 real micro-batches
    assert(batches.get() >= 3,
      s"admission control ignored: drained in ${batches.get()} batch(es)")
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val got = rows(spark.read.parquet(sink))
    val expect = rows(spark.read.format("graft.sources.SeqSource")
      .option("n", "10000").load())
    assert(got == expect,
      "streamed union of batches drifted from the batch scan")
  }

  test("state_inspect: the checkpoint's state rows equal the batch aggregate") {
    val st = StreamOps.stateInspect(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val batch = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("event_id").as("sid"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(st == batch, "state store content drifted from the aggregate")
  }

  test("streaming windowed counts equal the batch eventsWindow") {
    val batch = RelOps.eventsWindow(spark, sfDir).collect().toSeq
    val stream = runStreamToBatch(
      StreamOps.windowedCounts(spark, sfDir), "complete")
      .orderBy("window_start", "event_type").collect().toSeq
    assert(stream == batch)
  }

  test("sliding-window stream equals the batch twin (overlapping window assignment)") {
    val batch = graft.operators.ChangeOps.slidingWindows(spark, sfDir)
      .collect().toSeq
    val landed = StreamOps.slidingWindowsStream(spark, sfDir)
      .collect().toSeq
    assert(landed == batch)
  }

  test("events_window_stream (foreachBatch-landed table) equals the batch twin") {
    // the driver-gated registration: foreachBatch -> parquet -> read
    // back must reproduce eventsWindow row-for-row, so it can share
    // the batch query's DuckDB oracle
    val batch = RelOps.eventsWindow(spark, sfDir).collect().toSeq
    val landed = StreamOps.eventsWindowStream(spark, sfDir).collect().toSeq
    assert(landed == batch)
  }

  test("staged stream timestamps land in the data's epoch, not 1970") {
    // regression guard for the r8 silent failure: the stream schema
    // hard-coded ts as long nanos, so regenerated timestamp[us] data
    // was read as raw micros, div 1000 put every event in Jan 1970,
    // and the ts-dependent gates went wrong WITHOUT throwing. The
    // stream's min/max ts must match the batch loader exactly and sit
    // in the data's epoch.
    import org.apache.spark.sql.functions._
    val batch = Tables.events(spark, sfDir)
      .agg(min("ts").as("lo"), max("ts").as("hi")).collect()(0)
    val stream = runStreamToBatch(
      StreamOps.eventsStream(spark, sfDir)
        .agg(min("ts").as("lo"), max("ts").as("hi")), "complete")
      .collect()(0)
    assert(stream == batch)
    assert(batch.getTimestamp(0).after(
      java.sql.Timestamp.valueOf("2000-01-01 00:00:00")),
      s"events epoch collapsed: min(ts)=${batch.getTimestamp(0)}")
  }

  test("a mis-typed events ts fails loud on batch AND stream paths") {
    // schema-drift guard: a physical ts type normalizeTs doesn't know
    // must throw at DataFrame construction on both ingest paths — the
    // r8 batch path failed loud but the stream path failed silent
    import org.apache.spark.sql.functions._
    val dir = SparkSpec.tempDir("graft_badts")
    spark.range(3)
      .select(col("id").as("event_id"),
        (col("id") * 1.5).as("ts"), // DoubleType: not a layout we ship
        col("id").as("user_id"), lit("click").as("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val b = intercept[IllegalStateException](Tables.events(spark, dir.toString))
    assert(b.getMessage.contains("drifted"))
    val st = intercept[IllegalStateException](
      StreamOps.eventsStreamFromDir(spark, s"$dir/events.parquet"))
    assert(st.getMessage.contains("drifted"))
  }

  test("flatMapGroupsWithState running totals equal batch groupBy") {
    import org.apache.spark.sql.functions._
    val batch = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), round(sum("value"), 3).as("s"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    // update mode emits one row per user per batch; AvailableNow over a
    // static dir is a single batch, so the emitted rows ARE the finals
    val stream = runStreamToBatch(
      StreamOps.runningUserTotals(spark, sfDir), "update")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(stream == batch)
  }

  test("transformWithState running max equals batch groupBy max") {
    import org.apache.spark.sql.functions._
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val batch = Tables.events(spark, sfDir)
        .groupBy("user_id")
        .agg(round(max("value"), 3).as("mx"), count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
      val stream = runStreamToBatch(
        StreamOps.userMaxStream(spark, sfDir), "update")
        .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
      assert(stream == batch)
    } finally {
      prev match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("stream-stream join equals the batch time-range self-join") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sfDir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("purchase_ts"))
    val batch = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("interval 60 minutes"))
      .select("click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val stream = StreamOps.clickPurchaseJoinGated(spark, sfDir)
      .select("click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stream == batch && batch.nonEmpty)
  }

  test("full-outer stream-stream join: both no-match sides equal the gated batch full join") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sfDir)
    val mc = ev.filter(col("event_type") === "click")
      .agg(max("ts")).head().getTimestamp(0)
    val mp = ev.filter(col("event_type") === "purchase")
      .agg(max("ts")).head().getTimestamp(0)
    val wm0 = if (mc.before(mp)) mc else mp
    val hClick = new java.sql.Timestamp(wm0.getTime - 120 * 60 * 1000L)
    val hPur = new java.sql.Timestamp(wm0.getTime - 60 * 60 * 1000L)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("purchase_ts"))
    def key(r: org.apache.spark.sql.Row) = (Option(r.get(0)), Option(r.get(1)))
    val batch = clicks.join(purchases,
        col("user_id") === col("p_user") &&
          col("purchase_ts") >= col("click_ts") &&
          col("purchase_ts") <= col("click_ts") + expr("interval 60 minutes"),
        "full_outer")
      .filter((col("click_ts").isNotNull && col("click_ts") < lit(hClick)) ||
        (col("click_ts").isNull && col("purchase_ts") < lit(hPur)))
      .select("click_id", "purchase_id")
      .collect().map(key).toSet
    val stream = StreamOps.clickPurchaseFullGated(spark, sfDir)
      .select("click_id", "purchase_id")
      .collect().map(key).toSet
    assert(stream == batch && batch.nonEmpty)
    // all three row classes must appear, or the full-outer claim is vacuous
    assert(stream.exists(_._1.isEmpty), "no purchase-only rows in the final zone")
    assert(stream.exists(_._2.isEmpty), "no click-only rows in the final zone")
    assert(stream.exists(k => k._1.nonEmpty && k._2.nonEmpty), "no matched rows")
  }

  test("streaming dropDuplicates equals batch distinct; watermark variant covers the key set") {
    import org.apache.spark.sql.functions._
    val distinctKeys = Tables.events(spark, sfDir)
      .select("user_id", "event_type").distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val exact = StreamOps.dedupStreamGated(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(exact.toSet == distinctKeys && exact.length == distinctKeys.size)
    // within-watermark dedup: key SET identical; duplicates farther
    // apart than the delay may re-emit, so row count is bounded by
    // [distinct, total] rather than exact
    val total = Tables.events(spark, sfDir).count()
    val wm = runStreamToBatch(
      StreamOps.dedupStreamWithinWatermark(spark, sfDir), "append")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(wm.toSet == distinctKeys)
    assert(wm.length >= distinctKeys.size && wm.length <= total)
  }

  test("stream-static enrichment equals the batch join and is stateless") {
    import org.apache.spark.sql.functions._
    val batch = Tables.events(spark, sfDir)
      .join(Tables.customer(spark, sfDir),
        col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"),
        col("c_mktsegment").as("segment"), col("event_type"), col("value"))
      .orderBy("event_id").collect().toSeq
    val stream = StreamOps.streamEnrichGated(spark, sfDir).collect().toSeq
    assert(stream == batch && batch.nonEmpty)
    // stateless: the plan has no stateful operator (no state store)
    val sq = StreamOps.streamEnrich(spark, sfDir)
    assert(!sq.queryExecution.analyzed.toString.toLowerCase
      .contains("statestore"))
  }

  /** Splits the raw events rows into `parts` parquet files under a
    * fresh dir, returning (dir, raw batch DF). Files arrive via
    * repartition on a hash bucket so every split is deterministic. */
  private def stageEventsSplit(tag: String): (java.nio.file.Path, DataFrame) = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // raw as-stored rows (no ts normalization) — the re-written slices
    // go back through the stream reader, which probes + normalizes
    val raw = spark.read.parquet(s"$sfDir/events.parquet")
    val dir = SparkSpec.tempDir(s"graft_${tag}_src")
    (dir, raw)
  }

  private def writeSlice(df: DataFrame, dir: java.nio.file.Path, name: String): Unit = {
    import org.apache.spark.sql.functions._
    val tmp = SparkSpec.tempDir(s"graft_slice_$name")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = java.nio.file.Files.list(tmp).iterator()
    val files = new scala.collection.mutable.ArrayBuffer[java.nio.file.Path]
    while (part.hasNext) { val p = part.next(); if (p.toString.endsWith(".parquet")) files += p }
    assert(files.size == 1)
    java.nio.file.Files.move(files.head, dir.resolve(s"$name.parquet"))
  }

  /** Drain a stream to completion against an explicit checkpoint so a
    * test can stop, grow the source, and resume — with the gated
    * runners' local shuffle-partition knob applied. */
  private def drainWith(stream: DataFrame, mode: String, ckpt: String)(
      f: (DataFrame, Long) => Unit): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "4")
    try {
      val q = stream.writeStream
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch(f)
        .start()
      q.awaitTermination()
    } finally spark.conf.set(key, prev)
  }

  test("sessionize_stream recovers session state across stop/restart") {
    import org.apache.spark.sql.functions._
    val (srcDir, raw) = stageEventsSplit("sessrec")
    val bucket = pmod(col("event_id"), lit(4))
    writeSlice(raw.filter(bucket === 0), srcDir, "a0")
    writeSlice(raw.filter(bucket === 1), srcDir, "a1")
    val sink = SparkSpec.tempDir("graft_sessrec_sink").toString
    val ckpt = SparkSpec.tempDir("graft_sessrec_ckpt").toString
    def phased(): Unit = drainWith(
      StreamOps.sessionizeStreamOf(
        StreamOps.eventsStreamFromDir(spark, srcDir.toString, Some(1))),
      "complete", ckpt) { (b, _) =>
        b.write.mode("overwrite").parquet(sink) }
    def rows(path: String): Seq[Seq[Any]] =
      spark.read.parquet(path)
        .orderBy("user_id", "session_start")
        .collect().toSeq.map(_.toSeq)

    phased()
    val phaseA = rows(sink)
    // "crash": the query object is gone; the rest of the feed arrives
    writeSlice(raw.filter(bucket === 2), srcDir, "b0")
    writeSlice(raw.filter(bucket === 3), srcDir, "b1")
    phased()
    val restarted = rows(sink)

    // one-shot control: same four files, fresh checkpoint and state
    val sink2 = SparkSpec.tempDir("graft_sessrec_s2").toString
    val ckpt2 = SparkSpec.tempDir("graft_sessrec_c2").toString
    drainWith(
      StreamOps.sessionizeStreamOf(
        StreamOps.eventsStreamFromDir(spark, srcDir.toString, Some(1))),
      "complete", ckpt2) { (b, _) =>
        b.write.mode("overwrite").parquet(sink2) }

    assert(restarted.nonEmpty)
    assert(restarted == rows(sink2),
      "restart-from-checkpoint diverges from a fresh one-shot run")
    // the session state genuinely merged ACROSS the restart: phase B
    // events extend phase-A sessions, not just append new ones
    assert(phaseA != restarted, "phase B changed nothing — restart case is vacuous")
  }

  test("stream-stream left join recovers join state across stop/restart") {
    import org.apache.spark.sql.functions._
    val (srcDir, raw) = stageEventsSplit("leftrec")
    val bucket = pmod(col("event_id"), lit(4))
    writeSlice(raw.filter(bucket === 0), srcDir, "a0")
    writeSlice(raw.filter(bucket === 1), srcDir, "a1")
    def mk(): DataFrame = StreamOps.clickPurchaseLeftOf(
      StreamOps.eventsStreamFromDir(spark, srcDir.toString, Some(1)),
      StreamOps.eventsStreamFromDir(spark, srcDir.toString, Some(1)))
    def rows(path: String): Seq[Seq[Any]] =
      spark.read.parquet(path)
        .orderBy("click_id", "purchase_id")
        .collect().toSeq.map(_.toSeq)

    val sink = SparkSpec.tempDir("graft_leftrec_sink").toString
    val ckpt = SparkSpec.tempDir("graft_leftrec_ckpt").toString
    drainWith(mk(), "append", ckpt) { (b, _) =>
      b.write.mode("append").parquet(sink) }
    writeSlice(raw.filter(bucket === 2), srcDir, "b0")
    writeSlice(raw.filter(bucket === 3), srcDir, "b1")
    drainWith(mk(), "append", ckpt) { (b, _) =>
      b.write.mode("append").parquet(sink) }

    // one-shot control over the same files: the phased run must emit
    // the same matches AND the same watermark-flushed null rows —
    // both sides' join state and watermark must survive the restart
    val sink2 = SparkSpec.tempDir("graft_leftrec_s2").toString
    val ckpt2 = SparkSpec.tempDir("graft_leftrec_c2").toString
    drainWith(mk(), "append", ckpt2) { (b, _) =>
      b.write.mode("append").parquet(sink2) }

    val phasedRows = rows(sink)
    assert(phasedRows.nonEmpty)
    assert(phasedRows == rows(sink2),
      "restart-from-checkpoint diverges from a fresh one-shot run")
  }

  test("chained join->window recovers BOTH operators' state across stop/restart") {
    import org.apache.spark.sql.functions._
    val (srcDir, raw) = stageEventsSplit("jwrec")
    // split by TIME, not by key: interleaved-key slices would advance
    // the watermark past later files' rows and late-drop nearly every
    // join input (only 5 click→purchase pairs exist at this sf) —
    // time-ordered slices keep the feed watermark-monotone, the
    // realistic arrival shape
    val bucket = least(((dayofmonth(col("ts")) - 1) / 8).cast("int"), lit(3))
    writeSlice(raw.filter(bucket === 0), srcDir, "a0")
    writeSlice(raw.filter(bucket === 1), srcDir, "a1")
    def mk(): DataFrame = StreamOps.joinWindowOf(
      StreamOps.eventsStreamFromDir(spark, srcDir.toString, Some(1)),
      StreamOps.eventsStreamFromDir(spark, srcDir.toString, Some(1)))
    def rows(path: String): Seq[Seq[Any]] =
      spark.read.parquet(path)
        .orderBy("w_start", "cohort")
        .collect().toSeq.map(_.toSeq)

    val sink = SparkSpec.tempDir("graft_jwrec_sink").toString
    val ckpt = SparkSpec.tempDir("graft_jwrec_ckpt").toString
    drainWith(mk(), "append", ckpt) { (b, _) =>
      b.write.mode("append").parquet(sink) }
    writeSlice(raw.filter(bucket === 2), srcDir, "b0")
    writeSlice(raw.filter(bucket === 3), srcDir, "b1")
    drainWith(mk(), "append", ckpt) { (b, _) =>
      b.write.mode("append").parquet(sink) }

    // one-shot control over the same four files: the phased run must
    // emit the same finalized windows — the JOIN's buffered sides AND
    // the AGGREGATE's open windows (plus the propagated watermark
    // between them) must all survive the restart
    val sink2 = SparkSpec.tempDir("graft_jwrec_s2").toString
    val ckpt2 = SparkSpec.tempDir("graft_jwrec_c2").toString
    drainWith(mk(), "append", ckpt2) { (b, _) =>
      b.write.mode("append").parquet(sink2) }

    val phasedRows = rows(sink)
    assert(phasedRows.nonEmpty)
    assert(phasedRows == rows(sink2),
      "restart-from-checkpoint diverges from a fresh one-shot run")
  }

  test("tws timers: mid-stream fires + numbering continuation ≡ batch sessions") {
    import org.apache.spark.sql.functions._
    val (srcDir, raw) = stageEventsSplit("twstimer")
    // split by TIME, not by key: batch 0 = early half, batch 1 = late
    // half, so the watermark genuinely advances between batches and
    // mid-stream timers fire — and nothing arrives late (every later
    // file's events are newer than the earlier watermark)
    // slice the NORMALIZED frame (writing TimestampType back is fine:
    // the stream reader probes whatever physical type landed). One
    // designated user u* goes quiet 2h before the first cut, so their
    // timer provably fires MID-STREAM in batch 1 (everyone else's
    // slides forward); u* then returns in batch 2, so their SECOND
    // fire must continue the session numbering.
    val rawTs = Tables.normalizeTs(raw)
    val tsUs = unix_micros(col("ts"))
    val stats = rawTs.agg(
      expr("percentile_approx(unix_micros(ts), 0.5)"),
      expr("percentile_approx(unix_micros(ts), 0.75)"),
      max(tsUs)).head()
    val (mid, q3, mx) = (stats.getLong(0), stats.getLong(1), stats.getLong(2))
    val hourUs = 3600000000L
    val uStar = rawTs.agg(min("user_id")).head().getLong(0)
    val isU = col("user_id") === uStar
    writeSlice(rawTs.filter(
      (isU && tsUs <= mid - 2 * hourUs) || (!isU && tsUs <= mid)),
      srcDir, "a0")
    writeSlice(rawTs.filter(!isU && tsUs > mid && tsUs <= q3), srcDir, "b0")
    writeSlice(rawTs.filter(
      tsUs > q3 && (!isU || tsUs <= mx - 2 * hourUs)), srcDir, "c0")
    val sink = SparkSpec.tempDir("graft_twstimer_sink").toString
    val ckpt = SparkSpec.tempDir("graft_twstimer_ckpt").toString
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try drainWith(
      StreamOps.sessionTimersOf(spark,
        StreamOps.eventsStreamFromDir(spark, srcDir.toString, Some(1))),
      "append", ckpt) { (b, id) =>
        b.withColumn("bid", lit(id)).write.mode("append").parquet(sink) }
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
    val landed = spark.read.parquet(sink)
    // u* fired at least twice: once mid-stream, once after returning
    val uBids = landed.filter(isU).select("bid").distinct()
      .collect().map(_.getLong(0)).sorted
    assert(uBids.length >= 2,
      s"u* emitted in one batch only (${uBids.toSeq}) — continuation vacuous")
    // numbering CONTINUED across fires: u*'s session ids are 1..k
    val uSids = landed.filter(isU).select("session_id")
      .collect().map(_.getLong(0)).sorted
    assert(uSids.toSeq == (1L to uSids.length).toSeq,
      s"u* session ids not contiguous from 1: ${uSids.toSeq}")
    // the emitted relation over the provably-fired zone equals the
    // batch sessionize rule applied to the STAGED source (u*'s
    // dropped slices make it differ from the full table)
    val staged = Tables.normalizeTs(spark.read.parquet(srcDir.toString))
    val mxUs = staged.agg(max(unix_micros(col("ts")))).head().getLong(0)
    val zone = staged.groupBy("user_id")
      .agg(max(unix_micros(col("ts"))).as("umax"))
      .filter(col("umax") <= mxUs - 3601000000L).select("user_id")
    val got = landed.join(zone, Seq("user_id"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        col("start_us"), col("end_us"),
        round(col("sum_raw"), 3).as("sum_value"))
      .orderBy("user_id", "session_id").collect().toSeq.map(_.toSeq)
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = staged
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("brk",
        when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("brk").over(run))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"),
        round(sum("value"), 3).as("sum_value"))
      .join(zone, Seq("user_id"))
      .select("user_id", "session_id", "n_events", "start_us", "end_us",
        "sum_value")
      .orderBy("user_id", "session_id").collect().toSeq.map(_.toSeq)
    assert(got.nonEmpty && got == want,
      "multi-batch timer sessions diverge from the batch relation")
  }

  test("transformWithState TTL: state expires between batches; NONE accumulates") {
    import org.apache.spark.sql.functions._
    val (srcDir, raw) = stageEventsSplit("twsttl")
    val bucket = pmod(col("event_id"), lit(2))
    writeSlice(raw.filter(bucket === 0), srcDir, "a0")
    writeSlice(raw.filter(bucket === 1), srcDir, "a1")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def drain(ttlMs: Long): Map[Long, Long] = {
        val sink = SparkSpec.tempDir("graft_ttl_sink").toString
        val ckpt = SparkSpec.tempDir("graft_ttl_ckpt").toString
        // NOT AvailableNow, and NOT processAllAvailable either:
        // TimeMode.ProcessingTime makes shouldRunAnotherBatch
        // perpetually true (state-maintenance batches), so the query
        // never quiesces (observed: thousands of empty batches under
        // AvailableNow; processAllAvailable parks forever). Terminate
        // from the DRIVER instead: poll progress until the SOURCE is
        // fully consumed, then stop.
        val totalEvents = Tables.events(spark, sfDir).count()
        val q = StreamOps.userCountTtlOf(spark,
            StreamOps.eventsStreamFromDir(spark, srcDir.toString, Some(1)),
            ttlMs)
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
            // keep batches strictly more than ttlMs apart so a 1 ms
            // TTL is guaranteed stale by the next batch's timestamp
            if (!b.isEmpty)
              b.withColumn("bid", lit(id)).write.mode("append").parquet(sink)
            Thread.sleep(100)
          }
          .start()
        try {
          var waited = 0
          def consumed() = q.recentProgress.map(_.numInputRows).sum
          while (consumed() < totalEvents && waited < 120000) {
            Thread.sleep(200); waited += 200
          }
          assert(consumed() >= totalEvents,
            s"source not drained: ${consumed()} of $totalEvents")
          Thread.sleep(500) // let the final data batch's commit land
        } finally q.stop()
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy(desc("bid"))
        spark.read.parquet(sink)
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select("user_id", "n_events")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      }
      // cumulative twin (TTL NONE): last update per user = TOTAL count
      val total = Tables.events(spark, sfDir).groupBy("user_id")
        .agg(count(lit(1)).as("n")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(drain(0L) == total, "TTL NONE must accumulate across batches")
      // 1 ms TTL: state written in batch 0 is expired by batch 1, so
      // each user's final count covers only their LAST slice
      val lastSlice = Tables.events(spark, sfDir)
        .withColumn("b", pmod(col("event_id"), lit(2)))
        .groupBy("user_id")
        .agg(max("b").as("lb"), count(lit(1)).as("tot"),
          sum(when(col("b") === 1, 1L).otherwise(0L)).as("n1"))
        .collect().map { r =>
          (r.getLong(0), if (r.getLong(1) == 1L) r.getLong(3) else r.getLong(2))
        }.toMap
      assert(drain(1L) == lastSlice,
        "1 ms TTL must reset state between micro-batches")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  test("transformWithState recovers RocksDB state across stop/restart") {
    import org.apache.spark.sql.functions._
    val (srcDir, raw) = stageEventsSplit("twsrec")
    val bucket = pmod(col("event_id"), lit(3))
    writeSlice(raw.filter(bucket === 0), srcDir, "a0")
    writeSlice(raw.filter(bucket === 1), srcDir, "a1")
    val sink = SparkSpec.tempDir("graft_twsrec_sink").toString
    val ckpt = SparkSpec.tempDir("graft_twsrec_ckpt").toString
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def phased(): Unit = drainWith(
        StreamOps.userMaxOf(spark,
          StreamOps.eventsStreamFromDir(spark, srcDir.toString, Some(1))),
        "update", ckpt) { (b, id) =>
          b.withColumn("bid", lit(id)).write.mode("append").parquet(sink) }
      phased()
      writeSlice(raw.filter(bucket === 2), srcDir, "b0")
      phased()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
    // update mode emits one row per touched key per batch; the LAST
    // batch to touch a key carries its complete recovered state —
    // which must equal the batch aggregate over ALL events
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(desc("bid"))
    val landed = spark.read.parquet(sink)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select("user_id", "max_value", "n_events")
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
    val batch = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(round(max("value"), 3).as("mx"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), (r.getDouble(1), r.getLong(2)))).toMap
    assert(landed == batch,
      "post-restart transformWithState state diverges from batch aggregate")
  }

  test("CDC upsert sink recovers from checkpoint across stop/restart") {
    import org.apache.spark.sql.functions._
    val (srcDir, raw) = stageEventsSplit("upsert")
    // phase A: ~half the change feed, two files; phase B: the rest
    val bucket = pmod(col("event_id"), lit(4))
    writeSlice(raw.filter(bucket === 0), srcDir, "a0")
    writeSlice(raw.filter(bucket === 1), srcDir, "a1")

    val snap = SparkSpec.tempDir("graft_upsert_snap").toString
    val ckpt = SparkSpec.tempDir("graft_upsert_ckpt").toString

    def drain(): Unit = StreamOps.runUpsert(spark,
      StreamOps.eventsStreamFromDir(spark, srcDir.toString, Some(1)),
      snap, ckpt)

    def expected(filter: Column): Seq[(Long, String, Long)] =
      Tables.events(spark, sfDir).filter(filter)
        .groupBy("user_id", "event_type")
        .agg(max_by(col("event_id"), struct(col("ts"), col("event_id"))).as("last_event_id"))
        .orderBy("user_id", "event_type")
        .collect().toSeq.map(r => (r.getLong(0), r.getString(1), r.getLong(2)))

    def snapshot(): Seq[(Long, String, Long)] =
      spark.read.parquet(snap)
        .orderBy("user_id", "event_type")
        .collect().toSeq.map(r => (r.getLong(0), r.getString(1),
          r.getAs[Long]("last_event_id")))

    // first run: two files -> two micro-batches (maxFilesPerTrigger=1),
    // so the merge path (snapshot exists) is exercised BEFORE restart
    drain()
    assert(snapshot() == expected(pmod(col("event_id"), lit(4)) < 2),
      "phase-A snapshot diverges from batch compaction of phase-A events")

    // "crash": the query object is gone. New files arrive.
    writeSlice(raw.filter(bucket === 2), srcDir, "b0")
    writeSlice(raw.filter(bucket === 3), srcDir, "b1")

    // restart from the SAME checkpoint: file-source offsets must skip
    // phase A; the merges must land on the existing snapshot
    drain()
    assert(snapshot() == expected(lit(true)),
      "post-restart snapshot diverges from batch compaction of ALL events")
  }

  test("update-mode landed table compacts duplicate keys across micro-batches") {
    import org.apache.spark.sql.functions._
    val (srcDir, raw) = stageEventsSplit("updcompact")
    val bucket = pmod(col("event_id"), lit(3))
    writeSlice(raw.filter(bucket === 0), srcDir, "f0")
    writeSlice(raw.filter(bucket === 1), srcDir, "f1")
    writeSlice(raw.filter(bucket === 2), srcDir, "f2")

    // 3 micro-batches; most user_ids are touched in several of them,
    // so the raw sink holds duplicate keys and only last-batch-wins
    // compaction yields the true final state
    val landed = StreamOps.runToTable(spark,
      StreamOps.runningTotalsOf(spark,
        StreamOps.eventsStreamFromDir(spark, srcDir.toString, Some(1))),
      "updcompact_test", "update", col("user_id"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap

    val batch = Tables.events(spark, sfDir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), round(sum("value"), 3).as("s"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2)))).toMap
    assert(landed == batch)
  }

  test("drain restores the confs it scopes, after success and after failure") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows")
    val saved = keys.map(k => k -> spark.conf.getAll.get(k))
    def explicit(): Seq[Option[String]] = keys.map(spark.conf.getAll.get)
    def src = spark.readStream.format("graft.sources.SeqSource")
      .option("n", "1000").option("batchrows", "1000").load()
    try {
      // sentinels the drain's own values can't mask: 13 partitions,
      // and the provider class unset (not merely set to its default)
      spark.conf.set(keys.head, "13")
      spark.conf.unset(keys(1))
      val before = explicit()
      assert(before.take(2) == Seq(Some("13"), None))
      StreamOps.drain(spark, src, "append",
        SparkSpec.tempDir("drain_ok").toString)(_.format("noop"))
      assert(explicit() == before, "completed drain leaked its confs")
      intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        StreamOps.drain(spark, src, "append",
          SparkSpec.tempDir("drain_fail").toString) {
          _.foreachBatch { (_: DataFrame, _: Long) =>
            throw new IllegalStateException("sink failed") }
        }
      }
      assert(explicit() == before, "failed drain leaked its confs")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("streaming session_window agrees with batch sessionize on counts") {
    import org.apache.spark.sql.functions._
    val batch = StreamOps.sessionize(spark, sfDir)
      .select("user_id", "n_events")
      .groupBy("user_id").agg(sum("n_events").as("total"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val stream = runStreamToBatch(
      StreamOps.sessionizeStream(spark, sfDir), "complete")
      .groupBy("user_id").agg(sum("n_events").as("total"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(stream == batch)
  }

  test("catalog stream: incremental commit-log drains; resume across " +
    "an expired gap fails loudly, never silently skips") {
    import org.apache.spark.sql.DataFrame
    val cs = spark.newSession()
    cs.conf.set("spark.sql.catalog.mem", "graft.sources.MemCatalog")
    cs.sql("CREATE TABLE mem.st.t (k BIGINT, v BIGINT)")
    cs.sql("INSERT INTO mem.st.t VALUES (1, 10), (2, 20)")          // v1
    cs.sql("INSERT INTO mem.st.t VALUES (3, 30)")                   // v2
    val ckpt = Scratch.processScoped("graft_stream_spec",
      s"ckpt${System.nanoTime()}").toString
    val drained =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    def runStream(): Unit = {
      val q = cs.readStream.table("mem.st.t")
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.collect().foreach(r => drained.add((r.getLong(0), r.getLong(1))))
        }
        .option("checkpointLocation", ckpt).start()
      try { q.processAllAvailable() } finally { q.stop() }
    }
    import scala.jdk.CollectionConverters._
    runStream()
    assert(drained.asScala.toSet == Set((1L, 10L), (2L, 20L), (3L, 30L)))
    // restart drains ONLY the new commit — offsets are commit
    // ordinals, not snapshots
    drained.clear()
    cs.sql("INSERT INTO mem.st.t VALUES (4, 40)")                   // v3
    runStream()
    assert(drained.asScala.toSet == Set((4L, 40L)),
      s"resume re-read old commits: ${drained.asScala.toSet}")
    // expire past the checkpointed offset (ckpt at v3; expire to
    // keep_n=1 on a 5-version chain puts the cut at v4 > 3)
    cs.sql("INSERT INTO mem.st.t VALUES (5, 50)")                   // v4
    cs.sql("INSERT INTO mem.st.t VALUES (6, 60)")                   // v5
    cs.sql("CALL mem.sys.expire('st.t', 1L)").collect()
    drained.clear()
    val e = intercept[Exception] { runStream() }
    def chain(t: Throwable): List[Throwable] =
      if (t == null) Nil else t :: chain(t.getCause)
    assert(chain(e).exists(c => Option(c.getMessage)
      .exists(_.contains("covers expired commits"))), e.getMessage)
    assert(drained.isEmpty, "refused resume still emitted rows")
    // batch reads are the documented recovery — unaffected
    assert(cs.sql("SELECT count(*) FROM mem.st.t").head().getLong(0) == 6L)
  }

  test("trained quality filter serves on the stream ≡ batch apply, " +
    "stateless plan") {
    import graft.operators.TextAnalysis
    val streamed = StreamOps.qualityFilterStreamGated(spark, sfDir)
      .collect().map(_.toSeq)
    val batch = TextAnalysis.qualityFilterTrained(spark, sfDir)
      .collect().map(_.toSeq)
    assert(streamed.toSeq == batch.toSeq,
      "stream and batch apply diverged")
    // stateless contract: the streaming plan carries no aggregation /
    // dedup / join state — a pure projection over the source
    val plan = StreamOps.qualityFilterStream(spark, sfDir)
      .queryExecution.analyzed.toString
    Seq("Aggregate", "Join", "Deduplicate").foreach(op =>
      assert(!plan.contains(op), s"unexpected $op in stream plan"))
  }
}
