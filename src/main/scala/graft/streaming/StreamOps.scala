package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.Tables

/** Structured Streaming surface over the `events` table (SURVEY.md
  * §2.3 — the reference has no streaming; this is the north-star
  * extension, built on readStream → transform → writeStream).
  *
  * The batch-equivalent forms (RelOps.eventsWindow, sessionize here)
  * are the oracle-checked contracts; the streaming variants run the
  * SAME aggregation logic over `readStream` with a watermark, and the
  * spec asserts stream-vs-batch equality on the testdata (processing
  * a static parquet dir as a stream).
  *
  * Scale: event-time tumbling windows + watermark bound state size;
  * sessionization uses window-lag over (user_id) partitions in batch
  * and the same gap rule via session_window in streaming.
  */
object StreamOps {

  /** readStream needs an explicit schema; hard-coding one broke when
    * the testdata regenerated with a different physical `ts` type, so
    * take it from the actual file footers through `Tables.schema`
    * (driver-side metadata only, inferred again when the files change —
    * the 4 join gates each build TWO event streams over the same dir).
    * `Tables.normalizeTs` then maps whatever physical layout arrived
    * onto TimestampType, failing loud on an unknown one. */
  private[graft] def probeRawSchema(s: SparkSession, srcDir: String): StructType = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.schema(s, srcDir)
  }

  /** Streaming source over the events parquet data. The file stream
    * source requires a DIRECTORY; production data is a directory of
    * part files, but the testdata ships a single file, so stage a
    * symlink dir next to /tmp when needed. */
  def eventsStream(s: SparkSession, dir: String): DataFrame =
    eventsStreamFromDir(s, streamableDir(dir, "events.parquet"))

  /** The file stream source requires a DIRECTORY; production data is
    * a directory of part files, but the testdata ships single files —
    * stage a symlink dir under scratch when needed. */
  private def streamableDir(dir: String, file: String): String = {
    val raw = java.nio.file.Paths.get(dir, file)
    if (java.nio.file.Files.isDirectory(raw)) raw.toString
    else {
      val staged = java.nio.file.Paths.get(
        graft.Scratch.root, "graft_stream",
        raw.toString.replaceAll("[^a-zA-Z0-9]", "_"))
      java.nio.file.Files.createDirectories(staged)
      val link = staged.resolve(file)
      if (!java.nio.file.Files.exists(link))
        java.nio.file.Files.createSymbolicLink(link, raw)
      staged.toString
    }
  }

  /** Streaming source over the documents parquet — the ingest feed
    * the trained quality filter serves on. No ts column, so no
    * normalization; schema from `Tables.schema` like events. */
  private[graft] def docsStream(s: SparkSession, dir: String): DataFrame = {
    val src = streamableDir(dir, "documents.parquet")
    s.readStream.schema(Tables.schema(s, src)).parquet(src)
  }

  /** The raw-schema events file stream over an explicit directory.
    * `maxFilesPerTrigger` lets the spec force MULTIPLE micro-batches
    * out of a static directory (one file each) to exercise the
    * cross-batch paths the one-shot drain never hits. */
  private[graft] def eventsStreamFromDir(s: SparkSession, srcDir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = s.readStream.schema(probeRawSchema(s, srcDir))
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    Tables.normalizeTs(reader.parquet(srcDir))
  }

  /** Streaming twin of RelOps.eventsWindow: tumbling 10-minute
    * event-time windows with a 30-minute watermark. Returns the
    * streaming DataFrame; callers attach a sink (the spec uses
    * foreachBatch → memory). */
  def windowedCounts(s: SparkSession, dir: String): DataFrame =
    windowedCountsOf(eventsStream(s, dir))

  /** The tumbling-window aggregation over any events-shaped stream —
    * split out so ScaleRehearsal can feed staged multi-batch sources
    * through the same logic (the pattern every other streaming op here
    * follows for its spec). */
  private[graft] def windowedCountsOf(events: DataFrame): DataFrame =
    events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum("value"), 3).as("sum_value"),
        sum("k").as("sum_k"))
      .select(col("w.start").as("window_start"), col("event_type"),
        col("n"), col("sum_value"), col("sum_k"))

  /** Deterministic per-tag scratch dir, wiped on every use — repeated
    * gate/bench runs reuse ONE sink + ONE checkpoint path per query
    * instead of accumulating createTempDirectory droppings in /tmp.
    * processScoped (r19): wipe-on-use over a path shared with a
    * concurrent suite/Verify JVM would wipe a LIVE stream's sink or
    * checkpoint mid-run — the AvroIO hazard class, wider here because
    * streams hold the path for the whole drain. The one wipe-and-create
    * for stream scratch: ScaleRehearsal's checkpoints use it too. */
  private[graft] def freshDir(tag: String, kind: String): String = {
    val p = graft.Scratch.processScoped("graft_stream_out", kind, tag)
    graft.Scratch.wipeDir(p)
    java.nio.file.Files.createDirectories(p)
    p.toString
  }

  /** Shuffle partitions every drain runs at. Each stateful operator
    * opens one state store per shuffle partition per micro-batch, so
    * the session's one-partition-per-core count means that many
    * RocksDB instances of fixed overhead for a result of a few dozen
    * rows. A LOCAL cost knob only: on a real cluster the state op
    * wants one partition per core like any other shuffle. */
  private val DrainPartitions = 4

  /** Run `stream` TO COMPLETION: Trigger.AvailableNow drains the
    * source and terminates, and the finished query is returned (its
    * `recentProgress` is the per-batch trail). `sink` picks where the
    * rows go (`foreachBatch`, `format`, ...). The one place a stream is
    * started; every drain scopes the same confs to itself, restored in
    * finally so batch work on the shared session never inherits them:
    *  - shuffle partitions at [[DrainPartitions]];
    *  - the RocksDB state store provider — the provider a production
    *    deployment runs: state lives off-heap and spills to executor
    *    disk, so state size is bounded by disk rather than executor
    *    memory, and transformWithState requires it outright (the
    *    default HDFS-backed provider holds every state row on-heap —
    *    exactly what breaks first on an unbounded feed at scale);
    *  - CHANGELOG checkpointing: per-batch commits upload the delta log
    *    instead of snapshotting SST files (snapshots continue in the
    *    background) — a checkpoint FORMAT choice only, state content
    *    identical. Measured on the five heaviest gated drains:
    *    18.05 → 15.05 s for the set (−17%), every query faster;
    *  - RocksDB row-count tracking only when `trackRows`: each
    *    put/delete otherwise pays a read-before-write just to keep
    *    `numRowsTotal` exact. ScaleRehearsal's trails read that metric;
    *    the gated drains don't, and skipping it measured 15.6 → 14.4 s
    *    on the five heaviest (−8%). */
  private[graft] def drain(s: SparkSession, stream: => DataFrame, mode: String,
                           ckpt: String, trackRows: Boolean = false)(
      sink: DataStreamWriter[Row] => DataStreamWriter[Row]): StreamingQuery = {
    val scoped = Seq(
      "spark.sql.shuffle.partitions" -> DrainPartitions.toString,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
      "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> trackRows.toString)
    val set = s.conf.getAll
    val prev = scoped.map { case (k, _) => k -> set.get(k) }
    scoped.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val q = sink(stream.writeStream
        .outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())).start()
      q.awaitTermination()
      q
    } finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** Run a stream TO COMPLETION and land it as a batch-readable
    * parquet table (the production shape: stream → foreachBatch →
    * table), presented sorted on `keyCols`. How a micro-batch lands
    * follows `mode`:
    *  - complete: each batch is the full aggregate and overwrites the
    *    sink. On a static source the watermark never drops anything,
    *    so stream ≡ batch ≡ oracle;
    *  - append (joins, dedup, stateless maps — rows emitted
    *    incrementally): batch 0 resets the sink, later batches append,
    *    and the union of batches is the result;
    *  - update (custom-state streams — fMGWS / transformWithState emit
    *    ONE row per touched key per micro-batch): each batch's rows are
    *    tagged with the batch id, and the read side keeps, per key,
    *    only the row from the LAST batch that touched it — the complete
    *    state. Correct for any number of micro-batches (a multi-file
    *    source, or maxFilesPerTrigger, yields several batches whose raw
    *    union would hold duplicate keys); `keyCols` are then the state
    *    key as well. */
  private[graft] def runToTable(s: SparkSession, stream: => DataFrame,
                                tag: String, mode: String,
                                keyCols: Column*): DataFrame = {
    val sink = freshDir(tag, "sink")
    drain(s, stream, mode, freshDir(tag, "ckpt")) {
      _.foreachBatch { (batch: DataFrame, id: Long) =>
        val rows = if (mode == "update") batch.withColumn("__batch", lit(id)) else batch
        rows.write.mode(if (mode == "complete" || id == 0) "overwrite" else "append")
          .parquet(sink)
      }
    }
    val landed = s.read.parquet(sink)
    val rows =
      if (mode != "update") landed
      else landed
        .withColumn("__rn", row_number().over(Window
          .partitionBy(keyCols: _*).orderBy(col("__batch").desc)))
        .filter(col("__rn") === 1).drop("__rn", "__batch")
    rows.transform(graft.operators.Present.sortedUnbounded(_, keyCols: _*))
  }

  /** `windowedCounts` driver-gated: the proof that the streaming
    * engine computes the same answer DuckDB does, not just the same
    * answer batch Spark does. Registered under the SAME oracle SQL as
    * `events_window`. */
  def eventsWindowStream(s: SparkSession, dir: String): DataFrame =
    runToTable(s, windowedCounts(s, dir), "events_window_stream", "complete",
      col("window_start"), col("event_type"))

  /** Sliding-window twin of `ChangeOps.slidingWindows` over the
    * stream: overlapping 6h-every-3h event-time windows under a
    * watermark — each arriving row enters its TWO open windows, and
    * window state retires as the watermark passes the window end.
    * Split out for the rehearsal/spec pattern. */
  private[graft] def slidingWindowsStreamOf(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "6 hours", "3 hours").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(round(col("value") * 100).cast("long")) / 100.0).as("sum_value"))
      .select(col("w.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Driver-gated sliding-window stream, registered under the SAME
    * oracle SQL as the batch `sliding_windows` — the streaming engine
    * must agree with DuckDB on overlapping-window assignment, not
    * just with batch Spark. */
  def slidingWindowsStream(s: SparkSession, dir: String): DataFrame =
    runToTable(s, slidingWindowsStreamOf(eventsStream(s, dir)),
      "sliding_windows_stream", "complete", col("w_start"), col("event_type"))

  /** Stream-stream inner join: click→purchase attribution within a
    * 60-minute window, the canonical funnel query. Both sides carry
    * watermarks and the join condition carries the time range, so each
    * side's buffered state is bounded to watermark + window — the shape
    * that holds on an unbounded feed. On the drained static source the
    * result equals the batch/DuckDB self-join exactly. */
  def clickPurchaseJoin(s: SparkSession, dir: String): DataFrame =
    clickPurchaseOf(eventsStream(s, dir), eventsStream(s, dir), "inner")
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        col("click_ts"), col("purchase_ts"))

  /** The funnel join every click→purchase stream shares: clicks and
    * purchases split out of two events-shaped streams (normally both
    * over the same source), each side watermarked 1 hour, joined on
    * user within the 60-minute attribution window. Each caller keeps
    * its own projection. */
  private[graft] def clickPurchaseOf(clickSrc: DataFrame,
                                     purchaseSrc: DataFrame,
                                     joinType: String): DataFrame = {
    val clicks = clickSrc
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = purchaseSrc
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"),
        col("user_id").as("p_user"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr("interval 60 minutes"),
      joinType)
  }

  /** Both side maxima of the events table in ONE conditional
    * aggregate (one scan, one job) instead of two filtered agg
    * subtrees cross-joined — the horizon every outer/chained funnel
    * gate restricts against. Each gate keeps its own `select`. */
  private def sideMaxima(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir).agg(
      max(when(col("event_type") === "click", col("ts"))).as("mc"),
      max(when(col("event_type") === "purchase", col("ts"))).as("mp"))

  /** `clickPurchaseJoin` driver-gated against the DuckDB self-join.
    *
    * Gate assumption: the staged source is a SINGLE parquet file, so
    * AvailableNow drains it in one micro-batch and the 1-hour
    * watermark can never evict state between batches — stream ≡ the
    * batch self-join exactly. If the source were a multi-file dir with
    * ts-disordered files, the equality would need a watermark delay
    * larger than the data's max disorder. */
  def clickPurchaseJoinGated(s: SparkSession, dir: String): DataFrame =
    runToTable(s, clickPurchaseJoin(s, dir), "stream_join", "append",
      col("click_id"), col("purchase_id"))

  /** LEFT OUTER stream-stream join — the funnel query that also
    * reports clicks with NO purchase. The outer NULL row for a click
    * is emittable only once the watermark proves no purchase can
    * still arrive (watermark > click_ts + join window); Spark holds
    * the row in state until then and a no-data micro-batch flushes it
    * after the drain. */
  def clickPurchaseLeftJoin(s: SparkSession, dir: String): DataFrame =
    clickPurchaseLeftOf(eventsStream(s, dir), eventsStream(s, dir))

  /** The left-outer stream-stream join over two events-shaped streams
    * (normally both over the same source) — split out so
    * StreamingSpec can feed multi-batch staged sources through the
    * same logic for the stop/restart case. */
  private[graft] def clickPurchaseLeftOf(clickSrc: DataFrame,
                                         purchaseSrc: DataFrame): DataFrame =
    clickPurchaseOf(clickSrc, purchaseSrc, "left_outer")
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        col("click_ts"), col("purchase_ts"))

  /** `clickPurchaseLeftJoin` driver-gated. Outer results are only
    * FINAL for clicks the terminal watermark has cleared. With TWO
    * watermarked inputs the global watermark is the MIN over sides of
    * (that side's max event time − delay) — verified empirically: the
    * unfiltered stream withheld exactly the unmatched clicks between
    * the min-side and max-side horizons. A click's no-match verdict is
    * decidable once the watermark passes click_ts + 60 min, so both
    * the landed table and the DuckDB oracle restrict to
    * click_ts < min(max click_ts, max purchase_ts) − 1 h − 60 min
    * (strict, dodging the eviction boundary), where stream ≡ batch
    * LEFT JOIN exactly. */
  def clickPurchaseLeftGated(s: SparkSession, dir: String): DataFrame = {
    val landed = runToTable(s, clickPurchaseLeftJoin(s, dir),
      "stream_left_join", "append", col("click_id"), col("purchase_id"))
    val horizon = broadcast(sideMaxima(s, dir)
      .select((least(col("mc"), col("mp")) -
        expr("interval 120 minutes")).as("h")))
    landed.crossJoin(horizon)
      .filter(col("click_ts") < col("h")).drop("h")
      .transform(graft.operators.Present.sortedUnbounded(_,
        col("click_id"), col("purchase_id")))
  }

  /** FULL OUTER stream-stream join — both sides' no-match verdicts:
    * clicks with no purchase (the left-join rows) AND purchases with
    * no qualifying click. A purchase's no-click verdict is decidable
    * once the watermark passes purchase_ts — any qualifying click
    * would carry click_ts ∈ [purchase_ts − 60 min, purchase_ts], all
    * ≤ purchase_ts, so once the watermark clears purchase_ts no such
    * arrival is admissible; Spark holds the purchase row in state
    * until then and the terminal no-data batch flushes its
    * null-extended row. */
  private[graft] def clickPurchaseFullOf(clickSrc: DataFrame,
                                         purchaseSrc: DataFrame): DataFrame =
    clickPurchaseOf(clickSrc, purchaseSrc, "full_outer")
      .select(col("click_id"), col("purchase_id"),
        coalesce(col("user_id"), col("p_user")).as("user_id"),
        col("click_ts"), col("purchase_ts"))

  def clickPurchaseFullJoin(s: SparkSession, dir: String): DataFrame =
    clickPurchaseFullOf(eventsStream(s, dir), eventsStream(s, dir))

  /** `clickPurchaseFullJoin` driver-gated. Two final zones, one per
    * outer side (the stream_left_join gating extended): with terminal
    * watermark W = min(max click_ts, max purchase_ts) − 1 h,
    * click-side rows (matched or null-extended) are final once
    * W > click_ts + 60 min, and purchase-side null-click rows once
    * W > purchase_ts — both strict, dodging the eviction boundary.
    * Landed table and DuckDB oracle restrict identically, where
    * stream ≡ batch FULL JOIN exactly. */
  def clickPurchaseFullGated(s: SparkSession, dir: String): DataFrame = {
    val landed = runToTable(s, clickPurchaseFullJoin(s, dir),
      "stream_full_join", "append", col("click_id"), col("purchase_id"))
    val horizon = broadcast(sideMaxima(s, dir)
      .select(least(col("mc"), col("mp")).as("wm0")))
    landed.crossJoin(horizon)
      .filter(
        (col("click_ts").isNotNull &&
          col("click_ts") < col("wm0") - expr("interval 120 minutes")) ||
        (col("click_ts").isNull &&
          col("purchase_ts") < col("wm0") - expr("interval 60 minutes")))
      .drop("wm0")
      // NULLS LAST on both keys: the full-outer output is the one
      // place a SORT key itself is null (purchase-only rows), and
      // Spark's ASC default is nulls-first while DuckDB's is
      // nulls-last — the driver compares rows in order
      .transform(graft.operators.Present.sortedUnbounded(_,
        col("click_id").asc_nulls_last, col("purchase_id").asc_nulls_last))
  }

  /** CHAINED stateful operators — stream-stream join feeding a
    * windowed aggregate DOWNSTREAM in the same query (Spark 4 multi-
    * stateful-operator support): click→purchase attribution joined
    * under two watermarks, then attributed purchases aggregated into
    * 3-hour event-time windows per user cohort. TWO state stores live
    * in one query — the join's buffered sides and the aggregate's open
    * windows — and the engine propagates the watermark THROUGH the
    * join (the join can emit rows older than the input watermark by up
    * to its 60-minute interval, so the aggregate's finalization
    * watermark is delayed accordingly; getting this wrong either
    * drops attributed purchases or never closes windows). At 100 TB/
    * day this is the shape of every funnel dashboard: the alternative
    * — land the join, re-read it, re-aggregate — pays a full
    * materialization cycle of latency and storage. */
  private[graft] def joinWindowOf(clickSrc: DataFrame,
                                  purchaseSrc: DataFrame): DataFrame =
    clickPurchaseOf(clickSrc, purchaseSrc, "inner")
      .groupBy(window(col("purchase_ts"), "3 hours").as("w"),
        (col("user_id") % 5).as("cohort"))
      .agg(count(lit(1)).as("n_attributed"),
        sum(col("purchase_id")).as("sum_purchase_id"))
      .select(col("w.start").as("w_start"), col("cohort"),
        col("n_attributed"), col("sum_purchase_id"))

  /** `joinWindowOf` driver-gated. Append mode emits a window only
    * once the POST-JOIN watermark clears its end; with terminal
    * watermark W = min(max click_ts, max purchase_ts) − 1 h, the join
    * delays propagation by at most its 60-minute interval, so any
    * window with end < W − 60 min has provably been emitted. Landed
    * table and DuckDB oracle restrict identically to
    * w_end < wm0 − 120 min (wm0 = min of the side maxima; strict,
    * dodging the eviction boundary), where the chained stream ≡ the
    * batch join + window aggregate exactly. */
  def joinWindowGated(s: SparkSession, dir: String): DataFrame = {
    val landed = runToTable(s,
      joinWindowOf(eventsStream(s, dir), eventsStream(s, dir)),
      "stream_join_window", "append", col("w_start"), col("cohort"))
    val horizon = broadcast(sideMaxima(s, dir)
      .select(least(col("mc"), col("mp")).as("wm0")))
    landed.crossJoin(horizon)
      .filter(col("w_start") + expr("interval 3 hours") <
        col("wm0") - expr("interval 120 minutes"))
      .drop("wm0")
      .transform(graft.operators.Present.sortedUnbounded(_,
        col("w_start"), col("cohort")))
  }

  /** Streaming exact dedup: first-seen (user_id, event_type) pairs via
    * streaming dropDuplicates. Exact-distinct semantics with one state
    * entry per DISTINCT key — bounded by key cardinality, so it holds
    * on an unbounded feed when the key domain is bounded (here: users ×
    * event types). For unbounded key domains (e.g. content hashes) use
    * `dedupStreamWithinWatermark`, which evicts state at the watermark
    * and is exercised in StreamingSpec (its drop-or-emit decision for
    * duplicates farther apart than the delay is event-time-dependent,
    * so it gets spec bounds, not a hash oracle). */
  def dedupStream(s: SparkSession, dir: String): DataFrame =
    eventsStream(s, dir)
      .dropDuplicates("user_id", "event_type")
      .select(col("user_id"), col("event_type"))

  /** `dedupStream` driver-gated: equals DISTINCT on the drained
    * source. */
  def dedupStreamGated(s: SparkSession, dir: String): DataFrame =
    runToTable(s, dedupStream(s, dir), "dedup_stream", "append",
      col("user_id"), col("event_type"))

  /** Streaming apply of the TRAINED quality filter — the production
    * serving shape: the model trains offline (batch, oracle-gated
    * `quality_train`), then its weights ride the ingest stream's plan
    * as literals and every arriving doc is featurized + scored
    * map-side. STATELESS (no watermark, no state store): the filter
    * is a narrow projection, so at 100 TB/day it prices as the scan.
    * Featurization runs inline on the stream ([[graft.operators
    * .TextAnalysis.qcFeaturize]] — the same narrow column pipeline as
    * batch, so the decision rule provably cannot drift), and the
    * drained result equals `quality_filter_trained` row-for-row (the
    * shared oracle). */
  def qualityFilterStream(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.TextAnalysis
    val score = TextAnalysis.qcScore(TextAnalysis.qcTrajectory(s, dir).last)
    TextAnalysis.qcFeaturize(docsStream(s, dir))
      .select(col("doc_id"), score.as("score"), (score > 0).as("keep"))
  }

  /** `qualityFilterStream` driver-gated: equals the batch apply. */
  def qualityFilterStreamGated(s: SparkSession, dir: String): DataFrame =
    runToTable(s, qualityFilterStream(s, dir),
      "quality_filter_stream", "append", col("doc_id"))

  /** Stream-static enrichment: the streaming fact side joins a
    * broadcast dimension snapshot inside each micro-batch — the
    * STATELESS streaming join (no watermark, no state store at all;
    * the static side is re-resolvable per batch, so dimension updates
    * between batches are picked up). This is the everyday shape —
    * attach reference attributes to an event feed — and at 100 TB/day
    * it costs exactly one broadcast per executor per batch. */
  def streamEnrich(s: SparkSession, dir: String): DataFrame = {
    val dim = broadcast(Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment")))
    eventsStream(s, dir)
      .join(dim, col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"),
        col("c_mktsegment").as("segment"), col("event_type"), col("value"))
  }

  /** `streamEnrich` driver-gated against the DuckDB batch join. */
  def streamEnrichGated(s: SparkSession, dir: String): DataFrame =
    runToTable(s, streamEnrich(s, dir), "stream_enrich", "append",
      col("event_id"))

  /** [[runningUserTotals]] driver-gated: the flatMapGroupsWithState
    * black-box state machine must agree with DuckDB's GROUP BY on the
    * drained source — the custom-state analogue of the reference's
    * opaque reducer, under the same hash oracle as everything else. */
  def runningUserTotalsGated(s: SparkSession, dir: String): DataFrame =
    runToTable(s, runningUserTotals(s, dir), "running_totals", "update",
      col("user_id"))

  /** [[userMaxStream]] driver-gated (transformWithState + RocksDB
    * ValueState cells vs the batch max). RocksDB — which this op
    * REQUIRES — comes from [[drain]], like every other stateful
    * gate. */
  def userMaxStreamGated(s: SparkSession, dir: String): DataFrame =
    runToTable(s, userMaxStream(s, dir), "user_max_stream", "update",
      col("user_id"))

  /** Streaming MERGE (CDC upsert sink): each micro-batch's latest
    * record per key is merged into a parquet snapshot via the
    * full-outer coalesce pattern (StorageOps.mergeUpsert's shape,
    * applied incrementally inside foreachBatch) — the pipeline that
    * maintains a "current state" table under an unbounded change
    * feed. After AvailableNow drains the source, the snapshot must
    * equal the batch change-log compaction exactly, so it shares
    * latest_events' DuckDB oracle. At scale the snapshot would be
    * bucketed on the key so each merge shuffles only the batch. */
  def streamUpsertGated(s: SparkSession, dir: String): DataFrame = {
    val snap = freshDir("stream_upsert", "sink")
    val ckpt = freshDir("stream_upsert", "ckpt")
    runUpsert(s, eventsStream(s, dir), snap, ckpt)
    s.read.parquet(snap)
      .transform(graft.operators.Present.sortedUnbounded(_,
        col("user_id"), col("event_type")))
  }

  /** Drain `source` through the CDC-merge sink into `snap`. Separate
    * from [[streamUpsertGated]] so a caller (StreamingSpec's
    * crash-recovery case) can stop and later RESUME the same
    * snapshot+checkpoint pair against a source that grew in between —
    * the file-source offsets in `ckpt` make the second drain process
    * only the unseen files. */
  private[graft] def runUpsert(s: SparkSession, source: DataFrame,
                               snap: String, ckpt: String): Unit =
    drain(s, source, "append", ckpt)(_.foreachBatch(upsertBatch(snap) _))

  /** One micro-batch of the CDC merge. Idempotent: the newer-wins
    * comparison is `>=` on (ts, event_id), so a batch replayed after
    * a crash between snapshot swap and checkpoint commit merges to
    * the same snapshot, and a crash INSIDE the swap is recovered from
    * the `_prev` rename at the top of the next batch (the old
    * snapshot is renamed aside, never deleted before its replacement
    * lands). The bootstrap condition is "no snapshot
    * written yet", NOT batch id 0 — after a restart the replayed
    * first batch must MERGE into the snapshot it already wrote. */
  private[graft] def upsertBatch(snap: String)(batch: DataFrame, id: Long): Unit = {
    // batch-local compaction first: one row per key
    val changes = batch
      .groupBy("user_id", "event_type")
      .agg(max_by(
        struct(col("event_id"), col("ts"), col("value")),
        struct(col("ts"), col("event_id"))).as("last"))
      .select(col("user_id").as("ck_user"),
        col("event_type").as("ck_type"),
        col("last.event_id").as("c_event_id"),
        col("last.ts").as("c_ts"), col("last.value").as("c_value"))
    // Recover from a crash inside a previous swap: if the snapshot
    // was renamed aside but its replacement never landed, restore it
    // BEFORE the bootstrap check (otherwise the replayed batch would
    // bootstrap fresh and silently drop all prior keys). A `_prev`
    // next to a live snapshot is debris from a crash after the move.
    locally {
      val sp = java.nio.file.Paths.get(snap)
      val pp = java.nio.file.Paths.get(snap + "_prev")
      if (java.nio.file.Files.exists(pp)) {
        if (java.nio.file.Files.exists(sp)) graft.Scratch.wipeDir(pp)
        else java.nio.file.Files.move(pp, sp)
      }
    }
    val snapHasData = {
      val f = new java.io.File(snap)
      f.exists() && f.listFiles() != null && f.listFiles().nonEmpty
    }
    val merged =
      if (!snapHasData) changes.select(
        col("ck_user").as("user_id"), col("ck_type").as("event_type"),
        col("c_event_id").as("last_event_id"),
        col("c_ts").as("last_ts"), col("c_value").as("last_value"))
      else {
        val cur = batch.sparkSession.read.parquet(snap)
        cur.join(changes,
            col("user_id") === col("ck_user") &&
              col("event_type") === col("ck_type"), "full_outer")
          .select(
            coalesce(col("user_id"), col("ck_user")).as("user_id"),
            coalesce(col("event_type"), col("ck_type")).as("event_type"),
            // change wins when BOTH sides exist and the change is
            // newer (or the key is new)
            when(col("c_ts").isNull ||
                (col("last_ts").isNotNull &&
                  struct(col("last_ts"), col("last_event_id")) >=
                    struct(col("c_ts"), col("c_event_id"))),
              struct(col("last_event_id"), col("last_ts"), col("last_value")))
              .otherwise(
                struct(col("c_event_id").as("last_event_id"),
                  col("c_ts").as("last_ts"),
                  col("c_value").as("last_value"))).as("r"))
          .select(col("user_id"), col("event_type"),
            col("r.last_event_id").as("last_event_id"),
            col("r.last_ts").as("last_ts"),
            col("r.last_value").as("last_value"))
      }
    // land atomically-enough for the local drain: write to a temp
    // dir, rename the live snapshot ASIDE (not delete — a crash
    // between rename and move is recoverable at the top of the next
    // batch), move the temp in, then drop the old copy. `merged`
    // reads `snap`, so no overwrite of the input mid-plan.
    val tmp = snap + "_next"
    merged.write.mode("overwrite").parquet(tmp)
    val sp = java.nio.file.Paths.get(snap)
    val pp = java.nio.file.Paths.get(snap + "_prev")
    if (java.nio.file.Files.exists(sp)) java.nio.file.Files.move(sp, pp)
    try java.nio.file.Files.move(java.nio.file.Paths.get(tmp), sp)
    catch {
      case e: Throwable =>
        if (java.nio.file.Files.exists(pp) && !java.nio.file.Files.exists(sp))
          java.nio.file.Files.move(pp, sp) // restore on failed swap
        throw e
    }
    graft.Scratch.wipeDir(pp)
  }

  /** Watermark-evicting dedup — the 100 TB shape for unbounded key
    * domains: state holds only keys newer than the watermark minus the
    * delay; duplicates arriving within the delay are dropped. */
  def dedupStreamWithinWatermark(s: SparkSession, dir: String): DataFrame =
    eventsStream(s, dir)
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))

  /** Batch sessionization: per-user sessions split at >30-minute
    * gaps (classic lag + cumulative-sum-of-breaks), aggregated to one
    * row per session. Oracle-checkable; the window shuffle is keyed on
    * user_id. */
  def sessionize(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      // integer micros, not float seconds: exact on both engines
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("brk",
        when(col("gap_us").isNull || col("gap_us") > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("brk").over(run))
      .groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        min("ts").as("session_start"),
        max("ts").as("session_end"),
        round(sum("value"), 3).as("sum_value"))
      .transform(graft.operators.Present.sortedUnbounded(_, col("user_id"), col("session_id")))
  }

  /** Streaming sessionization via session_window (gap-based session
    * merging with watermark-bounded state) — the built-in replacement
    * for hand-rolled mapGroupsWithState for gap sessions. */
  def sessionizeStream(s: SparkSession, dir: String): DataFrame =
    sessionizeStreamOf(eventsStream(s, dir))

  /** The session_window transform over any events-shaped stream —
    * split out so StreamingSpec can feed a multi-batch staged source
    * through the same logic for the stop/restart case. */
  private[graft] def sessionizeStreamOf(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"),
        round(sum("value"), 3).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("sum_value"))

  /** `sessionizeStream` driver-gated — the proof of STATEFUL session
    * merging (not just tumbling windows) against DuckDB. The oracle
    * replicates session_window semantics exactly: a new session starts
    * when the gap is >= the 30-minute timeout (half-open merge
    * interval), and session_end = last event + timeout. */
  def sessionizeStreamGated(s: SparkSession, dir: String): DataFrame =
    runToTable(s, sessionizeStream(s, dir), "sessionize_stream", "complete",
      col("user_id"), col("session_start"))

  /** Custom streaming state (SURVEY.md §2.3 UDF/UDAF surface → the
    * streaming analogue of the reference's black-box reducer): a
    * per-user running (count, sum) maintained in GroupState via
    * flatMapGroupsWithState. session_window/window cover the common
    * cases; this is the escape hatch for state machines the built-ins
    * can't express. State is one tuple per user — bounded by keys, not
    * by events, so it holds at 100 TB of input. */
  def runningUserTotals(s: SparkSession, dir: String): DataFrame =
    runningTotalsOf(s, eventsStream(s, dir))

  /** The fMGWS state machine over any events-shaped stream — split
    * from [[runningUserTotals]] so the spec can feed a multi-batch
    * source (maxFilesPerTrigger) through the same logic. */
  private[graft] def runningTotalsOf(s: SparkSession, events: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(
        OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[(Long, Double)],
         state: GroupState[(Long, Double)]) => {
          var (n, sum) = state.getOption.getOrElse((0L, 0.0))
          rows.foreach { case (_, v) => n += 1; sum += v }
          state.update((n, sum))
          Iterator((uid, n, sum))
        })
      .toDF("user_id", "n_events", "sum_value")
      .withColumn("sum_value", round(col("sum_value"), 3))
  }

  /** Spark 4 `transformWithState` processor: per-user running max +
    * count held in typed `ValueState` cells (RocksDB-backed state
    * store). The successor API to flatMapGroupsWithState — state cells
    * are named/typed/TTL-capable instead of one opaque tuple. One
    * bounded cell pair per key. */
  class UserMaxProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Double), (Long, Double, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var mx: ValueState[Double] = _
    @transient private var n: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      mx = getHandle.getValueState[Double]("mx", Encoders.scalaDouble, TTLConfig.NONE)
      n = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
                                 timers: TimerValues): Iterator[(Long, Double, Long)] = {
      var curMax = if (mx.exists()) mx.get() else Double.NegativeInfinity
      var curN = if (n.exists()) n.get() else 0L
      rows.foreach { case (_, v) => curMax = math.max(curMax, v); curN += 1 }
      mx.update(curMax); n.update(curN)
      Iterator((key, curMax, curN))
    }
  }

  /** Streaming per-user running max via transformWithState; requires
    * the RocksDB state store (set in the caller's session conf). */
  def userMaxStream(s: SparkSession, dir: String): DataFrame =
    userMaxOf(s, eventsStream(s, dir))

  /** `transformWithState` with state TTL — the third state-lifecycle
    * leg next to watermark eviction (event-time ops) and explicit
    * timers ([[SessionTimerProcessor]]): the STORE expires a cell
    * `ttl` after its last write, with no code path in the processor —
    * the bounded-state contract for keys that simply stop arriving.
    * At 100 TB this is what keeps a per-entity cache (rate counters,
    * feature snapshots) from accumulating every entity ever seen:
    * expiry is O(expired) via the store's TTL index, not a scan.
    * TTL requires `TimeMode.ProcessingTime`; expiry is evaluated
    * against each BATCH's timestamp, so with ttlMs below the
    * inter-batch gap a cell written in batch N is expired in batch
    * N+1 — which makes the semantics deterministically testable
    * (StreamingSpec pins per-batch-reset vs cumulative counts on the
    * same sliced source). ttlMs <= 0 selects TTLConfig.NONE (the
    * cumulative twin). */
  class UserCountTtlProcessor(ttlMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Double), (Long, Long)] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var n: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      n = getHandle.getValueState[Long]("n", Encoders.scalaLong,
        if (ttlMs <= 0) TTLConfig.NONE
        else TTLConfig(java.time.Duration.ofMillis(ttlMs)))
    override def handleInputRows(key: Long, rows: Iterator[(Long, Double)],
                                 timers: TimerValues): Iterator[(Long, Long)] = {
      val cur = (if (n.exists()) n.get() else 0L) + rows.size
      n.update(cur)
      Iterator((key, cur))
    }
  }

  private[graft] def userCountTtlOf(s: SparkSession, events: DataFrame,
                                    ttlMs: Long): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events
      .select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new UserCountTtlProcessor(ttlMs),
        TimeMode.ProcessingTime(), OutputMode.Update())
      .toDF("user_id", "n_events")
  }

  /** Spark 4 `transformWithState` with EVENT-TIME TIMERS + ListState —
    * the full arbitrary-state surface ([[UserMaxProcessor]] covers
    * ValueState; this adds the other two legs): gap-based
    * sessionization as an explicit state machine. Events buffer in a
    * per-user `ListState`; ONE timer per user slides to
    * (last event + gap), and when the WATERMARK passes it the timer
    * fires, the buffered history splits into sessions by the batch
    * rule (gap > 30 min), every closed session emits, and state
    * clears — the processor holds exactly the un-closable tail, never
    * the stream. This is how TTL-evicted custom state works at 100 TB:
    * the watermark, not the data volume, bounds state.
    *
    * Timer granularity is MILLISECONDS while event time is micros, so
    * expiry rounds UP to the next ms (never early-fires a session the
    * μs math says is still open). */
  class SessionTimerProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, (Long, Long, Double), (Long, Long, Long, Long, Long, Double)] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    private val GapUs = 1800000000L // 30 min — the batch sessionize rule
    @transient private var evs: ListState[(Long, Double)] = _
    @transient private var timerAt: ValueState[Long] = _
    @transient private var sidBase: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      evs = getHandle.getListState[(Long, Double)]("evs",
        Encoders.product[(Long, Double)], TTLConfig.NONE)
      timerAt = getHandle.getValueState[Long]("timer_ms",
        Encoders.scalaLong, TTLConfig.NONE)
      // session numbering survives fires: a later fire CONTINUES the
      // count (a post-fire event is > watermark ≥ last + gap, so it
      // can never merge into an emitted session — only start the next)
      sidBase = getHandle.getValueState[Long]("sid_base",
        Encoders.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[(Long, Long, Double)],
        timers: TimerValues): Iterator[(Long, Long, Long, Long, Long, Double)] = {
      var mxUs = Long.MinValue
      // ONE state-store put per (user, batch) via appendList instead
      // of a JNI round-trip per event — same buffered state
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Long, Double)]
      rows.foreach { case (_, tsUs, v) =>
        buf += ((tsUs, v)); mxUs = math.max(mxUs, tsUs)
      }
      if (buf.nonEmpty) evs.appendList(buf.toArray)
      // one sliding timer per user: (last event + gap), ms-ceiling
      val want = (mxUs + GapUs + 999L) / 1000L
      val cur = if (timerAt.exists()) timerAt.get() else Long.MinValue
      if (want > cur) {
        if (timerAt.exists()) getHandle.deleteTimer(cur)
        getHandle.registerTimer(want)
        timerAt.update(want)
      }
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, timers: TimerValues,
        info: ExpiredTimerInfo): Iterator[(Long, Long, Long, Long, Long, Double)] = {
      val all = evs.get().toArray.sortBy(_._1)
      evs.clear(); timerAt.clear()
      if (all.isEmpty) return Iterator.empty
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long, Long, Long, Double)]
      var sid = if (sidBase.exists()) sidBase.get() else 0L
      var i = 0
      while (i < all.length) {
        var j = i
        while (j + 1 < all.length && all(j + 1)._1 - all(j)._1 <= GapUs) j += 1
        sid += 1
        var sum = 0.0
        var k = i
        while (k <= j) { sum += all(k)._2; k += 1 }
        out += ((key, sid, (j - i + 1).toLong, all(i)._1, all(j)._1, sum))
        i = j + 1
      }
      sidBase.update(sid)
      out.iterator
    }
  }

  /** The timer-driven session stream over any events-shaped stream. */
  private[graft] def sessionTimersOf(s: SparkSession,
                                     events: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events
      .withWatermark("ts", "30 minutes")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"), col("value"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new SessionTimerProcessor,
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("user_id", "session_id", "n_events", "start_us", "end_us",
        "sum_raw")
  }

  /** [[sessionTimersOf]] driver-gated. Only FIRED timers emit, and a
    * user's timer sits at their LAST event + gap — so the gate (and
    * its oracle, identically) restricts to users whose entire history
    * closed before the final watermark: user_max_ts ≤ max_ts − delay
    * (30 min) − gap (30 min) − 1 s, the guard band covering the
    * μs→ms timer truncation. Inside that zone the state machine must
    * reproduce the batch sessionize relation exactly — session
    * numbering, bounds, counts, and sums. */
  def sessionTimersGated(s: SparkSession, dir: String): DataFrame = {
    val raw = runToTable(s, sessionTimersOf(s, eventsStream(s, dir)),
      "tws_session", "append", col("user_id"), col("session_id"))
    val evUs = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
    // bounded driver scalar: one row (the corpus max event time)
    val mxUs = evUs.agg(max(col("ts_us"))).head().getLong(0)
    val zoneUs = mxUs - 1800000000L - 1800000000L - 1000000L
    val zoneUsers = evUs.groupBy("user_id")
      .agg(max(col("ts_us")).as("umax"))
      .filter(col("umax") <= zoneUs).select("user_id")
    raw.join(broadcast(zoneUsers), Seq("user_id"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        timestamp_micros(col("start_us")).as("session_start"),
        timestamp_micros(col("end_us")).as("session_end"),
        round(col("sum_raw"), 3).as("sum_value"))
      .transform(graft.operators.Present.sortedUnbounded(
        _, col("user_id"), col("session_id")))
  }

  /** The transformWithState machine over any events-shaped stream —
    * split out for StreamingSpec's stop/restart case. */
  private[graft] def userMaxOf(s: SparkSession, events: DataFrame): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events
      .select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .transformWithState(new UserMaxProcessor,
        TimeMode.None(), OutputMode.Update())
      .toDF("user_id", "max_value", "n_events")
      .withColumn("max_value", round(col("max_value"), 3))
  }

  /** Streaming read through the custom DSv2 connector
    * ([[graft.sources.SeqSource]] — MicroBatchStream + admission
    * control): AvailableNow drains the 100k-row generated table as
    * several ≤30k-row micro-batches (offset tracking + commits, not
    * one degenerate snapshot), the id predicate rides the same
    * ScanBuilder pushdown as the batch path, and the appended union
    * of batches must equal the DuckDB range() replay — gating the
    * connector's offset arithmetic end to end (an overlapping or
    * gapped batch boundary duplicates or drops ids and hash-fails). */
  def dsv2Stream(s: SparkSession, dir: String): DataFrame =
    runToTable(s,
      s.readStream.format("graft.sources.SeqSource")
        .option("n", "100000").option("parts", "4")
        .option("batchrows", "30000").load()
        .filter(col("id") >= 25000L && col("id") < 75000L)
        .select("id", "bucket"),
      "dsv2_stream", "append", col("id"))

  /** The DSv2 streaming WRITE half — the last connector quadrant
    * (batch read/write and the micro-batch read already gated):
    * [[graft.sources.SeqSource]]'s admission-controlled stream feeds
    * [[graft.sources.CountSink]]'s `StreamingWrite`, whose commit
    * protocol is EPOCH-ed — each micro-batch's per-task folds commit
    * under (runId, epochId), keyed so a recovery-replayed epoch
    * overwrites instead of double-counting (the connector side of
    * exactly-once). Connector-to-connector: offsets tracked on the
    * source, epochs committed on the sink, zero files. The gated
    * result is the drained totals + the non-empty epoch count (4
    * capped batches of ≤30k over 100k rows), all replayed by the
    * oracle from range arithmetic. */
  def dsv2StreamWrite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val runId = java.util.UUID.randomUUID().toString
    drain(s,
      s.readStream.format("graft.sources.SeqSource")
        .option("n", "100000").option("parts", "4")
        .option("batchrows", "30000").load()
        .select("id"),
      "append", freshDir("dsv2_stream_write", "ckpt")) {
      _.format("graft.sources.CountSink").option("runid", runId)
    }
    val (rows, sum, epochs) = graft.sources.CountSink.takeStream(runId)
    Seq((rows, sum, epochs)).toDF("n_rows", "sum_id", "n_epochs")
  }

  /** Offline STATE-STORE inspection (Spark 4's state data source —
    * the operational capability behind debugging a stuck stateful
    * stream or auditing its state): a per-user count+sum aggregation
    * drains to completion on RocksDB, then `spark.read
    * .format("statestore")` reads the checkpoint's final state
    * DIRECTLY — no re-execution, no sink — and the unpacked
    * key/value structs are gated against the DuckDB batch aggregate.
    * A state row that leaked, duplicated across rebalances, or held a
    * stale aggregation buffer hash-fails.
    *
    * Scale shape: the state read is a parallel scan of the store's
    * partition files (one task per state partition), never touching
    * the original source — at production state sizes this is the only
    * affordable way to look inside a query's state. */
  def stateInspect(s: SparkSession, dir: String): DataFrame = {
    val ckpt = freshDir("state_inspect", "ckpt")
    drain(s,
      eventsStream(s, dir)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum("event_id").as("sid")),
      "complete", ckpt)(_.format("noop"))
    s.read.format("statestore").load(ckpt)
      .select(col("key.user_id").as("user_id"),
        col("value.count").as("n_events"),
        col("value.sum").as("sum_event_id"))
      .transform(graft.operators.Present.sortedUnbounded(_, col("user_id")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "state_inspect"        -> stateInspect _,
    "dsv2_stream"          -> dsv2Stream _,
    "dsv2_stream_write"    -> dsv2StreamWrite _,
    "sessionize"           -> sessionize _,
    "events_window_stream" -> eventsWindowStream _,
    "sliding_windows_stream" -> slidingWindowsStream _,
    "sessionize_stream"    -> sessionizeStreamGated _,
    "stream_stream_join"   -> clickPurchaseJoinGated _,
    "stream_left_join"     -> clickPurchaseLeftGated _,
    "stream_full_join"     -> clickPurchaseFullGated _,
    "stream_join_window"   -> joinWindowGated _,
    "dedup_stream"         -> dedupStreamGated _,
    "quality_filter_stream" -> qualityFilterStreamGated _,
    "stream_enrich"        -> streamEnrichGated _,
    "running_totals_stream" -> runningUserTotalsGated _,
    "user_max_stream"      -> userMaxStreamGated _,
    "tws_session_timers"   -> sessionTimersGated _,
    "stream_upsert"        -> streamUpsertGated _,
  )

  val oracle: Map[String, String] = Map(
    // the checkpoint's final state rows ARE the per-user aggregate —
    // a leaked/duplicated/stale state row hash-fails
    "state_inspect" ->
      """SELECT user_id, count(*)::BIGINT AS n_events,
        |  sum(event_id)::BIGINT AS sum_event_id
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // the drained micro-batches must union to the exact id window
    // with the md5-60 bucket of each id
    "dsv2_stream" ->
      """SELECT i AS id,
        |  ('0x' || substring(md5('seq' || i::VARCHAR), 1, 15))::BIGINT
        |    % 100 AS bucket
        |FROM range(25000, 75000) t(i)
        |ORDER BY id""".stripMargin,
    // drained totals from range arithmetic; 100k rows through <=30k
    // admission caps = exactly 4 non-empty epochs
    "dsv2_stream_write" ->
      """SELECT count(*)::BIGINT AS n_rows, sum(i)::BIGINT AS sum_id,
        |  4::BIGINT AS n_epochs
        |FROM range(0, 100000) t(i)""".stripMargin,
    // same contract as the batch twin — the streaming engine must
    // reproduce RelOps.eventsWindow's DuckDB-checked result exactly
    "events_window_stream" -> graft.operators.RelOps.oracle("events_window"),
    "sliding_windows_stream" ->
      graft.operators.ChangeOps.oracle("sliding_windows"),
    "stream_stream_join" ->
      """SELECT a.event_id AS click_id, b.event_id AS purchase_id,
        |  a.user_id, a.ts AS click_ts, b.ts AS purchase_ts
        |FROM events a JOIN events b ON a.user_id = b.user_id
        |WHERE a.event_type = 'click' AND b.event_type = 'purchase'
        |  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 60 MINUTE
        |ORDER BY click_id, purchase_id""".stripMargin,
    // both outer sides replayed batch-side, each gated to its own
    // final zone (click rows: W - 120 min; null-click purchase rows:
    // W - 60 min, W = min of the two side maxima)
    "stream_full_join" ->
      """WITH clicks AS (
        |  SELECT event_id AS click_id, user_id, ts AS click_ts
        |  FROM events WHERE event_type = 'click'),
        |purchases AS (
        |  SELECT event_id AS purchase_id, user_id AS p_user,
        |    ts AS purchase_ts
        |  FROM events WHERE event_type = 'purchase'),
        |wm AS (
        |  SELECT least((SELECT max(ts) FROM events WHERE event_type = 'click'),
        |               (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
        |    AS wm0)
        |SELECT click_id, purchase_id,
        |  coalesce(user_id, p_user) AS user_id, click_ts, purchase_ts
        |FROM clicks FULL JOIN purchases
        |  ON user_id = p_user AND purchase_ts >= click_ts
        |  AND purchase_ts <= click_ts + INTERVAL 60 MINUTE, wm
        |WHERE (click_ts IS NOT NULL AND click_ts < wm0 - INTERVAL 120 MINUTE)
        |   OR (click_ts IS NULL AND purchase_ts < wm0 - INTERVAL 60 MINUTE)
        |ORDER BY click_id, purchase_id""".stripMargin,
    "stream_left_join" ->
      """SELECT a.event_id AS click_id, b.event_id AS purchase_id,
        |  a.user_id, a.ts AS click_ts, b.ts AS purchase_ts
        |FROM events a LEFT JOIN events b ON a.user_id = b.user_id
        |  AND b.event_type = 'purchase'
        |  AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 60 MINUTE
        |WHERE a.event_type = 'click'
        |  AND a.ts < least(
        |    (SELECT max(ts) FROM events WHERE event_type = 'click'),
        |    (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
        |    - INTERVAL 120 MINUTE
        |ORDER BY click_id, purchase_id""".stripMargin,
    // the chained join->window stream replayed batch-side, restricted
    // to windows whose end clears the post-join watermark margin
    // (wm0 - 1h delay - 60min join interval; see joinWindowGated)
    "stream_join_window" ->
      """WITH j AS (
        |  SELECT b.event_id AS purchase_id, a.user_id, b.ts AS purchase_ts
        |  FROM events a JOIN events b ON a.user_id = b.user_id
        |  WHERE a.event_type = 'click' AND b.event_type = 'purchase'
        |    AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 60 MINUTE),
        |wm AS (
        |  SELECT least((SELECT max(ts) FROM events WHERE event_type = 'click'),
        |               (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
        |    AS wm0)
        |SELECT time_bucket(INTERVAL '3 hours', purchase_ts) AS w_start,
        |  user_id % 5 AS cohort,
        |  count(*) AS n_attributed,
        |  CAST(sum(purchase_id) AS BIGINT) AS sum_purchase_id
        |FROM j, wm
        |WHERE time_bucket(INTERVAL '3 hours', purchase_ts) + INTERVAL 3 HOUR
        |      < wm0 - INTERVAL 120 MINUTE
        |GROUP BY 1, 2 ORDER BY w_start, cohort""".stripMargin,
    "dedup_stream" ->
      """SELECT DISTINCT user_id, event_type FROM events
        |ORDER BY user_id, event_type""".stripMargin,
    // the batch apply's oracle verbatim: stream ≡ batch is the gate
    "quality_filter_stream" -> graft.operators.TextAnalysis.qcFilterSql,
    "stream_enrich" ->
      """SELECT e.event_id, e.user_id, c.c_mktsegment AS segment,
        |  e.event_type, e.value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin,
    "running_totals_stream" ->
      """SELECT user_id, count(*) AS n_events,
        |  round(sum(value), 3) AS sum_value
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "user_max_stream" ->
      """SELECT user_id, round(max(value), 3) AS max_value,
        |  count(*) AS n_events
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    // identical contract to the batch change-log compaction
    "stream_upsert" -> graft.operators.ChangeOps.oracle("latest_events"),
    // the batch sessionize relation restricted to the watermark-final
    // zone: users whose LAST event closed before the final watermark
    // (max_ts − 30 min delay − 30 min gap − 1 s ms-truncation guard) —
    // exactly the users whose timer provably fired
    "tws_session_timers" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts, value,
        |    epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS gap_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |b AS (
        |  SELECT *, CASE WHEN gap_us IS NULL OR gap_us > 1800000000
        |    THEN 1 ELSE 0 END AS brk
        |  FROM g),
        |sess AS (
        |  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS session_id
        |  FROM b),
        |mx AS (SELECT max(epoch_us(ts)) AS m FROM events),
        |zone AS (
        |  SELECT user_id FROM events GROUP BY user_id
        |  HAVING max(epoch_us(ts)) <= (SELECT m FROM mx) - 3601000000)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  round(sum(value), 3) AS sum_value
        |FROM sess JOIN zone USING (user_id)
        |GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    // session_window semantics: new session at gap >= timeout (the
    // merge interval is half-open), session_end = last event + timeout
    "sessionize_stream" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts, value,
        |    epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS gap_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |b AS (
        |  SELECT *, CASE WHEN gap_us IS NULL OR gap_us >= 1800000000
        |    THEN 1 ELSE 0 END AS brk
        |  FROM g),
        |sess AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM b)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events, round(sum(value), 3) AS sum_value
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "sessionize" ->
      """WITH g AS (
        |  SELECT user_id, event_id, ts, value,
        |    epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS gap_us
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |b AS (
        |  SELECT *, CASE WHEN gap_us IS NULL OR gap_us > 1800000000
        |    THEN 1 ELSE 0 END AS brk
        |  FROM g),
        |sess AS (
        |  SELECT *, CAST(sum(brk) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM b)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  round(sum(value), 3) AS sum_value
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
  )
}
