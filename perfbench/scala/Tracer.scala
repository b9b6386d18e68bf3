package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced pass: public Spark listeners record jobs, stages, tasks,
  * SQL executions, Catalyst planning phases and streaming progress in
  * memory; [[report]] turns them into a span tree per query and sums
  * each layer's self time.
  *
  * Span tree of a query (deeper spans win the instants they cover):
  * query > build | write > streaming batch > job gap | sink commit >
  * plan phase > job > stage. A job lands in its query through the
  * `perfbench.query` local property (inherited by stream threads);
  * phases and batches through the query's time window.
  */
final class Tracer {
  import Tracer._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val tasks = new ConcurrentHashMap[Int, TaskAgg]()
  private val execs = new ConcurrentHashMap[Long, ExecRec]()
  private val phases = new ConcurrentLinkedQueue[PhaseRec]()
  private val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val lastEventMs = new AtomicLong(System.currentTimeMillis())

  private def touch(): Unit = lastEventMs.set(System.currentTimeMillis())

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      jobs.put(e.jobId, JobRec(e.jobId, e.time, -1L, e.stageIds,
        p.flatMap(x => Option(x.getProperty(QueryProperty))).getOrElse(""),
        p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)))
      touch()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(end = e.time)); touch()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val d = Option(e.taskInfo).map(_.duration).getOrElse(0L)
      tasks.merge(e.stageId, TaskAgg(1, d, d), (a, b) =>
        TaskAgg(a.n + b.n, a.sumMs + b.sumMs, math.max(a.maxMs, b.maxMs)))
      touch()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) stages.put(si.stageId, StageRec(si.stageId,
        si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L), si.numTasks,
        m.executorRunTime, m.executorCpuTime / 1000000L, m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten))
      touch()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        val plan = Option(s.physicalPlanDescription).getOrElse("")
        execs.put(s.executionId, ExecRec(s.executionId, s.time, -1L,
          WriteNodes.exists(n => plan.contains(n))))
        touch()
      case x: SparkListenerSQLExecutionEnd =>
        execs.computeIfPresent(x.executionId, (_, r) => r.copy(end = x.time)); touch()
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add(PhaseRec(name, p.startTimeMs, p.endTimeMs))
      }
      touch()
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      batches.add(BatchRec(start, start + d.getOrElse("triggerExecution", 0L), d,
        p.stateOperators.map(_.commitTimeMs).sum))
      touch()
    }
  }

  def attach(s: SparkSession): Unit = {
    s.sparkContext.addSparkListener(sparkListener)
    s.listenerManager.register(qeListener)
    s.streams.addListener(streamListener)
  }

  /** Waits (outside any timed span) until the asynchronous listener
    * buses have delivered every started job and SQL execution's end,
    * then unregisters. */
  def detach(s: SparkSession): Unit = {
    val deadline = System.currentTimeMillis() + 10000L
    def settled = jobs.values.asScala.forall(_.end >= 0) &&
      execs.values.asScala.forall(_.end >= 0) &&
      System.currentTimeMillis() - lastEventMs.get > 300
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(50)
    s.sparkContext.removeSparkListener(sparkListener)
    s.listenerManager.unregister(qeListener)
    s.streams.removeListener(streamListener)
  }

  def report(samples: Seq[PerfBench.Sample], passWallS: Double, cpus: Int): PassReport = {
    val sum = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    Layers.foreach(sum(_) = 0.0)
    def add(k: String, v: Double): Unit = sum(k) = sum(k) + v
    val spans = Seq.newBuilder[Span]
    val accounting = Seq.newBuilder[(String, Double, Double)]
    var skewMax, skewMean = 0.0
    val allJobs = jobs.values.asScala.toSeq
    val allPhases = phases.asScala.toSeq
    val allBatches = batches.asScala.toSeq
    samples.filter(_.error.isEmpty).foreach { q =>
      val tag = s"${q.pass}/${q.query}"
      val (q0, q1) = (q.startMs, math.max(q.endMs, q.startMs + 1))
      def within(a: Long, b: Long) = a >= q0 && a <= q1 && b <= q1 + 1
      val qJobs = allJobs.filter(j => j.query == tag && j.end >= 0)
      val qStages = qJobs.flatMap(_.stageIds).distinct.flatMap(id => Option(stages.get(id)))
      val qPhases = allPhases.filter(p => within(p.start, p.end))
      val qBatches = allBatches.filter(b => within(b.start, b.end))
      val qExecs = (qJobs.map(_.execId).filter(_ >= 0).distinct.flatMap(id => Option(execs.get(id))) ++
        execs.values.asScala.filter(e => within(e.start, e.end))).distinctBy(_.id)

      val sp = Seq.newBuilder[Span]
      sp += Span(tag, "query", q.query, q0, q1, 0)
      sp += Span(tag, "build", "operators", q0, q.buildEndMs, 1)
      sp += Span(tag, "write", "write", q.buildEndMs, q1, 1)
      qBatches.foreach(b => sp += Span(tag, "batch", "streaming", b.start, b.end, 2))
      val merged = qJobs.map(j => (j.start, j.end)).sorted.foldLeft(List.empty[(Long, Long)]) {
        case ((s0, e0) :: rest, (s1, e1)) if s1 <= e0 => (s0, math.max(e0, e1)) :: rest
        case (acc, iv) => iv :: acc
      }.reverse
      merged.sliding(2).foreach {
        case Seq((_, e0), (s1, _)) if s1 > e0 => sp += Span(tag, "job_gap", "scheduler", e0, s1, 3)
        case _ =>
      }
      qExecs.foreach { e =>
        val ej = qJobs.filter(_.execId == e.id)
        val wrote = ej.flatMap(_.stageIds).flatMap(id => Option(stages.get(id))).exists(_.outRecords > 0)
        if (ej.nonEmpty && e.end >= 0 && (e.isWrite || wrote))
          sp += Span(tag, "commit", "sinks", ej.map(_.end).max, e.end, 3)
      }
      qPhases.foreach(p => sp += Span(tag, "phase", s"plans.${p.name}", p.start, p.end, 4))
      qJobs.foreach(j => sp += Span(tag, "job", s"job ${j.id}", j.start, j.end, 5))
      qStages.foreach(s => sp += Span(tag, "stage", s"stage ${s.id}", s.submitted, s.completed, 6))
      val qSpans = sp.result().map(s => s.copy(start = s.start.max(q0).min(q1), end = s.end.max(q0).min(q1)))
        .filter(s => s.end > s.start || s.depth == 0)
      spans ++= qSpans

      val self = selfTimes(qSpans)
      def selfOf(kind: String, name: String = null) =
        self.collect { case ((k, n), v) if k == kind && (name == null || n == name) => v }.sum
      add("operators.build_ms", selfOf("build"))
      Seq("analysis", "optimization", "planning").foreach(ph =>
        add(s"plans.${ph}_ms", selfOf("phase", s"plans.$ph")))
      add("scheduler.jobs", qJobs.size)
      add("scheduler.stages", qStages.size)
      add("scheduler.tasks", qStages.map(_.numTasks).sum)
      add("scheduler.job_gap_ms", selfOf("job_gap"))
      add("scheduler.single_task_ms", qStages.filter(_.numTasks == 1).map(s => s.completed - s.submitted).sum)
      add("executor.task_run_ms", qStages.map(_.runMs).sum)
      add("executor.task_cpu_ms", qStages.map(_.cpuMs).sum)
      add("executor.gc_ms", q.gcMs)
      add("executor.spill_bytes", qStages.map(_.spillBytes).sum)
      qStages.filter(_.numTasks >= 2).foreach { s =>
        Option(tasks.get(s.id)).filter(_.n >= 2).foreach { t =>
          skewMax += t.maxMs; skewMean += t.sumMs.toDouble / t.n
        }
      }
      add("shuffle.rounds", qStages.count(_.shufWriteRecords > 0))
      add("shuffle.write_bytes", qStages.map(_.shufWriteBytes).sum)
      add("shuffle.read_bytes", qStages.map(_.shufReadBytes).sum)
      add("shuffle.fetch_wait_ms", qStages.map(_.fetchWaitMs).sum)
      add("sources.input_bytes", qStages.map(_.inBytes).sum)
      add("sources.input_records", qStages.map(_.inRecords).sum)
      add("sinks.output_bytes", qStages.map(_.outBytes).sum)
      add("sinks.commit_ms", selfOf("commit"))
      add("scratch.bytes_written", q.wcharBytes)
      add("streaming.batches", qBatches.size)
      Seq("addBatch", "queryPlanning", "walCommit", "commitOffsets").foreach(k =>
        add(s"streaming.${k}_ms", qBatches.map(_.durations.getOrElse(k, 0L)).sum))
      add("streaming.state_commit_ms", qBatches.map(_.stateCommitMs).sum)
      val unaccounted = selfOf("query") + selfOf("write")
      add("driver.unaccounted_ms", unaccounted)
      accounting += ((q.query, (q1 - q0).toDouble, unaccounted))
    }
    val acc = accounting.result()
    sum("executor.cpu_util") = sum("executor.task_cpu_ms") / (passWallS * 1000.0 * cpus)
    sum("executor.task_skew") = if (skewMean > 0) skewMax / skewMean else 1.0
    sum("trace.accounted_share") =
      if (acc.isEmpty) 0.0 else acc.count { case (_, w, u) => u < 0.1 * w }.toDouble / acc.size
    PassReport(sum.toMap, acc, spans.result())
  }
}

object Tracer {
  val QueryProperty = "perfbench.query"

  /** Physical plan roots that write a sink. */
  val WriteNodes = Seq("OverwriteByExpression", "AppendData", "OverwritePartitionsDynamic",
    "InsertIntoHadoopFsRelationCommand", "WriteFiles", "ReplaceData", "WriteDelta",
    "SaveIntoDataSourceCommand", "CreateDataSourceTableAsSelectCommand", "InsertIntoDataSourceCommand")

  /** Per-pass layer metrics, in report order. */
  val Layers: Seq[String] = Seq(
    "operators.build_ms",
    "plans.analysis_ms", "plans.optimization_ms", "plans.planning_ms",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks", "scheduler.job_gap_ms",
    "scheduler.single_task_ms",
    "executor.task_run_ms", "executor.task_cpu_ms", "executor.cpu_util", "executor.gc_ms",
    "executor.task_skew", "executor.spill_bytes",
    "shuffle.rounds", "shuffle.write_bytes", "shuffle.read_bytes", "shuffle.fetch_wait_ms",
    "sources.input_bytes", "sources.input_records",
    "sinks.output_bytes", "sinks.commit_ms", "scratch.bytes_written",
    "streaming.batches", "streaming.addBatch_ms", "streaming.queryPlanning_ms",
    "streaming.walCommit_ms", "streaming.commitOffsets_ms", "streaming.state_commit_ms",
    "driver.unaccounted_ms", "trace.accounted_share")

  final case class JobRec(id: Int, start: Long, end: Long, stageIds: Seq[Int], query: String, execId: Long)
  final case class StageRec(id: Int, submitted: Long, completed: Long, numTasks: Int, runMs: Long,
                            cpuMs: Long, spillBytes: Long, inBytes: Long, inRecords: Long,
                            outBytes: Long, outRecords: Long, shufReadBytes: Long, fetchWaitMs: Long,
                            shufWriteBytes: Long, shufWriteRecords: Long)
  final case class TaskAgg(n: Int, sumMs: Long, maxMs: Long)
  final case class ExecRec(id: Long, start: Long, end: Long, isWrite: Boolean)
  final case class PhaseRec(name: String, start: Long, end: Long)
  final case class BatchRec(start: Long, end: Long, durations: Map[String, Long], stateCommitMs: Long)
  final case class Span(trace: String, kind: String, name: String, start: Long, end: Long, depth: Int)

  final case class PassReport(layers: Map[String, Double], accounting: Seq[(String, Double, Double)],
                              spans: Seq[Span]) {
    import Json._
    def json: J = obj(
      "metrics" -> obj(Layers.map(k => k -> num(layers(k))): _*),
      "accounting" -> arr(accounting.map { case (q, w, u) =>
        obj("query" -> str(q), "wall_ms" -> num(w), "unaccounted_ms" -> num(u)) }),
      "spans" -> arr(spans.zipWithIndex.map { case (s, i) =>
        obj("id" -> num(i), "parent" -> parentOf(i).map(p => num(p)).getOrElse(Null),
          "trace" -> str(s.trace), "kind" -> str(s.kind), "name" -> str(s.name),
          "start_ms" -> num(s.start), "end_ms" -> num(s.end))
      }))
    /** Narrowest shallower span of the same query enclosing this one. */
    private def parentOf(i: Int): Option[Int] = {
      val s = spans(i)
      spans.indices.filter { j =>
        val p = spans(j)
        j != i && p.trace == s.trace && p.depth < s.depth && p.start <= s.start && p.end >= s.end
      }.sortBy(j => (-spans(j).depth, spans(j).end - spans(j).start)).headOption
    }
  }

  /** Milliseconds each (kind, name) owns when every instant goes to the
    * deepest span covering it (ties: the later-starting span). */
  def selfTimes(spans: Seq[Span]): Map[(String, String), Double] = {
    val cuts = spans.flatMap(s => Seq(s.start, s.end)).distinct.sorted
    val out = scala.collection.mutable.Map.empty[(String, String), Double].withDefaultValue(0.0)
    cuts.sliding(2).foreach {
      case Seq(a, b) if b > a =>
        val owner = spans.filter(s => s.start <= a && s.end >= b)
          .maxByOption(s => (s.depth, s.start))
        owner.foreach(s => out((s.kind, s.name)) += (b - a).toDouble)
      case _ =>
    }
    out.toMap
  }
}
