package graft

import org.apache.spark.scheduler._

/** Dev-only instrumentation main (never run by the driver): executes
  * ONE registered query under the bench's session shape and prints a
  * per-job / per-stage breakdown — job wall time, inter-job driver
  * gaps, task counts, executor run/CPU time, shuffle and scan bytes —
  * plus, for streaming queries, each micro-batch's durationMs map
  * (addBatch / getBatch / latestOffset / queryPlanning / walCommit /
  * commitOffsets). This is the §1 "measure first" harness the r19
  * round ran ad hoc; r20 commits it so per-phase claims in
  * OPTIMIZATION_r20.md are reproducible.
  *
  * Usage: tools/run.sh graft.QueryProbe <query> [sfDir] [passes]
  */
object QueryProbe {

  final case class StageRow(id: Int, tasks: Int, runMs: Long, cpuMs: Long,
                            shufReadB: Long, shufWriteB: Long, inputB: Long,
                            name: String)
  final case class JobRow(id: Int, start: Long, end: Long,
                          stages: Seq[Int], desc: String)

  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args.lift(1).getOrElse(GraftSession.sfDir)
    val passes = args.lift(2).map(_.toInt).getOrElse(2)
    val spark = GraftSession()
    GraftSession.warm(spark, sfDir)

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRow]()
    val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRow]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.put(j.jobId, JobRow(j.jobId, j.time, -1L, j.stageIds,
          Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("")))
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        val r = jobs.get(j.jobId)
        if (r != null) jobs.put(j.jobId, r.copy(end = j.time))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        if (m != null) stages.put(si.stageId, StageRow(si.stageId,
          si.numTasks, m.executorRunTime, m.executorCpuTime / 1000000,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
          si.name.takeWhile(_ != '\n').take(60)))
      }
    }
    // streaming micro-batch phase breakdown
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sl = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        progress.add(s"batch=${p.batchId} rows=${p.numInputRows} " +
          s"durationMs=${p.durationMs}")
      }
    }
    spark.streams.addListener(sl)
    val fn = SparkEntry.queries(name)
    (1 to passes).foreach { pass =>
      spark.catalog.clearCache()
      jobs.clear(); stages.clear(); progress.clear()
      val t0 = System.nanoTime()
      spark.sparkContext.addSparkListener(listener)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // let async listener events drain (listenerBus is private[spark])
      Thread.sleep(300)
      spark.sparkContext.removeSparkListener(listener)
      println(f"== $name pass $pass: $wall%.3f s, ${jobs.size} jobs, " +
        s"${stages.size} stages ==")
      import scala.jdk.CollectionConverters._
      val js = jobs.values.asScala.toSeq.sortBy(_.start)
      var prevEnd = 0L
      js.foreach { j =>
        val gap = if (prevEnd == 0) 0 else j.start - prevEnd
        prevEnd = math.max(prevEnd, j.end)
        val st = j.stages.flatMap(s => Option(stages.get(s)))
        val run = st.map(_.runMs).sum
        val cpu = st.map(_.cpuMs).sum
        val tasks = st.map(_.tasks).sum
        println(f"job ${j.id}%3d wall=${j.end - j.start}%5d ms gap=$gap%5d ms " +
          f"stages=${j.stages.size}%2d tasks=$tasks%4d taskRun=$run%6d ms " +
          f"taskCpu=$cpu%6d ms  ${j.desc.take(50)}")
        st.sortBy(_.id).foreach { s =>
          if (s.runMs > 0 || s.tasks > 0)
            println(f"    stage ${s.id}%4d tasks=${s.tasks}%4d " +
              f"run=${s.runMs}%6d cpu=${s.cpuMs}%6d " +
              f"shufR=${s.shufReadB / 1024}%8d KB shufW=${s.shufWriteB / 1024}%8d KB " +
              f"in=${s.inputB / 1024}%8d KB  ${s.name}")
        }
      }
      progress.asScala.foreach(p => println(s"  stream $p"))
    }
    spark.stop()
  }
}
