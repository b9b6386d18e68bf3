package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Closed-loop driver for one workload, one client thread.
  *
  * Runs the named `SparkEntry.queries` one after another on
  * `local[cpus]`: set-up (timed from JVM spawn), one cold pass,
  * [[WarmPasses]] JIT warm-up passes, measured passes until `--seconds`
  * have elapsed, then an
  * untimed verification pass that writes each query's output as parquet
  * for the DuckDB oracle compare done by `run.py`. With `--trace 1` the
  * measured passes alternate untraced and traced; traced passes register
  * the public Spark listeners (see [[Tracer]]) and report per-layer
  * self time.
  *
  * Everything goes to one JSON result file; the caller derives the
  * metrics. A query that throws is recorded as a failure with its
  * exception class and never as a time.
  */
object PerfBench {

  /** One more than the samples the tail percentile must have beyond it. */
  val TailSamples = 11

  /** JIT warm-up passes between the cold pass and the measured ones. */
  val WarmPasses = 2

  final case class Sample(pass: Int, query: String, startMs: Long, buildEndMs: Long,
                          endMs: Long, wallS: Double, buildS: Double, error: Option[String],
                          gcMs: Long, wcharBytes: Long)

  final case class Args(tables: String, queries: Seq[String], seconds: Double,
                        trace: Boolean, out: String, verifyOut: String, cpus: Int,
                        spawnMs: Long)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("tables"), m("queries").split(",").toSeq.filter(_.nonEmpty),
      m("seconds").toDouble, m("trace") == "1", m("out"), m("verify-out"),
      m("cpus").toInt,
      m.getOrElse("spawn-ms", System.currentTimeMillis().toString).toLong)
  }

  /** Bench's session shape: no ICU case mapping, UTC, shuffle
    * partitions = cores, no UI. */
  def newSession(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.icu.caseMappings.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Same warm-up as graft.Bench: engine, codegen and a parquet
    * footer, none of the workload's own plans. */
  def warm(s: SparkSession, tables: String): Unit = {
    s.range(1000000).selectExpr("sum(id)").collect()
    graft.Tables.lineitem(s, tables).limit(1).collect()
  }

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  }

  /** Bytes this process has passed to write(2); with the JVM's cwd,
    * tmpdir and every Spark/graft scratch root inside the run's
    * scratch directory, that is the scratch write volume. */
  def wchar(): Long =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/io")).toArray
        .map(_.toString).find(_.startsWith("wchar:"))
      line.map(_.split(":")(1).trim.toLong).getOrElse(0L)
    } catch { case NonFatal(_) => 0L }

  def vmHwmMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
        .map(_.toString).find(_.startsWith("VmHWM:"))
      line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    } catch { case NonFatal(_) => 0.0 }

  /** The integer loop of graft.Bench's host probe, run once on one
    * thread and once on `cpus` threads at the same time. */
  def cpuProbeMs(): Double = timeMs(probeLoop())

  def cpuProbeMtMs(cpus: Int): Double = timeMs {
    val ts = (1 to cpus).map(_ => new Thread(() => probeLoop()))
    ts.foreach(_.start()); ts.foreach(_.join())
  }

  private def probeLoop(): Unit = {
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 200000000) {
      x = x * 6364136223846793005L + 1442695040888963407L
      x ^= x >>> 33
      i += 1
    }
    if (x == 42L) System.err.println("")
  }

  private def timeMs(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = parse(argv)
    val loadBefore = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

    // set-up: JVM spawn to a warmed session
    val s = newSession(a.cpus)
    warm(s, a.tables)
    val setupS = (System.currentTimeMillis() - a.spawnMs) / 1e3

    val registry = graft.SparkEntry.queries ++ SelfTest.queries
    val fns = a.queries.map(q => q -> registry(q))

    def runQuery(pass: Int, name: String, fn: (SparkSession, String) => DataFrame): Sample = {
      // per-query isolation, as in graft.Bench
      s.catalog.clearCache()
      s.sparkContext.setLocalProperty(Tracer.QueryProperty, s"$pass/$name")
      val gc0 = gcMs(); val w0 = wchar()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var buildEndMs = startMs
      var buildS = 0.0
      val error =
        try {
          val df = fn(s, a.tables)
          buildEndMs = System.currentTimeMillis()
          buildS = (System.nanoTime() - t0) / 1e9
          df.write.format("noop").mode("overwrite").save()
          None
        } catch { case e: Throwable =>
          Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
        }
      val wallS = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      s.sparkContext.setLocalProperty(Tracer.QueryProperty, null)
      Sample(pass, name, startMs, buildEndMs, endMs, wallS, buildS, error,
        gcMs() - gc0, wchar() - w0)
    }

    final case class Pass(id: Int, kind: String, wallS: Double, samples: Seq[Sample],
                          layers: Option[Tracer.PassReport])

    def runPass(id: Int, kind: String, tracer: Option[Tracer]): Pass = {
      tracer.foreach(_.attach(s))
      val t0 = System.nanoTime()
      val samples = fns.map { case (n, f) => runQuery(id, n, f) }
      val wallS = (System.nanoTime() - t0) / 1e9
      val layers = tracer.map { t => t.detach(s); t.report(samples, wallS, a.cpus) }
      Pass(id, kind, wallS, samples, layers)
    }

    val passes = ArrayBuffer.empty[Pass]
    passes += runPass(0, "cold", None)
    // Warm-up is a pass count, not a time: JIT state follows invocation
    // counts, so a slower host must not get a less warmed measurement.
    // Measured passes: at least two, and enough for 11 query samples, so
    // a percentile with 10 samples beyond it exists (run.py). Traced runs alternate
    // untraced and traced measured passes and end on an untraced one,
    // so residual warming does not bias the tracing overhead.
    var id = 1
    while (id <= WarmPasses) { passes += runPass(id, "warm", None); id += 1 }
    val measure0 = System.nanoTime()
    def elapsed = (System.nanoTime() - measure0) / 1e9
    val minMeasured = math.max(if (a.trace) 3 else 2, (TailSamples + fns.size - 1) / fns.size)
    var m = 0
    while (m < minMeasured || elapsed < a.seconds || (a.trace && m % 2 == 0)) {
      val traced = a.trace && m % 2 == 1
      passes += runPass(id, if (traced) "traced" else "steady",
        if (traced) Some(new Tracer) else None)
      id += 1; m += 1
    }
    val measuredS = elapsed

    // untimed verification pass: each output to parquet for the oracle
    val verifyErrors = fns.flatMap { case (name, fn) =>
      s.catalog.clearCache()
      try {
        fn(s, a.tables).coalesce(1).write.mode("overwrite").parquet(s"${a.verifyOut}/$name")
        None
      } catch { case e: Throwable =>
        Some(name -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      }
    }.toMap

    val probeMs = cpuProbeMs()
    val probeMtMs = cpuProbeMtMs(a.cpus)
    val loadAfter = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    val rssMb = vmHwmMb()
    val maxHeapMb = Runtime.getRuntime.maxMemory / 1048576.0

    import Json._
    val oracle = graft.SparkEntry.oracleSql ++ SelfTest.oracle
    val result = obj(
      "setup_s" -> num(setupS),
      "measured_s" -> num(measuredS),
      "peak_rss_mb" -> num(rssMb),
      "host" -> obj(
        "cpus" -> num(a.cpus),
        "java_version" -> str(System.getProperty("java.version")),
        "max_heap_mb" -> num(maxHeapMb),
        "loadavg_before" -> num(loadBefore),
        "loadavg_after" -> num(loadAfter),
        "probe_ms" -> num(probeMs),
        "probe_mt_ms" -> num(probeMtMs)),
      "passes" -> arr(passes.toSeq.map { p =>
        obj("id" -> num(p.id), "kind" -> str(p.kind), "wall_s" -> num(p.wallS),
          "queries" -> arr(p.samples.map { q =>
            obj("query" -> str(q.query), "wall_s" -> num(q.wallS), "build_s" -> num(q.buildS),
              "gc_ms" -> num(q.gcMs), "wchar_bytes" -> num(q.wcharBytes),
              "error" -> q.error.map(str).getOrElse(Null))
          }),
          "layers" -> p.layers.map(_.json).getOrElse(Null))
      }),
      "verify_errors" -> obj(verifyErrors.toSeq.map { case (k, v) => k -> str(v) }: _*),
      "oracle_sql" -> obj(a.queries.flatMap(q => oracle.get(q).map(q -> str(_))): _*))
    Files.writeString(Paths.get(a.out), result.render)
    s.stop()
  }
}

/** Queries that exist only to prove the failure accounting: one throws,
  * one returns a result its oracle disagrees with, one is correct. */
object SelfTest {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "selftest_ok" -> ((s, d) => graft.Tables.nation(s, d).selectExpr("count(*) AS n")),
    "selftest_wrong" -> ((s, d) => graft.Tables.nation(s, d).selectExpr("count(*) + 1 AS n")),
    "selftest_throw" -> ((_, _) => throw new IllegalStateException("deliberate failure")))
  val oracle: Map[String, String] = Map(
    "selftest_ok" -> "SELECT count(*) AS n FROM nation",
    "selftest_wrong" -> "SELECT count(*) AS n FROM nation",
    "selftest_throw" -> "SELECT count(*) AS n FROM nation")
}

/** Minimal JSON writer (no dependency beyond the Scala library). */
object Json {
  sealed trait J { def render: String }
  case object Null extends J { def render = "null" }
  final case class Str(v: String) extends J {
    def render: String = v.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")
  }
  final case class Num(v: Double) extends J {
    def render: String =
      if (v.isNaN || v.isInfinite) "null"
      else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
      else v.toString
  }
  final case class Arr(vs: Seq[J]) extends J { def render = vs.map(_.render).mkString("[", ",", "]") }
  final case class Obj(kv: Seq[(String, J)]) extends J {
    def render = kv.map { case (k, v) => Str(k).render + ":" + v.render }.mkString("{", ",", "}")
  }
  def str(s: String): J = Str(s)
  def num(d: Double): J = Num(d)
  def arr(vs: Seq[J]): J = Arr(vs)
  def obj(kv: (String, J)*): J = Obj(kv)
}
