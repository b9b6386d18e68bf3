package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = GraftSession.sfDir
    val cpus = GraftSession.cpus
    val spark = GraftSession(cpus)
    GraftSession.warm(spark, sfDir)
    // noop sink forces full computation of every output column —
    // count() alone would let Catalyst prune the projections away.
    //
    // Timing = min over PASSES of the whole suite (not back-to-back
    // repeats of one query): one-time codegen/JIT costs land in pass 1,
    // and a transient external load burst on a shared host inflates a
    // query in at most one pass — its min recovers from a clean pass
    // minutes later, where back-to-back repeats would both be hit
    // (observed: a co-tenant burst turned ~1 s queries into ~90 s in
    // BOTH adjacent runs in round 1's driver bench).
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    // co-tenant load evidence: 1-min system load average sampled at
    // start and after each pass, recorded in the sidecar — a run whose
    // numbers land on a loaded host carries its own audit trail (the
    // r15 closing bench read ~10% high and the load condition had to
    // be inferred; now it's a field)
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    val loads = scala.collection.mutable.ArrayBuffer(
      osBean.getSystemLoadAverage)
    // HOST-SPEED CALIBRATION (round-18): loadavg only sees runnable
    // threads INSIDE this VM — host-level contention (CPU steal,
    // frequency) shows up as every query uniformly slower on an
    // "idle" box (observed: two identical boards 36% apart, loadavg
    // low in both). A fixed single-thread integer loop makes that
    // drift auditable: compare probe_ms across boards before
    // comparing totals. Min of 3, measured before pass 1 and after
    // the last pass.
    def probeLoop(): Unit = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 200000000) {
        x = x * 6364136223846793005L + 1442695040888963407L
        x ^= x >>> 33
        i += 1
      }
      if (x == 42L) System.err.println("") // defeat dead-code elim
    }
    def timeMs(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e6
    }
    def cpuProbeMs(): Double = (1 to 3).map(_ => timeMs(probeLoop())).min
    // parallel twin: the same loop on `cpus` threads at once. The
    // single-thread probe pins per-core latency; THIS one inflates
    // under host-level core steal / SMT contention — the dimension
    // that actually moves bench totals between "idle" boards.
    def cpuProbeMtMs(): Double = timeMs {
      val ts = (1 to cpus).map(_ => new Thread(() => probeLoop()))
      ts.foreach(_.start()); ts.foreach(_.join())
    }
    val probeBefore = cpuProbeMs()
    val probeMtBefore = cpuProbeMtMs()
    // SPARK_GRAFT_ONLY=q1,q2 — standalone re-measurement of specific
    // queries (the honest steady-state number on a loaded shared host
    // is the min over passes of a single query, not of the full suite)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
      .withDefaultValue(Nil)
    // a query that throws in ANY pass is a failure, never a time: its
    // elapsed-until-exception would otherwise read as a fast query
    // (how the jdbc pair hid for a round). Name -> exception class.
    val failed = scala.collection.mutable.TreeMap.empty[String, String]
    def runPass(label: String): Unit = {
      val t0 = System.nanoTime()
      names.foreach { case (name, fn) =>
        // per-query isolation: no query may serve from (or pay the
        // memory pressure of) a cache a previous query left behind —
        // caches built INSIDE a query are timed against it, and
        // stragglers are swept here so every entry starts cold.
        spark.catalog.clearCache()
        val q0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          times(name) = (System.nanoTime() - q0) / 1e9 :: times(name)
        } catch { case e: Throwable =>
          failed(name) = e.getClass.getName
          System.err.println(s"[bench] $name failed: ${e.getMessage}") }
      }
      loads += osBean.getSystemLoadAverage
      System.err.println(f"[bench] pass $label: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    (1 to passes).foreach(p => runPass(s"$p/$passes"))
    // co-tenant gate (round-18): when the host was loaded during any
    // pass (loadavg > cpus/4 — an otherwise-idle box running this
    // bench sits well under it), the per-query min may still carry
    // contention from every pass; ONE extra pass minutes later gives
    // the min a shot at a calmer window. This is what kept the r17
    // committed board (158 s, idle) and the driver re-run (186 s,
    // loadavg 13) from telling the same story. Skipped for quick
    // single-pass iteration runs.
    val loadGate = cpus.toDouble / 4.0
    val extraPasses = if (passes >= 3 && loads.max > loadGate) 1 else 0
    (1 to extraPasses).foreach(_ => runPass("extra (loadavg gate)"))
    val ok = names.filterNot { case (k, _) => failed.contains(k) }
    val best = ok.map { case (k, _) => k -> times(k).min }.toMap
    val total = best.values.sum
    def failedMap(kv: Iterable[(String, String)]): String =
      kv.map { case (k, c) => "\"" + k + "\":\"" + c + "\"" }.mkString("{", ",", "}")
    val queriesJson = ok.map { case (k, _) => "\"" + k + f"\":${best(k)}%.3f" }
      .mkString("{", ",", "}")
    // spread = max/min across passes, steady-state passes only (pass 1
    // pays plan codegen) — >2x flags a co-tenant-noisy measurement the
    // min cannot necessarily recover from
    val spreads = ok.map { case (k, _) =>
      val steady = times(k).dropRight(1) // times are prepended; last = pass 1
      val sp = if (steady.size >= 2) steady.max / steady.min else 1.0
      s"\"" + k + f"\":${sp}%.2f"
    }.mkString("{", ",", "}")
    // The consumer scrapes only the LAST ~2000 chars of stdout and
    // json-parses line by line, so the line must fit that window
    // ENTIRELY or every head-truncated entry is lost (round-5 bench
    // lost 7 queries this way). Full 3-decimal detail goes first; when
    // the full map cannot fit (the 288-query suite), the budget is
    // spent on the SLOWEST queries at 1-decimal precision, sorted
    // descending — the r19 ladder kept an alphabetical prefix at
    // INTEGER seconds, which quantized every kept entry to 0/1/2 s,
    // made sub-0.5 s queries read as dropped, and left the per-query
    // comparison blind exactly where the time goes (VERDICT r19 #1).
    // The omitted remainder is all fast queries; its count and summed
    // seconds ride along so the line still accounts for the total.
    // Full 3-decimal detail, spread, and raw pass times always go to
    // the sidecar file below.
    // Failed queries (name -> exception class) ride on the line too,
    // as many as fit in half the budget; the rest are counted in
    // "failed_omitted".
    val Budget = 1995 // window 2000 minus the trailing newline, minus slack
    val sfShort = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    val failedKept = {
      var used = 2
      failed.toSeq.takeWhile { case (k, c) =>
        used += k.length + c.length + 6; used <= Budget / 2 }
    }
    val failedPart = s""""failed":${failedMap(failedKept)},""" +
      (if (failedKept.size < failed.size)
        s""""failed_omitted":${failed.size - failedKept.size},""" else "")
    val fullLine = f"""{"metric":"total","value":$total%.2f,"unit":"sec","queries":$queriesJson,$failedPart"sf":"$sfDir"}"""
    val stdoutLine = if (fullLine.length <= Budget) fullLine else {
      // slowest-first fill: reserve worst-case digits for the omitted
      // count and a fixed-width omitted sum, then pack entries while
      // they fit (the first kept entry carries no comma — exact
      // accounting, no reliance on slack)
      val bySlowest = ok.map(_._1).sortBy(k => (-best(k), k))
      val entries = bySlowest.map { k =>
        "\"" + k + f"""\":${best(k)}%.1f""" }
      val omittedPad = "0" * entries.size.toString.length
      val sumPad = f"${total}%.1f".length
      val fixed = (f"""{"metric":"total","value":$total%.2f,"unit":"sec","queries":{},""" +
        failedPart + s""""omitted":$omittedPad,"omitted_sum_s":${"0" * sumPad},"sf":"$sfShort"}""").length
      val keep = scala.collection.mutable.ArrayBuffer.empty[String]
      var used = fixed
      var full = false // stop at the FIRST non-fit so kept = a strict
      entries.foreach { e => // slowest-prefix (take(size) below is exact)
        val sep = if (keep.isEmpty) 0 else 1
        if (!full && used + e.length + sep <= Budget) {
          keep += e; used += e.length + sep
        } else full = true
      }
      val keptSet = bySlowest.take(keep.size).toSet
      val omittedSum = ok.collect {
        case (k, _) if !keptSet.contains(k) => best(k) }.sum
      f"""{"metric":"total","value":$total%.2f,"unit":"sec","queries":${keep.mkString("{", ",", "}")},$failedPart"omitted":${entries.size - keep.size},"omitted_sum_s":$omittedSum%.1f,"sf":"$sfShort"}"""
    }
    val passTimes = ok.map { case (k, _) =>
      "\"" + k + "\":[" + times(k).reverse.map(t => f"$t%.3f").mkString(",") + "]"
    }.mkString("{", ",", "}")
    val loadArr = loads.map(l => f"$l%.2f").mkString("[", ",", "]")
    val probeAfter = cpuProbeMs()
    val probeMtAfter = cpuProbeMtMs()
    val sidecar = f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$queriesJson,"failed":${failedMap(failed)},"spread":$spreads,"pass_times":$passTimes,"passes":$passes,"extra_passes":$extraPasses,"cpus":"$cpus","loadavg":$loadArr,"probe_ms":[$probeBefore%.1f,$probeAfter%.1f],"probe_mt_ms":[$probeMtBefore%.1f,$probeMtAfter%.1f],"sf":"$sfDir"}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "/root/repo/BENCH_SELF.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (sidecar + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] sidecar write failed: ${e.getMessage}") }
    spark.stop()
    // printed AFTER spark.stop() so no shutdown logging can land
    // between the JSON line and EOF
    println(stdoutLine)
  }
}
