#!/usr/bin/env python3
"""Benchmark of the graft Spark engine: one command, three workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run from the repository root. Each run builds the engine from source if
needed (perfbench/build.sh), generates its input tables from the seed,
starts one JVM that runs the workload's queries as a closed loop with one
client (perfbench/scala/PerfBench.scala), checks every query's output
against its DuckDB oracle, and prints one JSON object as the last stdout
line. `--trace 0` reports the end-to-end metrics, `--trace 1` the
per-layer metrics of the traced passes. Workloads, inputs and the layer
table are documented in perfbench/WORKLOADS.md.

All files of a run live under .bench_run/ (removed at the end) and the
build under .bench_build/; a detail record of each run goes to
.bench_out/. Exits non-zero, without a result line, when the engine
sources are missing or the run cannot complete; exits 1 after printing
the result when any query threw or mismatched its oracle.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402

BUILD_DIR = ".bench_build"
RUN_ROOT = ".bench_run"
OUT_DIR = ".bench_out"
JVM_TIMEOUT_S = 150
BUILD_TIMEOUT_S = 600
HEAP = "2g"

# Star schema and events sized like the shipped sf0.01 directory.
SMALL = dict(scale=0.01, docs=500, doc_files=1, vocab=2000, doc_words=50)

WORKLOADS = {
    "text_mr": dict(
        data=dict(scale=0.01, docs=2000, doc_files=8, vocab=20000, doc_words=60),
        queries=["wordcount_mr", "inverted_index_mr", "run_mapred_file", "wordcount",
                 "wordcount_salted"]),
    "sql_floor": dict(
        data=SMALL,
        queries=["hll_daily_merge", "q11_important_parts", "pivot_lineitem", "json_map_funcs",
                 "join_full_outer"]),
    "stream_drain": dict(
        data=SMALL,
        queries=["events_window_stream", "dsv2_stream_write", "stream_upsert"]),
}

JAVA_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


def build():
    """Compiles engine + driver (perfbench/build.sh), skipped when current;
    returns the jar."""
    if not os.path.isdir("src/main/scala"):
        raise SystemExit("perfbench: src/main/scala not found; run from the repository root")
    t0 = time.time()
    rc = run_group(["bash", os.path.join(HERE, "build.sh"), BUILD_DIR], BUILD_TIMEOUT_S,
                   stdout=sys.stderr, stderr=sys.stderr)
    if rc != 0:
        raise SystemExit(f"perfbench: build failed ({rc})")
    log(f"build ready in {time.time() - t0:.1f} s")
    return os.path.abspath(os.path.join(BUILD_DIR, "bench.jar"))


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group and returns its exit code; the
    whole group is killed on timeout, interrupt or SIGTERM."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def tree_mb(root):
    """Bytes under root (apparent sizes, directory entries included)."""
    total = 0
    for dirpath, dirnames, filenames in os.walk(root):
        for n in [dirpath] + [os.path.join(dirpath, f) for f in filenames]:
            try:
                total += os.lstat(n).st_size
            except OSError:
                pass
    return total / 1048576.0


def run_jvm(jar, run_dir, tables, queries, seconds, trace):
    """Runs the driver JVM with cwd, tmpdir and every scratch root inside
    run_dir/scratch (killing its process group on timeout or interrupt);
    returns its result and the directory of its verification outputs."""
    scratch = os.path.join(run_dir, "scratch")
    for d in ("tmp", "spark-local", "graft"):
        os.makedirs(os.path.join(scratch, d), exist_ok=True)
    env = dict(os.environ,
               SPARK_GRAFT_SCRATCH=os.path.join(scratch, "graft"),
               SPARK_LOCAL_DIRS=os.path.join(scratch, "spark-local"),
               TZ="UTC")
    cmd = (["java", f"-Xmx{HEAP}", "-Xmn1g", "-XX:+UseG1GC"] + JAVA_OPTS +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Duser.timezone=UTC", f"-Djava.io.tmpdir={os.path.join(scratch, 'tmp')}",
            "-cp", f"{jar}:/opt/spark/jars/*", "perfbench.PerfBench",
            "--tables", tables, "--queries", ",".join(queries),
            "--seconds", str(seconds), "--trace", "1" if trace else "0",
            "--out", os.path.join(run_dir, "result.json"),
            "--verify-out", os.path.join(run_dir, "verify"), "--cpus", str(cpus()),
            "--spawn-ms", str(int(time.time() * 1000))])
    logf = os.path.join(run_dir, "jvm.log")
    with open(logf, "wb") as jlog:
        rc = run_group(cmd, JVM_TIMEOUT_S, cwd=scratch, env=env, stdout=jlog, stderr=jlog)
    if rc != 0:
        with open(logf, errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit(f"perfbench: JVM exited with {rc}")
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)
    res["scratch_left_mb"] = tree_mb(scratch)
    return res, os.path.join(run_dir, "verify")


def tail_latency(samples):
    """Highest percentile with at least 10 samples beyond it."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, 0
    return xs[n - 11], 100.0 * (n - 10) / n, 10


def check_outputs(res, verify, tables, queries):
    """query -> failure reason, for every query that threw or mismatched."""
    failures = {}
    for p in res["passes"]:
        for q in p["queries"]:
            if q["error"] and q["query"] not in failures:
                failures[q["query"]] = f"threw in {p['kind']} pass: {q['error']}"
    for name, err in res["verify_errors"].items():
        failures.setdefault(name, f"threw in verification pass: {err}")
    con = oracle.connect(tables)
    for name in queries:
        if name in failures:
            continue
        reason = oracle.compare(con, verify, name, res["oracle_sql"].get(name))
        if reason:
            failures[name] = reason
    con.close()
    return failures


def metrics_of(res, failures, trace):
    """Metric name -> value; names and units are those of BENCHMARK.json."""
    passes = res["passes"]
    steady = [p for p in passes if p["kind"] == "steady"]
    if trace:
        traced = [p for p in passes if p["kind"] == "traced"]
        m = {k: statistics.median(p["layers"]["metrics"][k] for p in traced)
             for k in traced[0]["layers"]["metrics"]}
        m["trace.overhead_s"] = (statistics.median(p["wall_s"] for p in traced)
                                 - statistics.median(p["wall_s"] for p in steady))
        return m
    lat = [q["wall_s"] for p in steady for q in p["queries"]
           if q["error"] is None and q["query"] not in failures]
    tail, pct, beyond = tail_latency(lat) if lat else (0.0, 0.0, 0)
    res["tail"] = {"percentile": pct, "samples": len(lat), "beyond": beyond}
    return {
        "setup_s": res["setup_s"],
        "cold_wall_s": passes[0]["wall_s"],
        "wall_s": statistics.median(p["wall_s"] for p in steady),
        "query_p50_s": statistics.median(lat) if lat else 0.0,
        "query_tail_s": tail,
        "peak_rss_mb": res["peak_rss_mb"],
        "scratch_left_mb": res["scratch_left_mb"],
    }


def units():
    with open("BENCHMARK.json") as f:
        b = json.load(f)
    return {m["name"]: m["unit"] for m in b["end_to_end"] + b["per_layer"]}


def run(workload, seed, seconds, trace, queries=None, data=None):
    """One benchmark run; returns (result line dict, detail record)."""
    queries = queries or WORKLOADS[workload]["queries"]
    data = data or WORKLOADS[workload]["data"]
    jar = build()
    os.makedirs(RUN_ROOT, exist_ok=True)
    run_dir = os.path.abspath(os.path.join(
        RUN_ROOT, f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}"))
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        tables = os.path.join(run_dir, "tables")
        t0 = time.time()
        corpus = datagen.generate(tables, seed, **data)
        log(f"inputs generated in {time.time() - t0:.1f} s: {corpus}")
        load0 = os.getloadavg()[0]
        res, verify = run_jvm(jar, run_dir, tables, queries, seconds, trace)
        failures = check_outputs(res, verify, tables, queries)
        metrics = metrics_of(res, failures, trace)
        host = dict(res["host"], nproc=cpus(), xmx=HEAP, seed=seed,
                    loadavg_start=load0, loadavg_end=os.getloadavg()[0], corpus=corpus,
                    inputs=dict(generator="perfbench/datagen.py", **data))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    attempted = len(queries)
    unit = units() if workload in WORKLOADS else dict.fromkeys(metrics, "")
    line = {"correct": not failures, "attempted": attempted, "failed": len(failures),
            "metrics": {k: {"value": v, "unit": unit[k]} for k, v in metrics.items()}}
    detail = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
              "queries": queries, "host": host, "failures": failures,
              "failed_share": len(failures) / attempted,
              "setup_s": res["setup_s"], "measured_s": res["measured_s"],
              "tail": res.get("tail"), "passes": res["passes"], "result": line}
    return line, detail


def report(line, detail):
    """Human-readable lines, then the result line last on stdout."""
    h = detail["host"]
    print(f"workload={detail['workload']} seed={detail['seed']} trace={int(detail['trace'])} "
          f"queries={len(detail['queries'])} failed_share={detail['failed_share']:.4f} ratio")
    for name, reason in sorted(detail["failures"].items()):
        print(f"FAILED {name}: {reason}")
    print(f"host nproc={h['nproc']} java={h['java_version']} xmx={h['xmx']} "
          f"loadavg={h['loadavg_start']:.2f}->{h['loadavg_end']:.2f} "
          f"probe_ms={h['probe_ms']:.1f} probe_mt_ms={h['probe_mt_ms']:.1f} "
          f"corpus_docs={h['corpus']['docs']} corpus_bytes={h['corpus']['bytes']} "
          f"corpus_distinct_words={h['corpus']['distinct_words']}")
    if detail["tail"]:
        t = detail["tail"]
        print(f"query_tail_s is p{t['percentile']:.1f} of {t['samples']} samples "
              f"({t['beyond']} beyond)")
    for k, v in line["metrics"].items():
        print(f"{k} = {v['value']:.6g} {v['unit']}")
    os.makedirs(OUT_DIR, exist_ok=True)
    name = f"{detail['workload']}_seed{detail['seed']}_trace{int(detail['trace'])}.json"
    with open(os.path.join(OUT_DIR, name), "w") as f:
        json.dump(detail, f)
    print(json.dumps(line), flush=True)


def self_test():
    """A throwing query and a wrong result must both count as failed."""
    line, detail = run("selftest", 1, 0, False,
                       queries=["selftest_ok", "selftest_wrong", "selftest_throw"], data=SMALL)
    f = detail["failures"]
    ok = (line["attempted"] == 3 and line["failed"] == 2 and not line["correct"]
          and "MISMATCH" in f.get("selftest_wrong", "") and "deliberate" in f.get("selftest_throw", "")
          and "selftest_ok" not in f)
    print(json.dumps({"self_test": "pass" if ok else "fail", "failures": f}))
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    # SIGTERM unwinds like an interrupt, so child process groups are killed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if a.self_test:
        return self_test()
    if not a.workload:
        ap.error("--workload is required")
    line, detail = run(a.workload, a.seed, a.seconds, bool(a.trace))
    report(line, detail)
    return 0 if line["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
