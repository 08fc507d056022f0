#!/usr/bin/env python3
"""Fraud-pipeline benchmark for the graft engine.

Usage: python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Workloads (see perfbench/README.md):
  stream_trickle  graftlog -> TransactionPipeline -> graftlog sink, fed live
                  by an open-loop producer at 1,000 records/s
  stream_backlog  the same query draining a pre-filled backlog with
                  maxRecordsPerTrigger = 200,000
Each traced run also breaks hot batch queries into layers and checks their
results against DuckDB oracles.

Builds the engine and the harness from source on first use (sbt, into
.bench_build/), runs the workload in one JVM on local[nproc], checks its
outputs, and prints one JSON object as the last line of stdout. With
--trace 0 it reports the end-to-end metrics, with --trace 1 the per-layer
metrics. Details, host stamps and reconciliation residuals go to stderr
and to .bench_build/runs/.
"""
import argparse
import json
import os
import resource
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
ENGINE = ROOT / "src" / "main"
CLASSPATH = BUILD / "sbt" / "classpath.txt"

sys.dont_write_bytecode = True  # leave no .pyc next to the sources
sys.path.insert(0, str(HERE))
import stats  # noqa: E402

WORKLOADS = ("stream_trickle", "stream_backlog")
HEAP = "2g"
JVM_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850
# a stream run whose producer ran later than this (p99) is invalid
LATE_LIMIT_MS = 100.0
# Spark on JDK 17 outside spark-submit needs these (as in the engine build)
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]

END_TO_END = {
    "latency_p50_ms": "ms", "latency_p99_ms": "ms",
    "throughput_rows_per_s": "rows/s", "setup_s": "s", "rss_peak_mb": "MB",
}
STREAM_LAYERS = {
    "log.latest_offset_ms": "ms",
    "log.input_segments": "count", "log.output_segments": "count",
    "log.backlog_rows_max": "rows", "log.read_us_per_row": "us",
    "log.sink_us_per_row": "us",
    "microbatch.trigger_ms": "ms", "microbatch.query_planning_ms": "ms",
    "microbatch.wal_commit_ms": "ms", "microbatch.commit_offsets_ms": "ms",
    "microbatch.add_batch_ms": "ms", "microbatch.rows_per_trigger": "rows",
    "pipeline.decode_us_per_row": "us", "pipeline.enrich_us_per_row": "us",
    "ml.score_us_per_row": "us", "pipeline.decide_us_per_row": "us",
    "pipeline.enrich_fixed_ms": "ms",
    "exec.jobs_per_trigger": "count", "exec.tasks_per_trigger": "count",
    "exec.task_run_ms": "ms", "exec.task_cpu_ms": "ms", "exec.gc_ms": "ms",
    "exec.speedup_vs_1core": "x",
}
BATCH_LAYERS = {
    "batch.build_s": "s", "batch.plan_s": "s", "batch.exec_s": "s",
    "batch.jobs": "count", "batch.tasks": "count", "batch.task_run_s": "s",
    "batch.task_cpu_s": "s", "batch.shuffle_bytes": "bytes",
    "batch.spill_bytes": "bytes", "batch.driver_gap_s": "s",
}
BATCH_QUERIES = ("q_ann_residual_rerank", "q_dedup_minhash", "q_dedup_clusters",
                 "q_funnel", "q_fraud_scoring")
PER_LAYER = {**STREAM_LAYERS, **BATCH_LAYERS,
             **{f"{q}.{m}": u for q in BATCH_QUERIES for m, u in (("wall_s", "s"), ("jobs", "count"))}}
# trigger phases that make up a trigger's wall time
PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")
# how far each layer reconciliation may miss the whole it should add up to
TOLERANCE = {"residual_phases_vs_trigger": 0.05, "residual_prefix_vs_full_pipeline": 0.10,
             "residual_build_plan_exec_vs_wall": 0.05}


def say(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    say(f"ERROR: {msg}")
    sys.exit(code)


# ---- build ------------------------------------------------------------------

def newest_source_mtime():
    roots = (ENGINE, HERE / "src", HERE / "build.sbt", HERE / "project" / "build.properties")
    return max(p.stat().st_mtime for r in roots for p in ([r] if r.is_file() else r.rglob("*"))
               if p.is_file())


def classpath():
    if not (ENGINE / "scala" / "graft").is_dir():
        fail(f"engine sources not found under {ENGINE}; run from a full checkout")
    if not CLASSPATH.exists() or CLASSPATH.stat().st_mtime < newest_source_mtime():
        say("building engine + harness with sbt (first run only)")
        env = dict(os.environ, COURSIER_MODE="offline")
        env.setdefault("SBT_OPTS", " ".join((
            "-Dsbt.override.build.repos=true",
            f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'}",
            "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g")))
        BUILD.mkdir(exist_ok=True)
        with open(BUILD / "build.log", "w") as log:
            try:
                r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                   cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                                   timeout=BUILD_TIMEOUT_S)
            except (OSError, subprocess.TimeoutExpired) as e:
                fail(f"build did not finish: {e}")
        if r.returncode != 0 or not CLASSPATH.exists():
            fail(f"build failed (rc={r.returncode}); see {BUILD / 'build.log'}")
    return CLASSPATH.read_text().strip()


# ---- host stamp ---------------------------------------------------------------

def host_sample():
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    own = resource.getrusage(resource.RUSAGE_SELF)
    return {"t": time.monotonic(), "busy": sum(cpu) - cpu[3] - cpu[4], "steal": cpu[7],
            "load": load, "own_cpu": own.ru_utime + own.ru_stime}


def meminfo_gb(key):
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return round(int(line.split()[1]) / 2**20, 2)
    return -1.0


def host_stamp(before, after, jvm_cpu_s, nproc):
    elapsed = after["t"] - before["t"]
    tick = os.sysconf("SC_CLK_TCK")
    busy_s = (after["busy"] - before["busy"]) / tick
    foreign = busy_s - jvm_cpu_s - (after["own_cpu"] - before["own_cpu"])
    return {"nproc": nproc, "mem_total_gb": meminfo_gb("MemTotal"),
            "mem_available_gb": meminfo_gb("MemAvailable"),
            "load_start": before["load"], "load_end": after["load"],
            "foreign_cpu_cores": round(max(0.0, foreign) / elapsed, 3),
            "steal_cores": round((after["steal"] - before["steal"]) / tick / elapsed, 3),
            "jvm_cpu_s": round(jvm_cpu_s, 2), "elapsed_s": round(elapsed, 2)}


# ---- one JVM run ---------------------------------------------------------------

def run_jvm(cp, args, work):
    """Run perfbench.Main; return (raw record, peak RSS MiB, JVM CPU s)."""
    out = work / "record.json"
    cmd = ["java", *ADD_OPENS, "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, "perfbench.Main",
           *args, "--work", str(work), "--out", str(out)]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr)
    timer = threading.Timer(JVM_TIMEOUT_S, proc.kill)
    timer.start()
    try:
        _, status, usage = os.wait4(proc.pid, 0)
    finally:
        timer.cancel()
    proc.returncode = os.waitstatus_to_exitcode(status)
    if proc.returncode != 0 or not out.exists():
        fail(f"workload JVM exited with {proc.returncode}", code=3)
    return json.loads(out.read_text()), usage.ru_maxrss / 1024.0, usage.ru_utime + usage.ru_stime


# ---- metrics -------------------------------------------------------------------

def end_to_end(wl, r, rss_mb):
    if wl == "stream_trickle":
        # median over the window's seconds of each second's percentiles, so
        # one stalled trigger moves one second's figures, not the run's
        secs = [[(x, 1) for x in s] for s in r["latency_ms_by_second"]]
        tails = [stats.tail(s) for s in secs]
        p50 = stats.median([stats.weighted_median(s) for s in secs])
        p99 = stats.median([t[0] for t in tails])
        pct, n = min(t[1] for t in tails), min(t[2] for t in tails)
        say(f"latency per second of the window: {len(secs)} seconds, at least {n} samples each; "
            f"tail reported at p{100 * pct:.2f}")
        throughput = sum(len(s) for s in secs) / r["wall_s"]
    else:
        lat = [tuple(x) for x in r["latency_ms_weighted"]]
        p99, pct, n = stats.tail(lat)
        say(f"latency samples n={n}; tail reported at p{100 * pct:.2f}")
        p50 = stats.weighted_median(lat)
        throughput = r["throughput_rows_per_s"]
    return {"latency_p50_ms": p50, "latency_p99_ms": p99,
            "throughput_rows_per_s": throughput, "setup_s": r["setup_s"], "rss_peak_mb": rss_mb}


def stream_layers(r, m, notes):
    trig = r["triggers"]
    dur = lambda k: stats.median([t["duration_ms"].get(k, 0) for t in trig])
    ex = lambda k: stats.median([t["exec"][k] for t in trig])
    mean = lambda xs: sum(xs) / len(xs)
    m.update({
        # means where most triggers read 0 ms (sub-millisecond listing, no GC)
        "log.latest_offset_ms": mean([t["duration_ms"].get("latestOffset", 0) for t in trig]),
        "log.input_segments": r["input_segments"], "log.output_segments": r["output_segments"],
        "log.backlog_rows_max": max(t["backlog_rows"] for t in trig),
        "microbatch.trigger_ms": dur("triggerExecution"),
        "microbatch.query_planning_ms": dur("queryPlanning"),
        "microbatch.wal_commit_ms": dur("walCommit"),
        "microbatch.commit_offsets_ms": dur("commitOffsets"),
        "microbatch.add_batch_ms": dur("addBatch"),
        "microbatch.rows_per_trigger": stats.median([t["rows"] for t in trig]),
        "exec.jobs_per_trigger": ex("jobs"), "exec.tasks_per_trigger": ex("tasks"),
        "exec.task_run_ms": ex("run_ms"), "exec.task_cpu_ms": ex("cpu_ms"),
        "exec.gc_ms": mean([t["exec"]["gc_ms"] for t in trig]),
    })
    notes["triggers"] = len(trig)
    notes["residual_phases_vs_trigger"] = stats.residual(
        sum(dur(k) for k in PHASES), m["microbatch.trigger_ms"])
    pre = r["prefix"]
    s, rows = pre["seconds"], pre["rows"]
    per_row = lambda a, b: (s[b] - (s[a] if a >= 0 else 0.0)) / rows * 1e6
    m.update({
        "log.read_us_per_row": per_row(-1, 0), "pipeline.decode_us_per_row": per_row(0, 1),
        "pipeline.enrich_us_per_row": per_row(1, 2), "ml.score_us_per_row": per_row(2, 3),
        "pipeline.decide_us_per_row": per_row(3, 4), "log.sink_us_per_row": per_row(4, 5),
    })
    notes["prefix_rows"] = rows
    notes["residual_prefix_vs_full_pipeline"] = stats.residual(s[5], pre["full_seconds"])
    small = r["prefix_small"]["seconds"]
    m["pipeline.enrich_fixed_ms"] = (small[2] - small[1]) * 1000.0
    one = r["one_core"]
    m["exec.speedup_vs_1core"] = (rows / pre["full_seconds"]) / (one["rows"] / one["full_seconds"])


def batch_layers(b, m, notes):
    per_pass, residuals, walls = [], [], {}
    for p in b["passes"]:
        qs = p["queries"]
        tot = lambda k: sum(q[k] for q in qs)
        gap_ms = sum(stats.driver_gap(*q["exec_window_ms"], q["exec_job_spans_ms"]) for q in qs)
        per_pass.append({
            "batch.build_s": tot("build_s"), "batch.plan_s": tot("plan_s"),
            "batch.exec_s": tot("exec_s"), "batch.jobs": tot("jobs"), "batch.tasks": tot("tasks"),
            "batch.task_run_s": tot("task_run_ms") / 1000.0,
            "batch.task_cpu_s": tot("task_cpu_ms") / 1000.0,
            "batch.shuffle_bytes": tot("shuffle_bytes"), "batch.spill_bytes": tot("spill_bytes"),
            "batch.driver_gap_s": gap_ms / 1000.0})
        residuals.append(stats.residual(tot("build_s") + tot("plan_s") + tot("exec_s"), p["wall_s"]))
        for q in qs:
            walls.setdefault(q["query"], []).append((q["build_s"] + q["plan_s"] + q["exec_s"], q["jobs"]))
    for k in BATCH_LAYERS:
        m[k] = stats.median([pp[k] for pp in per_pass])
    for q, xs in walls.items():
        m[f"{q}.wall_s"] = stats.median([w for w, _ in xs])
        m[f"{q}.jobs"] = stats.median([j for _, j in xs])
    notes["batch_passes"] = len(per_pass)
    notes["residual_build_plan_exec_vs_wall"] = stats.median(residuals)


# ---- main ------------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = classpath()
    nproc = len(os.sched_getaffinity(0))
    work = BUILD / "work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    try:
        jvm_args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--cores", str(nproc)]
        if a.trace:
            import gen_tables
            data = work / "data"
            data.mkdir()
            gen_tables.generate(data, a.seed)
            jvm_args += ["--data", str(data)]
        before = host_sample()
        record, rss_mb, jvm_cpu = run_jvm(cp, jvm_args, work)
        host = host_stamp(before, host_sample(), jvm_cpu, nproc)

        failed, attempted = record["checks"]["failed"], record["attempted"]
        notes = {"checks": record["checks"]}
        late = stats.tail([(x, 1) for x in record.get("producer_late_ms", [])])[0]
        notes["gen.late_p99_ms"] = late
        for k in ("warm_triggers", "warm_traffic_s"):
            if k in record:
                notes[k] = record[k]
        valid = late <= LATE_LIMIT_MS
        if not valid:
            say(f"INVALID: producer fell behind schedule (late p99 {late:.1f} ms)")
        if a.trace:
            metrics = {}
            stream_layers(record, metrics, notes)
            units = PER_LAYER
        else:
            metrics = end_to_end(a.workload, record, rss_mb)
            units = END_TO_END
        if a.trace:
            import oracle
            b = record["batch"]
            diffs = oracle.check(data, b["oracle_dir"], work / "tmp")
            bad = sorted(q for q, d in diffs.items() if d)
            for q in bad:
                say(f"oracle mismatch {q}: {'; '.join(diffs[q][:3])}")
            failed += len(b["failed_queries"]) + len(bad)
            attempted += b["attempted"]
            notes["oracle"] = {"checked": len(diffs), "mismatched": bad}
            batch_layers(b, metrics, notes)
        notes["error_rate"] = failed / attempted
        for k, tol in TOLERANCE.items():
            if k in notes:
                ok = "within" if abs(notes[k]) <= tol else "OUTSIDE"
                say(f"{k} = {notes[k]:+.2%} ({ok} the {tol:.0%} tolerance)")
        summary = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
                   "valid": valid, "host": host, "notes": notes, "metrics": metrics}
        say(json.dumps(summary, sort_keys=True))
        runs = BUILD / "runs"
        runs.mkdir(exist_ok=True)
        untraced = runs / f"{a.workload}-seed{a.seed}-trace0.json"
        if a.trace and untraced.exists():
            e2e = end_to_end(a.workload, record, rss_mb)
            base = json.loads(untraced.read_text())["metrics"]
            say("tracing overhead vs the untraced run of this seed: " + ", ".join(
                f"{k} {stats.residual(e2e[k], base[k]):+.1%}" for k in END_TO_END))
        (runs / f"{a.workload}-seed{a.seed}-trace{a.trace}.json").write_text(
            json.dumps({**summary, "record": record}))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({
        "correct": failed == 0 and valid, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()}}))


if __name__ == "__main__":
    main()
