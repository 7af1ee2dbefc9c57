#!/usr/bin/env python3
"""Repository benchmark: registry workloads at local[4] over a generated sf0.1 tier.

    python3 perfbench/run.py --workload olap_small --seed 1 --seconds 13 --trace 0

Run from the root of a checkout. The first run builds the engine and the
harness (perfbench/build.sbt, into perfbench/target) and generates the data
tier; later runs reuse both. Everything else a run writes stays under
.perfbench/ in the checkout, except the engine's own fixture corpora, which
it writes to /tmp/graft_fixtures. The last line of stdout is one JSON object with
`correct`, `attempted`, `failed` and `metrics`; the full record of the run
(run context, per-pass and per-query values, exact counters) goes to
.perfbench/results/. See perfbench/README.md for the metric definitions.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
DATA = WORK / "sf0.1"
CLASSES = HERE / "target" / "scala-2.13" / "classes"
# the Spark installation whose jars the engine compiles and runs against
SPARK_HOME = os.environ.get("SPARK_HOME", "")

CORES = 4            # local[4], spark.sql.shuffle.partitions = 4
HEAP = "4g"          # driver heap of every benchmark JVM
SCALE = "0.1"        # GenData scale factor of the data tier
SETUPS = 3           # set-up samples per run; setup_s is their median
RUN_BUDGET_S = 170   # JVM time per run; a run must end within 180 s

# Spark 4 on JDK 17 outside spark-submit (same list as the engine's build.sbt)
ADD_OPENS = [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for a in ("--add-opens", p + "=ALL-UNNAMED")]

# Each workload is a fixed slice of the registry, sized so a warm pass takes
# about 5-9 s on a 4-core box. A pass over all 144 queries takes about 145 s
# at local[4], which does not fit the benchmark's time budget.
WORKLOADS = {
    # one to three sub-second queries per category: relational, as-of/range,
    # csv/jsonl/orc/partitioned sources, streaming twin, profiler, sketch and
    # text stats; many small one-task jobs, driver time outside jobs, tiny
    # shuffles
    "olap_small": [
        "customers_in_region", "custs_no_p_orders", "distinct_segments",
        "asof_purchase_click", "events_near_errors", "sliding_event_counts",
        "csv_event_type_stats", "jsonl_event_stats", "orc_event_stats",
        "partitioned_click_stats", "sessionize_stateful", "profile_customer",
        "approx_distinct_users", "doc_stats", "lang_id"],
    # a native hash kernel with band shuffles (the minhash pairs under
    # dedup_components), and eager driver jobs with checkpoint cuts written
    # and re-read in loops (label propagation, k-means)
    "dedup_graph": ["dedup_components", "kmeans_clusters"],
}
# Nominal warm-pass wall on a 4-core box; fixes the pass count for a given
# --seconds, so every run measures the same number of passes.
NOMINAL_PASS_S = 6.5

# Every end-to-end metric a run reports, with its unit. GATED are the ones
# in BENCHMARK.json: those whose spread over ten runs (IQR over median) stayed
# within the largest bound a metric may have (0.25) in every set measured on a
# shared 4-core host. cold_pass_s and query_tail_s went past it, so they are
# printed and recorded, not gated. The failure fraction is 0
# on a correct tree; `failed` and `correct` carry it.
END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "wall_s": "s", "query_p50_s": "s",
              "query_tail_s": "s", "cpu_s": "s", "peak_heap_mb": "MB", "pass_drift": "ratio",
              "failed_frac": "ratio"}
GATED = ("setup_s", "wall_s", "query_p50_s", "cpu_s", "peak_heap_mb", "pass_drift")


def golden():
    return json.loads((HERE / "golden.json").read_text())


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_hash(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if base.is_file() else sorted(p for p in base.rglob("*") if p.is_file())
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless the sources are unchanged."""
    sources = [ROOT / "src" / "main", HERE / "src", HERE / "build.sbt",
               HERE / "project" / "build.properties"]
    stamp = WORK / "build.stamp"
    digest = tree_hash(sources)
    if stamp.exists() and stamp.read_text() == digest and CLASSES.is_dir():
        return
    log("building engine and harness (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                   env=env, check=True, stdout=sys.stderr, timeout=800)
    stamp.write_text(digest)


def jvm_env():
    env = dict(os.environ)
    # Spark's local dir then defaults to java.io.tmpdir inside the checkout,
    # unless the engine's own LocalDirs policy picks a tmpfs.
    env.pop("SPARK_LOCAL_DIRS", None)
    return env


def java_cmd(main, args):
    tmp = WORK / "jvmtmp"
    tmp.mkdir(parents=True, exist_ok=True)
    return (["java", *ADD_OPENS, f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             "-cp", f"{CLASSES}:{SPARK_HOME}/jars/*", main] + [str(a) for a in args])


def generate_data():
    """Deterministic GenData tier (same bytes on every machine)."""
    stamp = DATA / "_perfbench_stamp"
    digest = tree_hash([ROOT / "src" / "main" / "scala" / "graft" / "GenData.scala"]) + SCALE
    if stamp.exists() and stamp.read_text() == digest:
        return
    log(f"generating the sf{SCALE} tier")
    staging = WORK / "sf.staging"
    shutil.rmtree(staging, ignore_errors=True)
    with open(WORK / "gendata.log", "w") as err:
        subprocess.run(java_cmd("graft.GenData", [SCALE, staging]), cwd=ROOT, env=dict(
            jvm_env(), SPARK_GRAFT_CPUS=str(CORES)), check=True, stdout=err, stderr=err,
            timeout=600)
    shutil.rmtree(DATA, ignore_errors=True)
    staging.rename(DATA)
    # one untimed set-up writes the engine's fixture corpora for this tier,
    # so no timed set-up pays for them
    run_jvm("setup", "prepare", RUN_BUDGET_S)
    stamp.write_text(digest)


def run_jvm(mode, tag, timeout, *args):
    """Start the harness, return (seconds from spawn to 'ready', result dict)."""
    out = WORK / "out" / f"{tag}.json"
    out.parent.mkdir(exist_ok=True)
    out.unlink(missing_ok=True)
    argv = [mode, DATA.relative_to(ROOT), out, CORES, *args]
    with open(WORK / "out" / f"{tag}.log", "w") as err:
        t0 = time.perf_counter()
        proc = subprocess.Popen(java_cmd("perfbench.Harness", argv), cwd=ROOT, env=jvm_env(),
                                stdout=subprocess.PIPE, stderr=err, text=True)
        ready = None
        killer = threading.Timer(timeout, proc.kill)
        killer.start()
        try:
            for line in proc.stdout:
                if ready is None and line.strip() == "perfbench ready":
                    ready = time.perf_counter() - t0
            proc.wait()
        finally:
            killer.cancel()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or ready is None or not out.exists():
        raise RuntimeError(f"harness {tag} failed (exit {proc.returncode}); see {err.name}")
    return ready, json.loads(out.read_text())


def pass_count(seconds, trace):
    n = max(2, round(seconds / NOMINAL_PASS_S))
    # cold pass + warm passes; a traced run traces warm passes T U U T and
    # needs at least two of each
    return 1 + (4 * max(1, round(n / 4)) if trace else n)


def tail(values):
    """Highest percentile with at least ten samples beyond it, as (value,
    percentile, n); with ten samples or fewer, the maximum."""
    xs = sorted(values)
    n = len(xs)
    k = n - 11 if n > 10 else n - 1
    return xs[k], 100.0 * (k + 1) / n, n


def check(queries, gold):
    """Compare each executed query against its golden digest; returns failures."""
    failures = []
    for q in queries:
        g = gold["queries"].get(q["name"])
        if q["status"] != "ok":
            failures.append((q["name"], q["status"]))
        elif g is None:
            failures.append((q["name"], "no golden digest"))
        elif q["rows"] != g["rows"]:
            failures.append((q["name"], f"rows {q['rows']} != {g['rows']}"))
        elif g.get("digest") is not None and q["digest"] != g["digest"]:
            failures.append((q["name"], f"digest {q['digest']} != {g['digest']}"))
    return failures


def layer_values(query, counters):
    """Per-layer values of one traced query execution."""
    spans = {s["phase"]: counters.get(str(s["id"]), {}) for s in query["spans"]}

    def tot(key, phases=("build", "plan", "collect")):
        return sum(spans.get(p, {}).get(key, 0) for p in phases)
    mb = 1 << 20
    run_s, cpu_s, dur_s = tot("run_ms") / 1e3, tot("cpu_ns") / 1e9, tot("duration_ms") / 1e3
    return {
        "entry.build_s": query["build_s"],
        "entry.eager_jobs": tot("jobs", ("build",)),
        "entry.eager_tasks": tot("tasks", ("build",)),
        "entry.self_s": query["build_s"] - tot("job_ms", ("build",)) / 1e3,
        "catalyst.plan_s": query["plan_s"],
        "catalyst.analysis_s": query["analysis_s"],
        "catalyst.optimization_s": query["optimization_s"],
        "catalyst.planning_s": query["planning_s"],
        "exec.collect_s": query["collect_s"],
        "exec.self_s": query["collect_s"] - tot("job_ms", ("collect",)) / 1e3,
        "scheduler.job_s": tot("job_ms") / 1e3,
        "scheduler.jobs": tot("jobs"),
        "scheduler.stages": tot("stages"),
        "scheduler.tasks": tot("tasks"),
        "scheduler.failed_tasks": tot("failed_tasks"),
        "scheduler.task_run_s": run_s,
        "scheduler.task_cpu_s": cpu_s,
        "scheduler.task_overhead_s": dur_s - run_s,
        "shuffle.write_mb": tot("shuffle_write_bytes") / mb,
        "shuffle.write_records": tot("shuffle_write_records"),
        "shuffle.write_s": tot("shuffle_write_ns") / 1e9,
        "shuffle.read_mb": tot("shuffle_read_bytes") / mb,
        "shuffle.fetch_wait_s": tot("fetch_wait_ms") / 1e3,
        "memory.spill_mb": tot("spill_bytes") / mb,
        "memory.peak_exec_mb": max(spans.get(p, {}).get("peak_exec_bytes", 0)
                                   for p in ("build", "plan", "collect")) / mb,
        "storage.live_blocks": query["storage_blocks"],
        "storage.live_mb": query["storage_bytes"] / mb,
        "jvm.gc_s": query["gc_ms"] / 1e3,
        "jvm.gc_count": query["gc_count"],
        "sources.input_mb": tot("input_bytes") / mb,
        "sources.input_records": tot("input_records"),
    }


def fingerprint(query, counters):
    """Exact counters of one query execution (expected to repeat run to run)."""
    spans = {s["phase"]: counters.get(str(s["id"]), {}) for s in query["spans"]}
    return {
        "scheduler.jobs": sum(c.get("jobs", 0) for c in spans.values()),
        "scheduler.tasks": sum(c.get("tasks", 0) for c in spans.values()),
        "entry.eager_jobs": spans.get("build", {}).get("jobs", 0),
        "shuffle.write_records": sum(c.get("shuffle_write_records", 0) for c in spans.values()),
    }


def summarize(raw, setups, gold, trace):
    """Turn one harness result into (gated metrics, detail); detail["reported"]
    holds every metric the run prints."""
    passes = raw["passes"]
    counters = raw["span_counters"]
    executed = [q for p in passes for q in p["queries"]]
    failures = check(executed, gold)
    warm = [p for p in passes if p["pass"] > 0]
    plain = [p for p in warm if not p["traced"]]
    detail = {"failures": failures, "attempted": len(executed),
              "failed_frac": len(failures) / len(executed), "setup_samples_s": setups,
              "pass_walls_s": [p["wall_s"] for p in passes]}
    per_query_fp = {}
    for p in passes:
        for q in p["queries"]:
            per_query_fp.setdefault(q["name"], []).append(fingerprint(q, counters))
    detail["fingerprint"] = per_query_fp
    if not trace:
        walls = [q["wall_s"] for p in warm for q in p["queries"]]
        t, pct, n = tail(walls)
        detail["query_tail"] = {"percentile": pct, "n": n}
        reported = {
            "setup_s": statistics.median(setups),
            "cold_pass_s": passes[0]["wall_s"],
            "wall_s": statistics.median(p["wall_s"] for p in warm),
            "query_p50_s": statistics.median(walls),
            "query_tail_s": t,
            "cpu_s": statistics.median(p["cpu_s"] for p in warm),
            "peak_heap_mb": raw["peak_heap_bytes"] / (1 << 20),
            "pass_drift": warm[-1]["wall_s"] / warm[0]["wall_s"],
            "failed_frac": detail["failed_frac"],
        }
        metrics = {k: reported[k] for k in GATED}
        units = END_TO_END
    else:
        traced = [p for p in warm if p["traced"]]
        per_pass = []
        for p in traced:
            sums = {}
            for q in p["queries"]:
                for k, v in layer_values(q, counters).items():
                    sums[k] = sums.get(k, 0) + v
            per_pass.append(sums)
        metrics = {k: statistics.median(s[k] for s in per_pass) for k in per_pass[0]}
        metrics["scheduler.cpu_per_run"] = (metrics["scheduler.task_cpu_s"]
                                            / metrics["scheduler.task_run_s"])
        traced_wall = statistics.median(p["wall_s"] for p in traced)
        plain_wall = statistics.median(p["wall_s"] for p in plain)
        metrics["trace.wall_traced_s"] = traced_wall
        metrics["trace.wall_untraced_s"] = plain_wall
        metrics["trace.overhead_s"] = traced_wall - plain_wall
        detail["per_pass_layers"] = per_pass
        reported, units = metrics, PER_LAYER_UNITS
    detail["reported"] = {k: {"value": v, "unit": units[k]} for k, v in reported.items()}
    return {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}, detail


PER_LAYER_UNITS = {
    "entry.build_s": "s", "entry.eager_jobs": "count", "entry.eager_tasks": "count",
    "entry.self_s": "s", "exec.self_s": "s", "scheduler.job_s": "s",
    "catalyst.plan_s": "s", "catalyst.analysis_s": "s", "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s", "exec.collect_s": "s", "scheduler.jobs": "count",
    "scheduler.stages": "count", "scheduler.tasks": "count", "scheduler.failed_tasks": "count",
    "scheduler.task_run_s": "s",
    "scheduler.task_cpu_s": "s", "scheduler.task_overhead_s": "s", "scheduler.cpu_per_run": "ratio",
    "shuffle.write_mb": "MB", "shuffle.write_records": "count", "shuffle.write_s": "s",
    "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s", "memory.spill_mb": "MB",
    "memory.peak_exec_mb": "MB", "storage.live_blocks": "count", "storage.live_mb": "MB",
    "jvm.gc_s": "s", "jvm.gc_count": "count", "sources.input_mb": "MB",
    "sources.input_records": "count", "trace.wall_traced_s": "s", "trace.wall_untraced_s": "s",
    "trace.overhead_s": "s",
}


def git_commit():
    if not (ROOT / ".git").exists():
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except OSError:
        return None


def main():
    # a terminated run still stops the JVM it started (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (ROOT / "src" / "main" / "scala" / "graft" / "SparkEntry.scala").is_file():
        sys.exit("perfbench: engine sources (src/main/scala) not found next to perfbench/")
    if not (Path(SPARK_HOME) / "jars").is_dir():
        sys.exit("perfbench: set SPARK_HOME to the Spark installation (with jars/)")
    wl = WORKLOADS
    if a.workload not in wl:
        sys.exit(f"perfbench: unknown workload {a.workload}; one of {sorted(wl)}")
    WORK.mkdir(exist_ok=True)
    # JVM temp files (native libs, Spark local dirs) of earlier runs
    shutil.rmtree(WORK / "jvmtmp", ignore_errors=True)
    build()
    generate_data()
    gold = golden()

    deadline = time.monotonic() + RUN_BUDGET_S
    setups = [run_jvm("setup", f"setup{i}", deadline - time.monotonic())[0]
              for i in range(SETUPS - 1)]
    passes = pass_count(a.seconds, a.trace)
    ready, raw = run_jvm("run", "run", deadline - time.monotonic(), a.seed, passes, a.trace,
                         ",".join(wl[a.workload]))
    setups.append(ready)
    metrics, detail = summarize(raw, setups, gold, a.trace)
    context = dict(raw["context"], seed=a.seed, workload=a.workload, passes=passes,
                   trace=a.trace, git_commit=git_commit(),
                   queries=wl[a.workload])
    record = {"context": context, "metrics": metrics, **detail, "raw": raw}
    results = WORK / "results"
    results.mkdir(exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json"
    (results / name).write_text(json.dumps(record, indent=1))

    for n, why in detail["failures"]:
        log(f"FAILED {n}: {why}")
    log(f"{a.workload}: failed_frac {detail['failed_frac']:.4f} "
        f"({len(detail['failures'])}/{detail['attempted']}); record {results / name}")
    for k, m in detail["reported"].items():
        print(f"{a.workload:16s} {k:26s} {m['value']:14.6f} {m['unit']}")
    print(json.dumps({"correct": not detail["failures"], "attempted": detail["attempted"],
                      "failed": len(detail["failures"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
