#!/usr/bin/env python3
"""CPU seconds per JVM thread group over a benchmark workload's warm passes.

    python3 tools/thread_cpu.py WORKLOAD [--seed N] [--threads]

Run from the root of a checkout, with SPARK_HOME set as for
perfbench/run.py. It builds and runs the benchmark's own harness through
perfbench/run.py's functions (`build`, `generate_data`, `java_cmd`,
`jvm_env`), which it only reads: one harness JVM at local[4] runs WORKLOAD
for a cold pass and two warm passes, untraced. While it runs, every thread
of that JVM is sampled from /proc/<pid>/task/*/stat (user + system time)
every 50 ms. The window is warm passes 1-2, the passes `wall_s` measures:
it opens when the cold pass ends and closes when warm pass 2 ends, both
placed from the harness's "perfbench ready" line and its per-pass walls.

Threads are grouped by name: the C1/C2 JIT compilers, Spark's executor
task threads, the driver's main thread, GC, the other JVM runtime threads,
Spark's service threads, and the rest. A thread that exits inside the
window keeps the CPU of its last sample; what no sample saw (the last
<50 ms of an exiting thread, threads shorter than one sample) is the
process total (/proc/<pid>/stat) minus the threads', printed as
"unsampled". One line per
group is printed with its CPU seconds and share of the process's CPU in
the window; --threads adds one line per thread name (numbering folded). The
harness's own per-pass process CPU is printed next to the sampled total as
a cross-check. Linux only; nothing under perfbench/ is written.
"""
import argparse
import bisect
import json
import os
import re
import subprocess
import sys
import threading
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "perfbench"))
import run  # noqa: E402  (perfbench/run.py)

SAMPLE_S = 0.05
TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
GROUPS = [  # (group, thread-name pattern), first match wins
    ("jit compiler", re.compile(r"^C[12] Compiler")),
    ("executor tasks", re.compile(r"^Executor task")),
    ("driver main", re.compile(r"^(main|java)$")),  # the launcher's thread runs main()
    ("gc", re.compile(r"^(GC |G1 )")),
    ("jvm runtime", re.compile(r"^(VM |Reference Handl|Finalizer|Signal Dispatch|Service Thread"
                               r"|Sweeper|Common-Cleaner|Notification|Attach|Monitor Deflat)")),
    ("spark services", re.compile(r"^(dispatcher|dag-scheduler|spark-|task-result|shuffle"
                                  r"|block-manager|executor-|driver-|SparkListener|map-output"
                                  r"|rpc-|netty|broadcast|cleaner|Spark Context|context-cleaner"
                                  r"|heartbeat|element-tracking|BroadcastExchange|subquery)")),
]


def group_of(name):
    return next((g for g, p in GROUPS if p.search(name)), "other")


def cpu_ticks(stat_line):
    """utime + stime of one /proc stat line (the name may hold spaces)."""
    fields = stat_line[stat_line.rfind(")") + 2:].split()
    return int(fields[11]) + int(fields[12])


def snapshot(pid):
    """(process ticks, {tid: (name, ticks)}) or None once the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            total = cpu_ticks(f.read())
        threads = {}
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    name = f.read().strip()
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    threads[tid] = (name, cpu_ticks(f.read()))
            except OSError:
                pass  # the thread exited between listdir and open
        return total, threads
    except OSError:
        return None


def sample(pid, samples, stop):
    while not stop.is_set():
        snap = snapshot(pid)
        if snap is None:
            return
        samples.append((time.perf_counter(), snap))
        time.sleep(SAMPLE_S)


def at(samples, t):
    """The sample nearest to time t."""
    times = [s[0] for s in samples]
    i = bisect.bisect_left(times, t)
    near = [j for j in (i - 1, i) if 0 <= j < len(samples)]
    return min((samples[j] for j in near), key=lambda s: abs(s[0] - t))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("workload", choices=sorted(run.WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--threads", action="store_true", help="also print one line per thread name")
    a = ap.parse_args()
    if not (Path(run.SPARK_HOME) / "jars").is_dir():
        sys.exit("thread_cpu: set SPARK_HOME to the Spark installation (with jars/)")
    run.WORK.mkdir(exist_ok=True)
    run.build()
    run.generate_data()

    out = run.WORK / "out" / "thread-cpu.json"
    out.parent.mkdir(exist_ok=True)
    out.unlink(missing_ok=True)
    # cold pass + warm passes 1 and 2, untraced
    argv = ["run", run.DATA.relative_to(run.ROOT), out, run.CORES, a.seed, 3, 0,
            ",".join(run.WORKLOADS[a.workload])]
    samples, stop = [], threading.Event()
    with open(run.WORK / "out" / "thread-cpu.log", "w") as err:
        proc = subprocess.Popen(run.java_cmd("perfbench.Harness", argv), cwd=run.ROOT,
                                env=run.jvm_env(), stdout=subprocess.PIPE, stderr=err, text=True)
        sampler = threading.Thread(target=sample, args=(proc.pid, samples, stop), daemon=True)
        sampler.start()
        killer = threading.Timer(run.RUN_BUDGET_S, proc.kill)
        killer.start()
        ready = None
        try:
            for line in proc.stdout:
                if ready is None and line.strip() == "perfbench ready":
                    ready = time.perf_counter()
            proc.wait()
        finally:
            killer.cancel()
            stop.set()
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        sampler.join()
    if proc.returncode != 0 or ready is None or not out.exists():
        sys.exit(f"thread_cpu: harness failed (exit {proc.returncode}); see {err.name}")
    passes = json.loads(out.read_text())["passes"]
    walls = [p["wall_s"] for p in passes]
    t0, t1 = ready + walls[0], ready + walls[0] + walls[1] + walls[2]
    first, last = samples.index(at(samples, t0)), samples.index(at(samples, t1))
    (s0, (p0, th0)), (s1, (p1, _)) = samples[first], samples[last]
    # each thread's last reading in the window, so a thread that exits
    # inside it (the JVM retires idle compiler threads) keeps its CPU
    seen = {}
    for _, (_, threads) in samples[first:last + 1]:
        seen.update(threads)

    per_name, per_group = {}, {}
    for tid, (name, ticks) in seen.items():
        d = (ticks - th0.get(tid, (name, 0))[1]) * TICK_S
        key = (re.sub(r"(?<=#)\d+|\d+$", "N", name), group_of(name))
        per_name[key] = per_name.get(key, 0.0) + d
        per_group[key[1]] = per_group.get(key[1], 0.0) + d
    process = (p1 - p0) * TICK_S
    # CPU of threads after their last sample, and of threads too short-lived
    # to be sampled at all
    per_group["unsampled"] = process - sum(per_group.values())

    print(f"thread_cpu {a.workload} seed {a.seed}: warm passes 1-2, "
          f"{walls[1] + walls[2]:.2f} s wall ({s1 - s0:.2f} s between samples), "
          f"{len(samples)} samples every {SAMPLE_S * 1000:.0f} ms")
    print(f"process cpu {process:.2f} s (harness: {passes[1]['cpu_s'] + passes[2]['cpu_s']:.2f} s)")
    for g, v in sorted(per_group.items(), key=lambda kv: -kv[1]):
        print(f"{g:20s} {v:8.2f} s {100 * v / process if process else 0:6.1f} %")
    if a.threads:
        for (n, g), v in sorted(per_name.items(), key=lambda kv: -kv[1]):
            if v > 0:
                print(f"  {n:18s} {v:8.2f} s  [{g}]")


if __name__ == "__main__":
    main()
