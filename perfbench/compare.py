#!/usr/bin/env python3
"""Summarize and compare perfbench result records (.perfbench/results/*.json).

    python3 perfbench/compare.py BASE_DIR               # spread of one set of runs
    python3 perfbench/compare.py BASE_DIR CHANGE_DIR    # change against base

For each workload, prints the median of every end-to-end metric, the
distance between its first and third quartiles as a share of the median,
and, given two sets, whether the change is worse than the base by more than
the bound in BENCHMARK.json. It also reports which exact counters (jobs,
tasks, eager jobs, shuffle records per query) repeat exactly across runs.
Records from runs with different core counts, masters or heaps are refused:
their timings do not compare.
"""
import json
import statistics
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())
MACHINE_KEYS = ("nproc", "master", "shuffle_partitions", "driver_heap_max_mb")


def load(d):
    """Untraced records of a directory, grouped by workload."""
    by = {}
    for f in sorted(Path(d).glob("*.json")):
        r = json.loads(f.read_text())
        if r["context"]["trace"] == 0:
            by.setdefault(r["context"]["workload"], []).append(r)
    return by


def spread(values):
    """Distance between the first and third quartiles, as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def machine(records):
    return {tuple(str(r["context"][k]) for k in MACHINE_KEYS) for r in records}


def exact_counters(records):
    """Counter name -> (queries whose every execution in every run agrees, queries)."""
    out = {}
    names = records[0]["fingerprint"].keys()
    for key in records[0]["fingerprint"][next(iter(names))][0]:
        same = sum(1 for q in names
                   if len({fp[key] for r in records for fp in r["fingerprint"][q]}) == 1)
        out[key] = (same, len(names))
    return out


def main(argv):
    if len(argv) not in (2, 3):
        sys.exit(__doc__)
    base = load(argv[1])
    change = load(argv[2]) if len(argv) == 3 else {}
    worse = False
    for wl in sorted(base):
        recs = base[wl]
        print(f"== {wl}: {len(recs)} base runs"
              + (f", {len(change.get(wl, []))} change runs" if change else ""))
        machines = machine(recs + change.get(wl, []))
        if len(machines) != 1:
            sys.exit(f"refused: {wl} runs differ in {MACHINE_KEYS}: {machines}")
        gated = {m["name"]: m for m in BENCH["end_to_end"]}
        for name, unit in ((k, v["unit"]) for k, v in recs[0]["reported"].items()):
            vals = [r["reported"][name]["value"] for r in recs]
            med = statistics.median(vals)
            sp = spread(vals) if len(vals) >= 3 and med else 0.0
            m = gated.get(name)
            line = f"  {name:14s} median {med:11.4f} {unit:5s} spread {sp:6.3f}"
            if m is None:
                print(line + " (not gated)")
                continue
            line += (f" (bound {m['bound']}, third {m['bound'] / 3:.3f}"
                     f"{' OVER' if sp > m['bound'] / 3 and name != 'setup_s' else ''})")
            if change.get(wl):
                cm = statistics.median(r["reported"][name]["value"] for r in change[wl])
                rel = (cm - med) / med if m["better"] == "lower" else (med - cm) / med
                bad = rel > m["bound"]
                worse |= bad
                line += f" | change {cm:11.4f} worse by {rel:+.3f}{' REGRESSION' if bad else ''}"
            print(line)
        for key, (same, n) in exact_counters(recs + change.get(wl, [])).items():
            print(f"  exact {key:22s} repeats on {same}/{n} queries")
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
