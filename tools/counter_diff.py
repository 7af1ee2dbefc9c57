#!/usr/bin/env python3
"""Exact-counter diff between two sets of perfbench result records.

    python3 tools/counter_diff.py BASE_DIR CHANGE_DIR

BASE_DIR and CHANGE_DIR hold the JSON records `perfbench/run.py` writes to
`.perfbench/results` (pass a checkout root and its `.perfbench/results` is
read). Every record carries, per query execution, four exact counters under
`fingerprint`: `scheduler.jobs`, `scheduler.tasks`, `entry.eager_jobs` and
`shuffle.write_records`. For each workload found on both sides, this prints
per query the base and change values of each counter over every execution
(a counter that alternates between executions prints as `a|b`, most frequent
first) and flags with `*` every query whose value set differs. A last line
sums each counter's most frequent value over the workload's queries: the
count for one warm pass, since a pass runs each query once.

Exit status 1 if any query is flagged or exists on one side only, else 0.
Nothing is written; `perfbench/` is not read.
"""
import collections
import json
import pathlib
import sys

COUNTERS = ("scheduler.jobs", "scheduler.tasks", "entry.eager_jobs", "shuffle.write_records")


def load(arg):
    """{workload: {query: {counter: Counter(values)}}}, plus the commits seen."""
    root = pathlib.Path(arg)
    if (root / ".perfbench" / "results").is_dir():
        root = root / ".perfbench" / "results"
    out, commits = {}, collections.Counter()
    for f in sorted(root.glob("*.json")):
        rec = json.loads(f.read_text())
        ctx = rec.get("context", {})
        commits[ctx.get("git_commit") or "?"] += 1
        queries = out.setdefault(ctx.get("workload", f.name.split("-")[0]), {})
        for q, execs in rec["fingerprint"].items():
            per = queries.setdefault(q, {c: collections.Counter() for c in COUNTERS})
            for fp in execs:
                for c in COUNTERS:
                    per[c][fp[c]] += 1
    return out, commits


def show(values):
    return "|".join(str(v) for v, _ in values.most_common()) if values else "-"


def modal(values):
    return values.most_common(1)[0][0] if values else 0


def main(argv):
    if len(argv) != 3:
        sys.exit(__doc__)
    (base, base_commits), (change, change_commits) = load(argv[1]), load(argv[2])
    print(f"base commits {dict(base_commits)}; change commits {dict(change_commits)}")
    differs = 0
    for wl in sorted(set(base) & set(change)):
        b, c = base[wl], change[wl]
        names = list(b) + [q for q in c if q not in b]
        width = max(len(q) for q in names + ["per pass (modal)"])
        print(f"\n== {wl} ==")
        print(f"{'query':<{width}}  " + "  ".join(f"{k:>26}" for k in COUNTERS))
        for q in names:
            if q not in b or q not in c:
                differs += 1
                print(f"{q:<{width}}  only in {'base' if q in b else 'change'}  *")
                continue
            cells = [f"{show(b[q][k])} -> {show(c[q][k])}" for k in COUNTERS]
            flag = any(set(b[q][k]) != set(c[q][k]) for k in COUNTERS)
            differs += flag
            print(f"{q:<{width}}  " + "  ".join(f"{x:>26}" for x in cells) + ("  *" if flag else ""))
        totals = [f"{sum(modal(b[q][k]) for q in b)} -> {sum(modal(c[q][k]) for q in c)}"
                  for k in COUNTERS]
        print(f"{'per pass (modal)':<{width}}  " + "  ".join(f"{x:>26}" for x in totals))
    for wl in sorted(set(base) ^ set(change)):
        print(f"\nworkload {wl} only in {'base' if wl in base else 'change'}")
    print(f"\n{differs} quer{'y' if differs == 1 else 'ies'} flagged")
    return 1 if differs or set(base) ^ set(change) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
