#!/usr/bin/env python3
"""Record perfbench/golden.json: row count and digest of every registry query.

    python3 perfbench/record_golden.py

Run it only on a tree whose outputs are known to be right (oracle-green on
the benchmark's data tier). Each of the three runs (RUNS) is a fresh JVM with
its own query order; a query whose digest differs between runs keeps only its row count
(`"digest": null`) and is listed under "unstable_digest".
"""
import json
import sys

import run

RUNS = 3


def main():
    run.WORK.mkdir(exist_ok=True)
    run.build()
    run.generate_data()
    _, setup = run.run_jvm("setup", "golden-setup", run.RUN_BUDGET_S)
    names = setup["registry"]
    seen = {}
    for seed in range(RUNS):
        _, raw = run.run_jvm("run", f"golden{seed}", 3600, seed, 1, 0, ",".join(names))
        for q in raw["passes"][0]["queries"]:
            if q["status"] != "ok":
                sys.exit(f"{q['name']}: {q['status']}")
            seen.setdefault(q["name"], set()).add((q["rows"], q["digest"]))
    queries, unstable = {}, []
    for n in names:
        rows = {r for r, _ in seen[n]}
        if len(rows) != 1:
            sys.exit(f"{n}: row count differs between runs: {sorted(rows)}")
        if len(seen[n]) == 1:
            queries[n] = {"rows": rows.pop(), "digest": next(iter(seen[n]))[1]}
        else:
            queries[n] = {"rows": rows.pop(), "digest": None}
            unstable.append(n)
    out = {"tier": f"GenData {run.SCALE} (driver vocab, seq names)", "runs": RUNS,
           "unstable_digest": unstable, "queries": queries}
    (run.HERE / "golden.json").write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    print(f"{len(queries)} queries, {len(unstable)} with unstable digests: {unstable}")


if __name__ == "__main__":
    main()
