#!/usr/bin/env python3
"""Result identity check: every registry query against perfbench/golden.json.

    python3 tools/golden_check.py

Run from the root of a checkout, with SPARK_HOME set as for
perfbench/run.py. It runs every registry query once, in one fresh JVM,
through the benchmark's own harness: perfbench/run.py's `build`,
`generate_data` and `run_jvm`, so the tree is compiled, the GenData sf0.1
tier is generated under .perfbench/ and the queries run at local[4] exactly
as a benchmark run does. Each query's row count and digest are then
compared with perfbench/golden.json, which this script only reads.

One line is printed per mismatch, then a summary. The exit status is 1 if
any query fails, differs from its golden entry, or is missing from either
the registry or golden.json; 0 otherwise. A pass takes about three minutes
on a 4-core box.
"""
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "perfbench"))
import run  # noqa: E402  (perfbench/run.py)

PASS_TIMEOUT_S = 3600


def main():
    run.WORK.mkdir(exist_ok=True)
    run.build()
    run.generate_data()
    gold = run.golden()["queries"]
    _, setup = run.run_jvm("setup", "golden-check-setup", run.RUN_BUDGET_S)
    names = setup["registry"]
    # seed 0, one pass (the cold pass), untraced
    _, raw = run.run_jvm("run", "golden-check", PASS_TIMEOUT_S, 0, 1, 0, ",".join(names))
    executed = raw["passes"][0]["queries"]
    failures = run.check(executed, {"queries": gold})
    failures += [(n, "in golden.json but not in the registry")
                 for n in sorted(set(gold) - set(names))]
    for name, why in failures:
        print(f"MISMATCH {name}: {why}")
    matched = len({q["name"] for q in executed} - {n for n, _ in failures})
    print(f"{matched}/{len(gold)} queries match perfbench/golden.json "
          f"({len(executed)} run, {len(failures)} mismatches)")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
