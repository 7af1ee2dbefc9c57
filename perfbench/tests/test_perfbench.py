"""Self-tests of the benchmark: metric names and units, pass sums, span accounting.

    python3 -m unittest discover -s perfbench/tests

The synthetic cases always run. The record cases read the newest
.perfbench/results record of each workload and trace mode, and are skipped
when a mode has not been run yet.
"""
import json
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))
import run  # noqa: E402

BENCH = json.loads((HERE.parent / "BENCHMARK.json").read_text())
RESULTS = run.WORK / "results"


def newest(workload, trace):
    files = sorted(RESULTS.glob(f"{workload}-seed*-trace{trace}-*.json"),
                   key=lambda f: f.stat().st_mtime) if RESULTS.is_dir() else []
    return json.loads(files[-1].read_text()) if files else None


def synthetic_raw(traced):
    """A harness result with two queries per pass and one job per span."""
    counters, passes, span = {}, [], 0
    for p in range(5 if traced else 3):
        is_traced = traced and p in (1, 4)
        queries = []
        for name, rows in (("a", 3), ("b", 5)):
            spans = []
            for phase in ("build", "plan", "collect"):
                spans.append({"id": span, "phase": phase})
                counters[str(span)] = {
                    "jobs": 1, "stages": 1, "tasks": 2 + p, "failed_tasks": 0, "run_ms": 40, "cpu_ns": 30_000_000,
                    "duration_ms": 50, "shuffle_write_bytes": 1 << 20,
                    "shuffle_write_records": 10, "shuffle_write_ns": 1_000_000,
                    "shuffle_read_bytes": 1 << 20, "fetch_wait_ms": 1, "spill_bytes": 0,
                    "peak_exec_bytes": 1 << 21, "input_bytes": 1 << 20, "input_records": 100,
                    "job_ms": 60}
                span += 1
            q = {"name": name, "status": "ok", "rows": rows, "digest": "ab", "spans": spans,
                 "wall_s": 0.31 + 0.01 * p, "build_s": 0.1, "plan_s": 0.1, "collect_s": 0.1}
            if is_traced:
                q.update(storage_blocks=2, storage_bytes=1 << 20, gc_ms=5, gc_count=1,
                         analysis_s=0.01, optimization_s=0.02, planning_s=0.03)
            queries.append(q)
        passes.append({"pass": p, "traced": is_traced, "wall_s": 0.7 + 0.02 * p,
                       "cpu_s": 1.0 + p, "queries": queries})
    return {"passes": passes, "span_counters": counters, "peak_heap_bytes": 300 << 20,
            "context": {}}


GOLD = {"queries": {"a": {"rows": 3, "digest": "ab"}, "b": {"rows": 5, "digest": None}}}


class MetricNames(unittest.TestCase):
    def check_names(self, metrics, declared):
        self.assertEqual(set(metrics), {m["name"] for m in declared})
        for m in declared:
            self.assertEqual(metrics[m["name"]]["unit"], m["unit"], m["name"])
            self.assertIsInstance(metrics[m["name"]]["value"], (int, float), m["name"])

    def test_synthetic_end_to_end(self):
        metrics, detail = run.summarize(synthetic_raw(False), [5.0, 5.2, 5.1], GOLD, 0)
        self.check_names(metrics, BENCH["end_to_end"])
        self.check_names(detail["reported"],
                         [{"name": k, "unit": u} for k, u in run.END_TO_END.items()])
        self.assertEqual(detail["failures"], [])
        self.assertAlmostEqual(detail["reported"]["pass_drift"]["value"], 0.74 / 0.72)

    def test_synthetic_per_layer(self):
        metrics, _ = run.summarize(synthetic_raw(True), [5.0, 5.2, 5.1], GOLD, 1)
        self.check_names(metrics, BENCH["per_layer"])
        self.assertEqual(metrics["entry.eager_jobs"]["value"], 2)
        self.assertAlmostEqual(metrics["entry.self_s"]["value"], 2 * (0.1 - 0.06))

    def test_wrong_digest_and_rows_fail(self):
        raw = synthetic_raw(False)
        raw["passes"][1]["queries"][0]["digest"] = "cd"
        raw["passes"][2]["queries"][1]["rows"] = 6
        _, detail = run.summarize(raw, [5.0], GOLD, 0)
        self.assertEqual(len(detail["failures"]), 2)
        self.assertAlmostEqual(detail["failed_frac"], 2 / 6)

    def test_tail_needs_ten_beyond(self):
        self.assertEqual(run.tail(range(100)), (89, 90.0, 100))
        self.assertEqual(run.tail([3, 1, 2]), (3, 100.0, 3))

    def test_records_have_every_metric(self):
        for wl in run.WORKLOADS:
            for trace, declared in ((0, BENCH["end_to_end"]), (1, BENCH["per_layer"])):
                rec = newest(wl, trace)
                if rec is None:
                    continue
                with self.subTest(workload=wl, trace=trace):
                    self.check_names(rec["metrics"], declared)
                    self.assertEqual(rec["context"]["nproc"], run.CORES)


class PassSums(unittest.TestCase):
    def test_pass_sums_equal_query_sums(self):
        checked = 0
        for wl in run.WORKLOADS:
            rec = newest(wl, 1)
            if rec is None:
                continue
            raw, counters = rec["raw"], rec["raw"]["span_counters"]
            self.assertNotIn("-1", counters, "jobs outside any span")
            traced = [p for p in raw["passes"] if p["traced"]]
            for p, sums in zip(traced, rec["per_pass_layers"]):
                span_ids = [str(s["id"]) for q in p["queries"] for s in q["spans"]]
                for key, metric in (("jobs", "scheduler.jobs"), ("tasks", "scheduler.tasks"),
                                    ("shuffle_write_records", "shuffle.write_records")):
                    self.assertEqual(sums[metric],
                                     sum(counters.get(i, {}).get(key, 0) for i in span_ids))
                for metric in ("entry.build_s", "exec.collect_s", "jvm.gc_count"):
                    per_query = sum(run.layer_values(q, counters)[metric] for q in p["queries"])
                    self.assertAlmostEqual(sums[metric], per_query, places=9)
                walls = sum(q["wall_s"] for q in p["queries"])
                self.assertLessEqual(walls, p["wall_s"])
                self.assertLess(p["wall_s"] - walls, 0.05 + 0.02 * p["wall_s"])
                checked += 1
        if not checked:
            self.skipTest("no traced record in .perfbench/results")


class SpanAccounting(unittest.TestCase):
    def test_build_plan_collect_cover_query_wall(self):
        checked = 0
        for wl in run.WORKLOADS:
            rec = newest(wl, 1)
            if rec is None:
                continue
            for p in rec["raw"]["passes"]:
                if not p["traced"]:
                    continue
                for q in p["queries"]:
                    parts = q["build_s"] + q["plan_s"] + q["collect_s"]
                    self.assertLessEqual(parts, q["wall_s"])
                    self.assertLess(q["wall_s"] - parts, 0.02 + 0.02 * q["wall_s"], q["name"])
                    checked += 1
        if not checked:
            self.skipTest("no traced record in .perfbench/results")


if __name__ == "__main__":
    unittest.main()
