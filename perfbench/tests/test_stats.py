"""Unit tests of the benchmark's own arithmetic and checks.

    python3 -m unittest discover -s perfbench/tests
"""
import json
import shutil
import subprocess
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402


class Percentiles(unittest.TestCase):
    def test_nearest_rank(self):
        xs = list(range(10, 0, -1))  # 10..1, unsorted on purpose
        self.assertEqual(stats.nearest_rank(xs, 50), 5)
        self.assertEqual(stats.nearest_rank(xs, 90), 9)
        self.assertEqual(stats.nearest_rank(xs, 91), 10)
        self.assertEqual(stats.nearest_rank(xs, 100), 10)
        self.assertEqual(stats.nearest_rank(xs, 0), 1)
        self.assertEqual(stats.nearest_rank([7.5], 90), 7.5)
        with self.assertRaises(ValueError):
            stats.nearest_rank([], 50)

    def test_interquartile_mean(self):
        self.assertEqual(stats.iqm([3.0, 1.0, 2.0]), 2.0)
        # n=9 drops the two lowest and two highest samples
        self.assertEqual(stats.iqm([100, 1, 5, 6, 7, 8, 9, 0, 50]), 7.0)
        self.assertEqual(stats.iqm([]), 0.0)

    def test_geometric_mean(self):
        self.assertAlmostEqual(stats.geomean([2.0, 8.0]), 4.0)
        self.assertEqual(stats.geomean([]), 0.0)
        # doubling the fastest op moves it as much as doubling the slowest
        self.assertAlmostEqual(stats.geomean([2.0, 100.0, 1000.0]),
                               stats.geomean([1.0, 100.0, 2000.0]))

    def test_ten_beyond_rule(self):
        self.assertEqual(stats.beyond(100, 90), 10)
        self.assertEqual(stats.tail_percentile(100), 90)
        # one sample short: p90 would leave only 9 beyond it
        self.assertEqual(stats.beyond(99, 90), 9)
        self.assertEqual(stats.tail_percentile(99), 80)
        self.assertEqual(stats.tail_percentile(200), 95)
        self.assertEqual(stats.tail_percentile(1000), 99)
        self.assertIsNone(stats.tail_percentile(19))
        self.assertEqual(stats.tail_percentile(20), 50)


class OpenLoop(unittest.TestCase):
    def test_latency_from_due_time_when_one_batch_takes_several_slices(self):
        slices = [{"id": 0, "due_ms": 100.0, "released_ms": 101.0, "batch": 7},
                  {"id": 1, "due_ms": 200.0, "released_ms": 260.0, "batch": 7},
                  {"id": 2, "due_ms": 300.0, "released_ms": 300.5, "batch": 7},
                  {"id": 3, "due_ms": 400.0, "released_ms": 400.0, "batch": 8},
                  {"id": 4, "due_ms": 500.0, "released_ms": 500.0, "batch": -1}]
        batches = [{"id": 7, "end_ms": 1000.0}, {"id": 8, "end_ms": 1500.0}]
        lat = stats.open_loop_latencies(slices, batches)
        # each slice is timed from its own due time (not its release, not the
        # batch start) to the end of the batch that committed it
        self.assertEqual(lat, {0: 900.0, 1: 800.0, 2: 700.0, 3: 1100.0})

    def test_backlog(self):
        slices = [{"id": i, "released_ms": 100.0 * i, "batch": 1 if i < 3 else 2}
                  for i in range(5)]
        batches = [{"id": 1, "end_ms": 250.0}, {"id": 2, "end_ms": 900.0}]
        # at t=200 slices 0..2 are out and batch 1 has not ended yet
        self.assertEqual(stats.backlog_max(slices, batches), 3)


class FailRatio(unittest.TestCase):
    def test_arithmetic(self):
        self.assertEqual(stats.fail_ratio(10, 0), 0.0)
        self.assertEqual(stats.fail_ratio(4, 1), 0.25)
        self.assertEqual(stats.fail_ratio(3, 3), 1.0)
        with self.assertRaises(ValueError):
            stats.fail_ratio(0, 0)
        with self.assertRaises(ValueError):
            stats.fail_ratio(3, 4)


def query_raw(rows):
    ops = [{"name": n, "rows": r, "build_ms": 10.0, "exec_ms": ms, "ms": 10.0 + ms,
            "error": ""} for n, r, ms in rows]
    return {"workload": "query_sweep", "ops": ops, "passes_ms": [1000.0],
            "setup": {"session_s": 1.0, "gen_s": 2.0, "warmup_s": 0.5},
            "live_heap_mb": 100.0}


def sync_raw(checks):
    ops = [{"kind": k, "ms": ms, "written": w, "write_failed": 0, "scanned": 10,
            "phases": {}, "error": ""}
           for k, ms, w in (("full", 1000.0, 10), ("incr", 200.0, 1), ("noop", 50.0, 0))]
    return {"workload": "sync", "ops": ops, "checks": checks,
            "setup": {"session_s": 1.0, "gen_s": 2.0, "warmup_s": 0.5},
            "live_heap_mb": 100.0}


class Checks(unittest.TestCase):
    def test_wrong_expected_count_fails_the_query(self):
        raw = query_raw([("q01", 6, 100.0), ("q02", 25, 5.0)])
        right = {"q01": 6, "q02": 25}
        attempted, bad, failures = stats.outcome(raw, right)
        self.assertEqual((attempted, bad, failures), (2, set(), []))
        wrong = {"q01": 6, "q02": 24}
        attempted, bad, failures = stats.outcome(raw, wrong)
        self.assertEqual((attempted, bad), (2, {1}))
        self.assertIn("q02: expected 24 rows, got 25", failures)
        metrics, _, _, counts = stats.end_to_end(raw, wrong)
        self.assertEqual(counts, (2, 1))
        self.assertEqual(metrics["ok_ratio"][0], 0.5)
        # the failed query was the fast one: it must not be timed
        self.assertAlmostEqual(metrics["latency_ms"][0], 110.0)

    def test_query_without_expected_count_fails(self):
        _, bad, _ = stats.outcome(query_raw([("qx", 1, 1.0)]), {})
        self.assertEqual(bad, {0})

    def test_wrong_sync_count_fails_its_cycle(self):
        ok = [{"op": 0, "name": "full_written", "expected": 10, "observed": 10},
              {"op": 1, "name": "incr_written", "expected": 1, "observed": 1}]
        self.assertEqual(stats.outcome(sync_raw(ok))[1], set())
        wrong = ok[:1] + [{"op": 1, "name": "incr_written", "expected": 2, "observed": 1}]
        attempted, bad, _ = stats.outcome(sync_raw(wrong))
        self.assertEqual((attempted, bad), (3, {1}))
        metrics, named, _, _ = stats.end_to_end(sync_raw(wrong))
        self.assertEqual(metrics["latency_ms"][0], 0.0)  # the only incr failed
        self.assertAlmostEqual(metrics["ok_ratio"][0], 2 / 3)
        self.assertEqual(named["fail_ratio"], 1 / 3)


class SelfTime(unittest.TestCase):
    def test_overlapping_children_are_covered_once(self):
        spans = [{"id": 1, "parent": 0, "name": "sync.full", "startMs": 0.0, "endMs": 100.0},
                 {"id": 2, "parent": 1, "name": "engine.writing", "startMs": 10.0, "endMs": 40.0},
                 {"id": 3, "parent": 1, "name": "engine.state", "startMs": 30.0, "endMs": 60.0},
                 {"id": 4, "parent": 2, "name": "spark.job", "startMs": 20.0, "endMs": 50.0}]
        st = stats.self_times(spans)
        # the job [20, 50] is clipped to its parent [10, 40]
        self.assertEqual(st, {1: 50.0, 2: 10.0, 3: 30.0, 4: 30.0})
        layers = stats.layer_self_seconds(spans)
        self.assertAlmostEqual(layers["driver"], 0.05)
        self.assertAlmostEqual(layers["engine"], 0.04)
        self.assertAlmostEqual(layers["spark"], 0.03)


def cdc_raw():
    slices = [{"id": i, "due_ms": 100.0 * i, "released_ms": 100.0 * i + 1,
               "rows": 35, "batch": i // 5} for i in range(10)]
    batches = [{"id": b, "start_ms": 500.0 * b, "end_ms": 500.0 * b + 400, "rows": 175,
                "duration_ms": {"triggerExecution": 400, "addBatch": 350}} for b in (0, 1)]
    return {"workload": "cdc_stream", "slices": slices, "batches": batches, "error": "",
            "checks": [{"op": -1, "name": "state_rows_eq_distinct_keys",
                        "expected": 300, "observed": 300}],
            "sink": {"repo_mb": 1.0, "repo_issues": 300, "files_written": 350},
            "state": {"rows": 300, "mb": 0.1, "deltas_max": 2, "changed": 340,
                      "scanned": 350},
            "setup": {"session_s": 1.0, "gen_s": 2.0, "warmup_s": 0.5},
            "live_heap_mb": 100.0}


class PerLayer(unittest.TestCase):
    def test_traced_query_run_with_the_single_core_cdc_baseline(self):
        raw = query_raw([("q01_pricing_summary", 6, 100.0),
                         ("pipe_bm25_incremental", 10, 300.0)])
        raw["gc_s"] = 0.5
        raw["spans"] = [{"id": 1, "parent": 0, "name": "query", "startMs": 0.0,
                         "endMs": 410.0}]
        raw["layers"] = dict({k: 1 for k in (
            "spark.jobs", "spark.stages", "spark.tasks", "spark.task_busy_s",
            "spark.core_busy_ratio", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
            "spark.spill_mb", "spark.stage_skew_max", "tables.schema_jobs",
            "queries.build_jobs", "caches.fragment_hits", "caches.fragment_builds",
            "caches.fragment_evictions", "catalyst.analysis_ms",
            "catalyst.optimization_ms", "catalyst.planning_ms")},
            stages_by_group={"pipe_bm25_incremental": 16})
        m = stats.per_layer(raw, local1=cdc_raw(), untraced=[{"latency_ms": 100.0}],
                            expected_counts={"q01_pricing_summary": 6,
                                             "pipe_bm25_incremental": 10})
        self.assertEqual(sorted(m), sorted(stats.per_layer_names()))
        self.assertEqual(m["pipeline.incremental_stages"], 16)
        self.assertAlmostEqual(m["queries.build_s.q"], 0.01)
        self.assertEqual(m["stream.local1.latency_ms_p50"], 200.0)
        self.assertAlmostEqual(m["stream.local1.items_per_s"], 437.5)
        self.assertAlmostEqual(m["self_s.queries"], 0.41)
        # geometric mean of 110 and 310 ms against 100 ms untraced
        self.assertAlmostEqual(m["trace.overhead_pct"], 100.0 * ((110 * 310) ** 0.5 / 100 - 1))


class Contract(unittest.TestCase):
    def test_benchmark_json_lists_exactly_the_metrics_the_command_prints(self):
        spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
        self.assertEqual([m["name"] for m in spec["per_layer"]], stats.per_layer_names())
        for m in spec["per_layer"]:
            self.assertEqual(m["unit"], stats.unit_of(m["name"]), m["name"])
        metrics, _, _, _ = stats.end_to_end(query_raw([("q01", 6, 1.0)]), {"q01": 6})
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         {k: u for k, (_, u) in metrics.items()})


class Command(unittest.TestCase):
    def test_fails_without_the_engine_sources(self):
        with tempfile.TemporaryDirectory() as d:
            shutil.copytree(HERE, Path(d) / "perfbench",
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            (Path(d) / "BENCHMARK.json").write_text(json.dumps({"paths": ["perfbench"]}))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "sync",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(p.returncode, 0)
            self.assertEqual(p.stdout, "")


if __name__ == "__main__":
    unittest.main()
