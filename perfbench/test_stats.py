"""Tests of the benchmark's own arithmetic.

Run from the repository root: python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import math
import unittest
from pathlib import Path

import stats

BENCH = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
NAMES = {kind: {m["name"] for m in BENCH[kind]} for kind in ("end_to_end", "per_layer")}
# the gates whose metrics BENCHMARK.json names, as the JVM's record lists them
GATES = sorted({n.split(".")[1] for n in NAMES["per_layer"] if n.startswith("gate.")})


def span(id, name, start, end, parent=None, **attrs):
    return dict(id=id, name=name, start=start, end=end, parent=parent, **attrs)


class PlainStats(unittest.TestCase):
    def test_median_with_sample_count(self):
        self.assertEqual(stats.summary([3.0, 1.0, 2.0]), {"median": 2.0, "n": 3})
        self.assertEqual(stats.summary([4.0, 1.0, 2.0, 3.0]), {"median": 2.5, "n": 4})
        s = stats.summary([])
        self.assertTrue(math.isnan(s["median"]))
        self.assertEqual(s["n"], 0)

    def test_failed_ratio(self):
        self.assertEqual(stats.failed_ratio(0, 12), 0.0)
        self.assertEqual(stats.failed_ratio(3, 12), 0.25)
        self.assertEqual(stats.failed_ratio(0, 0), 0.0)


class SpanAlgebra(unittest.TestCase):
    def test_union_length_merges_overlaps(self):
        self.assertEqual(stats.union_length([]), 0.0)
        self.assertEqual(stats.union_length([(0, 2), (1, 3), (5, 6)]), 4)
        self.assertEqual(stats.union_length([(0, 10), (2, 3)]), 10)

    def test_self_time_is_span_minus_children_cover(self):
        parent = span("b1", "tdf.deref", 0, 100)
        kids = [span("j1", "spark.job", 10, 40), span("j2", "spark.job", 30, 50),
                span("j3", "spark.job", 90, 120)]  # runs past the parent's end
        # covered: [10, 50] and [90, 100] -> 50
        self.assertEqual(stats.self_time(parent, kids), 50)
        self.assertEqual(stats.self_time(parent, []), 100)

    def test_stream_control_work_split(self):
        d = {"latestOffset": 3, "getBatch": 2, "queryPlanning": 10, "walCommit": 5,
             "commitOffsets": 4, "addBatch": 70, "triggerExecution": 95}
        self.assertEqual(stats.stream_split(d), (24, 70))
        self.assertEqual(stats.stream_split({"addBatch": 7}), (0, 7))

    def test_driver_time_never_negative(self):
        # tdf.driver_s is a deref's self time: children that overlap each
        # other, spill past the deref or lie wholly outside it never drive
        # it below 0
        deref = span("b1", "tdf.deref", 100, 200)
        kids = [span("q.analysis", "catalyst.analysis", 50, 120),
                span("j1", "spark.job", 110, 180), span("j2", "spark.job", 150, 260),
                span("q.planning", "catalyst.planning", 300, 310)]
        self.assertEqual(stats.self_time(deref, kids), 0)
        self.assertEqual(stats.self_time(deref, kids[1:2]), 30)

    def test_resolve_parents_by_execution_id_then_time(self):
        spans = [span("b1", "iteration", 0, 100), span("b2", "tdf.deref", 10, 90, "b1"),
                 span("j1", "spark.job", 20, 30, "b2", exec_id=7),
                 span("q7.analysis", "catalyst.analysis", 11, 12, exec_id=7),
                 span("q8.planning", "catalyst.planning", 95, 96, exec_id=8),
                 span("t1", "stream.trigger", 40, 50)]
        by = {s["id"]: s for s in stats.resolve_parents(spans)}
        self.assertEqual(by["q7.analysis"]["parent"], "b2")  # via job j1
        self.assertEqual(by["q8.planning"]["parent"], "b1")  # by containment
        self.assertEqual(by["t1"]["parent"], "b2")
        self.assertIsNone(by["b1"]["parent"])


def traced_record():
    """A traced run with one main and one narrow iteration."""
    spans = [
        span("b1", "workload", 0, 1000),
        span("b2", "iteration", 0, 400, "b1", unit="traced_result_s"),
        span("b3", "tdf.book", 0, 50, "b2", actions=5),
        span("b4", "tdf.deref", 50, 400, "b2"),
        span("j1", "spark.job", 100, 200, "b4", exec_id=1),
        span("j2", "spark.job", 250, 350, "b4", exec_id=2),
        span("s1.0", "spark.stage", 100, 200, "j1", tasks=4, task_run_ms=300,
             task_cpu_ns=2e8, gc_ms=10, input_rows=1000, input_bytes=4096,
             shuffle_write_bytes=64, shuffle_read_bytes=0, spill_bytes=0,
             task_ms=[60, 70, 80, 90]),
        span("s2.0", "spark.stage", 250, 350, "j2", tasks=1, task_run_ms=90,
             task_cpu_ns=5e7, gc_ms=0, input_rows=0, input_bytes=0,
             shuffle_write_bytes=0, shuffle_read_bytes=64, spill_bytes=0, task_ms=[90]),
        span("q1.analysis", "catalyst.analysis", 60, 70, exec_id=1),
        span("q1.optimization", "catalyst.optimization", 70, 90, exec_id=1),
        span("q1.planning", "catalyst.planning", 90, 100, exec_id=1),
        span("b5", "iteration", 500, 700, "b1", unit="traced_fanout8_result_s"),
        span("b6", "tdf.book", 500, 510, "b5", actions=8),
        span("b7", "tdf.deref", 510, 700, "b5"),
        span("j3", "spark.job", 520, 690, "b7", exec_id=3),
    ]
    return {"cores": 4, "vm_hwm_mb": 900.0, "input_rows": 1000, "gates": GATES,
            "samples": {"untraced_result_s": [0.38, 0.4, 0.42],
                        "traced_result_s": [0.41], "result_p1_s": [1.2],
                        "traced_fanout8_result_s": [0.2]},
            "extras": {"tdf.separate_s": 1.6, "tdf.fused8_s": 0.25, "scan.noop_s": 0.1},
            "trace": {"spans": spans, "queries": [
                {"exec_id": 1, "func": "collect", "wall_ms": 140.0,
                 "ops": [[0, "HashAggregate", 1, 2.0]]}]}}


class Metrics(unittest.TestCase):
    def test_per_layer_split_of_a_deref(self):
        m = stats.per_layer(traced_record())
        self.assertEqual(set(m), NAMES["per_layer"])
        self.assertAlmostEqual(m["tdf.deref_s"], 0.35)
        self.assertAlmostEqual(m["tdf.book_s"], 0.05)
        self.assertEqual(m["tdf.jobs_per_deref"], 2)
        self.assertEqual(m["tdf.jobs_per_deref8"], 1)
        self.assertAlmostEqual(m["tdf.actions_per_job"], 2.5)
        self.assertEqual(m["catalyst.optimization_ms"], 20)
        # deref 350 ms = catalyst 40 + jobs 200 + driver 110
        self.assertAlmostEqual(m["tdf.driver_s"], 0.11)
        self.assertAlmostEqual(m["exec.job_wall_s"], 0.2)
        self.assertAlmostEqual(m["exec.core_util"], 0.39 / (0.2 * 4))
        self.assertAlmostEqual(m["exec.task_skew"], 90 / 75)
        self.assertAlmostEqual(m["tdf.fused_vs_separate"], 1.6 / 0.25)
        self.assertAlmostEqual(m["result_p1_s"], 1.2)
        self.assertAlmostEqual(m["hep.speedup"], 1.2 / 0.4)
        self.assertAlmostEqual(m["trace.overhead_s"], 0.01)
        self.assertAlmostEqual(m["self.tdf.book_s"], 0.05)
        self.assertEqual(m[f"gate.{GATES[0]}.jobs"], 0)
        recs = stats.operator_records(traced_record())
        self.assertEqual(recs[0]["span"], "tdf.deref")

    def test_end_to_end_metrics(self):
        raw = {"input_rows": 600, "setup": {"session_s": 2.0, "prepare_s": [5.0, 1.0, 1.5],
                                            "warmup_s": 3.0},
               "samples": {"result_s": [1.0, 2.0, 3.0], "fanout8_result_s": [0.5, 0.7]}}
        m = stats.end_to_end(raw)
        self.assertEqual(set(m), NAMES["end_to_end"])
        self.assertEqual(m["setup_s"], 2.0 + 1.5 + 3.0)
        self.assertEqual(m["result_s"], 2.0)
        self.assertEqual(m["events_per_s"], 300.0)
        self.assertAlmostEqual(m["fanout8_result_s"], 0.6)

    def test_benchmark_json_declares_every_metric_once_with_a_unit(self):
        for kind in ("end_to_end", "per_layer"):
            names = [m["name"] for m in BENCH[kind]]
            self.assertEqual(len(names), len(set(names)))
            self.assertTrue(all(m["unit"] for m in BENCH[kind]))
        self.assertIn("setup_s", NAMES["end_to_end"])
        self.assertEqual(len(GATES), 5)


if __name__ == "__main__":
    unittest.main()
