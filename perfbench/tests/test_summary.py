"""Tests of the benchmark's own arithmetic (perfbench/summary.py).

    python3 -m unittest discover -s perfbench/tests
"""

import json
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
import summary  # noqa: E402


def span(id, parent, kind, layer, start, end, name="s"):
    return {"id": id, "parent": parent, "kind": kind, "layer": layer,
            "start_ms": start, "end_ms": end, "name": name, "op": -1}


def op(slot, s, ok=True, in_bytes=0, out_bytes=0):
    return {"slot": slot, "name": f"op-{slot}", "s": s, "ok": ok, "error": "" if ok else "bad",
            "in_bytes": in_bytes, "out_bytes": out_bytes, "notes": {}}


def stage(id, span_id, frames, **kw):
    rec = {"stage": id, "span": span_id, "execution": "1", "frames": frames, "tasks": 0,
           "failures": 0, "cpu_ns": 0, "run_ms": 0, "wait_ms": 0, "in_bytes": 0,
           "out_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
    rec.update(kw)
    return rec


class LayerAttribution(unittest.TestCase):
    def test_frame_package_and_file_name_the_layer(self):
        self.assertEqual(summary.layer_of_frame("graft.sync.Planner$.probe(Planner.scala:137)"),
                         "sync.Planner")
        self.assertEqual(summary.layer_of_frame(
            "graft.sync.ChangeLog$.$anonfun$replayPaths$13(ChangeLog.scala:496)"), "sync.ChangeLog")
        self.assertEqual(summary.layer_of_frame(
            "graft.run.SyncRunner.syncOptimizedPinned(SyncRunner.scala:284)"), "run.SyncRunner")

    def test_helper_files_fold_into_their_layer(self):
        self.assertEqual(summary.layer_of_frame("graft.run.ParquetSource.load(Appliers.scala:44)"),
                         "run.SyncRunner")
        self.assertEqual(summary.layer_of_frame("graft.sync.LakeFs$.list(LakeFs.scala:9)"),
                         "sync.LakeTable")

    def test_unlisted_and_foreign_frames_are_other(self):
        self.assertEqual(summary.layer_of_frame("graft.ext.KMeans$.fit(KMeans.scala:1)"), "other")
        self.assertEqual(summary.layer_of_frame("perfbench.Harness.op(Harness.scala:50)"), "other")
        self.assertEqual(summary.layer_of_frame("graft.sync.Planner"), "other")

    def test_frameless_stage_inherits_its_querys_frames(self):
        spans = {1: span(1, 0, "op", "run.SyncRunner", 0, 10)}
        stages = [stage(5, 1, ["graft.sync.Apply$.f(Apply.scala:1)"], execution="3"),
                  stage(6, 1, [], execution="3"),
                  stage(7, 1, [], execution="4")]
        frames = summary.execution_frames(stages)
        self.assertEqual(summary.stage_layer(stages[1], spans, frames), "sync.Apply")
        self.assertEqual(summary.stage_layer(stages[2], spans, frames), "run.SyncRunner")

    def test_stage_goes_to_innermost_frame_then_called_layer_then_bench(self):
        spans = {1: span(1, 0, "op", "run.SyncRunner", 0, 10),
                 2: span(2, 0, "check", "bench", 10, 20)}
        inner = ["graft.sync.Planner$.probe(Planner.scala:1)",
                 "graft.run.SyncRunner.runTable(SyncRunner.scala:2)"]
        self.assertEqual(summary.stage_layer(stage(1, 1, inner), spans), "sync.Planner")
        self.assertEqual(summary.stage_layer(stage(2, 1, []), spans), "run.SyncRunner")
        self.assertEqual(summary.stage_layer(stage(3, 2, inner), spans), "bench")
        self.assertEqual(summary.stage_layer(stage(4, 99, inner), spans), "bench")


class SpanTime(unittest.TestCase):
    def test_covered_merges_overlaps(self):
        self.assertEqual(summary.covered([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(summary.covered([(5, 5), (3, 1)]), 0)
        self.assertEqual(summary.covered([]), 0)

    def test_self_time_subtracts_children_once(self):
        spans = [span(0, -1, "pass", "bench", 0, 100),
                 span(1, 0, "op", "ext.Dedup", 10, 40),
                 span(2, 0, "op", "ext.Dedup", 30, 60),
                 span(3, 1, "check", "bench", 20, 25)]
        selfs = summary.self_times(spans)
        self.assertEqual(selfs[0], 50)  # children cover 10..60
        self.assertEqual(selfs[1], 25)
        self.assertEqual(selfs[2], 30)
        self.assertEqual(selfs[3], 5)

    def test_time_outside_jobs_counts_only_the_spans_jobs(self):
        s = span(7, 0, "op", "run.SyncRunner", 0, 100)
        jobs = [{"span": 7, "start_ms": 10, "end_ms": 30},
                {"span": 7, "start_ms": 20, "end_ms": 50},
                {"span": 8, "start_ms": 0, "end_ms": 100},
                {"span": 7, "start_ms": 90, "end_ms": 120}]
        self.assertEqual(summary.outside_jobs_ms(s, jobs), 100 - 40 - 10)


class Statistics(unittest.TestCase):
    def test_median_and_sample_count(self):
        t = summary.timing([3.0, 1.0, 2.0, 10.0])
        self.assertEqual(t["median"], 2.5)
        self.assertEqual(t["n"], 4)
        self.assertIsNone(t["high"])
        self.assertEqual(summary.median([]), 0.0)

    def test_high_percentile_needs_ten_samples_beyond_it(self):
        self.assertIsNone(summary.timing(list(range(99)))["high"])
        self.assertEqual(summary.timing(list(range(100)))["high"]["p"], 90)
        self.assertEqual(summary.timing(list(range(1000)))["high"]["p"], 99)

    def test_failed_fraction(self):
        self.assertEqual(summary.failed_fraction([op("op1", 1), op("op2", 1, ok=False),
                                                  op("", 1), op("op3", 1, ok=False)]), (2, 4, 0.5))
        self.assertEqual(summary.failed_fraction([]), (0, 0, 0.0))


def raw_record(trace):
    """A small run record shaped like the JVM's output."""
    def passes(kind, traced, scale):
        ops = [op(s, scale * (i + 1), in_bytes=1000, out_bytes=500)
               for i, s in enumerate(summary.SLOTS)]
        return {"kind": kind, "traced": traced, "pass_s": scale * 21, "wall_s": scale * 22,
                "user_cpu_s": scale * 40, "gc_s": 0.5, "peak_heap_mb": 300.0,
                "files_written": 4, "file_bytes_written": 4 * 1048576, "ops": ops}
    rec = {"workload": "w", "seed": 1, "trace": trace, "conf": {}, "sizes": {},
           "slots": {s: f"name{i}_s" for i, s in enumerate(summary.SLOTS)},
           "source_rows": 100, "session_start_s": 4.0, "setup_s": [9.0, 1.0, 2.0],
           "passes": [passes("warmup", False, 3)] + [passes("timed", t, 1 if not t else 1.1)
                                                    for t in ([False, True] * 2 if trace else [False] * 3)]}
    if trace:
        rec["spans"] = [span(0, -1, "pass", "bench", 0, 100),
                        span(1, 0, "op", "ext.Dedup", 0, 60),
                        span(2, 0, "check", "bench", 60, 70)]
        rec["stages"] = [stage(1, 1, ["graft.ext.Dedup$.f(Dedup.scala:1)"], tasks=4, cpu_ns=2e9),
                         stage(2, 1, [], tasks=2, spill_bytes=1048576),
                         stage(3, 2, [], tasks=8)]
        rec["jobs"] = [{"job": 1, "span": 1, "start_ms": 0, "end_ms": 20, "stages": [1]},
                       {"job": 2, "span": 1, "start_ms": 30, "end_ms": 40, "stages": [2]},
                       {"job": 3, "span": 2, "start_ms": 60, "end_ms": 70, "stages": [3]}]
        rec["plans"] = [{"start_ms": 5, "plan_ms": 100}, {"start_ms": 65, "plan_ms": 7}]
    return rec


class Summarize(unittest.TestCase):
    def test_end_to_end_metrics_come_from_untraced_timed_passes(self):
        e2e, layers, detail, failed, attempted = summary.summarize(raw_record(False))
        self.assertEqual(e2e["setup_s"], (4.0 + 2.0, "s"))
        self.assertEqual(e2e["pass_s"], (21, "s"))
        self.assertEqual(e2e["op6_s"], (6, "s"))
        self.assertEqual(e2e["read_bytes_per_row"], (60.0, "B/row"))
        self.assertEqual(layers, {})
        self.assertEqual((failed, attempted), (0, 24))
        self.assertEqual(detail["metrics"]["name5_s"], {"value": 6, "unit": "s"})
        self.assertEqual(detail["metrics"]["pass_s"], {"value": 21, "unit": "s"})
        self.assertEqual(detail["metrics"]["ops_failed_frac"]["value"], 0.0)
        self.assertEqual(detail["timings"]["name0_s"]["n"], 3)

    def test_per_layer_metrics_are_per_traced_pass(self):
        _, layers, _, _, _ = summary.summarize(raw_record(True))
        self.assertEqual(layers["ext.Dedup.tasks"], (3.0, "count"))
        self.assertEqual(layers["ext.Dedup.jobs"], (1.0, "count"))
        self.assertEqual(layers["ext.Dedup.exec_cpu_s"], (1.0, "s"))
        self.assertEqual(layers["ext.Dedup.spill_mb"], (0.5, "MB"))
        self.assertEqual(layers["driver.self_s"], ((60 - 30) / 1e3 / 2, "s"))
        self.assertEqual(layers["driver.plan_s"], (0.1 / 2, "s"))
        self.assertEqual(layers["sync.LakeTable.files_written"], (4.0, "count"))
        self.assertEqual(layers["sync.LakeTable.mean_file_mb"], (1.0, "MB"))
        self.assertAlmostEqual(layers["trace.overhead_s"][0], 21 * 0.1)

    def test_metric_names_match_benchmark_json(self):
        spec = json.loads((HERE.parent.parent / "BENCHMARK.json").read_text())
        e2e, _, _, _, _ = summary.summarize(raw_record(False))
        _, layers, _, _, _ = summary.summarize(raw_record(True))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]},
                         {k: u for k, (_, u) in e2e.items()})
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]},
                         {k: u for k, (_, u) in layers.items()})


if __name__ == "__main__":
    unittest.main()
