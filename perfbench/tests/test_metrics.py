"""The benchmark's own tests: python3 -m unittest discover perfbench/tests"""
import json
import os
import sys
import unittest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_p99_needs_a_thousand_samples(self):
        with self.assertRaises(ValueError):
            metrics.pct(range(999), 0.99)
        self.assertEqual(metrics.pct(range(1000), 0.99), 989)

    def test_p50_needs_twenty(self):
        with self.assertRaises(ValueError):
            metrics.pct(range(19), 0.5)
        self.assertEqual(metrics.pct(range(1, 21), 0.5), 10)

    def test_highest_allowed_level(self):
        self.assertIsNone(metrics.highest_allowed(19))
        self.assertEqual(metrics.highest_allowed(20), 0.5)
        self.assertEqual(metrics.highest_allowed(100), 0.9)
        self.assertEqual(metrics.highest_allowed(999), 0.9)
        self.assertEqual(metrics.highest_allowed(1000), 0.99)


def fake_raw(workload):
    """A raw record shaped like perfbench.Main's, with plausible numbers."""
    n = [0.1 * (i + 1) for i in range(1200)]
    host = {"spin_s": 0.13, "bare_s": 0.04}
    common = {"session": {"cores": 4}, "host_start": host, "host_end": host,
              "jvm.codecache_mb": 80.0, "cold_start_s": 14.0,
              **{f"codec.{c}_ns_per_frame": 90.0 for c in metrics.CODEC},
              **{f"kernel.{k}_ns_per_row": 900.0 for k in metrics.KERNELS}}
    ld = {
        "values": dict(common, **{
            "backfill_s": 4.0, "backfill_lines": 100000, "readlogs_batch_s": 16.0, "table.bytes": 1e7,
            "table.line_bytes": 9e6, "table.files": 20, "pump.bursts": 900,
            "ingest.skipped_frames": 0, "logops.reads": 24, "logops.rows_returned": 2400}),
        "samples": {k: n for k in (
            "setup_s", "live_heap_mb", "readlogs_s", "readlogs_range_s", "readlogs_tail_s",
            "readlogs_history_s", "readlogs_recent_s",
            "follow_lag_s", "gen_late_s", "server.start_logging_s", "readlogs_ttfb_s",
            "readlogs_body_s", "readlogs_frames", "follow_burst_gap_s",
            "follow_frames_per_burst", "pump.burst_bytes", "pump.stage_lag_s",
            "table.files_per_partition", "retention.sweep_s", "retention.compact_s",
            "retention.dropped", "retention.rewritten", "retention.files_compacted",
            "logops.build_s", "logops.exec_s")},
        "attempted": 30, "failures": []}
    q = {
        "values": dict(common, **{
            "pass_s": 12.0, "memo.persisted_rdds": 3, "memo.storage_mb": 10.0,
            "layout.report": {"lineitem:l_orderkey@x": "built:0.5"},
            "queries": {f"q_{f}_x{i}": {"s": 0.5, "build_s": 0.1, "exec_s": 0.4}
                        for i in range(3) for f in metrics.FAMILIES}}),
        "samples": {"setup_s": [1.0, 1.1, 1.2], "live_heap_mb": [300.0]},
        "attempted": 30, "failures": []}
    progress = [{"query": "a", "batch": i, "timestamp_ms": 1000 * i, "lines": 10,
                 "duration_ms": {"triggerExecution": 100, "latestOffset": 5,
                                 "getBatch": 1, "addBatch": 80, "walCommit": 3}}
                for i in range(200)]
    main, probe = (ld, q) if workload == "logdriver" else (q, ld)
    return {"record": main, "probe": probe, "groups": {}, "progress": progress}


class ArtifactNames(unittest.TestCase):
    def setUp(self):
        with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
            self.bench = json.load(fh)

    def test_every_benchmark_name_with_its_unit(self):
        e2e = {m["name"]: m["unit"] for m in self.bench["end_to_end"]}
        layers = {m["name"]: m["unit"] for m in self.bench["per_layer"]}
        for w in (x["name"] for x in self.bench["workloads"]):
            raw = fake_raw(w)
            got = metrics.end_to_end(w, raw)
            self.assertEqual({k: u for k, (_, u) in got.items()}, e2e, w)
            got = metrics.per_layer(w, fake_raw(w), 4)
            self.assertEqual({k: u for k, (_, u) in got.items() if k in layers}, layers, w)
            missing = set(layers) - set(got)
            self.assertFalse(missing, f"{w}: {sorted(missing)}")


class QueryChecks(unittest.TestCase):
    """A query that throws, or whose result is missing, makes the run
    incorrect; it is never dropped from the check."""

    def check(self, failures):
        import tempfile
        raw = {"record": {"attempted": 1, "failures": list(failures)}}
        with tempfile.TemporaryDirectory() as results:
            run.check_queries(raw, ["q_a"], results, {"q_a": {"rows": 1, "digest": "x"}})
        return raw["record"]

    def test_missing_result_is_wrong(self):
        rec = self.check([])
        self.assertEqual([(f["name"], f["kind"]) for f in rec["failures"]],
                         [("q_a.check", "wrong")])
        self.assertFalse(run.correct(rec))
        self.assertEqual(rec["attempted"], 2)

    def test_query_that_threw_is_named_once(self):
        rec = self.check([{"name": "q_a", "kind": "wrong", "reason": "boom"}])
        self.assertEqual(len(rec["failures"]), 1)
        self.assertFalse(run.correct(rec))

    def test_failed_operation_alone_leaves_run_correct(self):
        self.assertTrue(run.correct({"failures": [
            {"name": "readlogs.tail", "kind": "failed", "reason": "refused"}]}))


class SeedOnlyChangesInputs(unittest.TestCase):
    def test_command_differs_only_in_the_seed(self):
        class A:
            workload, seconds, trace = "queries", 10.0, 0
        a, b = A(), A()
        a.seed, b.seed = 1, 2
        lists = {"fixture": "/f"}
        ca, cb = run.java_command("cp", a, "/r", lists), run.java_command("cp", b, "/r", lists)
        diff = [(x, y) for x, y in zip(ca, cb) if x != y]
        self.assertEqual(diff, [("1", "2")])
        self.assertEqual(len(ca), len(cb))


if __name__ == "__main__":
    unittest.main()
