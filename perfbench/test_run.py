"""Tests for the benchmark itself.

    python3 -m unittest perfbench/test_run.py      # all, with the smoke runs
    python3 -m unittest perfbench.test_run.TailRule perfbench.test_run.MetricsArePrinted

The smoke runs build graft when needed and run every workload once on
sf0.001-sized inputs; each must end with failed_share = 0.
"""
import json
import os
import subprocess
import sys
import unittest

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
import run  # noqa: E402


def fake_record(workload):
    """A JVM record with the fields `run.py` reads, for one workload."""
    samples = {"batch_s": [0.5, 0.6, 0.7], "first_batch_s": [1.0],
               "pass_traced_s": [2.0], "pass_plain_s": [1.9],
               "dv.batch.files_per_object": [100, 200],
               "first|a": [1.0], "first|b": [2.0], "repeat|a": [0.5, 0.4],
               "repeat|b": [0.3, 0.2]}
    values = {"go_s": 5.0, "reload_s": 2.0, "rows_offered": 100, "stream_s": 10.0,
              "dv.compact_s": 2.0, "dv.go.bytes": 1000, "src_bytes": 100,
              "dv.classify_s": 1.0, "input_rows": 1000, "stream_wall_s": 10.0,
              "repeat_passes": 2, "gc_s": 0.1, "repeat.construct_s": 0.2,
              "repeat.action_s": 0.5}
    return {"setup_s": 3.0, "attempted": 10, "samples": samples, "values": values,
            "counts": {}, "oracle": {}, "failures": []}


class TailRule(unittest.TestCase):
    def test_leaves_exactly_ten_samples_beyond(self):
        xs = list(range(1, 41))          # 40 samples
        value, pct, n = run.tail(xs)
        self.assertEqual(n, 40)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual(value, 30)
        self.assertAlmostEqual(pct, 100.0 * 29 / 39)

    def test_is_the_highest_such_percentile(self):
        xs = [float(i) for i in range(100)]
        value, pct, _ = run.tail(xs)
        self.assertEqual(sum(1 for x in xs if x > value), 10)
        self.assertEqual(value, 89.0)
        self.assertAlmostEqual(pct, 89.0 * 100 / 99)

    def test_too_few_samples(self):
        self.assertIsNone(run.tail([1.0] * 10))
        self.assertEqual(run.tail([float(i) for i in range(11)])[0], 0.0)

    def test_order_does_not_matter(self):
        self.assertEqual(run.tail([5, 1, 4, 2, 3] * 5), run.tail(sorted([5, 1, 4, 2, 3] * 5)))

    def test_percentile_interpolates(self):
        self.assertEqual(run.percentile([1, 2, 3, 4], 50), 2.5)
        self.assertEqual(run.percentile([3, 1, 2], 90), 2.8)


class MetricsArePrinted(unittest.TestCase):
    def test_lists_match_benchmark_json(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["end_to_end"]], run.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in spec["per_layer"]], run.PER_LAYER)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(run.WORKLOADS))

    def test_every_workload_reports_every_metric(self):
        for w in run.WORKLOADS:
            e2e, detail = run.end_to_end(w, fake_record(w))
            self.assertEqual(set(e2e), {k for k, _ in run.END_TO_END}, w)
            self.assertTrue(all(v is not None and v > 0 for v in e2e.values()), (w, e2e))
            layers = run.per_layer(w, fake_record(w))
            self.assertEqual(set(layers), {k for k, _ in run.PER_LAYER}, w)

    def test_details_carry_the_workload_specific_names(self):
        want = {"ops": {"suite_first_s", "suite_s", "op_p50_s", "op_p90_s"},
                "vault": {"go_s", "reload_s", "batch_p50_s", "batch_tail_s",
                          "ingest_rows_per_s", "vault_bytes_per_src_byte"},
                "events_stream": {"stream_batch_p50_s", "stream_batch_p90_s",
                                  "stream_events_per_s"}}
        for w, names in want.items():
            _, detail = run.end_to_end(w, fake_record(w))
            self.assertTrue(names <= set(detail), (w, names - set(detail)))


class Smoke(unittest.TestCase):
    def run_workload(self, w, trace):
        r = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", w,
                            "--seed", "7", "--seconds", "1", "--trace", str(trace),
                            "--sf", "0.001"],
                           cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                           timeout=900)
        self.assertEqual(r.returncode, 0, r.stderr[-3000:])
        lines = r.stdout.strip().splitlines()
        return [json.loads(x) for x in lines if x.startswith("{")]

    def test_all_workloads(self):
        for w in run.WORKLOADS:
            out = self.run_workload(w, 0)
            last, detail = out[-1], out[0]["detail"]
            self.assertTrue(last["correct"], out)
            self.assertEqual(last["failed"], 0)
            self.assertEqual(detail["failed_share"], 0)
            units = dict(run.END_TO_END)
            for k, m in last["metrics"].items():
                self.assertEqual(m["unit"], units[k])
            self.assertEqual(set(last["metrics"]), set(units))

    def test_traced_run(self):
        last = self.run_workload("ops", 1)[-1]
        self.assertTrue(last["correct"])
        self.assertEqual(set(last["metrics"]), {k for k, _ in run.PER_LAYER})
        self.assertGreater(last["metrics"]["scheduling.jobs"]["value"], 0)


if __name__ == "__main__":
    unittest.main()
