#!/usr/bin/env python3
"""Tests of the benchmark itself.

    python3 -m unittest perfbench/test_bench.py          # from the checkout root

The end-to-end test runs the surface workload once (about a minute, plus
the first build) with one op against a missing table and one tampered
golden, and asserts that both are reported as failed, that neither gives a
latency sample, and that the output is bare metric lines ending in the
result object.
"""
import json
import re
import subprocess
import sys
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import run  # noqa: E402


def raw_run(ops_per_pass, errors=(), checks=()):
    """A minimal raw result file as the harness writes it."""
    ops = [{"op": n, "kind": "query", "s": s, "error": errors[i] if i < len(errors) else None}
           for i, (n, s) in enumerate(ops_per_pass)]
    return {
        "setup_s": [9.0, 2.0, 3.0], "live_heap_mb": 80.0, "anchors_s": [0.5, 0.7],
        "checks": [{"op": n, "error": None, "out": ""} for n in checks],
        "passes": [{"traced": False, "wall_s": sum(s for _, s in ops_per_pass), "ops": ops}],
        "layers": {}, "self_s": {}, "extra": {},
    }


class MetricsTest(unittest.TestCase):
    def test_metric_lists_match_benchmark_json(self):
        bench = json.loads((ROOT / "BENCHMARK.json").read_text())
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]}, run.END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, run.PER_LAYER)
        self.assertEqual([w["name"] for w in bench["workloads"]], list(run.WORKLOADS))

    def test_failed_ops_give_no_samples(self):
        raw = raw_run([("a", 1.0), ("b", 100.0), ("c", 3.0)],
                      errors=[None, "boom"], checks=["a", "b", "c"])
        m, _, attempted, failed = run.metrics_of(raw, {"b", "c"}, trace=False)
        self.assertEqual(attempted, 6)
        self.assertEqual(failed, 4)  # b and c at check time, b and c timed
        self.assertEqual(m["op_p50_s"], 1.0)
        self.assertEqual(m["setup_s"], 3.0)

    def test_tail_is_p90(self):
        xs = [float(i) for i in range(1, 21)]
        value, q = run.tail(xs)
        self.assertEqual(q, 90)
        self.assertAlmostEqual(value, 18.1)


class InjectedFailureTest(unittest.TestCase):
    def test_missing_table_and_tampered_golden_fail(self):
        p = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", "surface", "--seed", "7",
             "--seconds", "1", "--trace", "0", "--inject-failure"],
            cwd=ROOT, capture_output=True, text=True, timeout=1800)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        lines = p.stdout.strip().splitlines()
        result = json.loads(lines[-1])
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertFalse(result["correct"])
        failed = {l.split()[1].rstrip(":") for l in lines if l.startswith("FAILED ")}
        self.assertEqual(failed, {"q1_agg@missing_table", "q_topk"})
        # each failed op fails once at check time and once per timed pass
        self.assertGreaterEqual(result["failed"], 4)
        self.assertEqual(set(result["metrics"]), set(run.END_TO_END))
        metric_line = re.compile(r"^([A-Za-z0-9_.]+) (-?[0-9.e+-]+|nan) (\S+)(  # .*)?$")
        for l in lines[:-1]:
            if not l.startswith("FAILED "):
                self.assertRegex(l, metric_line)
        report = json.loads((run.BUILD / "results" / "surface-seed7-trace0.json").read_text())
        raw = json.loads((ROOT / report["raw"]).read_text())
        timed = [o for p in raw["passes"] for o in p["ops"]]
        n_ok = len([o for o in timed if o["op"] not in failed])
        self.assertEqual(result["attempted"] - result["failed"], n_ok + len(raw["checks"]) - 2)


if __name__ == "__main__":
    unittest.main()
