#!/usr/bin/env python3
"""Smoke test of the benchmark: every workload at its tiny size.

Run from the root of a graft checkout (takes about thirteen minutes on
four cores):

    python3 -m unittest perfbench/test_smoke.py

For each workload it checks that a plain run prints every end-to-end
metric with its unit, plus the op count, the tail percentile, op_fail_frac
and the host sentinels, and that the output checks pass; that a traced
run prints every per-layer metric of BENCHMARK.json with its unit; and
that the negative control (one expectation perturbed) makes the checks
fail, with exit code 1.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}
END_TO_END = {"items_per_s": "1/s", "op_p50_s": "s", "op_tail_s": "s",
              "setup_s": "s", "peak_rss_mb": "MB"}
# per-layer metrics only ifcb_feed prints (it is not in BENCHMARK.json)
INGEST = {"sources.index_s": "s", "sources.files_listed": "count", "sources.hdr_s": "s",
          "operators.cruise_s": "s", "operators.ferrybox_s": "s",
          "features.extract_s": "s", "features.rois": "count",
          "features.rois_per_cpu_s": "1/s", "agg.psd_s": "s",
          "sources.state_read_s": "s", "sources.state_rows": "count",
          "sources.sink_s": "s", "sources.rows_appended": "count"}


def run(workload, *extra):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--size", "tiny", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    return p.returncode, [json.loads(x) for x in lines[-2:]] if len(lines) >= 2 else [], p


def per_layer():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


class Smoke(unittest.TestCase):
    def check_plain(self, workload):
        code, out, p = run(workload, "--trace", "0")
        self.assertEqual(code, 0, p.stderr[-2000:])
        diag, res = out[0]["diagnostics"], out[1]
        self.assertEqual(set(res), RESULT_KEYS)
        self.assertTrue(res["correct"])
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 21)
        for name, unit in END_TO_END.items():
            self.assertIn(name, res["metrics"])
            self.assertEqual(res["metrics"][name]["unit"], unit)
            self.assertGreater(res["metrics"][name]["value"], 0)
        self.assertEqual(diag["op_fail_frac"], 0)
        self.assertGreater(diag["op_tail_percentile"], 50)
        self.assertEqual(diag["ops"], res["attempted"])
        for k in ("calib_before_ms", "calib_par_before_ms", "steal_pct", "settings"):
            self.assertIn(k, diag)

    def check_traced(self, workload, extra=None):
        code, out, p = run(workload, "--trace", "1")
        self.assertEqual(code, 0, p.stderr[-2000:])
        res = out[1]
        self.assertTrue(res["correct"])
        want = dict(per_layer(), **(extra or {}))
        self.assertEqual(set(res["metrics"]), set(want))
        for name, unit in want.items():
            self.assertEqual(res["metrics"][name]["unit"], unit)
        self.assertGreater(res["metrics"]["spark.jobs"]["value"], 0)
        self.assertTrue(os.path.exists(out[0]["diagnostics"]["trace_file"]))
        return res["metrics"]

    def check_negative(self, workload):
        code, out, p = run(workload, "--trace", "0", "--perturb", "1")
        self.assertEqual(code, 1, p.stderr[-2000:])
        self.assertFalse(out[1]["correct"])
        self.assertGreaterEqual(out[1]["failed"], 1)

    def test_query_mix(self):
        self.check_plain("query_mix")
        m = self.check_traced("query_mix")
        self.assertGreater(m["queries.plan_s"]["value"], 0)
        self.check_negative("query_mix")

    def test_corpus_dedup(self):
        self.check_plain("corpus_dedup")
        m = self.check_traced("corpus_dedup")
        self.assertGreater(m["operators.lsh_pairs_s"]["value"], 0)
        self.check_negative("corpus_dedup")

    def test_ifcb_feed(self):
        self.check_plain("ifcb_feed")
        m = self.check_traced("ifcb_feed", INGEST)
        self.assertGreater(m["features.extract_s"]["value"], 0)
        self.check_negative("ifcb_feed")

    def test_no_sources(self):
        """Outside a graft checkout the benchmark fails fast, printing no result."""
        import shutil
        import tempfile
        d = tempfile.mkdtemp(dir=os.path.join(ROOT, ".bench_build"))
        try:
            shutil.copytree(HERE, os.path.join(d, "perfbench"),
                            ignore=shutil.ignore_patterns("target", "__pycache__"))
            p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "query_mix",
                                "--seed", "1", "--seconds", "1", "--trace", "0"],
                               cwd=d, capture_output=True, text=True, timeout=170)
            self.assertNotEqual(p.returncode, 0)
            self.assertNotIn('"metrics"', p.stdout)
        finally:
            shutil.rmtree(d)


if __name__ == "__main__":
    unittest.main()
