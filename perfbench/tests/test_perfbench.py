"""Tests of the benchmark itself, on tiny inputs (--smoke).

    python3 -m unittest discover -s perfbench/tests -v

Each test runs perfbench/run.py in a subprocess, as the benchmark's users do.
"""
import json
import subprocess
import sys
import unittest
from pathlib import Path

BENCH = Path(__file__).resolve().parent.parent
ROOT = BENCH.parent

NAMED = {
    "curate_batch": {"setup_s": "s", "fail_ratio": "ratio", "job_s_p50": "s", "job_s_p90": "s",
                     "docs_per_s": "docs/s", "op_cpu_ms_p50": "ms"},
    "ingest_stream": {"setup_s": "s", "fail_ratio": "ratio", "microbatch_ms_p50": "ms",
                      "microbatch_ms_p90": "ms", "ingest_rows_per_s": "rows/s", "op_cpu_ms_p50": "ms"},
    "query_mix": {"setup_s": "s", "fail_ratio": "ratio", "query_s_p50": "s",
                  "query_s_p90": "s", "queries_per_s": "q/s", "op_cpu_ms_p50": "ms"},
}


def run(workload, trace, *extra):
    """Returns (report, result) of one smoke run."""
    r = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", workload,
                        "--seed", "1", "--seconds", "1", "--trace", str(trace), "--smoke", *extra],
                       cwd=ROOT, capture_output=True, text=True, timeout=900)
    if r.returncode != 0:
        raise AssertionError(f"run.py exited {r.returncode}:\n{r.stderr[-4000:]}")
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def self_times(spans):
    """Each layer's self time (span minus the union of its direct children),
    summed per layer and divided by the number of root spans holding it."""
    by_id = {s["id"]: s for s in spans}

    def root(s):
        while s["parent"] >= 0:
            s = by_id[s["parent"]]
        return s["id"]

    totals, roots = {}, {}
    for s in spans:
        kids = sorted((max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                      for c in spans if c["parent"] == s["id"])
        covered, reach = 0, s["start_ns"]
        for a, b in kids:
            if b > reach:
                covered += b - max(a, reach)
                reach = b
        layer = s["name"].split(".")[0]
        totals[layer] = totals.get(layer, 0) + (s["end_ns"] - s["start_ns"] - covered) / 1e9
        roots.setdefault(layer, set()).add(root(s))
    return {k: v / len(roots[k]) for k, v in totals.items()}


class SelfTimeTest(unittest.TestCase):
    def test_children_union_is_subtracted_once(self):
        spans = [
            {"id": 0, "parent": -1, "name": "op.job", "start_ns": 0, "end_ns": 10_000_000_000},
            {"id": 1, "parent": 0, "name": "config.parse", "start_ns": 1_000_000_000, "end_ns": 3_000_000_000},
            {"id": 2, "parent": 0, "name": "pipeline.run", "start_ns": 2_000_000_000, "end_ns": 6_000_000_000},
            {"id": 3, "parent": 2, "name": "io.sink", "start_ns": 4_000_000_000, "end_ns": 5_000_000_000},
        ]
        st = self_times(spans)
        self.assertAlmostEqual(st["op"], 5.0)
        self.assertAlmostEqual(st["config"], 2.0)
        self.assertAlmostEqual(st["pipeline"], 3.0)
        self.assertAlmostEqual(st["io"], 1.0)


class WorkloadTest(unittest.TestCase):
    def check_untraced(self, workload):
        report, res = run(workload, 0)
        self.assertEqual(set(res), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(res["correct"], report)
        self.assertEqual(res["failed"], 0)
        self.assertGreaterEqual(res["attempted"], 1)
        want = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
        self.assertEqual({k: v["unit"] for k, v in res["metrics"].items()}, want)
        for k, v in res["metrics"].items():
            self.assertGreater(v["value"], 0, k)
        self.assertEqual({k: v["unit"] for k, v in report["named"].items()}, NAMED[workload])
        self.assertEqual(report["named"]["fail_ratio"]["value"], 0.0)
        for k in ("git_commit", "seed", "nproc", "spark", "jdk", "session_conf",
                  "load_avg_1m_at_start"):
            self.assertIn(k, report["provenance"])
        return report

    def check_traced(self, workload):
        _, res = run(workload, 1)
        self.assertTrue(res["correct"])
        want = {m["name"]: m["unit"] for m in spec()["per_layer"]}
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        self.assertEqual({k: got.get(k) for k in want}, want)
        spans = json.loads((ROOT / ".bench_work" / workload / "trace.json").read_text())
        self.assertTrue(spans)
        for layer, secs in self_times(spans).items():
            self.assertAlmostEqual(res["metrics"][f"self.{layer}_s"]["value"], secs, places=6)
        return res["metrics"]

    def test_curate_batch(self):
        self.check_untraced("curate_batch")
        m = self.check_traced("curate_batch")
        self.assertGreater(m["stage.total_s"]["value"], 0)
        self.assertGreater(m["pipeline.compose_s"]["value"], 0)
        self.assertGreater(m["stage.temperature_sample.rows_out"]["value"], 0)

    def test_ingest_stream(self):
        self.check_untraced("ingest_stream")
        m = self.check_traced("ingest_stream")
        self.assertGreater(m["stream.batches"]["value"], 0)
        self.assertGreater(m["stream.history_rows"]["value"], 0)

    def test_query_mix(self):
        self.check_untraced("query_mix")
        m = self.check_traced("query_mix")
        self.assertGreater(m["query.q1_pricing_summary.s_p50"]["value"], 0)

    def test_sink_rows_grow_with_replicas(self):
        rows = [run("curate_batch", 0, "--replicas", str(n))[0]["provenance"]["sink_rows"]
                for n in (1, 2)]
        self.assertGreater(rows[1], rows[0])


if __name__ == "__main__":
    unittest.main()
