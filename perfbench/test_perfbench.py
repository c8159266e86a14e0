"""The benchmark's own tests: every workload at a tiny size emits its
metrics with their units and passes its correctness checks, its result
line carries every BENCHMARK.json metric, and a planted wrong answer fails
the checks.

    python3 -m unittest perfbench/test_perfbench.py     (from the repo root; ~10 min)
"""
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import run  # noqa: E402

# The workloads' own end-to-end metrics, with units.
E2E = {
    "serve_mix": {"setup_s": "s", "write_p50_ms": "ms", "write_p99_ms": "ms",
                  "ingest_samples_per_s": "samples/s", "read_p50_ms": "ms",
                  "read_p99_ms": "ms", "bytes_per_user_byte": "ratio",
                  "live_heap_mb": "MB", "peak_rss_mb": "MB", "error_rate": "ratio"},
    "read_large": {"setup_s": "s", "read_p50_ms": "ms", "read_p99_ms": "ms",
                   "point_reads_per_s": "reads/s", "range_read_p50_ms": "ms",
                   "range_read_p99_ms": "ms", "bytes_per_user_byte": "ratio",
                   "live_heap_mb": "MB", "peak_rss_mb": "MB", "error_rate": "ratio"},
    "analytics": {"setup_s": "s", "query_ts_s": "s", "query_pipeline_s": "s",
                  "rows_per_s": "1/s", "bytes_per_user_byte": "ratio",
                  "live_heap_mb": "MB", "peak_rss_mb": "MB", "error_rate": "ratio"},
}
E2E["analytics_full"] = E2E["analytics"]


class TinyRuns(unittest.TestCase):
    cp = None

    @classmethod
    def setUpClass(cls):
        cls.cp = run.build()
        cls.spec = run.load_spec()

    def _run(self, workload, trace, plant=False):
        return run.run_jvm(self.cp, workload, seed=3, seconds=2, trace=trace,
                           size="tiny", plant_wrong=plant)

    def _check(self, workload):
        for trace in (0, 1):
            res = self._run(workload, trace)
            self.assertTrue(res["correct"], res["wrong"])
            self.assertEqual(res["failed"], 0, res["failures"])
            self.assertGreater(res["attempted"], 0)
            m = res["metrics"]
            for name, unit in E2E[workload].items():
                self.assertIn(name, m, f"{workload} trace={trace}")
                self.assertEqual(m[name]["unit"], unit, name)
            if workload in run.E2E_SOURCE:
                # raises if a metric the workload must emit is missing
                out = run.contract_metrics(res, trace, self.spec)
                if not trace:
                    self.assertTrue(all(v["value"] > 0 for v in out.values()), out)
        planted = self._run(workload, 0, plant=True)
        self.assertFalse(planted["correct"], "a planted wrong answer must fail the check")

    def test_serve_mix(self):
        self._check("serve_mix")

    def test_read_large(self):
        self._check("read_large")

    def test_analytics(self):
        self._check("analytics")

    def test_analytics_full(self):
        self._check("analytics_full")


class ContractMetrics(unittest.TestCase):
    SPEC = {"end_to_end": [{"name": "setup_s", "unit": "s"},
                           {"name": "throughput_per_s", "unit": "1/s"}],
            "per_layer": [{"name": "tsdb.flush.p50_ms", "unit": "ms"},
                          {"name": "q.dd_semdedup.s", "unit": "s"}]}

    def _res(self, **metrics):
        return {"workload": "serve_mix",
                "metrics": {k: {"value": v, "unit": "x"} for k, v in metrics.items()}}

    def test_maps_and_fills_untouched_layers(self):
        out = run.contract_metrics(self._res(setup_s=2.0, ingest_samples_per_s=9.0), 0, self.SPEC)
        self.assertEqual(out["throughput_per_s"], {"value": 9.0, "unit": "1/s"})
        out = run.contract_metrics(self._res(**{"tsdb.flush.p50_ms": 4.0}), 1, self.SPEC)
        self.assertEqual(out["q.dd_semdedup.s"]["value"], 0.0)

    def test_missing_or_null_metric_fails(self):
        with self.assertRaises(run.BenchError):
            run.contract_metrics(self._res(setup_s=2.0), 0, self.SPEC)
        with self.assertRaises(run.BenchError):
            run.contract_metrics(self._res(), 1, self.SPEC)
        with self.assertRaises(run.BenchError):
            run.contract_metrics(self._res(**{"tsdb.flush.p50_ms": None}), 1, self.SPEC)


if __name__ == "__main__":
    unittest.main()
