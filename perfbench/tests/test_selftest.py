"""Self-test of the benchmark: tiny seeded runs of every workload.

    python3 -m unittest discover -s perfbench/tests -v

Run from the repository root. Builds the benchmark first if needed; the
whole test takes a few minutes on four cores.
"""
import json
import os
import subprocess
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
RUN = os.path.join(ROOT, "perfbench", "run.py")

END_TO_END = {"setup_s": "s", "main_s": "s", "op_mean_s": "s"}
WORKLOAD_FIGURES = {
    "tier_store": ["store_bytes_per_turn", "store_gorilla_bytes_per_point"],
    "queries": ["queries_total_s", "query_p50_s", "query_p80_s"],
}
WORKLOAD_LAYERS = {
    "tier_store": [
        "operators.cascade_s", "operators.cascade_turns_per_s", "operators.rollup_1m_s",
        "sources.noop_scan_s", "sources.noop_scan_bytes",
        "store.t1m_s", "store.t1h_s", "store.t1d_s", "store.after_last_commit_s", "store.write_jobs_off_tier",
        "store.jobs", "store.job_busy_s",
        "store.driver_outside_jobs_s", "store.rows_written", "store.files_written", "store.output_bytes",
        "store.sync_s", "store.noop_sync_s", "store.retention_s", "store.days_rebuilt", "store.days_skipped",
        "sources.ice_append_s", "sources.files_read_per_day", "sources.scan_bytes_per_day",
        "functions.gorilla_encode_ns_per_point"],
    "queries": ["q.q_daily_measures_s", "q.q_ann_ivf_s"],
}


def bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def run(workload, seed=7, trace=0, fault="none"):
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", str(seed), "--seconds", "1",
           "--trace", str(trace), "--scale", "tiny", "--fault", fault]
    r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600)
    assert r.returncode == 0, "run failed: %s" % " ".join(cmd)
    lines = r.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


class SelfTest(unittest.TestCase):
    traced = {}

    @classmethod
    def setUpClass(cls):
        for w in ("tier_store", "queries"):
            cls.traced[w] = run(w, trace=1)

    def check_result(self, result, names):
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"], result)
        self.assertEqual(result["failed"], 0)
        self.assertGreaterEqual(result["attempted"], 1)
        self.assertEqual(list(result["metrics"]), [m["name"] for m in names])
        for m in names:
            got = result["metrics"][m["name"]]
            self.assertEqual(got["unit"], m["unit"])
            self.assertIsInstance(got["value"], (int, float))

    def test_end_to_end_metrics_and_checks(self):
        report, result = run("tier_store", trace=0)
        self.check_result(result, bench_json()["end_to_end"])
        for name, unit in END_TO_END.items():
            self.assertGreater(result["metrics"][name]["value"], 0)
            self.assertEqual(result["metrics"][name]["unit"], unit)

    def test_traced_runs_report_every_metric(self):
        for w, (report, result) in self.traced.items():
            with self.subTest(workload=w):
                self.check_result(result, bench_json()["per_layer"])
                self.assertEqual(report["run"]["failures"], [])
                for name in list(END_TO_END) + WORKLOAD_FIGURES[w]:
                    self.assertGreater(report["report"][name], 0, name)
                for name in WORKLOAD_LAYERS[w]:
                    self.assertIn(name, report["layers"])
                for key in ("nproc", "driver_heap_bytes", "spark", "jdk", "seed", "inputs"):
                    self.assertIn(key, report["run"])

    def test_tier_split_covers_the_build(self):
        # the tiers end at their last day markers' modification times; the
        # build's wall time is the sync call's, timed on the driver
        layers = self.traced["tier_store"][0]["layers"]
        tiers = layers["store.t1m_s"] + layers["store.t1h_s"] + layers["store.t1d_s"]
        self.assertLess(abs(tiers - layers["store.build_wall_s"]), 0.05 * layers["store.build_wall_s"])
        # every job that wrote to a tier ran inside that tier's time
        self.assertEqual(layers["store.write_jobs_off_tier"], 0)
        self.assertGreater(layers["store.write_jobs"], 0)
        for t in ("1m", "1h", "1d"):
            self.assertAlmostEqual(
                layers["store.t%s_job_busy_s" % t] + layers["store.t%s_driver_outside_jobs_s" % t],
                layers["store.t%s_s" % t], places=6)

    def test_a_dropped_1m_day_fails_the_check(self):
        report, result = run("tier_store", fault="drop-1m-day")
        self.assertFalse(result["correct"])
        self.assertGreaterEqual(result["failed"], 1)
        self.assertTrue(any("tier sum(n_rows)" in f for f in report["run"]["failures"]), report["run"]["failures"])

    def test_counts_repeat_for_one_seed(self):
        again, _ = run("tier_store", trace=1)
        first = self.traced["tier_store"][0]
        for name in ("store.days_rebuilt", "store.rows_written", "exchange.shuffle_records"):
            self.assertEqual(first["layers"][name], again["layers"][name], name)
        self.assertEqual(first["report"]["store_gorilla_bytes_per_point"],
                         again["report"]["store_gorilla_bytes_per_point"])


if __name__ == "__main__":
    unittest.main()
