"""The benchmark's own tests.

    python3 -m unittest discover -s e2ebench/tests -v

Run from the repository root. The smoke test builds the harness on first
use and runs every workload at sf0.001 (a few minutes).
"""
import json
import os
import subprocess
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.dont_write_bytecode = True

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402


class RecordSchema(unittest.TestCase):

    def test_benchmark_json_matches_the_metrics_the_runs_print(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            b = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in b["end_to_end"]], metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"]) for m in b["per_layer"]], metrics.PER_LAYER)
        self.assertIn(("setup_s", "s"), metrics.END_TO_END)
        setup_bound = next(m["bound"] for m in b["end_to_end"] if m["name"] == "setup_s")
        self.assertEqual(setup_bound, max(m["bound"] for m in b["end_to_end"]))

    def test_every_metric_is_present_with_a_unit(self):
        rec = {"ops": [{"name": "a", "status": "ok", "secs": 1.0, "traced": False},
                       {"name": "b", "status": "failed", "secs": 2.0, "traced": False}],
               "passes": [{"secs": 3.0, "traced": False}], "cold_s": 4.0, "measure_start_ms": 10_000,
               "peak_rss_kb": 2048, "layers": {}}
        values, attempted, failed, _ = metrics.end_to_end(rec, 5.0, set())
        line = metrics.result_line(values, metrics.END_TO_END, failed == 0, attempted, failed)
        self.assertEqual(set(line), {"correct", "attempted", "failed", "metrics"})
        self.assertEqual((line["attempted"], line["failed"], line["correct"]), (2, 1, False))
        self.assertEqual({k for k, _ in metrics.END_TO_END}, set(line["metrics"]))
        for name, unit in metrics.END_TO_END:
            self.assertEqual(line["metrics"][name]["unit"], unit)
        self.assertEqual(line["metrics"]["setup_s"]["value"], 5.0)
        self.assertEqual(line["metrics"]["ok_ops_frac"]["value"], 0.5)
        values, _, _, _ = metrics.per_layer(rec, set())
        self.assertEqual({k for k, _ in metrics.PER_LAYER}, set(values))

    def test_wrong_output_fails_every_execution_of_that_operation(self):
        rec = {"ops": [{"name": "a", "status": "ok", "secs": 1.0}, {"name": "a", "status": "ok", "secs": 1.0},
                       {"name": "b", "status": "ok", "secs": 1.0}], "passes": []}
        _, attempted, failed, _ = metrics.end_to_end(rec, 0.0, {"a"})
        self.assertEqual((attempted, failed), (3, 2))


class TailPercentile(unittest.TestCase):

    def test_highest_percentile_with_ten_samples_beyond(self):
        xs = list(range(1, 101))  # 100 samples: p90 is the 90th value, 10 lie above it
        self.assertEqual(metrics.tail(xs), (90, 90))
        self.assertEqual(metrics.tail(list(range(1, 31))), (66, 20))
        self.assertEqual(metrics.tail(list(range(1, 21))), (50, 10))

    def test_fewer_than_twenty_samples_fall_back_to_the_median(self):
        self.assertEqual(metrics.tail([3.0, 1.0]), (50, 2.0))
        self.assertEqual(metrics.tail([5.0]), (50, 5.0))

    def test_order_does_not_matter(self):
        xs = [float(i % 37) for i in range(250)]
        self.assertEqual(metrics.tail(xs), metrics.tail(sorted(xs, reverse=True)))


class FeedGenerator(unittest.TestCase):

    @classmethod
    def setUpClass(cls):
        cls.tables = gen.make_tables(0.001)

    def test_same_seed_same_feed_and_t0(self):
        a, t0a = gen.square_feed(self.tables, 7)
        b, t0b = gen.square_feed(gen.make_tables(0.001), 7)
        self.assertEqual(t0a, t0b)
        self.assertEqual(json.dumps(a, sort_keys=True), json.dumps(b, sort_keys=True))

    def test_different_seed_different_t0(self):
        t0s = {gen.square_feed(self.tables, s)[1] for s in (1, 2, 3)}
        self.assertEqual(len(t0s), 3)

    def test_tables_do_not_depend_on_the_seed(self):
        with tempfile.TemporaryDirectory() as d:
            gen.write_tables(d, 0.001)
            self.assertEqual(sorted(os.listdir(d)), sorted(f"{t}.parquet" for t in gen.TABLES))

    def test_expected_state_grows_with_hourly_runs(self):
        feed, t0 = gen.square_feed(self.tables, 3)
        before = checks.square_expected(feed, t0, 0)
        after = checks.square_expected(feed, t0, 48)
        self.assertGreater(len(after["pos_payments"]), len(before["pos_payments"]))
        self.assertEqual(len(before["pos_catalog"]), len(self.tables["part"]))


class SquareCheck(unittest.TestCase):
    """The warehouse check passes the predicted state and catches drift."""

    def write_warehouse(self, d, exp, mutate=None):
        import pandas as pd
        for table, (keys, cols) in checks.SQUARE_TABLES.items():
            df = pd.DataFrame(exp[table], columns=cols)
            for k in ("tenant_id", "provider", "provider_account_id"):
                df[k] = k
            if "created_at" in df:
                df["created_at"] = pd.to_datetime(df["created_at"], unit="s", utc=True)
            if mutate:
                df = mutate(table, df)
            os.makedirs(os.path.join(d, table))
            df.to_parquet(os.path.join(d, table, "part-0.parquet"), index=False)

    def check(self, mutate=None):
        feed, t0 = gen.square_feed(gen.make_tables(0.001), 4)
        exp = checks.square_expected(feed, t0, 3)
        with tempfile.TemporaryDirectory() as d:
            self.write_warehouse(d, exp, mutate)
            return checks.square_check(d, feed, t0, 3)

    def test_predicted_state_passes(self):
        self.assertEqual(set(self.check().values()), {"PASS"})

    def test_changed_amount_fails(self):
        def bump(table, df):
            if table == "pos_payments":
                df.loc[0, "amount"] += 1
            return df
        self.assertEqual(self.check(bump)["pos_payments"], "content hash differs")

    def test_duplicate_key_fails(self):
        def dup(table, df):
            if table == "pos_categories":
                df = df.copy()
                df.loc[0, "category_id"] = df.loc[1, "category_id"]
            return df
        self.assertIn("duplicate", self.check(dup)["pos_categories"])


class Smoke(unittest.TestCase):
    """Every workload end to end at sf0.001: outputs check, record complete."""

    def run_bench(self, workload, trace):
        out = subprocess.run(
            [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "5",
             "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
            cwd=ROOT, capture_output=True, text=True, timeout=1200)
        self.assertEqual(out.returncode, 0, out.stderr[-2000:])
        line = json.loads(out.stdout.strip().splitlines()[-1])
        units = metrics.PER_LAYER if trace else metrics.END_TO_END
        self.assertEqual(set(line["metrics"]), {k for k, _ in units})
        self.assertTrue(line["correct"], out.stdout[-3000:])
        self.assertEqual(line["failed"], 0)
        return line["metrics"]

    def test_gates(self):
        m = self.run_bench("gates", 0)
        self.assertGreater(m["pass_s"]["value"], 0)

    def test_square_etl_traced(self):
        m = self.run_bench("square-etl", 1)
        self.assertGreater(m["upsert.rows_written"]["value"], 0)
        self.assertGreater(m["sources.json_records"]["value"], 0)

    def test_olap(self):
        self.run_bench("olap", 0)

    def test_refuses_a_directory_without_the_engine(self):
        with tempfile.TemporaryDirectory() as d:
            out = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", "gates",
                                  "--seed", "1", "--seconds", "1", "--trace", "0"],
                                 cwd=d, capture_output=True, text=True, timeout=60)
            self.assertNotEqual(out.returncode, 0)
            self.assertEqual(out.stdout, "")


if __name__ == "__main__":
    unittest.main()
