#!/usr/bin/env python3
"""Self-tests of the benchmark. Run from the repository root:

    python3 -m unittest perfbench/tests/test_bench.py

- every output check fails when one byte, row or cell is corrupted
  (the Scala checks through perfbench.SelfTest, the query oracle check
  through tools/check.py on tiny tables);
- the printed metric names equal those in BENCHMARK.json, and a metric
  that was not measured on a layer the workload exercises fails the run;
- in a directory holding only BENCHMARK.json and perfbench/, the benchmark
  exits non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(ROOT, "perfbench"))
import build  # noqa: E402
import run  # noqa: E402


def bench_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class ScalaChecks(unittest.TestCase):
    def test_checks_catch_single_corruptions(self):
        classes = build.ensure_built(ROOT)
        jar_dir, _ = build.spark_jars(ROOT)
        p = subprocess.run(
            ["java", "-cp", f"{classes}:{jar_dir}/*", "perfbench.SelfTest"],
            capture_output=True, text=True, timeout=300)
        self.assertEqual(p.returncode, 0, p.stderr[-3000:])
        self.assertIn("selftest ok", p.stdout)


class OracleCheck(unittest.TestCase):
    """query_mix hands its outputs to tools/check.py; one wrong cell or a
    missing row must turn it red."""

    def setUp(self):
        import duckdb
        self.tmp = tempfile.mkdtemp()
        self.sf = os.path.join(self.tmp, "sf")
        self.out = os.path.join(self.tmp, "out")
        os.makedirs(self.sf)
        os.makedirs(os.path.join(self.out, "qx"))
        con = duckdb.connect()
        tables = ["region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings"]
        for t in tables:
            con.sql(f"COPY (SELECT range AS k, range * 2 AS v, "
                    f"'s' || range AS s FROM range(5)) "
                    f"TO '{self.sf}/{t}.parquet' (FORMAT PARQUET)")
        with open(os.path.join(self.out, "oracle_sql.json"), "w") as fh:
            json.dump({"qx": "SELECT k, v, s FROM region"}, fh)
        self.con = con

    def tearDown(self):
        shutil.rmtree(self.tmp, ignore_errors=True)

    def write_output(self, sql):
        self.con.sql(f"COPY ({sql}) TO '{self.out}/qx/part-0.parquet' "
                     "(FORMAT PARQUET)")

    def check(self):
        return subprocess.run(
            [sys.executable, os.path.join(ROOT, "tools", "check.py"),
             self.sf, self.out], capture_output=True, text=True).returncode

    def test_identical_output_passes(self):
        self.write_output(f"SELECT * FROM '{self.sf}/region.parquet'")
        self.assertEqual(self.check(), 0)

    def test_one_cell_fails(self):
        self.write_output(
            f"SELECT k, CASE WHEN k = 3 THEN v + 1 ELSE v END AS v, s "
            f"FROM '{self.sf}/region.parquet'")
        self.assertNotEqual(self.check(), 0)

    def test_one_row_fails(self):
        self.write_output(
            f"SELECT * FROM '{self.sf}/region.parquet' WHERE k <> 2")
        self.assertNotEqual(self.check(), 0)


class MetricNames(unittest.TestCase):
    def test_tables_match_benchmark_json(self):
        b = bench_json()
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         run.E2E)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]},
                         run.PER_LAYER)
        self.assertLessEqual({w["name"] for w in b["workloads"]},
                             set(run.WORKLOADS))

    def test_printed_names_match_benchmark_json(self):
        b = bench_json()
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload",
                 "live_ephys", "--seed", "3", "--seconds", "2",
                 "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=600)
            self.assertEqual(p.returncode, 0, p.stderr[-3000:])
            last = json.loads(p.stdout.strip().splitlines()[-1])
            self.assertEqual(set(last),
                             {"correct", "attempted", "failed", "metrics"})
            self.assertTrue(last["correct"])
            self.assertEqual(set(last["metrics"]),
                             {m["name"] for m in b[key]})


class UnmeasuredMetrics(unittest.TestCase):
    """Only a layer the workload does not exercise may read 0; a missing or
    NaN figure anywhere else fails the run instead of reading as best."""

    def measured(self, workload):
        return {n: 1.0 for n in run.COMMON | run.EXERCISED[workload]}

    def test_exercised_names_are_per_layer_names(self):
        for names in run.EXERCISED.values():
            self.assertLessEqual(names | run.COMMON, set(run.PER_LAYER))

    def test_unexercised_layer_reads_zero(self):
        out = run.printed_metrics("query_mix", 1, self.measured("query_mix"))
        self.assertEqual(set(out), set(run.PER_LAYER))
        self.assertEqual(out["http.mb_s"]["value"], 0.0)
        self.assertEqual(out["query.index_s"]["value"], 1.0)

    def test_missing_or_nan_exercised_metric_fails(self):
        for w in run.EXERCISED:
            for name in run.COMMON | run.EXERCISED[w]:
                for bad in (None, float("nan")):
                    m = self.measured(w)
                    if bad is None:
                        del m[name]
                    else:
                        m[name] = bad
                    with self.assertRaises(SystemExit, msg=(w, name, bad)):
                        run.printed_metrics(w, 1, m)

    def test_missing_end_to_end_metric_fails(self):
        with self.assertRaises(SystemExit):
            run.printed_metrics("record_ingest", 0,
                                {"setup_s": 1.0, "rss_peak_mb": 1.0})


class BareDirectory(unittest.TestCase):
    def test_fails_without_the_program(self):
        tmp = tempfile.mkdtemp()
        try:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp)
            for p in bench_json()["paths"]:
                shutil.copytree(os.path.join(ROOT, p), os.path.join(tmp, p),
                                ignore=shutil.ignore_patterns("__pycache__"))
            for w in bench_json()["workloads"]:
                r = subprocess.run(
                    [sys.executable, "perfbench/run.py", "--workload",
                     w["name"], "--seed", "1", "--seconds", "1",
                     "--trace", "0"],
                    cwd=tmp, capture_output=True, text=True, timeout=180)
                self.assertNotEqual(r.returncode, 0)
                self.assertNotIn('"metrics"', r.stdout)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
