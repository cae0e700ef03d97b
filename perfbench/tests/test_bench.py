"""Tests of the benchmark's own parts: input generation, the oracle and the
HTTP stub. Run from the checkout root:

    python3 -m unittest discover -s perfbench/tests -v
"""
import json
import os
import sys
import tempfile
import unittest
from decimal import Decimal

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import bitacora  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stub  # noqa: E402


def scratch():
    """A temporary directory inside the checkout's work dir."""
    os.makedirs(run.WORK, exist_ok=True)
    return tempfile.TemporaryDirectory(dir=run.WORK)


def write(log):
    with scratch() as d:
        return bitacora.write_jsonl(log, os.path.join(d, "b.jsonl"))


class InputsTest(unittest.TestCase):
    def test_same_seed_same_hash(self):
        self.assertEqual(write(bitacora.deep(7, 5000)), write(bitacora.deep(7, 5000)))

    def test_other_seed_other_hash(self):
        self.assertNotEqual(write(bitacora.deep(7, 5000)), write(bitacora.deep(8, 5000)))

    def test_deep_has_dropped_and_lenient_rows(self):
        with scratch() as d:
            p = os.path.join(d, "b.jsonl")
            bitacora.write_jsonl(bitacora.deep(7, 5000), p)
            rows = bitacora.read_jsonl([p])
        self.assertTrue(any(r[1] is None for r in rows))
        self.assertTrue(any(r[2] == "n/a" for r in rows))
        kept = sum(r[1] is not None for r in rows)
        self.assertLess(kept, len(rows))
        self.assertEqual(sum(k[2] for k in oracle.kpi_from_rows(rows)), kept)


class OracleTest(unittest.TestCase):
    def test_np_mean_midpoint(self):
        # exact mean 373.045; np.mean gives 373.04499999999996 -> 373.04
        vals = ["181.45", "564.64"]
        exact = round(float(Decimal("746.09") / 2), 2)
        self.assertEqual(exact, 373.05)
        rows = [("2024-03-01T00:00:00Z", "/get", "200", v, "ok") for v in vals]
        self.assertEqual(oracle.kpi_from_rows(rows)[0][7], 373.04)

    def test_py_round_midpoint(self):
        # CPython rounds the binary double (696.51499...), not its repr
        rows = [("2024-03-01T00:00:00Z", "/get", "200", "696.515", "ok")]
        kpi = oracle.kpi_from_rows(rows)[0]
        self.assertEqual(kpi[7], 696.51)
        self.assertEqual(kpi[8], 696.51)

    def test_lenient_casts_and_keys(self):
        rows = [("2024-03-01T00:00:00Z", "/status/404?x=1", "n/a", "100.5", "ok"),
                ("2024-03-01T10:00:00Z", "/status/500", "500", "bad", "ok"),
                ("2024-03-01T11:00:00Z", "/basic-auth/u/p", "200", "10", None),
                (None, "/get", "200", "1", "ok")]
        kpi = oracle.kpi_from_rows(rows)
        self.assertEqual(kpi[0][:7], ("2024-03-01", "/basic-auth", 1, 1, 0, 0, 1))
        self.assertEqual(kpi[1][:7], ("2024-03-01", "/status", 2, 0, 0, 1, 2))
        self.assertEqual(kpi[1][7], round(float(np.mean([100.5, 0.0])), 2))


class OutputCheckTest(unittest.TestCase):
    KPI = [("2024-03-01", "/get", 2, 2, 0, 0, 0, 373.04, 555.32)]
    HEADER = ("date_utc,endpoint_base,requests_total,success_2xx,client_4xx,"
              "server_5xx,parse_errors,avg_elapsed_ms,p90_elapsed_ms\n")

    def check(self, row):
        with scratch() as d:
            with open(os.path.join(d, "part-00000.csv"), "w") as fh:
                fh.write(self.HEADER + row + "\n")
            return oracle.check_kpi_csv(d, self.KPI)

    def test_exact_csv_passes(self):
        self.assertIsNone(self.check("2024-03-01,/get,2,2,0,0,0,373.04,555.32"))

    def test_one_cent_off_fails(self):
        self.assertIn("KPI row 0", self.check("2024-03-01,/get,2,2,0,0,0,373.05,555.32"))

    def test_missing_chart_fails(self):
        with scratch() as d:
            self.assertIn("missing chart", oracle.check_png(os.path.join(d, "x.png")))


class BenchmarkFileTest(unittest.TestCase):
    def test_metric_names_match(self):
        with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
            b = json.load(fh)
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]}, run.E2E_UNITS)
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]}, run.per_layer_units())
        self.assertEqual({w["name"] for w in b["workloads"]}, set(run.WORKLOADS))


class StubTest(unittest.TestCase):
    """Drives the program's HTTP client stage against the stub."""

    def test_hits_match_retry_policy(self):
        import build
        import jvm
        env = jvm.Env(os.path.join(run.WORK, "test"), build.classpath())
        with stub.Stub() as s, scratch() as d:
            res = os.path.join(d, "r.json")
            rc, _, _ = env.run(["launch", "graft.cli.ClienteHttp", "cliente_http", res,
                                "--base_url", s.base_url, "--out", d],
                               os.path.join(d, "jvm.log"), 60)
            self.assertEqual(rc, 0)
            self.assertIsNone(s.check_artifacts(d))
            # maxRetries=2: three attempts, linear backoff 0.5 s then 1.0 s
            self.assertEqual(s.hits["/status/403"], 3)
            self.assertEqual(s.retries(), 2)
            t = s.times["/status/403"]
            self.assertGreaterEqual(t[1] - t[0], 0.5)
            self.assertGreaterEqual(t[2] - t[1], 1.0)
            # one hit per task, plus the cookie and redirect follow-ups
            self.assertEqual(s.hits["/cookies"], 2)
            self.assertEqual(s.hits["/get"], 2)
            self.assertEqual(s.requests(), 13)


if __name__ == "__main__":
    unittest.main()
