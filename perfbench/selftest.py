"""Self-tests of the benchmark.

  python3 perfbench/selftest.py          # fast checks, no Spark
  python3 perfbench/selftest.py --smoke  # also run every workload on the sf0.001
                                         # tables, untraced and traced, plus forced faults

The smoke runs print every metric with its unit.  The fault run forces an
exception in one gate's cold execution and a wrong output in another
gate's check; both must stay counted although every later execution of
those gates succeeds.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from metrics import END_TO_END, PER_LAYER  # noqa: E402
from sparkstats import parse_metric  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

def bench(workload: str, trace: int, *extra: str) -> dict:
    """One run through the command line; returns its last stdout line."""
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke", *extra],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=200, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


class Static(unittest.TestCase):
    def test_benchmark_json_matches_code(self):
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        self.assertEqual([w["name"] for w in spec["workloads"]], list(WORKLOADS))
        self.assertEqual({m["name"]: m["unit"] for m in spec["end_to_end"]}, END_TO_END)
        self.assertEqual({m["name"]: m["unit"] for m in spec["per_layer"]}, PER_LAYER)

    def test_failure_is_never_overwritten(self):
        from worker import Tally

        t = Tally(["q1", "q2", "q3", "q4"])
        t.record("cold", "q1", "boom")  # raised once ...
        t.record("warm", "q1", None)  # ... then succeeded
        t.record("check", "q1", None)
        t.record("check", "q2", "rows 9 vs oracle 10")  # a wrong answer weighs the same
        t.record("cold", "q3", None)
        self.assertEqual((t.attempted, t.failed, t.fail_frac), (4, 2, 0.5))

    def test_gates_exist_and_have_oracles(self):
        sys.path.insert(0, ROOT)
        import __spark_entry__

        queries, oracle = __spark_entry__.queries(), __spark_entry__.oracle_sql()
        for w in WORKLOADS.values():
            self.assertEqual(len(set(w.gates)), len(w.gates))
            for g in w.gates:
                self.assertIn(g, queries)
                self.assertIn(g, oracle)

    def test_parse_metric(self):
        self.assertEqual(parse_metric("15,000"), 15000)
        self.assertEqual(parse_metric("1.5 s"), 1.5)
        self.assertEqual(parse_metric("250 ms"), 0.25)
        self.assertEqual(parse_metric("2.0 KiB"), 2048)
        multi = "total (min, med, max (stageId: taskId))\n3.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB (stage 1.0: task 2))"
        self.assertEqual(parse_metric(multi), 3 * 2**20)

    def test_tables_are_shipped(self):
        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from oracle_check import TABLES
        from workloads import SMOKE_TABLES_DIR, TABLES_DIR

        for d in (TABLES_DIR, SMOKE_TABLES_DIR):
            for t in TABLES:
                self.assertTrue(os.path.isfile(os.path.join(d, f"{t}.parquet")), (d, t))


@unittest.skipUnless("--smoke" in sys.argv, "pass --smoke to run Spark")
class Smoke(unittest.TestCase):
    def _check(self, res: dict, names: dict) -> None:
        self.assertTrue(res["correct"], res)
        self.assertEqual(res["failed"], 0)
        self.assertEqual(set(res["metrics"]), set(names))
        for name, unit in names.items():
            m = res["metrics"][name]
            self.assertEqual(m["unit"], unit, name)
            self.assertTrue(math.isfinite(m["value"]), name)
            print(f"  {name} = {m['value']:.6g} {unit}")

    def test_every_workload_prints_every_metric(self):
        for w in WORKLOADS:
            for trace, names in ((0, END_TO_END), (1, PER_LAYER)):
                with self.subTest(workload=w, trace=trace):
                    print(f"{w} --trace {trace}")
                    self._check(bench(w, trace), names)

    def test_forced_faults_stay_counted(self):
        gates = WORKLOADS["relational"].gates
        res = bench("relational", 0, "--inject", f"raise:{gates[0]}", "--inject", f"wrong:{gates[1]}")
        self.assertFalse(res["correct"])
        self.assertEqual((res["attempted"], res["failed"]), (len(gates), 2))
        self.assertAlmostEqual(res["metrics"]["pass_frac"]["value"], 1 - 2 / len(gates))

    def test_missing_program_fails_without_result(self):
        runs = os.path.join(HERE, ".state", "runs")
        os.makedirs(runs, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=runs) as d:
            shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
            shutil.copytree(HERE, os.path.join(d, "perfbench"), ignore=shutil.ignore_patterns(".*"))
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", "relational", "--seed", "1",
                 "--seconds", "1", "--trace", "0"],
                cwd=d, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=60,
            )
        self.assertNotEqual(p.returncode, 0)
        self.assertEqual(p.stdout, "")


if __name__ == "__main__":
    unittest.main(argv=[a for a in sys.argv if a != "--smoke"], verbosity=2)
