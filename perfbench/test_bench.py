"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

The gate tests start the JVM harness (about a minute each); the others are
pure Python.
"""
import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

import pyarrow.parquet as pq

BENCH = Path(__file__).resolve().parent
sys.path.insert(0, str(BENCH))

import inputs  # noqa: E402
import run  # noqa: E402

TMP = BENCH / ".scratch" / "test"


class TailTest(unittest.TestCase):
    def test_needs_ten_values_beyond(self):
        self.assertEqual(run.tail(list(range(1, 21))), (10, 50.0))
        self.assertEqual(run.tail(list(range(1, 12))), (1, 100.0 / 11))

    def test_few_values_give_the_maximum(self):
        self.assertEqual(run.tail([3.0, 1.0, 2.0]), (3.0, 100.0))


class InputsTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(TMP, ignore_errors=True)

    def tearDown(self):
        shutil.rmtree(TMP, ignore_errors=True)

    def test_seed_zero_is_the_base_tables(self):
        inputs.generate(0, TMP / "s0")
        for t in inputs.TABLES:
            self.assertEqual((TMP / "s0" / f"{t}.parquet").read_bytes(),
                             (inputs.DATA / f"{t}.parquet").read_bytes())

    def test_seeded_bijection_keeps_sizes_and_joins(self):
        inputs.generate(5, TMP / "a")
        inputs.generate(5, TMP / "b")
        inputs.generate(6, TMP / "c")

        def read(d, t):
            return pq.read_table(TMP / d / f"{t}.parquet").sort_by(
                [(c, "ascending") for c in pq.read_schema(inputs.DATA / f"{t}.parquet").names])

        base = {t: pq.read_table(inputs.DATA / f"{t}.parquet") for t in inputs.TABLES}
        for t in inputs.TABLES:
            self.assertTrue(read("a", t).equals(read("b", t)), f"{t} not a function of the seed")
        cust, orders = read("a", "customer"), read("a", "orders")

        def key_to_name(c):
            return dict(zip(c["c_custkey"].to_pylist(), c["c_name"].to_pylist()))
        self.assertTrue(key_to_name(cust) != key_to_name(base["customer"]), "keys not permuted")
        self.assertFalse(read("a", "orders").equals(read("c", "orders")))
        # each customer keeps its orders: per-name order counts are unchanged
        def per_name(c, o):
            names = key_to_name(c)
            out = {}
            for k in o["o_custkey"].to_pylist():
                out[names[k]] = out.get(names[k], 0) + 1
            return out
        self.assertEqual(per_name(cust, orders), per_name(base["customer"], base["orders"]))


@unittest.skipUnless(shutil.which("sbt") and shutil.which("java"), "needs sbt and java")
class GateTest(unittest.TestCase):
    """A planted failure must fail the run: nonzero exit, failed > 0."""

    def planted(self, plant):
        r = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", "graph_iterative",
                            "--seed", "0", "--seconds", "1", "--trace", "0", "--plant", plant],
                           cwd=BENCH.parent, capture_output=True, text=True, timeout=900)
        lines = r.stdout.strip().splitlines()
        return r.returncode, json.loads(lines[-1]), json.loads(lines[-2])["context"]

    def check(self, plant, cause):
        code, result, context = self.planted(plant)
        self.assertNotEqual(code, 0)
        self.assertFalse(result["correct"])
        self.assertGreater(result["failed"], 0)
        self.assertGreater(context["failed_frac"], 0)
        self.assertTrue(all(f["op"] == "q226_hits" for f in context["failures"]))
        self.assertIn(cause, context["failures"][0]["cause"])

    def test_throwing_op_fails_the_run(self):
        self.check("throw:q226_hits", "IllegalStateException")

    def test_wrong_output_fails_the_run(self):
        self.check("wrong:q226_hits", "oracle mismatch")


if __name__ == "__main__":
    unittest.main()
