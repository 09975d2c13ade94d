"""The benchmark's own tests.

    python3 -m unittest discover -s perfbench/tests -v

Run from the repo root. `HarnessTest` builds the harness (sbt, once per
source state) and runs one small JVM; the other tests are pure Python.
"""
import os
import shutil
import sys
import tempfile
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import metrics  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
import run  # noqa: E402

SMALL = {"events": 2000, "users": 20, "days": 5, "documents": 200}


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_digest(self):
        self.assertEqual(gen.digest(gen.tables(7, SMALL)),
                         gen.digest(gen.tables(7, SMALL)))

    def test_other_seed_other_digest(self):
        self.assertNotEqual(gen.digest(gen.tables(7, SMALL)),
                            gen.digest(gen.tables(8, SMALL)))

    def test_written_inputs_repeat(self):
        with tempfile.TemporaryDirectory() as d:
            a = gen.write(os.path.join(d, "a"), 3, SMALL)
            b = gen.write(os.path.join(d, "b"), 3, SMALL)
            self.assertEqual(a["digest"], b["digest"])
            self.assertEqual(a["rows"]["events"], SMALL["events"])

    def test_event_index_strictly_increasing(self):
        ts = gen.tables(5, SMALL)["events"].column("ts").cast("int64").to_pylist()
        self.assertTrue(all(x < y for x, y in zip(ts, ts[1:])))


def _raw(steps_per_pass):
    """A harness record: pass 0 cold, pass 1 warm-up, the rest measured."""
    passes = []
    for i, steps in enumerate(steps_per_pass):
        passes.append({
            "pass": i, "cold": i == 0, "warmup": i == 1, "traced": False,
            "wall_s": sum(s[1] for s in steps), "cpu_s": 1.0 + i,
            "steps": [{"query": q, "wall_s": w, "ok": ok, "digest": "d", "rows": 1}
                      for q, w, ok in steps]})
    return {"passes": passes, "setup_s": 3.0, "input_rows": 100,
            "peak_heap_mb": 10.0,
            "check": {"qa": {"ok": True, "digest": "d", "rows": 1},
                      "qb": {"ok": True, "digest": "d", "rows": 1}}}


class FailureAccountingTest(unittest.TestCase):
    def test_thrown_query_counts_and_its_time_is_not_used(self):
        ok = [("qa", 1.0, True), ("qb", 2.0, True)]
        raw = _raw([ok, ok, ok, [("qa", 1.0, True), ("qb", 50.0, False)], ok])
        attempted, failed = metrics.failures(raw, {"qa": None, "qb": None})
        self.assertEqual((attempted, failed), (10, 1))
        m, info = metrics.end_to_end(raw)
        self.assertEqual(m["pass_s"], 3.0)  # the failed pass is left out
        self.assertEqual(info["query_samples"], 5)  # qb's 50 s is not one
        self.assertEqual(m["query_max_s"], 2.0)
        self.assertEqual(m["cpu_s"], 4.0)  # median of the clean passes 2 and 4

    def test_oracle_mismatch_fails_every_execution(self):
        ok = [("qa", 1.0, True), ("qb", 2.0, True)]
        raw = _raw([ok, ok, ok])
        self.assertEqual(metrics.failures(raw, {"qa": "rows 1 vs 2", "qb": None}),
                         (6, 3))

    def test_digest_drift_between_passes_fails(self):
        ok = [("qa", 1.0, True), ("qb", 2.0, True)]
        raw = _raw([ok, ok, ok])
        raw["passes"][2]["steps"][0]["digest"] = "other"
        self.assertEqual(metrics.failures(raw, {"qa": None, "qb": None}), (6, 1))


class HarnessTest(unittest.TestCase):
    """One traced JVM run on a tiny input: q00_tpch_q1 (one parquet scan and
    a hash aggregate behind one exchange), plus q01_roll_mean, whose
    `events` input is missing so that every execution of it throws."""

    def test_layer_bucketing_and_failure_accounting(self):
        os.makedirs(run.WORK, exist_ok=True)
        work = tempfile.mkdtemp(dir=run.WORK, prefix="test-")
        try:
            data = os.path.join(work, "data")
            os.makedirs(data)
            n = 600
            pq.write_table(pa.table({
                "l_returnflag": ["A", "N", "R"] * (n // 3),
                "l_linestatus": ["F", "O"] * (n // 2),
                "l_quantity": [float(i % 50) for i in range(n)],
                "l_extendedprice": [100.0 + i for i in range(n)],
                "l_discount": [0.01 * (i % 10) for i in range(n)],
            }), os.path.join(data, "lineitem.parquet"))
            wl = {"queries": ["q00_tpch_q1", "q01_roll_mean"], "tables": ["lineitem"]}
            args = type("A", (), {"seconds": 1, "trace": 1})()
            raw = run.run_harness(run.classpath(), wl, data,
                                  os.path.join(work, "run"), args,
                                  time.monotonic() + 600)
            traced = [p for p in raw["passes"] if p["traced"] and not p["cold"]]
            self.assertTrue(traced)
            layers = traced[0]["layers"]
            self.assertEqual(layers["scan.count"], 1)
            self.assertEqual(layers["scan.rows"], n)
            self.assertGreaterEqual(layers["exchange.count"], 1)
            self.assertEqual(layers["segment.rows_out"], 0)
            self.assertEqual(layers["output.rows"], 6)

            checked = {"q00_tpch_q1": None, "q01_roll_mean": "no result"}
            attempted, failed = metrics.failures(raw, checked)
            runs = len(raw["passes"])
            self.assertEqual((attempted, failed), (2 * runs, runs))
            self.assertTrue(all(not s["ok"] for p in raw["passes"]
                                for s in p["steps"] if s["query"] == "q01_roll_mean"))
            _, info = metrics.end_to_end(raw)
            plain = [p for p in raw["passes"] if not (p["cold"] or p["warmup"]
                                                      or p["traced"])]
            self.assertEqual(info["query_samples"], len(plain))  # q00 only
        finally:
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    unittest.main()
