"""Unit tests of the benchmark's own code (no JVM needed).

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow.parquet as pq  # noqa: E402

import checks  # noqa: E402
import gen_dblp  # noqa: E402
import gen_orders  # noqa: E402
import lake_plan  # noqa: E402
import stats  # noqa: E402


def _read(path):
    with open(path, "rb") as f:
        return f.read()


def _json(path):
    with open(path) as f:
        return json.load(f)


class GeneratorDeterminism(unittest.TestCase):
    def test_dblp_same_seed_same_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ma = gen_dblp.generate(11, 500, a)
            mb = gen_dblp.generate(11, 500, b)
            self.assertEqual(ma, mb)
            self.assertEqual(_read(f"{a}/dblp.xml"), _read(f"{b}/dblp.xml"))
            self.assertTrue(pq.read_table(f"{a}/truth.parquet").equals(
                pq.read_table(f"{b}/truth.parquet")))
            self.assertEqual(ma["records"], 500)
            self.assertEqual(ma["bytes"], os.path.getsize(f"{a}/dblp.xml"))

    def test_dblp_other_seed_other_bytes(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            self.assertNotEqual(gen_dblp.generate(1, 300, a)["sha256"],
                                gen_dblp.generate(2, 300, b)["sha256"])

    def test_dblp_covers_quirk_branches(self):
        with tempfile.TemporaryDirectory() as d:
            gen_dblp.generate(3, 2000, d)
            xml = _read(f"{d}/dblp.xml").decode()
            t = pq.read_table(f"{d}/truth.parquet").to_pylist()
        self.assertEqual(len(xml.splitlines()), 2000)
        self.assertEqual({r["recordType"] for r in t},
                         {n for n, _ in gen_dblp.RECORD_MIX})
        self.assertIn("&amp;", xml)
        editor_only = [ln for ln in xml.splitlines()
                       if "<editor>" in ln and "<author>" not in ln]
        self.assertTrue(editor_only)
        years = [len(r["years"] or []) for r in t]
        self.assertTrue({0, 1, 2} <= set(years))
        self.assertTrue(any("," in a for r in t for a in r["authors"]))
        self.assertTrue(any(r["venue"] and "," in r["venue"] for r in t))
        self.assertTrue(any(r["venue"] is None for r in t))
        www = [r for r in t if r["recordType"] == "www"]
        self.assertTrue(all(r["venue"] == "/".join(r["key"].split("/")[:3])
                            for r in www))

    def test_orders_and_lake_plan_deterministic(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            ra = gen_orders.generate(5, 0.001, a)
            rb = gen_orders.generate(5, 0.001, b)
            self.assertEqual(ra, {"orders": 1500, "customers": 150})
            self.assertEqual(ra, rb)
            self.assertTrue(pq.read_table(f"{a}/orders.parquet").equals(
                pq.read_table(f"{b}/orders.parquet")))
            ja = _json(lake_plan.make_plan(5, ra["orders"], ra["customers"], a, 4, 1))
            jb = _json(lake_plan.make_plan(5, rb["orders"], rb["customers"], b, 4, 1))
            strip = lambda j: [[{k: v for k, v in s.items() if k != "src"}
                                for s in r] for r in j["rounds"]]
            self.assertEqual(strip(ja), strip(jb))
            self.assertEqual(_read(ja["rounds"][2][0]["src"]),
                             _read(jb["rounds"][2][0]["src"]))
            self.assertEqual([s["kind"] for s in ja["rounds"][0]],
                             ["merge", "delete", "refresh"]
                             + ["point"] * lake_plan.POINT_READS + ["scan"])


class ResultLine(unittest.TestCase):
    def test_round_trip(self):
        line = stats.result_line(True, 12, 0, {
            "batch_s": (1.23456789012345, "s"), "op_p50_ms": (7, "ms")})
        obj = stats.parse_result_line("noise\n{not json here}\n" + line + "\n\n")
        self.assertEqual(obj["metrics"]["batch_s"],
                         {"value": 1.23456789012345, "unit": "s"})
        self.assertEqual((obj["correct"], obj["attempted"], obj["failed"]),
                         (True, 12, 0))

    def test_rejects_malformed(self):
        good = {"correct": True, "attempted": 3, "failed": 0,
                "metrics": {"x": {"value": 1.0, "unit": "s"}}}
        for bad in (
                dict(good, extra=1),
                dict(good, attempted=0),
                dict(good, attempted=True),
                dict(good, failed=4),
                dict(good, correct="yes"),
                dict(good, metrics={"x": {"value": "1", "unit": "s"}}),
                dict(good, metrics={"x": {"value": 1.0}}),
                dict(good, metrics={"x": {"value": float("nan"), "unit": "s"}})):
            with self.assertRaises(ValueError):
                stats.parse_result_line(json.dumps(bad))
        with self.assertRaises(ValueError):
            stats.parse_result_line("")
        with self.assertRaises(ValueError):
            stats.result_line(True, 0, 0, {})
        with self.assertRaises(ValueError):
            stats.result_line(True, 2, 3, {})


class RowComparison(unittest.TestCase):
    def test_column_order_and_float_tolerance(self):
        ok, _ = checks.same_rows([(1.0 + 1e-12, "a"), (2.0, "b")], ["x", "y"],
                                 [("b", 2.0), ("a", 1.0)], ["y", "x"])
        self.assertTrue(ok)

    def test_mismatch(self):
        self.assertFalse(checks.same_rows([(1.0, "a")], ["x", "y"],
                                          [(1.5, "a")], ["x", "y"])[0])
        self.assertFalse(checks.same_rows([(1, "a")], ["x", "y"],
                                          [(1, "a"), (2, "b")], ["x", "y"])[0])
        self.assertFalse(checks.same_rows([(1, "a")], ["x", "z"],
                                          [(1, "a")], ["x", "y"])[0])


if __name__ == "__main__":
    unittest.main()
