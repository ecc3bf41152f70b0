"""Unit tests for tools/delta_parity.py on hand-written manifest pairs.

Run from the repo root: python3 -m unittest discover -s tools/tests
"""
import contextlib
import io
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
import delta_parity  # noqa: E402


def entry(path, lo, hi, rows, status=("A", "Z")):
    return {"path": path, "rows": rows, "minKey": lo, "maxKey": hi,
            "cols": {}, "scols": {"status": list(status)}, "nulls": {"k": 0}}


def delta(version, ts, adds, removes=(), op="merge"):
    return {"version": version, "parentVersion": version - 1,
            "operation": op, "keyCol": "k", "statsCols": ["status"],
            "partitionCols": [], "full": version == 0, "commitTs": ts,
            "schemaDdl": "k BIGINT,status STRING", "columnMap": {},
            "constraints": {}, "droppedCols": [], "requiredFeatures": [],
            "adds": adds, "removes": list(removes), "tombstoneAdds": [],
            "tombstoneRemoves": []}


def chain(uuids, ts0, v1_status_hi="Z"):
    """A create of two files plus a merge rewriting the first one; the
    file names carry `uuids`, and the create lists its files in UUID
    order, so the two files' order differs between UUID sets."""
    a, b, c = ("data/part-00000-%s-c000.snappy.parquet" % u for u in uuids)
    v0 = delta(0, ts0, sorted([entry(a, 1, 30, 30), entry(b, 31, 60, 30)],
                              key=lambda e: e["path"]), op="create")
    v1 = delta(1, ts0 + 5, [entry(c, 1, 30, 30, ("A", v1_status_hi))],
               removes=[a])
    return [v0, v1]


class DeltaParityTest(unittest.TestCase):
    def write_root(self, deltas):
        root = tempfile.mkdtemp()
        os.makedirs(os.path.join(root, "_manifests"))
        for d in deltas:
            path = os.path.join(root, "_manifests", "v%d.json" % d["version"])
            with open(path, "w") as f:
                json.dump(d, f)
        return root

    def run_tool(self, a, b):
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            code = delta_parity.main(["delta_parity.py", a, b])
        return code, out.getvalue()

    def test_equal_up_to_uuids_and_timestamps(self):
        a = self.write_root(chain(["bbbb", "aaaa", "cccc"], 1000))
        b = self.write_root(chain(["1111", "9999", "5555"], 2000))
        code, out = self.run_tool(a, b)
        self.assertEqual(code, 0, out)
        self.assertIn("equal: 2 versions", out)

    def test_stats_bound_difference_is_reported(self):
        a = self.write_root(chain(["bbbb", "aaaa", "cccc"], 1000))
        b = self.write_root(chain(["1111", "9999", "5555"], 1000,
                                  v1_status_hi="Y"))
        code, out = self.run_tool(a, b)
        self.assertEqual(code, 1, out)
        self.assertIn("differ: version 1 field adds", out)


if __name__ == "__main__":
    unittest.main()
