#!/usr/bin/env python3
"""Compare the commit deltas of two graft lake roots.

usage: tools/delta_parity.py ROOT_A ROOT_B

Reads every `_manifests/v*.json` delta of both roots and compares them
version by version, after normalizing what legitimately differs between
two runs of the same commit sequence:

  - `commitTs` is dropped;
  - data and tombstone file names (`part-<n>-<uuid>-….parquet`) become
    ordinals `#0`, `#1`, … assigned in order of first appearance, walking
    the versions in order and each version's `adds` / `tombstoneAdds`
    sorted by (hive subpath, minKey, maxKey, rows, remaining stats);
  - `removes` / `tombstoneRemoves` map through the same renaming;
  - every file list compares in that sorted order (the writer lists a
    commit's files in file-name order, and the names carry random UUIDs).

Prints the first differing version and field and exits 1 on any
difference; prints the number of equal versions and exits 0 otherwise.
"""
import glob
import json
import os
import re
import sys

PART = re.compile(r"part-[^/]*\.parquet$")
FILE_LISTS = ("adds", "removes", "tombstoneAdds", "tombstoneRemoves")


def load(root):
    """version -> delta dict for every delta manifest under `root`."""
    deltas = {}
    for path in glob.glob(os.path.join(root, "_manifests", "v*.json")):
        with open(path) as f:
            d = json.load(f)
        deltas[d["version"]] = d
    return deltas


def split(path):
    """(hive subpath, basename) of a manifest file path."""
    head, _, base = path.rpartition("/")
    return head, base


def entry_order(e):
    rest = {k: v for k, v in e.items() if k != "path"}
    return (split(e["path"])[0], e.get("minKey"), e.get("maxKey"),
            e.get("rows"), json.dumps(rest, sort_keys=True))


def normalize(deltas):
    """version -> delta with timestamps dropped and file names ordinal."""
    names = {}

    def rename(path):
        head, base = split(path)
        if not PART.search(base):
            return path
        if path not in names:
            names[path] = "#%d" % len(names)
        return (head + "/" if head else "") + names[path]

    out = {}
    for v in sorted(deltas):
        d = dict(deltas[v])
        d.pop("commitTs", None)
        for field in ("adds", "tombstoneAdds"):
            d[field] = [dict(e, path=rename(e["path"]))
                        for e in sorted(d.get(field, []), key=entry_order)]
        for field in ("removes", "tombstoneRemoves"):
            d[field] = sorted(rename(p) for p in d.get(field, []))
        out[v] = d
    return out


def first_difference(a, b):
    """(version, field) of the first difference, or None when equal."""
    for v in sorted(set(a) | set(b)):
        if v not in a or v not in b:
            return v, "<missing in %s>" % ("ROOT_A" if v not in a else "ROOT_B")
        da, db = a[v], b[v]
        for field in sorted(set(da) | set(db)):
            if da.get(field) != db.get(field):
                return v, field
    return None


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        return 2
    a, b = (normalize(load(r)) for r in argv[1:])
    if not a and not b:
        print("no delta manifests under either root", file=sys.stderr)
        return 2
    diff = first_difference(a, b)
    if diff is None:
        print("equal: %d versions" % len(a))
        return 0
    v, field = diff
    print("differ: version %s field %s" % (v, field))
    if v in a and v in b:
        print("  ROOT_A: %s" % json.dumps(a[v].get(field), sort_keys=True))
        print("  ROOT_B: %s" % json.dumps(b[v].get(field), sort_keys=True))
    return 1


if __name__ == "__main__":
    sys.exit(main(sys.argv))
