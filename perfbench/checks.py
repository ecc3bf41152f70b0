"""Output checks, run after the timed region against DuckDB.

Each check returns a list of (name, ok, detail). Every failed check counts
toward the run's `failed`.
"""
import csv
import glob
import json
import math
import os

import duckdb


# t1..t6 of graft.queries.DblpQueries over the generator's ground truth
DBLP_ORACLE = {
    "t1": """
      WITH c AS (SELECT venue, author, count(*) AS cnt FROM pa
                 WHERE venue <> '' AND author <> '' GROUP BY venue, author)
      SELECT venue, author, cnt FROM (
        SELECT *, row_number() OVER (PARTITION BY venue
                                     ORDER BY cnt DESC, author) AS rk
        FROM c) WHERE rk <= 10""",
    "t2": """
      WITH ay AS (SELECT DISTINCT author, years[1] AS yr FROM pa
                  WHERE len(years) = 1 AND author <> ''),
      isl AS (SELECT author,
                     yr - row_number() OVER (PARTITION BY author ORDER BY yr)
                       AS island FROM ay),
      runs AS (SELECT author, max(n) AS streak FROM (
                 SELECT author, island, count(*) AS n FROM isl
                 GROUP BY author, island) GROUP BY author)
      SELECT author, streak FROM runs WHERE streak >= 10""",
    "t3": """
      SELECT venue, string_agg(title, '|' ORDER BY title) AS titles
      FROM pubs WHERE len(authors) = 1 AND venue <> '' AND title <> ''
      GROUP BY venue""",
    "t4": """
      WITH w AS (SELECT venue, title, len(authors) AS na FROM pubs
                 WHERE venue <> '' AND title <> '' AND len(authors) > 0)
      SELECT venue, title, na AS n_authors FROM (
        SELECT *, rank() OVER (PARTITION BY venue ORDER BY na DESC) AS rk
        FROM w) WHERE rk = 1""",
    "t5": """
      SELECT author, sum(na) AS weight FROM pa WHERE author <> ''
      GROUP BY author ORDER BY weight DESC, author LIMIT 100""",
    "t6": """
      SELECT author, count(*) AS cnt FROM pa WHERE author <> ''
      GROUP BY author HAVING max(na) = 1
      ORDER BY cnt DESC, author LIMIT 100""",
}
DBLP_SEP = {"t4": "|"}


def _read_spark_csv(path, sep):
    rows, header = [], None
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part, newline="", encoding="utf-8") as f:
            r = csv.reader(f, delimiter=sep, quotechar='"', escapechar="\\")
            head = next(r, None)
            header = header or head
            rows += [tuple(x) for x in r]
    return header, rows


def check_dblp(truth, out_dir):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW pubs AS SELECT * FROM read_parquet('{truth}')")
    con.execute("CREATE VIEW pa AS SELECT venue, title, years, "
                "len(authors) AS na, unnest(authors) AS author FROM pubs")
    results = []
    for name, sql in DBLP_ORACLE.items():
        try:
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            want = sorted(tuple(str(v) for v in r) for r in res.fetchall())
            header, got = _read_spark_csv(os.path.join(out_dir, name),
                                          DBLP_SEP.get(name, ","))
            if header != cols:
                results.append((name, False, f"header {header} != {cols}"))
            elif sorted(got) != want:
                results.append((name, False,
                                f"{len(got)} rows vs {len(want)} expected"))
            else:
                results.append((name, True, f"{len(want)} rows"))
        except Exception as e:  # a check that cannot run is a failed check
            results.append((name, False, repr(e)[:300]))
    return results


def _sort_key(x):
    if isinstance(x, float):
        return (x is None, 1, "", round(x, 6))
    return (x is None, 0, str(x), 0.0)


def _close(x, y):
    return len(x) == len(y) and all(
        (isinstance(u, float) or isinstance(v, float))
        and u is not None and v is not None
        and math.isclose(float(u), float(v), rel_tol=1e-9, abs_tol=1e-6)
        or u == v for u, v in zip(x, y))


def same_rows(a_rows, a_cols, b_rows, b_cols):
    """Row multisets equal, column order ignored, floats within 1e-9
    relative. Rows sort on a key rounded coarser than the tolerance; rows
    sharing a key match as a multiset."""
    if sorted(a_cols) != sorted(b_cols):
        return False, f"columns {sorted(a_cols)} != {sorted(b_cols)}"
    if len(a_rows) != len(b_rows):
        return False, f"{len(a_rows)} rows vs {len(b_rows)} expected"

    def norm(rows, cols):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        out = [tuple(r[i] for i in order) for r in rows]
        return sorted(out, key=lambda t: tuple(_sort_key(c) for c in t))

    a, b = norm(a_rows, a_cols), norm(b_rows, b_cols)
    keys = [tuple(_sort_key(c) for c in r) for r in a]
    i = 0
    while i < len(a):
        j = i
        while j < len(a) and keys[j] == keys[i]:
            j += 1
        left = list(b[i:j])
        for x in a[i:j]:
            m = next((t for t, y in enumerate(left) if _close(x, y)), None)
            if m is None:
                return False, f"row {x} has no match"
            left.pop(m)
        i = j
    return True, f"{len(a)} rows"


def check_lake(orders, plan_path, info):
    """Replay the executed rounds in DuckDB over raw orders: MERGE as
    INSERT OR REPLACE of the same source rows, DELETE verbatim. Every read
    is compared at its point in the sequence, then the final table and the
    materialized view."""
    with open(plan_path) as f:
        plan = json.load(f)["rounds"]
    con = duckdb.connect()
    con.execute("CREATE TABLE t (o_orderkey BIGINT PRIMARY KEY, "
                "o_custkey BIGINT, o_orderstatus VARCHAR, o_totalprice DOUBLE, "
                "o_orderdate TIMESTAMP, o_orderpriority VARCHAR)")
    con.execute(f"INSERT INTO t SELECT * FROM read_parquet('{orders}')")
    reads = {(r["round"], r["idx"]): r for r in info["reads"]}
    results = []
    for rnd in range(info["rounds_done"]):
        for k, st in enumerate(plan[rnd]):
            sql = st["sql"].replace("{T}", "t")
            if st["kind"] == "merge":
                con.execute("INSERT OR REPLACE INTO t SELECT * FROM "
                            f"read_parquet('{st['src']}')")
            elif st["kind"] == "delete":
                con.execute(sql)
            elif st["kind"] in ("point", "scan"):
                got = reads.get((rnd, k))
                name = f"read r{rnd} #{k}"
                if got is None:
                    results.append((name, False, "no result recorded"))
                elif st["kind"] == "point":
                    n, ks, ps = con.execute(
                        f"SELECT count(*), coalesce(sum(o_orderkey), 0), "
                        f"coalesce(sum(o_totalprice), 0) FROM ({sql})").fetchone()
                    ok = (got["n"], got["key_sum"]) == (n, ks) and math.isclose(
                        got["price_sum"], ps, rel_tol=1e-9, abs_tol=1e-6)
                    results.append((name, ok, f"{got['n']} rows vs {n}"))
                else:
                    want = con.execute(sql).fetchall()
                    ok, detail = same_rows([tuple(g) for g in got["groups"]],
                                           ["s", "p", "n", "total"],
                                           want, ["s", "p", "n", "total"])
                    results.append((name, ok, detail))
    for name, sql, path in (
            ("final table", "SELECT * FROM t", info["table"]),
            ("materialized view",
             "SELECT o_orderstatus, o_orderpriority, count(*) AS n, "
             "sum(o_totalprice) AS total FROM t GROUP BY ALL", info["mv"])):
        try:
            w = con.execute(sql)
            wcols, wrows = [d[0] for d in w.description], w.fetchall()
            g = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
            gcols = [d[0] for d in g.description]
            grows = [tuple(float(v) if c == "total" else v
                           for c, v in zip(gcols, r)) for r in g.fetchall()]
            ok, detail = same_rows(grows, gcols, wrows, wcols)
            results.append((name, ok, detail))
        except Exception as e:
            results.append((name, False, repr(e)[:300]))
    return results
