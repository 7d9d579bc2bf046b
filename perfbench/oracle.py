"""DuckDB oracle check of the `operators` workload, off the clock.

Follows the suite's compare contract (tools/compare.py): each query's
`SparkEntry.oracleSql` runs in DuckDB over the same parquet tables, columns
are sorted by name, rows compared in result order, floats at 4 dp. Every
operation's written output is compared; one that differs is a failed
operation, and its first differing row is printed.
"""
import json
import math
import os

import duckdb

TABLES = ["documents", "embeddings", "lineitem"]


def canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.4f}"
    return str(v)


def sorted_rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [[canon(r[i]) for i in order] for r in cur.fetchall()]
    return [cols[i] for i in order], rows


def diff(got, expected):
    """None when an output matches the oracle, else its first difference."""
    (gcols, grows), (ecols, erows) = got, expected
    if gcols != ecols:
        return f"columns {gcols} vs oracle {ecols}"
    for i, (g, e) in enumerate(zip(grows, erows)):
        if g != e:
            return f"row {i}: got {g} oracle {e}"
    if len(grows) != len(erows):
        return f"{len(grows)} rows vs oracle {len(erows)}"
    return None


def check(res, data_dir, out_dir):
    """Fold the oracle verdicts into the run's tally `res` (in place)."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet/*.parquet'")
    expected = {}
    for q, rnd in res["outputs"]:
        if q not in expected:
            expected[q] = sorted_rows(con, oracle[q])
        got_dir = os.path.join(out_dir, q, f"round{rnd}")
        d = diff(sorted_rows(con, f"SELECT * FROM '{got_dir}/*.parquet'"), expected[q])
        if d is not None:
            print(f"[perfbench] FAILED {q} round {rnd}: {d}")
            res["failed"] += 1
    con.close()
