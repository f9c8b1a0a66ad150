"""Output check of the operator mix against the program's DuckDB oracles.

The harness writes each checked query's result as parquet, next to the
oracle SQL the program ships for it (`SparkEntry.oracleSql`). This module
runs that SQL in DuckDB over the same corpus and compares the two results:
columns sorted by name, rows sorted, values equal (floats to a relative
1e-9, since the two engines may sum in different orders).
"""
import math

import duckdb

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def _same(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            a, b = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return a == b or abs(a - b) <= 1e-9 * max(1.0, abs(a), abs(b))
    if isinstance(a, (list, tuple)) and isinstance(b, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def _compare(con, out_dir, sql):
    got = con.execute(f"SELECT * FROM read_parquet('{out_dir}/*.parquet')")
    got_cols = [d[0] for d in got.description]
    got_rows = got.fetchall()
    exp = con.execute(sql)
    exp_cols = [d[0] for d in exp.description]
    exp_rows = exp.fetchall()
    gc, g = _canon(got_rows, got_cols)
    ec, e = _canon(exp_rows, exp_cols)
    if gc != ec:
        return f"columns differ: program {gc} oracle {ec}"
    if len(g) != len(e):
        return f"row count: program {len(g)} oracle {len(e)}"
    for rg, re_ in zip(g, e):
        if not all(_same(x, y) for x, y in zip(rg, re_)):
            return f"first differing row: program {rg} oracle {re_}"
    return None


def check(spec):
    """spec: {"corpus": dir, "queries": [{"name", "out", "sql"}]} -> checks."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{spec['corpus']}/{t}.parquet')")
    results = []
    for q in spec["queries"]:
        try:
            detail = _compare(con, q["out"], q["sql"])
        except Exception as e:  # an oracle that cannot run is a failed check
            detail = f"{type(e).__name__}: {str(e)[:300]}"
        results.append({"name": f"oracle.{q['name']}", "ok": detail is None, "detail": detail or ""})
    con.close()
    return results
