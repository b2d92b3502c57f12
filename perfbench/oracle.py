"""DuckDB oracle check for the operator-suite workload.

Compares each query's Spark result (a parquet directory) with the query's
oracle SQL from `SparkEntry.oracleSql`, run by DuckDB over the same
generated tables, the way the repository's correctness gate does: columns
sorted by name, rows by value, DuckDB-visible column types equal, floats
equal within a small tolerance.
"""
import math

import duckdb

TABLES = ["documents", "orders", "lineitem", "part"]


def _norm(v):
    if isinstance(v, float):
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return (sorted(out, key=lambda r: tuple((x is None, str(x)) for x in r)),
            [cols[i] for i in order])


def _same(a, b):
    return a == b or (isinstance(a, float) and isinstance(b, float)
                      and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6))


def check(data_dir, results_dir, oracles):
    """Return {query: None if it matches its oracle, else a reason}."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet/*.parquet'")
    out = {}
    for q, sql in sorted(oracles.items()):
        spark_sql = f"SELECT * FROM '{results_dir}/{q}/*.parquet'"
        try:
            r = con.execute(spark_sql)
            s, scols = _canon(r.fetchall(), [d[0] for d in r.description])
            o = con.execute(sql)
            t, ocols = _canon(o.fetchall(), [d[0] for d in o.description])
            stypes = {c[0]: c[1] for c in con.execute(f"DESCRIBE {spark_sql}").fetchall()}
            otypes = {c[0]: c[1] for c in con.execute(f"DESCRIBE ({sql})").fetchall()}
        except duckdb.Error as e:
            out[q] = f"oracle error: {e}"
            continue
        if scols != ocols:
            out[q] = f"columns {scols} vs oracle {ocols}"
        elif stypes != otypes:
            out[q] = f"types {stypes} vs oracle {otypes}"
        elif len(s) != len(t):
            out[q] = f"{len(s)} rows vs oracle {len(t)}"
        elif not s:
            out[q] = "empty result"
        else:
            bad = next((i for i, (a, b) in enumerate(zip(s, t))
                        if not all(_same(x, y) for x, y in zip(a, b))), None)
            out[q] = None if bad is None else f"row {bad}: {s[bad]} vs oracle {t[bad]}"
    return out
