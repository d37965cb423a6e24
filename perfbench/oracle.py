"""DuckDB oracle check for query_mix: each query's result, as the JVM
wrote it after the warm-up pass, must equal the query's DuckDB oracle over
the same tables (columns sorted by name, values compared exactly)."""
import json
import math
import os

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def val(v):
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return repr(v)
    return [cols[i] for i in order], [tuple(val(r[i]) for i in order) for r in rows]


def diff(got, want):
    """None when equal, else a one-line reason."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} vs oracle {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows vs oracle {len(wr)}"
    for i, (a, b) in enumerate(zip(gr, wr)):
        if a != b:
            return f"row {i}: {a} vs oracle {b}"
    return None


def check(data_dir, work_dir):
    """Returns (errors, notes). Also proves the comparison rejects a
    dropped row and a flipped value."""
    with open(os.path.join(work_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    errors, results = [], {}
    for name, sql in oracle.items():
        try:
            g = con.sql(f"SELECT * FROM '{work_dir}/results/{name}/*.parquet'")
            got = canon(g.columns, g.fetchall())
            w = con.sql(sql)
            want = canon(w.columns, w.fetchall())
        except Exception as e:  # noqa: BLE001 - any failure is a failed check
            errors.append(f"{name}: {type(e).__name__}: {e}")
            continue
        why = diff(got, want)
        if why:
            errors.append(f"{name}: {why}")
        results[name] = (got, want)
    con.close()
    # Self-test on the largest result: drop its last row, flip one value.
    missed = []
    if results:
        name = max(results, key=lambda n: len(results[n][1][1]))
        (gc, gr), want = results[name]
        if gr:
            if not diff((gc, gr[:-1]), want):
                missed.append("dropped row")
            flipped = [tuple(r) for r in gr]
            flipped[0] = (flipped[0][0] + "0",) + flipped[0][1:]
            if not diff((gc, flipped), want):
                missed.append("flipped value")
    matched = len(oracle) - len(errors)
    errors += [f"oracle self-test: comparison accepted a {m}" for m in missed]
    return errors, [f"{matched} of {len(oracle)} query results match their DuckDB oracle; "
                    f"self-test {'failed' if missed else 'passed'}"]
