"""DuckDB oracle compare for the query roster.

Each query's Spark result (parquet, dumped by the JVM run after the timed
passes) is compared with its `SparkEntry.oracleSql` statement run in
DuckDB over the same tables, normalised the way the repository's oracle
gate normalises: floats rounded to 9 places, NaN and lists made
comparable, columns ordered by name, rows compared in result order.
"""
import glob
import math
import os

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return str(v)


def compare(data_dir, results, oracle_sql):
    """`results` maps query name -> result dir; returns a list of failures."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    failures = []
    for name, out in sorted(results.items()):
        files = glob.glob(os.path.join(out, "*.parquet"))
        try:
            spark_rel = con.execute(f"SELECT * FROM read_parquet({files!r})")
            spark_cols = [d[0] for d in spark_rel.description]
            spark_rows = spark_rel.fetchall()
            duck_rel = con.execute(oracle_sql[name])
            duck_cols = [d[0] for d in duck_rel.description]
            duck_rows = duck_rel.fetchall()
        except Exception as e:  # a query that cannot run is a failed check
            failures.append(f"{name}: oracle compare error: {e}")
            continue
        if sorted(spark_cols) != sorted(duck_cols):
            failures.append(f"{name}: columns {sorted(spark_cols)} vs oracle {sorted(duck_cols)}")
            continue
        order = sorted(duck_cols)
        s_idx = [spark_cols.index(c) for c in order]
        d_idx = [duck_cols.index(c) for c in order]
        s_vals = [tuple(norm(r[i]) for i in s_idx) for r in spark_rows]
        d_vals = [tuple(norm(r[i]) for i in d_idx) for r in duck_rows]
        if s_vals != d_vals:
            failures.append(f"{name}: {len(s_vals)} rows differ from the oracle's {len(d_vals)}")
    con.close()
    return failures
