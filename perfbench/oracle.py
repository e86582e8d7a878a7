"""DuckDB oracle check for analytics_mix results.

Each query's Spark result (parquet part files, in partition order) is compared
with the query's `SparkEntry.oracleSql` run in DuckDB over the same tables:
column names, row count and every value in emitted order, columns sorted by
name, floats by their full repr.
"""
import glob
import math
import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    return repr(v)


def _rows(tbl):
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    return cols, list(zip(*data)) if data else []


def _spark_table(path):
    parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not parts:
        return None
    return pa.concat_tables([pq.read_table(p) for p in parts])


def check(tables_dir, outputs, oracle):
    """Returns one message per query that mismatches its oracle."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET enable_progress_bar = false")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(tables_dir, t)}.parquet')")
    failures = []
    for name, path in sorted(outputs.items()):
        sql = oracle.get(name)
        if sql is None:
            failures.append(f"{name}: no oracle sql")
            continue
        spark_tbl = _spark_table(path)
        if spark_tbl is None:
            failures.append(f"{name}: no spark output")
            continue
        try:
            duck_tbl = con.execute(sql).fetch_arrow_table()
        except Exception as e:  # noqa: BLE001 - any DuckDB error is a miss
            failures.append(f"{name}: duckdb error {e}")
            continue
        sc, srows = _rows(spark_tbl)
        dc, drows = _rows(duck_tbl)
        if sc != dc:
            failures.append(f"{name}: columns {sc} vs {dc}")
        elif len(srows) != len(drows):
            failures.append(f"{name}: rows {len(srows)} vs {len(drows)}")
        else:
            for i, (a, b) in enumerate(zip(srows, drows)):
                if tuple(map(_norm, a)) != tuple(map(_norm, b)):
                    failures.append(f"{name}: row {i} differs")
                    break
    con.close()
    return failures
