"""Compare the set-up pipeline outputs with their DuckDB oracles.

The JVM writes, under one directory: the reduced tape (tape/events.parquet),
each pipeline's result as Parquet (<name>/), and oracle_sql.json with the
oracle SQL from graft.SparkEntry.oracleSql. Each oracle runs in DuckDB over
the same tape; results must match exactly as multisets of rows (columns by
name, doubles by their exact repr).
"""
import json
import math
import os

import duckdb


def _cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def _rows(con, rel):
    cols = sorted(rel.columns)
    got = con.sql("SELECT " + ", ".join(f'"{c}"' for c in cols)
                  + " FROM rel").fetchall()
    return cols, sorted(tuple(_cell(c) for c in r) for r in got)


def compare(out_dir):
    """Return [(name, ok, detail)] for every oracle in out_dir."""
    con = duckdb.connect(config={"threads": len(os.sched_getaffinity(0))})
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{out_dir}/tape/events.parquet/*.parquet'")
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracles = json.load(f)
    results = []
    for name, sql in sorted(oracles.items()):
        try:
            rel = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'")
            s_cols, s_rows = _rows(con, rel)
            o_cols, o_rows = _rows(con, con.sql(sql))
            if s_cols != o_cols:
                results.append((name, False, f"columns {s_cols} vs {o_cols}"))
            elif s_rows != o_rows:
                diff = sorted(set(s_rows) ^ set(o_rows))[:2]
                results.append((name, False, f"{len(s_rows)} spark rows vs "
                                f"{len(o_rows)} oracle rows; e.g. {diff}"))
            else:
                results.append((name, True, f"{len(s_rows)} rows"))
        except Exception as e:  # a broken oracle or output is a failed check
            results.append((name, False, f"error: {e}"))
    con.close()
    return results
