"""Compare the program's query results with the DuckDB oracle.

Mirrors the comparison of `tools/check.py`: columns sorted by name, values
stringified after pandas coercion, rows compared as multisets. It is a copy
on purpose: the benchmark checks a change to the program with code that
lives under the benchmark's own directory, so the change under test cannot
also change how its outputs are judged. It also returns the reason per
query instead of printing it.
"""
from pathlib import Path

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def connect(data_dir: Path):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        p = Path(data_dir) / f"{t}.parquet"
        if p.exists():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    return con


def _norm(df):
    cols = sorted(df.columns)
    return sorted(tuple(str(v) for v in row) for row in df[cols].itertuples(index=False, name=None))


def mismatch(got_df, exp_df):
    """None when the two frames hold the same rows, else a short reason."""
    if sorted(got_df.columns) != sorted(exp_df.columns):
        return f"columns {sorted(got_df.columns)} != {sorted(exp_df.columns)}"
    g, e = _norm(got_df), _norm(exp_df)
    if g == e:
        return None
    if len(g) != len(e):
        return f"{len(g)} rows, oracle has {len(e)}"
    first = next((a, b) for a, b in zip(g, e) if a != b)
    return f"value mismatch, first {first}"


def check(con, sql: str, result_dir: Path):
    """None when the result under `result_dir` equals the oracle's."""
    try:
        got = con.sql(f"SELECT * FROM '{result_dir}/*.parquet'").fetchdf()
        exp = con.sql(sql).fetchdf()
    except Exception as e:  # noqa: BLE001 - any failure is a failed check
        return f"{type(e).__name__}: {str(e)[:200]}"
    return mismatch(got, exp)
