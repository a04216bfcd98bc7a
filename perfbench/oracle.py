"""DuckDB oracle answers for the workload queries, and the comparison.

Each catalog query has an ANSI-SQL twin in ``registry.ORACLE_SQL``. The
benchmark runs the twin once per data set in DuckDB and keeps, per query,
the column names, the row count and a digest of the normalized rows.
Every run compares the engine's collected output against that entry.

Normalization follows ``tools/verify_local.py``: columns sorted by name,
rows sorted by every column, each value compared through ``str``.
"""

from __future__ import annotations

import hashlib
import json
import os


def normalize(df):
    """pandas frame -> columns sorted by name, rows sorted by all columns."""
    df = df[sorted(df.columns)]
    return df.sort_values(by=list(df.columns), ignore_index=True)


def summarize(df) -> dict:
    """Columns, row count and digest of a result frame, after normalizing."""
    df = normalize(df)
    h = hashlib.sha256()
    for c in df.columns:
        h.update(c.encode() + b"\0")
        for v in df[c].astype(str).values:
            h.update(v.encode() + b"\x1f")
    return {"columns": list(df.columns), "rows": len(df), "digest": h.hexdigest()}


def mismatch(got: dict, want: dict) -> str | None:
    """Why two summaries differ, or None when they agree."""
    if got["columns"] != want["columns"]:
        return f"columns {got['columns']} != oracle {want['columns']}"
    if got["rows"] != want["rows"]:
        return f"rows {got['rows']} != oracle {want['rows']}"
    if got["digest"] != want["digest"]:
        return "values differ from oracle"
    return None


def build(data_dir: str, names, out_path: str) -> dict:
    """Run each query's oracle SQL in DuckDB over ``data_dir``; write the
    summaries to ``out_path`` (atomically) and return them."""
    import duckdb

    from mapreduce_system_spark.registry import ORACLE_SQL
    from mapreduce_system_spark.sources.tables import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        answers = {n: summarize(con.execute(ORACLE_SQL[n]).fetchdf()) for n in names}
    finally:
        con.close()
    tmp = f"{out_path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(answers, f, indent=1, sort_keys=True)
    os.replace(tmp, out_path)
    return answers
