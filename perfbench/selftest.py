"""Fast self-test of the benchmark itself, on sf 0.001 tables.

Usage (from the repository root)::

    python3 perfbench/selftest.py

Checks, in about half a minute:

* the generated tables carry exactly the catalog's column names, their
  parquet types read as the catalog's Spark types, and the timestamps have
  the fixtures' unit (microseconds);
* the oracle comparison accepts a reordered copy of a frame and rejects a
  copy with one value, one row or one column changed;
* a traced run of two queries matches both oracles, yields a result line
  of the required shape for both trace modes, and its event-log parser
  counts nonzero jobs, stages, tasks and scanned records.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import shutil
import sys
import tempfile
from pathlib import Path

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import datagen
import oracle
import run

QUERIES = ["mr_word_count", "rel_semi_join"]


def check(ok: bool, what: str) -> None:
    print(f"{'ok  ' if ok else 'FAIL'} {what}")
    if not ok:
        raise SystemExit(1)


def check_oracle() -> None:
    df = pd.DataFrame({"k": ["a", "b", "c"], "n": [1, 2, 3], "x": [0.5, 1.5, 2.5]})
    want = oracle.summarize(df)
    check(oracle.mismatch(oracle.summarize(df.iloc[::-1][["x", "k", "n"]]), want) is None,
          "oracle accepts the same rows in another row and column order")
    altered = df.copy()
    altered.loc[1, "n"] = 20
    check(oracle.mismatch(oracle.summarize(altered), want) is not None,
          "oracle rejects a frame with one value altered")
    check(oracle.mismatch(oracle.summarize(df.iloc[:2]), want) is not None,
          "oracle rejects a frame with a row missing")
    check(oracle.mismatch(oracle.summarize(df.rename(columns={"x": "y"})), want) is not None,
          "oracle rejects a frame with a column renamed")


def main() -> int:
    sys.path.insert(0, str(run.ROOT))
    from pyspark.sql.pandas.types import from_arrow_type

    from mapreduce_system_spark.sources.tables import SCHEMAS

    check_oracle()
    run.BUILD.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix="selftest-", dir=run.BUILD))
    try:
        data = work / "data"
        datagen.write(str(data), 0.001, 42)
        schemas = {t: pq.read_schema(data / f"{t}.parquet") for t in SCHEMAS}
        check(all(schemas[t].names == s.names for t, s in SCHEMAS.items()),
              "generated tables have the catalog's columns")
        check(
            all(
                from_arrow_type(schemas[t].field(f.name).type) == f.dataType
                for t, s in SCHEMAS.items()
                for f in s.fields
            ),
            "generated parquet types read as the catalog's Spark types",
        )
        stamps = [f.type for a in schemas.values() for f in a if pa.types.is_timestamp(f.type)]
        check(len(stamps) == 3 and all(t.unit == datagen.TS_UNIT for t in stamps),
              f"the three timestamp columns are timestamp[{datagen.TS_UNIT}], as in the fixtures")
        answers = oracle.build(str(data), QUERIES, str(work / "oracle.json"))
        run_dir = work / "run"
        run_dir.mkdir()
        r = run.Run(QUERIES, 7, 0, True, 0.001, str(data), answers, run_dir)
        record = r.execute()
        check(not r.failures, f"traced run matches its oracles ({r.failures})")
        for trace, units in enumerate(run.metric_units()):
            values = record["per_layer" if trace else "end_to_end"]
            line = run.result_line(values, units, r.attempted, r.failures)
            check(
                set(line) == {"correct", "attempted", "failed", "metrics"}
                and line["attempted"] == 2 * len(QUERIES)
                and set(line["metrics"]) == set(units)
                and all(isinstance(m["value"], (int, float)) for m in line["metrics"].values()),
                f"result line shape, trace={int(trace)}",
            )
        layer = record["per_layer"]
        counts = ("scheduler.jobs", "scheduler.stages", "scheduler.tasks", "sources.scan_records")
        check(all(layer[k] > 0 for k in counts),
              "event-log parser counts " + ", ".join(f"{k}={layer[k]:g}" for k in counts))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
