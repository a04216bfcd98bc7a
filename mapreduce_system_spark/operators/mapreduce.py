"""MapReduce-core operators: the reference's own query surface.

The reference's entire "query capability" is ``map → hash-partition →
shuffle → sort → group-by-key → reduce`` over string KV pairs
(``worker.go:92-171``), with word count as the worked flagship example
(README.MD:25-53) and the OSDI'04 paper's workloads (grep, sort, inverted
index, access counts) as the canonical applications. Each function here is
the Spark-first formulation of one of those workloads; ``map_reduce`` keeps
the reference's raw ``(mapf, reducef)`` programming contract for users who
want to bring arbitrary Python functions.

Scale notes per operator are inline. The common theme: Catalyst inserts
partial (map-side) aggregation automatically — the combiner the reference
deliberately omits (README.MD:31-38) — so shuffle volume is bounded by
distinct keys per partition, not input rows.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_system_spark.functions.text import tokens
from mapreduce_system_spark.pyfiles import ensure_package_on_executors
from mapreduce_system_spark.sources.tables import ensure_parallelism


def word_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Flagship query (README.MD:25-53): token → count, ordered by token.

    Plan shape: parquet scan (text column only) → generate (explode) →
    partial hash agg → shuffle on word → final hash agg → range-partitioned
    sort. At 100 TB the word key space is small and zipfian; partial agg
    collapses the skew before the shuffle, so no salting is needed.
    """
    return (
        ensure_parallelism(df)
        .select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy("word")
    )


def grep(df: DataFrame, pattern: str, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Distributed grep (OSDI'04 §2 workload): rows whose text matches regex.

    The predicate is a Catalyst ``RLIKE`` — evaluated inside the scan stage;
    column pruning keeps only (id, text). No shuffle at all.
    """
    return df.select(id_col, text_col).where(F.col(text_col).rlike(pattern))


def distributed_sort(df: DataFrame, keys: list[str], ascending: bool = True) -> DataFrame:
    """Global sort (TeraSort shape; reference sorts per reduce partition,
    ``worker.go:153``; a global order is the paper's sort workload).

    Spark samples key ranges → range-partitions → sorts within partitions;
    identical two-phase shape to the reference but with spill support.
    """
    cols = [F.col(k).asc() if ascending else F.col(k).desc() for k in keys]
    return df.orderBy(*cols)


def inverted_index(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Inverted index / reverse link graph (OSDI'04 §2 workload).

    word → sorted distinct doc ids. ``collect_set`` is bounded here by the
    corpus's doc count per word; for unbounded 100 TB posting lists, write
    the exploded (word, doc_id) pairs sorted+bucketed by word instead —
    ``posting_pairs`` below is that scalable representation.
    """
    pairs = ensure_parallelism(df).select(F.explode(tokens(text_col)).alias("word"), F.col(id_col))
    return (
        pairs.groupBy("word")
        .agg(F.sort_array(F.collect_set(id_col)).alias("postings"))
        .withColumn("df", F.size("postings").cast("long"))
        .orderBy("word")
    )


def posting_pairs(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Scale-path inverted index: distinct (word, doc_id) pairs.

    At 100 TB this is the materialization to bucket/sort by word; no
    per-word array ever lives in one task's memory.
    """
    return (
        ensure_parallelism(df)
        .select(F.explode(tokens(text_col)).alias("word"), F.col(id_col))
        .distinct()
    )


def key_access_count(df: DataFrame, key_col: str) -> DataFrame:
    """URL/key access-frequency count (OSDI'04 §2 workload)."""
    return df.groupBy(key_col).agg(F.count("*").alias("cnt")).orderBy(key_col)


def per_key_fold(
    df: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """The reference's reduce contract: full ordered value list per key,
    folded to one output string (``worker.go:161-165`` hands ``values
    []string`` to ``reducef``).

    Represented exactly: sorted ``collect_list`` joined with ','. WARNING —
    faithful but not 100 TB-safe for unbounded groups (the reference has the
    same flaw: whole group in memory, ``worker.go:142-153``). Scale path:
    algebraic aggregates or ``applyInPandas`` with bounded groups.
    """
    return (
        df.groupBy(key_col)
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list(value_col)), lambda x: x.cast("string")),
                ",",
            ).alias("folded"),
            F.count("*").alias("n_values"),
        )
    )


def map_reduce(
    spark: SparkSession,
    df: DataFrame,
    mapf: Callable[[str, str], Iterable[tuple[str, str]]],
    reducef: Callable[[str, list[str]], str],
    n_reduce: int = 8,
    key_col: str = "file",
    value_col: str = "content",
) -> DataFrame:
    """Generic MapReduce with the reference's exact user contract.

    ``mapf(key, value) -> [(k, v), ...]`` and ``reducef(key, sorted_values)
    -> str`` mirror ``worker.go:51`` / ``README.MD:82`` (there injected via
    Go plugin; here plain Python callables). Implementation is the
    reference pipeline on Spark primitives:

      flatMap(mapf)                      ≡ doMapTask        worker.go:92-120
      repartition(n_reduce, key)         ≡ ihash%nReduce    worker.go:105-110
      groupBy + sorted collect_list      ≡ sort+group       worker.go:153-164
      reducef UDF                        ≡ reduce call      worker.go:165

    Arbitrary Python ``mapf``/``reducef`` is the one place the RDD layer is
    justified (per-record imperative user code); everything engine-side
    stays in the DataFrame API. Results are (key, value) strings like
    ``mr-out-*`` files (``worker.go:167``).
    """
    ensure_package_on_executors(spark)
    # same parallelism guard as the scalable twin and every other
    # mapper-heavy operator: a single-split input (one fixture file)
    # would otherwise run every Python mapf call on ONE core — and this
    # RDD path exists precisely for heavy per-record user code
    src = ensure_parallelism(df.select(key_col, value_col))
    pair_rdd = src.rdd.flatMap(lambda row: mapf(row[0], row[1]))
    # The reference's KeyValue fields are non-nullable Go strings
    # (worker.go:26-29): a mapf emitting None has left the contract. Drop
    # such pairs identically in BOTH engines — without this, array_sort
    # here places nulls last while the scalable twin's Python sorted()
    # raises, so the twins would diverge on the same user program.
    pairs = spark.createDataFrame(pair_rdd, "key string, value string").where(
        F.col("key").isNotNull() & F.col("value").isNotNull()
    )
    reduce_udf = F.udf(lambda k, vs: reducef(k, list(vs)), "string")
    return (
        pairs.groupBy("key")
        .agg(F.array_sort(F.collect_list("value")).alias("values"))
        .select("key", reduce_udf(F.col("key"), F.col("values")).alias("value"))
        # nReduce controls *output* partitioning (one file per reduce
        # partition, worker.go:167); applying it before groupBy would be a
        # wasted extra shuffle (groupBy re-shuffles to shuffle.partitions).
        .repartition(n_reduce, "key")
        .sortWithinPartitions("key")
    )


def map_reduce_scalable(
    df: DataFrame,
    mapf: Callable[[str, str], Iterable[tuple[str, str]]],
    reducef: Callable[[str, list[str]], str],
    key_col: str = "file",
    value_col: str = "content",
) -> DataFrame:
    """The scalable twin of ``map_reduce``: same (mapf, reducef) user
    contract (worker.go:51, README.MD:82), Arrow-batched execution.

    - map phase: ``mapInPandas`` — columnar batches in/out, no pickled
      rows (vs the RDD flatMap in ``map_reduce``);
    - reduce phase: ``applyInPandas`` — one pandas frame per key with the
      full sorted value list, honoring the reference's reducef contract
      (``values []string`` per key, worker.go:161-165).

    The reduce stays on ``applyInPandas``: an ``applyInArrow`` reduce
    gained nothing, since the contract's own sort of the value list
    dominates either way (bench_runs/r18_mr_arrow_ab.json).

    The whole-group-per-task memory shape is inherent to that contract
    (the reference has it too, worker.go:142-153); for unbounded 100 TB
    groups use algebraic DataFrame aggregates instead.
    """

    ensure_package_on_executors(df.sparkSession)
    df = ensure_parallelism(df)

    def map_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            keys: list[str] = []
            vals: list[str] = []
            for k, v in zip(pdf[key_col], pdf[value_col]):
                for ok, ov in mapf(k, v):
                    keys.append(ok)
                    vals.append(ov)
            yield pd.DataFrame({"key": keys, "value": vals}, dtype=object)

    pairs = df.select(key_col, value_col).mapInPandas(
        map_batches, "key string, value string"
    ).where(F.col("key").isNotNull() & F.col("value").isNotNull())
    # null-pair filter: same non-null contract as map_reduce (see there)

    def reduce_group(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf["key"].iloc[0]
        return pd.DataFrame({"key": [key], "value": [reducef(key, sorted(pdf["value"]))]})

    return pairs.groupBy("key").applyInPandas(reduce_group, "key string, value string")
