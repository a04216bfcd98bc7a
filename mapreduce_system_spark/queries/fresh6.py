"""Round-6 additions: the stateful streaming operator, driver-checked —
both halves of the applyInPandasWithState surface.

- ``stream_stateful_user_totals``: ``user_running_totals`` (the
  engine-side analog of the reference's reduce contract for streams,
  worker.go:161-165) had pytest-only evidence. The query stages the
  events fixture into two parquet files, streams them back with
  ``maxFilesPerTrigger=1`` (two micro-batches, so per-key state
  provably carries across batch boundaries), and returns the final
  per-user state. Oracle: the plain batch GROUP BY — lost or
  double-counted state cannot match it.
- ``stream_stateful_sessions``: custom sessionization with
  ``GroupStateTimeout.EventTimeTimeout`` eviction — the timer half of
  the stateful API (state is EVICTED as the watermark passes; closed
  sessions append exactly once). Oracle: batch gaps-and-islands.

Window position is governed by queries/__init__.py's import list (the
module debuted first in r6; the r10 rotation places it at slots 47-49
with the new TWS twin).
"""

from __future__ import annotations

import shutil
import uuid
from contextlib import contextmanager, nullcontext
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from mapreduce_system_spark import caches
from mapreduce_system_spark.registry import register
from mapreduce_system_spark.sources.tables import load_table


@contextmanager
def _pinned_conf(spark: SparkSession, key: str, value: str):
    """Pin one session conf around a stream START and restore it exactly
    (unset stays unset) — the shared shape behind the shuffle-partition
    and state-store-provider pins, so the restore semantics cannot
    drift between copies."""
    try:
        old = spark.conf.get(key)
    except Exception:
        old = None
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


# The stream's shuffle-partition count: the state store creates one
# instance per shuffle partition per batch. On 4 cores, 32 partitions ran
# the three streaming-state queries 2.3x slower than 8 (10 alternating
# pairs, bench_runs/r19_stream_shuffle_ab.json).
_STREAM_SHUFFLE_PARTITIONS = 8


def _stream_shuffle(spark: SparkSession):
    """Pin the stream's shuffle-partition count around its START: the
    count binds to the query's fresh checkpoint at start, and the session
    value is restored immediately after (it is the STREAM's knob, not the
    session's)."""
    return _pinned_conf(
        spark, "spark.sql.shuffle.partitions", str(_STREAM_SHUFFLE_PARTITIONS)
    )


# Same oracle as stream_user_totals_batch (queries/streaming.py): the
# stream's final state must equal the batch aggregate.
_STATEFUL_TOTALS_SQL = """
SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@register("stream_stateful_user_totals", _STATEFUL_TOTALS_SQL)
def q_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run ``user_running_totals`` through an actual file-source stream
    (availableNow trigger, one file per micro-batch) and return the final
    per-user (count, sum) state.

    ``foreachBatch`` appends each batch's updates (one row per key the
    batch touched, stamped with the batch id) to a parquet sink; the
    final state is recovered afterwards as the last update per user —
    one window pass over O(users x batches) SINK rows, with zero
    driver-side collect anywhere in the harness (the sessions query's
    sink pattern). Scratch staging + checkpoint dirs are per-(app, run)
    and removed afterwards."""
    from mapreduce_system_spark.streaming import stateful as ST

    app = spark.sparkContext.applicationId
    base = Path(f"/tmp/spark_graft_stateful_{Path(sf_dir).name}_{app}_{uuid.uuid4().hex[:8]}")
    # the uuid suffix means a crashed run's staging (full events copy +
    # checkpoint) is never overwritten by a later run — reap abandoned
    # siblings on the shared 48 h policy (caches.reap_stale_stagings)
    caches.reap_stale_stagings(
        f"spark_graft_stateful_{Path(sf_dir).name}_", base.name
    )
    src, ck = str(base / "src"), str(base / "ck")
    ev = load_table(spark, sf_dir, "events", columns=["user_id", "value"])
    # two files = two micro-batches: the minimum that proves cross-batch
    # state carry-over (each extra batch costs one Python call per user)
    ev.repartition(2).write.mode("overwrite").parquet(src)

    sink = str(base / "out")

    def persist_updates(batch_df, batch_id: int) -> None:
        # update mode emits one row per key updated in THIS batch; the
        # batch-id stamp lets the post-pass keep only each key's last
        # update. Executor-side append — nothing flows to the driver.
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(sink)

    stream = (
        spark.readStream.schema("user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    with _stream_shuffle(spark):
        q = (
            ST.user_running_totals(stream)
            .writeStream.foreachBatch(persist_updates)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
    try:
        q.awaitTermination()
        upd = spark.read.parquet(sink)
        n_batches = upd.agg(F.countDistinct("batch_id")).collect()[0][0]
        if n_batches < 2:
            # the whole point is state ACROSS micro-batches; a single
            # batch would silently weaken the check into a per-batch
            # aggregation
            raise RuntimeError(f"expected >=2 micro-batches, saw {n_batches}")
        w = W.partitionBy("user_id").orderBy(F.col("batch_id").desc())
        out = (
            upd.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            # round in Spark (HALF_UP, matching the oracle), not in
            # Python (round() is banker's rounding)
            .select(
                "user_id", "n_events", F.round("total_value", 2).alias("total_value")
            )
            .orderBy("user_id")
        )
        # materialize before the scratch dir (including the sink) is
        # removed — localCheckpoint pins the result partitions
        from mapreduce_system_spark.caches import persistent_rdd_ids, track_rdd_ids

        before = persistent_rdd_ids(spark)
        out = out.localCheckpoint(eager=True)
        track_rdd_ids(spark, persistent_rdd_ids(spark) - before)
    finally:
        try:
            q.stop()
        except Exception:
            pass
        shutil.rmtree(base, ignore_errors=True)

    return out


_GAP_S = 1800  # 30-minute inactivity gap, matching rel_sessionize_events

# Batch gaps-and-islands twin: the stream's once-per-session appends must
# reproduce this exactly (session keyed on integer epoch seconds, so the
# hash has no float surface at all).
_STATEFUL_SESSIONS_SQL = f"""
WITH t AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events
), o AS (
  SELECT user_id, es,
         CASE WHEN lag(es) OVER (PARTITION BY user_id ORDER BY es) IS NULL
                OR es - lag(es) OVER (PARTITION BY user_id ORDER BY es) > {_GAP_S}
              THEN 1 ELSE 0 END AS ns
  FROM t
), s AS (
  SELECT user_id, es,
         sum(ns) OVER (PARTITION BY user_id ORDER BY es
                       ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
       min(es) AS session_start,
       CAST(count(*) AS BIGINT) AS n_events,
       max(es) - min(es) AS dur_s
FROM s GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


def _run_session_stream(
    spark: SparkSession, sf_dir: str, family: str, sessionize,
    stats: dict | None = None,
) -> DataFrame:
    """Shared harness for the two sessionization twins: stage the events
    fixture as a replay-ordered file stream, run ``sessionize(stream)``
    (a streaming DataFrame -> streaming DataFrame sessionizer) to a
    parquet append sink, and return the closed-session set.

    Replay discipline: events are staged into two time-CONTIGUOUS
    parquet chunks (sorted split, file mtimes forcing arrival order) so
    event time never regresses across micro-batches — the condition under
    which watermark-0 streaming sessionization is exactly the batch
    gaps-and-islands oracle. A trailing sentinel file (user_id −1, beyond
    max_ts + gap) plus the engine's trailing no-data micro-batch push the
    watermark past every real session's timer before the stream
    terminates; the oracle match proves the flush is complete."""
    import os

    app = spark.sparkContext.applicationId
    base = Path(f"/tmp/spark_graft_{family}_{Path(sf_dir).name}_{app}_{uuid.uuid4().hex[:8]}")
    # same abandoned-sibling reap as q_stateful_user_totals (uuid dirs
    # are never overwritten by later runs)
    caches.reap_stale_stagings(
        f"spark_graft_{family}_{Path(sf_dir).name}_", base.name
    )
    src, ck = base / "src", str(base / "ck")
    src.mkdir(parents=True)

    ev = load_table(spark, sf_dir, "events", columns=["user_id", "ts"]).withColumn(
        "es", F.unix_timestamp("ts")
    )
    max_es = ev.agg(F.max("es")).collect()[0][0]
    # staging-only time split: ONE repartitionByRange job yields two
    # time-contiguous part files (partition 0 = lower range = part-00000),
    # which is all parity needs — ANY contiguous split works, the
    # boundary itself is irrelevant to the session set. Two data chunks =
    # the minimum proving sessions span batch boundaries; every extra
    # batch costs one Python call per live user.
    tmp = str(base / "tmp_ranges")
    ev.select("user_id", "ts", "es").repartitionByRange(2, "es", "user_id").write.mode(
        "overwrite"
    ).parquet(tmp)
    parts = sorted(p for p in Path(tmp).iterdir() if p.name.endswith(".parquet"))
    if len(parts) < 2:
        # same silent-weakening guard as q_stateful_user_totals: range
        # partitioning on sampled boundaries CAN put every row in one
        # partition (empty partitions write no file) — one data chunk
        # would stop sessions from ever spanning a batch boundary while
        # the oracle still matched
        raise RuntimeError(f"expected 2 time-range chunks, saw {len(parts)}")
    for i, part in enumerate(parts, start=1):
        dst = src / f"chunk-{i}.parquet"
        part.rename(dst)
        t = 1_700_000_000 + i * 10  # strictly increasing mtimes = arrival order
        os.utime(dst, (t, t))
    # one sentinel beyond every real timer: its DATA batch fires timers
    # up to the pre-sentinel watermark, and the trailing no-data
    # micro-batch (spark.sql.streaming.noDataMicroBatches, default on)
    # fires the rest once the watermark reaches the sentinel — the
    # oracle match below proves the full flush happened
    es = int(max_es) + _GAP_S + 61
    sentinel = src / "chunk-9-sentinel.parquet"
    spark.range(1).select(
        F.lit(-1).cast("long").alias("user_id"),
        F.timestamp_seconds(F.lit(es)).alias("ts"),
        F.lit(es).cast("long").alias("es"),
    ).coalesce(1).write.mode("overwrite").parquet(str(base / "tmp_sentinel"))
    next(
        p for p in (base / "tmp_sentinel").iterdir() if p.name.endswith(".parquet")
    ).rename(sentinel)
    t = 1_700_000_000 + 99 * 10
    os.utime(sentinel, (t, t))

    sink = str(base / "out")

    def persist_appends(batch_df, batch_id: int) -> None:
        # append mode: each closed session arrives exactly once; write it
        # to a parquet sink instead of collecting — at sf0.1 the stream
        # closes ~95k sessions and a driver-side collect of those WAS the
        # dominant cost of the first formulation of this query
        batch_df.write.mode("append").parquet(sink)

    stream = (
        spark.readStream.schema("user_id long, ts timestamp, es long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withWatermark("ts", "0 seconds")
    )
    # the recentProgress ring buffer holds only the LAST
    # numRecentProgressUpdates (default 100) micro-batches; a stats
    # replay with more batches would silently truncate the early ones
    # and undercount rows_updated / n_batches (ADVICE r12). The buffer
    # is trimmed at every progress post, so the raised retention must
    # hold for the stream's whole life — pin it around start AND
    # awaitTermination, not just start.
    prog_pin = (
        _pinned_conf(
            spark, "spark.sql.streaming.numRecentProgressUpdates", "10000"
        )
        if stats is not None
        else nullcontext()
    )
    with _stream_shuffle(spark), prog_pin:
        q = (
            sessionize(stream)
            .writeStream.foreachBatch(persist_appends)
            .outputMode("append")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.awaitTermination()
        except BaseException:
            # BaseException, not Exception: before the r13 progress-pin
            # restructure awaitTermination sat inside the outer
            # try/finally, so even KeyboardInterrupt/SystemExit stopped
            # the query and removed the scratch dir — keep that breadth
            # (r13 review)
            try:
                q.stop()
            except Exception:
                pass
            shutil.rmtree(base, ignore_errors=True)
            raise
    try:
        if stats is not None:
            # per-micro-batch engine metrics for the scale probe
            # (tools/scale_probe.py --stream): stateOperators carries
            # numRowsTotal (open sessions in the store) and the
            # provider's size metrics — captured here so the probe
            # measures THIS harness's replay, not a private copy of it
            import json as _json

            stats["progress"] = [
                _json.loads(p.json) if hasattr(p, "json") else dict(p)
                for p in q.recentProgress
            ]
        out = (
            spark.read.parquet(sink)
            .where(F.col("user_id") >= 0)
            .orderBy("user_id", "session_start")
        )
        # materialize before the scratch dir (including the sink) is
        # removed — localCheckpoint pins the result partitions
        from mapreduce_system_spark.caches import persistent_rdd_ids, track_rdd_ids

        before = persistent_rdd_ids(spark)
        out = out.localCheckpoint(eager=True)
        track_rdd_ids(spark, persistent_rdd_ids(spark) - before)
    finally:
        try:
            q.stop()
        except Exception:
            pass
        shutil.rmtree(base, ignore_errors=True)

    return out


@register("stream_stateful_sessions", _STATEFUL_SESSIONS_SQL)
def q_stateful_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful SESSIONIZATION with event-time TIMEOUT EVICTION
    (``streaming.stateful.user_sessions_stateful``) driven through a real
    stream — the applyInPandasWithState capability the running-totals
    query deliberately does not exercise: timers. Sessions are appended
    exactly once, either when a later event breaks the 30-minute gap or
    when ``GroupStateTimeout.EventTimeTimeout`` fires as the watermark
    passes last_event + gap — so idle keys are EVICTED, the bound that
    makes the state store viable on an unbounded feed. Harness:
    ``_run_session_stream``."""
    from mapreduce_system_spark.streaming import stateful as ST

    return _run_session_stream(
        spark,
        sf_dir,
        "sessions",
        lambda stream: ST.user_sessions_stateful(stream, gap_s=_GAP_S),
    )


@register("stream_stateful_sessions_tws", _STATEFUL_SESSIONS_SQL)
def q_stateful_sessions_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same sessionization on ``transformWithStateInPandas`` — the
    Spark 4.x typed-state API (explicit ValueState + event-time TIMERS
    instead of GroupStateTimeout; ``streaming.stateful.user_sessions_tws``).
    Same replay harness, same gaps-and-islands oracle, so the two APIs
    are pinned row-identical by the driver gate itself (plus the
    tests/test_streaming.py parity test).

    TWS requires the RocksDB state-store provider; the conf binds to the
    query's fresh checkpoint at start and the session value is restored
    immediately after (the _stream_shuffle pattern). The protobuf
    runtime TWS's state protocol needs is bound for the stream's
    duration by ``pbshim.tws_protobuf_env`` (no-op where a real
    google.protobuf is installed)."""
    from mapreduce_system_spark.pbshim import tws_protobuf_env
    from mapreduce_system_spark.streaming import stateful as ST

    rocksdb = (
        "org.apache.spark.sql.execution.streaming."
        "state.RocksDBStateStoreProvider"
    )
    # changelog checkpointing: per commit, upload the batch's CHANGELOG
    # instead of snapshotting RocksDB SST files — snapshots move to a
    # background maintenance thread, off the per-micro-batch commit path
    # (bench_runs/r18_tws_changelog_ab.json).
    changelog = (
        "spark.sql.streaming.stateStore.rocksdb."
        "changelogCheckpointing.enabled"
    )
    with _pinned_conf(
        spark, "spark.sql.streaming.stateStore.providerClass", rocksdb
    ), _pinned_conf(
        spark, changelog, "true"
    ), tws_protobuf_env(spark):
        return _run_session_stream(
            spark,
            sf_dir,
            "sessions_tws",
            lambda stream: ST.user_sessions_tws(stream, gap_s=_GAP_S),
        )
