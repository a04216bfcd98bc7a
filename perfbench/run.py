"""Benchmark of the query engine: one workload, one run, one JSON line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload driver-loop --seed 1 --seconds 14 --trace 0

A run drives the engine only through its public entry points:
``session.get_spark``, ``registry.QUERIES[name](spark, data_dir)``, a
``noop`` write of the returned DataFrame and ``caches.release()``.

1. Inputs. The first run in a checkout writes the fixture tables
   (``datagen.py``, at the workload's scale factor, data seed 42) and the
   DuckDB oracle answers (``oracle.py``) under ``perfbench/_build/``;
   later runs reuse them.
   The input data never depends on ``--seed``.
2. Set-up (``setup_s``): ``get_spark``, which launches the JVM, a one-row
   job, then the warm-ups ``bench.py`` runs before its clock. One sample
   per run: a set-up takes about 14 s on 4 cores.
3. Cold pass: every workload query once, its output collected and compared
   with the oracle answer outside the clock.
4. Warm passes: the whole query list again and again, each query built,
   run through a ``noop`` write and its caches released, until
   ``--seconds`` have passed (at least one pass).

``--seed`` sets the query order inside each pass. ``local[nproc]`` runs
all queries in one process, one at a time (a closed loop, one client).

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` turns on
Spark's event log, a StreamingQueryListener and Catalyst's phase tracker,
and reports per-layer metrics instead; its pass wall time compared with an
untraced run of the same seed is the tracing overhead (``report.py``).

Every run gets its own directory under ``perfbench/_build`` for
``SPARK_LOCAL_DIRS``, the JVM and Python temp dirs and the event log, and
removes it at the end. New ``/tmp/spark_graft_*`` entries left behind by
the queries count as a failure.

Output: a table on stderr; on stdout the full record (environment stamp,
per-query samples) as one JSON line, then the result line
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0 only
when every query ran, matched its oracle and left no staging behind.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import random
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = BENCH / "_build"
DATA_SEED = 42
STAGING_GLOB = "/tmp/spark_graft_*"

sys.path.insert(0, str(BENCH))
from workloads import WORKLOADS  # noqa: E402


def metric_units() -> tuple[dict, dict]:
    """End-to-end and per-layer metric names with their units, in the order
    ``BENCHMARK.json`` lists them."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


# conf keys that differ between two runs of the same code and settings
_VOLATILE_CONF = {
    "spark.app.id",
    "spark.app.startTime",
    "spark.app.submitTime",
    "spark.driver.host",
    "spark.driver.port",
    "spark.eventLog.dir",
    "spark.eventLog.enabled",
    "spark.eventLog.compress",
    "spark.eventLog.rolling.enabled",
}


def ensure_inputs(sf: float, names: list[str]) -> tuple[str, dict]:
    """Fixture tables at ``sf`` and the oracle answers of ``names``, built
    on first use and reused afterwards."""
    import datagen
    import oracle
    from mapreduce_system_spark.registry import ORACLE_SQL

    BUILD.mkdir(exist_ok=True)
    data = BUILD / f"data-sf{sf}-seed{DATA_SEED}"
    if not (data / "READY").exists():
        tmp = Path(tempfile.mkdtemp(prefix="data-", dir=BUILD))
        datagen.write(str(tmp), sf, DATA_SEED)
        (tmp / "READY").write_text("")
        shutil.rmtree(data, ignore_errors=True)
        os.replace(tmp, data)
    key = hashlib.sha256(
        json.dumps({n: ORACLE_SQL[n] for n in names}, sort_keys=True).encode()
    ).hexdigest()
    path = data / f"oracle-{key[:16]}.json"
    if path.exists():
        with open(path) as f:
            return str(data), json.load(f)
    return str(data), oracle.build(str(data), names, str(path))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def warm_up(spark, data_dir: str) -> None:
    """The warm-ups ``bench.py`` runs before its clock: JVM and parquet
    reader, both pandas-UDF paths, and the full-width Python worker pool."""
    from pyspark.sql import functions as F

    from mapreduce_system_spark import pyfiles
    from mapreduce_system_spark.functions.udafs import weighted_mean

    _noop(spark.read.parquet(f"{data_dir}/lineitem.parquet").limit(1000))
    _noop(spark.range(1000).select(F.pandas_udf(lambda s: s * 2, "long")(F.col("id"))))
    _noop(
        spark.range(1000)
        .select((F.col("id") % 4).alias("g"), F.col("id").cast("double").alias("v"))
        .groupBy("g")
        .agg(weighted_mean()("v", "v"))
    )
    pyfiles.ensure_package_on_executors(spark)

    def touch(batches):
        import mapreduce_system_spark.operators.multimodal  # noqa: F401

        yield from batches

    n = spark.sparkContext.defaultParallelism
    _noop(spark.range(32 * n, numPartitions=n).mapInPandas(touch, "id long"))


def set_up(data_dir: str):
    """One set-up: ``get_spark`` (which launches the JVM when none runs), a
    one-row job, then the warm-ups. Returns the session and its timings."""
    from mapreduce_system_spark.session import get_spark

    t0 = time.time()
    spark = get_spark("perfbench")
    t1 = time.time()
    _noop(spark.range(1))
    t2 = time.time()
    warm_up(spark, data_dir)
    t3 = time.time()
    return spark, {"start_s": t1 - t0, "ready_s": t2 - t0, "warmup_s": t3 - t2, "setup_s": t3 - t0}


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def _git_sha() -> str | None:
    if not (ROOT / ".git").exists():
        return None
    try:
        out = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=True,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    return out.stdout.strip()


def _source_digest() -> str:
    h = hashlib.sha256()
    files = sorted((ROOT / "mapreduce_system_spark").rglob("*.py"))
    for p in [ROOT / "__spark_entry__.py", *files]:
        h.update(str(p.relative_to(ROOT)).encode() + b"\0" + p.read_bytes())
    return h.hexdigest()[:16]


class Run:
    """One benchmark run of one workload."""

    def __init__(self, names: list[str], seed: int, seconds: float, trace: bool,
                 sf: float, data_dir: str, answers: dict, run_dir: Path):
        self.names, self.seed, self.seconds, self.trace = names, seed, seconds, trace
        self.sf, self.data_dir, self.answers, self.run_dir = sf, data_dir, answers, run_dir
        self.cores = len(os.sched_getaffinity(0))
        self.failures: list[dict] = []
        self.attempted = 0

    def _configure_env(self) -> None:
        local, tmp, log = (self.run_dir / d for d in ("local", "tmp", "eventlog"))
        for d in (local, tmp, log):
            d.mkdir()
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cores)
        os.environ["SPARK_LOCAL_DIRS"] = str(local)
        os.environ["TMPDIR"] = str(tmp)
        tempfile.tempdir = str(tmp)
        args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp}"]
        if self.trace:
            args += [
                "--conf", "spark.eventLog.enabled=true",
                "--conf", f"spark.eventLog.dir=file://{log}",
                "--conf", "spark.eventLog.compress=false",
                "--conf", "spark.eventLog.rolling.enabled=false",
            ]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])

    def execute(self) -> dict:
        self._configure_env()
        load_start = os.getloadavg()
        staging_before = set(glob.glob(STAGING_GLOB))

        from pyspark import SparkContext

        from layers import ProcTree, StreamProgress

        spark = None
        rng = random.Random(self.seed)
        try:
            spark, setup = set_up(self.data_dir)
            self.spark = spark
            procs = ProcTree(SparkContext._gateway.proc.pid)
            listener = None
            if self.trace:
                listener = StreamProgress()
                spark.streams.addListener(listener)

            cold = self._pass(rng, cold=True)
            steal0 = _steal_s()
            warm, t_start = [], time.time()
            while not warm or time.time() - t_start < self.seconds:
                cpu0 = procs.cpu_s()
                warm.append(self._pass(rng, cold=False))
                warm[-1]["cpu_s"] = procs.cpu_s() - cpu0
            rss_peak = procs.rss_peak_bytes()
            env = self._env_stamp(spark, load_start)
            env["warm_steal_s"] = _steal_s() - steal0
            app_id = spark.sparkContext.applicationId
        finally:
            _shutdown(spark)
        env["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]

        leaked = sorted(set(glob.glob(STAGING_GLOB)) - staging_before)
        for path in leaked:
            self.failures.append({"query": None, "error": f"leaked staging {path}"})
        record = {
            "env": env,
            "setup": setup,
            "cold": cold,
            "warm": warm,
            "end_to_end": self._end_to_end(setup, warm),
            "rss_peak_mib": rss_peak / 2**20,
        }
        if self.trace:
            record["per_layer"] = self._per_layer(record, listener, app_id)
        return record

    def _pass(self, rng: random.Random, cold: bool) -> dict:
        from mapreduce_system_spark import caches
        from mapreduce_system_spark.registry import QUERIES

        import oracle

        order = list(self.names)
        rng.shuffle(order)
        samples = []
        t_pass = time.time()
        for name in order:
            self.attempted += 1
            s = {"query": name}
            t0 = time.time()
            t1 = result = None
            try:
                df = QUERIES[name](self.spark, self.data_dir)
                t1 = time.time()
                if cold:
                    result = df.toPandas()
                else:
                    if self.trace:
                        s.update(_catalyst_ms(df))
                    _noop(df)
                t2 = time.time()
                if self.trace and not cold:
                    s["persisted_rdds"] = len(caches.persistent_rdd_ids(self.spark))
            except Exception as e:  # noqa: BLE001 - a failing query is reported, not fatal
                self.failures.append({"query": name, "error": f"{type(e).__name__}: {e}"[:500]})
                t2 = time.time()
                t1 = t1 or t2
                result = None
                s["error"] = True
            finally:
                tr = time.time()
                caches.release()
                s["release_s"] = time.time() - tr
            s.update(start=t0, built=t1, end=t2, build_s=t1 - t0, wall_s=t2 - t0)
            if cold and result is not None:
                why = oracle.mismatch(oracle.summarize(result), self.answers[name])
                if why:
                    self.failures.append({"query": name, "error": f"oracle: {why}"})
                    s["error"] = True
            samples.append(s)
        return {"wall_s": time.time() - t_pass, "queries": samples}

    def _env_stamp(self, spark, load_start) -> dict:
        import pyspark

        conf = sorted(
            (k, v)
            for k, v in spark.sparkContext.getConf().getAll()
            if k not in _VOLATILE_CONF and str(ROOT) not in v
        )
        return {
            "git_sha": _git_sha(),
            "source_digest": _source_digest(),
            "nproc": self.cores,
            "loadavg_start": [round(x, 2) for x in load_start],
            "contaminated": load_start[0] > self.cores,
            "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "spark_conf_digest": hashlib.sha256(json.dumps(conf).encode()).hexdigest()[:16],
            "data": {"sf": self.sf, "seed": DATA_SEED},
            "workload_seed": self.seed,
            "trace": self.trace,
        }

    def _end_to_end(self, setup, warm) -> dict:
        walls = [s["wall_s"] for p in warm for s in p["queries"]]
        return {
            "setup_s": setup["setup_s"],
            # per-pass means: the JVM is still warming up over the window,
            # and a mean of the passes varies less between runs than any one
            "workload_wall_s": statistics.mean(p["wall_s"] for p in warm),
            "query_wall_p50_s": statistics.median(walls),
            "cpu_s": statistics.mean(p["cpu_s"] for p in warm),
        }

    def _per_layer(self, record, listener, app_id) -> dict:
        """Per-layer counters of the warm passes (median over passes); each
        query of the first warm pass also gets its own counters."""
        from layers import EventLog

        warm = record["warm"]
        log = EventLog(str(self.run_dir / "eventlog" / app_id))
        for s in warm[0]["queries"]:
            s["layers"] = log.window([(s["start"], s["built"], s["end"])], self.cores)
        per_pass = []
        for p in warm:
            qs = p["queries"]
            m = log.window([(s["start"], s["built"], s["end"]) for s in qs], self.cores)
            m.update(listener.window(qs[0]["start"], qs[-1]["end"] + qs[-1]["release_s"]))
            m["queries.build_s"] = sum(s["build_s"] for s in qs)
            for phase in ("analysis", "optimization", "planning"):
                m[f"catalyst.{phase}_ms"] = sum(s.get(f"{phase}_ms", 0) for s in qs)
            m["caches.release_s"] = sum(s["release_s"] for s in qs)
            m["caches.persisted_rdds_peak"] = max(s.get("persisted_rdds", 0) for s in qs)
            per_pass.append(m)
        out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
        out["session.start_s"] = record["setup"]["start_s"]
        out["session.warmup_s"] = record["setup"]["warmup_s"]
        out["trace.pass_wall_s"] = record["end_to_end"]["workload_wall_s"]
        out["cold.pass_wall_s"] = record["cold"]["wall_s"]
        out["memory.rss_peak_mib"] = record["rss_peak_mib"]
        return out


def _catalyst_ms(df) -> dict:
    """Plan the DataFrame's own QueryExecution and read its phase times."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        if phases.contains(phase):
            out[f"{phase}_ms"] = phases.apply(phase).durationMs()
    return out


def _shutdown(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            jvm = gateway.proc
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if jvm.stdin is not None:
                jvm.stdin.close()
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()


def _table(values: dict, units: dict) -> str:
    return "\n".join(f"{k:<30} {values[k]:>16.4f} {u}" for k, u in units.items())


def result_line(values: dict, units: dict, attempted: int, failures: list) -> dict:
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (ROOT / "mapreduce_system_spark").is_dir():
        print(f"perfbench: no engine package next to {BENCH}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    w = WORKLOADS[args.workload]
    data_dir, answers = ensure_inputs(w["sf"], w["queries"])
    run_dir = Path(tempfile.mkdtemp(prefix="run-", dir=BUILD))
    run = Run(w["queries"], args.seed, args.seconds, bool(args.trace), w["sf"], data_dir,
              answers, run_dir)
    try:
        record = run.execute()
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    record.update(workload=args.workload, attempted=run.attempted, failures=run.failures)

    samples = sum(len(p["queries"]) for p in record["warm"])
    print(
        f"# {args.workload} seed={args.seed} warm passes={len(record['warm'])} "
        f"query samples={samples} attempted={run.attempted} failed={len(run.failures)}",
        file=sys.stderr,
    )
    for f in run.failures:
        print(f"# FAILED {f['query']}: {f['error']}", file=sys.stderr)
    units = metric_units()[args.trace]
    values = record["per_layer" if args.trace else "end_to_end"]
    print(_table(values, units), file=sys.stderr)
    print(json.dumps(record, default=str))
    print(json.dumps(result_line(values, units, run.attempted, run.failures)))
    return 0 if not run.failures else 1


if __name__ == "__main__":
    raise SystemExit(main())
