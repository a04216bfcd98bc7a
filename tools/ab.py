"""A/B harness: time two values of one module attribute on named queries.

Usage:
  python tools/ab.py --query Q [--query Q ...] --patch module.attr=A,B \\
      --sf-dir DIR --out bench_runs/NAME.json [--note TEXT]

``A`` and ``B`` are Python literals (``ast.literal_eval``): ``A`` is the
current value, ``B`` the candidate. Protocol (choosing-metrics guide §8):

- one untimed warm-up run per arm, then exactly ``PAIRS`` pairs, the arm
  that runs first alternating from pair to pair;
- one run executes every ``--query`` in turn; its wall is the sum over
  them of the query call plus a ``noop`` write of the result (bench.py's
  method — eager stream replays inside the call are timed);
- each result is collected untimed and compared, as a multiset of rows,
  with the first run's; any difference exits 2 and writes no record;
- ``caches.release()`` runs after every query;
- each arm's series must pass ``tools/_abcommon.assert_sane_walls``,
  otherwise no record is written and the harness exits 3.

The record holds both arms' walls, the pair win counts, the medians, the
A arm's interquartile range and the verdict: B is faster only when it
wins at least 9 of 10 pairs (ties count for neither) and the medians
differ by more than A's IQR; "B slower" is the mirror rule. It is
stamped with the git sha, cpu count and loadavg at start and end.
"""

from __future__ import annotations

import argparse
import ast
import importlib
import json
import math
import os
import statistics
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools._abcommon import SpreadError, assert_sane_walls  # noqa: E402

PAIRS = 10
WIN_SHARE = 0.9


class OutputMismatch(RuntimeError):
    """The two arms (or two runs of one arm) returned different results."""


def measure(run, a, b) -> tuple[list[float], list[float]]:
    """Warm up each arm once, then time ``PAIRS`` alternating pairs.

    ``run(value) -> (wall_s, output)``. Raises :class:`OutputMismatch` as
    soon as any run's output differs from the first run's.
    """
    ref: list = []

    def once(value) -> float:
        wall, out = run(value)
        if not ref:
            ref.append(out)
        elif out != ref[0]:
            raise OutputMismatch(f"output with value {value!r} differs")
        return round(wall, 3)

    once(a)
    once(b)
    walls: tuple[list[float], list[float]] = ([], [])
    for i in range(PAIRS):
        for arm in (0, 1) if i % 2 == 0 else (1, 0):
            walls[arm].append(once((a, b)[arm]))
    return walls


def verdict(walls_a: list[float], walls_b: list[float]) -> dict:
    """Pair wins, medians, A's IQR and the guide's gain rule."""
    wins_b = sum(wb < wa for wa, wb in zip(walls_a, walls_b))
    wins_a = sum(wa < wb for wa, wb in zip(walls_a, walls_b))
    med_a, med_b = statistics.median(walls_a), statistics.median(walls_b)
    q1, _, q3 = statistics.quantiles(walls_a, n=4)
    iqr_a = q3 - q1
    need = math.ceil(WIN_SHARE * len(walls_a))
    if wins_b >= need and med_a - med_b > iqr_a:
        call = "B faster"
    elif wins_a >= need and med_b - med_a > iqr_a:
        call = "B slower"
    else:
        call = "no difference shown"
    return {
        "pairs": len(walls_a),
        "wins_a": wins_a,
        "wins_b": wins_b,
        "median_a_s": round(med_a, 3),
        "median_b_s": round(med_b, 3),
        "b_over_a": round(med_b / med_a, 3),
        "iqr_a_s": round(iqr_a, 3),
        "verdict": call,
    }


def ab(run, a, b, out_path: Path, stamp: dict) -> dict:
    """Measure, apply the spread rule, then write the record.

    Nothing is written when outputs differ or a series fails the rule.
    """
    walls_a, walls_b = measure(run, a, b)
    assert_sane_walls({"A": walls_a, "B": walls_b})
    record = {
        **stamp,
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "walls_a": walls_a,
        "walls_b": walls_b,
        "identical_output": True,
        **verdict(walls_a, walls_b),
    }
    out_path.write_text(json.dumps(record, indent=1, sort_keys=True) + "\n")
    return record


def _git_sha() -> str:
    return subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True,
        text=True, check=True,
    ).stdout.strip()


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--query", action="append", required=True)
    p.add_argument("--patch", required=True, help="module.attr=A,B")
    p.add_argument("--sf-dir", required=True)
    p.add_argument("--out", required=True, type=Path)
    p.add_argument("--note", default="")
    args = p.parse_args(argv)

    target, _, values = args.patch.partition("=")
    module_name, _, attr = target.rpartition(".")
    a, b = ast.literal_eval(values)
    module = importlib.import_module(module_name)
    if not hasattr(module, attr):
        p.error(f"{module_name} has no attribute {attr}")

    from mapreduce_system_spark import caches
    from mapreduce_system_spark.registry import QUERIES
    from mapreduce_system_spark.session import get_spark

    spark = get_spark("ab")
    orig = getattr(module, attr)

    def run(value):
        setattr(module, attr, value)
        wall, outs = 0.0, []
        try:
            for name in args.query:
                t0 = time.perf_counter()
                df = QUERIES[name](spark, args.sf_dir)
                df.write.format("noop").mode("overwrite").save()
                wall += time.perf_counter() - t0
                outs.append(sorted((tuple(r) for r in df.collect()), key=repr))
                caches.release()
        finally:
            setattr(module, attr, orig)
        return wall, outs

    stamp = {
        "protocol": (
            f"{PAIRS} alternating pairs after one untimed warm-up per arm; "
            "wall = query call + noop write, summed over the queries; "
            "outputs compared on an untimed collect; spread rule "
            "(tools/_abcommon.py) applied to each arm"
        ),
        "queries": args.query,
        "patch": target,
        "a": a,
        "b": b,
        "sf_dir": args.sf_dir,
        "note": args.note,
        "git_sha": _git_sha(),
        "ncpu": os.cpu_count(),
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "loadavg_start": [round(x, 2) for x in os.getloadavg()],
    }
    try:
        record = ab(run, a, b, args.out, stamp)
    except OutputMismatch as e:
        print(f"# {e}; no record written", file=sys.stderr)
        return 2
    except SpreadError as e:
        print(f"# {e}; no record written", file=sys.stderr)
        return 3
    print(json.dumps(record, sort_keys=True))
    return 0


if __name__ == "__main__":
    sys.exit(main())
