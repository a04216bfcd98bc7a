"""Run every workload over several seeds and report each end-to-end
metric's median and spread against its bound in ``BENCHMARK.json``.

Usage (from the repository root)::

    python3 perfbench/spread.py [--seeds 10] [--first-seed 1] [--out FILE]

The spread is the distance between the first and third quartile of a
metric's values (``statistics.quantiles(values, n=4)``) as a share of their
median. A metric is steady when its spread is below a third of its bound.
With ``--out`` the medians, spreads and every run's environment stamp are
written as a JSON record (``baseline.json`` in this directory was made that
way). Exits non-zero when a run fails or a metric is not steady.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent


def run_once(spec: dict, workload: str, seed: int, trace: int) -> tuple[dict, dict]:
    """One benchmark run; returns (full record, result line)."""
    cmd = [
        *spec["command"], "--workload", workload, "--seed", str(seed),
        "--seconds", str(spec["run_seconds"]), "--trace", str(trace),
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = out.stdout.splitlines()
    if out.returncode != 0 or len(lines) < 2:
        sys.stderr.write(out.stderr[-4000:])
        raise RuntimeError(f"{workload} seed {seed}: exit {out.returncode}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--out")
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    seeds = range(args.first_seed, args.first_seed + args.seeds)
    summary: dict = {"seeds": list(seeds), "workloads": {}}
    steady = True
    for w in spec["workloads"]:
        name = w["name"]
        values: dict[str, list[float]] = {}
        stamps, elapsed = [], []
        for seed in seeds:
            t0 = time.time()
            record, result = run_once(spec, name, seed, 0)
            elapsed.append(time.time() - t0)
            stamps.append(record["env"])
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        rows = {}
        print(f"## {name}: {len(seeds)} runs, {statistics.median(elapsed):.1f} s median per run")
        for m in spec["end_to_end"]:
            vals = values[m["name"]]
            med = statistics.median(vals)
            q1, _, q3 = statistics.quantiles(vals, n=4)
            share = (q3 - q1) / med
            ok = share < m["bound"] / 3
            steady &= ok
            rows[m["name"]] = {"median": med, "q1": q1, "q3": q3, "spread": share, "values": vals}
            print(
                f"{m['name']:<20} median {med:12.4f} {m['unit']:<4} spread {share:6.3f} "
                f"bound {m['bound']:.2f} {'ok' if ok else 'WIDE'}"
            )
        summary["workloads"][name] = {
            "metrics": rows,
            "run_elapsed_s": elapsed,
            "contaminated_runs": sum(1 for s in stamps if s["contaminated"]),
            "env": stamps[0],
        }
    if args.out:
        Path(args.out).write_text(json.dumps(summary, indent=1) + "\n")
    print("steady" if steady else "not steady: a spread is at or above a third of its bound")
    return 0 if steady else 1


if __name__ == "__main__":
    raise SystemExit(main())
