"""Per-layer table for every workload, with the tracing overhead and a check
of the predicted split between workloads.

Usage (from the repository root)::

    python3 perfbench/report.py [--seed 1]

For each workload this makes one untraced and one traced run with the same
seed, prints every per-layer metric side by side, and states the traced
run's overhead: traced warm-pass wall over untraced warm-pass wall, minus
one. It then checks the predicted split between the workloads and prints
each prediction with its numbers:

* jobs per query far higher (at least 5x) on graph_pagerank than on the
  median single-pass query;
* ``streaming.*`` nonzero only on driver-loop, the workload with a stream;
* query-building time about 0 (under 5% of query wall) on single-pass, and
  most of it (over 50%) on driver-loop;
* Python-worker bytes 0 on graph_pagerank, nonzero on the stream replay and
  on single-pass.

Last, it lists the queries that launch Spark jobs while they are built.
Exits non-zero when a run fails; a failed prediction is reported, not fatal.
"""

from __future__ import annotations

import argparse
import json
import statistics

from spread import ROOT, run_once


def _build_share(record: dict) -> float:
    qs = [s for p in record["warm"] for s in p["queries"]]
    return sum(s["build_s"] for s in qs) / sum(s["wall_s"] for s in qs)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    plain, traced, layer = {}, {}, {}
    for name in names:
        plain[name], _ = run_once(spec, name, args.seed, 0)
        traced[name], result = run_once(spec, name, args.seed, 1)
        layer[name] = {k: v["value"] for k, v in result["metrics"].items()}

    print(f"{'metric':<30}" + "".join(f"{n:>18}" for n in names) + "  unit")
    for m in spec["per_layer"]:
        cells = "".join(f"{layer[n][m['name']]:>18.4f}" for n in names)
        print(f"{m['name']:<30}{cells}  {m['unit']}")
    for n in names:
        base = plain[n]["end_to_end"]["workload_wall_s"]
        over = layer[n]["trace.pass_wall_s"] / base - 1
        print(f"trace overhead {n}: {over:+.1%} (traced {layer[n]['trace.pass_wall_s']:.2f} s "
              f"vs untraced {base:.2f} s, seed {args.seed})")

    def query_layers(n: str) -> dict[str, dict]:
        return {q["query"]: q["layers"] for q in traced[n]["warm"][0]["queries"]}

    d, s = "driver-loop", "single-pass"
    pagerank = query_layers(d)["graph_pagerank"]
    stream = query_layers(d)["stream_stateful_user_totals"]
    single_jobs = statistics.median(q["scheduler.jobs"] for q in query_layers(s).values())
    streaming = [m["name"] for m in spec["per_layer"] if m["name"].startswith("streaming.")]
    checks = [
        (
            "jobs per query, graph_pagerank >= 5x the single-pass median",
            pagerank["scheduler.jobs"] >= 5 * single_jobs,
            f"{pagerank['scheduler.jobs']} vs {single_jobs:g}",
        ),
        (
            "streaming.* nonzero only on driver-loop",
            all(layer[d][k] > 0 for k in streaming) and not any(layer[s][k] for k in streaming),
            ", ".join(f"{k}={layer[d][k]:g}/{layer[s][k]:g}" for k in streaming),
        ),
        (
            "build share of query wall < 5% on single-pass",
            _build_share(traced[s]) < 0.05,
            f"{_build_share(traced[s]):.1%}",
        ),
        (
            "build share of query wall > 50% on driver-loop",
            _build_share(traced[d]) > 0.5,
            f"{_build_share(traced[d]):.1%}",
        ),
        (
            "Python-worker bytes 0 on graph_pagerank, nonzero on the stream replay and single-pass",
            pagerank["pyworker.bytes_sent"] == 0
            and stream["pyworker.bytes_sent"] > 0
            and layer[s]["pyworker.bytes_sent"] > 0,
            f"{pagerank['pyworker.bytes_sent']}, {stream['pyworker.bytes_sent']}, "
            f"{layer[s]['pyworker.bytes_sent']:g}",
        ),
    ]
    for what, held, numbers in checks:
        print(f"prediction {'holds' if held else 'DOES NOT HOLD'}: {what} ({numbers})")
    for n in names:
        building = [
            f"{q['query']} ({q['layers']['queries.build_jobs']} jobs, "
            f"{q['build_s'] / q['wall_s']:.0%} of wall)"
            for q in traced[n]["warm"][0]["queries"]
            if q["layers"]["queries.build_jobs"]
        ]
        print(f"queries launching jobs while built, {n}: {', '.join(building) or 'none'}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
