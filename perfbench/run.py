"""Runs one benchmark workload: one process, one closed-loop client.

    python3 perfbench/run.py --workload serve_warm --seed 1 --seconds 20 \
        --trace 0

Prints a human summary on stderr and, as the last line of stdout, one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
``--trace 0`` the metrics are the end-to-end set, with ``--trace 1``
the per-layer set (read from spans recorded around calls into each
layer). Run from the root of a source checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "ok_ratio": "ratio",
    "query_p50_ms": "ms",
    "query_p99_ms": "ms",
    "queries_per_cpu_s": "1/s",
    "replica_peak_rss_mb": "MB",
    "index_bytes_per_source_byte": "ratio",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["serve_warm", "serve_evict", "build_update"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(common.ROOT, "rse_spark")):
        print("perfbench: no rse_spark package beside perfbench/; run it "
              "from a source checkout", file=sys.stderr)
        return 2
    common.pin_env()

    import layers
    import spans
    import workloads

    tracer = spans.Tracer() if args.trace else None
    try:
        run = workloads.WORKLOADS[args.workload](
            args.seed, args.seconds, tracer)
    finally:
        if tracer is not None:
            tracer.unwrap_all()

    lat = spans.latency_summary(run.lat)
    print(f"perfbench {args.workload} seed={args.seed} "
          f"setup={run.setup_s:.3f}s queries={lat['n']} "
          f"p50={lat['p50_ms']:.3f}ms p{lat['tail_pct']:g}="
          f"{lat['tail_ms']:.3f}ms ({lat['n_beyond_tail']} beyond) "
          f"checked={run.attempted} failed={run.failed} "
          f"pinned={common.pinned()}", file=sys.stderr)
    for note in run.notes + run.failures:
        print(f"perfbench: {note}", file=sys.stderr)
    if lat["tail_pct"] < 99.0:
        print("perfbench: fewer than 1000 queries, tail is "
              f"p{lat['tail_pct']:g}", file=sys.stderr)

    if tracer is None:
        values = {
            "setup_s": run.setup_s,
            "ok_ratio": (run.attempted - run.failed) / run.attempted,
            "query_p50_ms": lat["p50_ms"],
            "query_p99_ms": lat["tail_ms"],
            "queries_per_cpu_s": lat["n"] / run.query_cpu_s,
            "replica_peak_rss_mb": run.replica_rss_mb,
            "index_bytes_per_source_byte": run.index_bytes
            / run.source_bytes,
        }
        units = END_TO_END
    else:
        values = {name: float(run.layer.get(name, 0.0))
                  for name in layers.METRICS}
        units = layers.METRICS
    out = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": values[k], "unit": units[k]}
                    for k in units},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
