"""Layered benchmark for the medallion pipeline and the headline queries.

Run from the repository root:

    python3 perfbench/run.py --workload medallion --seed 1 --seconds 3 --trace 0

Workloads: ``medallion`` and ``headline_queries`` (see workloads.py). Inputs
are generated from ``--seed``; after set-up and one cold unit, the warm phase
runs units for at least ``--seconds`` and at least one unit. Progress and
phase times go to stderr. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` enables Spark's event log and job-group tagging, adds one more
untraced and then one traced warm unit, and reports the per-layer metrics
instead (layers.json maps each one to the end-to-end metric it should move).
The last stdout line is one JSON object: ``{"correct", "attempted",
"failed", "metrics"}``. Scratch space is ``.perfbench/`` under the working
directory; each run removes its own.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    t0 = time.perf_counter()
    root = Path.cwd()
    # the package under test, its bench.py and tools/ come from the checkout
    sys.path.insert(1, str(root))
    try:
        import bench  # noqa: F401  (headline query list)
        import movie_genre_data_pipeline_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: run from the repository root ({exc})", file=sys.stderr)
        return 2

    from harness import Bench
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    with Bench(args.workload, args.seed, args.seconds, bool(args.trace), root) as b:
        metrics = WORKLOADS[args.workload](b)
        if b.trace:
            spans = root / ".perfbench" / f"spans-{args.workload}-{args.seed}.json"
            b.tracer.dump(spans)
            print(f"perfbench: spans written to {spans}", file=sys.stderr)

    print(f"perfbench: {args.workload} took {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {name: {"value": value, "unit": unit}
                    for name, (value, unit) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
