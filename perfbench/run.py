"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 40 --trace 0

Run from the repository root. Prints a detail line (environment, input
fingerprint, sample counts, index figures) and, last, one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer ones. Exits
non-zero when any check fails or the engine package is missing.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True,
                    help="sizes the fixed schedule: seconds // nominal round length rounds")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import semantic_search_engine_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench.workload import END_TO_END, PER_LAYER, run

    res = run(args.workload, args.seed, args.seconds, bool(args.trace), ROOT)
    failed = len(res["failures"])
    detail = {k: res[k] for k in ("fingerprint", "rounds", "samples", "raw", "phase",
                                  "index_stats", "env")}
    detail.update(workload=args.workload, seed=args.seed, seconds=args.seconds,
                  trace=args.trace, failures=res["failures"][:20],
                  e2e=res["e2e"])
    print(json.dumps({"detail": detail}))
    if args.trace:
        metrics = {k: {"value": res["per_layer"][k], "unit": u} for k, (u, _) in PER_LAYER.items()}
    else:
        metrics = {k: {"value": res["e2e"][k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
