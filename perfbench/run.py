"""Benchmark entry point: run one workload and print its metrics.

    python3 perfbench/run.py --workload curation --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. Prints one ``metric`` line per
figure (name, value, unit), an ``env`` line, and as its LAST line one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Exits 1 when any output was wrong.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# The program under test; without it there is nothing to measure.
import scripts.spill_probe  # noqa: E402,F401
import tests.oracle_compare  # noqa: E402,F401
import webscrap_datapipeline_spark  # noqa: E402,F401

from perfbench import spec  # noqa: E402
from perfbench.workloads import run  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(spec.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    res = run(args.workload, args.seed, args.seconds, bool(args.trace))
    for name, (value, unit) in res["report"].items():
        print(f"metric {args.workload} {name} {value:.6g} {unit}")
    if args.trace:
        for name, value in res["layers"].items():
            print(f"layer {args.workload} {name} {value:.6g} {spec.PER_LAYER[name][0]}")
    print("env " + json.dumps(res["env"], sort_keys=True))
    for err in res["errors"]:
        print(f"error {args.workload} {err}")
    if args.trace:
        metrics = {k: {"value": v, "unit": spec.PER_LAYER[k][0]} for k, v in res["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": spec.END_TO_END[k][0]} for k, v in res["e2e"].items()}
    correct = res["failed"] == 0
    line = {"correct": correct, "attempted": res["attempted"], "failed": res["failed"], "metrics": metrics}
    print(json.dumps(line), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
