"""List the deterministic counters that differ between two traced runs.

Usage: python3 perfbench/counter_diff.py BEFORE.json AFTER.json

Both files are result files of `perfbench/run.py --trace 1` for the same
workload and seed (under `.perfbench/results/`). Jobs, stages, tasks,
shuffle, spill and input bytes per request kind do not depend on how
busy the machine is, so a change in any of them is a change in the
plan, whatever the wall-clock noise. The dispatch flag and the response
size are compared too. Exits 1 when anything differs, else 0.
"""

from __future__ import annotations

import json
import sys

from tracing import DETERMINISTIC

LAYER_COUNTS = ("plans.dispatch.chunked", "serve.response_bytes")


def counters(path: str) -> dict[str, float]:
    with open(path) as f:
        detail = json.load(f)
    if not detail.get("trace"):
        raise SystemExit(f"{path}: not a traced run (--trace 1)")
    out = {"run.workload": detail["workload"], "run.seed": detail["seed"]}
    for kind, runs in detail["spark_by_kind"].items():
        for c in DETERMINISTIC:
            out[f"{kind}.spark.{c}"] = runs[0][c]
    for kind, layers in detail["layers_by_kind"].items():
        for n in LAYER_COUNTS:
            if n in layers:
                out[f"{kind}.{n}"] = layers[n]
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    before, after = counters(argv[0]), counters(argv[1])
    changed = [
        (k, before.get(k), after.get(k))
        for k in sorted(before.keys() | after.keys())
        if before.get(k) != after.get(k)
    ]
    for k, a, b in changed:
        print(f"{k}: {a} -> {b}")
    if not changed:
        print("no deterministic counter changed")
    return 1 if changed else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
