"""Smoke test of the benchmark at tiny input sizes.

    python3 perfbench/smoke.py

Runs every workload named in BENCHMARK.json once untraced and once
traced, in one process, and fails (exit 1) unless each run checks out,
prints every metric BENCHMARK.json names with its unit, and, in the
traced run, the self times of each request's spans add up to its
traced wall within the span bookkeeping overhead.
"""

from __future__ import annotations

import json
import os
import sys

import run

#: slack between a request's summed span self times and its wall
SPAN_OVERHEAD_S = 0.05


def check_spans(r: run.Run) -> list[str]:
    """The self times of each request's spans, on the tracer's clock,
    against the request wall that Run.call measured around them."""
    errors = []
    walls = [w for rnd in r.done for _k, w, _o in rnd]
    for root, wall in zip(r.roots, walls):
        total = sum(s.self_s for s in r.tracer.subtree(root))
        if not 0 <= total - wall <= SPAN_OVERHEAD_S:
            errors.append(f"self times sum to {total}, traced wall {wall}")
    return errors


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    run.prepare_env()
    sys.path.insert(0, run.ROOT)
    errors = []
    try:
        for w in spec["workloads"]:
            for trace, key in ((False, "end_to_end"), (True, "per_layer")):
                r = run.Run(w["name"], seed=1, seconds=1, tiny=True)
                res = r.execute(trace)
                tag = f"{w['name']} trace={int(trace)}"
                want = {m["name"]: m["unit"] for m in spec[key]}
                got = {k: v["unit"] for k, v in res["metrics"].items()}
                if got != want:
                    errors.append(f"{tag}: metrics {got} != {want}")
                if not res["correct"] or res["failed"] or not res["attempted"]:
                    errors.append(f"{tag}: {json.dumps(res)}")
                if trace:
                    errors += [f"{tag}: {e}" for e in check_spans(r)]
                print(tag, json.dumps(res), flush=True)
    finally:
        run.shutdown()
    for e in errors:
        print(f"smoke: {e}", file=sys.stderr)
    print("smoke: FAIL" if errors else "smoke: ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
