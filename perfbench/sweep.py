#!/usr/bin/env python3
"""Run perfbench/run.py over several seeds and summarise the spread.

    python3 perfbench/sweep.py --workload query --seeds 1-10 [--seconds 15]
        [--trace 0|1|both]

For each end-to-end metric (or per-layer metric with ``--trace 1``) it
prints the median over the seeds and the quartile spread
(Q3 - Q1) / median, with ``statistics.quantiles(values, n=4)``, and the
median of each per-type figure of the info line's ``named``.  With
``--trace both`` each seed runs untraced then traced, and the tracing
overhead (traced minus untraced, median over seeds) is printed for every
end-to-end metric.  Runs are sequential; run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def run_once(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, dict]:
    """(result line, info line) of one run; raises on a non-zero exit."""
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, timeout=900,
    )
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n"
                           f"{p.stderr[-3000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2])["info"]


def spread(values: list[float]) -> tuple[float, float]:
    q1, _q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return med, (q3 - q1) / med if med else float("nan")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5")
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", default="0", choices=("0", "1", "both"))
    args = ap.parse_args()
    modes = [0, 1] if args.trace == "both" else [int(args.trace)]
    values: dict[int, dict[str, list[float]]] = {m: {} for m in modes}
    overhead: dict[str, list[float]] = {}
    named: dict[str, list[float]] = {}  # per-type figures, each seed's first run
    for seed in _seeds(args.seeds):
        for mode in modes:
            res, info = run_once(args.workload, seed, args.seconds, mode)
            if not res["correct"]:
                print(f"seed {seed}: {res['failed']} failed", file=sys.stderr)
                return 1
            for k, v in res["metrics"].items():
                values[mode].setdefault(k, []).append(v["value"])
            if mode == modes[0]:
                for k, v in info["named"].items():
                    if v["value"] is not None:
                        named.setdefault(k, []).append(v["value"])
            if mode == 1 and 0 in modes:
                for k, v in info["end_to_end_traced"].items():
                    overhead.setdefault(k, []).append(v - values[0][k][-1])
            line = {"seed": seed, "trace": mode, "steal": info["host_steal_frac"],
                    "metrics": {k: v["value"] for k, v in res["metrics"].items()}}
            if mode == 1:
                line["layer_work"] = info["layer_work"]
            print(json.dumps(line), flush=True)
    summary = {}
    for mode, per_metric in values.items():
        for k, vs in per_metric.items():
            med, spr = spread(vs) if len(vs) > 1 else (vs[0], float("nan"))
            summary[k] = {"median": med, "spread": spr, "n": len(vs)}
    for k, vs in overhead.items():
        summary[k]["trace_overhead"] = statistics.median(vs)
    print(json.dumps({"workload": args.workload, "summary": summary,
                      "named_median": {k: statistics.median(v) for k, v in named.items()}},
                     indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
