#!/usr/bin/env python3
"""Run the benchmark over several seeds and report each end-to-end
metric's median, quartiles and spread (interquartile range as a share of
the median) against its bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload serve --seeds 1-10
    python3 perfbench/spread.py --workload write --seeds 1-5 --overhead

``--overhead`` also runs every seed traced and reports the tracing
overhead per workload: the traced minus the untraced median of the timed
part.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_arg(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        a, _, b = part.partition("-")
        out.extend(range(int(a), int(b or a) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, dict]:
    """(report line, result line) of one benchmark run."""
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=False,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit {proc.returncode}")
    return json.loads(lines[-2]), json.loads(lines[-1])


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    p.add_argument("--overhead", action="store_true")
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    values: dict[str, list[float]] = {k: [] for k in bounds}
    timed: dict[int, list[float]] = {0: [], 1: []}
    for seed in args.seeds:
        for trace in (0, 1) if args.overhead else (0,):
            report, result = run_once(args.workload, seed, bench["run_seconds"], trace)
            if not result["correct"]:
                raise SystemExit(f"{args.workload} seed {seed}: failed checks {report['failures']}")
            timed[trace].append(report["timed_s"])
            if trace == 0:
                for k in bounds:
                    values[k].append(result["metrics"][k]["value"])
            print(json.dumps({"seed": seed, "trace": trace, "timed_s": round(report["timed_s"], 3),
                              "cpu_steal_share": round(report["environment"]["cpu_steal_share"], 4),
                              **{k: round(v["value"], 3) for k, v in report["end_to_end"].items()}}),
                  flush=True)
    summary = {}
    for k, vals in values.items():
        med, q1, q3, sp = spread(vals)
        summary[k] = {"median": med, "q1": q1, "q3": q3, "spread": sp, "bound": bounds[k],
                      "within_third_of_bound": sp < bounds[k] / 3}
    out = {"workload": args.workload, "seeds": args.seeds, "metrics": summary}
    if args.overhead:
        out["tracing_overhead_s"] = statistics.median(timed[1]) - statistics.median(timed[0])
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
