"""Steadiness self-check: run workloads repeatedly, each run on its own
seed, and report every metric's median, quartiles and spread (the
distance between the quartiles as a share of the median) next to the
bound ``BENCHMARK.json`` gives it.

Run from the root of a checkout::

    python3 perfbench/steady.py --runs 10                  # every workload
    python3 perfbench/steady.py --runs 5 --workloads link_batches

Runs are sequential (the benchmark owns the host while it measures).
Each run's result and details lines are appended to
``.bench_work/steady.jsonl`` as they arrive; the summary is printed as
one JSON object at the end. A spread above a third of its bound is
flagged ``"steady": false``.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time


LOG = ".bench_work/steady.jsonl"


def summarize(values: list[float], bound: float | None) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med if med else float("inf")
    out = {"median": med, "q1": q1, "q3": q3, "spread": spread, "n": len(values)}
    if bound is not None:
        out.update(bound=bound, steady=spread < bound / 3)
    return out


def main() -> None:
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1000)
    ap.add_argument("--workloads", nargs="*",
                    default=[w["name"] for w in spec["workloads"]])
    args = ap.parse_args()
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}

    report = {}
    for w in args.workloads:
        per_metric: dict[str, list[float]] = {}
        walls, failures = [], 0
        for i in range(args.runs):
            seed = args.first_seed + i
            cmd = [*spec["command"], "--workload", w, "--seed", str(seed),
                   "--seconds", str(spec["run_seconds"]), "--trace", "0"]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
            walls.append(time.perf_counter() - t0)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                failures += 1
                print(f"{w} seed {seed}: exit {proc.returncode}\n"
                      f"{proc.stderr[-2000:]}", file=sys.stderr)
                continue
            result = json.loads(lines[-1])
            with open(LOG, "a") as f:
                f.write(json.dumps({"workload": w, "seed": seed,
                                    "wall_s": walls[-1], **result,
                                    "details": json.loads(lines[-2])}) + "\n")
            for name, m in result["metrics"].items():
                per_metric.setdefault(name, []).append(m["value"])
            print(f"{w} seed {seed}: {walls[-1]:.1f} s "
                  + " ".join(f"{k}={v['value']:.4g}"
                             for k, v in result["metrics"].items()),
                  file=sys.stderr)
        report[w] = {
            "runs": args.runs, "failed_runs": failures,
            "run_wall_s": summarize(walls, None) if len(walls) > 1 else walls,
            "metrics": {k: summarize(v, bounds.get(k))
                        for k, v in per_metric.items() if len(v) > 1},
        }
    print(json.dumps(report, indent=1))


if __name__ == "__main__":
    main()
