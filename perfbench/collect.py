"""Run the benchmark over several seeds and summarize each metric.

    python3 perfbench/collect.py --workloads convert link_cc --seeds 1-10 \
        [--trace 0] [--out perfbench/results/NAME.json]

For every workload and metric it prints the median, the quartiles, and
the spread (Q3 - Q1) / median -- the number each end-to-end bound in
BENCHMARK.json is judged against -- and keeps every run's full output.
Run from the root of a checkout; the runs are sequential.
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


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        a, b = spec.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(s) for s in spec.split(",")]


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "n": len(values)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}

    report: dict = {"trace": args.trace, "seconds": seconds, "workloads": {}}
    for wl in args.workloads:
        runs = []
        for seed in seeds(args.seeds):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", str(seed), "--seconds", str(seconds),
                   "--trace", str(args.trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines else {}
            runs.append({"seed": seed, "exit": p.returncode, "result": result,
                         "log": [ln for ln in lines[:-1] if ln.startswith("# ")]})
            print(f"{wl} seed={seed} exit={p.returncode} correct={result.get('correct')}",
                  flush=True)
        names = sorted({k for r in runs for k in r["result"].get("metrics", {})})
        summary = {}
        for name in names:
            vals = [r["result"]["metrics"][name]["value"] for r in runs
                    if name in r["result"].get("metrics", {})]
            summary[name] = summarize(vals)
            s = summary[name]
            bound = bounds.get(name)
            flag = "" if bound is None else f" bound={bound} ({s['spread'] / bound:.2f} of it)"
            print(f"  {wl} {name}: median={s['median']:.6g} "
                  f"spread={s['spread']:.4f}{flag}", flush=True)
        report["workloads"][wl] = {"summary": summary, "runs": runs}
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
