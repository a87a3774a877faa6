"""Steadiness report: run the benchmark on several seeds and give, for every
end-to-end metric and workload, the median, the quartiles and the spread
(distance between the quartiles as a share of the median), the number the
bounds in BENCHMARK.json are set from.

    python3 perfbench/steadiness.py --seeds 1-10 [--workloads a,b] [--trace]
        [--out perfbench/results/steadiness.json]

Runs are sequential; each is a separate ``run.py`` process. With
``--trace`` one traced run per workload (the first seed) is added, for
``trace.overhead_ratio``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds_arg(text: str) -> list[int]:
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    elapsed = time.perf_counter() - t
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-2000:]}")
    result = json.loads(lines[-1])
    config = json.loads(lines[-2])["config"] if len(lines) > 1 else {}
    return {"workload": workload, "seed": seed, "trace": trace, "elapsed_s": elapsed,
            "result": result, "config": config}


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else values * 3
    return {"n": len(values), "median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0}


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", default=None)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    runs = []
    for w in args.workloads.split(","):
        for s in args.seeds:
            runs.append(run_once(w, s, args.seconds, 0))
            print(f"{w} seed {s}: {runs[-1]['elapsed_s']:.1f} s", file=sys.stderr)
        if args.trace:
            runs.append(run_once(w, args.seeds[0], args.seconds, 1))
    report = {"seeds": args.seeds, "seconds": args.seconds, "workloads": {}, "runs": runs}
    print("| workload | metric | median | q1 | q3 | spread | bound/3 |")
    print("|---|---|---|---|---|---|---|")
    for w in args.workloads.split(","):
        plain = [r for r in runs if r["workload"] == w and not r["trace"]]
        rows = {}
        for name in bounds:
            vals = [r["result"]["metrics"][name]["value"] for r in plain]
            rows[name] = spread(vals)
            st = rows[name]
            print(f"| {w} | {name} | {st['median']:.4g} | {st['q1']:.4g} | {st['q3']:.4g} "
                  f"| {st['spread']:.3f} | {bounds[name] / 3:.3f} |")
        rows["elapsed_s"] = spread([r["elapsed_s"] for r in plain])
        traced = [r for r in runs if r["workload"] == w and r["trace"]]
        if traced:
            rows["trace.overhead_ratio"] = traced[0]["result"]["metrics"]["trace.overhead_ratio"]["value"]
        rows["all_correct"] = all(r["result"]["correct"] for r in runs if r["workload"] == w)
        report["workloads"][w] = rows
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
