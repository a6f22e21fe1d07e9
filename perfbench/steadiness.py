#!/usr/bin/env python3
"""Run workloads at several seeds and record each end-to-end metric's
median, quartiles and spread (IQR / median), plus CPU steal per run.

    python3 perfbench/steadiness.py --seeds 1-10 --seconds 15 \
        --out perfbench/STEADINESS.json [--workload NAME ...]

Runs are sequential, one benchmark process at a time.
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
sys.path.insert(0, HERE)

from spans import cpu_ticks  # noqa: E402


def seeds_of(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    s0, t0 = cpu_ticks()
    w0 = time.perf_counter()
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    wall = time.perf_counter() - w0
    s1, t1 = cpu_ticks()
    rec = {"seed": seed, "exit": p.returncode, "wall_s": round(wall, 2),
           "steal_pct": round(100.0 * (s1 - s0) / (t1 - t0), 3) if t1 > t0 else 0.0}
    lines = p.stdout.strip().splitlines()
    if p.returncode == 0 and lines:
        rec.update(json.loads(lines[-1]))
    else:
        rec["stderr_tail"] = p.stderr[-2000:]
    return rec


def summarize(runs: list[dict]) -> dict:
    out = {}
    names = sorted({k for r in runs for k in r.get("metrics", {})})
    for name in names:
        vals = [r["metrics"][name]["value"] for r in runs if name in r.get("metrics", {})]
        if len(vals) < 2:
            continue
        q1, q2, q3 = statistics.quantiles(vals, n=4)
        out[name] = {"median": q2, "q1": q1, "q3": q3,
                     "spread": (q3 - q1) / q2 if q2 else None, "n": len(vals)}
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    workloads = args.workload or [w["name"] for w in bench["workloads"]]
    report = {"seconds": seconds, "trace": args.trace, "workloads": {}}
    for w in workloads:
        runs = []
        for seed in seeds_of(args.seeds):
            rec = one(w, seed, seconds, args.trace)
            runs.append(rec)
            print(json.dumps({"workload": w, **{k: v for k, v in rec.items()
                                                if k != "metrics"},
                              "values": {k: round(m["value"], 4) for k, m in
                                         rec.get("metrics", {}).items()}}), flush=True)
        report["workloads"][w] = {"summary": summarize(runs), "runs": runs}
        print(json.dumps({"workload": w, "summary": report["workloads"][w]["summary"]}),
              flush=True)
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
