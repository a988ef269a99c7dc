#!/usr/bin/env python3
"""Steadiness evidence: interleaved runs of the benchmark's workloads.

    python3 perfbench/steady.py --seeds 1-10 [--workloads tile_export,search]
                                [--seconds 20] [--out perfbench/results/steady.json]
                                [--against earlier.json]

Runs every workload once per seed, interleaving workloads (seed 1 of each,
then seed 2 of each, ...), each in a fresh process.  For every end-to-end
metric it reports the median, the quartiles (``statistics.quantiles(n=4)``)
and the interquartile spread as a share of the median, next to the metric's
bound from BENCHMARK.json.  With ``--against`` it also compares each median
with that of an earlier series (a file written by ``--out``): the change
must stay within the metric's bound.  Run from the repository root.
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


def seeds_arg(s: str) -> list[int]:
    out = []
    for part in s.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(workload: str, seed: int, seconds: int, trace: int = 0,
             jit: str = "c1") -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--jit", jit]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {p.returncode}:\n{p.stderr[-3000:]}")
    res = json.loads(lines[-1])
    res["wall_s"] = wall
    return res


def summarise(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else float("inf"), "n": len(values)}


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--out", default=None)
    ap.add_argument("--against", default=None)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = args.workloads.split(",")
    runs = {w: [] for w in workloads}
    for seed in args.seeds:
        for w in workloads:
            r = run_once(w, seed, args.seconds)
            runs[w].append({"seed": seed, "correct": r["correct"], "attempted": r["attempted"],
                            "failed": r["failed"], "wall_s": r["wall_s"],
                            "metrics": {k: v["value"] for k, v in r["metrics"].items()}})
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items())
            print(f"{w:12s} seed={seed:<6d} wall={r['wall_s']:5.1f}s "
                  f"ok={r['correct']} n={r['attempted']} {vals}", flush=True)
    summary = {}
    for w in workloads:
        summary[w] = {}
        for m in bounds:
            s = summarise([r["metrics"][m] for r in runs[w]])
            s["bound"] = bounds[m]
            summary[w][m] = s
            print(f"{w:12s} {m:16s} median={s['median']:.4g} q1={s['q1']:.4g} "
                  f"q3={s['q3']:.4g} spread={s['spread']:.3f} bound={s['bound']}")
        if args.against:
            with open(args.against) as fh:
                before = json.load(fh)["summary"][w]
            for m in bounds:
                change = summary[w][m]["median"] / before[m]["median"] - 1
                summary[w][m]["change_vs_earlier"] = change
                print(f"{w:12s} {m:16s} median change vs earlier series "
                      f"{100 * change:+.1f} % (bound {100 * bounds[m]:.0f} %)")
        walls = [r["wall_s"] for r in runs[w]]
        print(f"{w:12s} run wall median={statistics.median(walls):.1f}s max={max(walls):.1f}s")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"seconds": args.seconds, "seeds": args.seeds,
                       "summary": summary, "runs": runs}, fh, indent=1)


if __name__ == "__main__":
    main()
