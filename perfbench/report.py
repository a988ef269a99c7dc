#!/usr/bin/env python3
"""Traced-run report: per-layer metrics, self times and tracing overhead.

    python3 perfbench/report.py --seed 7 [--workloads tile_export,search]
                                [--pairs 3] [--out perfbench/results/traced.md]

For each workload it runs ``--pairs`` pairs of one untraced and one traced
run (same seed, fresh processes, C1-only JIT as in every benchmark run,
the order alternating between pairs) and writes a markdown report: every
per-layer metric and the self time of each layer, with an ``unaccounted``
row for wall time no span covers, from the first traced run, and the
tracing overhead, the median over the pairs of traced over untraced median
latency, minus one.  One more untraced run with the JVM's default tiered
JIT shows how far the C1-only runs are from a default session on the same
seed.  Run from the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics

from steady import ROOT, run_once

# per-layer metrics that cannot be measured from outside the library
UNMEASURABLE = [
    ("decode / masks / EDT / encode time inside the fused mask_and_tile "
     "kernel, as the Python worker runs them",
     "needs phase timers inside pipeline.mask_and_tile; codecs.* and masks.* "
     "time the same public kernels on the driver instead"),
    ("shuffle time per Exchange",
     "the event log gives shuffle bytes, records and write time per stage, "
     "but not which plan Exchange a stage belongs to without parsing the "
     "SQL plan graph"),
]


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seconds", type=int, default=bench["run_seconds"])
    ap.add_argument("--pairs", type=int, default=3)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    lines = [f"# Traced runs (seed {args.seed}, {args.seconds} s window)", "",
             f"{args.pairs} pairs of one untraced and one traced run per "
             "workload (order alternating), plus one untraced run with the "
             "default tiered JIT.  An overhead smaller than the run-to-run "
             "spread of latency_p50_s (results/steady.md) is noise.", ""]
    for w in args.workloads.split(","):
        plains, traceds = [], []
        for i in range(args.pairs):
            for trace in ((0, 1) if i % 2 == 0 else (1, 0)):
                r = run_once(w, args.seed, args.seconds, trace=trace)
                (traceds if trace else plains).append(r)
        c2 = run_once(w, args.seed, args.seconds, jit="default")["metrics"]
        traced = traceds[0]
        m = {k: v["value"] for k, v in traced["metrics"].items()}
        units = {k: v["unit"] for k, v in traced["metrics"].items()}
        base = [r["metrics"]["latency_p50_s"]["value"] for r in plains]
        tr = [r["metrics"]["trace.latency_p50_s"]["value"] for r in traceds]
        over = statistics.median(t / b - 1 for t, b in zip(tr, base))
        c1 = {k: statistics.median(r["metrics"][k]["value"] for r in plains) for k in c2}
        lines += [f"## {w}", "",
                  "- latency_p50_s of the pairs, untraced / traced s: " + ", ".join(
                      f"{b:.3f} / {t:.3f}" for b, t in zip(base, tr)),
                  f"- tracing overhead (median over the pairs): {100 * over:+.1f} %",
                  "- correct: " + ", ".join(str(r["correct"]) for r in plains + traceds)
                  + "; operations untraced " + ", ".join(str(r["attempted"]) for r in plains)
                  + ", traced " + ", ".join(str(r["attempted"]) for r in traceds),
                  "- default tiered JIT (one untraced run, same seed): " + ", ".join(
                      f"{k} {c2[k]['value']:.4g} {c2[k]['unit']} "
                      f"(C1 median {c1[k]:.4g})" for k in c2), "",
                  "| layer | self time s | share |", "|---|---|---|"]
        selfs = {k[len("self_s."):]: v for k, v in m.items() if k.startswith("self_s.")}
        total = sum(selfs.values())
        for k, v in sorted(selfs.items(), key=lambda kv: -kv[1]):
            lines.append(f"| {k} | {v:.3f} | {100 * v / total:.1f} % |")
        lines += ["", "| metric | value | unit |", "|---|---|---|"]
        for k, v in m.items():
            if not k.startswith("self_s."):
                lines.append(f"| {k} | {v:.6g} | {units[k]} |")
        lines.append("")
        print(f"{w}: overhead {100 * over:+.1f} %", flush=True)
    lines += ["## Not measurable from outside", ""]
    lines += [f"- {what}: {why}." for what, why in UNMEASURABLE]
    text = "\n".join(lines) + "\n"
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text)
    else:
        print(text)


if __name__ == "__main__":
    main()
