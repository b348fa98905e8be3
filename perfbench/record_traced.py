#!/usr/bin/env python3
"""Record one traced run per workload, with its tracing overhead.

For each workload, runs the benchmark untraced and traced on the same
seed, alternately, and writes ``perfbench/traced/<workload>.json`` from
the last traced run: every per-layer metric, the self time per span
name and the spans, with the overhead of tracing as the median over
the pairs of traced / untraced - 1 for each end-to-end metric.

    python3 perfbench/record_traced.py [--seed 1] [--pairs 2] [--workloads ingest,serve,pipeline]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "perfbench", "traced")


def run(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = [sys.executable, *bench["command"][1:], "--workload", workload, "--seed", str(seed),
           "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if p.returncode != 0:
        raise SystemExit(f"{workload} trace={trace} exited {p.returncode}:\n{p.stdout[-2000:]}")
    with open(os.path.join(ROOT, ".perfbench", "records", f"{workload}-seed{seed}-trace{trace}.json")) as f:
        return json.load(f)


def main() -> int:
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--pairs", type=int, default=2, help="untraced/traced run pairs per workload")
    a = ap.parse_args()
    os.makedirs(OUT, exist_ok=True)
    for w in a.workloads.split(","):
        # alternate untraced and traced runs so that a drift in host speed
        # lands on both sides; the overhead is the median over the pairs
        pairs = [(run(bench, w, a.seed, 0), run(bench, w, a.seed, 1)) for _ in range(a.pairs)]
        overhead = {
            k: statistics.median(t["end_to_end"][k]["value"] / p["end_to_end"][k]["value"] - 1 for p, t in pairs)
            for k in pairs[0][0]["end_to_end"]
        }
        plain, traced = pairs[-1]
        out = {
            "workload": w,
            "seed": a.seed,
            "run_seconds": bench["run_seconds"],
            "host_probe": [{"untraced": p["host_probe"], "traced": t["host_probe"]} for p, t in pairs],
            "tracing_overhead": overhead,
            "tracing_overhead_pairs": a.pairs,
            "end_to_end": {"untraced": plain["end_to_end"], "traced": traced["end_to_end"]},
            "figures_untraced": plain["figures"],
            "per_layer": traced["per_layer"],
            "self_times": traced["self_times"],
            "spans": traced["spans"],
        }
        with open(os.path.join(OUT, f"{w}.json"), "w") as f:
            json.dump(out, f, indent=1)
            f.write("\n")
        print(w, "overhead:", {k: round(v, 3) for k, v in overhead.items()}, flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
