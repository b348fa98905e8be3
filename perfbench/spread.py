#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Runs the benchmark once per seed on each workload (untraced) and
reports, per metric, the median and the interquartile range as a share
of the median, next to the metric's bound in ``BENCHMARK.json``.

    python3 perfbench/spread.py [--workloads ingest,serve] [--seeds 1-10] [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out", default=None, help="also write the values and spreads as JSON")
    a = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report, ok = {}, True
    for w in a.workloads.split(","):
        values: dict[str, list[float]] = {}
        for s in seeds(a.seeds):
            cmd = [sys.executable, *bench["command"][1:], "--workload", w, "--seed", str(s),
                   "--seconds", str(bench["run_seconds"]), "--trace", "0"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            last = json.loads(p.stdout.strip().splitlines()[-1]) if p.stdout.strip() else {}
            if p.returncode != 0 or not last.get("correct"):
                print(f"{w} seed {s}: exit {p.returncode}, record {last}", flush=True)
                ok = False
                continue
            for k, v in last["metrics"].items():
                values.setdefault(k, []).append(v["value"])
            with open(os.path.join(ROOT, ".perfbench", "records", f"{w}-seed{s}-trace0.json")) as f:
                probe = json.load(f)["host_probe"]
            noise = max(probe[e][k] for e in ("start", "end") for k in ("mem_x", "alu_x"))
            print(f"{w} seed {s}: " + ", ".join(f"{k}={v['value']:.4g}" for k, v in last["metrics"].items())
                  + f"  (host probe up to x{noise:.2f})", flush=True)
        report[w] = {}
        for k, vals in values.items():
            if len(vals) < 2:
                continue
            q1, med, q3 = statistics.quantiles(vals, n=4)
            spread = (q3 - q1) / med
            report[w][k] = {"median": med, "iqr_over_median": spread, "bound": bounds[k], "values": vals}
            flag = "" if k == "setup_s" or spread < bounds[k] / 3 else "  <-- above a third of the bound"
            print(f"{w:9s} {k:8s} median {med:10.4g}  spread {spread:.3f}  bound {bounds[k]}{flag}", flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
