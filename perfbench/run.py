#!/usr/bin/env python3
"""Run one benchmark workload and print its record.

    python3 perfbench/run.py --workload {ingest,serve,pipeline} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics of
``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``. The lines before it print each figure by name, unit and
sample count. The full record, with the host-noise probe, goes to
``.perfbench/records/``. The command exits 1 when an output is wrong
or an operation failed, and 2 when the engine cannot be imported.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = os.path.join(ROOT, "perfbench", "spec.json")
WORKLOADS = ("ingest", "serve", "pipeline")


def engine_present() -> bool:
    spec = importlib.util.find_spec("hbasewd_spark")
    return spec is not None and os.path.dirname(os.path.dirname(spec.origin)) == ROOT


def load_workload(name: str):
    return importlib.import_module(f"perfbench.{name}")


def end_to_end(res, session_start_s: float) -> dict[str, tuple[float, dict]]:
    from perfbench import stats

    lat = res.latencies()
    t, label = stats.tail(lat) if lat else (0.0, "none")
    return {
        "setup_s": (res.setup_s(session_start_s), {"n": len(res.setup_reps_s), "of": "median of set-up repetitions"}),
        "p50_ms": (stats.median(lat) if lat else 0.0, {"n": len(lat), "percentile": "p50"}),
        "tail_ms": (t, {"n": len(lat), "percentile": label}),
        "pass_s": (stats.median(res.passes) if res.passes else 0.0, {"n": len(res.passes), "of": "median"}),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if not engine_present():
        print(f"perfbench: the hbasewd_spark package is missing under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(SPEC) as f:
        spec = json.load(f)

    from perfbench import common, host
    from perfbench.trace import Tracer, self_time_by_name

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(ROOT, ".perfbench", "work", f"{tag}-{os.getpid()}")
    records = os.path.join(ROOT, ".perfbench", "records")
    os.makedirs(records, exist_ok=True)
    host.apply_env(work)
    probe = host.probe(spec["host_probe_reference"])

    module = load_workload(a.workload)
    spark, session_start_s = (None, 0.0) if a.workload == "pipeline" else host.start_session()
    ctx = common.Context(
        spark=spark,
        tracer=Tracer(spark, bool(a.trace) and spark is not None),
        trace=bool(a.trace),
        seed=a.seed,
        seconds=a.seconds,
        work_dir=work,
    )
    t0 = time.perf_counter()
    try:
        res = module.run(ctx)
    except Exception as e:
        res = common.Result()
        res.attempted += 1
        res.fail("workload", f"{type(e).__name__}: {e}", traceback.format_exc())
    wall_s = time.perf_counter() - t0
    # a second probe brackets the run: contention that began after the
    # first one shows here
    probe_end = host.probe(spec["host_probe_reference"])
    if spark is not None:
        host.stop_session(spark)
    shutil.rmtree(work, ignore_errors=True)

    e2e = end_to_end(res, session_start_s)
    # a workload that starts its own sessions reports session.start_s itself
    layers = {"session.start_s": session_start_s, **res.layers} if a.trace else {}
    declared_layers = [m["name"] for m in bench["per_layer"]]
    unknown = sorted(set(layers) - set(declared_layers))
    if unknown:
        print(f"perfbench: per-layer metrics missing from BENCHMARK.json: {unknown}", file=sys.stderr)
        return 1
    units = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    if a.trace:
        # a layer this workload never calls did no work in it: 0
        metrics = {n: {"value": layers.get(n, 0), "unit": units[n]} for n in declared_layers}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]} for m in bench["end_to_end"]}

    attempted = max(1, res.attempted)
    correct = res.failed == 0 and res.attempted > 0
    record = {
        "workload": a.workload,
        "seed": a.seed,
        "seconds": a.seconds,
        "trace": a.trace,
        "wall_s": wall_s,
        "launch": host.launch_settings(),
        "host_probe": {"start": probe, "end": probe_end},
        "correct": correct,
        "attempted": attempted,
        "failed": res.failed,
        "error_rate": res.failed / attempted,
        "errors": res.errors,
        "end_to_end": {k: {"value": v, "unit": units[k], **info} for k, (v, info) in e2e.items()},
        "figures": res.named,
        "set_up": {"session_start_s": session_start_s, "once_s": res.setup_once_s, "repetitions_s": res.setup_reps_s},
        "passes_s": res.passes,
        "per_layer": layers,
        "detail": {k: v for k, v in res.detail.items() if k not in ("spans", "self_times")},
    }
    if a.trace:
        spans = res.detail.get("spans") or ctx.tracer.spans
        record["self_times"] = res.detail.get("self_times") or self_time_by_name(ctx.tracer.spans)
        record["spans"] = spans
    with open(os.path.join(records, f"{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)

    for e in res.errors:
        print(f"FAILED {e['op']}: {e['error']}")
    print(f"host probe: mem x{probe['mem_x']:.2f} .. x{probe_end['mem_x']:.2f}, "
          f"alu x{probe['alu_x']:.2f} .. x{probe_end['alu_x']:.2f} (1.00 = quiet reference host)")
    for name, fig in res.named.items():
        print(f"{name} = {fig['value']} {fig['unit']} (n={fig['n']}, {fig['percentile']})")
    for name, (v, info) in e2e.items():
        print(f"{name} = {v} {units[name]} ({', '.join(f'{k}={x}' for k, x in info.items())})")
    print(f"error_rate = {res.failed / attempted} share ({res.failed} of {attempted})")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": res.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
