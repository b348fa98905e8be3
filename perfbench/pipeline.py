"""``pipeline``: the operator registry (``queries``, ``operators.*`` and
a ``streaming.ingest`` drain), nine ``queries.REGISTRY`` entries run
once each, in fixed order, in a fresh process.

The input is the fixed seed-42 sf0.01 test tables committed under
``perfbench/tables``; the seed argument does not change it. Each pass
runs in its own process, so no query is timed warm on a session that
an earlier pass filled. Each result's row count and content
fingerprint are compared with ``perfbench/expected_pipeline.json``,
derived from the DuckDB oracles by ``perfbench/derive_expected.py``.

Run as a module, this file is one pass:
``python3 -m perfbench.pipeline --tables DIR --out FILE [--trace]``.
"""

from __future__ import annotations

import argparse
import calendar
import datetime as dt
import decimal
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
TABLES_DIR = os.path.join(HERE, "tables")
EXPECTED = os.path.join(HERE, "expected_pipeline.json")
PASS_TIMEOUT_S = 150  # keeps a run within its 180 s limit

QUERIES = (
    "rel_join_multiway",
    "rel_sessionization",
    "rel_time_rollup",
    "ext_dedup_minhash_pairs",
    "ext_sim_ivf_topk",
    "ext_semdedup",
    "ext_text_bm25",
    "ext_multimodal_audio_segments",
    "stream_windowed_agg",
)
QUERY_FIELDS = ("s", "jobs", "shuffle_write_bytes", "spill_bytes", "gc_ms", "fetch_wait_ms", "cpu_over_run")
LAYER_METRICS = tuple(f"{q}.{f}" for q in QUERIES for f in QUERY_FIELDS)


# ---------------------------------------------------------- fingerprint
def canon(v):
    """Engine-independent form of one result value: integral numbers
    as int, other numbers as float, instants as UTC epoch micros,
    bytes as hex, nested values as tuples."""
    if v is None:
        return None
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, int):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        return int(f) if f.is_integer() and abs(f) < 2**53 else f
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return calendar.timegm(v.timetuple()) * 1_000_000 + v.microsecond
    if isinstance(v, dt.date):
        return calendar.timegm(v.timetuple()) * 1_000_000
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return tuple(sorted((canon(k), canon(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    return v


def fingerprint(columns: list[str], rows) -> str:
    """Hash of the column names and the multiset of rows, independent
    of column order, row order and engine value types."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for line in lines:
        h.update(b"\n" + line.encode())
    return h.hexdigest()


# ----------------------------------------------------------- one pass
def one_pass(tables: str, trace: bool) -> dict:
    from perfbench import host
    from perfbench.trace import Tracer, self_time_by_name

    spark, start_s = host.start_session()
    ready = time.time()
    from hbasewd_spark.queries import REGISTRY

    with open(EXPECTED) as f:
        expected = json.load(f)["queries"]
    tracer = Tracer(spark, trace)
    out = {"ready_wall": ready, "session_start_s": start_s, "queries": []}
    for name in QUERIES:
        rec, sp = {"name": name}, None
        try:
            with tracer.span("query", op_id=name, window=True) as sp:
                t0 = time.perf_counter()
                with tracer.span(f"queries.{name}"):
                    df = REGISTRY[name].fn(spark, tables)
                with tracer.span("spark.collect"):
                    rows = df.collect()
                rec["s"] = time.perf_counter() - t0
            want = expected[name]
            got_fp = fingerprint(df.columns, rows)
            if len(rows) != want["rows"]:
                rec["problem"] = f"rows: got {len(rows)}, expected {want['rows']}"
            elif got_fp != want["fingerprint"]:
                rec["problem"] = "content fingerprint differs from the oracle's"
            rec["rows"] = len(rows)
        except Exception as e:
            rec["problem"] = f"{type(e).__name__}: {str(e)[:400]}"
        if sp is not None and "stages" in sp:
            rec["stages"] = sp["stages"]
        out["queries"].append(rec)
    if trace:
        out["self_times"] = self_time_by_name(tracer.spans)
        out["spans"] = tracer.spans
    host.stop_session(spark)
    return out


def _main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--tables", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", action="store_true")
    a = ap.parse_args()
    res = one_pass(a.tables, a.trace)
    with open(a.out, "w") as f:
        json.dump(res, f)


# ------------------------------------------------------------ workload
def run(ctx):
    from perfbench import common, host, stats
    from perfbench.common import Result

    res = Result()
    t0 = time.perf_counter()
    tables = os.path.join(ctx.work_dir, "tables")
    shutil.copytree(TABLES_DIR, tables)
    res.setup_once_s = time.perf_counter() - t0

    root = os.path.dirname(HERE)
    env = {**os.environ, **host.launch_env(ctx.work_dir), "PYTHONPATH": root, "TZ": "UTC"}
    deadline = time.perf_counter() + ctx.seconds
    passes, last_wall = [], 0.0
    while not passes or time.perf_counter() + last_wall <= deadline:
        out_path = os.path.join(ctx.work_dir, f"pass-{len(passes)}.json")
        cmd = [sys.executable, "-m", "perfbench.pipeline", "--tables", tables, "--out", out_path]
        if ctx.trace:
            cmd.append("--trace")
        t_wall, t0 = time.time(), time.perf_counter()
        try:
            proc = subprocess.run(cmd, cwd=root, env=env, stdout=subprocess.DEVNULL,
                                  stderr=subprocess.PIPE, text=True, timeout=PASS_TIMEOUT_S)
            problem = None if proc.returncode == 0 else (f"pass process exited {proc.returncode}", proc.stderr)
        except subprocess.TimeoutExpired as e:
            problem = (f"pass process killed after {PASS_TIMEOUT_S} s", str(e.stderr or ""))
        last_wall = time.perf_counter() - t0
        if problem:
            # every query of the pass counts as attempted and failed
            res.attempted += len(QUERIES)
            res.fail("pass", problem[0], problem[1][-2000:])
            res.failed += len(QUERIES) - 1
            break
        with open(out_path) as f:
            p = json.load(f)
        res.setup_reps_s.append(p["ready_wall"] - t_wall)
        total = 0.0
        for q in p["queries"]:
            res.attempted += 1
            if "problem" in q:
                res.fail(q["name"], q["problem"])
                continue
            res.ops.append((q["name"], q["s"] * 1000.0))
            total += q["s"]
        res.passes.append(total)
        passes.append(p)

    res.named = {"pipeline_s": common.figure(res.passes, "s")}
    res.detail["passes"] = [
        {
            "session_start_s": p["session_start_s"],
            "queries": [{k: q.get(k) for k in ("name", "s", "rows", "problem")} for q in p["queries"]],
        }
        for p in passes
    ]
    if ctx.trace:
        res.layers = layer_metrics(passes)
        res.layers["session.start_s"] = stats.median([p["session_start_s"] for p in passes]) if passes else 0
        res.detail["self_times"] = [p.get("self_times") for p in passes]
        res.detail["spans"] = [p.get("spans") for p in passes]
    return res


def layer_metrics(passes: list[dict]) -> dict:
    from perfbench import stats

    vals: dict[str, list] = {}
    for p in passes:
        for q in p["queries"]:
            st = q.get("stages")
            if st is None or "s" not in q:
                continue
            row = {
                "s": q["s"],
                "jobs": st["jobs"],
                "shuffle_write_bytes": st["shuffle_write_bytes"],
                "spill_bytes": st["memory_spill_bytes"] + st["disk_spill_bytes"],
                "gc_ms": st["gc_ms"],
                "fetch_wait_ms": st["fetch_wait_ms"],
                "cpu_over_run": st["executor_cpu_ms"] / st["run_ms"] if st["run_ms"] else 0.0,
            }
            for f, v in row.items():
                vals.setdefault(f"{q['name']}.{f}", []).append(v)
    return {name: stats.median(vals[name]) if name in vals else 0 for name in LAYER_METRICS}


if __name__ == "__main__":
    _main()
