"""``serve``: the read path of ``sources.salted_table``.

A 100k-row table is written during set-up. One closed-loop client then
sends rounds of 20 requests: a fixed mix, shuffled by the seed. Every
response is checked against the model: the row count, the checksum
and, for scans, non-decreasing key order.
"""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench import common, data, stats
from perfbench.common import KEY, SALTS, Context, Result, expect

ROWS = 100_000
PREP_REPS = 3
NARROW, WIDE = 0.001, 0.05  # range widths as shares of the key span
MULTI_KEYS = 10
# at least 3 rounds (60 requests) however slow the host, so the tail
# has at least 20 samples to be taken from
MIN_ROUNDS = 3
# Point gets are 70% of a round, so the median request is a point get
# rather than a boundary between two kinds of request.
ROUND = (
    # (op, variant, requests per round)
    ("point_get", "present", 11),
    ("point_get", "absent", 3),
    ("multi_get", None, 2),
    ("scan_narrow", NARROW, 1),
    ("scan_wide", WIDE, 1),
    ("count", NARROW, 1),
    ("count", WIDE, 1),
)
OPS = ("point_get", "multi_get", "scan_narrow", "scan_wide", "count")
API = {"point_get": "point_get", "multi_get": "multi_get", "scan_narrow": "scan", "scan_wide": "scan"}
LAYER_FIELDS = (
    "build_ms",
    "action_ms",
    "jobs",
    "tasks",
    "input_bytes",
    "records_read_per_row",
    "shuffle_write_bytes",
    "executor_cpu_ms",
)
LAYER_METRICS = tuple(f"{op}.{f}" for op in OPS for f in LAYER_FIELDS)


class Requests:
    """Seeded request generator over the model's keys."""

    def __init__(self, model: data.RangeModel, r: np.random.Generator):
        self.m, self.r = model, r
        self.lo, self.hi = int(model.ts[0]), int(model.ts[-1]) + 1

    def present_key(self) -> int:
        return int(self.m.ts[data.recent_indices(self.r, len(self.m.ts), 1)[0]])

    def absent_key(self) -> int:
        return self.present_key() + 1  # key gaps are at least 2

    def many_keys(self) -> list[int]:
        idx = data.recent_indices(self.r, len(self.m.ts), MULTI_KEYS - 1)
        return [int(k) for k in self.m.ts[idx]] + [self.absent_key()]

    def range(self, share: float) -> tuple[int, int]:
        width = int((self.hi - self.lo) * share)
        start = int(self.r.integers(self.lo, self.hi - width))
        return start, start + width


def _check_rows(want: tuple[int, int], ordered: bool):
    def check(rows):
        n, h, in_order = data.rows_digest(rows)
        if ordered and not in_order:
            return "keys out of order"
        return expect("rows", n, want[0]) or expect("checksum", h, want[1])

    return check


def request(res: Result, ctx: Context, table, req: Requests, op: str, variant, i: int, rows_out: dict):
    """Issue one request through the public API, timed and checked.
    Traced runs split it into the call that returns the DataFrame
    (``build``) and the action that runs it; ``fast_count`` is one call."""
    tr = ctx.tracer
    if op == "count":
        lo, hi = req.range(variant)
        want_n = req.m.range(lo, hi)[0]

        def call():
            return _traced(tr, "salted_table.fast_count", lambda: table.fast_count(lo, hi))

        check, size = (lambda n: expect("count", n, want_n)), (lambda n: n)
    else:
        if op == "point_get":
            key = req.present_key() if variant == "present" else req.absent_key()
            want, build = req.m.keys([key]), (lambda: table.point_get(key))
        elif op == "multi_get":
            keys = req.many_keys()
            want, build = req.m.keys(keys), (lambda: table.multi_get(keys))
        else:
            lo, hi = req.range(variant)
            want, build = req.m.range(lo, hi), (lambda: table.scan(lo, hi, ordered=True))

        def call():
            df = _traced(tr, f"salted_table.{API[op]}", build)
            return _traced(tr, "spark.collect", df.collect)

        check, size = _check_rows(want, ordered=op.startswith("scan")), len

    with tr.span(op, op_id=f"{op}#{i}"):
        out = res.timed(op, call, check)
    if out is not None:
        rows_out[op] = rows_out.get(op, 0) + size(out)


def _traced(tr, name, fn):
    with tr.span(name, group=True):
        return fn()


def write_table(ctx: Context, t, path: str):
    from hbasewd_spark.plans.distributor import HashDistributor
    from hbasewd_spark.sources.salted_table import SaltedTable

    table = SaltedTable.write(
        ctx.spark.createDataFrame(t), path, HashDistributor(SALTS), KEY, zone_map_cols=[KEY]
    )
    table.df()  # open the handle: file listing and schema
    return table


def run(ctx: Context) -> Result:
    res = Result()
    t = data.series(data.rng(ctx.seed, 0), ROWS)
    model = data.RangeModel(t)
    for rep in range(PREP_REPS):
        t0 = time.perf_counter()
        table = write_table(ctx, t, os.path.join(ctx.work_dir, f"serve-{rep}"))
        res.setup_reps_s.append(time.perf_counter() - t0)

    plan = [(op, v) for op, v, n in ROUND for _ in range(n)]
    # one untimed round: JIT and first-use costs land in set-up, not in
    # the first timed round
    warm = Requests(model, data.rng(ctx.seed, 1))
    t0 = time.perf_counter()
    for i, (op, variant) in enumerate(plan):
        request(Result(), ctx, table, warm, op, variant, -1 - i, {})
    res.setup_once_s = time.perf_counter() - t0
    ctx.tracer.spans.clear()

    req = Requests(model, data.rng(ctx.seed, 2))
    rows_out: dict[str, int] = {}
    deadline = time.perf_counter() + ctx.seconds
    i = 0
    while time.perf_counter() < deadline or len(res.passes) < MIN_ROUNDS:
        order = req.r.permutation(len(plan))
        t0 = time.perf_counter()
        for j in order:
            request(res, ctx, table, req, *plan[j], i, rows_out)
            i += 1
        res.passes.append(time.perf_counter() - t0)

    fig, lat = common.figure, res.latencies
    res.named = {f"{op}_p50_ms": fig(lat(op), "ms") for op in OPS}
    res.named["point_get_tail_ms"] = fig(lat("point_get"), "ms", "tail")
    res.named["scan_tail_ms"] = fig(lat("scan_narrow", "scan_wide"), "ms", "tail")
    res.detail["rows"] = ROWS
    if ctx.tracer.enabled:
        res.layers = layer_metrics(ctx.tracer.spans, rows_out)
    return res


def layer_metrics(spans: list[dict], rows_out: dict) -> dict:
    """Per-op medians over the timed requests: the ``salted_table.*``
    child span is the build, ``spark.collect`` the action; stage
    metrics are summed over both children's job groups."""
    children: dict = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def med(vals):
        return stats.median(vals) if vals else 0

    def ms(kids, match):
        return sum((k["end"] - k["start"]) * 1000 for k in kids if match(k["name"]))

    out = {}
    for op in OPS:
        calls = [children.get(s["id"], []) for s in children.get(None, []) if s["name"] == op]
        stages = [common.sum_stages([k["stages"] for k in kids]) for kids in calls]
        out[f"{op}.build_ms"] = med([ms(kids, lambda n: n.startswith("salted_table.")) for kids in calls])
        out[f"{op}.action_ms"] = med([ms(kids, lambda n: n == "spark.collect") for kids in calls])
        for f in ("jobs", "tasks", "input_bytes", "shuffle_write_bytes", "executor_cpu_ms"):
            out[f"{op}.{f}"] = med([st[f] for st in stages])
        out[f"{op}.records_read_per_row"] = sum(st["input_records"] for st in stages) / max(1, rows_out.get(op, 0))
    return out
