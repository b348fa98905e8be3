"""``ingest``: the write path of ``sources.salted_table``,
``plans.distributor`` and ``streaming.ingest``.

One cycle, on a fresh table:

1. bulk-load 10k rows with ``SaltedTable.write`` (32 hash buckets,
   zone map on ``ts``);
2. append 12 time-ordered micro-batches of 500 rows through
   ``idempotent_salted_batch_write``, the per-epoch path of
   ``salted_stream_ingest``;
3. upsert 2 batches of 50 rows, skewed towards the newest keys;
4. ``compact``, ``expire`` of the oldest 10% of keys, ``vacuum``.

Appends are 12 of a cycle's 18 timed calls, as in a time-series
ingest, where micro-batches arrive continuously between occasional
bulk loads, corrections and retention runs. So the median of the calls
falls on an append, not on a boundary between two kinds of call. More
appends would not keep a run within its 180 s limit on a contended
host. Cycles repeat until the run's time is used. After each cycle
the table is read back and compared with the model: row count, key
order and checksum, and the row count ``expire`` reports.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa

from perfbench import common, data, stats
from perfbench.common import KEY, SALTS, Context, Result, expect

EXPIRE_SHARE = 0.10
PREP_REPS = 3
CYCLE = dict(bulk=10_000, appends=12, append_rows=500, upserts=2, upsert_rows=50)
# the untimed warm-up cycle runs every call once, on its own generator
# stream
WARMUP = dict(bulk=2_000, appends=1, append_rows=500, upserts=1, upsert_rows=50)
WARMUP_STREAM = 1_000_000

LAYER_METRICS = (
    "distributor.bucket_rows_max_over_mean",
    *(f"write.{f}" for f in ("s", "jobs", "tasks", "shuffle_write_bytes", "executor_cpu_ms", "gc_ms", "files_out", "bytes_out")),
    *(f"upsert.{f}" for f in ("s", "jobs", "buckets_touched", "bytes_written_per_changed_byte")),
    "compact.s",
    "compact.bytes_rewritten",
    *(f"expire.{f}" for f in ("s", "files_dropped", "files_rewritten", "bytes_rewritten_per_dropped_byte")),
    "vacuum.s",
    "table.files_per_salt",
    *(f"append.{f}" for f in ("s", "jobs", "files_committed")),
)


class Inputs:
    """One cycle's generated rows and the model of the table after it."""

    def __init__(self, seed: int, cycle: int, bulk, appends, append_rows, upserts, upsert_rows):
        r = data.rng(seed, 10, cycle)
        self.bulk = data.series(r, bulk)
        last = self.bulk.column(KEY)[-1].as_py()
        self.appends = []
        for _ in range(appends):
            self.appends.append(data.series(r, append_rows, last))
            last = self.appends[-1].column(KEY)[-1].as_py()
        written = pa.concat_tables([self.bulk, *self.appends])
        self.upserts = [
            data.updated(r, written, data.recent_indices(r, written.num_rows, upsert_rows))
            for _ in range(upserts)
        ]
        # model: later versions replace earlier ones by key
        live = {c: written.column(c).to_numpy(zero_copy_only=False).copy() for c in written.column_names}
        for u in self.upserts:
            pos = np.searchsorted(live[KEY], u.column(KEY).to_numpy())
            for c in ("user_id", "event", "value"):
                live[c][pos] = u.column(c).to_numpy(zero_copy_only=False)
        self.n_expired = int(EXPIRE_SHARE * len(live[KEY]))
        self.cutoff = int(live[KEY][self.n_expired])
        self.final = pa.table({c: v[self.n_expired :] for c, v in live.items()}, schema=data.SCHEMA)

    def frames(self, spark) -> list:
        return [spark.createDataFrame(t) for t in (self.bulk, *self.appends, *self.upserts)]


def cycle(ctx: Context, res: Result, inputs: Inputs, frames: list, path: str, layers: dict | None):
    """Run one cycle's operations; ``layers`` collects per-layer values
    (traced runs only, as the file listings they need cost time)."""
    from hbasewd_spark.plans.distributor import HashDistributor
    from hbasewd_spark.sources.salted_table import SaltedTable, compact, vacuum
    from hbasewd_spark.streaming.ingest import idempotent_salted_batch_write

    tr = ctx.tracer
    dist = HashDistributor(SALTS)
    n_app = len(inputs.appends)
    bulk_df, app_dfs, up_dfs = frames[0], frames[1 : 1 + n_app], frames[1 + n_app :]
    files = (lambda: common.data_files(path)) if layers is not None else (lambda: {})

    def op(kind: str, name: str, call, check=None):
        with tr.span(kind, op_id=f"{kind}#{len(res.ops)}"):
            with tr.span(name, group=True) as sp:
                out = res.timed(kind, call, check)
        if sp is not None and layers is not None:
            layers[kind].append({"s": sp["end"] - sp["start"], **sp["stages"]})
        return out

    t_cycle = time.perf_counter()
    table = op("write", "salted_table.write",
               lambda: SaltedTable.write(bulk_df, path, dist, KEY, zone_map_cols=[KEY]))
    if table is None:
        return None
    res.samples.setdefault("write_rows_per_s", []).append(
        inputs.bulk.num_rows / (res.ops[-1][1] / 1000.0))
    if layers is not None:
        after = files()
        layers["write"][-1].update(files_out=len(after), bytes_out=sum(after.values()))
        layers["distributor"].append({"bucket_rows_max_over_mean": common.max_over_mean(common.salt_rows(path))})

    for epoch, df in enumerate(app_dfs):
        before = files()
        op("append", "streaming.idempotent_salted_batch_write",
           lambda: idempotent_salted_batch_write(df, epoch, path, dist, KEY))
        if layers is not None:
            layers["append"][-1]["files_committed"] = len(common.written(before, files()))
    if layers is not None:
        after = files()
        layers["table"].append({"files_per_salt": len(after) / len({common.salt_of(p) for p in after})})

    table.refresh()
    for df, batch in zip(up_dfs, inputs.upserts):
        before = files()
        op("upsert", "salted_table.upsert_rows", lambda: table.upsert_rows(df))
        if layers is not None:
            new = common.written(before, files())
            layers["upsert"][-1].update(
                buckets_touched=len({common.salt_of(p) for p in new}),
                bytes_written_per_changed_byte=sum(new.values()) / data.plain_parquet_bytes(batch),
            )

    t_maint = time.perf_counter()
    before = files()
    table = op("compact", "salted_table.compact", lambda: compact(table))
    if table is None:
        return None
    if layers is not None:
        layers["compact"][-1]["bytes_rewritten"] = sum(common.written(before, files()).values())
    before = files()
    stats_out = op("expire", "salted_table.expire", lambda: table.expire(inputs.cutoff),
                   lambda st: expect("expire rows_dropped", st["rows_dropped"], inputs.n_expired))
    if layers is not None and stats_out is not None:
        after = files()
        rewritten = sum(common.written(before, after).values())
        dropped = sum(before.values()) - sum(after.values())  # bytes the table lost
        layers["expire"][-1].update(
            files_dropped=stats_out["files_dropped"],
            files_rewritten=stats_out["files_rewritten"],
            bytes_rewritten_per_dropped_byte=rewritten / max(1, dropped),
        )
    op("vacuum", "salted_table.vacuum", lambda: vacuum(table))
    end = time.perf_counter()
    res.samples.setdefault("maintenance_s", []).append(end - t_maint)
    return end - t_cycle


def verify(ctx: Context, res: Result, inputs: Inputs, path: str) -> None:
    """Read the table back and compare it with the model."""
    from hbasewd_spark.sources.salted_table import SaltedTable

    res.attempted += 1
    try:
        got = SaltedTable.load(ctx.spark, path).scan(ordered=True).toArrow()
    except Exception as e:
        res.fail("verify", f"{type(e).__name__}: {e}")
        return
    n, h, in_order = data.table_digest(got.select(data.SCHEMA.names))
    want_n, want_h, _ = data.table_digest(inputs.final)
    problem = (
        (None if in_order else "table keys out of order")
        or expect("table rows", n, want_n)
        or expect("table checksum", h, want_h)
    )
    if problem:
        res.fail("verify", problem)
        return
    stored = sum(common.listing(path).values())
    res.samples.setdefault("stored_bytes_per_user_byte", []).append(
        stored / data.plain_parquet_bytes(inputs.final))


def run(ctx: Context) -> Result:
    res = Result()
    for _ in range(PREP_REPS):
        t0 = time.perf_counter()
        inputs = Inputs(ctx.seed, 0, **CYCLE)
        frames = inputs.frames(ctx.spark)
        res.setup_reps_s.append(time.perf_counter() - t0)

    # one small untimed cycle: JIT and first-use costs land in set-up,
    # not in the first timed cycle
    t0 = time.perf_counter()
    warm = Inputs(ctx.seed, WARMUP_STREAM, **WARMUP)
    cycle(ctx, Result(), warm, warm.frames(ctx.spark), os.path.join(ctx.work_dir, "ingest-warmup"), None)
    res.setup_once_s = time.perf_counter() - t0
    ctx.tracer.spans.clear()

    layers = {name.split(".")[0]: [] for name in LAYER_METRICS} if ctx.tracer.enabled else None
    deadline = time.perf_counter() + ctx.seconds
    c = 0
    while time.perf_counter() < deadline or not res.passes:
        if c:
            inputs = Inputs(ctx.seed, c, **CYCLE)
            frames = inputs.frames(ctx.spark)
        path = os.path.join(ctx.work_dir, f"ingest-{c}")
        took = cycle(ctx, res, inputs, frames, path, layers)
        if took is None:
            break
        res.passes.append(took)
        verify(ctx, res, inputs, path)
        c += 1

    fig, lat = common.figure, res.latencies
    res.named = {
        "write_rows_per_s": fig(res.samples.get("write_rows_per_s", []), "rows/s"),
        "append_p50_ms": fig(lat("append"), "ms"),
        "append_tail_ms": fig(lat("append"), "ms", "tail"),
        "upsert_p50_ms": fig(lat("upsert"), "ms"),
        "maintenance_s": fig(res.samples.get("maintenance_s", []), "s"),
        "stored_bytes_per_user_byte": fig(res.samples.get("stored_bytes_per_user_byte", []), "ratio"),
    }
    res.detail.update(cycles=c, cycle_shape=CYCLE)
    if layers is not None:
        res.layers = layer_metrics(layers)
    return res


def layer_metrics(layers: dict) -> dict:
    """Median over the run's calls of each layer value."""
    out = {}
    for name in LAYER_METRICS:
        kind, field = name.split(".", 1)
        vals = [x[field] for x in layers[kind] if field in x]
        out[name] = stats.median(vals) if vals else 0
    return out
