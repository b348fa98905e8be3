"""Seeded input generation and the pyarrow/numpy model the outputs are
checked against.

Rows are a time series: ``ts`` (epoch microseconds, strictly
increasing, with jittered gaps of at least 2 so ``ts + 1`` is always
absent), ``user_id`` (Zipf-skewed), ``event`` (8-word vocabulary,
skewed) and ``value`` (double). The same seed gives the same bytes.

Outputs are compared by row count and by an order-insensitive
checksum: the sum, modulo 2**64, of a per-row hash over every column.
"""

from __future__ import annotations

import io

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

T0 = 1_700_000_000_000_000
MAX_GAP = 1000
USERS = 50_000
ZIPF_A = 1.3
EVENTS = ("view", "click", "search", "cart", "like", "share", "buy", "exit")
EVENT_P = (0.40, 0.20, 0.15, 0.08, 0.07, 0.05, 0.03, 0.02)
SCHEMA = pa.schema(
    [("ts", pa.int64()), ("user_id", pa.int64()), ("event", pa.string()), ("value", pa.float64())]
)

_EVENT_SET = pa.array(EVENTS)


def rng(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream...); any integer seed."""
    return np.random.default_rng([seed % 2**64, *stream])


def series(r: np.random.Generator, n: int, after_ts: int = T0) -> pa.Table:
    """``n`` rows whose keys continue strictly after ``after_ts``."""
    gaps = r.integers(2, MAX_GAP, n, dtype=np.int64)
    return pa.table(
        {
            "ts": after_ts + np.cumsum(gaps),
            "user_id": (r.zipf(ZIPF_A, n) - 1) % USERS,
            "event": pa.array(np.array(EVENTS, dtype=object)[r.choice(len(EVENTS), n, p=EVENT_P)]),
            "value": np.round(r.random(n) * 1000.0, 3),
        },
        schema=SCHEMA,
    )


def recent_indices(r: np.random.Generator, n_rows: int, k: int, share: float = 0.05) -> np.ndarray:
    """``k`` distinct row indices, skewed towards the newest rows
    (exponential age with mean ``share`` of the table)."""
    picked: list[int] = []
    seen: set[int] = set()
    while len(picked) < k:
        age = r.exponential(share * n_rows, 2 * k).astype(np.int64)
        for i in (n_rows - 1 - np.clip(age, 0, n_rows - 1)).tolist():
            if i not in seen:
                seen.add(i)
                picked.append(i)
                if len(picked) == k:
                    break
    return np.array(picked, dtype=np.int64)


def updated(r: np.random.Generator, base: pa.Table, idx: np.ndarray) -> pa.Table:
    """New versions of the rows at ``idx``: same keys, fresh values."""
    n = len(idx)
    return pa.table(
        {
            "ts": base.column("ts").take(pa.array(idx)),
            "user_id": (r.zipf(ZIPF_A, n) - 1) % USERS,
            "event": pa.array(np.array(EVENTS, dtype=object)[r.choice(len(EVENTS), n, p=EVENT_P)]),
            "value": np.round(r.random(n) * 1000.0, 3),
        },
        schema=SCHEMA,
    )


# ------------------------------------------------------------- checksum
_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)


def _mix(x: np.ndarray) -> np.ndarray:
    x = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        x ^= x >> np.uint64(30)
        x *= _M1
        x ^= x >> np.uint64(27)
        x *= _M2
        x ^= x >> np.uint64(31)
    return x


def row_hashes(ts, user_id, event_code, value) -> np.ndarray:
    """Per-row uint64 hash over all four columns."""
    ts = np.asarray(ts, dtype=np.int64).view(np.uint64)
    uid = np.asarray(user_id, dtype=np.int64).view(np.uint64)
    ev = np.asarray(event_code, dtype=np.int64).view(np.uint64)
    val = np.asarray(value, dtype=np.float64).view(np.uint64)
    with np.errstate(over="ignore"):
        return (
            _mix(ts)
            + _mix(uid ^ np.uint64(0x9E3779B97F4A7C15)) * np.uint64(3)
            + _mix(ev + np.uint64(0x632BE59BD9B4E019)) * np.uint64(5)
            + _mix(val ^ np.uint64(0x85EBCA77C2B2AE63)) * np.uint64(7)
        )


def event_codes(events) -> np.ndarray:
    """Vocabulary index per event string; -1 for anything else."""
    idx = pc.index_in(pa.array(events, type=pa.string()), value_set=_EVENT_SET)
    return np.asarray(idx.fill_null(-1), dtype=np.int64)


def table_hashes(t: pa.Table) -> np.ndarray:
    return row_hashes(
        t.column("ts").to_numpy(),
        t.column("user_id").to_numpy(),
        event_codes(t.column("event")),
        t.column("value").to_numpy(),
    )


def rows_digest(rows) -> tuple[int, int, bool]:
    """``(count, checksum, keys non-decreasing)`` of collected Spark
    rows with the table's columns."""
    if not rows:
        return 0, 0, True
    ts = np.fromiter((r["ts"] for r in rows), dtype=np.int64, count=len(rows))
    h = row_hashes(
        ts,
        np.fromiter((r["user_id"] for r in rows), dtype=np.int64, count=len(rows)),
        event_codes([r["event"] for r in rows]),
        np.fromiter((r["value"] for r in rows), dtype=np.float64, count=len(rows)),
    )
    return len(rows), int(h.sum(dtype=np.uint64)), bool(np.all(ts[1:] >= ts[:-1]))


def table_digest(t: pa.Table) -> tuple[int, int, bool]:
    """``(count, checksum, keys non-decreasing)`` of an arrow table."""
    ts = t.column("ts").to_numpy()
    h = table_hashes(t)
    return t.num_rows, int(h.sum(dtype=np.uint64)), bool(np.all(ts[1:] >= ts[:-1]))


class RangeModel:
    """Expected answers over a key-sorted table: counts and checksums
    of any key range in O(log n) from prefix sums of row hashes."""

    def __init__(self, t: pa.Table):
        self.ts = t.column("ts").to_numpy()
        assert np.all(self.ts[1:] > self.ts[:-1]), "model keys must be strictly increasing"
        self.h = table_hashes(t)
        with np.errstate(over="ignore"):
            self.prefix = np.concatenate([[np.uint64(0)], np.cumsum(self.h, dtype=np.uint64)])

    def range(self, lo: int, hi: int) -> tuple[int, int]:
        """``(count, checksum)`` of keys in ``[lo, hi)``."""
        i, j = np.searchsorted(self.ts, [lo, hi], side="left")
        with np.errstate(over="ignore"):
            return int(j - i), int(self.prefix[j] - self.prefix[i])

    def keys(self, keys) -> tuple[int, int]:
        """``(count, checksum)`` of the present keys among ``keys``."""
        keys = np.asarray(keys, dtype=np.int64)
        i = np.clip(np.searchsorted(self.ts, keys), 0, len(self.ts) - 1)
        hit = self.ts[i] == keys
        return int(hit.sum()), int(self.h[i[hit]].sum(dtype=np.uint64))


def plain_parquet_bytes(t: pa.Table) -> int:
    """Size of ``t`` written as one plain parquet file (pyarrow
    defaults, snappy)."""
    buf = io.BytesIO()
    pq.write_table(t, buf)
    return buf.tell()
