"""What every workload shares: the run context, the timed-op log with
its output checks, and helpers to read a table's files from disk."""

from __future__ import annotations

import os
import time
import traceback
from dataclasses import dataclass, field

from perfbench import stats
from perfbench.trace import Tracer

SALTS = 32
KEY = "ts"


@dataclass
class Context:
    spark: object
    tracer: Tracer
    trace: bool
    seed: int
    seconds: float
    work_dir: str


@dataclass
class Result:
    """A workload's measurements. ``ops`` holds ``(kind, ms)`` of every
    timed operation that completed with a correct output."""

    ops: list = field(default_factory=list)
    passes: list = field(default_factory=list)
    setup_reps_s: list = field(default_factory=list)  # repeated set-up; its median counts
    setup_once_s: float = 0.0  # set-up done once: warm-up, table copy
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    samples: dict = field(default_factory=dict)  # per-figure samples other than op latencies
    named: dict = field(default_factory=dict)  # workload-specific end-to-end figures
    layers: dict = field(default_factory=dict)  # per-layer metrics (traced runs)
    detail: dict = field(default_factory=dict)  # anything else for the record

    def setup_s(self, session_start_s: float) -> float:
        reps = stats.median(self.setup_reps_s) if self.setup_reps_s else 0.0
        return session_start_s + self.setup_once_s + reps

    def timed(self, kind: str, call, check=None):
        """Run ``call()`` as one timed operation, then ``check(out)``
        outside the timing; an exception or a failed check counts as a
        failed operation. Returns ``call()``'s output, or None."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = call()
        except Exception as e:
            self.fail(kind, f"{type(e).__name__}: {e}", traceback.format_exc())
            return None
        ms = (time.perf_counter() - t0) * 1000.0
        try:
            problem = check(out) if check else None
        except Exception as e:  # an output the check cannot read is wrong
            problem = f"unreadable output: {type(e).__name__}: {e}"
        if problem:
            self.fail(kind, problem)
            return None
        self.ops.append((kind, ms))
        return out

    def fail(self, kind: str, message: str, tb: str | None = None) -> None:
        self.failed += 1
        self.errors.append({"op": kind, "error": message[:500], "traceback": (tb or "")[-2000:]})

    def latencies(self, *kinds: str) -> list[float]:
        return [ms for k, ms in self.ops if not kinds or k in kinds]


def figure(values, unit: str, which: str = "p50") -> dict:
    """A named figure: median or tail of ``values`` with its unit,
    sample count and percentile."""
    s = stats.summary(values)
    if which == "tail":
        return {"value": s.get("tail"), "unit": unit, "n": s["n"], "percentile": s.get("tail_pct")}
    return {"value": s.get("p50"), "unit": unit, "n": s["n"], "percentile": "p50"}


def expect(what: str, got, want) -> str | None:
    return None if got == want else f"{what}: got {got}, expected {want}"


def listing(path: str) -> dict[str, int]:
    """``{relative file path: size}`` of every file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            out[os.path.relpath(full, path)] = os.path.getsize(full)
    return out


def data_files(path: str) -> dict[str, int]:
    """Parquet data files of a salted table (hidden dirs excluded)."""
    return {
        p: s
        for p, s in listing(path).items()
        if p.endswith(".parquet")
        and p.startswith("salt=")
        and not any(part.startswith((".", "_")) for part in p.split(os.sep))
    }


def written(before: dict[str, int], after: dict[str, int]) -> dict[str, int]:
    """Files present in ``after`` but not in ``before``."""
    return {p: s for p, s in after.items() if p not in before}


def salt_of(rel_path: str) -> str:
    return rel_path.split(os.sep, 1)[0]


def salt_rows(path: str) -> dict[str, int]:
    """Rows per salt partition, read from the data files' footers."""
    import pyarrow.parquet as pq

    out: dict[str, int] = {}
    for p in data_files(path):
        out[salt_of(p)] = out.get(salt_of(p), 0) + pq.ParquetFile(os.path.join(path, p)).metadata.num_rows
    return out


def max_over_mean(counts: dict[str, int]) -> float:
    vals = list(counts.values())
    return max(vals) / (sum(vals) / len(vals)) if vals else 0.0


def sum_stages(groups: list[dict]) -> dict:
    """Field-wise sum of stage-metric dicts."""
    out: dict = {}
    for g in groups:
        for k, v in g.items():
            out[k] = out.get(k, 0) + v
    return out
