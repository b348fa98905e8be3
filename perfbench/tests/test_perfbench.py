"""Tests of the benchmark itself; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import decimal
import io
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import common, data, host, ingest, pipeline, run, serve, stats  # noqa: E402

BENCH = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
SMALL = dict(bulk=2_000, appends=1, append_rows=200, upserts=1, upsert_rows=5)


def _bytes(t: pa.Table) -> bytes:
    buf = io.BytesIO()
    with pa.ipc.new_stream(buf, t.schema) as w:
        w.write_table(t)
    return buf.getvalue()


# ------------------------------------------------------------ generators
def test_same_seed_same_bytes():
    assert _bytes(data.series(data.rng(7, 0), 5000)) == _bytes(data.series(data.rng(7, 0), 5000))
    a, b = ingest.Inputs(7, 0, **SMALL), ingest.Inputs(7, 0, **SMALL)
    for x, y in zip((a.bulk, *a.appends, *a.upserts, a.final), (b.bulk, *b.appends, *b.upserts, b.final)):
        assert _bytes(x) == _bytes(y)
    assert a.cutoff == b.cutoff


def test_other_seed_other_data():
    assert _bytes(data.series(data.rng(7, 0), 5000)) != _bytes(data.series(data.rng(8, 0), 5000))
    assert _bytes(ingest.Inputs(7, 0, **SMALL).final) != _bytes(ingest.Inputs(8, 0, **SMALL).final)


def test_keys_strictly_increase_with_absent_neighbours():
    t = data.series(data.rng(3, 0), 20_000)
    ts = t.column("ts").to_numpy()
    assert np.all(np.diff(ts) >= 2)  # so ts + 1 is never a key


def test_range_model_matches_brute_force():
    t = data.series(data.rng(5, 0), 3000)
    m = data.RangeModel(t)
    ts, h = t.column("ts").to_numpy(), data.table_hashes(t)
    r = np.random.default_rng(0)
    for _ in range(50):
        lo, hi = sorted(int(x) for x in r.integers(ts[0] - 10, ts[-1] + 10, 2))
        sel = (ts >= lo) & (ts < hi)
        assert m.range(lo, hi) == (int(sel.sum()), int(h[sel].sum(dtype=np.uint64)))
    assert m.keys([int(ts[10]), int(ts[10]) + 1]) == (1, int(h[10]))


def test_checksum_is_order_insensitive_and_sees_every_column():
    t = data.series(data.rng(1, 0), 100)
    rows = t.to_pylist()
    n, h, ordered = data.rows_digest(rows)
    assert (n, h, ordered) == data.table_digest(t)
    assert data.rows_digest(rows[::-1])[:2] == (n, h)
    for col, bump in (("user_id", 1), ("value", 0.5), ("event", None)):
        changed = [dict(r) for r in rows]
        changed[3][col] = "exit" if bump is None and changed[3][col] != "exit" else (
            "view" if bump is None else changed[3][col] + bump)
        assert data.rows_digest(changed)[1] != h, col


def test_ingest_model_applies_upserts_then_expiry():
    inp = ingest.Inputs(11, 0, **SMALL)
    final = inp.final.to_pydict()
    assert min(final["ts"]) == inp.cutoff
    latest = {}
    for u in inp.upserts:
        for row in u.to_pylist():
            latest[row["ts"]] = row
    by_key = {ts: i for i, ts in enumerate(final["ts"])}
    for ts, row in latest.items():
        if ts >= inp.cutoff:
            assert final["value"][by_key[ts]] == row["value"]


# ------------------------------------------------------------- tail rule
def test_tail_is_highest_percentile_with_ten_beyond():
    vals = list(range(1, 141))
    v, label = stats.tail(vals)
    assert sum(x > v for x in vals) == 10 and label == "p92.9"
    v, label = stats.tail(list(range(20)))
    assert v == 9 and label == "p50.0"
    for n in (20, 37, 100, 333):
        v, _ = stats.tail(list(range(n)))
        assert sum(x > v for x in range(n)) == 10


def test_tail_below_twenty_samples_is_the_maximum():
    assert stats.tail([5.0, 1.0, 3.0]) == (5.0, "max")
    assert stats.tail(list(range(19))) == (18, "max")


# ---------------------------------------------------- names and record
def test_per_layer_names_match_the_workloads():
    declared = [m["name"] for m in BENCH["per_layer"]]
    produced = {"session.start_s", *ingest.LAYER_METRICS, *serve.LAYER_METRICS, *pipeline.LAYER_METRICS}
    assert len(declared) == len(set(declared)) <= 128
    assert set(declared) == produced


def test_end_to_end_names_match_benchmark_json():
    res = common.Result(ops=[("x", 1.0)], passes=[1.0], setup_reps_s=[1.0])
    assert set(run.end_to_end(res, 1.0)) == {m["name"] for m in BENCH["end_to_end"]}


def test_benchmark_json_contract():
    assert set(BENCH) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [w["name"] for w in BENCH["workloads"]] == list(run.WORKLOADS)
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in BENCH["workloads"])
    assert all(m["bound"] <= 0.25 for m in BENCH["end_to_end"])
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])
    spec = json.load(open(run.SPEC))
    assert set(spec["per_layer"]) == {m["name"] for m in BENCH["per_layer"]}


SEED = 999_999  # records of these runs land beside real ones; keep the name apart


@pytest.fixture(autouse=True)
def _no_host_side_effects(monkeypatch):
    monkeypatch.setattr(host, "apply_env", lambda work_dir: None)
    monkeypatch.setattr(host, "probe", lambda ref: {"mem_x": 1.0, "alu_x": 1.0})


class _FakeWorkload:
    @staticmethod
    def run(ctx):
        res = common.Result(setup_reps_s=[0.5, 0.4, 0.6], setup_once_s=0.1, passes=[2.0, 2.2])
        for i in range(30):
            res.timed("op", lambda: i)
        res.named = {"pipeline_s": common.figure(res.passes, "s")}
        if ctx.trace:
            res.layers = {"rel_join_multiway.s": 1.5}
        return res


@pytest.mark.parametrize("trace", [0, 1])
def test_record_line_parses(monkeypatch, capsys, trace):
    monkeypatch.setattr(run, "load_workload", lambda name: _FakeWorkload)
    code = run.main(["--workload", "pipeline", "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)])
    last = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert code == 0
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["attempted"] == 30 and last["failed"] == 0
    section = "per_layer" if trace else "end_to_end"
    assert list(last["metrics"]) == [m["name"] for m in BENCH[section]]
    for m in BENCH[section]:
        assert last["metrics"][m["name"]]["unit"] == m["unit"]
        assert isinstance(last["metrics"][m["name"]]["value"], (int, float))
    if trace:
        assert last["metrics"]["rel_join_multiway.s"]["value"] == 1.5
    else:
        assert last["metrics"]["setup_s"]["value"] == pytest.approx(0.1 + 0.5)


def test_failed_check_fails_the_run(monkeypatch, capsys):
    class Wrong(_FakeWorkload):
        @staticmethod
        def run(ctx):
            res = _FakeWorkload.run(ctx)
            res.timed("op", lambda: 1, lambda out: common.expect("rows", out, 2))
            return res

    monkeypatch.setattr(run, "load_workload", lambda name: Wrong)
    code = run.main(["--workload", "pipeline", "--seed", str(SEED), "--seconds", "1", "--trace", "0"])
    out = capsys.readouterr().out
    last = json.loads(out.strip().splitlines()[-1])
    assert code == 1 and last["correct"] is False and last["failed"] == 1
    assert "FAILED op: rows: got 1, expected 2" in out


# ------------------------------------------------------------ fingerprint
def test_fingerprint_ignores_engine_value_types_and_order():
    utc = dt.timezone.utc
    a = [(1, 2.0, decimal.Decimal("0.5"), dt.datetime(2024, 1, 1, tzinfo=utc), None)]
    b = [(1.0, 2, 0.5, dt.datetime(2024, 1, 1), None)]
    cols = ["a", "b", "c", "d", "e"]
    assert pipeline.fingerprint(cols, a) == pipeline.fingerprint(cols, b)
    rows = [(1, "x"), (2, "y")]
    assert pipeline.fingerprint(["k", "v"], rows) == pipeline.fingerprint(["v", "k"], [(r[1], r[0]) for r in rows[::-1]])
    assert pipeline.fingerprint(["k", "v"], rows) != pipeline.fingerprint(["k", "v"], [(1, "x"), (2, "z")])


def test_expected_pipeline_covers_every_query():
    expected = json.load(open(pipeline.EXPECTED))["queries"]
    assert list(expected) == list(pipeline.QUERIES)


def test_self_time_subtracts_the_union_of_children():
    from perfbench.trace import self_times

    spans = [
        {"id": 0, "parent": None, "name": "op", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "name": "a", "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "name": "b", "start": 2.0, "end": 5.0},
        {"id": 3, "parent": 0, "name": "c", "start": 7.0, "end": 8.0},
    ]
    by_id = {s["id"]: s for s in self_times(spans)}
    assert by_id[0]["self_s"] == pytest.approx(10.0 - 4.0 - 1.0)
    assert by_id[2]["self_s"] == by_id[2]["dur_s"] == pytest.approx(3.0)
