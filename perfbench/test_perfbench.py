"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

The last two tests start real runs (about two and a half minutes).
"""

from __future__ import annotations

import datetime as dt
import filecmp
import json
import os
import subprocess
import sys

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import gen  # noqa: E402

SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))


def test_corpus_is_byte_identical_per_seed(tmp_path):
    a = gen.write_corpus(str(tmp_path / "a"), 0.001, seed=7)
    b = gen.write_corpus(str(tmp_path / "b"), 0.001, seed=7)
    c = gen.write_corpus(str(tmp_path / "c"), 0.001, seed=8)
    names = sorted(os.listdir(a))
    assert len(names) == 10
    assert all(filecmp.cmp(f"{a}/{n}", f"{b}/{n}", shallow=False) for n in names)
    assert not all(filecmp.cmp(f"{a}/{n}", f"{c}/{n}", shallow=False) for n in names)


def _tsdb_script(seed: int) -> list:
    g = gen.TsdbGen(seed, 500)
    return [g.preload(), g.cycle(), g.cycle()]


def test_tsdb_generator_is_deterministic_per_seed():
    assert _tsdb_script(3) == _tsdb_script(3)
    assert _tsdb_script(3) != _tsdb_script(4)


def test_tsdb_cycle_is_one_clock_hour_at_the_reference_cadence():
    g = gen.TsdbGen(1, 10)
    for _ in range(3):
        start = g.now
        ops = g.cycle()
        assert g.now - start == gen.MAINTAIN_EVERY
        writes = [op.now for op in ops if op.kind == "write"]
        assert len(writes) == gen.MAINTAIN_EVERY // gen.FLUSH_EVERY
        assert all(b - a == gen.FLUSH_EVERY for a, b in zip([start] + writes, writes))
        assert [op.kind for op in ops[:2]] == ["write", "narrow"]
        assert [op.kind for op in ops[-4:]] == ["cleanup", "compact", "wide", "stats"]


def test_first_tsdb_cleanup_drops_the_oldest_day():
    g = gen.TsdbGen(1, 500)
    truth = gen.TsdbTruth()
    truth.rows.extend(g.preload())
    warm, timed = ([op for op in g.cycle() if op.kind == "cleanup"][0] for _ in range(2))
    assert truth.cleanup(warm.now) == []
    assert truth.cleanup(timed.now) == [(gen.TSDB_T0 - dt.timedelta(days=1)).date().isoformat()]
    assert truth.rows and all(r["ts"].date() == gen.TSDB_T0.date() for r in truth.rows)


def _stream_plan(seed: int):
    return gen.DocStreamGen(seed, 200, 10).plan(4)


def test_stream_generator_is_deterministic_per_seed():
    a, b, c = _stream_plan(5), _stream_plan(5), _stream_plan(6)
    assert all(x.equals(y) for x, y in zip(a.files, b.files))
    assert a.survivors == b.survivors and a.kinds == b.kinds
    assert not all(x.equals(y) for x, y in zip(a.files, c.files))
    ts = [f.column("ingest_ts")[0].as_py() for f in a.files]
    assert ts == sorted(ts) and len(set(ts)) == len(ts)


def test_stream_survivors_follow_the_gate_and_first_arrival():
    plan = _stream_plan(9)
    seen = set()
    for f in plan.files:
        for doc_id, text in zip(f.column("doc_id").to_pylist(), f.column("text").to_pylist()):
            expect = gen.passes_gate(text) and text not in seen
            assert (doc_id in plan.survivors) == expect
            if expect:
                seen.add(text)
    assert {"low", "exact"} <= set(plan.kinds.values())


def test_result_check_flags_corrupted_results():
    from workloads import same_result

    good = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, None, 2.25],
                         "t": pd.to_datetime(["2024-01-01", "2024-01-02", None])})
    assert same_result(good, good.iloc[::-1].reset_index(drop=True))
    assert same_result(good, good[["v", "t", "k"]])
    assert not same_result(good, good.assign(v=[0.5, None, 2.5]))
    assert not same_result(good, good.iloc[:2])
    assert not same_result(good, good.rename(columns={"v": "w"}))
    assert not same_result(good, good.assign(k=good.k.astype(float)))


def test_tsdb_truth_applies_ttl_and_last_write_wins():
    truth = gen.TsdbTruth()
    now = dt.datetime(2024, 3, 10)
    row = {"event_id": 1, "ts": now - dt.timedelta(hours=1), "user_id": 1,
           "event_type": "view", "value": 1.0, "props": "{}"}
    newer = dict(row, ts=now - dt.timedelta(minutes=1), value=2.0)
    stale = dict(row, event_id=2, ts=now - dt.timedelta(days=2))
    assert truth.insert([row, newer, stale], now) == 2
    assert truth.query(now - dt.timedelta(days=1), now) == [newer]
    # a corrupted engine answer (the older version) must not match
    assert truth.query(now - dt.timedelta(days=1), now) != [row]
    assert truth.cleanup(now + dt.timedelta(days=2)) == ["2024-03-09"]
    assert truth.rows == []


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "0", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=200)
    assert p.returncode == 0, p.stderr[-3000:]
    line = json.loads(p.stdout.strip().splitlines()[-1])
    full = os.path.join(ROOT, ".perfbench_work", "results",
                        f"{workload}-seed0-trace{trace}.json")
    with open(full) as fh:
        return line, json.load(fh)


def _names_and_units(line: dict, section: str) -> None:
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["correct"] and line["failed"] == 0 and line["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC[section]}
    assert {k: v["unit"] for k, v in line["metrics"].items()} == want


def test_untraced_runs_print_end_to_end_metrics_each_from_a_fresh_process():
    line, full = _run("tsdb-mixed", 0)
    _names_and_units(line, "end_to_end")
    again, full2 = _run("tsdb-mixed", 0)
    assert full["pid"] != os.getpid() and full2["pid"] != full["pid"]


def test_traced_run_prints_per_layer_metrics_and_writes_spans():
    line, full = _run("tsdb-mixed", 1)
    _names_and_units(line, "per_layer")
    spans_file = os.path.join(ROOT, ".perfbench_work", "results",
                              "tsdb-mixed-seed0-trace1.spans.json")
    with open(spans_file) as fh:
        spans = json.load(fh)
    kinds = {s["kind"] for s in spans["spans"]}
    assert {"phase", "op", "layer", "spark.job", "spark.stage"} <= kinds
    assert spans["self_s"]["db"] > 0
