"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The first tests are pure Python. The last two start Spark through
run.py (about a minute each): a drain whose output lost one event must
fail the run, and a traced run's layer parts must sum to its wall time.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import harness as H  # noqa: E402


def _span(tr, name, t0, t1, parent=None):
    return tr.add(name, t0, t1, parent)


def test_layer_self_times_sum_to_root():
    tr = H.Tracer(enabled=True)
    root = _span(tr, "stream.drain", 0.0, 10.0)
    trig = _span(tr, "stream.trigger", 1.0, 6.0, root)
    _span(tr, "source.latestOffset", 1.0, 2.0, trig)
    _span(tr, "sink.write", 2.0, 5.0, trig)
    _span(tr, "stream.trigger", 6.5, 9.0, root)
    parts = H.layer_self_s(tr.spans, root)
    assert parts["source"] == pytest.approx(1.0)
    assert parts["sink"] == pytest.approx(3.0)
    assert parts["stream"] == pytest.approx(1.0 + 2.5)  # trigger time no phase covers
    assert parts["residual"] == pytest.approx(10.0 - 5.0 - 2.5)
    assert sum(parts.values()) == pytest.approx(10.0)


def test_disabled_tracer_records_nothing():
    tr = H.Tracer(enabled=False)
    with tr.span("queries.x"):
        pass
    assert tr.spans == []


def test_weighted_percentiles():
    pairs = [(10.0, 98), (500.0, 1), (900.0, 1)]
    assert H.weighted_pct(pairs, 0.5) == 10.0
    assert H.weighted_pct(pairs, 0.99) == 500.0
    assert H.weighted_pct(pairs, 1.0) == 900.0
    assert H.pct([1, 2, 3, 4], 0.5) == 2.5


def test_id_check_counts_losses_and_duplicates():
    import numpy as np

    import workloads as W

    want = np.array([0, 2, 5])

    def agg(ids):
        d = sorted(set(ids))
        return {"n": len(ids), "d": len(d), "s": sum(d), "s2": sum(i * i for i in d)}

    assert W.id_check(agg([0, 2, 5]), want, False)["failed"] == 0
    once_more = W.id_check(agg([0, 2, 5, 5]), want, allow_dups=True)
    assert once_more["failed"] == 0 and once_more["duplicates"] == 1
    assert W.id_check(agg([0, 2, 5, 5]), want, allow_dups=False)["failed"] == 1
    assert W.id_check(agg([0, 2, 2]), want, allow_dups=True)["missing"] == 1
    assert W.id_check(agg([0, 2, 6]), want, allow_dups=True)["failed"] == 1  # wrong id
    assert W.id_check(None, want, allow_dups=True)["failed"] == 3


def test_logs_are_a_function_of_the_seed(tmp_path):
    a = gen.write_logs(str(tmp_path / "a"), 7, 3, 500, interval_ms=50)
    b = gen.write_logs(str(tmp_path / "b"), 7, 3, 500, interval_ms=50)
    c = gen.write_logs(str(tmp_path / "c"), 8, 3, 500, interval_ms=50)
    read = lambda logs: [open(p, "rb").read() for p in logs.paths]  # noqa: E731
    assert read(a) == read(b)
    assert read(a) != read(c)
    assert a.due_ms == [0, 50, 100]
    ids, bad = [], 0
    for p in a.paths:
        for line in open(p):
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                bad += 1
                continue
            if ev["level"] != gen.DROPPED_LEVEL:
                ids.append(ev["id"])
    assert bad == a.n_malformed == 1500 // gen.MALFORMED_EVERY
    assert sorted(ids) == a.expected_ids.tolist()


def test_tables_are_a_function_of_the_seed(tmp_path):
    import pyarrow.parquet as pq

    a = gen.write_tables(str(tmp_path / "a"), 3, 0.001)
    gen.write_tables(str(tmp_path / "b"), 3, 0.001)
    assert a["lineitem"] > 0 and a["events"] == 1000
    for name in a:
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        tb = pq.read_table(tmp_path / "b" / f"{name}.parquet")
        assert ta.equals(tb), name


def _run(*args: str) -> tuple[int, dict]:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--seed", "1", *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    return p.returncode, json.loads(last)


def test_a_lost_event_fails_the_run():
    rc, res = _run("--workload", "log_drain", "--seconds", "1", "--fault", "drop_one")
    assert rc != 0
    assert res["correct"] is False
    assert res["failed"] >= 1


def test_traced_layers_sum_to_wall():
    rc, res = _run("--workload", "log_drain", "--seconds", "1", "--trace", "1")
    assert rc == 0, res
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = {m["name"] for m in json.load(f)["per_layer"]}
    assert set(res["metrics"]) == names
    assert res["metrics"]["trace.residual_frac"]["value"] <= H.RESIDUAL_TOLERANCE
