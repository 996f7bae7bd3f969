"""Incremental rollup: the materialized table converges to the batch
aggregate across multiple microbatches and a query restart."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from kawa_spark.sources.replay import register_replay_source
from kawa_spark.streaming.rollup import read_rollup, start_incremental_rollup


def test_rollup_converges_across_restarts(spark, tmp_path):
    register_replay_source(spark)
    log = tmp_path / "events.jsonl"
    out = str(tmp_path / "rollup")
    cp = str(tmp_path / "cp")

    def emit(eid, ts, typ, val):
        with open(log, "a") as f:
            f.write(
                json.dumps(
                    {"event_id": eid, "ts": ts, "event_type": typ, "value": val}
                )
                + "\n"
            )

    def drain():
        raw = (
            spark.readStream.format("kawa_replay")
            .option("path", str(log))
            .load()
            .select(
                F.from_json(
                    "value",
                    "event_id long, ts timestamp, event_type string, value double",
                ).alias("v")
            )
            .select("v.*")
        )
        q = start_incremental_rollup(
            spark, raw, out, cp, available_now=True
        )
        q.awaitTermination(120)

    emit(1, "2024-01-01 10:05:00", "click", 1.0)
    emit(2, "2024-01-01 10:15:00", "click", 2.0)
    emit(3, "2024-01-01 10:20:00", "error", 5.0)
    drain()
    state1 = {
        (r["window_start"].hour, r["event_type"]): (r["n_events"], r["total_value"])
        for r in read_rollup(spark, out).collect()
    }
    assert state1[(10, "click")] == (2, 3.0)
    assert state1[(10, "error")] == (1, 5.0)

    # restart with more data: same window updated, new window appears,
    # untouched (10, error) partition must survive
    emit(4, "2024-01-01 10:40:00", "click", 4.0)
    emit(5, "2024-01-01 11:02:00", "click", 7.0)
    drain()
    state2 = {
        (r["window_start"].hour, r["event_type"]): (r["n_events"], r["total_value"])
        for r in read_rollup(spark, out).collect()
    }
    assert state2[(10, "click")] == (3, 7.0)
    assert state2[(10, "error")] == (1, 5.0)
    assert state2[(11, "click")] == (1, 7.0)


SCHEMA = "event_id long, ts timestamp, event_type string, value double"


def _emit_file(src, name, events):
    """One JSONL file per call, renamed into place so the file source
    never lists a half-written file."""
    src.mkdir(exist_ok=True)
    tmp = src.parent / f".{name}.tmp"
    tmp.write_text(
        "".join(
            json.dumps({"event_id": i, "ts": ts, "event_type": t, "value": v}) + "\n"
            for i, ts, t, v in events
        )
    )
    tmp.rename(src / name)


def _file_drain(spark, src, out, cp, **kw):
    q = start_incremental_rollup(
        spark,
        spark.readStream.schema(SCHEMA).json(str(src)),
        out,
        cp,
        available_now=True,
        **kw,
    )
    assert q.awaitTermination(120)
    return q


def _table(spark, out):
    return {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in read_rollup(spark, out).collect()
    }


def test_bounded_drain_commits_only_its_data_batch(spark, tmp_path):
    src, out, cp = tmp_path / "src", str(tmp_path / "rollup"), tmp_path / "cp"
    _emit_file(
        src,
        "a.json",
        [
            (1, "2024-01-01T10:05:00", "click", 1.0),
            (2, "2024-01-01T13:30:00", "click", 2.0),
        ],
    )
    q = _file_drain(spark, src, out, str(cp))
    commits = sorted(f for f in os.listdir(cp / "commits") if not f.startswith("."))
    assert commits == ["0"]
    assert q.recentProgress and all(
        p["numInputRows"] > 0 for p in q.recentProgress
    )
    assert [e for e in os.listdir(out) if "=" in e] == ["month=2024-01-01"]


def test_drain_leaves_session_conf_unchanged(spark, tmp_path):
    keys = (
        "spark.sql.sources.partitionOverwriteMode",
        "spark.sql.streaming.noDataMicroBatches.enabled",
        "spark.sql.shuffle.partitions",
    )
    before = {k: spark.conf.get(k, None) for k in keys}
    src = tmp_path / "src"
    _emit_file(src, "a.json", [(1, "2024-01-01T10:05:00", "click", 1.0)])
    _file_drain(
        spark, src, str(tmp_path / "rollup"), str(tmp_path / "cp"), state_partitions=1
    )
    assert {k: spark.conf.get(k, None) for k in keys} == before
    assert before["spark.sql.sources.partitionOverwriteMode"] is None


def test_late_event_across_restart_never_leaves_partial_count(spark, tmp_path):
    """A batch drops late rows by the watermark the previous batch
    evicted state with, so a late row for a window either still finds
    the window's state (its count includes the row) or is dropped
    along with it. Either way the table holds the batch count of the
    rows the stream accepted, never a count restarted from the late
    row alone."""
    src, out, cp = tmp_path / "src", str(tmp_path / "rollup"), str(tmp_path / "cp")
    first = [
        (1, "2024-01-31T10:05:00", "click", 1.0),
        (2, "2024-01-31T10:15:00", "click", 2.0),
        (3, "2024-01-31T10:20:00", "error", 5.0),
        (4, "2024-01-31T13:30:00", "click", 1.0),  # watermark → 11:30
    ]
    late = (5, "2024-01-31T10:40:00", "click", 4.0)
    on_time = (6, "2024-02-01T00:10:00", "click", 7.0)
    _emit_file(src, "a.json", first)
    _file_drain(spark, src, out, cp)
    _emit_file(src, "b.json", [late, on_time])
    _file_drain(spark, src, out, cp)

    def batch_counts(events):
        rows = (
            spark.createDataFrame(events, SCHEMA.replace("ts timestamp", "ts string"))
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .groupBy(F.window("ts", "1 hour").start.alias("w"), "event_type")
            .count()
            .collect()
        )
        return {(r["w"], r["event_type"]): r["count"] for r in rows}

    accepted_late = batch_counts(first + [late, on_time])
    dropped_late = batch_counts(first + [on_time])
    assert _table(spark, out) in (accepted_late, dropped_late)
    assert sorted(e for e in os.listdir(out) if "=" in e) == [
        "month=2024-01-01",
        "month=2024-02-01",
    ]


def test_old_date_partitioned_table_is_refused(spark, tmp_path):
    out = tmp_path / "rollup"
    spark.createDataFrame(
        [("2024-01-01 10:00:00", "click", 2, 3.0)],
        "window_start string, event_type string, n_events long, total_value double",
    ).withColumn("dt", F.to_date("window_start")).write.partitionBy("dt").parquet(
        str(out)
    )
    before = sorted(os.listdir(out))
    src = tmp_path / "src"
    _emit_file(src, "a.json", [(1, "2024-01-01T10:05:00", "click", 1.0)])
    with pytest.raises(ValueError, match="dt="):
        _file_drain(spark, src, str(out), str(tmp_path / "cp"))
    assert sorted(os.listdir(out)) == before
