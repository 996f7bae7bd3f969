"""The three workloads. Each is ``generate`` (pure function of the seed,
timed as set-up) plus ``run`` (the timed window, its correctness check
and, when traced, the per-layer split).

Spans wrap the benchmark's calls into kawa_spark's public functions;
layer names are the span names up to the first dot.
"""

from __future__ import annotations

import bisect
import glob
import json
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

import gen
import harness as H


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    trace: bool
    tracer: H.Tracer
    listener: object
    fault: str | None = None
    attempted: int = 0
    failed: int = 0
    invalid: list[str] = field(default_factory=list)
    e2e: dict = field(default_factory=dict)  # end-to-end metrics
    layers: dict = field(default_factory=dict)  # per-layer metrics
    detail: dict = field(default_factory=dict)  # workload-specific extras


def _timed_window(ctx: Ctx, body, min_iters: int) -> None:
    """Run ``body(i)`` until ``ctx.seconds`` have passed and at least
    ``min_iters`` iterations ran."""
    deadline = time.time() + ctx.seconds
    i = 0
    while i < min_iters or time.time() < deadline:
        body(i)
        i += 1


def _sum_parts(parts: list[dict[str, float]]) -> dict[str, float]:
    """Self seconds per layer, summed over several traced roots."""
    out: dict[str, float] = {}
    for p in parts:
        for k, v in p.items():
            out[k] = out.get(k, 0.0) + v
    return out


def _trace_on(ctx: Ctx, i: int) -> bool:
    """In a traced run, iterations go untraced, traced, traced, untraced
    (repeating), so warm-up drift cancels out of ``trace.overhead_frac``."""
    on = ctx.trace and i % 4 in (1, 2)
    ctx.tracer.enabled = on
    return on


# --- log workloads: shared pipeline ---------------------------------------------

# 11 files per trigger: three batches of 11, 11 and 10 files per drain.
DRAIN_FILES, DRAIN_EVENTS_PER_FILE, DRAIN_FILES_PER_TRIGGER = 32, 4000, 11
TRICKLE_FILES_PER_S, TRICKLE_EVENTS_PER_FILE = 10, 600  # 6 k events/s
TRICKLE_WARMUP_S = 3.0  # events due this early are excluded from the metrics
TRICKLE_WARM_FILES = 8  # drained untimed before the open loop starts
GEN_LATE_BOUND_MS = 250.0  # generator lateness beyond which a run is invalid
BACKLOG_GROWTH_BOUND_FILES = 10  # 0.5 s of input


def log_handlers():
    """source → envelope.normalize → deser_json → filter_rows, plus the
    event-time column the FileSink partitions on."""
    from pyspark.sql import functions as F

    from kawa_spark import envelope
    from kawa_spark import handlers as Hd

    return [
        envelope.normalize,
        Hd.deser_json(gen.LOG_SCHEMA),
        Hd.filter_rows(
            F.col("value.id").isNotNull() & (F.col("value.level") != gen.DROPPED_LEVEL)
        ),
        Hd.with_column("event_ts", F.col("value.ts").cast("timestamp")),
    ]


def log_pipeline(src: str, sink, handlers: bool = True, max_files: int | None = None):
    from kawa_spark.pipeline import Pipeline
    from kawa_spark.sources.file import FileSource

    hs = log_handlers() if handlers else []
    return Pipeline(FileSource(src, format="text", max_files_per_trigger=max_files), hs, sink)


def id_check(agg, expected, allow_dups: bool) -> dict:
    """Verdict for one group of delivered ids, given their aggregate
    ``agg`` (``n`` rows, ``d`` distinct ids, ``s`` and ``s2`` the sum and
    sum of squares of the distinct ids; None when nothing arrived). The
    distinct ids must be the expected set: equal count, sum and sum of
    squares. A duplicate fails the check unless ``allow_dups``."""
    n, d = (agg["n"], agg["d"]) if agg else (0, 0)
    missing = len(expected) - d
    dups = n - d
    same_set = (missing == 0 and agg["s"] == int(expected.sum())
                and agg["s2"] == int((expected * expected).sum()))
    lost = abs(missing) + (0 if same_set or missing else 1)
    return {"rows": n, "missing": missing, "duplicates": dups,
            "failed": lost + (0 if allow_dups else dups)}


def _check_ids(df, groups: int, expected, allow_dups: bool) -> list[dict]:
    """``id_check`` for each group ``g`` in 0..groups-1 of ``df`` (columns
    ``g``, ``id``), in one job. Ids are non-negative, so distinct squares
    are squares of distinct ids."""
    from pyspark.sql import functions as F

    rows = {
        r["g"]: r.asDict()
        for r in df.groupBy("g").agg(
            F.count("id").alias("n"),
            F.countDistinct("id").alias("d"),
            F.sum_distinct("id").alias("s"),
            F.sum_distinct(F.col("id") * F.col("id")).alias("s2"),
        ).collect()
    }
    return [id_check(rows.get(g), expected, allow_dups) for g in range(groups)]


# --- log_drain --------------------------------------------------------------------


def drain_generate(ctx: Ctx):
    src = os.path.join(ctx.work, "drain_src")
    shutil.rmtree(src, ignore_errors=True)
    return gen.write_logs(src, ctx.seed, DRAIN_FILES, DRAIN_EVENTS_PER_FILE)


def drain_warmup(ctx: Ctx, logs) -> None:
    """One untimed drain: the first drain in a JVM pays code generation
    and JIT warm-up several times over."""
    _drain(ctx, logs, "warm")


def _drain(ctx: Ctx, logs, tag: str, sink=None, handlers: bool = True):
    from kawa_spark.sinks.sinks import FileSink

    src = os.path.dirname(logs.paths[0])
    out = os.path.join(ctx.work, "drain_out", tag)
    cp = os.path.join(ctx.work, "drain_cp", tag)
    sink = sink or FileSink(out, partition_source="event_ts")
    p = log_pipeline(src, sink, handlers, DRAIN_FILES_PER_TRIGGER)
    with ctx.tracer.span(f"stream.drain.{tag}") as root:
        t0 = time.time()
        with ctx.tracer.span("stream.run_stream"):
            q = p.run_stream(ctx.spark, checkpoint=cp, available_now=True)
        q.awaitTermination()  # the triggers' own spans cover this wait
        t1 = time.time()
    if q.exception() is not None:
        raise RuntimeError(f"drain {tag} failed: {q.exception()}")
    return {"t0": t0, "t1": t1, "qid": str(q.id), "out": out, "cp": cp, "root": root}


def _drop_one_event(out: str) -> None:
    """Fault injection for the benchmark's own test: remove one event from
    a committed FileSink output and record the shorter file's size in the
    sink's metadata log, so the read-back succeeds and the check fails."""
    log = os.path.join(out, "_spark_metadata", "0")
    with open(log) as f:
        lines = f.read().splitlines()  # "v1", then one JSON entry per file
    entry = json.loads(lines[1])
    path = entry["path"].removeprefix("file://")
    gen.drop_one_line(path)
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    os.remove(crc)  # the local file system's checksum of the old bytes
    entry["size"] = os.path.getsize(path)
    lines[1] = json.dumps(entry)
    with open(log, "w") as f:
        f.write("\n".join(lines) + "\n")


def drain_run(ctx: Ctx, logs) -> None:
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    n_out = len(logs.expected_ids)
    stages = H.StageReader(ctx.spark) if ctx.trace else None
    mark = stages.mark() if stages else None
    drains: list[dict] = []
    w0 = time.time()

    def one(i: int) -> None:
        traced = _trace_on(ctx, i)
        d = _drain(ctx, logs, f"d{i}")
        d["traced"] = traced
        drains.append(d)

    _timed_window(ctx, one, min_iters=4 if ctx.trace else 3)
    ctx.tracer.enabled = ctx.trace
    wall = time.time() - w0
    upto = stages.mark() if stages else None

    # An event's latency: from the start of the trigger that read it to
    # that trigger's commit. Each percentile is taken per drain, then the
    # median over drains, so the first timed drain's slower (still
    # warming) batches do not set the tail.
    rates, lat = [], []
    for d in drains:
        ev = ctx.listener.for_query(d["qid"])
        d["events"] = ev
        d["rate"] = n_out / (d["t1"] - d["t0"])
        if not d["traced"]:
            rates.append(d["rate"])
            lat.append([(p["durationMs"]["triggerExecution"], p["numInputRows"]) for p in ev])

    # correctness: every drain's committed output is exactly the expected set
    if ctx.fault == "drop_one":
        _drop_one_event(drains[0]["out"])
    reads = [
        ctx.spark.read.schema("value STRUCT<id: BIGINT>").json(d["out"]).select(
            F.lit(i).alias("g"), F.col("value.id").alias("id"))
        for i, d in enumerate(drains)
    ]
    checks = _check_ids(reduce(DataFrame.unionAll, reads), len(drains), logs.expected_ids, False)
    ctx.attempted += n_out * len(drains)
    ctx.failed += sum(c["failed"] for c in checks)

    # the fastest drain (bench.py's discipline: host noise only adds time)
    ctx.e2e["throughput_per_s"] = max(rates)
    ctx.e2e["latency_p50_ms"] = statistics.median(H.weighted_pct(b, 0.50) for b in lat)
    ctx.e2e["latency_p90_ms"] = statistics.median(H.weighted_pct(b, 0.90) for b in lat)
    ctx.detail.update(
        latency_p99_ms=H.weighted_pct([x for b in lat for x in b], 0.99),
        drain_rows_per_s=ctx.e2e["throughput_per_s"],
        drains=len(drains),
        drain_s=[round(d["t1"] - d["t0"], 3) for d in drains],
        missing=sum(c["missing"] for c in checks),
        duplicates=sum(c["duplicates"] for c in checks),
        kawa_reference_msg_per_s=2.13e6,
    )
    if not ctx.trace:
        return

    traced = [d for d in drains if d["traced"]]
    all_ev = [p for d in traced for p in d["events"]]
    ctx.layers.update(H.phase_summary(all_ev))
    for d in traced:
        H.batch_spans(ctx.tracer, d["events"], d["root"])
    ctx.layers.update(stages.sums(mark, upto, wall))
    ctx.layers["exec.plan_ms"] = sum(p["durationMs"].get("queryPlanning", 0) for p in all_ev)
    cp_b, cp_f = H.dir_usage(traced[-1]["cp"])
    ctx.layers["checkpoint.bytes"], ctx.layers["checkpoint.files"] = cp_b, cp_f
    full_s = statistics.median(d["t1"] - d["t0"] for d in traced)
    ctx.layers["trace.overhead_frac"] = statistics.median(rates) / statistics.median(
        d["rate"] for d in traced) - 1
    parts = [H.layer_self_s(ctx.tracer.spans, d["root"]) for d in traced]
    ctx.layers["trace.residual_frac"] = statistics.median(
        p["residual"] / (d["t1"] - d["t0"]) for p, d in zip(parts, traced)
    )
    ctx.detail["layer_self_s"] = _sum_parts(parts)

    # the two extra legs: source alone, then source + handlers, into NoopSink
    from kawa_spark.sinks.sinks import NoopSink

    legs = {}
    for leg, handlers in (("scan", False), ("chain", True)):
        runs = [_drain(ctx, logs, f"{leg}{k}", NoopSink(), handlers) for k in range(2)]
        legs[leg] = min(r["t1"] - r["t0"] for r in runs)
    src_bytes = sum(os.path.getsize(p) for p in logs.paths)
    out_b, out_f = H.dir_usage(traced[-1]["out"])
    meta_b, meta_f = H.dir_usage(os.path.join(traced[-1]["out"], "_spark_metadata"))
    from kawa_spark.handlers import chain
    from kawa_spark.sources.file import FileSource

    lines = FileSource(os.path.dirname(logs.paths[0]), format="text").read(ctx.spark)
    normalize_and_parse = chain(*log_handlers()[:2])
    null_parse = normalize_and_parse(lines).filter(F.col("value.id").isNull()).count()
    ctx.detail.update(
        {
            "handlers.scan_s": legs["scan"],
            "handlers.chain_s": legs["chain"],
            "handlers.self_s": legs["chain"] - legs["scan"],
            "handlers.rows_out_frac": n_out / (logs.n_events + logs.n_malformed),
            "envelope.parse_null": null_parse,
            "sink.write_s": full_s - legs["chain"],
            "sink.bytes_out": out_b - meta_b,
            "sink.bytes_out_per_in": (out_b - meta_b) / src_bytes,
            "sink.files_out": out_f - meta_f,
        }
    )


# --- log_trickle --------------------------------------------------------------------


def trickle_generate(ctx: Ctx):
    stage = os.path.join(ctx.work, "trickle_stage")
    warm = os.path.join(ctx.work, "trickle_warm_src")
    for d in (stage, warm):
        shutil.rmtree(d, ignore_errors=True)
    n_files = int((TRICKLE_WARMUP_S + ctx.seconds) * TRICKLE_FILES_PER_S)
    logs = gen.write_logs(
        stage, ctx.seed, n_files, TRICKLE_EVENTS_PER_FILE,
        interval_ms=1000 // TRICKLE_FILES_PER_S,
    )
    os.makedirs(warm)
    for p in logs.paths[:TRICKLE_WARM_FILES]:
        shutil.copy(p, warm)
    return logs


def _parquet_flush(ctx: Ctx, out: str, flush_end: dict, flush_ms: list):
    """The batcher Flusher: append the batch's events to parquet, tagged
    with the batch id, and note when the flush returned."""
    from pyspark.sql import functions as F

    def flush(df, batch_id: int) -> None:
        traced = _trace_on(ctx, batch_id)
        t0 = time.time()
        with ctx.tracer.span("sink.flush"):
            # one object per flush, as kawa's batcher writes
            df.coalesce(1).select("value.*", F.lit(batch_id).alias("batch_id")).write.mode(
                "append").parquet(out)
        t1 = time.time()
        flush_end[batch_id] = t1
        if traced or not ctx.trace:
            flush_ms.append((t1 - t0) * 1e3)

    return flush


def trickle_warmup(ctx: Ctx, logs) -> None:
    """Untimed: drain a few of the files through the same foreachBatch
    flush, so the open-loop run starts on warm code paths."""
    from kawa_spark.sinks.sinks import ForeachBatchSink

    w = os.path.join(ctx.work, "trickle_warm")
    flush = _parquet_flush(ctx, os.path.join(w, "out"), {}, [])
    q = log_pipeline(
        os.path.join(ctx.work, "trickle_warm_src"), ForeachBatchSink(flush), max_files=2
    ).run_stream(ctx.spark, checkpoint=os.path.join(w, "cp"), available_now=True)
    q.awaitTermination()
    ctx.tracer.enabled = False


class Generator(threading.Thread):
    """Open-loop load: releases file k into the source directory at
    ``t0 + due_ms[k]`` by atomic rename, whether or not the pipeline
    keeps up, and records how late each release ran."""

    def __init__(self, logs, src: str, t0: float, tracer: H.Tracer):
        super().__init__(name="trickle-generator", daemon=True)
        self.logs, self.src, self.t0, self.tracer = logs, src, t0, tracer
        self.released: list[float] = []
        self.late_ms: list[float] = []
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            for path, due in zip(self.logs.paths, self.logs.due_ms):
                at = self.t0 + due / 1e3
                delay = at - time.time()
                if delay > 0:
                    time.sleep(delay)
                with self.tracer.span("gen.write"):
                    os.rename(path, os.path.join(self.src, os.path.basename(path)))
                now = time.time()
                self.released.append(now)
                self.late_ms.append((now - at) * 1e3)
        except BaseException as exc:  # reported by the caller after join
            self.error = exc


def trickle_run(ctx: Ctx, logs) -> None:
    from pyspark.sql import functions as F

    from kawa_spark.sinks.sinks import ForeachBatchSink
    from kawa_spark.streaming.batcher import BatcherPolicy

    src = os.path.join(ctx.work, "trickle_src")
    out = os.path.join(ctx.work, "trickle_out")
    cp = os.path.join(ctx.work, "trickle_cp")
    for d in (src, out, cp):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(src)
    flush_end: dict[int, float] = {}
    flush_ms: list[float] = []
    errors: list[int] = []
    flush = _parquet_flush(ctx, out, flush_end, flush_ms)
    policy = BatcherPolicy(on_error=lambda exc, attempt: errors.append(attempt))
    stages = H.StageReader(ctx.spark) if ctx.trace else None
    mark = stages.mark() if stages else None
    q = log_pipeline(src, ForeachBatchSink(flush, policy)).run_stream(ctx.spark, checkpoint=cp)
    t0 = time.time() + 0.5
    g = Generator(logs, src, t0, ctx.tracer)
    g.start()
    g.join(timeout=TRICKLE_WARMUP_S + ctx.seconds + 60)
    if g.is_alive() or g.error is not None:
        q.stop()
        raise RuntimeError(f"trickle generator did not finish: {g.error!r}")
    q.processAllAvailable()
    upto = stages.mark() if stages else None
    q.stop()
    if q.exception() is not None:
        raise RuntimeError(f"trickle query failed: {q.exception()}")
    t_end = time.time()

    warm_ms = TRICKLE_WARMUP_S * 1e3
    end_ms = warm_ms + ctx.seconds * 1e3
    res = ctx.spark.read.parquet(out)
    per = res.groupBy("batch_id", "due_ms").count().collect()
    lat = [
        ((flush_end[r["batch_id"]] - (t0 + r["due_ms"] / 1e3)) * 1e3, r["count"])
        for r in per
        if warm_ms <= r["due_ms"] < end_ms
    ]
    (chk,) = _check_ids(res.select(F.lit(0).alias("g"), "id"), 1, logs.expected_ids, True)
    ctx.attempted += len(logs.expected_ids) + len(flush_end)
    ctx.failed += chk["failed"] + len(errors)

    # open-loop validity: generator on time, backlog not growing
    ev = ctx.listener.for_query(str(q.id))
    win = [p for p in ev if t0 + warm_ms / 1e3 <= H.progress_start(p) < t0 + end_ms / 1e3]
    backlog, done = [], 0
    rel = sorted(g.released)
    for p in ev:
        start = H.progress_start(p)
        b = bisect.bisect_right(rel, start) - done / TRICKLE_EVENTS_PER_FILE
        if p in win:
            backlog.append(b)
        done += p["numInputRows"]
    third = max(1, len(backlog) // 3)
    growth = statistics.mean(backlog[-third:]) - statistics.mean(backlog[:third])
    late_max = max(g.late_ms)
    if late_max > GEN_LATE_BOUND_MS:
        ctx.invalid.append(f"generator ran {late_max:.0f} ms late (bound {GEN_LATE_BOUND_MS:.0f})")
    if growth > BACKLOG_GROWTH_BOUND_FILES:
        ctx.invalid.append(f"backlog grew by {growth:.1f} files (bound {BACKLOG_GROWTH_BOUND_FILES})")

    busy_s = sum(p["durationMs"]["triggerExecution"] for p in win) / 1e3
    ctx.e2e["throughput_per_s"] = sum(p["numInputRows"] for p in win) / busy_s
    ctx.e2e["latency_p50_ms"] = H.weighted_pct(lat, 0.50)
    ctx.e2e["latency_p90_ms"] = H.weighted_pct(lat, 0.90)
    ctx.detail.update(
        {
            "trickle_latency_p50_ms": ctx.e2e["latency_p50_ms"],
            "trickle_latency_p99_ms": H.weighted_pct(lat, 0.99),
            "latency_samples": sum(c for _, c in lat),
            "batches_in_window": len(win),
            "duplicates": chk["duplicates"],
            "missing": chk["missing"],
            "gen.late_ms_max": late_max,
            "source.backlog_files_max": max(backlog),
            "source.backlog_growth_files": growth,
            "sink.flush_ms_p50": statistics.median(flush_ms),
            "sink.flush_ms_p99": H.pct(flush_ms, 0.99),
            "sink.flush_retries": len(errors),
        }
    )
    if not ctx.trace:
        return
    ctx.tracer.enabled = True
    root = ctx.tracer.add("stream.window", t0 + warm_ms / 1e3, t0 + end_ms / 1e3, None)
    H.batch_spans(ctx.tracer, ev, root)
    ctx.layers.update(H.phase_summary(win))
    ctx.layers.update(stages.sums(mark, upto, t_end - t0))
    ctx.layers["exec.plan_ms"] = sum(p["durationMs"].get("queryPlanning", 0) for p in win)
    ctx.layers["checkpoint.bytes"], ctx.layers["checkpoint.files"] = H.dir_usage(cp)
    traced_rows = [r for r in per if r["batch_id"] % 4 in (1, 2)]
    plain_rows = [r for r in per if r["batch_id"] % 4 in (0, 3)]

    def p50(rows):
        return H.weighted_pct(
            [((flush_end[r["batch_id"]] - (t0 + r["due_ms"] / 1e3)) * 1e3, r["count"])
             for r in rows if warm_ms <= r["due_ms"] < end_ms], 0.5)

    ctx.layers["trace.overhead_frac"] = p50(traced_rows) / p50(plain_rows) - 1
    parts = H.layer_self_s(ctx.tracer.spans, root)
    ctx.layers["trace.residual_frac"] = parts["residual"] / (end_ms - warm_ms) * 1e3
    ctx.detail["layer_self_s"] = parts


# --- query_mix ----------------------------------------------------------------------

QUERY_SF = 0.01
# An even number of keys: the median key latency is then the mean of the
# two middle keys, so noise that swaps two neighbouring keys' ranks does
# not move it.
QUERY_KEYS = [
    # relational / TPC-H
    "tpch_q1_pricing_summary",
    "agg_hash_groupby",
    # events / logs detection (the log workloads already parse JSON)
    "events_impossible_travel",
    # Python / Arrow kernels
    "similarity_lsh_multiprobe_wide",
    "udf_python",
    # a builder that runs a job at construction: a state-store drain
    "stream_exec_incremental_rollup",
]


def mix_generate(ctx: Ctx):
    d = os.path.join(ctx.work, "tables")
    shutil.rmtree(d, ignore_errors=True)
    gen.write_tables(d, ctx.seed, QUERY_SF)
    return d


def _run_key(ctx: Ctx, key: str, sf_dir: str) -> tuple[float, float]:
    from kawa_spark import registry

    t0 = time.perf_counter()
    with ctx.tracer.span(f"queries.{key}.builder"):
        df = registry.QUERIES[key](ctx.spark, sf_dir)
    t1 = time.perf_counter()
    if ctx.tracer.enabled:
        with ctx.tracer.span(f"exec.{key}.plan"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            ms = sum(phases.get(p).get().durationMs() for p in ("analysis", "optimization", "planning")
                     if phases.contains(p))
            ctx.layers["exec.plan_ms"] = ctx.layers.get("exec.plan_ms", 0) + ms
    with ctx.tracer.span(f"exec.{key}.write"):
        df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    return t1 - t0, t2 - t0


def mix_warmup(ctx: Ctx, sf_dir: str) -> None:
    """The untimed warm pass is also the correctness check: each key's
    result against its registered DuckDB oracle, compared the way
    tests/oracle_harness.py compares them."""
    import sys

    from kawa_spark import registry

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tests.oracle_harness import compare

    failures = []
    for key in QUERY_KEYS:
        ctx.attempted += 1
        try:
            r = compare(ctx.spark, sf_dir, registry.QUERIES[key], registry.ORACLES[key])
            ok = r["count_match"] and r["cols_match"] and r["values_match"]
        except Exception as exc:  # noqa: BLE001 — a raising key is a failed key
            ok, r = False, repr(exc)
        if not ok:
            ctx.failed += 1
            failures.append({"key": key, "report": str(r)[:300]})
    ctx.detail["oracle_failures"] = failures


def mix_run(ctx: Ctx, sf_dir: str) -> None:
    walls: dict[str, list[float]] = {k: [] for k in QUERY_KEYS}
    builders: dict[str, list[float]] = {k: [] for k in QUERY_KEYS}
    traced_pass: list[float] = []
    plain_pass: list[float] = []
    roots = []
    stages = H.StageReader(ctx.spark) if ctx.trace else None
    mark = stages.mark() if stages else None
    w0 = time.time()
    n0 = len(ctx.listener.events)

    def one_pass(i: int) -> None:
        traced = _trace_on(ctx, i)
        t0 = time.perf_counter()
        with ctx.tracer.span("queries.pass") as root:
            for key in QUERY_KEYS:
                b, w = _run_key(ctx, key, sf_dir)
                if traced or not ctx.trace:
                    walls[key].append(w)
                    builders[key].append(b)
        (traced_pass if traced else plain_pass).append(time.perf_counter() - t0)
        if traced:
            roots.append(root)

    _timed_window(ctx, one_pass, min_iters=2)
    ctx.tracer.enabled = ctx.trace
    wall = time.time() - w0
    upto = stages.mark() if stages else None

    # Per key, the fastest of its timed runs (bench.py's discipline: host
    # noise only adds time).
    best = {k: min(v) for k, v in walls.items()}
    mix_s = sum(best.values())
    ctx.e2e["throughput_per_s"] = len(QUERY_KEYS) / mix_s
    ctx.e2e["latency_p50_ms"] = statistics.median(best.values()) * 1e3
    ctx.e2e["latency_p90_ms"] = H.pct(best.values(), 0.90) * 1e3
    ctx.detail["query_mix_s"] = mix_s

    if not ctx.trace:
        return

    ev = ctx.listener.events[n0:]
    ctx.layers.update(H.phase_summary(ev))
    ctx.layers.update(stages.sums(mark, upto, wall))
    state = [s for p in ev for s in p.get("stateOperators", [])]
    cps = glob.glob(os.path.join(os.environ["TMPDIR"], "kawa_rollup_*", "cp"))
    cpu = [H.dir_usage(c) for c in cps]
    ctx.layers["checkpoint.bytes"] = statistics.median(b for b, _ in cpu)
    ctx.layers["checkpoint.files"] = statistics.median(f for _, f in cpu)
    ctx.layers["trace.overhead_frac"] = statistics.median(traced_pass) / statistics.median(plain_pass) - 1
    parts = [H.layer_self_s(ctx.tracer.spans, r) for r in roots]
    ctx.layers["trace.residual_frac"] = statistics.median(
        p["residual"] / (ctx.tracer.spans[r].end - ctx.tracer.spans[r].start)
        for p, r in zip(parts, roots)
    )
    ctx.detail["layer_self_s"] = _sum_parts(parts)
    ctx.detail.update(
        {f"query.{k}.wall_s": best[k] for k in QUERY_KEYS}
        | {f"query.{k}.builder_s": min(builders[k]) for k in QUERY_KEYS}
        | {
            "queries.builder_s": sum(min(v) for v in builders.values()),
            "state.rows_total": statistics.median(s["numRowsTotal"] for s in state),
            "state.commit_ms_p50": statistics.median(s["commitTimeMs"] for s in state),
            "state.memory_bytes": statistics.median(s["memoryUsedBytes"] for s in state),
        }
    )


WORKLOADS = {
    "log_drain": (drain_generate, drain_warmup, drain_run),
    "log_trickle": (trickle_generate, trickle_warmup, trickle_run),
    "query_mix": (mix_generate, mix_warmup, mix_run),
}
