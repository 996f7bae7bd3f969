"""Measurement plumbing shared by the workloads.

Nothing here reaches inside ``kawa_spark``: spans wrap the benchmark's
own calls into the package's public functions, and the Spark-side
numbers come from Spark's public surfaces (streaming progress events
and the UI's REST API).
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener


def pct(values, q: float) -> float:
    """The q-quantile (0..1) of ``values`` by linear interpolation."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def weighted_pct(pairs, q: float) -> float:
    """The q-quantile of a sample given as (value, count) pairs."""
    pairs = sorted(pairs)
    total = sum(c for _, c in pairs)
    if total <= 0:
        raise ValueError("percentile of an empty sample")
    rank = q * (total - 1)
    seen = 0
    for v, c in pairs:
        seen += c
        if seen > rank:
            return v
    return pairs[-1][0]


# --- spans -------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    sid: int


@dataclass
class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one branch."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _stack: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def span(self, name: str, parent: int | None = None):
        return _SpanCtx(self, name, parent) if self.enabled else _NULL

    def add(self, name: str, start: float, end: float, parent: int | None) -> int:
        """Record a span measured elsewhere (e.g. a streaming trigger)."""
        with self._lock:
            sid = len(self.spans)
            self.spans.append(Span(name, start, end, parent, sid))
            return sid

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, parent: int | None):
        self.t, self.name, self.parent = tracer, name, parent

    def __enter__(self):
        st = self.t._stack.__dict__.setdefault("ids", [])
        parent = self.parent if self.parent is not None else (st[-1] if st else None)
        self.sid = self.t.add(self.name, time.time(), 0.0, parent)
        st.append(self.sid)
        return self.sid

    def __exit__(self, *exc):
        self.t.spans[self.sid].end = time.time()
        self.t._stack.ids.pop()
        return False


class _Null:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


_NULL = _Null()


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: (s.end - s.start) - _covered(kids.get(s.sid, []), s.start, s.end)
        for s in spans
    }


# A traced run's layer parts must cover its wall time to within this share
# (test_perfbench.test_traced_layers_sum_to_wall).
RESIDUAL_TOLERANCE = 0.10


def layer_self_s(spans: list[Span], root: int) -> dict[str, float]:
    """Self time per layer (span name up to the first '.') under ``root``,
    the root's own uncovered time reported as ``residual``."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    selfs = self_times(spans)
    out: dict[str, float] = {"residual": selfs[root]}
    todo = list(children.get(root, []))
    while todo:
        s = todo.pop()
        layer = s.name.split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + selfs[s.sid]
        todo.extend(children.get(s.sid, []))
    return out


# --- streaming progress --------------------------------------------------------


class ProgressLog(StreamingQueryListener):
    """Keeps every streaming progress event (a query's ``recentProgress``
    keeps only the last 100)."""

    def __init__(self):
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = json.loads(event.progress.json)
        with self._lock:
            self.events.append(p)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def for_query(self, qid: str) -> list[dict]:
        with self._lock:
            return [p for p in self.events if p["id"] == qid]


def progress_start(p: dict) -> float:
    """Epoch seconds at which a progress event's trigger started."""
    ts = p["timestamp"].replace("Z", "+00:00")
    return datetime.fromisoformat(ts).timestamp()


def phase_summary(events: list[dict]) -> dict[str, float]:
    """Per-batch phase medians and counts over the streaming progress
    events that read input."""
    work = [p for p in events if p.get("numInputRows", 0) > 0]
    if not work:
        raise RuntimeError("no streaming batch did any work")

    def med(key: str) -> float:
        return statistics.median(p["durationMs"].get(key, 0) for p in work)

    trig = [p["durationMs"]["triggerExecution"] for p in work]
    book = [
        p["durationMs"]["triggerExecution"] - p["durationMs"].get("addBatch", 0)
        for p in work
    ]
    return {
        "stream.batches": len(work),
        "stream.rows_per_batch_p50": statistics.median(p["numInputRows"] for p in work),
        "stream.trigger_ms_p50": statistics.median(trig),
        "stream.trigger_ms_p99": pct(trig, 0.99),
        "stream.addBatch_ms_p50": med("addBatch"),
        "stream.queryPlanning_ms_p50": med("queryPlanning"),
        "stream.walCommit_ms_p50": med("walCommit"),
        "stream.commitOffsets_ms_p50": med("commitOffsets"),
        "stream.bookkeeping_ms_p50": statistics.median(book),
        "source.latestOffset_ms_p50": med("latestOffset"),
        "source.getBatch_ms_p50": med("getBatch"),
        "source.input_rows": sum(p["numInputRows"] for p in work),
    }


def batch_spans(tracer: Tracer, events: list[dict], parent: int) -> None:
    """Record each trigger as a ``stream.trigger`` span under ``parent``
    with its named phases laid end to end as children."""
    for p in events:
        d = p["durationMs"]
        t0 = progress_start(p)
        sid = tracer.add("stream.trigger", t0, t0 + d["triggerExecution"] / 1e3, parent)
        t = t0
        for ph, layer in (
            ("latestOffset", "source"),
            ("getBatch", "source"),
            ("queryPlanning", "stream"),
            ("addBatch", "stream"),
            ("walCommit", "checkpoint"),
            ("commitOffsets", "checkpoint"),
        ):
            ms = d.get(ph, 0)
            if ms:
                tracer.add(f"{layer}.{ph}", t, t + ms / 1e3, sid)
                t += ms / 1e3


def dir_usage(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``, not counting hidden files (the local
    file system's ``.crc`` checksums)."""
    nbytes = nfiles = 0
    for dp, _, fs in os.walk(path):
        for f in fs:
            if not f.startswith("."):
                nfiles += 1
                nbytes += os.path.getsize(os.path.join(dp, f))
    return nbytes, nfiles


# --- Spark UI REST stage sums -------------------------------------------------


class StageReader:
    """Sums Spark stage metrics over a window via the UI REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.cores = sc.defaultParallelism

    def _stages(self) -> list[dict]:
        with urllib.request.urlopen(f"{self.base}/stages", timeout=30) as r:
            return json.loads(r.read())

    def mark(self) -> int:
        """Highest stage id seen so far."""
        return max((s["stageId"] for s in self._stages()), default=-1)

    def sums(self, after: int, upto: int, wall_s: float) -> dict[str, float]:
        """Stage sums for stages with ``after`` < id <= ``upto``. Waits
        until the status store has every such stage in a final state."""
        for _ in range(50):
            st = [s for s in self._stages() if after < s["stageId"] <= upto]
            if all(s["status"] in ("COMPLETE", "FAILED", "SKIPPED") for s in st):
                break
            time.sleep(0.1)
        run = [s for s in st if s["status"] != "SKIPPED"]
        cpu_s = sum(s["executorCpuTime"] for s in run) / 1e9
        run_s = sum(s["executorRunTime"] for s in run) / 1e3
        return {
            "exec.stages": len(run),
            "exec.tasks": sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in run),
            "exec.run_s": run_s,
            "exec.cpu_s": cpu_s,
            "exec.offcpu_s": run_s - cpu_s,
            "exec.gc_s": sum(s["jvmGcTime"] for s in run) / 1e3,
            "exec.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in run),
            "exec.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in run),
            "exec.spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in run),
            "exec.input_bytes": sum(s["inputBytes"] for s in run),
            "exec.output_bytes": sum(s["outputBytes"] for s in run),
            "exec.util": cpu_s / (wall_s * self.cores),
        }


# --- resident memory ---------------------------------------------------------


def _field_kb(path: str, key: str) -> int:
    with open(path) as f:
        for line in f:
            if line.startswith(key):
                return int(line.split()[1])
    return 0


def _children(pid: int) -> list[int]:
    out = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except FileNotFoundError:  # the thread ended meanwhile
            continue
    return out


def _comm(pid: int) -> str:
    with open(f"/proc/{pid}/comm") as f:
        return f.read().strip()


def _tree_rss_kb(pid: int) -> tuple[int, int]:
    """Resident KiB of the JVM and of its Python worker descendants.

    Workers are counted by proportional set size, so pages a forked
    worker shares with its parent are not counted twice. Other
    descendants are short-lived helpers the JVM spawns (they share its
    address space until they exec) and are not counted."""
    jvm, workers = _field_kb(f"/proc/{pid}/status", "VmRSS:"), 0
    todo = _children(pid)
    while todo:
        p = todo.pop()
        try:
            if _comm(p).startswith("python"):
                workers += _field_kb(f"/proc/{p}/smaps_rollup", "Pss:")
            todo.extend(_children(p))
        except (FileNotFoundError, ProcessLookupError):
            continue
    return jvm, workers


class RssSampler:
    """Samples the resident memory of the JVM and its Python workers:
    the peak of their sum, and each one's own peak."""

    def __init__(self, pid: int, every_s: float = 0.2):
        self.pid, self.every = pid, every_s
        self.peak_kb = self.jvm_peak_kb = self.workers_peak_kb = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self):
        while not self._stop.is_set():
            jvm, workers = _tree_rss_kb(self.pid)
            self.peak_kb = max(self.peak_kb, jvm + workers)
            self.jvm_peak_kb = max(self.jvm_peak_kb, jvm)
            self.workers_peak_kb = max(self.workers_peak_kb, workers)
            self._stop.wait(self.every)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join(timeout=5)
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
