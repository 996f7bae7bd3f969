"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed writes
byte-identical files. Two families:

* JSONL log events (``log_drain`` backlog, ``log_trickle`` schedule);
* the TPC-H-style star schema plus ``events``/``documents``/
  ``embeddings`` that the registry keys read (``query_mix``), with the
  same column names and parquet types as the repository's testdata.
"""

from __future__ import annotations

import gzip
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# The event shape follows examples/log_pipeline.py: fields event, level,
# user and ts, five equally likely levels, ts as "yyyy-MM-dd HH:mm:ss".
# The benchmark adds an id (for the exactly-once check) and due_ms (for
# open-loop latency), which brings a line to about 100 bytes. The rest are
# the benchmark's own choices: event time spread over six hourly
# partitions, 10 000 users, one malformed line per 500.
LEVELS = np.array(["DEBUG", "INFO", "WARN", "ERROR", "FATAL"])
N_USERS = 10_000
LOG_DAY = "2024-03-05"
LOG_SPAN_S = 6 * 3600  # event time spans six hourly partitions
MALFORMED_EVERY = 500  # one malformed line per this many events

# The handler chain's schema and filter, shared by every log workload.
LOG_SCHEMA = "id BIGINT, event STRING, level STRING, user STRING, ts STRING, due_ms BIGINT"
DROPPED_LEVEL = "DEBUG"


@dataclass
class LogFiles:
    """A set of JSONL files plus the ids the handler chain must emit."""

    paths: list[str]
    n_events: int  # lines that parse
    n_malformed: int
    expected_ids: np.ndarray  # sorted ids the filter keeps
    due_ms: list[int]  # per file: its due offset from the schedule start


def write_logs(
    out_dir: str,
    seed: int,
    n_files: int,
    events_per_file: int,
    interval_ms: int = 0,
    malformed: bool = True,
) -> LogFiles:
    """Write ``n_files`` JSONL files of ``events_per_file`` events each.

    File ``k`` carries ``due_ms = k * interval_ms`` in every event, so
    an open-loop generator that releases file ``k`` at that offset can
    measure each event's latency from when it was due. With
    ``malformed`` one line in MALFORMED_EVERY is not JSON (it must parse
    to null and be filtered out)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = n_files * events_per_file
    ids = np.arange(n, dtype=np.int64)
    off = np.sort(rng.integers(0, LOG_SPAN_S, n))  # seconds into LOG_DAY
    level = rng.integers(0, len(LEVELS), n)
    user = rng.integers(0, N_USERS, n)
    bad = np.zeros(n, dtype=bool)
    if malformed:
        bad[rng.choice(n, n // MALFORMED_EVERY, replace=False)] = True
    due = (ids // events_per_file) * interval_ms

    # Build every line with Arrow's vectorised string kernels; each line
    # ends in a newline, so a file's bytes are one slice of the data buffer.
    def s(a):
        return pc.cast(pa.array(a), pa.string())

    def pick(vocab, idx):
        return pc.take(pa.array([str(v) for v in vocab]), pa.array(idx))

    two = [f"{i:02d}" for i in range(60)]
    ts = pc.binary_join_element_wise(
        LOG_DAY + " ", pick(two, off // 3600), ":", pick(two, off // 60 % 60), ":",
        pick(two, off % 60), "",
    )
    head = pc.binary_join_element_wise('{"id":', s(ids), ',"event":"evt-', s(ids), '",', "")
    full = pc.binary_join_element_wise(
        head, '"level":"', pick(LEVELS, level), '","user":"u', s(user), '","ts":"', ts,
        '","due_ms":', s(due), "}\n", "",
    )
    lines = pc.if_else(pa.array(bad), pc.binary_join_element_wise(head, " \n", ""), full)
    if lines.offset != 0:
        raise RuntimeError("unexpected sliced Arrow array")
    offsets = np.frombuffer(lines.buffers()[1], dtype=np.int32)[: n + 1]
    data = memoryview(lines.buffers()[2])
    paths, dues = [], []
    for k in range(n_files):
        lo, hi = offsets[k * events_per_file], offsets[(k + 1) * events_per_file]
        p = os.path.join(out_dir, f"part-{k:05d}.jsonl")
        with open(p, "wb") as f:
            f.write(data[lo:hi])
        paths.append(p)
        dues.append(k * interval_ms)
    keep = ~bad & (LEVELS[level] != DROPPED_LEVEL)
    return LogFiles(paths, int((~bad).sum()), int(bad.sum()), ids[keep], dues)


def drop_one_line(path: str) -> None:
    """Remove the first line of a gzip NDJSON file in place (fault
    injection for the benchmark's own correctness test)."""
    with gzip.open(path, "rt") as f:
        lines = f.readlines()
    with gzip.open(path, "wt") as f:
        f.writelines(lines[1:])


# --- query_mix tables -----------------------------------------------------------

WORDS = np.array(
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window".split()
)
LANGS = np.array(["en", "es", "zh", "de", "fr"])
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
COLORS = np.array(["blue", "old", "small", "new", "large", "hot", "cold", "red"])
NOUNS = np.array(["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"])
P_TYPES = np.array(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"])
SEGMENTS = np.array(["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400_000_000
D1995_US = 788_918_400_000_000  # 1995-01-01
D2024_US = 1_704_067_200_000_000  # 2024-01-01


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables the registry keys read, one parquet file
    each, at scale ``sf`` (sf=0.01: 60 k lineitems, 10 k events).
    Returns the row count per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_ev = int(1_500_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(200, int(50_000 * sf)), max(200, int(50_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": SEGMENTS[rng.integers(0, 5, n_cust)],
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": np.char.add(
                np.char.add(COLORS[rng.integers(0, 8, n_part)], " "),
                NOUNS[rng.integers(0, 8, n_part)],
            ),
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": P_TYPES[rng.integers(0, 6, n_part)],
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    odate = D1995_US + rng.integers(0, 2404, n_ord) * DAY_US
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts(odate),
            "o_orderpriority": PRIORITIES[rng.integers(0, 5, n_ord)],
        }
    )
    per = rng.integers(1, 8, n_ord)
    lok = np.repeat(np.arange(n_ord, dtype=np.int64), per)
    n_li = len(lok)
    lnum = np.arange(n_li) - np.repeat(np.cumsum(per) - per, per) + 1
    order = rng.permutation(n_li)
    t["lineitem"] = pa.table(
        {
            "l_orderkey": lok[order],
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": pa.array(lnum[order], pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _ts(D1995_US + rng.integers(0, 2500, n_li) * DAY_US),
        }
    )
    ev_ts = D2024_US + np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(ev_ts),
            "user_id": rng.integers(0, max(50, n_ev // 70), n_ev),
            "event_type": EVENT_TYPES[rng.integers(0, 5, n_ev)],
            "value": np.round(rng.gamma(1.0, 50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    docs = []
    for i in range(n_doc):
        if i > 10 and rng.random() < 0.03:  # near-duplicate of an earlier doc
            words = docs[rng.integers(0, i)].split(" ")
            words[rng.integers(0, len(words))] = "dup"
            docs.append(" ".join(words))
        else:
            docs.append(" ".join(WORDS[rng.integers(0, len(WORDS), rng.integers(8, 90))]))
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": docs,
            "lang": LANGS[rng.choice(5, n_doc, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(d) for d in docs], dtype=np.int64),
        }
    )
    label = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 0.15, (10, 64))
    emb = (centers[label] + rng.normal(0, 0.08, (n_emb, 64))).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_emb, dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
    for name, tab in t.items():
        pq.write_table(tab, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tab.num_rows for name, tab in t.items()}
