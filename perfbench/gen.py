"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives the same
files and the same expected-outcome ledger.  The program under test only ever
sees the parquet files written from these plans.

Stream inputs use ONE parquet layout for both planes (records and batch
notifications, told apart by ``kind``), read through one file source.  Two
sources would let a record file be listed in an earlier trigger than the
``started`` notification written before it, which makes the expected routing
depend on listing order instead of on the seed.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_HEADERS = pa.list_(pa.struct([("key", pa.string()), ("value", pa.binary())]))

STREAM_SCHEMA = pa.schema(
    [
        ("kind", pa.string()),
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("headers", _HEADERS),
        ("time_ms", pa.int64()),
        ("seq", pa.int64()),
        ("id", pa.string()),
        ("name", pa.string()),
        ("topic", pa.string()),
        ("dataType", pa.string()),
        ("status", pa.string()),
        ("expectedRecordCount", pa.int32()),
        ("invalidThreshold", pa.int32()),
    ]
)

RECORD_COLS = ["key", "value", "headers", "time_ms", "seq"]
CONTROL_COLS = [
    "id", "name", "topic", "dataType", "status",
    "expectedRecordCount", "invalidThreshold", "time_ms", "seq",
]

# Share of batches per fate.  ``failed`` batches declare fewer records than
# they send (overcount); ``terminated`` batches are closed by a terminate
# notification, for which the job emits nothing.
FATES = (("completed", 0.8), ("failed", 0.1), ("terminated", 0.1))
OVERCOUNT = 3


@dataclass
class Ledger:
    """What the routed output must contain once every input is processed."""

    status: dict[str, str | None] = field(default_factory=dict)  # batch -> terminal
    out: dict[str, int] = field(default_factory=dict)  # batch -> records on .out
    unknown_invalid: int = 0  # records of never-started batches -> .invalid

    def totals(self) -> dict[str, int]:
        return {
            "out": sum(self.out.values()),
            "invalid": self.unknown_invalid,
            "notification": sum(1 for s in self.status.values() if s),
        }

    def merge(self, other: "Ledger") -> None:
        self.status.update(other.status)
        self.out.update(other.out)
        self.unknown_invalid += other.unknown_invalid


class _Rows:
    """Column buffers for one stream file."""

    def __init__(self):
        self.cols: dict[str, list] = {f.name: [] for f in STREAM_SCHEMA}

    def control(self, bid: str, status: str, expected: int | None, t: int, seq: int):
        row = dict.fromkeys(self.cols)
        row.update(
            kind="control", id=bid, name=f"batch {bid}", topic="ingest.bench.in",
            dataType="bench", status=status, expectedRecordCount=expected,
            invalidThreshold=-1, time_ms=t, seq=seq,
        )
        for k, v in row.items():
            self.cols[k].append(v)

    def records(self, fseq: int, bids: list[str], values: list[bytes], t: int, seq0: int):
        n = len(bids)
        c = self.cols
        c["kind"] += ["data"] * n
        c["key"] += [f"{fseq}:{i}".encode() for i in range(n)]
        c["value"] += values
        c["headers"] += [[{"key": "batchId", "value": b.encode()}] for b in bids]
        c["time_ms"] += [t] * n
        c["seq"] += range(seq0, seq0 + n)
        for k in CONTROL_COLS[:-2]:
            c[k] += [None] * n

    def table(self) -> pa.Table:
        return pa.table(self.cols, schema=STREAM_SCHEMA)


def _payloads(rng: np.random.Generator, n: int) -> list[bytes]:
    """Opaque JSON bodies of varied width (the job routes them byte-for-byte)."""
    a = rng.integers(0, 1 << 30, n)
    w = rng.integers(8, 120, n)
    return [
        json.dumps({"id": int(x), "pad": "x" * int(k)}).encode()
        for x, k in zip(a, w)
    ]


def _fate(rng: np.random.Generator) -> str:
    names = [f for f, _ in FATES]
    return names[rng.choice(len(FATES), p=[p for _, p in FATES])]


def _close(rows: _Rows, ledger: Ledger, bid: str, fate: str, sent: int, t: int, seq: int):
    """Emit the closing notification of a batch that sent *sent* records."""
    if fate == "terminated":
        rows.control(bid, "terminated", None, t, seq)
        ledger.status[bid] = None
    else:
        declared = sent - OVERCOUNT if fate == "failed" else sent
        rows.control(bid, "sendCompleted", declared, t, seq)
        # a batch with zero declared records never emits a terminal status
        ledger.status[bid] = fate if declared > 0 or fate == "failed" else None
    ledger.out[bid] = sent


def write_atomic(table: pa.Table, path: str) -> None:
    """Write then rename, so a file source never lists a half-written file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, path)


# ---------------------------------------------------------------------------
# stream_steady: an open-loop schedule of small files
# ---------------------------------------------------------------------------
@dataclass
class SteadyPlan:
    tick_s: float
    tables: list[pa.Table]  # file k is due at start + k * tick_s
    ledger: Ledger
    n_records: int
    close_tick: dict[str, int]  # batch -> file holding its closing row


def steady_plan(
    seed: int,
    rate: int,
    seconds: float,
    tick_s: float = 0.1,
    open_batches: int = 24,
    median_batch: int = 80,
    unknown_share: float = 0.02,
) -> SteadyPlan:
    """Files for an open loop at *rate* records/s over *seconds*.

    About *open_batches* batches are open at once, with log-normal (skewed)
    sizes.  Each runs ``started`` -> records -> closing notification: the
    ``started`` row goes out one tick before its first record and the closing
    row one tick after its last.  A share of records names batches that are
    never started.  Batches still open when the schedule ends send no closing
    notification.

    Each closing notification costs the job a timer and a terminal row, so
    closures per trigger drive its cost.  The batches open at the start take
    a uniform share of a drawn size, as if they had been running for a while:
    were they all new, their closures would come in waves that take tens of
    seconds to even out."""
    rng = np.random.default_rng(seed)
    n_ticks = max(1, int(round(seconds / tick_s)))
    per_tick = max(1, int(round(rate * tick_s)))
    ledger = Ledger()
    unknown_ids = [f"u{seed}-{i}" for i in range(4)]
    next_id = 0
    # bid -> [size, sent, fate, active]
    batches: dict[str, list] = {}
    seq = 0
    tables = []
    n_records = 0
    close_tick: dict[str, int] = {}

    def open_batch(rows: _Rows, t: int, share: float = 1.0) -> None:
        nonlocal next_id, seq
        bid = f"s{seed}-{next_id}"
        next_id += 1
        size = rng.lognormal(np.log(median_batch), 0.5)
        size = int(np.clip(share * size, 10, 5 * median_batch))
        batches[bid] = [size, 0, _fate(rng), False]
        rows.control(bid, "started", None, t, seq)
        seq += 1

    for k in range(n_ticks):
        rows = _Rows()
        t = k * int(tick_s * 1000)
        for bid in [b for b, s in batches.items() if s[3] and s[1] >= s[0]]:
            size, sent, fate, _ = batches.pop(bid)
            _close(rows, ledger, bid, fate, sent, t, seq)
            close_tick[bid] = k
            seq += 1
        for s in batches.values():
            s[3] = True  # records may flow from the tick after ``started``
        while len(batches) < open_batches:
            open_batch(rows, t, rng.uniform() if k == 0 else 1.0)
        active = [b for b, s in batches.items() if s[3]]
        n_unknown = int(rng.binomial(per_tick, unknown_share))
        picks = list(rng.choice(active, per_tick - n_unknown)) if active else []
        bids = []
        for b in picks:
            s = batches[b]
            if s[1] < s[0]:
                s[1] += 1
                bids.append(b)
        bids += [unknown_ids[i] for i in rng.integers(0, len(unknown_ids), n_unknown)]
        ledger.unknown_invalid += n_unknown
        rng.shuffle(bids)
        rows.records(k, bids, _payloads(rng, len(bids)), t, seq)
        seq += len(bids)
        n_records += len(bids)
        tables.append(rows.table())
    for bid, (size, sent, fate, _) in batches.items():
        ledger.status[bid] = None
        ledger.out[bid] = sent
    return SteadyPlan(tick_s, tables, ledger, n_records, close_tick)


# ---------------------------------------------------------------------------
# a staged backlog
# ---------------------------------------------------------------------------
def backlog(
    seed: int,
    round_no: int,
    n_records: int,
    n_files: int,
    n_batches: int = 48,
    unknown_share: float = 0.01,
) -> tuple[list[pa.Table], Ledger]:
    """One backlog of about *n_records* records in *n_files* files.

    File 0 carries every ``started`` row, the last file every closing row, and
    the records of each batch are spread over all files in between."""
    rng = np.random.default_rng([seed, round_no])
    ledger = Ledger()
    sizes = rng.lognormal(0.0, 1.0, n_batches)
    sizes = np.maximum(1, (sizes / sizes.sum() * n_records * (1 - unknown_share)).astype(int))
    bids = [f"d{seed}-{round_no}-{i}" for i in range(n_batches)]
    fates = [_fate(rng) for _ in bids]
    n_unknown = int(n_records * unknown_share)
    unknown = [f"du{seed}-{round_no}-{i}" for i in range(8)]
    stream = np.concatenate(
        [np.repeat(np.arange(n_batches), sizes), np.full(n_unknown, -1)]
    )
    rng.shuffle(stream)
    labels = [bids[i] if i >= 0 else unknown[j % len(unknown)] for j, i in enumerate(stream)]
    ledger.unknown_invalid = n_unknown
    chunks = np.array_split(np.arange(len(labels)), n_files)
    seq = 0
    tables = []
    for f, idx in enumerate(chunks):
        rows = _Rows()
        t = f * 10
        if f == 0:
            for bid in bids:
                rows.control(bid, "started", None, t, seq)
                seq += 1
        chunk = [labels[i] for i in idx]
        rows.records(round_no * 100_000 + f, chunk, _payloads(rng, len(chunk)), t + 1, seq)
        seq += len(chunk)
        if f == n_files - 1:
            for bid, fate, size in zip(bids, fates, sizes):
                _close(rows, ledger, bid, fate, int(size), t + 2, seq)
                seq += 1
        tables.append(rows.table())
    return tables, ledger


# ---------------------------------------------------------------------------
# query_mix: the TESTDATA.md table set, scaled by *sf*
# ---------------------------------------------------------------------------
_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_ADJ = "blue hot large small red cold green fast".split()
_NOUN = "anvil bolt ring widget gear nut screw spring".split()


def _ts(rng, lo: dt.datetime, hi: dt.datetime, n: int, unit: str = "D") -> np.ndarray:
    lo64, hi64 = np.datetime64(lo, unit), np.datetime64(hi, unit)
    span = int((hi64 - lo64).astype(int))
    return (lo64 + rng.integers(0, span + 1, n)).astype("datetime64[us]")


# Money-like columns hold multiples of 1/4 and rates multiples of 1/32: every
# product and sum the queries take is then exact in binary floating point, so
# its value, and the rounding both engines apply to it, cannot depend on the
# order in which Spark and DuckDB add the rows.
def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n) * 4) / 4


def write_tables(seed: int, out_dir: str, sf: float = 0.01) -> dict[str, int]:
    """Write the ten TESTDATA.md tables at scale *sf* under *out_dir*; returns
    row counts.  Value domains follow those tables, so every
    registered query has rows to work on."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = {
        "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
        "part": int(200_000 * sf), "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf), "events": int(1_000_000 * sf),
        "documents": max(50, int(50_000 * sf)), "embeddings": max(50, int(50_000 * sf)),
    }
    users = max(10, int(15_000 * sf))
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    c = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": rng.integers(0, 25, c).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], c),
    })
    s = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": rng.integers(0, 25, s).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, s),
    })
    p = n["part"]
    t["part"] = pa.table({
        "p_partkey": np.arange(p, dtype=np.int64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, p), rng.choice(_NOUN, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], p),
        "p_size": rng.integers(1, 51, p).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 1),
    })
    o = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype=np.int64),
        "o_custkey": rng.integers(0, c, o).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], o),
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _ts(rng, dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), o),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o),
    })
    li = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li).astype(np.int64),
        "l_partkey": rng.integers(0, p, li).astype(np.int64),
        "l_suppkey": rng.integers(0, s, li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, li).astype(np.float64),
        "l_extendedprice": rng.integers(900, 105_001, li).astype(np.float64),
        "l_discount": rng.integers(0, 4, li) / 32.0,
        "l_tax": rng.integers(0, 3, li) / 32.0,
        "l_returnflag": rng.choice(["A", "N", "R"], li),
        "l_linestatus": rng.choice(["F", "O"], li),
        "l_shipdate": _ts(rng, dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), li),
    })
    e = n["events"]
    span_us = 30 * 86_400 * 1_000_000
    gaps = rng.exponential(span_us / e, e).astype(np.int64) + 1
    t["events"] = pa.table({
        "event_id": np.arange(e, dtype=np.int64),
        "ts": np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
        "user_id": rng.integers(0, users, e).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], e),
        "value": np.maximum(1, np.round(rng.exponential(50.0, e) * 32)) / 32,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts = [" ".join(rng.choice(_VOCAB, int(k))) for k in rng.integers(10, 100, d)]
    for i in rng.choice(np.arange(1, d), max(1, d // 50), replace=False):
        # near-duplicates (one word swapped) and a few exact copies, so the
        # dedup families find clusters
        words = texts[int(rng.integers(0, i))].split()
        if rng.random() < 0.7:
            words[int(rng.integers(0, len(words)))] = str(rng.choice(_VOCAB))
        texts[i] = " ".join(words)
    t["documents"] = pa.table({
        "doc_id": np.arange(d, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], d, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    m = n["embeddings"]
    labels = rng.integers(0, 10, m)
    centers = rng.normal(0.0, 1.0, (10, 64))
    centers *= 0.14 / np.linalg.norm(centers, axis=1, keepdims=True)
    x = centers[labels] + rng.normal(0.0, 0.125, (m, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype=np.int64),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}
