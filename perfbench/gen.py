"""Seeded input generators.  The engine only ever sees what these write:
broker log files and parquet tables.  Each generator returns the truth the
output checks compare against.

Broker layout (sources/embedded_broker.py): ``<dir>/<topic>/p<N>/<name>.jsonl``,
one ``{"key": b64, "value": b64, "ts": ms}`` line per record, offsets in
file-name order.  Files are written under a temporary name and renamed
into place, so a reader never sees a partial file.
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import os
import random

import numpy as np

PARTITIONS = 4
MALFORMED_SHARE = 0.05
EPOCH_2024 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)

# ---------------------------------------------------------------------------
# Kafka envelopes
# ---------------------------------------------------------------------------


def envelope(rng: random.Random, rid: int) -> tuple[bytes, str | None]:
    """One record's value and its expected sink row (None when malformed).

    The expected row is what readJson -> extractJsonPaths -> setValues ->
    convertTimestamp (benchmark spec) must publish: ``id|user|n|ts_ms|doc_key``."""
    user = f"u{rng.randrange(5000):04d}"
    n = rng.randrange(1_000_000)
    ts_ms = int((EPOCH_2024.timestamp() + rng.randrange(30 * 86400)) * 1000) + rng.randrange(1000)
    ts = dt.datetime.fromtimestamp(ts_ms / 1000, tz=dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts_ms % 1000:03d}Z"
    text = json.dumps({"id": rid, "user": user, "n": n, "ts": ts, "msg": "x" * rng.randrange(8, 64)})
    if rng.random() < MALFORMED_SHARE:
        # cut inside the object: never parseable JSON
        return text[: rng.randrange(2, len(text) // 2)].encode(), None
    return text.encode(), f"{rid}|{user}|{n}|{ts_ms}|{user}-{n}"


class Topic:
    """Appends records to one 4-partition topic of the embedded broker's log."""

    def __init__(self, broker_dir: str, name: str):
        self.dirs = [os.path.join(broker_dir, name, f"p{p}") for p in range(PARTITIONS)]
        for d in self.dirs:
            os.makedirs(d, exist_ok=True)
        self.seq = 0

    def append(self, rows: list[tuple[int, bytes]], ts_ms: int) -> None:
        """Write one file per partition; record ``id`` goes to ``id % 4``."""
        parts: list[list[str]] = [[] for _ in range(PARTITIONS)]
        for rid, value in rows:
            parts[rid % PARTITIONS].append(
                json.dumps({"key": base64.b64encode(str(rid).encode()).decode(), "value": base64.b64encode(value).decode(), "ts": ts_ms})
            )
        name = f"{self.seq:012d}"
        self.seq += 1
        for d, lines in zip(self.dirs, parts):
            if lines:
                tmp = os.path.join(d, f".{name}.tmp")
                with open(tmp, "w", encoding="utf-8") as fh:
                    fh.write("\n".join(lines) + "\n")
                os.replace(tmp, os.path.join(d, f"{name}.jsonl"))


def fill_topic(broker_dir: str, name: str, seed: int, first_id: int, count: int, per_file: int) -> dict[int, tuple[bytes, str | None]]:
    """Preload ``count`` records, ``per_file`` per partition in each file;
    returns ``{id: (value, expected row)}``."""
    rng = random.Random(seed)
    topic = Topic(broker_dir, name)
    truth: dict[int, tuple[bytes, str | None]] = {}
    batch: list[tuple[int, bytes]] = []
    for rid in range(first_id, first_id + count):
        value, row = envelope(rng, rid)
        truth[rid] = (value, row)
        batch.append((rid, value))
        if len(batch) == per_file * PARTITIONS:
            topic.append(batch, 0)
            batch = []
    if batch:
        topic.append(batch, 0)
    return truth


def log_size(broker_dir: str, topic: str) -> tuple[int, int]:
    """(files, bytes) of one topic's log."""
    files = size = 0
    for root, _, names in os.walk(os.path.join(broker_dir, topic)):
        for n in names:
            if n.endswith(".jsonl"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def read_topic(broker_dir: str, topic: str) -> list[tuple[int, bytes, int]]:
    """Every record of a topic as (key as int, value, broker ts ms), read
    straight from the documented log layout, independent of the engine."""
    out = []
    for root, _, names in os.walk(os.path.join(broker_dir, topic)):
        for n in sorted(names):
            if not n.endswith(".jsonl"):
                continue
            with open(os.path.join(root, n), encoding="utf-8") as fh:
                for line in fh:
                    if line.strip():
                        rec = json.loads(line)
                        out.append((int(base64.b64decode(rec["key"])), base64.b64decode(rec["value"]), rec["ts"]))
    return out


# ---------------------------------------------------------------------------
# Corpus tables (the TPC-H-like star plus events/documents/embeddings that
# the plans.queries corpus reads), scaled by ``customers``
# ---------------------------------------------------------------------------

_ADJ = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "spring"]
_WORDS = (
    "a the and of to in is it key agg row scan slow fast table value part hash "
    "merge batch spark line sort window vector index query plan join stream"
).split()
_LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]


def _days(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    lo_d, hi_d = np.datetime64(lo, "D"), np.datetime64(hi, "D")
    return (lo_d + rng.integers(0, int((hi_d - lo_d).astype(np.int64)), n)).astype("datetime64[us]")


def write_tables(out_dir: str, seed: int, customers: int) -> None:
    """One parquet file per table, every table sized from ``customers``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)

    def put(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    n_orders, n_parts, n_supp = customers * 10, customers * 4 // 3, max(10, customers // 15)
    n_lines, n_users = n_orders * 4, max(20, customers // 10)
    put("region", {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    put("customer", {
        "c_custkey": np.arange(customers, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(customers)],
        "c_nationkey": rng.integers(0, 25, customers).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, customers), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], customers),
    })
    put("part", {
        "p_partkey": np.arange(n_parts, dtype=np.int64),
        "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in zip(rng.integers(0, 8, n_parts), rng.integers(0, 8, n_parts))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 6, n_parts)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"], n_parts),
        "p_size": rng.integers(1, 50, n_parts).astype(np.int32),
        "p_retailprice": np.round(rng.uniform(900, 2000, n_parts), 2),
    })
    put("orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, customers, n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(1000, 400000, n_orders), 2),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_orders),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders),
    })
    put("lineitem", {
        "l_orderkey": rng.integers(0, n_orders, n_lines).astype(np.int64),
        "l_partkey": rng.integers(0, n_parts, n_lines).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_lines).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_lines).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_lines).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, n_lines), 2),
        "l_discount": rng.integers(0, 11, n_lines) / 100.0,
        "l_tax": rng.integers(0, 9, n_lines) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_lines),
        "l_linestatus": rng.choice(["F", "O"], n_lines),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_lines),
    })
    n_events = n_users * 40
    base = np.datetime64("2024-01-01T00:00:00", "us")
    put("events", {
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": base + rng.integers(0, 30 * 86400 * 10**6, n_events).astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_events).astype(np.int64),
        "event_type": rng.choice(["view", "click", "purchase", "signup", "error"], n_events),
        "value": np.round(rng.uniform(0, 100, n_events), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_events)],
    })
    n_docs = customers
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i >= 10 and r < 0.05:
            # exact duplicate of an earlier doc up to case and spacing
            toks = texts[int(rng.integers(0, i))].upper().split() + [""]
        elif i >= 10 and r < 0.15:
            # near-duplicate of an earlier doc: one token changed
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = _WORDS[int(rng.integers(0, len(_WORDS)))]
        else:
            toks = [_WORDS[j] for j in rng.integers(0, len(_WORDS), int(rng.integers(10, 100)))]
        texts.append(" ".join(toks))
    put("documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    n_vecs = customers
    vecs = rng.normal(size=(n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_vecs).astype(np.int32),
    })
