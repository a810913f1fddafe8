"""Seeded input generation for the benchmark (numpy + pyarrow only).

Everything here is a pure function of its seed: the same seed writes
byte-identical parquet tables and JSONL event files. The tables follow
the schema of the engine's catalog (a TPC-H-like star schema plus
``events``, ``documents`` and ``embeddings``), one file and one row
group per table, as ``tables`` and ``plans.registry.t`` expect.

Nothing here imports Spark, so generation never counts as the
program's set-up time.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ORDER_STATUS = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

EVENT_EPOCH = dt.datetime(2024, 1, 1)
EVENT_DAYS = 30
ORDER_EPOCH = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2400

#: Row counts at scale factor 1.
SF1_ROWS = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per (seed, table) so adding a table
    never shifts another table's values."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def _n(sf: float, table: str) -> int:
    return max(1, int(round(SF1_ROWS[table] * sf)))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(epoch: dt.datetime, offsets) -> pa.Array:
    base = np.datetime64(epoch, "us")
    return pa.array(base + offsets.astype("timedelta64[D]"), pa.timestamp("us"))


def _pick(rng, values, n) -> pa.Array:
    idx = rng.integers(0, len(values), n)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(values)
    ).cast(pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The relational tables at scale factor ``sf`` (``events`` included)."""
    n_cust, n_supp, n_part = _n(sf, "customer"), _n(sf, "supplier"), _n(sf, "part")
    n_ord, n_line, n_ev = _n(sf, "orders"), _n(sf, "lineitem"), _n(sf, "events")
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    r = _rng(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust),
    })
    r = _rng(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp)),
    })
    r = _rng(seed, "part")
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": _pick(r, names, n_part),
        "p_brand": _pick(r, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(r, PART_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2)),
    })
    r = _rng(seed, "orders")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(r, ORDER_STATUS, n_ord),
        "o_totalprice": pa.array(_money(r, 1000, 500000, n_ord)),
        "o_orderdate": _days(ORDER_EPOCH, r.integers(0, ORDER_DAYS, n_ord)),
        "o_orderpriority": _pick(r, PRIORITIES, n_ord),
    })
    r = _rng(seed, "lineitem")
    qty = r.integers(1, 51, n_line).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line)),
        "l_partkey": pa.array(r.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(r.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_money(r, 900, 105000, n_line)),
        "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(r, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(r, ["F", "O"], n_line),
        "l_shipdate": _days(ORDER_EPOCH, r.integers(1, ORDER_DAYS + 100, n_line)),
    })
    out["events"] = event_table(seed, 0, n_ev)
    return out


def _event_columns(seed: int, first_id: int, n: int) -> dict:
    """Column arrays for events ``first_id .. first_id + n - 1``.

    Timestamps increase with ``event_id`` over ``EVENT_DAYS`` days, so a
    stream of consecutive id ranges is in event-time order.
    """
    r = _rng(seed, f"events:{first_id}")
    span_us = EVENT_DAYS * 86_400 * 1_000_000
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    step = span_us // max(SF1_ROWS["events"] // 10, 1)
    ts = ids * step + r.integers(0, step, n)
    return {
        "event_id": ids,
        "ts_us": ts % span_us,
        "user_id": r.integers(0, 1500, n),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, len(EVENT_TYPES), n)],
        "value": np.round(r.exponential(50.0, n), 2),
        "k": r.integers(0, 100, n),
    }


def event_table(seed: int, first_id: int, n: int) -> pa.Table:
    c = _event_columns(seed, first_id, n)
    base = np.datetime64(EVENT_EPOCH, "us")
    return pa.table({
        "event_id": pa.array(c["event_id"]),
        "ts": pa.array(base + c["ts_us"].astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(c["user_id"]),
        "event_type": pa.array(c["event_type"]),
        "value": pa.array(c["value"]),
        "props": pa.array([f'{{"k": {k}}}' for k in c["k"]]),
    })


#: ``ts`` text format of the JSONL event files (passed to
#: ``read_event_stream(timestamp_format=...)``).
STREAM_TS_FORMAT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def event_records(seed: int, first_id: int, n: int) -> list[tuple]:
    """The expected cleaned rows ``(event_id, user_id, event_type, value,
    k, hour)`` for events ``first_id .. first_id + n - 1``."""
    c = _event_columns(seed, first_id, n)
    hours = (c["ts_us"] // 3_600_000_000) % 24
    return list(zip(
        c["event_id"].tolist(), c["user_id"].tolist(), c["event_type"].tolist(),
        c["value"].tolist(), c["k"].tolist(), hours.tolist(),
    ))


def event_jsonl(seed: int, first_id: int, n: int) -> bytes:
    """Raw JSONL for the file-source stream: string ids and props, as
    the reference's Kinesis producer sends them."""
    c = _event_columns(seed, first_id, n)
    lines = []
    for i in range(n):
        ts = EVENT_EPOCH + dt.timedelta(microseconds=int(c["ts_us"][i]))
        lines.append(json.dumps({
            "event_id": str(c["event_id"][i]),
            "ts": ts.strftime("%Y-%m-%d %H:%M:%S.%f"),
            "user_id": str(c["user_id"][i]),
            "event_type": str(c["event_type"][i]),
            "value": float(c["value"][i]),
            "props": f'{{"k": {int(c["k"][i])}}}',
        }))
    return ("\n".join(lines) + "\n").encode()


def write_event_file(src_dir: str, index: int, payload: bytes) -> str:
    """Land one stream file atomically: write under a hidden name the
    file source ignores, then rename into place."""
    name = f"events-{index:06d}.json"
    tmp = os.path.join(src_dir, f".{name}.tmp")
    with open(tmp, "wb") as f:
        f.write(payload)
    final = os.path.join(src_dir, name)
    os.rename(tmp, final)
    return final


#: Words only low-quality documents contain: what the curation gate's
#: seed labels key on.
JUNK_WORDS = ["buy", "click", "free", "here", "now", "win"]


def document_table(seed: int, n_docs: int) -> pa.Table:
    """Documents of 10-100 words. Odd-numbered sources are low quality:
    about a third of their words are ``JUNK_WORDS``. One document in
    twenty is an exact copy of an earlier one plus a trailing marker
    word (near-duplicates for the dedup keys)."""
    r = _rng(seed, "documents")
    vocab, junk = np.array(WORDS), np.array(JUNK_WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 20 and r.random() < 0.05:
            texts.append(texts[int(r.integers(0, i))] + " dup")
            continue
        words = vocab[r.integers(0, len(vocab), int(r.integers(10, 101)))]
        if i % 2:
            noisy = r.random(len(words)) < 0.3
            words[noisy] = junk[r.integers(0, len(junk), int(noisy.sum()))]
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(r, LANGS, n_docs),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


#: Embedding dimension and number of cluster centres of ``embeddings``.
EMBEDDING_DIM = 64
EMBEDDING_LABELS = 10


def embedding_table(seed: int, n_vecs: int) -> pa.Table:
    """Unit vectors around ``EMBEDDING_LABELS`` weak cluster centres."""
    r = _rng(seed, "embeddings")
    dim = EMBEDDING_DIM
    labels = r.integers(0, EMBEDDING_LABELS, n_vecs)
    centres = r.normal(0, 1, (EMBEDDING_LABELS, dim))
    x = centres[labels] * 0.6 + r.normal(0, 1, (n_vecs, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel())
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_vecs * dim + 1, dim, dtype=np.int32)), flat
        ),
        "label": pa.array(labels.astype(np.int32)),
    })


def write_catalog(
    out_dir: str, seed: int, *, sf: float, n_docs: int, n_vecs: int
) -> dict[str, int]:
    """Write the catalog tables under ``out_dir`` as ``<name>.parquet``
    and return their row counts."""
    os.makedirs(out_dir, exist_ok=True)
    tables = star_tables(seed, sf)
    tables["documents"] = document_table(seed, n_docs)
    tables["embeddings"] = embedding_table(seed, n_vecs)
    for name, table in tables.items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(table.num_rows, 1),
        )
    return {name: table.num_rows for name, table in tables.items()}
