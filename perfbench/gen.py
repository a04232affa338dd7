"""Seeded input generator for the benchmark.

Writes the ten fixture tables (``region`` … ``embeddings``) as parquet,
one row group each, with the exact arrow schema of the committed test
fixtures: int32/int64 keys, double money columns, ``timestamp[us]``
dates at midnight, ``list<element: float>`` embeddings. Value domains
and distributions follow the fixtures too (FIXTURES.md): uniform keys,
five market segments, three return flags, a 30-word document
vocabulary with 5% of documents being another document's text plus
``" dup"``, unit-norm 64-d embeddings.

The same ``(seed, Shape)`` always gives byte-identical files, so the
digest recorded per table identifies the input exactly.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_TS = pa.timestamp("us")

SCHEMAS: dict[str, pa.Schema] = {
    "region": pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    "nation": pa.schema([
        ("n_nationkey", pa.int32()), ("n_name", pa.string()),
        ("n_regionkey", pa.int32()),
    ]),
    "customer": pa.schema([
        ("c_custkey", pa.int64()), ("c_name", pa.string()),
        ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
        ("c_mktsegment", pa.string()),
    ]),
    "supplier": pa.schema([
        ("s_suppkey", pa.int64()), ("s_name", pa.string()),
        ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64()),
    ]),
    "part": pa.schema([
        ("p_partkey", pa.int64()), ("p_name", pa.string()),
        ("p_brand", pa.string()), ("p_type", pa.string()),
        ("p_size", pa.int32()), ("p_retailprice", pa.float64()),
    ]),
    "orders": pa.schema([
        ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
        ("o_orderdate", _TS), ("o_orderpriority", pa.string()),
    ]),
    "lineitem": pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", _TS),
    ]),
    "events": pa.schema([
        ("event_id", pa.int64()), ("ts", _TS), ("user_id", pa.int64()),
        ("event_type", pa.string()), ("value", pa.float64()),
        ("props", pa.string()),
    ]),
    "documents": pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
        ("source", pa.string()), ("n_chars", pa.int64()),
    ]),
    "embeddings": pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32()),
    ]),
}

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL")
PART_ADJ = ("blue", "old", "red", "hot", "cold", "large", "small", "new")
PART_NOUN = ("widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
VOCAB = (
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
)
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
DUP_FRAC = 0.05
EMBEDDING_DIM = 64


@dataclass(frozen=True)
class Shape:
    """Table sizes. ``sf`` scales the TPC-H-style tables and events the
    way the fixtures do (sf0.1 = 600k lineitem rows); documents and
    embeddings are sized separately, as in the fixtures."""

    sf: float
    documents: int
    embeddings: int


def _days(rng: np.random.Generator, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, domain: tuple[str, ...], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(domain), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(domain)
    ).cast(pa.string())


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng: np.random.Generator, n: int) -> dict[str, object]:
    # Lengths (10-100 words) and the duplicate count are fixed multisets
    # that the seed only permutes: the amount of pair work then varies
    # little from seed to seed, while which documents overlap does.
    lengths = rng.permutation(np.linspace(10, 100, n).round().astype(np.int64))
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    ends = np.cumsum(lengths)
    texts = [
        " ".join(VOCAB[w] for w in words[e - k:e]) for e, k in zip(ends, lengths)
    ]
    order = rng.permutation(n)
    n_dup = round(DUP_FRAC * n)
    originals = order[n_dup:]
    for i in order[:n_dup]:
        texts[i] = texts[rng.choice(originals)] + " dup"
    ids = np.arange(n)
    return {
        "doc_id": ids,
        "text": texts,
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": np.array([len(t) for t in texts], np.int64),
    }


def _embeddings(rng: np.random.Generator, n: int) -> dict[str, object]:
    vecs = rng.standard_normal((n, EMBEDDING_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * EMBEDDING_DIM + 1, EMBEDDING_DIM, dtype=np.int32))
    return {
        "vec_id": np.arange(n),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def build_tables(seed: int, shape: Shape) -> dict[str, pa.Table]:
    """All ten tables for one seed, in memory."""
    rng = np.random.default_rng(seed)
    n_cust = int(150_000 * shape.sf)
    n_supp = int(10_000 * shape.sf)
    n_part = int(200_000 * shape.sf)
    n_ord = int(1_500_000 * shape.sf)
    n_line = int(6_000_000 * shape.sf)
    n_ev = int(1_000_000 * shape.sf)
    n_users = int(15_000 * shape.sf)

    part_key = np.arange(n_part)
    ev_ts = np.sort(
        np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
        + rng.integers(0, 30 * 86_400_000_000, n_ev)
    ).astype("datetime64[us]")
    cols: dict[str, dict[str, object]] = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": list(REGIONS)},
        "nation": {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        },
        "customer": {
            "c_custkey": np.arange(n_cust),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        },
        "part": {
            "p_partkey": part_key,
            "p_name": pa.array([
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900.0 + (part_key % 1000) * 0.1, 2),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_line),
            "l_linestatus": _pick(rng, ("F", "O"), n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
        },
        "events": {
            "event_id": np.arange(n_ev),
            "ts": ev_ts,
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": _pick(rng, EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        },
        "documents": _documents(rng, shape.documents),
        "embeddings": _embeddings(rng, shape.embeddings),
    }
    return {
        t: pa.Table.from_pydict(cols[t], schema=SCHEMAS[t]) for t in TABLES
    }


def file_digest(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()[:16]


def generate(out_dir: str, seed: int, shape: Shape) -> dict[str, str]:
    """Write every table to ``out_dir/<table>.parquet``; return
    ``{table: sha256 prefix}`` of the written files."""
    os.makedirs(out_dir, exist_ok=True)
    digests = {}
    for name, table in build_tables(seed, shape).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path, compression="snappy", row_group_size=table.num_rows or 1)
        digests[name] = file_digest(path)
    return digests
