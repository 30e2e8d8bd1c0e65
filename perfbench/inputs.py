"""Seeded input generators for the benchmark workloads.

Each generator writes its input files and returns the ground truth the
benchmark checks the program's output against. The program only ever
sees the written files. The same seed always yields the same bytes.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WC_VOCAB = 50_000
WC_ZIPF_S = 1.2
WC_TOKENS_PER_LINE = 20

SORT_VALUE_BYTES = 40


def _letters(i: int) -> str:
    """Bijective base-26 name for ``i`` (0 -> 'a', 25 -> 'z', 26 -> 'aa')."""
    s = ""
    i += 1
    while i:
        i, r = divmod(i - 1, 26)
        s = chr(97 + r) + s
    return s


def write_word_corpus(path: str, n_tokens: int, seed: int) -> Counter:
    """Write ``n_tokens`` words drawn Zipf(1.2) from a 50k-word
    vocabulary, 20 per line, into one file; return the exact per-word
    counts."""
    rng = np.random.default_rng(seed)
    vocab = np.array([_letters(i) for i in rng.permutation(WC_VOCAB)])
    weights = 1.0 / np.arange(1, WC_VOCAB + 1) ** WC_ZIPF_S
    ids = rng.choice(WC_VOCAB, size=n_tokens, p=weights / weights.sum())
    words = vocab[ids]
    with open(path, "w", encoding="ascii") as f:
        for i in range(0, n_tokens, WC_TOKENS_PER_LINE):
            f.write(" ".join(words[i : i + WC_TOKENS_PER_LINE]) + "\n")
    counts = np.bincount(ids, minlength=WC_VOCAB)
    return Counter({vocab[i]: int(c) for i, c in enumerate(counts) if c})


def record_digest(line: bytes) -> int:
    """Order-independent multiset checksum term of one ``k|v`` record."""
    return int.from_bytes(hashlib.blake2b(line, digest_size=8).digest(), "little")


def write_sort_records(path: str, n_records: int, seed: int) -> tuple[int, int]:
    """Write ``n_records`` unique 16-hex-char keys with 40-byte hex
    values as ``key|value`` lines into one file; return (count,
    multiset checksum)."""
    rng = np.random.default_rng(seed)
    keys = np.unique(rng.integers(0, 2**63, size=n_records, dtype=np.int64))
    while len(keys) < n_records:
        extra = rng.integers(0, 2**63, size=n_records - len(keys), dtype=np.int64)
        keys = np.unique(np.concatenate([keys, extra]))
    keys = rng.permutation(keys).tolist()
    values = rng.integers(0, 256, size=(n_records, SORT_VALUE_BYTES // 2), dtype=np.uint8)
    checksum = 0
    with open(path, "wb") as f:
        for key, value in zip(keys, values):
            line = b"%016x|%s" % (key, value.tobytes().hex().encode())
            checksum += record_digest(line)
            f.write(line + b"\n")
    return n_records, checksum % 2**64


# ---------------------------------------------------------------------------
# Star-schema + documents + events tables for the engine query mix. Shapes
# and value domains follow the repository's fixture schemas (FIXTURES.md)
# at roughly the sf0.01 row counts.
# ---------------------------------------------------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.44, 0.14, 0.14, 0.14, 0.14)

TABLE_ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: datetime, end: datetime, n: int) -> pa.Array:
    span = (end - start).days
    days = rng.integers(0, span + 1, n)
    return pa.array([start + timedelta(days=int(d)) for d in days], pa.timestamp("us"))


def _documents(rng, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(DOC_WORDS[j] for j in rng.integers(0, len(DOC_WORDS), k)))
    order = rng.permutation(n)
    texts = [texts[j] for j in order]
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": [LANGS[j] for j in rng.choice(len(LANGS), n, p=LANG_WEIGHTS)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def write_tables(out_dir: str, seed: int) -> int:
    """Write the ten engine tables as parquet under ``out_dir``;
    return the total bytes written."""
    rng = np.random.default_rng(seed)
    r = TABLE_ROWS
    n_c, n_s, n_p, n_o, n_l = (r[t] for t in ("customer", "supplier", "part", "orders", "lineitem"))
    i32, i64 = pa.int32(), pa.int64()
    tables = {
        "region": {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": list(REGIONS),
        },
        "nation": {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        },
        "customer": {
            "c_custkey": pa.array(np.arange(n_c), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_c)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_c), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_c),
            "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, n_c)],
        },
        "supplier": {
            "s_suppkey": pa.array(np.arange(n_s), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_s)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_s), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_s),
        },
        "part": {
            "p_partkey": pa.array(np.arange(n_p), i64),
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_p), rng.integers(0, 8, n_p))
            ],
            "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_p)],
            "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, n_p)],
            "p_size": pa.array(rng.integers(1, 51, n_p), i32),
            "p_retailprice": np.round(900 + (np.arange(n_p) % 1000) / 10, 2),
        },
        "orders": {
            "o_orderkey": pa.array(np.arange(n_o), i64),
            "o_custkey": pa.array(rng.integers(0, n_c, n_o), i64),
            "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_o)],
            "o_totalprice": _money(rng, 1000, 500000, n_o),
            "o_orderdate": _days(rng, datetime(1995, 1, 1), datetime(2001, 8, 1), n_o),
            "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, n_o)],
        },
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_o, n_l), i64),
            "l_partkey": pa.array(rng.integers(0, n_p, n_l), i64),
            "l_suppkey": pa.array(rng.integers(0, n_s, n_l), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_l), i32),
            "l_quantity": rng.integers(1, 51, n_l).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, n_l),
            "l_discount": np.round(rng.integers(0, 11, n_l) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_l) / 100, 2),
            "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_l)],
            "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_l)],
            "l_shipdate": _days(rng, datetime(1995, 1, 2), datetime(2001, 11, 4), n_l),
        },
    }
    n_e = r["events"]
    start = datetime(2024, 1, 1)
    offsets = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_e))
    tables["events"] = {
        "event_id": pa.array(np.arange(n_e), i64),
        "ts": pa.array([start + timedelta(microseconds=int(o)) for o in offsets], pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, n_e), i64),
        "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, n_e)],
        "value": _money(rng, 0.01, 490.0, n_e),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_e)],
    }
    tables["documents"] = _documents(rng, r["documents"])
    n_v = r["embeddings"]
    vecs = (rng.standard_normal((n_v, 64)) * 0.1).astype(np.float32)
    tables["embeddings"] = {
        "vec_id": pa.array(np.arange(n_v), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_v), i32),
    }
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, cols in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(pa.table(cols), path)
        total += os.path.getsize(path)
    return total
