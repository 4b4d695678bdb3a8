"""Deterministic synthetic tables for the benchmark, shaped like the
engine's sf0.1 test corpus: the table names, column names, types and
value domains of FIXTURES.md section B, and the structure measured on
that corpus (see "Generated data" in perfbench/README.md): uniform
foreign keys, 5% of documents near-duplicates of another document with
one appended token, exponential event values, and unclustered unit
embeddings.

The tables are generated from a fixed data seed, so every benchmark seed
runs against identical bytes; the benchmark seed only selects which
inputs (op order, ingest slice, query order) the engine receives.

    write_tables(dst_dir, build_tables())          # every table
    build_tables(["lineitem"])["lineitem"]         # one table, same bytes

Every table lands as ``<dst_dir>/<table>.parquet`` (one file, one row
group), the layout ``sources.datasets.load`` reads.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

#: sf0.1 row counts of the engine's corpus
ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_WORDS = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
#: documents that copy another document and append DUP_TOKEN (5% of them)
DUP_SHARE = 0.05
DUP_TOKEN = "dup"

_DAY_US = 86_400_000_000
_EPOCH_1995 = 788_918_400_000_000  # 1995-01-01T00:00:00Z in µs
_EPOCH_2024 = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in µs


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _cents(rng: np.random.Generator, lo: int, hi: int, n: int) -> np.ndarray:
    """Prices as exact integer cents (the exact-sum checks rely on it)."""
    return rng.integers(lo, hi + 1, n, dtype=np.int64)


def _lineitem(rng: np.random.Generator, n: int) -> pa.Table:
    return pa.table(
        {
            "l_orderkey": rng.integers(0, ROWS["orders"], n, dtype=np.int64),
            "l_partkey": rng.integers(0, ROWS["part"], n, dtype=np.int64),
            "l_suppkey": rng.integers(0, ROWS["supplier"], n, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _cents(rng, 90_068, 10_499_991, n) / 100.0,
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
            "l_shipdate": _ts(_EPOCH_1995 + rng.integers(1, 2500, n, dtype=np.int64) * _DAY_US),
        }
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Uniform words from VOCAB, 10 to 100 per document. Then DUP_SHARE of
    the documents, in turn, become a copy of a random other document plus
    DUP_TOKEN: near-duplicate pairs, exact duplicates where two copies share
    a source, and a few chains, as in the corpus."""
    vocab = np.array(VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in rng.integers(10, 101, n)]
    for target in rng.choice(n, round(n * DUP_SHARE), replace=False):
        source = (target + rng.integers(1, n)) % n
        texts[target] = f"{texts[source]} {DUP_TOKEN}"
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)],
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    """Random unit vectors; the labels are uniform and carry no cluster."""
    labels = rng.integers(0, 10, n, dtype=np.int32)
    vecs = rng.standard_normal((n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": labels,
        }
    )


def _table(name: str, rng: np.random.Generator) -> pa.Table:
    r = ROWS
    n = r[name]
    if name == "region":
        return pa.table({"r_regionkey": np.arange(n, dtype=np.int32), "r_name": REGIONS})
    if name == "nation":
        return pa.table(
            {
                "n_nationkey": np.arange(n, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(n)],
                "n_regionkey": (np.arange(n) % 5).astype(np.int32),
            }
        )
    if name == "customer":
        return pa.table(
            {
                "c_custkey": np.arange(n, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n)],
                "c_nationkey": rng.integers(0, 25, n, dtype=np.int32),
                "c_acctbal": _cents(rng, -99_985, 999_980, n) / 100.0,
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
            }
        )
    if name == "supplier":
        return pa.table(
            {
                "s_suppkey": np.arange(n, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n)],
                "s_nationkey": rng.integers(0, 25, n, dtype=np.int32),
                "s_acctbal": _cents(rng, -97_602, 998_803, n) / 100.0,
            }
        )
    if name == "part":
        keys = np.arange(n, dtype=np.int64)
        return pa.table(
            {
                "p_partkey": keys,
                "p_name": [f"{PART_WORDS[a]} {PART_NOUNS[b]}" for a, b in rng.integers(0, 8, (n, 2))],
                "p_brand": [f"Brand#{i}" for i in rng.integers(0, 25, n)],
                "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)],
                "p_size": rng.integers(1, 51, n, dtype=np.int32),
                "p_retailprice": (90_000 + keys % 1000 * 10) / 100.0,
            }
        )
    if name == "orders":
        return pa.table(
            {
                "o_orderkey": np.arange(n, dtype=np.int64),
                "o_custkey": rng.integers(0, r["customer"], n, dtype=np.int64),
                "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
                "o_totalprice": _cents(rng, 100_191, 49_999_318, n) / 100.0,
                "o_orderdate": _ts(_EPOCH_1995 + rng.integers(0, 2404, n, dtype=np.int64) * _DAY_US),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n)],
            }
        )
    if name == "lineitem":
        return _lineitem(rng, n)
    if name == "events":
        return pa.table(
            {
                "event_id": np.arange(n, dtype=np.int64),
                "ts": _ts(_EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n, dtype=np.int64))),
                "user_id": rng.integers(0, 1500, n, dtype=np.int64),
                "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
                "value": np.round(rng.exponential(50.0, n), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
            }
        )
    if name == "documents":
        return _documents(rng, n)
    return _embeddings(rng, n)


def build_tables(names=tuple(ROWS), seed: int = DATA_SEED) -> dict[str, pa.Table]:
    """The named tables; each has its own random stream, so a table is the
    same whichever others are built with it."""
    return {name: _table(name, np.random.default_rng([seed, list(ROWS).index(name)])) for name in names}


def write_tables(dst_dir: str, tables: dict[str, pa.Table]) -> None:
    """Write each table as ``<dst_dir>/<name>.parquet``, one row group."""
    os.makedirs(dst_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(dst_dir, f"{name}.parquet"), row_group_size=1 << 30)
