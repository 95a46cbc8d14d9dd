"""Seeded synthetic inputs for the benchmark.

Writes the TPC-H-ish star schema, the ``events`` stream table and the
``documents`` / ``embeddings`` corpus as one Parquet file per table, with
the column names, types and value domains the engine's catalogs
(``spark_hbase_connector_spark.catalogs``) and registry queries expect.
Every table derives from ``numpy.random.default_rng([seed, table])``: the
same seed gives identical inputs, another seed gives different rows of the
same shape and size.

Row counts follow the scale factor ``sf`` (customer = 150,000 x sf,
orders = 1.5M x sf, lineitem = 6M x sf, ...); the corpus is sized
separately because its operators are quadratic in the number of documents.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "old", "new", "green"]
PART_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
EMBED_DIM = 64
EMBED_LABELS = 10

_DAY_US = 86_400_000_000


def _ts(base: str, offsets_us: np.ndarray) -> np.ndarray:
    return (np.datetime64(base, "us") + offsets_us.astype("timedelta64[us]")).astype(
        "datetime64[us]"
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, pdf: pd.DataFrame) -> str:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.Table.from_pandas(pdf, preserve_index=False), path)
    return path


def relational_tables(
    seed: int, sf: float, names: tuple[str, ...] | None = None
) -> dict[str, pd.DataFrame]:
    """The star schema plus ``events`` at scale ``sf``. Each table draws from
    its own stream ``default_rng([seed, i])``, so a subset (``names``) is
    generated without building the others."""
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))

    def region(rng):
        return pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})

    def nation(rng):
        return pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32),
            }
        )

    def customer(rng):
        return pd.DataFrame(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        )

    def supplier(rng):
        return pd.DataFrame(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        )

    def part(rng):
        adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
        return pd.DataFrame(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(PART_TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
            }
        )

    def orders(rng):
        return pd.DataFrame(
            {
                "o_orderkey": np.arange(n_ord, dtype=np.int64),
                "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
                "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * _DAY_US),
                "o_orderpriority": rng.choice(PRIORITIES, n_ord),
            }
        )

    def lineitem(rng):
        return pd.DataFrame(
            {
                "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
                "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
                "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
                "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
                "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
                "l_discount": rng.integers(0, 11, n_line) / 100.0,
                "l_tax": rng.integers(0, 9, n_line) / 100.0,
                "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                "l_linestatus": rng.choice(["F", "O"], n_line),
                "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_line) * _DAY_US),
            }
        )

    def events(rng):
        gaps = rng.exponential(26_000_000, n_evt).astype(np.int64) + 1
        return pd.DataFrame(
            {
                "event_id": np.arange(n_evt, dtype=np.int64),
                "ts": _ts("2024-01-01", np.cumsum(gaps)),
                "user_id": rng.integers(0, max(10, n_cust // 10), n_evt).astype(np.int64),
                "event_type": rng.choice(EVENT_TYPES, n_evt),
                "value": np.round(rng.exponential(50.0, n_evt), 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
            }
        )

    makers = [region, nation, customer, supplier, part, orders, lineitem, events]
    return {
        fn.__name__: fn(np.random.default_rng([seed, i]))
        for i, fn in enumerate(makers)
        if names is None or fn.__name__ in names
    }


def corpus_tables(
    seed: int, n_docs: int, n_vecs: int, dup_frac: float = 0.05
) -> dict[str, pd.DataFrame]:
    """Documents over a 30-word vocabulary (exactly a ``dup_frac`` share are
    an earlier document plus the token ``dup``: the near-duplicates the
    dedup operators must find) and unit-norm 64-d embeddings in 10
    clusters."""
    rng = np.random.default_rng([seed, 100])
    # a fixed multiset of lengths and an exact near-duplicate count: the
    # seed moves words and positions, not the amount of work
    lengths = rng.permutation(np.linspace(10, 100, n_docs).astype(int))
    texts = [" ".join(rng.choice(VOCAB, n)) for n in lengths]
    n_dups = int(n_docs * dup_frac)
    for i in np.sort(rng.choice(np.arange(1, n_docs), n_dups, replace=False)):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    documents = pd.DataFrame(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P),
            "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    centers = rng.normal(0.0, 1.0, (EMBED_LABELS, EMBED_DIM))
    labels = rng.permutation(np.arange(n_vecs) % EMBED_LABELS)
    vecs = centers[labels] + rng.normal(0.0, 0.8, (n_vecs, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pd.DataFrame(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": list(vecs),
            "label": labels.astype(np.int32),
        }
    )
    return {"documents": documents, "embeddings": embeddings}


def generate(
    out_dir: str, seed: int, sf: float, n_docs: int, n_vecs: int
) -> dict[str, int]:
    """Write every table under ``out_dir``; returns row counts per table."""
    os.makedirs(out_dir, exist_ok=True)
    tables = relational_tables(seed, sf)
    tables.update(corpus_tables(seed, n_docs, n_vecs))
    for name, pdf in tables.items():
        _write(out_dir, name, pdf)
    return {name: len(pdf) for name, pdf in tables.items()}
