"""Seeded generator for the tables the headline queries read.

The tables follow the schema and value domains of the repository's
TPC-H-like test data (region, nation, customer, orders, lineitem, events,
documents, embeddings), one single-row-group parquet file per table, so
`queries()[name](spark, sf_dir)` and `oracle_sql()[name]` run unchanged on
them. numpy + pyarrow only: the same (sf, seed) writes the same rows.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "orders", "lineitem", "events", "documents", "embeddings")

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
EMBED_DIM = 64

_DAY_US = 86_400 * 1_000_000


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _days_from(start: str, days: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us").astype("int64")
    return _ts(base + days.astype("int64") * _DAY_US)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(8, 100, n)
    words = rng.integers(0, len(VOCAB), int(lengths.sum()))
    vocab = np.array(VOCAB, dtype=object)
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(vocab[words[bounds[i] : bounds[i + 1]]]) for i in range(n)]
    # ~5% near-duplicates (an earlier document plus a marker word) and ~1%
    # reshuffled copies with the same word set, so the dedup, MinHash and
    # n-gram entries have groups to find
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in np.flatnonzero(rng.random(n) < 0.01):
        if i:
            src = texts[int(rng.integers(0, i))].split()
            texts[i] = " ".join(src[j] for j in rng.permutation(len(src)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts, type=pa.string()),
            "lang": pa.array([LANGS[k] for k in rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{k % 20}" for k in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
        }
    )


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table under `out_dir` as `<name>.parquet`; returns the
    row count per table."""
    rng = np.random.default_rng([seed, 20240101])
    n_cust = int(150_000 * sf)
    n_orders = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_events = int(1_000_000 * sf)
    n_users = max(int(15_000 * sf), 10)
    n_docs = int(50_000 * sf)
    n_vecs = int(20_000 * sf)

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(np.arange(5, dtype="int32")), "r_name": REGIONS}
    )
    nk = np.arange(25, dtype="int32")
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(nk),
            "n_name": [f"NATION_{k}" for k in nk],
            "n_regionkey": pa.array(nk % 5),
        }
    )
    ck = np.arange(n_cust, dtype="int64")
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(ck),
            "c_name": [f"Customer#{k:09d}" for k in ck],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pa.array(np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n_cust)]),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_orders, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype("int64")),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"], dtype=object)[rng.integers(0, 3, n_orders)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_orders)),
            "o_orderdate": _days_from("1995-01-01", rng.integers(0, 2404, n_orders)),
            "o_orderpriority": pa.array(np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, n_orders)]),
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n_line).astype("int64")),
            "l_partkey": pa.array(rng.integers(0, 200_000 * sf, n_line).astype("int64")),
            "l_suppkey": pa.array(rng.integers(0, 10_000 * sf, n_line).astype("int64")),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype("int32")),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype("float64")),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": pa.array(np.array(["A", "N", "R"], dtype=object)[rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array(np.array(["F", "O"], dtype=object)[rng.integers(0, 2, n_line)]),
            "l_shipdate": _days_from("1995-01-02", rng.integers(0, 2498, n_line)),
        }
    )
    t0 = np.datetime64("2024-01-01", "us").astype("int64")
    # whole seconds: `sessionize` compares gaps at second precision on the
    # Spark side (unix_timestamp) and at microsecond precision in its
    # oracle, so a fractional gap straddling 1800 s would split them
    ts = np.sort(rng.integers(0, 30 * 86_400, n_events)) * 1_000_000
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events, dtype="int64")),
            "ts": _ts(t0 + ts),
            "user_id": pa.array(rng.integers(0, n_users, n_events).astype("int64")),
            "event_type": pa.array(np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n_events)]),
            "value": pa.array(np.round(rng.exponential(50.0, n_events), 2)),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
        }
    )
    tables["documents"] = _documents(rng, n_docs)
    vecs = rng.normal(0.0, 0.1, (n_vecs, EMBED_DIM)).astype("float32")
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs, dtype="int64")),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), EMBED_DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, n_vecs).astype("int32")),
        }
    )

    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(table) or 1)
    return {name: len(t) for name, t in tables.items()}
