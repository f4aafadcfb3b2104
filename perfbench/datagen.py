"""Synthetic input tables for the benchmark.

Writes the ten tables the query corpus reads (``region`` .. ``embeddings``)
as single-row-group parquet files, with the schemas and value
distributions of the engine's TPC-H-ish test corpus: uniform keys and
measures, a sorted event stream with exponential gaps, a 30-word
document vocabulary with 5% near-duplicates, and unit-norm 64-dim
embeddings. Row counts scale with ``sf`` the way that corpus does
(lineitem = 6M x sf).

The table *contents* depend only on ``sf``; the benchmark seed changes
row order (``permute``) and the order operations run in, never the
values, so every seed measures the same work.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

CONTENT_SEED = 42

LANDING_TABLES = (
    "region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events",
)

_VOCAB = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def _days(start: str, n: int, span: int, rng: np.random.Generator) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _labels(prefix: str, keys: np.ndarray) -> list[str]:
    return [f"{prefix}#{k:09d}" for k in keys.tolist()]


def _documents(n: int, rng: np.random.Generator) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = _VOCAB[rng.integers(0, len(_VOCAB), int(lengths.sum()))]
    cuts = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(words, cuts)]
    # 5% near-duplicates: another document's text plus one token
    for i in rng.choice(n, n // 20, replace=False).tolist():
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    # a few exact duplicate pairs
    for a, b in rng.choice(n, (8, 2), replace=False).tolist():
        texts[b] = texts[a]
    ids = np.arange(n, dtype=np.int64)
    return pa.table({
        "doc_id": ids,
        "text": texts,
        "lang": _LANGS[rng.choice(len(_LANGS), n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in ids.tolist()],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(n: int, rng: np.random.Generator) -> pa.Table:
    x = rng.standard_normal((n, 64)).astype(np.float32)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), 64).cast(
        pa.list_(pa.float32())
    )
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": emb,
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def build_tables(sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf`` (deterministic)."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = np.int32

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": np.arange(5, dtype=i32), "r_name": _REGIONS,
    })
    nk = np.arange(25, dtype=i32)
    t["nation"] = pa.table({
        "n_nationkey": nk, "n_name": [f"NATION_{k}" for k in nk.tolist()],
        "n_regionkey": nk % 5,
    })
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck, "c_name": _labels("Customer", ck),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n_cust)],
    })
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk, "s_name": _labels("Supplier", sk),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    t["part"] = pa.table({
        "p_partkey": pk, "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part).tolist()],
        "p_type": _PART_TYPES[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(i32),
        "p_retailprice": np.round(900 + (pk % 1000) / 10, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", n_ord, 2404, rng),
        "o_orderpriority": _PRIORITIES[rng.integers(0, 5, n_ord)],
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days("1995-01-02", n_li, 2498, rng),
    })
    gaps_us = rng.exponential(25.9e6, n_ev).astype(np.int64)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + np.cumsum(gaps_us).astype(
            "timedelta64[us]"
        ),
        "user_id": rng.integers(0, 1500, n_ev),
        "event_type": _EVENT_TYPES[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()],
    })
    t["documents"] = _documents(n_docs, rng)
    t["embeddings"] = _embeddings(n_emb, rng)
    return t


def write_parquet_dir(tables: dict[str, pa.Table], out_dir: str) -> None:
    """One single-row-group ``<name>.parquet`` file per table."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(
            table, os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
        )


def permute(table: pa.Table, seed: int) -> pa.Table:
    """The same rows in a seed-dependent order."""
    order = np.random.default_rng(seed).permutation(table.num_rows)
    return table.take(pa.array(order))


def write_landing_csvs(
    tables: dict[str, pa.Table], landing_dir: str, seed: int
) -> int:
    """Export the landing tables as header CSVs, rows permuted by
    ``seed``. Returns the bytes written."""
    os.makedirs(landing_dir, exist_ok=True)
    total = 0
    for i, name in enumerate(LANDING_TABLES):
        path = os.path.join(landing_dir, f"{name}.csv")
        pacsv.write_csv(permute(tables[name], seed * 101 + i), path)
        total += os.path.getsize(path)
    return total
