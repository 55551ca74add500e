"""Seeded synthetic inputs in the shape of the star schema in TESTDATA.md.

Writes one parquet file per table (the same ten tables, column names and
types ``lakekeeper_spark.data.TABLES`` reads) under ``out_dir``. Row
counts follow the scale factor like TPC-H: ``sf=0.1`` gives 600k
lineitem rows, 150k orders, 100k events, 5000 documents and 2000
embeddings. The same ``seed`` gives byte-identical values.

Unlike the TESTDATA.md tables, ``(l_orderkey, l_linenumber)`` is unique — each
order has 1..7 lines numbered from 1 — so a MERGE on that key has at
most one target row per source row.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
COLORS = ["red", "blue", "hot", "cold", "old", "large", "small", "green"]
NOUNS = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

_DAY_US = 86_400_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"), type=pa.timestamp("us"))


def tpch_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 5)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 20)
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(SEGMENTS, n_cust),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": np.arange(n_part, dtype=np.int64),
                "p_name": [
                    f"{COLORS[a]} {NOUNS[b]}"
                    for a, b in zip(
                        rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(TYPES, n_part),
                "p_size": rng.integers(1, 51, n_part).astype(np.int32),
                "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
            }
        ),
    }
    o_date = order_dates(rng, n_ord)
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts(o_date),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = lineitem(rng, np.arange(n_ord, dtype=np.int64), o_date, n_part, n_supp)
    return out


def lineitem(
    rng: np.random.Generator,
    orderkeys: np.ndarray,
    order_dates: np.ndarray,
    n_part: int,
    n_supp: int,
) -> pa.Table:
    """1..7 lines per order, numbered from 1, so the key pair is unique."""
    lines = rng.integers(1, 8, len(orderkeys))
    okey = np.repeat(orderkeys, lines)
    starts = np.cumsum(lines) - lines
    lnum = (np.arange(len(okey)) - np.repeat(starts, lines) + 1).astype(np.int32)
    n_li = len(okey)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    return pa.table(
        {
            "l_orderkey": okey,
            "l_partkey": rng.integers(0, n_part, n_li),
            "l_suppkey": rng.integers(0, n_supp, n_li),
            "l_linenumber": lnum,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _ts(
                np.repeat(order_dates, lines) + rng.integers(1, 122, n_li) * _DAY_US
            ),
        }
    )


def order_dates(rng: np.random.Generator, n: int) -> np.ndarray:
    return _EPOCH_1995 + rng.integers(0, 2404, n) * _DAY_US


def llm_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_ev = max(int(1_000_000 * sf), 100)
    n_users = max(int(15_000 * sf), 10)
    n_docs = max(int(50_000 * sf), 20)
    n_vec = max(int(20_000 * sf), 20)
    ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    events = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": rng.integers(0, n_users, n_ev),
            "event_type": rng.choice(EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        words = rng.choice(VOCAB, int(rng.integers(10, 101)))
        texts.append(" ".join(words))
    documents = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vec).astype(np.int32),
        }
    )
    return {"events": events, "documents": documents, "embeddings": embeddings}


def write_tables(
    out_dir: str | Path, seed: int, sf: float, which: str = "all"
) -> dict[str, int]:
    """Generate and write the tables; returns {table: rows}. ``which`` is
    ``"tpch"`` (the eight TPC-H-shaped tables), or ``"all"``."""
    rng = np.random.default_rng(seed)
    tables = tpch_tables(rng, sf)
    if which == "all":
        tables.update(llm_tables(rng, sf))
    out = Path(out_dir)
    out.mkdir(parents=True, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, out / f"{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}
