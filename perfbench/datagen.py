"""Seeded tables for the registry workload.

The same ten tables, column names and types as the engine's test data
(a TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``), at the size of its sf0.001 tier, generated from the
benchmark seed with numpy and written as one parquet file each. The
value shapes follow that data: a 30-word documents vocabulary with a
planted ``dup`` token, unit-norm 64-d embeddings in ten labels, events
over January 2024. About 8% of documents and of vectors are planted
near-duplicates of earlier ones, so the dedup and near-duplicate
queries have pairs to find.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")
SIZES = {"customer": 150, "supplier": 10, "part": 200, "orders": 1_500,
         "lineitem": 6_000, "events": 1_000, "documents": 500, "embeddings": 500}
USERS = 15
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "red", "blue", "hot", "big", "green", "cold", "old"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "plate", "nut", "pipe", "valve"]
PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "LARGE", "PROMO", "STANDARD"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
LANGS = ["en", "en", "en", "fr", "es", "zh", "de"]
VOCAB = ("scan column window order sort part agg value line key join merge group query a "
         "vector hash slow stream filter fast the batch spark table small data big customer "
         "row").split()
DIM = 64
NEAR_DUP_SHARE = 0.08  # documents and vectors planted as near-duplicates


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> pd.Series:
    t0, t1 = pd.Timestamp(start), pd.Timestamp(end)
    days = rng.integers(0, (t1 - t0).days, n)
    return pd.Series(t0 + pd.to_timedelta(days, unit="D")).astype("datetime64[us]")


def tables(seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    s = SIZES
    i32 = np.int32
    out = {
        "region": pd.DataFrame({"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS}),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(s["customer"], dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(s["customer"])],
            "c_nationkey": rng.integers(0, 25, s["customer"]).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, s["customer"]),
            "c_mktsegment": rng.choice(SEGMENTS, s["customer"]),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(s["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(s["supplier"])],
            "s_nationkey": rng.integers(0, 25, s["supplier"]).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, s["supplier"]),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(s["part"], dtype=np.int64),
            "p_name": [f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}"
                       for _ in range(s["part"])],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, s["part"])],
            "p_type": rng.choice(PART_TYPES, s["part"]),
            "p_size": rng.integers(1, 51, s["part"]).astype(i32),
            "p_retailprice": np.round(900 + (np.arange(s["part"]) % 1000) / 10, 2),
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(s["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, s["customer"], s["orders"]).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], s["orders"]),
            "o_totalprice": _money(rng, 1000, 500000, s["orders"]),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", s["orders"]),
            "o_orderpriority": rng.choice(PRIORITIES, s["orders"]),
        }),
    }
    n = s["lineitem"]
    qty = rng.integers(1, 51, n).astype(float)
    out["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, s["orders"], n).astype(np.int64),
        "l_partkey": rng.integers(0, s["part"], n).astype(np.int64),
        "l_suppkey": rng.integers(0, s["supplier"], n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n),
        "l_linestatus": rng.choice(["F", "O"], n),
        "l_shipdate": _days(rng, "1995-01-02", "2001-12-31", n),
    })
    n = s["events"]
    offsets = np.sort(rng.uniform(0, 30 * 86400, n))
    out["events"] = pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": (pd.Timestamp("2024-01-01") + pd.to_timedelta(offsets, unit="s"))
        .astype("datetime64[us]"),
        "user_id": rng.integers(0, USERS, n).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50, n), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    texts: list[str] = []
    for k in range(s["documents"]):
        if k and rng.random() < NEAR_DUP_SHARE:
            # near-duplicate of an earlier document: ~5% of tokens replaced
            words = texts[rng.integers(0, k)].split()
            for pos in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[pos] = rng.choice(VOCAB)
        else:
            words = list(rng.choice(VOCAB, rng.integers(10, 100)))
            if rng.random() < 0.06:
                words.append("dup")
        texts.append(" ".join(words))
    out["documents"] = pd.DataFrame({
        "doc_id": np.arange(s["documents"], dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, s["documents"]),
        "source": [f"src{k}" for k in rng.integers(0, 20, s["documents"])],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    n = s["embeddings"]
    labels = rng.integers(0, 10, n)
    centers = rng.normal(size=(10, DIM))
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n, DIM))
    # near-duplicate vectors: a small perturbation of an earlier one
    for k in np.flatnonzero(rng.random(n) < NEAR_DUP_SHARE):
        if k:
            src = rng.integers(0, k)
            vecs[k] = vecs[src] + rng.normal(scale=0.05, size=DIM)
            labels[k] = labels[src]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": list(vecs),
        "label": labels.astype(i32),
    })
    return out


def write(seed: int, directory: Path) -> dict[str, pd.DataFrame]:
    directory.mkdir(parents=True, exist_ok=True)
    data = tables(seed)
    for name, df in data.items():
        df.to_parquet(directory / f"{name}.parquet", index=False)
    return data
