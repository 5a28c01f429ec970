"""Deterministic synthetic tables for the benchmark.

Writes the ten tables the query registry reads (``region nation customer
supplier part orders lineitem events documents embeddings``, one parquet
file each) at a given scale factor, with the schemas and value ranges of
the TPC-H-ish star schema the queries were written against.  The output
depends only on ``(sf, seed)``, so every checkout builds byte-identical
inputs.

Usage: python3 perfbench/datagen.py <out_dir> <sf> [seed]
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

ORDER_EPOCH = np.datetime64("1995-01-01", "us")
SHIP_EPOCH = np.datetime64("1995-01-02", "us")
EVENT_EPOCH = np.datetime64("2024-01-01", "us")
DAY_US = 86_400_000_000
EVENT_SPAN_US = 30 * DAY_US


def _write(out: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def generate(out: str, sf: float, seed: int = 42) -> dict[str, int]:
    """Write every table under ``out``; returns table -> row count."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(150, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": REGIONS,
    })
    nk = np.arange(25)
    _write(out, "nation", {
        "n_nationkey": pa.array(nk, pa.int32()),
        "n_name": [f"NATION_{i}" for i in nk],
        "n_regionkey": pa.array(nk % 5, pa.int32()),
    })
    ck = np.arange(n_cust)
    _write(out, "customer", {
        "c_custkey": pa.array(ck, pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng.uniform(-1000, 10000, n_cust)),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    sk = np.arange(n_supp)
    _write(out, "supplier", {
        "s_suppkey": pa.array(sk, pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng.uniform(-1000, 10000, n_supp)),
    })
    pk = np.arange(n_part)
    names = np.array([f"{a} {n}" for a in PART_ADJ for n in PART_NOUN])
    _write(out, "part", {
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (pk % 1000) * 0.1, 1),
    })
    ok = np.arange(n_ord)
    _write(out, "orders", {
        "o_orderkey": pa.array(ok, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng.uniform(1000, 500000, n_ord)),
        "o_orderdate": ORDER_EPOCH
        + rng.integers(0, 2405, n_ord) * np.timedelta64(1, "D"),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    _write(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _cents(rng.uniform(900, 105000, n_line)),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": SHIP_EPOCH
        + rng.integers(0, 2499, n_line) * np.timedelta64(1, "D"),
    })
    # events: one sorted stream spread over 30 days, whatever the scale
    offs = np.sort(rng.integers(0, EVENT_SPAN_US, n_ev))
    _write(out, "events", {
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(EVENT_EPOCH + offs.astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _cents(rng.exponential(50.0, n_ev)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # documents: random word streams; one in twenty is a near-duplicate
    # (another document's text plus a trailing " dup") and a few are
    # exact duplicates, so the dedup operators have work to find
    vocab = np.array(VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
        for _ in range(n_docs)
    ]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[rng.integers(0, n_docs)] + " dup"
    for i in rng.integers(0, n_docs, max(2, n_docs // 600)):
        texts[rng.integers(0, n_docs)] = texts[i]
    dk = np.arange(n_docs)
    _write(out, "documents", {
        "doc_id": pa.array(dk, pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in dk],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part,
        "orders": n_ord, "lineitem": n_line, "events": n_ev,
        "documents": n_docs, "embeddings": n_vecs,
    }


if __name__ == "__main__":
    generate(
        sys.argv[1],
        float(sys.argv[2]),
        int(sys.argv[3]) if len(sys.argv) > 3 else 42,
    )
