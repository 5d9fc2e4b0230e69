"""Deterministic generator for the benchmark's input corpus.

Writes the ten tables the engine reads (``glaciersgee_spark.tables``)
as single-file, single-row-group parquet, with the schemas and value
domains documented in FIXTURES.md: TPC-H-ish star schema, the
``events`` stream table, and the LLM-corpus ``documents`` and
``embeddings`` tables. Row counts follow the reference tiers, so
``sf=0.01`` gives 60 000 lineitem rows.

The corpus depends only on ``(sf, CORPUS_SEED)``; the workload seed
picks what runs over it, never the tables themselves, so every run of
every seed reads the same bytes.

    python3 perfbench/gen.py OUT_DIR [--sf 0.01]
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 42

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.43, 0.15, 0.14, 0.14]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
EMBED_DIM = 64

EVENTS_START = dt.datetime(2024, 1, 1)
EVENTS_SPAN_S = 30 * 86400


def _rows(base: int, sf: float, floor: int = 1) -> int:
    """Row count of a table whose sf0.01 tier has ``base`` rows."""
    return max(floor, int(round(base * sf / 0.01)))


def _days(rng, n: int, lo: dt.date, hi: dt.date) -> pa.Array:
    span = (hi - lo).days
    d = np.datetime64(lo, "us") + rng.integers(0, span + 1, n) * np.timedelta64(1, "D")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def build_tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(CORPUS_SEED)
    n_cust = _rows(1500, sf, 10)
    n_supp = _rows(100, sf, 5)
    n_part = _rows(2000, sf, 20)
    n_ord = _rows(15000, sf, 50)
    n_line = _rows(60000, sf, 200)
    n_ev = _rows(10000, sf, 200)
    n_users = max(15, n_ev * 3 // 200)
    n_docs = _rows(50, sf, 500)
    n_emb = _rows(20, sf, 500)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(SEGMENTS, n_cust).tolist(),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [
                f"{rng.choice(PART_ADJ)} {rng.choice(PART_NOUN)}" for _ in range(n_part)
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(PART_TYPES, n_part).tolist(),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n_ord, dt.date(1995, 1, 1), dt.date(2001, 8, 1)),
            "o_orderpriority": rng.choice(PRIORITIES, n_ord).tolist(),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line).tolist(),
            "l_linestatus": rng.choice(["F", "O"], n_line).tolist(),
            "l_shipdate": _days(rng, n_line, dt.date(1995, 1, 2), dt.date(2001, 11, 4)),
        }
    )

    # Events: strictly increasing timestamps over 30 days (exponential
    # gaps, µs precision), low-cardinality users, exponential values.
    gaps = rng.exponential(1.0, n_ev)
    offs_us = np.floor(np.cumsum(gaps) / gaps.sum() * (EVENTS_SPAN_S - 60) * 1e6)
    ts = np.datetime64(EVENTS_START, "us") + offs_us.astype(np.int64) * np.timedelta64(1, "us")
    t["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": rng.choice(EVENT_TYPES, n_ev).tolist(),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_ev)],
        }
    )

    # Documents: bags of engine words; one in twenty is a near copy of
    # an earlier document with one token replaced by "dup", so the
    # shingle-level dedup operators have clusters to find.
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = "dup"
        else:
            toks = rng.choice(VOCAB, int(rng.integers(10, 100))).tolist()
        texts.append(" ".join(toks))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": rng.choice(LANGS, n_docs, p=LANG_P).tolist(),
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(s) for s in texts], pa.int64()),
        }
    )

    vecs = rng.standard_normal((n_emb, EMBED_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return t


def write_corpus(out_dir: str, sf: float) -> None:
    """Write every table to ``out_dir/<name>.parquet`` (one row group)."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(sf).items():
        pq.write_table(
            table,
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
            compression="snappy",
        )


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("out_dir")
    p.add_argument("--sf", type=float, default=0.01)
    a = p.parse_args()
    write_corpus(a.out_dir, a.sf)


if __name__ == "__main__":
    main()
