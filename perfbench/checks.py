"""Pipeline output checks, run outside every timed region.

Each pipeline's stdout summary is checked two ways: against DuckDB
counts of the same predicates over the input parquet, and against the
rows actually written, read back with DuckDB rather than Spark. (Query
outputs go through the repository's own ``tests.parity.compare``.)
"""

from __future__ import annotations

import glob
import hashlib

import duckdb

REPORT_PARTS = {
    "cards": "q_e_summary_card",
    "dup_sizes": "q_e_dup_sizes",
    "len_buckets": "q_e_len_buckets",
    "funnel": "q_e_curation_funnel",
}


def _count_written(con: duckdb.DuckDBPyConnection, pattern: str, expr: str = "count(*)"):
    if not glob.glob(pattern):
        return 0
    return con.sql(f"SELECT {expr} FROM read_parquet('{pattern}')").fetchone()[0]


def check_scene(con, corpus: str, cfg: dict, done_ids: set[int], summary: dict,
                out_dir: str) -> str | None:
    """The scene manifest: selection, pending work list and written rows."""
    types = cfg.get("event_types") or []
    type_pred = (
        "AND event_type IN (" + ",".join(f"'{t}'" for t in types) + ")" if types else ""
    )
    rows = con.sql(
        f"""
        SELECT event_id, user_id FROM (
          SELECT event_id, user_id, row_number() OVER (
                   PARTITION BY user_id, date_trunc('day', ts)
                   ORDER BY value, event_id) AS rn
          FROM read_parquet('{corpus}/events.parquet')
          WHERE ts >= TIMESTAMP '{cfg["date_start"]}'
            AND ts < TIMESTAMP '{cfg["date_end"]}'
            AND value <= {float(cfg["max_quality"])} {type_pred})
        WHERE rn = 1
        """
    ).fetchall()
    pending = [(e, u) for e, u in rows if e not in done_ids]
    want = {
        "selected": len(rows),
        "pending": len(pending),
        "cells": len({u for _, u in pending}),
    }
    got = {k: summary.get(k) for k in want}
    if got != want:
        return f"scene summary {got} != duckdb {want}"
    written = (
        _count_written(con, f"{out_dir}/*/*.parquet"),
        _count_written(con, f"{out_dir}/*/*.parquet", "count(DISTINCT user_id)"),
    )
    if written != (want["pending"], want["cells"]):
        return f"scene written (rows, cells) {written} != {(want['pending'], want['cells'])}"
    return None


def _split_of(doc_id: int, train_pct: int, val_pct: int) -> str:
    bucket = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 100
    if bucket < train_pct:
        return "train"
    return "val" if bucket < train_pct + val_pct else "test"


def check_corpus(con, corpus: str, cfg: dict, summary: dict, out_dir: str) -> str | None:
    """The cleaned corpus: quality filter, canonical dedup, split counts."""
    kept = con.sql(
        f"""
        SELECT min(doc_id) FROM (
          SELECT doc_id, lang, source, n_chars,
                 len(string_split(text, ' ')) AS n,
                 len(list_distinct(string_split(text, ' '))) AS d
          FROM read_parquet('{corpus}/documents.parquet'))
        WHERE n >= {int(cfg["min_tokens"])} AND n <= {int(cfg["max_tokens"])}
          AND d::DOUBLE / n > {float(cfg["min_distinct_ratio"])}
        GROUP BY lang, source, n_chars
        """
    ).fetchall()
    by_split: dict[str, int] = {}
    for (doc_id,) in kept:
        s = _split_of(doc_id, int(cfg["train_pct"]), int(cfg["val_pct"]))
        by_split[s] = by_split.get(s, 0) + 1
    n_in = con.sql(f"SELECT count(*) FROM read_parquet('{corpus}/documents.parquet')").fetchone()[0]
    want = {"input_docs": n_in, "kept_docs": len(kept), "by_split": by_split}
    got = {k: summary.get(k) for k in want}
    if got != want:
        return f"corpus summary {got} != duckdb {want}"
    files = f"{out_dir}/split=*/*.parquet"
    written = dict(
        con.sql(
            f"SELECT split, count(*) FROM read_parquet('{files}', hive_partitioning=true) "
            "GROUP BY split"
        ).fetchall()
    ) if glob.glob(files) else {}
    if written != by_split:
        return f"corpus written {written} != {by_split}"
    return None


def report_expected(oracle: dict[str, str], con) -> dict[str, int]:
    """Row counts of the four report tables, from their oracle SQL."""
    return {
        part: con.sql(f"SELECT count(*) FROM ({oracle[q]})").fetchone()[0]
        for part, q in REPORT_PARTS.items()
    }


def check_report(con, want: dict[str, int], summary: dict, out_dir: str) -> str | None:
    """The curation report: each table's count, printed and written."""
    got = {k: summary.get(k) for k in want}
    if got != want:
        return f"report summary {got} != duckdb {want}"
    written = {k: _count_written(con, f"{out_dir}/{k}/*.parquet") for k in want}
    if written != want:
        return f"report written {written} != {want}"
    return None
