"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over glaciersgee_spark: ``entry`` runs the flagship
pricing-summary query; ``queries``/``oracle_sql`` re-export the
registry populated by the operator modules (SURVEY.md §2 inventory).

Dict ordering: the driver's CORRECTNESS pass checks only the first ~50
entries of queries() in iteration order, so the order decides which
queries gain driver-side evidence each round. One rule sets it, read
from the driver's own ``CORRECTNESS_r{N}.json`` files next to this
module: each query scores the number of the latest round in which its
row passed (rows, schema and hash all match, no error), or 0 when it
has no row or its latest row failed, and the registry is sorted by
(score, registry index). The least recently verified-green queries
therefore come first, and each landed round moves the queries it
verified to the back without any edit here. Local parity
(tests/run_parity.py) covers the full inventory every round regardless
of the driver cap (the registry itself is the count of record).
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from pathlib import Path
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession

import glaciersgee_spark

_V = TypeVar("_V")

_HERE = Path(__file__).resolve().parent


def _last_green(evidence: Path) -> dict[str, int]:
    """Query name -> latest driver round whose row passed (0 if it failed)."""
    rounds = sorted(
        (int(m.group(1)), p)
        for p in evidence.glob("CORRECTNESS_r*.json")
        if (m := re.fullmatch(r"CORRECTNESS_r(\d+)\.json", p.name))
    )
    last: dict[str, int] = {}
    for n, path in rounds:
        for name, row in json.loads(path.read_text()).items():
            green = all(
                row.get(k) is True for k in ("rows_match", "schema_match", "hash_match")
            ) and row.get("err") is None
            last[name] = n if green else 0
    return last


def _rotated(d: dict[str, _V], evidence: Path = _HERE) -> dict[str, _V]:
    last = _last_green(evidence)
    # sorted() is stable: equal scores keep registry order.
    return {n: d[n] for n in sorted(d, key=lambda n: last.get(n, 0))}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from glaciersgee_spark.operators.relational import pricing_summary

    return pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    glaciersgee_spark.load_all_queries()
    return _rotated(glaciersgee_spark.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL per queries() key (omitted ⇒ rows-only)."""
    glaciersgee_spark.load_all_queries()
    return _rotated(glaciersgee_spark.ORACLE)
