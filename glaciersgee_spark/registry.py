"""The queries()/oracle_sql() registry the driver contract consumes.

Every operator module registers its declared queries here via the
:func:`query` decorator; ``__spark_entry__.py`` simply re-exports the
two dicts. Keys follow SURVEY.md §2 (`q_<group>_<op>`); a query with
``oracle=None`` is a rows-only check (non-SQL-expressible op).

Cross-engine determinism contract (SURVEY.md §7.4): any aggregate over
double columns goes through exact DECIMAL arithmetic in BOTH engines —
see :data:`DSUM` — so result doubles are bit-identical regardless of
aggregation order. Per-row double expressions are IEEE-deterministic
and need no special handling.
"""

from __future__ import annotations

import math
import textwrap
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = textwrap.dedent(oracle).strip()
        return fn

    return deco


def dsum(expr: str, scale: int = 6, precision: int = 30) -> str:
    """Order-insensitive exact sum of a double expression → double.

    The inner cast rounds each per-row value to `scale` decimals
    (deterministic nearest; exact-tie probability ~2^-46 per row), the
    decimal SUM is exact integer arithmetic, and the final cast back to
    double is correctly rounded — so both Spark and DuckDB produce the
    same bits for any row order. Valid verbatim in both dialects.
    """
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL({precision},{scale}))) AS DOUBLE)"


def davg(expr: str, scale: int = 6, precision: int = 30) -> str:
    """Order-insensitive mean: exact decimal sum / count, both double.

    NULL-free inputs only (corpus columns are NOT NULL); uses COUNT(expr)
    so semantics match AVG if that ever changes.
    """
    return f"({dsum(expr, scale, precision)} / COUNT({expr}))"


def q6(x: str) -> str:
    """6-dp floor half-up quantizer of a double expression.

    floor(x·1e6 + 0.5)/1e6 puts a tie on the upper lattice point in
    Spark and DuckDB alike, where round() breaks ties differently per
    engine (half-even vs half-away-from-zero), negative values
    included. Valid verbatim in both dialects.
    """
    return f"floor(({x}) * 1000000.0 + 0.5) / 1000000.0"


def py_q6(x: float) -> float:
    """q6 on the driver, for folds whose oracle is a recursive or
    unrolled CTE: math.floor lands on the engines' lattice point,
    where Python's round() is half-to-even."""
    return math.floor(x * 1000000.0 + 0.5) / 1000000.0
