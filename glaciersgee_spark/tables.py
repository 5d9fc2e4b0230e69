"""Declared schemas + loaders for the driver corpus (FIXTURES.md).

Fixed, asserted schemas — never inferred — because the DuckDB oracle
comparison is schema-sensitive (SURVEY.md §1.2). The one normalization
applied at load: ``events.ts`` arrives as parquet TIMESTAMP(NANOS);
Spark ≥4.1 reads it natively as µs-truncated TIMESTAMP_NTZ (no work
needed), while older Spark reads it as long under ``nanosAsLong`` and
the loader converts to µs TIMESTAMP_NTZ — either way exactly what
DuckDB sees, since DuckDB's TIMESTAMP is µs-precision and naive.

At 100 TB these loaders are where partition-level metadata (stats,
bucketing) would be attached; on the driver corpus they are plain
columnar parquet scans that keep projection/predicate pushdown intact
(verified in tests/test_plans.py).
"""

from __future__ import annotations

import weakref
from typing import Iterable, Mapping, Sequence

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from glaciersgee_spark.session import ensure_confs

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Expected simpleString() schema AFTER load-time normalization.
EXPECTED = {
    "region": "struct<r_regionkey:int,r_name:string>",
    "nation": "struct<n_nationkey:int,n_name:string,n_regionkey:int>",
    "customer": (
        "struct<c_custkey:bigint,c_name:string,c_nationkey:int,"
        "c_acctbal:double,c_mktsegment:string>"
    ),
    "supplier": "struct<s_suppkey:bigint,s_name:string,s_nationkey:int,s_acctbal:double>",
    "part": (
        "struct<p_partkey:bigint,p_name:string,p_brand:string,p_type:string,"
        "p_size:int,p_retailprice:double>"
    ),
    "orders": (
        "struct<o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string,"
        "o_totalprice:double,o_orderdate:timestamp_ntz,o_orderpriority:string>"
    ),
    "lineitem": (
        "struct<l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint,"
        "l_linenumber:int,l_quantity:double,l_extendedprice:double,"
        "l_discount:double,l_tax:double,l_returnflag:string,"
        "l_linestatus:string,l_shipdate:timestamp_ntz>"
    ),
    "events": (
        "struct<event_id:bigint,ts:timestamp_ntz,user_id:bigint,"
        "event_type:string,value:double,props:string>"
    ),
    "documents": (
        "struct<doc_id:bigint,text:string,lang:string,source:string,n_chars:bigint>"
    ),
    "embeddings": "struct<vec_id:bigint,embedding:array<float>,label:int>",
}


# Loaded-table memo per session: a DataFrame is an immutable logical
# plan, so handing every query the same object is semantics-free and
# skips the repeated parquet-footer read + Py4J roundtrips (~0.14 s per
# load at local scale; queries touch up to 5 tables). Keyed weakly so
# a stopped session's entries vanish with it.
_LOADED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one corpus table with its declared schema asserted."""
    ensure_confs(spark)
    per = _LOADED.setdefault(spark, {})
    key = (sf_dir, name)
    if key in per:
        return per[key]
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # Older Spark (nanosAsLong in effect) reads TIMESTAMP(NANOS) as
        # long: ns → µs truncation (div floors; ts values are
        # non-negative), then NTZ so values are naive like DuckDB's.
        # Spark ≥4.1 reads nanos natively as µs-truncated TIMESTAMP_NTZ
        # — identical values — so no conversion is needed there.
        df = df.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
        )
    got = df.schema.simpleString()
    if got != EXPECTED[name]:
        raise AssertionError(f"{name}: schema drift: {got} != {EXPECTED[name]}")
    per[key] = df
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every corpus table as a temp view (for spark.sql paths)."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)


_FANNED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def fan_out(df: DataFrame, *keys: str) -> DataFrame:
    """Spread a small scan across cores before per-row-heavy compute.

    The driver corpus tables are single-file, single-row-group parquet,
    so a scan is ONE partition and every narrow stage above it (HOF
    expressions, Arrow UDF kernels) runs on 1 of 32 local cores until
    the first shuffle. This inserts one cheap hash repartition (a few
    MB) ahead of the expensive stage. On a real cluster the input is
    thousands of files ≥ the executor-core count, the guard is true,
    and this is a no-op — i.e. it is local-bench plumbing, not part of
    the 100 TB plan shape.

    Memoized per input DataFrame (load_table hands every query the
    same object): the partition-count probe materializes the scan RDD,
    a non-trivial Py4J/planning roundtrip to repeat on every call.
    """
    per = _FANNED.setdefault(df, {})
    if keys in per:
        return per[keys]
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= n:
        out = df
    elif keys:
        out = df.repartition(n, *[F.col(k) for k in keys])
    else:
        out = df.repartition(n)
    per[keys] = out
    return out


def chunked_prefix(
    df: DataFrame,
    by: Sequence[str],
    chunk: Sequence[str],
    order: Sequence[str | Column],
    values: Mapping[str, str | None],
) -> DataFrame:
    """Running sums and row ranks per ``by`` group, without a window
    over the whole group.

    Returns ``df`` plus one column per ``out: value`` entry: the
    running sum of ``value`` over ``order`` (frame ROWS UNBOUNDED
    PRECEDING .. CURRENT ROW), or for ``None`` the 1-based row rank.
    The naive spelling is one window per ``by`` group, a single task
    that at 100 TB sees the whole corpus. This is the two-phase form:

    1. within-chunk sums or ``row_number`` over a window partitioned
       by ``by + chunk`` (partition-parallel);
    2. a running sum of the per-chunk totals, ordered by ``chunk``
       and excluding the current chunk, gives each chunk's offset;
    3. the offsets come back through one broadcast join on
       ``by + chunk`` and are added to the within-chunk values.

    The caller's contract: ``chunk`` ascends with ``order`` and never
    splits a run of equal ``order`` keys (negate a bucket to follow a
    descending order), it is never NULL (the equi-join drops such
    rows), and it has few enough distinct values per ``by`` group that
    the totals fit a broadcast. Values must be integral: the chunks
    re-associate the sum, which is exact only for integers.
    """
    keys = [*by, *chunk]
    w_in = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_off = (
        Window.partitionBy(*by)
        .orderBy(*chunk)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    within = df.select(
        "*",
        *[
            (F.row_number() if v is None else F.sum(v)).over(w_in).alias(f"_w_{out}")
            for out, v in values.items()
        ],
    )
    totals = df.groupBy(*keys).agg(
        *[
            (F.count(F.lit(1)) if v is None else F.sum(v)).alias(f"_t_{out}")
            for out, v in values.items()
        ]
    )
    offsets = totals.select(
        *keys,
        *[
            F.coalesce(F.sum(f"_t_{out}").over(w_off), F.lit(0)).alias(f"_o_{out}")
            for out in values
        ],
    )
    return within.join(F.broadcast(offsets), keys).select(
        *df.columns,
        *[(F.col(f"_o_{out}") + F.col(f"_w_{out}")).alias(out) for out in values],
    )


def local_frame(
    spark: SparkSession, rows: Iterable[Sequence], schema: str | StructType
) -> DataFrame:
    """A frame over rows already on the driver, as a JVM local relation.

    Takes the rows and the DDL-or-StructType schema that
    ``spark.createDataFrame`` takes. Given a list, that call builds a
    pickled Python RDD (``Scan ExistingRDD``): every execution runs
    Python-worker tasks over ``defaultParallelism`` partitions, even
    for a 24-row result. Given a ``pyarrow.Table`` it builds a
    ``LocalRelation`` instead: the plan shows ``LocalTableScan``,
    ``collect()`` launches no job, and a broadcast of it runs no
    Python task. Rows hold the Python values ``collect()`` returns for
    the declared types; an empty row list keeps the schema.
    """
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)
