"""SparkSession factory + defensive per-session configuration.

Two entry paths exist:
  * our own tests/bench build a session via :func:`get_spark`;
  * the driver hands us an already-built session (``entry(spark)``).

Because of the second path, every conf we depend on must ALSO be
settable at runtime on a foreign session — :func:`ensure_confs` is
called from the table loader so any query works on any session.

Only :func:`get_spark` compiles generated code once per session. Spark
keeps the classes it generates in an LRU keyed by their source, of
``spark.sql.codegen.cache.maxEntries`` (default 100) entries. One pass
over the full inventory compiles about 6,260 distinct classes, so the
builder sets CODEGEN_CACHE_ENTRIES = 8192. That conf is static: Spark
reads it once, when the session is built, so a driver-built session
keeps its 100 entries and :func:`ensure_confs` cannot raise them.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator, Mapping

from pyspark.sql import SparkSession

# Above the 6,257 (sf0.01) to 6,266 (sf0.001) distinct classes that
# one pass over the full inventory generates.
CODEGEN_CACHE_ENTRIES = 8192

# Runtime-settable SQL confs every query in this engine relies on.
_RUNTIME_CONFS = {
    # Oracle parity: DuckDB timestamps are naive; keep Spark wall-clock UTC.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet stores TIMESTAMP(NANOS). Spark ≥4.1 reads it
    # natively as µs-truncated TIMESTAMP_NTZ and ignores this conf;
    # on older Spark it reads as long (tables.load_table converts).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # AQE: runtime shuffle-partition coalescing + skew-join splitting —
    # the 100 TB posture is "never hardcode partition counts".
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas-UDF boundary (Group F) and toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Python Data Source filter pushdown (Spark 4.1): off by default
    # upstream, and a pushFilters-implementing reader REFUSES to plan
    # without it (DATA_SOURCE_PUSHDOWN_DISABLED) — required by
    # q_b_scan_pysource_filters' connector-side pruning.
    "spark.sql.python.filterPushdown.enabled": "true",
}


def ensure_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime confs to a possibly-foreign session (idempotent)."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception:
            # A conf that can't be set at runtime on this build: queries
            # that need it will fail loudly; everything else proceeds.
            pass
    return spark


@contextmanager
def conf_window(spark: SparkSession, confs: Mapping[str, str]) -> Iterator[None]:
    """Set ``confs`` on the session for the body of a ``with`` block.

    On exit, normal or by exception, each key gets its old value back,
    or is unset if it had none — so a query that needs a conf posture
    (state partitions, AQE thresholds, CBO) leaks nothing into the
    next query on a shared or driver-built session.
    """
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def get_spark(app_name: str = "glaciersgee-spark") -> SparkSession:
    """Build the engine's own local session (tests / bench / CLI).

    Master and parallelism come from ``SPARK_GRAFT_CPUS`` (driver
    convention) falling back to ``local[*]``; shuffle partitions match
    core count — AQE coalesces down as needed, so this is an upper
    bound, not a tuning knob.

    ``spark.sql.codegen.cache.maxEntries`` is CODEGEN_CACHE_ENTRIES
    (8192), above the ~6,260 classes one full-inventory pass compiles,
    so a class generated once is served from the cache for the rest of
    the session. At Spark's default of 100, every repeated pass over
    the three CLI pipelines compiled 146 classes again, and one over
    perfbench's seed-7 query sample 110-113. The conf is static,
    so it is not in ``_RUNTIME_CONFS``: a driver-built session keeps
    the default. The console progress bar is off so that no
    ``[Stage ...]`` redraw splits a line of output.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
    master = f"local[{cpus}]" if cpus else "local[*]"
    shuffle = cpus if cpus else "32"
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", shuffle)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # Small-dim broadcast: every TPC-H-ish dimension in the corpus
        # fits; at 100 TB real dims still fit (region/nation/part-scale).
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in _RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return ensure_confs(spark)
