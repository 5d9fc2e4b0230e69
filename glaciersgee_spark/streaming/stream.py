"""True Structured Streaming forms of the Group D operators.

Each builder returns a *streaming* DataFrame over the events corpus
(file source, availableNow-friendly) whose semantics match the declared
batch-equivalent query in streaming/batch_equiv.py; the equivalence is
asserted in tests/test_streaming.py (the oracle is batch DuckDB, so
stream correctness is proven by self-consistency — SURVEY.md §5.2).

State/scale posture: watermarks bound state for window and dedup ops;
the custom-counter op keeps O(|keys|) state in the per-partition state
store; checkpointing is the sink's job (tests use memory sinks with
temp checkpoints).

API note: Spark 4's `transformWithStateInPandas` (the successor
stateful API: typed value/list/map state, timers, TTL) was evaluated
for the custom-counter op but its driver-side runner requires
`google.protobuf`, which is not importable in this container
(`ImportError: cannot import name 'descriptor'` → STREAMING_PYTHON_
RUNNER_INITIALIZATION_FAILURE). `applyInPandasWithState` expresses the
same semantics without that dependency, so it is the shipped form;
swap to transformWithStateInPandas where protobuf is available.
"""

from __future__ import annotations

import os
import shutil

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from glaciersgee_spark import tmpdirs
from glaciersgee_spark.session import conf_window, ensure_confs
from glaciersgee_spark.tables import load_table

# Production state-store provider for the heavy stateful drains
# (round 8, VERDICT r7 item 3): the default HDFS-backed store keeps
# every state row on the JVM heap — fine for windowed counts, fatal at
# 100 TB of dedup keys / join state / open sessions. RocksDB spills
# state to local disk with bounded block-cache memory; the two drains
# whose state actually grows with traffic (the two-sided interval join
# and the per-user session store) run on it, asserted via the
# rocksdb* custom metrics in tests/test_streaming.py. A/B at sf0.1
# (BASELINE.md round 8): ivjoin 2.2→2.9 s, custom-state 3.0→3.2 s —
# the per-query RocksDB instance-init cost, flat in state size.
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)
_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
# Changelog checkpointing: each commit ships the batch's CHANGELOG to
# the checkpoint instead of re-uploading SST files — the production
# setting for large state (upload cost ∝ delta, not store size).
# A/B at sf0.1 (BASELINE.md round 8): ivjoin 3.2 → 2.8 s, custom-state
# flat — shipped on both drains with the provider.
_CHANGELOG_CONF = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)

# State-partition count is fixed at checkpoint creation from
# spark.sql.shuffle.partitions; the chunked feeds are a few thousand
# rows per trigger here, so 4 state partitions (not the session's 32)
# keep the per-batch store-init cost proportionate — a production
# deployment sizes this to its per-trigger volume ONCE, up front,
# because it cannot be changed across restarts. Applied through
# session.conf_window around each drain; the batteries run queries
# sequentially so nothing races.
_SMALL_STATE = {"spark.sql.shuffle.partitions": "4"}
# The heavy stateful drains (the three interval joins and the custom
# session store): RocksDB + changelog checkpointing on top.
_ROCKSDB_POSTURE = {
    **_SMALL_STATE,
    _PROVIDER_CONF: ROCKSDB_PROVIDER,
    _CHANGELOG_CONF: "true",
}


def drain(writer: DataStreamWriter, what: str, bound_s: int) -> StreamingQuery:
    """Start ``writer`` and wait up to ``bound_s`` seconds for the query
    to terminate — the one run-to-completion step of every drain.

    A query still running at the bound is stopped and TimeoutError
    raised, so no caller reads a partially-written sink; a query that
    failed re-raises its StreamingQueryException here. Returns the
    terminated StreamingQuery (tests assert on its state metrics)."""
    q = writer.start()
    if not q.awaitTermination(bound_s):
        q.stop()
        raise TimeoutError(
            f"{what} drain exceeded {bound_s} s — refusing to read a "
            "partially-written sink"
        )
    return q


def _parquet_append(df: DataFrame, sink: str, ck: str) -> DataStreamWriter:
    """availableNow append of ``df`` into a parquet sink at ``sink``,
    checkpointed at ``ck`` — the writer most drains hand to drain()."""
    return (
        df.writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
    )

# Raw schema of events.parquet as the streaming file source sees it:
# Spark ≥4.1 reads parquet TIMESTAMP(NANOS) as µs-truncated
# TIMESTAMP_NTZ — same naive values DuckDB sees.
_RAW = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events table.

    The parquet file source requires a *directory*, so the single
    events.parquet file is staged into one (tmpdirs.staged: hard-linked,
    or copied across devices) — the corpus itself is read-only and
    untouched.
    """
    ensure_confs(spark)
    srcf = f"{sf_dir}/events.parquet"

    def build(tmp: str) -> None:
        dst = os.path.join(tmp, "events.parquet")
        try:
            os.link(srcf, dst)
        except OSError:  # cross-device
            shutil.copyfile(srcf, dst)

    src = tmpdirs.staged(sf_dir, "events", "ggee_stream_src2", build)
    raw = spark.readStream.schema(_RAW).parquet(src)
    # Watermarks/event-time require TIMESTAMP (not NTZ); session tz is
    # UTC so the cast preserves wall-clock values exactly.
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def tumbling_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming tumbling 1-hour counts (complete mode → all windows)."""
    ev = read_events_stream(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )


def session_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session windows (30-min gap) with a 1-hour watermark."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


def dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming stateful dedup on (user, type, minute bucket)."""
    ev = read_events_stream(spark, sf_dir).withColumn(
        "minute_b", F.date_trunc("minute", "ts")
    )
    return ev.dropDuplicates(["user_id", "event_type", "minute_b"]).select(
        "user_id", "event_type", "minute_b"
    )


def running_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful per-user counters via applyInPandasWithState.

    State = (n_events, sum_value) per user, updated per micro-batch;
    emits the running totals each batch (update mode). The batch
    equivalent's final row per user equals this op's last emission.
    """
    return running_counts_over(
        read_events_stream(spark, sf_dir).select("user_id", "value")
    )


def running_counts_over(ev: DataFrame) -> DataFrame:
    """The stateful per-user counter transform over any streaming
    (user_id, value) frame — factored out so the checkpoint-restart
    test can drive it over a staged multi-file source (state-store
    recovery across query restarts, tests/test_streaming.py)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("sum_value_6dp", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("micros", T.LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, micros = state.get if state.exists else (0, 0)
        for pdf in pdfs:
            n += len(pdf)
            # integer micro-units keep the state exact (no float drift)
            micros += int(round(float(pdf["value"].sum()) * 1_000_000))
        state.update((n, micros))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value_6dp": [micros]}
        )

    return ev.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True stream⋈stream interval join: purchases × clicks per user,
    click within 30 minutes before the purchase.

    Both sides carry watermarks and the join condition bounds event-time
    distance, so each side's join state is droppable once the other
    side's watermark passes — the requirement for append-mode
    stream-stream joins. Emits one row per (purchase, click) pair; the
    batch equivalent's pair count equals this op's row count
    (tests/test_streaming.py)."""
    p = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    c = (
        read_events_stream(spark, sf_dir)
        .where(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "2 hours")
    )
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTE"))
        & (F.col("c_ts") <= F.col("p_ts")),
    ).select("purchase_id", "p_user", "p_ts", "c_ts")


def sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sliding windows (1 hour long, 15-min slide): each
    event updates 4 overlapping window aggregates (complete mode)."""
    ev = read_events_stream(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )


def window_topk_batches(spark: SparkSession, sf_dir: str, table_name: str):
    """True-stream form of q_d_window_topk via the foreachBatch sink:
    watermarked windowed counts stream in update mode; each micro-batch
    appends its CHANGED (window, event_type) count rows to a parquet
    sink tagged by batch_id — the q_d_foreachbatch_sink pattern. The
    write is per-executor parallel parquet append; NOTHING accumulates
    on the driver (round 4: replaces a driver-side dict that grew with
    window count forever — unbounded on an unbounded stream).

    The sink stores COUNTS, not ranks (round 5): update mode emits only
    the (window, type) pairs a batch changed, so ranking inside the
    batch would let a batch that touched only a non-top type claim rank
    1 for its window. Read-time resolution instead does what MERGE INTO
    would: latest batch_id wins per (window, event_type) — the merged
    frame IS the complete current count table — then top-2 per window
    is ranked over it (one window op partitioned by ws). Correct for
    any batch split, not just the single availableNow batch. Returns
    the started query; callers await it and read `table_name`. State
    per window is the per-type count map — watermark-bounded like any
    windowed agg.
    """
    from pyspark.sql import Window as W

    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    counts = ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    out = tmpdirs.scratch_dir(prefix="ggee_topk_out_")

    def upsert_counts(batch_df, batch_id: int) -> None:
        (
            batch_df.select(
                F.col("w.start").alias("ws"),
                "event_type",
                "n",
                F.lit(batch_id).alias("batch_id"),
            )
            .write.mode("append")
            .parquet(out)
        )

    q = drain(
        counts.writeStream.outputMode("update")
        .option(
            "checkpointLocation", tmpdirs.scratch_dir(prefix="ggee_ck_topk_")
        )
        .foreachBatch(upsert_counts)
        .trigger(availableNow=True),
        "window_topk_batches",
        120,
    )
    latest = W.partitionBy("ws", "event_type").orderBy(F.col("batch_id").desc())
    rk = W.partitionBy("ws").orderBy(F.col("n").desc(), F.col("event_type").asc())
    (
        spark.read.parquet(out)
        .withColumn("_r", F.row_number().over(latest))
        .where(F.col("_r") == 1)
        .withColumn("rk", F.row_number().over(rk))
        .where(F.col("rk") <= 2)
        .select("ws", "event_type", "n", "rk")
        .createOrReplaceTempView(table_name)
    )
    return q


def window_users_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming windowed user cardinality: exact COUNT(DISTINCT) is
    unsupported in streaming aggregations (unbounded per-window state),
    so the stream form carries the HLL sketch — O(k) state per window,
    mergeable across triggers. q_d_window_users' exact batch form is
    the sketch's accuracy audit (tests assert the error bound)."""
    ev = read_events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.approx_count_distinct("user_id").alias("n_users_approx"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            F.col("w.start").alias("ws"),
            "event_type",
            "n_users_approx",
            "n_events",
        )
    )


# ------------------------------------------------ true-stream interval join

_IVJ_SCHEMA_P = T.StructType(
    [
        T.StructField("purchase_id", T.LongType()),
        T.StructField("p_user", T.LongType()),
        T.StructField("p_ts", T.TimestampNTZType()),
    ]
)
_IVJ_SCHEMA_C = T.StructType(
    [
        T.StructField("c_user", T.LongType()),
        T.StructField("c_ts", T.TimestampNTZType()),
    ]
)


def _day_chunk(ev: DataFrame) -> F.Column:
    """4-way event-time chunk id, DAY-aligned, derived from the feed's
    observed date span (round 7, ADVICE r6: the previous dayofmonth
    spelling silently interleaved chunks on a feed spanning more than
    one calendar month, making rows watermark-late in the stream
    drains). chunk = min(3, day_index·4 div span_days) over
    [min(date), max(date)] — boundaries stay day-granular, so (a)
    later chunks never carry earlier timestamps (arrival respects
    event time for ANY feed) and (b) a minute / 30-min dedup key still
    never straddles chunks. Costs one tiny min/max agg at staging
    time (staging runs once per corpus fingerprint)."""
    lo, hi = ev.agg(F.min(F.to_date("ts")), F.max(F.to_date("ts"))).first()
    span_days = (hi - lo).days + 1
    idx = F.datediff(F.to_date("ts"), F.lit(lo))
    return F.least(F.lit(3), ((idx * 4) / span_days).cast("int"))


def _write_chunks(df: DataFrame, legdir: str) -> None:
    """Write ``df``'s rows as ``legdir/chunk_{i}.parquet``, one file per
    ``chk`` value i in 0..3 (the column itself is dropped), with
    strictly increasing mtimes so a maxFilesPerTrigger file source
    admits the chunks in order."""
    os.makedirs(legdir)
    for i in range(4):
        part = os.path.join(legdir, f"_w_{i}")
        df.where(F.col("chk") == i).drop("chk").coalesce(1).write.mode(
            "overwrite"
        ).parquet(part)
        pf = next(f for f in os.listdir(part) if f.endswith(".parquet"))
        dst = os.path.join(legdir, f"chunk_{i}.parquet")
        os.rename(os.path.join(part, pf), dst)
        shutil.rmtree(part)
        os.utime(dst, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))


def stage_ivjoin_sources(spark: SparkSession, sf_dir: str) -> str:
    """Stage the purchase and click legs as 4 time-ordered chunk files
    each (day-aligned quarters of the feed's observed date span — see
    _day_chunk), mtime-increasing so
    the file source admits chunks in event-time order under a
    maxFilesPerTrigger cap (drain_interval_join uses 2 per trigger →
    2 data batches + cleanup) — the multi-batch arrival pattern that
    makes the two-sided watermark actually advance and join state
    actually get evicted mid-query (a single-batch drain never
    exercises either). Staged once per corpus fingerprint through
    tmpdirs.staged, so concurrent sessions never see a half-staged
    leg. Chunking is by event-time DAY, so later chunks never carry
    earlier timestamps and nothing is watermark-late.
    """

    def build(tmp: str) -> None:
        ev = load_table(spark, sf_dir, "events")
        chunk = _day_chunk(ev)
        p = ev.where(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            chunk.alias("chk"),
        )
        c = ev.where(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
            chunk.alias("chk"),
        )
        _write_chunks(p, os.path.join(tmp, "purchases"))
        _write_chunks(c, os.path.join(tmp, "clicks"))

    ensure_confs(spark)
    return tmpdirs.staged(sf_dir, "events", "ggee_ivj_src2", build)


def _ivjoin_pairs(
    spark: SparkSession, sf_dir: str, how: str, cols: list[str]
) -> DataFrame:
    """The watermarked purchase/click interval join every interval-join
    drain runs: both staged legs at 2 chunk files per trigger, purchases
    watermarked 1 h and clicks 2 h, a click matching a purchase of the
    same user up to 30 minutes before it; ``how`` is the join type and
    ``cols`` the selected columns."""
    staged = stage_ivjoin_sources(spark, sf_dir)
    # Watermarks/event-time require TIMESTAMP (not NTZ); session tz is
    # UTC (ensure_confs in staging) so the cast preserves wall-clock.
    p = (
        spark.readStream.schema(_IVJ_SCHEMA_P)
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{staged}/purchases")
        .withColumn("p_ts", F.col("p_ts").cast("timestamp"))
        .withWatermark("p_ts", "1 hour")
    )
    c = (
        spark.readStream.schema(_IVJ_SCHEMA_C)
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{staged}/clicks")
        .withColumn("c_ts", F.col("c_ts").cast("timestamp"))
        .withWatermark("c_ts", "2 hours")
    )
    return p.join(
        c,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTE"))
        & (F.col("c_ts") <= F.col("p_ts")),
        how,
    ).select(*cols)


def drain_interval_join(spark: SparkSession, sf_dir: str, sink: str, ck: str):
    """Run the watermarked purchase⋈click interval join as a REAL
    multi-batch stream (availableNow, one time-chunk per trigger on
    each leg) into an append parquet sink; returns the terminated
    StreamingQuery so callers can assert on its state-store metrics
    (tests check numRowsRemoved > 0 — state actually evicted as the
    watermarks pass).

    Exactness under chunked arrival: chunks are day-partitioned, so a
    batch-k purchase's admissible clicks (≤ 30 min earlier) are in
    chunk k or the tail of chunk k-1; the click watermark's state
    bound is p_wm − 30 min = (max p_ts of k−1) − 1 h − 30 min, which
    retains that tail, so no pair is ever lost and the batch oracle
    is exact (the same argument q_d_stream_ivjoin's docstring makes).
    """
    pairs = _ivjoin_pairs(
        spark, sf_dir, "inner", ["purchase_id", "p_user", "c_ts"]
    )
    # Provider: RocksDB (module docstring at ROCKSDB_PROVIDER) — the
    # two-sided join state is the repo's largest stateful surface.
    with conf_window(spark, _ROCKSDB_POSTURE):
        return drain(_parquet_append(pairs, sink, ck), "interval-join", 180)


def drain_outer_interval_join(
    spark: SparkSession, sf_dir: str, sink: str, ck: str
):
    """Run the watermarked purchase⋈click interval join as a LEFT
    OUTER stream-stream join (round 8, VERDICT r7 item 2 — the
    thirteenth true-stream surface and the only join-semantics gap
    left after the inner drain): matched pairs emit as they join,
    exactly like drain_interval_join, but a purchase with NO
    qualifying click emits a NULL-EXTENDED row only when the
    watermark proves no future click can match it — the
    with-or-without enrichment every streaming pipeline runs
    ("purchases with their preceding click, or flagged clickless").
    Returns the terminated StreamingQuery for state-metric assertions.

    Null-emission boundary, probed empirically on Spark 4.1 (round 8,
    pinned in tests/test_streaming.py): the global watermark is
    min(max p_ts − 1 h, max c_ts − 2 h) with each side's max event
    time FLOORED TO MILLISECONDS (progress reports the ms value), and
    an unmatched purchase null-emits iff p_ts <= watermark − 1 ms —
    one full millisecond strictly below: a row at watermark − 1 µs
    does NOT emit, a row at exactly watermark − 1 ms DOES (probed at
    ±1 µs / ±1 ms offsets around a crafted watermark). The declared
    op's oracle encodes exactly this cutoff; purchases above it are
    still open join state at drain end and are excluded — the same
    late-tail accounting as q_d_stream_session.

    Exactness of the matched side under chunked arrival: identical
    argument to drain_interval_join (day-partitioned chunks, click
    state retained past the 30-min tail) — no pair lost, no spurious
    null (a null row emits only on eviction, and eviction happens
    only once no matching click can still arrive). Scale: same
    bounded two-sided state contract as the inner join, plus one
    bit per left row (matched-flag) — the cost of outer semantics."""
    pairs = _ivjoin_pairs(
        spark, sf_dir, "leftOuter", ["purchase_id", "p_user", "p_ts", "c_ts"]
    )
    # same state posture as the inner drain: RocksDB + changelog
    # checkpointing (two-sided join state is the heavy class)
    with conf_window(spark, _ROCKSDB_POSTURE):
        return drain(
            _parquet_append(pairs, sink, ck), "outer-interval-join", 180
        )


def drain_full_outer_interval_join(
    spark: SparkSession, sf_dir: str, sink: str, ck: str
):
    """FULL OUTER form of the watermarked interval join (round 8 —
    the fourteenth true-stream surface, completing the join-semantics
    family after inner and LEFT OUTER): matched pairs emit as found;
    an unmatched PURCHASE null-extends on left-state eviction exactly
    as in drain_outer_interval_join; an unmatched CLICK null-extends
    on right-state eviction — the side no other drain exercises.

    Null-emission boundaries, probed empirically on Spark 4.1 at
    ±1 ms offsets around a crafted watermark (tests pin them): with
    wm = min(ms-floor(max p_ts) − 1 h, ms-floor(max c_ts) − 2 h),
    an unmatched purchase emits iff p_ts <= wm − 1 ms (identical to
    the LEFT OUTER boundary — a tie at wm does NOT emit), and an
    unmatched click emits iff c_ts <= wm − 30 min − 1 ms: the click's
    matchability window extends 30 minutes FORWARD (a click can still
    match a purchase up to 30 minutes later), so its state outlives a
    purchase's by exactly the join interval — the per-side state
    watermarks Spark derives from each inequality of the condition,
    observed directly. Matched rows never also null-emit (probed).

    Scale: the same bounded two-sided RocksDB state as the sibling
    drains plus a matched-bit on BOTH sides — full outer costs no
    extra shuffle, only the second side's eviction emission."""
    pairs = _ivjoin_pairs(
        spark,
        sf_dir,
        "fullOuter",
        ["purchase_id", "p_user", "p_ts", "c_user", "c_ts"],
    )
    with conf_window(spark, _ROCKSDB_POSTURE):
        return drain(
            _parquet_append(pairs, sink, ck), "full-outer-interval-join", 180
        )


# ------------------------------------------------ true-stream dedup

_EVCH_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.TimestampNTZType()),
    ]
)


def stage_event_chunks(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events feed as 4 day-partitioned, mtime-ordered chunk
    files (day-aligned quarters of the observed date span, _day_chunk)
    — the shared multi-batch
    arrival fixture for true-stream ops that need watermarks to
    actually advance (a single-file source drains in one batch and
    never exercises state eviction). Staged through tmpdirs.staged
    like stage_ivjoin_sources. Day chunking means a
    1-minute dedup key NEVER straddles chunks, so within-watermark
    dedup is exact under chunked arrival."""

    def build(tmp: str) -> None:
        base = load_table(spark, sf_dir, "events")
        ev = base.select(
            "user_id", "event_type", "ts", _day_chunk(base).alias("chk")
        )
        _write_chunks(ev, os.path.join(tmp, "events"))

    ensure_confs(spark)
    return tmpdirs.staged(sf_dir, "events", "ggee_evch2", build)


def drain_stream_dedup(spark: SparkSession, sf_dir: str, sink: str, ck: str):
    """Run dropDuplicatesWithinWatermark over the chunked events feed
    as a REAL multi-batch stream and append the surviving first
    arrivals to a parquet sink; returns the terminated StreamingQuery
    for state-metric assertions (dedup state must EVICT as the
    watermark passes — numRowsRemoved > 0 in tests).

    Exactness: the dedup key is (user_id, event_type, minute), every
    duplicate of a key shares its minute, a minute never straddles
    the day-partitioned chunks, so all duplicates of a key arrive in
    ONE micro-batch — each key emits exactly once regardless of
    batching, and the batch DISTINCT oracle is exact."""
    staged = stage_event_chunks(spark, sf_dir)
    keys = (
        spark.readStream.schema(_EVCH_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{staged}/events")
        .select(
            "user_id",
            "event_type",
            F.date_trunc("minute", F.col("ts").cast("timestamp")).alias(
                "minute_b"
            ),
        )
        .withWatermark("minute_b", "1 hour")
        .dropDuplicatesWithinWatermark()
    )
    with conf_window(spark, _SMALL_STATE):
        return drain(_parquet_append(keys, sink, ck), "stream-dedup", 180)


def drain_stream_session(spark: SparkSession, sf_dir: str, sink: str, ck: str):
    """Run the 30-minute-gap session_window aggregation over the
    day-chunked events feed as a REAL multi-batch append stream into a
    parquet sink; returns the terminated StreamingQuery. Sessions that
    straddle a chunk boundary are MERGED in the state store across
    micro-batches (the behavior no single-batch drain exercises), and
    a session only emits once the 1-hour watermark passes its window
    end (last event + 30-min gap) — sessions in the final 90 minutes
    of the feed stay un-emitted, which the declared op's oracle
    excludes explicitly."""
    staged = stage_event_chunks(spark, sf_dir)
    ev = (
        spark.readStream.schema(_EVCH_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{staged}/events")
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
        .withWatermark("ts", "1 hour")
    )
    agg = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )
    with conf_window(spark, _SMALL_STATE):
        return drain(_parquet_append(agg, sink, ck), "stream-session", 180)


# ------------------------------------------- timer-driven custom state

_SSN_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)
_SSN_STATE = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
    ]
)

SSN_GAP_US = 30 * 60 * 1_000_000  # 30-minute session gap, µs


def sessionize_with_timers(ev: DataFrame) -> DataFrame:
    """Custom stateful sessionization with EVENT-TIME TIMERS over a
    streaming (user_id, ts) frame: per-user state is the open session
    (start, last, n); a session closes EITHER when a later event of
    the same user arrives with gap > 30 min (emitted immediately) OR
    when the event-time timer set at last + 30 min fires (emitted by
    the timeout invocation, state removed — REAL state eviction,
    asserted on numRowsRemoved in tests).

    This is the timer/eviction surface of Spark 4's
    `transformWithStateInPandas` expressed through
    `applyInPandasWithState` + GroupStateTimeout.EventTimeTimeout —
    the new API's Python runner needs google.protobuf, which this
    container lacks (see the module docstring); the legacy API
    expresses identical timer semantics.

    Timer boundary, probed empirically on Spark 4.1 (round 7, pinned
    in tests/test_streaming.py): a timer fires only when the
    watermark STRICTLY exceeds its timestamp — an exact tie
    (last + 30 min == final watermark) does NOT fire, unlike
    session_window emission where the tie DOES emit. The declared
    op's oracle encodes the strict `<` accordingly.

    Scale: state is one row per user with an open session inside the
    watermark horizon; each micro-batch touches only keys with data
    or expired timers; the per-key fold is Arrow-batched."""
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        def emit(rows: list) -> pd.DataFrame:
            # ONE frame per invocation — a 1-row frame per closed
            # session costs ~|sessions| pandas constructions per batch
            # (measured 10× the whole drain at sf0.1)
            return pd.DataFrame(
                {
                    "user_id": pd.Series([key[0]] * len(rows), dtype="int64"),
                    "session_start": pd.to_datetime(
                        [r[0] for r in rows], unit="us"
                    ),
                    "session_end": pd.to_datetime(
                        [r[1] for r in rows], unit="us"
                    ),
                    "n_events": pd.Series([r[2] for r in rows], dtype="int64"),
                }
            )
        if state.hasTimedOut:
            s, last, n = state.get
            state.remove()
            yield emit([(s, last, n)])
            return
        ts_us: list = []
        for pdf in pdfs:
            if len(pdf):
                ts_us.extend(
                    (pdf["ts"].astype("int64") // 1000).tolist()
                )  # ns → µs
        ts_us.sort()
        s, last, n = state.get if state.exists else (None, None, 0)
        closed = []
        for t in ts_us:
            if s is None:
                s, last, n = t, t, 1
            elif t - last <= SSN_GAP_US:  # tie merges, like session_window
                last, n = t, n + 1
            else:
                closed.append((s, last, n))
                s, last, n = t, t, 1
        state.update((s, last, n))
        # timer at last + gap (ms granularity — µs are 0 in this feed);
        # fires when the watermark strictly exceeds it
        state.setTimeoutTimestamp(math.floor((last + SSN_GAP_US) / 1000))
        if closed:
            yield emit(closed)

    return ev.groupBy("user_id").applyInPandasWithState(
        fn, _SSN_OUT, _SSN_STATE, "append", GroupStateTimeout.EventTimeTimeout
    )


def drain_custom_state(spark: SparkSession, sf_dir: str, sink: str, ck: str):
    """Run timer-driven sessionization over the day-chunked events feed
    as a REAL multi-batch append stream into a parquet sink; returns
    the terminated StreamingQuery for state-metric assertions (timers
    must fire and evict — numRowsRemoved > 0).

    Exactness under chunked arrival (same argument as the sibling
    drains): chunks are day-partitioned so no row is watermark-late;
    a session closed by a successor emits in whichever batch carries
    the successor; a session with no successor emits iff its timer
    (last + 30 min) is STRICTLY below the final watermark
    (max ts − 1 h) — both conditions are batching-invariant, so the
    batch gaps-and-islands oracle is exact."""
    staged = stage_event_chunks(spark, sf_dir)
    ev = (
        spark.readStream.schema(_EVCH_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{staged}/events")
        .select("user_id", F.col("ts").cast("timestamp").alias("ts"))
        .withWatermark("ts", "1 hour")
    )
    out = sessionize_with_timers(ev)
    # 16 state partitions, not the sibling drains' 4: this drain's cost
    # is per-KEY Python work (one fn invocation per user with data or
    # an expired timer), and the state partition count caps Python
    # worker parallelism — measured 2× faster at 16 on local[32].
    # Provider: RocksDB (module docstring at ROCKSDB_PROVIDER) — the
    # per-user session store is unbounded-keyed in production.
    posture = {**_ROCKSDB_POSTURE, "spark.sql.shuffle.partitions": "16"}
    with conf_window(spark, posture):
        return drain(_parquet_append(out, sink, ck), "custom-state", 180)


# --------------------------------------------- update-mode keyed sink


class JsonlForeachWriter:
    """Per-ROW `foreach` sink writer (the third sink surface after
    foreachBatch and the Python DataSource sink): each task opens one
    JSONL file per (epoch, partition), stamps every row with its
    epoch_id — exactly the batch ordering an update-mode consumer
    needs for latest-wins resolution — and publishes the file with an
    atomic rename only when close(None) confirms a clean task: a task
    that dies MID-WRITE (executor loss, no close() call at all) leaves
    only a `.tmp` name the read-back glob never matches, so a
    truncated trailing line can never surface as a spurious all-null
    row in the PERMISSIVE JSONL read (round 8, ADVICE r7). Delivery is
    the foreach contract: at-least-once per epoch; safe here because
    re-emissions within an epoch are identical rows and read-back
    resolves per-key latest-batch-wins, so duplicates collapse.

    Consumes ROW-based plans only: Spark 4.1's foreach path casts each
    InternalRow to UnsafeRow, so Arrow-COLUMNAR operator output (e.g.
    applyInPandasWithState) aborts with a ColumnarBatchRow cast error
    — hit first-hand; streaming aggregations are row-based and safe."""

    def __init__(self, base: str) -> None:
        self.base = base

    def open(self, partition_id: int, epoch_id: int) -> bool:
        import os
        import uuid

        os.makedirs(self.base, exist_ok=True)
        self.epoch = epoch_id
        self.path = os.path.join(
            self.base, f"rows-{epoch_id}-{partition_id}-{uuid.uuid4().hex}.jsonl"
        )
        # stage under a name the read-back glob (*.jsonl) never
        # matches; publish atomically in close(None)
        self.tmp = f"{self.path}.tmp"
        self.fh = open(self.tmp, "w")
        return True

    def process(self, row) -> None:
        import json

        d = row.asDict()
        d["batch_id"] = self.epoch
        self.fh.write(json.dumps(d) + "\n")

    def close(self, error) -> None:
        import os

        self.fh.close()
        if error is None:
            os.replace(self.tmp, self.path)  # atomic publish
        elif os.path.exists(self.tmp):
            os.remove(self.tmp)


def drain_update_sink(spark: SparkSession, sf_dir: str, sink: str, ck: str):
    """Drain the watermarked 4-day windowed (window, event_type)
    counts in UPDATE output mode through the per-row `foreach` sink as
    a REAL multi-batch stream — each micro-batch delivers only the
    windows it CHANGED, every sunk row carries its epoch id, and
    read-back resolves latest-batch-wins per key. (The Python
    DataSource sink cannot take this drain: PythonTable declares only
    {BATCH_WRITE, STREAMING_WRITE, TRUNCATE}, no
    SupportsStreamingUpdateAsAppend, so Spark 4.1 rejects Update mode
    for it — verified first-hand; `foreach` is the API built for
    pushing update streams at external keyed stores.) Returns the
    terminated StreamingQuery."""
    staged = stage_event_chunks(spark, sf_dir)
    ev = (
        spark.readStream.schema(_EVCH_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{staged}/events")
        .select("event_type", F.col("ts").cast("timestamp").alias("ts"))
        .withWatermark("ts", "2 hours")
    )
    counts = (
        # 4-DAY windows, not hourly: the feed arrives in day-aligned
        # quarter chunks, so an hour window never straddles a batch
        # boundary and would emit exactly once — append in disguise.
        # Epoch-aligned 4-day windows straddle the chunk cuts, so a
        # window REALLY re-emits with a grown count in a later batch
        # (asserted in tests) — the update-mode contract under test.
        ev.groupBy(F.window("ts", "4 days").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        # epoch micros keep the key JSON-serializable and exact
        .select(F.unix_micros("w.start").alias("ws_us"), "event_type", "n")
    )
    with conf_window(spark, _SMALL_STATE):
        return drain(
            counts.writeStream.foreach(JsonlForeachWriter(sink))
            .option("checkpointLocation", ck)
            .outputMode("update")
            .trigger(availableNow=True),
            "update-sink",
            180,
        )


# ------------------------------------------- complete-mode e2e drain


def drain_complete_counts(spark: SparkSession, sf_dir: str, name: str):
    """Drain the 1-hour tumbling (window, event_type) counts over the
    day-chunked events feed in COMPLETE output mode to a memory sink
    as a REAL multi-batch stream: every micro-batch REWRITES the whole
    result table (complete mode's contract — the serving pattern for a
    small dashboard table), so the final table state after the
    availableNow drain equals the batch aggregate with no read-side
    merge at all. No watermark: complete mode retains every window's
    state by design, which is exactly why it is only safe for BOUNDED
    key domains (|windows within retention| × |types| here); unbounded
    keys belong in update/append mode (q_d_stream_update and the
    window-family drains). Returns the terminated StreamingQuery."""
    staged = stage_event_chunks(spark, sf_dir)
    ev = (
        spark.readStream.schema(_EVCH_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{staged}/events")
        .select("event_type", F.col("ts").cast("timestamp").alias("ts"))
    )
    counts = (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("ws"),
            "event_type",
            "n",
        )
    )
    with conf_window(spark, _SMALL_STATE):
        return drain(
            counts.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True),
            "complete-mode",
            180,
        )


def chained_windows(ev: DataFrame) -> DataFrame:
    """The two-level window cascade over a watermarked (event_type,
    ts) stream: 15-minute tumbling counts re-windowed into 1-hour
    rollups via `window(w15, '1 hour')` — shared by the full drain
    and the synthetic-tie boundary test."""
    w15 = ev.groupBy(
        F.window("ts", "15 minutes").alias("w15"), "event_type"
    ).agg(F.count(F.lit(1)).alias("c15"))
    w60 = w15.groupBy(
        F.window(F.col("w15"), "1 hour").alias("w60"), "event_type"
    ).agg(
        F.sum("c15").cast("long").alias("c60"),
        F.count(F.lit(1)).cast("long").alias("n_sub"),
    )
    return w60.select(
        F.col("w60.start").alias("hour_start"),
        "event_type",
        "c60",
        "n_sub",
    )


def drain_chained_windows(spark: SparkSession, sf_dir: str, sink: str, ck: str):
    """TWO CHAINED STATEFUL AGGREGATIONS in one streaming query
    (Spark 3.4+ multiple-stateful-operators support; SPARK-40925):
    15-minute tumbling counts per event_type re-aggregated into
    1-hour rollups by windowing ON the first window column
    (`window(w15, '1 hour')` — the time-window-of-time-window API).
    Append chaining means the hour agg consumes only FINALIZED
    15-minute windows (each emitted exactly once when the watermark
    passes its end), so the two state stores coexist in one query —
    the rollup never sees a partial sub-window.

    Emission contract (probed by the synthetic-tie unit test,
    tests/test_streaming.py): with watermark delay 1 h, a tumbling
    window emits when wm >= window end, wm = ms-floored max event
    time − 1 h — an exact wm == end tie EMITS, the session_window
    convention. An hour window at the cutoff has every sub-window at
    or below it too (sub-end <= hour end), so the final no-data
    batch flushes the full chain and the availableNow drain is
    exact.

    Scale: both aggregates are map-side combinable counts; state is
    one row per open (window, event_type) per level — bounded by the
    watermark horizon, independent of traffic volume; the chunked
    file source makes the watermark ADVANCE mid-query so the
    first-level store provably evicts."""
    staged = stage_event_chunks(spark, sf_dir)
    ev = (
        spark.readStream.schema(_EVCH_SCHEMA)
        .option("maxFilesPerTrigger", 2)
        .parquet(f"{staged}/events")
        .select("event_type", F.col("ts").cast("timestamp").alias("ts"))
        .withWatermark("ts", "1 hour")
    )
    out = chained_windows(ev)
    with conf_window(spark, _SMALL_STATE):
        return drain(_parquet_append(out, sink, ck), "chained-windows", 180)


def evolve_counts(ev: DataFrame, evolved: bool) -> DataFrame:
    """The upgrade-day pipeline pair (round 9, VERDICT r8 item 4):
    hourly tumbling counts per event_type — v1 emits (ws, event_type,
    n); v2 (evolved=True) adds a `lane` column DERIVED DOWNSTREAM of
    the stateful aggregate (a post-agg projection of the group key).
    The state schema — grouping keys (window, event_type) + count
    buffer — is byte-identical between the two, which is exactly why
    Spark's state-compatibility checker ALLOWS a checkpoint started
    under v1 to resume under v2 (the Structured Streaming guide's
    "changes in projections are allowed" rule, exercised for real in
    drain_schema_evolve). The contrast case — changing the aggregate
    list itself, which rewrites the state buffer — is REJECTED by the
    checker and pinned in tests/test_streaming.py."""
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .count()
    )
    out = agg.select(
        F.col("window.start").alias("ws"),
        "event_type",
        F.col("count").alias("n"),
    )
    if evolved:
        out = out.withColumn(
            "lane",
            F.when(
                F.col("event_type").isin("purchase", "signup"), "conversion"
            ).otherwise("engagement"),
        )
    return out


def drain_schema_evolve(
    spark: SparkSession, sf_dir: str, sink: str, ck: str, src: str
):
    """Restart a STATEFUL checkpointed stream with an EVOLVED OUTPUT
    schema — the upgrade-day lifecycle of a long-lived stream: drain
    #1 runs the v1 pipeline over the first two day chunks (arriving
    one file per micro-batch), the query STOPS, the code is
    "deployed" (evolve_counts(evolved=True) adds a derived output
    column), the later chunks arrive, and drain #2 resumes from the
    SAME checkpoint and sink under v2.

    What the restart must preserve, all through the checkpoint:
    (a) source offsets — chunks 0-1 must not replay (exactly-once
    across the upgrade); (b) the WATERMARK — drain #2 starts from
    drain #1's final watermark, not zero, so windows drain #1 already
    emitted are never re-emitted; (c) OPEN STATE — windows in the
    last hour of chunk-set A were held unemitted at drain #1's end,
    survive the upgrade inside the state store, and emit under v2
    (WITH the new column) even though all their data arrived under
    v1. The parquet file sink accepts the widened schema (its
    metadata log tracks files, not schemas); the v1-era rows read
    back with lane = NULL under the explicit v2 read schema — the
    sink-side fingerprint of when each row was emitted, which is what
    the oracle encodes via the two watermark cutoffs."""
    staged = stage_event_chunks(spark, sf_dir)

    def _arrive(idxs) -> None:
        for i in idxs:
            s = os.path.join(staged, "events", f"chunk_{i}.parquet")
            d = os.path.join(src, f"chunk_{i}.parquet")
            try:
                os.link(s, d)
            except OSError:
                shutil.copyfile(s, d)

    def _run(evolved: bool):
        ev = (
            spark.readStream.schema(_EVCH_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .select(
                "event_type", F.col("ts").cast("timestamp").alias("ts")
            )
        )
        out = evolve_counts(ev, evolved)
        with conf_window(spark, _SMALL_STATE):
            return drain(_parquet_append(out, sink, ck), "schema-evolve", 180)

    _arrive((0, 1))
    _run(False)  # v1: (ws, event_type, n)
    _arrive((2, 3))
    return _run(True)  # v2 resumes the same checkpoint, + lane


def drain_state_inspect(spark: SparkSession, sf_dir: str, sink: str, ck: str):
    """One availableNow drain of the v1 hourly-count pipeline over the
    full chunked feed (one file per micro-batch), leaving behind the
    checkpoint q_d_state_inspect then reads back through the State
    Data Source — the drain exists to produce a REAL state store, not
    for its sink."""
    staged = stage_event_chunks(spark, sf_dir)
    ev = (
        spark.readStream.schema(_EVCH_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{staged}/events")
        .select("event_type", F.col("ts").cast("timestamp").alias("ts"))
    )
    out = evolve_counts(ev, False)
    with conf_window(spark, _SMALL_STATE):
        return drain(_parquet_append(out, sink, ck), "state-inspect", 180)


# --------------------------------------------------------------- rate source

# rate-micro-batch contract: batch b delivers values
# [b·rowsPerBatch, (b+1)·rowsPerBatch) with every row stamped
# startTimestamp + b·advanceMillisPerBatch — fully deterministic, no
# wall clock anywhere (probed on Spark 4.1 before this landed).
RATE_ROWS_PER_BATCH = 250
RATE_START_MS = 1_700_000_000_000
RATE_ADVANCE_MS = 60_000
RATE_BATCHES = 4  # deterministic prefix consumed by the declared op


def drain_rate_source(spark: SparkSession, sink: str, ck: str):
    """Commit exactly RATE_BATCHES micro-batches of the rate-micro-batch
    synthetic source into a parquet sink; returns the last terminated
    StreamingQuery.

    The source is unbounded, but it supports the availableNow trigger:
    each availableNow run on the same checkpoint commits the next ONE
    batch (rowsPerBatch rows, values continuing where the previous run
    stopped) and terminates. RATE_BATCHES such runs write values
    0..RATE_BATCHES·rowsPerBatch−1 once each, and no run is stopped
    mid-write. The declared op still filters to
    value < RATE_BATCHES·rowsPerBatch, so the read-back does not depend
    on how many batches a run commits."""
    src = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", RATE_ROWS_PER_BATCH)
        .option("startTimestamp", RATE_START_MS)
        .option("advanceMillisPerBatch", RATE_ADVANCE_MS)
        .load()
    )
    for _ in range(RATE_BATCHES):
        q = drain(_parquet_append(src, sink, ck), "rate-source", 120)
    return q


# ---------------------------------------------------------------------------
# Multi-watermark union (q_d_multi_watermark, round 9)
# ---------------------------------------------------------------------------

_MWM_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("value", T.DoubleType()),
    ]
)
_MWM_POLICY_CONF = "spark.sql.streaming.multipleWatermarkPolicy"
# Per-leg lateness bounds: the fast DC commits within 30 min, the slow
# one within 6 h — the asymmetric-ingest reality multi-watermark policy
# exists for.
_MWM_DELAY_FAST = "30 minutes"
_MWM_DELAY_SLOW = "6 hours"


def stage_parity_chunks(spark: SparkSession, sf_dir: str) -> str:
    """Stage the events feed as TWO legs (user parity — the
    two-datacenter split of q_d_stream_union) × 4 day-aligned,
    mtime-ordered chunk files each, so a union stream over both legs
    advances through event time in lockstep, one day-quarter per
    micro-batch per leg. Staged through tmpdirs.staged like
    stage_event_chunks."""

    def build(tmp: str) -> None:
        base = load_table(spark, sf_dir, "events")
        ev = base.select(
            "user_id", "ts", "value", _day_chunk(base).alias("chk")
        )
        for leg, pred in (("fast", 0), ("slow", 1)):
            _write_chunks(
                ev.where(F.col("user_id") % 2 == pred),
                os.path.join(tmp, leg),
            )

    ensure_confs(spark)
    return tmpdirs.staged(sf_dir, "events", "ggee_mwmch", build)


def drain_multi_watermark(
    spark: SparkSession,
    sf_dir: str,
    sink: str,
    ck: str,
    policy: str = "min",
):
    """Union two legs carrying DIFFERENT watermark delays (fast DC:
    30 min; slow DC: 6 h) into one tumbling hourly aggregate, drained
    as a real multi-batch availableNow stream (2 files per leg per
    trigger → 2 data batches), under the given
    spark.sql.streaming.multipleWatermarkPolicy ('min' is Spark's
    default and the SAFE one: the global watermark trails the
    slowest leg, so nothing is dropped while the slow DC catches up;
    'max' advances with the fastest leg and sheds the laggard's
    late rows — the A/B tests assert exactly that divergence).
    Returns the terminated StreamingQuery."""
    staged = stage_parity_chunks(spark, sf_dir)

    def leg(name: str, delay: str) -> DataFrame:
        return (
            spark.readStream.schema(_MWM_SCHEMA)
            # 2 of the 4 day chunks per trigger → 2 data batches per
            # leg: still a true multi-batch watermark advancement, and
            # the final-watermark emission set (what the oracle and
            # the min/max A/B pin) is batch-count-invariant — halving
            # the batch count halves the recurring drain cost
            # (solo 7.5 s → ~4 s at sf0.1).
            .option("maxFilesPerTrigger", 2)
            .parquet(f"{staged}/{name}")
            # watermarks require TIMESTAMP (session-UTC, so the naive
            # values are preserved — the drain_stream_dedup idiom)
            .withColumn("ts", F.col("ts").cast("timestamp"))
            .withWatermark("ts", delay)
        )

    u = leg("fast", _MWM_DELAY_FAST).unionByName(
        leg("slow", _MWM_DELAY_SLOW)
    )
    cents = F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)")
    agg = u.groupBy(F.window("ts", "1 hour").alias("w")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents).alias("value_cents"),
    )
    out = agg.select(
        F.col("w.start").cast("timestamp_ntz").alias("ws"),
        F.col("w.end").cast("timestamp_ntz").alias("we"),
        "n",
        "value_cents",
    )
    with conf_window(spark, {**_SMALL_STATE, _MWM_POLICY_CONF: policy}):
        return drain(_parquet_append(out, sink, ck), "multi-watermark", 180)
