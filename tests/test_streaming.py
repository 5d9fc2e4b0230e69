"""Group D stream⇔batch self-consistency (SURVEY.md §5.2).

The driver's oracle is batch DuckDB, so the true Structured Streaming
forms are verified here instead: run each stream with an availableNow
trigger into a memory sink and compare against the declared
batch-equivalent query on the same data.
"""

import tempfile

import pyspark.sql.functions as F
import pytest

from glaciersgee_spark.streaming import stream as S
from glaciersgee_spark.streaming.batch_equiv import (
    q_d_session,
    q_d_stateful_custom,
    q_d_stateful_dedup,
    q_d_tumbling,
)
from tests.conftest import SF_SMOKE


def _run_to_memory(sdf, name: str, mode: str):
    return S.drain(
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", tempfile.mkdtemp(prefix=f"ggee_ck_{name}_"))
        .trigger(availableNow=True),
        name,
        120,
    )


def test_drain_stops_and_raises_at_its_bound(spark):
    """An unbounded rate stream never terminates by itself: drain must
    stop it at the bound and raise, leaving no active query behind."""
    writer = (
        spark.readStream.format("rate")
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="ggee_ck_bound_"))
    )
    with pytest.raises(TimeoutError, match="unbounded-rate drain exceeded 1 s"):
        S.drain(writer, "unbounded-rate", 1)
    assert spark.streams.active == []


def test_tumbling_stream_matches_batch(spark):
    _run_to_memory(S.tumbling_stream(spark, SF_SMOKE), "t_tumbling", "complete")
    got = {
        (r.ws, r.n) for r in spark.sql("SELECT * FROM t_tumbling").collect()
    }
    batch = q_d_tumbling(spark, SF_SMOKE)
    want = {
        (r.ws, r.n)
        for r in batch.groupBy("ws").agg(F.sum("n").alias("n")).collect()
    }
    assert got == want and len(got) > 0


def test_session_stream_matches_batch(spark):
    _run_to_memory(S.session_stream(spark, SF_SMOKE), "t_session", "complete")
    got = {
        (r.user_id, r.session_start, r.n_events)
        for r in spark.sql("SELECT * FROM t_session").collect()
    }
    want = {
        (r.user_id, r.session_start, r.n_events)
        for r in q_d_session(spark, SF_SMOKE).collect()
    }
    assert len(got) > 0
    assert got == want


def test_dedup_stream_matches_batch(spark):
    _run_to_memory(S.dedup_stream(spark, SF_SMOKE), "t_dedup", "append")
    got = spark.sql("SELECT count(*) AS n FROM t_dedup").collect()[0].n
    want = q_d_stateful_dedup(spark, SF_SMOKE).count()
    assert got == want > 0


def test_running_counts_stream_matches_batch(spark):
    _run_to_memory(S.running_counts_stream(spark, SF_SMOKE), "t_counts", "update")
    # last emission per user == batch running totals' final row per user
    rows = spark.sql(
        """
        SELECT user_id, n_events, sum_value_6dp FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                       ORDER BY n_events DESC) rn
          FROM t_counts) WHERE rn = 1
        """
    ).collect()
    got = {(r.user_id, r.n_events) for r in rows}
    batch = q_d_stateful_custom(spark, SF_SMOKE)
    fin = (
        batch.groupBy("user_id")
        .agg(F.max("events_so_far").alias("n_events"))
        .collect()
    )
    want = {(r.user_id, r.n_events) for r in fin}
    assert got == want and len(got) > 0


def test_watermark_drops_late_rows(spark):
    """Late-data semantics: with a 0-second watermark and append mode,
    windows close as the watermark passes; a contrived out-of-order
    file source still yields exactly the on-time aggregate set."""
    pytest.importorskip("pyspark.sql.streaming")
    # availableNow over a single file = one batch; watermark semantics
    # beyond one batch are covered by the session/tumbling tests above.
    sdf = S.read_events_stream(spark, SF_SMOKE).withWatermark("ts", "1 hour")
    agg = sdf.groupBy(F.window("ts", "1 hour")).count()
    q = _run_to_memory(agg, "t_wm", "append")
    n_append = spark.sql("SELECT count(*) n FROM t_wm").collect()[0].n
    # append emits only watermark-closed windows: strictly fewer than
    # the complete set, never more
    total = q_d_tumbling(spark, SF_SMOKE).select("ws").distinct().count()
    assert 0 < n_append <= total
    assert q.lastProgress is not None


def test_stream_stream_join_matches_batch(spark):
    from glaciersgee_spark.streaming.batch_equiv import q_d_stream_stream_join

    _run_to_memory(S.stream_stream_join(spark, SF_SMOKE), "t_ssj", "append")
    got_pairs = spark.sql("SELECT count(*) AS n FROM t_ssj").collect()[0].n
    want_pairs = (
        q_d_stream_stream_join(spark, SF_SMOKE)
        .agg(F.sum("n_clicks_30m").alias("n"))
        .collect()[0]
        .n
    )
    assert got_pairs == want_pairs > 0


def test_checkpoint_recovery_exactly_once(spark):
    """Sink semantics (SURVEY §2 Group D): restart from a checkpoint
    must not reprocess data already committed — each event lands in
    the file sink exactly once across two runs of the same query.

    Run 1 drains half the events (availableNow), stops. More files
    arrive. Run 2 restarts with the SAME checkpoint + sink paths and
    drains only the new files."""
    import os
    import shutil

    from pyspark.sql import types as T

    src = tempfile.mkdtemp(prefix="ggee_ck_src_")
    sink = tempfile.mkdtemp(prefix="ggee_ck_sink_")
    ck = tempfile.mkdtemp(prefix="ggee_ck_state_")

    from glaciersgee_spark.tables import load_table

    ev = load_table(spark, SF_SMOKE, "events").select("event_id", "user_id")
    half_a = ev.where(F.col("event_id") % 2 == 0)
    half_b = ev.where(F.col("event_id") % 2 == 1)
    stage = tempfile.mkdtemp(prefix="ggee_ck_stage_")
    half_a.coalesce(1).write.mode("overwrite").parquet(f"{stage}/a")
    half_b.coalesce(1).write.mode("overwrite").parquet(f"{stage}/b")

    def _copy_in(sub):
        for f in os.listdir(f"{stage}/{sub}"):
            if f.endswith(".parquet"):
                shutil.copy(f"{stage}/{sub}/{f}", f"{src}/{sub}_{f}")

    schema = T.StructType(
        [T.StructField("event_id", T.LongType()), T.StructField("user_id", T.LongType())]
    )

    def _drain():
        S.drain(
            S._parquet_append(spark.readStream.schema(schema).parquet(src), sink, ck),
            "checkpoint-resume",
            120,
        )

    _copy_in("a")
    _drain()
    n_a = spark.read.parquet(sink).count()
    assert n_a == half_a.count()

    _copy_in("b")
    _drain()
    out = spark.read.parquet(sink)
    assert out.count() == ev.count()  # nothing reprocessed, nothing lost
    assert out.select("event_id").distinct().count() == ev.count()


def test_sliding_stream_matches_batch(spark):
    from glaciersgee_spark.streaming.batch_equiv import q_d_sliding

    _run_to_memory(S.sliding_stream(spark, SF_SMOKE), "t_sliding", "complete")
    got = {
        (r.ws, r.n)
        for r in spark.sql("SELECT * FROM t_sliding").collect()
    }
    want = {
        (r.ws, r.n)
        for r in q_d_sliding(spark, SF_SMOKE)
        .select(F.col("ws").cast("timestamp"), "n")
        .collect()
    }
    assert got == want and len(got) > 0


def test_window_topk_stream_matches_batch(spark):
    """foreachBatch ranking over the availableNow stream must agree
    with the declared batch-equivalent top-k."""
    from glaciersgee_spark.streaming.batch_equiv import q_d_window_topk

    S.window_topk_batches(spark, SF_SMOKE, "t_window_topk")
    got = {
        (r.ws, r.event_type, r.n, r.rk)
        for r in spark.sql("SELECT * FROM t_window_topk").collect()
    }
    want = {
        (r.ws, r.event_type, r.n, r.rk)
        for r in q_d_window_topk(spark, SF_SMOKE).collect()
    }
    assert got == want and len(got) > 0


def test_window_users_stream_sketch_within_tolerance(spark):
    """The streaming HLL cardinality must land within 10% of the exact
    batch distinct count for every (window, type) — the audit the
    batch form exists to provide."""
    from glaciersgee_spark.streaming.batch_equiv import q_d_window_users

    _run_to_memory(
        S.window_users_stream(spark, SF_SMOKE), "t_window_users", "complete"
    )
    got = {
        (r.ws, r.event_type): (r.n_users_approx, r.n_events)
        for r in spark.sql("SELECT * FROM t_window_users").collect()
    }
    want = {
        (r.ws, r.event_type): (r.n_users, r.n_events)
        for r in q_d_window_users(spark, SF_SMOKE).collect()
    }
    assert set(got) == set(want)
    for k, (approx, n_ev) in got.items():
        exact, n_ev_b = want[k]
        assert n_ev == n_ev_b  # plain counts are exact in both forms
        assert abs(approx - exact) <= max(2, 0.1 * exact)


def test_stateful_restart_resumes_from_checkpoint(spark):
    """State-store recovery (round 5, VERDICT r4 #6): run the stateful
    per-user counter over file A, STOP the query, add file B, restart
    with the SAME checkpoint. The restarted run must (a) process only
    the unseen file (source-offset recovery) and (b) resume the
    per-user state, so every user appearing in B emits the A+B total,
    never a B-only recount."""
    import glob
    import os
    import shutil

    from glaciersgee_spark.tables import load_table
    from glaciersgee_spark.tmpdirs import scratch_dir

    ev = load_table(spark, SF_SMOKE, "events").select("user_id", "value", "event_id")
    half_a = ev.where(F.col("event_id") % 2 == 0).select("user_id", "value")
    half_b = ev.where(F.col("event_id") % 2 == 1).select("user_id", "value")

    src = scratch_dir(prefix="ggee_rst_src_")
    ck = scratch_dir(prefix="ggee_rst_ck_")
    out = scratch_dir(prefix="ggee_rst_out_")

    def stage(df, name: str) -> None:
        tmp = scratch_dir(prefix="ggee_rst_stage_")
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.copyfile(part, os.path.join(src, name))

    def run(run_id: int):
        # memory sinks can't recover from a checkpoint; the parquet
        # foreachBatch sink (the window_topk pattern) can
        def sink(batch_df, batch_id: int) -> None:
            batch_df.withColumn("run", F.lit(run_id)).write.mode(
                "append"
            ).parquet(out)

        sdf = (
            spark.readStream.schema("user_id long, value double")
            .parquet(src)
            .select("user_id", "value")
        )
        return S.drain(
            S.running_counts_over(sdf)
            .writeStream.outputMode("update")
            .option("checkpointLocation", ck)
            .foreachBatch(sink)
            .trigger(availableNow=True),
            "running-counts",
            120,
        )

    stage(half_a, "a.parquet")
    run(1)
    r1 = spark.read.parquet(out).where(F.col("run") == 1)
    assert r1.agg(F.sum("n_events")).collect()[0][0] == half_a.count() > 0

    stage(half_b, "b.parquet")
    run(2)
    got = {
        (r.user_id, r.n_events)
        for r in spark.read.parquet(out)
        .where(F.col("run") == 2)
        .select("user_id", "n_events")
        .collect()
    }
    # run 2 emits exactly the users present in B (update mode emits
    # only changed keys), each with the resumed A+B running total
    want = {
        (r.user_id, r.n)
        for r in ev.join(half_b.select("user_id").distinct(), "user_id", "semi")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_stream_union_conserves_events(spark):
    """The two-leg streaming union must account for every event exactly
    once, and lanes must partition by user parity."""
    from glaciersgee_spark.streaming.batch_equiv import q_d_stream_union
    from glaciersgee_spark.tables import load_table

    rows = q_d_stream_union(spark, SF_SMOKE).collect()
    ev = load_table(spark, SF_SMOKE, "events")
    assert sum(r.n for r in rows) == ev.count()
    even = sum(r.n for r in rows if r.lane == "even")
    assert even == ev.where(F.col("user_id") % 2 == 0).count()


def test_stream_pysource_equals_batch_connector(spark):
    """The offset-tracked streaming read must deliver exactly the batch
    connector's content (same 400 synthetic scenes)."""
    from glaciersgee_spark.sources.pysource import SceneManifestDataSource
    from glaciersgee_spark.streaming.batch_equiv import q_d_stream_pysource

    got = {
        (r.tile_x, r.n_scenes, r.cloud_decis)
        for r in q_d_stream_pysource(spark, SF_SMOKE).collect()
    }
    spark.dataSource.register(SceneManifestDataSource)
    m = spark.read.format("ggee_scene_manifest").load()
    want = {
        (r.tile_x, r.n_scenes, r.cloud_decis)
        for r in m.groupBy("tile_x")
        .agg(
            F.count(F.lit(1)).alias("n_scenes"),
            F.sum(F.expr("CAST(floor(cloud_pct * 10.0 + 0.5) AS BIGINT)")).alias(
                "cloud_decis"
            ),
        )
        .collect()
    }
    assert got == want and len(got) == 36


def test_stream_pysink_reads_committed_only(spark):
    """An orphan staging file (simulating a failed/uncommitted task)
    must be invisible to the manifest read-back."""
    import json
    import os

    from glaciersgee_spark.sources.pysource import read_committed_jsonl
    from glaciersgee_spark.streaming.batch_equiv import q_d_stream_pysink
    from glaciersgee_spark.tables import load_table

    rows = {r.user_id: (r.n, r.sum_cents) for r in q_d_stream_pysink(spark, SF_SMOKE).collect()}
    ev = load_table(spark, SF_SMOKE, "events").where(F.col("user_id") % 5 == 0)
    want = {
        r.user_id: (r.n, r.sum_cents)
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)")).alias(
                "sum_cents"
            ),
        )
        .collect()
    }
    assert rows == want and rows
    # plant an orphan staged file next to a real sink dir and re-read
    import glob

    import tempfile

    manis = glob.glob(
        os.path.join(tempfile.gettempdir(), "ggee_pysink_*", "_commit_0.json")
    )
    assert manis
    # newest manifest = the sink dir THIS test's call just wrote
    base = os.path.dirname(max(manis, key=os.path.getmtime))
    orphan = os.path.join(base, "_staging", "part-orphan.jsonl")
    with open(orphan, "w") as fh:
        fh.write(json.dumps({"event_id": 1, "user_id": 0, "value_cents": 10**9}) + "\n")
    again = read_committed_jsonl(spark, base)
    total = again.agg(F.sum("value_cents")).collect()[0][0]
    assert total == sum(v[1] for v in rows.values())


def test_stream_ivjoin_multibatch_evicts_state_and_matches_batch(spark):
    """q_d_stream_ivjoin's drain must be genuinely multi-batch (>= 2
    data micro-batches), must EVICT join state as the watermarks pass
    (numRowsRemoved > 0 on the stateOperators metrics — the bounded-
    state contract that makes stream-stream joins runnable forever),
    and its pair total must equal the batch interval join's."""
    from glaciersgee_spark.streaming.batch_equiv import (
        q_d_stream_ivjoin,
        q_d_stream_stream_join,
    )
    from glaciersgee_spark.streaming.stream import drain_interval_join
    from glaciersgee_spark.tmpdirs import scratch_dir

    sink = scratch_dir(prefix="ggee_ivj_t_sink_")
    ck = scratch_dir(prefix="ggee_ivj_t_ck_")
    q = drain_interval_join(spark, SF_SMOKE, sink, ck)
    prog = q.recentProgress
    assert len(prog) >= 2
    removed = sum(
        s["numRowsRemoved"] for p in prog for s in p["stateOperators"]
    )
    assert removed > 0
    got_pairs = spark.read.parquet(sink).count()
    want_pairs = (
        q_d_stream_stream_join(spark, SF_SMOKE)
        .agg(F.sum("n_clicks_30m").alias("n"))
        .collect()[0]
        .n
    )
    assert got_pairs == want_pairs > 0
    # the declared op's per-purchase counts agree with the batch form
    a = {
        (r.purchase_id, r.user_id, r.n_clicks_30m)
        for r in q_d_stream_ivjoin(spark, SF_SMOKE).collect()
    }
    b = {
        (r.purchase_id, r.user_id, r.n_clicks_30m)
        for r in q_d_stream_stream_join(spark, SF_SMOKE).collect()
    }
    assert a == b


def test_stream_dedup_multibatch_evicts_state_and_matches_batch(spark):
    """q_d_stream_dedup must run ≥ 2 micro-batches, evict dedup state
    as the watermark passes, and emit exactly one row per distinct
    (user, type, minute) key."""
    from glaciersgee_spark.streaming.batch_equiv import q_d_stream_dedup
    from glaciersgee_spark.streaming.stream import drain_stream_dedup
    from glaciersgee_spark.tables import load_table
    from glaciersgee_spark.tmpdirs import scratch_dir

    sink = scratch_dir(prefix="ggee_sdd_t_sink_")
    ck = scratch_dir(prefix="ggee_sdd_t_ck_")
    q = drain_stream_dedup(spark, SF_SMOKE, sink, ck)
    prog = q.recentProgress
    assert len(prog) >= 2
    removed = sum(
        s["numRowsRemoved"] for p in prog for s in p["stateOperators"]
    )
    assert removed > 0
    got = spark.read.parquet(sink).count()
    want = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", "event_type", F.date_trunc("minute", "ts"))
        .distinct()
        .count()
    )
    assert got == want > 0
    rows = {
        (r.event_type, r.n_keys, r.n_users)
        for r in q_d_stream_dedup(spark, SF_SMOKE).collect()
    }
    assert sum(r[1] for r in rows) == want


def test_stream_session_merges_across_batches_and_matches_batch(spark):
    """q_d_stream_session must be multi-batch, and its emitted-session
    set must equal the batch gaps-and-islands sessions whose window
    end clears the final watermark — including sessions that straddle
    a chunk boundary (merged in state across micro-batches)."""
    from glaciersgee_spark.streaming.batch_equiv import q_d_session, q_d_stream_session
    from glaciersgee_spark.streaming.stream import drain_stream_session
    from glaciersgee_spark.tables import load_table
    from glaciersgee_spark.tmpdirs import scratch_dir

    sink = scratch_dir(prefix="ggee_ssn_t_sink_")
    ck = scratch_dir(prefix="ggee_ssn_t_ck_")
    q = drain_stream_session(spark, SF_SMOKE, sink, ck)
    assert len(q.recentProgress) >= 2
    got = {
        (r.user_id, r.session_start, r.n_events)
        for r in q_d_stream_session(spark, SF_SMOKE).collect()
    }
    import datetime

    ev = load_table(spark, SF_SMOKE, "events")
    mx = ev.agg(F.max("ts")).collect()[0][0]
    want = {
        (r.user_id, r.session_start, r.n_events)
        for r in q_d_session(spark, SF_SMOKE).collect()
        if r.session_end + datetime.timedelta(minutes=30)
        <= mx - datetime.timedelta(hours=1)
    }
    assert got == want and len(got) > 0


def test_session_window_boundary_semantics(spark):
    """Pins the two session_window boundary behaviors the
    q_d_stream_session oracle encodes (probed on Spark 4.1, round 7):
    (a) an event at EXACTLY last_ts + 30 min MERGES into the running
    session (inclusive-end window overlap ⇒ the oracle starts a new
    session only on gap STRICTLY > 30 min); (b) a session whose
    window end EQUALS the final watermark EMITS in append mode (⇒ the
    oracle cutoff is `end + gap <= max_ts − delay`, not `<`)."""
    import glob
    import os
    import shutil

    from glaciersgee_spark.tmpdirs import scratch_dir

    d = scratch_dir(prefix="ggee_ssn_bound_")
    sch = "user_id long, ts timestamp"

    def mk(rows, w):
        spark.createDataFrame(rows, "user_id long, tss string").selectExpr(
            "user_id", "cast(tss as timestamp) ts"
        ).coalesce(1).write.parquet(f"{d}/{w}")

    # user 1: exact 30-min gap; user 2: session end 09:00 == final wm
    mk(
        [
            (1, "2024-01-01 00:00:00"),
            (1, "2024-01-01 00:30:00"),
            (2, "2024-01-01 08:30:00"),
        ],
        "w1",
    )
    mk([(3, "2024-01-01 10:00:00")], "w2")  # advances wm to 09:00
    os.makedirs(f"{d}/src")
    for i, w in enumerate(["w1", "w2"]):
        f = glob.glob(f"{d}/{w}/*.parquet")[0]
        dst = f"{d}/src/chunk_{i}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (1_700_000_000 + i * 10,) * 2)
    src = (
        spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/src")
        .withWatermark("ts", "1 hour")
    )
    agg = (
        src.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .select("user_id", F.col("w.start").alias("s"), F.col("w.end").alias("e"), "n")
    )
    _run_to_memory(agg, "t_ssn_bound", "append")
    rows = {
        (r.user_id, str(r.s), str(r.e), r.n)
        for r in spark.sql("SELECT * FROM t_ssn_bound").collect()
    }
    assert rows == {
        # (a) merged single session covering both events
        (1, "2024-01-01 00:00:00", "2024-01-01 01:00:00", 2),
        # (b) exact watermark tie (end == 09:00 == wm) emitted
        (2, "2024-01-01 08:30:00", "2024-01-01 09:00:00", 1),
    }


def test_event_time_timer_boundary_is_strict(spark):
    """Pins the timer semantics q_d_stream_custom_state's oracle
    encodes (probed on Spark 4.1, round 7): an event-time timer fires
    only when the watermark STRICTLY exceeds its timestamp. user 2's
    timer (08:00) < final wm (08:30) → its session emits via timeout;
    user 1's timer (08:30) == wm → does NOT fire; user 3's open
    session (timer 10:00 > wm) stays unemitted. Timer eviction shows
    up as numRowsRemoved in the cleanup batch."""
    import glob
    import os
    import shutil

    from glaciersgee_spark.tmpdirs import scratch_dir

    d = scratch_dir(prefix="ggee_tws_bound_")

    def mk(rows, w, mt):
        spark.createDataFrame(rows, "user_id long, tss string").selectExpr(
            "user_id", "cast(tss as timestamp) ts"
        ).coalesce(1).write.parquet(f"{d}/{w}")
        f = glob.glob(f"{d}/{w}/*.parquet")[0]
        os.makedirs(f"{d}/src", exist_ok=True)
        dst = f"{d}/src/{w}.parquet"
        shutil.copy(f, dst)
        os.utime(dst, (mt, mt))

    mk(
        [(1, "2024-01-01 08:00:00"), (2, "2024-01-01 07:30:00")],
        "w1",
        1_700_000_000,
    )
    mk([(3, "2024-01-01 09:30:00")], "w2", 1_700_000_010)  # wm → 08:30
    src = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{d}/src")
        .withWatermark("ts", "1 hour")
    )
    q = _run_to_memory(S.sessionize_with_timers(src), "t_tws_bound", "append")
    rows = {
        (r.user_id, str(r.session_start), r.n_events)
        for r in spark.sql("SELECT * FROM t_tws_bound").collect()
    }
    assert rows == {(2, "2024-01-01 07:30:00", 1)}, rows
    removed = sum(
        s["numRowsRemoved"] for p in q.recentProgress for s in p["stateOperators"]
    )
    assert removed == 1


def test_stream_custom_state_timers_fire_and_evict(spark):
    """q_d_stream_custom_state's drain must be genuinely multi-batch,
    its timers must fire and REMOVE state (numRowsRemoved > 0), and
    the emitted sessions must equal the batch gaps-and-islands
    sessions filtered by the op's emission contract (has a successor
    session OR timer strictly below the final watermark)."""
    import datetime

    from glaciersgee_spark.streaming.stream import drain_custom_state
    from glaciersgee_spark.tables import load_table
    from glaciersgee_spark.tmpdirs import scratch_dir
    from pyspark.sql import Window as W

    sink = scratch_dir(prefix="ggee_tws_t_sink_")
    ck = scratch_dir(prefix="ggee_tws_t_ck_")
    q = drain_custom_state(spark, SF_SMOKE, sink, ck)
    prog = q.recentProgress
    assert len(prog) >= 2
    removed = sum(
        s["numRowsRemoved"] for p in prog for s in p["stateOperators"]
    )
    assert removed > 0
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in spark.read.parquet(sink).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events")
    wl = W.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        ev.withColumn(
            "new_s",
            F.when(
                F.lag("ts").over(wl).isNull()
                | (
                    F.col("ts")
                    > F.lag("ts").over(wl) + F.expr("INTERVAL 30 MINUTE")
                ),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "sid",
            F.sum("new_s").over(
                wl.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
        .groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("s"),
            F.max("ts").alias("e"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    mx = ev.agg(F.max("ts")).collect()[0][0]
    last = sess.groupBy("user_id").agg(F.max("sid").alias("mx_sid"))
    want = {
        (r.user_id, r.s, r.e, r.n)
        for r in sess.join(last, "user_id").collect()
        if r.sid < r.mx_sid
        or r.e + datetime.timedelta(minutes=30)
        < mx - datetime.timedelta(hours=1)
    }
    # sink timestamps are UTC instants of the same wall-clock values
    got_naive = {
        (u, s.replace(tzinfo=None), e.replace(tzinfo=None), n)
        for (u, s, e, n) in got
    }
    assert got_naive == want and len(want) > 0


def test_stream_update_reemits_and_latest_wins(spark):
    """q_d_stream_update's drain must deliver update-mode semantics:
    at least one (window, type) key emits in >= 2 distinct batches
    with a GROWN count (the re-emission an append sink cannot
    express), and the latest-wins resolution equals the complete
    batch count table."""
    from glaciersgee_spark.streaming.batch_equiv import q_d_stream_update
    from glaciersgee_spark.streaming.stream import drain_update_sink
    from glaciersgee_spark.tables import load_table
    from glaciersgee_spark.tmpdirs import scratch_dir

    sink = scratch_dir(prefix="ggee_upd_t_sink_")
    ck = scratch_dir(prefix="ggee_upd_t_ck_")
    drain_update_sink(spark, SF_SMOKE, sink, ck)
    rows = spark.read.schema(
        "ws_us BIGINT, event_type STRING, n BIGINT, batch_id BIGINT"
    ).json(f"{sink}/*.jsonl")
    multi = (
        rows.groupBy("ws_us", "event_type")
        .agg(
            F.countDistinct("batch_id").alias("nb"),
            (F.max("n") > F.min("n")).alias("grew"),
        )
        .where((F.col("nb") >= 2) & F.col("grew"))
        .count()
    )
    assert multi > 0
    got = {
        (r.ws, r.event_type, r.n)
        for r in q_d_stream_update(spark, SF_SMOKE).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events")
    want = {
        (r.ws, r.event_type, r.n)
        for r in ev.groupBy(
            F.timestamp_seconds(
                (F.unix_seconds(F.col("ts").cast("timestamp")) / 345600)
                .cast("long")
                * 345600
            )
            .cast("timestamp_ntz")
            .alias("ws"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(want) > 0


def test_stream_complete_rewrites_whole_table_each_batch(spark):
    """q_d_stream_complete must run >= 2 micro-batches, each rewriting
    the WHOLE served table (complete mode): the final memory-table
    state equals the batch aggregate with no read-side merge, and the
    drain's progress shows output rows in every data batch (a rewrite,
    not a delta)."""
    from glaciersgee_spark.streaming.stream import drain_complete_counts
    from glaciersgee_spark.tables import load_table

    q = drain_complete_counts(spark, SF_SMOKE, "t_complete_test")
    prog = [p for p in q.recentProgress if p["numInputRows"] > 0]
    assert len(prog) >= 2
    sinks = [p["sink"]["numOutputRows"] for p in prog]
    # every batch rewrites the full table so far → output grows
    assert sinks == sorted(sinks) and sinks[0] > 0
    got = {
        (r.ws, r.event_type, r.n)
        for r in spark.sql("SELECT * FROM t_complete_test").collect()
    }
    ev = load_table(spark, SF_SMOKE, "events")
    want = {
        (r.ws, r.event_type, r.n)
        for r in ev.groupBy(
            F.date_trunc("hour", "ts").alias("ws"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want and len(want) > 0


def test_stream_listener_reconciles_and_detaches(spark):
    """The listener op's captured metrics must reconcile exactly with
    the corpus (no lost events), count exactly the 2 data batches the
    chunked feed produces, and the listener must be DETACHED after the
    call (running the op twice cannot double-count)."""
    from glaciersgee_spark.streaming.batch_equiv import q_d_stream_listener
    from glaciersgee_spark.tables import load_table

    r1 = q_d_stream_listener(spark, SF_SMOKE).collect()[0]
    n = load_table(spark, SF_SMOKE, "events").count()
    assert r1.n_data_batches == 2
    assert r1.total_input_rows == n
    r2 = q_d_stream_listener(spark, SF_SMOKE).collect()[0]
    assert (r2.n_data_batches, r2.total_input_rows) == (2, n)


def test_stream_outer_join_null_extends_only_after_watermark(spark):
    """q_d_stream_outer_join's drain must (a) emit EXACTLY the batch
    inner join's matched pairs, (b) null-extend every unmatched
    purchase at or below the probed eviction cutoff (final watermark
    − 1 ms) and NONE above it — the emission-on-eviction contract —
    (c) never emit a purchase both matched and null-extended, and
    (d) run multi-batch with state eviction (numRowsRemoved > 0)."""
    import datetime

    from glaciersgee_spark.streaming.batch_equiv import (
        q_d_stream_stream_join,
    )
    from glaciersgee_spark.streaming.stream import drain_outer_interval_join
    from glaciersgee_spark.tables import load_table
    from glaciersgee_spark.tmpdirs import scratch_dir

    sink = scratch_dir(prefix="ggee_ivjo_t_sink_")
    ck = scratch_dir(prefix="ggee_ivjo_t_ck_")
    q = drain_outer_interval_join(spark, SF_SMOKE, sink, ck)
    prog = q.recentProgress
    assert len(prog) >= 2
    removed = sum(
        s["numRowsRemoved"] for p in prog for s in p["stateOperators"]
    )
    assert removed > 0
    out = spark.read.parquet(sink)
    matched = out.where(F.col("c_ts").isNotNull())
    nulls = out.where(F.col("c_ts").isNull())
    # (a) matched side == batch inner join, pair for pair
    want_pairs = (
        q_d_stream_stream_join(spark, SF_SMOKE)
        .agg(F.sum("n_clicks_30m").alias("n"))
        .collect()[0]
        .n
    )
    assert matched.count() == want_pairs > 0
    # (c) no purchase is both matched and null-extended
    assert (
        nulls.select("purchase_id")
        .join(matched.select("purchase_id").distinct(), "purchase_id")
        .count()
        == 0
    )
    # (b) cutoff = min(ms-floor(max p_ts) − 1 h, ms-floor(max c_ts)
    # − 2 h) − 1 ms, from the round-8 ±1 µs / ±1 ms boundary probes
    ev = load_table(spark, SF_SMOKE, "events")
    mx = ev.groupBy().agg(
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "mp"
        ),
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "mc"
        ),
    ).collect()[0]
    floor_ms = lambda t: t.replace(microsecond=t.microsecond // 1000 * 1000)
    cutoff = min(
        floor_ms(mx.mp) - datetime.timedelta(hours=1),
        floor_ms(mx.mc) - datetime.timedelta(hours=2),
    ) - datetime.timedelta(milliseconds=1)
    bp = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    bc = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    bpu = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    inner_ids = (
        bpu.join(
            bc,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTE"))
            & (F.col("c_ts") <= F.col("p_ts")),
        )
        .select("purchase_id")
        .distinct()
    )
    unmatched = {
        r.purchase_id: r.p_ts
        for r in bp.join(inner_ids, "purchase_id", "left_anti").collect()
    }
    emitted = {r.purchase_id for r in nulls.select("purchase_id").collect()}
    want_emitted = {
        pid
        for pid, ts in unmatched.items()
        if ts.replace(tzinfo=None) <= cutoff
    }
    got = {
        pid for pid in emitted
    }
    assert got == want_emitted
    # the open tail really is withheld — the contract has teeth
    assert len(unmatched) > len(want_emitted)


def test_heavy_drains_run_on_rocksdb_and_restore_conf(spark):
    """The two heaviest stateful drains (interval join, timer
    sessionization) must run on the RocksDB state store provider —
    rocksdb* custom metrics present on their stateOperators, state
    landing in SST files — and must RESTORE the session's provider
    conf afterwards (a foreign session's choice survives the call)."""
    from glaciersgee_spark.streaming.stream import (
        _PROVIDER_CONF,
        drain_custom_state,
        drain_interval_join,
    )
    from glaciersgee_spark.tmpdirs import scratch_dir

    before = spark.conf.get(_PROVIDER_CONF)
    q1 = drain_interval_join(
        spark,
        SF_SMOKE,
        scratch_dir(prefix="ggee_rkt1_s_"),
        scratch_dir(prefix="ggee_rkt1_c_"),
    )
    cm1 = q1.lastProgress["stateOperators"][0]["customMetrics"]
    assert any(k.startswith("rocksdb") for k in cm1)
    # state traffic really went through RocksDB (SstFileSize can be 0
    # at smoke scale: changelog checkpointing keeps tiny state in the
    # memtable without flushing an SST — put/get counts cannot)
    assert int(cm1["rocksdbPutCount"]) > 0
    assert int(cm1["rocksdbChangeLogWriterCommitLatencyMs"]) > 0
    q2 = drain_custom_state(
        spark,
        SF_SMOKE,
        scratch_dir(prefix="ggee_rkt2_s_"),
        scratch_dir(prefix="ggee_rkt2_c_"),
    )
    cm2 = q2.lastProgress["stateOperators"][0]["customMetrics"]
    assert any(k.startswith("rocksdb") for k in cm2)
    assert spark.conf.get(_PROVIDER_CONF) == before


def test_stream_full_outer_emits_both_sides_after_watermark(spark):
    """q_d_stream_full_outer must (a) emit exactly the batch inner
    join's pairs, (b) null-extend unmatched purchases at the LEFT
    cutoff (wm − 1 ms) and unmatched clicks at the RIGHT cutoff
    (wm − 30 min − 1 ms) — the click's state outlives a purchase's by
    the join interval — with both open tails withheld, and (c) evict
    state (numRowsRemoved > 0)."""
    import datetime

    from glaciersgee_spark.streaming.batch_equiv import (
        q_d_stream_stream_join,
    )
    from glaciersgee_spark.streaming.stream import (
        drain_full_outer_interval_join,
    )
    from glaciersgee_spark.tables import load_table
    from glaciersgee_spark.tmpdirs import scratch_dir

    sink = scratch_dir(prefix="ggee_ivjf_t_sink_")
    ck = scratch_dir(prefix="ggee_ivjf_t_ck_")
    q = drain_full_outer_interval_join(spark, SF_SMOKE, sink, ck)
    # Full-outer eviction accounting differs from inner/left: the
    # null-extending removal pass does NOT increment numRowsRemoved
    # (observed first-hand: state total dropped while removed stayed
    # 0), so eviction is asserted on the state-size trajectory —
    # the final batch must hold strictly fewer rows than the peak.
    totals = [
        sum(s["numRowsTotal"] for s in p["stateOperators"])
        for p in q.recentProgress
    ]
    assert max(totals) > totals[-1] >= 0
    out = spark.read.parquet(sink)
    matched = out.where(
        F.col("purchase_id").isNotNull() & F.col("c_user").isNotNull()
    )
    want_pairs = (
        q_d_stream_stream_join(spark, SF_SMOKE)
        .agg(F.sum("n_clicks_30m").alias("n"))
        .collect()[0]
        .n
    )
    assert matched.count() == want_pairs > 0
    ev = load_table(spark, SF_SMOKE, "events")
    mx = ev.groupBy().agg(
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "mp"
        ),
        F.max(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "mc"
        ),
    ).collect()[0]
    floor_ms = lambda t: t.replace(microsecond=t.microsecond // 1000 * 1000)
    wm = min(
        floor_ms(mx.mp) - datetime.timedelta(hours=1),
        floor_ms(mx.mc) - datetime.timedelta(hours=2),
    )
    cut_left = wm - datetime.timedelta(milliseconds=1)
    cut_right = wm - datetime.timedelta(minutes=30, milliseconds=1)
    # left side: unmatched purchases below the cutoff, none above
    bpu = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    bc = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")
    )
    cond = (
        (F.col("p_user") == F.col("c_user"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 30 MINUTE"))
        & (F.col("c_ts") <= F.col("p_ts"))
    )
    matched_p = bpu.join(bc, cond).select("purchase_id").distinct()
    unm_p = {
        r.purchase_id: r.p_ts
        for r in bpu.join(matched_p, "purchase_id", "left_anti").collect()
    }
    got_pnull = {
        r.purchase_id
        for r in out.where(F.col("c_user").isNull())
        .select("purchase_id")
        .collect()
    }
    want_pnull = {
        pid
        for pid, ts in unm_p.items()
        if ts.replace(tzinfo=None) <= cut_left
    }
    assert got_pnull == want_pnull
    assert len(unm_p) > len(want_pnull)  # open left tail withheld
    # right side: unmatched clicks below the 30-min-deeper cutoff
    matched_c = bc.join(bpu, cond).select("c_user", "c_ts").distinct()
    unm_c = (
        bc.join(matched_c, ["c_user", "c_ts"], "left_anti")
        .collect()
    )
    want_cnull = sorted(
        (r.c_user, r.c_ts.replace(tzinfo=None))
        for r in unm_c
        if r.c_ts.replace(tzinfo=None) <= cut_right
    )
    got_cnull = sorted(
        (r.c_user, r.c_ts.replace(tzinfo=None))
        for r in out.where(F.col("purchase_id").isNull())
        .select("c_user", "c_ts")
        .collect()
    )
    assert got_cnull == want_cnull
    assert len(unm_c) > len(want_cnull)  # open right tail withheld


def test_chained_windows_tie_is_strict_and_runs_two_state_stores(spark):
    """Pins q_d_stream_chained_agg's emission contract (probed on
    Spark 4.1, round 8): a tumbling window emits when the watermark
    REACHES its end — an exact wm == end tie EMITS (the
    session_window convention) — and the chained query runs TWO
    stateful operators whose level-1 store evicts.
    Fixture: hour-A events (08:05, 08:20) + 09:10, then a second
    file whose max ts 10:00:00.000 puts wm exactly ON hour-A's end
    (09:00) → hour A EMITS with the complete rollup (c60=2, n_sub=2);
    re-staged with 09:59:59.999 → wm one ms short → nothing emits."""
    import glob
    import os
    import shutil

    from glaciersgee_spark.tmpdirs import scratch_dir

    def run(tail_ts: str, qname: str):
        d = scratch_dir(prefix="ggee_chain_tie_")

        def mk(rows, w, mt):
            spark.createDataFrame(
                rows, "event_type string, tss string"
            ).selectExpr(
                "event_type", "cast(tss as timestamp) ts"
            ).coalesce(1).write.parquet(f"{d}/{w}")
            f = glob.glob(f"{d}/{w}/*.parquet")[0]
            os.makedirs(f"{d}/src", exist_ok=True)
            dst = f"{d}/src/{w}.parquet"
            shutil.copy(f, dst)
            os.utime(dst, (mt, mt))

        mk(
            [
                ("click", "2024-01-01 08:05:00"),
                ("click", "2024-01-01 08:20:00"),
                ("view", "2024-01-01 09:10:00"),
            ],
            "w1",
            1_700_000_000,
        )
        mk([("view", tail_ts)], "w2", 1_700_000_010)
        src = (
            spark.readStream.schema("event_type string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{d}/src")
            .withWatermark("ts", "1 hour")
        )
        q = _run_to_memory(S.chained_windows(src), qname, "append")
        rows = spark.sql(f"SELECT * FROM {qname}").collect()
        return q, rows

    q_tie, rows_tie = run("2024-01-01 10:00:00", "t_chain_tie")
    got_tie = {
        (str(r.hour_start), r.event_type, r.c60, r.n_sub) for r in rows_tie
    }
    # wm == hour end (09:00): the tie EMITS, with the COMPLETE rollup
    # (both sub-windows merged) — hour B (end 10:00 > wm) must not
    assert got_tie == {("2024-01-01 08:00:00", "click", 2, 2)}, got_tie
    # two stateful operators present in every progress entry
    assert all(len(p["stateOperators"]) == 2 for p in q_tie.recentProgress)
    removed = sum(
        s["numRowsRemoved"]
        for p in q_tie.recentProgress
        for s in p["stateOperators"]
    )
    assert removed > 0  # level-1 sub-windows evicted on finalize

    # 1 ms short of the tie: nothing may emit
    _, rows_short = run("2024-01-01 09:59:59.999", "t_chain_short")
    assert rows_short == [], rows_short


def test_rate_source_prefix_is_race_invariant(spark):
    """The declared op's value-prefix filter must yield exactly the
    first RATE_BATCHES batches, however many batches the drain's runs
    commit."""
    from glaciersgee_spark.streaming.batch_equiv import q_d_stream_rate
    from glaciersgee_spark.streaming.stream import (
        RATE_BATCHES,
        RATE_ROWS_PER_BATCH,
    )

    rows = q_d_stream_rate(spark, "/root/testdata/sf0.001").collect()
    assert sum(r.n_events for r in rows) == RATE_BATCHES * RATE_ROWS_PER_BATCH
    total = RATE_BATCHES * RATE_ROWS_PER_BATCH
    assert sum(r.sum_value for r in rows) == total * (total - 1) // 2
    assert all(r.n_batches == RATE_BATCHES for r in rows)


def test_rate_drain_commits_exactly_rate_batches(spark):
    """drain_rate_source runs the unbounded rate-micro-batch source as
    RATE_BATCHES availableNow runs on one checkpoint: each commits one
    batch, so the sink holds values 0..RATE_BATCHES·rowsPerBatch−1
    exactly once and no run is stopped while a batch is writing."""
    from glaciersgee_spark.streaming.stream import (
        RATE_BATCHES,
        RATE_ROWS_PER_BATCH,
        drain_rate_source,
    )
    from glaciersgee_spark.tmpdirs import scratch_dir

    sink = scratch_dir(prefix="ggee_rate_t_sink_")
    ck = scratch_dir(prefix="ggee_rate_t_ck_")
    q = drain_rate_source(spark, sink, ck)
    assert q.lastProgress["batchId"] == RATE_BATCHES - 1
    values = sorted(r.value for r in spark.read.parquet(sink).collect())
    assert values == list(range(RATE_BATCHES * RATE_ROWS_PER_BATCH))


def test_schema_evolve_upgrade_allowed_and_state_change_rejected(spark):
    """The upgrade-day contract q_d_schema_evolve exercises, both
    directions:

    ALLOWED — resuming a v1 checkpoint under v2 (post-agg projection
    added) must (a) produce v1-era rows with lane NULL and v2-era
    rows with lane set, and (b) include at least one v2-emitted
    window whose data arrived ENTIRELY under v1 — the open tail of
    chunk-set A that crossed the restart inside the state store.

    REJECTED — resuming the same checkpoint with a CHANGED AGGREGATE
    LIST (count → count + sum) rewrites the state buffer schema, and
    Spark's state-compatibility checker must refuse the restart."""
    import os

    import pyspark.sql.types as T
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from glaciersgee_spark.streaming.stream import (
        _EVCH_SCHEMA,
        drain_schema_evolve,
        stage_event_chunks,
    )

    src = tempfile.mkdtemp(prefix="ggee_sev_t_src_")
    sink = tempfile.mkdtemp(prefix="ggee_sev_t_sink_")
    ck = tempfile.mkdtemp(prefix="ggee_sev_t_ck_")
    drain_schema_evolve(spark, SF_SMOKE, sink, ck, src)

    schema = T.StructType(
        [
            T.StructField("ws", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("lane", T.StringType()),
        ]
    )
    rows = spark.read.schema(schema).parquet(sink).collect()
    v1 = [r for r in rows if r.lane is None]
    v2 = [r for r in rows if r.lane is not None]
    assert v1 and v2, (len(v1), len(v2))
    # state crossed the upgrade: some v2-emitted window predates the
    # chunk-set-A watermark horizon minus nothing — i.e. its window
    # start lies within chunk-set A's time range (all its data arrived
    # in drain #1) yet it carries the v2 column.
    staged = stage_event_chunks(spark, SF_SMOKE)
    import pyspark.sql.functions as F2

    a_max = (
        spark.read.schema(_EVCH_SCHEMA)
        .parquet(
            os.path.join(staged, "events", "chunk_0.parquet"),
            os.path.join(staged, "events", "chunk_1.parquet"),
        )
        .agg(F2.max(F2.col("ts").cast("timestamp")))
        .first()[0]
    )
    crossed = [r for r in v2 if r.ws <= a_max]
    assert crossed, "no window crossed the upgrade inside the state store"
    # lane values are the v2 derivation, exactly
    assert all(
        r.lane
        == ("conversion" if r.event_type in ("purchase", "signup") else "engagement")
        for r in v2
    )

    # ---- REJECTED: changed aggregate list on the same checkpoint
    bad = (
        spark.readStream.schema(_EVCH_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select(
            "user_id", "event_type", F2.col("ts").cast("timestamp").alias("ts")
        )
        .withWatermark("ts", "1 hour")
        .groupBy(F2.window("ts", "1 hour"), "event_type")
        .agg(F2.count(F2.lit(1)).alias("n"), F2.sum("user_id").alias("s"))
        .select(
            F2.col("window.start").alias("ws"), "event_type", "n", "s"
        )
    )
    # force a batch so the state checker actually runs: re-link chunk_3
    # under a fresh name (this sink is test-scoped; double-counting is
    # irrelevant because the query must die before committing)
    os.link(
        os.path.join(staged, "events", "chunk_3.parquet"),
        os.path.join(src, "chunk_3b.parquet"),
    )
    with pytest.raises(StreamingQueryException) as ei:
        S.drain(S._parquet_append(bad, sink, ck), "changed-aggregate", 180)
    msg = str(ei.value)
    assert "chema" in msg or "STATE" in msg, msg[:500]


def test_state_inspect_reconciles_sink_plus_state_to_batch_total(spark):
    """The state source's deepest guarantee, asserted end to end:
    EMITTED (sink) + OPEN (state store) = the batch aggregate, with
    zero overlap — every (window, type) group is in exactly one of
    the two at drain end. Also pins the state-metadata reader: one
    stateStoreSave operator, store 'default', a committed batch
    range."""
    import pyspark.sql.functions as F2

    from glaciersgee_spark.streaming.stream import drain_state_inspect
    from glaciersgee_spark.tables import load_table

    sink = tempfile.mkdtemp(prefix="ggee_sti_t_sink_")
    ck = tempfile.mkdtemp(prefix="ggee_sti_t_ck_")
    drain_state_inspect(spark, SF_SMOKE, sink, ck)

    emitted = spark.read.parquet(sink).select(
        F2.col("ws").cast("timestamp").alias("ws"), "event_type", "n"
    )
    state = (
        spark.read.format("statestore")
        .option("path", ck)
        .load()
        .select(
            F2.col("key.window.start").alias("ws"),
            F2.col("key.event_type").alias("event_type"),
            F2.col("value.count").alias("n"),
        )
    )
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .select(
            F2.window(F2.col("ts").cast("timestamp"), "1 hour")["start"].alias("ws"),
            "event_type",
        )
        .groupBy("ws", "event_type")
        .agg(F2.count(F2.lit(1)).alias("n"))
    )
    got = {(r.ws, r.event_type): r.n for r in emitted.collect()}
    open_ = {(r.ws, r.event_type): r.n for r in state.collect()}
    want = {(r.ws, r.event_type): r.n for r in batch.collect()}
    assert not (got.keys() & open_.keys())  # no group in both
    merged = {**got, **open_}
    assert merged == want
    assert open_, "no open windows — the watermark horizon fixture broke"

    md = spark.read.format("state-metadata").option("path", ck).load()
    rows = md.collect()
    assert len(rows) == 1
    assert rows[0].operatorName == "stateStoreSave"
    assert rows[0].stateStoreName == "default"
    assert rows[0].maxBatchId >= rows[0].minBatchId >= 0


def test_multi_watermark_policy_min_vs_max(spark):
    """The q_d_multi_watermark A/B: under the default `min` policy the
    global watermark trails the slow leg (6-h delay), so windows past
    the fast leg's horizon stay OPEN; under `max` it rides the fast
    leg (30-min delay), emitting strictly more windows — and the
    min-policy emission equals the declared oracle cutoff
    least(wm_fast, wm_slow)."""
    import duckdb

    got = {}
    for policy in ("min", "max"):
        sink = tempfile.mkdtemp(prefix=f"ggee_mwm_{policy}_sink_")
        ck = tempfile.mkdtemp(prefix=f"ggee_mwm_{policy}_ck_")
        S.drain_multi_watermark(spark, SF_SMOKE, sink, ck, policy=policy)
        rows = (
            spark.read.schema("ws timestamp_ntz, we timestamp_ntz, "
                              "n long, value_cents long")
            .parquet(sink)
            .collect()
        )
        got[policy] = {(r.ws, r.n, r.value_cents) for r in rows}

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{SF_SMOKE}/events.parquet'"
    )
    cutoffs = con.sql(
        """
        SELECT MAX(ts) FILTER (user_id % 2 = 0) - INTERVAL 30 MINUTE,
               MAX(ts) FILTER (user_id % 2 = 1) - INTERVAL 6 HOUR
        FROM events
        """
    ).fetchone()
    wm_fast, wm_slow = cutoffs

    def batch_emitted(cutoff):
        return {
            (r[0], r[1], r[2])
            for r in con.sql(
                f"""
                SELECT date_trunc('hour', ts) AS ws,
                       CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(CAST(floor(value * 100.0 + 0.5)
                                     AS BIGINT)) AS BIGINT) AS cents
                FROM events
                GROUP BY 1
                HAVING ws + INTERVAL 1 HOUR <= TIMESTAMP '{cutoff}'
                """
            ).fetchall()
        }

    # min policy: emission cutoff is the SLOWER (lesser) watermark,
    # and nothing is dropped — counts equal the full batch aggregate.
    assert got["min"] == batch_emitted(min(wm_fast, wm_slow))
    # max policy advances with the fast leg: strictly more window
    # STARTS emit (the slow leg's held-back windows now close) —
    # counts may differ where slow-leg rows were shed as late.
    min_ws = {ws for ws, _, _ in got["min"]}
    max_ws = {ws for ws, _, _ in got["max"]}
    assert min_ws < max_ws, (len(min_ws), len(max_ws))
