"""Config-driven pipeline lifecycle (pipeline.py + cli.py): selection
correctness against an independent spelling, manifest determinism,
idempotent re-run via the done-log anti join, observed summary counts
against independent counts, one scan of each pipeline's source table,
and the report's thread pool keeping the caller's job group."""

import hashlib
import json
import subprocess
import sys
import tempfile
from pathlib import Path

import pyspark.sql.functions as F
import pytest
from py4j.protocol import Py4JJavaError

from glaciersgee_spark.pipeline import (
    CorpusCleanConfig,
    SceneQueryConfig,
    build_manifest,
    pending_downloads,
    run_corpus_pipeline,
    run_pipeline,
    select_scenes,
)
from glaciersgee_spark.tables import load_table
from tests.conftest import SF_SMOKE

CFG = SceneQueryConfig(
    date_start="2024-01-05 00:00:00",
    date_end="2024-01-20 00:00:00",
    max_quality=120.0,
    event_types=("click", "view", "purchase"),
)


def _naive_best(spark, cfg):
    """(event_id, user_id) of the best scene per (cell, day), spelled
    independently: min (value, event_id) pair per group."""
    ev = load_table(spark, SF_SMOKE, "events")
    base = ev.where(
        (F.col("ts") >= F.lit(cfg.date_start).cast("timestamp_ntz"))
        & (F.col("ts") < F.lit(cfg.date_end).cast("timestamp_ntz"))
        & (F.col("value") <= cfg.max_quality)
        & F.col("event_type").isin(*cfg.event_types)
    ).withColumn("day", F.date_trunc("day", "ts"))
    best = base.groupBy("user_id", "day").agg(
        F.min(F.struct("value", "event_id")).alias("m")
    )
    return [(r.event_id, r.user_id) for r in best.select("m.event_id", "user_id").collect()]


def test_select_scenes_matches_independent_spelling(spark):
    got = {r.event_id for r in select_scenes(spark, SF_SMOKE, CFG).collect()}
    want = {e for e, _ in _naive_best(spark, CFG)}
    assert got == want and len(got) > 0


def test_manifest_paths_deterministic(spark):
    m1 = {r.event_id: r.export_url for r in
          build_manifest(select_scenes(spark, SF_SMOKE, CFG)).collect()}
    m2 = {r.event_id: r.export_url for r in
          build_manifest(select_scenes(spark, SF_SMOKE, CFG)).collect()}
    assert m1 == m2
    assert all(u.startswith("s3://landsat-archive/cell_") for u in m1.values())


def test_run_pipeline_idempotent_with_done_log(spark):
    out1 = tempfile.mkdtemp(prefix="ggee_pipe1_")
    s1 = run_pipeline(spark, SF_SMOKE, CFG, out1)
    assert s1["selected"] == s1["pending"] > 0

    # second run: everything already downloaded → pending drops to 0
    out2 = tempfile.mkdtemp(prefix="ggee_pipe2_")
    s2 = run_pipeline(spark, SF_SMOKE, CFG, out2, done_log_path=out1)
    assert s2["selected"] == s1["selected"]
    assert s2["pending"] == 0


def test_partial_done_log_yields_difference(spark):
    manifest = build_manifest(select_scenes(spark, SF_SMOKE, CFG))
    done = manifest.limit(3).select("event_id")
    left = pending_downloads(manifest, done)
    assert left.count() == manifest.count() - 3


def test_cli_end_to_end():
    cfg = {
        "date_start": "2024-01-05 00:00:00",
        "date_end": "2024-01-20 00:00:00",
        "max_quality": 120.0,
    }
    out = tempfile.mkdtemp(prefix="ggee_cli_")
    res = subprocess.run(
        [
            sys.executable,
            "-m",
            "glaciersgee_spark.cli",
            json.dumps(cfg),
            "--sf-dir",
            SF_SMOKE,
            "--out",
            out,
        ],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=Path(__file__).resolve().parent.parent,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    summary = json.loads(res.stdout.strip().splitlines()[-1])
    assert summary["pending"] > 0 and summary["output_dir"] == out


def test_corpus_pipeline_end_to_end(spark, tmp_path):
    from glaciersgee_spark.pipeline import CorpusCleanConfig, run_corpus_pipeline
    from glaciersgee_spark.tables import load_table

    out = str(tmp_path / "shards")
    cfg = CorpusCleanConfig(min_tokens=5, max_tokens=500, min_distinct_ratio=0.1)
    summary = run_corpus_pipeline(spark, SF_SMOKE, cfg, out)
    assert 0 < summary["kept_docs"] <= summary["input_docs"]
    assert set(summary["by_split"]) <= {"train", "val", "test"}
    back = spark.read.parquet(out)
    assert back.count() == summary["kept_docs"]
    # split column travels via the partition directories
    assert "split" in back.columns
    # rerun is deterministic: same kept set, same split assignment
    again = run_corpus_pipeline(spark, SF_SMOKE, cfg, str(tmp_path / "shards2"))
    assert again["by_split"] == summary["by_split"]


def test_report_mode_writes_all_tables(spark, tmp_path):
    """Each part's observed count equals the rows read back from its
    table and the row count of its DuckDB oracle."""
    import glaciersgee_spark as G
    from glaciersgee_spark.pipeline import run_report
    from tests.conftest import SF_SMOKE
    from tests.parity import make_duck

    out = str(tmp_path / "report")
    summary = run_report(spark, SF_SMOKE, out)
    assert set(summary) == {"output_dir", "cards", "dup_sizes", "len_buckets", "funnel"}
    G.load_all_queries()
    con = make_duck(SF_SMOKE)
    queries = {
        "cards": "q_e_summary_card",
        "dup_sizes": "q_e_dup_sizes",
        "len_buckets": "q_e_len_buckets",
        "funnel": "q_e_curation_funnel",
    }
    for k, q in queries.items():
        assert summary[k] > 0
        assert spark.read.parquet(f"{out}/{k}").count() == summary[k]
        assert con.sql(f"SELECT count(*) FROM ({G.ORACLE[q]})").fetchone()[0] == summary[k]


EMPTY_WINDOW = SceneQueryConfig(
    date_start="2024-01-05 00:00:00",
    date_end="2024-01-05 00:00:00",
    max_quality=120.0,
    event_types=CFG.event_types,
)


def _group_input_records(spark, group):
    """Input records of the completed stages of one job group's jobs,
    read from the status store once the listener bus drains."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    stages = set()
    for j in sc.statusTracker().getJobIdsForGroup(group):
        ids = store.job(j).stageIds()
        stages.update(ids.apply(i) for i in range(ids.size()))
    records = 0
    for sid in stages:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:
            continue  # a skipped stage, already trimmed from the store
        if sd.status().toString() == "COMPLETE":  # skipped stages reuse output
            records += sd.inputRecords()
    return records


def _in_group(spark, group, fn, *args):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        return fn(*args)
    finally:
        sc._jsc.clearJobGroup()


def _naive_corpus(spark, cfg):
    """Kept doc ids per split, in plain Python over the collected table:
    quality window, min(doc_id) per (lang, source, n_chars), md5 bucket."""
    keep: dict = {}
    for r in load_table(spark, SF_SMOKE, "documents").collect():
        words = r.text.split(" ")
        if not cfg.min_tokens <= len(words) <= cfg.max_tokens:
            continue
        if len(set(words)) / len(words) <= cfg.min_distinct_ratio:
            continue
        key = (r.lang, r.source, r.n_chars)
        keep[key] = min(keep.get(key, r.doc_id), r.doc_id)
    by_split: dict = {}
    for doc_id in keep.values():
        bucket = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:15], 16) % 100
        split = (
            "train" if bucket < cfg.train_pct
            else "val" if bucket < cfg.train_pct + cfg.val_pct
            else "test"
        )
        by_split[split] = by_split.get(split, 0) + 1
    return by_split


@pytest.mark.parametrize("case", ["no_done_log", "full_done_log", "empty_window"])
def test_scene_summary_matches_independent_counts(spark, tmp_path, case):
    """The observed summary equals an independent count, and the sink
    holds exactly the pending rows: a done-log that covers everything
    leaves pending 0 and cells 0 with selected unchanged; a date window
    that selects nothing gives selected 0."""
    cfg = EMPTY_WINDOW if case == "empty_window" else CFG
    best = _naive_best(spark, cfg)
    done_log, done_ids = None, set()
    if case == "full_done_log":
        done_ids = {e for e, _ in best}
        done_log = str(tmp_path / "done")
        spark.createDataFrame([(e,) for e in done_ids], "event_id long").write.parquet(
            done_log
        )
    pending = [(e, u) for e, u in best if e not in done_ids]
    out = str(tmp_path / "manifest")
    got = run_pipeline(spark, SF_SMOKE, cfg, out, done_log_path=done_log)
    want = {
        "selected": len(best),
        "pending": len(pending),
        "cells": len({u for _, u in pending}),
    }
    assert {k: got[k] for k in want} == want
    assert (want["selected"] > 0) == (case != "empty_window")
    if pending:
        back = spark.read.parquet(out)
        assert sorted(r.event_id for r in back.select("event_id").collect()) == sorted(
            e for e, _ in pending
        )


@pytest.mark.parametrize("train_pct", [80, 100])
def test_corpus_summary_matches_independent_counts(spark, tmp_path, train_pct):
    """by_split equals a plain-Python spelling of the clean plan and the
    rows written per split; with train_pct=100 it is {"train": n} only."""
    cfg = CorpusCleanConfig(
        min_tokens=5, max_tokens=500, min_distinct_ratio=0.1, train_pct=train_pct
    )
    want = _naive_corpus(spark, cfg)
    out = str(tmp_path / "shards")
    got = run_corpus_pipeline(spark, SF_SMOKE, cfg, out)
    assert got["by_split"] == want
    assert got["kept_docs"] == sum(want.values()) > 0
    assert got["input_docs"] == load_table(spark, SF_SMOKE, "documents").count()
    if train_pct == 100:
        assert list(got["by_split"]) == ["train"]
    back = spark.read.parquet(out).groupBy("split").agg(F.count("*").alias("n"))
    written = {r.split: r.n for r in back.collect()}
    assert written == want


def test_each_pipeline_scans_its_source_once(spark, tmp_path):
    """The scene pipeline reads `events` once (plus the one sink
    read-back of the pending rows it wrote), and the corpus pipeline
    reads `documents` once: no count action re-runs the plan."""
    n_events = load_table(spark, SF_SMOKE, "events").count()
    n_docs = load_table(spark, SF_SMOKE, "documents").count()

    group = "test_scene_scans_once"
    s = _in_group(spark, group, run_pipeline, spark, SF_SMOKE, CFG, str(tmp_path / "m"))
    records = _group_input_records(spark, group)
    assert s["pending"] > 0
    assert records == n_events + s["pending"], (records, n_events, s)

    group = "test_corpus_scans_once"
    cfg = CorpusCleanConfig(min_tokens=5, max_tokens=500, min_distinct_ratio=0.1)
    _in_group(spark, group, run_corpus_pipeline, spark, SF_SMOKE, cfg, str(tmp_path / "c"))
    records = _group_input_records(spark, group)
    assert records == n_docs, (records, n_docs)


def test_report_jobs_keep_the_callers_job_group(spark, tmp_path):
    """run_report writes from a thread pool; every job it launches must
    still carry the job group the caller set."""
    from glaciersgee_spark.pipeline import run_report

    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def all_job_ids():
        jsc.listenerBus().waitUntilEmpty()
        jobs = jsc.statusStore().jobsList(None)
        return {jobs.apply(i).jobId() for i in range(jobs.size())}

    before = all_job_ids()
    group = "test_report_job_group"
    _in_group(spark, group, run_report, spark, SF_SMOKE, str(tmp_path / "r"))
    launched = all_job_ids() - before
    grouped = sc.statusTracker().getJobIdsForGroup(group)
    assert launched, "run_report launched no job"
    assert launched <= set(grouped), sorted(launched - set(grouped))
