"""Config-driven scene-ETL pipeline — the reference's end-to-end UX.

The reference package's entry shape (SURVEY.md §3.1 [R]) is: read a
JSON config (date range, quality threshold, output dir) → filter the
scene collection → pick the best scene per cell/period → build an
export manifest → reconcile against what's already downloaded → write
the work list. This module is that lifecycle over the engine's
operators, composed as ONE lazy DataFrame plan per stage (Catalyst
sees the whole pipeline; filters reach the scan) and runnable from the
command line via :mod:`glaciersgee_spark.cli`.

The `events` table is the scene-metadata stand-in (SURVEY.md §1.2):
`ts` = acquisition time, `user_id` = grid cell (path/row analogue),
`value` = quality metric (CLOUD_COVER analogue), `event_id` = scene id.

Scale: stages add exactly one shuffle (the best-per-cell window) plus
one broadcast anti join against the done-log; the manifest sink is
partitioned by acquisition day so downstream consumers get partition
pruning. Nothing touches the driver except the final summary counts.

Each `run_*` executes its plan once. The summary counts are
`pyspark.sql.Observation` metrics attached to the frame being
written, so they ride the write's own jobs instead of re-running the
scan, the window and the anti join as separate count actions. The one
read-back kept is the scene pipeline's sink check: it counts the rows
actually on disk (and the distinct cells among them), which is what
proves the sink wrote the planned pending set. The curation report's
four tables are independent plans, so they are built and written from
a 4-thread pool that keeps the caller's job group and tags.
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

import pyspark
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window

from glaciersgee_spark.sources import sinks
from glaciersgee_spark.tables import load_table

def _observed(df: DataFrame, **metrics: Column) -> tuple[DataFrame, Observation]:
    """df with named aggregate metrics attached; the Observation's
    `.get` returns them once the first action over the frame ends."""
    obs = Observation()
    return df.observe(obs, *(c.alias(k) for k, c in metrics.items())), obs


@dataclass(frozen=True)
class SceneQueryConfig:
    """The JSON config surface (all times ISO `YYYY-MM-DD HH:MM:SS`)."""

    date_start: str
    date_end: str  # half-open, GEE filterDate convention
    max_quality: float  # keep scenes with value <= this (lower = better)
    event_types: tuple[str, ...] = ()  # optional collection filter
    best_per_cell: bool = True  # best-scene-per-(cell, day) compositing

    @staticmethod
    def from_json(path_or_str: str) -> "SceneQueryConfig":
        text = path_or_str
        if not path_or_str.lstrip().startswith("{"):
            with open(path_or_str) as f:
                text = f.read()
        raw = json.loads(text)
        return SceneQueryConfig(
            date_start=raw["date_start"],
            date_end=raw["date_end"],
            max_quality=float(raw["max_quality"]),
            event_types=tuple(raw.get("event_types", ())),
            best_per_cell=bool(raw.get("best_per_cell", True)),
        )


def select_scenes(spark: SparkSession, sf_dir: str, cfg: SceneQueryConfig) -> DataFrame:
    """filterDate + filterMetadata + best-per-cell compositing selection.

    All predicates land in one scan (pushed to parquet); the optional
    compositing step is the single shuffle of the pipeline.
    """
    ev = load_table(spark, sf_dir, "events")
    ts = F.col("ts")
    scenes = ev.where(
        (ts >= F.lit(cfg.date_start).cast("timestamp_ntz"))
        & (ts < F.lit(cfg.date_end).cast("timestamp_ntz"))
        & (F.col("value") <= F.lit(cfg.max_quality))
    )
    if cfg.event_types:
        scenes = scenes.where(F.col("event_type").isin(*cfg.event_types))
    scenes = scenes.withColumn("day", F.date_trunc("day", "ts").cast("timestamp_ntz"))
    if not cfg.best_per_cell:
        return scenes
    w = Window.partitionBy("user_id", "day").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    return (
        scenes.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def build_manifest(scenes: DataFrame) -> DataFrame:
    """Per-scene export manifest: deterministic URL + local target path."""
    return scenes.select(
        "event_id",
        "user_id",
        "day",
        "value",
        F.format_string(
            "s3://landsat-archive/cell_%03d/scene_%010d.tif", "user_id", "event_id"
        ).alias("export_url"),
        F.format_string(
            "cell_%03d/%s/scene_%010d.tif",
            "user_id",
            F.date_format("day", "yyyy-MM-dd"),
            "event_id",
        ).alias("local_path"),
    )


def pending_downloads(manifest: DataFrame, done_log: DataFrame | None) -> DataFrame:
    """Manifest ANTI JOIN done-log → scenes still to fetch. The done
    log (one `event_id` column) is broadcast — it is an id list, small
    relative to the manifest at any scale worth discussing."""
    if done_log is None:
        return manifest
    done = done_log.select(F.col("event_id").alias("_done_id")).distinct()
    return manifest.join(
        F.broadcast(done), manifest.event_id == F.col("_done_id"), "left_anti"
    )


def run_pipeline(
    spark: SparkSession,
    sf_dir: str,
    cfg: SceneQueryConfig,
    output_dir: str,
    done_log_path: str | None = None,
) -> dict:
    """Execute the full lifecycle; write the pending-work manifest as
    day-partitioned parquet; return summary counts (the only rows that
    ever reach the driver).

    `selected` (manifest rows) and `pending` (rows left after the
    done-log anti join) are observed on the write. `cells` comes from
    the one read-back of the sink, which also checks that the rows on
    disk are exactly the planned pending count."""
    done = (
        spark.read.parquet(done_log_path).select("event_id")
        if done_log_path
        else None
    )
    manifest, selected = _observed(
        build_manifest(select_scenes(spark, sf_dir, cfg)), n=F.count(F.lit(1))
    )
    todo, pending = _observed(pending_downloads(manifest, done), n=F.count(F.lit(1)))
    sinks.write_parquet_partitioned(todo, output_dir, "day")
    n_pending = pending.get["n"]
    cells = 0
    # Verify through the sink: a zero-row partitioned write leaves no
    # parquet footer, so only read back when something was written.
    if n_pending:
        back = (
            spark.read.parquet(output_dir)
            .agg(F.count(F.lit(1)).alias("rows"), F.countDistinct("user_id").alias("cells"))
            .first()
        )
        if back.rows != n_pending:
            raise AssertionError("sink row count != planned pending count")
        cells = back.cells
    return {
        "selected": selected.get["n"],
        "pending": n_pending,
        "cells": cells,
        "output_dir": output_dir,
    }


# ---------------------------------------------------------------------------
# Corpus-cleaning pipeline — the LLM-data end-to-end UX (BASELINE.json:6
# mandate): quality filter → exact dedup (canonical keep) → deterministic
# train/val/test split → split-partitioned parquet shards.


SPLITS = ("train", "val", "test")


@dataclass(frozen=True)
class CorpusCleanConfig:
    """JSON config surface for the corpus-cleaning pipeline."""

    min_tokens: int = 10
    max_tokens: int = 200
    min_distinct_ratio: float = 0.3
    dedup: bool = True  # drop non-canonical exact duplicates
    train_pct: int = 80  # split buckets: [0,train) train, [train,train+val) val
    val_pct: int = 10

    @staticmethod
    def from_json(path_or_str: str) -> "CorpusCleanConfig":
        text = path_or_str
        if not path_or_str.lstrip().startswith("{"):
            with open(path_or_str) as f:
                text = f.read()
        raw = json.loads(text)
        return CorpusCleanConfig(
            min_tokens=int(raw.get("min_tokens", 10)),
            max_tokens=int(raw.get("max_tokens", 200)),
            min_distinct_ratio=float(raw.get("min_distinct_ratio", 0.3)),
            dedup=bool(raw.get("dedup", True)),
            train_pct=int(raw.get("train_pct", 80)),
            val_pct=int(raw.get("val_pct", 10)),
        )


def clean_corpus(d: DataFrame, cfg: CorpusCleanConfig) -> DataFrame:
    """One lazy plan over the `documents` frame `d`: quality predicates
    on the scan, one window shuffle for canonical dedup, then the md5
    split bucket (a per-row expr).

    The kept row per content key is min(doc_id) — deterministic at any
    partitioning, unlike dropDuplicates."""
    from glaciersgee_spark.operators.dedup import _exact_key, _hash_split

    words = F.split("text", " ")
    n_tok = F.size(words)
    docs = d.withColumn("n_tokens", n_tok.cast("long")).where(
        (F.col("n_tokens") >= cfg.min_tokens)
        & (F.col("n_tokens") <= cfg.max_tokens)
        & (
            F.size(F.array_distinct(words)).cast("double") / n_tok
            > cfg.min_distinct_ratio
        )
    )
    if cfg.dedup:
        w = Window.partitionBy(_exact_key()).orderBy(F.col("doc_id").asc())
        docs = (
            docs.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
    return docs.withColumn("split", _hash_split(cfg.train_pct, cfg.val_pct))


def run_corpus_pipeline(
    spark: SparkSession, sf_dir: str, cfg: CorpusCleanConfig, output_dir: str
) -> dict:
    """Clean + split + write split-partitioned shards; return summary
    counts (the only driver-side rows).

    Every count is observed on the one write: `input_docs` on the
    `documents` scan inside the clean plan, and one conditional count
    per split label on the written frame. Splits that kept no row are
    left out of `by_split`, as a groupBy over the output would."""
    docs, scanned = _observed(
        load_table(spark, sf_dir, "documents"), n=F.count(F.lit(1))
    )
    cleaned, splits = _observed(
        clean_corpus(docs, cfg),
        **{s: F.count(F.when(F.col("split") == s, 1)) for s in SPLITS},
    )
    sinks.write_parquet_partitioned(cleaned, output_dir, "split")
    by_split = {s: n for s, n in splits.get.items() if n}
    return {
        "input_docs": scanned.get["n"],
        "kept_docs": sum(by_split.values()),
        "by_split": by_split,
        "output_dir": output_dir,
    }


def run_report(spark: SparkSession, sf_dir: str, output_dir: str) -> dict:
    """Curation report: the dataset-card bundle a corpus owner reads
    before planning the next mixture — per-source cards, duplicate-
    cluster size histogram, sequence-length budget, and the staged
    curation funnel — each written as parquet under `output_dir` with
    a headline summary on stdout. Every table is a declared, oracle-
    checked query; this just materializes them side by side.

    The four parts are independent plans, so each is built and written
    by its own thread of a 4-thread pool, and each part's row count is
    an observation on its own write. `inheritable_thread_target` hands
    every thread the caller's job group and tags."""
    from glaciersgee_spark.operators.dedup import (
        q_e_curation_funnel,
        q_e_dup_sizes,
    )
    from glaciersgee_spark.operators.drift import (
        q_e_len_buckets,
        q_e_summary_card,
    )

    parts = {
        "cards": q_e_summary_card,
        "dup_sizes": q_e_dup_sizes,
        "len_buckets": q_e_len_buckets,
        "funnel": q_e_curation_funnel,
    }
    # Every part scans `documents`: load it once here so the threads hit
    # load_table's memo instead of each re-reading the parquet footer.
    load_table(spark, sf_dir, "documents")

    # No lock needed: only q_e_curation_funnel touches `caches`, and no
    # two parts share a tag.
    @pyspark.inheritable_thread_target(spark)
    def write_part(name: str) -> int:
        df, obs = _observed(parts[name](spark, sf_dir), n=F.count(F.lit(1)))
        df.write.mode("overwrite").parquet(f"{output_dir}/{name}")
        return obs.get["n"]

    with ThreadPoolExecutor(max_workers=len(parts)) as pool:
        counts = dict(zip(parts, pool.map(write_part, parts)))
    return {"output_dir": output_dir, **counts}
