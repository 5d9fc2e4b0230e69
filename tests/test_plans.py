"""Physical-plan assertions — the 100 TB discipline checks.

These tests pin the *plan shape*, not just the answer: pushdown must
reach the parquet scan, projections must prune columns, small dims must
broadcast, top-k must not global-sort, and hot relational paths must
stay inside WholeStageCodegen with no Python evaluation. The
inspection helpers live in glaciersgee_spark.plans.inspect so the same
checks are usable outside tests.
"""

from contextlib import nullcontext

import pyspark.sql.functions as F
import pytest

from glaciersgee_spark.operators.relational import (
    pricing_summary,
    q_b_join_broadcast,
    q_b_join_bucketed,
    q_b_limit_topk,
    q_b_scan_parquet,
)
from glaciersgee_spark.plans import inspect as PI
from glaciersgee_spark.session import conf_window
from glaciersgee_spark.tables import load_table
from tests.conftest import SF_SMOKE


def test_scan_pushes_filters_and_prunes_columns(spark):
    df = q_b_scan_parquet(spark, SF_SMOKE)
    pushed = PI.pushed_filters(df)
    assert "GreaterThanOrEqual(l_quantity,48.0)" in pushed
    assert "Not(EqualTo(l_returnflag,N))" in pushed
    # ReadSchema restricted to the projected+filtered columns only
    read = PI.read_schemas(df)[0]
    for col in ["l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"]:
        assert col in read
    for col in ["l_extendedprice", "l_shipdate", "l_partkey"]:
        assert col not in read


def test_date_filter_pushed_to_scan(spark):
    li = load_table(spark, SF_SMOKE, "lineitem")
    df = li.where(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp_ntz")
    ).select("l_orderkey")
    assert any("LessThanOrEqual(l_shipdate" in p for p in PI.pushed_filters(df))


def test_small_dim_broadcasts(spark):
    plan = PI.executed(q_b_join_broadcast(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_join_has_no_join_exchange(spark):
    df = q_b_join_bucketed(spark, SF_SMOKE)
    plan = PI.formatted(df)
    # merge-hinted SMJ over co-bucketed scans: the ONLY exchange in the
    # whole plan is the final aggregation's — the join itself reads
    # bucket-aligned partitions with no shuffle.
    assert "SortMergeJoin" in plan
    assert PI.count_shuffles(plan) <= 1


def test_topk_avoids_global_sort(spark):
    plan = PI.executed(q_b_limit_topk(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_flagship_is_pure_jvm_with_partial_agg(spark):
    df = pricing_summary(spark, SF_SMOKE)
    plan = PI.executed(df)
    # no Python boundary anywhere in the hot path
    assert not PI.has_python_boundary(plan)
    assert PI.codegen_span_count(plan) >= 2
    # partial+final hash aggregation (map-side combine before shuffle)
    assert plan.count("HashAggregate") >= 2


def test_shuffle_count_flagship(spark):
    # fan_out repartition + the 2-key aggregate exchange + the final
    # orderBy range exchange; anything above that is a regression.
    plan = PI.formatted(pricing_summary(spark, SF_SMOKE))
    assert 1 <= PI.count_shuffles(plan) <= 3


def test_aqe_enabled_for_engine_sessions(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


@pytest.mark.parametrize("body_raises", [False, True])
def test_conf_window_restores_set_keys_and_unsets_unset_ones(spark, body_raises):
    """session.conf_window puts a key that had a value back to it and
    unsets a key that had none — after a normal exit and after a body
    that raises (the exception still reaches the caller)."""
    was_set, was_unset = "spark.ggee.test.was_set", "spark.ggee.test.was_unset"
    spark.conf.set(was_set, "old")
    spark.conf.unset(was_unset)
    with pytest.raises(RuntimeError) if body_raises else nullcontext():
        with conf_window(spark, {was_set: "new", was_unset: "new"}):
            assert spark.conf.get(was_set) == spark.conf.get(was_unset) == "new"
            if body_raises:
                raise RuntimeError("body failed")
    assert spark.conf.get(was_set, None) == "old"
    assert spark.conf.get(was_unset, None) is None
    spark.conf.unset(was_set)


def test_trailing_window_single_shuffle(spark):
    from glaciersgee_spark.operators.relational import q_b_window_trailing

    plan = PI.formatted(q_b_window_trailing(spark, SF_SMOKE))
    # one exchange for the window's partitionBy(user_id); nothing else
    assert PI.count_shuffles(plan) == 1
    assert "Window" in plan


def test_framesample_is_shuffle_free_jvm_path(spark):
    from glaciersgee_spark.operators.multimodal import q_e_mm_framesample

    df = q_e_mm_framesample(spark, SF_SMOKE)
    plan = PI.formatted(df)
    assert PI.count_shuffles(plan) == 0
    assert not PI.has_python_boundary(PI.executed(df))


def test_decontaminate_broadcasts_eval_side(spark):
    from glaciersgee_spark.operators.text import q_e_decontaminate

    plan = PI.executed(q_e_decontaminate(spark, SF_SMOKE))
    # the eval-postings join must be a broadcast — the training corpus
    # never shuffles by shingle key
    assert "BroadcastHashJoin" in plan


def test_doc_chunk_is_shuffle_free(spark):
    from glaciersgee_spark.operators.text import q_e_doc_chunk

    plan = PI.formatted(q_e_doc_chunk(spark, SF_SMOKE))
    # sequence+posexplode row expansion happens inside the scan stage
    assert PI.count_shuffles(plan) == 0
    assert "Generate" in plan


def test_ngram_lm_broadcasts_vocab(spark):
    from glaciersgee_spark.operators.text import q_e_ngram_lm

    plan = PI.executed(q_e_ngram_lm(spark, SF_SMOKE))
    # token instances never shuffle by token: the vocab-count side is
    # broadcast, so the only wide ops are the two aggregations
    assert "BroadcastHashJoin" in plan


def test_mix_weights_broadcasts_normalizer(spark):
    from glaciersgee_spark.operators.text import q_e_mix_weights

    plan = PI.executed(q_e_mix_weights(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_rollup_multires_reaggregates_partials(spark):
    from glaciersgee_spark.operators.etl import q_a_rollup_multires

    plan = PI.formatted(q_a_rollup_multires(spark, SF_SMOKE))
    # Re-aggregation shape: the fact is aggregated to the hourly grain
    # FIRST (shuffle 1), then Expand runs over the ~720 partial rows
    # for the rollup (shuffle 2). The Expand must sit ABOVE the first
    # HashAggregate — i.e. the raw event scan is never tripled.
    assert "Expand" in plan
    assert PI.count_shuffles(plan) == 2


def test_dpp_prunes_fact_partitions(spark):
    """The dim-side year filter must reach the partitioned fact scan as
    a dynamic-pruning partition filter (the 100 TB date-range shape)."""
    from glaciersgee_spark.operators.relational import q_b_join_dpp

    plan = PI.formatted(q_b_join_dpp(spark, SF_SMOKE))
    assert "dynamicpruning" in plan.lower()


def test_stratified_sample_is_narrow(spark):
    """Hash-bucket sampling is a pure scan-side filter: no exchange."""
    from glaciersgee_spark.operators.text import q_e_stratified_sample

    plan = PI.formatted(q_e_stratified_sample(spark, SF_SMOKE))
    assert "Exchange" not in plan


def test_ann_recall_shares_persisted_subtrees(spark):
    """The recall audit's banding pass and ground-truth panel are
    persisted and reused — the plan must read cached subtrees, keep a
    bounded shuffle count, and the only Python boundary is the declared
    Arrow panel kernel."""
    from glaciersgee_spark.operators.similarity import q_e_ann_recall

    df = q_e_ann_recall(spark, SF_SMOKE)
    f = PI.formatted(df)
    x = PI.executed(df)
    # ceiling has slack: the pre-execution count depends on whether the
    # shared persisted subtrees were already built by an earlier query
    # (unmaterialized InMemoryRelation lineage still shows its exchanges)
    assert PI.count_shuffles(f) <= 10
    assert "CartesianProduct" not in x
    assert "InMemoryTableScan" in x or "TableCacheQueryStage" in x


def test_ivf_recall_shares_persisted_subtrees(spark):
    from glaciersgee_spark.operators.similarity import q_e_ivf_recall

    df = q_e_ivf_recall(spark, SF_SMOKE)
    f = PI.formatted(df)
    x = PI.executed(df)
    assert PI.count_shuffles(f) <= 12
    assert "CartesianProduct" not in x
    assert "InMemoryTableScan" in x or "TableCacheQueryStage" in x


def test_dedup_cluster_stays_jvm_side(spark):
    """Label propagation is joins+groupBys only: no Python boundary,
    no cartesian, dims broadcast."""
    from glaciersgee_spark.operators.dedup import q_e_dedup_cluster

    df = q_e_dedup_cluster(spark, SF_SMOKE)
    x = PI.executed(df)
    assert not PI.has_python_boundary(x)
    assert "CartesianProduct" not in x


def test_curation_funnel_reuses_cached_loser_set(spark):
    """The funnel must consume q_e_dedup_near_md5's persisted pair set
    (one InMemoryTableScan) and broadcast the loser side — never
    recompute the shingle→minhash→band chain inline."""
    from glaciersgee_spark.operators.dedup import q_e_curation_funnel

    df = q_e_curation_funnel(spark, SF_SMOKE)
    x = PI.executed(df)
    assert "InMemoryTableScan" in x or "TableCacheQueryStage" in x
    assert "BroadcastHashJoin" in x
    assert not PI.has_python_boundary(x)


def test_dedup_simhash_bounded_shuffles_jvm_only(spark):
    """48 bit-vote sums ride ONE map-side-combined aggregate; banding
    adds the pair groupBy and the verify join — 4 shuffles ceiling,
    all JVM."""
    from glaciersgee_spark.operators.dedup import q_e_dedup_simhash

    df = q_e_dedup_simhash(spark, SF_SMOKE)
    f = PI.formatted(df)
    x = PI.executed(df)
    assert PI.count_shuffles(f) <= 4
    assert not PI.has_python_boundary(x)
    assert "CartesianProduct" not in x


def test_quality_classifier_is_narrow_jvm(spark):
    from glaciersgee_spark.operators.curation import q_e_quality_classifier

    df = q_e_quality_classifier(spark, SF_SMOKE)
    plan = PI.executed(df)
    assert PI.count_shuffles(plan) == 0
    assert not PI.has_python_boundary(plan)


def test_window_dedup_has_no_pair_join(spark):
    """The shared-window set must come from an aggregate (count
    distinct docs per hash), never a self-join that pairs doc ids."""
    from glaciersgee_spark.operators.curation import q_e_window_dedup

    df = q_e_window_dedup(spark, SF_SMOKE)
    plan = PI.executed(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan  # shared set broadcasts back
    assert plan.count("SortMergeJoin") == 0


def test_kmeans_iter_broadcasts_centroids(spark):
    from glaciersgee_spark.operators.similarity import q_e_kmeans_iter

    df = q_e_kmeans_iter(spark, SF_SMOKE)
    plan = PI.executed(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_nullsafe_join_is_hash_join(spark):
    from glaciersgee_spark.operators.relational import q_b_join_nullsafe

    df = q_b_join_nullsafe(spark, SF_SMOKE)
    plan = PI.executed(df)
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_lateral_join_is_decorrelated(spark):
    """The correlated LATERAL (top-2 per customer) must plan as a
    windowed rank + hash join — never a per-row nested loop."""
    from glaciersgee_spark.operators.relational import q_b_join_lateral

    df = q_b_join_lateral(spark, SF_SMOKE)
    plan = PI.executed(df)
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert "Window" in plan


def test_span_dedup_no_pair_expansion(spark):
    """The cross-doc shingle index is an aggregate + key join — never a
    pair self-join or cartesian; everything stays JVM-side."""
    from glaciersgee_spark.operators.spans import q_e_span_dedup

    df = q_e_span_dedup(spark, SF_SMOKE)
    x = PI.executed(df)
    assert "CartesianProduct" not in x
    assert not PI.has_python_boundary(x)


def test_winnow_bounded_shuffles_jvm_only(spark):
    """Window membership is a narrow explode; the min/argmin passes and
    rollups keep a bounded shuffle budget, all JVM."""
    from glaciersgee_spark.operators.spans import q_e_winnow

    df = q_e_winnow(spark, SF_SMOKE)
    f = PI.formatted(df)
    x = PI.executed(df)
    assert PI.count_shuffles(f) <= 10
    assert "CartesianProduct" not in x
    assert not PI.has_python_boundary(x)


def test_ngram_novelty_no_pair_expansion(spark):
    from glaciersgee_spark.operators.drift import q_e_ngram_novelty

    df = q_e_ngram_novelty(spark, SF_SMOKE)
    x = PI.executed(df)
    assert "CartesianProduct" not in x
    assert not PI.has_python_boundary(x)


def test_embed_gram_python_boundary_is_single_narrow_map(spark):
    """The only Python crossing is the partial-Gram kernel BEFORE the
    shuffle: the groupBy merge must see 64x64 partial rows, not raw
    vectors, and there is exactly one aggregation exchange."""
    from glaciersgee_spark.operators.linalg import q_e_embed_gram

    df = q_e_embed_gram(spark, SF_SMOKE)
    f = PI.formatted(df)
    x = PI.executed(df)
    assert PI.has_python_boundary(x)  # the declared kernel
    # fan_out repartition + agg exchange + final sort
    assert PI.count_shuffles(f) <= 3
    assert "CartesianProduct" not in x


def test_snapshot_diff_single_join_pass(spark):
    """One FULL OUTER JOIN classifies every row; no Python, no
    cartesian, single join in the plan."""
    from glaciersgee_spark.operators.warehouse import q_b_snapshot_diff

    df = q_b_snapshot_diff(spark, SF_SMOKE)
    x = PI.executed(df)
    assert not PI.has_python_boundary(x)
    assert "CartesianProduct" not in x
    # AQE output prints the join in both the final and the initial plan;
    # assert the SHAPE (full-outer hash-family join, no nested loop).
    assert "FullOuter" in x
    assert "BroadcastNestedLoopJoin" not in x


def test_scd2_windows_share_one_exchange(spark):
    """lag, running-sum, per-run agg and lead all partition by user_id:
    the plan must not re-shuffle between them."""
    from glaciersgee_spark.operators.warehouse import q_b_scd2

    df = q_b_scd2(spark, SF_SMOKE)
    f = PI.formatted(df)
    assert PI.count_shuffles(f) <= 2  # fan-in to user_id + nothing else
    assert not PI.has_python_boundary(PI.executed(df))


def test_knn_graph_pairs_stay_cell_scoped(spark):
    """Edges come from an equi join on cell id — never a cartesian —
    and the only Python boundary is the cosine kernel."""
    from glaciersgee_spark.operators.similarity import q_e_knn_graph

    df = q_e_knn_graph(spark, SF_SMOKE)
    x = PI.executed(df)
    assert "CartesianProduct" not in x
    # the member×member pair join must be a HASH join on cell id; the
    # only nested-loop allowed is _km_assign's declared 8-row broadcast
    # centroid cross join
    assert "BroadcastHashJoin" in x
    # _km_assign's 8-row broadcast centroid cross join shows up as a
    # BroadcastNestedLoopJoin in EVERY member lineage (plus AQE's
    # initial-plan echo) — bounded, declared; the unbounded shapes
    # (CartesianProduct / ShuffledNestedLoop) stay banned
    assert "ShuffledNestedLoopJoin" not in x


def test_diversity_sample_no_pair_expansion(spark):
    """Coreset selection is windows over the assignment — no self-join
    of members at all."""
    from glaciersgee_spark.operators.similarity import q_e_diversity_sample

    df = q_e_diversity_sample(spark, SF_SMOKE)
    x = PI.executed(df)
    assert "CartesianProduct" not in x
    # both rank windows ride the same (cid) partitioning
    f = PI.formatted(df)
    assert PI.count_shuffles(f) <= 6


def test_skew_audit_two_aggregations_only(spark):
    from glaciersgee_spark.operators.warehouse import q_b_skew_audit

    df = q_b_skew_audit(spark, SF_SMOKE)
    f = PI.formatted(df)
    assert PI.count_shuffles(f) <= 3
    assert not PI.has_python_boundary(PI.executed(df))


def test_bbox_contains_broadcasts_aoi_cells(spark):
    """The spatial containment join must be a broadcast equi-join on
    the grid-cell key (small AOI set), pure JVM, with the refine
    predicate as a join residual — never a nested-loop theta join of
    the full point set."""
    from glaciersgee_spark.operators.spatial import q_a_bbox_contains

    df = q_a_bbox_contains(spark, SF_SMOKE)
    x = PI.executed(df)
    assert "BroadcastHashJoin" in x
    assert "CartesianProduct" not in x and "BroadcastNestedLoopJoin" not in x
    assert not PI.has_python_boundary(x)


def test_bbox_overlap_claim_cell_needs_no_distinct(spark):
    """Claim-cell dedup means the pair stream is exact without any
    HashAggregate(distinct) stage between the join and the rollup."""
    from glaciersgee_spark.operators.spatial import q_a_bbox_overlap

    df = q_a_bbox_overlap(spark, SF_SMOKE)
    x = PI.executed(df)
    assert "BroadcastHashJoin" in x
    assert "CartesianProduct" not in x and "BroadcastNestedLoopJoin" not in x
    # join → per-AOI agg → final AOI join → sort: ≤4 exchanges, and no
    # extra dedup aggregation keyed on the pair
    assert PI.count_shuffles(PI.formatted(df)) <= 4


def test_compaction_plan_prefix_sum_is_chunk_partitioned(spark):
    """The two-phase prefix sum: the per-file running sum must ride a
    chunk-partitioned window (parallel), with SinglePartition reserved
    for the chunk-totals pass and the 1-row target aggregate."""
    from glaciersgee_spark.operators.warehouse import q_b_compaction_plan

    df = q_b_compaction_plan(spark, SF_SMOKE)
    x = PI.executed(df)
    # the per-file window is partitioned by the chunk key
    assert "windowspecdefinition(chunk#" in x
    assert not PI.has_python_boundary(x)


def test_char_entropy_single_rollup_shuffle(spark):
    """27 replace() counts + the entropy fold are one scan-side
    projection: the only exchanges are the per-lang rollup and the
    final sort — and nothing leaves the JVM."""
    from glaciersgee_spark.operators.curation import q_e_char_entropy

    df = q_e_char_entropy(spark, SF_SMOKE)
    assert PI.count_shuffles(PI.formatted(df)) <= 2
    assert not PI.has_python_boundary(PI.executed(df))


def test_gopher_rules_pure_jvm(spark):
    from glaciersgee_spark.operators.curation import q_e_gopher_rules

    df = q_e_gopher_rules(spark, SF_SMOKE)
    assert not PI.has_python_boundary(PI.executed(df))
    assert "CartesianProduct" not in PI.executed(df)


def test_rolling_distinct_has_no_global_window(spark):
    """Round-4 rewrite: the trailing-7 WAU must come from the
    day-explode + per-day countDistinct spelling — no window operator
    (a global range frame would funnel every (day, user) pair through
    one task) and no single-partition exchange on the counting path."""
    from glaciersgee_spark.operators.warehouse import q_b_rolling_distinct

    x = PI.executed(q_b_rolling_distinct(spark, SF_SMOKE))
    assert "windowspecdefinition" not in x
    assert "Window" not in x


def test_lateness_audit_window_is_hour_partitioned(spark):
    """Round-5 rewrite: the arrival-order running max must ride the
    two-phase chunked prefix max — the per-row window is partitioned
    by the hour chunk (never a full-corpus single-partition window);
    the unpartitioned window is reserved for the bounded |hours|-row
    chunk-maxima pass, whose offsets come back via broadcast join."""
    from glaciersgee_spark.streaming.batch_equiv import q_d_lateness_audit

    x = PI.executed(q_d_lateness_audit(spark, SF_SMOKE))
    assert "windowspecdefinition(hr#" in x
    assert "BroadcastHashJoin" in x


def test_zipf_and_pmi_use_distributed_topk(spark):
    """Round-4 rewrite: vocab top-K must be TakeOrdered (distributed
    per-partition heaps), never a row_number window over the full
    vocabulary; zipf's re-rank window runs on the 1000-row result,
    AFTER the TakeOrdered cut."""
    from glaciersgee_spark.operators.drift import q_e_pmi
    from glaciersgee_spark.operators.text import q_e_zipf_slope

    zx = PI.executed(q_e_zipf_slope(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in zx
    px = PI.executed(q_e_pmi(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in px
    assert "windowspecdefinition" not in px


def test_sort_rank_window_is_chunk_partitioned(spark):
    """Round-4 rewrite: q_b_sort's global rank must ride the two-phase
    chunked prefix-sum — the per-row row_number window is partitioned
    by the chunk key, with SinglePartition reserved for the bounded
    chunk-totals pass, and the chunk offsets broadcast back."""
    from glaciersgee_spark.operators.relational import q_b_sort

    x = PI.executed(q_b_sort(spark, SF_SMOKE))
    assert "windowspecdefinition(ck#" in x
    assert "BroadcastHashJoin" in x


def test_chunked_prefix_plan_and_consumers_build_without_jobs(spark):
    """tables.chunked_prefix's plan: the per-row window is partitioned
    by by + chunk, the only other window sits above the totals
    aggregate, the offsets come back through a broadcast hash join, and
    no row crosses into Python. Building any of its consumers launches
    no Spark job."""
    import re

    from glaciersgee_spark.caches import clear_caches
    from glaciersgee_spark.operators.curation import (
        q_e_conformal_gate,
        q_e_pack_audit,
        q_e_rank_corr,
        q_e_score_knee,
        q_e_weighted_sample,
        q_e_winsorize,
    )
    from glaciersgee_spark.operators.dedup import q_e_dedup_blocking
    from glaciersgee_spark.operators.drift import q_e_gini_mass
    from glaciersgee_spark.operators.relational import q_b_sort
    from glaciersgee_spark.operators.retrieval import q_e_rrf_fusion
    from glaciersgee_spark.operators.warehouse import q_b_compaction_plan
    from glaciersgee_spark.tables import chunked_prefix

    df = spark.range(200).select(
        "id",
        (F.col("id") % 3).cast("string").alias("g"),
        (F.col("id") * 7 % 11).alias("v"),
        F.expr("id div 16").alias("chunk"),
    )
    # auto-broadcast off: only the helper's own hint may broadcast
    with conf_window(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
        plan = PI.formatted(
            chunked_prefix(df, ["g"], ["chunk"], ["id"], {"cum": "v", "rk": None})
        )
    tree = plan.split("\n\n")[0].splitlines()
    windows = [i for i, line in enumerate(tree) if re.search(r"Window \(\d+\)", line)]
    assert len(windows) == 2, plan
    # first operator below each window that is not its Sort/Exchange
    below = [
        next(
            re.sub(r"[\s:+\-|]*", "", line, count=1).split()[0]
            for line in tree[i + 1 :]
            if not re.search(r"(Sort|Exchange) \(\d+\)", line)
        )
        for i in windows
    ]
    assert sorted(below) == ["HashAggregate", "Project"], (below, plan)
    assert re.search(r"row_number\(\) windowspecdefinition\(g#\d+, chunk#\d+", plan)
    assert re.search(r"sum\(v#\d+L\) windowspecdefinition\(g#\d+, chunk#\d+", plan)
    assert "BroadcastHashJoin" in plan and "BroadcastExchange" in plan, plan
    assert not PI.has_python_boundary(plan)

    consumers = [
        q_b_sort,
        q_b_compaction_plan,
        q_e_weighted_sample,
        q_e_rank_corr,
        q_e_conformal_gate,
        q_e_winsorize,
        q_e_pack_audit,
        q_e_score_knee,
        q_e_gini_mass,
        q_e_dedup_blocking,
        q_e_rrf_fusion,
    ]
    for table in ("orders", "documents", "embeddings"):
        load_table(spark, SF_SMOKE, table)  # one-time footer reads
    clear_caches()
    spark.catalog.clearCache()
    tracker = spark.sparkContext.statusTracker()
    eager = []
    for q in consumers:
        before = len(tracker.getJobIdsForGroup(None))
        q(spark, SF_SMOKE)
        if len(tracker.getJobIdsForGroup(None)) != before:
            eager.append(q.__name__)
    assert not eager, f"plan build launched a job: {eager}"


def test_local_frame_matches_create_dataframe_as_local_relation(spark):
    """tables.local_frame returns what spark.createDataFrame returns on
    the same rows and schema, for every type the package's call sites
    pass (and the collected rows of q_b_join_skew_aqe): equal rows,
    NaN, -0.0 and infinities included, and an equal schema, also for
    an empty row list. Unlike the list spelling it is a JVM local
    relation: LocalTableScan, no ExistingRDD, and collect() launches
    no Spark job."""
    import datetime

    from pyspark.sql import types as T

    from glaciersgee_spark.operators.relational import _skew_aqe_frame
    from glaciersgee_spark.tables import local_frame

    nan, inf = float("nan"), float("inf")
    day = datetime.date
    skew = _skew_aqe_frame(spark, SF_SMOKE)
    skew_rows = skew.collect()
    assert skew_rows
    cases = [
        (
            "a long, i int, x double, s string, b boolean, d date, v array<double>",
            [
                (1, 2, 0.5, "plain", True, day(2024, 1, 31), [1.0, -0.0]),
                (-(2**63), -(2**31), nan, "Grüße, 氷河 ✓", False, day(1970, 1, 1), []),
                (2**63 - 1, 2**31 - 1, -0.0, "", None, None, None),
                (None, None, inf, None, True, day(9999, 1, 1), [nan, inf, -inf, None]),
                (0, 0, -inf, "x", False, day(1, 1, 1), [2.5e-300]),
                (7, 7, None, "y", None, day(2000, 2, 29), [0.1, 0.2]),
            ],
        ),
        (
            T.StructType(
                [
                    T.StructField("step", T.IntegerType(), False),
                    T.StructField("feature", T.StringType()),
                    T.StructField("w6", T.DoubleType()),
                    T.StructField("day", T.DateType()),
                ]
            ),
            [(1, "len", 0.25, day(2024, 3, 1)), (2, "ünï", nan, None)],
        ),
        (skew.schema, skew_rows),
    ]
    tracker = spark.sparkContext.statusTracker()
    for schema, rows in cases:
        for data in (rows, []):
            old = spark.createDataFrame(data, schema)
            new = local_frame(spark, data, schema)
            assert new.schema == old.schema
            before = len(tracker.getJobIdsForGroup(None))
            got = new.collect()
            assert len(tracker.getJobIdsForGroup(None)) == before, "collect ran a job"
            # repr tells NaN and -0.0 apart, where == cannot
            assert repr(got) == repr(old.collect())
            plan = PI.formatted(new)
            assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_bm25_has_no_eager_scan_at_build(spark):
    """Round-4 rewrite: building the bm25 plan must not run a count()
    job; the corpus size rides the same 1-row broadcast scalar as
    avgdl (plan shows the broadcast, build triggers no action)."""
    from glaciersgee_spark.operators.text import q_e_bm25

    load_table(spark, SF_SMOKE, "documents")  # one-time footer read
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    df = q_e_bm25(spark, SF_SMOKE)
    after = tracker.getJobIdsForGroup(None)
    assert len(after) == len(before), "plan build must not launch a job"
    assert "BroadcastNestedLoopJoin" in PI.executed(df)


def test_kmt_train_job_budget_and_no_persist(spark):
    """_kmt_train is a declared iterative algorithm, so it may launch
    jobs at build time — but a bounded number: one seed collect plus
    at most 4 jobs per Lloyd's round (assignment-pass shuffle, panel
    broadcast, stats shuffle, the one collect), 13 in all. The panel
    is a tables.local_frame, so its broadcast is a JVM collect of a
    local relation with no Python task. Training must also
    leave no persisted frame behind: the round state lives in
    collected driver lists."""
    from glaciersgee_spark.caches import clear_caches
    from glaciersgee_spark.operators.similarity import KMT_ROUNDS, _kmt_train

    sc = spark.sparkContext
    load_table(spark, SF_SMOKE, "embeddings")  # one-time footer read
    clear_caches()
    spark.catalog.clearCache()
    persisted = set(sc._jsc.getPersistentRDDs().keys())
    tracker = sc.statusTracker()
    group = "test_kmt_train_job_budget"
    sc.setJobGroup(group, group)
    try:
        stats, cent = _kmt_train(spark, SF_SMOKE)
    finally:
        sc._jsc.clearJobGroup()
    n_jobs = len(tracker.getJobIdsForGroup(group))
    assert stats and cent
    assert n_jobs <= 1 + 4 * KMT_ROUNDS, n_jobs
    assert set(sc._jsc.getPersistentRDDs().keys()) <= persisted


def test_hll_rolling_shuffles_sketches_not_users(spark):
    """q_b_hll_rolling's approximate path must aggregate sketches:
    hll_sketch_agg partials on the scan side, hll_union_agg after the
    per-day shuffle — never a distinct-user expansion on that path."""
    from glaciersgee_spark.operators.warehouse import q_b_hll_rolling

    x = PI.executed(q_b_hll_rolling(spark, SF_SMOKE))
    assert "hll_sketch_agg" in x and "hll_union_agg" in x
    assert not PI.has_python_boundary(x)


def test_incr_agg_delta_filter_pushed_to_scan(spark):
    """Each branch aggregate must apply its split predicate at the
    scan stage — the whole point is never rescanning the base fact.
    Parquet can't push a modulo, so the pushable half (IsNotNull on
    the split key) must appear on BOTH branch scans and the modulo
    itself must sit in scan-side Filter nodes ahead of the aggregate
    (two of them: base %11<>0, delta %11=0)."""
    from glaciersgee_spark.operators.warehouse import q_b_incr_agg

    df = q_b_incr_agg(spark, SF_SMOKE)
    pushed = PI.pushed_filters(df)
    assert sum("o_orderkey" in p for p in pushed) >= 2, pushed
    x = PI.executed(df)
    n_mod_filters = x.count("% 11")
    assert n_mod_filters >= 2, f"expected both split filters in plan:\n{x}"


def test_join_bloom_prefilters_fact_before_exact_join(spark):
    """Round-5 q_b_join_bloom: the fact side must pass the bloom bit
    tests (shiftleft masks via broadcast word-table joins) before the
    exact equi-join — ≥3 broadcast joins (two probe words + the dim),
    no sort-merge join, no python boundary, and the bit-test filter
    present in the executed plan."""
    from glaciersgee_spark.operators.relational import q_b_join_bloom

    x = PI.executed(q_b_join_bloom(spark, SF_SMOKE))
    assert x.count("BroadcastHashJoin") >= 3
    assert "shiftleft" in x
    assert "SortMergeJoin" not in x
    assert not PI.has_python_boundary(x)


def test_countmin_sketch_is_bounded_and_broadcast(spark):
    """Round-5 q_b_countmin_freq: the probe joins the 768-row sketch
    via broadcast (never shuffling the panel against the corpus), and
    the whole plan stays JVM-side."""
    from glaciersgee_spark.operators.warehouse import q_b_countmin_freq

    x = PI.executed(q_b_countmin_freq(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in x
    assert not PI.has_python_boundary(x)


def test_feature_hashing_is_one_expand_pass(spark):
    """Round-5 q_e_feature_hashing: the two COUNT(DISTINCT) must share
    one Expand (not two scans), with the doc_id sample filter pushed
    to the parquet scan."""
    from glaciersgee_spark.operators.text import q_e_feature_hashing

    df = q_e_feature_hashing(spark, SF_SMOKE)
    x = PI.executed(df)
    assert x.count("Expand") >= 1
    assert not PI.has_python_boundary(x)
    assert any("doc_id" in p for p in PI.pushed_filters(df))


def test_retrieval_ndcg_reuses_persisted_audit_subtrees(spark):
    """Round-5 q_e_retrieval_ndcg: rides the shared banding/panel
    caches like the recall audits — cached subtrees read back, no
    cartesian beyond the declared 5-row panel broadcast, bounded
    shuffle count."""
    from glaciersgee_spark.operators.similarity import q_e_retrieval_ndcg

    df = q_e_retrieval_ndcg(spark, SF_SMOKE)
    f = PI.formatted(df)
    x = PI.executed(df)
    assert PI.count_shuffles(f) <= 12
    assert "CartesianProduct" not in x
    assert "InMemoryTableScan" in x or "TableCacheQueryStage" in x


def test_join_cardest_samples_before_the_join(spark):
    """Round-5 q_b_join_cardest: the md5 key gate must sit in the scan
    stage of BOTH sampled inputs (two md5 filters ahead of the sampled
    join), with the 1-row aggregates merged by broadcast, and no
    Python boundary."""
    from glaciersgee_spark.operators.relational import q_b_join_cardest

    x = PI.executed(q_b_join_cardest(spark, SF_SMOKE))
    assert x.count("md5") >= 2
    assert "BroadcastNestedLoopJoin" in x or "BroadcastHashJoin" in x
    assert not PI.has_python_boundary(x)


def test_scan_binary_reads_whole_files(spark):
    """Round-5 q_b_scan_binary: the binaryFile source must appear in
    the plan (whole-file rows), with the digest computed JVM-side."""
    from glaciersgee_spark.operators.relational import q_b_scan_binary

    df = q_b_scan_binary(spark, SF_SMOKE)
    x = PI.executed(df)
    assert "binaryFile" in x or "content" in x
    assert not PI.has_python_boundary(x)
    assert df.count() == 4


def test_scan_pysource_plans_declared_partitions(spark):
    """Round-5 q_b_scan_pysource: the custom Python source must plan
    its 4 declared InputPartitions (checked via the source RDD's
    partition count) and feed an ordinary combinable aggregate."""
    from glaciersgee_spark.sources.pysource import (
        N_PARTS,
        ROWS_PER_PART,
        SceneManifestDataSource,
    )

    spark.dataSource.register(SceneManifestDataSource)
    m = spark.read.format("ggee_scene_manifest").load()
    assert m.rdd.getNumPartitions() == N_PARTS
    assert m.count() == N_PARTS * ROWS_PER_PART


def test_ivf_probe_curve_single_grid_window(spark):
    """Round-5 q_e_ivf_probe_curve: all four curve points ride ONE
    (qid, nprobe)-partitioned rank window over the grid-expanded
    candidates (never a per-nprobe re-scan), no cartesian, Arrow panel
    kernel is the only Python boundary."""
    from glaciersgee_spark.operators.similarity import q_e_ivf_probe_curve

    df = q_e_ivf_probe_curve(spark, SF_SMOKE)
    x = PI.executed(df)
    assert "CartesianProduct" not in x
    assert x.count("windowspecdefinition(qid#") >= 1
    rows = df.collect()
    # recall is monotone non-decreasing in nprobe per query
    by_q = {}
    for r in rows:
        by_q.setdefault(r.qid, []).append((r.nprobe, r.n_hit))
    for q, pts in by_q.items():
        hs = [h for _, h in sorted(pts)]
        assert hs == sorted(hs), (q, hs)


def test_nearest_aoi_plan_is_joinless(spark):
    """The literal-array argmin form must compile to a plan with NO
    join operator at all — the whole point vs the crossJoin spelling."""
    from glaciersgee_spark.operators.spatial import q_a_nearest_aoi
    from glaciersgee_spark.plans import inspect as PI

    plan = PI.formatted(q_a_nearest_aoi(spark, SF_SMOKE))
    assert "Join" not in plan, plan
    assert not PI.has_python_boundary(plan)


def test_bloom_dedup_probe_joins_broadcast(spark):
    """Both word-lookup probes and the exact verify join must broadcast
    the sketch/catalog side — the fact never shuffles for membership."""
    from glaciersgee_spark.operators.dedup import q_e_bloom_dedup
    from glaciersgee_spark.plans import inspect as PI

    plan = PI.formatted(q_e_bloom_dedup(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 3, plan
    assert "SortMergeJoin" not in plan, plan


def test_js_drift_reaggregates_from_partials(spark):
    """Corpus totals must derive from the (source, token) partials —
    exactly ONE exchange should read the raw token stream (plus the
    co-partition/broadcast exchanges downstream of the partials)."""
    from glaciersgee_spark.operators.drift import q_e_js_drift
    from glaciersgee_spark.plans import inspect as PI

    plan = PI.formatted(q_e_js_drift(spark, SF_SMOKE))
    tree = plan.split("(1) ")[0]
    # the (source, token) partials are a persisted shared frame: all
    # four consumers (st/ct/ns/nn) must read InMemoryTableScan — the
    # corpus explode+count runs ONCE to build the cache, never per
    # branch (Catalyst has no cross-branch subtree reuse)
    assert tree.count("InMemoryTableScan") >= 4, tree
    assert not PI.has_python_boundary(plan)


def test_gini_mass_single_window_partitioned_by_lang(spark):
    from glaciersgee_spark.operators.drift import q_e_gini_mass
    from glaciersgee_spark.plans import inspect as PI

    import re

    plan = PI.formatted(q_e_gini_mass(spark, SF_SMOKE))
    # two-phase chunked rank: the corpus-sized window partitions by
    # (lang, bucket) — partition-parallel under language skew — and
    # the only other window (the offsets running count) runs over the
    # bucket TOTALS, never the corpus
    assert len(re.findall(r"Window\s+\(\d+\)", plan)) == 2, plan
    assert re.search(r"windowspecdefinition\(lang#\d+, bch#\d+", plan), plan
    assert not PI.has_python_boundary(plan)


def test_paginate_keyset_is_takeordered_not_sort(spark):
    """Both the boundary and the page must compile to
    TakeOrderedAndProject (per-partition heaps) — no global Sort, no
    OFFSET-style produce-and-discard."""
    from glaciersgee_spark.operators.relational import q_b_paginate_keyset
    from glaciersgee_spark.plans import inspect as PI

    tree = PI.formatted(q_b_paginate_keyset(spark, SF_SMOKE)).split("(1) ")[0]
    assert tree.count("TakeOrderedAndProject") >= 2, tree
    assert "+- Sort" not in tree, tree
    assert "BroadcastExchange" in tree, tree  # 1-row boundary broadcast


def test_skyline_has_no_quadratic_stage(spark):
    """Round-6 rewrite: the 2-D skyline is exact prefix-max algebra —
    the plan must contain NO nested-loop join (round 5's survivor set
    went through an unguarded broadcast nested-loop anti-join, which
    a low-bucket-massed price distribution makes unbounded) and the
    per-price pruning window must be partitioned by the price bucket,
    never a full-corpus single-partition window."""
    from glaciersgee_spark.operators.relational import q_b_skyline

    x = PI.executed(q_b_skyline(spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in x
    assert "CartesianProduct" not in x
    assert "windowspecdefinition(bkt#" in x


def test_dsir_per_doc_frame_is_cached(spark):
    """Round-6 plan shape: q_e_dsir_weights' per-doc weight frame is
    consumed by both the corpus-mean pass and the final binning —
    Catalyst has no cross-branch subtree reuse, so the frame must be
    persisted (InMemoryTableScan on both branches) or the corpus-sized
    token join would run twice."""
    from glaciersgee_spark.operators.text import q_e_dsir_weights

    x = PI.executed(q_e_dsir_weights(spark, SF_SMOKE))
    assert x.count("InMemoryTableScan") >= 2


def test_tail_index_and_length_ks_cache_shared_frames(spark):
    """Round-6 plan shape: both drift ops' shared intermediate frames
    (tail_index's pruned top-(k+1); length_ks' (source, length) count
    frame) are persisted — each is consumed by ≥ 2 branches, and
    without the cache every branch re-runs corpus-sized lineage."""
    from glaciersgee_spark.operators.drift import q_e_length_ks, q_e_tail_index

    tx = PI.executed(q_e_tail_index(spark, SF_SMOKE))
    assert "InMemoryTableScan" in tx
    kx = PI.executed(q_e_length_ks(spark, SF_SMOKE))
    assert "InMemoryTableScan" in kx


def test_rrf_fusion_rank_windows_are_chunk_partitioned(spark):
    """Round-7 rewrite: both of q_e_rrf_fusion's full-list rank windows
    ride the two-phase chunked rank — every corpus-derived row_number
    window is partitioned by the score bucket (bch), un-partitioned
    windows exist only over the per-bucket TOTALS aggregates, and the
    final top-25 compiles to TakeOrderedAndProject, never a global
    Sort over the fused list."""
    import re

    from glaciersgee_spark.operators.retrieval import q_e_rrf_fusion

    plan = PI.formatted(q_e_rrf_fusion(spark, SF_SMOKE))
    tree = plan.split("(1) ")[0]
    assert "TakeOrderedAndProject" in tree, tree
    # the two per-row rank windows partition by the score bucket
    assert len(re.findall(r"windowspecdefinition\(bch#\d+", plan)) >= 2, plan
    # exactly 4 Window nodes: 2 bucket-partitioned ranks + 2 offsets
    # passes over the bucket totals (bounded by the 6-dp score domain)
    assert len(re.findall(r"Window\s+\(\d+\)", plan)) == 4, plan


def test_sparse_knn_prunes_features_before_pair_join(spark):
    """Round-7: the df-cap filter must land BEFORE the postings
    self-join (a join over unfiltered postings is the quadratic blowup
    the cap exists to prevent), and the per-doc top-k window must be
    partitioned by doc_id."""
    import re

    from glaciersgee_spark.operators.retrieval import q_e_sparse_knn

    plan = PI.formatted(q_e_sparse_knn(spark, SF_SMOKE))
    tree = plan.split("(1) ")[0]
    # no cartesian pair stage: the only nested-loop joins are the
    # 1-row broadcast scalar cross joins (the nd corpus count), which
    # build a 1-row side — the g-keyed pair join itself is a hash join
    assert "CartesianProduct" not in tree
    assert re.search(r"windowspecdefinition\(doc_id#\d+", plan), plan
    # df-cap predicate applied as a post-aggregation filter inside the
    # (persisted) postings build — present exactly where the single
    # cached build runs, not replayed per consumer
    assert re.search(r"\(df#\d+L? >= 2\) AND \(df#\d+L? <= 20\)", plan), plan


def test_heaps_law_is_single_combinable_aggregate(spark):
    """Round-7: the OLS fit must compile to scan-side codegen feeding
    partial+final hash aggregates — no window operator, no Python
    boundary, and only the aggregate's own exchanges."""
    from glaciersgee_spark.operators.drift import q_e_heaps_law

    plan = PI.formatted(q_e_heaps_law(spark, SF_SMOKE))
    assert "Window" not in plan.split("(1) ")[0]
    assert not PI.has_python_boundary(plan)
    assert PI.count_shuffles(plan) <= 2  # fan_out + the 1-row agg


def test_spectral_mass_reuses_persisted_gram(spark):
    """Round-7: the integer-Gram kernel must be persisted and reused
    by the op's three branches (v1 / trace / Rayleigh) — at least 3
    InMemoryTableScans, and the only Python boundary is the Arrow
    partial-Gram kernel feeding the cache (never downstream)."""
    from glaciersgee_spark.operators.linalg import q_e_spectral_mass

    x = PI.executed(q_e_spectral_mass(spark, SF_SMOKE))
    assert x.count("InMemoryTableScan") >= 3, x


def test_rank_biased_overlap_caps_lists_before_joins(spark):
    """Round-7: both rankings must be depth-capped via
    TakeOrderedAndProject BEFORE any join — the op never ranks the
    full lists (that is rrf_fusion's job, done with the chunked
    rank)."""
    from glaciersgee_spark.operators.retrieval import q_e_rank_biased_overlap

    tree = PI.formatted(q_e_rank_biased_overlap(spark, SF_SMOKE)).split("(1) ")[0]
    assert tree.count("TakeOrderedAndProject") >= 2, tree


def test_sparse_knn_postings_frame_is_cached(spark):
    """Round-7 plan shape: the tf-idf postings frame is consumed by
    the norm pass and BOTH pair-join legs — must be persisted
    (InMemoryTableScan ×3), or the corpus token explode replays per
    consumer."""
    from glaciersgee_spark.operators.retrieval import q_e_sparse_knn

    x = PI.executed(q_e_sparse_knn(spark, SF_SMOKE))
    assert x.count("InMemoryTableScan") >= 3, x


def test_pysource_pushdown_prunes_partitions_and_keeps_residual(spark):
    """q_b_scan_pysource_filters' negotiation must land the three-way
    split: scene_id bounds + day IN pushed into the source (visible as
    PushedFilters on the BatchScan and as pruned InputPartitions on
    the reader), cloud_pct refused and re-applied by Spark's own
    post-scan Filter."""
    from pyspark.sql.datasource import (
        GreaterThanOrEqual,
        In,
        LessThan,
        LessThanOrEqual,
    )

    from glaciersgee_spark.operators.relational import (
        q_b_scan_pysource_filters,
    )
    from glaciersgee_spark.sources.pysource import (
        SceneManifestPushdownReader,
    )

    # reader-level contract: accepted filters prune splits, the rest
    # come back out
    r = SceneManifestPushdownReader()
    residual = list(
        r.pushFilters(
            [
                GreaterThanOrEqual(("scene_id",), 105),
                LessThanOrEqual(("scene_id",), 260),
                In(("day",), (3, 7, 11)),
                LessThan(("cloud_pct",), 70.0),
            ]
        )
    )
    assert residual == [LessThan(("cloud_pct",), 70.0)]
    parts = r.partitions()
    assert [p.value for p in parts] == [1, 2]  # splits 0 and 3 pruned
    # plan-level contract: pushed filters on the scan, residual in a
    # Spark Filter node
    df = q_b_scan_pysource_filters(spark, SF_SMOKE)
    plan = PI.formatted(df)
    pushed_line = next(
        line for line in plan.splitlines() if "PushedFilters:" in line
    )
    for frag in (
        "GreaterThanOrEqual(scene_id,105)",
        "LessThanOrEqual(scene_id,260)",
        "In(day,",
    ):
        assert frag in pushed_line
    assert "cloud_pct" not in pushed_line
    cond_lines = [
        line
        for line in plan.splitlines()
        if line.strip().startswith("Condition :")
    ]
    assert any("cloud_pct" in line for line in cond_lines)
    assert not any("day#" in line for line in cond_lines)


def test_ivf_persist_serves_from_artifacts_not_training_lineage(spark):
    """q_e_ivf_persist's SERVE plan must read the persisted index —
    two parquet scans under the ggee_ivf_index staging root (codebook
    + postings) — and carry NO training lineage: no LocalTableScan of
    driver-collected centroids (the _kmt_train shape the build path
    uses) and no InMemoryTableScan. Build once, serve from disk.

    Cache hygiene: Spark's CacheManager substitutes ANY persisted
    subtree into matching plans session-wide, so an earlier test's
    persisted embeddings scan would surface here as an
    InMemoryTableScan that has nothing to do with this op — clear
    both cache layers first so the assertion tests the serve path
    itself."""
    import glaciersgee_spark
    from glaciersgee_spark.operators.similarity import q_e_ivf_persist

    glaciersgee_spark.clear_caches()
    spark.catalog.clearCache()
    df = q_e_ivf_persist(spark, SF_SMOKE)
    plan = PI.formatted(df)
    assert plan.count("ggee_ivf_index") == 2
    assert "LocalTableScan" not in plan
    assert "InMemoryTableScan" not in plan
    # the artifacts round-trip losslessly: 5 panel queries × top-10
    assert df.count() == 50


def test_ivfpq_persist_serves_adc_from_artifacts_jvm_only(spark):
    """q_e_ivfpq_persist's SERVE plan must read ALL FOUR persisted
    index artifacts (coarse centroids, postings, PQ sub-codebook,
    per-vector codes) and carry no training lineage — and, beyond the
    ivf_persist contract, its corpus-proportional SCORING stage must
    be pure JVM: the only Python boundary allowed is the probe's
    bounded-panel Arrow cosine (queries × K centroids). The ADC gather
    itself is a codes-scan ⋈ broadcast-LUT join — if a pandas UDF ever
    crept into that stage, the 32× codes-only memory story would be
    gone and this assertion should fail loudly."""
    import glaciersgee_spark
    from glaciersgee_spark.operators.similarity import q_e_ivfpq_persist

    glaciersgee_spark.clear_caches()
    spark.catalog.clearCache()
    df = q_e_ivfpq_persist(spark, SF_SMOKE)
    plan = PI.formatted(df)
    assert plan.count("ggee_ivf_index") == 4
    assert "LocalTableScan" not in plan
    assert "InMemoryTableScan" not in plan
    # exactly ONE Python boundary: the probe's Arrow cosine panel
    # (formatted plans print each node twice: tree line + detail header)
    assert plan.count("ArrowEvalPython") == 2
    # 5 panel queries × top-10 by ADC
    assert df.count() == 50


def test_join_skew_aqe_splits_the_hot_partition(spark):
    """q_b_join_skew_aqe's claim is that AQE alone — zero query
    rewriting — handles the hot key the salted spelling handles by
    hand: under the op's conf window the AQE-FINAL executed plan must
    carry the skew split (`SortMergeJoin(skew=true)` + an
    `AQEShuffleRead ... skewed` on the fact side). Pre-execution
    plans still show the speculative SMJ, so this probes the executed
    plan. Also asserts the conf window restored the session: the
    advisory partition size must be back to its pre-test value."""
    from glaciersgee_spark.operators.relational import (
        _SKEW_AQE_CONFS,
        _skew_aqe_frame,
    )

    adv_key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before = spark.conf.get(adv_key, None)
    with conf_window(spark, _SKEW_AQE_CONFS):
        df = _skew_aqe_frame(spark, SF_SMOKE)
        plan = PI.executed(df)
    assert "skew=true" in plan
    assert "skewed" in plan  # the AQEShuffleRead marker on the fact side
    # the registered op (conf window + eager fold) leaves no conf behind
    from glaciersgee_spark.operators.relational import q_b_join_skew_aqe

    q_b_join_skew_aqe(spark, SF_SMOKE)
    assert spark.conf.get(adv_key, None) == before


def test_sql_pipe_is_pure_syntax_same_plan_as_standard_sql(spark):
    """q_b_sql_pipe's claim is that `|>` chains parse to the SAME
    logical plan as the standard spelling — so the shipdate predicate
    still reaches the parquet scan, the scan still prunes to the 5
    referenced columns, and the shuffle count matches the standard-SQL
    twin exactly."""
    from glaciersgee_spark.operators.relational import q_b_sql_pipe
    from glaciersgee_spark.tables import load_table

    df = q_b_sql_pipe(spark, SF_SMOKE)
    pushed = PI.pushed_filters(df)
    assert any("l_shipdate" in f and "GreaterThanOrEqual" in f for f in pushed)
    read = PI.read_schemas(df)[0]
    for col in ["l_returnflag", "l_linestatus", "l_extendedprice",
                "l_discount", "l_shipdate"]:
        assert col in read
    assert "l_orderkey" not in read and "l_partkey" not in read
    load_table(spark, SF_SMOKE, "lineitem").createOrReplaceTempView(
        "ggee_pipe_li_std"
    )
    std = spark.sql(
        """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
               CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                             AS DECIMAL(30,6))) AS DOUBLE) AS sum_disc_price
        FROM ggee_pipe_li_std
        WHERE l_shipdate >= DATE '1996-01-01'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """
    )
    assert PI.count_shuffles(PI.formatted(df)) == PI.count_shuffles(
        PI.formatted(std)
    )
    assert sorted(pushed) == sorted(PI.pushed_filters(std))


def test_kmv_bottom_k_is_take_ordered_not_global_sort(spark):
    """q_b_kmv_intersect's per-side bottom-k must run as
    TakeOrderedAndProject (per-partition partial top-k, k-row merge)
    — a global Sort over the distinct-user frame would be the scale
    trap the sketch exists to avoid. The sketch joins must broadcast."""
    from glaciersgee_spark.operators.warehouse import q_b_kmv_intersect

    df = q_b_kmv_intersect(spark, SF_SMOKE)
    plan = PI.formatted(df)
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "BroadcastExchange" in plan
    # the only Sort allowed is inside TakeOrdered; no standalone
    # global Sort node over the corpus frame
    for line in plan.splitlines():
        if "Sort [" in line and "TakeOrdered" not in line:
            raise AssertionError(f"unexpected global sort: {line}")


def test_dedup_blocking_rank_is_chunk_partitioned(spark):
    """q_e_dedup_blocking's sort-order rank must be the two-phase
    chunked form: every row_number window partitions by the chunk
    key (never an un-partitioned corpus window), offsets come back
    via broadcast, and the neighborhood join is an equi-join (no
    nested loop / cartesian)."""
    from glaciersgee_spark.operators.dedup import q_e_dedup_blocking

    df = q_e_dedup_blocking(spark, SF_SMOKE)
    plan = PI.formatted(df)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    import re

    for m in re.finditer(r"row_number\(\) windowspecdefinition\(([^)]*)\)", plan):
        spec = m.group(0)
        assert "chk" in spec or "partition" not in spec.lower(), spec


def test_jl_projection_is_broadcast_and_panel_bounded(spark):
    """q_e_jl_distortion: the 1,024-row sign matrix must broadcast
    (never shuffle the exploded panel on i), and the panel filter
    vec_id < 48 must reach the parquet scan so the corpus is pruned
    at the source."""
    from glaciersgee_spark.operators.similarity import q_e_jl_distortion

    df = q_e_jl_distortion(spark, SF_SMOKE)
    plan = PI.formatted(df)
    assert "BroadcastExchange" in plan
    pushed = " ".join(PI.pushed_filters(df))
    assert "LessThan(vec_id,48)" in pushed


def test_whiten_diag_moments_are_combinable_and_broadcast_back(spark):
    """q_e_whiten_diag: the per-dim moment aggregate must be partial
    (map-side combinable) and the 64-element (mu, sigma) arrays must
    ride a broadcast — nothing corpus-sized may cross an exchange
    besides the scan itself."""
    from glaciersgee_spark.operators.similarity import q_e_whiten_diag

    df = q_e_whiten_diag(spark, SF_SMOKE)
    plan = PI.formatted(df)
    assert "partial" in plan.lower()
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_conformal_threshold_has_no_global_sort(spark):
    """q_e_conformal_gate selects the k-th order statistic from
    per-score counts + chunk-partitioned prefix sums — the plan must
    contain no Sort outside window-required local sorts partitioned
    by chk, and the threshold/test passes must broadcast."""
    from glaciersgee_spark.operators.curation import q_e_conformal_gate

    df = q_e_conformal_gate(spark, SF_SMOKE)
    plan = PI.formatted(df)
    assert "TakeOrderedAndProject" not in plan  # not even top-k: pure agg
    assert "BroadcastExchange" in plan
    assert plan.count("Exchange SinglePartition") <= 3  # chunk totals + 1-row folds


def test_join_hint_forces_shuffled_hash_over_broadcast(spark):
    """q_b_join_hinted: nation is broadcast-sized, so only the hint
    can explain a ShuffledHashJoin in the plan — assert it's there
    and the planner's default BroadcastHashJoin is not."""
    from glaciersgee_spark.operators.relational import q_b_join_hinted

    df = q_b_join_hinted(spark, SF_SMOKE)
    plan = PI.formatted(df)
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_aes_sample_is_take_ordered(spark):
    """q_e_aes_sample's k-largest-keys selection must run as
    TakeOrderedAndProject (per-partition top-k, k-row merge), never
    a global Sort of the keyed corpus."""
    from glaciersgee_spark.operators.curation import q_e_aes_sample

    df = q_e_aes_sample(spark, SF_SMOKE)
    plan = PI.formatted(df)
    assert "TakeOrderedAndProject" in plan


def test_sql_udf_inlines_into_codegen(spark):
    """q_f_sql_udf's SQL-language functions must INLINE: no
    BatchEvalPython / ArrowEvalPython (it is not a Python boundary),
    and the key filter must still reach the parquet scan through the
    function call sites."""
    from glaciersgee_spark.udfs import q_f_sql_udf

    df = q_f_sql_udf(spark, SF_SMOKE)
    plan = PI.formatted(df)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "codegen id" in plan
    # the function bodies are INLINED: the raw arithmetic appears in
    # the Project, no UDF invocation node survives
    assert "ggee_charged" not in plan


def test_wasserstein_shares_ks_cache_and_broadcasts(spark):
    """q_e_wasserstein must ride the SAME persisted (source, length)
    frame as q_e_length_ks (one corpus scan for both drift audits) and
    keep the support/totals joins broadcast."""
    from glaciersgee_spark.caches import clear_caches
    from glaciersgee_spark.operators import drift as D

    clear_caches()
    D.q_e_length_ks(spark, SF_SMOKE).collect()
    df = D.q_e_wasserstein(spark, SF_SMOKE)
    plan = PI.formatted(df)
    assert "InMemoryTableScan" in plan, "must reuse the persisted KS base"
    assert clear_caches()["frames"] == 1, "both audits share ONE cached frame"
    assert "BroadcastExchange" in plan
    assert not PI.has_python_boundary(plan)


def test_poisson_boot_combines_map_side(spark):
    """The 64x replicate fan-out must partial-aggregate BEFORE the
    shuffle (HashAggregate below the exchange) — the whole point of
    the Poisson bootstrap design — with no Python boundary."""
    from glaciersgee_spark.operators.curation import q_e_poisson_boot

    df = q_e_poisson_boot(spark, SF_SMOKE)
    plan = PI.formatted(df)
    assert not PI.has_python_boundary(plan)
    assert "partial_sum" in plan.lower() or "HashAggregate" in plan


def test_assoc_rules_broadcasts_dims(spark):
    """Item supports and the user total must ride broadcast joins onto
    the |types|^2 pair frame — only the basket DISTINCT shuffles
    corpus-sized data."""
    from glaciersgee_spark.operators.relational import q_b_assoc_rules

    df = q_b_assoc_rules(spark, SF_SMOKE)
    plan = PI.formatted(df)
    assert plan.count("BroadcastExchange") >= 2
    assert not PI.has_python_boundary(plan)


def test_burrows_delta_topk_is_take_ordered(spark):
    """The top-30 vocabulary cut must be TakeOrderedAndProject, never
    a global sort of the (token, count) frame."""
    from glaciersgee_spark.operators.drift import q_e_burrows_delta

    df = q_e_burrows_delta(spark, SF_SMOKE)
    plan = PI.formatted(df)
    assert "TakeOrderedAndProject" in plan
    assert not PI.has_python_boundary(plan)


def test_cusum_windows_run_over_day_domain(spark):
    """Both CUSUM windows are un-partitioned by design — they must run
    over the bounded per-day frame (after the combinable day rollup),
    never over raw events; the moment total rides a broadcast."""
    from glaciersgee_spark.operators.drift import q_e_cusum_drift

    df = q_e_cusum_drift(spark, SF_SMOKE)
    plan = PI.formatted(df)
    assert "BroadcastExchange" in plan
    assert not PI.has_python_boundary(plan)
    # the day rollup must partial-aggregate map-side before anything
    # window-shaped sees the data (the windows then run over the
    # bounded day frame, not raw events)
    assert "partial_count" in plan
    assert PI.count_shuffles(plan) <= 4


def test_linear_fusion_has_no_rank_window(spark):
    """Score-based fusion must not pay any rank window — min/max ride
    1-row broadcasts and the top-25 is TakeOrderedAndProject."""
    from glaciersgee_spark.operators.retrieval import q_e_linear_fusion

    df = q_e_linear_fusion(spark, SF_SMOKE)
    plan = PI.formatted(df)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def test_exposure_share_cuts_before_ranking(spark):
    """The top-100 cut must compile to TakeOrderedAndProject; the
    row_number window then runs over the bounded 100-row frame only."""
    from glaciersgee_spark.operators.retrieval import q_e_exposure_share

    df = q_e_exposure_share(spark, SF_SMOKE)
    plan = PI.formatted(df)
    assert "TakeOrderedAndProject" in plan


def test_udtf_arrow_boundary_engages(spark):
    """useArrow=True must produce ArrowEvalPythonUDTF (Arrow record
    batches), not the pickled BatchEvalPythonUDTF."""
    from glaciersgee_spark.udfs import q_f_udtf_arrow

    plan = PI.formatted(q_f_udtf_arrow(spark, SF_SMOKE))
    assert "ArrowEvalPythonUDTF" in plan
    assert "BatchEvalPythonUDTF" not in plan


def test_sql_params_push_to_scan(spark):
    """Named sql() parameters must constant-fold: both parameterized
    predicates reach the parquet scan as pushed filters."""
    from glaciersgee_spark.operators.relational import q_b_sql_params

    df = q_b_sql_params(spark, SF_SMOKE)
    pushed = " ".join(PI.pushed_filters(df))
    assert "o_orderdate" in pushed and "o_totalprice" in pushed


def test_blocklist_score_no_explode_single_shuffle(spark):
    """The hit count must stay a higher-order array lambda on the scan
    — no Generate/explode node — and only the |sources|-row rollup may
    shuffle."""
    from glaciersgee_spark.operators.curation import q_e_blocklist_score

    df = q_e_blocklist_score(spark, SF_SMOKE)
    plan = PI.formatted(df)
    assert "Generate" not in plan
    assert not PI.has_python_boundary(plan)
    # rollup + final orderBy range exchange only
    assert PI.count_shuffles(plan) <= 2


def test_domain_cap_window_partitioned_by_host(spark):
    """The saturation rank must be partitioned BY HOST (many small
    per-domain partitions), never an un-partitioned global window."""
    from glaciersgee_spark.operators.curation import q_e_domain_cap

    plan = PI.formatted(q_e_domain_cap(spark, SF_SMOKE))
    assert "row_number" in plan
    # the window's partition spec carries the host key
    assert "hashpartitioning(host" in plan
    assert not PI.has_python_boundary(plan)


def test_perplexity_broadcasts_vocab(spark):
    """Unigram/total frames broadcast; the held⋈train pair-count join
    is a co-partitioned hash join, and no Python crosses the plan."""
    from glaciersgee_spark.operators.text import q_e_perplexity

    plan = PI.formatted(q_e_perplexity(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert not PI.has_python_boundary(plan)


def test_sessionize_rides_one_user_shuffle(spark):
    """lag, running start-count, and the session rollup all share the
    user_id partitioning — ONE corpus shuffle end to end (the final
    orderBy adds its presentation range exchange)."""
    from glaciersgee_spark.operators.warehouse import q_b_sessionize

    plan = PI.formatted(q_b_sessionize(spark, SF_SMOKE))
    assert "hashpartitioning(user_id" in plan
    assert PI.count_shuffles(plan) <= 2
    assert not PI.has_python_boundary(plan)


def test_cdc_apply_single_key_shuffle_no_self_join(spark):
    """row_number and the per-key version count share one window sort
    over one key shuffle; 'latest version' is NOT spelled as a
    self-join against the log."""
    from glaciersgee_spark.operators.relational import q_b_cdc_apply

    plan = PI.formatted(q_b_cdc_apply(spark, SF_SMOKE))
    assert "Join" not in plan
    assert PI.count_shuffles(plan) <= 2  # key shuffle + final orderBy
    assert "row_number" in plan


def test_dedup_edit_one_window_pass(spark):
    """All W successor pairs come from ONE (lang, bkey) window pass
    (array-of-leads + explode) — not W unioned branches, each a
    separate scan + shuffle (the 30 s-cold vs 2 s A/B, BASELINE.md)."""
    from glaciersgee_spark.operators.dedup import q_e_dedup_edit

    import re

    plan = PI.formatted(q_e_dedup_edit(spark, SF_SMOKE))
    assert "Union" not in plan
    # one scan NODE (formatted mode lists each node twice: tree + detail)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "hashpartitioning(lang" in plan
    assert not PI.has_python_boundary(plan)


def test_incr_view_audit_join_broadcasts(spark):
    """The full-recompute audit joins the view-sized merge via
    broadcast; no corpus-sized shuffle beyond the three partial
    aggregations."""
    from glaciersgee_spark.operators.warehouse import q_b_incr_view

    plan = PI.formatted(q_b_incr_view(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_coreset_step_is_jvm_take_ordered(spark):
    """Each greedy step is a pure-JVM codegen scan (literal-array
    zip_with/aggregate distances) closed by TakeOrderedAndProject —
    per-partition top-1 + driver merge, never a global sort."""
    import pyspark.sql.functions as F2

    from glaciersgee_spark.operators.similarity import (
        _CS_QV_SPARK,
        _coreset_step_frame,
    )

    q = (
        load_table(spark, SF_SMOKE, "embeddings")
        .selectExpr("vec_id", f"{_CS_QV_SPARK} AS qv")
    )
    seed = [1000000] * 64
    step = (
        _coreset_step_frame(q, [seed, [0] * 64])
        .orderBy(F2.col("mind").desc(), F2.col("vec_id").asc())
        .limit(1)
    )
    plan = PI.executed(step)
    assert "TakeOrderedAndProject" in plan
    assert not PI.has_python_boundary(plan)
    assert PI.count_shuffles(PI.formatted(step)) == 0


def test_cbo_reorders_selective_join_first(spark):
    """q_b_join_cbo's exhibit: with column stats + joinReorder, the
    optimized plan joins the selective part(p_size=1) dim BEFORE
    orders even though the query spells orders first; with reorder
    off, query order is kept. Asserted on the optimized logical plan
    (join order is decided there, pre-AQE)."""
    from glaciersgee_spark.operators.relational import (
        _CBO_CONFS,
        _cbo_tables,
    )

    t_li, t_o, t_p = _cbo_tables(spark, SF_SMOKE)
    sql = f"""
        SELECT COUNT(*) AS n
        FROM {t_li} l
        JOIN {t_o} o ON l.l_orderkey = o.o_orderkey
        JOIN {t_p} p ON l.l_partkey = p.p_partkey
        WHERE p.p_size = 1
    """
    with conf_window(spark, _CBO_CONFS):
        plan_on = spark.sql(sql)._jdf.queryExecution().optimizedPlan().toString()
    off = {**_CBO_CONFS, "spark.sql.cbo.joinReorder.enabled": "false"}
    with conf_window(spark, off):
        plan_off = spark.sql(sql)._jdf.queryExecution().optimizedPlan().toString()

    def join_depth(plan: str, table: str) -> int:
        """Line index of the table's relation — deeper (larger) means
        joined earlier in the bottom-up tree."""
        for i, line in enumerate(plan.splitlines()):
            if f".{table}[" in line:
                return i
        raise AssertionError(f"{table} not in plan:\n{plan}")

    # reorder ON: part sits in the INNER (deeper-left) join with
    # lineitem, orders joins last → part's relation line precedes
    # orders'. OFF: orders joins first.
    assert join_depth(plan_on, t_p) < join_depth(plan_on, t_o)
    assert join_depth(plan_off, t_o) < join_depth(plan_off, t_p)


def test_money_alloc_single_key_partitioning(spark):
    """Join, per-order windows, and audit all ride the l_orderkey
    partitioning — the fact⋈fact join is co-partitioned and no
    corpus-wide window appears."""
    from glaciersgee_spark.operators.relational import q_b_money_alloc

    plan = PI.formatted(q_b_money_alloc(spark, SF_SMOKE))
    assert "hashpartitioning(k" in plan
    assert not PI.has_python_boundary(plan)


def test_ivfpq_append_ingests_without_training_and_serves_from_merged(
    spark,
):
    """Round-10 pins for the incremental-ingest lifecycle (VERDICT r9
    item 2's completion bar):

    1. The DELTA-INGEST path owns zero training state: with the base
       generation already staged, publishing the merged generation
       must not train: it leaves no driver-value cache entry (the
       `_kmt_train` scoped_value) — assignment comes from the
       read-back frozen centroids, codes from the read-back
       sub-codebook, full stop.
    2. The SERVE plan reads ONLY the merged generation's four
       artifacts (the `_m1` dir) + the embeddings table, carries no
       training lineage, and keeps the corpus-proportional ADC stage
       pure JVM (one Arrow boundary: the probe's bounded panel) —
       the q_e_ivfpq_persist contract, unchanged by the append."""
    import os
    import shutil

    import glaciersgee_spark
    from glaciersgee_spark.operators.similarity import (
        q_e_ivfpq_append,
        stage_ivf_base_index,
        stage_ivfpq_append,
    )

    # ensure the base generation exists, then make the ingest re-run
    stage_ivf_base_index(spark, SF_SMOKE)
    merged = stage_ivfpq_append(spark, SF_SMOKE)
    shutil.rmtree(merged, ignore_errors=True)
    glaciersgee_spark.clear_caches()
    spark.catalog.clearCache()
    merged = stage_ivfpq_append(spark, SF_SMOKE)
    assert os.path.exists(os.path.join(merged, "_READY"))
    released = glaciersgee_spark.clear_caches()
    assert released["entries"] == released["frames"], "delta ingest must not train"

    df = q_e_ivfpq_append(spark, SF_SMOKE)
    plan = PI.formatted(df)
    # all four artifact scans point at the MERGED generation
    assert plan.count("_m1") == 4
    assert "LocalTableScan" not in plan
    assert "InMemoryTableScan" not in plan
    # exactly ONE Python boundary: the probe's Arrow cosine panel
    # (formatted plans print each node twice: tree line + detail header)
    assert plan.count("ArrowEvalPython") == 2
    assert df.count() == 50


def test_ivfpq_drift_quantifies_append_vs_rebuild(spark):
    """q_e_ivfpq_drift emits, per panel query, recall of the appended
    generation AND of the fresh rebuild with drift6 their exact
    difference — consistency pins: recalls in [0,1], drift6 =
    recall_rebuild6 − recall_append6 at 6 dp, one row per panel
    query."""
    from glaciersgee_spark.operators.similarity import (
        _RECALL_QIDS,
        q_e_ivfpq_drift,
    )

    rows = q_e_ivfpq_drift(spark, SF_SMOKE).collect()
    assert [r.qid for r in rows] == sorted(_RECALL_QIDS)
    for r in rows:
        assert 0.0 <= r.recall_append6 <= 1.0
        assert 0.0 <= r.recall_rebuild6 <= 1.0
        assert abs(r.drift6 - round(r.recall_rebuild6 - r.recall_append6, 6)) < 1e-9


def test_harmonize_ols_broadcasts_fit_and_avoids_corpus_windows(spark):
    """q_a_harmonize_ols's scale story: the per-band fit frame joins
    back via BROADCAST (never a shuffle of the pair frame against a
    |bands|-row table) and no Window operator appears anywhere — the
    regression is pure combinable aggregation."""
    from glaciersgee_spark.operators.etl import q_a_harmonize_ols

    plan = PI.formatted(q_a_harmonize_ols(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_match_recognize_is_window_free_staged_aggregation(spark):
    """q_b_match_recognize compiles the CEP pattern to staged
    conditional-min aggregates — the plan must carry NO Window
    operator (the naive spelling would sort each user's history) and
    every join must ride the single user_id shuffle key."""
    from glaciersgee_spark.operators.relational import q_b_match_recognize

    plan = PI.formatted(q_b_match_recognize(spark, SF_SMOKE))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_beam_persist_serves_from_edge_artifact_only(spark):
    """q_e_beam_persist's serve plan must read the persisted edge
    artifact (the `_g1` staging dir) and carry NO pair-expansion or
    assignment lineage — the O(Σ|cell|²) construction belongs to the
    build job. One Arrow boundary (the shared panel scores)."""
    import glaciersgee_spark
    from glaciersgee_spark.operators.similarity import (
        q_e_beam_persist,
        stage_beam_graph,
    )

    stage_beam_graph(spark, SF_SMOKE)
    glaciersgee_spark.clear_caches()
    spark.catalog.clearCache()
    df = q_e_beam_persist(spark, SF_SMOKE)
    plan = PI.formatted(df)
    # every hop re-scans the same artifact: ≥1 _g1 scan, no raw pair join
    assert "_g1" in plan
    assert "LocalTableScan" not in plan
    # no pair-expansion lineage: the build-side join alias never
    # appears in the serve plan (the in-cell kNN join is build-only)
    assert "ycid" not in plan
    # the only Python subtree is the shared panel-score pass (it
    # appears once per hop reference; no other pandas UDF exists)
    assert "_cos_panel" in plan or "ArrowEvalPython" in plan
    assert df.count() == 50


def test_beam_append_repairs_edges_without_rebuild_and_serves_merged(
    spark,
):
    """Round-11 pins for the graph-ANN incremental-ingest lifecycle
    (VERDICT r10 item 2's completion bar, the q_e_ivfpq_append
    symmetry):

    1. ZERO rebuild in the append path: with the base generation
       staged, the merged edge set must equal the in-cell kNN graph
       over the FULL corpus under the FROZEN base-seed cells — i.e.
       the affected-cell re-rank (delta forward edges + base
       reverse-edge repair) reproduces a rebuild-under-frozen-cells
       exactly, while untouched cells' lists are parquet copies.
    2. The SERVE plan reads ONLY the merged generation (`_gm1`) +
       the embeddings table, with no pair-expansion lineage — the
       q_e_beam_persist contract, unchanged by the append."""
    import os

    import glaciersgee_spark
    from glaciersgee_spark.operators.similarity import (
        _APPEND_BASE,
        _beam_edges,
        KM_K,
        q_e_beam_append,
        stage_beam_append,
        stage_beam_base_graph,
        top_cells,
    )
    from glaciersgee_spark.tables import load_table

    stage_beam_base_graph(spark, SF_SMOKE)
    merged = stage_beam_append(spark, SF_SMOKE)
    assert os.path.exists(os.path.join(merged, "_READY"))

    # pin 1: merged edges ≡ rebuild under the frozen base-seed cells
    e = load_table(spark, SF_SMOKE, "embeddings")
    cent = (
        e.where(F.expr(_APPEND_BASE))
        .where(F.col("vec_id").between(1, KM_K))
        .select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb"))
    )
    asg = top_cells(e.select("vec_id", "embedding"), cent, "vec_id", 1)
    asg = asg.select("vec_id", "cid")
    members = asg.join(e, "vec_id").select("vec_id", "cid", "embedding")
    want = _beam_edges(members)
    got = spark.read.parquet(f"{merged}/edges")
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # pin 2: serve from the merged artifact only
    glaciersgee_spark.clear_caches()
    spark.catalog.clearCache()
    df = q_e_beam_append(spark, SF_SMOKE)
    plan = PI.formatted(df)
    assert "_gm1" in plan
    assert "LocalTableScan" not in plan
    assert "ycid" not in plan  # the pair-expansion join is build-only
    assert df.count() == 50


def test_beam_drift_quantifies_append_vs_rebuild(spark):
    """q_e_beam_drift emits, per panel query, recall of the appended
    graph AND of the fresh rebuild with drift6 their exact difference
    — consistency pins: recalls in [0,1], drift6 = recall_rebuild6 −
    recall_append6 at 6 dp, one row per panel query."""
    from glaciersgee_spark.operators.similarity import (
        _RECALL_QIDS,
        q_e_beam_drift,
    )

    rows = q_e_beam_drift(spark, SF_SMOKE).collect()
    assert [r.qid for r in rows] == sorted(_RECALL_QIDS)
    for r in rows:
        assert 0.0 <= r.recall_append6 <= 1.0
        assert 0.0 <= r.recall_rebuild6 <= 1.0
        assert abs(r.drift6 - round(r.recall_rebuild6 - r.recall_append6, 6)) < 1e-9


def test_retrain_policy_decision_frame(spark):
    """q_e_retrain_policy (round 11): one row per ANN family with the
    rebuild-when disjunction — pins: exactly the two families, flags
    consistent with their own inputs, and the delta share equal to
    the corpus's actual delta fraction."""
    from glaciersgee_spark.operators.similarity import (
        _RETRAIN_DRIFT_BUDGET,
        _RETRAIN_SHARE_CAP,
        q_e_retrain_policy,
    )

    rows = {r.family: r for r in q_e_retrain_policy(spark, SF_SMOKE).collect()}
    assert sorted(rows) == ["beam", "ivfpq"]
    for r in rows.values():
        assert r.drift_breach == (r.mean_drift6 > _RETRAIN_DRIFT_BUDGET)
        assert r.share_breach == (r.delta_frac6 > _RETRAIN_SHARE_CAP)
        assert r.rebuild_now == (r.drift_breach or r.share_breach)
        assert 0.0 < r.delta_frac6 < 1.0
        assert r.touch_frac6 >= r.delta_frac6 - 1e-9 or r.family == "ivfpq"
    # the ivfpq append touches exactly the delta slice; the graph
    # repair touches every member of a delta-receiving cell
    assert rows["ivfpq"].touch_frac6 == rows["ivfpq"].delta_frac6
    assert rows["beam"].touch_frac6 >= rows["beam"].delta_frac6


# Queries that together need more generated classes than Spark's
# default codegen cache (100 entries) holds: with that default, the
# second pass over them recompiled 88 classes.
_CODEGEN_SET = (
    "q_e_kmeans_train",
    "q_e_gini_mass",
    "q_d_stream_complete",
    "q_e_blocklist_score",
    "q_a_revisit_stats",
    "q_d_stateful_dedup",
)


def test_generated_code_compiles_once_per_session(spark):
    """Re-running queries in one get_spark session serves every
    generated class from the codegen cache: the second pass over a set
    that needs more than 100 classes compiles none. Sequential on
    purpose: concurrent jobs can race to compile the same class."""
    import glaciersgee_spark
    from glaciersgee_spark.sources.sinks import write_noop

    glaciersgee_spark.load_all_queries()
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = metrics.METRIC_COMPILATION_TIME()

    def one_pass():
        before = compiles.getCount()
        for name in _CODEGEN_SET:
            spark.catalog.clearCache()
            glaciersgee_spark.clear_caches()
            write_noop(glaciersgee_spark.QUERIES[name](spark, SF_SMOKE))
        return compiles.getCount() - before

    one_pass()
    assert one_pass() == 0
    # One pass over the full inventory compiles 6,266 distinct classes
    # at sf0.001 (6,257 at sf0.01); the session's cache must hold all of them.
    assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 6266
