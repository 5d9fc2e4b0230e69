"""Operator edge-case unit tests on literal micro-fixtures
(FIXTURES.md §micro-fixtures): null keys/values, empty inputs, and the
flagship smoke path — cases the corpus itself can't express."""

import pyspark.sql.functions as F
from pyspark.sql import types as T

from glaciersgee_spark.operators.relational import pricing_summary
from glaciersgee_spark.registry import dsum
from tests.conftest import SF_SMOKE

NULLS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("k", T.StringType(), True),
        T.StructField("v", T.DoubleType(), True),
    ]
)


def _nulls_t(spark):
    return spark.createDataFrame(
        [
            (1, "a", 1.5),
            (2, "a", None),
            (3, None, 2.5),
            (4, None, None),
            (5, "b", 0.0),
        ],
        NULLS_SCHEMA,
    )


def _empty_t(spark):
    return spark.createDataFrame([], NULLS_SCHEMA)


def test_flagship_smoke(spark):
    rows = pricing_summary(spark, SF_SMOKE).collect()
    assert len(rows) > 0
    assert rows == sorted(rows, key=lambda r: (r.l_returnflag, r.l_linestatus))
    total = sum(r.count_order for r in rows)
    assert total > 5000  # sf0.001 ≈ 6k lineitem rows, most pass the date filter


def test_null_keys_group_together(spark):
    out = {
        r.k: r.n
        for r in _nulls_t(spark).groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert out == {"a": 2, None: 2, "b": 1}


def test_agg_ignores_null_values(spark):
    row = _nulls_t(spark).agg(
        F.expr(dsum("v")).alias("s"), F.count("v").alias("n"), F.avg("v").alias("m")
    ).collect()[0]
    assert row.s == 4.0 and row.n == 3
    assert abs(row.m - 4.0 / 3.0) < 1e-12


def test_null_join_keys_never_match(spark):
    t = _nulls_t(spark)
    j = t.alias("l").join(
        t.alias("r"), F.col("l.k") == F.col("r.k"), "inner"
    )
    # only the non-null keys join: a×a (2×2) + b×b (1×1)
    assert j.count() == 5


def test_empty_input_aggregate(spark):
    row = _empty_t(spark).agg(
        F.count(F.lit(1)).alias("n"), F.expr(dsum("v")).alias("s")
    ).collect()[0]
    assert row.n == 0 and row.s is None
    assert _empty_t(spark).groupBy("k").count().count() == 0


def test_empty_join_sides(spark):
    t, e = _nulls_t(spark), _empty_t(spark)
    assert t.join(e, "id", "inner").count() == 0
    assert t.join(e.withColumnRenamed("k", "k2"), "id", "left").count() == t.count()


def test_window_on_empty_and_single_row(spark):
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy("id")
    assert _empty_t(spark).withColumn("rn", F.row_number().over(w)).count() == 0
    one = _nulls_t(spark).limit(1).withColumn("rn", F.row_number().over(w))
    assert one.collect()[0].rn == 1


def test_dsum_is_partitioning_invariant(spark):
    """The decimal-sum pattern must give identical bits on any layout."""
    t = _nulls_t(spark)
    a = t.agg(F.expr(dsum("v"))).collect()[0][0]
    b = t.repartition(7, "id").agg(F.expr(dsum("v"))).collect()[0][0]
    c = t.coalesce(1).agg(F.expr(dsum("v"))).collect()[0][0]
    import struct

    assert struct.pack(">d", a) == struct.pack(">d", b) == struct.pack(">d", c)


def test_upsert_merge_actions_partition_target_and_updates(spark):
    """Every target key appears exactly once as kept/updated; inserted
    rows are exactly the brand-new update keys."""
    from glaciersgee_spark.operators.relational import q_b_upsert_merge
    from glaciersgee_spark.tables import load_table

    out = q_b_upsert_merge(spark, SF_SMOKE)
    by_action = {
        r.action: r.n
        for r in out.groupBy("action").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    o = load_table(spark, SF_SMOKE, "orders")
    n_target = o.count()
    n_updated = o.where(F.col("o_orderkey") % 4 == 0).count()
    n_inserted = o.where(F.col("o_orderkey") % 1000 == 0).count()
    assert by_action.get("updated", 0) == n_updated
    assert by_action.get("inserted", 0) == n_inserted
    assert by_action.get("kept", 0) == n_target - n_updated
    # status rewritten only where updated/inserted
    assert out.where((F.col("action") == "updated") & (F.col("status") != "X")).count() == 0


def test_qa_bitmask_decodes_known_bitfields(spark):
    """Literal bitfields decode to the exact flag combinations."""
    df = spark.createDataFrame(
        [(0b00000,), (0b00001,), (0b01010,), (0b11011,)],
        T.StructType([T.StructField("qa", T.LongType(), False)]),
    )

    def bit(b):
        return F.shiftright(F.col("qa"), b).bitwiseAND(F.lit(1)) == 1

    rows = df.select(
        bit(0).alias("fill"), bit(1).alias("dilated"), bit(3).alias("cloud"),
        bit(4).alias("shadow"),
    ).collect()
    assert [tuple(r) for r in rows] == [
        (False, False, False, False),
        (True, False, False, False),
        (False, True, True, False),
        (True, True, True, True),
    ]


def test_trailing_window_hand_computed(spark):
    """3 events inside an hour + 1 outside: the trailing-1h frame keeps
    exactly the in-window rows (RANGE peers included)."""
    from glaciersgee_spark.operators.relational import q_b_window_trailing  # noqa: F401

    data = [
        (1, "2024-01-01 00:00:00", 1.0),
        (2, "2024-01-01 00:30:00", 2.0),
        (3, "2024-01-01 01:00:00", 4.0),   # exactly 1h after e1: in frame
        (4, "2024-01-01 02:30:00", 8.0),   # everything else out of range
    ]
    df = spark.createDataFrame(data, ["event_id", "ts_s", "value"]).select(
        "event_id", F.col("ts_s").cast("timestamp").alias("ts"), "value", F.lit(7).alias("user_id")
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts").cast("timestamp")))
        .rangeBetween(-3_600_000_000, 0)
    )
    got = {
        r.event_id: r.n
        for r in df.select("event_id", F.count(F.lit(1)).over(w).alias("n")).collect()
    }
    assert got == {1: 1, 2: 2, 3: 3, 4: 1}


def test_cobucket_pairs_caps_hot_buckets(spark):
    """A degenerate bucket above max_bucket is dropped (no quadratic
    expansion), healthy buckets still pair, and bucket_overflow reports
    exactly the dropped bucket with its would-be pair count."""
    from glaciersgee_spark.operators.lsh import bucket_overflow, cobucket_pairs

    rows = [(i, 0, 99) for i in range(12)]  # hot bucket: 12 entities
    rows += [(100, 0, 7), (101, 0, 7)]  # healthy bucket: 2 entities
    banded = spark.createDataFrame(rows, "id long, band int, bkey long")

    capped = cobucket_pairs(banded, ["band", "bkey"], ["id"], max_bucket=10)
    got = {(r.a.id, r.b.id) for r in capped.collect()}
    assert got == {(100, 101)}

    uncapped = cobucket_pairs(banded, ["band", "bkey"], ["id"], max_bucket=None)
    assert uncapped.count() == 12 * 11 // 2 + 1

    audit = bucket_overflow(banded, ["band", "bkey"], max_bucket=10).collect()
    assert len(audit) == 1
    assert audit[0].n_entities == 12
    assert audit[0].n_pairs_dropped == 66


def test_cobucket_pairs_filters_before_aggregation(spark):
    """Memory safety at scale (round-3 fix): the hot-bucket filter must
    run BELOW the collect_list aggregate in the physical plan — a
    spillable window count drops oversized buckets before any
    aggregation buffer materializes them — and the whole thing still
    costs a single shuffle."""
    from glaciersgee_spark.operators.lsh import cobucket_pairs

    banded = spark.createDataFrame(
        [(i, 0, i % 3) for i in range(30)], "id long, band int, bkey long"
    )
    plan = (
        cobucket_pairs(banded, ["band", "bkey"], ["id"], distinct=False, max_bucket=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    agg_at = plan.index("collect_list")
    filt_at = plan.index("_bucket_n")
    assert filt_at > agg_at, "bucket-size filter must be below (after) the agg in plan text"
    assert plan.count("Exchange") == 1, f"expected exactly one shuffle:\n{plan}"


def test_corpus_banding_never_overflows_default_cap(spark):
    """Precondition audit for every capped-candidate query
    (q_e_dedup_near_md5, q_e_minhash_est_err, q_e_minhash_bbit,
    q_e_jaccard_sweep configs): their oracles' DISTINCT self-joins are
    uncapped, so exact parity requires that NO (band, bkey) bucket of
    the real corpus banding reaches cobucket_pairs' default cap. If a
    regenerated corpus ever violates this, the failure surfaces HERE
    (and as a parity row-count mismatch), not as silent wrongness."""
    from glaciersgee_spark.operators.dedup import (
        _MH_PERMS,
        _MH_PERMS_HR,
        _SWEEP,
        _banded,
        _md5_base,
        _md5_pairs,
    )
    from glaciersgee_spark.operators.lsh import bucket_overflow

    base = _md5_base(spark, SF_SMOKE)
    # The base-M packed bandings the pair queries run (near_md5 default
    # + high-recall variant, est_err, bbit), plus a second perm family
    # with the default's (band_size, n_minhash):
    configs = ((2, 8, _MH_PERMS), (2, 16, _MH_PERMS_HR), (2, 8, _MH_PERMS_HR[:8]))
    pair_sets = []
    for bs, n, perms in configs:
        banded = _banded(base, bs, n, perms)
        n_over = bucket_overflow(banded, ["band", "bkey"]).count()
        assert n_over == 0, f"_banded {bs}x{n}: {n_over} buckets over the cap"
        pair_sets.append(_md5_pairs(spark, SF_SMOKE, bs, n, perms))
    # The pair-set cache keys on the whole perm family: same (band_size,
    # n_minhash) with other coefficients gets its own persisted frame.
    assert len({id(p) for p in pair_sets}) == len(configs)
    assert all(p.storageLevel.useMemory for p in pair_sets)
    assert _md5_pairs(spark, SF_SMOKE, 2, 8, list(_MH_PERMS_HR[:8])) is pair_sets[2]
    # The 31-mix folded bandings of every q_e_lsh_tuning config:
    for tag, bs, n, perms in _SWEEP:
        banded = _banded(base, bs, n, perms, fold=31)
        n_over = bucket_overflow(banded, ["band", "bkey"]).count()
        assert n_over == 0, f"sweep config {tag}: {n_over} buckets over the cap"


def test_band_rows_match_oracle_band_builder(spark):
    """The Spark band rows (_banded) equal the DuckDB oracle's `bands`
    CTE (_d_lsh) row for row, as a (doc_id, band, bkey) multiset, for
    the pair queries' default banding and every q_e_lsh_tuning config.
    The parity rows of q_e_lsh_tuning compare candidate counts only,
    so a band key that drifted in one engine could hide there."""
    from collections import Counter

    from glaciersgee_spark.operators.dedup import (
        _D_HASHED,
        _MH_PERMS,
        _MHM,
        _SWEEP,
        _banded,
        _d_lsh,
        _md5_base,
    )
    from tests.parity import make_duck

    base = _md5_base(spark, SF_SMOKE)
    con = make_duck(SF_SMOKE)
    configs = [(2, 8, _MH_PERMS, _MHM)]
    configs += [(bs, n, perms, 31) for _, bs, n, perms in _SWEEP]
    for bs, n, perms, fold in configs:
        spark_rows = Counter(
            tuple(r) for r in _banded(base, bs, n, perms, fold).collect()
        )
        duck_rows = Counter(
            con.execute(
                f"WITH {_D_HASHED}, {_d_lsh(bs, n, perms, fold)} "
                "SELECT doc_id, band, bkey FROM bands"
            ).fetchall()
        )
        assert sum(spark_rows.values()) == base.count() * (n // bs) > 0
        assert spark_rows == duck_rows, f"{bs}x{n} fold {fold}"


def test_posting_copairs_exact_counts(spark):
    """posting_copairs emits one row per (pair, shared key) — the exact
    inverted-index contract — with id_a < id_b, and never drops
    contributions from a hot posting key."""
    from glaciersgee_spark.operators.lsh import posting_copairs

    rows = [(1, 10), (2, 10), (3, 10), (1, 20), (2, 20), (9, 30)]
    post = spark.createDataFrame(rows, "doc_id long, pkey long")
    pairs = posting_copairs(post, ["pkey"], "doc_id")
    got = sorted((r.id_a, r.id_b) for r in pairs.collect())
    assert got == [(1, 2), (1, 2), (1, 3), (2, 3)]  # (1,2) shares keys 10 AND 20

    # hot key: all contributions kept (exactness), count = C(n,2)
    hot = spark.createDataFrame([(i, 0) for i in range(40)], "doc_id long, pkey long")
    assert posting_copairs(hot, ["pkey"], "doc_id").count() == 40 * 39 // 2


def test_recursive_spine_has_no_month_gaps(spark):
    """The densified month spine must be contiguous min..max and mark
    exactly the order-free months as gaps."""
    from glaciersgee_spark.operators.relational import q_b_recursive_cte

    rows = q_b_recursive_cte(spark, SF_SMOKE).collect()
    ids = sorted(r.month_id for r in rows)
    assert ids == list(range(ids[0], ids[-1] + 1))
    for r in rows:
        assert r.is_gap == (r.n_orders == 0)
        assert 1 <= r.mo <= 12
        assert r.month_id == r.yr * 12 + r.mo


def test_nullsafe_join_keeps_null_rows(spark):
    """Every fact row must match (NULLs included): Σ n_joined = |fact|,
    and the NULL dim row must be present with n_joined == n_k."""
    from glaciersgee_spark.operators.relational import q_b_join_nullsafe
    from glaciersgee_spark.tables import load_table

    rows = q_b_join_nullsafe(spark, SF_SMOKE).collect()
    n_events = load_table(spark, SF_SMOKE, "events").count()
    assert sum(r.n_joined for r in rows) == n_events
    null_rows = [r for r in rows if r.k is None]
    assert len(null_rows) == 1 and null_rows[0].n_joined == null_rows[0].n_k


def test_window_dedup_flags_verbatim_spans(spark):
    """Two docs sharing a verbatim ≥8-token span are both flagged with
    n_dup_windows ≥ 1; a unique doc has zero."""
    from glaciersgee_spark.operators.curation import q_e_window_dedup
    from glaciersgee_spark import tables

    span = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [
            (1, "x y " + span, "en", "s0", 0),
            (2, span + " p q r", "en", "s1", 0),
            (3, "one two three four five six seven eight nine ten", "en", "s2", 0),
        ],
        tables.EXPECTED_STRUCT["documents"]
        if hasattr(tables, "EXPECTED_STRUCT")
        else "doc_id long, text string, lang string, source string, n_chars int",
    )
    import glaciersgee_spark.operators.curation as cur
    import pyspark.sql.functions as FF

    tk = df.select("doc_id", FF.split("text", " ").alias("tk")).where(
        FF.size("tk") >= cur.WIN_TOKENS
    )
    wins = tk.select(
        "doc_id",
        FF.explode(
            FF.expr(
                f"transform(sequence(1, size(tk) - {cur.WIN_TOKENS - 1}), "
                f"i -> md5(array_join(slice(tk, i, {cur.WIN_TOKENS}), ' ')))"
            )
        ).alias("wh"),
    )
    shared = (
        wins.groupBy("wh")
        .agg(FF.countDistinct("doc_id").alias("nd"))
        .where(FF.col("nd") >= 2)
    )
    dup_docs = {
        r.doc_id
        for r in wins.join(shared.select("wh"), "wh").select("doc_id").distinct().collect()
    }
    assert dup_docs == {1, 2}


def test_kmeans_iter_partitions_all_vectors(spark):
    """Cell sizes must sum to the corpus size and every cell 1..K must
    appear (seed centroids at least assign to themselves)."""
    from glaciersgee_spark.operators.similarity import KM_K, q_e_kmeans_iter
    from glaciersgee_spark.tables import load_table

    rows = q_e_kmeans_iter(spark, SF_SMOKE).collect()
    n_vecs = load_table(spark, SF_SMOKE, "embeddings").count()
    assert sum(r.n_assigned for r in rows) == n_vecs
    assert {r.cid for r in rows} == set(range(1, KM_K + 1))
    for r in rows:
        assert r.shift6 >= 0.0


def test_group_map_zscore_is_centered(spark):
    """Per-language z-scores must (approximately) sum to zero and carry
    one row per input doc."""
    from glaciersgee_spark.tables import load_table
    from glaciersgee_spark.udfs import q_f_pandas_group_map

    rows = q_f_pandas_group_map(spark, SF_SMOKE).collect()
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert len(rows) == n_docs
    by_lang: dict[str, float] = {}
    for r in rows:
        by_lang[r.lang] = by_lang.get(r.lang, 0.0) + r.z
    for lang, s in by_lang.items():
        assert abs(s) < 1e-2, (lang, s)


def test_semdedup_pairs_stay_within_cells(spark):
    """Every reported duplicate's keeper must sit in the same k-means
    cell (the SemDeDup contract) and keep_id < vec_id."""
    from glaciersgee_spark.operators.similarity import q_e_semdedup

    rows = q_e_semdedup(spark, SF_SMOKE).collect()
    for r in rows:
        assert r.keep_id < r.vec_id
        assert r.n_dups >= 1


def test_pack_efficiency_arithmetic(spark):
    """Padding waste must be consistent with the block arithmetic and
    packing can never need more blocks than padding."""
    from glaciersgee_spark.operators.curation import PACK_BLOCK, q_e_pack_efficiency

    rows = q_e_pack_efficiency(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.packed_blocks <= r.padded_blocks
        assert 0.0 <= r.pad_waste_frac < 1.0
        assert abs(
            r.pad_waste_frac
            - (r.padded_blocks * PACK_BLOCK - r.sum_tokens)
            / (r.padded_blocks * PACK_BLOCK)
        ) < 1e-6
        assert r.packed_blocks == (r.sum_tokens + PACK_BLOCK - 1) // PACK_BLOCK


def test_lsh_tuning_monotonicity(spark):
    """More OR-bands ⇒ more candidates; AND-amplification (wider rows)
    ⇒ fewer candidates; recall/precision stay within [0, 1]."""
    from glaciersgee_spark.operators.dedup import q_e_lsh_tuning

    rows = {r.config: r for r in q_e_lsh_tuning(spark, SF_SMOKE).collect()}
    assert set(rows) == {"4x2", "8x2", "4x4"}
    assert rows["8x2"].n_candidates >= rows["4x2"].n_candidates
    assert rows["4x4"].n_candidates <= rows["8x2"].n_candidates
    for r in rows.values():
        assert 0.0 <= r.recall6 <= 1.0
        assert 0.0 <= r.precision6 <= 1.0
        assert r.n_caught <= r.n_candidates and r.n_caught <= r.n_true


def test_cloud_window_is_contiguous_minimum(spark):
    """Each tile's reported window must be the min over its own 3-day
    sums (checked by recomputation for a few tiles)."""
    from glaciersgee_spark.operators.etl import q_a_cloud_window

    rows = q_a_cloud_window(spark, SF_SMOKE).collect()
    assert rows
    for r in rows[:5]:
        assert r.avg_cloud3 >= 0.0


def test_funnel_stages_are_nested(spark):
    """Funnel stages must nest: purchasers ⊆ clickers ⊆ viewers."""
    from glaciersgee_spark.operators.relational import q_b_funnel

    rows = q_b_funnel(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        if r.purchased_after_click:
            assert r.clicked_after_view


def test_shard_manifest_conserves_bytes(spark):
    """Shard byte totals must sum to the corpus payload bytes and no
    shard may start beyond the previous shard's end."""
    from glaciersgee_spark.operators.multimodal import q_e_mm_shard_manifest
    from glaciersgee_spark.tables import load_table
    import pyspark.sql.functions as FF

    rows = q_e_mm_shard_manifest(spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    total = d.agg(FF.sum(FF.length(FF.col("text").cast("binary")))).collect()[0][0]
    assert sum(r.shard_bytes for r in rows) == total
    by_lang: dict[str, list] = {}
    for r in rows:
        by_lang.setdefault(r.lang, []).append(r)
    for lang, shards in by_lang.items():
        ids = sorted(s.shard_id for s in shards)
        assert ids == list(range(len(ids))), (lang, ids)


def test_gapfill_covers_full_spine(spark):
    """Every selected tile must emit one row per spine day, and
    interpolated values must sit between their anchors."""
    from glaciersgee_spark.operators.etl import q_a_gapfill_interp
    from glaciersgee_spark.tables import load_table
    import pyspark.sql.functions as FF

    rows = q_a_gapfill_interp(spark, SF_SMOKE).collect()
    ev = load_table(spark, SF_SMOKE, "events")
    n_days = ev.select(FF.date_trunc("day", "ts").cast("date")).distinct().count()
    n_tiles = ev.where(FF.col("user_id") % 10 == 0).select("user_id").distinct().count()
    assert len(rows) == n_days * n_tiles
    methods = {r.method for r in rows}
    assert "observed" in methods
    for r in rows:
        assert r.filled6 is not None and r.filled6 >= 0.0


def test_cluster_balance_shares_sum_to_one(spark):
    from glaciersgee_spark.operators.similarity import q_e_cluster_balance

    rows = q_e_cluster_balance(spark, SF_SMOKE).collect()
    assert abs(sum(r.share6 for r in rows) - 1.0) < 1e-4
    cvs = {r.cv6 for r in rows}
    assert len(cvs) == 1 and min(cvs) >= 0.0


def test_observe_metrics_match_aggregate(spark):
    """The side-band CollectMetrics numbers must equal the aggregate
    computed from the same pass."""
    from pyspark.sql import Observation
    from glaciersgee_spark.registry import dsum
    from glaciersgee_spark.tables import load_table
    import pyspark.sql.functions as FF

    li = load_table(spark, SF_SMOKE, "lineitem")
    obs = Observation("om")
    df = li.where(FF.col("l_quantity") >= 45.0).observe(
        obs, FF.count(FF.lit(1)).alias("rows_seen"),
        FF.expr(dsum("l_quantity")).alias("qty_seen"),
    )
    agg = df.groupBy().agg(
        FF.count(FF.lit(1)).alias("n"), FF.expr(dsum("l_quantity")).alias("s")
    ).collect()[0]
    got = obs.get
    assert got["rows_seen"] == agg.n
    assert abs(got["qty_seen"] - agg.s) < 1e-9


def test_span_dedup_flags_identical_docs(spark):
    # Two identical long docs + one unique doc: the twins' shingles are
    # 100 % duplicated, the unique doc's 0 %.
    import glaciersgee_spark.operators.spans as S

    rows = (
        spark.createDataFrame(
            [
                (1, "a b c d e f g h i j k l", "dup_src"),
                (2, "a b c d e f g h i j k l", "dup_src"),
                (3, "z y x w v u t s r q p o", "uniq_src"),
            ],
            "doc_id long, text string, source string",
        )
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        rows.withColumn("lang", F.lit("en")).withColumn(
            "n_chars", F.length("text").cast("long")
        ).select("doc_id", "text", "lang", "source", "n_chars").write.parquet(
            os.path.join(td, "documents.parquet")
        )
        out = {r.source: r for r in S.q_e_span_dedup(spark, td).collect()}
    assert out["dup_src"].avg_coverage == 1.0
    assert out["dup_src"].n_flagged == 2
    assert out["uniq_src"].avg_coverage == 0.0
    assert out["uniq_src"].n_flagged == 0


def test_winnow_density_bounds(spark):
    # Winnowing guarantees ≥1 fingerprint per window and at most one
    # NEW fingerprint per window → density in (0, 1].
    from glaciersgee_spark.operators.spans import q_e_winnow

    for r in q_e_winnow(spark, SF_SMOKE).collect():
        assert r.n_docs > 0
        density = r.avg_density
        assert 0.0 < density <= 1.0


def test_profile_matches_direct_aggregates(spark):
    from glaciersgee_spark.operators.warehouse import q_b_profile
    from glaciersgee_spark.tables import load_table

    prof = {r.col_name: r for r in q_b_profile(spark, SF_SMOKE).collect()}
    li = load_table(spark, SF_SMOKE, "lineitem")
    n = li.count()
    for row in prof.values():
        assert row.n_rows == n
        assert row.n_null == 0
        assert row.min_v <= row.max_v
    direct_ndv = li.select(F.countDistinct("l_quantity")).collect()[0][0]
    assert prof["l_quantity"].ndv == direct_ndv


def test_scd2_intervals_tile_each_user(spark):
    # Within a user: intervals are contiguous (valid_to == next
    # valid_from), exactly one open interval, event counts sum to the
    # user's sampled event total.
    from glaciersgee_spark.operators.warehouse import q_b_scd2
    from glaciersgee_spark.tables import load_table

    rows = q_b_scd2(spark, SF_SMOKE).collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    ev = load_table(spark, SF_SMOKE, "events").where(F.col("user_id") % 17 == 0)
    totals = {r.user_id: r.n for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_user, "sample produced no users"
    for uid, ivs in by_user.items():
        ivs.sort(key=lambda r: r.valid_from)
        assert sum(1 for r in ivs if r.is_current) == 1
        assert ivs[-1].valid_to is None
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to == b.valid_from
            assert a.event_type != b.event_type
        assert sum(r.n_events for r in ivs) == totals[uid]


def test_embed_gram_diagonal_positive_and_symmetric_shape(spark):
    from glaciersgee_spark.operators.linalg import DIM, q_e_embed_gram

    rows = q_e_embed_gram(spark, SF_SMOKE).collect()
    assert len(rows) == DIM * (DIM + 1) // 2
    diag = {r.i: r.gram for r in rows if r.i == r.j}
    assert len(diag) == DIM
    assert all(v > 0 for v in diag.values())
    # Cauchy-Schwarz: |G_ij| <= sqrt(G_ii * G_jj)
    for r in rows:
        if r.i != r.j:
            assert abs(r.gram) <= (diag[r.i] * diag[r.j]) ** 0.5 + 1e-6


def test_maparrow_matches_sql_expression(spark):
    from glaciersgee_spark.tables import load_table
    from glaciersgee_spark.udfs import q_f_maparrow

    # (l_orderkey, l_linenumber) is NOT unique in the synthetic corpus,
    # so compare as sorted multisets of full rows.
    got = sorted(
        (r.l_orderkey, r.l_linenumber, r.revenue_cents)
        for r in q_f_maparrow(spark, SF_SMOKE).collect()
    )
    li = load_table(spark, SF_SMOKE, "lineitem").where(F.col("l_orderkey") % 10 == 0)
    want = sorted(
        (r.l_orderkey, r.l_linenumber, r.rc)
        for r in li.select(
            "l_orderkey",
            "l_linenumber",
            F.floor(F.col("l_extendedprice") * (1.0 - F.col("l_discount")) * 100.0)
            .cast("long")
            .alias("rc"),
        ).collect()
    )
    assert got == want


def test_snapshot_diff_classes_partition_the_key_space(spark):
    from glaciersgee_spark.operators.warehouse import q_b_snapshot_diff
    from glaciersgee_spark.tables import load_table

    rows = {r.diff_status: r for r in q_b_snapshot_diff(spark, SF_SMOKE).collect()}
    o = load_table(spark, SF_SMOKE, "orders")
    n_a = o.where(F.col("o_orderkey") % 3 != 0).count()
    n_b = o.where(F.col("o_orderkey") % 5 != 0).count()
    # every snap_a row is removed/changed/unchanged; every snap_b row is
    # added/changed/unchanged
    assert rows["removed"].n_rows + rows["changed"].n_rows + rows["unchanged"].n_rows == n_a
    assert rows["added"].n_rows + rows["changed"].n_rows + rows["unchanged"].n_rows == n_b
    assert rows["unchanged"].delta_cents == 0
    assert rows["changed"].delta_cents > 0  # 10% bumps only
    assert rows["removed"].delta_cents < 0


def test_dedup_soft_weights_conserve_groups(spark):
    # Σ weights over the corpus equals the number of distinct content
    # keys (each group contributes ~1.0, up to 6-dp rounding).
    from glaciersgee_spark.operators.dedup import q_e_dedup_soft
    from glaciersgee_spark.tables import load_table

    rows = q_e_dedup_soft(spark, SF_SMOKE).collect()
    eff = sum(r.effective_docs for r in rows)
    d = load_table(spark, SF_SMOKE, "documents")
    n_groups = (
        d.select(
            F.md5(F.concat_ws("|", "lang", "source", F.col("n_chars").cast("string")))
        )
        .distinct()
        .count()
    )
    assert abs(eff - n_groups) < 0.01 * n_groups + 1


def test_dup_sizes_docs_sum_to_corpus(spark):
    from glaciersgee_spark.operators.dedup import q_e_dup_sizes
    from glaciersgee_spark.tables import load_table

    rows = q_e_dup_sizes(spark, SF_SMOKE).collect()
    total = sum(r.n_docs for r in rows)
    assert total == load_table(spark, SF_SMOKE, "documents").count()
    assert all(r.n_groups <= r.n_docs for r in rows)


def test_corpus_drift_is_antisymmetric_on_swap(spark):
    # log_ratio(a,b) computed on the full corpus; every returned row
    # must be reproducible from raw counts.
    import math

    from glaciersgee_spark.operators.drift import q_e_corpus_drift
    from glaciersgee_spark.tables import load_table

    rows = q_e_corpus_drift(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= 30
    toks = load_table(spark, SF_SMOKE, "documents").select(
        (F.col("doc_id") % 2 == 0).alias("sa"),
        F.explode(F.split("text", " ")).alias("t"),
    )
    na = toks.where("sa").count()
    nb = toks.where(~F.col("sa")).count()
    for r in rows[:5]:
        want = round(
            math.log(((r.ca + 1.0) * (nb + 1.0)) / ((r.cb + 1.0) * (na + 1.0))), 6
        )
        assert abs(r.log_ratio - want) < 2e-6


def test_ngram_novelty_first_doc_is_fully_novel(spark):
    # On a corpus where doc 0 has the minimum doc_id, every gram of the
    # min-id doc is first-seen there -> its novelty is 1; source
    # averages are in (0, 1].
    from glaciersgee_spark.operators.drift import q_e_ngram_novelty

    rows = q_e_ngram_novelty(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0.0 < r.avg_novelty <= 1.0
        assert 0 <= r.n_stale <= r.n_docs


def test_mm_pairs_rates_bounded_and_consistent(spark):
    from glaciersgee_spark.operators.multimodal import q_e_mm_pairs
    from glaciersgee_spark.tables import load_table

    rows = q_e_mm_pairs(spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    assert sum(r.n_docs for r in rows) == d.count()
    for r in rows:
        assert 0 <= r.n_paired <= r.n_docs
        assert abs(r.pair_rate - round(r.n_paired / r.n_docs, 6)) < 1e-9
        if r.n_paired == 0:
            assert r.paired_bytes == 0 and r.n_labels == 0


def test_quantiles_are_monotone_and_bounded(spark):
    from glaciersgee_spark.operators.warehouse import q_b_quantiles
    from glaciersgee_spark.tables import load_table

    rows = q_b_quantiles(spark, SF_SMOKE).collect()
    li = load_table(spark, SF_SMOKE, "lineitem")
    lohi = li.agg(
        F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi")
    ).collect()[0]
    assert rows
    for r in rows:
        assert lohi.lo <= r.p25 <= r.p50 <= r.p75 <= r.p95 <= r.p99 <= lohi.hi


def test_len_buckets_conserve_docs_and_tokens(spark):
    from glaciersgee_spark.operators.drift import q_e_len_buckets
    from glaciersgee_spark.tables import load_table

    rows = q_e_len_buckets(spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    assert sum(r.n_docs for r in rows) == d.count()
    share = sum(r.token_share for r in rows)
    assert abs(share - 1.0) < 1e-4
    # labels sort in budget order
    labels = [r.len_bucket for r in rows]
    assert labels == sorted(labels)


def test_boilerplate_flags_shared_prefixes(spark):
    # Synthetic corpus: two docs share an 8-token prefix, one doesn't.
    import os
    import tempfile

    from glaciersgee_spark.operators.drift import q_e_boilerplate

    pref = "t1 t2 t3 t4 t5 t6 t7 t8"
    rows = spark.createDataFrame(
        [
            (1, pref + " alpha beta", "en", "s1", 1),
            (2, pref + " gamma delta", "en", "s1", 1),
            (3, "u1 u2 u3 u4 u5 u6 u7 u8 unique tail", "en", "s1", 1),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as td:
        rows.write.parquet(os.path.join(td, "documents.parquet"))
        out = q_e_boilerplate(spark, td).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_docs == 3 and r.n_boiler_docs == 2 and r.max_prefix_group == 2


def test_containment_catches_contained_doc(spark):
    # Doc 1's shingles are a strict subset of doc 2's -> cont_ab = 1.0
    # even though Jaccard is low.
    import os
    import tempfile

    from glaciersgee_spark.operators.dedup import q_e_containment

    small = "a b c d"
    big = small + " e f g h i j k l m n o p q r s t u v w x y z"
    rows = spark.createDataFrame(
        [(1, small, "en", "s1", 1), (2, big, "en", "s1", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as td:
        rows.write.parquet(os.path.join(td, "documents.parquet"))
        out = q_e_containment(spark, td).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.id_a, r.id_b) == (1, 2)
    assert r.cont_ab == 1.0
    assert r.cont_ba < 0.2


def test_power_iter_is_unit_norm_and_gram_consistent(spark):
    # v1 must be unit norm, and recomputing G @ v0 from q_e_embed_gram's
    # symmetrized output must give the same direction.
    from glaciersgee_spark.operators.linalg import DIM, q_e_power_iter

    rows = q_e_power_iter(spark, SF_SMOKE).collect()
    assert len(rows) == DIM
    norm = sum(r.v1 * r.v1 for r in rows) ** 0.5
    assert abs(norm - 1.0) < 1e-4


def test_lateness_audit_counts_are_consistent(spark):
    from glaciersgee_spark.streaming.batch_equiv import q_d_lateness_audit
    from glaciersgee_spark.tables import load_table

    rows = q_d_lateness_audit(spark, SF_SMOKE).collect()
    ev = load_table(spark, SF_SMOKE, "events")
    assert sum(r.n_events for r in rows) == ev.count()
    for r in rows:
        assert 0 <= r.n_late <= r.n_events
        assert r.max_lag_s >= 0
        assert abs(r.late_rate - round(r.n_late / r.n_events, 6)) < 1e-9


def test_tok_entropy_bounds(spark):
    # 0 <= H <= ln(n_tokens); single-token-repeated docs score ~0.
    from glaciersgee_spark.operators.drift import q_e_tok_entropy

    rows = q_e_tok_entropy(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert -1e-6 <= r.avg_entropy < 10.0
        assert 0 <= r.n_low_entropy <= r.n_docs


def test_url_dedup_collapses_all_mirrors(spark):
    # 3 mirrors per (scene, band) -> every canonical group has exactly
    # 3 members; dup_rate = 2/3.
    from glaciersgee_spark.operators.dedup import q_e_url_dedup

    r = q_e_url_dedup(spark, SF_SMOKE).collect()[0]
    assert r.n_urls == r.n_canonical * 3
    assert r.max_group == 3
    assert r.n_singletons == 0
    assert abs(r.dup_rate - round(2.0 / 3.0, 6)) < 1e-9


def test_tile_neighbors_shares_bounded(spark):
    from glaciersgee_spark.operators.etl import q_a_tile_neighbors

    rows = q_a_tile_neighbors(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_scenes <= r.n_hood
        assert 0.0 < r.self_share <= 1.0
        assert 0 <= r.path <= 24 and 0 <= r.row_ <= 24


def test_knn_graph_scores_bounded_and_cell_scoped(spark):
    from glaciersgee_spark.operators.similarity import q_e_knn_graph

    rows = q_e_knn_graph(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 1 <= r.k_got <= 5
        assert r.k_got <= r.n_cell - 1
        assert -1.0 <= r.knn_min <= r.knn_mean <= 1.0


def test_diversity_sample_per_cell_shape(spark):
    from glaciersgee_spark.operators.similarity import KM_K, q_e_diversity_sample

    rows = q_e_diversity_sample(spark, SF_SMOKE).collect()
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r.cid, []).append(r)
    assert len(by_cell) <= KM_K
    for cid, sel in by_cell.items():
        assert len(sel) <= 10
        protos = [r for r in sel if r.role == "prototype"]
        bounds = [r for r in sel if r.role == "boundary"]
        assert len(protos) <= 5 and len(bounds) <= 5
        if protos and bounds:
            assert min(r.centroid_cos for r in protos) >= max(
                r.centroid_cos for r in bounds
            ) - 1e-9


def test_label_balance_weights_equalize_mass(spark):
    from glaciersgee_spark.operators.similarity import q_e_label_balance

    rows = q_e_label_balance(spark, SF_SMOKE).collect()
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-4
    # expected resampled mass per class: n * weight == total / k for all
    masses = [r.n * r.weight for r in rows]
    assert max(masses) - min(masses) < 0.01 * max(masses)


def test_skew_audit_internally_consistent(spark):
    from glaciersgee_spark.operators.warehouse import q_b_skew_audit
    from glaciersgee_spark.tables import load_table

    r = q_b_skew_audit(spark, SF_SMOKE).collect()[0]
    ev = load_table(spark, SF_SMOKE, "events")
    assert r.total == ev.count()
    assert r.n_keys == ev.select("user_id").distinct().count()
    assert r.p50 <= r.p99 <= r.max_n
    assert 0 < r.max_share <= 1.0
    assert r.skew_ratio >= 1.0


def test_pandas_iter_matches_builtin_expression(spark):
    from glaciersgee_spark.udfs import q_f_pandas_iter
    from glaciersgee_spark.tables import load_table

    got = sorted(
        (r.o_orderkey, r.log_rev) for r in q_f_pandas_iter(spark, SF_SMOKE).collect()
    )
    o = load_table(spark, SF_SMOKE, "orders").where(F.col("o_orderkey") % 20 == 0)
    want = sorted(
        (r.o_orderkey, r.lr)
        for r in o.select(
            "o_orderkey", F.round(F.log(F.col("o_totalprice") / 100.0), 6).alias("lr")
        ).collect()
    )
    assert got == want


def test_summary_card_conserves_docs(spark):
    from glaciersgee_spark.operators.drift import q_e_summary_card
    from glaciersgee_spark.tables import load_table

    rows = q_e_summary_card(spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    assert sum(r.n_docs for r in rows) == d.count()
    for r in rows:
        assert 0 <= r.n_clean <= r.n_docs
        assert 0.0 <= r.exact_dup_rate < 1.0
        assert r.n_langs >= 1


def test_stereo_pairs_kinds_ordered_and_bounded(spark):
    from glaciersgee_spark.operators.etl import q_a_stereo_pairs

    rows = q_a_stereo_pairs(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.kind_a < r.kind_b
        assert 1 <= r.n_tiles <= r.n_pairs


def test_ann_cost_fractions_bounded(spark):
    from glaciersgee_spark.operators.similarity import (
        IVF_NLIST,
        IVF_NPROBE,
        q_e_ann_cost,
    )

    rows = q_e_ann_cost(spark, SF_SMOKE).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 < r.n_probed <= r.n_total
        assert 0.0 < r.scan_frac <= 1.0
        cids = r.probed_cids.split(",")
        assert len(cids) == IVF_NPROBE
        assert all(1 <= int(c) <= IVF_NLIST for c in cids)


def test_regex_family_branches_fire(spark):
    from glaciersgee_spark.functions.scalar import q_c_regex

    rows = q_c_regex(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        # the constructed blob guarantees a lang_srcN compound up front
        assert r.first_stem != "" and r.first_suffix != ""
        assert r.n_alnum_runs >= 1
        assert r.starts_compound is True
        assert r.n_units >= 2


def test_pmi_symmetric_in_counts(spark):
    import math

    from glaciersgee_spark.operators.drift import q_e_pmi
    from glaciersgee_spark.tables import load_table

    rows = q_e_pmi(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= 30
    d = load_table(spark, SF_SMOKE, "documents")
    n_docs = d.count()
    for r in rows[:3]:
        # co <= min(df) and pmi <= ln(n/max-co bound); just re-derive
        assert r.tok_a < r.tok_b
        assert r.co >= 5
        assert math.isfinite(r.pmi)


def test_burstiness_function_words_low(spark):
    from glaciersgee_spark.operators.drift import q_e_burstiness

    rows = q_e_burstiness(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        # VMR of counts is >= 0; present-doc count can't exceed mass
        assert r.burstiness >= -1e-6
        assert r.n_present <= r.total_count


def test_scan_range_deterministic_and_partitioned(spark):
    from glaciersgee_spark.operators.relational import q_b_scan_range

    df = q_b_scan_range(spark, SF_SMOKE)
    rows = df.collect()
    assert len(rows) == (100_000 + 6) // 7
    assert rows[0].id == 0
    assert all(r.h == r.id * r.id % 1_000_003 for r in rows[:50])


def test_simhash_recall_ledger_consistent(spark):
    from glaciersgee_spark.operators.dedup import q_e_simhash_recall

    r = q_e_simhash_recall(spark, SF_SMOKE).collect()[0]
    assert r.n_caught <= min(r.n_truth, r.n_cand)
    assert 0.0 <= r.recall6 <= 1.0
    assert 0.0 <= r.precision6 <= 1.0


def test_anomaly_days_all_above_threshold(spark):
    from glaciersgee_spark.operators.etl import q_a_anomaly_days

    rows = q_a_anomaly_days(spark, SF_SMOKE).collect()
    for r in rows:
        assert r.z > 2.5
        assert r.tile % 11 == 0


def test_shingle_ops_survive_short_documents(spark):
    # Regression: docs shorter than the shingle width must yield ZERO
    # shingles (like the oracle's empty generate_series), not a
    # descending-sequence slice crash.
    import os
    import tempfile

    from glaciersgee_spark.operators.drift import q_e_ngram_novelty
    from glaciersgee_spark.operators.spans import q_e_span_dedup, q_e_winnow

    rows = spark.createDataFrame(
        [
            (1, "a", "en", "s1", 1),
            (2, "a b", "en", "s1", 3),
            (3, "one two three four five six seven eight nine ten", "en", "s1", 10),
            (4, "one two three four five six seven eight nine ten", "en", "s1", 10),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    with tempfile.TemporaryDirectory() as td:
        rows.write.parquet(os.path.join(td, "documents.parquet"))
        span = q_e_span_dedup(spark, td).collect()
        win = q_e_winnow(spark, td).collect()
        nov = q_e_ngram_novelty(spark, td).collect()
    # only the two long docs produce shingles; they are full duplicates
    assert len(span) == 1 and span[0].n_docs == 2 and span[0].avg_coverage == 1.0
    assert len(win) == 1 and win[0].n_docs == 2
    # novelty: doc 2 ("a b") has no 4-grams; docs 3/4 share all grams
    assert len(nov) == 1 and nov[0].n_docs == 2


def test_token_budget_waterfilling_invariants(spark):
    from glaciersgee_spark.operators.drift import (
        BUDGET_DEN,
        BUDGET_NUM,
        q_e_token_budget,
    )

    rows = q_e_token_budget(spark, SF_SMOKE).collect()
    total = sum(r.n_tokens for r in rows)
    budget = total * BUDGET_NUM // BUDGET_DEN
    allocated = sum(r.alloc_tokens for r in rows)
    # never exceeds, leaves at most |sources| remainder tokens
    assert allocated <= budget
    assert budget - allocated < len(rows)
    for r in rows:
        assert 0 < r.alloc_tokens <= r.n_tokens
        assert 0.0 < r.fill_rate <= 1.0
    # small sources fill fully, large sources share one cap
    capped = [r.alloc_tokens for r in rows if r.fill_rate < 1.0]
    assert len(set(capped)) <= 1


def test_cluster_purity_bounds(spark):
    from glaciersgee_spark.operators.similarity import KM_K, q_e_cluster_purity
    from glaciersgee_spark.tables import load_table

    rows = q_e_cluster_purity(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= KM_K
    e = load_table(spark, SF_SMOKE, "embeddings")
    assert sum(r.n_cell for r in rows) == e.count()
    for r in rows:
        # purity >= 1/n_labels (majority at least the mean share)
        assert r.purity >= 1.0 / r.n_labels - 1e-9
        assert r.purity <= 1.0


def test_nmi_information_bounds(spark):
    from glaciersgee_spark.operators.similarity import q_e_nmi

    r = q_e_nmi(spark, SF_SMOKE).collect()[0]
    assert r.h_cells > 0 and r.h_labels > 0
    # 0 <= MI <= min(H) and NMI in [0, 1] (tolerance for 6-dp rounding)
    assert -1e-4 <= r.mutual_info <= min(r.h_cells, r.h_labels) + 1e-4
    assert -1e-4 <= r.nmi <= 1.0 + 1e-4


def test_embed_outliers_all_below_threshold(spark):
    from glaciersgee_spark.operators.similarity import q_e_embed_outliers

    rows = q_e_embed_outliers(spark, SF_SMOKE).collect()
    for r in rows:
        assert r.z < -2.0
        assert -1.0 <= r.centroid_cos <= 1.0


def test_source_overlap_matrix_conserves_pairs(spark):
    from glaciersgee_spark.operators.dedup import (
        q_e_dedup_near_md5,
        q_e_source_overlap,
    )

    rows = q_e_source_overlap(spark, SF_SMOKE).collect()
    total_pairs = q_e_dedup_near_md5(spark, SF_SMOKE).count()
    assert sum(r.n_pairs for r in rows) == total_pairs
    for r in rows:
        assert r.src_x <= r.src_y
        assert r.within_source == (r.src_x == r.src_y)


def test_scene_freshness_staleness_consistent(spark):
    from glaciersgee_spark.operators.etl import q_a_scene_freshness

    from glaciersgee_spark.tables import load_table

    rows = q_a_scene_freshness(spark, SF_SMOKE).collect()
    assert rows
    # re-derive staleness independently for every sampled tile
    ev = load_table(spark, SF_SMOKE, "events")
    per = {
        r.tile: r.last_day
        for r in ev.groupBy(F.col("user_id").alias("tile"))
        .agg(F.max(F.date_trunc("day", "ts")).alias("last_day"))
        .collect()
    }
    horizon = max(per.values())
    for r in rows:
        want = (horizon.date() - per[r.tile].date()).days
        assert r.stale_days == want
        assert r.overdue == (r.stale_days >= 16)
        assert r.tile % 13 == 0


def test_null_family_semantics(spark):
    from glaciersgee_spark.functions.scalar import q_c_null

    rows = q_c_null(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.nullsafe_eq is True  # null-safe compare of x with itself
        assert r.a_null == (r.o_orderkey % 7 == 0)
        if r.a_null:
            assert r.a_or_neg1 == -1 and r.a_tag == "missing"


def test_window_users_bounds(spark):
    from glaciersgee_spark.streaming.batch_equiv import q_d_window_users

    rows = q_d_window_users(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_users <= r.n_events
        assert r.events_per_user >= 1.0


def test_band_explain_buckets_partition_candidates(spark):
    from glaciersgee_spark.operators.dedup import N_MINHASH, BAND_SIZE, q_e_band_explain

    rows = q_e_band_explain(spark, SF_SMOKE).collect()
    assert rows
    max_bands = N_MINHASH // BAND_SIZE
    # precision must be monotone-ish: more matching bands never hurts
    by_bands = sorted(rows, key=lambda r: r.n_bands)
    for r in by_bands:
        assert 1 <= r.n_bands <= max_bands
        assert 0 <= r.n_verified <= r.n_pairs
    if len(by_bands) >= 2:
        assert by_bands[-1].precision6 >= by_bands[0].precision6


def test_mad_bounded_by_range(spark):
    from glaciersgee_spark.operators.warehouse import q_b_mad
    from glaciersgee_spark.tables import load_table

    rows = q_b_mad(spark, SF_SMOKE).collect()
    li = load_table(spark, SF_SMOKE, "lineitem")
    lohi = li.agg(
        F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi")
    ).collect()[0]
    for r in rows:
        assert lohi.lo <= r.median_price <= lohi.hi
        assert 0 <= r.mad <= (lohi.hi - lohi.lo)
        assert abs(r.sigma_robust - round(r.mad * 1.4826, 4)) < 0.01 * max(r.mad, 1)


def test_growth_curve_monotone_and_conserves_users(spark):
    from glaciersgee_spark.operators.warehouse import q_b_growth_curve
    from glaciersgee_spark.tables import load_table

    rows = q_b_growth_curve(spark, SF_SMOKE).collect()
    assert rows == sorted(rows, key=lambda r: r.day)
    assert rows[-1].cum_users == load_table(spark, SF_SMOKE, "events").select(
        "user_id"
    ).distinct().count()
    cum = 0
    for r in rows:
        cum += r.new_users
        assert r.cum_users == cum


def test_vocab_growth_conserves_types(spark):
    from glaciersgee_spark.operators.drift import q_e_vocab_growth
    from glaciersgee_spark.tables import load_table

    rows = q_e_vocab_growth(spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    n_types = (
        d.select(F.explode(F.split("text", " ")).alias("t")).distinct().count()
    )
    assert rows[-1].cum_vocab == n_types
    assert all(0 <= r.decile <= 9 for r in rows)
    # Heaps: later deciles introduce no more than the first
    assert rows[-1].new_types <= rows[0].new_types


def test_monthly_coverage_bounded(spark):
    from glaciersgee_spark.operators.etl import q_a_monthly_coverage
    from glaciersgee_spark.tables import load_table

    rows = q_a_monthly_coverage(spark, SF_SMOKE).collect()
    assert rows
    grid = (
        load_table(spark, SF_SMOKE, "events").select("user_id").distinct().count()
    )
    for r in rows:
        assert 1 <= r.n_tiles_covered <= r.n_grid == grid
        assert 0.0 < r.coverage_pct <= 1.0


def test_fk_audit_clean_star_schema(spark):
    # the synthetic star is referentially intact: zero orphans expected,
    # child counts match the raw tables
    from glaciersgee_spark.operators.warehouse import q_b_fk_audit
    from glaciersgee_spark.tables import load_table

    rows = {r.fk: r for r in q_b_fk_audit(spark, SF_SMOKE).collect()}
    assert len(rows) == 3
    o = load_table(spark, SF_SMOKE, "orders").count()
    li = load_table(spark, SF_SMOKE, "lineitem").count()
    c = load_table(spark, SF_SMOKE, "customer").count()
    assert rows["orders.o_custkey -> customer"].n_child == o
    assert rows["lineitem.l_orderkey -> orders"].n_child == li
    assert rows["customer.c_nationkey -> nation"].n_child == c
    for r in rows.values():
        assert r.n_orphans >= 0 and 0.0 <= r.orphan_rate <= 1.0


def test_pit_join_resolves_every_probe_consistently(spark):
    from glaciersgee_spark.operators.warehouse import q_b_pit_join
    from glaciersgee_spark.tables import load_table

    rows = q_b_pit_join(spark, SF_SMOKE).collect()
    n_probes = (
        load_table(spark, SF_SMOKE, "events")
        .where((F.col("user_id") % 17 == 0) & (F.col("event_id") % 5 == 0))
        .count()
    )
    # every probe hits exactly one validity interval
    assert len(rows) == n_probes
    # half-open intervals make the as-of state the probe's own type
    assert all(r.state_consistent for r in rows)


def test_cc_stars_matches_label_propagation(spark):
    """The round-bounded star-contraction components must be byte-equal
    to the min-label-propagation components on the real pair graph —
    two independent algorithms, one answer."""
    from glaciersgee_spark.operators.dedup import q_e_cc_stars, q_e_dedup_cluster

    a = {tuple(r) for r in q_e_cc_stars(spark, SF_SMOKE).collect()}
    b = {tuple(r) for r in q_e_dedup_cluster(spark, SF_SMOKE).collect()}
    assert a == b and len(a) > 0


def test_incr_agg_merge_equals_recompute(spark):
    """Base+delta partial merge must equal the one-shot aggregate."""
    import pyspark.sql.functions as F

    from glaciersgee_spark.operators.warehouse import q_b_incr_agg
    from glaciersgee_spark.tables import load_table

    got = {
        (r.o_orderpriority, r.n_rows, r.sum_cents)
        for r in q_b_incr_agg(spark, SF_SMOKE).collect()
    }
    o = load_table(spark, SF_SMOKE, "orders")
    cents = F.expr("CAST(floor(o_totalprice * 100.0 + 0.5) AS BIGINT)")
    want = {
        (r.o_orderpriority, r.n, r.s)
        for r in o.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum(cents).alias("s"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_fuzzy_vocab_pairs_are_true_distance_one(spark):
    """Every emitted pair must be at edit distance exactly 1, and the
    blocking must find the known distance-1 pairs a brute-force scan
    over the same frequent vocabulary finds (no recall loss)."""
    import pyspark.sql.functions as F

    from glaciersgee_spark.operators.text import _FZ_MIN, q_e_fuzzy_vocab
    from glaciersgee_spark.tables import load_table

    got = {
        (r.tok_a, r.tok_b) for r in q_e_fuzzy_vocab(spark, SF_SMOKE).collect()
    }
    wc = (
        load_table(spark, SF_SMOKE, "documents")
        .select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= _FZ_MIN)
    )
    a = wc.select(F.col("tok").alias("ta"))
    b = wc.select(F.col("tok").alias("tb"))
    brute = {
        (r.ta, r.tb)
        for r in a.crossJoin(b)
        .where((F.col("ta") < F.col("tb")) & (F.levenshtein("ta", "tb") == 1))
        .collect()
    }
    assert got == brute


def test_scratch_dirs_registered_for_cleanup():
    """Every scratch_dir is tracked and removable by the atexit hook.

    The session-wide registry is swapped out for the check: running the
    real _cleanup() mid-session would delete staging dirs that other
    tests' cached tables (bucketed/DPP/scan round-trips) still read.
    """
    import os

    from glaciersgee_spark import tmpdirs

    saved = tmpdirs._REGISTERED[:]
    tmpdirs._REGISTERED.clear()
    try:
        d = tmpdirs.scratch_dir("ggee_test_")
        assert os.path.isdir(d) and d in tmpdirs._REGISTERED
        tmpdirs._cleanup()
        assert not os.path.exists(d) and not tmpdirs._REGISTERED
    finally:
        tmpdirs._REGISTERED.extend(saved)


def test_star_components_raises_on_round_exhaustion(spark):
    """Round-5 ADVICE fix: exhausting max_rounds before the checksum
    fixpoint must raise, not silently return locally-min labels — a
    40-chain needs ~7 alternations, so max_rounds=2 cannot converge."""
    import pytest as _pytest

    from glaciersgee_spark.operators.dedup import star_components

    e = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "u long, v long"
    )
    with _pytest.raises(RuntimeError, match="fixpoint"):
        star_components(e, max_rounds=2)


def _tri_fixture(spark, edges):
    from pyspark.sql import functions as F

    pairs = spark.createDataFrame(edges, "a long, b long")
    deg = (
        pairs.select(F.col("a").alias("n"))
        .unionByName(pairs.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    return pairs, deg


def test_oriented_triangles_counts_known_graphs(spark):
    """Triangle counts on graphs with known answers: a star K1,20 has
    0; K4 has 4; a wheel W5 (hub + 5-cycle) has 5; two disjoint
    triangles sharing no node count 2."""
    from glaciersgee_spark.operators.dedup import oriented_triangle_count

    cases = [
        ([(0, i) for i in range(1, 21)], 0),
        ([(0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)], 4),
        (
            [(0, i) for i in range(1, 6)]
            + [(1, 2), (2, 3), (3, 4), (4, 5), (1, 5)],
            5,
        ),
        ([(1, 2), (2, 3), (1, 3), (7, 8), (8, 9), (7, 9)], 2),
    ]
    for edges, want in cases:
        pairs, deg = _tri_fixture(spark, edges)
        got = oriented_triangle_count(pairs, deg).collect()[0].n_triangles
        assert got == want, (edges, got, want)


def test_triangle_orientation_points_into_the_hub(spark):
    """Round-5 scale fix pin: on a star graph the hub has the highest
    (degree, id) rank, so every directed edge must point INTO it —
    hub out-degree 0 means the hub generates zero wedge pairs (the
    O(√E) arboricity bound the degree orientation exists for)."""
    from glaciersgee_spark.operators.dedup import degree_oriented_edges

    pairs, deg = _tri_fixture(spark, [(0, i) for i in range(1, 31)])
    directed = degree_oriented_edges(pairs, deg).collect()
    assert all(r.dst == 0 for r in directed)
    assert all(r.src != 0 for r in directed)


def test_star_components_converges_on_chains(spark):
    """Chain graphs are the adversarial case for star contraction (a
    fixed small round count silently mislabels them — caught by
    simulation in round 4); the convergence-checked loop must label a
    40-chain, a reversed chain, and a mixed forest exactly."""
    from glaciersgee_spark.operators.dedup import star_components

    chain = [(i, i + 1) for i in range(40)]
    forest = chain + [(100, 101), (101, 103), (100, 103), (200, 250)]
    e = spark.createDataFrame(forest, "u long, v long")
    got = {(r.n, r.lab) for r in star_components(e).collect()}
    want = {(i, 0) for i in range(41)}
    want |= {(100, 100), (101, 100), (103, 100), (200, 200), (250, 200)}
    assert got == want


def test_integer_pagerank_star_and_ring(spark):
    """Round-5 q_e_graph_pagerank kernel: on a star K1,10 the hub must
    outrank every spoke (it absorbs all spoke mass); on a 6-ring every
    node has identical rank (symmetry — any divergence means the
    integer update is order-dependent, the exact bug the micro-unit
    arithmetic exists to prevent)."""
    from glaciersgee_spark.operators.dedup import integer_pagerank

    star = spark.createDataFrame([(0, i) for i in range(1, 11)], "u long, v long")
    rows = {r.doc_id: r.rank_micro for r in integer_pagerank(star).collect()}
    assert all(rows[0] > rows[i] for i in range(1, 11))
    assert len(set(rows[i] for i in range(1, 11))) == 1  # spokes identical

    ring = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "u long, v long"
    )
    ranks = {r.rank_micro for r in integer_pagerank(ring).collect()}
    assert len(ranks) == 1


def test_semdedup_sweep_curve_is_monotone(spark):
    """Round-5 q_e_semdedup_sweep: tighter epsilon keeps more — n_pairs
    and n_dropped non-increasing in eps, kept_frac6 non-decreasing, and
    the eps=0.4 point agrees with q_e_semdedup's dropped-doc count."""
    from glaciersgee_spark.operators.similarity import (
        q_e_semdedup,
        q_e_semdedup_sweep,
    )

    rows = sorted(
        q_e_semdedup_sweep(spark, SF_SMOKE).collect(), key=lambda r: r.eps
    )
    pairs = [r.n_pairs for r in rows]
    dropped = [r.n_dropped for r in rows]
    kept = [r.kept_frac6 for r in rows]
    assert pairs == sorted(pairs, reverse=True)
    assert dropped == sorted(dropped, reverse=True)
    assert kept == sorted(kept)
    at_04 = next(r for r in rows if abs(r.eps - 0.4) < 1e-9)
    assert at_04.n_dropped == q_e_semdedup(spark, SF_SMOKE).count()


def test_weighted_sample_pick_budget_and_monotonicity(spark):
    """Systematic PPS invariants: multiplicities sum to exactly N picks,
    every pick index is hit at most once, indices are strictly
    increasing in doc_id order, and the heaviest doc can never be
    missed once its weight exceeds one stride W/N."""
    from glaciersgee_spark.operators.curation import _WS_N, q_e_weighted_sample

    rows = q_e_weighted_sample(spark, SF_SMOKE).collect()
    assert sum(r.n_picks for r in rows) == _WS_N
    idx = [r.last_pick_idx for r in rows]
    assert idx == sorted(idx) and len(set(idx)) == len(idx)
    assert all(r.n_picks >= 1 and r.weight > 0 for r in rows)


def test_dpo_pairs_margin_gate_and_distinct_sides(spark):
    """Every emitted pair clears the margin gate, chosen beats rejected,
    and the two sides are different documents."""
    from glaciersgee_spark.operators.curation import _DPO_MARGIN_PPM, q_e_dpo_pairs

    rows = q_e_dpo_pairs(spark, SF_SMOKE).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.margin_ppm >= _DPO_MARGIN_PPM
        assert r.chosen_ppm - r.rejected_ppm == r.margin_ppm
        assert r.chosen_id != r.rejected_id


def test_minhash_union_full_grid_and_estimator_bounds(spark):
    """The source-pair grid is complete (C(|sources|, 2) rows even for
    disjoint pairs), the slot-agreement estimate is a valid ppm, and
    err_ppm is literally |est − exact|."""
    from glaciersgee_spark.operators.dedup import q_e_minhash_union

    rows = q_e_minhash_union(spark, SF_SMOKE).collect()
    srcs = {r.source_a for r in rows} | {r.source_b for r in rows}
    n = len(srcs)
    assert len(rows) == n * (n - 1) // 2
    for r in rows:
        assert 0 <= r.est_ppm <= 1_000_000 and 0 <= r.exact_ppm <= 1_000_000
        assert r.err_ppm == abs(r.est_ppm - r.exact_ppm)
        assert r.n_union == r.n_a + r.n_b - r.n_inter


def test_quality_calibration_partitions_corpus_and_ece_consistent(spark):
    """Bins partition the corpus exactly; the reported ECE equals the
    doc-weighted mean of the per-bin gaps to 1e-6."""
    from glaciersgee_spark.operators.curation import q_e_quality_calibration
    from glaciersgee_spark.tables import load_table

    rows = q_e_quality_calibration(spark, SF_SMOKE).collect()
    n_total = load_table(spark, SF_SMOKE, "documents").count()
    assert sum(r.n_docs for r in rows) == n_total
    ece = sum(r.n_docs * r.gap6 for r in rows) / n_total
    assert abs(rows[0].ece6 - ece) < 1e-6
    assert all(r.ece6 == rows[0].ece6 for r in rows)


def test_skyline_is_a_complete_antichain(spark):
    """Soundness: no skyline point dominates another (antichain).
    Completeness: every non-skyline part is dominated by some skyline
    point — checked brute-force against the full small-SF table."""
    from glaciersgee_spark.operators.relational import q_b_skyline
    from glaciersgee_spark.tables import load_table

    sky = [
        (r.p_partkey, r.p_retailprice, r.p_size)
        for r in q_b_skyline(spark, SF_SMOKE).collect()
    ]
    assert len(sky) > 0

    def dominates(q, p):
        return (
            q[1] <= p[1] and q[2] >= p[2] and (q[1] < p[1] or q[2] > p[2])
        )

    for p in sky:
        assert not any(dominates(q, p) for q in sky if q[0] != p[0])
    allp = [
        (r.p_partkey, r.p_retailprice, r.p_size)
        for r in load_table(spark, SF_SMOKE, "part").collect()
    ]
    skykeys = {p[0] for p in sky}
    for p in allp:
        if p[0] not in skykeys:
            assert any(dominates(q, p) for q in sky)


def test_join_interval_grid_equals_naive_theta(spark):
    """The grid + responsibility decomposition must reproduce the naive
    per-tenant theta join exactly (counts AND day sums)."""
    import pyspark.sql.functions as F

    from glaciersgee_spark.operators.relational import _IV_EPOCH, q_b_join_interval
    from glaciersgee_spark.tables import load_table

    got = {
        (r.tenant, r.n_overlaps, r.overlap_days)
        for r in q_b_join_interval(spark, SF_SMOKE).collect()
    }
    o = load_table(spark, SF_SMOKE, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    li = load_table(spark, SF_SMOKE, "lineitem").where(
        (F.col("l_returnflag") == "R") & (F.col("l_orderkey") % 5 == 0)
    )
    a = o.select(
        (F.col("o_custkey") % 97).alias("t"),
        F.datediff(F.to_date("o_orderdate"), F.expr(_IV_EPOCH)).alias("s"),
        (
            F.datediff(F.to_date("o_orderdate"), F.expr(_IV_EPOCH))
            + F.col("o_orderkey") % 14
            + 1
        ).alias("e"),
    )
    b = li.select(
        (F.col("l_suppkey") % 97).alias("t"),
        F.datediff(F.to_date("l_shipdate"), F.expr(_IV_EPOCH)).alias("s"),
        (
            F.datediff(F.to_date("l_shipdate"), F.expr(_IV_EPOCH))
            + F.col("l_orderkey") % 10
            + 1
        ).alias("e"),
    )
    naive = (
        a.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.t") == F.col("b.t"))
            & (F.col("a.s") <= F.col("b.e"))
            & (F.col("b.s") <= F.col("a.e")),
        )
        .groupBy(F.col("a.t").alias("tenant"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.least(F.col("a.e"), F.col("b.e"))
                - F.greatest(F.col("a.s"), F.col("b.s"))
                + 1
            ).alias("d"),
        )
    )
    want = {(r.tenant, r.n, r.d) for r in naive.collect()}
    assert got == want and len(got) > 0


def test_knn_classify_vote_bounds_and_panel(spark):
    """Every prediction carries between 1 and k votes, predicted labels
    come from the label domain, and the output covers exactly the
    declared panel."""
    from glaciersgee_spark.operators.similarity import (
        _KNN_CLS_K,
        _KNN_CLS_MOD,
        q_e_knn_classify,
    )
    from glaciersgee_spark.tables import load_table

    rows = q_e_knn_classify(spark, SF_SMOKE).collect()
    e = load_table(spark, SF_SMOKE, "embeddings")
    panel = {
        r.vec_id for r in e.where(F.col("vec_id") % _KNN_CLS_MOD == 0).collect()
    }
    labels = {r.label for r in e.select("label").distinct().collect()}
    assert {r.vec_id for r in rows} == panel and len(rows) > 0
    for r in rows:
        assert 1 <= r.n_agree <= _KNN_CLS_K
        assert r.pred_label in labels
        assert r.mismatch == (r.pred_label != r.label)


def test_mmr_first_pick_is_argmax_and_picks_from_pool(spark):
    """Greedy MMR invariants: exactly k distinct picks, rank 1 is the
    plain relevance argmax, and every pick comes from the top-POOL
    relevance candidates."""
    from glaciersgee_spark.operators.retrieval import (
        MMR_K,
        MMR_POOL,
        q_e_mmr_diversify,
    )
    from glaciersgee_spark.operators.similarity import _cos6
    from glaciersgee_spark.tables import load_table

    rows = q_e_mmr_diversify(spark, SF_SMOKE).collect()
    assert [r.rk for r in rows] == list(range(1, MMR_K + 1))
    assert len({r.doc_id for r in rows}) == MMR_K

    e = load_table(spark, SF_SMOKE, "embeddings")
    qv = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qemb"))
    rel = (
        e.where(F.col("vec_id") != 0)
        .join(F.broadcast(qv))
        .select("vec_id", _cos6("embedding", "qemb").alias("rel6"))
        .orderBy(F.col("rel6").desc(), F.col("vec_id").asc())
        .limit(MMR_POOL)
        .collect()
    )
    pool = [r.vec_id for r in rel]
    assert rows[0].doc_id == pool[0]
    assert all(r.doc_id in pool for r in rows)


def test_geohash_roundtrip_and_conservation(spark):
    """Every 6-char geohash decodes back to the cell containing its
    source point (independent Python decode), and the prefix rollup
    conserves the corpus."""
    from glaciersgee_spark.operators.spatial import (
        _GH_ALPHABET,
        q_a_geohash,
    )
    from glaciersgee_spark.tables import load_table

    rows = q_a_geohash(spark, SF_SMOKE).collect()
    n_orders = load_table(spark, SF_SMOKE, "orders").count()
    assert sum(r.n_points for r in rows) == n_orders
    assert all(1 <= r.n_cells6 and r.n_cells6 <= r.n_points for r in rows)
    assert all(len(r.gh3) == 3 and set(r.gh3) <= set(_GH_ALPHABET) for r in rows)

    # Independent decode: rebuild gh6 for a few orders in Python and
    # check the 3-char prefix lands in the reported cell set.
    cells = {r.gh3 for r in rows}
    keys = [
        r.o_orderkey
        for r in load_table(spark, SF_SMOKE, "orders")
        .select("o_orderkey")
        .limit(50)
        .collect()
    ]
    for k in keys:
        k7, k23 = (k * 7) % 360, (k * 23) % 180
        ix = ((2 * k7 + 1) * 32768) // 720
        iy = ((4 * k23 + 1) * 32768) // 720
        gh30 = 0
        for i in range(15):
            gh30 += ((ix >> i) & 1) << (2 * i + 1)
            gh30 += ((iy >> i) & 1) << (2 * i)
        gh6 = "".join(
            _GH_ALPHABET[(gh30 >> (5 * (5 - j))) % 32] for j in range(6)
        )
        assert gh6[:3] in cells


def test_pandas_window_matches_builtin_spelling(spark):
    """The Arrow window UDF must agree bit-for-bit with the built-in
    (MIN OVER + MAX OVER)/2 spelling on the same frame."""
    from pyspark.sql import Window

    from glaciersgee_spark.udfs import q_f_pandas_window
    from glaciersgee_spark.tables import load_table

    got = {
        (r.event_id, r.user_id, r.mid3)
        for r in q_f_pandas_window(spark, SF_SMOKE).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events").where(F.col("user_id") % 19 == 0)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    want = {
        (r.event_id, r.user_id, r.mid3)
        for r in ev.select(
            "event_id",
            "user_id",
            ((F.min("value").over(w) + F.max("value").over(w)) / 2).alias("mid3"),
        ).collect()
    }
    assert got == want and len(got) > 0


def test_merge_schema_conserves_and_sentinels(spark):
    """Every source order appears exactly once after the two-generation
    merge; pre-1995 rows carry the LEGACY sentinel."""
    from glaciersgee_spark.operators.relational import q_b_merge_schema
    from glaciersgee_spark.tables import load_table

    rows = q_b_merge_schema(spark, SF_SMOKE).collect()
    o = load_table(spark, SF_SMOKE, "orders")
    assert sum(r.n_orders for r in rows) == o.count()
    legacy = {r.priority: r.n_orders for r in rows}["LEGACY"]
    assert legacy == o.where(F.expr("year(o_orderdate) < 1998")).count()


def test_bloom_dedup_no_false_negatives(spark):
    """Bloom membership can overshoot but never undershoot: every true
    dup is a candidate, and false positives are exactly the overshoot."""
    from glaciersgee_spark.operators.dedup import q_e_bloom_dedup

    rows = q_e_bloom_dedup(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.n_true_dup <= r.n_candidates <= r.n_batch
        assert r.n_false_pos == r.n_candidates - r.n_true_dup


def test_shard_assign_partitions_the_corpus(spark):
    from glaciersgee_spark.operators.curation import q_e_shard_assign
    from glaciersgee_spark.tables import load_table

    rows = q_e_shard_assign(spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    assert sum(r.n_docs for r in rows) == d.count()
    # floor(bp) per shard: total within one bp-per-shard of 10000
    total_bp = sum(r.share_bp for r in rows)
    assert 10000 - len(rows) <= total_bp <= 10000


def test_zscore_bins_partition_and_clamp(spark):
    from glaciersgee_spark.operators.curation import q_e_zscore_norm
    from glaciersgee_spark.tables import load_table

    rows = q_e_zscore_norm(spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    assert sum(r.n_docs for r in rows) == d.count()
    assert all(-3 <= r.z_bin <= 3 for r in rows)


def test_nearest_aoi_agrees_with_bruteforce(spark):
    """Re-derive the argmin in plain Python for every sampled point."""
    from collections import defaultdict

    from glaciersgee_spark.operators.spatial import _aoi, q_a_nearest_aoi
    from glaciersgee_spark.tables import load_table

    centers = [
        (r.aoi_id, r.xmin + r.xmax, r.ymin + r.ymax)
        for r in _aoi(spark, SF_SMOKE).collect()
    ]
    pts = (
        load_table(spark, SF_SMOKE, "events")
        .where(F.col("event_id") % 7 == 0)
        .select("event_id", "user_id")
        .collect()
    )
    want = defaultdict(lambda: [0, 1 << 60, -1, 0])
    for p in pts:
        x, y = p.event_id % 100, p.user_id % 100
        d2, aid = min(
            ((2 * x - cx) ** 2 + (2 * y - cy) ** 2, a) for a, cx, cy in centers
        )
        s = want[aid]
        s[0] += 1
        s[1] = min(s[1], d2)
        s[2] = max(s[2], d2)
        s[3] += d2
    got = {
        r.aoi_id: [r.n_points, r.min_d2, r.max_d2, r.sum_d2]
        for r in q_a_nearest_aoi(spark, SF_SMOKE).collect()
    }
    assert got == {k: list(v) for k, v in want.items()}


def test_rank_corr_matches_bruteforce(spark):
    """Spearman per lang re-derived in plain Python."""
    from collections import defaultdict

    from glaciersgee_spark.operators.curation import q_e_rank_corr
    from glaciersgee_spark.tables import load_table

    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "lang", "n_chars", "text"
    ).collect()
    by_lang = defaultdict(list)
    for r in docs:
        by_lang[r.lang].append((r.doc_id, r.n_chars, len(r.text.split(" "))))
    want = {}
    for lang, rows in by_lang.items():
        if len(rows) < 2:
            continue
        ra = {d: i + 1 for i, (d, *_ ) in enumerate(
            sorted(rows, key=lambda t: (t[1], t[0])))}
        rb = {d: i + 1 for i, (d, *_ ) in enumerate(
            sorted(rows, key=lambda t: (t[2], t[0])))}
        n = len(rows)
        sd2 = sum((ra[d] - rb[d]) ** 2 for d, *_ in rows)
        want[lang] = (n, sd2, round(1.0 - 6.0 * sd2 / (float(n) * n * n - n), 6))
    got = {
        r.lang: (r.n_docs, r.sum_d2, r.rho6)
        for r in q_e_rank_corr(spark, SF_SMOKE).collect()
    }
    assert got == want and got


def test_gini_mass_bounds_and_conservation(spark):
    from glaciersgee_spark.operators.drift import q_e_gini_mass
    from glaciersgee_spark.tables import load_table

    rows = q_e_gini_mass(spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    assert sum(r.n_docs for r in rows) == d.count()
    total = d.agg(F.sum("n_chars")).collect()[0][0]
    assert sum(r.total_chars for r in rows) == total
    # Gini of a finite positive sample lies in [0, 1 - 1/n]
    assert all(0.0 <= r.gini6 < 1.0 for r in rows)


def test_coverage_gap_columns_complete_and_consistent(spark):
    from glaciersgee_spark.operators.spatial import _CG_DIM, q_a_coverage_gap

    rows = q_a_coverage_gap(spark, SF_SMOKE).collect()
    assert len(rows) == _CG_DIM
    for r in rows:
        assert r.n_missing + r.n_observed == _CG_DIM
        ys = [int(v) for v in r.missing_ys.split(",") if v != ""]
        assert len(ys) == r.n_missing and ys == sorted(ys)


def test_js_drift_bounded_and_token_conserving(spark):
    """JSD lies in [0, ln 2]; per-source token totals sum to the corpus
    token count."""
    from glaciersgee_spark.operators.drift import q_e_js_drift
    from glaciersgee_spark.tables import load_table

    rows = q_e_js_drift(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert -1e-6 <= r.jsd6 <= 0.693148
    d = load_table(spark, SF_SMOKE, "documents")
    total = d.select(F.size(F.split("text", " ")).alias("k")).agg(F.sum("k")).collect()[0][0]
    assert sum(r.n_tokens for r in rows) == total


def test_split_leakage_accounts_all_pairs(spark):
    """Rows partition the near-dup pair set; totals and the leak marker
    are self-consistent."""
    from glaciersgee_spark.operators.dedup import (
        q_e_dedup_near_md5,
        q_e_split_leakage,
    )

    rows = q_e_split_leakage(spark, SF_SMOKE).collect()
    n_pairs = q_e_dedup_near_md5(spark, SF_SMOKE).count()
    if n_pairs == 0:
        assert rows == []
        return
    assert sum(r.n_pairs for r in rows) == n_pairs
    for r in rows:
        assert r.n_pairs_total == n_pairs
        assert r.leaks == (r.split_lo != r.split_hi)
        assert r.split_lo <= r.split_hi


def test_dedup_survivors_policies_consistent(spark):
    """Each policy keeps exactly one doc per cluster; deltas cancel
    across sources (both policies keep |clusters| docs overall)."""
    from glaciersgee_spark.operators.dedup import (
        q_e_dedup_cluster,
        q_e_dedup_survivors,
    )

    rows = q_e_dedup_survivors(spark, SF_SMOKE).collect()
    cl = q_e_dedup_cluster(spark, SF_SMOKE).where(F.col("cluster_size") >= 2)
    n_clusters = cl.select("cluster_id").distinct().count()
    if n_clusters == 0:
        assert rows == []
        return
    assert sum(r.kept_minid for r in rows) == n_clusters
    assert sum(r.kept_best for r in rows) == n_clusters
    assert sum(r.policy_delta for r in rows) == 0
    assert sum(r.n_members for r in rows) == cl.count()


def test_length_gate_partitions_each_lang(spark):
    from glaciersgee_spark.operators.curation import q_e_length_gate

    rows = q_e_length_gate(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.n_short + r.n_kept + r.n_long == r.n_docs
        assert r.p05 <= r.p95
        # a p05/p95 gate keeps the bulk of any distribution
        assert r.n_kept >= r.n_docs * 0.8


def test_dup_timeline_conserves_docs_and_arrivals(spark):
    from glaciersgee_spark.operators.dedup import (
        q_e_dedup_near_md5,
        q_e_dup_timeline,
    )
    from glaciersgee_spark.tables import load_table

    rows = q_e_dup_timeline(spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    assert sum(r.n_docs for r in rows) == d.count()
    arrivals = q_e_dedup_near_md5(spark, SF_SMOKE).select("id_b").distinct().count()
    assert sum(r.n_dup_arrivals for r in rows) == arrivals
    assert all(0 <= r.decile <= 9 for r in rows)


def test_bottomk_sample_matches_python_and_is_incremental(spark):
    """Panel = k smallest md5 hashes per lang (re-derived in Python);
    dropping any non-member doc leaves the panel unchanged
    (the consistency property the op exists for)."""
    import hashlib

    from glaciersgee_spark.operators.curation import _BK_K, q_e_bottomk_sample
    from glaciersgee_spark.tables import load_table

    def hv(i):
        return int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16)

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "lang").collect()
    from collections import defaultdict

    by_lang = defaultdict(list)
    for r in docs:
        by_lang[r.lang].append(r.doc_id)
    rows = {r.lang: r for r in q_e_bottomk_sample(spark, SF_SMOKE).collect()}
    assert set(rows) == set(by_lang)
    for lang, ids in by_lang.items():
        want = sorted(ids, key=lambda i: (hv(i), i))[:_BK_K]
        got = [int(v) for v in rows[lang].panel_ids.split(",")]
        assert got == want
        assert rows[lang].kth_hash == max(hv(i) for i in want)
        # incremental: removing a non-member cannot change the panel
        survivors = [i for i in ids if i not in want[:1]] if len(ids) > _BK_K else ids
        assert sorted(survivors, key=lambda i: (hv(i), i))[:_BK_K][0] in ids


def test_paginate_keyset_equals_offset_form(spark):
    from glaciersgee_spark.operators.relational import q_b_paginate_keyset
    from glaciersgee_spark.tables import load_table

    got = [
        (r.o_orderkey, r.o_totalprice)
        for r in q_b_paginate_keyset(spark, SF_SMOKE).collect()
    ]
    o = load_table(spark, SF_SMOKE, "orders")
    want = [
        (r.o_orderkey, r.o_totalprice)
        for r in o.orderBy(
            F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
        )
        .limit(75)
        .collect()
    ][50:]
    assert got == want and len(got) == 25


def test_try_family_null_exactly_on_error_conditions(spark):
    from glaciersgee_spark.functions.scalar import q_c_try

    rows = q_c_try(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert (r.safe_div is None) == (r.o_orderkey % 7 == 0)
        assert (r.safe_add is None) == (r.o_orderkey % 100 > 7)
        assert (r.safe_elem is None) == (r.o_orderkey % 5 + 1 > 3)


def test_template_skeleton_families_are_real(spark):
    """Top families are shape-collision classes: sizes ≥ 2, sorted by
    (n_docs DESC, key ASC), and each family's size matches a direct
    recount of its skeleton key."""
    from glaciersgee_spark.operators.dedup import _SKEL_SPARK, q_e_template_skeleton
    from glaciersgee_spark.tables import load_table

    rows = q_e_template_skeleton(spark, SF_SMOKE).collect()
    assert 0 < len(rows) <= 15
    sizes = [(r.n_docs, r.skeleton_key) for r in rows]
    assert sizes == sorted(sizes, key=lambda t: (-t[0], t[1]))
    assert all(r.n_docs >= 2 and r.n_sources <= r.n_docs for r in rows)
    d = load_table(spark, SF_SMOKE, "documents")
    direct = {
        r.k: r.n
        for r in d.selectExpr(f"{_SKEL_SPARK} AS k")
        .groupBy("k")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    for r in rows:
        assert direct[r.skeleton_key] == r.n_docs


def test_dup_inflation_identities(spark):
    """Inflation ≥ 10000 bp by construction; doc totals reconcile with
    the corpus; canonical mass never exceeds raw mass."""
    from glaciersgee_spark.operators.dedup import q_e_dup_inflation
    from glaciersgee_spark.tables import load_table

    rows = q_e_dup_inflation(spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    assert sum(r.n_docs for r in rows) == d.count()
    for r in rows:
        assert r.n_keys <= r.n_docs
        assert r.canon_chars <= r.sum_chars
        assert r.doc_inflation_bp >= 10000
        assert r.char_inflation_bp >= 10000
        assert r.doc_inflation_bp == (r.n_docs * 10000) // r.n_keys


def test_tail_index_matches_bruteforce(spark):
    """The two-phase per-group top-k must equal a driver-side brute
    force of the Hill estimator for every language."""
    import math

    from glaciersgee_spark.operators.drift import _HILL_K, q_e_tail_index
    from glaciersgee_spark.tables import load_table

    rows = {r.lang: r for r in q_e_tail_index(spark, SF_SMOKE).collect()}
    docs = load_table(spark, SF_SMOKE, "documents").select(
        "lang", "n_chars", "doc_id"
    ).collect()
    bylang = {}
    for r in docs:
        bylang.setdefault(r.lang, []).append((r.n_chars, r.doc_id))
    for lang, pts in bylang.items():
        pts.sort(key=lambda t: (-t[0], t[1]))
        top = pts[: _HILL_K + 1]
        if len(top) < 2:
            assert lang not in rows
            continue
        ref = top[-1][0]
        lns = [
            round(math.log(x), 6) - round(math.log(ref), 6)
            for x, _ in top[:-1]
        ]
        want = round(sum(round(v, 6) for v in lns) / len(lns), 6)
        got = rows[lang]
        assert got.k_used == len(top) - 1
        assert got.x_ref == ref
        assert abs(got.hill_inv6 - want) < 5e-6
        assert got.hill_inv6 >= 0


def test_length_ks_matches_bruteforce(spark):
    """Exact KS per source vs a driver-side CDF sweep."""
    from glaciersgee_spark.operators.drift import q_e_length_ks
    from glaciersgee_spark.tables import load_table

    rows = {r.source: r for r in q_e_length_ks(spark, SF_SMOKE).collect()}
    docs = load_table(spark, SF_SMOKE, "documents").select(
        "source", "n_chars"
    ).collect()
    allx = sorted({r.n_chars for r in docs})
    n_t = len(docs)
    for source in {r.source for r in docs}:
        xs = [r.n_chars for r in docs if r.source == source]
        n_s = len(xs)
        best = 0
        for x in allx:
            cs = sum(1 for v in xs if v <= x)
            ct = sum(1 for r in docs if r.n_chars <= x)
            best = max(best, abs(cs * n_t - ct * n_s))
        import math

        want = math.floor(best * 1_000_000.0 / (n_s * n_t)) / 1_000_000.0
        got = rows[source]
        assert got.n_docs == n_s
        assert abs(got.ks6 - want) < 1e-9
        assert 0.0 <= got.ks6 <= 1.0


def test_runlength_matches_bruteforce(spark):
    """Gaps-and-islands runs vs a driver-side replay of every user's
    ordered event stream."""
    from glaciersgee_spark.operators.warehouse import q_b_runlength
    from glaciersgee_spark.tables import load_table

    rows = {r.event_type: r for r in q_b_runlength(spark, SF_SMOKE).collect()}
    ev = load_table(spark, SF_SMOKE, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    byuser = {}
    for r in ev:
        byuser.setdefault(r.user_id, []).append((r.ts, r.event_id, r.event_type))
    runs = {}
    for user, seq in byuser.items():
        seq.sort()
        prev = None
        for _, _, et in seq:
            if et != prev:
                runs.setdefault(et, []).append(1)
            else:
                runs[et][-1] += 1
            prev = et
    assert set(runs) == set(rows)
    for et, lens in runs.items():
        r = rows[et]
        assert r.n_events == sum(lens)
        assert r.n_runs == len(lens)
        assert r.max_run == max(lens)
        assert r.avg_run_bp == (sum(lens) * 10000) // len(lens)


def test_filter_agreement_partitions_corpus(spark):
    """The 8-cell contingency per lang partitions the corpus exactly,
    and each gate's marginal matches a direct recount."""
    from glaciersgee_spark.operators.curation import q_e_filter_agreement
    from glaciersgee_spark.tables import load_table

    rows = q_e_filter_agreement(spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    assert sum(r.n_docs for r in rows) == d.count()
    # marginal of g_len == direct recount of the token-count bounds
    got_len = sum(r.n_docs for r in rows if r.g_len)
    want_len = d.where(F.size(F.split("text", " ")).between(15, 80)).count()
    assert got_len == want_len


def test_dsir_weights_center_and_total(spark):
    """Centered bins must straddle 0 (mass on both sides unless the
    corpus is degenerate) and cover every doc exactly once."""
    from glaciersgee_spark.operators.text import q_e_dsir_weights
    from glaciersgee_spark.tables import load_table

    rows = q_e_dsir_weights(spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    assert sum(r.n_docs for r in rows) == d.count()
    bins = {r.w_bin for r in rows}
    assert all(-5 <= b <= 5 for b in bins)
    assert any(b < 0 for b in bins) and any(b >= 0 for b in bins)


def test_span_mass_bounds_and_consistency(spark):
    """Duplicated-token mass is bounded by the total mass, ppm is the
    exact integer ratio, and a source with zero shared windows reports
    zero."""
    from glaciersgee_spark.operators.curation import q_e_span_mass
    from glaciersgee_spark.tables import load_table

    rows = q_e_span_mass(spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    assert {r.source for r in rows} == {
        r.source for r in d.select("source").distinct().collect()
    }
    for r in rows:
        assert 0 <= r.n_dup_tok <= r.n_tok
        assert r.dup_ppm == (r.n_dup_tok * 1_000_000) // r.n_tok


def test_hapax_rate_identities(spark):
    """Hapax ≤ types ≤ tokens; bp exact; marginals reconcile against a
    direct token count."""
    from glaciersgee_spark.operators.text import q_e_hapax_rate
    from glaciersgee_spark.tables import load_table

    rows = q_e_hapax_rate(spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    total = d.select(F.explode(F.split("text", " "))).count()
    assert sum(r.n_tokens for r in rows) == total
    for r in rows:
        assert r.n_hapax <= r.n_types <= r.n_tokens
        assert r.hapax_bp == (r.n_hapax * 10000) // r.n_types


def test_cond_entropy_bounds_and_bruteforce(spark):
    """0 ≤ H(cur|prev) and it must match a driver-side replay of the
    count-form formula for every language."""
    import math
    from collections import Counter

    from glaciersgee_spark.operators.text import q_e_cond_entropy
    from glaciersgee_spark.tables import load_table

    rows = {r.lang: r for r in q_e_cond_entropy(spark, SF_SMOKE).collect()}
    docs = load_table(spark, SF_SMOKE, "documents").select("lang", "text").collect()
    c2 = Counter()
    for r in docs:
        toks = r.text.split(" ")
        for a, b in zip(toks, toks[1:]):
            c2[(r.lang, a, b)] += 1
    bylang = {}
    for (lang, a, b), c in c2.items():
        bylang.setdefault(lang, []).append((a, b, c))
    for lang, cells in bylang.items():
        c1 = Counter()
        for a, _, c in cells:
            c1[a] += c
        n = sum(c for _, _, c in cells)
        import decimal

        s = sum(
            decimal.Decimal(
                round(
                    c * (round(math.log(c1[a]), 6) - round(math.log(c), 6)), 6
                )
            ).quantize(decimal.Decimal("0.000001"))
            for a, _, c in cells
        )
        want = round(float(s) / n, 6)
        got = rows[lang]
        assert got.n_bigrams == n
        assert got.h6 >= 0
        assert abs(got.h6 - want) < 5e-6


def test_ngram_simpson_matches_bruteforce(spark):
    """Simpson concentration equals the all-pairs trigram collision
    rate computed directly on the driver."""
    from collections import Counter

    from glaciersgee_spark.operators.text import q_e_ngram_simpson
    from glaciersgee_spark.tables import load_table

    rows = {r.source: r for r in q_e_ngram_simpson(spark, SF_SMOKE).collect()}
    docs = load_table(spark, SF_SMOKE, "documents").select("source", "text").collect()
    bysrc = {}
    for r in docs:
        toks = r.text.split(" ")
        if len(toks) < 3:
            continue
        c = bysrc.setdefault(r.source, Counter())
        for i in range(len(toks) - 2):
            c[" ".join(toks[i : i + 3])] += 1
    for source, c in bysrc.items():
        n = sum(c.values())
        coll = sum(v * (v - 1) for v in c.values())
        r = rows[source]
        assert r.n_grams == n
        assert r.n_types == len(c)
        assert r.simpson_ppm == (coll * 1_000_000) // (n * (n - 1))
        top = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        assert (r.top_gram, r.top_count) == top


def test_span_position_partitions_token_mass(spark):
    """Decile rows partition exactly the token mass of window-eligible
    docs, and the total duplicated mass equals span_mass's corpus
    total."""
    from glaciersgee_spark.operators.curation import (
        WIN_TOKENS,
        q_e_span_mass,
        q_e_span_position,
    )
    from glaciersgee_spark.tables import load_table

    rows = q_e_span_position(spark, SF_SMOKE).collect()
    assert [r.decile for r in rows] == list(range(10))
    d = load_table(spark, SF_SMOKE, "documents")
    eligible = (
        d.select(F.size(F.split("text", " ")).alias("n"))
        .where(F.col("n") >= WIN_TOKENS)
        .agg(F.sum("n"))
        .collect()[0][0]
    )
    assert sum(r.n_tokens for r in rows) == eligible
    mass = q_e_span_mass(spark, SF_SMOKE).agg(F.sum("n_dup_tok")).collect()[0][0]
    assert sum(r.n_dup_tokens for r in rows) == mass
    for r in rows:
        assert 0 <= r.n_dup_tokens <= r.n_tokens
        assert r.dup_ppm == (r.n_dup_tokens * 1_000_000) // r.n_tokens


def test_k_anonymity_partitions_corpus(spark):
    """Bucket rows partition the corpus; singleton classes count 1 doc
    each."""
    from glaciersgee_spark.operators.curation import q_e_k_anonymity
    from glaciersgee_spark.tables import load_table

    rows = {r.k_bucket: r for r in q_e_k_anonymity(spark, SF_SMOKE).collect()}
    d = load_table(spark, SF_SMOKE, "documents")
    assert sum(r.n_docs for r in rows.values()) == d.count()
    if "1" in rows:
        assert rows["1"].n_classes == rows["1"].n_docs


def test_shard_mixing_entropy_bounds(spark):
    """0 ≤ H ≤ ln(n_sources) per shard; doc totals reconcile."""
    import math

    from glaciersgee_spark.operators.curation import q_e_shard_mixing
    from glaciersgee_spark.tables import load_table

    rows = q_e_shard_mixing(spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    assert sum(r.n_docs for r in rows) == d.count()
    for r in rows:
        assert 0 <= r.h6 <= math.log(r.n_sources) + 1e-5


def test_anisotropy_equals_bruteforce_pairwise_mean(spark):
    """The no-pairs closed form must equal the literal mean pairwise
    cosine over all vector pairs (numpy brute force), per label and
    overall."""
    import numpy as np

    from glaciersgee_spark.operators.similarity import q_e_anisotropy
    from glaciersgee_spark.tables import load_table

    rows = {r.label: r for r in q_e_anisotropy(spark, SF_SMOKE).collect()}
    vecs = load_table(spark, SF_SMOKE, "embeddings").select(
        "label", "embedding"
    ).collect()
    by = {}
    for r in vecs:
        v = np.asarray(r.embedding, dtype=np.float64)
        u = v / np.linalg.norm(v)
        by.setdefault(r.label, []).append(u)
        by.setdefault(-1, []).append(u)
    for label, us in by.items():
        U = np.stack(us)
        n = len(us)
        g = U @ U.T
        want = (g.sum() - np.trace(g)) / (n * (n - 1))
        got = rows[label]
        assert got.n_vecs == n
        assert abs(got.mean_cos6 - want) < 1e-5


def test_bpe_train_merge_trace_is_reproducible_bpe(spark):
    """The 5-round merge trace must be a valid BPE chain: each merged
    symbol is the concatenation of its pair, round-1 equals the
    argmax of q_e_bpe_pairs' step-1 counts (same corpus, same
    weighting), counts are positive and every merged symbol's
    characters appear contiguously in some corpus word."""
    from glaciersgee_spark.operators.text import q_e_bpe_pairs, q_e_bpe_train
    from glaciersgee_spark.tables import load_table

    trace = q_e_bpe_train(spark, SF_SMOKE).collect()
    assert [r.rnd for r in trace] == [1, 2, 3, 4, 5]
    for r in trace:
        assert r.merged == r.left_sym + r.right_sym
        assert r.n_occ > 0 and r.n_types > 0
    # round 1 == step-1 argmax (bpe_pairs counts every adjacent
    # position, exactly the training loop's weighting)
    step1 = q_e_bpe_pairs(spark, SF_SMOKE).collect()[0]
    assert trace[0].merged == step1.pair
    assert trace[0].n_occ == step1.n
    # merged symbols are real corpus substrings
    texts = " ".join(
        r.text
        for r in load_table(spark, SF_SMOKE, "documents")
        .select("text")
        .limit(200)
        .collect()
    )
    corpus_words = set(texts.split(" "))
    for r in trace:
        assert any(r.merged in w for w in corpus_words)


def test_clear_caches_releases_every_registered_frame(spark):
    """clear_caches() must unpersist the app-scoped cached frames and
    empty the registries, and the ops must REBUILD correctly after —
    the long-lived-session tenant-boundary contract (round 8,
    VERDICT r7 nit 2)."""
    from glaciersgee_spark import clear_caches
    from glaciersgee_spark.operators.drift import q_e_tail_index
    from glaciersgee_spark.operators.similarity import _banded

    clear_caches()  # start from a clean slate regardless of test order
    before = {r.lang for r in q_e_tail_index(spark, SF_SMOKE).collect()}
    banded = _banded(spark, SF_SMOKE)  # populate one more cached frame
    assert banded.storageLevel.useMemory
    released = clear_caches()
    assert released["entries"] >= 2
    assert released["frames"] >= 2
    assert not banded.storageLevel.useMemory
    # second clear is a no-op; ops rebuild from scratch and agree
    assert clear_caches()["entries"] == 0
    after = {r.lang for r in q_e_tail_index(spark, SF_SMOKE).collect()}
    assert after == before and len(after) > 0


def test_cache_served_frames_repersist_after_clearcache(spark):
    """A registry-served frame must come back PERSISTED after an
    external spark.catalog.clearCache() (round 11): the bench honesty
    protocol clears storage between timed runs without touching the
    registry, and a frame served without its persist makes every
    multi-branch consumer silently recompute the shared subtree once
    per plan branch. Helpers that return the cached frame are probed
    through its storage level; queries whose cached frame lives inside
    the plan must read the same cached relations as their cold plan."""
    from glaciersgee_spark import clear_caches
    from glaciersgee_spark.operators import dedup, drift, retrieval, text
    from glaciersgee_spark.operators.linalg import _gram_int_cached
    from glaciersgee_spark.operators.similarity import _banded, _db_asg_mean

    def persisted(df):
        return df.storageLevel.useMemory or df.storageLevel.useDisk

    def cached_leaves(q):
        leaves = q(spark, SF_SMOKE)._jdf.queryExecution().optimizedPlan().collectLeaves()
        return sorted(
            leaves.apply(i).schema().simpleString()
            for i in range(leaves.size())
            if leaves.apply(i).nodeName() == "InMemoryRelation"
        )

    frames = {
        "gram_int": lambda: _gram_int_cached(spark, SF_SMOKE),
        "srp_banded": lambda: _banded(spark, SF_SMOKE),
        "scored_bm25": lambda: retrieval._scored_lists(spark, SF_SMOKE)[0],
        "scored_cos": lambda: retrieval._scored_lists(spark, SF_SMOKE)[1],
        "db_asg": lambda: _db_asg_mean(spark, SF_SMOKE)[0],
        "db_mean": lambda: _db_asg_mean(spark, SF_SMOKE)[1],
        "source_token_counts": lambda: drift._source_token_counts(spark, SF_SMOKE),
        "lm_scores": lambda: text.lm_scores(spark, SF_SMOKE),
    }
    queries = {
        "sparse_knn_w": retrieval.q_e_sparse_knn,
        "hill_top": drift.q_e_tail_index,
        "ks_source_lengths": drift.q_e_length_ks,
        "dsir_per": text.q_e_dsir_weights,
        "kn_bigrams": text.q_e_kn_bigram,
        "jv_truth": dedup.q_e_lsh_tuning,
    }
    stale = []
    clear_caches()
    for name, fetch in frames.items():
        df = fetch()
        spark.catalog.clearCache()
        assert not persisted(df), name
        if not persisted(fetch()):
            stale.append(name)
    for name, q in queries.items():
        cold = cached_leaves(q)
        assert cold, name
        spark.catalog.clearCache()
        if cached_leaves(q) != cold:
            stale.append(name)
    clear_caches()
    assert not stale, f"served without their persist after clearCache: {stale}"


def test_bpe_fertility_applies_cached_merges(spark):
    """q_e_bpe_fertility must share q_e_bpe_train's cached merge trace
    (train once per app/sf — a scoped_value, like _kmt_train's) and its
    numbers must be internally consistent: 1 <= fertility (symbols
    per word), and symbols never exceed characters (a merge only
    shrinks), so compress6 lies in (0, 1]."""
    from glaciersgee_spark import clear_caches
    from glaciersgee_spark.operators.text import q_e_bpe_fertility, q_e_bpe_train

    clear_caches()
    q_e_bpe_train(spark, SF_SMOKE).collect()
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    fert = q_e_bpe_fertility(spark, SF_SMOKE)
    # fertility reused the trained trace: its build launched no job
    assert len(tracker.getJobIdsForGroup(None)) == len(before)
    rows = fert.collect()
    released = clear_caches()
    assert released["entries"] - released["frames"] == 1  # one cached trace
    assert {r.lang for r in rows} == {"de", "en", "es", "fr", "zh"}
    for r in rows:
        assert r.n_words > 0
        assert 1.0 <= r.fertility6
        assert 0.0 < r.compress6 <= 1.0


def test_cluster_ari_bounds_and_population(spark):
    """ARI must cover every vector exactly once (n == corpus size,
    pair sums consistent with C(n,2)) and land in [-1, 1]."""
    from glaciersgee_spark.operators.similarity import q_e_cluster_ari
    from glaciersgee_spark.tables import load_table

    r = q_e_cluster_ari(spark, SF_SMOKE).collect()[0]
    n = load_table(spark, SF_SMOKE, "embeddings").count()
    assert r.n == n
    total_pairs = n * (n - 1) // 2
    assert 0 <= r.joint_pairs <= min(r.seed_pairs, r.trained_pairs)
    assert r.seed_pairs <= total_pairs and r.trained_pairs <= total_pairs
    assert -1.0 <= r.ari6 <= 1.0


def test_kmv_intersect_estimates_track_exact(spark):
    """The KMV audit row must be internally consistent: one row, the
    exact counts positive with |A∩B| <= min(|A|, |B|), and each
    estimate within the generous 6-sigma KMV band (sigma ~ 1/sqrt(k-2)
    per side; the intersection compounds both sketches)."""
    from glaciersgee_spark.operators.warehouse import _KMV_K, q_b_kmv_intersect

    rows = q_b_kmv_intersect(spark, SF_SMOKE).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r.k == _KMV_K
    assert 0 < r.n_inter_exact <= min(r.n_a_exact, r.n_b_exact)
    sigma = 1.0 / (_KMV_K - 2) ** 0.5
    assert r.err_a <= 6 * sigma and r.err_b <= 6 * sigma
    assert r.err_inter <= 12 * sigma
    # complete-sketch degeneracy: a side smaller than k reports exact
    if r.n_a_exact < _KMV_K:
        assert r.est_a == float(r.n_a_exact)


def test_arrow_udf_luhn_matches_pure_python(spark):
    """The Arrow-optimized scalar UDF must agree with a reference
    Python Luhn implementation on every sampled key."""
    from glaciersgee_spark.udfs import q_f_arrow_udf

    def luhn(n: int) -> int:
        tot = 0
        for i, ch in enumerate(str(n)[::-1]):
            d = int(ch)
            if i % 2 == 1:
                d = d * 2 - 9 if d * 2 > 9 else d * 2
            tot += d
        return (10 - tot % 10) % 10

    rows = q_f_arrow_udf(spark, SF_SMOKE).collect()
    assert rows and all(r.luhn_check == luhn(r.o_orderkey) for r in rows)


def test_whiten_diag_centers_the_space(spark):
    """Diagonal whitening centers the corpus, so the whitened mean
    pairwise cosine must sit near zero (the centered-space identity:
    the pair-dot sum of exactly centered vectors is negative and
    O(1/n) after unit normalization), and the audit row must be
    internally consistent."""
    from glaciersgee_spark.operators.similarity import q_e_whiten_diag
    from glaciersgee_spark.tables import load_table

    rows = q_e_whiten_diag(spark, SF_SMOKE).collect()
    assert len(rows) == 1
    r = rows[0]
    n = load_table(spark, SF_SMOKE, "embeddings").count()
    assert r.n_raw_vecs == n and r.n_white_vecs == n
    assert abs(r.mean_cos_white6) < 0.1
    assert r.reduction6 == round(r.mean_cos_raw6 - r.mean_cos_white6, 6)


def test_dedup_blocking_window_decay_and_bounds(spark):
    """SNM structural bounds: offset-d candidate count is exactly
    n_docs - d (every row pairs with its d-th successor except the
    last d), verified <= candidates, and verification decays with
    window distance (near-dups sort adjacent)."""
    from glaciersgee_spark.operators.dedup import _SNM_W, q_e_dedup_blocking
    from glaciersgee_spark.tables import load_table

    rows = q_e_dedup_blocking(spark, SF_SMOKE).collect()
    assert [r.d for r in rows] == list(range(1, _SNM_W + 1))
    n = (
        load_table(spark, SF_SMOKE, "documents")
        .where(F.size(F.split("text", " ")) >= 3)
        .count()
    )
    for r in rows:
        assert r.n_candidates == n - r.d
        assert 0 <= r.n_verified <= r.n_candidates
    assert rows[0].n_verified >= rows[-1].n_verified


def test_jl_distortion_is_unbiased_and_bounded(spark):
    """JL sign projections are unbiased (E[ratio] = 1): the panel mean
    must sit near 1, every ratio must be positive, and the pair count
    must be exactly C(panel, 2)."""
    from glaciersgee_spark.operators.similarity import (
        _JL_PANEL,
        q_e_jl_distortion,
    )

    r = q_e_jl_distortion(spark, SF_SMOKE).collect()[0]
    assert r.n_pairs == _JL_PANEL * (_JL_PANEL - 1) // 2
    assert 0.7 <= r.mean_ratio6 <= 1.3
    assert 0.0 < r.min_ratio6 <= r.mean_ratio6 <= r.max_ratio6
    assert 0.5 <= r.frac_within_50pct <= 1.0


def test_t_closeness_partitions_and_bounds(spark):
    """t-closeness deciles must partition every equivalence class (doc
    totals equal the corpus), every t must sit in [0, 1), and per
    decile avg <= max with max inside the decile's upper edge."""
    from glaciersgee_spark.operators.curation import q_e_t_closeness
    from glaciersgee_spark.tables import load_table

    rows = q_e_t_closeness(spark, SF_SMOKE).collect()
    n = load_table(spark, SF_SMOKE, "documents").count()
    assert sum(r.n_docs for r in rows) == n
    for r in rows:
        assert 0 <= r.t_decile <= 9
        assert 0.0 <= r.avg_t6 <= r.max_t6 < 1.0
        # every class in decile b has t in [b/10, (b+1)/10) (cap at 9)
        if r.t_decile < 9:
            assert r.max_t6 < (r.t_decile + 1) / 10.0
        assert r.avg_t6 >= r.t_decile / 10.0 - 1e-9


def test_bt_strength_fit_is_consistent(spark):
    """BT invariants: ranks are a permutation, strengths renormalize
    to n_sources (within the 6-dp rounding budget), and the MM fit
    preserves win-rate order in aggregate: the top-ranked source must
    not have fewer wins than the bottom-ranked one."""
    from glaciersgee_spark.operators.curation import q_e_bt_strength

    rows = q_e_bt_strength(spark, SF_SMOKE).collect()
    n = len(rows)
    assert sorted(r.rank for r in rows) == list(range(1, n + 1))
    assert abs(sum(r.bt_w6 for r in rows) - n) < 1e-3 * n
    assert all(r.bt_w6 >= 0.0 for r in rows)
    by_rank = sorted(rows, key=lambda r: r.rank)
    assert by_rank[0].n_wins >= by_rank[-1].n_wins
    # strengths are sorted by construction
    ws = [r.bt_w6 for r in by_rank]
    assert ws == sorted(ws, reverse=True)


def test_dp_counts_noise_and_release_are_consistent(spark):
    """The DP release must satisfy its own arithmetic (noisy = true +
    noise, err = |noise|) and the Laplace(1) draws must look like
    Laplace: median |noise| for Laplace(1) is ln 2 ~ 0.69 — accept a
    wide band, but reject degenerate all-zero or huge noise."""
    from glaciersgee_spark.operators.curation import q_e_dp_counts

    rows = q_e_dp_counts(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert abs(r.n_noisy6 - round(r.n_true + r.noise6, 6)) < 1e-9
        assert abs(r.abs_err6 - round(abs(r.noise6), 6)) < 1e-9
    errs = sorted(r.abs_err6 for r in rows)
    med = errs[len(errs) // 2]
    assert 0.01 < med < 5.0


def test_conformal_gate_covers_at_target(spark):
    """Split-conformal guarantee: test coverage must be >= 0.9 minus
    a finite-sample slack of ~2/sqrt(n_test), and k must be the exact
    integer ceiling of 0.9 * (n_cal + 1)."""
    from glaciersgee_spark.operators.curation import q_e_conformal_gate

    r = q_e_conformal_gate(spark, SF_SMOKE).collect()[0]
    assert r.k == -((-9 * (r.n_cal + 1)) // 10)  # exact ceil
    assert r.n_cal + r.n_test > 0
    slack = 2.0 / max(r.n_test, 1) ** 0.5
    assert r.coverage6 >= 0.9 - slack
    assert r.threshold6 is None or r.threshold6 > 0.0


def test_winsorize_clip_fractions_and_mean_shift(spark):
    """Exact-order-statistic winsorization: tail clip mass must be
    <= the nominal 5% plus the tie mass at each threshold, thresholds
    ordered, and the winsorized mean must sit inside [t_lo, t_hi]."""
    from glaciersgee_spark.operators.curation import q_e_winsorize

    rows = q_e_winsorize(spark, SF_SMOKE).collect()
    n = sum(r.n_docs for r in rows)
    lo = sum(r.n_clip_lo for r in rows)
    hi = sum(r.n_clip_hi for r in rows)
    t_lo, t_hi = rows[0].t_lo, rows[0].t_hi
    assert t_lo <= t_hi
    assert lo < 0.05 * n + 1  # strictly-below-threshold mass < k_lo
    assert hi <= 0.05 * n + 1
    for r in rows:
        assert t_lo <= r.mean_wins6 <= t_hi
        assert r.t_lo == t_lo and r.t_hi == t_hi


def test_solar_time_buckets_partition_corpus(spark):
    """Solar-hour buckets must partition every event, hours in
    [0, 24), and tile counts bounded by the 25-tile grid."""
    from glaciersgee_spark.operators.etl import q_a_solar_time
    from glaciersgee_spark.tables import load_table

    rows = q_a_solar_time(spark, SF_SMOKE).collect()
    n = load_table(spark, SF_SMOKE, "events").count()
    assert sum(r.n_scenes for r in rows) == n
    assert all(0 <= r.solar_hour <= 23 for r in rows)
    assert all(1 <= r.n_tiles <= 25 for r in rows)


def test_c_binary_roundtrip_identity(spark):
    """The hex->bytes->string round-trip must reproduce the input."""
    from glaciersgee_spark.functions.scalar import q_c_binary

    rows = q_c_binary(spark, SF_SMOKE).collect()
    assert rows
    import base64

    for r in rows:
        assert len(r.hx) == 2 * r.n_bytes
        decoded = base64.b64decode(r.b64)
        assert decoded.hex() == r.hx
        assert decoded.decode("utf-8") == r.roundtrip


def test_matryoshka_identity_row_and_monotone_tendency(spark):
    """The d=64 rows are the harness identity (recall exactly 1.0);
    every recall lies in [0, 1] with n_hit consistent; and the
    panel-mean recall at 32 dims must be >= at 16 dims minus slack
    (prefix information only grows)."""
    from glaciersgee_spark.operators.similarity import q_e_matryoshka_recall

    rows = q_e_matryoshka_recall(spark, SF_SMOKE).collect()
    assert len(rows) == 15
    by_d: dict = {}
    for r in rows:
        assert r.n_hit == round(r.recall6 * 10)
        assert 0.0 <= r.recall6 <= 1.0
        by_d.setdefault(r.d, []).append(r.recall6)
    assert all(v == 1.0 for v in by_d[64])
    mean = lambda v: sum(v) / len(v)
    assert mean(by_d[32]) >= mean(by_d[16]) - 0.1


def test_pr_auc_bounds_and_baseline(spark):
    """AP must land in [prevalence, 1e6] ppm (no-skill floor), and
    the shared per-score frame must agree with the ROC op's counts."""
    from glaciersgee_spark.operators.curation import (
        q_e_pr_auc,
        q_e_quality_auc,
    )

    ap = q_e_pr_auc(spark, SF_SMOKE).collect()[0]
    roc = q_e_quality_auc(spark, SF_SMOKE).collect()[0]
    assert (ap.n_pos, ap.n_neg, ap.n_thresholds) == (
        roc.n_pos,
        roc.n_neg,
        roc.n_thresholds,
    )
    # AP is NOT lower-bounded by prevalence for a weak ranker (unlike
    # ROC's 0.5 baseline) — only hard bounds hold
    assert 0 < ap.ap_ppm <= 1_000_000
    assert ap.prevalence_ppm == ap.n_pos * 1_000_000 // (
        ap.n_pos + ap.n_neg
    )


def test_self_bleu_brute_force_on_panel(spark):
    """The df>=2 spelling must equal the naive leave-one-out overlap
    computed in Python on the collected panel."""
    from glaciersgee_spark.operators.text import q_e_self_bleu
    from glaciersgee_spark.tables import load_table

    rows = {r.doc_id: r for r in q_e_self_bleu(spark, SF_SMOKE).collect()}
    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .where(F.col("doc_id") < 32)
        .select("doc_id", "text")
        .collect()
    )
    grams = {}
    for d in docs:
        tk = d.text.split(" ")
        if len(tk) >= 3:
            grams[d.doc_id] = {
                f"{a} {b}" for a, b in zip(tk[:-1], tk[1:])
            }
    assert set(rows) == set(grams)
    for did, g in grams.items():
        others = set().union(
            *[v for k, v in grams.items() if k != did]
        ) if len(grams) > 1 else set()
        matched = len(g & others)
        assert rows[did].n_bigrams == len(g)
        assert rows[did].n_matched == matched


def test_aes_sample_is_weight_biased_and_exact_k(spark):
    """A-ES invariants: exactly k rows (or the corpus if smaller),
    ranks a permutation, keys strictly descending (md5 ties
    impossible), and the sample must be length-BIASED: its mean
    n_chars exceeds the corpus mean (weights are n_chars)."""
    from glaciersgee_spark.operators.curation import _AES_K, q_e_aes_sample
    from glaciersgee_spark.tables import load_table

    rows = q_e_aes_sample(spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents").where("n_chars > 0")
    n = d.count()
    assert len(rows) == min(_AES_K, n)
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    keys = [r.skey for r in rows]
    assert keys == sorted(keys, reverse=True)
    corpus_mean = d.agg(F.avg("n_chars")).collect()[0][0]
    sample_mean = sum(r.n_chars for r in rows) / len(rows)
    assert sample_mean > corpus_mean


def test_dp_quantile_release_is_near_true_median(spark):
    """Exponential-mechanism invariants: the released value must be a
    real candidate (a length present in the corpus), the true median
    column must be the exact order statistic, and at eps=1 over this
    corpus the release lands within a loose utility band (the
    mechanism concentrates exponentially around max-utility)."""
    from glaciersgee_spark.operators.curation import q_e_dp_quantile
    from glaciersgee_spark.tables import load_table

    r = q_e_dp_quantile(spark, SF_SMOKE).collect()[0]
    lens = sorted(
        x.n_chars
        for x in load_table(spark, SF_SMOKE, "documents")
        .select("n_chars")
        .collect()
    )
    assert r.true_median == lens[(len(lens) + 1) // 2 - 1]
    assert r.dp_median in set(lens)
    assert r.abs_err == abs(r.dp_median - r.true_median)
    # utility concentration: released rank within ~n/4 of the median
    import bisect

    rank = bisect.bisect_right(lens, r.dp_median)
    assert abs(rank - len(lens) / 2) < len(lens) / 4 + 10


# ----------------------------------------------------- round-8 third wave


def test_wasserstein_matches_brute_force(spark):
    """W1 per source cross-checked against a driver-side numpy
    computation of mean |CDF_s - CDF_t| mass over the merged support
    (the textbook spelling, independent of the cross-multiplied
    integer form the op uses)."""
    import numpy as np

    from glaciersgee_spark.operators.drift import q_e_wasserstein
    from glaciersgee_spark.tables import load_table

    rows = {r.source: r for r in q_e_wasserstein(spark, SF_SMOKE).collect()}
    pdf = (
        load_table(spark, SF_SMOKE, "documents")
        .select("source", "n_chars")
        .toPandas()
    )
    xs = np.sort(pdf["n_chars"].unique())
    all_v = np.sort(pdf["n_chars"].to_numpy())
    for src, r in list(rows.items())[:5]:
        sv = np.sort(pdf.loc[pdf["source"] == src, "n_chars"].to_numpy())
        cdf_s = np.searchsorted(sv, xs, side="right") / len(sv)
        cdf_t = np.searchsorted(all_v, xs, side="right") / len(all_v)
        w1 = float(np.sum(np.abs(cdf_s - cdf_t)[:-1] * np.diff(xs)))
        assert abs(r.w1_6 - w1) < 1e-5, (src, r.w1_6, w1)


def test_good_turing_brute_force_one_source(spark):
    from collections import Counter

    from glaciersgee_spark.operators.text import q_e_good_turing
    from glaciersgee_spark.tables import load_table

    rows = {r.source: r for r in q_e_good_turing(spark, SF_SMOKE).collect()}
    src = sorted(rows)[0]
    docs = (
        load_table(spark, SF_SMOKE, "documents")
        .where(F.col("source") == src)
        .select("text")
        .collect()
    )
    c = Counter(t for r in docs for t in r.text.split(" "))
    n = sum(c.values())
    nr = Counter(c.values())
    r = rows[src]
    assert r.n_types == len(c) and r.n_tokens == n
    assert r.n1 == nr[1] and r.n2 == nr[2] and r.n3 == nr[3]
    assert r.p0_ppm == nr[1] * 1000000 // n
    assert r.chao1_types == len(c) + nr[1] * (nr[1] - 1) // (2 * (nr[2] + 1))
    assert r.chao1_types >= r.n_types


def test_brier_decomposition_identity(spark):
    """Murphy's identity BS = UNC + REL - RES holds exactly when
    computed per distinct forecast value (up to the 6-dp rounding of
    the four reported terms)."""
    from glaciersgee_spark.operators.curation import q_e_brier_decomp

    r = q_e_brier_decomp(spark, SF_SMOKE).collect()[0]
    assert abs(r.brier6 - (r.unc6 + r.rel6 - r.res6)) <= 3e-6
    assert 0.0 <= r.brier6 <= 1.0 and 0.0 <= r.unc6 <= 0.25
    assert r.rel6 >= 0.0 and r.res6 >= 0.0


def test_threshold_sweep_monotone(spark):
    from glaciersgee_spark.operators.curation import q_e_threshold_sweep

    rows = q_e_threshold_sweep(spark, SF_SMOKE).collect()
    assert [r.threshold_pct for r in rows] == [10 * t for t in range(1, 10)]
    kept = [r.n_kept for r in rows]
    rec = [r.recall_ppm for r in rows]
    assert all(a >= b for a, b in zip(kept, kept[1:]))
    assert all(a >= b for a, b in zip(rec, rec[1:]))
    assert all(r.pos_kept <= r.n_kept for r in rows)


def test_neyman_allocation_sums_to_budget(spark):
    from glaciersgee_spark.operators.curation import _NEY_N, q_e_neyman_alloc

    rows = q_e_neyman_alloc(spark, SF_SMOKE).collect()
    tot_ney = sum(r.neyman_n for r in rows)
    tot_prop = sum(r.prop_n for r in rows)
    # half-up rounding drifts at most 0.5 per stratum
    assert abs(tot_ney - _NEY_N) <= len(rows)
    assert abs(tot_prop - _NEY_N) <= len(rows)
    gains = {r.neyman_gain6 for r in rows}
    assert len(gains) == 1 and 0.0 < gains.pop() <= 1.000001


def test_assoc_rules_symmetry_and_bounds(spark):
    from glaciersgee_spark.operators.relational import q_b_assoc_rules

    rows = q_b_assoc_rules(spark, SF_SMOKE).collect()
    sup = {(r.antecedent, r.consequent): r.support_ppm for r in rows}
    lift = {(r.antecedent, r.consequent): r.lift_ppm for r in rows}
    for (a, b), s in sup.items():
        assert sup[(b, a)] == s, "support must be direction-symmetric"
        assert abs(lift[(b, a)] - lift[(a, b)]) <= 1, "lift symmetric (DIV)"
    for r in rows:
        assert 0 < r.support_ppm <= r.confidence_ppm <= 1000000


def test_poisson_boot_panel_shape(spark):
    from glaciersgee_spark.operators.curation import (
        _PB_THRESHOLDS,
        q_e_poisson_boot,
    )

    assert list(_PB_THRESHOLDS) == sorted(_PB_THRESHOLDS)
    assert _PB_THRESHOLDS[-1] < 1 << 60
    rows = q_e_poisson_boot(spark, SF_SMOKE).collect()
    assert rows, "one row per source"
    for r in rows:
        assert r.ci_lo6 <= r.ci_hi6
        # the interval brackets the resampling distribution's bulk, so
        # the point estimate lands inside it at these panel sizes
        assert r.ci_lo6 <= r.point_mean6 <= r.ci_hi6


def test_udtf_partition_records_vs_window(spark):
    """The UDTF's streamed running-max record count must equal the
    window-function spelling computed engine-side."""
    from pyspark.sql import Window

    from glaciersgee_spark.tables import load_table
    from glaciersgee_spark.udfs import q_f_udtf_partition

    got = {r.source: r for r in q_f_udtf_partition(spark, SF_SMOKE).collect()}
    d = load_table(spark, SF_SMOKE, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    exp = (
        d.withColumn("pm", F.max("n_chars").over(w))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(
                F.when(F.col("pm").isNull() | (F.col("n_chars") > F.col("pm")), 1)
            ).alias("n_records"),
            F.max("n_chars").alias("max_chars"),
        )
        .collect()
    )
    for e in exp:
        g = got[e.source]
        assert (g.n_docs, g.n_records, g.max_chars) == (
            e.n_docs,
            e.n_records,
            e.max_chars,
        )


def test_cusum_reflection_identity(spark):
    """The two-window spelling must equal the literal sequential
    recurrence S_d = max(0, S_{d-1} + z_d - k) replayed in Python."""
    from glaciersgee_spark.operators.drift import (
        _CUSUM_K_PPM,
        q_e_cusum_drift,
    )

    rows = q_e_cusum_drift(spark, SF_SMOKE).collect()
    s = 0
    for r in sorted(rows, key=lambda r: r.day):
        s = max(0, s + r.z_ppm - _CUSUM_K_PPM)
        assert r.cusum_ppm == s, (r.day, r.cusum_ppm, s)


def test_langid_f1_consistent_with_confusion(spark):
    from glaciersgee_spark.operators.text import q_e_lang_id, q_e_langid_f1

    conf = q_e_lang_id(spark, SF_SMOKE).collect()
    f1 = {r.lang: r for r in q_e_langid_f1(spark, SF_SMOKE).collect()}
    diag = {r.lang: r.n for r in conf if r.lang == r.pred_lang}
    by_true = {}
    for r in conf:
        by_true[r.lang] = by_true.get(r.lang, 0) + r.n
    for lang, r in f1.items():
        assert r.tp == diag.get(lang, 0)
        assert r.n_docs == by_true[lang]
        if r.precision_ppm is not None:
            assert 0 <= r.precision_ppm <= 1000000
        assert 0 <= r.recall_ppm <= 1000000


def test_filter_kappa_first_principles(spark):
    """kappa recomputed in Python from the raw per-doc gate verdicts."""
    from glaciersgee_spark.operators.curation import q_e_filter_kappa
    from glaciersgee_spark.tables import load_table

    got = {r.pair: r for r in q_e_filter_kappa(spark, SF_SMOKE).collect()}
    d = (
        load_table(spark, SF_SMOKE, "documents")
        .select("doc_id", F.split("text", " ").alias("w"))
        .select(
            F.size("w").alias("n_tok"),
            F.size(F.array_distinct("w")).alias("n_types"),
            F.expr(
                "array_max(transform(array_distinct(w),"
                " x -> size(filter(w, y -> y = x))))"
            ).alias("mx"),
        )
        .collect()
    )
    gates = [
        (15 <= r.n_tok <= 80, r.n_types * 10 > r.n_tok * 3,
         r.mx * 100 <= r.n_tok * 15)
        for r in d
    ]
    n = len(gates)
    for pair, ia, ib in (("len~ttr", 0, 1), ("len~rep", 0, 2), ("ttr~rep", 1, 2)):
        ca = sum(1 for g in gates if g[ia])
        cb = sum(1 for g in gates if g[ib])
        agree = sum(1 for g in gates if g[ia] == g[ib])
        num = agree * n - ca * cb - (n - ca) * (n - cb)
        den = n * n - ca * cb - (n - ca) * (n - cb)
        r = got[pair]
        assert (r.n, r.n_agree) == (n, agree)
        if den:
            # Python // floors toward -inf; Spark/DuckDB DIV truncate
            # toward zero — match the engines' convention here.
            want = abs(num * 1000000) // den * (1 if num >= 0 else -1)
            assert r.kappa_ppm == want


def test_burrows_delta_brute_force_one_pair(spark):
    import numpy as np

    from glaciersgee_spark.operators.drift import _BD_K, q_e_burrows_delta
    from glaciersgee_spark.tables import load_table

    rows = q_e_burrows_delta(spark, SF_SMOKE).collect()
    assert all(r.delta6 >= 0 for r in rows)
    srcs = sorted({r.src_a for r in rows} | {r.src_b for r in rows})
    pdf = (
        load_table(spark, SF_SMOKE, "documents")
        .select("source", "text")
        .toPandas()
    )
    from collections import Counter

    tf = {}
    corpus = Counter()
    for s in srcs:
        c = Counter(
            t
            for txt in pdf.loc[pdf["source"] == s, "text"]
            for t in txt.split(" ")
        )
        tf[s] = c
        corpus.update(c)
    top = [t for t, _ in sorted(corpus.items(), key=lambda kv: (-kv[1], kv[0]))[:_BD_K]]
    f = {
        s: np.array(
            [round(tf[s][t] / sum(tf[s].values()), 6) for t in top]
        )
        for s in srcs
    }
    mat = np.vstack([f[s] for s in srcs])
    mu = mat.mean(axis=0)
    sig = np.round(np.sqrt(np.maximum(((mat - mu) ** 2).mean(axis=0), 0)), 6)
    a, b = rows[0].src_a, rows[0].src_b
    with np.errstate(divide="ignore", invalid="ignore"):
        za = np.round((f[a] - mu) / sig, 6)
        zb = np.round((f[b] - mu) / sig, 6)
    ok = ~(np.isnan(za) | np.isnan(zb) | np.isinf(za) | np.isinf(zb))
    want = round(float(np.abs(za[ok] - zb[ok]).mean()), 5)
    assert abs(rows[0].delta6 - want) < 1e-4, (rows[0].delta6, want)


def _daily_counts(spark):
    from glaciersgee_spark.tables import load_table

    rows = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"))
        .agg(F.count(F.lit(1)).alias("x"))
        .collect()
    )
    return sorted((r.day, r.x) for r in rows)


def test_mann_kendall_first_principles(spark):
    from glaciersgee_spark.operators.drift import q_e_mann_kendall

    days = _daily_counts(spark)
    xs = [x for _, x in days]
    n = len(xs)
    s = sum(
        (1 if xs[j] > xs[i] else -1 if xs[j] < xs[i] else 0)
        for i in range(n)
        for j in range(i + 1, n)
    )
    from collections import Counter

    ties = sum(
        t * (t - 1) * (2 * t + 5) for t in Counter(xs).values() if t > 1
    )
    r = q_e_mann_kendall(spark, SF_SMOKE).collect()[0]
    assert (r.n_days, r.s_stat) == (n, s)
    assert r.var18 == n * (n - 1) * (2 * n + 5) - ties
    assert r.trend in ("increasing", "decreasing", "none")


def test_theil_sen_matches_numpy_median(spark):
    from glaciersgee_spark.operators.drift import q_e_theil_sen

    days = _daily_counts(spark)
    d0 = days[0][0]
    pts = [((d - d0).days, x) for d, x in days]
    slopes = sorted(
        round((x2 - x1) / (i2 - i1), 6)
        for a, (i1, x1) in enumerate(pts)
        for (i2, x2) in pts[a + 1 :]
    )
    np_ = len(slopes)
    med = round((slopes[(np_ + 1) // 2 - 1] + slopes[np_ // 2]) / 2.0, 6)
    r = q_e_theil_sen(spark, SF_SMOKE).collect()[0]
    assert r.n_pairs == np_
    assert abs(r.sen_slope6 - med) < 1e-9
    assert r.min_slope6 <= r.sen_slope6 <= r.max_slope6


def test_autocorr_matches_numpy(spark):
    import numpy as np

    from glaciersgee_spark.operators.drift import q_e_autocorr

    days = _daily_counts(spark)
    d0 = days[0][0]
    idx = {(d - d0).days: x for d, x in days}
    xs = np.array([x for _, x in days], dtype=np.int64)
    mu = xs.mean()
    den = float(((xs - mu) ** 2).sum())
    got = {r.k: r for r in q_e_autocorr(spark, SF_SMOKE).collect()}
    for k in range(1, 8):
        pairs = [(i, i + k) for i in idx if i + k in idx]
        num = sum((idx[i] - mu) * (idx[j] - mu) for i, j in pairs)
        assert got[k].n_terms == len(pairs)
        assert abs(got[k].acf6 - round(num / den, 6)) < 1e-5
        assert -1.0 <= got[k].acf6 <= 1.0


def test_seasonality_shares_and_chi2(spark):
    from glaciersgee_spark.operators.drift import q_e_seasonality

    rows = q_e_seasonality(spark, SF_SMOKE).collect()
    assert {r.dow for r in rows} <= set(range(1, 8))
    tot_share = sum(r.share_ppm for r in rows)
    assert 1000000 - len(rows) <= tot_share <= 1000000
    chi2s = {r.chi2_6 for r in rows}
    assert len(chi2s) == 1 and chi2s.pop() >= 0.0
    n = sum(r.n_events for r in rows)
    d = sum(r.n_days for r in rows)
    exp = sum(
        (r.n_events - n * r.n_days / d) ** 2 / (n * r.n_days / d)
        for r in rows
    )
    assert abs(rows[0].chi2_6 - exp) < 1e-3


def test_benford_digits_first_principles(spark):
    from glaciersgee_spark.operators.warehouse import q_b_benford
    from glaciersgee_spark.tables import load_table

    vals = (
        load_table(spark, SF_SMOKE, "events")
        .where(F.col("value") > 0)
        .select("value")
        .collect()
    )
    from collections import Counter

    c = Counter(str(int(v.value * 100 + 0.5))[0] for v in vals)
    got = {r.digit: r for r in q_b_benford(spark, SF_SMOKE).collect()}
    for d, r in got.items():
        assert r.n_obs == c[str(d)], (d, r.n_obs, c[str(d)])
    assert sum(r.n_obs for r in got.values()) == len(vals)
    assert got and rowsum_ppm_close(got)


def rowsum_ppm_close(got):
    tot = sum(r.obs_ppm for r in got.values())
    return 1000000 - len(got) <= tot <= 1000000


def test_linear_fusion_bounds_and_alpha(spark):
    from glaciersgee_spark.operators.retrieval import q_e_linear_fusion

    rows = q_e_linear_fusion(spark, SF_SMOKE).collect()
    assert len(rows) == 25
    for r in rows:
        assert 0.0 <= r.fused6 <= 1.000001
        if r.bm25_norm6 is not None:
            assert -1e-9 <= r.bm25_norm6 <= 1.000001
    fs = [r.fused6 for r in rows]
    assert fs == sorted(fs, reverse=True)


def test_exposure_share_sums_to_unity(spark):
    from glaciersgee_spark.operators.retrieval import (
        EXPO_DEPTH,
        q_e_exposure_share,
    )

    rows = q_e_exposure_share(spark, SF_SMOKE).collect()
    assert sum(r.n_in_topk for r in rows) == EXPO_DEPTH
    tot = sum(r.exposure_ppm for r in rows)
    assert 1000000 - len(rows) <= tot <= 1000000
    corp = sum(r.corpus_ppm for r in rows)
    assert 1000000 - len(rows) <= corp <= 1000000


def test_feature_mi_nonneg_and_bounded(spark):
    """MI >= 0 up to the 6-dp ln rounding, and bounded by min(H(gate),
    H(gold)) <= ln 2 for binary variables."""
    import math

    from glaciersgee_spark.operators.curation import q_e_feature_mi

    rows = q_e_feature_mi(spark, SF_SMOKE).collect()
    assert {r.gate for r in rows} == {"len", "rep", "ttr"}
    for r in rows:
        assert r.mi_nats6 >= -1e-5
        assert r.mi_nats6 <= math.log(2) + 1e-6
        assert 0 <= r.n11 <= min(r.c_g, r.c_gold)


def test_utm_zone_exceptions(spark):
    """Norway 32V widening and the Svalbard X-band folding must hold:
    no scene may land in 32X/34X/36X, and lon 3..11 at lat 56..63
    must map to zone 32."""
    from glaciersgee_spark.operators.spatial import q_a_utm_zone

    rows = q_a_utm_zone(spark, SF_SMOKE).collect()
    for r in rows:
        assert 1 <= r.zone <= 60
        assert r.band in "CDEFGHJKLMNPQRSTUVWX"
        if r.band == "X":
            assert r.zone not in (32, 34, 36), "Svalbard folding violated"
    # spot-check the zone formula against first principles
    zones = {(r.zone, r.band) for r in rows}
    assert zones, "non-empty census"


def test_dist_moments_match_numpy(spark):
    import numpy as np

    from glaciersgee_spark.operators.warehouse import q_b_dist_moments
    from glaciersgee_spark.tables import load_table

    got = {r.flag: r for r in q_b_dist_moments(spark, SF_SMOKE).collect()}
    pdf = (
        load_table(spark, SF_SMOKE, "lineitem")
        .select("l_returnflag", "l_quantity")
        .toPandas()
    )
    for flag, r in got.items():
        x = pdf.loc[pdf["l_returnflag"] == flag, "l_quantity"].to_numpy(
            dtype=np.float64
        )
        mu, sd = x.mean(), x.std()
        g1 = ((x - mu) ** 3).mean() / sd**3
        g2 = ((x - mu) ** 4).mean() / sd**4 - 3.0
        assert r.n_rows == len(x)
        assert abs(r.mean6 - mu) < 1e-4
        assert abs(r.stddev6 - sd) < 1e-4
        assert abs(r.skew6 - g1) < 1e-4
        assert abs(r.exkurt6 - g2) < 1e-4


def test_printf_alignment_and_hex(spark):
    from glaciersgee_spark.functions.scalar import q_c_printf

    rows = q_c_printf(spark, SF_SMOKE).collect()
    for r in rows[:50]:
        assert r.scene_id.endswith(f"{r.doc_id:06d}")
        assert r.hex_id == format(r.doc_id * 255, "x")
        assert r.right_aligned.endswith("|") and r.left_aligned.endswith("|")
        assert r.pct_label.endswith("%")


def test_survival_km_first_principles(spark):
    """KM curve replayed in Python from per-user first-activity /
    first-purchase days."""
    import math

    from glaciersgee_spark.operators.warehouse import q_b_survival_km
    from glaciersgee_spark.tables import load_table

    ev = (
        load_table(spark, SF_SMOKE, "events")
        .select(
            "user_id",
            "event_type",
            F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"),
        )
        .collect()
    )
    first, purch, mx = {}, {}, max(r.day for r in ev)
    for r in ev:
        first[r.user_id] = min(first.get(r.user_id, r.day), r.day)
        if r.event_type == "purchase":
            purch[r.user_id] = min(purch.get(r.user_id, r.day), r.day)
    durs = [
        ((purch[u] - first[u]).days, True)
        if u in purch
        else ((mx - first[u]).days, False)
        for u in first
    ]
    rows = q_b_survival_km(spark, SF_SMOKE).collect()
    s = 1.0
    at_risk = len(durs)
    prev_t = -1
    for r in rows:
        # exits strictly before this step
        gone = sum(1 for t, _ in durs if t < r.t_days)
        assert r.n_at_risk == len(durs) - gone
        d = sum(1 for t, e in durs if e and t == r.t_days)
        c = sum(1 for t, e in durs if not e and t == r.t_days)
        assert (r.n_events, r.n_censored) == (d, c)
        assert r.t_days > prev_t
        prev_t = r.t_days
    # survival is monotone nonincreasing in [0, 1]
    ss = [r.surv6 for r in rows]
    assert all(0.0 <= x <= 1.0 for x in ss)
    assert all(a >= b - 1e-9 for a, b in zip(ss, ss[1:]))


def test_zonal_stats_consistent_with_bbox_contains(spark):
    """Zone point counts must agree with q_a_bbox_contains' census of
    the same containment join (both derive events->points the same
    way)."""
    from glaciersgee_spark.operators.spatial import (
        q_a_bbox_contains,
        q_a_zonal_stats,
    )

    zs = {r.aoi_id: r for r in q_a_zonal_stats(spark, SF_SMOKE).collect()}
    bc = {r.aoi_id: r for r in q_a_bbox_contains(spark, SF_SMOKE).collect()}
    assert set(zs) == set(bc)
    for k, r in zs.items():
        assert r.n_points == bc[k].n_points
        if r.n_points:
            assert -1.0 <= r.min6 <= r.mean6 <= r.max6 <= 1.0
            assert r.stddev6 >= 0.0
        else:
            assert r.mean6 is None and r.stddev6 is None


def test_band_math_masks_and_bounds(spark):
    from glaciersgee_spark.operators.etl import q_a_band_math

    rows = q_a_band_math(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_clear <= r.n_scenes
        if r.n_clear:
            assert -1.0 <= r.min_ndvi <= r.mean_ndvi <= r.max_ndvi <= 1.0
    # the cloud bit must mask SOMETHING and never everything (the
    # suppkey%16 distribution is skewed at tiny SFs, so no tighter
    # bound than structural)
    tot, clear = sum(r.n_scenes for r in rows), sum(r.n_clear for r in rows)
    assert 0 < clear < tot


def test_ewma_recurrence_replay(spark):
    from glaciersgee_spark.operators.drift import q_e_ewma_chart
    from glaciersgee_spark.registry import py_q6

    rows = sorted(q_e_ewma_chart(spark, SF_SMOKE).collect(),
                  key=lambda r: r.day)
    e = 0.0
    for i, r in enumerate(rows):
        e = py_q6(0.2 * r.z6 + (0.8 * e if i else 0.0))
        assert abs(r.ewma6 - e) < 1e-9, (r.day, r.ewma6, e)
        assert r.alarm == (abs(r.ewma6) > 1.0)


def test_holt_trend_recurrence_replay(spark):
    from glaciersgee_spark.operators.drift import q_e_holt_trend
    from glaciersgee_spark.registry import py_q6

    rows = sorted(q_e_holt_trend(spark, SF_SMOKE).collect(),
                  key=lambda r: r.day)
    assert rows, "empty day panel"
    # first day: level = x, trend = 0, no forecast yet
    assert rows[0].level6 == float(rows[0].n_events)
    assert rows[0].trend6 == 0.0
    assert rows[0].fcst6 is None and rows[0].abs_err6 is None
    lvl, trd = rows[0].level6, 0.0
    for r in rows[1:]:
        fcst = py_q6(lvl + trd)
        new_lvl = py_q6(0.3 * r.n_events + 0.7 * (lvl + trd))
        trd = py_q6(0.1 * (new_lvl - lvl) + 0.9 * trd)
        lvl = new_lvl
        assert abs(r.level6 - lvl) < 1e-9, (r.day, r.level6, lvl)
        assert abs(r.trend6 - trd) < 1e-9
        assert abs(r.fcst6 - fcst) < 1e-9
        assert abs(r.abs_err6 - py_q6(abs(r.n_events - fcst))) < 1e-9


def test_uuid_layout_and_determinism(spark):
    import hashlib

    from glaciersgee_spark.functions.scalar import q_c_uuid

    rows = q_c_uuid(spark, SF_SMOKE).collect()
    assert rows
    for r in rows[:50]:
        # 8-4-4-4-12 layout, version nibble 3, variant nibble 8
        parts = r.doc_uuid.split("-")
        assert [len(p) for p in parts] == [8, 4, 4, 4, 12]
        assert parts[2][0] == "3" and parts[3][0] == "8"
        assert r.version_nibble == "3" and r.uuid_len == 36
        # re-mint from the namespace:name digest — identical every run
        h = hashlib.md5(f"ggee:doc:{r.doc_id}".encode()).hexdigest()
        expect = (
            f"{h[:8]}-{h[8:12]}-3{h[13:16]}-8{h[17:20]}-{h[20:32]}"
        )
        assert r.doc_uuid == expect, (r.doc_id, r.doc_uuid, expect)


def test_blocklist_score_replay(spark):
    from glaciersgee_spark.operators.curation import (
        _BL_THRESH_PPM, q_e_blocklist_score)
    from glaciersgee_spark.tables import load_table

    rows = {r.source: r for r in q_e_blocklist_score(spark, SF_SMOKE).collect()}
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    block = {"slow", "small", "big", "dup"}
    agg = {}
    for d in docs:
        toks = d.text.split(" ")
        hits = sum(1 for t in toks if t in block)
        a = agg.setdefault(d.source, [0, 0, 0, 0, 0])
        a[0] += 1
        ratio = hits * 1000000 // len(toks)
        a[1] += ratio > _BL_THRESH_PPM
        a[2] += hits
        a[3] += len(toks)
        a[4] = max(a[4], ratio)
    assert set(rows) == set(agg)
    for s, (n, fl, h, nt, mx) in agg.items():
        r = rows[s]
        assert (r.n_docs, r.n_flagged, r.total_hits) == (n, fl, h)
        assert r.corpus_ratio_ppm == h * 1000000 // nt
        assert r.max_ratio_ppm == mx


def test_domain_cap_ledger(spark):
    from glaciersgee_spark.operators.curation import q_e_domain_cap

    rows = q_e_domain_cap(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        # a host keeps at most 5 docs, so kept <= min(n_docs, 5*domains)
        assert r.n_kept <= r.n_docs
        assert r.n_kept <= 5 * r.n_domains
        assert r.n_domains <= 41
        assert r.retention_ppm == r.n_kept * 1000000 // r.n_docs
        # capped domains exist iff some host exceeds the cap
        assert (r.capped_domains > 0) == (r.max_domain_docs > 5) or (
            r.max_domain_docs <= 5
        )
        if r.max_domain_docs > 5:
            assert r.capped_domains >= 1 and r.n_kept < r.n_docs


def test_perplexity_heldout_split(spark):
    import math

    from glaciersgee_spark.operators.text import q_e_perplexity
    from glaciersgee_spark.tables import load_table

    rows = q_e_perplexity(spark, SF_SMOKE).collect()
    assert rows
    docs = load_table(spark, SF_SMOKE, "documents").collect()
    held = {}
    for d in docs:
        if d.doc_id % 2 == 1:
            held[d.source] = held.get(d.source, 0) + 1
    for r in rows:
        assert r.held_docs == held[r.source]
        # interpolated probs are < 1, so xent > 0 and ppl = exp(xent)
        assert r.xent_nats > 0.0
        assert abs(
            r.ppl6
            - math.floor(math.exp(r.xent_nats) * 1000000.0 + 0.5) / 1000000.0
        ) < 1e-12
        # 31-token shared vocabulary: nothing is OOV at smoke SF
        assert r.oov_ppm == 0
        # held-out ppl can exceed |vocab| slightly (the model is worse
        # than uniform on unseen text when train bigrams mislead), but
        # stays within a small factor of it
        assert 1.0 < r.ppl6 < 62.0


def test_holt_winters_recurrence_replay(spark):
    from glaciersgee_spark.operators.drift import q_e_holt_winters
    from glaciersgee_spark.registry import py_q6
    from glaciersgee_spark.operators.etl import q_a_filter_date  # noqa: F401
    from glaciersgee_spark.tables import load_table

    import pyspark.sql.functions as F

    rows = sorted(q_e_holt_winters(spark, SF_SMOKE).collect(),
                  key=lambda r: r.day)
    days = sorted(
        load_table(spark, SF_SMOKE, "events")
        .groupBy(F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"))
        .count()
        .collect(),
        key=lambda r: r.day,
    )
    assert len(rows) == len(days) - 7
    lvl = py_q6(sum(float(d["count"]) for d in days[:7]) / 7.0)
    trd = 0.0
    queue = [py_q6(float(d["count"]) - lvl) for d in days[:7]]
    for r, d in zip(rows, days[7:]):
        assert r.day == d.day and r.n_events == d["count"]
        s_used = queue.pop(0)
        fcst = py_q6(lvl + trd + s_used)
        new_lvl = py_q6(0.3 * (d["count"] - s_used) + 0.7 * (lvl + trd))
        trd = py_q6(0.1 * (new_lvl - lvl) + 0.9 * trd)
        queue.append(py_q6(0.2 * (d["count"] - new_lvl) + 0.8 * s_used))
        lvl = new_lvl
        assert abs(r.level6 - lvl) < 1e-9 and abs(r.trend6 - trd) < 1e-9
        assert abs(r.season6 - s_used) < 1e-9
        assert abs(r.fcst6 - fcst) < 1e-9
        assert abs(r.abs_err6 - py_q6(abs(d["count"] - fcst))) < 1e-9


def test_pack_audit_ledger_consistency(spark):
    from glaciersgee_spark.operators.curation import _PACK_B, q_e_pack_audit

    rows = q_e_pack_audit(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.n_windows == (r.total_tokens + _PACK_B - 1) // _PACK_B
        assert 0 <= r.straddle_docs <= r.n_docs
        assert r.straddle_ppm == r.straddle_docs * 1000000 // r.n_docs
        # mean doc ≈ 30 tokens vs B = 64: straddling must actually occur
        assert r.straddle_docs > 0
        assert 0 < r.tail_fill_ppm <= 1000000
        assert r.docs_per_window_milli == r.n_docs * 1000 // r.n_windows


def test_cache_table_serves_from_memory(spark):
    from glaciersgee_spark.operators.warehouse import q_b_cache_table
    from glaciersgee_spark.plans import inspect as PI

    df = q_b_cache_table(spark, SF_SMOKE)
    plan = PI.formatted(df)
    assert "InMemoryRelation" in plan
    assert "Scan In-memory table" in plan
    # repeated calls must not fail on an already-cached view
    df2 = q_b_cache_table(spark, SF_SMOKE)
    assert df2.count() == df.count()


def test_logreg_train_trace(spark):
    from glaciersgee_spark.operators.curation import (
        _LR_FEATS, _LR_ROUNDS, q_e_logreg_train)

    rows = q_e_logreg_train(spark, SF_SMOKE).collect()
    assert len(rows) == _LR_ROUNDS * len(_LR_FEATS)
    by_step = {}
    for r in rows:
        by_step.setdefault(r.step, {})[r.feature] = r
    assert set(by_step) == set(range(1, _LR_ROUNDS + 1))
    # log-loss is constant within a step and DECREASES across steps
    # (it is the loss of the step's STARTING weights; GD with lr=1 on
    # this well-conditioned 5-param problem descends monotonically)
    lls = []
    for s in sorted(by_step):
        vals = {r.logloss6 for r in by_step[s].values()}
        assert len(vals) == 1
        lls.append(vals.pop())
    assert lls[0] > lls[1] > lls[2]
    # step 1 starts from w=0: score = 0.5 exactly, so the bias
    # gradient is mean(0.5 - y) and weight = -q6(grad) after lr=1
    b1 = by_step[1]["bias"]
    assert -1.0 < b1.grad6 < 1.0
    assert abs(b1.weight6 + b1.grad6) < 2e-6


def test_cartography_reuses_logreg_trajectory(spark):
    """q_e_cartography scores every doc at q_e_logreg_train's weights
    from the shared _lr_trajectory (a scoped_value): once logreg has
    trained, cartography's build launches no job, and the weights it
    reads are the weight6 trace logreg emitted."""
    from glaciersgee_spark import clear_caches
    from glaciersgee_spark.operators.curation import (
        _LR_FEATS, _LR_XCOLS, _lr_trajectory, q_e_cartography, q_e_logreg_train)

    clear_caches()
    rows = q_e_logreg_train(spark, SF_SMOKE).collect()
    tracker = spark.sparkContext.statusTracker()
    before = tracker.getJobIdsForGroup(None)
    carto = q_e_cartography(spark, SF_SMOKE)
    assert len(tracker.getJobIdsForGroup(None)) == len(before)
    assert carto.count() > 0
    weight6 = {(r.step, r.feature): r.weight6 for r in rows}
    for step, (_g, _ll, w) in enumerate(_lr_trajectory(spark, SF_SMOKE), 1):
        for name, xc in zip(_LR_FEATS, _LR_XCOLS):
            assert weight6[(step, name)] == w[int(xc[1])]
    clear_caches()


def test_ab_test_srm_and_welch(spark):
    from glaciersgee_spark.operators.warehouse import q_b_ab_test
    from glaciersgee_spark.tables import load_table

    import pyspark.sql.functions as F

    rows = q_b_ab_test(spark, SF_SMOKE).collect()
    assert rows
    counts = {
        (r.event_type, r.variant): r.n
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type", (F.col("user_id") % 2).cast("int").alias("variant"))
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in rows:
        assert r.n_a == counts[(r.event_type, 0)]
        assert r.n_b == counts[(r.event_type, 1)]
        chi2 = (r.n_a - r.n_b) ** 2 / (r.n_a + r.n_b)
        assert abs(r.srm_chi2_6 - round(chi2, 6)) < 1e-6
        assert r.srm_flag == (chi2 > 3.841)
        # t statistic sign follows the mean difference
        if r.mean_b6 != r.mean_a6:
            assert (r.t_welch6 > 0) == (r.mean_b6 > r.mean_a6)


def test_kn_bigram_scores(spark):
    import math

    from glaciersgee_spark.operators.text import q_e_kn_bigram

    rows = q_e_kn_bigram(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.xent_nats > 0.0
        assert abs(
            r.ppl6
            - math.floor(math.exp(r.xent_nats) * 1000000.0 + 0.5) / 1000000.0
        ) < 1e-12
        # a self-scored KN bigram model beats uniform over the 31-token
        # vocabulary by a wide margin
        assert 1.0 < r.ppl6 < 31.0
        assert r.n_bigrams > 0


def test_kn_prob_normalizes_per_context(spark):
    """Interpolated KN is a proper distribution: summing P(w2|w1) over
    the observed followers plus the unseen mass must stay <= 1 for
    every context (the discount D frees exactly the continuation
    mass)."""
    import pyspark.sql.functions as F

    from glaciersgee_spark.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    pairs = d.select(
        F.expr(
            "explode(zip_with("
            "slice(split(text, ' '), 1, size(split(text, ' ')) - 1), "
            "slice(split(text, ' '), 2, size(split(text, ' ')) - 1), "
            "(x, y) -> struct(x AS prev, y AS cur)))"
        ).alias("s")
    ).select("s.prev", "s.cur")
    types = pairs.groupBy("prev", "cur").count()
    rows = types.collect()
    from collections import defaultdict

    c1 = defaultdict(int)
    fanout = defaultdict(int)
    fanin = defaultdict(int)
    for r in rows:
        c1[r.prev] += r["count"]
        fanout[r.prev] += 1
        fanin[r.cur] += 1
    n_types = len(rows)
    by_prev = defaultdict(list)
    for r in rows:
        by_prev[r.prev].append(r)
    for prev, rs in by_prev.items():
        seen = sum(
            max(r["count"] - 0.75, 0.0) / c1[prev]
            + 0.75 * fanout[prev] / c1[prev] * (fanin[r.cur] / n_types)
            for r in rs
        )
        assert seen <= 1.0 + 1e-9, (prev, seen)


def test_retention_cohort_triangle(spark):
    from glaciersgee_spark.operators.warehouse import q_b_retention_cohort

    rows = q_b_retention_cohort(spark, SF_SMOKE).collect()
    assert rows
    max_wk = max(r.cohort_wk + r.offset_wk for r in rows)
    for r in rows:
        assert r.offset_wk >= 0
        assert 0 < r.n_active <= r.cohort_size
        assert r.retention_ppm == r.n_active * 1000000 // r.cohort_size
        # triangle shape: no cell can reach past the last observed week
        assert r.cohort_wk + r.offset_wk <= max_wk
    # offset 0 is 100% by construction (first week counts as active)
    for r in rows:
        if r.offset_wk == 0:
            assert r.retention_ppm == 1000000


def test_time_weighted_avg_vs_replay(spark):
    from collections import defaultdict

    from glaciersgee_spark.operators.warehouse import q_b_time_weighted_avg
    from glaciersgee_spark.tables import load_table

    rows = {r.event_type: r for r in
            q_b_time_weighted_avg(spark, SF_SMOKE).collect()}
    assert rows
    evs = load_table(spark, SF_SMOKE, "events").select(
        "event_type", "ts", "event_id", "value"
    ).collect()
    by_key = defaultdict(list)
    for e in evs:
        by_key[(e.event_type, e.ts.date())].append(e)
    num = defaultdict(float)
    den = defaultdict(int)
    nseg = defaultdict(int)
    for (et, _day), es in by_key.items():
        es.sort(key=lambda e: (e.ts, e.event_id))
        for a, b in zip(es, es[1:]):
            td = b.ts - a.ts
            dt = (td.days * 86_400_000_000 + td.seconds * 1_000_000
                  + td.microseconds)
            if dt > 0:
                num[et] += a.value * dt
                den[et] += dt
                nseg[et] += 1
    for et, r in rows.items():
        assert r.n_segments == nseg[et]
        assert r.span_us == den[et]
        assert abs(r.twa6 - num[et] / den[et]) < 1e-4
        # irregular sampling: TWA must differ from the naive mean
        assert r.twa6 != r.naive_avg6


def test_purge_audit_ledger(spark):
    from glaciersgee_spark.operators.warehouse import q_b_purge_audit
    from glaciersgee_spark.tables import load_table

    import pyspark.sql.functions as F

    rows = {r.tbl: r for r in q_b_purge_audit(spark, SF_SMOKE).collect()}
    assert set(rows) == {"events", "orders"}
    for r in rows.values():
        assert r.rows_after == r.rows_before - r.rows_purged
        assert r.residual_after == 0
        assert 0 < r.subjects_hit <= r.subjects_in_manifest
    ev = load_table(spark, SF_SMOKE, "events")
    purged = ev.where(F.col("user_id") % 97 == 0).count()
    assert rows["events"].rows_purged == purged
    assert rows["events"].rows_before == ev.count()


def test_mode_deterministic_ties_to_smallest(spark):
    """q_b_mode_agg's contract: mode(col, deterministic=true) breaks
    frequency ties by the SMALLEST value — pinned here so a Spark
    upgrade changing the tie order fails loudly (the oracle's
    row_number spelling encodes the same direction)."""
    r = spark.sql(
        "SELECT mode(v, true) AS m FROM VALUES (2),(2),(1),(1) AS t(v)"
    ).first()
    assert r.m == 1
    r = spark.sql(
        "SELECT mode(v, true) AS m"
        " FROM VALUES ('b'),('b'),('a'),('a') AS t(v)"
    ).first()
    assert r.m == "a"


def test_levenshtein_threshold_agrees_with_case_spelling(spark):
    """q_c_levenshtein's pin: Spark's early-exit threshold form equals
    the portable CASE WHEN dist > k THEN -1 spelling on every pair."""
    from glaciersgee_spark.functions.scalar import q_c_levenshtein
    from tests.conftest import SF_SMOKE

    rows = q_c_levenshtein(spark, SF_SMOKE).collect()
    assert rows, "nation-pair grid must be non-empty"
    for r in rows:
        expected = -1 if r.dist > 8 else r.dist
        assert r.dist_thresh8 == expected, (r.name_a, r.name_b)


def test_cdc_apply_delete_erases_and_latest_wins(spark):
    """Replay a hand-built changelog: trailing DELETE removes the key,
    non-trailing DELETE is overridden by a later upsert, and the
    surviving payload is the LAST writer's."""
    import pyspark.sql.functions as F

    log = spark.createDataFrame(
        [
            # key 1: I then U — survives with the U payload
            (1, "I", "2024-01-01", 10, 100.0),
            (1, "U", "2024-01-02", 11, 111.0),
            # key 2: I then D — erased
            (2, "I", "2024-01-01", 20, 200.0),
            (2, "D", "2024-01-03", 21, 0.0),
            # key 3: D mid-log, then I — resurrected, survives
            (3, "D", "2024-01-01", 30, 0.0),
            (3, "I", "2024-01-02", 31, 303.0),
            # key 4: same-day ops — seq_id breaks the tie, D last
            (4, "I", "2024-01-01", 40, 400.0),
            (4, "D", "2024-01-01", 41, 0.0),
        ],
        "key long, op string, seq_ts string, seq_id long, payload double",
    ).withColumn("seq_ts", F.col("seq_ts").cast("timestamp_ntz"))
    from pyspark.sql import Window

    w = Window.partitionBy("key").orderBy(
        F.col("seq_ts").desc(), F.col("seq_id").desc()
    )
    latest = log.select(
        "*", F.row_number().over(w).alias("rn")
    ).where((F.col("rn") == 1) & (F.col("op") != "D"))
    got = {r.key: (r.op, r.payload) for r in latest.collect()}
    assert got == {1: ("U", 111.0), 3: ("I", 303.0)}


def test_sessionize_gap_boundary(spark):
    """A gap of EXACTLY 30 minutes does NOT start a new session (the
    cut is strictly-greater); 30 min + 1 µs does."""
    import pyspark.sql.functions as F

    from glaciersgee_spark.operators.warehouse import _SESS_GAP_US

    assert _SESS_GAP_US == 30 * 60 * 1_000_000
    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 1, 1.0),
            (1, "2024-01-01 00:30:00", 2, 1.0),  # exactly 30 min: same
            (1, "2024-01-01 01:00:00.000001", 3, 1.0),  # +1 µs: new
        ],
        "user_id long, ts string, event_id long, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    ev.createOrReplaceTempView("_sess_probe")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    marked = ev.select("user_id", "ts", "event_id", t_us.alias("t_us")).withColumn(
        "is_start",
        F.when(
            F.lag("t_us").over(w).isNull()
            | (F.col("t_us") - F.lag("t_us").over(w) > _SESS_GAP_US),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    starts = [r.is_start for r in marked.orderBy("event_id").collect()]
    assert starts == [1, 0, 1]


def test_coreset_radius_monotone_and_farthest_first(spark):
    """The k-center radius curve is non-increasing, every pick is
    distinct, and pick 1 is the true farthest point from the seed."""
    import pyspark.sql.functions as F

    from glaciersgee_spark.operators.similarity import (
        _CS_QV_SPARK,
        q_e_coreset,
    )
    from glaciersgee_spark.tables import load_table
    from tests.conftest import SF_SMOKE

    rows = q_e_coreset(spark, SF_SMOKE).collect()
    assert [r.step for r in rows] == list(range(8))
    radii = [r.radius_q for r in rows[1:]]
    assert all(a >= b for a, b in zip(radii, radii[1:])), radii
    assert len({r.vec_id for r in rows}) == len(rows)

    q = load_table(spark, SF_SMOKE, "embeddings").selectExpr(
        "vec_id", f"{_CS_QV_SPARK} AS qv"
    )
    seed_id = rows[0].vec_id
    seed = q.where(F.col("vec_id") == seed_id).first().qv
    arr = "array(" + ",".join(f"{v}L" for v in seed) + ")"
    far = (
        q.selectExpr(
            "vec_id",
            f"aggregate(zip_with(qv, {arr}, (x, y) -> (x - y) * (x - y)),"
            " 0L, (acc, d) -> acc + d) AS d2",
        )
        .orderBy(F.col("d2").desc(), F.col("vec_id").asc())
        .first()
    )
    assert rows[1].vec_id == far.vec_id and rows[1].radius_q == far.d2


def test_money_alloc_is_exact_for_every_order(spark):
    """The largest-remainder invariant: every order's allocated cents
    sum to its total exactly (all_exact TRUE in every size class),
    and no line receives a negative allocation."""
    from glaciersgee_spark.operators.relational import q_b_money_alloc
    from tests.conftest import SF_SMOKE

    rows = q_b_money_alloc(spark, SF_SMOKE).collect()
    assert rows, "audit table must be non-empty"
    assert all(r.all_exact for r in rows), [
        (r.n_items, r.all_exact) for r in rows
    ]
    assert all(r.bump_cents_sum >= 0 for r in rows)


def test_ohlc_first_last_under_explicit_order(spark):
    """q_b_ohlc_bars' determinism pin: open/close follow the
    (ts, event_id) total order even when ticks share a timestamp."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    ticks = spark.createDataFrame(
        [
            ("s", "2024-01-01 10:00:00", 2, 300.0),
            ("s", "2024-01-01 10:00:00", 1, 100.0),  # same ts: id wins
            ("s", "2024-01-01 10:59:59", 9, 200.0),
            ("s", "2024-01-01 10:30:00", 5, 900.0),
        ],
        "event_type string, ts string, event_id long, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    cents = F.expr("CAST(floor(value * 100.0 + 0.5) AS BIGINT)")
    t = ticks.select(
        "event_type",
        F.date_trunc("hour", "ts").alias("bar_ts"),
        "ts",
        "event_id",
        cents.alias("cents"),
    )
    wo = Window.partitionBy("event_type", "bar_ts").orderBy("ts", "event_id")
    wc = Window.partitionBy("event_type", "bar_ts").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    r = (
        t.select(
            "*",
            F.row_number().over(wo).alias("ro"),
            F.row_number().over(wc).alias("rc"),
        )
        .groupBy("event_type", "bar_ts")
        .agg(
            F.max(F.when(F.col("ro") == 1, F.col("cents"))).alias("o"),
            F.max(F.when(F.col("rc") == 1, F.col("cents"))).alias("c"),
            F.max("cents").alias("h"),
            F.min("cents").alias("l"),
        )
        .first()
    )
    assert (r.o, r.c, r.h, r.l) == (10000, 20000, 90000, 10000)


def test_terrain_aspect_classification_cases(spark):
    """q_a_terrain_slope's atan2-free aspect: cardinal iff one
    |gradient| dominates 2:1, diagonals by sign pair, flat at zero."""
    cases = spark.createDataFrame(
        [
            (0, 0, "flat"),
            (10, 0, "W"),  # downhill toward -x (gradient positive → west-facing)
            (-10, 0, "E"),
            (0, 10, "S"),
            (0, -10, "N"),
            (10, 9, "SW"),
            (10, -9, "NW"),
            (-10, 9, "SE"),
            (-10, -9, "NE"),
            (10, 5, "W"),  # 2:1 dominance → cardinal
            (5, 10, "S"),
        ],
        "dzx2 long, dzy2 long, want string",
    )
    got = cases.selectExpr(
        "want",
        """CASE
             WHEN dzx2 = 0 AND dzy2 = 0 THEN 'flat'
             WHEN ABS(dzx2) >= 2 * ABS(dzy2)
               THEN CASE WHEN dzx2 > 0 THEN 'W' ELSE 'E' END
             WHEN ABS(dzy2) >= 2 * ABS(dzx2)
               THEN CASE WHEN dzy2 > 0 THEN 'S' ELSE 'N' END
             WHEN dzx2 > 0 AND dzy2 > 0 THEN 'SW'
             WHEN dzx2 > 0 THEN 'NW'
             WHEN dzy2 > 0 THEN 'SE'
             ELSE 'NE' END AS got""",
    ).collect()
    for r in got:
        assert r.got == r.want, (r.want, r.got)


def test_vacuum_retention_boundary(spark):
    """q_b_vacuum_plan's cutoff is inclusive keep-last-3: a file whose
    last reference is exactly vmax−2 is LIVE; vmax−3 is deletable."""
    import pyspark.sql.functions as F

    refs = spark.createDataFrame(
        [(1, 100), (2, 98), (3, 97), (4, 96)],
        "file_id long, version long",
    )
    cur = refs.agg(F.max("version").alias("vmax"))
    files = refs.groupBy("file_id").agg(F.max("version").alias("last_ref"))
    out = {
        r.file_id: r.live
        for r in files.join(F.broadcast(cur))
        .select(
            "file_id",
            (F.col("last_ref") >= F.col("vmax") - F.lit(2)).alias("live"),
        )
        .collect()
    }
    assert out == {1: True, 2: True, 3: False, 4: False}


def test_match_recognize_error_exclusion_blocks_the_pattern(spark):
    """Round-10 q_b_match_recognize semantics on a constructed
    sequence: user 1 matches (view→click→purchase, clean); user 2's
    click comes AFTER an error → blocked at stage 2; user 3 clicks
    clean but an error lands between click and purchase → blocked at
    stage 3. The funnel (no exclusion) would count users 2 and 3 as
    conversions — the difference IS the op."""
    import pyspark.sql.functions as F

    from tests.conftest import SF_SMOKE
    from glaciersgee_spark.operators.relational import q_b_match_recognize
    from glaciersgee_spark.tables import load_table

    rows = []
    seq = {
        1: ["view", "click", "purchase"],
        2: ["view", "error", "click", "purchase"],
        3: ["view", "click", "error", "purchase"],
    }
    eid = 0
    for uid, types in seq.items():
        for i, t in enumerate(types):
            rows.append((eid, f"2024-01-01 00:0{i}:00", uid, t, 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    import glaciersgee_spark.tables as T

    real = T.load_table
    try:
        T.load_table = lambda s, d, n: df if n == "events" else real(s, d, n)
        import glaciersgee_spark.operators.relational as R

        realr = R.load_table
        R.load_table = T.load_table
        try:
            out = {
                r.cohort: r
                for r in q_b_match_recognize(spark, SF_SMOKE).collect()
            }
        finally:
            R.load_table = realr
    finally:
        T.load_table = real
    assert out[1].n_matched == 1  # user 1
    assert out[2].n_matched == 0 and out[2].n_error_blocked_click == 1
    assert out[3].n_matched == 0 and out[3].n_error_blocked_click == 0


def test_score_knee_on_a_constructed_lorenz_curve(spark):
    """A corpus of one 1000-char doc and nine 10-char docs has its
    maximum chord gap right after the big doc: cum_mass·n − cum_cnt·
    total = 1000·10 − 1·1090 = 8910 at rank 1, vs 910·10 − k·1090
    declining after — the knee must sit at score 1000, rank 1."""
    import pyspark.sql.functions as F

    import glaciersgee_spark.operators.curation as C
    from tests.conftest import SF_SMOKE
    from glaciersgee_spark.operators.curation import q_e_score_knee

    rows = [(0, "en", "src0", 1000, "x")] + [
        (i, "en", "src0", 10, "x") for i in range(1, 10)
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, lang string, source string, n_chars long,"
        " text string"
    )
    real = C.load_table
    try:
        C.load_table = lambda s, d, n: df if n == "documents" else real(s, d, n)
        out = q_e_score_knee(spark, SF_SMOKE).collect()
    finally:
        C.load_table = real
    assert len(out) == 1
    r = out[0]
    assert r.knee_score == 1000 and r.knee_rank == 1
    assert r.n_docs == 10 and r.total_chars == 1090
    # gap_ppm = 8910 * 1e6 // (1090 * 10)
    assert r.gap_ppm == 8910 * 1000000 // (1090 * 10)


def test_semi_additive_takes_last_not_sum(spark):
    """One account with two in-month orders: the naive sum adds both,
    the semi-additive balance keeps only the later (by date, then
    orderkey)."""
    import glaciersgee_spark.operators.warehouse as W
    from tests.conftest import SF_SMOKE
    from glaciersgee_spark.operators.warehouse import q_b_semi_additive

    rows = [
        (1, 5, "1995-01-03", 10.00, "P1"),
        (2, 5, "1995-01-20", 25.00, "P1"),
    ]
    df = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderdate string,"
        " o_totalprice double, o_orderpriority string",
    ).selectExpr(
        "o_orderkey", "o_custkey",
        "CAST(o_orderdate AS DATE) AS o_orderdate",
        "o_totalprice", "o_orderpriority",
    )
    real = W.load_table
    try:
        W.load_table = lambda s, d, n: df if n == "orders" else real(s, d, n)
        out = q_b_semi_additive(spark, SF_SMOKE).collect()
    finally:
        W.load_table = real
    assert len(out) == 1
    assert out[0].naive_sum_cents == 3500
    assert out[0].eom_balance_cents == 2500


def test_beam_search_stays_inside_graph_reachability(spark):
    """The beam after H hops can only contain the entry node or nodes
    reachable from it within H hops of the edge set — re-derive the
    reachable set by expanding edges H times and assert containment
    (a regression guard on the frontier construction)."""
    import pyspark.sql.functions as F

    from tests.conftest import SF_SMOKE
    from glaciersgee_spark.operators.similarity import (
        _BEAM_ENTRY,
        _BEAM_HOPS,
        q_e_graph_beam_search,
        scoped_persist,  # noqa: F401 — module import side effects
    )
    from glaciersgee_spark.caches import _SCOPED

    out = q_e_graph_beam_search(spark, SF_SMOKE)
    got = {(r.qid, r.vec_id) for r in out.collect()}
    key = next(k for k in _SCOPED if k[2] == "beam_edges")
    edges = {
        (r.vec_id, r.nbr) for r in _SCOPED[key].collect()
    }
    reach = {_BEAM_ENTRY}
    for _ in range(_BEAM_HOPS):
        reach |= {b for (a, b) in edges if a in reach}
    for qid, vid in got:
        assert vid in reach, (qid, vid)


def test_quota_spill_conservation_and_caps(spark):
    """q_e_quota_spill invariants on the real corpus: no source ever
    takes more than it has or more than target+spill capacity allows;
    the total final take never exceeds the budget and undershoots it
    by at most k docs per spill round (the documented floor-division
    residual)."""
    from tests.conftest import SF_SMOKE
    from glaciersgee_spark.operators.curation import q_e_quota_spill

    rows = q_e_quota_spill(spark, SF_SMOKE).collect()
    k = len(rows)
    total_target = sum(r.target for r in rows)
    total_final = sum(r.final_take for r in rows)
    for r in rows:
        assert r.final_take <= r.n_avail
        assert r.take1 == min(r.target, r.n_avail)
        assert r.spill_extra >= 0
    assert total_final <= total_target
    # the spill round recovers everything it can: undershoot is
    # bounded by k floor residuals OR by genuine capacity exhaustion
    cap = sum(r.n_avail for r in rows)
    assert total_final >= min(total_target, cap) - k


def test_group_kfold_is_leakage_free_by_construction(spark):
    """Every source appears in exactly ONE fold (the grouped-split
    contract), and fold sizes sum to the corpus."""
    import pyspark.sql.functions as F

    from tests.conftest import SF_SMOKE
    from glaciersgee_spark.operators.curation import q_e_group_kfold
    from glaciersgee_spark.tables import load_table

    rows = q_e_group_kfold(spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    n = d.count()
    assert sum(r.n_docs for r in rows) == n
    # leakage check straight from the definition: one fold per source
    per_src = (
        d.selectExpr(
            "source",
            "CAST(conv(substring(md5(source), 1, 15), 16, 10) AS BIGINT)"
            " % 5 AS fold",
        )
        .groupBy("source")
        .agg(F.countDistinct("fold").alias("nf"))
        .agg(F.max("nf").alias("mx"))
        .first()
    )
    assert per_src.mx == 1


def test_pop_calendar_misaligns_exactly_on_gap_rows(spark):
    """The aligned flag is False precisely where the previous calendar
    day is missing but an earlier row exists — re-derived from the
    day set itself."""
    from tests.conftest import SF_SMOKE
    from glaciersgee_spark.operators.warehouse import q_b_pop_calendar

    rows = q_b_pop_calendar(spark, SF_SMOKE).collect()
    by_type: dict = {}
    for r in rows:
        by_type.setdefault(r.event_type, []).append(r)
    import datetime

    one = datetime.timedelta(days=1)
    for tp, rs in by_type.items():
        days = {r.day for r in rs}
        for i, r in enumerate(rs):
            has_prev_day = (r.day - one) in days
            has_prev_row = i > 0
            expect_aligned = (not has_prev_row and not has_prev_day) or (
                has_prev_day and has_prev_row
            )
            assert (r.aligned is True) == expect_aligned, (tp, r.day)


def test_dbscan_roles_are_consistent_with_neighbor_counts(spark):
    """Round-11 density triage: core ⇔ n_nbr ≥ minPts; border points
    have ≥1 neighbor (they ε-reach a core); every vector appears
    exactly once; roles partition the corpus."""
    from glaciersgee_spark.operators.similarity import (
        _DBSCAN_MINPTS,
        q_e_dbscan_core,
    )
    from glaciersgee_spark.tables import load_table

    rows = q_e_dbscan_core(spark, SF_SMOKE).collect()
    n = load_table(spark, SF_SMOKE, "embeddings").count()
    assert len(rows) == n
    roles = {"core": 0, "border": 0, "noise": 0}
    for r in rows:
        roles[r.role] += 1
        assert (r.role == "core") == (r.n_nbr >= _DBSCAN_MINPTS)
        if r.role == "border":
            assert 1 <= r.n_nbr < _DBSCAN_MINPTS
    # the chosen (eps, minPts) must yield a non-degenerate triage
    assert roles["core"] > 0 and roles["noise"] > 0


def test_label_prop_census_covers_corpus_and_respects_degree(spark):
    """The transition matrix sums to the corpus; propagated labels
    come from the label alphabet; isolated vectors keep their own
    label (old == new contributions exist on the diagonal)."""
    from glaciersgee_spark.operators.similarity import q_e_label_prop
    from glaciersgee_spark.tables import load_table

    rows = q_e_label_prop(spark, SF_SMOKE).collect()
    e = load_table(spark, SF_SMOKE, "embeddings")
    n = e.count()
    labels = {r.label for r in e.select("label").distinct().collect()}
    assert sum(r.n_vecs for r in rows) == n
    for r in rows:
        assert r.old_label in labels and r.new_label in labels
    assert any(r.old_label == r.new_label for r in rows)


def test_hypsometry_summary_is_internally_consistent(spark):
    """Per glacier: bands bracket the median band, AAR in [0,1], and
    n_points sums to the corpus row count."""
    from glaciersgee_spark.operators.spatial import q_a_hypsometry
    from glaciersgee_spark.tables import load_table

    rows = q_a_hypsometry(spark, SF_SMOKE).collect()
    n = load_table(spark, SF_SMOKE, "events").count()
    assert sum(r.n_points for r in rows) == n
    for r in rows:
        assert r.zmin_band <= r.z_median_band <= r.zmax_band
        assert 0.0 <= r.aar6 <= 1.0
        # synthetic elevations span [3000, 5500)
        assert 3000 <= r.zmin_band and r.zmax_band <= 5400


def test_interval_sweep_peak_is_reproducible_per_day(spark):
    """Brute-force check on one day: the sweep's max equals the max
    over instants of intervals covering that instant (inclusive
    ends), and peak_ts achieves it."""
    from glaciersgee_spark.operators.warehouse import q_b_interval_sweep
    from glaciersgee_spark.tables import load_table

    rows = q_b_interval_sweep(spark, SF_SMOKE).collect()
    assert rows, "no days"
    day = rows[0]
    iv = (
        load_table(spark, SF_SMOKE, "events")
        .selectExpr("user_id", "CAST(ts AS DATE) AS d", "ts")
        .where(F.col("d") == day.day)
        .groupBy("user_id")
        .agg(F.min("ts").alias("a"), F.max("ts").alias("b"))
        .collect()
    )
    assert day.n_intervals == len(iv)

    def conc(t):
        return sum(1 for r in iv if r.a <= t <= r.b)

    instants = sorted({r.a for r in iv} | {r.b for r in iv})
    mx = max(conc(t) for t in instants)
    assert day.max_concurrent == mx
    assert conc(day.peak_ts) == mx
    assert all(conc(t) < mx for t in instants if t < day.peak_ts)


def test_sampling_temperature_flattens_toward_uniform(spark):
    """τ < 1 compresses the mixture: every p column sums to 1, and the
    max/min probability ratio strictly shrinks as τ drops 1 → 0.7 →
    0.3 (the whole point of temperature sampling)."""
    from glaciersgee_spark.operators.text import q_e_sampling_temperature

    rows = q_e_sampling_temperature(spark, SF_SMOKE).collect()
    for col in ("p_raw6", "p_tau3_6", "p_tau7_6"):
        assert abs(sum(getattr(r, col) for r in rows) - 1.0) < 1e-3

    def spread(col):
        vals = [getattr(r, col) for r in rows]
        return max(vals) / min(vals)

    assert spread("p_tau3_6") < spread("p_tau7_6") < spread("p_raw6")
    # up-sampled tail sources repeat; the head dilutes below 1 epoch
    tail = min(rows, key=lambda r: r.tokens)
    head = max(rows, key=lambda r: r.tokens)
    assert tail.epochs_tau7_6 > head.epochs_tau7_6


def test_dawid_skene_decision_table_is_coherent(spark):
    """Patterns partition the corpus; mv_label is the pattern's own
    majority; the DS label agrees with the sign of the DS score; and
    unanimous patterns keep their unanimous answer (smoothed
    confusion can't overturn 3-0 votes here)."""
    from glaciersgee_spark.operators.curation import q_e_dawid_skene
    from glaciersgee_spark.tables import load_table

    rows = q_e_dawid_skene(spark, SF_SMOKE).collect()
    n = load_table(spark, SF_SMOKE, "documents").count()
    assert sum(r.n_docs for r in rows) == n
    for r in rows:
        assert r.mv_label == (1 if r.v1 + r.v2 + r.v3 >= 2 else 0)
        assert r.ds_label == (r.ds_score6 > 0)
        if r.v1 == r.v2 == r.v3:
            assert r.ds_label == (r.v1 == 1)


def test_star_join_broadcasts_both_dims_and_shuffles_once(spark):
    """Round-11 star rollup: both dims arrive as BroadcastHashJoins,
    the fact is never exchange-partitioned before the aggregate, and
    measures reconcile with a direct recomputation."""
    from glaciersgee_spark.operators.relational import q_b_star_join
    from glaciersgee_spark.plans import inspect as PI

    df = q_b_star_join(spark, SF_SMOKE)
    plan = PI.executed(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan
    rows = df.collect()
    assert rows and all(r.n_items > 0 for r in rows)


def test_snowline_interpolation_brackets_the_crossing(spark):
    """Where a crossing band exists, the interpolated snowline lies
    within the crossing band's ±50 m bracket; snow-from-the-bottom
    glaciers report their lowest band center."""
    from glaciersgee_spark.operators.spatial import q_a_snowline_interp

    rows = q_a_snowline_interp(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        if r.cross_band is None:
            assert r.snowline6 is None
        else:
            assert r.cross_band - 50 <= r.snowline6 <= r.cross_band + 50


def test_dedup_ordering_agrees_on_survivor_mass(spark):
    """Both orders remove the same total number of rows up to the
    keys' overlap structure; the cheap-first ordering never feeds
    MORE rows into stage 2 than near-first feeds into its own."""
    from glaciersgee_spark.operators.dedup import q_e_dedup_ordering

    rows = {r.ordering: r for r in q_e_dedup_ordering(spark, SF_SMOKE).collect()}
    assert sorted(rows) == ["exact_first", "near_first"]
    for r in rows.values():
        assert r.stage2_input == r.stage1_removed + r.stage2_input - r.stage1_removed
        assert r.survivors == r.stage2_input - r.stage2_removed
        assert r.survivors > 0
    # exact keys refine near keys here (exact duplicates share the
    # prefix key), so both orders converge on the same survivor count
    assert rows["exact_first"].survivors == rows["near_first"].survivors


def test_multiprobe_candidates_superset_single_probe(spark):
    """The multiprobe top-20 is at least as good as single-probe LSH:
    every single-probe hit score is ≤ the multiprobe hit at the same
    rank, and any via_flip row is absent from the single-probe set."""
    from glaciersgee_spark.operators.similarity import (
        q_e_lsh_multiprobe,
        q_e_sim_topk_lsh,
    )

    mp = q_e_lsh_multiprobe(spark, SF_SMOKE).collect()
    sp = q_e_sim_topk_lsh(spark, SF_SMOKE).collect()
    assert len(mp) >= len(sp) or len(mp) == 20
    sp_ids = {r.vec_id for r in sp}
    for a, b in zip(mp, sp):
        assert a.score >= b.score
    for r in mp:
        if r.via_flip:
            assert r.vec_id not in sp_ids


def test_bloom_fpp_audit_is_exact_and_visible(spark):
    """The simulated filter's occupancy and FP counts reconcile:
    bits_set ≤ min(m, k·n_ins), planned FPP = fill³ at 6 dp, and the
    measured rate is n_fp/n_held; the tight m makes FPs observable."""
    from glaciersgee_spark.operators.dedup import _BF_K, _BF_M, q_e_bloom_fpp

    r = q_e_bloom_fpp(spark, SF_SMOKE).collect()[0]
    assert r.m == _BF_M and r.k == _BF_K
    assert 0 < r.bits_set <= min(_BF_M, _BF_K * r.n_ins)
    fill = r.bits_set / _BF_M
    assert abs(r.planned_fpp6 - round(fill**3, 6)) < 2e-6
    assert r.measured_fpp6 == round(r.n_fp / r.n_held, 6)
    assert 0 <= r.n_fp <= r.n_held


def test_mattr_is_length_invariant_relative_to_ttr(spark):
    """Aggregates cover every lang; MATTR values live in (0, 1]; doc
    counts reconcile (windowed + short ≥ n_docs accounted per lang
    via the two honest columns)."""
    from glaciersgee_spark.operators.text import q_e_mattr
    from glaciersgee_spark.tables import load_table

    rows = q_e_mattr(spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    assert sum(r.n_docs for r in rows) == d.count()
    for r in rows:
        assert 0 <= r.n_windowed <= r.n_docs
        if r.mattr6 is not None:
            assert 0.0 < r.mattr6 <= 1.0
        if r.ttr_short6 is not None:
            assert 0.0 < r.ttr_short6 <= 1.0
        assert (r.n_windowed > 0) == (r.mattr6 is not None)


def test_mattr_window_explode_matches_band_join(spark):
    """The round-11 window-id explode in q_e_mattr must generate the
    EXACT (doc_id, i, d) set the old starts⋈positions band-filter
    join produced — including the n == W single-window edge and
    positions at both document ends."""
    import pyspark.sql.functions as FF
    from pyspark.sql import Window as W

    from glaciersgee_spark.operators.text import _MATTR_W
    from glaciersgee_spark.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents")
    toks = d.select(
        "doc_id",
        FF.posexplode(FF.split(FF.col("text"), " ")).alias("pos0", "tok"),
    ).select("doc_id", (FF.col("pos0") + 1).cast("long").alias("pos"), "tok")
    w = W.partitionBy("doc_id", "tok").orderBy("pos")
    prevs = toks.select(
        "doc_id", "pos", "tok", FF.lag("pos").over(w).alias("prev")
    )
    lens = toks.groupBy("doc_id").agg(FF.max("pos").cast("long").alias("n"))
    first_in_win = FF.sum(
        FF.when(
            FF.col("prev").isNull() | (FF.col("prev") < FF.col("i")), FF.lit(1)
        ).otherwise(FF.lit(0))
    ).cast("long")
    old = (
        toks.join(lens, "doc_id")
        .where(FF.col("pos") <= FF.col("n") - _MATTR_W + 1)
        .select("doc_id", FF.col("pos").alias("i"))
        .join(prevs.select("doc_id", FF.col("pos").alias("p"), "prev"), "doc_id")
        .where(FF.col("p").between(FF.col("i"), FF.col("i") + _MATTR_W - 1))
        .groupBy("doc_id", "i")
        .agg(first_in_win.alias("d"))
    )
    new = (
        prevs.join(FF.broadcast(lens), "doc_id")
        .where(FF.col("n") >= _MATTR_W)
        .select(
            "doc_id",
            "prev",
            FF.explode(
                FF.sequence(
                    FF.greatest(FF.lit(1).cast("long"), FF.col("pos") - _MATTR_W + 1),
                    FF.least(FF.col("pos"), FF.col("n") - _MATTR_W + 1),
                )
            ).alias("i"),
        )
        .groupBy("doc_id", "i")
        .agg(first_in_win.alias("d"))
    )
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    assert new.count() > 0


def test_cell_pair_scores_matches_join_plus_cos6(spark):
    """The round-11 per-cell pair kernel must be bit-identical to the
    cid self-join + per-pair _cos6 spelling it replaced — same pairs,
    same 6-dp scores — including the anchor_mod push-down and the
    unordered (vec_id < nbr) orientation."""
    import pyspark.sql.functions as FF

    from glaciersgee_spark.operators.similarity import (
        _cell_pair_scores,
        _cos6,
        _km_assign,
    )
    from glaciersgee_spark.tables import load_table

    e = load_table(spark, SF_SMOKE, "embeddings")
    asg, _cent = _km_assign(spark, SF_SMOKE)
    members = asg.join(e, "vec_id").select("vec_id", "cid", "embedding")
    x = members.select("vec_id", "cid", FF.col("embedding").alias("xe"))
    y = members.select(
        FF.col("vec_id").alias("nbr"),
        FF.col("cid").alias("ycid"),
        FF.col("embedding").alias("ye"),
    )
    want = (
        x.join(
            y,
            (FF.col("cid") == FF.col("ycid"))
            & (FF.col("vec_id") != FF.col("nbr")),
        )
        .select("vec_id", "cid", "nbr", _cos6("xe", "ye").alias("cs"))
    )
    got = _cell_pair_scores(members)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    got_a = _cell_pair_scores(members, anchor_mod=(7, 0))
    want_a = want.where(FF.col("vec_id") % 7 == 0)
    assert got_a.exceptAll(want_a).count() == 0
    assert want_a.exceptAll(got_a).count() == 0

    got_u = _cell_pair_scores(members, unordered=True)
    want_u = want.where(FF.col("vec_id") < FF.col("nbr"))
    assert got_u.exceptAll(want_u).count() == 0
    assert want_u.exceptAll(got_u).count() == 0


def _emb_batch(vecs) -> "pd.DataFrame":
    """A (vec_id, embedding) pandas batch shaped as mapInPandas hands
    it over: one float32 ndarray per row."""
    import numpy as np
    import pandas as pd

    return pd.DataFrame(
        {
            "vec_id": pd.Series(range(1, len(vecs) + 1), dtype="int64"),
            "embedding": pd.Series(
                [np.asarray(v, dtype=np.float32) for v in vecs], dtype="object"
            ),
        }
    )


def test_kmt_assign_six_dp_tie_goes_to_smaller_cid():
    """Two centroids whose raw cosines differ but round to the same
    6 dp tie; the kernel must assign the smaller cid, as the former
    `cs DESC, cid ASC` window did — even when the larger cid has the
    higher raw cosine and is listed first."""
    import numpy as np

    from glaciersgee_spark.operators.similarity import DIM, _kmt_assign, _kmt_cos6

    v = np.zeros(DIM)
    v[0] = 1.0
    far, near = v.copy(), v.copy()
    far[1], near[1] = 2e-4, 1e-4  # cos ≈ 1 - 2e-8 and 1 - 5e-9
    cs = _kmt_cos6(np.array([v]), np.array([far, near]))
    raw = [float(v @ c / (np.linalg.norm(v) * np.linalg.norm(c))) for c in (far, near)]
    assert raw[0] < raw[1] and cs[0, 0] == cs[0, 1] == 1.0

    out = list(_kmt_assign([(7, list(near)), (3, list(far))])(iter([_emb_batch([v])])))
    assert len(out) == 1 and out[0]["cid"].tolist() == [3]


def test_kmt_assign_empty_batch_keeps_schema():
    """An empty Arrow batch yields one empty frame with the declared
    (cid long, embedding) columns — not a missing or untyped frame."""
    import numpy as np

    from glaciersgee_spark.operators.similarity import (
        _KMT_ASG_SCHEMA,
        _kmt_assign,
    )

    cent = [(1, [1.0] * 64), (2, [0.5] * 64)]
    out = list(_kmt_assign(cent)(iter([_emb_batch([])])))
    assert len(out) == 1 and out[0].empty
    names = [f.split()[0] for f in _KMT_ASG_SCHEMA.split(", ")]
    assert list(out[0].columns) == names == ["cid", "embedding"]
    assert out[0]["cid"].dtype == np.int64


def test_kmt_cos6_matches_cos6_bits():
    """On random float32-sourced vectors and float64 centroids, every
    per-pair cosine the assignment kernel scores has exactly the bits
    the per-pair _cos6 UDF returns for the same pair — and the
    kernel's argmax is the (cs DESC, cid ASC) winner over those bits."""
    import numpy as np
    import pandas as pd

    from glaciersgee_spark.operators.similarity import (
        DIM,
        _cos6,
        _kmt_assign,
        _kmt_cos6,
        _to_mat,
    )

    rng = np.random.default_rng(20)
    vecs = rng.standard_normal((53, DIM)).astype(np.float32)
    cents = rng.standard_normal((6, DIM))
    batch = _emb_batch(vecs)
    got = _kmt_cos6(_to_mat(batch["embedding"]), cents)
    for k, c in enumerate(cents):
        want = _cos6.func(batch["embedding"], pd.Series([c] * len(vecs))).to_numpy()
        assert np.array_equal(got[:, k].view(np.int64), want.view(np.int64)), k

    cids = [11, 4, 9, 2, 30, 5]
    cent = [(cid, list(c)) for cid, c in zip(cids, cents)]
    (out,) = list(_kmt_assign(cent)(iter([batch])))
    best = [
        min(zip(cids, got[i]), key=lambda t: (-t[1], t[0]))[0]
        for i in range(len(vecs))
    ]
    assert out["cid"].tolist() == best


def test_top_cells_agrees_with_kmt_assign(spark):
    """top_cells(n=1), the frame-level cell ranking, picks the same cell
    as Lloyd's closure kernel _kmt_assign for every vector against the
    seed cells — including a constructed exact 6-dp tie, which both
    must give to the smaller cid."""
    import numpy as np

    from glaciersgee_spark.operators.similarity import (
        DIM,
        KM_K,
        _kmt_assign,
        _seed_cells,
        top_cells,
    )
    from glaciersgee_spark.tables import load_table, local_frame

    e = load_table(spark, SF_SMOKE, "embeddings")
    cent = _seed_cells(e, KM_K)
    rows = e.select("vec_id", "embedding")
    got = {r.vec_id: r.cid for r in top_cells(rows, cent, "vec_id", 1).collect()}
    seeds = [(r.cid, [float(x) for x in r.cemb]) for r in cent.collect()]
    batch = rows.toPandas()
    (out,) = list(_kmt_assign(seeds)(iter([batch])))
    want = dict(zip(batch["vec_id"].tolist(), out["cid"].tolist()))
    assert len(want) == e.count() and got == want

    v = np.zeros(DIM)
    v[0] = 1.0
    far, near = v.copy(), v.copy()
    far[1], near[1] = 2e-4, 1e-4  # both cosines round to 1.0 at 6 dp
    tie_rows = local_frame(spark, [(1, list(v))], "vec_id long, embedding array<double>")
    tie_cent = local_frame(
        spark, [(7, list(near)), (3, list(far))], "cid long, cemb array<double>"
    )
    (r,) = top_cells(tie_rows, tie_cent, "vec_id", 1).collect()
    assert (r.cid, r.cs, r.rk) == (3, 1.0, 1)
    (k,) = list(_kmt_assign([(7, list(near)), (3, list(far))])(iter([_emb_batch([v])])))
    assert k["cid"].tolist() == [3]


def test_top_cells_keeps_rank_order(spark):
    """top_cells(n>1) keeps each group's n best cells, numbered 1..n
    in (cs DESC, cid ASC) order — checked against a numpy ranking of
    the _cos6 bits for every panel query against the 16 seed cells."""
    import numpy as np
    import pandas as pd

    from glaciersgee_spark.operators.similarity import (
        IVF_NLIST,
        _cos6,
        _query_rows,
        _seed_cells,
        top_cells,
    )
    from glaciersgee_spark.tables import load_table

    e = load_table(spark, SF_SMOKE, "embeddings")
    cent = _seed_cells(e, IVF_NLIST).collect()
    qrows = _query_rows(e).collect()
    got = top_cells(_query_rows(e), _seed_cells(e, IVF_NLIST), "qid", 4).collect()
    for q in qrows:
        cs = _cos6.func(
            pd.Series([q.embedding] * len(cent)), pd.Series([c.cemb for c in cent])
        ).to_numpy()
        ranked = sorted(zip(cs, [c.cid for c in cent]), key=lambda t: (-t[0], t[1]))
        mine = sorted((r.rk, r.cid, r.cs) for r in got if r.qid == q.qid)
        assert [rk for rk, _, _ in mine] == [1, 2, 3, 4]
        assert [(cid, s) for _, cid, s in mine] == [
            (cid, float(s)) for s, cid in ranked[:4]
        ]
        assert np.all(np.diff([s for _, _, s in mine]) <= 0)


def test_top_vectors_ties_to_smaller_vec_id_and_ranks_nan_first(spark):
    """top_vectors ranks each group by (score DESC, vec_id ASC): an
    exact 6-dp score tie goes to the smaller vec_id and a NaN score
    ranks first, as in the oracles' ORDER BY; k cuts the rank and
    k=None keeps every row with its rank."""
    from glaciersgee_spark.operators.similarity import top_vectors
    from glaciersgee_spark.tables import local_frame

    rows = [
        (1, 8, 0.123456),
        (1, 5, 0.123456),  # exact 6-dp tie with vec_id 8
        (1, 9, float("nan")),
        (1, 2, -0.5),
        (2, 4, 0.9),
    ]
    scored = local_frame(spark, rows, "qid long, vec_id long, score double")
    got = [
        (r.qid, r.rk, r.vec_id)
        for r in top_vectors(scored, "qid", 2).orderBy("qid", "rk").collect()
    ]
    assert got == [(1, 1, 9), (1, 2, 5), (2, 1, 4)]
    every = top_vectors(scored, "qid", None).orderBy("qid", "rk").collect()
    assert [(r.qid, r.rk, r.vec_id) for r in every] == [
        (1, 1, 9),
        (1, 2, 5),
        (1, 3, 8),
        (1, 4, 2),
        (2, 1, 4),
    ]
    named = top_vectors(scored.withColumnRenamed("score", "s"), "qid", 1, "s", "r")
    assert sorted((r.qid, r.r, r.vec_id) for r in named.collect()) == [
        (1, 1, 9),
        (2, 1, 4),
    ]


def test_top_vectors_global_rank_is_take_ordered(spark):
    """With by=() top_vectors is orderBy().limit(k): the plan is a
    TakeOrderedAndProject with no Window and no single-partition
    exchange, and the rows are the k best in (score DESC, vec_id ASC)
    order over the whole sf0.001 embeddings table."""
    from glaciersgee_spark.operators.similarity import top_vectors
    from glaciersgee_spark.tables import load_table

    e = load_table(spark, SF_SMOKE, "embeddings")
    scored = e.select("vec_id", (F.col("vec_id") % 7).cast("double").alias("score"))
    top = top_vectors(scored, (), 5)
    plan = spark._jvm.PythonSQLUtils.explainString(
        top._jdf.queryExecution(), "formatted"
    )
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan and "SinglePartition" not in plan
    ids = sorted(r.vec_id for r in e.select("vec_id").collect())
    want = sorted(ids, key=lambda v: (-(v % 7), v))[:5]
    assert [r.vec_id for r in top.collect()] == want


def test_recall_at_k_counts_hits_and_zero_fills_the_spine(spark):
    """recall_at_k on the sf0.001 panel matches a hand count against
    the exact top-_RECALL_K of _panel_scores, and a spine query with
    no approximate rows reads n_hit 0 and recall6 0.0."""
    from glaciersgee_spark.operators.similarity import (
        _RECALL_K,
        _panel_scores,
        _query_rows,
        recall_at_k,
        top_vectors,
    )
    from glaciersgee_spark.tables import load_table, local_frame

    scores = _panel_scores(spark, SF_SMOKE)
    rows = scores.collect()
    # approximate side: the top-k among even vec_ids only
    approx = top_vectors(scores.where(F.col("vec_id") % 2 == 0), "qid", _RECALL_K)
    panel = _query_rows(load_table(spark, SF_SMOKE, "embeddings")).select("qid")
    spine = panel.unionByName(local_frame(spark, [(-1,)], "qid long"))
    out = recall_at_k(spine, approx, scores).collect()
    got = {r.qid: (r.n_hit, r.recall6) for r in out}

    def top(cands):
        ranked = sorted(cands, key=lambda r: (-r.score, r.vec_id))
        return {r.vec_id for r in ranked[:_RECALL_K]}

    want = {-1: (0, 0.0)}
    for qid in {r.qid for r in rows}:
        mine = [r for r in rows if r.qid == qid]
        n = len(top(mine) & top([r for r in mine if r.vec_id % 2 == 0]))
        want[qid] = (n, round(n / _RECALL_K, 6))
    assert got == want
    assert 0 < sum(n for n, _ in want.values()) < _RECALL_K * (len(want) - 1)


def test_order_ship_arrow_bucket_kernel_edges():
    """The bucketed cogroup kernel preserves the per-key semantics:
    an order with no line items in the bucket emits nothing (inner
    join), items aggregate per order, and day lags floor each side to
    its epoch day BEFORE differencing."""
    import pyarrow as pa

    from glaciersgee_spark.udfs import _order_ship_arrow

    us = 86_400_000_000
    left = pa.table(
        {
            "o_orderkey": pa.array([40, 80], pa.int64()),
            "o_orderdate": pa.array([10 * us, 20 * us]).cast(
                pa.timestamp("us")
            ),
        }
    )
    right = pa.table(
        {
            "l_orderkey": pa.array([40, 40, 40], pa.int64()),
            # lags: 5, 31 (>30 ⇒ late), and a sub-day 0.9-day offset
            # that floors to lag 0 (boundary-crossing rule)
            "l_shipdate": pa.array(
                [15 * us, 41 * us, 10 * us + 9 * us // 10]
            ).cast(pa.timestamp("us")),
        }
    )
    out = _order_ship_arrow(left, right).sort_by("o_orderkey").to_pydict()
    # order 80 has no items ⇒ absent; order 40: 3 items, 1 late, max 31
    assert out["o_orderkey"] == [40]
    assert out["n_items"] == [3]
    assert out["n_late"] == [1]
    assert out["max_lag_days"] == [31]
    # empty side ⇒ typed empty table
    empty = _order_ship_arrow(left.slice(0, 0), right)
    assert empty.num_rows == 0 and empty.column_names == [
        "o_orderkey",
        "n_items",
        "n_late",
        "max_lag_days",
    ]


def test_beam_drift_fused_serve_matches_solo(spark):
    """Round-11 fusion pin: the gen-keyed fused _beam_serve walk that
    q_e_beam_drift rides must reproduce, per generation, EXACTLY the
    rows of the solo serves it replaced (exceptAll empty both ways) —
    the guide-§2.4 shared-pipeline rewrite may change stage count,
    never a row."""
    from glaciersgee_spark.operators.similarity import (
        _beam_serve,
        stage_beam_append,
        stage_beam_graph,
    )

    sa = stage_beam_append(spark, SF_SMOKE)
    sg = stage_beam_graph(spark, SF_SMOKE)
    edges = (
        spark.read.parquet(f"{sa}/edges")
        .select(F.lit("append").alias("gen"), "vec_id", "nbr")
        .unionByName(
            spark.read.parquet(f"{sg}/edges").select(
                F.lit("rebuild").alias("gen"), "vec_id", "nbr"
            )
        )
    )
    fused = _beam_serve(
        spark, SF_SMOKE, edges, gens=["append", "rebuild"]
    )
    for gen, staged in (("append", sa), ("rebuild", sg)):
        solo = _beam_serve(
            spark, SF_SMOKE, spark.read.parquet(f"{staged}/edges")
        )
        part = fused.where(F.col("gen") == gen).drop("gen")
        assert part.exceptAll(solo).count() == 0
        assert solo.exceptAll(part).count() == 0


def test_ivfpq_drift_fused_serve_matches_solo(spark):
    """Round-11 fusion pin (IVFADC twin of the beam pin): the fused
    _ivfpq_serve_fused pipeline must reproduce, per generation,
    EXACTLY the rows of the solo _ivfpq_serve calls it replaced."""
    from glaciersgee_spark.operators.similarity import (
        _ivfpq_serve,
        _ivfpq_serve_fused,
        stage_ivf_index,
        stage_ivfpq_append,
    )

    by_gen = {
        "append": stage_ivfpq_append(spark, SF_SMOKE),
        "rebuild": stage_ivf_index(spark, SF_SMOKE),
    }
    fused = _ivfpq_serve_fused(spark, SF_SMOKE, by_gen)
    for gen, staged in by_gen.items():
        solo = _ivfpq_serve(spark, SF_SMOKE, staged)
        part = fused.where(F.col("gen") == gen).drop("gen")
        assert part.exceptAll(solo).count() == 0
        assert solo.exceptAll(part).count() == 0


def test_beam_serve_explode_hop_matches_union_hop(spark):
    """Round-11 hop-rewrite pin: _beam_serve's left-join + explode
    candidate expansion (one reference to the frontier per hop) must
    reproduce EXACTLY the rows of the historical union spelling
    (frontier referenced twice per hop, whose post-exchange tail
    re-executed per union branch — the measured 2.07 → 1.43 s serve
    win). exceptAll both ways, single-gen AND fused-gen modes."""
    from pyspark.sql import Window

    from glaciersgee_spark.operators.similarity import (
        _BEAM_ENTRY,
        _BEAM_HOPS,
        _BEAM_W,
        _beam_serve,
        _panel_scores_persisted,
        stage_beam_graph,
    )

    def union_serve(edges, gens=None):
        gcols = ["gen"] if gens else []
        qs = _panel_scores_persisted(spark, SF_SMOKE)
        beam = qs.where(F.col("vec_id") == _BEAM_ENTRY).select(
            "qid", "vec_id", F.col("score").alias("s")
        )
        if gens:
            beam = beam.select(
                F.explode(F.array(*[F.lit(g) for g in gens])).alias("gen"),
                "qid",
                "vec_id",
                "s",
            )
        bw = Window.partitionBy(*gcols, "qid").orderBy(
            F.col("s").desc(), F.col("vec_id").asc()
        )
        for _hop in range(_BEAM_HOPS):
            neigh = beam.join(edges, gcols + ["vec_id"]).select(
                *gcols, "qid", F.col("nbr").alias("vec_id")
            )
            cand = (
                beam.select(*gcols, "qid", "vec_id")
                .unionByName(neigh)
                .where(F.col("vec_id") != F.col("qid"))
                .distinct()
            )
            beam = (
                cand.join(qs, ["qid", "vec_id"])
                .select(*gcols, "qid", "vec_id", F.col("score").alias("s"))
                .withColumn("rk", F.row_number().over(bw))
                .where(F.col("rk") <= _BEAM_W)
                .select(*gcols, "qid", "vec_id", "s")
            )
        return (
            beam.withColumn("rk", F.row_number().over(bw))
            .select(*gcols, "qid", "rk", "vec_id", F.col("s").alias("score6"))
            .orderBy(*gcols, "qid", "rk")
        )

    staged = stage_beam_graph(spark, SF_SMOKE)
    edges = spark.read.parquet(f"{staged}/edges")
    new = _beam_serve(spark, SF_SMOKE, edges)
    old = union_serve(edges)
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0

    eg = edges.select(F.lit("g1").alias("gen"), "*").unionByName(
        edges.select(F.lit("g2").alias("gen"), "*")
    )
    newg = _beam_serve(spark, SF_SMOKE, eg, gens=["g1", "g2"])
    oldg = union_serve(eg, gens=["g1", "g2"])
    assert newg.exceptAll(oldg).count() == 0
    assert oldg.exceptAll(newg).count() == 0


def test_shingle_base_bypass_serves_identical_rows(spark):
    """The q_e_minhash_union re_persist=False fetch (round 11) is a
    persist decision, never a plan change: the fresh frame must carry
    the cached path's schema and exact row multiset, and must NOT be
    persist-marked (the bypass exists because materializing the cache
    measured ~0.4 s slower than recomputing for this one consumer).
    With a WARM module cache the CacheManager substitutes the cached
    copy by plan equality — free to ride — so the no-build claim is
    probed on a cold cache."""
    from glaciersgee_spark.caches import clear_caches
    from glaciersgee_spark.operators.dedup import _shingle_base

    clear_caches()
    spark.catalog.clearCache()
    fresh = _shingle_base(spark, SF_SMOKE, re_persist=False)
    # cold cache: the bypass neither builds a cache entry nor
    # persist-marks anything
    assert clear_caches()["entries"] == 0
    assert not fresh.storageLevel.useMemory
    assert not fresh.storageLevel.useDisk
    cached = _shingle_base(spark, SF_SMOKE)
    assert fresh.schema == cached.schema
    assert fresh.exceptAll(cached).count() == 0
    assert cached.exceptAll(fresh).count() == 0


def test_sorted_percentiles_matches_percentile(spark):
    """The round-12 sort-based exact-percentile spelling must be
    BIT-identical to Spark's `percentile(col, array(ps))` aggregate it
    replaced in q_b_quantiles / q_b_kll_quantiles — same interpolation
    (pos = p·(n−1); (hi−pos)·v_lo + (pos−lo)·v_hi), probed on
    adversarial groups: 1-row, 2-row, duplicate-heavy, negative and
    mixed-magnitude doubles, NULL values, equal bracketing values, and
    exact-index fractions (0.0 / 0.5 / 1.0 / thirds) alongside
    interpolating ones."""
    import random

    import pyspark.sql.functions as FF

    from glaciersgee_spark.operators.warehouse import _sorted_percentiles

    random.seed(12)
    rows = []
    for g, n in enumerate([1, 2, 3, 4, 7, 50, 501]):
        vals = [
            random.choice(
                [
                    random.uniform(-1e6, 1e6),
                    round(random.uniform(0.0, 10.0), 1),  # duplicates
                ]
            )
            for _ in range(n)
        ]
        rows += [(g, v) for v in vals]
        rows.append((g, None))  # percentile ignores NULLs
    # equal bracketing values: at p = 0.15 over three 0.1s (pos 0.3)
    # the interpolation sum is an ulp off, so only percentile()'s
    # equal-value short-circuit returns 0.1 itself
    assert 0.7 * 0.1 + 0.3 * 0.1 != 0.1
    rows += [(7, 0.1)] * 3
    df = spark.createDataFrame(rows, "g int, v double")
    ps = [0.0, 0.01, 0.15, 0.25, 1.0 / 3.0, 0.5, 2.0 / 3.0, 0.95, 0.9999, 1.0]
    lits = ", ".join(repr(p) for p in ps)
    ref = {
        r["g"]: list(r["qv"])
        for r in df.groupBy("g")
        .agg(FF.expr(f"percentile(v, array({lits}))").alias("qv"))
        .collect()
    }
    ref_n = {
        r["g"]: r["n"]
        for r in df.groupBy("g").agg(FF.count("v").alias("n")).collect()
    }
    got = _sorted_percentiles(df, ["g"], "v", ps).collect()
    assert len(got) == len(ref)
    for r in got:
        assert [r[f"q{i}"] for i in range(len(ps))] == ref[r["g"]], r["g"]
        assert r["n"] == ref_n[r["g"]]
    # global (gcols=[]) form against the global aggregate
    gref = df.agg(FF.expr(f"percentile(v, array({lits}))").alias("qv")).collect()[
        0
    ]["qv"]
    grow = _sorted_percentiles(df, [], "v", ps).collect()[0]
    assert [grow[f"q{i}"] for i in range(len(ps))] == list(gref)


def test_langid_f1_role_explode_edge_cases(spark):
    """The round-12 confusion-role reshape of q_e_langid_f1 (explode
    each confusion cell into its true-language and predicted-language
    metric roles, one aggregation, no join) must reproduce the old
    two-rollup + left-broadcast-join metrics on the shapes the corpus
    never exercises: a language NEVER predicted (fp row absent → the
    old join read NULL fp, coalesced to 0), a language ONLY predicted
    (absent from the old bytrue side → excluded), and a language with
    ZERO correct predictions (tp 0, not NULL). It calls the same
    _confusion_role_counts helper q_e_langid_f1 runs."""
    from glaciersgee_spark.operators.text import _confusion_role_counts

    rows = [
        ("en", "en"), ("en", "en"), ("en", "de"),   # normal
        ("de", "en"), ("de", "en"),                 # zero correct
        ("fr", "fr"),                               # never a false pred
        ("xx", "zz"),                               # zz only predicted
    ]
    pred = spark.createDataFrame(rows, "lang string, pred_lang string")
    got = {
        r["lang"]: (r["n_docs"], r["tp"], r["fp"])
        for r in _confusion_role_counts(pred).collect()
    }
    # expected, computed first-principles from `rows`
    assert got == {
        "en": (3, 2, 2),   # fp: the two de->en mispredictions
        "de": (2, 0, 1),   # zero correct; fp: en->de
        "fr": (1, 1, 0),   # never falsely predicted -> fp 0
        "xx": (1, 0, 0),   # its one doc went to zz
    }
    assert "zz" not in got  # only-predicted language excluded


def test_staged_catalog_layouts_restage_after_clear_caches(spark):
    """The bucketed pair, the DPP fact layout and the ANALYZEd CBO
    tables are caches.scoped_value memos: a repeat call serves the
    staged layout, clear_caches() drops it, the next call stages a
    fresh one under new names, and each query still matches its
    oracle on the re-staged layout."""
    import glaciersgee_spark
    from glaciersgee_spark.operators.relational import (
        _bucketed_pair,
        _cbo_tables,
        _dpp_fact_path,
    )
    from glaciersgee_spark.registry import ORACLE, QUERIES
    from tests.parity import compare, make_duck

    con = make_duck(SF_SMOKE)
    stagers = {
        "q_b_join_bucketed": _bucketed_pair,
        "q_b_join_dpp": _dpp_fact_path,
        "q_b_join_cbo": _cbo_tables,
    }
    for name, stage in stagers.items():
        before = stage(spark, SF_SMOKE)
        assert stage(spark, SF_SMOKE) == before
        glaciersgee_spark.clear_caches()
        after = stage(spark, SF_SMOKE)
        assert after != before
        assert compare(name, QUERIES[name](spark, SF_SMOKE), ORACLE[name], con) is None
