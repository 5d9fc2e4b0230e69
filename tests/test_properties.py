"""Algebraic property checks over declared queries (SURVEY.md §5.2):
cheap cross-operator invariants that catch semantic drift without an
oracle."""

import pyspark.sql.functions as F

from glaciersgee_spark.operators.dedup import q_e_dedup_near, q_e_jaccard_verify
from glaciersgee_spark.operators.relational import (
    q_b_join_anti,
    q_b_join_semi,
    q_b_union,
)
from glaciersgee_spark.tables import load_table
from tests.conftest import SF_SMOKE


def test_semi_plus_anti_partition_the_left(spark):
    """For any predicate P: semi(P) ∪ anti(P) == all left keys, disjoint.

    q_b_join_semi filters on urgent orders, q_b_join_anti on high-value
    orders — so recompute both over the SAME predicate here.
    """
    c = load_table(spark, SF_SMOKE, "customer")
    o = load_table(spark, SF_SMOKE, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    )
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi")
    anti = c.join(o, c.c_custkey == o.o_custkey, "left_anti")
    assert semi.count() + anti.count() == c.count()
    assert semi.join(anti, "c_custkey", "inner").count() == 0
    # and the declared queries are themselves consistent with customer
    assert q_b_join_semi(spark, SF_SMOKE).count() <= c.count()
    assert q_b_join_anti(spark, SF_SMOKE).count() <= c.count()


def test_union_all_counts_add(spark):
    o = load_table(spark, SF_SMOKE, "orders")
    a = o.where(F.col("o_totalprice") > 200000.0).count()
    b = o.where(F.col("o_orderpriority") == "1-URGENT").count()
    assert q_b_union(spark, SF_SMOKE).count() == a + b


def test_near_dup_pairs_canonical_and_bounded(spark):
    pairs = q_e_dedup_near(spark, SF_SMOKE).collect()
    for r in pairs:
        assert r.id_a < r.id_b
        assert 0.0 <= r.jaccard <= 1.0


def test_lsh_candidates_superset_of_high_jaccard(spark):
    """Every very-high-Jaccard pair (≥0.9) must be caught by the
    high-recall banding (8 bands × 2 of 16 minhashes: miss probability
    ≤ (1-j²)⁸ ≈ 2e-6 at j=0.9 — treat a miss as failure)."""
    lsh = {(r.id_a, r.id_b) for r in q_e_dedup_near(spark, SF_SMOKE).collect()}
    exact = {
        (r.id_a, r.id_b)
        for r in q_e_jaccard_verify(spark, SF_SMOKE).collect()
        if r.jaccard >= 0.9
    }
    assert exact, "corpus should contain at least one ≥0.9 near-dup pair"
    assert exact <= lsh


def test_distinct_idempotent(spark):
    ev = load_table(spark, SF_SMOKE, "events").select("user_id", "event_type")
    once = ev.distinct()
    assert once.count() == once.distinct().count()


def test_salted_agg_matches_unsalted(spark):
    """Two-phase salted aggregation is algebraically identical to the
    plain groupBy — for every key and any salt count."""
    from glaciersgee_spark.operators.skew import salted_sum_count

    ev = load_table(spark, SF_SMOKE, "events").select("user_id", "value", "event_id")
    plain = {
        r.user_id: (r.s, r.n)
        for r in ev.groupBy("user_id")
        .agg(
            F.sum(F.col("value").cast("decimal(30,6)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    for n_salt in (1, 7, 32):
        salted = {
            r.user_id: (r.s, r.n)
            for r in salted_sum_count(
                ev,
                ["user_id"],
                {
                    "s": F.sum(F.col("value").cast("decimal(30,6)")),
                    "n": F.count(F.lit(1)),
                },
                distinct_col="event_id",
                n_salt=n_salt,
            ).collect()
        }
        assert salted == plain


def test_salted_join_matches_plain_join(spark):
    """Salting the big side + replicating the small side is row-for-row
    the plain equi join."""
    from glaciersgee_spark.operators.skew import salted_join

    ev = load_table(spark, SF_SMOKE, "events").select("user_id", "event_id", "value")
    dim = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id")
        .distinct()
        .withColumn("tag", F.col("user_id") * 10)
    )
    plain = sorted(
        (r.event_id, r.tag) for r in ev.join(dim, "user_id").collect()
    )
    salted = sorted(
        (r.event_id, r.tag)
        for r in salted_join(ev, dim, "user_id", "event_id", n_salt=4).collect()
    )
    assert salted == plain


def test_train_split_partitions_the_corpus(spark):
    """Split buckets are a partition: per-lang counts over the three
    splits sum to the corpus, and the 80/10/10 shares are roughly
    respected (hash uniformity at 500+ docs)."""
    from glaciersgee_spark.operators.text import q_e_train_split

    d = load_table(spark, SF_SMOKE, "documents")
    rows = q_e_train_split(spark, SF_SMOKE).collect()
    assert sum(r.n for r in rows) == d.count()
    by_split = {}
    for r in rows:
        by_split[r.split] = by_split.get(r.split, 0) + r.n
    assert set(by_split) == {"train", "val", "test"}
    total = sum(by_split.values())
    assert 0.70 <= by_split["train"] / total <= 0.90


def test_seq_pack_offsets_are_contiguous(spark):
    """Per language the token stream has no holes: offsets sorted by
    doc_id chain exactly (start_off[i+1] == start_off[i] + n_tokens[i])
    and the final doc ends at the lang's total token count."""
    from collections import defaultdict

    from glaciersgee_spark.operators.text import q_e_seq_pack

    rows = q_e_seq_pack(spark, SF_SMOKE).collect()
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r.lang].append(r)
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r.doc_id)
        off = 0
        for r in rs:
            assert r.start_off == off
            assert r.pack_id == off // 256
            off += r.n_tokens


def test_dedup_near_md5_agrees_with_jaccard_verify(spark):
    """Both near-dup configurations score exact Jaccard over the same
    md5 shingle hashes (independent permutation families → different
    candidate sets); wherever a pair appears in both outputs the
    scores must be identical."""
    from glaciersgee_spark.operators.dedup import q_e_dedup_near_md5

    md5_pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in q_e_dedup_near_md5(spark, SF_SMOKE).collect()
    }
    hr_pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in q_e_dedup_near(spark, SF_SMOKE).collect()
    }
    common = set(md5_pairs) & set(hr_pairs)
    assert common, "banding configurations should agree on at least one pair"
    for k in common:
        assert abs(md5_pairs[k] - hr_pairs[k]) < 1e-12


def test_decontaminate_never_flags_eval_docs(spark):
    """The screen reports training docs only, and every reported count
    is internally consistent (shared shingles >= max single overlap)."""
    from glaciersgee_spark.operators.text import q_e_decontaminate

    d = load_table(spark, SF_SMOKE, "documents")
    eval_ids = {r.doc_id for r in d.where(F.col("source") == "src0").collect()}
    for r in q_e_decontaminate(spark, SF_SMOKE).collect():
        assert r.doc_id not in eval_ids
        assert r.n_shared_shingles >= 3
        assert r.n_shared_shingles >= r.max_overlap
        assert r.n_eval_docs >= 1


def test_dedup_cluster_consistent_with_pairs(spark):
    """Every near-dup pair lands in one cluster; cluster_id is the
    component minimum; sizes count members."""
    from glaciersgee_spark.operators.dedup import (
        q_e_dedup_cluster,
        q_e_dedup_near_md5,
    )

    rows = q_e_dedup_cluster(spark, SF_SMOKE).collect()
    lab = {r.doc_id: r.cluster_id for r in rows}
    sizes = {r.doc_id: r.cluster_size for r in rows}
    pairs = q_e_dedup_near_md5(spark, SF_SMOKE).collect()
    assert pairs, "smoke corpus should contain near-dup pairs"
    for p in pairs:
        assert lab[p.id_a] == lab[p.id_b]
    from collections import Counter

    members = Counter(lab.values())
    for doc, cid in lab.items():
        assert cid <= doc
        assert cid in lab and lab[cid] == cid, "label must be a member id"
        assert sizes[doc] == members[cid]


def test_doc_chunk_covers_every_token_once_per_stride(spark):
    """Chunk offsets tile each doc: first starts at 0, strides are 16,
    last chunk ends exactly at n_tokens."""
    from glaciersgee_spark.operators.text import q_e_doc_chunk

    rows = q_e_doc_chunk(spark, SF_SMOKE).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc, ch in by_doc.items():
        ch.sort(key=lambda r: r.chunk_id)
        assert ch[0].start_tok == 0
        for a, b in zip(ch, ch[1:]):
            assert b.start_tok - a.start_tok == 16
        assert ch[-1].end_tok == ch[0].n_tokens
        assert all(r.chunk_len >= 1 for r in ch)


def test_mix_weights_normalized(spark):
    """Source mixture weights sum to ~1 and quotas never exceed the
    epoch budget."""
    from glaciersgee_spark.operators.text import q_e_mix_weights

    rows = q_e_mix_weights(spark, SF_SMOKE).collect()
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-4
    assert sum(r.epoch_quota for r in rows) <= 1_000_000


def test_quantize_error_bounded_by_half_scale(spark):
    """Round-half-up int8 quantization: reconstruction error of every
    element is ≤ scale/2 (no clamp error: |x| ≤ amax = 127·scale), and
    the max-|x| element always saturates (n_sat ≥ 1)."""
    from glaciersgee_spark.operators.similarity import q_e_embed_quantize

    rows = q_e_embed_quantize(spark, SF_SMOKE).collect()
    assert len(rows) == 500
    for r in rows:
        assert r.max_err6 <= r.scale6 / 2 + 1e-6
        assert 0.0 <= r.mean_err6 <= r.max_err6 + 1e-6
        assert r.n_sat >= 1


def test_ann_recall_panel_bounds(spark):
    """Recall audit: one row per panel query; recall = n_hit/10 in
    [0, 1]; hits can't exceed candidates probed."""
    from glaciersgee_spark.operators.similarity import q_e_ann_recall

    rows = q_e_ann_recall(spark, SF_SMOKE).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r.n_hit <= 10
        assert r.n_hit <= r.n_cand
        assert abs(r.recall6 - r.n_hit / 10.0) < 1e-9


def test_bm25_scores_positive_and_bounded_terms(spark):
    """Every BM25-scored doc matched ≥1 of the 3 query terms, scores
    are positive, and a doc can't match more terms than the query has."""
    from glaciersgee_spark.operators.text import BM25_TERMS, q_e_bm25

    rows = q_e_bm25(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 1 <= r.n_hit <= len(BM25_TERMS)
        assert r.score > 0.0


def test_trend_slope_one_row_per_event_type(spark):
    from glaciersgee_spark.operators.etl import q_a_trend_slope

    rows = q_a_trend_slope(spark, SF_SMOKE).collect()
    assert {r.event_type for r in rows} == {
        "click", "error", "purchase", "signup", "view"
    }
    for r in rows:
        assert r.n_days >= 1 and r.slope6 is not None


def test_minhash_est_err_consistent(spark):
    """est6 is a multiple of 1/8 in [0,1]; abs_err6 recomputes from the
    two reported columns; candidate pairs are canonicalized a<b."""
    from glaciersgee_spark.operators.dedup import q_e_minhash_est_err

    rows = q_e_minhash_est_err(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.id_a < r.id_b
        assert 0.0 <= r.est6 <= 1.0 and round(r.est6 * 8) == r.est6 * 8
        assert 0.0 <= r.exact6 <= 1.0
        assert abs(r.abs_err6 - round(abs(r.est6 - r.exact6), 6)) < 1e-9


def test_bpe_pairs_shape(spark):
    """Top-30 adjacent char pairs: every pair is 2 chars, counts are
    positive and non-increasing in the returned order."""
    from glaciersgee_spark.operators.text import q_e_bpe_pairs

    rows = q_e_bpe_pairs(spark, SF_SMOKE).collect()
    assert len(rows) == 30
    assert all(len(r.pair) == 2 and r.n > 0 for r in rows)
    ns = [r.n for r in rows]
    assert ns == sorted(ns, reverse=True)


def test_stratified_sample_rates_and_determinism(spark):
    """Keep-set is deterministic across invocations and per-lang kept
    fraction lands near its configured rate (md5 buckets ~uniform)."""
    from glaciersgee_spark.operators.text import SAMPLE_RATES, q_e_stratified_sample

    a = {r.doc_id for r in q_e_stratified_sample(spark, SF_SMOKE).collect()}
    b = {r.doc_id for r in q_e_stratified_sample(spark, SF_SMOKE).collect()}
    assert a == b and a
    d = load_table(spark, SF_SMOKE, "documents")
    totals = {r.lang: r.n for r in d.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    kept = {
        r.lang: r.n
        for r in q_e_stratified_sample(spark, SF_SMOKE)
        .groupBy("lang").count().withColumnRenamed("count", "n").collect()
    }
    for lang, rate in SAMPLE_RATES.items():
        frac = kept.get(lang, 0) / totals[lang]
        assert abs(frac - rate / 100) < 0.25, (lang, frac, rate)


def test_dedup_apply_counts_partition_corpus(spark):
    from glaciersgee_spark.operators.dedup import q_e_dedup_apply

    rows = q_e_dedup_apply(spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    assert sum(r.n_kept + r.n_removed for r in rows) == d.count()
    assert all(r.n_kept >= 0 and r.n_removed >= 0 for r in rows)


def test_rrf_fusion_scores_decompose(spark):
    """Each fused score recomputes from its two rank columns; result
    is 25 rows in non-increasing fused order."""
    from glaciersgee_spark.operators.retrieval import RRF_K, q_e_rrf_fusion

    rows = q_e_rrf_fusion(spark, SF_SMOKE).collect()
    assert len(rows) == 25
    vals = [r.rrf6 for r in rows]
    assert vals == sorted(vals, reverse=True)
    for r in rows:
        want = (1.0 / (RRF_K + r.bm25_rank) if r.bm25_rank else 0.0) + (
            1.0 / (RRF_K + r.cos_rank) if r.cos_rank else 0.0
        )
        assert abs(r.rrf6 - round(want, 6)) < 1e-9


def test_ivf_recall_panel_bounds(spark):
    from glaciersgee_spark.operators.similarity import q_e_ivf_recall

    rows = q_e_ivf_recall(spark, SF_SMOKE).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r.n_hit <= 10 and r.n_hit <= r.n_cand
        assert abs(r.recall6 - r.n_hit / 10.0) < 1e-9


def test_embed_centroid_complete_grid(spark):
    """Centroids cover every (label, dim) cell; per-label counts are
    constant across dims and sum to the corpus size."""
    from glaciersgee_spark.operators.similarity import q_e_embed_centroid

    rows = q_e_embed_centroid(spark, SF_SMOKE).collect()
    labels = {r.label for r in rows}
    assert len(rows) == len(labels) * 64
    per_label = {}
    for r in rows:
        per_label.setdefault(r.label, set()).add(r.n)
    assert all(len(ns) == 1 for ns in per_label.values())
    assert sum(ns.pop() for ns in per_label.values()) == 500


def test_registry_contract():
    """Registry invariants the driver relies on: every oracle belongs
    to a declared query, names follow the q_<group>_ scheme, and the
    rows-only set stays the three documented exceptions."""
    import glaciersgee_spark as G

    G.load_all_queries()
    assert set(G.ORACLE) <= set(G.QUERIES)
    import re

    assert all(re.fullmatch(r"q_[a-f]_[a-z0-9_]+", k) for k in G.QUERIES)
    rows_only = set(G.QUERIES) - set(G.ORACLE)
    # Round 2: every query is oracle-backed (the HLL sketch emits its
    # exact companion + tolerance bool; near-dup moved to the md5
    # cross-engine hash family; the multimodal stub codec is md5-slice
    # based and DuckDB-reproducible).
    assert rows_only == set(), rows_only


def test_hard_negatives_within_topk_and_wrong_label(spark):
    from glaciersgee_spark.operators.similarity import q_e_hard_negatives

    rows = q_e_hard_negatives(spark, SF_SMOKE).collect()
    assert rows
    e = {r.vec_id: r.label for r in load_table(spark, SF_SMOKE, "embeddings").collect()}
    for r in rows:
        assert 1 <= r.rk <= 50
        assert r.label == e[r.vec_id] and r.label != e[r.qid]


def test_curation_funnel_monotone(spark):
    """Funnel counts never increase down the stages, and stage 0 is
    the corpus size."""
    from glaciersgee_spark.operators.dedup import q_e_curation_funnel

    rows = sorted(q_e_curation_funnel(spark, SF_SMOKE).collect(),
                  key=lambda r: r.stage_idx)
    assert [r.stage for r in rows] == ["ingested", "quality", "dedup", "sampled"]
    ns = [r.n_docs for r in rows]
    assert ns[0] == load_table(spark, SF_SMOKE, "documents").count()
    assert ns == sorted(ns, reverse=True) and ns[-1] > 0


def test_pq_topk_shape_and_order(spark):
    """PQ ADC top-20: descending adc6 with id tie-break, exact cosine
    carried alongside stays in [-1, 1], query itself excluded."""
    from glaciersgee_spark.operators.similarity import q_e_sim_topk_pq

    rows = q_e_sim_topk_pq(spark, SF_SMOKE).collect()
    assert len(rows) == 20
    pairs = [(-r.adc6, r.vec_id) for r in rows]
    assert pairs == sorted(pairs)
    for r in rows:
        assert r.vec_id != 0
        assert -1.0 <= r.cos6 <= 1.0


def test_pq_recall_panel_bounds(spark):
    from glaciersgee_spark.operators.similarity import q_e_pq_recall

    rows = q_e_pq_recall(spark, SF_SMOKE).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0 <= r.n_hit <= 10
        assert abs(r.recall6 - r.n_hit / 10.0) < 1e-9


def test_minhash_recall_bounds(spark):
    from glaciersgee_spark.operators.dedup import q_e_minhash_recall

    rows = q_e_minhash_recall(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 <= r.n_caught <= r.n_true
        assert abs(r.recall6 - round(r.n_caught / r.n_true, 6)) < 1e-9


def test_scene_streak_within_observed_range(spark):
    """Each tile's longest streak fits inside the events time range and
    its start day actually has an event for that tile."""
    from glaciersgee_spark.operators.etl import q_a_scene_streak

    rows = q_a_scene_streak(spark, SF_SMOKE).collect()
    ev_days = {
        (r.user_id, r.d)
        for r in load_table(spark, SF_SMOKE, "events")
        .select("user_id", F.date_trunc("day", "ts").cast("timestamp_ntz").alias("d"))
        .distinct()
        .collect()
    }
    assert len(rows) == len({u for u, _ in ev_days})
    for r in rows:
        assert 1 <= r.streak_days <= 30
        assert (r.user_id, r.streak_start) in ev_days


def test_revisit_stats_consistent(spark):
    """Per tile: interval count = event count − 1 (dense per-tile
    streams), min ≤ mean ≤ max, all gaps non-negative."""
    from glaciersgee_spark.operators.etl import q_a_revisit_stats

    rows = q_a_revisit_stats(spark, SF_SMOKE).collect()
    ev_counts = {
        r.user_id: r.n
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("user_id").count().withColumnRenamed("count", "n").collect()
    }
    assert len(rows) == len(ev_counts)
    for r in rows:
        assert r.n_intervals == ev_counts[r.user_id] - 1
        assert 0 <= r.min_gap_s <= r.mean_gap_s <= r.max_gap_s


def test_semdedup_is_subset_of_cell_pairs(spark):
    """SemDeDup verdicts must agree with the k-means assignment: every
    (vec, keeper) pair shares a cell under an independent recomputation
    of the assignment."""
    from glaciersgee_spark.operators.similarity import q_e_kmeans_iter, q_e_semdedup

    cells = {
        r.cid: r.n_assigned for r in q_e_kmeans_iter(spark, SF_SMOKE).collect()
    }
    dups = q_e_semdedup(spark, SF_SMOKE).collect()
    for r in dups:
        assert r.cell in cells


def test_ppl_buckets_cover_all_docs(spark):
    """Head/middle/tail per language must partition the corpus: bucket
    counts sum to the doc count and each language has ≤3 buckets."""
    from glaciersgee_spark.operators.curation import q_e_ppl_buckets
    from glaciersgee_spark.tables import load_table

    rows = q_e_ppl_buckets(spark, SF_SMOKE).collect()
    n_docs = load_table(spark, SF_SMOKE, "documents").count()
    assert sum(r.n_docs for r in rows) == n_docs
    per_lang: dict[str, int] = {}
    for r in rows:
        per_lang[r.lang] = per_lang.get(r.lang, 0) + 1
        assert r.lo_logp <= r.hi_logp
    assert all(n <= 3 for n in per_lang.values())


def test_vocab_coverage_rates_bounded(spark):
    """OOV rates are probabilities; high-OOV counts can't exceed doc
    counts."""
    from glaciersgee_spark.operators.curation import q_e_vocab_coverage

    for r in q_e_vocab_coverage(spark, SF_SMOKE).collect():
        assert 0.0 <= r.avg_oov_rate <= 1.0
        assert 0 <= r.n_high_oov <= r.n_docs


def test_corrupt_scan_accounts_for_every_line(spark):
    """good + corrupt must equal total; the corrupt count matches the
    deterministic injection rule."""
    from glaciersgee_spark.operators.relational import q_b_scan_corrupt
    from glaciersgee_spark.tables import load_table

    row = q_b_scan_corrupt(spark, SF_SMOKE).collect()[0]
    assert row.n_good + row.n_corrupt == row.n_lines
    o = load_table(spark, SF_SMOKE, "orders").where(F.col("o_orderkey") % 10 == 1)
    expected_corrupt = o.where(F.col("o_orderkey") % 97 == 0).count()
    assert row.n_corrupt == expected_corrupt


def test_recursive_spine_matches_monthly_distinct(spark):
    """Non-gap spine months must be exactly the distinct order months."""
    from glaciersgee_spark.operators.relational import q_b_recursive_cte
    from glaciersgee_spark.tables import load_table

    rows = q_b_recursive_cte(spark, SF_SMOKE).collect()
    non_gap = {r.month_id for r in rows if not r.is_gap}
    o = load_table(spark, SF_SMOKE, "orders")
    months = {
        r[0]
        for r in o.select(
            (F.year("o_orderdate") * 12 + F.month("o_orderdate")).alias("m")
        )
        .distinct()
        .collect()
    }
    assert non_gap == months


def test_span_dedup_and_novelty_are_dual(spark):
    """A shingle duplicated across docs is exactly a shingle that is
    NOT first-seen in at least one of its docs: per doc at equal K the
    duplicated-coverage and novelty pipelines see consistent corpora.
    Checked at the rollup level: a source with zero duplicated
    shingles must have novelty 1 for every doc that introduces them
    (weaker cross-check — exact duality needs equal K; span uses K=8,
    novelty K=4, so only the boundary case is asserted)."""
    from glaciersgee_spark.operators.drift import q_e_ngram_novelty
    from glaciersgee_spark.operators.spans import q_e_span_dedup

    span = {r.source: r for r in q_e_span_dedup(spark, SF_SMOKE).collect()}
    nov = {r.source: r for r in q_e_ngram_novelty(spark, SF_SMOKE).collect()}
    for src, srow in span.items():
        if srow.dup_shingles == 0 and src in nov:
            # no 8-token span is shared; 4-gram novelty can still dip
            # below 1 but a FULLY recycled doc is impossible
            assert nov[src].n_stale <= nov[src].n_docs


def test_containment_dominates_jaccard(spark):
    """For any pair, max-direction containment >= Jaccard (inter/min
    >= inter/union): every verified J>=0.25 pair must appear in the
    containment output."""
    from glaciersgee_spark.operators.dedup import (
        q_e_containment,
        q_e_jaccard_verify,
    )

    jac = {
        (r.id_a, r.id_b)
        for r in q_e_jaccard_verify(spark, SF_SMOKE).collect()
        if r.jaccard >= 0.25
    }
    cont = {
        (r.id_a, r.id_b) for r in q_e_containment(spark, SF_SMOKE).collect()
    }
    assert jac <= cont


def test_dedup_soft_and_exact_agree_on_groups(spark):
    """Σ effective docs == number of exact-dup canonical docs (both
    derive from the same content key)."""
    from glaciersgee_spark.operators.dedup import q_e_dedup_exact, q_e_dedup_soft

    n_canonical = (
        q_e_dedup_exact(spark, SF_SMOKE).where(F.col("is_canonical")).count()
    )
    eff = sum(r.effective_docs for r in q_e_dedup_soft(spark, SF_SMOKE).collect())
    assert abs(eff - n_canonical) < 0.01 * n_canonical + 1


def test_gram_diag_matches_quantize_scale_order(spark):
    """The Gram diagonal is Σ‖x_i‖² per dim — its trace must equal the
    corpus total squared norm within quantization error."""
    from glaciersgee_spark.operators.linalg import q_e_embed_gram
    from glaciersgee_spark.tables import load_table

    rows = q_e_embed_gram(spark, SF_SMOKE).collect()
    trace = sum(r.gram for r in rows if r.i == r.j)
    e = load_table(spark, SF_SMOKE, "embeddings")
    total = e.select(
        F.sum(
            F.aggregate(
                F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0),
                lambda a, x: a + x,
            )
        ).alias("s")
    ).collect()[0].s
    assert abs(trace - total) < 1e-3 * max(total, 1.0)


def test_incremental_dedup_partitions_the_batch(spark):
    """Every new-batch doc gets exactly one verdict; verdict counts sum
    to the batch size; catalog hits are consistent with the pair set."""
    from glaciersgee_spark.operators.dedup import (
        q_e_dedup_near_md5,
        q_e_incremental_dedup,
    )
    from glaciersgee_spark.tables import load_table

    rows = {r.verdict: r.n_docs for r in q_e_incremental_dedup(spark, SF_SMOKE).collect()}
    d = load_table(spark, SF_SMOKE, "documents")
    n_new = d.where(F.col("doc_id") % 10 >= 7).count()
    assert sum(rows.values()) == n_new
    # any pair that crosses the boundary forces at least one catalog dup
    pairs = q_e_dedup_near_md5(spark, SF_SMOKE).collect()
    crossing = any(
        (p.id_a % 10 >= 7) != (p.id_b % 10 >= 7) for p in pairs
    )
    if crossing:
        assert rows.get("dup_of_catalog", 0) >= 1


def test_jaccard_sweep_is_monotone(spark):
    from glaciersgee_spark.operators.dedup import (
        q_e_jaccard_sweep,
        q_e_jaccard_verify,
    )

    r = q_e_jaccard_sweep(spark, SF_SMOKE).collect()[0]
    assert r.pairs_j30 >= r.pairs_j50 >= r.pairs_j70 >= r.pairs_j90 >= 0
    # cross-check one threshold against the verify pipeline
    n50 = q_e_jaccard_verify(spark, SF_SMOKE).where(F.col("jaccard") >= 0.5).count()
    assert r.pairs_j50 == n50


def test_kmeans_train_round1_equals_iter_and_converges(spark):
    """q_e_kmeans_train's first round IS q_e_kmeans_iter (same seeds,
    same assignment/update spelling), and the per-cell shift trace is
    finite and corpus-conserving: every round's memberships sum to the
    corpus size (Lloyd's never drops a vector) — and so must every
    round of the base-slice training stage_ivf_base_index runs."""
    from glaciersgee_spark.operators.similarity import (
        _APPEND_BASE,
        _kmt_train,
        q_e_kmeans_iter,
        q_e_kmeans_train,
    )
    from glaciersgee_spark.tables import load_table

    rows = q_e_kmeans_train(spark, SF_SMOKE).collect()
    r1 = {
        (r.cid, r.n_assigned, r.shift6, r.centroid_csum)
        for r in rows
        if r.rnd == 1
    }
    it = {
        (r.cid, r.n_assigned, r.shift6, r.centroid_csum)
        for r in q_e_kmeans_iter(spark, SF_SMOKE).collect()
    }
    assert r1 == it and len(r1) > 0
    n_vecs = load_table(spark, SF_SMOKE, "embeddings").count()
    per_round = {}
    for r in rows:
        per_round.setdefault(r.rnd, 0)
        per_round[r.rnd] += r.n_assigned
        assert r.shift6 >= 0.0
    assert set(per_round) == {1, 2, 3}
    assert all(v == n_vecs for v in per_round.values())

    base_stats, _cent = _kmt_train(spark, SF_SMOKE, where=_APPEND_BASE)
    n_base = (
        load_table(spark, SF_SMOKE, "embeddings")
        .where(F.expr(_APPEND_BASE))
        .count()
    )
    base_round: dict[int, int] = {}
    for rnd, _cid, n_assigned, shift6, _csum in base_stats:
        base_round[rnd] = base_round.get(rnd, 0) + n_assigned
        assert shift6 >= 0.0
    assert set(base_round) == {1, 2, 3}
    assert 0 < n_base < n_vecs
    assert all(v == n_base for v in base_round.values())


def test_quality_auc_bounds_and_mass(spark):
    """AUC is a proper probability (ppm in [0, 1e6]), the class
    masses cover the corpus, the threshold count is bounded by the
    6-dp score domain, and the rank-sum matches a brute-force
    tie-aware Mann-Whitney computed independently."""
    from glaciersgee_spark.operators.curation import q_e_quality_auc
    from glaciersgee_spark.operators.curation import (
        _CLS_STOPWORDS,
        _W0,
        _W_LEN,
        _W_DISTINCT,
        _W_STOP,
        _W_TOKLEN,
    )
    from glaciersgee_spark.tables import load_table

    r = q_e_quality_auc(spark, SF_SMOKE).collect()[0]
    n = load_table(spark, SF_SMOKE, "documents").count()
    assert r.n_pos + r.n_neg == n
    assert 0 <= r.auc_ppm <= 1_000_000
    assert 1 <= r.n_thresholds <= 1_000_001

    # brute-force referee on the collected (score, gold) pairs
    import math

    docs = load_table(spark, SF_SMOKE, "documents").collect()
    pairs = []
    for row in docs:
        toks = row.text.split(" ")
        nt = len(toks)
        dr = len(set(toks)) / nt
        sr = sum(1 for t in toks if t in _CLS_STOPWORDS) / nt
        atl = (row.n_chars - (nt - 1)) / nt
        logit = round(
            _W0 + _W_LEN * (nt / 100.0) + _W_DISTINCT * dr
            + _W_STOP * sr + _W_TOKLEN * (atl / 10.0), 6
        )
        score = round(1.0 / (1.0 + math.exp(-logit)), 6)
        gold = int(10 <= nt <= 5000 and 2.5 <= atl <= 10.0 and sr >= 0.02)
        pairs.append((score, gold))
    num2 = 0
    for s_, g in pairs:
        if g:
            num2 += sum(
                2 if s_ > s2 else (1 if s_ == s2 else 0)
                for s2, g2 in pairs
                if not g2
            )
    want = num2 * 1_000_000 // (2 * r.n_pos * r.n_neg)
    assert r.auc_ppm == want


def test_l_diversity_conserves_docs_and_entropy_bound(spark):
    """The l-rollup conserves corpus mass, l=1 classes have zero
    sensitive-value entropy, and every bucket's mean entropy respects
    the H <= ln(l) information bound (entropy-l-diversity's yardstick,
    6-dp slack)."""
    import math

    from glaciersgee_spark.operators.curation import q_e_l_diversity
    from glaciersgee_spark.tables import load_table

    rows = q_e_l_diversity(spark, SF_SMOKE).collect()
    n = load_table(spark, SF_SMOKE, "documents").count()
    assert sum(r.n_docs for r in rows) == n
    for r in rows:
        assert r.l >= 1
        if r.l == 1:
            assert r.avg_entropy6 == 0.0
        assert r.avg_entropy6 <= math.log(r.l) + 1e-5


def test_davies_bouldin_structure(spark):
    """Per-cell worst-neighbor ratios are positive, the index is their
    mean, memberships cover the embedding corpus, and the worst
    neighbor is never the cell itself."""
    from glaciersgee_spark.operators.similarity import q_e_davies_bouldin
    from glaciersgee_spark.tables import load_table

    rows = q_e_davies_bouldin(spark, SF_SMOKE).collect()
    n = load_table(spark, SF_SMOKE, "embeddings").count()
    assert sum(r.n_members for r in rows) == n
    assert all(r.r6 > 0 and r.worst_neighbor != r.cid for r in rows)
    want_db = round(sum(r.r6 for r in rows) / len(rows), 5)
    assert all(abs(r.db6 - want_db) < 1e-4 for r in rows)


def test_heaps_law_fit_is_sane(spark):
    """The cross-document type-token fit: 0 < beta <= 1 (types cannot
    grow faster than tokens), R^2 in [0, 1], and the point count is
    the multi-token document count."""
    from glaciersgee_spark.operators.drift import q_e_heaps_law
    from glaciersgee_spark.tables import load_table

    r = q_e_heaps_law(spark, SF_SMOKE).collect()[0]
    d = load_table(spark, SF_SMOKE, "documents")
    n_multi = d.where(F.size(F.split("text", " ")) >= 2).count()
    assert r.n_points == n_multi
    assert 0.0 < r.beta6 <= 1.0 + 1e-9
    assert 0.0 <= r.r2_6 <= 1.0 + 1e-9


def test_code_switch_rates_bounded_and_conserving(spark):
    """Per-language doc counts cover the corpus, mixed docs never
    exceed doc counts, and the foreign rate is a proper ppm."""
    from glaciersgee_spark.operators.text import q_e_code_switch
    from glaciersgee_spark.tables import load_table

    rows = q_e_code_switch(spark, SF_SMOKE).collect()
    n = load_table(spark, SF_SMOKE, "documents").count()
    assert sum(r.n_docs for r in rows) == n
    for r in rows:
        assert 0 <= r.docs_mixed <= r.n_docs
        assert 0 <= r.foreign_tok_ppm <= 1_000_000


def test_sparse_knn_topk_contract(spark):
    """Per-doc neighbor lists: <= K rows per doc, ranks contiguous
    from 1, scores non-increasing within a doc, no self-neighbors,
    and the relation is symmetric in SCORE (cos(a,b) appears
    identically from both endpoints when both list each other)."""
    from glaciersgee_spark.operators.retrieval import SPK_K, q_e_sparse_knn

    rows = q_e_sparse_knn(spark, SF_SMOKE).collect()
    assert len(rows) > 0
    per = {}
    for r in rows:
        assert r.doc_id != r.nbr_id
        per.setdefault(r.doc_id, []).append((r.rk, r.cos6, r.nbr_id))
    score = {}
    for doc, lst in per.items():
        lst.sort()
        assert [x[0] for x in lst] == list(range(1, len(lst) + 1))
        assert len(lst) <= SPK_K
        cs = [x[1] for x in lst]
        assert cs == sorted(cs, reverse=True)
        for _, c, nbr in lst:
            key = (min(doc, nbr), max(doc, nbr))
            assert score.setdefault(key, c) == c


def test_collation_merges_case_variants(spark):
    """Case-insensitive grouping must merge both case forms of every
    source (the mangle puts ~1/3 of docs in uppercase) and conserve
    the corpus."""
    from glaciersgee_spark.functions.scalar import q_c_collation
    from glaciersgee_spark.tables import load_table

    rows = q_c_collation(spark, SF_SMOKE).collect()
    d = load_table(spark, SF_SMOKE, "documents")
    assert sum(r.n_docs for r in rows) == d.count()
    assert len(rows) == d.select("source").distinct().count()
    assert all(r.n_case_variants == 2 for r in rows)
    assert all(r.source_ci == r.source_ci.lower() for r in rows)


def test_wilson_ci_brackets_rate(spark):
    """Interval sanity: lo <= rate <= hi, proper probabilities, pass
    counts bounded by doc counts, and the SLA flag equals hi < SLA."""
    from glaciersgee_spark.operators.curation import _QC_SLA, q_e_wilson_ci

    rows = q_e_wilson_ci(spark, SF_SMOKE).collect()
    assert len(rows) > 0
    for r in rows:
        assert 0 <= r.n_pass <= r.n_docs
        assert 0.0 <= r.lo6 <= r.rate6 <= r.hi6 <= 1.0 + 1e-9
        assert r.sig_below_sla == (r.hi6 < _QC_SLA)


def test_chi2_terms_topk_contract(spark):
    """Every language gets exactly top-3 non-negative chi-squared
    terms with contiguous ranks and non-increasing scores."""
    from glaciersgee_spark.operators.text import _CHI2_TOPK, q_e_chi2_terms
    from glaciersgee_spark.tables import load_table

    rows = q_e_chi2_terms(spark, SF_SMOKE).collect()
    langs = {
        r.lang
        for r in load_table(spark, SF_SMOKE, "documents")
        .select("lang")
        .distinct()
        .collect()
    }
    per = {}
    for r in rows:
        assert r.chi2_6 >= 0.0
        per.setdefault(r.lang, []).append((r.rk, r.chi2_6))
    assert set(per) == langs
    for lst in per.values():
        lst.sort()
        assert [x[0] for x in lst] == list(range(1, _CHI2_TOPK + 1))
        cs = [x[1] for x in lst]
        assert cs == sorted(cs, reverse=True)


def test_pq_distortion_nonnegative_and_conserving(spark):
    """Per-label distortions are non-negative and label memberships
    cover the non-query corpus."""
    from glaciersgee_spark.operators.similarity import q_e_pq_distortion
    from glaciersgee_spark.tables import load_table

    rows = q_e_pq_distortion(spark, SF_SMOKE).collect()
    n = load_table(spark, SF_SMOKE, "embeddings").where("vec_id <> 0").count()
    assert sum(r.n_vecs for r in rows) == n
    assert all(r.avg_distortion6 >= 0.0 for r in rows)


def test_spectral_mass_bounds(spark):
    """trace = Σλ and Rayleigh lower-bounds λ1 ⇒ 1/DIM-ish floor and
    share in (0, 1]; Rayleigh never exceeds trace."""
    from glaciersgee_spark.operators.similarity import q_e_anisotropy  # noqa: F401
    from glaciersgee_spark.operators.linalg import q_e_spectral_mass

    r = q_e_spectral_mass(spark, SF_SMOKE).collect()[0]
    assert r.trace6 > 0
    assert 0 < r.rayleigh1_6 <= r.trace6 + 1e-6
    assert 0 < r.top_share6 <= 1.0 + 1e-9


def test_rank_biased_overlap_referee(spark):
    """RBO referee: recompute from the two top-25 lists collected
    independently; also bounds (0 <= rbo <= 1, n_common <= depth)."""
    from glaciersgee_spark.operators.retrieval import (
        RBO_DEPTH,
        _RBO_W,
        q_e_rank_biased_overlap,
    )
    from glaciersgee_spark.operators.similarity import _cos6, q_e_sim_topk  # noqa: F401
    from glaciersgee_spark.operators.text import q_e_bm25
    from glaciersgee_spark.tables import load_table
    import math

    import pyspark.sql.functions as FF

    r = q_e_rank_biased_overlap(spark, SF_SMOKE).collect()[0]
    assert r.depth == RBO_DEPTH
    assert 0 <= r.n_common <= RBO_DEPTH
    assert 0.0 <= r.rbo6 <= 1.0 + 1e-9

    bm = (
        q_e_bm25(spark, SF_SMOKE)
        .where("doc_id <> 0")
        .orderBy(FF.col("score").desc(), FF.col("doc_id").asc())
        .limit(RBO_DEPTH)
        .collect()
    )
    a = [row.doc_id for row in bm]
    e = load_table(spark, SF_SMOKE, "embeddings")
    qv = e.where("vec_id = 0").select(FF.col("embedding").alias("qemb"))
    cs = (
        e.where("vec_id <> 0")
        .join(FF.broadcast(qv))
        .select(FF.col("vec_id").alias("doc_id"), _cos6("embedding", "qemb").alias("s"))
        .orderBy(FF.col("s").desc(), FF.col("doc_id").asc())
        .limit(RBO_DEPTH)
        .collect()
    )
    b = [row.doc_id for row in cs]
    want = 0.0
    for d, w in _RBO_W:
        x = len(set(a[:d]) & set(b[:d]))
        want += w * x / d
    assert abs(r.rbo6 - math.floor(want * 1e6 + 0.5) / 1e6) < 2e-6


def test_udtf_analyze_schema_follows_width_argument(spark):
    """The polymorphic UDTF's analyze() must derive the output schema
    from the literal width argument: width 3 in the declared op (3
    digit columns), and a width-2 invocation of the same UDTF yields
    a 2-digit schema — the polymorphism a static returnType cannot
    express."""
    from glaciersgee_spark.udfs import q_f_udtf_analyze

    df = q_f_udtf_analyze(spark, SF_SMOKE)
    assert df.columns == ["o_orderkey", "d_1", "d_2", "d_3"]
    rows = df.collect()
    assert len(rows) > 0
    for r in rows:
        assert (
            r.d_1 == r.o_orderkey % 97
            and r.d_2 == (r.o_orderkey // 97) % 97
            and r.d_3 == (r.o_orderkey // 97 // 97) % 97
        )
    two = spark.sql(
        "SELECT * FROM ggee_udtfa_in v, LATERAL ggee_digits97(v.o_orderkey, 2) f"
    )
    assert two.columns[-2:] == ["d_1", "d_2"] and "d_3" not in two.columns


def test_sql_variables_threshold_is_real_percentile(spark):
    """The bound variable must equal the exact 90th percentile, the
    result must echo it, and the filtered mass must be ~10% of
    orders."""
    from glaciersgee_spark.operators.relational import q_b_sql_variables
    from glaciersgee_spark.tables import load_table

    rows = q_b_sql_variables(spark, SF_SMOKE).collect()
    o = load_table(spark, SF_SMOKE, "orders")
    thr = o.selectExpr("percentile(o_totalprice, 0.9) AS t").collect()[0].t
    assert all(abs(r.thr6 - round(thr, 6)) < 1e-9 for r in rows)
    n_big = sum(r.n_big for r in rows)
    n = o.count()
    assert 0 < n_big <= n * 0.11


def test_metadata_cols_reconcile_with_data_partitioning(spark):
    """File-derived counts must equal data-derived counts per chunk
    (lineage reconciliation), cover all 4 staged files, and sum to the
    corpus."""
    from glaciersgee_spark.operators.relational import q_b_metadata_cols
    from glaciersgee_spark.tables import load_table

    rows = q_b_metadata_cols(spark, SF_SMOKE).collect()
    assert [r.chunk for r in rows] == [0, 1, 2, 3]
    n = load_table(spark, SF_SMOKE, "events").count()
    assert sum(r.n_rows for r in rows) == n


def test_int8_recall_panel_and_bounds(spark):
    """Every panel query reports, recall is a proper fraction of K,
    and int8 retrieval at 64 dims should be near-exact (codes carry
    ~7 bits/dim) — require recall >= 0.5 on every query so a broken
    quantizer cannot hide behind 'approximate'."""
    from glaciersgee_spark.operators.similarity import (
        _RECALL_K,
        _RECALL_QIDS,
        q_e_int8_recall,
    )

    rows = q_e_int8_recall(spark, SF_SMOKE).collect()
    assert sorted(r.qid for r in rows) == sorted(_RECALL_QIDS)
    for r in rows:
        assert 0 <= r.n_hit <= _RECALL_K
        assert abs(r.recall6 - r.n_hit / _RECALL_K) < 1e-9
        assert r.recall6 >= 0.5


def test_ivf_trained_panel_and_scan_fraction(spark):
    """Trained-IVF recall audit: full query panel reports, recall is a
    proper fraction, and the candidate sets are genuine subsets (the
    probe scans nprobe/K of the corpus, never all of it)."""
    from glaciersgee_spark.operators.similarity import (
        _RECALL_K,
        _RECALL_QIDS,
        q_e_ivf_trained,
    )
    from glaciersgee_spark.tables import load_table

    rows = q_e_ivf_trained(spark, SF_SMOKE).collect()
    assert sorted(r.qid for r in rows) == sorted(_RECALL_QIDS)
    n = load_table(spark, SF_SMOKE, "embeddings").count()
    for r in rows:
        assert 0 <= r.n_hit <= _RECALL_K
        assert abs(r.recall6 - r.n_hit / _RECALL_K) < 1e-9
        assert 0 < r.n_cand < n


def test_jsd_matrix_is_metric_like(spark):
    """Pairwise source JSD: full upper triangle, values in [0, ln 2],
    and consistent with the per-source drift scalar's distribution
    family (JSD of a source with itself would be 0 — no self-pairs
    emitted)."""
    import math

    from glaciersgee_spark.operators.drift import q_e_jsd_matrix
    from glaciersgee_spark.tables import load_table

    rows = q_e_jsd_matrix(spark, SF_SMOKE).collect()
    n_src = (
        load_table(spark, SF_SMOKE, "documents")
        .select("source")
        .distinct()
        .count()
    )
    assert len(rows) == n_src * (n_src - 1) // 2
    for r in rows:
        assert r.src_a < r.src_b
        assert -1e-6 <= r.jsd6 <= math.log(2) + 1e-6
