"""Hybrid retrieval — rank fusion across the lexical (BM25) and dense
(embedding-cosine) scoring paths (SURVEY.md §2 Group E).

The LLM-pipeline shape this models: RAG-style retrieval where a sparse
index and an ANN index each produce a ranked list and the final
ordering is reciprocal-rank fusion, RRF(d) = Σ_lists 1/(k + rank_d),
k = 60 (Cormack et al., SIGIR 2009 — the standard parameter).

Corpus wiring: `documents.doc_id` and `embeddings.vec_id` share the
same id space, so doc 0 plays the query on both sides — its text terms
via the fixed BM25 query-term set, its vector via vec_id 0.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from glaciersgee_spark.operators.similarity import _cos6, _D_NRM, _d_cos6, _D_VEC
from glaciersgee_spark.operators.text import BM25_CTES, q_e_bm25
from glaciersgee_spark.caches import scoped_persist
from glaciersgee_spark.registry import dsum, py_q6, q6, query
from glaciersgee_spark.tables import chunked_prefix, fan_out, load_table, local_frame

RRF_K = 60

def _scored_lists(spark: SparkSession, sf_dir: str):
    """(BM25 per-doc scores, dense-cosine-vs-query-0 scores), each a
    scoped_persist frame: q_e_rrf_fusion consumes EACH list twice (the
    chunked rank's within-pass and totals-pass) and
    q_e_rank_biased_overlap scores the same two lists again — Catalyst
    has no cross-branch subtree reuse, so without the persist the token
    pipeline / cosine scan re-run once per consumer."""
    bm = scoped_persist(
        q_e_bm25(spark, sf_dir).where(F.col("doc_id") != 0),
        spark,
        sf_dir,
        "scored_bm25",
    )
    e = load_table(spark, sf_dir, "embeddings")
    qv = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qemb"))
    cs = scoped_persist(
        e.where(F.col("vec_id") != 0)
        .join(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            _cos6("embedding", "qemb").alias("score"),
        ),
        spark,
        sf_dir,
        "scored_cos",
    )
    return bm, cs



def _ranked(lst: DataFrame, out: str) -> DataFrame:
    """Full-list rank over (score DESC, doc_id ASC) as
    `tables.chunked_prefix`, chunked by the negated score bucket
    -floor(score·1000): ascending with the DESC order, equal scores
    share a bucket, and the totals are bounded by the 6-dp score
    domain, not the corpus."""
    base = lst.withColumn("bch", -F.floor(F.col("score") * 1000.0))
    order = [F.col("score").desc(), F.col("doc_id").asc()]
    return chunked_prefix(base, [], ["bch"], order, {out: None}).select("doc_id", out)



@query(
    "q_e_rrf_fusion",
    oracle=f"""
    WITH {BM25_CTES},
    bm AS (SELECT doc_id, {dsum('c')} AS score
           FROM contrib WHERE doc_id <> 0 GROUP BY doc_id),
    bmr AS (SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rb
            FROM bm),
    v AS (SELECT vec_id, {_D_VEC} AS ve, {_D_NRM} AS nrm FROM embeddings),
    q AS (SELECT ve AS qv, nrm AS qn FROM v WHERE vec_id = 0),
    cs AS (SELECT v.vec_id AS doc_id,
                  {_d_cos6('v.ve', 'q.qv', 'v.nrm', 'q.qn')} AS score
           FROM v, q WHERE v.vec_id <> 0),
    csr AS (SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rc
            FROM cs),
    fused AS (
      SELECT COALESCE(bmr.doc_id, csr.doc_id) AS doc_id,
             round(COALESCE(1.0 / ({RRF_K} + rb), 0.0)
                   + COALESCE(1.0 / ({RRF_K} + rc), 0.0), 6) AS rrf6,
             CAST(rb AS BIGINT) AS bm25_rank,
             CAST(rc AS BIGINT) AS cos_rank
      FROM bmr FULL OUTER JOIN csr ON bmr.doc_id = csr.doc_id
    )
    SELECT doc_id, rrf6, bm25_rank, cos_rank FROM fused
    ORDER BY rrf6 DESC, doc_id ASC
    LIMIT 25
    """,
)
def q_e_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion of the BM25 list and the dense cosine
    list for query doc/vec 0: RRF = 1/(60+r_bm25) + 1/(60+r_cos),
    missing-list membership contributes 0. Top 25, ties broken on
    doc_id.

    Determinism: ranks are integers from (score DESC, doc_id ASC)
    orderings whose scores are already 6-dp-deterministic (dsum'd BM25,
    rounded cosine); 1/(60+r) and the 2-term sum are per-row IEEE with
    identical trees in both engines, re-rounded to 6 dp. Plan shape:
    both corpus-proportional rank windows ride the two-phase chunked
    rank (_ranked — bucket-partitioned row_number + broadcast offsets;
    SinglePartition reserved for the ≤|score-domain|-row totals pass),
    the fuse is a doc_id equi-join, and the final top-25 compiles to
    TakeOrderedAndProject (per-partition heaps, no global sort); at
    100 TB the heavy work stays in the upstream scoring passes (token
    pipeline one side, ANN probe the other)."""
    bm, cs = _scored_lists(spark, sf_dir)
    bmr = _ranked(bm, "rb")
    csr = _ranked(cs, "rc")

    fused = (
        bmr.join(csr, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                F.coalesce(1.0 / (RRF_K + F.col("rb")), F.lit(0.0))
                + F.coalesce(1.0 / (RRF_K + F.col("rc")), F.lit(0.0)),
                6,
            ).alias("rrf6"),
            F.col("rb").alias("bm25_rank"),
            F.col("rc").alias("cos_rank"),
        )
    )
    return fused.orderBy(F.col("rrf6").desc(), F.col("doc_id").asc()).limit(25)


# ---------------------------------------------------------------------------
# q_e_mmr_diversify (round 5)
# ---------------------------------------------------------------------------

MMR_LAMBDA = 0.7
MMR_K = 5
MMR_POOL = 20

def _mmr_oracle() -> str:
    """Unrolled greedy MMR as a CTE chain (k is a fixed literal, so the
    iteration unrolls into k dependent CTE steps — no recursion)."""
    steps = [
        f"""sel1 AS (
      SELECT doc_id, rel6, {q6(f'{MMR_LAMBDA} * rel6')} AS mmr6,
             CAST(1 AS BIGINT) AS rk
      FROM cand ORDER BY mmr6 DESC, doc_id ASC LIMIT 1
    )"""
    ]
    prev_union = "SELECT doc_id FROM sel1"
    for k in range(2, MMR_K + 1):
        steps.append(
            f"""prev{k} AS ({prev_union}),
    pen{k} AS (
      SELECT c.doc_id, c.rel6, MAX(s.s) AS pen
      FROM cand c
      JOIN sims s ON s.ia = c.doc_id
      JOIN prev{k} p ON s.ib = p.doc_id
      WHERE c.doc_id NOT IN (SELECT doc_id FROM prev{k})
      GROUP BY c.doc_id, c.rel6
    ),
    sel{k} AS (
      SELECT doc_id, rel6,
             {q6(f'{MMR_LAMBDA} * rel6 - {round(1 - MMR_LAMBDA, 1)} * pen')}
               AS mmr6,
             CAST({k} AS BIGINT) AS rk
      FROM pen{k} ORDER BY mmr6 DESC, doc_id ASC LIMIT 1
    )"""
        )
        prev_union += f" UNION ALL SELECT doc_id FROM sel{k}"
    allsel = " UNION ALL ".join(f"SELECT * FROM sel{k}" for k in range(1, MMR_K + 1))
    return f"""
    WITH v AS (SELECT vec_id, {_D_VEC} AS ve, {_D_NRM} AS nrm FROM embeddings),
    q AS (SELECT ve AS qv, nrm AS qn FROM v WHERE vec_id = 0),
    rel AS (SELECT v.vec_id AS doc_id,
                   {_d_cos6('v.ve', 'q.qv', 'v.nrm', 'q.qn')} AS rel6
            FROM v, q WHERE v.vec_id <> 0),
    cand AS (SELECT doc_id, rel6 FROM rel
             ORDER BY rel6 DESC, doc_id ASC LIMIT {MMR_POOL}),
    cv AS (SELECT c.doc_id, c.rel6, v.ve, v.nrm
           FROM cand c JOIN v ON c.doc_id = v.vec_id),
    sims AS (SELECT a.doc_id AS ia, b.doc_id AS ib,
                    {_d_cos6('a.ve', 'b.ve', 'a.nrm', 'b.nrm')} AS s
             FROM cv a JOIN cv b ON a.doc_id <> b.doc_id),
    {','.join(steps)}
    SELECT rk, doc_id, rel6, mmr6 FROM ({allsel}) ORDER BY rk
    """


@query("q_e_mmr_diversify", oracle=_mmr_oracle())
def q_e_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998): from the top-20 cosine candidates, greedily select 5
    results maximizing λ·relevance − (1−λ)·max-similarity-to-already-
    selected — the diversification pass a RAG retrieval stack runs so
    the context window isn't 5 near-copies of the same passage.

    Scale split: the RELEVANCE pass is the corpus-sized stage (panel
    broadcast × Arrow cosine scan + distributed TakeOrdered top-20 —
    swap in this module's ANN candidates at 100 TB); the greedy loop
    then runs on a FIXED 20-row panel (20 rel rows + 380 pair sims
    collected — the bounded-codebook idiom of kmeans_iter/ivf_pq, k·n
    driver comparisons, corpus-size-independent). Scores are 6-dp
    floor-quantized in both engines so greedy ties break identically;
    the oracle unrolls the same greedy as 5 dependent CTE steps.
    """
    from pyspark.sql import types as T

    e = load_table(spark, sf_dir, "embeddings")
    qv = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qemb"))
    rel = (
        e.where(F.col("vec_id") != 0)
        .join(F.broadcast(qv))
        .select(F.col("vec_id").alias("doc_id"), _cos6("embedding", "qemb").alias("rel6"))
    )
    cand = rel.orderBy(F.col("rel6").desc(), F.col("doc_id").asc()).limit(MMR_POOL)
    pool = [(r.doc_id, r.rel6) for r in cand.collect()]
    # Pairwise sims probe the embeddings scan by the COLLECTED id list
    # (pushed IN-filter) instead of re-deriving the candidate frame —
    # the corpus-sized cosine scan runs exactly once, in `cand`.
    sub = e.where(F.col("vec_id").isin([d for d, _ in pool])).select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    a, b = sub.alias("a"), sub.alias("b")
    sims = a.join(b, F.col("a.doc_id") != F.col("b.doc_id")).select(
        F.col("a.doc_id").alias("ia"),
        F.col("b.doc_id").alias("ib"),
        _cos6("a.embedding", "b.embedding").alias("s"),
    )
    sim = {(r.ia, r.ib): r.s for r in sims.collect()}

    lam, mu = MMR_LAMBDA, round(1 - MMR_LAMBDA, 1)
    selected: list[tuple[int, int, float, float]] = []  # rk, doc, rel6, mmr6
    chosen: list[int] = []
    for rk in range(1, MMR_K + 1):
        best = None
        for doc, r6 in pool:
            if doc in chosen:
                continue
            pen = max((sim[(doc, j)] for j in chosen), default=0.0)
            m6 = py_q6(lam * r6) if not chosen else py_q6(lam * r6 - mu * pen)
            if best is None or (m6, -doc) > (best[3], -best[1]):
                best = (rk, doc, r6, m6)
        assert best is not None, "candidate pool exhausted before k picks"
        selected.append(best)
        chosen.append(best[1])
    schema = T.StructType(
        [
            T.StructField("rk", T.LongType()),
            T.StructField("doc_id", T.LongType()),
            T.StructField("rel6", T.DoubleType()),
            T.StructField("mmr6", T.DoubleType()),
        ]
    )
    return local_frame(spark, selected, schema).orderBy("rk")


# ---------------------------------------------------------------------------
# q_e_sparse_knn (round 7)
# ---------------------------------------------------------------------------

SPK_DF_LO, SPK_DF_HI, SPK_K = 2, 20, 3


@query(
    "q_e_sparse_knn",
    oracle=f"""
    WITH tg AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, len(string_split(text, ' ')) - 1),
               i -> string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i + 1] || ' ' ||
                    string_split(text, ' ')[i + 2])) AS g
      FROM documents WHERE len(string_split(text, ' ')) >= 3
    ),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nd FROM documents),
    tf AS (SELECT doc_id, g, COUNT(*) AS tf FROM tg GROUP BY doc_id, g),
    df AS (SELECT g, COUNT(*) AS df FROM tf GROUP BY g
           HAVING COUNT(*) BETWEEN {SPK_DF_LO} AND {SPK_DF_HI}),
    w AS (
      SELECT tf.doc_id, tf.g,
             round(tf.tf * round(ln(n.nd / df.df), 6), 6) AS w
      FROM tf JOIN df ON tf.g = df.g CROSS JOIN n
    ),
    nrm AS (
      SELECT doc_id, sqrt({dsum('w * w', scale=12)}) AS nrm
      FROM w GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS da, b.doc_id AS db_, {dsum('a.w * b.w', scale=12)} AS dot
      FROM w a JOIN w b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    ),
    cs AS (
      SELECT da, db_, round(dot / (x.nrm * y.nrm), 6) AS cos6
      FROM dots JOIN nrm x ON da = x.doc_id JOIN nrm y ON db_ = y.doc_id
    ),
    sym AS (
      SELECT da AS doc_id, db_ AS nbr_id, cos6 FROM cs
      UNION ALL
      SELECT db_, da, cos6 FROM cs
    )
    SELECT doc_id, nbr_id, cos6, rk FROM (
      SELECT doc_id, nbr_id, cos6,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY cos6 DESC, nbr_id ASC) AS rk
      FROM sym
    ) WHERE rk <= {SPK_K}
    """,
)
def q_e_sparse_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse lexical kNN (round 7 — the inverted-index dual of the
    dense ANN family: BM25/tf-idf stacks answer "nearest documents"
    through POSTINGS intersections, not vector scans): tf-idf-weighted
    cosine over word-trigram shingle features restricted to
    mid-frequency shingles (df ∈ [{SPK_DF_LO}, {SPK_DF_HI}]), top-{SPK_K}
    neighbors per document.

    Scale discipline — the df cap IS the bound: a shingle with df ≤
    {SPK_DF_HI} contributes ≤ df² candidate pairs, so the postings
    self-join is Σ df² ≤ {SPK_DF_HI}·Σ df rows (the lsh.py oversized-
    bucket filter applied at the feature level; df=1 shingles carry no
    pairs and df > {SPK_DF_HI} shingles are stopword-like noise that
    would quadratically blow the join — both pruned BEFORE the join).
    Per-doc top-k rides a window partitioned by doc_id. Weights/norms/
    dots are 6-dp-rounded with exact-decimal sums — identical bits in
    both engines."""
    d = load_table(spark, sf_dir, "documents")
    tg = fan_out(
        d.select("doc_id", F.split("text", " ").alias("tk")).where(
            F.size("tk") >= 3
        ),
        "doc_id",
    ).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(tk) - 2), "
                "i -> concat(tk[i - 1], ' ', tk[i], ' ', tk[i + 1]))"
            )
        ).alias("g"),
    )
    nd = d.agg(F.count(F.lit(1)).cast("double").alias("nd"))
    tf = tg.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("tf"))
    df = (
        tf.groupBy("g")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df").between(SPK_DF_LO, SPK_DF_HI))
    )
    # The tf-idf weight frame feeds THREE consumers (per-doc norms +
    # both pair-join legs) and Catalyst has no cross-branch subtree
    # reuse — without the persist the corpus token explode + df join
    # would run three times per call.
    w = scoped_persist(
        tf.join(df, "g")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            "g",
            F.round(
                F.col("tf") * F.round(F.log(F.col("nd") / F.col("df")), 6), 6
            ).alias("w"),
        ),
        spark,
        sf_dir,
        "sparse_knn_w",
    )
    nrm = w.groupBy("doc_id").agg(
        F.sqrt(F.expr(dsum("w * w", scale=12))).alias("nrm")
    )
    a = w.select(F.col("doc_id").alias("da"), "g", F.col("w").alias("wa"))
    b = w.select(F.col("doc_id").alias("db_"), F.col("g").alias("gb"), F.col("w").alias("wb"))
    dots = (
        a.join(b, (F.col("g") == F.col("gb")) & (F.col("da") < F.col("db_")))
        .groupBy("da", "db_")
        .agg(F.expr(dsum("wa * wb", scale=12)).alias("dot"))
    )
    nx = nrm.select(F.col("doc_id").alias("da"), F.col("nrm").alias("na"))
    ny = nrm.select(F.col("doc_id").alias("db_"), F.col("nrm").alias("nb"))
    cs = (
        dots.join(nx, "da")
        .join(ny, "db_")
        .select(
            "da", "db_", F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cos6")
        )
    )
    sym = cs.select(
        F.col("da").alias("doc_id"), F.col("db_").alias("nbr_id"), "cos6"
    ).unionAll(
        cs.select(
            F.col("db_").alias("doc_id"), F.col("da").alias("nbr_id"), "cos6"
        )
    )
    wk = Window.partitionBy("doc_id").orderBy(
        F.col("cos6").desc(), F.col("nbr_id").asc()
    )
    return (
        sym.withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") <= SPK_K)
        .select("doc_id", "nbr_id", "cos6", "rk")
    )


# ---------------------------------------------------------------------------
# q_e_rank_biased_overlap (round 7)
# ---------------------------------------------------------------------------

RBO_P = 0.9
RBO_DEPTH = 25

# Literal weight table (1−p)·p^(d−1): Python float repr round-trips the
# exact double, so inlining the SAME literals into the Spark frame and
# the SQL VALUES list removes pow() (libm) from both plans entirely.
_RBO_W = [(d, (1.0 - RBO_P) * RBO_P ** (d - 1)) for d in range(1, RBO_DEPTH + 1)]


@query(
    "q_e_rank_biased_overlap",
    oracle=f"""
    WITH {BM25_CTES},
    bm AS (SELECT doc_id, {dsum('c')} AS score
           FROM contrib WHERE doc_id <> 0 GROUP BY doc_id),
    bmt AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC)
                     AS ra
            FROM (SELECT * FROM bm ORDER BY score DESC, doc_id ASC
                  LIMIT {RBO_DEPTH})),
    v AS (SELECT vec_id, {_D_VEC} AS ve, {_D_NRM} AS nrm FROM embeddings),
    q AS (SELECT ve AS qv, nrm AS qn FROM v WHERE vec_id = 0),
    cs AS (SELECT v.vec_id AS doc_id,
                  {_d_cos6('v.ve', 'q.qv', 'v.nrm', 'q.qn')} AS score
           FROM v, q WHERE v.vec_id <> 0),
    cst AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC)
                     AS rb
            FROM (SELECT * FROM cs ORDER BY score DESC, doc_id ASC
                  LIMIT {RBO_DEPTH})),
    common AS (SELECT bmt.ra, cst.rb
               FROM bmt JOIN cst ON bmt.doc_id = cst.doc_id),
    w AS (SELECT * FROM (VALUES
          {', '.join(f'({d}, {w!r})' for d, w in _RBO_W)}) AS t(d, wt)),
    xd AS (
      SELECT w.d, w.wt,
             (SELECT COUNT(*) FROM common
              WHERE ra <= w.d AND rb <= w.d) AS x
      FROM w
    )
    SELECT CAST({RBO_DEPTH} AS BIGINT) AS depth,
           (SELECT COUNT(*) FROM common) AS n_common,
           floor({dsum('wt * x / d', scale=12)} * 1000000.0 + 0.5) / 1000000.0
             AS rbo6
    FROM xd
    """,
)
def q_e_rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al., TOIS 2010) between the two
    retrieval rankings q_e_rrf_fusion fuses — BM25 top-{RBO_DEPTH} vs
    dense-cosine top-{RBO_DEPTH} for query doc/vec 0:
    RBO@K = Σ_d (1−p)·p^(d−1)·|A_:d ∩ B_:d|/d with p = {RBO_P}. The
    retrieval-stack A/B number: near 1 the dense index is re-ranking
    what lexical already finds (fusion adds little); near 0 the lists
    disagree and fusion genuinely widens coverage.

    Scale: both lists are depth-capped FIRST (TakeOrderedAndProject —
    per-partition heaps, no global sort; this op never needs full-list
    ranks, unlike rrf_fusion which two-phase-chunks them), so
    everything after the cap is ≤{RBO_DEPTH}-row arithmetic: the
    intersection join, the {RBO_DEPTH}-row literal weight table, and
    one exact-decimal fold. pow() never runs in either engine — the
    geometric weights are inlined literals."""
    bm, cs = _scored_lists(spark, sf_dir)
    wb = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    bmt = (
        bm.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(RBO_DEPTH)
        .select("doc_id", F.row_number().over(wb).alias("ra"))
    )
    cst = (
        cs.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(RBO_DEPTH)
        .select("doc_id", F.row_number().over(wb).alias("rb"))
    )
    common = bmt.join(cst, "doc_id").select("ra", "rb")
    wdf = local_frame(bmt.sparkSession, _RBO_W, "d int, wt double")
    xd = (
        F.broadcast(wdf)
        .join(
            common,
            (F.col("ra") <= F.col("d")) & (F.col("rb") <= F.col("d")),
            "left",
        )
        .groupBy("d", "wt")
        .agg(F.count(F.col("ra")).alias("x"))
    )
    ncommon = common.agg(F.count(F.lit(1)).alias("n_common"))
    return (
        xd.agg(
            (
                F.floor(
                    F.expr(dsum("wt * x / d", scale=12)) * 1000000.0 + 0.5
                )
                / 1000000.0
            ).alias("rbo6")
        )
        .crossJoin(F.broadcast(ncommon))
        .select(
            F.lit(RBO_DEPTH).cast("long").alias("depth"),
            "n_common",
            "rbo6",
        )
    )


# ---------------------------------------------------------------------------
# q_e_linear_fusion (round 8)
# ---------------------------------------------------------------------------

LF_ALPHA_PPM = 500_000  # lexical weight alpha = 0.5 in ppm


@query(
    "q_e_linear_fusion",
    oracle=f"""
    WITH {BM25_CTES},
    bm AS (SELECT doc_id, {dsum('c')} AS score
           FROM contrib WHERE doc_id <> 0 GROUP BY doc_id),
    v AS (SELECT vec_id, {_D_VEC} AS ve, {_D_NRM} AS nrm FROM embeddings),
    q AS (SELECT ve AS qv, nrm AS qn FROM v WHERE vec_id = 0),
    cs AS (SELECT v.vec_id AS doc_id,
                  {_d_cos6('v.ve', 'q.qv', 'v.nrm', 'q.qn')} AS score
           FROM v, q WHERE v.vec_id <> 0),
    bmx AS (SELECT MIN(score) AS lo, MAX(score) AS hi FROM bm),
    csx AS (SELECT MIN(score) AS lo, MAX(score) AS hi FROM cs),
    bmn AS (SELECT doc_id,
                   round((bm.score - bmx.lo) / NULLIF(bmx.hi - bmx.lo, 0.0),
                         6) AS nb
            FROM bm CROSS JOIN bmx),
    csn AS (SELECT doc_id,
                   round((cs.score - csx.lo) / NULLIF(csx.hi - csx.lo, 0.0),
                         6) AS nc
            FROM cs CROSS JOIN csx),
    fused AS (
      SELECT COALESCE(bmn.doc_id, csn.doc_id) AS doc_id,
             round({LF_ALPHA_PPM} * 1e-6 * COALESCE(nb, 0.0)
                   + (1000000 - {LF_ALPHA_PPM}) * 1e-6 * COALESCE(nc, 0.0),
                   6) AS fused6,
             nb AS bm25_norm6, nc AS cos_norm6
      FROM bmn FULL OUTER JOIN csn ON bmn.doc_id = csn.doc_id
    )
    SELECT doc_id, fused6, bm25_norm6, cos_norm6 FROM fused
    ORDER BY fused6 DESC, doc_id ASC
    LIMIT 25
    """,
)
def q_e_linear_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max-normalized LINEAR score fusion of the BM25 and dense
    cosine lists (round 8): fused = α·norm(bm25) + (1−α)·norm(cos),
    α = 0.5 — the score-based hybrid-search combiner that reads
    against q_e_rrf_fusion's rank-based one (the two standard
    spellings; linear preserves score MAGNITUDE — a runaway best
    match stays runaway — while RRF only preserves order, and
    production rankers A/B exactly this pair before picking). Missing
    list membership contributes 0 after normalization, the CC-style
    convention.

    Determinism: both input lists are already 6-dp-deterministic
    (dsum'd BM25, rounded cosine); per-list min/max are exact folds;
    each normalization is one IEEE division rounded to 6 dp
    (NULLIF-guarded for a degenerate constant list) and the 2-term
    blend re-rounds. Plan: min/max ride 1-row broadcasts onto the
    scored lists (shared via _scored_lists' persisted cache — running
    rrf + linear + rbo costs ONE scoring pass per list), the fuse is
    a doc_id full-outer equi-join, top-25 is TakeOrderedAndProject.
    No rank window at all — cheaper than RRF by construction."""
    bm, cs = _scored_lists(spark, sf_dir)
    bmx = bm.agg(F.min("score").alias("lo"), F.max("score").alias("hi"))
    csx = cs.agg(F.min("score").alias("lo"), F.max("score").alias("hi"))
    bmn = bm.join(F.broadcast(bmx)).select(
        "doc_id",
        F.round(
            (F.col("score") - F.col("lo"))
            / F.nullif(F.col("hi") - F.col("lo"), F.lit(0.0)),
            6,
        ).alias("nb"),
    )
    csn = cs.join(F.broadcast(csx)).select(
        "doc_id",
        F.round(
            (F.col("score") - F.col("lo"))
            / F.nullif(F.col("hi") - F.col("lo"), F.lit(0.0)),
            6,
        ).alias("nc"),
    )
    alpha = LF_ALPHA_PPM * 1e-6
    fused = bmn.join(csn, "doc_id", "full_outer").select(
        "doc_id",
        F.round(
            F.lit(alpha) * F.coalesce("nb", F.lit(0.0))
            + F.lit(1.0 - alpha) * F.coalesce("nc", F.lit(0.0)),
            6,
        ).alias("fused6"),
        F.col("nb").alias("bm25_norm6"),
        F.col("nc").alias("cos_norm6"),
    )
    return fused.orderBy(F.col("fused6").desc(), F.col("doc_id").asc()).limit(
        25
    )


# ---------------------------------------------------------------------------
# q_e_exposure_share (round 8)
# ---------------------------------------------------------------------------

EXPO_DEPTH = 100  # audit the top-100 of the dense ranking


@query(
    "q_e_exposure_share",
    oracle=f"""
    WITH v AS (SELECT vec_id, {_D_VEC} AS ve, {_D_NRM} AS nrm
               FROM embeddings),
    q AS (SELECT ve AS qv, nrm AS qn FROM v WHERE vec_id = 0),
    cs AS (SELECT v.vec_id AS doc_id,
                  {_d_cos6('v.ve', 'q.qv', 'v.nrm', 'q.qn')} AS score
           FROM v, q WHERE v.vec_id <> 0),
    top AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS r
      FROM cs QUALIFY r <= {EXPO_DEPTH}
    ),
    ex AS (
      SELECT d.source,
             CAST(COUNT(*) AS BIGINT) AS n_in_topk,
             CAST(SUM(1000000 // ({RRF_K} + t.r)) AS BIGINT) AS expo
      FROM top t JOIN documents d ON d.doc_id = t.doc_id
      GROUP BY d.source
    ),
    tot AS (SELECT CAST(SUM(expo) AS BIGINT) AS te FROM ex),
    corp AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents
      GROUP BY source
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents)
    SELECT c.source,
           c.n_docs,
           COALESCE(e.n_in_topk, 0) AS n_in_topk,
           CAST(COALESCE(e.expo, 0) * 1000000 // tot.te AS BIGINT)
             AS exposure_ppm,
           CAST(c.n_docs * 1000000 // nn.n AS BIGINT) AS corpus_ppm
    FROM corp c
    LEFT JOIN ex e ON e.source = c.source
    CROSS JOIN tot CROSS JOIN nn
    ORDER BY c.source
    """,
)
def q_e_exposure_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level EXPOSURE share of the dense top-100 ranking vs
    corpus share (round 8): retrieval-fairness auditing — position
    r earns reciprocal exposure 1/(60+r) (the same RRF_K-damped
    discount family the fusion ops use, chosen over 1/log2(1+r)
    because it needs NO library log at query time), and a source
    whose exposure_ppm far exceeds its corpus_ppm dominates what
    users (or the RAG context window) actually SEE regardless of
    per-query precision. The serving-side complement to the mixture
    ops: q_e_mix_weights balances what models TRAIN on, this audits
    what retrieval SURFACES.

    Determinism: ranks come from the 6-dp cosine (score DESC, doc_id)
    ordering; exposure weights are exact integer 1e6 DIV (60+r);
    shares are integer-ppm. Plan: the top-100 cut compiles to
    TakeOrderedAndProject over the scored list (shared _scored_lists
    cache — per-partition heaps, never a corpus-wide rank window);
    the row_number then runs over the bounded 100-row frame, the doc
    join is broadcast, and the corpus share is one combinable
    rollup. Sources absent from the top-k report honestly as 0."""
    _, cs = _scored_lists(spark, sf_dir)
    # top-100 cut FIRST via TakeOrderedAndProject (per-partition heaps,
    # k-row merge), THEN the rank window over the bounded 100-row frame
    # — never a row_number over the corpus-proportional scored list
    # (the q_e_rrf_fusion round-6 lesson).
    top100 = cs.orderBy(F.col("score").desc(), F.col("doc_id").asc()).limit(
        EXPO_DEPTH
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    top = top100.withColumn("r", F.row_number().over(w)).select("doc_id", "r")
    d = load_table(spark, sf_dir, "documents")
    ex = (
        d.join(F.broadcast(top), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_in_topk"),
            F.sum(F.expr(f"1000000 DIV ({RRF_K} + r)"))
            .cast("long")
            .alias("expo"),
        )
    )
    tot = ex.agg(F.sum("expo").cast("long").alias("te"))
    corp = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    nn = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        corp.join(F.broadcast(ex), "source", "left")
        .join(F.broadcast(tot))
        .join(F.broadcast(nn))
        .select(
            "source",
            "n_docs",
            F.coalesce("n_in_topk", F.lit(0)).cast("long").alias("n_in_topk"),
            F.expr(
                "CAST(COALESCE(expo, 0) * 1000000 DIV te AS BIGINT)"
            ).alias("exposure_ppm"),
            F.expr("CAST(n_docs * 1000000 DIV n AS BIGINT)").alias(
                "corpus_ppm"
            ),
        )
        .orderBy("source")
    )
