"""Group E — similarity search over embedding columns.

Brute-force cosine top-k as the baseline; a deterministic
sign-random-projection (SRP/SimHash) LSH bucketing as the scale path
(SURVEY.md §2 Group E).

Execution strategy: dense fixed-width vector math is the one place the
built-in expression layer is the wrong tool — higher-order functions
(`transform`/`zip_with`/`aggregate`) are interpreted per element, so a
64-plane × 64-dim SRP signature costs ~4k interpreted ops per row.
Instead the kernels below are vectorized Arrow pandas UDFs: one numpy
matmul per Arrow batch (10-100× the HOF throughput, per the standard
Pandas-UDF guidance). That is also the 100 TB story: each executor
core streams Arrow batches through BLAS, no shuffle added.

Oracle-parity contract (SURVEY.md §7.3.2): numpy accumulates dot
products in a different order than DuckDB's sequential `list_sum`
fold, so raw float64 scores differ in the last ulp. Both engines
therefore round cosine scores to 6 dp before hashing/filtering; a
disagreement now needs a true score within ~1e-15 of a rounding
boundary. Bucket signs are even safer: a sign flip needs |dot| below
accumulation error (~1e-13) — never at float32-sourced magnitudes.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql.types import ArrayType, DoubleType, LongType

from glaciersgee_spark import tmpdirs
from glaciersgee_spark.caches import scoped_persist, scoped_value
from glaciersgee_spark.operators.lsh import cobucket_pairs
from glaciersgee_spark.registry import davg, dsum, query
from glaciersgee_spark.tables import fan_out, load_table, local_frame

# Deterministic ±1 hyperplanes from a fixed seed, baked as literals —
# no rand() — so Spark and the SQL oracle build identical buckets
# (SURVEY.md §7.3.4). 8 bands × 8 planes (OR-construction over 8-bit
# sign buckets): a random unrelated pair collides in a band with
# p ≈ 2⁻⁸, so candidates stay near-linear while close pairs (cos ≥
# ~0.8, the dedup/similarity regime) collide with high probability.
N_BANDS = 8
PLANES_PER_BAND = 8
N_PLANES = N_BANDS * PLANES_PER_BAND
DIM = 64

_PLANES = np.random.RandomState(42).choice([-1.0, 1.0], size=N_PLANES * DIM)
_P_MAT = _PLANES.reshape(N_PLANES, DIM)  # row j = hyperplane j
_POW2 = (2 ** np.arange(PLANES_PER_BAND)).astype(np.int64)
_PF_DUCK = "[" + ",".join(f"{w:.0f}.0" for w in _PLANES) + "]"

# The fixed query panel of every recall audit, and its cut-off.
_RECALL_QIDS = (0, 11, 22, 33, 44)
_RECALL_K = 10


def _to_mat(s: pd.Series) -> np.ndarray:
    """Arrow list column → (n, DIM) float64 matrix (exact f32→f64)."""
    if len(s) == 0:
        return np.empty((0, DIM), dtype=np.float64)
    return np.array(s.tolist(), dtype=np.float64)


@F.pandas_udf(ArrayType(LongType()))
def _srp_buckets(emb: pd.Series) -> pd.Series:
    """SRP signature: 8 bands × 8 sign bits → one bucket id per band.

    bucket[b] = Σ_k [v·plane(b*8+k) > 0] · 2^k, matching the oracle's
    HOF spelling bit-for-bit in the sign domain (see module docstring).
    """
    v = _to_mat(emb)
    signs = (v @ _P_MAT.T) > 0.0  # (n, N_PLANES)
    buckets = signs.reshape(-1, N_BANDS, PLANES_PER_BAND).astype(np.int64) @ _POW2
    return pd.Series(buckets.tolist())


@F.pandas_udf(DoubleType())
def _cos6(a: pd.Series, b: pd.Series) -> pd.Series:
    """Cosine similarity rounded to 6 dp (the cross-engine contract).

    Round-11 optimization note: a pure-JVM codegen spelling of this
    (64-term getItem expression tree) was tried and MEASURED SLOWER on
    the Σ|cell|² pair frames (graph_beam_search 3.7→16.5 s solo —
    the ~400-node tree falls out of codegen into interpreted eval per
    pair), so the vectorized Arrow kernel stays. The pair-heavy call
    sites instead route through _cell_pair_scores below, which never
    materializes pairs across the boundary at all."""
    return pd.Series(_cos6_rows(_to_mat(a), _to_mat(b)))


def _cos6_rows(av: np.ndarray, bv: np.ndarray) -> np.ndarray:
    """_cos6's arithmetic on two (n, DIM) f64 matrices, row against row."""
    dots = np.einsum("ij,ij->i", av, bv)
    na = np.sqrt(np.einsum("ij,ij->i", av, av))
    nb = np.sqrt(np.einsum("ij,ij->i", bv, bv))
    return np.round(dots / (na * nb), 6)


# The module's vector kernels, one definition per formula. Cosine has
# two named spellings on purpose: _cos6_rows (row-wise einsum, the
# per-pair _cos6 UDF's bits) and cos6_panel (one BLAS matmul against a
# small query panel). Their sums may differ in the last bit before the
# 6-dp rounding, so each consumer keeps the spelling its oracle parity
# was proven with; they are never merged.


def cos6_panel(v: np.ndarray, qmat: np.ndarray) -> np.ndarray:
    """(n, q) 6-dp cosines of n rows against a q-row panel as one
    (n, DIM) @ (DIM, q) matmul."""
    nv = np.sqrt(np.einsum("ij,ij->i", v, v))
    nq = np.sqrt(np.einsum("ij,ij->i", qmat, qmat))
    return np.round((v @ qmat.T) / (nv[:, None] * nq[None, :]), 6)


def pq_dist6(v: np.ndarray, c_r: np.ndarray) -> np.ndarray:
    """(n, K, M) 6-dp squared sub-distances of (n, M, SUB) subspace-split
    vectors against a (K, M, SUB) sub-codebook: argmin over axis 1 is
    the PQ code (first minimum = smaller codebook id, the oracle's
    (d6, cid) rank), min the distortion."""
    return np.round(((v[:, None] - c_r[None]) ** 2).sum(-1), 6)


def adc6(codes: np.ndarray, lut: np.ndarray, acc0=0.0) -> np.ndarray:
    """6-dp ADC score of (n, M) codes against a (K, M) LUT: acc0 plus
    the M gathers lut[code_s, s], added in fixed subspace order — the
    oracle's left-associated sum."""
    acc = acc0
    for s in range(codes.shape[1]):
        acc = acc + lut[codes[:, s], s]
    return np.round(acc, 6)


def _query_panel(e: DataFrame) -> list:
    """The fixed _RECALL_QIDS query rows (vec_id, embedding) in vec_id
    order — a bounded 5-row collect at plan build."""
    return sorted(
        e.where(F.col("vec_id").isin(list(_RECALL_QIDS)))
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )


def _query_rows(e: DataFrame) -> DataFrame:
    """(qid, embedding): the _RECALL_QIDS query rows as a frame — the
    ``rows`` side of a panel probe through top_cells."""
    return e.where(F.col("vec_id").isin(list(_RECALL_QIDS))).select(
        F.col("vec_id").alias("qid"), "embedding"
    )


def panel_rows(
    frame: DataFrame, qrows: list, kernel_col, name: str = "score"
) -> DataFrame:
    """(qid, vec_id, <name>): explode a panel kernel's array column
    (one value per query row, in qrows order) over a vec_id frame, map
    each position to its query id, and drop the self-pairs."""
    qid_lits = F.array(*[F.lit(int(r.vec_id)).cast("long") for r in qrows])
    return (
        frame.select("vec_id", F.posexplode(kernel_col).alias("qidx", name))
        .select(F.element_at(qid_lits, F.col("qidx") + 1).alias("qid"), "vec_id", name)
        .where(F.col("vec_id") != F.col("qid"))
    )


def _seed_cells(e: DataFrame, k: int) -> DataFrame:
    """(cid, cemb): the deterministic seed centroids, vec_id 1..k."""
    return e.where(F.col("vec_id").between(1, k)).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cemb")
    )


def top_cells(rows: DataFrame, cent: DataFrame, by, n: int) -> DataFrame:
    """(*by, cid, cs, rk): the n nearest cells of each ``by`` group.
    Every (…, embedding) row is scored against every broadcast (cid,
    cemb) centroid with _cos6 and ranked by row_number over ``by``
    ordered ``cs DESC, cid ASC`` — ties go to the smaller cid and NaN
    ranks first, as in every oracle's cell CTE. n=1 with by=vec_id is
    a vector's cell; n=nprobe with by=qid a query's probe list. With
    ``by=()`` the ranking is global and is spelled orderBy().limit(n)
    (a TakeOrderedAndProject, never a one-partition window), so its
    rows carry no rk."""
    by = [by] if isinstance(by, str) else list(by)
    scored = rows.join(F.broadcast(cent)).select(
        *by, "cid", _cos6("embedding", "cemb").alias("cs")
    )
    order = (F.col("cs").desc(), F.col("cid").asc())
    if not by:
        return scored.orderBy(*order).limit(n)
    rk = F.row_number().over(Window.partitionBy(*by).orderBy(*order))
    # n=1 filters on equality, the form of every oracle's `rk = 1` cell CTE
    keep = F.col("rk") == 1 if n == 1 else F.col("rk") <= n
    return scored.withColumn("rk", rk).where(keep)


def top_vectors(
    scored: DataFrame, by, k: "int | None", score: str = "score", rk: str = "rk"
) -> DataFrame:
    """The k best vectors of each ``by`` group: row_number over ``by``
    ordered ``<score> DESC, vec_id ASC`` as column ``rk``, kept while
    ``rk <= k`` — ties go to the smaller vec_id and NaN ranks first, as
    in every oracle's neighbour rank. k=None keeps every row with its
    rank. With ``by=()`` the ranking is global and is spelled
    orderBy().limit(k) (a TakeOrderedAndProject, never a one-partition
    window), so its rows carry no rank and k is required."""
    by = [by] if isinstance(by, str) else list(by)
    order = (F.col(score).desc(), F.col("vec_id").asc())
    if not by:
        return scored.orderBy(*order).limit(k)
    ranked = scored.withColumn(
        rk, F.row_number().over(Window.partitionBy(*by).orderBy(*order))
    )
    return ranked if k is None else ranked.where(F.col(rk) <= k)


def lsh_candidates(bands: DataFrame) -> DataFrame:
    """(qid, vec_id): the distinct SRP band collisions of each
    _RECALL_QIDS panel query, without the self-pair — the LSH
    candidate set every panel audit ranks. ``bands`` is _banded's
    (vec_id, band, bucket) frame; the 5 × N_BANDS query buckets ride
    as a broadcast."""
    qb = bands.where(F.col("vec_id").isin(list(_RECALL_QIDS))).select(
        F.col("vec_id").alias("qid"), "band", "bucket"
    )
    return (
        bands.join(F.broadcast(qb), ["band", "bucket"])
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id")
        .distinct()
    )


def recall_at_k(
    spine: DataFrame, approx: DataFrame, scores: DataFrame, keys=("qid",)
) -> DataFrame:
    """(*spine columns, n_hit, recall6): recall@_RECALL_K of an
    approximate top list against brute force. The exact top-_RECALL_K
    of each query comes from ``scores`` (qid, vec_id, score) through
    top_vectors; ``approx`` rows (keys…, vec_id) that hit it are
    counted per ``keys`` (the truth is per qid, so the hit join is on
    qid and vec_id) and left-joined onto ``spine``, so a spine row
    with no hit reads n_hit 0 and recall6 0.0, as the oracles'
    COALESCE does."""
    keys = list(keys)
    exact = top_vectors(scores, "qid", _RECALL_K).select("qid", "vec_id")
    hits = (
        approx.join(exact, ["qid", "vec_id"])
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    n_hit = F.coalesce("n_hit", F.lit(0))
    return spine.join(hits, keys, "left").select(
        *spine.columns,
        n_hit.cast("long").alias("n_hit"),
        F.round(n_hit / float(_RECALL_K), 6).alias("recall6"),
    )


_PAIR_SCHEMA = "vec_id long, cid long, nbr long, cs double"


def _cell_pair_scores(
    members: DataFrame,
    anchor_mod: "tuple[int, int] | None" = None,
    unordered: bool = False,
) -> DataFrame:
    """(vec_id, cid, nbr, cs): 6-dp cosine for every in-cell pair of a
    (vec_id, cid, embedding) membership frame — ONE Arrow crossing per
    CELL (applyInPandas over cid) instead of the former cid self-join
    + per-pair _cos6 UDF, which shipped both 64-float payloads across
    the Python boundary once per PAIR (~1 KB/pair — the round-11
    optimization, guide §8's "move the heavy bytes once" applied to
    the Σ|cell|² stage: each embedding now crosses once per cell and
    pair rows never exist outside the kernel).

    Bit-identical to the _cos6 spelling by construction: the kernel
    pair-expands into the same contiguous f64 row blocks and applies
    the same np.einsum("ij,ij->i") + np.round(·, 6) per pair row, so
    every consumer's scores — and the oracle parity — are unchanged.

    anchor_mod=(m, r) keeps only anchors with vec_id % m == r (the
    knn_graph ledger sample) without scoring the dropped anchors'
    pairs; unordered=True emits each pair once (vec_id < nbr, the
    semdedup orientation) instead of both directions."""

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        ids = pdf["vec_id"].to_numpy(dtype=np.int64)
        cid = int(pdf["cid"].iloc[0])
        if anchor_mod is not None:
            a_idx = np.flatnonzero(ids % anchor_mod[0] == anchor_mod[1])
        else:
            a_idx = np.arange(n)
        if n < 2 or len(a_idx) == 0:
            return pd.DataFrame(
                {
                    "vec_id": pd.Series(dtype="int64"),
                    "cid": pd.Series(dtype="int64"),
                    "nbr": pd.Series(dtype="int64"),
                    "cs": pd.Series(dtype="float64"),
                }
            )
        V = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        nrm = np.sqrt(np.einsum("ij,ij->i", V, V))
        outs = []
        chunk = max(1, 200_000 // n)
        for s in range(0, len(a_idx), chunk):
            blk = a_idx[s : s + chunk]
            m = len(blk)
            av = np.repeat(V[blk], n, axis=0)
            bv = np.tile(V, (m, 1))
            dots = np.einsum("ij,ij->i", av, bv)
            na = np.repeat(nrm[blk], n)
            nb = np.tile(nrm, m)
            cs = np.round(dots / (na * nb), 6)
            ai = np.repeat(ids[blk], n)
            bi = np.tile(ids, m)
            keep = (ai < bi) if unordered else (ai != bi)
            outs.append(
                pd.DataFrame(
                    {
                        "vec_id": ai[keep],
                        "cid": np.full(int(keep.sum()), cid, dtype=np.int64),
                        "nbr": bi[keep],
                        "cs": cs[keep],
                    }
                )
            )
        return pd.concat(outs, ignore_index=True)

    return members.select("vec_id", "cid", "embedding").groupBy(
        "cid"
    ).applyInPandas(_pairs, _PAIR_SCHEMA)


# DuckDB mirrors: semantics are defined by these HOF spellings; the
# Spark side reproduces them (to 6 dp / sign exactness) via numpy.
_D_VEC = "list_transform(embedding, x -> CAST(x AS DOUBLE))"
_D_NRM = "sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


def _d_cos6(a: str, b: str, na: str, nb: str) -> str:
    return (
        f"round(list_sum(list_transform(range(1, 65), i -> {a}[i] * {b}[i]))"
        f" / ({na} * {nb}), 6)"
    )


_DUCK_DOTS = (
    f"list_transform(range(0, {N_PLANES}), j -> "
    f"  list_sum(list_transform(range(1, {DIM + 1}), i -> ve[i] * pf[j * {DIM} + i])))"
)
_DUCK_BUCKETS = (
    f"list_transform(range(0, {N_BANDS}), b -> "
    + " + ".join(
        f"(CASE WHEN dots[b * {PLANES_PER_BAND} + {k + 1}] > 0.0"
        f" THEN {2 ** k} ELSE 0 END)"
        for k in range(PLANES_PER_BAND)
    )
    + ")"
)

# Oracle CTE builders, one per ANN mechanism, each the DuckDB mirror of
# the Spark helper named in its docstring. They emit SQL text only and
# read no Spark helper, so the oracles stay an independent engine. Row
# tables keyed by vec_id carry (ve, nrm); panel query rows (qid, qv, qn);
# centroid tables (cid, cve, cnrm).


def _d_lsh_bands(label: bool = False) -> str:
    """p, v, d, bk, bands: the SRP chain, every vector's (vec_id, band,
    bucket) rows — the mirror of _banded. ``label`` keeps v's label."""
    lab = "label, " if label else ""
    return f"""p AS (SELECT {_PF_DUCK} AS pf),
    v AS (SELECT vec_id, {lab}{_D_VEC} AS ve, {_D_NRM} AS nrm FROM embeddings),
    d AS (SELECT vec_id, ve, nrm, {_DUCK_DOTS} AS dots FROM v, p),
    bk AS (SELECT vec_id, {_DUCK_BUCKETS} AS buckets FROM d),
    bands AS (SELECT vec_id,
                     CAST(generate_subscripts(buckets, 1) - 1 AS BIGINT) AS band,
                     CAST(unnest(buckets) AS BIGINT) AS bucket
              FROM bk)"""


def _d_query_rows(name: str = "qv", extra: str = "") -> str:
    """{name} (qid, qv, qn, *extra): the _RECALL_QIDS panel rows of v —
    the mirror of _query_rows."""
    return f"""{name} AS (SELECT vec_id AS qid, ve AS qv, nrm AS qn{extra} FROM v
           WHERE vec_id IN {_RECALL_QIDS})"""


def _d_lsh_candidates() -> str:
    """qb, cand (qid, vec_id): the distinct SRP band collisions of each
    panel query, without the self-pair — the mirror of lsh_candidates.
    Needs bands (_d_lsh_bands) and qv (_d_query_rows) before it."""
    return """qb AS (SELECT vec_id AS qid, band, bucket FROM bands
           WHERE vec_id IN (SELECT qid FROM qv)),
    cand AS (SELECT DISTINCT qb.qid, b.vec_id
             FROM qb JOIN bands b ON qb.band = b.band AND qb.bucket = b.bucket
             WHERE b.vec_id <> qb.qid)"""


def _d_seed_cells(k: int, name: str = "c", src: str = "v", where: str = "") -> str:
    """{name} (cid, cve, cnrm): the seed centroids, vec_id 1..k of
    ``src`` (and ``where``) — the mirror of _seed_cells."""
    also = f" AND {where}" if where else ""
    return f"""{name} AS (SELECT vec_id AS cid, ve AS cve, nrm AS cnrm
          FROM {src} WHERE vec_id BETWEEN 1 AND {k}{also})"""


def _d_top_cells(rows: str, cent: str, by, n: int, name: str) -> str:
    """{name} (*by, cid, cs, rk): the n nearest cells of each ``by``
    group — the mirror of top_cells. Every ``rows`` row (a table or a
    parenthesised subquery) is scored against every ``cent`` centroid
    and ranked by row_number over ``by`` ordered ``cs DESC, cid ASC``:
    ties go to the smaller cid and NaN ranks first. Rows keyed by
    vec_id are vectors (ve, nrm); any other key, or by=() (one global
    rank), means panel query rows (qv, qn)."""
    by = [by] if isinstance(by, str) else list(by)
    ve, nrm = ("r.ve", "r.nrm") if "vec_id" in by else ("r.qv", "r.qn")
    part = f"PARTITION BY {', '.join(by)} " if by else ""
    keep = "rk = 1" if n == 1 else f"rk <= {n}"
    return f"""{name} AS (SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER ({part}ORDER BY cs DESC, cid ASC) AS rk
        FROM (SELECT {''.join(f'r.{b}, ' for b in by)}c.cid,
                     {_d_cos6(ve, 'c.cve', nrm, 'c.cnrm')} AS cs
              FROM {rows} r, {cent} c)) WHERE {keep})"""


def _d_exact_topk(
    k: "int | None" = _RECALL_K, name: str = "exact", rk: str = "rk", cand: str = ""
) -> str:
    """{name} (qid, vec_id, score, rk): every vector of v ranked by
    6-dp cosine against each qv panel row, self-pair excluded, by
    row_number over qid ordered ``score DESC, vec_id ASC`` and kept
    while rk <= k (k=None keeps every rank) — the brute-force ground
    truth of recall_at_k, in top_vectors' order. With ``cand`` (a
    (qid, vec_id) table) only those pairs are ranked: an index's
    candidate re-rank, in the same order."""
    keep = f" WHERE {rk} <= {k}" if k is not None else ""
    pairs = (
        f"FROM {cand} c JOIN v ON c.vec_id = v.vec_id JOIN qv q ON c.qid = q.qid"
        if cand
        else "FROM v CROSS JOIN qv q WHERE v.vec_id <> q.qid"
    )
    return f"""{name} AS (SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY score DESC, vec_id ASC) AS {rk}
        FROM (SELECT q.qid, v.vec_id,
                     {_d_cos6('v.ve', 'q.qv', 'v.nrm', 'q.qn')} AS score
              {pairs})){keep})"""


def _d_recall(
    spine: str, keys=("qid",), approx: str = "approx", name: str = "recall"
) -> str:
    """{name}_hits, {name} (*spine columns, n_hit, recall6): the hits of
    ``approx`` (keys…, vec_id) in the exact top-_RECALL_K
    (_d_exact_topk), counted per ``keys`` and left-joined onto ``spine``,
    so a spine row with no hit reads n_hit 0 and recall6 0.0 — the
    mirror of recall_at_k's tail."""
    ak = ", ".join(f"a.{k}" for k in keys)
    on = " AND ".join(f"s.{k} = h.{k}" for k in keys)
    return f"""{name}_hits AS (SELECT {ak}, COUNT(*) AS n_hit
             FROM {approx} a JOIN exact e ON a.qid = e.qid AND a.vec_id = e.vec_id
             GROUP BY {ak}),
    {name} AS (SELECT s.*, CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
                      round(COALESCE(h.n_hit, 0) / {float(_RECALL_K)}, 6) AS recall6
               FROM {spine} s LEFT JOIN {name}_hits h ON {on})"""


@query(
    "q_e_sim_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, {_D_VEC} AS ve, {_D_NRM} AS nrm FROM embeddings),
    q AS (SELECT ve AS qv, nrm AS qn FROM v WHERE vec_id = 0)
    SELECT v.vec_id, v.label, {_d_cos6('v.ve', 'q.qv', 'v.nrm', 'q.qn')} AS score
    FROM v, q
    WHERE v.vec_id <> 0
    ORDER BY score DESC, v.vec_id ASC
    LIMIT 20
    """,
)
def q_e_sim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k for one query vector (vec_id 0).

    Query vector is a 1-row broadcast; each Arrow batch is scored with
    one numpy einsum and TakeOrderedAndProject keeps k — no shuffle of
    vectors. The pattern at 100 TB: broadcast a small query batch and
    score in one pass over the corpus.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qemb"))
    scored = (
        e.where(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select("vec_id", "label", _cos6("embedding", "qemb").alias("score"))
    )
    return top_vectors(scored, (), 20)


def _banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, band, bucket) — each vector lands in N_BANDS buckets.

    One persisted copy per (app, sf_dir) (scoped_persist), shared by
    every banded consumer: the pair joins (sim_join, dedup_embed), the
    single-query probes (sim_topk_lsh, lsh_multiprobe) and the panel
    audits, which take their candidates from lsh_candidates."""
    e = fan_out(load_table(spark, sf_dir, "embeddings"), "vec_id")
    d = e.select("vec_id", _srp_buckets("embedding").alias("buckets"))
    return scoped_persist(
        d.select("vec_id", F.posexplode("buckets").alias("band", "bucket")),
        spark,
        sf_dir,
        "srp_banded",
    )


@query(
    "q_e_sim_join",
    oracle=f"""
    WITH {_d_lsh_bands()},
    cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bucket = b.bucket
              AND a.vec_id < b.vec_id)
    SELECT c.id_a, c.id_b,
           {_d_cos6('x.ve', 'y.ve', 'x.nrm', 'y.nrm')} AS score
    FROM cand c JOIN v x ON c.id_a = x.vec_id JOIN v y ON c.id_b = y.vec_id
    WHERE {_d_cos6('x.ve', 'y.ve', 'x.nrm', 'y.nrm')} >= 0.25
    """,
)
def q_e_sim_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs similarity join above a threshold via SRP-LSH banding.

    Pipeline: deterministic ±1 hyperplane signatures (one matmul per
    Arrow batch) → 8-bit sign bucket per band (8 bands,
    OR-construction) → per-bucket pair expansion (one groupBy shuffle,
    signature pipeline evaluated once — see lsh.cobucket_pairs) →
    DISTINCT candidate pairs → exact cosine filter ≥ 0.25.

    Recall for a pair at angle θ is 1-(1-(1-θ/π)⁸)⁸ (~0.94 at cos 0.9);
    banding is tuned per-corpus at scale — the declared semantics ARE
    "pairs surviving this banding", which the oracle reproduces exactly,
    so the hash-match is by construction, not by luck. At 100 TB the
    candidate join shuffles only (band, bucket, id) — vectors are
    re-joined afterward, keeping the wide rows out of the hot shuffle.
    """
    e = load_table(spark, sf_dir, "embeddings")
    bands = _banded(spark, sf_dir)
    cand = cobucket_pairs(bands, ["band", "bucket"], ["vec_id"]).select(
        F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
    )
    x = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    y = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    scored = (
        cand.join(x, "id_a")
        .join(y, "id_b")
        .select("id_a", "id_b", _cos6("ea", "eb").alias("score"))
    )
    return scored.where(F.col("score") >= 0.25)


@query(
    "q_e_knn_pergroup",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, {_D_VEC} AS ve, {_D_NRM} AS nrm FROM embeddings),
    q AS (SELECT ve AS qv, nrm AS qn FROM v WHERE vec_id = 0),
    scored AS (
      SELECT v.vec_id, v.label, {_d_cos6('v.ve', 'q.qv', 'v.nrm', 'q.qn')} AS score
      FROM v, q WHERE v.vec_id <> 0
    )
    SELECT label, vec_id, score, rk FROM (
      SELECT label, vec_id, score,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY score DESC, vec_id ASC) AS rk
      FROM scored
    ) WHERE rk <= 3
    """,
)
def q_e_knn_pergroup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN per label group: 3 nearest to the query vector within each
    cluster label (scored scan → one shuffle on label → ranked top-k)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qemb"))
    scored = (
        e.where(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select("label", "vec_id", _cos6("embedding", "qemb").alias("score"))
    )
    return top_vectors(scored, "label", 3).select("label", "vec_id", "score", "rk")


@query(
    "q_e_sim_topk_lsh",
    oracle=f"""
    WITH {_d_lsh_bands(label=True)},
    qb AS (SELECT band, bucket FROM bands WHERE vec_id = 0),
    cand AS (SELECT DISTINCT b.vec_id
             FROM qb JOIN bands b ON qb.band = b.band AND qb.bucket = b.bucket
             WHERE b.vec_id <> 0),
    q AS (SELECT ve AS qv, nrm AS qn FROM v WHERE vec_id = 0)
    SELECT v.vec_id, v.label, {_d_cos6('v.ve', 'q.qv', 'v.nrm', 'q.qn')} AS score
    FROM cand c JOIN v ON c.vec_id = v.vec_id, q
    ORDER BY score DESC, v.vec_id ASC
    LIMIT 20
    """,
)
def q_e_sim_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-k — the scale path for q_e_sim_topk.

    Probe only the vectors sharing ≥1 SRP (band, bucket) with the query
    vector instead of scanning all n: at 100 TB the bands table is a
    bucket-partitioned index, the probe reads |candidates| ≈ n/2^bits ×
    bands rows, and exact cosine re-ranks just those. Declared
    semantics = "top-k among banding candidates" (recall < 1 by
    construction), which the oracle reproduces exactly."""
    e = load_table(spark, sf_dir, "embeddings")
    bands = _banded(spark, sf_dir)
    qb = bands.where(F.col("vec_id") == 0).select("band", "bucket")
    cand = (
        bands.where(F.col("vec_id") != 0)
        .join(F.broadcast(qb), ["band", "bucket"])
        .select("vec_id")
        .distinct()
    )
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qemb"))
    scored = (
        cand.join(e, "vec_id")
        .join(F.broadcast(q))
        .select("vec_id", "label", _cos6("embedding", "qemb").alias("score"))
    )
    return top_vectors(scored, (), 20)


# IVF-style ANN: nlist deterministic "centroids" (the corpus vectors
# with the smallest ids — a seed assignment; real IVF would k-means
# them, which is iterative and out of the declared surface), every
# vector assigned to its nearest centroid cell, queries probing the
# nprobe nearest cells only.
IVF_NLIST = 16
IVF_NPROBE = 4


@query(
    "q_e_sim_topk_ivf",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, {_D_VEC} AS ve, {_D_NRM} AS nrm FROM embeddings),
    {_d_seed_cells(IVF_NLIST)},
    {_d_top_cells('(SELECT * FROM v WHERE vec_id <> 0)', 'c', 'vec_id', 1, 'cell')},
    q AS (SELECT ve AS qv, nrm AS qn FROM v WHERE vec_id = 0),
    {_d_top_cells('q', 'c', (), IVF_NPROBE, 'probe')}
    SELECT v.vec_id, v.label, {_d_cos6('v.ve', 'q.qv', 'v.nrm', 'q.qn')} AS score
    FROM cell JOIN probe USING (cid) JOIN v ON cell.vec_id = v.vec_id, q
    ORDER BY score DESC, v.vec_id ASC
    LIMIT 20
    """,
)
def q_e_sim_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed ANN top-k — the coarse-quantizer scale path.

    Cell assignment scores every vector against the nlist=16 broadcast
    centroids (one Arrow-batched einsum per 16-row broadcast; no
    shuffle of vectors) and keeps the argmax cell; the query probes its
    nprobe=4 nearest cells and exact cosine re-ranks only vectors in
    those cells — the IVF contract: scan ~nprobe/nlist of the corpus.
    Declared semantics = "top-k within probed cells" (recall < 1 by
    construction), reproduced exactly by the oracle.

    At 100 TB the cell id becomes the table's partition key so a probe
    is partition pruning, and the per-vector argmax is a map-side
    max_by aggregation; the window spelling here is chosen because its
    (score, cid) tie-break is bit-identical across both engines.
    """
    e = load_table(spark, sf_dir, "embeddings")
    cent = _seed_cells(e, IVF_NLIST)
    cell = top_cells(e.where(F.col("vec_id") != 0), cent, "vec_id", 1).select(
        "vec_id", "cid"
    )
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qemb"))
    probe = top_cells(e.where(F.col("vec_id") == 0), cent, (), IVF_NPROBE).select("cid")
    scored = (
        cell.join(F.broadcast(probe), "cid")
        .join(e, "vec_id")
        .join(F.broadcast(q))
        .select("vec_id", "label", _cos6("embedding", "qemb").alias("score"))
    )
    return top_vectors(scored, (), 20)


# Embedding-cosine near-duplicate detection: the dedup-flavored view
# of the similarity join — emit, for every vector with at least one
# sufficiently-similar smaller-id partner, the smallest such partner
# as its retained representative.
DEDUP_COS_THR = 0.4


@query(
    "q_e_dedup_embed",
    oracle=f"""
    WITH {_d_lsh_bands()},
    cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bucket = b.bucket
              AND a.vec_id < b.vec_id),
    pairs AS (
      SELECT c.id_a, c.id_b
      FROM cand c JOIN v x ON c.id_a = x.vec_id JOIN v y ON c.id_b = y.vec_id
      WHERE {_d_cos6('x.ve', 'y.ve', 'x.nrm', 'y.nrm')} >= {DEDUP_COS_THR}
    )
    SELECT id_b AS vec_id, MIN(id_a) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_dups
    FROM pairs GROUP BY id_b
    """,
)
def q_e_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup removal plan: (vec_id, keep_id,
    n_dups) for every vector that duplicates a smaller-id vector.

    Same SRP-banded candidate generation as q_e_sim_join (threshold
    0.4 — the corpus has no true clones, so the dup regime is tuned
    down to produce a meaningful plan; production dedup runs ≥0.9
    where 8×8 banding recalls ~94%), then one aggregation: since
    candidate pairs are canonicalized id_a < id_b, a vector's dropped
    marker is min(id_a) over its pairs — single-pass canonicalization
    (chains resolve by re-running; transitive union-find is iterative
    and deliberately out of the declared one-shot surface).
    """
    e = load_table(spark, sf_dir, "embeddings")
    bands = _banded(spark, sf_dir)
    cand = cobucket_pairs(bands, ["band", "bucket"], ["vec_id"]).select(
        F.col("a.vec_id").alias("id_a"), F.col("b.vec_id").alias("id_b")
    )
    x = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("ea"))
    y = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("eb"))
    pairs = (
        cand.join(x, "id_a")
        .join(y, "id_b")
        .where(_cos6("ea", "eb") >= DEDUP_COS_THR)
    )
    return pairs.groupBy(F.col("id_b").alias("vec_id")).agg(
        F.min("id_a").alias("keep_id"),
        F.count(F.lit(1)).alias("n_dups"),
    )


# ------------------------------------------------- int8 quantization

# Shared sub-expressions, spelled once and mirrored exactly in DuckDB:
# scale = max|x| / 127; q_i = clamp(floor(x/scale + 0.5), ±127);
# err_i = |x − q_i·scale|. All per-row IEEE double ops over exact
# f32→f64 element values, so results are bit-deterministic; outputs
# are still rounded to 6 dp by the cross-engine contract.
_D_AMAX = "list_max(list_transform(ve, x -> abs(x)))"
_D_Q = "least(greatest(floor(x / sc + 0.5), -127.0), 127.0)"
_D_ERRS = f"list_transform(ve, x -> abs(x - {_D_Q} * sc))"


@query(
    "q_e_embed_quantize",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, {_D_VEC} AS ve FROM embeddings),
    s AS (SELECT vec_id, label, ve, {_D_AMAX} / 127.0 AS sc FROM v),
    e AS (SELECT vec_id, label, sc, {_D_ERRS} AS errs,
                 list_transform(ve, x -> {_D_Q}) AS q
          FROM s)
    SELECT vec_id, label,
           round(sc, 6) AS scale6,
           round(list_max(errs), 6) AS max_err6,
           round(list_sum(errs) / 64.0, 6) AS mean_err6,
           CAST(len(list_filter(q, y -> abs(y) = 127.0)) AS BIGINT) AS n_sat
    FROM e
    """,
)
def q_e_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector symmetric int8 quantization of the embedding column +
    reconstruction-error audit — the storage scale path for ANN corpora
    (4× smaller vectors; at 100 TB the quantized copy is what the
    probe pass scans, with exact re-rank reading full vectors for
    finalists only).

    scale = max|x|/127 per vector; q = round-half-up(x/scale) clamped
    to ±127; emits per-vector scale, max/mean reconstruction error and
    saturation count. Pure narrow higher-order expressions on the scan
    — zero shuffles, whole-stage codegen end to end (O(dim) work per
    row; the matmul-shaped ops stay in the pandas-UDF kernels, per the
    module docstring split)."""
    e = load_table(spark, sf_dir, "embeddings")
    ve = F.transform("embedding", lambda x: x.cast("double"))
    d = e.select("vec_id", "label", ve.alias("ve"))
    sc = F.array_max(F.transform("ve", lambda x: F.abs(x))) / 127.0
    d = d.withColumn("sc", sc)

    def _q(x):
        return F.least(
            F.greatest(F.floor(x / F.col("sc") + 0.5).cast("double"), F.lit(-127.0)),
            F.lit(127.0),
        )

    d = d.withColumn("errs", F.transform("ve", lambda x: F.abs(x - _q(x) * F.col("sc"))))
    d = d.withColumn("q", F.transform("ve", _q))
    return d.select(
        "vec_id",
        "label",
        F.round("sc", 6).alias("scale6"),
        F.round(F.array_max("errs"), 6).alias("max_err6"),
        F.round(F.aggregate("errs", F.lit(0.0), lambda a, x: a + x) / 64.0, 6).alias(
            "mean_err6"
        ),
        F.size(F.filter("q", lambda y: F.abs(y) == 127.0)).cast("long").alias("n_sat"),
    )


# ------------------------------------------------------- ANN recall


def _panel_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(qid, vec_id, score): 6-dp cosine of every corpus vector against
    each panel query, in ONE Arrow pass — the broadcast-query-batch
    pattern (sim_topk docstring) generalized to a panel: the query
    matrix rides into the kernel as a (5, 64) literal (bounded collect
    of 5 rows at plan-build), each Arrow batch does a single (n,64)
    @ (64,5) matmul, and both the exact ground truth AND the candidate
    re-rank read these scores — vectors cross the Python boundary once
    instead of once per (query, consumer)."""
    e = load_table(spark, sf_dir, "embeddings")
    qrows = _query_panel(e)
    qmat = np.array([r.embedding for r in qrows], dtype=np.float64)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _cos_panel(emb: pd.Series) -> pd.Series:
        return pd.Series(cos6_panel(_to_mat(emb), qmat).tolist())

    ef = fan_out(e.select("vec_id", "embedding"), "vec_id")
    return panel_rows(ef, qrows, _cos_panel("embedding"))


def _panel_scores_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared scoped persist of `_panel_scores` (ADVICE r11: one
    helper instead of ~10 duplicated call sites). Rationale, stated
    once: every consumer ranks the panel scores on at least two plan
    branches (exact ground-truth side + candidate re-rank), and the
    candidate side rides a broadcast join, so the branches share NO
    exchange — unpersisted, the panel Arrow pass (and its bounded
    5-row plan-build collect) would execute once per branch per run.
    Same (app, sf_dir, "panel_scores") tag everywhere, so all
    consumers inside one run serve from a single materialization and
    the caches.py tag guard raises on any plan mismatch."""
    return scoped_persist(
        _panel_scores(spark, sf_dir), spark, sf_dir, "panel_scores"
    )


@query(
    "q_e_ann_recall",
    oracle=f"""
    WITH {_d_lsh_bands()},
    {_d_query_rows()},
    {_d_lsh_candidates()},
    {_d_exact_topk(name='approx', cand='cand')},
    {_d_exact_topk()},
    ncand AS (SELECT qid, COUNT(*) AS n_cand FROM cand GROUP BY qid),
    {_d_recall('ncand')}
    SELECT * FROM recall
    """,
)
def q_e_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 audit of the SRP-LSH ANN path against brute-force
    ground truth, for a fixed 5-query panel — the measurement that
    justifies (or indicts) the banding parameters before anyone trusts
    q_e_sim_topk_lsh at scale.

    Both pipelines already have exact dual spellings (the approx side
    IS the declared LSH semantics), so recall itself is hash-checkable
    — approximation measured, not guessed. Plan: one banding pass
    (shared signature kernel), broadcast 40 query-bucket rows, one
    DISTINCT over (qid, cand); exact side is a 5-row broadcast cross
    score. At 100 TB the exact side runs on a sampled panel exactly
    like this, amortized across the corpus scan."""
    # _banded hands back the shared per-(app, sf_dir) persisted frame,
    # so the SRP matmul pass runs once per session, not once for each
    # of lsh_candidates' two reads (query buckets, probe join).
    cand = scoped_persist(
        lsh_candidates(_banded(spark, sf_dir)), spark, sf_dir, "ann_recall_cand"
    )
    scores = _panel_scores_persisted(spark, sf_dir)
    approx = top_vectors(scores.join(cand, ["qid", "vec_id"]), "qid", _RECALL_K)
    ncand = cand.groupBy("qid").agg(F.count(F.lit(1)).alias("n_cand"))
    return recall_at_k(ncand, approx, scores)


_CURVE_KS = (1, 5, 10, 20)


@query(
    "q_e_recall_curve",
    oracle=f"""
    WITH {_d_lsh_bands()},
    {_d_query_rows()},
    {_d_lsh_candidates()},
    {_d_exact_topk(None, 'ranked_a', 'rka', cand='cand')},
    {_d_exact_topk(None, 'ranked_e', 'rke')},
    j AS (SELECT a.qid, a.rka, e.rke
          FROM ranked_a a JOIN ranked_e e
            ON a.qid = e.qid AND a.vec_id = e.vec_id),
    grid AS (SELECT DISTINCT qid, unnest([{', '.join(map(str, _CURVE_KS))}]) AS k
             FROM cand)
    SELECT g.qid, CAST(g.k AS INT) AS k,
           COUNT(*) FILTER (WHERE j.rka <= g.k AND j.rke <= g.k) AS n_hit,
           round(COUNT(*) FILTER (WHERE j.rka <= g.k AND j.rke <= g.k)
                 / CAST(g.k AS DOUBLE), 6) AS recall_at_k
    FROM grid g LEFT JOIN j ON g.qid = j.qid
    GROUP BY g.qid, g.k
    ORDER BY g.qid, g.k
    """,
)
def q_e_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k CURVE for the SRP-LSH candidate index (round 4):
    recall at k ∈ {1, 5, 10, 20} per panel query in one pass — the
    full operating curve an index owner tunes against, where
    q_e_ann_recall reports only the k=10 point (recall@1 shows whether
    the single best neighbor survives banding; recall@20 whether the
    curve has flattened — i.e. whether more probes would even help).

    Reuses the whole audit skeleton: one banding pass, one candidate
    DISTINCT, one panel-score kernel scoring each vector against all 5
    queries in a single Arrow batch; both rank windows share the same
    (qid)-partitioned sort. The k dimension is a 4-row explode on the
    5-qid spine — measurement cost does not grow with k."""
    cand = lsh_candidates(_banded(spark, sf_dir))
    # persist rationale: _panel_scores_persisted docstring
    scores = _panel_scores_persisted(spark, sf_dir)
    ranked_a = top_vectors(
        scores.join(cand, ["qid", "vec_id"]), "qid", None, rk="rka"
    ).select("qid", "vec_id", "rka")
    ranked_e = top_vectors(scores, "qid", None, rk="rke").select(
        "qid", "vec_id", "rke"
    )
    j = ranked_a.join(ranked_e, ["qid", "vec_id"]).select("qid", "rka", "rke")
    grid = (
        cand.select("qid")
        .distinct()
        .select(
            "qid",
            F.explode(F.array(*[F.lit(k) for k in _CURVE_KS])).alias("k"),
        )
    )
    hit = (F.col("rka") <= F.col("k")) & (F.col("rke") <= F.col("k"))
    return (
        grid.join(j, "qid", "left")
        .groupBy("qid", "k")
        .agg(F.count(F.when(hit, 1)).alias("n_hit"))
        .select(
            "qid",
            F.col("k").cast("int").alias("k"),
            "n_hit",
            F.round(
                F.col("n_hit") / F.col("k").cast("double"), 6
            ).alias("recall_at_k"),
        )
        .orderBy("qid", "k")
    )


@query(
    "q_e_ivf_recall",
    oracle=f"""
    WITH v AS (SELECT vec_id, {_D_VEC} AS ve, {_D_NRM} AS nrm FROM embeddings),
    {_d_seed_cells(IVF_NLIST)},
    {_d_top_cells('v', 'c', 'vec_id', 1, 'cell')},
    {_d_query_rows()},
    {_d_top_cells('qv', 'c', 'qid', IVF_NPROBE, 'probe')},
    cand AS (SELECT p.qid, cell.vec_id
             FROM cell JOIN probe p USING (cid)
             WHERE cell.vec_id <> p.qid),
    {_d_exact_topk(name='approx', cand='cand')},
    {_d_exact_topk()},
    ncand AS (SELECT qid, COUNT(*) AS n_cand FROM cand GROUP BY qid),
    {_d_recall('ncand')}
    SELECT * FROM recall
    """,
)
def q_e_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 audit of the IVF coarse-quantizer path (nlist=16,
    nprobe=4) over the same 5-query panel as q_e_ann_recall — together
    the two audits measure BOTH approximate index families this engine
    ships, so index selection at scale is a data decision (IVF scans
    ~nprobe/nlist of the corpus; LSH scans whatever co-buckets).

    Plan: one broadcast centroid pass assigns every vector's cell
    (persisted — feeds the probe join and the candidate count); probes
    are a 5×16 broadcast rank; exact side is the shared 5-row
    broadcast cross score."""
    e = load_table(spark, sf_dir, "embeddings")
    cent = _seed_cells(e, IVF_NLIST)
    cell = top_cells(fan_out(e, "vec_id"), cent, "vec_id", 1).select("vec_id", "cid")
    cell = scoped_persist(cell, spark, sf_dir, "ivf_recall_cell")
    probe = top_cells(_query_rows(e), cent, "qid", IVF_NPROBE).select("qid", "cid")
    cand = (
        cell.join(F.broadcast(probe), "cid")
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id")
    )
    cand = scoped_persist(cand, spark, sf_dir, "ivf_recall_cand")
    scores = _panel_scores_persisted(spark, sf_dir)
    approx = top_vectors(scores.join(cand, ["qid", "vec_id"]), "qid", _RECALL_K)
    ncand = cand.groupBy("qid").agg(F.count(F.lit(1)).alias("n_cand"))
    return recall_at_k(ncand, approx, scores)


@query(
    "q_e_embed_centroid",
    oracle=f"""
    WITH el AS (
      SELECT label,
             CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS idx,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    )
    SELECT label, idx,
           COUNT(*) AS n,
           {davg('x')} AS mean_x
    FROM el GROUP BY label, idx
    """,
)
def q_e_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid training — the k-means/IVF update step:
    elementwise mean of every label's vectors, one output row per
    (label, dimension). Feeding these back as the coarse centroids is
    how q_e_sim_topk_ivf's cells get LEARNED instead of picked.

    Spelled as posexplode → groupBy (label, idx) with the exact-decimal
    mean, so the result is partitioning-independent and hash-checked.
    At 100 TB: the explode is executor-side (×64 rows but slim), the
    single shuffle carries 640 combined partials per upstream
    partition — the classic map-side-combined centroid update."""
    e = load_table(spark, sf_dir, "embeddings")
    el = e.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("idx", "x")
    ).withColumn("idx", F.col("idx").cast("long"))
    return el.groupBy("label", "idx").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(davg("x")).alias("mean_x"),
    )


@query(
    "q_e_hard_negatives",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, {_D_VEC} AS ve, {_D_NRM} AS nrm FROM embeddings),
    {_d_query_rows(extra=', label AS qlabel')},
    {_d_exact_topk(50, 'ranked')}
    SELECT r.qid, r.vec_id, v.label, r.score, r.rk
    FROM ranked r JOIN v ON r.vec_id = v.vec_id JOIN qv q ON r.qid = q.qid
    WHERE v.label <> q.qlabel
    """,
)
def q_e_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: per panel query,
    the wrong-label vectors hiding inside the cosine top-50 — exactly
    the examples a retrieval model must learn to push away (everything
    outside the top ranks is an easy negative, not worth a gradient).

    Rides the same single-pass panel kernel as the recall audits
    (_panel_scores: vectors cross Arrow once for all 5 queries), then
    a broadcast label join and one rank window. At 100 TB this is the
    standard mining sweep: one corpus pass per query batch, top-k
    state only."""
    e = load_table(spark, sf_dir, "embeddings")
    labels = e.select("vec_id", "label")
    qlab = e.where(F.col("vec_id").isin(list(_RECALL_QIDS))).select(
        F.col("vec_id").alias("qid"), F.col("label").alias("qlabel")
    )
    return (
        top_vectors(_panel_scores(spark, sf_dir), "qid", 50)
        .join(F.broadcast(labels), "vec_id")
        .join(F.broadcast(qlab), "qid")
        .where(F.col("label") != F.col("qlabel"))
        .select("qid", "vec_id", "label", "score", "rk")
    )


# Product quantization: 8 subspaces x 8 dims, 16-entry codebook per
# subspace taken from corpus vectors 1..16 (deterministic, like the
# IVF centroids — a real pipeline k-means-trains these with
# q_e_embed_centroid's update step).
PQ_M = 8          # subspaces
PQ_SUBDIM = 8     # dims per subspace
PQ_K = 16         # codebook entries per subspace

_PQ_SUB = "list_transform(range(1, 9), j -> ve[{off} + j])"


def _pq_dist6(v: str, c: str, s: int) -> str:
    off = s * PQ_SUBDIM
    return (
        f"round(list_sum(list_transform(range(1, 9), j -> "
        f"({v}[{off} + j] - {c}[{off} + j]) * ({v}[{off} + j] - {c}[{off} + j]))), 6)"
    )


def _pq_lut6(q: str, c: str, s: int) -> str:
    off = s * PQ_SUBDIM
    return (
        f"round(list_sum(list_transform(range(1, 9), j -> "
        f"{q}[{off} + j] * {c}[{off} + j])), 6)"
    )


def _pq_lut6a(q: str, c: str, s: int, spark_dialect: bool = False) -> str:
    """LUT entry for subspace s as an EXPLICIT left-associated 8-term
    product sum, rendered for either dialect (1-based element access
    in both: element_at in Spark, [] in DuckDB). Used by the
    persisted-serve path, whose Spark side computes the LUT JVM-side
    (no numpy) — an explicit identical expression tree in both engines
    makes the sum bit-exact by construction, with no reliance on
    list_sum/einsum fold orders agreeing at 6 dp."""
    off = s * PQ_SUBDIM
    if spark_dialect:
        terms = [
            f"CAST(element_at({q}, {off + j}) AS DOUBLE)"
            f" * CAST(element_at({c}, {off + j}) AS DOUBLE)"
            for j in range(1, PQ_SUBDIM + 1)
        ]
    else:
        terms = [f"{q}[{off + j}] * {c}[{off + j}]" for j in range(1, PQ_SUBDIM + 1)]
    return "round(" + " + ".join(terms) + ", 6)"


# ADC close-out shared by both engines in the persisted-serve path:
# left-associated sum of the 8 subspace LUT gathers, rounded 6 dp —
# the same order the Arrow kernel accumulates in.
_PQP_ADC = "round(" + " + ".join(f"l{s}" for s in range(PQ_M)) + ", 6)"


def _pq_fixture(e: DataFrame) -> tuple[DataFrame, np.ndarray]:
    """The module's fixed PQ sub-codebook — vec_id 1..PQ_K, the same
    rows every PQ op trains against — as a (pcid, cemb) frame and as
    the (PQ_K, PQ_M, PQ_SUBDIM) array the encoders take."""
    cb = e.where(F.col("vec_id").between(1, PQ_K)).select(
        F.col("vec_id").alias("pcid"), F.col("embedding").alias("cemb")
    )
    return cb, _codebook_array(cb)


def _codebook_array(cb: DataFrame) -> np.ndarray:
    """Collect a (pcid, cemb) PQ sub-codebook frame, in pcid order, as
    the (PQ_K, PQ_M, PQ_SUBDIM) array the encoder takes."""
    rows = sorted(cb.collect(), key=lambda r: r.pcid)
    return np.array([r.cemb for r in rows], dtype=np.float64).reshape(
        PQ_K, PQ_M, PQ_SUBDIM
    )


def _pq_adc_kernel(e):
    """The ONE shared PQ/ADC Arrow kernel (q_e_sim_topk_pq and
    q_e_ivf_pq must stay bit-identical, so they call this instead of
    forking the code): collects the 16-row codebook and the 1-row
    query (bounded panels, module convention), builds the 16x8 LUT,
    and returns a pandas UDF that encodes each vector (argmin
    sub-distance, first-min tie-break == the oracle's (d6, cid) rank)
    and gathers the ADC sum in fixed subspace order (== the oracle's
    left-associated sum)."""
    _cb, c_r = _pq_fixture(e)
    qrow = e.where(F.col("vec_id") == 0).select("embedding").collect()[0]
    q_r = np.array(qrow.embedding, dtype=np.float64).reshape(PQ_M, PQ_SUBDIM)
    lut = np.round(np.einsum("sj,csj->cs", q_r, c_r), 6)

    @F.pandas_udf(DoubleType())
    def _adc6(emb: pd.Series) -> pd.Series:
        v_r = _to_mat(emb).reshape(-1, PQ_M, PQ_SUBDIM)
        return pd.Series(adc6(pq_dist6(v_r, c_r).argmin(axis=1), lut))

    return _adc6


@query(
    "q_e_sim_topk_pq",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, {_D_VEC} AS ve, {_D_NRM} AS nrm FROM embeddings),
    c AS (SELECT vec_id AS cid, ve AS cv FROM v WHERE vec_id BETWEEN 1 AND {PQ_K}),
    q AS (SELECT ve AS qv, nrm AS qn FROM v WHERE vec_id = 0),
    dists AS (
      SELECT v.vec_id, c.cid, s.s,
             CASE s.s {' '.join(f"WHEN {s} THEN {_pq_dist6('v.ve', 'c.cv', s)}" for s in range(PQ_M))} END AS d6
      FROM v, c, (SELECT unnest(range(0, {PQ_M})) AS s) s
      WHERE v.vec_id <> 0
    ),
    codes AS (
      SELECT vec_id, s, cid FROM (
        SELECT vec_id, s, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY d6 ASC, cid ASC) AS rk
        FROM dists
      ) WHERE rk = 1
    ),
    lut AS (
      SELECT c.cid, s.s,
             CASE s.s {' '.join(f"WHEN {s} THEN {_pq_lut6('q.qv', 'c.cv', s)}" for s in range(PQ_M))} END AS l6
      FROM c, q, (SELECT unnest(range(0, {PQ_M})) AS s) s
    ),
    parts AS (
      SELECT codes.vec_id,
             {', '.join(f"MAX(CASE WHEN codes.s = {s} THEN lut.l6 END) AS l{s}" for s in range(PQ_M))}
      FROM codes JOIN lut ON codes.cid = lut.cid AND codes.s = lut.s
      GROUP BY codes.vec_id
    ),
    adc AS (
      SELECT vec_id,
             round({'(' * (PQ_M - 1)}l0{''.join(f" + l{s})" for s in range(1, PQ_M))}, 6) AS adc6
      FROM parts
    )
    SELECT a.vec_id, v.label, a.adc6,
           {_d_cos6('v.ve', 'q.qv', 'v.nrm', 'q.qn')} AS cos6
    FROM adc a JOIN v ON a.vec_id = v.vec_id, q
    ORDER BY a.adc6 DESC, a.vec_id ASC
    LIMIT 20
    """,
)
def q_e_sim_topk_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-k — the third index family (after
    SRP-LSH and IVF): each vector is encoded as 8 one-byte codes
    (argmin sub-distance to a 16-entry codebook per 8-dim subspace)
    and query scoring is asymmetric-distance lookup: adc ≈ q·v =
    Σ_s lut[s][code[s]], a table gather instead of a 64-dim dot. The
    top-20 by ADC carry their exact cosine alongside so the
    approximation error is visible in the result itself.

    At 100 TB this is the memory story: 8-byte codes instead of 256-
    byte vectors (32×), the scan reads codes only, and the 128-entry
    LUT is a broadcast literal. Kernel determinism: sub-distances and
    LUT entries round to 6 dp, argmin ties break on codebook id
    (numpy argmin = first minimum ≡ the oracle's (d6, cid) rank), and
    the 8-term ADC sum accumulates in fixed subspace order matching
    the oracle's left-associated sum."""
    e = load_table(spark, sf_dir, "embeddings")
    _adc6 = _pq_adc_kernel(e)
    ef = fan_out(e.where(F.col("vec_id") != 0), "vec_id")
    qv = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qemb"))
    scored = ef.select("vec_id", "label", "embedding", _adc6("embedding").alias("adc6"))
    return (
        top_vectors(scored, (), 20, "adc6")
        .join(F.broadcast(qv))
        .select("vec_id", "label", "adc6", _cos6("embedding", "qemb").alias("cos6"))
    )


@query(
    "q_e_pq_recall",
    oracle=f"""
    WITH v AS (SELECT vec_id, {_D_VEC} AS ve, {_D_NRM} AS nrm FROM embeddings),
    c AS (SELECT vec_id AS cid, ve AS cv FROM v WHERE vec_id BETWEEN 1 AND {PQ_K}),
    {_d_query_rows()},
    dists AS (
      SELECT v.vec_id, c.cid, s.s,
             CASE s.s {' '.join(f"WHEN {s} THEN {_pq_dist6('v.ve', 'c.cv', s)}" for s in range(PQ_M))} END AS d6
      FROM v, c, (SELECT unnest(range(0, {PQ_M})) AS s) s
    ),
    codes AS (
      SELECT vec_id, s, cid FROM (
        SELECT vec_id, s, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY d6 ASC, cid ASC) AS rk
        FROM dists
      ) WHERE rk = 1
    ),
    lut AS (
      SELECT q.qid, c.cid, s.s,
             CASE s.s {' '.join(f"WHEN {s} THEN {_pq_lut6('q.qv', 'c.cv', s)}" for s in range(PQ_M))} END AS l6
      FROM c, qv q, (SELECT unnest(range(0, {PQ_M})) AS s) s
    ),
    parts AS (
      SELECT lut.qid, codes.vec_id,
             {', '.join(f"MAX(CASE WHEN codes.s = {s} THEN lut.l6 END) AS l{s}" for s in range(PQ_M))}
      FROM codes JOIN lut ON codes.cid = lut.cid AND codes.s = lut.s
      GROUP BY lut.qid, codes.vec_id
    ),
    adc AS (
      SELECT qid, vec_id,
             round({'(' * (PQ_M - 1)}l0{''.join(f" + l{s})" for s in range(1, PQ_M))}, 6) AS adc6
      FROM parts WHERE vec_id <> qid
    ),
    approx AS (
      SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY adc6 DESC, vec_id ASC) AS rk
        FROM adc
      ) WHERE rk <= {_RECALL_K}
    ),
    {_d_exact_topk()},
    {_d_recall('(SELECT qid FROM qv)')}
    SELECT * FROM recall
    """,
)
def q_e_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 audit of the PQ/ADC path over the shared 5-query
    panel — with q_e_ann_recall (LSH) and q_e_ivf_recall this makes
    every approximate index family in the engine ship with measured,
    hash-checked approximation quality. ADC recall reflects pure
    quantization error (no candidate pruning), so it bounds what
    IVF+PQ composition can achieve.

    One kernel pass: codes are query-independent, so the kernel
    gathers all 5 LUTs per vector (fixed subspace order each) and
    emits 5 ADC scores; ground truth reuses the shared cosine panel
    kernel. Note codes here cover ALL vectors (the per-query self-row
    is dropped after scoring), matching the oracle's dists CTE."""
    e = load_table(spark, sf_dir, "embeddings")
    _cb, c_r = _pq_fixture(e)
    qrows = _query_panel(e)
    qmats = np.array([r.embedding for r in qrows], dtype=np.float64).reshape(
        len(qrows), PQ_M, PQ_SUBDIM
    )
    luts = np.round(np.einsum("qsj,csj->qcs", qmats, c_r), 6)  # (5, 16, 8)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _adc_panel(emb: pd.Series) -> pd.Series:
        v = _to_mat(emb).reshape(-1, PQ_M, PQ_SUBDIM)
        codes = pq_dist6(v, c_r).argmin(axis=1)  # (n, 8)
        out = np.zeros((len(v), len(luts)))
        for qi in range(len(luts)):
            out[:, qi] = adc6(codes, luts[qi])
        return pd.Series(out.tolist())

    ef = fan_out(e.select("vec_id", "embedding"), "vec_id")
    adc = panel_rows(ef, qrows, _adc_panel("embedding"), "adc6")
    approx = top_vectors(adc, "qid", _RECALL_K, "adc6")
    return recall_at_k(
        _query_rows(e).select("qid"), approx, _panel_scores(spark, sf_dir)
    )


# ---------------------------------------------------------------------------
# q_e_pq_residual (round 9)
# ---------------------------------------------------------------------------


def _pqr_oracle() -> str:
    srange = f"(SELECT unnest(range(0, {PQ_M})) AS s) AS s"
    dist_case = " ".join(
        f"WHEN {s} THEN {_pq_dist6('r.rv', 'cb.cve', s)}" for s in range(PQ_M)
    )
    lut_case = " ".join(
        f"WHEN {s} THEN {_pq_lut6('q.qv', 'cb.cve', s)}" for s in range(PQ_M)
    )
    parts_cols = ", ".join(
        f"MAX(CASE WHEN k.s = {s} THEN l.l6 END) AS l{s}" for s in range(PQ_M)
    )
    adc_sum = "qc6 + " + " + ".join(f"l{s}" for s in range(PQ_M))
    return f"""
    WITH v AS (SELECT vec_id, label, {_D_VEC} AS ve, {_D_NRM} AS nrm
               FROM embeddings),
    {_d_seed_cells(IVF_NLIST)},
    q AS (SELECT ve AS qv, nrm AS qn FROM v WHERE vec_id = 0),
    {_d_top_cells('(SELECT * FROM v WHERE vec_id <> 0)', 'c', 'vec_id', 1, 'cell')},
    res AS (SELECT v.vec_id, cell.cid,
                   list_transform(range(1, {DIM + 1}),
                                  i -> v.ve[i] - c.cve[i]) AS rv
            FROM v JOIN cell ON v.vec_id = cell.vec_id
                   JOIN c ON cell.cid = c.cid),
    qc AS (SELECT cell.vec_id,
                  round(list_sum(list_transform(range(1, {DIM + 1}),
                                 i -> q.qv[i] * c.cve[i])), 6) AS qc6
           FROM cell JOIN c ON cell.cid = c.cid CROSS JOIN q),
    dists AS (
      SELECT r.vec_id, cb.cid AS pcid, s.s,
             CASE s.s {dist_case} END AS d6
      FROM res r CROSS JOIN c cb CROSS JOIN {srange}
    ),
    codes AS (SELECT vec_id, s, pcid FROM (
                SELECT vec_id, s, pcid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                          ORDER BY d6 ASC, pcid ASC) AS rk
                FROM dists) WHERE rk = 1),
    lut AS (SELECT cb.cid AS pcid, s.s,
                   CASE s.s {lut_case} END AS l6
            FROM c cb CROSS JOIN q CROSS JOIN {srange}),
    parts AS (SELECT k.vec_id, {parts_cols}
              FROM codes k JOIN lut l ON l.pcid = k.pcid AND l.s = k.s
              GROUP BY k.vec_id),
    adc AS (SELECT p.vec_id, round({adc_sum}, 6) AS adc6
            FROM parts p JOIN qc ON p.vec_id = qc.vec_id)
    SELECT a.vec_id, v.label, a.adc6,
           {_d_cos6('v.ve', 'q.qv', 'v.nrm', 'q.qn')} AS cos6
    FROM adc a JOIN v ON a.vec_id = v.vec_id CROSS JOIN q
    ORDER BY a.adc6 DESC, a.vec_id ASC
    LIMIT 20
    """


@query("q_e_pq_residual", oracle=_pqr_oracle())
def q_e_pq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESIDUAL product quantization — the encoding FAISS's IVFADC
    actually deploys (round 9; Jégou et al., TPAMI 2011, §IV.B): each
    vector is quantized as coarse centroid PLUS a PQ code of the
    RESIDUAL x − c(x), and the query score decomposes as q·x ≈
    q·c(x) + Σ_s q_s·cb[code_s]_s — one exact coarse dot plus the LUT
    gather. Residual magnitudes are far smaller than raw vectors, so
    the same 16-entry codebook quantizes them with less distortion —
    THE reason production IVFADC encodes residuals, made measurable
    here by the exact cos6 riding alongside (compare against
    q_e_sim_topk_pq's raw-vector ADC on the same corpus). Completes
    the PQ family: raw-ADC (sim_topk_pq), recall audits, persisted
    serve, and now the residual form.

    Kernel determinism: coarse assignment is the 6-dp argmax-cosine
    with cid tie-break (the module's proven cell spelling); residual
    sub-distances and LUT entries round to 6 dp; the ADC sum
    accumulates qc6 first then the 8 LUT terms in subspace order —
    matching the oracle's left-associated `qc6 + l0 + ... + l7`.

    Scale: codes are 8 bytes + a cid per vector (the storage story is
    unchanged); the kernel is one Arrow pass over the corpus with the
    16-row codebook and the query as literals; scoring reads codes
    only in a deployment — here the encode+score fuse into one pass
    because the corpus fits a single scan."""
    e = load_table(spark, sf_dir, "embeddings")
    crows = sorted(_seed_cells(e, IVF_NLIST).collect(), key=lambda r: r.cid)
    c_mat = np.array([r.cemb for r in crows], dtype=np.float64)
    c_r = c_mat.reshape(IVF_NLIST, PQ_M, PQ_SUBDIM)
    qrow = e.where(F.col("vec_id") == 0).select("embedding").collect()[0]
    q_v = np.array(qrow.embedding, dtype=np.float64)
    q_r = q_v.reshape(PQ_M, PQ_SUBDIM)
    lut = np.round(np.einsum("sj,csj->cs", q_r, c_r), 6)
    qc_all = np.round(c_mat @ q_v, 6)  # q·c per coarse centroid

    @F.pandas_udf(DoubleType())
    def _radc6(emb: pd.Series) -> pd.Series:
        v = _to_mat(emb)
        # argmax with cid-asc tie-break == first maximum
        cell = cos6_panel(v, c_mat).argmax(axis=1)
        r = (v - c_mat[cell]).reshape(-1, PQ_M, PQ_SUBDIM)
        codes = pq_dist6(r, c_r).argmin(axis=1)
        return pd.Series(adc6(codes, lut, qc_all[cell]))

    ef = fan_out(e.where(F.col("vec_id") != 0), "vec_id")
    qv = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qemb"))
    scored = ef.select(
        "vec_id", "label", "embedding", _radc6("embedding").alias("adc6")
    )
    return (
        top_vectors(scored, (), 20, "adc6")
        .join(F.broadcast(qv))
        .select(
            "vec_id", "label", "adc6", _cos6("embedding", "qemb").alias("cos6")
        )
    )


# ---------------------------------------------------------------------------
# q_e_kmeans_iter — one Lloyd's iteration (the IVF-training update step)
# ---------------------------------------------------------------------------

KM_K = 8  # distinct from IVF_NLIST=16 so the two ops exercise different cells

# The k-means seed assignment every cell-scoped oracle starts from: the
# KM_K seed cells c and each vector's nearest cell asg (vec_id, cid, cs,
# rk) — _d_seed_cells and _d_top_cells, the mirrors of _km_assign's
# _seed_cells and top_cells, so the oracle and Spark share one tie rule.
_KM_CTES = f"""v AS (SELECT vec_id, {_D_VEC} AS ve, {_D_NRM} AS nrm FROM embeddings),
    {_d_seed_cells(KM_K)},
    {_d_top_cells('v', 'c', 'vec_id', 1, 'asg')}"""


def _km_assign(spark: SparkSession, sf_dir: str):
    """(assignment, centroids): every vector's nearest seed cell
    (cosine argmax, ties to the smaller cid) + the K-row centroid
    table. The Spark twin of _KM_CTES."""
    e = load_table(spark, sf_dir, "embeddings")
    cent = _seed_cells(e, KM_K)
    rows = e.select("vec_id", "embedding")
    return top_cells(rows, cent, "vec_id", 1).select("vec_id", "cid"), cent



@query(
    "q_e_kmeans_iter",
    oracle=f"""
    WITH {_KM_CTES},
    dims AS (SELECT a.cid,
                    CAST(generate_subscripts(v.ve, 1) AS INT) AS d,
                    unnest(v.ve) AS val
             FROM asg a JOIN v USING (vec_id)),
    newc AS (SELECT cid, d, {davg('val', scale=9)} AS nv
             FROM dims GROUP BY cid, d),
    old AS (SELECT cid, CAST(generate_subscripts(cve, 1) AS INT) AS d,
                   unnest(cve) AS ov
            FROM c),
    sizes AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_assigned
              FROM asg GROUP BY cid)
    SELECT n.cid, s.n_assigned,
           round(sqrt({dsum('(n.nv - o.ov) * (n.nv - o.ov)', scale=12)}), 6)
             AS shift6,
           round({dsum('n.nv', scale=9)}, 6) AS centroid_csum
    FROM newc n JOIN old o USING (cid, d) JOIN sizes s ON n.cid = s.cid
    GROUP BY n.cid, s.n_assigned
    """,
)
def q_e_kmeans_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd's k-means iteration over the embedding corpus — the
    training-update step behind the IVF coarse quantizer
    (q_e_sim_topk_ivf consumes the trained cells): assign every vector
    to its nearest of K=8 deterministic seed centroids (cosine argmax,
    ties to the smaller centroid id), recompute each cell's mean
    vector, and report per cell the membership count, the centroid
    shift ‖new − old‖₂, and a checksum of the new centroid.

    Scale shape: assignment is a broadcast join against the K-row
    centroid table scored in one Arrow pass (no shuffle of vectors);
    the update is a posexplode → (cell, dim) map-side-combinable
    exact-decimal mean — the same two-stage shape a full distributed
    k-means runs per iteration, so this op IS the building block the
    100 TB training loop would call in a driver-side for-loop.
    Old-vs-new deltas are exact-decimal sums, so the emitted shift is
    bit-identical across engines and aggregation orders.
    """
    e = load_table(spark, sf_dir, "embeddings")
    asg, cent = _km_assign(spark, sf_dir)
    dims = (
        asg.join(e, "vec_id")
        .select("cid", F.posexplode(F.col("embedding").cast("array<double>")))
        .select("cid", (F.col("pos") + 1).alias("d"), F.col("col").alias("val"))
    )
    newc = dims.groupBy("cid", "d").agg(F.expr(davg("val", scale=9)).alias("nv"))
    old = cent.select(
        "cid", F.posexplode(F.col("cemb").cast("array<double>"))
    ).select("cid", (F.col("pos") + 1).alias("d"), F.col("col").alias("ov"))
    sizes = asg.groupBy("cid").agg(F.count(F.lit(1)).alias("n_assigned"))
    return (
        newc.join(old, ["cid", "d"])
        .join(F.broadcast(sizes), "cid")
        .groupBy("cid", "n_assigned")
        .agg(
            F.round(
                F.sqrt(F.expr(dsum("(nv - ov) * (nv - ov)", scale=12))), 6
            ).alias("shift6"),
            F.round(F.expr(dsum("nv", scale=9)), 6).alias("centroid_csum"),
        )
    )


# ---------------------------------------------------------------------------
# q_e_kmeans_train — Lloyd's to a fixed round budget (round 7)
# ---------------------------------------------------------------------------

KMT_ROUNDS = 3


def _kmt_rounds(pfx: str = "") -> list:
    """Unrolled 3-round Lloyd's as a dependent CTE chain: each round is
    the q_e_kmeans_iter spelling (cosine argmax assignment, per-dim
    exact-decimal means) re-seeded from the previous round's means —
    the round count is a fixed literal, so the loop unrolls with no
    recursion (the q_e_mmr_diversify oracle discipline). ``pfx``
    prefixes every CTE name AND the training population (``{pfx}v``,
    ``{pfx}seed``) so two independently-trained chains — e.g. the
    round-10 base-slice index next to the full-corpus rebuild — can
    coexist in one WITH body."""
    rounds = []
    prev = f"{pfx}seed"
    vn = f"{pfx}v"
    for r in range(1, KMT_ROUNDS + 1):
        rounds.append(f"""{_d_top_cells(vn, prev, 'vec_id', 1, f'{pfx}asg{r}')},
    {pfx}sz{r} AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_assigned
              FROM {pfx}asg{r} GROUP BY cid),
    {pfx}dm{r} AS (SELECT a.cid,
                     CAST(generate_subscripts(v.ve, 1) AS INT) AS d,
                     unnest(v.ve) AS val
              FROM {pfx}asg{r} a JOIN {vn} AS v USING (vec_id)),
    {pfx}nl{r} AS (SELECT cid, d, {davg('val', scale=9)} AS nv
              FROM {pfx}dm{r} GROUP BY cid, d),
    {pfx}ol{r} AS (SELECT cid, CAST(generate_subscripts(cve, 1) AS INT) AS d,
                     unnest(cve) AS ov
              FROM {prev}),
    {pfx}st{r} AS (SELECT CAST({r} AS BIGINT) AS rnd, n.cid, s.n_assigned,
                     round(sqrt({dsum('(n.nv - o.ov) * (n.nv - o.ov)',
                                      scale=12)}), 6) AS shift6,
                     round({dsum('n.nv', scale=9)}, 6) AS centroid_csum
              FROM {pfx}nl{r} n JOIN {pfx}ol{r} o USING (cid, d)
                   JOIN {pfx}sz{r} s ON n.cid = s.cid
              GROUP BY n.cid, s.n_assigned),
    {pfx}c{r + 1} AS (SELECT cid, cve,
                        sqrt(list_sum(list_transform(cve, x -> x * x)))
                          AS cnrm
                 FROM (SELECT cid, list(nv ORDER BY d) AS cve
                       FROM {pfx}nl{r} GROUP BY cid))""")
        prev = f"{pfx}c{r + 1}"
    return rounds


def _kmt_chain() -> str:
    """The shared WITH-body of the unrolled training chain, ending at
    c{KMT_ROUNDS+1} = the TRAINED centroid list table — consumed by
    q_e_kmeans_train's stats select and q_e_ivf_trained's recall
    audit so the two can never desynchronize."""
    rounds = _kmt_rounds()
    return f"""v AS (SELECT vec_id, {_D_VEC} AS ve, {_D_NRM} AS nrm FROM embeddings),
    {_d_seed_cells(KM_K, 'seed')},
    {','.join(rounds)}"""


# Round-10 append lifecycle: the BASE slice is the corpus as it stood
# when the old index generation was built; the DELTA (vec_id % 5 = 3,
# ~20%) arrives later and is ingested by frozen-codebook encode.
_APPEND_DELTA = "vec_id % 5 = 3"  # DuckDB spelling; Spark uses == 3
_APPEND_BASE = "vec_id % 5 <> 3"


def _kmt_chain_b() -> str:
    """Base-slice training chain (prefix ``b``), ending at
    bc{KMT_ROUNDS+1} — the coarse centroids the OLD index generation
    trained before the delta slice existed. Seeds are the surviving
    members of the standard seed range (vec_id 1..{KM_K} minus the
    delta ids), so the old generation has fewer cells — exactly how a
    stale index differs from a rebuild. Requires ``v`` (the full
    population) to be defined earlier in the WITH body."""
    rounds = _kmt_rounds(pfx="b")
    return f"""bv AS (SELECT vec_id, ve, nrm FROM v WHERE {_APPEND_BASE}),
    {_d_seed_cells(KM_K, 'bseed', 'bv')},
    {','.join(rounds)}"""


def _kmt_oracle() -> str:
    allst = " UNION ALL ".join(
        f"SELECT * FROM st{r}" for r in range(1, KMT_ROUNDS + 1)
    )
    return f"""
    WITH {_kmt_chain()}
    SELECT rnd, cid, n_assigned, shift6, centroid_csum
    FROM ({allst}) ORDER BY rnd, cid
    """


_KMT_ASG_SCHEMA = "cid long, embedding array<float>"


def _kmt_cos6(v: np.ndarray, c: np.ndarray) -> np.ndarray:
    """(n, K) 6-dp cosines of n vectors against K centroids: each
    centroid is tiled into a contiguous (n, DIM) block and scored by
    _cos6_rows, so every score has the per-pair _cos6 UDF's bits."""
    return np.column_stack([_cos6_rows(v, np.tile(ck, (len(v), 1))) for ck in c])


def _kmt_assign(cent: list[tuple[int, list[float]]]):
    """mapInPandas kernel for one Lloyd's assignment: scores every
    (vec_id, embedding) row against the round's K×D centroid panel
    (closed over from the driver, columns in cid order) and emits
    (cid, embedding) for the argmax. np.argmax keeps the FIRST
    maximum, so ties go to the smaller cid, and it ranks NaN above
    every number — both as the oracle's `ORDER BY cs DESC, cid ASC`
    ranks them. One pass, no pair rows, no shuffle, no join back."""
    cent = sorted(cent)
    cids = np.array([cid for cid, _ in cent], dtype=np.int64)
    c = np.array([arr for _, arr in cent], dtype=np.float64)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(cids) == 0:
                yield pd.DataFrame(
                    {
                        "cid": pd.Series(dtype="int64"),
                        "embedding": pd.Series(dtype="object"),
                    }
                )
                continue
            cs = _kmt_cos6(_to_mat(pdf["embedding"]), c)
            yield pd.DataFrame(
                {"cid": cids[np.argmax(cs, axis=1)], "embedding": pdf["embedding"]}
            )

    return assign


def _kmt_train(spark: SparkSession, sf_dir: str, where: str | None = None):
    """3-round Lloyd's over the embeddings table (optionally filtered
    to a population slice, e.g. the round-10 append lifecycle's base
    slice); returns (stats_rows, trained centroids), a scoped_value per
    (app, sf, slice) — shared by q_e_kmeans_train (stats) and
    q_e_ivf_trained (centroids) so the loop runs once. It holds only
    collected driver-side lists: each round persists nothing."""
    return scoped_value(
        spark,
        sf_dir,
        f"kmt_train:{where or ''}",
        lambda: _kmt_lloyd(spark, sf_dir, where),
    )


def _kmt_lloyd(spark: SparkSession, sf_dir: str, where: str | None):
    """Each round is one assignment pass (the _kmt_assign Arrow kernel),
    one (cid, d) mean aggregate whose count(*) is the cell size, and
    one stats aggregate that also collects the new centroid per cell —
    so a single collect() per round returns both the stats rows and
    the next centroids: 3 jobs per round, 10 for the cold build with
    the seed collect. The old centroids the shift is measured against
    are a map literal of the round's closed-over panel, so no frame is
    joined or broadcast for them."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    if where is not None:
        e = e.where(F.expr(where))
    seeds = sorted(_seed_cells(e, KM_K).collect(), key=lambda r: r.cid)
    cent: list[tuple[int, list[float]]] = [
        (int(r.cid), [float(x) for x in r.cemb]) for r in seeds
    ]
    stats_rows: list[tuple] = []
    for rnd in range(1, KMT_ROUNDS + 1):
        newc = (
            e.mapInPandas(_kmt_assign(cent), _KMT_ASG_SCHEMA)
            .select(
                "cid", F.posexplode(F.col("embedding").cast("array<double>"))
            )
            .groupBy("cid", (F.col("pos") + 1).alias("d"))
            .agg(
                F.expr(davg("col", scale=9)).alias("nv"),
                F.count(F.lit(1)).alias("n_assigned"),
            )
        )
        # ov = the old centroid's d-th value, looked up in a cid → vector
        # map literal of the closed-over centroids. repr round-trips each
        # double exactly; one SQL parse takes ~1 ms where building 512
        # F.lit columns takes ~0.3 s of Py4J calls (4-vCPU VM)
        old = ", ".join(
            f"{cid}L, array({', '.join(f'{float(v)!r}D' for v in arr)})"
            for cid, arr in cent
        )
        rows = (
            newc.withColumn("ov", F.expr(f"element_at(element_at(map({old}), cid), d)"))
            .groupBy("cid", "n_assigned")
            .agg(
                F.round(
                    F.sqrt(F.expr(dsum("(nv - ov) * (nv - ov)", scale=12))), 6
                ).alias("shift6"),
                F.round(F.expr(dsum("nv", scale=9)), 6).alias("centroid_csum"),
                F.sort_array(F.collect_list(F.struct("d", "nv"))).alias("cv"),
            )
            .collect()
        )
        stats_rows.extend(
            (rnd, r.cid, r.n_assigned, r.shift6, r.centroid_csum) for r in rows
        )
        cent = [
            (r.cid, [x.nv for x in r.cv])
            for r in sorted(rows, key=lambda r: r.cid)
        ]
    return sorted(stats_rows), cent


@query("q_e_kmeans_train", oracle=_kmt_oracle())
def q_e_kmeans_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means TRAINING to a fixed 3-round budget (round 7 —
    the loop q_e_kmeans_iter is one step of, run the way a 100 TB
    deployment runs it: a driver-side for-loop of bounded distributed
    rounds, the q_e_cc_stars round-budget discipline applied to
    Lloyd's): round 1 assigns against the deterministic seeds
    (vec_id 1..K, cosine argmax, ties to the smaller cid) and each
    later round re-assigns against the previous round's exact-decimal
    per-dim means. Reports per (round, cell): membership count,
    centroid shift ‖new − old‖₂, and the new-centroid checksum — the
    convergence trace an IVF/SemDeDup training job logs.

    Determinism across rounds: each round's centroids are davg
    (exact-decimal, scale 9) doubles — identical bits in both engines
    — and the next round's cosines are 6-dp-rounded off those same
    doubles, so assignment ties break identically forever. The K×D
    centroid panel collected between rounds is the bounded-codebook
    idiom of kmeans_iter/ivf_pq (K·D = 512 doubles, corpus-size-
    independent). Per round the corpus is read ONCE: the _kmt_assign
    Arrow kernel scores each vector against the panel it closes over,
    with _cos6's bits, and emits (cid, embedding) straight into the
    posexplode mean agg, whose count(*) is the cell size; the stats agg
    reads each (cid, d)'s old value from a literal of the closed-over
    panel and also collects each cell's new centroid — so one collect()
    per round, 3 jobs (10 for the cold build with the seed collect),
    and nothing persisted. The result is a tables.local_frame relation
    (a LocalTableScan, no Python task). Empty cells shrink K
    identically in both engines (no re-seeding — documented Lloyd
    behavior)."""
    from pyspark.sql import types as T

    stats_rows, _cent = _kmt_train(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("rnd", T.LongType()),
            T.StructField("cid", T.LongType()),
            T.StructField("n_assigned", T.LongType()),
            T.StructField("shift6", T.DoubleType()),
            T.StructField("centroid_csum", T.DoubleType()),
        ]
    )
    return local_frame(spark, stats_rows, schema).orderBy("rnd", "cid")


# ---------------------------------------------------------------------------
# q_e_semdedup — cluster-scoped embedding dedup (SemDeDup shape)
# ---------------------------------------------------------------------------

SEMDEDUP_THR = 0.4  # same cosine bar as q_e_dedup_embed for comparability


@query(
    "q_e_semdedup",
    oracle=f"""
    WITH {_KM_CTES},
    pairs AS (
      SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b
      FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN v x ON a.vec_id = x.vec_id JOIN v y ON b.vec_id = y.vec_id
      WHERE {_d_cos6('x.ve', 'y.ve', 'x.nrm', 'y.nrm')} >= {SEMDEDUP_THR}
    )
    SELECT id_b AS vec_id, MIN(cid) AS cell, MIN(id_a) AS keep_id,
           CAST(COUNT(*) AS BIGINT) AS n_dups
    FROM pairs GROUP BY id_b
    """,
)
def q_e_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): assign every
    vector to its k-means cell (shared spelling with q_e_kmeans_iter),
    then search for cosine near-duplicates ONLY within each cell and
    drop each pair's higher id — the cluster-then-dedup-within-cluster
    pattern that makes embedding dedup tractable at corpus scale.

    Scale shape: the pairwise stage is O(Σ|cell|²), NOT O(n²) — the
    SemDeDup contract is that k grows with n so cells stay bounded
    (the paper uses k=50k for LAION-440M ⇒ ~9k vectors/cell); the
    within-cell self-join shuffles on cell id only. Complementary to
    q_e_dedup_embed (SRP-banded, global): clustering trades the
    banding's probabilistic recall for deterministic in-cell
    completeness at the cost of missing cross-cell pairs.
    """
    e = load_table(spark, sf_dir, "embeddings")
    asg, _cent = _km_assign(spark, sf_dir)
    asg = asg.join(e.select("vec_id", "embedding"), "vec_id")
    pairs = (
        _cell_pair_scores(asg, unordered=True)
        .select(
            "cid",
            F.col("vec_id").alias("id_a"),
            F.col("nbr").alias("id_b"),
            F.col("cs").alias("cos"),
        )
        .where(F.col("cos") >= SEMDEDUP_THR)
    )
    return pairs.groupBy("id_b").agg(
        F.min("cid").alias("cell"),
        F.min("id_a").alias("keep_id"),
        F.count(F.lit(1)).alias("n_dups"),
    ).select(F.col("id_b").alias("vec_id"), "cell", "keep_id", "n_dups")


@query(
    "q_e_cluster_balance",
    oracle=f"""
    WITH {_KM_CTES},
    sizes AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n FROM asg GROUP BY cid),
    tot AS (SELECT SUM(n) AS t, CAST(COUNT(*) AS BIGINT) AS k,
                   SUM(n * n) AS ss
            FROM sizes)
    SELECT s.cid, s.n,
           round(CAST(s.n AS DOUBLE) / tot.t, 6) AS share6,
           round(sqrt(CAST(tot.k * tot.ss - tot.t * tot.t AS DOUBLE))
                 / tot.t, 6) AS cv6
    FROM sizes s CROSS JOIN tot
    """,
)
def q_e_cluster_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF/k-means cell-balance audit: each cell's membership share
    plus the population coefficient of variation of cell sizes — the
    health check run before trusting an IVF index (a skewed cell
    turns nprobe pruning into a full scan and one reducer into the
    straggler).

    CV is computed from exact integer moments (√(K·Σn² − (Σn)²)/Σn),
    so the emitted doubles are bit-identical across engines. Reuses
    the shared _km_assign cell assignment; the audit itself is a
    K-row aggregate joined against a 1-row total — free at any scale.
    """
    asg, _cent = _km_assign(spark, sf_dir)
    sizes = asg.groupBy("cid").agg(F.count(F.lit(1)).alias("n"))
    tot = sizes.agg(
        F.sum("n").alias("t"),
        F.count(F.lit(1)).alias("k"),
        F.sum(F.col("n") * F.col("n")).alias("ss"),
    )
    return sizes.crossJoin(F.broadcast(tot)).select(
        "cid",
        "n",
        F.round(F.col("n").cast("double") / F.col("t"), 6).alias("share6"),
        F.round(
            F.sqrt((F.col("k") * F.col("ss") - F.col("t") * F.col("t")).cast("double"))
            / F.col("t"),
            6,
        ).alias("cv6"),
    )


@query(
    "q_e_knn_graph",
    oracle=f"""
    WITH {_KM_CTES},
    members AS (
      SELECT a.vec_id, a.cid, v.ve, v.nrm
      FROM asg a JOIN v USING (vec_id)
    ),
    edges AS (
      SELECT x.vec_id, x.cid,
             {_d_cos6('x.ve', 'y.ve', 'x.nrm', 'y.nrm')} AS cs,
             y.vec_id AS nbr
      FROM members x JOIN members y
        ON x.cid = y.cid AND x.vec_id <> y.vec_id
    ),
    ranked AS (
      SELECT vec_id, cid, cs,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cs DESC, nbr ASC) AS rk
      FROM edges
    ),
    per_node AS (
      SELECT vec_id, cid,
             COUNT(*) AS k_got,
             round(CAST(SUM(CAST(cs AS DECIMAL(30,6))) AS DOUBLE)
                   / COUNT(*), 6) AS knn_mean,
             MIN(cs) AS knn_min
      FROM ranked WHERE rk <= 5 GROUP BY vec_id, cid
    )
    SELECT p.vec_id, p.cid, s.n_cell, p.k_got, p.knn_mean,
           round(p.knn_min, 6) AS knn_min
    FROM per_node p
    JOIN (SELECT cid, COUNT(*) AS n_cell FROM asg GROUP BY cid) s
      ON p.cid = s.cid
    WHERE p.vec_id % 7 = 0
    """,
)
def q_e_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN graph construction (k=5) scoped to k-means cells — the
    edge-building pass of graph-based dedup/diversity methods
    (SemDeDup's neighborhoods, kNN-density pruning): per node, the
    mean and worst similarity of its 5 nearest in-cell neighbors plus
    its cell size (sampled 1-in-7 nodes for the ledger).

    Same O(Σ|cell|²)-never-O(n²) bound as q_e_semdedup: the shared
    broadcast-centroid assignment scopes the pair expansion to cells,
    the rank window and rollups ride the (vec_id) partitioning. At
    100 TB the in-cell pair scoring becomes the IVF-bucketed Arrow
    kernel (q_e_sim_topk_ivf's shape) — the graph shape is unchanged."""
    e = load_table(spark, sf_dir, "embeddings")
    asg, _cent = _km_assign(spark, sf_dir)
    members = asg.join(e, "vec_id").select("vec_id", "cid", "embedding")
    # The ledger sample depends only on the NODE side, so it pushes
    # into the pair kernel (anchor_mod): 1/7 of the pair scoring
    # instead of scoring the full graph and discarding 6/7 afterwards.
    edges = _cell_pair_scores(members, anchor_mod=(7, 0))
    w = Window.partitionBy("vec_id").orderBy(F.col("cs").desc(), F.col("nbr").asc())
    ranked = edges.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 5)
    per_node = ranked.groupBy("vec_id", "cid").agg(
        F.count(F.lit(1)).alias("k_got"),
        F.round(
            F.sum(F.col("cs").cast("decimal(30,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("knn_mean"),
        F.round(F.min("cs"), 6).alias("knn_min"),
    )
    sizes = asg.groupBy("cid").agg(F.count(F.lit(1)).alias("n_cell"))
    return (
        per_node.join(F.broadcast(sizes), "cid")
        .select("vec_id", "cid", "n_cell", "k_got", "knn_mean", "knn_min")
    )


@query(
    "q_e_diversity_sample",
    oracle=f"""
    WITH {_KM_CTES},
    ranked AS (
      SELECT vec_id, cid, cs,
             ROW_NUMBER() OVER (PARTITION BY cid ORDER BY cs DESC, vec_id ASC)
               AS rk_proto,
             ROW_NUMBER() OVER (PARTITION BY cid ORDER BY cs ASC, vec_id ASC)
               AS rk_edge
      FROM asg
    )
    SELECT cid, vec_id,
           CASE WHEN rk_proto <= 5 THEN 'prototype' ELSE 'boundary' END AS role,
           round(cs, 6) AS centroid_cos
    FROM ranked
    WHERE rk_proto <= 5 OR rk_edge <= 5
    """,
)
def q_e_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic diversity coreset: per k-means cell, the 5
    prototypes (nearest the centroid) AND the 5 boundary points
    (farthest) — the cheap stand-in for facility-location coreset
    selection when curating a representative eval/finetune slice:
    prototypes cover the modes, boundary points cover the tails.
    A point that is both (tiny cell) reports as prototype.

    One shared cell assignment (broadcast centroids), two rank windows
    on the SAME (cid) partitioning, no pair expansion at all. Output
    is K·10 rows regardless of corpus size."""
    e = load_table(spark, sf_dir, "embeddings")
    asg, cent = _km_assign(spark, sf_dir)
    scored = (
        asg.join(e, "vec_id")
        .join(F.broadcast(cent), "cid")
        .select("vec_id", "cid", _cos6("embedding", "cemb").alias("cs"))
    )
    we = Window.partitionBy("cid").orderBy(F.col("cs").asc(), F.col("vec_id").asc())
    ranked = top_vectors(scored, "cid", None, "cs", "rk_proto").withColumn(
        "rk_edge", F.row_number().over(we)
    )
    return (
        ranked.where((F.col("rk_proto") <= 5) | (F.col("rk_edge") <= 5))
        .select(
            "cid",
            "vec_id",
            F.when(F.col("rk_proto") <= 5, "prototype")
            .otherwise("boundary")
            .alias("role"),
            F.round("cs", 6).alias("centroid_cos"),
        )
    )


@query(
    "q_e_label_balance",
    oracle="""
    WITH per AS (SELECT label, COUNT(*) AS n FROM embeddings GROUP BY label),
    tot AS (SELECT SUM(n) AS total, COUNT(*) AS k FROM per)
    SELECT per.label, per.n,
           round(CAST(per.n AS DOUBLE) / tot.total, 6) AS share,
           round(CAST(tot.total AS DOUBLE) / (tot.k * per.n), 6) AS weight
    FROM per CROSS JOIN tot ORDER BY per.label
    """,
)
def q_e_label_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-imbalance ledger: per label its corpus share and the
    inverse-frequency resampling weight N/(K·n) that equalizes
    expected class mass — the rebalancing input of any labeled
    training mixture. One combinable groupBy + a 1-row broadcast
    total; the weights are pure per-row IEEE arithmetic."""
    e = load_table(spark, sf_dir, "embeddings")
    per = e.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    tot = per.agg(F.sum("n").alias("total"), F.count(F.lit(1)).alias("k"))
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "label",
            "n",
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
            F.round(
                F.col("total").cast("double") / (F.col("k") * F.col("n")), 6
            ).alias("weight"),
        )
        .orderBy("label")
    )


@query(
    "q_e_ann_cost",
    oracle=f"""
    WITH v AS (SELECT vec_id, {_D_VEC} AS ve, {_D_NRM} AS nrm FROM embeddings),
    {_d_seed_cells(IVF_NLIST)},
    {_d_top_cells('v', 'c', 'vec_id', 1, 'cell')},
    sizes AS (SELECT cid, COUNT(*) AS n FROM cell GROUP BY cid),
    {_d_query_rows()},
    {_d_top_cells('qv', 'c', 'qid', IVF_NPROBE, 'probes')},
    tot AS (SELECT COUNT(*) AS n_total FROM cell)
    SELECT p.qid,
           CAST(SUM(s.n) AS BIGINT) AS n_probed,
           tot.n_total,
           round(CAST(SUM(s.n) AS DOUBLE) / tot.n_total, 6) AS scan_frac,
           array_to_string(list_sort(list(p.cid)), ',') AS probed_cids
    FROM probes p JOIN sizes s ON p.cid = s.cid CROSS JOIN tot
    GROUP BY p.qid, tot.n_total ORDER BY p.qid
    """,
)
def q_e_ann_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe-cost ledger: for each panel query, how many vectors
    the nprobe=4 probe actually scans vs the brute-force N, with the
    probed cell list — the capacity-planning number an ANN deployment
    reads before fixing (nlist, nprobe): scan_frac ≈ nprobe/nlist only
    when cells are balanced (q_e_cluster_balance measures that skew).

    Pure derived ledger over the SAME cell assignment q_e_sim_topk_ivf
    uses — broadcast centroid scoring + argmax window + cell-size
    aggregate; the 5×16 probe ranking is constant-sized. Nothing here
    touches raw vectors beyond the one assignment pass."""
    e = load_table(spark, sf_dir, "embeddings")
    cent = _seed_cells(e, IVF_NLIST)
    cell = top_cells(e, cent, "vec_id", 1).select("vec_id", "cid")
    sizes = cell.groupBy("cid").agg(F.count(F.lit(1)).alias("n"))
    probes = top_cells(_query_rows(e), cent, "qid", IVF_NPROBE).select("qid", "cid")
    tot = cell.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        probes.join(sizes, "cid")
        .groupBy("qid")
        .agg(
            F.sum("n").alias("n_probed"),
            F.array_join(F.sort_array(F.collect_list("cid")), ",").alias(
                "probed_cids"
            ),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "qid",
            "n_probed",
            "n_total",
            F.round(F.col("n_probed").cast("double") / F.col("n_total"), 6).alias(
                "scan_frac"
            ),
            "probed_cids",
        )
        .orderBy("qid")
    )


@query(
    "q_e_cluster_purity",
    oracle=f"""
    WITH {_KM_CTES},
    lab AS (
      SELECT a.cid, e.label FROM asg a JOIN embeddings e
        ON a.vec_id = e.vec_id
    ),
    cells AS (
      SELECT cid, label, COUNT(*) AS n FROM lab GROUP BY cid, label
    ),
    per_cell AS (
      SELECT cid, CAST(SUM(n) AS BIGINT) AS n_cell, MAX(n) AS n_major,
             COUNT(*) AS n_labels
      FROM cells GROUP BY cid
    )
    SELECT cid, n_cell, n_labels,
           round(CAST(n_major AS DOUBLE) / n_cell, 6) AS purity
    FROM per_cell ORDER BY cid
    """,
)
def q_e_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-quality audit: per k-means cell, the majority-label
    share (purity) and label spread — the cheap external-validation
    number that says whether the cells the IVF/SemDeDup/coreset ops
    trust actually align with semantics (labels). Low purity ⇒ the
    centroids need retraining before cell-scoped dedup is safe.

    Shared broadcast-centroid assignment + two combinable
    aggregations on the (cid) partitioning; output is K rows."""
    e = load_table(spark, sf_dir, "embeddings")
    asg, _cent = _km_assign(spark, sf_dir)
    lab = asg.join(e.select("vec_id", "label"), "vec_id")
    cells = lab.groupBy("cid", "label").agg(F.count(F.lit(1)).alias("n"))
    per_cell = cells.groupBy("cid").agg(
        F.sum("n").alias("n_cell"),
        F.max("n").alias("n_major"),
        F.count(F.lit(1)).alias("n_labels"),
    )
    return per_cell.select(
        "cid",
        "n_cell",
        "n_labels",
        F.round(F.col("n_major").cast("double") / F.col("n_cell"), 6).alias(
            "purity"
        ),
    ).orderBy("cid")


@query(
    "q_e_nmi",
    oracle=f"""
    WITH {_KM_CTES},
    lab AS (
      SELECT a.cid, e.label FROM asg a JOIN embeddings e
        ON a.vec_id = e.vec_id
    ),
    n AS (SELECT COUNT(*) AS nt FROM lab),
    joint AS (SELECT cid, label, COUNT(*) AS nij FROM lab GROUP BY cid, label),
    rowm AS (SELECT cid, SUM(nij) AS ni FROM joint GROUP BY cid),
    colm AS (SELECT label, SUM(nij) AS nj FROM joint GROUP BY label),
    mi AS (
      SELECT SUM(CAST(
        CAST(j.nij AS DOUBLE) / n.nt
        * round(ln((CAST(j.nij AS DOUBLE) * n.nt)
                   / (CAST(r.ni AS DOUBLE) * c.nj)), 6)
        AS DECIMAL(30,12))) AS i
      FROM joint j JOIN rowm r ON j.cid = r.cid
                   JOIN colm c ON j.label = c.label
      CROSS JOIN n
    ),
    hr AS (
      SELECT SUM(CAST(-(CAST(ni AS DOUBLE) / n.nt)
                  * round(ln(CAST(ni AS DOUBLE) / n.nt), 6)
                  AS DECIMAL(30,12))) AS h
      FROM rowm CROSS JOIN n
    ),
    hc AS (
      SELECT SUM(CAST(-(CAST(nj AS DOUBLE) / n.nt)
                  * round(ln(CAST(nj AS DOUBLE) / n.nt), 6)
                  AS DECIMAL(30,12))) AS h
      FROM colm CROSS JOIN n
    )
    SELECT round(CAST(mi.i AS DOUBLE), 6) AS mutual_info,
           round(CAST(hr.h AS DOUBLE), 6) AS h_cells,
           round(CAST(hc.h AS DOUBLE), 6) AS h_labels,
           round(CAST(mi.i AS DOUBLE)
                 / sqrt(CAST(hr.h AS DOUBLE) * CAST(hc.h AS DOUBLE)), 6)
             AS nmi
    FROM mi CROSS JOIN hr CROSS JOIN hc
    """,
)
def q_e_nmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized mutual information between k-means cells and labels
    (geometric normalization) — the scale-invariant companion to
    q_e_cluster_purity: purity rewards many tiny clusters, NMI does
    not. One ledger row: MI, both entropies, NMI.

    Determinism: every ln is rounded to 6 dp per TERM; each term
    (ratio × rounded-log) is cast to DECIMAL(30,12) before the sum, so
    the aggregation is order-insensitive — the K×L joint table is tiny
    but crosses partitions. The data pass is the one shared centroid
    assignment; everything after runs on ≤ K·L rows."""
    e = load_table(spark, sf_dir, "embeddings")
    asg, _cent = _km_assign(spark, sf_dir)
    lab = asg.join(e.select("vec_id", "label"), "vec_id")
    nt = lab.agg(F.count(F.lit(1)).alias("nt"))
    joint = lab.groupBy("cid", "label").agg(F.count(F.lit(1)).alias("nij"))
    rowm = joint.groupBy("cid").agg(F.sum("nij").alias("ni"))
    colm = joint.groupBy("label").agg(F.sum("nij").alias("nj"))
    mi_term = F.expr(
        "CAST(CAST(nij AS DOUBLE) / nt"
        " * round(ln((CAST(nij AS DOUBLE) * nt) / (CAST(ni AS DOUBLE) * nj)), 6)"
        " AS DECIMAL(30,12))"
    )
    mi = (
        joint.join(rowm, "cid")
        .join(colm, "label")
        .crossJoin(F.broadcast(nt))
        .agg(F.sum(mi_term).alias("i"))
    )
    hr = (
        rowm.crossJoin(F.broadcast(nt))
        .agg(
            F.sum(
                F.expr(
                    "CAST(-(CAST(ni AS DOUBLE) / nt)"
                    " * round(ln(CAST(ni AS DOUBLE) / nt), 6) AS DECIMAL(30,12))"
                )
            ).alias("h")
        )
    )
    hc = (
        colm.crossJoin(F.broadcast(nt))
        .agg(
            F.sum(
                F.expr(
                    "CAST(-(CAST(nj AS DOUBLE) / nt)"
                    " * round(ln(CAST(nj AS DOUBLE) / nt), 6) AS DECIMAL(30,12))"
                )
            ).alias("h")
        )
    )
    hr = hr.select(F.col("h").alias("h_r"))
    hc = hc.select(F.col("h").alias("h_c"))
    return (
        mi.crossJoin(F.broadcast(hr))
        .crossJoin(F.broadcast(hc))
        .select(
            F.round(F.col("i").cast("double"), 6).alias("mutual_info"),
            F.round(F.col("h_r").cast("double"), 6).alias("h_cells"),
            F.round(F.col("h_c").cast("double"), 6).alias("h_labels"),
            F.round(
                F.col("i").cast("double")
                / F.sqrt(
                    F.col("h_r").cast("double") * F.col("h_c").cast("double")
                ),
                6,
            ).alias("nmi"),
        )
    )


@query(
    "q_e_embed_outliers",
    oracle=f"""
    WITH {_KM_CTES},
    stats AS (
      SELECT cid, COUNT(*) AS n,
             CAST(SUM(CAST(cs AS DECIMAL(30,6))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(cs * cs AS DECIMAL(30,12))) AS DOUBLE) AS s2
      FROM asg GROUP BY cid
    )
    SELECT o.vec_id, o.cid, round(o.cs, 6) AS centroid_cos,
           round((o.cs - s.s1 / s.n)
                 / sqrt(greatest(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n),
                                 1e-12)), 6) AS z
    FROM asg o JOIN stats s ON o.cid = s.cid
    WHERE s.n >= 10
      AND (o.cs - s.s1 / s.n)
          / sqrt(greatest(s.s2 / s.n - (s.s1 / s.n) * (s.s1 / s.n), 1e-12))
          < -2.0
    """,
)
def q_e_embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier screen: vectors sitting more than 2σ FARTHER
    from their own cell centroid than the cell's norm — the cheap
    poisoning/garbage detector run before embeddings feed dedup or
    retrieval (a mis-embedded object lands far from every centroid).
    Emits each flagged vector with its centroid cosine and z-score.

    cs² of a 6-dp value has exactly 12 decimals, so both moments are
    EXACT decimal sums; floats only in the final mean/σ/z — same
    discipline as q_a_anomaly_days. One shared assignment pass + a
    K-row stats aggregate joined back on the cell partitioning."""
    e = load_table(spark, sf_dir, "embeddings")
    asg, cent = _km_assign(spark, sf_dir)
    own = (
        asg.join(e, "vec_id")
        .join(F.broadcast(cent), "cid")
        .select("vec_id", "cid", _cos6("embedding", "cemb").alias("cs"))
    )
    stats = own.groupBy("cid").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cs").cast("decimal(30,6)")).cast("double").alias("s1"),
        F.sum((F.col("cs") * F.col("cs")).cast("decimal(30,12)"))
        .cast("double")
        .alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.greatest(F.col("s2") / F.col("n") - mean * mean, F.lit(1e-12))
    z = (F.col("cs") - mean) / F.sqrt(var)
    return (
        own.join(stats, "cid")
        .where((F.col("n") >= 10) & (z < -2.0))
        .select(
            "vec_id",
            "cid",
            F.round("cs", 6).alias("centroid_cos"),
            F.round(z, 6).alias("z"),
        )
    )


@query(
    "q_e_ivf_pq",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, {_D_VEC} AS ve, {_D_NRM} AS nrm FROM embeddings),
    {_d_seed_cells(IVF_NLIST)},
    q AS (SELECT ve AS qv, nrm AS qn FROM v WHERE vec_id = 0),
    ck AS (SELECT vec_id AS cid, ve AS cv FROM v
           WHERE vec_id BETWEEN 1 AND {PQ_K}),
    {_d_top_cells('(SELECT * FROM v WHERE vec_id <> 0)', 'c', 'vec_id', 1, 'cell')},
    {_d_top_cells('q', 'c', (), IVF_NPROBE, 'probe')},
    cand AS (SELECT cell.vec_id FROM cell JOIN probe USING (cid)),
    dists AS (
      SELECT v.vec_id, ck.cid, s.s,
             CASE s.s {' '.join(f"WHEN {s} THEN {_pq_dist6('v.ve', 'ck.cv', s)}" for s in range(PQ_M))} END AS d6
      FROM v JOIN cand USING (vec_id), ck, (SELECT unnest(range(0, {PQ_M})) AS s) s
    ),
    codes AS (
      SELECT vec_id, s, cid FROM (
        SELECT vec_id, s, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY d6 ASC, cid ASC) AS rk
        FROM dists
      ) WHERE rk = 1
    ),
    lut AS (
      SELECT ck.cid, s.s,
             CASE s.s {' '.join(f"WHEN {s} THEN {_pq_lut6('q.qv', 'ck.cv', s)}" for s in range(PQ_M))} END AS l6
      FROM ck, q, (SELECT unnest(range(0, {PQ_M})) AS s) s
    ),
    parts AS (
      SELECT codes.vec_id,
             {', '.join(f"MAX(CASE WHEN codes.s = {s} THEN lut.l6 END) AS l{s}" for s in range(PQ_M))}
      FROM codes JOIN lut ON codes.cid = lut.cid AND codes.s = lut.s
      GROUP BY codes.vec_id
    ),
    adc AS (
      SELECT vec_id,
             round({'(' * (PQ_M - 1)}l0{''.join(f" + l{s})" for s in range(1, PQ_M))}, 6) AS adc6
      FROM parts
    )
    SELECT a.vec_id, v.label, a.adc6,
           {_d_cos6('v.ve', 'q.qv', 'v.nrm', 'q.qn')} AS cos6
    FROM adc a JOIN v ON a.vec_id = v.vec_id, q
    ORDER BY a.adc6 DESC, a.vec_id ASC
    LIMIT 20
    """,
)
def q_e_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed index — the configuration real ANN systems
    deploy (FAISS IVFx,PQy): the coarse quantizer routes the query to
    nprobe=4 of nlist=16 cells, and only vectors in probed cells are
    scored, by asymmetric-distance LUT gather instead of a full dot
    product. Composes the verified q_e_sim_topk_ivf routing with the
    verified q_e_sim_topk_pq kernel; exact cosine rides along so the
    two-level approximation error is visible per row (round 3).

    At 100 TB this is both the scan story (probe = partition pruning
    on the cell key: read nprobe/nlist of the table) AND the memory
    story (8-byte codes, 32x smaller than raw vectors); the 128-entry
    LUT and the probe list are broadcast literals. Collects are the
    bounded codebook/query panels (16+1 rows), per the module
    convention."""
    e = load_table(spark, sf_dir, "embeddings")
    cent = _seed_cells(e, IVF_NLIST)
    cell = top_cells(e.where(F.col("vec_id") != 0), cent, "vec_id", 1).select(
        "vec_id", "cid"
    )
    qv = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qemb"))
    probe = top_cells(e.where(F.col("vec_id") == 0), cent, (), IVF_NPROBE).select("cid")
    _adc6 = _pq_adc_kernel(e)
    cand = cell.join(F.broadcast(probe), "cid").select("vec_id")
    ef = fan_out(e.join(cand, "vec_id"), "vec_id")
    scored = ef.select("vec_id", "label", "embedding", _adc6("embedding").alias("adc6"))
    return (
        top_vectors(scored, (), 20, "adc6")
        .join(F.broadcast(qv))
        .select("vec_id", "label", "adc6", _cos6("embedding", "qemb").alias("cos6"))
    )


@query(
    "q_e_hubness",
    oracle=f"""
    WITH {_KM_CTES},
    members AS (
      SELECT a.vec_id, a.cid, v.ve, v.nrm
      FROM asg a JOIN v USING (vec_id)
    ),
    edges AS (
      SELECT x.vec_id, x.cid,
             {_d_cos6('x.ve', 'y.ve', 'x.nrm', 'y.nrm')} AS cs,
             y.vec_id AS nbr
      FROM members x JOIN members y
        ON x.cid = y.cid AND x.vec_id <> y.vec_id
    ),
    ranked AS (
      SELECT vec_id, cid, nbr,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cs DESC, nbr ASC) AS rk
      FROM edges
    ),
    indeg AS (
      SELECT cid, nbr, COUNT(*) AS d
      FROM ranked WHERE rk <= 5 GROUP BY cid, nbr
    ),
    sizes AS (SELECT cid, COUNT(*) AS n_cell FROM asg GROUP BY cid)
    SELECT i.cid, s.n_cell,
           COUNT(*) AS n_reached,
           CAST(s.n_cell - COUNT(*) AS BIGINT) AS n_antihubs,
           MAX(i.d) AS max_indeg,
           COUNT(*) FILTER (WHERE i.d >= 8) AS n_hubs
    FROM indeg i JOIN sizes s ON i.cid = s.cid
    GROUP BY i.cid, s.n_cell
    ORDER BY i.cid
    """,
)
def q_e_hubness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit of the in-cell kNN graph (round 3): the in-degree
    distribution of k=5 neighbor lists per cell — hubs (in-degree ≥ 8)
    dominate neighbor lists and degrade ANN recall/dedup quality in
    high dimensions (Radovanović et al.); antihubs (never anyone's
    neighbor) are the unreachable tail. The standard diagnostic run
    before trusting a kNN-based dedup or retrieval stage.

    Same O(Σ|cell|²) cell-scoped bound as q_e_knn_graph (shared
    broadcast-centroid assignment); the in-degree flip is one extra
    map-side-combinable (cid, nbr) aggregation riding the same keys,
    then a 16-row rollup."""
    e = load_table(spark, sf_dir, "embeddings")
    asg, _cent = _km_assign(spark, sf_dir)
    members = asg.join(e, "vec_id").select("vec_id", "cid", "embedding")
    edges = _cell_pair_scores(members)
    w = Window.partitionBy("vec_id").orderBy(F.col("cs").desc(), F.col("nbr").asc())
    ranked = edges.withColumn("rk", F.row_number().over(w)).where(F.col("rk") <= 5)
    indeg = ranked.groupBy("cid", "nbr").agg(F.count(F.lit(1)).alias("d"))
    sizes = asg.groupBy("cid").agg(F.count(F.lit(1)).alias("n_cell"))
    return (
        indeg.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_reached"),
            F.max("d").alias("max_indeg"),
            F.count(F.when(F.col("d") >= 8, 1)).alias("n_hubs"),
        )
        .join(F.broadcast(sizes), "cid")
        .select(
            "cid",
            "n_cell",
            "n_reached",
            (F.col("n_cell") - F.col("n_reached")).cast("long").alias("n_antihubs"),
            "max_indeg",
            "n_hubs",
        )
        .orderBy("cid")
    )


# Filtered-search target label (10 labels, ~1/10 selectivity — the
# regime where post-filtering visibly starves the result set).
_FILTER_LABEL = 3


@query(
    "q_e_sim_topk_filtered",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, {_D_VEC} AS ve, {_D_NRM} AS nrm FROM embeddings),
    q AS (SELECT ve AS qv, nrm AS qn FROM v WHERE vec_id = 0),
    pre AS (
      SELECT vec_id, score, rk FROM (
        SELECT v.vec_id,
               {_d_cos6('v.ve', 'q.qv', 'v.nrm', 'q.qn')} AS score,
               ROW_NUMBER() OVER (
                 ORDER BY {_d_cos6('v.ve', 'q.qv', 'v.nrm', 'q.qn')} DESC,
                          v.vec_id ASC) AS rk
        FROM v, q WHERE v.vec_id <> 0 AND v.label = {_FILTER_LABEL}
      ) WHERE rk <= 20
    ),
    post AS (
      SELECT vec_id FROM (
        SELECT v.vec_id, v.label,
               ROW_NUMBER() OVER (
                 ORDER BY {_d_cos6('v.ve', 'q.qv', 'v.nrm', 'q.qn')} DESC,
                          v.vec_id ASC) AS rk
        FROM v, q WHERE v.vec_id <> 0
      ) WHERE rk <= 20 AND label = {_FILTER_LABEL}
    )
    SELECT pre.rk AS rank, pre.vec_id, pre.score,
           post.vec_id IS NOT NULL AS in_postfilter
    FROM pre LEFT JOIN post ON pre.vec_id = post.vec_id
    ORDER BY pre.rk
    """,
)
def q_e_sim_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search (round 3): top-k under a metadata
    predicate (label = 3, ~1/10 selectivity), contrasting the two
    industry strategies per row — PRE-filtering (push the predicate
    into the scan, rank only matching vectors: always k results,
    the correct semantics) versus POST-filtering (rank globally, then
    filter the top-k: the in_postfilter flag shows how few survive at
    1/10 selectivity — the starved-result-set failure every filtered
    vector store must solve).

    Plan: the predicate reaches the parquet scan (PushedFilters), the
    query is a 1-row broadcast, Arrow-batched scoring, and top-k is
    TakeOrderedAndProject — pre-filtering at 100 TB reads only the
    label partition, which is exactly why it wins."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qemb"))
    scored = (
        e.where(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select("vec_id", "label", _cos6("embedding", "qemb").alias("score"))
    )
    # Corpus-wide ordering via top_vectors(by=()) — TakeOrderedAndProject
    # (per-partition top-k + driver merge), never a single-partition
    # rank window over the whole corpus; the rank window then runs on
    # the bounded 20-row result only.
    w20 = Window.orderBy(F.col("score").desc(), F.col("vec_id").asc())
    pre = (
        top_vectors(scored.where(F.col("label") == _FILTER_LABEL), (), 20)
        .withColumn("rank", F.row_number().over(w20))
        .select("rank", "vec_id", "score")
    )
    post = (
        top_vectors(scored, (), 20)
        .where(F.col("label") == _FILTER_LABEL)
        .select(F.col("vec_id").alias("p_id"))
    )
    return (
        pre.join(F.broadcast(post), pre.vec_id == F.col("p_id"), "left")
        .select(
            "rank",
            "vec_id",
            "score",
            F.col("p_id").isNotNull().alias("in_postfilter"),
        )
        .orderBy("rank")
    )


# nDCG@10 / MRR@10 machinery (q_e_retrieval_ndcg): the log2 position
# discounts are embedded as INTEGER nano-unit literals computed once
# here and spliced into BOTH dialects, so neither engine ever calls
# libm log2 — the DCG sums are exact integer arithmetic end to end.
_NDCG_K = 10
_DISC_NANO = {i: round(1e9 / math.log2(i + 1)) for i in range(1, _NDCG_K + 1)}


def _disc_case(col: str) -> str:
    # BIGINT cast: (11 − rank) × ~1e9 overflows INT32 under ANSI
    whens = " ".join(f"WHEN {i} THEN {d}" for i, d in _DISC_NANO.items())
    return f"CAST(CASE {col} {whens} ELSE 0 END AS BIGINT)"


_NDCG6 = (
    "CAST(floor(coalesce(dcg_nano, 0) / CAST(idcg_nano AS DOUBLE)"
    " * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0"
)
_MRR6 = (
    "CAST(floor(CASE WHEN first_hit IS NULL THEN CAST(0 AS DOUBLE)"
    " ELSE CAST(1000000 AS DOUBLE) / first_hit END + 0.5) AS DOUBLE)"
    " / 1000000.0"
)


@query(
    "q_e_retrieval_ndcg",
    oracle=f"""
    WITH {_d_lsh_bands()},
    {_d_query_rows()},
    {_d_lsh_candidates()},
    {_d_exact_topk(None, 'ranked_a', 'rka', cand='cand')},
    {_d_exact_topk(None, 'ranked_e', 'rke')},
    j AS (SELECT a.qid, a.rka, e.rke
          FROM ranked_a a JOIN ranked_e e
            ON a.qid = e.qid AND a.vec_id = e.vec_id),
    dcg AS (
      SELECT qid,
             SUM(CASE WHEN rka <= {_NDCG_K} AND rke <= {_NDCG_K}
                      THEN (11 - rke) * ({_disc_case('rka')}) ELSE 0 END)
               AS dcg_nano,
             MIN(CASE WHEN rke = 1 THEN rka END) AS first_hit
      FROM j GROUP BY qid),
    idcg AS (
      SELECT qid, SUM((11 - rke) * ({_disc_case('rke')})) AS idcg_nano
      FROM ranked_e WHERE rke <= {_NDCG_K} GROUP BY qid)
    SELECT i.qid,
           CAST(coalesce(d.dcg_nano, 0) AS BIGINT) AS dcg_nano,
           CAST(i.idcg_nano AS BIGINT) AS idcg_nano,
           {_NDCG6} AS ndcg6,
           {_MRR6} AS mrr6
    FROM idcg i LEFT JOIN dcg d ON i.qid = d.qid
    ORDER BY i.qid
    """,
)
def q_e_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded retrieval quality of the SRP-LSH index (round 5):
    nDCG@10 and MRR@10 per panel query — the position-weighted
    metrics a RAG/retrieval owner reads next to q_e_recall_curve's
    set-overlap curve (recall says WHETHER the true neighbors
    surface; nDCG says WHERE they land; MRR is the reciprocal system
    rank of the TRUE nearest neighbor — the single-relevant-item
    form, 0 when banding drops it entirely).

    Relevance is graded by true rank (rel = 11 − exact rank for the
    true top-10, 0 beyond), so the metric needs no external labels.
    Reuses the whole recall-audit skeleton — one shared banding pass,
    one candidate DISTINCT, one Arrow panel-score kernel, the same
    (qid)-partitioned rank windows — then folds ranks into exact
    integer DCG sums: log2 discounts ride as nano-unit literals
    spliced into both dialects, so the only float op is the final
    quantized DCG/IDCG division. At 100 TB the panel is a sample and
    every stage stays cell-scoped, exactly like the recall audits."""
    cand = lsh_candidates(_banded(spark, sf_dir))
    # persist rationale: _panel_scores_persisted docstring
    scores = _panel_scores_persisted(spark, sf_dir)
    ranked_a = top_vectors(
        scores.join(cand, ["qid", "vec_id"]), "qid", None, rk="rka"
    ).select("qid", "vec_id", "rka")
    ranked_e = top_vectors(scores, "qid", None, rk="rke").select(
        "qid", "vec_id", "rke"
    )
    j = ranked_a.join(ranked_e, ["qid", "vec_id"]).select("qid", "rka", "rke")
    in_top = (F.col("rka") <= _NDCG_K) & (F.col("rke") <= _NDCG_K)
    dcg = j.groupBy("qid").agg(
        F.sum(
            F.when(
                in_top,
                (F.lit(11) - F.col("rke")) * F.expr(_disc_case("rka")),
            ).otherwise(F.lit(0))
        ).alias("dcg_nano"),
        F.min(F.when(F.col("rke") == 1, F.col("rka"))).alias("first_hit"),
    )
    idcg = (
        ranked_e.where(F.col("rke") <= _NDCG_K)
        .groupBy("qid")
        .agg(
            F.sum(
                (F.lit(11) - F.col("rke")) * F.expr(_disc_case("rke"))
            ).alias("idcg_nano")
        )
    )
    return (
        idcg.join(dcg, "qid", "left")
        .select(
            "qid",
            F.coalesce("dcg_nano", F.lit(0)).cast("long").alias("dcg_nano"),
            F.col("idcg_nano").cast("long").alias("idcg_nano"),
            F.expr(_NDCG6).alias("ndcg6"),
            F.expr(_MRR6).alias("mrr6"),
        )
        .orderBy("qid")
    )


_PROBE_GRID = (1, 2, 4, 8)


@query(
    "q_e_ivf_probe_curve",
    oracle=f"""
    WITH v AS (SELECT vec_id, {_D_VEC} AS ve, {_D_NRM} AS nrm FROM embeddings),
    {_d_seed_cells(IVF_NLIST)},
    {_d_top_cells('v', 'c', 'vec_id', 1, 'cell')},
    {_d_query_rows()},
    {_d_top_cells('qv', 'c', 'qid', max(_PROBE_GRID), 'qrk')},
    cand AS (SELECT q.qid, cell.vec_id, q.rk AS prank
             FROM qrk q JOIN cell ON cell.cid = q.cid
             WHERE cell.vec_id <> q.qid),
    scored AS (SELECT cd.qid, cd.vec_id, cd.prank,
                      {_d_cos6('v.ve', 'q.qv', 'v.nrm', 'q.qn')} AS score
               FROM cand cd JOIN v ON cd.vec_id = v.vec_id
               JOIN qv q ON cd.qid = q.qid),
    grid AS (SELECT q.qid, g.nprobe FROM qv q
             CROSS JOIN (VALUES {', '.join(f'({p})' for p in _PROBE_GRID)}) g(nprobe)),
    approx AS (SELECT qid, nprobe, vec_id FROM (
                 SELECT g.qid, g.nprobe, s.vec_id,
                        ROW_NUMBER() OVER (
                          PARTITION BY g.qid, g.nprobe
                          ORDER BY s.score DESC, s.vec_id ASC) AS rka
                 FROM grid g JOIN scored s
                   ON s.qid = g.qid AND s.prank <= g.nprobe) WHERE rka <= {_RECALL_K}),
    {_d_exact_topk()},
    spine AS (SELECT g.qid, g.nprobe, CAST(COUNT(s.vec_id) AS BIGINT) AS n_cand
              FROM grid g LEFT JOIN scored s ON s.qid = g.qid AND s.prank <= g.nprobe
              GROUP BY g.qid, g.nprobe),
    {_d_recall('spine', ('qid', 'nprobe'))}
    SELECT * FROM recall ORDER BY qid, nprobe
    """,
)
def q_e_ivf_probe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 vs nprobe CURVE for the IVF index (round 5):
    nprobe ∈ {1, 2, 4, 8} per panel query in one pass — the
    operating curve q_e_recall_curve gives LSH, for the OTHER index
    family, and the tuning artifact q_e_ivf_recall's fixed nprobe=4
    point sits on. Read with q_e_ann_cost (candidate volume per
    probe), this answers the real sizing question: how many cells
    must I scan before recall flattens?

    Plan: ONE cell-assignment pass (broadcast 16 centroids), ONE
    query-cell rank (5×16 broadcast), candidates carry their cell's
    probe rank, and a single (qid, nprobe)-partitioned rank window
    over the grid-expanded candidates scores all four curve points —
    measurement cost grows with Σ probed cells, not with the curve's
    resolution. Exact side reuses the shared Arrow panel scores. The
    emitted n_cand per probe level is the cost axis of the same
    curve."""
    e = load_table(spark, sf_dir, "embeddings")
    cent = _seed_cells(e, IVF_NLIST)
    cell = top_cells(fan_out(e, "vec_id"), cent, "vec_id", 1).select("vec_id", "cid")
    qv = _query_rows(e)
    qrk = top_cells(qv, cent, "qid", max(_PROBE_GRID)).select(
        "qid", "cid", F.col("rk").alias("prank")
    )
    cand = (
        cell.join(F.broadcast(qrk), "cid")
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", "prank")
    )
    # persist rationale: _panel_scores_persisted docstring
    scores = _panel_scores_persisted(spark, sf_dir)
    scored = scoped_persist(
        cand.join(scores, ["qid", "vec_id"]), spark, sf_dir,
        "ivf_probe_scored",
    )
    grid = qv.select(
        "qid",
        F.explode(F.array(*[F.lit(p) for p in _PROBE_GRID])).alias("p"),
    )
    expanded = grid.join(scored, "qid").where(F.col("prank") <= F.col("p"))
    approx = top_vectors(expanded, ("qid", "p"), _RECALL_K, rk="rka")
    ncand = expanded.groupBy("qid", "p").agg(F.count(F.lit(1)).alias("n_cand"))
    spine = grid.join(ncand, ["qid", "p"], "left")
    return (
        recall_at_k(spine, approx, scores, keys=("qid", "p"))
        .select(
            "qid",
            F.col("p").cast("int").alias("nprobe"),
            F.coalesce("n_cand", F.lit(0)).cast("long").alias("n_cand"),
            "n_hit",
            "recall6",
        )
        .orderBy("qid", "nprobe")
    )


_SEM_GRID = (0.2, 0.3, 0.4, 0.5)


@query(
    "q_e_semdedup_sweep",
    oracle=f"""
    WITH {_KM_CTES},
    pairs AS (
      SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b,
             {_d_cos6('x.ve', 'y.ve', 'x.nrm', 'y.nrm')} AS cos
      FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN v x ON a.vec_id = x.vec_id JOIN v y ON b.vec_id = y.vec_id
      WHERE {_d_cos6('x.ve', 'y.ve', 'x.nrm', 'y.nrm')} >= {min(_SEM_GRID)}
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vec FROM embeddings),
    grid AS (SELECT CAST(eps AS DOUBLE) AS eps
             FROM (VALUES {', '.join(f'({e})' for e in _SEM_GRID)}) g(eps))
    SELECT g.eps,
           CAST(COUNT(*) FILTER (WHERE p.cos >= g.eps) AS BIGINT) AS n_pairs,
           CAST(COUNT(DISTINCT CASE WHEN p.cos >= g.eps THEN p.id_b END)
                AS BIGINT) AS n_dropped,
           CAST(floor((CAST(1 AS DOUBLE)
                 - COUNT(DISTINCT CASE WHEN p.cos >= g.eps THEN p.id_b END)
                   / CAST(n.n_vec AS DOUBLE)) * 1000000.0 + 0.5) AS DOUBLE)
             / 1000000.0 AS kept_frac6
    FROM grid g CROSS JOIN n LEFT JOIN pairs p ON true
    GROUP BY g.eps, n.n_vec
    ORDER BY g.eps
    """,
)
def q_e_semdedup_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup threshold SWEEP (round 5): pairs, dropped docs and
    kept-fraction at ε ∈ {0.2, 0.3, 0.4, 0.5} — the corpus-sizing
    knob behind q_e_semdedup's fixed ε=0.4: SemDeDup's headline
    result is exactly this curve (how much data ε removes vs how much
    quality survives), and a pipeline owner picks ε from it, not from
    a default. Completes the tuning-curve family: lsh_tuning (banding
    configs), recall_curve (LSH k), ivf_probe_curve (IVF probes),
    THIS (embedding-dedup ε).

    One pass: the in-cell pair set is scored ONCE at the loosest ε;
    every curve point is a conditional aggregate over the same pairs
    (COUNT FILTER + conditional DISTINCT share one Expand) — cost is
    the ε=min pair set, not 4 re-scans. Left join keeps the grid
    total even if a cell yields no pairs (the empty-crossJoin trap).
    """
    e = load_table(spark, sf_dir, "embeddings")
    asg, _cent = _km_assign(spark, sf_dir)
    asg = asg.join(e.select("vec_id", "embedding"), "vec_id")
    pairs = (
        _cell_pair_scores(asg, unordered=True)
        .select(F.col("nbr").alias("id_b"), F.col("cs").alias("cos"))
        .where(F.col("cos") >= min(_SEM_GRID))
    )
    n = e.agg(F.count(F.lit(1)).alias("n_vec"))
    grid = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(float(x)) for x in _SEM_GRID])
        ).alias("eps")
    )
    hit = F.col("cos") >= F.col("eps")
    return (
        grid.crossJoin(F.broadcast(n))
        .join(pairs, F.lit(True), "left")
        .groupBy("eps", "n_vec")
        .agg(
            F.count(F.when(hit, 1)).alias("n_pairs"),
            F.countDistinct(F.when(hit, F.col("id_b"))).alias("n_dropped"),
        )
        .select(
            "eps",
            "n_pairs",
            "n_dropped",
            F.expr(
                "CAST(floor((CAST(1 AS DOUBLE)"
                " - n_dropped / CAST(n_vec AS DOUBLE)) * 1000000.0 + 0.5)"
                " AS DOUBLE) / 1000000.0"
            ).alias("kept_frac6"),
        )
        .orderBy("eps")
    )


# ---------------------------------------------------------------------------
# q_e_knn_classify (round 5)
# ---------------------------------------------------------------------------

_KNN_CLS_K = 10
_KNN_CLS_MOD = 40  # panel: vec_id % 40 == 0


@query(
    "q_e_knn_classify",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, {_D_VEC} AS ve, {_D_NRM} AS nrm
               FROM embeddings),
    q AS (SELECT vec_id AS qid, label AS qlab, ve AS qv, nrm AS qn
          FROM v WHERE vec_id % {_KNN_CLS_MOD} = 0),
    sc AS (SELECT q.qid, q.qlab, v.vec_id, v.label,
                  {_d_cos6('v.ve', 'q.qv', 'v.nrm', 'q.qn')} AS score
           FROM v, q WHERE v.vec_id <> q.qid),
    top AS (SELECT qid, qlab, label FROM (
              SELECT qid, qlab, label,
                     ROW_NUMBER() OVER (PARTITION BY qid
                       ORDER BY score DESC, vec_id ASC) AS rk
              FROM sc) WHERE rk <= {_KNN_CLS_K}),
    votes AS (SELECT qid, qlab, label, COUNT(*) AS c
              FROM top GROUP BY qid, qlab, label),
    pred AS (SELECT qid, qlab, label AS pred_label, c FROM (
               SELECT qid, qlab, label, c,
                      ROW_NUMBER() OVER (PARTITION BY qid
                        ORDER BY c DESC, label ASC) AS rk
               FROM votes) WHERE rk = 1)
    SELECT qid AS vec_id, CAST(qlab AS INTEGER) AS label,
           CAST(pred_label AS INTEGER) AS pred_label,
           CAST(c AS BIGINT) AS n_agree,
           pred_label <> qlab AS mismatch
    FROM pred ORDER BY vec_id
    """,
)
def q_e_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote label audit (mislabel detection): for a
    deterministic query panel, predict each vector's cluster label
    from its 10 nearest neighbors' majority vote and flag
    disagreements — the label-QA pass a curation pipeline runs over
    human/model labels before trusting them for training (a mismatch
    row is a candidate mislabel or cluster-boundary point).

    Scale: scores are one broadcast of the panel against the vector
    scan (Arrow-batched numpy cosine — no shuffle added); top-k is a
    window partitioned BY QUERY (bounded |panel| × k state); the vote
    is a combinable groupBy over panel×k rows. At 100 TB the
    brute-force panel scan swaps for the IVF/LSH candidate generation
    already in this module — the vote/audit layers are unchanged.
    """
    e = load_table(spark, sf_dir, "embeddings")
    qp = e.where(F.col("vec_id") % _KNN_CLS_MOD == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlab"),
        F.col("embedding").alias("qemb"),
    )
    sc = (
        fan_out(e, "vec_id")
        .join(F.broadcast(qp))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid", "qlab", "vec_id", "label",
            _cos6("embedding", "qemb").alias("score"),
        )
    )
    votes = top_vectors(sc, "qid", _KNN_CLS_K).groupBy("qid", "qlab", "label").agg(
        F.count(F.lit(1)).alias("c")
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("c").desc(), F.col("label").asc())
    pred = votes.withColumn("rk", F.row_number().over(w2)).where(F.col("rk") == 1)
    return pred.select(
        F.col("qid").alias("vec_id"),
        F.col("qlab").cast("int").alias("label"),
        F.col("label").cast("int").alias("pred_label"),
        F.col("c").alias("n_agree"),
        (F.col("label") != F.col("qlab")).alias("mismatch"),
    ).orderBy("vec_id")



# ---------------------------------------------------------------------------
# q_e_anisotropy (round 6)
# ---------------------------------------------------------------------------

_AN_DIMS = 64  # embedding width (FIXTURES.md)

# The norm is hoisted to a per-row column FIRST — computing it inside
# the transform lambda would re-evaluate the aggregate per element
# (64x redundant work).
_AN_NRM_SPARK = (
    "sqrt(aggregate(embedding, CAST(0 AS DOUBLE),"
    " (a, y) -> a + CAST(y AS DOUBLE) * CAST(y AS DOUBLE)))"
)
# Unit elements as 9-dp INTEGERS (floor quantizer): the per-dim sums
# then run in pure BIGINT — exact, order-insensitive, and ~3x cheaper
# than decimal casts in the hot aggregate (measured; |s_d| ≤ n·1e9
# ≪ 2^63 and ≪ 2^53 after the /1e9 rescale, so the BIGINT→DOUBLE
# round-trip is exact).
_AN_QI_SPARK = (
    "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
    " / nullif(nrm, 0) * 1000000000.0 + 0.5) AS BIGINT))"
)
_AN_NRM_DUCK = (
    "sqrt(list_sum(list_transform(embedding,"
    " y -> CAST(y AS DOUBLE) * CAST(y AS DOUBLE))))"
)
_AN_QI_DUCK = (
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
    " / nullif(nrm, 0) * 1000000000.0 + 0.5) AS BIGINT))"
)
# per-row Σu² (array-ordered double fold — deterministic)
_AN_QSUM_SPARK = (
    "aggregate(qu, CAST(0 AS DOUBLE), (a, x) -> a +"
    " (CAST(x AS DOUBLE) / 1000000000.0)"
    " * (CAST(x AS DOUBLE) / 1000000000.0))"
)
_AN_QSUM_DUCK = (
    "list_sum(list_transform(qu, x -> (CAST(x AS DOUBLE) / 1000000000.0)"
    " * (CAST(x AS DOUBLE) / 1000000000.0)))"
)


def _an_s2_expr() -> str:
    """‖S‖² from the integer per-dim sums as a FIXED-ORDER double
    chain: each CAST(s_d AS DOUBLE)/1e9 is exact, each square/add is
    correctly rounded in a pinned left-assoc order — identical doubles
    in both engines (deterministic; 6-dp output absorbs the ~1-ulp
    rounding)."""
    terms = " + ".join(
        f"(CAST(s{d} AS DOUBLE) / 1000000000.0)"
        f" * (CAST(s{d} AS DOUBLE) / 1000000000.0)"
        for d in range(_AN_DIMS)
    )
    return terms


def _an_oracle() -> str:
    duck_sd = ",\n             ".join(
        f"CAST(SUM(qu[{d + 1}]) AS BIGINT) AS s{d}" for d in range(_AN_DIMS)
    )
    tot_sd = ",\n             ".join(
        f"CAST(SUM(s{d}) AS BIGINT) AS s{d}" for d in range(_AN_DIMS)
    )
    return f"""
    WITH nr AS (
      SELECT label, embedding, {_AN_NRM_DUCK} AS nrm FROM embeddings
    ),
    u AS (SELECT label, {_AN_QI_DUCK} AS qu FROM nr WHERE nrm > 0),
    per AS (
      SELECT label,
             COUNT(*) AS n,
             CAST(SUM(CAST({_AN_QSUM_DUCK} AS DECIMAL(30,12)))
                  AS DOUBLE) AS q,
             {duck_sd}
      FROM u GROUP BY label
    ),
    lab AS (
      SELECT CAST(label AS BIGINT) AS label, n, q, {_an_s2_expr()} AS s2
      FROM per
    ),
    tot AS (
      SELECT CAST(-1 AS BIGINT) AS label,
             CAST(SUM(n) AS BIGINT) AS n,
             CAST(SUM(CAST(q AS DECIMAL(30,12))) AS DOUBLE) AS q,
             {tot_sd}
      FROM per
    ),
    tot2 AS (SELECT label, n, q, {_an_s2_expr()} AS s2 FROM tot),
    allrows AS (SELECT * FROM lab UNION ALL SELECT * FROM tot2)
    SELECT label, CAST(n AS BIGINT) AS n_vecs,
           round((s2 - q) / NULLIF(n * (n - 1), 0), 6) AS mean_cos6
    FROM allrows ORDER BY label
    """


@query("q_e_anisotropy", oracle=_an_oracle())
def q_e_anisotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space anisotropy (round 6; Ethayarajh 2019): the mean
    pairwise cosine over ALL vector pairs, per label and for the whole
    corpus (label −1) — an isotropic (healthy) embedding space sits
    near 0; a high mean cosine means vectors crowd a narrow cone and
    cosine similarity loses discriminative power, which silently
    degrades every downstream ANN/SemDeDup/kNN stage this module
    ships. The audit to run BEFORE trusting cosine-based curation.

    The O(n²) pair sum is computed WITHOUT the pairs: for unit
    vectors, Σ_{i≠j} uᵢ·uⱼ = ‖Σuᵢ‖² − Σ‖uᵢ‖², so the whole statistic
    folds into per-dimension sums — 64 combinable pure-BIGINT
    aggregates over 9-dp-quantized unit elements in ONE corpus pass
    (the posexplode spelling and the per-dim decimal casts each
    measured ~2-3× slower; integers are exact AND cheap). ‖S‖² and
    the ≤|labels|-row corpus fold run on the collected bounded frame
    with every closing step engine-side (fixed-order double chain,
    decimal q-folds, one rounded division) so both engines produce
    identical bits. Zero-norm vectors have no direction and are
    excluded from BOTH n and the sums (round 7 — they previously
    counted in n while contributing nothing); a single-vector label
    has zero pairs and reports NULL (NULLIF-guarded n·(n−1), both
    engines). Scale: one scan → a ≤|labels|-row frame carrying 64
    integer sums; nothing corpus-sized downstream."""
    e = load_table(spark, sf_dir, "embeddings")
    u = (
        e.withColumn("nrm", F.expr(_AN_NRM_SPARK))
        # zero-norm vectors have no direction: excluded from n AND the
        # sums (they previously inflated n while contributing nothing)
        .where(F.col("nrm") > 0)
        .select("label", F.expr(_AN_QI_SPARK).alias("qu"))
    )
    per = u.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            f"CAST(SUM(CAST({_AN_QSUM_SPARK} AS DECIMAL(30,12)))"
            " AS DOUBLE)"
        ).alias("q"),
        *[
            F.expr(f"SUM(qu[{d}])").alias(f"s{d}")
            for d in range(_AN_DIMS)
        ],
    )
    # per (≤|labels| rows behind the one corpus aggregate) feeds BOTH
    # the per-label output and the corpus fold — collect the bounded
    # frame once so the corpus pass runs exactly once per call; every
    # closing arithmetic step stays engine-side, matching the oracle.
    from pyspark.sql import types as T

    cols = ["label", "n", "q"] + [f"s{d}" for d in range(_AN_DIMS)]
    per = local_frame(
        spark,
        [tuple(r[c] for c in cols) for r in per.collect()],
        T.StructType(
            [
                T.StructField("label", T.IntegerType()),
                T.StructField("n", T.LongType()),
                T.StructField("q", T.DoubleType()),
            ]
            + [T.StructField(f"s{d}", T.LongType()) for d in range(_AN_DIMS)]
        ),
    )
    lab = per.select(
        F.col("label").cast("long").alias("label"),
        "n",
        "q",
        F.expr(_an_s2_expr()).alias("s2"),
    )
    tot = per.agg(
        F.sum("n").alias("n"),
        F.expr("CAST(SUM(CAST(q AS DECIMAL(30,12))) AS DOUBLE)").alias("q"),
        *[F.expr(f"CAST(SUM(s{d}) AS BIGINT)").alias(f"s{d}") for d in range(_AN_DIMS)],
    ).select(
        F.lit(-1).cast("long").alias("label"),
        F.col("n").cast("long").alias("n"),
        "q",
        F.expr(_an_s2_expr()).alias("s2"),
    )
    both = lab.unionByName(tot)
    # n*(n-1) NULLIF-guarded: a single-vector label has zero pairs and
    # reports NULL (identically in the oracle) instead of throwing
    # under ANSI / diverging on float div-by-zero.
    return both.select(
        "label",
        F.col("n").cast("long").alias("n_vecs"),
        F.round(
            (F.col("s2") - F.col("q"))
            / F.expr("nullif(n * (n - 1), 0)"),
            6,
        ).alias("mean_cos6"),
    ).orderBy("label")


# ---------------------------------------------------------------------------
# q_e_davies_bouldin (round 7)
# ---------------------------------------------------------------------------

def _db_asg_mean(spark: SparkSession, sf_dir: str):
    """(assignment, per-dim cell means), each a scoped_persist frame.

    Shared by q_e_davies_bouldin and q_e_silhouette, so the k-means
    scoring and the cell-mean pass run once per app regardless of
    which op fires first. asg feeds the mean pass AND every
    member-distance probe; mean feeds the probes and the separation
    legs — persist both or the k-means assignment scoring replays
    once per consumer."""
    e = load_table(spark, sf_dir, "embeddings")
    asg = scoped_persist(_km_assign(spark, sf_dir)[0], spark, sf_dir, "db_asg")
    dims0 = (
        asg.join(e.select("vec_id", "embedding"), "vec_id")
        .select(
            "cid",
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")),
        )
        .select(
            "cid",
            "vec_id",
            (F.col("pos") + 1).alias("d"),
            F.col("col").alias("val"),
        )
    )
    mean = scoped_persist(
        dims0.groupBy("cid", "d").agg(F.expr(davg("val", scale=9)).alias("nv")),
        spark,
        sf_dir,
        "db_mean",
    )
    return asg, mean


@query(
    "q_e_davies_bouldin",
    oracle=f"""
    WITH {_KM_CTES},
    dims AS (SELECT a.cid,
                    a.vec_id,
                    CAST(generate_subscripts(v.ve, 1) AS INT) AS d,
                    unnest(v.ve) AS val
             FROM asg a JOIN v USING (vec_id)),
    mean AS (SELECT cid, d, {davg('val', scale=9)} AS nv
             FROM dims GROUP BY cid, d),
    md AS (SELECT m.vec_id, m.cid,
                  round(sqrt({dsum('(m.val - c.nv) * (m.val - c.nv)',
                                   scale=12)}), 6) AS dist6
           FROM dims m JOIN mean c ON m.cid = c.cid AND m.d = c.d
           GROUP BY m.vec_id, m.cid),
    scat AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members,
                    floor({davg('dist6')} * 1000000.0 + 0.5) / 1000000.0
                      AS s6
             FROM md GROUP BY cid),
    sep AS (SELECT a.cid AS ci, b.cid AS cj,
                   round(sqrt({dsum('(a.nv - b.nv) * (a.nv - b.nv)',
                                    scale=12)}), 6) AS m6
            FROM mean a JOIN mean b ON a.d = b.d AND a.cid <> b.cid
            GROUP BY a.cid, b.cid),
    rij AS (SELECT s.ci, s.cj,
                   floor((x.s6 + y.s6) / NULLIF(s.m6, 0)
                         * 1000000.0 + 0.5) / 1000000.0 AS r6
            FROM sep s JOIN scat x ON s.ci = x.cid
                       JOIN scat y ON s.cj = y.cid),
    worst AS (SELECT ci, cj, r6 FROM (
                SELECT ci, cj, r6,
                       ROW_NUMBER() OVER (PARTITION BY ci
                                          ORDER BY r6 DESC, cj ASC) AS rk
                FROM rij) WHERE rk = 1),
    db AS (SELECT floor(CAST(SUM(CAST(r6 AS DECIMAL(30,6))) AS DOUBLE)
                        / COUNT(*) * 1000000.0 + 0.5) / 1000000.0 AS db6
           FROM worst)
    SELECT w.ci AS cid, t.n_members, t.s6,
           w.cj AS worst_neighbor, w.r6, db.db6
    FROM worst w JOIN scat t ON w.ci = t.cid CROSS JOIN db
    ORDER BY cid
    """,
)
def q_e_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies–Bouldin cluster-quality index over the k-means cells
    (round 7 — the centroid-based internal validity metric next to
    q_e_cluster_purity/balance/nmi, and the one that needs NO labels
    and NO pairs: silhouette is O(Σ|cell|²); DB is per-cell scatter +
    K×K centroid separations): per cell the mean member→mean-centroid
    distance S_i, per pair R_ij = (S_i+S_j)/‖μ_i−μ_j‖, per cell its
    worst neighbor, and the index = mean worst-R — a rising DB over
    ingest rounds tells the SemDeDup/IVF stack its cells are smearing.

    Scale: the k-means assignment is scored ONCE and persisted (the
    app-scoped cache convention — it feeds the cell-mean pass and the
    member-distance probe, and the probe's re-explode off the cached
    assignment is joins/explodes only, never re-scoring); the 512-row
    mean table is persisted for its three consumers and broadcast to
    the probe; everything after the per-member fold is K- or K²-row
    arithmetic. Exact-decimal means/sums, 6-dp sqrt/divisions,
    identical-centroid pairs NULLIF to NULL (dropped by the DESC
    ordering), ties to the smaller neighbor id."""
    e = load_table(spark, sf_dir, "embeddings")
    asg, mean = _db_asg_mean(spark, sf_dir)
    dims = (
        asg.join(e.select("vec_id", "embedding"), "vec_id")
        .select(
            "cid",
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")),
        )
        .select("cid", "vec_id", (F.col("pos") + 1).alias("d"), F.col("col").alias("val"))
    )
    md = (
        dims.join(F.broadcast(mean), ["cid", "d"])
        .groupBy("vec_id", "cid")
        .agg(
            F.round(
                F.sqrt(F.expr(dsum("(val - nv) * (val - nv)", scale=12))), 6
            ).alias("dist6")
        )
    )
    scat = md.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        # floor quantizer, not round(): closing means/divisions of 6-dp
        # grids are the exact-tie class that diverged HALF_UP vs
        # HALF_EVEN at sf0.1 (q_e_l_diversity, round 7)
        (F.floor(F.expr(davg("dist6")) * 1000000.0 + 0.5) / 1000000.0).alias(
            "s6"
        ),
    )
    a = mean.select(
        F.col("cid").alias("ci"), "d", F.col("nv").alias("nva")
    )
    b = mean.select(
        F.col("cid").alias("cj"), F.col("d").alias("db_"), F.col("nv").alias("nvb")
    )
    sep = (
        a.join(b, (F.col("d") == F.col("db_")) & (F.col("ci") != F.col("cj")))
        .groupBy("ci", "cj")
        .agg(
            F.round(
                F.sqrt(F.expr(dsum("(nva - nvb) * (nva - nvb)", scale=12))), 6
            ).alias("m6")
        )
    )
    sx = scat.select(F.col("cid").alias("ci"), F.col("s6").alias("sa"))
    sy = scat.select(F.col("cid").alias("cj"), F.col("s6").alias("sb"))
    rij = (
        sep.join(F.broadcast(sx), "ci")
        .join(F.broadcast(sy), "cj")
        .select(
            "ci",
            "cj",
            (
                F.floor(
                    (F.col("sa") + F.col("sb"))
                    / F.expr("nullif(m6, 0.0)")
                    * 1000000.0
                    + 0.5
                )
                / 1000000.0
            ).alias("r6"),
        )
    )
    wv = Window.partitionBy("ci").orderBy(F.col("r6").desc(), F.col("cj").asc())
    worst = (
        rij.withColumn("rk", F.row_number().over(wv))
        .where(F.col("rk") == 1)
        .select("ci", "cj", "r6")
    )
    db = worst.agg(
        (
            F.floor(
                F.sum(F.col("r6").cast("decimal(30,6)")).cast("double")
                / F.count(F.lit(1))
                * 1000000.0
                + 0.5
            )
            / 1000000.0
        ).alias("db6")
    )
    return (
        worst.join(scat, worst.ci == scat.cid)
        .crossJoin(F.broadcast(db))
        .select(
            F.col("ci").alias("cid"),
            "n_members",
            "s6",
            F.col("cj").alias("worst_neighbor"),
            "r6",
            "db6",
        )
        .orderBy("cid")
    )


# ---------------------------------------------------------------------------
# q_e_pq_distortion (round 7)
# ---------------------------------------------------------------------------


@query(
    "q_e_pq_distortion",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, {_D_VEC} AS ve FROM embeddings),
    c AS (SELECT vec_id AS cid, ve AS cv FROM v WHERE vec_id BETWEEN 1 AND {PQ_K}),
    dists AS (
      SELECT v.vec_id, v.label, s.s,
             CASE s.s {' '.join(f"WHEN {s} THEN {_pq_dist6('v.ve', 'c.cv', s)}" for s in range(PQ_M))} END AS d6
      FROM v, c, (SELECT unnest(range(0, {PQ_M})) AS s) s
      WHERE v.vec_id <> 0
    ),
    mins AS (
      SELECT vec_id, label, s, MIN(d6) AS md6
      FROM dists GROUP BY vec_id, label, s
    )
    SELECT label,
           CAST(COUNT(*) / {PQ_M} AS BIGINT) AS n_vecs,
           floor({dsum('md6')} / (COUNT(*) / {PQ_M})
                 * 1000000.0 + 0.5) / 1000000.0 AS avg_distortion6
    FROM mins GROUP BY label ORDER BY label
    """,
)
def q_e_pq_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization reconstruction distortion per label
    (round 7 — the compression-error lens the PQ recall ops don't
    give: q_e_pq_recall says whether ANN answers survive quantization,
    this op says how much GEOMETRY each label loses, i.e. which data
    regions the 16-entry-per-subspace codebook underfits): per vector
    the encoding error is Σ_s min_c ‖v_s − c_s‖² (the quantity PQ
    training minimizes), reported as the per-label mean.

    Scale: one Arrow pass per vector against the broadcast 16×8×8
    codebook (the shared bounded-codebook idiom of the PQ/ADC
    kernels); the rollup works at the (vector, subspace) grain so the
    mean is a pure exact-decimal sum — no per-vector float
    accumulation order exists to diverge. 6-dp sub-distances (numpy
    min ≡ the oracle's MIN over identical 6-dp values);
    floor-quantized output."""
    from pyspark.sql.types import ArrayType

    e = load_table(spark, sf_dir, "embeddings")
    _cb, c_r = _pq_fixture(e)

    @F.pandas_udf(ArrayType(DoubleType()))
    def _min_dists(emb: pd.Series) -> pd.Series:
        v_r = _to_mat(emb).reshape(-1, PQ_M, PQ_SUBDIM)
        return pd.Series(pq_dist6(v_r, c_r).min(axis=1).tolist())

    ef = fan_out(e.where(F.col("vec_id") != 0), "vec_id")
    mins = ef.select(
        "vec_id", "label", F.explode(_min_dists("embedding")).alias("md6")
    )
    return (
        mins.groupBy("label")
        .agg(
            (F.count(F.lit(1)) / PQ_M).cast("long").alias("n_vecs"),
            (
                F.floor(
                    F.expr(dsum("md6"))
                    / (F.count(F.lit(1)) / PQ_M)
                    * 1000000.0
                    + 0.5
                )
                / 1000000.0
            ).alias("avg_distortion6"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# q_e_int8_recall (round 7)
# ---------------------------------------------------------------------------

# Integer quantized-vector spelling shared with q_e_embed_quantize's
# scale/clamp convention: q = clamp(floor(x/sc + 0.5), ±127) as BIGINT.
_I8_QL = (
    f"list_transform(ve, x -> CAST({_D_Q} AS BIGINT))"
)


@query(
    "q_e_int8_recall",
    oracle=f"""
    WITH v AS (SELECT vec_id, {_D_VEC} AS ve, {_D_NRM} AS nrm FROM embeddings),
    s AS (SELECT vec_id, ve, nrm, {_D_AMAX} / 127.0 AS sc FROM v
          WHERE {_D_AMAX} > 0),
    qz AS (SELECT vec_id, nrm, {_I8_QL} AS q FROM s),
    qn AS (SELECT vec_id, nrm, q,
                  list_sum(list_transform(q, y -> y * y)) AS s2
           FROM qz),
    {_d_query_rows()},
    panel AS (SELECT vec_id AS qid, q AS qq, s2 AS qs2 FROM qn
              WHERE vec_id IN (SELECT qid FROM qv)),
    approx AS (
      SELECT qid, vec_id FROM (
        SELECT p.qid, n.vec_id,
               ROW_NUMBER() OVER (
                 PARTITION BY p.qid
                 ORDER BY round(
                   list_sum(list_transform(range(1, 65),
                                           i -> n.q[i] * p.qq[i]))
                   / (sqrt(CAST(n.s2 AS DOUBLE)) * sqrt(CAST(p.qs2 AS DOUBLE))),
                   6) DESC,
                 n.vec_id ASC) AS rk
        FROM qn n CROSS JOIN panel p WHERE n.vec_id <> p.qid
      ) WHERE rk <= {_RECALL_K}
    ),
    {_d_exact_topk()},
    {_d_recall('(SELECT qid FROM panel)')}
    SELECT * FROM recall ORDER BY qid
    """,
)
def q_e_int8_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of int8-quantized retrieval against exact cosine, for
    the fixed 5-query panel (round 7 — closes the quantization loop:
    q_e_embed_quantize measures per-vector RECONSTRUCTION error,
    q_e_pq_distortion measures codebook loss, this op measures what
    actually matters to a user — whether the 4×-smaller int8 scan
    returns the same neighbors). Quantization is the embed_quantize
    convention (per-vector scale max|x|/127, half-up clamp to ±127);
    the int8 score is the integer-dot cosine idot/√(Σq²·Σq'²) — the
    per-vector scales cancel in the cosine, so ranking needs ONLY
    integer sums and two sqrts.

    Determinism: quantized codes are exact integers in both engines
    (floor(x/sc + 0.5) clamp), the dot and norm sums are integer
    arithmetic (≤ 127²·64 per dot — exact in float64 regardless of
    summation order, so the numpy matmul ≡ the oracle's list_sum),
    and the score rounds at 6 dp with ties to vec_id. Scale: one
    Arrow pass scoring all 5 queries per batch ((n,64)@(64,5) integer
    matmul), TakeOrdered-style window per query; the exact side is
    the shared _panel_scores frame.

    Zero-norm guard (round 8, ADVICE r7): a zero vector has no scale
    (sc = max|x|/127 = 0 → NaN scores, and NaN sorts ABOVE all
    doubles in Spark's DESC ordering), so zero-norm vectors are
    excluded from the quantized candidate side in BOTH engines — the
    q_e_anisotropy posture (a zero vector has no defined cosine
    neighborhood). The panel ids are asserted nonzero-norm, and
    _quant floors its scale so even a stray zero row yields zero
    codes, never NaN."""
    e = load_table(spark, sf_dir, "embeddings")
    qrows = _query_panel(e)
    if any(max(abs(float(x)) for x in r.embedding) == 0.0 for r in qrows):
        raise ValueError(
            "q_e_int8_recall: a fixed-panel query vector is zero-norm — "
            "its cosine ranking is undefined; pick nonzero panel ids"
        )

    def _quant(m: np.ndarray) -> np.ndarray:
        sc = np.abs(m).max(axis=1) / 127.0
        # zero-norm floor: candidates are filtered below, but a zero
        # scale must never reach the division (NaN codes otherwise)
        sc = np.where(sc == 0.0, 1.0, sc)
        q = np.floor(m / sc[:, None] + 0.5)
        return np.clip(q, -127.0, 127.0)

    qmat = _quant(np.array([r.embedding for r in qrows], dtype=np.float64))

    @F.pandas_udf(ArrayType(DoubleType()))
    def _i8_panel(emb: pd.Series) -> pd.Series:
        return pd.Series(cos6_panel(_quant(_to_mat(emb)), qmat).tolist())

    ef = fan_out(
        e.select("vec_id", "embedding").where(
            F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
            > 0
        ),
        "vec_id",
    )
    s = panel_rows(ef, qrows, _i8_panel("embedding"))
    approx = top_vectors(s, "qid", _RECALL_K)
    return recall_at_k(
        _query_rows(e).select("qid"), approx, _panel_scores(spark, sf_dir)
    ).orderBy("qid")


# ---------------------------------------------------------------------------
# q_e_ivf_trained (round 7)
# ---------------------------------------------------------------------------

IVT_NPROBE = 2  # of the KM_K=8 trained cells — the 4/16 scan fraction


def _ivt_oracle() -> str:
    tc = f"c{KMT_ROUNDS + 1}"  # the trained-centroid table the chain ends at
    return f"""
    WITH {_kmt_chain()},
    {_d_top_cells('v', tc, 'vec_id', 1, 'cell')},
    {_d_query_rows()},
    {_d_top_cells('qv', tc, 'qid', IVT_NPROBE, 'probe')},
    cand AS (SELECT p.qid, cell.vec_id
             FROM cell JOIN probe p USING (cid)
             WHERE cell.vec_id <> p.qid),
    {_d_exact_topk(name='approx', cand='cand')},
    {_d_exact_topk()},
    ncand AS (SELECT qid, COUNT(*) AS n_cand FROM cand GROUP BY qid),
    {_d_recall('ncand')}
    SELECT * FROM recall ORDER BY qid
    """


@query("q_e_ivf_trained", oracle=_ivt_oracle())
def q_e_ivf_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of an IVF index built on the TRAINED centroids
    (round 7 — closes the VERDICT r6 note that the IVF recall curves
    were measured against untrained seed cells: this audit re-bases
    cell assignment and probing on q_e_kmeans_train's round-3 means,
    so comparing it against q_e_ivf_recall reads trained-vs-seed
    recall at a comparable scan fraction — nprobe {IVT_NPROBE} of
    {KM_K} trained cells vs 4 of 16 seeds). Oracle exactness: the
    DuckDB side re-derives the SAME trained centroids by unrolling
    the shared training chain (_kmt_chain — the two ops cannot
    desynchronize) and runs the identical cell/probe/recall spelling
    as q_e_ivf_recall.

    Scale: training amortizes over the app (the shared _kmt_train
    cache); assignment is one broadcast-panel Arrow pass persisted
    for its two consumers; probes are a 5×{KM_K} broadcast rank;
    candidate re-rank and ground truth share the _panel_scores
    frame."""
    e = load_table(spark, sf_dir, "embeddings")
    _stats, cent = _kmt_train(spark, sf_dir)
    cdf = local_frame(spark, cent, "cid long, cemb array<double>")
    rows = fan_out(e.select("vec_id", "embedding"), "vec_id")
    cell = top_cells(rows, cdf, "vec_id", 1).select("vec_id", "cid")
    probe = top_cells(_query_rows(e), cdf, "qid", IVT_NPROBE).select("qid", "cid")
    cand = (
        cell.join(F.broadcast(probe), "cid")
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id")
    )
    cand = scoped_persist(cand, spark, sf_dir, "ivf_trained_cand")
    # scores feeds BOTH the candidate re-rank and the exact ground
    # truth — persisted like q_e_ann_recall's copy (cell above has ONE
    # consumer, cand, and is deliberately NOT persisted)
    scores = _panel_scores_persisted(spark, sf_dir)
    approx = top_vectors(cand.join(scores, ["qid", "vec_id"]), "qid", _RECALL_K)
    ncand = cand.groupBy("qid").agg(F.count(F.lit(1)).alias("n_cand"))
    return recall_at_k(ncand, approx, scores).orderBy("qid")


def _ari_oracle() -> str:
    tc = f"c{KMT_ROUNDS + 1}"
    return f"""
    WITH {_kmt_chain()},
    {_d_top_cells('v', tc, 'vec_id', 1, 'cell')},
    pairs AS (SELECT a.cid AS ca, t.cid AS cb,
                     CAST(COUNT(*) AS BIGINT) AS nij
              FROM asg1 a JOIN cell t USING (vec_id)
              GROUP BY a.cid, t.cid),
    jt AS (SELECT CAST(SUM(nij * (nij - 1) // 2) AS BIGINT) AS j,
                  CAST(SUM(nij) AS BIGINT) AS n
           FROM pairs),
    am AS (SELECT CAST(SUM(x * (x - 1) // 2) AS BIGINT) AS a
           FROM (SELECT CAST(SUM(nij) AS BIGINT) AS x
                 FROM pairs GROUP BY ca)),
    bm AS (SELECT CAST(SUM(x * (x - 1) // 2) AS BIGINT) AS b
           FROM (SELECT CAST(SUM(nij) AS BIGINT) AS x
                 FROM pairs GROUP BY cb)),
    f AS (SELECT n, j, a, b, n * (n - 1) // 2 AS p
          FROM jt CROSS JOIN am CROSS JOIN bm)
    SELECT n, j AS joint_pairs, a AS seed_pairs, b AS trained_pairs,
           floor(CAST(2 * (p * j - a * b) AS DOUBLE)
                 / CAST(p * (a + b) - 2 * a * b AS DOUBLE)
                 * 1000000 + 0.5) / 1000000 AS ari6
    FROM f
    """


@query("q_e_cluster_ari", oracle=_ari_oracle())
def q_e_cluster_ari(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted Rand Index between the SEED k-means partition (round-1
    assignment against the deterministic vec_id 1..K seeds — the
    partition q_e_semdedup and the IVF seed index scope their work by)
    and the TRAINED partition (assignment against q_e_kmeans_train's
    round-3 means): how much did three Lloyd rounds actually MOVE the
    clustering (round 8 — the stability audit next to q_e_nmi's
    label-agreement: NMI asks "do cells match labels", ARI here asks
    "did training redraw the cells", the number that decides whether
    cell-scoped artifacts — SemDeDup pair lists, IVF postings — must
    be rebuilt after a re-train).

    Exact integer combinatorics end to end: the K×K contingency table
    of pair counts C(nij,2), marginals C(ai,2)/C(bj,2), and
    C(n,2), combined as ARI = 2(PJ − AB) / (P(A+B) − 2AB) — every
    term a BIGINT (products ≤ ~1e15 at these SFs; swap to
    DECIMAL(38,0) beyond ~3e9 rows, the q_e_quality_auc note), one
    closing division under the floor(x·1e6 + 0.5)/1e6 convention.
    Scale: two broadcast-panel assignment scans (both shared: seed
    via _km_assign's spelling, trained via _kmt_train's centroids),
    one K×K-row contingency groupBy — combinable, no pairs, no
    windows over corpus-sized frames."""
    e = load_table(spark, sf_dir, "embeddings")
    asg, _cent = _km_assign(spark, sf_dir)
    _stats, cent = _kmt_train(spark, sf_dir)
    cdf = local_frame(spark, cent, "cid long, cemb array<double>")
    rows = fan_out(e.select("vec_id", "embedding"), "vec_id")
    cell = top_cells(rows, cdf, "vec_id", 1).select("vec_id", F.col("cid").alias("cb"))
    pairs = (
        asg.select("vec_id", F.col("cid").alias("ca"))
        .join(cell, "vec_id")
        .groupBy("ca", "cb")
        .agg(F.count(F.lit(1)).alias("nij"))
    )
    jt = pairs.agg(
        F.expr("CAST(SUM((nij * (nij - 1)) DIV 2) AS BIGINT)").alias("j"),
        F.sum("nij").cast("long").alias("n"),
    )
    am = (
        pairs.groupBy("ca")
        .agg(F.sum("nij").cast("long").alias("x"))
        .agg(F.expr("CAST(SUM((x * (x - 1)) DIV 2) AS BIGINT)").alias("a"))
    )
    bm = (
        pairs.groupBy("cb")
        .agg(F.sum("nij").cast("long").alias("x"))
        .agg(F.expr("CAST(SUM((x * (x - 1)) DIV 2) AS BIGINT)").alias("b"))
    )
    f = (
        jt.crossJoin(F.broadcast(am))
        .crossJoin(F.broadcast(bm))
        .withColumn("p", F.expr("(n * (n - 1)) DIV 2"))
    )
    return f.select(
        "n",
        F.col("j").alias("joint_pairs"),
        F.col("a").alias("seed_pairs"),
        F.col("b").alias("trained_pairs"),
        (
            F.floor(
                F.expr("CAST(2 * (p * j - a * b) AS DOUBLE)")
                / F.expr("CAST(p * (a + b) - 2 * a * b AS DOUBLE)")
                * 1e6
                + 0.5
            )
            / 1e6
        ).alias("ari6"),
    )


# ---------------------------------------------------------------------------
# q_e_ivf_persist (round 8) — persisted index lifecycle: build once, serve many
# ---------------------------------------------------------------------------


def stage_ivf_index(spark: SparkSession, sf_dir: str) -> str:
    """BUILD phase of the persisted-IVF lifecycle: train (via the
    shared _kmt_train, so build/kmeans_train/ivf_trained can never
    desynchronize), then WRITE the index artifacts — the centroid
    codebook, the cell-assignment posting lists, and (r9) the PQ
    sub-codebook + per-vector 8-byte codes — as parquet under
    a corpus-fingerprinted path (tmpdirs.staged, so a regenerated
    corpus rebuilds and concurrent sessions never see a
    half-written index). Runs once per corpus; every serve call reads
    the artifacts back from disk. At 100 TB these are object-store
    tables the index-build job publishes and N downstream serving jobs
    scan — centroids O(K·D), postings O(n) but only (cid, vec_id)
    pairs, cid-partitionable for probe-side pruning."""

    def build(tmp: str) -> None:
        _stats, cent = _kmt_train(spark, sf_dir)
        cdf = local_frame(spark, cent, "cid long, cemb array<double>")
        cdf.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/centroids")
        e = load_table(spark, sf_dir, "embeddings")
        rows = fan_out(e.select("vec_id", "embedding"), "vec_id")
        top_cells(rows, cdf, "vec_id", 1).select("cid", "vec_id").write.mode(
            "overwrite"
        ).parquet(f"{tmp}/postings")
        # --- PQ artifacts (r9, VERDICT r8 item 2 — the FAISS IVFADC
        # production shape): the 16-entry sub-codebook and the 8-byte
        # code per vector, so a serving job can ADC-score candidates
        # from codes alone (32× smaller than raw vectors) with zero
        # training state. Codes = argmin 6-dp sub-distance per
        # subspace, first-min tie-break — the identical encode
        # q_e_sim_topk_pq's kernel uses, so the persisted codes match
        # the oracle's (d6, cid) rank derivation.
        cb, c_r = _pq_fixture(e)
        cb.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/pq_codebook")
        _pq_encode(e, c_r).write.mode("overwrite").parquet(f"{tmp}/pq_codes")

    # "i2" = artifact-set version (r9 added pq_codebook/pq_codes);
    # bumping it makes pre-r9 staged dirs rebuild instead of serving
    # a published dir that lacks the PQ artifacts.
    return tmpdirs.staged(sf_dir, "embeddings", "ggee_ivf_index", build, "i2")


def _pq_encode(e: DataFrame, c_r) -> DataFrame:
    """(vec_id, codes): the proven 6-dp argmin PQ encode (first-min
    tie ≡ the oracle's (d6, pcid) rank) against the (PQ_K, PQ_M,
    PQ_SUBDIM)-shaped sub-codebook array — shared by the full build,
    the base build, and the delta ingest."""

    @F.pandas_udf(ArrayType(LongType()))
    def _codes(emb: pd.Series) -> pd.Series:
        v = _to_mat(emb).reshape(-1, PQ_M, PQ_SUBDIM)
        return pd.Series(list(pq_dist6(v, c_r).argmin(axis=1) + 1))  # cid is 1-based

    return fan_out(e.select("vec_id", "embedding"), "vec_id").select(
        "vec_id", _codes("embedding").alias("codes")
    )


def _ivp_oracle() -> str:
    tc = f"c{KMT_ROUNDS + 1}"  # trained centroids, end of the shared chain
    return f"""
    WITH {_kmt_chain()},
    {_d_top_cells('v', tc, 'vec_id', 1, 'cell')},
    {_d_query_rows()},
    {_d_top_cells('qv', tc, 'qid', IVT_NPROBE, 'probe')},
    cand AS (SELECT p.qid, cell.vec_id
             FROM cell JOIN probe p USING (cid)
             WHERE cell.vec_id <> p.qid),
    {_d_exact_topk(name='top', cand='cand')}
    SELECT qid, rk, vec_id, score AS score6 FROM top
    ORDER BY qid, rk
    """


@query("q_e_ivf_persist", oracle=_ivp_oracle())
def q_e_ivf_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted ANN index lifecycle END TO END (round 8, VERDICT r7
    item 4 — the production shape the in-process `_kmt_train` ops
    stop short of): the BUILD job writes the trained IVF artifacts —
    centroid codebook + cell-assignment posting lists — to table
    storage (stage_ivf_index, corpus-fingerprinted, atomic publish),
    and THIS op is the SERVING job: it reads the artifacts back from
    disk with fresh parquet scans (no `_kmt_train`, no training
    lineage — the serve plan's inputs are the two artifact scans plus
    the embeddings table for query/re-rank vectors, pinned in
    tests/test_plans.py), probes the top-2-of-8 cells per panel query
    against the READ-BACK codebook, joins the probed cells to the
    READ-BACK postings for candidates, and exact re-ranks to top-10
    per query.

    Build-once/serve-many is the whole economics of an index: training
    cost amortizes over every later job, and a serving job needs ZERO
    training state — restart it, scale it, run it months later; the
    artifacts are the contract. The oracle re-derives the identical
    artifacts by unrolling the shared training chain (_kmt_chain) and
    runs the same probe/rank spelling, so parity proves the round-trip
    through parquet lost nothing (schema, ids, float bits).

    Scale: probe = |panel|×K broadcast rank over the K-row codebook
    scan; candidate fetch = postings scan filtered to probed cells
    (cid-partitioned postings at 100 TB make this partition pruning);
    re-rank reads full vectors for candidates only (the shared
    _panel_scores Arrow pass here, since the local panel is fixed)."""
    staged = stage_ivf_index(spark, sf_dir)
    # ---- serve path: everything below reads ONLY the artifacts + tables
    cdf = spark.read.parquet(f"{staged}/centroids")
    postings = spark.read.parquet(f"{staged}/postings")
    e = load_table(spark, sf_dir, "embeddings")
    probe = top_cells(_query_rows(e), cdf, "qid", IVT_NPROBE).select("qid", "cid")
    cand = (
        postings.join(F.broadcast(probe), "cid")
        .where(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id")
    )
    return (
        top_vectors(
            cand.join(_panel_scores(spark, sf_dir), ["qid", "vec_id"]), "qid", _RECALL_K
        )
        .select("qid", "rk", "vec_id", F.col("score").alias("score6"))
        .orderBy("qid", "rk")
    )


# ---------------------------------------------------------------------------
# q_e_ivfpq_persist (round 9)
# ---------------------------------------------------------------------------


def _ivfpq_body(pfx: str = "", tc: str | None = None) -> str:
    """cell→parts CTEs of a persisted-IVFADC serve: cell assignment of
    the FULL corpus against the coarse table ``tc``, panel probe,
    candidates, PQ codes (rank spelling ≡ the argmin encode), per-query
    LUT, and the l0..l7 parts pivot. ``pfx`` prefixes every CTE name so
    two index generations (round-10 drift audit: base-trained append vs
    full rebuild) can coexist in one WITH body; requires ``v`` (and the
    chain ending at ``tc``) defined earlier."""
    tc = tc or f"c{KMT_ROUNDS + 1}"  # trained centroids, chain end
    srange = f"(SELECT unnest(range(0, {PQ_M})) AS s) AS s"
    dist_case = " ".join(
        f"WHEN {s} THEN {_pq_dist6('v.ve', 'c.cv', s)}" for s in range(PQ_M)
    )
    lut_case = " ".join(
        f"WHEN {s} THEN {_pq_lut6a('q.qv', 'c.cv', s)}" for s in range(PQ_M)
    )
    parts_cols = ", ".join(
        f"MAX(CASE WHEN k.s = {s} THEN l.l6 END) AS l{s}" for s in range(PQ_M)
    )
    return f"""{_d_top_cells('v', tc, 'vec_id', 1, f'{pfx}cell')},
    {_d_query_rows(f'{pfx}qv')},
    {_d_top_cells(f'{pfx}qv', tc, 'qid', IVT_NPROBE, f'{pfx}probe')},
    {pfx}cand AS (SELECT p.qid, {pfx}cell.vec_id
             FROM {pfx}cell JOIN {pfx}probe p USING (cid)
             WHERE {pfx}cell.vec_id <> p.qid),
    {pfx}pqc AS (SELECT vec_id AS pcid, ve AS cv FROM v
            WHERE vec_id BETWEEN 1 AND {PQ_K}),
    {pfx}cvec AS (SELECT vec_id, ve FROM v
             WHERE vec_id IN (SELECT DISTINCT vec_id FROM {pfx}cand)),
    {pfx}dists AS (
      SELECT v.vec_id, c.pcid, s.s,
             CASE s.s {dist_case} END AS d6
      FROM {pfx}cvec v CROSS JOIN {pfx}pqc c CROSS JOIN {srange}
    ),
    {pfx}codes AS (SELECT vec_id, s, pcid FROM (
                SELECT vec_id, s, pcid,
                       ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                          ORDER BY d6 ASC, pcid ASC) AS rk
                FROM {pfx}dists) WHERE rk = 1),
    {pfx}lut AS (SELECT q.qid, c.pcid, s.s,
                   CASE s.s {lut_case} END AS l6
            FROM {pfx}pqc c CROSS JOIN {pfx}qv q CROSS JOIN {srange}),
    {pfx}parts AS (SELECT cd.qid, cd.vec_id, {parts_cols}
              FROM {pfx}cand cd
              JOIN {pfx}codes k ON k.vec_id = cd.vec_id
              JOIN {pfx}lut l ON l.qid = cd.qid AND l.pcid = k.pcid
                             AND l.s = k.s
              GROUP BY cd.qid, cd.vec_id)"""


def _ivfpq_ctes() -> str:
    """Shared WITH-body of the persisted-IVFADC oracles: the trained
    coarse chain + the serve body (cell/probe/cand/codes/lut/parts).
    q_e_ivfpq_persist ranks the ADC sums from here; q_e_ivfpq_recall
    compares them against exact cosine top-10."""
    return f"""{_kmt_chain()},
    {_ivfpq_body()}"""


def _ivfpq_oracle() -> str:
    return f"""
    WITH {_ivfpq_ctes()}
    SELECT qid, rk, vec_id, adc6 FROM (
      SELECT qid, vec_id, {_PQP_ADC} AS adc6,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY {_PQP_ADC} DESC, vec_id ASC) AS rk
      FROM parts
    ) WHERE rk <= {_RECALL_K}
    ORDER BY qid, rk
    """


@query("q_e_ivfpq_persist", oracle=_ivfpq_oracle())
def q_e_ivfpq_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted IVF+PQ serving — the FAISS IVFADC production shape
    (round 9, VERDICT r8 item 2; Jégou/Douze/Schmid, "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011): the build
    job (stage_ivf_index) persists ALL FOUR index artifacts — coarse
    centroids, cell postings, the PQ sub-codebook, and the 8-byte
    code per vector — and THIS op is the serving job: it reads the
    artifacts back with fresh parquet scans (no `_kmt_train`, no
    training lineage, pinned in tests/test_plans.py), probes the
    top-2-of-8 cells per panel query against the read-back coarse
    codebook, joins probed cells to the read-back postings for
    candidates, and scores them by asymmetric-distance LUT gather
    over the READ-BACK CODES — the raw vectors are never touched
    after the probe stage. That is the full FAISS serving economics:
    the query path reads 8 bytes per candidate instead of 256 (32×),
    the 16×8-entry LUT is computed once per query from the persisted
    sub-codebook, and a serving job needs zero training state.

    Vs q_e_ivf_persist (which exact-re-ranks with full vectors), the
    scored surface here is codes-only, so the result column is adc6 —
    the approximation IS the product, exactly as deployed IVFADC
    serves it. Determinism: LUT entries are explicit left-associated
    8-term product sums rendered from ONE helper into both dialects
    (_pq_lut6a — bit-exact by construction, no libm, no fold-order
    reliance); the ADC close-out is the shared left-associated
    _PQP_ADC; persisted codes come from the proven 6-dp argmin encode
    (first-min tie ≡ the oracle's (d6, pcid) rank, the q_e_pq_recall
    parity result). The oracle re-derives centroids via the unrolled
    training chain and codes via the rank spelling, so parity proves
    the whole artifact round-trip bit-lossless.

    Scale: probe = |panel|×K broadcast rank; candidate fetch =
    postings scan filtered to probed cells (partition pruning on a
    cid-partitioned layout at 100 TB); ADC = codes scan joined to a
    640-row broadcast LUT — pure JVM. The only Python boundary in the
    serve plan is the probe's Arrow cosine over the K-row codebook
    (bounded panel); the corpus-proportional scoring stage crosses no
    Python at all."""
    staged = stage_ivf_index(spark, sf_dir)
    return _ivfpq_serve(spark, sf_dir, staged)


def _ivfpq_serve(spark: SparkSession, sf_dir: str, staged: str) -> DataFrame:
    """The IVFADC serving plan over ONE artifact directory — reads
    ONLY the four persisted artifacts plus the embeddings table for
    query vectors; shared by q_e_ivfpq_persist (the fresh rebuild) and
    q_e_ivfpq_append (the round-10 merged generation) so the two serve
    paths differ ONLY in which artifacts they scan."""
    return _ivfpq_serve_frames(
        spark,
        sf_dir,
        cdf=spark.read.parquet(f"{staged}/centroids"),
        postings=spark.read.parquet(f"{staged}/postings"),
        pqc=spark.read.parquet(f"{staged}/pq_codebook"),
        codes=spark.read.parquet(f"{staged}/pq_codes"),
    )


def _ivfpq_serve_fused(
    spark: SparkSession, sf_dir: str, staged_by_gen: "dict[str, str]"
) -> DataFrame:
    """Fused multi-generation IVFADC serve (round 11, guide §2.4):
    every artifact scan is the gen-tagged union of the generations'
    artifacts and ONE serving pipeline (the exact _ivfpq_serve_frames
    spelling with ``gen`` added to every key) ranks all generations —
    each (gen, qid) group scores and ranks exactly as its solo serve
    would, so per-generation results are bit-identical while the
    drift audit pays one probe/candidate/ADC pipeline instead of one
    per generation."""

    def tagged(sub: str) -> DataFrame:
        parts = [
            spark.read.parquet(f"{staged}/{sub}").select(
                F.lit(gen).alias("gen"), "*"
            )
            for gen, staged in staged_by_gen.items()
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    return _ivfpq_serve_frames(
        spark,
        sf_dir,
        cdf=tagged("centroids"),
        postings=tagged("postings"),
        pqc=tagged("pq_codebook"),
        codes=tagged("pq_codes"),
        gen_keyed=True,
    )


def _ivfpq_serve_frames(
    spark: SparkSession,
    sf_dir: str,
    cdf: DataFrame,
    postings: DataFrame,
    pqc: DataFrame,
    codes: DataFrame,
    gen_keyed: bool = False,
) -> DataFrame:
    """The ONE IVFADC serving spelling over explicit artifact frames.
    With ``gen_keyed`` every window/join/group key gains the ``gen``
    tag the frames carry (fused multi-generation audit); without it
    the plan is byte-identical to the historical single-generation
    serve."""
    gcols = ["gen"] if gen_keyed else []
    e = load_table(spark, sf_dir, "embeddings")
    qv = _query_rows(e)
    probe = top_cells(qv, cdf, gcols + ["qid"], IVT_NPROBE).select(
        *gcols, "qid", "cid"
    )
    cand = (
        postings.join(F.broadcast(probe), gcols + ["cid"])
        .where(F.col("vec_id") != F.col("qid"))
        .select(*gcols, "qid", "vec_id")
    )
    # 5 queries × 16 codebook rows × 8 subspaces = 640-row LUT, JVM-side
    lut = (
        qv.join(F.broadcast(pqc))
        .select(
            *gcols,
            "qid",
            "pcid",
            *[
                F.expr(_pq_lut6a("embedding", "cemb", s, spark_dialect=True)).alias(
                    f"l{s}"
                )
                for s in range(PQ_M)
            ],
        )
        .selectExpr(
            *gcols,
            "qid",
            "pcid",
            f"stack({PQ_M}, "
            + ", ".join(f"{s}, l{s}" for s in range(PQ_M))
            + ") AS (s, l6)",
        )
    )
    ex = cand.join(codes, gcols + ["vec_id"]).select(
        *gcols, "qid", "vec_id", F.posexplode("codes").alias("s", "pcid")
    )
    parts = (
        ex.join(F.broadcast(lut), gcols + ["qid", "pcid", "s"])
        .groupBy(*gcols, "qid", "vec_id")
        .agg(
            *[
                F.max(F.when(F.col("s") == s, F.col("l6"))).alias(f"l{s}")
                for s in range(PQ_M)
            ]
        )
    )
    adc = parts.select(*gcols, "qid", "vec_id", F.expr(_PQP_ADC).alias("adc6"))
    return (
        top_vectors(adc, gcols + ["qid"], _RECALL_K, "adc6")
        .select(*gcols, "qid", "rk", "vec_id", "adc6")
        .orderBy(*gcols, "qid", "rk")
    )


def _ivfpq_recall_oracle() -> str:
    return f"""
    WITH {_ivfpq_ctes()},
    adc AS (SELECT qid, vec_id, {_PQP_ADC} AS adc6 FROM parts),
    approx AS (SELECT qid, vec_id FROM (
                 SELECT qid, vec_id,
                        ROW_NUMBER() OVER (PARTITION BY qid
                                           ORDER BY adc6 DESC, vec_id ASC)
                          AS rk
                 FROM adc) WHERE rk <= {_RECALL_K}),
    {_d_exact_topk()},
    {_d_recall('(SELECT qid FROM qv)')}
    SELECT * FROM recall ORDER BY qid
    """


@query("q_e_ivfpq_recall", oracle=_ivfpq_recall_oracle())
def q_e_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 audit of the PERSISTED IVFADC serve (round 9) — the
    module convention that every approximate path ships its accuracy
    audit, applied to q_e_ivfpq_persist: the top-10-by-ADC list served
    purely from read-back artifacts, compared against brute-force
    exact cosine over the full corpus on the shared 5-query panel.
    This is the double-approximation number (coarse probe loses
    cells, PQ loses precision) a deployment watches when tuning
    nprobe/M — and distinct from q_e_pq_recall (PQ alone, no probe)
    and q_e_ivf_recall (probe alone, exact scoring), completing the
    2×2 of approximation sources.

    Plan: the approx side IS the persisted serve (artifact scans +
    JVM ADC); the exact side reuses the shared _panel_scores Arrow
    pass. Both sides are deterministic rank spellings, so recall is
    hash-exact, not a tolerance check."""
    approx = q_e_ivfpq_persist(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    return recall_at_k(
        _query_rows(e).select("qid"), approx, _panel_scores(spark, sf_dir)
    ).orderBy("qid")


# ---------------------------------------------------------------------------
# q_e_ivfpq_append / q_e_ivfpq_drift (round 10) — incremental index ingest
# ---------------------------------------------------------------------------


def stage_ivf_base_index(spark: SparkSession, sf_dir: str) -> str:
    """BUILD phase of the OLD index generation (round 10, VERDICT r9
    item 2's prerequisite): the corpus as it stood before the delta
    slice (vec_id % 5 = 3) arrived. Coarse centroids are trained on
    the BASE slice only (so the generation has fewer cells — the seed
    range loses its delta members), postings/codes cover base vectors
    only; the PQ sub-codebook is the shared fixture (PQ codebooks are
    routinely reused across index generations — OPQ/PQ retraining is
    rare; only the coarse quantizer goes stale). Staged through
    tmpdirs.staged like stage_ivf_index."""

    def build(tmp: str) -> None:
        _stats, cent = _kmt_train(spark, sf_dir, where=_APPEND_BASE)
        cdf = local_frame(spark, cent, "cid long, cemb array<double>")
        cdf.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/centroids")
        e = load_table(spark, sf_dir, "embeddings")
        base = e.where(F.expr(_APPEND_BASE))
        rows = fan_out(base.select("vec_id", "embedding"), "vec_id")
        top_cells(rows, cdf, "vec_id", 1).select("cid", "vec_id").write.mode(
            "overwrite"
        ).parquet(f"{tmp}/postings")
        cb, c_r = _pq_fixture(e)
        cb.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/pq_codebook")
        _pq_encode(base, c_r).write.mode("overwrite").parquet(
            f"{tmp}/pq_codes"
        )

    return tmpdirs.staged(sf_dir, "embeddings", "ggee_ivf_index", build, "b1")


def stage_ivfpq_append(spark: SparkSession, sf_dir: str) -> str:
    """DELTA-INGEST phase (round 10, VERDICT r9 item 2): append the
    delta slice to the base generation by encoding it against the
    FROZEN artifacts — the read-back coarse centroids (assignment) and
    the read-back PQ sub-codebook (8-byte codes) — with ZERO training:
    no `_kmt_train`, no cached centroids, no Lloyd's round anywhere in
    this path (pinned in tests/test_plans.py). The merged generation
    (copied centroids/codebook + unioned postings/codes) publishes
    atomically under its own fingerprinted path (tmpdirs.staged), so
    serving jobs switch from base to merged the instant it is published
    and never see a half-written union — the daily-ingest production
    loop of a corpus-scale ANN index.

    Scale: the delta pass touches ONLY delta vectors (one broadcast-
    codebook assignment scan + one Arrow encode scan over ~20% of the
    corpus); base postings/codes are copied THROUGH parquet scans
    (never recomputed, never collected) — at 100 TB the union is two
    appends of slim (cid, vec_id) / (vec_id, codes) tables."""

    def build(tmp: str) -> None:
        base_dir = stage_ivf_base_index(spark, sf_dir)
        # ---- everything below reads ONLY the base artifacts + the table
        cdf = spark.read.parquet(f"{base_dir}/centroids")
        pqc = spark.read.parquet(f"{base_dir}/pq_codebook")
        e = load_table(spark, sf_dir, "embeddings")
        delta = e.where(F.expr(_APPEND_DELTA))
        # frozen-coarse assignment of the delta slice, unioned with the
        # base postings read straight back from parquet
        rows = fan_out(delta.select("vec_id", "embedding"), "vec_id")
        spark.read.parquet(f"{base_dir}/postings").unionByName(
            top_cells(rows, cdf, "vec_id", 1).select("cid", "vec_id")
        ).write.mode("overwrite").parquet(f"{tmp}/postings")
        # frozen-PQ encode: the 16-row sub-codebook is read back from
        # the artifact (bounded collect of an artifact scan, not a
        # fixture re-derivation — the append job owns no training
        # state at all)
        c_r = _codebook_array(pqc.select("pcid", "cemb"))
        spark.read.parquet(f"{base_dir}/pq_codes").unionByName(
            _pq_encode(delta, c_r)
        ).write.mode("overwrite").parquet(f"{tmp}/pq_codes")
        # codebooks carry over unchanged into the merged generation
        cdf.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/centroids")
        pqc.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/pq_codebook")

    return tmpdirs.staged(sf_dir, "embeddings", "ggee_ivf_index", build, "m1")


def _ivfpq_append_oracle() -> str:
    tb = f"bc{KMT_ROUNDS + 1}"  # base-trained centroids, chain end
    return f"""
    WITH {_kmt_chain()},
    {_kmt_chain_b()},
    {_ivfpq_body(pfx='b', tc=tb)}
    SELECT qid, rk, vec_id, adc6 FROM (
      SELECT qid, vec_id, {_PQP_ADC} AS adc6,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY {_PQP_ADC} DESC, vec_id ASC) AS rk
      FROM bparts
    ) WHERE rk <= {_RECALL_K}
    ORDER BY qid, rk
    """


@query("q_e_ivfpq_append", oracle=_ivfpq_append_oracle())
def q_e_ivfpq_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN-index ingest, served (round 10, VERDICT r9
    item 2): the base generation was built when only 80% of the corpus
    existed (stage_ivf_base_index — coarse centroids trained WITHOUT
    the delta slice); the delta slice is appended by FROZEN-codebook
    encode (stage_ivfpq_append — no retrain, artifacts-only inputs,
    atomic merged publish), and THIS op serves ADC top-10 from the
    merged artifacts with the exact serve plan q_e_ivfpq_persist uses
    (shared _ivfpq_serve — only the artifact directory differs).

    This is the op a daily-growing corpus actually runs: retraining
    the coarse quantizer per ingest is unaffordable, so production
    appends against frozen codebooks and retrains on a slow cadence
    (the FAISS `add` vs `train` split). The oracle re-derives the
    base-slice training chain (bc{KMT_ROUNDS + 1}) and assigns the
    FULL corpus against it — exactly what base∪delta postings equal,
    BECAUSE the encode spelling is shared and the artifact round-trip
    is bit-lossless (the q_e_ivf_persist parity result). Recall cost
    of serving stale centroids is quantified by q_e_ivfpq_drift.

    Scale: identical to q_e_ivfpq_persist's serve — probe, pruned
    postings fetch, 640-row broadcast-LUT ADC over 8-byte codes."""
    staged = stage_ivfpq_append(spark, sf_dir)
    return _ivfpq_serve(spark, sf_dir, staged)


# The two-generation drift tail shared by both drift audits: recall of
# the append generation (bapprox) and of the rebuild (rapprox) through
# _d_recall, pivoted side by side with their difference.
_DRIFT_TAIL = f"""{_d_recall('(SELECT qid FROM qv)', approx='bapprox', name='brec')},
    {_d_recall('(SELECT qid FROM qv)', approx='rapprox', name='rrec')}
    SELECT b.qid, b.n_hit AS n_hit_append, b.recall6 AS recall_append6,
           r.n_hit AS n_hit_rebuild, r.recall6 AS recall_rebuild6,
           round(r.recall6 - b.recall6, 6) AS drift6
    FROM brec b JOIN rrec r ON b.qid = r.qid
    ORDER BY b.qid"""


def _ivfpq_drift_oracle() -> str:
    tb = f"bc{KMT_ROUNDS + 1}"
    return f"""
    WITH {_kmt_chain()},
    {_kmt_chain_b()},
    {_ivfpq_body()},
    {_ivfpq_body(pfx='b', tc=tb)},
    rapprox AS (SELECT qid, vec_id FROM (
                  SELECT qid, vec_id,
                         ROW_NUMBER() OVER (PARTITION BY qid
                                            ORDER BY {_PQP_ADC} DESC,
                                                     vec_id ASC) AS rk
                  FROM parts) WHERE rk <= {_RECALL_K}),
    bapprox AS (SELECT qid, vec_id FROM (
                  SELECT qid, vec_id,
                         ROW_NUMBER() OVER (PARTITION BY qid
                                            ORDER BY {_PQP_ADC} DESC,
                                                     vec_id ASC) AS rk
                  FROM bparts) WHERE rk <= {_RECALL_K}),
    {_d_exact_topk()},
    {_DRIFT_TAIL}
    """


@query("q_e_ivfpq_drift", oracle=_ivfpq_drift_oracle())
def q_e_ivfpq_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-drift audit of the APPENDED index vs a FRESH REBUILD
    (round 10, the closing leg of VERDICT r9 item 2): per panel query,
    recall@{_RECALL_K} of (a) the merged append-path generation
    (frozen base-trained coarse centroids serving 100% of the corpus)
    and (b) the full rebuild (centroids retrained on everything),
    both against brute-force exact cosine — and their difference,
    drift6. This is THE number an index owner watches to schedule
    retrains: when drift crosses budget, the slow-cadence rebuild
    fires and the generations swap.

    Plan: both approx sides are the persisted serves (artifact scans
    + JVM ADC — q_e_ivfpq_append and q_e_ivfpq_persist respectively);
    the exact side reuses the shared _panel_scores Arrow pass. All
    three are deterministic rank spellings, so the drift is
    hash-exact, not a tolerance check.

    Round-11 optimization (guide §2.4): the two serves run as ONE
    fused _ivfpq_serve_frames pipeline over the gen-tagged union of
    the two generations' artifacts — each (gen, qid) group scores and
    ranks exactly as its solo serve would (pinned by tests/
    test_operators.py::test_ivfpq_drift_fused_serve_matches_solo and
    by oracle parity), while the audit pays one probe/candidate/ADC
    pipeline and one exact-side window instead of two of each."""
    fused = _ivfpq_serve_fused(
        spark,
        sf_dir,
        {
            "append": stage_ivfpq_append(spark, sf_dir),
            "rebuild": stage_ivf_index(spark, sf_dir),
        },
    ).select("gen", "qid", "vec_id")
    exact = top_vectors(_panel_scores(spark, sf_dir), "qid", _RECALL_K).select(
        "qid", "vec_id"
    )
    hits = (
        fused.join(exact, ["qid", "vec_id"])
        .groupBy("qid")
        .agg(
            F.sum(F.when(F.col("gen") == "append", 1).otherwise(0))
            .cast("long")
            .alias("nb"),
            F.sum(F.when(F.col("gen") == "rebuild", 1).otherwise(0))
            .cast("long")
            .alias("nr"),
        )
    )
    panel = _query_rows(load_table(spark, sf_dir, "embeddings")).select("qid")
    nb = F.coalesce(F.col("nb"), F.lit(0))
    nr = F.coalesce(F.col("nr"), F.lit(0))
    return (
        panel.join(hits, "qid", "left")
        .select(
            "qid",
            nb.cast("long").alias("n_hit_append"),
            F.round(nb / float(_RECALL_K), 6).alias("recall_append6"),
            nr.cast("long").alias("n_hit_rebuild"),
            F.round(nr / float(_RECALL_K), 6).alias("recall_rebuild6"),
            F.round(
                F.round(nr / float(_RECALL_K), 6)
                - F.round(nb / float(_RECALL_K), 6),
                6,
            ).alias("drift6"),
        )
        .orderBy("qid")
    )


# ---------------------------------------------------------------------------
# q_e_whiten_diag (round 8)
# ---------------------------------------------------------------------------

# 6-dp integer element quantizer (the linalg.py Gram convention): the
# per-dim moment sums then run exactly in BIGINT/DECIMAL, so the mean
# and std every whitened element divides by are identical doubles in
# both engines.
_WH_QV_SPARK = (
    "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
    " * 1000000.0 + 0.5) AS BIGINT))"
)
_WH_QV_DUCK = (
    "list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
    " * 1000000.0 + 0.5) AS BIGINT))"
)
# Whitened element (q-units; the common 1e-6 scale cancels inside the
# cosine): (q − m_d) / s_d, zero when the dimension is constant —
# Spark's transform index is 0-based with 1-based element_at, DuckDB's
# lambda index is 1-based, hence the +1 asymmetry between dialects.
_WH_W_SPARK = (
    "transform(qv, (x, i) -> CASE WHEN element_at(sv, i + 1) = 0.0"
    " THEN 0.0 ELSE (CAST(x AS DOUBLE) - element_at(mv, i + 1))"
    " / element_at(sv, i + 1) END)"
)
_WH_W_DUCK = (
    "list_transform(qv, (x, i) -> CASE WHEN sv[i] = 0.0"
    " THEN 0.0 ELSE (CAST(x AS DOUBLE) - mv[i]) / sv[i] END)"
)
# Per-dim std from the exact integer moments, in ONE pinned expression
# shape shared by both engines (greatest() absorbs the ~1-ulp negative
# a constant dimension's s²/n rounding can produce under sqrt).
_WH_SD = (
    "sqrt(greatest((CAST(t AS DOUBLE) - CAST(s AS DOUBLE)"
    " * CAST(s AS DOUBLE) / n) / n, 0.0))"
)


def _wh_fold_spark(frame: DataFrame) -> DataFrame:
    """Corpus-level mean pairwise cosine (the q_e_anisotropy fold,
    label-free): unit-quantize to 9-dp ints, one combinable aggregate
    carrying 64 BIGINT sums, close with ‖S‖² − Σ‖u‖² engine-side."""
    u = (
        frame.withColumn("nrm", F.expr(_AN_NRM_SPARK))
        .where(F.col("nrm") > 0)
        .select(F.expr(_AN_QI_SPARK).alias("qu"))
    )
    agg = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            f"CAST(SUM(CAST({_AN_QSUM_SPARK} AS DECIMAL(30,12))) AS DOUBLE)"
        ).alias("q"),
        *[F.expr(f"SUM(qu[{d}])").alias(f"s{d}") for d in range(_AN_DIMS)],
    )
    return agg.select(
        F.col("n").cast("long").alias("n"),
        F.round(
            (F.expr(_an_s2_expr()) - F.col("q"))
            / F.expr("nullif(n * (n - 1), 0)"),
            6,
        ).alias("mc6"),
    )


def _wh_fold_duck(src: str, tag: str) -> str:
    """The same fold as DuckDB CTEs over `src` (a CTE exposing an
    `embedding` list column); emits CTE text ending in `fold_{tag}`
    with columns (n_{tag}, mc_{tag})."""
    duck_sd = ",\n             ".join(
        f"CAST(SUM(qu[{d + 1}]) AS BIGINT) AS s{d}" for d in range(_AN_DIMS)
    )
    return f"""
    nr_{tag} AS (
      SELECT embedding, {_AN_NRM_DUCK} AS nrm FROM {src}
    ),
    u_{tag} AS (SELECT {_AN_QI_DUCK} AS qu FROM nr_{tag} WHERE nrm > 0),
    agg_{tag} AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST({_AN_QSUM_DUCK} AS DECIMAL(30,12)))
                  AS DOUBLE) AS q,
             {duck_sd}
      FROM u_{tag}
    ),
    fold_{tag} AS (
      SELECT CAST(n AS BIGINT) AS n_{tag},
             round(({_an_s2_expr()} - q) / NULLIF(n * (n - 1), 0), 6)
               AS mc_{tag}
      FROM agg_{tag}
    )"""


@query(
    "q_e_whiten_diag",
    oracle=f"""
    WITH qf AS (SELECT {_WH_QV_DUCK} AS qv FROM embeddings),
    mom AS (
      SELECT i, COUNT(*) AS n, SUM(q) AS s,
             SUM(CAST(q * q AS DECIMAL(38,0))) AS t
      FROM (SELECT unnest(qv) AS q,
                   unnest(generate_series(0, len(qv) - 1)) AS i
            FROM qf)
      GROUP BY i
    ),
    ms AS (
      SELECT list(CAST(s AS DOUBLE) / n ORDER BY i) AS mv,
             list({_WH_SD} ORDER BY i) AS sv
      FROM mom
    ),
    wf AS (SELECT {_WH_W_DUCK} AS embedding FROM qf CROSS JOIN ms),
    rawsrc AS (SELECT embedding FROM embeddings),
    {_wh_fold_duck('rawsrc', 'raw')},
    {_wh_fold_duck('wf', 'wht')}
    SELECT n_raw AS n_raw_vecs, n_wht AS n_white_vecs,
           mc_raw AS mean_cos_raw6, mc_wht AS mean_cos_white6,
           round(mc_raw - mc_wht, 6) AS reduction6
    FROM fold_raw CROSS JOIN fold_wht
    """,
)
def q_e_whiten_diag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIAGONAL-WHITENING anisotropy audit (round 8; Su et al. 2021
    "Whitening Sentence Representations" / Mu & Viswanath 2018): does
    per-dimension standardization (x−μ_d)/σ_d actually restore
    isotropy on THIS corpus?  Reports the mean pairwise cosine of the
    raw space (q_e_anisotropy's corpus row) next to the same statistic
    after whitening, plus the reduction — the measured-decision
    counterpart to q_e_anisotropy's detection: detect the cone, then
    check the cheap fix before reaching for full ZCA.

    Mechanics, all no-pairs: elements quantize to 6-dp ints (linalg
    Gram convention) so the per-dim moments are EXACT integer sums
    (one combinable 64-group aggregate); μ_d/σ_d derive engine-side in
    one pinned expression shape; the 64-element (mv, sv) arrays ride a
    1-row broadcast crossJoin back onto the corpus (never a driver
    scalar, house idiom); whitened vectors re-enter the q_e_anisotropy
    fold (9-dp unit ints, ‖Σu‖²−Σ‖u‖²).  Scale: three corpus scans —
    moments, raw fold, whitened fold — each reducing to a ≤64-number
    frame before any shuffle; nothing corpus-sized ever crosses.
    Constant dimensions whiten to 0 (CASE guard, both engines);
    zero-norm rows are excluded per side exactly as q_e_anisotropy
    does."""
    e = load_table(spark, sf_dir, "embeddings")
    qf = e.select(F.expr(_WH_QV_SPARK).alias("qv"))
    mom = (
        qf.select(F.posexplode("qv").alias("i", "q"))
        .groupBy("i")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("q").alias("s"),
            F.sum(F.expr("CAST(q * q AS DECIMAL(38,0))")).alias("t"),
        )
    )
    ms = mom.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(i,"
            " CAST(s AS DOUBLE) / n AS m))), x -> x.m)"
        ).alias("mv"),
        F.expr(
            f"transform(array_sort(collect_list(struct(i,"
            f" {_WH_SD} AS sd))), x -> x.sd)"
        ).alias("sv"),
    )
    wf = qf.crossJoin(F.broadcast(ms)).select(
        F.expr(_WH_W_SPARK).alias("embedding")
    )
    raw = _wh_fold_spark(e.select("embedding"))
    wht = _wh_fold_spark(wf)
    return (
        raw.select(
            F.col("n").alias("n_raw_vecs"), F.col("mc6").alias("mean_cos_raw6")
        )
        .crossJoin(
            F.broadcast(
                wht.select(
                    F.col("n").alias("n_white_vecs"),
                    F.col("mc6").alias("mean_cos_white6"),
                )
            )
        )
        .select(
            "n_raw_vecs",
            "n_white_vecs",
            "mean_cos_raw6",
            "mean_cos_white6",
            F.round(
                F.col("mean_cos_raw6") - F.col("mean_cos_white6"), 6
            ).alias("reduction6"),
        )
    )


# ---------------------------------------------------------------------------
# q_e_jl_distortion (round 8)
# ---------------------------------------------------------------------------

# Johnson–Lindenstrauss sign projection: R[i][j] = ±1 from the parity
# of the repo-wide 60-bit md5 hash of "i_j" — a deterministic,
# data-independent matrix both engines derive identically; y = qᵀR
# stays EXACT INT64 (|q| ≤ ~2e6, 64 terms → |y| ≤ ~1.3e8), so both
# squared distances are exact integers and the only doubles are the
# final ratio divisions.
_JL_R = 16  # target dimensionality (64 → 16, 4× compression)
_JL_PANEL = 48  # audit panel: C(48,2) = 1,128 pairs, corpus-independent
_JL_SIGN_SPARK = (
    "CASE WHEN CAST(conv(substring(md5(concat(CAST(i AS STRING), '_',"
    " CAST(j AS STRING))), 1, 15), 16, 10) AS BIGINT) % 2 = 0"
    " THEN 1 ELSE -1 END"
)
_JL_SIGN_DUCK = (
    "CASE WHEN CAST(concat('0x', substring(md5(CAST(i AS VARCHAR) || '_'"
    " || CAST(j AS VARCHAR)), 1, 15)) AS BIGINT) % 2 = 0"
    " THEN 1 ELSE -1 END"
)


@query(
    "q_e_jl_distortion",
    oracle=f"""
    WITH panel AS (
      SELECT vec_id,
             unnest({_WH_QV_DUCK}) AS q,
             unnest(generate_series(0, len(embedding) - 1)) AS i
      FROM embeddings WHERE vec_id < {_JL_PANEL}
    ),
    proj AS (
      SELECT i, j, {_JL_SIGN_DUCK} AS sgn
      FROM (SELECT unnest(generate_series(0, 63)) AS i),
           (SELECT unnest(generate_series(0, {_JL_R} - 1)) AS j)
    ),
    y AS (
      SELECT p.vec_id, pr.j, SUM(p.q * pr.sgn) AS y
      FROM panel p JOIN proj pr ON p.i = pr.i
      GROUP BY p.vec_id, pr.j
    ),
    dproj AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             SUM(CAST((a.y - b.y) * (a.y - b.y) AS DECIMAL(38,0))) AS d2p
      FROM y a JOIN y b ON a.j = b.j AND a.vec_id < b.vec_id
      GROUP BY a.vec_id, b.vec_id
    ),
    draw AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             SUM(CAST((a.q - b.q) * (a.q - b.q) AS DECIMAL(38,0))) AS d2r
      FROM panel a JOIN panel b ON a.i = b.i AND a.vec_id < b.vec_id
      GROUP BY a.vec_id, b.vec_id
    ),
    rt AS (
      SELECT CAST(d2p AS DOUBLE) / {_JL_R}.0
               / NULLIF(CAST(d2r AS DOUBLE), 0.0) AS ratio
      FROM dproj JOIN draw USING (va, vb)
    )
    SELECT CAST({_JL_R} AS BIGINT) AS r,
           CAST(COUNT(ratio) AS BIGINT) AS n_pairs,
           round(CAST(SUM(CAST((ratio) AS DECIMAL(30,6))) AS DOUBLE)
                 / COUNT(ratio), 6) AS mean_ratio6,
           round(MIN(ratio), 6) AS min_ratio6,
           round(MAX(ratio), 6) AS max_ratio6,
           round(CAST(SUM(CASE WHEN abs(ratio - 1.0) <= 0.5
                               THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(ratio), 6) AS frac_within_50pct
    FROM rt
    """,
)
def q_e_jl_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss random-projection DISTORTION audit
    (round 8; Achlioptas 2003 database-friendly ±1 projections):
    project 64-dim embeddings to r=16 with a deterministic sign
    matrix and measure, over a fixed 48-vector panel (1,128 pairs),
    the squared-distance ratio ‖Rx−Ry‖²/r ÷ ‖x−y‖² — mean/min/max
    and the fraction within ±50%. The missing member of the module's
    compression-audit family: PQ (q_e_pq_distortion) and int8
    (q_e_int8_recall) audit QUANTIZATION; this audits DIMENSIONALITY
    reduction, the other axis every ANN/sketch stack trades on.

    Exactness: elements quantize to 6-dp ints (linalg convention),
    the ±1 matrix comes from md5 parity (the repo hash idiom), so
    y = qᵀR and both squared distances are EXACT integers in both
    engines — the only doubles are the closing divisions. Scale: the
    projection is a 1,024-row broadcast; the panel is
    corpus-size-independent (pairs = C(48,2) regardless of corpus),
    and projecting a FULL corpus is one broadcast-join + groupBy
    whose shuffle rows are n·r, not n·64 — the point of doing JL
    before a pairwise stage."""
    e = load_table(spark, sf_dir, "embeddings")
    panel = (
        e.where(F.col("vec_id") < _JL_PANEL)
        .select("vec_id", F.posexplode(F.expr(_WH_QV_SPARK)).alias("i", "q"))
    )
    panel = scoped_persist(panel, spark, sf_dir, "jl_panel")
    proj = (
        spark.range(64)
        .select(F.col("id").cast("int").alias("i"))
        .crossJoin(
            spark.range(_JL_R).select(F.col("id").cast("int").alias("j"))
        )
        .select("i", "j", F.expr(_JL_SIGN_SPARK).alias("sgn"))
    )
    y = (
        panel.join(F.broadcast(proj), "i")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("q") * F.col("sgn")).alias("y"))
    )
    ya = y.select(
        F.col("vec_id").alias("va"), "j", F.col("y").alias("y_a")
    )
    yb = y.select(
        F.col("vec_id").alias("vb"), "j", F.col("y").alias("y_b")
    )
    dproj = (
        ya.join(yb, "j")
        .where(F.col("va") < F.col("vb"))
        .groupBy("va", "vb")
        .agg(
            F.sum(
                F.expr(
                    "CAST((y_a - y_b) * (y_a - y_b) AS DECIMAL(38,0))"
                )
            ).alias("d2p")
        )
    )
    pa = panel.select(F.col("vec_id").alias("va"), "i", F.col("q").alias("q_a"))
    pb = panel.select(F.col("vec_id").alias("vb"), "i", F.col("q").alias("q_b"))
    draw = (
        pa.join(pb, "i")
        .where(F.col("va") < F.col("vb"))
        .groupBy("va", "vb")
        .agg(
            F.sum(
                F.expr(
                    "CAST((q_a - q_b) * (q_a - q_b) AS DECIMAL(38,0))"
                )
            ).alias("d2r")
        )
    )
    rt = dproj.join(draw, ["va", "vb"]).select(
        (
            F.col("d2p").cast("double")
            / _JL_R
            / F.expr("NULLIF(CAST(d2r AS DOUBLE), 0.0)")
        ).alias("ratio")
    )
    return rt.agg(
        F.lit(_JL_R).cast("long").alias("r"),
        F.count("ratio").alias("n_pairs"),
        F.round(F.expr(davg("ratio")), 6).alias("mean_ratio6"),
        F.round(F.min("ratio"), 6).alias("min_ratio6"),
        F.round(F.max("ratio"), 6).alias("max_ratio6"),
        F.round(
            F.sum(
                F.when(F.abs(F.col("ratio") - 1.0) <= 0.5, 1).otherwise(0)
            ).cast("double")
            / F.count("ratio"),
            6,
        ).alias("frac_within_50pct"),
    )


# ---------------------------------------------------------------------------
# q_e_matryoshka_recall (round 8)
# ---------------------------------------------------------------------------

_MRL_DIMS = (16, 32, 64)


def _mrl_dot_spark(a: str, b: str, d: int) -> str:
    return (
        f"aggregate(transform(sequence(1, {d}),"
        f" i -> CAST(element_at({a}, i) AS DOUBLE)"
        f" * CAST(element_at({b}, i) AS DOUBLE)),"
        " CAST(0 AS DOUBLE), (a, v) -> a + v)"
    )


def _mrl_cos_spark(d: int) -> str:
    dot = _mrl_dot_spark("embedding", "qemb", d)
    nx = f"sqrt({_mrl_dot_spark('embedding', 'embedding', d)})"
    nq = f"sqrt({_mrl_dot_spark('qemb', 'qemb', d)})"
    return f"round({dot} / nullif({nx} * {nq}, 0), 6)"


def _mrl_dot_duck(a: str, b: str, d: int) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {d}),"
        f" i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _mrl_cos_duck(d: int) -> str:
    dot = _mrl_dot_duck("embedding", "qemb", d)
    nx = f"sqrt({_mrl_dot_duck('embedding', 'embedding', d)})"
    nq = f"sqrt({_mrl_dot_duck('qemb', 'qemb', d)})"
    return f"round({dot} / nullif({nx} * {nq}, 0), 6)"


@query(
    "q_e_matryoshka_recall",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qemb FROM embeddings
      WHERE vec_id IN {tuple(_RECALL_QIDS)}
    ),
    sc AS (
      SELECT q.qid, e.vec_id, u.d,
             CASE u.d
               {" ".join(f"WHEN {d} THEN {_mrl_cos_duck(d)}" for d in _MRL_DIMS)}
             END AS score
      FROM embeddings e CROSS JOIN q
      CROSS JOIN (SELECT unnest({list(_MRL_DIMS)}) AS d) u
      WHERE e.vec_id <> q.qid
    ),
    rk AS (
      SELECT qid, vec_id, d,
             row_number() OVER (PARTITION BY qid, d
                                ORDER BY score DESC, vec_id ASC) AS r
      FROM sc
    ),
    top AS (SELECT qid, vec_id, d FROM rk WHERE r <= {_RECALL_K}),
    ref AS (SELECT qid, vec_id FROM top WHERE d = 64)
    SELECT t.qid, t.d,
           CAST(COUNT(ref.vec_id) AS BIGINT) AS n_hit,
           round(CAST(COUNT(ref.vec_id) AS DOUBLE) / {_RECALL_K}, 6)
             AS recall6
    FROM top t LEFT JOIN ref
      ON t.qid = ref.qid AND t.vec_id = ref.vec_id
    GROUP BY t.qid, t.d ORDER BY t.qid, t.d
    """,
)
def q_e_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATRYOSHKA (prefix-truncation) recall audit (round 8; Kusupati
    et al. 2022, MRL): top-10 recall of cosine search over the FIRST
    16 / 32 / 64 embedding dimensions against the full-dim exact
    top-10 — the modern serve-time trade (store full vectors, search
    a prefix, re-rank survivors) and the third member of the
    compression-audit family: PQ/int8 audit quantization,
    q_e_jl_distortion audits random projection, this audits PREFIX
    truncation, which costs zero transform at query time. d=64 is
    the identity row (recall 1.0), pinning the harness itself.

    Both engines compute the prefix cosines with the SAME sequential
    index fold (no numpy on either side), so the 6-dp scores are
    bit-identical. Scale: one corpus × 5-query broadcast pass with
    three inline folds; the per-(qid, d) rank is the family's
    qid-partitioned window (q_e_recall_curve precedent — 15 bounded
    partitions); everything after the rk <= 10 filter is
    150-row arithmetic."""
    e = load_table(spark, sf_dir, "embeddings")
    panel = e.where(F.col("vec_id").isin(list(_RECALL_QIDS))).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qemb")
    )
    scored = (
        e.crossJoin(F.broadcast(panel))
        .where(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(d).cast("long").alias("d"),
                            F.expr(_mrl_cos_spark(d)).alias("score"),
                        )
                        for d in _MRL_DIMS
                    ]
                )
            ).alias("ds"),
        )
        .select("qid", "vec_id", F.col("ds.d").alias("d"), F.col("ds.score").alias("score"))
    )
    top = top_vectors(scored, ("qid", "d"), _RECALL_K, rk="r").select(
        "qid", "vec_id", "d"
    )
    top = scoped_persist(top, spark, sf_dir, "matryoshka_top")
    ref = top.where(F.col("d") == 64).select(
        F.col("qid").alias("rqid"), F.col("vec_id").alias("rv")
    )
    return (
        top.join(
            ref,
            (F.col("qid") == F.col("rqid")) & (F.col("vec_id") == F.col("rv")),
            "left",
        )
        .groupBy("qid", "d")
        .agg(
            F.count("rv").alias("n_hit"),
            F.round(F.count("rv").cast("double") / _RECALL_K, 6).alias(
                "recall6"
            ),
        )
        .orderBy("qid", "d")
    )


# ---------------------------------------------------------------------------
# q_e_div_frontier (round 9)
# ---------------------------------------------------------------------------

_DF_LAMS = (0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875)

# One KL term in the 6-dp ln convention (the q_e_feature_mi precedent):
# identical text in both dialects; zero-mass cells contribute 0 and the
# mixture r is structurally > 0 wherever p or q is.
def _df_term(p: str, r: str) -> str:
    return (
        f"CASE WHEN {p} > 0 THEN {p} * round(ln({p} / ({r})), 6)"
        f" ELSE 0.0 END"
    )


@query(
    "q_e_div_frontier",
    oracle=f"""
    WITH {_KM_CTES},
    h AS (SELECT asg.cid,
                 CASE WHEN asg.vec_id % 2 = 0 THEN 1 ELSE 0 END AS is_p
          FROM asg),
    cnt AS (SELECT cid, CAST(SUM(is_p) AS BIGINT) AS n_p,
                   CAST(SUM(1 - is_p) AS BIGINT) AS n_q
            FROM h GROUP BY cid),
    tot AS (SELECT SUM(n_p) AS tp, SUM(n_q) AS tq FROM cnt),
    lam AS (SELECT CAST(unnest([{', '.join(str(x) for x in _DF_LAMS)}])
                        AS DOUBLE) AS lam),
    pt AS (SELECT l.lam,
                  CAST(c.n_p AS DOUBLE) / t.tp AS p,
                  CAST(c.n_q AS DOUBLE) / t.tq AS q
           FROM cnt c CROSS JOIN tot t CROSS JOIN lam l),
    terms AS (SELECT lam, p, q, lam * p + (1 - lam) * q AS r FROM pt)
    SELECT round(lam, 6) AS lam6,
           {dsum(_df_term('p', 'r'))} AS kl_p6,
           {dsum(_df_term('q', 'r'))} AS kl_q6
    FROM terms GROUP BY lam ORDER BY lam6
    """,
)
def q_e_div_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIVERGENCE FRONTIER between two corpus halves over embedding-
    cluster histograms (round 9) — the quantized-distribution
    comparison underlying MAUVE (Pillutla et al., NeurIPS 2021;
    Djolonga et al. 2020): quantize both samples with the SHARED
    k-means cell assignment, form the cluster histograms P and Q, and
    trace the frontier point (KL(P‖R_λ), KL(Q‖R_λ)) against the
    mixture R_λ = λP + (1−λ)Q across a 7-point λ grid. Mixtures are
    what make this work where plain KL fails: a cell present in one
    sample only gives infinite KL(P‖Q) but a FINITE frontier (r > 0
    wherever p or q is) — the exact property that lets MAUVE compare
    model text to human text with disjoint support. The two "samples"
    here are the vec_id parity halves; the emitted frontier is the
    raw divergence pairs (the exp(−c·KL) scaling and AUC that
    summarize them into one scalar are monotone cosmetics — the
    frontier IS the information, and stays libm-exp-free).

    Distinct from q_e_jsd_matrix (token distributions, fixed 1/2-1/2
    mixture): this is the embedding-space form with the λ-swept
    mixture — the generative-model-evaluation shape.

    Exactness: cluster counts are exact; p, q, r are single IEEE
    divisions/mults identical in both engines; each KL term uses the
    6-dp ln convention (feature_mi precedent) and the 8-cell sums run
    through the exact-decimal dsum pattern. Scale: ONE corpus pass
    (the shared broadcast-panel assignment) collapses everything into
    an 8×2 count table; the frontier is constant-size arithmetic."""
    asg, _cent = _km_assign(spark, sf_dir)
    cnt = (
        asg.select(
            "cid",
            F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0).alias("is_p"),
        )
        .groupBy("cid")
        .agg(
            F.sum("is_p").cast("long").alias("n_p"),
            F.sum(F.lit(1) - F.col("is_p")).cast("long").alias("n_q"),
        )
    )
    tot = cnt.agg(
        F.sum("n_p").alias("tp"), F.sum("n_q").alias("tq")
    )
    lam = spark.sql(
        "SELECT explode(array("
        + ", ".join(f"CAST({x} AS DOUBLE)" for x in _DF_LAMS)
        + ")) AS lam"
    )
    terms = (
        cnt.join(F.broadcast(tot))
        .join(F.broadcast(lam))
        .selectExpr(
            "lam",
            "CAST(n_p AS DOUBLE) / tp AS p",
            "CAST(n_q AS DOUBLE) / tq AS q",
        )
        .selectExpr("lam", "p", "q", "lam * p + (1 - lam) * q AS r")
    )
    return (
        terms.groupBy("lam")
        .agg(
            F.expr(f"{dsum(_df_term('p', 'r'))}").alias("kl_p6"),
            F.expr(f"{dsum(_df_term('q', 'r'))}").alias("kl_q6"),
        )
        .select(F.round("lam", 6).alias("lam6"), "kl_p6", "kl_q6")
        .orderBy("lam6")
    )


# ---------------------------------------------------------------------------
# q_e_silhouette (round 9)
# ---------------------------------------------------------------------------


@query(
    "q_e_silhouette",
    oracle=f"""
    WITH {_KM_CTES},
    dims AS (SELECT a.cid, a.vec_id,
                    CAST(generate_subscripts(v.ve, 1) AS INT) AS d,
                    unnest(v.ve) AS val
             FROM asg a JOIN v USING (vec_id)),
    mean AS (SELECT cid AS mcid, d, {davg('val', scale=9)} AS nv
             FROM dims GROUP BY cid, d),
    dist AS (SELECT m.vec_id, m.cid, c.mcid,
                    round(sqrt({dsum('(m.val - c.nv) * (m.val - c.nv)',
                                     scale=12)}), 6) AS dist6
             FROM dims m JOIN mean c ON m.d = c.d
             GROUP BY m.vec_id, m.cid, c.mcid),
    per AS (SELECT vec_id, cid,
                   MIN(CASE WHEN mcid = cid THEN dist6 END) AS a6,
                   MIN(CASE WHEN mcid <> cid THEN dist6 END) AS b6
            FROM dist GROUP BY vec_id, cid),
    sil AS (SELECT vec_id, cid, a6, b6,
                   floor((b6 - a6) / NULLIF(GREATEST(a6, b6), 0)
                         * 1000000.0 + 0.5) / 1000000.0 AS s6
            FROM per),
    cell AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members,
                    floor({davg('a6')} * 1000000.0 + 0.5) / 1000000.0
                      AS cohesion6,
                    floor({davg('b6')} * 1000000.0 + 0.5) / 1000000.0
                      AS separation6,
                    floor({davg('s6')} * 1000000.0 + 0.5) / 1000000.0
                      AS sil6
             FROM sil GROUP BY cid),
    tot AS (SELECT floor({davg('s6')} * 1000000.0 + 0.5) / 1000000.0
                     AS sil_all6
            FROM sil)
    SELECT cid, n_members, cohesion6, separation6, sil6, tot.sil_all6
    FROM cell CROSS JOIN tot ORDER BY cid
    """,
)
def q_e_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMPLIFIED SILHOUETTE over the k-means cells (round 9) — the
    per-point cluster-quality companion to q_e_davies_bouldin
    (Hruschka et al.'s centroid variant of Rousseeuw 1987): a(x) =
    ‖x − μ_own‖, b(x) = min over OTHER cells of ‖x − μ_c‖, s(x) =
    (b − a)/max(a, b); per cell the member count, mean cohesion a,
    mean separation b, and mean silhouette, plus the corpus-wide
    mean repeated per row (the q_e_seasonality corpus-constant
    convention). The full silhouette is O(Σ|cell|²) pair distances —
    the reason DB shipped first; the simplified form is O(n·K) and
    IS the variant a 100 TB curation loop can actually afford per
    ingest round, while ranking cells nearly identically.

    Scale: ONE shared k-means assignment + cell-mean pass (the
    _db_asg_mean frames, shared with q_e_davies_bouldin — whichever
    fires first pays it); the distance probe joins the n·64 dim frame
    to the broadcast 512-row mean table (K-fan-out on bounded K, the
    q_e_knn_classify shape); everything after the per-point fold is
    K-row arithmetic. Exactness: exact-decimal means at scale 9,
    per-distance 6-dp sqrt folds of exact-decimal sums, floor
    quantizer on every closing mean/division of the 6-dp grid (the
    q_e_l_diversity half-up lattice rule); a6 = b6 = 0 NULLIFs (the
    degenerate duplicate-centroid corner) identically in both
    engines and falls out of the NULL-skipping means."""
    e = load_table(spark, sf_dir, "embeddings")
    asg, mean = _db_asg_mean(spark, sf_dir)
    dims = (
        asg.join(e.select("vec_id", "embedding"), "vec_id")
        .select(
            "cid",
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")),
        )
        .select(
            "cid",
            "vec_id",
            (F.col("pos") + 1).alias("d"),
            F.col("col").alias("val"),
        )
    )
    allm = mean.select(
        F.col("cid").alias("mcid"), "d", "nv"
    )
    dist = (
        dims.join(F.broadcast(allm), "d")
        .groupBy("vec_id", "cid", "mcid")
        .agg(
            F.round(
                F.sqrt(F.expr(dsum("(val - nv) * (val - nv)", scale=12))), 6
            ).alias("dist6")
        )
    )
    per = dist.groupBy("vec_id", "cid").agg(
        F.min(F.when(F.col("mcid") == F.col("cid"), F.col("dist6"))).alias("a6"),
        F.min(F.when(F.col("mcid") != F.col("cid"), F.col("dist6"))).alias("b6"),
    )
    sil = per.select(
        "vec_id",
        "cid",
        "a6",
        "b6",
        (
            F.floor(
                (F.col("b6") - F.col("a6"))
                / F.expr("nullif(greatest(a6, b6), 0.0)")
                * 1000000.0
                + 0.5
            )
            / 1000000.0
        ).alias("s6"),
    )
    sil = scoped_persist(sil, spark, sf_dir, "silhouette_sil")
    cell = sil.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        (F.floor(F.expr(davg("a6")) * 1000000.0 + 0.5) / 1000000.0).alias(
            "cohesion6"
        ),
        (F.floor(F.expr(davg("b6")) * 1000000.0 + 0.5) / 1000000.0).alias(
            "separation6"
        ),
        (F.floor(F.expr(davg("s6")) * 1000000.0 + 0.5) / 1000000.0).alias(
            "sil6"
        ),
    )
    tot = sil.agg(
        (F.floor(F.expr(davg("s6")) * 1000000.0 + 0.5) / 1000000.0).alias(
            "sil_all6"
        )
    )
    return cell.join(F.broadcast(tot)).orderBy("cid")


# ---------------------------------------------------------------------------
# q_e_calinski (round 9)
# ---------------------------------------------------------------------------


@query(
    "q_e_calinski",
    oracle=f"""
    WITH {_KM_CTES},
    dims AS (SELECT a.cid, a.vec_id,
                    CAST(generate_subscripts(v.ve, 1) AS INT) AS d,
                    unnest(v.ve) AS val
             FROM asg a JOIN v USING (vec_id)),
    mean AS (SELECT cid, d, {davg('val', scale=9)} AS nv
             FROM dims GROUP BY cid, d),
    gmean AS (SELECT d, {davg('val', scale=9)} AS gv
              FROM dims GROUP BY d),
    cnt AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members
            FROM asg GROUP BY cid),
    wc AS (SELECT m.cid,
                  {dsum('(m.val - c.nv) * (m.val - c.nv)', scale=12)} AS w
           FROM dims m JOIN mean c ON m.cid = c.cid AND m.d = c.d
           GROUP BY m.cid),
    bc AS (SELECT m.cid,
                  {dsum('(m.nv - g.gv) * (m.nv - g.gv)', scale=12)} AS bunit
           FROM mean m JOIN gmean g ON m.d = g.d
           GROUP BY m.cid),
    per AS (SELECT c.cid, c.n_members,
                   round(w.w, 6) AS within6,
                   round(c.n_members * b.bunit, 6) AS between6
            FROM cnt c JOIN wc w ON c.cid = w.cid
                       JOIN bc b ON c.cid = b.cid),
    tot AS (SELECT CAST(SUM(n_members) AS BIGINT) AS n,
                   CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(CAST(between6 AS DECIMAL(30,6))) AS DOUBLE)
                     AS btot,
                   CAST(SUM(CAST(within6 AS DECIMAL(30,6))) AS DOUBLE)
                     AS wtot
            FROM per)
    SELECT p.cid, p.n_members, p.within6, p.between6,
           floor((t.btot / (t.k - 1)) / NULLIF(t.wtot / (t.n - t.k), 0)
                 * 1000000.0 + 0.5) / 1000000.0 AS ch6
    FROM per p CROSS JOIN tot t ORDER BY p.cid
    """,
)
def q_e_calinski(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALINSKI–HARABASZ INDEX over the k-means cells (round 9) — the
    variance-ratio criterion (Calinski & Harabasz 1974), completing
    the internal-validity panel next to q_e_davies_bouldin and
    q_e_silhouette: CH = (B/(K−1)) / (W/(n−K)) with B = Σ_c n_c·
    ‖μ_c − μ‖² and W = Σ_x ‖x − μ_own‖² — the metric that rises as
    cells tighten AND separate, and the usual pick-K criterion a
    curation loop sweeps before committing an IVF/SemDeDup rebuild.
    Per cell the member count, within-scatter, and weighted between-
    scatter ship alongside the corpus-constant index.

    Scale: the SAME app-scoped (assignment, cell-mean) cache as DB/
    silhouette (whichever fires first pays the scoring); the within
    pass is the dims⋈broadcast-mean fold (n·64 rows, combinable);
    everything else is K- or 64-row arithmetic. Exactness: exact-
    decimal means at scale 9, scale-12 exact-decimal scatter sums
    (no per-point sqrt at all — CH is a pure variance ratio),
    6-dp-rounded per-cell legs, exact-decimal totals over the 6-dp
    legs, one closing IEEE ratio behind the half-up floor quantizer
    with the degenerate W = 0 corner NULLIF'd identically."""
    e = load_table(spark, sf_dir, "embeddings")
    asg, mean = _db_asg_mean(spark, sf_dir)
    dims = (
        asg.join(e.select("vec_id", "embedding"), "vec_id")
        .select(
            "cid",
            "vec_id",
            F.posexplode(F.col("embedding").cast("array<double>")),
        )
        .select(
            "cid",
            "vec_id",
            (F.col("pos") + 1).alias("d"),
            F.col("col").alias("val"),
        )
    )
    gmean = dims.groupBy("d").agg(F.expr(davg("val", scale=9)).alias("gv"))
    cnt = asg.groupBy("cid").agg(F.count(F.lit(1)).cast("long").alias("n_members"))
    wc = (
        dims.join(F.broadcast(mean), ["cid", "d"])
        .groupBy("cid")
        .agg(F.expr(dsum("(val - nv) * (val - nv)", scale=12)).alias("w"))
    )
    bc = (
        mean.join(F.broadcast(gmean), "d")
        .groupBy("cid")
        .agg(F.expr(dsum("(nv - gv) * (nv - gv)", scale=12)).alias("bunit"))
    )
    per = (
        cnt.join(wc, "cid")
        .join(bc, "cid")
        .select(
            "cid",
            "n_members",
            F.round(F.col("w"), 6).alias("within6"),
            F.round(F.col("n_members") * F.col("bunit"), 6).alias("between6"),
        )
    )
    per = scoped_persist(per, spark, sf_dir, "calinski_per")
    tot = per.agg(
        F.sum("n_members").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.expr(dsum("between6")).alias("btot"),
        F.expr(dsum("within6")).alias("wtot"),
    )
    return (
        per.join(F.broadcast(tot))
        .select(
            "cid",
            "n_members",
            "within6",
            "between6",
            (
                F.floor(
                    (F.col("btot") / (F.col("k") - 1))
                    / F.expr("nullif(wtot / (n - k), 0.0)")
                    * 1000000.0
                    + 0.5
                )
                / 1000000.0
            ).alias("ch6"),
        )
        .orderBy("cid")
    )


# ---------------------------------------------------------------------------
# q_e_retrieval_err (round 9)
# ---------------------------------------------------------------------------

# ERR@10 (Chapelle et al., CIKM 2009 "Expected Reciprocal Rank for
# Graded Relevance"): ERR = Σ_r (1/r)·R_r·Π_{i<r}(1−R_i), the cascade
# model — a user scans down, stops at rank r with probability R_r.
# Satisfaction R uses the same true-rank grades as q_e_retrieval_ndcg
# (g = 11 − exact rank for the true top-10, else 0) mapped linearly to
# R = g/16, so every factor is the exact rational (16−g)/16 and the
# whole sum runs in scaled BIGINT arithmetic: with the common
# denominator D = 2520·16^10 (2520 = lcm(1..10)), term_r·D =
# (2520/r)·16^(10−r)·g_r·Π_{i<r}(16−g_i) — max ~1.7e15, sum < 2^53,
# so even the final double division is exact-input deterministic.
_ERR_K = 10
_ERR_DEN = 2520 * 16**_ERR_K


def _err_scaled_expr(p: str = "") -> str:
    """Σ_r (2520/r)·16^(K−r)·g_r·Π_{i<r}(16−g_i), over pivoted g1..gK —
    identical fragment spliced into BOTH dialects (no libm anywhere).
    `p` is the column-reference prefix (e.g. "p.") — a parameter, not
    post-hoc string replacement (q_e_filter_kappa ADVICE convention)."""
    terms = []
    for r in range(1, _ERR_K + 1):
        prod = " * ".join(f"(16 - {p}g{i})" for i in range(1, r)) or "1"
        coef = (2520 // r) * 16 ** (_ERR_K - r)
        terms.append(f"CAST({coef} AS BIGINT) * {p}g{r} * {prod}")
    return " + ".join(terms)


def _err_g_cols() -> str:
    return ",\n             ".join(
        f"coalesce(MAX(CASE WHEN rka = {i} THEN g END), 0) AS g{i}"
        for i in range(1, _ERR_K + 1)
    )


_ERR6 = (
    f"CAST(floor(CAST(err_scaled AS DOUBLE) / {float(_ERR_DEN)!r}"
    " * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0"
)


@query(
    "q_e_retrieval_err",
    oracle=f"""
    WITH {_d_lsh_bands()},
    {_d_query_rows()},
    {_d_lsh_candidates()},
    {_d_exact_topk(None, 'ranked_a', 'rka', cand='cand')},
    {_d_exact_topk(None, 'ranked_e', 'rke')},
    j AS (SELECT a.qid, a.rka,
                 CASE WHEN a.rka <= {_ERR_K} AND e.rke <= {_ERR_K}
                      THEN 11 - e.rke ELSE 0 END AS g
          FROM ranked_a a JOIN ranked_e e
            ON a.qid = e.qid AND a.vec_id = e.vec_id),
    piv AS (
      SELECT qid, {_err_g_cols()}
      FROM j GROUP BY qid),
    errs AS (
      SELECT b.qid,
             coalesce({_err_scaled_expr('p.')}, 0)
               AS err_scaled
      FROM (SELECT DISTINCT qid FROM ranked_e) b
      LEFT JOIN piv p ON b.qid = p.qid)
    SELECT qid, CAST(err_scaled AS BIGINT) AS err_scaled,
           {_ERR6} AS err6
    FROM errs ORDER BY qid
    """,
)
def q_e_retrieval_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ERR@10 of the SRP-LSH index (round 9) — the cascade-model
    companion to q_e_retrieval_ndcg: nDCG assumes the user inspects
    every position with a fixed discount; ERR models a user who STOPS
    once satisfied, so a single highly-relevant hit at rank 1
    saturates the metric and redundant relevance below it is worth
    almost nothing. Retrieval owners read the pair together —
    nDCG for ranking quality, ERR for first-answer quality (the RAG
    regime, where the generator mostly consumes the top hit).

    Same graded-by-true-rank relevance and the SAME shared skeleton
    (one banding pass, one candidate DISTINCT, one Arrow panel-score
    kernel, (qid)-partitioned rank windows) — the only new work is a
    10-column pivot per panel query and one integer cascade
    polynomial: R = g/16 keeps every stop-probability factor an exact
    rational, the common-denominator trick (D = 2520·16^10) keeps the
    whole Σ(1/r)·R_r·Π(1−R_i) in BIGINT (< 2^53, so the final double
    err6 is bit-deterministic in both engines; docstring math above).
    At 100 TB the panel is a sample and every stage stays cell-scoped,
    exactly like the recall/ndcg audits."""
    cand = lsh_candidates(_banded(spark, sf_dir))
    # persist rationale: _panel_scores_persisted docstring
    scores = _panel_scores_persisted(spark, sf_dir)
    ranked_a = top_vectors(
        scores.join(cand, ["qid", "vec_id"]), "qid", None, rk="rka"
    ).select("qid", "vec_id", "rka")
    ranked_e = top_vectors(scores, "qid", None, rk="rke").select(
        "qid", "vec_id", "rke"
    )
    g = F.when(
        (F.col("rka") <= _ERR_K) & (F.col("rke") <= _ERR_K),
        F.lit(11) - F.col("rke"),
    ).otherwise(F.lit(0))
    j = (
        ranked_a.join(ranked_e, ["qid", "vec_id"])
        .select("qid", "rka", g.alias("g"))
    )
    piv = j.groupBy("qid").agg(
        *[
            F.coalesce(
                F.max(F.when(F.col("rka") == i, F.col("g"))), F.lit(0)
            ).alias(f"g{i}")
            for i in range(1, _ERR_K + 1)
        ]
    )
    base = ranked_e.select("qid").distinct()
    errs = base.join(piv, "qid", "left").selectExpr(
        "qid",
        f"CAST(coalesce({_err_scaled_expr()}, 0) AS BIGINT) AS err_scaled",
    )
    return errs.selectExpr("qid", "err_scaled", f"{_ERR6} AS err6").orderBy(
        "qid"
    )


# ---------------------------------------------------------------------------
# q_e_coreset (round 9)
# ---------------------------------------------------------------------------

# K-center greedy (Gonzalez 1985; Sener & Savarese, ICLR 2018 "Active
# Learning for CNNs: A Core-Set Approach"): start from the smallest
# vec_id, then K_PICKS times pick the point FARTHEST from the selected
# set (max over points of min over centers), ties to the smaller
# vec_id. The radius at each pick is the coverage radius of the
# selection so far — the curve a data-selection owner reads to choose
# the coreset size. All distances are squared-L2 on the µ-quantized
# integer lattice (x → round(x·1e6)), so argmax/argmin are exact
# integer comparisons in both engines.
_CS_PICKS = 7  # picks after the seed → 8 selected total
_CS_QV_DUCK = (
    "list_transform(embedding,"
    " x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))"
)
_CS_QV_SPARK = (
    "transform(embedding,"
    " x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT))"
)
_CS_DIST_DUCK = (
    "list_sum(list_transform(range(1, 65),"
    " i -> (a.qv[i] - b.qv[i]) * (a.qv[i] - b.qv[i])))"
)


def _coreset_step_frame(q: DataFrame, sel_vecs: list[list[int]]) -> DataFrame:
    """(vec_id, qv, mind): min squared-L2 lattice distance from every
    vector to the selected centers — the per-step distributed scan of
    the greedy loop, with each center a LITERAL array so the whole
    distance stays inside JVM codegen (zip_with + aggregate; zero
    Python, zero shuffle). Split out so tests/test_plans.py can pin
    that plan shape directly."""

    def dist_to(center: list[int]) -> str:
        arr = "array(" + ",".join(f"{v}L" for v in center) + ")"
        return (
            f"aggregate(zip_with(qv, {arr}, (x, y) -> (x - y) * (x - y)),"
            " 0L, (acc, d) -> acc + d)"
        )

    dists = " , ".join(dist_to(c) for c in sel_vecs)
    mind_expr = f"least({dists})" if len(sel_vecs) > 1 else dists
    return q.selectExpr("vec_id", "qv", f"{mind_expr} AS mind")


def _coreset_oracle() -> str:
    ctes = [
        f"q AS (SELECT vec_id, {_CS_QV_DUCK} AS qv FROM embeddings)",
        "sel0 AS (SELECT MIN(vec_id) AS vec_id FROM q)",
    ]
    finals = [
        "SELECT 0 AS step, vec_id, CAST(NULL AS BIGINT) AS radius_q"
        " FROM sel0"
    ]
    for s in range(1, _CS_PICKS + 1):
        ctes.append(
            f"""m{s} AS (
      SELECT a.vec_id, MIN({_CS_DIST_DUCK}) AS mind
      FROM q a JOIN sel{s - 1} s ON TRUE JOIN q b ON b.vec_id = s.vec_id
      GROUP BY a.vec_id)"""
        )
        ctes.append(
            f"p{s} AS (SELECT vec_id, mind FROM m{s}"
            " ORDER BY mind DESC, vec_id ASC LIMIT 1)"
        )
        ctes.append(
            f"sel{s} AS (SELECT vec_id FROM sel{s - 1}"
            f" UNION ALL SELECT vec_id FROM p{s})"
        )
        finals.append(
            f"SELECT {s} AS step, vec_id, CAST(mind AS BIGINT)"
            f" AS radius_q FROM p{s}"
        )
    return (
        "WITH " + ",\n    ".join(ctes)
        + "\n    " + "\n    UNION ALL ".join(finals)
        + "\n    ORDER BY step"
    )


@query("q_e_coreset", oracle=_coreset_oracle())
def q_e_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-CENTER GREEDY CORESET selection (round 9) — the geometric
    dual of q_e_diversity_sample's MMR re-ranking and the seed recipe
    kmeans++-style trainers start from: 8 points chosen so the
    corpus-to-selection coverage radius shrinks greedily, with the
    radius CURVE emitted per pick (the number that says "4 centers
    already cover within r; 8 buys only this much more" — how a
    data-efficient-training owner sizes a coreset before committing
    GPU budget, Sener & Savarese 2018).

    The 2-approximation loop is inherently sequential (each pick
    conditions on all previous), so the DRIVER holds the selection —
    K×64 integers, bounded by construction — while every distance
    scan stays distributed: per step one JVM-codegen pass computes
    min-dist to the selected set via zip_with/aggregate over literal
    center arrays (no Python boundary, no shuffle), and
    orderBy().limit(1) is a TakeOrderedAndProject (per-partition
    top-1 + driver merge of 32 rows), never a global sort. Work is
    O(K²·n) at K=8; the 100 TB incrementalization — persist a
    running min-dist column, update against only the newest center —
    is documented here as the scale path (same answers, O(K·n)).
    Exactness: µ-quantized integer lattice end to end; ties to the
    smaller vec_id; the oracle unrolls the identical K steps as
    chained CTEs."""
    e = load_table(spark, sf_dir, "embeddings")
    # each of the K steps re-references the quantized corpus — cut the
    # plan once so the scan+quantize runs once, not once per step
    q = e.selectExpr("vec_id", f"{_CS_QV_SPARK} AS qv").localCheckpoint()
    seed = q.agg(F.min("vec_id").alias("vec_id")).first().vec_id
    sel_rows = q.where(F.col("vec_id") == seed).collect()
    centers = [(0, int(seed), None)]
    sel_vecs = [list(sel_rows[0].qv)]

    for s in range(1, _CS_PICKS + 1):
        top = top_vectors(_coreset_step_frame(q, sel_vecs), (), 1, "mind").collect()[0]
        centers.append((s, int(top.vec_id), int(top.mind)))
        sel_vecs.append(list(top.qv))

    out = local_frame(spark, centers, schema="step int, vec_id long, radius_q long")
    return out.orderBy("step")


# ---------------------------------------------------------------------------
# Graph-ANN family (rounds 10-11): greedy beam search over an in-cell
# kNN graph, its persisted build/serve split, and the incremental
# edge-append lifecycle.
# ---------------------------------------------------------------------------

_BEAM_DEG = 4  # out-degree of the in-cell kNN graph
_BEAM_W = 10  # beam width (= the emitted top-k)
_BEAM_HOPS = 3  # fixed hop budget, unrolled in both engines
_BEAM_ENTRY = 1  # fixed global entry node (the HNSW entry-point role)

# Shared oracle prelude: the doubled corpus view, the query panel, and
# the panel score matrix every beam chain walks.
_BEAM_PRELUDE = f"""v AS (SELECT vec_id, {_D_VEC} AS ve, {_D_NRM} AS nrm FROM embeddings),
    {_d_query_rows()},
    qs AS (SELECT q.qid, v.vec_id,
                  {_d_cos6('v.ve', 'q.qv', 'v.nrm', 'q.qn')} AS s
           FROM v CROSS JOIN qv q)"""


def _beam_body(pfx: str = "", seed_where: str = "") -> str:
    """The beam chain as a WITH-body fragment: seed cells → nearest-
    seed assignment → in-cell {_BEAM_DEG}-NN edges → {_BEAM_HOPS}
    unrolled hop CTEs ending at ``{pfx}b{_BEAM_HOPS}``. ``pfx``
    prefixes every CTE so two graphs — e.g. the round-11 append
    generation next to the full rebuild — coexist in one WITH body
    (the _kmt_rounds convention). Seeds are the vec_id 1..{KM_K}
    cells (the q_e_knn_graph convention); ``seed_where`` narrows them,
    as the base generation's _APPEND_BASE does (the corpus before the
    delta slice arrived loses the delta-member seeds — the graph twin
    of _kmt_chain_b's stale coarse quantizer). Requires _BEAM_PRELUDE
    earlier in the WITH body."""
    edge_cos = _d_cos6("a.ve", "b.ve", "a.nrm", "b.nrm")
    hops = []
    prev = f"{pfx}b0"
    for h in range(1, _BEAM_HOPS + 1):
        hops.append(f"""{pfx}cand{h} AS (
      SELECT DISTINCT qid, vec_id FROM (
        SELECT qid, vec_id FROM {prev}
        UNION ALL
        SELECT p.qid, e.nbr AS vec_id
        FROM {prev} p JOIN {pfx}edges e ON p.vec_id = e.vec_id)
      WHERE vec_id <> qid),
    {pfx}b{h} AS (SELECT qid, vec_id, s FROM (
        SELECT c.qid, c.vec_id, qs.s,
               ROW_NUMBER() OVER (PARTITION BY c.qid
                                  ORDER BY qs.s DESC, c.vec_id ASC) AS rk
        FROM {pfx}cand{h} c JOIN qs ON qs.qid = c.qid
                              AND qs.vec_id = c.vec_id) WHERE rk <= {_BEAM_W})""")
        prev = f"{pfx}b{h}"
    return f"""{_d_seed_cells(KM_K, f'{pfx}c', where=seed_where)},
    {_d_top_cells('v', f'{pfx}c', 'vec_id', 1, f'{pfx}asg')},
    {pfx}nodes AS (SELECT a.vec_id, a.cid, v.ve, v.nrm
              FROM {pfx}asg a JOIN v USING (vec_id)),
    {pfx}edges AS (SELECT vec_id, nbr FROM (
        SELECT a.vec_id, b.vec_id AS nbr,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY {edge_cos} DESC,
                                           b.vec_id ASC) AS rk
        FROM {pfx}nodes a JOIN {pfx}nodes b
          ON a.cid = b.cid AND a.vec_id <> b.vec_id)
      WHERE rk <= {_BEAM_DEG}),
    {pfx}b0 AS (SELECT q.qid, CAST({_BEAM_ENTRY} AS BIGINT) AS vec_id,
                  qs.s
           FROM qv q JOIN qs ON qs.qid = q.qid
                            AND qs.vec_id = {_BEAM_ENTRY}),
    {','.join(hops)}"""


def _beam_select(pfx: str = "") -> str:
    return f"""SELECT qid, rk, vec_id, s AS score6 FROM (
      SELECT qid, vec_id, s,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY s DESC, vec_id ASC) AS rk
      FROM {pfx}b{_BEAM_HOPS})
    ORDER BY qid, rk"""


def _beam_oracle(pfx: str = "", seed_where: str = "") -> str:
    return f"""
    WITH {_BEAM_PRELUDE},
    {_beam_body(pfx, seed_where)}
    {_beam_select(pfx)}
    """


def _beam_edges(members: DataFrame) -> DataFrame:
    """In-cell {_BEAM_DEG}-NN edge set from a (vec_id, cid, embedding)
    membership frame — ONE spelling shared by the in-process search,
    the staged build, and the append's affected-cell re-rank, so the
    build and serve graphs cannot desynchronize (ADVICE r10: the IVF
    family's top_cells/_pq_encode factoring, applied here).
    O(Σ|cell|²) pair scoring, never O(n²): the pair kernel is keyed
    on cid (round-11: _cell_pair_scores — one Arrow crossing per
    cell, bit-identical scores), so each cell's pairs rank
    independently."""
    ew = Window.partitionBy("vec_id").orderBy(
        F.col("cs").desc(), F.col("nbr").asc()
    )
    return (
        _cell_pair_scores(members)
        .select("vec_id", "nbr", "cs")
        .withColumn("rk", F.row_number().over(ew))
        .where(F.col("rk") <= _BEAM_DEG)
        .select("vec_id", "nbr")
    )


def _beam_serve(
    spark: SparkSession,
    sf_dir: str,
    edges: DataFrame,
    gens: "list[str] | None" = None,
) -> DataFrame:
    """The {_BEAM_HOPS}-hop greedy beam walk over a given edge set —
    ONE spelling shared by every graph-ANN serve (in-process, staged,
    appended; ADVICE r10). Per hop the frontier is
    |panel|×{_BEAM_W}×({_BEAM_DEG}+1) rows — corpus-size-INDEPENDENT
    — joined against the slim shared panel-score frame; no driver
    loop over data, no recursion (the bounded-round discipline).

    Fused multi-generation mode (round 11, guide §2.4 "share one
    exchange"): when ``gens`` is given, ``edges`` carries a ``gen``
    tag column and the SAME hop loop walks every generation at once —
    all keys gain ``gen``, so each (gen, qid) group ranks exactly as
    its solo serve would (bit-identical per generation) while the
    audit pays ONE set of hop stages instead of one per generation.
    With ``gens=None`` the plan is byte-identical to the historical
    single-generation serve."""
    gcols = ["gen"] if gens else []
    qs = _panel_scores_persisted(spark, sf_dir)
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
    for _hop in range(_BEAM_HOPS):
        # One reference to `beam` per hop (round 11): the historical
        # spelling unioned beam with beam.join(edges), referencing the
        # frontier TWICE — and the post-exchange tail of the frontier
        # subtree (final window sort + rank filter) re-executed per
        # union branch, compounding 2× per hop. A LEFT join + explode
        # of [self, nbr] yields the identical candidate set (the left
        # join keeps edge-less frontier rows; explode duplicates are
        # removed by the same distinct) with the frontier executed
        # once: serve solo 2.07 → 1.43 s, interleaved min-of-3,
        # exceptAll-identical in both single- and fused-gen modes.
        # NOT broadcast-hinted on purpose (same A/B session): hinting
        # F.broadcast(beam) converts the edge join SMJ→BHJ but
        # measured SLOWER (2.05 → 2.27 s) — each hop's broadcast is a
        # sequential driver materialization of a window-derived
        # frontier, costlier than the small edge-side exchange.
        cand = (
            beam.join(edges, gcols + ["vec_id"], "left")
            .select(
                *gcols,
                "qid",
                F.explode(F.array("vec_id", "nbr")).alias("vec_id"),
            )
            .where(
                F.col("vec_id").isNotNull() & (F.col("vec_id") != F.col("qid"))
            )
            .distinct()
        )
        beam = top_vectors(
            cand.join(qs, ["qid", "vec_id"]).select(
                *gcols, "qid", "vec_id", F.col("score").alias("s")
            ),
            gcols + ["qid"],
            _BEAM_W,
            "s",
        ).select(*gcols, "qid", "vec_id", "s")
    return (
        top_vectors(beam, gcols + ["qid"], None, "s")
        .select(*gcols, "qid", "rk", "vec_id", F.col("s").alias("score6"))
        .orderBy(*gcols, "qid", "rk")
    )


@query("q_e_graph_beam_search", oracle=_beam_oracle())
def q_e_graph_beam_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRAPH-ANN greedy beam search (round 10) — the HNSW/NSW layer-0
    SERVING shape (Malkov & Yashunin, TPAMI 2018), the graph-based
    alternative to the module's IVF family: from a fixed entry node,
    repeatedly expand the current beam's out-edges in a degree-bounded
    kNN graph, score candidates against the query, and keep the best
    {_BEAM_W} — a fixed {_BEAM_HOPS}-hop budget unrolled as
    {_BEAM_HOPS} co-partitioned join+rank stages (the q_e_cc_stars /
    q_e_kmeans_train bounded-round discipline; no driver loop over
    data, no recursion). The graph is the in-cell {_BEAM_DEG}-NN edge
    set (q_e_knn_graph's O(Σ|cell|²)-never-O(n²) construction, kept
    as edges instead of a ledger) — built once per query panel and
    reused by all {_BEAM_HOPS} hops via the scoped-persist registry.

    Determinism: edge ranks and beam ranks are 6-dp cosine with
    vec_id tie-breaks; the hop count and entry are literals, so both
    engines walk the identical frontier sequence. Scale: per hop the
    frontier is |panel|×{_BEAM_W}×({_BEAM_DEG}+1) rows — corpus-size-
    INDEPENDENT — joined against the slim (qid, vec_id, score) panel
    scores; the only corpus-proportional passes are the one-time edge
    build and the shared _panel_scores Arrow pass. At 100 TB the edge
    set is a persisted artifact (the stage_ivf_index economics) and a
    serve touches O(beam·degree·hops) vectors per query — the whole
    point of graph ANN."""
    e = load_table(spark, sf_dir, "embeddings")
    asg, _cent = _km_assign(spark, sf_dir)
    members = asg.join(e, "vec_id").select("vec_id", "cid", "embedding")
    # three hops re-join the same edge set — one persisted copy
    edges = scoped_persist(
        _beam_edges(members), spark, sf_dir, "beam_edges"
    )
    return _beam_serve(spark, sf_dir, edges)


def stage_beam_graph(spark: SparkSession, sf_dir: str) -> str:
    """BUILD phase of the graph-ANN lifecycle (round 10): persist the
    in-cell {_BEAM_DEG}-NN edge set as a parquet artifact under the
    corpus-fingerprinted staging contract (tmpdirs.staged, like
    stage_ivf_index).
    The O(Σ|cell|²) pair scoring runs ONCE per corpus; every serve
    call reads the slim (vec_id, nbr) edge table back from disk — the
    HNSW build/serve split, same economics as the IVF artifacts."""

    def build(tmp: str) -> None:
        e = load_table(spark, sf_dir, "embeddings")
        asg, _cent = _km_assign(spark, sf_dir)
        members = asg.join(e, "vec_id").select("vec_id", "cid", "embedding")
        _beam_edges(members).write.mode("overwrite").parquet(f"{tmp}/edges")

    return tmpdirs.staged(sf_dir, "embeddings", "ggee_ivf_index", build, "g1")


@query("q_e_beam_persist", oracle=_beam_oracle())
def q_e_beam_persist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-ANN SERVE from the persisted edge artifact (round 10) —
    the production form of q_e_graph_beam_search, completing the
    build/serve split for the graph family the way q_e_ivf_persist
    did for IVF: stage_beam_graph pays the O(Σ|cell|²) edge
    construction once per corpus, and THIS op's plan reads ONLY the
    read-back (vec_id, nbr) parquet scan plus the shared panel
    scores — no assignment, no pair expansion, no training lineage
    (pinned in tests/test_plans.py). Same oracle as the in-process
    spelling: parity proves the artifact round-trip changes nothing.

    Scale: the serve touches O(beam·degree·hops) edge rows per query
    via three co-partitioned join+rank stages over corpus-size-
    independent frontiers — the entire point of graph ANN at 100 TB;
    the edge scan prunes to the frontier's vec_ids."""
    staged = stage_beam_graph(spark, sf_dir)
    edges = spark.read.parquet(f"{staged}/edges")
    return _beam_serve(spark, sf_dir, edges)


def stage_beam_base_graph(spark: SparkSession, sf_dir: str) -> str:
    """BUILD phase of the OLD graph generation (round 11, VERDICT r10
    item 2's prerequisite): the corpus as it stood before the delta
    slice ({_APPEND_DELTA}) arrived. Cell seeds are the surviving
    members of the standard seed range (so the old generation has
    fewer cells — the graph twin of stage_ivf_base_index's stale
    coarse quantizer), membership covers base vectors only, and the
    in-cell {_BEAM_DEG}-NN edge set is computed over that base
    membership. The artifact carries centroids + postings + edges so
    the append job can run from READ-BACK state alone."""

    def build(tmp: str) -> None:
        e = load_table(spark, sf_dir, "embeddings")
        base = e.where(F.expr(_APPEND_BASE))
        cent = _seed_cells(base, KM_K)
        cent.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/centroids")
        asg = top_cells(base.select("vec_id", "embedding"), cent, "vec_id", 1)
        asg.select("vec_id", "cid").write.mode("overwrite").parquet(f"{tmp}/postings")
        members = (
            spark.read.parquet(f"{tmp}/postings")
            .join(e, "vec_id")
            .select("vec_id", "cid", "embedding")
        )
        _beam_edges(members).write.mode("overwrite").parquet(f"{tmp}/edges")

    return tmpdirs.staged(sf_dir, "embeddings", "ggee_ivf_index", build, "gb1")


def stage_beam_append(spark: SparkSession, sf_dir: str) -> str:
    """DELTA-INGEST phase of the graph family (round 11, VERDICT r10
    item 2): connect the delta slice into the FROZEN persisted edge
    set — the q_e_ivfpq_append lifecycle symmetry. Everything reads
    from the base generation's artifacts (no seed re-derivation, no
    assignment of base vectors, no pair scoring outside affected
    cells — pinned in tests/test_plans.py):

    1. Delta vectors are coarse-assigned against the READ-BACK frozen
       centroids (top_cells — the exact build spelling).
    2. Cells receiving ≥1 delta vector ("affected") get their in-cell
       {_BEAM_DEG}-NN edge lists re-ranked over the UNIONED
       membership — this inserts the delta vectors' forward edges AND
       repairs base vectors' reverse edges to the degree bound in one
       pass, exactly the HNSW insert's neighbour-list update.
    3. Untouched cells' edge lists are copied THROUGH parquet scans
       (never recomputed); the merged generation (centroids carried
       over + unioned postings + kept∪re-ranked edges) publishes
       atomically under its own fingerprinted path.

    Because in-cell {_BEAM_DEG}-NN is exact within a cell, the
    affected-cell re-rank makes the merged edge set IDENTICAL to a
    full rebuild under the frozen cells — the only staleness is the
    cell geometry itself (missing delta-era seeds), which
    q_e_beam_drift prices against the fresh rebuild.

    Scale: the delta pass touches delta vectors (one broadcast-
    centroid assignment scan) plus the members of affected cells
    (Σ|affected cell|² pair scoring); at a daily-ingest ratio the
    affected set is a small fraction of cells and the kept-edge copy
    is a slim (vec_id, nbr) scan — no corpus-wide recompute."""

    def build(tmp: str) -> None:
        base_dir = stage_beam_base_graph(spark, sf_dir)
        # ---- everything below reads ONLY the base artifacts + the table
        cdf = spark.read.parquet(f"{base_dir}/centroids")
        bpost = spark.read.parquet(f"{base_dir}/postings")
        bedges = spark.read.parquet(f"{base_dir}/edges")
        e = load_table(spark, sf_dir, "embeddings")
        delta = e.where(F.expr(_APPEND_DELTA)).select("vec_id", "embedding")
        # frozen-centroid assignment of the delta slice → merged postings
        dasg = top_cells(delta, cdf, "vec_id", 1).select("vec_id", "cid")
        merged_post = bpost.unionByName(dasg)
        merged_post.write.mode("overwrite").parquet(f"{tmp}/postings")
        merged_post = spark.read.parquet(f"{tmp}/postings")
        affected = dasg.select("cid").distinct()
        # affected cells: re-rank in-cell edges over the unioned
        # membership (delta forward edges + base reverse-edge repair)
        aff_members = (
            merged_post.join(F.broadcast(affected), "cid")
            .join(e, "vec_id")
            .select("vec_id", "cid", "embedding")
        )
        new_edges = _beam_edges(aff_members)
        # untouched cells: copy the frozen edge lists straight through
        kept = (
            bedges.join(bpost, "vec_id")
            .join(F.broadcast(affected), "cid", "left_anti")
            .select("vec_id", "nbr")
        )
        kept.unionByName(new_edges).write.mode("overwrite").parquet(
            f"{tmp}/edges"
        )
        # centroids carry over unchanged into the merged generation
        cdf.coalesce(1).write.mode("overwrite").parquet(f"{tmp}/centroids")

    return tmpdirs.staged(sf_dir, "embeddings", "ggee_ivf_index", build, "gm1")


@query(
    "q_e_beam_append",
    oracle=_beam_oracle(pfx="m", seed_where=_APPEND_BASE),
)
def q_e_beam_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental graph-ANN ingest, served (round 11, VERDICT r10
    item 2): the base edge set was built when only the base slice
    existed (stage_beam_base_graph — fewer cells, base-only members);
    the delta slice is connected by frozen-centroid assignment plus
    affected-cell re-rank (stage_beam_append — artifacts-only inputs,
    reverse-edge repair, atomic merged publish), and THIS op serves
    the {_BEAM_HOPS}-hop beam from the merged edges with the exact
    serve plan q_e_beam_persist uses (shared _beam_serve — only the
    artifact directory differs).

    The oracle re-derives the base-seed cell geometry and builds the
    in-cell graph over the FULL corpus — exactly what kept∪re-ranked
    edges equal, BECAUSE in-cell kNN is exact within a cell and the
    affected-cell re-rank repairs every neighbour list the delta
    touches (the docstring argument in stage_beam_append). Recall
    cost of serving the stale cell geometry is quantified by
    q_e_beam_drift — the q_e_ivfpq_append/q_e_ivfpq_drift symmetry.

    Scale: identical to q_e_beam_persist's serve — corpus-size-
    independent frontiers against the pruned merged edge scan."""
    staged = stage_beam_append(spark, sf_dir)
    edges = spark.read.parquet(f"{staged}/edges")
    return _beam_serve(spark, sf_dir, edges)


def _beam_drift_oracle() -> str:
    return f"""
    WITH {_BEAM_PRELUDE},
    {_beam_body()},
    {_beam_body(pfx='m', seed_where=_APPEND_BASE)},
    rapprox AS (SELECT qid, vec_id FROM b{_BEAM_HOPS}),
    bapprox AS (SELECT qid, vec_id FROM mb{_BEAM_HOPS}),
    {_d_exact_topk()},
    {_DRIFT_TAIL}
    """


@query("q_e_beam_drift", oracle=_beam_drift_oracle())
def q_e_beam_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall-drift audit of the APPENDED graph vs a FRESH REBUILD
    (round 11, the closing leg of VERDICT r10 item 2): per panel
    query, recall@{_RECALL_K} of (a) the merged append-path
    generation (frozen base-era cell geometry serving 100% of the
    corpus) and (b) the full rebuild (cells re-seeded on everything),
    both against brute-force exact cosine — and their difference,
    drift6. With q_e_ivfpq_drift this completes the lifecycle audit
    pair: both ANN families now price their append-vs-rebuild gap,
    and q_e_retrain_policy turns the two prices into the retrain
    decision.

    Plan: both approx sides are the persisted serves (artifact edge
    scans + the shared hop loop); the exact side reuses the shared
    _panel_scores Arrow pass. All three are deterministic rank
    spellings, so the drift is hash-exact, not a tolerance check.

    Round-11 optimization (guide §2.4): the two serves run as ONE
    fused _beam_serve walk over the gen-tagged union of the two edge
    artifacts — each (gen, qid) group ranks exactly as its solo serve
    would, so per-generation results are bit-identical (pinned by
    tests/test_operators.py::test_beam_drift_fused_serve_matches_solo
    and by oracle parity), while the audit pays one hop pipeline and
    one exact-side window instead of two of each."""
    sa = stage_beam_append(spark, sf_dir)
    sg = stage_beam_graph(spark, sf_dir)
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
        spark, sf_dir, edges, gens=["append", "rebuild"]
    ).select("gen", "qid", "vec_id")
    exact = top_vectors(
        _panel_scores_persisted(spark, sf_dir), "qid", _RECALL_K
    ).select("qid", "vec_id")
    hits = (
        fused.join(exact, ["qid", "vec_id"])
        .groupBy("qid")
        .agg(
            F.sum(F.when(F.col("gen") == "append", 1).otherwise(0))
            .cast("long")
            .alias("nb"),
            F.sum(F.when(F.col("gen") == "rebuild", 1).otherwise(0))
            .cast("long")
            .alias("nr"),
        )
    )
    panel = _query_rows(load_table(spark, sf_dir, "embeddings")).select("qid")
    nb = F.coalesce(F.col("nb"), F.lit(0))
    nr = F.coalesce(F.col("nr"), F.lit(0))
    return (
        panel.join(hits, "qid", "left")
        .select(
            "qid",
            nb.cast("long").alias("n_hit_append"),
            F.round(nb / float(_RECALL_K), 6).alias("recall_append6"),
            nr.cast("long").alias("n_hit_rebuild"),
            F.round(nr / float(_RECALL_K), 6).alias("recall_rebuild6"),
            F.round(
                F.round(nr / float(_RECALL_K), 6)
                - F.round(nb / float(_RECALL_K), 6),
                6,
            ).alias("drift6"),
        )
        .orderBy("qid")
    )


def _beam_recall_oracle() -> str:
    # reuse the full beam chain, then compare against exact top-10
    return f"""
    WITH {_BEAM_PRELUDE},
    {_beam_body()},
    approx AS (SELECT qid, vec_id FROM b{_BEAM_HOPS}),
    {_d_exact_topk()},
    {_d_recall('(SELECT qid FROM qv)')}
    SELECT * FROM recall ORDER BY qid
    """


@query("q_e_beam_recall", oracle=_beam_recall_oracle())
def q_e_beam_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@{_RECALL_K} audit of the graph-ANN beam serve
    (round 10) — the module convention that every approximate path
    ships its accuracy audit, applied to the beam family on the
    shared 5-query panel against brute-force exact cosine. This is
    the number that tunes beam width / hop budget / graph degree, and
    it completes the three-family audit set: q_e_ann_recall (LSH),
    q_e_ivf_recall / q_e_ivfpq_recall (coarse quantizer ± PQ), THIS
    (navigable graph). Both sides are deterministic rank spellings,
    so recall is hash-exact, not a tolerance check."""
    approx = q_e_beam_persist(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    return recall_at_k(
        _query_rows(e).select("qid"), approx, _panel_scores_persisted(spark, sf_dir)
    ).orderBy("qid")


# ---------------------------------------------------------------------------
# q_e_retrain_policy (round 11) — the rebuild-when decision exhibit
# ---------------------------------------------------------------------------

_RETRAIN_DRIFT_BUDGET = 0.05  # mean recall-loss points tolerated
_RETRAIN_SHARE_CAP = 0.15  # frozen-codebook delta share tolerated


def _retrain_policy_oracle() -> str:
    # Each drift audit embeds as a self-contained subquery (its own
    # nested WITH scope), so the two chains' CTE names cannot collide.
    return f"""
    WITH idrift AS ({_ivfpq_drift_oracle()}),
    bdrift AS ({_beam_drift_oracle()}),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all,
                 CAST(SUM(CASE WHEN {_APPEND_DELTA} THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_delta
          FROM embeddings),
    v2 AS (SELECT vec_id, {_D_VEC} AS ve, {_D_NRM} AS nrm FROM embeddings),
    {_d_seed_cells(KM_K, 'bc2', 'v2', _APPEND_BASE)},
    {_d_top_cells('v2', 'bc2', 'vec_id', 1, 'masg2')},
    touch AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_aff FROM masg2
              WHERE cid IN (SELECT DISTINCT cid FROM masg2
                            WHERE {_APPEND_DELTA})),
    stats AS (
      SELECT 'beam' AS family,
             round({davg('drift6', scale=6)}, 6) AS mean_drift6,
             round(MAX(drift6), 6) AS max_drift6
      FROM bdrift
      UNION ALL
      SELECT 'ivfpq',
             round({davg('drift6', scale=6)}, 6),
             round(MAX(drift6), 6)
      FROM idrift)
    SELECT s.family, s.mean_drift6, s.max_drift6,
           round(CAST(n.n_delta AS DOUBLE) / n.n_all, 6) AS delta_frac6,
           CASE s.family WHEN 'ivfpq'
                THEN round(CAST(n.n_delta AS DOUBLE) / n.n_all, 6)
                ELSE round(CAST(t.n_aff AS DOUBLE) / n.n_all, 6)
           END AS touch_frac6,
           CAST(s.mean_drift6 > {_RETRAIN_DRIFT_BUDGET} AS BOOLEAN)
             AS drift_breach,
           CAST(round(CAST(n.n_delta AS DOUBLE) / n.n_all, 6)
                > {_RETRAIN_SHARE_CAP} AS BOOLEAN) AS share_breach,
           CAST(s.mean_drift6 > {_RETRAIN_DRIFT_BUDGET}
                OR round(CAST(n.n_delta AS DOUBLE) / n.n_all, 6)
                   > {_RETRAIN_SHARE_CAP} AS BOOLEAN) AS rebuild_now
    FROM stats s, n, touch t
    ORDER BY s.family
    """


@query("q_e_retrain_policy", oracle=_retrain_policy_oracle())
def q_e_retrain_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrain-cadence decision exhibit (round 11, VERDICT r10 item 5
    — closes the ANN lifecycle loop): for EACH index family (IVF+PQ
    coarse quantizer, navigable graph) combine its append-vs-rebuild
    recall drift (q_e_ivfpq_drift / q_e_beam_drift) with the ingest's
    cost share into the production rebuild-when rule:

        rebuild_now ⇔ mean drift > {_RETRAIN_DRIFT_BUDGET} recall
        points  OR  the frozen-codebook delta share exceeds
        {_RETRAIN_SHARE_CAP} of the corpus.

    Emitted per family: panel-mean and max drift (exact-decimal mean
    — the audit numbers an owner trends), delta_frac (delta rows /
    corpus), touch_frac (what the append actually re-scores: delta
    rows for IVF+PQ's frozen-codebook encode; affected-cell members
    for the graph's reverse-edge repair — the append/rebuild cost
    ratio), and the two breach flags with their disjunction. This is
    THE k-row frame a nightly index-maintenance job materializes to
    decide whether the slow-cadence rebuild fires and the
    generations swap (the FAISS train-vs-add economics).

    Plan: both drift inputs are the persisted serves (artifact scans
    + shared panel pass); the counts are one combinable aggregate
    over embeddings plus one read of the merged postings artifact —
    k rows total, no new heavy machinery (the verdict's ask)."""
    e = load_table(spark, sf_dir, "embeddings")
    n_row = (
        e.agg(
            F.count(F.lit(1)).cast("long").alias("n_all"),
            F.sum(
                F.when(F.expr(_APPEND_DELTA), F.lit(1)).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("n_delta"),
        )
    )
    # affected-cell membership from the MERGED postings artifact (the
    # append job's own output — no re-assignment here)
    merged = stage_beam_append(spark, sf_dir)
    post = spark.read.parquet(f"{merged}/postings")
    aff = post.where(F.expr(_APPEND_DELTA)).select("cid").distinct()
    touch = post.join(F.broadcast(aff), "cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_aff")
    )
    stats = (
        q_e_beam_drift(spark, sf_dir)
        .agg(
            F.round(F.expr(davg("drift6", scale=6)), 6).alias("mean_drift6"),
            F.round(F.max("drift6"), 6).alias("max_drift6"),
        )
        .select(F.lit("beam").alias("family"), "mean_drift6", "max_drift6")
        .unionByName(
            q_e_ivfpq_drift(spark, sf_dir)
            .agg(
                F.round(F.expr(davg("drift6", scale=6)), 6).alias(
                    "mean_drift6"
                ),
                F.round(F.max("drift6"), 6).alias("max_drift6"),
            )
            .select(
                F.lit("ivfpq").alias("family"), "mean_drift6", "max_drift6"
            )
        )
    )
    delta_frac = F.round(
        F.col("n_delta").cast("double") / F.col("n_all"), 6
    )
    aff_frac = F.round(F.col("n_aff").cast("double") / F.col("n_all"), 6)
    return (
        stats.join(F.broadcast(n_row))
        .join(F.broadcast(touch))
        .select(
            "family",
            "mean_drift6",
            "max_drift6",
            delta_frac.alias("delta_frac6"),
            F.when(F.col("family") == "ivfpq", delta_frac)
            .otherwise(aff_frac)
            .alias("touch_frac6"),
            (F.col("mean_drift6") > _RETRAIN_DRIFT_BUDGET)
            .cast("boolean")
            .alias("drift_breach"),
            (delta_frac > _RETRAIN_SHARE_CAP)
            .cast("boolean")
            .alias("share_breach"),
            (
                (F.col("mean_drift6") > _RETRAIN_DRIFT_BUDGET)
                | (delta_frac > _RETRAIN_SHARE_CAP)
            )
            .cast("boolean")
            .alias("rebuild_now"),
        )
        .orderBy("family")
    )


# ---------------------------------------------------------------------------
# q_e_dbscan_core / q_e_label_prop (round 11) — density roles and
# one-round label propagation over the cell-bounded neighbor structure
# ---------------------------------------------------------------------------

_DBSCAN_EPS = 0.20  # cosine similarity threshold (6-dp compare)
_DBSCAN_MINPTS = 5  # neighbors (excl. self) required for a core point


def _dbscan_oracle() -> str:
    pair_cos = _d_cos6("a.ve", "b.ve", "a.nrm", "b.nrm")
    return f"""
    WITH {_KM_CTES},
    m AS (SELECT a.vec_id, a.cid, v.ve, v.nrm
          FROM asg a JOIN v USING (vec_id)),
    nbr AS (SELECT a.vec_id, b.vec_id AS nbr
            FROM m a JOIN m b
              ON a.cid = b.cid AND a.vec_id <> b.vec_id
            WHERE {pair_cos} >= {_DBSCAN_EPS}),
    cnt AS (SELECT m.vec_id, m.cid,
                   CAST(COALESCE(c.n, 0) AS BIGINT) AS n_nbr
            FROM m LEFT JOIN (SELECT vec_id, COUNT(*) AS n
                              FROM nbr GROUP BY vec_id) c
              ON m.vec_id = c.vec_id),
    core AS (SELECT vec_id FROM cnt WHERE n_nbr >= {_DBSCAN_MINPTS}),
    bord AS (SELECT DISTINCT n.vec_id FROM nbr n
             JOIN core k ON n.nbr = k.vec_id
             WHERE n.vec_id NOT IN (SELECT vec_id FROM core))
    SELECT c.vec_id, c.cid, c.n_nbr,
           CASE WHEN c.n_nbr >= {_DBSCAN_MINPTS} THEN 'core'
                WHEN b.vec_id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role
    FROM cnt c LEFT JOIN bord b ON c.vec_id = b.vec_id
    ORDER BY c.vec_id
    """


@query("q_e_dbscan_core", oracle=_dbscan_oracle())
def q_e_dbscan_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN density roles (Ester et al., KDD 1996) over the
    embedding corpus, cell-bounded (round 11): a vector is CORE if it
    has ≥ {_DBSCAN_MINPTS} in-cell neighbors at cosine ≥
    {_DBSCAN_EPS}, BORDER if it is not core but ε-reaches one, NOISE
    otherwise — the density triage a curation pipeline runs before
    density-aware sampling (core = redundant mass a sampler can
    thin; noise = the long tail an outlier audit inspects; the
    q_e_embed_outliers / q_e_diversity_sample neighbors in one
    labeled frame).

    The ε-neighborhood is evaluated INSIDE the seed-cell partition
    (the q_e_knn_graph / q_e_dbscan convention everywhere in this
    module): Σ|cell|² pair scoring, never O(n²) — the standard
    grid/partition pruning every spatial DBSCAN uses, here with the
    cell radius chosen by the shared coarse quantizer. Cross-cell
    neighbors are deliberately out of scope and documented (they
    only DEMOTE roles near cell boundaries; the roles are
    per-partition-exact, the 100 TB contract).

    Exactness: 6-dp cosine compares, integer counts, role by CASE —
    hash-exact. Scale: the pair join is keyed on cid (one shuffle),
    the count one combinable rollup, the border check a semi-join of
    the slim neighbor frame against the core set."""
    e = load_table(spark, sf_dir, "embeddings")
    asg, _cent = _km_assign(spark, sf_dir)
    m = asg.join(e, "vec_id").select("vec_id", "cid", "embedding")
    nbr = (
        _cell_pair_scores(m)
        .where(F.col("cs") >= _DBSCAN_EPS)
        .select("vec_id", "nbr")
    )
    nbr = scoped_persist(nbr, spark, sf_dir, "dbscan_nbr")
    cnt = m.select("vec_id", "cid").join(
        nbr.groupBy("vec_id").agg(F.count(F.lit(1)).alias("n")),
        "vec_id",
        "left",
    ).select(
        "vec_id",
        "cid",
        F.coalesce("n", F.lit(0)).cast("long").alias("n_nbr"),
    )
    core = cnt.where(F.col("n_nbr") >= _DBSCAN_MINPTS).select("vec_id")
    bord = (
        nbr.join(core.withColumnRenamed("vec_id", "nbr"), "nbr")
        .select("vec_id")
        .join(core, "vec_id", "left_anti")
        .distinct()
        .withColumn("is_border", F.lit(True))
    )
    return (
        cnt.join(bord, "vec_id", "left")
        .select(
            "vec_id",
            "cid",
            "n_nbr",
            F.when(F.col("n_nbr") >= _DBSCAN_MINPTS, F.lit("core"))
            .when(F.col("is_border"), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
        )
        .orderBy("vec_id")
    )


def _label_prop_oracle() -> str:
    edge_cos = _d_cos6("a.ve", "b.ve", "a.nrm", "b.nrm")
    return f"""
    WITH {_KM_CTES},
    m AS (SELECT a.vec_id, a.cid, v.ve, v.nrm
          FROM asg a JOIN v USING (vec_id)),
    edges AS (SELECT vec_id, nbr FROM (
        SELECT a.vec_id, b.vec_id AS nbr,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY {edge_cos} DESC,
                                           b.vec_id ASC) AS rk
        FROM m a JOIN m b
          ON a.cid = b.cid AND a.vec_id <> b.vec_id)
      WHERE rk <= {_BEAM_DEG}),
    lbl AS (SELECT vec_id, CAST(label AS BIGINT) AS label
            FROM embeddings),
    votes AS (SELECT e.vec_id, l.label AS nlabel, COUNT(*) AS n
              FROM edges e JOIN lbl l ON e.nbr = l.vec_id
              GROUP BY e.vec_id, l.label),
    winner AS (SELECT vec_id, nlabel FROM (
                 SELECT vec_id, nlabel,
                        ROW_NUMBER() OVER (PARTITION BY vec_id
                                           ORDER BY n DESC,
                                                    nlabel ASC) AS rk
                 FROM votes) WHERE rk = 1)
    SELECT l.label AS old_label,
           COALESCE(w.nlabel, l.label) AS new_label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM lbl l LEFT JOIN winner w ON l.vec_id = w.vec_id
    GROUP BY 1, 2
    ORDER BY 1, 2
    """


@query("q_e_label_prop", oracle=_label_prop_oracle())
def q_e_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One round of LABEL PROPAGATION (Zhu & Ghahramani, CMU 2002 —
    the graph-SSL baseline) over the shared in-cell {_BEAM_DEG}-NN
    graph (round 11): each vector adopts the MODE of its out-
    neighbors' labels (ties to the smaller label id; isolated
    vectors keep their own), and the op emits the old→new TRANSITION
    MATRIX — the frame an annotation owner reads to see which
    classes bleed into which under the embedding geometry (diagonal
    mass = geometric label consistency, the same signal
    q_e_knn_classify scores as accuracy but resolved per class
    pair).

    Reuses the exact _beam_edges spelling for the graph (6-dp
    cosine, vec_id tie-break, degree {_BEAM_DEG}) so the SSL walk
    and the ANN serve read the SAME structure — one graph, many
    consumers (the artifact economics of stage_beam_graph apply
    verbatim at scale). One propagation round is the deterministic
    exhibit; the fixed-point loop is this op inside the
    q_e_kmeans_train bounded-round discipline.

    Exactness: integer vote counts, ROW_NUMBER tie-breaks, BIGINT
    census — hash-exact. Scale: edge build Σ|cell|² once (scoped-
    persist/artifact), votes one (vec,label) rollup, census one
    k²-row rollup."""
    e = load_table(spark, sf_dir, "embeddings")
    asg, _cent = _km_assign(spark, sf_dir)
    members = asg.join(e, "vec_id").select("vec_id", "cid", "embedding")
    edges = scoped_persist(
        _beam_edges(members), spark, sf_dir, "beam_edges"
    )
    lbl = e.select("vec_id", F.col("label").cast("long").alias("label"))
    votes = (
        edges.join(
            lbl.select(
                F.col("vec_id").alias("nbr"), F.col("label").alias("nlabel")
            ),
            "nbr",
        )
        .groupBy("vec_id", "nlabel")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("n").desc(), F.col("nlabel").asc()
    )
    winner = (
        votes.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("vec_id", "nlabel")
    )
    return (
        lbl.join(winner, "vec_id", "left")
        .select(
            F.col("label").alias("old_label"),
            F.coalesce(F.col("nlabel"), F.col("label")).alias("new_label"),
        )
        .groupBy("old_label", "new_label")
        .agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
        .orderBy("old_label", "new_label")
    )


# ---------------------------------------------------------------------------
# q_e_lsh_multiprobe (round 11) — 1-bit-flip multi-probe LSH
# ---------------------------------------------------------------------------

_MP_FLIPS = [2**k for k in range(PLANES_PER_BAND)]


@query(
    "q_e_lsh_multiprobe",
    oracle=f"""
    WITH {_d_lsh_bands(label=True)},
    qb AS (SELECT band, bucket FROM bands WHERE vec_id = 0),
    probes AS (SELECT band, bucket FROM qb
               UNION
               SELECT qb.band, xor(qb.bucket, CAST(f.p AS BIGINT))
               FROM qb, (SELECT unnest({_MP_FLIPS}) AS p) f),
    cand AS (SELECT DISTINCT b.vec_id
             FROM probes JOIN bands b ON probes.band = b.band
                                     AND probes.bucket = b.bucket
             WHERE b.vec_id <> 0),
    single AS (SELECT DISTINCT b.vec_id
               FROM qb JOIN bands b ON qb.band = b.band
                                   AND qb.bucket = b.bucket
               WHERE b.vec_id <> 0),
    q AS (SELECT ve AS qv, nrm AS qn FROM v WHERE vec_id = 0)
    SELECT v.vec_id, v.label,
           {_d_cos6('v.ve', 'q.qv', 'v.nrm', 'q.qn')} AS score,
           CAST(s.vec_id IS NULL AS BOOLEAN) AS via_flip
    FROM cand c JOIN v ON c.vec_id = v.vec_id
    LEFT JOIN single s ON c.vec_id = s.vec_id, q
    ORDER BY score DESC, v.vec_id ASC
    LIMIT 20
    """,
)
def q_e_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PROBE LSH top-k (Lv et al., VLDB 2007) — the recall
    lever that does NOT cost another index copy (round 11): besides
    the query's own SRP bucket per band, probe every bucket at
    Hamming distance 1 (flip each of the {PLANES_PER_BAND} sign
    bits), because a near neighbor that lands one sign away is the
    COMMON failure mode of q_e_sim_topk_lsh's single probe. The
    top-20 re-rank is exact cosine over the widened candidate set,
    and each hit carries via_flip — True when ONLY a flipped probe
    found it, the inline exhibit of what multi-probe bought (the
    tuning trade q_e_ann_cost / q_e_ann_recall price for the single-
    probe path).

    Scale: candidates grow by ≤ the flipped buckets' occupancy
    (≈ ({PLANES_PER_BAND}+1)× single-probe fan-out, still ≪ corpus);
    probes are {N_BANDS}×({PLANES_PER_BAND}+1) broadcast rows joined
    against the SAME bucket-partitioned bands index, so the 100 TB
    layout is unchanged — multi-probe is purely more index lookups,
    the entire point of the technique."""
    e = load_table(spark, sf_dir, "embeddings")
    bands = _banded(spark, sf_dir)
    qb = bands.where(F.col("vec_id") == 0).select("band", "bucket")
    flips = F.explode(
        F.array(*[F.lit(p) for p in _MP_FLIPS])
    ).alias("p")
    probes = (
        qb.unionByName(
            qb.select("band", "bucket", flips).select(
                "band",
                F.expr("bucket ^ p").cast("long").alias("bucket"),
            )
        )
        .distinct()
    )
    nz = bands.where(F.col("vec_id") != 0)
    cand = (
        nz.join(F.broadcast(probes), ["band", "bucket"])
        .select("vec_id")
        .distinct()
    )
    single = (
        nz.join(F.broadcast(qb), ["band", "bucket"])
        .select("vec_id")
        .distinct()
        .withColumn("hit1", F.lit(True))
    )
    q = e.where(F.col("vec_id") == 0).select(F.col("embedding").alias("qemb"))
    scored = (
        cand.join(e, "vec_id")
        .join(F.broadcast(q))
        .join(F.broadcast(single), "vec_id", "left")
        .select(
            "vec_id",
            "label",
            _cos6("embedding", "qemb").alias("score"),
            F.col("hit1").isNull().cast("boolean").alias("via_flip"),
        )
    )
    return top_vectors(scored, (), 20)
