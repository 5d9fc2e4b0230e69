"""Group E — distributed linear algebra over the embedding column.

The Gram matrix Xᵀ X (and from it covariance / PCA inputs) is the
canonical "aggregate a small dense matrix over a huge row set" shape:
at 100 TB each executor reduces its Arrow batches to a 64×64 partial
locally (one BLAS matmul per batch), and only the 64×64 partials —
2,080 numbers per batch — cross the shuffle. This is the treeAggregate
pattern expressed as mapInPandas + groupBy, which keeps it a plain
DataFrame plan (AQE, codegen around it) instead of an RDD detour.

Cross-engine determinism: float accumulation order differs between
numpy and any SQL engine, so the kernel quantizes each element to an
exact integer (floor(x·10⁶ + 0.5), the repo's half-up convention —
similarity.py quantize notes) and accumulates in int64/decimal: every
partial is exact, the merged sum is order-insensitive, and DuckDB's
hugeint SUM reproduces it bit-for-bit.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from glaciersgee_spark.caches import scoped_persist
from glaciersgee_spark.registry import query
from glaciersgee_spark.tables import fan_out, load_table

DIM = 64
_SCALE = 1_000_000.0  # quantization: q = floor(x·1e6 + 0.5), exact int64
_SCALE2 = int(_SCALE) ** 2  # one product carries 1e12 of scale


def _partial_gram(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(n, 64) Arrow batch → upper-triangle int64 partial Gram rows.

    q ≤ ~6·10⁵ for unit-norm-ish inputs → q² ≤ 4·10¹¹; an Arrow batch
    (≤10⁴ rows) sums to ≤ 4·10¹⁵, far inside int64. The global merge
    runs in DECIMAL(38,0), so partial overflow is the only budget."""
    iu, ju = np.triu_indices(DIM)
    for pdf in batches:
        if not len(pdf):
            continue
        m = np.array(pdf["embedding"].tolist(), dtype=np.float64)  # exact f32→f64
        q = np.floor(m * _SCALE + 0.5).astype(np.int64)
        g = q.T @ q
        yield pd.DataFrame(
            {
                "i": iu.astype(np.int32),
                "j": ju.astype(np.int32),
                "s": g[iu, ju],
            }
        )


@query(
    "q_e_embed_gram",
    oracle=f"""
    WITH x AS (
      SELECT vec_id,
             unnest(list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * {_SCALE:.1f} + 0.5) AS BIGINT)))
               AS q,
             unnest(generate_series(0, len(embedding) - 1)) AS i
      FROM embeddings
    )
    SELECT a.i AS i, b.i AS j,
           round(CAST(SUM(a.q * b.q) AS DOUBLE) / {_SCALE2}.0, 6) AS gram
    FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY a.i, b.i
    ORDER BY i, j
    """,
)
def q_e_embed_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix XᵀX of the embedding corpus (upper
    triangle, 2,080 rows) — the covariance/PCA/whitening input
    computed WITHOUT materializing pairs: per-batch numpy matmul
    reduces each Arrow batch to 64×64 locally, then one
    map-side-combinable groupBy((i,j)) merges the partials. The
    oracle spells the same sum as an unnest self-join (n·64² rows) —
    identical exact-integer result, but the quadratic-width spelling
    this operator exists to avoid at scale."""
    e = load_table(spark, sf_dir, "embeddings")
    partials = fan_out(e.select("embedding")).mapInPandas(
        _partial_gram, "i int, j int, s long"
    )
    return (
        partials.groupBy("i", "j")
        .agg(
            F.round(
                F.sum(F.col("s").cast("decimal(38,0)")).cast("double") / _SCALE2, 6
            ).alias("gram")
        )
        .orderBy("i", "j")
    )


# Power-iteration start vector: all ones (scaled later by the norm);
# using a constant start keeps the step exactly integer until the
# final normalization.
_V0 = 1


def _gram_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(i, j, s): exact upper-triangle integer Gram cells (pre-scale).

    Same kernel as q_e_embed_gram without the final division — the
    shared integer core both the Gram emit and the power-iteration
    step consume."""
    e = load_table(spark, sf_dir, "embeddings")
    partials = fan_out(e.select("embedding")).mapInPandas(
        _partial_gram, "i int, j int, s long"
    )
    return partials.groupBy("i", "j").agg(
        F.sum(F.col("s").cast("decimal(38,0)")).alias("s")
    )


@query(
    "q_e_power_iter",
    oracle=f"""
    WITH x AS (
      SELECT vec_id,
             unnest(list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * {_SCALE:.1f} + 0.5) AS BIGINT)))
               AS q,
             unnest(generate_series(0, len(embedding) - 1)) AS i
      FROM embeddings
    ),
    gup AS (
      SELECT a.i AS i, b.i AS j, SUM(a.q * b.q) AS s
      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY a.i, b.i
    ),
    gfull AS (
      SELECT i, j, s FROM gup
      UNION ALL
      SELECT j AS i, i AS j, s FROM gup WHERE i <> j
    ),
    gv AS (SELECT i, SUM(s * {_V0}) AS num FROM gfull GROUP BY i),
    nrm AS (SELECT sqrt(CAST(SUM(num * num) AS DOUBLE)) AS n2 FROM gv)
    SELECT gv.i AS dim,
           round(CAST(gv.num AS DOUBLE) / nrm.n2, 6) AS v1
    FROM gv CROSS JOIN nrm
    ORDER BY dim
    """,
)
def q_e_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One distributed power-iteration step v₁ = normalize(G·v₀) on the
    corpus Gram matrix (v₀ = 1⃗) — the inner loop of dominant-PC
    extraction (PCA/whitening/spectral diagnostics) in the shape a
    cluster runs it: the data pass is the SAME partial-Gram kernel as
    q_e_embed_gram (nothing new crosses the shuffle), and the
    matrix-vector product + normalization run on the 2,080-cell
    aggregate, never on raw vectors.

    Determinism: G·v₀ stays EXACT integer (decimal sums of int64
    partials, v₀ constant); floats appear only in the final
    norm-divide, identical IEEE ops in both engines, rounded to 6 dp.
    Further iterations would re-broadcast v₁ into the kernel — one
    extra pass each, still one shuffle per pass."""
    gup = _gram_int(spark, sf_dir)
    lower = gup.where(F.col("i") != F.col("j")).select(
        F.col("j").alias("i"), F.col("i").alias("j"), "s"
    )
    gfull = gup.unionByName(lower)
    gv = gfull.groupBy("i").agg(F.sum(F.col("s") * _V0).alias("num"))
    # ‖G·v₀‖²: num² ≈ 10³³ fits decimal(38,0) / hugeint exactly, so the
    # norm's radicand is the SAME integer in both engines — no float
    # accumulation order anywhere before the final sqrt+divide.
    nrm = gv.agg(F.sqrt(F.sum(F.col("num") * F.col("num")).cast("double")).alias("n2"))
    return (
        gv.crossJoin(F.broadcast(nrm))
        .select(
            F.col("i").alias("dim"),
            F.round(F.col("num").cast("double") / F.col("n2"), 6).alias("v1"),
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# q_e_spectral_mass (round 7)
# ---------------------------------------------------------------------------

def _gram_int_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_gram_int as a scoped_persist frame: within one q_e_spectral_mass
    call the 2,080-cell frame feeds THREE branches (v1, trace,
    Rayleigh) and Catalyst has no cross-branch subtree reuse — without
    the persist the corpus kernel would run three times per call."""
    return scoped_persist(_gram_int(spark, sf_dir), spark, sf_dir, "gram_int")


@query(
    "q_e_spectral_mass",
    oracle=f"""
    WITH x AS (
      SELECT vec_id,
             unnest(list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * {_SCALE:.1f} + 0.5) AS BIGINT)))
               AS q,
             unnest(generate_series(0, len(embedding) - 1)) AS i
      FROM embeddings
    ),
    gup AS (
      SELECT a.i AS i, b.i AS j, SUM(a.q * b.q) AS s
      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY a.i, b.i
    ),
    gfull AS (
      SELECT i, j, s FROM gup
      UNION ALL
      SELECT j AS i, i AS j, s FROM gup WHERE i <> j
    ),
    gv AS (SELECT i, SUM(s * {_V0}) AS num FROM gfull GROUP BY i),
    nrm AS (SELECT sqrt(CAST(SUM(num * num) AS DOUBLE)) AS n2 FROM gv),
    v1 AS (SELECT gv.i, round(CAST(gv.num AS DOUBLE) / nrm.n2, 6) AS v
           FROM gv CROSS JOIN nrm),
    ray AS (
      SELECT CAST(SUM(CAST(CAST(g.s AS DOUBLE) / {_SCALE2}.0 * a.v * b.v
                           AS DECIMAL(30,6))) AS DOUBLE) AS lam1
      FROM gfull g JOIN v1 a ON g.i = a.i JOIN v1 b ON g.j = b.i
    ),
    tr AS (
      SELECT CAST(SUM(s) AS DOUBLE) / {_SCALE2}.0 AS trace
      FROM gup WHERE i = j
    )
    SELECT floor(tr.trace * 1000000.0 + 0.5) / 1000000.0 AS trace6,
           floor(ray.lam1 * 1000000.0 + 0.5) / 1000000.0 AS rayleigh1_6,
           floor(ray.lam1 / tr.trace * 1000000.0 + 0.5) / 1000000.0
             AS top_share6
    FROM ray CROSS JOIN tr
    """,
)
def q_e_spectral_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral-mass concentration of the embedding Gram matrix
    (round 7 — the one-number spectrum audit over the linalg kernel:
    trace(G) = Σλᵢ is the total uncentered variance, the Rayleigh
    quotient v₁ᵀGv₁ of the one-step power vector lower-bounds λ₁, and
    their ratio is the top-component variance share — read next to
    q_e_anisotropy: high top-share IS the anisotropic rogue
    dimension, and the whitening decision follows from it).

    Scale: ONE corpus pass (the shared q_e_embed_gram partial kernel)
    persisted for its three 2,080-row consumers (v₁, trace, Rayleigh
    — Catalyst has no cross-branch reuse); everything downstream is
    dimension-frame arithmetic. Determinism: the Gram is exact
    integer, v₁ is 6-dp off one exact norm, the Rayleigh fold is an
    exact-decimal sum of per-cell IEEE terms, outputs
    floor-quantized."""
    gup = _gram_int_cached(spark, sf_dir)
    lower = gup.where(F.col("i") != F.col("j")).select(
        F.col("j").alias("i"), F.col("i").alias("j"), "s"
    )
    gfull = gup.unionByName(lower)
    gv = gfull.groupBy("i").agg(F.sum(F.col("s") * _V0).alias("num"))
    nrm = gv.agg(
        F.sqrt(F.sum(F.col("num") * F.col("num")).cast("double")).alias("n2")
    )
    v1 = gv.crossJoin(F.broadcast(nrm)).select(
        "i", F.round(F.col("num").cast("double") / F.col("n2"), 6).alias("v")
    )
    a = v1.select(F.col("i").alias("ia"), F.col("v").alias("va"))
    b = v1.select(F.col("i").alias("ib"), F.col("v").alias("vb"))
    ray = (
        gfull.join(F.broadcast(a), F.col("i") == F.col("ia"))
        .join(F.broadcast(b), F.col("j") == F.col("ib"))
        .agg(
            F.sum(
                (
                    F.col("s").cast("double")
                    / _SCALE2
                    * F.col("va")
                    * F.col("vb")
                ).cast("decimal(30,6)")
            )
            .cast("double")
            .alias("lam1")
        )
    )
    tr = (
        gup.where(F.col("i") == F.col("j"))
        .agg((F.sum("s").cast("double") / _SCALE2).alias("trace"))
    )
    return ray.crossJoin(F.broadcast(tr)).select(
        (F.floor(F.col("trace") * 1000000.0 + 0.5) / 1000000.0).alias("trace6"),
        (F.floor(F.col("lam1") * 1000000.0 + 0.5) / 1000000.0).alias(
            "rayleigh1_6"
        ),
        (
            F.floor(F.col("lam1") / F.col("trace") * 1000000.0 + 0.5)
            / 1000000.0
        ).alias("top_share6"),
    )


# ---------------------------------------------------------------------------
# q_e_mmd_poly (round 9)
# ---------------------------------------------------------------------------


def _partial_gram_halves(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """(vec_id, embedding) Arrow batch → per-half upper-triangle int64
    partial second-moment rows (h, i, j, s), h = vec_id % 2.

    Same overflow budget as _partial_gram (each half is a subset), one
    extra matmul per batch — still 2·2,080 numbers out per batch."""
    iu, ju = np.triu_indices(DIM)
    for pdf in batches:
        if not len(pdf):
            continue
        m = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        q = np.floor(m * _SCALE + 0.5).astype(np.int64)
        h = (pdf["vec_id"].to_numpy() % 2).astype(np.int64)
        for hv in (0, 1):
            qh = q[h == hv]
            if not len(qh):
                continue
            g = qh.T @ qh
            yield pd.DataFrame(
                {
                    "h": np.full(len(iu), hv, dtype=np.int64),
                    "i": iu.astype(np.int32),
                    "j": ju.astype(np.int32),
                    "s": g[iu, ju],
                }
            )


@query(
    "q_e_mmd_poly",
    oracle=f"""
    WITH x AS (
      SELECT vec_id, vec_id % 2 AS h,
             unnest(list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * {_SCALE:.1f} + 0.5)
                         AS BIGINT))) AS q,
             unnest(generate_series(0, len(embedding) - 1)) AS i
      FROM embeddings),
    pairs AS (
      SELECT a.h, a.i AS i, b.i AS j,
             CAST(SUM(a.q * b.q) AS HUGEINT) AS s
      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY a.h, a.i, b.i),
    n AS (SELECT CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)
                   AS HUGEINT) AS nx,
                 CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)
                   AS HUGEINT) AS ny
          FROM embeddings),
    d AS (SELECT px.i, px.j,
                 CAST(px.s AS HUGEINT) * n.ny
                   - CAST(py.s AS HUGEINT) * n.nx AS dv,
                 CASE WHEN px.i = px.j THEN 1 ELSE 2 END AS w,
                 n.nx, n.ny
          FROM (SELECT * FROM pairs WHERE h = 0) px
          JOIN (SELECT * FROM pairs WHERE h = 1) py
            ON px.i = py.i AND px.j = py.j
          CROSS JOIN n),
    tot AS (SELECT CAST(SUM(w * dv * dv) AS HUGEINT) AS sq,
                   MAX(nx) AS nx, MAX(ny) AS ny
            FROM d)
    SELECT dg.i AS dim,
           round(CAST(dg.sx AS DOUBLE) / CAST(t.nx AS DOUBLE)
                 / {_SCALE2}.0, 6) AS mx6,
           round(CAST(dg.sy AS DOUBLE) / CAST(t.ny AS DOUBLE)
                 / {_SCALE2}.0, 6) AS my6,
           round(CAST(t.sq AS DOUBLE)
                 / (CAST(t.nx AS DOUBLE) * CAST(t.ny AS DOUBLE))
                 / (CAST(t.nx AS DOUBLE) * CAST(t.ny AS DOUBLE))
                 / {_SCALE2}.0 / {_SCALE2}.0, 12) AS mmd2_12
    FROM (SELECT px.i, px.s AS sx, py.s AS sy
          FROM (SELECT * FROM pairs WHERE h = 0 AND i = j) px
          JOIN (SELECT * FROM pairs WHERE h = 1 AND i = j) py
            ON px.i = py.i) dg
    CROSS JOIN tot t
    ORDER BY dim
    """,
)
def q_e_mmd_poly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KERNEL TWO-SAMPLE TEST between corpus halves (round 9) — MMD²
    with the degree-2 homogeneous polynomial kernel k(x,y) = (x·y)²
    (Gretton et al., JMLR 2012): algebraically ‖M_X − M_Y‖²_F over
    the 64×64 second-moment matrices M = E[xxᵀ], i.e. the COVARIANCE-
    level drift the centroid monitor (q_e_embed_drift — linear-kernel
    MMD) is blind to: two ingest slices can share identical means and
    still differ in spread/orientation (an encoder temperature change,
    a collapsed mode). Reports the per-dimension diagonal moments of
    both halves plus the corpus-constant MMD², so the scan-me number
    and its which-dimension breakdown arrive together.

    Exactness: the q_e_embed_gram integer pipeline — per-batch numpy
    matmul on half-split rows quantized floor(x·1e6 + 0.5), exact
    int64 partials, DECIMAL(38,0)/HUGEINT merge; the cross-half
    difference runs on the common denominator (Sx·ny − Sy·nx — no
    division until the end), squares and the weighted Frobenius fold
    stay 128-bit exact (|d| ≤ 8·10¹⁷, d² ≤ 6.4·10³⁵ < 10³⁸), and the
    closing divisions are one IEEE chain over identical integers.
    Scale: the treeAggregate shape — each executor reduces its Arrow
    batches to TWO 64×64 partials locally; only 4,160 numbers per
    batch cross the shuffle; everything downstream is 2,080-row
    arithmetic. No pair expansion, no driver collect."""
    e = load_table(spark, sf_dir, "embeddings")
    partials = fan_out(e.select("vec_id", "embedding")).mapInPandas(
        _partial_gram_halves, "h long, i int, j int, s long"
    )
    pairs = (
        partials.groupBy("h", "i", "j")
        .agg(F.sum(F.col("s").cast("decimal(38,0)")).alias("s"))
    )
    pairs = scoped_persist(pairs, spark, sf_dir, "mmd_pairs")
    n = e.agg(
        F.expr(
            "CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END)"
            " AS DECIMAL(38,0))"
        ).alias("nx"),
        F.expr(
            "CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END)"
            " AS DECIMAL(38,0))"
        ).alias("ny"),
    )
    px = pairs.where(F.col("h") == 0).select("i", "j", F.col("s").alias("sx"))
    py = pairs.where(F.col("h") == 1).select("i", "j", F.col("s").alias("sy"))
    d = (
        px.join(py, ["i", "j"])
        .join(F.broadcast(n))
        .selectExpr(
            "i",
            "j",
            "sx * ny - sy * nx AS dv",
            "CASE WHEN i = j THEN 1 ELSE 2 END AS w",
            "nx",
            "ny",
        )
    )
    tot = d.agg(
        F.expr("CAST(SUM(w * dv * dv) AS DECIMAL(38,0))").alias("sq"),
        F.max("nx").alias("nx"),
        F.max("ny").alias("ny"),
    )
    dg = (
        px.where(F.col("i") == F.col("j"))
        .join(py.where(F.col("i") == F.col("j")), ["i", "j"])
        .select("i", "sx", "sy")
    )
    return (
        dg.join(F.broadcast(tot))
        .selectExpr(
            "i AS dim",
            f"round(CAST(sx AS DOUBLE) / CAST(nx AS DOUBLE)"
            f" / {_SCALE2}.0, 6) AS mx6",
            f"round(CAST(sy AS DOUBLE) / CAST(ny AS DOUBLE)"
            f" / {_SCALE2}.0, 6) AS my6",
            f"round(CAST(sq AS DOUBLE)"
            f" / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))"
            f" / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE))"
            f" / {_SCALE2}.0 / {_SCALE2}.0, 12) AS mmd2_12",
        )
        .orderBy("dim")
    )
