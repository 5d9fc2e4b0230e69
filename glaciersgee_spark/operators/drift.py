"""Group E — corpus-evolution analysis (round 2 batch).

Two ops a continuously-ingesting training-data pipeline runs between
crawl snapshots: token-distribution drift between two corpus slices
(the data-shift alarm before a tokenizer/mixture refresh) and per-doc
n-gram novelty attribution (how much genuinely new text each document
contributes relative to everything ingested before it).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from glaciersgee_spark.caches import scoped_persist
from glaciersgee_spark.registry import davg, dsum, py_q6, q6, query
from glaciersgee_spark.tables import chunked_prefix, fan_out, load_table, local_frame

# Minimum combined token count to score drift on (rarer tokens are
# sampling noise, not shift).
DRIFT_MIN_COUNT = 20
NOVELTY_K = 4  # n-gram width for novelty attribution


@query(
    "q_e_corpus_drift",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id % 2 = 0 AS slice_a,
             unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    counts AS (
      SELECT token,
             COUNT(*) FILTER (WHERE slice_a) AS ca,
             COUNT(*) FILTER (WHERE NOT slice_a) AS cb
      FROM toks GROUP BY token
    ),
    totals AS (
      SELECT SUM(ca) AS na, SUM(cb) AS nb FROM counts
    )
    SELECT token, ca, cb,
           round(ln(((ca + 1.0) * (nb + 1.0)) / ((cb + 1.0) * (na + 1.0))), 6)
             AS log_ratio
    FROM counts CROSS JOIN totals
    WHERE ca + cb >= {DRIFT_MIN_COUNT}
    ORDER BY abs(round(ln(((ca + 1.0) * (nb + 1.0)) / ((cb + 1.0) * (na + 1.0))), 6))
             DESC, token ASC
    LIMIT 30
    """,
)
def q_e_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift between two corpus slices (doc_id
    parity stands in for crawl t vs t+1): smoothed per-token rate
    log-ratio, top 30 movers — the report that flags a source gone
    stale or a scraper change before it skews the training mixture.

    One wordcount shuffle produces BOTH slices' counts (conditional
    aggregates, map-side combinable); the corpus totals ride in as a
    1-row broadcast cross join. log is rounded to 6 dp pre-sort per
    the cross-engine convention, and ties break on token so the
    top-30 SET is deterministic."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        (F.col("doc_id") % 2 == 0).alias("slice_a"),
        F.explode(F.split("text", " ")).alias("token"),
    )
    counts = toks.groupBy("token").agg(
        F.count(F.when(F.col("slice_a"), 1)).alias("ca"),
        F.count(F.when(~F.col("slice_a"), 1)).alias("cb"),
    )
    totals = counts.agg(
        F.sum("ca").alias("na"), F.sum("cb").alias("nb")
    )
    lr = F.round(
        F.log(
            ((F.col("ca") + 1.0) * (F.col("nb") + 1.0))
            / ((F.col("cb") + 1.0) * (F.col("na") + 1.0))
        ),
        6,
    )
    return (
        counts.where(F.col("ca") + F.col("cb") >= DRIFT_MIN_COUNT)
        .crossJoin(F.broadcast(totals))
        .select("token", "ca", "cb", lr.alias("log_ratio"))
        .orderBy(F.abs(F.col("log_ratio")).desc(), F.col("token").asc())
        .limit(30)
    )


@query(
    "q_e_ngram_novelty",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
    ),
    grams AS (
      SELECT DISTINCT doc_id, source,
             substring(md5(array_to_string(toks[i:i+{NOVELTY_K - 1}], ' ')), 1, 16)
               AS g
      FROM (
        SELECT doc_id, source, toks,
               unnest(generate_series(1, greatest(len(toks) - {NOVELTY_K - 1}, 0)))
                 AS i
        FROM toks
      )
    ),
    first_seen AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g),
    per AS (
      SELECT gr.doc_id, gr.source,
             COUNT(*) AS n_grams,
             COUNT(*) FILTER (WHERE fs.first_doc = gr.doc_id) AS n_novel
      FROM grams gr JOIN first_seen fs ON gr.g = fs.g
      GROUP BY gr.doc_id, gr.source
    )
    SELECT source,
           COUNT(*) AS n_docs,
           round({davg("CAST(n_novel AS DOUBLE) / n_grams")}, 6) AS avg_novelty,
           COUNT(*) FILTER (WHERE CAST(n_novel AS DOUBLE) / n_grams < 0.5)
             AS n_stale
    FROM per GROUP BY source ORDER BY source
    """,
)
def q_e_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty attribution: the fraction of a doc's
    distinct 4-grams whose corpus-wide FIRST occurrence (min doc_id —
    ingest order) is this doc, rolled up per source with a count of
    mostly-recycled (<50 % novel) docs — the incremental-crawl metric
    that decides whether a source still pays for its ingest.

    Same scale skeleton as q_e_span_dedup: narrow shingle explode →
    per-doc DISTINCT → one groupBy(g) building the first-seen index →
    co-partitioned join back on the same 16-byte key → combinable
    rollups. No pair expansion anywhere."""
    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = F.split("text", " ")
    # filter, don't clamp: Spark's sequence(1, 0) is DESCENDING and
    # slice(toks, 0, k) throws — the oracle's generate_series(1, 0)
    # is empty (same hazard as spans._shingled)
    d = d.where(F.size(toks) >= NOVELTY_K)
    sh = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (NOVELTY_K - 1)),
        lambda i: F.substring(
            F.md5(F.array_join(F.slice(toks, i, NOVELTY_K), " ")), 1, 16
        ),
    )
    grams = (
        d.select("doc_id", "source", F.explode(sh).alias("g"))
        .distinct()
    )
    first_seen = grams.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    per = (
        grams.join(first_seen, "g")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1)).alias(
                "n_novel"
            ),
        )
    )
    nov = F.col("n_novel").cast("double") / F.col("n_grams")
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(nov.cast("decimal(30,6)")).cast("double") / F.count(F.lit(1)),
                6,
            ).alias("avg_novelty"),
            F.count(F.when(nov < 0.5, 1)).alias("n_stale"),
        )
        .orderBy("source")
    )


@query(
    "q_e_len_buckets",
    oracle="""
    WITH lens AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents
    ),
    bucketed AS (
      SELECT n_tok,
             CASE WHEN n_tok <= 16 THEN 'a_le16'
                  WHEN n_tok <= 32 THEN 'b_17_32'
                  WHEN n_tok <= 64 THEN 'c_33_64'
                  WHEN n_tok <= 128 THEN 'd_65_128'
                  ELSE 'e_129p' END AS len_bucket
      FROM lens
    ),
    tot AS (SELECT SUM(n_tok) AS all_tok FROM lens)
    SELECT len_bucket,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           round(CAST(SUM(n_tok) AS DOUBLE) / tot.all_tok, 6) AS token_share
    FROM bucketed CROSS JOIN tot
    GROUP BY len_bucket, tot.all_tok ORDER BY len_bucket
    """,
)
def q_e_len_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-length budget histogram: docs and token mass per
    power-of-two-ish length bucket plus each bucket's share of corpus
    tokens — the first number a packing/truncation policy is designed
    against (how much budget do >128-token docs actually consume?).

    Pure scan-side length expression → one combinable rollup; the
    corpus total rides in as a 1-row broadcast. CASE buckets (not
    log2) keep the edges float-free. Bucket labels carry an ordering
    prefix so lexicographic ORDER BY is the budget order."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " ")).cast("long")
    lens = d.select(n_tok.alias("n_tok"))
    bucket = (
        F.when(F.col("n_tok") <= 16, "a_le16")
        .when(F.col("n_tok") <= 32, "b_17_32")
        .when(F.col("n_tok") <= 64, "c_33_64")
        .when(F.col("n_tok") <= 128, "d_65_128")
        .otherwise("e_129p")
    )
    tot = lens.agg(F.sum("n_tok").alias("all_tok"))
    return (
        lens.select("n_tok", bucket.alias("len_bucket"))
        .groupBy("len_bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tok").alias("n_tokens"))
        .crossJoin(F.broadcast(tot))
        .select(
            "len_bucket",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens").cast("double") / F.col("all_tok"), 6).alias(
                "token_share"
            ),
        )
        .orderBy("len_bucket")
    )


@query(
    "q_e_boilerplate",
    oracle="""
    WITH pref AS (
      SELECT doc_id, source,
             md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS pkey
      FROM documents WHERE len(string_split(text, ' ')) >= 8
    ),
    shared AS (
      SELECT pkey, COUNT(*) AS n_docs_with
      FROM pref GROUP BY pkey HAVING COUNT(*) >= 2
    )
    SELECT p.source,
           COUNT(*) AS n_docs,
           COUNT(s.pkey) AS n_boiler_docs,
           round(CAST(COUNT(s.pkey) AS DOUBLE) / COUNT(*), 6) AS boiler_rate,
           COALESCE(MAX(s.n_docs_with), 0) AS max_prefix_group
    FROM pref p LEFT JOIN shared s ON p.pkey = s.pkey
    GROUP BY p.source ORDER BY p.source
    """,
)
def q_e_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-header detection: docs whose first 8 tokens are
    shared verbatim with ≥1 other doc (template headers, scraper
    chrome), per source with the largest shared-prefix group — the
    prefix-anchored complement of q_e_span_dedup (a shared INTERIOR
    span is plagiarism-shaped; a shared PREFIX is template-shaped).

    One md5-16 prefix key per doc (no explode at all), one groupBy
    building the shared-prefix index, co-partitioned join back,
    combinable rollup — strictly cheaper than any shingle pipeline."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    pref = d.where(F.size(toks) >= 8).select(
        "doc_id",
        "source",
        F.md5(F.array_join(F.slice(toks, 1, 8), " ")).alias("pkey"),
    )
    shared = (
        pref.groupBy("pkey")
        .agg(F.count(F.lit(1)).alias("n_docs_with"))
        .where(F.col("n_docs_with") >= 2)
    )
    return (
        pref.join(shared, "pkey", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("n_docs_with").alias("n_boiler_docs"),
            F.round(
                F.count("n_docs_with").cast("double") / F.count(F.lit(1)), 6
            ).alias("boiler_rate"),
            F.coalesce(F.max("n_docs_with"), F.lit(0)).alias("max_prefix_group"),
        )
        .orderBy("source")
    )


@query(
    "q_e_tok_entropy",
    oracle="""
    WITH tf AS (
      SELECT doc_id, source, token, COUNT(*) AS c
      FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
            FROM documents)
      GROUP BY doc_id, source, token
    ),
    per AS (
      SELECT doc_id, source,
             SUM(c) AS n,
             SUM(CAST(c * round(ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(30,6)))
               AS s
      FROM tf GROUP BY doc_id, source
    ),
    scored AS (
      SELECT doc_id, source,
             round(round(ln(CAST(n AS DOUBLE)), 6)
                   - CAST(s AS DOUBLE) / n, 6) AS entropy
      FROM per
    )
    SELECT source,
           COUNT(*) AS n_docs,
           round(CAST(SUM(CAST(entropy AS DECIMAL(30,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_entropy,
           COUNT(*) FILTER (WHERE entropy < 2.5) AS n_low_entropy
    FROM scored GROUP BY source ORDER BY source
    """,
)
def q_e_tok_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document unigram entropy H = ln n − (1/n)·Σ c·ln c — the
    repetitiveness quality signal (a keyword-stuffed or looping doc
    scores low; natural prose high), rolled up per source with a
    low-entropy flag count — the cheap complement to q_e_repetition's
    n-gram-specific detector.

    Cross-engine determinism per the lm_scores convention: every ln is
    rounded to 6 dp per ROW, the weighted sum Σ c·ln₆(c) runs in exact
    DECIMAL (c integer × 6-dp value = exact), floats reappear only in
    the per-doc finish. One tf shuffle + per-doc rollup + per-source
    rollup, all map-side combinable."""
    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    tf = (
        d.select("doc_id", "source", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    term = F.expr("CAST(c * round(ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(30,6))")
    per = tf.groupBy("doc_id", "source").agg(
        F.sum("c").alias("n"), F.sum(term).alias("s")
    )
    entropy = F.round(
        F.expr("round(ln(CAST(n AS DOUBLE)), 6)")
        - F.col("s").cast("double") / F.col("n"),
        6,
    )
    scored = per.select("doc_id", "source", entropy.alias("entropy"))
    return (
        scored.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum(F.col("entropy").cast("decimal(30,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_entropy"),
            F.count(F.when(F.col("entropy") < 2.5, 1)).alias("n_low_entropy"),
        )
        .orderBy("source")
    )


@query(
    "q_e_summary_card",
    oracle="""
    WITH base AS (
      SELECT source, lang, n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             md5(lang || '|' || source || '|' || CAST(n_chars AS VARCHAR))
               AS ck
      FROM documents
    ),
    grp AS (
      SELECT source, ck, COUNT(*) AS gn FROM base GROUP BY source, ck
    ),
    dup AS (
      SELECT source,
             SUM(gn) AS n_docs_g, COUNT(*) AS n_groups
      FROM grp GROUP BY source
    )
    SELECT b.source,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT b.lang) AS n_langs,
           CAST(SUM(b.n_tok) AS BIGINT) AS total_tokens,
           round(CAST(SUM(b.n_chars) AS DOUBLE) / COUNT(*), 6) AS avg_chars,
           COUNT(*) FILTER (WHERE b.n_tok >= 10 AND b.n_chars < 2000)
             AS n_clean,
           round(1.0 - CAST(MIN(d.n_groups) AS DOUBLE) / COUNT(*), 6)
             AS exact_dup_rate
    FROM base b JOIN dup d ON b.source = d.source
    GROUP BY b.source ORDER BY b.source
    """,
)
def q_e_summary_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source dataset card: the one-page summary a curation run
    publishes per source — doc/lang/token volume, mean length, clean-doc
    count (length-window predicate) and exact-dup rate (same content
    key as q_e_dedup_exact) — the table that decides which sources
    enter the next mixture.

    Two combinable aggregations (per-(source, key) then per-source)
    plus the main per-source rollup joined on source; every column is
    exact-integer or a single final division."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " ")).cast("long")
    from glaciersgee_spark.operators.dedup import _exact_key

    ck = _exact_key()
    base = d.select(
        "source", "lang", "n_chars", n_tok.alias("n_tok"), ck.alias("ck")
    )
    dup = (
        base.groupBy("source", "ck")
        .agg(F.count(F.lit(1)).alias("gn"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_groups"))
    )
    clean = (F.col("n_tok") >= 10) & (F.col("n_chars") < 2000)
    return (
        base.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("n_tok").alias("total_tokens"),
            F.round(
                F.sum("n_chars").cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_chars"),
            F.count(F.when(clean, 1)).alias("n_clean"),
        )
        .join(dup, "source")
        .select(
            "source",
            "n_docs",
            "n_langs",
            "total_tokens",
            "avg_chars",
            "n_clean",
            F.round(
                F.lit(1.0) - F.col("n_groups").cast("double") / F.col("n_docs"), 6
            ).alias("exact_dup_rate"),
        )
        .orderBy("source")
    )


# PMI: restrict to the corpus top-V vocabulary so the pair space is
# V² literals, never |doc|²-driven.
PMI_V = 40
PMI_MIN_PAIR = 5


@query(
    "q_e_pmi",
    oracle=f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, token
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents)
    ),
    vocab AS (
      SELECT token FROM (
        SELECT token, COUNT(*) AS df,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token ASC) AS rk
        FROM toks GROUP BY token
      ) WHERE rk <= {PMI_V}
    ),
    vt AS (SELECT t.doc_id, t.token FROM toks t JOIN vocab v USING (token)),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM toks),
    df AS (SELECT token, COUNT(*) AS df FROM vt GROUP BY token),
    pairs AS (
      SELECT a.token AS tok_a, b.token AS tok_b, COUNT(*) AS co
      FROM vt a JOIN vt b ON a.doc_id = b.doc_id AND a.token < b.token
      GROUP BY a.token, b.token
    )
    SELECT p.tok_a, p.tok_b, p.co,
           round(ln((CAST(p.co AS DOUBLE) * n.n_docs)
                    / (CAST(da.df AS DOUBLE) * db.df)), 6) AS pmi
    FROM pairs p
    JOIN df da ON p.tok_a = da.token
    JOIN df db ON p.tok_b = db.token
    CROSS JOIN n
    WHERE p.co >= {PMI_MIN_PAIR}
    ORDER BY pmi DESC, tok_a ASC, tok_b ASC
    LIMIT 30
    """,
)
def q_e_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level PMI of top-vocabulary token pairs — the
    co-occurrence statistic behind word-association mining and
    embedding sanity checks: PMI = ln(P(a,b)/(P(a)P(b))) over doc
    presence, top 30 associations.

    The pair space is capped STRUCTURALLY: only the corpus top-40
    vocabulary enters the self-join, so co-occurrence pairs are ≤V²
    regardless of corpus size — the standard trick that keeps PMI
    tractable at 100 TB (full-vocab PMI is a |vocab|² explosion).
    One distinct-presence shuffle, one vocab broadcast, one
    co-occurrence groupBy."""
    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).distinct()
    # Top-V vocab via distributed TakeOrdered (orderBy + limit), NOT a
    # row_number over an unpartitioned vocab-sized window: at 100 TB
    # the vocabulary has billions of distinct tokens and a global rank
    # window sorts them all in one task. Only membership matters here,
    # so no re-rank is needed.
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), F.col("token").asc())
        .limit(PMI_V)
        .select("token")
    )
    vt = toks.join(F.broadcast(vocab), "token").select("doc_id", "token")
    # corpus doc count as a 1-row broadcast (NOT a driver-side count():
    # the declared query must stay a lazy plan — no job at build time)
    n = toks.agg(F.countDistinct("doc_id").alias("n_docs"))
    df = vt.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    a = vt.select("doc_id", F.col("token").alias("tok_a"))
    b = vt.select("doc_id", F.col("token").alias("tok_b"))
    pairs = (
        a.join(b, "doc_id")
        .where(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(F.count(F.lit(1)).alias("co"))
        .where(F.col("co") >= PMI_MIN_PAIR)
    )
    da = df.select(F.col("token").alias("tok_a"), F.col("df").alias("dfa"))
    db = df.select(F.col("token").alias("tok_b"), F.col("df").alias("dfb"))
    pmi = F.round(
        F.log(
            (F.col("co").cast("double") * F.col("n_docs"))
            / (F.col("dfa").cast("double") * F.col("dfb"))
        ),
        6,
    )
    return (
        pairs.join(F.broadcast(da), "tok_a")
        .join(F.broadcast(db), "tok_b")
        .crossJoin(F.broadcast(n))
        .select("tok_a", "tok_b", "co", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), F.col("tok_a").asc(), F.col("tok_b").asc())
        .limit(30)
    )


@query(
    "q_e_burstiness",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, token, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents)
      GROUP BY doc_id, token
    ),
    n AS (SELECT COUNT(DISTINCT doc_id) AS nd FROM tf),
    stats AS (
      SELECT token,
             SUM(c) AS s1,
             SUM(c * c) AS s2,
             COUNT(*) AS n_present
      FROM tf GROUP BY token HAVING SUM(c) >= 50
    )
    SELECT token, CAST(s1 AS BIGINT) AS total_count, n_present,
           round((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n.nd)
                 / (CAST(s1 AS DOUBLE) * (1.0 - 1.0 / n.nd)), 6)
             AS burstiness
    FROM stats CROSS JOIN n
    ORDER BY burstiness DESC, token ASC
    LIMIT 25
    """,
)
def q_e_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token burstiness (variance-to-mean ratio over docs, absent docs
    counted as zero): distinguishes topical words (bursty — all their
    mass in few docs) from function words (even spread) — the corpus-
    linguistics dispersion statistic that feeds stopword induction and
    keyword extraction. Top 25 burstiest frequent tokens.

    All moments are EXACT integer sums (Σc, Σc², doc counts) — the
    one division happens per output row — so cross-engine equality is
    bit-level before the final 6-dp round. One tf shuffle, one
    per-token rollup, 1-row doc-count broadcast."""
    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nd = tf.agg(F.countDistinct("doc_id").alias("nd"))
    stats = (
        tf.groupBy("token")
        .agg(
            F.sum("c").alias("s1"),
            F.sum(F.col("c") * F.col("c")).alias("s2"),
            F.count(F.lit(1)).alias("n_present"),
        )
        .where(F.col("s1") >= 50)
    )
    burst = F.round(
        (
            F.col("s2").cast("double")
            - F.col("s1").cast("double") * F.col("s1") / F.col("nd")
        )
        / (F.col("s1").cast("double") * (1.0 - 1.0 / F.col("nd"))),
        6,
    )
    return (
        stats.crossJoin(F.broadcast(nd))
        .select(
            "token",
            F.col("s1").alias("total_count"),
            "n_present",
            burst.alias("burstiness"),
        )
        .orderBy(F.col("burstiness").desc(), F.col("token").asc())
        .limit(25)
    )


# Token-budget waterfilling: target = half the corpus token mass.
BUDGET_NUM = 1
BUDGET_DEN = 2


@query(
    "q_e_token_budget",
    oracle=f"""
    WITH per AS (
      SELECT source,
             SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS n_tok
      FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n_tok) * {BUDGET_NUM} // {BUDGET_DEN} AS budget,
                   COUNT(*) AS s FROM per),
    ranked AS (
      SELECT source, n_tok,
             ROW_NUMBER() OVER (ORDER BY n_tok ASC, source ASC) AS i,
             SUM(n_tok) OVER (ORDER BY n_tok ASC, source ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cumbefore
      FROM per
    ),
    caps AS (
      SELECT i, n_tok,
             (tot.budget - COALESCE(cumbefore, 0)) // (tot.s - i + 1) AS cap
      FROM ranked CROSS JOIN tot
    ),
    istar AS (SELECT MIN(i) AS i0 FROM caps WHERE cap <= n_tok),
    capstar AS (
      SELECT c.cap AS cap0 FROM caps c JOIN istar ON c.i = istar.i0
    )
    SELECT r.source, CAST(r.n_tok AS BIGINT) AS n_tokens,
           CAST(CASE WHEN istar.i0 IS NULL OR r.i < istar.i0 THEN r.n_tok
                     ELSE LEAST(r.n_tok, capstar.cap0) END AS BIGINT)
             AS alloc_tokens,
           round(CAST(CASE WHEN istar.i0 IS NULL OR r.i < istar.i0
                           THEN r.n_tok
                           ELSE LEAST(r.n_tok, capstar.cap0) END AS DOUBLE)
                 / r.n_tok, 6) AS fill_rate
    FROM ranked r
    LEFT JOIN istar ON TRUE LEFT JOIN capstar ON TRUE
    ORDER BY r.source
    """,
)
def q_e_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget waterfilling: allocate a corpus-wide training
    budget (half the total token mass) across sources so small sources
    keep everything and large sources share one fair cap — the
    mixture-planning allocation that stops one giant crawl from eating
    the budget. Emits per source its mass, allocation and fill rate.

    Fully declarative waterfilling: ONE per-source aggregate, prefix
    sums over the |sources|-row table, the pivot index i* (first rank
    where the residual fair share dips under the source's own mass)
    via a 2-row scalar join — every quantity integer until the final
    fill-rate division, so both engines agree exactly. The remainder
    (< |capped sources| tokens, from integer division) stays
    unallocated by design."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("n_tok")
    )
    tot = per.agg(
        F.expr(f"SUM(n_tok) * {BUDGET_NUM} div {BUDGET_DEN}").alias("budget"),
        F.count(F.lit(1)).alias("s"),
    )
    w = Window.orderBy(F.col("n_tok").asc(), F.col("source").asc())
    ranked = per.select(
        "source",
        "n_tok",
        F.row_number().over(w).alias("i"),
        F.coalesce(
            F.sum("n_tok").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ).alias("cumbefore"),
    )
    caps = ranked.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tok",
        "i",
        F.expr("(budget - cumbefore) div (s - i + 1)").alias("cap"),
    )
    istar = caps.where(F.col("cap") <= F.col("n_tok")).agg(
        F.min("i").alias("i0")
    )
    # 1-row aggregate (NULL when no pivot exists, i.e. budget ≥ total):
    # a bare select would be an EMPTY relation and the cross join below
    # would wrongly empty the whole result
    capstar = (
        caps.crossJoin(F.broadcast(istar))
        .where(F.col("i") == F.col("i0"))
        .agg(F.min("cap").alias("cap0"))
    )
    full = F.col("i0").isNull() | (F.col("i") < F.col("i0"))
    alloc = F.when(full, F.col("n_tok")).otherwise(
        F.least(F.col("n_tok"), F.col("cap0"))
    )
    return (
        caps.crossJoin(F.broadcast(istar))
        .crossJoin(F.broadcast(capstar))
        .select(
            "source",
            F.col("n_tok").alias("n_tokens"),
            alloc.cast("long").alias("alloc_tokens"),
            F.round(alloc.cast("double") / F.col("n_tok"), 6).alias("fill_rate"),
        )
        .orderBy("source")
    )


@query(
    "q_e_vocab_growth",
    oracle="""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    first_seen AS (SELECT token, MIN(doc_id) AS fd FROM toks GROUP BY token),
    deciles AS (
      SELECT CAST(fd * 10 / (SELECT MAX(doc_id) + 1 FROM documents) AS INTEGER)
               AS decile,
             COUNT(*) AS new_types
      FROM first_seen GROUP BY decile
    )
    SELECT decile, new_types,
           CAST(SUM(new_types) OVER (ORDER BY decile
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cum_vocab
    FROM deciles ORDER BY decile
    """,
)
def q_e_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth (Heaps'-law curve): new distinct token types
    introduced per corpus decile (by ingest order) and the cumulative
    vocabulary — a flattening curve says the tokenizer's vocab budget
    has converged; linear growth says the corpus is still surprising
    (keep crawling). Same first-occurrence-attribution shape as
    q_b_growth_curve: min-doc_id per type (one wordcount-sized
    shuffle), a 10-row decile rollup, one tiny running sum — never a
    cumulative COUNT(DISTINCT) over growing prefixes."""
    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    first_seen = toks.groupBy("token").agg(F.min("doc_id").alias("fd"))
    max_id = load_table(spark, sf_dir, "documents").agg(
        (F.max("doc_id") + 1).alias("m")
    )
    deciles = (
        first_seen.crossJoin(F.broadcast(max_id))
        .select(
            F.expr("CAST(fd * 10 div m AS INT)").alias("decile")
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("new_types"))
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return deciles.select(
        "decile",
        "new_types",
        F.sum("new_types").over(w).cast("long").alias("cum_vocab"),
    ).orderBy("decile")


# PSI verdict thresholds (the standard model-monitoring bands).
_PSI_STABLE, _PSI_MODERATE = 0.1, 0.25


def _psi_feature_sql(feature: str, bin_expr: str) -> str:
    """One feature's binned slice counts (add-1 smoothed) — the UNION
    ALL branch of the oracle (DuckDB has no stack())."""
    return f"""
      SELECT '{feature}' AS feature, {bin_expr} AS bin,
             COUNT(*) FILTER (WHERE doc_id % 2 = 0) + 1 AS ca,
             COUNT(*) FILTER (WHERE doc_id % 2 <> 0) + 1 AS cb
      FROM documents GROUP BY bin
    """


@query(
    "q_e_psi_drift",
    oracle=f"""
    WITH binned AS (
      {_psi_feature_sql('len_bucket', "CAST(n_chars // 400 AS VARCHAR)")}
      UNION ALL
      {_psi_feature_sql('source', 'source')}
      UNION ALL
      {_psi_feature_sql('lang', 'lang')}
    ),
    tot AS (
      SELECT feature, CAST(SUM(ca) AS BIGINT) AS ta,
             CAST(SUM(cb) AS BIGINT) AS tb
      FROM binned GROUP BY feature
    ),
    terms AS (
      SELECT b.feature,
             round((CAST(b.ca AS DOUBLE) / t.ta - CAST(b.cb AS DOUBLE) / t.tb)
                   * ln((CAST(b.ca AS DOUBLE) / t.ta)
                        / (CAST(b.cb AS DOUBLE) / t.tb)), 6) AS term
      FROM binned b JOIN tot t ON b.feature = t.feature
    )
    SELECT feature,
           COUNT(*) AS n_bins,
           {dsum('term')} AS psi,
           CASE WHEN {dsum('term')} < {_PSI_STABLE} THEN 'stable'
                WHEN {dsum('term')} < {_PSI_MODERATE} THEN 'moderate'
                ELSE 'major' END AS verdict
    FROM terms GROUP BY feature ORDER BY feature
    """,
)
def q_e_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between two corpus slices (doc_id
    parity stands in for crawl t vs t+1), per monitored feature
    (length bucket, source, lang) with the standard <0.1 / <0.25
    verdict bands — the model-monitoring drift scalar, complementing
    q_e_corpus_drift's per-token movers with a single decision number
    per feature (round 3).

    One scan: stack() pivots each doc to its three (feature, bin)
    rows, one combinable groupBy produces both slices' counts
    (conditional aggregates, add-1 smoothed so no bin divides by
    zero), totals ride a tiny per-feature join, and the PSI sum is
    exact-decimal over 6-dp-rounded terms — bit-identical across
    engines."""
    d = load_table(spark, sf_dir, "documents")
    feat = d.select(
        F.expr(
            "stack(3, 'len_bucket', CAST(n_chars div 400 AS STRING),"
            " 'source', source, 'lang', lang) AS (feature, bin)"
        ),
        (F.col("doc_id") % 2 == 0).alias("in_a"),
    )
    binned = feat.groupBy("feature", "bin").agg(
        (F.count(F.when(F.col("in_a"), 1)) + 1).alias("ca"),
        (F.count(F.when(~F.col("in_a"), 1)) + 1).alias("cb"),
    )
    tot = binned.groupBy("feature").agg(
        F.sum("ca").alias("ta"), F.sum("cb").alias("tb")
    )
    pa = F.col("ca").cast("double") / F.col("ta")
    pb = F.col("cb").cast("double") / F.col("tb")
    terms = binned.join(tot, "feature").select(
        "feature", F.round((pa - pb) * F.log(pa / pb), 6).alias("term")
    )
    psi = F.expr(dsum("term"))
    verdict = (
        F.when(psi < _PSI_STABLE, "stable")
        .when(psi < _PSI_MODERATE, "moderate")
        .otherwise("major")
    )
    return (
        terms.groupBy("feature")
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            psi.alias("psi"),
            verdict.alias("verdict"),
        )
        .orderBy("feature")
    )


# 6-dp quantization via floor integer math — deterministic across
# engines where round(double, 6) tie-breaking is not (the bigram_lm
# lesson); shared verbatim by the Spark query and the oracle.
_ED_Q6 = "(CAST(floor(({x}) * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0)"
_ED_DELTA = _ED_Q6.format(x="ma - mb")


@query(
    "q_e_embed_drift",
    oracle=f"""
    WITH el AS (
      SELECT label, vec_id % 2 AS sl,
             CAST(generate_subscripts(embedding, 1) - 1 AS BIGINT) AS idx,
             CAST(unnest(embedding) AS DOUBLE) AS x
      FROM embeddings
    ),
    cent AS (
      SELECT label, idx,
             {davg('CASE WHEN sl = 0 THEN x END')} AS ma,
             {davg('CASE WHEN sl = 1 THEN x END')} AS mb
      FROM el GROUP BY label, idx
    ),
    dist AS (
      SELECT label,
             {dsum(f'{_ED_DELTA} * {_ED_DELTA}', scale=12)} AS sq
      FROM cent GROUP BY label
    ),
    cnt AS (
      SELECT label,
             COUNT(*) FILTER (WHERE vec_id % 2 = 0) AS n_a,
             COUNT(*) FILTER (WHERE vec_id % 2 = 1) AS n_b
      FROM embeddings GROUP BY label
    )
    SELECT d.label, c.n_a, c.n_b,
           {_ED_Q6.format(x='sqrt(d.sq)')} AS dist6
    FROM dist d JOIN cnt c ON d.label = c.label
    ORDER BY d.label
    """,
)
def q_e_embed_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift monitor (round 4): per label, the L2
    distance between the centroid of slice A (vec_id % 2 = 0, playing
    last week's corpus) and slice B (% 2 = 1, this week's) — the
    representation-shift alarm that catches an encoder change, a
    scraper change, or label contamination BEFORE it poisons an index
    rebuild; the embedding-space sibling of q_e_corpus_drift's token
    movers and q_e_psi_drift's feature bands.

    One posexplode pass computes BOTH slice centroids as conditional
    exact-decimal means sharing a single (label, idx) shuffle; per-dim
    deltas are 6-dp floor-quantized (deterministic where round() ties
    are not), squared products ride a scale-12 exact-decimal sum, and
    one sqrt per label finishes. At 100 TB: ~64 slim partials per
    upstream partition, K·64 rows after the shuffle, K rows out —
    the same map-side-combined shape as q_e_embed_centroid.
    """
    e = load_table(spark, sf_dir, "embeddings")
    el = e.select(
        "label",
        (F.col("vec_id") % 2).alias("sl"),
        F.posexplode(F.col("embedding").cast("array<double>")).alias("idx", "x"),
    )
    cent = el.groupBy("label", "idx").agg(
        F.expr(davg("CASE WHEN sl = 0 THEN x END")).alias("ma"),
        F.expr(davg("CASE WHEN sl = 1 THEN x END")).alias("mb"),
    )
    dist = cent.groupBy("label").agg(
        F.expr(dsum(f"{_ED_DELTA} * {_ED_DELTA}", scale=12)).alias("sq")
    )
    cnt = e.groupBy("label").agg(
        F.sum((F.col("vec_id") % 2 == 0).cast("long")).alias("n_a"),
        F.sum((F.col("vec_id") % 2 == 1).cast("long")).alias("n_b"),
    )
    return (
        dist.join(cnt, "label")
        .select(
            "label",
            "n_a",
            "n_b",
            F.expr(_ED_Q6.format(x="sqrt(sq)")).alias("dist6"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# q_e_gini_mass (round 5)
# ---------------------------------------------------------------------------


@query(
    "q_e_gini_mass",
    oracle="""
    WITH r AS (
      SELECT lang, CAST(n_chars AS BIGINT) AS x,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id)
               AS i
      FROM documents
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(x) AS BIGINT) AS total_chars,
           round((2.0 * SUM(i * x) - (COUNT(*) + 1.0) * SUM(x))
                 / (CAST(COUNT(*) AS DOUBLE) * SUM(x)), 6) AS gini6
    FROM r GROUP BY lang ORDER BY lang
    """,
)
def q_e_gini_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Gini concentration of document byte mass (round 5):
    how unequally a language's corpus mass is spread across its docs —
    G ≈ 0 means uniform doc sizes, G → 1 means a few giant documents
    carry the language. The mixing stage reads this next to
    q_e_mix_weights: a high-Gini language's token budget is hostage to
    a handful of documents, so dedup/chunking decisions hit it
    disproportionately. G = (2Σi·xᵢ − (n+1)Σx)/(nΣx) over ascending
    per-lang ranks.

    Determinism: rank is row_number over (integer mass, doc_id) —
    tie-free; both Σi·x and Σx are exact BIGINT sums; one closing IEEE
    division. Scale: the per-lang rank is `tables.chunked_prefix` (a
    window partition is not AQE-splittable, so a naive per-lang window
    is the dominant language's full sort), chunked by the mass bucket
    n_chars DIV 512: ascending with the (x, doc_id) order, equal x
    share a bucket, and the ≤ |langs|·|buckets| totals are bounded by
    the n_chars domain, not the corpus.
    """
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "lang",
        F.col("n_chars").cast("long").alias("x"),
        "doc_id",
        F.expr("n_chars div 512").alias("bch"),
    )
    r = chunked_prefix(base, ["lang"], ["bch"], ["x", "doc_id"], {"i": None})
    agg = r.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("x").cast("long").alias("total_chars"),
        F.sum(F.col("i") * F.col("x")).alias("six"),
    )
    n = F.col("n_docs").cast("double")
    return agg.select(
        "lang",
        "n_docs",
        "total_chars",
        F.round(
            (2.0 * F.col("six") - (n + 1.0) * F.col("total_chars"))
            / (n * F.col("total_chars")),
            6,
        ).alias("gini6"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# q_e_js_drift (round 5)
# ---------------------------------------------------------------------------

_LN2_6 = 0.693147  # round(ln 2, 6) — shared literal in both engines

def _source_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, token, cs) partial table, a scoped_persist frame: four
    consumers (st itself, ct, ns, nn) would otherwise each re-run the
    corpus explode + count — Catalyst has no cross-branch common-subtree
    reuse, so without the persist the physical plan scans the corpus 4×
    (caught by tests/test_plans.py's re-aggregation pin)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("source", F.explode(F.split("text", " ")).alias("token"))
    return scoped_persist(
        toks.groupBy("source", "token").agg(F.count(F.lit(1)).alias("cs")),
        spark,
        sf_dir,
        "source_token_counts",
    )


@query(
    "q_e_js_drift",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    st AS (
      SELECT source, token, COUNT(*) AS cs FROM toks GROUP BY source, token
    ),
    ct AS (SELECT token, SUM(cs) AS c FROM st GROUP BY token),
    ns AS (
      SELECT source, SUM(cs) AS nstot, COUNT(*) AS vocab_used
      FROM st GROUP BY source
    ),
    nn AS (SELECT SUM(cs) AS n FROM st),
    pq AS (
      SELECT st.source,
             CAST(st.cs AS DOUBLE) / ns.nstot AS p,
             CAST(ct.c AS DOUBLE) / nn.n AS q
      FROM st
      JOIN ct USING (token)
      JOIN ns USING (source)
      CROSS JOIN nn
    ),
    terms AS (
      SELECT source,
             0.5 * (p * round(ln(p / ((p + q) / 2)), 6)
                    + q * round(ln(q / ((p + q) / 2)), 6)
                    - q * {_LN2_6}) AS x
      FROM pq
    )
    SELECT t.source,
           CAST(ns.nstot AS BIGINT) AS n_tokens,
           CAST(ns.vocab_used AS BIGINT) AS vocab_used,
           round({dsum('x', 12, 38)} + 0.5 * {_LN2_6}, 6) AS jsd6
    FROM terms t JOIN ns ON t.source = ns.source
    GROUP BY t.source, ns.nstot, ns.vocab_used
    ORDER BY t.source
    """,
)
def q_e_js_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Jensen–Shannon divergence from the corpus unigram
    distribution (round 5): the symmetric, bounded ([0, ln 2]) single
    number that ranks which source's vocabulary deviates most from the
    mixture it feeds — next to q_e_psi_drift (bucketed PSI) and
    q_e_corpus_drift (per-token movers) this is the scalar leaderboard
    form. The q-side sum over tokens ABSENT from a source collapses in
    closed form (for cs=0, m=q/2 so the term is q·ln2), so only rows
    with cs>0 are ever materialized: JSD = Σ_{{cs>0}} ½(p·ln(p/m) +
    q·ln(q/m) − q·ln2) + ½ln2.

    Determinism: p and q are IEEE divisions of exact BIGINT counts
    (identical in both engines); every ln is rounded at 6 dp per the
    house convention before entering products; the per-source sum runs
    through the exact-decimal dsum at scale 12, so term order cannot
    move the result. Scale: one token-count shuffle builds st; corpus
    counts and totals RE-AGGREGATE from st (partials, never the raw
    stream twice); ns and the 1-row grand total broadcast; the st↔ct
    join co-partitions on token. Nothing corpus-sized crosses a
    driver, no window at all.
    """
    st = _source_token_counts(spark, sf_dir)
    ct = st.groupBy("token").agg(F.sum("cs").alias("c"))
    ns = st.groupBy("source").agg(
        F.sum("cs").alias("nstot"), F.count(F.lit(1)).alias("vocab_used")
    )
    nn = st.agg(F.sum("cs").alias("n"))
    p = F.col("cs").cast("double") / F.col("nstot")
    q = F.col("c").cast("double") / F.col("n")
    m = (p + q) / 2
    x = 0.5 * (
        p * F.round(F.log(p / m), 6)
        + q * F.round(F.log(q / m), 6)
        - q * F.lit(_LN2_6)
    )
    terms = (
        st.join(ct, "token")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(nn))
        .select("source", "nstot", "vocab_used", x.alias("x"))
    )
    return (
        terms.groupBy("source", "nstot", "vocab_used")
        .agg(
            F.round(
                F.expr(dsum("x", 12, 38)) + F.lit(0.5 * _LN2_6), 6
            ).alias("jsd6")
        )
        .select(
            "source",
            F.col("nstot").cast("long").alias("n_tokens"),
            F.col("vocab_used").cast("long").alias("vocab_used"),
            "jsd6",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q_e_tail_index (round 6)
# ---------------------------------------------------------------------------

_HILL_K = 100  # order statistics used by the Hill estimator (top k+1)


def _ks_source_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, x, cs): per-source document counts by length, the ONE
    corpus scan behind q_e_length_ks and q_e_wasserstein. A
    scoped_persist frame because EVERY downstream piece (support,
    corpus CDF, totals, the grid join, n_t) derives from it — without
    the persist each branch would re-scan the corpus (no cross-branch
    subtree reuse; plan-pinned) — and shared, so running both drift
    audits costs one scan."""
    d = load_table(spark, sf_dir, "documents")
    return scoped_persist(
        d.groupBy("source", F.col("n_chars").alias("x")).agg(
            F.count(F.lit(1)).alias("cs")
        ),
        spark,
        sf_dir,
        "ks_source_lengths",
    )


@query(
    "q_e_tail_index",
    oracle=f"""
    WITH ranked AS (
      SELECT lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM documents
    ),
    top AS (SELECT * FROM ranked WHERE rn <= {_HILL_K} + 1),
    ref AS (
      SELECT lang, MAX(rn) AS ref_rn,
             MAX(CASE WHEN rn_is_max THEN n_chars END) AS x_ref
      FROM (SELECT *, rn = MAX(rn) OVER (PARTITION BY lang) AS rn_is_max
            FROM top)
      GROUP BY lang
    )
    SELECT t.lang, CAST(r.ref_rn - 1 AS BIGINT) AS k_used,
           r.x_ref,
           round({davg("round(ln(CAST(t.n_chars AS DOUBLE)), 6)"
                       " - round(ln(CAST(r.x_ref AS DOUBLE)), 6)")}, 6)
             AS hill_inv6
    FROM top t JOIN ref r ON t.lang = r.lang
    WHERE t.rn < r.ref_rn
    GROUP BY t.lang, r.ref_rn, r.x_ref
    ORDER BY t.lang
    """,
)
def q_e_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy-tail exponent of the per-language length distribution
    (round 6): the Hill estimator 1/α = mean(ln xᵢ − ln x₍ₖ₊₁₎) over
    the top-k order statistics — the drift monitor that tells a
    packing/budgeting stage whether a language's byte mass is
    power-law-hostage to a few giant docs (large 1/α) or
    exponential-tailed (small). Complements q_e_zipf_slope (token
    frequencies) and q_e_gini_mass (Lorenz concentration) with the
    extreme-value view.

    Scale: the global top-(k+1) per language is computed with the
    two-phase per-group TakeOrdered idiom — rank within (lang, 64-way
    doc_id shard) keeps each first-phase window partition-local and
    ≤ corpus/64 rows, the union of shard top-(k+1)s provably contains
    the global top-(k+1), and the second rank runs on ≤ 64·(k+1) rows
    per language. No full-corpus single-partition window anywhere.
    Logs are 6-dp-rounded before the exact-decimal mean (bit-identical
    cross-engine); the subtraction of two 6-dp doubles is exact."""
    d = load_table(spark, sf_dir, "documents").select("lang", "n_chars", "doc_id")
    w1 = Window.partitionBy("lang", "shard").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    pre = (
        d.withColumn("shard", (F.col("doc_id") % 64).cast("int"))
        .withColumn("prn", F.row_number().over(w1))
        .where(F.col("prn") <= _HILL_K + 1)
    )
    w2 = Window.partitionBy("lang").orderBy(
        F.col("n_chars").desc(), F.col("doc_id").asc()
    )
    # top is consumed by BOTH the ref aggregate and the main join —
    # without the persist each branch re-runs the two-phase corpus
    # rank (Catalyst has no cross-branch subtree reuse; plan-pinned).
    # ≤ 64·(k+1) rows per lang after the prune: trivially cacheable.
    top = scoped_persist(
        pre.withColumn("rn", F.row_number().over(w2)).where(
            F.col("rn") <= _HILL_K + 1
        ),
        spark,
        sf_dir,
        "hill_top",
    )
    ref = top.groupBy("lang").agg(
        F.max("rn").alias("ref_rn"),
        F.max(F.struct("rn", "n_chars")).getField("n_chars").alias("x_ref"),
    )
    ln6 = "round(ln(CAST(n_chars AS DOUBLE)), 6)"
    lnr6 = "round(ln(CAST(x_ref AS DOUBLE)), 6)"
    return (
        top.join(F.broadcast(ref), "lang")
        .where(F.col("rn") < F.col("ref_rn"))
        .groupBy("lang", "ref_rn", "x_ref")
        .agg(
            F.expr(f"round({davg(f'{ln6} - {lnr6}')}, 6)").alias("hill_inv6")
        )
        .select(
            "lang",
            (F.col("ref_rn") - 1).cast("long").alias("k_used"),
            "x_ref",
            "hill_inv6",
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q_e_length_ks (round 6)
# ---------------------------------------------------------------------------


@query(
    "q_e_length_ks",
    oracle="""
    WITH support AS (
      SELECT n_chars AS x, COUNT(*) AS ct FROM documents GROUP BY 1
    ),
    corpus AS (
      SELECT x, SUM(ct) OVER (ORDER BY x
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_t
      FROM support
    ),
    src AS (
      SELECT source, n_chars AS x, COUNT(*) AS cs
      FROM documents GROUP BY source, 2
    ),
    totals AS (
      SELECT source, CAST(SUM(cs) AS BIGINT) AS n_s FROM src GROUP BY source
    ),
    grid AS (
      SELECT t.source, c.x, c.cum_t, COALESCE(s.cs, 0) AS cs
      FROM totals t CROSS JOIN corpus c
      LEFT JOIN src s ON s.source = t.source AND s.x = c.x
    ),
    cum AS (
      SELECT source, x, cum_t,
             SUM(cs) OVER (PARTITION BY source ORDER BY x
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_s
      FROM grid
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_t FROM documents)
    SELECT c.source, t.n_s AS n_docs,
           floor(MAX(abs(c.cum_s * n.n_t - c.cum_t * t.n_s)) * 1000000.0
                 / (t.n_s * n.n_t)) / 1000000.0 AS ks6
    FROM cum c JOIN totals t ON c.source = t.source CROSS JOIN n
    GROUP BY c.source, t.n_s, n.n_t
    ORDER BY c.source
    """,
)
def q_e_length_ks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov–Smirnov drift of each source's length distribution
    against the corpus (round 6): KS = max |CDF_source − CDF_corpus|
    over the observed support — the nonparametric companion to
    q_e_psi_drift (fixed buckets) and q_e_js_drift (token mixture):
    PSI misses shape shifts inside a bucket, KS does not, and it needs
    no binning choice at all.

    Exactness: the sup statistic is computed in pure BIGINT cross-
    multiplied form |cum_s·N − cum_t·n_s| (no per-point float CDFs),
    with ONE closing floor-quantized division per source. Scale: the
    corpus collapses to its length support first (combinable groupBy;
    |support| distinct values, corpus-size-independent), the
    source×support grid is |sources|·|support| rows, and every window
    runs over ≤ |support| rows partitioned by source — never over
    corpus rows. The support frame rides a broadcast join."""
    # ONE corpus scan: the (source, length) counts collapse the corpus
    # to a slim aggregated frame.
    src = _ks_source_lengths(spark, sf_dir)
    support = src.groupBy("x").agg(F.sum("cs").alias("ct"))
    wt = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    corpus = support.withColumn("cum_t", F.sum("ct").over(wt)).select("x", "cum_t")
    totals = src.groupBy("source").agg(F.sum("cs").cast("long").alias("n_s"))
    grid = (
        totals.join(F.broadcast(corpus))
        .join(src, ["source", "x"], "left")
        .select(
            "source", "x", "cum_t", "n_s", F.coalesce("cs", F.lit(0)).alias("cs")
        )
    )
    ws = Window.partitionBy("source").orderBy("x").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = grid.withColumn("cum_s", F.sum("cs").over(ws))
    # Corpus total rides a 1-row broadcast crossJoin (the house idiom —
    # a mid-plan scalar .collect() costs an extra job per call; round 7
    # aligns this op with its siblings).
    nt = src.agg(F.sum("cs").cast("long").alias("n_t"))
    return (
        cum.join(F.broadcast(nt))
        .groupBy("source", "n_s", "n_t")
        .agg(
            F.max(
                F.abs(F.col("cum_s") * F.col("n_t") - F.col("cum_t") * F.col("n_s"))
            ).alias("mx")
        )
        .select(
            "source",
            F.col("n_s").alias("n_docs"),
            (
                F.floor(F.col("mx") * 1000000.0 / (F.col("n_s") * F.col("n_t")))
                / 1000000.0
            ).alias("ks6"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q_e_heaps_law (round 7)
# ---------------------------------------------------------------------------


@query(
    "q_e_heaps_law",
    oracle="""
    WITH pts AS (
      SELECT round(ln(CAST(len(string_split(text, ' ')) AS DOUBLE)), 6) AS x,
             round(ln(CAST(len(list_distinct(string_split(text, ' ')))
                           AS DOUBLE)), 6) AS y
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ),
    s AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS k,
             CAST(SUM(CAST(x AS DECIMAL(30,12))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(y AS DECIMAL(30,12))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(x * y AS DECIMAL(30,12))) AS DOUBLE) AS sxy,
             CAST(SUM(CAST(x * x AS DECIMAL(30,12))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(y * y AS DECIMAL(30,12))) AS DOUBLE) AS syy
      FROM pts
    )
    SELECT CAST(k AS BIGINT) AS n_points,
           floor((k * sxy - sx * sy) / NULLIF(k * sxx - sx * sx, 0)
                 * 1000000.0 + 0.5) / 1000000.0 AS beta6,
           floor((sy - (k * sxy - sx * sy) / NULLIF(k * sxx - sx * sx, 0) * sx)
                 / k * 1000000.0 + 0.5) / 1000000.0 AS lnk6,
           floor((k * sxy - sx * sy) * (k * sxy - sx * sy)
                 / NULLIF((k * sxx - sx * sx) * (k * syy - sy * sy), 0)
                 * 1000000.0 + 0.5) / 1000000.0 AS r2_6
    FROM s
    """,
)
def q_e_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of type-token scaling across documents (round 7):
    every document contributes one (ln tokens, ln distinct types)
    point and log-log OLS recovers V ≈ K·n^β — β near 1 says text is
    still type-rich at this length scale, β ≪ 1 says types saturate
    (the lexical-richness number a tokenizer-budget decision reads
    next to q_e_vocab_growth's corpus-level curve; the corpus-prefix
    form is degenerate on this fixture — the global vocab saturates
    in the first ingest decile — so the cross-document form is the
    well-conditioned fit). Single-token docs carry no scaling signal
    and are excluded (ln 1 = 0 on both axes).

    Scale: pure scan-side codegen per doc (split/distinct/ln) into
    ONE map-side-combinable 1-row aggregate of exact-decimal
    Σx/Σy/Σxy/Σx²/Σy² — no shuffle wider than 1 row, no window, the
    q_a_trend_slope closed-form discipline. 6-dp lns; floor-quantized
    outputs (no round() ties); zero-variance corpora NULLIF to NULL."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    pts = (
        d.where(F.size(words) >= 2)
        .select(
            F.round(F.log(F.size(words).cast("double")), 6).alias("x"),
            F.round(
                F.log(F.size(F.array_distinct(words)).cast("double")), 6
            ).alias("y"),
        )
    )
    s = pts.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum(F.col("x").cast("decimal(30,12)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(30,12)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(30,12)"))
        .cast("double")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(30,12)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(30,12)"))
        .cast("double")
        .alias("syy"),
    )
    beta = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.expr(
        "nullif(k * sxx - sx * sx, 0.0)"
    )
    return s.select(
        F.col("k").cast("long").alias("n_points"),
        (F.floor(beta * 1000000.0 + 0.5) / 1000000.0).alias("beta6"),
        (
            F.floor(
                (F.col("sy") - beta * F.col("sx")) / F.col("k") * 1000000.0
                + 0.5
            )
            / 1000000.0
        ).alias("lnk6"),
        (
            F.floor(
                (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
                * (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
                / F.expr(
                    "nullif((k * sxx - sx * sx) * (k * syy - sy * sy), 0.0)"
                )
                * 1000000.0
                + 0.5
            )
            / 1000000.0
        ).alias("r2_6"),
    )


# ---------------------------------------------------------------------------
# q_e_jsd_matrix (round 7)
# ---------------------------------------------------------------------------


@query(
    "q_e_jsd_matrix",
    oracle=f"""
    WITH toks AS (
      SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    st AS (
      SELECT source, token, COUNT(*) AS cs FROM toks GROUP BY source, token
    ),
    ns AS (SELECT source, SUM(cs) AS nstot FROM st GROUP BY source),
    vocab AS (SELECT DISTINCT token FROM st),
    grid AS (SELECT ns.source, v.token, ns.nstot
             FROM ns CROSS JOIN vocab v),
    dense AS (
      SELECT g.source, g.token,
             COALESCE(CAST(st.cs AS DOUBLE), 0.0) / g.nstot AS p
      FROM grid g LEFT JOIN st ON g.source = st.source AND g.token = st.token
    ),
    pairs AS (
      SELECT a.source AS src_a, b.source AS src_b, a.p AS p, b.p AS q
      FROM dense a JOIN dense b
        ON a.token = b.token AND a.source < b.source
    ),
    terms AS (
      SELECT src_a, src_b,
             0.5 * (CASE WHEN p > 0
                         THEN p * round(ln(2.0 * p / (p + q)), 6)
                         ELSE 0.0 END
                    + CASE WHEN q > 0
                           THEN q * round(ln(2.0 * q / (p + q)), 6)
                           ELSE 0.0 END) AS x
      FROM pairs
    )
    SELECT src_a, src_b,
           floor({dsum('x', 12, 38)} * 1000000.0 + 0.5) / 1000000.0 AS jsd6
    FROM terms GROUP BY src_a, src_b
    ORDER BY src_a, src_b
    """,
)
def q_e_jsd_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-to-source Jensen–Shannon divergence matrix
    (round 7 — the mixture-design complement to q_e_js_drift's
    source-vs-corpus scalar: the drift scalar says WHO moved away from
    the blend, this matrix says WHICH sources are interchangeable —
    near-zero JSD pairs are redundant under q_e_mix_weights'
    temperature sampling, high-JSD pairs carry the diversity the
    budget should protect): upper-triangle JSD over unigram
    distributions, one-sided support handled exactly (a token absent
    from one source contributes p·ln2 from the other side only).

    Scale: the corpus collapses ONCE to the shared persisted
    (source, token) count frame (_source_token_counts — the same frame
    js_drift/ct consumers ride); the densified grid and the pair join
    are |sources|²·|vocab| rows of arithmetic, corpus-independent
    given a bounded vocab (an unbounded vocab would first hash-bucket
    to a fixed width, the q_e_dsir_weights discipline). 6-dp lns,
    exact-decimal pair sums, floor-quantized output."""
    st = _source_token_counts(spark, sf_dir)
    ns = st.groupBy("source").agg(F.sum("cs").alias("nstot"))
    vocab = st.select("token").distinct()
    grid = ns.crossJoin(F.broadcast(vocab))
    dense = (
        grid.join(st, ["source", "token"], "left")
        .select(
            "source",
            "token",
            (
                F.coalesce(F.col("cs").cast("double"), F.lit(0.0))
                / F.col("nstot")
            ).alias("p"),
        )
    )
    a = dense.select(
        F.col("source").alias("src_a"), "token", F.col("p").alias("p")
    )
    b = dense.select(
        F.col("source").alias("src_b"),
        F.col("token").alias("token_b"),
        F.col("p").alias("q"),
    )
    pairs = a.join(
        b,
        (F.col("token") == F.col("token_b")) & (F.col("src_a") < F.col("src_b")),
    )
    x = 0.5 * (
        F.when(
            F.col("p") > 0,
            F.col("p")
            * F.round(F.log(2.0 * F.col("p") / (F.col("p") + F.col("q"))), 6),
        ).otherwise(0.0)
        + F.when(
            F.col("q") > 0,
            F.col("q")
            * F.round(F.log(2.0 * F.col("q") / (F.col("p") + F.col("q"))), 6),
        ).otherwise(0.0)
    )
    return (
        pairs.select("src_a", "src_b", x.alias("x"))
        .groupBy("src_a", "src_b")
        .agg(
            (
                F.floor(F.expr(dsum("x", 12, 38)) * 1000000.0 + 0.5)
                / 1000000.0
            ).alias("jsd6")
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# q_e_wasserstein (round 8)
# ---------------------------------------------------------------------------


@query(
    "q_e_wasserstein",
    oracle="""
    WITH src AS (
      SELECT source, n_chars AS x, COUNT(*) AS cs
      FROM documents GROUP BY source, 2
    ),
    support AS (
      SELECT x, SUM(cs) AS ct FROM src GROUP BY x
    ),
    corpus AS (
      SELECT x,
             SUM(ct) OVER (ORDER BY x
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_t,
             COALESCE(LEAD(x) OVER (ORDER BY x), x) - x AS gap
      FROM support
    ),
    totals AS (
      SELECT source, CAST(SUM(cs) AS BIGINT) AS n_s FROM src GROUP BY source
    ),
    grid AS (
      SELECT t.source, t.n_s, c.x, c.cum_t, c.gap, COALESCE(s.cs, 0) AS cs
      FROM totals t CROSS JOIN corpus c
      LEFT JOIN src s ON s.source = t.source AND s.x = c.x
    ),
    cum AS (
      SELECT source, n_s, cum_t, gap,
             SUM(cs) OVER (PARTITION BY source ORDER BY x
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_s
      FROM grid
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_t FROM documents)
    SELECT c.source, c.n_s AS n_docs,
           floor(CAST(SUM(abs(c.cum_s * n.n_t - c.cum_t * c.n_s) * c.gap)
                      AS BIGINT) * 1000000.0 / (c.n_s * n.n_t)) / 1000000.0
             AS w1_6
    FROM cum c CROSS JOIN n
    GROUP BY c.source, c.n_s, n.n_t
    ORDER BY c.source
    """,
)
def q_e_wasserstein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-D Wasserstein-1 (earth-mover) drift of each source's length
    distribution against the corpus (round 8): W1 = ∫|CDF_s − CDF_t|dx
    over the observed support — the INTEGRAL companion to
    q_e_length_ks's sup statistic. The two read together exactly like
    mean vs max: KS flags the single worst CDF gap (sensitive to a
    sharp local shift), W1 weighs every gap by how long it persists
    along the length axis (a source whose docs are uniformly 50 chars
    longer has a small KS but a large W1), and W1 is the number a
    rebalancing plan can act on — it is measured in characters moved
    per document.

    Exactness: each support point contributes
    |cum_s·N − cum_t·n_s|·(x_next − x), all BIGINT (order-insensitive
    integer sum); ONE closing floor-quantized division per source
    converts to characters. Scale: identical shape to q_e_length_ks —
    the corpus collapses to its (source, length) counts first (rides
    the shared _ks_source_lengths frame, so running both drift
    audits costs ONE corpus scan), the un-partitioned support windows
    run over the corpus-size-independent length support (the
    bounded-domain exemption), and the grid is |sources|·|support|
    rows behind a broadcast. The cum_s·N products stay in BIGINT to
    ~3e9 docs; swap to DECIMAL(38,0) beyond that."""
    src = _ks_source_lengths(spark, sf_dir)
    support = src.groupBy("x").agg(F.sum("cs").alias("ct"))
    wt = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, 0)
    corpus = support.select(
        "x",
        F.sum("ct").over(wt).alias("cum_t"),
        (
            F.coalesce(F.lead("x").over(Window.orderBy("x")), F.col("x"))
            - F.col("x")
        ).alias("gap"),
    )
    totals = src.groupBy("source").agg(F.sum("cs").cast("long").alias("n_s"))
    grid = (
        totals.join(F.broadcast(corpus))
        .join(src, ["source", "x"], "left")
        .select(
            "source",
            "n_s",
            "x",
            "cum_t",
            "gap",
            F.coalesce("cs", F.lit(0)).alias("cs"),
        )
    )
    ws = Window.partitionBy("source").orderBy("x").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = grid.withColumn("cum_s", F.sum("cs").over(ws))
    nt = src.agg(F.sum("cs").cast("long").alias("n_t"))
    return (
        cum.join(F.broadcast(nt))
        .groupBy("source", "n_s", "n_t")
        .agg(
            F.sum(
                F.abs(
                    F.col("cum_s") * F.col("n_t") - F.col("cum_t") * F.col("n_s")
                )
                * F.col("gap")
            )
            .cast("long")
            .alias("moved")
        )
        .select(
            "source",
            F.col("n_s").alias("n_docs"),
            (
                F.floor(F.col("moved") * 1000000.0 / (F.col("n_s") * F.col("n_t")))
                / 1000000.0
            ).alias("w1_6"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q_e_cusum_drift (round 8)
# ---------------------------------------------------------------------------

_CUSUM_K_PPM = 500_000  # reference drift k = 0.5 sigma, in ppm
_CUSUM_H_PPM = 4_000_000  # alarm threshold h = 4 sigma, in ppm


@query(
    "q_e_cusum_drift",
    oracle=f"""
    WITH days AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS d,
             CAST(SUM(n_events) AS BIGINT) AS s,
             CAST(SUM(n_events * n_events) AS BIGINT) AS q
      FROM days
    ),
    z AS (
      SELECT day, n_events,
             CAST(floor(CAST(n_events * m.d - m.s AS DOUBLE)
                        / sqrt(CAST(m.q * m.d - m.s * m.s AS DOUBLE))
                        * 1000000.0 + 0.5) AS BIGINT) AS z_ppm
      FROM days CROSS JOIN mom m
    ),
    pre AS (
      SELECT day, n_events, z_ppm,
             SUM(z_ppm - {_CUSUM_K_PPM}) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
      FROM z
    ),
    run AS (
      SELECT day, n_events, z_ppm, p,
             LEAST(CAST(0 AS BIGINT), MIN(p) OVER (ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS floor_p
      FROM pre
    )
    SELECT day, n_events, z_ppm,
           CAST(p - floor_p AS BIGINT) AS cusum_ppm,
           p - floor_p > {_CUSUM_H_PPM} AS alarm
    FROM run ORDER BY day
    """,
)
def q_e_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's one-sided CUSUM change-point detector over the daily
    event volume (round 8): KS/PSI/W1 say WHETHER a distribution
    shifted; CUSUM says WHEN the level shifted — the sequential
    statistic S_d = max(0, S_{{d-1}} + z_d − k) that accumulates
    standardized excursions above the k = 0.5σ allowance and alarms
    at h = 4σ (the classic ARL-tuned SPC constants). The monitoring
    op an ingest pipeline runs per day to catch a crawler source
    silently doubling or dying mid-month.

    The sequential max(0, ·) recurrence is NOT a prefix sum — but it
    has the exact reflection identity S_d = P_d − min(0, min_{{j≤d}}
    P_j) over the un-clamped prefix P, so it IS two window passes
    (prefix sum + running min), no iteration, no UDF. Exactness:
    z-scores come from exact integer moments in cross-multiplied form
    (n_d·D − S)/√(QD − S²) — one IEEE division — then enter the
    recurrence as round-half-up ppm BIGINTs, so the CUSUM path and
    the alarm comparison are pure integers. Scale: one combinable
    day rollup collapses the corpus; both windows run over the
    bounded day DOMAIN (corpus-size-independent — the bounded-domain
    exemption), and the moment total rides a 1-row broadcast."""
    e = load_table(spark, sf_dir, "events")
    days = e.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    mom = days.agg(
        F.count(F.lit(1)).cast("long").alias("d"),
        F.sum("n_events").cast("long").alias("s"),
        F.sum(F.col("n_events") * F.col("n_events")).cast("long").alias("q"),
    )
    z = days.join(F.broadcast(mom)).select(
        "day",
        "n_events",
        F.expr(
            "CAST(floor(CAST(n_events * d - s AS DOUBLE)"
            " / sqrt(CAST(q * d - s * s AS DOUBLE))"
            " * 1000000.0 + 0.5) AS BIGINT)"
        ).alias("z_ppm"),
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    pre = z.withColumn(
        "p", F.sum(F.col("z_ppm") - F.lit(_CUSUM_K_PPM)).over(w)
    )
    run = pre.withColumn(
        "floor_p", F.least(F.lit(0).cast("long"), F.min("p").over(w))
    )
    return run.select(
        "day",
        "n_events",
        "z_ppm",
        (F.col("p") - F.col("floor_p")).cast("long").alias("cusum_ppm"),
        ((F.col("p") - F.col("floor_p")) > _CUSUM_H_PPM).alias("alarm"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# q_e_burrows_delta (round 8)
# ---------------------------------------------------------------------------

_BD_K = 30  # most-frequent-token panel size (classic Delta uses 30-150)


@query(
    "q_e_burrows_delta",
    oracle=f"""
    WITH tf AS (
      SELECT source, tok, COUNT(*) AS c
      FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      GROUP BY source, tok
    ),
    tot AS (
      SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM tf GROUP BY source
    ),
    top AS (
      SELECT tok FROM (
        SELECT tok, CAST(SUM(c) AS BIGINT) AS ct FROM tf GROUP BY tok
      ) ORDER BY ct DESC, tok LIMIT {_BD_K}
    ),
    grid AS (
      SELECT t.source, p.tok,
             round(CAST(COALESCE(f.c, 0) AS DOUBLE) / t.n_s, 6) AS f6
      FROM tot t CROSS JOIN top p
      LEFT JOIN tf f ON f.source = t.source AND f.tok = p.tok
    ),
    stats AS (
      SELECT tok,
             {davg('f6')} AS mu,
             {dsum('f6 * f6', 12, 38)} / COUNT(*) AS m2
      FROM grid GROUP BY tok
    ),
    z AS (
      SELECT g.source, g.tok,
             round((g.f6 - s.mu)
                   / NULLIF(round(sqrt(GREATEST(s.m2 - s.mu * s.mu, 0.0)), 6),
                            0.0), 6) AS z6
      FROM grid g JOIN stats s ON g.tok = s.tok
    )
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(COUNT(abs(a.z6 - b.z6)) AS BIGINT) AS n_terms,
           round({davg('abs(a.z6 - b.z6)')}, 6) AS delta6
    FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
    GROUP BY a.source, b.source ORDER BY src_a, src_b
    """,
)
def q_e_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric distance between every source pair
    (round 8): the standard authorship-attribution statistic
    (Burrows 2002) — z-score each source's relative frequency of the
    30 most-frequent corpus tokens across sources, Delta = mean |Δz|.
    Function-word profiles survive topic shift, so Delta separates
    STYLE (template/register/authorship) where q_e_jsd_matrix's
    full-vocabulary divergence is dominated by topic — read together
    they answer "same topics, different writer?" (Delta high, JSD
    low) vs "same boilerplate, different topics" (the reverse). A
    pretraining mixture uses Delta to spot one crawl masquerading as
    two sources.

    Exactness: relative frequencies are 6-dp-rounded IEEE divisions
    of exact counts; per-token μ and the second moment ride exact
    DECIMAL sums over the |sources|-row panel; σ's radicand is
    GREATEST-floored at 0 (float dust) and NULLIF at 0 excludes
    zero-variance tokens from every pair's mean IDENTICALLY in both
    engines (COUNT of the null-propagating |Δz| is reported as
    n_terms). Scale: one TF shuffle (the pass every text op pays),
    a TakeOrderedAndProject top-30 (partial per-partition top-k,
    never a global sort), then every frame is |sources|×30 behind
    broadcasts."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = tf.groupBy("source").agg(F.sum("c").cast("long").alias("n_s"))
    top = (
        tf.groupBy("tok")
        .agg(F.sum("c").cast("long").alias("ct"))
        .orderBy(F.desc("ct"), "tok")
        .limit(_BD_K)
        .select("tok")
    )
    grid = (
        tot.join(F.broadcast(top))
        .join(tf, ["source", "tok"], "left")
        .select(
            "source",
            "tok",
            F.round(
                F.coalesce("c", F.lit(0)).cast("double") / F.col("n_s"), 6
            ).alias("f6"),
        )
    )
    stats = grid.groupBy("tok").agg(
        F.expr(davg("f6")).alias("mu"),
        (F.expr(dsum("f6 * f6", 12, 38)) / F.count(F.lit(1))).alias("m2"),
    )
    z = grid.join(F.broadcast(stats), "tok").select(
        "source",
        "tok",
        F.round(
            (F.col("f6") - F.col("mu"))
            / F.nullif(
                F.round(
                    F.sqrt(
                        F.greatest(
                            F.col("m2") - F.col("mu") * F.col("mu"),
                            F.lit(0.0),
                        )
                    ),
                    6,
                ),
                F.lit(0.0),
            ),
            6,
        ).alias("z6"),
    )
    a = z.alias("a")
    b = z.alias("b")
    return (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(
            F.count(F.abs(F.col("a.z6") - F.col("b.z6")))
            .cast("long")
            .alias("n_terms"),
            F.round(F.expr(davg("abs(a.z6 - b.z6)")), 6).alias("delta6"),
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# q_e_mann_kendall (round 8)
# ---------------------------------------------------------------------------

_MK_Z95 = 1.959964  # two-sided 5% normal critical value, 6 dp


@query(
    "q_e_mann_kendall",
    oracle=f"""
    WITH days AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1
                           WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
               AS s_stat
      FROM days a JOIN days b ON a.day < b.day
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM days),
    ties AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM days GROUP BY x)
      WHERE t > 1
    ),
    v AS (
      SELECT nn.n, s.s_stat,
             CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie_term
                  AS BIGINT) AS var18
      FROM nn CROSS JOIN s CROSS JOIN ties
    )
    SELECT n AS n_days, s_stat, var18,
           round(CASE WHEN s_stat > 0 THEN (s_stat - 1)
                      WHEN s_stat < 0 THEN (s_stat + 1)
                      ELSE 0 END
                 / sqrt(CAST(var18 AS DOUBLE) / 18.0), 6) AS z6,
           CASE WHEN s_stat > 0 AND (s_stat - 1)
                     > {_MK_Z95} * sqrt(CAST(var18 AS DOUBLE) / 18.0)
                  THEN 'increasing'
                WHEN s_stat < 0 AND -(s_stat + 1)
                     > {_MK_Z95} * sqrt(CAST(var18 AS DOUBLE) / 18.0)
                  THEN 'decreasing'
                ELSE 'none' END AS trend
    FROM v
    """,
)
def q_e_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall non-parametric trend test on the daily event
    volume (round 8): S = Σ_{{i<j}} sign(x_j − x_i) with the
    tie-corrected variance Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]
    / 18 and the continuity-corrected normal Z — the standard
    is-the-series-MONOTONICALLY-drifting test (Mann 1945, Kendall's
    τ numerator). Completes the volume-monitoring triad: q_e_cusum
    finds a LEVEL SHIFT and when, Mann–Kendall certifies a monotone
    TREND with a significance verdict, and both read off the same
    daily rollup. No distributional assumption — exactly right for
    bursty crawl volumes.

    Exactness: S and the 18·Var numerator are pure BIGINT (sign
    comparisons and tie-group combinatorics); the single
    sqrt-and-divide producing Z is one IEEE expression, 6-dp-rounded,
    and the 5%-level verdict compares in the same double domain in
    both engines (the continuity-corrected numerator is an exact
    integer, so the comparison has ~1e-10 slack against the 6-dp
    critical constant — never a knife edge). Scale: the corpus
    collapses via one combinable day rollup; the pair join, tie scan
    and the closing fold all run over the bounded day DOMAIN
    (≤ n_days² pairs, corpus-size-independent)."""
    e = load_table(spark, sf_dir, "events")
    days = e.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    a = days.alias("a")
    b = days.alias("b")
    s = a.join(b, F.col("a.day") < F.col("b.day")).agg(
        F.sum(
            F.when(F.col("b.x") > F.col("a.x"), 1)
            .when(F.col("b.x") < F.col("a.x"), -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("s_stat")
    )
    nn = days.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ties = (
        days.groupBy("x")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    v = (
        nn.join(F.broadcast(s))
        .join(F.broadcast(ties))
        .select(
            "n",
            "s_stat",
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("tie_term")
            )
            .cast("long")
            .alias("var18"),
        )
    )
    sd = F.sqrt(F.col("var18").cast("double") / 18.0)
    return v.select(
        F.col("n").alias("n_days"),
        "s_stat",
        "var18",
        F.round(
            F.when(F.col("s_stat") > 0, F.col("s_stat") - 1)
            .when(F.col("s_stat") < 0, F.col("s_stat") + 1)
            .otherwise(0)
            / sd,
            6,
        ).alias("z6"),
        F.when(
            (F.col("s_stat") > 0)
            & ((F.col("s_stat") - 1) > F.lit(_MK_Z95) * sd),
            "increasing",
        )
        .when(
            (F.col("s_stat") < 0)
            & (-(F.col("s_stat") + 1) > F.lit(_MK_Z95) * sd),
            "decreasing",
        )
        .otherwise("none")
        .alias("trend"),
    )


# ---------------------------------------------------------------------------
# q_e_theil_sen (round 8)
# ---------------------------------------------------------------------------


@query(
    "q_e_theil_sen",
    oracle="""
    WITH days AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    idx AS (
      SELECT day, x,
             CAST(datediff('day', MIN(day) OVER (), day) AS BIGINT) AS i
      FROM days
    ),
    slopes AS (
      SELECT round(CAST(b.x - a.x AS DOUBLE) / (b.i - a.i), 6) AS sl
      FROM idx a JOIN idx b ON a.i < b.i
    ),
    ranked AS (
      SELECT sl, ROW_NUMBER() OVER (ORDER BY sl) AS rk,
             COUNT(*) OVER () AS np
      FROM slopes
    )
    SELECT CAST(MAX(np) AS BIGINT) AS n_pairs,
           round((MAX(CASE WHEN rk = (np + 1) // 2 THEN sl END)
                  + MAX(CASE WHEN rk = np // 2 + 1 THEN sl END)) / 2.0, 6)
             AS sen_slope6,
           round(MIN(sl), 6) AS min_slope6,
           round(MAX(sl), 6) AS max_slope6
    FROM ranked
    """,
)
def q_e_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend slope of the daily event volume (round
    8): the median of all pairwise slopes (x_j − x_i)/(j − i) — the
    estimator with a 29.3% breakdown point that one crazy crawl day
    cannot drag (unlike q_a_trend_slope's least-squares family).
    Reads WITH q_e_mann_kendall: MK certifies a monotone trend
    exists, Theil–Sen says how steep it is in events/day — the pair
    is the standard robust trend report (both are Kendall-family
    statistics over the same pair set).

    Exactness: day gaps are exact integer datediffs, each slope is
    ONE IEEE division rounded to 6 dp, and the median is the exact
    lower/upper order-statistic average over the ranked slope panel
    (both engines rank the same 6-dp values with the same rank
    arithmetic — value ties collapse identically because the rank
    picks VALUES, not row identities... the two central CASE rows
    read the same sl either way). Scale: one combinable day rollup
    collapses the corpus; the pair frame and its un-partitioned rank
    window are bounded by the day DOMAIN (≤ n_days²/2 rows,
    corpus-size-independent — the bounded-domain exemption)."""
    e = load_table(spark, sf_dir, "events")
    days = e.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    idx = days.select(
        "x",
        F.datediff(
            F.col("day"), F.min("day").over(Window.partitionBy())
        )
        .cast("long")
        .alias("i"),
    )
    a = idx.alias("a")
    b = idx.alias("b")
    slopes = a.join(b, F.col("a.i") < F.col("b.i")).select(
        F.round(
            (F.col("b.x") - F.col("a.x")).cast("double")
            / (F.col("b.i") - F.col("a.i")),
            6,
        ).alias("sl")
    )
    wr = Window.orderBy("sl")
    ranked = slopes.select(
        "sl",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("np"),
    )
    return ranked.agg(
        F.max("np").cast("long").alias("n_pairs"),
        F.round(
            (
                F.max(
                    F.when(
                        F.col("rk") == F.expr("(np + 1) DIV 2"), F.col("sl")
                    )
                )
                + F.max(
                    F.when(F.col("rk") == F.expr("np DIV 2 + 1"), F.col("sl"))
                )
            )
            / 2.0,
            6,
        ).alias("sen_slope6"),
        F.round(F.min("sl"), 6).alias("min_slope6"),
        F.round(F.max("sl"), 6).alias("max_slope6"),
    )


# ---------------------------------------------------------------------------
# q_e_autocorr (round 8)
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 7


@query(
    "q_e_autocorr",
    oracle=f"""
    WITH days AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS d, CAST(SUM(x) AS BIGINT) AS s
      FROM days
    ),
    y AS (
      SELECT CAST(datediff('day', (SELECT MIN(day) FROM days), day)
                  AS BIGINT) AS i,
             CAST(x * mom.d - mom.s AS BIGINT) AS y
      FROM days CROSS JOIN mom
    ),
    c0 AS (SELECT CAST(SUM(y * y) AS BIGINT) AS den FROM y),
    grid AS (SELECT unnest(generate_series(1, {_ACF_MAX_LAG})) AS k)
    SELECT g.k,
           CAST(COUNT(b.y) AS BIGINT) AS n_terms,
           round(CAST(SUM(a.y * b.y) AS BIGINT)
                 / CAST(c0.den AS DOUBLE), 6) AS acf6
    FROM grid g
    CROSS JOIN c0
    JOIN y a ON TRUE
    JOIN y b ON b.i = a.i + g.k
    GROUP BY g.k, c0.den ORDER BY g.k
    """,
)
def q_e_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the daily event volume at lags 1–7
    (round 8): ρ_k = Σ(x_t − μ)(x_{{t+k}} − μ) / Σ(x_t − μ)² — the
    statistic that separates a weekly SEASONAL pattern (ρ₇ spikes)
    from day-to-day persistence (ρ₁ high) from white noise (all ≈ 0).
    Completes the volume-monitoring family: CUSUM = level shift,
    Mann–Kendall/Theil–Sen = trend, ACF = periodic structure — the
    four plots every capacity-planning dashboard opens with.

    Exactness: centered values ride the cross-multiplied integer form
    y_t = x_t·D − S (so every product and both sums are exact
    BIGINTs, order-insensitive); each ρ_k is ONE IEEE division,
    6-dp-rounded. Gapped calendars are handled honestly: terms pair
    day i with calendar day i+k (missing days drop out; n_terms
    reports the actual overlap). Scale: one combinable day rollup,
    then the lag grid join and all sums run over the bounded day
    DOMAIN; the 1-row moment and denominator frames ride broadcasts.
    y products stay in BIGINT to ~3e9 events/day over ~3e3 days."""
    e = load_table(spark, sf_dir, "events")
    days = e.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    mom = days.agg(
        F.count(F.lit(1)).cast("long").alias("d"),
        F.sum("x").cast("long").alias("s"),
    )
    mind = days.agg(F.min("day").alias("d0"))
    y = (
        days.join(F.broadcast(mom))
        .join(F.broadcast(mind))
        .select(
            F.datediff(F.col("day"), F.col("d0")).cast("long").alias("i"),
            (F.col("x") * F.col("d") - F.col("s")).cast("long").alias("y"),
        )
    )
    c0 = y.agg(F.sum(F.col("y") * F.col("y")).cast("long").alias("den"))
    grid = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").cast("long").alias("k")
    )
    a = y.alias("a")
    b = y.alias("b")
    return (
        grid.join(F.broadcast(c0))
        .join(F.broadcast(a))
        .join(
            F.broadcast(b),
            F.col("b.i") == F.col("a.i") + F.col("k"),
        )
        .groupBy("k", "den")
        .agg(
            F.count(F.col("b.y")).cast("long").alias("n_terms"),
            F.round(
                F.sum(F.col("a.y") * F.col("b.y")).cast("long")
                / F.col("den").cast("double"),
                6,
            ).alias("acf6"),
        )
        .select("k", "n_terms", "acf6")
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# q_e_seasonality (round 8)
# ---------------------------------------------------------------------------


@query(
    "q_e_seasonality",
    oracle=f"""
    WITH days AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    dow AS (
      SELECT CAST(isodow(day) AS BIGINT) AS dow,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(x) AS BIGINT) AS n_events
      FROM days GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n_days) AS BIGINT) AS d,
             CAST(SUM(n_events) AS BIGINT) AS n
      FROM dow
    ),
    terms AS (
      SELECT dow.dow, dow.n_days, dow.n_events, tot.d, tot.n,
             round(CAST((dow.n_events * tot.d - tot.n * dow.n_days)
                        AS DOUBLE)
                   * (dow.n_events * tot.d - tot.n * dow.n_days)
                   / (CAST(tot.d AS DOUBLE) * tot.n * dow.n_days), 6)
               AS term6
      FROM dow CROSS JOIN tot
    )
    SELECT dow, n_days, n_events,
           CAST(n_events * 1000000 // n AS BIGINT) AS share_ppm,
           CAST(n_days * 1000000 // d AS BIGINT) AS exp_share_ppm,
           (SELECT round({dsum('term6')}, 6) FROM terms) AS chi2_6
    FROM terms ORDER BY dow
    """,
)
def q_e_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonality profile + χ² uniformity test of the
    event volume (round 8): per ISO weekday, the observed share of
    events against the expected share — where "expected" honestly
    weights by how many MONDAYS (etc.) the observation window
    actually contains, the correction naive dashboards skip and the
    reason a 30-day window shows phantom weekday effects. χ² =
    Σ (O_d − N·c_d/D)² / (N·c_d/D) in cross-multiplied form, the
    scan-me-first number (≫ 14.07 = χ²₆ at 5% ⇒ real weekly cycle —
    and then q_e_autocorr's ρ₇ should agree). The calendar companion
    to the ACF's lag-7 spike.

    Exactness: every count is BIGINT; each χ² term is one IEEE
    expression over exact integers, 6-dp-rounded, and the 7-term
    total rides the exact-decimal sum (repeated per row as the
    corpus constant, the q_e_neyman_alloc convention). Scale: one
    combinable day rollup → a 7-row frame; everything downstream is
    constant-size."""
    e = load_table(spark, sf_dir, "events")
    days = e.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    dow = days.groupBy(
        (F.weekday(F.col("day")) + 1).cast("long").alias("dow")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("x").cast("long").alias("n_events"),
    )
    tot = dow.agg(
        F.sum("n_days").cast("long").alias("d"),
        F.sum("n_events").cast("long").alias("n"),
    )
    dev = (F.col("n_events") * F.col("d") - F.col("n") * F.col("n_days")).cast(
        "double"
    )
    terms = dow.join(F.broadcast(tot)).select(
        "dow",
        "n_days",
        "n_events",
        "d",
        "n",
        F.round(
            dev
            * (F.col("n_events") * F.col("d") - F.col("n") * F.col("n_days"))
            / (
                F.col("d").cast("double")
                * F.col("n")
                * F.col("n_days")
            ),
            6,
        ).alias("term6"),
    )
    chi2 = terms.agg(F.round(F.expr(dsum("term6")), 6).alias("chi2_6"))
    return (
        terms.join(F.broadcast(chi2))
        .select(
            "dow",
            "n_days",
            "n_events",
            F.expr("CAST(n_events * 1000000 DIV n AS BIGINT)").alias(
                "share_ppm"
            ),
            F.expr("CAST(n_days * 1000000 DIV d AS BIGINT)").alias(
                "exp_share_ppm"
            ),
            "chi2_6",
        )
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# q_e_ewma_chart (round 8)
# ---------------------------------------------------------------------------

# Identical SQL text for BOTH engines (the q_b_recursive_cte
# convention — parity is definitional): an EWMA is a genuine
# recurrence, and WITH RECURSIVE is its exact SQL spelling. Per-step
# round(·, 6) pins the float path: every E_t is re-quantized before
# feeding E_{t+1}, so both engines walk the identical 6-dp lattice.
_EWMA_SQL = """
    WITH RECURSIVE days AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS d,
             CAST(SUM(x) AS BIGINT) AS s,
             CAST(SUM(x * x) AS BIGINT) AS q
      FROM days
    ),
    z AS (
      SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, day,
             floor(CAST(x * m.d - m.s AS DOUBLE)
                   / sqrt(CAST(m.q * m.d - m.s * m.s AS DOUBLE))
                   * 1000000.0 + 0.5) / 1000000.0 AS z6
      FROM days CROSS JOIN mom m
    ),
    ew(i, day, z6, ewma6) AS (
      SELECT i, day, z6, floor(0.2 * z6 * 1000000.0 + 0.5) / 1000000.0
      FROM z WHERE i = 1
      UNION ALL
      SELECT z.i, z.day, z.z6,
             floor((0.2 * z.z6 + 0.8 * ew.ewma6) * 1000000.0 + 0.5)
             / 1000000.0
      FROM ew JOIN z ON z.i = ew.i + 1
    )
    SELECT day, z6, ewma6, abs(ewma6) > 1.0 AS alarm
    FROM ew ORDER BY day
"""


@query("q_e_ewma_chart", oracle=_EWMA_SQL)
def q_e_ewma_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart over the daily event volume (round 8):
    E_t = \u03bb\u00b7z_t + (1\u2212\u03bb)\u00b7E_{t\u22121} with \u03bb = 0.2 \u2014 the third classic SPC
    chart completing the family: Shewhart-style z (single-day
    spikes), CUSUM (accumulated small shifts, q_e_cusum_drift), EWMA
    (exponentially-weighted drift \u2014 the one tuned for SLOW sustained
    creep that CUSUM's allowance k eats and a spike test never sees).
    Alarm at the asymptotic \u00b1L\u00b7\u03c3_EWMA limit: L = 3, \u03c3_EWMA =
    \u221a(\u03bb/(2\u2212\u03bb)) = 1/3, so the threshold is EXACTLY |E_t| > 1.0 \u2014
    chosen so the bound needs no pow() at query time.

    Execution split (the q_e_bt_strength precedent): the corpus
    collapses engine-side to the bounded day-domain z panel
    (combinable rollup + one IEEE division per day), and the
    recurrence itself \u2014 inherently sequential, corpus-size-INDEPENDENT
    (\u2264 |day domain| steps) \u2014 folds driver-side with per-step 6-dp
    re-rounding. The WITH RECURSIVE spelling is kept as the ORACLE
    (DuckDB runs the identical recurrence in ms); engine-side
    recursion was measured and REJECTED: Spark 4.1's UnionLoop
    re-plans a join per step \u2014 22 s for 30 steps at any SF, the
    worst query in the battery for a 30-number fold. Determinism:
    both sides quantize every E_t to the same 6-dp lattice, so the
    driver fold and DuckDB's recursion walk identical values."""
    e = load_table(spark, sf_dir, "events")
    days = e.groupBy(
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    mom = days.agg(
        F.count(F.lit(1)).cast("long").alias("d"),
        F.sum("x").cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("q"),
    )
    z = (
        days.join(F.broadcast(mom))
        .select(
            "day",
            (
                F.floor(
                    (F.col("x") * F.col("d") - F.col("s")).cast("double")
                    / F.sqrt(
                        (
                            F.col("q") * F.col("d") - F.col("s") * F.col("s")
                        ).cast("double")
                    )
                    * 1000000.0
                    + 0.5
                )
                / 1000000.0
            ).alias("z6"),
        )
        .orderBy("day")
    )
    # bounded day-domain panel (\u2264 |distinct days| rows, corpus-size-
    # independent) \u2014 the ONLY driver materialization, per the
    # bounded-panel convention
    panel = z.collect()
    ew = 0.0
    rows = []
    for i, r in enumerate(panel):
        ew = py_q6(0.2 * r.z6 + (0.8 * ew if i else 0.0))
        rows.append((r.day, r.z6, ew, abs(ew) > 1.0))
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("day", T.DateType()),
            T.StructField("z6", T.DoubleType()),
            T.StructField("ewma6", T.DoubleType()),
            T.StructField("alarm", T.BooleanType()),
        ]
    )
    return local_frame(spark, rows, schema).orderBy("day")


# ---------------------------------------------------------------------------
# q_e_holt_trend (round 8)
# ---------------------------------------------------------------------------

# Holt's linear (double-exponential) smoothing, alpha=0.3 beta=0.1,
# L_1 = x_1, T_1 = 0; the WITH RECURSIVE text is the DuckDB oracle
# (the q_e_ewma_chart execution-split precedent — Spark's UnionLoop
# costs ~0.7 s/iteration, so the bounded day panel folds driver-side).
_HOLT_SQL = """
    WITH RECURSIVE days AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    z AS (
      SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, day, x FROM days
    ),
    h(i, day, x, lvl, trd, fcst) AS (
      SELECT i, day, x, CAST(x AS DOUBLE), CAST(0 AS DOUBLE),
             CAST(NULL AS DOUBLE)
      FROM z WHERE i = 1
      UNION ALL
      SELECT z.i, z.day, z.x,
             floor((0.3 * z.x + 0.7 * (h.lvl + h.trd)) * 1000000.0 + 0.5)
             / 1000000.0,
             floor((0.1 * (floor((0.3 * z.x + 0.7 * (h.lvl + h.trd))
                                 * 1000000.0 + 0.5) / 1000000.0
                           - h.lvl) + 0.9 * h.trd) * 1000000.0 + 0.5)
             / 1000000.0,
             floor((h.lvl + h.trd) * 1000000.0 + 0.5) / 1000000.0
      FROM h JOIN z ON z.i = h.i + 1
    )
    SELECT day, x AS n_events, lvl AS level6, trd AS trend6,
           fcst AS fcst6,
           floor(abs(x - fcst) * 1000000.0 + 0.5) / 1000000.0 AS abs_err6
    FROM h ORDER BY day
"""


@query("q_e_holt_trend", oracle=_HOLT_SQL)
def q_e_holt_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double-exponential) smoothing over the daily
    event volume (round 8): level + trend recurrences (α = 0.3,
    β = 0.1) with the one-step-ahead forecast and its backtest error
    per day — the FORECAST op that completes the volume-monitoring
    suite: CUSUM/EWMA say the level moved, Mann–Kendall/Theil–Sen
    certify and size the trend, Holt turns it into tomorrow's
    capacity number (the last row's level + h·trend is the h-day-out
    plan). A crawl scheduler reads abs_err6's tail to decide whether
    the forecast is trustworthy before provisioning on it.

    Execution split (q_e_ewma_chart precedent, A/B'd there): the
    corpus collapses engine-side to the bounded day panel; the
    inherently-sequential two-state recurrence folds driver-side
    with per-step 6-dp re-rounding; the identical recurrence is the
    DuckDB oracle as WITH RECURSIVE (ms there). Both engines walk
    the same 6-dp lattice, so parity is exact including the NULL
    first-day forecast."""
    e = load_table(spark, sf_dir, "events")
    days = (
        e.groupBy(F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        .orderBy("day")
    )
    panel = days.collect()
    rows = []
    lvl, trd = None, None
    for i, r in enumerate(panel):
        if i == 0:
            lvl, trd, fcst = float(r.x), 0.0, None
        else:
            fcst = py_q6(lvl + trd)
            new_lvl = py_q6(0.3 * r.x + 0.7 * (lvl + trd))
            trd = py_q6(0.1 * (new_lvl - lvl) + 0.9 * trd)
            lvl = new_lvl
        rows.append(
            (
                r.day,
                r.x,
                lvl,
                trd,
                fcst,
                py_q6(abs(r.x - fcst)) if fcst is not None else None,
            )
        )
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("day", T.DateType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("level6", T.DoubleType()),
            T.StructField("trend6", T.DoubleType()),
            T.StructField("fcst6", T.DoubleType()),
            T.StructField("abs_err6", T.DoubleType()),
        ]
    )
    return local_frame(spark, rows, schema).orderBy("day")


# ---------------------------------------------------------------------------
# q_e_holt_winters (round 8)
# ---------------------------------------------------------------------------

# Additive Holt–Winters, weekly season m=7, alpha=0.3 beta=0.1
# gamma=0.2. Init on days 1–7 (L = their mean, T = 0, s_i = x_i − L);
# the recurrence walks days 8+. The WITH RECURSIVE state row carries
# the 7-slot seasonal queue (q1 = next slot to use) and rotates it
# each step — the standard trick for lag-m references, which a
# recursive CTE (previous row only) cannot otherwise reach.


def _hw_sql() -> str:
    new_lvl = q6(x="0.3 * (z.x - h.q1) + 0.7 * (h.lvl + h.trd)")
    return f"""
    WITH RECURSIVE days AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1
    ),
    z AS (
      SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, day, x FROM days
    ),
    init AS (
      SELECT {q6(x="SUM(CASE WHEN i <= 7 THEN CAST(x AS DOUBLE) END) / 7")}
               AS l0
      FROM z
    ),
    h(i, day, x, lvl, trd, s_used, fcst,
      q1, q2, q3, q4, q5, q6, q7) AS (
      SELECT 7, CAST(NULL AS DATE), CAST(NULL AS BIGINT),
             init.l0, CAST(0 AS DOUBLE),
             CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
             {q6(x="s1.x - init.l0")}, {q6(x="s2.x - init.l0")},
             {q6(x="s3.x - init.l0")}, {q6(x="s4.x - init.l0")},
             {q6(x="s5.x - init.l0")}, {q6(x="s6.x - init.l0")},
             {q6(x="s7.x - init.l0")}
      FROM init
      JOIN z s1 ON s1.i = 1 JOIN z s2 ON s2.i = 2 JOIN z s3 ON s3.i = 3
      JOIN z s4 ON s4.i = 4 JOIN z s5 ON s5.i = 5 JOIN z s6 ON s6.i = 6
      JOIN z s7 ON s7.i = 7
      UNION ALL
      SELECT z.i, z.day, z.x,
             {new_lvl},
             {q6(x=f"0.1 * (({new_lvl}) - h.lvl) + 0.9 * h.trd")},
             h.q1,
             {q6(x="h.lvl + h.trd + h.q1")},
             h.q2, h.q3, h.q4, h.q5, h.q6, h.q7,
             {q6(x=f"0.2 * (z.x - ({new_lvl})) + 0.8 * h.q1")}
      FROM h JOIN z ON z.i = h.i + 1
    )
    SELECT day, x AS n_events, lvl AS level6, trd AS trend6,
           s_used AS season6, fcst AS fcst6,
           {q6(x="abs(x - fcst)")} AS abs_err6
    FROM h WHERE i >= 8 ORDER BY day
"""


@query("q_e_holt_winters", oracle=_hw_sql())
def q_e_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt–Winters forecast over the daily event volume
    (round 8): level + trend + weekly seasonal recurrences (α = 0.3,
    β = 0.1, γ = 0.2, m = 7) with the one-step-ahead forecast and
    backtest error per day — the seasonal completion of the forecast
    family: q_e_holt_trend projects the trend, this op also absorbs
    the day-of-week cycle q_e_seasonality certifies, so the residual
    tail of abs_err6 is what remains after level, drift, AND cycle
    are modeled. Init: L = mean of the first season, T = 0,
    sᵢ = xᵢ − L; days 8+ walk the recurrence.

    Execution split (q_e_ewma_chart precedent): the corpus collapses
    engine-side to the bounded day panel; the inherently-sequential
    three-state recurrence folds driver-side on the shared 6-dp
    half-up lattice (registry.py_q6). The DuckDB oracle is the identical
    recurrence as WITH RECURSIVE whose state row carries the 7-slot
    seasonal queue and rotates it each step — the lag-m access a
    previous-row-only recursive CTE cannot express otherwise."""
    e = load_table(spark, sf_dir, "events")
    days = (
        e.groupBy(F.to_date(F.date_trunc("day", F.col("ts"))).alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        .orderBy("day")
    )
    panel = days.collect()
    rows = []
    if len(panel) >= 8:
        lvl = py_q6(sum(float(r.x) for r in panel[:7]) / 7.0)
        trd = 0.0
        queue = [py_q6(float(r.x) - lvl) for r in panel[:7]]
        for r in panel[7:]:
            s_used = queue.pop(0)
            fcst = py_q6(lvl + trd + s_used)
            new_lvl = py_q6(0.3 * (r.x - s_used) + 0.7 * (lvl + trd))
            trd = py_q6(0.1 * (new_lvl - lvl) + 0.9 * trd)
            queue.append(py_q6(0.2 * (r.x - new_lvl) + 0.8 * s_used))
            lvl = new_lvl
            rows.append(
                (r.day, r.x, lvl, trd, s_used, fcst,
                 py_q6(abs(r.x - fcst)))
            )
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("day", T.DateType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("level6", T.DoubleType()),
            T.StructField("trend6", T.DoubleType()),
            T.StructField("season6", T.DoubleType()),
            T.StructField("fcst6", T.DoubleType()),
            T.StructField("abs_err6", T.DoubleType()),
        ]
    )
    return local_frame(spark, rows, schema).orderBy("day")
