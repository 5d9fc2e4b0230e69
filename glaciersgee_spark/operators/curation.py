"""Group E — corpus-curation extensions (round 2).

Four more LLM-training-pipeline stages over the documents corpus:

* ``q_e_ppl_buckets``   — CCNet-style per-language head/middle/tail
  bucketing by unigram-LM score (the "perplexity buckets" curation
  split of Wenzek et al., CCNet).
* ``q_e_vocab_coverage`` — out-of-vocabulary rate per doc against the
  corpus top-K vocabulary, rolled up per (lang, source) — the
  tokenizer-coverage audit run before training.
* ``q_e_quality_classifier`` — fixed-weight linear model + sigmoid
  over engineered doc features (the fastText-quality-classifier shape
  of GPT-3/LLaMA pipelines, with literal weights instead of a model
  file).
* ``q_e_window_dedup`` — exact substring-duplication detection at
  rolling-8-token-window granularity (the scalable relaxation of
  suffix-array substring dedup, Lee et al. 2021: a window hash seen
  in ≥2 distinct docs marks both as sharing a verbatim span).

Reference parity: the reference checkout is empty (SURVEY.md §0);
these are driver-mandated LLM-pipeline extensions (BASELINE.json:6),
not reference ports. All four are pure built-in-function pipelines —
no Python UDFs — so the hot paths stay in whole-stage codegen.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from glaciersgee_spark.caches import scoped_persist, scoped_value
from glaciersgee_spark.registry import davg, dsum, py_q6, q6, query
from glaciersgee_spark.tables import chunked_prefix, fan_out, load_table, local_frame

# ---------------------------------------------------------------------------
# q_e_ppl_buckets
# ---------------------------------------------------------------------------

# Shared unigram-LM CTE chain (same spellings as q_e_ngram_lm's oracle:
# ln rounded at 6 dp, exact-decimal per-doc mean) so the two queries
# stay literally parallel.
_LM_CTES = f"""toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    cnt AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY token),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM toks),
    lm AS (
      SELECT doc_id, {davg('round(ln(CAST(c AS DOUBLE) / t), 6)')} AS avg_logp
      FROM toks JOIN cnt USING (token) CROSS JOIN tot
      GROUP BY doc_id
    )"""


@query(
    "q_e_ppl_buckets",
    oracle=f"""
    WITH {_LM_CTES},
    ranked AS (
      SELECT d.lang, lm.avg_logp,
             NTILE(3) OVER (PARTITION BY d.lang
                            ORDER BY lm.avg_logp DESC, lm.doc_id ASC) AS tile
      FROM lm JOIN documents d USING (doc_id)
    )
    SELECT lang,
           CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
             AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MIN(avg_logp) AS lo_logp,
           MAX(avg_logp) AS hi_logp
    FROM ranked GROUP BY 1, 2
    """,
)
def q_e_ppl_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing: rank every doc inside its
    language by unigram-LM score (best = least perplexing first) and
    cut each language into head/middle/tail thirds — the standard
    quality-stratified curation split.

    NTILE(3) with a (score DESC, doc_id ASC) order is deterministic
    and identical across engines. The LM score reuses q_e_ngram_lm's
    exact-decimal spelling, so scores are bit-identical too. Shape at
    100 TB: wordcount (map-side combinable) + broadcast vocab join +
    one per-language window — the window's partition key is `lang`
    (bounded cardinality), so each partition sorts independently; no
    global sort.
    """
    from glaciersgee_spark.operators.text import lm_scores

    d = load_table(spark, sf_dir, "documents")
    # The LM score is the SAME persisted frame q_e_ngram_lm consumes
    # (text.lm_scores) — one corpus pays the token explode + vocab
    # count + per-doc exact-decimal mean once per session.
    lm = lm_scores(spark, sf_dir).select("doc_id", "avg_logp")
    w = Window.partitionBy("lang").orderBy(
        F.col("avg_logp").desc(), F.col("doc_id").asc()
    )
    ranked = lm.join(d.select("doc_id", "lang"), "doc_id").withColumn(
        "tile", F.ntile(3).over(w)
    )
    bucket = (
        F.when(F.col("tile") == 1, "head")
        .when(F.col("tile") == 2, "middle")
        .otherwise("tail")
    )
    return (
        ranked.select("lang", bucket.alias("bucket"), "avg_logp")
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("avg_logp").alias("lo_logp"),
            F.max("avg_logp").alias("hi_logp"),
        )
    )


# ---------------------------------------------------------------------------
# q_e_vocab_coverage
# ---------------------------------------------------------------------------

VOCAB_K = 16  # corpus vocabulary is 31 tokens (measured) → real OOV mass
OOV_HI = 0.4


@query(
    "q_e_vocab_coverage",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, source,
             unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    vocab AS (
      SELECT token FROM (
        SELECT token, COUNT(*) AS n FROM toks GROUP BY token
        ORDER BY n DESC, token ASC LIMIT {VOCAB_K}
      )
    ),
    per_doc AS (
      SELECT doc_id, lang, source,
             COUNT(*) AS n_tok,
             COUNT(*) FILTER (WHERE v.token IS NULL) AS n_oov,
             round(CAST(COUNT(*) FILTER (WHERE v.token IS NULL) AS DOUBLE)
                   / COUNT(*), 6) AS oov_rate
      FROM toks t LEFT JOIN vocab v ON t.token = v.token
      GROUP BY doc_id, lang, source
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {davg('oov_rate')} AS avg_oov_rate,
           CAST(COUNT(*) FILTER (WHERE oov_rate > {OOV_HI}) AS BIGINT)
             AS n_high_oov
    FROM per_doc GROUP BY lang, source
    """,
)
def q_e_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage audit: OOV rate of every doc against the
    corpus top-K vocabulary, rolled up per (lang, source) with the
    count of high-OOV docs — run before training to catch sources the
    tokenizer would shred into bytes.

    The vocabulary is a top-K aggregate (map-side combinable word
    count, then a K-row sort) broadcast back against the token stream;
    the per-doc and per-group rollups are both partial-aggregatable.
    Nothing here depends on corpus size except the two wordcount
    shuffles — the 100 TB plan is the same plan.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", "source", F.explode(F.split("text", " ")).alias("token")
    )
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(VOCAB_K)
        .select("token", F.lit(True).alias("in_vocab"))
    )
    per_doc = (
        toks.join(F.broadcast(vocab), "token", "left")
        .groupBy("doc_id", "lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.count(F.when(F.col("in_vocab").isNull(), 1)).alias("n_oov"),
        )
        .withColumn(
            "oov_rate", F.round(F.col("n_oov").cast("double") / F.col("n_tok"), 6)
        )
    )
    return per_doc.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr(davg("oov_rate")).alias("avg_oov_rate"),
        F.count(F.when(F.col("oov_rate") > OOV_HI, 1)).cast("long").alias("n_high_oov"),
    )


# ---------------------------------------------------------------------------
# q_e_quality_classifier
# ---------------------------------------------------------------------------

# Fixed literal weights (a real pipeline loads a trained fastText /
# logistic model; the engine shape — scan-side feature engineering +
# linear score + sigmoid, zero shuffles — is identical).
_W0, _W_LEN, _W_DISTINCT, _W_STOP, _W_TOKLEN = -2.0, 0.9, 2.2, 1.8, 0.4
_CLS_STOPWORDS = ("the", "a", "of", "and", "to", "in")
_STOP_IN = ", ".join(f"'{s}'" for s in _CLS_STOPWORDS)


def _quality_features(spark: SparkSession, sf_dir: str, *keep: str) -> DataFrame:
    """(*keep, n_tokens, distinct_ratio, stop_ratio, avg_token_len): the
    quality classifier's per-doc features over space-split tokens —
    the one Spark spelling of every oracle's ``feat`` CTE."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_tok = F.size(words)
    stop_arr = F.array(*[F.lit(s) for s in _CLS_STOPWORDS])
    return d.select(
        *keep,
        n_tok.cast("long").alias("n_tokens"),
        (F.size(F.array_distinct(words)).cast("double") / n_tok).alias(
            "distinct_ratio"
        ),
        (
            F.size(F.filter(words, lambda x: F.array_contains(stop_arr, x))).cast(
                "double"
            )
            / n_tok
        ).alias("stop_ratio"),
        ((F.col("n_chars") - (n_tok - 1)).cast("double") / n_tok).alias(
            "avg_token_len"
        ),
    )


def _d_quality_features(*keep: str, name: str = "feat") -> str:
    """{name} (*keep, n_tokens, distinct_ratio, stop_ratio,
    avg_token_len): the DuckDB mirror of _quality_features."""
    cols = "".join(f"{k}, " for k in keep)
    return f"""{name} AS (
      SELECT {cols}CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS distinct_ratio,
             CAST(len(list_filter(string_split(text, ' '),
                                  x -> x IN ({_STOP_IN}))) AS DOUBLE)
               / len(string_split(text, ' ')) AS stop_ratio,
             CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
               / len(string_split(text, ' ')) AS avg_token_len
      FROM documents
    )"""


# The DuckDB mirror of _quality_logit, over _d_quality_features' columns.
_D_QUALITY_LOGIT = (
    f"round({_W0} + {_W_LEN} * (CAST(n_tokens AS DOUBLE) / 100.0)"
    f" + {_W_DISTINCT} * distinct_ratio + {_W_STOP} * stop_ratio"
    f" + {_W_TOKLEN} * (avg_token_len / 10.0), 6)"
)


def _quality_logit():
    """The fixed-weight logit over _quality_features' columns, rounded
    at 6 dp before any sigmoid (SURVEY.md §7.4)."""
    return F.round(
        F.lit(_W0)
        + F.lit(_W_LEN) * (F.col("n_tokens").cast("double") / 100.0)
        + F.lit(_W_DISTINCT) * F.col("distinct_ratio")
        + F.lit(_W_STOP) * F.col("stop_ratio")
        + F.lit(_W_TOKLEN) * (F.col("avg_token_len") / 10.0),
        6,
    )


def _quality_gold():
    """The gopher-lite gold label (1/0) over _quality_features' columns:
    length band, mean-token-length band and stopword floor."""
    return (
        F.col("n_tokens").between(10, 5000)
        & F.col("avg_token_len").between(2.5, 10.0)
        & (F.col("stop_ratio") >= 0.02)
    ).cast("int")


def _quality_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(score, gold): every doc's 6-dp sigmoid quality score next to
    its gold label — the frame the calibration audits bin and rank."""
    feat = _quality_features(spark, sf_dir)
    return feat.select(
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-_quality_logit())), 6).alias(
            "score"
        ),
        _quality_gold().alias("gold"),
    )


@query(
    "q_e_quality_classifier",
    oracle=f"""
    WITH {_d_quality_features('doc_id')},
    scored AS (
      SELECT doc_id, n_tokens, distinct_ratio, stop_ratio,
             {_D_QUALITY_LOGIT} AS logit
      FROM feat
    )
    SELECT doc_id, n_tokens, distinct_ratio, stop_ratio, logit,
           round(1.0 / (1.0 + exp(-logit)), 6) AS score,
           round(1.0 / (1.0 + exp(-logit)), 6) >= 0.5 AS keep
    FROM scored
    """,
)
def q_e_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: engineered per-doc features →
    fixed-weight logistic score → keep verdict (the quality-classifier
    stage of GPT-3/LLaMA-style pipelines, weights as literals).

    Pure scan-side codegen expressions, zero shuffles — per-doc work
    is O(doc length) and embarrassingly parallel at any scale. The
    logit is rounded at 6 dp before the sigmoid (and the sigmoid
    re-rounded) per the cross-engine libm contract of SURVEY.md §7.4.
    """
    feat = _quality_features(spark, sf_dir, "doc_id")
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("logit"))), 6)
    return (
        feat.withColumn("logit", _quality_logit())
        .select(
            "doc_id",
            "n_tokens",
            "distinct_ratio",
            "stop_ratio",
            "logit",
            score.alias("score"),
            (score >= 0.5).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# q_e_window_dedup
# ---------------------------------------------------------------------------

WIN_TOKENS = 8
WIN_DUP_FRAC = 0.2


@query(
    "q_e_window_dedup",
    oracle=f"""
    WITH wins AS (
      SELECT doc_id,
             unnest(list_transform(
               range(1, len(string_split(text, ' ')) - {WIN_TOKENS - 2}),
               i -> md5(array_to_string(
                      list_slice(string_split(text, ' '), i, i + {WIN_TOKENS - 1}),
                      ' ')))) AS wh
      FROM documents
      WHERE len(string_split(text, ' ')) >= {WIN_TOKENS}
    ),
    shared AS (
      SELECT wh FROM wins GROUP BY wh HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(COUNT(*) FILTER (WHERE s.wh IS NOT NULL) AS BIGINT)
             AS n_dup_windows,
           round(CAST(COUNT(*) FILTER (WHERE s.wh IS NOT NULL) AS DOUBLE)
                 / COUNT(*), 6) AS dup_frac,
           round(CAST(COUNT(*) FILTER (WHERE s.wh IS NOT NULL) AS DOUBLE)
                 / COUNT(*), 6) >= {WIN_DUP_FRAC} AS flagged
    FROM wins w LEFT JOIN shared s ON w.wh = s.wh
    GROUP BY doc_id
    """,
)
def q_e_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-duplication audit at rolling-window granularity
    — the scalable relaxation of suffix-array substring dedup (Lee et
    al. 2021, "Deduplicating Training Data Makes Language Models
    Better"): hash every 8-token window, find hashes seen in ≥2
    distinct docs, report each doc's duplicated-window fraction.

    Scale shape: window expansion is a scan-side higher-order
    expression (≈ L windows per doc, no shuffle); the shared-window
    set is ONE map-side-combinable count-distinct aggregate — never a
    pair join, so a pathological window shared by a million docs costs
    one counter, not 10¹² candidate pairs. The shared set (≪ corpus)
    broadcasts back against the window stream.
    """
    d = load_table(spark, sf_dir, "documents")
    # fan_out: the md5 window expansion is the heavy scan-side step and
    # the local corpus scan is one partition — spreading it is a 2.1×
    # win measured; a no-op on a real many-file scan. (Persisting the
    # window stream instead was measured neutral: both consumers'
    # expansions are cheap once parallel.)
    tk = fan_out(
        d.select("doc_id", F.split("text", " ").alias("tk")).where(
            F.size("tk") >= WIN_TOKENS
        ),
        "doc_id",
    )
    wins = tk.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(tk) - {WIN_TOKENS - 1}), "
                f"i -> md5(array_join(slice(tk, i, {WIN_TOKENS}), ' ')))"
            )
        ).alias("wh"),
    )
    shared = (
        wins.groupBy("wh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("wh", F.lit(True).alias("is_shared"))
    )
    per_doc = (
        wins.join(F.broadcast(shared), "wh", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.count(F.when(F.col("is_shared"), 1)).alias("n_dup_windows"),
        )
    )
    frac = F.round(
        F.col("n_dup_windows").cast("double") / F.col("n_windows"), 6
    )
    return per_doc.select(
        "doc_id",
        "n_windows",
        "n_dup_windows",
        frac.alias("dup_frac"),
        (frac >= WIN_DUP_FRAC).alias("flagged"),
    )


# ---------------------------------------------------------------------------
# q_e_pack_efficiency
# ---------------------------------------------------------------------------

PACK_BLOCK = 128  # context-window block size in tokens


@query(
    "q_e_pack_efficiency",
    oracle=f"""
    WITH per_doc AS (
      SELECT lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             CAST(floor((len(string_split(text, ' ')) + {PACK_BLOCK - 1})
                        / {PACK_BLOCK}.0) AS BIGINT) AS padded_blocks
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
           CAST(SUM(padded_blocks) AS BIGINT) AS padded_blocks,
           CAST(floor((SUM(n_tok) + {PACK_BLOCK - 1}) / {PACK_BLOCK}.0)
                AS BIGINT) AS packed_blocks,
           round(CAST(SUM(padded_blocks) * {PACK_BLOCK} - SUM(n_tok) AS DOUBLE)
                 / (SUM(padded_blocks) * {PACK_BLOCK}), 6) AS pad_waste_frac,
           round(1.0 - CAST(floor((SUM(n_tok) + {PACK_BLOCK - 1})
                                  / {PACK_BLOCK}.0) AS DOUBLE)
                       / SUM(padded_blocks), 6) AS packing_gain_frac
    FROM per_doc GROUP BY lang
    """,
)
def q_e_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing efficiency audit: per language, the padding
    waste of one-doc-per-context batching (every doc rounded up to a
    128-token block) versus the ideal dense packing q_e_seq_pack
    implements — the number that justifies running a packer at all
    (typical corpora waste 30-60% of tokens as padding unpacked).

    Pure integer arithmetic end to end (counts, ceilings, block sums)
    with single final divisions, so results are exact across engines.
    One map-side-combinable rollup over a scan-side projection; the
    100 TB plan is the same plan.
    """
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " ")).cast("long")
    per_doc = d.select(
        "lang",
        n_tok.alias("n_tok"),
        F.floor((n_tok + (PACK_BLOCK - 1)) / float(PACK_BLOCK))
        .cast("long")
        .alias("padded_blocks"),
    )
    g = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("sum_tokens"),
        F.sum("padded_blocks").alias("padded_blocks"),
    )
    packed = (
        F.floor((F.col("sum_tokens") + (PACK_BLOCK - 1)) / float(PACK_BLOCK))
        .cast("long")
    )
    return g.select(
        "lang",
        "n_docs",
        "sum_tokens",
        "padded_blocks",
        packed.alias("packed_blocks"),
        F.round(
            (F.col("padded_blocks") * PACK_BLOCK - F.col("sum_tokens")).cast("double")
            / (F.col("padded_blocks") * PACK_BLOCK),
            6,
        ).alias("pad_waste_frac"),
        F.round(F.lit(1.0) - packed.cast("double") / F.col("padded_blocks"), 6).alias(
            "packing_gain_frac"
        ),
    )


# --- round-3 additions: character-entropy quality signal + Gopher-style
# multi-rule filter ----------------------------------------------------

# Counted alphabet for the character-entropy signal (the corpus is
# lowercase words + spaces; anything outside is simply not counted).
_ENT_ALPHABET = "abcdefghijklmnopqrstuvwxyz "


def _ent_cnt(ch: str) -> str:
    """Occurrences of one char via length delta — identical text in
    both dialects, whole-stage-codegen-able, no per-char explode (a
    char explode would replicate the text column 27x through a
    shuffle)."""
    return f"(length(text) - length(replace(text, '{ch}', '')))"


def _ent_term(i: int) -> str:
    """One -p*ln(p) term in integer micro-nats: 6-dp half-up BEFORE
    summation so the 27-term fold is exact integer math in both
    engines (float fold order differs between engines; ln() differs in
    the last ulp, absorbed by the rounding)."""
    p = f"(CAST(c_{i} AS DOUBLE) / tot)"
    return (
        f"CASE WHEN c_{i} > 0 THEN "
        f"CAST(floor(-({p}) * ln({p}) * 1000000 + 0.5) AS BIGINT) "
        f"ELSE 0 END"
    )


_ENT_CNTS = ",\n             ".join(
    f"{_ent_cnt(ch)} AS c_{i}" for i, ch in enumerate(_ENT_ALPHABET)
)
_ENT_TOT = " + ".join(f"c_{i}" for i in range(len(_ENT_ALPHABET)))
_ENT_H = " + ".join(_ent_term(i) for i in range(len(_ENT_ALPHABET)))


@query(
    "q_e_char_entropy",
    oracle=f"""
    WITH c AS (
      SELECT lang,
             {_ENT_CNTS}
      FROM documents
    ),
    t AS (SELECT lang, ({_ENT_TOT}) AS tot, * FROM c),
    h AS (SELECT lang, ({_ENT_H}) AS h_micro FROM t)
    SELECT lang,
           COUNT(*) AS n_docs,
           round(CAST(CAST(SUM(h_micro) AS BIGINT) AS DOUBLE)
                 / COUNT(*) / 1000000.0, 6) AS avg_entropy,
           round(CAST(MIN(h_micro) AS DOUBLE) / 1000000.0, 6) AS min_entropy,
           round(CAST(MAX(h_micro) AS DOUBLE) / 1000000.0, 6) AS max_entropy,
           COUNT(*) FILTER (WHERE h_micro < 2750000) AS n_low_entropy
    FROM h GROUP BY lang ORDER BY lang
    """,
)
def q_e_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution entropy per doc (Shannon, nats), rolled
    up per lang — the spam/gibberish signal character-level quality
    filters key on (low entropy = repeated characters/boilerplate,
    near-uniform = random noise).

    Single narrow projection per doc: 27 JVM-side replace() counts +
    an integer-micro-nat entropy fold — no explode, no UDF, no
    shuffle before the per-lang rollup. Entropy terms are rounded to
    6 dp half-up individually so both engines sum identical integers
    (ln's last-ulp wobble is absorbed; floor(x+0.5) avoids the
    round-tie divergence)."""
    d = load_table(spark, sf_dir, "documents")
    cnts = [
        F.expr(_ent_cnt(ch)).alias(f"c_{i}")
        for i, ch in enumerate(_ENT_ALPHABET)
    ]
    t = d.select("lang", *cnts).withColumn("tot", F.expr(_ENT_TOT))
    h = t.select("lang", F.expr(_ENT_H).alias("h_micro"))
    return (
        h.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(
                F.sum("h_micro").cast("double") / F.count(F.lit(1)) / 1000000.0, 6
            ).alias("avg_entropy"),
            F.round(F.min("h_micro").cast("double") / 1000000.0, 6).alias(
                "min_entropy"
            ),
            F.round(F.max("h_micro").cast("double") / 1000000.0, 6).alias(
                "max_entropy"
            ),
            F.count(F.when(F.col("h_micro") < 2_750_000, 1)).alias(
                "n_low_entropy"
            ),
        )
        .orderBy("lang")
    )


@query(
    "q_e_gopher_rules",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    tf AS (
      SELECT doc_id, source, tok, COUNT(*) AS c
      FROM toks GROUP BY doc_id, source, tok
    ),
    per AS (
      SELECT doc_id, source,
             SUM(c) AS n_tok,
             MAX(c) AS max_tok,
             SUM(CASE WHEN tok IN ('the', 'a') THEN c ELSE 0 END) AS stop_hits,
             SUM(len(tok) * c) AS n_alpha
      FROM tf GROUP BY doc_id, source
    ),
    r AS (
      SELECT source,
             n_tok BETWEEN 15 AND 80 AS r_len,
             (CAST(n_alpha AS DOUBLE) / n_tok) BETWEEN 3.0 AND 4.6 AS r_wordlen,
             (CAST(max_tok AS DOUBLE) / n_tok) <= 0.15 AS r_rep,
             stop_hits >= 2 AS r_stop
      FROM per
    )
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE r_len) AS pass_len,
           COUNT(*) FILTER (WHERE r_wordlen) AS pass_wordlen,
           COUNT(*) FILTER (WHERE r_rep) AS pass_rep,
           COUNT(*) FILTER (WHERE r_stop) AS pass_stop,
           COUNT(*) FILTER (WHERE r_len AND r_wordlen AND r_rep AND r_stop)
             AS pass_all,
           round(CAST(COUNT(*) FILTER (WHERE r_len AND r_wordlen AND r_rep
                                         AND r_stop) AS DOUBLE)
                 / COUNT(*), 6) AS pass_rate
    FROM r GROUP BY source ORDER BY source
    """,
)
def q_e_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/Dolma-style multi-rule document filter, reported as a
    per-source rule funnel: token-count bounds, mean-word-length
    bounds, most-frequent-token repetition cap, and minimum stopword
    hits — the composable rule battery (rather than one opaque score;
    q_e_quality_filter is the single-score variant).

    Shape: one (doc, token) count aggregation (map-side combinable —
    the same shuffle any TF computation pays), one per-doc rollup, one
    per-source rollup; rule evaluation is pure codegen arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "source", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    per = tf.groupBy("doc_id", "source").agg(
        F.sum("c").alias("n_tok"),
        F.max("c").alias("max_tok"),
        F.sum(
            F.when(F.col("tok").isin("the", "a"), F.col("c")).otherwise(0)
        ).alias("stop_hits"),
        F.sum(F.length("tok") * F.col("c")).alias("n_alpha"),
    )
    r = per.select(
        "source",
        F.col("n_tok").between(15, 80).alias("r_len"),
        (F.col("n_alpha").cast("double") / F.col("n_tok"))
        .between(3.0, 4.6)
        .alias("r_wordlen"),
        ((F.col("max_tok").cast("double") / F.col("n_tok")) <= 0.15).alias(
            "r_rep"
        ),
        (F.col("stop_hits") >= 2).alias("r_stop"),
    )
    all_pass = (
        F.col("r_len") & F.col("r_wordlen") & F.col("r_rep") & F.col("r_stop")
    )
    return (
        r.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("r_len"), 1)).alias("pass_len"),
            F.count(F.when(F.col("r_wordlen"), 1)).alias("pass_wordlen"),
            F.count(F.when(F.col("r_rep"), 1)).alias("pass_rep"),
            F.count(F.when(F.col("r_stop"), 1)).alias("pass_stop"),
            F.count(F.when(all_pass, 1)).alias("pass_all"),
            F.round(
                F.count(F.when(all_pass, 1)).cast("double") / F.count(F.lit(1)),
                6,
            ).alias("pass_rate"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q_e_weighted_sample (round 5)
# ---------------------------------------------------------------------------

_WS_N = 200  # systematic picks per corpus


@query(
    "q_e_weighted_sample",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, n_chars AS w,
             SUM(n_chars) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      FROM documents
    ),
    t AS (SELECT SUM(n_chars) AS wt FROM documents)
    SELECT doc_id, CAST(w AS BIGINT) AS weight,
           CAST((c * {_WS_N}) // wt - ((c - w) * {_WS_N}) // wt AS BIGINT)
             AS n_picks,
           CAST((c * {_WS_N}) // wt AS BIGINT) AS last_pick_idx
    FROM d, t
    WHERE (c * {_WS_N}) // wt > ((c - w) * {_WS_N}) // wt
    ORDER BY doc_id
    """,
)
def q_e_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic PPS (probability-proportional-to-size) sampling: the
    deterministic weighted-sampling stage a mixture pipeline uses to
    draw a fixed-size training subset where selection probability is
    proportional to document weight (here n_chars, the token-budget
    proxy). Doc i is picked when the cumulative-weight interval
    (C_{{i-1}}, C_i] crosses one of N equally-spaced thresholds
    j*W/N — pure integer arithmetic (selected iff
    floor(C_i*N/W) > floor(C_{{i-1}}*N/W)), so both engines agree
    bit-for-bit with no RNG and no float thresholds. Heavy docs that
    straddle several thresholds report multiplicity in n_picks — the
    with-replacement PPS semantics.

    Scale: the cumulative sum is `tables.chunked_prefix` (the
    q_b_sort spelling, relational.py:965), chunked by doc_id DIV 4096:
    ascending with the doc_id order, which has no ties, and the
    totals are |doc_ids|/4096 rows. C_i*N stays in BIGINT up to
    W ≈ 4.6e16 (100 TB of text ≈ 1e14 chars — within range; past that
    the multiply moves to DECIMAL(38,0) with this plan shape
    unchanged).
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").alias("w")
    )
    chunked = d.withColumn("ch", F.expr("doc_id div 4096"))
    wt = d.agg(F.sum("w").alias("wt"))
    cum = chunked_prefix(chunked, [], ["ch"], ["doc_id"], {"c": "w"}).crossJoin(
        F.broadcast(wt)
    )
    hi = F.expr(f"(c * {_WS_N}) div wt")
    lo = F.expr(f"((c - w) * {_WS_N}) div wt")
    return (
        cum.where(hi > lo)
        .select(
            "doc_id",
            F.col("w").alias("weight"),
            (hi - lo).alias("n_picks"),
            hi.alias("last_pick_idx"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q_e_dpo_pairs (round 5)
# ---------------------------------------------------------------------------

# Composite argmax encoding: score_ppm * 1e8 + doc_id packs (score, id)
# into one BIGINT so min/max are combinable single-pass aggregates with
# a deterministic id tie-break in BOTH engines (DuckDB arg_max leaves
# ties unspecified). Requires doc_id < 1e8 — asserted in the lint test;
# at larger id domains the encoding widens to DECIMAL(38,0) unchanged.
_DPO_ENC = 100_000_000
_DPO_MARGIN_PPM = 50_000  # ≥ 5-point distinct-ratio gap


@query(
    "q_e_dpo_pairs",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, lang, source,
             len(list_distinct(string_split(text, ' '))) * 1000000
               // len(string_split(text, ' ')) AS score_ppm
      FROM documents
    ),
    g AS (
      SELECT lang, source, COUNT(*) AS n_docs,
             MAX(score_ppm * {_DPO_ENC} + doc_id) AS ck,
             MIN(score_ppm * {_DPO_ENC} + doc_id) AS rk
      FROM s GROUP BY lang, source
    )
    SELECT lang, source, CAST(n_docs AS BIGINT) AS n_docs,
           CAST(ck % {_DPO_ENC} AS BIGINT) AS chosen_id,
           CAST(rk % {_DPO_ENC} AS BIGINT) AS rejected_id,
           CAST(ck // {_DPO_ENC} AS BIGINT) AS chosen_ppm,
           CAST(rk // {_DPO_ENC} AS BIGINT) AS rejected_ppm,
           CAST(ck // {_DPO_ENC} - rk // {_DPO_ENC} AS BIGINT) AS margin_ppm
    FROM g
    WHERE ck // {_DPO_ENC} - rk // {_DPO_ENC} >= {_DPO_MARGIN_PPM}
    ORDER BY lang, source
    """,
)
def q_e_dpo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair mining (the DPO/RLHF data-construction stage):
    within each (lang, source) prompt group, pair the highest-quality
    document (chosen) against the lowest (rejected), keeping groups
    whose quality margin clears a threshold — the contrastive-pair
    harvest run over a scored corpus before preference tuning.

    Quality is the integer distinct-token ratio in ppm (vocabulary
    richness — exact integer division, no float drift). The argmax and
    argmin are single-pass COMBINABLE aggregates via the composite
    encoding score_ppm*1e8+doc_id (map-side partials merge with plain
    MAX/MIN — no per-group window over the corpus, no skew: a group
    with 1e9 docs costs its scan plus one 8-byte partial per task).
    One shuffle of |groups| rows.
    """
    d = load_table(spark, sf_dir, "documents")
    tk = d.select(
        "doc_id",
        "lang",
        "source",
        F.split("text", " ").alias("tk"),
    )
    s = tk.select(
        "doc_id",
        "lang",
        "source",
        F.expr("size(array_distinct(tk)) * 1000000L div size(tk)").alias(
            "score_ppm"
        ),
    )
    enc = F.col("score_ppm") * _DPO_ENC + F.col("doc_id")
    g = s.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.max(enc).alias("ck"),
        F.min(enc).alias("rk"),
    )
    cd = F.col("ck") % _DPO_ENC
    rd = F.col("rk") % _DPO_ENC
    cp = F.expr(f"ck div {_DPO_ENC}")
    rp = F.expr(f"rk div {_DPO_ENC}")
    return (
        g.select(
            "lang",
            "source",
            "n_docs",
            cd.alias("chosen_id"),
            rd.alias("rejected_id"),
            cp.alias("chosen_ppm"),
            rp.alias("rejected_ppm"),
            (cp - rp).alias("margin_ppm"),
        )
        .where(F.col("margin_ppm") >= _DPO_MARGIN_PPM)
        .orderBy("lang", "source")
    )


# ---------------------------------------------------------------------------
# q_e_quality_calibration (round 5)
# ---------------------------------------------------------------------------

# Gopher-lite gold label (independent spelling from the classifier's
# logit so the diagram measures agreement between two signals, not a
# tautology): length band + mean-token-length band + stopword floor.
_CAL_GOLD_DUCK = (
    "n_tokens BETWEEN 10 AND 5000 AND avg_token_len BETWEEN 2.5 AND 10.0"
    " AND stop_ratio >= 0.02"
)


@query(
    "q_e_quality_calibration",
    oracle=f"""
    WITH {_d_quality_features('doc_id')},
    scored AS (
      SELECT doc_id,
             round(1.0 / (1.0 + exp(-{_D_QUALITY_LOGIT})), 6) AS score,
             CASE WHEN {_CAL_GOLD_DUCK} THEN 1 ELSE 0 END AS gold
      FROM feat
    ),
    binned AS (
      SELECT CAST(least(floor(score * 10), 9) AS BIGINT) AS bin, score, gold
      FROM scored
    ),
    bins AS (
      SELECT bin, COUNT(*) AS n_docs, SUM(gold) AS n_pos,
             round(CAST(SUM(CAST(score AS DECIMAL(30,6))) AS DOUBLE)
                   / COUNT(*), 6) AS mean_pred6,
             round(CAST(SUM(gold) AS DOUBLE) / COUNT(*), 6) AS frac_pos6
      FROM binned GROUP BY bin
    ),
    gaps AS (
      SELECT bin, n_docs, n_pos, mean_pred6, frac_pos6,
             round(abs(mean_pred6 - frac_pos6), 6) AS gap6
      FROM bins
    ),
    ece AS (
      SELECT round(CAST(SUM(CAST(n_docs * gap6 AS DECIMAL(30,6))) AS DOUBLE)
                   / SUM(n_docs), 6) AS ece6
      FROM gaps
    )
    SELECT g.bin, CAST(g.n_docs AS BIGINT) AS n_docs,
           CAST(g.n_pos AS BIGINT) AS n_pos,
           g.mean_pred6, g.frac_pos6, g.gap6, e.ece6
    FROM gaps g, ece e
    ORDER BY g.bin
    """,
)
def q_e_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram + expected calibration error (ECE) for the
    quality classifier: bucket predicted keep-probability into 10 bins
    and compare, per bin, the mean predicted score against the
    empirical rate of an INDEPENDENT gold heuristic (gopher-lite:
    length band, mean-token-length band, stopword floor). ECE is the
    doc-weighted mean |gap| — the one number a curation team watches
    before trusting classifier thresholds to delete 100 TB of data.

    Scale: score + gold are scan-side codegen expressions (zero
    Python); the diagram is ONE combinable groupBy over 10 bins (mean
    via exact decimal sums); ECE folds the 10-row bin table through a
    second 1-row aggregate broadcast back with a literal cross join —
    no window over the corpus, no driver collect. Same shape at any
    corpus size: per-task state is 10 bins × 3 partials.
    """
    binned = _quality_scored(spark, sf_dir).withColumn(
        "bin", F.least(F.floor(F.col("score") * 10), F.lit(9)).cast("long")
    )
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("gold").alias("n_pos"),
        F.round(
            F.sum(F.col("score").cast("decimal(30,6)")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("mean_pred6"),
        F.round(F.sum("gold").cast("double") / F.count(F.lit(1)), 6).alias(
            "frac_pos6"
        ),
    )
    gaps = bins.withColumn(
        "gap6", F.round(F.abs(F.col("mean_pred6") - F.col("frac_pos6")), 6)
    )
    ece = gaps.agg(
        F.round(
            F.sum((F.col("n_docs") * F.col("gap6")).cast("decimal(30,6)")).cast(
                "double"
            )
            / F.sum("n_docs"),
            6,
        ).alias("ece6")
    )
    return (
        gaps.crossJoin(F.broadcast(ece))
        .select("bin", "n_docs", "n_pos", "mean_pred6", "frac_pos6", "gap6", "ece6")
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# q_e_shard_assign (round 5)
# ---------------------------------------------------------------------------

_N_SHARDS = 16


@query(
    "q_e_shard_assign",
    oracle=f"""
    WITH s AS (
      SELECT CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % {_N_SHARDS} AS shard,
             n_chars
      FROM documents
    ),
    per AS (
      SELECT shard, COUNT(*) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM s GROUP BY shard
    )
    SELECT shard, n_docs, total_chars,
           CAST(floor(10000.0 * total_chars
                      / SUM(total_chars) OVER ()) AS BIGINT) AS share_bp
    FROM per ORDER BY shard
    """,
)
def q_e_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-shard assignment + balance audit
    (round 5): every document lands in one of 16 shards by
    content-stable md5 bucket (same idiom as q_e_train_split — the
    same doc gets the same shard on any engine, cluster, or rerun,
    which `repartition` cannot promise), and the audit reports each
    shard's doc count, byte mass, and share of the corpus in basis
    points — the number the packing job reads to know whether shard
    sizes are close enough for the data-parallel reader (a tail shard
    >> mean stalls every epoch boundary at training time).

    Scale: one narrow stage (hash + project) into a 16-row combinable
    aggregate; the share-of-total window runs over the 16-row frame,
    not the corpus. At 100 TB with 64 Ki shards the same plan holds —
    the audit frame is |shards| rows, driver-free throughout.
    """
    from glaciersgee_spark.operators.dedup import _doc_hash

    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy((_doc_hash() % _N_SHARDS).alias("shard")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    w = Window.partitionBy()
    return per.select(
        "shard",
        "n_docs",
        "total_chars",
        F.floor(
            10000.0 * F.col("total_chars") / F.sum("total_chars").over(w)
        ).alias("share_bp"),
    ).orderBy("shard")


# ---------------------------------------------------------------------------
# q_e_zscore_norm (round 5)
# ---------------------------------------------------------------------------


@query(
    "q_e_zscore_norm",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, source, round(ln(CAST(n_chars AS DOUBLE) + 1.0), 6) AS s6
      FROM documents
    ),
    stats AS (
      SELECT source,
             {davg('s6')} AS mu,
             {dsum('s6 * s6', 12, 38)} / COUNT(*) AS ex2,
             COUNT(*) AS n
      FROM scored GROUP BY source
    ),
    z AS (
      SELECT sc.source,
             CAST(greatest(-3, least(3, COALESCE(
               floor((sc.s6 - st.mu)
                     / NULLIF(sqrt(greatest(st.ex2 - st.mu * st.mu, 0)), 0)),
               0))) AS BIGINT) AS z_bin
      FROM scored sc JOIN stats st ON sc.source = st.source
    )
    SELECT source, z_bin, COUNT(*) AS n_docs
    FROM z GROUP BY source, z_bin ORDER BY source, z_bin
    """,
)
def q_e_zscore_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source score standardization (round 5): every curation
    pipeline that MIXES sources must put their quality scores on one
    scale first — a raw threshold keeps verbose sources and starves
    terse ones. Per source: mean and variance of the (log-length)
    score via exact-decimal sums, then each doc's z-score bucketed
    into integer bins clamped to [-3, 3]; output is the per-source
    z-histogram the mixing step thresholds against.

    Determinism: the per-row score is rounded at 6 dp (IEEE-identical
    in both engines); Σs and Σs² go through decimal so μ and E[s²] are
    bit-identical regardless of row order; σ, the division, and floor
    then operate on identical doubles — identical bins. A zero- (or
    round-off-negative-) variance source would diverge between the
    engines on the raw division (Spark ANSI throws DIVIDE_BY_ZERO,
    DuckDB yields ±inf/NaN), so the divisor is guarded identically in
    both spellings: variance clamped at 0, σ=0 NULLIF'd, and the NULL
    z coalesced to bin 0 — a constant-score source lands wholly in
    the center bin on both engines. Scale: two
    passes over the corpus (stats, then bucket) with a |sources|-row
    broadcast joining the stats back; both aggregates are map-side
    combinable, no window over corpus-sized input.
    """
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "source", F.round(F.log(F.col("n_chars") + F.lit(1.0)), 6).alias("s6")
    )
    stats = scored.groupBy("source").agg(
        F.expr(davg("s6")).alias("mu"),
        F.expr(f"{dsum('s6 * s6', 12, 38)} / COUNT(*)").alias("ex2"),
    )
    z_bin = (
        F.greatest(
            F.lit(-3),
            F.least(
                F.lit(3),
                F.coalesce(
                    F.floor(
                        (F.col("s6") - F.col("mu"))
                        / F.nullif(
                            F.sqrt(
                                F.greatest(
                                    F.col("ex2") - F.col("mu") * F.col("mu"),
                                    F.lit(0.0),
                                )
                            ),
                            F.lit(0.0),
                        )
                    ),
                    F.lit(0),
                ),
            ),
        )
    ).cast("long")
    return (
        scored.join(F.broadcast(stats), "source")
        .select("source", z_bin.alias("z_bin"))
        .groupBy("source", "z_bin")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "z_bin")
    )


# ---------------------------------------------------------------------------
# q_e_rank_corr (round 5)
# ---------------------------------------------------------------------------


@query(
    "q_e_rank_corr",
    oracle="""
    WITH f AS (
      SELECT doc_id, lang,
             n_chars AS sa,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS sb
      FROM documents
    ),
    r AS (
      SELECT lang,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY sa, doc_id)
               AS ra,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY sb, doc_id)
               AS rb
      FROM f
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM((ra - rb) * (ra - rb)) AS BIGINT) AS sum_d2,
           round(1.0 - 6.0 * SUM((ra - rb) * (ra - rb))
                 / (CAST(COUNT(*) AS DOUBLE) * COUNT(*) * COUNT(*)
                    - COUNT(*)), 6) AS rho6
    FROM r GROUP BY lang HAVING COUNT(*) >= 2 ORDER BY lang
    """,
)
def q_e_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank agreement between two quality signals (round 5):
    before a pipeline trusts a cheap proxy score (here char mass) as a
    stand-in for a costlier one (token count), it measures per-language
    rank correlation — ρ near 1 means the proxy preserves the ordering
    the threshold actually cuts on, and a low-ρ language is where
    proxy-based filtering silently diverges. ρ = 1 − 6Σd²/(n³−n) with
    d the per-doc rank difference.

    Determinism: both ranks are row_number over (integer score,
    doc_id) — no tie ambiguity in either engine; Σd² is exact BIGINT;
    the single closing division is IEEE on identical integers. Scale:
    both per-lang ranks are `tables.chunked_prefix` (a window partition
    is not AQE-splittable, so a naive per-lang window is the dominant
    language's full sort), chunked by a score bucket (score DIV 512 /
    DIV 128): ascending with the (score, doc_id) order, equal scores
    share a bucket, and the ≤ |langs|·|buckets| totals are bounded by
    the score domain. The two rank frames join on doc_id.
    """
    d = load_table(spark, sf_dir, "documents")
    f = d.select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("long").alias("sa"),
        F.size(F.split("text", " ")).cast("long").alias("sb"),
    )

    ra = chunked_prefix(
        f.withColumn("bch", F.expr("sa div 512")),
        ["lang"],
        ["bch"],
        ["sa", "doc_id"],
        {"ra": None},
    )
    rb = chunked_prefix(
        f.withColumn("bch", F.expr("sb div 128")),
        ["lang"],
        ["bch"],
        ["sb", "doc_id"],
        {"rb": None},
    )
    r = ra.join(rb.select("doc_id", "rb"), "doc_id").select("lang", "ra", "rb")
    d2 = (F.col("ra") - F.col("rb")) * (F.col("ra") - F.col("rb"))
    agg = r.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(d2).cast("long").alias("sum_d2"),
    )
    n = F.col("n_docs").cast("double")
    return (
        agg.where(F.col("n_docs") >= 2)
        .select(
            "lang",
            "n_docs",
            "sum_d2",
            F.round(
                F.lit(1.0) - 6.0 * F.col("sum_d2") / (n * n * n - F.col("n_docs")),
                6,
            ).alias("rho6"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q_e_length_gate (round 5)
# ---------------------------------------------------------------------------


@query(
    "q_e_length_gate",
    oracle="""
    WITH st AS (
      SELECT lang,
             round(quantile_cont(n_chars, 0.05), 6) AS p05,
             round(quantile_cont(n_chars, 0.95), 6) AS p95
      FROM documents GROUP BY lang
    )
    SELECT d.lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN d.n_chars < st.p05 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_short,
           CAST(SUM(CASE WHEN d.n_chars > st.p95 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_long,
           CAST(SUM(CASE WHEN d.n_chars >= st.p05 AND d.n_chars <= st.p95
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           st.p05, st.p95
    FROM documents d JOIN st ON d.lang = st.lang
    GROUP BY d.lang, st.p05, st.p95 ORDER BY d.lang
    """,
)
def q_e_length_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive percentile length gate (round 5): instead of the fixed
    min/max length rules (q_e_gopher_rules), cut each LANGUAGE at its
    own p05/p95 of byte mass — the per-distribution form that doesn't
    punish naturally-terse languages with an absolute floor. Reports
    per lang how many docs the gate would drop on each side plus the
    thresholds themselves.

    Two passes: (1) one grouped exact-percentile aggregate (single
    array buffer — the q_b_quantiles measured discipline; at 100 TB
    this pass moves to approx_percentile with this exact form as the
    audit); (2) the |langs|-row threshold table broadcasts back onto
    the scan, classification is scan-side codegen, and the rollup is
    map-side combinable. Thresholds interpolate identically in both
    engines (bit-level equivalence proven by q_e_text_stats' median),
    so the integer-vs-double boundary comparisons agree everywhere.
    """
    d = load_table(spark, sf_dir, "documents")
    st = d.groupBy("lang").agg(
        F.expr("percentile(n_chars, array(0.05, 0.95))").alias("qv")
    ).select(
        "lang",
        F.round(F.col("qv").getItem(0), 6).alias("p05"),
        F.round(F.col("qv").getItem(1), 6).alias("p95"),
    )
    j = d.join(F.broadcast(st), "lang")
    short = F.col("n_chars") < F.col("p05")
    long_ = F.col("n_chars") > F.col("p95")
    one = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    return (
        j.groupBy("lang", "p05", "p95")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            one(short).alias("n_short"),
            one(long_).alias("n_long"),
            one(~short & ~long_).alias("n_kept"),
        )
        .select("lang", "n_docs", "n_short", "n_long", "n_kept", "p05", "p95")
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q_e_bottomk_sample (round 5)
# ---------------------------------------------------------------------------

_BK_K = 5
_BK_SPACE = 1 << 60  # md5-15-hex-digit hash space


@query(
    "q_e_bottomk_sample",
    oracle=f"""
    WITH h AS (
      SELECT lang, doc_id,
             CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) AS hv
      FROM documents
    ),
    r AS (
      SELECT lang, doc_id, hv,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hv, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY lang) AS n_docs
      FROM h
    )
    SELECT lang,
           CAST(MAX(n_docs) AS BIGINT) AS n_docs,
           COUNT(*) AS n_sampled,
           string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY rk) AS panel_ids,
           CAST(MAX(hv) AS BIGINT) AS kth_hash,
           CAST(({_BK_K} - 1) * {_BK_SPACE} // MAX(hv) AS BIGINT)
             AS est_distinct
    FROM r WHERE rk <= {_BK_K}
    GROUP BY lang ORDER BY lang
    """,
)
def q_e_bottomk_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bottom-k consistent sample + cardinality estimate per language
    (round 5): the k docs with the SMALLEST content-stable hash form a
    sample that is (a) deterministic on any engine, (b) INCREMENTAL —
    adding docs can only swap members in, never reshuffle the panel —
    and (c) union-mergeable across shards (merge = keep the k smallest
    of the union), which is why bottom-k sketches are the
    distributed-sampling primitive (the MinHash connection: the kth
    smallest hash estimates cardinality as (k−1)·H/h_(k), reported
    against the true count the oracle can see). The panel is the
    stable eyeball-audit set a curation team re-reads every round
    WITHOUT the sample churning under them.

    Scale: one lang-partitioned row_number window. A window partition
    is not AQE-splittable, so at a skewed 100 TB the rank+filter
    spelling is replaced by per-partition bottom-k heaps merged per
    group (aggregate of k-element sorted arrays — mergeable exactly
    because bottom-k is union-mergeable, the property tested in
    tests/test_hypothesis.py); the rollup carries k ids per
    lang, never the corpus. All-integer arithmetic: 60-bit hashes,
    (k−1)·2^60 fits int64, floor division both engines.
    """
    from glaciersgee_spark.operators.dedup import _doc_hash

    d = load_table(spark, sf_dir, "documents")
    h = d.select("lang", "doc_id", _doc_hash().alias("hv"))
    w = Window.partitionBy("lang").orderBy("hv", "doc_id")
    wn = Window.partitionBy("lang")
    r = h.select(
        "lang",
        "doc_id",
        "hv",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n_docs"),
    ).where(F.col("rk") <= _BK_K)
    return (
        r.groupBy("lang")
        .agg(
            F.max("n_docs").cast("long").alias("n_docs"),
            F.count(F.lit(1)).alias("n_sampled"),
            F.expr(
                "concat_ws(',', transform(array_sort(collect_list(struct(rk, doc_id))),"
                " s -> CAST(s.doc_id AS STRING)))"
            ).alias("panel_ids"),
            F.max("hv").cast("long").alias("kth_hash"),
            F.expr(
                f"CAST(({_BK_K} - 1) * {_BK_SPACE}L div MAX(hv) AS BIGINT)"
            ).alias("est_distinct"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q_e_filter_agreement (round 6)
# ---------------------------------------------------------------------------


@query(
    "q_e_filter_agreement",
    oracle="""
    WITH tf AS (
      SELECT doc_id, lang, tok, COUNT(*) AS c
      FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      GROUP BY doc_id, lang, tok
    ),
    per AS (
      SELECT doc_id, lang,
             CAST(SUM(c) AS BIGINT) AS n_tok,
             CAST(MAX(c) AS BIGINT) AS mx,
             COUNT(*) AS n_types
      FROM tf GROUP BY doc_id, lang
    ),
    gates AS (
      SELECT lang,
             n_tok BETWEEN 15 AND 80 AS g_len,
             n_types * 10 > n_tok * 3 AS g_ttr,
             mx * 100 <= n_tok * 15 AS g_rep
      FROM per
    )
    SELECT lang, g_len, g_ttr, g_rep, COUNT(*) AS n_docs
    FROM gates GROUP BY lang, g_len, g_ttr, g_rep
    ORDER BY lang, g_len, g_ttr, g_rep
    """,
)
def q_e_filter_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation-filter ensemble agreement (round 6): the three cheap
    gate families the repo ships — length bounds (Gopher r_len),
    type/token-ratio (q_e_quality_filter's distinct gate), and
    most-frequent-token repetition cap (Gopher r_rep) — evaluated
    TOGETHER per doc, with the per-language contingency table of all
    8 verdict combinations. The off-diagonal cells (filters
    disagreeing) are exactly the docs a curation team hand-reviews
    before trusting any single filter at 100 TB; unanimous cells are
    safe to automate. Completes the filter family with the
    measurement ABOUT the filters.

    Determinism: every gate is pure integer arithmetic (×10/×100
    cross-multiplications instead of float ratios — no threshold-edge
    float divergence between engines). Scale: one (doc, token) TF
    aggregation (the shuffle any TF pass pays), a per-doc combinable
    rollup, then a ≤ |langs|·8-row contingency aggregation."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "lang", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per = tf.groupBy("doc_id", "lang").agg(
        F.sum("c").cast("long").alias("n_tok"),
        F.max("c").cast("long").alias("mx"),
        F.count(F.lit(1)).alias("n_types"),
    )
    gates = per.select(
        "lang",
        F.col("n_tok").between(15, 80).alias("g_len"),
        (F.col("n_types") * 10 > F.col("n_tok") * 3).alias("g_ttr"),
        (F.col("mx") * 100 <= F.col("n_tok") * 15).alias("g_rep"),
    )
    return (
        gates.groupBy("lang", "g_len", "g_ttr", "g_rep")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "g_len", "g_ttr", "g_rep")
    )


# ---------------------------------------------------------------------------
# q_e_span_mass (round 6)
# ---------------------------------------------------------------------------


@query(
    "q_e_span_mass",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, source, string_split(text, ' ') AS toks
      FROM documents
    ),
    wins AS (
      SELECT doc_id, source, i,
             md5(array_to_string(list_slice(toks, i, i + {WIN_TOKENS - 1}), ' '))
               AS wh
      FROM (SELECT doc_id, source,
                   unnest(range(1, len(toks) - {WIN_TOKENS - 2})) AS i, toks
            FROM tk WHERE len(toks) >= {WIN_TOKENS})
    ),
    shared AS (
      SELECT wh FROM wins GROUP BY wh HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    cov AS (
      SELECT DISTINCT w.doc_id, w.source,
             unnest(range(w.i, w.i + {WIN_TOKENS})) AS pos
      FROM wins w JOIN shared s ON w.wh = s.wh
    ),
    per_doc AS (
      SELECT doc_id, source, COUNT(*) AS n_cov
      FROM (SELECT DISTINCT doc_id, source, pos FROM cov)
      GROUP BY doc_id, source
    ),
    tot AS (
      SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT)
               AS n_tok,
             COUNT(*) AS n_docs
      FROM documents GROUP BY source
    )
    SELECT t.source, t.n_docs, t.n_tok,
           CAST(COALESCE(SUM(p.n_cov), 0) AS BIGINT) AS n_dup_tok,
           CAST((COALESCE(SUM(p.n_cov), 0) * 1000000) // t.n_tok AS BIGINT)
             AS dup_ppm
    FROM tot t LEFT JOIN per_doc p ON t.source = p.source
    GROUP BY t.source, t.n_docs, t.n_tok
    ORDER BY t.source
    """,
)
def q_e_span_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verbatim-duplication token MASS per source (round 6): the
    fraction of each source's tokens lying inside at least one
    duplicated 8-token window — the corpus-level headline number of
    Lee et al. 2021 ("what % of the training set is verbatim-repeated
    text"), where q_e_window_dedup reports the per-doc window
    FRACTION, this reports the union-of-spans TOKEN coverage the
    dedup pass would actually delete. Exact in ppm.

    Scale: window expansion is the same scan-side higher-order
    expression as q_e_window_dedup (no shuffle); the shared-hash set
    is one combinable count-distinct aggregate broadcast back;
    coverage expands only DUPLICATED windows ×8 positions and
    collapses them with a distinct-positions aggregate (bounded by 8×
    the duplicated-window count, never the corpus); the rollup is
    |sources| rows of BIGINT arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    tk = fan_out(
        d.select("doc_id", "source", F.split("text", " ").alias("tk")).where(
            F.size("tk") >= WIN_TOKENS
        ),
        "doc_id",
    )
    # wins is consumed twice (shared-hash agg + coverage probe); the
    # expansion deliberately RECOMPUTES rather than persists — the
    # frame is corpus×windows-sized, and q_e_window_dedup's identical
    # two-consumer shape measured persisting it NEUTRAL once fan_out
    # parallelizes the expansion (see its comment). Only the SLIM
    # frames get the persist treatment (tail_index/length_ks/dsir).
    wins = tk.select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(tk) - {WIN_TOKENS - 1}), "
                f"i -> struct(i AS i, md5(array_join(slice(tk, i, "
                f"{WIN_TOKENS}), ' ')) AS wh))"
            )
        ).alias("s"),
    ).select("doc_id", "source", F.col("s.i").alias("i"), F.col("s.wh").alias("wh"))
    shared = (
        wins.groupBy("wh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("wh")
    )
    cov = (
        wins.join(F.broadcast(shared), "wh")
        .select(
            "doc_id",
            "source",
            F.explode(F.expr(f"sequence(i, i + {WIN_TOKENS - 1})")).alias("pos"),
        )
        .distinct()
    )
    per_doc = cov.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).alias("n_cov")
    )
    tot = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tok"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    return (
        tot.join(per_doc, "source", "left")
        .groupBy("source", "n_docs", "n_tok")
        .agg(F.coalesce(F.sum("n_cov"), F.lit(0)).cast("long").alias("n_dup_tok"))
        .select(
            "source",
            "n_docs",
            "n_tok",
            "n_dup_tok",
            F.expr("CAST((n_dup_tok * 1000000) DIV n_tok AS BIGINT)").alias(
                "dup_ppm"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q_e_span_position (round 6)
# ---------------------------------------------------------------------------


@query(
    "q_e_span_position",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, len(string_split(text, ' ')) AS n_tok,
             string_split(text, ' ') AS toks
      FROM documents WHERE len(string_split(text, ' ')) >= {WIN_TOKENS}
    ),
    wins AS (
      SELECT doc_id, n_tok, i,
             md5(array_to_string(list_slice(toks, i, i + {WIN_TOKENS - 1}), ' '))
               AS wh
      FROM (SELECT doc_id, n_tok,
                   unnest(range(1, n_tok - {WIN_TOKENS - 2})) AS i, toks
            FROM tk)
    ),
    shared AS (
      SELECT wh FROM wins GROUP BY wh HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    cov AS (
      SELECT DISTINCT w.doc_id, w.n_tok,
             unnest(range(w.i, w.i + {WIN_TOKENS})) AS pos
      FROM wins w JOIN shared s ON w.wh = s.wh
    ),
    all_pos AS (
      SELECT doc_id, n_tok, unnest(range(1, n_tok + 1)) AS pos FROM tk
    ),
    dec AS (
      SELECT a.doc_id, ((a.pos - 1) * 10) // a.n_tok AS decile,
             CASE WHEN c.pos IS NOT NULL THEN 1 ELSE 0 END AS covered
      FROM all_pos a
      LEFT JOIN (SELECT DISTINCT doc_id, pos FROM cov) c
        ON a.doc_id = c.doc_id AND a.pos = c.pos
    )
    SELECT CAST(decile AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(covered) AS BIGINT) AS n_dup_tokens,
           CAST((SUM(covered) * 1000000) // COUNT(*) AS BIGINT) AS dup_ppm
    FROM dec GROUP BY decile ORDER BY decile
    """,
)
def q_e_span_position(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE the verbatim duplication lives (round 6): duplicated-span
    token coverage by relative position decile within the doc — the
    boilerplate-location audit behind q_e_span_mass's per-source
    total: crawl corpora concentrate duplicated text at the ends
    (headers/footers/navigation), and a position-skewed profile says
    "strip affixes" where a flat profile says "drop whole near-dups".
    Same duplicated-window machinery as q_e_span_mass / Lee et al.
    2021, projected onto the position axis.

    Scale: the window expansion and shared-hash set are the
    q_e_span_mass shapes (scan-side expansion, combinable
    count-distinct, broadcast-back); coverage explodes only
    DUPLICATED windows ×8; the position frame is one scan-side
    sequence explode rolled up immediately; the decile rollup is a
    10-row aggregate. All-BIGINT ppm."""
    d = load_table(spark, sf_dir, "documents")
    tk = fan_out(
        d.select("doc_id", F.split("text", " ").alias("tk")).where(
            F.size("tk") >= WIN_TOKENS
        ),
        "doc_id",
    ).withColumn("n_tok", F.size("tk"))
    wins = tk.select(
        "doc_id",
        "n_tok",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(tk) - {WIN_TOKENS - 1}), "
                f"i -> struct(i AS i, md5(array_join(slice(tk, i, "
                f"{WIN_TOKENS}), ' ')) AS wh))"
            )
        ).alias("s"),
    ).select("doc_id", "n_tok", F.col("s.i").alias("i"), F.col("s.wh").alias("wh"))
    shared = (
        wins.groupBy("wh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= 2)
        .select("wh")
    )
    cov = (
        wins.join(F.broadcast(shared), "wh")
        .select(
            "doc_id",
            F.explode(F.expr(f"sequence(i, i + {WIN_TOKENS - 1})")).alias("pos"),
        )
        .distinct()
        .withColumn("covered", F.lit(1))
    )
    all_pos = tk.select(
        "doc_id",
        "n_tok",
        F.explode(F.expr("sequence(1, n_tok)")).alias("pos"),
    )
    dec = (
        all_pos.join(cov, ["doc_id", "pos"], "left")
        .select(
            F.expr("((pos - 1) * 10) DIV n_tok").alias("decile"),
            F.coalesce("covered", F.lit(0)).alias("covered"),
        )
    )
    return (
        dec.groupBy(F.col("decile").cast("long").alias("decile"))
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("covered").cast("long").alias("n_dup_tokens"),
            F.expr(
                "CAST((SUM(covered) * 1000000) DIV COUNT(*) AS BIGINT)"
            ).alias("dup_ppm"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# q_e_k_anonymity (round 6)
# ---------------------------------------------------------------------------


@query(
    "q_e_k_anonymity",
    oracle="""
    WITH qi AS (
      SELECT lang, source, n_chars // 50 AS len_b, COUNT(*) AS k
      FROM documents GROUP BY lang, source, 3
    ),
    b AS (
      SELECT CASE WHEN k = 1 THEN '1'
                  WHEN k BETWEEN 2 AND 4 THEN '2-4'
                  WHEN k BETWEEN 5 AND 9 THEN '5-9'
                  ELSE '10+' END AS k_bucket,
             k
      FROM qi
    )
    SELECT k_bucket,
           COUNT(*) AS n_classes,
           CAST(SUM(k) AS BIGINT) AS n_docs
    FROM b GROUP BY k_bucket ORDER BY k_bucket
    """,
)
def q_e_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the quasi-identifier tuple (round 6;
    Sweeney 2002): how many documents sit in equivalence classes of
    size 1 / 2-4 / 5-9 / 10+ under (lang, source, 50-char length
    bucket) — the re-identification risk measure a release review
    runs BEFORE publishing corpus metadata: a k=1 class means that
    metadata row points at exactly one document. Complements
    q_e_pii_scrub (content-level PII) with the STRUCTURE-level
    privacy axis.

    Scale: one combinable groupBy on the quasi-identifier tuple
    (collapses the corpus to its equivalence classes), then a 4-row
    bucket rollup — all-integer, no windows, no joins."""
    d = load_table(spark, sf_dir, "documents")
    qi = d.groupBy(
        "lang", "source", F.expr("n_chars DIV 50").alias("len_b")
    ).agg(F.count(F.lit(1)).alias("k"))
    bucket = (
        F.when(F.col("k") == 1, "1")
        .when(F.col("k").between(2, 4), "2-4")
        .when(F.col("k").between(5, 9), "5-9")
        .otherwise("10+")
    )
    return (
        qi.select(bucket.alias("k_bucket"), "k")
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("k").cast("long").alias("n_docs"),
        )
        .orderBy("k_bucket")
    )


# ---------------------------------------------------------------------------
# q_e_shard_mixing (round 6)
# ---------------------------------------------------------------------------


@query(
    "q_e_shard_mixing",
    oracle="""
    WITH sh AS (
      SELECT CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 16 AS shard,
             source
      FROM documents
    ),
    c AS (SELECT shard, source, COUNT(*) AS c FROM sh GROUP BY shard, source),
    n AS (SELECT shard, SUM(c) AS n FROM c GROUP BY shard),
    h AS (
      SELECT c.shard,
             CAST(MAX(n.n) AS BIGINT) AS n_docs,
             COUNT(*) AS n_sources,
             round(CAST(SUM(CAST(c.c * (round(ln(CAST(n.n AS DOUBLE)), 6)
                                        - round(ln(CAST(c.c AS DOUBLE)), 6))
                                 AS DECIMAL(30,6))) AS DOUBLE) / MAX(n.n), 6)
               AS h6
      FROM c JOIN n ON c.shard = n.shard
      GROUP BY c.shard
    )
    SELECT shard, n_docs, n_sources, h6 FROM h ORDER BY shard
    """,
)
def q_e_shard_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-mixing quality per training shard (round 6): the source
    entropy H = (1/n)·Σc·(ln n − ln c) inside each of the 16
    content-hash shards — the audit behind q_e_shard_assign's size
    balance: equal-SIZED shards can still be badly MIXED (a shard
    that is all one source gives the data-parallel reader correlated
    batches); near-uniform per-shard entropy ≈ ln(|sources|) is what
    a shuffled training order requires. Same count-form exact-entropy
    spelling as q_e_cond_entropy.

    Scale: one narrow hash+groupBy pass collapses the corpus to the
    (shard, source) count grid (≤ 16·|sources| rows, combinable);
    shard totals ride a whole-partition window-free second aggregate;
    all lns 6-dp through exact decimal."""
    from glaciersgee_spark.operators.dedup import _doc_hash

    d = load_table(spark, sf_dir, "documents")
    c = (
        d.select((_doc_hash() % 16).alias("shard"), "source")
        .groupBy("shard", "source")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    n = c.groupBy("shard").agg(F.sum("c").alias("n"))
    term = (
        "CAST(c * (round(ln(CAST(n AS DOUBLE)), 6)"
        " - round(ln(CAST(c AS DOUBLE)), 6)) AS DECIMAL(30,6))"
    )
    return (
        c.join(F.broadcast(n), "shard")
        .groupBy("shard")
        .agg(
            F.max("n").cast("long").alias("n_docs"),
            F.count(F.lit(1)).alias("n_sources"),
            F.expr(f"round(CAST(SUM({term}) AS DOUBLE) / MAX(n), 6)").alias(
                "h6"
            ),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# q_e_quality_auc (round 7)
# ---------------------------------------------------------------------------


# Shared calibration per-score frame (q_e_quality_auc /
# q_e_pr_auc): the 6-dp sigmoid score, the rule-based gold label, and
# the per-score (pos, neg) counts — identical text in both oracles.
_CAL_PER_CTES = f"""{_d_quality_features('doc_id')},
    scored AS (
      SELECT round(1.0 / (1.0 + exp(-{_D_QUALITY_LOGIT})), 6) AS score,
             CASE WHEN {_CAL_GOLD_DUCK} THEN 1 ELSE 0 END AS gold
      FROM feat
    ),
    per AS (
      SELECT score,
             CAST(SUM(gold) AS BIGINT) AS pos,
             CAST(COUNT(*) - SUM(gold) AS BIGINT) AS neg
      FROM scored GROUP BY score
    )"""


def _cal_per_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(score, pos, neg): the shared per-score calibration frame both
    threshold-free audits (ROC AUC via q_e_quality_auc, PR average
    precision via q_e_pr_auc) rank over — 6-dp sigmoid score,
    rule-based gold label, one combinable groupBy(score)."""
    return _quality_scored(spark, sf_dir).groupBy("score").agg(
        F.sum("gold").cast("long").alias("pos"),
        (F.count(F.lit(1)) - F.sum("gold")).cast("long").alias("neg"),
    )


@query(
    "q_e_quality_auc",
    oracle=f"""
    WITH {_CAL_PER_CTES},
    cum AS (
      SELECT score, pos, neg,
             COALESCE(SUM(neg) OVER (ORDER BY score
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS cneg
      FROM per
    )
    SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(neg) AS BIGINT) AS n_neg,
           COUNT(*) AS n_thresholds,
           CAST((CAST(SUM(pos * (2 * cneg + neg)) AS BIGINT) * 1000000)
                // NULLIF(2 * CAST(SUM(pos) AS BIGINT)
                            * CAST(SUM(neg) AS BIGINT), 0) AS BIGINT)
             AS auc_ppm
    FROM cum
    """,
)
def q_e_quality_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of the quality classifier against the gopher-lite gold
    heuristic (round 7 — the threshold-free companion to
    q_e_quality_calibration's ECE: calibration says whether the
    probabilities are honest, AUC says whether the RANKING separates
    good from bad — the two numbers a curation team reads together
    before trusting the classifier to delete data). Tie-aware
    Mann–Whitney form: AUC = Σ_s pos_s·(cneg_<s + neg_s/2) / (P·N),
    computed in doubled integer units (2·cneg + neg) so the result is
    an exact BIGINT ppm with no float path at all.

    Scale: score+gold are scan-side codegen; ONE combinable groupBy
    collapses the corpus to per-score (pos, neg) counts bounded by
    the 6-dp score DOMAIN (≤ 1e6 rows at any corpus size — the
    bounded-domain exemption of q_e_gini_mass's offsets pass), the
    prefix sum and the closing 1-row fold run over that bounded
    frame. P·N products stay in BIGINT to ~3e9 gold-balanced docs;
    swap the two closing products to DECIMAL(38,0) beyond that.
    An all-positive or all-negative corpus NULLIF-guards to NULL."""
    per = _cal_per_scores(spark, sf_dir)
    # Un-partitioned prefix sum, DELIBERATELY (round 8, VERDICT r7 nit
    # 1): the frame it runs over is per-SCORE counts, and the score is
    # a 6-dp-rounded sigmoid — its domain is the ≤ 1,000,001 values of
    # round(x, 6) in (0, 1), CORPUS-SIZE-INDEPENDENT. Worst case is
    # one task scanning ~1e6 rows of 3 longs + 1 double (~32 MB) — the
    # same bounded-domain exemption as q_e_gini_mass's offsets pass;
    # the two-phase chunked-rank idiom would add a shuffle to bound a
    # frame that is already bounded by construction.
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    cum = per.withColumn("cneg", F.coalesce(F.sum("neg").over(w), F.lit(0)))
    return cum.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
        F.count(F.lit(1)).alias("n_thresholds"),
        F.expr(
            "CAST((CAST(SUM(pos * (2 * cneg + neg)) AS BIGINT) * 1000000)"
            " DIV NULLIF(2 * CAST(SUM(pos) AS BIGINT)"
            " * CAST(SUM(neg) AS BIGINT), 0) AS BIGINT)"
        ).alias("auc_ppm"),
    )


# ---------------------------------------------------------------------------
# q_e_l_diversity (round 7)
# ---------------------------------------------------------------------------


@query(
    "q_e_l_diversity",
    oracle="""
    WITH sv AS (
      SELECT lang, source, n_chars // 50 AS len_b,
             string_split(text, ' ')[1] AS sens
      FROM documents
    ),
    vc AS (
      SELECT lang, source, len_b, sens, COUNT(*) AS c
      FROM sv GROUP BY lang, source, len_b, sens
    ),
    cls AS (
      SELECT lang, source, len_b,
             CAST(SUM(c) AS BIGINT) AS k,
             CAST(COUNT(*) AS BIGINT) AS l,
             SUM(CAST(c * round(ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(30,6)))
               AS s
      FROM vc GROUP BY lang, source, len_b
    ),
    ent AS (
      SELECT k, l,
             floor((round(ln(CAST(k AS DOUBLE)), 6)
                    - CAST(s AS DOUBLE) / k) * 1000000.0 + 0.5)
               / 1000000.0 AS h6
      FROM cls
    )
    SELECT l,
           COUNT(*) AS n_classes,
           CAST(SUM(k) AS BIGINT) AS n_docs,
           floor(CAST(SUM(CAST(h6 AS DECIMAL(30,6))) AS DOUBLE)
                 / COUNT(*) * 1000000.0 + 0.5) / 1000000.0 AS avg_entropy6
    FROM ent GROUP BY l ORDER BY l
    """,
)
def q_e_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit over q_e_k_anonymity's quasi-identifier
    classes (Machanavajjhala et al. 2007 — the follow-on privacy bar:
    a k-anonymous class is still disclosive if everyone in it shares
    the sensitive value): sensitive attribute = the document's leading
    token; per QI class (lang, source, 50-char length band) compute k
    (size), l (distinct sensitive values) and the entropy of the
    sensitive distribution (entropy-l-diversity needs H ≥ ln l of the
    published l), then roll up classes BY their l with doc mass and
    mean entropy — the table a release reviewer reads next to the
    k-anonymity histogram.

    Scale: TWO combinable groupBys (QI+value counts, then QI classes)
    — the corpus never shuffles twice, values never leave aggregate
    form; the l-rollup is |distinct l| rows. Count-form entropy (the
    q_e_tok_entropy spelling: 6-dp ln per count, exact-decimal sums,
    one closing division) — identical bits in both engines."""
    d = load_table(spark, sf_dir, "documents")
    sv = d.select(
        "lang",
        "source",
        F.expr("n_chars div 50").alias("len_b"),
        F.split("text", " ").getItem(0).alias("sens"),
    )
    vc = sv.groupBy("lang", "source", "len_b", "sens").agg(
        F.count(F.lit(1)).alias("c")
    )
    cls = vc.groupBy("lang", "source", "len_b").agg(
        F.sum("c").cast("long").alias("k"),
        F.count(F.lit(1)).cast("long").alias("l"),
        F.sum(
            (
                F.col("c") * F.round(F.log(F.col("c").cast("double")), 6)
            ).cast("decimal(30,6)")
        ).alias("s"),
    )
    ent = cls.select(
        "k",
        "l",
        # floor quantizer: h6 divides an exact decimal sum by k, the
        # same 5e-7-tie class as this op's rollup mean
        (
            F.floor(
                (
                    F.round(F.log(F.col("k").cast("double")), 6)
                    - F.col("s").cast("double") / F.col("k")
                )
                * 1000000.0
                + 0.5
            )
            / 1000000.0
        ).alias("h6"),
    )
    return (
        ent.groupBy("l")
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("k").cast("long").alias("n_docs"),
            # q6 floor quantizer (registry.q6), not round(): this mean LANDED on an
            # exact 5e-7 tie at sf0.1 where Spark's HALF_UP and
            # DuckDB's HALF_EVEN round() diverge
            (
                F.floor(
                    F.sum(F.col("h6").cast("decimal(30,6)")).cast("double")
                    / F.count(F.lit(1))
                    * 1000000.0
                    + 0.5
                )
                / 1000000.0
            ).alias("avg_entropy6"),
        )
        .orderBy("l")
    )


# ---------------------------------------------------------------------------
# q_e_wilson_ci (round 7)
# ---------------------------------------------------------------------------

_WILSON_Z = 1.96  # 95% two-sided
_QC_SLA = 0.5  # quality-rate SLA the CI is tested against


@query(
    "q_e_wilson_ci",
    oracle=f"""
    WITH {_d_quality_features('source')},
    per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN {_CAL_GOLD_DUCK} THEN 1 ELSE 0 END)
                  AS BIGINT) AS k
      FROM feat GROUP BY source
    ),
    ci AS (
      SELECT source, n, k,
             CAST(k AS DOUBLE) / n AS p,
             {_WILSON_Z * _WILSON_Z} / n AS zz
      FROM per
    )
    SELECT source, n AS n_docs, k AS n_pass,
           floor(p * 1000000.0 + 0.5) / 1000000.0 AS rate6,
           floor((p + zz / 2 - {_WILSON_Z} * sqrt(p * (1 - p) / n + zz / (4 * n)))
                 / (1 + zz) * 1000000.0 + 0.5) / 1000000.0 AS lo6,
           floor((p + zz / 2 + {_WILSON_Z} * sqrt(p * (1 - p) / n + zz / (4 * n)))
                 / (1 + zz) * 1000000.0 + 0.5) / 1000000.0 AS hi6,
           (floor((p + zz / 2 + {_WILSON_Z} * sqrt(p * (1 - p) / n + zz / (4 * n)))
                  / (1 + zz) * 1000000.0 + 0.5) / 1000000.0) < {_QC_SLA}
             AS sig_below_sla
    FROM ci ORDER BY source
    """,
)
def q_e_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson-score 95% confidence interval on each source's
    quality-pass rate (round 7 — the statistical-rigor step between
    "this source's sample rate looks low" and "cut this source": the
    Wilson interval is the standard small-n-safe binomial CI, and the
    decision column says whether the UPPER bound clears the SLA —
    i.e. the source is significantly below it, not just noisily). Uses
    the gopher-lite gold rule shared with q_e_quality_calibration as
    the pass predicate.

    Scale: pass/total per source is one combinable groupBy; the CI is
    per-row closed-form arithmetic on the |sources|-row frame (sqrt is
    IEEE-correctly-rounded; identical expression trees both engines;
    floor-quantized outputs — no round() ties)."""
    feat = _quality_features(spark, sf_dir, "source")
    per = feat.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(_quality_gold()).cast("long").alias("k"),
    )
    p = F.col("k").cast("double") / F.col("n")
    zz = F.lit(_WILSON_Z * _WILSON_Z) / F.col("n")
    half = F.lit(_WILSON_Z) * F.sqrt(
        p * (1 - p) / F.col("n") + zz / (4 * F.col("n"))
    )
    lo = (p + zz / 2 - half) / (1 + zz)
    hi = (p + zz / 2 + half) / (1 + zz)
    hi6 = F.floor(hi * 1000000.0 + 0.5) / 1000000.0
    return per.select(
        "source",
        F.col("n").alias("n_docs"),
        F.col("k").alias("n_pass"),
        (F.floor(p * 1000000.0 + 0.5) / 1000000.0).alias("rate6"),
        (F.floor(lo * 1000000.0 + 0.5) / 1000000.0).alias("lo6"),
        hi6.alias("hi6"),
        (hi6 < _QC_SLA).alias("sig_below_sla"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q_e_t_closeness (round 8)
# ---------------------------------------------------------------------------


@query(
    "q_e_t_closeness",
    oracle="""
    WITH sv AS (
      SELECT lang, source, n_chars // 50 AS len_b,
             string_split(text, ' ')[1] AS sens
      FROM documents
    ),
    vc AS (
      SELECT lang, source, len_b, sens, COUNT(*) AS c
      FROM sv GROUP BY lang, source, len_b, sens
    ),
    g AS (SELECT sens, COUNT(*) AS gc FROM sv GROUP BY sens),
    nt AS (SELECT COUNT(*) AS nn FROM sv),
    ck AS (SELECT lang, source, len_b, CAST(SUM(c) AS BIGINT) AS k
           FROM vc GROUP BY lang, source, len_b),
    terms AS (
      SELECT v.lang, v.source, v.len_b, ANY_VALUE(ck.k) AS k,
             ANY_VALUE(nt.nn) AS nn,
             SUM(abs(CAST(v.c AS DECIMAL(38,0)) * nt.nn
                     - CAST(g.gc AS DECIMAL(38,0)) * ck.k)
                 - CAST(g.gc AS DECIMAL(38,0)) * ck.k) AS s
      FROM vc v
      JOIN ck ON v.lang = ck.lang AND v.source = ck.source
             AND v.len_b = ck.len_b
      JOIN g ON v.sens = g.sens CROSS JOIN nt
      GROUP BY v.lang, v.source, v.len_b
    ),
    tv AS (
      SELECT k,
             floor((CAST(s + CAST(k AS DECIMAL(38,0)) * nn AS DOUBLE)
                    / (2.0 * CAST(k AS DOUBLE) * CAST(nn AS DOUBLE)))
                   * 1000000.0 + 0.5) / 1000000.0 AS t6
      FROM terms
    )
    SELECT CAST(least(floor(t6 * 10.0), 9) AS BIGINT) AS t_decile,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(k) AS BIGINT) AS n_docs,
           floor(CAST(SUM(CAST(t6 AS DECIMAL(30,6))) AS DOUBLE)
                 / COUNT(*) * 1000000.0 + 0.5) / 1000000.0 AS avg_t6,
           MAX(t6) AS max_t6
    FROM tv GROUP BY t_decile ORDER BY t_decile
    """,
)
def q_e_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T-CLOSENESS audit (round 8; Li, Li & Venkatasubramanian, ICDE
    2007) — the third rung of the privacy ladder after q_e_k_anonymity
    (class size) and q_e_l_diversity (within-class variety): how far
    each equivalence class's SENSITIVE-VALUE DISTRIBUTION sits from
    the corpus-wide distribution, as total-variation distance (= EMD
    for unordered categoricals). A class can be k-anonymous AND
    l-diverse yet still leak via skew — t-closeness is the audit that
    catches it. Same quasi-identifiers (lang, source, 50-char length
    bucket) and sensitive attribute (first token) as the siblings.

    Exact-integer TV: t = Σ_s |c_s/k − g_s/N| / 2 folds to
    (Σ_{s∈class}(|c_s·N − g_s·k| − g_s·k) + k·N) / (2kN) — the
    absent-value mass collapses algebraically to k·N, so NO outer
    join over the global support is needed and the numerator is an
    exact DECIMAL sum (order-insensitive, both engines bit-equal);
    the single closing division is one pinned double expression.
    Scale: one (class, sens) groupBy, a class-key join back for k, a
    broadcast-sized sens-marginal join, a 1-row N crossJoin — all
    map-side combinable; output is the bounded t-decile histogram."""
    sv = load_table(spark, sf_dir, "documents").select(
        "lang",
        "source",
        (F.col("n_chars") / 50).cast("long").alias("len_b"),
        F.split("text", " ").getItem(0).alias("sens"),
    )
    cls = ["lang", "source", "len_b"]
    vc = sv.groupBy(*cls, "sens").agg(F.count(F.lit(1)).alias("c"))
    g = sv.groupBy("sens").agg(F.count(F.lit(1)).alias("gc"))
    nt = sv.agg(F.count(F.lit(1)).alias("nn"))
    ck = vc.groupBy(*cls).agg(F.sum("c").cast("long").alias("k"))
    terms = (
        vc.join(ck, cls)
        .join(F.broadcast(g), "sens")
        .crossJoin(F.broadcast(nt))
        .groupBy(*cls)
        .agg(
            F.first("k").alias("k"),
            F.first("nn").alias("nn"),
            F.sum(
                F.expr(
                    "abs(CAST(c AS DECIMAL(38,0)) * nn"
                    " - CAST(gc AS DECIMAL(38,0)) * k)"
                    " - CAST(gc AS DECIMAL(38,0)) * k"
                )
            ).alias("s"),
        )
    )
    # 1e6/2e0 exponent literals: Spark SQL parses plain fractional
    # literals (1000000.0) as DECIMAL, which would silently retype the
    # whole chain; exponent form is DOUBLE in both dialects.
    tv = terms.select(
        "k",
        F.expr(
            "floor((CAST(s + CAST(k AS DECIMAL(38,0)) * nn AS DOUBLE)"
            " / (2e0 * CAST(k AS DOUBLE) * CAST(nn AS DOUBLE)))"
            " * 1e6 + 0.5) / 1e6"
        ).alias("t6"),
    )
    return (
        tv.groupBy(
            F.least(F.floor(F.col("t6") * 10.0), F.lit(9))
            .cast("long")
            .alias("t_decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n_classes"),
            F.sum("k").cast("long").alias("n_docs"),
            F.expr(
                "floor(CAST(SUM(CAST(t6 AS DECIMAL(30,6))) AS DOUBLE)"
                " / COUNT(*) * 1e6 + 0.5) / 1e6"
            ).alias("avg_t6"),
            F.max("t6").alias("max_t6"),
        )
        .orderBy("t_decile")
    )


# ---------------------------------------------------------------------------
# q_e_bt_strength (round 8)
# ---------------------------------------------------------------------------

_BT_ROUNDS = 3


def _bt_sql(tbl: str) -> str:
    """Bradley–Terry strength fit as ONE SQL text valid verbatim in
    BOTH dialects (every literal in exponent form, every aggregate
    through dsum) — the Spark query and the DuckDB oracle are the
    same string over different table names, so cross-engine drift is
    structurally impossible. Tournament: per language, source i beats
    source j when its 6-dp mean doc length is strictly higher; the
    ≤C(20,2)-row win matrix then takes _BT_ROUNDS MM updates
    (Hunter 2004): w_i ← W_i / Σ_j n_ij/(w_i+w_j), renormalized to
    Σw = n_sources and 6-dp-rounded each round (the kmeans_train
    round-pinning discipline)."""
    score = davg("n_chars")
    rounds = []
    prev = "w0"
    for t in range(1, _BT_ROUNDS + 1):
        rounds.append(f"""
    d{t} AS (
      SELECT source, {dsum('term')} AS dsm
      FROM (
        SELECT p.si AS source,
               CAST(p.n AS DOUBLE) / NULLIF(wa.w + wb.w, 0e0) AS term
        FROM pr p JOIN {prev} wa ON wa.source = p.si
                  JOIN {prev} wb ON wb.source = p.sj
        UNION ALL
        SELECT p.sj AS source,
               CAST(p.n AS DOUBLE) / NULLIF(wa.w + wb.w, 0e0) AS term
        FROM pr p JOIN {prev} wa ON wa.source = p.si
                  JOIN {prev} wb ON wb.source = p.sj
      ) u GROUP BY source
    ),
    r{t} AS (
      SELECT w.source, w.wtot, w.ncomp,
             CASE WHEN w.wtot = 0 OR d.dsm IS NULL OR d.dsm = 0e0
                  THEN 0e0
                  ELSE CAST(w.wtot AS DOUBLE) / d.dsm END AS wraw
      FROM wins w LEFT JOIN d{t} d ON d.source = w.source
    ),
    n{t} AS (SELECT {dsum('wraw')} AS z, COUNT(*) AS ns FROM r{t}),
    w{t} AS MATERIALIZED (
      SELECT r.source, r.wtot, r.ncomp,
             round(r.wraw / NULLIF(n.z, 0e0) * n.ns, 6) AS w
      FROM r{t} r CROSS JOIN n{t} n
    )""")
        prev = f"w{t}"
    chain = ",".join(rounds)
    return f"""
    WITH s AS MATERIALIZED (
      SELECT lang, source, round({score}, 6) AS m
      FROM {tbl} GROUP BY lang, source
    ),
    pr AS MATERIALIZED (
      SELECT a.source AS si, b.source AS sj,
             SUM(CASE WHEN a.m > b.m THEN 1 ELSE 0 END) AS wi,
             SUM(CASE WHEN b.m > a.m THEN 1 ELSE 0 END) AS wj,
             SUM(CASE WHEN a.m <> b.m THEN 1 ELSE 0 END) AS n
      FROM s a JOIN s b ON a.lang = b.lang AND a.source < b.source
      GROUP BY a.source, b.source
    ),
    wins AS MATERIALIZED (
      SELECT source, CAST(SUM(w) AS BIGINT) AS wtot,
             CAST(SUM(n) AS BIGINT) AS ncomp
      FROM (SELECT si AS source, wi AS w, n FROM pr
            UNION ALL
            SELECT sj AS source, wj AS w, n FROM pr) u
      GROUP BY source
    ),
    w0 AS MATERIALIZED (SELECT source, wtot, ncomp, 1e0 AS w FROM wins),
    {chain}
    SELECT source,
           ncomp AS n_comparisons,
           wtot AS n_wins,
           w AS bt_w6,
           CAST(row_number() OVER (ORDER BY w DESC, source) AS BIGINT)
             AS rank
    FROM {prev}
    ORDER BY rank
    """


@query("q_e_bt_strength", oracle=_bt_sql("documents"))
def q_e_bt_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BRADLEY–TERRY source-strength fit (round 8; Bradley & Terry
    1952, Hunter's 2004 MM algorithm) — fit latent strengths from
    pairwise preferences, the statistical core of reward-model /
    RLHF preference pipelines, run here over a per-language
    tournament of sources (i beats j in a language when its 6-dp
    mean doc length is strictly higher; ties abstain). Three MM
    rounds from uniform strengths, each round renormalized to
    Σw = n_sources and 6-dp-pinned — the bounded-training-loop
    discipline of q_e_kmeans_train / q_e_bpe_train applied to a
    preference model.

    Scale: ONE corpus pass (the (lang, source) mean aggregate into
    the pairwise win matrix, map-side combinable); the MM rounds run
    DRIVER-SIDE over the collected ≤C(20,2)-row matrix — the
    q_e_mmr_diversify bounded-panel precedent — with the oracle's
    decimal pipeline mirrored op for op (CAST(double AS
    DECIMAL(30,6)) ≡ Decimal(float).quantize(1e-6, HALF_UP); the
    float divisions are the same IEEE ops in the same order), so
    both engines produce identical bits. Engine-side rounds were
    measured and rejected: as one unrolled SQL each round references
    its predecessor twice, re-expanding the lineage ~2^rounds under
    Catalyst inlining (223 s); as materialized per-round queries the
    ~6 shuffle stages per round on 190 rows still cost 5.5 s warm.
    The oracle keeps the unrolled chain with MATERIALIZED CTEs (the
    DuckDB spelling of the same fix, 38 s → ms)."""
    from pyspark.sql import types as T

    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "ggee_bt_docs"
    )
    score = davg("n_chars")
    pr_rows = spark.sql(f"""
    WITH s AS (
      SELECT lang, source, round({score}, 6) AS m
      FROM ggee_bt_docs GROUP BY lang, source
    )
    SELECT a.source AS si, b.source AS sj,
           SUM(CASE WHEN a.m > b.m THEN 1 ELSE 0 END) AS wi,
           SUM(CASE WHEN b.m > a.m THEN 1 ELSE 0 END) AS wj,
           SUM(CASE WHEN a.m <> b.m THEN 1 ELSE 0 END) AS n
    FROM s a JOIN s b ON a.lang = b.lang AND a.source < b.source
    GROUP BY a.source, b.source
    """).collect()
    # wins folds from the collected matrix in exact integer
    # arithmetic (the SQL UNION-aggregate mirror, trivially identical)
    wins_acc: dict = {}
    for p in pr_rows:
        a = wins_acc.setdefault(p.si, [0, 0])
        b = wins_acc.setdefault(p.sj, [0, 0])
        a[0] += p.wi
        a[1] += p.n
        b[0] += p.wj
        b[1] += p.n

    # MM rounds run driver-side over the ≤C(20,2)-row matrix (the
    # q_e_mmr_diversify bounded-panel precedent: engine-side rounds
    # cost ~6 shuffle stages each for 190 rows — measured 5.5 s warm —
    # while the Python mirror is exact and instant). Decimal mirroring
    # of the oracle, op for op: CAST(double AS DECIMAL(30,6)) is a
    # HALF_UP round of the double's exact decimal expansion, which is
    # precisely Decimal(float).quantize(1e-6, ROUND_HALF_UP); the
    # float divisions/multiplies are the same IEEE ops the engines
    # run, in the same order.
    import decimal

    _D6 = decimal.Decimal("0.000001")

    def _q6sum(vals) -> float:
        tot = decimal.Decimal(0)
        for v in vals:
            tot += decimal.Decimal(v).quantize(
                _D6, rounding=decimal.ROUND_HALF_UP
            )
        return float(tot)

    def _r6(x: float) -> float:
        return float(
            decimal.Decimal(x).quantize(_D6, rounding=decimal.ROUND_HALF_UP)
        )

    wins = {src_: (v[0], v[1]) for src_, v in wins_acc.items()}
    w = {src: 1.0 for src in wins}
    for _ in range(_BT_ROUNDS):
        terms: dict = {src: [] for src in wins}
        for p in pr_rows:
            denom = w[p.si] + w[p.sj]
            if denom != 0.0:  # NULLIF(wa.w + wb.w, 0e0) mirror
                t = float(p.n) / denom
                terms[p.si].append(t)
                terms[p.sj].append(t)
        wraw = {}
        for src, (wtot, _nc) in wins.items():
            dsm = _q6sum(terms[src]) if terms[src] else None
            wraw[src] = (
                0.0 if (wtot == 0 or dsm is None or dsm == 0.0)
                else float(wtot) / dsm
            )
        z = _q6sum(wraw.values())
        ns = len(wins)
        w = {
            src: (None if z == 0.0 else _r6(v / z * ns))
            for src, v in wraw.items()
        }

    # rank over the 20-row panel: ORDER BY w DESC NULLS LAST, source
    ordered = sorted(
        wins, key=lambda s: ((w[s] is None, -(w[s] or 0.0)), s)
    )
    out_rows = [
        (src, wins[src][1], wins[src][0], w[src], i + 1)
        for i, src in enumerate(ordered)
    ]
    out_schema = T.StructType(
        [
            T.StructField("source", T.StringType()),
            T.StructField("n_comparisons", T.LongType()),
            T.StructField("n_wins", T.LongType()),
            T.StructField("bt_w6", T.DoubleType()),
            T.StructField("rank", T.LongType()),
        ]
    )
    return local_frame(spark, out_rows, out_schema).orderBy("rank")


# ---------------------------------------------------------------------------
# q_e_dp_counts (round 8)
# ---------------------------------------------------------------------------

# Uniform draws in strictly-open (0,1) from the repo-wide 60-bit md5
# hash: (h + 0.5) / 2^60 can hit neither endpoint, so ln() is finite.
_DP_U = (
    "(CAST({h} AS DOUBLE) + 0.5) / 1152921504606846976.0"
)
_DP_H_SPARK = (
    "CAST(conv(substring(md5(concat(source, '{salt}')), 1, 15), 16, 10)"
    " AS BIGINT)"
)
_DP_H_DUCK = (
    "CAST(concat('0x', substring(md5(source || '{salt}'), 1, 15))"
    " AS BIGINT)"
)


def _dp_noise(h_tpl: str) -> str:
    """Laplace(1/ε), ε=1: difference of two Exp(1) draws,
    ln(u1) − ln(u2) with each ln 6-dp-rounded (the repo ln
    convention), the difference rounded again to 6 dp."""
    u1 = _DP_U.format(h=h_tpl.format(salt="#dp1"))
    u2 = _DP_U.format(h=h_tpl.format(salt="#dp2"))
    return f"round(round(ln({u1}), 6) - round(ln({u2}), 6), 6)"


@query(
    "q_e_dp_counts",
    oracle=f"""
    WITH c AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_true
      FROM documents GROUP BY source
    )
    SELECT source, n_true,
           {_dp_noise(_DP_H_DUCK)} AS noise6,
           round(CAST(n_true AS DOUBLE) + {_dp_noise(_DP_H_DUCK)}, 6)
             AS n_noisy6,
           round(abs({_dp_noise(_DP_H_DUCK)}), 6) AS abs_err6
    FROM c ORDER BY source
    """,
)
def q_e_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DIFFERENTIALLY-PRIVATE histogram release mechanics (round 8;
    Dwork et al. 2006): per-source document counts released under the
    Laplace mechanism at ε=1 (sensitivity 1 — one document moves one
    count by one), reporting true count, noise draw, noisy release,
    and absolute error. The RELEASE side of the privacy family whose
    AUDIT side is q_e_k_anonymity / q_e_l_diversity /
    q_e_t_closeness.

    Honesty note: the Laplace draws here are pseudo-random from the
    md5 of the source name — DETERMINISTIC so both engines (and every
    rerun) agree bit-for-bit, which is the oracle contract; a real DP
    deployment derives them from a secret seed, and this op is the
    mechanics (noise shape, scale, release arithmetic), not a privacy
    guarantee. Draw: u = (h + 0.5)/2⁶⁰ strictly inside (0,1);
    Laplace(1) = ln(u1) − ln(u2) (difference of Exp(1) draws), each
    ln 6-dp-rounded per the repo convention. Scale: one combinable
    groupBy; the noise is scan-side codegen over the ≤|sources|-row
    aggregate."""
    c = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_true"))
    )
    noise = _dp_noise(_DP_H_SPARK)
    return c.select(
        "source",
        "n_true",
        F.expr(noise).alias("noise6"),
        F.expr(f"round(CAST(n_true AS DOUBLE) + {noise}, 6)").alias(
            "n_noisy6"
        ),
        F.expr(f"round(abs({noise}), 6)").alias("abs_err6"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q_e_conformal_gate (round 8)
# ---------------------------------------------------------------------------

# Calibration/test split: content-stable md5 parity on doc_id (the
# q_e_train_split convention). Score: 6-dp mean chars per token — a
# cheap quality proxy whose distribution the gate calibrates against.
_CF_CAL_SPARK = (
    "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), '#conf')),"
    " 1, 15), 16, 10) AS BIGINT) % 2 = 0"
)
_CF_CAL_DUCK = (
    "CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR) || '#conf'),"
    " 1, 15)) AS BIGINT) % 2 = 0"
)


@query(
    "q_e_conformal_gate",
    oracle=f"""
    WITH sc AS (
      SELECT doc_id,
             round(CAST(n_chars AS DOUBLE)
                   / len(string_split(text, ' ')), 6) AS score6,
             {_CF_CAL_DUCK} AS is_cal
      FROM documents
    ),
    cal AS (SELECT score6 FROM sc WHERE is_cal),
    nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal,
                  (9 * (COUNT(*) + 1) + 9) // 10 AS k
           FROM cal),
    thr AS (
      SELECT (SELECT score6 FROM cal ORDER BY score6
              LIMIT 1 OFFSET (SELECT k - 1 FROM nc)) AS threshold6
    ),
    tst AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
             round(CAST(SUM(CASE WHEN score6 <= t.threshold6
                                 THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*), 6) AS cov
      FROM sc CROSS JOIN thr t WHERE NOT is_cal
    )
    SELECT nc.n_cal, tst.n_test, nc.k, thr.threshold6,
           CASE WHEN thr.threshold6 IS NULL THEN 1e0
                ELSE tst.cov END AS coverage6
    FROM nc CROSS JOIN thr CROSS JOIN tst
    """,
)
def q_e_conformal_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPLIT-CONFORMAL quality gate (round 8; Vovk's conformal
    prediction, the Angelopoulos & Bates 2021 split recipe): from a
    held-out calibration half, take the k = ⌈0.9·(n+1)⌉-th smallest
    quality score as the distribution-free threshold, then AUDIT the
    guarantee on the test half — coverage must be ≥ 90% in
    expectation with no distributional assumption. This is how a
    production pipeline sets quality-filter cutoffs with a
    calibrated false-block rate instead of a hand-picked constant
    (the measured-decision companion to q_e_length_gate /
    q_e_quality_filter's fixed thresholds).

    Exactness: k is exact integer ceiling arithmetic
    ((9(n+1)+9) DIV 10 — float 0.9·(n+1) can land either side of an
    exact multiple); the k-th order statistic is selected exactly.
    Scale: the Spark spelling collapses the calibration half to
    per-score counts, runs `tables.chunked_prefix` over them (chunks =
    floor(score6), ascending with the score order over distinct
    scores; frames and totals bounded by the 6-dp score domain, the
    q_e_quality_auc exemption) and picks the threshold as a
    combinable MIN — never a global sort; the oracle uses the naive
    ORDER BY/OFFSET selection, fine at DuckDB scale.
    Coverage is one broadcast-scalar pass over the test half."""
    sc = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.round(
            F.col("n_chars").cast("double") / F.size(F.split("text", " ")),
            6,
        ).alias("score6"),
        F.expr(_CF_CAL_SPARK).alias("is_cal"),
    )
    cal = sc.where("is_cal")
    nc = cal.agg(
        F.count(F.lit(1)).alias("n_cal"),
        F.expr("(9 * (COUNT(*) + 1) + 9) DIV 10").alias("k"),
    )
    per = (
        cal.groupBy("score6")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("chk", F.floor("score6"))
    )
    cum = chunked_prefix(per, [], ["chk"], ["score6"], {"cum": "c"})
    thr = (
        cum.crossJoin(F.broadcast(nc.select("k")))
        .where(F.col("cum") >= F.col("k"))
        .agg(F.min("score6").alias("threshold6"))
    )
    tst = (
        sc.where(~F.col("is_cal"))
        .crossJoin(F.broadcast(thr))
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.round(
                F.sum(
                    F.when(F.col("score6") <= F.col("threshold6"), 1)
                    .otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("cov"),
        )
    )
    return (
        nc.crossJoin(F.broadcast(thr))
        .crossJoin(F.broadcast(tst))
        .select(
            "n_cal",
            "n_test",
            "k",
            "threshold6",
            F.when(F.col("threshold6").isNull(), F.lit(1.0))
            .otherwise(F.col("cov"))
            .alias("coverage6"),
        )
    )


# ---------------------------------------------------------------------------
# q_e_winsorize (round 8)
# ---------------------------------------------------------------------------


@query(
    "q_e_winsorize",
    oracle="""
    WITH n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn,
                      (5 * COUNT(*) + 99) // 100 AS k_lo,
                      (95 * COUNT(*) + 99) // 100 AS k_hi
               FROM documents),
    lo AS (SELECT (SELECT n_chars FROM documents ORDER BY n_chars
                   LIMIT 1 OFFSET (SELECT k_lo - 1 FROM n)) AS t_lo),
    hi AS (SELECT (SELECT n_chars FROM documents ORDER BY n_chars
                   LIMIT 1 OFFSET (SELECT k_hi - 1 FROM n)) AS t_hi)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_chars < t_lo THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clip_lo,
           CAST(SUM(CASE WHEN n_chars > t_hi THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clip_hi,
           ANY_VALUE(t_lo) AS t_lo,
           ANY_VALUE(t_hi) AS t_hi,
           round(CAST(SUM(CAST((CAST(n_chars AS DOUBLE))
                               AS DECIMAL(30,6))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_raw6,
           round(CAST(SUM(CAST((CAST(least(greatest(n_chars, t_lo), t_hi)
                                     AS DOUBLE)) AS DECIMAL(30,6)))
                      AS DOUBLE) / COUNT(*), 6) AS mean_wins6
    FROM documents CROSS JOIN lo CROSS JOIN hi
    GROUP BY source ORDER BY source
    """,
)
def q_e_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINSORIZATION audit (round 8; Hastings et al. 1947 / the
    standard robust-statistics clip): clip document lengths at the
    exact p5/p95 ORDER STATISTICS (k = ⌈q·n⌉, exact integer
    arithmetic — float 0.05·n can land either side of an exact
    multiple) and report, per source, how much mass each tail clip
    removes and the raw-vs-winsorized mean shift — the outlier
    treatment a curation pipeline applies before any mean-based
    mixture/quota computation trusts its numbers
    (q_e_zscore_norm standardizes; this BOUNDS).

    Scale spelling: both thresholds come from ONE per-value count
    frame (n_chars is integer-domain) through `tables.chunked_prefix`
    (chunks = n_chars DIV 256, ascending with the distinct-value order;
    totals bounded by the n_chars domain) and a combinable MIN —
    never a global sort; the thresholds broadcast back as a 1-row
    crossJoin; the per-source rollup is one map-side-combinable
    groupBy. The oracle uses the naive ORDER BY/OFFSET selection, fine
    at DuckDB scale."""
    d = load_table(spark, sf_dir, "documents")
    n = d.agg(
        F.count(F.lit(1)).alias("nn"),
        F.expr("(5 * COUNT(*) + 99) DIV 100").alias("k_lo"),
        F.expr("(95 * COUNT(*) + 99) DIV 100").alias("k_hi"),
    )
    per = (
        d.groupBy("n_chars")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("chk", F.expr("n_chars DIV 256"))
    )
    cum = chunked_prefix(per, [], ["chk"], ["n_chars"], {"cum": "c"})
    ks = cum.crossJoin(F.broadcast(n))
    thr = ks.agg(
        F.min(F.when(F.col("cum") >= F.col("k_lo"), F.col("n_chars"))).alias(
            "t_lo"
        ),
        F.min(F.when(F.col("cum") >= F.col("k_hi"), F.col("n_chars"))).alias(
            "t_hi"
        ),
    )
    clipped = d.crossJoin(F.broadcast(thr))
    wexpr = "CAST(least(greatest(n_chars, t_lo), t_hi) AS DOUBLE)"
    return (
        clipped.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("n_chars") < F.col("t_lo"), 1).otherwise(0))
            .cast("long")
            .alias("n_clip_lo"),
            F.sum(F.when(F.col("n_chars") > F.col("t_hi"), 1).otherwise(0))
            .cast("long")
            .alias("n_clip_hi"),
            F.first("t_lo").alias("t_lo"),
            F.first("t_hi").alias("t_hi"),
            F.round(F.expr(davg("CAST(n_chars AS DOUBLE)")), 6).alias(
                "mean_raw6"
            ),
            F.round(F.expr(davg(wexpr)), 6).alias("mean_wins6"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q_e_pr_auc (round 8)
# ---------------------------------------------------------------------------


@query(
    "q_e_pr_auc",
    oracle=f"""
    WITH {_CAL_PER_CTES},
    cum AS (
      SELECT score, pos, neg,
             SUM(pos) OVER (ORDER BY score DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS tp,
             SUM(neg) OVER (ORDER BY score DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS fp
      FROM per
    )
    SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
           CAST(SUM(neg) AS BIGINT) AS n_neg,
           COUNT(*) AS n_thresholds,
           CAST(CAST(SUM(pos * ((tp * 1000000) // (tp + fp))) AS BIGINT)
                // NULLIF(CAST(SUM(pos) AS BIGINT), 0) AS BIGINT)
             AS ap_ppm,
           CAST((CAST(SUM(pos) AS BIGINT) * 1000000)
                // (CAST(SUM(pos) AS BIGINT) + CAST(SUM(neg) AS BIGINT))
                AS BIGINT) AS prevalence_ppm
    FROM cum
    """,
)
def q_e_pr_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVERAGE PRECISION (PR-curve area) of the quality classifier
    (round 8) — the threshold-free companion q_e_quality_auc's ROC
    AUC needs on IMBALANCED gold labels: ROC AUC stays optimistic
    when negatives dominate, while AP weights precision at every
    recall step by the positive mass actually retrieved there
    (Davis & Goadrich 2006). Reported next to prevalence_ppm — AP's
    no-skill baseline — so the lift is read directly from the row.

    Form: thresholds descend the distinct 6-dp scores; at each,
    AP += pos_s · P(score >= s), P = TP/(TP+FP), summed in exact
    integer ppm (per-term floor DIV, deterministic in both engines —
    the auc_ppm convention). Shares _cal_per_scores / _CAL_PER_CTES
    with the ROC op: one combinable groupBy(score) collapses the
    corpus, and the descending prefix sums run over the same
    bounded-6-dp-domain frame (the documented un-partitioned-window
    exemption at the q_e_quality_auc site)."""
    per = _cal_per_scores(spark, sf_dir)
    w = Window.orderBy(F.col("score").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per.withColumn("tp", F.sum("pos").over(w)).withColumn(
        "fp", F.sum("neg").over(w)
    )
    return cum.agg(
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum("neg").cast("long").alias("n_neg"),
        F.count(F.lit(1)).alias("n_thresholds"),
        F.expr(
            "CAST(CAST(SUM(pos * ((tp * 1000000) DIV (tp + fp))) AS BIGINT)"
            " DIV NULLIF(CAST(SUM(pos) AS BIGINT), 0) AS BIGINT)"
        ).alias("ap_ppm"),
        F.expr(
            "CAST((CAST(SUM(pos) AS BIGINT) * 1000000)"
            " DIV (CAST(SUM(pos) AS BIGINT) + CAST(SUM(neg) AS BIGINT))"
            " AS BIGINT)"
        ).alias("prevalence_ppm"),
    )


# ---------------------------------------------------------------------------
# q_e_aes_sample (round 8)
# ---------------------------------------------------------------------------

_AES_K = 64
_AES_U_SPARK = (
    "(CAST(CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), '#aes')),"
    " 1, 15), 16, 10) AS BIGINT) AS DOUBLE) + 0.5) / 1152921504606846976.0"
)
_AES_U_DUCK = (
    "(CAST(CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)"
    " || '#aes'), 1, 15)) AS BIGINT) AS DOUBLE) + 0.5)"
    " / 1152921504606846976.0"
)


@query(
    "q_e_aes_sample",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             round(round(ln({_AES_U_DUCK}), 6)
                   / CAST(n_chars AS DOUBLE), 9) AS skey
      FROM documents WHERE n_chars > 0
    ),
    top AS (SELECT * FROM keyed ORDER BY skey DESC, doc_id LIMIT {_AES_K})
    SELECT CAST(row_number() OVER (ORDER BY skey DESC, doc_id) AS BIGINT)
             AS rank,
           doc_id, source, n_chars, skey
    FROM top ORDER BY rank
    """,
)
def q_e_aes_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED SAMPLING WITHOUT REPLACEMENT at cluster scale
    (round 8; Efraimidis & Spirakis 2006, the A-ES keyed method): each
    document draws key u^(1/w) (spelled in log space, ln(u)/w, which
    preserves the order and avoids the underflow u^(1/w) hits for
    large weights) and the k=64 largest keys ARE a weight-proportional
    sample without replacement — the only known one-pass, merge-able
    spelling: per-partition top-k then a k-row merge, no global sort,
    no sequential draw-and-remove. q_e_weighted_sample is the
    fixed-quota systematic method over a prefix sum; THIS is the
    per-item keyed method a 1000-executor job uses when the quota is
    small and the corpus unordered.

    Weights: n_chars (length-proportional). Determinism: u is the
    repo's md5 60-bit draw shifted into strictly-open (0,1); ln is
    6-dp-rounded per the house convention, the /w division and 9-dp
    round are single pinned ops — identical bits in both engines.
    Scale: the ORDER BY/LIMIT spells as TakeOrderedAndProject
    (plan-pinned); the rank window runs over the 64-row result."""
    d = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    keyed = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.expr(
            f"round(round(ln({_AES_U_SPARK}), 6)"
            " / CAST(n_chars AS DOUBLE), 9)"
        ).alias("skey"),
    )
    top = keyed.orderBy(F.col("skey").desc(), F.col("doc_id").asc()).limit(
        _AES_K
    )
    w = Window.orderBy(F.col("skey").desc(), F.col("doc_id").asc())
    return top.select(
        F.row_number().over(w).cast("long").alias("rank"),
        "doc_id",
        "source",
        "n_chars",
        "skey",
    ).orderBy("rank")


# ---------------------------------------------------------------------------
# q_e_dp_quantile (round 8)
# ---------------------------------------------------------------------------

_DPQ_U_SPARK = (
    "(CAST(CAST(conv(substring(md5(concat(CAST(v AS STRING), '#dpq')),"
    " 1, 15), 16, 10) AS BIGINT) AS DOUBLE) + 0.5) / 1152921504606846976.0"
)
_DPQ_U_DUCK = (
    "(CAST(CAST(concat('0x', substring(md5(CAST(v AS VARCHAR)"
    " || '#dpq'), 1, 15)) AS BIGINT) AS DOUBLE) + 0.5)"
    " / 1152921504606846976.0"
)


def _dpq_score(u_expr: str) -> str:
    """Gumbel-max exponential mechanism at ε=1 for the median:
    score(v) = −|2·cnt_le(v) − n|/4 + Gumbel(v), Gumbel = −ln(−ln u)
    with each ln 6-dp-rounded (house convention)."""
    return (
        "round(-CAST(abs(2 * cnt_le - nn) AS DOUBLE) / 4.0"
        f" + round(-ln(round(-ln({u_expr}), 6)), 6), 6)"
    )


@query(
    "q_e_dp_quantile",
    oracle=f"""
    WITH per AS (
      SELECT n_chars AS v, COUNT(*) AS c FROM documents GROUP BY n_chars
    ),
    cum AS (
      SELECT v, SUM(c) OVER (ORDER BY v
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cnt_le
      FROM per
    ),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM documents),
    sc AS (SELECT v, cnt_le, nn, {_dpq_score(_DPQ_U_DUCK)} AS score
           FROM cum CROSS JOIN nt),
    best AS (SELECT MAX(score) AS ms FROM sc),
    pick AS (SELECT MIN(v) AS dp_median FROM sc, best WHERE score = ms),
    tru AS (SELECT MIN(v) AS true_median
            FROM sc WHERE cnt_le >= (nn + 1) // 2)
    SELECT CAST(1 AS BIGINT) AS eps,
           nt.nn AS n_docs,
           tru.true_median, pick.dp_median,
           CAST(abs(pick.dp_median - tru.true_median) AS BIGINT)
             AS abs_err
    FROM nt, tru, pick
    """,
)
def q_e_dp_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DP MEDIAN via the EXPONENTIAL MECHANISM (round 8; McSherry &
    Talwar 2007), completing the release pair q_e_dp_counts started:
    counts release through Laplace, ORDER STATISTICS release through
    exponential — the Laplace mechanism cannot release a median
    (sensitivity of the median is the data range). Candidates are the
    distinct length values; utility u(v) = −|cnt_le(v) − n/2|
    (how far v sits from the true median rank); selection is the
    Gumbel-max reformulation (argmax of ε·u/2 + Gumbel), which
    turns the sampling into one deterministic combinable MAX.

    Same honesty label as q_e_dp_counts: draws are md5-pseudo-random
    (deterministic by oracle contract) — this op is the mechanics,
    not a privacy guarantee. Scale: per-value counts (integer
    domain) → the cnt_le prefix over the bounded distinct-value
    frame (the winsorize exemption) → ONE max + equality probe; the
    true median reads off the same cum frame for the audit column."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy(F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).alias("c")
    )
    # bounded distinct-value frame (n_chars domain) — same exemption
    # as q_e_winsorize's selection pass, spelled chunked there; here
    # the score needs every candidate anyway, so one pass suffices
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.withColumn("cnt_le", F.sum("c").over(w)).select("v", "cnt_le")
    nt = d.agg(F.count(F.lit(1)).alias("nn"))
    sc = cum.crossJoin(F.broadcast(nt)).withColumn(
        "score", F.expr(_dpq_score(_DPQ_U_SPARK))
    )
    best = sc.agg(F.max("score").alias("ms"))
    pick = (
        sc.crossJoin(F.broadcast(best))
        .where(F.col("score") == F.col("ms"))
        .agg(F.min("v").alias("dp_median"))
    )
    tru = (
        sc.where(F.col("cnt_le") >= F.expr("(nn + 1) DIV 2"))
        .agg(F.min("v").alias("true_median"))
    )
    return (
        nt.crossJoin(F.broadcast(tru))
        .crossJoin(F.broadcast(pick))
        .select(
            F.lit(1).cast("long").alias("eps"),
            F.col("nn").alias("n_docs"),
            "true_median",
            "dp_median",
            F.abs(F.col("dp_median") - F.col("true_median"))
            .cast("long")
            .alias("abs_err"),
        )
    )


# ---------------------------------------------------------------------------
# q_e_brier_decomp (round 8)
# ---------------------------------------------------------------------------


@query(
    "q_e_brier_decomp",
    oracle=f"""
    WITH {_CAL_PER_CTES},
    tot AS (
      SELECT CAST(SUM(pos + neg) AS BIGINT) AS n,
             CAST(SUM(pos) AS BIGINT) AS p
      FROM per
    ),
    terms AS (
      SELECT per.score, per.pos, per.neg, tot.n, tot.p,
             CAST(per.pos + per.neg AS BIGINT) AS ns,
             CAST(per.pos AS DOUBLE) / (per.pos + per.neg) AS os,
             CAST(tot.p AS DOUBLE) / tot.n AS obar
      FROM per CROSS JOIN tot
    )
    SELECT MAX(n) AS n,
           CAST(MAX(p) * 1000000 // MAX(n) AS BIGINT) AS base_rate_ppm,
           round({dsum('pos * (1.0 - score) * (1.0 - score)'
                       ' + neg * score * score', 12, 38)}
                 / MAX(n), 6) AS brier6,
           round(MAX(obar) * (1.0 - MAX(obar)), 6) AS unc6,
           round({dsum('ns * (score - os) * (score - os)', 12, 38)}
                 / MAX(n), 6) AS rel6,
           round({dsum('ns * (os - obar) * (os - obar)', 12, 38)}
                 / MAX(n), 6) AS res6
    FROM terms
    """,
)
def q_e_brier_decomp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy (1973) decomposition of the quality classifier's Brier
    score (round 8): BS = UNC + REL − RES, computed per DISTINCT
    forecast value so the identity is exact (no binning residual).
    The third leg of the classifier-audit triad — q_e_quality_auc says
    whether the RANKING separates, q_e_quality_calibration says
    whether binned probabilities are honest, and the decomposition
    says where the probability error LIVES: reliability (score ↔
    observed rate mismatch — fixable by recalibration without
    retraining) vs resolution (how much the classifier's scores
    actually distinguish outcome groups — not fixable by any monotone
    remap). A curation team reads REL ≫ 0 as "recalibrate, keep the
    model" and RES → 0 as "retrain".

    Exactness: the per-score frame is the exact forecast partition
    (6-dp sigmoid domain, corpus-size-independent — the q_e_quality_auc
    bounded-domain exemption); o_s = pos/n_s and ō = P/N are IEEE
    divisions of BIGINTs (identical bits in both engines), each term
    is one double product, and the cross-score sums ride 12-dp exact
    DECIMAL so result doubles are order-insensitive. Scale: shares
    _cal_per_scores' one combinable groupBy(score); everything after
    is a ≤1e6-row fold with a 1-row broadcast total."""
    per = _cal_per_scores(spark, sf_dir)
    tot = per.agg(
        F.sum(F.col("pos") + F.col("neg")).cast("long").alias("n"),
        F.sum("pos").cast("long").alias("p"),
    )
    terms = per.join(F.broadcast(tot)).select(
        "score",
        "pos",
        "neg",
        "n",
        "p",
        (F.col("pos") + F.col("neg")).cast("long").alias("ns"),
        (F.col("pos").cast("double") / (F.col("pos") + F.col("neg"))).alias(
            "os"
        ),
        (F.col("p").cast("double") / F.col("n")).alias("obar"),
    )
    return terms.agg(
        F.max("n").alias("n"),
        F.expr("CAST(MAX(p) * 1000000 DIV MAX(n) AS BIGINT)").alias(
            "base_rate_ppm"
        ),
        F.round(
            F.expr(
                dsum(
                    "pos * (1.0 - score) * (1.0 - score)"
                    " + neg * score * score",
                    12,
                    38,
                )
            )
            / F.expr("MAX(n)"),
            6,
        ).alias("brier6"),
        F.round(
            F.expr("MAX(obar)") * (F.lit(1.0) - F.expr("MAX(obar)")), 6
        ).alias("unc6"),
        F.round(
            F.expr(dsum("ns * (score - os) * (score - os)", 12, 38))
            / F.expr("MAX(n)"),
            6,
        ).alias("rel6"),
        F.round(
            F.expr(dsum("ns * (os - obar) * (os - obar)", 12, 38))
            / F.expr("MAX(n)"),
            6,
        ).alias("res6"),
    )


# ---------------------------------------------------------------------------
# q_e_threshold_sweep (round 8)
# ---------------------------------------------------------------------------


@query(
    "q_e_threshold_sweep",
    oracle=f"""
    WITH {_CAL_PER_CTES},
    ppm AS (
      SELECT CAST(floor(score * 1000000.0 + 0.5) AS BIGINT) AS s_ppm,
             pos, neg
      FROM per
    ),
    tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS p FROM ppm),
    grid AS (SELECT unnest(generate_series(1, 9)) AS t)
    SELECT g.t * 10 AS threshold_pct,
           CAST(COALESCE(SUM(pos + neg), 0) AS BIGINT) AS n_kept,
           CAST(COALESCE(SUM(pos), 0) AS BIGINT) AS pos_kept,
           CAST(COALESCE(SUM(pos), 0) * 1000000
                // NULLIF(CAST(SUM(pos + neg) AS BIGINT), 0) AS BIGINT)
             AS precision_ppm,
           CAST(COALESCE(SUM(pos), 0) * 1000000 // MAX(tot.p) AS BIGINT)
             AS recall_ppm
    FROM grid g
    CROSS JOIN tot
    LEFT JOIN ppm ON ppm.s_ppm >= g.t * 100000
    GROUP BY g.t ORDER BY g.t
    """,
)
def q_e_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point table for the quality classifier (round 8): for
    each cut in the 0.1…0.9 threshold grid, how many documents
    survive, how many of them are gold-good, and the resulting
    precision/recall — the table a curation team actually reads to
    PICK the threshold after q_e_quality_auc/q_e_pr_auc certify the
    ranking and q_e_brier_decomp certifies the probabilities. (The
    AUCs integrate over all thresholds; deployment runs exactly one.)

    Exactness: scores enter as round-half-up ppm BIGINTs so the grid
    comparison is pure integer (no double-literal 0.1 ambiguity);
    precision/recall are integer DIV ppm, NULLIF-guarded for cuts that
    keep nothing. Scale: rides _cal_per_scores' bounded per-score
    frame; the 9-row grid theta-join fans the ≤1e6-row frame out 9×
    at worst — corpus-size-independent either way — and the positives
    total is a 1-row broadcast."""
    per = _cal_per_scores(spark, sf_dir)
    ppm = per.select(
        F.expr("CAST(floor(score * 1000000.0 + 0.5) AS BIGINT)").alias(
            "s_ppm"
        ),
        "pos",
        "neg",
    )
    tot = ppm.agg(F.sum("pos").cast("long").alias("p"))
    grid = spark.range(1, 10).select(F.col("id").cast("int").alias("t"))
    return (
        grid.join(F.broadcast(tot))
        .join(
            F.broadcast(ppm),
            F.col("s_ppm") >= F.col("t") * 100000,
            "left",
        )
        .groupBy("t")
        .agg(
            F.coalesce(F.sum(F.col("pos") + F.col("neg")), F.lit(0))
            .cast("long")
            .alias("n_kept"),
            F.coalesce(F.sum("pos"), F.lit(0)).cast("long").alias("pos_kept"),
            F.expr(
                "CAST(COALESCE(SUM(pos), 0) * 1000000"
                " DIV NULLIF(CAST(SUM(pos + neg) AS BIGINT), 0) AS BIGINT)"
            ).alias("precision_ppm"),
            F.expr(
                "CAST(COALESCE(SUM(pos), 0) * 1000000 DIV MAX(p) AS BIGINT)"
            ).alias("recall_ppm"),
        )
        .select(
            (F.col("t") * 10).alias("threshold_pct"),
            "n_kept",
            "pos_kept",
            "precision_ppm",
            "recall_ppm",
        )
        .orderBy("threshold_pct")
    )


# ---------------------------------------------------------------------------
# q_e_neyman_alloc (round 8)
# ---------------------------------------------------------------------------

_NEY_N = 1000  # total audit-sample budget to allocate


@query(
    "q_e_neyman_alloc",
    oracle=f"""
    WITH mom AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS s,
             CAST(SUM(n_chars * n_chars) AS BIGINT) AS q
      FROM documents GROUP BY source
    ),
    sig AS (
      SELECT source, n_docs,
             round(sqrt(CAST(q * n_docs - s * s AS DOUBLE)
                        / (CAST(n_docs AS DOUBLE) * n_docs)), 6) AS sigma6
      FROM mom
    ),
    tot AS (
      SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
             {dsum('n_docs * sigma6')} AS w,
             {dsum('n_docs * sigma6 * sigma6', 12, 38)} AS w2
      FROM sig
    )
    SELECT s.source, s.n_docs, s.sigma6,
           CAST(floor({_NEY_N} * s.n_docs * s.sigma6 / t.w + 0.5)
                AS BIGINT) AS neyman_n,
           CAST(floor({_NEY_N}.0 * s.n_docs / t.n + 0.5) AS BIGINT)
             AS prop_n,
           round(t.w * t.w / (CAST(t.n AS DOUBLE) * t.w2), 6)
             AS neyman_gain6
    FROM sig s CROSS JOIN tot t
    ORDER BY s.source
    """,
)
def q_e_neyman_alloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified-sampling allocation per source (round
    8): for a fixed human-audit budget of 1,000 docs, the
    variance-minimizing stratum allocation n_h ∝ N_h·σ_h (Neyman
    1934) against the naive proportional n_h ∝ N_h — the design table
    behind every corpus eyeball-audit and labeling run: long-tailed
    strata (high σ) earn MORE than their headcount share, templated
    strata less. neyman_gain6 = V_prop/V_Neyman = (ΣN_hσ_h)²/(N·ΣN_hσ_h²)
    ≤ 1 is repeated per row as the corpus constant that says how much
    estimator variance the optimal design saves (1.0 ⇒ equal σ
    everywhere, proportional is already optimal).

    Exactness: per-stratum variance comes from EXACT integer moments
    in cross-multiplied form (Q·N − S²)/N² — one IEEE division and
    sqrt, 6-dp-rounded; everything downstream of sigma6 rides exact
    DECIMAL sums over the |sources|-row frame, so the allocation is
    bit-stable. Q·N stays in BIGINT to ~1e5-char docs at ~1e8 rows
    per stratum; swap the moment columns to DECIMAL(38,0) beyond.
    Scale: ONE combinable groupBy(source) moment pass; the allocation
    math runs on |sources| rows behind a 1-row broadcast total."""
    d = load_table(spark, sf_dir, "documents")
    mom = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("s"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("long").alias("q"),
    )
    sig = mom.select(
        "source",
        "n_docs",
        F.round(
            F.sqrt(
                (F.col("q") * F.col("n_docs") - F.col("s") * F.col("s")).cast(
                    "double"
                )
                / (F.col("n_docs").cast("double") * F.col("n_docs"))
            ),
            6,
        ).alias("sigma6"),
    )
    tot = sig.agg(
        F.sum("n_docs").cast("long").alias("n"),
        F.expr(dsum("n_docs * sigma6")).alias("w"),
        F.expr(dsum("n_docs * sigma6 * sigma6", 12, 38)).alias("w2"),
    )
    return (
        sig.join(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "sigma6",
            F.floor(
                F.lit(_NEY_N) * F.col("n_docs") * F.col("sigma6") / F.col("w")
                + 0.5
            )
            .cast("long")
            .alias("neyman_n"),
            F.floor(
                F.lit(float(_NEY_N)) * F.col("n_docs") / F.col("n") + 0.5
            )
            .cast("long")
            .alias("prop_n"),
            F.round(
                F.col("w") * F.col("w")
                / (F.col("n").cast("double") * F.col("w2")),
                6,
            ).alias("neyman_gain6"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q_e_poisson_boot (round 8)
# ---------------------------------------------------------------------------

_PB_B = 64  # bootstrap replicates
# Poisson(1) inverse-CDF thresholds scaled to the md5-15-hex 2^60 hash
# space: a 60-bit uniform u gets weight w = #{k : u >= T_k} — floor
# values of cdf(k)·2^60 for k = 0..8 (P[w > 9] < 1e-7; the ladder
# truncates there). Integer comparisons only: no float RNG anywhere.
_PB_THRESHOLDS = (
    424136118829305344,
    848272237658610688,
    1060340297073263360,
    1131029650211480960,
    1148701988496035328,
    1152236456152946176,
    1152825534095764608,
    1152909688087595776,
    1152920207336574720,
)
_PB_W_SQL = "(" + " + ".join(
    f"CASE WHEN hv >= {t} THEN 1 ELSE 0 END" for t in _PB_THRESHOLDS
) + ")"


@query(
    "q_e_poisson_boot",
    oracle=f"""
    WITH reps AS (
      SELECT d.source, d.n_chars, g.b,
             CAST(concat('0x', substring(md5(CAST(d.doc_id AS VARCHAR)
                                             || ':' || CAST(g.b AS VARCHAR)),
                                         1, 15)) AS BIGINT) AS hv
      FROM documents d
      CROSS JOIN (SELECT unnest(generate_series(0, {_PB_B - 1})) AS b) g
    ),
    partials AS (
      SELECT source, b,
             CAST(SUM({_PB_W_SQL}) AS BIGINT) AS sw,
             CAST(SUM({_PB_W_SQL} * n_chars) AS BIGINT) AS swx
      FROM reps GROUP BY source, b
    ),
    means AS (
      SELECT source,
             round(CAST(swx AS DOUBLE) / sw, 6) AS m6
      FROM partials
    ),
    ranked AS (
      SELECT source, m6,
             ROW_NUMBER() OVER (PARTITION BY source ORDER BY m6) AS rk
      FROM means
    ),
    pt AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             round(CAST(SUM(n_chars) AS BIGINT) * 1.0 / COUNT(*), 6)
               AS point_mean6
      FROM documents GROUP BY source
    )
    SELECT p.source, p.n_docs, p.point_mean6,
           round({dsum('m6')} / {_PB_B}, 6) AS boot_mean6,
           MAX(CASE WHEN r.rk = 2 THEN r.m6 END) AS ci_lo6,
           MAX(CASE WHEN r.rk = {_PB_B - 1} THEN r.m6 END) AS ci_hi6
    FROM ranked r JOIN pt p ON p.source = r.source
    GROUP BY p.source, p.n_docs, p.point_mean6
    ORDER BY p.source
    """,
)
def q_e_poisson_boot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap confidence interval for each source's mean
    document length (round 8): THE distributed bootstrap (Chamandy et
    al., Google 2012) — instead of materializing B resampled corpora,
    every (doc, replicate) pair draws an independent Poisson(1) weight
    and replicate b's mean is Σw·x / Σw, so all 64 resamples ride ONE
    corpus pass with map-side combine into |sources|·64 partial sums.
    The uncertainty layer under q_e_neyman_alloc's design table: the
    allocator says where to spend samples, the bootstrap says how
    wide the resulting estimate really is (the classic use: deciding
    whether two sources' mean lengths differ beyond resampling noise).

    Determinism: weights come from the content-stable md5(doc_id:b)
    60-bit hash compared against PRECOMPUTED Poisson(1) inverse-CDF
    integer thresholds (floor(cdf_k·2^60), k = 0..8) — pure BIGINT
    comparisons, no float RNG, identical draws in both engines; Σw and
    Σw·x are exact BIGINTs, each replicate mean is one IEEE division
    rounded to 6 dp, and the CI is the 2nd/63rd order statistic of the
    64-replicate panel (ranked per source by the rounded mean — ties
    collapse to the same 6-dp value, so the tie-break is value-stable).
    Scale: the 64× fan-out happens SCAN-SIDE and combines within each
    task (shuffle = |sources|·64 rows of three longs); the 64-row
    per-source panels rank via sort_array on a collected 64-element
    list — corpus-size-independent. Σw·x stays in BIGINT to ~1e14
    chars per (source, replicate); beyond that swap the partials to
    DECIMAL(38,0)."""
    d = load_table(spark, sf_dir, "documents")
    g = spark.range(_PB_B).select(F.col("id").cast("int").alias("b"))
    reps = d.crossJoin(F.broadcast(g)).select(
        "source",
        "n_chars",
        "b",
        F.expr(
            "CAST(conv(substring(md5(concat(CAST(doc_id AS STRING), ':',"
            " CAST(b AS STRING))), 1, 15), 16, 10) AS BIGINT)"
        ).alias("hv"),
    )
    partials = (
        reps.select(
            "source", "b", F.expr(_PB_W_SQL).alias("w"), "n_chars"
        )
        .groupBy("source", "b")
        .agg(
            F.sum("w").cast("long").alias("sw"),
            F.sum(F.col("w") * F.col("n_chars")).cast("long").alias("swx"),
        )
    )
    means = partials.select(
        "source",
        F.round(F.col("swx").cast("double") / F.col("sw"), 6).alias("m6"),
    )
    panel = means.groupBy("source").agg(
        F.sort_array(F.collect_list("m6")).alias("ms")
    )
    pt = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.round(
            F.sum("n_chars").cast("long") * F.lit(1.0) / F.count(F.lit(1)), 6
        ).alias("point_mean6"),
    )
    return (
        panel.join(pt, "source")
        .select(
            "source",
            "n_docs",
            "point_mean6",
            F.round(
                F.expr(
                    "aggregate(ms, CAST(0 AS BIGINT), (acc, x) -> acc"
                    " + CAST(floor(x * 1000000.0 + 0.5) AS BIGINT))"
                ).cast("double")
                / F.lit(float(_PB_B) * 1000000.0),
                6,
            ).alias("boot_mean6"),
            F.element_at("ms", 2).alias("ci_lo6"),
            F.element_at("ms", _PB_B - 1).alias("ci_hi6"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q_e_filter_kappa (round 8)
# ---------------------------------------------------------------------------

# Shared with q_e_filter_agreement: the three cheap integer gate
# families (length bounds / type-token ratio / repetition cap) in
# identical text for both engines.
_FK_GATES = """tf AS (
      SELECT doc_id, tok, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      GROUP BY doc_id, tok
    ),
    per AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_tok,
             CAST(MAX(c) AS BIGINT) AS mx,
             COUNT(*) AS n_types
      FROM tf GROUP BY doc_id
    ),
    gates AS (
      SELECT n_tok BETWEEN 15 AND 80 AS g_len,
             n_types * 10 > n_tok * 3 AS g_ttr,
             mx * 100 <= n_tok * 15 AS g_rep
      FROM per
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) FILTER (WHERE g_len) AS BIGINT) AS c_len,
             CAST(COUNT(*) FILTER (WHERE g_ttr) AS BIGINT) AS c_ttr,
             CAST(COUNT(*) FILTER (WHERE g_rep) AS BIGINT) AS c_rep,
             CAST(COUNT(*) FILTER (WHERE g_len = g_ttr) AS BIGINT) AS a_lt,
             CAST(COUNT(*) FILTER (WHERE g_len = g_rep) AS BIGINT) AS a_lr,
             CAST(COUNT(*) FILTER (WHERE g_ttr = g_rep) AS BIGINT) AS a_tr
      FROM gates
    )"""

# The three kappa metrics as a LIST of per-column expressions with a
# {div} placeholder (// for DuckDB, DIV for Spark) — the single source
# both engines render from. Deliberately NOT one formatted SQL blob
# split back apart (ADVICE r8: an inner ',\\n' from reformatting would
# silently mis-split into invalid selectExpr fragments).
_FK_METRICS: tuple[str, ...] = (
    "CAST(n_agree * 1000000 {div} n AS BIGINT) AS po_ppm",
    "CAST((c_a * c_b + (n - c_a) * (n - c_b)) * 1000000 {div} (n * n)"
    " AS BIGINT) AS pe_ppm",
    "CAST((n_agree * n - c_a * c_b - (n - c_a) * (n - c_b)) * 1000000"
    " {div} NULLIF(n * n - c_a * c_b - (n - c_a) * (n - c_b), 0)"
    " AS BIGINT) AS kappa_ppm",
)

_FK_METRIC = ",\n           ".join(m.format(div="//") for m in _FK_METRICS)


@query(
    "q_e_filter_kappa",
    oracle=f"""
    WITH {_FK_GATES},
    pairs AS (
      SELECT 'len~ttr' AS pair, a_lt AS n_agree, c_len AS c_a,
             c_ttr AS c_b, n FROM agg
      UNION ALL
      SELECT 'len~rep', a_lr, c_len, c_rep, n FROM agg
      UNION ALL
      SELECT 'ttr~rep', a_tr, c_ttr, c_rep, n FROM agg
    )
    SELECT pair, n, n_agree,
           {_FK_METRIC}
    FROM pairs ORDER BY pair
    """,
)
def q_e_filter_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between each pair of curation gates (round 8):
    q_e_filter_agreement's contingency table shows RAW agreement, but
    two filters that each pass 95% of docs agree 90%+ by CHANCE alone
    — kappa = (p_o − p_e)/(1 − p_e) subtracts that base rate, and is
    the number that decides whether running both filters adds signal
    (κ ≈ 1 ⇒ redundant, drop one; κ ≈ 0 ⇒ independent evidence,
    ensemble them; κ < 0 ⇒ they systematically disagree — audit).
    The inter-annotator-agreement statistic, applied filter-to-filter.

    Exactness: pure BIGINT throughout — p_o, p_e, and kappa are
    integer-ppm in cross-multiplied form (kappa's numerator
    n_agree·n − c_a·c_b − (n−c_a)(n−c_b) over denominator
    n² − same, NULLIF-guarded for the degenerate all-agree-by-chance
    corpus). n² stays in BIGINT to ~3e9 docs; DECIMAL(38,0) beyond.
    Scale: one (doc, token) TF pass + one per-doc rollup collapse the
    corpus into a SINGLE 7-counter row; the 3 pair rows are a
    constant-size unpivot of that row."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    per = tf.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tok"),
        F.max("c").cast("long").alias("mx"),
        F.count(F.lit(1)).alias("n_types"),
    )
    gates = per.select(
        F.col("n_tok").between(15, 80).alias("g_len"),
        (F.col("n_types") * 10 > F.col("n_tok") * 3).alias("g_ttr"),
        (F.col("mx") * 100 <= F.col("n_tok") * 15).alias("g_rep"),
    )

    def cnt(cond: str) -> F.Column:
        return F.expr(f"CAST(COUNT(CASE WHEN {cond} THEN 1 END) AS BIGINT)")

    agg = gates.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        cnt("g_len").alias("c_len"),
        cnt("g_ttr").alias("c_ttr"),
        cnt("g_rep").alias("c_rep"),
        cnt("g_len = g_ttr").alias("a_lt"),
        cnt("g_len = g_rep").alias("a_lr"),
        cnt("g_ttr = g_rep").alias("a_tr"),
    )
    pairs = (
        agg.select(
            F.lit("len~ttr").alias("pair"),
            F.col("a_lt").alias("n_agree"),
            F.col("c_len").alias("c_a"),
            F.col("c_ttr").alias("c_b"),
            "n",
        )
        .unionAll(
            agg.select(
                F.lit("len~rep"),
                F.col("a_lr"),
                F.col("c_len"),
                F.col("c_rep"),
                "n",
            )
        )
        .unionAll(
            agg.select(
                F.lit("ttr~rep"),
                F.col("a_tr"),
                F.col("c_ttr"),
                F.col("c_rep"),
                "n",
            )
        )
    )
    metrics = [m.format(div="DIV") for m in _FK_METRICS]
    return pairs.selectExpr("pair", "n", "n_agree", *metrics).orderBy("pair")


# ---------------------------------------------------------------------------
# q_e_feature_mi (round 8)
# ---------------------------------------------------------------------------

# One exact-integer MI term (n_xy/N)*ln(n_xy*N/(n_x*n_y)) in the 6-dp
# ln convention, zero-cell-safe: identical text in both engines.
def _mi_term(nxy: str, nx: str, ny: str) -> str:
    return (
        f"CASE WHEN {nxy} > 0 THEN (CAST({nxy} AS DOUBLE) / n)"
        f" * round(ln(CAST({nxy} AS DOUBLE) * n"
        f" / (CAST({nx} AS DOUBLE) * ({ny}))), 6) ELSE 0.0 END"
    )


_MI_SUM = " + ".join(
    [
        _mi_term("n11", "c_g", "c_gold"),
        _mi_term("n10", "c_g", "n - c_gold"),
        _mi_term("n01", "n - c_g", "c_gold"),
        _mi_term("n00", "n - c_g", "n - c_gold"),
    ]
)


@query(
    "q_e_feature_mi",
    oracle=f"""
    WITH tf AS (
      SELECT doc_id, tok, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      GROUP BY doc_id, tok
    ),
    agg AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_tok,
             CAST(MAX(c) AS BIGINT) AS mx,
             COUNT(*) AS n_types,
             CAST(SUM(CASE WHEN tok IN ({_STOP_IN}) THEN c ELSE 0 END)
                  AS BIGINT) AS n_stop
      FROM tf GROUP BY doc_id
    ),
    per AS (
      SELECT a.n_tok, a.mx, a.n_types,
             CAST(d.n_chars - (a.n_tok - 1) AS DOUBLE) / a.n_tok
               AS avg_token_len,
             CAST(a.n_stop AS DOUBLE) / a.n_tok AS stop_ratio,
             a.n_tok AS n_tokens
      FROM agg a JOIN documents d ON d.doc_id = a.doc_id
    ),
    verdicts AS (
      SELECT n_tok BETWEEN 15 AND 80 AS g_len,
             n_types * 10 > n_tok * 3 AS g_ttr,
             mx * 100 <= n_tok * 15 AS g_rep,
             {_CAL_GOLD_DUCK} AS gold
      FROM per
    ),
    counts AS (
      SELECT 'len' AS gate,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(*) FILTER (WHERE g_len) AS BIGINT) AS c_g,
             CAST(COUNT(*) FILTER (WHERE gold) AS BIGINT) AS c_gold,
             CAST(COUNT(*) FILTER (WHERE g_len AND gold) AS BIGINT) AS n11,
             CAST(COUNT(*) FILTER (WHERE g_len AND NOT gold) AS BIGINT)
               AS n10,
             CAST(COUNT(*) FILTER (WHERE NOT g_len AND gold) AS BIGINT)
               AS n01,
             CAST(COUNT(*) FILTER (WHERE NOT g_len AND NOT gold) AS BIGINT)
               AS n00
      FROM verdicts
      UNION ALL
      SELECT 'rep', COUNT(*), COUNT(*) FILTER (WHERE g_rep),
             COUNT(*) FILTER (WHERE gold),
             COUNT(*) FILTER (WHERE g_rep AND gold),
             COUNT(*) FILTER (WHERE g_rep AND NOT gold),
             COUNT(*) FILTER (WHERE NOT g_rep AND gold),
             COUNT(*) FILTER (WHERE NOT g_rep AND NOT gold)
      FROM verdicts
      UNION ALL
      SELECT 'ttr', COUNT(*), COUNT(*) FILTER (WHERE g_ttr),
             COUNT(*) FILTER (WHERE gold),
             COUNT(*) FILTER (WHERE g_ttr AND gold),
             COUNT(*) FILTER (WHERE g_ttr AND NOT gold),
             COUNT(*) FILTER (WHERE NOT g_ttr AND gold),
             COUNT(*) FILTER (WHERE NOT g_ttr AND NOT gold)
      FROM verdicts
    )
    SELECT gate, n, c_g, c_gold, n11,
           round({_MI_SUM}, 6) AS mi_nats6
    FROM counts ORDER BY gate
    """,
)
def q_e_feature_mi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information of each curation gate with the gopher-lite
    gold label (round 8): the feature-selection table for filter
    design — I(gate; gold) in nats says how much a gate's verdict
    actually KNOWS about document quality, on the same scale for all
    gates regardless of pass rate (the property raw agreement and
    even κ lack: a gate passing 99% of docs can still carry high MI
    if its rejections are surgical). Reads with q_e_filter_kappa:
    κ measures gate-vs-GATE redundancy, MI measures gate-vs-TRUTH
    signal — together they pick the minimal filter ensemble.

    Exactness: all eight contingency counts are one COUNT-FILTER
    pass (exact BIGINT); each of the 4 MI terms is the house 6-dp-ln
    convention over ratios of those integers (zero cells contribute
    exactly 0 via the CASE guard, the 0·ln 0 limit), and the 4-term
    sum is a fixed-shape expression — identical trees in both
    engines. Scale: one (doc, token) TF pass (shared shape with the
    gate family), a per-doc rollup, then THREE single-row aggregates
    unioned — constant-size from there."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    stop_set = ", ".join(f"'{s}'" for s in _CLS_STOPWORDS)
    agg = tf.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tok"),
        F.max("c").cast("long").alias("mx"),
        F.count(F.lit(1)).alias("n_types"),
        F.expr(
            f"CAST(SUM(CASE WHEN tok IN ({stop_set}) THEN c ELSE 0 END)"
            " AS BIGINT)"
        ).alias("n_stop"),
    )
    per = agg.join(d.select("doc_id", "n_chars"), "doc_id").select(
        "n_tok",
        "mx",
        "n_types",
        (
            (F.col("n_chars") - (F.col("n_tok") - 1)).cast("double")
            / F.col("n_tok")
        ).alias("avg_token_len"),
        (F.col("n_stop").cast("double") / F.col("n_tok")).alias("stop_ratio"),
        F.col("n_tok").alias("n_tokens"),
    )
    verdicts = per.select(
        F.col("n_tok").between(15, 80).alias("g_len"),
        (F.col("n_types") * 10 > F.col("n_tok") * 3).alias("g_ttr"),
        (F.col("mx") * 100 <= F.col("n_tok") * 15).alias("g_rep"),
        F.expr(_CAL_GOLD_DUCK).alias("gold"),
    )

    def row(gate: str, g: str) -> DataFrame:
        def cnt(cond: str) -> F.Column:
            return F.expr(
                f"CAST(COUNT(CASE WHEN {cond} THEN 1 END) AS BIGINT)"
            )

        return verdicts.agg(
            F.lit(gate).alias("gate"),
            F.count(F.lit(1)).cast("long").alias("n"),
            cnt(g).alias("c_g"),
            cnt("gold").alias("c_gold"),
            cnt(f"{g} AND gold").alias("n11"),
            cnt(f"{g} AND NOT gold").alias("n10"),
            cnt(f"NOT {g} AND gold").alias("n01"),
            cnt(f"NOT {g} AND NOT gold").alias("n00"),
        )

    counts = (
        row("len", "g_len").unionAll(row("rep", "g_rep")).unionAll(
            row("ttr", "g_ttr")
        )
    )
    return counts.select(
        "gate",
        "n",
        "c_g",
        "c_gold",
        "n11",
        F.round(F.expr(_MI_SUM), 6).alias("mi_nats6"),
    ).orderBy("gate")


# ---------------------------------------------------------------------------
# q_e_domain_cap (round 8)
# ---------------------------------------------------------------------------

# RefinedWeb-style per-domain saturation cap: ~41 synthetic hosts per
# source (arithmetic doc_id % 41 — deterministic in both engines; a
# real crawl would parse the host from the URL, q_e_url_dedup's
# canonical key), keep the top-5 docs per host by (n_chars, doc_id).
_DCAP_N = 5


@query(
    "q_e_domain_cap",
    oracle=f"""
    WITH hosted AS (
      SELECT doc_id, source, n_chars,
             source || '-h' || CAST(doc_id % 41 AS VARCHAR) AS host
      FROM documents
    ),
    ranked AS (
      SELECT source, host, n_chars,
             ROW_NUMBER() OVER (
               PARTITION BY host ORDER BY n_chars DESC, doc_id
             ) AS rn
      FROM hosted
    ),
    perhost AS (
      SELECT source, host,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(*) FILTER (WHERE rn <= {_DCAP_N}) AS BIGINT) AS kept
      FROM ranked GROUP BY source, host
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_domains,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(SUM(kept) AS BIGINT) AS n_kept,
           CAST(SUM(kept) * 1000000 // SUM(n_docs) AS BIGINT)
             AS retention_ppm,
           CAST(MAX(n_docs) AS BIGINT) AS max_domain_docs,
           CAST(COUNT(*) FILTER (WHERE n_docs > {_DCAP_N}) AS BIGINT)
             AS capped_domains
    FROM perhost GROUP BY source ORDER BY source
    """,
)
def q_e_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain saturation cap (round 8): the RefinedWeb/C4 curation
    rule that no single web domain may flood the corpus — rank each
    host's documents by quality (n_chars proxy, doc_id tiebreak for a
    total order) and keep at most 5, reporting the per-source ledger:
    domain count, kept/total docs, retention ppm, the largest single
    domain, and how many domains actually hit the cap. Without this
    op a handful of template-heavy domains dominate training mixes no
    matter how good the per-doc filters are — it is the between-doc
    complement to the within-doc quality gates.

    Scale shape: ONE shuffle on the host key; the rank window is
    partitioned BY HOST so every partition is one domain's docs (the
    whole point of the cap is that these are small — a pathological
    mega-domain is exactly what the cap truncates, and AQE skew-split
    handles its sort); integer-only ppm arithmetic (DIV), no floats
    anywhere."""
    d = load_table(spark, sf_dir, "documents")
    hosted = d.select(
        "doc_id",
        "source",
        "n_chars",
        F.concat(
            F.col("source"), F.lit("-h"), (F.col("doc_id") % 41).cast("string")
        ).alias("host"),
    )
    rn = F.row_number().over(
        Window.partitionBy("host").orderBy(
            F.col("n_chars").desc(), F.col("doc_id")
        )
    )
    ranked = hosted.select("source", "host", "n_chars", rn.alias("rn"))
    perhost = ranked.groupBy("source", "host").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count(F.when(F.col("rn") <= _DCAP_N, 1)).cast("long").alias("kept"),
    )
    return (
        perhost.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_domains"),
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("kept").cast("long").alias("n_kept"),
            F.expr("CAST(SUM(kept) * 1000000 DIV SUM(n_docs) AS BIGINT)").alias(
                "retention_ppm"
            ),
            F.max("n_docs").cast("long").alias("max_domain_docs"),
            F.count(F.when(F.col("n_docs") > _DCAP_N, 1))
            .cast("long")
            .alias("capped_domains"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q_e_blocklist_score (round 8)
# ---------------------------------------------------------------------------

# Tiny in-query blocklist over the synthetic vocabulary — stands in
# for the word-list safety filters (LDNOOBW-style) every public
# corpus pipeline runs; 'dup' is deliberately rare in the corpus so
# the flag threshold separates real clusters from background noise.
_BLOCKLIST = "('slow', 'small', 'big', 'dup')"
_BL_THRESH_PPM = 120000  # flag a doc when >12% of tokens are listed


@query(
    "q_e_blocklist_score",
    oracle=f"""
    WITH scored AS (
      SELECT source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks,
             CAST(len(list_filter(string_split(text, ' '),
                                  t -> t IN {_BLOCKLIST})) AS BIGINT) AS hits
      FROM documents
    ),
    perdoc AS (
      SELECT source, n_toks, hits,
             CAST(hits * 1000000 // n_toks AS BIGINT) AS ratio_ppm
      FROM scored
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) FILTER (WHERE ratio_ppm > {_BL_THRESH_PPM})
                AS BIGINT) AS n_flagged,
           CAST(SUM(hits) AS BIGINT) AS total_hits,
           CAST(SUM(hits) * 1000000 // SUM(n_toks) AS BIGINT)
             AS corpus_ratio_ppm,
           CAST(MAX(ratio_ppm) AS BIGINT) AS max_ratio_ppm
    FROM perdoc GROUP BY source ORDER BY source
    """,
)
def q_e_blocklist_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-list safety scoring (round 8): the blocklist filter
    (LDNOOBW-style) every public corpus pipeline runs before
    training — per-token hit counting against a literal list (NOT
    distinct-token intersection: a doc repeating one listed word 50
    times must score 50), a per-doc ppm ratio, a >12% flag, and the
    per-source rollup that tells a curator which ingest feeds carry
    the problem. Complements the statistical gates (gopher-lite,
    q_e_quality_classifier): those measure HOW text is written, this
    measures WHAT it contains.

    Scale shape: the hit count is a higher-order `filter` lambda on
    the split array — scan-side, whole-stage codegen, zero Python,
    zero explode (the token array never becomes rows); the only
    shuffle is the final |sources|-row combinable rollup. Integer
    DIV ppm arithmetic end to end."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "source",
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("n_toks"),
        F.expr(
            f"CAST(size(filter(split(text, ' '), t -> t IN {_BLOCKLIST}))"
            " AS BIGINT)"
        ).alias("hits"),
    )
    perdoc = scored.select(
        "source",
        "n_toks",
        "hits",
        F.expr("CAST(hits * 1000000 DIV n_toks AS BIGINT)").alias("ratio_ppm"),
    )
    return (
        perdoc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count(F.when(F.col("ratio_ppm") > _BL_THRESH_PPM, 1))
            .cast("long")
            .alias("n_flagged"),
            F.sum("hits").cast("long").alias("total_hits"),
            F.expr(
                "CAST(SUM(hits) * 1000000 DIV SUM(n_toks) AS BIGINT)"
            ).alias("corpus_ratio_ppm"),
            F.max("ratio_ppm").cast("long").alias("max_ratio_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q_e_pack_audit (round 8)
# ---------------------------------------------------------------------------

# Training context-window packing: each source's docs concatenate in
# doc_id order into one token stream, chunked into fixed 64-token
# windows (docs may straddle a boundary — that is how LM pretraining
# packs sequences). 64 ≈ 2× the mean doc length here, so straddling
# is common and the ledger is non-trivial at every SF.
_PACK_B = 64
_PACK_CHUNK = 500


@query(
    "q_e_pack_audit",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_toks
      FROM documents
    ),
    pre AS (
      SELECT source, n_toks,
             COALESCE(SUM(n_toks) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS before
      FROM toks
    ),
    marked AS (
      SELECT source, n_toks,
             before // {_PACK_B} AS w_first,
             (before + n_toks - 1) // {_PACK_B} AS w_last
      FROM pre
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           CAST((SUM(n_toks) + {_PACK_B} - 1) // {_PACK_B} AS BIGINT)
             AS n_windows,
           CAST(COUNT(*) FILTER (WHERE w_first <> w_last) AS BIGINT)
             AS straddle_docs,
           CAST(COUNT(*) FILTER (WHERE w_first <> w_last) * 1000000
                // COUNT(*) AS BIGINT) AS straddle_ppm,
           CAST(COUNT(*) FILTER (WHERE n_toks > {_PACK_B}) AS BIGINT)
             AS oversize_docs,
           CAST((SUM(n_toks)
                 - ((SUM(n_toks) + {_PACK_B} - 1) // {_PACK_B} - 1)
                   * {_PACK_B}) * 1000000 // {_PACK_B} AS BIGINT)
             AS tail_fill_ppm,
           CAST(COUNT(*) * 1000
                // ((SUM(n_toks) + {_PACK_B} - 1) // {_PACK_B}) AS BIGINT)
             AS docs_per_window_milli
    FROM marked GROUP BY source ORDER BY source
    """,
)
def q_e_pack_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window packing AUDIT (round 8): concatenate
    each source's documents in doc_id order and cut the stream into
    fixed 64-token training windows — the packing step every LM
    pretraining pipeline runs between curation and batching
    (q_e_seq_pack ASSIGNS the per-doc pack ids; this op audits the
    resulting packing geometry source-by-source). Reports
    per source: window count, docs straddling a window boundary (the
    attention-contamination surface cross-document masking has to
    handle), oversize docs (span a full window on their own), tail
    fill of the final partial window, and packing density. A data
    engineer reads straddle_ppm to price document-boundary masking
    and tail_fill_ppm to price per-source padding waste.

    Scale shape: the per-source prefix sum is `tables.chunked_prefix`
    (never one window over a 5 TB source), chunked by doc_id DIV 500:
    ascending with the doc_id order, which has no ties; the totals are
    |sources|·|doc_ids|/500 rows. The exclusive prefix is the
    inclusive one less the doc's own BIGINT count, which is exact.
    Window membership is then pure integer arithmetic on the scan —
    no floats anywhere in the op."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "source",
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("n_toks"),
        F.expr(f"doc_id div {_PACK_CHUNK}").alias("chunk"),
    )
    marked = (
        chunked_prefix(toks, ["source"], ["chunk"], ["doc_id"], {"cum": "n_toks"})
        .withColumn("before", F.col("cum") - F.col("n_toks"))
        .select(
            "source",
            "n_toks",
            F.expr(f"before div {_PACK_B}").alias("w_first"),
            F.expr(f"(before + n_toks - 1) div {_PACK_B}").alias("w_last"),
        )
    )
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_toks").cast("long").alias("total_tokens"),
            F.expr(
                f"CAST((SUM(n_toks) + {_PACK_B} - 1) div {_PACK_B} AS BIGINT)"
            ).alias("n_windows"),
            F.count(F.when(F.col("w_first") != F.col("w_last"), 1))
            .cast("long")
            .alias("straddle_docs"),
            F.expr(
                "CAST(COUNT(IF(w_first != w_last, 1, NULL)) * 1000000"
                " div COUNT(*) AS BIGINT)"
            ).alias("straddle_ppm"),
            F.count(F.when(F.col("n_toks") > _PACK_B, 1))
            .cast("long")
            .alias("oversize_docs"),
            F.expr(
                f"CAST((SUM(n_toks)"
                f" - ((SUM(n_toks) + {_PACK_B} - 1) div {_PACK_B} - 1)"
                f" * {_PACK_B}) * 1000000 div {_PACK_B} AS BIGINT)"
            ).alias("tail_fill_ppm"),
            F.expr(
                f"CAST(COUNT(*) * 1000"
                f" div ((SUM(n_toks) + {_PACK_B} - 1) div {_PACK_B})"
                " AS BIGINT)"
            ).alias("docs_per_window_milli"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q_e_logreg_train (round 8)
# ---------------------------------------------------------------------------

# 3 rounds of full-batch gradient descent (lr = 1) on the quality-
# classifier feature set vs the gopher-lite gold label, from w = 0.
# Every engine-crossing scalar is pinned: per-row gradient terms and
# 6-dp-rounded lns run through exact-decimal dsum, and each weight
# update lands on the shared floor(x*1e6+0.5)/1e6 lattice — so the
# Spark training loop and the unrolled-CTE oracle walk identical
# weight vectors.
_LR_ROUNDS = 3
_LR_FEATS = ("bias", "distinct", "len100", "stop", "toklen10")
_LR_XCOLS = ("x0", "x2", "x1", "x3", "x4")  # aligned with _LR_FEATS


_LR_LOGIT = "round(w.w0*x0 + w.w1*x1 + w.w2*x2 + w.w3*x3 + w.w4*x4, 6)"
_LR_SCORE = f"round(1.0 / (1.0 + exp(-{_LR_LOGIT})), 6)"


def _lr_weight_parts(with_doc_id: bool = False) -> list[str]:
    """The shared unrolled-GD CTE chain (feat, w0_, r1..rK, w1_..wK_),
    reused verbatim by the q_e_logreg_train and q_e_cartography
    oracles so both walk the identical weight trajectory."""
    did = "doc_id, " if with_doc_id else ""
    parts = [
        _d_quality_features(*(["doc_id"] if with_doc_id else []), name="qf"),
        f"""feat AS (
      SELECT {did}1.0 AS x0,
             CAST(n_tokens AS DOUBLE) / 100.0 AS x1,
             distinct_ratio AS x2, stop_ratio AS x3,
             avg_token_len / 10.0 AS x4,
             CASE WHEN {_CAL_GOLD_DUCK} THEN 1 ELSE 0 END AS y
      FROM qf
    )""",
        "w0_ AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2,"
        " 0.0 AS w3, 0.0 AS w4)",
    ]
    score = _LR_SCORE
    for k in range(1, _LR_ROUNDS + 1):
        grads = ",\n             ".join(
            f"{dsum(f'(s - y) * x{j}')} / COUNT(*) AS g{j}" for j in range(5)
        )
        parts.append(f"""r{k} AS (
      SELECT {grads},
             {dsum('-(y * round(ln(p), 6) + (1 - y) * round(ln(1.0 - p), 6))')}
               / COUNT(*) AS ll
      FROM (
        SELECT y, x0, x1, x2, x3, x4,
               {score} AS s,
               greatest(0.000001, least({score}, 0.999999)) AS p
        FROM feat CROSS JOIN w{k - 1}_ w
      )
    )""")
        ws = ", ".join(
            q6(f"w.w{j} - r.g{j}") + f" AS w{j}" for j in range(5)
        )
        parts.append(
            f"w{k}_ AS (SELECT {ws} FROM w{k - 1}_ w CROSS JOIN r{k} r)"
        )
    return parts


def _lr_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(x0..x4, y): the logistic-regression design matrix over
    _quality_features (bias, tokens/100, distinct ratio, stopword
    ratio, mean token length/10) and the gold label as target. One
    persisted copy per (app, sf_dir), read by every round of the
    training walk and by q_e_cartography's scoring pass."""
    feat = _quality_features(spark, sf_dir).select(
        F.lit(1.0).alias("x0"),
        (F.col("n_tokens").cast("double") / 100.0).alias("x1"),
        F.col("distinct_ratio").alias("x2"),
        F.col("stop_ratio").alias("x3"),
        (F.col("avg_token_len") / 10.0).alias("x4"),
        _quality_gold().alias("y"),
    )
    return scoped_persist(feat, spark, sf_dir, "logreg_feat")


def _lr_score6(w: list[float]):
    """The 6-dp sigmoid score of the weight vector w over _lr_features'
    x0..x4, its logit rounded at 6 dp first — the oracle's _LR_SCORE."""
    logit = F.round(sum(F.lit(w[j]) * F.col(f"x{j}") for j in range(5)), 6)
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-logit)), 6)


def _lr_trajectory(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """[(gradients, log-loss, weights after the update)] of each of the
    _LR_ROUNDS full-batch GD rounds (lr = 1, w₀ = 0) over _lr_features,
    walked once per (app, sf_dir) through scoped_value: q_e_logreg_train
    emits it and q_e_cartography scores every doc at its weights. Each
    round is ONE combinable aggregate (5 gradient sums + the log-loss
    sum, all exact-decimal dsum, so any row order gives the same bits)
    whose collect holds 6 doubles; the weights land on the py_q6
    lattice the oracle's unrolled CTEs share."""

    def walk() -> list[tuple]:
        feat = _lr_features(spark, sf_dir)
        w = [0.0] * 5
        rounds = []
        for _step in range(_LR_ROUNDS):
            score = _lr_score6(w)
            p = F.greatest(F.lit(0.000001), F.least(score, F.lit(0.999999)))
            aggs = [
                F.expr(f"{dsum(f'(s - y) * x{j}')} / COUNT(*)").alias(f"g{j}")
                for j in range(5)
            ]
            ll_term = "-(y * round(ln(p), 6) + (1 - y) * round(ln(1.0 - p), 6))"
            aggs.append(F.expr(f"{dsum(ll_term)} / COUNT(*)").alias("ll"))
            scored = feat.select(
                "y", "x0", "x1", "x2", "x3", "x4", score.alias("s"), p.alias("p")
            )
            r = scored.agg(*aggs).collect()[0]  # 1 row, 6 doubles — bounded
            g = [r[f"g{j}"] for j in range(5)]
            w = [py_q6(w[j] - g[j]) for j in range(5)]
            rounds.append((g, r["ll"], w))
        return rounds

    return scoped_value(spark, sf_dir, "lr_trajectory", walk)


def _lr_sql() -> str:
    parts = _lr_weight_parts()
    emits = []
    for k in range(1, _LR_ROUNDS + 1):
        for name, xc in zip(_LR_FEATS, _LR_XCOLS):
            j = int(xc[1])
            emits.append(
                f"SELECT {k} AS step, '{name}' AS feature,"
                f" {q6(f'r{k}.g{j}')} AS grad6, w{k}_.w{j} AS weight6,"
                f" {q6(f'r{k}.ll')} AS logloss6 FROM r{k}, w{k}_"
            )
    body = "\n      UNION ALL ".join(emits)
    return (
        "WITH " + ",\n    ".join(parts)
        + f"\n    SELECT * FROM (\n      {body}\n    )"
        + " ORDER BY step, feature"
    )


@query("q_e_logreg_train", oracle=_lr_sql())
def q_e_logreg_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic-regression TRAINING loop (round 8): 3 rounds of
    full-batch gradient descent (lr = 1, w₀ = 0) fitting the
    quality-classifier feature set (bias, tokens/100, distinct
    ratio, stopword ratio, mean token length/10) against the
    gopher-lite gold label — the op that turns q_e_quality_classifier's
    FIXED literal weights into LEARNED ones, the distillation step
    real pipelines run to replace a rule heuristic with a model. The
    trace emits (step, feature, gradient, updated weight, starting
    log-loss) — log-loss decreasing across steps is the training
    curve.

    Execution (the q_e_kmeans_train discipline): the walk is
    _lr_trajectory, shared with q_e_cartography through scoped_value;
    the driver holds only the 6-double gradient row per round and
    re-emits literal weights — never corpus rows. The oracle unrolls
    the identical 3 rounds as chained CTEs; every weight update lands
    on the shared floor half-up lattice, so both engines walk the
    same weight vectors exactly."""
    out = [
        (step, name, py_q6(g[int(xc[1])]), w[int(xc[1])], py_q6(ll))
        for step, (g, ll, w) in enumerate(_lr_trajectory(spark, sf_dir), 1)
        for name, xc in zip(_LR_FEATS, _LR_XCOLS)
    ]
    import pyspark.sql.types as T

    schema = T.StructType(
        [
            T.StructField("step", T.IntegerType()),
            T.StructField("feature", T.StringType()),
            T.StructField("grad6", T.DoubleType()),
            T.StructField("weight6", T.DoubleType()),
            T.StructField("logloss6", T.DoubleType()),
        ]
    )
    return local_frame(spark, out, schema).orderBy("step", "feature")


# ---------------------------------------------------------------------------
# q_e_curriculum (round 9)
# ---------------------------------------------------------------------------

# Integer difficulty grade: doc length plus a mean-word-length kicker
# (longer words ≈ denser text), both exact integer arithmetic.
_CUR_SCORE = (
    "CAST(n_chars + 8 * (n_chars DIV size(split(text, ' '))) AS BIGINT)"
)
_CUR_SCORE_DUCK = (
    "CAST(n_chars + 8 * (n_chars // len(string_split(text, ' ')))"
    " AS BIGINT)"
)
# Fixed, data-independent strata thresholds (chars-scale).
_CUR_BUCKET = (
    "CASE WHEN {s} < 320 THEN 0 WHEN {s} < 640 THEN 1"
    " WHEN {s} < 1280 THEN 2 ELSE 3 END"
)
_CUR_TAKE = 48


@query(
    "q_e_curriculum",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, {_CUR_SCORE_DUCK} AS score,
             {_CUR_BUCKET.format(s=_CUR_SCORE_DUCK)} AS bucket
      FROM documents),
    ranked AS (
      SELECT doc_id, score, bucket,
             row_number() OVER (PARTITION BY bucket
                                ORDER BY score, doc_id) AS rn
      FROM scored),
    head AS (
      SELECT * FROM ranked ORDER BY rn, bucket, doc_id
      LIMIT {_CUR_TAKE})
    SELECT CAST(row_number() OVER (ORDER BY rn, bucket, doc_id)
                AS BIGINT) AS curriculum_pos,
           doc_id, CAST(bucket AS INT) AS bucket, score
    FROM head ORDER BY curriculum_pos
    """,
)
def q_e_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRICULUM ORDERING (round 9) — Bengio et al. 2009's
    easy-first training schedule, in the stratified-interleave form
    a data loader actually consumes: grade every doc with an integer
    difficulty score (length + mean-word-length kicker), cut FIXED
    difficulty strata (data-independent thresholds, so the bucket of
    a doc never changes when the corpus grows — the property that
    lets a curriculum be recomputed incrementally), rank within each
    stratum by (score, doc_id), and emit the head of the interleaved
    order (rank-1 of every stratum easy→hard, then rank-2, …) — each
    training step sees a difficulty MIX that still paces gently
    upward, instead of the hard cliff a pure sort produces.

    Scale: scoring is scan-side codegen; the only corpus shuffle is
    the PER-STRATUM rank window (4 bounded partitions of the key
    space, each internally parallel — never an unpartitioned global
    window); the interleaved head is orderBy().limit() =
    TakeOrderedAndProject, and the final curriculum_pos window runs
    on the bounded {_CUR_TAKE}-row panel only. At 100 TB the full
    curriculum is written as (rn, bucket) SORT KEYS — this op's head
    is the audit sample a curriculum owner eyeballs."""
    d = load_table(spark, sf_dir, "documents")
    scored = d.selectExpr(
        "doc_id",
        f"{_CUR_SCORE} AS score",
        f"{_CUR_BUCKET.format(s=_CUR_SCORE)} AS bucket",
    )
    rn_w = Window.partitionBy("bucket").orderBy("score", "doc_id")
    ranked = scored.withColumn("rn", F.row_number().over(rn_w))
    head = ranked.orderBy("rn", "bucket", "doc_id").limit(_CUR_TAKE)
    pos_w = Window.orderBy("rn", "bucket", "doc_id")  # 48-row panel
    return (
        head.withColumn(
            "curriculum_pos", F.row_number().over(pos_w).cast("long")
        )
        .select(
            "curriculum_pos",
            "doc_id",
            F.col("bucket").cast("int").alias("bucket"),
            "score",
        )
        .orderBy("curriculum_pos")
    )


# ---------------------------------------------------------------------------
# q_e_mcnemar (round 9)
# ---------------------------------------------------------------------------

# Two independent keep/drop filters over the same docs: A = length
# gate; B = mean-word-length gate (3 ≤ chars/word ≤ 5, spelled as two
# exact integer cross-multiplications).
_MCN_A = "CAST(n_chars BETWEEN 200 AND 8000 AS INT)"
# B's upper bound is 5 (not 8): at [3,8] filter B accepted every
# doc A accepted, so only_a was constant zero (round-9 audit); [3,5]
# yields discordance in BOTH directions on the corpus.
_MCN_B_SPARK = (
    "CAST(n_chars >= 3 * size(split(text, ' '))"
    " AND n_chars <= 5 * size(split(text, ' ')) AS INT)"
)
_MCN_B_DUCK = (
    "CAST(n_chars >= 3 * len(string_split(text, ' '))"
    " AND n_chars <= 5 * len(string_split(text, ' ')) AS INT)"
)


@query(
    "q_e_mcnemar",
    oracle=f"""
    WITH flags AS (
      SELECT lang, {_MCN_A} AS a, {_MCN_B_DUCK} AS b
      FROM documents),
    cts AS (
      SELECT lang,
             CAST(SUM(a * b) AS BIGINT) AS both_keep,
             CAST(SUM(a * (1 - b)) AS BIGINT) AS only_a,
             CAST(SUM((1 - a) * b) AS BIGINT) AS only_b,
             CAST(SUM((1 - a) * (1 - b)) AS BIGINT) AS both_drop
      FROM flags GROUP BY lang)
    SELECT lang, both_keep, only_a, only_b, both_drop,
           CASE WHEN only_a + only_b = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(CAST(only_a - only_b AS HUGEINT)
                          * (only_a - only_b)
                          * 1000000 // (only_a + only_b) AS BIGINT)
           END AS chi2_ppm,
           CASE WHEN only_a + only_b = 0 THEN CAST(0 AS BIGINT)
                ELSE CAST(CAST(GREATEST(ABS(only_a - only_b) - 1, 0)
                               AS HUGEINT)
                          * GREATEST(ABS(only_a - only_b) - 1, 0)
                          * 1000000 // (only_a + only_b) AS BIGINT)
           END AS chi2_cc_ppm
    FROM cts ORDER BY lang
    """,
)
def q_e_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNEMAR'S TEST between two curation filters (round 9) — the
    PAIRED comparison q_e_filter_agreement's raw overlap and
    q_e_filter_kappa's chance-corrected agreement both stop short
    of: when filters A and B disagree, is the disagreement
    SYSTEMATIC (one filter is strictly more permissive) or symmetric
    noise? McNemar looks only at the discordant cells — χ² =
    (b−c)²/(b+c) over only-A-keeps vs only-B-keeps — because the
    concordant diagonal carries no information about the DIFFERENCE
    between paired classifiers (Dietterich 1998's recommendation for
    exactly this setting). Emits the full 2×2 per lang, the χ²
    statistic, and Edwards' continuity-corrected variant
    ((|b−c|−1)²/(b+c)), both as exact integer ppm (χ² > 3.84 ⇔
    chi2_ppm > 3 840 000 rejects symmetric disagreement at 5%).

    Scale: both filter flags are scan-side integer codegen; the 2×2
    is ONE combinable rollup per lang; the statistics close on the
    bounded lang frame. Zero-discordance languages emit 0 (the
    undefined-χ² guard, spelled identically in both engines)."""
    d = load_table(spark, sf_dir, "documents")
    flags = d.selectExpr(
        "lang", f"{_MCN_A} AS a", f"{_MCN_B_SPARK} AS b"
    )
    cts = flags.groupBy("lang").agg(
        F.sum(F.col("a") * F.col("b")).cast("long").alias("both_keep"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("only_a"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("long").alias("only_b"),
        F.sum((1 - F.col("a")) * (1 - F.col("b")))
        .cast("long")
        .alias("both_drop"),
    )
    disc = F.col("only_a") + F.col("only_b")
    diff = F.col("only_a") - F.col("only_b")
    cc = F.greatest(F.abs(diff) - 1, F.lit(0))
    return cts.select(
        "lang",
        "both_keep",
        "only_a",
        "only_b",
        "both_drop",
        # 128-bit intermediates on the squared discordance (the
        # q_b_assoc_rules lift convention): BIGINT would wrap silently
        # in Spark (non-ANSI) once |only_a−only_b| > ~3.03e6 rows while
        # DuckDB raises — DECIMAL(38,0) DIV ⟷ HUGEINT // keeps both
        # engines exact to ~1e38-scale corpora.
        F.when(disc == 0, F.lit(0).cast("long"))
        .otherwise(
            F.expr(
                "CAST(CAST(only_a - only_b AS DECIMAL(38,0))"
                " * (only_a - only_b)"
                " * 1000000 DIV (only_a + only_b) AS BIGINT)"
            )
        )
        .alias("chi2_ppm"),
        F.when(disc == 0, F.lit(0).cast("long"))
        .otherwise(
            F.expr(
                "CAST(CAST(GREATEST(ABS(only_a - only_b) - 1, 0)"
                " AS DECIMAL(38,0))"
                " * GREATEST(ABS(only_a - only_b) - 1, 0)"
                " * 1000000 DIV (only_a + only_b) AS BIGINT)"
            )
        )
        .alias("chi2_cc_ppm"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# q_e_cartography (round 9)
# ---------------------------------------------------------------------------

# Region thresholds on the 3-round confidence trace (µ-unit lattice):
# ambiguous if the integer variability score 3·Σc² − (Σc)² crosses
# (std ≥ 0.05 ⇔ vscore ≥ 9·0.0025·1e12), else easy/hard by mean conf.
_CART_VTH = 22_500_000_000
_CART_EASY = 2_100_000  # Σc6 ≥ 0.7·3e6
_CART_HARD = 900_000  # Σc6 ≤ 0.3·3e6
_CART_REGION = f"""
CASE WHEN vscore >= {_CART_VTH} THEN 'ambiguous'
     WHEN csum >= {_CART_EASY} THEN 'easy'
     WHEN csum <= {_CART_HARD} THEN 'hard'
     ELSE 'middle' END
"""


def _carto_sql() -> str:
    parts = _lr_weight_parts(with_doc_id=True)
    rounds = []
    for k in range(1, _LR_ROUNDS + 1):
        rounds.append(
            f"""s{k} AS (
      SELECT doc_id, y,
             CAST(floor((CASE WHEN y = 1 THEN {_LR_SCORE}
                              ELSE 1.0 - {_LR_SCORE} END)
                        * 1000000.0 + 0.5) AS BIGINT) AS c
      FROM feat CROSS JOIN w{k}_ w
    )"""
        )
    parts.extend(rounds)
    parts.append(
        """carto AS (
      SELECT s1.doc_id, s1.y,
             s1.c + s2.c + s3.c AS csum,
             3 * (s1.c * s1.c + s2.c * s2.c + s3.c * s3.c)
               - (s1.c + s2.c + s3.c) * (s1.c + s2.c + s3.c) AS vscore
      FROM s1 JOIN s2 ON s1.doc_id = s2.doc_id
      JOIN s3 ON s1.doc_id = s3.doc_id
    )"""
    )
    return (
        "WITH " + ",\n    ".join(parts)
        + f"""
    SELECT {_CART_REGION.strip()} AS region,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(y) AS BIGINT) AS n_gold_keep,
           {davg('csum')} AS mean_csum,
           {davg('vscore', scale=0, precision=38)} AS mean_vscore,
           CAST(MIN(csum) AS BIGINT) AS min_csum,
           CAST(MAX(vscore) AS BIGINT) AS max_vscore
    FROM carto GROUP BY region ORDER BY region"""
    )


@query("q_e_cartography", oracle=_carto_sql())
def q_e_cartography(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATASET CARTOGRAPHY (round 9) — Swayamdipta et al. 2020's
    training-dynamics map, on q_e_logreg_train's exact trajectory:
    re-walk the same 3-round GD (shared CTE chain `_lr_weight_parts`,
    byte-identical weights), then score every doc at each epoch's
    weights and chart it by CONFIDENCE (mean true-class probability
    across epochs) and VARIABILITY (dispersion across epochs).
    easy-to-learn (high conf, low var) is safe bulk data;
    ambiguous (high var) is where the model is still changing its
    mind — the region Swayamdipta showed carries the most training
    signal; hard (low conf, low var) concentrates label noise —
    the TRIAGE a curation owner runs before spending annotation or
    compute. Emits the per-region census (count, gold share, conf /
    variability moments).

    Exactness: per-epoch confidences land on the 6-dp lattice as
    INTEGERS (c6), so Σc and the variability score 3·Σc² − (Σc)²
    are exact BIGINT arithmetic — region assignment is an integer
    comparison, immune to float drift; the same trick as the ERR
    cascade. Scale (the kmeans/logreg discipline): the weights are
    q_e_logreg_train's _lr_trajectory, walked once per session over
    the shared persisted feature frame; the cartography pass is ONE
    scan of that frame with three literal weight vectors (no joins —
    the oracle's s1⋈s2⋈s3 collapses to one projection in Spark) and a
    4-row region rollup."""

    def conf6(wk: list[float]):
        s = _lr_score6(wk)
        c = F.when(F.col("y") == 1, s).otherwise(F.lit(1.0) - s)
        return F.floor(c * 1000000.0 + F.lit(0.5)).cast("long")

    trajectory = [w for _g, _ll, w in _lr_trajectory(spark, sf_dir)]
    traced = _lr_features(spark, sf_dir).select(
        "y",
        *[conf6(trajectory[k]).alias(f"c{k + 1}") for k in range(3)],
    ).selectExpr(
        "y",
        "c1 + c2 + c3 AS csum",
        "3 * (c1*c1 + c2*c2 + c3*c3)"
        " - (c1 + c2 + c3) * (c1 + c2 + c3) AS vscore",
    )
    return (
        traced.selectExpr(f"{_CART_REGION.strip()} AS region", "y",
                          "csum", "vscore")
        .groupBy("region")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("y").cast("long").alias("n_gold_keep"),
            F.expr(davg("csum")).alias("mean_csum"),
            F.expr(davg("vscore", scale=0, precision=38)).alias(
                "mean_vscore"
            ),
            F.min("csum").cast("long").alias("min_csum"),
            F.max("vscore").cast("long").alias("max_vscore"),
        )
        .orderBy("region")
    )


# ---------------------------------------------------------------------------
# q_e_weak_label (round 9)
# ---------------------------------------------------------------------------

# Three labeling functions with ABSTENTION (+1 keep / −1 drop / 0):
# all-integer spellings shared by both engines (n_tok via split-size).
_WL_NTOK_S = "size(split(text, ' '))"
_WL_NTOK_D = "len(string_split(text, ' '))"
_WL_NSTOP_S = (
    "size(filter(split(text, ' '),"
    " x -> x IN ('the','and','of','to','a','in','is','it')))"
)
_WL_NSTOP_D = (
    "len(list_filter(string_split(text, ' '),"
    " x -> x IN ('the','and','of','to','a','in','is','it')))"
)


def _wl_votes(ntok: str, nstop: str) -> tuple[str, str, str]:
    v1 = (
        "CASE WHEN n_chars BETWEEN 200 AND 8000 THEN 1"
        " WHEN n_chars < 50 OR n_chars > 20000 THEN -1 ELSE 0 END"
    )
    v2 = (
        f"CASE WHEN 25 * ({nstop}) >= ({ntok}) THEN 1"
        f" WHEN ({nstop}) = 0 THEN -1 ELSE 0 END"
    )
    v3 = (
        f"CASE WHEN n_chars BETWEEN 3 * ({ntok}) AND 8 * ({ntok}) THEN 1"
        f" WHEN n_chars > 12 * ({ntok}) OR n_chars < 2 * ({ntok})"
        " THEN -1 ELSE 0 END"
    )
    return v1, v2, v3


_WL_MAJ = "CASE WHEN v1+v2+v3 > 0 THEN 1 WHEN v1+v2+v3 < 0 THEN -1 ELSE 0 END"
_WL_W = (
    "CAST(SUM(CASE WHEN v{j} <> 0 AND maj <> 0 AND v{j} = maj"
    " THEN 1 ELSE 0 END) * 1000000"
    " // GREATEST(SUM(CASE WHEN v{j} <> 0 AND maj <> 0"
    " THEN 1 ELSE 0 END), 1) AS BIGINT) AS w{j}"
)


def _weak_label_oracle() -> str:
    v1, v2, v3 = _wl_votes(_WL_NTOK_D, _WL_NSTOP_D)
    ws = ",\n             ".join(
        _WL_W.replace("{j}", str(j)) for j in (1, 2, 3)
    )
    return f"""
    WITH votes AS (
      SELECT lang, {v1} AS v1, {v2} AS v2, {v3} AS v3
      FROM documents),
    m AS (SELECT *, {_WL_MAJ} AS maj FROM votes),
    w AS (SELECT {ws} FROM m),
    scored AS (
      SELECT m.lang, m.v1, m.v2, m.v3, m.maj,
             m.v1 * w.w1 + m.v2 * w.w2 + m.v3 * w.w3 AS score
      FROM m CROSS JOIN w)
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN v1 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS cov_lf1,
           CAST(SUM(CASE WHEN v2 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS cov_lf2,
           CAST(SUM(CASE WHEN v3 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS cov_lf3,
           CAST(SUM(CASE WHEN GREATEST(v1, v2, v3) = 1
                          AND LEAST(v1, v2, v3) = -1
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_conflict,
           CAST(SUM(CASE WHEN maj = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS maj_keep,
           CAST(SUM(CASE WHEN maj = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS maj_abstain,
           CAST(SUM(CASE WHEN score > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS weighted_keep,
           CAST(SUM(CASE WHEN maj <> 0 AND score <> 0
                          AND SIGN(score) <> maj
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flipped
    FROM scored GROUP BY lang ORDER BY lang
    """


@query("q_e_weak_label", oracle=_weak_label_oracle())
def q_e_weak_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEAK-SUPERVISION LABEL MODEL (round 9) — the Snorkel recipe
    (Ratner et al., VLDB 2018) in its deterministic one-pass form:
    three labeling functions vote keep/drop/ABSTAIN (abstention is
    what separates an LF from a filter — q_e_filter_kappa's gates
    must always answer; an LF can say "not my case"); the label
    model weights each LF by its empirical precision proxy
    (agreement with the majority where both commit) and relabels by
    the weighted vote. Emits per lang the LF health panel every
    weak-supervision owner reads: coverage per LF, conflict rate,
    majority vs weighted keeps, and how many labels the weighting
    FLIPPED — the signal that the LFs are not interchangeable and a
    learned label model is worth its complexity.

    Exactness: votes, majority, ppm weights (integer // with a
    GREATEST(·,1) zero-vote guard), and the weighted score are all
    BIGINT arithmetic — SIGN() comparisons only, no floats anywhere.
    Scale: one scan computes all three votes (scan-side codegen),
    the weight row is ONE combinable global aggregate broadcast back
    (Snorkel's generative model reduces to exactly this precision
    estimate under its independence assumption), and the census is
    one rollup per lang."""
    d = load_table(spark, sf_dir, "documents")
    v1, v2, v3 = _wl_votes(_WL_NTOK_S, _WL_NSTOP_S)
    m = d.selectExpr(
        "lang", f"{v1} AS v1", f"{v2} AS v2", f"{v3} AS v3"
    ).selectExpr("*", f"{_WL_MAJ} AS maj")
    w = m.selectExpr(
        *[
            _WL_W.replace("{j}", str(j)).replace("//", "DIV")
            for j in (1, 2, 3)
        ]
    )
    scored = m.join(F.broadcast(w)).selectExpr(
        "lang",
        "v1",
        "v2",
        "v3",
        "maj",
        "v1 * w1 + v2 * w2 + v3 * w3 AS score",
    )
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("v1") != 0).cast("int")).cast("long").alias("cov_lf1"),
            F.sum((F.col("v2") != 0).cast("int")).cast("long").alias("cov_lf2"),
            F.sum((F.col("v3") != 0).cast("int")).cast("long").alias("cov_lf3"),
            F.sum(
                (
                    (F.greatest("v1", "v2", "v3") == 1)
                    & (F.least("v1", "v2", "v3") == -1)
                ).cast("int")
            )
            .cast("long")
            .alias("n_conflict"),
            F.sum((F.col("maj") == 1).cast("int")).cast("long").alias("maj_keep"),
            F.sum((F.col("maj") == 0).cast("int"))
            .cast("long")
            .alias("maj_abstain"),
            F.sum((F.col("score") > 0).cast("int"))
            .cast("long")
            .alias("weighted_keep"),
            F.sum(
                (
                    (F.col("maj") != 0)
                    & (F.col("score") != 0)
                    & (F.signum("score") != F.col("maj"))
                ).cast("int")
            )
            .cast("long")
            .alias("n_flipped"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q_e_score_knee (round 10) — kneedle elbow on the retention curve
# ---------------------------------------------------------------------------


@query(
    "q_e_score_knee",
    oracle="""
    WITH per AS (
      SELECT lang, n_chars, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(n_chars) AS BIGINT) AS m
      FROM documents GROUP BY lang, n_chars
    ),
    cum AS (
      SELECT lang, n_chars,
             SUM(c) OVER (PARTITION BY lang ORDER BY n_chars DESC)
               AS cum_cnt,
             SUM(m) OVER (PARTITION BY lang ORDER BY n_chars DESC)
               AS cum_mass
      FROM per
    ),
    tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS n,
                   CAST(SUM(m) AS BIGINT) AS total
            FROM per GROUP BY lang),
    gaps AS (
      SELECT c.lang, c.n_chars, c.cum_cnt, t.n, t.total,
             CAST(c.cum_mass AS HUGEINT) * t.n
               - CAST(c.cum_cnt AS HUGEINT) * t.total AS gap_num
      FROM cum c JOIN tot t ON c.lang = t.lang
    )
    SELECT lang, n AS n_docs, total AS total_chars,
           CAST(n_chars AS BIGINT) AS knee_score,
           CAST(cum_cnt AS BIGINT) AS knee_rank,
           CAST(gap_num * 1000000
                // (CAST(total AS HUGEINT) * n) AS BIGINT) AS gap_ppm
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                                   ORDER BY gap_num DESC,
                                            n_chars DESC) AS rk
      FROM gaps
    ) WHERE rk = 1
    ORDER BY lang
    """,
)
def q_e_score_knee(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNEE-POINT detection on the score-retention curve (round 10;
    Satopää et al. 2011, "Finding a 'Kneedle' in a Haystack") — the
    principled way to PLACE the cutoff q_e_threshold_sweep only
    tabulates and q_e_length_gate assumes: sort docs by score
    (n_chars plays the quality score), trace the Lorenz-style curve
    (fraction of docs kept → fraction of mass kept), and take the
    point of maximum vertical distance to the (0,0)→(1,1) chord —
    the diminishing-returns elbow where each further doc admitted
    adds less mass than average. Emits, per lang: the knee's score
    threshold, its rank (docs kept), and the chord gap in exact ppm.

    Exactness: the curve is evaluated at distinct-score boundaries on
    an integer (count, mass) frame; the chord gap cross-multiplies to
    the integer gap_num = cum_mass·n − cum_cnt·total in 128-bit
    (DECIMAL(38,0) ⟷ HUGEINT), so the argmax and the ppm are exact —
    ties break to the larger score (earlier knee). Scale: the
    per-(lang, score) rollup is combinable; the cumulative sums are
    `tables.chunked_prefix` over it (chunks = -(score DIV 256),
    ascending with the score DESC order over distinct scores; totals
    bounded by the score domain); the argmax window rides the
    distinct-score frame, bounded by the score domain, not the
    corpus."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("lang", "n_chars").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("n_chars").cast("long").alias("m"),
    ).withColumn("chk", F.expr("-(n_chars DIV 256)"))
    cum = chunked_prefix(
        per,
        ["lang"],
        ["chk"],
        [F.col("n_chars").desc()],
        {"cum_cnt": "c", "cum_mass": "m"},
    )
    tot = per.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n"),
        F.sum("m").cast("long").alias("total"),
    )
    d38 = "DECIMAL(38,0)"
    gaps = cum.join(F.broadcast(tot), "lang").select(
        "lang",
        "n_chars",
        "cum_cnt",
        "n",
        "total",
        F.expr(
            f"CAST(cum_mass AS {d38}) * n"
            f" - CAST(cum_cnt AS {d38}) * total"
        ).alias("gap_num"),
    )
    wk = Window.partitionBy("lang").orderBy(
        F.col("gap_num").desc(), F.col("n_chars").desc()
    )
    return (
        gaps.withColumn("rk", F.row_number().over(wk))
        .where(F.col("rk") == 1)
        .selectExpr(
            "lang",
            "n AS n_docs",
            "total AS total_chars",
            "CAST(n_chars AS BIGINT) AS knee_score",
            "cum_cnt AS knee_rank",
            f"CAST(gap_num * 1000000"
            f" DIV (CAST(total AS {d38}) * n) AS BIGINT) AS gap_ppm",
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q_e_group_kfold (round 10) — leakage-safe grouped cross-validation folds
# ---------------------------------------------------------------------------

_GKF_K = 5  # folds


@query(
    "q_e_group_kfold",
    oracle=f"""
    WITH g AS (
      SELECT source,
             CAST(concat('0x', substring(md5(source), 1, 15))
                  AS BIGINT) % {_GKF_K} AS fold
      FROM documents GROUP BY source
    ),
    asg AS (
      SELECT d.doc_id, d.lang, d.n_chars, g.fold
      FROM documents d JOIN g ON d.source = g.source
    ),
    per AS (
      SELECT fold,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
             CAST(SUM(n_chars) AS BIGINT) AS n_chars
      FROM asg GROUP BY fold
    ),
    tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
                   CAST(SUM(n_chars) AS BIGINT) AS m FROM per)
    SELECT p.fold, p.n_docs, p.n_langs, p.n_chars,
           CAST(p.n_docs * {_GKF_K} * 1000000 // t.n AS BIGINT)
             AS size_vs_even_ppm,
           CAST(p.n_chars * {_GKF_K} * 1000000 // t.m AS BIGINT)
             AS mass_vs_even_ppm
    FROM per p CROSS JOIN tot t
    ORDER BY p.fold
    """,
)
def q_e_group_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPED k-fold assignment + balance audit (round 10) — the
    cross-validation split rule scikit-learn calls GroupKFold, applied
    the way an eval-contamination-aware curation pipeline must: all
    docs sharing a SOURCE land in the same fold (near-dups cluster by
    source — q_e_split_leakage measures exactly the leakage that
    random row-level folds create), the fold is a pure hash of the
    group key (stateless, reproducible, no shuffle of a fold table),
    and the audit reports each fold's size/mass against the even
    1/k share in exact ppm — the imbalance a group split trades for
    leakage-freedom (folds can only be as balanced as the group-size
    distribution allows).

    Determinism: fold = md5(source) mod k through the module's
    engine-portable 60-bit md5 spelling (conv ⟷ hex-prefix, the
    q_e_fingerprint convention; engine-native hash() functions differ
    between Spark and DuckDB and are never used for assignment), so
    both engines produce the identical fold map.
    Scale: the group→fold map is one combinable DISTINCT over group
    keys joined back via broadcast (group cardinality ≪ corpus); the
    audit is one combinable rollup to k rows."""
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy("source").agg(
        F.expr(
            "CAST(conv(substring(md5(source), 1, 15), 16, 10)"
            f" AS BIGINT) % {_GKF_K}"
        ).alias("fold")
    )
    asg = d.join(F.broadcast(g), "source").select(
        "doc_id", "lang", "n_chars", "fold"
    )
    per = asg.groupBy("fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum("n_chars").cast("long").alias("n_chars"),
    )
    tot = per.agg(
        F.sum("n_docs").cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("m"),
    )
    return (
        per.join(F.broadcast(tot))
        .selectExpr(
            "fold",
            "n_docs",
            "n_langs",
            "n_chars",
            f"CAST(n_docs * {_GKF_K} * 1000000 DIV n AS BIGINT)"
            " AS size_vs_even_ppm",
            f"CAST(n_chars * {_GKF_K} * 1000000 DIV m AS BIGINT)"
            " AS mass_vs_even_ppm",
        )
        .orderBy("fold")
    )


# ---------------------------------------------------------------------------
# q_e_quota_spill (round 10) — mixture quota filling with spillover
# ---------------------------------------------------------------------------

# Budget: 60% of the corpus, split evenly across sources by the
# largest-remainder rule; shortfall from under-capacity sources spills
# proportionally into the remaining capacity of the others.
_QS_BUDGET_PCT = 60


@query(
    "q_e_quota_spill",
    oracle=f"""
    WITH avail AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_avail
      FROM documents WHERE n_chars >= 1000 GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(n_avail) AS BIGINT) AS n_total,
                   CAST(COUNT(*) AS BIGINT) AS k,
                   CAST(SUM(n_avail) * {_QS_BUDGET_PCT} // 100 AS BIGINT)
                     AS budget
            FROM avail),
    tgt AS (
      SELECT a.source, a.n_avail, t.budget, t.k,
             CAST(t.budget // t.k
                  + CASE WHEN ROW_NUMBER() OVER (ORDER BY a.source)
                              <= t.budget % t.k
                         THEN 1 ELSE 0 END AS BIGINT) AS target
      FROM avail a CROSS JOIN tot t
    ),
    r1 AS (
      SELECT source, n_avail, target,
             LEAST(target, n_avail) AS take1,
             GREATEST(target - n_avail, 0) AS short,
             GREATEST(n_avail - target, 0) AS cap_left
      FROM tgt
    ),
    pool AS (SELECT CAST(SUM(short) AS BIGINT) AS s,
                    CAST(SUM(cap_left) AS BIGINT) AS rc FROM r1)
    SELECT r.source, r.n_avail, r.target, r.take1,
           CAST(LEAST(CASE WHEN p.rc = 0 THEN 0
                           ELSE CAST(p.s AS HUGEINT) * r.cap_left // p.rc
                      END, r.cap_left) AS BIGINT) AS spill_extra,
           CAST(r.take1 + LEAST(CASE WHEN p.rc = 0 THEN 0
                                     ELSE CAST(p.s AS HUGEINT)
                                          * r.cap_left // p.rc
                                END, r.cap_left) AS BIGINT) AS final_take,
           CAST((r.take1 + LEAST(CASE WHEN p.rc = 0 THEN 0
                                      ELSE CAST(p.s AS HUGEINT)
                                           * r.cap_left // p.rc
                                 END, r.cap_left)) * 1000000
                // r.target AS BIGINT) AS fill_vs_target_ppm
    FROM r1 r CROSS JOIN pool p
    ORDER BY r.source
    """,
)
def q_e_quota_spill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIXTURE-QUOTA FILLING with proportional spillover (round 10) —
    the sampling-plan step between q_e_mix_weights (what mixture do I
    want) and q_e_shard_assign (write it out): each source gets an
    even largest-remainder share of the {_QS_BUDGET_PCT}% token
    budget, but a source can't supply more than it HAS after the
    quality gate — so under-capacity sources create a shortfall that
    spills proportionally into the remaining capacity of the others
    (one spill round, floor division; the ≤k-doc residual is the
    documented cost of exactness — a second round would chase it).
    This is the quota arithmetic every fixed-budget pretraining mix
    actually runs when a domain runs dry.

    Exactness: every quantity is an integer; the spill product rides
    128-bit (DECIMAL(38,0) ⟷ HUGEINT); the largest-remainder rank is
    the deterministic source order. Scale: ONE combinable rollup per
    source collapses the corpus; everything downstream closes on the
    k-row source frame (k-row window, broadcast pools)."""
    d = load_table(spark, sf_dir, "documents")
    avail = d.where(F.col("n_chars") >= 1000).groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_avail")
    )
    tot = avail.agg(
        F.sum("n_avail").cast("long").alias("n_total"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.expr(
            f"CAST(SUM(n_avail) * {_QS_BUDGET_PCT} DIV 100 AS BIGINT)"
        ).alias("budget"),
    )
    wsrc = Window.orderBy("source")
    tgt = (
        avail.join(F.broadcast(tot))
        .withColumn("rn", F.row_number().over(wsrc))
        .selectExpr(
            "source",
            "n_avail",
            "CAST(budget DIV k + CASE WHEN rn <= budget % k"
            " THEN 1 ELSE 0 END AS BIGINT) AS target",
        )
    )
    r1 = tgt.selectExpr(
        "source",
        "n_avail",
        "target",
        "LEAST(target, n_avail) AS take1",
        "GREATEST(target - n_avail, 0) AS short",
        "GREATEST(n_avail - target, 0) AS cap_left",
    )
    pool = r1.agg(
        F.sum("short").cast("long").alias("s"),
        F.sum("cap_left").cast("long").alias("rc"),
    )
    d38 = "DECIMAL(38,0)"
    extra = (
        f"LEAST(CASE WHEN rc = 0 THEN 0"
        f" ELSE CAST(CAST(s AS {d38}) * cap_left DIV rc AS BIGINT)"
        f" END, cap_left)"
    )
    return (
        r1.join(F.broadcast(pool))
        .selectExpr(
            "source",
            "n_avail",
            "target",
            "take1",
            f"CAST({extra} AS BIGINT) AS spill_extra",
            f"CAST(take1 + {extra} AS BIGINT) AS final_take",
            f"CAST((take1 + {extra}) * 1000000 DIV target AS BIGINT)"
            " AS fill_vs_target_ppm",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q_e_filter_cascade (round 10) — cascade-gate cost/recall economics
# ---------------------------------------------------------------------------

# Stage 1: the cheap length gate (bytes already in metadata — O(1)).
# Stage 2: the "expensive" content gate (tokenizes the text — O(len)):
# mean word length in [3,5] AND ≥ 60% distinct tokens, exact integer
# cross-multiplications only.
_FC_S1 = "CAST(n_chars BETWEEN 200 AND 8000 AS INT)"
_FC_S2_SPARK = (
    "CAST(n_chars >= 3 * size(split(text, ' '))"
    " AND n_chars <= 5 * size(split(text, ' '))"
    " AND 10 * size(array_distinct(split(text, ' ')))"
    " >= 6 * size(split(text, ' ')) AS INT)"
)
_FC_S2_DUCK = (
    "CAST(n_chars >= 3 * len(string_split(text, ' '))"
    " AND n_chars <= 5 * len(string_split(text, ' '))"
    " AND 10 * len(list_distinct(string_split(text, ' ')))"
    " >= 6 * len(string_split(text, ' ')) AS INT)"
)


@query(
    "q_e_filter_cascade",
    oracle=f"""
    WITH flags AS (
      SELECT lang, {_FC_S1} AS s1, {_FC_S2_DUCK} AS s2
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(s1) AS BIGINT) AS n_s1_pass,
           CAST(SUM(s1 * s2) AS BIGINT) AS kept_cascade,
           CAST(SUM(s2) AS BIGINT) AS kept_full,
           CAST(SUM(s1 * s2) * 1000000
                // GREATEST(SUM(s2), 1) AS BIGINT) AS recall_ppm,
           CAST((COUNT(*) - SUM(s1)) * 1000000
                // COUNT(*) AS BIGINT) AS cost_saved_ppm
    FROM flags GROUP BY lang ORDER BY lang
    """,
)
def q_e_filter_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-CASCADE economics (round 10) — the staged-gate pattern
    every large curation pipeline runs (cheap metadata gate first,
    expensive content model only on its survivors; the
    Viola-Jones/candidate-generation shape applied to data cleaning):
    per lang, how many expensive stage-2 evaluations the cascade
    SKIPS (cost_saved_ppm — stage 2 never sees stage-1 rejects) and
    how many stage-2-keepable docs the cheap gate throws away first
    (recall_ppm vs running stage 2 on everything). The pair is the
    operating point a pipeline owner tunes: q_e_mcnemar tests whether
    two gates DISAGREE; THIS op prices chaining them.

    Exactness: both gates are exact integer predicates (length
    bounds; mean-word-length and distinct-ratio as integer
    cross-multiplications); ratios are integer ppm with guarded
    denominators. Scale: both flags are scan-side codegen over ONE
    pass (the cascade's cost asymmetry is real at 100 TB — stage 2
    tokenizes, stage 1 reads a metadata column) and the audit is one
    combinable rollup; zero joins, zero windows."""
    d = load_table(spark, sf_dir, "documents")
    flags = d.selectExpr(
        "lang", f"{_FC_S1} AS s1", f"{_FC_S2_SPARK} AS s2"
    )
    return (
        flags.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("s1").cast("long").alias("n_s1_pass"),
            F.sum(F.col("s1") * F.col("s2")).cast("long").alias(
                "kept_cascade"
            ),
            F.sum("s2").cast("long").alias("kept_full"),
        )
        .selectExpr(
            "lang",
            "n_docs",
            "n_s1_pass",
            "kept_cascade",
            "kept_full",
            "CAST(kept_cascade * 1000000 DIV GREATEST(kept_full, 1)"
            " AS BIGINT) AS recall_ppm",
            "CAST((n_docs - n_s1_pass) * 1000000 DIV n_docs AS BIGINT)"
            " AS cost_saved_ppm",
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q_e_dawid_skene (round 11) — confusion-matrix label aggregation
# ---------------------------------------------------------------------------

# Three always-committing binary annotators (keep=1/drop=0). Unlike
# q_e_weak_label's abstaining LFs with ONE precision weight each,
# Dawid-Skene models each annotator by a CLASS-CONDITIONAL confusion
# matrix (sensitivity and specificity separately) — the reason DS
# beats weighted majority when an annotator is biased toward one
# answer rather than uniformly noisy.
_DS_A1 = "CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END"


def _ds_votes(ntok: str, nstop: str) -> tuple[str, str, str]:
    a2 = f"CASE WHEN 25 * ({nstop}) >= ({ntok}) THEN 1 ELSE 0 END"
    a3 = (
        f"CASE WHEN n_chars BETWEEN 3 * ({ntok}) AND 9 * ({ntok})"
        " THEN 1 ELSE 0 END"
    )
    return _DS_A1, a2, a3


_DS_MAJ = "CASE WHEN v1 + v2 + v3 >= 2 THEN 1 ELSE 0 END"

# One-row global stats: class prior and per-annotator confusion
# counts vs the majority init (Laplace +1/+2 smoothing keeps every
# rate strictly inside (0,1), so the log-odds below never diverge).
_DS_STATS = (
    "CAST(COUNT(*) AS BIGINT) AS n, "
    "CAST(SUM(maj) AS BIGINT) AS n1, "
    + ", ".join(
        f"CAST(SUM(CASE WHEN v{j} = 1 AND maj = 1 THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS c11_{j}, "
        f"CAST(SUM(CASE WHEN v{j} = 0 AND maj = 0 THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS c00_{j}"
        for j in (1, 2, 3)
    )
)


def _ds_score() -> str:
    """Posterior log-odds of keep=1 for a vote pattern, given the
    smoothed prior and confusion rates — one expression string shared
    verbatim by both engines. EACH log-odds term is quantized to the
    6-dp grid BEFORE the sum (the _d_cos6 discipline): summing raw
    ln terms lets sub-ulp libm differences accumulate across four
    terms and flip the final 6-dp round (observed at sf0.01);
    per-term rounding pins the sum to exact grid values.

    Literal discipline: every numeric literal is e-notation (1e0),
    which parses as DOUBLE in BOTH engines — a bare `1.0` is
    DECIMAL(2,1) to Spark and DOUBLE to DuckDB, and BIGINT + DECIMAL
    promotes the whole chain to scale-collapsed decimal division
    (observed: 0.053251 vs 0.053250773…, a 4e-6 score shift)."""
    prior = "round(ln((n1 + 1e0) / (n - n1 + 1e0)), 6)"
    terms = []
    for j in (1, 2, 3):
        sens = f"((c11_{j} + 1e0) / (n1 + 2e0))"
        spec = f"((c00_{j} + 1e0) / (n - n1 + 2e0))"
        terms.append(
            f"round(CASE WHEN v{j} = 1 THEN ln({sens} / (1e0 - {spec}))"
            f" ELSE ln((1e0 - {sens}) / {spec}) END, 6)"
        )
    return " + ".join([prior, *terms])


def _dawid_skene_oracle() -> str:
    a1, a2, a3 = _ds_votes(_WL_NTOK_D, _WL_NSTOP_D)
    return f"""
    WITH votes AS (SELECT {a1} AS v1, {a2} AS v2, {a3} AS v3
                   FROM documents),
    m AS (SELECT v1, v2, v3, {_DS_MAJ} AS maj FROM votes),
    stats AS (SELECT {_DS_STATS} FROM m),
    pat AS (SELECT v1, v2, v3, maj AS mv_label,
                   CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM m GROUP BY v1, v2, v3, maj)
    SELECT p.v1, p.v2, p.v3, p.n_docs, p.mv_label,
           round({_ds_score()}, 6) AS ds_score6,
           CAST(round({_ds_score()}, 6) > 0 AS BOOLEAN) AS ds_label
    FROM pat p, stats
    ORDER BY p.v1, p.v2, p.v3
    """


@query("q_e_dawid_skene", oracle=_dawid_skene_oracle())
def q_e_dawid_skene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAWID-SKENE annotator aggregation, one EM round (Dawid &
    Skene, JRSS-C 1979 — the crowd-labeling standard): initialize
    true labels by majority vote, estimate each annotator's
    CLASS-CONDITIONAL confusion matrix (sensitivity AND specificity,
    Laplace-smoothed) against that init, then re-decide every vote
    pattern by the posterior log-odds — emitted as the full DECISION
    TABLE: per observed (v1,v2,v3) pattern, the document count, the
    majority label, the DS posterior score, and the DS label. The
    rows where ds_label ≠ mv_label are the patterns where modeling
    bias separately from noise CHANGES the answer — the entire value
    proposition of DS over q_e_weak_label's single-weight vote (a
    biased annotator's "1" and "0" carry different evidence; one
    precision weight cannot express that).

    Exactness: votes and confusion counts are pure BIGINT scan-side
    codegen; the posterior is k ln/division terms evaluated on the
    ONE broadcast stats row, rounded at 6 dp (the module's ln
    discipline — no float aggregation anywhere). Scale: one corpus
    scan computes all three votes + majority; stats is one
    combinable global aggregate; the decision table is an ≤8-row
    rollup cross-joined with the stats row."""
    d = load_table(spark, sf_dir, "documents")
    a1, a2, a3 = _ds_votes(_WL_NTOK_S, _WL_NSTOP_S)
    m = d.selectExpr(
        f"{a1} AS v1", f"{a2} AS v2", f"{a3} AS v3"
    ).selectExpr("*", f"{_DS_MAJ} AS maj")
    m = scoped_persist(m, spark, sf_dir, "ds_votes")
    stats = m.selectExpr(*_DS_STATS.split(", "))
    pat = (
        m.groupBy("v1", "v2", "v3", F.col("maj").alias("mv_label"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )
    score = _ds_score()
    return (
        pat.join(F.broadcast(stats))
        .selectExpr(
            "v1",
            "v2",
            "v3",
            "n_docs",
            "mv_label",
            f"round({score}, 6) AS ds_score6",
            f"CAST(round({score}, 6) > 0 AS BOOLEAN) AS ds_label",
        )
        .orderBy("v1", "v2", "v3")
    )
