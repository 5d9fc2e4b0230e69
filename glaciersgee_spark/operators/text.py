"""Group E — text analysis over the documents corpus.

Tokenization, TF-IDF, corpus statistics, per-language top terms, and
heuristic quality filtering — the standard LLM-training-pipeline text
ops (BASELINE.json:6 mandate). Everything is built-in-function only
(split/explode/groupBy/window); the hot paths stay in whole-stage
codegen.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from glaciersgee_spark.caches import scoped_persist, scoped_value
from glaciersgee_spark.registry import davg, dsum, query
from glaciersgee_spark.tables import fan_out, load_table, local_frame

# Corpus-frequent function words to drop for "top terms" (fixed literal
# list — the corpus vocabulary is synthetic data-engine words).
STOPWORDS = ["the", "a", "of", "and", "to", "in"]


@query(
    "q_e_text_tokens",
    oracle="""
    SELECT token, COUNT(*) AS n
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
    ORDER BY n DESC, token ASC
    LIMIT 40
    """,
)
def q_e_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize + global token counts, top 40 (tie-broken on token so
    the returned SET is deterministic). The explode→count is the
    map-side-combinable wordcount shape — at 100 TB the combine step
    collapses each partition to |vocab| rows before the shuffle."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(40)
    )


@query(
    "q_e_tfidf",
    oracle="""
    WITH tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY doc_id, token
    ),
    df AS (SELECT token, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tf.doc_id, tf.token, tf.tf,
           round(ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0, 6) AS idf,
           round(tf.tf * round(ln((n.n_docs + 1.0) / (df.df + 1.0)) + 1.0, 6), 6)
             AS tfidf
    FROM tf JOIN df ON tf.token = df.token CROSS JOIN n
    WHERE tf.doc_id % 20 = 0
    """,
)
def q_e_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF per (doc, term): smooth idf = ln((N+1)/(df+1)) + 1.

    idf is rounded to 6 dp (ln is libm-dependent in the last ulp);
    tf·idf of the rounded value is then exactly representable, so the
    final round is deterministic in both engines. df is computed over
    the FULL corpus; only the scored sample of docs is emitted.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    # Corpus size as a 1-row broadcast aggregate (repo convention),
    # not an eager driver-side d.count() at plan-build — keeps the
    # declared query lazy and avoids a separate full-scan job.
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    idf = F.round(F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)) + 1.0, 6)
    return (
        tf.where(F.col("doc_id") % 20 == 0)
        .join(df, "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            idf.alias("idf"),
            F.round(F.col("tf") * idf, 6).alias("tfidf"),
        )
    )


@query(
    "q_e_text_stats",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           (CAST(SUM(n_chars) AS DOUBLE) / COUNT(*)) AS avg_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars,
           quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS median_chars,
           {davg("CAST(len(string_split(text, ' ')) AS DOUBLE)")} AS avg_tokens
    FROM documents
    GROUP BY lang
    """,
)
def q_e_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics incl. exact median (Spark
    percentile ≡ DuckDB quantile_cont — verified bit-identical linear
    interpolation). n_chars sums are exact integer arithmetic."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.expr("percentile(CAST(n_chars AS DOUBLE), 0.5)").alias("median_chars"),
        F.expr(davg("CAST(size(split(text, ' ')) AS DOUBLE)")).alias("avg_tokens"),
    )


@query(
    "q_e_lang_topterms",
    oracle=f"""
    WITH toks AS (
      SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    counts AS (
      SELECT lang, token, COUNT(*) AS n FROM toks
      WHERE token NOT IN ({', '.join("'" + s + "'" for s in STOPWORDS)})
      GROUP BY lang, token
    )
    SELECT lang, token, n, rk FROM (
      SELECT lang, token, n,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, token ASC) AS rk
      FROM counts
    ) WHERE rk <= 5
    """,
)
def q_e_lang_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 stopword-filtered terms per language (token pipeline +
    per-group ranked window)."""
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .where(~F.col("token").isin(STOPWORDS))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("token").asc())
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("lang", "token", "n", "rk")
    )


@query(
    "q_e_quality_filter",
    oracle="""
    SELECT doc_id, n_tokens, distinct_ratio, avg_token_len,
           (n_tokens BETWEEN 10 AND 200 AND distinct_ratio > 0.3) AS keep
    FROM (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS distinct_ratio,
             CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
               / len(string_split(text, ' ')) AS avg_token_len
      FROM documents
    )
    """,
)
def q_e_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic LLM-pipeline quality scoring: token count bounds,
    type/token (distinct) ratio, mean token length — emitted with the
    keep/drop verdict so downstream filters are a plain where()."""
    d = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    n_tok = F.size(words)
    out = d.select(
        "doc_id",
        n_tok.cast("long").alias("n_tokens"),
        (F.size(F.array_distinct(words)).cast("double") / n_tok).alias("distinct_ratio"),
        ((F.col("n_chars") - (n_tok - 1)).cast("double") / n_tok).alias("avg_token_len"),
    )
    return out.withColumn(
        "keep",
        F.col("n_tokens").between(10, 200) & (F.col("distinct_ratio") > 0.3),
    )


# Per-language character-trigram profiles for the n-gram language-ID
# heuristic. Fixed literals (no training step) — real pipelines load a
# fastText-style model; the engine shape (pure scan-side expressions,
# zero shuffles until the final confusion rollup) is identical.
LANG_TRIGRAMS: dict[str, list[str]] = {
    "de": ["sch", "ein", "der", "ung"],
    "en": ["the", "ing", "ion", " a "],
    "es": ["ció", "los", "ent", "de "],
    "fr": ["eau", "oux", "les", "de "],
    "zh": ["de5", "shi", "le5", "zh"],
}


def _occurrences(text_expr: str, needle: str) -> str:
    """Portable substring-occurrence count via length/replace (both
    dialects): (len(s) - len(replace(s, t, ''))) / len(t)."""
    lit = needle.replace("'", "''")
    return (
        f"CAST((length({text_expr}) - length(replace({text_expr}, '{lit}', '')))"
        f" / {len(needle)} AS BIGINT)"
    )


def _lang_score(text_expr: str, lang: str) -> str:
    return " + ".join(_occurrences(text_expr, t) for t in LANG_TRIGRAMS[lang])


def _lang_pred_sql() -> str:
    """argmax over scores with alphabetical tie-break (deterministic)."""
    langs = sorted(LANG_TRIGRAMS)
    m = "greatest(" + ", ".join(f"s_{lang}" for lang in langs) + ")"
    cases = " ".join(f"WHEN s_{lang} = {m} THEN '{lang}'" for lang in langs)
    return f"CASE {cases} END"


_LANG_SCORES_SQL = ", ".join(
    f"{_lang_score('lower(text)', lang)} AS s_{lang}" for lang in sorted(LANG_TRIGRAMS)
)


@query(
    "q_e_lang_id",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, {_LANG_SCORES_SQL} FROM documents
    ),
    pred AS (SELECT lang, {_lang_pred_sql()} AS pred_lang FROM scored)
    SELECT lang, pred_lang, COUNT(*) AS n
    FROM pred GROUP BY lang, pred_lang
    """,
)
def q_e_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-heuristic language ID + confusion matrix vs the labeled
    lang column. Per doc: count occurrences of each language's profile
    trigrams (replace-based, stays in codegen), argmax with
    alphabetical tie-break, then a tiny groupBy(lang, pred) rollup.
    At 100 TB this is one narrow scan stage — no shuffle until the
    |langs|² confusion aggregation."""
    d = load_table(spark, sf_dir, "documents")
    langs = sorted(LANG_TRIGRAMS)
    scored = d.select(
        "lang",
        *[
            F.expr(_lang_score("lower(text)", lang)).alias(f"s_{lang}")
            for lang in langs
        ],
    )
    pred = scored.select("lang", F.expr(_lang_pred_sql()).alias("pred_lang"))
    return pred.groupBy("lang", "pred_lang").agg(F.count(F.lit(1)).alias("n"))


# GPT-2-style pre-tokenizer regex, reduced to the RE2∩Java-regex common
# subset (SURVEY.md §7.4 regex trap): letter runs, digit runs, single
# non-alphanumeric marks.
_BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@query(
    "q_e_token_bpe",
    oracle=f"""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(len(regexp_extract_all(lower(text), '{_BPE_RE}'))) AS BIGINT)
             AS total_bpe,
           {davg(f"CAST(len(regexp_extract_all(lower(text), '{_BPE_RE}')) AS DOUBLE)")}
             AS avg_bpe_tokens,
           {davg("CAST(len(string_split(text, ' ')) AS DOUBLE)")} AS avg_ws_tokens
    FROM documents
    GROUP BY lang
    """,
)
def q_e_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish regex pre-tokenizer vs whitespace
    split, aggregated per language. regexp_extract_all runs JVM-side
    (no Python); counts are exact integers, means via the exact-decimal
    davg pattern."""
    d = load_table(spark, sf_dir, "documents")
    bpe_n = f"CAST(size(regexp_extract_all(lower(text), '{_BPE_RE}', 0)) AS DOUBLE)"
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr(
            f"SUM(size(regexp_extract_all(lower(text), '{_BPE_RE}', 0)))"
        ).alias("total_bpe"),
        F.expr(davg(bpe_n)).alias("avg_bpe_tokens"),
        F.expr(davg("CAST(size(split(text, ' ')) AS DOUBLE)")).alias("avg_ws_tokens"),
    )


# PII scrubbing: the corpus text is a clean synthetic word bag, so the
# contact-bearing string is CONSTRUCTED deterministically from corpus
# columns (an export-manifest-contact shape) and then scrubbed — what
# the op demonstrates is the replace-ALL + match-count regex surface,
# which is where the engines genuinely differ (DuckDB replaces first
# match unless 'g'; Spark always replaces all). Patterns are in the
# RE2∩Java common subset (SURVEY.md §7.4 regex trap).
_PII_EMAIL = "[a-z0-9.]+@[a-z.]+"
_PII_ID = "[0-9]{6,}"


@query(
    "q_e_pii_scrub",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id,
             printf('%s contact %s.user%d@%s.example.com ref %09d end',
                    substring(text, 1, 20), lang, doc_id, source,
                    doc_id * 7919) AS blob
      FROM documents
    )
    SELECT doc_id,
           regexp_replace(regexp_replace(blob, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                          '{_PII_ID}', '<ID>', 'g') AS scrubbed,
           CAST(len(regexp_extract_all(blob, '{_PII_EMAIL}')) AS INT) AS n_emails,
           CAST(len(regexp_extract_all(blob, '{_PII_ID}')) AS INT) AS n_ids
    FROM raw
    """,
)
def q_e_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass (LLM-pipeline cleaning stage): replace every
    email-shaped and long-digit-run substring with typed placeholders
    and report per-doc match counts. Pure codegen expressions — one
    narrow scan stage, no shuffle, no Python."""
    d = load_table(spark, sf_dir, "documents")
    blob = F.format_string(
        "%s contact %s.user%d@%s.example.com ref %09d end",
        F.substring("text", 1, 20),
        F.col("lang"),
        F.col("doc_id"),
        F.col("source"),
        F.col("doc_id") * 7919,
    )
    raw = d.select("doc_id", blob.alias("blob"))
    return raw.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("blob", _PII_EMAIL, "<EMAIL>"), _PII_ID, "<ID>"
        ).alias("scrubbed"),
        F.expr(f"CAST(size(regexp_extract_all(blob, '{_PII_EMAIL}', 0)) AS INT)").alias(
            "n_emails"
        ),
        F.expr(f"CAST(size(regexp_extract_all(blob, '{_PII_ID}', 0)) AS INT)").alias(
            "n_ids"
        ),
    )


@query(
    "q_e_train_split",
    oracle="""
    WITH s AS (
      SELECT lang, n_chars,
             CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 100 AS bucket
      FROM documents
    )
    SELECT CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split,
           lang, COUNT(*) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM s GROUP BY 1, 2
    """,
)
def q_e_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) by content-stable
    hash bucket — the training-pipeline partitioner. md5-derived bucket
    = identical assignment in any engine, on any cluster, at any
    partitioning (df.sample() is none of those); the same doc always
    lands in the same split across reruns and backfills. One narrow
    stage + a |splits|×|langs| aggregate."""
    from glaciersgee_spark.operators.dedup import _hash_split

    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(_hash_split().alias("split"), F.col("lang")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# Benchmark decontamination: the LLM-pipeline step that screens the
# training corpus against a held-out eval set for n-gram overlap
# (training docs sharing enough shingles with any eval doc are
# contamination candidates). Eval set here = source 'src0'.
_SPARK_SH3 = (
    "array_distinct(transform(sequence(1, size(tk) - 2), i -> concat_ws(' ', "
    "element_at(tk, i), element_at(tk, i + 1), element_at(tk, i + 2))))"
)
_DUCK_SH3 = (
    "list_distinct(list_transform(range(1, len(tk) - 1), "
    "i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))"
)
_DECON_MIN_SHARED = 3


@query(
    "q_e_decontaminate",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, string_split(text, ' ') AS tk FROM documents
      WHERE len(string_split(text, ' ')) >= 3
    ),
    post AS (
      SELECT doc_id, source,
             CAST(concat('0x', substring(md5(unnest({_DUCK_SH3})), 1, 15))
                  AS BIGINT) AS pkey
      FROM t
    ),
    ev AS (SELECT doc_id AS ev_doc, pkey FROM post WHERE source = 'src0'),
    tr AS (SELECT doc_id AS tr_doc, pkey FROM post WHERE source <> 'src0'),
    joined AS (SELECT tr_doc, ev_doc, tr.pkey FROM tr JOIN ev USING (pkey)),
    shared AS (
      SELECT tr_doc, COUNT(DISTINCT pkey) AS n_shared_shingles,
             COUNT(DISTINCT ev_doc) AS n_eval_docs
      FROM joined GROUP BY tr_doc
    ),
    pairs AS (
      SELECT tr_doc, ev_doc, COUNT(*) AS o FROM joined GROUP BY tr_doc, ev_doc
    ),
    mo AS (SELECT tr_doc, MAX(o) AS max_overlap FROM pairs GROUP BY tr_doc)
    SELECT s.tr_doc AS doc_id, s.n_shared_shingles, s.n_eval_docs, mo.max_overlap
    FROM shared s JOIN mo USING (tr_doc)
    WHERE s.n_shared_shingles >= {_DECON_MIN_SHARED}
    """,
)
def q_e_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination screen: flag training docs (source ≠
    src0) sharing ≥3 distinct token-trigram shingles with any eval doc
    (source = src0), reporting total shared shingles, how many eval
    docs are touched, and the largest single-eval-doc overlap.

    Shape: shingle both sides once, hash to int64 (md5-derived for
    oracle parity), inverted-index join on the shingle key with the
    EVAL side broadcast — the eval set is always tiny next to the
    training corpus, so at 100 TB this is one map-side join over the
    training postings plus two slim aggregations; the training corpus
    never shuffles by shingle."""
    from glaciersgee_spark.tables import fan_out

    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    t = d.select("doc_id", "source", F.split("text", " ").alias("tk")).where(
        F.size("tk") >= 3
    )
    post = t.select(
        "doc_id",
        "source",
        F.explode(F.expr(_SPARK_SH3)).alias("s"),
    ).select(
        "doc_id",
        "source",
        F.expr("CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)").alias("pkey"),
    )
    # eval and training branches both read this subtree
    post = scoped_persist(post, spark, sf_dir, "decontaminate_post")
    ev = post.where(F.col("source") == "src0").select(
        F.col("doc_id").alias("ev_doc"), "pkey"
    )
    tr = post.where(F.col("source") != "src0").select(
        F.col("doc_id").alias("tr_doc"), "pkey"
    )
    joined = scoped_persist(
        tr.join(F.broadcast(ev), "pkey"), spark, sf_dir,
        "decontaminate_joined",
    )
    shared = joined.groupBy("tr_doc").agg(
        F.countDistinct("pkey").alias("n_shared_shingles"),
        F.countDistinct("ev_doc").alias("n_eval_docs"),
    )
    mo = (
        joined.groupBy("tr_doc", "ev_doc")
        .agg(F.count(F.lit(1)).alias("o"))
        .groupBy("tr_doc")
        .agg(F.max("o").alias("max_overlap"))
    )
    return (
        shared.join(mo, "tr_doc")
        .where(F.col("n_shared_shingles") >= _DECON_MIN_SHARED)
        .select(
            F.col("tr_doc").alias("doc_id"),
            "n_shared_shingles",
            "n_eval_docs",
            "max_overlap",
        )
    )


# Sequence packing: the pretraining-data step that concatenates docs
# into fixed-length context windows. Deterministic stream order =
# (lang, doc_id); a doc's pack is where its first token lands.
_PACK_BUDGET = 256


@query(
    "q_e_seq_pack",
    oracle=f"""
    SELECT doc_id, lang, n_tokens,
           CAST(cum - n_tokens AS BIGINT) AS start_off,
           CAST((cum - n_tokens) // {_PACK_BUDGET} AS BIGINT) AS pack_id
    FROM (
      SELECT doc_id, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
               OVER (PARTITION BY lang ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM documents
    )
    """,
)
def q_e_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining: per language stream (ordered
    by doc_id), each doc's token run starts at the running offset; its
    pack (context window) is start_off // 256. One shuffle on lang,
    one ordered window pass. At 100 TB the stream key becomes
    (shard, lang) so window partitions stay bounded, and the pack_id
    feeds the partitioned sink that writes training shards."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(F.split("text", " ")).cast("long")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = d.select("doc_id", "lang", n_tok.alias("n_tokens")).withColumn(
        "cum", F.sum("n_tokens").over(w)
    )
    start = F.col("cum") - F.col("n_tokens")
    return base.select(
        "doc_id",
        "lang",
        "n_tokens",
        start.cast("long").alias("start_off"),
        (start / _PACK_BUDGET).cast("long").alias("pack_id"),
    )


@query(
    "q_e_repetition",
    oracle="""
    SELECT doc_id,
           CAST(n3 - d3 AS DOUBLE) / n3 AS dup_trigram_ratio,
           CAST(top_tok AS DOUBLE) / n_tok AS top_token_share,
           (CAST(n3 - d3 AS DOUBLE) / n3 > 0.2
            OR CAST(top_tok AS DOUBLE) / n_tok > 0.2) AS repetitive
    FROM (
      SELECT doc_id,
             len(tg) AS n3, len(list_distinct(tg)) AS d3,
             len(tk) AS n_tok,
             (SELECT MAX(c) FROM (
                SELECT COUNT(*) AS c FROM unnest(tk) AS u(t) GROUP BY t)) AS top_tok
      FROM (
        SELECT doc_id, tk,
               list_transform(range(1, len(tk) - 1),
                              i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]) AS tg
        FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
        WHERE len(tk) >= 3
      )
    )
    """,
)
def q_e_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition metrics per doc: duplicate-trigram ratio
    (1 − distinct/total 3-grams) and the most-frequent token's share,
    with the keep/drop-style repetitive verdict. All higher-order array
    expressions on the scan — zero shuffles; the top-token count uses
    aggregate() over the distinct tokens (an O(u·n) in-row pass, fine
    at word-bag document sizes)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.split("text", " ").alias("tk")).where(F.size("tk") >= 3)
    tg = (
        "transform(sequence(1, size(tk) - 2), i -> concat_ws(' ', "
        "element_at(tk, i), element_at(tk, i + 1), element_at(tk, i + 2)))"
    )
    top_tok = (
        "array_max(transform(array_distinct(tk), t -> "
        "size(filter(tk, x -> x = t))))"
    )
    base = t.select(
        "doc_id",
        F.expr(f"size({tg})").alias("n3"),
        F.expr(f"size(array_distinct({tg}))").alias("d3"),
        F.size("tk").alias("n_tok"),
        F.expr(top_tok).alias("top_tok"),
    )
    dup_ratio = (F.col("n3") - F.col("d3")).cast("double") / F.col("n3")
    top_share = F.col("top_tok").cast("double") / F.col("n_tok")
    return base.select(
        "doc_id",
        dup_ratio.alias("dup_trigram_ratio"),
        top_share.alias("top_token_share"),
        ((dup_ratio > 0.2) | (top_share > 0.2)).alias("repetitive"),
    )


@query(
    "q_e_doc_chunk",
    oracle="""
    WITH t AS (
      SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT doc_id, n_tokens,
           s // 16 AS chunk_id,
           s AS start_tok,
           least(s + 32, n_tokens) AS end_tok,
           least(s + 32, n_tokens) - s AS chunk_len
    FROM (SELECT doc_id, n_tokens, unnest(range(0, n_tokens, 16)) AS s FROM t)
    """,
)
def q_e_doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping context-window chunking: every doc expands to
    stride-16 chunk offsets with a 32-token window (the standard
    pre-tokenization chunking pass ahead of embedding or packing).

    Executor-side row expansion only (sequence + posexplode) — no
    shuffle, no driver state; at 100 TB the expansion multiplies rows
    ~2× inside the scan stage and everything stays in codegen."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    ch = t.select(
        "doc_id",
        "n_tokens",
        F.posexplode(F.expr("sequence(0L, n_tokens - 1, 16L)")).alias(
            "chunk_id", "start_tok"
        ),
    )
    end = F.least(F.col("start_tok") + 32, F.col("n_tokens"))
    return ch.select(
        "doc_id",
        "n_tokens",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "start_tok",
        end.alias("end_tok"),
        (end - F.col("start_tok")).alias("chunk_len"),
    )


@query(
    "q_e_mix_weights",
    oracle=f"""
    WITH per AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
      FROM documents GROUP BY source
    ),
    tot AS (SELECT {dsum('SQRT(CAST(n_docs AS DOUBLE))')} AS z FROM per)
    SELECT source, n_docs, total_tokens,
           round(SQRT(CAST(n_docs AS DOUBLE)) / z, 6) AS weight,
           CAST(floor(round(SQRT(CAST(n_docs AS DOUBLE)) / z, 6) * 1000000)
                AS BIGINT) AS epoch_quota
    FROM per CROSS JOIN tot
    """,
)
def q_e_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-sampled source-mixture weights (alpha = 0.5): the
    training-mix computation w_s ∝ n_s^0.5 normalized over sources,
    plus a 1M-doc epoch quota per source.

    Determinism: sqrt is IEEE-correctly-rounded, the normalizer is an
    exact decimal sum of the 20 per-source sqrt values (dsum), and the
    quota floors the 6-dp-rounded weight — identical bits in both
    engines. One shuffle (the groupBy); the normalizer join is a
    broadcast of a single row."""
    d = load_table(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("total_tokens"),
    )
    tot = per.agg(F.expr(dsum("SQRT(CAST(n_docs AS DOUBLE))")).alias("z"))
    w = F.round(F.sqrt(F.col("n_docs").cast("double")) / F.col("z"), 6)
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "total_tokens",
        w.alias("weight"),
        F.floor(w * 1_000_000).cast("long").alias("epoch_quota"),
    )



def lm_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, avg_logp): mean 6-dp-rounded ln token
    probability per doc under the corpus unigram distribution. The
    token stream is fanned out once (two consumers reuse the single
    repartition; no-op on many-file scans); the corpus token total is
    a 1-row broadcast aggregate (repo convention — no driver-side
    count at plan-build). A scoped_persist frame: it is the shared
    base of q_e_ngram_lm AND q_e_ppl_buckets, so one corpus pays the
    LM pipeline once per session, not once per consumer."""
    d = load_table(spark, sf_dir, "documents")
    toks = fan_out(d, "doc_id").select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    )
    cnt = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    tot = toks.agg(F.count(F.lit(1)).cast("double").alias("t_total"))
    logp = "round(ln(CAST(c AS DOUBLE) / t_total), 6)"
    lm = (
        toks.join(F.broadcast(cnt), "token")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.expr(davg(logp)).alias("avg_logp"),
        )
    )
    return scoped_persist(lm, spark, sf_dir, "lm_scores")


@query(
    "q_e_ngram_lm",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    ),
    cnt AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY token),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM toks)
    SELECT doc_id, COUNT(*) AS n_tokens,
           {davg('round(ln(CAST(c AS DOUBLE) / t), 6)')} AS avg_logp,
           {davg('round(ln(CAST(c AS DOUBLE) / t), 6)')} < -7.5 AS is_lowq
    FROM toks JOIN cnt USING (token) CROSS JOIN tot
    GROUP BY doc_id
    """,
)
def q_e_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality score per doc: mean log-probability of the
    doc's token instances under the corpus unigram distribution, with
    a low-quality verdict below a fixed nats threshold — the cheap
    LM-based quality filter of LLM-data pipelines.

    ln is rounded to 6 dp before averaging (libm last-ulp guard, same
    as q_e_tfidf) and the mean is the exact-decimal davg. The token
    count table is broadcast (vocabulary ≪ corpus); the only wide ops
    are the vocab groupBy and the per-doc agg — both map-side
    combinable. The corpus token total is a driver-side scalar, like
    q_e_tfidf's n_docs."""
    lm = lm_scores(spark, sf_dir)
    return lm.select(
        "doc_id", "n_tokens", "avg_logp", (F.col("avg_logp") < -7.5).alias("is_lowq")
    )


BM25_TERMS = ("hash", "join", "window")
BM25_K1, BM25_B = 1.2, 0.75


# BM25 CTE chain (through per-(doc,term) 6-dp contributions) shared
# with q_e_rrf_fusion's oracle so both stay literally parallel.
BM25_CTES = f"""dl AS (
      SELECT doc_id, len(string_split(text, ' ')) AS dl FROM documents
    ),
    avgdl AS (SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dl),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    tf AS (
      SELECT doc_id, token, COUNT(*) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
      WHERE token IN ('hash', 'join', 'window')
      GROUP BY doc_id, token
    ),
    df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    contrib AS (
      SELECT tf.doc_id,
             round(round(ln(1.0 + (n.n_docs - df.df + 0.5) / (df.df + 0.5)), 6)
                   * ((tf.tf * {1.0 + BM25_K1}) / (tf.tf + {BM25_K1} *
                      (0.25 + {BM25_B} * (CAST(dl.dl AS DOUBLE) / avgdl.avgdl)))),
                   6) AS c
      FROM tf JOIN df ON tf.token = df.token
           JOIN dl ON tf.doc_id = dl.doc_id
           CROSS JOIN avgdl CROSS JOIN n
    )"""


@query(
    "q_e_bm25",
    oracle=f"""
    WITH {BM25_CTES}
    SELECT doc_id, COUNT(*) AS n_hit, {dsum('c')} AS score
    FROM contrib GROUP BY doc_id
    """,
)
def q_e_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 scoring of the corpus against a fixed query term set
    (k1=1.2, b=0.75) — the classic retrieval upgrade over q_e_tfidf's
    raw tf·idf (adds saturation + doc-length normalization).

    Determinism: idf is rounded to 6 dp (ln is libm-dependent), each
    per-term contribution is rounded to 6 dp with an identical
    expression tree in both engines (per-row IEEE ops), and the per-doc
    sum of contributions goes through dsum. avgdl is exact-int-sum /
    count, computed IN-PLAN (broadcast scalar, no collect). Plan shape
    at 100 TB: one token explode pre-filtered to |Q| terms (the filter
    lands before the groupBy shuffle), df and avgdl are broadcast
    scalars, one final groupBy doc_id."""
    d = load_table(spark, sf_dir, "documents")
    dl = d.select("doc_id", F.size(F.split("text", " ")).alias("dl"))
    # avgdl AND n_docs as ONE 1-row broadcast aggregate (repo
    # convention, like q_e_tfidf) — no eager driver-side count() at
    # plan-build, no extra scan job.
    scal = dl.agg(
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    tf = (
        toks.where(F.col("token").isin(*BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    idf6 = F.round(
        F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)),
        6,
    )
    contrib = F.round(
        idf6
        * (
            (F.col("tf") * (1.0 + BM25_K1))
            / (
                F.col("tf")
                + BM25_K1
                * (0.25 + BM25_B * (F.col("dl").cast("double") / F.col("avgdl")))
            )
        ),
        6,
    )
    scored = (
        tf.join(F.broadcast(df), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(scal))
        .select("doc_id", contrib.alias("c"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_hit"),
        F.expr(dsum("c")).alias("score"),
    )


@query(
    "q_e_bpe_pairs",
    oracle="""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, len(t)), i -> substr(t, CAST(i AS INT), 2)))
               AS pair
      FROM toks WHERE len(t) >= 2
    )
    SELECT pair, COUNT(*) AS n
    FROM pairs GROUP BY pair
    ORDER BY n DESC, pair ASC
    LIMIT 30
    """,
)
def q_e_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary induction, step 1: corpus-wide adjacent
    character-pair frequencies (the argmax pair is the first BPE merge;
    iterating this query IS the training loop). Top 30, tie-broken on
    the pair so the result set is deterministic.

    Shape: token explode → per-token pair expansion via
    transform(sequence) (narrow, codegen) → wordcount-style groupBy
    with map-side combine → TakeOrdered 30. One shuffle of ≤ |charset|²
    combined rows per partition — at 100 TB the combine collapses each
    partition to ~1k rows before the wire."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("t")).where(
        F.length("t") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.expr("transform(sequence(1, char_length(t) - 1), i -> substr(t, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("pair").asc())
        .limit(30)
    )


BPE_ROUNDS = 5  # bounded merge budget, the q_e_kmeans_train discipline

# Symbol-string representation shared by both engines: a word's symbol
# sequence is each symbol wrapped in mathematical angle brackets
# (U+27E8/U+27E9, asserted absent from the corpus), so the merge of
# pair (l, r) is the plain non-overlapping left-to-right
# replace('⟨l⟩⟨r⟩' → '⟨lr⟩') — exactly BPE's greedy scan — and a
# symbol boundary can never be confused with symbol CONTENT ('ka b'
# vs 'k ab' style false matches, the failure of space-separated
# encodings).


def _bpe_rounds() -> list[str]:
    """Unrolled BPE merge rounds as a dependent CTE chain (the
    _kmt_rounds discipline): each round explodes adjacent symbol
    pairs of the previous round's word forms, argmaxes by
    (occurrences, left, right), and applies the merge with a literal
    replace. LEFT JOIN ON TRUE keeps the chain total when a round
    finds no pair (every word already a single symbol)."""
    rounds = []
    for r in range(1, BPE_ROUNDS + 1):
        rounds.append(f"""e{r} AS (
      SELECT s, freq,
             unnest(list_transform(range(1, len(sy)),
                                   i -> sy[i] || '⟩⟨' || sy[i + 1])) AS pr
      FROM (SELECT s, freq,
                   string_split(substr(s, 2, length(s) - 2), '⟩⟨') AS sy
            FROM w{r - 1})),
    p{r} AS (SELECT string_split(pr, '⟩⟨')[1] AS ls,
                    string_split(pr, '⟩⟨')[2] AS rs,
                    CAST(SUM(freq) AS BIGINT) AS n_occ,
                    CAST(COUNT(DISTINCT s) AS BIGINT) AS n_types
             FROM e{r} GROUP BY pr),
    b{r} AS (SELECT ls, rs, n_occ, n_types FROM p{r}
             ORDER BY n_occ DESC, ls ASC, rs ASC LIMIT 1),
    w{r} AS (SELECT w.word,
                    CASE WHEN b.ls IS NULL THEN w.s
                         ELSE replace(w.s, '⟨' || b.ls || '⟩⟨' || b.rs || '⟩',
                                           '⟨' || b.ls || b.rs || '⟩')
                    END AS s, w.freq
             FROM w{r - 1} w LEFT JOIN b{r} b ON TRUE)""")
    return rounds


# The WITH-body shared by the q_e_bpe_train trace and the
# q_e_bpe_fertility application oracle (the _kmt_chain discipline:
# one spelling, two consumers, impossible to desynchronize). Carries
# `word` through every round so downstream oracles can join the
# trained forms back to per-language frequencies.
def _bpe_chain() -> str:
    return f"""wt AS (
      SELECT t AS word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
      GROUP BY t
    ),
    w0 AS (SELECT word, regexp_replace(word, '(.)', '⟨\\1⟩', 'g') AS s, freq
           FROM wt),
    {','.join(_bpe_rounds())}"""


def _bpe_oracle() -> str:
    trace = " UNION ALL ".join(
        f"SELECT CAST({r} AS BIGINT) AS rnd, ls AS left_sym, rs AS right_sym,"
        f" ls || rs AS merged, n_occ, n_types FROM b{r}"
        for r in range(1, BPE_ROUNDS + 1)
    )
    return f"""
    WITH {_bpe_chain()}
    SELECT * FROM ({trace}) ORDER BY rnd
    """


def _bpe_train(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """Run the bounded 5-merge training loop (see q_e_bpe_train's
    docstring for the discipline) and return the merge trace rows
    (rnd, left, right, merged, n_occ, n_types). A scoped_value shared
    by q_e_bpe_train (the trace itself) and q_e_bpe_fertility (which
    APPLIES the learned merges), so the loop runs once per (app, sf)."""
    return scoped_value(
        spark, sf_dir, "bpe_trace", lambda: _bpe_merges(spark, sf_dir)
    )


def _bpe_merges(spark: SparkSession, sf_dir: str) -> list[tuple]:
    d = load_table(spark, sf_dir, "documents")
    wt = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    # one persisted |word types|-row frame; the corpus scan happens once
    base = wt.select(
        F.regexp_replace("w", "(.)", "⟨$1⟩").alias("s"), "freq"
    ).persist()
    cur = base
    trace: list[tuple] = []
    try:
        for rnd in range(1, BPE_ROUNDS + 1):
            syd = cur.withColumn(
                "sy",
                F.split(F.expr("substring(s, 2, char_length(s) - 2)"), "⟩⟨"),
            )
            # size >= 2 guard: Spark's sequence(1, 0) DESCENDS instead
            # of returning empty, and ANSI element_at would then throw
            pairs = syd.where(F.size("sy") >= 2).select(
                "s",
                "freq",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(sy) - 1),"
                        " i -> struct(element_at(sy, i) AS ls,"
                        "             element_at(sy, i + 1) AS rs))"
                    )
                ).alias("p"),
            )
            stats = pairs.groupBy(
                F.col("p.ls").alias("ls"), F.col("p.rs").alias("rs")
            ).agg(
                F.sum("freq").cast("long").alias("n_occ"),
                F.countDistinct("s").alias("n_types"),
            )
            best = (
                stats.orderBy(
                    F.col("n_occ").desc(), F.col("ls").asc(), F.col("rs").asc()
                )
                .limit(1)
                .collect()
            )
            if not best:
                break  # every word is a single symbol — trained out
            b = best[0]
            trace.append(
                (rnd, b.ls, b.rs, b.ls + b.rs, int(b.n_occ), int(b.n_types))
            )
            cur = cur.withColumn(
                "s",
                F.replace(
                    F.col("s"),
                    F.lit(f"⟨{b.ls}⟩⟨{b.rs}⟩"),
                    F.lit(f"⟨{b.ls}{b.rs}⟩"),
                ),
            )
    finally:
        # cur chains narrow transforms ON TOP of the persisted base and
        # the trace is plain rows, so releasing the base leaks nothing
        base.unpersist()
    return trace


@query("q_e_bpe_train", oracle=_bpe_oracle())
def q_e_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary TRAINING to a fixed 5-merge budget
    (round 8, VERDICT r7 item 6 — the loop q_e_bpe_pairs is step 1 of,
    run with the q_e_kmeans_train discipline: a driver-side for-loop
    of bounded distributed rounds, one 1-row argmax collect per round).
    Classic Sennrich-style word-type BPE: train on the (word type,
    corpus frequency) table, count adjacent symbol-pair positions
    weighted by word frequency, merge the most frequent pair
    (ties → lexicographically smallest left, then right symbol), and
    re-count over the merged forms. Emits the merge trace — per round
    the merged pair, its weighted occurrence count, and how many word
    types contained it — the artifact a tokenizer-training job logs
    and ships.

    Engine split, sized for 100 TB: the corpus is touched ONCE (the
    map-side-combined token count that builds the word-type table —
    the same shuffle q_e_text_tokens rides); every training round then
    runs over |word types| rows (persisted once, unpersisted in a
    finally), each round = one narrow pair explode + one combinable
    groupBy + a 1-row collect; the merge apply is a literal
    whole-string replace, narrow and codegen. Determinism: pair counts
    are exact BIGINTs; replace() is left-to-right non-overlapping in
    both engines (probed: '⟨l⟩⟨l⟩⟨l⟩' merges once, the BPE greedy
    contract); the oracle re-derives the identical chain with unrolled
    CTEs. A round with no remaining pairs stops the loop (the oracle's
    LEFT JOIN ON TRUE mirrors by passing word forms through). The
    trace is trained once per (app, sf) (a scoped_value) and
    reused by q_e_bpe_fertility, which APPLIES these merges."""
    from pyspark.sql import types as T

    trace = _bpe_train(spark, sf_dir)
    schema = T.StructType(
        [
            T.StructField("rnd", T.LongType()),
            T.StructField("left_sym", T.StringType()),
            T.StructField("right_sym", T.StringType()),
            T.StructField("merged", T.StringType()),
            T.StructField("n_occ", T.LongType()),
            T.StructField("n_types", T.LongType()),
        ]
    )
    return local_frame(spark, trace, schema).orderBy("rnd")


def _bpe_fert_oracle() -> str:
    last = f"w{BPE_ROUNDS}"
    return f"""
    WITH {_bpe_chain()},
    lw AS (
      SELECT lang, t AS word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS t
            FROM documents)
      GROUP BY lang, t
    ),
    sym AS (SELECT word,
                   CAST(len(string_split(substr(s, 2, length(s) - 2),
                                         '⟩⟨')) AS BIGINT) AS n_sym
            FROM {last}),
    per AS (
      SELECT lang,
             CAST(SUM(freq) AS BIGINT) AS n_words,
             CAST(SUM(freq * n_sym) AS BIGINT) AS tot_sym,
             CAST(SUM(freq * length(word)) AS BIGINT) AS tot_chars
      FROM lw JOIN sym USING (word)
      GROUP BY lang
    )
    SELECT lang, n_words,
           floor(CAST(tot_sym AS DOUBLE) / n_words * 1000000 + 0.5)
             / 1000000 AS fertility6,
           floor(CAST(tot_sym AS DOUBLE) / tot_chars * 1000000 + 0.5)
             / 1000000 AS compress6
    FROM per ORDER BY lang
    """


@query("q_e_bpe_fertility", oracle=_bpe_fert_oracle())
def q_e_bpe_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the trained BPE merges and audit the tokenizer they
    produce (round 8 — the apply side of q_e_bpe_train, sharing its
    scoped_value trace exactly as q_e_ivf_trained shares _kmt_train's):
    per language, tokens-per-word under the 5-merge vocabulary
    (FERTILITY — the number a multilingual tokenizer team watches,
    since a language with high fertility pays proportionally more of
    its context window for the same text) and tokens-per-character
    (the compression ratio vs the char baseline, 1.0 = no merging
    helped). Languages whose words the learned merges cover shrink;
    languages the training mix under-represents stay near char-level
    — the fairness audit BPE papers report.

    Engine split: training amortizes via the cache; application is
    the same 5 literal replaces chained on the |word types| frame,
    joined to the per-(lang, word) count table — ONE token-count
    shuffle over the corpus, one |types|-row join, one combinable
    rollup. Integer exactness end to end (symbol counts and char
    totals are BIGINTs); the two closing divisions use the
    floor(x·1e6 + 0.5)/1e6 convention (round-7 HALF_UP/HALF_EVEN
    trap). Oracle re-applies the merges by unrolling the shared
    _bpe_chain, so the two engines cannot desynchronize."""
    trace = _bpe_train(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    lw = (
        d.select("lang", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    s = F.regexp_replace("word", "(.)", "⟨$1⟩")
    for _rnd, ls, rs, _m, _n, _t in trace:
        s = F.replace(s, F.lit(f"⟨{ls}⟩⟨{rs}⟩"), F.lit(f"⟨{ls}{rs}⟩"))
    n_sym = F.size(
        F.split(F.expr("substring(s_form, 2, char_length(s_form) - 2)"), "⟩⟨")
    ).cast("long")
    scored = lw.withColumn("s_form", s).select(
        "lang",
        "freq",
        n_sym.alias("n_sym"),
        F.length("word").cast("long").alias("n_chars"),
    )
    per = scored.groupBy("lang").agg(
        F.sum("freq").cast("long").alias("n_words"),
        F.sum(F.col("freq") * F.col("n_sym")).cast("long").alias("tot_sym"),
        F.sum(F.col("freq") * F.col("n_chars")).cast("long").alias("tot_chars"),
    )
    return per.select(
        "lang",
        "n_words",
        (
            F.floor(
                F.col("tot_sym").cast("double") / F.col("n_words") * 1e6 + 0.5
            )
            / 1e6
        ).alias("fertility6"),
        (
            F.floor(
                F.col("tot_sym").cast("double") / F.col("tot_chars") * 1e6
                + 0.5
            )
            / 1e6
        ).alias("compress6"),
    ).orderBy("lang")


# Per-language keep-rate (percent of the 100 md5 buckets kept): the
# down/up-weighting move of a training-mix curator, deterministic per
# doc (content-stable hash bucket, same family as q_e_train_split).
SAMPLE_RATES = {"en": 80, "fr": 50, "de": 50, "es": 30, "zh": 20}


@query(
    "q_e_stratified_sample",
    oracle=f"""
    WITH b AS (
      SELECT doc_id, lang, source,
             CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                  AS BIGINT) % 100 AS bucket
      FROM documents
    )
    SELECT doc_id, lang, source FROM b
    WHERE bucket < CASE lang
      {' '.join(f"WHEN '{k}' THEN {v}" for k, v in sorted(SAMPLE_RATES.items()))}
      ELSE 0 END
    """,
)
def q_e_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified deterministic sampling: each language keeps a
    configured share of its docs (en 80% … zh 20%) — the mix-curation
    downsampling pass ahead of training (companion to q_e_mix_weights,
    which computes weights; this one APPLIES a keep-rate).

    Selection is by content-stable md5 bucket, not df.sample():
    identical keep-set in any engine, at any partitioning, on any
    cluster — re-runs are reproducible and incremental re-ingest keeps
    prior decisions. Pure narrow filter on the scan; the CASE and hash
    are codegen expressions, zero shuffles at any scale."""
    from glaciersgee_spark.operators.dedup import _doc_hash

    d = load_table(spark, sf_dir, "documents")
    bucket = _doc_hash() % 100
    rate = F.lit(0)
    for k, v in sorted(SAMPLE_RATES.items()):
        rate = F.when(F.col("lang") == k, v).otherwise(rate)
    return d.where(bucket < rate).select("doc_id", "lang", "source")


@query(
    "q_e_zipf_slope",
    oracle=f"""
    WITH tok AS (
      SELECT token, COUNT(*) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY token
    ),
    rk AS (
      SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS r FROM tok
    ),
    ranked AS (
      SELECT round(ln(CAST(r AS DOUBLE)), 6) AS lx,
             round(ln(CAST(n AS DOUBLE)), 6) AS ly
      FROM rk WHERE r <= 1000
    )
    SELECT COUNT(*) AS n_ranks,
           round((COUNT(*) * {dsum('lx * ly', scale=12)} - {dsum('lx', scale=12)} * {dsum('ly', scale=12)})
                 / (COUNT(*) * {dsum('lx * lx', scale=12)} - {dsum('lx', scale=12)} * {dsum('lx', scale=12)}),
                 6) AS zipf_slope6
    FROM ranked
    """,
)
def q_e_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law audit of the corpus: OLS slope of ln(freq) vs ln(rank)
    over the top 1000 tokens (natural text ≈ −1; synthetic/templated
    corpora flatten — a cheap distribution-shift detector for incoming
    training data).

    Determinism: ln values are rounded to 6 dp (libm guard), their
    products to 12 dp, and every sum rides exact decimal; the closed-
    form slope then divides two identically-built doubles. Plan:
    wordcount shuffle → distributed top-1000 (TakeOrdered via
    orderBy+limit, not a global rank window — a vocab-sized
    unpartitioned window would sort billions of distinct tokens in one
    task at 100 TB) → re-rank the 1000-row result → 1-row aggregate."""
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = tok.orderBy(F.col("n").desc(), F.col("token").asc()).limit(1000)
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    ranked = (
        top.select("n", F.row_number().over(w).alias("r"))
        .select(
            F.round(F.log(F.col("r").cast("double")), 6).alias("lx"),
            F.round(F.log(F.col("n").cast("double")), 6).alias("ly"),
        )
    )
    n = F.count(F.lit(1))
    sxy = F.expr(dsum("lx * ly", scale=12))
    sx = F.expr(dsum("lx", scale=12))
    sy = F.expr(dsum("ly", scale=12))
    sxx = F.expr(dsum("lx * lx", scale=12))
    return ranked.agg(
        n.alias("n_ranks"),
        F.round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6).alias("zipf_slope6"),
    )


# Interpolated bigram LM: λ·MLE-bigram + (1-λ)·unigram, λ = 0.7.
_BG_L = "0.7"
_BG_U = "0.3"


@query(
    "q_e_bigram_lm",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             generate_subscripts(string_split(text, ' '), 1) AS pos,
             unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    uni AS (SELECT tok, COUNT(*) AS c1 FROM toks GROUP BY tok),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM toks),
    bg AS (
      SELECT a.doc_id, a.source, a.tok AS prev, b.tok AS cur
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    bgc AS (SELECT prev, cur, COUNT(*) AS c2 FROM bg GROUP BY prev, cur),
    scored AS (
      SELECT bg.doc_id, bg.source,
             round(ln({_BG_L} * (CAST(bgc.c2 AS DOUBLE) / up.c1)
                      + {_BG_U} * (CAST(uc.c1 AS DOUBLE) / tot.t)), 6) AS lp
      FROM bg
      JOIN bgc ON bg.prev = bgc.prev AND bg.cur = bgc.cur
      JOIN uni up ON bg.prev = up.tok
      JOIN uni uc ON bg.cur = uc.tok
      CROSS JOIN tot
    ),
    per_doc AS (
      SELECT doc_id, source, {davg('lp')} AS avg_lp
      FROM scored GROUP BY doc_id, source
    )
    SELECT source,
           COUNT(*) AS n_docs,
           {davg('avg_lp', 12)} AS avg_bigram_logp,
           COUNT(*) FILTER (WHERE avg_lp < -3.43) AS n_lowq
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def q_e_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM quality score (round 3): mean
    ln(0.7·c(w₁w₂)/c(w₁) + 0.3·c(w₂)/T) over each doc's bigram
    positions, rolled up per source with a low-quality count — the
    step up from q_e_ngram_lm's unigram score that actually penalizes
    scrambled word order, the signal separating template/boilerplate
    text from natural sequences.

    Shape: positional self-join per doc (co-partitioned on doc_id),
    bigram counts (map-side combinable), broadcast unigram vocab ×2,
    1-row total broadcast; ln rounded 6 dp per position, per-doc
    means exact-decimal, and the per-source mean-of-means cast at
    scale 12 — a per-doc mean sum_micro/n has at most 12 meaningful
    decimals (6 micro digits + ≤6 from n's 2^a·5^b part), so the
    scale-12 cast is exact and can never hit the half-up-vs-half-even
    rounding-tie divergence a scale-6 re-round produced at sf0.1."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.posexplode(F.split("text", " ")).alias("pos", "tok")
    )
    uni = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c1"))
    tot = toks.agg(F.count(F.lit(1)).cast("double").alias("t"))
    a = toks.select("doc_id", "source", "pos", F.col("tok").alias("prev"))
    b = toks.select(
        F.col("doc_id").alias("b_doc"), (F.col("pos") - 1).alias("b_pos"),
        F.col("tok").alias("cur"),
    )
    bg = a.join(
        b, (F.col("doc_id") == F.col("b_doc")) & (F.col("pos") == F.col("b_pos"))
    ).select("doc_id", "source", "prev", "cur")
    bgc = bg.groupBy("prev", "cur").agg(F.count(F.lit(1)).alias("c2"))
    up = uni.select(F.col("tok").alias("prev"), F.col("c1").alias("c1p"))
    uc = uni.select(F.col("tok").alias("cur"), F.col("c1").alias("c1c"))
    scored = (
        bg.join(bgc, ["prev", "cur"])
        .join(F.broadcast(up), "prev")
        .join(F.broadcast(uc), "cur")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "source",
            F.round(
                F.log(
                    0.7 * (F.col("c2").cast("double") / F.col("c1p"))
                    + 0.3 * (F.col("c1c").cast("double") / F.col("t"))
                ),
                6,
            ).alias("lp"),
        )
    )
    per_doc = scored.groupBy("doc_id", "source").agg(
        F.expr(davg("lp")).alias("avg_lp")
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr(davg("avg_lp", 12)).alias("avg_bigram_logp"),
            F.count(F.when(F.col("avg_lp") < -3.43, 1)).alias("n_lowq"),
        )
        .orderBy("source")
    )


# SymSpell fuzzy-vocab parameters: only tokens seen >= _FZ_MIN times
# enter the index (rarer is noise), and pairs must differ (a < b).
_FZ_MIN = 5

# 1-deletion neighborhood (plus the token itself), shared shape in
# both dialects: variant v of token t at position i drops t[i].
_FZ_SPARK_VARS = (
    "array_union(array(tok), transform(sequence(1, length(tok)),"
    " i -> concat(substring(tok, 1, i - 1), substring(tok, i + 1, length(tok)))))"
)
_FZ_DUCK_VARS = (
    "list_distinct(list_append(list_transform(range(1, len(tok) + 1),"
    " i -> substr(tok, 1, CAST(i - 1 AS INT))"
    " || substr(tok, CAST(i + 1 AS INT), len(tok))), tok))"
)


@query(
    "q_e_fuzzy_vocab",
    oracle=f"""
    WITH wc AS (
      SELECT token AS tok, COUNT(*) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      GROUP BY token HAVING COUNT(*) >= {_FZ_MIN}
    ),
    vars AS (
      SELECT tok, n, unnest({_FZ_DUCK_VARS}) AS v FROM wc
    ),
    cand AS (
      SELECT DISTINCT a.tok AS tok_a, b.tok AS tok_b, a.n AS n_a, b.n AS n_b
      FROM vars a JOIN vars b ON a.v = b.v AND a.tok < b.tok
    )
    SELECT tok_a, tok_b, n_a, n_b,
           CAST(levenshtein(tok_a, tok_b) AS INT) AS dist
    FROM cand
    WHERE levenshtein(tok_a, tok_b) = 1
    ORDER BY tok_a, tok_b
    """,
)
def q_e_fuzzy_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy vocabulary join via SYMMETRIC-DELETE blocking (the
    SymSpell trick): every frequent token expands to its 1-deletion
    neighborhood (token + |token| variants), candidates are pairs
    sharing a variant, and an exact levenshtein == 1 verify keeps true
    typo/variant pairs — the vocab-normalization and typo-mining step
    of a text-cleaning pipeline.

    The scale story is the blocking: edit-distance-1 neighbors MUST
    share a deletion variant, so the candidate space is an equi-join
    on a key whose per-token fan-out is |token|+1 — never the |V|²
    all-pairs scan, and never a wildcard index probe per token. The
    filter-verify split is exactly the LSH/minhash discipline applied
    to strings; verification cost is bounded by candidates that
    actually collide. Spark levenshtein ≡ DuckDB levenshtein
    (unit-cost edit distance) — asserted by the dist column riding
    the hashed output.
    """
    d = load_table(spark, sf_dir, "documents")
    wc = (
        d.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= _FZ_MIN)
    )
    vars_ = wc.select("tok", "n", F.explode(F.expr(_FZ_SPARK_VARS)).alias("v"))
    a = vars_.select(
        F.col("v"), F.col("tok").alias("tok_a"), F.col("n").alias("n_a")
    )
    b = vars_.select(
        F.col("v"), F.col("tok").alias("tok_b"), F.col("n").alias("n_b")
    )
    cand = (
        a.join(b, "v")
        .where(F.col("tok_a") < F.col("tok_b"))
        .select("tok_a", "tok_b", "n_a", "n_b")
        .distinct()
    )
    return (
        cand.where(F.levenshtein("tok_a", "tok_b") == 1)
        .select(
            "tok_a",
            "tok_b",
            "n_a",
            "n_b",
            F.levenshtein("tok_a", "tok_b").cast("int").alias("dist"),
        )
        .orderBy("tok_a", "tok_b")
    )


# Feature-hashing collision audit: shared quantization string (the
# floor-based money round — round(,6) half-up/half-even tie-breaking
# diverges cross-engine at exact .5e-7 rationals like 1/128).
_FH_RATE6 = (
    "CAST(floor((CAST(1 AS DOUBLE) - CAST(n_buckets AS DOUBLE) / n_types)"
    " * 1000000.0 + 0.5) AS DOUBLE) / 1000000.0"
)


@query(
    "q_e_feature_hashing",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS token
      FROM documents WHERE doc_id % 7 = 0
    ),
    per AS (
      SELECT doc_id, COUNT(*) AS n_tok, COUNT(DISTINCT token) AS n_types,
             COUNT(DISTINCT CAST(concat('0x', substring(md5(token), 1, 15))
                                 AS BIGINT) % 1024) AS n_buckets
      FROM tok GROUP BY doc_id
    )
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(n_types AS BIGINT) AS n_types,
           CAST(n_buckets AS BIGINT) AS n_buckets,
           {_FH_RATE6} AS collision_rate6
    FROM per ORDER BY doc_id
    """,
)
def q_e_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization audit (round 5): map each token to
    one of 1024 hash buckets (first 60 md5 bits mod 1024 — the
    cross-engine hash idiom) and measure, per sampled doc, how much
    vocabulary the fixed-width feature space loses to collisions
    (collision_rate = 1 − distinct buckets / distinct tokens).

    This is the feature layer a 100 TB training pipeline puts under
    linear/GBDT baselines precisely BECAUSE it scales: the feature
    space is fixed-width (no vocab build, no global dictionary
    shuffle, new tokens never resize anything), the transform is one
    map-side expression, and THIS audit is the accompanying
    measurement that tells you whether 2^10 buckets is too small for
    the observed per-doc vocabulary. The whole plan is one explode +
    one combinable groupBy; the two COUNT(DISTINCT …) share one
    Expand pass. Panel: doc_id % 7 == 0.
    """
    d = load_table(spark, sf_dir, "documents").where(F.col("doc_id") % 7 == 0)
    tok = d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
    bkt = F.expr(
        "CAST(conv(substring(md5(token), 1, 15), 16, 10) AS BIGINT) % 1024"
    )
    per = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"),
        F.countDistinct("token").alias("n_types"),
        F.countDistinct(bkt).alias("n_buckets"),
    )
    return per.select(
        "doc_id",
        "n_tok",
        "n_types",
        "n_buckets",
        F.expr(_FH_RATE6).alias("collision_rate6"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q_e_dsir_weights (round 6)
# ---------------------------------------------------------------------------

_DSIR_B = 1024  # hashed feature space (the q_e_feature_hashing idiom)
_DSIR_TARGET = "src0"  # the high-quality target domain


@query(
    "q_e_dsir_weights",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, source,
             CAST(concat('0x', substring(md5(unnest(string_split(text, ' '))),
                                         1, 15)) AS BIGINT) % {_DSIR_B} AS b
      FROM documents
    ),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_t FROM tok
           WHERE source = '{_DSIR_TARGET}'),
    nr AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_r FROM tok),
    ct AS (SELECT b, COUNT(*) AS c_t FROM tok
           WHERE source = '{_DSIR_TARGET}' GROUP BY b),
    cr AS (SELECT b, COUNT(*) AS c_r FROM tok GROUP BY b),
    lr AS (
      SELECT cr.b,
             round(ln(CAST((COALESCE(ct.c_t, 0) + 1) * (nr.n_r + {_DSIR_B})
                           AS DOUBLE)
                      / CAST((cr.c_r + 1) * (nt.n_t + {_DSIR_B}) AS DOUBLE)),
                   6) AS lr6
      FROM cr LEFT JOIN ct ON cr.b = ct.b CROSS JOIN nt CROSS JOIN nr
    ),
    per AS (
      SELECT t.doc_id, t.source,
             round({davg("lr.lr6")}, 6) AS w6
      FROM tok t JOIN lr ON t.b = lr.b
      GROUP BY t.doc_id, t.source
    ),
    mu AS (SELECT round({davg("w6")}, 6) AS mu6 FROM per)
    SELECT source,
           CAST(greatest(-5, least(5, floor((w6 - mu.mu6) * 100.0)))
                AS BIGINT) AS w_bin,
           COUNT(*) AS n_docs
    FROM per CROSS JOIN mu GROUP BY source, 2 ORDER BY source, w_bin
    """,
)
def q_e_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-resampling weights (round 6; Xie et al. 2023,
    "Data Selection for Language Models via Importance Resampling"):
    per doc, the mean hashed-n-gram log-likelihood ratio between a
    TARGET domain's unigram LM and the raw-corpus LM — the importance
    weight that up-samples raw data resembling the high-quality
    target. Reported as the per-source histogram of clamped
    centi-nat bins CENTERED on the corpus-mean weight (the raw
    add-one-smoothed level carries a corpus-size-dependent offset —
    DSIR resamples on RELATIVE weight, so the centered histogram is
    the decision-relevant shape): the mixture designer reads which
    sources carry target-looking mass BEFORE committing a resampling
    pass.
    Completes the targeted-selection family next to q_e_ppl_buckets
    (absolute LM score) and q_e_mix_weights (source-level budgets)
    with the RELATIVE, target-conditioned signal.

    Scale: features are the fixed 1024-bucket hash space (no vocab
    build — the q_e_feature_hashing argument), so both LMs are
    1024-row combinable aggregates; the log-ratio table broadcasts to
    a single token-side join; the per-doc mean is one more combinable
    rollup. Add-one smoothing keeps every bucket finite. Determinism:
    BIGINT count products, one correctly-rounded double division into
    a 6-dp ln, exact-decimal per-doc mean, integer bin clamp."""
    d = load_table(spark, sf_dir, "documents")
    # fan_out: the md5-per-token explode is the heavy scan-side stage
    # and the local corpus scan is one partition — spread it so both
    # corpus passes (counts, probe join) run on all cores (the
    # q_e_window_dedup measurement).
    tok = fan_out(
        d.select("doc_id", "source", "text"), "doc_id"
    ).select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("tok")
    ).select(
        "doc_id",
        "source",
        F.expr(
            f"CAST(conv(substring(md5(tok), 1, 15), 16, 10) AS BIGINT)"
            f" % {_DSIR_B}"
        ).alias("b"),
    )
    # BOTH unigram LMs come out of ONE combinable groupBy over the
    # token explode (count + count-if-target per bucket): the explode
    # is the corpus-sized stage, so it must run exactly twice in the
    # whole plan — once here, once for the per-doc probe join below.
    # The totals n_t/n_r fold out of the same 1024-row frame (driver
    # sums of a bounded collect — no extra corpus scans). The collect
    # is a scoped_value, so it runs once per (app, sf).
    counts = scoped_value(
        spark,
        sf_dir,
        "dsir_counts",
        lambda: [
            (r.b, r.c_r, r.c_t)
            for r in tok.groupBy("b")
            .agg(
                F.count(F.lit(1)).alias("c_r"),
                F.count(F.when(F.col("source") == _DSIR_TARGET, 1)).alias("c_t"),
            )
            .collect()
        ],
    )
    n_r = sum(c_r for _, c_r, _ in counts)
    n_t = sum(c_t for _, _, c_t in counts)
    from pyspark.sql import types as T

    # ln stays JVM-side (the round(ln, 6) idiom the whole repo's
    # cross-engine determinism rests on) — only the bounded counts
    # frame round-trips the driver.
    lr = local_frame(
        spark,
        counts,
        T.StructType(
            [
                T.StructField("b", T.LongType()),
                T.StructField("c_r", T.LongType()),
                T.StructField("c_t", T.LongType()),
            ]
        ),
    ).select(
        "b",
        F.round(
            F.log(
                ((F.col("c_t") + 1) * F.lit(n_r + _DSIR_B)).cast("double")
                / ((F.col("c_r") + 1) * F.lit(n_t + _DSIR_B)).cast("double")
            ),
            6,
        ).alias("lr6"),
    )
    # per is consumed by BOTH the corpus-mean pass and the final
    # binning — Catalyst has no cross-branch subtree reuse, so without
    # the persist the token join would run twice (plan-pinned in
    # test_plans). One slim row per doc; scoped_persist so a long
    # session holds ONE copy (no per-call persist leak).
    per = scoped_persist(
        tok.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "source")
        .agg(F.expr(f"round({davg('lr6')}, 6)").alias("w6")),
        spark,
        sf_dir,
        "dsir_per",
    )
    # Corpus-mean-centered centi-nat binning of the per-doc weights.
    mu = per.agg(F.expr(f"round({davg('w6')}, 6)").alias("mu6"))
    return (
        per.join(F.broadcast(mu))
        .select(
            "source",
            F.expr(
                "CAST(greatest(-5, least(5, floor((w6 - mu6) * 100.0)))"
                " AS BIGINT)"
            ).alias("w_bin"),
        )
        .groupBy("source", "w_bin")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "w_bin")
    )


# ---------------------------------------------------------------------------
# q_e_hapax_rate (round 6)
# ---------------------------------------------------------------------------


@query(
    "q_e_hapax_rate",
    oracle="""
    WITH tf AS (
      SELECT source, tok, COUNT(*) AS c
      FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      GROUP BY source, tok
    )
    SELECT source,
           COUNT(*) AS n_types,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           COUNT(*) FILTER (WHERE c = 1) AS n_hapax,
           CAST((COUNT(*) FILTER (WHERE c = 1)) * 10000 // COUNT(*)
                AS BIGINT) AS hapax_bp
    FROM tf GROUP BY source ORDER BY source
    """,
)
def q_e_hapax_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax-legomena rate per source (round 6): the share of a
    source's vocabulary seen exactly once — the classic
    productive-vocabulary / OOV-tail indicator (Baayen's LNRE
    statistics): a high hapax share predicts tokenizer OOV pressure
    and un-learnable long-tail tokens, a near-zero share flags
    templated/generated text whose vocabulary is closed. Reads next
    to q_e_zipf_slope (the law's exponent) and q_e_vocab_growth (the
    heap curve) as the third classic vocabulary statistic.

    Scale: one (source, token) TF aggregation (map-side combinable —
    the shuffle any TF pass pays) into a |sources|-row COUNT-FILTER
    rollup; all-BIGINT basis points."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        tf.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.when(F.col("c") == 1, 1)).alias("n_hapax"),
            F.expr(
                "CAST((COUNT(CASE WHEN c = 1 THEN 1 END)) * 10000"
                " DIV COUNT(*) AS BIGINT)"
            ).alias("hapax_bp"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q_e_cond_entropy (round 6)
# ---------------------------------------------------------------------------


@query(
    "q_e_cond_entropy",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             generate_subscripts(string_split(text, ' '), 1) AS pos,
             unnest(string_split(text, ' ')) AS tok
      FROM documents
    ),
    bg AS (
      SELECT a.lang, a.tok AS prev, b.tok AS cur
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
    ),
    c2 AS (SELECT lang, prev, cur, COUNT(*) AS c2 FROM bg
           GROUP BY lang, prev, cur),
    w AS (
      SELECT lang, prev, cur, c2,
             SUM(c2) OVER (PARTITION BY lang, prev) AS c1,
             SUM(c2) OVER (PARTITION BY lang) AS n
      FROM c2
    )
    SELECT lang,
           CAST(MAX(n) AS BIGINT) AS n_bigrams,
           COUNT(DISTINCT prev) AS n_contexts,
           round(CAST(SUM(CAST(c2 * (round(ln(CAST(c1 AS DOUBLE)), 6)
                                     - round(ln(CAST(c2 AS DOUBLE)), 6))
                               AS DECIMAL(30,6))) AS DOUBLE) / MAX(n), 6)
             AS h6
    FROM w GROUP BY lang ORDER BY lang
    """,
)
def q_e_cond_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional entropy H(next | prev) per language
    (round 6): the language's ENTROPY RATE estimate −Σ p(a,b)·
    ln(p(b|a)) — the sequence-level predictability signal next to
    q_e_char_entropy / q_e_tok_entropy (unigram surprise): scrambled
    or templated text shows near-unigram conditional entropy, natural
    word order shows a markedly lower rate; the gap is the signal
    q_e_bigram_lm scores per doc, here as the per-language corpus
    statistic.

    Exactness: H = (1/N)·Σ c₂·(ln c₁ − ln c₂) in count form — no
    per-cell probability divisions; lns are 6-dp-rounded (the
    cross-engine idiom), each product is exact in double (BIGINT ×
    exact 6-dp difference, ≪ 2^53), and the sum runs through exact
    decimal. Scale: the bigram explode collapses immediately to
    (lang, prev, cur) counts (combinable — the same shuffle any
    bigram LM pays); the context totals ride whole-partition windows
    over the bigram-TYPE frame (bounded by vocab², corpus-size-
    independent), then a |langs|-row rollup."""
    d = load_table(spark, sf_dir, "documents")
    bg = d.select(
        "lang",
        F.explode(
            F.expr(
                "zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), "
                "slice(split(text, ' '), 2, size(split(text, ' ')) - 1), "
                "(x, y) -> struct(x AS prev, y AS cur))"
            )
        ).alias("s"),
    ).select("lang", F.col("s.prev").alias("prev"), F.col("s.cur").alias("cur"))
    c2 = bg.groupBy("lang", "prev", "cur").agg(F.count(F.lit(1)).alias("c2"))
    w1 = Window.partitionBy("lang", "prev")
    wl = Window.partitionBy("lang")
    w = c2.withColumn("c1", F.sum("c2").over(w1)).withColumn(
        "n", F.sum("c2").over(wl)
    )
    term = (
        "CAST(c2 * (round(ln(CAST(c1 AS DOUBLE)), 6)"
        " - round(ln(CAST(c2 AS DOUBLE)), 6)) AS DECIMAL(30,6))"
    )
    return (
        w.groupBy("lang")
        .agg(
            F.max("n").cast("long").alias("n_bigrams"),
            F.countDistinct("prev").alias("n_contexts"),
            F.expr(f"round(CAST(SUM({term}) AS DOUBLE) / MAX(n), 6)").alias(
                "h6"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q_e_ngram_simpson (round 6)
# ---------------------------------------------------------------------------


@query(
    "q_e_ngram_simpson",
    oracle="""
    WITH tg AS (
      SELECT source,
             unnest(list_transform(
               range(1, len(string_split(text, ' ')) - 1),
               i -> string_split(text, ' ')[i] || ' ' ||
                    string_split(text, ' ')[i + 1] || ' ' ||
                    string_split(text, ' ')[i + 2])) AS g
      FROM documents WHERE len(string_split(text, ' ')) >= 3
    ),
    c AS (SELECT source, g, COUNT(*) AS c FROM tg GROUP BY source, g)
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_grams,
           COUNT(*) AS n_types,
           CAST((SUM(c * (c - 1)) * 1000000)
                // NULLIF(SUM(c) * (SUM(c) - 1), 0) AS BIGINT) AS simpson_ppm,
           MAX(CASE WHEN rk = 1 THEN g END) AS top_gram,
           CAST(MAX(CASE WHEN rk = 1 THEN c END) AS BIGINT) AS top_count
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                                       ORDER BY c DESC, g ASC) AS rk
          FROM c)
    GROUP BY source ORDER BY source
    """,
)
def q_e_ngram_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-source trigram Simpson concentration (round 6): the
    probability two randomly drawn trigram OCCURRENCES from a source
    are the same trigram — Σc(c−1)/(N(N−1)) in exact ppm — the
    Self-BLEU-style diversity audit collapsed to a combinable
    aggregate: generated/templated corpora repeat whole phrases, and
    this is the phrase-level repetition number that unigram diversity
    (q_e_hapax_rate, q_e_zipf_slope) can't see; the top repeated
    trigram is surfaced for eyeballing.

    Scale: the trigram expansion is scan-side (higher-order
    expression); counts collapse immediately to the (source, gram)
    TYPE frame (combinable — the shuffle any n-gram pass pays); the
    top-gram pick rides a window over that type frame partitioned by
    source; the rollup is |sources| rows of BIGINT arithmetic —
    pairwise-document comparison never happens (Simpson over counts
    IS the all-pairs collision rate, computed without the pairs).
    A source with a single trigram occurrence (N(N−1) = 0) yields
    NULL, NULLIF-guarded identically in both engines (the
    q_e_zscore_norm guard pattern; ANSI Spark would otherwise throw
    DIVIDE_BY_ZERO where DuckDB's // returns NULL)."""
    d = load_table(spark, sf_dir, "documents")
    tg = fan_out(
        d.select("source", F.split("text", " ").alias("tk")).where(
            F.size("tk") >= 3
        ),
        "source",
    ).select(
        "source",
        F.explode(
            F.expr(
                "transform(sequence(1, size(tk) - 2), "
                "i -> concat(tk[i - 1], ' ', tk[i], ' ', tk[i + 1]))"
            )
        ).alias("g"),
    )
    c = tg.groupBy("source", "g").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("source").orderBy(F.col("c").desc(), F.col("g").asc())
    ranked = c.withColumn("rk", F.row_number().over(w))
    return (
        ranked.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_grams"),
            F.count(F.lit(1)).alias("n_types"),
            F.expr(
                "CAST((SUM(c * (c - 1)) * 1000000)"
                " DIV NULLIF(SUM(c) * (SUM(c) - 1), 0) AS BIGINT)"
            ).alias("simpson_ppm"),
            F.max(F.when(F.col("rk") == 1, F.col("g"))).alias("top_gram"),
            F.max(F.when(F.col("rk") == 1, F.col("c")))
            .cast("long")
            .alias("top_count"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q_e_code_switch (round 7)
# ---------------------------------------------------------------------------

_CS_SIG_K = 5  # signature depth — q_e_lang_topterms' top-5 contract


@query(
    "q_e_code_switch",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    counts AS (
      SELECT lang, token, COUNT(*) AS n FROM toks
      WHERE token NOT IN ({', '.join("'" + s + "'" for s in STOPWORDS)})
      GROUP BY lang, token
    ),
    sig AS (
      SELECT lang, token FROM (
        SELECT lang, token,
               ROW_NUMBER() OVER (PARTITION BY lang
                                  ORDER BY n DESC, token ASC) AS rk
        FROM counts
      ) WHERE rk <= {_CS_SIG_K}
    ),
    tok_sig AS (
      SELECT token, COUNT(DISTINCT lang) AS nl, MIN(lang) AS ol
      FROM sig GROUP BY token
    ),
    per_doc AS (
      SELECT t.doc_id, t.lang,
             COUNT(*) AS n_tok,
             SUM(CASE WHEN ts.token IS NOT NULL
                       AND NOT (ts.nl = 1 AND ts.ol = t.lang)
                      THEN 1 ELSE 0 END) AS n_foreign
      FROM toks t LEFT JOIN tok_sig ts ON t.token = ts.token
      GROUP BY t.doc_id, t.lang
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (WHERE n_foreign > 0) AS docs_mixed,
           CAST(CAST(SUM(n_foreign) AS BIGINT) * 1000000
                // NULLIF(CAST(SUM(n_tok) AS BIGINT), 0) AS BIGINT)
             AS foreign_tok_ppm
    FROM per_doc GROUP BY lang ORDER BY lang
    """,
)
def q_e_code_switch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-switching / language-mixing audit (round 7): each
    language's signature is its top-{_CS_SIG_K} stopword-filtered
    terms (the q_e_lang_topterms contract); a token occurrence is a
    FOREIGN hit when it signs at least one OTHER language — per
    language report how many documents contain any foreign-signature
    token and the foreign-token rate in exact ppm. The number a
    language-ID consumer reads before trusting doc-level labels: high
    mixing means doc-level lang tags mislabel token mass (and a
    lang-stratified dedup or mixture weight inherits the error).

    Scale: the signature table is |langs|·{_CS_SIG_K} rows (windowed
    over per-lang type counts — the corpus collapses to the type
    frame first), broadcast to the token scan; per-doc and per-lang
    rollups are two combinable groupBys; the rate is exact integer
    ppm. A token signing ONLY its own language never counts; one
    signing its own AND another does (that is the mixing signal)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    )
    counts = (
        toks.where(~F.col("token").isin(STOPWORDS))
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), F.col("token").asc())
    sig = (
        counts.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _CS_SIG_K)
        .select(F.col("lang").alias("sig_lang"), "token")
    )
    tok_sig = sig.groupBy("token").agg(
        F.countDistinct("sig_lang").alias("nl"),
        F.min("sig_lang").alias("ol"),
    )
    hit = (
        F.col("nl").isNotNull() & ~((F.col("nl") == 1) & (F.col("ol") == F.col("lang")))
    ).cast("long")
    per_doc = (
        toks.join(F.broadcast(tok_sig), "token", "left")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_tok"),
            F.sum(hit).alias("n_foreign"),
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("n_foreign") > 0, 1)).alias("docs_mixed"),
            F.expr(
                "CAST(CAST(SUM(n_foreign) AS BIGINT) * 1000000"
                " DIV NULLIF(CAST(SUM(n_tok) AS BIGINT), 0) AS BIGINT)"
            ).alias("foreign_tok_ppm"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q_e_chi2_terms (round 7)
# ---------------------------------------------------------------------------

_CHI2_TOPK = 3


@query(
    "q_e_chi2_terms",
    oracle=f"""
    WITH pres AS (
      SELECT DISTINCT doc_id, lang, unnest(string_split(text, ' ')) AS token
      FROM documents
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    nl AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_lang
           FROM documents GROUP BY lang),
    nt AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n_tok
           FROM pres GROUP BY token),
    a_ AS (SELECT lang, token, CAST(COUNT(*) AS BIGINT) AS a
           FROM pres GROUP BY lang, token),
    cells AS (
      SELECT a_.lang, a_.token, a_.a,
             nt.n_tok - a_.a AS b,
             nl.n_lang - a_.a AS c,
             nd.n - nt.n_tok - nl.n_lang + a_.a AS d
      FROM a_ JOIN nt ON a_.token = nt.token
              JOIN nl ON a_.lang = nl.lang
              CROSS JOIN nd
    ),
    chi AS (
      SELECT lang, token,
             floor(CAST((a + b + c + d) AS DOUBLE)
                   * CAST(a * d - b * c AS DOUBLE)
                   * CAST(a * d - b * c AS DOUBLE)
                   / NULLIF(CAST((a + b) AS DOUBLE) * (c + d)
                            * (a + c) * (b + d), 0)
                   * 1000000.0 + 0.5) / 1000000.0 AS chi2_6
      FROM cells
    )
    SELECT lang, token, chi2_6, rk FROM (
      SELECT lang, token, chi2_6,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY chi2_6 DESC, token ASC) AS rk
      FROM chi
    ) WHERE rk <= {_CHI2_TOPK}
    """,
)
def q_e_chi2_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared term-label association (round 7 — the feature-
    selection companion to q_e_lang_topterms: frequency says a term is
    COMMON in a language, chi² says it is DISCRIMINATIVE of it): per
    (lang, token) the 2×2 document-presence contingency table yields
    χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)); report each language's
    top-{_CHI2_TOPK} terms. The classic pre-neural feature selector,
    and still the fastest way to surface label-leaking tokens before
    training a classifier on weak labels.

    Scale: presence collapses the corpus to DISTINCT (doc, lang,
    token) then to |langs|·|vocab| cells via combinable counts; the
    marginals are broadcast joins; χ² is per-cell closed-form (exact
    integer products into one IEEE division, floor-quantized); top-k
    rides a window partitioned by lang over the cell frame. Integer
    products hold to ~3e9 docs (BIGINT); swap to DECIMAL(38) beyond."""
    d = load_table(spark, sf_dir, "documents")
    pres = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    ).distinct()
    nd = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    nl = d.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n_lang"))
    nt = pres.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("n_tok"))
    a_ = pres.groupBy("lang", "token").agg(
        F.count(F.lit(1)).cast("long").alias("a")
    )
    cells = (
        a_.join(F.broadcast(nt), "token")
        .join(F.broadcast(nl), "lang")
        .crossJoin(F.broadcast(nd))
        .select(
            "lang",
            "token",
            "a",
            (F.col("n_tok") - F.col("a")).alias("b"),
            (F.col("n_lang") - F.col("a")).alias("c"),
            (F.col("n") - F.col("n_tok") - F.col("n_lang") + F.col("a")).alias(
                "d"
            ),
        )
    )
    num = (F.col("a") * F.col("d") - F.col("b") * F.col("c")).cast("double")
    chi2 = (
        F.floor(
            (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
            * num
            * num
            / F.expr(
                "nullif(CAST((a + b) AS DOUBLE) * (c + d) * (a + c) * (b + d),"
                " 0.0)"
            )
            * 1000000.0
            + 0.5
        )
        / 1000000.0
    ).alias("chi2_6")
    chi = cells.select("lang", "token", chi2)
    w = Window.partitionBy("lang").orderBy(
        F.col("chi2_6").desc(), F.col("token").asc()
    )
    return (
        chi.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _CHI2_TOPK)
        .select("lang", "token", "chi2_6", "rk")
    )


# ---------------------------------------------------------------------------
# q_e_self_bleu (round 8)
# ---------------------------------------------------------------------------


@query(
    "q_e_self_bleu",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(string_split(text, ' '))),
               i -> string_split(text, ' ')[i] || ' '
                    || string_split(text, ' ')[i + 1])) AS sh
      FROM documents
      WHERE doc_id < 32 AND len(string_split(text, ' ')) >= 3
    ),
    x AS (SELECT doc_id, unnest(sh) AS g FROM d),
    df AS (SELECT g, COUNT(*) AS df FROM x GROUP BY g)
    SELECT x.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_matched,
           round(CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS self_bleu2_6
    FROM x JOIN df ON x.g = df.g
    GROUP BY x.doc_id ORDER BY x.doc_id
    """,
)
def q_e_self_bleu(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELF-BLEU-2 diversity audit (round 8; Zhu et al. 2018,
    Texygen — the standard corpus-diversity metric for generated
    text): for each document of a fixed 32-doc panel, the fraction
    of its distinct bigrams that appear in ANY other panel document
    — high Self-BLEU means the corpus repeats itself (mode collapse
    in synthetic data; template mass in scraped data). Distinct-
    bigram precision is the documented simplification of clipped
    BLEU (each distinct bigram can match at most once).

    The NO-PAIRS spelling: a candidate bigram of doc i matches
    "panel minus i" iff its panel document-frequency is >= 2 (doc i
    itself contributes exactly one of the df counts) — so one
    groupBy(bigram) replaces the O(panel²) reference join that the
    metric's definition naively implies, and the same spelling runs
    corpus-wide at 100 TB (df is map-side combinable; only panel
    bigrams shuffle here because the scan prunes doc_id < 32 at the
    source)."""
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 32)
        .withColumn("tk", F.split("text", " "))
        .where(F.size("tk") >= 3)
    )
    from glaciersgee_spark.operators.dedup import _SPARK_SHINGLES

    x = scoped_persist(
        d.select("doc_id", F.explode(F.expr(_SPARK_SHINGLES)).alias("g")),
        spark, sf_dir, "self_bleu_shingles",
    )
    df = x.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    return (
        x.join(df, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_matched"),
            F.round(
                F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1)),
                6,
            ).alias("self_bleu2_6"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q_e_good_turing (round 8)
# ---------------------------------------------------------------------------


@query(
    "q_e_good_turing",
    oracle="""
    WITH tf AS (
      SELECT source, tok, COUNT(*) AS c
      FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
            FROM documents)
      GROUP BY source, tok
    )
    SELECT source,
           COUNT(*) AS n_types,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           COUNT(*) FILTER (WHERE c = 1) AS n1,
           COUNT(*) FILTER (WHERE c = 2) AS n2,
           COUNT(*) FILTER (WHERE c = 3) AS n3,
           CAST((COUNT(*) FILTER (WHERE c = 1)) * 1000000
                // CAST(SUM(c) AS BIGINT) AS BIGINT) AS p0_ppm,
           CAST(2 * (COUNT(*) FILTER (WHERE c = 2)) * 1000000
                // NULLIF(COUNT(*) FILTER (WHERE c = 1), 0) AS BIGINT)
             AS r1_star_ppm,
           CAST(COUNT(*)
                + (COUNT(*) FILTER (WHERE c = 1))
                  * ((COUNT(*) FILTER (WHERE c = 1)) - 1)
                  // (2 * ((COUNT(*) FILTER (WHERE c = 2)) + 1))
                AS BIGINT) AS chao1_types
    FROM tf GROUP BY source ORDER BY source
    """,
)
def q_e_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good–Turing unseen-mass and Chao1 vocabulary-richness estimates
    per source (round 8): from the frequency-of-frequencies N_r of the
    source's token counts, P0 = N1/N estimates the probability that
    the NEXT token drawn is a type never seen before (Good 1953 — the
    number that says how much of the source's vocabulary the crawl has
    not reached yet), r*(1) = 2·N2/N1 is the Turing-discounted
    effective count of a hapax (the LM-smoothing mass transfer), and
    Chao1 = V + N1(N1−1)/(2(N2+1)) (bias-corrected, Chao 1984)
    estimates the source's TRUE type count including the unseen tail.
    Reads as the inferential layer over q_e_hapax_rate's descriptive
    share: hapax_rate says what fraction of seen types are singletons,
    Good–Turing says what that implies about the unseen ones — the
    pair decides whether another crawl round of a source buys new
    vocabulary or re-treads.

    Exactness: every statistic is exact BIGINT combinatorics over the
    N_r counts (ppm via integer DIV, NULLIF-guarded where N1 can be 0
    in a fully-closed vocabulary; the +1 in Chao1's denominator is the
    bias-corrected form AND the division guard). Scale: one
    (source, token) TF aggregation — map-side combinable, the shuffle
    any TF pass pays — then a |sources|-row COUNT-FILTER rollup;
    nothing downstream of the TF frame scales with the corpus."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("source", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )

    def nr(r: int) -> str:
        return f"COUNT(CASE WHEN c = {r} THEN 1 END)"

    return (
        tf.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.when(F.col("c") == 1, 1)).alias("n1"),
            F.count(F.when(F.col("c") == 2, 1)).alias("n2"),
            F.count(F.when(F.col("c") == 3, 1)).alias("n3"),
            F.expr(
                f"CAST({nr(1)} * 1000000 DIV SUM(c) AS BIGINT)"
            ).alias("p0_ppm"),
            F.expr(
                f"CAST(2 * {nr(2)} * 1000000 DIV NULLIF({nr(1)}, 0)"
                " AS BIGINT)"
            ).alias("r1_star_ppm"),
            F.expr(
                f"CAST(COUNT(*) + {nr(1)} * ({nr(1)} - 1)"
                f" DIV (2 * ({nr(2)} + 1)) AS BIGINT)"
            ).alias("chao1_types"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q_e_langid_f1 (round 8)
# ---------------------------------------------------------------------------


def _confusion_role_counts(pred: DataFrame) -> DataFrame:
    """Per-language (lang, n_docs, tp, fp) from a (lang, pred_lang)
    prediction frame: reduce it once to the confusion matrix, then
    re-aggregate the cells per language. Each confusion cell
    contributes to TWO languages' metrics: its true language's
    (n_docs, tp) and its predicted language's fp. Exploding the roles
    keeps the plan linear (no second rollup, no join); a language that
    is only ever PREDICTED (never true) has n_docs = 0 and is
    excluded, exactly like the former left join of the per-true onto
    the per-predicted rollup, and a language never falsely predicted
    gets fp 0, not NULL."""
    conf = pred.groupBy("lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    roles = conf.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("lang").alias("k"),
                    F.col("c").alias("n"),
                    F.when(F.col("lang") == F.col("pred_lang"), F.col("c"))
                    .otherwise(F.lit(0))
                    .alias("tp"),
                    F.lit(0).cast("long").alias("fp"),
                ),
                F.struct(
                    F.col("pred_lang").alias("k"),
                    F.lit(0).cast("long").alias("n"),
                    F.lit(0).cast("long").alias("tp"),
                    F.when(F.col("lang") != F.col("pred_lang"), F.col("c"))
                    .otherwise(F.lit(0))
                    .alias("fp"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    return (
        roles.groupBy(F.col("k").alias("lang"))
        .agg(
            F.sum("n").cast("long").alias("n_docs"),
            F.sum("tp").cast("long").alias("tp"),
            F.sum("fp").cast("long").alias("fp"),
        )
        .where(F.col("n_docs") > 0)
    )


@query(
    "q_e_langid_f1",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, {_LANG_SCORES_SQL} FROM documents
    ),
    pred AS (SELECT lang, {_lang_pred_sql()} AS pred_lang FROM scored),
    bytrue AS (
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(*) FILTER (WHERE lang = pred_lang) AS BIGINT) AS tp
      FROM pred GROUP BY lang
    ),
    bypred AS (
      SELECT pred_lang AS lang,
             CAST(COUNT(*) FILTER (WHERE lang <> pred_lang) AS BIGINT) AS fp
      FROM pred GROUP BY pred_lang
    ),
    prf AS (
      SELECT t.lang, t.n_docs, t.tp,
             CAST(t.tp * 1000000
                  // NULLIF(t.tp + COALESCE(p.fp, 0), 0) AS BIGINT)
               AS precision_ppm,
             CAST(t.tp * 1000000 // t.n_docs AS BIGINT) AS recall_ppm
      FROM bytrue t LEFT JOIN bypred p ON p.lang = t.lang
    )
    SELECT lang, n_docs, tp, precision_ppm, recall_ppm,
           CAST(2 * precision_ppm * recall_ppm
                // NULLIF(precision_ppm + recall_ppm, 0) AS BIGINT) AS f1_ppm
    FROM prf ORDER BY lang
    """,
)
def q_e_langid_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language precision / recall / F1 of the n-gram language-ID
    heuristic against the labeled lang column (round 8): the metric
    layer over q_e_lang_id's raw confusion matrix — the counts say
    WHICH languages confuse, the F1 table says which predictions are
    TRUSTABLE (the number a pipeline reads before routing docs to
    per-language tokenizers on the heuristic's say-so; a language
    with high recall but low precision absorbs its neighbors'
    traffic, the classic en-absorbs-everything failure).

    Exactness: the scorer and argmax are q_e_lang_id's exact codegen
    expressions; precision/recall are integer-ppm with NULLIF guards
    (a language never predicted has NULL precision, honest rather
    than 0); F1 is the integer harmonic mean of the two ppm values.
    Scale: ONE narrow scan stage (the trigram replace-count scorer)
    reduced to the |langs|²-row confusion matrix, each cell exploded
    into its two metric roles (true-language row credit, predicted-
    language fp credit) and re-aggregated once per language — a
    single linear plan. Round 12: the former spelling ran the scorer
    scan TWICE (per-true and per-predicted rollups share no exchange;
    guide §7.2 duplicated subtrees) and then paid a broadcast join of
    the two 5-row rollups, whose build branch + AQE stage barrier
    cost ~0.9 s alone; the linear reshape measured 2.07 → 0.78 s
    (min-of-6 alternating A/B, row-identical output)."""
    d = load_table(spark, sf_dir, "documents")
    langs = sorted(LANG_TRIGRAMS)
    scored = d.select(
        "lang",
        *[
            F.expr(_lang_score("lower(text)", lang)).alias(f"s_{lang}")
            for lang in langs
        ],
    )
    pred = scored.select("lang", F.expr(_lang_pred_sql()).alias("pred_lang"))
    prf = (
        _confusion_role_counts(pred)
        .select(
            "lang",
            "n_docs",
            "tp",
            F.expr(
                "CAST(tp * 1000000 DIV NULLIF(tp + COALESCE(fp, 0), 0)"
                " AS BIGINT)"
            ).alias("precision_ppm"),
            F.expr("CAST(tp * 1000000 DIV n_docs AS BIGINT)").alias(
                "recall_ppm"
            ),
        )
    )
    return prf.select(
        "lang",
        "n_docs",
        "tp",
        "precision_ppm",
        "recall_ppm",
        F.expr(
            "CAST(2 * precision_ppm * recall_ppm"
            " DIV NULLIF(precision_ppm + recall_ppm, 0) AS BIGINT)"
        ).alias("f1_ppm"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# q_e_perplexity (round 8)
# ---------------------------------------------------------------------------

# Held-out interpolated-bigram perplexity: train on EVEN doc_ids,
# evaluate on ODD. The bigram term reuses q_e_bigram_lm's lambda
# split; the unigram back-off is Laplace-smoothed over the TRAIN
# vocabulary so every held-out position has positive mass (an OOV
# cur token scores 0.3/(T+V) — no ln(0) anywhere).
_PPL_SQL = f"""
    WITH train_toks AS (
      SELECT unnest(string_split(text, ' ')) AS tok
      FROM documents WHERE doc_id % 2 = 0
    ),
    uni AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS c1
            FROM train_toks GROUP BY tok),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t,
                   CAST(COUNT(DISTINCT tok) AS BIGINT) AS v
            FROM train_toks),
    train_bg AS (
      SELECT a.prev, a.cur, CAST(COUNT(*) AS BIGINT) AS c2 FROM (
        SELECT doc_id,
               generate_subscripts(string_split(text, ' '), 1) AS pos,
               unnest(string_split(text, ' ')) AS prev,
               string_split(text, ' ')[
                 generate_subscripts(string_split(text, ' '), 1) + 1
               ] AS cur
        FROM documents WHERE doc_id % 2 = 0
      ) a WHERE a.cur IS NOT NULL GROUP BY a.prev, a.cur
    ),
    held_bg AS (
      SELECT source, prev, cur, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT source,
               unnest(string_split(text, ' ')) AS prev,
               string_split(text, ' ')[
                 generate_subscripts(string_split(text, ' '), 1) + 1
               ] AS cur
        FROM documents WHERE doc_id % 2 = 1
      ) h WHERE h.cur IS NOT NULL GROUP BY source, prev, cur
    ),
    lp AS (
      SELECT h.source, h.n,
             CASE WHEN uc.c1 IS NULL THEN h.n ELSE 0 END AS oov_n,
             round(ln(0.7 * (CAST(COALESCE(tb.c2, 0) AS DOUBLE)
                             / COALESCE(up.c1, 1))
                      + 0.3 * (CAST(COALESCE(uc.c1, 0) + 1 AS DOUBLE)
                               / (tot.t + tot.v))), 6) AS lp6
      FROM held_bg h
      LEFT JOIN train_bg tb ON h.prev = tb.prev AND h.cur = tb.cur
      LEFT JOIN uni up ON h.prev = up.tok
      LEFT JOIN uni uc ON h.cur = uc.tok
      CROSS JOIN tot
    ),
    held_docs AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS held_docs
      FROM documents WHERE doc_id % 2 = 1 GROUP BY source
    ),
    rolled AS (
      SELECT source,
             CAST(SUM(n) AS BIGINT) AS n_bigrams,
             CAST(SUM(oov_n) * 1000000 // SUM(n) AS BIGINT) AS oov_ppm,
             -({dsum('CAST(n AS DOUBLE) * lp6')}) / SUM(n) AS xent
      FROM lp GROUP BY source
    )
    SELECT r.source, d.held_docs, r.n_bigrams, r.oov_ppm,
           r.xent AS xent_nats,
           floor(exp(r.xent) * 1000000.0 + 0.5) / 1000000.0 AS ppl6
    FROM rolled r JOIN held_docs d ON r.source = d.source
    ORDER BY r.source
"""


@query("q_e_perplexity", oracle=_PPL_SQL)
def q_e_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out bigram perplexity per source (round 8): train the
    interpolated bigram LM (0.7·bigram + 0.3·Laplace-unigram) on the
    even-doc_id half of the corpus, score the odd half, report
    cross-entropy (nats) and perplexity per source with the OOV rate
    — the CCNet-style LM quality signal measured the honest way, on
    text the model never saw. q_e_bigram_lm scores the corpus with
    itself (a fluency prior); this op is the generalization check
    that tells a curator whether a source is merely self-consistent
    or actually predictable — template farms score near-1 ppl on
    both, natural text separates.

    Scale shape: both halves collapse immediately to combinable
    (prev, cur) count frames (vocab²-bounded, corpus-size-
    independent — the same shuffle any bigram LM pays); the held
    frame joins the train frame CO-PARTITIONED on (prev, cur), the
    vocab-bounded unigram table broadcasts ×2 (the q_e_bigram_lm
    precedent), and the 1-row (T, V) total broadcasts. Per-pair-type
    lns round 6 dp, the n·lp products are exact in double, and the
    rollup runs through exact decimal; the final exp is quantized
    through the shared half-up lattice."""
    d = load_table(spark, sf_dir, "documents")
    tr = d.where(F.col("doc_id") % 2 == 0)
    he = d.where(F.col("doc_id") % 2 == 1)
    train_toks = tr.select(F.explode(F.split("text", " ")).alias("tok"))
    uni = train_toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("c1")
    )
    tot = train_toks.agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.countDistinct("tok").cast("long").alias("v"),
    )
    _pairs = (
        "explode(zip_with("
        "slice(split(text, ' '), 1, size(split(text, ' ')) - 1), "
        "slice(split(text, ' '), 2, size(split(text, ' ')) - 1), "
        "(x, y) -> struct(x AS prev, y AS cur)))"
    )
    train_bg = (
        tr.select(F.expr(_pairs).alias("s"))
        .select("s.prev", "s.cur")
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).cast("long").alias("c2"))
    )
    held_bg = (
        he.select("source", F.expr(_pairs).alias("s"))
        .select("source", "s.prev", "s.cur")
        .groupBy("source", "prev", "cur")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    up = F.broadcast(uni.select(F.col("tok").alias("p_tok"),
                                F.col("c1").alias("p_c1")))
    uc = F.broadcast(uni.select(F.col("tok").alias("c_tok"),
                                F.col("c1").alias("c_c1")))
    lp = (
        held_bg.join(train_bg, ["prev", "cur"], "left")
        .join(up, F.col("prev") == F.col("p_tok"), "left")
        .join(uc, F.col("cur") == F.col("c_tok"), "left")
        .join(F.broadcast(tot))
        .select(
            "source",
            "n",
            F.when(F.col("c_c1").isNull(), F.col("n"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("oov_n"),
            F.round(
                F.log(
                    0.7
                    * (
                        F.coalesce(F.col("c2"), F.lit(0)).cast("double")
                        / F.coalesce(F.col("p_c1"), F.lit(1))
                    )
                    + 0.3
                    * (
                        (F.coalesce(F.col("c_c1"), F.lit(0)) + 1).cast(
                            "double"
                        )
                        / (F.col("t") + F.col("v"))
                    )
                ),
                6,
            ).alias("lp6"),
        )
    )
    rolled = lp.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_bigrams"),
        F.expr("CAST(SUM(oov_n) * 1000000 DIV SUM(n) AS BIGINT)").alias(
            "oov_ppm"
        ),
        (
            -F.expr(dsum("CAST(n AS DOUBLE) * lp6")) / F.sum("n")
        ).alias("xent_nats"),
    )
    held_docs = he.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("held_docs")
    )
    return (
        rolled.join(F.broadcast(held_docs), "source")
        .select(
            "source",
            "held_docs",
            "n_bigrams",
            "oov_ppm",
            "xent_nats",
            (F.floor(F.exp("xent_nats") * 1000000.0 + 0.5) / 1000000.0).alias(
                "ppl6"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q_e_kn_bigram (round 8)
# ---------------------------------------------------------------------------

# Interpolated Kneser-Ney, absolute discount D = 0.75: the canonical
# LM smoothing (Kneser & Ney 1995; Chen & Goodman 1998's benchmark
# winner). P(w2|w1) = max(c12-D,0)/c1 + D*N1p(w1,.)/c1 * Pcont(w2),
# Pcont(w2) = N1p(.,w2)/N1p(.,.) — the continuation probability that
# ranks "Francisco" low despite high unigram count because it
# follows only "San".
_KN_D = "0.75"


@query(
    "q_e_kn_bigram",
    oracle=f"""
    WITH bg AS (
      SELECT source, prev, cur, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT source,
               unnest(string_split(text, ' ')) AS prev,
               string_split(text, ' ')[
                 generate_subscripts(string_split(text, ' '), 1) + 1
               ] AS cur
        FROM documents
      ) t WHERE cur IS NOT NULL GROUP BY source, prev, cur
    ),
    types AS (
      SELECT prev, cur, CAST(SUM(n) AS BIGINT) AS c12
      FROM bg GROUP BY prev, cur
    ),
    c1 AS (SELECT prev, CAST(SUM(c12) AS BIGINT) AS c1,
                  CAST(COUNT(*) AS BIGINT) AS fanout
           FROM types GROUP BY prev),
    cont AS (SELECT cur, CAST(COUNT(*) AS BIGINT) AS fanin
             FROM types GROUP BY cur),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_types FROM types),
    lp AS (
      SELECT bg.source, bg.n,
             round(ln(greatest(CAST(t.c12 AS DOUBLE) - {_KN_D}, 0.0)
                        / c1.c1
                      + {_KN_D} * c1.fanout / c1.c1
                        * (CAST(cont.fanin AS DOUBLE) / tot.n_types)), 6)
               AS lp6
      FROM bg
      JOIN types t ON bg.prev = t.prev AND bg.cur = t.cur
      JOIN c1 ON bg.prev = c1.prev
      JOIN cont ON bg.cur = cont.cur
      CROSS JOIN tot
    )
    SELECT source,
           CAST(SUM(n) AS BIGINT) AS n_bigrams,
           -({dsum('CAST(n AS DOUBLE) * lp6')}) / SUM(n) AS xent_nats,
           floor(exp(-({dsum('CAST(n AS DOUBLE) * lp6')}) / SUM(n))
                 * 1000000.0 + 0.5) / 1000000.0 AS ppl6
    FROM lp GROUP BY source ORDER BY source
    """,
)
def q_e_kn_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram score per source (round 8):
    the canonical LM smoothing — absolute discount D = 0.75 with the
    CONTINUATION-probability back-off (how many distinct contexts a
    word follows, not how often it occurs) that interpolation
    (q_e_bigram_lm) and Laplace back-off (q_e_perplexity) both lack;
    Chen & Goodman 1998's benchmark winner, reported as per-source
    cross-entropy and perplexity of the corpus under its own KN
    model. Reads as the fluency-prior upgrade: a source whose KN ppl
    diverges from its interpolated ppl is exactly one leaning on
    high-frequency-but-context-bound tokens.

    Scale shape: one combinable (source, prev, cur) count shuffle —
    the same any bigram LM pays; every derived table (bigram types,
    context counts+fanout, continuation fanin, the 1-row type total)
    is vocab- or vocab²-bounded and corpus-size-independent; the
    per-type ln rounds 6 dp, n·lp products are exact, and the rollup
    runs through exact decimal with the closing exp on the shared
    half-up lattice."""
    d = load_table(spark, sf_dir, "documents")
    _pairs = (
        "explode(zip_with("
        "slice(split(text, ' '), 1, size(split(text, ' ')) - 1), "
        "slice(split(text, ' '), 2, size(split(text, ' ')) - 1), "
        "(x, y) -> struct(x AS prev, y AS cur)))"
    )
    # (source, prev, cur) bigram counts feed five branches (types -> c1
    # / cont / tot, plus the lp join); Catalyst has no cross-branch
    # subtree reuse, so the frame is a scoped_persist frame.
    bg = scoped_persist(
        d.select("source", F.expr(_pairs).alias("s"))
        .select("source", "s.prev", "s.cur")
        .groupBy("source", "prev", "cur")
        .agg(F.count(F.lit(1)).cast("long").alias("n")),
        spark,
        sf_dir,
        "kn_bigrams",
    )
    types = bg.groupBy("prev", "cur").agg(
        F.sum("n").cast("long").alias("c12")
    )
    c1 = types.groupBy("prev").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("fanout"),
    )
    cont = types.groupBy("cur").agg(
        F.count(F.lit(1)).cast("long").alias("fanin")
    )
    tot = types.agg(F.count(F.lit(1)).cast("long").alias("n_types"))
    lp = (
        bg.join(types, ["prev", "cur"])
        .join(F.broadcast(c1), "prev")
        .join(F.broadcast(cont.withColumnRenamed("cur", "cur_")),
              F.col("cur") == F.col("cur_"))
        .join(F.broadcast(tot))
        .select(
            "source",
            "n",
            F.round(
                F.log(
                    F.greatest(
                        F.col("c12").cast("double") - 0.75, F.lit(0.0)
                    )
                    / F.col("c1")
                    + F.lit(0.75)
                    * F.col("fanout")
                    / F.col("c1")
                    * (F.col("fanin").cast("double") / F.col("n_types"))
                ),
                6,
            ).alias("lp6"),
        )
    )
    neg_xent = F.expr(dsum("CAST(n AS DOUBLE) * lp6"))
    out = (
        lp.groupBy("source")
        .agg(
            F.sum("n").cast("long").alias("n_bigrams"),
            (-neg_xent / F.sum("n")).alias("xent_nats"),
        )
        .select(
            "source",
            "n_bigrams",
            "xent_nats",
            (
                F.floor(F.exp("xent_nats") * 1000000.0 + 0.5) / 1000000.0
            ).alias("ppl6"),
        )
        .orderBy("source")
    )
    return out


# ---------------------------------------------------------------------------
# q_e_readability (round 9)
# ---------------------------------------------------------------------------


@query(
    "q_e_readability",
    oracle=f"""
    WITH per AS (
      SELECT source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS wd,
             GREATEST(CAST(length(text)
                 - length(replace(replace(replace(text, '.', ''),
                                          '!', ''), '?', ''))
               AS BIGINT), 1) AS st,
             CAST(length(regexp_replace(lower(text), '[aeiouy]+', '#', 'g'))
                 - length(replace(regexp_replace(lower(text), '[aeiouy]+',
                                                 '#', 'g'), '#', ''))
               AS BIGINT) AS vg
      FROM documents),
    fk AS (SELECT source, wd, st, GREATEST(vg, wd) AS sy,
                  round(0.39 * wd / st + 11.8 * GREATEST(vg, wd) / wd
                        - 15.59, 6) AS fk6
           FROM per)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           floor({davg('CAST(wd AS DOUBLE) / st')} * 1000000.0 + 0.5)
             / 1000000.0 AS wps6,
           floor({davg('CAST(sy AS DOUBLE) / wd')} * 1000000.0 + 0.5)
             / 1000000.0 AS spw6,
           floor({davg('fk6')} * 1000000.0 + 0.5) / 1000000.0 AS fk_grade6
    FROM fk GROUP BY source ORDER BY source
    """,
)
def q_e_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLESCH–KINCAID READABILITY per source (round 9) — the classic
    surface-statistics quality score (Kincaid et al. 1975) every
    web-scale curation stack keeps next to its stopword/length gates
    (C4 and Gopher both gate on sentence shape): grade = 0.39·(words/
    sentence) + 11.8·(syllables/word) − 15.59, with syllables proxied
    by vowel-group runs ([aeiouy]+ — the standard hyphenation-free
    heuristic) and sentences by terminal-punctuation counts. Reported
    per source: doc count, mean words-per-sentence, mean syllables-
    per-word, mean grade — the triage table that says WHICH crawl
    feed is churning out run-on or telegraphic text.

    Exactness: words/sentences/vowel-groups are pure integer counts
    via the length-difference idiom (replace + length — no regex
    count function needed; the one regexp_replace has identical
    semantics in Java regex and DuckDB's RE2 for this class pattern);
    each per-doc grade is ONE IEEE expression over exact integers,
    6-dp-rounded; closing means ride the exact-decimal davg with the
    half-up floor quantizer (the q_e_l_diversity lattice rule).
    Degenerate guards: no terminal punctuation → 1 sentence; a word
    with no vowels floors syllables at one per word (GREATEST(vg, wd))
    — identically in both engines. Scale: one scan, scan-side codegen
    for every count, ONE combinable |sources|-row rollup; no joins,
    no windows, no Python."""
    d = load_table(spark, sf_dir, "documents")
    vgexpr = "length(regexp_replace(lower(text), '[aeiouy]+', '#'))"
    per = d.select(
        "source",
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("wd"),
        F.expr(
            "GREATEST(CAST(length(text)"
            " - length(replace(replace(replace(text, '.', ''),"
            " '!', ''), '?', '')) AS BIGINT), 1)"
        ).alias("st"),
        F.expr(
            f"CAST({vgexpr} - length(replace("
            "regexp_replace(lower(text), '[aeiouy]+', '#'), '#', ''))"
            " AS BIGINT)"
        ).alias("vg"),
    )
    fk = per.select(
        "source",
        "wd",
        "st",
        F.greatest(F.col("vg"), F.col("wd")).alias("sy"),
        F.round(
            F.lit(0.39) * F.col("wd") / F.col("st")
            + F.lit(11.8) * F.greatest(F.col("vg"), F.col("wd")) / F.col("wd")
            - F.lit(15.59),
            6,
        ).alias("fk6"),
    )
    return (
        fk.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            (
                F.floor(
                    F.expr(davg("CAST(wd AS DOUBLE) / st")) * 1000000.0 + 0.5
                )
                / 1000000.0
            ).alias("wps6"),
            (
                F.floor(
                    F.expr(davg("CAST(sy AS DOUBLE) / wd")) * 1000000.0 + 0.5
                )
                / 1000000.0
            ).alias("spw6"),
            (F.floor(F.expr(davg("fk6")) * 1000000.0 + 0.5) / 1000000.0).alias(
                "fk_grade6"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q_e_sampling_temperature (round 11) — temperature-scaled mixture
# ---------------------------------------------------------------------------

# 6-dp integer quantizer of tokens^tau = exp(tau·ln tokens): the
# powered masses become exact BIGINTs BEFORE the normalizing sum, so
# the only cross-engine float surface is the scalar exp/ln pair (the
# module's established ln discipline), never a float SUM order.
def _st_qpow(tau: str) -> str:
    return (
        f"CAST(floor(exp({tau} * ln(CAST(tokens AS DOUBLE)))"
        " * 1000000.0 + 0.5) AS BIGINT)"
    )


@query(
    "q_e_sampling_temperature",
    oracle=f"""
    WITH tok AS (SELECT source,
                        CAST(SUM(n_chars) // 4 AS BIGINT) AS tokens
                 FROM documents GROUP BY source),
    p AS (SELECT source, tokens,
                 {_st_qpow('0.3')} AS q3,
                 {_st_qpow('0.7')} AS q7
          FROM tok),
    tot AS (SELECT CAST(SUM(tokens) AS BIGINT) AS t_all,
                   CAST(SUM(q3) AS BIGINT) AS t3,
                   CAST(SUM(q7) AS BIGINT) AS t7
            FROM p)
    SELECT p.source, p.tokens,
           round(CAST(p.tokens AS DOUBLE) / t.t_all, 6) AS p_raw6,
           round(CAST(p.q3 AS DOUBLE) / t.t3, 6) AS p_tau3_6,
           round(CAST(p.q7 AS DOUBLE) / t.t7, 6) AS p_tau7_6,
           round((CAST(t.t_all AS DOUBLE) / 2) * p.q7
                 / (CAST(t.t7 AS DOUBLE) * p.tokens), 6) AS epochs_tau7_6
    FROM p, tot t
    ORDER BY p.source
    """,
)
def q_e_sampling_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-SCALED MIXTURE WEIGHTS (round 11) — the
    multilingual/multi-source sampling-temperature recipe (exponential
    smoothing p_s ∝ m_s^τ; mBERT's τ=0.7, XLM-R §3.1): per source,
    the raw token share, the τ=0.3 and τ=0.7 smoothed sampling
    probabilities, and the EFFECTIVE EPOCH COUNT each source sustains
    at a half-corpus training budget under τ=0.7 — the frame that
    shows WHY temperature matters: low-resource sources are
    up-sampled into multi-epoch repetition (their epochs > 1, the
    memorization-risk number q_e_dup_inflation prices) while head
    sources dilute. Sits between q_e_mix_weights (fixed target mix)
    and q_e_quota_spill (hard quotas) as the smooth-interpolation
    member of the mixture family.

    Exactness: tokens are exact BIGINTs; each powered mass exp(τ·ln m)
    is quantized to a 6-dp BIGINT BEFORE the normalizing sums, so
    sums are exact integer folds (no float accumulation order) and
    each output is one IEEE division rounded at 6 dp. Scale: one
    combinable per-source rollup, one k-row global row broadcast
    back — the corpus is scanned once for n_chars only."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.groupBy("source").agg(
        F.expr("CAST(SUM(n_chars) DIV 4 AS BIGINT)").alias("tokens")
    )
    p = tok.select(
        "source",
        "tokens",
        F.expr(_st_qpow("0.3")).alias("q3"),
        F.expr(_st_qpow("0.7")).alias("q7"),
    )
    tot = p.agg(
        F.sum("tokens").cast("long").alias("t_all"),
        F.sum("q3").cast("long").alias("t3"),
        F.sum("q7").cast("long").alias("t7"),
    )
    return (
        p.join(F.broadcast(tot))
        .select(
            "source",
            "tokens",
            F.round(F.col("tokens").cast("double") / F.col("t_all"), 6).alias(
                "p_raw6"
            ),
            F.round(F.col("q3").cast("double") / F.col("t3"), 6).alias(
                "p_tau3_6"
            ),
            F.round(F.col("q7").cast("double") / F.col("t7"), 6).alias(
                "p_tau7_6"
            ),
            F.round(
                (F.col("t_all").cast("double") / 2)
                * F.col("q7")
                / (F.col("t7").cast("double") * F.col("tokens")),
                6,
            ).alias("epochs_tau7_6"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q_e_mattr (round 11) — moving-average type-token ratio
# ---------------------------------------------------------------------------

_MATTR_W = 25  # window width in tokens


def _mattr_oracle() -> str:
    return f"""
    WITH toks AS (SELECT doc_id, lang,
                         CAST(generate_subscripts(string_split(text, ' '), 1)
                              AS BIGINT) AS pos,
                         unnest(string_split(text, ' ')) AS tok
                  FROM documents),
    prevs AS (SELECT doc_id, lang, pos, tok,
                     LAG(pos) OVER (PARTITION BY doc_id, tok
                                    ORDER BY pos) AS prev
              FROM toks),
    lens AS (SELECT doc_id, CAST(MAX(pos) AS BIGINT) AS n FROM toks
             GROUP BY doc_id),
    starts AS (SELECT doc_id, pos AS i FROM toks
               JOIN lens USING (doc_id)
               WHERE pos <= n - {_MATTR_W} + 1),
    wins AS (SELECT s.doc_id, s.i,
                    CAST(SUM(CASE WHEN p.prev IS NULL OR p.prev < s.i
                                  THEN 1 ELSE 0 END) AS BIGINT) AS d
             FROM starts s JOIN prevs p
               ON p.doc_id = s.doc_id
              AND p.pos BETWEEN s.i AND s.i + {_MATTR_W} - 1
             GROUP BY s.doc_id, s.i),
    per_doc AS (SELECT w.doc_id,
                       round(CAST(SUM(w.d) AS DOUBLE)
                             / ({_MATTR_W} * COUNT(*)), 6) AS mattr6
                FROM wins w GROUP BY w.doc_id),
    short_doc AS (SELECT t.doc_id,
                         round(CAST(COUNT(DISTINCT t.tok) AS DOUBLE)
                               / MAX(l.n), 6) AS ttr6
                  FROM toks t JOIN lens l USING (doc_id)
                  WHERE l.n < {_MATTR_W}
                  GROUP BY t.doc_id),
    meta AS (SELECT DISTINCT doc_id, lang FROM toks)
    SELECT m.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(p.mattr6) AS BIGINT) AS n_windowed,
           round({davg('p.mattr6', scale=6)}, 6) AS mattr6,
           round({davg('s.ttr6', scale=6)}, 6) AS ttr_short6
    FROM meta m
    LEFT JOIN per_doc p ON m.doc_id = p.doc_id
    LEFT JOIN short_doc s ON m.doc_id = s.doc_id
    GROUP BY m.lang
    ORDER BY m.lang
    """


@query("q_e_mattr", oracle=_mattr_oracle())
def q_e_mattr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOVING-AVERAGE TYPE-TOKEN RATIO (Covington & McFall, JQL 2010
    — the length-invariant lexical-diversity standard; plain TTR
    falls with document length, which is why it can't rank docs of
    different sizes): per document, the mean over ALL {_MATTR_W}-token
    sliding windows of (distinct tokens in window)/{_MATTR_W};
    documents shorter than one window report classic TTR separately
    (never silently mixed — the two columns answer different
    questions). Aggregated per lang with exact-decimal means — the
    diversity panel a curation pipeline reads next to q_e_hapax_rate
    and q_e_tok_entropy, and the one that survives length-skewed
    sources.

    The window-distinct count avoids count-distinct-over-window
    (unsupported and quadratic anyway) via the PREV-OCCURRENCE trick:
    token position p is the window's first occurrence of its type iff
    its previous same-type position precedes the window start, so
    distinct-in-window = Σ [prev < i] — a LAG over (doc, tok) then
    ONE range join of positions to window starts, O(n·W) work per doc
    bounded by the document's own length (never cross-doc). Scale:
    everything is keyed by doc_id — windows of one doc never shuffle
    against another's; the lang close is a k-row rollup."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.posexplode(F.split(F.col("text"), " ")).alias("pos0", "tok"),
    ).select(
        "doc_id", "lang", (F.col("pos0") + 1).cast("long").alias("pos"), "tok"
    )
    toks = scoped_persist(toks, spark, sf_dir, "mattr_toks")
    w = Window.partitionBy("doc_id", "tok").orderBy("pos")
    prevs = toks.select(
        "doc_id", "pos", "tok", F.lag("pos").over(w).alias("prev")
    )
    lens = toks.groupBy("doc_id").agg(F.max("pos").cast("long").alias("n"))
    # Window membership by EXPLODING each position's window-id band
    # (round 11, guide §2.3/§3.5): position p belongs to windows
    # i ∈ [max(1, p−W+1), min(p, n−W+1)] — for n ≥ W that band is
    # never empty (lo ≤ hi: p ≤ n and n ≥ W give both clamps), so the
    # sequence() is always ascending and the generated (doc, i, p)
    # set is EXACTLY the old starts⋈positions band filter's. The old
    # spelling equi-joined positions×starts per doc and then filtered
    # to the band — an O(n²)-per-doc intermediate for O(n·W) kept
    # rows; this generates the O(n·W) rows directly (pinned
    # bit-identical by tests/test_operators.py::
    # test_mattr_window_explode_matches_band_join).
    wins = (
        prevs.join(F.broadcast(lens), "doc_id")
        .where(F.col("n") >= _MATTR_W)
        .select(
            "doc_id",
            "prev",
            F.explode(
                F.sequence(
                    F.greatest(
                        F.lit(1).cast("long"), F.col("pos") - _MATTR_W + 1
                    ),
                    F.least(F.col("pos"), F.col("n") - _MATTR_W + 1),
                )
            ).alias("i"),
        )
        .groupBy("doc_id", "i")
        .agg(
            F.sum(
                F.when(
                    F.col("prev").isNull() | (F.col("prev") < F.col("i")),
                    F.lit(1),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("d")
        )
    )
    per_doc = wins.groupBy("doc_id").agg(
        F.round(
            F.sum("d").cast("double") / (_MATTR_W * F.count(F.lit(1))), 6
        ).alias("mattr6")
    )
    short_doc = (
        toks.join(lens, "doc_id")
        .where(F.col("n") < _MATTR_W)
        .groupBy("doc_id")
        .agg(
            F.round(
                F.countDistinct("tok").cast("double") / F.max("n"), 6
            ).alias("ttr6")
        )
    )
    meta = toks.select("doc_id", "lang").distinct()
    return (
        meta.join(per_doc, "doc_id", "left")
        .join(short_doc, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.count("mattr6").cast("long").alias("n_windowed"),
            F.round(F.expr(davg("mattr6", scale=6)), 6).alias("mattr6"),
            F.round(F.expr(davg("ttr6", scale=6)), 6).alias("ttr_short6"),
        )
        .orderBy("lang")
    )
