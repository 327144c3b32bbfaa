"""Text-analysis / curation queries (t-series).

Split out of the former single-module queries.py (round 8, zero
behavior change — plan fingerprints held).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd  # noqa: F401 — needed to resolve postponed pd.Series hints in pandas UDFs

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducehs_spark.operators import dedup, multimodal, similarity, text, windows
from mapreducehs_spark.operators import sampling as _sampling
from mapreducehs_spark.operators.iteration import Materialization, materialize
from mapreducehs_spark.operators.joins import asof_join
from mapreducehs_spark.pipeline import word_count_pipeline
from mapreducehs_spark.sources.catalog import load_table

from mapreducehs_spark.queries._registry import ORACLE, QUERIES, query  # noqa: F401
from mapreducehs_spark.queries._shared import (  # noqa: F401
    _MIX_CTES,
    _T26_ORACLE,
    _mixture_rates,
    _mixture_tok,
    _quality_losers,
    _quality_losers_ctes,
    _t,
)

# =========================================================================
# LLM pipeline: text analysis (BASELINE.json mandate)
# =========================================================================

@query(
    "t01_token_stats",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang, length(text) AS n_chars_obs,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS t
      FROM documents
    )
    SELECT doc_id, lang,
           CAST(len(t) AS BIGINT) AS n_tokens,
           CAST(n_chars_obs AS BIGINT) AS n_chars_obs,
           CAST(len(list_distinct(t)) AS BIGINT) AS n_distinct_tokens,
           round(list_sum(list_transform(t, x -> length(x))) /
                 CAST(greatest(len(t), 1) AS DOUBLE), 6) AS avg_token_len
    FROM toks
    """,
)
def t01_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token statistics — split/size/array_distinct, zero UDFs."""
    docs = _t(spark, sf_dir, "documents")
    stats = text.with_token_stats(docs)
    return stats.select(
        "doc_id",
        "lang",
        "n_tokens",
        "n_chars_obs",
        "n_distinct_tokens",
        F.round("avg_token_len", 6).alias("avg_token_len"),
    )


@query(
    "t02_quality_scores",
    oracle="""
    WITH toks AS (
      SELECT doc_id, text,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS t
      FROM documents
    ), feats AS (
      SELECT doc_id,
             len(list_filter(t, x -> list_contains(
                 ['the','a','of','and','to','in','is','it'], lower(x)))) /
               CAST(greatest(len(t), 1) AS DOUBLE)                       AS stopword_ratio,
             length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) /
               CAST(greatest(length(text), 1) AS DOUBLE)                 AS punct_ratio,
             length(text) BETWEEN 20 AND 100000                          AS len_band_ok
      FROM toks
    )
    SELECT doc_id,
           round(stopword_ratio, 6) AS stopword_ratio,
           round(punct_ratio, 6) AS punct_ratio,
           len_band_ok,
           round(least(greatest(
             0.5 + least(stopword_ratio * 2.0, 0.25)
                 - least(punct_ratio * 2.0, 0.25)
                 + CASE WHEN len_band_ok THEN 0.25 ELSE -0.25 END, 0.0), 1.0), 6)
             AS quality_score
    FROM feats
    """,
)
def t02_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality features + composite score (operators/text.py)."""
    docs = _t(spark, sf_dir, "documents")
    q = text.with_quality_score(docs)
    return q.select(
        "doc_id",
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("punct_ratio", 6).alias("punct_ratio"),
        "len_band_ok",
        "quality_score",
    )


@query(
    "t03_corpus_facets",
    oracle="""
    SELECT lang, source,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(avg(n_chars), 6) AS avg_chars,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM documents
    GROUP BY lang, source
    """,
)
def t03_corpus_facets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.min("doc_id").cast("bigint").alias("first_doc"),
    )


@query(
    "t04_top_terms_tfidf",
    oracle="""
    WITH exploded AS (
      SELECT lang, unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                      x -> x != '')) AS term
      FROM documents
    ), tf AS (
      SELECT lang, term, count(*) AS tf FROM exploded GROUP BY 1, 2
    ), dfreq AS (
      SELECT term, count(*) AS facet_df FROM tf GROUP BY 1
    ), nl AS (
      SELECT count(DISTINCT lang) AS n FROM documents
    ), weighted AS (
      SELECT tf.lang, tf.term, CAST(tf.tf AS BIGINT) AS tf, CAST(dfreq.facet_df AS BIGINT) AS facet_df,
             round(tf.tf * ln((nl.n + 1) / CAST(dfreq.facet_df + 1 AS DOUBLE)), 6) AS tfidf
      FROM tf, dfreq, nl WHERE tf.term = dfreq.term
    )
    SELECT lang, term, tf, facet_df, tfidf, rk FROM (
      SELECT *, CAST(row_number() OVER (
        PARTITION BY lang ORDER BY tfidf DESC, tf DESC, term ASC) AS BIGINT) AS rk
      FROM weighted
    ) WHERE rk <= 5
    """,
)
def t04_top_terms_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per language: explode → two hash aggs →
    window top-k (operators/text.py term_stats_by_facet)."""
    docs = _t(spark, sf_dir, "documents")
    return text.term_stats_by_facet(docs, facet="lang", top_k=5).withColumn(
        "tf", F.col("tf").cast("bigint")
    ).withColumn("facet_df", F.col("facet_df").cast("bigint"))


@query(
    "t05_fingerprints",
    oracle="""
    SELECT doc_id, md5(text) AS content_md5
    FROM documents
    """,
)
def t05_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint (md5). The POSITIONAL rolling variant is
    t21's value-checked winnowing; a faster xxhash64 rolling variant is
    covered by tests only (xxhash64 has no DuckDB replay)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", F.md5("text").alias("content_md5"))


@query("t06_lang_guess")  # heuristic classifier exercised rows-only
def t06_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script-range language-ID heuristic + facet counts.

    (This synthetic corpus is all-ASCII, so every doc lands in 'latin' —
    the oracle still checks the full classification expression.)"""
    docs = _t(spark, sf_dir, "documents")
    return (
        text.with_lang_guess(docs)
        .groupBy("lang", "lang_guess")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


ORACLE["t06_lang_guess"] = """
    WITH g AS (
      SELECT lang,
        CASE
          WHEN length(regexp_replace(text, '[^一-鿿]', '', 'g')) * 3 > greatest(length(text), 1) THEN 'zh'
          WHEN length(regexp_replace(text, '[^Ѐ-ӿ]', '', 'g')) * 3 > greatest(length(text), 1) THEN 'ru'
          WHEN length(regexp_replace(text, '[^؀-ۿ]', '', 'g')) * 3 > greatest(length(text), 1) THEN 'ar'
          ELSE 'latin'
        END AS lang_guess
      FROM documents
    )
    SELECT lang, lang_guess, count(*) AS n_docs FROM g GROUP BY 1, 2
"""


@query(
    "t07_normalize_stats",
    oracle="""
    WITH n AS (
      SELECT lang, length(text) AS before_len,
             length(trim(regexp_replace(regexp_replace(lower(text),
                    '\\b(the|a|of|and|to|in|is|it)\\b', ' ', 'g'),
                    '\\s+', ' ', 'g'))) AS after_len
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT)      AS n_docs,
           round(avg(before_len), 4)     AS avg_chars_before,
           round(avg(after_len), 4)      AS avg_chars_after,
           round(1.0 - sum(after_len) / CAST(sum(before_len) AS DOUBLE), 6)
                                         AS char_reduction
    FROM n
    GROUP BY lang
    """,
)
def t07_normalize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-normalization pass (lowercase, stopword scrub, whitespace
    collapse) with per-language before/after size accounting — the
    cleaning step of a data pipeline, kept entirely in regexp built-ins
    (whole-stage codegen; RE2 and Java regex agree on this pattern
    subset, so the oracle runs the identical expressions)."""
    docs = _t(spark, sf_dir, "documents")
    n = docs.select(
        "lang",
        F.length("text").alias("before_len"),
        F.length(text.normalize_text("text")).alias("after_len"),
    )
    return n.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("before_len"), 4).alias("avg_chars_before"),
        F.round(F.avg("after_len"), 4).alias("avg_chars_after"),
        F.round(
            1.0 - F.sum("after_len") / F.sum("before_len").cast("double"), 6
        ).alias("char_reduction"),
    )


@query(
    "t08_repetition_scores",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS t
      FROM documents
    ), pos AS (
      SELECT doc_id, lang, t, unnest(range(1, greatest(len(t) - 1, 0) + 1)) AS i
      FROM toks
    ), grams AS (
      SELECT doc_id, lang, array_to_string(t[i:i+1], ' ') AS g
      FROM pos
    ), per AS (
      SELECT doc_id, lang, g, count(*) AS c FROM grams GROUP BY 1, 2, 3
    ), doc AS (
      SELECT doc_id, lang, max(c) AS top_c, sum(c) AS total_c
      FROM per GROUP BY 1, 2
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN top_c / CAST(total_c AS DOUBLE) > 0.2 THEN 1 ELSE 0 END) AS BIGINT)
                                    AS n_repetitive,
           round(avg(top_c / CAST(total_c AS DOUBLE)), 6) AS avg_top_bigram_share
    FROM doc
    GROUP BY lang
    """,
)
def t08_repetition_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition quality filter (Gopher-style): per document, the share
    of its most frequent 2-gram; docs above 20% are flagged repetitive,
    reported per language.  Shape: one Arrow-batched n-gram kernel
    (scan-shaped, linear in corpus tokens — see text.ngram_hash_rows
    for why not the explode/HOF form) + three hash aggregations: the
    scalable "per-doc holistic stat then corpus rollup" form."""
    docs = _t(spark, sf_dir, "documents")
    grams = text.ngram_hash_rows(docs, n=2).withColumnRenamed("carry", "lang")
    per = grams.groupBy("id", "lang", "gram").agg(F.count(F.lit(1)).alias("c"))
    doc = per.groupBy("id", "lang").agg(
        F.max("c").alias("top_c"), F.sum("c").alias("total_c")
    )
    share = F.col("top_c") / F.col("total_c").cast("double")
    return doc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(share > 0.2, 1).otherwise(0)).cast("bigint").alias("n_repetitive"),
        F.round(F.avg(share), 6).alias("avg_top_bigram_share"),
    )


@query(
    "t09_vocab_growth",
    oracle="""
    WITH tok AS (
      SELECT source,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS term
      FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT)             AS n_tokens,
           CAST(count(DISTINCT term) AS BIGINT) AS vocab,
           round(count(DISTINCT term) / CAST(count(*) AS DOUBLE), 6) AS type_token_ratio
    FROM tok
    GROUP BY source
    """,
)
def t09_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics per source shard: token count,
    vocabulary size (distinct terms), type-token ratio — the Heaps-law
    reporting a training-data pipeline emits per ingest source.  One
    explode + a distinct-aggregate (two-phase expand at scale); at
    100 TB swap count(DISTINCT) for approx_count_distinct per the q34
    contract."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode_outer(text.tokens("text")).alias("term")
    ).filter(F.col("term").isNotNull())
    return tok.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("term").alias("vocab"),
        F.round(F.countDistinct("term") / F.count(F.lit(1)).cast("double"), 6).alias(
            "type_token_ratio"
        ),
    )


@query(
    "t10_bpe_token_counts",
    oracle=r"""
    WITH tok AS (
      SELECT lang,
             unnest(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS term
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT)             AS n_tokens,
           CAST(count(DISTINCT term) AS BIGINT) AS vocab,
           round(avg(length(term)), 6)          AS avg_token_len,
           CAST(sum(CASE WHEN regexp_matches(term, '^[0-9]+$') THEN 1 ELSE 0 END) AS BIGINT) AS n_number_tokens,
           CAST(sum(CASE WHEN NOT regexp_matches(term, '^[a-zA-Z0-9]') THEN 1 ELSE 0 END) AS BIGINT) AS n_punct_tokens
    FROM tok
    GROUP BY lang
    """,
)
def t10_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-tokenizer (BPE-ish) token accounting per language: alpha
    runs, digit runs, and single punctuation marks — the token-budget
    estimate a training pipeline reports before actual BPE merges.
    One codegen'd regexp pass + explode + hash agg; no UDFs."""
    docs = _t(spark, sf_dir, "documents")
    tok = docs.select(
        "lang", F.explode_outer(text.bpe_ish_tokens("text")).alias("term")
    ).filter(F.col("term").isNotNull())
    return tok.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.countDistinct("term").alias("vocab"),
        F.round(F.avg(F.length("term")), 6).alias("avg_token_len"),
        F.sum(F.when(F.col("term").rlike(r"^[0-9]+$"), 1).otherwise(0)).alias(
            "n_number_tokens"
        ),
        F.sum(F.when(~F.col("term").rlike(r"^[a-zA-Z0-9]"), 1).otherwise(0)).alias(
            "n_punct_tokens"
        ),
    )


@query(
    "t11_source_overlap",
    oracle="""
    WITH vocab AS (
      SELECT DISTINCT source,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS term
      FROM documents
    ), sized AS (
      SELECT source, count(*) AS vocab_size FROM vocab GROUP BY 1
    ), inter AS (
      SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared
      FROM vocab a JOIN vocab b ON a.term = b.term AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b,
           round(shared / CAST(sa.vocab_size + sb.vocab_size - shared AS DOUBLE), 6)
             AS vocab_jaccard
    FROM inter
    JOIN sized sa ON sa.source = source_a
    JOIN sized sb ON sb.source = source_b
    """,
)
def t11_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source vocabulary overlap matrix (data-mixing diagnostic):
    Jaccard of distinct-term vocabularies for every source pair.  The
    per-source vocabulary collapses FIRST (distinct (source, term) — a
    partial-aggregatable dedup at fact scale), so the self-join runs on
    |vocab| rows per source, not |tokens|; 20 sources → 190 pairs out.
    The pairs frame is sources² rows, so it is materialized eagerly
    and the shared vocabulary frame freed in the same call — no cached
    blocks outlive it (d13 discipline)."""
    docs = _t(spark, sf_dir, "documents")
    with materialize(spark) as m:
        vocab = m.persist(
            docs.select("source", text.tokens("text").alias("__toks"))
            .select("source", F.explode("__toks").alias("term"))
            .distinct()
        )
        sized = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("vocab_size"))
        a = vocab.select(F.col("source").alias("source_a"), "term")
        b = vocab.select(F.col("source").alias("source_b"), "term")
        inter = (
            a.join(b, "term")
            .filter(F.col("source_a") < F.col("source_b"))
            .groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).alias("shared"))
        )
        sa = sized.select(F.col("source").alias("source_a"), F.col("vocab_size").alias("size_a"))
        sb = sized.select(F.col("source").alias("source_b"), F.col("vocab_size").alias("size_b"))
        return m.result(
            inter.join(F.broadcast(sa), "source_a")
            .join(F.broadcast(sb), "source_b")
            .select(
                "source_a",
                "source_b",
                F.round(
                    F.col("shared")
                    / (F.col("size_a") + F.col("size_b") - F.col("shared")).cast("double"),
                    6,
                ).alias("vocab_jaccard"),
            )
        )


@query(
    "t12_filter_funnel",
    oracle="""
    WITH scored AS (
      SELECT lang,
             n_chars < 200 AS r_short,
             len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) < 40
               AS r_few,
             len(list_distinct(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')))
               < 0.5 * len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))
               AS r_lowdiv
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN r_short THEN 1 ELSE 0 END) AS BIGINT) AS drop_short,
           CAST(sum(CASE WHEN NOT r_short AND r_few THEN 1 ELSE 0 END) AS BIGINT) AS drop_few_tokens,
           CAST(sum(CASE WHEN NOT r_short AND NOT r_few AND r_lowdiv THEN 1 ELSE 0 END) AS BIGINT)
             AS drop_low_diversity,
           CAST(sum(CASE WHEN NOT r_short AND NOT r_few AND NOT r_lowdiv THEN 1 ELSE 0 END) AS BIGINT)
             AS survivors
    FROM scored
    GROUP BY lang
    """,
)
def t12_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter funnel with first-failing-rule attribution — the
    per-rule rejection report every corpus-cleaning pipeline emits.  All
    rules evaluate in ONE codegen'd pass (tokens staged once as a
    projection, shared by two rules); the funnel semantics (a doc counts
    against only the FIRST rule it fails, in pipeline order) is plain
    conditional aggregation — no per-rule scans, no per-rule shuffles,
    one key-only exchange for the lang rollup."""
    docs = _t(spark, sf_dir, "documents")
    staged = docs.select(
        "lang",
        "n_chars",
        text.tokens("text").alias("__toks"),
    ).select(
        "lang",
        (F.col("n_chars") < 200).alias("r_short"),
        (F.size("__toks") < 40).alias("r_few"),
        (F.size(F.array_distinct("__toks")) < 0.5 * F.size("__toks")).alias("r_lowdiv"),
    )
    return staged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("r_short"), 1).otherwise(0)).alias("drop_short"),
        F.sum(F.when(~F.col("r_short") & F.col("r_few"), 1).otherwise(0)).alias("drop_few_tokens"),
        F.sum(
            F.when(~F.col("r_short") & ~F.col("r_few") & F.col("r_lowdiv"), 1).otherwise(0)
        ).alias("drop_low_diversity"),
        F.sum(
            F.when(~F.col("r_short") & ~F.col("r_few") & ~F.col("r_lowdiv"), 1).otherwise(0)
        ).alias("survivors"),
    )


@query(
    "t13_boilerplate_ngrams",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS t
      FROM documents
    ), pos AS (
      SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i
      FROM toks
    ), g AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS gram
      FROM pos
    ), dfq AS (
      SELECT gram, CAST(count(*) AS BIGINT) AS doc_freq FROM g GROUP BY 1
    )
    SELECT gram, doc_freq,
           round(doc_freq / (SELECT CAST(count(*) AS DOUBLE) FROM documents), 6) AS doc_frac
    FROM dfq
    WHERE doc_freq >= 0.01 * (SELECT count(*) FROM documents)
    ORDER BY doc_freq DESC, gram ASC
    LIMIT 20
    """,
)
def t13_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate mining: 3-grams ranked by document frequency
    (operators/text.boilerplate_ngrams) — the template/header removal
    list.  One explode of per-doc DISTINCT grams + one hash agg + a
    total-ordered global top-k."""
    docs = _t(spark, sf_dir, "documents")
    return text.boilerplate_ngrams(docs, n=3, min_doc_frac=0.01, top_k=20)


@query(
    "t14_source_entropy",
    oracle="""
    WITH toks AS (
      SELECT source,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS term
      FROM documents
    ), sc AS (
      SELECT source, term, count(*) AS c FROM toks GROUP BY 1, 2
    ), stot AS (
      SELECT source, sum(c) AS tot FROM sc GROUP BY 1
    ), corpus AS (
      SELECT term, sum(c) AS cc FROM sc GROUP BY 1
    ), ctot AS (
      SELECT sum(cc) AS ct FROM corpus
    )
    SELECT sc.source,
           CAST(stot.tot AS BIGINT) AS n_tokens,
           round(-sum((sc.c / stot.tot) * ln(sc.c / stot.tot)), 6) AS entropy,
           round(sum((sc.c / stot.tot) *
                     ln((sc.c / stot.tot) / (corpus.cc / ctot.ct))), 6) AS kl_vs_corpus
    FROM sc
    JOIN stot USING (source)
    JOIN corpus USING (term)
    CROSS JOIN ctot
    GROUP BY sc.source, stot.tot
    """,
)
def t14_source_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing diagnostics: per-source token-distribution Shannon
    entropy and KL divergence vs the corpus distribution — the drift /
    domain-balance report a mixture pipeline emits per shard.  Shape:
    one explode, one (source, term) hash agg, then only VOCABULARY-sized
    frames (per-source counts, corpus counts) flow through two
    broadcast-scale joins and a rollup — token rows never shuffle twice.
    KL here is finite by construction (every source term is a corpus
    term)."""
    docs = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    toks = (
        docs.select("source", text.tokens("text").alias("__t"))
        .repartition(par)
        .select("source", F.explode_outer("__t").alias("term"))
        .filter(F.col("term").isNotNull())
    )
    sc = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    stot = sc.groupBy("source").agg(F.sum("c").alias("tot"))
    corpus = sc.groupBy("term").agg(F.sum("c").alias("cc"))
    ct = corpus.agg(F.sum("cc").alias("ct"))
    p = F.col("c") / F.col("tot")
    q = F.col("cc") / F.col("ct")
    return (
        sc.join(F.broadcast(stot), "source")
        .join(F.broadcast(corpus), "term")
        .crossJoin(F.broadcast(ct))
        .groupBy("source", "tot")
        .agg(
            F.round(-F.sum(p * F.log(p)), 6).alias("entropy"),
            F.round(F.sum(p * F.log(p / q)), 6).alias("kl_vs_corpus"),
        )
        .select(
            "source",
            F.col("tot").cast("long").alias("n_tokens"),
            "entropy",
            "kl_vs_corpus",
        )
    )


@query(
    "t15_zipf_slope",
    oracle="""
    WITH toks AS (
      SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS term
      FROM documents
    ), freq AS (
      SELECT term, count(*) AS f FROM toks GROUP BY 1
    ), ranked AS (
      SELECT f, row_number() OVER (ORDER BY f DESC, term ASC) AS r FROM freq
    )
    SELECT CAST(count(*) AS BIGINT) AS vocab,
           round(regr_slope(ln(f), ln(r)), 6) AS zipf_slope,
           round(regr_r2(ln(f), ln(r)), 6) AS r2
    FROM ranked
    """,
)
def t15_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf diagnostics: regression slope of ln(frequency) on ln(rank)
    over the corpus rank-frequency curve (natural text ≈ -1; synthetic
    or templated corpora deviate — a cheap corpus-health check).  The
    regression runs on the VOCABULARY-sized frame, so the only
    token-scale work is the frequency count; ``regr_slope``/``regr_r2``
    are built-in partial-aggregatable aggregates on both engines.
    Vocabulary rank comes from ``global_positions`` (distributed range
    sort + partition offsets): a bare row_number() window would rank
    the whole vocabulary in ONE task — fine at test scale, a straggler
    on a billion-term n-gram vocabulary."""
    from mapreducehs_spark.operators.sampling import global_positions

    docs = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    freq = (
        docs.select(text.tokens("text").alias("__t"))
        .repartition(par)
        .select(F.explode_outer("__t").alias("term"))
        .filter(F.col("term").isNotNull())
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    with materialize(spark) as m:
        ranked = global_positions(m, freq.withColumn("neg_f", -F.col("f")), ["neg_f", "term"], "r")
        return m.result(
            ranked.agg(
                F.count(F.lit(1)).alias("vocab"),
                F.round(F.expr("regr_slope(ln(f), ln(r))"), 6).alias("zipf_slope"),
                F.round(F.expr("regr_r2(ln(f), ln(r))"), 6).alias("r2"),
            )
        )


# =========================================================================
# Round 4: text-pipeline additions (PII, LM scoring, BPE learning, chunking)
# =========================================================================

@query(
    "t16_pii_redact",
    oracle=r"""
    WITH injected AS (
      SELECT source,
             text
             || CASE WHEN doc_id % 3 != 0
                     THEN ' reach user' || CAST(doc_id AS VARCHAR) || '@example.org'
                     ELSE '' END
             || CASE WHEN doc_id % 2 = 0
                     THEN ' hotline +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                     ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                     THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
                          || CAST((doc_id * 7) % 256 AS VARCHAR)
                     ELSE '' END AS t
      FROM documents
    ), red AS (
      SELECT source, t,
             len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
             len(regexp_extract_all(t, '\+?\d{1,3}-\d{3}-\d{4}')) AS n_phone,
             len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS n_ip,
             regexp_replace(regexp_replace(regexp_replace(t,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+?\d{1,3}-\d{3}-\d{4}', '<PHONE>', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS clean
      FROM injected
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_email) AS BIGINT) AS n_emails,
           CAST(sum(n_phone) AS BIGINT) AS n_phones,
           CAST(sum(n_ip) AS BIGINT) AS n_ips,
           CAST(sum(len(t) - len(clean)) AS BIGINT) AS chars_removed,
           CAST(sum(('0x' || substr(md5(clean), 1, 12))::BIGINT) AS BIGINT) AS clean_fold
    FROM red
    GROUP BY source
    """,
)
def t16_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction scrub (compliance pass every training corpus runs):
    cascaded regexp_replace for emails → phones → IPv4 (operators/
    text.redact_pii), all codegen'd — 3 narrow passes over the scan, no
    shuffle until the per-source rollup.  The synthetic corpus carries
    no PII, so deterministic contact strings derived from doc_id are
    INJECTED first (CASE-gated so counts vary per source) and both
    engines replay injection + redaction identically; the md5-fold sum
    pins the redacted OUTPUT byte-for-byte, not just the match counts.
    Patterns stay in the Java∩RE2 regex subset (FIXTURES.md oracle
    discipline)."""
    docs = _t(spark, sf_dir, "documents")
    return _t16_rollup(_t16_doc_frame(docs))


def _t16_doc_frame(docs: DataFrame) -> DataFrame:
    """t16's per-doc projection (inject → count → redact → fold),
    shared with the streaming ingest scrub st28 (the _t32_flags seam
    discipline: ONE redaction law, two topologies).  Input needs
    (doc_id, source, text); output is the stateless per-doc audit row
    (source, n_email, n_phone, n_ip, delta, fold)."""
    did = F.col("doc_id")
    injected = docs.select(
        "source",
        F.concat(
            F.col("text"),
            F.when(
                did % 3 != 0,
                F.concat(F.lit(" reach user"), did.cast("string"), F.lit("@example.org")),
            ).otherwise(""),
            F.when(
                did % 2 == 0,
                F.concat(
                    F.lit(" hotline +1-555-"),
                    F.lpad((did % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(""),
            F.when(
                did % 5 == 0,
                F.concat(
                    F.lit(" host 10.0."),
                    (did % 256).cast("string"),
                    F.lit("."),
                    ((did * 7) % 256).cast("string"),
                ),
            ).otherwise(""),
        ).alias("t"),
    )
    counts = text.pii_counts("t")
    clean = text.redact_pii("t")
    fold = F.conv(F.substring(F.md5(clean), 1, 12), 16, 10).cast("bigint")
    return injected.select(
        "source",
        counts["email"].alias("n_email"),
        counts["phone"].alias("n_phone"),
        counts["ipv4"].alias("n_ip"),
        (F.length("t") - F.length(clean)).alias("delta"),
        fold.alias("fold"),
    )


def _t16_rollup(doc_frame: DataFrame) -> DataFrame:
    """t16's per-source rollup over ``_t16_doc_frame`` rows."""
    return doc_frame.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_email").cast("bigint").alias("n_emails"),
        F.sum("n_phone").cast("bigint").alias("n_phones"),
        F.sum("n_ip").cast("bigint").alias("n_ips"),
        F.sum("delta").cast("bigint").alias("chars_removed"),
        F.sum("fold").alias("clean_fold"),
    )


@query(
    "t17_unigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS term
      FROM documents
    ), doc_term AS (
      SELECT doc_id, term, count(*) AS c FROM toks GROUP BY 1, 2
    ), freq AS (
      SELECT term, count(*) AS f FROM toks GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(f) AS DOUBLE) AS n FROM freq
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           (CAST(sum(c * CAST(floor(1e6 * ln(CAST(f AS DOUBLE) / n)) AS BIGINT))
                 AS BIGINT) * 10000
            // (CAST(sum(c) AS BIGINT) * 1000000)) / 10000.0 AS avg_logprob
    FROM doc_term JOIN freq USING (term), tot
    GROUP BY doc_id
    """,
)
def t17_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring — the cheap perplexity proxy used
    to rank documents for training-mix curation: avg over tokens of
    ln(corpus unigram probability).  Token-scale work is two hash aggs
    (doc-term counts, corpus term counts); the scoring join touches
    only the VOCABULARY-sized frequency frame (broadcast), never
    re-shuffling the corpus.  Per-token log-probs are quantized to
    exact integer micro-nats (floor(1e6·ln p)) before summation, so
    the aggregation is order-independent and value-checkable — the
    same exactness trade as q83's basis-point revenue."""
    docs = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    # staged by doc_id (round 12): hash(doc_id) satisfies BOTH the
    # (doc_id, term) count and the final per-doc sum, so the exploded
    # term rows never shuffle — only the vocabulary-sized freq leg
    # exchanges (guide §2.1/§2.4, the dedup-kernel discipline)
    toks = (
        docs.select("doc_id", text.tokens("text").alias("__t"))
        .repartition(par, "doc_id")
        .select("doc_id", F.explode_outer("__t").alias("term"))
        .filter(F.col("term").isNotNull())
    )
    doc_term = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("f"))
    total = freq.agg(F.sum("f").cast("double").alias("n"))
    # micro-nats on the VOCABULARY frame via the C-library log
    # (text.micro_ln_udf: the JVM log intrinsic diverges from the
    # oracle's libm by an ulp — observed flipping a floor at sf1);
    # also cheaper: one log per term instead of one per (doc, term)
    scored = (
        freq.crossJoin(F.broadcast(total))
        .withColumn(
            "micro", text.micro_ln_udf()(F.col("f").cast("double") / F.col("n"))
        )
        .select("term", "micro")
    )
    # truncating integer fixed-point average (the q94 recipe): a
    # rounded double quotient eventually lands on a .xxxx5 tie and the
    # engines' round() split (observed at sf1: -5.70215); `div` and
    # DuckDB `//` both truncate toward zero, so the 4-decimal value is
    # engine-exact at any scale
    return (
        doc_term.join(F.broadcast(scored), "term")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(F.col("c") * F.col("micro")).cast("bigint").alias("__s"),
        )
        .select(
            "doc_id",
            "n_tokens",
            (
                F.expr("(__s * 10000L) div (n_tokens * 1000000L)") / F.lit(10000.0)
            ).alias("avg_logprob"),
        )
    )


def _t18_oracle() -> str:
    """Unrolled 3-iteration replay of the BPE merge loop: per iteration
    count adjacent pairs (index-join, overlap included), argmax with
    (count desc, pair asc) tiebreak, then the SAME left-to-right
    non-overlapping delimiter replace both engines implement."""
    head = """
    WITH t0 AS (
      SELECT ' ' || array_to_string(
               list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''), ' ')
             || ' ' AS s
      FROM documents
    )"""
    parts = []
    for i in range(1, 4):
        prev = f"t{i - 1}"
        parts.append(f"""
    , l{i} AS (
      SELECT list_filter(str_split(trim(s), ' '), x -> x != '') AS l FROM {prev}
    ), p{i} AS (
      SELECT l[i] AS a, l[i + 1] AS b, count(*) AS cnt
      FROM l{i}, LATERAL unnest(range(1, len(l))) AS u(i)
      GROUP BY 1, 2
    ), m{i} AS (
      SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
    ), t{i} AS (
      SELECT replace(s, ' ' || m.a || ' ' || m.b || ' ',
                        ' ' || m.a || '_' || m.b || ' ') AS s
      FROM {prev}, m{i} m
    ), v{i} AS (
      SELECT count(DISTINCT u) AS v
      FROM (SELECT unnest(list_filter(str_split(trim(s), ' '), x -> x != '')) AS u FROM t{i})
    )""")
    selects = " UNION ALL ".join(
        f"""SELECT {i} AS iter, a AS pair_a, b AS pair_b,
               CAST(cnt AS BIGINT) AS pair_count,
               (SELECT CAST(v AS BIGINT) FROM v{i}) AS vocab_after
        FROM m{i}"""
        for i in range(1, 4)
    )
    return head + "".join(parts) + "\n    " + selects


@query("t18_bpe_merge_learn", oracle=_t18_oracle())
def t18_bpe_merge_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge learning (tokenizer-vocabulary induction, Sennrich et
    al. 2016) as a distributed iterative loop: 3 rounds of corpus-wide
    adjacent-pair counting → driver-side argmax (ONE row per round —
    the driver holds the model, s05 discipline) → corpus-wide merge as
    a codegen'd literal replace.  The per-round shuffle is keyed on the
    PAIR (narrow, partial-aggregatable counts), never the documents;
    at 100 TB each round is one map-side-combined count shuffle.  The
    whole loop is value-checked: the oracle unrolls the same three
    iterations (see _t18_oracle for the shared merge semantics)."""
    docs = _t(spark, sf_dir, "documents")
    steps = text.bpe_merge_steps(docs, iters=3)
    return spark.createDataFrame(
        steps, "iter int, pair_a string, pair_b string, pair_count bigint, vocab_after bigint"
    )


@query(
    "t19_doc_chunks",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS l
      FROM documents
    ), sized AS (
      SELECT doc_id, l, len(l) AS n FROM toks WHERE len(l) > 0
    ), chunks AS (
      SELECT doc_id, i AS chunk_id,
             l[(i * 48 + 1):least(i * 48 + 64, n)] AS c
      FROM sized,
           LATERAL unnest(range(0, 1 + CAST(ceil(greatest(n - 64, 0) / 48.0) AS INT))) AS t(i)
    )
    SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(len(c) AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(c, ' ')) AS chunk_md5
    FROM chunks
    """,
)
def t19_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (64-token windows, stride 48 —
    16-token overlap): the RAG / long-context preparation step, via
    operators/text.chunk_documents.  Pure array-side fission — one
    split, one windowed slice transform, one explode; NO shuffle, so
    it scales embarrassingly (every chunk row is independent
    downstream).  chunk_md5 pins each chunk's exact text."""
    docs = _t(spark, sf_dir, "documents")
    ch = text.chunk_documents(docs, chunk_tokens=64, stride=48)
    return ch.select(
        F.col("id").alias("doc_id"),
        "chunk_id",
        "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_md5"),
    )


@query(
    "t20_data_profile",
    oracle="""
    WITH a AS (
      SELECT count(*) AS n,
             count(o_orderkey) AS c1, count(DISTINCT o_orderkey) AS d1,
             min(o_orderkey) AS mn1, max(o_orderkey) AS mx1,
             count(o_custkey) AS c2, count(DISTINCT o_custkey) AS d2,
             min(o_custkey) AS mn2, max(o_custkey) AS mx2,
             count(o_totalprice) AS c3, count(DISTINCT o_totalprice) AS d3,
             min(o_totalprice) AS mn3, max(o_totalprice) AS mx3,
             count(o_orderstatus) AS c4, count(DISTINCT o_orderstatus) AS d4,
             min(o_orderstatus) AS mn4, max(o_orderstatus) AS mx4,
             count(o_orderpriority) AS c5, count(DISTINCT o_orderpriority) AS d5,
             min(o_orderpriority) AS mn5, max(o_orderpriority) AS mx5,
             count(o_orderdate) AS c6, count(DISTINCT o_orderdate) AS d6,
             strftime(min(o_orderdate), '%Y-%m-%d') AS mn6,
             strftime(max(o_orderdate), '%Y-%m-%d') AS mx6
      FROM orders
    )
    SELECT 'o_orderkey' AS col_name, CAST(n - c1 AS BIGINT) AS n_null,
           CAST(d1 AS BIGINT) AS n_distinct, CAST(mn1 AS DOUBLE) AS min_num,
           CAST(mx1 AS DOUBLE) AS max_num, CAST(NULL AS VARCHAR) AS min_str,
           CAST(NULL AS VARCHAR) AS max_str FROM a
    UNION ALL
    SELECT 'o_custkey', CAST(n - c2 AS BIGINT), CAST(d2 AS BIGINT),
           CAST(mn2 AS DOUBLE), CAST(mx2 AS DOUBLE), NULL, NULL FROM a
    UNION ALL
    SELECT 'o_totalprice', CAST(n - c3 AS BIGINT), CAST(d3 AS BIGINT),
           mn3, mx3, NULL, NULL FROM a
    UNION ALL
    SELECT 'o_orderstatus', CAST(n - c4 AS BIGINT), CAST(d4 AS BIGINT),
           NULL, NULL, mn4, mx4 FROM a
    UNION ALL
    SELECT 'o_orderpriority', CAST(n - c5 AS BIGINT), CAST(d5 AS BIGINT),
           NULL, NULL, mn5, mx5 FROM a
    UNION ALL
    SELECT 'o_orderdate', CAST(n - c6 AS BIGINT), CAST(d6 AS BIGINT),
           NULL, NULL, mn6, mx6 FROM a
    """,
)
def t20_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data-quality profile (the ingestion-gate op every
    training pipeline runs before accepting a drop): per-column null
    count, exact distinct count, and min/max — computed in two
    column-pruned passes over the table (never per-column rescans — at
    100 TB a 6-column profile costing 6 scans is the difference between
    minutes and hours): a hash-shaped multi-count-distinct (one Expand,
    q08's plan) and a shuffle-free min/max pass, split so immutable
    string min/max buffers cannot demote the Expand to a SortAggregate
    (measured 4x).  The 1-row results crossJoin and reshape long with
    stack().  Numerics profile into min_num/max_num, strings and
    dates into min_str/max_str (dates formatted, never raw timestamps
    — oracle discipline)."""
    o = _t(spark, sf_dir, "orders")
    # Two single-row aggregates, crossJoined: string-typed min/max
    # buffers are immutable, so fusing them with the multi-distinct
    # Expand forces the WHOLE pass into a SortAggregate over 7x-expanded
    # rows (measured 4x slower at sf0.1).  Split, the distinct pass
    # stays a hash aggregate (strings appear only as grouping keys) and
    # the min/max pass has no Expand and no grouping — both linear,
    # both shuffle-free until their 1-row partials merge.
    dist = o.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_orderkey").alias("c1"),
        F.countDistinct("o_orderkey").alias("d1"),
        F.count("o_custkey").alias("c2"),
        F.countDistinct("o_custkey").alias("d2"),
        F.count("o_totalprice").alias("c3"),
        F.countDistinct("o_totalprice").alias("d3"),
        F.count("o_orderstatus").alias("c4"),
        F.countDistinct("o_orderstatus").alias("d4"),
        F.count("o_orderpriority").alias("c5"),
        F.countDistinct("o_orderpriority").alias("d5"),
        F.count("o_orderdate").alias("c6"),
        F.countDistinct("o_orderdate").alias("d6"),
    )
    mm = o.agg(
        F.min("o_orderkey").alias("mn1"),
        F.max("o_orderkey").alias("mx1"),
        F.min("o_custkey").alias("mn2"),
        F.max("o_custkey").alias("mx2"),
        F.min("o_totalprice").alias("mn3"),
        F.max("o_totalprice").alias("mx3"),
        F.min("o_orderstatus").alias("mn4"),
        F.max("o_orderstatus").alias("mx4"),
        F.min("o_orderpriority").alias("mn5"),
        F.max("o_orderpriority").alias("mx5"),
        F.date_format(F.min("o_orderdate"), "yyyy-MM-dd").alias("mn6"),
        F.date_format(F.max("o_orderdate"), "yyyy-MM-dd").alias("mx6"),
    )
    a = dist.crossJoin(F.broadcast(mm))
    return a.select(
        F.expr(
            """
            stack(6,
              'o_orderkey',     n - c1, d1, CAST(mn1 AS DOUBLE), CAST(mx1 AS DOUBLE),
                                CAST(NULL AS STRING), CAST(NULL AS STRING),
              'o_custkey',      n - c2, d2, CAST(mn2 AS DOUBLE), CAST(mx2 AS DOUBLE),
                                CAST(NULL AS STRING), CAST(NULL AS STRING),
              'o_totalprice',   n - c3, d3, mn3, mx3,
                                CAST(NULL AS STRING), CAST(NULL AS STRING),
              'o_orderstatus',  n - c4, d4, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                                mn4, mx4,
              'o_orderpriority', n - c5, d5, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                                mn5, mx5,
              'o_orderdate',    n - c6, d6, CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
                                mn6, mx6
            ) AS (col_name, n_null, n_distinct, min_num, max_num, min_str, max_str)
            """
        )
    )


@query(
    "t21_winnowing_fingerprints",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS t
      FROM documents
    ), pos AS (
      SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i
      FROM toks
    ), kg AS (
      SELECT doc_id, i,
             ('0x' || substr(md5(array_to_string(t[i:i+2], ' ')), 1, 12))::BIGINT AS h
      FROM pos
    ), wmin AS (
      SELECT doc_id,
             min(h) OVER (PARTITION BY doc_id ORDER BY i ASC
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM kg
    ), fp AS (
      SELECT doc_id, count(DISTINCT fp) AS n_fp FROM wmin GROUP BY doc_id
    ), nk AS (
      SELECT doc_id, count(*) AS n_kgrams FROM kg GROUP BY doc_id
    )
    SELECT nk.doc_id, CAST(n_kgrams AS BIGINT) AS n_kgrams,
           CAST(n_fp AS BIGINT) AS n_fp,
           CAST(n_fp * 1000000 // n_kgrams AS BIGINT) AS density_micro
    FROM nk JOIN fp ON fp.doc_id = nk.doc_id
    """,
)
def t21_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer-Wilkerson-Aiken, the
    MOSS algorithm) — POSITIONAL rolling fingerprints, upgrading t05's
    whole-document md5: hash every token 3-gram (md5-fold, the d11
    engine-portable discipline), slide a w=4 window over the hash
    sequence and keep each window's minimum — guaranteeing any shared
    run of >= w+k-1 tokens between two documents shares a fingerprint,
    with only ~2/(w+1) of the k-gram hashes retained.  Everything is
    deterministic integer arithmetic, so unlike classic random-seed
    winnowing the selected fingerprints value-check bit-for-bit.
    Shape: ONE shuffle on doc_id feeds both the sliding-window min
    (ROWS frame) and the two per-doc aggregates; fingerprint density is
    the integer-micro quotient (q94 recipe).  The k-gram hash sequence
    is built once as a projection (array staged per the shingles_of
    HOF discipline), never re-evaluated in a filter."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", text.tokens("text").alias("t"))
    # Spark's sequence(1, 0) DESCENDS instead of returning empty, so
    # short documents are filtered up front (the oracle's range() is
    # empty for them — both engines drop docs with < 3 tokens)
    pos = (
        toks.filter(F.size("t") >= 3)
        .select(
            "doc_id",
            "t",
            F.explode_outer(F.sequence(F.lit(1), F.size("t") - 2)).alias("i"),
        )
        .filter(F.col("i").isNotNull())
    )
    kg = pos.select(
        "doc_id",
        "i",
        F.conv(
            F.substring(F.md5(F.concat_ws(" ", F.slice("t", F.col("i"), 3))), 1, 12),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy(F.col("i").asc())
        .rowsBetween(Window.currentRow, 3)
    )
    wmin = kg.select("doc_id", F.min("h").over(w).alias("fp"))
    fp = wmin.groupBy("doc_id").agg(F.countDistinct("fp").alias("n_fp"))
    nk = kg.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_kgrams"))
    return (
        nk.join(fp, "doc_id")
        .select(
            "doc_id",
            "n_kgrams",
            "n_fp",
            F.expr("n_fp * 1000000L div n_kgrams").alias("density_micro"),
        )
    )


def _t22_merge_ctes(t0_cols: str = "lang", carry: str = "lang") -> str:
    """t18's unrolled 3-merge replay as a reusable CTE chain: ``t0``
    projects ``t0_cols`` plus the padded-symbol corpus state ``s``;
    each t{i} re-applies the round's argmax merge carrying ``carry``
    (the _bigram_pairs single-twin discipline — t22 and t48 consume
    ONE merge replay, so the tiebreak/padding law cannot fork)."""
    head = f"""
    WITH t0 AS (
      SELECT {t0_cols}, ' ' || array_to_string(
               list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''), ' ')
             || ' ' AS s
      FROM documents
    )"""
    parts = []
    for i in range(1, 4):
        prev = f"t{i - 1}"
        parts.append(f"""
    , l{i} AS (
      SELECT list_filter(str_split(trim(s), ' '), x -> x != '') AS l FROM {prev}
    ), p{i} AS (
      SELECT l[i] AS a, l[i + 1] AS b, count(*) AS cnt
      FROM l{i}, LATERAL unnest(range(1, len(l))) AS u(i)
      GROUP BY 1, 2
    ), m{i} AS (
      SELECT a, b, cnt FROM p{i} ORDER BY cnt DESC, a ASC, b ASC LIMIT 1
    ), t{i} AS (
      SELECT {carry}, replace(s, ' ' || m.a || ' ' || m.b || ' ',
                              ' ' || m.a || '_' || m.b || ' ') AS s
      FROM {prev}, m{i} m
    )""")
    return head + "".join(parts)


def _t22_oracle() -> str:
    """The merge-replay chain carrying ``lang``, ending in the
    per-language ENCODE report instead of the merge table."""
    tail = """
    , enc AS (
      SELECT lang,
             list_filter(str_split(trim(s), ' '), x -> x != '') AS syms
      FROM t3
    )
    SELECT lang,
           count(*) AS n_docs,
           CAST(sum(len(syms)) AS BIGINT) AS n_symbols,
           CAST(sum(len(list_filter(syms, x -> contains(x, '_')))) AS BIGINT) AS n_merged
    FROM enc GROUP BY lang"""
    return _t22_merge_ctes() + tail


def _t22_syms(docs: DataFrame) -> Column:
    """The Spark-side encode chain (t18's learned merges, broadcast as
    literal replaces over the padded symbol string) — the ONE twin of
    ``_t22_merge_ctes``, shared by t22 and t48."""
    merges = [
        (a, b)
        for _, a, b, _, _ in text.bpe_merge_steps(docs, iters=3, with_vocab=False)
    ]
    s = F.concat(F.lit(" "), F.concat_ws(" ", text.tokens("text")), F.lit(" "))
    for a, b in merges:
        s = F.replace(s, F.lit(f" {a} {b} "), F.lit(f" {a}_{b} "))
    return F.filter(F.split(F.trim(s), " "), lambda t: t != "")


@query("t22_bpe_apply", oracle=_t22_oracle())
def t22_bpe_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY — the encode half t18's learner exists for: the
    3 learned merges (the model — a driver-held list, s05 discipline)
    are applied corpus-wide as a chain of codegen'd literal replaces,
    and the encoded corpus reduces to the per-language token-budget
    report (symbol count after merges, merged-symbol occurrences) a
    training pipeline emits before materializing token ids.  At 100 TB
    the encode pass is pure scan-shaped projection work — the merge
    table broadcasts as literals, documents never shuffle until the
    language rollup (a 5-row aggregate).  Value-checked end to end:
    the oracle replays learning AND encoding (t18's unrolled loop
    carried through to the final report)."""
    docs = _t(spark, sf_dir, "documents")
    enc = docs.select("lang", _t22_syms(docs).alias("syms"))
    return enc.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("syms")).alias("n_symbols"),
        F.sum(F.size(F.filter(F.col("syms"), lambda t: t.contains("_")))).alias(
            "n_merged"
        ),
    )


def _bigram_pairs(toked: DataFrame, include_doc: bool = True) -> DataFrame:
    """Adjacent-token pairs from a (doc_id, __t tokens-array) frame —
    the ONE Spark twin of the shared _T23_PAIRS_CTE oracle fragment
    (used by t23 and t24, so the size>=2 guard and the sequence
    off-by-one recipe cannot fork).  size >= 2 guard BEFORE sequence():
    Spark's sequence(1, 0) DESCENDS instead of returning empty
    (verify-skill recipe, t21)."""
    cols = ["doc_id"] if include_doc else []
    return (
        toked.filter(F.size("__t") >= 2)
        .select(
            *cols,
            F.explode_outer(
                F.expr(
                    "transform(sequence(1, size(__t) - 1),"
                    " i -> struct(__t[i - 1] AS a, __t[i] AS b))"
                )
            ).alias("__p"),
        )
        .filter(F.col("__p").isNotNull())
        .select(*cols, F.col("__p.a").alias("a"), F.col("__p.b").alias("b"))
    )


_T23_PAIRS_CTE = """
    WITH lists AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS l
      FROM documents
    ), pairs AS (
      SELECT doc_id, l[i] AS a, l[i + 1] AS b
      FROM lists, LATERAL unnest(range(1, len(l))) AS u(i)
    ), dp AS (
      SELECT doc_id, a, b, count(*) AS m FROM pairs GROUP BY 1, 2, 3
    ), big AS (
      SELECT a, b, CAST(sum(m) AS BIGINT) AS cab FROM dp GROUP BY 1, 2
    ), uni AS (
      SELECT a, CAST(sum(cab) AS BIGINT) AS ca FROM big GROUP BY 1
    )"""


@query(
    "t23_bigram_logprob",
    oracle=_T23_PAIRS_CTE
    + """
    , vocab AS (
      SELECT count(DISTINCT u) AS vv
      FROM (SELECT unnest(l) AS u FROM lists)
    )
    SELECT doc_id,
           CAST(sum(m) AS BIGINT) AS n_pairs,
           (CAST(sum(m * CAST(floor(1e6 * ln((cab + 1.0) / CAST(ca + vv AS DOUBLE)))
                              AS BIGINT)) AS BIGINT) * 10000
            // (CAST(sum(m) AS BIGINT) * 1000000)) / 10000.0 AS avg_logprob
    FROM dp JOIN big USING (a, b) JOIN uni USING (a), vocab
    GROUP BY doc_id
    """,
)
def t23_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring with add-one smoothing — t17's
    unigram perplexity proxy upgraded one order: per doc, the mean over
    adjacent token pairs of ln((c(a,b)+1)/(c(a)+V)).  The corpus is
    tokenized ONCE (toked persisted — measured 1.8x vs re-tokenizing
    for the vocab pass at sf0.1) and feeds both the per-doc pair count
    (dp, also persisted) and the vocabulary size; the corpus bigram
    table (big) and its start-marginal (uni) derive from dp by further
    partial-aggregatable sums, so the model build re-shuffles the
    vocabulary²-sized frame, never the corpus.  Per-pair log-probs
    quantize to integer micro-nats (floor(1e6·ln p), the t17/s08
    recipe) so the doc aggregation is order-independent and the whole
    model value-checks."""
    with materialize(spark) as m:
        return m.result(_t23_build(m, sf_dir))


def _t23_build(m: Materialization, sf_dir: str) -> DataFrame:
    """t23's pre-checkpoint frame over caches held in ``m`` (q107 pin
    recipe)."""
    docs = _t(m.spark, sf_dir, "documents")
    toked = m.persist(docs.select("doc_id", text.tokens("text").alias("__t")))
    # Round 13 (guide §2.3 — shuffle fewer bytes): the (doc, a, b) pair
    # aggregation is the ONE corpus-scale exchange here, and it carried
    # two token STRINGS per row.  The unigram vocabulary is
    # broadcast-scale (t17's model posture), so tokens dictionary-encode
    # to longs before the exchange: the vocab table rides the SAME
    # corpus pass the old countDistinct vocab-size scan already paid
    # (the checkpoint materializes ONE id assignment — both encode
    # joins and the model join must read the same dictionary), vv is
    # its count, and the pair exchange + model join run on 2x int64
    # instead of strings.  Ids never reach the output (per-doc scores),
    # so results are identical.
    vocab = m.checkpoint(
        toked.select(F.explode_outer("__t").alias("u"))
        .filter(F.col("u").isNotNull())
        .distinct()
        .withColumn("iu", F.monotonically_increasing_id())
    )
    vv = vocab.count()
    enc = (
        _bigram_pairs(toked)
        .join(
            F.broadcast(vocab.select(F.col("u").alias("a"), F.col("iu").alias("ia"))),
            "a",
        )
        .join(
            F.broadcast(vocab.select(F.col("u").alias("b"), F.col("iu").alias("ib"))),
            "b",
        )
        .select("doc_id", "ia", "ib")
    )
    dp = m.persist(enc.groupBy("doc_id", "ia", "ib").agg(F.count(F.lit(1)).alias("m")))
    big = dp.groupBy("ia", "ib").agg(F.sum("m").cast("bigint").alias("cab"))
    uni = big.groupBy("ia").agg(F.sum("cab").cast("bigint").alias("ca"))
    # micro-nats on the bigram-TABLE frame via the C-library log
    # (text.micro_ln_udf — the JVM log intrinsic can flip a floor
    # vs the oracle's libm; observed at sf1 on t17's twin law)
    scored = (
        big.join(F.broadcast(uni), "ia")
        .withColumn(
            "micro",
            text.micro_ln_udf()(
                (F.col("cab") + F.lit(1)).cast("double")
                / (F.col("ca") + F.lit(vv)).cast("double")
            ),
        )
        .select("ia", "ib", "micro")
    )
    return (
        dp.join(scored, ["ia", "ib"])
        .groupBy("doc_id")
        .agg(
            F.sum("m").cast("bigint").alias("n_pairs"),
            F.sum(F.col("m") * F.col("micro")).cast("bigint").alias("__s"),
        )
        # truncating fixed-point average (t17's sf1 lesson): round()
        # of a double quotient ties at .xxxx5 and splits the engines
        .select(
            "doc_id",
            "n_pairs",
            (
                F.expr("(__s * 10000L) div (n_pairs * 1000000L)") / F.lit(10000.0)
            ).alias("avg_logprob"),
        )
    )


@query(
    "t24_pmi_collocations",
    oracle=_T23_PAIRS_CTE
    + """
    , unib AS (
      SELECT b, CAST(sum(cab) AS BIGINT) AS cb FROM big GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(cab) AS BIGINT) AS n FROM big
    )
    SELECT a, b, cab,
           CAST(floor(1e6 * ln((CAST(n AS DOUBLE) * CAST(cab AS DOUBLE))
                               / (CAST(ca AS DOUBLE) * CAST(cb AS DOUBLE))))
                AS BIGINT) AS pmi_micro
    FROM big JOIN uni USING (a) JOIN unib USING (b), tot
    WHERE cab >= 5
    ORDER BY pmi_micro DESC, a ASC, b ASC
    LIMIT 25
    """,
)
def t24_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information — the corpus-
    statistics twin of t04's tf-idf: PMI(a,b) = ln(N·c(a,b) /
    (c(a)·c(b))) over adjacent-pair counts, min support 5, top-25 with
    a total (pmi, a, b) order.  Shares t23's single token-scale pass
    shape: pair counts shuffle once keyed on the pair; the start/end
    marginals and the grand total are derived, broadcast-sized frames.
    PMI is emitted as integer micro-nats (floor quantization — exact in
    both engines, never a round() tie) so the ranking and the values
    are bit-stable.  At 100 TB: one map-side-combined pair-count
    shuffle + a TakeOrdered(25), no corpus re-shuffle."""
    docs = _t(spark, sf_dir, "documents")
    toked = docs.select("doc_id", text.tokens("text").alias("__t"))
    pairs = _bigram_pairs(toked, include_doc=False)
    with materialize(spark) as m:
        big = m.persist(pairs.groupBy("a", "b").agg(F.count(F.lit(1)).cast("bigint").alias("cab")))
        uni = big.groupBy("a").agg(F.sum("cab").cast("bigint").alias("ca"))
        unib = big.groupBy("b").agg(F.sum("cab").cast("bigint").alias("cb"))
        tot = big.agg(F.sum("cab").cast("bigint").alias("n"))
        # C-library log for the floor-quantized PMI (text.micro_ln_udf;
        # the JVM intrinsic can flip a floor vs the oracle's libm)
        pmi = text.micro_ln_udf()(
            (F.col("n").cast("double") * F.col("cab").cast("double"))
            / (F.col("ca").cast("double") * F.col("cb").cast("double"))
        )
        return m.result(
            big.filter(F.col("cab") >= 5)
            .join(F.broadcast(uni), "a")
            .join(F.broadcast(unib), "b")
            .crossJoin(F.broadcast(tot))
            .select("a", "b", "cab", pmi.alias("pmi_micro"))
            .orderBy(F.col("pmi_micro").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(25)
        )


@query(
    "t25_novelty_scores",
    oracle="""
    WITH lists AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS l
      FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id, array_to_string(l[i:i+2], ' ') AS g
      FROM lists, LATERAL unnest(range(1, greatest(len(l) - 2, 0) + 1)) AS u(i)
    ), df AS (
      SELECT g, count(*) AS docs FROM grams GROUP BY 1
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN docs = 1 THEN 1 ELSE 0 END) AS BIGINT) AS novel_grams,
           CAST((sum(CASE WHEN docs = 1 THEN 1 ELSE 0 END) * 1000000) // count(*)
                AS BIGINT) AS novelty_micro
    FROM grams JOIN df USING (g)
    GROUP BY doc_id
    """,
)
def t25_novelty_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty — the memorization/contamination-risk metric
    dual to t13's boilerplate mining: the fraction of a document's
    DISTINCT 3-gram shingles that appear in NO other document (document
    frequency 1).  One token-scale pass emits per-doc distinct shingles;
    the df table derives from it by a further partial-aggregatable
    count; the scoring join then re-keys the deduplicated shingle frame
    on the shingle (a second token-scale shuffle — the 3-gram
    vocabulary is too wide to broadcast, unlike t17's unigram table).
    The ratio is exact integer micro-units
    ((novel·1e6) div n — no float boundary; a round()ed ratio of small
    integers WILL eventually hit a .xxxx5 tie, the q94 lesson)."""
    docs = _t(spark, sf_dir, "documents")
    toked = docs.select("doc_id", text.tokens("text").alias("__t"))
    grams = (
        toked.filter(F.size("__t") >= 3)
        .select(
            "doc_id",
            F.explode_outer(
                F.expr(
                    "transform(sequence(1, size(__t) - 2),"
                    " i -> concat_ws(' ', __t[i - 1], __t[i], __t[i + 1]))"
                )
            ).alias("g"),
        )
        .filter(F.col("g").isNotNull())
        .distinct()
    )
    df_counts = grams.groupBy("g").agg(F.count(F.lit(1)).alias("docs"))
    return (
        grams.join(df_counts, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("docs") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("novel_grams"),
            F.expr(
                "cast((sum(CASE WHEN docs = 1 THEN 1 ELSE 0 END) * 1000000L)"
                " div count(1) as bigint)"
            ).alias("novelty_micro"),
        )
    )


@query("t26_hashed_linear_score", oracle=_T26_ORACLE)
def t26_hashed_linear_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering — the fasttext-style linear
    classifier pass every pretraining mix runs, with the FEATURE
    HASHING trick (Weinberger et al. 2009): tokens hash into 4 096
    buckets (md5-fold — the [[hex-fold determinism recipe]]), the
    model is a 4 096-row weight vector BROADCAST-joined onto the
    feature stream, and each doc folds to one integer margin score +
    keep flag.  This is exactly how real model inference scales: the
    MODEL broadcasts (parameters ≪ data), the corpus stays scan-shaped,
    and the per-doc reduction is a partial-aggregatable sum — no Python
    in the loop at all, the entire inference is codegen'd expressions.
    (Here the weights are a deterministic law so the oracle can replay
    them; a trained model would broadcast a real coefficient table —
    same plan.)  Integer weights/scores make the check bit-exact."""
    docs = _t(spark, sf_dir, "documents")
    feats = (
        docs.select("doc_id", F.explode_outer(text.tokens("text")).alias("term"))
        .filter(F.col("term").isNotNull())
        .select(
            "doc_id",
            (
                F.conv(F.substring(F.md5("term"), 1, 12), 16, 10).cast("bigint") % 4096
            ).alias("bucket"),
        )
    )
    weights = spark.range(4096).select(
        F.col("id").alias("bucket"),
        ((F.col("id") * F.lit(2654435761)) % 1000 - 500).alias("w"),
    )
    return (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_feats"),
            F.sum("w").cast("bigint").alias("score"),
            (F.sum("w") > 0).alias("keep"),
        )
    )


def _t27_oracle() -> str:
    return f"""
    WITH {_quality_losers_ctes()}
    , tok AS (
      SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))
                  AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT m.source,
           CAST(sum(t.n_tokens) AS BIGINT) AS tokens_raw,
           CAST(sum(CASE WHEN l.doc_id IS NULL THEN t.n_tokens ELSE 0 END)
                AS BIGINT) AS tokens_kept,
           CAST((sum(CASE WHEN l.doc_id IS NULL THEN t.n_tokens ELSE 0 END) * 1000000)
                // sum(t.n_tokens) AS BIGINT) AS kept_micro
    FROM meta m
    JOIN tok t USING (doc_id)
    LEFT JOIN losers l ON l.doc_id = m.doc_id
    GROUP BY m.source
    """


@query("t27_token_budget_report", oracle=_t27_oracle())
def t27_token_budget_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-dedup training-token budget — the report every pretraining
    run starts from: per source, raw tokens vs tokens SURVIVING d20's
    quality-aware drop list, with the retention ratio in integer
    micro-units.  A pure COMPOSITION witness: d20's value-checked LSH
    candidate → dominance-drop pipeline feeds a token-count pass (ONE
    codegen size() per row — no token explosion needed for counting),
    joined on doc_id.  At 100 TB: the drop list is candidates-sized
    (≪ corpus) and left-joins the narrow per-doc token counts; nothing
    about composing operators changes their individual scale shapes."""
    docs = _t(spark, sf_dir, "documents")
    losers = _quality_losers(docs)  # the ONE drop rule, shared with d20
    tok = docs.select(
        "doc_id", "source", F.size(text.tokens("text")).cast("bigint").alias("n_tokens")
    )
    kept_tokens = F.sum(
        F.when(F.col("__dropped").isNull(), F.col("n_tokens")).otherwise(0)
    )
    return (
        tok.join(losers, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.sum("n_tokens").cast("bigint").alias("tokens_raw"),
            kept_tokens.cast("bigint").alias("tokens_kept"),
            F.expr(
                "cast((sum(CASE WHEN __dropped IS NULL THEN n_tokens ELSE 0 END)"
                " * 1000000L) div sum(n_tokens) as bigint)"
            ).alias("kept_micro"),
        )
    )


@query(
    "t28_logreg_train",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS term
      FROM documents
    ), feats AS (
      SELECT doc_id,
             ('0x' || substr(md5(term), 1, 12))::BIGINT % 64 AS bucket,
             CAST(count(*) AS BIGINT) AS x
      FROM toks GROUP BY 1, 2
    ), lab AS (
      SELECT doc_id,
             CASE WHEN n_chars >= 300 THEN 1::BIGINT ELSE 0::BIGINT END AS y
      FROM documents
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    grid AS (SELECT CAST(unnest(range(0, 64)) AS BIGINT) AS bucket),
    -- step 1: w0 = 0, bias0 = 0 -> z = 0 -> p = 500000 micro
    r1 AS (
      SELECT doc_id, CAST(500000 - y * 1000000 AS BIGINT) AS r FROM lab
    ), g1 AS (
      SELECT f.bucket, CAST(sum(r1.r * f.x) AS BIGINT) AS g
      FROM r1 JOIN feats f USING (doc_id) GROUP BY 1
    ), gb1 AS (SELECT CAST(sum(r) AS BIGINT) AS g FROM r1),
    w1 AS (
      SELECT grid.bucket,
             CAST(0 - (coalesce(g1.g, 0) // nn.n) // 50 AS BIGINT) AS w
      FROM grid LEFT JOIN g1 USING (bucket), nn
    ), b1 AS (SELECT CAST(0 - (g // n) // 50 AS BIGINT) AS b FROM gb1, nn),
    -- step 2: margin with w1/b1, hard sigmoid, residual, gradient
    zf2 AS (
      SELECT f.doc_id, CAST(sum(w1.w * f.x) AS BIGINT) AS zf
      FROM feats f JOIN w1 USING (bucket) GROUP BY 1
    ), r2 AS (
      SELECT lab.doc_id,
             CAST(greatest(0, least(1000000,
                    ((coalesce(zf2.zf, 0) + b1.b) // 4) + 500000))
                  - lab.y * 1000000 AS BIGINT) AS r
      FROM lab LEFT JOIN zf2 USING (doc_id), b1
    ), g2 AS (
      SELECT f.bucket, CAST(sum(r2.r * f.x) AS BIGINT) AS g
      FROM r2 JOIN feats f USING (doc_id) GROUP BY 1
    ), gb2 AS (SELECT CAST(sum(r) AS BIGINT) AS g FROM r2),
    w2 AS (
      SELECT w1.bucket,
             CAST(w1.w - (coalesce(g2.g, 0) // nn.n) // 50 AS BIGINT) AS w
      FROM w1 LEFT JOIN g2 USING (bucket), nn
    ), b2 AS (
      SELECT CAST(b1.b - (gb2.g // nn.n) // 50 AS BIGINT) AS b FROM b1, gb2, nn
    )
    SELECT w1.bucket, w1.w AS w_step1, w2.w AS w_final
    FROM w1 JOIN w2 USING (bucket)
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS bucket, b1.b AS w_step1, b2.b AS w_final
    FROM b1, b2
    """,
)
def t28_logreg_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTRIBUTED CLASSIFIER TRAINING (round 6, VERDICT r05 item 4) —
    the training half of the quality-classifier story whose inference
    half is t26: two full-batch gradient steps of hashed-feature
    logistic regression (hard-sigmoid surrogate, integer micro-unit
    fixed point) via operators/ml.logreg_train_hashed.  Per step: ONE
    scan-shaped pass over the persisted doc_id-partitioned feature
    stream with the 64-weight model BROADCAST, a co-partitioned
    residual join, and a 64-key gradient aggregation; driver state is
    dim+1 integers (the s05/s11 driver-loop discipline).  Every
    arithmetic step is truncating-integer (Spark div == DuckDB //), so
    the oracle replays both steps bit-for-bit unrolled.  Label: length
    proxy y = (n_chars >= 300); the plan is label-agnostic.  At 100 TB
    each step is exactly one corpus scan — the gradient shuffle carries
    64 keys per partition, never documents."""
    from mapreducehs_spark.operators.ml import logreg_train_hashed

    docs = _t(spark, sf_dir, "documents")
    return logreg_train_hashed(docs, n_buckets=64, n_steps=2, label_chars=300)


@query(
    "t29_logreg_minibatch",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS term
      FROM documents
    ), feats AS (
      SELECT doc_id,
             ('0x' || substr(md5(term), 1, 12))::BIGINT % 64 AS bucket,
             CAST(count(*) AS BIGINT) AS x
      FROM toks GROUP BY 1, 2
    ), lab AS (
      SELECT doc_id,
             CASE WHEN n_chars >= 300 THEN 1::BIGINT ELSE 0::BIGINT END AS y
      FROM documents
    ),
    s1 AS (
      SELECT doc_id FROM documents
      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':1'), 1, 12))::BIGINT % 4 = 0
    ), n1 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s1),
    s2 AS (
      SELECT doc_id FROM documents
      WHERE ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':2'), 1, 12))::BIGINT % 4 = 0
    ), n2 AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s2),
    grid AS (SELECT CAST(unnest(range(0, 64)) AS BIGINT) AS bucket),
    -- step 1 on sample s1: w0 = 0, bias0 = 0 -> z = 0 -> p = 500000 micro
    r1 AS (
      SELECT lab.doc_id, CAST(500000 - y * 1000000 AS BIGINT) AS r
      FROM lab JOIN s1 USING (doc_id)
    ), g1 AS (
      SELECT f.bucket, CAST(sum(r1.r * f.x) AS BIGINT) AS g
      FROM r1 JOIN feats f USING (doc_id) GROUP BY 1
    ), gb1 AS (SELECT CAST(sum(r) AS BIGINT) AS g FROM r1),
    w1 AS (
      SELECT grid.bucket,
             CAST(0 - (coalesce(g1.g, 0) // n1.n) // 50 AS BIGINT) AS w
      FROM grid LEFT JOIN g1 USING (bucket), n1
    ), b1 AS (SELECT CAST(0 - (g // n) // 50 AS BIGINT) AS b FROM gb1, n1),
    -- step 2 on sample s2: margin with w1/b1, hard sigmoid, residual
    zf2 AS (
      SELECT f.doc_id, CAST(sum(w1.w * f.x) AS BIGINT) AS zf
      FROM feats f JOIN s2 USING (doc_id) JOIN w1 USING (bucket) GROUP BY 1
    ), r2 AS (
      SELECT lab.doc_id,
             CAST(greatest(0, least(1000000,
                    ((coalesce(zf2.zf, 0) + b1.b) // 4) + 500000))
                  - lab.y * 1000000 AS BIGINT) AS r
      FROM lab JOIN s2 USING (doc_id) LEFT JOIN zf2 USING (doc_id), b1
    ), g2 AS (
      SELECT f.bucket, CAST(sum(r2.r * f.x) AS BIGINT) AS g
      FROM r2 JOIN feats f USING (doc_id) GROUP BY 1
    ), gb2 AS (SELECT CAST(sum(r) AS BIGINT) AS g FROM r2),
    w2 AS (
      SELECT w1.bucket,
             CAST(w1.w - (coalesce(g2.g, 0) // n2.n) // 50 AS BIGINT) AS w
      FROM w1 LEFT JOIN g2 USING (bucket), n2
    ), b2 AS (
      SELECT CAST(b1.b - (gb2.g // n2.n) // 50 AS BIGINT) AS b FROM b1, gb2, n2
    )
    SELECT w1.bucket, w1.w AS w_step1, w2.w AS w_final
    FROM w1 JOIN w2 USING (bucket)
    UNION ALL
    SELECT CAST(-1 AS BIGINT) AS bucket, b1.b AS w_step1, b2.b AS w_final
    FROM b1, b2
    """,
)
def t29_logreg_minibatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MINI-BATCH classifier training (round 7, VERDICT r06 item 6) —
    t28's distributed logistic regression with a deterministic md5-fold
    SAMPLE per gradient step (operators/ml.logreg_train_minibatch,
    sample law: md5-fold(doc_id:step) % 4 == 0, s10's draw
    discipline), so per-step cost is corpus/4 instead of one full
    scan: the sublinear-per-step posture that turns "as many epochs as
    scans you can afford" (t28) into actual SGD economics at 100 TB.
    The sample predicate is a pushable FILTER on the persisted,
    doc_id-partitioned feature frame — the per-step plan prunes before
    the broadcast-model join (pinned in tests/test_plans.py).  Update
    law identical to t28 but normalized by the SAMPLE count; both
    steps replay bit-for-bit in the unrolled oracle, sampling
    included."""
    from mapreducehs_spark.operators.ml import logreg_train_minibatch

    docs = _t(spark, sf_dir, "documents")
    return logreg_train_minibatch(
        docs, n_buckets=64, n_steps=2, label_chars=300, sample_mod=4
    )


def _mix_draw():
    """The per-doc acceptance draw: md5-fold of 'mix:<doc_id>' mod 1e6
    ('mix:' salt so the draw is independent of every other sampling law
    in the repo)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.lit("mix"), F.col("doc_id"))), 1, 12),
            16,
            10,
        ).cast("bigint")
        % 1_000_000
    )


@query(
    "t30_domain_mixture_sample",
    oracle=f"""
    WITH {_MIX_CTES}
    SELECT r.source, r.tokens_total, r.target_tokens, r.accept_ppm,
           CAST(coalesce(sum(CASE WHEN d.draw < r.accept_ppm THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS docs_kept,
           CAST(coalesce(sum(CASE WHEN d.draw < r.accept_ppm THEN d.n_tokens ELSE 0 END), 0)
                AS BIGINT) AS tokens_kept,
           CAST(coalesce(sum(CASE WHEN d.draw < r.accept_ppm THEN d.doc_id ELSE 0 END), 0)
                AS BIGINT) AS kept_id_sum
    FROM rates r JOIN draws d USING (source)
    GROUP BY 1, 2, 3, 4
    """,
)
def t30_domain_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DATA-DEPENDENT corpus mixture rebalancing — the domain-reweighting
    step of a pretraining pipeline (the DoReMi / temperature-resampling
    family), completing the sampling axis: q38 has FIXED per-stratum
    rates, q67 mixes with USER-GIVEN weights and target fraction —
    here both the targets and the rates are COMPUTED from the corpus,
    and the budget currency is TOKENS (what pretraining actually
    meters), not document counts: each source's acceptance rate is derived
    from its token share so no domain exceeds an equal share of the
    total token budget (over-represented domains are downsampled to
    total/n_sources tokens; under-represented ones keep everything).
    Two-pass shape that survives 100 TB: pass 1 aggregates per-source
    token totals (n_sources rows — a tiny shuffle), the rates come back
    as a BROADCAST (never a driver constant — the t28/s10 discipline),
    and pass 2 re-scans the narrow (doc_id, source, n_tokens) projection
    applying the md5-fold acceptance draw (d11 discipline, 'mix:' salt
    so the draw is independent of every other sampling law in the repo)
    as a pure per-row predicate.  Everything is integer fixed-point
    (ppm rates, truncating div — Spark `div` == DuckDB `//` here, both
    operands non-negative), so the whole mixture — rates, membership,
    and the kept-set witness sums — replays bit-for-bit in the oracle.
    Output is n_sources rows (sublinear), with docs_kept / tokens_kept /
    kept_id_sum witnessing the per-doc draws in aggregate.  (Law shared
    with st19's streaming application via _mixture_rates/_mix_draw —
    the rates and the draw live ONCE.)"""
    docs = _t(spark, sf_dir, "documents")
    tok = _mixture_tok(docs)
    rates = _mixture_rates(tok)
    kept = F.col("__draw") < F.col("accept_ppm")
    return (
        tok.join(F.broadcast(rates), "source")
        .withColumn("__draw", _mix_draw())
        .groupBy("source", "tokens_total", "target_tokens", "accept_ppm")
        .agg(
            F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("docs_kept"),
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("tokens_kept"),
            F.sum(F.when(kept, F.col("doc_id")).otherwise(0))
            .cast("bigint")
            .alias("kept_id_sum"),
        )
    )


@query(
    "t31_weighted_sample",
    oracle="""
    WITH d AS (
      SELECT source, doc_id, CAST(n_chars AS BIGINT) AS w,
             ('0x' || substr(md5(text), 1, 8))::BIGINT AS h
      FROM documents
    ), keyed AS (
      SELECT source, doc_id, w,
             -ln((h + 1) / 4294967296.0) / w AS key
      FROM d
    )
    SELECT source, doc_id, w, round(key * 1000000, 4) AS cost_micro
    FROM (
      SELECT *, row_number() OVER (
        PARTITION BY source ORDER BY key ASC, doc_id ASC) AS rk
      FROM keyed
    )
    WHERE rk <= 25
    """,
)
def t31_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED sampling without replacement (Efraimidis-Spirakis A-ES
    via exponential races): per source, the 25 docs with the smallest
    key = -ln(u)/w, where u is the 32-bit content-hash draw (q37/q38's
    md5-prefix law, +1 so u is in (0,1]) and the weight w is n_chars —
    equivalent to drawing 25 docs sequentially with probability
    proportional to length, the length/quality-weighted variant of q38's
    uniform-rate stratified sample that curation pipelines use when
    "keep 25 per domain, preferring substantial documents".  No RNG and
    no transcendental ambiguity: u's mantissa is exact (power-of-two
    divisor), both engines evaluate the same -ln(u)/w with the platform
    libm (t17's discipline), and exact-duplicate texts (identical keys
    by construction) break ties on doc_id.  The plan is scan → per-row
    key → per-group top-k: Spark 4 plans the rank<=25 predicate as
    WindowGroupLimit (per-partition per-group heaps BEFORE the
    single exchange on source), so at 100 TB the shuffle carries
    ~25 rows per (input partition x source), never the corpus."""
    docs = _t(spark, sf_dir, "documents")
    h = F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10).cast("bigint")
    key = -F.log((h + F.lit(1)) / F.lit(4294967296.0)) / F.col("w")
    keyed = docs.select(
        "source", "doc_id", F.col("n_chars").cast("bigint").alias("w"), F.col("text")
    ).withColumn("__key", key).drop("text")
    w_src = Window.partitionBy("source").orderBy(F.col("__key").asc(), F.col("doc_id").asc())
    return (
        keyed.withColumn("__rk", F.row_number().over(w_src))
        .filter(F.col("__rk") <= 25)
        .select(
            "source",
            "doc_id",
            "w",
            F.round(F.col("__key") * 1_000_000, 4).alias("cost_micro"),
        )
    )


#: t32's per-language mixture keep-rates (the q38 hash-threshold law,
#: applied AFTER quality + dedup instead of to the raw corpus).
_T32_RATES = {"en": 0.5, "de": 1.0, "fr": 0.75, "es": 0.75, "zh": 0.25}


def _t32_ctes() -> str:
    """The funnel stage-flag CTE block, shared by the t32 rollup oracle
    and the t41 provenance-audit oracle (one definition of the rules on
    BOTH engines)."""
    thr = _sampling.stratified_threshold_case_sql(_T32_RATES)
    return f"""
    WITH flagged AS (
      SELECT source, lang, doc_id, md5(text) AS h,
             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))
                  AS BIGINT) AS n_tok,
             CAST(len(list_distinct(list_filter(regexp_split_to_array(text, '\\s+'),
                                                x -> x != ''))) AS BIGINT) AS n_uniq,
             CAST(n_chars AS BIGINT) AS n_chars
      FROM documents
    ), q AS (
      SELECT *, (n_chars >= 200 AND n_tok >= 40 AND 2 * n_uniq >= n_tok) AS q_ok
      FROM flagged
    ), canon AS (
      SELECT *,
             coalesce(q_ok AND doc_id = min(CASE WHEN q_ok THEN doc_id END)
                                       OVER (PARTITION BY h), FALSE) AS is_canon
      FROM q
    ), sampled AS (
      SELECT *, is_canon AND substr(h, 1, 8) < {thr} AS is_sampled
      FROM canon
    )"""


def _t32_oracle() -> str:
    return (
        _t32_ctes()
        + """
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_raw,
           CAST(sum(CASE WHEN q_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
           CAST(sum(CASE WHEN is_canon THEN 1 ELSE 0 END) AS BIGINT) AS n_canonical,
           CAST(sum(CASE WHEN is_sampled THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
           CAST(sum(CASE WHEN is_sampled THEN n_tok ELSE 0 END) AS BIGINT) AS tokens_final
    FROM sampled
    GROUP BY source
    """
    )


@query("t32_curation_funnel", oracle=_t32_oracle())
def t32_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE END-TO-END CURATION PIPELINE in one plan — quality filter →
    exact dedup → mixture downsample → token budget, the four-stage
    composition a user of the reference runs as their whole corpus
    build, each stage reusing a law already value-checked in isolation:
    t12's integer-exact quality rules (length >= 200 chars, >= 40
    tokens, 2*distinct >= tokens), d01's canonical-per-content-hash
    (min doc_id, applied among quality SURVIVORS — stage order
    matters and is part of the checked semantics), q38's per-language
    hash-threshold mixture rates, and t27's surviving-token metering.
    The whole funnel is ONE pass over the corpus: tokens staged once
    per row (shared by two rules + the budget), stage flags computed as
    columns, canonical selection as a conditional-min window on the
    content hash, then a per-source conditional rollup — exactly TWO
    exchanges total (hash-partition by content hash, then the tiny
    source rollup), no joins, no recomputation of any stage.  At
    100 TB the window's partition key IS the dedup key (bounded groups
    — identical texts), so nothing skews beyond the duplicate-class
    size that exact dedup is built to collapse; every stage is
    integer-exact, so the funnel replays bit-for-bit in the oracle."""
    sampled = _t32_flags(_t(spark, sf_dir, "documents"))
    return sampled.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_raw"),
        F.sum(F.when(F.col("q_ok"), 1).otherwise(0)).cast("bigint").alias("n_quality"),
        F.sum(F.when(F.col("is_canon"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_canonical"),
        F.sum(F.when(F.col("is_sampled"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_sampled"),
        F.sum(F.when(F.col("is_sampled"), F.col("n_tok")).otherwise(0))
        .cast("bigint")
        .alias("tokens_final"),
    )


def _t32_flags(docs: DataFrame) -> DataFrame:
    """t32's per-doc stage flags, ONE definition (the _quality_losers
    discipline) — shared by the t32 rollup and the t41 provenance
    audit so the stage rules can never silently fork: columns
    (source, lang, doc_id, n_chars, h, n_tok, n_uniq,
    q_ok, is_canon, is_sampled)."""
    staged = docs.select(
        "source",
        "lang",
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.md5("text").alias("h"),
        text.tokens("text").alias("__tk"),
    ).select(
        "source",
        "lang",
        "doc_id",
        "n_chars",
        "h",
        F.size("__tk").cast("bigint").alias("n_tok"),
        F.size(F.array_distinct("__tk")).cast("bigint").alias("n_uniq"),
    )
    q_ok = (
        (F.col("n_chars") >= 200)
        & (F.col("n_tok") >= 40)
        & (2 * F.col("n_uniq") >= F.col("n_tok"))
    )
    flagged = staged.withColumn("q_ok", q_ok)
    w_h = Window.partitionBy("h")
    canon = flagged.withColumn(
        "is_canon",
        F.coalesce(
            F.col("q_ok")
            & (F.col("doc_id") == F.min(F.when(F.col("q_ok"), F.col("doc_id"))).over(w_h)),
            F.lit(False),
        ),
    )
    thr_expr = F.lit(_sampling.fraction_to_hex(0.0))
    for lang, rate in _T32_RATES.items():
        thr_expr = F.when(
            F.col("lang") == lang, F.lit(_sampling.fraction_to_hex(rate))
        ).otherwise(thr_expr)
    return canon.withColumn(
        "is_sampled", F.col("is_canon") & (F.substring("h", 1, 8) < thr_expr)
    )


@query(
    "t33_balanced_shards",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))
               AS n_tokens
      FROM documents
    ), ranked AS (
      SELECT doc_id, n_tokens,
             row_number() OVER (ORDER BY n_tokens DESC, doc_id) - 1 AS p
      FROM toks
    ), assigned AS (
      SELECT n_tokens,
             CASE WHEN (p // 8) % 2 = 0 THEN p % 8 ELSE 7 - (p % 8) END AS shard
      FROM ranked
    ), per AS (
      SELECT shard, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS total_tokens
      FROM assigned GROUP BY shard
    ), tot AS (
      SELECT CAST(sum(total_tokens) AS BIGINT) AS grand FROM per
    )
    SELECT shard, n_docs, total_tokens,
           CAST(total_tokens * 8 * 1000000 // grand AS BIGINT) AS share_micro
    FROM per, tot
    """,
)
def t33_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Balanced shard packing — the token-budget-equalized export step
    before distributed training: every data-parallel rank should get
    the same token count, not the same FILE count (a size-skewed shard
    straggles the whole step).  Docs sort by token count DESC (doc_id
    tiebreak) and snake (boustrophedon) over K=8 shards — the classic
    LPT-flavored balanced assignment that is pure ARITHMETIC on the
    global position, hence deterministic and engine-replayable, unlike
    greedy least-loaded-bin which is inherently sequential.  Positions
    come from sampling.global_positions (range-partitioned
    distributed sort + per-partition offsets — never the single-task
    gather a bare row_number() collapses to); per-shard rollup is a
    K-row aggregate and the grand total meets it as a broadcast 1-row
    crossJoin (t20 discipline).  Reported per shard: doc count, token
    total, and its share in integer micro-units of the perfectly
    balanced 1e6 (truncating div — engine-exact)."""
    with materialize(spark) as m:
        return m.result(_t33_build(m, sf_dir))


def _t33_build(m: Materialization, sf_dir: str) -> DataFrame:
    """t33 pre-checkpoint builder (q107 discipline: the query returns a
    checkpointed 8-row result, so plan pins inspect THIS)."""
    from mapreducehs_spark.operators.sampling import global_positions

    docs = _t(m.spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id", F.size(text.tokens("text")).alias("n_tokens")
    ).withColumn("neg_tokens", -F.col("n_tokens"))
    pos = global_positions(m, keyed, ["neg_tokens", "doc_id"])
    p = F.col("pos") - 1
    shard = F.when(
        (p.cast("bigint") % 16) < 8, p.cast("bigint") % 8
    ).otherwise(7 - (p.cast("bigint") % 8))
    per = (
        pos.select("n_tokens", shard.alias("shard"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )
    tot = per.agg(F.sum("total_tokens").cast("bigint").alias("grand"))
    return per.crossJoin(F.broadcast(tot)).select(
        "shard",
        "n_docs",
        "total_tokens",
        F.expr("CAST(total_tokens * 8 * 1000000L div grand AS BIGINT)").alias(
            "share_micro"
        ),
    )


#: t17's per-doc integer LM score keyed for ranking — the ONE oracle
#: twin of the t34/t55 difficulty signal (the _bigram_pairs CTE
#: discipline): ends with `keyed(doc_id, source, n_tokens, qk)` where
#: qk = (Σ libm micro-nats · 1e6) div n_tokens (higher = more fluent).
_T34_KEYED_CTES = """
    WITH toks AS (
      SELECT doc_id, source,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS term
      FROM documents
    ), doc_term AS (
      SELECT doc_id, source, term, count(*) AS c FROM toks GROUP BY 1, 2, 3
    ), freq AS (
      SELECT term, count(*) AS f FROM toks GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(f) AS DOUBLE) AS n FROM freq
    ), per_doc AS (
      SELECT d.doc_id, d.source,
             CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(sum(c * CAST(floor(1e6 * ln(CAST(f AS DOUBLE) / n)) AS BIGINT))
                  AS BIGINT) AS s
      FROM doc_term d JOIN freq USING (term), tot
      GROUP BY d.doc_id, d.source
    ), keyed AS (
      SELECT doc_id, source, n_tokens, (s * 1000000) // n_tokens AS qk
      FROM per_doc
    )"""


@query(
    "t34_perplexity_buckets",
    oracle=_T34_KEYED_CTES
    + """
    , ranked AS (
      SELECT source, n_tokens, qk,
             row_number() OVER (PARTITION BY source ORDER BY qk DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY source) AS ns
      FROM keyed
    )
    SELECT source, CAST((rn - 1) * 3 // ns AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(qk) AS BIGINT) AS min_qk,
           CAST(max(qk) AS BIGINT) AS max_qk,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM ranked
    GROUP BY 1, 2
    """,
)
def t34_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing — the head/middle/tail
    curation split (Wenzek et al. 2020): per source, docs rank by
    their unigram LM score (t17's exact law: libm micro-nats summed as
    integers, truncating fixed-point per-token quotient so the sort
    key is an engine-portable BIGINT) and split into fluency terciles
    by RANK, not by a percentile estimate.  The scale trap here is the
    obvious implementation — ntile(3) OVER (PARTITION BY source) puts
    each source (possibly 30 TB of a 100 TB corpus) in ONE task; this
    query instead ranks through sampling.global_positions
    ordered by (source, -score, doc_id) — positions within a source
    are CONTIGUOUS in the global order, so local rank = pos − the
    source's min position, recovered by a sources-sized broadcast
    join.  Bucket = (rank−1)·3 div n_source: pure arithmetic,
    deterministic, window-free (plan-pinned).  Reported per (source,
    tercile): doc count, realized score boundaries (the min/max
    micro-nat keys — these ARE the CCNet cutoffs downstream filters
    reuse), token mass."""
    with materialize(spark) as m:
        return m.result(_t34_build(m, sf_dir))


def _t34_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t17's per-doc integer LM score keyed for ranking — the ONE
    Spark twin of the t34/t55 difficulty signal (_T34_KEYED_CTES is
    its oracle mirror): (doc_id, source, n_tokens, qk, neg_qk) with
    qk = (Σ libm micro-nats · 1e6) div n_tokens, higher = more
    fluent/easier.  Zero-token docs never appear (no term rows)."""
    docs = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    # staged by doc_id (round 12): hash(doc_id) satisfies the
    # (doc_id, source, term) count AND the final (doc_id, source) sum
    # — two corpus-scale exchanges removed; only the vocabulary-sized
    # freq leg still shuffles (guide §2.1/§2.4)
    toks = (
        docs.select("doc_id", "source", text.tokens("text").alias("__t"))
        .repartition(par, "doc_id")
        .select("doc_id", "source", F.explode_outer("__t").alias("term"))
        .filter(F.col("term").isNotNull())
    )
    doc_term = toks.groupBy("doc_id", "source", "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("f"))
    total = freq.agg(F.sum("f").cast("double").alias("n"))
    scored = (
        freq.crossJoin(F.broadcast(total))
        .withColumn(
            "micro", text.micro_ln_udf()(F.col("f").cast("double") / F.col("n"))
        )
        .select("term", "micro")
    )
    return (
        doc_term.join(F.broadcast(scored), "term")
        .groupBy("doc_id", "source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(F.col("c") * F.col("micro")).cast("bigint").alias("__s"),
        )
        .withColumn("qk", F.expr("(__s * 1000000L) div n_tokens"))
        .withColumn("neg_qk", -F.col("qk"))
        .select("doc_id", "source", "n_tokens", "qk", "neg_qk")
    )


def _t34_build(m: Materialization, sf_dir: str) -> DataFrame:
    """t34 pre-checkpoint builder (q107 discipline)."""
    from mapreducehs_spark.operators.sampling import global_positions

    keyed = _t34_keyed(m.spark, sf_dir)
    pos = global_positions(m, keyed, ["source", "neg_qk", "doc_id"])
    srcagg = pos.groupBy("source").agg(
        F.min("pos").alias("p0"), F.count(F.lit(1)).alias("ns")
    )
    bucket = F.expr("(pos - p0) * 3 div ns")
    return (
        pos.join(F.broadcast(srcagg), "source")
        .groupBy("source", bucket.cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("qk").alias("min_qk"),
            F.max("qk").alias("max_qk"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )


@query(
    "t35_dsir_selection",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS term
      FROM documents
    ), b AS (
      SELECT doc_id, source,
             ('0x' || substr(md5(term), 1, 12))::BIGINT % 1024 AS bk
      FROM toks
    ), tcnt AS (
      SELECT bk, CAST(count(*) AS BIGINT) AS c FROM b WHERE source = 'src0' GROUP BY 1
    ), rcnt AS (
      SELECT bk, CAST(count(*) AS BIGINT) AS c FROM b WHERE source <> 'src0' GROUP BY 1
    ), tn AS (
      SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS n FROM tcnt
    ), rn_ AS (
      SELECT CAST(coalesce(sum(c), 0) AS DOUBLE) AS n FROM rcnt
    ), grid AS (
      SELECT unnest(range(1024)) AS bk
    ), w AS (
      SELECT g.bk,
             CAST(floor(1e6 * ln(CAST(coalesce(t.c, 0) + 1 AS DOUBLE) / (tn.n + 1024)))
                  AS BIGINT)
             - CAST(floor(1e6 * ln(CAST(coalesce(r.c, 0) + 1 AS DOUBLE) / (rn_.n + 1024)))
                  AS BIGINT) AS wm
      FROM grid g
      LEFT JOIN tcnt t ON t.bk = g.bk
      LEFT JOIN rcnt r ON r.bk = g.bk, tn, rn_
    ), scored AS (
      SELECT b.doc_id, b.source, CAST(sum(w.wm) AS BIGINT) AS importance_micro
      FROM b JOIN w ON w.bk = b.bk
      WHERE b.source <> 'src0'
      GROUP BY b.doc_id, b.source
    ), sel AS (
      SELECT * FROM scored ORDER BY importance_micro DESC, doc_id LIMIT 500
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_selected,
           CAST(sum(importance_micro) AS BIGINT) AS sum_importance_micro,
           CAST(min(importance_micro) AS BIGINT) AS cutoff_micro
    FROM sel
    GROUP BY source
    """,
)
def t35_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style data selection (Xie et al. 2023): rank raw-pool docs
    by IMPORTANCE — the log-likelihood ratio between a target-domain
    hashed-feature unigram LM (src0 plays the curated target) and the
    raw-pool LM — and keep the top slice.  Features are md5-fold token
    hashes into 1024 buckets, both LMs are add-one-smoothed bucket
    distributions, and per-bucket log-ratios are exact integer
    micro-nats (floor(1e6·ln p), evaluated via the libm-pinned Arrow
    UDF on the 1024-row grid — t17's discipline), so every per-doc
    importance is an exact BIGINT sum.  Scale shape: both LMs are
    1024-row partial-aggregatable counts, the weight table BROADCASTS
    to the token scan, per-doc importance is one hash shuffle, the
    top-500 lowers to TakeOrderedAndProject (never a global sort), and
    the per-source report is a 20-row rollup.  At 100 TB this is the
    published recipe's exact shape: the target model is tiny, the raw
    scan is one pass, selection state is k docs."""
    docs = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    toks = (
        docs.select("doc_id", "source", text.tokens("text").alias("__t"))
        .repartition(par)
        .select("doc_id", "source", F.explode_outer("__t").alias("term"))
        .filter(F.col("term").isNotNull())
    )
    bk = F.conv(F.substring(F.md5("term"), 1, 12), 16, 10).cast("bigint") % 1024
    b = toks.select("doc_id", "source", bk.alias("bk"))
    tcnt = b.filter(F.col("source") == "src0").groupBy("bk").agg(
        F.count(F.lit(1)).alias("tc")
    )
    rcnt = b.filter(F.col("source") != "src0").groupBy("bk").agg(
        F.count(F.lit(1)).alias("rc")
    )
    tn = tcnt.agg(F.coalesce(F.sum("tc"), F.lit(0)).cast("double").alias("tn"))
    rn = rcnt.agg(F.coalesce(F.sum("rc"), F.lit(0)).cast("double").alias("rn"))
    grid = spark.range(1024).select(F.col("id").alias("bk"))
    ml = text.micro_ln_udf()
    w = (
        grid.join(F.broadcast(tcnt), "bk", "left")
        .join(F.broadcast(rcnt), "bk", "left")
        .crossJoin(F.broadcast(tn))
        .crossJoin(F.broadcast(rn))
        .select(
            "bk",
            (
                ml(
                    (F.coalesce(F.col("tc"), F.lit(0)) + 1).cast("double")
                    / (F.col("tn") + 1024)
                )
                - ml(
                    (F.coalesce(F.col("rc"), F.lit(0)) + 1).cast("double")
                    / (F.col("rn") + 1024)
                )
            ).alias("wm"),
        )
    )
    scored = (
        b.filter(F.col("source") != "src0")
        .join(F.broadcast(w), "bk")
        .groupBy("doc_id", "source")
        .agg(F.sum("wm").cast("bigint").alias("importance_micro"))
    )
    sel = scored.orderBy(F.col("importance_micro").desc(), "doc_id").limit(500)
    return sel.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_selected"),
        F.sum("importance_micro").cast("bigint").alias("sum_importance_micro"),
        F.min("importance_micro").alias("cutoff_micro"),
    )


@query(
    "t36_repetition_filter",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS t
      FROM documents
    ), term_inst AS (
      SELECT doc_id, source, unnest(t) AS term FROM toks
    ), tc AS (
      SELECT doc_id, source, term, count(*) AS c FROM term_inst GROUP BY 1, 2, 3
    ), tok_doc AS (
      SELECT doc_id, source,
             CAST(max(c) * 1000000 // sum(c) AS BIGINT) AS toptok_micro,
             CAST(sum(c) AS BIGINT) AS n_tokens
      FROM tc GROUP BY 1, 2
    ), pos AS (
      SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i FROM toks
    ), g AS (
      SELECT doc_id, array_to_string(t[i:i+2], ' ') AS gram FROM pos
    ), gc AS (
      SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2
    ), gram_doc AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1000000 // sum(c)
                  AS BIGINT) AS dup3_micro
      FROM gc GROUP BY 1
    ), per AS (
      SELECT td.doc_id, td.source, td.n_tokens, td.toptok_micro,
             coalesce(gd.dup3_micro, 0) AS dup3_micro
      FROM tok_doc td LEFT JOIN gram_doc gd ON gd.doc_id = td.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN dup3_micro > 100000 OR toptok_micro > 200000
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
           CAST(sum(CASE WHEN dup3_micro > 100000 OR toptok_micro > 200000
                         THEN n_tokens ELSE 0 END) AS BIGINT) AS flagged_tokens,
           CAST(max(dup3_micro) AS BIGINT) AS max_dup3_micro,
           CAST(max(toptok_micro) AS BIGINT) AS max_toptok_micro
    FROM per
    GROUP BY source
    """,
)
def t36_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style INTRA-document repetition filter (Rae et al. 2021
    Table A1): the quality rules that catch boilerplate loops and
    keyword-stuffed spam that cross-document dedup structurally
    cannot — a doc flags when >10% of its 3-gram instances belong to
    repeated grams OR its most frequent token occupies >20% of the
    doc.  Both metrics are exact integer micro-units (truncating div),
    so the flag boundary is engine-exact.  Scale shape: two
    partial-aggregatable hash counts (per-doc term counts, per-doc
    gram counts) over ONE tokenize pass each, an id-keyed narrow left
    join to combine (docs too short for 3-grams repeat-score 0), and a
    sources-sized rollup — no pairwise work anywhere, the intra-doc
    complement of the d-series.  Reported per source: docs, flagged
    docs, flagged token mass (what the filter would remove), and the
    realized metric maxima."""
    docs = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    # staged by doc_id (round 12): every downstream aggregation and the
    # tok_doc⋈gc join are doc-keyed, so hash(doc_id) staging removes
    # all of their exchanges (guide §2.1/§2.4)
    staged = docs.select(
        "doc_id", "source", text.tokens("text").alias("__t")
    ).repartition(par, "doc_id")
    term_inst = staged.select(
        "doc_id", "source", F.explode_outer("__t").alias("term")
    ).filter(F.col("term").isNotNull())
    tc = term_inst.groupBy("doc_id", "source", "term").agg(
        F.count(F.lit(1)).alias("c")
    )
    tok_doc = tc.groupBy("doc_id", "source").agg(
        F.expr("CAST(max(c) * 1000000L div sum(c) AS BIGINT)").alias("toptok_micro"),
        F.sum("c").cast("bigint").alias("n_tokens"),
    )
    # gram INSTANCE counts need multiplicity, so shingles_of (which
    # dedups) doesn't apply — positional transform instead, guarded by
    # size >= 3 (sequence(1, 0) DESCENDS in Spark, the t21 trap)
    gc = (
        staged.filter(F.size("__t") >= 3)
        .select(
            "doc_id",
            F.explode_outer(
                F.transform(
                    F.sequence(F.lit(1), F.size("__t") - 2),
                    lambda i: F.concat_ws(" ", F.slice("__t", i, 3)),
                )
            ).alias("gram"),
        )
        .filter(F.col("gram").isNotNull())
        .groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    gram_doc = gc.groupBy("doc_id").agg(
        F.expr(
            "CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1000000L div sum(c)"
            " AS BIGINT)"
        ).alias("dup3_micro")
    )
    per = tok_doc.join(gram_doc, "doc_id", "left").select(
        "source",
        "n_tokens",
        "toptok_micro",
        F.coalesce(F.col("dup3_micro"), F.lit(0)).alias("dup3_micro"),
    )
    flagged = (F.col("dup3_micro") > 100000) | (F.col("toptok_micro") > 200000)
    return per.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(flagged, 1).otherwise(0)).cast("bigint").alias("n_flagged"),
        F.sum(F.when(flagged, F.col("n_tokens")).otherwise(0))
        .cast("bigint")
        .alias("flagged_tokens"),
        F.max("dup3_micro").alias("max_dup3_micro"),
        F.max("toptok_micro").alias("max_toptok_micro"),
    )


# =========================================================================
# Round 7 (8): k-fold cross-validation of the classifier
# =========================================================================

_CV_K = 3


def _cv_fold_sql(f: int) -> str:
    """One fold's unrolled chain: the EXACT t28 two-step training CTEs
    restricted to fold != f, plus the t26-law eval tail on fold == f.
    Shared-fragment discipline: this mirrors t28's oracle text — if the
    update law ever changes there, it changes here."""
    p = f"f{f}"
    return f"""{p}lab AS (SELECT doc_id, y FROM lab WHERE fold != {f}),
    {p}nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM {p}lab),
    {p}r1 AS (SELECT doc_id, CAST(500000 - y * 1000000 AS BIGINT) AS r FROM {p}lab),
    {p}g1 AS (SELECT f.bucket, CAST(sum(r.r * f.x) AS BIGINT) AS g
              FROM {p}r1 r JOIN feats f USING (doc_id) GROUP BY 1),
    {p}gb1 AS (SELECT CAST(sum(r) AS BIGINT) AS g FROM {p}r1),
    {p}w1 AS (SELECT grid.bucket,
                     CAST(0 - (coalesce(g.g, 0) // nn.n) // 50 AS BIGINT) AS w
              FROM grid LEFT JOIN {p}g1 g USING (bucket), {p}nn nn),
    {p}b1 AS (SELECT CAST(0 - (g // n) // 50 AS BIGINT) AS b FROM {p}gb1, {p}nn),
    {p}zf2 AS (SELECT f.doc_id, CAST(sum(w.w * f.x) AS BIGINT) AS zf
               FROM feats f JOIN {p}w1 w USING (bucket) GROUP BY 1),
    {p}r2 AS (SELECT l.doc_id,
                     CAST(greatest(0, least(1000000,
                            ((coalesce(z.zf, 0) + b.b) // 4) + 500000))
                          - l.y * 1000000 AS BIGINT) AS r
              FROM {p}lab l LEFT JOIN {p}zf2 z USING (doc_id), {p}b1 b),
    {p}g2 AS (SELECT f.bucket, CAST(sum(r.r * f.x) AS BIGINT) AS g
              FROM {p}r2 r JOIN feats f USING (doc_id) GROUP BY 1),
    {p}gb2 AS (SELECT CAST(sum(r) AS BIGINT) AS g FROM {p}r2),
    {p}w2 AS (SELECT w1.bucket,
                     CAST(w1.w - (coalesce(g.g, 0) // nn.n) // 50 AS BIGINT) AS w
              FROM {p}w1 w1 LEFT JOIN {p}g2 g USING (bucket), {p}nn nn),
    {p}b2 AS (SELECT CAST(b1.b - (g.g // nn.n) // 50 AS BIGINT) AS b
              FROM {p}b1 b1, {p}gb2 g, {p}nn nn),
    {p}zfe AS (SELECT f.doc_id, CAST(sum(w.w * f.x) AS BIGINT) AS zf
               FROM feats f JOIN {p}w2 w USING (bucket) GROUP BY 1),
    {p}ev AS (SELECT l.doc_id, l.y,
                     CASE WHEN greatest(0, least(1000000,
                            ((coalesce(z.zf, 0) + b.b) // 4) + 500000)) >= 500000
                          THEN 1::BIGINT ELSE 0::BIGINT END AS pred
              FROM lab l LEFT JOIN {p}zfe z USING (doc_id), {p}b2 b
              WHERE l.fold = {f}),
    {p}res AS (SELECT CAST({f} AS BIGINT) AS fold,
                      CAST(count(*) AS BIGINT) AS n_eval,
                      CAST(sum(CASE WHEN pred = y THEN 1 ELSE 0 END) AS BIGINT)
                        AS n_correct
               FROM {p}ev)"""


def _cv_oracle(k: int = _CV_K) -> str:
    folds = ",\n    ".join(_cv_fold_sql(f) for f in range(k))
    union = " UNION ALL ".join(f"SELECT * FROM f{f}res" for f in range(k))
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS term
      FROM documents
    ), feats AS (
      SELECT doc_id,
             ('0x' || substr(md5(term), 1, 12))::BIGINT % 64 AS bucket,
             CAST(count(*) AS BIGINT) AS x
      FROM toks GROUP BY 1, 2
    ), lab AS (
      SELECT doc_id,
             CASE WHEN n_chars >= 300 THEN 1::BIGINT ELSE 0::BIGINT END AS y,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':cv'), 1, 12))::BIGINT
               % {k} AS fold
      FROM documents
    ), grid AS (SELECT CAST(unnest(range(0, 64)) AS BIGINT) AS bucket),
    {folds}
    SELECT fold, n_eval, n_correct,
           CAST((n_correct * 1000000) // n_eval AS BIGINT) AS acc_micro
    FROM ({union})
    """


@query("t37_logreg_crossval", oracle=_cv_oracle())
def t37_logreg_crossval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-FOLD CROSS-VALIDATION — the model-selection readout that
    completes the classifier tier: t28 trains, t26/st17 infer, q116
    calibrates on TRAINING data; this is the honest number — each fold's
    model scores only docs it never saw.  Fold membership is the
    deterministic md5-fold split (q37's law), training is the exact t28
    two-step integer update on the other k-1 folds, eval is the exact
    t26 hard-sigmoid >= 1/2 decision, accuracy in integer micro-units
    ((n_correct * 1e6) div n_eval, the t25 no-round() discipline).  At
    100 TB: features and labels are computed ONCE and persisted
    hash-partitioned on doc_id with the fold attached — each fold's
    train/eval filters preserve that partitioning so NO per-fold
    re-shuffle; total cost is k * n_steps scan-shaped gradient passes +
    k broadcast-scored evals, and driver state is dim+1 ints per fold.
    The oracle unrolls all k training chains and eval tails
    bit-for-bit (3 folds x 2 steps, one WITH clause)."""
    from mapreducehs_spark.operators.ml import logreg_crossval

    docs = _t(spark, sf_dir, "documents")
    return logreg_crossval(
        docs, n_buckets=64, n_steps=2, label_chars=300, k=_CV_K
    )


# =========================================================================
# Round 7 (13): span-corruption masking (training-example construction)
# =========================================================================


@query(
    "t38_span_corruption",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))
               AS n
      FROM documents
    ), pos AS (
      SELECT doc_id, source, n, i.p AS p,
             CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
                                            CAST(i.p AS VARCHAR) || ':sc'), 1, 12))::BIGINT
                       % 10 = 0
                  THEN 1 ELSE 0 END AS cand
      FROM toks, LATERAL unnest(range(0, n)) AS i(p)
      WHERE n > 0
    ), marked AS (
      SELECT doc_id, source, n, p,
             max(cand) OVER (PARTITION BY doc_id ORDER BY p
                             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS m
      FROM pos
    ), runs AS (
      SELECT doc_id, source, n, p, m,
             CASE WHEN m = 1 AND coalesce(lag(m) OVER (PARTITION BY doc_id
                                                        ORDER BY p), 0) = 0
                  THEN 1 ELSE 0 END AS span_start
      FROM marked
    )
    SELECT source,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN p = 0 THEN n ELSE 0 END) AS BIGINT) AS n_tokens,
           CAST(sum(m) AS BIGINT) AS n_masked,
           CAST(sum(span_start) AS BIGINT) AS n_spans,
           CAST((sum(m) * 1000000) // sum(CASE WHEN p = 0 THEN n ELSE 0 END)
                AS BIGINT) AS mask_micro
    FROM runs
    GROUP BY source
    """,
)
def t38_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPAN-CORRUPTION masking — the training-example construction step
    (T5 denoising objectives, Raffel et al. 2020): deterministic span
    starts (md5-fold draw per (doc, position) at rate 1/10), each span
    masking 3 tokens, OVERLAPPING spans merged (a position is masked if
    any of the 3 trailing starts fired; merged-run accounting via the
    gaps-and-islands lag rule q91 uses) — the per-source report every
    masking-rate decision reads: docs, tokens, masked tokens, merged
    span count, mask ratio in integer micro-units.  The plan is one
    tokenize scan, one position explode (guarded n > 0 — Spark's
    sequence(0, -1) DESCENDS, the t21 lesson), and ONE window pass per
    rule over the (doc_id, p) partitioning Catalyst shares across both
    window functions, then a tiny source rollup.  At 100 TB the explode
    is token-count-sized — the same cardinality tokenization itself
    costs — and everything after it is windows + one narrow shuffle.
    All-integer laws, bit-for-bit oracle replay."""
    docs = _t(spark, sf_dir, "documents")
    tok_n = docs.select(
        "doc_id", "source", F.size(text.tokens("text")).alias("n")
    ).filter(F.col("n") > 0)
    pos = tok_n.select(
        "doc_id",
        "source",
        "n",
        F.explode(F.sequence(F.lit(0), F.col("n") - 1)).alias("p"),
    )
    cand = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("doc_id").cast("string"),
                        F.col("p").cast("string"),
                        F.lit("sc"),
                    )
                ),
                1,
                12,
            ),
            16,
            10,
        ).cast("bigint")
        % 10
        == 0
    ).cast("int")
    wtrail = (
        Window.partitionBy("doc_id").orderBy("p").rowsBetween(-2, 0)
    )
    wlag = Window.partitionBy("doc_id").orderBy("p")
    marked = pos.withColumn("m", F.max(cand).over(wtrail))
    runs = marked.withColumn(
        "span_start",
        (
            (F.col("m") == 1)
            & (F.coalesce(F.lag("m").over(wlag), F.lit(0)) == 0)
        ).cast("int"),
    )
    return runs.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("p") == 0, F.col("n")).otherwise(0))
        .cast("bigint")
        .alias("n_tokens"),
        F.sum("m").cast("bigint").alias("n_masked"),
        F.sum("span_start").cast("bigint").alias("n_spans"),
        F.expr(
            "cast((sum(m) * 1000000L) div"
            " sum(CASE WHEN p = 0 THEN n ELSE 0 END) as bigint)"
        ).alias("mask_micro"),
    )


# =========================================================================
# Round 7 (15): quality-signal agreement (exact Spearman)
# =========================================================================


@query(
    "t39_signal_agreement",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS term
      FROM documents
    ), doc_term AS (
      SELECT doc_id, term, count(*) AS c FROM toks GROUP BY 1, 2
    ), freq AS (
      SELECT term, count(*) AS f FROM toks GROUP BY 1
    ), tot AS (
      SELECT CAST(sum(f) AS DOUBLE) AS n FROM freq
    ), lp AS (
      SELECT doc_id,
             CAST(sum(c * CAST(floor(1e6 * ln(CAST(f AS DOUBLE) / n)) AS BIGINT))
                  AS BIGINT) * 10000
               // (CAST(sum(c) AS BIGINT) * 1000000) AS x
      FROM doc_term JOIN freq USING (term), tot
      GROUP BY doc_id
    ), qtoks AS (
      SELECT doc_id, text,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS t
      FROM documents
    ), qual AS (
      SELECT doc_id,
             round(least(greatest(
               0.5 + least(len(list_filter(t, x -> list_contains(
                       ['the','a','of','and','to','in','is','it'], lower(x)))) /
                     CAST(greatest(len(t), 1) AS DOUBLE) * 2.0, 0.25)
                   - least(length(regexp_replace(text, '[^!-/:-@\\[-`{-~]', '', 'g')) /
                     CAST(greatest(length(text), 1) AS DOUBLE) * 2.0, 0.25)
                   + CASE WHEN length(text) BETWEEN 20 AND 100000
                          THEN 0.25 ELSE -0.25 END, 0.0), 1.0), 6) AS y
      FROM qtoks
    ), joined AS (
      SELECT lp.doc_id, lp.x, qual.y FROM lp JOIN qual USING (doc_id)
    ), ranked AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY x ASC, doc_id ASC) AS rx,
             row_number() OVER (ORDER BY y ASC, doc_id ASC) AS ry
      FROM joined
    ), agg AS (
      SELECT CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum((rx - ry) * (rx - ry)) AS BIGINT) AS sum_d2
      FROM ranked
    )
    SELECT n_docs, sum_d2,
           CAST(1000 - (6000 * sum_d2) // (n_docs * (n_docs * n_docs - 1))
                AS BIGINT) AS rho_milli
    FROM agg
    """,
)
def t39_signal_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-SIGNAL AGREEMENT — exact Spearman rank correlation
    between two committed curation signals: the unigram-LM fluency
    score (t17's integer avg-logprob key) and the heuristic composite
    quality score (t02's law).  This is the report that decides whether
    a cheap signal can stand in for an expensive one before a 100 TB
    filter run — the evaluation-tier pattern (s13 ANN recall, d27 LSH
    quality, q116 calibration) closing over signal selection itself.
    rho = 1 - 6*sum(d^2)/(n(n^2-1)) with ordinal ranks tie-broken by
    doc_id, so the statistic is exactly determined; emitted in integer
    MILLI-units.  Integer headroom: the denominator n*(n^2-1) and
    6000*sum_d2 (sum_d2 approaches n^3/3) both grow as n^3, so BIGINT
    overflows at n ≈ 2.1e6 docs — past ~2M docs switch the rho
    computation to the q01 decimal(38,0) recipe.  Global ranks come
    from the two-phase positions idiom (range-repartition + offsets,
    global_positions) — never a single-task row_number window;
    both rank passes and the final 1-row reduce are the whole cost on
    top of the two signal laws."""
    from mapreducehs_spark.operators.sampling import global_positions
    from mapreducehs_spark.operators.text import with_quality_score

    docs = _t(spark, sf_dir, "documents")
    # signal x: t17's integer avg-logprob key (micro-nats via the libm
    # UDF on the vocabulary frame — the JVM-log-ulp lesson)
    toks = (
        docs.select("doc_id", text.tokens("text").alias("__t"))
        .select("doc_id", F.explode_outer("__t").alias("term"))
        .filter(F.col("term").isNotNull())
    )
    doc_term = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("c"))
    freq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("f"))
    total = freq.agg(F.sum("f").cast("double").alias("n"))
    scored = (
        freq.crossJoin(F.broadcast(total))
        .withColumn(
            "micro", text.micro_ln_udf()(F.col("f").cast("double") / F.col("n"))
        )
        .select("term", "micro")
    )
    x = (
        doc_term.join(F.broadcast(scored), "term")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("bigint").alias("__nt"),
            F.sum(F.col("c") * F.col("micro")).cast("bigint").alias("__s"),
        )
        .select("doc_id", F.expr("(__s * 10000L) div (__nt * 1000000L)").alias("x"))
    )
    # signal y: t02's composite quality law (same rounding as its oracle)
    y = with_quality_score(docs).select(
        "doc_id", F.round("quality_score", 6).alias("y")
    )
    with materialize(spark) as m:
        joined = m.persist(x.join(y, "doc_id"))
        joined.count()
        # the two rank passes are independent sorts of the cached
        # doc-sized frame; construct them concurrently so their driver
        # actions overlap (guide §2.6 — the q113/s15 pool discipline).
        # Positions depend only on the total order (doc_id tiebreak),
        # so concurrency cannot change values.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=2) as pool:
            rx, ry = pool.map(
                lambda a: global_positions(m, joined.select("doc_id", a[0]), a[1], a[2]),
                [("x", ["x", "doc_id"], "rx"), ("y", ["y", "doc_id"], "ry")],
            )
        return m.result(
            rx.select("doc_id", "rx")
            .join(ry.select("doc_id", "ry"), "doc_id")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.sum(
                    (F.col("rx") - F.col("ry")) * (F.col("rx") - F.col("ry"))
                )
                .cast("bigint")
                .alias("sum_d2"),
            )
            .select(
                "n_docs",
                "sum_d2",
                F.expr(
                    "cast(1000 - (6000L * sum_d2) div"
                    " (n_docs * (n_docs * n_docs - 1)) as bigint)"
                ).alias("rho_milli"),
            )
        )


# =========================================================================
# Round 8: training-data export tier — sequence packing + funnel provenance
# =========================================================================

#: t40 context window (tokens per packed training sequence, incl. EOS
#: separators).  Shared with the oracle renderer.
_T40_CTX = 2048


@query(
    "t40_sequence_packing",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))
                  AS BIGINT) AS n_tokens
      FROM documents
    ), w AS (
      SELECT doc_id, n_tokens + 1 AS w FROM toks
    ), starts AS (
      SELECT doc_id, w,
             CAST(sum(w) OVER (ORDER BY doc_id) - w AS BIGINT) AS start
      FROM w
    ), x AS (
      SELECT doc_id, w, start, s.seq_id
      FROM starts,
           LATERAL unnest(range(start // {_T40_CTX},
                                (start + w - 1) // {_T40_CTX} + 1)) s(seq_id)
    )
    SELECT CAST(seq_id AS BIGINT) AS seq_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc,
           CAST(sum(CASE WHEN (start + w - 1) // {_T40_CTX} = seq_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_eos,
           CAST(sum(least(start + w, (seq_id + 1) * {_T40_CTX})
                    - greatest(start, seq_id * {_T40_CTX})) AS BIGINT) AS n_fill,
           CAST(sum(least(start + w, (seq_id + 1) * {_T40_CTX})
                    - greatest(start, seq_id * {_T40_CTX}))
                * 1000000 // {_T40_CTX} AS BIGINT) AS fill_micro
    FROM x
    GROUP BY seq_id
    """,
)
def t40_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEQUENCE PACKING for pretraining export — the step every corpus
    build runs last: concatenate documents (doc_id order) with one EOS
    separator each, split the token stream into fixed
    ``_T40_CTX``-token context windows, and emit the per-sequence doc
    map (how many docs, which span, how many EOS boundaries) plus the
    fill rate in integer micro-units.  t19 chunks SINGLE docs and t33
    balances whole-doc shards; this is the missing multi-doc window
    packer (VERDICT r07 item 4).

    Everything after tokenization is PURE ARITHMETIC on global token
    offsets — sequence id = cumulative-token div context_len, doc/seq
    overlap = interval intersection — so the packing is deterministic
    and oracle-replayable.  Offsets come from
    ``sampling.global_prefix_sums`` (t33's two-phase idiom,
    weighted: range-repartition + per-partition weight subtotals +
    Arrow running sum) — NEVER a ``sum() OVER (ORDER BY ...)`` window,
    which collapses a 30 TB corpus onto one task.  Plan: one corpus
    scan, the range exchange, the seq_id hash exchange — window-free,
    join-free; the doc/seq explode adds one row per boundary crossing
    (≈ n_docs + n_sequences rows, linear).  The final partial sequence
    surfaces as the max-seq_id row with fill_micro < 1e6 — its n_fill
    IS the truncation loss if the export drops ragged tails.
    Reference witness: O1 fission + O2 ordered fold
    (src/Core/MapReduceC.hs:24-26)."""
    with materialize(spark) as m:
        return m.result(_t40_build(m, sf_dir))


def _t40_build(m: Materialization, sf_dir: str) -> DataFrame:
    """t40 pre-checkpoint builder (q107 discipline: plan pins inspect
    THIS; the query returns a checkpointed result so the positions
    cache can be freed)."""
    from mapreducehs_spark.operators.sampling import global_prefix_sums

    C = _T40_CTX
    docs = _t(m.spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        (F.size(text.tokens("text")).cast("bigint") + F.lit(1)).alias("w"),
    )
    starts = global_prefix_sums(m, keyed, ["doc_id"], "w", out_col="start")
    x = starts.select(
        "doc_id",
        "w",
        "start",
        F.explode_outer(
            F.expr(f"sequence(start div {C}, (start + w - 1) div {C})")
        ).alias("seq_id"),
    ).filter(F.col("seq_id").isNotNull())
    fill = F.least(
        F.col("start") + F.col("w"), (F.col("seq_id") + 1) * C
    ) - F.greatest(F.col("start"), F.col("seq_id") * C)
    return (
        x.select(
            "doc_id",
            "seq_id",
            fill.alias("__fill"),
            (F.expr(f"(start + w - 1) div {C}") == F.col("seq_id"))
            .cast("bigint")
            .alias("__eos"),
        )
        .groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
            F.sum("__eos").cast("bigint").alias("n_eos"),
            F.sum("__fill").cast("bigint").alias("n_fill"),
        )
        .select(
            "seq_id",
            "n_docs",
            "first_doc",
            "last_doc",
            "n_eos",
            "n_fill",
            F.expr(f"cast((n_fill * 1000000L) div {C} as bigint)").alias(
                "fill_micro"
            ),
        )
    )


def _t41_oracle() -> str:
    return (
        _t32_ctes()
        + """
    SELECT source,
           CASE WHEN NOT q_ok THEN 'quality'
                WHEN NOT is_canon THEN 'dedup'
                WHEN NOT is_sampled THEN 'mixture'
                ELSE 'kept' END AS stage,
           CASE WHEN n_chars < 200 THEN 'len_chars'
                WHEN n_tok < 40 THEN 'len_tokens'
                WHEN 2 * n_uniq < n_tok THEN 'repetition'
                WHEN NOT is_canon THEN 'duplicate'
                WHEN NOT is_sampled THEN 'downsampled'
                ELSE 'kept' END AS reason,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS tokens
    FROM sampled
    GROUP BY source, stage, reason
    """
    )


def _t41_provenance(flags: DataFrame) -> DataFrame:
    """Per-doc drop provenance over t32's stage flags: (source, doc_id,
    n_tok, stage, reason) — the audit table a data-governance review
    reads.  ``stage`` is where the doc left the funnel ('kept' for
    survivors); ``reason`` is the FIRST failing rule in the fixed
    quality-rule order (a q_ok doc cannot match a quality reason, so
    the single CASE is stage-consistent by construction).  At 100 TB
    this frame is written to a sink partitioned by (stage, reason);
    here t41 rolls it up so the oracle replays it exactly."""
    stage = (
        F.when(~F.col("q_ok"), F.lit("quality"))
        .when(~F.col("is_canon"), F.lit("dedup"))
        .when(~F.col("is_sampled"), F.lit("mixture"))
        .otherwise(F.lit("kept"))
    )
    reason = (
        F.when(F.col("n_chars") < 200, F.lit("len_chars"))
        .when(F.col("n_tok") < 40, F.lit("len_tokens"))
        .when(2 * F.col("n_uniq") < F.col("n_tok"), F.lit("repetition"))
        .when(~F.col("is_canon"), F.lit("duplicate"))
        .when(~F.col("is_sampled"), F.lit("downsampled"))
        .otherwise(F.lit("kept"))
    )
    return flags.select(
        "source", "doc_id", "n_tok", stage.alias("stage"), reason.alias("reason")
    )


@query("t41_funnel_provenance", oracle=_t41_oracle())
def t41_funnel_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURATION-FUNNEL PROVENANCE AUDIT (VERDICT r07 item 5) — t32
    reports per-source survivor COUNTS; a production corpus build also
    needs the per-doc drop REASON (which stage, which rule): the table
    a data-governance review reads before signing off a training set.
    One pass over t32's OWN stage flags (``_t32_flags`` — shared seam,
    the rules cannot fork) classifies every doc into
    (stage, reason) ∈ {quality × first-failed-rule, dedup × duplicate,
    mixture × downsampled, kept} and rolls up doc + token counts per
    (source, stage, reason).

    Cross-query consistency law (s13-vs-s01 discipline, pinned in
    pytest): per source, Σ n_docs over all stages == t32.n_raw,
    kept == t32.n_sampled, quality-dropped == n_raw - n_quality,
    dedup-dropped == n_quality - n_canonical, mixture-dropped ==
    n_canonical - n_sampled — the audit MUST reconcile exactly with
    the funnel it audits.  Same plan shape as t32 (one scan, the
    content-hash window exchange, the tiny rollup exchange); the
    per-doc provenance frame (``_t41_provenance``) never costs more
    than the funnel itself.  Reference witness: O19's per-key counts
    (src/Sample.hs) — the reference's only 'report' is also a rollup
    of per-record classifications."""
    per = _t41_provenance(_t32_flags(_t(spark, sf_dir, "documents")))
    return per.groupBy("source", "stage", "reason").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("tokens"),
    )


# =========================================================================
# Round 8: temperature-scaled mixture + FIM transform
# =========================================================================


@query(
    "t42_temperature_mixture",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source,
             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))
                  AS BIGINT) AS n_tokens
      FROM documents
    ), src AS (
      SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tokens_total
      FROM tok GROUP BY source
    ), w AS (
      SELECT source, tokens_total,
             CAST(floor(sqrt(tokens_total)) AS BIGINT) AS weight
      FROM src
    ), tot AS (
      SELECT CAST(sum(tokens_total) AS BIGINT) AS total_tokens,
             CAST(sum(weight) AS BIGINT) AS sum_w
      FROM w
    ), rates AS (
      SELECT w.source, w.tokens_total, w.weight,
             CAST(least(w.tokens_total,
                        ((t.total_tokens // 2) * w.weight) // t.sum_w)
                  AS BIGINT) AS target_tokens,
             CAST((least(w.tokens_total,
                         ((t.total_tokens // 2) * w.weight) // t.sum_w) * 1000000)
                  // w.tokens_total AS BIGINT) AS accept_ppm
      FROM w, tot t
    ), draws AS (
      SELECT doc_id, source, n_tokens,
             ('0x' || substr(md5('t42:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
               % 1000000 AS draw
      FROM tok
    )
    SELECT r.source, r.tokens_total, r.weight, r.target_tokens, r.accept_ppm,
           CAST(sum(CASE WHEN d.draw < r.accept_ppm THEN 1 ELSE 0 END) AS BIGINT)
             AS docs_kept,
           CAST(sum(CASE WHEN d.draw < r.accept_ppm THEN d.n_tokens ELSE 0 END)
                AS BIGINT) AS tokens_kept,
           CAST(sum(CASE WHEN d.draw < r.accept_ppm THEN d.doc_id ELSE 0 END)
                AS BIGINT) AS kept_id_sum
    FROM draws d JOIN rates r USING (source)
    GROUP BY r.source, r.tokens_total, r.weight, r.target_tokens, r.accept_ppm
    """,
)
def t42_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEMPERATURE-SCALED corpus mixture (alpha = 0.5) — the
    multilingual-LM balancing law (the exponential-smoothing resampling
    mBERT/XLM-R popularized): source sampling mass ∝ share^alpha, so
    low-resource domains keep proportionally MORE of a fixed token
    budget than their raw share, without the hard uniform cap t30
    applies.  Completes the mixture axis: q38 fixed rates → q67 given
    weights → t30 data-dependent uniform cap → t42 data-dependent
    temperature curve.

    Determinism: alpha = 0.5 makes the smoothed weight an integer-safe
    ``floor(sqrt(tokens))`` — IEEE-754 sqrt is correctly rounded and
    tokens_total < 2^53, so Spark and DuckDB produce the SAME double
    and floor() never splits engines (the t17 floor-quantization
    recipe); everything after is BIGINT arithmetic (budget = total div
    2, target = budget*w div Σw capped at availability — downsample-
    only, so no replacement semantics sneak in; rates in truncating
    ppm).  Same two-pass 100 TB shape as t30: per-source totals
    (n_sources rows), rates broadcast back, per-doc md5-fold draw
    ('t42:' salt) as a scan-side predicate; output is n_sources rows
    with the kept-set witness sums.  Reference witness: O2's keyed
    fold + O1's per-record predicate (src/Core/MapReduceC.hs:24-26)."""
    docs = _t(spark, sf_dir, "documents")
    tok = _mixture_tok(docs)
    src = tok.groupBy("source").agg(
        F.sum("n_tokens").cast("bigint").alias("tokens_total")
    )
    w = src.select(
        "source",
        "tokens_total",
        F.floor(F.sqrt(F.col("tokens_total").cast("double")))
        .cast("bigint")
        .alias("weight"),
    )
    everything = Window.partitionBy()
    rates = (
        w.select(
            "source",
            "tokens_total",
            "weight",
            F.sum("tokens_total").over(everything).cast("bigint").alias("total_tokens"),
            F.sum("weight").over(everything).cast("bigint").alias("sum_w"),
        )
        .select(
            "source",
            "tokens_total",
            "weight",
            F.least(
                F.col("tokens_total"),
                F.expr("((total_tokens div 2) * weight) div sum_w"),
            ).cast("bigint").alias("target_tokens"),
        )
        .select(
            "source",
            "tokens_total",
            "weight",
            "target_tokens",
            F.expr("cast((target_tokens * 1000000L) div tokens_total as bigint)").alias(
                "accept_ppm"
            ),
        )
    )
    draw = (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.lit("t42"), F.col("doc_id"))), 1, 12),
            16,
            10,
        ).cast("bigint")
        % 1_000_000
    )
    kept = F.col("__draw") < F.col("accept_ppm")
    return (
        tok.join(F.broadcast(rates), "source")
        .withColumn("__draw", draw)
        .groupBy("source", "tokens_total", "weight", "target_tokens", "accept_ppm")
        .agg(
            F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("docs_kept"),
            F.sum(F.when(kept, F.col("n_tokens")).otherwise(0))
            .cast("bigint")
            .alias("tokens_kept"),
            F.sum(F.when(kept, F.col("doc_id")).otherwise(0))
            .cast("bigint")
            .alias("kept_id_sum"),
        )
    )


@query(
    "t43_fim_transform",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS t
      FROM documents
    ), sized AS (
      SELECT doc_id, source, t, len(t) AS n
      FROM toks WHERE len(t) >= 3
    ), cuts AS (
      SELECT doc_id, source, t, n,
             1 + ('0x' || substr(md5('fim1:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                 % (n - 2) AS a
      FROM sized
    ), cuts2 AS (
      SELECT doc_id, source, t, n, a,
             a + 1 + ('0x' || substr(md5('fim2:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
                 % (n - a - 1) AS b
      FROM cuts
    ), psm AS (
      SELECT doc_id, source, n, a, b,
             '<PRE> ' || array_to_string(t[1:a], ' ')
             || ' <SUF> ' || array_to_string(t[b+1:n], ' ')
             || ' <MID> ' || array_to_string(t[a+1:b], ' ') AS text_psm
      FROM cuts2
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(a) AS BIGINT) AS pre_tokens,
           CAST(sum(b - a) AS BIGINT) AS mid_tokens,
           CAST(sum(n - b) AS BIGINT) AS suf_tokens,
           CAST(sum(('0x' || substr(md5(text_psm), 1, 8))::BIGINT) AS BIGINT)
             AS psm_checksum
    FROM psm
    GROUP BY source
    """,
)
def t43_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILL-IN-THE-MIDDLE transform (Bavarian et al. 2022, the code-LLM
    pretraining staple): split each document's token stream at two
    content-seeded cut points into (prefix, middle, suffix) and emit
    the PSM reordering ``<PRE> prefix <SUF> suffix <MID> middle`` — the
    infilling objective's training layout, as a corpus-export pass.
    Companion to t38's span corruption (the T5 objective): same
    deterministic-masking discipline, different objective family.

    Cut law (engine-exact): a = 1 + h1 mod (n-2) ∈ [1, n-2],
    b = a + 1 + h2 mod (n-a-1) ∈ [a+1, n-1] (h1/h2 = 'fim1:'/'fim2:'
    salted md5 folds), every segment non-empty for n ≥ 3; docs under 3
    tokens are excluded by a deterministic filter, and both moduli are
    structurally ≥ 1 (n-2 ≥ 1 and, since a ≤ n-2, n-a-1 ≥ 1).  One scan,
    one per-source rollup; the whole transform is witnessed by the
    8-hex md5 fold of every PSM string summed per source (< 2^32 per
    doc, sum-safe to ~2×10⁹ docs) plus exact segment-token sums —
    a single changed token anywhere flips the checksum.  At 100 TB the
    PSM strings stream straight to the export sink; nothing here
    shuffles more than (source) keys.  Reference witness: O1 fission
    (src/Core/MapReduceC.hs:24-25) — a pure per-record rewrite."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", "source", text.tokens("text").alias("t"))
    sized = toks.select("doc_id", "source", "t", F.size("t").alias("n")).filter(
        F.col("n") >= 3
    )
    h1 = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit("fim1"), F.col("doc_id"))), 1, 12),
        16,
        10,
    ).cast("bigint")
    h2 = F.conv(
        F.substring(F.md5(F.concat_ws(":", F.lit("fim2"), F.col("doc_id"))), 1, 12),
        16,
        10,
    ).cast("bigint")
    # moduli are structurally >= 1: n >= 3 makes (n-2) >= 1, and
    # a <= n-2 makes (n-a-1) >= 1 — no degenerate-modulus guard needed
    a = F.lit(1) + h1 % (F.col("n") - 2)
    cuts = sized.select("doc_id", "source", "t", "n", a.alias("a"))
    b = F.col("a") + 1 + h2 % (F.col("n") - F.col("a") - 1)
    cuts2 = cuts.select("doc_id", "source", "t", "n", "a", b.alias("b"))
    psm = cuts2.select(
        "source",
        "n",
        "a",
        "b",
        F.concat(
            F.lit("<PRE> "),
            F.array_join(F.slice("t", 1, F.col("a")), " "),
            F.lit(" <SUF> "),
            F.array_join(
                F.slice("t", F.col("b") + 1, F.col("n") - F.col("b")), " "
            ),
            F.lit(" <MID> "),
            F.array_join(F.slice("t", F.col("a") + 1, F.col("b") - F.col("a")), " "),
        ).alias("text_psm"),
    )
    fold8 = F.conv(F.substring(F.md5("text_psm"), 1, 8), 16, 10).cast("bigint")
    return psm.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("a").cast("bigint").alias("pre_tokens"),
        F.sum(F.col("b") - F.col("a")).cast("bigint").alias("mid_tokens"),
        F.sum(F.col("n") - F.col("b")).cast("bigint").alias("suf_tokens"),
        F.sum(fold8).cast("bigint").alias("psm_checksum"),
    )


@query(
    "t44_epoch_repeat_plan",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source,
             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))
                  AS BIGINT) AS n_tokens
      FROM documents
    ), src AS (
      SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tokens_total
      FROM tok GROUP BY source
    ), w AS (
      SELECT source, tokens_total,
             CAST(floor(sqrt(tokens_total)) AS BIGINT) AS weight
      FROM src
    ), tot AS (
      SELECT CAST(sum(tokens_total) AS BIGINT) AS total_tokens,
             CAST(sum(weight) AS BIGINT) AS sum_w
      FROM w
    ), plan AS (
      SELECT w.source, w.tokens_total, w.weight,
             CAST(((t.total_tokens * 3) * w.weight) // t.sum_w AS BIGINT)
               AS target_tokens
      FROM w, tot t
    )
    SELECT source, tokens_total, weight, target_tokens,
           CAST(least(target_tokens // tokens_total, 4) AS BIGINT) AS epochs_full,
           CAST(CASE WHEN target_tokens // tokens_total >= 4 THEN 0
                     ELSE ((target_tokens % tokens_total) * 1000000) // tokens_total
                END AS BIGINT) AS frac_epoch_ppm,
           CAST(least(target_tokens, 4 * tokens_total) AS BIGINT) AS effective_tokens,
           target_tokens > 4 * tokens_total AS capped
    FROM plan
    """,
)
def t44_epoch_repeat_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EPOCH-REPEAT PLANNING for data-constrained training (the
    Muennighoff et al. 2023 regime): when the token BUDGET exceeds the
    corpus (here budget = 3× total), low-share domains must REPEAT —
    the dual of t42's downsampling (same floor(sqrt) temperature
    weights, shared law).  Per source: target tokens from the smoothed
    allocation, split into full epochs + a fractional-epoch remainder
    in ppm, capped at 4 epochs (past ~4 repeats the marginal value of
    repeated data decays to ~zero in the published scaling fits —
    beyond the cap the budget is simply not spendable on that source,
    surfaced by the `capped` flag and the effective_tokens shortfall).

    All-BIGINT arithmetic end to end (the one double op is t42's
    engine-exact floor(sqrt)); output is n_sources rows off one corpus
    scan + the same tiny totals exchange as t42/t30.  Together
    t42 (budget < supply → sample) and t44 (budget > supply → repeat)
    close the mixture-planning pair every pretraining run consults.
    Reference witness: O2 keyed fold (src/Core/MapReduceC.hs:25-26)."""
    return _t44_plan(_t(spark, sf_dir, "documents"))


def _t44_plan(docs: DataFrame) -> DataFrame:
    """t44's full epoch-plan construction — the shared seam t50's
    export manifest executes (ONE repeat law, two consumers)."""
    tok = _mixture_tok(docs)
    src = tok.groupBy("source").agg(
        F.sum("n_tokens").cast("bigint").alias("tokens_total")
    )
    w = src.select(
        "source",
        "tokens_total",
        F.floor(F.sqrt(F.col("tokens_total").cast("double")))
        .cast("bigint")
        .alias("weight"),
    )
    everything = Window.partitionBy()
    plan = (
        w.select(
            "source",
            "tokens_total",
            "weight",
            F.sum("tokens_total").over(everything).cast("bigint").alias("total_tokens"),
            F.sum("weight").over(everything).cast("bigint").alias("sum_w"),
        )
        .select(
            "source",
            "tokens_total",
            "weight",
            F.expr("cast(((total_tokens * 3) * weight) div sum_w as bigint)").alias(
                "target_tokens"
            ),
        )
    )
    return plan.select(
        "source",
        "tokens_total",
        "weight",
        "target_tokens",
        F.least(F.expr("target_tokens div tokens_total"), F.lit(4))
        .cast("bigint")
        .alias("epochs_full"),
        F.when(F.expr("target_tokens div tokens_total") >= 4, F.lit(0))
        .otherwise(F.expr("((target_tokens % tokens_total) * 1000000L) div tokens_total"))
        .cast("bigint")
        .alias("frac_epoch_ppm"),
        F.least(F.col("target_tokens"), 4 * F.col("tokens_total"))
        .cast("bigint")
        .alias("effective_tokens"),
        (F.col("target_tokens") > 4 * F.col("tokens_total")).alias("capped"),
    )


# =========================================================================
# Round 9: post-training pair construction + topical (in-context) packing
# =========================================================================


def _quality_scored(docs: DataFrame, carry: tuple[str, ...] = ()) -> DataFrame:
    """The committed integer reward signal of the post-training tier —
    type-token ratio in micro-units, ``(n_uniq · 1e6) div n_tok``,
    zero-token docs dropped.  ONE twin of the t45/t49 scoring CTE
    (the _bigram_pairs discipline), returning (source, doc_id, n_tok,
    quality_micro).  ``carry`` appends extra doc columns unchanged
    (t51 carries text so the render never re-scans the corpus);
    the default plan is untouched."""
    toks = text.tokens("text")
    return (
        docs.select(
            "source",
            "doc_id",
            F.size(toks).cast("bigint").alias("n_tok"),
            F.size(F.array_distinct(toks)).cast("bigint").alias("n_uniq"),
            *carry,
        )
        .filter(F.col("n_tok") > 0)
        .select(
            "source",
            "doc_id",
            "n_tok",
            F.expr("(n_uniq * 1000000L) div n_tok").alias("quality_micro"),
            *carry,
        )
    )


def _t45_pairs(
    scored: DataFrame,
    carry: tuple[str, ...] = (),
    keep_degenerate: bool = False,
) -> DataFrame:
    """t45's best-vs-worst pairing law as the ONE seam helper (the
    _quality_scored discipline): per source, rank-i by quality DESC is
    chosen, rank-i by quality ASC is rejected (doc_id tiebreaks,
    i ≤ 5), degenerate pairs dropped.  ``carry`` duplicates extra
    per-doc columns of ``scored`` onto both sides as chosen_<c> /
    rejected_<c> — t51 threads text + n_tok through the
    WindowGroupLimit so the SFT render needs no second corpus scan.
    ``keep_degenerate=True`` returns ALL candidate pairs including
    identical-doc and non-positive-margin ones — t56's health report
    needs to COUNT what the training export drops, not just see the
    survivors (the default path is untouched)."""
    w_top = Window.partitionBy("source").orderBy(
        F.col("quality_micro").desc(), F.col("doc_id").asc()
    )
    w_bot = Window.partitionBy("source").orderBy(
        F.col("quality_micro").asc(), F.col("doc_id").desc()
    )
    top = (
        scored.withColumn("pair_rank", F.row_number().over(w_top).cast("bigint"))
        .filter(F.col("pair_rank") <= 5)
        .select("source", "pair_rank",
                F.col("doc_id").alias("chosen_id"),
                F.col("quality_micro").alias("chosen_q"),
                *[F.col(c).alias(f"chosen_{c}") for c in carry])
    )
    bot = (
        scored.withColumn("pair_rank", F.row_number().over(w_bot).cast("bigint"))
        .filter(F.col("pair_rank") <= 5)
        .select("source", "pair_rank",
                F.col("doc_id").alias("rejected_id"),
                F.col("quality_micro").alias("rejected_q"),
                *[F.col(c).alias(f"rejected_{c}") for c in carry])
    )
    joined = top.join(bot, ["source", "pair_rank"])
    if keep_degenerate:
        return joined
    return joined.filter(
        (F.col("chosen_id") != F.col("rejected_id"))
        & (F.col("chosen_q") > F.col("rejected_q"))
    )


@query(
    "t45_preference_pairs",
    oracle="""
    WITH q AS (
      SELECT source, doc_id,
             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))
                  AS BIGINT) AS n_tok,
             CAST(len(list_distinct(list_filter(regexp_split_to_array(text, '\\s+'),
                                                x -> x != ''))) AS BIGINT) AS n_uniq
      FROM documents
    ), scored AS (
      SELECT source, doc_id, (n_uniq * 1000000) // n_tok AS quality_micro
      FROM q WHERE n_tok > 0
    ), top AS (
      SELECT source, doc_id, quality_micro, rn FROM (
        SELECT *, row_number() OVER (
          PARTITION BY source ORDER BY quality_micro DESC, doc_id ASC) AS rn
        FROM scored
      ) WHERE rn <= 5
    ), bot AS (
      SELECT source, doc_id, quality_micro, rn FROM (
        SELECT *, row_number() OVER (
          PARTITION BY source ORDER BY quality_micro ASC, doc_id DESC) AS rn
        FROM scored
      ) WHERE rn <= 5
    )
    SELECT t.source,
           CAST(t.rn AS BIGINT) AS pair_rank,
           CAST(t.doc_id AS BIGINT) AS chosen_id,
           CAST(b.doc_id AS BIGINT) AS rejected_id,
           CAST(t.quality_micro AS BIGINT) AS chosen_q,
           CAST(b.quality_micro AS BIGINT) AS rejected_q,
           CAST(t.quality_micro - b.quality_micro AS BIGINT) AS margin_micro
    FROM top t JOIN bot b ON b.source = t.source AND b.rn = t.rn
    WHERE t.doc_id != b.doc_id AND t.quality_micro > b.quality_micro
    """,
)
def t45_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PREFERENCE-PAIR CONSTRUCTION — the post-training data op the
    t-series was missing: given a scalar reward over candidate
    responses, a DPO/RLHF-style corpus pairs a high-reward CHOSEN with
    a low-reward REJECTED sample from the same group, with the reward
    margin attached (Rafailov et al. 2023 consume exactly such
    (prompt, chosen, rejected) triples; the source shard plays the
    prompt-group role here).  Reward is a committed integer signal —
    type-token ratio in micro-units, (n_uniq · 1e6) div n_tok, the
    t32/t41 repetition axis — so ranking is integer-deterministic.

    Pairing law: per source, the rank-i doc by reward DESC is chosen,
    the rank-i doc by reward ASC is rejected (doc_id tiebreaks, i ≤ 5),
    degenerate pairs (same doc, or zero margin) dropped — the standard
    best-vs-worst construction that maximizes margin per pair.

    Scale shape: both rankings are ``row_number() <= k`` per-shard
    windows — Spark lowers them to WindowGroupLimit (per-partition
    top-k BEFORE the shuffle, the q98 pin), so state per shard is k
    rows and the join is k·#sources vs k·#sources.  No global sort
    anywhere.  Reference witness: O2 keyed fold + O1 re-key
    (src/Core/MapReduceC.hs:24-26)."""
    docs = _t(spark, sf_dir, "documents")
    scored = _quality_scored(docs).select("source", "doc_id", "quality_micro")
    return _t45_pairs(scored).select(
        "source", "pair_rank", "chosen_id", "rejected_id",
        "chosen_q", "rejected_q",
        (F.col("chosen_q") - F.col("rejected_q")).alias("margin_micro"),
    )


def _t46_oracle() -> str:
    from mapreducehs_spark.queries.s_similarity import _KMEANS_A2_CTES

    return (
        _KMEANS_A2_CTES
        + f"""
    , toks AS (
      SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))
                  AS BIGINT) + 1 AS w
      FROM documents
    ), j AS (
      SELECT a2.cid AS cluster, t.doc_id, t.w
      FROM a2 JOIN toks t ON t.doc_id = a2.vec_id
    ), starts AS (
      SELECT cluster, doc_id, w,
             CAST(sum(w) OVER (PARTITION BY cluster ORDER BY doc_id) - w AS BIGINT)
               AS start
      FROM j
    ), x AS (
      SELECT cluster, doc_id, w, start, s.seq_id
      FROM starts,
           LATERAL unnest(range(start // {_T40_CTX},
                                (start + w - 1) // {_T40_CTX} + 1)) s(seq_id)
    )
    SELECT CAST(cluster AS BIGINT) AS cluster,
           CAST(seq_id AS BIGINT) AS seq_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc,
           CAST(sum(CASE WHEN (start + w - 1) // {_T40_CTX} = seq_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_eos,
           CAST(sum(least(start + w, (seq_id + 1) * {_T40_CTX})
                    - greatest(start, seq_id * {_T40_CTX})) AS BIGINT) AS n_fill,
           CAST(sum(least(start + w, (seq_id + 1) * {_T40_CTX})
                    - greatest(start, seq_id * {_T40_CTX}))
                * 1000000 // {_T40_CTX} AS BIGINT) AS fill_micro
    FROM x
    GROUP BY cluster, seq_id
    """
    )


@query("t46_topical_packing", oracle=_t46_oracle())
def t46_topical_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOPICAL (in-context) SEQUENCE PACKING — related documents packed
    into the SAME context windows, the in-context-pretraining recipe
    (Shi et al. 2024: grouping semantically related docs per window
    beats random concatenation): documents are clustered by embedding
    with s05's EXACT 2-iteration Lloyd trajectory
    (operators/similarity.kmeans_assignments — same seeds, same
    updates; the oracle reuses s05's _KMEANS_A2_CTES verbatim), then
    each cluster's docs are packed doc_id-ordered into _T40_CTX-token
    windows under t40's arithmetic law (EOS separators, interval-
    intersection fill).

    The per-cluster offsets come from the round-9 seam
    ``sampling.grouped_prefix_sums`` — global two-phase prefix
    sums over (cluster, doc_id) minus each cluster's broadcast base
    offset.  With k=8 clusters over 100 TB, a
    ``sum() OVER (PARTITION BY cluster ORDER BY doc_id)`` window would
    put an eighth of the corpus on ONE task; the grouped seam keeps the
    heavy data range-distributed and ships only k base offsets.  Plan:
    one corpus scan + one embeddings scan, the assignment matmul
    (scan-shaped Arrow, no shuffle), the doc_id equi-join, the range
    exchange, the (cluster, seq_id) hash agg — window-free.
    Reference witness: O1 fission + O2 ordered fold
    (src/Core/MapReduceC.hs:24-26)."""
    with materialize(spark) as m:
        return m.result(_t46_build(m, sf_dir))


def _t46_build(m: Materialization, sf_dir: str) -> DataFrame:
    """t46 pre-checkpoint builder (q107/t40 discipline: plan pins
    inspect THIS; the query checkpoints so the caches can be freed)."""
    from mapreducehs_spark.operators.sampling import grouped_prefix_sums
    from mapreducehs_spark.operators.similarity import kmeans_assignments

    C = _T40_CTX
    emb = _t(m.spark, sf_dir, "embeddings")
    assign = kmeans_assignments(m, emb, k=8, iters=2)
    docs = _t(m.spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        (F.size(text.tokens("text")).cast("bigint") + F.lit(1)).alias("w"),
    ).join(
        assign.select(F.col("id").alias("doc_id"), "cluster"), "doc_id"
    ).select("cluster", "doc_id", "w")
    starts = grouped_prefix_sums(m, keyed, ["cluster"], ["doc_id"], "w", out_col="start")
    x = starts.select(
        "cluster",
        "doc_id",
        "w",
        "start",
        F.explode_outer(
            F.expr(f"sequence(start div {C}, (start + w - 1) div {C})")
        ).alias("seq_id"),
    ).filter(F.col("seq_id").isNotNull())
    fill = F.least(
        F.col("start") + F.col("w"), (F.col("seq_id") + 1) * C
    ) - F.greatest(F.col("start"), F.col("seq_id") * C)
    return (
        x.select(
            "cluster",
            "doc_id",
            "seq_id",
            fill.alias("__fill"),
            (F.expr(f"(start + w - 1) div {C}") == F.col("seq_id"))
            .cast("bigint")
            .alias("__eos"),
        )
        .groupBy("cluster", "seq_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
            F.sum("__eos").cast("bigint").alias("n_eos"),
            F.sum("__fill").cast("bigint").alias("n_fill"),
        )
        .select(
            F.col("cluster").cast("bigint").alias("cluster"),
            "seq_id",
            "n_docs",
            "first_doc",
            "last_doc",
            "n_eos",
            "n_fill",
            F.expr(f"cast((n_fill * 1000000L) div {C} as bigint)").alias(
                "fill_micro"
            ),
        )
    )


# =========================================================================
# Round 9 (19): HTML/boilerplate extraction
# =========================================================================

_T47_ORACLE = r"""
    WITH injected AS (
      SELECT source, text,
             '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || '</title>'
             || CASE WHEN doc_id % 4 = 0
                     THEN '<script type="text/javascript">var t='
                          || CAST(doc_id AS VARCHAR) || ';</script>'
                     ELSE '' END
             || CASE WHEN doc_id % 5 = 0
                     THEN '<style>p{margin:' || CAST(doc_id % 7 AS VARCHAR) || 'px}</style>'
                     ELSE '' END
             || '</head><body><nav><a href="/home">Home</a> | <a href="/s/'
             || CAST(doc_id % 10 AS VARCHAR) || '">Hub</a></nav>'
             || '<h1>Shard ' || CAST(doc_id % 7 AS VARCHAR) || '</h1><p>'
             || replace(replace(text, ' and ', ' &amp; '), ' the ', ' <b>the</b> ')
             || '</p><footer>&copy; 2026 Example &mdash; <a href="/terms">Terms</a></footer></body></html>'
             AS html
      FROM documents
    ), extracted AS (
      SELECT source, html,
             regexp_replace(regexp_replace(regexp_replace(
               replace(
                 regexp_replace(regexp_replace(
                   regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                     html,
                     '(?s)<script[^>]*>.*?</script>', '', 'g'),
                     '(?s)<style[^>]*>.*?</style>', '', 'g'),
                     '(?s)<nav>.*?</nav>', '', 'g'),
                     '(?s)<footer>.*?</footer>', '', 'g'),
                   '</(p|h1|title)>', chr(10), 'g'),
                   '<[^>]*>', '', 'g'),
                 '&amp;', '&'),
               '[ 	]+', ' ', 'g'),
               ' *
 *', chr(10), 'g'),
               '^\s+|\s+$', '', 'g') AS clean
      FROM injected
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(html)) AS BIGINT) AS raw_chars,
           CAST(sum(len(clean)) AS BIGINT) AS kept_chars,
           CAST(sum(len(list_filter(regexp_split_to_array(clean, '\s+'),
                                    x -> x != ''))) AS BIGINT) AS kept_tokens,
           CAST((sum(len(clean)) * 1000) // sum(len(html)) AS BIGINT) AS kept_permille,
           CAST(sum(('0x' || substr(md5(clean), 1, 12))::BIGINT) AS BIGINT) AS clean_fold
    FROM extracted
    GROUP BY source
"""


def _t47_html_wrap(docs: DataFrame) -> Column:
    """t47's deterministic markup injection: the synthetic corpus is
    clean text, so the crawl artifact every real pipeline starts from
    (tags, script/style payloads, nav/footer boilerplate, entities) is
    derived from doc_id + text so both engines replay it bit-for-bit —
    the t16 injection discipline applied to markup."""
    did = F.col("doc_id")
    return F.concat(
        F.lit("<html><head><title>Doc "), did.cast("string"), F.lit("</title>"),
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit('<script type="text/javascript">var t='),
                did.cast("string"),
                F.lit(";</script>"),
            ),
        ).otherwise(""),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit("<style>p{margin:"), (did % 7).cast("string"), F.lit("px}</style>")
            ),
        ).otherwise(""),
        F.lit('</head><body><nav><a href="/home">Home</a> | <a href="/s/'),
        (did % 10).cast("string"),
        F.lit('">Hub</a></nav>'),
        F.lit("<h1>Shard "),
        (did % 7).cast("string"),
        F.lit("</h1><p>"),
        F.replace(
            F.replace(F.col("text"), F.lit(" and "), F.lit(" &amp; ")),
            F.lit(" the "),
            F.lit(" <b>the</b> "),
        ),
        F.lit(
            '</p><footer>&copy; 2026 Example &mdash; <a href="/terms">Terms</a>'
            "</footer></body></html>"
        ),
    )


def _t47_extract(html: Column) -> Column:
    """The committed extraction law (strip script/style WITH payload,
    drop nav/footer boilerplate blocks, preserve block boundaries as
    newlines, strip remaining tags, decode entities, collapse
    whitespace, trim).  Every pass is a codegen'd regexp in the
    Java∩RE2 subset (t16's oracle discipline) — the whole law replays
    in DuckDB including the extracted BYTES."""
    h = F.regexp_replace(html, r"(?s)<script[^>]*>.*?</script>", "")
    h = F.regexp_replace(h, r"(?s)<style[^>]*>.*?</style>", "")
    h = F.regexp_replace(h, r"(?s)<nav>.*?</nav>", "")
    h = F.regexp_replace(h, r"(?s)<footer>.*?</footer>", "")
    h = F.regexp_replace(h, r"</(p|h1|title)>", "\n")
    h = F.regexp_replace(h, r"<[^>]*>", "")
    h = F.replace(h, F.lit("&amp;"), F.lit("&"))
    h = F.regexp_replace(h, "[ \t]+", " ")
    h = F.regexp_replace(h, " *\n *", "\n")
    return F.regexp_replace(h, r"^\s+|\s+$", "")


@query("t47_html_extract", oracle=_T47_ORACLE)
def t47_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → text extraction with boilerplate removal — the step every
    crawl-derived corpus runs BEFORE any other text op here (CCNet,
    Gopher, RefinedWeb all start from markup; trafilatura/jusText are
    the reference tools).  The committed law: script/style payloads and
    nav/footer boilerplate blocks are DROPPED (their bytes never reach
    the corpus), block-level closes become newlines (paragraph
    structure survives tag stripping), entities decode, whitespace
    collapses.  Per-source accounting reports the retained-byte and
    retained-token rates (kept_permille is the boilerplate-overhead
    audit) and an md5-fold that pins the extracted output byte-for-byte.

    Scale shape: ZERO UDF — markup injection and the 10-pass extraction
    chain are all codegen'd string/regexp expressions fused into the
    scan projection (one WholeStageCodegen span), and the only shuffle
    is the n_sources-row rollup.  At 100 TB this is the ideal operator
    class: embarrassingly parallel scan work whose output is a
    fraction of its input.  Reference witness: O1 mapper fission
    (src/Core/MapReduceC.hs:24-26) — per-record rewrite, keyed fold."""
    docs = _t(spark, sf_dir, "documents")
    injected = docs.select("source", _t47_html_wrap(docs).alias("html"))
    frame = injected.select(
        "source",
        F.length("html").alias("raw_len"),
        _t47_extract(F.col("html")).alias("clean"),
    )
    fold = F.conv(F.substring(F.md5("clean"), 1, 12), 16, 10).cast("bigint")
    return (
        frame.select(
            "source",
            "raw_len",
            F.length("clean").alias("kept_len"),
            F.size(text.tokens("clean")).cast("bigint").alias("n_tok"),
            fold.alias("fold"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("raw_len").cast("bigint").alias("raw_chars"),
            F.sum("kept_len").cast("bigint").alias("kept_chars"),
            F.sum("n_tok").cast("bigint").alias("kept_tokens"),
            F.expr("(sum(kept_len) * 1000L) div sum(raw_len)")
            .cast("bigint")
            .alias("kept_permille"),
            F.sum("fold").alias("clean_fold"),
        )
    )


# =========================================================================
# Round 9 (20): tokenizer fertility + quality-decile corpus profile
# =========================================================================


def _t48_oracle() -> str:
    """The shared merge-replay chain carrying (source, n_chars,
    n_words) through the encode, ending in the per-source fertility
    report."""
    t0_cols = (
        "source, len(text) AS n_chars,\n"
        "             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'),"
        " x -> x != '')) AS BIGINT) AS n_words"
    )
    tail = """
    , enc AS (
      SELECT source, n_chars, n_words,
             list_filter(str_split(trim(s), ' '), x -> x != '') AS syms
      FROM t3
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS n_chars,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           CAST(sum(len(syms)) AS BIGINT) AS n_symbols,
           CAST((sum(len(syms)) * 1000) // sum(n_words) AS BIGINT) AS fertility_milli,
           CAST((sum(n_chars) * 1000) // sum(len(syms)) AS BIGINT) AS chars_per_token_milli
    FROM enc GROUP BY source"""
    return _t22_merge_ctes(t0_cols=t0_cols, carry="source, n_chars, n_words") + tail


@query("t48_tokenizer_fertility", oracle=_t48_oracle())
def t48_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOKENIZER FERTILITY REPORT — the mixture-design input every
    multilingual/multi-domain budget needs: after encoding with the
    learned tokenizer, how many tokens does each source cost per word
    and per character?  High-fertility sources (poorly covered by the
    merges) consume disproportionate context-window budget, so mixture
    weights (t42) and epoch plans (t44) are routinely corrected by
    exactly this table (fertility is the standard metric — tokens per
    word; chars-per-token is its compression dual).

    Laws: encode = t18's 3 learned merges applied via the shared
    ``_t22_syms`` chain (the SAME model t22 reports on — one twin);
    fertility_milli = (Σsymbols · 1000) div Σwords, chars_per_token in
    the same truncating-milli form — all BIGINT after the encode, so
    the report value-checks bit-for-bit while the oracle replays
    learning AND encoding end to end.

    Scale shape: identical to t22 — the merge table is driver-held
    (s05 model discipline) and broadcasts as literal replaces, so the
    encode is pure scan-shaped projection work; the only shuffle is
    the n_sources-row rollup.  Reference witness: O1 per-record
    rewrite + O2 keyed fold (src/Core/MapReduceC.hs:24-26)."""
    docs = _t(spark, sf_dir, "documents")
    enc = docs.select(
        "source",
        F.length("text").cast("bigint").alias("n_chars_doc"),
        F.size(text.tokens("text")).cast("bigint").alias("n_words_doc"),
        _t22_syms(docs).alias("syms"),
    )
    return enc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars_doc").cast("bigint").alias("n_chars"),
        F.sum("n_words_doc").cast("bigint").alias("n_words"),
        F.sum(F.size("syms")).cast("bigint").alias("n_symbols"),
        F.expr("(sum(size(syms)) * 1000L) div sum(n_words_doc)")
        .cast("bigint")
        .alias("fertility_milli"),
        F.expr("(sum(n_chars_doc) * 1000L) div sum(size(syms))")
        .cast("bigint")
        .alias("chars_per_token_milli"),
    )


_T49_ORACLE = """
    WITH q AS (
      SELECT source, doc_id,
             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))
                  AS BIGINT) AS n_tok,
             CAST(len(list_distinct(list_filter(regexp_split_to_array(text, '\\s+'),
                                                x -> x != ''))) AS BIGINT) AS n_uniq
      FROM documents
    ), scored AS (
      SELECT source, doc_id, n_tok, (n_uniq * 1000000) // n_tok AS quality_micro
      FROM q WHERE n_tok > 0
    ), ranked AS (
      SELECT source, n_tok, quality_micro,
             row_number() OVER (PARTITION BY source
                                ORDER BY quality_micro ASC, doc_id ASC) - 1 AS rank0,
             count(*) OVER (PARTITION BY source) AS n_src
      FROM scored
    )
    SELECT source,
           CAST((rank0 * 10) // n_src AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           CAST(min(quality_micro) AS BIGINT) AS q_min,
           CAST(max(quality_micro) AS BIGINT) AS q_max
    FROM ranked GROUP BY 1, 2
"""


def _t49_build(m: Materialization, sf_dir: str) -> DataFrame:
    """t49's pre-checkpoint frame (q107 pin recipe)."""
    from mapreducehs_spark.operators.sampling import grouped_prefix_sums

    docs = _t(m.spark, sf_dir, "documents")
    scored = _quality_scored(docs).withColumn("__one", F.lit(1).cast("long"))
    ranked = grouped_prefix_sums(
        m, scored, ["source"], ["quality_micro", "doc_id"], "__one", out_col="rank0"
    )
    sizes = scored.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    return (
        ranked.join(F.broadcast(sizes), "source")
        .select(
            "source",
            F.expr("(rank0 * 10) div n_src").cast("bigint").alias("decile"),
            "n_tok",
            "quality_micro",
        )
        .groupBy("source", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
            F.min("quality_micro").cast("bigint").alias("q_min"),
            F.max("quality_micro").cast("bigint").alias("q_max"),
        )
    )


@query("t49_quality_deciles", oracle=_T49_ORACLE)
def t49_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-DECILE CORPUS PROFILE — the threshold-picking table of a
    curation pipeline: per source, docs are ranked by the committed
    integer quality signal (the t45 ``_quality_scored`` twin) and
    bucketed into EXACT rank deciles; each (source, decile) row carries
    doc count, token mass, and the quality range.  This is how a cutoff
    is actually chosen ("drop the bottom two deciles of source X costs
    N tokens") — percentile SKETCHES (q41) can't answer the token-mass
    question, and a classifier threshold (t26) presumes the label this
    table is used to set.

    Laws: rank0 = #docs strictly before (quality_micro, doc_id) within
    the source; decile = (rank0 · 10) div n_src — all-integer, so the
    stratification value-checks bit-for-bit.

    Scale shape: the oracle ranks with a per-source window, the engine
    does NOT — rank0 comes from the grouped prefix-sum seam
    (range-exchange global prefix sums on (source, quality, doc_id)
    minus a broadcast per-source base; a bare PARTITION BY source
    window puts a whole source — a terabyte shard — on one task); the
    n_sources-row size frame broadcasts.  Window-free plan-pinned.
    Reference witness: O2 ordered keyed fold (src/Core/MapReduceC.hs:
    24-26)."""
    with materialize(spark) as m:
        return m.result(_t49_build(m, sf_dir))


# =========================================================================
# Round 9 (21): per-epoch shuffle manifest (t44's plan, executed)
# =========================================================================

#: t50 shard width in tokens (contiguous token ranges of the permuted
#: epoch order — t33's balanced-shard posture at the epoch level).
_T50_SHARD = 16384

_T50_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, source,
             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))
                  AS BIGINT) AS n_tokens
      FROM documents
    ), src AS (
      SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tokens_total
      FROM tok GROUP BY source
    ), w AS (
      SELECT source, tokens_total,
             CAST(floor(sqrt(tokens_total)) AS BIGINT) AS weight
      FROM src
    ), tot AS (
      SELECT CAST(sum(tokens_total) AS BIGINT) AS total_tokens,
             CAST(sum(weight) AS BIGINT) AS sum_w
      FROM w
    ), plan AS (
      SELECT w.source, w.tokens_total,
             CAST(((t.total_tokens * 3) * w.weight) // t.sum_w AS BIGINT)
               AS target_tokens
      FROM w, tot t
    ), eplan AS (
      SELECT source, tokens_total,
             least(target_tokens // tokens_total, 4) AS epochs_full,
             CASE WHEN target_tokens // tokens_total >= 4 THEN 0
                  ELSE ((target_tokens % tokens_total) * 1000000) // tokens_total
             END AS frac_ppm
      FROM plan
    ), epochs AS (
      SELECT source, tokens_total, epochs_full, frac_ppm,
             epochs_full + CASE WHEN frac_ppm > 0 THEN 1 ELSE 0 END AS n_epochs
      FROM eplan
    ), exploded AS (
      SELECT t.doc_id, t.source, t.n_tokens,
             e.tokens_total, e.epochs_full, e.frac_ppm, u.e AS epoch,
             ('0x' || substr(md5(CAST(t.doc_id AS VARCHAR) || ':t50:'
                                 || CAST(u.e AS VARCHAR)), 1, 12))::BIGINT AS k
      FROM tok t JOIN epochs e ON e.source = t.source,
           LATERAL unnest(range(1, e.n_epochs + 1)) AS u(e)
      WHERE t.n_tokens > 0
    ), pref AS (
      SELECT source, epoch, n_tokens, epochs_full, frac_ppm, tokens_total,
             coalesce(sum(n_tokens) OVER (
               PARTITION BY source, epoch ORDER BY k ASC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
      FROM exploded
    ), kept AS (
      SELECT * FROM pref
      WHERE epoch <= epochs_full OR start * 1000000 < frac_ppm * tokens_total
    )
    SELECT source,
           CAST(epoch AS BIGINT) AS epoch,
           CAST(start // {_T50_SHARD} AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS n_tokens
    FROM kept GROUP BY 1, 2, 3
"""


def _t50_build(m: Materialization, sf_dir: str) -> DataFrame:
    """t50's pre-checkpoint frame (q107 pin recipe)."""
    from mapreducehs_spark.operators.sampling import grouped_prefix_sums

    docs = _t(m.spark, sf_dir, "documents")
    tok = _mixture_tok(docs).filter(F.col("n_tokens") > 0)
    eplan = _t44_plan(docs).select(
        "source",
        "tokens_total",
        "epochs_full",
        F.col("frac_epoch_ppm").alias("frac_ppm"),
        (
            F.col("epochs_full")
            + (F.col("frac_epoch_ppm") > 0).cast("bigint")
        ).alias("n_epochs"),
    )
    # sequence(1, 0) DESCENDS (verify-skill recipe): guard n_epochs >= 1
    exploded = (
        tok.join(F.broadcast(eplan), "source")
        .filter(F.col("n_epochs") >= 1)
        .select(
            "doc_id",
            "source",
            "n_tokens",
            "tokens_total",
            "epochs_full",
            "frac_ppm",
            F.explode_outer(F.sequence(F.lit(1), F.col("n_epochs"))).alias("epoch"),
        )
        .filter(F.col("epoch").isNotNull())
        .withColumn(
            "k",
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("doc_id").cast("string"),
                                   F.lit(":t50:"),
                                   F.col("epoch").cast("string"))),
                    1,
                    12,
                ),
                16,
                10,
            ).cast("bigint"),
        )
    )
    pref = grouped_prefix_sums(
        m, exploded, ["source", "epoch"], ["k", "doc_id"], "n_tokens", out_col="start"
    )
    kept = pref.filter(
        (F.col("epoch") <= F.col("epochs_full"))
        | (F.col("start") * 1000000 < F.col("frac_ppm") * F.col("tokens_total"))
    )
    return (
        kept.select(
            "source",
            F.col("epoch").cast("bigint").alias("epoch"),
            F.expr(f"start div {_T50_SHARD}").cast("bigint").alias("shard"),
            "n_tokens",
        )
        .groupBy("source", "epoch", "shard")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        )
    )


@query("t50_epoch_shuffle_manifest", oracle=_T50_ORACLE)
def t50_epoch_shuffle_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-EPOCH SHUFFLE MANIFEST — t44's repeat plan EXECUTED: the
    exporter of a data-constrained run must materialize each source's
    epochs as independently-shuffled shard sequences (same data, fresh
    order per epoch — what "epoch" means to the trainer), and the
    fractional last epoch must take a token-exact prefix of the
    permuted order, not a doc-count approximation.

    Committed laws: epoch permutation key = salted md5 fold of
    (doc_id, ':t50:', epoch) — reproducible under re-sharding (q37's
    property) and independent across epochs; a doc's epoch-e start
    offset = exclusive prefix sum of token counts in (key, doc_id)
    order within (source, epoch); the partial epoch keeps docs while
    start·1e6 < frac_ppm·tokens_total (t44's ppm law made token-exact);
    shards are contiguous _T50_SHARD-token (16384) ranges of the
    permuted order (t33's balanced-shard posture).  Empty docs never
    ship.

    Scale shape: the n_sources-row plan broadcasts onto the token
    projection; the epoch explode multiplies rows by ≤ 4 (the t44
    cap); offsets come from the grouped prefix-sum seam (range
    exchange on (source, epoch, key, doc_id) + broadcast bases —
    never a per-(source, epoch) window); output is linear in
    total-epoch-tokens / _T50_SHARD.  Window-free plan-pinned.
    Reference witness: O1 fission + O2 ordered keyed fold
    (src/Core/MapReduceC.hs:24-26)."""
    with materialize(spark) as m:
        return m.result(_t50_build(m, sf_dir))


# =========================================================================
# Round 10: post-training export (SFT assembly + rejection sampling)
# =========================================================================


_T51_SYSTEM = "You are a careful rewriting assistant."

#: t51's fixed chat-template literals (ChatML-style markers).  The
#: PREFIX covers everything whose tokens are loss-MASKED (system turn,
#: user turn, assistant header); the RESPONSE (chosen text + end
#: marker) is the trained span.  The prefix ends with a newline, so
#: whitespace tokenization never glues a prefix token to a response
#: token and masked + trained == tokens(rendered) exactly.
_T51_ORACLE = """
    WITH q AS (
      SELECT source, doc_id, text,
             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))
                  AS BIGINT) AS n_tok,
             CAST(len(list_distinct(list_filter(regexp_split_to_array(text, '\\s+'),
                                                x -> x != ''))) AS BIGINT) AS n_uniq
      FROM documents
    ), scored AS (
      SELECT source, doc_id, text, (n_uniq * 1000000) // n_tok AS quality_micro
      FROM q WHERE n_tok > 0
    ), top AS (
      SELECT source, doc_id, text, quality_micro, rn FROM (
        SELECT *, row_number() OVER (
          PARTITION BY source ORDER BY quality_micro DESC, doc_id ASC) AS rn
        FROM scored
      ) WHERE rn <= 5
    ), bot AS (
      SELECT source, doc_id, text, quality_micro, rn FROM (
        SELECT *, row_number() OVER (
          PARTITION BY source ORDER BY quality_micro ASC, doc_id DESC) AS rn
        FROM scored
      ) WHERE rn <= 5
    ), pairs AS (
      SELECT t.source, t.rn AS pair_rank, t.text AS chosen_text,
             b.text AS rejected_text
      FROM top t JOIN bot b ON b.source = t.source AND b.rn = t.rn
      WHERE t.doc_id != b.doc_id AND t.quality_micro > b.quality_micro
    ), rendered AS (
      SELECT source, pair_rank,
             '<|im_start|>system' || chr(10)
               || 'You are a careful rewriting assistant.<|im_end|>' || chr(10)
               || '<|im_start|>user' || chr(10)
               || 'Rewrite sample ' || CAST(pair_rank AS VARCHAR) || ' from '
               || source || ' to higher quality:' || chr(10)
               || rejected_text || '<|im_end|>' || chr(10)
               || '<|im_start|>assistant' || chr(10) AS prefix,
             chosen_text || '<|im_end|>' AS response
      FROM pairs
    ), spans AS (
      SELECT source,
             CAST(len(list_filter(regexp_split_to_array(prefix, '\\s+'),
                                  x -> x != '')) AS BIGINT) AS masked,
             CAST(len(list_filter(regexp_split_to_array(response, '\\s+'),
                                  x -> x != '')) AS BIGINT) AS trained,
             ('0x' || substr(md5(prefix || response), 1, 12))::BIGINT AS fold
      FROM rendered
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_examples,
           CAST(sum(masked) AS BIGINT) AS masked_tokens,
           CAST(sum(trained) AS BIGINT) AS trained_tokens,
           CAST(sum(masked + trained) AS BIGINT) AS total_tokens,
           CAST(sum(trained) * 1000000 // sum(masked + trained) AS BIGINT)
             AS trained_share_ppm,
           CAST(max(masked + trained) AS BIGINT) AS max_seq_tokens,
           CAST(sum(fold) AS BIGINT) AS template_fold
    FROM spans
    GROUP BY source
"""


def _t51_rendered(docs: DataFrame) -> DataFrame:
    """t51's render stage: t45's pairs (text carried through the
    WindowGroupLimit via the _t45_pairs seam) → (source, pair_rank,
    prefix, response) chat-template strings, pure codegen concat."""
    scored = _quality_scored(docs, carry=("text",)).select(
        "source", "doc_id", "quality_micro", "text"
    )
    pairs = _t45_pairs(scored, carry=("text",))
    nl = F.lit("\n")
    prefix = F.concat(
        F.lit("<|im_start|>system"), nl,
        F.lit(_T51_SYSTEM + "<|im_end|>"), nl,
        F.lit("<|im_start|>user"), nl,
        F.lit("Rewrite sample "), F.col("pair_rank").cast("string"),
        F.lit(" from "), F.col("source"), F.lit(" to higher quality:"), nl,
        F.col("rejected_text"), F.lit("<|im_end|>"), nl,
        F.lit("<|im_start|>assistant"), nl,
    )
    response = F.concat(F.col("chosen_text"), F.lit("<|im_end|>"))
    return pairs.select(
        "source", "pair_rank",
        prefix.alias("prefix"), response.alias("response"),
    )


@query("t51_sft_assembly", oracle=_T51_ORACLE)
def t51_sft_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT / CHAT-TEMPLATE ASSEMBLY — the export step every
    instruction-tuning pipeline runs on preference data: render each
    t45 pair into a deterministic chat template (fixed ChatML-style
    literal markers; system turn, user turn asking to rewrite the
    REJECTED text, assistant turn carrying the CHOSEN text) and emit
    the per-turn LOSS-MASK SPAN arithmetic — prompt tokens masked,
    response tokens trained — as per-source masked/trained token
    accounting (Ouyang et al. 2022's SFT recipe; the loss mask is what
    separates chat SFT from plain LM finetuning).

    Span law: the template prefix (system + user + assistant header)
    ends with a newline, so under whitespace tokenization
    masked + trained == tokens(rendered) EXACTLY — the mask boundary
    is an integer token offset, never a character heuristic
    (test_plans pins the conservation).  ``template_fold`` (md5 fold
    of each fully-rendered example, summed) proves both engines built
    byte-identical strings, not just matching counts — the whole
    render replays in DuckDB as string concat + chr(10).

    Scale shape: t45's WindowGroupLimit pair plan with text carried
    through the top-k (k·n_sources rows after the limit — the corpus
    never re-scans for the render); the render + span count is one
    codegen projection over ≤ 5·n_sources rows; output is the
    n_sources rollup.  Zero Python UDFs.  Reference witness: O1
    per-record rewrite + O2 keyed fold (src/Core/MapReduceC.hs:24-26)."""
    docs = _t(spark, sf_dir, "documents")
    rendered = _t51_rendered(docs)
    toks_of = lambda c: F.size(text.tokens(c)).cast("bigint")  # noqa: E731
    spans = rendered.select(
        "source",
        toks_of("prefix").alias("masked"),
        toks_of("response").alias("trained"),
        F.conv(
            F.substring(F.md5(F.concat(F.col("prefix"), F.col("response"))), 1, 12),
            16, 10,
        ).cast("bigint").alias("fold"),
    )
    return spans.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_examples"),
        F.sum("masked").cast("bigint").alias("masked_tokens"),
        F.sum("trained").cast("bigint").alias("trained_tokens"),
        F.sum(F.col("masked") + F.col("trained")).cast("bigint").alias("total_tokens"),
        F.expr("CAST(sum(trained) * 1000000 div sum(masked + trained) AS BIGINT)")
        .alias("trained_share_ppm"),
        F.max(F.col("masked") + F.col("trained")).cast("bigint").alias("max_seq_tokens"),
        F.sum("fold").cast("bigint").alias("template_fold"),
    )


def _t52_groups(docs: DataFrame) -> DataFrame:
    """t52's prompt-group sample draw as the ONE seam helper (the
    _t45_pairs discipline; t58 rides the identical groups): docs hash
    into prompt groups (doc_id mod 64 within source), each group's
    candidate budget n_g varies 2..8 by a salted md5 fold of the group
    key, and the draw keeps the first n_g docs in doc_id order — the
    constant ``rn_sample <= 8`` cap lowers to WindowGroupLimit before
    the (source, gid) exchange, the exact n_g filter runs on the <= 8
    survivors."""
    gn = (
        _quality_scored(docs)
        .withColumn("gid", (F.col("doc_id") % 64).cast("bigint"))
        .withColumn(
            "n_g",
            2
            + F.conv(
                F.substring(
                    F.md5(F.concat(F.col("source"), F.lit(":"),
                                   F.col("gid").cast("string"), F.lit(":t52"))),
                    1, 12,
                ),
                16, 10,
            ).cast("bigint") % 7,
        )
    )
    w_samp = Window.partitionBy("source", "gid").orderBy(F.col("doc_id").asc())
    return (
        gn.withColumn("rn_sample", F.row_number().over(w_samp))
        .filter(F.col("rn_sample") <= 8)  # constant cap -> WindowGroupLimit
        .filter(F.col("rn_sample") <= F.col("n_g"))
    )


#: the q → scored → gn → samp CTE chain shared verbatim by t52's and
#: t58's oracles — the SQL mirror of the `_t52_groups` seam.
_T52_GROUP_CTES = """
    WITH q AS (
      SELECT source, doc_id,
             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))
                  AS BIGINT) AS n_tok,
             CAST(len(list_distinct(list_filter(regexp_split_to_array(text, '\\s+'),
                                                x -> x != ''))) AS BIGINT) AS n_uniq
      FROM documents
    ), scored AS (
      SELECT source, doc_id, n_tok, (n_uniq * 1000000) // n_tok AS quality_micro
      FROM q WHERE n_tok > 0
    ), gn AS (
      SELECT *, doc_id % 64 AS gid,
             2 + ('0x' || substr(md5(source || ':' || CAST(doc_id % 64 AS VARCHAR)
                                     || ':t52'), 1, 12))::BIGINT % 7 AS n_g
      FROM scored
    ), samp AS (
      SELECT * FROM (
        SELECT *, row_number() OVER (
          PARTITION BY source, gid ORDER BY doc_id ASC) AS rn_sample
        FROM gn
      ) WHERE rn_sample <= n_g
    )"""

_T52_ORACLE = _T52_GROUP_CTES + """
    , ranked AS (
      SELECT *, row_number() OVER (
        PARTITION BY source, gid ORDER BY quality_micro DESC, doc_id ASC) AS rn_best
      FROM samp
    ), pg AS (
      SELECT source, gid,
             CAST(count(*) AS BIGINT) AS n_cand,
             CAST(sum(n_tok) AS BIGINT) AS tok_sum,
             max(CASE WHEN rn_best = 1 THEN quality_micro END) AS best_q,
             max(CASE WHEN rn_best = 2 THEN quality_micro END) AS second_q,
             max(CASE WHEN rn_best = 1 THEN n_tok END) AS best_tok
      FROM ranked GROUP BY 1, 2
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(n_cand) AS BIGINT) AS n_candidates,
           CAST(sum(n_cand) - count(*) AS BIGINT) AS n_dropped,
           CAST(sum(best_tok) AS BIGINT) AS kept_tokens,
           CAST(sum(tok_sum - best_tok) AS BIGINT) AS dropped_tokens,
           CAST(sum(best_q) AS BIGINT) AS kept_q_micro,
           CAST(sum(coalesce(best_q - second_q, 0)) AS BIGINT) AS margin_micro
    FROM pg GROUP BY source
"""


@query("t52_rejection_sampling", oracle=_T52_ORACLE)
def t52_rejection_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BEST-OF-N REJECTION SAMPLING — the other half of the
    post-training export tier (Bai et al. 2022 / Llama-2's SFT
    bootstrapping: sample n candidates per prompt, keep the
    argmax-of-n under the reward model, train on the survivors): docs
    hash into prompt groups (doc_id mod 64 within source — the group
    plays the prompt role, its members the sampled candidates), each
    group's candidate budget n varies 2..8 by a salted md5 fold of the
    group key (real pipelines vary n per prompt by difficulty), and
    the committed reward is the t45/t49 ``_quality_scored`` twin —
    ONE scoring law across the whole post-training tier.

    Selection law: candidates are the first n docs in doc_id order
    (the deterministic "sample draw"); the keeper is argmax
    quality_micro with min-doc_id tiebreak; the per-group margin is
    best minus runner-up (the rejection-sampling confidence signal).
    Per-source report: groups, candidates, dropped count, kept/dropped
    token mass, kept reward mass, summed margin.

    Scale shape: the sample-draw window is ``row_number() <= 8``
    (constant cap) — WindowGroupLimit prunes per partition BEFORE the
    (source, gid) exchange (t45's pin), the exact n_g filter runs on
    the ≤ 8 survivors; the argmax window and both rollups reuse the
    SAME (source, gid) partitioning, so the whole query is one
    exchange + one final n_sources shuffle.  Zero UDFs.  Reference
    witness: O2 keyed fold (src/Core/MapReduceC.hs:25-26)."""
    docs = _t(spark, sf_dir, "documents")
    samp = _t52_groups(docs)
    w_best = Window.partitionBy("source", "gid").orderBy(
        F.col("quality_micro").desc(), F.col("doc_id").asc()
    )
    ranked = samp.withColumn("rn_best", F.row_number().over(w_best))
    pg = ranked.groupBy("source", "gid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cand"),
        F.sum("n_tok").cast("bigint").alias("tok_sum"),
        F.max(F.when(F.col("rn_best") == 1, F.col("quality_micro"))).alias("best_q"),
        F.max(F.when(F.col("rn_best") == 2, F.col("quality_micro"))).alias("second_q"),
        F.max(F.when(F.col("rn_best") == 1, F.col("n_tok"))).alias("best_tok"),
    )
    return pg.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("n_cand").cast("bigint").alias("n_candidates"),
        (F.sum("n_cand") - F.count(F.lit(1))).cast("bigint").alias("n_dropped"),
        F.sum("best_tok").cast("bigint").alias("kept_tokens"),
        F.sum(F.col("tok_sum") - F.col("best_tok")).cast("bigint")
        .alias("dropped_tokens"),
        F.sum("best_q").cast("bigint").alias("kept_q_micro"),
        F.sum(F.coalesce(F.col("best_q") - F.col("second_q"), F.lit(0)))
        .cast("bigint").alias("margin_micro"),
    )


_T53_ORACLE = """
    WITH tok AS (
      SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))
                  AS BIGINT) + 1 AS w
      FROM documents
    ), pos AS (
      SELECT doc_id, w,
             coalesce(sum(w) OVER (ORDER BY doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
      FROM tok
    ), tot AS (
      SELECT CAST(sum(w) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n_docs
      FROM tok
    ), per AS (
      SELECT l.ctx_len,
             CAST(sum(CASE WHEN (start + w - 1) // l.ctx_len != start // l.ctx_len
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs,
             CAST(sum((start + w - 1) // l.ctx_len - start // l.ctx_len) AS BIGINT)
               AS n_crossings,
             CAST(sum(CASE WHEN (start + w - 1) // l.ctx_len != start // l.ctx_len
                           THEN w ELSE 0 END) AS BIGINT) AS split_tokens
      FROM pos, (SELECT unnest([512, 2048, 8192]) AS ctx_len) l
      GROUP BY 1
    )
    SELECT CAST(p.ctx_len AS BIGINT) AS ctx_len,
           t.n_docs,
           t.total AS total_tokens,
           CAST((t.total + p.ctx_len - 1) // p.ctx_len AS BIGINT) AS n_seqs,
           p.n_split_docs,
           CAST(p.n_split_docs * 1000000 // t.n_docs AS BIGINT) AS split_doc_ppm,
           p.n_crossings,
           CAST(p.split_tokens * 1000000 // t.total AS BIGINT) AS split_token_ppm,
           CAST((t.total - ((t.total + p.ctx_len - 1) // p.ctx_len - 1) * p.ctx_len)
                * 1000000 // p.ctx_len AS BIGINT) AS tail_fill_ppm
    FROM per p, tot t
"""


@query("t53_packing_efficiency", oracle=_T53_ORACLE)
def t53_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTEXT-LENGTH PACKING EFFICIENCY — the table a pretraining run
    reads BEFORE committing to a context length: for each candidate
    window size L ∈ {512, 2048, 8192}, how t40's greedy concat packing
    behaves — sequence count, documents split across a boundary (split
    docs lose attention locality; the cost the packer trades against
    padding), total boundary crossings, token mass living in split
    docs, and the final ragged tail's fill rate (the truncation loss
    if the export drops it).  t40 EXECUTES the pack at one committed
    L; this is the sweep that chooses it — same interval arithmetic,
    three L values in one pass.

    Scale shape: document start offsets are computed ONCE via t40's
    weighted two-phase prefix-sum seam (never a global ORDER BY
    window on the engine side — the oracle may window, the engine
    never does), then the L-sweep is a 3× explode over (w, start)
    pairs folding straight into a 3-group rollup: per extra candidate
    L the cost is one arithmetic pass, not a re-scan or re-sort.  The
    2-scalar totals frame broadcasts into the 3-row projection.
    Output: one row per L.  Reference witness: O1 fission + O2 keyed
    fold (src/Core/MapReduceC.hs:24-26)."""
    with materialize(spark) as m:
        return m.result(_t53_build(m, sf_dir))


def _t53_build(m: Materialization, sf_dir: str) -> DataFrame:
    """t53 pre-checkpoint builder (q107 discipline: plan pins inspect
    THIS; the query returns a checkpointed result so the positions
    cache can be freed)."""
    from mapreducehs_spark.operators.sampling import global_prefix_sums

    docs = _t(m.spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        (F.size(text.tokens("text")).cast("bigint") + F.lit(1)).alias("w"),
    )
    starts = global_prefix_sums(m, keyed, ["doc_id"], "w", out_col="start")
    L = F.col("ctx_len")
    first_seq = F.expr("start div ctx_len")
    last_seq = F.expr("(start + w - 1) div ctx_len")
    per = (
        starts.select(
            "w",
            "start",
            F.explode(F.array(F.lit(512), F.lit(2048), F.lit(8192))).alias("ctx_len"),
        )
        .select(
            L.cast("bigint").alias("ctx_len"),
            (last_seq != first_seq).cast("bigint").alias("is_split"),
            (last_seq - first_seq).cast("bigint").alias("crossings"),
            F.when(last_seq != first_seq, F.col("w")).otherwise(0).alias("sw"),
        )
        .groupBy("ctx_len")
        .agg(
            F.sum("is_split").cast("bigint").alias("n_split_docs"),
            F.sum("crossings").cast("bigint").alias("n_crossings"),
            F.sum("sw").cast("bigint").alias("split_tokens"),
        )
    )
    tot = keyed.agg(
        F.sum("w").cast("bigint").alias("total"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "ctx_len",
        "n_docs",
        F.col("total").alias("total_tokens"),
        F.expr("CAST((total + ctx_len - 1) div ctx_len AS BIGINT)").alias("n_seqs"),
        "n_split_docs",
        F.expr("CAST(n_split_docs * 1000000 div n_docs AS BIGINT)").alias(
            "split_doc_ppm"
        ),
        "n_crossings",
        F.expr("CAST(split_tokens * 1000000 div total AS BIGINT)").alias(
            "split_token_ppm"
        ),
        F.expr(
            "CAST((total - ((total + ctx_len - 1) div ctx_len - 1) * ctx_len)"
            " * 1000000 div ctx_len AS BIGINT)"
        ).alias("tail_fill_ppm"),
    )


_T54_ORACLE = """
    WITH q AS (
      SELECT source, doc_id, text,
             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))
                  AS BIGINT) AS n_tok,
             CAST(len(list_distinct(list_filter(regexp_split_to_array(text, '\\s+'),
                                                x -> x != ''))) AS BIGINT) AS n_uniq
      FROM documents
    ), scored AS (
      SELECT source, doc_id, text, (n_uniq * 1000000) // n_tok AS quality_micro
      FROM q WHERE n_tok > 0
    ), top AS (
      SELECT source, doc_id, text, quality_micro, rn FROM (
        SELECT *, row_number() OVER (
          PARTITION BY source ORDER BY quality_micro DESC, doc_id ASC) AS rn
        FROM scored
      ) WHERE rn <= 5
    ), bot AS (
      SELECT source, doc_id, text, quality_micro, rn FROM (
        SELECT *, row_number() OVER (
          PARTITION BY source ORDER BY quality_micro ASC, doc_id DESC) AS rn
        FROM scored
      ) WHERE rn <= 5
    ), pairs AS (
      SELECT t.source, t.rn AS pair_rank, t.text AS chosen_text,
             b.text AS rejected_text
      FROM top t JOIN bot b ON b.source = t.source AND b.rn = t.rn
      WHERE t.doc_id != b.doc_id AND t.quality_micro > b.quality_micro
    ), blocks AS (
      SELECT source, pair_rank,
             '<|im_start|>user' || chr(10)
               || 'Rewrite sample ' || CAST(pair_rank AS VARCHAR) || ' from '
               || source || ' to higher quality:' || chr(10)
               || rejected_text || '<|im_end|>' || chr(10) AS ub,
             '<|im_start|>assistant' || chr(10)
               || chosen_text || '<|im_end|>' || chr(10) AS ab
      FROM pairs
    ), toks AS (
      SELECT source, pair_rank,
             CAST(len(list_filter(regexp_split_to_array(ub, '\\s+'), x -> x != ''))
                  AS BIGINT) AS m,
             CAST(len(list_filter(regexp_split_to_array(ab, '\\s+'), x -> x != ''))
                  AS BIGINT) AS t,
             ('0x' || substr(md5(ub || ab), 1, 12))::BIGINT AS block_fold
      FROM blocks
    ), sys AS (
      SELECT CAST(len(list_filter(regexp_split_to_array(
               '<|im_start|>system' || chr(10)
               || 'You are a careful rewriting assistant.<|im_end|>' || chr(10),
               '\\s+'), x -> x != '')) AS BIGINT) AS s
    ), spans AS (
      SELECT source, pair_rank, m, t, block_fold,
             coalesce(sum(m + t) OVER (
               PARTITION BY source ORDER BY pair_rank ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
      FROM toks
    )
    SELECT sp.source,
           CAST(sp.pair_rank AS BIGINT) AS turn,
           CAST(s.s + sp.prior AS BIGINT) AS mask_start,
           CAST(s.s + sp.prior + sp.m AS BIGINT) AS train_start,
           CAST(s.s + sp.prior + sp.m + sp.t AS BIGINT) AS train_end,
           sp.m AS masked_len,
           sp.t AS trained_len,
           sp.block_fold
    FROM spans sp, sys s
"""


@query("t54_multiturn_assembly", oracle=_T54_ORACLE)
def t54_multiturn_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-TURN CONVERSATION ASSEMBLY — t51's loss-mask law at its
    general arity: a source's preference pairs stitch (in pair_rank
    order) into ONE conversation — system turn, then per pair a user
    turn (rewrite request + the rejected text, MASKED) and an
    assistant turn (the chosen text, TRAINED) — and the trainer
    consumes the per-turn SPAN TABLE this emits: (mask_start,
    train_start, train_end) as absolute token offsets into the
    rendered conversation.  Multi-turn is where span arithmetic earns
    its keep: turn i's offsets depend on every prior turn's length,
    the thing single-example SFT (t51) never needs.

    Laws: every block ends with a newline, so block token counts ADD
    exactly (no gluing at block boundaries) and
    train_end(last turn) == tokens(whole rendered conversation) — the
    conservation pytest renders the full concat and checks it.
    ``block_fold`` pins each turn's rendered bytes.  Turn order =
    pair_rank (t45's committed ranking), so conversations are
    deterministic under any partitioning.

    Scale shape: t45's WindowGroupLimit pair plan (text carried, the
    t51 seam); the per-conversation prefix sum is a window over ≤ 5
    rows per source — partition size is bounded by the PAIR CAP, a
    constant, not by corpus size, which is the one case a per-group
    window is the right tool (t42/t44's bounded-window case).  Output
    is ≤ 5 rows per source.  Reference witness: O2 ordered keyed fold
    + O1 per-record rewrite (src/Core/MapReduceC.hs:24-26)."""
    docs = _t(spark, sf_dir, "documents")
    scored = _quality_scored(docs, carry=("text",)).select(
        "source", "doc_id", "quality_micro", "text"
    )
    pairs = _t45_pairs(scored, carry=("text",))
    nl = F.lit("\n")
    ub = F.concat(
        F.lit("<|im_start|>user"), nl,
        F.lit("Rewrite sample "), F.col("pair_rank").cast("string"),
        F.lit(" from "), F.col("source"), F.lit(" to higher quality:"), nl,
        F.col("rejected_text"), F.lit("<|im_end|>"), nl,
    )
    ab = F.concat(
        F.lit("<|im_start|>assistant"), nl,
        F.col("chosen_text"), F.lit("<|im_end|>"), nl,
    )
    toks_of = lambda c: F.size(text.tokens(c)).cast("bigint")  # noqa: E731
    sys_block = F.lit("<|im_start|>system\n" + _T51_SYSTEM + "<|im_end|>\n")
    toks = pairs.select(
        "source",
        "pair_rank",
        toks_of(ub).alias("m"),
        toks_of(ab).alias("t"),
        F.conv(F.substring(F.md5(F.concat(ub, ab)), 1, 12), 16, 10)
        .cast("bigint")
        .alias("block_fold"),
        toks_of(sys_block).alias("__sys"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("pair_rank").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = toks.withColumn(
        "prior", F.coalesce(F.sum(F.col("m") + F.col("t")).over(w), F.lit(0))
    )
    return spans.select(
        "source",
        F.col("pair_rank").cast("bigint").alias("turn"),
        (F.col("__sys") + F.col("prior")).cast("bigint").alias("mask_start"),
        (F.col("__sys") + F.col("prior") + F.col("m"))
        .cast("bigint")
        .alias("train_start"),
        (F.col("__sys") + F.col("prior") + F.col("m") + F.col("t"))
        .cast("bigint")
        .alias("train_end"),
        F.col("m").alias("masked_len"),
        F.col("t").alias("trained_len"),
        "block_fold",
    )


# =========================================================================
# Round 11 (1): curriculum-ordering export (t55)
# =========================================================================

_T55_ORACLE = _T34_KEYED_CTES + """
    , ranked AS (
      SELECT source, doc_id, n_tokens, qk,
             row_number() OVER (PARTITION BY source
                                ORDER BY qk DESC, doc_id ASC) - 1 AS rank0,
             count(*) OVER (PARTITION BY source) AS n_src
      FROM keyed
    ), dec AS (
      SELECT source, n_tokens, qk, (rank0 * 10) // n_src AS decile
      FROM ranked
    ), buckets AS (
      SELECT CAST(decile AS BIGINT) AS decile, source,
             CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
             CAST(min(qk) AS BIGINT) AS qk_min,
             CAST(max(qk) AS BIGINT) AS qk_max
      FROM dec GROUP BY 1, 2
    )
    SELECT decile, source, n_docs, n_tokens, qk_min, qk_max,
           CAST(coalesce(sum(n_tokens) OVER (
             ORDER BY decile ASC, source ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS start_tokens
    FROM buckets
"""


def _t55_buckets(m: Materialization, sf_dir: str) -> DataFrame:
    """t55's DISTRIBUTED stage (the plan-pinned part): per-source exact
    rank deciles via the grouped prefix-sum seam, rolled up to the
    <= 10 * n_sources bucket table."""
    from mapreducehs_spark.operators.sampling import grouped_prefix_sums

    keyed = _t34_keyed(m.spark, sf_dir).withColumn("__one", F.lit(1).cast("long"))
    ranked = grouped_prefix_sums(
        m, keyed, ["source"], ["neg_qk", "doc_id"], "__one", out_col="rank0"
    )
    # sizes read the PERSISTED sorted frame via ranked, not a fresh
    # token scan (the t17 pipeline is the expensive part of this plan)
    sizes = ranked.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    return (
        ranked.join(F.broadcast(sizes), "source")
        .select(
            F.expr("(rank0 * 10) div n_src").cast("bigint").alias("decile"),
            "source",
            "n_tokens",
            "qk",
        )
        .groupBy("decile", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("n_tokens"),
            F.min("qk").cast("bigint").alias("qk_min"),
            F.max("qk").cast("bigint").alias("qk_max"),
        )
    )


@query("t55_curriculum_schedule", oracle=_T55_ORACLE)
def t55_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRICULUM-ORDERING EXPORT — the schedule table a curriculum
    training run (Bengio et al. 2009 ordering; data-mixing curricula a
    la Xu et al.) reads instead of shuffling uniformly: the corpus is
    ordered easy -> hard under the COMMITTED difficulty signal (t17's
    integer LM score: higher qk = more fluent = easier) and emitted as
    per-(decile, source) buckets with each bucket's GLOBAL token start
    offset in the curriculum order, so shard writers and the trainer's
    sampler agree on positions by arithmetic alone.

    Laws: deciles are t49's exact rank-decile law applied per source
    to the t34/t17 difficulty key (rank0 = #docs strictly before
    (neg_qk, doc_id) within the source; decile = rank0 * 10 div n_src
    — difficulty is RELATIVE to the source, so a hard doc in an easy
    domain still lands late); start_tokens = sum of n_tokens over
    buckets strictly before in (decile ASC, source ASC) order.
    All-integer, value-checks bit-for-bit.  Conservation vs t49's
    decile masses is pytest-pinned (exact rank deciles put the same
    doc COUNT in a (source, decile) cell regardless of ordering key).

    Scale shape: the oracle ranks with per-source windows; the engine
    does NOT — rank0 comes from the grouped prefix-sum seam (range
    exchange, never a whole source on one task), bucket aggregation is
    an ordinary hash rollup to <= 10 * n_sources rows (window-free,
    plan-pinned).  The global offsets over that BOUNDED bucket table
    are computed driver-side from one collect (round 13, guide §2.6:
    the second prefix-sum seam paid a range exchange + persist +
    partition-count collect + Arrow kernel on a ~n_sources*10-row
    frame — two driver actions for rows that already fit in the
    broadcast-sized regime every per-source rollup here uses).  3
    driver actions -> 1; values identical (pure integer arithmetic
    either way).  At 100 TB the heavy data makes exactly two shuffles
    (the t17 token aggs) plus one range exchange; the driver holds
    only the bucket table (10 rows per source — the same #groups ≪
    #rows bound grouped_prefix_sums's broadcast already
    assumes).  Reference witness: O2 ordered keyed fold
    (src/Core/MapReduceC.hs:24-26)."""
    with materialize(spark) as m:
        rows = _t55_buckets(m, sf_dir).collect()
    rows.sort(key=lambda r: (r["decile"], r["source"]))
    out, run = [], 0
    for r in rows:
        out.append(
            (
                r["decile"],
                r["source"],
                r["n_docs"],
                r["n_tokens"],
                r["qk_min"],
                r["qk_max"],
                run,
            )
        )
        run += r["n_tokens"]
    return spark.createDataFrame(
        out,
        "decile bigint, source string, n_docs bigint, n_tokens bigint,"
        " qk_min bigint, qk_max bigint, start_tokens bigint",
    )


# =========================================================================
# Round 11 (2): DPO margin readout (t56)
# =========================================================================

#: t56 margin-bin width in quality micro-units (0.1 quality units per
#: bin) — fixed integer width so the histogram is engine-exact (q116's
#: calibration-bin discipline).
_T56_BIN = 100000

_T56_ORACLE = f"""
    WITH q AS (
      SELECT source, doc_id,
             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))
                  AS BIGINT) AS n_tok,
             CAST(len(list_distinct(list_filter(regexp_split_to_array(text, '\\s+'),
                                                x -> x != ''))) AS BIGINT) AS n_uniq
      FROM documents
    ), scored AS (
      SELECT source, doc_id, (n_uniq * 1000000) // n_tok AS quality_micro
      FROM q WHERE n_tok > 0
    ), top AS (
      SELECT source, doc_id, quality_micro, rn FROM (
        SELECT *, row_number() OVER (
          PARTITION BY source ORDER BY quality_micro DESC, doc_id ASC) AS rn
        FROM scored
      ) WHERE rn <= 5
    ), bot AS (
      SELECT source, doc_id, quality_micro, rn FROM (
        SELECT *, row_number() OVER (
          PARTITION BY source ORDER BY quality_micro ASC, doc_id DESC) AS rn
        FROM scored
      ) WHERE rn <= 5
    ), cl AS (
      SELECT t.source,
             t.quality_micro - b.quality_micro AS margin,
             (t.quality_micro - b.quality_micro) // {_T56_BIN} AS margin_bin,
             t.doc_id = b.doc_id AS is_identical
      FROM top t JOIN bot b ON b.source = t.source AND b.rn = t.rn
    ), tot AS (
      SELECT source, count(*) AS n_src FROM cl GROUP BY 1
    )
    SELECT cl.source,
           CAST(margin_bin AS BIGINT) AS margin_bin,
           is_identical,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(margin) AS BIGINT) AS gap_mass_micro,
           CAST((count(*) * 1000000) // max(t.n_src) AS BIGINT) AS share_ppm
    FROM cl JOIN tot t ON t.source = cl.source
    GROUP BY 1, 2, 3
"""


@query("t56_dpo_margin_readout", oracle=_T56_ORACLE)
def t56_dpo_margin_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO MARGIN READOUT — q116's calibration discipline applied to
    t45's preference pairs: the go/no-go table a DPO/RLHF run is gated
    on BEFORE burning GPU (Rafailov et al. 2023's loss needs a healthy
    chosen-vs-rejected reward gap; a margin distribution collapsed at
    zero or dominated by degenerate pairs trains nothing).  Per
    (source, fixed-width margin bin, identical-pair flag): pair count,
    reward-gap mass, and each cell's share of the source's candidate
    pairs in exact ppm — the margin-zero rate IS the bin-0 share, the
    degenerate rate the is_identical share.

    Laws: pairs are t45's pairing law via the `_t45_pairs` seam with
    ``keep_degenerate=True`` — the report must COUNT what the export
    drops, so it reads the pre-filter candidates (same windows, same
    tiebreaks; one law, two consumers); margin = chosen_q - rejected_q
    in quality micro-units; bin = margin div 100000 (Spark `div` and
    DuckDB `//` both truncate toward zero, so negative inverted-pair
    margins bin identically); share_ppm = (n · 1e6) div n_src.
    All-integer — value-checks bit-for-bit.

    Scale shape: identical to t45 — the rankings lower to
    WindowGroupLimit (per-partition top-5 before the exchange), so the
    join and rollup touch ≤ 5 · n_sources rows however big the corpus
    is; the totals frame broadcasts.  Reference witness: O2 keyed fold
    over ranked pairs (src/Core/MapReduceC.hs:24-26)."""
    docs = _t(spark, sf_dir, "documents")
    pairs = _t45_pairs(_quality_scored(docs), keep_degenerate=True)
    cl = pairs.select(
        "source",
        (F.col("chosen_q") - F.col("rejected_q")).alias("margin"),
        F.expr(f"(chosen_q - rejected_q) div {_T56_BIN}")
        .cast("bigint")
        .alias("margin_bin"),
        (F.col("chosen_id") == F.col("rejected_id")).alias("is_identical"),
    )
    tot = cl.groupBy("source").agg(F.count(F.lit(1)).alias("n_src"))
    return (
        cl.join(F.broadcast(tot), "source")
        .groupBy("source", "margin_bin", "is_identical")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("margin").cast("bigint").alias("gap_mass_micro"),
            F.expr("(count(1) * 1000000L) div max(n_src)")
            .cast("bigint")
            .alias("share_ppm"),
        )
    )


# =========================================================================
# Round 12 (1): agentic-trace assembly (t57)
# =========================================================================

#: t57's system prompt — shared by the Spark arm, the rendered oracle,
#: and the conservation pytest (one constant, three consumers).
_T57_SYSTEM = "You are a careful assistant with corpus tool access."

#: the five-role loss-mask law: train on what the MODEL produced
#: (assistant text AND its tool calls), mask what the environment
#: produced (system prompt, user request, tool results).
_T57_TRAINED = {"system": 0, "user": 0, "tool_call": 1,
                "tool_result": 0, "assistant": 1}

_T57_ORACLE = f"""
    WITH q AS (
      SELECT source, doc_id, text,
             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))
                  AS BIGINT) AS n_tok,
             CAST(len(list_distinct(list_filter(regexp_split_to_array(text, '\\s+'),
                                                x -> x != ''))) AS BIGINT) AS n_uniq
      FROM documents
    ), scored AS (
      SELECT source, doc_id, text, (n_uniq * 1000000) // n_tok AS quality_micro
      FROM q WHERE n_tok > 0
    ), top AS (
      SELECT source, doc_id, text, quality_micro, rn FROM (
        SELECT *, row_number() OVER (
          PARTITION BY source ORDER BY quality_micro DESC, doc_id ASC) AS rn
        FROM scored
      ) WHERE rn <= 5
    ), bot AS (
      SELECT source, doc_id, text, quality_micro, rn FROM (
        SELECT *, row_number() OVER (
          PARTITION BY source ORDER BY quality_micro ASC, doc_id DESC) AS rn
        FROM scored
      ) WHERE rn <= 5
    ), pairs AS (
      SELECT t.source, t.rn AS pair_rank, t.text AS chosen_text,
             b.text AS rejected_text
      FROM top t JOIN bot b ON b.source = t.source AND b.rn = t.rn
      WHERE t.doc_id != b.doc_id AND t.quality_micro > b.quality_micro
    ), blocks AS (
      SELECT source, pair_rank,
             '<|im_start|>user' || chr(10)
               || 'Improve sample ' || CAST(pair_rank AS VARCHAR) || ' from '
               || source || ' using the corpus tool.<|im_end|>' || chr(10) AS ub,
             '<|im_start|>assistant' || chr(10)
               || '<tool_call>retrieve("' || source || '", '
               || CAST(pair_rank AS VARCHAR)
               || ')</tool_call><|im_end|>' || chr(10) AS cb,
             '<|im_start|>tool' || chr(10)
               || rejected_text || '<|im_end|>' || chr(10) AS rb,
             '<|im_start|>assistant' || chr(10)
               || chosen_text || '<|im_end|>' || chr(10) AS ab
      FROM pairs
    ), toks AS (
      SELECT source, pair_rank,
             CAST(len(list_filter(regexp_split_to_array(ub, '\\s+'), x -> x != ''))
                  AS BIGINT) AS n_u,
             CAST(len(list_filter(regexp_split_to_array(cb, '\\s+'), x -> x != ''))
                  AS BIGINT) AS n_c,
             CAST(len(list_filter(regexp_split_to_array(rb, '\\s+'), x -> x != ''))
                  AS BIGINT) AS n_r,
             CAST(len(list_filter(regexp_split_to_array(ab, '\\s+'), x -> x != ''))
                  AS BIGINT) AS n_a,
             ('0x' || substr(md5(ub), 1, 12))::BIGINT AS f_u,
             ('0x' || substr(md5(cb), 1, 12))::BIGINT AS f_c,
             ('0x' || substr(md5(rb), 1, 12))::BIGINT AS f_r,
             ('0x' || substr(md5(ab), 1, 12))::BIGINT AS f_a
      FROM blocks
    ), sys AS (
      SELECT CAST(len(list_filter(regexp_split_to_array(
               '<|im_start|>system' || chr(10)
               || '{_T57_SYSTEM}<|im_end|>' || chr(10),
               '\\s+'), x -> x != '')) AS BIGINT) AS s,
             ('0x' || substr(md5('<|im_start|>system' || chr(10)
               || '{_T57_SYSTEM}<|im_end|>' || chr(10)), 1, 12))::BIGINT AS sf
    ), spans AS (
      SELECT source, pair_rank, n_u, n_c, n_r, n_a, f_u, f_c, f_r, f_a,
             coalesce(sum(n_u + n_c + n_r + n_a) OVER (
               PARTITION BY source ORDER BY pair_rank ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
      FROM toks
    )
    SELECT p.source, CAST(0 AS BIGINT) AS turn, CAST(0 AS BIGINT) AS block_idx,
           'system' AS role, CAST(0 AS BIGINT) AS trained,
           CAST(0 AS BIGINT) AS tok_start, s.s AS tok_end, s.s AS n_tokens,
           s.sf AS block_fold
    FROM (SELECT DISTINCT source FROM pairs) p, sys s
    UNION ALL
    SELECT sp.source, CAST(sp.pair_rank AS BIGINT), CAST(0 AS BIGINT),
           'user', CAST(0 AS BIGINT),
           CAST(s.s + sp.prior AS BIGINT),
           CAST(s.s + sp.prior + n_u AS BIGINT), n_u, f_u
    FROM spans sp, sys s
    UNION ALL
    SELECT sp.source, CAST(sp.pair_rank AS BIGINT), CAST(1 AS BIGINT),
           'tool_call', CAST(1 AS BIGINT),
           CAST(s.s + sp.prior + n_u AS BIGINT),
           CAST(s.s + sp.prior + n_u + n_c AS BIGINT), n_c, f_c
    FROM spans sp, sys s
    UNION ALL
    SELECT sp.source, CAST(sp.pair_rank AS BIGINT), CAST(2 AS BIGINT),
           'tool_result', CAST(0 AS BIGINT),
           CAST(s.s + sp.prior + n_u + n_c AS BIGINT),
           CAST(s.s + sp.prior + n_u + n_c + n_r AS BIGINT), n_r, f_r
    FROM spans sp, sys s
    UNION ALL
    SELECT sp.source, CAST(sp.pair_rank AS BIGINT), CAST(3 AS BIGINT),
           'assistant', CAST(1 AS BIGINT),
           CAST(s.s + sp.prior + n_u + n_c + n_r AS BIGINT),
           CAST(s.s + sp.prior + n_u + n_c + n_r + n_a AS BIGINT), n_a, f_a
    FROM spans sp, sys s
"""


@query("t57_agentic_trace_assembly", oracle=_T57_ORACLE)
def t57_agentic_trace_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AGENTIC-TRACE ASSEMBLY — t54's span algebra at the tool-use
    grammar every agentic SFT run trains on: per source the t45 pairs
    stitch (in pair_rank order) into ONE conversation of 4-block turns
    — user request, assistant TOOL CALL, tool RESULT (the retrieved
    low-quality text), assistant answer (the improved text) — under a
    system prompt, and the trainer consumes the PER-BLOCK span table
    this emits: absolute token offsets plus the loss-mask law (train
    on what the model produced: assistant text AND tool calls; mask
    what the environment produced: system, user, tool results).

    Laws: every block ends with a newline, so block token counts ADD
    exactly and blocks TILE the rendered conversation — row (turn i,
    block j) starts where its predecessor ends, and the last block's
    tok_end equals tokens(whole rendered conversation) (conservation
    pytest renders and checks).  ``block_fold`` pins each block's
    rendered bytes; ``trained`` is the _T57_TRAINED role law.  Turn
    order = pair_rank (t45's committed ranking), block order fixed by
    the grammar, so traces are deterministic under any partitioning.

    Scale shape: t45's WindowGroupLimit pair plan (text carried — the
    t51/t54 seam, no second corpus scan); the per-conversation prefix
    sum is a window over <= 5 rows per source (bounded by the pair
    cap, t54's bounded-window case); the per-turn 4-block fan-out is a
    posexplode of a literal 4-struct array (pure projection, no
    shuffle).  The per-turn spans frame (<= 5 rows per source) is
    checkpointed so the system-row arm derives its distinct
    sources from it instead of re-running the pair plan — the corpus
    is scanned exactly TWICE (t45's two ranked arms), plan-pinned.
    Output is <= 21 rows per source.  Reference witness: O2 ordered
    keyed fold + O1 per-record rewrite (src/Core/MapReduceC.hs:24-26)."""
    with materialize(spark) as m:
        spans = m.result(_t57_build(spark, sf_dir))
    toks_of = lambda c: F.size(text.tokens(c)).cast("bigint")  # noqa: E731
    fold_of = lambda c: (  # noqa: E731
        F.conv(F.substring(F.md5(c), 1, 12), 16, 10).cast("bigint")
    )
    sys_block = F.lit("<|im_start|>system\n" + _T57_SYSTEM + "<|im_end|>\n")
    z = F.lit(0).cast("bigint")

    def blk(bi: int, role: str, off, n, fold):
        return F.struct(
            F.lit(bi).cast("bigint").alias("block_idx"),
            F.lit(role).alias("role"),
            F.lit(_T57_TRAINED[role]).cast("bigint").alias("trained"),
            off.cast("bigint").alias("off"),
            F.col(n).alias("n"),
            F.col(fold).alias("fold"),
        )

    grammar = F.array(
        blk(0, "user", z, "n_u", "f_u"),
        blk(1, "tool_call", F.col("n_u"), "n_c", "f_c"),
        blk(2, "tool_result", F.col("n_u") + F.col("n_c"), "n_r", "f_r"),
        blk(
            3, "assistant",
            F.col("n_u") + F.col("n_c") + F.col("n_r"), "n_a", "f_a",
        ),
    )
    turn_rows = (
        spans.select(
            "source",
            F.col("pair_rank").cast("bigint").alias("turn"),
            "__sys",
            "prior",
            F.explode(grammar).alias("b"),
        )
        .select(
            "source",
            "turn",
            F.col("b.block_idx").alias("block_idx"),
            F.col("b.role").alias("role"),
            F.col("b.trained").alias("trained"),
            (F.col("__sys") + F.col("prior") + F.col("b.off"))
            .cast("bigint")
            .alias("tok_start"),
            (F.col("__sys") + F.col("prior") + F.col("b.off") + F.col("b.n"))
            .cast("bigint")
            .alias("tok_end"),
            F.col("b.n").alias("n_tokens"),
            F.col("b.fold").alias("block_fold"),
        )
    )
    sys_rows = (
        spans.select("source")
        .distinct()
        .select(
            "source",
            z.alias("turn"),
            z.alias("block_idx"),
            F.lit("system").alias("role"),
            z.alias("trained"),
            z.alias("tok_start"),
            toks_of(sys_block).alias("tok_end"),
            toks_of(sys_block).alias("n_tokens"),
            fold_of(sys_block).alias("block_fold"),
        )
    )
    return sys_rows.unionByName(turn_rows)


def _t57_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t57's pre-checkpoint per-turn spans frame (q107 pin recipe):
    the t45 pair plan with the four grammar blocks' token counts /
    byte folds and the per-conversation prior prefix sum — everything
    that touches the corpus; <= 5 rows per source come out."""
    docs = _t(spark, sf_dir, "documents")
    scored = _quality_scored(docs, carry=("text",)).select(
        "source", "doc_id", "quality_micro", "text"
    )
    pairs = _t45_pairs(scored, carry=("text",))
    nl = F.lit("\n")
    ub = F.concat(
        F.lit("<|im_start|>user"), nl,
        F.lit("Improve sample "), F.col("pair_rank").cast("string"),
        F.lit(" from "), F.col("source"),
        F.lit(" using the corpus tool.<|im_end|>"), nl,
    )
    cb = F.concat(
        F.lit("<|im_start|>assistant"), nl,
        F.lit('<tool_call>retrieve("'), F.col("source"), F.lit('", '),
        F.col("pair_rank").cast("string"),
        F.lit(")</tool_call><|im_end|>"), nl,
    )
    rb = F.concat(
        F.lit("<|im_start|>tool"), nl,
        F.col("rejected_text"), F.lit("<|im_end|>"), nl,
    )
    ab = F.concat(
        F.lit("<|im_start|>assistant"), nl,
        F.col("chosen_text"), F.lit("<|im_end|>"), nl,
    )
    toks_of = lambda c: F.size(text.tokens(c)).cast("bigint")  # noqa: E731
    fold_of = lambda c: (  # noqa: E731
        F.conv(F.substring(F.md5(c), 1, 12), 16, 10).cast("bigint")
    )
    sys_block = F.lit("<|im_start|>system\n" + _T57_SYSTEM + "<|im_end|>\n")
    toks = pairs.select(
        "source",
        "pair_rank",
        toks_of(ub).alias("n_u"), fold_of(ub).alias("f_u"),
        toks_of(cb).alias("n_c"), fold_of(cb).alias("f_c"),
        toks_of(rb).alias("n_r"), fold_of(rb).alias("f_r"),
        toks_of(ab).alias("n_a"), fold_of(ab).alias("f_a"),
        toks_of(sys_block).alias("__sys"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy(F.col("pair_rank").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = toks.withColumn(
        "prior",
        F.coalesce(
            F.sum(
                F.col("n_u") + F.col("n_c") + F.col("n_r") + F.col("n_a")
            ).over(w),
            F.lit(0),
        ),
    )
    return spans


# =========================================================================
# Round 12 (2): GRPO group-advantage readout (t58)
# =========================================================================

_T58_ORACLE = _T52_GROUP_CTES + """
    , wa AS (
      SELECT source, gid, quality_micro,
             count(*) OVER (PARTITION BY source, gid) AS n,
             sum(quality_micro) OVER (PARTITION BY source, gid) AS s,
             sum(quality_micro * quality_micro)
               OVER (PARTITION BY source, gid) AS q2
      FROM samp
    ), adv AS (
      SELECT source, gid, n, s, n * q2 - s * s AS var_num,
             CASE WHEN n * q2 - s * s > 0 THEN
               CAST(floor((n * quality_micro - s) * 1000000
                          / sqrt(CAST(n * q2 - s * s AS DOUBLE))) AS BIGINT)
             ELSE 0 END AS adv_micro
      FROM wa
    ), pg AS (
      SELECT source, gid,
             CAST(max(n) AS BIGINT) AS n_cand,
             CAST(max(s) AS BIGINT) AS s,
             CAST(max(var_num) AS BIGINT) AS var_num,
             CAST(max(s) // max(n) AS BIGINT) AS mean_micro,
             CAST(sum(abs(adv_micro)) AS BIGINT) AS abs_adv,
             CAST(max(adv_micro) AS BIGINT) AS max_adv
      FROM adv GROUP BY 1, 2
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_groups,
           CAST(sum(n_cand) AS BIGINT) AS n_candidates,
           CAST(sum(CASE WHEN var_num = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS degenerate_groups,
           CAST((sum(CASE WHEN var_num = 0 THEN 1 ELSE 0 END) * 1000000)
                // count(*) AS BIGINT) AS degenerate_ppm,
           CAST(sum(s) // sum(n_cand) AS BIGINT) AS reward_mean_micro,
           CAST(max(mean_micro) - min(mean_micro) AS BIGINT)
             AS group_mean_spread_micro,
           CAST(sum(abs_adv) AS BIGINT) AS abs_adv_mass_micro,
           CAST(max(max_adv) AS BIGINT) AS max_adv_micro
    FROM pg GROUP BY source
"""


@query("t58_grpo_advantage_readout", oracle=_T58_ORACLE)
def t58_grpo_advantage_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRPO GROUP-ADVANTAGE READOUT — the go/no-go table a
    group-relative policy-optimization run (Shao et al. 2024,
    DeepSeekMath) is gated on BEFORE burning GPU: GRPO's learning
    signal is the per-candidate z-score within its prompt group
    ((r_i - mean) / std), so a corpus whose groups are DEGENERATE
    (zero reward variance — every candidate scored the same) trains
    nothing, exactly like t56's collapsed-margin check for DPO.

    Laws: groups and candidate draws are t52's committed sample law
    via the `_t52_groups` seam (one law, two consumers; the reward is
    the tier-wide `_quality_scored` signal); per-candidate advantage
    in integer micro-units by the engine-exact quantization recipe —
    adv_micro = floor((n*r_i - S) * 1e6 / sqrt(n*Q - S^2)) where
    S = sum(r), Q = sum(r^2) over the group (the numerator equals
    n^2 * variance, so this IS the z-score scaled 1e6; every operand
    stays under 2^53 so the double chain is IEEE-identical in both
    engines, and floor never ties).  Degenerate groups (var_num == 0,
    including singletons) contribute zero advantage.  Per-source
    report: group/candidate counts, degenerate count and exact-ppm
    rate, corpus reward mean, inter-group mean spread (prompt
    difficulty diversity), total |advantage| mass (the learning-signal
    budget), and the max single advantage.

    Scale shape: the draw is t52's WindowGroupLimit plan; the group
    moments are whole-partition window aggregates over the <= 8
    survivors REUSING the (source, gid) exchange (no orderBy, no new
    shuffle), the group rollup reuses it again, and only the final
    n_sources rollup shuffles — TWO exchanges total however big the
    corpus, exchange-count pytest-pinned.  Zero UDFs.  Reference
    witness: O2 keyed fold (src/Core/MapReduceC.hs:25-26)."""
    docs = _t(spark, sf_dir, "documents")
    samp = _t52_groups(docs)
    w_g = Window.partitionBy("source", "gid")
    wa = samp.select(
        "source",
        "gid",
        "quality_micro",
        F.count(F.lit(1)).over(w_g).cast("bigint").alias("n"),
        F.sum("quality_micro").over(w_g).cast("bigint").alias("s"),
        F.sum(F.col("quality_micro") * F.col("quality_micro"))
        .over(w_g)
        .cast("bigint")
        .alias("q2"),
    )
    var_num = F.col("n") * F.col("q2") - F.col("s") * F.col("s")
    adv = wa.select(
        "source",
        "gid",
        "n",
        "s",
        var_num.alias("var_num"),
        F.when(
            var_num > 0,
            F.floor(
                (F.col("n") * F.col("quality_micro") - F.col("s"))
                * F.lit(1_000_000)
                / F.sqrt(var_num.cast("double"))
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("adv_micro"),
    )
    pg = adv.groupBy("source", "gid").agg(
        F.max("n").cast("bigint").alias("n_cand"),
        F.max("s").cast("bigint").alias("s"),
        F.max("var_num").cast("bigint").alias("var_num"),
        F.expr("max(s) div max(n)").cast("bigint").alias("mean_micro"),
        F.sum(F.abs(F.col("adv_micro"))).cast("bigint").alias("abs_adv"),
        F.max("adv_micro").cast("bigint").alias("max_adv"),
    )
    return pg.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("n_cand").cast("bigint").alias("n_candidates"),
        F.sum((F.col("var_num") == 0).cast("bigint"))
        .cast("bigint")
        .alias("degenerate_groups"),
        F.expr(
            "(sum(cast(var_num = 0 as bigint)) * 1000000L) div count(1)"
        )
        .cast("bigint")
        .alias("degenerate_ppm"),
        F.expr("sum(s) div sum(n_cand)").cast("bigint").alias("reward_mean_micro"),
        (F.max("mean_micro") - F.min("mean_micro"))
        .cast("bigint")
        .alias("group_mean_spread_micro"),
        F.sum("abs_adv").cast("bigint").alias("abs_adv_mass_micro"),
        F.max("max_adv").cast("bigint").alias("max_adv_micro"),
    )
