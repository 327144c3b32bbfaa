"""MapReduce-pipeline parity queries (p-series)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreducehs_spark.operators import text
from mapreducehs_spark.pipeline import word_count_pipeline

from mapreducehs_spark.queries._registry import query
from mapreducehs_spark.queries._shared import (
    _t,
)

# =========================================================================
# Reference-parity pipeline kernel (SURVEY §2.1 O1-O5; Impl.hs sample)
# =========================================================================

@query(
    "p01_wordcount_pipeline",
    oracle="""
    WITH pos AS (
      SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
      FROM documents
    ), ch AS (
      SELECT doc_id, i, text[i] AS c FROM pos
    ), flagged AS (
      SELECT doc_id, c,
             CASE WHEN lag(c) OVER (PARTITION BY doc_id ORDER BY i)
                       IS DISTINCT FROM c THEN 1 ELSE 0 END AS new_run
      FROM ch
    )
    -- each run of length L contributes L+1 (the add1 stage applies to
    -- the run's count): per char, sum = occurrences + number of runs
    SELECT c AS key, CAST(count(*) + sum(new_run) AS INTEGER) AS value
    FROM flagged
    GROUP BY c
    """,
)
def p01_wordcount_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's own sample pipeline (src/Impl.hs:30-44) — char
    run-length-encode → +1 → sum per key — run through the M1 Pipeline
    kernel (mapInPandas/applyInPandas lowering) over documents.text.
    The oracle re-derives the run-length algebra relationally: a run of
    length L contributes L+1, so each char's total is its occurrence
    count plus its run count.

    Runs the declared-associative lowering (``assoc=True``): the char
    alphabet is tiny, so the per-group reduce would funnel the whole
    corpus through ~25 tasks — ``reduce_agg`` gets map-side partials
    instead.  The input is spread to the session's parallelism first
    because the sf0.1 parquet arrives as one split and the Python map
    stage would otherwise run single-threaded (at real scale the scan
    is already wide and the repartition collapses to a cheap rebalance
    of small files)."""
    docs = _t(spark, sf_dir, "documents")
    kv = docs.select(
        F.col("doc_id").cast("string").alias("key"), F.col("text").alias("value")
    ).repartition(spark.sparkContext.defaultParallelism)
    return word_count_pipeline(assoc=True).run(kv)


@query(
    "p02_mapreduce_wordcount",
    oracle="""
    SELECT term AS key, CAST(count(*) AS BIGINT) AS n
    FROM (
      SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                x -> x != '')) AS term
      FROM documents
    )
    GROUP BY 1
    """,
)
def p02_mapreduce_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical MapReduce word count — the reference's paradigm query —
    as explode + hash agg (Mapper O1 ≙ explode, Reducer O2 ≙ agg)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        # explode_outer + not-null: plain explode makes the optimizer
        # infer size(tokens)>0 and push it down with the split() inlined
        # (tokenization would run twice; see operators/dedup.py).
        docs.select(F.explode_outer(text.tokens("text")).alias("key"))
        .filter(F.col("key").isNotNull())
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "p03_pipeline_agg_fastpath",
    oracle="""
    SELECT term AS key, CAST(count(*) AS BIGINT) AS value
    FROM (
      SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'),
                                x -> x != '')) AS term
      FROM documents
    )
    GROUP BY 1
    """,
)
def p03_pipeline_agg_fastpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Pipeline kernel's declared-associativity fast path:
    ``reduce_agg`` lowers to ``groupBy().agg`` (map-side partial
    aggregation) instead of the whole-group ``applyInPandas`` that the
    general Reducer contract forces (SURVEY §4.3.2) — the API that lets
    a reference-style pipeline keep MapReduce semantics AND scale.
    Hash-matched against the same word count as p02."""
    from mapreducehs_spark.pipeline import Pipeline

    docs = _t(spark, sf_dir, "documents")
    kv = (
        docs.select(F.explode_outer(text.tokens("text")).alias("key"))
        .filter(F.col("key").isNotNull())
        .withColumn("value", F.lit(1).cast("bigint"))
    )
    return Pipeline().reduce_agg(F.sum("value").cast("bigint").alias("value")).run(kv)


