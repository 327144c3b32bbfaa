"""Deduplication queries (d-series).

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

from mapreducehs_spark.queries._registry import (  # noqa: F401
    ORACLE,
    QUERIES,
    STAGED_ORACLE,
    query,
)
from mapreducehs_spark.queries._shared import (  # noqa: F401
    _d11_oracle,
    _d15_oracle,
    _minhash_checked_ctes,
    _quality_losers,
    _quality_losers_ctes,
    _t,
)

# =========================================================================
# LLM pipeline: dedup (SURVEY §2.2, BASELINE.json mandate)
# =========================================================================

@query(
    "d01_dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash,
           count(*) AS n_dups,
           min(doc_id) AS keep_id
    FROM documents
    GROUP BY 1
    """,
)
def d01_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by content hash (operators/dedup.py).  The
    shuffle key is the 32-byte md5, not the document text."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.duplicate_groups(docs).select("content_hash", "n_dups", "keep_id")


@query(
    "d02_ngram_jaccard_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS t
      FROM documents
    ), pos AS (
      SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i
      FROM toks
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
      FROM pos
    ), sized AS (
      SELECT doc_id, count(*) AS set_size FROM sh GROUP BY 1
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(inter / CAST(sa.set_size + sb.set_size - inter AS DOUBLE), 6) AS jaccard
    FROM inter
    JOIN sized sa ON sa.doc_id = id_a
    JOIN sized sb ON sb.doc_id = id_b
    WHERE inter / CAST(sa.set_size + sb.set_size - inter AS DOUBLE) >= 0.12
    """,
)
def d02_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (the LSH verifier), via
    shingle explode + equi-join — never all-pairs."""
    with materialize(spark) as m:
        return m.result(_d02_pairs(m, _t(spark, sf_dir, "documents")))


def _d02_pairs(m: Materialization, docs: DataFrame) -> DataFrame:
    """d02's exact-Jaccard pair law, shared by d06 and d27's truth arm."""
    return dedup.ngram_jaccard_pairs(m, docs, n=3, threshold=0.12, max_shingle_df=None)


@query("d03_minhash_lsh_pairs")  # oracle attached below (_d11_oracle(0.375))
def d03_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH near-dup pairs — the scalable near-dup path, now
    running the engine-portable checked kernel by DEFAULT (round 6):
    md5-fold shingle ids + literal-seed permutations replay bit-for-bit
    in the DuckDB oracle (d11's renderer at a stricter 0.375 estimate
    threshold, i.e. ≥ 12/32 agreeing permutations).  The xxhash64
    vectorized formulation (dedup.minhash_lsh_pairs) remains the
    throughput alternate, benched as alt_d03 in bench.py and pinned
    against exact Jaccard in tests."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs_checked(docs, est_threshold=0.375)


@query("d04_simhash_pairs")  # oracle attached below (_d12_oracle(3))
def d04_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, engine-portable checked kernel by
    DEFAULT (round 6): md5-fold token hashes + frequency-weighted bit
    votes + 4×8-bit banding replay in DuckDB (d12's renderer at the
    looser hamming ≤ 3).  The 63-bit xxhash vectorized formulation
    (dedup.simhash_near_pairs) remains the throughput alternate
    (alt_d04 in bench.py), pinned in tests."""
    docs = _t(spark, sf_dir, "documents")
    with materialize(spark) as m:
        return dedup.simhash_checked(m, docs, max_hamming=3)


@query(
    "d05_embedding_near_dup",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
    """,
)
def d05_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, EXACT, via blocked matrix
    products (operators/similarity.all_pairs_cosine_blocked — one numpy
    matmul per block pair, each vector shuffled O(#blocks) times).

    Threshold 0.4 because this corpus has no high-cosine planted dups
    (max pairwise cosine ≈ 0.5-0.6 per SF) — a 0.9 threshold would make
    the query a vacuous empty-vs-empty oracle match.  The approximate
    scale path (SRP-LSH, similarity.cosine_pairs_lsh) is exercised by
    unit tests with planted duplicates instead, where its recall
    contract is meaningful."""
    from mapreducehs_spark.operators.similarity import all_pairs_cosine_blocked

    emb = _t(spark, sf_dir, "embeddings")
    with materialize(spark) as m:
        return m.result(all_pairs_cosine_blocked(m, emb, threshold=0.4))


@query(
    "d06_dup_clusters",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS t
      FROM documents
    ), pos AS (
      SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i
      FROM toks
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
      FROM pos
    ), sized AS (
      SELECT doc_id, count(*) AS set_size FROM sh GROUP BY 1
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), p AS (
      SELECT id_a, id_b
      FROM inter
      JOIN sized sa ON sa.doc_id = id_a
      JOIN sized sb ON sb.doc_id = id_b
      WHERE inter / CAST(sa.set_size + sb.set_size - inter AS DOUBLE) >= 0.12
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM p
      UNION
      SELECT id_b, id_a FROM p
    ), reach(src, dst) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, r.dst FROM edges e JOIN reach r ON e.dst = r.src
    )
    SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS rep_id
    FROM reach
    GROUP BY src
    """,
)
def d06_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster resolution: exact-Jaccard pairs (d02 semantics)
    resolved into connected components by iterative min-label
    propagation (dedup.resolve_duplicate_clusters) — each doc mapped to
    its cluster representative (min doc id).  The iterative Spark loop
    is oracle-checked against a DuckDB RECURSIVE transitive closure:
    genuinely-iterative dataflow, hash-matched anyway."""
    with materialize(spark) as m:
        return dedup.resolve_duplicate_clusters(_d02_pairs(m, _t(spark, sf_dir, "documents")))


@query("d07_near_dedup_drop_list")  # oracle attached below (_d15_oracle(0.25, 0.6))
def d07_near_dedup_drop_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup pipeline (the composed 100 TB shape):
    MinHash-LSH candidates → exact Jaccard verification on candidate
    docs only → duplicate-cluster resolution → the drop list
    (doc_id, rep_id) of every document whose cluster representative
    survives.  Runs the value-checked composition by DEFAULT (round 6):
    d11's replayable candidates + exact Jaccard at the stricter 0.6 +
    recursive-closure-equivalent cluster resolution, all replayed by
    the DuckDB oracle (d15's renderer).  The vectorized-hash candidate
    variant (dedup.near_dedup_drop_list) remains the throughput
    alternate (alt_d07 in bench.py), recall-pinned in tests."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.near_dedup_drop_list_checked(
        docs, est_threshold=0.25, jaccard_threshold=0.6
    )


@query(
    "d08_decontaminate",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS t
      FROM documents
    ), pos AS (
      SELECT doc_id, t, unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS i
      FROM toks
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS gram
      FROM pos
    ), bench AS (
      SELECT DISTINCT gram FROM sh WHERE doc_id % 50 = 0
    ), train AS (
      SELECT doc_id, gram FROM sh WHERE doc_id % 50 <> 0
    ), sized AS (
      SELECT doc_id, count(*) AS total_grams FROM train GROUP BY 1
    )
    SELECT t.doc_id AS id, any_value(s.total_grams) AS total_grams,
           CAST(count(*) AS BIGINT) AS hit_grams,
           round(count(*) / CAST(any_value(s.total_grams) AS DOUBLE), 6) AS hit_ratio
    FROM train t
    JOIN bench USING (gram)
    JOIN sized s ON s.doc_id = t.doc_id
    GROUP BY t.doc_id
    """,
)
def d08_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/eval decontamination (the pre-training hygiene pass): docs
    sharing any 8-word-gram with a held-out benchmark slice (doc_id %
    50 == 0 plays the eval set).  The benchmark's distinct gram hashes
    broadcast — the 100 TB training scan is shuffle-free up to the
    per-doc hit count over contaminated rows only (operators/dedup.py
    `decontaminate`)."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    return dedup.decontaminate(train, bench, n=8)


@query(
    "d09_incremental_dedup",
    oracle="""
    WITH batch AS (
      SELECT doc_id + 1000000 AS doc_id, source,
             CASE WHEN doc_id % 3 = 1 THEN text || ' updated' ELSE text END AS text
      FROM documents WHERE doc_id % 3 IN (0, 1)
    ), hist AS (
      SELECT DISTINCT md5(text) AS h FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS batch_n,
           CAST(sum(CASE WHEN h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
           CAST(sum(CASE WHEN h IS NULL THEN 1 ELSE 0 END) AS BIGINT)     AS n_new
    FROM batch LEFT JOIN hist ON md5(batch.text) = hist.h
    GROUP BY source
    """,
)
def d09_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup (the nightly pipeline op): a derived
    re-ingest batch — re-crawls (doc_id%3==0, unchanged text) and edits
    (doc_id%3==1, new content) — is deduped against the HISTORICAL
    CONTENT-HASH INDEX, never the raw corpus.  At 100 TB the index is
    the narrow (hash, keep_id) table maintained by d01; the increment
    (MBs-GBs) joins against it hash-to-hash, so nightly dedup cost is
    O(|increment| + index probe), not a corpus rescan.  Per-source
    accounting of dropped-as-duplicate vs genuinely-new."""
    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter((F.col("doc_id") % 3).isin(0, 1)).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "source",
        F.when(F.col("doc_id") % 3 == 1, F.concat(F.col("text"), F.lit(" updated")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    hist_idx = docs.select(F.md5("text").alias("h")).distinct()
    flagged = batch.join(
        hist_idx, F.md5(batch.text) == hist_idx.h, "left"
    )
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("batch_n"),
        F.sum(F.when(F.col("h").isNotNull(), 1).otherwise(0)).alias("n_dup"),
        F.sum(F.when(F.col("h").isNull(), 1).otherwise(0)).alias("n_new"),
    )


@query(
    "d10_chunk_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS t
      FROM documents
    ), idx AS (
      SELECT doc_id, source, t,
             unnest(range(0, greatest(CAST(ceil(len(t) / 16.0) AS BIGINT), 1))) AS i
      FROM toks
    ), ch AS (
      SELECT doc_id, source, md5(array_to_string(t[i*16+1 : i*16+16], ' ')) AS h
      FROM idx
      WHERE array_to_string(t[i*16+1 : i*16+16], ' ') != ''
    ), dpc AS (
      SELECT h, count(DISTINCT doc_id) AS n_docs_with FROM ch GROUP BY 1
    ), per_doc AS (
      SELECT ch.doc_id, ch.source,
             count(*) AS n_chunks,
             sum(CASE WHEN dpc.n_docs_with > 1 THEN 1 ELSE 0 END) AS n_dup
      FROM ch JOIN dpc USING (h)
      GROUP BY 1, 2
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chunks) AS BIGINT) AS chunk_instances,
           CAST(sum(n_dup) AS BIGINT) AS dup_instances,
           round(avg(n_dup / CAST(n_chunks AS DOUBLE)), 6) AS avg_dup_frac
    FROM per_doc
    GROUP BY source
    """,
)
def d10_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document chunk-level duplication profile per source
    (operators/dedup.chunk_dup_stats): 16-token chunks, md5 chunk keys,
    corpus-wide chunk frequency by hash aggregation — the boilerplate
    profile computed before paragraph-level dedup, with zero pairwise
    work (same scalability class as d01 exact dedup)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.chunk_dup_stats(docs, chunk_tokens=16)


@query("d11_minhash_checked", oracle=_d11_oracle())
def d11_minhash_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH with every stage value-checked: md5-fold shingle ids,
    literal-seed universal-hash permutations, concatenated band keys —
    the DuckDB oracle replays signatures, banding, candidate generation
    and the agreement estimate bit-for-bit
    (operators/dedup.minhash_lsh_pairs_checked).  d03 runs the same
    kernel at a stricter threshold; the vectorized throughput path is
    dedup.minhash_lsh_pairs (bench.py's alt_d03)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs_checked(docs, est_threshold=0.25)


def _d12_oracle(max_hamming: int = 2) -> str:
    """Render the d12 oracle from the same bit/band constants as
    operators/dedup.simhash_checked — hamming 2 for d12, 3 for d04."""
    from mapreducehs_spark.operators.dedup import SIMHASH_CHECK_BANDS, SIMHASH_CHECK_BITS

    bits, bands = SIMHASH_CHECK_BITS, SIMHASH_CHECK_BANDS
    bw = bits // bands
    bitsums = ",\n             ".join(
        f"sum(2*((x >> {k}) & 1) - 1) AS s{k}" for k in range(bits)
    )
    sigexpr = " + ".join(
        f"(CASE WHEN s{k} > 0 THEN 1::BIGINT ELSE 0 END << {k})" for k in range(bits)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'), t -> t != '')) AS tok
      FROM documents
    ), ids AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS x FROM toks
    ), bitsums AS (
      SELECT doc_id, {bitsums}
      FROM ids GROUP BY doc_id
    ), sigs AS (
      SELECT doc_id, {sigexpr} AS sig FROM bitsums
    ), banded AS (
      SELECT doc_id, b AS band, (sig >> ({bw}*b)) & {(1 << bw) - 1} AS bk
      FROM sigs, unnest(range(0, {bands})) AS u(b)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b, CAST(bit_count(xor(sa.sig, sb.sig)) AS BIGINT) AS hamming
    FROM cand c JOIN sigs sa ON sa.doc_id = c.id_a JOIN sigs sb ON sb.doc_id = c.id_b
    WHERE bit_count(xor(sa.sig, sb.sig)) <= {max_hamming}
    """


@query("d12_simhash_checked", oracle=_d12_oracle())
def d12_simhash_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with the whole pipeline value-checked
    (operators/dedup.simhash_checked): md5-fold token hashes,
    frequency-weighted per-bit majority votes, 4x8-bit banding, xor
    popcount verification — DuckDB replays all of it.  d04 runs the
    same kernel at hamming <= 3; the vectorized 63-bit throughput path
    is dedup.simhash_near_pairs (bench.py's alt_d04)."""
    docs = _t(spark, sf_dir, "documents")
    with materialize(spark) as m:
        return dedup.simhash_checked(m, docs, max_hamming=2)


@query("d15_near_dedup_checked", oracle=_d15_oracle())
def d15_near_dedup_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FLAGSHIP composed dedup pipeline, value-checked end to end:
    oracle-replayable MinHash-LSH candidates (d11's literal seeds) →
    exact per-pair Jaccard verification → connected-component
    resolution → the (doc_id, rep_id) drop list
    (operators/dedup.near_dedup_drop_list_checked).  d07 keeps the
    vectorized-hash throughput path with identical topology; this run
    proves the COMPOSITION — candidates, verify decisions, cluster
    reps, drop set — bit-for-bit against DuckDB's recursive-CTE
    replay."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.near_dedup_drop_list_checked(
        docs, est_threshold=0.25, jaccard_threshold=0.5
    )


# Round 6: the five formerly rows-only queries (VERDICT r05 §missing #1)
# now run the checked kernels by default, so they get full value-check
# oracles.  Attached here (not at the @query site) because the renderers
# live next to their twins, below the original query definitions.
ORACLE["d03_minhash_lsh_pairs"] = _d11_oracle(threshold=0.375)


ORACLE["d04_simhash_pairs"] = _d12_oracle(max_hamming=3)


ORACLE["d07_near_dedup_drop_list"] = _d15_oracle(
    est_threshold=0.25, jaccard_threshold=0.6
)


@query(
    "d16_embedding_dedup_drop_list",
    oracle="""
    WITH RECURSIVE p AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.4
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM p
      UNION
      SELECT id_b, id_a FROM p
    ), reach(src, dst) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, r.dst FROM edges e JOIN reach r ON e.dst = r.src
    )
    SELECT src AS vec_id, CAST(min(dst) AS BIGINT) AS rep_id
    FROM reach
    GROUP BY src
    HAVING src != min(dst)
    """,
)
def d16_embedding_dedup_drop_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC (embedding-space) dedup composed end to end: exact
    blocked-matmul cosine pairs (d05's operator) → connected-component
    resolution → the (vec_id, rep_id) drop list — the companion of
    d15's lexical pipeline for paraphrase-level duplicates that share
    no shingles.  Value-checked throughout: the pair stage is exact,
    and DuckDB replays the component closure recursively.  At 100 TB
    the pair stage swaps to SRP-LSH candidates (cosine_pairs_lsh) with
    the identical downstream; the drop-list contract is unchanged."""
    from mapreducehs_spark.operators.similarity import all_pairs_cosine_blocked

    emb = _t(spark, sf_dir, "embeddings")
    with materialize(spark) as m:
        pairs = all_pairs_cosine_blocked(m, emb, threshold=0.4).select("id_a", "id_b")
        clusters = dedup.resolve_duplicate_clusters(pairs)
    return (
        clusters.filter(F.col("doc_id") != F.col("rep_id"))
        .select(F.col("doc_id").alias("vec_id"), "rep_id")
    )


@query(
    "d13_containment_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS t
      FROM documents
    ), pos AS (
      SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i
      FROM toks
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
      FROM pos
    ), sized AS (
      SELECT doc_id, count(*) AS set_size FROM sh GROUP BY 1
    ), inter AS (
      SELECT a.doc_id AS id_small, b.doc_id AS id_big, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id != b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_small, id_big,
           round(inter / CAST(ss.set_size AS DOUBLE), 6) AS containment
    FROM inter
    JOIN sized ss ON ss.doc_id = id_small
    JOIN sized sb ON sb.doc_id = id_big
    WHERE inter / CAST(ss.set_size AS DOUBLE) >= 0.5
      AND ss.set_size < sb.set_size
    """,
)
def d13_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup: shingle containment |A∩B| / |A| ≥ 0.5 with
    |A| < |B| — catches short documents subsumed by longer ones
    (quote/excerpt dedup), which symmetric Jaccard misses because the
    size imbalance caps Jaccard at |A|/|B|.  Same candidates-then-
    measure shape as d02 (shared-shingle equi-join, never all-pairs);
    the direction filter keeps only small-inside-big rows.

    The join key is the 64-bit siphash of the shingle, not the string
    (half the shuffle width — the 100 TB choice); the intersection
    count therefore equals the string-set intersection only absent a
    within-pair 64-bit collision, a ~|A||B|/2^64 event that never
    fires at any tested scale.  The pair result is tiny, so it is
    materialized eagerly (the result checkpoint) and the shingle frame
    freed immediately — no cached blocks outlive the call."""
    from mapreducehs_spark.operators.dedup import hashed_shingle_rows

    docs = _t(spark, sf_dir, "documents")
    with materialize(spark) as m:
        ex = m.persist(hashed_shingle_rows(docs, "text", "doc_id", 3))
        a = ex.select(
            F.col("id").alias("id_small"), F.col("set_size").alias("size_small"), "shingle"
        )
        b = ex.select(F.col("id").alias("id_big"), F.col("set_size").alias("size_big"), "shingle")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("id_small") != F.col("id_big"))
            .groupBy("id_small", "id_big", "size_small", "size_big")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        return m.result(
            inter.withColumn(
                "containment",
                F.round(F.col("inter") / F.col("size_small").cast("double"), 6),
            )
            .filter((F.col("containment") >= 0.5) & (F.col("size_small") < F.col("size_big")))
            .select("id_small", "id_big", "containment")
        )


@query(
    "d14_fuzzy_name_match",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name AS name FROM part)
    SELECT a.name AS name_a, b.name AS name_b,
           CAST(levenshtein(a.name, b.name) AS BIGINT) AS edit_dist
    FROM names a JOIN names b
      ON a.name < b.name
     AND abs(length(a.name) - length(b.name)) <= 2
    WHERE levenshtein(a.name, b.name) <= 2
    """,
)
def d14_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution / fuzzy matching: distinct part-name pairs
    within Levenshtein distance 2, via complete length-band blocking
    (operators/dedup.fuzzy_name_pairs) — the record-linkage primitive
    (vendor/product name reconciliation) missing from pure
    equality-based dedup.  Both engines share the levenshtein
    definition, so the whole operator is value-checked."""
    part = _t(spark, sf_dir, "part")
    return dedup.fuzzy_name_pairs(part, "p_name", max_edit=2)


@query(
    "d17_sorted_neighborhood",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_sort(list_distinct(
               list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))) AS dt
      FROM documents
    ), keyed AS (
      SELECT doc_id, array_to_string(dt[1:3], '|') AS snm_key, dt FROM toks
    ), pos AS (
      SELECT doc_id, dt,
             row_number() OVER (ORDER BY snm_key ASC, doc_id ASC) AS pos
      FROM keyed
    ), cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.dt, b.dt)) AS inter,
             len(a.dt) AS na, len(b.dt) AS nb
      FROM pos a JOIN pos b ON b.pos - a.pos BETWEEN 1 AND 3
    )
    SELECT id_a, id_b,
           round(inter / CAST(na + nb - inter AS DOUBLE), 6) AS jaccard
    FROM cand
    WHERE na + nb <= 3 * inter
    """,
)
def d17_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood near-dedup (Hernández-Stolfo SNM) — the
    third blocking paradigm after hash-banding (d03/d11) and
    length-banding (d14): sort the corpus on a cluster-prone key (the
    3 lexicographically-smallest distinct tokens) and compare each doc
    only to its W=3 successors.  Candidate generation is a distributed
    RANGE SORT plus W narrow self-equi-joins on position — O(W·n)
    pairs total, never all-pairs, and no hash randomness, so unlike
    LSH the WHOLE operator (key, ordering, window, verification) is
    value-checked.  Positions come from sampling.global_positions
    (range-repartition + offsets — q89's machinery), not a single-task
    global window; the narrow (doc_id, pos) frame is checkpointed once
    so BOTH sides of the W-offset self-join read the same materialized
    positions and the full-width sorted cache is freed immediately; the
    duplicate-jaccard filter is the integer-exact form
    (na+nb ≤ 3·inter ⟺ J ≥ 0.5), so no float boundary exists."""
    from mapreducehs_spark.operators.sampling import global_positions

    docs = _t(spark, sf_dir, "documents")
    with materialize(spark) as m:
        # Tokenized once: the distinct-token frame feeds the key projection
        # AND both verify sides, and without a barrier the regex tokenize +
        # array_sort(array_distinct(...)) chain re-runs per reference
        # (measured: 2 extra corpus scans for ta/tb).
        toks = m.result(
            docs.select("doc_id", F.array_sort(F.array_distinct(text.tokens("text"))).alias("dt"))
        )
        keyed = toks.select(
            "doc_id",
            F.concat_ws("|", F.slice("dt", 1, 3)).alias("snm_key"),
            F.size("dt").alias("n_dt"),
        )
        pos = m.result(global_positions(m, keyed, ["snm_key", "doc_id"]).select("doc_id", "pos"))
    a = pos.select(F.col("doc_id").alias("id_a"), F.col("pos").alias("pos_a"))
    b = pos.select(F.col("doc_id").alias("id_b"), F.col("pos").alias("pos_b"))
    offsets = spark.range(1, 4).select(F.col("id").alias("off"))
    cand = (
        a.crossJoin(F.broadcast(offsets))
        .withColumn("pos_b", F.col("pos_a") + F.col("off"))
        .join(b, "pos_b")
        .select("id_a", "id_b")
    )
    ta = toks.select(F.col("doc_id").alias("id_a"), F.col("dt").alias("da"))
    tb = toks.select(F.col("doc_id").alias("id_b"), F.col("dt").alias("db"))
    verified = (
        cand.join(ta, "id_a")
        .join(tb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("da", "db")).alias("inter"),
            F.size("da").alias("na"),
            F.size("db").alias("nb"),
        )
        .filter(F.col("na") + F.col("nb") <= 3 * F.col("inter"))
    )
    return verified.select(
        "id_a",
        "id_b",
        F.round(
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"), 6
        ).alias("jaccard"),
    )


@query(
    "d18_prefix_filter_pairs",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS t
      FROM documents
    ), pos AS (
      SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i
      FROM toks
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
      FROM pos
    ), sized AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY 1
    ), dfw AS (
      SELECT doc_id, shingle,
             count(*) OVER (PARTITION BY shingle) AS df
      FROM sh
    ), pref AS (
      SELECT doc_id, shingle FROM (
        SELECT d.doc_id, d.shingle, z.n,
               row_number() OVER (PARTITION BY d.doc_id
                                  ORDER BY d.df ASC, d.shingle ASC) AS rr
        FROM dfw d JOIN sized z USING (doc_id)
      ) WHERE rr <= n - (n + 1) // 2 + 1
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM pref a JOIN pref b USING (shingle)
      WHERE a.doc_id < b.doc_id
    ), inter AS (
      SELECT c.id_a, c.id_b, count(*) AS inter
      FROM cand c
      JOIN sh a ON a.doc_id = c.id_a
      JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(inter / CAST(sa.n + sb.n - inter AS DOUBLE), 6) AS jaccard
    FROM inter
    JOIN sized sa ON sa.doc_id = id_a
    JOIN sized sb ON sb.doc_id = id_b
    WHERE sa.n + sb.n <= 3 * inter
    """,
)
def d18_prefix_filter_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtering set-similarity join (Chaudhuri SSJoin /
    Bayardo AllPairs) — the FOURTH candidate-generation paradigm in the
    dedup suite after hash-banding (d03/d11), length-banding (d14) and
    sorted-neighborhood (d17), on d02's 3-gram shingle sets at Jaccard
    >= 0.5, and like d17 fully deterministic (no hash randomness), so
    the ENTIRE operator is value-checked.  Principle: rank the shingle
    vocabulary by ascending document frequency (rarest first) and index
    only each document's first ``|S| - ceil(0.5*|S|) + 1`` shingles in
    that order; two sets with J >= 0.5 MUST share an indexed prefix
    shingle, so candidates come from an equi-join on RARE shingles only
    — the stop-shingles that make the naive token-join quadratic (and
    skewed) never enter the index.  At scale: the vocabulary rank is a
    scalable distributed sort (sampling.global_positions — shingle
    vocabulary is corpus-sized, NOT broadcast), the prefix index halves
    the posting list, and the candidate join is skew-free by
    construction (rare shingles have short postings).  Verification is
    an exact intersection count on candidates only (na+nb <= 3*inter
    <=> J >= 0.5); never all-pairs."""
    docs = _t(spark, sf_dir, "documents")
    # three plan subtrees (prefix index, both verify sides) read the
    # shingle ARRAYS — persist the doc-count-sized array frame so
    # tokenize+shingle runs once
    with materialize(spark) as m:
        shf = m.persist(dedup.shingle_frame(docs, "text", "doc_id", 3))
        rows = shf.select(
            F.col("id").alias("doc_id"),
            F.size("sh").alias("n"),
            F.explode_outer("sh").alias("shingle"),
        ).filter(F.col("shingle").isNotNull())
        # document frequency as a window over the shingle partitioning, and
        # the prefix rank as a window over the doc partitioning ordered by
        # (df, shingle) — same selection as a global df-rank join, minus the
        # vocabulary sort and its join (two shuffles total, both corpus-wide
        # but narrow)
        wf = Window.partitionBy("shingle")
        wd = Window.partitionBy("doc_id").orderBy(F.col("df").asc(), F.col("shingle").asc())
        pref = (
            rows.withColumn("df", F.count(F.lit(1)).over(wf))
            .withColumn("rr", F.row_number().over(wd))
            .filter(F.col("rr") <= F.expr("n - (n + 1) div 2 + 1"))
            .select("doc_id", "shingle")
        )
        a = pref.select(F.col("doc_id").alias("id_a"), "shingle")
        b = pref.select(F.col("doc_id").alias("id_b"), "shingle")
        cand = (
            a.join(b, "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        # verify on the candidate pairs only, intersecting the shingle
        # ARRAYS in-place (array_intersect is a codegen'd set intersection
        # over the two ~100-element arrays) — two narrow id-keyed joins
        # replace the explode-join + groupBy count of the postings
        # formulation: no shingle-row shuffle, no pair-count aggregation
        sa = shf.select(
            F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.size("sh").alias("na")
        )
        sb = shf.select(
            F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.size("sh").alias("nb")
        )
        return m.result(
            cand.join(sa, "id_a")
            .join(sb, "id_b")
            .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
            .filter(F.col("na") + F.col("nb") <= 3 * F.col("inter"))
            .select(
                "id_a",
                "id_b",
                F.round(
                    F.col("inter")
                    / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
                    6,
                ).alias("jaccard"),
            )
        )


@query(
    "d19_duplicate_spans",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS t
      FROM documents
    ), pos AS (
      SELECT doc_id, t, unnest(range(1, greatest(len(t) - 4, 0) + 1)) AS i
      FROM toks
    ), kg AS (
      SELECT doc_id, i,
             ('0x' || substr(md5(array_to_string(t[i:i+4], ' ')), 1, 12))::BIGINT AS h
      FROM pos
    ), cnt AS (
      SELECT h, count(*) AS nh FROM kg GROUP BY h
    ), dup AS (
      SELECT doc_id, i FROM kg JOIN cnt USING (h) WHERE nh >= 2
    ), brk AS (
      SELECT doc_id, i,
             CASE WHEN i - lag(i) OVER (PARTITION BY doc_id ORDER BY i) <= 5
                  THEN 0 ELSE 1 END AS b
      FROM dup
    ), grp AS (
      SELECT doc_id, i,
             sum(b) OVER (PARTITION BY doc_id ORDER BY i
                          ROWS UNBOUNDED PRECEDING) AS g
      FROM brk
    ), spans AS (
      SELECT doc_id, g, min(i) AS s, max(i) AS e FROM grp GROUP BY doc_id, g
    )
    SELECT doc_id,
           count(*) AS n_dup_spans,
           CAST(sum(e - s + 5) AS BIGINT) AS dup_tokens
    FROM spans GROUP BY doc_id
    """,
)
def d19_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT duplicated-passage detection — the ExactSubstr flavor of
    training-data dedup (Lee et al. 2022 "Deduplicating Training Data
    Makes Language Models Better") at k-gram granularity: every 5-token
    window whose hash occurs >= 2 times ANYWHERE in the corpus
    (cross-document or internal repetition alike) marks its positions
    duplicated, and per document the marked positions merge into
    maximal spans (gap <= k keeps the token-coverage union exact), the
    report a dedup pass uses to cut repeated passages rather than whole
    documents.  Replaces the suffix array of the paper with the
    MR-friendly equivalent: a token-scale k-gram count shuffle +
    co-partitioned join back (never pairwise, never a global sort),
    then ONE doc_id shuffle for the gaps-and-islands span merge —
    d10/t21's scalability class.  md5-fold hashes keep it
    engine-portable, so the whole operator value-checks."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select("doc_id", text.tokens("text").alias("t"))
    pos = (
        toks.filter(F.size("t") >= 5)
        .select(
            "doc_id",
            "t",
            F.explode_outer(F.sequence(F.lit(1), F.size("t") - 4)).alias("i"),
        )
        .filter(F.col("i").isNotNull())
    )
    kg = pos.select(
        "doc_id",
        "i",
        F.conv(
            F.substring(F.md5(F.concat_ws(" ", F.slice("t", F.col("i"), 5))), 1, 12),
            16,
            10,
        )
        .cast("bigint")
        .alias("h"),
    )
    # corpus-wide occurrence count as a window over the h partitioning
    # (round 12, d18's df discipline): ONE exchange of the k-gram rows
    # replaces the separate count aggregate + join back — and the
    # md5-fold k-gram hashing runs once instead of once per reference
    # (guide §2.4; at 100 TB that is hashing the corpus once, not twice).
    # SKEW CAVEAT (ADVICE r12): unlike the old groupBy+join form, a
    # window count has no map-side partial aggregation and AQE cannot
    # skew-split it, so ONE very hot 5-gram hash (a boilerplate passage
    # repeated across a large corpus slice) sorts all its instance rows
    # on one task.  The join form was no safer in bytes (it also
    # shuffled full rows by h) but did split; if profiling at larger SFs
    # shows hot-hash stragglers, guard with a two-level count
    # (count per (h, salt), then sum over salts joined back) — not done
    # pre-emptively because the salted form costs a second exchange on
    # every corpus, hot or not (the d32 hot-band adjudication measured
    # exactly that trade going the wrong way on real fixtures).
    wh = Window.partitionBy("h")
    dup = (
        kg.withColumn("nh", F.count(F.lit(1)).over(wh))
        .filter(F.col("nh") >= 2)
        .select("doc_id", "i")
    )
    wl = Window.partitionBy("doc_id").orderBy(F.col("i").asc())
    brk = dup.select(
        "doc_id",
        "i",
        F.when(F.col("i") - F.lag("i").over(wl) <= 5, 0).otherwise(1).alias("b"),
    )
    grp = brk.select(
        "doc_id",
        "i",
        F.sum("b").over(wl.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("g"),
    )
    spans = grp.groupBy("doc_id", "g").agg(F.min("i").alias("s"), F.max("i").alias("e"))
    return spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s") + 5).alias("dup_tokens"),
    )


def _d20_oracle() -> str:
    return f"""
    WITH {_quality_losers_ctes()}
    SELECT m.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(l.doc_id) AS BIGINT) AS n_dropped,
           CAST(count(*) - count(l.doc_id) AS BIGINT) AS n_kept
    FROM meta m LEFT JOIN losers l ON l.doc_id = m.doc_id
    GROUP BY m.source
    """


@query("d20_quality_canonical", oracle=_d20_oracle())
def d20_quality_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection — near-dedup that keeps the
    BEST version instead of an arbitrary one: d11's fully value-checked
    MinHash-LSH candidates, each pair dropping its lower-quality member
    (shorter n_chars; ties → higher doc_id), the "keep the longest
    variant" heuristic real training pipelines apply to near-dup
    clusters.  Candidates come from banded LSH (never all-pairs, d11's
    scale shape); the quality lookup joins the candidate-pair frame
    (≪ corpus) against the narrow (doc_id, n_chars) projection; the
    final rollup is a per-source LEFT anti-style count.  Unlike d07's
    cluster resolution (transitive closure, min-id survivor), this is
    the greedy pairwise-dominance drop — both are offered because both
    exist in production dedup stacks; composition with d06 resolution
    is a one-line change."""
    docs = _t(spark, sf_dir, "documents")
    meta = docs.select("doc_id", "source", "n_chars")
    losers = _quality_losers(docs)
    return (
        meta.join(losers, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count("__dropped").cast("bigint").alias("n_dropped"),
            (F.count(F.lit(1)) - F.count("__dropped")).cast("bigint").alias("n_kept"),
        )
    )


def _d21_oracle() -> str:
    """d21: component-min closure over the d11 checked candidate graph
    (shared CTEs), replayed with a recursive CTE — the same closure
    d15's oracle uses, minus the exact-verify refinement stage."""
    ctes, agree, np_ = _minhash_checked_ctes()
    return f"""
    WITH RECURSIVE {ctes},
    est AS (
      SELECT c.id_a, c.id_b
      FROM cand c JOIN sigs sa ON sa.doc_id = c.id_a JOIN sigs sb ON sb.doc_id = c.id_b
      WHERE ({agree}) / {float(np_)} >= 0.25
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM est
      UNION
      SELECT id_b, id_a FROM est
    ), reach(src, dst) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, r.dst FROM edges e JOIN reach r ON e.dst = r.src
    )
    SELECT src AS node, CAST(min(dst) AS BIGINT) AS rep
    FROM reach
    GROUP BY src
    HAVING src != min(dst)
    """


@query("d21_star_components", oracle=_d21_oracle())
def d21_star_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components via LARGE-STAR/SMALL-STAR alternation
    (operators/dedup.connected_components_star) over d11's checked
    MinHash candidate graph — the O(log² n)-round web-scale CC
    algorithm next to d06's hash-to-min label propagation, which needs
    O(diameter) rounds and straggles on chain-shaped duplicate
    clusters.  Both reach the same unique fixpoint (node → component
    minimum), so the star schedule value-checks against the
    recursive-CTE closure bit-for-bit; equivalence with the union-find
    resolver is additionally pinned in tests."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs_checked(docs, est_threshold=0.25).select(
        "id_a", "id_b"
    )
    return dedup.connected_components_star(pairs)


@query(
    "d22_semantic_dedup",
    oracle="""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[], x -> floor(x * 1000)) AS v
      FROM embeddings
    ), seeds AS (
      SELECT vec_id AS cid, v AS cv FROM e ORDER BY vec_id LIMIT 32
    ), assign AS (
      SELECT vec_id, cluster FROM (
        SELECT e.vec_id, s.cid AS cluster,
               row_number() OVER (
                 PARTITION BY e.vec_id
                 ORDER BY list_distance(e.v, s.cv) ASC, s.cid ASC
               ) AS rn
        FROM e, seeds s
      ) WHERE rn = 1
    ), nrm AS (
      SELECT vec_id, CAST(list_dot_product(v, v) AS BIGINT) AS n2 FROM e
    ), pairs AS (
      SELECT b.vec_id AS ib, a.vec_id AS ia,
             CAST(list_dot_product(ea.v, eb.v) AS BIGINT) AS dot,
             na.n2 AS n2a, nb.n2 AS n2b
      FROM assign a JOIN assign b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
      JOIN e ea ON ea.vec_id = a.vec_id
      JOIN e eb ON eb.vec_id = b.vec_id
      JOIN nrm na ON na.vec_id = a.vec_id
      JOIN nrm nb ON nb.vec_id = b.vec_id
    ), dom AS (
      SELECT ib AS vec_id, min(ia) AS rep_id
      FROM pairs
      WHERE dot > 0 AND 25 * dot * dot >= 4 * n2a * n2b
      GROUP BY ib
    )
    SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
           coalesce(d.rep_id, a.vec_id) AS rep_id,
           (d.rep_id IS NULL) AS kept
    FROM assign a LEFT JOIN dom d USING (vec_id)
    """,
)
def d22_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEMANTIC dedup (round 7, VERDICT r06 item 5) — the embedding-
    space paradigm that completes the dedup matrix along the
    token/fuzzy/SEMANTIC axis (SemDeDup, Abbas et al. 2023): cluster
    the corpus (integer squared-L2 assignment to the 32 lowest-vec_id
    seed vectors — the s06 data-seeded-codebook convention), then
    within each cluster drop every member near-identical (quantized
    cosine >= 0.4, s08's integer law as the exact cross-multiplication
    25*dot^2 >= 4*|a|^2*|b|^2) to a lower-id cluster-mate.  Threshold
    0.4 for the same reason as d05: this corpus plants no high-cosine
    dups (max pairwise cosine ~ 0.5-0.6), so 0.9 would be a vacuous
    empty-vs-empty match.  Output is the d20-style LINEAR contract
    (vec_id, cluster, rep_id, kept) — one row per vector, rep_id = the
    lowest dominating cluster-mate, pair matrix internal only.  Plan
    (pinned): one Arrow assignment pass against the broadcast seed
    matrix, ONE shuffle on cluster into a blocked-Gram Arrow dominance
    kernel — pairs never cross clusters, so cost is sum(|cluster|^2)
    with k scaling ~ n at 100 TB (operators/dedup.semantic_dedup)."""
    emb = _t(spark, sf_dir, "embeddings")
    return dedup.semantic_dedup(emb, n_clusters=32, tau_num=2, tau_den=5)


def _d23_oracle() -> str:
    """d23: d07's committed drop-list law (the full checked-minhash →
    exact-Jaccard → recursive-closure composition) wrapped as a CTE,
    every document's class representative = coalesce(rep, self), and
    the split is the md5-fold of the REP (never the member) mod 10 —
    so the whole near-dup class lands in one split by construction."""
    inner = _d15_oracle(est_threshold=0.25, jaccard_threshold=0.6)
    fold = (
        "('0x' || substr(md5(CAST(coalesce(dl.rep_id, d.doc_id) AS VARCHAR)"
        " || ':split'), 1, 12))::BIGINT % 10"
    )
    return f"""
    WITH dl AS (
      SELECT * FROM ({inner}) AS q
    )
    SELECT d.doc_id,
           coalesce(dl.rep_id, d.doc_id) AS rep_id,
           CASE
             WHEN {fold} < 8 THEN 'train'
             WHEN {fold} = 8 THEN 'val'
             ELSE 'test'
           END AS split
    FROM documents d LEFT JOIN dl USING (doc_id)
    """


@query("d23_leakage_safe_split", oracle=_d23_oracle())
def d23_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/val/test split — the assignment every honest
    eval pipeline needs: splitting by per-document hash leaks whenever
    two near-duplicates straddle the boundary (the train/test
    contamination d08 measures after the fact), so the split key here
    is the NEAR-DUP CLASS REPRESENTATIVE, not the document.  d07's
    value-checked pipeline (checked MinHash-LSH candidates → exact
    Jaccard ≥ 0.6 → connected components) resolves each doc to its
    class rep; the md5-fold of the rep mod 10 buckets 80/10/10 into
    train/val/test; every member inherits its rep's bucket, so no
    near-dup pair can ever cross splits — the guarantee is structural,
    not statistical.  Output is one row per document (doc_id, rep_id,
    split): linear, the d20/d22 contract.  At 100 TB this adds ONE
    broadcast-sized left join onto the dedup pipeline the corpus
    already runs — the split is free once dedup exists, which is the
    operational argument for doing it this way (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better",
    observed test-set leakage motivation)."""
    docs = _t(spark, sf_dir, "documents")
    drop = dedup.near_dedup_drop_list_checked(
        docs, est_threshold=0.25, jaccard_threshold=0.6
    )
    rep = F.coalesce(F.col("rep_id"), F.col("doc_id"))
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(rep.cast("string"), F.lit(":split"))), 1, 12),
            16,
            10,
        ).cast("bigint")
        % 10
    )
    return (
        docs.select("doc_id")
        .join(drop, "doc_id", "left")
        .select(
            "doc_id",
            rep.alias("rep_id"),
            F.when(bucket < 8, "train")
            .when(bucket == 8, "val")
            .otherwise("test")
            .alias("split"),
        )
    )


@query(
    "d24_cdc_chunk_dedup",
    oracle="""
    WITH toks AS (
      SELECT doc_id, source,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS t
      FROM documents
    ), nt AS (
      SELECT * FROM toks WHERE len(t) >= 1
    ), pos AS (
      SELECT doc_id, t, unnest(range(1, len(t) + 1)) AS j FROM nt
    ), cut AS (
      SELECT doc_id, j,
             CASE WHEN j >= 3 AND
                  ('0x' || substr(md5(array_to_string(t[j-2:j], ' ')), 1, 12))::BIGINT
                    % 16 = 0
             THEN 1 ELSE 0 END AS c
      FROM pos
    ), cid AS (
      SELECT doc_id, j,
             coalesce(sum(c) OVER (PARTITION BY doc_id ORDER BY j
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk_id
      FROM cut
    ), spans AS (
      SELECT doc_id, chunk_id, min(j) AS j0, count(*) AS n_tokens
      FROM cid GROUP BY 1, 2
    ), chunks AS (
      SELECT s.doc_id, nt.source, s.n_tokens,
             substr(md5(array_to_string(t[s.j0 : s.j0 + s.n_tokens - 1], ' ')), 1, 16)
               AS chunk_hash
      FROM spans s JOIN nt USING (doc_id)
    ), docs_per AS (
      SELECT chunk_hash, count(DISTINCT doc_id) AS n_docs_with
      FROM chunks GROUP BY 1
    )
    SELECT c.source,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(CASE WHEN n_docs_with >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS dup_chunks,
           CAST(sum(CASE WHEN n_docs_with >= 2 THEN 1 ELSE 0 END) * 1000000
                // count(*) AS BIGINT) AS dup_ratio_micro,
           CAST(sum(n_tokens) * 1000000 // count(*) AS BIGINT)
             AS avg_chunk_tokens_micro
    FROM chunks c JOIN docs_per USING (chunk_hash)
    GROUP BY 1
    """,
)
def d24_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking duplication profile per source — the
    storage-dedup boundary rule (Rabin fingerprinting; Xia et al. 2016
    FastCDC) applied to training text: a chunk ends wherever the
    3-gram ending at that token md5-folds to 0 mod 16 (expected chunk
    ~16 tokens), so chunk identities are INSERTION-STABLE — editing a
    document's opening paragraph reframes none of its later chunks,
    which is exactly the failure mode of d10's fixed-width chunks.
    Duplicated instance = chunk hash present in ≥ 2 distinct docs; the
    per-source report mirrors d10 so the two chunking disciplines are
    directly comparable on the same corpus.  All integer/md5-fold
    arithmetic (d11 discipline) → bit-for-bit oracle replay.
    Shape: scan-side gram hashing, ONE per-doc window for the
    cut→chunk-id prefix sum, hash-keyed chunk-frequency aggregation —
    zero pairwise work (operators/dedup.content_defined_chunks)."""
    docs = _t(spark, sf_dir, "documents")
    chunks = dedup.content_defined_chunks(docs, divisor=16)
    docs_per = chunks.groupBy("chunk_hash").agg(
        F.countDistinct("id").alias("n_docs_with")
    )
    return (
        chunks.join(docs_per, "chunk_hash")
        .groupBy(F.col("facet").alias("source"))
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("n_docs_with") >= 2, 1).otherwise(0)).alias(
                "dup_chunks"
            ),
            F.sum("n_tokens").alias("__sum_tokens"),
        )
        .select(
            "source",
            "n_chunks",
            "dup_chunks",
            F.expr("dup_chunks * 1000000L div n_chunks").alias("dup_ratio_micro"),
            F.expr("__sum_tokens * 1000000L div n_chunks").alias(
                "avg_chunk_tokens_micro"
            ),
        )
    )


#: d09's derived re-ingest batch (re-crawls + edits), shared by d25.
_D25_BATCH_CTE = """
    batch AS (
      SELECT doc_id + 1000000 AS doc_id, source,
             CASE WHEN doc_id % 3 = 1 THEN text || ' updated' ELSE text END AS text
      FROM documents WHERE doc_id % 3 IN (0, 1)
    )"""


@query(
    "d25_bloom_dedup",
    oracle="""
    WITH """ + _D25_BATCH_CTE + """,
    hist AS (
      SELECT DISTINCT md5(text) AS h FROM documents
    ), hpos AS (
      SELECT ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || text), 1, 12))::BIGINT
               % 1048576 AS p
      FROM documents, unnest(range(4)) tj(j)
    ), bloom AS (
      SELECT p // 32 AS word, bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS w
      FROM hpos GROUP BY 1
    ), probe AS (
      SELECT b.doc_id, b.source,
             ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || b.text), 1, 12))::BIGINT
               % 1048576 AS p
      FROM batch b, unnest(range(4)) tj(j)
    ), hits AS (
      SELECT doc_id, source,
             min(CASE WHEN (bl.w >> CAST(p % 32 AS INT)) & 1 = 1
                      THEN 1 ELSE 0 END) AS all_set
      FROM probe LEFT JOIN bloom bl ON bl.word = p // 32
      GROUP BY 1, 2
    ), flags AS (
      SELECT h2.doc_id, h2.source, h2.all_set,
             CASE WHEN hist.h IS NOT NULL THEN 1 ELSE 0 END AS is_dup
      FROM hits h2
      JOIN batch USING (doc_id)
      LEFT JOIN hist ON md5(batch.text) = hist.h
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS batch_n,
           CAST(sum(all_set) AS BIGINT) AS n_bloom_pos,
           CAST(sum(is_dup) AS BIGINT) AS n_true_dup,
           CAST(sum(CASE WHEN all_set = 1 AND is_dup = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_false_pos,
           CAST(sum(CASE WHEN all_set = 1 AND is_dup = 0 THEN 1 ELSE 0 END)
                * 1000000
                // greatest(count(*) - sum(is_dup), 1) AS BIGINT) AS fpr_micro
    FROM flags
    GROUP BY 1
    """,
)
def d25_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup against a BLOOM-FILTER content index — the
    space-bounded sibling of d09: where d09 probes the exact per-doc
    hash index by shuffle join, d25 builds a k=4 / m=2^20-bit Bloom
    filter over history (dedup.bloom_text_index: seeded md5-folds,
    32-bit words, ONE partial-aggregatable bit_or shuffle) and
    BROADCASTS it to the increment scan — the index is O(m) bits no
    matter how big history grows, which is the play when history is
    100 TB and the nightly increment is GBs (Bloom 1970; the q92
    runtime-filter trick promoted to a persistent index).  Bloom
    positives that the exact md5 join refutes are FALSE POSITIVES; the
    report measures the realized FPR per source in integer micro-units
    (no false negatives is structural — every true dup's bits were
    set).  All integer/md5-fold arithmetic replays bit-for-bit in the
    oracle, including the filter words themselves."""
    docs = _t(spark, sf_dir, "documents")
    batch = docs.filter((F.col("doc_id") % 3).isin(0, 1)).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "source",
        F.when(F.col("doc_id") % 3 == 1, F.concat(F.col("text"), F.lit(" updated")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    bloom = dedup.bloom_text_index(docs)
    probe = batch.select(
        "doc_id",
        "source",
        F.explode(F.array(*dedup._bloom_positions(F.col("text")))).alias("p"),
    ).withColumn("word", F.expr("p div 32"))
    hits = (
        probe.join(F.broadcast(bloom), "word", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.min(
                F.when(
                    F.expr("shiftright(w, CAST(p % 32 AS INT)) & 1") == 1, 1
                ).otherwise(0)
            ).alias("all_set")
        )
    )
    hist = docs.select(F.md5("text").alias("h")).distinct()
    flags = (
        hits.join(batch, ["doc_id", "source"])
        .join(hist, F.md5(F.col("text")) == F.col("h"), "left")
        .select(
            "source",
            "all_set",
            F.when(F.col("h").isNotNull(), 1).otherwise(0).alias("is_dup"),
        )
    )
    fp = F.sum(F.when((F.col("all_set") == 1) & (F.col("is_dup") == 0), 1).otherwise(0))
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).alias("batch_n"),
        F.sum("all_set").cast("bigint").alias("n_bloom_pos"),
        F.sum("is_dup").cast("bigint").alias("n_true_dup"),
        fp.cast("bigint").alias("n_false_pos"),
        F.expr(
            "CAST(sum(CASE WHEN all_set = 1 AND is_dup = 0 THEN 1 ELSE 0 END)"
            " * 1000000L div greatest(count(*) - sum(is_dup), 1) AS BIGINT)"
        ).alias("fpr_micro"),
    )


def _d26_oracle(threshold: float = 0.25) -> str:
    """Bipartite checked-MinHash decontamination oracle: the d11 CTE
    law (shingles → md5-fold ids → literal-seed signatures → banding)
    over ALL documents, split train/eval at candidate time, with d26's
    per-train-doc best-match tail.  ``threshold`` must be dyadic
    (k/16) so both engines compare identically."""
    from mapreducehs_spark.operators.dedup import (
        MINHASH_CHECK_BANDS,
        MINHASH_CHECK_NUM_PERM,
        minhash_check_seeds,
    )

    a, b = minhash_check_seeds()
    np_, nb = MINHASH_CHECK_NUM_PERM, MINHASH_CHECK_BANDS
    rows = np_ // nb
    mins = ",\n             ".join(
        f"min(({a[i]}*x + {b[i]}) % 2147483647) AS m{i}" for i in range(np_)
    )
    bkeys = ", ".join(
        "concat_ws('_', "
        + ", ".join(f"m{bi * rows + r}" for r in range(rows))
        + f") AS bk{bi}"
        for bi in range(nb)
    )
    unions = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, bk{bi} AS bk FROM bandcols" for bi in range(nb)
    )
    agree = " + ".join(f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(np_))
    return f"""
    WITH toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS t
      FROM documents
    ), pos AS (
      SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i FROM toks
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s FROM pos
    ), ids AS (
      SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS x FROM sh
    ), sigs AS (
      SELECT doc_id, {mins}
      FROM ids GROUP BY doc_id
    ), bandcols AS (
      SELECT doc_id, {bkeys} FROM sigs
    ), banded AS ({unions}),
    cand AS (
      SELECT DISTINCT t.doc_id AS id, e.doc_id AS eval_id
      FROM banded t JOIN banded e ON t.band = e.band AND t.bk = e.bk
      WHERE t.doc_id % 50 <> 0 AND e.doc_id % 50 = 0
    ), scored AS (
      SELECT c.id, c.eval_id, round(({agree}) / {float(np_)}, 6) AS est
      FROM cand c
      JOIN sigs sa ON sa.doc_id = c.id
      JOIN sigs sb ON sb.doc_id = c.eval_id
      WHERE ({agree}) / {float(np_)} >= {threshold}
    ), best AS (
      SELECT id, CAST(count(*) AS BIGINT) AS n_eval_matches, max(est) AS est_jaccard
      FROM scored GROUP BY id
    )
    SELECT b.id, b.n_eval_matches, min(s.eval_id) AS top_eval_id, b.est_jaccard
    FROM best b JOIN scored s ON s.id = b.id AND s.est = b.est_jaccard
    GROUP BY b.id, b.n_eval_matches, b.est_jaccard
    """


@query("d26_decontaminate_fuzzy", oracle=_d26_oracle())
def d26_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FUZZY eval-set decontamination — the MinHash complement of d08's
    exact 8-gram pass: catches PARAPHRASED benchmark leakage (reordered
    or lightly edited eval questions) that verbatim n-gram matching
    structurally misses.  The scale shape is the decontamination ideal:
    both sides build checked-law MinHash signatures with ZERO wide
    dependency (one row-local F.aggregate fold per doc —
    dedup.minhash_sigs_scan_shaped, plan is Scan→Filter→Project), the
    MB-scale eval side broadcasts twice (banded keys + signatures), and
    the TB-scale training scan meets it in map-side broadcast joins —
    the only shuffle anywhere is the final per-doc aggregate over
    contaminated candidates.  Per flagged training doc: match count,
    best-matching eval doc (lowest id at max estimate — deterministic),
    and the max estimated Jaccard.  Oracle replays signatures, banding,
    the bipartite candidate join and the best-match tail bit-for-bit
    (reference witness: the O1+O2 composition discipline,
    src/Core/MapReduceC.hs:22-104)."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    with materialize(spark) as m:
        return dedup.decontaminate_fuzzy(m, train, bench, est_threshold=0.25)


# =========================================================================
# Round 7 (14): dedup-quality evaluation (LSH recall/precision)
# =========================================================================


@query(
    "d27_lsh_quality_report",
    oracle="""
    WITH truth AS (
      SELECT id_a, id_b FROM (""" + ORACLE["d02_ngram_jaccard_pairs"] + """
      ) WHERE jaccard >= 0.5
    ), lsh AS (
      SELECT id_a, id_b FROM (""" + _d11_oracle(threshold=0.25) + """
      )
    ), hit AS (
      SELECT count(*) AS n FROM truth JOIN lsh USING (id_a, id_b)
    )
    SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
           CAST((SELECT count(*) FROM lsh) AS BIGINT) AS n_lsh,
           CAST(hit.n AS BIGINT) AS n_hit,
           CAST((hit.n * 1000000) // (SELECT count(*) FROM truth) AS BIGINT)
             AS recall_micro,
           CAST((hit.n * 1000000) // (SELECT count(*) FROM lsh) AS BIGINT)
             AS precision_micro
    FROM hit
    """,
)
def d27_lsh_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP-QUALITY evaluation — the s13/s15 recall-report discipline
    applied to the DEDUP family: how good is the scalable LSH arm
    against exact ground truth?  Truth = d02's exact 3-gram Jaccard
    pairs at J >= 0.5 (the dedup decision threshold); candidate arm =
    d11's checked MinHash pipeline at estimate >= 0.25 (8 of 32
    permutations — deliberately loose, LSH's recall-first posture).
    The report is ONE row: pair counts, hits, recall and precision in
    integer micro-units — the measurement a 100 TB dedup config change
    (bands, permutations, thresholds) is judged by before it ships.
    Both arms are the ALREADY-value-checked laws composed (the t27/d23
    composition discipline), so the whole evaluation replays
    bit-for-bit; cost is the two arms plus a pair-keyed join, and the
    truth arm's shingle equi-join is the same never-all-pairs plan d02
    pins."""
    docs = _t(spark, sf_dir, "documents")
    lsh = dedup.minhash_lsh_pairs_checked(docs, est_threshold=0.25).select("id_a", "id_b")
    # ONE action for all three counts (round 12, guide §2.6): the old
    # three-count form (truth.count(), lsh.count(), join().count()) ran
    # three jobs, and the third recomputed BOTH arms from the scan —
    # exchange reuse does not span actions.  Both pair sets are unique
    # by construction (grouped / dropDuplicates), so marker counts over
    # one full-outer join are exactly the three counts.
    with materialize(spark) as m:
        truth = _d02_pairs(m, docs).filter(F.col("jaccard") >= 0.5).select("id_a", "id_b")
        row = (
            truth.withColumn("__t", F.lit(1))
            .join(lsh.withColumn("__l", F.lit(1)), ["id_a", "id_b"], "full_outer")
            .agg(
                F.count("__t").alias("nt"),
                F.count("__l").alias("nl"),
                F.count(F.when(F.col("__t").isNotNull() & F.col("__l").isNotNull(), 1)).alias("nh"),
            )
            .collect()[0]
        )
    n_truth, n_lsh, n_hit = int(row["nt"]), int(row["nl"]), int(row["nh"])
    return spark.createDataFrame(
        [
            (
                n_truth,
                n_lsh,
                n_hit,
                (n_hit * 1_000_000) // n_truth,
                (n_hit * 1_000_000) // n_lsh,
            )
        ],
        "n_truth bigint, n_lsh bigint, n_hit bigint,"
        " recall_micro bigint, precision_micro bigint",
    )


# =========================================================================
# Round 7 (17): incremental near-dup components
# =========================================================================


def _d28_oracle() -> str:
    """d21's full chain (signatures -> banding -> candidates -> verify
    -> component-min closure) rebased onto the UNION corpus (base +
    d25's re-ingest batch law) — the ground truth the incremental
    composition must equal."""
    ctes, agree, np_ = _minhash_checked_ctes()
    assert ctes.count("FROM documents") == 1
    ctes = ctes.replace("FROM documents", "FROM alldocs", 1)
    return f"""
    WITH RECURSIVE alldocs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             CASE WHEN doc_id % 3 = 1 THEN text || ' updated' ELSE text END AS text
      FROM documents WHERE doc_id % 3 IN (0, 1)
    ), {ctes},
    est AS (
      SELECT c.id_a, c.id_b
      FROM cand c JOIN sigs sa ON sa.doc_id = c.id_a JOIN sigs sb ON sb.doc_id = c.id_b
      WHERE ({agree}) / {float(np_)} >= 0.25
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM est
      UNION
      SELECT id_b, id_a FROM est
    ), reach(src, dst) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, r.dst FROM edges e JOIN reach r ON e.dst = r.src
    )
    SELECT src AS node, CAST(min(dst) AS BIGINT) AS rep
    FROM reach
    GROUP BY src
    HAVING src != min(dst)
    """


def _d28_graphs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """d28's full two-day construction, returning BOTH days' label
    maps: (labels_day0 over the base corpus, labels_day1 over base ∪
    batch).  Shared seam for d28 (which returns day1) and d31 (the
    temporal stability report, which compares the days) — the
    _t32_flags discipline: ONE incremental-merge law, two consumers."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.filter((F.col("doc_id") % 3).isin(0, 1)).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.when(F.col("doc_id") % 3 == 1, F.concat(F.col("text"), F.lit(" updated")))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    # checkpointed signatures (round 12): the base signatures feed TWO
    # separate actions (the base closure, then the merged closure's
    # verify / index probe) — AQE exchange reuse cannot span actions,
    # so without the checkpoint the corpus re-tokenized+re-hashed once
    # per action (guide §2.4).  Both closures materialize their labels,
    # so the signatures are freed on return.
    with materialize(spark) as m:
        sigs_base, banded_base = dedup.minhash_checked_signatures(docs, m=m)
        sigs_new, banded_new = dedup.minhash_checked_signatures(batch, m=m)

        # stored state: the base graph's labels (built once, then persisted
        # in production — the d09 base-index framing)
        cand_base = (
            banded_base.select(F.col("id").alias("id_a"), "band", "bk")
            .join(
                banded_base.select(F.col("id").alias("id_b"), "band", "bk"),
                ["band", "bk"],
            )
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        base_edges = dedup.minhash_checked_verify(cand_base, sigs_base, 0.25).select(
            "id_a", "id_b"
        )
        labels = dedup.connected_components_star(base_edges)

        # delta path: batch bands probe the FULL index (base + batch);
        # normalize to undirected (min, max) pairs — base-base never appears
        index = banded_base.unionByName(banded_new)
        cand_new = (
            banded_new.select(F.col("id").alias("id_a"), "band", "bk")
            .join(index.select(F.col("id").alias("id_b"), "band", "bk"), ["band", "bk"])
            .filter(F.col("id_a") != F.col("id_b"))
            .select(
                F.least("id_a", "id_b").alias("id_a"),
                F.greatest("id_a", "id_b").alias("id_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        sigs_all = sigs_base.unionByName(sigs_new)
        new_edges = dedup.minhash_checked_verify(cand_new, sigs_all, 0.25).select(
            "id_a", "id_b"
        )

        merged = labels.select(
            F.col("node").alias("id_a"), F.col("rep").alias("id_b")
        ).unionByName(new_edges)
        return labels, dedup.connected_components_star(merged)


@query("d28_incremental_components", oracle=_d28_oracle())
def d28_incremental_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL near-dup components — the graph-level member of the
    incremental-dedup tier (d09 exact index probe, d25 Bloom index):
    a re-ingest batch (d25's law: re-crawls + edits) joins an EXISTING
    dedup graph without re-pairing history.  The delta path is the
    point: the batch's band keys probe the stored band index
    (minhash_checked_signatures seam), so candidate generation touches
    batch x index — base-base pairs NEVER regenerate; verified new
    edges then merge with the STORED labels (each (node, rep) label is
    a connectivity-preserving edge), and connected_components_star
    closes the union.  Correctness law: CC(labels U new_edges) =
    CC(base_edges U new_edges) because labels contract exactly the
    base connectivity — the oracle replays the FULL-recompute chain
    over the union corpus and must match bit-for-bit.  At 100 TB the
    daily increment costs O(batch x bands + affected components), not
    O(history^2); the d21 output contract (node, rep) stays linear."""
    return _d28_graphs(spark, sf_dir)[1]


# =========================================================================
# Round 7 (18): dedup-aware weighted sampling
# =========================================================================


def _d29_oracle() -> str:
    """d07's composed drop-list replay (shared renderer) feeding t31's
    exponential-race law, weights = near-dup class sizes."""
    drop = _d15_oracle(est_threshold=0.25, jaccard_threshold=0.6)
    return f"""
    WITH droplist AS (
      SELECT doc_id, rep_id FROM ({drop}) t
    ), sizes AS (
      SELECT rep_id, CAST(count(*) AS BIGINT) AS members FROM droplist GROUP BY 1
    ), kept AS (
      SELECT d.doc_id, 1 + coalesce(s.members, 0) AS w
      FROM documents d
      LEFT JOIN droplist dl ON dl.doc_id = d.doc_id
      LEFT JOIN sizes s ON s.rep_id = d.doc_id
      WHERE dl.doc_id IS NULL
    ), keyed AS (
      SELECT doc_id, w,
             -ln(((('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':d29'), 1, 8))::BIGINT
                   + 1) / 4294967296.0)) / w AS k
      FROM kept
    )
    SELECT doc_id, CAST(w AS BIGINT) AS w, round(k * 1000000, 4) AS cost_micro
    FROM keyed
    ORDER BY k ASC, doc_id ASC
    LIMIT 25
    """


@query("d29_dedup_weighted_sample", oracle=_d29_oracle())
def d29_dedup_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP-AWARE weighted sampling — the composition every
    dedup-then-sample pipeline needs: naive sampling AFTER dedup
    under-represents content that was heavily duplicated (one kept
    canonical doc stands for its whole class), so the canonical
    survivors draw with probability proportional to their NEAR-DUP
    CLASS SIZE.  Classes come from d07's checked drop list (kept doc =
    not dropped; weight = 1 + members mapped to it), the draw is t31's
    Efraimidis-Spirakis exponential race (key = -ln(u)/w, u the md5
    '+1 over 2^32' exact-mantissa draw, doc_id tie-break), and the
    top-25 lowers to TakeOrderedAndProject.  At 100 TB: the drop list
    is candidates-sized, the weight lookup is one aggregation over it,
    the race is a per-row expression on the kept scan, and the shuffle
    carries per-partition heaps — the d20/t27 composition discipline
    with both laws already value-checked."""
    docs = _t(spark, sf_dir, "documents")
    drop = dedup.near_dedup_drop_list_checked(
        docs, est_threshold=0.25, jaccard_threshold=0.6
    ).select("doc_id", "rep_id")
    sizes = drop.groupBy("rep_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("members")
    )
    kept = (
        docs.select("doc_id")
        .join(drop.select("doc_id"), "doc_id", "left_anti")
        .join(sizes, F.col("doc_id") == F.col("rep_id"), "left")
        .select(
            "doc_id",
            (F.lit(1) + F.coalesce(F.col("members"), F.lit(0)))
            .cast("bigint")
            .alias("w"),
        )
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":d29"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        + F.lit(1)
    ) / F.lit(4294967296.0)
    key = -F.log(u) / F.col("w")
    return (
        kept.withColumn("__k", key)
        .orderBy(F.col("__k").asc(), F.col("doc_id").asc())
        .limit(25)
        .select(
            "doc_id", "w", F.round(F.col("__k") * 1_000_000, 4).alias("cost_micro")
        )
    )



# =========================================================================
# Round 9: eval-side contamination report (d08's dual)
# =========================================================================


@query(
    "d30_contamination_report",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS t
      FROM documents
    ), pos AS (
      SELECT doc_id, t, unnest(range(1, greatest(len(t) - 7, 0) + 1)) AS i
      FROM toks
    ), sh AS (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS gram
      FROM pos
    ), bench AS (
      SELECT doc_id, gram FROM sh WHERE doc_id % 50 = 0
    ), train AS (
      SELECT doc_id, gram FROM sh WHERE doc_id % 50 <> 0
    ), bsz AS (
      SELECT doc_id, count(*) AS total_grams FROM bench GROUP BY 1
    ), h AS (
      SELECT b.doc_id,
             count(DISTINCT b.gram) AS hit_grams,
             count(DISTINCT t.doc_id) AS n_train_docs
      FROM bench b JOIN train t USING (gram)
      GROUP BY 1
    )
    SELECT s.doc_id,
           CAST(s.total_grams AS BIGINT) AS total_grams,
           CAST(coalesce(h.hit_grams, 0) AS BIGINT) AS hit_grams,
           CAST(coalesce(h.n_train_docs, 0) AS BIGINT) AS n_train_docs,
           CAST(coalesce(h.hit_grams, 0) * 1000000 // s.total_grams AS BIGINT)
             AS leak_micro
    FROM bsz s LEFT JOIN h USING (doc_id)
    """,
)
def d30_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EVAL-SIDE CONTAMINATION REPORT — d08's dual: d08 flags which
    TRAINING docs are dirty; the benchmark owner's question is the
    transpose — per EVAL doc, how much of it leaks into the training
    corpus (the "% of benchmark contaminated" table in the GPT-3 /
    PaLM appendices): the fraction of its distinct 8-grams found in
    ANY training doc (integer micro-units, d08's gram identity via
    operators/dedup.hashed_shingle_rows) and the number of distinct
    leaking training docs.  Zero-hit eval docs stay in the report —
    a benchmark-integrity table that silently drops clean rows can't
    certify anything.

    Scale shape (inverted from d08): the benchmark side is MB-scale,
    so its hashed grams BROADCAST into the 100 TB training scan — the
    big side never shuffles; only matching (gram, train_id) rows leave
    the scan, and the per-eval-doc rollup is benchmark-sized.  The
    two count-distincts share one (eval_id, gram-hash, train_id)
    aggregate.  Reference witness: O1 fission + O2 keyed fold
    (src/Core/MapReduceC.hs:24-26)."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    ev = dedup.hashed_shingle_rows(bench, n=8)
    tr = dedup.hashed_shingle_rows(train, n=8).select(
        F.col("id").alias("__tid"), "shingle"
    )
    sizes = ev.select(F.col("id").alias("doc_id"), "set_size").distinct()
    hits = (
        tr.join(F.broadcast(ev.select("id", "shingle")), "shingle")
        .groupBy(F.col("id").alias("doc_id"))
        .agg(
            F.countDistinct("shingle").cast("bigint").alias("hit_grams"),
            F.countDistinct("__tid").cast("bigint").alias("n_train_docs"),
        )
    )
    return (
        # both sides of the final stitch are benchmark-sized (the eval
        # slice), so the hit rollup broadcasts — no SMJ at any scale
        sizes.join(F.broadcast(hits), "doc_id", "left")
        .select(
            "doc_id",
            F.col("set_size").cast("bigint").alias("total_grams"),
            F.coalesce("hit_grams", F.lit(0)).cast("bigint").alias("hit_grams"),
            F.coalesce("n_train_docs", F.lit(0)).cast("bigint").alias("n_train_docs"),
            F.expr(
                "cast((coalesce(hit_grams, 0) * 1000000L) div set_size as bigint)"
            ).alias("leak_micro"),
        )
    )


# =========================================================================
# Round 9 (19): dedup-class temporal stability
# =========================================================================


def _d31_oracle() -> str:
    """One checked-minhash chain over the union corpus (d28's oracle
    law), then TWO reachability closures — all edges (day 1) and the
    base-endpoint-restricted edge set (day 0; a base-base edge is in
    the union graph iff it is in the base graph, since banding and
    verification are per-pair) — joined into the per-class drift
    report."""
    ctes, agree, np_ = _minhash_checked_ctes()
    assert ctes.count("FROM documents") == 1
    ctes = ctes.replace("FROM documents", "FROM alldocs", 1)
    return f"""
    WITH RECURSIVE alldocs AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             CASE WHEN doc_id % 3 = 1 THEN text || ' updated' ELSE text END AS text
      FROM documents WHERE doc_id % 3 IN (0, 1)
    ), {ctes},
    est AS (
      SELECT c.id_a, c.id_b
      FROM cand c JOIN sigs sa ON sa.doc_id = c.id_a JOIN sigs sb ON sb.doc_id = c.id_b
      WHERE ({agree}) / {float(np_)} >= 0.25
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM est
      UNION
      SELECT id_b, id_a FROM est
    ), reach1(src, dst) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, r.dst FROM edges e JOIN reach1 r ON e.dst = r.src
    ), labels1 AS (
      SELECT src AS node, min(dst) AS rep FROM reach1 GROUP BY src
    ), base_edges AS (
      SELECT src, dst FROM edges WHERE src < 1000000 AND dst < 1000000
    ), reach0(src, dst) AS (
      SELECT DISTINCT src, src FROM base_edges
      UNION
      SELECT e.src, r.dst FROM base_edges e JOIN reach0 r ON e.dst = r.src
    ), labels0 AS (
      SELECT src AS node, min(dst) AS rep0 FROM reach0 GROUP BY src
    ), scal AS (
      SELECT (SELECT count(*) FROM documents) AS n_base,
             (SELECT count(*) FROM documents WHERE doc_id % 3 IN (0, 1)) AS n_batch
    ), joined AS (
      SELECT m.rep, m.node,
             CASE WHEN m.node >= 1000000 THEN 1 ELSE 0 END AS is_new,
             coalesce(l0.rep0, m.node) AS rep0
      FROM labels1 m LEFT JOIN labels0 l0 ON l0.node = m.node
    ), agg AS (
      SELECT rep,
             count(*) AS size_day1,
             count(*) - sum(is_new) AS old_members,
             sum(is_new) AS new_members,
             count(DISTINCT CASE WHEN is_new = 0 THEN rep0 END) AS day0_classes
      FROM joined GROUP BY rep
    )
    SELECT CAST(rep AS BIGINT) AS rep,
           CAST(size_day1 AS BIGINT) AS size_day1,
           CAST(old_members AS BIGINT) AS old_members,
           CAST(new_members AS BIGINT) AS new_members,
           CAST(day0_classes AS BIGINT) AS day0_classes,
           CAST((new_members * 1000) // size_day1 AS BIGINT) AS growth_permille,
           CAST(CASE WHEN new_members * n_base > 2 * old_members * n_batch
                     THEN 1 ELSE 0 END AS BIGINT) AS hot
    FROM agg CROSS JOIN scal
    """


@query("d31_class_stability", oracle=_d31_oracle())
def d31_class_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP-CLASS TEMPORAL STABILITY — the report a crawl operator
    actually reads off d28's incremental merge: per day-1 duplicate
    class, how it MOVED between two ingest days (size drift, new-member
    rate, and how many day-0 classes coalesced into it), flagging
    classes whose growth outpaces the corpus ("hot" boilerplate — a
    template suddenly stamped across the new crawl is the classic
    signal this catches before it poisons the mixture).

    Committed laws (all integer, engine-exact): membership = d28's
    (node, rep) labels plus the representative itself (singletons never
    appear — a class exists once it has ≥2 members); member origin =
    the d28 batch-id law (doc_id ≥ 1e6 ⇒ day-1 arrival);
    ``day0_classes`` counts distinct day-0 components among the old
    members (base singletons count as their own class), so a value > 1
    means the new batch BRIDGED previously-separate classes;
    ``hot`` = new_members·n_base > 2·old_members·n_batch — the
    cross-multiplied form of "class growth > 2× corpus growth", exact
    in BIGINT (a class born entirely in the batch is hot by
    definition).  The oracle replays the full chain with two
    recursive-CTE closures; the Spark side reuses d28's construction
    verbatim via the `_d28_graphs` seam, so d28's plan is pinned
    unchanged.

    Scale shape: everything downstream of d28's (already incremental)
    graphs is ONE left join of two label maps (each linear in
    non-singleton nodes, a vanishing fraction of the corpus) + one
    rep-keyed rollup; the 2-scalar corpus-size frame broadcasts into
    the final projection.  Output is linear in #classes.  Reference
    witness: O2 keyed fold over O3-chained stage output
    (src/Core/MapReduceC.hs:24-26, 40-47)."""
    labels0, labels1 = _d28_graphs(spark, sf_dir)
    members = labels1.unionByName(
        labels1.select(F.col("rep").alias("node"), "rep").distinct()
    )
    joined = members.join(
        labels0.select("node", F.col("rep").alias("rep0")), "node", "left"
    ).select(
        "rep",
        (F.col("node") >= 1000000).cast("bigint").alias("is_new"),
        F.coalesce("rep0", F.col("node")).alias("rep0"),
    )
    agg = joined.groupBy("rep").agg(
        F.count(F.lit(1)).alias("size_day1"),
        (F.count(F.lit(1)) - F.sum("is_new")).cast("bigint").alias("old_members"),
        F.sum("is_new").cast("bigint").alias("new_members"),
        F.countDistinct(
            F.when(F.col("is_new") == 0, F.col("rep0"))
        ).cast("bigint").alias("day0_classes"),
    )
    docs = _t(spark, sf_dir, "documents")
    scal = docs.agg(
        F.count(F.lit(1)).alias("n_base"),
        F.sum(((F.col("doc_id") % 3).isin(0, 1)).cast("bigint")).alias("n_batch"),
    )
    return (
        agg.crossJoin(F.broadcast(scal))
        .select(
            F.col("rep").cast("bigint").alias("rep"),
            F.col("size_day1").cast("bigint").alias("size_day1"),
            "old_members",
            "new_members",
            "day0_classes",
            F.expr("(new_members * 1000L) div size_day1")
            .cast("bigint")
            .alias("growth_permille"),
            (
                F.col("new_members") * F.col("n_base")
                > 2 * F.col("old_members") * F.col("n_batch")
            )
            .cast("bigint")
            .alias("hot"),
        )
    )


# =========================================================================
# Round 11: LSH banding parameter sweep (d32)
# =========================================================================

def _d32_oracle() -> str:
    """Render the banding-sweep oracle from the SAME seed constants as
    the Spark arm (the _d11_oracle discipline): shared shingle /
    signature CTEs once, then per config (bands x rows, b*r = 16) its
    own banding + candidates + agreement counts, plus the exact
    3-gram-Jaccard truth arm (d02's law at the J >= 0.5 decision
    threshold) — parity by construction."""
    from mapreducehs_spark.queries._shared import _minhash_checked_ctes

    ctes, agree, np_ = _minhash_checked_ctes()

    def band_ctes(nb: int) -> str:
        rows = np_ // nb
        sel = " UNION ALL ".join(
            "SELECT doc_id, {bi} AS band, concat_ws('_', {cols}) AS bk FROM sigs".format(
                bi=bi, cols=", ".join(f"m{bi * rows + r}" for r in range(rows))
            )
            for bi in range(nb)
        )
        return (
            f"b{nb} AS ({sel}), c{nb} AS ("
            f"SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b "
            f"FROM b{nb} a JOIN b{nb} b "
            f"ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id)"
        )

    def est_cte(nb: int, cand_name: str) -> str:
        return (
            f"e{nb} AS (SELECT c.id_a, c.id_b, ({agree}) AS agree "
            f"FROM {cand_name} c JOIN sigs sa ON sa.doc_id = c.id_a "
            f"JOIN sigs sb ON sb.doc_id = c.id_b)"
        )

    def row(nb: int, cand_name: str) -> str:
        rows = np_ // nb
        return f"""SELECT CAST({nb} AS BIGINT) AS bands,
           CAST({rows} AS BIGINT) AS rows_per_band,
           (SELECT CAST(count(*) AS BIGINT) FROM {cand_name}) AS n_candidates,
           (SELECT CAST(count(*) AS BIGINT) FROM e{nb}
              WHERE agree * 4 >= {np_}) AS n_est,
           (SELECT CAST(count(*) AS BIGINT) FROM tp) AS n_truth,
           (SELECT CAST(count(*) AS BIGINT) FROM e{nb} e
              JOIN tp t ON t.id_a = e.id_a AND t.id_b = e.id_b
              WHERE e.agree * 4 >= {np_}) AS n_hits"""

    truth = """tp AS (
      SELECT id_a, id_b FROM (
        SELECT i.id_a, i.id_b, i.inter, za.set_size AS sa_sz, zb.set_size AS sb_sz
        FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2) i
        JOIN (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY 1) za
          ON za.doc_id = i.id_a
        JOIN (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY 1) zb
          ON zb.doc_id = i.id_b
      ) WHERE inter * 2 >= sa_sz + sb_sz - inter
    )"""
    rowsql = " UNION ALL ".join(
        row(nb, "cand" if nb == 4 else f"c{nb}") for nb in (2, 4, 8)
    )
    return f"""
    WITH {ctes}, {truth},
    {band_ctes(2)},
    {band_ctes(8)},
    {est_cte(2, 'c2')}, {est_cte(4, 'cand')}, {est_cte(8, 'c8')},
    raw AS ({rowsql})
    SELECT bands, rows_per_band, n_candidates, n_est, n_truth, n_hits,
           CAST((n_hits * 1000000) // greatest(n_truth, 1) AS BIGINT)
             AS recall_micro,
           CAST((n_hits * 1000000) // greatest(n_est, 1) AS BIGINT)
             AS precision_micro
    FROM raw
    """


@query("d32_lsh_banding_sweep", oracle=_d32_oracle())
def d32_lsh_banding_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH BANDING PARAMETER SWEEP — t53's sweep discipline applied to
    the dedup index: the (bands x rows) trade-off table a 100 TB dedup
    config change is chosen from (more bands = higher recall and more
    candidates to verify; the S-curve's knee moves with b and r).  The
    16-permutation checked signatures are computed ONCE (the expensive
    corpus-scale stage — `minhash_sigs_scan_shaped`, zero wide
    dependency, then localCheckpointed); each config (2x8, 4x4, 2x8's
    transpose 8x2) re-bands the SAME signature frame — banding is pure
    arithmetic over the 16 minima, so the sweep adds no corpus re-scan
    (t53's law).  Per config: raw candidate volume (the verify-stage
    COST), estimate-filtered pairs (agree/16 >= 0.25, dyadic-exact),
    and recall/precision in integer micro-units against the exact
    3-gram-Jaccard truth arm (J >= 0.5 decided as the pure-integer
    compare inter*2 >= union on the raw intersection counts — the
    same predicate the oracle runs, no rounded double anywhere in the
    decision; shingle equi-join, never all-pairs).

    Driver-side state is 3 configs x 3 scalar counts (the d27/s13
    report posture); every per-config candidate frame is banded
    buckets -> self-join, the same never-all-pairs plan d11 pins.
    Reference witness: O5 evaluator/oracle + O2 keyed fold
    (src/Core/MapReduceC.hs:24-26)."""
    from mapreducehs_spark.operators.dedup import (
        MINHASH_CHECK_NUM_PERM as _NP,
    )
    from mapreducehs_spark.operators.dedup import (
        _minhash_band_keys,
        minhash_sigs_scan_shaped,
    )

    docs = _t(spark, sf_dir, "documents")
    with materialize(spark) as m:
        sigs = m.checkpoint(minhash_sigs_scan_shaped(docs))
        # Truth decision at J >= 1/2 as a PURE-INTEGER compare
        # (inter*2 >= union) on the raw intersection counts — identical to
        # the oracle's predicate by construction, no rounded double in the
        # decision (round-12 fix: the prior arm filtered d02's
        # round(j, 6), which could diverge from the oracle's unrounded
        # ratio for true J in [0.4999995, 0.5)).
        truth = m.checkpoint(
            dedup.ngram_jaccard_intersections(m, docs, n=3, max_shingle_df=None)
            .filter(
                F.col("inter") * 2
                >= F.col("size_a") + F.col("size_b") - F.col("inter")
            )
            .select("id_a", "id_b")
        )
        n_truth = truth.count()
        # ONE job for the whole sweep (round 12, guide §2.6/§2.4): the old
        # per-config loop ran 4 actions per config (checkpoint + 3 counts,
        # 13 jobs total); banding all three configs into one frame keyed by
        # nb turns candidates + agreement + truth hits into a single
        # 3-row grouped aggregate — same banded rows and candidate pairs,
        # shuffled once instead of once per config, and the per-config
        # scalar counts arrive in one driver round-trip.
        banded_all = None
        for nb in (2, 4, 8):
            part = sigs.select(
                F.lit(nb).alias("nb"),
                "id",
                F.posexplode(_minhash_band_keys("mins", nb)).alias("band", "bk"),
            )
            banded_all = part if banded_all is None else banded_all.unionByName(part)
        a, b = banded_all.alias("a"), banded_all.alias("b")
        cand = (
            a.join(b, ["nb", "band", "bk"])
            .filter(F.col("a.id") < F.col("b.id"))
            .select("nb", F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .distinct()
        )
        agree = F.aggregate(
            F.zip_with(
                F.col("sa.mins"),
                F.col("sb.mins"),
                lambda x, y: (x == y).cast("int"),
            ),
            F.lit(0),
            lambda acc, v: acc + v,
        )
        est_ok = F.col("agree") * 4 >= _NP
        stats = {
            int(r["nb"]): r
            for r in (
                cand.join(sigs.alias("sa"), F.col("id_a") == F.col("sa.id"))
                .join(sigs.alias("sb"), F.col("id_b") == F.col("sb.id"))
                .select("nb", "id_a", "id_b", agree.alias("agree"))
                .join(truth.withColumn("__h", F.lit(1)), ["id_a", "id_b"], "left")
                .groupBy("nb")
                .agg(
                    F.count(F.lit(1)).alias("n_cand"),
                    F.count(F.when(est_ok, 1)).alias("n_est"),
                    F.count(F.when(est_ok & F.col("__h").isNotNull(), 1)).alias("n_hits"),
                )
                .collect()
            )
        }
    out = []
    for nb in (2, 4, 8):
        r = stats.get(nb)
        n_cand = int(r["n_cand"]) if r else 0
        n_est = int(r["n_est"]) if r else 0
        n_hits = int(r["n_hits"]) if r else 0
        out.append(
            (
                nb,
                _NP // nb,
                n_cand,
                n_est,
                n_truth,
                n_hits,
                (n_hits * 1_000_000) // max(n_truth, 1),
                (n_hits * 1_000_000) // max(n_est, 1),
            )
        )
    return spark.createDataFrame(
        out,
        "bands bigint, rows_per_band bigint, n_candidates bigint,"
        " n_est bigint, n_truth bigint, n_hits bigint,"
        " recall_micro bigint, precision_micro bigint",
    )


def _d32_staged() -> str:
    """_d32_oracle's replay as ';'-separated TEMP TABLE stages (the
    STAGED_ORACLE discipline): shingles → signatures → exact-Jaccard
    truth → per-config banding/candidates/agreement counted into a
    9-row stats table, consumed scratch dropped per stage.  The
    monolithic form keeps three cand×sigs joins plus the truth
    equi-join live in ONE statement and exhausts the box's spill disk
    at sf1; the largest stage here is one config's candidate join.
    Built from the SAME seed constants as the Spark arm — parity by
    construction (verified value-identical at sf0.001/0.01)."""
    from mapreducehs_spark.operators.dedup import (
        MINHASH_CHECK_NUM_PERM,
        minhash_check_seeds,
    )

    a, b = minhash_check_seeds()
    np_ = MINHASH_CHECK_NUM_PERM
    mins = ",\n             ".join(
        f"min(({a[i]}*x + {b[i]}) % 2147483647) AS m{i}" for i in range(np_)
    )
    agree = " + ".join(
        f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(np_)
    )

    def config_stages(nb: int) -> str:
        rows = np_ // nb
        unions = " UNION ALL ".join(
            "SELECT doc_id, {bi} AS band, concat_ws('_', {cols}) AS bk "
            "FROM d32_sigs".format(
                bi=bi, cols=", ".join(f"m{bi * rows + r}" for r in range(rows))
            )
            for bi in range(nb)
        )
        return f"""
    DROP TABLE IF EXISTS d32_cand;
    CREATE TEMP TABLE d32_cand AS
      WITH banded AS ({unions})
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b
        ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id;
    DROP TABLE IF EXISTS d32_est;
    CREATE TEMP TABLE d32_est AS
      SELECT c.id_a, c.id_b, ({agree}) AS agree
      FROM d32_cand c
      JOIN d32_sigs sa ON sa.doc_id = c.id_a
      JOIN d32_sigs sb ON sb.doc_id = c.id_b;
    INSERT INTO d32_rows
      SELECT CAST({nb} AS BIGINT), CAST({rows} AS BIGINT),
             (SELECT CAST(count(*) AS BIGINT) FROM d32_cand),
             (SELECT CAST(count(*) AS BIGINT) FROM d32_est
                WHERE agree * 4 >= {np_}),
             (SELECT CAST(count(*) AS BIGINT) FROM d32_tp),
             (SELECT CAST(count(*) AS BIGINT) FROM d32_est e
                JOIN d32_tp t ON t.id_a = e.id_a AND t.id_b = e.id_b
                WHERE e.agree * 4 >= {np_});
    DROP TABLE d32_cand;
    DROP TABLE d32_est;"""

    return f"""
    DROP TABLE IF EXISTS d32_sh;
    CREATE TEMP TABLE d32_sh AS
      WITH toks AS (
        SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS t
        FROM documents
      ), pos AS (
        SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i FROM toks
      )
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s FROM pos;
    DROP TABLE IF EXISTS d32_sigs;
    CREATE TEMP TABLE d32_sigs AS
      WITH ids AS (
        SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS x
        FROM d32_sh
      )
      SELECT doc_id, {mins}
      FROM ids GROUP BY doc_id;
    DROP TABLE IF EXISTS d32_tp;
    CREATE TEMP TABLE d32_tp AS
      SELECT id_a, id_b FROM (
        SELECT i.id_a, i.id_b, i.inter, za.set_size AS sa_sz, zb.set_size AS sb_sz
        FROM (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
              FROM d32_sh a JOIN d32_sh b ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY 1, 2) i
        JOIN (SELECT doc_id, count(*) AS set_size FROM d32_sh GROUP BY 1) za
          ON za.doc_id = i.id_a
        JOIN (SELECT doc_id, count(*) AS set_size FROM d32_sh GROUP BY 1) zb
          ON zb.doc_id = i.id_b
      ) WHERE inter * 2 >= sa_sz + sb_sz - inter;
    DROP TABLE d32_sh;
    DROP TABLE IF EXISTS d32_rows;
    CREATE TEMP TABLE d32_rows (
      bands BIGINT, rows_per_band BIGINT, n_candidates BIGINT,
      n_est BIGINT, n_truth BIGINT, n_hits BIGINT);
    {config_stages(2)}
    {config_stages(4)}
    {config_stages(8)}
    DROP TABLE d32_sigs;
    DROP TABLE d32_tp;
    SELECT bands, rows_per_band, n_candidates, n_est, n_truth, n_hits,
           CAST((n_hits * 1000000) // greatest(n_truth, 1) AS BIGINT)
             AS recall_micro,
           CAST((n_hits * 1000000) // greatest(n_est, 1) AS BIGINT)
             AS precision_micro
    FROM d32_rows
    """


STAGED_ORACLE["d32_lsh_banding_sweep"] = _d32_staged()
