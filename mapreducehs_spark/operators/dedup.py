"""Deduplication operators over document corpora.

LLM-data-pipeline surface mandated by BASELINE.json (the reference's
kernel can express only exact distinct via its Reducer, SURVEY §2.2
"Distinct"/"LLM-pipeline: dedup").  Five tiers, all JVM-side:

- exact          — content-hash groupBy (one shuffle on the hash).
- n-gram Jaccard — exact set-similarity pair join via shingle explode
                   (the verifier; quadratic only within shared shingles).
- MinHash + LSH  — banded minhash bucket join (the 100 TB path:
                   candidate generation is linear, one shuffle per band
                   union, verification only within buckets).
- SimHash        — 32-bit sign-fingerprint, near-dup = small Hamming
                   distance; banded for candidate generation.
- embedding      — cosine near-dup over embedding vectors (delegates to
                   operators.similarity).

Design note (100 TB): every near-dup pipeline here is
candidates-then-verify.  Candidate generation never compares all pairs —
it buckets (LSH bands / simhash bands / shared shingles) and only joins
within buckets.  Hot buckets (boilerplate shingles) are the skew risk:
``ngram_jaccard_pairs`` caps per-shingle fanout via a document-frequency
filter, the standard trick.

Each near-dup job has one kernel.  The MinHash and SimHash kernels are
engine-portable (md5-hex token/shingle ids, literal-seed permutations,
deterministic banding), so a DuckDB oracle replays every step of them.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreducehs_spark.operators.iteration import Materialization, materialize
from mapreducehs_spark.operators.text import tokens


#: Mersenne prime 2^31-1, both the fold target and the universal-hash
#: modulus.  The modulus must equal the hash domain: with x < p and
#: a,b < p, (a*x+b) mod p wraps for essentially every (a, x) and is a
#: proper universal permutation, and a*x+b < 2^62 never overflows
#: a signed bigint.  (A much larger p, e.g. 2^61-1, silently breaks minhash:
#: whenever a < p/max(x) the map is wrap-free hence order-preserving —
#: every such "permutation" picks argmin(x), grossly inflating
#: signature agreement between correlated sets.)
_H31 = (1 << 31) - 1


def duplicate_groups(df: DataFrame) -> DataFrame:
    """Per content hash: group size + representative (min) id."""
    return (
        df.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min("doc_id").alias("keep_id"),
        )
    )


def shingles_of(tok_col, n: int = 3):
    """Word n-gram shingle set (distinct) from a *materialized* token
    array column.

    IMPORTANT: pass a named token-array column, not an inline
    ``split(...)`` expression — expressions referenced inside a
    higher-order-function lambda are re-evaluated per array element, so
    an inline split turns shingling O(len²) in string work.  Staging the
    tokens as a projection first keeps it linear (measured 20x on the
    documents table)."""
    tok_col = F.col(tok_col) if isinstance(tok_col, str) else tok_col
    idx = F.sequence(F.lit(1), F.greatest(F.size(tok_col) - (n - 1), F.lit(0)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tok_col, i, n)))
    )


def shingle_frame(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(id, sh) frame: tokens staged once, then shingled.

    Repartitions to the session's parallelism first: shingling is
    compute-bound, and a corpus that arrives as few files (one, in the
    testdata) would otherwise pin the whole stage to as many cores as
    there are input splits.  At 100 TB input splits already outnumber
    cores and AQE coalesces, so the repartition is a cheap no-op-ish
    rebalance; on small inputs it is the difference between 1 and all
    cores."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
        .repartition(par, "id")
        .select("id", tokens(F.col("__text")).alias("__toks"))
        .select("id", shingles_of("__toks", n).alias("sh"))
    )


def hashed_shingle_rows(df: DataFrame, n: int = 3) -> DataFrame:
    """(id, set_size, shingle) — the distinct word-n-gram shingles of
    each doc as 64-bit hashes, pre-exploded one row per shingle.

    One Arrow-batched numpy pass (``mapInPandas``): per-doc shingling in
    Python, then ONE vectorized C hash over the whole batch's shingles
    (``pd.util.hash_array``, keyed siphash — deterministic across
    workers).  Spark's array higher-order functions run interpreted
    (CodegenFallback), so an expression formulation pays per-element
    interpretation overhead; the Arrow kernel is ~4x faster at equal
    semantics and is the 100 TB path — scan-shaped, vectorized
    transfer.  The text is first spread over the session's parallelism
    (same rationale as ``shingle_frame``).  Docs shorter than ``n``
    tokens emit nothing.
    """

    def kernel(batches):
        for pdf in batches:
            ids: list[int] = []
            sizes: list[int] = []
            shingle_lists: list[list[str]] = []
            for di, txt in zip(pdf["id"].values, pdf["__text"].values):
                toks = txt.split()
                m = len(toks) - n + 1
                if m <= 0:
                    continue
                sh = list({" ".join(toks[j : j + n]) for j in range(m)})
                ids.append(di)
                sizes.append(len(sh))
                shingle_lists.append(sh)
            if not ids:
                yield pd.DataFrame(
                    {
                        "id": np.empty(0, dtype="int64"),
                        "set_size": np.empty(0, dtype="int64"),
                        "shingle": np.empty(0, dtype="int64"),
                    }
                )
                continue
            counts = np.asarray(sizes, dtype="int64")
            flat = np.array([s for lst in shingle_lists for s in lst], dtype=object)
            h = pd.util.hash_array(flat).view("int64")
            yield pd.DataFrame(
                {
                    "id": np.repeat(np.asarray(ids, dtype="int64"), counts),
                    "set_size": np.repeat(counts, counts),
                    "shingle": h,
                }
            )

    par = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.select(F.col("doc_id").alias("id"), F.col("text").alias("__text"))
        .repartition(par)
        .mapInPandas(kernel, "id long, set_size long, shingle long")
    )


def ngram_jaccard_intersections(
    m: Materialization,
    df: DataFrame,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Raw pairwise shingle-intersection counts (the integer core of
    ``ngram_jaccard_pairs``): (id_a, id_b, size_a, size_b, inter) with
    id_a < id_b.  Exposed separately so consumers needing a DECISION at
    a dyadic threshold (e.g. d32's truth arm at J >= 1/2) can compare
    pure integers (``inter * 2 >= size_a + size_b - inter``) instead of
    a rounded double — no FP anywhere in the predicate."""
    # persist: both sides of the self-join and the doc-frequency guard
    # read this frame — without it the shingle kernel runs 3x.
    exploded = m.persist(hashed_shingle_rows(df))
    if max_shingle_df is not None:
        keep = (
            exploded.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("sdf"))
            .filter(F.col("sdf") <= max_shingle_df)
            .select("shingle")
        )
        exploded = exploded.join(keep, "shingle")

    a = exploded.select(F.col("id").alias("id_a"), F.col("set_size").alias("size_a"), "shingle")
    b = exploded.select(F.col("id").alias("id_b"), F.col("set_size").alias("size_b"), "shingle")
    return (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )


def ngram_jaccard_pairs(
    m: Materialization,
    df: DataFrame,
    threshold: float = 0.5,
    max_shingle_df: int | None = 1000,
) -> DataFrame:
    """Exact Jaccard-similar pairs via shingle explode + equi-join.

    ``|A∩B|`` comes from counting shared shingles after a self-join on
    the shingle string; Jaccard = inter / (|A| + |B| - inter).  Shingles
    appearing in more than ``max_shingle_df`` docs are dropped before
    the join (boilerplate guard — bounds the worst bucket at scale).
    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    inter = ngram_jaccard_intersections(m, df, max_shingle_df)
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("size_a") + F.col("size_b") - F.col("inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def near_dedup_verified_edges_checked(
    m: Materialization,
    df: DataFrame,
    est_threshold: float = 0.25,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Exact-Jaccard-VERIFIED near-dup edges (id_a, id_b) from the
    checked MinHash-LSH candidate path, WITHOUT cluster resolution —
    the pair stage of ``near_dedup_drop_list_checked``, and the
    text-modality arm for callers that close several modality edge
    sets in ONE shared components pass (m14; round 12, guide §1.2
    step 1: the per-arm union-find and drop-list re-keying were
    computed only to be thrown away by the cross-modal closure).

    Verification runs PER CANDIDATE PAIR: each pair's two shingle sets
    are joined in and intersected in an Arrow kernel, so its cost is
    O(#pairs × shingle-set size), NEVER a corpus re-join.  Re-running
    the d02 shingle self-join over the candidate docs measured
    quadratic-within-cluster (a 100k-doc corpus with 20-way dup
    clusters — where nearly every doc is in some pair — blew past 9
    minutes; the per-pair form finishes the same corpus in well under
    a minute).  Returns the LAZY verified-pair frame (the caller's
    closure materializes it in its one action) over the candidate and
    shingle-set frames persisted in ``m``."""
    cands = m.persist(minhash_lsh_pairs_checked(df, est_threshold).select("id_a", "id_b"))
    cand_docs = (
        cands.select(F.col("id_a").alias("cid"))
        .unionByName(cands.select(F.col("id_b").alias("cid")))
        .distinct()
    )
    subset = df.join(cand_docs, df["doc_id"] == cand_docs.cid, "left_semi")
    sets = m.persist(
        hashed_shingle_rows(subset)
        .groupBy("id")
        .agg(F.collect_list("shingle").alias("hs"))
    )
    paired = (
        cands.select("id_a", "id_b")
        .join(sets.select(F.col("id").alias("id_a"), F.col("hs").alias("hs_a")), "id_a")
        .join(sets.select(F.col("id").alias("id_b"), F.col("hs").alias("hs_b")), "id_b")
    )

    def verify(batches):
        for pdf in batches:
            jac = np.empty(len(pdf), dtype="float64")
            for i, (a, b) in enumerate(zip(pdf["hs_a"].values, pdf["hs_b"].values)):
                sa, sb = set(a), set(b)
                inter = len(sa & sb)
                jac[i] = inter / (len(sa) + len(sb) - inter) if inter else 0.0
            yield pd.DataFrame(
                {"id_a": pdf["id_a"], "id_b": pdf["id_b"], "jaccard": jac}
            )

    return (
        paired.mapInPandas(verify, "id_a long, id_b long, jaccard double")
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b")
    )


def near_dedup_drop_list_checked(
    df: DataFrame,
    est_threshold: float = 0.25,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """The composed 100 TB near-dedup pipeline: checked MinHash-LSH
    candidate generation → EXACT per-pair Jaccard verification
    (``near_dedup_verified_edges_checked``) → connected-component
    resolution → (doc_id, rep_id) for every document that should be
    DROPPED (rep survives).

    The corpus is never pair-joined (LSH buckets bound candidate
    generation), and the component step guarantees one survivor per
    duplicate cluster even when A~B~C but A≁C.  Every candidate step
    (md5-fold shingle ids, literal-seed permutations, deterministic
    banding) reruns in SQL, so the pipeline is value-checked end to end
    by d15's DuckDB oracle.  The estimate threshold sits below the
    verify threshold so LSH boundary misses don't leak through — the
    exact pass decides.  The candidate/shingle caches are freed on
    return: connected_components_star materializes its result."""
    with materialize(df.sparkSession) as m:
        verified = near_dedup_verified_edges_checked(m, df, est_threshold, jaccard_threshold)
        cc = connected_components_star(verified)
    return cc.select(F.col("node").alias("doc_id"), F.col("rep").alias("rep_id"))


def decontaminate(train: DataFrame, benchmark: DataFrame) -> DataFrame:
    """Train/eval decontamination: per training doc, how many of its
    distinct word 8-grams also occur in the ``benchmark`` corpus.

    The benchmark side (eval sets are MBs, the training corpus is TBs)
    collapses to DISTINCT n-gram hashes and BROADCASTS, so the training
    scan never shuffles: shingle → map-side hash-join against the
    broadcast set → the only shuffle is the per-doc hit count over
    surviving (contaminated) rows, a vanishing fraction of the corpus.
    Returns (id, total_grams, hit_grams, hit_ratio) for contaminated
    docs only; downstream policy (drop doc vs. ratio threshold) is the
    caller's.
    """
    bench = hashed_shingle_rows(benchmark, 8).select("shingle").distinct()
    tr = hashed_shingle_rows(train, 8)
    return (
        tr.join(F.broadcast(bench), "shingle")
        .groupBy("id", "set_size")
        .agg(F.count(F.lit(1)).alias("hit_grams"))
        .select(
            "id",
            F.col("set_size").alias("total_grams"),
            "hit_grams",
            F.round(F.col("hit_grams") / F.col("set_size").cast("double"), 6).alias("hit_ratio"),
        )
    )


def minhash_sigs_scan_shaped(df: DataFrame) -> DataFrame:
    """Checked-law MinHash signatures computed WITHOUT a shuffle: the
    16 permutation minima fold inside ONE row-local ``F.aggregate``
    over the shingle-hash array, so the signature frame is a pure
    scan+project (verified: the physical plan is Scan → Filter →
    Project, zero exchanges).

    Same law as ``minhash_lsh_pairs_checked``'s groupBy kernel —
    md5-fold shingle ids, literal ``minhash_check_seeds`` universal
    hashes mod 2^31-1 — property-pinned equal signature-for-signature.
    The md5 runs once per shingle: the hash array is the aggregate's
    INPUT argument (evaluated once), and only the cheap
    ``least((a*v+b) % p)`` zip runs 16× per shingle inside the fold.
    Docs with fewer than 3 tokens are dropped (no shingles
    → no signature), matching the grouped kernel.

    Returns (id, mins: array<bigint>[16]).  This is the shape a 100 TB
    decontamination scan needs — signatures stream out of the scan
    stage with no wide dependency at all."""
    a_seeds, b_seeds = minhash_check_seeds()
    p = F.lit(_H31).cast("bigint")
    ab = F.array(
        *[
            F.struct(
                F.lit(a_seeds[i]).cast("bigint").alias("a"),
                F.lit(b_seeds[i]).cast("bigint").alias("b"),
            )
            for i in range(MINHASH_CHECK_NUM_PERM)
        ]
    )
    par = df.sparkSession.sparkContext.defaultParallelism
    staged = (
        df.select(F.col("doc_id").alias("id"), F.col("text").alias("__text"))
        .repartition(par)
        .select("id", tokens(F.col("__text")).alias("__toks"))
        .filter(F.size("__toks") >= 3)
    )
    xs = F.transform(
        shingles_of("__toks"),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint") % p,
    )
    mins = F.aggregate(
        xs,
        F.array_repeat(F.lit(_H31).cast("bigint"), MINHASH_CHECK_NUM_PERM),
        lambda acc, v: F.zip_with(
            acc, ab, lambda m, s: F.least(m, (s["a"] * v + s["b"]) % p)
        ),
    )
    return staged.select("id", mins.alias("mins"))


def _minhash_band_keys(mins_col, n_bands: int | None = None):
    """The checked banding law (``n_bands`` bands of 16/n_bands
    concatenated minima; default the 4×4 checked config) lifted to an
    array<string> expression over a ``mins`` array column — d32's
    banding sweep re-bands the same signatures with other configs.
    ``n_bands`` defaults lazily (the constants are defined below)."""
    if n_bands is None:
        n_bands = MINHASH_CHECK_BANDS
    rows = MINHASH_CHECK_NUM_PERM // n_bands
    mins_col = F.col(mins_col) if isinstance(mins_col, str) else mins_col
    return F.array(
        *[
            F.concat_ws(
                "_",
                *[
                    F.element_at(mins_col, b * rows + r + 1).cast("string")
                    for r in range(rows)
                ],
            )
            for b in range(n_bands)
        ]
    )


def decontaminate_fuzzy(m: Materialization, train: DataFrame, benchmark: DataFrame) -> DataFrame:
    """FUZZY train/eval decontamination — the MinHash sibling of
    ``decontaminate``: where the exact pass catches verbatim n-gram
    overlap, this catches PARAPHRASED benchmark leakage (reordered or
    lightly edited eval questions) by near-dup similarity, the gap the
    exact 8-gram law structurally misses.

    Bipartite broadcast LSH, sized for eval-sets-are-MBs /
    training-is-TBs asymmetry: both sides get scan-shaped checked-law
    signatures (``minhash_sigs_scan_shaped`` — zero wide dependency),
    the benchmark's banded keys AND signatures broadcast (two tiny
    frames, checkpointed once and handed out of ``m`` — the returned
    plan reads them), and the training side meets them
    in map-side broadcast hash joins.  The only shuffle in the whole
    plan is the final per-doc aggregate over CONTAMINATED candidates —
    a vanishing fraction of the corpus.  Candidate pairs agreeing on
    any band compare full signatures; est_jaccard = agreeing
    permutations / 16 (dyadic, so the DuckDB oracle compares exactly).

    Returns one row per contaminated training doc:
    (id, n_eval_matches, top_eval_id, est_jaccard) where top_eval_id
    is the lowest-id benchmark doc at the maximum estimate
    (deterministic tie-break).
    """
    bench_sigs = m.result(minhash_sigs_scan_shaped(benchmark))
    bench_banded = bench_sigs.select(
        F.col("id").alias("eval_id"),
        F.posexplode(_minhash_band_keys("mins")).alias("band", "bk"),
    )
    train_sigs = minhash_sigs_scan_shaped(train)
    cand = (
        train_sigs.select(
            "id", "mins", F.posexplode(_minhash_band_keys("mins")).alias("band", "bk")
        )
        .join(F.broadcast(bench_banded), ["band", "bk"])
        .select("id", "mins", "eval_id")
        .dropDuplicates(["id", "eval_id"])
    )
    agree = F.aggregate(
        F.zip_with(
            F.col("mins"),
            F.col("bmins"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    scored = (
        cand.join(
            F.broadcast(bench_sigs.select(F.col("id").alias("eval_id"), F.col("mins").alias("bmins"))),
            "eval_id",
        )
        .withColumn("est", F.round(agree / float(MINHASH_CHECK_NUM_PERM), 6))
        .filter(F.col("est") >= 0.25)
        .select("id", "eval_id", "est")
    )
    best = F.max(F.struct(F.col("est").alias("e"), (-F.col("eval_id")).alias("nid")))
    return (
        scored.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_eval_matches"),
            best.alias("__best"),
        )
        .select(
            "id",
            "n_eval_matches",
            (-F.col("__best.nid")).alias("top_eval_id"),
            F.col("__best.e").alias("est_jaccard"),
        )
    )


def chunk_dup_stats(df: DataFrame, chunk_tokens: int = 16) -> DataFrame:
    """Sub-document (chunk-level) duplication profile per facet — the
    boilerplate/template detector run before training-data dedup.

    Each document's token stream is cut into fixed ``chunk_tokens``-token
    chunks (last partial chunk included); a chunk *instance* is
    "duplicated" when the identical chunk text occurs in at least one
    OTHER document.  Reported per facet: document count, total chunk
    instances, duplicated instances, and the mean per-document duplicated
    fraction.

    Scale shape: one explode (linear in corpus tokens / chunk_tokens),
    then the cross-document occurrence count groups on the chunk's
    128-bit md5 — a bounded-width shuffle key regardless of chunk text
    size — and the result joins back by hash.  No pairwise comparisons
    anywhere: corpus-wide chunk frequency is a hash aggregation, which
    survives 100 TB the same way d01 exact dedup does.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    # staged by id (round 12): the (id, h) distinct and the (id, facet)
    # rollup are both id-clustered, so hash(id) staging removes their
    # exchanges (guide §2.1/§2.4; the chunk-hash groupBy still pays its
    # narrow exchange)
    staged = (
        df.select(F.col("doc_id").alias("id"), F.col("source").alias("facet"), F.col("text").alias("__text"))
        .repartition(par, "id")
        .select("id", "facet", tokens(F.col("__text")).alias("__toks"))
    )
    toks = F.col("__toks")
    n_chunks = F.ceil(F.size(toks) / F.lit(chunk_tokens)).cast("int")
    idx = F.sequence(F.lit(0), F.greatest(n_chunks - 1, F.lit(0)))
    chunks = staged.select(
        "id",
        "facet",
        F.explode_outer(
            F.transform(
                idx,
                lambda i: F.concat_ws(" ", F.slice(toks, i * chunk_tokens + 1, chunk_tokens)),
            )
        ).alias("chunk"),
    ).filter(F.col("chunk").isNotNull() & (F.col("chunk") != ""))
    hashed = chunks.select("id", "facet", F.md5("chunk").alias("h"))
    # chunk hash -> number of distinct documents containing it
    docs_per_chunk = (
        hashed.select("id", "h").distinct().groupBy("h").agg(F.count(F.lit(1)).alias("n_docs_with"))
    )
    per_doc = (
        hashed.join(docs_per_chunk, "h")
        .groupBy("id", "facet")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("n_docs_with") > 1, 1).otherwise(0)).alias("n_dup_chunks"),
        )
    )
    return (
        per_doc.groupBy("facet")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chunks").alias("chunk_instances"),
            F.sum("n_dup_chunks").alias("dup_instances"),
            F.round(F.avg(F.col("n_dup_chunks") / F.col("n_chunks").cast("double")), 6).alias(
                "avg_dup_frac"
            ),
        )
        .withColumnRenamed("facet", "source")
    )


# ---------------------------------------------------------------------------
# Oracle-checkable MinHash LSH (md5-fold shingle ids + literal seeds)
# ---------------------------------------------------------------------------

#: Parameters of the CHECKED minhash variant, shared with the oracle-SQL
#: renderer in queries.py so Spark and DuckDB are identical by
#: construction.  Seeds come from a fixed PRNG stream.
MINHASH_CHECK_NUM_PERM = 16
MINHASH_CHECK_BANDS = 4


def minhash_check_seeds() -> tuple[list[int], list[int]]:
    import random

    rnd = random.Random(7)
    a = [rnd.randrange(1, _H31) for _ in range(MINHASH_CHECK_NUM_PERM)]
    b = [rnd.randrange(0, _H31) for _ in range(MINHASH_CHECK_NUM_PERM)]
    return a, b


def minhash_checked_signatures(
    df: DataFrame,
    m: Materialization | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The checked-MinHash SIGNATURE + BANDING stages as a reusable
    seam (round 7: the incremental near-dup composition needs to band a
    BATCH against a stored index without re-banding the corpus):
    returns (sigs (id, m0..m15), banded (id, band, bk)) — exactly the
    expression trees ``minhash_lsh_pairs_checked`` always built
    (extraction, not a change; plan fingerprints hold).

    ``m`` (round 12): ``sigs`` is referenced 4x downstream
    (banding feeds both sides of the candidate self-join, verify reads
    both signature sides), but WITHIN one action AQE's runtime exchange
    reuse already dedups the computation — interleaved A/B at sf0.1
    measured 2.29 s lazy vs 2.28 s checkpointed for the d11 chain, so
    the default stays lazy (zero plan drift).  Pass a scope, which
    checkpoints ``sigs`` in it, only when the SAME signature frame
    feeds MULTIPLE separate actions (d28/d31's
    incremental composition: the base closure and the merged closure
    are different jobs, and exchange reuse cannot span jobs — there the
    checkpoint is the difference between hashing the corpus once and
    hashing it once per action)."""
    a_seeds, b_seeds = minhash_check_seeds()
    p = F.lit(_H31).cast("bigint")
    rows_per_band = MINHASH_CHECK_NUM_PERM // MINHASH_CHECK_BANDS

    par = df.sparkSession.sparkContext.defaultParallelism
    # hash-repartition by id (round 12): the downstream 16-way min
    # aggregation groups by id, so HashPartitioning(id) on the TEXT rows
    # (1 row/doc) satisfies its required distribution and the exploded
    # shingle rows never shuffle — the round-robin form paid the same
    # text exchange AND a second exchange of the per-partition partial
    # aggregates (guide §2.1/§2.4; interleaved A/B at sf0.1: 1.12 s vs
    # 1.48 s median, results identical).
    staged = (
        df.select(F.col("doc_id").alias("id"), F.col("text").alias("__text"))
        .repartition(par, "id")
        .select("id", tokens(F.col("__text")).alias("__toks"))
        .filter(F.size("__toks") >= 3)
    )
    shingles = (
        staged.select("id", F.explode_outer(shingles_of("__toks")).alias("s"))
        .filter(F.col("s").isNotNull())
    )
    x = F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("bigint") % p
    ids = shingles.select("id", x.alias("x"))
    sigs = ids.groupBy("id").agg(
        *[
            F.min((F.lit(a_seeds[i]).cast("bigint") * F.col("x") + F.lit(b_seeds[i])) % p).alias(
                f"m{i}"
            )
            for i in range(MINHASH_CHECK_NUM_PERM)
        ]
    )
    if m is not None:
        sigs = m.checkpoint(sigs)
    band_keys = F.array(
        *[
            F.concat_ws(
                "_",
                *[
                    F.col(f"m{b * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            )
            for b in range(MINHASH_CHECK_BANDS)
        ]
    )
    banded = sigs.select("id", F.posexplode(band_keys).alias("band", "bk"))
    return sigs, banded


def minhash_lsh_pairs_checked(df: DataFrame, est_threshold: float = 0.25) -> DataFrame:
    """MinHash LSH near-dup pairs in a fully ENGINE-PORTABLE formulation:
    shingle ids are md5-hex folds (not siphash/xxhash, which only Spark
    has), permutations are universal hashes with literal seeds, and band
    keys are plain signature concatenations — every step re-runnable in
    ANSI-ish SQL, so the whole LSH pipeline (signatures → banding →
    candidates → estimate) is value-checked against the DuckDB oracle,
    not just row-counted.  The price is ~an md5 per shingle.

    Scale shape: shingling + hashing are scan-shaped, signatures are
    one 16-way min aggregation (partial aggregation applies — min is
    associative), candidates come from a band-key equi-join, and only
    candidate pairs compare signatures.
    """
    sigs, banded = minhash_checked_signatures(df)
    cand = (
        banded.select(F.col("id").alias("id_a"), "band", "bk")
        .join(banded.select(F.col("id").alias("id_b"), "band", "bk"), ["band", "bk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    return minhash_checked_verify(cand, sigs, est_threshold)


def minhash_checked_verify(
    cand: DataFrame, sigs: DataFrame, est_threshold: float
) -> DataFrame:
    """The checked-MinHash VERIFY stage as a reusable seam (round 7,
    extraction like ``minhash_checked_signatures``): candidate pairs
    compare full signatures, keep estimate >= threshold.  Exactly the
    expression tree ``minhash_lsh_pairs_checked`` always built."""
    sa = sigs.select(F.col("id").alias("id_a"), *[F.col(f"m{i}").alias(f"a{i}") for i in range(MINHASH_CHECK_NUM_PERM)])
    sb = sigs.select(F.col("id").alias("id_b"), *[F.col(f"m{i}").alias(f"b{i}") for i in range(MINHASH_CHECK_NUM_PERM)])
    agree = sum(
        F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        for i in range(MINHASH_CHECK_NUM_PERM)
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", F.round(agree / float(MINHASH_CHECK_NUM_PERM), 6))
        .filter(F.col("est_jaccard") >= est_threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


#: Checked-simhash parameters (see ``simhash_checked``).
SIMHASH_CHECK_BITS = 32
SIMHASH_CHECK_BANDS = 4


def simhash_checked(m: Materialization, df: DataFrame, max_hamming: int = 2) -> DataFrame:
    """SimHash near-dup pairs in an engine-portable formulation (the
    d11 discipline applied to simhash): token hashes are md5-hex folds,
    the 32 signature bits are per-bit term-frequency-weighted majority
    votes (sum over token OCCURRENCES of ±1 per bit — multiplicity
    matters on a small vocabulary), banding is 4×8 bits of the
    signature, and verification is bit_count(xor) <= max_hamming.
    Every step reruns in DuckDB, so the whole simhash pipeline is
    value-checked.

    Scale shape: token hashing is scan-side, the 32 bit-sums are ONE
    partial-aggregatable grouped aggregation, candidates come from a
    band-key equi-join, and only candidates pay the xor popcount.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    bits, bands = SIMHASH_CHECK_BITS, SIMHASH_CHECK_BANDS
    band_width = bits // bands

    # hash-repartition by id (round 12): the 32 bit-sum aggregations
    # group by id, so partitioning the TEXT rows by id lets the agg run
    # complete in place — the round-robin form paid this text exchange
    # AND a second exchange of 33-column partial aggregates (guide
    # §2.1/§2.4; interleaved A/B at sf0.1: 1.85 s vs 2.67 s median,
    # results identical).
    staged = (
        df.select(F.col("doc_id").alias("id"), F.col("text").alias("__text"))
        .repartition(par, "id")
        .select("id", F.explode_outer(tokens(F.col("__text"))).alias("tok"))
        .filter(F.col("tok").isNotNull())
    )
    x = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("bigint")
    ids = staged.select("id", x.alias("x"))
    bitsums = ids.groupBy("id").agg(
        *[
            F.sum(2 * F.shiftright(F.col("x"), k).bitwiseAND(F.lit(1)) - 1).alias(f"s{k}")
            for k in range(bits)
        ]
    )
    sig = sum(
        F.when(F.col(f"s{k}") > 0, F.lit(1).cast("bigint")).otherwise(0) * F.lit(1 << k).cast("bigint")
        for k in range(bits)
    )
    # The signature frame is referenced THREE times downstream (banding
    # + both verify sides) and Catalyst does not reuse the exchange
    # across those subtrees — without a barrier the token explode + the
    # 32-column bit-sum aggregation (the dominant cost) re-runs once per
    # reference (measured: 4 scans, 0 ReusedExchange).  The checkpoint
    # materializes 2 longs/doc — per-mille of corpus width — once; the
    # returned plan reads it, so it is handed out of ``m``.
    sigs = m.result(bitsums.select("id", sig.alias("sig")))
    band_keys = F.array(
        *[
            F.shiftright(F.col("sig"), band_width * b).bitwiseAND(F.lit((1 << band_width) - 1))
            for b in range(bands)
        ]
    )
    banded = sigs.select("id", F.posexplode(band_keys).alias("band", "bk"))
    cand = (
        banded.select(F.col("id").alias("id_a"), "band", "bk")
        .join(banded.select(F.col("id").alias("id_b"), "band", "bk"), ["band", "bk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sigs.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("hamming", hamming.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def fuzzy_name_pairs(df: DataFrame, name_col: str) -> DataFrame:
    """Entity-resolution candidate pairs: DISTINCT names within
    Levenshtein distance 2, with COMPLETE length-band blocking — never
    all-pairs.

    Edit distance ≤ 2 implies |len(a) − len(b)| ≤ 2, so banding lengths
    at width 3 and exploding the left side to adjacent bands loses
    nothing: every qualifying pair meets in some band.  The verify step
    is the built-in ``levenshtein`` (JVM codegen).  At 100 TB the name
    frame is the DISTINCT name vocabulary — orders of magnitude smaller
    than the row count — and the band join bounds the quadratic term by
    per-band occupancy; tighter blocking (q-gram prefix filtering)
    drops in at the same place when name vocabularies are huge.
    Returns (name_a, name_b, edit_dist), name_a < name_b.
    """
    names = df.select(F.col(name_col).alias("name")).distinct()
    banded = names.select("name", F.floor(F.length("name") / 3).alias("b"))
    left = banded.select(
        F.col("name").alias("name_a"),
        F.explode(
            F.array(F.col("b") - 1, F.col("b"), F.col("b") + 1)
        ).alias("b"),
    )
    right = banded.select(F.col("name").alias("name_b"), "b")
    return (
        left.join(right, "b")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("edit_dist", F.levenshtein("name_a", "name_b").cast("long"))
        .filter(F.col("edit_dist") <= 2)
        .select("name_a", "name_b", "edit_dist")
        .dropDuplicates(["name_a", "name_b"])
    )


def connected_components_star(
    pairs: DataFrame, driver_threshold: int = 5_000_000
) -> DataFrame:
    """Connected components of the (id_a, id_b) pair graph — the
    engine's one CC kernel, the "keep one representative per duplicate
    cluster" step after any candidate-pair generator.  Returns (node,
    rep) for every non-representative node, rep = the component's
    minimum id; self-loops are dropped.  The fixpoint is unique, so the
    result value-checks against a recursive-CTE closure.

    Two regimes, picked by the count that materializes the edge list's
    non-eager localCheckpoint (inside the count's own stage; a persist
    costs AQE one more job to build its cache):

    - at or below ``driver_threshold`` edges → **driver union-find**
      with path compression over one ``toPandas`` of that list.  It is
      scalar (two longs/row; 5 M edges ≈ 80 MB), while every
      distributed round is a full Spark job whose scheduling dwarfs
      the compute at this size.
    - above it → alternating LARGE-STAR / SMALL-STAR (Kiveris et al.
      2014, "Connected Components in MapReduce and Beyond"): O(log² n)
      rounds on ANY graph shape, where hash-to-min label propagation
      needs O(diameter) and straggles on long chains.  Each round is
      two aggregate+join passes; no adjacency materializes per node.
      large-star(u): every STRICTLY LARGER neighbor of u connects to
      min(Γ(u) ∪ {u}); small-star(u): every neighbor ≤ u (and u)
      connects to the minimum of that set.  Convergence is an
      order-free checksum of the canonical edge set, computed by the
      SAME action that materializes the round's non-eager
      localCheckpoint — one driver action per round (guide §2.6) —
      and the round body carries one trailing distinct (guide §2.4:
      9 → 7 exchanges, plans/r12/cc_round_body_{before,after}.txt).
      ``driver_threshold=0`` forces this regime.
    """

    def large_star(E: DataFrame) -> DataFrame:
        # duplicate output rows are fine: small_star's min-aggregation
        # ignores them and its trailing distinct removes them
        sym = E.unionByName(E.select(F.col("v").alias("u"), F.col("u").alias("v")))
        gmin = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m = F.least(F.col("mn"), F.col("u"))
        return (
            sym.join(gmin, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
            .filter(F.col("u") != F.col("v"))
        )

    def small_star(E: DataFrame) -> DataFrame:
        # orient (big → small); every neighbor set is then ≤ u.
        # No input distinct: min() is duplicate-tolerant, and the one
        # trailing distinct restores set semantics for the round output
        d = E.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        gmin = d.groupBy("u").agg(F.min("v").alias("mn"))
        joined = d.join(gmin, "u")
        a = joined.select(F.col("v").alias("u"), F.col("mn").alias("v"))  # N → m
        b = joined.select("u", F.col("mn").alias("v"))  # u → m
        return a.unionByName(b).filter(F.col("u") != F.col("v")).distinct()

    def checksum(E: DataFrame):
        # bit_xor: order-free AND overflow-free (sum of xxhash64 values
        # overflows long); the edge set is distinct, so xor cancellation
        # cannot hide a change.  This aggregate is ALSO the action that
        # materializes E's non-eager localCheckpoint: one job computes
        # the round, stores its blocks, and returns the 2-scalar verdict.
        row = E.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(greatest(u, v), least(u, v)))").alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    max_rounds = 25  # O(log² n) rounds; more means a broken round body
    with materialize(pairs.sparkSession) as m:
        e = m.checkpoint(
            pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v")).filter(
                F.col("u") != F.col("v")
            ),
            eager=False,
        )
        if e.count() > driver_threshold:
            cur = m.checkpoint(e.distinct(), eager=False)
            prev_sum = checksum(cur)
            m.free(e)  # the checksum stored cur's blocks; nothing reads e again
            for _ in range(max_rounds):
                nxt = m.checkpoint(small_star(large_star(cur)), eager=False)
                cur_sum = checksum(nxt)
                m.free(cur)
                cur = nxt
                if cur_sum == prev_sum:
                    break
                prev_sum = cur_sum
            else:
                raise RuntimeError(f"star CC did not converge in {max_rounds} rounds")
            # converged: every edge points node → component min; a node has a
            # single rep at the fixpoint, min() guards intermediate ties
            return m.result(cur.groupBy(F.col("u").alias("node")).agg(F.min("v").alias("rep")))
        pdf = e.toPandas()

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    for a, b in zip(pdf["u"].values, pdf["v"].values):
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra  # min root wins → rep is the component minimum
    ids = sorted(set(pdf["u"].astype(int)) | set(pdf["v"].astype(int)))
    rows = [(i, find(i)) for i in ids]
    out_pdf = pd.DataFrame(
        {
            "node": [i for i, r in rows if i != r],
            "rep": [r for i, r in rows if i != r],
        },
        dtype="int64",
    )
    return pairs.sparkSession.createDataFrame(out_pdf, schema="node long, rep long")


def semantic_dedup(
    emb: DataFrame,
    n_clusters: int = 32,
    tau_num: int = 2,
    tau_den: int = 5,
) -> DataFrame:
    """SEMANTIC (embedding-space) dedup, SemDeDup-style (Abbas et al.
    2023, arXiv:2303.09540): cluster the corpus embeddings, then within
    each cluster drop every member that is near-identical (cosine ≥
    tau_num/tau_den) to a lower-id cluster-mate — the third axis of the
    dedup matrix (exact-token d01 / fuzzy-token d03-d18 / semantic
    here).  Returns one row per vector:
    ``(vec_id, cluster, rep_id, kept)`` with rep_id = the LOWEST-id
    dominating cluster-mate (itself when kept) — the d20-style linear
    contract; the within-cluster pair matrix is internal only.

    Engine-portable integer law (the s08/s16 quantization discipline,
    so the whole approximation is value-checked, not just row-counted):
    vectors quantize to q = floor(x·scale) per dimension; cluster
    assignment is integer squared-L2 argmin against the ``n_clusters``
    lowest-id vectors (data-seeded codebook, s06's convention; ties →
    lowest cluster id); the near-identical test is the exact integer
    cross-multiplication  dot > 0  AND  tau_den²·dot² ≥ tau_num²·|a|²·|b|²
    — no float division anywhere, so DuckDB replays every drop
    bit-for-bit.  Magnitude bound: |dot| ≤ dim·scale²·max|x|², and
    tau_den²·dot² must stay < 2⁶³ (64-dim unit-ish vectors at
    scale=1000: dot ≤ 6.4e7, 25·dot² ≤ 1.1e17 — 66× headroom).

    Distributed shape (pinned in tests/test_plans.py): ONE scan-shaped
    Arrow assignment pass against the broadcast seed matrix (no
    shuffle), then ONE shuffle on the cluster key into a per-cluster
    Arrow dominance kernel (blocked integer Gram matrix, row-blocks of
    2048 so memory is O(block·members), never members²·8 bytes at
    once).  Pairs never cross clusters — cost is Σ|cluster|², not n²,
    and at 100 TB n_clusters scales ∝ n (SemDeDup runs k ≈ √n-ish
    FAISS clusterings) so per-cluster work stays bounded; the seeded
    k here is the oracle-replayable stand-in for that trained codebook
    (same plan, swap the seed matrix).  Reference witness: the O1+O2
    composition discipline (src/Core/MapReduceC.hs:22-104) — cluster =
    the partition key, dominance = the per-group reducer."""
    from pyspark.sql.functions import pandas_udf

    den2, num2 = tau_den * tau_den, tau_num * tau_num
    base = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> cast(floor(cast(x as double) * 1000) as bigint))"
        ).alias("v"),
    )
    seed_rows = base.orderBy("vec_id").limit(n_clusters).collect()
    if len(seed_rows) < n_clusters:
        raise ValueError(
            f"semantic_dedup: need {n_clusters} seed vectors, corpus has {len(seed_rows)}"
        )
    seed_ids = np.asarray([r["vec_id"] for r in seed_rows], dtype=np.int64)
    seeds = np.asarray([r["v"] for r in seed_rows], dtype=np.int64)
    s_sq = (seeds * seeds).sum(axis=1)

    @pandas_udf("bigint")
    def assign(vs: pd.Series) -> pd.Series:
        m = np.asarray([np.asarray(v, dtype=np.int64) for v in vs])
        # integer ||v-s||² = ||v||² - 2 v·s + ||s||²; argmin's first-min
        # tie-break = lowest row = lowest seed id (seed matrix id-sorted)
        d2 = (m * m).sum(axis=1)[:, None] - 2 * (m @ seeds.T) + s_sq[None, :]
        return pd.Series(seed_ids[d2.argmin(axis=1)])

    def dominate(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["vec_id"].to_numpy())
        ids = pdf["vec_id"].to_numpy()[order]
        q = np.asarray(
            [np.asarray(v, dtype=np.int64) for v in pdf["v"].to_numpy()[order]]
        )
        n2 = (q * q).sum(axis=1)
        m = len(ids)
        rep = np.full(m, -1, dtype=np.int64)
        block = 2048
        for s0 in range(0, m, block):  # ascending blocks → first hit = min id
            e0 = min(s0 + block, m)
            g = q[s0:e0] @ q.T
            cond = (g > 0) & (den2 * g * g >= num2 * np.outer(n2[s0:e0], n2))
            cond &= np.arange(s0, e0)[:, None] < np.arange(m)[None, :]
            hit = cond.any(axis=0)
            first = cond.argmax(axis=0) + s0
            upd = hit & (rep == -1)
            rep[upd] = first[upd]
        return pd.DataFrame(
            {
                "vec_id": ids,
                "cluster": np.full(m, pdf["cluster"].iloc[0], dtype=np.int64),
                "rep_id": np.where(rep >= 0, ids[np.maximum(rep, 0)], ids),
                "kept": rep == -1,
            }
        )

    return (
        base.withColumn("cluster", assign(F.col("v")))
        .groupBy("cluster")
        .applyInPandas(dominate, "vec_id bigint, cluster bigint, rep_id bigint, kept boolean")
    )


def hash64_canonical_dedup(hashes: DataFrame) -> DataFrame:
    """Canonical near-dup resolution over 64-bit perceptual hashes
    (lo/hi int32 halves): (member, rep, class_size) — one row per
    NON-representative member of each duplicate class, rep = the
    class's minimum id.  The m11/m12 output contract since round 6:
    the VERDICT r05 scale audit measured the previous pairwise output
    at 305 k → 30.8 M rows across sf0.1 → sf1 (quadratic in
    duplicate-class size, because real media corpora have hot exact-dup
    classes — boilerplate logos, silence); this is the linear-output
    composition the text side already uses (d15/d20/d21).

    Two scale moves on top of the pair emission it replaces:

    1. EXACT-DUP CONTRACTION: hamming distance depends only on the
       hash, so members with identical (lo, hi) are interchangeable —
       group them first (one partial-aggregatable groupBy), and run
       banding + verify + components over DISTINCT hashes only.  The
       candidate stage's quadratic term drops from duplicate-CLASS
       size to distinct-HASH count (planted classes: thousands of
       members, ONE hash) — the pair matrix never exists, even
       internally, for exact-dup-heavy corpora.
    2. STAR-CC RESOLUTION: verified near-dup edges between hash reps
       feed ``connected_components_star`` (O(log² n) rounds), and the
       component id (min doc id) + class size broadcast back to
       members via the hash key — output linear in members.

    Banding stays m11's pigeonhole guarantee: ≤ 3 (< 4)
    differing bits cannot touch all four 16-bit quarters, so recall
    over candidate pairs is exact, not probabilistic.
    """
    return banded_canonical_dedup(hashes, ["lo", "hi"], _hash64_bands())


def _hash64_bands():
    """The 64-bit fingerprint's four 16-bit pigeonhole band keys as an
    array Column over (lo, hi) int32 halves — shared by the canonical
    closure and the raw-edge arm."""
    return F.array(
        *[
            F.when(F.lit(b) == 0, F.col("lo").bitwiseAND(F.lit(65535)))
            .when(F.lit(b) == 1, F.shiftright(F.col("lo"), 16))
            .when(F.lit(b) == 2, F.col("hi").bitwiseAND(F.lit(65535)))
            .otherwise(F.shiftright(F.col("hi"), 16))
            for b in range(4)
        ]
    )


def _banded_rep_edges(
    grp: DataFrame, key_cols: list[str], bands_arr, max_hamming: int
) -> DataFrame:
    """Verified near-dup edges (id_a, id_b) between hash REPRESENTATIVES
    — the shared candidate+popcount-verify core of the banded dedup
    family (lazy; ``grp`` must be the persisted
    (key_cols, hrep, cnt) exact-dup contraction)."""
    banded = grp.select("hrep", *key_cols).select(
        "hrep", F.posexplode(bands_arr).alias("b", "bk")
    )
    cand = (
        banded.select(F.col("hrep").alias("ra"), "b", "bk")
        .join(banded.select(F.col("hrep").alias("rb"), "b", "bk"), ["b", "bk"])
        .filter(F.col("ra") < F.col("rb"))
        .select("ra", "rb")
        .distinct()
    )
    ga = grp.select(
        F.col("hrep").alias("ra"),
        *[F.col(k).alias(f"{k}_a") for k in key_cols],
    )
    gb = grp.select(
        F.col("hrep").alias("rb"),
        *[F.col(k).alias(f"{k}_b") for k in key_cols],
    )
    hamming = None
    for k in key_cols:
        term = F.bit_count(F.col(f"{k}_a").bitwiseXOR(F.col(f"{k}_b")))
        hamming = term if hamming is None else hamming + term
    return (
        cand.join(ga, "ra")
        .join(gb, "rb")
        .filter(hamming <= max_hamming)
        .select(F.col("ra").alias("id_a"), F.col("rb").alias("id_b"))
    )


def banded_duplicate_edges(m: Materialization, hashes: DataFrame, key_cols: list[str], bands_arr):
    """Raw connectivity edges of the banded near-dup graph WITHOUT the
    per-arm closure/emit (round 12, guide §1.2 step 1 — don't compute
    what the caller throws away): member→hash-rep edges for every
    member of a multi-member exact-dup group, plus popcount-verified
    rep–rep near-dup edges.  Connectivity is exactly what closing this
    arm alone would encode — a member M of hash group H whose class
    also contains H' < H reaches H' through M→H plus the verified
    H—H' edge — so a caller MERGING several modality edge sets (m14)
    feeds them all to ONE shared components pass instead of closing
    (and emitting, and re-keying) each arm first.

    Returns a LAZY (id_a, id_b) frame over caches held in ``m`` — so
    the caller's closure materializes every arm in its ONE edge-list
    count instead of paying a per-arm materialization action."""
    h = m.persist(hashes.select("id", *key_cols))
    grp = m.persist(
        h.groupBy(*key_cols).agg(F.min("id").alias("hrep"), F.count(F.lit(1)).alias("cnt"))
    )
    rep_edges = _banded_rep_edges(grp, key_cols, bands_arr, 3)
    mem_edges = (
        h.join(grp.select(*key_cols, "hrep"), key_cols)
        .filter(F.col("id") != F.col("hrep"))
        .select(F.col("id").alias("id_a"), F.col("hrep").alias("id_b"))
    )
    return rep_edges.unionByName(mem_edges)


def hash64_duplicate_edges(m: Materialization, hashes: DataFrame):
    """``banded_duplicate_edges`` at hash64_canonical_dedup's width: raw
    (id_a, id_b) connectivity edges of the 64-bit perceptual-hash
    near-dup graph (lazy, over caches held in ``m``), for callers that
    run ONE shared closure over several modality arms (m14)."""
    return banded_duplicate_edges(m, hashes, ["lo", "hi"], _hash64_bands())


def banded_canonical_dedup(hashes: DataFrame, key_cols: list[str], bands_arr) -> DataFrame:
    """The WIDTH-PARAMETERIZED canonical near-dup seam: exact-dup
    contraction → pigeonhole banding over DISTINCT fingerprints →
    popcount verify (Hamming ≤ 3) → star-CC → linear
    (member, rep, class_size) emit, for ANY fingerprint laid out as
    integer word columns ``key_cols`` with band keys ``bands_arr``
    (an array Column over those words; pigeonhole guarantee requires
    ``len(bands) > 3``, the Hamming bound).

    WIDTH CHOICE (the measured occupancy model, SCALE.md round-7
    band-occupancy section): with B bands of b bits each, expected
    candidate pairs over N distinct fingerprints are ~B·N²/2^(b+1).

    - 64-bit / 4×16-bit bands (``hash64_canonical_dedup``): right up to
      N_distinct ≈ 10⁷ (≈2×10⁷ candidate pairs at 10⁶, ~10⁹ at 10⁷);
      at N = 10⁹ it is ~3×10¹³ pairs — infeasible.
    - 128-bit / 4×32-bit bands (``hash128_canonical_dedup``): ~N²/2³³
      pairs — ~4.7×10⁸ at N = 10⁹, cluster-feasible; measured ~82,000×
      candidate reduction at 4×10⁶ distinct hashes
      (tools/band_occupancy.py).

    So: pick the 64-bit wrapper when the corpus's DISTINCT fingerprint
    count stays under ~10⁷, the 128-bit wrapper above that — a corpus
    sizing decision, not a per-query one.  m11/m12/m16 witness the
    64-bit instantiation, m13 the 128-bit one.
    """
    with materialize(hashes.sparkSession) as m:
        h = m.persist(hashes.select("id", *key_cols))
        grp = m.persist(
            h.groupBy(*key_cols).agg(F.min("id").alias("hrep"), F.count(F.lit(1)).alias("cnt"))
        )
        edges = _banded_rep_edges(grp, key_cols, bands_arr, 3)
        cc = connected_components_star(edges)  # (node, rep); executes here
        crep = grp.join(cc, grp.hrep == cc.node, "left").select(
            *key_cols, "cnt", F.coalesce("rep", "hrep").alias("comp")
        )
        sizes = crep.groupBy("comp").agg(F.sum("cnt").cast("bigint").alias("class_size"))
        return m.result(
            h.join(crep.select(*key_cols, "comp"), key_cols)
            .join(sizes, "comp")
            .filter(F.col("id") != F.col("comp"))
            .select(
                F.col("id").alias("member"),
                F.col("comp").cast("bigint").alias("rep"),
                "class_size",
            )
        )


def hash128_canonical_dedup(hashes: DataFrame) -> DataFrame:
    """``hash64_canonical_dedup`` at 128-bit fingerprint width — the
    band-occupancy mitigation SCALE.md's round-7 probe recorded: the
    four pigeonhole bands ARE the four 32-bit words (w0..w3), so a
    band's key space is 2³² instead of 2¹⁶ and the candidate stage
    over N distinct hashes is ~N²/2³³ pairs (feasible at N = 10⁹,
    where 16-bit bands are not).  Same guarantee (≤ max_hamming < 4
    differing bits cannot touch all four words), same composition —
    the 128-bit instantiation of ``banded_canonical_dedup`` (whose
    docstring carries the width-choice occupancy model)."""
    return banded_canonical_dedup(
        hashes,
        ["w0", "w1", "w2", "w3"],
        F.array("w0", "w1", "w2", "w3"),
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (Rabin/FastCDC discipline at token level)
# ---------------------------------------------------------------------------

#: Cut-decision divisor for ``content_defined_chunks``: a 3-gram whose
#: md5-fold hash is ≡ 0 (mod this) ends a chunk, so expected chunk
#: length is ~CDC_DIVISOR tokens.  Shared with the d24 oracle renderer.
CDC_DIVISOR = 16


def content_defined_chunks(df: DataFrame, divisor: int = CDC_DIVISOR) -> DataFrame:
    """Per-chunk frame under CONTENT-DEFINED chunking — the storage-dedup
    boundary rule (Rabin fingerprinting / FastCDC) applied at token
    level: a cut falls after token ``j`` exactly when the 3-gram ending
    at ``j`` hashes to 0 mod ``divisor``.  Because the cut decision
    depends only on a 3-token window of content, inserting or deleting
    text early in a document shifts NO later chunk boundaries — every
    chunk outside the edited neighborhood keeps its identity, which is
    precisely what ``chunk_dup_stats``'s fixed-width chunks lose (one
    leading token re-frames every downstream chunk).  The reference
    could express the boundary pass as a Mapper and the chunk-frequency
    pass as a Reducer (src/Core/MapReduceC.hs:22-26); here each is one
    declarative stage.

    Hashing is the d11 engine-portable md5-fold, so the whole pipeline
    (boundaries → chunk ids → chunk hashes) replays bit-for-bit in the
    DuckDB oracle.  Documents with no tokens vanish (no positions on
    either engine); documents shorter than 3 tokens have no grams, hence
    no cuts — one whole-document chunk.

    Returns one row per chunk instance:
    ``(id, facet, chunk_id, n_tokens, chunk_hash)``.

    Scale shape: tokenize + gram hashing are scan-side; the cut→chunk_id
    prefix sum is ONE per-document window (doc-keyed shuffle); the span
    aggregation groups on (doc, chunk_id) and the text join is doc-keyed
    against the already-staged token arrays.  Nothing is pairwise and no
    shuffle key contains document text — chunk identity travels as a
    16-hex-char hash.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = (
        df.select(
            F.col("doc_id").alias("id"),
            F.col("source").alias("facet"),
            tokens(F.col("text")).alias("t"),
        )
        .filter(F.size("t") >= 1)  # sequence(1, 0) would DESCEND (t21)
        # by-id staging (round 12): the chunk-id prefix-sum window, the
        # (id, chunk_id) span aggregation AND the text join back are all
        # id-keyed — hash(id) staging removes all three exchanges
        # (guide §2.1/§2.4)
        .repartition(par, "id")
    )
    pos = (
        toks.select(
            "id",
            "t",
            F.explode_outer(F.sequence(F.lit(1), F.size("t"))).alias("j"),
        )
        .filter(F.col("j").isNotNull())
    )
    # Clamp the slice start to 1: for j < 3 the surrounding `j >= 3`
    # conjunct makes the hash irrelevant, but Spark evaluates slice()
    # eagerly (start=0 throws, start<0 reads from the array end), so the
    # guard must be structural rather than rely on And short-circuiting
    # surviving Catalyst.
    gram_hash = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    " ", F.slice("t", F.greatest(F.col("j") - 2, F.lit(1)), 3)
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("bigint")
    cut = pos.select(
        "id",
        "j",
        F.when((F.col("j") >= 3) & (gram_hash % divisor == 0), 1)
        .otherwise(0)
        .alias("c"),
    )
    w_prev = (
        Window.partitionBy("id")
        .orderBy(F.col("j").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cids = cut.select(
        "id", "j", F.coalesce(F.sum("c").over(w_prev), F.lit(0)).alias("chunk_id")
    )
    spans = cids.groupBy("id", "chunk_id").agg(
        F.min("j").alias("j0"), F.count(F.lit(1)).alias("n_tokens")
    )
    return (
        spans.join(toks, "id")
        .select(
            "id",
            "facet",
            "chunk_id",
            "n_tokens",
            F.substring(
                F.md5(F.concat_ws(" ", F.slice("t", F.col("j0"), F.col("n_tokens")))),
                1,
                16,
            ).alias("chunk_hash"),
        )
    )


# ---------------------------------------------------------------------------
# Bloom-filter content index (space-bounded incremental dedup, d25)
# ---------------------------------------------------------------------------

#: Bloom parameters shared with the d25 oracle renderer: k seeded
#: md5-fold hash functions into m bits, stored as 32-bit words so every
#: bit value stays positive in a signed BIGINT on both engines.
BLOOM_K = 4
BLOOM_M_BITS = 1 << 20
BLOOM_WORD_BITS = 32


def _bloom_positions(text_col, m_bits: int = BLOOM_M_BITS):
    """The BLOOM_K bit positions of ``text_col`` — seeded md5-folds
    ``md5("<j>:" || text) % m`` (engine-portable: the d11 discipline)."""
    return [
        F.conv(
            F.substring(F.md5(F.concat(F.lit(f"{j}:"), text_col)), 1, 12), 16, 10
        ).cast("bigint")
        % m_bits
        for j in range(BLOOM_K)
    ]


def bloom_text_index(df: DataFrame) -> DataFrame:
    """Build a Bloom filter over ``df``'s text as a (word, w) frame of
    32-bit words — the SPACE-BOUNDED historical content index: O(m)
    bits regardless of corpus size, built with one partial-aggregatable
    ``bit_or`` shuffle (each executor ORs its partition's bits map-side
    first), and broadcastable to any probe scan.  The exact-index
    alternative (d09) keeps one 128-bit hash PER DOCUMENT and probes by
    shuffle join; this trades a measured false-positive rate for an
    index that always fits in a broadcast — the standard move when the
    history is 100 TB but the nightly increment is GBs."""
    pos = df.select(F.explode(F.array(*_bloom_positions(F.col("text")))).alias("p"))
    return (
        pos.select(
            F.expr(f"p div {BLOOM_WORD_BITS}").alias("word"),
            F.expr(f"shiftleft(1L, CAST(p % {BLOOM_WORD_BITS} AS INT))").alias("bv"),
        )
        .groupBy("word")
        .agg(F.bit_or("bv").alias("w"))
    )
