"""Similarity search over embedding columns (``array<float>``).

LLM-data-pipeline surface mandated by BASELINE.json (absent in the
reference, SURVEY §2.2 "LLM-pipeline: similarity search").  Two paths:

- ``cosine_topk``      — exact brute-force top-k: broadcast the query
  set, JVM-side dot products, window top-k.  The correctness baseline;
  O(|queries| × |corpus|) — fine when the query side is small enough to
  broadcast, which is the common "probe" shape even at 100 TB corpora.
- ``signed random projection LSH`` (``srp_signatures`` /
  ``cosine_pairs_lsh`` / ``srp_topk``) — the scale path: bucket
  by sign-pattern of random hyperplane projections, compare only within
  buckets.  Candidate generation is linear; hyperplanes are seeded and
  shipped as literal arrays (a broadcast-sized constant).

An IVF variant (``ivf_topk``) clusters with seeded random centroids and
probes the nearest ``n_probe`` cells — the brute-force scan drops to
corpus/n_cells × n_probe per query.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreducehs_spark.functions.vector import dot_product
from mapreducehs_spark.operators.iteration import Materialization, materialize


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    max_cosine: float | None = None,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Returns (query_id, match_id, cosine, rank) with rank 1..k; ties
    broken by match id, so results are total-ordered and deterministic.

    ``max_cosine``: when set, candidates with rounded cosine ABOVE it
    are excluded BEFORE ranking — the hard-negative mining predicate
    (near-identical matches are positives/near-dups, not negatives).
    The filter compares the same round(·, 6) value both engines rank
    on, so no new float boundary is introduced.
    """
    # Scoring runs in the Arrow/numpy kernel (one einsum per batch): the
    # JVM HOF dot is interpreted per element, and worse, Catalyst
    # inlines any staged l2_normalize into the per-pair projection above
    # the join, re-normalizing per pair (measured 2-4x on this query).
    # numpy vs sequential-fold float ordering differs only ~1e-15, far
    # inside the 6-decimal rounding.
    from mapreducehs_spark.functions.vector_np import cosine_udf

    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv"))
    c = corpus.select(F.col("vec_id").alias("match_id"), F.col("embedding").alias("__cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("match_id"))
        .withColumn("cosine", F.round(cosine_udf("__qv", "__cv"), 6))
    )
    if max_cosine is not None:
        scored = scored.filter(F.col("cosine") <= F.lit(max_cosine))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("match_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", "cosine", "rank")
    )


def _hyperplanes(dim: int, n_planes: int) -> list[list[float]]:
    rng = np.random.default_rng(42)
    return rng.standard_normal((n_planes, dim)).astype(float).tolist()


def srp_signatures(df: DataFrame, dim: int) -> DataFrame:
    """Signed-random-projection signature: bit i = sign(v · h_i).
    Hyperplanes are deterministic (seeded) literal arrays; the signature
    is one integer column — JVM-side end to end."""
    planes = _hyperplanes(dim, 16)
    sig = sum(
        (
            F.when(
                dot_product(F.col("embedding"), F.array(*[F.lit(x) for x in h])) > 0,
                F.lit(2**i).cast("bigint"),
            ).otherwise(F.lit(0).cast("bigint"))
        )
        for i, h in enumerate(planes)
    )
    # vec rides through RAW: sign(v·h) is norm-invariant, and the pair
    # verification (numpy cosine) normalizes inside its own kernel.
    return df.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("vec"), sig.alias("srp_sig")
    )


def cosine_pairs_lsh(
    m: Materialization,
    df: DataFrame,
    threshold: float = 0.9,
    dim: int = 64,
) -> DataFrame:
    """All pairs with cosine ≥ threshold, via banded SRP-LSH candidates
    + exact verification.  Returns (id_a, id_b, cosine), id_a < id_b."""
    # persist = materialization barrier AND reuse: the signature (16
    # interpreted dot products/row) plus normalization feed 2×4 band join
    # sides — uncached, Catalyst re-derives them per side and inlines
    # the normalize into every pair projection (see cosine_topk).
    sigs = m.persist(srp_signatures(df, dim))
    bits_per_band = 4  # 16 planes over 4 bands
    mask = (1 << bits_per_band) - 1
    band_cols = [
        (
            F.shiftrightunsigned(F.col("srp_sig"), i * bits_per_band).bitwiseAND(F.lit(mask))
        ).alias(f"band{i}")
        for i in range(4)
    ]
    banded = sigs.select("id", "vec", *band_cols)
    pairs = None
    for i in range(4):
        l = banded.select(F.col("id").alias("id_a"), F.col("vec").alias("va"), F.col(f"band{i}").alias("bk"))
        r = banded.select(F.col("id").alias("id_b"), F.col("vec").alias("vb"), F.col(f"band{i}").alias("bk"))
        p = l.join(r, "bk").filter(F.col("id_a") < F.col("id_b")).drop("bk")
        pairs = p if pairs is None else pairs.unionByName(p)
    from mapreducehs_spark.functions.vector_np import cosine_udf

    cand = pairs.dropDuplicates(["id_a", "id_b"])
    # exact verification in the Arrow/numpy kernel — candidate volume is
    # quadratic-ish in bucket occupancy, so per-pair cost dominates; the
    # interpreted JVM dot was 64 eval steps/pair (measured ~3x whole-query)
    return (
        cand.withColumn("cosine", F.round(cosine_udf("va", "vb"), 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def srp_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dim: int = 64,
    bands: int = 4,
    planes: np.ndarray | None = None,
) -> DataFrame:
    """ANN top-k via banded SRP-LSH bucketing (query-side broadcast).

    Corpus and query vectors get the same seeded SRP signature; each is
    exploded to ``bands`` band keys (band index folded into the key so
    band i only matches band i).  Candidates are corpus vectors sharing
    at least one band with the query — a broadcast hash join on the band
    key, so the corpus is scanned ONCE with no shuffle, and only
    candidates pay the exact-cosine kernel.  At 100 TB the probe set is
    the broadcast side (the common shape); for query sets too big to
    broadcast the same plan becomes a shuffle hash join on the band key.

    Approximate by construction: a true neighbor whose signature differs
    in every band is missed — recall rises with ``bands`` (more, shorter
    bands → higher recall, more candidates).  Recall vs the exact path
    (cosine_topk) is pinned in tests on planted near-duplicates, and
    the ALGORITHM itself (sign bits, banding, candidates, ranks) is
    value-checked by s07's data-seeded-hyperplane twin against DuckDB.

    ``planes`` overrides the seeded Gaussian hyperplanes with an
    explicit (n_planes × dim) matrix — e.g. data-seeded planes an
    external oracle can replay (s07), mirroring ``ivf_topk``'s
    ``centroids`` override.
    """
    from mapreducehs_spark.functions.vector_np import cosine_udf, srp_band_keys_udf

    if planes is None:
        planes = np.asarray(_hyperplanes(dim, 16))
    else:
        planes = np.asarray(planes, dtype=np.float64)
    keys_udf = srp_band_keys_udf(planes, bands)

    def banded(df: DataFrame, out_id: str, out_vec: str) -> DataFrame:
        # explode_outer, not explode: plain explode of a UDF column
        # triggers InferFiltersFromGenerate (a size()>0 filter that
        # re-evaluates the kernel); the key array is always non-empty
        return (
            df.select(
                F.col("vec_id").alias(out_id),
                F.col("embedding").alias(out_vec),
                F.explode_outer(keys_udf(F.col("embedding"))).alias("band_key"),
            )
            .filter(F.col("band_key").isNotNull())
        )

    c = banded(corpus, "match_id", "__cv")
    q = banded(queries, "query_id", "__qv")
    # Score BEFORE the pair dedup: a pair sharing b bands appears b
    # times, and deduping first would shuffle every candidate with both
    # 64-dim vectors attached (measured 4x whole-query at 8 bands).
    # The numpy kernel re-scores duplicates for ~free; the dedup then
    # shuffles a 3-column scalar row and partial-aggregates map-side.
    scored = (
        c.join(F.broadcast(q), "band_key")
        .filter(F.col("query_id") != F.col("match_id"))
        .withColumn("cosine", F.round(cosine_udf("__qv", "__cv"), 6))
        .groupBy("query_id", "match_id")
        .agg(F.first("cosine").alias("cosine"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("match_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", "cosine", "rank")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    dim: int = 64,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """IVF-flat approximate top-k: assign corpus vectors to their
    nearest centroid (seeded random by default, or a caller-supplied
    codebook, shipped inside the UDF closure); each query probes its
    ``n_probe`` nearest cells and scans only those.

    Cell assignment and pair scoring run as Arrow-vectorized numpy
    kernels (one BLAS matmul per batch): the JVM higher-order-function
    formulation evaluates interpreted (~µs per element — n_cells dot
    products per vector made it 8x slower end to end; see
    functions/vector_np.py).  The join stays a JVM hash join on the
    cell id.

    Recall is approximate; a data-fitted codebook (k-means over a
    sample, as in ``kmeans_profile``) raises it at the same n_probe —
    the 100 TB recipe.
    """
    scored = ivf_candidates(corpus, queries, n_probe=n_probe, dim=dim, centroids=centroids)
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("match_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", "cosine", "rank")
    )


def ivf_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    n_probe: int = 4,
    dim: int = 64,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """``ivf_topk``'s probe-and-score stage as a reusable seam (the
    round-7 filtered-ANN composition needs the SCORED candidate frame
    before ranking): (query_id, match_id, cosine) for every candidate
    in a probed cell.  Exactly the expression tree ivf_topk always
    built — extraction, not a change, so plan fingerprints hold."""
    from mapreducehs_spark.functions.vector_np import (
        cell_argmax_udf,
        cosine_udf,
        top_cells_udf,
    )

    if centroids is None:
        rng = np.random.default_rng(42)
        cents = rng.standard_normal((16, dim))
        cents = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    else:
        cents = np.asarray(centroids, dtype=np.float64)

    c = corpus.select(
        F.col("vec_id").alias("match_id"), F.col("embedding").alias("__cv")
    ).withColumn("cell", cell_argmax_udf(cents)(F.col("__cv")))

    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qv")
    ).withColumn("cell", F.explode(top_cells_udf(cents, n_probe)(F.col("__qv"))))

    return (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("match_id"))
        .withColumn("cosine", F.round(cosine_udf("__qv", "__cv"), 6))
    )


def label_centroids(emb: DataFrame) -> DataFrame:
    """Per-label centroid: mean of each vector component.

    posexplode + groupBy(label, pos) + avg — one shuffle keyed on
    (label, pos), perfectly partial-aggregatable at any scale.  Returns
    (label, pos, centroid_val).
    """
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid_val"))
    )


def all_pairs_cosine_blocked(
    m: Materialization,
    emb: DataFrame,
    threshold: float,
    block_size: int = 512,
) -> DataFrame:
    """EXACT all-pairs cosine ≥ threshold via blocked matrix products.

    The scalable exact-similarity-join shape: vectors are packed into
    id-range blocks (one row per block: ids + matrix); every unordered
    block pair is joined (B(B+1)/2 rows for B blocks) and scored with
    ONE numpy matmul per block pair inside ``mapInPandas``.  Each vector
    crosses the shuffle O(B) times instead of O(n) times for the naive
    pair explode, and the O(n²) arithmetic runs at BLAS speed instead of
    per-pair expression evaluation.  At 100 TB: same topology with
    block_size tuned so a block pair (~2·b·dim·8 bytes) fits executor
    memory, and an LSH/IVF prefilter (cosine_pairs_lsh) when exactness
    is not required.

    Returns (id_a, id_b, cosine) with id_a < id_b, cosine rounded to 6.
    """
    import pandas as pd

    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    packed_schema = StructType(
        [
            StructField("blk", LongType()),
            StructField("ids", ArrayType(LongType())),
            StructField("mat", ArrayType(DoubleType())),
        ]
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        # mat is the block matrix FLATTENED row-major: a flat
        # array<double> crosses the Arrow boundary as one contiguous
        # buffer, where array<array<double>> materialized ~n·dim Python
        # objects per block row on every read (measured: the d16 sf1
        # pair stage went from minutes to seconds)
        pdf = pdf.sort_values("__id", ignore_index=True)
        return pd.DataFrame(
            {
                "blk": [int(pdf["__blk"].iloc[0])],
                "ids": [pdf["__id"].tolist()],
                "mat": [
                    np.concatenate([np.asarray(v, dtype=np.float64) for v in pdf["__vec"]]).tolist()
                ],
            }
        )

    blocks = m.persist(
        emb.select(
            F.col("vec_id").alias("__id"),
            F.col("embedding").alias("__vec"),
            F.floor(F.col("vec_id") / block_size).alias("__blk"),
        )
        .groupBy("__blk")
        .applyInPandas(pack, schema=packed_schema)
    )

    # shuffle only the TINY (blk_a, blk_b) pair index and broadcast the
    # packed blocks to it: the previous form repartitioned the fat
    # joined rows themselves, i.e. shuffled O(B²) block-sized payloads
    # (= n²/B · dim doubles) — the broadcast is O(n · dim) once per
    # executor.  Beyond broadcast range the right operator is the LSH
    # prefilter (cosine_pairs_lsh), per the docstring.
    blks = blocks.select("blk")
    pair_idx = blks.select(F.col("blk").alias("blk_a")).join(
        blks.select(F.col("blk").alias("blk_b")), F.col("blk_a") <= F.col("blk_b")
    )
    left = blocks.select(
        F.col("blk").alias("blk_a"), F.col("ids").alias("ids_a"), F.col("mat").alias("mat_a")
    )
    right = blocks.select(
        F.col("blk").alias("blk_b"), F.col("ids").alias("ids_b"), F.col("mat").alias("mat_b")
    )

    out_schema = StructType(
        [
            StructField("id_a", LongType()),
            StructField("id_b", LongType()),
            StructField("cosine", DoubleType()),
        ]
    )

    def score(batches):
        for pdf in batches:
            outs = []
            for row in pdf.itertuples(index=False):
                ids_a = np.asarray(row.ids_a, dtype=np.int64)
                ids_b = np.asarray(row.ids_b, dtype=np.int64)
                ma = np.array(row.mat_a, dtype=np.float64).reshape(len(ids_a), -1)
                mb = np.array(row.mat_b, dtype=np.float64).reshape(len(ids_b), -1)
                na = np.linalg.norm(ma, axis=1, keepdims=True)
                nb = np.linalg.norm(mb, axis=1, keepdims=True)
                np.divide(ma, na, out=ma, where=na > 0)
                np.divide(mb, nb, out=mb, where=nb > 0)
                cos = ma @ mb.T
                ii, jj = np.nonzero(cos >= threshold)
                if len(ii) == 0:
                    continue
                id_a, id_b, c = ids_a[ii], ids_b[jj], cos[ii, jj]
                keep = id_a < id_b  # drops self-pairs and dedups diagonal blocks
                outs.append(
                    pd.DataFrame(
                        {"id_a": id_a[keep], "id_b": id_b[keep], "cosine": np.round(c[keep], 6)}
                    )
                )
            yield (
                pd.concat(outs, ignore_index=True)
                if outs
                else pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
            )

    # spread the pair INDEX over tasks (cheap int rows), then attach
    # the block payloads from the broadcast copies executor-side
    n_blocks = max(blocks.count(), 1)
    fat = (
        pair_idx.repartition(min(n_blocks * (n_blocks + 1) // 2, 256))
        .join(F.broadcast(left), "blk_a")
        .join(F.broadcast(right), "blk_b")
    )
    return fat.mapInPandas(score, schema=out_schema)


def _kmeans_final_assignment(
    m: Materialization,
    emb: DataFrame,
    k: int,
    iters: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared Lloyd trajectory behind ``kmeans_profile`` and
    ``kmeans_assignments``: ``iters - 1`` centroid updates, then the
    final assignment pass.  Returns (id, v, a:struct<cluster,sqdist>)
    over the vector frame persisted in ``m``.
    """
    from pyspark.sql.functions import pandas_udf

    def assign_udf(cids: list[int], cents: np.ndarray):
        # codebook rows sorted by cluster id; np.argmin's first-min
        # tie-break therefore means "lowest cluster id wins"
        c = np.asarray(cents, dtype=np.float64)  # (k, dim)
        c_sq = (c * c).sum(axis=1)
        labels = np.asarray(cids, dtype=np.int64)

        @pandas_udf("struct<cluster: long, sqdist: double>")
        def assign(vs: pd.Series) -> pd.DataFrame:
            x = np.asarray([np.asarray(v, dtype=np.float64) for v in vs])
            # ||v-c||^2 = ||v||^2 - 2 v.c + ||c||^2
            d2 = (x * x).sum(axis=1)[:, None] - 2.0 * (x @ c.T) + c_sq[None, :]
            best = d2.argmin(axis=1)
            return pd.DataFrame(
                {"cluster": labels[best], "sqdist": d2[np.arange(len(best)), best]}
            )

        return assign

    vecs = emb.select(
        F.col(id_col).alias("id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
    )
    # the k lowest-id vectors, as documented — ids need not start at 0
    # or be contiguous (an id<k filter would silently under-seed then)
    init = vecs.orderBy("id").limit(k).collect()
    if len(init) != k:
        raise ValueError(f"kmeans: need {k} seed vectors, corpus has {len(init)}")
    # clusters stay labeled by their seed vector's id across iterations
    cids = [int(r["id"]) for r in init]
    cents = np.asarray([r["v"] for r in init], dtype=np.float64)

    vecs = m.persist(vecs)
    for _ in range(max(iters - 1, 0)):
        assigned = vecs.withColumn("a", assign_udf(cids, cents)(F.col("v")))
        sums = (
            assigned.select(F.col("a.cluster").alias("cl"), F.posexplode("v").alias("pos", "x"))
            .groupBy("cl", "pos")
            .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        survivors = sorted({int(r["cl"]) for r in sums})
        remap = {cl: i for i, cl in enumerate(survivors)}
        dim = cents.shape[1]
        acc = np.zeros((len(survivors), dim))
        cnt = np.zeros(len(survivors))
        for r in sums:
            acc[remap[r["cl"]], r["pos"]] = r["s"]
            cnt[remap[r["cl"]]] = r["n"]
        cids = survivors
        cents = acc / cnt[:, None]
    return vecs.withColumn("a", assign_udf(cids, cents)(F.col("v")))


def kmeans_profile(emb: DataFrame, k: int = 8) -> DataFrame:
    """Deterministic Lloyd k-means (data-seeded: initial centroids are
    the ``k`` lowest-``vec_id`` vectors) returning the per-cluster
    profile ``(cluster, n_members, avg_sqdist)`` after 2
    iterations — the iterative-algorithm witness with a replayable
    trajectory (no RNG), so even the oracle can re-derive it.

    Distributed shape per iteration:
    (1) assignment is an Arrow-batched numpy matmul against the
    broadcast-sized centroid matrix — scan-shaped, no shuffle;
    (2) the centroid update is posexplode + hash-agg keyed on
    (cluster, pos) — ONE partial-aggregatable shuffle of k×dim×P partial
    rows, never raw vectors.  Only k×dim floats hit the driver per
    iteration.  All arithmetic in float64 (inputs upcast) so results are
    engine-portable.  Clusters that empty out drop from the codebook
    (standard Lloyd-with-pruning).
    """
    with materialize(emb.sparkSession) as m:
        return (
            _kmeans_final_assignment(m, emb, k, 2, "vec_id", "embedding")
            .groupBy(F.col("a.cluster").alias("cluster"))
            .agg(
                F.count(F.lit(1)).alias("n_members"),
                F.avg("a.sqdist").alias("avg_sqdist"),
            )
        )


def kmeans_assignments(m: Materialization, emb: DataFrame, k: int = 8) -> DataFrame:
    """Per-vector cluster labels from ``kmeans_profile``'s EXACT
    trajectory (same seeds, same single update, same final
    assignment pass) — the labels are what embedding-curation passes
    consume (SemDeDup partitioning, topical packing, cluster-stratified
    selection), while ``kmeans_profile`` keeps the per-cluster rollup.

    Returns columns (id, cluster, sqdist); the vector frame stays
    persisted in the caller's scope ``m``.
    """
    return _kmeans_final_assignment(m, emb, k, 2, "vec_id", "embedding").select(
        "id",
        F.col("a.cluster").alias("cluster"),
        F.col("a.sqdist").alias("sqdist"),
    )


def quantized_cosine_topk(corpus: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k by cosine over int8-style QUANTIZED vectors — the
    memory-bandwidth scale path: 4× less corpus IO than float32 (8× vs
    float64), integer SIMD dots, at a bounded similarity error (|Δcos|
    ≤ ~2/127 on unit vectors).  Same broadcast-probe shape as
    cosine_topk, but both sides run through ``quantize_udf`` first, so
    at 100 TB the quantized corpus column is what you'd materialize
    (write once, scan forever) while raw floats stay cold.

    Unlike the float path, every score here is an integer-exact ratio —
    the whole approximation is value-checkable by an oracle replaying
    the same floor-quantization (see s08).
    """
    from mapreducehs_spark.functions.vector_np import int_cosine_udf, quantize_udf

    qz = quantize_udf()
    q = queries.select(F.col("vec_id").alias("query_id"), qz(F.col("embedding")).alias("__qq"))
    c = corpus.select(F.col("vec_id").alias("match_id"), qz(F.col("embedding")).alias("__cq"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("match_id"))
        .withColumn("qcosine", F.round(int_cosine_udf("__qq", "__cq"), 6))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qcosine").desc(), F.col("match_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("query_id", "match_id", "qcosine", "rank")
    )


def gram_matrix(vecs: DataFrame) -> DataFrame:
    """Distributed integer Gram matrix G = Qᵀ·Q over the whole corpus.

    The primitive behind covariance/PCA/whitening of an embedding
    corpus: G[i][j] = Σ_rows q_i·q_j where q = floor(scale·x) per
    component.  Each Arrow batch computes its dim×dim partial with ONE
    numpy int64 matmul and emits only the upper triangle — so the
    shuffle is O(#batches × dim²/2) rows of 3 BIGINTs, never the
    vectors themselves, and the final hash-agg merges partials
    associatively.  At 100 TB the reduction tree is exactly a
    tree-aggregate: dim=64 → 2 080 rows per batch regardless of corpus
    size, and the driver never sees a vector.

    Integer quantization makes the result ORDER-FREE (int sums commute
    exactly), which is what lets an engine-independent oracle replay it
    bit-for-bit; float Gram matrices are only reproducible up to
    summation order.  1-based (i, j), j ≥ i.
    """
    import pyarrow as pa

    def partial_grams(batches):
        for batch in batches:
            col = batch.column(0)
            mat = np.array(col.to_pylist(), dtype=np.float64)
            if mat.size == 0:
                continue
            q = np.floor(mat * 1000).astype(np.int64)
            g = q.T @ q
            dim = g.shape[0]
            iu, ju = np.triu_indices(dim)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array((iu + 1).astype(np.int64)),
                    pa.array((ju + 1).astype(np.int64)),
                    pa.array(g[iu, ju]),
                ],
                names=["i", "j", "partial"],
            )

    partials = vecs.select(F.col("embedding")).mapInArrow(
        partial_grams, "i long, j long, partial long"
    )
    return (
        partials.groupBy("i", "j")
        .agg(F.sum("partial").alias("g"))
        .select("i", "j", "g")
    )


def ivfpq_adc_topk(corpus: DataFrame, queries: DataFrame, coarse: np.ndarray) -> DataFrame:
    """IVF-PQ with asymmetric distance computation — the two preceding
    paradigms COMPOSED the way billion-scale indexes actually compose
    them (Jegou et al. 2011, IVFADC; reference witness: the O1+O2
    composition discipline, src/Core/MapReduceC.hs:22-104): the coarse
    quantizer (IVF, s06's paradigm) restricts COMPUTE to 4 probed
    cells per query, and product quantization over the cell RESIDUALS
    (s14's paradigm) restricts MEMORY to 4 one-byte codes (one per
    subspace) per corpus vector.  Quantizing the residual
    v - centroid(cell) instead of v itself is the load-bearing trick: residual norms are much
    smaller than vector norms, so the same codebook budget yields a
    finer grid exactly where the probed candidates live.

    Determinism/oracle: vectors are integer (milli-quantized upstream),
    the coarse codebook is a driver-supplied integer matrix, the PQ
    codebook is the residuals of the 16 LOWEST-id corpus vectors
    with id >= n_cells (a fixed data seed, no trained randomness), and
    every distance is an integer sum with first-minimum (= lowest-index)
    tie-breaks — encode -> probe -> ADC -> rank replays bit-for-bit in
    DuckDB (s16's oracle).

    Plan shape: ONE Arrow encode pass over the corpus (assign + residual
    + PQ encode fused, scan-shaped), a BROADCAST join of the
    (query, probed-cell) pairs on the cell id — the IVF pruning happens
    in the JVM hash join, so unprobed cells never reach Python — one
    Arrow ADC pass (table lookups + adds, no per-pair vector math), and
    a WindowGroupLimit top-5.  Driver state: the codebooks and the
    n_queries x 4 ADC tables, all model-sized.  At 100 TB the
    corpus persists as (cell, codes) — 4 bytes per vector, ~64x
    smaller than raw floats — and each query touches 4/n_cells of
    it; neither raw vectors nor residuals ever shuffle.
    """
    coarse = np.asarray(coarse, dtype=np.int64)
    n_cells, dim = coarse.shape
    ds = dim // 4

    # PQ codebook: residuals of the 16 lowest corpus ids that are not
    # themselves coarse centroids (their residuals would be zero rows).
    seed_rows = (
        corpus.filter(F.col("vec_id") >= n_cells).orderBy("vec_id").limit(16).collect()
    )
    S = np.array([r["v"] for r in seed_rows], dtype=np.int64)
    scell = ((S[:, None, :] - coarse[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
    CB = (S - coarse[scell]).reshape(16, 4, ds)  # (codeword, subspace, ds)

    def encode(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array(pdf["v"].to_list(), dtype=np.int64)
            cell = ((X[:, None, :] - coarse[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
            R = (X - coarse[cell]).reshape(len(pdf), 4, ds)
            codes = np.empty((len(pdf), 4), dtype=np.int64)
            for m in range(4):
                dm = ((R[:, None, m, :] - CB[None, :, m, :]) ** 2).sum(axis=2)
                codes[:, m] = dm.argmin(axis=1)  # first min == lowest pqid
            yield pd.DataFrame(
                {
                    "match_id": pdf["vec_id"],
                    "cell": cell.astype(np.int64),
                    "codes": list(codes),
                }
            )

    coded = corpus.mapInPandas(encode, schema="match_id long, cell long, codes array<bigint>")

    q_rows = queries.orderBy("vec_id").collect()
    qids = [int(r["vec_id"]) for r in q_rows]
    Q = np.array([r["v"] for r in q_rows], dtype=np.int64)
    qd = ((Q[:, None, :] - coarse[None, :, :]) ** 2).sum(axis=2)
    # stable argsort: equal distances keep ascending cell id, the
    # oracle's (sq ASC, cid ASC) order
    probe_cells = np.argsort(qd, axis=1, kind="stable")[:, :4]
    tabs: dict[tuple[int, int], np.ndarray] = {}
    probe_pairs = []
    for qi, qid in enumerate(qids):
        for cell in probe_cells[qi]:
            qr = (Q[qi] - coarse[cell]).reshape(4, ds)
            tabs[(qid, int(cell))] = (
                (qr[:, None, :] - CB.transpose(1, 0, 2)) ** 2
            ).sum(axis=2)  # (subspace, codeword)
            probe_pairs.append((qid, int(cell)))
    probes_df = corpus.sparkSession.createDataFrame(
        probe_pairs, "query_id long, cell long"
    )

    joined = coded.join(F.broadcast(probes_df), "cell")
    m_idx = np.arange(4)

    def adc_scan(it):
        for pdf in it:
            if not len(pdf):
                continue
            codes = np.array(pdf["codes"].to_list(), dtype=np.int64)
            out = np.empty(len(pdf), dtype=np.int64)
            for (qid, cell), idx in pdf.groupby(["query_id", "cell"]).indices.items():
                t = tabs[(int(qid), int(cell))]
                out[idx] = t[m_idx[None, :], codes[idx]].sum(axis=1)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"],
                    "match_id": pdf["match_id"],
                    "cell": pdf["cell"],
                    "adc": out,
                }
            )

    scored = joined.mapInPandas(
        adc_scan, schema="query_id long, match_id long, cell long, adc long"
    )
    w = Window.partitionBy("query_id").orderBy(F.col("adc").asc(), F.col("match_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "match_id", "cell", "adc", "rank")
    )
