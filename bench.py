"""Benchmark harness: the FULL batch query inventory at $SPARK_GRAFT_SF_DIR.

Round 6: the measured set is every batch query (``full_inventory()``,
~193), closing VERDICT r05's coverage gap (91 of ~191 benched).  The
compact line reports BOTH the full total (``value``) and the round-5
91-query series subtotal (``r5_series_total``) so the cross-round
series stays comparable; ``calib_sec`` normalizes box drift as before.

Prints exactly ONE COMPACT JSON line (headline total + per-family
subtotals + a calibration time) and writes the FULL per-query JSON to
``BENCH_local.json`` in the repo root.  The split exists because the
driver's stdout capture keeps only the tail of long lines: round 4's
86-query line was truncated past recovery (BENCH_r04 ``parsed: null``).
The compact line is ~300 bytes — it can never lose the headline again —
and the full detail lives in the committed file.

``calib_sec`` is a fixed, data-independent calibration workload
measured FIRST in the same session — VERSION 2 since round 12 (mixed
~4 s JVM-shuffle + Arrow/Python reps, median of 5, dispersion
recorded; see ``calibration()``).  Cross-round comparisons should
normalize by it WITHIN the same ``calib_version``: this box drifts
+-2x with load, and the v1 sub-second probe itself swung 2x across
round-11 sweeps, which is why v2 exists.

Each query is executed fully via the noop sink (no driver collect cost,
no skipped projections).  One warm-up run of the flagship query first so
JVM/codegen startup isn't attributed to the first measured query.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd  # module-level: pandas_udf type hints resolve here

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
#: repeats per query in the measured pass; the reported time is the
#: MEDIAN, which strips the box-noise outliers that a single pass
#: shows (+-20% observed when anything else runs on the machine).
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))
#: repeats for the non-HEADLINE extension queries (see main())
EXT_REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_EXT_REPEATS", "1"))

#: headline set: one per operator family, weighted toward the scale-relevant ones
HEADLINE = [
    "q01_pricing_summary",
    "q05_revenue_by_nation",
    "q07_asof_enrich",
    "q12_topk_per_group",
    "q19_json_extract",
    "q21_tumbling_window",
    "q23_sessionization",
    "q25_percentiles",
    "q27_interval_join",
    "d01_dedup_exact",
    "d02_ngram_jaccard_pairs",
    "d03_minhash_lsh_pairs",
    "d05_embedding_near_dup",
    "s01_cosine_topk",
    "t01_token_stats",
    "t04_top_terms_tfidf",
    "p02_mapreduce_wordcount",
    "q31_pandas_udf_score",
    "q36_window_frames",
    "t08_repetition_scores",
    "q40_full_outer_reconcile",
    "q46_brand_supplier_stats",
    "q48_large_volume_orders",
    "q50_customer_order_distribution",
    "q52_latest_event_per_user",
    "s04_ann_srp_topk",
    "q62_unshipped_orders",
    "q65_lone_late_supplier",
    "d08_decontaminate",
    "q70_range_band_join",
    "q71_mg_heavy_hitters",
    "d10_chunk_dedup",
    "s05_kmeans_profile",
    "q72_window_dedup",
    "q73_time_range_frames",
    "q76_zorder_key",
    "t14_source_entropy",
    # round-4 families: multiformat dims, recursive CTE, large-large
    # SMJ, exact decimal money, checked-composition dedup, image decode
    "q78_multiformat_join",
    "q80_recursive_cte",
    "q83_large_large_smj",
    "q84_decimal_exact_money",
    "d15_near_dedup_checked",
    "m06_image_decode_stats",
    # round-4 additions: PII scrub, unigram LM scoring, BPE learning,
    # chunking, quantized ANN, SCD2, bloom-pruned join, PageRank,
    # audio decode
    "t16_pii_redact",
    "t17_unigram_logprob",
    "t18_bpe_merge_learn",
    "t19_doc_chunks",
    "s08_quantized_cosine_topk",
    "q91_scd2_dimension",
    "q92_bloom_prune_join",
    "q96_pagerank",
    "m07_audio_decode_stats",
    "d18_prefix_filter_pairs",
    "q98_kmv_distinct",
    "q99_linear_interp",
    "q100_triangle_count",
    "t20_data_profile",
    "q101_association_rules",
    "q102_mad_outliers",
    "t21_winnowing_fingerprints",
    "s09_gram_matrix",
    "q103_cohort_retention",
    "q104_table_diff",
    "d19_duplicate_spans",
    # round-4 second half: BPE apply, negative sampling, runtime DPP,
    # count-min sketch, BFS traversal, attribution, bigram LM, PMI
    "t22_bpe_apply",
    "s10_negative_samples",
    "q106_dynamic_partition_pruning",
    "q107_countmin_sketch",
    "q108_bfs_hops",
    "q109_event_attribution",
    "t23_bigram_logprob",
    "t24_pmi_collocations",
    "s11_power_iteration",
    "d20_quality_canonical",
    "q110_nested_struct_pruning",
    "q111_markov_transitions",
    "t25_novelty_scores",
    "t26_hashed_linear_score",
    "s12_mmr_diverse_topk",
    "m09_video_frame_stats",
    "t27_token_budget_report",
    "m10_tolerant_decode",
    "q112_ab_experiment",
    "s13_ann_recall_report",
    "q113_rfm_segments",
    "q114_cumulative_uniques",
    # round-5 additions: perceptual-hash image dedup, PQ/ADC ANN,
    # strict-order funnel, star-alternation connected components
    "m11_phash_dedup",
    "s14_pq_adc_topk",
    "q115_funnel_steps",
    "d21_star_components",
    "m12_audio_fingerprint_dedup",
    # round-6 additions: classifier training, multi-arm ANN recall,
    # IVF-PQ composition
    "t28_logreg_train",
    "s15_ann_recall_report",
    "s16_ivfpq_adc_topk",
    # round-7 additions: semantic (embedding-space) dedup, mini-batch
    # sampled-gradient training, 128-bit-fingerprint dedup
    "d22_semantic_dedup",
    "t29_logreg_minibatch",
    "m13_phash128_dedup",
    # round-7 additions (2): data-dependent corpus mixture, PCA
    # projection of the corpus onto s11's dominant eigenvector
    "t30_domain_mixture_sample",
    "s17_pca_projection",
    # round-7 additions (3): BM25 lexical retrieval, weighted sampling
    # without replacement, the end-to-end curation funnel
    "s18_bm25_topk",
    "t31_weighted_sample",
    "t32_curation_funnel",
    "q116_calibration_report",
    # round-7 additions (4): content-defined chunking, cross-modal
    # (image ∪ caption) canonical dedup
    "d24_cdc_chunk_dedup",
    "m14_crossmodal_dedup",
    "d25_bloom_dedup",
    # round-7 additions (5): fuzzy (paraphrase-catching) eval-set
    # decontamination via bipartite broadcast MinHash
    "d26_decontaminate_fuzzy",
    # round-7 additions (6): token-balanced shard packing
    "t33_balanced_shards",
    # round-7 additions (7): CDC changelog merge (log compaction)
    "q117_cdc_merge",
    # round-7 additions (8): cross-modal alignment verification
    "m15_alignment_verify",
    # round-7 additions (9): CCNet perplexity tercile bucketing
    "t34_perplexity_buckets",
    # round-7 additions (10): DSIR importance selection
    "t35_dsir_selection",
    # round-7 additions (11): Gopher intra-doc repetition filter
    "t36_repetition_filter",
    # round-7 additions (12): k-anonymity audit, CSV corrupt-record DLQ
    "q118_k_anonymity",
    "q119_csv_ingest_dlq",
    # round-7 additions (13): video near-dup dedup (modality matrix closed)
    "m16_video_dedup",
    # round-7 additions (14): late-interaction MaxSim retrieval
    "s20_maxsim_topk",
    # round-7 additions (15): BlinkDB-style sampled estimate + SE
    "q120_aqp_estimates",
    # round-7 additions (16): k-fold cross-validation readout
    "t37_logreg_crossval",
    # round-7 additions (17): weighted shortest paths (min-plus BF)
    "q121_weighted_sssp",
    # round-7 additions (18): filtered vector search (pre vs post)
    "s21_filtered_ann_topk",
    # round-7 additions (19): span-corruption masking report
    "t38_span_corruption",
    # round-7 additions (20): LSH dedup quality (recall/precision)
    "d27_lsh_quality_report",
    # round-7 additions (21): quality-signal agreement (Spearman)
    "t39_signal_agreement",
    # round-7 additions (22): incremental near-dup components
    "d28_incremental_components",
    # round-7 additions (23): dedup-aware weighted sampling
    "d29_dedup_weighted_sample",
]

# st13 is excluded from HEADLINE like the other st-series queries: the
# replay harness measures fixture IO, not the operator.

#: Round 13 (VERDICT r12 item 2a): the most expensive EXTENSION queries
#: get median-of-REPEATS like the HEADLINE set.  Their single-rep walls
#: generated 12 false regression alarms in round 12 alone (2-19x
#: in-sweep spikes, every one adjudicated as a box stall by isolated
#: re-measure) — a median over 3 reps strips exactly that noise at a
#: bounded cost (~2x the ~40 s these queries sum to).  Membership is
#: FROZEN from the two healthy round-12 sweeps (8-core driver run +
#: quiet-box 32-core before-sweep, every extension query whose wall
#: read >= 1.4 s in either); entries are only ever ADDED.
EXPENSIVE_EXT = [
    "d04_simhash_pairs",
    "d06_dup_clusters",
    "d07_near_dedup_drop_list",
    "d11_minhash_checked",
    "d12_simhash_checked",
    "d13_containment_dedup",
    "d23_leakage_safe_split",
    "d31_class_stability",
    "d32_lsh_banding_sweep",
    "q08_distinct_counts",
    "q34_approx_distinct",
    "q41_approx_percentile_contract",
    "q85_salted_join",
    "t13_boilerplate_ngrams",
    "t15_zipf_slope",
    "t46_topical_packing",
    "t48_tokenizer_fertility",
    "t49_quality_deciles",
    "t50_epoch_shuffle_manifest",
    "t55_curriculum_schedule",
]

#: post-round-5 additions, kept in a NAMED list so the cross-round
#: comparison series below can never silently shift when HEADLINE grows
#: (ADVICE r06: HEADLINE[:-3] was positionally coupled)
POST_R5_ADDITIONS = [
    "t28_logreg_train",
    "s15_ann_recall_report",
    "s16_ivfpq_adc_topk",
    "d22_semantic_dedup",
    "t29_logreg_minibatch",
    "m13_phash128_dedup",
    "t30_domain_mixture_sample",
    "s17_pca_projection",
    "s18_bm25_topk",
    "t31_weighted_sample",
    "t32_curation_funnel",
    "q116_calibration_report",
    "d24_cdc_chunk_dedup",
    "m14_crossmodal_dedup",
    "d25_bloom_dedup",
    "d26_decontaminate_fuzzy",
    "t33_balanced_shards",
    "q117_cdc_merge",
    "m15_alignment_verify",
    "t34_perplexity_buckets",
    "t35_dsir_selection",
    "t36_repetition_filter",
    "q118_k_anonymity",
    "q119_csv_ingest_dlq",
    "m16_video_dedup",
    "s20_maxsim_topk",
    "q120_aqp_estimates",
    "t37_logreg_crossval",
    "q121_weighted_sssp",
    "s21_filtered_ann_topk",
    "t38_span_corruption",
    "d27_lsh_quality_report",
    "t39_signal_agreement",
    "d28_incremental_components",
    "d29_dedup_weighted_sample",
]

#: the 91-query round-5 series subset (everything except the post-r5
#: additions above) — reported separately in the compact line so the
#: cross-round headline series stays comparable
R5_SERIES = [q for q in HEADLINE if q not in POST_R5_ADDITIONS]


def full_inventory() -> list[str]:
    """EVERY batch query in registry order (round 6: bench + plan
    coverage over the whole inventory, not a 91-query sample).  The
    st-series stays excluded — its replay harness measures fixture IO,
    not the operator (the streaming ops are timed by their own tests)."""
    from mapreducehs_spark.queries import QUERIES

    return [n for n in QUERIES if not n.startswith("st")]


def alt_queries():
    """Bench-only throughput alternates: the vectorized-hash /
    trained-codebook formulations that round 6 swapped out of the
    five driver-visible defaults (d03/d04/d07/s02/s04) in favor of the
    oracle-replayable checked kernels.  Timed after the main pass and
    recorded in BENCH_local.json only (not part of the headline total —
    they have no oracle row)."""
    from pyspark.sql import functions as F

    from mapreducehs_spark.operators import dedup, similarity
    from mapreducehs_spark.sources.catalog import load_table

    def docs(s, d):
        return load_table(s, d, "documents")

    def emb(s, d):
        return load_table(s, d, "embeddings")

    return {
        "alt_d03_minhash_vectorized": lambda m, s, d: dedup.minhash_lsh_pairs(
            m, docs(s, d), jaccard_threshold=0.35
        ),
        "alt_d04_simhash_vectorized": lambda m, s, d: dedup.simhash_near_pairs(
            m, docs(s, d), max_hamming=8
        ),
        "alt_d07_near_dedup_vectorized": lambda m, s, d: dedup.near_dedup_drop_list(
            m, docs(s, d), candidate_threshold=0.3, jaccard_threshold=0.5
        ),
        "alt_s02_ivf_trained": lambda m, s, d: similarity.ivf_topk(
            emb(s, d).filter(F.col("vec_id") >= 8),
            emb(s, d).filter(F.col("vec_id") < 8),
            k=5,
        ),
        "alt_s04_srp_gaussian": lambda m, s, d: similarity.srp_topk(
            emb(s, d).filter(F.col("vec_id") >= 8),
            emb(s, d).filter(F.col("vec_id") < 8),
            k=5,
            bands=8,
        ),
    }


def calibration(spark) -> dict:
    """Fixed box-speed probe, VERSION 2 (round 12).

    The v1 probe (seeded 10 M-row codegen-only aggregate, sub-second)
    swung 1.17 → 0.74 → 0.60 across three round-11 sweeps while raw
    walls and plan fingerprints barely moved — a ±50% swing in every
    "calibration-normalized" cross-round comparison.  A sub-second
    codegen-only burst measures scheduler/JIT jitter, not sustained box
    speed.  v2 measures what the query suite actually exercises, long
    enough to amortize scheduling noise:

    - JVM leg: 150 M-row codegen scan → 9,973-key REPARTITION (real
      shuffle bytes) → hash aggregate (sum/avg/count);
    - Python leg: 30 M-row Arrow round-trip through a pandas UDF →
      97-key aggregate.

    ~4 s per rep on the reference box; warm-up + MEDIAN OF 5, with the
    raw reps and the dispersion (sample stdev / median) recorded so
    every artifact carries its own error bar.  Returns a dict:
    ``{"calib_sec", "calib_disp", "calib_reps", "calib_version"}``.
    Cross-round normalization is only meaningful within the same
    calib_version (v2 from round 12 on; BENCH_r11 and earlier carry v1).
    """
    import statistics

    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def _py_leg(v: pd.Series) -> pd.Series:
        return (v * 1.0000001).pow(0.5) + (v % 7.0)

    def once() -> float:
        t0 = time.perf_counter()
        (
            spark.range(0, 150_000_000, 1, int(CPUS))
            .select(
                ((F.col("id") * 2654435761) % 1000003).alias("k"),
                (F.col("id") % 9973).alias("g"),
            )
            .repartition(int(CPUS), "g")
            .groupBy("g")
            .agg(F.sum("k").alias("s"), F.avg("k").alias("a"), F.count(F.lit(1)).alias("n"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        (
            spark.range(0, 30_000_000, 1, int(CPUS))
            .select(
                _py_leg((F.col("id") % 1000003).cast("double")).alias("p"),
                (F.col("id") % 97).alias("g"),
            )
            .groupBy("g")
            .agg(F.sum("p").alias("sp"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return time.perf_counter() - t0

    once()  # warm-up: JIT the generated code, spawn Python workers
    reps = [once() for _ in range(5)]
    med = statistics.median(reps)
    return {
        "calib_sec": round(med, 4),
        "calib_disp": round(statistics.stdev(reps) / med, 4),
        "calib_reps": [round(t, 4) for t in reps],
        "calib_version": 2,
    }


def main() -> None:
    from mapreducehs_spark.operators.iteration import materialize
    from mapreducehs_spark.queries import QUERIES
    from mapreducehs_spark.session import get_spark

    # Round 13 (VERDICT r12 item 2b): snapshot the PREVIOUS round's
    # per-query inventory from the committed detail file BEFORE this run
    # overwrites it, so the compact line can report a subtotal over the
    # queries BOTH rounds measured.  Family sums over different
    # inventories made round-over-round comparison structurally noisy
    # (r12's q_family "regression" was q128+q129 being new, not code);
    # `common_inventory_total` removes that failure mode.  Additive only
    # — `value` and `queries` are unchanged.
    # None (reported as null) when the previous detail file is missing
    # or unparseable — never aliased to this run's total
    prev_inventory: set[str] | None = None
    try:
        with open(os.path.join(REPO, "BENCH_local.json")) as f:
            prev_inventory = set(json.load(f).get("queries", {}))
    except (OSError, ValueError):
        pass

    spark = get_spark(app_name="mapreducehs_spark_bench", master=f"local[{CPUS}]")

    calib = calibration(spark)

    def run(name: str) -> float:
        t0 = time.perf_counter()
        QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # spawn the Python UDF workers once, so Arrow-UDF queries measure
    # kernel time rather than 32 interpreter startups
    spark.range(0, 1024, 1, int(CPUS)).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    inventory = full_inventory()

    # full untimed warm-up pass: JIT-compile the generated code, prime
    # parquet footers and broadcast paths.  Measured pass = steady state
    # (per-query codegen+JIT startup was 2-5x the steady-state time and
    # measured the JVM, not the plan).
    for name in inventory:
        run(name)
    # drop frames persisted inside operators during the warm pass —
    # they are dead (each invocation builds fresh lineage) but would
    # occupy executor memory during the measured pass
    spark.catalog.clearCache()

    import statistics

    # the curated HEADLINE series keeps median-of-REPEATS; the ~100
    # extension queries (round 6 coverage closure) get EXT_REPEATS
    # (default 1) to bound total bench wall-time — they are individually
    # small, their noise is bounded by calib_sec normalization, and no
    # cross-round series depends on them yet.  Round 13: the EXPENSIVE_EXT
    # subset joins the median-of-REPEATS tier (see its docstring).
    headline_set = set(HEADLINE) | set(EXPENSIVE_EXT)
    timings = {
        name: round(
            statistics.median(
                run(name)
                for _ in range(REPEATS if name in headline_set else EXT_REPEATS)
            ),
            4,
        )
        for name in inventory
    }
    # throughput alternates: single timed pass (already JIT-warm from
    # the kernels the defaults share), detail file only
    alts = {}
    for name, fn in alt_queries().items():
        t0 = time.perf_counter()
        with materialize(spark) as m:
            fn(m, spark, SF_DIR).write.format("noop").mode("overwrite").save()
        alts[name] = round(time.perf_counter() - t0, 4)

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else SF_DIR
    total = round(sum(timings.values()), 4)
    series_total = round(sum(timings[n] for n in R5_SERIES if n in timings), 4)
    common_total = common_n = None
    if prev_inventory is not None:
        common = {n: t for n, t in timings.items() if n in prev_inventory}
        common_total, common_n = round(sum(common.values()), 4), len(common)

    # per-family subtotals keep the stdout line ~300 bytes: q relational,
    # d dedup, s similarity, t text, m multimodal, p pipeline
    families: dict[str, float] = {}
    for name, t in timings.items():
        fam = name.split("_")[0].rstrip("0123456789") + "_family"
        families[fam] = round(families.get(fam, 0.0) + t, 4)

    full = {
        "metric": "batch_inventory_total_wall",
        "value": total,
        "unit": "sec",
        **calib,
        "n_queries": len(timings),
        "r5_series_total": series_total,
        "r5_series_n": len(R5_SERIES),
        "common_inventory_total": common_total,
        "common_inventory_n": common_n,
        "queries": timings,
        "alt_queries": alts,
        "sf": sf_val,
    }
    # SPARK_GRAFT_BENCH_OUT redirects the detail file so off-sf runs
    # (the /tmp/sf1 scaling pass) never clobber the committed sf0.1
    # detail; the driver's default run is unchanged.
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT", os.path.join(REPO, "BENCH_local.json")
    )
    with open(detail_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
        f.write("\n")

    compact = {
        "metric": "batch_inventory_total_wall",
        "value": total,
        "unit": "sec",
        **calib,
        "n_queries": len(timings),
        "r5_series_total": series_total,
        "r5_series_n": len(R5_SERIES),
        "common_inventory_total": common_total,
        "common_inventory_n": common_n,
        "queries": dict(sorted(families.items())),
        "sf": sf_val,
        "detail": os.path.basename(detail_path),
    }
    print(json.dumps(compact))
    spark.stop()


if __name__ == "__main__":
    main()
