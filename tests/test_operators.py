"""Unit tests for operator/helper modules not (fully) exercised by the
oracle suite: skew helpers, generic sources, vector functions, the
pipeline kernel's local-vs-Spark differential, and join operators.

The differential discipline mirrors the reference's QuickCheck suite
(distributed result == naiveEvaluator result, test/Generator.hs:83-92):
here Spark == run_local / numpy / a naive Spark plan.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mapreducehs_spark.functions.vector import dot_product
from mapreducehs_spark.operators.iteration import materialize
from mapreducehs_spark.operators.joins import asof_join, range_join
from mapreducehs_spark.operators.skew import salted, two_phase_agg
from mapreducehs_spark.pipeline import Pipeline, word_count_pipeline
from mapreducehs_spark.session import scoped_confs
from mapreducehs_spark.sources.catalog import read_any, write_any


# ---------------------------------------------------------------------------
# skew helpers
# ---------------------------------------------------------------------------

def test_two_phase_agg_matches_plain_agg(spark):
    df = spark.range(0, 10_000).select(
        (F.col("id") % 7).alias("k"), (F.col("id") * 2).alias("x")
    )
    plain = {
        r["k"]: (r["s"], r["n"])
        for r in df.groupBy("k")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    salted_res = {
        r["k"]: (r["s"], r["n"])
        for r in two_phase_agg(
            df,
            "k",
            partial_aggs=[F.sum("x").alias("ps"), F.count(F.lit(1)).alias("pn")],
            final_aggs=[F.sum("ps").alias("s"), F.sum("pn").alias("n")],
        ).collect()
    }
    assert plain == salted_res


def test_salted_range_and_determinism(spark):
    df = spark.range(0, 1000).select(F.lit("hot").alias("k"), F.col("id").alias("x"))
    s1 = salted(df, "k", n_salts=8).select("__salt").distinct().collect()
    vals = sorted(r["__salt"] for r in s1)
    assert set(vals) <= set(range(8))
    assert len(vals) == 8  # 1000 rows spread over all 8 salts
    # deterministic: same input → same salt assignment
    a = salted(df, "k", 8).collect()
    b = salted(df, "k", 8).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


# ---------------------------------------------------------------------------
# generic sources (read_any / write_any round trips)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_source_round_trip(spark, tmp_path, fmt):
    df = spark.createDataFrame(
        [Row(a=1, b="x", c=1.5), Row(a=2, b="y", c=-0.25), Row(a=3, b=None, c=0.0)]
    )
    path = str(tmp_path / f"rt.{fmt}")
    opts = {"header": "true"} if fmt == "csv" else {}
    write_any(df, path, fmt=fmt, **opts)
    back = read_any(spark, path, fmt=fmt, schema="a bigint, b string, c double", **opts)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_partitioned_write_prunes(spark, tmp_path):
    df = spark.createDataFrame([(i, f"g{i % 3}") for i in range(30)], ["x", "g"])
    path = str(tmp_path / "part")
    write_any(df, path, partition_by=["g"])
    back = read_any(spark, path).filter(F.col("g") == "g1")
    assert back.count() == 10
    # partition pruning: only the g=g1 directory is scanned
    files = back.select(F.input_file_name()).distinct().collect()
    assert all("g=g1" in r[0] for r in files)


# ---------------------------------------------------------------------------
# vector functions vs numpy
# ---------------------------------------------------------------------------

def test_vector_functions_match_numpy(spark):
    rng = np.random.default_rng(7)
    a = rng.standard_normal(16).tolist()
    b = rng.standard_normal(16).tolist()
    df = spark.createDataFrame([Row(a=a, b=b)])
    row = df.select(dot_product("a", "b").alias("dot")).collect()[0]
    assert math.isclose(row["dot"], float(np.dot(a, b)), rel_tol=1e-9)


# ---------------------------------------------------------------------------
# pipeline kernel differential (Spark lowering == run_local oracle)
# ---------------------------------------------------------------------------

def test_wordcount_pipeline_differential(spark):
    rows = [("", "hello"), ("", "aabbb"), ("", ""), ("x", "zzz")]
    pipe = word_count_pipeline()
    want = sorted(pipe.run_local(rows))
    df = spark.createDataFrame(rows, "key string, value string")
    got = sorted((r["key"], r["value"]) for r in pipe.run(df).collect())
    assert got == want


def test_reference_sample_result():
    """The reference's own sample: run-length of 'hello' then +1 then sum
    (src/Impl.hs:39-44) → e:2, h:2, l:3, o:2 (each count+1, summed)."""
    out = dict(word_count_pipeline().run_local([("", "hello")]))
    assert out == {"e": 2, "h": 2, "l": 3, "o": 2}


def test_rle_regex_matches_naive_loop():
    """The compiled-regex run-length encoder must agree with the obvious
    per-char loop on every shape: empty, singleton runs, newlines (the
    DOTALL flag), and long runs."""
    from mapreducehs_spark.pipeline import _run_length_encode

    def naive(v):
        out = []
        for ch in str(v):
            if out and out[-1][0] == ch:
                out[-1] = (ch, out[-1][1] + 1)
            else:
                out.append((ch, 1))
        return out

    for s in ["", "a", "aaa", "ab\nb\n\ncc", "aaabbbaaa", "x" * 500 + "y"]:
        assert _run_length_encode(None, s) == naive(s), repr(s)


def test_wordcount_assoc_lowering_matches(spark):
    """word_count_pipeline(assoc=True) — the reduce_agg 100 TB path —
    must produce exactly the reduce_stage result (sum is associative)."""
    rows = [("", "hello"), ("", "aabbb"), ("", ""), ("x", "zzz")]
    df = spark.createDataFrame(rows, "key string, value string")
    slow = sorted(
        (r["key"], r["value"]) for r in word_count_pipeline().run(df).collect()
    )
    fast = sorted(
        (r["key"], r["value"])
        for r in word_count_pipeline(assoc=True).run(df).collect()
    )
    assert fast == slow


def test_multi_emit_reducer_differential(spark):
    """Reducer may emit 0..n values per key (MapReduceC.hs:26)."""
    def spread(k, vs):
        return [] if len(vs) == 1 else [min(vs), max(vs)]

    pipe = Pipeline().reduce_stage(spread, "key string, value bigint")
    rows = [("a", 3), ("a", 9), ("a", 5), ("b", 1), ("c", 4), ("c", 2)]
    want = sorted(pipe.run_local(rows))
    df = spark.createDataFrame(rows, "key string, value bigint")
    got = sorted((r["key"], r["value"]) for r in pipe.run(df).collect())
    assert got == want


def test_reduce_agg_fast_path(spark):
    pipe = Pipeline().reduce_agg(F.sum("value").alias("value"))
    df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 5)], "key string, value bigint")
    got = sorted((r["key"], r["value"]) for r in pipe.run(df).collect())
    assert got == [("a", 3), ("b", 5)]


# ---------------------------------------------------------------------------
# join operators
# ---------------------------------------------------------------------------

def test_asof_join_basic_and_tolerance(spark):
    quotes = spark.createDataFrame(
        [("A", "2024-01-01 10:00:00", 100.0), ("A", "2024-01-01 10:05:00", 101.0),
         ("B", "2024-01-01 10:01:00", 50.0)],
        "sym string, qt string, px double",
    ).select("sym", F.col("qt").cast("timestamp").alias("qt"), "px")
    trades = spark.createDataFrame(
        [("A", "2024-01-01 10:03:00"), ("A", "2024-01-01 10:05:00"),
         ("A", "2024-01-01 09:59:00"), ("B", "2024-01-01 10:30:00")],
        "sym string, tt string",
    ).select("sym", F.col("tt").cast("timestamp").alias("tt"))

    out = {
        (r["sym"], str(r["tt"])): r["px"]
        for r in asof_join(trades, quotes, on="sym", left_time="tt", right_time="qt").collect()
    }
    assert out[("A", "2024-01-01 10:03:00")] == 100.0
    assert out[("A", "2024-01-01 10:05:00")] == 101.0  # <= semantics: same-ts matches
    assert out[("A", "2024-01-01 09:59:00")] is None  # nothing at-or-before
    assert out[("B", "2024-01-01 10:30:00")] == 50.0

    tol = {
        (r["sym"], str(r["tt"])): r["px"]
        for r in asof_join(
            trades, quotes, on="sym", left_time="tt", right_time="qt",
            tolerance_seconds=600,
        ).collect()
    }
    assert tol[("B", "2024-01-01 10:30:00")] is None  # 29 min stale > 10 min tolerance
    assert tol[("A", "2024-01-01 10:03:00")] == 100.0


def test_range_join_matches_naive(spark):
    points = spark.createDataFrame([(float(i),) for i in range(0, 100)], ["p"])
    ivals = spark.createDataFrame(
        [(0.0, 10.0, "a"), (5.0, 6.0, "b"), (50.0, 99.0, "c"), (200.0, 300.0, "d")],
        "lo double, hi double, tag string",
    )
    got = sorted(
        (r["p"], r["tag"])
        for r in range_join(points, ivals, "p", "lo", "hi", bucket_width=10.0).collect()
    )
    naive = sorted(
        (r["p"], r["tag"])
        for r in points.crossJoin(ivals)
        .filter(F.col("p").between(F.col("lo"), F.col("hi")))
        .collect()
    )
    assert got == naive


# ---------------------------------------------------------------------------
# similarity: LSH recall on planted duplicates + blocked exact all-pairs
# ---------------------------------------------------------------------------

def _planted_vectors(n=200, dim=32, n_dups=12, seed=3):
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n, dim))
    rows = [(i, base[i].tolist()) for i in range(n)]
    # plant near-duplicates: vec n+j = vec j + tiny noise (cosine ≈ 0.999)
    for j in range(n_dups):
        noisy = base[j] + 0.01 * rng.standard_normal(dim)
        rows.append((n + j, noisy.tolist()))
    return rows, [(j, n + j) for j in range(n_dups)]


def test_cosine_pairs_lsh_finds_planted_dups(spark):
    from mapreducehs_spark.operators.similarity import cosine_pairs_lsh

    rows, planted = _planted_vectors()
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with materialize(spark) as m:
        got = {
            (r["id_a"], r["id_b"])
            for r in cosine_pairs_lsh(m, df, threshold=0.95, dim=32).collect()
        }
    # every planted pair is found (recall 1.0 at cosine ≈ 0.999), and
    # nothing below the threshold sneaks in (verification is exact)
    assert set(planted) <= got


def test_blocked_all_pairs_matches_bruteforce(spark):
    from mapreducehs_spark.functions.vector_np import cosine_udf
    from mapreducehs_spark.operators.similarity import all_pairs_cosine_blocked

    rows, _ = _planted_vectors(n=150, n_dups=5)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with materialize(spark) as m:
        got = sorted(
            (r["id_a"], r["id_b"], r["cosine"])
            for r in all_pairs_cosine_blocked(m, df, threshold=0.3, block_size=40).collect()
        )
    a = df.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"))
    b = df.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"))
    brute = sorted(
        (r["id_a"], r["id_b"], r["cosine"])
        for r in a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(cosine_udf("va", "vb"), 6))
        .filter(F.col("cosine") >= 0.3)
        .collect()
    )
    assert got == brute


# ---------------------------------------------------------------------------
# dedup estimators: MinHash estimate quality, SimHash duplicates
# ---------------------------------------------------------------------------

def _doc_corpus():
    """Docs with planted duplicate pairs of known overlap."""
    base = "the quick brown fox jumps over the lazy dog near the old river bank"
    alt = base.replace("lazy", "sleepy").replace("old", "wide")
    rows = [
        (0, base),
        (1, base),                      # exact dup of 0
        (2, alt),                       # near dup of 0
        (3, "completely different words about spark catalyst optimizer internals"),
        (4, "yet another unrelated document mentioning parquet and arrow batches"),
    ]
    return rows


def test_minhash_estimates_track_exact_jaccard(spark):
    from mapreducehs_spark.operators.dedup import minhash_lsh_pairs_checked, ngram_jaccard_pairs

    df = spark.createDataFrame(_doc_corpus(), "doc_id long, text string")
    with materialize(spark) as m:
        exact = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(m, df, threshold=0.0, max_shingle_df=None).collect()
        }
        est = {
            (r["id_a"], r["id_b"]): r["est_jaccard"]
            for r in minhash_lsh_pairs_checked(df, est_threshold=0.0).collect()
        }
    # the exact-duplicate pair is found with estimate 1.0
    assert est[(0, 1)] == 1.0
    # every LSH-surfaced pair's estimate is within 0.3 of exact Jaccard
    # (16 perms → σ ≈ sqrt(J(1-J)/16) ≤ 0.125; 0.3 is a >2σ bound)
    for pair, e in est.items():
        assert abs(e - exact.get(pair, 0.0)) < 0.3, (pair, e, exact.get(pair))


def test_simhash_checked_locality(spark):
    from mapreducehs_spark.operators.dedup import simhash_checked

    df = spark.createDataFrame(_doc_corpus(), "doc_id long, text string")
    with materialize(spark) as m:
        out = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in simhash_checked(m, df, max_hamming=32).collect()
        }
    # identical text → identical fingerprint
    assert out[(0, 1)] == 0
    # the near dup lands within a few bits of its original
    assert out[(0, 2)] <= 2
    # banded candidate generation never pairs the unrelated docs
    # (locality: they share no exact 8-bit band with anything)
    assert all(3 not in pair and 4 not in pair for pair in out), out


# ---------------------------------------------------------------------------
# bucketed tables: co-located join with no shuffle exchange
# ---------------------------------------------------------------------------

def test_bucketed_join_has_no_shuffle(spark):
    from mapreducehs_spark.plans.inspect import exchange_count, formatted_plan

    a = spark.range(0, 10_000).select(F.col("id").alias("k"), (F.col("id") * 3).alias("x"))
    b = spark.range(0, 10_000).select(F.col("id").alias("k"), (F.col("id") * 7).alias("y"))
    spark.sql("DROP TABLE IF EXISTS bkt_a")
    spark.sql("DROP TABLE IF EXISTS bkt_b")
    a.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bkt_a")
    b.write.bucketBy(8, "k").sortBy("k").mode("overwrite").saveAsTable("bkt_b")
    try:
        with scoped_confs(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
            assert joined.count() == 10_000
            # both sides pre-bucketed on the join key → zero exchanges
            assert exchange_count(joined) == 0, formatted_plan(joined)
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_text_source_round_trip(spark, tmp_path):
    lines = ["first line", "second line", "third"]
    df = spark.createDataFrame([(l,) for l in lines], ["value"])
    path = str(tmp_path / "rt.text")
    write_any(df, path, fmt="text")
    back = read_any(spark, path, fmt="text")
    assert sorted(r["value"] for r in back.collect()) == sorted(lines)


def test_binary_file_source(spark, tmp_path):
    from mapreducehs_spark.operators.multimodal import read_binary_dir

    payloads = {"a.bin": b"\x00\x01\x02", "b.bin": b"spark" * 100}
    for name, blob in payloads.items():
        (tmp_path / name).write_bytes(blob)
    got = {
        r["path"].rsplit("/", 1)[-1]: (r["length"], bytes(r["content"]))
        for r in read_binary_dir(spark, str(tmp_path)).collect()
    }
    assert got == {n: (len(b), b) for n, b in payloads.items()}


def test_ivf_topk_recall_on_planted_dups(spark):
    from mapreducehs_spark.operators.similarity import ivf_topk

    rows, planted = _planted_vectors(n=200, dim=32, n_dups=12)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus = df.filter(F.col("vec_id") >= 12)   # originals j<12 are the queries
    queries = df.filter(F.col("vec_id") < 12)
    got = {
        r["query_id"]: r["match_id"]
        for r in ivf_topk(corpus, queries, k=1, n_probe=4, dim=32).collect()
    }
    # each query's true nearest neighbor is its planted dup (cosine ≈
    # 0.999), which lands in the query's own argmax cell except when the
    # tiny noise flips a near-tied centroid — require ≥ 3/4 recall@1
    hits = sum(1 for j, dup in planted if got.get(j) == dup)
    assert hits >= len(planted) * 3 // 4, (hits, got)


def test_srp_topk_recall_on_planted_dups(spark):
    from mapreducehs_spark.operators.similarity import srp_topk

    rows, planted = _planted_vectors(n=200, dim=32, n_dups=12)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    corpus = df.filter(F.col("vec_id") >= 12)   # originals j<12 are the queries
    queries = df.filter(F.col("vec_id") < 12)
    got = {
        r["query_id"]: r["match_id"]
        for r in srp_topk(corpus, queries, k=1, dim=32, bands=8).collect()
    }
    # a planted dup (cosine ≈ 0.999) differs in a sign bit only when a
    # projection is within the noise of zero; with 8 two-bit bands one
    # shared band is near-certain — require ≥ 3/4 recall@1
    hits = sum(1 for j, dup in planted if got.get(j) == dup)
    assert hits >= len(planted) * 3 // 4, (hits, got)


def test_ngram_jaccard_matches_pure_python(spark):
    from mapreducehs_spark.operators.dedup import ngram_jaccard_pairs

    rows = _doc_corpus()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    with materialize(spark) as m:
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(m, df, threshold=0.0, max_shingle_df=None).collect()
        }

    def sh(text, n=3):
        toks = text.split()
        return {" ".join(toks[j : j + n]) for j in range(len(toks) - n + 1)}

    want = {}
    for i, (ia, ta) in enumerate(rows):
        for ib, tb in rows[i + 1 :]:
            inter = len(sh(ta) & sh(tb))
            if inter:
                want[(ia, ib)] = round(inter / len(sh(ta) | sh(tb)), 6)
    assert got == want


def _reference_components(edges) -> dict[int, int]:
    """Pure-Python connected components: {node: component minimum} for
    every node of ``edges`` (an iterable of (a, b) pairs) — the
    reference the CC kernel's regimes are checked against."""
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def test_connected_components_contract(spark):
    from mapreducehs_spark.operators.dedup import connected_components_star

    # two chained components {1,2,3,7,6,5} (via 3-7 bridge) and {10,11},
    # plus an isolated pair {20,21}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6), (6, 7), (3, 7), (10, 11), (20, 21)],
        "id_a long, id_b long",
    )
    got = {r["node"]: r["rep"] for r in connected_components_star(pairs).collect()}
    assert got == {2: 1, 3: 1, 5: 1, 6: 1, 7: 1, 11: 10, 21: 20}


def test_hash_split_matches_pure_python(spark):
    import hashlib

    from mapreducehs_spark.operators.sampling import fraction_to_hex, hash_split

    rows = [(i, f"document number {i} with body {i * 7}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["split"] for r in hash_split(df, {"train": 0.8, "val": 0.1, "test": 0.1}).collect()}

    t_train, t_val = fraction_to_hex(0.8), fraction_to_hex(0.9)
    want = {}
    for i, txt in rows:
        h = hashlib.md5(txt.encode()).hexdigest()[:8]
        want[i] = "train" if h < t_train else ("val" if h < t_val else "test")
    assert got == want
    # sanity: all three splits non-empty and train dominates
    from collections import Counter
    c = Counter(got.values())
    assert set(c) == {"train", "val", "test"} and c["train"] > c["val"] + c["test"]


def test_stratified_sample_matches_pure_python(spark):
    import hashlib

    from mapreducehs_spark.operators.sampling import fraction_to_hex, stratified_sample

    langs = ["en", "de", "fr"]
    rows = [(i, langs[i % 3], f"text body {i}") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    rates = {"en": 0.2, "de": 1.0}  # fr falls to default_rate=0.0
    got = {r["doc_id"] for r in stratified_sample(df, rates).collect()}
    want = {
        i
        for i, lang, txt in rows
        if hashlib.md5(txt.encode()).hexdigest()[:8] < fraction_to_hex(rates.get(lang, 0.0))
    }
    assert got == want
    assert {lang for i, lang, t in rows if i in got} <= {"en", "de"}


def test_pack_sequences_matches_pure_python(spark):
    from mapreducehs_spark.operators.text import pack_sequences

    rows = [(i, "s%d" % (i % 2), "tok " * (3 + i % 11)) for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r["source"], r["chunk_id"]): (r["n_docs"], r["tok_total"], r["first_doc"], r["last_doc"])
        for r in pack_sequences(df, budget_tokens=16).collect()
    }

    want = {}
    for src in ("s0", "s1"):
        running = 0
        for i, s, txt in sorted(rows):
            if s != src:
                continue
            n_tok = len(txt.split())
            chunk = running // 16
            running += n_tok
            nd, tt, fd, ld = want.get((src, chunk), (0, 0, i, i))
            want[(src, chunk)] = (nd + 1, tt + n_tok, min(fd, i), max(ld, i))
    assert got == want


def test_normalize_text_matches_pure_python(spark):
    import re

    from mapreducehs_spark.operators.text import STOPWORDS, normalize_text

    rows = [
        (0, "The quick brown fox IS in the yard"),
        (1, "a a the of and to in is it"),
        (2, "  spaced   out\ttabs and newlines  "),
        (3, "nostopwordshere atall"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["clean"] for r in df.select("doc_id", normalize_text("text").alias("clean")).collect()}
    pat = re.compile(r"\b(" + "|".join(STOPWORDS) + r")\b")
    for i, txt in rows:
        want = re.sub(r"\s+", " ", pat.sub(" ", txt.lower())).strip()
        assert got[i] == want, (i, got[i], want)


def test_dynamic_partition_pruning(spark, tmp_path):
    """DPP: a fact table partitioned on the join key scans only the
    partitions the filtered dimension selects — at 100 TB the
    difference between reading one partition and the whole table when
    the pruning predicate is only known through a join.

    Two gates matter (both found by measurement): the fact side must be
    big enough for DPP's cost model to see benefit, and the dimension
    filter must pass ``isLikelySelective`` — a COMPARISON predicate
    qualifies, a bare boolean column does NOT (DPP silently skips)."""
    from mapreducehs_spark.sources.catalog import write_any

    fact = (
        spark.range(0, 200_000)
        .select(
            "id",
            F.concat(F.lit("g"), (F.col("id") % 10).cast("string")).alias("g"),
            F.col("id").cast("double").alias("v"),
            F.repeat(F.lit("x"), 200).alias("pad"),
        )
    )
    path = str(tmp_path / "fact")
    write_any(fact, path, partition_by=["g"])
    dim = spark.createDataFrame([(f"g{i}", i) for i in range(10)], ["g", "idx"])

    joined = (
        spark.read.parquet(path)
        .join(dim.filter(F.col("idx") < 5), "g")
        .groupBy("g")
        .agg(F.sum("v").alias("sv"))
    )
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruningexpression" in plan.lower(), plan[:2000]
    got = {r["g"] for r in joined.collect()}
    assert got == {f"g{i}" for i in range(5)}


def test_near_dedup_pipeline_recall(spark):
    """The composed LSH->verify->resolve pipeline finds what the
    all-exact path finds (planted dup corpus), and never drops a
    cluster representative."""
    from mapreducehs_spark.operators.dedup import (
        connected_components_star,
        near_dedup_drop_list_checked,
        ngram_jaccard_pairs,
    )

    rows = _doc_corpus()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    dropped = {
        r["doc_id"]: r["rep_id"]
        for r in near_dedup_drop_list_checked(
            df, est_threshold=0.2, jaccard_threshold=0.5
        ).collect()
    }
    with materialize(spark) as m:
        exact_pairs = ngram_jaccard_pairs(m, df, threshold=0.5, max_shingle_df=None)
        want = {
            r["node"]: r["rep"]
            for r in connected_components_star(exact_pairs).collect()
        }
    # every exact-path drop is found by the pipeline with identical rep
    # (tiny corpus: LSH at 16 perms surfaces all J>=0.5 pairs here)
    assert dropped == want
    # a representative is never in the drop list
    assert set(dropped).isdisjoint(set(dropped.values()))


def test_salted_join_matches_plain_join(spark):
    from mapreducehs_spark.operators.skew import salted_join
    from mapreducehs_spark.sources.catalog import load_table

    SF = "/root/testdata/sf0.001"
    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    part = load_table(spark, SF, "part").select("p_partkey", "p_brand")
    got = salted_join(li, part, "l_partkey", "p_partkey", n_salts=8)
    want = li.join(part, li.l_partkey == part.p_partkey)
    assert got.count() == want.count()
    # value parity: revenue-weighted checksum per brand is identical
    agg = lambda df: {
        r["p_brand"]: round(r["s"], 4)
        for r in df.groupBy("p_brand").agg(F.sum("l_quantity").alias("s")).collect()
    }
    assert agg(got) == agg(want)


def test_observe_metrics_single_pass(spark):
    """df.observe: data-quality counters collected DURING the query —
    at 100 TB this is how row counts / null rates are monitored without
    paying a second scan."""
    from pyspark.sql import Observation
    from mapreducehs_spark.sources.catalog import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    obs = Observation("quality")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("l_quantity").isNull(), 1).otherwise(0)).alias("null_qty"),
        F.min("l_shipdate").alias("min_ship"),
    )
    result = observed.groupBy("l_returnflag").count().collect()
    assert len(result) > 0
    metrics = obs.get
    assert metrics["n_rows"] == li.count()
    assert metrics["null_qty"] == 0
    assert metrics["min_ship"] is not None


# ---------------------------------------------------------------------------
# Misra-Gries sketch (operators/sketches.py)
# ---------------------------------------------------------------------------

def test_mg_exact_when_capacity_covers_vocab(spark):
    # 3 terms, capacity 8 >> vocab: sketch must be exact
    rows = [("g", t) for t in ["a"] * 50 + ["b"] * 30 + ["c"] * 20]
    df = spark.createDataFrame(rows, "g string, term string").repartition(4)
    from mapreducehs_spark.operators.sketches import mg_topk_per_group

    got = {
        (r["term"]): (r["est"], r["rank"])
        for r in mg_topk_per_group(df, "g", "term", capacity=8, k=3).collect()
    }
    assert got == {"a": (50, 1), "b": (30, 2), "c": (20, 3)}


def test_mg_error_bound_under_adversarial_vocab(spark):
    # one heavy hitter + 200 singletons, capacity 16: the PODS'12 merge
    # bound still guarantees the heavy hitter survives with
    # est >= true - N/(c+1) ... but partition-local sketches each add
    # their own N_p/(c+1) slack; the mergeable-summaries theorem keeps
    # the TOTAL underestimate <= N/(c+1) across arbitrary merge trees.
    heavy = ["hot"] * 300
    noise = [f"w{i}" for i in range(200)]
    rows = [("g", t) for t in heavy + noise]
    df = spark.createDataFrame(rows, "g string, term string").repartition(4)
    from mapreducehs_spark.operators.sketches import mg_topk_per_group

    out = {r["term"]: r["est"] for r in
           mg_topk_per_group(df, "g", "term", capacity=16, k=1).collect()}
    n_total = len(heavy) + len(noise)
    assert "hot" in out
    assert out["hot"] <= 300
    assert out["hot"] >= 300 - n_total / (16 + 1)


# ---------------------------------------------------------------------------
# chunk-level dedup (operators/dedup.chunk_dup_stats)
# ---------------------------------------------------------------------------

def test_chunk_dup_stats_counts_shared_chunks(spark):
    # doc 1 and 2 share their first 4-token chunk; doc 3 is unique
    shared = "a b c d"
    rows = [
        (1, "s0", f"{shared} e f g h"),
        (2, "s0", f"{shared} p q r s"),
        (3, "s1", "u v w x y z aa bb"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    from mapreducehs_spark.operators.dedup import chunk_dup_stats

    got = {
        r["source"]: (r["n_docs"], r["chunk_instances"], r["dup_instances"], r["avg_dup_frac"])
        for r in chunk_dup_stats(df, chunk_tokens=4).collect()
    }
    # each s0 doc = 2 chunks, one of which (shared) appears in 2 docs
    assert got["s0"] == (2, 4, 2, 0.5)
    assert got["s1"] == (1, 2, 0, 0.0)


# ---------------------------------------------------------------------------
# boilerplate ngrams (operators/text.boilerplate_ngrams)
# ---------------------------------------------------------------------------

def test_boilerplate_ngrams_ranks_by_doc_freq(spark):
    rows = [
        (1, "the same header unique1 tail1"),
        (2, "the same header unique2 tail2"),
        (3, "the same header unique3 tail3"),
        (4, "totally different words here now"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from mapreducehs_spark.operators.text import boilerplate_ngrams

    top = boilerplate_ngrams(df, n=3, min_doc_frac=0.5, top_k=5).collect()
    assert top[0]["gram"] == "the same header"
    assert top[0]["doc_freq"] == 3
    assert abs(top[0]["doc_frac"] - 0.75) < 1e-9
    # nothing else reaches 50% of the 4 docs
    assert len(top) == 1


# ---------------------------------------------------------------------------
# deterministic k-means (operators/similarity.kmeans_profile)
# ---------------------------------------------------------------------------

def test_kmeans_profile_matches_numpy_reference(spark):
    rng = np.random.default_rng(7)
    k, dim, n = 4, 8, 60
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from mapreducehs_spark.operators.similarity import kmeans_profile

    got = {
        r["cluster"]: (r["n_members"], r["avg_sqdist"])
        for r in kmeans_profile(df, k=k).collect()
    }

    # numpy replay with the identical trajectory
    v = vecs.astype(np.float64)
    cents = v[:k].copy()
    cids = list(range(k))
    for it in range(2):
        d2 = ((v[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        best = d2.argmin(axis=1)
        if it == 0:
            surv = sorted(set(best.tolist()))
            cents = np.stack([v[best == b].mean(axis=0) for b in surv])
            cids = [cids[b] for b in surv]
    d2 = ((v[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
    best = d2.argmin(axis=1)
    want = {}
    for j, cid in enumerate(cids):
        mask = best == j
        if mask.any():
            want[cid] = (int(mask.sum()), float(d2[mask, j].mean()))
    assert set(got) == set(want)
    for cid in want:
        assert got[cid][0] == want[cid][0]
        assert abs(got[cid][1] - want[cid][1]) < 1e-6


# ---------------------------------------------------------------------------
# z-order layout (operators/layout.py)
# ---------------------------------------------------------------------------

def test_zorder_value_interleaves_bits(spark):
    from mapreducehs_spark.operators.layout import zorder_value

    df = spark.createDataFrame([(0b1011, 0b0110)], "x long, y long")
    got = df.select(zorder_value("x", "y", bits=4).alias("z")).collect()[0]["z"]

    def ref(x, y, bits=4):
        z = 0
        for k in range(bits):
            z |= ((x >> k) & 1) << (2 * k)
            z |= ((y >> k) & 1) << (2 * k + 1)
        return z

    assert got == ref(0b1011, 0b0110)


def test_zorder_write_tightens_file_ranges(spark, tmp_path):
    """Files written z-ordered on (partkey, suppkey) must cover much
    narrower ranges of BOTH columns than the unsorted layout — the
    min-max pruning precondition."""
    import pyarrow.parquet as pq
    import glob as g

    from mapreducehs_spark.operators.layout import zorder_write

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )

    plain_dir, z_dir = str(tmp_path / "plain"), str(tmp_path / "zord")
    li.repartition(16).write.mode("overwrite").parquet(plain_dir)
    zorder_write(li, z_dir, "l_partkey", "l_suppkey", n_files=16)

    def spread(d, col):
        tot = 0
        for f in g.glob(d + "/*.parquet"):
            t = pq.read_table(f, columns=[col])
            c = t.column(col).to_pylist()
            if c:
                tot += max(c) - min(c)
        return tot

    # round-robin files each span ~the full key range; z-ordered files
    # must be at least 2x tighter on each interleaved column
    assert spread(z_dir, "l_partkey") * 2 < spread(plain_dir, "l_partkey")
    assert spread(z_dir, "l_suppkey") * 2 < spread(plain_dir, "l_suppkey")


def test_batch_chaos_same_answer_under_task_failures():
    """The reference's failure-injection discipline, batch edition: a
    kernel that aborts EVERY task's first attempt (harsher than the
    reference's 50% Drop runner, src/ImplWorker.hs:88-96) must produce
    the identical result once Spark's task retry re-executes it.  Runs
    in a subprocess because retry needs its own master config
    (local[4, 2]); the script asserts match AND that retries actually
    fired (tools/chaos_check.py)."""
    import json
    import subprocess
    import sys

    proc = subprocess.run(
        [sys.executable, "tools/chaos_check.py", "/root/testdata/sf0.001"],
        capture_output=True,
        text=True,
        timeout=300,
        cwd="/root/repo",
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["match"] is True
    assert out["retries"] > 0
    assert out["rows"] > 0


def test_pgm_encode_decode_roundtrip():
    from mapreducehs_spark.operators.multimodal import decode_image, encode_pgm

    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, size=(16, 32), dtype=np.uint8)
    assert np.array_equal(decode_image(encode_pgm(img)), img)

    # comment-tolerant header parse (netpbm allows '#' lines)
    with_comment = b"P5\n# synthetic\n32 16\n255\n" + img.tobytes()
    assert np.array_equal(decode_image(with_comment), img)

    with pytest.raises(NotImplementedError):
        decode_image(b"\xff\xd8\xff\xe0 jpeg-ish")


def test_media_word_packer_and_block_bits():
    """The fingerprints' shared helpers, without Spark: ``_pack_words``
    lays bit k into word k // 32 at position k % 32 as a non-negative
    32-bit value, ``_block_bits`` sets bit k iff block k's sum exceeds
    the block mean (strictly), and every fingerprint guard raises."""
    from mapreducehs_spark.operators import multimodal as mm

    bits = np.zeros(64, dtype=bool)
    bits[[0, 31, 32, 63]] = True
    lo, hi = mm._pack_words(bits)
    assert lo == hi == 2**31 + 1 and lo > 0 and hi > 0

    wide = np.zeros(128, dtype=bool)
    wide[[5, 40, 70, 127]] = True
    assert mm._pack_words(wide) == (1 << 5, 1 << 8, 1 << 6, 1 << 31)

    # the bit-by-bit loop the fingerprints used to run, as the reference
    rng = np.random.default_rng(5)
    for n in (64, 128):
        for _ in range(20):
            bits = rng.random(n) < 0.5
            words = [0] * (n // 32)
            for k in np.flatnonzero(bits):
                words[k // 32] |= 1 << (int(k) % 32)
            assert mm._pack_words(bits) == tuple(words)

    # 16x16 raster, 8x8 grid of 2x2 blocks: the top half is bright, so
    # block rows 0-3 (bits 0-31) sit above the mean and rows 4-7 below
    raster = np.zeros((16, 16), dtype=np.uint8)
    raster[:8] = 3
    got = mm._block_bits(raster, 8, 8, "ahash_64")
    assert got.tolist() == [True] * 32 + [False] * 32
    assert mm._pack_words(got) == (2**32 - 1, 0)
    # one hot block in the last cell; a block equal to the mean stays 0
    raster = np.ones((16, 16), dtype=np.uint8)
    raster[14:, 14:] = 9
    assert np.flatnonzero(mm._block_bits(raster, 8, 8, "ahash_64")).tolist() == [63]
    assert not mm._block_bits(np.ones((16, 32)), 8, 16, "ahash_128").any()

    with pytest.raises(ValueError, match="ahash_64: dims 12x16 not divisible by 8$"):
        mm._block_bits(np.zeros((12, 16)), 8, 8, "ahash_64")
    with pytest.raises(ValueError, match="ahash_128: dims 16x24 not divisible by 8x16"):
        mm._block_bits(np.zeros((16, 24)), 8, 16, "ahash_128")
    with pytest.raises(ValueError, match="video_majority_ahash: dims 8x12 not divisible by 8"):
        mm._video_majority_hash(1, mm.encode_mrv([np.zeros((8, 12), dtype=np.uint8)]))
    with pytest.raises(ValueError, match="payload id=7 decoded to zero frames"):
        mm._video_majority_hash(7, mm.encode_mrv([]))
    with pytest.raises(ValueError, match="100 samples not divisible by 64 frames"):
        mm._audio_fingerprint(1, mm.encode_wav(np.zeros(100, dtype=np.int64)))


def test_media_kernels_run_on_the_one_row_map():
    """Every media kernel is a per-row function run by
    ``multimodal._row_map``: operators/multimodal.py calls
    ``mapInPandas`` nowhere else (``extract_features`` keeps its own
    pass-through stage), and no query hands a media kernel to
    ``mapInPandas`` itself."""
    import ast
    import pathlib

    import mapreducehs_spark

    root = pathlib.Path(mapreducehs_spark.__file__).parent
    media = root / "operators" / "multimodal.py"
    media_defs = {
        node.name for node in ast.parse(media.read_text()).body if isinstance(node, ast.FunctionDef)
    }

    def map_in_pandas_calls(tree):
        return [
            node
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "mapInPandas"
        ]

    def named(node):
        return node.id if isinstance(node, ast.Name) else getattr(node, "attr", "")

    bad = [
        f"operators/multimodal.py:{call.lineno} in {fn.name}"
        for fn in ast.parse(media.read_text()).body
        if getattr(fn, "name", None) not in ("_row_map", "extract_features")
        for call in map_in_pandas_calls(fn)
    ]
    for path in sorted((root / "queries").rglob("*.py")):
        for call in map_in_pandas_calls(ast.parse(path.read_text())):
            kernels = [
                named(a)
                for a in [*call.args, *(kw.value for kw in call.keywords)]
                if named(a) in media_defs or named(a).startswith(("render_", "tolerant"))
            ]
            if kernels:
                bad.append(f"{path.relative_to(root)}:{call.lineno} {kernels}")
    assert not bad, bad


def test_resolve_clusters_driver_vs_distributed(spark):
    """The two CC regimes (driver union-find at or below the threshold,
    the distributed star alternation above) must agree exactly — a
    planted graph with a chain (worst diameter), a triangle, and an
    isolated pair."""
    from mapreducehs_spark.operators.dedup import connected_components_star

    edges = [
        # chain 10-11-12-13-14 (diameter 4)
        (10, 11), (11, 12), (12, 13), (13, 14),
        # triangle 20-21-22
        (20, 21), (21, 22), (20, 22),
        # isolated pair
        (30, 31),
    ]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    want = {11: 10, 12: 10, 13: 10, 14: 10, 21: 20, 22: 20, 31: 30}

    via_driver = {
        r["node"]: r["rep"]
        for r in connected_components_star(pairs).collect()
    }
    via_loop = {
        r["node"]: r["rep"]
        for r in connected_components_star(pairs, driver_threshold=0).collect()
    }
    assert via_driver == want
    assert via_loop == want


def test_source_fingerprint_changes_on_regeneration(tmp_path):
    """Fixture cache keys must change when the driver regenerates the
    testdata in place (same file name, new bytes/mtime) — the staleness
    class that silently diverges cached fixtures from fresh oracles."""
    import shutil
    import time

    from mapreducehs_spark.sources.catalog import source_fingerprint
    from tests.conftest import SF_DIR

    d = str(tmp_path)
    shutil.copy(os.path.join(SF_DIR, "region.parquet"), f"{d}/region.parquet")
    fp1 = source_fingerprint(d, "region")
    assert fp1 == source_fingerprint(d, "region")  # stable while unchanged

    time.sleep(0.01)
    os.utime(f"{d}/region.parquet")  # regeneration bumps mtime
    assert source_fingerprint(d, "region") != fp1

    # a directory table whose part is rewritten in place: the file list
    # and the directory's own stat stay the same, only the part changes
    table = tmp_path / "nation.parquet"
    table.mkdir()
    for i in range(3):
        shutil.copy(os.path.join(SF_DIR, "nation.parquet"), table / f"part-{i:05d}.parquet")
    fp2 = source_fingerprint(d, "nation")
    assert fp2 == source_fingerprint(d, "nation")
    time.sleep(0.01)
    shutil.copy(os.path.join(SF_DIR, "region.parquet"), table / "part-00001.parquet")
    assert source_fingerprint(d, "nation") != fp2


def test_derived_fixture_keys_by_content_not_name(parts_sf_dir, tmp_path):
    """Two sf dirs with the same basename but different data files (one
    file per table vs a directory of parts) get different fixture paths, so
    concurrent runs over same-named sf dirs never share a fixture; the
    same sf dir reuses its fixture without rebuilding."""
    from mapreducehs_spark.sources.catalog import derived_fixture
    from tests.conftest import SF_DIR

    assert os.path.basename(parts_sf_dir) == os.path.basename(SF_DIR)
    built = []

    def build(sf_dir):
        return lambda tmp: (os.makedirs(tmp), built.append(sf_dir))

    base = str(tmp_path / "fixtures")
    a = derived_fixture(base, SF_DIR, ("supplier",), build(SF_DIR), "x", 1)
    b = derived_fixture(base, parts_sf_dir, ("supplier",), build(parts_sf_dir), "x", 1)
    assert a != b
    assert os.path.basename(a).startswith(f"{os.path.basename(SF_DIR)}_x_1_")
    assert derived_fixture(base, SF_DIR, ("supplier",), build(SF_DIR), "x", 1) == a
    assert built == [SF_DIR, parts_sf_dir]


def test_derived_fixture_regeneration_drops_superseded(parts_sf_dir, tmp_path):
    """Regenerating a table in place builds a new fixture generation and
    removes the old one; a same-named fixture built from another sf path
    (same basename, other data files) is kept."""
    import shutil
    import time

    from mapreducehs_spark.sources.catalog import derived_fixture

    sf = tmp_path / os.path.basename(parts_sf_dir)
    shutil.copytree(
        os.path.join(parts_sf_dir, "supplier.parquet"), sf / "supplier.parquet",
        copy_function=shutil.copy,  # fresh mtimes: another fingerprint
    )

    def build(tmp):
        os.makedirs(tmp)

    base = str(tmp_path / "fixtures")
    other = derived_fixture(base, parts_sf_dir, ("supplier",), build, "x", 1)
    old = derived_fixture(base, str(sf), ("supplier",), build, "x", 1)
    time.sleep(0.01)
    part = sf / "supplier.parquet" / "part-00001.parquet"
    part.write_bytes((sf / "supplier.parquet" / "part-00000.parquet").read_bytes())
    new = derived_fixture(base, str(sf), ("supplier",), build, "x", 1)
    assert len({other, old, new}) == 3
    assert sorted(os.listdir(base)) == sorted(map(os.path.basename, (other, new)))


def test_global_positions_invariant_to_input_partitioning(spark):
    """The epoch-shuffle position assignment must be a pure function of
    the data — identical whether the input arrives as 1 partition or
    13 (re-sharding upstream must not change training order)."""
    from mapreducehs_spark.operators.sampling import global_positions

    base = spark.range(0, 1000).select(
        F.col("id"), F.md5(F.col("id").cast("string")).alias("k")
    )
    with materialize(spark) as m:
        a = {
            r["id"]: r["pos"]
            for r in global_positions(m, base.repartition(1), ["k", "id"]).collect()
        }
        b = {
            r["id"]: r["pos"]
            for r in global_positions(m, base.repartition(13), ["k", "id"]).collect()
        }
    assert a == b
    assert sorted(a.values()) == list(range(1, 1001))


def test_python_datasource_sink_round_trip(spark, tmp_path):
    """Custom Python SINK (DataSourceWriter): per-partition TSV files
    under deterministic paths + a commit-published manifest — the
    write half of the reference's pluggable store
    (src/Core/Partition.hs:60-65).  Every row must round-trip and the
    manifest must account for all files/rows."""
    from mapreducehs_spark.sources.pydatasource import register

    register(spark)
    df = (
        spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
        .select(
            F.col("n_nationkey").cast("string").alias("key"),
            F.col("n_name").alias("value"),
        )
        .repartition(4)
    )
    out = str(tmp_path / "kv")
    df.write.format("kvfiles").option("path", out).mode("append").save()

    import glob as g

    files = sorted(g.glob(out + "/part-*.tsv"))
    assert len(files) == 4
    rows = []
    for f in files:
        with open(f) as fh:
            rows += [tuple(line.rstrip("\n").split("\t")) for line in fh if line.strip()]
    want = sorted((r["key"], r["value"]) for r in df.collect())
    assert sorted(rows) == want

    with open(out + "/_MANIFEST") as fh:
        manifest = dict(line.strip().split("=") for line in fh)
    assert manifest == {"files": "4", "rows": str(len(want))}


def test_redact_pii_patterns(spark):
    from mapreducehs_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            ("mail bob.smith+x@sub.example.co.uk now",),
            ("call +1-555-0199 or 44-555-0000",),
            ("host 192.168.0.1 up, 999.1.1.1 still matches-shape",),
            ("clean text with no pii at all",),
        ],
        "t string",
    )
    out = [r["r"] for r in df.select(redact_pii("t").alias("r")).collect()]
    assert out[0] == "mail <EMAIL> now"
    assert out[1] == "call <PHONE> or <PHONE>"
    assert "<IP>" in out[2] and "192.168" not in out[2]
    assert out[3] == "clean text with no pii at all"


def test_chunk_documents_windows_and_overlap(spark):
    from mapreducehs_spark.operators.text import chunk_documents

    toks130 = " ".join(f"w{i}" for i in range(130))
    toks40 = " ".join(f"v{i}" for i in range(40))
    df = spark.createDataFrame([(1, toks130), (2, toks40), (3, "   ")], "doc_id long, text string")
    out = chunk_documents(df).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["id"], []).append(r)
    # 130 tokens → chunks at 0..63, 48..111, 96..129 (1+ceil(66/48)=3)
    assert [r["n_chunk_tokens"] for r in sorted(by_doc[1], key=lambda r: r["chunk_id"])] == [64, 64, 34]
    # short doc → single short chunk
    assert [r["n_chunk_tokens"] for r in by_doc[2]] == [40]
    # whitespace-only doc → no chunks
    assert 3 not in by_doc
    # overlap: chunk 1 starts at token 48 (inside chunk 0)
    c0, c1 = (sorted(by_doc[1], key=lambda r: r["chunk_id"])[i]["chunk_text"] for i in (0, 1))
    assert c1.split(" ")[0] == "w48" and "w48" in c0.split(" ")


def test_bpe_merge_steps_tiny_corpus(spark):
    from mapreducehs_spark.operators.text import bpe_merge_steps

    # "b c" is the most frequent adjacent pair (3×); after merging,
    # "a b_c" appears twice and wins round 2
    df = spark.createDataFrame(
        [("a b c d",), ("a b c e",), ("x b c y",)], "text string"
    )
    steps = bpe_merge_steps(df, iters=2)
    assert steps[0][:4] == (1, "b", "c", 3)
    assert steps[1][1:3] == ("a", "b_c")
    # vocab after round 1: a,b_c,d,e,x,y = 6
    assert steps[0][4] == 6


def test_bpe_merge_skips_overlapping_repeat(spark):
    # documented divergence from textbook BPE: "x y x y" merges only
    # the first occurrence per delimiter-consuming replace — in BOTH
    # engines (the property that makes the loop oracle-checkable)
    from mapreducehs_spark.operators.text import bpe_merge_steps

    df = spark.createDataFrame([("x y x y",)], "text string")
    steps = bpe_merge_steps(df, iters=1)
    assert steps[0][1:4] == (1, "x", "y", 2)[1:] or steps[0][:4] == (1, "x", "y", 2)
    # 2 pair occurrences counted, but post-merge the doc is "x_y x y":
    # vocab {x_y, x, y} = 3
    assert steps[0][4] == 3


def test_quantized_cosine_tracks_exact(spark):
    import numpy as np

    from mapreducehs_spark.operators.similarity import cosine_topk, quantized_cosine_topk
    from mapreducehs_spark.sources.catalog import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    probes = emb.filter("vec_id < 4")
    exact = {
        (r["query_id"], r["rank"]): (r["match_id"], r["cosine"])
        for r in cosine_topk(emb, probes, k=3).collect()
    }
    quant = {
        (r["query_id"], r["rank"]): (r["match_id"], r["qcosine"])
        for r in quantized_cosine_topk(emb, probes, k=3).collect()
    }
    assert set(exact) == set(quant)
    # int8 quantization error bound: |Δcos| small; rank-1 neighbor robust
    for key in exact:
        assert abs(exact[key][1] - quant[key][1]) < 0.05
        if key[1] == 1:
            assert exact[key][0] == quant[key][0]


def test_wav_encode_decode_roundtrip():
    import numpy as np

    from mapreducehs_spark.operators.multimodal import decode_wav, encode_wav

    s = ((np.arange(256) * 17 + 5 * 13) % 4096 - 2048).astype(np.int16)
    payload = encode_wav(s)
    out, rate = decode_wav(payload)
    assert rate == 8000 and (out == s).all()
    # chunk walker, not fixed offsets: an extra chunk before data still parses
    import struct

    extra = payload[:12] + b"LIST" + struct.pack("<I", 4) + b"INFO" + payload[12:]
    out2, _ = decode_wav(extra)
    assert (out2 == s).all()
    # corrupted magic rejected
    import pytest as _pytest

    with _pytest.raises(ValueError):
        decode_wav(b"JUNK" + payload[4:])


def test_pagerank_mass_and_determinism(spark):
    from mapreducehs_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    a = [tuple(r) for r in QUERIES["q96_pagerank"](spark, sf).collect()]
    b = [tuple(r) for r in QUERIES["q96_pagerank"](spark, sf).collect()]
    assert a == b  # integer fixed-point: bit-identical across runs
    # ranks are positive and sorted desc with node-asc tiebreak
    ranks = [r[2] for r in a]
    assert ranks == sorted(ranks, reverse=True) and ranks[-1] > 0


def test_prefix_filter_completeness_vs_shared_shingle_join(spark):
    """AllPairs prefix filtering must lose NOTHING: d18's candidate
    pruning (index only the rarest half of each shingle set) yields
    exactly the pairs the complete shared-shingle equi-join finds at
    the same threshold — the reference's differential-test discipline
    applied to the pruning step."""
    from mapreducehs_spark.operators.dedup import ngram_jaccard_pairs
    from mapreducehs_spark.queries import QUERIES
    from mapreducehs_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        (r.id_a, r.id_b, r.jaccard)
        for r in QUERIES["d18_prefix_filter_pairs"](spark, sf).collect()
    }
    docs = load_table(spark, sf, "documents")
    with materialize(spark) as m:
        want = {
            (r.id_a, r.id_b, r.jaccard)
            for r in ngram_jaccard_pairs(m, docs, threshold=0.5, max_shingle_df=None).collect()
        }
    assert got == want and got


def test_triangle_count_vs_bruteforce(spark):
    """Degree orientation must count every triangle exactly once: the
    per-node totals from q100 equal a brute-force itertools count over
    the same (deterministic) edge set."""
    from itertools import combinations

    from mapreducehs_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    got = {(r.node, r.n_tri) for r in QUERIES["q100_triangle_count"](spark, sf).collect()}

    # rebuild the edge set exactly as the query defines it
    from collections import Counter

    import pyspark.sql.functions as F

    from mapreducehs_spark.operators import text
    from mapreducehs_spark.sources.catalog import load_table

    docs = load_table(spark, sf, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(text.tokens("text"))).alias("tok")
    ).collect()
    df = Counter(r.tok for r in toks)
    top = {t for t, _ in sorted(df.items(), key=lambda kv: (-kv[1], kv[0]))[:64]}
    per_doc = {}
    for r in toks:
        if r.tok in top:
            per_doc.setdefault(r.doc_id, set()).add(r.tok)
    co = Counter()
    for s in per_doc.values():
        for a, b in combinations(sorted(s), 2):
            co[(a, b)] += 1
    n_docs = docs.count()
    edges = {p for p, c in co.items() if c * 4 >= n_docs}
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    per_node = Counter()
    seen = set()
    for a, b in edges:
        for c in adj[a] & adj[b]:
            t = tuple(sorted((a, b, c)))
            if t not in seen:
                seen.add(t)
                for n in t:
                    per_node[n] += 1
    want = set(
        sorted(per_node.items(), key=lambda kv: (-kv[1], kv[0]))[:10]
    )
    assert got == want and got


def _q100_documents(tmp_path, texts) -> str:
    """An sf dir holding only a hand-written ``documents`` table."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(texts)
    pq.write_table(
        pa.table({
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": ["en"] * n,
            "source": ["src0"] * n,
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        tmp_path / "documents.parquet",
    )
    return str(tmp_path)


def _q100_vs_oracle(spark, sf_dir):
    import duckdb

    from mapreducehs_spark.queries import ORACLE, QUERIES
    from tests.oracle import assert_matches_oracle, duckdb_view_sql

    df = QUERIES["q100_triangle_count"](spark, sf_dir)
    con = duckdb.connect()
    try:
        con.execute(duckdb_view_sql(sf_dir, "documents"))
        assert_matches_oracle(df, con, ORACLE["q100_triangle_count"], "q100")
    finally:
        con.close()
    return df


def test_q100_no_edge_reaches_threshold(spark, tmp_path):
    """Every pair co-occurs in one document of nine (< 25%): the edge
    list is empty, and so is the result, with the declared schema."""
    texts = [f"w{2 * i} w{2 * i + 1}" for i in range(8)] + [""]
    df = _q100_vs_oracle(spark, _q100_documents(tmp_path, texts))
    assert df.schema.simpleString() == "struct<node:string,n_tri:bigint>"
    assert df.count() == 0


def test_q100_ties_cut_by_node_order(spark, tmp_path):
    """A 12-clique (55 triangles per node) next to a 4-clique: the
    top-10 cut falls inside the 12-way tie, so the kept nodes are the
    first ten by name, as in the oracle."""
    clique = " ".join(f"n{i:02d}" for i in range(12))
    texts = [clique] * 4 + ["a b c d"] * 4
    df = _q100_vs_oracle(spark, _q100_documents(tmp_path, texts))
    assert [tuple(r) for r in df.orderBy("node").collect()] == [
        (f"n{i:02d}", 55) for i in range(10)
    ]


#: q100's Spark jobs at sf0.001 on local[4], result collect included
Q100_JOBS = 10


def test_q100_round_budget(spark):
    """q100 finishes its <= 2016-edge graph on the driver: the whole
    query, result collect included, stays at its measured job count —
    well under the 29 jobs of a distributed wedge-join finish."""
    from mapreducehs_spark.queries import QUERIES
    from tests.conftest import SF_DIR

    sc = spark.sparkContext
    sc.setJobGroup("q100_round_budget", "q100 job count")
    try:
        QUERIES["q100_triangle_count"](spark, SF_DIR).collect()
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup("q100_round_budget")
    assert len(jobs) <= Q100_JOBS + 2, sorted(jobs)


def test_mad_outliers_vs_numpy(spark):
    """q102's rank-selected lower medians equal numpy's independent
    computation (sort + index), and the outlier counts follow."""
    import numpy as np

    from mapreducehs_spark.queries import QUERIES
    from mapreducehs_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    got = {r.grp: (r.med_cents, r.mad_cents, r.n_orders, r.n_outliers)
           for r in QUERIES["q102_mad_outliers"](spark, sf).collect()}
    rows = load_table(spark, sf, "orders").select(
        "o_orderpriority", "o_totalprice"
    ).collect()
    by = {}
    for r in rows:
        by.setdefault(r.o_orderpriority, []).append(round(r.o_totalprice * 100))
    for grp, cents in by.items():
        a = np.sort(np.array(cents, dtype=np.int64))
        med = int(a[(len(a) + 1) // 2 - 1])
        d = np.sort(np.abs(np.array(cents, dtype=np.int64) - med))
        mad = int(d[(len(d) + 1) // 2 - 1])
        n_out = int((np.abs(np.array(cents, dtype=np.int64) - med) > 3 * mad).sum())
        assert got[grp] == (med, mad, len(cents), n_out), grp


def test_gram_matrix_matches_numpy(spark):
    """similarity.gram_matrix == the direct dense Qᵀ·Q on the same
    quantized vectors, and the upper triangle is complete (dim·(dim+1)/2
    entries, 1-based indices)."""
    from mapreducehs_spark.operators import similarity

    rng = np.random.default_rng(19)
    dim, n = 12, 57
    mat = rng.normal(size=(n, dim)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(mat)], "vec_id long, embedding array<float>"
    )
    out = similarity.gram_matrix(df).collect()
    q = np.floor(mat.astype(np.float64) * 1000).astype(np.int64)
    expect = q.T @ q
    assert len(out) == dim * (dim + 1) // 2
    for r in out:
        assert 1 <= r["i"] <= r["j"] <= dim
        assert r["g"] == expect[r["i"] - 1, r["j"] - 1]


def test_table_diff_classification(spark):
    """q104's classifier: a hand-built pair of versions produces exactly
    the expected added/removed/changed/unchanged partition."""
    from mapreducehs_spark.queries import QUERIES

    rows = QUERIES["q104_table_diff"](spark, "/root/testdata/sf0.001").collect()
    by = {r["status"]: r for r in rows}
    # v1 drops %101 keys, v2 drops %103 keys: the intersection-complement
    # sizes must add back up to the base table row count
    import duckdb

    con = duckdb.connect()
    n = con.execute(
        "SELECT count(*) FROM '/root/testdata/sf0.001/orders.parquet'"
    ).fetchone()[0]
    total = sum(r["n_rows"] for r in rows)
    both_dropped = con.execute(
        "SELECT count(*) FROM '/root/testdata/sf0.001/orders.parquet' "
        "WHERE o_orderkey % 101 = 0 AND o_orderkey % 103 = 0"
    ).fetchone()[0]
    assert total == n - both_dropped
    assert by["changed"]["cents_delta"] == by["changed"]["n_rows"]  # +1 cent each
    assert by["unchanged"]["cents_delta"] == 0


def test_mrv_encode_decode_roundtrip():
    """The MRV container demux must recover exactly the sampled frames
    (indices 0, n, 2n, …) bit-for-bit, and skip the rest."""
    import numpy as np

    from mapreducehs_spark.operators.multimodal import decode_mrv_frames, encode_mrv

    rng = [(f * 11 + np.arange(24, dtype=np.int64) * 3) % 256 for f in range(5)]
    frames = [r.astype(np.uint8).reshape(4, 6) for r in rng]
    payload = encode_mrv(frames)
    out = decode_mrv_frames(payload, every_n=2)
    assert [f for f, _ in out] == [0, 2, 4]
    for f, img in out:
        assert img.shape == (4, 6)
        assert (img == frames[f]).all()
    # full decode
    assert len(decode_mrv_frames(payload, every_n=1)) == 5


def test_observe_metrics_single_pass(spark):
    """`df.observe` — production pipeline observability: row counts and
    integer checksums accumulate DURING the query (Spark's
    CollectMetrics operator), not via a second scan.  At 100 TB a
    separate count() doubles the IO; observe() is free.  The metrics
    must agree with independently computed values."""
    from pyspark.sql import Observation
    import pyspark.sql.functions as F

    from mapreducehs_spark.sources.catalog import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    obs = Observation("scan_metrics")
    observed = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum((F.col("l_quantity") * 100).cast("bigint")).alias("qty_cents"),
    )
    out = (
        observed.filter(F.col("l_discount") > 0.05)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out.collect()  # one pass drives both the query and the metrics
    expected_rows = li.count()
    expected_qty = li.agg(
        F.sum((F.col("l_quantity") * 100).cast("bigint"))
    ).collect()[0][0]
    assert obs.get["n_rows"] == expected_rows
    assert obs.get["qty_cents"] == expected_qty


def test_cms_overestimate_property(spark):
    """Count-min guarantee: for EVERY term (not just q107's 10 probes),
    the sketch estimate is >= the true count — min over d row-wise
    overestimates can never underestimate."""
    import pyspark.sql.functions as F

    from mapreducehs_spark.queries.q_ext import _q107_cell_col, _q107_cells, _q107_freq
    from tests.conftest import SF_DIR

    with materialize(spark) as m:
        freq = m.persist(_q107_freq(spark, SF_DIR))
        rows = spark.range(4).select(F.col("id").cast("int").alias("r"))
        # the SAME cell law as production — reused, not re-derived, so a
        # width/salt change in q107 is automatically covered here
        cells = _q107_cells(freq, rows)
        pr = freq.crossJoin(F.broadcast(rows)).select(
            "term", "c", "r", _q107_cell_col().alias("col")
        )
        est = (
            cells.join(pr, ["r", "col"])
            .groupBy("term")
            .agg(F.max("c").alias("true_c"), F.min("v").alias("est"))
        )
        bad = est.filter(F.col("est") < F.col("true_c")).count()
        assert bad == 0


def test_build_fixture_once_atomic_and_legacy_safe(tmp_path):
    """The fixture builder must (a) build+commit atomically, (b) replace
    a legacy half-built dir that lacks the _DONE marker, and (c) discard
    a build when another builder already committed the base."""
    import os

    from mapreducehs_spark.sources.catalog import build_fixture_once

    base = str(tmp_path / "fx")

    def build_v(tag):
        def _b(tmp):
            os.makedirs(tmp, exist_ok=True)
            with open(os.path.join(tmp, "data.txt"), "w") as f:
                f.write(tag)

        return _b

    # (a) fresh build commits with _DONE
    out = build_fixture_once(base, build_v("v1"), "/data/sf")
    assert out == base
    assert open(os.path.join(base, "_DONE")).read() == "/data/sf"
    assert open(os.path.join(base, "data.txt")).read() == "v1"

    # (c) a second build is a no-op (existing _DONE wins, v1 kept)
    out = build_fixture_once(base, build_v("v2"), "/data/sf")
    assert open(os.path.join(base, "data.txt")).read() == "v1"

    # (b) legacy half-built dir (no _DONE) gets replaced
    os.remove(os.path.join(base, "_DONE"))
    out = build_fixture_once(base, build_v("v3"), "/data/sf")
    assert os.path.exists(os.path.join(base, "_DONE"))
    assert open(os.path.join(base, "data.txt")).read() == "v3"

    # (c') racing loser: builder whose rename loses discards its tmp
    import shutil

    def racing_build(tmp):
        # while this builder works, a competitor commits the base
        shutil.rmtree(base, ignore_errors=True)
        build_v("winner")(base)
        with open(os.path.join(base, "_DONE"), "w") as f:
            f.write("ok")
        build_v("loser")(tmp)

    os.remove(os.path.join(base, "_DONE"))
    out = build_fixture_once(base, racing_build, "/data/sf")
    assert open(os.path.join(base, "data.txt")).read() == "winner"
    # loser's tmp cleaned up
    assert not [d for d in os.listdir(tmp_path) if ".tmp." in d]


def test_build_fixture_once_cleans_up_failed_build(tmp_path):
    """A build() that raises must not leave its pid-suffixed tmp dir
    behind (it is litter no other process ever reads) and must surface
    the original exception."""
    import os

    from mapreducehs_spark.sources.catalog import build_fixture_once

    base = str(tmp_path / "fx_fail")

    def boom(tmp):
        os.makedirs(tmp, exist_ok=True)
        with open(os.path.join(tmp, "partial.txt"), "w") as f:
            f.write("half")
        raise ValueError("fixture build exploded")

    with pytest.raises(ValueError, match="exploded"):
        build_fixture_once(base, boom, "/data/sf")
    assert not [d for d in os.listdir(tmp_path) if ".tmp." in d]
    assert not os.path.exists(base)


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def test_materialize_scope_releases_blocks(spark):
    """Pin the two facts operators/iteration.py is built on: (a) plain
    DataFrame.unpersist() does NOT unregister a localCheckpoint's RDD
    (it bypasses the CacheManager), and (b) the scope does — on exit,
    and early through m.free() — so the registry returns to baseline."""
    spark.catalog.clearCache()
    base_ids = _persistent_rdd_ids(spark)
    frame = spark.range(1000).selectExpr("id", "id * 2 AS x")
    with materialize(spark) as m:
        df = m.checkpoint(frame)
        assert df.count() == 1000
        assert _persistent_rdd_ids(spark) - base_ids, "checkpoint registered nothing"
        df.unpersist(blocking=True)  # the documented no-op
        assert _persistent_rdd_ids(spark) - base_ids, "plain unpersist unexpectedly worked"
        early = m.checkpoint(frame.selectExpr("x"))
        registered = _persistent_rdd_ids(spark)
        m.free(early)
        assert len(registered - _persistent_rdd_ids(spark)) == 1, "free() released the wrong blocks"
        with pytest.raises(ValueError):
            m.free(early)  # no longer held
    assert not (_persistent_rdd_ids(spark) - base_ids), "the scope left blocks registered"


def test_materialize_scope_frees_on_failure(spark):
    """A block that registers a persist and a checkpoint and then raises
    leaves the persistent-RDD registry and the CacheManager at baseline
    — the class behind a builder failing before its caller could free
    what it had persisted."""
    spark.catalog.clearCache()
    base_ids = _persistent_rdd_ids(spark)
    with pytest.raises(RuntimeError, match="builder failed"):
        with materialize(spark) as m:
            cached = m.persist(spark.range(500).selectExpr("id % 7 AS k"))
            assert cached.count() == 500
            m.checkpoint(cached.groupBy("k").count())
            raise RuntimeError("builder failed")
    assert not (_persistent_rdd_ids(spark) - base_ids)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_materialization_only_through_the_scope():
    """Every persist, cache, checkpoint and unpersist in the engine goes
    through the ``materialize`` scope handle (``m``), so no hand-rolled
    lifetime can creep back outside operators/iteration.py."""
    import ast
    import pathlib

    import mapreducehs_spark

    root = pathlib.Path(mapreducehs_spark.__file__).parent
    banned = {"persist", "cache", "localCheckpoint", "checkpoint", "unpersist"}
    bad = [
        f"{path.relative_to(root)}:{node.lineno} .{node.func.attr}("
        for path in sorted(root.rglob("*.py"))
        if path != root / "operators" / "iteration.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in banned
        and not (isinstance(node.func.value, ast.Name) and node.func.value.id == "m")
    ]
    assert not bad, bad


def test_stream_drains_and_conf_changes_only_through_their_owners():
    """Every stream drain in the engine goes through
    ``streaming.ops.drain`` (one timeout, one stop rule) and every
    session-conf change through ``session.scoped_confs`` (one restore
    rule).  The one other conf writer is ``catalog.load_table``, which
    pins the read confs a vanilla session lacks."""
    import ast
    import pathlib

    import mapreducehs_spark

    root = pathlib.Path(mapreducehs_spark.__file__).parent
    owners = {
        "awaitTermination(": {root / "streaming" / "ops.py"},
        "conf.set(": {root / "session.py", root / "sources" / "catalog.py"},
        "conf.unset(": {root / "session.py", root / "sources" / "catalog.py"},
    }

    def offence(node):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
            return None
        f = node.func
        if f.attr == "awaitTermination":
            return "awaitTermination("
        on = f.value
        on_conf = (isinstance(on, ast.Attribute) and on.attr == "conf") or (
            isinstance(on, ast.Name) and on.id == "conf"
        )
        return f"conf.{f.attr}(" if on_conf and f.attr in ("set", "unset") else None

    bad = [
        f"{path.relative_to(root)}:{node.lineno} {offence(node)}"
        for path in sorted(root.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if offence(node) and path not in owners[offence(node)]
    ]
    assert not bad, bad


def test_fixture_paths_only_through_the_catalog():
    """Temp roots, fixture builds and directory walks in the engine all
    go through sources/catalog.py (``FIXTURE_ROOT``, ``derived_fixture``,
    ``data_files``), so no site rebuilds a fixture key, a root or a
    file listing of its own."""
    import ast
    import pathlib

    import mapreducehs_spark

    root = pathlib.Path(mapreducehs_spark.__file__).parent

    def offence(node):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            return "a /tmp literal" if node.value.startswith("/tmp") else None
        if not isinstance(node, ast.Call):
            return None
        f = node.func
        name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
        if name in ("gettempdir", "build_fixture_once"):
            return f"{name}("
        if name == "walk" and isinstance(f, ast.Attribute) and getattr(f.value, "id", None) == "os":
            return "os.walk("
        return None

    bad = [
        f"{path.relative_to(root)}:{node.lineno} {offence(node)}"
        for path in sorted(root.rglob("*.py"))
        if path != root / "sources" / "catalog.py"
        for node in ast.walk(ast.parse(path.read_text()))
        if offence(node)
    ]
    assert not bad, bad


def test_guard_driver_fixture_trips_on_oversized_frame(spark):
    """Driver-materializing fixture builders (stream replay chunker, m05
    media writer) refuse frames above the row ceiling — the guard must
    fire BEFORE toPandas()/collect(), with an actionable message."""
    from mapreducehs_spark.sources.catalog import guard_driver_fixture

    df = spark.range(100)
    assert guard_driver_fixture(df, "small fixture", max_rows=100) == 100
    with pytest.raises(RuntimeError, match="fixture ceiling"):
        guard_driver_fixture(df, "oversized fixture", max_rows=99)


def test_micro_ln_matches_duckdb_libm():
    """Pin the invariant text.micro_ln_udf is built on: CPython's
    math.log and DuckDB's ln() resolve to the same C-library log on
    this host, so floor(1e6*ln(x)) agrees bit-for-bit — including
    inputs near floor boundaries.  (The JVM log intrinsic does NOT
    share this property; that divergence flipped a floor at the sf1
    sweep and is why the micro-nat laws route through libm.)"""
    import math

    import duckdb

    xs = [(i * 2654435761 % 1000003 + 1) / 1000003.0 for i in range(2000)]
    con = duckdb.connect()
    got = con.execute(
        "SELECT CAST(floor(1e6 * ln(x)) AS BIGINT) FROM (SELECT unnest(?) AS x)", [xs]
    ).fetchall()
    want = [math.floor(1e6 * math.log(x)) for x in xs]
    assert [g[0] for g in got] == want


def test_make_sf_replication_fidelity(tmp_path, spark):
    """The scale generator's three fidelity contracts, pinned at
    factor 2 over sf0.001: (a) referential integrity holds for every
    foreign key; (b) identity-like name columns stay unique per entity;
    (c) embedding sign-flips are orthogonal — within-replica dot
    products are EXACTLY preserved while cross-replica vectors are not
    near-identical copies."""
    import sys

    import duckdb

    sys.path.insert(0, "/root/repo/tools")
    from make_sf import build

    out = str(tmp_path / "sf2x")
    build(out, factor=2, src_dir="/root/testdata/sf0.001")
    con = duckdb.connect()
    t = lambda name: f"read_parquet('{out}/{name}.parquet')"  # noqa: E731

    # (a) referential integrity
    for fk, dim, key in [
        ("o_custkey", "customer", "c_custkey"),
        ("l_orderkey", "orders", "o_orderkey"),
        ("l_partkey", "part", "p_partkey"),
        ("l_suppkey", "supplier", "s_suppkey"),
    ]:
        fact = "orders" if fk.startswith("o_") else "lineitem"
        n = con.execute(
            f"SELECT count(*) FROM {t(fact)} f LEFT JOIN {t(dim)} d"
            f" ON f.{fk} = d.{key} WHERE d.{key} IS NULL"
        ).fetchone()[0]
        assert n == 0, f"dangling {fk}"

    # (b) replicas never merge the name space: the distinct-name count
    # scales by the factor (the source itself may reuse names — p_name
    # does — so per-entity uniqueness is only preserved, not created)
    for tab, col in [("supplier", "s_name"), ("customer", "c_name"), ("part", "p_name")]:
        d_src = con.execute(
            f"SELECT count(DISTINCT {col}) FROM "
            f"read_parquet('/root/testdata/sf0.001/{tab}.parquet')"
        ).fetchone()[0]
        d_out = con.execute(f"SELECT count(DISTINCT {col}) FROM {t(tab)}").fetchone()[0]
        assert d_out == 2 * d_src, f"{col}: {d_out} != 2x{d_src} — replicas merged"

    # (c) sign-flip orthogonality: within-replica dots preserved exactly
    base = con.execute(
        f"SELECT list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
        f" FROM {t('embeddings')} a, {t('embeddings')} b"
        f" WHERE a.vec_id = 3 AND b.vec_id = 7"
    ).fetchone()[0]
    n_src = con.execute(
        "SELECT max(vec_id) + 1 FROM read_parquet('/root/testdata/sf0.001/embeddings.parquet')"
    ).fetchone()[0]
    rep = con.execute(
        f"SELECT list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
        f" FROM {t('embeddings')} a, {t('embeddings')} b"
        f" WHERE a.vec_id = {3 + n_src} AND b.vec_id = {7 + n_src}"
    ).fetchone()[0]
    assert base == rep, "replica dot product not preserved"
    cross = con.execute(
        f"SELECT abs(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]))"
        f" FROM {t('embeddings')} a, {t('embeddings')} b"
        f" WHERE a.vec_id = 3 AND b.vec_id = {3 + n_src}"
    ).fetchone()[0]
    assert cross < 0.9, "replica vector is a near-copy of its source"


def test_star_cc_matches_union_find_on_chains(spark):
    """Both CC regimes must agree with the pure-Python reference on the
    shape that separates the algorithms: a LONG CHAIN (hash-min
    propagation needs O(length) rounds there; the star alternation
    O(log^2)).  Mixed with a clique and singleton pairs."""
    from mapreducehs_spark.operators.dedup import connected_components_star

    pairs = []
    pairs += [(i, i + 1) for i in range(100, 180)]  # 81-node chain
    pairs += [(a, b) for a in range(10, 15) for b in range(a + 1, 15)]  # clique
    pairs += [(1000, 2000), (3000, 4000)]  # two 2-node components
    pdf = spark.createDataFrame(pairs, "id_a long, id_b long")

    # driver_threshold=0 forces the distributed star loop — the
    # small-graph union-find regime must never absorb this coverage
    star = {
        (r["node"], r["rep"])
        for r in connected_components_star(pdf, driver_threshold=0).collect()
    }
    uf = {(r["node"], r["rep"]) for r in connected_components_star(pdf).collect()}
    want = {(n, r) for n, r in _reference_components(pairs).items() if n != r}
    assert star == want
    assert uf == want
    # the chain collapsed to one star on 100
    assert {(i, 100) for i in range(101, 181)} <= star


def test_star_cc_random_graphs_property(spark):
    """Property run over seeded pseudo-random graphs (varied density,
    incl. disconnected + isolated regimes): both CC regimes' fixpoint
    must equal the pure-Python reference's components on every
    instance — the QuickCheck discipline applied to the CC kernel."""
    import random

    from mapreducehs_spark.operators.dedup import connected_components_star

    for seed, n_nodes, n_edges in [(1, 40, 20), (2, 60, 90), (3, 30, 150), (4, 80, 40)]:
        rnd = random.Random(seed)
        pairs = list(
            {
                tuple(sorted((rnd.randrange(n_nodes), rnd.randrange(n_nodes))))
                for _ in range(n_edges)
            }
        )
        pairs = [(a, b) for a, b in pairs if a != b]
        pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
        star = {
            (r["node"], r["rep"])
            for r in connected_components_star(pdf, driver_threshold=0).collect()
        }
        uf = {(r["node"], r["rep"]) for r in connected_components_star(pdf).collect()}
        want = {(n, r) for n, r in _reference_components(pairs).items() if n != r}
        assert star == want, f"distributed divergence at seed={seed}"
        assert uf == want, f"driver divergence at seed={seed}"


def test_raw_edge_arms_close_to_canonical_classes(spark):
    """m14's round-12 composition law: closing the RAW edge arms
    (member→hash-rep + verified rep–rep from hash64_duplicate_edges)
    must yield exactly the classes of closing hash64_canonical_dedup's
    emitted star edges — the per-arm closure is redundant, not merely
    approximated."""
    from mapreducehs_spark.operators.dedup import (
        connected_components_star,
        hash64_canonical_dedup,
        hash64_duplicate_edges,
    )

    rows = []
    # exact-dup group (3 members, one hash), a near-dup chain of two
    # hashes (hamming 1 via lo bit), an isolated singleton
    rows += [(1, 0x1111, 0x2222), (5, 0x1111, 0x2222), (9, 0x1111, 0x2222)]
    rows += [(2, 0x1110, 0x2222)]  # hamming 1 from the group hash
    rows += [(7, 0x0F0F, 0x7070)]  # singleton
    h = spark.createDataFrame(rows, "id long, lo long, hi long")

    canon = hash64_canonical_dedup(h)
    star_edges = canon.select(
        F.col("member").alias("id_a"), F.col("rep").alias("id_b")
    )
    closed_star = {
        (r["node"], r["rep"])
        for r in connected_components_star(star_edges).collect()
    }
    with materialize(spark) as m:
        raw = hash64_duplicate_edges(m, h)
        closed_raw = {
            (r["node"], r["rep"]) for r in connected_components_star(raw).collect()
        }
    assert closed_raw == closed_star
    assert closed_raw == {(2, 1), (5, 1), (9, 1)}


def test_star_cc_regimes_agree(spark):
    """connected_components_star's two regimes (driver union-find at or
    below driver_threshold edges, the distributed star alternation
    above) must both emit exactly the expected (node, rep) set with the
    same schema — on chains (worst diameter), cliques, triangles,
    duplicate/reversed edges, self-loops (the shapes where a naive
    union-find diverges from the star contract) and an empty edge
    list."""
    from mapreducehs_spark.operators.dedup import connected_components_star

    mixed = []
    mixed += [(i, i + 1) for i in range(100, 140)]  # chain
    mixed += [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]  # clique
    mixed += [(2000, 1000), (1000, 2000), (5, 5), (3000, 4000)]  # rev/dup/self
    cases = [
        (mixed, {(n, r) for n, r in _reference_components(mixed).items() if n != r}),
        ([], set()),
    ]
    for edges, want in cases:
        pdf = spark.createDataFrame(edges, "id_a long, id_b long")
        small = connected_components_star(pdf)  # default threshold → union-find
        dist = connected_components_star(pdf, driver_threshold=0)  # star loop
        assert small.schema == dist.schema
        assert small.schema.simpleString() == "struct<node:bigint,rep:bigint>"
        assert {(r["node"], r["rep"]) for r in small.collect()} == want
        assert {(r["node"], r["rep"]) for r in dist.collect()} == want


# ---------------------------------------------------------------------------
# hash64_canonical_dedup (m11/m12's round-6 output contract)
# ---------------------------------------------------------------------------

def test_hash64_canonical_dedup_vs_bruteforce(spark):
    """(member, rep, class_size) must equal brute-force resolution:
    components of the 'hamming(hash_a, hash_b) <= 3' graph over ALL
    members, rep = component min — including pure exact-dup classes
    (identical hashes, no near-dup edge) and chains that merge only
    through an intermediate hash (a-b <= 3, b-c <= 3, a-c > 3)."""
    import itertools

    from mapreducehs_spark.operators.dedup import hash64_canonical_dedup

    # hash universe: class A = one exact-dup hash x3 members; class B =
    # a 3-link chain (0b0, 0b111, 0b111111 — adjacent hamming 3, ends 6);
    # class C = singleton far away; class D = two exact-dup groups one
    # bit apart (contraction + edge must still merge them)
    rows = [
        (0, 0xAAAA0000, 0xAAAA), (1, 0xAAAA0000, 0xAAAA), (2, 0xAAAA0000, 0xAAAA),  # A
        (10, 0x0, 0x0), (11, 0x7, 0x0), (12, 0x3F, 0x0),          # B chain
        (20, -1, 0x7FFFFFFF),                                     # C singleton
        (30, 0xFF00FF, 0x55), (31, 0xFF00FF, 0x55), (32, 0xFF00FE, 0x55),  # D
    ]
    df = spark.createDataFrame(rows, "id long, lo long, hi long")
    got = {
        (r["member"], r["rep"], r["class_size"])
        for r in hash64_canonical_dedup(df).collect()
    }

    # brute force in python
    ids = {i: (lo, hi) for i, lo, hi in rows}
    edges = [
        (a, b)
        for a, b in itertools.combinations(ids, 2)
        if bin((ids[a][0] ^ ids[b][0]) & (2**64 - 1)).count("1")
        + bin((ids[a][1] ^ ids[b][1]) & (2**64 - 1)).count("1")
        <= 3
    ]
    comps: dict[int, list[int]] = {}
    for i, r in _reference_components(edges).items():
        comps.setdefault(r, []).append(i)
    want = {
        (m, min(members), len(members))
        for members in comps.values()
        if len(members) > 1
        for m in members
        if m != min(members)
    }
    assert got == want
    # chain B must be ONE component (transitive closure, ends hamming 6)
    assert (12, 10, 3) in got


def test_hash64_canonical_dedup_result_is_rereadable(spark):
    """The returned frame is handed out of the scope with m.result, which
    materializes it BEFORE the scope frees its persisted inputs —
    collecting it twice must work (no CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND)."""
    from mapreducehs_spark.operators.dedup import hash64_canonical_dedup

    df = spark.createDataFrame(
        [(0, 5, 5), (1, 5, 5), (2, 99, 99)], "id long, lo long, hi long"
    )
    out = hash64_canonical_dedup(df)
    first = sorted(tuple(r) for r in out.collect())
    second = sorted(tuple(r) for r in out.collect())
    assert first == second == [(1, 0, 2)]


def test_q108_result_rereadable_after_level_frames_freed(spark):
    """q108's scope frees its per-level checkpoint blocks on exit; the
    result survives because m.result materializes it first.  Collecting
    the result twice locks that: if the result ever became lazy (or
    read a freed level), the second action would die with
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND."""
    from mapreducehs_spark.queries import QUERIES

    out = QUERIES["q108_bfs_hops"](spark, "/root/testdata/sf0.001")
    first = sorted(tuple(r) for r in out.collect())
    second = sorted(tuple(r) for r in out.collect())
    assert first == second and len(first) > 0


def test_logreg_train_matches_numpy_reference(spark):
    """Differential: the distributed 2-step hard-sigmoid GD must equal a
    dense numpy replay of the same integer update law (truncating
    divisions toward zero) on a small synthetic corpus."""
    from mapreducehs_spark.operators.ml import LR_DEN, MICRO, logreg_train_hashed

    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 23}" for j in range((i % 5) + 2)), "en", "s", 250 + 20 * (i % 7))
        for i in range(40)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {
        int(r["bucket"]): (int(r["w_step1"]), int(r["w_final"]))
        for r in logreg_train_hashed(docs, n_buckets=8).collect()
    }

    # numpy replay
    import hashlib

    import numpy as np

    n_b = 8
    X = np.zeros((40, n_b), dtype=np.int64)
    y = np.zeros(40, dtype=np.int64)
    for i, text, _l, _s, n_chars in rows:
        y[i] = 1 if n_chars >= 300 else 0
        for tok in text.split():
            b = int(hashlib.md5(tok.encode()).hexdigest()[:12], 16) % n_b
            X[i, b] += 1

    def trunc(v, d):
        return np.sign(v) * (np.abs(v) // d)

    w = np.zeros(n_b, dtype=np.int64)
    bias = 0
    snaps = []
    for _ in range(2):
        z = X @ w + bias
        p = np.clip(trunc(z, 4) + MICRO // 2, 0, MICRO)
        r = p - y * MICRO
        g = X.T @ r
        gb = int(r.sum())
        w = w - trunc(trunc(g, len(rows)), LR_DEN)
        bias = bias - int(trunc(trunc(gb, len(rows)), LR_DEN))
        snaps.append((w.copy(), bias))
    (w1, b1), (w2, b2) = snaps
    want = {b: (int(w1[b]), int(w2[b])) for b in range(n_b)}
    want[-1] = (b1, b2)
    assert got == want
    # the classifier must have LEARNED something (non-zero weights)
    assert any(wf != 0 for _, wf in got.values())


def test_semantic_dedup_vs_bruteforce(spark):
    """Differential: d22's operator must equal a dense numpy replay of
    the full integer law — floor-quantize, integer-L2 seed assignment
    (ties -> lowest cluster id), cluster-LOCAL pairwise dominance at
    the exact cross-multiplied cosine threshold — including the
    cluster-locality semantics: a near-identical pair split across two
    clusters is NOT dropped (SemDeDup's documented recall trade)."""
    import numpy as np

    from mapreducehs_spark.operators.dedup import semantic_dedup

    # 4 orthogonal-ish seeds (ids 0-3) + members incl. a planted
    # same-cluster dup (10 ~ seed 0) and a planted CROSS-cluster
    # near-identical pair (13 in cluster 2, 14 in cluster 3)
    vecs = {
        0: [1.0, 0.0, 0.0, 0.0],
        1: [0.0, 1.0, 0.0, 0.0],
        2: [0.0, 0.0, 1.0, 0.0],
        3: [0.0, 0.0, 0.0, 1.0],
        10: [0.99, 0.01, 0.0, 0.0],
        11: [0.55, 0.2, 0.1, 0.0],
        12: [0.1, 0.9, 0.3, 0.0],
        13: [0.0, 0.0, 0.71, 0.70],
        14: [0.0, 0.0, 0.70, 0.72],
        15: [-0.5, -0.5, -0.5, -0.5],
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in sorted(vecs.items())],
        "vec_id long, embedding array<float>",
    )
    got = {
        r["vec_id"]: (r["cluster"], r["rep_id"], r["kept"])
        for r in semantic_dedup(df, n_clusters=4, tau_num=9, tau_den=10).collect()
    }

    # numpy replay of the same law (float->double cast first, like the
    # operator's cast(x as double))
    ids = np.array(sorted(vecs), dtype=np.int64)
    m = np.floor(
        np.asarray([vecs[i] for i in ids], dtype=np.float32).astype(np.float64) * 1000
    ).astype(np.int64)
    seeds = m[:4]
    d2 = (m * m).sum(1)[:, None] - 2 * (m @ seeds.T) + (seeds * seeds).sum(1)[None, :]
    cl = ids[d2.argmin(1)]
    n2 = (m * m).sum(1)
    want = {}
    for j, vid in enumerate(ids):
        rep, kept = int(vid), True
        for i in range(j):
            if cl[i] != cl[j]:
                continue
            dot = int(m[i] @ m[j])
            if dot > 0 and 100 * dot * dot >= 81 * int(n2[i]) * int(n2[j]):
                rep, kept = int(ids[i]), False
                break
        want[int(vid)] = (int(cl[j]), rep, kept)
    assert got == want
    # the planted same-cluster dup is dropped with the seed as rep
    assert got[10] == (0, 0, False)
    # the planted cross-cluster near-identical pair is NOT dropped
    assert got[13][2] and got[14][2] and got[13][0] != got[14][0]


def test_logreg_minibatch_matches_numpy_reference(spark):
    """Differential: the 2-step mini-batch SGD must equal a dense numpy
    replay of the same integer update law with the same md5-fold
    per-step draws, normalized by each step's SAMPLE count."""
    import hashlib

    import numpy as np

    from mapreducehs_spark.operators.ml import LR_DEN, MICRO, logreg_train_minibatch

    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 23}" for j in range((i % 5) + 2)), "en", "s", 250 + 20 * (i % 7))
        for i in range(60)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    got = {
        int(r["bucket"]): (int(r["w_step1"]), int(r["w_final"]))
        for r in logreg_train_minibatch(docs, n_buckets=8, sample_mod=2).collect()
    }

    n_b = 8
    X = np.zeros((60, n_b), dtype=np.int64)
    y = np.zeros(60, dtype=np.int64)
    for i, text, _l, _s, n_chars in rows:
        y[i] = 1 if n_chars >= 300 else 0
        for tok in text.split():
            b = int(hashlib.md5(tok.encode()).hexdigest()[:12], 16) % n_b
            X[i, b] += 1

    def drawn(i, step):
        return int(hashlib.md5(f"{i}:{step}".encode()).hexdigest()[:12], 16) % 2 == 0

    def trunc(v, d):
        return np.sign(v) * (np.abs(v) // d)

    w = np.zeros(n_b, dtype=np.int64)
    bias = 0
    snaps = []
    for step in (1, 2):
        sel = np.array([drawn(i, step) for i in range(60)])
        n_s = int(sel.sum())
        assert n_s > 0, "degenerate test draw"
        z = X[sel] @ w + bias
        p = np.clip(trunc(z, 4) + MICRO // 2, 0, MICRO)
        r = p - y[sel] * MICRO
        g = X[sel].T @ r
        gb = int(r.sum())
        w = w - trunc(trunc(g, n_s), LR_DEN)
        bias = bias - int(trunc(trunc(gb, n_s), LR_DEN))
        snaps.append((w.copy(), bias))
    (w1, b1), (w2, b2) = snaps
    want = {b: (int(w1[b]), int(w2[b])) for b in range(n_b)}
    want[-1] = (b1, b2)
    assert got == want
    assert any(wf != 0 for _, wf in got.values())


def test_hash128_canonical_dedup_vs_bruteforce(spark):
    """4x32-bit-band variant: components of the 'hamming <= 3' graph
    over 128-bit hashes (four 32-bit words) — exact-dup classes,
    transitive chains through an intermediate hash, singletons."""
    import itertools

    from mapreducehs_spark.operators.dedup import hash128_canonical_dedup

    rows = [
        # A: exact-dup class x3
        (0, 0xAAAA, 0x5555, 0x00FF, 0x7F00), (1, 0xAAAA, 0x5555, 0x00FF, 0x7F00),
        (2, 0xAAAA, 0x5555, 0x00FF, 0x7F00),
        # B: 3-link chain (adjacent hamming 3, ends 6) spread across words
        (10, 0x0, 0x0, 0x0, 0x0), (11, 0x1, 0x2, 0x4, 0x0), (12, 0x3, 0x6, 0xC, 0x0),
        # C: singleton far away
        (20, 0x7FFFFFFF, 0x7FFFFFFF, 0x7FFFFFFF, 0x7FFFFFFF),
        # D: two exact-dup groups one bit apart
        (30, 0xF0, 0x0, 0x0, 0x1), (31, 0xF0, 0x0, 0x0, 0x1), (32, 0xF1, 0x0, 0x0, 0x1),
    ]
    df = spark.createDataFrame(rows, "id long, w0 long, w1 long, w2 long, w3 long")
    got = {
        (r["member"], r["rep"], r["class_size"])
        for r in hash128_canonical_dedup(df).collect()
    }

    ids = {r[0]: r[1:] for r in rows}
    edges = [
        (a, b)
        for a, b in itertools.combinations(ids, 2)
        if sum(bin(wa ^ wb).count("1") for wa, wb in zip(ids[a], ids[b])) <= 3
    ]
    comps: dict[int, list[int]] = {}
    for i, r in _reference_components(edges).items():
        comps.setdefault(r, []).append(i)
    want = {
        (m, min(ms), len(ms))
        for ms in comps.values()
        if len(ms) > 1
        for m in ms
        if m != min(ms)
    }
    assert got == want
    assert (12, 10, 3) in got  # chain B closes transitively


def test_d23_split_is_class_consistent(spark):
    """d23's structural guarantee: the split is a TOTAL function of the
    near-dup class representative — every document appears exactly
    once, every rep maps to itself, and every member lands in its
    rep's split, so no near-dup pair can cross train/val/test."""
    from mapreducehs_spark.queries import QUERIES

    rows = QUERIES["d23_leakage_safe_split"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    split_of = {r["doc_id"]: r["split"] for r in rows}
    rep_of = {r["doc_id"]: r["rep_id"] for r in rows}
    assert len(split_of) == len(rows)  # one row per doc
    for d, rp in rep_of.items():
        assert rep_of[rp] == rp  # reps are fixed points
        assert split_of[d] == split_of[rp]  # members inherit the rep's split
        assert rp <= d  # min-id representative convention
    assert set(split_of.values()) <= {"train", "val", "test"}
    # 80/10/10 law: train is the large bucket by construction
    n_train = sum(1 for s in split_of.values() if s == "train")
    assert n_train > len(rows) // 2


def test_s19_rerank_composes_the_committed_laws(spark):
    """s19 differential: the final rows must (a) be a subset of the
    BM25 candidate pool, (b) carry EXACTLY t26's score as the rerank
    margin, and (c) rank 1..k by (rerank_score desc, doc_id asc) —
    the composition law, checked against the two component queries."""
    from mapreducehs_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    out = QUERIES["s19_retrieve_rerank"](spark, sf).collect()
    assert 1 <= len(out) <= 20
    t26 = {
        r["doc_id"]: r["score"]
        for r in QUERIES["t26_hashed_linear_score"](spark, sf).collect()
    }
    for r in out:
        assert r["rerank_score"] == t26[r["doc_id"]]
        assert 1 <= r["bm25_rank"] <= 100
    ordered = sorted(out, key=lambda r: (-r["rerank_score"], r["doc_id"]))
    assert [r["final_rank"] for r in ordered] == list(range(1, len(out) + 1))


def test_cdc_chunks_are_insertion_stable(spark):
    """The content-defined-chunking guarantee: prepending tokens to a
    document shifts NO chunk identity beyond the first boundary —
    every chunk of the original after its first cut reappears verbatim
    in the prefixed document (exactly what fixed-width chunking
    loses).  Also pins the basic frame contract: chunk token counts
    partition the document."""
    from mapreducehs_spark.operators.dedup import content_defined_chunks

    base = " ".join(f"w{i * 7 % 101}x{i}" for i in range(200))
    rows = [(1, "a", base), (2, "a", "NEW PREFIX " + base)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    chunks = content_defined_chunks(df).collect()

    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r["id"], []).append(r)
    # the chunking partitions each doc's tokens
    assert sum(r["n_tokens"] for r in by_doc[1]) == 200
    assert sum(r["n_tokens"] for r in by_doc[2]) == 202
    # doc 1 must actually have cuts for the property to be non-vacuous
    assert len(by_doc[1]) >= 3
    tail_hashes = {
        r["chunk_hash"] for r in by_doc[1] if r["chunk_id"] >= 1
    }
    prefixed_hashes = {r["chunk_hash"] for r in by_doc[2]}
    assert tail_hashes <= prefixed_hashes


def test_scan_shaped_minhash_matches_grouped_kernel(spark):
    """The row-local F.aggregate signature fold must reproduce the
    grouped (explode + groupBy-min) checked kernel signature-for-
    signature — same md5 fold, same literal seeds, same mod law."""
    from pyspark.sql import functions as F

    from mapreducehs_spark.operators.dedup import (
        _H31,
        MINHASH_CHECK_NUM_PERM,
        minhash_check_seeds,
        minhash_sigs_scan_shaped,
        shingles_of,
    )
    from mapreducehs_spark.operators.text import tokens

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {r["id"]: list(r["mins"]) for r in minhash_sigs_scan_shaped(docs).collect()}

    a, b = minhash_check_seeds()
    p = F.lit(_H31).cast("bigint")
    staged = (
        docs.select(F.col("doc_id").alias("id"), tokens(F.col("text")).alias("__toks"))
        .filter(F.size("__toks") >= 3)
    )
    x = F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("bigint") % p
    ref = (
        staged.select("id", F.explode(shingles_of("__toks", 3)).alias("s"))
        .select("id", x.alias("x"))
        .groupBy("id")
        .agg(
            *[
                F.min((F.lit(a[i]).cast("bigint") * F.col("x") + F.lit(b[i])) % p).alias(f"m{i}")
                for i in range(MINHASH_CHECK_NUM_PERM)
            ]
        )
    )
    want = {
        r["id"]: [r[f"m{i}"] for i in range(MINHASH_CHECK_NUM_PERM)] for r in ref.collect()
    }
    assert got == want


def test_kmeans_assignments_consistent_with_profile(spark):
    """kmeans_assignments exposes the SAME trajectory kmeans_profile
    rolls up: aggregating the per-vector labels reproduces the profile
    exactly (counts) and to float tolerance (mean sqdist)."""
    rng = np.random.default_rng(11)
    k, dim, n = 4, 8, 60
    vecs = rng.standard_normal((n, dim)).astype(np.float32)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    from mapreducehs_spark.operators.similarity import (
        kmeans_assignments,
        kmeans_profile,
    )

    profile = {
        r["cluster"]: (r["n_members"], r["avg_sqdist"])
        for r in kmeans_profile(df, k=k).collect()
    }
    with materialize(spark) as m:
        rows = kmeans_assignments(m, df, k=k).collect()
    # every vector labeled exactly once
    assert sorted(r["id"] for r in rows) == list(range(n))
    agg: dict = {}
    for r in rows:
        cnt, tot = agg.get(r["cluster"], (0, 0.0))
        agg[r["cluster"]] = (cnt + 1, tot + r["sqdist"])
    assert set(agg) == set(profile)
    for cid, (cnt, tot) in agg.items():
        assert cnt == profile[cid][0]
        assert abs(tot / cnt - profile[cid][1]) < 1e-9


def test_q105_plan_executes_to_one_file_per_bin(spark, tmp_path):
    """Closes the 'plans but never executes' gap: materialize the q105
    manifest as a real small-files table (one physical file per
    synthetic file_id), EXECUTE the plan with
    layout.execute_compaction_plan, and verify the compaction contract
    — exactly one data file per planned bin, per-bin file membership
    and byte mass exactly as planned, and the table's CONTENT unchanged
    (order-independent content hash over every column)."""
    from mapreducehs_spark.operators import layout
    from mapreducehs_spark.queries import QUERIES
    from mapreducehs_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    plan_rows = QUERIES["q105_compaction_plan"](spark, sf).collect()
    plan = spark.createDataFrame(plan_rows)

    orders = load_table(spark, sf, "orders").withColumn(
        "file_id", F.expr("o_orderkey div 40")
    )
    small_dir = str(tmp_path / "small")
    (
        orders.repartition(F.col("file_id"))
        .write.mode("overwrite")
        .partitionBy("file_id")
        .parquet(small_dir)
    )
    small = spark.read.parquet(small_dir)

    out_dir = str(tmp_path / "compacted")
    realized = layout.execute_compaction_plan(spark, small, plan, out_dir)

    # one data file per planned bin, no unplanned bins
    assert realized == {r["bin"]: 1 for r in plan_rows}

    compacted = spark.read.parquet(out_dir)
    # per-bin realized membership + byte mass == plan
    got = {
        r["bin"]: (r["nf"], r["bb"])
        for r in compacted.groupBy("bin")
        .agg(
            F.countDistinct("file_id").alias("nf"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")).alias("bb"),
        )
        .collect()
    }
    assert got == {r["bin"]: (r["n_files"], r["bin_bytes"]) for r in plan_rows}

    # content equivalence: order-independent hash over EVERY column
    def content_sig(df):
        cols = sorted(c for c in df.columns if c not in ("bin",))
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.xxhash64(*[F.col(c).cast("string") for c in cols])
                .cast("decimal(38,0)")  # BIGINT sum overflows under ANSI
            ).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    assert content_sig(compacted) == content_sig(small)
