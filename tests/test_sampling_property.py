"""Property-based differential tests for deterministic sampling/packing.

Same discipline as test_pipeline_property.py (the reference's QuickCheck
strategy, test/Generator.hs:83-92): generated inputs, Spark lowering vs
a pure-Python mirror.  Case counts kept small — each case is a Spark
round trip.
"""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F  # noqa: F401

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

doc_sizes = st.lists(st.integers(min_value=0, max_value=40), min_size=1, max_size=40)
budgets = st.integers(min_value=1, max_value=64)


@given(sizes=doc_sizes, budget=budgets)
@settings(**SETTINGS)
def test_pack_sequences_differential(spark, sizes, budget):
    from mapreducehs_spark.operators.text import pack_sequences

    rows = [(i, "s%d" % (i % 2), "tok " * n) for i, n in enumerate(sizes)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        (r["source"], r["chunk_id"]): (r["n_docs"], r["tok_total"], r["first_doc"], r["last_doc"])
        for r in pack_sequences(df, budget_tokens=budget).collect()
    }

    want: dict = {}
    for src in ("s0", "s1"):
        running = 0
        for i, s, txt in rows:
            if s != src:
                continue
            n_tok = len(txt.split())
            chunk = running // budget
            running += n_tok
            nd, tt, fd, ld = want.get((src, chunk), (0, 0, i, i))
            want[(src, chunk)] = (nd + 1, tt + n_tok, min(fd, i), max(ld, i))
    want = {k: v for k, v in want.items()}
    assert got == want

    # conservation: every doc lands in exactly one chunk, tokens add up
    assert sum(v[0] for v in got.values()) == len(rows)
    assert sum(v[1] for v in got.values()) == sum(sizes)


rates_strategy = st.fixed_dictionaries(
    {},
    optional={
        "en": st.floats(min_value=0.0, max_value=1.0),
        "de": st.floats(min_value=0.0, max_value=1.0),
        "fr": st.floats(min_value=0.0, max_value=1.0),
    },
)


@given(rates=rates_strategy, n=st.integers(min_value=1, max_value=120))
@settings(**SETTINGS)
def test_stratified_sample_differential(spark, rates, n):
    from mapreducehs_spark.operators.sampling import fraction_to_hex, stratified_sample

    langs = ["en", "de", "fr", "zz"]  # zz never in rates → default_rate 0
    rows = [(i, langs[i % 4], f"body {i} {i * 13}") for i in range(n)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    got = {r["doc_id"] for r in stratified_sample(df, rates, text_col="text").collect()}
    want = {
        i
        for i, lang, txt in rows
        if hashlib.md5(txt.encode()).hexdigest()[:8] < fraction_to_hex(rates.get(lang, 0.0))
    }
    assert got == want
    # nothing from a stratum outside `rates` ever survives
    assert all(lang != "zz" for i, lang, t in rows if i in got)


merge_keys = st.lists(st.integers(min_value=0, max_value=30), min_size=0, max_size=25, unique=True)


@given(base_keys=merge_keys, upd_keys=merge_keys, del_keys=merge_keys)
@settings(**SETTINGS)
def test_merge_upsert_differential(spark, base_keys, upd_keys, del_keys):
    """merge_upsert == dict apply: updates replace, inserts add,
    tombstones remove (a tombstone for an absent key is a no-op)."""
    from mapreducehs_spark.operators.merge import merge_upsert

    # deletes are a subset-shaped slice of updates: make them disjoint
    # from value-updates by construction (at most one update row per key)
    upd_only = [k for k in upd_keys if k not in del_keys]
    base = [(k, f"b{k}") for k in base_keys]
    updates = [(k, f"u{k}", False) for k in upd_only] + [
        (k, "tomb", True) for k in del_keys
    ]
    bdf = spark.createDataFrame(base, "k long, v string") if base else spark.createDataFrame([], "k long, v string")
    udf_ = (
        spark.createDataFrame(updates, "k long, v string, is_del boolean")
        if updates
        else spark.createDataFrame([], "k long, v string, is_del boolean")
    )
    got = {(r["k"]): r["v"] for r in merge_upsert(bdf, udf_, ["k"], delete_col="is_del").collect()}

    want = {k: f"b{k}" for k in base_keys}
    for k in upd_only:
        want[k] = f"u{k}"
    for k in del_keys:
        want.pop(k, None)
    assert got == want


grp_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),      # group
        st.integers(min_value=0, max_value=1000),   # order key
        st.integers(min_value=0, max_value=50),     # weight
    ),
    min_size=1,
    max_size=60,
    unique_by=lambda t: (t[0], t[1]),
)


@given(rows=grp_rows)
@settings(**SETTINGS)
def test_grouped_prefix_sums_differential(spark, rows):
    """grouped_prefix_sums == per-group exclusive cumsum (pure
    Python mirror), for arbitrary group sizes including singleton and
    empty-weight rows."""
    from mapreducehs_spark.operators.iteration import materialize
    from mapreducehs_spark.operators.sampling import grouped_prefix_sums

    df = spark.createDataFrame(rows, "g long, k long, w long")
    with materialize(spark) as m:
        out = grouped_prefix_sums(m, df, ["g"], ["k"], "w", out_col="start")
        got = {(r["g"], r["k"]): r["start"] for r in out.collect()}

    want: dict = {}
    running: dict = {}
    for g, k, w in sorted(rows):
        want[(g, k)] = running.get(g, 0)
        running[g] = running.get(g, 0) + w
    assert got == want
