"""Differential tests: every oracle-declared query vs DuckDB at sf0.001.

This mirrors what the driver does at sf0.01 (CORRECTNESS_r{N}.json) so
regressions surface locally first.
"""

from __future__ import annotations

from pathlib import Path

import duckdb
import pytest

from mapreducehs_spark.queries import ORACLE, QUERIES
from tests.conftest import SF_DIR
from tests.oracle import assert_matches_oracle, duckdb_conn


@pytest.fixture(scope="module")
def con():
    c = duckdb_conn(SF_DIR)
    yield c
    c.close()


def _persistent_rdd_ids(spark) -> set[int]:
    return {int(k) for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def _read_rdd_ids(df) -> set[int]:
    """Ids of the RDDs the frame's plan reads: its ``LogicalRDD`` leaves
    (a checkpointed frame is a ``LogicalRDD`` over the persisted RDD)."""
    leaves = df._jdf.queryExecution().logical().collectLeaves()
    return {
        int(leaf.rdd().id())
        for leaf in (leaves.apply(i) for i in range(leaves.size()))
        if leaf.getClass().getSimpleName() == "LogicalRDD"
    }


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_oracle_parity(spark, con, name):
    """Value parity with the oracle, plus the materialization lifetime
    contract (operators/iteration.py): once the query returns, the only
    persistent RDDs it registered are ones its result reads, and the
    CacheManager holds nothing."""
    spark.catalog.clearCache()
    before = _persistent_rdd_ids(spark)
    df = QUERIES[name](spark, SF_DIR)
    assert_matches_oracle(df, con, ORACLE[name], name)
    leaked = _persistent_rdd_ids(spark) - before - _read_rdd_ids(df)
    assert not leaked, f"{name}: unread persistent RDDs {sorted(leaked)} outlive the query"
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    assert cache_manager.isEmpty(), f"{name}: CacheManager entries outlive the query"


@pytest.mark.parametrize(
    "name",
    ["q82_partitioned_pruned_scan", "st02_stream_sessions", "st15_stream_minhash_dedup"],
)
def test_oracle_parity_on_directory_tables(spark, parts_sf_dir, name):
    """The same query and oracle over a copy of SF_DIR whose tables are
    3-part parquet directories (the production layout): the fixture
    keys, state sizing and replay builders see directories, not files."""
    con = duckdb_conn(parts_sf_dir)
    try:
        assert_matches_oracle(QUERIES[name](spark, parts_sf_dir), con, ORACLE[name], name)
    finally:
        con.close()


def test_every_query_has_an_oracle():
    """Round 6 flipped the last rows-only defaults to value-checked
    kernels; this replaces the (then-vestigial, always-skipped)
    rows-only runner with the invariant it proved: the oracle record
    IS the spec, for EVERY declared query (reference discipline:
    test/Generator.hs:83-92).  Each oracle is ONE statement: a
    multi-statement replay is a second oracle form, and every oracle
    check runs exactly the registered string."""
    assert set(QUERIES) == set(ORACLE)
    con = duckdb.connect()
    for name, sql in ORACLE.items():
        assert len(con.extract_statements(sql)) == 1, name


def test_queries_md_matches_registry():
    """QUERIES.md is generated from the query docstrings; a docstring
    edit without a regeneration (``python tools/gen_queries_md.py``)
    leaves the committed table stale."""
    import importlib.util

    root = Path(__file__).resolve().parent.parent
    spec = importlib.util.spec_from_file_location(
        "gen_queries_md", root / "tools" / "gen_queries_md.py"
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    assert (root / "QUERIES.md").read_text() == gen.render()


def test_t41_reconciles_with_t32(spark):
    """Cross-query consistency law (s13-vs-s01 discipline): the
    provenance audit must reconcile EXACTLY with the funnel it audits —
    per source, stage attrition == the t32 rollup's count deltas, and
    kept tokens == tokens_final."""
    t32 = {
        r["source"]: r
        for r in QUERIES["t32_curation_funnel"](spark, SF_DIR).collect()
    }
    per: dict[str, dict[str, int]] = {}
    kept_tokens: dict[str, int] = {}
    for r in QUERIES["t41_funnel_provenance"](spark, SF_DIR).collect():
        d = per.setdefault(r["source"], {})
        d[r["stage"]] = d.get(r["stage"], 0) + r["n_docs"]
        if r["stage"] == "kept":
            kept_tokens[r["source"]] = kept_tokens.get(r["source"], 0) + r["tokens"]
    assert set(per) == set(t32)
    for src, f in t32.items():
        d = per[src]
        assert sum(d.values()) == f["n_raw"]
        assert d.get("quality", 0) == f["n_raw"] - f["n_quality"]
        assert d.get("dedup", 0) == f["n_quality"] - f["n_canonical"]
        assert d.get("mixture", 0) == f["n_canonical"] - f["n_sampled"]
        assert d.get("kept", 0) == f["n_sampled"]
        assert kept_tokens.get(src, 0) == f["tokens_final"]


def test_t40_packing_conservation(spark):
    """Packing conservation laws: total fill across sequences equals
    total tokens + one EOS per doc; every sequence except the last is
    exactly full; n_eos sums to the doc count."""
    from pyspark.sql import functions as F

    from mapreducehs_spark.operators import text
    from mapreducehs_spark.queries.t_text import _T40_CTX
    from mapreducehs_spark.sources.catalog import load_table

    docs = load_table(spark, SF_DIR, "documents")
    totals = docs.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size(text.tokens("text"))).cast("bigint").alias("n_tokens"),
    ).collect()[0]
    rows = sorted(
        QUERIES["t40_sequence_packing"](spark, SF_DIR).collect(),
        key=lambda r: r["seq_id"],
    )
    assert sum(r["n_fill"] for r in rows) == totals["n_tokens"] + totals["n_docs"]
    assert sum(r["n_eos"] for r in rows) == totals["n_docs"]
    for r in rows[:-1]:
        assert r["n_fill"] == _T40_CTX and r["fill_micro"] == 1_000_000
    assert rows[-1]["n_fill"] <= _T40_CTX
    # seq ids are dense 0..n-1: no window is skipped or duplicated
    assert [r["seq_id"] for r in rows] == list(range(len(rows)))


def test_t46_topical_packing_conservation(spark):
    """t46's per-cluster packing laws: within each cluster, fill sums
    to tokens + one EOS per member doc, n_eos sums to the member
    count, every window but the cluster's last is exactly full, and
    seq ids are dense per cluster."""
    from collections import defaultdict

    from pyspark.sql import functions as F

    from mapreducehs_spark.operators import text
    from mapreducehs_spark.operators.iteration import materialize
    from mapreducehs_spark.operators.similarity import kmeans_assignments
    from mapreducehs_spark.queries.t_text import _T40_CTX
    from mapreducehs_spark.sources.catalog import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    with materialize(spark) as m:
        labels = {r["id"]: r["cluster"] for r in kmeans_assignments(m, emb, k=8).collect()}
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.size(text.tokens("text")).cast("bigint").alias("n_tok")
    )
    want_docs: dict = defaultdict(int)
    want_fill: dict = defaultdict(int)
    for r in docs.collect():
        if r["doc_id"] in labels:
            cl = labels[r["doc_id"]]
            want_docs[cl] += 1
            want_fill[cl] += r["n_tok"] + 1

    per: dict = defaultdict(list)
    for r in QUERIES["t46_topical_packing"](spark, SF_DIR).collect():
        per[r["cluster"]].append(r)
    assert set(per) == set(want_docs)
    for cl, rows in per.items():
        rows.sort(key=lambda r: r["seq_id"])
        assert sum(r["n_fill"] for r in rows) == want_fill[cl]
        assert sum(r["n_eos"] for r in rows) == want_docs[cl]
        for r in rows[:-1]:
            assert r["n_fill"] == _T40_CTX and r["fill_micro"] == 1_000_000
        assert rows[-1]["n_fill"] <= _T40_CTX
        assert [r["seq_id"] for r in rows] == list(range(len(rows)))


def test_inventory_is_the_contract():
    """``QUERIES`` is the only list of query names, so it must hold
    every name of the committed correctness record, and each name's
    prefix (``q01``, ``st02``, ...) must be unique: benchmark workloads
    select queries by prefix, and a second query with the same prefix
    would silently take the first one's place."""
    import json

    root = Path(__file__).resolve().parent.parent
    recorded = json.loads((root / "CORRECTNESS_sf0.01.json").read_text())
    assert sorted(set(recorded) - set(QUERIES)) == []
    prefixes = [name.split("_", 1)[0] for name in QUERIES]
    assert sorted(p for p in set(prefixes) if prefixes.count(p) > 1) == []
