"""Seeded input derivation and the DuckDB oracle check.

Every workload reads a dataset derived from the committed sf0.01 tables
in ``base/sf0.01``.  The seed permutes the rows of every table, so the
same seed gives the same bytes and every seed gives the same values
(and therefore the same oracle expectations).  A factor above 1
replicates the key space first, with the rules of ``tools/make_sf.py``:
keys shift per replica, ``l_suppkey`` mixes across supplier replicas,
names get a replica suffix, document tokens are salted and embedding
dimensions get per-replica sign flips, so referential integrity holds
and replicas are not near-duplicates of each other.
"""

from __future__ import annotations

import math
import os
import pickle
import shutil

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

BASE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "base", "sf0.01")

#: Every table with the columns that order its rows canonically.  The
#: generator's (l_orderkey, l_linenumber) pairs repeat, so lineitem
#: sorts by every column.
TABLE_KEYS = {
    "region": ["r_regionkey"],
    "nation": ["n_nationkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey"],
    "lineitem": [
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
    ],
    "events": ["event_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def _replicated_sql(src: str, factor: int, con: duckdb.DuckDBPyConnection) -> dict[str, str]:
    """One SELECT per table that replicates the key space ``factor`` times."""

    def t(name: str) -> str:
        return f"read_parquet('{os.path.join(src, name + '.parquet')}')"

    card = {
        name: con.execute(f"SELECT max({key}) + 1 FROM {t(name)}").fetchone()[0]
        for name, key in [
            ("customer", "c_custkey"),
            ("supplier", "s_suppkey"),
            ("part", "p_partkey"),
            ("orders", "o_orderkey"),
            ("events", "event_id"),
            ("documents", "doc_id"),
            ("embeddings", "vec_id"),
        ]
    }
    n_users = con.execute(f"SELECT max(user_id) + 1 FROM {t('events')}").fetchone()[0]
    dim = con.execute(f"SELECT len(embedding) FROM {t('embeddings')} LIMIT 1").fetchone()[0]
    rep = f"(SELECT unnest(range({factor})) AS i)"

    def uniq(col: str) -> str:
        return f"CASE WHEN i = 0 THEN {col} ELSE {col} || '_r' || i::VARCHAR END AS {col}"

    salted = (
        "CASE WHEN i = 0 THEN text ELSE array_to_string("
        "list_transform(str_split(text, ' '), x -> x || 'r' || i::VARCHAR), ' ') END"
    )
    return {
        "region": f"SELECT * FROM {t('region')}",
        "nation": f"SELECT * FROM {t('nation')}",
        "customer": f"""SELECT c_custkey + i * {card['customer']} AS c_custkey,
                {uniq('c_name')}, c_nationkey, c_acctbal, c_mktsegment
            FROM {t('customer')}, {rep}""",
        "supplier": f"""SELECT s_suppkey + i * {card['supplier']} AS s_suppkey,
                {uniq('s_name')}, s_nationkey, s_acctbal
            FROM {t('supplier')}, {rep}""",
        "part": f"""SELECT p_partkey + i * {card['part']} AS p_partkey,
                {uniq('p_name')}, p_brand, p_type, p_size, p_retailprice
            FROM {t('part')}, {rep}""",
        "orders": f"""SELECT o_orderkey + i * {card['orders']} AS o_orderkey,
                o_custkey + i * {card['customer']} AS o_custkey,
                o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM {t('orders')}, {rep}""",
        "lineitem": f"""SELECT l_orderkey + i * {card['orders']} AS l_orderkey,
                l_partkey + i * {card['part']} AS l_partkey,
                l_suppkey + ((i + l_orderkey) % {factor}) * {card['supplier']} AS l_suppkey,
                l_linenumber, l_quantity, l_extendedprice, l_discount,
                l_tax, l_returnflag, l_linestatus, l_shipdate
            FROM {t('lineitem')}, {rep}""",
        "events": f"""SELECT event_id + i * {card['events']} AS event_id, ts,
                user_id + i * {n_users} AS user_id, event_type, value, props
            FROM {t('events')}, {rep}""",
        "documents": f"""SELECT doc_id + i * {card['documents']} AS doc_id,
                {salted} AS text, lang, source,
                CAST(strlen({salted}) AS BIGINT) AS n_chars
            FROM {t('documents')}, {rep}""",
        "embeddings": f"""WITH u AS (
              SELECT vec_id, label, i, j,
                     embedding[j + 1] * (CASE WHEN i = 0
                         OR ('0x' || substr(md5(i::VARCHAR || '_' || j::VARCHAR), 1, 2))::INT % 2 = 0
                         THEN 1 ELSE -1 END) AS v
              FROM {t('embeddings')}, {rep}, unnest(range({dim})) t(j))
            SELECT vec_id + i * {card['embeddings']} AS vec_id,
                   CAST(list(v ORDER BY j) AS FLOAT[]) AS embedding,
                   any_value(label) AS label
            FROM u GROUP BY vec_id, i""",
    }


def derive(out_dir: str, seed: int, factor: int = 1, src: str = BASE_DIR) -> str:
    """Write the seeded dataset to ``out_dir`` (one parquet file per
    table) unless it is already complete; return ``out_dir``."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return out_dir
    tmp = f"{out_dir}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    con = duckdb.connect()
    try:
        sql = _replicated_sql(src, factor, con) if factor > 1 else {}
        for idx, (name, key) in enumerate(TABLE_KEYS.items()):
            if factor > 1:
                table = con.execute(sql[name]).arrow()
            else:
                table = pq.read_table(os.path.join(src, f"{name}.parquet"))
            table = table.sort_by([(k, "ascending") for k in key])
            perm = np.random.default_rng([seed, idx]).permutation(table.num_rows)
            pq.write_table(table.take(perm), os.path.join(tmp, f"{name}.parquet"))
    finally:
        con.close()
    with open(os.path.join(tmp, "_DONE"), "w") as fh:
        fh.write("ok")
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return out_dir


def oracle_sql(name: str) -> str:
    """The staged oracle where one is registered (the monolithic form
    of m14 runs for minutes), else the query's oracle."""
    from mapreducehs_spark.queries import ORACLE, STAGED_ORACLE

    return STAGED_ORACLE.get(name) or ORACLE[name]


def expectations(sf_dir: str, names: list[str], cache_dir: str) -> dict[str, pd.DataFrame]:
    """Canonical DuckDB results for ``names`` over ``sf_dir``, cached as
    pickles this module wrote in ``cache_dir``."""
    from tests.oracle import canonicalize, duckdb_conn

    os.makedirs(cache_dir, exist_ok=True)
    out: dict[str, pd.DataFrame] = {}
    con = None
    try:
        for name in names:
            path = os.path.join(cache_dir, f"{name}.pkl")
            if not os.path.exists(path):
                if con is None:
                    con = duckdb_conn(sf_dir)
                want = canonicalize(con.execute(oracle_sql(name)).df())
                with open(f"{path}.tmp", "wb") as fh:
                    pickle.dump(want, fh)
                os.replace(f"{path}.tmp", path)
            with open(path, "rb") as fh:
                out[name] = pickle.load(fh)
    finally:
        if con is not None:
            con.close()
    return out


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the canonical Spark result equals the expectation, else
    the first difference.  The canonical form and the float tolerance
    are those of ``tests/oracle.py``."""
    from tests.oracle import canonicalize

    got = canonicalize(got)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            ga = pd.to_numeric(g, errors="coerce").to_numpy(dtype=float, na_value=math.nan)
            wa = pd.to_numeric(w, errors="coerce").to_numpy(dtype=float, na_value=math.nan)
            ok = np.isclose(ga, wa, rtol=1e-6, atol=1e-4, equal_nan=True)
        else:
            ok = ((g.isna() & w.isna()) | (g.astype(object) == w.astype(object))).to_numpy()
        if not ok.all():
            i = int(np.argmin(ok))
            return f"column {c} row {i}: {g.iloc[i]!r} != {w.iloc[i]!r}"
    return None
