"""Differential-test harness: Spark result vs DuckDB oracle.

Mirrors the driver's comparison (and the reference's own
sort-before-compare discipline, test/Generator.hs:86-87): canonical
column order (sorted by name), canonical row sort, floats rounded,
then exact frame equality.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

from mapreducehs_spark.sources.catalog import TABLES, table_files

FLOAT_DECIMALS = 4


def duckdb_view_sql(sf_dir: str, name: str) -> str:
    """The view of table *name* over its data files, on either layout
    (one parquet file or a directory of parts)."""
    files = ", ".join(f"'{f}'" for f in table_files(sf_dir, name))
    return f"CREATE VIEW {name} AS SELECT * FROM read_parquet([{files}])"


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(duckdb_view_sql(sf_dir, t))
    return con


def canonicalize(pdf: pd.DataFrame) -> pd.DataFrame:
    out = pdf[sorted(pdf.columns)].copy()
    for c in out.columns:
        if out[c].dtype == object:
            # normalize Decimal/np scalar wrappers to plain python
            out[c] = out[c].map(lambda v: None if v is None else v)
        if pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].round(FLOAT_DECIMALS)
        elif pd.api.types.is_bool_dtype(out[c]):
            out[c] = out[c].astype("boolean")
        elif pd.api.types.is_integer_dtype(out[c]):
            out[c] = out[c].astype("Int64")
    out = out.sort_values(by=list(out.columns), ignore_index=True, na_position="last")
    return out


def assert_matches_oracle(spark_df, con: duckdb.DuckDBPyConnection, sql: str, name: str = "") -> None:
    got = canonicalize(spark_df.toPandas())
    want = canonicalize(con.execute(sql).df())
    assert list(got.columns) == list(want.columns), (
        f"{name}: column mismatch spark={list(got.columns)} oracle={list(want.columns)}"
    )
    assert len(got) == len(want), f"{name}: row count spark={len(got)} oracle={len(want)}"
    # elementwise compare with float tolerance (post-rounding)
    for c in got.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(g) or pd.api.types.is_float_dtype(w):
            ok = [
                (pd.isna(a) and pd.isna(b))
                or (
                    not pd.isna(a)
                    and not pd.isna(b)
                    and math.isclose(float(a), float(b), rel_tol=1e-6, abs_tol=1e-4)
                )
                for a, b in zip(g, w)
            ]
            assert all(ok), f"{name}: float column {c} differs, first bad row {ok.index(False)}: {g[ok.index(False)]} vs {w[ok.index(False)]}"
        else:
            same = (g.isna() & w.isna()) | (g.astype(object) == w.astype(object))
            assert same.all(), (
                f"{name}: column {c} differs at rows {list(same[~same].index[:5])}: "
                f"spark={list(g[~same][:5])} oracle={list(w[~same][:5])}"
            )
