"""Seeded derivation: same seed, same bytes; any seed, same oracle
answers; the 10x replication keeps referential integrity."""

from __future__ import annotations

import os

import duckdb
import pytest

from inputs import BASE_DIR, TABLE_KEYS, derive, expectations
from workloads import WORKLOADS, query_names

#: (child table, column, parent table, key)
FOREIGN_KEYS = [
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
]


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = fh.read()
    return out


@pytest.fixture(scope="module")
def derived(tmp_path_factory):
    root = tmp_path_factory.mktemp("derived")
    return lambda seed, factor, tag="": derive(str(root / f"f{factor}_s{seed}{tag}"), seed, factor)


@pytest.mark.parametrize("factor", [1, 10])
def test_same_seed_same_bytes(derived, factor):
    assert _files(derived(5, factor)) == _files(derived(5, factor, "_again"))


def test_seeds_permute_rows(derived):
    a, b = _files(derived(5, 1)), _files(derived(6, 1))
    assert a["lineitem.parquet"] != b["lineitem.parquet"]


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_seeds_share_oracle_expectations(derived, tmp_path, workload):
    w = WORKLOADS[workload]
    names = query_names(w)
    a = expectations(derived(5, w.factor), names, str(tmp_path / "a"))
    b = expectations(derived(6, w.factor), names, str(tmp_path / "b"))
    for name in names:
        assert a[name].equals(b[name]), name


def _dangling(con, d: str) -> dict[tuple, int]:
    def t(name):
        return f"read_parquet('{os.path.join(d, name + '.parquet')}')"

    return {
        fk: con.execute(
            f"SELECT count(*) FROM {t(child)} c ANTI JOIN {t(parent)} p ON c.{col} = p.{key}"
        ).fetchone()[0]
        for fk in FOREIGN_KEYS
        for child, col, parent, key in [fk]
    }


def test_tenfold_keeps_referential_integrity(derived):
    d = derived(5, 10)
    con = duckdb.connect()
    for name, keys in TABLE_KEYS.items():
        n, distinct = con.execute(
            f"SELECT count(*), count(DISTINCT ({', '.join(keys)})) "
            f"FROM read_parquet('{os.path.join(d, name + '.parquet')}')"
        ).fetchone()
        base = con.execute(f"SELECT count(*) FROM read_parquet('{os.path.join(BASE_DIR, name + '.parquet')}')").fetchone()[0]
        assert n == distinct or name == "lineitem", f"{name}: duplicate keys"
        assert n == (base if name in ("region", "nation") else 10 * base), name
    base_dangling = _dangling(con, BASE_DIR)
    assert _dangling(con, d) == {fk: 10 * n for fk, n in base_dangling.items()}
