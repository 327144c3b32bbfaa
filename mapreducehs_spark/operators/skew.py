"""Skew-handling helpers for hot keys at scale.

The reference's fixed ``hash k mod workerCount`` partitioner
(``src/Core/Partition.hs:53-57``) sends every row of a hot key to one
worker — the same failure mode Spark has on skewed shuffle keys.  AQE's
skew-join splitting covers sort-merge joins automatically; these helpers
cover aggregations and cases where AQE can't (e.g. grouped-map UDFs,
which must see whole groups).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def salted(df: DataFrame, key: str, n_salts: int = 16) -> DataFrame:
    """Append a deterministic salt (0..n_salts-1) derived from the full
    row hash, splitting each hot key into n_salts sub-keys."""
    return df.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(n_salts))
    )


def two_phase_agg(
    df: DataFrame, key: str, partial_aggs: list[Column], final_aggs: list[Column]
) -> DataFrame:
    """Salted two-phase aggregation for associative reductions on skewed
    keys: phase 1 aggregates (key, salt) — spreading a hot key over
    16 salt tasks — phase 2 merges per key.

    ``partial_aggs`` aggregate raw rows; ``final_aggs`` merge the
    partials (e.g. partial ``sum(x) as s`` then final ``sum(s) as s``).
    For non-skewed data Spark's own map-side partial aggregation already
    does this; use this only for measured hot keys.
    """
    phase1 = salted(df, key).groupBy(key, "__salt").agg(*partial_aggs)
    return phase1.groupBy(key).agg(*final_aggs)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    n_salts: int = 16,
) -> DataFrame:
    """Salted equi-join for a skewed LEFT side joining a small-ish
    right side that is still too big to broadcast whole.

    The left's hot key is spread over ``n_salts`` sub-keys by a salt
    derived from the full row hash; the right side is REPLICATED once
    per salt (explode of a literal range) so every (key, salt) bucket
    finds its match.  Shuffle cost: left unchanged, right ×n_salts —
    the standard trade when one key holds a double-digit percentage of
    the left.  Prefer AQE skew-join splitting (on by default) when it
    applies; use this for the cases it can't reach (e.g. the join feeds
    a grouped-map UDF that must see whole groups, or the planner picked
    a shuffle-hash join AQE won't split).

    Result-identical to the inner ``left.join(right, on)`` on unique
    right keys (pinned by the equivalence test).
    """
    l = salted(left, left_key, n_salts)
    r = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(n_salts)]))
    )
    cond = (l[left_key] == r[right_key]) & (l["__salt"] == r["__salt"])
    return l.join(r, cond).drop("__salt")
