"""Join operators beyond Spark's built-ins: as-of join and range join.

The reference derives joins from its MapReduce kernel (tag-union-reduce,
SURVEY §2.2 "Joins"); Spark's built-in equi/theta joins subsume that.
What Spark lacks natively is the *as-of* join (latest right row at or
before each left timestamp), so it is built here as a composition of
built-in ops — the union-merge technique — rather than a pandas UDF.

Scale analysis (100 TB): the union-merge as-of join costs exactly ONE
shuffle of (left ∪ right) on the join key and a per-partition sort —
the same cost as a sort-merge join — and never materializes the
(left × right-history) blowup that a range-join + filter would.  Skewed
keys degrade into single-task sorts; mitigate upstream by splitting hot
keys (see operators/skew.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_time: str,
    right_time: str,
    right_cols: list[str] | None = None,
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """For each left row, attach the most recent right row with
    ``right[right_time] <= left[left_time]`` for the same ``on`` key
    (ties on right_time broken by preferring later right rows in the
    sort, i.e. deterministic given a unique right sort).

    Implementation: tag both sides, union, then per key a single
    ordered window pass carries the latest right values forward
    (``last(..., ignorenulls=True)``).  One shuffle, no row blowup.
    """
    right_cols = right_cols or [c for c in right.columns if c not in (on, right_time)]

    lhs = left.withColumn("__t", F.col(left_time).cast("timestamp")).withColumn(
        "__is_left", F.lit(1)
    )
    for c in right_cols:
        lhs = lhs.withColumn(c, F.lit(None).cast(dict(right.dtypes)[c]))

    rhs = right.select(
        F.col(on),
        F.col(right_time).cast("timestamp").alias("__t"),
        *[F.col(c) for c in right_cols],
    ).withColumn("__is_left", F.lit(0))
    for c in left.columns:
        if c not in rhs.columns:
            rhs = rhs.withColumn(c, F.lit(None).cast(dict(lhs.dtypes)[c]))

    unioned = lhs.select(*sorted(lhs.columns)).unionByName(rhs.select(*sorted(rhs.columns)))

    # Right rows sort before left rows at equal time, so an event AT an
    # order's timestamp matches that order (<= semantics).
    w = (
        Window.partitionBy(on)
        .orderBy(F.col("__t").asc(), F.col("__is_left").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    carried = unioned
    for c in right_cols:
        carried = carried.withColumn(c, F.last(F.col(c), ignorenulls=True).over(w))
    if tolerance_seconds is not None:
        rt = F.last(F.when(F.col("__is_left") == 0, F.col("__t")), ignorenulls=True).over(w)
        stale = rt.isNull() | (
            F.col("__t").cast("double") - rt.cast("double") > float(tolerance_seconds)
        )
        for c in right_cols:
            carried = carried.withColumn(c, F.when(stale, F.lit(None)).otherwise(F.col(c)))

    return carried.filter(F.col("__is_left") == 1).drop("__is_left", "__t")


def range_join(
    left: DataFrame,
    right: DataFrame,
    left_point: str,
    right_lo: str,
    right_hi: str,
    bucket_width: float,
) -> DataFrame:
    """Point-in-interval join accelerated by bucketing.

    A naive ``l.p BETWEEN r.lo AND r.hi`` theta-join is a broadcast
    nested loop (quadratic).  Bucketizing the range key turns it into an
    equi-join on bucket id + residual filter: each right interval is
    exploded to the buckets it overlaps (``sequence``), the join is a
    hash join on the bucket, and the BETWEEN filter runs post-join.
    ``bucket_width`` should approximate the typical interval width so
    explosion stays O(1) per interval.
    """
    bw = float(bucket_width)
    lb = left.withColumn("__bucket", F.floor(F.col(left_point) / bw))
    rb = right.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(right_lo) / bw).cast("long"),
                F.floor(F.col(right_hi) / bw).cast("long"),
            )
        ),
    )
    joined = lb.join(rb, "__bucket").filter(
        F.col(left_point).between(F.col(right_lo), F.col(right_hi))
    )
    return joined.drop("__bucket")


def interval_join_count(
    events: DataFrame,
    user_col: str,
    ts_col: str,
    anchor_type: str,
    within_type: str,
    lookback_seconds: int,
) -> DataFrame:
    """Per anchor event: count + value-sum of ``within_type`` events by
    the same user in the strict-lookback window ``(t - lookback, t)``.

    Scale shape: both sides bucket on (user, floor(epoch/lookback)) and
    each anchor probes exactly TWO buckets (its own and the previous) —
    an equi hash join with O(1) fan-out per row and a residual range
    filter, never a theta join.  Anchors with no matches are preserved
    via a final left join (which is an equi join on the anchor id).
    """
    lb = float(lookback_seconds)
    epoch = F.col(ts_col).cast("double")

    anchors = events.filter(F.col("event_type") == anchor_type).select(
        F.col("event_id").alias("__aid"),
        F.col(user_col).alias("__u"),
        epoch.alias("__at"),
    )
    probes = anchors.withColumn(
        "__bucket",
        F.explode(
            F.array(
                F.floor(F.col("__at") / lb).cast("long"),
                (F.floor(F.col("__at") / lb) - 1).cast("long"),
            )
        ),
    )
    inner = events.filter(F.col("event_type") == within_type).select(
        F.col(user_col).alias("__u"),
        epoch.alias("__wt"),
        F.col("value").alias("__wv"),
        F.floor(epoch / lb).cast("long").alias("__bucket"),
    )
    matched = (
        probes.join(inner, ["__u", "__bucket"])
        .filter((F.col("__wt") > F.col("__at") - lb) & (F.col("__wt") < F.col("__at")))
        .groupBy("__aid")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__wv").alias("__sv"),
        )
    )
    return (
        anchors.join(matched, "__aid", "left")
        .select(
            F.col("__aid").alias("event_id"),
            F.coalesce(F.col("__n"), F.lit(0)).alias("n_clicks"),
            F.round(F.coalesce(F.col("__sv"), F.lit(0.0)), 4).alias("click_value"),
        )
    )
