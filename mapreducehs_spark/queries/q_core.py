"""Relational core queries q01–q60."""

from __future__ import annotations

import pandas as pd  # noqa: F401 — needed to resolve postponed pd.Series hints in pandas UDFs

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducehs_spark.operators import text, windows
from mapreducehs_spark.operators import sampling as _sampling
from mapreducehs_spark.operators.joins import asof_join

from mapreducehs_spark.queries._registry import query
from mapreducehs_spark.queries._shared import (
    _t,
)

# =========================================================================
# Relational core (SURVEY §2.2: scans, projection, filter, aggregation)
# =========================================================================

@query(
    "q01_pricing_summary",
    oracle="""
    WITH s AS (
      SELECT l_returnflag, l_linestatus,
             CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sq,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sbp,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS DECIMAL(38,0)) AS sdp,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                      * (100 - CAST(round(l_discount * 100) AS BIGINT))
                      * (100 + CAST(round(l_tax * 100) AS BIGINT))) AS DECIMAL(38,0)) AS sch,
             CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS sdh,
             count(*) AS n
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02'
      GROUP BY l_returnflag, l_linestatus
    )
    SELECT l_returnflag, l_linestatus,
           CAST(sq AS DOUBLE)                  AS sum_qty,
           round(sbp / 100.0, 4)               AS sum_base_price,
           round(sdp / 10000.0, 4)             AS sum_disc_price,
           round(sch / 1000000.0, 4)           AS sum_charge,
           ((sq * 1000000) // n) / 1000000.0   AS avg_qty,
           ((sbp * 10000) // n) / 1000000.0    AS avg_price,
           ((sdh * 10000) // n) / 1000000.0    AS avg_disc,
           n                                   AS count_order
    FROM s
    """,
)
def q01_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the flagship scan→filter→hash-agg.  Catalyst pushes
    the shipdate filter into the parquet scan and prunes to 7 columns;
    the aggregation is partial+final (map-side combine) — the plan the
    reference could never produce (it materializes every stage,
    SURVEY §4.2).

    Arithmetic is the repo's exact fixed-point discipline (money in
    cents, discounts/taxes in hundredths, averages as truncating
    micro-unit division): a double SUM's value depends on partial-agg
    order, and at ~6 M rows (the sf1 measurement, SCALE.md) the
    engines' orderings drift past the 4-decimal rounding boundary —
    integer sums are order-free, so the query value-checks at EVERY
    scale factor.  Magnitudes: cents·1e4 per row < 1e11, so a BIGINT
    sum of sdp/sch would cross 2^63 around sf≈50 (where Spark's
    non-ANSI sum wraps silently) — those two accumulate as
    decimal(38,0) on BOTH engines (DuckDB already sums exactly via
    HUGEINT), giving headroom past sf 1e9; sq/sbp/sdh stay bigint
    (per-row ≤ 1e7, safe to sf ~1e5)."""
    li = _t(spark, sf_dir, "lineitem")
    qty_i = F.round(F.col("l_quantity")).cast("bigint")
    pc = F.round(F.col("l_extendedprice") * 100).cast("bigint")  # cents
    dh = F.round(F.col("l_discount") * 100).cast("bigint")  # hundredths
    th = F.round(F.col("l_tax") * 100).cast("bigint")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty_i).alias("sq"),
            F.sum(pc).alias("sbp"),
            F.sum((pc * (100 - dh)).cast("decimal(38,0)")).alias("sdp"),
            F.sum((pc * (100 - dh) * (100 + th)).cast("decimal(38,0)")).alias("sch"),
            F.sum(dh).alias("sdh"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("sq").cast("double").alias("sum_qty"),
            F.round(F.col("sbp") / 100.0, 4).alias("sum_base_price"),
            F.round(F.col("sdp") / 10000.0, 4).alias("sum_disc_price"),
            F.round(F.col("sch") / 1000000.0, 4).alias("sum_charge"),
            (F.expr("(sq * 1000000L) div n") / 1000000.0).alias("avg_qty"),
            (F.expr("(sbp * 10000L) div n") / 1000000.0).alias("avg_price"),
            (F.expr("(sdh * 10000L) div n") / 1000000.0).alias("avg_disc"),
            F.col("n").alias("count_order"),
        )
    )


@query(
    "q02_revenue_forecast",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
           count(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
)
def q02_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure filter+global agg — the predicate-pushdown
    witness (all four predicates reach the parquet scan)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & F.col("l_discount").between(0.03, 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("revenue"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "q03_scan_project_filter",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(l_extendedprice * (1 - l_discount), 4) AS net_price,
           strftime(l_shipdate, '%Y-%m-%d') AS ship_day
    FROM lineitem
    WHERE l_returnflag = 'R' AND l_quantity >= 45
    """,
)
def q03_scan_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level projection+filter (Mapper O1 semantics, reference
    MapReduceC.hs:24): no shuffle at all — narrow plan, column-pruned scan."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_returnflag") == "R") & (F.col("l_quantity") >= 45)).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net_price"),
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_day"),
    )


# =========================================================================
# Joins (SURVEY §2.2 "Joins": inner/outer/semi/anti, broadcast, as-of)
# =========================================================================

@query(
    "q04_order_priority",
    oracle="""
    SELECT o_orderpriority, count(*) AS n_orders
    FROM orders
    WHERE EXISTS (
        SELECT 1 FROM lineitem
        WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate
    )
    GROUP BY o_orderpriority
    """,
)
def q04_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS → left-semi join, then count by priority."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    sel = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey) & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    return sel.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


@query(
    "q05_revenue_by_nation",
    oracle="""
    SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    JOIN orders    ON l_orderkey = o_orderkey
    JOIN customer  ON o_custkey = c_custkey
    JOIN supplier  ON l_suppkey = s_suppkey
    JOIN nation    ON s_nationkey = n_nationkey
    JOIN region    ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n_name
    """,
)
def q05_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: the multi-join witness.  Dimension tables
    (supplier/nation/region/customer) are broadcast — only the
    lineitem⋈orders join shuffles, on the fact tables' shared key."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


@query(
    "q06_semi_anti_customers",
    oracle="""
    SELECT c_mktsegment, 'active' AS cohort, count(*) AS n_customers
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    UNION ALL
    SELECT c_mktsegment, 'inactive' AS cohort, count(*) AS n_customers
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    GROUP BY c_mktsegment
    """,
)
def q06_semi_anti_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left_semi (EXISTS) + left_anti (NOT EXISTS) in one result."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    semi = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .withColumn("cohort", F.lit("active"))
    )
    anti = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .withColumn("cohort", F.lit("inactive"))
    )
    return semi.unionByName(anti).select("c_mktsegment", "cohort", "n_customers")


@query(
    "q07_asof_enrich",
    oracle="""
    SELECT e.event_id, e.user_id,
           CAST(floor(epoch(e.ts)) AS BIGINT) AS event_epoch,
           o.o_orderkey AS last_orderkey,
           round(o.o_totalprice, 4) AS last_totalprice
    FROM events e
    LEFT JOIN LATERAL (
        SELECT o_orderkey, o_totalprice
        FROM orders
        WHERE o_custkey = e.user_id AND o_orderdate <= e.ts
        ORDER BY o_orderdate DESC, o_orderkey DESC
        LIMIT 1
    ) o ON true
    """,
)
def q07_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (custom operator — Spark has no built-in): each event
    picks the customer's most recent order at event time.  Union-merge
    implementation: one shuffle, no row blowup (operators/joins.py)."""
    events = _t(spark, sf_dir, "events")
    orders = _t(spark, sf_dir, "orders")
    # deterministic tie-break: at equal o_orderdate prefer max o_orderkey,
    # achieved by sorting right rows by (time, orderkey) before the merge.
    orders_ranked = orders.select(
        F.col("o_custkey"), F.col("o_orderdate"), F.col("o_orderkey"), F.col("o_totalprice")
    )
    w = Window.partitionBy("o_custkey", "o_orderdate").orderBy(F.col("o_orderkey").desc())
    orders_best = (
        orders_ranked.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    joined = asof_join(
        events.select("event_id", F.col("user_id").alias("o_custkey"), "ts"),
        orders_best,
        on="o_custkey",
        left_time="ts",
        right_time="o_orderdate",
        right_cols=["o_orderkey", "o_totalprice"],
    )
    return joined.select(
        F.col("event_id"),
        F.col("o_custkey").alias("user_id"),
        F.floor(F.col("ts").cast("double")).cast("bigint").alias("event_epoch"),
        F.col("o_orderkey").alias("last_orderkey"),
        F.round(F.col("o_totalprice"), 4).alias("last_totalprice"),
    )


# =========================================================================
# Aggregation extensions: distinct, rollup/cube/grouping sets, pivot
# =========================================================================

@query(
    "q08_distinct_counts",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_suppkey) AS n_suppliers,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q08_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi count-distinct (expand-based plan in Spark)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@query(
    "q09_rollup_sales",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS gid,
           round(sum(l_quantity), 4) AS sum_qty,
           count(*) AS n_rows
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q09_rollup_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP with grouping id (derivable in the reference only by a
    Mapper emitting one row per grouping set — SURVEY §2.2)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus"))
        .cast("int")
        .alias("gid"),
        F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "q10_cube_sales",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS INT) AS gid,
           round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0, 4)
             AS sum_price
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q10_cube_sales(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exact integer-cents sum: the (all, all) cube cell folds the whole
    # table, where a double SUM's partial-agg order drifts past the
    # rounding boundary at 10x data (q01's sf1 lesson)
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    return li.cube("l_returnflag", "l_linestatus").agg(
        (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus"))
        .cast("int")
        .alias("gid"),
        F.round(F.sum(cents) / 100.0, 4).alias("sum_price"),
    )


@query(
    "q11_pivot_status",
    oracle="""
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END), 4) AS qty_open,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END), 4) AS qty_filled
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q11_pivot_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: groupBy().pivot(values).agg() — lowered by Spark to the
    same conditional aggregation the oracle spells out."""
    li = _t(spark, sf_dir, "lineitem")
    p = (
        _coalesce0(
            li.groupBy("l_returnflag")
            .pivot("l_linestatus", ["O", "F"])
            .agg(F.round(F.sum("l_quantity"), 4))
        )
    )
    return p.select(
        "l_returnflag",
        F.col("O").alias("qty_open"),
        F.col("F").alias("qty_filled"),
    )


def _coalesce0(df: DataFrame) -> DataFrame:
    # pivot emits NULL for empty cells; the CASE oracle emits 0
    out = df
    for c in df.columns[1:]:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0.0)))
    return out


# =========================================================================
# Window functions, sort/limit/top-k (SURVEY §2.2)
# =========================================================================

@query(
    "q12_topk_per_group",
    oracle="""
    SELECT l_returnflag, l_orderkey, l_linenumber,
           round(l_extendedprice, 4) AS price,
           CAST(rn AS BIGINT) AS rn
    FROM (
      SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (
               PARTITION BY l_returnflag
               ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
             ) AS rn
      FROM lineitem
    ) WHERE rn <= 3
    """,
)
def q12_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group: the window+row_number idiom (total order via
    explicit tiebreaks).  At scale Spark pushes a per-partition top-k
    (WindowGroupLimit) before the shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        F.col("l_extendedprice").desc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()
    )
    return (
        li.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select(
            "l_returnflag",
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 4).alias("price"),
            "rn",
        )
    )


@query(
    "q13_running_totals",
    oracle="""
    SELECT o_custkey, o_orderkey,
           round(sum(o_totalprice) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS UNBOUNDED PRECEDING), 4) AS running_spend,
           round(lag(o_totalprice) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate ASC, o_orderkey ASC), 4) AS prev_price,
           round(lead(o_totalprice) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate ASC, o_orderkey ASC), 4) AS next_price
    FROM orders
    """,
)
def q13_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate + lag/lead over one window partitioning (single
    shuffle, three frame passes)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.col("o_orderdate").asc(), F.col("o_orderkey").asc())
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)), 4
        ).alias("running_spend"),
        F.round(F.lag("o_totalprice").over(w), 4).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 4).alias("next_price"),
    )


@query(
    "q14_global_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 4) AS total
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey ASC
    LIMIT 25
    """,
)
def q14_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort + limit → Spark plans TakeOrderedAndProject (no full
    sort materialization, per-partition heaps)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(25)
        .select("o_orderkey", "o_custkey", F.round("o_totalprice", 4).alias("total"))
    )


@query(
    "q15_ntile_ranks",
    oracle="""
    SELECT c_mktsegment, c_custkey,
           CAST(ntile(4) OVER (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC) AS BIGINT) AS quartile,
           CAST(rank() OVER (PARTITION BY c_mktsegment ORDER BY round(c_acctbal, 2) DESC) AS BIGINT) AS bal_rank,
           CAST(dense_rank() OVER (PARTITION BY c_mktsegment ORDER BY round(c_acctbal, 2) DESC) AS BIGINT) AS bal_dense_rank
    FROM customer
    """,
)
def q15_ntile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank/ntile coverage (rank over rounded key so ties are
    well-defined identically in both engines)."""
    cust = _t(spark, sf_dir, "customer")
    w_tile = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey").asc()
    )
    w_rank = Window.partitionBy("c_mktsegment").orderBy(F.round("c_acctbal", 2).desc())
    return cust.select(
        "c_mktsegment",
        "c_custkey",
        F.ntile(4).over(w_tile).cast("bigint").alias("quartile"),
        F.rank().over(w_rank).cast("bigint").alias("bal_rank"),
        F.dense_rank().over(w_rank).cast("bigint").alias("bal_dense_rank"),
    )


# =========================================================================
# Set operations (SURVEY §2.2)
# =========================================================================

@query(
    "q16_set_ops",
    oracle="""
    SELECT 'rich_active' AS cohort, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      INTERSECT
      SELECT o_custkey AS c_custkey FROM orders
    )
    UNION ALL
    SELECT 'rich_inactive' AS cohort, c_custkey FROM (
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      EXCEPT
      SELECT o_custkey AS c_custkey FROM orders
    )
    """,
)
def q16_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intersect + except + unionByName in one query."""
    cust = _t(spark, sf_dir, "customer")
    rich = cust.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    active = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    a = rich.intersect(active).withColumn("cohort", F.lit("rich_active"))
    b = rich.exceptAll(active.distinct()).withColumn("cohort", F.lit("rich_inactive"))
    return a.unionByName(b).select("cohort", "c_custkey")


# =========================================================================
# Scalar function surface: string / date / math / json (SURVEY §2.2)
# =========================================================================

@query(
    "q17_string_funcs",
    oracle="""
    SELECT p_partkey,
           upper(p_type)                                   AS type_upper,
           lower(p_brand)                                  AS brand_lower,
           CAST(length(p_name) AS INT)                     AS name_len,
           substr(p_name, 1, 4)                            AS name_prefix,
           replace(p_brand, '#', '_')                      AS brand_norm,
           concat(p_type, ':', p_brand)                    AS type_brand,
           CAST(length(p_name) - length(replace(p_name, ' ', '')) + 1 AS INT) AS n_words,
           regexp_extract(p_brand, '([0-9]+)', 1)          AS brand_num
    FROM part
    WHERE p_name LIKE '%re%'
    """,
)
def q17_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    part = _t(spark, sf_dir, "part")
    return part.filter(F.col("p_name").like("%re%")).select(
        "p_partkey",
        F.upper("p_type").alias("type_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.length("p_name").cast("int").alias("name_len"),
        F.substring("p_name", 1, 4).alias("name_prefix"),
        F.regexp_replace("p_brand", "#", "_").alias("brand_norm"),
        F.concat_ws(":", "p_type", "p_brand").alias("type_brand"),
        (
            F.length("p_name") - F.length(F.regexp_replace("p_name", " ", "")) + 1
        ).cast("int").alias("n_words"),
        F.regexp_extract("p_brand", r"([0-9]+)", 1).alias("brand_num"),
    )


@query(
    "q18_date_funcs",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT)    AS order_year,
           CAST(month(o_orderdate) AS INT)   AS order_month,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INT) AS days_since_epoch_start,
           count(*) AS n_orders,
           round(sum(o_totalprice), 4) AS month_revenue
    FROM orders
    GROUP BY 1, 2, 3, 4
    """,
)
def q18_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.select(
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.month("o_orderdate").cast("int").alias("order_month"),
            F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias(
                "month_start"
            ),
            F.datediff(
                F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp")
            ).cast("int").alias("days_since_epoch_start"),
            "o_totalprice",
        )
        .groupBy("order_year", "order_month", "month_start", "days_since_epoch_start")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 4).alias("month_revenue"),
        )
    )


@query(
    "q19_json_extract",
    oracle="""
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
           round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 6) AS avg_k,
           CAST(max(CAST(json_extract_string(props, '$.k') AS INT)) AS INT) AS max_k
    FROM events
    GROUP BY event_type
    """,
)
def q19_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events.props string column
    (get_json_object — Catalyst evaluates it JVM-side)."""
    events = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        events.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.max("k").cast("int").alias("max_k"),
        )
    )


@query(
    "q20_math_case",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(abs(l_discount - 0.05), 6)            AS disc_dev,
           round(pow(l_quantity, 2), 4)                AS qty_sq,
           round(ln(l_extendedprice + 1), 6)           AS log_price,
           CAST(ceil(l_quantity / 10.0) AS BIGINT)     AS qty_decile,
           CASE WHEN l_tax > 0.05 THEN 'high'
                WHEN l_tax > 0.02 THEN 'mid'
                ELSE 'low' END                          AS tax_band,
           CAST(l_quantity AS INT) % 7                 AS qty_mod
    FROM lineitem
    WHERE l_orderkey % 100 = 0
    """,
)
def q20_math_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") % 100 == 0).select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("disc_dev"),
        F.round(F.pow("l_quantity", F.lit(2)), 4).alias("qty_sq"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("log_price"),
        F.ceil(F.col("l_quantity") / 10.0).cast("bigint").alias("qty_decile"),
        F.when(F.col("l_tax") > 0.05, "high")
        .when(F.col("l_tax") > 0.02, "mid")
        .otherwise("low")
        .alias("tax_band"),
        (F.col("l_quantity").cast("int") % 7).alias("qty_mod"),
    )


# =========================================================================
# Time windows & sessionization over events (SURVEY §2.2 "Streaming",
# batch-mode; streaming variants in mapreducehs_spark/streaming)
# =========================================================================

@query(
    "q21_tumbling_window",
    oracle="""
    SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS window_start_epoch,
           event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q21_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling window aggregate (epoch-aligned, as Spark's
    window() is).  Output keyed by epoch seconds — ns-precision-safe."""
    events = _t(spark, sf_dir, "events")
    agg = windows.tumbling_window(
        events,
        "ts",
        "10 minutes",
        ["event_type"],
        [F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value")],
    )
    return agg.select(
        F.col("window_start").cast("long").alias("window_start_epoch"),
        "event_type",
        "n_events",
        "sum_value",
    )


@query(
    "q22_sliding_window",
    oracle="""
    WITH slides AS (
      SELECT e.event_id, e.value,
             CAST(s AS BIGINT) AS window_start_epoch
      FROM events e,
           LATERAL (
             SELECT unnest(range(
               CAST(floor(epoch(e.ts) / 300) * 300 AS BIGINT) - 600,
               CAST(floor(epoch(e.ts) / 300) * 300 AS BIGINT) + 300,
               300)) AS s
           )
      WHERE epoch(e.ts) >= s AND epoch(e.ts) < s + 900
    )
    SELECT window_start_epoch, count(*) AS n_events, round(sum(value), 4) AS sum_value
    FROM slides
    GROUP BY 1
    """,
)
def q22_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """15-minute window sliding every 5 minutes — each event lands in 3
    windows (Spark explodes internally, the oracle explodes manually)."""
    events = _t(spark, sf_dir, "events")
    agg = windows.sliding_window(
        events,
        "ts",
        "15 minutes",
        "5 minutes",
        [],
        [F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value")],
    )
    return agg.select(
        F.col("window_start").cast("long").alias("window_start_epoch"),
        "n_events",
        "sum_value",
    )


@query(
    "q23_sessionization",
    oracle="""
    WITH lagged AS (
      SELECT user_id, event_id, epoch(ts) AS tsec,
             lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev
      FROM events
    ), flagged AS (
      SELECT *, CASE WHEN prev IS NULL OR tsec - prev > 1800 THEN 1 ELSE 0 END AS news
      FROM lagged
    ), sess AS (
      SELECT user_id, event_id, tsec,
             CAST(sum(news) OVER (PARTITION BY user_id ORDER BY tsec ASC, event_id ASC
                                  ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id
      FROM flagged
    )
    SELECT user_id, session_id,
           count(*) AS n_events,
           CAST(floor(min(tsec)) AS BIGINT) AS start_epoch,
           CAST(floor(max(tsec)) AS BIGINT) AS end_epoch,
           CAST(floor(max(tsec)) - floor(min(tsec)) AS BIGINT) AS duration_sec
    FROM sess
    GROUP BY user_id, session_id
    """,
)
def q23_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min inactivity gap) via lag+cumsum —
    operators/windows.py; the batch equivalent of session_window()."""
    events = _t(spark, sf_dir, "events")
    return windows.session_aggregate(
        events, ts="ts", key="user_id", gap_seconds=1800, order_tiebreak="event_id"
    ).select("user_id", "session_id", "n_events", "start_epoch", "end_epoch", "duration_sec")


# =========================================================================
# Relational coverage widening: grouping sets, holistic/statistical
# aggregates, interval join, general-Reducer witness (SURVEY §2.2)
# =========================================================================

@query(
    "q24_grouping_sets",
    oracle="""
    SELECT coalesce(o_orderpriority, '(all)') AS priority,
           coalesce(o_orderstatus, '(all)')  AS status,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0, 4)
             AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                            (o_orderpriority), ())
    """,
)
def q24_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS via the DataFrame API (Spark 4 groupingSets) —
    one shuffle computes all three granularities (the Expand operator
    replicates rows per set; no per-set rescan at 100 TB)."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.groupingSets(
            [["o_orderpriority", "o_orderstatus"], ["o_orderpriority"], []],
            "o_orderpriority",
            "o_orderstatus",
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            # integer-cents sum: the () grouping set folds all orders —
            # order-free exact arithmetic survives any scale (q01 lesson)
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")) / 100.0, 4
            ).alias("total"),
        )
        .select(
            F.coalesce("o_orderpriority", F.lit("(all)")).alias("priority"),
            F.coalesce("o_orderstatus", F.lit("(all)")).alias("status"),
            "n_orders",
            "total",
        )
    )


@query(
    "q25_percentiles",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_quantity, 0.25), 4) AS q25,
           round(quantile_cont(l_quantity, 0.50), 4) AS median,
           round(quantile_cont(l_quantity, 0.75), 4) AS q75,
           round(quantile_cont(l_extendedprice, 0.95), 4) AS price_p95
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q25_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (holistic aggregate — the class the reference's
    Reducer materializes whole groups for; Spark's percentile() keeps a
    per-group digest instead).  At 100 TB prefer approx_percentile;
    exact is declared here because the oracle must match bit-for-bit."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.25)"), 4).alias("q25"),
        F.round(F.expr("percentile(l_quantity, 0.50)"), 4).alias("median"),
        F.round(F.expr("percentile(l_quantity, 0.75)"), 4).alias("q75"),
        F.round(F.expr("percentile(l_extendedprice, 0.95)"), 4).alias("price_p95"),
    )


@query(
    "q26_stat_aggregates",
    oracle="""
    SELECT l_returnflag,
           round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           round(covar_samp(l_quantity, l_extendedprice), 4) AS qty_price_covar,
           round(stddev_samp(l_extendedprice), 4) AS price_stddev,
           round(var_pop(l_discount), 6) AS disc_var
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q26_stat_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (corr/covar/stddev/var) — single-pass
    distributive moments, partial-aggregated map-side."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("qty_price_covar"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("price_stddev"),
        F.round(F.var_pop("l_discount"), 6).alias("disc_var"),
    )


@query(
    "q27_interval_join",
    oracle="""
    SELECT p.event_id,
           count(c.event_id) AS n_clicks,
           round(coalesce(sum(c.value), 0), 4) AS click_value
    FROM events p
    LEFT JOIN events c
      ON c.user_id = p.user_id
     AND c.event_type = 'click'
     AND c.ts >  p.ts - INTERVAL 1 HOUR
     AND c.ts <  p.ts
    WHERE p.event_type = 'purchase'
    GROUP BY p.event_id
    """,
)
def q27_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) self-join: clicks within the hour before each
    purchase, same user — via operators/joins.py interval_join (bucketed
    equi-join + range filter, never a raw theta join)."""
    from mapreducehs_spark.operators.joins import interval_join_count

    events = _t(spark, sf_dir, "events")
    return interval_join_count(
        events,
        user_col="user_id",
        ts_col="ts",
        anchor_type="purchase",
        within_type="click",
        lookback_seconds=3600,
    )


@query(
    "q28_trimmed_mean",
    oracle="""
    SELECT l_suppkey AS key,
           round((sum(l_quantity) - min(l_quantity) - max(l_quantity))
                 / (count(*) - 2), 4) AS value
    FROM lineitem
    GROUP BY l_suppkey
    HAVING count(*) > 2
    """,
)
def q28_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General Reducer witness WITH an oracle: per-supplier trimmed mean
    (drop one min and one max) computed in a grouped-map pandas fn via
    the M1 Pipeline kernel — the lowering path for arbitrary
    ``k -> [v] -> [v']`` reducers (reference MapReduceC.hs:26,35-40)."""
    from mapreducehs_spark.pipeline import Pipeline

    # l_quantity is integer-valued: sums are exact in double, so the
    # reducer's fold order vs the oracle's cannot shift the rounded
    # result (l_extendedprice drifted at a 4-decimal boundary at sf0.1)
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").cast("bigint").alias("key"),
        F.col("l_quantity").alias("value"),
    )

    def trimmed(k, vs):
        if len(vs) <= 2:
            return []
        import math

        x = (sum(vs) - min(vs) - max(vs)) / (len(vs) - 2)
        # round HALF AWAY FROM ZERO: python round() is banker's, but the
        # oracle (DuckDB) and F.round both round .5 away — an exact
        # .xxxx5 quotient at sf0.1 exposed the difference
        return [math.copysign(math.floor(abs(x) * 10000 + 0.5), x) / 10000]

    return Pipeline().reduce_stage(trimmed, "key bigint, value double").run(li)


# =========================================================================
# Coverage widening 2: unpivot, SQL lateral join, scalar pandas UDF,
# multimodal frame sampling (SURVEY §2.2 rows: set ops/reshape, SQL
# surface, UDF surface, multimodal)
# =========================================================================

@query(
    "q29_unpivot",
    oracle="""
    WITH c AS (
      SELECT l_returnflag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS pc,
             CAST(round(l_discount * 100) AS BIGINT) AS dh,
             CAST(round(l_tax * 100) AS BIGINT) AS th
      FROM lineitem
    ), w AS (
      SELECT l_returnflag,
             round(CAST(sum(pc) AS BIGINT) / 100.0, 4)               AS base,
             round(CAST(sum(pc * (100 - dh)) AS BIGINT) / 10000.0, 4) AS discounted,
             round(CAST(sum(pc * th) AS BIGINT) / 10000.0, 4)        AS tax
      FROM c GROUP BY l_returnflag
    )
    SELECT l_returnflag, 'base' AS measure, base AS amount FROM w
    UNION ALL
    SELECT l_returnflag, 'discounted', discounted FROM w
    UNION ALL
    SELECT l_returnflag, 'tax', tax FROM w
    """,
)
def q29_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape via the DataFrame unpivot (melt) operator —
    the inverse of q11's pivot.  Runs as an Expand over the aggregate,
    no extra shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    # exact fixed-point sums (cents / 1e-4 units) — order-free at any
    # scale factor (q01's sf1 lesson)
    pc = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    dh = F.round(F.col("l_discount") * 100).cast("bigint")
    th = F.round(F.col("l_tax") * 100).cast("bigint")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum(pc) / 100.0, 4).alias("base"),
        F.round(F.sum(pc * (100 - dh)) / 10000.0, 4).alias("discounted"),
        F.round(F.sum(pc * th) / 10000.0, 4).alias("tax"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["base", "discounted", "tax"],
        variableColumnName="measure",
        valueColumnName="amount",
    )


@query(
    "q30_lateral_topn",
    oracle="""
    SELECT n.n_name, c.c_name, c.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_name, round(c_acctbal, 4) AS c_acctbal
      FROM customer
      WHERE c_nationkey = n.n_nationkey
      ORDER BY c_acctbal DESC, c_name ASC
      LIMIT 2
    ) c
    """,
)
def q30_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery through the SQL surface (spark.sql):
    top-2 customers by balance per nation.  Catalyst decorrelates this
    into a window-rank plan — same shape as q12, declared relationally."""
    _t(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT n.n_name, c.c_name, c.c_acctbal
        FROM nation n, LATERAL (
          SELECT c_name, round(c_acctbal, 4) AS c_acctbal
          FROM customer
          WHERE c_nationkey = n.n_nationkey
          ORDER BY c_acctbal DESC, c_name ASC
          LIMIT 2
        ) c
        """
    )


@query(
    "q31_pandas_udf_score",
    oracle="""
    SELECT o_orderkey,
           round(ln(1 + o_totalprice) * CASE o_orderpriority
                 WHEN '1-URGENT' THEN 2.0 WHEN '2-HIGH' THEN 1.5 ELSE 1.0 END, 4)
             AS urgency_score
    FROM orders
    WHERE o_orderstatus = 'O'
    """,
)
def q31_pandas_udf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar pandas UDF witness (SURVEY §2.2 "UDF surface"): an
    Arrow-batched numpy scoring kernel next to JVM-side filter/pushdown.
    The filter still reaches the parquet scan — only the score column
    crosses into Python, in batches."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def urgency(price: pd.Series, prio: pd.Series) -> pd.Series:
        import numpy as np

        mult = prio.map({"1-URGENT": 2.0, "2-HIGH": 1.5}).fillna(1.0).astype(float)
        return pd.Series(np.round(np.log1p(price.astype(float)) * mult, 4))

    orders = _t(spark, sf_dir, "orders")
    return (
        orders.filter(F.col("o_orderstatus") == "O")
        .select("o_orderkey", urgency("o_totalprice", "o_orderpriority").alias("urgency_score"))
    )


# =========================================================================
# Array / map functions, subqueries, sketches, skew (SURVEY §2.2 rows:
# scalar array/map functions; aggregations incl. approx_count_distinct;
# the salting helper from the 100 TB posture)
# =========================================================================

@query(
    "q32_array_map_funcs",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS BIGINT)                AS n_tokens,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
           string_split(text, ' ')[1]                                  AS first_token,
           array_to_string(
             list_slice(list_sort(list_distinct(string_split(text, ' '))), 1, 3),
             ' ')                                                      AS top3_sorted,
           list_contains(string_split(text, ' '), 'engine')            AS has_engine,
           CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_map_keys
    FROM documents
    """,
)
def q32_array_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array + map scalar-function surface (SURVEY §2.2 "array_*, map_*"):
    split/size/distinct/sort/slice/join/contains, plus a real map built
    with map_from_arrays and measured with map_keys.  The reference
    expresses these only as inline Haskell in a Mapper (Impl.hs:30-34)."""
    docs = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    uniq = F.array_distinct(toks)
    return docs.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(uniq).cast("bigint").alias("n_distinct"),
        F.element_at(toks, 1).alias("first_token"),
        F.array_join(F.slice(F.array_sort(uniq), 1, 3), " ").alias("top3_sorted"),
        F.array_contains(toks, "engine").alias("has_engine"),
        F.size(
            F.map_keys(
                F.map_from_arrays(uniq, F.transform(uniq, lambda t: F.length(t)))
            )
        )
        .cast("bigint")
        .alias("n_map_keys"),
    )


@query(
    "q33_subqueries",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           (SELECT CAST(count(*) AS BIGINT) FROM orders o
             WHERE o.o_custkey = c.c_custkey)                      AS n_orders,
           (SELECT round(max(o_totalprice), 4) FROM orders o
             WHERE o.o_custkey = c.c_custkey)                      AS max_price
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
      AND c.c_nationkey IN (SELECT n_nationkey FROM nation
                            WHERE n_regionkey <= 2)
    """,
)
def q33_subqueries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subqueries + EXISTS + uncorrelated IN through
    the SQL surface.  Catalyst decorrelates all three into joins
    (RewriteCorrelatedScalarSubquery / RewritePredicateSubquery) — the
    plan is aggregate+join, no per-row re-execution, which is what makes
    this shape survive 100 TB."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    _t(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(
        """
        SELECT c.c_custkey, c.c_name,
               (SELECT CAST(count(*) AS BIGINT) FROM orders o
                 WHERE o.o_custkey = c.c_custkey)                  AS n_orders,
               (SELECT round(max(o_totalprice), 4) FROM orders o
                 WHERE o.o_custkey = c.c_custkey)                  AS max_price
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
          AND c.c_nationkey IN (SELECT n_nationkey FROM nation
                                WHERE n_regionkey <= 2)
        """
    )


@query(
    "q34_approx_distinct",
    oracle="""
    SELECT l_returnflag,
           CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_exact,
           abs(approx_count_distinct(l_partkey) - count(DISTINCT l_partkey))
             <= 0.1 * count(DISTINCT l_partkey)      AS sketch_within_10pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q34_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog approx_count_distinct with its accuracy contract as
    the oracle-checked value: Spark's HLL++ (rsd 1%) and DuckDB's HLL
    give different raw estimates, so the declared result is the exact
    count plus a boolean "sketch landed within 10% of exact" — checking
    the property that makes the sketch usable at 100 TB (single pass,
    fixed memory, mergeable across partitions).

    Plan note (measured 2.4×): mixing countDistinct with the HLL in ONE
    aggregate triggers the Expand-based multi-distinct rewrite and
    demotes the whole pass to sort/object aggregation over expanded
    rows (t20's law).  HLL register updates are idempotent, so the
    estimate over the DEDUPED (flag, partkey) pairs is bit-identical to
    the estimate over the raw multiset — dedup first in a codegen hash
    aggregate, then count + sketch the small distinct frame."""
    li = _t(spark, sf_dir, "lineitem")
    dd = li.select("l_returnflag", "l_partkey").distinct()
    return dd.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exact"),
        (
            F.abs(F.approx_count_distinct("l_partkey", rsd=0.01) - F.count(F.lit(1)))
            <= 0.1 * F.count(F.lit(1))
        ).alias("sketch_within_10pct"),
    )


@query(
    "q35_salted_agg",
    oracle="""
    SELECT l_suppkey,
           round(sum(l_quantity), 4)  AS sum_qty,
           CAST(count(*) AS BIGINT)   AS n_rows
    FROM lineitem
    GROUP BY l_suppkey
    """,
)
def q35_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation (operators/skew.two_phase_agg)
    hash-matched against the plain GROUP BY: proof the hot-key path is
    result-identical.  At 100 TB this spreads a skewed key over 16
    sub-keys before the final merge; the reference's fixed
    hash-mod-workers partitioner (src/Core/Partition.hs:53-57) has no
    such escape hatch."""
    from mapreducehs_spark.operators.skew import two_phase_agg

    li = _t(spark, sf_dir, "lineitem")
    out = two_phase_agg(
        li,
        "l_suppkey",
        partial_aggs=[
            F.sum("l_quantity").alias("_s"),
            F.count(F.lit(1)).alias("_n"),
        ],
        final_aggs=[
            F.round(F.sum("_s"), 4).alias("sum_qty"),
            F.sum("_n").alias("n_rows"),
        ],
    )
    return out.select("l_suppkey", "sum_qty", F.col("n_rows").cast("bigint").alias("n_rows"))


# =========================================================================
# Window frames / deterministic sampling / packing / cluster resolution
# =========================================================================

@query(
    "q36_window_frames",
    oracle="""
    WITH o AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
             CAST(epoch(o_orderdate) AS BIGINT) AS ep
      FROM orders
    )
    SELECT o_orderkey,
           round(sum(o_totalprice) OVER (
                 PARTITION BY o_custkey ORDER BY ep
                 RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW), 4) AS trailing_30d_spend,
           round(percent_rank() OVER (
                 PARTITION BY o_custkey ORDER BY o_totalprice), 6)    AS price_pct_rank,
           round(cume_dist() OVER (
                 PARTITION BY o_custkey ORDER BY o_totalprice), 6)    AS price_cume_dist,
           round((ep - lag(ep) OVER (
                 PARTITION BY o_custkey ORDER BY ep, o_orderkey)) / 86400.0, 4)
                                                                      AS days_since_prev
    FROM o
    """,
)
def q36_window_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame trailing window + distribution functions: per
    customer, the trailing-30-day spend (rangeBetween over epoch
    seconds — a *value* frame, not a row frame), percent_rank /
    cume_dist over price, and the day gap to the previous order (lag
    with a deterministic tiebreak).  All four window specs share the
    customer partitioning, so Catalyst plans ONE shuffle on o_custkey;
    per-key state is a bounded sliding frame — scales as a plain
    repartition+sort at 100 TB.  The reference's kernel has no ordering
    concept at all (SURVEY §2.2 "Window functions")."""
    o = _t(spark, sf_dir, "orders")
    # NTZ → timestamp → long: epoch seconds under the UTC session tz,
    # matching DuckDB's epoch() on the same naive timestamp.
    ep = F.col("o_orderdate").cast("timestamp").cast("long")
    staged = o.select("o_orderkey", "o_custkey", "o_totalprice", ep.alias("ep"))
    w_range = (
        Window.partitionBy("o_custkey").orderBy("ep").rangeBetween(-2592000, 0)
    )
    w_price = Window.partitionBy("o_custkey").orderBy("o_totalprice")
    w_seq = Window.partitionBy("o_custkey").orderBy("ep", "o_orderkey")
    return staged.select(
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w_range), 4).alias("trailing_30d_spend"),
        F.round(F.percent_rank().over(w_price), 6).alias("price_pct_rank"),
        F.round(F.cume_dist().over(w_price), 6).alias("price_cume_dist"),
        F.round((F.col("ep") - F.lag("ep").over(w_seq)) / 86400.0, 4).alias(
            "days_since_prev"
        ),
    )


_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


_STRATA_RATES = {"en": 0.25, "de": 1.0, "fr": 0.5, "es": 0.5, "zh": 0.5}


@query(
    "q37_hash_split",
    oracle=f"""
    SELECT {_sampling.hash_split_case_sql(_SPLITS)} AS split,
           CAST(count(*) AS BIGINT)       AS n_docs,
           round(avg(n_chars), 4)         AS avg_chars,
           CAST(min(doc_id) AS BIGINT)    AS min_doc
    FROM documents
    GROUP BY 1
    """,
)
def q37_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by content hash (md5 prefix
    as a 32-bit uniform draw).  No RNG: the same document lands in the
    same split on any cluster, any re-run, any engine — which is why
    the DuckDB oracle can reproduce it bit-for-bit.  Pure per-row
    predicate on the scan; zero shuffle before the tiny final agg."""
    docs = _t(spark, sf_dir, "documents")
    return (
        _sampling.hash_split(docs, _SPLITS)
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.min("doc_id").alias("min_doc"),
        )
    )


@query(
    "q38_stratified_sample",
    oracle=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT)    AS n_kept,
           round(avg(n_chars), 4)      AS avg_chars
    FROM documents
    WHERE substr(md5(text), 1, 8) < {_sampling.stratified_threshold_case_sql(_STRATA_RATES)}
    GROUP BY lang
    """,
)
def q38_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling: per-language keep rates
    (downsample dominant 'en' to 25%, keep all 'de', half the rest) via
    the content-hash draw — the corpus-rebalancing step of a training
    pipeline, reproducible across engines and re-shardings.  Scan-shaped
    filter; survives 100 TB trivially."""
    docs = _t(spark, sf_dir, "documents")
    return (
        _sampling.stratified_sample(docs, _STRATA_RATES)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


@query(
    "q39_sequence_packing",
    oracle="""
    WITH t AS (
      SELECT source, doc_id,
             len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS n_tok
      FROM documents
    ), r AS (
      SELECT source, doc_id, n_tok,
             sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
      FROM t
    )
    SELECT source,
           CAST(floor((running - n_tok) / 512.0) AS BIGINT) AS chunk_id,
           CAST(count(*) AS BIGINT)  AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS tok_total,
           CAST(min(doc_id) AS BIGINT) AS first_doc,
           CAST(max(doc_id) AS BIGINT) AS last_doc
    FROM r
    GROUP BY 1, 2
    """,
)
def q39_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training: lay documents end-to-end per
    source shard and cut fixed 512-token chunks (offset packing via one
    running-sum window).  Parallelism = #shards — no global sort, which
    is the scalable form (chunks never span input shards at 100 TB
    either).  Emits per-chunk packing stats."""
    docs = _t(spark, sf_dir, "documents")
    return text.pack_sequences(docs, budget_tokens=512)


@query(
    "q40_full_outer_reconcile",
    oracle="""
    WITH h1 AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_h1,
             round(sum(o_totalprice), 4) AS spend_h1
      FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY o_custkey
    ), h2 AS (
      SELECT o_custkey, CAST(count(*) AS BIGINT) AS n_h2,
             round(sum(o_totalprice), 4) AS spend_h2
      FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      GROUP BY o_custkey
    )
    SELECT coalesce(h1.o_custkey, h2.o_custkey) AS custkey,
           coalesce(n_h1, 0)       AS n_h1,
           coalesce(n_h2, 0)       AS n_h2,
           coalesce(spend_h1, 0.0) AS spend_h1,
           coalesce(spend_h2, 0.0) AS spend_h2,
           CASE WHEN h1.o_custkey IS NULL THEN 'h2_only'
                WHEN h2.o_custkey IS NULL THEN 'h1_only'
                ELSE 'both' END    AS presence
    FROM h1 FULL OUTER JOIN h2 ON h1.o_custkey = h2.o_custkey
    """,
)
def q40_full_outer_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER join of two period aggregates (customers active in
    either half), with coalesced keys and a presence tag — the
    reconciliation shape.  Both sides pre-aggregate BEFORE the join, so
    the outer join shuffles #customers rows, not #orders rows; at
    100 TB that ordering (agg below join) is the difference between a
    small and a huge shuffle."""
    o = _t(spark, sf_dir, "orders")
    cutoff = F.lit("1997-01-01").cast("timestamp")
    h1 = (
        o.filter(F.col("o_orderdate") < cutoff)
        .groupBy(F.col("o_custkey").alias("k1"))
        .agg(F.count(F.lit(1)).alias("n_h1"), F.round(F.sum("o_totalprice"), 4).alias("spend_h1"))
    )
    h2 = (
        o.filter(F.col("o_orderdate") >= cutoff)
        .groupBy(F.col("o_custkey").alias("k2"))
        .agg(F.count(F.lit(1)).alias("n_h2"), F.round(F.sum("o_totalprice"), 4).alias("spend_h2"))
    )
    j = h1.join(h2, h1.k1 == h2.k2, "full_outer")
    return j.select(
        F.coalesce("k1", "k2").alias("custkey"),
        F.coalesce("n_h1", F.lit(0)).alias("n_h1"),
        F.coalesce("n_h2", F.lit(0)).alias("n_h2"),
        F.coalesce("spend_h1", F.lit(0.0)).alias("spend_h1"),
        F.coalesce("spend_h2", F.lit(0.0)).alias("spend_h2"),
        F.when(F.col("k1").isNull(), "h2_only")
        .when(F.col("k2").isNull(), "h1_only")
        .otherwise("both")
        .alias("presence"),
    )


@query(
    "q41_approx_percentile_contract",
    oracle="""
    SELECT l_returnflag,
           round(quantile_cont(l_extendedprice, 0.5), 4)  AS exact_median,
           TRUE                                           AS approx_within_5pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q41_approx_percentile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (mergeable t-digest-style sketch — the 100 TB
    path for quantiles: single pass, bounded memory, partial+final)
    checked against the exact holistic percentile: the declared result
    is the exact median plus the contract bit "sketch landed within 5%"
    (same pattern as q34's HLL contract — the property that makes the
    sketch usable at scale is what gets hash-checked)."""
    li = _t(spark, sf_dir, "lineitem")
    exact = F.expr("percentile(l_extendedprice, 0.5)")
    approx = F.expr("approx_percentile(l_extendedprice, 0.5, 10000)")
    return li.groupBy("l_returnflag").agg(
        F.round(exact, 4).alias("exact_median"),
        (F.abs(approx - exact) <= 0.05 * exact).alias("approx_within_5pct"),
    )


@query(
    "q42_null_semantics",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT)                        AS n_rows,
           CAST(count(nullif(l_discount, 0.0)) AS BIGINT)  AS n_discounted,
           round(avg(nullif(l_discount, 0.0)), 6)          AS avg_nonzero_disc,
           CAST(sum(CASE WHEN nullif(l_discount, 0.0) IS NOT DISTINCT FROM NULL
                         THEN 1 ELSE 0 END) AS BIGINT)     AS n_zero,
           round(sum(coalesce(nullif(l_discount, 0.0), 0.0)), 4) AS sum_disc
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def q42_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-semantics surface: nullif introduces nulls, count(expr) vs
    count(*) (nulls skipped vs not), avg over a nullable expression,
    null-safe equality (eqNullSafe ≙ IS NOT DISTINCT FROM), coalesce
    back-fill — the SQL three-valued-logic contract the reference's
    typed Haskell rows never face (no nulls exist there, SURVEY §1.1)."""
    li = _t(spark, sf_dir, "lineitem")
    nz = F.expr("nullif(l_discount, 0.0d)")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(nz).alias("n_discounted"),
        F.round(F.avg(nz), 6).alias("avg_nonzero_disc"),
        F.sum(nz.eqNullSafe(F.lit(None)).cast("int")).cast("bigint").alias("n_zero"),
        F.round(F.sum(F.coalesce(nz, F.lit(0.0))), 4).alias("sum_disc"),
    )


@query(
    "q43_outer_join_directions",
    oracle="""
    SELECT c.c_custkey,
           CAST(coalesce(o.n_orders, 0) AS BIGINT) AS n_orders,
           round(coalesce(o.spend, 0.0), 4)        AS spend,
           o.n_orders IS NOT NULL                  AS has_orders
    FROM customer c
    LEFT JOIN (
      SELECT o_custkey, count(*) AS n_orders, sum(o_totalprice) AS spend
      FROM orders GROUP BY o_custkey
    ) o ON o.o_custkey = c.c_custkey
    """,
)
def q43_outer_join_directions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outer-join direction surface: expressed as a RIGHT OUTER join
    (aggregated orders right-joined to customer — every customer
    survives, orderless ones null-filled) and oracle-checked against
    the equivalent LEFT JOIN formulation — witnessing both directions
    mean the same thing with sides swapped.  Orders aggregate BEFORE
    the join (shuffle carries #customers rows, q40's rule); customer is
    the broadcast candidate at real scale only if the dimension is
    small — here both sides shuffle on the key."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), F.sum("o_totalprice").alias("spend"))
    )
    j = o.join(c, o.o_custkey == c.c_custkey, "right_outer")
    return j.select(
        "c_custkey",
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.round(F.coalesce("spend", F.lit(0.0)), 4).alias("spend"),
        F.col("n_orders").isNotNull().alias("has_orders"),
    )


@query(
    "q44_cross_join_matrix",
    oracle="""
    WITH r AS (
      SELECT n_regionkey, round(sum(o_totalprice), 4) AS spend
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation   ON c_nationkey = n_nationkey
      GROUP BY n_regionkey
    )
    SELECT a.n_regionkey AS region_a, b.n_regionkey AS region_b,
           round(a.spend / b.spend, 6) AS spend_ratio
    FROM r a CROSS JOIN r b
    """,
)
def q44_cross_join_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join — the all-pairs comparison matrix over a
    SMALL aggregated frame (5 regions → 25 rows).  The scale rule a
    cross join must obey: aggregate down to a bounded frame FIRST, then
    cartesian only the reduced sides (Spark plans a broadcast
    nested-loop over the tiny inputs); a cross join over raw fact
    tables is the one shape nothing can save."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("n_regionkey")
        .agg(F.round(F.sum("o_totalprice"), 4).alias("spend"))
    )
    a = r.select(F.col("n_regionkey").alias("region_a"), F.col("spend").alias("sa"))
    b = r.select(F.col("n_regionkey").alias("region_b"), F.col("spend").alias("sb"))
    return a.crossJoin(b).select(
        "region_a", "region_b", F.round(F.col("sa") / F.col("sb"), 6).alias("spend_ratio")
    )


@query(
    "q45_from_json_struct",
    oracle="""
    SELECT event_type,
           CAST(count(*) FILTER (WHERE json_valid(props)
                AND json_extract_string(props, '$.k') IS NOT NULL) AS BIGINT)
                                                                  AS n_parsed,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INT) // 10) AS BIGINT)
                                                                  AS sum_k_decile
    FROM events
    GROUP BY event_type
    """,
)
def q45_from_json_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-declared JSON parsing: ``from_json(props, 'k INT')``
    yields a typed struct column (vs q19's path-extraction
    get_json_object) — the declared-schema form is what survives at
    100 TB because the parse happens once per row into Tungsten format,
    and malformed rows turn into nulls instead of job failures
    (PERMISSIVE mode), which the n_parsed counter witnesses."""
    events = _t(spark, sf_dir, "events")
    parsed = events.select(
        "event_type", F.from_json("props", "k INT").alias("p")
    )
    return parsed.groupBy("event_type").agg(
        F.count(F.col("p.k")).alias("n_parsed"),
        F.sum(F.floor(F.col("p.k") / 10)).cast("bigint").alias("sum_k_decile"),
    )


@query(
    "q46_brand_supplier_stats",
    oracle="""
    SELECT p_brand, p_type,
           CAST(count(DISTINCT l_suppkey) AS BIGINT)  AS n_suppliers,
           CAST(count(*) AS BIGINT)                   AS n_lines,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_size BETWEEN 5 AND 25
      AND p_type NOT LIKE '%ECONOMY%'
      AND p_brand <> 'Brand#1'
    GROUP BY p_brand, p_type
    """,
)
def q46_brand_supplier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: supplier/revenue stats per part brand+type with
    BETWEEN / NOT LIKE / <> dimension filters.  The part filters are
    applied BEFORE the join and the filtered dimension broadcasts, so
    the fact table never shuffles for the join — only the final
    group-by exchanges; count(DISTINCT) runs as Spark's two-phase
    distinct-aggregate expansion."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(
        F.col("p_size").between(5, 25)
        & ~F.col("p_type").like("%ECONOMY%")
        & (F.col("p_brand") != "Brand#1")
    )
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    return j.groupBy("p_brand", "p_type").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
            "revenue"
        ),
    )


@query(
    "q47_python_udtf",
    oracle="""
    WITH toks AS (
      SELECT doc_id, lang,
             list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS t
      FROM documents
    ), pos AS (
      SELECT lang, CAST(i - 1 AS INT) AS pos, t[i] AS term
      FROM toks, LATERAL (SELECT unnest(range(1, len(t) + 1)) AS i)
      WHERE i <= 8
    )
    SELECT lang, pos,
           CAST(count(*) AS BIGINT)              AS n_terms,
           CAST(count(DISTINCT term) AS BIGINT)  AS n_distinct
    FROM pos
    GROUP BY lang, pos
    """,
)
def q47_python_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (one row in → many rows out through a
    user-defined TABLE function, the general form of the reference's
    Mapper O1): a tokenizer UDTF applied per document via SQL LATERAL,
    emitting (pos, term) rows.  UDTFs are the slow general path — the
    equivalent explode() is preferred when expressible (p02) — but the
    API must exist for true table-generating logic; the oracle is the
    LATERAL-unnest equivalent."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, term string")
    class TokenizeHead:
        def eval(self, text: str):
            for i, t in enumerate(text.split()[:8]):
                yield i, t

    spark.udtf.register("tokenize_head", TokenizeHead)
    docs = _t(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("__docs_udtf")
    return spark.sql(
        """
        SELECT lang, pos,
               count(*)            AS n_terms,
               count(DISTINCT term) AS n_distinct
        FROM __docs_udtf, LATERAL tokenize_head(text)
        GROUP BY lang, pos
        """
    ).select(
        "lang", "pos",
        F.col("n_terms").cast("bigint").alias("n_terms"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
    )


@query(
    "q48_large_volume_orders",
    oracle="""
    SELECT c_name, c_custkey, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS order_date,
           round(o_totalprice, 4) AS total_price,
           round(sum(l_quantity), 4) AS sum_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
    )
    GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
    """,
)
def q48_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds a threshold,
    joined back to customer detail.  The IN-subquery is a left-semi join
    against a pre-aggregated key set: the HAVING agg shuffles lineitem
    on l_orderkey ONCE, the surviving keys (≪ orders) semi-join the
    fact, and the final per-order agg reuses the same key — Catalyst
    plans the semi-join build side from the filtered agg, so the big
    table is never scanned twice unfiltered."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("__q"))
        .filter(F.col("__q") > 300)
        .select("l_orderkey")
    )
    j = (
        li.join(big, "l_orderkey", "left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
    )
    return (
        j.groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 4).alias("sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date"),
            F.round("o_totalprice", 4).alias("total_price"),
            "sum_qty",
        )
    )


@query(
    "q49_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 4) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def q49_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier by quarterly revenue, ties kept):
    the "view + scalar-max subquery" is lowered to one agg over the
    date-pruned fact plus a single-row max re-agg broadcast back over
    the supplier revenues — no global sort, no single-partition window.
    Revenue is rounded BEFORE the max-compare on both sides so the
    tie-equality is exact despite float summation order."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "total_revenue"
            )
        )
    )
    best = rev.agg(F.max("total_revenue").alias("__best"))
    return (
        rev.join(F.broadcast(best), rev.total_revenue == best.__best)
        .join(F.broadcast(sup), rev.supplier_no == sup.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "q50_customer_order_distribution",
    oracle="""
    SELECT n_orders, CAST(count(*) AS BIGINT) AS n_customers
    FROM (
      SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS n_orders
      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      GROUP BY c_custkey
    )
    GROUP BY n_orders
    """,
)
def q50_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: the order-count histogram over ALL customers —
    the left outer join keeps zero-order customers (count(o_orderkey)
    counts non-null only, so they land in bucket 0).  Two aggregations,
    each reduced before it shuffles: orders pre-aggregates per customer
    and the histogram input is #customers, not #orders."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_outer")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


@query(
    "q51_dormant_rich_customers",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT)   AS n_customers,
           round(sum(c_acctbal), 4)   AS total_balance
    FROM customer c
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_mktsegment
    """,
)
def q51_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no orders
    since 2000 (dormant).  The scalar avg subquery is a one-row
    broadcast cross join (never a per-row recompute); NOT EXISTS lowers
    to a left-anti join whose build side is date-filtered BEFORE the
    join — the date predicate reaches the orders parquet scan."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    )
    avg_bal = cust.filter(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("__avg_bal")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("__avg_bal"))
        .join(orders.select("o_custkey"), cust.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 4).alias("total_balance"),
        )
    )


@query(
    "q52_latest_event_per_user",
    oracle="""
    SELECT user_id,
           event_id AS last_event_id,
           event_type AS last_type,
           CAST(floor(epoch(ts)) AS BIGINT) AS last_epoch,
           round(value, 4) AS last_value
    FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q52_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-record-per-key compaction (the changelog→snapshot batch
    shape, batch twin of the st03/latest_per_user streaming state):
    one window shuffle on the key, deterministic tiebreak on event_id.
    At 100 TB this is the daily CDC compaction job — the window spec
    keeps partial ordering per key only, never a global sort."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_type"),
            F.unix_timestamp("ts").alias("last_epoch"),
            F.round("value", 4).alias("last_value"),
        )
    )


@query(
    "q53_kll_quantile_contract",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 4) AS exact_p50,
           round(quantile_cont(value, 0.9), 4) AS exact_p90,
           TRUE AS p50_within_rank_5pct,
           TRUE AS p90_within_rank_5pct
    FROM events
    GROUP BY event_type
    """,
)
def q53_kll_quantile_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KLL quantile sketch (DataSketches, Spark 4) with its accuracy
    contract as the oracle-checked value: the mergeable single-pass
    sketch is THE 100 TB percentile path (bounded memory per group,
    partial+final merge), so the declared result is the exact quantile
    plus booleans pinning the sketch's p50/p90 between the exact 45-55
    / 85-95 rank bounds.  Complements q41 (approx_percentile digest) —
    KLL sketches can additionally be stored and merged across runs."""
    ev = _t(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.expr("percentile(value, array(0.45, 0.50, 0.55, 0.85, 0.90, 0.95))").alias("ex"),
        F.kll_sketch_agg_double("value").alias("sk"),
    )
    p50 = F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.5))
    p90 = F.kll_sketch_get_quantile_double(F.col("sk"), F.lit(0.9))
    return agg.select(
        "event_type",
        F.round(F.col("ex")[1], 4).alias("exact_p50"),
        F.round(F.col("ex")[4], 4).alias("exact_p90"),
        ((p50 >= F.col("ex")[0]) & (p50 <= F.col("ex")[2])).alias("p50_within_rank_5pct"),
        ((p90 >= F.col("ex")[3]) & (p90 <= F.col("ex")[5])).alias("p90_within_rank_5pct"),
    )


@query(
    "q54_theta_sketch_set_ops",
    oracle="""
    WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
         p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    SELECT CAST((SELECT count(*) FROM c) AS BIGINT) AS exact_clickers,
           CAST((SELECT count(*) FROM p) AS BIGINT) AS exact_purchasers,
           CAST((SELECT count(*) FROM (SELECT * FROM c UNION SELECT * FROM p)) AS BIGINT)
               AS exact_either,
           CAST((SELECT count(*) FROM (SELECT * FROM c INTERSECT SELECT * FROM p)) AS BIGINT)
               AS exact_both,
           TRUE AS union_within_5pct,
           TRUE AS intersect_within_5pct
    """,
)
def q54_theta_sketch_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta sketches (DataSketches, Spark 4): mergeable distinct-count
    sketches that support UNION and INTERSECTION — the audience-overlap
    computation (clickers ∩ purchasers) that exact distinct cannot do
    incrementally at 100 TB (you cannot intersect two HLLs).  Declared
    result: exact set sizes + booleans pinning both sketch estimates
    within 5% of exact."""
    ev = _t(spark, sf_dir, "events")
    sk = ev.agg(
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "click", F.col("user_id"))
        ).alias("sk_c"),
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("sk_p"),
        F.countDistinct(
            F.when(F.col("event_type") == "click", F.col("user_id"))
        ).alias("exact_clickers"),
        F.countDistinct(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("exact_purchasers"),
    )
    est_u = F.theta_sketch_estimate(F.theta_union(F.col("sk_c"), F.col("sk_p")))
    est_i = F.theta_sketch_estimate(F.theta_intersection(F.col("sk_c"), F.col("sk_p")))
    exact = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id")
        .agg(F.collect_set("event_type").alias("ts"))
        .agg(
            F.count(F.lit(1)).alias("exact_either"),
            F.sum(F.when(F.size("ts") == 2, 1).otherwise(0))
            .cast("bigint")
            .alias("exact_both"),
        )
    )
    return sk.crossJoin(F.broadcast(exact)).select(
        F.col("exact_clickers").cast("bigint").alias("exact_clickers"),
        F.col("exact_purchasers").cast("bigint").alias("exact_purchasers"),
        "exact_either",
        "exact_both",
        (F.abs(est_u - F.col("exact_either")) <= 0.05 * F.col("exact_either")).alias(
            "union_within_5pct"
        ),
        (F.abs(est_i - F.col("exact_both")) <= 0.05 * F.col("exact_both")).alias(
            "intersect_within_5pct"
        ),
    )


@query(
    "q55_variant_json",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(count(DISTINCT CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
             AS distinct_k
    FROM events
    GROUP BY event_type
    """,
)
def q55_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VariantType (Spark 4's native semi-structured path): props is
    parsed ONCE into a binary variant and fields are extracted with
    variant_get — at 100 TB the parse cost is paid once per row, not
    once per extracted path as with repeated get_json_object, and
    variant columns stored in parquet keep shredded-column pushdown.
    Oracle is the plain JSON-string extraction."""
    events = _t(spark, sf_dir, "events")
    v = events.select(
        "event_type", F.parse_json("props").alias("pv")
    )
    k = F.variant_get(F.col("pv"), "$.k", "bigint")
    return v.select("event_type", k.alias("k")).groupBy("event_type").agg(
        F.sum("k").alias("sum_k"),
        F.countDistinct("k").alias("distinct_k"),
    )


@query(
    "q56_python_datasource",
    oracle="""
    SELECT 'b' || CAST(i % 10 AS VARCHAR) AS bucket,
           CAST(count(*) AS BIGINT)  AS n_rows,
           CAST(sum(i * i) AS BIGINT) AS sum_sq
    FROM range(0, 2000) t(i)
    GROUP BY 1
    """,
)
def q56_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 DataSource API — the
    user-visible analog of the reference's pluggable MonadStore
    backends, src/Core/Store.hs:41-119): a registered ``seqgen`` format
    with declared schema and partition planning (8 InputPartitions →
    parallel scan), aggregated like any other table.  The oracle
    recomputes the deterministic generator in SQL."""
    from mapreducehs_spark.sources import pydatasource

    pydatasource.register(spark)
    df = spark.read.format("seqgen").option("n", 2000).option("parts", 8).load()
    return df.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("id_sq").cast("bigint").alias("sum_sq"),
    )


@query(
    "q57_merge_upsert",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey,
           CASE WHEN c_custkey % 10 = 0 THEN round(c_acctbal + 1000, 4)
                ELSE round(c_acctbal, 4) END AS c_acctbal,
           c_mktsegment
    FROM customer
    WHERE c_custkey % 97 != 0
    UNION ALL
    SELECT c_custkey + 1000000 AS c_custkey,
           'new_' || CAST(c_custkey AS VARCHAR) AS c_name,
           c_nationkey,
           100.0 AS c_acctbal,
           'NEW' AS c_mktsegment
    FROM customer
    WHERE c_custkey % 13 = 0
    """,
)
def q57_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO semantics on plain parquet (operators/merge.py): a
    deterministic CDC batch — balance updates for custkey%10, tombstone
    deletes for custkey%97, inserts under new keys for custkey%13 —
    applied in ONE key-shuffled window pass; the oracle states the
    expected final table directly.  The reference-parity reading: this
    is a Reducer picking the highest-priority row per key over the
    tagged union (src/Core/MapReduceC.hs:26)."""
    from mapreducehs_spark.operators.merge import merge_upsert

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", F.round("c_acctbal", 4).alias("c_acctbal"),
        "c_mktsegment",
    )
    upd = cust.filter((F.col("c_custkey") % 10 == 0) & (F.col("c_custkey") % 97 != 0)).select(
        "c_custkey", "c_name", "c_nationkey",
        F.round(F.col("c_acctbal") + 1000, 4).alias("c_acctbal"),
        "c_mktsegment", F.lit(False).alias("is_delete"),
    )
    dels = cust.filter(F.col("c_custkey") % 97 == 0).withColumn(
        "is_delete", F.lit(True)
    )
    ins = cust.filter(F.col("c_custkey") % 13 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.concat(F.lit("new_"), F.col("c_custkey").cast("string")).alias("c_name"),
        "c_nationkey",
        F.lit(100.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
        F.lit(False).alias("is_delete"),
    )
    updates = upd.unionByName(dels).unionByName(ins)
    return merge_upsert(cust, updates, keys=["c_custkey"], delete_col="is_delete")


@query(
    "q58_multi_resolution_rollup",
    oracle="""
    WITH b AS (
      SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT)   AS hour_b,
             CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS day_b,
             event_type, value
      FROM events
    )
    SELECT CASE WHEN hour_b IS NOT NULL THEN 'hour' ELSE 'day' END AS resolution,
           coalesce(hour_b, day_b) AS bucket_epoch,
           event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4)     AS sum_value
    FROM b
    GROUP BY GROUPING SETS ((hour_b, event_type), (day_b, event_type))
    """,
)
def q58_multi_resolution_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hourly AND daily rollups
    of the event stream computed in ONE pass — grouping sets over
    pre-truncated time buckets (Spark's Expand emits each row once per
    resolution map-side, then partial-aggregates, so the fact is
    scanned once, not once per resolution).  At 100 TB this is the
    downsampling job that materializes every dashboard granularity in a
    single shuffle."""
    ev = _t(spark, sf_dir, "events")
    b = ev.select(
        (F.floor(F.unix_timestamp("ts") / 3600) * 3600).alias("hour_b"),
        (F.floor(F.unix_timestamp("ts") / 86400) * 86400).alias("day_b"),
        "event_type",
        "value",
    )
    agg = b.groupingSets(
        [["hour_b", "event_type"], ["day_b", "event_type"]],
        "hour_b", "day_b", "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("sum_value"),
    )
    return agg.select(
        F.when(F.col("hour_b").isNotNull(), F.lit("hour"))
        .otherwise(F.lit("day"))
        .alias("resolution"),
        F.coalesce("hour_b", "day_b").alias("bucket_epoch"),
        "event_type",
        "n_events",
        "sum_value",
    )


@query(
    "q59_nation_pair_volume",
    oracle="""
    SELECT ns.n_name AS supp_nation,
           nc.n_name AS cust_nation,
           CAST(year(l_shipdate) AS INT) AS ship_year,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation nc ON nc.n_nationkey = c_nationkey
    JOIN nation ns ON ns.n_nationkey = s_nationkey
    WHERE ns.n_name <> nc.n_name
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1, 2, 3
    """,
)
def q59_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: cross-border shipping volume per (supplier
    nation, customer nation, year).  Six-table join: the true dims
    (customer, supplier, both nation aliases) get broadcast hints; the
    lineitem⋈orders edge is fact-to-fact, so it carries NO hint — the
    planner picks broadcast at test SF and a key shuffle at 100 TB
    (hard-hinting it would OOM a real cluster).  The self-aliased
    nation table witnesses alias handling in join graphs."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    nc = nation.select(F.col("n_nationkey").alias("nc_key"), F.col("n_name").alias("cust_nation"))
    ns = nation.select(F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation"))
    j = (
        li.join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(cust.select("c_custkey", "c_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(supp.select("s_suppkey", "s_nationkey")), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(nc), F.col("c_nationkey") == F.col("nc_key"))
        .join(F.broadcast(ns), F.col("s_nationkey") == F.col("ns_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return j.groupBy(
        "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("ship_year")
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue")
    )


@query(
    "q60_market_share",
    oracle="""
    SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
           round(sum(CASE WHEN ns.n_name = 'NATION_3'
                          THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
                 / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ns ON ns.n_nationkey = s_nationkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY 1
    """,
)
def q60_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's revenue share per year — the
    conditional-aggregate-over-join idiom (numerator and denominator in
    ONE aggregation pass, no second scan and no self-join)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    j = li.join(F.broadcast(supp.select("s_suppkey", "s_nationkey")), li.l_suppkey == F.col("s_suppkey")).join(
        F.broadcast(nation.select("n_nationkey", "n_name")), F.col("s_nationkey") == F.col("n_nationkey")
    )
    return j.groupBy(F.year("l_shipdate").cast("int").alias("ship_year")).agg(
        F.round(
            F.sum(F.when(F.col("n_name") == "NATION_3", rev).otherwise(0.0)) / F.sum(rev),
            6,
        ).alias("mkt_share")
    )


