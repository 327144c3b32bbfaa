"""Relational extension queries q61–q121."""

from __future__ import annotations

import pandas as pd  # noqa: F401 — needed to resolve postponed pd.Series hints in pandas UDFs

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducehs_spark.operators import text
from mapreducehs_spark.operators import sampling as _sampling
from mapreducehs_spark.operators.iteration import Materialization, materialize
from mapreducehs_spark.session import scoped_confs

from mapreducehs_spark.queries._registry import query
from mapreducehs_spark.queries._shared import (
    _Q115_FUNNEL_ORACLE,
    _t,
)

@query(
    "q61_small_quantity_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#2'
      AND l_quantity < (
        SELECT 0.2 * avg(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey
      )
    """,
)
def q61_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from below-one-fifth-of-average-quantity
    orders.  The correlated per-part average is decorrelated into ONE
    groupBy(l_partkey) aggregate joined back to the (brand-filtered)
    fact — the agg input is restricted by a semi join on the filtered
    part keys first, so the per-part averages are only computed for
    parts that can match (at 100 TB that's the difference between
    aggregating 2% and 100% of the fact)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2").select("p_partkey")
    li_b = li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left_semi")
    avgs = li_b.groupBy(F.col("l_partkey").alias("avg_key")).agg(
        (F.avg("l_quantity") * 0.2).alias("qty_cut")
    )
    return (
        li_b.join(avgs, li_b.l_partkey == F.col("avg_key"))
        .filter(F.col("l_quantity") < F.col("qty_cut"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"))
    )


@query(
    "q62_unshipped_orders",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           CAST(epoch(o_orderdate) AS BIGINT) AS order_epoch,
           o_orderpriority
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-06-01'
      AND l_shipdate  > TIMESTAMP '1997-06-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q62_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 highest-revenue orders not yet shipped at a
    cutoff date.  Both fact filters reach their parquet scans; customer
    (segment-filtered) broadcasts into orders, whose surviving keys then
    hash-join lineitem.  The final top-10 is a TakeOrderedAndProject —
    per-partition heaps, only 10 rows per task to the driver — not a
    global sort (revenue is rounded before ordering so the Spark and
    oracle heaps agree at rank boundaries; l_orderkey breaks ties)."""
    cutoff = F.lit("1997-06-01").cast("timestamp")
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    j = orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey).join(
        li, F.col("o_orderkey") == li.l_orderkey
    )
    return (
        j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.unix_timestamp("o_orderdate").alias("order_epoch"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@query(
    "q63_late_shipment_priority",
    oracle="""
    SELECT l_returnflag,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
             AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT)
             AS low_line_count
    FROM lineitem
    JOIN orders ON o_orderkey = l_orderkey
    WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
    GROUP BY l_returnflag
    """,
)
def q63_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipmode column absent; lateness is derived):
    lines shipped >60 days after order date, split into high/low priority
    counts per return flag.  The lateness predicate references both join
    sides so it cannot be pushed below the join — it evaluates as the
    join's post-condition; the two CASE sums are one aggregation pass."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate", "l_returnflag")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .filter(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q64_disjunctive_brand_revenue",
    oracle="""
    SELECT round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
                 / 10000.0, 4) AS revenue
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 40)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 60)
    """,
)
def q64_disjunctive_brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR of per-brand conjunctive
    predicates spanning both join sides.  Catalyst's CNF-based
    PushExtraPredicateThroughJoin derives the single-side residues — a
    brand/size disjunction onto the part scan and a quantity disjunction
    onto the lineitem scan — so both scans shrink before the broadcast
    join even though the full predicate must re-evaluate above it."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 20))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(10, 30) & F.col("l_quantity").between(10, 40))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(20, 50) & F.col("l_quantity").between(20, 60))
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .filter(cond)
        # single global fold over ~1/3 of lineitem: exact 1e-4-unit
        # integer sum, order-free at any scale (q01's sf1 lesson)
        .agg(
            F.round(
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("bigint")
                    * (100 - F.round(F.col("l_discount") * 100).cast("bigint"))
                )
                / 10000.0,
                4,
            ).alias("revenue")
        )
    )


@query(
    "q65_lone_late_supplier",
    oracle="""
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM lineitem l1
    JOIN orders   ON o_orderkey = l1.l_orderkey
    JOIN supplier ON s_suppkey = l1.l_suppkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def q65_lone_late_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (lateness derived from ship-vs-order date):
    suppliers who alone shipped late on a finished multi-supplier order.
    The textbook form is two correlated EXISTS self-joins on the fact;
    here both collapse into ONE per-order aggregate that also carries
    the answer: distinct-supplier count, distinct-LATE-supplier count,
    the late supplier's identity (max over a one-element set), and that
    supplier's late-line count.  Orders with >1 supplier and exactly
    one late supplier contribute their late-line count to that
    supplier.  ONE fact scan, ONE order-key aggregation, no
    re-join of the fact and no O(lines²) correlated probe — the
    textbook form needs three fact scans."""
    orders = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    annotated = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey",
        "l_suppkey",
        (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")).alias("is_late"),
    )
    per_order = annotated.groupBy("l_orderkey").agg(
        F.count_distinct("l_suppkey").alias("n_supp"),
        F.count_distinct(F.when(F.col("is_late"), F.col("l_suppkey"))).alias("n_late_supp"),
        F.max(F.when(F.col("is_late"), F.col("l_suppkey"))).alias("late_supp"),
        F.sum(F.when(F.col("is_late"), 1).otherwise(0)).alias("n_late_lines"),
    )
    lone = per_order.filter((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    supp = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        lone.groupBy("late_supp")
        .agg(F.sum("n_late_lines").alias("numwait"))
        .join(F.broadcast(supp), F.col("late_supp") == F.col("s_suppkey"))
        .select("s_name", F.col("numwait").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@query(
    "q66_returned_item_customers",
    oracle="""
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
           round(c_acctbal, 4) AS c_acctbal,
           n_name
    FROM lineitem
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    JOIN nation   ON n_nationkey = c_nationkey
    WHERE l_returnflag = 'R'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q66_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in a
    quarter.  Wide grouping key (4 customer/nation columns) — the
    grouping happens on c_custkey alone as far as cardinality is
    concerned, the other columns are functionally dependent and ride
    along; nation broadcasts under customer, customer under the
    date-pruned orders→lineitem join.  Top-20 via TakeOrderedAndProject
    on rounded revenue with custkey tiebreak."""
    cutlo, cuthi = F.lit("1997-01-01").cast("timestamp"), F.lit("1997-04-01").cast("timestamp")
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= cutlo) & (F.col("o_orderdate") < cuthi)
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    nation = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
    )
    return (
        j.groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", F.round("c_acctbal", 4).alias("c_acctbal"), "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "q67_mixture_resample",
    oracle="""
    WITH w AS (
      SELECT source, count(*) AS cnt,
             CASE WHEN source IN ('src0','src1','src2','src3','src4')
                  THEN 2.0 ELSE 1.0 END AS wt
      FROM documents GROUP BY 1
    ), tot AS (
      SELECT sum(cnt) AS total, sum(wt) AS sum_w FROM w
    ), thr AS (
      SELECT source, cnt,
             printf('%08x',
                    CAST(least(floor(least(1.0,
                           (0.5 * total * wt / sum_w) / cnt) * 4294967296.0),
                         4294967295.0) AS BIGINT)) AS thr
      FROM w, tot
    )
    SELECT d.source,
           CAST(any_value(t.cnt) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT)         AS n_kept
    FROM documents d
    JOIN thr t USING (source)
    WHERE substr(md5(d.text), 1, 8) < t.thr
    GROUP BY d.source
    """,
)
def q67_mixture_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing resample: keep ~50% of the corpus with sources
    src0-src4 weighted 2x the rest (operators/sampling.mixture_resample).
    Per-source rates are computed FROM the data (counts agg, key-only
    shuffle), turned into 32-bit hex thresholds, and broadcast back onto
    the scan — the sampling itself is a pure per-row md5 predicate, so
    the 100 TB corpus is never shuffled and the draw is reproducible
    across engines (the oracle recomputes the identical thresholds in
    SQL)."""
    docs = _t(spark, sf_dir, "documents")
    kept = _sampling.mixture_resample(
        docs,
        weights={f"src{i}": 2.0 for i in range(5)},
        target_fraction=0.5,
    )
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        kept.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
        .join(F.broadcast(counts), "source")
        .select("source", "n_docs", "n_kept")
    )


@query(
    "q68_grouped_agg_udf",
    oracle="""
    SELECT o_orderpriority,
           round(exp(avg(ln(o_totalprice))), 4) AS geo_mean_price,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q68_grouped_agg_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via a GROUPED_AGG pandas UDF: per-priority geometric
    mean of order value.  Unlike built-in aggregates a grouped-agg UDF
    gets the whole group's values as one Arrow series — no partial
    aggregation, the shuffle carries raw rows.  That is the documented
    trade-off (SCALE.md "grouped-map materializes whole groups"); the
    declarative identity exp(avg(ln(x))) is what you ship at 100 TB,
    and the oracle checks the UDF against exactly that identity."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def geo_mean(v: pd.Series) -> float:
        import numpy as np

        return float(np.exp(np.log(v.to_numpy()).mean()))

    @pandas_udf("long")
    def n_rows(v: pd.Series) -> int:
        return int(len(v))

    orders = _t(spark, sf_dir, "orders")
    # a grouped-agg pandas UDF cannot mix with JVM aggregates in one
    # agg() (INVALID_PANDAS_UDF_PLACEMENT) — so the count is a UDF too
    return orders.groupBy("o_orderpriority").agg(
        F.round(geo_mean("o_totalprice"), 4).alias("geo_mean_price"),
        n_rows("o_totalprice").alias("n_orders"),
    )


@query(
    "q69_event_funnel",
    oracle="""
    WITH tv AS (
      SELECT user_id, min(ts) AS t_view
      FROM events WHERE event_type = 'view' GROUP BY 1
    ), tc AS (
      SELECT e.user_id, min(e.ts) AS t_click
      FROM events e JOIN tv USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > tv.t_view
        AND e.ts <= tv.t_view + INTERVAL 4 HOUR
      GROUP BY 1
    ), tp AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN tc USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > tc.t_click
        AND e.ts <= tc.t_click + INTERVAL 4 HOUR
      GROUP BY 1
    )
    SELECT (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events) AS users_total,
           (SELECT CAST(count(*) AS BIGINT) FROM tv) AS reached_view,
           (SELECT CAST(count(*) AS BIGINT) FROM tc) AS reached_click,
           (SELECT CAST(count(*) AS BIGINT) FROM tp) AS reached_purchase
    """,
)
def q69_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event funnel (view → click-after-view →
    purchase-after-click, each step converting within 4 hours), the
    product-analytics / MATCH_RECOGNIZE-lite idiom.  The oracle's three dependent aggregation-joins collapse into
    THREE window stages over ONE user_id partitioning — a single
    shuffle: each stage's conditional min can reference the previous
    stage's column because they share the exchange (the q36 pattern),
    and the trailing per-user rollup reuses the same partitioning.
    Emits stage counts only (no raw event timestamps cross the
    engine boundary)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    w = Window.partitionBy("user_id")
    s = (
        ev.withColumn(
            "t_view", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
        )
        .withColumn(
            "t_click",
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("ts") > F.col("t_view"))
                    & (F.col("ts") <= F.col("t_view") + F.expr("INTERVAL 4 HOURS")),
                    F.col("ts"),
                )
            ).over(w),
        )
        .withColumn(
            "t_purchase",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("t_click"))
                    & (F.col("ts") <= F.col("t_click") + F.expr("INTERVAL 4 HOURS")),
                    F.col("ts"),
                )
            ).over(w),
        )
    )
    per_user = s.groupBy("user_id").agg(
        F.max("t_view").alias("t_view"),
        F.max("t_click").alias("t_click"),
        F.max("t_purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("users_total"),
        F.count("t_view").alias("reached_view"),
        F.count("t_click").alias("reached_click"),
        F.count("t_purchase").alias("reached_purchase"),
    )


# =========================================================================
# Round 3: range/band joins, windowed dedup, mergeable sketches,
# chunk-level dedup, boilerplate mining, iterative k-means
# =========================================================================

@query(
    "q70_range_band_join",
    oracle="""
    WITH bands AS (
      SELECT CAST(i AS BIGINT) AS band_id, i * 25000.0 AS lo, (i + 1) * 25000.0 AS hi
      FROM range(0, 20) t(i)
    )
    SELECT band_id, lo,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0, 4)
             AS sum_price
    FROM orders o JOIN bands b
      ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
    GROUP BY band_id, lo
    """,
)
def q70_range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval (band) join via operators/joins.range_join: the
    interval side explodes to the buckets it overlaps, the join is a
    HASH join on bucket id + residual BETWEEN filter — never the
    quadratic broadcast-nested-loop a raw theta join plans to.  At
    100 TB the band dim is broadcast-sized, so the fact side is
    scan-shaped with zero extra shuffle before the final rollup."""
    from mapreducehs_spark.operators.joins import range_join

    orders = _t(spark, sf_dir, "orders")
    bands = (
        spark.range(0, 20)
        .select(
            F.col("id").alias("band_id"),
            (F.col("id") * 25000.0).alias("lo"),
            ((F.col("id") + 1) * 25000.0).alias("hi"),
        )
    )
    joined = range_join(
        orders.select("o_totalprice"),
        bands,
        left_point="o_totalprice",
        right_lo="lo",
        right_hi="hi",
        bucket_width=25000.0,
    ).filter(F.col("o_totalprice") < F.col("hi"))  # half-open [lo, hi)
    return joined.groupBy("band_id", "lo").agg(
        F.count(F.lit(1)).alias("n_orders"),
        # exact integer-cents sum (order-free at any scale — q01 lesson)
        F.round(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("bigint")) / 100.0, 4
        ).alias("sum_price"),
    )


@query(
    "q71_mg_heavy_hitters",
    oracle="""
    WITH toks AS (
      SELECT lang,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS term
      FROM documents
    ), cnt AS (
      SELECT lang, term, CAST(count(*) AS BIGINT) AS est
      FROM toks GROUP BY 1, 2
    ), rk AS (
      SELECT *, row_number() OVER (PARTITION BY lang ORDER BY est DESC, term ASC) AS rank
      FROM cnt
    )
    SELECT lang, term, est, CAST(rank AS BIGINT) AS rank
    FROM rk WHERE rank <= 5
    """,
)
def q71_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters per language via partition-local Misra-Gries
    sketches merged per group (operators/sketches.py) — the
    bounded-shuffle alternative to explode→groupBy→count: shuffle rows
    are O(partitions × capacity), not O(corpus tokens).  With capacity
    ≥ the corpus vocabulary the sketch is provably exact, which is what
    the oracle checks — capacity is SIZED FROM the measured vocabulary
    (one narrow distinct-count pass, a scalar to the driver) so the
    exact-regime contract holds at every scale factor instead of
    silently breaking when the vocabulary outgrows a constant (it did
    at the 10x sf1 sweep: token-salted replicas multiply vocab by 10).
    NOTE: the sizing count runs at BUILD time — merely constructing
    this frame scans the corpus once (tools/plan_audit.py lists q71 in
    its build-time-execution caveat), and capacity=vocab deliberately
    degenerates MG to exact counting with vocabulary-sized per-
    partition state: that IS the oracle-checkable regime.  Production
    fixed-capacity operation lives in the N/(c+1) error bound, pinned
    for adversarial vocabularies in unit tests."""
    from mapreducehs_spark.operators.sketches import mg_topk_per_group

    docs = _t(spark, sf_dir, "documents")
    par = spark.sparkContext.defaultParallelism
    terms = (
        docs.select("lang", text.tokens("text").alias("__toks"))
        .repartition(par)
        .select("lang", F.explode_outer("__toks").alias("term"))
        .filter(F.col("term").isNotNull())
    )
    vocab = terms.select("term").distinct().count()  # scalar to the driver
    return mg_topk_per_group(
        terms, group_col="lang", term_col="term", capacity=max(64, vocab)
    )


@query(
    "q72_window_dedup",
    oracle="""
    WITH keyed AS (
      SELECT event_type, user_id,
             CAST(floor(epoch(ts)) AS BIGINT) // 600 AS win,
             row_number() OVER (
               PARTITION BY user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) // 600
               ORDER BY ts ASC, event_id ASC
             ) AS rn
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_raw,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM keyed
    GROUP BY event_type
    """,
)
def q72_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed deduplication — keep the first event per (user, type)
    within each 10-minute tumbling window; the batch twin of Structured
    Streaming's dropDuplicatesWithinWatermark (st04 is the stream side).
    ONE shuffle on the dedup key (user, type, window) shared by the
    row_number and nothing else; the per-type rollup is a second
    key-only exchange of survivors.  At 100 TB the window term bounds
    dedup state: identical keys more than a window apart never meet."""
    ev = _t(spark, sf_dir, "events")
    win = (F.col("ts").cast("long") / F.lit(600)).cast("long") - (
        ((F.col("ts").cast("long") % 600) < 0).cast("long")
    )  # floor-div toward -inf matches DuckDB's // on the positive epochs here
    w = Window.partitionBy("user_id", "event_type", "win").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    keyed = ev.select("event_type", "user_id", "ts", "event_id", win.alias("win")).withColumn(
        "rn", F.row_number().over(w)
    )
    return keyed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_kept"),
    )


@query(
    "q73_time_range_frames",
    oracle="""
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_1h,
           round(sum(CAST(round(value * 100) AS BIGINT)) OVER w / 100.0, 4) AS sum_1h
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY ts
      RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
    )
    """,
)
def q73_time_range_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frames: per event, the rolling 1-hour count and
    value-sum for the same user — the time-decayed rolling metric
    (rate limiting, anomaly scoring) that ROWS frames cannot express
    when arrival cadence varies.  ONE shuffle on user_id; the frame is
    bounded sliding state per key (evict-left as the lower bound
    advances), identical at any scale.  RANGE frames treat equal
    timestamps as peers (all enter the frame together), which is why
    the oracle needs no tiebreak column."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    # frame sums run over integer CENTS: Spark rebuilds sliding frames
    # sequentially while DuckDB uses pairwise segment trees, and at
    # sf0.1 the differing float addition order crossed a rounding
    # boundary — integer sums are order-exact
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.round(F.sum(cents).over(w) / 100.0, 4).alias("sum_1h"),
    )


@query(
    "q74_promo_revenue_share",
    oracle="""
    SELECT round(
             100.0 * sum(CASE WHEN p_type = 'PROMO'
                              THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_share,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      AND l_shipdate < TIMESTAMP '1997-10-01'
    """,
)
def q74_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo revenue share in a one-month window.  The
    numerator/denominator ratio computes as TWO conditional sums in ONE
    scan+join pass (never two scans); the date filter pushes to the
    fact scan and the part dim broadcasts, so the only exchange is the
    single-row final aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
        )
        .join(F.broadcast(part.select("p_partkey", "p_type")), F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("promo_share"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q75_profit_by_nation_year",
    oracle="""
    SELECT n_name, CAST(year(l_shipdate) AS BIGINT) AS ship_year,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS profit,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation ON n_nationkey = s_nationkey
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand LIKE 'Brand#1%'
    GROUP BY n_name, year(l_shipdate)
    """,
)
def q75_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: per-(nation, year) profit for a brand family.
    All three dimensions broadcast; the brand LIKE filter semi-join-
    prunes the fact side through the broadcast join; ONE exchange for
    the rollup.  year() stays an expression on the pushed-down scan —
    no pre-materialized date dim needed."""
    li = _t(spark, sf_dir, "lineitem")
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    part = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(sup.select("s_suppkey", "s_nationkey")), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nat.select("n_nationkey", "n_name")), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(
            F.broadcast(part.select("p_partkey").filter(F.col("p_brand").like("Brand#1%"))),
            F.col("p_partkey") == F.col("l_partkey"),
        )
        .groupBy("n_name", F.year("l_shipdate").cast("long").alias("ship_year"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias("profit"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "q86_lateral_topn",
    oracle="""
    SELECT n.n_name, t.c_name, t.c_acctbal
    FROM nation n, LATERAL (
      SELECT c_name, round(c_acctbal, 4) AS c_acctbal
      FROM customer c
      WHERE c.c_nationkey = n.n_nationkey
      ORDER BY c.c_acctbal DESC, c_name ASC
      LIMIT 3
    ) t
    """,
)
def q86_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery through the Spark 4 DataFrame API
    (``DataFrame.lateralJoin`` + ``Column.outer()`` correlation): the
    top-3 customers by balance per nation, expressed as a per-outer-row
    ordered limit rather than a window-rank over the whole fact.
    Catalyst rewrites the correlated limit into the same
    rank-then-filter physical shape (no per-nation re-scan), so this
    pins the API surface AND its plan equivalence with q12's window
    formulation; DuckDB runs the identical LATERAL semantics."""
    nat = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    return nat.lateralJoin(
        cust.where(F.col("c_nationkey") == F.col("n_nationkey").outer())
        .orderBy(F.col("c_acctbal").desc(), F.col("c_name").asc())
        .limit(3)
        .select("c_name", F.round("c_acctbal", 4).alias("c_acctbal"))
    ).select("n_name", "c_name", "c_acctbal")


@query(
    "q87_variant_json",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(min(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS min_k,
           CAST(max(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS max_k
    FROM events
    WHERE props IS NOT NULL
    GROUP BY event_type
    """,
)
def q87_variant_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured data through the Spark 4 VARIANT type:
    ``parse_json`` once into a variant column, then typed path access
    (``try_variant_get``) — the open-schema ingestion shape that
    replaces per-query string re-parsing (q19's get_json_object) with a
    parse-once binary encoding; at 100 TB the variant column is stored
    shredded and paths prune like real columns.  DuckDB replays the
    same paths with its JSON operators."""
    ev = _t(spark, sf_dir, "events").filter(F.col("props").isNotNull())
    k = F.try_variant_get(F.parse_json("props"), "$.k", "bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@query(
    "q88_listagg_ordered",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus) AS statuses,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 4) AS revenue
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q88_listagg_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (Spark 4 ``listagg ... WITHIN GROUP``)
    — the report-friendly holistic aggregate that needs its group
    sorted before concatenation, exercised through the SQL surface.
    The WITHIN GROUP ordering makes the output deterministic (plain
    collect_list+concat is partition-order-dependent and would never
    hash-match an oracle).  DuckDB's string_agg(... ORDER BY) is the
    same semantics.  (Engine note: Spark 4.1 throws ClassCastException
    when listagg(DISTINCT) shares a grouping with a second distinct
    aggregate — the revenue column here is deliberately non-distinct.)"""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT o_orderpriority,
               count(*) AS n_orders,
               listagg(DISTINCT o_orderstatus, ',') WITHIN GROUP (ORDER BY o_orderstatus) AS statuses,
               round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 4) AS revenue
        FROM orders_v
        GROUP BY o_orderpriority
        """
    )


@query(
    "q89_deterministic_shuffle",
    oracle="""
    WITH keyed AS (
      SELECT doc_id, md5('epoch7_' || CAST(doc_id AS VARCHAR)) AS shuffle_key
      FROM documents
    ), ordered AS (
      SELECT doc_id, shuffle_key,
             row_number() OVER (ORDER BY shuffle_key, doc_id) AS pos
      FROM keyed
    )
    SELECT doc_id, CAST(pos AS BIGINT) AS pos,
           CAST((pos - 1) // 64 AS BIGINT) AS shard
    FROM ordered
    """,
)
def q89_deterministic_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-order shuffle: a seeded content-hash key
    gives every document a reproducible global position and shard — the
    export step before training (new epoch = new seed string), with the
    guarantees random() can't give: stable under re-runs, re-sharding,
    and engine changes.  Positions come from
    operators/sampling.global_positions — range-partitioned sort
    + per-partition offsets, never the single-task gather a bare
    ``row_number() OVER (ORDER BY ...)`` collapses to — and shard
    assignment is arithmetic on the position; at 100 TB the per-shard
    writer is ``partitionBy(shard)`` on this frame (which materializes
    it, exactly like the result checkpoint here).  Both engines share the
    md5 definition, so the permutation is value-checked."""
    from mapreducehs_spark.operators.sampling import global_positions

    docs = _t(spark, sf_dir, "documents")
    keyed = docs.select(
        "doc_id",
        F.md5(F.concat(F.lit("epoch7_"), F.col("doc_id").cast("string"))).alias("shuffle_key"),
    )
    with materialize(spark) as m:
        pos = global_positions(m, keyed, ["shuffle_key", "doc_id"])
        return m.result(
            pos.withColumn("shard", F.floor((F.col("pos") - 1) / 64).cast("bigint"))
            .select("doc_id", "pos", "shard")
        )


@query(
    "q90_schema_evolution_union",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_totalprice
      FROM orders WHERE o_orderdate < TIMESTAMP '1995-01-01'
    ), v2 AS (
      SELECT o_orderkey, o_totalprice, o_orderpriority
      FROM orders WHERE o_orderdate >= TIMESTAMP '1995-01-01'
    ), unioned AS (
      SELECT o_orderkey, o_totalprice, NULL AS o_orderpriority FROM v1
      UNION ALL
      SELECT o_orderkey, o_totalprice, o_orderpriority FROM v2
    )
    SELECT coalesce(o_orderpriority, '(pre-schema)') AS priority,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0, 4) AS total
    FROM unioned
    GROUP BY 1
    """,
)
def q90_schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-evolution union: an old export lacking a column merges
    with the current one via ``unionByName(allowMissingColumns=True)``
    — position-blind name matching with null back-fill, the only safe
    way to union evolving pipeline generations (positional UNION
    silently misaligns reordered columns).  At 100 TB this is the
    nightly merge of years of heterogeneous exports; the union is
    narrow (no shuffle) and the aggregate is the only exchange."""
    o = _t(spark, sf_dir, "orders")
    cutoff = F.lit("1995-01-01").cast("timestamp")
    v1 = o.filter(F.col("o_orderdate") < cutoff).select("o_orderkey", "o_totalprice")
    v2 = o.filter(F.col("o_orderdate") >= cutoff).select(
        "o_orderkey", "o_totalprice", "o_orderpriority"
    )
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    return (
        v1.unionByName(v2, allowMissingColumns=True)
        .groupBy(F.coalesce("o_orderpriority", F.lit("(pre-schema)")).alias("priority"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(cents) / 100.0, 4).alias("total"),
        )
    )


def _q76_oracle() -> str:
    """Morton-key oracle rendered from the same bit arithmetic as
    operators/layout.zorder_value (bits=8 on the bucketed keys)."""
    terms = " + ".join(
        f"(((xk >> {k}) & 1) << {2 * k}) + (((yk >> {k}) & 1) << {2 * k + 1})"
        for k in range(8)
    )
    return f"""
    WITH keyed AS (
      SELECT l_partkey % 256 AS xk, l_suppkey % 256 AS yk
      FROM lineitem
    ), z AS (
      SELECT ({terms}) AS zval FROM keyed
    )
    SELECT zval // 4096 AS z_block,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(zval) AS BIGINT) AS z_min,
           CAST(max(zval) AS BIGINT) AS z_max
    FROM z
    GROUP BY 1
    """


@query("q76_zorder_key", oracle=_q76_oracle())
def q76_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (z-order) clustering key over (l_partkey, l_suppkey) —
    the multi-column data-skipping layout (operators/layout.py): files
    sorted by this key cover small rectangles of the key space, so
    min-max pruning works for predicates on EITHER column.  The key is
    pure shift/mask JVM expressions (codegen); the query profiles the
    key-space occupancy per 4096-key block, and the oracle re-derives
    the interleave arithmetic.  The write path (zorder_write:
    repartitionByRange on the key + within-partition sort) is pinned by
    tests/test_operators.py::test_zorder_write_tightens_file_ranges."""
    from mapreducehs_spark.operators.layout import zorder_value

    li = _t(spark, sf_dir, "lineitem")
    z = zorder_value(F.col("l_partkey") % 256, F.col("l_suppkey") % 256, bits=8)
    return (
        li.select(z.alias("zval"))
        .groupBy(F.floor(F.col("zval") / 4096).cast("long").alias("z_block"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("zval").alias("z_min"),
            F.max("zval").alias("z_max"),
        )
    )


@query(
    "q77_locf_gap_fill",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
      FROM events
    ), filled AS (
      SELECT user_id, event_id,
             last_value(v IGNORE NULLS) OVER (
               PARTITION BY user_id ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS v_filled,
             v IS NULL AS was_gap
      FROM marked
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN was_gap THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
           round(sum(CAST(round(coalesce(v_filled, 0) * 100) AS BIGINT)) / 100.0, 4)
             AS sum_filled
    FROM filled
    GROUP BY user_id
    """,
)
def q77_locf_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling by last-observation-carried-forward (LOCF): error
    events null out their reading and inherit the user's previous
    value — the sensor/telemetry repair idiom.  ``last(..., ignorenulls
    =True)`` over an unbounded-preceding ROWS frame is the whole
    operator: ONE shuffle on user_id, bounded running state per key
    (the last non-null), then a per-user rollup on the same
    partitioning.  Leading gaps (no prior observation) stay null and
    are coalesced to 0 in the rollup on both engines."""
    ev = _t(spark, sf_dir, "events")
    v = F.when(F.col("event_type") != "error", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = ev.select(
        "user_id",
        v.alias("v"),
        F.last(v, ignorenulls=True).over(w).alias("v_filled"),
    )
    return filled.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).alias("n_gaps"),
        # integer-cents sum: unordered group aggregation order differs
        # between engines, and exact integer sums can't straddle a
        # rounding boundary (see q73)
        F.round(
            F.sum(F.round(F.coalesce(F.col("v_filled"), F.lit(0.0)) * 100, 0).cast("bigint"))
            / 100.0,
            4,
        ).alias("sum_filled"),
    )


@query(
    "q78_multiformat_join",
    oracle="""
    SELECT n.n_name, r.r_name,
           CAST(count(*) AS BIGINT) AS n_customers,
           round(sum(c.c_acctbal), 4) AS sum_acctbal
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    GROUP BY n.n_name, r.r_name
    """,
)
def q78_multiformat_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heterogeneous-source join: the nation dim round-trips through
    CSV and region through JSON (explicit schemas — no inference scan),
    then both join the parquet customer table.  Witnesses the
    csv/json readers inside the ORACLE-CHECKED inventory, not just unit
    tests; at 100 TB this is the common shape of sidecar dims living in
    exported flat files.  The dims are written once per source
    fingerprint as a derived fixture — trivial (25 + 5 rows); the fact
    side stays parquet with full pushdown."""
    import os

    from mapreducehs_spark.sources.catalog import (
        FIXTURE_ROOT,
        derived_fixture,
        read_any,
        write_any,
    )

    def build(tmp: str) -> None:
        write_any(_t(spark, sf_dir, "nation"), os.path.join(tmp, "nation_csv"),
                  fmt="csv", header="true")
        write_any(_t(spark, sf_dir, "region"), os.path.join(tmp, "region_json"), fmt="json")

    base = derived_fixture(
        os.path.join(FIXTURE_ROOT, "mapreducehs_fmt"), sf_dir, ("nation", "region"), build
    )
    nat2 = read_any(
        spark, os.path.join(base, "nation_csv"), fmt="csv",
        schema="n_nationkey int, n_name string, n_regionkey int", header="true",
    )
    reg2 = read_any(
        spark, os.path.join(base, "region_json"), fmt="json",
        schema="r_regionkey int, r_name string",
    )
    cust = _t(spark, sf_dir, "customer")
    return (
        cust.join(F.broadcast(nat2), nat2["n_nationkey"] == cust["c_nationkey"])
        .join(F.broadcast(reg2), reg2["r_regionkey"] == nat2["n_regionkey"])
        .groupBy("n_name", "r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 4).alias("sum_acctbal"),
        )
    )


@query(
    "q79_date_spine",
    oracle="""
    WITH bounds AS (
      SELECT CAST(min(o_orderdate) AS DATE) AS lo, CAST(max(o_orderdate) AS DATE) AS hi
      FROM orders
    ), spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d FROM bounds
    ), daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n, sum(o_totalprice) AS s
      FROM orders GROUP BY 1
    )
    SELECT strftime(spine.d, '%Y-%m-%d') AS day,
           CAST(coalesce(daily.n, 0) AS BIGINT) AS n_orders,
           round(coalesce(daily.s, 0), 4) AS revenue
    FROM spine LEFT JOIN daily ON daily.d = spine.d
    """,
)
def q79_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap fill: a dense daily calendar between the first
    and last order date, zero-filled where no orders exist — the
    reporting idiom that makes time series chartable/joinable (missing
    days are rows, not gaps).  The spine is sequence()+explode of DATE
    (generated, never scanned) and broadcast to the daily aggregate —
    the fact table is scanned once.  Day emitted as a formatted string
    (oracle discipline: no raw timestamp columns)."""
    orders = _t(spark, sf_dir, "orders")
    bounds = orders.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("d")
    )
    daily = orders.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("s")
    )
    return (
        spine.join(daily, "d", "left")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            F.coalesce("n", F.lit(0)).alias("n_orders"),
            F.round(F.coalesce("s", F.lit(0.0)), 4).alias("revenue"),
        )
    )


_Q80_SQL = """
    WITH RECURSIVE months(m) AS (
      SELECT CAST('1992-01-01' AS DATE)
      UNION ALL
      SELECT CAST(m + INTERVAL 1 MONTH AS DATE) FROM months
      WHERE m < CAST('1998-12-01' AS DATE)
    ), monthly AS (
      SELECT CAST(CAST(o_orderdate AS DATE) - (EXTRACT(DAY FROM o_orderdate) - 1) * INTERVAL 1 DAY AS DATE) AS m,
             count(*) AS n, sum(o_totalprice) AS s
      FROM orders
      GROUP BY 1
    )
    SELECT CAST(EXTRACT(YEAR FROM months.m) AS BIGINT) AS y,
           CAST(EXTRACT(MONTH FROM months.m) AS BIGINT) AS mo,
           CAST(coalesce(monthly.n, 0) AS BIGINT) AS n_orders,
           round(coalesce(monthly.s, 0), 4) AS revenue
    FROM months LEFT JOIN monthly ON monthly.m = months.m
"""


@query("q80_recursive_cte", oracle=_Q80_SQL)
def q80_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE through the SQL surface (Spark 4 recursive CTE):
    a monthly spine generated by recursion, left-joined to monthly
    revenue.  Spark and DuckDB execute the IDENTICAL SQL text — the
    strongest single parity witness in the inventory (same semantics,
    two engines, no dialect translation).  Recursion here is
    driver-bounded (84 iterations of a one-row step), which is exactly
    the shape recursive CTEs scale at — the per-iteration work, not the
    iteration count, is what grows with data, and the monthly aggregate
    is computed once outside the recursion."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_Q80_SQL)


def _events_by_date(spark: SparkSession, sf_dir: str) -> str:
    """The date-partitioned events layout q82 and q106 read: events
    written once per source fingerprint, hive-partitioned by
    ``event_date``.  Returns the fixture directory."""
    import os

    from mapreducehs_spark.sources.catalog import FIXTURE_ROOT, derived_fixture

    return derived_fixture(
        os.path.join(FIXTURE_ROOT, "mapreducehs_events_bydate"), sf_dir, ("events",),
        lambda tmp: _t(spark, sf_dir, "events")
        .withColumn("event_date", F.col("ts").cast("date"))
        .write.mode("overwrite")
        .partitionBy("event_date")
        .parquet(tmp),
    )


@query(
    "q82_partitioned_pruned_scan",
    oracle="""
    WITH lo AS (SELECT CAST(min(ts) AS DATE) AS d0 FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 4) AS sum_value
    FROM events, lo
    WHERE CAST(ts AS DATE) = d0 + 5
    GROUP BY event_type
    """,
)
def q82_partitioned_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned layout + static partition pruning, inside the
    checked inventory: events are written ONCE per sf partitioned by
    event date (the 100 TB fact layout — a daily ingest appends one
    directory), and the one-day query touches exactly one partition
    directory (PartitionFilters, zero data read elsewhere).  The
    fixture is built once per source fingerprint (``_events_by_date``);
    the day is data-relative (min date + 5) so the query is
    deterministic across scale factors."""
    ev = _t(spark, sf_dir, "events")
    base = _events_by_date(spark, sf_dir)
    d0 = ev.agg(F.min(F.col("ts").cast("date"))).collect()[0][0]
    target = d0 + __import__("datetime").timedelta(days=5)
    part = spark.read.parquet(base).filter(F.col("event_date") == F.lit(target))
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    return part.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum(cents) / 100.0, 4).alias("sum_value"),
    )


@query(
    "q83_large_large_smj",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_lines,
           round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
                 / 10000.0, 4) AS revenue
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority
    """,
)
def q83_large_large_smj(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The large×large join done deliberately: lineitem ⋈ orders with a
    MERGE hint — at 100 TB neither side broadcasts, so the correct plan
    is a sort-merge join with BOTH sides shuffled once on the join key
    (or zero shuffles when both tables are bucketed on it — the
    write_bucketed layout; plan pinned in
    test_bucketed_join_has_no_exchange).  The rollup reuses nothing:
    it keys on o_orderpriority, an unavoidable second exchange.  Plan
    shape pinned in test_q83_smj_not_broadcast."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount")
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    return (
        li.hint("merge")
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            # revenue rides as exact basis-point integers: 120k-row
            # groups drifted past the 4-decimal rounding boundary under
            # differing fold orders at sf0.1 (price and discount have 2
            # decimals each, so x10000 is exact)
            F.round(
                F.sum(
                    F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0).cast(
                        "bigint"
                    )
                )
                / 10000.0,
                4,
            ).alias("revenue"),
        )
    )


@query(
    "q84_decimal_exact_money",
    oracle="""
    SELECT o_orderpriority,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18, 2))) AS VARCHAR) AS total_exact,
           CAST(count(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q84_decimal_exact_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT-decimal money aggregation: the financial-correctness
    discipline — cast to DECIMAL(18,2) before summing, so the result is
    exact regardless of aggregation order (double sums drift in the
    last bits with partial-aggregation order; see the q73 fix).  The
    exact sum is emitted as its canonical string so the check is
    bit-for-bit, not rounded.  Spark decimals partial-aggregate fine
    (sum of DECIMAL(18,2) widens to DECIMAL(28,2)); at 100 TB this is
    the ledger-grade rollup path."""
    orders = _t(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("string").alias("total_exact"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@query(
    "q85_salted_join",
    oracle="""
    SELECT o_orderpriority,
           CAST(floor(epoch(l_shipdate)) AS BIGINT) // 86400 AS ship_day,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE l_quantity >= 45
    GROUP BY 1, 2
    """,
)
def q85_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof SALTED join inside the checked inventory: the fact
    side spreads each join key over 16 salt sub-keys and the dim side
    replicates x16 (operators/skew.salted_join) — the manual remedy for
    hot keys in the joins AQE's skew splitting can't reach
    (grouped-map consumers, shuffle-hash joins).  The oracle is the
    PLAIN join: salting must be result-invisible, which is exactly
    what's worth hash-checking about it."""
    from mapreducehs_spark.operators.skew import salted_join

    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .select("l_orderkey", "l_shipdate")
    )
    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    joined = salted_join(li, orders, "l_orderkey", "o_orderkey")
    return joined.groupBy(
        "o_orderpriority",
        (F.col("l_shipdate").cast("long") / 86400).cast("long").alias("ship_day"),
    ).agg(F.count(F.lit(1)).alias("n_lines"))


@query(
    "q91_scd2_dimension",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev_type
      FROM events
    ), flagged AS (
      SELECT *, CASE WHEN prev_type IS NULL OR prev_type != event_type THEN 1 ELSE 0 END AS chg
      FROM ordered
    ), islands AS (
      SELECT user_id, event_type, ts,
             sum(chg) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                            ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    ), grouped AS (
      SELECT user_id, event_type, island,
             min(ts) AS valid_from, count(*) AS n_events
      FROM islands GROUP BY 1, 2, 3
    ), versioned AS (
      SELECT user_id, event_type, n_events, valid_from,
             lead(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from ASC) AS valid_to
      FROM grouped
    )
    SELECT user_id, event_type,
           CAST(floor(epoch(valid_from)) AS BIGINT) AS valid_from_s,
           CAST(floor(epoch(valid_to)) AS BIGINT) AS valid_to_s,
           CAST(n_events AS BIGINT) AS n_events,
           (valid_to IS NULL) AS is_current
    FROM versioned
    """,
)
def q91_scd2_dimension(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 build from a change stream: each
    user's event_type history collapses into consecutive-constant
    versions with [valid_from, valid_to) ranges and an is_current flag
    — the warehouse dimension-maintenance primitive (gaps-and-islands +
    lead).  All three passes share ONE partitioning (user_id): Catalyst
    plans a single shuffle and runs lag → running-sum → lead inside the
    same sort, which is the property that keeps it one-pass at 100 TB.
    Ties broken by event_id; epoch-second outputs (FIXTURES.md ts
    discipline)."""
    ev = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    flagged = ev.withColumn(
        "chg",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        ).otherwise(0),
    )
    islands = flagged.withColumn(
        "island", F.sum("chg").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    grouped = islands.groupBy("user_id", "event_type", "island").agg(
        F.min("ts").alias("valid_from"), F.count(F.lit(1)).alias("n_events")
    )
    wv = Window.partitionBy("user_id").orderBy(F.col("valid_from").asc())
    versioned = grouped.withColumn("valid_to", F.lead("valid_from").over(wv))
    return versioned.select(
        "user_id",
        "event_type",
        F.floor(F.unix_timestamp("valid_from")).cast("bigint").alias("valid_from_s"),
        F.floor(F.unix_timestamp("valid_to")).cast("bigint").alias("valid_to_s"),
        F.col("n_events").cast("bigint").alias("n_events"),
        F.col("valid_to").isNull().alias("is_current"),
    )


@query(
    "q92_bloom_prune_join",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS cents
    FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
    GROUP BY l_returnflag
    """,
)
def q92_bloom_prune_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime BLOOM-FILTER pruned join: a selective dim-side predicate
    (urgent + high-value orders) feeds Spark's InjectRuntimeFilter rule,
    which builds a bloom_filter_agg over the surviving join keys and
    semi-filters the fact scan BEFORE the shuffle — the 100 TB remedy
    when the filtered dim is too big to broadcast but the fact shuffle
    would be dominated by never-matching rows.  The filter is planned
    here with the injection thresholds temporarily lowered (local data
    is under the production-sized defaults) and the physical plan
    forced while they hold; results are plan-independent and the oracle
    checks the plain join.  Plan pinned in test_q92_bloom_filter."""
    orders = (
        _t(spark, sf_dir, "orders")
        .filter((F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 150000))
        .select("o_orderkey")
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_returnflag", "l_extendedprice")
    out = (
        li.join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")).alias("cents"),
        )
    )
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with scoped_confs(spark, confs):
        # force logical optimization + physical planning NOW (both are
        # lazily cached on this Dataset), so the bloom filter is baked
        # into the plan the caller's action will execute even after the
        # session confs are restored on exit
        out._jdf.queryExecution().executedPlan()
    return out


@query(
    "q94_incremental_mv",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           CAST(count(*) AS BIGINT) AS n_orders,
           round(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) / 100.0, 4) AS total_price,
           -- exact integer micro-division: a rounded double quotient sat
           -- ON a .xxxx5 boundary at sf0.01 and the engines' round()
           -- implementations split (the verify-skill bug class #2)
           CAST((sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) * 10000)
                // count(*) AS BIGINT) AS avg_price_micents,
           round(min(o_totalprice), 2) AS min_price,
           round(max(o_totalprice), 2) AS max_price
    FROM orders
    GROUP BY 1
    """,
)
def q94_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a monthly order
    rollup maintained as MERGEABLE PARTIALS — the base partition
    (orders before 1997-07) and the delta partition (after) are
    aggregated independently, then combined by the partial-merge
    algebra (sum∘sum, min∘min, max∘max; avg derived from merged sum
    and count at the end).  The oracle is the full recompute: merged
    partials must be indistinguishable from it, which is exactly the
    combiner-correctness property the reference's associative reducer
    contract demands (reference src/Core/MapReduceC.hs reducers must
    tolerate re-grouping).  At 100 TB this is the nightly-refresh path:
    only the delta partition is scanned per refresh."""
    orders = _t(spark, sf_dir, "orders")
    cutoff = F.lit("1997-07-01").cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
        return df.groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("month")).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(cents).alias("cents"),
            F.min("o_totalprice").alias("mn"),
            F.max("o_totalprice").alias("mx"),
        )

    base = partial(orders.filter(F.col("o_orderdate") < cutoff))
    delta = partial(orders.filter(F.col("o_orderdate") >= cutoff))
    merged = (
        base.unionByName(delta)
        .groupBy("month")
        .agg(
            F.sum("n").alias("n"),
            F.sum("cents").alias("cents"),
            F.min("mn").alias("mn"),
            F.max("mx").alias("mx"),
        )
    )
    return merged.select(
        "month",
        F.col("n").cast("bigint").alias("n_orders"),
        F.round(F.col("cents") / 100.0, 4).alias("total_price"),
        # integer `div`, not a rounded double quotient: one month's avg
        # landed exactly on a .xxxx5 rounding boundary at sf0.01 and the
        # two engines' round() split — micro-cent fixed point is exact
        # under any aggregation order (the q83/q96 discipline)
        F.expr("(cents * 10000L) div n").alias("avg_price_micents"),
        F.round("mn", 2).alias("min_price"),
        F.round("mx", 2).alias("max_price"),
    )


@query(
    "q95_price_histogram",
    oracle="""
    WITH bounds AS (
      SELECT min(l_extendedprice) AS lo, max(l_extendedprice) AS hi FROM lineitem
    ), bucketed AS (
      SELECT CASE WHEN l_extendedprice >= hi THEN 20
                  ELSE CAST(floor((l_extendedprice - lo) / (hi - lo) * 20) AS INT) + 1
             END AS bucket,
             l_extendedprice, lo, hi
      FROM lineitem, bounds
    )
    SELECT CAST(bucket AS INT) AS bucket,
           round(min(lo) + (bucket - 1) * (min(hi) - min(lo)) / 20, 4) AS bucket_lo,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) / 100.0, 4) AS sum_price
    FROM bucketed
    GROUP BY bucket
    """,
)
def q95_price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width 20-bucket histogram over data-dependent bounds — the
    profiling primitive behind range-partition planning and skew
    detection.  Two passes: a min/max scan (2 scalars to the driver via
    a broadcast 1-row crossJoin — the scalar-subquery house pattern),
    then one bucketing pass + narrow count shuffle.  The bucket index
    uses the explicit floor((x-lo)/(hi-lo)*n) formula (SQL-standard
    width_bucket semantics, hi-edge folded into the top bucket) rather
    than each engine's builtin, so both engines compute bit-identical
    IEEE doubles — the same determinism trade as s08's quantizer."""
    li = _t(spark, sf_dir, "lineitem").select("l_extendedprice")
    bounds = li.agg(
        F.min("l_extendedprice").alias("lo"), F.max("l_extendedprice").alias("hi")
    )
    x = F.col("l_extendedprice")
    bucket = (
        F.when(x >= F.col("hi"), F.lit(20))
        .otherwise(
            F.floor((x - F.col("lo")) / (F.col("hi") - F.col("lo")) * 20).cast("int") + 1
        )
        .cast("int")
    )
    return (
        li.crossJoin(F.broadcast(bounds))
        .select(bucket.alias("bucket"), "l_extendedprice", "lo", "hi")
        .groupBy("bucket")
        .agg(
            F.round(F.min("lo") + (F.col("bucket") - 1) * (F.min("hi") - F.min("lo")) / 20, 4).alias(
                "bucket_lo"
            ),
            F.count(F.lit(1)).alias("n_rows"),
            F.round(
                F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")) / 100.0, 4
            ).alias("sum_price"),
        )
    )


@query(
    "q93_xml_source_join",
    oracle="""
    SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_suppliers,
           round(sum(s.s_acctbal), 4) AS sum_acctbal
    FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
    GROUP BY n.n_name
    """,
)
def q93_xml_source_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML-source dimension join: the supplier dim round-trips through
    Spark 4's built-in XML reader (explicit schema, no inference scan)
    and joins the parquet nation dim — the sidecar-export shape q78
    covers for csv/json, extended to the remaining built-in text
    format.  Written once per source fingerprint as a derived fixture
    (dim-sized, trivial); the oracle reads the original parquet, so the
    XML writer+reader round-trip itself is what's value-checked."""
    import os

    from mapreducehs_spark.sources.catalog import FIXTURE_ROOT, derived_fixture, read_any

    base = derived_fixture(
        os.path.join(FIXTURE_ROOT, "mapreducehs_xml"), sf_dir, ("supplier",),
        lambda tmp: _t(spark, sf_dir, "supplier")
        .write.format("xml")
        .option("rootTag", "suppliers")
        .option("rowTag", "supplier")
        .mode("overwrite")
        .save(tmp),
    )
    sup2 = read_any(
        spark,
        base,
        fmt="xml",
        schema="s_suppkey bigint, s_name string, s_nationkey int, s_acctbal double",
        rowTag="supplier",
    )
    nat = _t(spark, sf_dir, "nation")
    return (
        sup2.join(F.broadcast(nat), nat["n_nationkey"] == sup2["s_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 4).alias("sum_acctbal"),
        )
    )


def _q96_oracle() -> str:
    """Unrolled integer PageRank replay: micro-unit bigint ranks, each
    edge contribution (r*85) // (100*outdeg) — integer ops only, so
    partial-sum order can't drift and the whole iteration is
    engine-exact."""
    head = """
    WITH edges0 AS (
      SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), edges AS (
      SELECT src, dst FROM edges0
      UNION ALL
      SELECT dst AS src, src AS dst FROM edges0
    ), deg AS (
      SELECT src AS node, count(*) AS outdeg FROM edges GROUP BY 1
    ), n AS (
      SELECT count(*) AS n_nodes FROM deg
    ), r0 AS (
      SELECT node, outdeg, CAST(1000000000000 // n_nodes AS BIGINT) AS r
      FROM deg, n
    )"""
    body = []
    for i in range(1, 4):
        prev = f"r{i - 1}"
        body.append(f"""
    , r{i} AS (
      SELECT d.node, d.outdeg,
             CAST((SELECT 150000000000 // n_nodes FROM n)
                  + coalesce(sum((p.r * 85) // (100 * p.outdeg)), 0)
                  AS BIGINT) AS r
      FROM deg d
      LEFT JOIN edges e ON e.dst = d.node
      LEFT JOIN {prev} p ON p.node = e.src
      GROUP BY d.node, d.outdeg
    )""")
    tail = f"""
    SELECT node, CAST(node % 2 AS BIGINT) AS is_supplier, r AS rank_micro
    FROM r3
    ORDER BY r DESC, node ASC
    LIMIT 25
    """
    return head + "".join(body) + tail


def _symmetrized_trade_edges(m: Materialization, sf_dir: str) -> DataFrame:
    """Shared adjacency build for the trade-graph family (q96 PageRank,
    q108 BFS): distinct customer↔supplier pairs, symmetrized, persisted
    hash-partitioned on ``src`` so iterative joins reuse the layout.

    ONE exchange total: the raw (non-distinct) joined pairs symmetrize
    first (the orders side broadcasts — no shuffle), repartition on
    ``src``, and dedup IN PARTITION — ``HashPartitioning(src)``
    satisfies ``ClusteredDistribution(src, dst)`` (equal (src, dst)
    rows are co-located), so the dropDuplicates aggregate plans WITHOUT
    its own exchange and the output keeps the src partitioning the
    iterations need.  The previous form (distinct → symmetrize →
    repartition) paid an extra full exchange for the distinct
    (measured same-session at sf0.1: q96 median 3.02 s → 2.41 s).
    """
    o = _t(m.spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(m.spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    traded = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    return m.persist(
        traded.unionByName(traded.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .repartition("src")
        .dropDuplicates(["src", "dst"])
    )


@query("q96_pagerank", oracle=_q96_oracle())
def q96_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank — the canonical iterative MapReduce workload (the
    algorithm family the reference's multi-stage pipeline chaining
    exists for; reference src/Core/MapReduceC.hs `(:>)`) — over the
    customer↔supplier transaction graph (distinct trade pairs,
    symmetrized so every node has outdegree ≥ 1 and no dangling mass).
    Three iterations of: contribution = damped rank split over
    out-edges, shuffled BY DESTINATION (the narrow (dst, contrib)
    pairs shuffle, never the adjacency), then base + sum.

    Arithmetic is INTEGER fixed-point: micro-unit bigint ranks, each
    contribution (r*85)//(100*outdeg) — associative/commutative exact
    sums, so the iterative loop value-checks bit-for-bit against the
    unrolled oracle regardless of partial-agg order (the q83 trick
    applied to an iterative algorithm).  At 100 TB the per-iteration
    cost is one shuffle of edge-count rows keyed on dst; ranks and
    degrees stay co-partitioned on node across iterations."""
    # adjacency persisted HASH-PARTITIONED on the join key: every
    # iteration's rank⋈edges join then reuses the layout and only the
    # node-sized rank frame shuffles — without this the 2|E| frame
    # re-exchanged once per iteration (measured ~30% of the query).
    # Build shared with q108 (single-exchange dedup-in-partition form).
    with materialize(spark) as m:
        edges = _symmetrized_trade_edges(m, sf_dir)
        # node-sized; read by every iteration + the seed
        deg = m.persist(
            edges.groupBy("src")
            .agg(F.count(F.lit(1)).alias("outdeg"))
            .withColumnRenamed("src", "node")
        )
        n_nodes = deg.count()  # one scalar to the driver (model-sized state)
        base = 150_000_000_000 // n_nodes
        ranks = deg.select("node", "outdeg", F.lit(1_000_000_000_000 // n_nodes).alias("r"))
        for _ in range(3):
            contrib = (
                ranks.join(edges, ranks["node"] == edges["src"])
                .select(
                    F.col("dst").alias("node"),
                    # `div`, not `/`: Spark's / on bigints is DOUBLE
                    # division — rounding before the cast would break
                    # the exact fixed-point contract the oracle replays
                    F.expr("(r * 85L) div (100L * outdeg)").alias("c"),
                )
            )
            summed = contrib.groupBy("node").agg(F.sum("c").alias("in_mass"))
            ranks = (
                deg.join(summed, "node", "left")
                .select(
                    "node",
                    "outdeg",
                    (F.lit(base) + F.coalesce(F.col("in_mass"), F.lit(0))).alias("r"),
                )
            )
        return m.result(
            ranks.orderBy(F.col("r").desc(), F.col("node").asc())
            .limit(25)
            .select(
                "node",
                (F.col("node") % 2).cast("bigint").alias("is_supplier"),
                F.col("r").alias("rank_micro"),
            )
        )


@query(
    "q97_excess_volume_suppliers",
    oracle="""
    WITH shipped AS (
      SELECT l_suppkey, sum(l_quantity) AS qty
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'ECONOMY'
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY l_suppkey
    ), threshold AS (
      SELECT sum(qty) * 1.2 / (SELECT count(*) FROM supplier) AS thr FROM shipped
    )
    SELECT s_suppkey, s_name, round(s_acctbal, 2) AS s_acctbal
    FROM supplier
    WHERE s_suppkey IN (SELECT l_suppkey FROM shipped, threshold WHERE qty > thr)
    """,
)
def q97_excess_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested IN with an aggregate HAVING against a
    global scalar subquery — suppliers who shipped more than 1.2× the
    per-supplier average of ECONOMY-part volume in 1996.  Catalyst
    decorrelates to: one filtered fact aggregation (filters + part dim
    broadcast pushed to the scan), a 1-row threshold broadcast back
    over it, and a LEFT-SEMI join into the supplier dim — no correlated
    re-probe anywhere.  Quantities are integral doubles, so the sums are exact and the 1.2×/N threshold, while inexact in binary,
    is the identical IEEE expression in both engines."""
    part = _t(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY").select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("l_partkey", "l_suppkey", "l_quantity")
    sup = _t(spark, sf_dir, "supplier")
    shipped = (
        li.join(F.broadcast(part), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
    )
    n_sup = sup.agg(F.count(F.lit(1)).alias("n_sup"))
    thr = shipped.agg(F.sum("qty").alias("tot")).crossJoin(F.broadcast(n_sup)).select(
        (F.col("tot") * 1.2 / F.col("n_sup")).alias("thr")
    )
    excess = shipped.crossJoin(F.broadcast(thr)).filter(F.col("qty") > F.col("thr"))
    return sup.join(
        excess.select(F.col("l_suppkey").alias("s_suppkey")), "s_suppkey", "left_semi"
    ).select("s_suppkey", "s_name", F.round("s_acctbal", 2).alias("s_acctbal"))


@query(
    "q98_kmv_distinct",
    oracle="""
    WITH du AS (
      SELECT DISTINCT event_type, user_id FROM events
    ), h AS (
      SELECT event_type, user_id,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 14))::BIGINT AS hv
      FROM du
    ), topk AS (
      SELECT * FROM (
        SELECT event_type, user_id, hv,
               row_number() OVER (PARTITION BY event_type
                                  ORDER BY hv ASC, user_id ASC) AS rr
        FROM h
      ) WHERE rr <= 8
    ), kmv AS (
      SELECT event_type, CAST(504403158265495552 // max(hv) AS BIGINT) AS kmv_est
      FROM topk GROUP BY event_type HAVING count(*) = 8
    ), exact AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events GROUP BY event_type
    ), per_type AS (
      SELECT e.event_type, n_exact, kmv_est FROM exact e JOIN kmv USING (event_type)
    ), m8 AS (
      SELECT hv FROM (SELECT DISTINCT user_id, hv FROM topk)
      ORDER BY hv ASC LIMIT 8
    ), g AS (
      SELECT '__all__' AS event_type,
             (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events) AS n_exact,
             CAST(504403158265495552 // max(hv) AS BIGINT) AS kmv_est
      FROM m8 HAVING count(*) = 8
    )
    SELECT * FROM per_type UNION ALL SELECT * FROM g
    """,
)
def q98_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch, VALUE-CHECKED —
    the mergeable-sketch family's (q34 HLL, q41 t-digest, q53 KLL, q71
    Misra-Gries) only member whose estimate both engines reproduce
    bit-for-bit, because the "randomness" is the md5-fold draw (d11
    discipline) and the estimator (k-1)*2^56 div h_k is integer
    arithmetic.  Per event_type: the 8 smallest distinct user-hashes
    (row_number <= k lowers to a per-partition WindowGroupLimit top-k
    BEFORE the shuffle — bounded state, the 100 TB path) with estimate
    (k-1)/h_k normalized.  The '__all__' row then demonstrates the
    property that makes KMV a sketch at all: MERGING the five per-group
    sketches (k smallest of their union) estimates the global distinct
    count without touching the raw data again — exactly how a
    1000-executor rollup combines per-shard sketches.  Exact distinct
    counts ride along as n_exact for accuracy reading."""
    K = 8
    est = F.expr(f"{(K - 1) * (1 << 56)}L div h_k").alias("kmv_est")
    ev = _t(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct()
    h = du.select(
        "event_type",
        "user_id",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 14), 16, 10)
        .cast("bigint")
        .alias("hv"),
    )
    w = Window.partitionBy("event_type").orderBy(F.col("hv").asc(), F.col("user_id").asc())
    topk = h.withColumn("rr", F.row_number().over(w)).filter(F.col("rr") <= K)
    kmv = (
        topk.groupBy("event_type")
        .agg(F.max("hv").alias("h_k"), F.count(F.lit(1)).alias("m"))
        .filter(F.col("m") == K)
        .select("event_type", est)
    )
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_exact"))
    per_type = exact.join(kmv, "event_type").select("event_type", "n_exact", "kmv_est")
    merged = (
        topk.select("user_id", "hv").distinct().orderBy(F.col("hv").asc()).limit(K)
    )
    g_est = (
        merged.agg(F.max("hv").alias("h_k"), F.count(F.lit(1)).alias("m"))
        .filter(F.col("m") == K)
        .select(F.lit("__all__").alias("event_type"), est)
    )
    g_exact = ev.agg(F.countDistinct("user_id").alias("n_exact")).select(
        F.lit("__all__").alias("event_type"), "n_exact"
    )
    g = g_exact.join(g_est, "event_type").select("event_type", "n_exact", "kmv_est")
    return per_type.unionByName(g)


@query(
    "q99_linear_interp",
    oracle="""
    WITH base AS (
      SELECT user_id, event_id, epoch_us(ts) // 1000000 AS t,
             CASE WHEN event_type != 'error'
                  THEN CAST(round(value * 1000000, 0) AS BIGINT) END AS vm
      FROM events
    ), g AS (
      SELECT user_id, vm, t,
        last_value(vm IGNORE NULLS) OVER w_prev AS pv,
        last_value(CASE WHEN vm IS NOT NULL THEN t END IGNORE NULLS) OVER w_prev AS pt,
        first_value(vm IGNORE NULLS) OVER w_next AS nv,
        first_value(CASE WHEN vm IS NOT NULL THEN t END IGNORE NULLS) OVER w_next AS nt
      FROM base
      WINDOW
        w_prev AS (PARTITION BY user_id ORDER BY t ASC, event_id ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        w_next AS (PARTITION BY user_id ORDER BY t ASC, event_id ASC
                   ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
    )
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_err,
           CAST(sum(CASE WHEN pv IS NOT NULL AND nv IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_interp,
           CAST(sum(CASE WHEN pv IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_lead,
           CAST(sum(CASE WHEN nv IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_trail,
           CAST(sum(CASE WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                 CASE WHEN nt = pt THEN pv
                      ELSE (pv * (nt - t) + nv * (t - pt)) // (nt - pt) END
               END) AS BIGINT) AS sum_interp_micro
    FROM g
    WHERE vm IS NULL
    GROUP BY user_id
    """,
)
def q99_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-interpolation gap fill — the time-weighted twin of q77's
    LOCF: each error event's missing reading is reconstructed from the
    user's previous and next good readings, weighted by time distance.
    Two unbounded ROWS frames over ONE partitioning (user_id) carry the
    four running values (prev/next reading + its timestamp) — a single
    shuffle, bounded per-key state, same cost profile as LOCF.  The
    interpolation itself is exact integer fixed point (micro-units x
    epoch-seconds, truncating div; both products < 2^55, and Spark
    `div` and DuckDB `//` both truncate toward zero), so no float
    quotient ever reaches the output — the q94 determinism recipe.
    Boundary gaps (no prior / no following observation) are counted,
    not invented."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "user_id",
        "event_id",
        F.expr("unix_micros(ts) div 1000000").alias("t"),
        F.when(
            F.col("event_type") != "error",
            F.round(F.col("value") * 1e6, 0).cast("bigint"),
        ).alias("vm"),
    )
    order = [F.col("t").asc(), F.col("event_id").asc()]
    wp = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(1, Window.unboundedFollowing)
    )
    t_obs = F.when(F.col("vm").isNotNull(), F.col("t"))
    g = base.select(
        "user_id",
        "vm",
        "t",
        F.last("vm", ignorenulls=True).over(wp).alias("pv"),
        F.last(t_obs, ignorenulls=True).over(wp).alias("pt"),
        F.first("vm", ignorenulls=True).over(wn).alias("nv"),
        F.first(t_obs, ignorenulls=True).over(wn).alias("nt"),
    )
    both = F.col("pv").isNotNull() & F.col("nv").isNotNull()
    interp = F.when(F.col("nt") == F.col("pt"), F.col("pv")).otherwise(
        F.expr("(pv * (nt - t) + nv * (t - pt)) div (nt - pt)")
    )
    return (
        g.filter(F.col("vm").isNull())
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_err"),
            F.sum(F.when(both, 1).otherwise(0)).alias("n_interp"),
            F.sum(F.when(F.col("pv").isNull(), 1).otherwise(0)).alias("n_lead"),
            F.sum(F.when(F.col("nv").isNull(), 1).otherwise(0)).alias("n_trail"),
            F.sum(F.when(both, interp)).alias("sum_interp_micro"),
        )
    )


@query(
    "q100_triangle_count",
    oracle="""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, unnest(list_distinct(
               list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))) AS tok
      FROM documents
    ), dfreq AS (
      SELECT tok, count(*) AS df FROM toks GROUP BY tok
    ), top AS (
      SELECT tok FROM dfreq ORDER BY df DESC, tok ASC LIMIT 64
    ), sel AS MATERIALIZED (
      SELECT doc_id, tok FROM toks WHERE tok IN (SELECT tok FROM top)
    ), co AS (
      SELECT x.tok AS u, y.tok AS v, count(*) AS c
      FROM sel x JOIN sel y ON x.doc_id = y.doc_id AND x.tok < y.tok
      GROUP BY x.tok, y.tok
    ), nd AS (
      SELECT count(*) AS n_docs FROM documents
    ), edges AS MATERIALIZED (
      SELECT u, v FROM co, nd WHERE c * 4 >= n_docs
    ), deg AS MATERIALIZED (
      SELECT node, count(*) AS d FROM (
        SELECT u AS node FROM edges UNION ALL SELECT v AS node FROM edges
      ) GROUP BY node
    ), oriented AS MATERIALIZED (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS a,
             CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS b
      FROM edges e
      JOIN deg du ON du.node = e.u
      JOIN deg dv ON dv.node = e.v
    ), tri AS MATERIALIZED (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM oriented e1
      JOIN oriented e2 ON e2.a = e1.b
      WHERE EXISTS (SELECT 1 FROM oriented e3 WHERE e3.a = e1.a AND e3.b = e2.b)
    ), per_node AS (
      SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
        SELECT x AS node FROM tri UNION ALL
        SELECT y AS node FROM tri UNION ALL
        SELECT z AS node FROM tri
      ) GROUP BY node
    )
    SELECT node, n_tri FROM per_node ORDER BY n_tri DESC, node ASC LIMIT 10
    """,
)
def q100_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting — the third graph-analytics member after
    connected components (d06) and PageRank (q96), on the token
    co-occurrence graph (top-64 tokens by document frequency; edge iff
    the pair co-occurs in >= 25%% of documents — a scale-free integer
    threshold).

    The corpus-scale half stays distributed (``_q100_edges``):
    tokenisation, document frequency, the broadcast top-64 filter, the
    ``doc_id`` self-join and the pair count.  The graph it yields is
    structurally bounded — the query's own 64-token vocabulary caps it
    at 64·63/2 = 2016 edges at any scale — so the edge list is collected
    once and triangles per node are counted on the driver from the
    64x64 adjacency matrix, ``((A @ A) * A).sum(1) // 2`` (common
    neighbours of each edge's endpoints, every triangle seen twice per
    vertex): a distributed join chain over so small a graph pays one
    Spark round per stage for almost no task work.  Top-10 by (n_tri
    desc, node asc) stays a Spark ``orderBy``."""
    import numpy as np

    edges = _q100_edges(spark, sf_dir).collect()
    nodes = sorted({n for e in edges for n in e})
    idx = {n: i for i, n in enumerate(nodes)}
    adj = np.zeros((len(nodes), len(nodes)), dtype=np.int64)
    for u, v in edges:
        adj[idx[u], idx[v]] = adj[idx[v], idx[u]] = 1
    n_tri = ((adj @ adj) * adj).sum(1) // 2
    per_node = [(n, int(t)) for n, t in zip(nodes, n_tri) if t]
    with materialize(spark) as m:
        return m.result(
            spark.createDataFrame(per_node, "node string, n_tri bigint")
            .orderBy(F.col("n_tri").desc(), F.col("node").asc())
            .limit(10)
        )


def _q100_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q100's distributed half: the thresholded ``(u, v)`` co-occurrence
    edges, u < v.  The quadratic per-document explosion of the
    ``doc_id`` self-join is bounded by the broadcast 64-token filter."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode_outer(F.array_distinct(text.tokens("text"))).alias("tok")
    ).filter(F.col("tok").isNotNull())
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    top = dfreq.orderBy(F.col("df").desc(), F.col("tok").asc()).limit(64).select("tok")
    sel = toks.join(F.broadcast(top), "tok")
    x = sel.select("doc_id", F.col("tok").alias("u"))
    y = sel.select("doc_id", F.col("tok").alias("v"))
    co = (
        x.join(y, "doc_id")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # scalar corpus count as a driver literal (footer-level count scan)
    n_docs = docs.count()
    return co.filter(F.col("c") * 4 >= F.lit(n_docs)).select("u", "v")


@query(
    "q101_association_rules",
    oracle="""
    WITH b AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n AS (
      SELECT count(DISTINCT l_orderkey) AS n_orders FROM b
    ), item AS (
      SELECT l_partkey, count(*) AS sup FROM b GROUP BY 1
    ), pair AS (
      SELECT a.l_partkey AS id_a, c.l_partkey AS id_b, count(*) AS sup_ab
      FROM b a JOIN b c ON a.l_orderkey = c.l_orderkey
                       AND a.l_partkey < c.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    )
    SELECT id_a, id_b, CAST(sup_ab AS BIGINT) AS sup_ab,
           CAST(sup_ab * 1000000 // ia.sup AS BIGINT) AS conf_micro,
           CAST(sup_ab * n_orders * 1000000 // (ia.sup * ib.sup) AS BIGINT) AS lift_micro
    FROM pair
    JOIN item ia ON ia.l_partkey = id_a
    JOIN item ib ON ib.l_partkey = id_b
    CROSS JOIN n
    ORDER BY sup_ab DESC, id_a ASC, id_b ASC
    LIMIT 20
    """,
)
def q101_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (frequent-itemset mining, the
    classic MapReduce-era workload): part pairs co-ordered in >= 2
    baskets, with confidence(a->b) and lift in exact integer micro
    fixed point (the q94/q96 determinism recipe — `div`, never a float
    quotient).  Scale shape: baskets self-join on l_orderkey only —
    fan-out per order is (items/order choose 2), a per-BASKET constant,
    never corpus-quadratic; pair support is one hash-agg shuffle keyed
    by the pair; item supports and the basket count broadcast back
    over the pair frame.  Top-20 by (support, pair) is a
    TakeOrderedAndProject — per-partition heaps, no global sort.  At
    petabyte row counts the lift numerator sup_ab*N*1e6 needs
    DECIMAL(38,0) widening; bigint holds to N ~ 1e9 baskets."""
    li = _t(spark, sf_dir, "lineitem")
    b = li.select("l_orderkey", "l_partkey").distinct()
    n = b.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    item = b.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("sup"))
    a = b.select("l_orderkey", F.col("l_partkey").alias("id_a"))
    c = b.select("l_orderkey", F.col("l_partkey").alias("id_b"))
    pair = (
        a.join(c, "l_orderkey")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("sup_ab"))
        .filter(F.col("sup_ab") >= 2)
    )
    ia = item.select(F.col("l_partkey").alias("id_a"), F.col("sup").alias("sup_a"))
    ib = item.select(F.col("l_partkey").alias("id_b"), F.col("sup").alias("sup_b"))
    rules = (
        pair.join(ia, "id_a")
        .join(ib, "id_b")
        .crossJoin(F.broadcast(n))
        .select(
            "id_a",
            "id_b",
            "sup_ab",
            F.expr("sup_ab * 1000000L div sup_a").alias("conf_micro"),
            F.expr("sup_ab * n_orders * 1000000L div (sup_a * sup_b)").alias("lift_micro"),
        )
    )
    return rules.orderBy(
        F.col("sup_ab").desc(), F.col("id_a").asc(), F.col("id_b").asc()
    ).limit(20)


@query(
    "q102_mad_outliers",
    oracle="""
    WITH o AS (
      SELECT o_orderpriority AS grp, o_orderkey,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders
    ), r AS (
      SELECT grp, o_orderkey, cents,
             row_number() OVER (PARTITION BY grp ORDER BY cents ASC, o_orderkey ASC) AS rn,
             count(*) OVER (PARTITION BY grp) AS n
      FROM o
    ), med AS (
      SELECT grp, cents AS med_cents FROM r WHERE rn = (n + 1) // 2
    ), dev AS (
      SELECT o.grp, o.o_orderkey, abs(o.cents - m.med_cents) AS d, m.med_cents
      FROM o JOIN med m ON m.grp = o.grp
    ), rd AS (
      SELECT grp, d, med_cents,
             row_number() OVER (PARTITION BY grp ORDER BY d ASC, o_orderkey ASC) AS rn,
             count(*) OVER (PARTITION BY grp) AS n
      FROM dev
    ), mad AS (
      SELECT grp, med_cents, d AS mad_cents FROM rd WHERE rn = (n + 1) // 2
    )
    SELECT v.grp, CAST(m.med_cents AS BIGINT) AS med_cents,
           CAST(m.mad_cents AS BIGINT) AS mad_cents,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CASE WHEN v.d > 3 * m.mad_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM dev v JOIN mad m ON m.grp = v.grp
    GROUP BY v.grp, m.med_cents, m.mad_cents
    """,
)
def q102_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection by median/MAD — the data-quality
    anomaly gate that, unlike z-scores (q26's moments), a few extreme
    rows cannot poison.  Everything is exact integer cents: the
    "median" is the LOWER median selected by row_number = (n+1) div 2
    (a rank selection, not quantile interpolation — no float boundary
    can ever disagree between engines), the MAD is the lower median of
    absolute deviations, and the outlier test d > 3*MAD is integer
    compare.  Cost shape: two window passes over the SAME partitioning
    key (grp) plus group-local joins of one-row-per-group frames — two
    shuffles of the fact, both on the group key; the per-group medians
    broadcast back.  The holistic-aggregate caveat of q25 applies: at
    100 TB prefer the q41/q53 sketch contract; this is the exact tier."""
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("grp"),
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    w1 = Window.partitionBy("grp").orderBy(F.col("cents").asc(), F.col("o_orderkey").asc())
    wg = Window.partitionBy("grp")
    r = o.select(
        "grp",
        "cents",
        F.row_number().over(w1).alias("rn"),
        F.count(F.lit(1)).over(wg).alias("n"),
    )
    med = r.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "grp", F.col("cents").alias("med_cents")
    )
    dev = o.join(F.broadcast(med), "grp").select(
        "grp", "o_orderkey", F.abs(F.col("cents") - F.col("med_cents")).alias("d")
    )
    w2 = Window.partitionBy("grp").orderBy(F.col("d").asc(), F.col("o_orderkey").asc())
    rd = dev.select(
        "grp",
        "d",
        F.row_number().over(w2).alias("rn"),
        F.count(F.lit(1)).over(wg).alias("n"),
    )
    mad = rd.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "grp", F.col("d").alias("mad_cents")
    )
    return (
        dev.join(F.broadcast(med), "grp")
        .join(F.broadcast(mad), "grp")
        .groupBy("grp", "med_cents", "mad_cents")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.when(F.col("d") > 3 * F.col("mad_cents"), 1).otherwise(0)).alias(
                "n_outliers"
            ),
        )
        .select("grp", "med_cents", "mad_cents", "n_orders", "n_outliers")
    )


@query(
    "q103_cohort_retention",
    oracle="""
    WITH ev AS (
      SELECT user_id,
             CAST(floor(epoch(ts) / 604800) AS BIGINT) AS week
      FROM events
    ), first AS (
      SELECT user_id, min(week) AS cohort_week FROM ev GROUP BY user_id
    )
    SELECT f.cohort_week,
           ev.week - f.cohort_week AS weeks_since,
           count(DISTINCT ev.user_id) AS n_active
    FROM ev JOIN first f USING (user_id)
    GROUP BY 1, 2
    """,
)
def q103_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the product-analytics report behind
    every "week-N retention" chart: users are cohorted by their first
    active week, then each (cohort, weeks-since-cohort) cell counts the
    distinct users still active.  Shape: one user-keyed min-aggregate
    (far smaller than the fact), joined back on user_id so both sides
    shuffle-partition on the SAME key, then a two-phase
    count-distinct whose partial dedup happens map-side.  Weeks are
    integer epoch-week indexes (floor-of-floor composition is exact),
    so no timestamp representation ever reaches the output."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.floor(F.unix_timestamp("ts") / 604800).cast("bigint").alias("week"),
    )
    first = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        ev.join(first, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("weeks_since"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
        .select("cohort_week", "weeks_since", "n_active")
    )


@query(
    "q104_table_diff",
    oracle="""
    WITH base AS (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
      FROM orders
    ), v1 AS (
      SELECT * FROM base WHERE o_orderkey % 101 != 0
    ), v2 AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 97 = 0 THEN cents + 1 ELSE cents END AS cents
      FROM base WHERE o_orderkey % 103 != 0
    ), diff AS (
      SELECT CASE
               WHEN v1.o_orderkey IS NULL THEN 'added'
               WHEN v2.o_orderkey IS NULL THEN 'removed'
               WHEN v1.cents != v2.cents THEN 'changed'
               ELSE 'unchanged'
             END AS status,
             coalesce(v1.o_orderkey, v2.o_orderkey) AS key,
             coalesce(v2.cents, 0) - coalesce(v1.cents, 0) AS delta
      FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey
    )
    SELECT status,
           count(*) AS n_rows,
           CAST(sum(key) AS BIGINT) AS key_checksum,
           CAST(sum(delta) AS BIGINT) AS cents_delta
    FROM diff GROUP BY status
    """,
)
def q104_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-version reconciliation (the anti-entropy / snapshot-diff
    op behind data-quality gates and CDC backfills): two synthetic
    versions of ``orders`` — v2 deletes every 101st key, re-adds every
    103rd missing from v1, and bumps every 97th price by a cent — are
    FULL-OUTER joined on the key and every row classified
    added/removed/changed/unchanged in one pass.  Both sides are
    projections of the same scan, shuffle on the join key once, and
    only the 4-row summary (counts + integer checksums) leaves the
    executors — at 100 TB this is one co-partitioned SMJ, no second
    scan, no driver materialization."""
    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
    )
    v1 = base.filter(F.col("o_orderkey") % 101 != 0)
    v2 = base.filter(F.col("o_orderkey") % 103 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 97 == 0, F.col("cents") + 1)
        .otherwise(F.col("cents"))
        .alias("cents"),
    )
    j = v1.alias("a").join(
        v2.alias("b"), F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer"
    )
    diff = j.select(
        F.when(F.col("a.o_orderkey").isNull(), "added")
        .when(F.col("b.o_orderkey").isNull(), "removed")
        .when(F.col("a.cents") != F.col("b.cents"), "changed")
        .otherwise("unchanged")
        .alias("status"),
        F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias("key"),
        (
            F.coalesce(F.col("b.cents"), F.lit(0))
            - F.coalesce(F.col("a.cents"), F.lit(0))
        ).alias("delta"),
    )
    return diff.groupBy("status").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("key").alias("key_checksum"),
        F.sum("delta").alias("cents_delta"),
    )


def _q105_files(orders: DataFrame) -> DataFrame:
    """The synthetic file MANIFEST shared by q105's compaction planner
    and st36's streaming small-file monitor (the batch/stream seam
    discipline): 40-key ranges of orders stand in for data files, byte
    sizes derived from the rows as exact integer cents."""
    return orders.groupBy(F.expr("o_orderkey div 40").alias("file_id")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")).alias("bytes"),
    )


@query(
    "q105_compaction_plan",
    oracle="""
    WITH files AS (
      SELECT o_orderkey // 40 AS file_id,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS bytes
      FROM orders GROUP BY 1
    ), planned AS (
      SELECT file_id, n_rows, bytes,
             CAST((sum(bytes) OVER (ORDER BY file_id ASC
                                    ROWS UNBOUNDED PRECEDING) - bytes)
                  // 2000000000 AS BIGINT) AS bin
      FROM files
    )
    SELECT bin,
           count(*) AS n_files,
           CAST(sum(bytes) AS BIGINT) AS bin_bytes,
           min(file_id) AS first_file,
           max(file_id) AS last_file
    FROM planned GROUP BY bin
    """,
)
def q105_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file COMPACTION planning — the maintenance op every
    long-lived 100 TB table needs: a synthetic file manifest (40-key
    ranges of orders standing in for data files, byte sizes derived
    from the rows) is packed into ~20 MB rewrite bins by
    start-offset-of-running-total division, the streaming bin-packing
    that preserves key order so compaction never destroys clustering
    (operators/layout.py is the read side of the same contract).  The
    global running total orders by file_id in a single window pass —
    legitimate here and at scale because the input is the file
    MANIFEST (metadata, ~1 row per file), not the data; the plan
    output is what a rewrite job would fan back out over.  All sizes
    are integer sums, so both engines agree bit-for-bit."""
    files = _q105_files(_t(spark, sf_dir, "orders"))
    w = Window.orderBy(F.col("file_id").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    planned = files.select(
        "file_id",
        "n_rows",
        "bytes",
        F.expr("(sum(bytes) over (order by file_id asc rows unbounded preceding) - bytes) div 2000000000").alias("bin"),
    )
    return planned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("bytes").alias("bin_bytes"),
        F.min("file_id").alias("first_file"),
        F.max("file_id").alias("last_file"),
    )


@query(
    "q106_dynamic_partition_pruning",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 4) AS sum_value
    FROM events
    WHERE date_part('day', CAST(ts AS DATE)) % 3 = 0
    GROUP BY event_type
    """,
)
def q106_dynamic_partition_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning — q82's static twin made runtime: the
    fact side is the same date-partitioned events layout, but the
    pruning dates come from a DIMENSION frame (the distinct dates whose
    day-of-month is divisible by 3) that only exists after evaluation,
    so Catalyst injects a DynamicPruningExpression subquery into the
    fact scan's PartitionFilters — at 100 TB the scan skips ~2/3 of the
    partition directories at RUNTIME, the mechanism star-schema date
    filters rely on (plan-pinned in tests/test_plans.py).  The dim
    broadcasts; the fact never shuffles before the aggregate."""
    fact = spark.read.parquet(_events_by_date(spark, sf_dir))
    dim = (
        _t(spark, sf_dir, "events").select(F.col("ts").cast("date").alias("event_date"))
        .distinct()
        .filter(F.dayofmonth("event_date") % 3 == 0)
    )
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    return (
        fact.join(F.broadcast(dim), "event_date")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(cents) / 100.0, 4).alias("sum_value"),
        )
    )


# =========================================================================
# Round-4 second half: sketches, graph traversal, attribution, bigram LMs
# =========================================================================

@query(
    "q107_countmin_sketch",
    oracle="""
    WITH toks AS (
      SELECT unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS term
      FROM documents
    ), freq AS (
      SELECT term, count(*) AS c FROM toks GROUP BY 1
    ), cells AS (
      SELECT r,
             ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || term), 1, 12))::BIGINT % 256 AS col,
             sum(c) AS v
      FROM freq, LATERAL unnest(range(0, 4)) AS t(r)
      GROUP BY 1, 2
    ), probe AS (
      SELECT term, c FROM freq ORDER BY c DESC, term ASC LIMIT 10
    ), pr AS (
      SELECT term, c, r,
             ('0x' || substr(md5(CAST(r AS VARCHAR) || ':' || term), 1, 12))::BIGINT % 256 AS col
      FROM probe, LATERAL unnest(range(0, 4)) AS t(r)
    )
    SELECT term,
           CAST(max(c) AS BIGINT) AS true_count,
           CAST(min(v) AS BIGINT) AS cms_est
    FROM pr JOIN cells USING (r, col)
    GROUP BY term
    """,
)
def q107_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) — the mergeable
    point-query frequency sketch completing the sketch family (q34 HLL,
    q41 approx-percentile, q53 KLL, q54 theta, q71 Misra-Gries, q98
    KMV).  Depth d=4 × width w=256, row hashes md5-salted by row index
    (the [[hex-fold determinism recipe]]: 12 hex digits → BIGINT, so
    DuckDB replays every cell).  The token-scale work is ONE hash agg
    (term frequencies); the 4×-row expansion happens on the
    VOCABULARY-sized frame, and cell counters are partial-aggregatable
    sums — at 100 TB the sketch build is a map-side-combined shuffle of
    at most d·w = 1024 cells per partition, the textbook mergeable-
    sketch contract (reference fold/merge discipline,
    src/Core/MapReduceC.hs reducer laws).  Probing the 10 true heavy
    hitters pins the CMS overestimate guarantee (est >= true) by value.
    """
    with materialize(spark) as m:
        return m.result(_q107_cms_build(m, sf_dir))


def _q107_cell_col():
    """The CMS cell law (row-salted md5 hex-fold mod width) — the ONE
    definition both the production sketch and the overestimate property
    test hash with, so the test cannot drift from the query."""
    return (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.col("r"), F.col("term"))), 1, 12),
            16,
            10,
        ).cast("bigint")
        % 256
    )


def _q107_cells(freq: DataFrame, rows: DataFrame) -> DataFrame:
    """CMS cell counters from a (term, c) frequency frame."""
    return (
        freq.crossJoin(F.broadcast(rows))
        .select("r", _q107_cell_col().alias("col"), "c")
        .groupBy("r", "col")
        .agg(F.sum("c").alias("v"))
    )


def _q107_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q107's (term, c) corpus term frequencies."""
    toks = (
        _t(spark, sf_dir, "documents")
        .select(text.tokens("text").alias("__t"))
        .select(F.explode_outer("__t").alias("term"))
        .filter(F.col("term").isNotNull())
    )
    return toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))


def _q107_cms_build(m: Materialization, sf_dir: str) -> DataFrame:
    """q107's pre-checkpoint plan over the vocab frame persisted in ``m``."""
    # vocab-sized; read twice (cell build + probe selection) — persist so
    # the token-scale tokenize+count pass runs ONCE
    freq = m.persist(_q107_freq(m.spark, sf_dir))
    rows = m.spark.range(4).select(F.col("id").cast("int").alias("r"))
    cells = _q107_cells(freq, rows)
    probe = freq.orderBy(F.col("c").desc(), F.col("term").asc()).limit(10)
    pr = probe.crossJoin(F.broadcast(rows)).select(
        "term", "c", "r", _q107_cell_col().alias("col")
    )
    return (
        cells.join(F.broadcast(pr), ["r", "col"])
        .groupBy("term")
        .agg(
            F.max("c").cast("bigint").alias("true_count"),
            F.min("v").cast("bigint").alias("cms_est"),
        )
    )


def _q108_oracle() -> str:
    """Unrolled BFS frontier replay: per level, the reachable set is the
    previous set plus one edge expansion, with min-hop per node — all
    integer, so the level histogram is engine-exact."""
    head = """
    WITH edges0 AS (
      SELECT DISTINCT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), edges AS (
      SELECT src, dst FROM edges0
      UNION ALL
      SELECT dst AS src, src AS dst FROM edges0
    ), d0 AS (
      SELECT (SELECT min(src) FROM edges) AS node, 0 AS d
    )"""
    parts = []
    for i in range(1, 4):
        prev = f"d{i - 1}"
        parts.append(f"""
    , d{i} AS (
      SELECT node, min(d) AS d FROM (
        SELECT node, d FROM {prev}
        UNION ALL
        SELECT e.dst AS node, {i} AS d
        FROM {prev} p JOIN edges e ON e.src = p.node WHERE p.d = {i - 1}
      ) GROUP BY node
    )""")
    tail = f"""
    SELECT d AS hops, CAST(count(*) AS BIGINT) AS n_nodes
    FROM d3
    GROUP BY d
    """
    return head + "".join(parts) + tail


@query("q108_bfs_hops", oracle=_q108_oracle())
def q108_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first shortest hops — frontier-expansion graph traversal
    (the second iterative-graph workload next to q96 PageRank; the
    reference's multi-stage chain ``(:>)`` is exactly this shape) over
    the same symmetrized customer↔supplier trade graph.  Each level
    expands ONLY the new frontier (p.d = level-1) against the
    hash-partitioned adjacency and folds with an associative min — the
    frontier rows shuffle, never the edge list.  At 100 TB: per level
    one narrow (node, hop) shuffle; the adjacency stays put, persisted
    partitioned on src (q96 discipline).  Distances are integers, so
    the level histogram value-checks bit-for-bit against the unrolled
    oracle."""
    with materialize(spark) as m:
        edges = _symmetrized_trade_edges(m, sf_dir)  # q96's shared build
        # lazy seed (round 12): the start node is an agg SUBTREE over
        # the persisted adjacency, not a driver collect — the whole
        # query is then ONE action and the edge build materializes
        # inside it instead of blocking a synchronous round-trip first
        # (guide §2.6; interleaved A/B at sf0.1: 4.13 s → 3.23 s median,
        # level histogram identical).  Round 13 (ADVICE r12): the
        # level-1 job references this 1-row seed TWICE (frontier filter
        # + the unioned dist) — a non-eager checkpoint makes the seed
        # aggregation provably computed once instead of relying on plan
        # canonicalization to match the two subtrees for ReusedExchange.
        dist = m.checkpoint(
            edges.agg(F.min("src").alias("node")).select("node", F.lit(0).cast("int").alias("d")),
            eager=False,
        )
        for level in range(1, 4):
            frontier = dist.filter(F.col("d") == level - 1)
            expanded = (
                frontier.join(edges, frontier["node"] == edges["src"])
                .select(F.col("dst").alias("node"), F.lit(level).alias("d"))
            )
            # checkpoint the per-level result: keeps the lineage flat
            # (O(1) plan depth per level, not O(level))
            dist = m.checkpoint(
                dist.unionByName(expanded).groupBy("node").agg(F.min("d").alias("d")),
                eager=False,
            )
        return m.result(
            dist.groupBy(F.col("d").alias("hops")).agg(
                F.count(F.lit(1)).cast("bigint").alias("n_nodes")
            )
        )


@query(
    "q109_event_attribution",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_id, event_type, value, ts,
             last_value(CASE WHEN event_type IN ('click', 'view') THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_touch,
             first_value(CASE WHEN event_type IN ('click', 'view') THEN event_type END
                         IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_touch
      FROM events
    )
    SELECT coalesce(last_touch, 'none') AS last_touch,
           coalesce(first_touch, 'none') AS first_touch,
           CAST(count(*) AS BIGINT) AS n_purchases,
           round(sum(CAST(floor(value * 100) AS BIGINT)) / 100.0, 4) AS attributed_value
    FROM seq
    WHERE event_type = 'purchase'
    GROUP BY 1, 2
    """,
)
def q109_event_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-touch attribution — the sessionized analytics pattern
    (first-touch / last-touch) every event pipeline ships: for each
    purchase, the most recent and the earliest preceding engagement
    touch (click/view) of the same user, via IGNORE NULLS
    first/last_value over a (user, time) window.  ONE shuffle
    partitioned by user_id serves both window passes (same window
    spec), then a vocabulary-sized group-by — at 100 TB this is the
    q13/q52 per-entity ordered-scan shape, embarrassingly parallel
    across users.  Revenue is attributed in exact integer cents
    (floor(value·100)) so sums are order-independent; the (ts,
    event_id) tiebreak makes the window total-ordered."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type").isin("click", "view"), F.col("event_type"))
    seq = ev.select(
        "event_type",
        "value",
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
        F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
    )
    cents = F.floor(F.col("value") * 100).cast("bigint")
    return (
        seq.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.coalesce(F.col("last_touch"), F.lit("none")).alias("last_touch"),
            F.coalesce(F.col("first_touch"), F.lit("none")).alias("first_touch"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
            F.round(F.sum(cents) / 100.0, 4).alias("attributed_value"),
        )
    )


@query(
    "q110_nested_struct_pruning",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    WHERE user_id % 7 = 0
    GROUP BY event_type
    """,
)
def q110_nested_struct_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NESTED-column pruning — the 100 TB concern behind struct-typed
    event payloads: the fixture re-writes events as
    ``payload: struct<kind, metrics: struct<who, amount>>`` parquet, and
    the query touches only ``payload.kind`` + ``payload.metrics.who``.
    Catalyst's schema pruning must narrow the parquet ReadSchema to
    exactly those two LEAVES (plan-pinned) — reading the full struct for
    a two-leaf projection multiplies scan IO by the payload width at
    scale.  The filter on the nested leaf also reaches the scan.
    The oracle replays from the FLAT events table (same rows by
    construction), so the nested round trip itself is value-checked."""
    import os

    from mapreducehs_spark.sources.catalog import FIXTURE_ROOT, derived_fixture

    base = derived_fixture(
        os.path.join(FIXTURE_ROOT, "mapreducehs_events_nested"), sf_dir, ("events",),
        lambda tmp: _t(spark, sf_dir, "events").select(
            "event_id",
            F.struct(
                F.col("event_type").alias("kind"),
                F.struct(
                    F.col("user_id").alias("who"),
                    F.col("value").alias("amount"),
                ).alias("metrics"),
                F.col("props").alias("raw"),
            ).alias("payload"),
        )
        .write.mode("overwrite")
        .parquet(tmp),
    )
    nested = spark.read.parquet(base)
    return (
        nested.filter(F.col("payload.metrics.who") % 7 == 0)
        .groupBy(F.col("payload.kind").alias("event_type"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct("payload.metrics.who").cast("bigint").alias("n_users"),
        )
    )


@query(
    "q111_markov_transitions",
    oracle="""
    WITH seq AS (
      SELECT event_type AS from_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS to_type
      FROM events
    ), pairs AS (
      SELECT from_type, to_type, count(*) AS n
      FROM seq WHERE to_type IS NOT NULL
      GROUP BY 1, 2
    ), marg AS (
      SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM pairs GROUP BY 1
    )
    SELECT p.from_type, p.to_type,
           CAST(p.n AS BIGINT) AS n,
           CAST((p.n * 1000000) // m.n_from AS BIGINT) AS p_micro
    FROM pairs p JOIN marg m USING (from_type)
    """,
)
def q111_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (first-order Markov) — the
    user-journey analytics behind funnel discovery: per-user
    time-ordered ``lead`` (one window pass, one user-keyed shuffle —
    q13's embarrassingly-parallel per-entity scan), then transition
    counts and row-normalized probabilities.  Probabilities are exact
    integer micro-units ((n·1e6) div n_from — truncating div, identical
    in both engines), so the whole matrix value-checks; the marginal is
    a DERIVED (#types²-sized) frame, broadcast back.  (ts, event_id)
    makes the ordering total."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    # pairs is #types²-sized but referenced twice (marginal + join) —
    # persist so the event-scale window pass runs ONCE, not per branch
    with materialize(spark) as m:
        pairs = m.persist(
            seq.filter(F.col("to_type").isNotNull())
            .groupBy("from_type", "to_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        marg = pairs.groupBy("from_type").agg(
            F.sum("n").cast("bigint").alias("n_from")
        )
        return m.result(
            pairs.join(F.broadcast(marg), "from_type").select(
                "from_type",
                "to_type",
                F.col("n").cast("bigint").alias("n"),
                F.expr("(n * 1000000L) div n_from").cast("bigint").alias("p_micro"),
            )
        )


@query(
    "q112_ab_experiment",
    oracle="""
    WITH assigned AS (
      SELECT user_id,
             ('0x' || substr(md5('exp1:' || CAST(user_id AS VARCHAR)), 1, 12))::BIGINT % 2
               AS variant
      FROM (SELECT DISTINCT user_id FROM events)
    ), metrics AS (
      SELECT e.user_id,
             max(CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
             CAST(sum(CASE WHEN e.event_type = 'purchase'
                           THEN CAST(floor(e.value * 100) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS rev_cents
      FROM events e
      GROUP BY e.user_id
    )
    SELECT a.variant,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(m.converted) AS BIGINT) AS n_converters,
           CAST((sum(m.converted) * 1000000) // count(*) AS BIGINT) AS conv_micro,
           CAST(sum(m.rev_cents) AS BIGINT) AS rev_cents
    FROM assigned a JOIN metrics m USING (user_id)
    GROUP BY a.variant
    """,
)
def q112_ab_experiment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with DETERMINISTIC hash assignment — the
    experimentation-platform pattern: variant = md5-fold(salt:user) % 2
    (stable across reruns and re-sharding, q37's split discipline —
    never a random() that unrepeatably reassigns), then per-variant
    users / converters / conversion rate / revenue.  One user-keyed
    aggregate computes per-user metrics; the assignment is a per-row
    expression on the user-sized frame; conversion rate in integer
    micro-units and revenue in exact cents, so the readout
    value-checks.  At 100 TB the only event-scale work is the per-user
    metric fold (map-side combinable); everything after is user-scale."""
    ev = _t(spark, sf_dir, "events")
    metrics = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "converted"
        ),
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 100).cast("bigint"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("rev_cents"),
    )
    variant = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("exp1:"), F.col("user_id").cast("string"))), 1, 12
            ),
            16,
            10,
        ).cast("bigint")
        % 2
    )
    return (
        metrics.withColumn("variant", variant)
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("converted").cast("bigint").alias("n_converters"),
            F.expr("cast((sum(converted) * 1000000L) div count(1) as bigint)").alias(
                "conv_micro"
            ),
            F.sum("rev_cents").cast("bigint").alias("rev_cents"),
        )
    )


@query(
    "q113_rfm_segments",
    oracle="""
    WITH ref AS (
      -- floor() BEFORE the subtraction: epoch() is fractional and
      -- CAST(double AS BIGINT) ROUNDS in DuckDB while Spark's
      -- unix_timestamp truncates (the verify-skill recipe)
      SELECT max(CAST(floor(epoch(ts)) AS BIGINT)) AS t_ref FROM events
    ), per_user AS (
      SELECT user_id,
             CAST((SELECT t_ref FROM ref)
                  - max(CAST(floor(epoch(ts)) AS BIGINT)) AS BIGINT) AS recency_s,
             CAST(count(*) AS BIGINT) AS frequency,
             CAST(sum(CASE WHEN event_type = 'purchase'
                           THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS monetary_cents
      FROM events
      GROUP BY user_id
    ), scored AS (
      SELECT user_id,
             ntile(5) OVER (ORDER BY recency_s ASC, user_id ASC)  AS r_score,
             ntile(5) OVER (ORDER BY frequency DESC, user_id ASC) AS f_score,
             ntile(5) OVER (ORDER BY monetary_cents DESC, user_id ASC) AS m_score,
             monetary_cents
      FROM per_user
    )
    SELECT r_score, f_score, m_score,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(monetary_cents) AS BIGINT) AS segment_cents
    FROM scored
    GROUP BY 1, 2, 3
    """,
)
def q113_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the classic customer-value grid (recency /
    frequency / monetary quintiles): one event-scale map-side-combinable
    per-user fold, then three quintile assignments over the USER-sized
    frame, then the segment rollup.  A bare ``ntile() OVER (ORDER BY
    ...)`` would collapse the frame into ONE task (Spark warns and
    obeys) — so each quintile is computed scalably from
    ``sampling.global_positions`` (distributed range sort + partition
    offsets, the d18/q89 idiom) and the ntile bucket arithmetic
    replayed as an expression: first N%5 tiles get ceil(N/5) rows —
    bit-identical to SQL ntile(5), which is what the oracle runs.
    Every metric is integer (seconds, counts, cents) and every order
    carries a user_id tiebreak, so quintile boundaries are
    total-ordered and the whole grid value-checks at any parallelism."""
    from mapreducehs_spark.operators.sampling import global_positions

    ev = _t(spark, sf_dir, "events")
    ref = ev.agg(F.max(F.unix_timestamp("ts")).alias("t_ref"))
    with materialize(spark) as m:
        per_user = m.persist(  # read by the three position passes + the rollup
            ev.groupBy("user_id")
            .agg(
                F.max(F.unix_timestamp("ts")).alias("last_s"),
                F.count(F.lit(1)).cast("bigint").alias("frequency"),
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase",
                        F.floor(F.col("value") * 100).cast("bigint"),
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias("monetary_cents"),
            )
            .crossJoin(F.broadcast(ref))
            .select(
                "user_id",
                (F.col("t_ref") - F.col("last_s")).cast("bigint").alias("recency_s"),
                F.col("frequency"),
                # negated copies so every global_positions order is ASC
                (-F.col("frequency")).alias("neg_frequency"),
                "monetary_cents",
                (-F.col("monetary_cents")).alias("neg_monetary"),
            )
        )
        n_total = per_user.count()  # one scalar to the driver
        base, rem = n_total // 5, n_total % 5
        cut = rem * (base + 1)

        def tile(pos):
            # SQL ntile(5): first `rem` tiles hold base+1 rows.  ceil
            # via (a + b - 1) div b — the truncating integer `div` the
            # repo standardizes on, no float path; greatest() guards
            # the (unselected) base=0 branch under ANSI division
            big = F.lit(base + 1)
            small = F.greatest(F.lit(base), F.lit(1))
            return F.when(
                pos <= F.lit(cut), F.call_function("div", pos + big - 1, big)
            ).otherwise(
                F.lit(rem) + F.call_function("div", pos - F.lit(cut) + small - 1, small)
            )

        def score(order_cols, name):
            ranked = global_positions(
                m, per_user.select("user_id", *order_cols), order_cols + ["user_id"]
            )
            return ranked.select(
                "user_id", tile(F.col("pos")).cast("int").alias(name)
            )

        # the three quintile passes are independent (each sorts the
        # cached user-sized frame by its own key and runs one small
        # count-collect); construct them concurrently so their driver
        # actions overlap (guide §2.6 — the s15 arm-pool discipline)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=3) as pool:
            r, f, mon = pool.map(
                lambda a: score(*a),
                [
                    (["recency_s"], "r_score"),
                    (["neg_frequency"], "f_score"),
                    (["neg_monetary"], "m_score"),
                ],
            )
        return m.result(
            per_user.select("user_id", "monetary_cents")
            .join(r, "user_id")
            .join(f, "user_id")
            .join(mon, "user_id")
            .groupBy("r_score", "f_score", "m_score")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_users"),
                F.sum("monetary_cents").cast("bigint").alias("segment_cents"),
            )
        )


@query(
    "q114_cumulative_uniques",
    oracle="""
    WITH firsts AS (
      SELECT user_id,
             CAST(min(floor(epoch(ts) / 86400)) AS BIGINT) AS first_day
      FROM events
      GROUP BY user_id
    ), per_day AS (
      SELECT first_day AS day, CAST(count(*) AS BIGINT) AS new_users
      FROM firsts GROUP BY first_day
    )
    SELECT day, new_users,
           CAST(sum(new_users) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS cumulative_uniques
    FROM per_day
    """,
)
def q114_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily new vs cumulative unique users — the growth-dashboard
    query that is O(n²) done naively (COUNT(DISTINCT) per day over an
    expanding window rescans everything): instead ONE user-keyed
    min-aggregate finds each user's first-seen day (map-side
    combinable), a day-keyed count gives new-users-per-day, and the
    cumulative sum runs over the DAY-sized frame — a few hundred rows
    at any corpus size, so the one global running-sum window is
    metadata-scale (the q105 manifest argument), not entity- or
    event-scale.  All integers; value-checks exactly."""
    ev = _t(spark, sf_dir, "events")
    firsts = (
        ev.select("user_id", F.floor(F.unix_timestamp("ts") / 86400).alias("day"))
        .groupBy("user_id")
        .agg(F.min("day").cast("bigint").alias("first_day"))
    )
    per_day = firsts.groupBy(F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("new_users")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return per_day.select(
        "day", "new_users", F.sum("new_users").over(w).cast("bigint").alias("cumulative_uniques")
    )


@query("q115_funnel_steps", oracle=_Q115_FUNNEL_ORACLE)
def q115_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STRICT-ORDER funnel analysis (view → click → purchase) — the
    product-analytics staple q109's attribution does not cover: each
    step must occur strictly AFTER the user's previous step's first
    completion, plus a completion-window variant (first purchase within
    one day of the first view).  The sequential dependency (step k's
    earliest time depends on step k-1's) is expressed as a cascade of
    per-user conditional min-aggregates joined user-keyed — three
    narrow user-sized shuffles of pre-filtered events, never a per-user
    sort or whole-history materialization; at 100 TB each stage is a
    partial-aggregatable min over one event type, and the funnel frame
    is user-count-sized.  Epoch-second integers and a truncating
    integer conversion rate keep both engines bit-identical."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.unix_timestamp("ts").alias("t")
    )
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("t").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("t") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("t") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("t").alias("t3"))
    )
    funnel = s1.join(s2, "user_id", "left").join(s3, "user_id", "left")
    return funnel.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_viewed"),
        F.count("t2").cast("bigint").alias("n_clicked"),
        F.count("t3").cast("bigint").alias("n_purchased"),
        F.count(F.when(F.col("t3") - F.col("t1") <= 86400, 1))
        .cast("bigint")
        .alias("n_completed_1d"),
        F.expr("(count(t3) * 1000000L) div count(*)").cast("bigint").alias("conv_micro"),
    )


@query(
    "q116_calibration_report",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS term
      FROM documents
    ), feats AS (
      SELECT doc_id, ('0x' || substr(md5(term), 1, 12))::BIGINT % 4096 AS bucket
      FROM toks
    ), weights AS (
      SELECT b.b AS bucket, (b.b * 2654435761) % 1000 - 500 AS w
      FROM (SELECT unnest(range(0, 4096)) AS b) b
    ), sc AS (
      SELECT doc_id, CAST(sum(w) AS BIGINT) AS score
      FROM feats JOIN weights USING (bucket) GROUP BY doc_id
    ), lab AS (
      SELECT s.doc_id, s.score,
             CASE WHEN d.n_chars >= 300 THEN 1 ELSE 0 END AS y,
             greatest(-2, least(5, s.score // 2000)) AS bin
      FROM sc s JOIN documents d USING (doc_id)
    )
    SELECT bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(y) AS BIGINT) AS n_pos,
           CAST((sum(y) * 1000000) // count(*) AS BIGINT) AS pos_rate_micro,
           CAST(sum(score) // count(*) AS BIGINT) AS avg_score
    FROM lab
    GROUP BY bin
    """,
)
def q116_calibration_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MODEL CALIBRATION / LIFT report — the evaluation step that closes
    the classifier loop alongside accuracy-style readouts (q112's A/B,
    s13/s15's recall): bin the corpus by t26's integer margin score
    (fixed-width 2000-unit bins, clamped to [-2, 5] so the report
    width is data-independent) and compare each bin's OBSERVED positive
    rate (t28's label law, n_chars >= 300, in integer micro-units
    against the truncating-div discipline) with its average score — a
    monotone observed-rate column is what "the score ranks quality"
    actually means, and per-bin lift is what curation thresholds are
    chosen from.  Plan shape: t26's scan-side feature hashing +
    broadcast weights + per-doc partial-agg sum, one narrow self-join
    back to (doc_id, n_chars), then an 8-row rollup — the report costs
    one token-scale pass exactly like the inference it evaluates.
    Everything integer (scores, labels, micro-rates, truncating div ==
    DuckDB // toward zero on BOTH signs), so it replays bit-for-bit."""
    docs = _t(spark, sf_dir, "documents")
    feats = (
        docs.select("doc_id", F.explode_outer(text.tokens("text")).alias("term"))
        .filter(F.col("term").isNotNull())
        .select(
            "doc_id",
            (
                F.conv(F.substring(F.md5("term"), 1, 12), 16, 10).cast("bigint") % 4096
            ).alias("bucket"),
        )
    )
    weights = spark.range(4096).select(
        F.col("id").alias("bucket"),
        ((F.col("id") * F.lit(2654435761)) % 1000 - 500).alias("w"),
    )
    sc = (
        feats.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(F.sum("w").cast("bigint").alias("score"))
    )
    lab = sc.join(
        docs.select(
            "doc_id",
            F.when(F.col("n_chars") >= 300, 1).otherwise(0).alias("y"),
        ),
        "doc_id",
    ).withColumn(
        "bin", F.greatest(F.lit(-2), F.least(F.lit(5), F.expr("score div 2000")))
    )
    return lab.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("y").cast("bigint").alias("n_pos"),
        F.expr("cast((sum(y) * 1000000L) div count(*) as bigint)").alias(
            "pos_rate_micro"
        ),
        F.expr("cast(sum(score) div count(*) as bigint)").alias("avg_score"),
    )


def _q117_log(orders: DataFrame) -> DataFrame:
    """q117/q123's shared change log (the ONE-helper seam discipline):
    base snapshot rows as seq-0 upserts plus 3 epochs of synthesized
    upserts/deletes — (k+e)%4 selects changed keys, (k*e)%5 picks
    delete vs update.  Columns (k, status, cents, seq, op)."""
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    base = orders.filter(F.col("o_orderkey") % 10 < 8).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderstatus").alias("status"),
        cents.alias("cents"),
        F.lit(0).alias("seq"),
        F.lit("U").alias("op"),
    )
    chg = (
        orders.select(
            "o_orderkey", "o_orderstatus", cents.alias("__cents"),
            F.explode(F.array(F.lit(1), F.lit(2), F.lit(3))).alias("e"),
        )
        .filter((F.col("o_orderkey") + F.col("e")) % 4 == 0)
        .select(
            F.col("o_orderkey").alias("k"),
            F.col("o_orderstatus").alias("status"),
            (F.col("__cents") + F.col("e") * 100).alias("cents"),
            F.col("e").alias("seq"),
            F.when((F.col("o_orderkey") * F.col("e")) % 5 == 0, "D")
            .otherwise("U")
            .alias("op"),
        )
    )
    return base.unionByName(chg)


@query(
    "q117_cdc_merge",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             0 AS seq, 'U' AS op
      FROM orders WHERE o_orderkey % 10 < 8
    ), chg AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             CAST(round(o_totalprice * 100) AS BIGINT) + e * 100 AS cents,
             e AS seq,
             CASE WHEN (o_orderkey * e) % 5 = 0 THEN 'D' ELSE 'U' END AS op
      FROM orders, unnest([1, 2, 3]) te(e)
      WHERE (o_orderkey + e) % 4 = 0
    ), log_ AS (
      SELECT * FROM base UNION ALL SELECT * FROM chg
    ), latest AS (
      SELECT k, status, cents, seq, op,
             row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
      FROM log_
    )
    SELECT k AS o_orderkey, status, cents AS total_cents,
           CAST(seq AS BIGINT) AS last_seq
    FROM latest WHERE rn = 1 AND op = 'U'
    """,
)
def q117_cdc_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC changelog merge — MERGE INTO / log-compaction semantics (the
    Delta/Hudi/Iceberg upsert primitive, Kafka compacted-topic law):
    base snapshot + ordered change stream of upserts and deletes fold
    to last-writer-wins per key.  The base rows enter the log as seq-0
    upserts, so the WHOLE merge is ONE keyed window — no join at all:
    row_number() per key over seq DESC, keep rn=1, drop tombstones.
    At 100 TB this is the compaction shape every LSM store runs: one
    key shuffle, and the rn<=1 filter lowers to WindowGroupLimit so
    each map task keeps only its local latest row per key BEFORE the
    exchange (plan-pinned) — the shuffle carries ~|live keys|, not
    |log|.  Change ops are synthesized deterministically from orders
    (3 epochs; (k+e)%4 selects, (k*e)%5 picks delete vs update) so the
    oracle replays the exact merge."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("k").orderBy(F.col("seq").desc())
    return (
        _q117_log(orders)
        .withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") == "U"))
        .select(
            F.col("k").alias("o_orderkey"),
            "status",
            F.col("cents").alias("total_cents"),
            F.col("seq").cast("bigint").alias("last_seq"),
        )
    )


@query(
    "q118_k_anonymity",
    oracle="""
    WITH l0 AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS band,
             count(*) AS sz
      FROM customer GROUP BY 1, 2, 3
    ), l1 AS (
      SELECT c_nationkey, CAST(floor(c_acctbal / 5000) AS BIGINT) AS band,
             count(*) AS sz
      FROM customer GROUP BY 1, 2
    ), r0 AS (
      SELECT 0 AS level, CAST(count(*) AS BIGINT) AS n_classes,
             CAST(sum(sz) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_risk_classes,
             CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS n_risk_rows,
             CAST(max(sz) AS BIGINT) AS max_class_size
      FROM l0
    ), r1 AS (
      SELECT 1 AS level, CAST(count(*) AS BIGINT) AS n_classes,
             CAST(sum(sz) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_risk_classes,
             CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT) AS n_risk_rows,
             CAST(max(sz) AS BIGINT) AS max_class_size
      FROM l1
    )
    SELECT CAST(level AS BIGINT) AS level, n_classes, n_rows, n_risk_classes,
           n_risk_rows, max_class_size
    FROM (SELECT * FROM r0 UNION ALL SELECT * FROM r1)
    """,
)
def q118_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-ANONYMITY risk report (Sweeney 2002) — the re-identification
    audit a compliance pipeline runs beside t16's PII scrubbing: rows
    whose quasi-identifier combination (nation, market segment,
    account-balance band) lands in an equivalence class smaller than
    k=5 are re-identifiable by linkage.  Reported at two
    GENERALIZATION levels (the k-anonymity mitigation): level 0 =
    (nation, segment, $1000 bands), level 1 coarsens to (nation, $5000
    bands) — the level-1 risk mass shrinking against level 0 is the
    generalization working.  Scale shape: each level is ONE
    partial-aggregatable groupBy at table scale producing a
    classes-sized frame, the risk rollup is tiny, and no row-level
    data leaves the aggregate — at 100 TB this is two scans (or one
    with grouping sets if the QI lattice grows).  Band edges use
    floor() (IEEE-exact on both engines), never round()."""
    cust = _t(spark, sf_dir, "customer")

    def level(cols, div, lvl):
        classes = (
            cust.select(
                *cols, F.floor(F.col("c_acctbal") / div).cast("bigint").alias("band")
            )
            .groupBy(*cols, "band")
            .agg(F.count(F.lit(1)).alias("sz"))
        )
        return classes.agg(
            F.lit(lvl).cast("bigint").alias("level"),
            F.count(F.lit(1)).cast("bigint").alias("n_classes"),
            F.sum("sz").cast("bigint").alias("n_rows"),
            F.sum(F.when(F.col("sz") < 5, 1).otherwise(0))
            .cast("bigint")
            .alias("n_risk_classes"),
            F.sum(F.when(F.col("sz") < 5, F.col("sz")).otherwise(0))
            .cast("bigint")
            .alias("n_risk_rows"),
            F.max("sz").cast("bigint").alias("max_class_size"),
        )
    return level(["c_nationkey", "c_mktsegment"], 1000, 0).unionByName(
        level(["c_nationkey"], 5000, 1)
    )


@query(
    "q119_csv_ingest_dlq",
    oracle="""
    WITH good AS (
      SELECT c_nationkey,
             CAST(round(c_acctbal * 100) AS BIGINT) AS cents
      FROM customer WHERE c_custkey % 11 <> 3
    ), per AS (
      SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(cents) AS BIGINT) AS sum_cents
      FROM good GROUP BY 1
    ), dlq AS (
      SELECT CAST(-1 AS BIGINT) AS nationkey,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(0 AS BIGINT) AS sum_cents
      FROM customer WHERE c_custkey % 11 = 3
    )
    SELECT * FROM per UNION ALL SELECT * FROM dlq
    """,
)
def q119_csv_ingest_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ERROR-TOLERANT text ingest with a dead-letter queue — m10's
    decode-DLQ discipline applied to the TEXT side of the house: a CSV
    export where every c_custkey % 11 == 3 row carries a malformed
    integer field (the upstream-system corruption every real ingest
    meets) is read back under PERMISSIVE mode with a declared
    ``_corrupt`` column — malformed rows surface there instead of
    failing the job (the FAILFAST alternative) or silently vanishing
    (DROPMALFORMED), and route to the DLQ row while clean rows proceed
    to the aggregate.  Exact-integer cents round-trip the text format
    (doubles through CSV are a formatting lottery; integer columns are
    not).  At 100 TB the CSV scan parallelizes per-split like any text
    source, the corrupt predicate is a scan-side filter, and the DLQ
    is linear in BAD rows.  The oracle replays the corruption rule
    from the parquet table — so the whole CSV round trip, the
    PERMISSIVE split, and the aggregate are value-checked."""
    import os

    from mapreducehs_spark.sources.catalog import FIXTURE_ROOT, derived_fixture

    cust = _t(spark, sf_dir, "customer")

    def build(tmp: str) -> None:
        cents = F.round(F.col("c_acctbal") * 100).cast("bigint").cast("string")
        bad = F.col("c_custkey") % 11 == 3
        line = F.concat_ws(
            ",",
            F.col("c_custkey").cast("string"),
            F.col("c_name"),
            F.col("c_nationkey").cast("string"),
            F.when(bad, F.lit("@@")).otherwise(cents),
            F.col("c_mktsegment"),
        )
        cust.select(line.alias("value")).write.mode("overwrite").text(tmp)

    base = derived_fixture(
        os.path.join(FIXTURE_ROOT, "mapreducehs_csv_dlq"), sf_dir, ("customer",), build
    )
    parsed = (
        spark.read.schema(
            "custkey bigint, name string, nationkey bigint, cents bigint,"
            " mktsegment string, _corrupt string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(base)
    )
    # ONE scan, one aggregate: good rows route by nationkey, corrupt
    # rows route to the -1 DLQ bucket via a derived key — also dodges
    # Spark's corrupt-column-only-query restriction without caching
    route = (
        F.when(F.col("_corrupt").isNull(), F.col("nationkey"))
        .otherwise(F.lit(-1))
        .cast("bigint")
    )
    return parsed.groupBy(route.alias("nationkey")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(F.col("_corrupt").isNull(), F.col("cents")).otherwise(0)),
            F.lit(0),
        )
        .cast("bigint")
        .alias("sum_cents"),
    )


# =========================================================================
# Round 7 (7): approximate query processing (sampled estimate + SE)
# =========================================================================

#: q120's Bernoulli rate: p = 50/1000 = 1/20, chosen so the
#: Horvitz-Thompson scale-up (x20) and the variance constant
#: (1-p)/p^2 = (19/20)*400 = 380 are EXACT integers — the whole
#: estimator replays bit-for-bit with no float boundary.
_AQP_PERMILLE = 50


@query(
    "q120_aqp_estimates",
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag, CAST(round(l_quantity) AS BIGINT) AS qty
      FROM lineitem
      WHERE ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || ':' ||
                                CAST(l_linenumber AS VARCHAR) || ':aqp'), 1, 12))::BIGINT
            % 1000 < {_AQP_PERMILLE}
    )
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_sample,
           CAST(count(*) * 20 AS BIGINT) AS n_est,
           CAST(sum(qty) * 20 AS BIGINT) AS sum_qty_est,
           CAST(floor(sqrt(CAST(380 * sum(qty * qty) AS DOUBLE))) AS BIGINT)
             AS se_floor
    FROM s GROUP BY l_returnflag
    """,
)
def q120_aqp_estimates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROXIMATE QUERY PROCESSING (BlinkDB-style sampled aggregation,
    Agarwal et al. 2013) — the estimate-with-error-bars paradigm the
    sketch tier (q34/q41/q53/q107) does not cover: those bound DISTINCT
    or QUANTILE error; this estimates plain SUM/COUNT from a Bernoulli
    sample with a per-group standard error.  The sample membership is
    the house md5-fold draw on (l_orderkey, l_linenumber) at p = 1/20,
    so the Horvitz-Thompson scale-up (*20) and the variance constant
    (1-p)/p^2 = 380 are exact integers; the SE is floor(sqrt(380 *
    sum(qty^2))) where the radicand stays integer-valued below 2^53, so
    the IEEE-correctly-rounded sqrt and the floor are engine-exact (the
    t17 transcendental discipline).  At 100 TB: the sample predicate is
    a scan-side codegen filter — and the production posture PERSISTS the
    sample (a bucket column or partition, exactly how BlinkDB stores
    stratified samples) so the scan READS ~p of the data; either way the
    shuffle carries only the sampled rows and the output is
    groups-sized.  A 95% CI is est +- 2*se_floor*20/1e0 on the analyst's
    side; the query emits the exact-integer ingredients."""
    li = _t(spark, sf_dir, "lineitem")
    fold = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("l_orderkey").cast("string"),
                    F.col("l_linenumber").cast("string"),
                    F.lit("aqp"),
                )
            ),
            1,
            12,
        ),
        16,
        10,
    ).cast("bigint")
    qty = F.round("l_quantity").cast("bigint")
    return (
        li.filter(fold % 1000 < _AQP_PERMILLE)
        .select("l_returnflag", qty.alias("qty"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sample"),
            (F.count(F.lit(1)) * 20).cast("bigint").alias("n_est"),
            (F.sum("qty") * 20).cast("bigint").alias("sum_qty_est"),
            F.floor(
                F.sqrt((F.lit(380) * F.sum(F.col("qty") * F.col("qty"))).cast("double"))
            )
            .cast("bigint")
            .alias("se_floor"),
        )
    )


# =========================================================================
# Round 7 (9): weighted shortest paths (min-plus Bellman-Ford)
# =========================================================================


def _q121_oracle() -> str:
    """Unrolled Bellman-Ford: per round, FULL relaxation over the
    reached set (provably equal per-round to the changed-frontier
    variant the Spark side runs — an unchanged node's relaxations were
    already emitted the round after it last changed)."""
    head = """
    WITH raw AS (
      SELECT o.o_custkey * 2 AS src, l.l_suppkey * 2 + 1 AS dst,
             CAST(round(l.l_quantity) AS BIGINT) AS w
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ), edges AS (
      SELECT src, dst, CAST(min(w) AS BIGINT) AS w
      FROM (SELECT src, dst, w FROM raw
            UNION ALL SELECT dst, src, w FROM raw)
      GROUP BY 1, 2
    ), d0 AS (
      SELECT (SELECT min(src) FROM edges) AS node, CAST(0 AS BIGINT) AS d
    )"""
    parts = []
    for i in range(1, 4):
        prev = f"d{i - 1}"
        parts.append(f"""
    , d{i} AS (
      SELECT node, min(d) AS d FROM (
        SELECT node, d FROM {prev}
        UNION ALL
        SELECT e.dst AS node, p.d + e.w AS d
        FROM {prev} p JOIN edges e ON e.src = p.node
      ) GROUP BY node
    )""")
    tail = f"""
    SELECT node, d AS dist
    FROM d3
    ORDER BY d ASC, node ASC
    LIMIT 20
    """
    return head + "".join(parts) + tail


@query("q121_weighted_sssp", oracle=_q121_oracle())
def q121_weighted_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED single-source shortest paths — the min-plus semiring
    sibling of q108's BFS (hop counts become integer edge costs; the
    Bellman-Ford relaxation d'(v) = min(d(v), min_u d(u) + w(u,v))),
    over the q96/q108 trade graph with w = min trade quantity per pair.
    The Spark side runs the CHANGED-FRONTIER optimization: each round
    relaxes only nodes whose distance improved last round (tracked by a
    round tag carried through a struct-min — ties keep the OLD tag, so
    non-improvements never re-enter the frontier), which is the
    distributed form that makes bounded-round SSSP feasible at scale:
    per round one narrow (node, dist) frontier shuffle against the
    src-partitioned persisted adjacency, never an all-nodes relaxation.
    The oracle replays the mathematically-equal full relaxation
    unrolled; all distances are integers, so the top-20 nearest nodes
    match bit-for-bit.  The edge build pays ONE exchange total: raw
    pairs symmetrize first, repartition on src, and the (src, dst) min
    aggregates IN PARTITION (HashPartitioning(src) satisfies the
    clustered distribution — the q96 dedup-in-partition discipline).
    Per-round localCheckpoint keeps plan depth O(1) (q108's lineage
    lesson)."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    raw = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).select(
        (F.col("o_custkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
        F.round("l_quantity").cast("bigint").alias("w"),
    )
    with materialize(spark) as m:
        edges = m.persist(
            raw.unionByName(raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "w"))
            .repartition("src")
            .groupBy("src", "dst")
            .agg(F.min("w").alias("w"))
        )
        # lazy seed (round 12, q108's discipline): agg subtree instead
        # of a driver collect — one action for the whole relaxation.
        # Round 13 (ADVICE r12): non-eager checkpoint so the doubly
        # referenced 1-row seed is provably computed once (q108's fix).
        dist = m.checkpoint(
            edges.agg(F.min("src").alias("node")).select(
                "node",
                F.lit(0).cast("long").alias("d"),
                F.lit(0).cast("int").alias("r"),
            ),
            eager=False,
        )
        for rnd in range(1, 4):
            frontier = dist.filter(F.col("r") == rnd - 1)
            cand = frontier.join(edges, frontier["node"] == edges["src"]).select(
                F.col("dst").alias("node"),
                (F.col("d") + F.col("w")).alias("d"),
                F.lit(rnd).alias("r"),
            )
            merged = (
                dist.unionByName(cand)
                .groupBy("node")
                # struct-min: smallest d wins; on a TIE the smaller
                # (older) round tag wins, so non-improving candidates
                # never mark a node as changed
                .agg(F.min(F.struct("d", "r")).alias("s"))
                .select("node", F.col("s.d").alias("d"), F.col("s.r").alias("r"))
            )
            dist = m.checkpoint(merged, eager=False)
        return m.result(
            dist.select("node", F.col("d").alias("dist"))
            .orderBy(F.col("dist").asc(), F.col("node").asc())
            .limit(20)
        )



# =========================================================================
# Round 9: incremental MV maintenance under retractions (q94's dual)
# =========================================================================

_Q122_ORACLE = """
    WITH applied AS (
      SELECT CASE WHEN o_orderkey % 11 != 0 AND o_orderkey % 7 = 0
                  THEN CAST(o_totalprice AS DECIMAL(18, 2)) + 10.00
                  ELSE CAST(o_totalprice AS DECIMAL(18, 2)) END AS price,
             CASE WHEN o_orderkey % 11 != 0 AND o_orderkey % 7 = 0
                  THEN o_orderdate + INTERVAL 1 MONTH
                  ELSE o_orderdate END AS d
      FROM orders
      WHERE o_orderkey % 11 != 0
    )
    SELECT CAST(year(d) * 100 + month(d) AS BIGINT) AS month,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(price) AS VARCHAR) AS total_exact
    FROM applied GROUP BY 1
"""


@query("q122_incremental_mv_retraction", oracle=_Q122_ORACLE)
def q122_incremental_mv_retraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL MV MAINTENANCE UNDER RETRACTIONS — the half q94's
    append-only delta refresh cannot do: a CDC batch carrying DELETEs
    and UPDATEs (an update that MOVES a row across group boundaries is
    the hard case) maintains the stored monthly rollup by SIGNED
    deltas — delete ⇒ (-1, -price) against the old group; update ⇒ a
    retraction from the old month plus an insertion into the new —
    and the merged result must equal a full recompute of the
    post-CDC state bit-for-bit.  This is the incremental-view-
    maintenance contract of a lakehouse MERGE pipeline (count/sum are
    self-maintainable under retraction; the signed-delta algebra is
    the classic Gupta–Mumick counting method).

    CDC law (from o_orderkey, both engines replay it): key % 11 == 0 ⇒
    DELETE; else key % 7 == 0 ⇒ UPDATE (price + 10.00, order month + 1
    — a cross-group move).  Money stays DECIMAL(18,2) end to end
    (q84's exact-ledger recipe: decimal sums are exact under ANY
    partial-aggregation or merge order, so base ⊎ deltas == recompute
    is an identity, not an approximation); the canonical-string render
    pins it bit-for-bit.  Months as year·100+month BIGINT (never a raw
    timestamp — FIXTURES discipline); the +1 MONTH shift only needs
    the calendar month, so engine day-clamping differences are
    unreachable.

    Scale shape: in production the base MV is STORED (group-count
    rows, metadata scale) and only the CDC batch is scanned — modeled
    here by folding base partials with batch-only deltas whose
    predicates push into the scan; the merge is a group-keyed union +
    one rollup (no join at all), and a month whose rows all retract
    drops out via the n > 0 filter.  Reference witness: O2 mergeable
    fold (src/Core/MapReduceC.hs:25-26, the combiner-correctness
    property q94 pins for appends, extended to signed deltas)."""
    orders = _t(spark, sf_dir, "orders")
    key = F.col("o_orderkey")
    price = F.col("o_totalprice").cast("decimal(18,2)")
    m_old = (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("bigint")
    shifted = F.add_months("o_orderdate", 1)
    m_new = (F.year(shifted) * 100 + F.month(shifted)).cast("bigint")

    base_mv = orders.groupBy(m_old.alias("month")).agg(
        F.count(F.lit(1)).cast("bigint").alias("dn"),
        F.sum(price).alias("dtotal"),
    )
    is_del = key % 11 == 0
    is_upd = (key % 11 != 0) & (key % 7 == 0)
    d_rows = orders.filter(is_del).select(
        m_old.alias("month"),
        F.lit(-1).cast("bigint").alias("dn"),
        (price * -1).alias("dtotal"),
    )
    u_retract = orders.filter(is_upd).select(
        m_old.alias("month"),
        F.lit(-1).cast("bigint").alias("dn"),
        (price * -1).alias("dtotal"),
    )
    u_insert = orders.filter(is_upd).select(
        m_new.alias("month"),
        F.lit(1).cast("bigint").alias("dn"),
        (price + F.lit(10.00).cast("decimal(18,2)")).alias("dtotal"),
    )
    merged = (
        base_mv.select("month", "dn", F.col("dtotal").cast("decimal(28,2)").alias("dtotal"))
        .unionByName(d_rows.select("month", "dn", F.col("dtotal").cast("decimal(28,2)").alias("dtotal")))
        .unionByName(u_retract.select("month", "dn", F.col("dtotal").cast("decimal(28,2)").alias("dtotal")))
        .unionByName(u_insert.select("month", "dn", F.col("dtotal").cast("decimal(28,2)").alias("dtotal")))
        .groupBy("month")
        .agg(
            F.sum("dn").cast("bigint").alias("n_orders"),
            F.sum("dtotal").alias("total"),
        )
        .filter(F.col("n_orders") > 0)
    )
    return merged.select(
        "month",
        "n_orders",
        F.col("total").cast("decimal(38,2)").cast("string").alias("total_exact"),
    )


@query(
    "q123_time_travel",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             0 AS seq, 'U' AS op
      FROM orders WHERE o_orderkey % 10 < 8
    ), chg AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             CAST(round(o_totalprice * 100) AS BIGINT) + e * 100 AS cents,
             e AS seq,
             CASE WHEN (o_orderkey * e) % 5 = 0 THEN 'D' ELSE 'U' END AS op
      FROM orders, unnest([1, 2, 3]) te(e)
      WHERE (o_orderkey + e) % 4 = 0
    ), log_ AS (
      SELECT * FROM base UNION ALL SELECT * FROM chg
    ), snapped AS (
      SELECT l.*, s.snap
      FROM log_ l, unnest([1, 3]) s(snap)
      WHERE l.seq <= s.snap
    ), latest AS (
      SELECT snap, k, status, cents, seq, op,
             row_number() OVER (PARTITION BY snap, k ORDER BY seq DESC) AS rn
      FROM snapped
    )
    SELECT CAST(snap AS BIGINT) AS snapshot_seq, k AS o_orderkey, status,
           cents AS total_cents, CAST(seq AS BIGINT) AS last_seq
    FROM latest WHERE rn = 1 AND op = 'U'
    """,
)
def q123_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT / TIME-TRAVEL READ — the lakehouse `SELECT ... AS OF`
    primitive (Delta time travel, Iceberg snapshot reads) that closes
    the tier around q117's MERGE, q122's incremental MV, and q91's
    SCD2: reconstruct the table AS OF change-sequence s from q117's
    change log alone — latest row with seq ≤ s per key, tombstones
    dropped — at two pinned snapshots (s = 1 mid-stream, s = 3 = s_max)
    in one pass.  Conservation law (pytest-pinned): as_of(s_max) must
    equal q117's merge EXACTLY — the snapshot read and the compaction
    are the same fold stopped at different points, which is the
    correctness contract a time-travel implementation owes its users.

    Scale shape: the log is built once (the _q117_log seam), each row
    fans out only to the snapshots that can see it (≤ 2×), and the
    keyed-latest is q117's WindowGroupLimit shape on (snap, k) — ONE
    exchange total, carrying ~|snapshots| · |live keys| after the
    per-map-task group limit, never |log| (plan-pinned
    exchange_count == 1).  A real deployment reads the manifest to
    prune files by snapshot first; the fold here is what runs after
    that prune.  Reference witness: O2 keyed fold + O4 re-sort
    (src/Core/MapReduceC.hs:24-27)."""
    orders = _t(spark, sf_dir, "orders")
    snapped = (
        _q117_log(orders)
        .select("*", F.explode(F.array(F.lit(1), F.lit(3))).alias("snap"))
        .filter(F.col("seq") <= F.col("snap"))
    )
    w = Window.partitionBy("snap", "k").orderBy(F.col("seq").desc())
    return (
        snapped.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") == "U"))
        .select(
            F.col("snap").cast("bigint").alias("snapshot_seq"),
            F.col("k").alias("o_orderkey"),
            "status",
            F.col("cents").alias("total_cents"),
            F.col("seq").cast("bigint").alias("last_seq"),
        )
    )


#: q124/q125's shared log-replay CTE text — q117's base/chg/log_
#: construction verbatim (the _q117_log seam's oracle half).
_Q117_LOG_CTES = """base AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             0 AS seq, 'U' AS op
      FROM orders WHERE o_orderkey % 10 < 8
    ), chg AS (
      SELECT o_orderkey AS k, o_orderstatus AS status,
             CAST(round(o_totalprice * 100) AS BIGINT) + e * 100 AS cents,
             e AS seq,
             CASE WHEN (o_orderkey * e) % 5 = 0 THEN 'D' ELSE 'U' END AS op
      FROM orders, unnest([1, 2, 3]) te(e)
      WHERE (o_orderkey + e) % 4 = 0
    ), log_ AS (
      SELECT * FROM base UNION ALL SELECT * FROM chg
    )"""


@query(
    "q124_change_data_feed",
    oracle=f"""
    WITH {_Q117_LOG_CTES}, v AS (
      SELECT k, status, cents, seq, op,
             lag(op) OVER (PARTITION BY k ORDER BY seq) AS prev_op,
             lag(status) OVER (PARTITION BY k ORDER BY seq) AS prev_status,
             lag(cents) OVER (PARTITION BY k ORDER BY seq) AS prev_cents
      FROM log_
    ), w AS (
      SELECT * FROM v WHERE seq > 1 AND seq <= 3
    )
    SELECT CAST(seq AS BIGINT) AS change_seq, k AS o_orderkey,
           'insert' AS change_type, status, cents AS total_cents
    FROM w WHERE op = 'U' AND (prev_op IS NULL OR prev_op = 'D')
    UNION ALL
    SELECT CAST(seq AS BIGINT), k, 'update_preimage', prev_status, prev_cents
    FROM w WHERE op = 'U' AND prev_op = 'U'
    UNION ALL
    SELECT CAST(seq AS BIGINT), k, 'update_postimage', status, cents
    FROM w WHERE op = 'U' AND prev_op = 'U'
    UNION ALL
    SELECT CAST(seq AS BIGINT), k, 'delete', prev_status, prev_cents
    FROM w WHERE op = 'D' AND prev_op = 'U'
    """,
)
def q124_change_data_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE-DATA-FEED READ — Delta's `table_changes(from, to)` /
    Iceberg's changelog scan, the primitive an incremental CONSUMER
    (a downstream MV, a search-index updater, a reverse-ETL sync)
    reads instead of diffing snapshots: every change committed in
    sequence range (1, 3] is emitted as typed row images — `insert`
    (no live prior version), `update_preimage` + `update_postimage`
    (prior live version exists), `delete` (the destroyed image) —
    exactly the four-row-kind contract of Delta CDF.  A delete of an
    already-dead key and the base-load itself emit nothing.

    The prior version comes from ONE lag() window over q117's log
    (the `_q117_log` seam) — no self-join of the log against itself;
    the image fan-out is a per-row conditional array explode (≤ 2
    rows per change), so the single (k)-keyed exchange carries the
    log once and output is linear in CHANGES, never in table size.
    At 100 TB the log scan prunes to the requested sequence range
    first via the commit manifest; the window here spans versions
    only because preimages need the last pre-window version — a real
    deployment reads that from the range-pruned prior snapshot.
    Reference witness: O2 keyed ordered fold + O1 fission
    (src/Core/MapReduceC.hs:24-26)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("k").orderBy(F.col("seq").asc())
    v = (
        _q117_log(orders)
        .withColumn("prev_op", F.lag("op").over(w))
        .withColumn("prev_status", F.lag("status").over(w))
        .withColumn("prev_cents", F.lag("cents").over(w))
        .filter((F.col("seq") > 1) & (F.col("seq") <= 3))
    )
    images = F.when(
        (F.col("op") == "U")
        & (F.col("prev_op").isNull() | (F.col("prev_op") == "D")),
        F.array(
            F.struct(
                F.lit("insert").alias("change_type"),
                F.col("status").alias("status"),
                F.col("cents").alias("total_cents"),
            )
        ),
    ).when(
        (F.col("op") == "U") & (F.col("prev_op") == "U"),
        F.array(
            F.struct(
                F.lit("update_preimage").alias("change_type"),
                F.col("prev_status").alias("status"),
                F.col("prev_cents").alias("total_cents"),
            ),
            F.struct(
                F.lit("update_postimage").alias("change_type"),
                F.col("status").alias("status"),
                F.col("cents").alias("total_cents"),
            ),
        ),
    ).when(
        (F.col("op") == "D") & (F.col("prev_op") == "U"),
        F.array(
            F.struct(
                F.lit("delete").alias("change_type"),
                F.col("prev_status").alias("status"),
                F.col("prev_cents").alias("total_cents"),
            )
        ),
    ).otherwise(F.array().cast("array<struct<change_type:string,status:string,total_cents:bigint>>"))
    return (
        v.select(
            F.col("seq").cast("bigint").alias("change_seq"),
            F.col("k").alias("o_orderkey"),
            F.explode_outer(images).alias("__img"),
        )
        .filter(F.col("__img").isNotNull())
        .select(
            "change_seq",
            "o_orderkey",
            F.col("__img.change_type").alias("change_type"),
            F.col("__img.status").alias("status"),
            F.col("__img.total_cents").alias("total_cents"),
        )
    )


@query(
    "q125_vacuum_plan",
    oracle=f"""
    WITH {_Q117_LOG_CTES}, nxt AS (
      SELECT k, seq, op,
             lead(seq) OVER (PARTITION BY k ORDER BY seq) AS nxt_seq
      FROM log_
    ), cls AS (
      SELECT seq,
             CASE WHEN nxt_seq IS NOT NULL AND nxt_seq <= 2 THEN 1 ELSE 0 END AS vac,
             CASE WHEN op = 'D' AND nxt_seq IS NULL AND seq <= 2 THEN 1 ELSE 0 END
               AS purge_tomb
      FROM nxt
    )
    SELECT CAST(seq AS BIGINT) AS seq,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(vac) AS BIGINT) AS n_vacuumable,
           CAST(sum(purge_tomb) AS BIGINT) AS n_purgeable_tombstones,
           CAST(count(*) - sum(vac) - sum(purge_tomb) AS BIGINT) AS n_retained,
           CAST((sum(vac) + sum(purge_tomb)) * 1000000 // count(*) AS BIGINT)
             AS vacuum_ppm
    FROM cls GROUP BY 1
    """,
)
def q125_vacuum_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM / RETENTION PLAN — the physical-deletion planner behind
    Delta VACUUM / Iceberg `expire_snapshots` with retention horizon
    s_ret = 2 (snapshots below it are no longer readable): a log row
    is VACUUMABLE when a newer version of its key exists at sequence
    ≤ s_ret (it is shadowed at every still-readable snapshot — q123's
    read law can never return it), and a tombstone is PURGEABLE when
    it is its key's final version at sequence ≤ s_ret (every shadowed
    row beneath it is itself vacuumable, so nothing remains for it to
    mask).  Reported per commit sequence with the row counts an
    operator sizes reclaim from.

    One lead() window over q117's log (the `_q117_log` seam) + one
    seq-keyed rollup — the exchange carries the log once and the
    output is 4 rows; no join, no self-diff of snapshots.  At 100 TB
    this is the metadata pass that runs BEFORE any data file is
    touched: decisions are per log entry, file-level reclaim follows
    from the manifest mapping.  Reference witness: O2 keyed ordered
    fold (src/Core/MapReduceC.hs:25-26)."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("k").orderBy(F.col("seq").asc())
    nxt = _q117_log(orders).withColumn("nxt_seq", F.lead("seq").over(w))
    vac = (F.col("nxt_seq").isNotNull() & (F.col("nxt_seq") <= 2)).cast("bigint")
    purge = (
        (F.col("op") == "D") & F.col("nxt_seq").isNull() & (F.col("seq") <= 2)
    ).cast("bigint")
    return (
        nxt.select(F.col("seq").cast("bigint").alias("seq"),
                   vac.alias("vac"), purge.alias("purge_tomb"))
        .groupBy("seq")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("vac").cast("bigint").alias("n_vacuumable"),
            F.sum("purge_tomb").cast("bigint").alias("n_purgeable_tombstones"),
            (F.count(F.lit(1)) - F.sum("vac") - F.sum("purge_tomb"))
            .cast("bigint")
            .alias("n_retained"),
            F.expr(
                "CAST((sum(vac) + sum(purge_tomb)) * 1000000 div count(*) AS BIGINT)"
            ).alias("vacuum_ppm"),
        )
    )


# =========================================================================
# Round 11 (3): schema-evolution read (q126)
# =========================================================================

_Q126_ORACLE = """
    WITH g1 AS (
      SELECT o_orderstatus AS status,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders WHERE o_orderkey % 2 = 0
    ), g2 AS (
      SELECT o_orderstatus AS status,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             o_orderpriority AS channel
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT 'gen1' AS generation, status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(0 AS BIGINT) AS n_with_channel
    FROM g1 GROUP BY 2
    UNION ALL
    SELECT 'gen2' AS generation, status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS total_cents,
           CAST(count(channel) AS BIGINT) AS n_with_channel
    FROM g2 GROUP BY 2
"""


#: The session confs under which a read resolves parquet columns by
#: field id (q126's batch read, st35's stream).
FIELD_ID_READ_CONFS = {
    "spark.sql.parquet.fieldId.read.enabled": "true",
    "spark.sql.parquet.fieldId.read.ignoreMissing": "true",
}


def _q126_fixture(spark: SparkSession, sf_dir: str):
    """q126's two-generation field-id fixture as the ONE seam helper
    (st35 streams the same directory): builds gen1 (k/status/cents
    int32, field ids 1..3) and gen2 (field 3 renamed amount_cents +
    widened bigint, field 4 channel added) under the committed orders
    split, and returns ``(base_dir, canonical_schema)`` — the id-keyed
    read schema (ids 1..4) that resolves BOTH generations per file
    footer."""
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from mapreducehs_spark.sources.catalog import FIXTURE_ROOT, derived_fixture

    orders = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0)

    def build(tmp: str) -> None:
        # generation 1: pre-evolution export (cents int32, field id 3)
        (
            orders.filter(F.col("o_orderkey") % 2 == 0)
            .select(
                F.col("o_orderkey").alias("k", metadata={"parquet.field.id": 1}),
                F.col("o_orderstatus").alias(
                    "status", metadata={"parquet.field.id": 2}
                ),
                cents.cast("int").alias("cents", metadata={"parquet.field.id": 3}),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(tmp, "gen1"))
        )
        # generation 2: field 3 renamed + widened, field 4 added
        (
            orders.filter(F.col("o_orderkey") % 2 == 1)
            .select(
                F.col("o_orderkey").alias("k", metadata={"parquet.field.id": 1}),
                F.col("o_orderstatus").alias(
                    "status", metadata={"parquet.field.id": 2}
                ),
                cents.cast("bigint").alias(
                    "amount_cents", metadata={"parquet.field.id": 3}
                ),
                F.col("o_orderpriority").alias(
                    "channel", metadata={"parquet.field.id": 4}
                ),
            )
            .write.mode("overwrite")
            .parquet(os.path.join(tmp, "gen2"))
        )

    base = derived_fixture(
        os.path.join(FIXTURE_ROOT, "mapreducehs_schevo"), sf_dir, ("orders",), build
    )
    md = lambda i: {"parquet.field.id": i}  # noqa: E731
    canonical = StructType(
        [
            StructField("k", LongType(), True, md(1)),
            StructField("status", StringType(), True, md(2)),
            StructField("amount_cents", LongType(), True, md(3)),
            StructField("channel", StringType(), True, md(4)),
        ]
    )
    return base, canonical


def _q126_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q126's pre-checkpoint frame (q107 pin recipe): builds the
    two-generation fixture and returns the field-id-unified rollup;
    the caller owns the fieldId read confs + materialization.
    See q126_schema_evolution_read for the full design argument,
    which continues: the last lakehouse reader primitive next
    to q123/q124/q125: two physical parquet generations of the same
    table, where generation 2 RENAMED a column (cents -> amount_cents),
    WIDENED its type (int32 -> bigint), and ADDED one (channel), are
    unified through the parquet FIELD-ID contract — Iceberg's column
    resolution law and Delta's `delta.columnMapping.mode = id`: every
    column carries a stable numeric id in the file footer, and readers
    match the requested schema BY ID, never by name or position.  One
    canonical read schema (ids 1..4, the table's current logical
    schema) therefore reads BOTH generations: gen1's `cents` lands in
    `amount_cents` because it is field 3, its int32 values widen to
    bigint in the scan, and the missing field 4 back-fills NULL —
    q90's name-based unionByName cannot express the rename without a
    side table; the id contract makes it metadata-only.

    The fixture writes real field ids through Spark's own
    `parquet.field.id` column metadata (write side) and reads them
    back under `spark.sql.parquet.fieldId.read.enabled` — the whole
    rename/widen/back-fill round trip happens in the vectorized scan,
    and the oracle replays the generation split from the base table so
    the round trip is value-checked end to end.

    Scale shape: ONE FileScan per generation (plan-pinned), each with
    the canonical ReadSchema resolved per file footer — no shuffle
    until the final tiny rollup; at 100 TB this is exactly how an
    Iceberg/Delta table with years of heterogeneous files is read
    (resolution is per-file and embarrassingly parallel).  Reference
    witness: O12 pluggable-store read path (src/Core/Store.hs) —
    the store contract is keyed by stable ids, not display names."""
    import os

    base, canonical = _q126_fixture(spark, sf_dir)
    frames = [
        spark.read.schema(canonical)
        .parquet(os.path.join(base, gen))
        .withColumn("generation", F.lit(gen))
        for gen in ("gen1", "gen2")
    ]
    return (
        frames[0]
        .unionByName(frames[1])
        .groupBy("generation", "status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("amount_cents").cast("bigint").alias("total_cents"),
            F.count("channel").cast("bigint").alias("n_with_channel"),
        )
    )


@query("q126_schema_evolution_read", oracle=_Q126_ORACLE)
def q126_schema_evolution_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA-EVOLUTION READ — the last lakehouse reader primitive
    next to q123/q124/q125: two physical parquet generations of the
    same table — generation 2 RENAMED a column (cents ->
    amount_cents), WIDENED its type (int32 -> bigint), and ADDED one
    (channel) — are unified through the parquet FIELD-ID contract
    (Iceberg's column resolution law; Delta's `delta.columnMapping
    .mode = id`): every column carries a stable numeric id in the
    file footer and readers match the requested schema BY ID, never
    by name or position, so one canonical read schema (ids 1..4)
    reads BOTH generations — the rename, the int32->bigint widening,
    and the NULL back-fill all happen in the vectorized scan.  The
    full design argument lives on _q126_build; the oracle replays the
    generation split from the base table, value-checking the write+
    read round trip end to end.  The fieldId read confs are set only
    around the materialization (the result checkpoint) so the session
    is left untouched."""
    # the field-id scan confs must be live when the scan RUNS, not
    # just when the plan is built — materialize before restoring
    with scoped_confs(spark, FIELD_ID_READ_CONFS):
        with materialize(spark) as m:
            return m.result(_q126_build(spark, sf_dir))


# =========================================================================
# Round 11 (4): partition-spec evolution read (q127)
# =========================================================================

_Q127_ORACLE = """
    WITH src AS (
      SELECT o_orderkey, o_orderstatus AS status,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             strftime(o_orderdate, '%Y-%m') AS month
      FROM orders
    ), g1 AS (
      SELECT * FROM src WHERE o_orderkey % 2 = 0
    ), g2 AS (
      SELECT * FROM src WHERE o_orderkey % 2 = 1
    ), u AS (
      SELECT 'gen1' AS generation, month, status, cents FROM g1
      UNION ALL
      SELECT 'gen2' AS generation, month, status, cents FROM g2
    )
    SELECT generation, month, status,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM u
    WHERE month >= '1995-01' AND month <= '1995-03'
    GROUP BY 1, 2, 3
"""


def _q127_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q127's pre-checkpoint frame (q107 pin recipe): two physical
    layouts of one logical table — gen1 flat parquet (month is a DATA
    column), gen2 hive-partitioned by month (month is a DIRECTORY) —
    read under one predicate; the caller materializes."""
    import os

    from mapreducehs_spark.sources.catalog import FIXTURE_ROOT, derived_fixture

    src = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("cents"),
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
    )

    def build(tmp: str) -> None:
        # generation 1: the pre-evolution layout — flat files, month
        # is an ordinary column (pruning must come from row-group
        # stats / pushed filters)
        (
            src.filter(F.col("o_orderkey") % 2 == 0)
            .drop("o_orderkey")
            .write.mode("overwrite")
            .parquet(os.path.join(tmp, "gen1"))
        )
        # generation 2: the evolved spec — hive-partitioned by month
        # (pruning is directory-level, before any file opens)
        (
            src.filter(F.col("o_orderkey") % 2 == 1)
            .drop("o_orderkey")
            .write.mode("overwrite")
            .partitionBy("month")
            .parquet(os.path.join(tmp, "gen2"))
        )

    base = derived_fixture(
        os.path.join(FIXTURE_ROOT, "mapreducehs_pspec"), sf_dir, ("orders",), build
    )
    in_range = (F.col("month") >= "1995-01") & (F.col("month") <= "1995-03")
    frames = [
        spark.read.parquet(os.path.join(base, gen))
        .filter(in_range)
        .withColumn("generation", F.lit(gen))
        .select("generation", F.col("month").cast("string").alias("month"),
                "status", "cents")
        for gen in ("gen1", "gen2")
    ]
    return (
        frames[0]
        .unionByName(frames[1])
        .groupBy("generation", "month", "status")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("total_cents"),
        )
    )


@query("q127_partition_spec_evolution", oracle=_Q127_ORACLE)
def q127_partition_spec_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION-SPEC EVOLUTION READ — q126's sibling on the LAYOUT
    axis (Iceberg's headline feature: evolve the partition spec
    without rewriting old data): generation 1 of the table was
    exported FLAT (month is a data column inside the files),
    generation 2 is hive-partitioned BY month (month is a directory
    key).  One logical read with one predicate plans per-layout:
    gen2's scan prunes DIRECTORIES before opening a file
    (PartitionFilters, plan-pinned) while gen1's scan pushes the same
    predicate to row-group stats (PushedFilters, plan-pinned) — the
    engine-side half of what Iceberg's per-file spec-id dispatch does,
    expressed with two scans over the two physical prefixes.

    The oracle replays the generation split and the month predicate
    from the base table, value-checking the whole write+read+prune
    round trip.  Scale shape: at 100 TB the unselected months of gen2
    cost ZERO I/O (directory pruning) and of gen1 cost only footer
    reads — exactly why specs get evolved; the rollup is the only
    exchange.  Reference witness: O12 pluggable-store read path
    (src/Core/Store.hs) + O7 key-range partitioning (divides)."""
    with materialize(spark) as m:
        return m.result(_q127_build(spark, sf_dir))


def _q128_oracle() -> str:
    """Skipping-effectiveness oracle rendered from the same Morton bit
    arithmetic as operators/layout.zorder_value (bits=8), the same
    64-file assignment laws, and the same 16-probe workload grid as the
    Spark arm — all integer, so both engines agree bit-for-bit."""
    terms = " + ".join(
        f"(((xk >> {k}) & 1) << {2 * k}) + (((yk >> {k}) & 1) << {2 * k + 1})"
        for k in range(8)
    )
    return f"""
    WITH keyed AS (
      SELECT l_orderkey % 256 AS xk,
             CAST(round(l_extendedprice * 100, 0) AS BIGINT) % 256 AS yk
      FROM lineitem
    ), z AS (
      SELECT xk, yk, ({terms}) AS zval FROM keyed
    ), tagged AS (
      SELECT 'linear' AS layout, (xk * 256 + yk) // 1024 AS file_id, xk, yk FROM z
      UNION ALL
      SELECT 'zorder' AS layout, zval // 1024 AS file_id, xk, yk FROM z
    ), stats AS (
      SELECT layout, file_id,
             min(xk) AS min_x, max(xk) AS max_x,
             min(yk) AS min_y, max(yk) AS max_y,
             CAST(count(*) AS BIGINT) AS n_rows
      FROM tagged GROUP BY 1, 2
    ), probes AS (
      SELECT i AS probe_id,
             (i % 4) * 64 + 16 AS xlo, (i % 4) * 64 + 47 AS xhi,
             (i // 4) * 64 + 24 AS ylo, (i // 4) * 64 + 55 AS yhi
      FROM range(16) AS t(i)
    )
    SELECT layout, probe_id,
           CAST(count(*) AS BIGINT) AS files_hit,
           CAST(sum(n_rows) AS BIGINT) AS rows_scanned
    FROM stats JOIN probes
      ON min_x <= xhi AND max_x >= xlo AND min_y <= yhi AND max_y >= ylo
    GROUP BY 1, 2
    """


@query("q128_skipping_effectiveness", oracle=_q128_oracle())
def q128_skipping_effectiveness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SKIPPING-EFFECTIVENESS READOUT — the decision table behind
    ``OPTIMIZE ... ZORDER BY``: q76 computes the clustering KEY; this
    query prices what re-clustering would BUY for a concrete probe
    workload, entirely from file-level min-max metadata.  Both
    candidate layouts are simulated from the same single scan — the
    x-major linear sort (``(xk*256+yk) div 1024``: 64 key-ordered
    files, each spanning the full y range) and the Morton layout
    (``zval div 1024``: 64 files that are EXACT 32×32 aligned tiles of
    the key plane, the quadtree property pinned in
    tests/test_operators.py) — by exploding each row into its two
    (layout, file) assignments; map-side partial aggregation collapses
    the doubled rows to ≤128 groups per task before the ONE data-scale
    exchange, so the explode costs no shuffle volume.  The resulting
    ≤128-row stats frame joins a broadcast 16-probe rectangle workload
    on min-max overlap (the exact check a reader's file-pruning does
    against footer stats), and the readout reports per-(layout, probe)
    files_hit / rows_scanned — the table a layout decision is gated on.

    At 100 TB the stats frame IS the table's metadata (1 row per file,
    like q105's manifest): the probe join and readout are
    metadata-scale, and the one data-scale pass is scan-shaped with a
    combiner-collapsed shuffle.  All laws are integer (bit interleave,
    integer division, counts), so the DuckDB oracle replays them
    bit-for-bit.  Reference witness: O7 key-range partitioning
    (``divides``, src/Core/MapReduce.hs) + O12 store read path
    (src/Core/Store.hs) — the reference shuffles by opaque hash;
    this is the layout-aware refinement its store never had."""
    from mapreducehs_spark.operators.layout import zorder_value

    li = _t(spark, sf_dir, "lineitem")
    xk = (F.col("l_orderkey") % 256).cast("bigint")
    yk = (F.round(F.col("l_extendedprice") * 100, 0).cast("bigint") % 256).cast(
        "bigint"
    )
    keyed = li.select(
        xk.alias("xk"),
        yk.alias("yk"),
        zorder_value(xk, yk, bits=8).alias("zval"),
    )
    tagged = keyed.select(
        "xk",
        "yk",
        F.explode(
            F.array(
                F.struct(
                    F.lit("linear").alias("layout"),
                    F.expr("(xk * 256 + yk) div 1024").alias("file_id"),
                ),
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.expr("zval div 1024").alias("file_id"),
                ),
            )
        ).alias("lf"),
    )
    stats = tagged.groupBy(
        F.col("lf.layout").alias("layout"), F.col("lf.file_id").alias("file_id")
    ).agg(
        F.min("xk").alias("min_x"),
        F.max("xk").alias("max_x"),
        F.min("yk").alias("min_y"),
        F.max("yk").alias("max_y"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    probes = spark.range(16).select(
        F.col("id").alias("probe_id"),
        ((F.col("id") % 4) * 64 + 16).alias("xlo"),
        ((F.col("id") % 4) * 64 + 47).alias("xhi"),
        (F.expr("id div 4") * 64 + 24).alias("ylo"),
        (F.expr("id div 4") * 64 + 55).alias("yhi"),
    )
    hit = stats.join(
        F.broadcast(probes),
        (F.col("min_x") <= F.col("xhi"))
        & (F.col("max_x") >= F.col("xlo"))
        & (F.col("min_y") <= F.col("yhi"))
        & (F.col("max_y") >= F.col("ylo")),
    )
    return hit.groupBy("layout", "probe_id").agg(
        F.count(F.lit(1)).alias("files_hit"),
        F.sum("n_rows").cast("bigint").alias("rows_scanned"),
    )


_Q129_ORACLE = """
WITH tagged AS (
  SELECT 'by_order' AS layout, o_orderkey // 40 AS file_id,
         CASE WHEN o_custkey % 37 = 0 THEN 1 ELSE 0 END AS is_del,
         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS cents
  FROM orders
  UNION ALL
  SELECT 'by_cust', o_custkey // 16,
         CASE WHEN o_custkey % 37 = 0 THEN 1 ELSE 0 END,
         CAST(round(o_totalprice * 100, 0) AS BIGINT)
  FROM orders
), files AS (
  SELECT layout, file_id,
         CAST(count(*) AS BIGINT) AS n_rows,
         CAST(sum(is_del) AS BIGINT) AS n_del,
         CAST(sum(cents) AS BIGINT) AS bytes
  FROM tagged GROUP BY 1, 2
)
SELECT layout,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(CASE WHEN n_del > 0 THEN 1 ELSE 0 END) AS BIGINT) AS files_rewritten,
       CAST(sum(CASE WHEN n_del > 0 THEN n_rows ELSE 0 END) AS BIGINT) AS rows_rewritten,
       CAST(sum(CASE WHEN n_del > 0 THEN bytes ELSE 0 END) AS BIGINT) AS bytes_rewritten,
       CAST(sum(n_del) AS BIGINT) AS rows_deleted,
       CAST(sum(CASE WHEN n_del > 0 THEN n_rows ELSE 0 END) * 1000000
            // sum(n_del) AS BIGINT) AS amp_micro
FROM files GROUP BY 1
"""


@query("q129_erasure_rewrite_plan", oracle=_Q129_ORACLE)
def q129_erasure_rewrite_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ERASURE REWRITE PLAN — compliance's layout bill: a
    right-to-be-forgotten batch (the deterministic ``o_custkey % 37``
    cohort standing in for the delete-request table) must REWRITE every
    immutable file containing any victim row, so the real cost of a
    deletion SLA is write amplification, and the table's clustering
    decides it.  Both candidate layouts are priced from ONE scan
    (q128's explode-tagged simulation): order-clustered files
    (``o_orderkey div 40``, the natural append order) scatter each
    customer across the table, while customer-clustered files
    (``o_custkey div 16``) confine the blast radius; per (layout, file)
    the combiner-collapsed aggregate counts rows, victims, and byte
    mass, and the metadata-scale rollup reports files/rows/bytes
    rewritten plus exact integer amplification
    (``rows_rewritten·1e6 div rows_deleted`` micro-units) — measured at
    sf0.1: 24.3x under append order vs 15.6x customer-clustered, the
    number a GDPR-erasure runbook is costed on.

    At 100 TB this is how erasure is actually planned: the per-file
    victim counts come from the delete-key x file-stats metadata join
    (here fused into the tagging scan because the cohort is a
    predicate), the plan output is O(files), and the rewrite job it
    feeds is q105's executor (layout.execute_compaction_plan's
    one-task-per-bin contract).  All-integer laws; the oracle replays
    both layouts bit-for-bit.  Reference witness: O7 hash partitioning
    (divides, src/Core/MapReduce.hs:33) + O12 store write path
    (src/Core/Store.hs)."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("bigint")
    is_del = (F.col("o_custkey") % 37 == 0).cast("bigint")
    tagged = o.select(
        is_del.alias("is_del"),
        cents.alias("cents"),
        F.explode(
            F.array(
                F.struct(
                    F.lit("by_order").alias("layout"),
                    F.expr("o_orderkey div 40").alias("file_id"),
                ),
                F.struct(
                    F.lit("by_cust").alias("layout"),
                    F.expr("o_custkey div 16").alias("file_id"),
                ),
            )
        ).alias("lf"),
    )
    files = tagged.groupBy(
        F.col("lf.layout").alias("layout"), F.col("lf.file_id").alias("file_id")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("is_del").cast("bigint").alias("n_del"),
        F.sum("cents").cast("bigint").alias("bytes"),
    )
    hit = F.col("n_del") > 0
    return files.groupBy("layout").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_files"),
        F.sum(hit.cast("bigint")).cast("bigint").alias("files_rewritten"),
        F.sum(F.when(hit, F.col("n_rows")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("rows_rewritten"),
        F.sum(F.when(hit, F.col("bytes")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("bytes_rewritten"),
        F.sum("n_del").cast("bigint").alias("rows_deleted"),
        F.expr(
            "cast(sum(case when n_del > 0 then n_rows else 0 end) * 1000000"
            " div sum(n_del) as bigint)"
        ).alias("amp_micro"),
    )
