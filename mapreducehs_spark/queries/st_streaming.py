"""Structured Streaming queries (st-series).

Split out of the former single-module queries.py (round 8, zero
behavior change — plan fingerprints held).
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd  # noqa: F401 — needed to resolve postponed pd.Series hints in pandas UDFs

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducehs_spark.operators import dedup, multimodal, similarity, text, windows
from mapreducehs_spark.operators import sampling as _sampling
from mapreducehs_spark.operators.iteration import materialize
from mapreducehs_spark.operators.joins import asof_join
from mapreducehs_spark.pipeline import word_count_pipeline
from mapreducehs_spark.sources.catalog import load_table

from mapreducehs_spark.queries._registry import ORACLE, QUERIES, query  # noqa: F401
from mapreducehs_spark.queries._shared import (  # noqa: F401
    _MIX_CTES,
    _Q115_FUNNEL_ORACLE,
    _T26_ORACLE,
    _d11_oracle,
    _mixture_rates,
    _mixture_tok,
    _t,
)
from mapreducehs_spark.queries.q_ext import (  # noqa: F401
    q91_scd2_dimension,
)
from mapreducehs_spark.queries.t_text import _T40_CTX

# =========================================================================
# Structured Streaming (SURVEY §2.2 streaming row; M3) — each query runs
# a real readStream over a time-ordered replay of `events` (one chunk
# per trigger, flush sentinel to advance the final watermark; see
# streaming/ops.py for why this makes append-mode output deterministic
# and therefore oracle-checkable).
# =========================================================================

def _replayed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreducehs_spark import streaming as st

    replay = st.prepare_stream_dir(spark, sf_dir, n_chunks=4)
    return st.events_stream(spark, replay)


def _state_bound(sf_dir: str, table: str = "events") -> int:
    """Upper bound on a stateful topology's retained state over the
    replayed ``table``, in bytes: watermarked/stateful operators retain
    at most the rows inside their watermark/TTL horizon, which for the
    bounded replay is at most the whole input — 4x its parquet bytes
    covers columnar compression + row-format state overhead.
    Data-derived (scales with the SF dir / the production horizon),
    never a core count; feeds ``streaming.ops.state_partitions_for``
    (~64 MB of state per store partition, floor 8).  A directory-style
    table counts its part files (hidden ``.``/``_`` files excluded, as
    Spark's reader does), not the directory inode."""
    import os

    path = os.path.join(sf_dir, f"{table}.parquet")
    if os.path.isfile(path):
        return 4 * os.path.getsize(path)
    if not os.path.isdir(path):
        raise FileNotFoundError(f"state bound: no table at {path}")
    return 4 * sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


def _events_state_bound(sf_dir: str) -> int:
    return _state_bound(sf_dir, "events")


@query(
    "st01_stream_tumbling",
    oracle="""
    SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def st01_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming watermarked tumbling-window agg == the batch aggregate
    (no late data by replay construction — differential vs DuckDB)."""
    from mapreducehs_spark import streaming as st

    agg = st.tumbling_aggregate(
        _replayed_events(spark, sf_dir), window="1 hour", watermark="30 minutes"
    )
    out = st.run_to_batch(
        agg, "st01_sink", output_mode="append",
        state_bytes=_state_bound(sf_dir),
    )
    # sentinel dropped from the BATCH result (an in-stream filter on a
    # group key would be pushed below the watermark; see streaming/ops.py)
    return out.filter(F.col("event_type") != "__flush__")


@query(
    "st02_stream_sessions",
    oracle="""
    WITH lagged AS (
      SELECT user_id, event_id, value, epoch(ts) AS tsec,
             lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS prev
      FROM events
    ), flagged AS (
      -- >= : Spark session windows are [start, last+gap) — an event at
      -- exactly last+gap starts a NEW session
      SELECT *, CASE WHEN prev IS NULL OR tsec - prev >= 1800 THEN 1 ELSE 0 END AS news
      FROM lagged
    ), sess AS (
      SELECT user_id, value, tsec,
             sum(news) OVER (PARTITION BY user_id ORDER BY tsec ASC, event_id ASC
                             ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT user_id,
           CAST(floor(min(tsec)) AS BIGINT) AS session_start,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM sess
    GROUP BY user_id, session_id
    """,
)
def st02_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session_window (30-min gap) per user, append mode —
    differential vs islands-and-gaps sessionization in DuckDB."""
    from mapreducehs_spark import streaming as st

    agg = st.session_aggregate(
        _replayed_events(spark, sf_dir), gap="30 minutes", watermark="30 minutes"
    )
    out = st.run_to_batch(
        agg, "st02_sink", output_mode="append",
        state_bytes=_state_bound(sf_dir),
    )
    return out.filter(F.col("user_id") >= 0)  # drop the sentinel's session


@query(
    "st03_stream_stateful_totals",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           round(sum(coalesce(value, 0)), 4) AS total_value
    FROM events
    GROUP BY user_id
    """,
)
def st03_stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running totals; final snapshot == batch groupBy."""
    from mapreducehs_spark import streaming as st

    updates = st.stateful_user_totals(_replayed_events(spark, sf_dir))
    log = st.run_to_batch(
        updates, "st03_sink", output_mode="append",
        state_bytes=_state_bound(sf_dir),
    )
    from mapreducehs_spark.streaming.ops import latest_per_user

    return latest_per_user(log)


@query(
    "st04_stream_dedup",
    oracle="""
    SELECT DISTINCT user_id, event_type
    FROM events
    """,
)
def st04_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup (state-backed dropDuplicates) — the
    idempotent-ingest shape of the LLM-pipeline dedup tier; the batch
    oracle is SELECT DISTINCT.  See streaming/ops.stream_distinct for
    the bounded-state (dropDuplicatesWithinWatermark) variant used on
    unbounded ingests."""
    from mapreducehs_spark import streaming as st

    deduped = st.stream_distinct(
        _replayed_events(spark, sf_dir), keys=["user_id", "event_type"]
    )
    return st.run_to_batch(
        deduped, "st04_sink", output_mode="append",
        state_bytes=_state_bound(sf_dir),
    )


@query(
    "st05_stream_stream_join",
    oracle="""
    SELECT c.user_id,
           c.event_id AS click_id,
           p.event_id AS purchase_id,
           CAST(floor(epoch(c.ts)) AS BIGINT) AS click_epoch,
           CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch,
           round(p.value, 4) AS purchase_value
    FROM events c
    JOIN events p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    """,
)
def st05_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join with event-time range condition +
    watermarks on both sides (bounded join state — the only shape that
    survives an unbounded stream).  Differential vs the batch interval
    join in DuckDB; equality holds because inner joins emit on match and
    the ordered replay never lets the watermark evict a click before its
    30-minute match horizon has streamed past."""
    from mapreducehs_spark import streaming as st

    joined = st.clicks_then_purchases(
        _replayed_events(spark, sf_dir), within="30 minutes", watermark="1 hour"
    )
    # state partitions from the topology's state bound (round 13): a
    # stream-stream join runs FOUR state stores per partition and each
    # instance pays a fixed per-micro-batch commit cost — size the
    # partition count by state volume, not core count (see
    # streaming/ops.state_partitions_for).
    return st.run_to_batch(
        joined,
        "st05_sink",
        output_mode="append",
        state_bytes=_events_state_bound(sf_dir),
    )


@query(
    "st06_stream_sliding",
    oracle="""
    WITH slides AS (
      SELECT e.event_type, e.value,
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
    SELECT window_start_epoch, event_type,
           count(*) AS n_events, round(sum(value), 4) AS sum_value
    FROM slides
    GROUP BY 1, 2
    """,
)
def st06_stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming watermarked SLIDING-window agg (15 min window / 5 min
    slide, per event type) == the batch sliding aggregate: the
    overlapping-window counterpart of st01, bounded state via watermark
    expiry (see streaming/ops.sliding_aggregate)."""
    from mapreducehs_spark import streaming as st

    agg = st.sliding_aggregate(
        _replayed_events(spark, sf_dir),
        window="15 minutes",
        slide="5 minutes",
        watermark="30 minutes",
    )
    out = st.run_to_batch(
        agg, "st06_sink", output_mode="append",
        state_bytes=_state_bound(sf_dir),
    )
    return out.filter(F.col("event_type") != "__flush__")


@query(
    "st07_stream_static_join",
    oracle="""
    SELECT e.event_id, e.user_id, e.event_type,
           CAST(floor(epoch(e.ts)) AS BIGINT) AS event_epoch,
           round(e.value, 4) AS value,
           n.n_name AS n_name
    FROM events e
    LEFT JOIN customer c ON c.c_custkey = e.user_id
    LEFT JOIN nation n   ON n.n_nationkey = c.c_nationkey
    """,
)
def st07_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast enrichment (streaming.enrich_with_dim):
    every micro-batch left-joins the event stream against the static
    customer→nation dimension.  Stateless append — no watermark, no
    state store, exactly one output row per event; the batch oracle is
    the identical left join.  The canonical shape for attaching
    slowly-changing reference data to an unbounded ingest."""
    from mapreducehs_spark import streaming as st

    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    dim = cust.join(nation, cust.c_nationkey == nation.n_nationkey, "left_outer").select(
        "c_custkey", "n_name"
    )
    enriched = st.enrich_with_dim(_replayed_events(spark, sf_dir), dim)
    out = st.run_to_batch(enriched, "st07_sink", output_mode="append")
    return out.filter(F.col("event_type") != "__flush__")


@query(
    "st08_stream_late_data",
    oracle="""
    WITH b AS (
      SELECT max(ts) AS tmax,
             (SELECT max(ts) FROM events WHERE ts < (SELECT max(ts) FROM events)) AS m0
      FROM events
    ),
    keep AS (
      SELECT e.* FROM events e, b
      WHERE NOT (e.ts >= b.tmax - INTERVAL 5400 SECOND
                 AND e.ts < b.tmax - INTERVAL 1800 SECOND)
         OR (floor(epoch(e.ts) / 3600) * 3600 + 3600
             > epoch(b.m0) - 2233)
    )
    SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_start,
           event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value
    FROM keep
    GROUP BY 1, 2
    """,
)
def st08_stream_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark LATE-DATA semantics, exercised for real: the replay
    holds back the [t_max-90min, t_max-30min) slice of events and plays
    it AFTER everything else (streaming/ops.prepare_late_stream_dir).
    By then the LATE-EVENT-FILTER watermark (the previous batch's —
    Spark's two-watermark model, SPARK-24634) sits at m0 - 2233s where
    m0 = max(ts < t_max), so Spark must drop exactly the late rows
    whose hour window closed against it (window.end <= m0 - 2233) and
    merge the rest into still-open windows.  The oracle recomputes that
    drop set arithmetically — deterministic because both watermarks
    depend only on event time.
    The 2233s delay is deliberately not minute-aligned so window ends
    can never tie the watermark exactly.  At 100 TB this bounded-state
    discipline (watermark evicts closed windows) is what keeps an
    always-on aggregation's state finite."""
    from mapreducehs_spark import streaming as st

    replay = st.prepare_late_stream_dir(spark, sf_dir)
    events = st.events_stream(spark, replay)
    agg = st.tumbling_aggregate(events, window="1 hour", watermark="2233 seconds")
    out = st.run_to_batch(
        agg, "st08_sink", output_mode="append",
        state_bytes=_state_bound(sf_dir),
    )
    return out.filter(F.col("event_type") != "__flush__")


@query(
    "st09_stream_python_source",
    oracle="""
    SELECT bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(id_sq) AS BIGINT) AS sum_sq
    FROM (
      SELECT i AS id, i * i AS id_sq, 'b' || CAST(i % 10 AS VARCHAR) AS bucket
      FROM range(0, 2000) t(i)
    )
    GROUP BY bucket
    """,
)
def st09_stream_python_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming over a CUSTOM PYTHON streaming source
    (sources/pydatasource.SequenceStreamDataSource): offset-managed
    micro-batches + exact replay, the API a queue/CDC connector
    implements.  The bounded stream drains through a complete-mode
    aggregation into the memory sink; the oracle recomputes the
    sequence arithmetic.  (sf-independent by design — the source IS the
    data; deterministic across chunking because counts/sums are
    order-insensitive.)"""
    from mapreducehs_spark.sources.pydatasource import register

    register(spark)
    stream = (
        spark.readStream.format("seqstream")
        .option("n", 2000)
        .option("chunk", 500)
        .load()
    )
    agg = stream.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"), F.sum("id_sq").alias("sum_sq")
    )
    # availableNow drains only the prefetched first chunk of a Python
    # simple stream reader; for a bounded source the drain loop is
    # processAllAvailable (returns once offsets stop advancing)
    q = (
        agg.writeStream.format("memory")
        .queryName("st09_sink")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table("st09_sink")


@query(
    "st10_stream_upsert_serving",
    oracle="""
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0, 4) AS sum_value
    FROM events
    GROUP BY user_id
    """,
)
def st10_stream_upsert_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The streaming-upsert SERVING-TABLE pattern: an update-mode
    per-user aggregation drains through ``foreachBatch``, and each
    micro-batch MERGES its changed rows into a keyed parquet serving
    table (operators/merge.merge_upsert) — the Delta/Iceberg
    ``MERGE INTO`` topology on plain parquet.  Only rows whose
    aggregate changed flow per batch (update mode); the final table
    must equal the batch aggregate regardless of chunking.  At 100 TB
    the serving table is written bucketed on the merge key so the
    nightly/continuous merge reuses the layout (SCALE.md CDC row).
    Integer-cents sums keep the fold order-exact across engines."""
    import os
    import shutil
    import tempfile

    from mapreducehs_spark import streaming as st
    from mapreducehs_spark.operators.merge import merge_upsert

    replay = st.prepare_stream_dir(spark, sf_dir, n_chunks=4)
    events = st.events_stream(spark, replay)
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    agg = (
        events.filter(F.col("event_type") != st.FLUSH_TYPE)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum(cents).alias("cents"))
    )

    serving = os.path.join(
        tempfile.gettempdir(),
        f"mapreducehs_serving_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    shutil.rmtree(serving, ignore_errors=True)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        sp = batch_df.sparkSession
        if os.path.exists(serving):
            base = sp.read.parquet(serving)
            merged = merge_upsert(base, batch_df, keys=["user_id"])
        else:
            merged = batch_df
        # rewrite via a temp dir: the merge READS the current serving
        # table, and overwriting a path being read is undefined
        tmp = serving + ".tmp"
        merged.write.mode("overwrite").parquet(tmp)
        if os.path.exists(serving):
            shutil.rmtree(serving)
        os.rename(tmp, serving)

    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout=600):
        q.stop()
        raise TimeoutError("st10 stream did not finish")
    return spark.read.parquet(serving).select(
        "user_id",
        "n_events",
        F.round(F.col("cents") / 100.0, 4).alias("sum_value"),
    )


@query(
    "st11_stream_chained_windows",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS h,
             count(*) AS n,
             CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS cents
      FROM events
      GROUP BY 1, 2
    )
    SELECT CAST(floor(h / 21600) * 21600 AS BIGINT) AS bucket_start,
           event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           CAST(sum(n) AS BIGINT) AS n_events,
           CAST(max(n) AS BIGINT) AS max_hourly_events,
           round(sum(cents) / 100.0, 4) AS sum_value
    FROM hourly
    GROUP BY 1, 2
    """,
)
def st11_stream_chained_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED streaming stateful operators (Spark 3.4+): hourly
    tumbling aggregate re-windowed into 6-hour buckets inside ONE
    streaming query (streaming/ops.chained_window_aggregate) — the
    hierarchical-rollup topology (minute→hour→day) without an
    intermediate sink.  The watermark propagates through the first
    aggregate, so outer windows close exactly when their last inner
    window is final; batch replay over the same events is the oracle."""
    from mapreducehs_spark import streaming as st

    agg = st.chained_window_aggregate(
        _replayed_events(spark, sf_dir), inner="1 hour", outer="6 hours",
        watermark="30 minutes",
    )
    out = st.run_to_batch(
        agg, "st11_sink", output_mode="append",
        state_bytes=_state_bound(sf_dir),
    )
    return out.filter(F.col("event_type") != "__flush__")


@query(
    "st12_stream_dedup_watermarked",
    oracle="""
    SELECT DISTINCT user_id, event_type
    FROM events
    """,
)
def st12_stream_dedup_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BOUNDED-STATE streaming dedup via Spark 3.5+'s
    ``dropDuplicatesWithinWatermark`` (streaming/ops.
    stream_distinct_within_watermark) — the API st04's docstring points
    unbounded ingests at: state for a key is evicted once the watermark
    passes its event time + delay, so the state store holds the
    at-least-once redelivery horizon instead of every key ever seen.
    The replay span fits inside the delay, so the emitted set equals
    SELECT DISTINCT and the bounded-state operator is value-checked,
    not just smoke-tested."""
    from mapreducehs_spark import streaming as st

    deduped = st.stream_distinct_within_watermark(
        _replayed_events(spark, sf_dir), keys=["user_id", "event_type"]
    )
    return st.run_to_batch(
        deduped, "st12_sink", output_mode="append",
        state_bytes=_state_bound(sf_dir),
    )


@query(
    "st13_stream_heavy_hitters",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS est_total
    FROM events
    GROUP BY event_type
    """,
)
def st13_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters via a SHARDED stateful Misra-Gries
    sketch (streaming/ops.stateful_mg_sketch) — the always-on
    "trending items" topology: micro-batch rows pre-aggregate
    vectorized, fold into bounded per-shard sketch state with the
    PODS'12 merge rule, and the serving read merges the latest
    per-shard sketches by summation.  Capacity (8) ≥ distinct event
    types (5), so the sketch runs in its exact regime and the whole
    streaming pipeline value-checks against the batch GROUP BY — the
    q71 accuracy-contract discipline applied to streaming state.
    At 100 TB/day the state is shards × capacity entries, independent
    of stream length."""
    from mapreducehs_spark import streaming as st

    updates = st.stateful_mg_sketch(
        _replayed_events(spark, sf_dir), shards=16, capacity=8
    )
    log = st.run_to_batch(
        updates, "st13_sink", output_mode="append",
        state_bytes=_state_bound(sf_dir),
    )
    return st.merge_mg_sketch_log(log)


@query(
    "st14_stream_outer_join",
    oracle="""
    WITH clicks AS (
      SELECT event_id AS click_id, user_id, ts AS c_ts
      FROM events WHERE event_type = 'click'
    ), purchases AS (
      SELECT event_id AS purchase_id, user_id, ts AS p_ts
      FROM events WHERE event_type = 'purchase'
    ), matched AS (
      SELECT c.user_id, c.click_id, p.purchase_id,
             CAST(floor(epoch(c.c_ts)) AS BIGINT) AS click_epoch,
             (p.purchase_id IS NOT NULL) AS matched
      FROM clicks c
      LEFT JOIN purchases p
        ON p.user_id = c.user_id
       AND p.p_ts >= c.c_ts
       AND p.p_ts <= c.c_ts + INTERVAL 30 MINUTE
    )
    SELECT user_id, click_id, purchase_id, click_epoch, matched FROM matched
    """,
)
def st14_stream_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER join (streaming/ops.
    clicks_left_outer_purchases) — the join shape st05's inner join
    can't express: every click emits, with purchase columns NULLed only
    once the watermark PROVES no match can arrive (state held exactly
    until click.ts + 30 min passes the watermark, then surrendered).
    The flush sentinel advances the watermark past every click, so the
    replayed stream equals the batch LEFT join — the NULL-emission
    path itself is what the oracle checks (unmatched clicks MUST
    appear exactly once).  At 100 TB state stays bounded by the join
    window exactly as in the inner case."""
    from mapreducehs_spark import streaming as st

    replay = st.prepare_stream_dir(spark, sf_dir, n_chunks=4, n_flush=2)
    joined = st.clicks_left_outer_purchases(
        st.events_stream(spark, replay), within="30 minutes", watermark="1 hour"
    )
    # same state-volume-derived partition count as st05 (four state
    # stores per partition; fixed per-instance commit cost per batch)
    out = st.run_to_batch(
        joined,
        "st14_sink",
        output_mode="append",
        state_bytes=_events_state_bound(sf_dir),
    )
    return out.filter(F.col("user_id") >= 0)


def _replayed_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreducehs_spark import streaming as st

    replay = st.prepare_docs_stream_dir(spark, sf_dir, n_chunks=4)
    return st.docs_stream(spark, replay)


@query("st15_stream_minhash_dedup", oracle=_d11_oracle())
def st15_stream_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming INCREMENTAL near-dup dedup — d11's fully value-checked
    MinHash-LSH banding as bounded applyInPandasWithState state
    (streaming/ops.stateful_minhash_dedup): each arriving doc signs in
    one Arrow pass, lands in its 4 LSH band buckets, and emits
    candidate pairs against the bucket's current members with the
    signature-agreement count attached; buckets evict ``ttl_sec`` of
    event time after their newest member.  The replay span (doc_id
    seconds) sits far inside the TTL here, so no bucket evicts and the
    emitted pair set must equal batch d11 EXACTLY — the d11 oracle
    checks the streaming topology bit-for-bit (the st13 discipline:
    run the stream in its exact regime, value-check against batch).
    Bounded-state behavior itself is pinned separately with a short TTL
    in tests/test_streaming.py."""
    from mapreducehs_spark import streaming as st

    pairs = st.stateful_minhash_dedup(_replayed_docs(spark, sf_dir), ttl_sec=10**9)
    # st15 keeps the parallelism-driven partition default: unlike the
    # state-commit-bound topologies, its per-batch work is the Arrow
    # MinHash signature kernel (CPU-bound Python) — A/B at sf0.1 read
    # 11.4 s at 32 partitions vs 15.4 s at the state-volume-derived 8
    # (rows identical), so compute parallelism, not store-instance
    # count, is the binding constraint here.
    log = st.run_to_batch(pairs, "st15_sink", output_mode="append")
    return st.minhash_pairs_from_log(log, est_threshold=0.25)


@query("st16_stream_funnel", oracle=_Q115_FUNNEL_ORACLE)
def st16_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming strict-order funnel — q115's cascade of conditional
    mins as a per-user state machine over the time-ordered replay
    (streaming/ops.stateful_funnel).  Event-time ordering makes each
    step's first-completion epoch final when set, so the sequential
    fold equals the batch law and q115's own oracle value-checks the
    streaming topology bit-for-bit (st13/st15's discipline: run the
    stream in its exact regime, check against batch).  Serving read =
    latest snapshot per user (st10's upsert shape) + the batch
    aggregate."""
    from mapreducehs_spark import streaming as st

    snapshots = st.stateful_funnel(_replayed_events(spark, sf_dir))
    log = st.run_to_batch(
        snapshots, "st16_sink", output_mode="append",
        state_bytes=_state_bound(sf_dir),
    )
    return st.funnel_report_from_log(log)


@query("st17_stream_inference", oracle=_T26_ORACLE)
def st17_stream_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING model inference (round 6) — t26's hashed-linear quality
    classifier over the document stream as a STATELESS map
    (streaming/ops.hashed_linear_score_stream): tokenize + md5-fold +
    weight-law fold per row, no state store, no watermark, no shuffle —
    the streaming counterpart of the broadcast-model inference pass,
    showing that classifier scoring adds ZERO streaming machinery (the
    scan IS the throughput bound).  Batch t26's oracle value-checks the
    stream bit-for-bit (the st13/st15 stream==batch discipline)."""
    from mapreducehs_spark import streaming as st

    scored = st.hashed_linear_score_stream(_replayed_docs(spark, sf_dir))
    log = st.run_to_batch(scored, "st17_sink", output_mode="append")
    return log.select("doc_id", "n_feats", "score", "keep")


def _st18_oracle(n_chunks: int = 4, n_buckets: int = 64) -> str:
    """Unrolled online-SGD oracle: one integer gradient step per replay
    chunk, chunk membership replayed from the fixture's positional law
    (doc_id rank r -> chunk (r*n_chunks) div n; exact because every
    fixture SF's doc count divides by n_chunks).  Same truncating
    update law as t28/t29."""
    steps = []
    for s in range(n_chunks):
        steps.append(f"""
    zf{s} AS (
      SELECT f.doc_id, CAST(sum(w{s}.w * f.x) AS BIGINT) AS zf
      FROM feats f JOIN chunk c USING (doc_id) JOIN w{s} USING (bucket)
      WHERE c.step = {s} GROUP BY 1
    ), r{s} AS (
      SELECT lab.doc_id,
             CAST(greatest(0, least(1000000,
                    ((coalesce(z.zf, 0) + b{s}.b) // 4) + 500000))
                  - lab.y * 1000000 AS BIGINT) AS r
      FROM lab JOIN chunk c USING (doc_id) LEFT JOIN zf{s} z USING (doc_id), b{s}
      WHERE c.step = {s}
    ), g{s} AS (
      SELECT f.bucket, CAST(sum(r.r * f.x) AS BIGINT) AS g
      FROM r{s} r JOIN feats f USING (doc_id) GROUP BY 1
    ), gb{s} AS (SELECT CAST(sum(r) AS BIGINT) AS g FROM r{s}),
    n{s} AS (SELECT n FROM cnt WHERE step = {s}),
    w{s + 1} AS (
      SELECT w{s}.bucket,
             CAST(w{s}.w - (coalesce(g{s}.g, 0) // n{s}.n) // 50 AS BIGINT) AS w
      FROM w{s} LEFT JOIN g{s} USING (bucket), n{s}
    ), b{s + 1} AS (
      SELECT CAST(b{s}.b - (gb{s}.g // n{s}.n) // 50 AS BIGINT) AS b
      FROM b{s}, gb{s}, n{s}
    )""")
    unions = "\n    UNION ALL\n".join(
        f"""SELECT CAST({s + 1} AS BIGINT) AS step, bucket, w FROM w{s + 1}
    UNION ALL
    SELECT CAST({s + 1} AS BIGINT) AS step, CAST(-1 AS BIGINT) AS bucket, b AS w FROM b{s + 1}"""
        for s in range(n_chunks)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS term
      FROM documents
    ), feats AS (
      SELECT doc_id,
             ('0x' || substr(md5(term), 1, 12))::BIGINT % {n_buckets} AS bucket,
             CAST(count(*) AS BIGINT) AS x
      FROM toks GROUP BY 1, 2
    ), lab AS (
      SELECT doc_id,
             CASE WHEN length(text) >= 300 THEN 1::BIGINT ELSE 0::BIGINT END AS y
      FROM documents
    ), ranked AS (
      SELECT doc_id, row_number() OVER (ORDER BY doc_id ASC) - 1 AS rk FROM documents
    ), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    chunk AS (
      SELECT doc_id, CAST((rk * {n_chunks}) // nn.n AS BIGINT) AS step
      FROM ranked, nn
    ), cnt AS (
      SELECT step, CAST(count(*) AS BIGINT) AS n FROM chunk GROUP BY 1
    ), grid AS (SELECT CAST(unnest(range(0, {n_buckets})) AS BIGINT) AS bucket),
    w0 AS (SELECT bucket, CAST(0 AS BIGINT) AS w FROM grid),
    b0 AS (SELECT CAST(0 AS BIGINT) AS b),
    {",".join(steps)}
    {unions}
    """


@query("st18_stream_train", oracle=_st18_oracle())
def st18_stream_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING (online) model training (round 7) — completes the
    train/infer × batch/stream matrix: t28 batch-train, t29 mini-batch
    train, t26 batch-infer, st17 stream-infer, and HERE online SGD
    where each replayed micro-batch (st15/st17's deterministic 4-chunk
    doc_id-ordered fixture) is one integer-law gradient step
    (streaming/ops.streaming_logreg_train via foreachBatch — the
    Spark-native online-learning topology).  Per batch: ONE scan of
    the new data with the current 64-weight model broadcast, one
    64-key gradient shuffle, a dim+1-int driver update; the output is
    the full per-step weight audit trail (step, bucket, w).  The
    oracle unrolls all four steps with chunk membership replayed from
    the fixture's positional law — the whole ONLINE trajectory,
    batch boundaries included, value-checks bit-for-bit."""
    from mapreducehs_spark import streaming as st

    return st.streaming_logreg_train(_replayed_docs(spark, sf_dir))


@query(
    "st19_stream_mixture",
    oracle=f"""
    WITH {_MIX_CTES}
    SELECT d.doc_id, d.source, d.n_tokens
    FROM draws d JOIN rates r USING (source)
    WHERE d.draw < r.accept_ppm
    """,
)
def st19_stream_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING corpus-mixture filtering — t30's domain-reweighting
    rates applied to the document STREAM (the batch/stream pairing
    st17 gave t26): rates come from the static corpus via
    _mixture_rates (the ONE mixture law), broadcast into a stateless
    stream-static join, and each arriving doc passes or drops on its
    salted md5-fold draw.  No state store, no watermark, no wide
    shuffle — corpus curation at stream ingest is a scan-bound map,
    which is the 100 TB posture for continuous data intake (rates
    re-derived in batch at whatever cadence, intake filtered against
    the current broadcast).  The replay fixture streams the SAME
    documents table the rates were built from, so t30's oracle CTEs
    value-check the stream's kept set bit-for-bit (the st13/st15/st17
    stream==batch discipline); output is linear in KEPT docs."""
    from mapreducehs_spark import streaming as st

    docs = _t(spark, sf_dir, "documents")
    rates = _mixture_rates(_mixture_tok(docs))
    kept = st.mixture_filter_stream(_replayed_docs(spark, sf_dir), rates)
    log = st.run_to_batch(kept, "st19_sink", output_mode="append")
    return log.select("doc_id", "source", "n_tokens")


@query(
    "st20_stream_moments",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(avg(coalesce(value, 0)), 4) AS mean_value,
           round(var_pop(coalesce(value, 0)), 4) AS var_value
    FROM events
    GROUP BY event_type
    """,
)
def st20_stream_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGEABLE MOMENTS (applyInPandasWithState): per-event-
    type running count/mean/M2 folded with the Chan-Golub-LeVeque
    pairwise merge — st03 proves the SUM law survives arbitrary trigger
    slicing; this proves the numerically-delicate VARIANCE law does
    (the naive E[x^2]-E[x]^2 form cancels catastrophically at large
    means; the Welford/Chan merge never subtracts large near-equal
    numbers, so the final state equals the batch two-pass var_pop to
    ~1 ulp no matter how the replay chunks the stream).  This is the
    drift-monitoring primitive of a continuous ingest pipeline —
    per-slice feature moments kept as THREE numbers per key, mergeable
    across executors, checkpoint-restartable like every state-backed op
    here.  Final snapshot (argmax update_seq per key) == the batch
    aggregate, value-checked against DuckDB's var_pop."""
    from mapreducehs_spark import streaming as st

    updates = st.stateful_moments(_replayed_events(spark, sf_dir))
    log = st.run_to_batch(
        updates, "st20_sink", output_mode="append",
        state_bytes=_state_bound(sf_dir),
    )
    from mapreducehs_spark.streaming.ops import latest_moments

    return latest_moments(log)


@query(
    "st21_stream_anomaly",
    oracle="""
    WITH w AS (
      SELECT user_id, event_id,
             CAST(floor(value * 100) AS BIGINT) AS cents,
             CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER
               (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING) AS BIGINT) AS trail_sum,
             count(*) OVER
               (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING) AS n_prev
      FROM events
    )
    SELECT user_id, event_id, cents, trail_sum
    FROM w
    WHERE n_prev = 8 AND cents * 8 > 3 * trail_sum
    """,
)
def st21_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING anomaly detection with a BOUNDED RING BUFFER — the
    always-on spike monitor: per user, flag any event whose integer-
    cents amount exceeds 3× its trailing-8-event mean, tested as the
    exact cross-multiplication cents*8 > 3*sum(ring) (no division, no
    float state).  The state store holds exactly 8 longs per user —
    the st12/st13 bounded-state discipline — and emitted rows are
    linear in ANOMALIES.  Because the replay is event-time ordered and
    (user_id, ts) is unique, the sequential fold sees the batch
    window-frame order exactly, so the streaming topology value-checks
    against the batch ROWS-frame window aggregate (the st16
    order-sensitive stream==batch discipline).  This is the streaming
    twin of q36's trailing ROWS frames — the same law, held as live
    per-key state instead of a sort (streaming/ops.
    stateful_trailing_anomaly)."""
    from mapreducehs_spark import streaming as st

    flagged = st.stateful_trailing_anomaly(
        _replayed_events(spark, sf_dir), window=8, num=3
    )
    log = st.run_to_batch(
        flagged, "st21_sink", output_mode="append",
        state_bytes=_state_bound(sf_dir),
    )
    return log.select("user_id", "event_id", "cents", "trail_sum")


@query(
    "st22_stream_bloom_dedup",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, ts, event_id,
             user_id || ':' || event_type AS kstr
      FROM events
    ), seqd AS (
      SELECT *,
             row_number() OVER (ORDER BY ts, event_id) AS seq,
             ('0x' || substr(md5('shard:' || kstr), 1, 12))::BIGINT % 8 AS shard
      FROM ev
    ), first_occ AS (
      SELECT kstr, user_id, event_type, shard, min(seq) AS s
      FROM seqd GROUP BY 1, 2, 3, 4
    ), pos AS (
      SELECT kstr, shard, s,
             ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || kstr), 1, 12))::BIGINT
               % 1048576 AS p
      FROM first_occ, unnest(range(4)) tj(j)
    ), first_set AS (
      SELECT shard, p, min(s) AS fs FROM pos GROUP BY 1, 2
    ), probe AS (
      SELECT f.kstr, f.user_id, f.event_type,
             min(CASE WHEN fs2.fs < f.s THEN 1 ELSE 0 END) AS all_prior
      FROM first_occ f
      JOIN pos p2 ON p2.kstr = f.kstr
      JOIN first_set fs2 ON fs2.shard = p2.shard AND fs2.p = p2.p
      GROUP BY 1, 2, 3
    )
    SELECT user_id, event_type FROM probe WHERE all_prior = 0
    """,
)
def st22_stream_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Bloom-filter dedup (streaming/ops.stateful_bloom_dedup)
    — the UNBOUNDED-key-space answer st12's watermark eviction can't
    give: per-shard state is 2^20 bits forever (d25's space-bounded
    index promoted to stream state), the trade being a measured
    false-positive rate.  Probe-then-insert per event in (ts,
    event_id) order makes the emitted set a deterministic function of
    the replay, so the DuckDB oracle replays the FILTER ITSELF
    relationally: a bit's set-time is the min first-occurrence seq
    over keys sharing its (shard, position), and a key emits iff some
    of its 4 bits was unset strictly before its own first occurrence.
    Value-checks the bounded-state operator INCLUDING its false
    positives — not just the happy path."""
    from mapreducehs_spark import streaming as st

    out = st.stateful_bloom_dedup(_replayed_events(spark, sf_dir), shards=8)
    return st.run_to_batch(
        out, "st22_sink", output_mode="append",
        state_bytes=_state_bound(sf_dir),
    )


# =========================================================================
# Round 7 (10): streaming temporal (as-of) dimension enrichment
# =========================================================================

#: q91's full SCD2 chain as shared CTE text, so st23's oracle replays
#: the identical dimension the stream joins (the _T26_ORACLE sharing
#: discipline applied to the warehouse dimension).
_SCD2_CTES = """ordered AS (
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
    ), scd AS (
      SELECT user_id, event_type,
             CAST(floor(epoch(valid_from)) AS BIGINT) AS valid_from_s,
             CAST(floor(epoch(valid_to)) AS BIGINT) AS valid_to_s
      FROM versioned
    )"""


@query(
    "st23_stream_scd2_enrich",
    oracle="""
    WITH """ + _SCD2_CTES + """
    SELECT e.event_id, e.user_id,
           CAST(floor(epoch(e.ts)) AS BIGINT) AS ts_s,
           v.event_type AS version_type, v.valid_from_s
    FROM events e JOIN scd v
      ON v.user_id = e.user_id
     AND CAST(floor(epoch(e.ts)) AS BIGINT) >= v.valid_from_s
     AND (v.valid_to_s IS NULL OR CAST(floor(epoch(e.ts)) AS BIGINT) < v.valid_to_s)
    """,
)
def st23_stream_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING TEMPORAL (as-of) dimension enrichment — the lakehouse
    pattern st07's equi-join enrichment can't express: each arriving
    event attaches the SCD2 dimension VERSION (q91's build, reused
    verbatim) valid at the event's own time, via a stream-static
    broadcast join on user_id with the half-open
    [valid_from_s, valid_to_s) range as a post-join filter.  Stateless
    append — no watermark, no state store, the stream never shuffles;
    the dimension is batch-built (at whatever refresh cadence) and
    broadcast, exactly how versioned reference data deploys against a
    100 TB/day ingest.  The replay fixture streams the SAME events the
    dimension was built from, so every enriched row is value-checked
    against the batch as-of join (the st13/st15/st17 stream==batch
    discipline); boundary law is deterministic in both engines (floored
    seconds, half-open intervals — an event in a zero-width interval
    drops in both)."""
    from mapreducehs_spark import streaming as st

    with materialize(spark) as m:
        dim = m.persist(
            q91_scd2_dimension(spark, sf_dir).select(
                F.col("user_id").alias("d_user"),
                F.col("event_type").alias("version_type"),
                "valid_from_s",
                "valid_to_s",
            )
        )
        dim.count()  # materialize once; every micro-batch reuses the cache
        enriched = st.enrich_asof_versions(_replayed_events(spark, sf_dir), dim)
        return m.result(st.run_to_batch(enriched, "st23_sink", output_mode="append"))


# =========================================================================
# Round 7 (12): streaming media ingest with decode DLQ
# =========================================================================


@query(
    "st24_stream_decode_dlq",
    oracle="""
    WITH px AS (
      SELECT doc_id, ((doc_id * 31 + i.i * 7) % 256) AS v
      FROM documents, LATERAL unnest(range(0, 512)) AS i(i)
      WHERE doc_id % 13 <> 0
    ), good AS (
      SELECT doc_id, CAST(sum(v) AS BIGINT) AS px_sum FROM px GROUP BY doc_id
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 13 = 0 THEN 'corrupt_truncated' ELSE 'ok' END
             AS decode_status,
           CAST(coalesce(g.px_sum, 0) AS BIGINT) AS px_sum
    FROM documents d LEFT JOIN good g USING (doc_id)
    """,
)
def st24_stream_decode_dlq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING media ingest with a decode dead-letter queue — m10's
    error-tolerance requirement at the point it actually bites: the
    CONTINUOUS intake, where one corrupt payload must neither kill the
    stream nor silently vanish.  Each arriving doc renders its payload
    and runs the SAME tolerant-decode kernel m10 uses (the two
    mapInPandas stages are shared module functions, not copies) — 'ok'
    rows carry the pixel sum, corrupt rows route to the quarantine
    status, zero exceptions escape the Arrow stage.  Stateless append:
    no watermark, no state store, per-row emission is the DLQ routing
    itself (aggregate error budgets are a downstream batch query, m10's
    shape).  At 100 TB/day the decode cost is the scan, and a poisoned
    payload costs one row, not a task retry storm.  The docs replay
    fixture streams the corpus the oracle reads, so every per-doc
    status and pixel sum value-checks (stream==batch, the st17
    discipline)."""
    from mapreducehs_spark import streaming as st
    from mapreducehs_spark.operators.multimodal import (
        render_corrupt_pgm_batches,
        tolerant_decode_batches,
    )

    decoded = (
        _replayed_docs(spark, sf_dir)
        .select("doc_id")
        .mapInPandas(render_corrupt_pgm_batches, schema="doc_id long, payload binary")
        .mapInPandas(
            tolerant_decode_batches,
            schema="doc_id long, decode_status string, px_sum long",
        )
    )
    return st.run_to_batch(decoded, "st24_sink", output_mode="append")


# =========================================================================
# Round 7 (16): streaming quantiles (histogram state)
# =========================================================================


@query(
    "st25_stream_histogram_quantiles",
    oracle="""
    WITH b AS (
      SELECT event_type, CAST(floor(value) AS BIGINT) AS bkt FROM events
    ), h AS (
      SELECT event_type, bkt, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM h GROUP BY 1
    ), cum AS (
      SELECT event_type, bkt, c,
             sum(c) OVER (PARTITION BY event_type ORDER BY bkt ASC
                          ROWS UNBOUNDED PRECEDING) AS cum
      FROM h
    )
    SELECT t.event_type, t.n AS n_values,
           CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN bkt END) AS BIGINT)
             AS p50_floor,
           CAST(min(CASE WHEN cum >= (9 * n + 9) // 10 THEN bkt END) AS BIGINT)
             AS p90_floor
    FROM cum JOIN tot t USING (event_type)
    GROUP BY 1, 2
    """,
)
def st25_stream_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING QUANTILES via integer-bucket histogram state — the
    percentile member of the streaming-sketch family (st13 heavy
    hitters, st20 moments): per event_type, counts over floor(value)
    buckets fold in applyInPandasWithState.  The design choice IS the
    point: bucket counts are ASSOCIATIVE, so unlike compaction-based
    digests (KLL/t-digest, whose internals depend on arrival order) the
    state is trigger-slicing-independent and the final p50/p90
    value-check EXACTLY against the batch law — fixed-bucket histograms
    are how production latency percentiles actually ship.  State per
    key is bounded by the value RANGE, not the stream length; the
    serving read (latest update per key, st13's pattern) applies the
    integer rank law: p50 at rank (n+1) div 2, p90 at ceil(9n/10),
    each the smallest bucket whose cumulative count reaches the rank.
    Stream==batch at all four SFs (the st13/st15/st17 discipline)."""
    from mapreducehs_spark import streaming as st

    updates = st.stateful_histogram(_replayed_events(spark, sf_dir))
    log = st.run_to_batch(
        updates, "st25_sink", output_mode="append",
        state_bytes=_state_bound(sf_dir),
    )
    return st.histogram_quantiles_log(log)


# =========================================================================
# Round 8: streaming sequence packing (t40's law, continuous-export form)
# =========================================================================


@query(
    "st26_stream_sequence_packing",
    # f-string interpolating _T40_CTX (t40's own oracle discipline) so a
    # context-length change can never silently diverge Spark vs oracle
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))
                  AS BIGINT) + 1 AS w
      FROM documents
    ), starts AS (
      SELECT doc_id, source, w,
             CAST(sum(w) OVER (PARTITION BY source ORDER BY doc_id) - w AS BIGINT)
               AS start
      FROM toks
    )
    SELECT source, doc_id, start,
           CAST(start // {_T40_CTX} AS BIGINT) AS first_seq,
           CAST((start + w - 1) // {_T40_CTX} AS BIGINT) AS last_seq
    FROM starts
    """,
)
def st26_stream_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming SEQUENCE PACKING — the continuous-export twin of t40:
    per-source cumulative token offsets held as ONE long of state per
    source (streaming/ops.stateful_sequence_packer), each arriving doc
    assigned its start offset and context-window span on arrival.  A
    GLOBAL packing order is inherently batch (t40's range-sort); the
    production exporter packs per source shard, which is exactly this
    topology — state O(sources) forever, no watermark, the stream
    shuffles only the source key.  Stream == batch law: the doc replay
    is doc_id-ordered per source across micro-batches, so the stateful
    fold's prefix sums equal the batch per-source window replay
    bit-for-bit regardless of trigger slicing — the oracle IS that
    batch replay.  Context length shared with t40 (_T40_CTX)."""
    from mapreducehs_spark import streaming as st

    docs = _replayed_docs(spark, sf_dir).select(
        "source",
        "doc_id",
        F.size(text.tokens("text")).cast("bigint").alias("n_tokens"),
    )
    packed = st.stateful_sequence_packer(docs, ctx_len=_T40_CTX)
    return st.run_to_batch(
        packed, "st26_sink", output_mode="append",
        state_bytes=_state_bound(sf_dir, "documents"),
    )


@query("st27_stream_decontaminate", oracle=ORACLE["d08_decontaminate"])
def st27_stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming TRAIN/EVAL DECONTAMINATION — d08's exact 8-gram law
    applied to the ingest stream: the MB-scale benchmark side collapses
    to its distinct gram set ONCE, batch-side, before the stream starts
    (the d08/d26 broadcast discipline — here a SparkContext broadcast
    feeding the Arrow kernel), and every arriving training doc is
    checked on arrival in a STATELESS mapInPandas stage — no state
    store, no watermark, the stream never shuffles.  This is the
    hygiene topology of a continuous crawl: contamination is flagged at
    ingest time, not in a nightly batch sweep.  Emits contaminated docs
    only, d08's exact columns; hit_ratio is rounded in a BATCH
    projection over the sink read (Spark HALF_UP — the kernel emits
    only integers) so the rounding law is d08's own, and d08's oracle
    checks the whole topology verbatim."""
    from mapreducehs_spark import streaming as st

    docs = _replayed_docs(spark, sf_dir)
    import numpy as _np

    eval_grams = (
        dedup.hashed_shingle_rows(
            _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 50 == 0),
            n=8,
        )
        .select("shingle")
        .distinct()
        .collect()
    )
    # SORTED int64 array, not a Python set: membership then runs as one
    # vectorized searchsorted per batch instead of an interpreted
    # per-gram `in` probe (VERDICT r8's one perf_weak — measured ~30×
    # on the gram-membership inner loop)
    bc = spark.sparkContext.broadcast(
        _np.sort(_np.fromiter((r["shingle"] for r in eval_grams), dtype=_np.int64))
    )

    def kernel(batches):
        import numpy as np
        import pandas as pd

        bench = bc.value
        for pdf in batches:
            doc_ids: list[int] = []
            gram_lists: list[list[str]] = []
            for di, txt in zip(pdf["doc_id"], pdf["text"]):
                if int(di) % 50 == 0:
                    continue  # the eval slice itself is not training data
                toks = txt.split()
                m = len(toks) - 7
                if m <= 0:
                    continue
                doc_ids.append(int(di))
                gram_lists.append(list({" ".join(toks[j : j + 8]) for j in range(m)}))
            if not doc_ids:
                continue
            # ONE vectorized keyed-siphash over the whole batch's grams —
            # the d08 gram identity (hashed_shingle_rows' pd.util.hash_array
            # law), so set membership here equals its broadcast-join there
            flat = np.array(
                [g for gl in gram_lists for g in gl], dtype=object
            )
            # .view("int64"): hashed_shingle_rows stores the uint64
            # siphash as two's-complement int64 — match that exactly
            hv = pd.util.hash_array(flat).view("int64")
            # vectorized membership: searchsorted into the sorted bench
            # array, then per-doc segment sums via reduceat (every
            # segment is non-empty: m > 0 guaranteed above)
            pos = np.searchsorted(bench, hv)
            pos[pos == len(bench)] = 0
            member = (bench[pos] == hv) if len(bench) else np.zeros(len(hv), bool)
            bounds = np.cumsum([0] + [len(gl) for gl in gram_lists])
            hit_counts = np.add.reduceat(member.astype(np.int64), bounds[:-1])
            ids, totals, hits = [], [], []
            for di, gl, h in zip(doc_ids, gram_lists, hit_counts):
                if h:
                    ids.append(di)
                    totals.append(len(gl))
                    hits.append(int(h))
            if ids:
                yield pd.DataFrame(
                    {"id": ids, "total_grams": totals, "hit_grams": hits}
                )

    flagged = docs.mapInPandas(
        kernel, schema="id long, total_grams long, hit_grams long"
    )
    log = st.run_to_batch(flagged, "st27_sink", output_mode="append")
    return log.select(
        "id",
        "total_grams",
        "hit_grams",
        F.round(F.col("hit_grams") / F.col("total_grams").cast("double"), 6).alias(
            "hit_ratio"
        ),
    )


# =========================================================================
# Round 9: streaming ingest PII scrub + online weighted reservoir
# =========================================================================


@query("st28_stream_pii_redact", oracle=ORACLE["t16_pii_redact"])
def st28_stream_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING PII SCRUB — t16's redaction law applied at ingest
    (the st27 posture: hygiene runs when data ARRIVES, not in a
    nightly sweep): every arriving doc runs the inject → count →
    redact → fold projection (the shared ``_t16_doc_frame`` seam —
    ONE redaction law, two topologies) in a STATELESS map over the
    stream — no state store, no watermark, no shuffle before the
    sink; per-doc audit rows land in the sink and the per-source
    compliance rollup (``_t16_rollup``) is a batch projection over
    the sink read.  Stream == batch holds trivially (the projection
    is per-row deterministic), so t16's own oracle value-checks the
    whole ingest topology verbatim."""
    from mapreducehs_spark import streaming as st
    from mapreducehs_spark.queries.t_text import _t16_doc_frame, _t16_rollup

    audit = _t16_doc_frame(_replayed_docs(spark, sf_dir))
    log = st.run_to_batch(audit, "st28_sink", output_mode="append")
    return _t16_rollup(log)


@query("st29_stream_weighted_sample", oracle=ORACLE["t31_weighted_sample"])
def st29_stream_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING weighted reservoir sampling — t31's A-ES exponential
    races as an ONLINE per-source reservoir
    (streaming/ops.streaming_weighted_sample): A-ES keys are mergeable
    minima, so folding each micro-batch's top-k candidates into a
    driver-held reservoir (st18's model-is-the-state posture; #sources
    × 25 tuples, no state store) yields EXACTLY the batch sample over
    everything seen — the content-hash keys make the fold replay-order
    independent.  Per batch: one scan, t31's JVM key expression, one
    WindowGroupLimit top-k, ≤ #sources·25 rows to the driver.  This is
    the always-on curation sampler: "keep the best 25 per domain,
    length-weighted, forever" at O(domains) memory.  t31's oracle
    value-checks the final reservoir verbatim."""
    from mapreducehs_spark import streaming as st

    return st.streaming_weighted_sample(_replayed_docs(spark, sf_dir), k=25)


@query("st30_stream_pair_funnel", oracle=ORACLE["m19_pair_curation_funnel"])
def st30_stream_pair_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING image-text pair curation — m19's DataComp gate
    sequence applied on ARRIVAL (the st27/st28 ingest-hygiene posture:
    a pair that will be dropped for size/aspect/caption/quality should
    never cost downstream decode or storage): every arriving pair runs
    the stateless ``_m19_flagged`` gate frame (ONE gate law, two
    topologies) in a map over the stream — no state store, no
    watermark, no shuffle before the sink; per-pair verdict rows land
    in the sink and m19's funnel rollup is a batch projection over the
    sink read.  Stream == batch holds trivially (the gate is per-row
    deterministic metadata arithmetic — no pixel decoded at ingest
    either), so m19's own oracle value-checks the whole ingest
    topology verbatim."""
    from mapreducehs_spark import streaming as st
    from mapreducehs_spark.queries.m_multimodal import _m19_flagged, _m19_rollup

    flagged = _m19_flagged(_replayed_docs(spark, sf_dir))
    log = st.run_to_batch(flagged, "st30_sink", output_mode="append")
    return _m19_rollup(log)


@query("st31_stream_incremental_mv", oracle=ORACLE["q122_incremental_mv_retraction"])
def st31_stream_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING INCREMENTAL MV WITH RETRACTIONS — q122's topology
    twin via ``foreachBatch``: the monthly rollup is a STORED serving
    table (the MV as it stood before the CDC arrived), and each
    micro-batch of signed CDC delta rows (delete ⇒ retraction; update
    ⇒ retraction + insertion into the shifted month — the
    Gupta–Mumick counting method, q122's exact law in integer cents)
    pre-aggregates within the batch and folds into the stored rollup
    by a group-keyed union + re-aggregate (st10's MERGE-INTO pattern
    on plain parquet).  Signed-delta sums are ORDER-FREE, so trigger
    slicing is free — any chunking of the CDC log folds to the same
    state, and q122's own batch oracle value-checks the final table
    verbatim (the st16/st26 stream == batch discipline).

    State: NO state store at all (the serving table IS the state —
    O(months) rows, metadata scale); per batch the work is one
    batch-local partial aggregate (O(batch) scan, ≤ O(months) rows
    out) plus a rollup-sized merge.  Months whose rows all retract
    survive as zero rows DURING the run (dropping them mid-stream
    would lose mass if a later insert resurrects the month) and fall
    out at the final n > 0 read — q122's tombstone rule applied at
    serving time.  At 100 TB/day the same body merges into a
    Delta/Iceberg MV; only the sink changes."""
    import os
    import shutil
    import tempfile

    from mapreducehs_spark import streaming as st

    base_mv, replay = st.prepare_cdc_mv_dir(spark, sf_dir, n_chunks=4)
    serving = os.path.join(
        tempfile.gettempdir(),
        f"mapreducehs_mv_{os.path.basename(os.path.normpath(sf_dir))}_{os.getpid()}",
    )
    shutil.rmtree(serving, ignore_errors=True)
    shutil.copytree(base_mv, serving)

    cdc = (
        spark.readStream.schema(st.CDC_MV_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
    )

    def last_applied() -> int:
        marker = os.path.join(serving, "_last_batch_id")
        if os.path.exists(marker):
            with open(marker) as fh:
                return int(fh.read().strip())
        return -1

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: a retried micro-batch must
        # not double-apply signed deltas.  The last applied batch_id
        # travels INSIDE the atomically-renamed serving dir (an
        # underscore file, invisible to the parquet reader), so data
        # and watermark can never disagree — the MERGE-INTO
        # idempotency rule the docstring invokes.
        if batch_id <= last_applied():
            return
        sp = batch_df.sparkSession
        deltas = batch_df.groupBy("month").agg(
            F.sum("dn").cast("bigint").alias("n"),
            F.sum("dcents").cast("bigint").alias("cents"),
        )
        merged = (
            sp.read.parquet(serving)
            .unionByName(deltas)
            .groupBy("month")
            .agg(
                F.sum("n").cast("bigint").alias("n"),
                F.sum("cents").cast("bigint").alias("cents"),
            )
        )
        tmp = serving + ".tmp"
        merged.write.mode("overwrite").parquet(tmp)
        with open(os.path.join(tmp, "_last_batch_id"), "w") as fh:
            fh.write(str(batch_id))
        shutil.rmtree(serving)
        os.rename(tmp, serving)

    q = (
        cdc.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(timeout=600):
            raise TimeoutError("st31 stream did not finish")
    finally:
        q.stop()
    final = spark.read.parquet(serving).filter(F.col("n") > 0)
    try:
        with materialize(spark) as m:
            return m.result(
                final.select(
                    "month",
                    F.col("n").alias("n_orders"),
                    F.concat(
                        F.expr("cast(cents div 100 as string)"),
                        F.lit("."),
                        F.lpad(F.expr("cast(cents % 100 as string)"), 2, "0"),
                    ).alias("total_exact"),
                )
            )
    finally:
        shutil.rmtree(serving, ignore_errors=True)


@query("st32_stream_change_feed", oracle=ORACLE["q124_change_data_feed"])
def st32_stream_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CHANGE-DATA-FEED SERVE — q124's typed row images
    produced ON ARRIVAL: a live CDC consumer (search-index updater,
    downstream MV, reverse-ETL sync) cannot lag() over the whole log;
    it holds each key's LATEST VERSION as state (three scalars —
    `stateful_cdc_images` via ``applyInPandasWithState`` on the merge
    key) and classifies every arriving log row against it: no live
    prior ⇒ insert, live prior upsert ⇒ update pre+post images,
    delete of a live row ⇒ delete image, delete of a dead key ⇒
    nothing.  The replay is chunked one commit sequence per trigger
    (`prepare_cdc_log_dir`), so per-key version order holds across
    micro-batches by construction — the same guarantee a Kafka
    key-partitioned CDC topic gives — and q124's batch oracle
    value-checks the emitted feed verbatim (the st16 order-sensitive
    stream == batch discipline).

    State is O(|live keys|) × 3 scalars (the st02/st15 linear-in-keys
    class, gated by STREAM_SCALING's growth budget); emitted rows are
    linear in CHANGES in the requested window.  At 100 TB/day the
    same body reads a Kafka compacted topic; only the source line
    changes."""
    from mapreducehs_spark import streaming as st

    replay = st.prepare_cdc_log_dir(spark, sf_dir)
    log = (
        spark.readStream.schema(st.CDC_LOG_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
    )
    images = st.stateful_cdc_images(log)
    return st.run_to_batch(images, "st32_sink", output_mode="append")


@query("st33_stream_ivf_ingest", oracle=ORACLE["s23_ivf_index_maintenance"])
def st33_stream_ivf_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING IVF INGEST — s23's index maintenance fed by a LIVE
    embedding feed (the production posture: vectors arrive
    continuously, assign to the FROZEN codebook on arrival, and the
    health table that fires the k-means refresh reads the running
    assignments): each micro-batch of re-embedded arrivals runs the
    same Arrow argmax kernel (`cell_argmax_udf` over the driver-held
    16-cell codebook — st17's broadcast-model posture) as a STATELESS
    map in the stream — no state store, no watermark, no shuffle
    before the sink, and the vectors themselves never shuffle; per-
    vector (vec_id, cell) assignments land in the sink and s23's
    health-table stitch (`_s23_stitch` — ONE growth/hot law, two
    topologies) runs as a batch projection over the sink read plus
    the stored base assignments.  Stream == batch holds trivially
    (assignment is per-row deterministic), so s23's own oracle
    value-checks the whole ingest topology verbatim (the st28/st30
    ingest-hygiene discipline applied to the vector tier)."""
    from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

    from mapreducehs_spark import streaming as st
    from mapreducehs_spark.functions.vector_np import cell_argmax_udf
    from mapreducehs_spark.queries.s_similarity import _s23_stitch, _seeded_centroids

    emb = _t(spark, sf_dir, "embeddings")
    cents = _seeded_centroids(emb)
    assign = cell_argmax_udf(cents)

    replay = st.prepare_emb_stream_dir(spark, sf_dir, n_chunks=4)
    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("embedding", ArrayType(DoubleType())),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay)
        .select("vec_id", assign(F.col("embedding")).alias("cell"))
    )
    log = st.run_to_batch(stream, "st33_sink", output_mode="append")
    base = emb.filter(F.col("vec_id") >= 8).select(
        "vec_id", assign(F.col("embedding")).alias("cell")
    )
    return _s23_stitch(spark, base, log)


# =========================================================================
# Round 11: streaming curriculum routing (st34)
# =========================================================================

_ST34_ORACLE = """
    WITH q AS (
      SELECT source, doc_id,
             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))
                  AS BIGINT) AS n_tok,
             CAST(len(list_distinct(list_filter(regexp_split_to_array(text, '\\s+'),
                                                x -> x != ''))) AS BIGINT) AS n_uniq
      FROM documents
    ), scored AS (
      SELECT source, doc_id, n_tok, (n_uniq * 1000000) // n_tok AS quality_micro
      FROM q WHERE n_tok > 0
    ), ranked AS (
      SELECT source, quality_micro,
             row_number() OVER (PARTITION BY source
                                ORDER BY quality_micro ASC, doc_id ASC) - 1 AS rank0,
             count(*) OVER (PARTITION BY source) AS n_src
      FROM scored
    ), bounds AS (
      SELECT source, (rank0 * 10) // n_src AS decile,
             max(quality_micro) AS q_max
      FROM ranked GROUP BY 1, 2
    ), cl AS (
      SELECT s.source, s.doc_id, s.n_tok,
             coalesce(min(CASE WHEN s.quality_micro <= b.q_max THEN b.decile END),
                      max(b.decile)) AS decile
      FROM scored s JOIN bounds b ON b.source = s.source
      GROUP BY 1, 2, 3
    )
    SELECT source, CAST(decile AS BIGINT) AS decile,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens
    FROM cl GROUP BY 1, 2
"""


@query("st34_stream_curriculum_router", oracle=_ST34_ORACLE)
def st34_stream_curriculum_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING CURRICULUM ROUTER — t55's schedule applied at INGEST
    (the st19 serving posture for the curriculum tier): a continuous
    intake cannot rank against the whole corpus, so the batch pass
    commits the per-source decile BOUNDARIES (t49's exact rank-decile
    table over the self-contained quality key — corpus-relative
    signals like t17's can't be computed per-arriving-doc) and the
    stream classifies each arriving doc against the frozen boundary
    array: min decile d with quality <= q_max(d), above all -> the
    hardest decile present.  Routed docs land in the append sink (at
    100 TB: one sink partition per decile, the shard layout t55's
    trainer reads) and the health rollup reads the sink — st33's
    stitch topology.

    State: NONE (stateless stream-static broadcast join; boundaries
    are <= 10 * n_sources rows).  The replay streams the SAME
    documents the boundaries were built from, so the oracle replays
    boundary construction AND classification in one statement and
    value-checks the routed masses bit-for-bit (the st13/st15/st17
    stream==batch discipline; the min-matching-decile law is
    IDENTICAL text on both engines).  Reference witness: O1 stateless
    per-row kernel + O2 keyed fold (src/Core/MapReduceC.hs:24-26)."""
    from mapreducehs_spark import streaming as st
    from mapreducehs_spark.queries.t_text import _t49_build

    with materialize(spark) as m:
        # freeze the boundary model before streaming
        cutoffs = m.checkpoint(
            _t49_build(m, sf_dir)
            .select("source", "decile", "q_max")
            .groupBy("source")
            .agg(
                F.array_sort(
                    F.collect_list(F.struct(F.col("decile"), F.col("q_max")))
                ).alias("bounds")
            )
        )
        routed = st.curriculum_route_stream(_replayed_docs(spark, sf_dir), cutoffs)
        log = st.run_to_batch(routed, "st34_sink", output_mode="append")
    return log.groupBy("source", "decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("n_tokens"),
    )


# =========================================================================
# Round 12: streaming schema-evolution read (st35)
# =========================================================================

def _st35_stream(spark: SparkSession, sf_dir: str):
    """st35's stream topology, factored so the stateless pin test can
    hold the StreamingQuery handle: q126's two-generation directory
    read as a file STREAM under the canonical field-id schema, each
    file's generation recovered from its path (``_metadata.file_path``
    — per-file metadata, not data).  Returns the enriched stream frame;
    the caller owns the fieldId confs + the writeStream."""
    import os

    from mapreducehs_spark.queries.q_ext import _q126_fixture

    base, canonical = _q126_fixture(spark, sf_dir)
    stream = (
        spark.readStream.schema(canonical)
        .option("maxFilesPerTrigger", "1")  # heterogeneous files arrive
        .parquet(os.path.join(base, "gen*"))  # one micro-batch at a time
    )
    return stream.select(
        "*",
        F.regexp_extract(
            F.col("_metadata").getField("file_path"), r"(gen[12])", 1
        ).alias("generation"),
    )


@query("st35_stream_schema_evolution", oracle=None)
def st35_stream_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SCHEMA-EVOLUTION READ — q126's field-id contract at
    INGEST, closing the lakehouse x streaming matrix: a continuous
    intake reading a table directory that mixes physical generations
    (gen2 renamed cents -> amount_cents, widened int32 -> bigint, and
    added channel) must resolve every arriving FILE against the
    canonical id-keyed schema — rename, widen, and NULL back-fill
    happen per file in the vectorized scan, exactly as in the batch
    read, because Iceberg/Delta id resolution is per-file metadata
    work with no cross-file dependency.  ``maxFilesPerTrigger=1``
    forces generations to arrive in SEPARATE micro-batches, so the
    resolution is exercised per-trigger, not once.

    State: NONE — the whole topology is a stateless projection into
    the append sink (no state store, no watermark; pytest holds the
    query handle and pins empty stateOperators).  The health rollup
    runs BATCH-side over the sink read (the st27/st34 stitch
    discipline) and is value-checked against q126's own oracle — the
    streamed two-generation read must agree with the batch replay of
    the generation split bit-for-bit.  Reference witness: O12
    pluggable-store read path (src/Core/Store.hs) + O1 stateless
    per-record kernel (src/Core/MapReduceC.hs:24)."""
    from mapreducehs_spark import streaming as st

    confs = {
        "spark.sql.parquet.fieldId.read.enabled": "true",
        "spark.sql.parquet.fieldId.read.ignoreMissing": "true",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        # the id-resolved scans run inside the stream's micro-batches —
        # the confs must be live until the sink is fully drained
        log = st.run_to_batch(
            _st35_stream(spark, sf_dir), "st35_sink", output_mode="append"
        )
        with materialize(spark) as m:
            return m.result(
                log.groupBy("generation", "status").agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_orders"),
                    F.sum("amount_cents").cast("bigint").alias("total_cents"),
                    F.count("channel").cast("bigint").alias("n_with_channel"),
                )
            )
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# st35 value-checks against q126's batch oracle verbatim — the streamed
# read of the mixed-generation directory must match the batch replay.
from mapreducehs_spark.queries.q_ext import _Q126_ORACLE as _ST35_ORACLE  # noqa: E402

ORACLE["st35_stream_schema_evolution"] = _ST35_ORACLE


_ST36_SMALL_BYTES = 900_000_000
_ST36_FIRE_N = 9

_ST36_ORACLE = f"""
WITH files AS (
  SELECT o_orderkey // 40 AS file_id,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS bytes
  FROM orders GROUP BY 1
)
SELECT file_id // 64 AS part_id,
       CAST(count(*) AS BIGINT) AS n_files,
       CAST(sum(CASE WHEN bytes < {_ST36_SMALL_BYTES} THEN 1 ELSE 0 END) AS BIGINT) AS n_small,
       CAST(sum(CASE WHEN bytes < {_ST36_SMALL_BYTES} THEN bytes ELSE 0 END) AS BIGINT) AS small_bytes,
       CAST(sum(bytes) AS BIGINT) AS total_bytes,
       CAST(CASE WHEN sum(CASE WHEN bytes < {_ST36_SMALL_BYTES} THEN 1 ELSE 0 END)
                 >= {_ST36_FIRE_N} THEN 1 ELSE 0 END AS BIGINT) AS fires
FROM files GROUP BY 1
"""


@query("st36_stream_compaction_monitor", oracle=_ST36_ORACLE)
def st36_stream_compaction_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING SMALL-FILE COMPACTION MONITOR — the trigger half of
    the q105 story (q105 PLANS the rewrite, layout.execute_compaction_
    plan EXECUTES it; this op decides WHEN): a live tail of the table's
    commit log (file-level manifest rows, the `_q105_files` seam
    chunked one commit batch per trigger) folds per-table-partition
    small-file counters incrementally — each micro-batch partial-
    aggregates to <= O(partitions) rows and merges into a stored
    monitor table by keyed re-aggregate (st31's foreachBatch MERGE
    pattern, idempotent via the in-dir batch-id marker) — and the
    served readout flags every partition whose small-file count has
    crossed the auto-compaction threshold, exactly what Delta-style
    auto-compaction evaluates after each commit.

    Counts and byte sums are ORDER-FREE, so any trigger chunking folds
    to the same state, and the batch oracle over the base table
    value-checks the final monitor verbatim (the st16/st26 stream ==
    batch discipline).  State: NO state store — the monitor table IS
    the state, O(partitions) rows of metadata scale; per batch the
    work is one batch-local partial aggregate plus a monitor-sized
    merge.  At 100 TB/day the same body tails the real transaction
    log; only the source line changes.  Reference witness: O2 keyed
    reducer fold (src/Core/MapReduceC.hs:25) + O12 store
    (src/Core/Store.hs)."""
    import os
    import shutil
    import tempfile

    from mapreducehs_spark import streaming as st

    replay = st.prepare_manifest_dir(spark, sf_dir, n_chunks=4)
    monitor = os.path.join(
        tempfile.gettempdir(),
        f"mapreducehs_monitor_{os.path.basename(os.path.normpath(sf_dir))}_{os.getpid()}",
    )
    shutil.rmtree(monitor, ignore_errors=True)
    # the fold body (batch-local partial agg + keyed monitor merge +
    # in-dir batch-id idempotency marker) is the shared
    # `manifest_monitor_fold` seam — the checkpoint-restart pytest
    # exercises the same code path this query runs
    st.manifest_monitor_fold(spark, replay, monitor, _ST36_SMALL_BYTES)
    final = spark.read.parquet(monitor)
    try:
        with materialize(spark) as m:
            return m.result(
                final.select(
                    "part_id",
                    "n_files",
                    "n_small",
                    "small_bytes",
                    "total_bytes",
                    (F.col("n_small") >= _ST36_FIRE_N).cast("bigint").alias("fires"),
                )
            )
    finally:
        shutil.rmtree(monitor, ignore_errors=True)
