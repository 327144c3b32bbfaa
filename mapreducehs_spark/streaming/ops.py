"""Structured Streaming surface over the ``events`` table.

The reference is batch-only — every stage fully materializes before the
next starts (reference ``src/Core/Std.hs:49-50``; no streaming anywhere
in the repo).  Streaming is therefore pure *new-engine* capability,
built on Structured Streaming: ``readStream`` file source → watermarked
windowed aggregation / session windows / custom ``applyInPandasWithState``
state → memory sink for the differential check against the equivalent
batch query (same discipline as the reference's distributed-vs-local
differential tests, ``test/Generator.hs:83-92``).

Determinism strategy (what makes these streaming queries *oracle-checkable*):

1. **Time-ordered replay.**  ``prepare_stream_dir`` writes the events
   sorted by ``ts`` into N chunk files and feeds them one per trigger
   (``maxFilesPerTrigger=1``) in ascending mtime order.  Event time then
   never regresses across triggers by more than intra-chunk disorder
   (zero, since chunks are time-range partitions), so a watermark never
   drops a row — the streaming result must equal the batch result.
2. **Flush sentinel.**  Append-mode windowed aggregation only emits a
   window once the watermark passes its end; with a finite input the
   last windows would stay unflushed forever.  The replay dir therefore
   ends with one sentinel row (``event_type = '__flush__'``) whose
   timestamp sits far past the real data; it advances the watermark past
   every real window and is filtered out of results.  On a real
   always-on pipeline the next day's data plays this role — the sentinel
   is the finite-input stand-in, not a semantic hack.

At 100 TB the same topology runs against a Kafka/file-arrival source
with the identical query bodies — only ``events_stream`` changes.
"""

from __future__ import annotations

import os
import shutil
import time
import warnings
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from mapreducehs_spark.sources.catalog import load_table

#: Schema of the replayed events stream (µs timestamps — the ns→µs
#: conversion happens once in load_table before chunks are written).
EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)

FLUSH_TYPE = "__flush__"


def prepare_stream_dir(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 4,
    base_dir: str = "/tmp/mapreducehs_stream",
    n_flush: int = 1,
) -> str:
    """Materialize ``events`` as a time-ordered chunked replay directory.

    Idempotent per (sf_dir, n_chunks, n_flush): reuses the directory if it is
    already fully built (a ``_DONE`` marker commits it).
    """
    from mapreducehs_spark.sources.catalog import source_fingerprint

    from mapreducehs_spark.sources.catalog import build_fixture_once

    key = (
        f"{os.path.basename(os.path.normpath(sf_dir))}_c{n_chunks}_f{n_flush}_v2"
        f"_{source_fingerprint(sf_dir, 'events')}"
    )
    return build_fixture_once(
        os.path.join(base_dir, key),
        lambda tmp: _build_stream_chunks(spark, sf_dir, n_chunks, tmp, n_flush),
    )


def _build_stream_chunks(
    spark: SparkSession, sf_dir: str, n_chunks: int, out: str, n_flush: int = 1
) -> None:
    from mapreducehs_spark.sources.catalog import guard_driver_fixture

    os.makedirs(out, exist_ok=True)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    guard_driver_fixture(ev, f"stream replay chunks ({sf_dir})")
    pdf = ev.toPandas().sort_values("ts", kind="mergesort", ignore_index=True)
    n = len(pdf)
    bounds = [round(i * n / n_chunks) for i in range(n_chunks + 1)]
    for i in range(n_chunks):
        chunk = pdf.iloc[bounds[i] : bounds[i + 1]]
        if len(chunk) == 0:
            continue
        # µs on disk: the engine session reads TIMESTAMP(NANOS) via the
        # nanosAsLong legacy flag, which would turn a ns chunk back into
        # bigint and break the declared stream schema.
        chunk.to_parquet(
            os.path.join(out, f"chunk_{i:04d}.parquet"),
            index=False,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )

    # props must be a real string: an all-null column round-trips
    # through arrow as null-type and fails the declared stream schema.
    # n_flush > 1 appends extra sentinel chunks: stream-stream OUTER
    # joins emit watermark-closed NULL rows one batch AFTER eviction,
    # so they need a batch to exist after the watermark advance (st14).
    for j in range(n_flush):
        flush_ts = pdf["ts"].max() + pd.Timedelta(days=365 + j)
        sentinel = pd.DataFrame(
            {
                "event_id": [-1 - j],
                "ts": [flush_ts],
                "user_id": [-1],
                "event_type": [FLUSH_TYPE],
                "value": [0.0],
                "props": ["{}"],
            }
        )
        sentinel.to_parquet(
            os.path.join(out, f"chunk_{n_chunks + j:04d}.parquet"),
            index=False,
            coerce_timestamps="us",
            allow_truncated_timestamps=True,
        )
    # Explicit well-spaced mtimes: the file source orders and batches
    # files by modification time (ms granularity) — wall-clock write
    # spacing is not reliable.
    now = time.time()
    files = sorted(f for f in os.listdir(out) if f.endswith(".parquet"))
    for i, f in enumerate(files):
        os.utime(os.path.join(out, f), (now + i * 10, now + i * 10))


def events_stream(
    spark: SparkSession, replay_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over a replay dir (one chunk per trigger)."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(replay_dir)
    )


#: State-store partition sizing (round 13, guide §2.2 applied to state
#: stores).  Every state-store INSTANCE (one per store per partition —
#: a stream-stream join runs FOUR stores per partition) pays a fixed
#: per-micro-batch cost: task schedule, store load, delta-file write +
#: commit.  Measured on st05 at sf0.1: ~40 s of summed commit time per
#: micro-batch across 128 instances holding 6 MB of total state — wall
#: time was LINEAR in the partition count (32 partitions 13-22 s, 8
#: partitions 4.8 s, 2 partitions 4.5 s) while the data never changed.
#: So state partitions must be sized by STATE VOLUME (like shuffle
#: partitions are sized by shuffle bytes), not by core count: target
#: ~64 MB of state per partition (the shuffle-partition guidance of
#: guide §2.2, conservative for the HDFS-backed store whose per-commit
#: cost is per-instance), floored at 8 so the stateful stage never
#: serializes.  At 100 TB the same formula yields thousands of
#: partitions — this is scale-adaptive, not a local-mode pin.
_STATE_PARTITION_TARGET_BYTES = 64 << 20
_STATE_PARTITIONS_MIN = 8


def state_partitions_for(state_bytes: int) -> int:
    """Partition count for a stateful stream whose retained state is
    bounded by ``state_bytes`` (an upper bound supplied by the caller
    from its data shape — e.g. decompressed input volume inside the
    watermark horizon).  See the sizing note above."""
    return max(
        _STATE_PARTITIONS_MIN,
        -(-int(state_bytes) // _STATE_PARTITION_TARGET_BYTES),
    )


def run_to_batch(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "append",
    shuffle_partitions: int | None = None,
    state_bytes: int | None = None,
) -> DataFrame:
    """Drain a finite stream into a memory sink; return the result table.

    The memory sink is the test/driver harness sink only — production
    sinks are kafka/parquet/delta via the same ``writeStream`` call.

    ``shuffle_partitions`` pins the state-store partition count for this
    query (read at ``start()``, fixed for the query's lifetime).  A
    vanilla 200-partition session pays 200 state-store tasks per
    stateful op per micro-batch — for the bounded state here (thousands
    of windows/users) a few per core is right.  At 100 TB this knob is
    the per-topology state sizing decision, made per stream, not
    globally.

    ``state_bytes`` is the round-13 data-shape form of that decision: an
    upper bound on the topology's retained state volume, from which the
    partition count derives via ``state_partitions_for`` (~64 MB of
    state per store partition, floor 8).  Partitioning cannot change
    values (only placement), so results are identical by construction.
    """
    spark = stream_df.sparkSession
    old = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is None and state_bytes is not None:
        shuffle_partitions = state_partitions_for(state_bytes)
    if shuffle_partitions is None:
        shuffle_partitions = max(8, spark.sparkContext.defaultParallelism)
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    try:
        # availableNow self-terminates — and only awaitTermination lets
        # the trailing no-data micro-batch run, which is what evicts the
        # final windows after the sentinel advances the watermark.
        # (processAllAvailable + stop() races that batch and loses the
        # last windows.)
        if not q.awaitTermination(timeout=600):
            raise TimeoutError(f"stream {name} did not finish in 600s")
    finally:
        if q.isActive:
            q.stop()
    return stream_df.sparkSession.table(name)


# ---------------------------------------------------------------------------
# Streaming operators (query bodies shared by tests and __spark_entry__)
# ---------------------------------------------------------------------------


def tumbling_aggregate(
    events: DataFrame, window: str = "1 hour", watermark: str = "30 minutes"
) -> DataFrame:
    """Watermarked tumbling-window counts/sums per event_type.

    Late rows (older than watermark) are dropped by Spark; the replay
    discipline above guarantees none exist, so batch == stream.
    """
    # DO NOT filter the sentinel here: a filter on a group-by key gets
    # pushed below the aggregation to the scan, which removes the
    # sentinel before the EventTimeWatermark operator ever sees it — the
    # watermark then never passes the last real windows and they stay
    # unflushed.  Callers drop sentinel rows from the *batch* result
    # (run_to_batch(...).filter(...)).
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("bucket_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_aggregate(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Watermarked session windows per user (gap-based), append mode.

    Equivalent batch semantics: islands-and-gaps sessionization with the
    same gap — the differential target.
    """
    # Sentinel kept in-plan for the same pushdown reason as
    # tumbling_aggregate — callers drop user_id < 0 from the batch result.
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_timestamp(F.col("w.start")).alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


#: Output schema of the stateful per-user running totals.
_USER_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
        StructField("update_seq", LongType()),
    ]
)

_USER_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("total", DoubleType()),
        StructField("seq", LongType()),
    ]
)


def _user_totals_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Arbitrary-stateful op (``applyInPandasWithState``): cumulative
    per-user event count + value total, one emitted row per update.

    This is the streaming analogue of the reference's Reducer — the full
    per-key history folded into state instead of materialized as a list
    (reference ``src/Core/MapReduceC.hs:26,35-40``)."""
    (user_id,) = key
    n, total, seq = state.get if state.exists else (0, 0.0, 0)
    for pdf in batches:
        n += len(pdf)
        total += float(pdf["value"].fillna(0.0).sum())
    seq += 1
    state.update((n, total, seq))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [round(total, 4)],
            "update_seq": [seq],
        }
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running totals via ``applyInPandasWithState``.

    Emits one row per (user, trigger-with-data); the *last* update per
    user equals the batch ``groupBy(user_id)`` aggregate, which is what
    the oracle checks after an argmax-by-update_seq."""
    return (
        events.filter(F.col("event_type") != FLUSH_TYPE)
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_totals_fn,
            outputStructType=_USER_TOTALS_SCHEMA,
            stateStructType=_USER_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_MOMENTS_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_events", LongType()),
        StructField("mean_value", DoubleType()),
        StructField("m2", DoubleType()),
        StructField("update_seq", LongType()),
    ]
)

_MOMENTS_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("mean", DoubleType()),
        StructField("m2", DoubleType()),
        StructField("seq", LongType()),
    ]
)


def _moments_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Numerically stable streaming moments (Welford/Chan): per key,
    fold each Arrow batch's (count, mean, M2) into the running state
    with the pairwise merge law

        delta = mean_b - mean
        mean += delta * n_b / (n + n_b)
        M2   += M2_b + delta^2 * n * n_b / (n + n_b)

    (Chan, Golub & LeVeque 1979) — the MERGEABLE formulation, so the
    same three numbers flow whether a batch holds one row or a million,
    and the final state equals the batch-mode two-pass moments to
    ~1 ulp regardless of trigger slicing.  State per key is THREE
    numbers + a seq — O(#keys), never O(stream)."""
    (event_type,) = key
    n, mean, m2, seq = state.get if state.exists else (0, 0.0, 0.0, 0)
    for pdf in batches:
        v = pdf["value"].fillna(0.0).to_numpy(dtype="float64")
        nb = int(v.size)
        if nb == 0:
            continue
        mb = float(v.mean())
        m2b = float(((v - mb) ** 2).sum())
        tot = n + nb
        delta = mb - mean
        mean += delta * nb / tot
        m2 += m2b + delta * delta * n * nb / tot
        n = tot
    seq += 1
    state.update((n, mean, m2, seq))
    yield pd.DataFrame(
        {
            "event_type": [event_type],
            "n_events": [n],
            "mean_value": [mean],
            "m2": [m2],
            "update_seq": [seq],
        }
    )


def stateful_moments(events: DataFrame) -> DataFrame:
    """Per-event-type streaming running moments (count / mean / M2) via
    ``applyInPandasWithState`` — the mergeable-statistics analogue of
    ``stateful_user_totals``: st03 proves the SUM law survives arbitrary
    trigger slicing, this proves the numerically-delicate VARIANCE law
    does (naive sum-of-squares cancels catastrophically at large means;
    the Chan merge never subtracts large near-equal numbers).  The last
    update per key equals the batch ``var_pop`` to rounding, which is
    what the oracle checks after an argmax-by-update_seq."""
    return (
        events.filter(F.col("event_type") != FLUSH_TYPE)
        .groupBy("event_type")
        .applyInPandasWithState(
            _moments_fn,
            outputStructType=_MOMENTS_SCHEMA,
            stateStructType=_MOMENTS_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def latest_moments(updates: DataFrame) -> DataFrame:
    """Final snapshot from the moments update log: argmax(update_seq)
    per event_type, variance derived as M2/n."""
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.col("update_seq").desc())
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "event_type",
            "n_events",
            F.round("mean_value", 4).alias("mean_value"),
            F.round(F.col("m2") / F.col("n_events"), 4).alias("var_value"),
        )
    )


def stateful_user_totals_tws(events: DataFrame) -> DataFrame:
    """Spark 4 successor-API twin of ``stateful_user_totals``:
    per-user running totals via ``transformWithStateInPandas`` (the
    ``StatefulProcessor`` + typed ``ValueState`` API that replaces
    ``applyInPandasWithState``).  Semantics are identical — same output
    schema, one emitted row per (user, trigger-with-data), last update
    equals the batch aggregate — so the st03 differential applies
    verbatim.

    ENV-GATED: the processor runs through a Python-side state server
    that needs ``google.protobuf``, absent in this container; the test
    (tests/test_streaming.py::test_transform_with_state_totals) skips
    until the dependency appears.  applyInPandasWithState (st03)
    remains the tested path for the same semantics.
    """
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class UserTotalsProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", _USER_STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
            n, total, seq = self._state.get() if self._state.exists() else (0, 0.0, 0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].fillna(0.0).sum())
            seq += 1
            self._state.update((n, total, seq))
            (user_id,) = key
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "n_events": [n],
                    "total_value": [round(total, 4)],
                    "update_seq": [seq],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.filter(F.col("event_type") != FLUSH_TYPE)
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=UserTotalsProcessor(),
            outputStructType=_USER_TOTALS_SCHEMA,
            outputMode="Append",
            timeMode="None",
        )
    )


def stream_distinct(events: DataFrame, keys: list[str]) -> DataFrame:
    """Streaming exact dedup: first occurrence per key, state-backed.

    This is the streaming half of the LLM-pipeline dedup tier (batch
    half: operators/dedup.exact_dedup) — the shape used to make an
    at-least-once ingest idempotent.  Plain ``dropDuplicates`` keeps
    every seen key in the state store, which is exact but unbounded; a
    real 100 TB ingest bounds state with
    ``dropDuplicatesWithinWatermark(keys)`` instead, which guarantees
    dedup only for duplicates arriving within the watermark delay —
    exactly the at-least-once redelivery horizon.  The exact variant is
    used here because its output is deterministic (the distinct key
    set), hence oracle-checkable.
    """
    return events.filter(F.col("event_type") != FLUSH_TYPE).select(*keys).dropDuplicates(keys)


def stream_distinct_within_watermark(
    events: DataFrame, keys: list[str], delay: str = "2000 hours"
) -> DataFrame:
    """Bounded-state streaming dedup via ``dropDuplicatesWithinWatermark``.

    The 100 TB counterpart of ``stream_distinct``: state for a key is
    EVICTED once the watermark passes its event time + ``delay``, so the
    state store holds only the redelivery horizon instead of every key
    ever seen.  Dedup is guaranteed only for duplicates arriving within
    ``delay`` of the first copy — exactly the at-least-once redelivery
    contract of a queue ingest.  Here ``delay`` is chosen so no state
    evicts during the replay (eviction needs event_time < max_ts -
    2*``delay``, so any delay >= span/2 suffices; 2000 h covers a
    ~166-day replay), making the emitted set equal SELECT DISTINCT and
    the operator oracle-checkable while still exercising the
    bounded-state API (Spark 3.5+).
    """
    return (
        events.filter(F.col("event_type") != FLUSH_TYPE)
        .select("ts", *keys)
        .withWatermark("ts", delay)
        .dropDuplicatesWithinWatermark(keys)
        .select(*keys)
    )


def clicks_then_purchases(
    events: DataFrame, within: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: purchases within ``within`` after a
    click by the same user.

    Both sides are watermarked and the join condition carries the event
    time range, so the state store evicts rows once the watermark passes
    ``click.ts + within`` — bounded state, the only join shape that
    survives an unbounded stream.  Inner join emits on match (no
    watermark wait), so with the ordered replay the result equals the
    batch interval join.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", watermark)
    )
    cond = (
        (clicks["c_user"] == purchases["p_user"])
        & (purchases["p_ts"] >= clicks["c_ts"])
        & (purchases["p_ts"] <= clicks["c_ts"] + F.expr(f"INTERVAL {within}"))
    )
    return clicks.join(purchases, cond, "inner").select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        F.unix_timestamp("c_ts").alias("click_epoch"),
        F.unix_timestamp("p_ts").alias("purchase_epoch"),
        F.round("p_value", 4).alias("purchase_value"),
    )


def latest_per_user(updates: DataFrame) -> DataFrame:
    """Final snapshot from the update log: argmax(update_seq) per user."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("update_seq").desc())
    return (
        updates.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "n_events", "total_value")
    )


def sliding_aggregate(
    events: DataFrame,
    window: str = "15 minutes",
    slide: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked SLIDING-window counts/sums per event_type: each event
    contributes to window/slide windows (Spark explodes internally).

    State per key is bounded by (window/slide) concurrent windows ×
    #event_types; the watermark expires closed windows, so state is
    O(active windows), not O(stream length) — the property that lets
    this run forever on an unbounded ingest.  Same sentinel discipline
    as tumbling_aggregate: do not filter in-stream.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def enrich_with_dim(
    events: DataFrame,
    dim: DataFrame,
    on_left: str = "user_id",
    on_right: str = "c_custkey",
) -> DataFrame:
    """Stream-static broadcast join: each micro-batch joins against the
    (re-evaluated) static dimension — the canonical streaming enrichment
    shape.  Stateless: nothing is buffered, no watermark is required,
    append mode emits each event exactly once.  At 100 TB the static
    side is a broadcast-sized dim (or a slowly-changing table the
    source re-reads per batch); the stream never shuffles.

    Emits (event_id, user_id, event_type, event_epoch, value, n_name)
    with a left join so events from unknown users survive with a null
    nation.
    """
    return events.join(
        F.broadcast(dim), events[on_left] == dim[on_right], "left_outer"
    ).select(
        "event_id",
        "user_id",
        "event_type",
        F.unix_timestamp("ts").alias("event_epoch"),
        F.round("value", 4).alias("value"),
        "n_name",
    )


def prepare_late_stream_dir(
    spark: SparkSession,
    sf_dir: str,
    late_lo_sec: int = 5400,
    late_hi_sec: int = 1800,
    n_ontime_chunks: int = 3,
    base_dir: str = "/tmp/mapreducehs_stream",
) -> str:
    """Replay directory with a deterministic LATE slice — the
    watermark-semantics fixture.

    Rows with ``ts`` in ``[t_max - late_lo_sec, t_max - late_hi_sec)``
    are held back and replayed as the LAST data chunk, after every
    on-time row (the on-time chunks stay time-ordered, so no on-time
    row is ever late).

    Two-watermark subtlety (SPARK-24634, Spark ≥ 3.4): within a batch
    the LATE-EVENT FILTER uses the previous batch's watermark while
    EVICTION uses the updated one.  To make the drop set cleanly
    derivable, the rows carrying the maximum timestamp get their own
    one-row chunk played right before the late chunk: when the late
    chunk runs, its late-filter watermark is then
    ``max(ts where ts < t_max) - delay`` (call it m0 - delay) and its
    eviction watermark is ``t_max - delay``.  Spark drops exactly the
    late rows whose window end <= m0 - delay (those windows were also
    evicted+emitted in the previous batch, so no duplicate emission is
    possible), and merges the rest — a deterministic, oracle-checkable
    subset because both watermarks depend only on event time.
    """
    from mapreducehs_spark.sources.catalog import source_fingerprint

    from mapreducehs_spark.sources.catalog import build_fixture_once

    key = (
        f"{os.path.basename(os.path.normpath(sf_dir))}_late_{late_lo_sec}_{late_hi_sec}"
        f"_{n_ontime_chunks}_v2_{source_fingerprint(sf_dir, 'events')}"
    )
    return build_fixture_once(
        os.path.join(base_dir, key),
        lambda tmp: _build_late_stream_chunks(
            spark, sf_dir, late_lo_sec, late_hi_sec, n_ontime_chunks, tmp
        ),
    )


def _build_late_stream_chunks(
    spark: SparkSession,
    sf_dir: str,
    late_lo_sec: int,
    late_hi_sec: int,
    n_ontime_chunks: int,
    out: str,
) -> None:
    from mapreducehs_spark.sources.catalog import guard_driver_fixture

    os.makedirs(out, exist_ok=True)
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )
    guard_driver_fixture(ev, f"late-stream replay chunks ({sf_dir})")
    pdf = ev.toPandas().sort_values("ts", kind="mergesort", ignore_index=True)
    t_max = pdf["ts"].max()
    lo = t_max - pd.Timedelta(seconds=late_lo_sec)
    hi = t_max - pd.Timedelta(seconds=late_hi_sec)
    late_mask = (pdf["ts"] >= lo) & (pdf["ts"] < hi)
    tmax_mask = pdf["ts"] == t_max
    late = pdf[late_mask]
    tail = pdf[tmax_mask & ~late_mask]
    ontime = pdf[~late_mask & ~tmax_mask]

    n = len(ontime)
    bounds = [round(i * n / n_ontime_chunks) for i in range(n_ontime_chunks + 1)]
    files = []
    for i in range(n_ontime_chunks):
        chunk = ontime.iloc[bounds[i] : bounds[i + 1]]
        if len(chunk) == 0:
            continue
        p = os.path.join(out, f"chunk_{i:04d}.parquet")
        chunk.to_parquet(p, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
        files.append(p)
    # the t_max rows ride alone so they advance the late-filter
    # watermark exactly one batch before the late chunk plays
    p_tail = os.path.join(out, f"chunk_{n_ontime_chunks:04d}_tail.parquet")
    tail.to_parquet(p_tail, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    files.append(p_tail)
    p_late = os.path.join(out, f"chunk_{n_ontime_chunks + 1:04d}_late.parquet")
    late.to_parquet(p_late, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    files.append(p_late)

    sentinel = pd.DataFrame(
        {
            "event_id": [-1],
            "ts": [pdf["ts"].max() + pd.Timedelta(days=365)],
            "user_id": [-1],
            "event_type": [FLUSH_TYPE],
            "value": [0.0],
            "props": ["{}"],
        }
    )
    p_sent = os.path.join(out, f"chunk_{n_ontime_chunks + 2:04d}_flush.parquet")
    sentinel.to_parquet(p_sent, index=False, coerce_timestamps="us", allow_truncated_timestamps=True)
    files.append(p_sent)

    now = time.time()
    for i, f in enumerate(files):
        os.utime(f, (now + i * 10, now + i * 10))


def chained_window_aggregate(
    events: DataFrame,
    inner: str = "1 hour",
    outer: str = "6 hours",
    watermark: str = "30 minutes",
) -> DataFrame:
    """CHAINED stateful ops: tumbling hourly aggregate re-aggregated
    into 6-hour buckets, both streaming (Spark 3.4+ multiple-stateful-
    operator support: the outer ``window()`` accepts the inner window
    STRUCT column, and the watermark propagates so outer windows close
    once their last inner window is final).

    The hierarchical-rollup topology (minute→hour→day) in ONE streaming
    query — state per level is bounded by open windows only.  Inner
    sums ride as exact basis-point integers so the two-level partial
    summation is order-independent and batch-replayable (q83 trick).
    """
    cents = F.round(F.col("value") * 100, 0).cast("bigint")
    hourly = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", inner).alias("w1"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum(cents).alias("cents"))
    )
    return (
        hourly.groupBy(F.window(F.col("w1"), outer).alias("w2"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_hours"),
            F.sum("n_events").alias("n_events"),
            F.max("n_events").alias("max_hourly_events"),
            F.round(F.sum("cents") / 100.0, 4).alias("sum_value"),
        )
        .select(
            F.unix_timestamp(F.col("w2.start")).alias("bucket_start"),
            "event_type",
            "n_hours",
            "n_events",
            "max_hourly_events",
            "sum_value",
        )
    )


_MG_SKETCH_OUT = StructType(
    [
        StructField("shard", LongType()),
        StructField("update_seq", LongType()),
        StructField("terms", ArrayType(StringType())),
        StructField("counts", ArrayType(LongType())),
    ]
)

_MG_SKETCH_STATE = StructType(
    [
        StructField("terms", ArrayType(StringType())),
        StructField("counts", ArrayType(LongType())),
        StructField("seq", LongType()),
    ]
)


def stateful_mg_sketch(
    events: DataFrame, shards: int = 16, capacity: int = 8
) -> DataFrame:
    """Streaming Misra-Gries heavy-hitter sketch, sharded.

    The streaming analogue of q71's two-level plan: each micro-batch's
    rows pre-aggregate VECTORIZED (pandas value_counts — the map-side
    combine), then fold into the per-shard sketch state with the
    PODS'12 merge rule (``operators/sketches._mg_merge``), so state per
    shard is bounded by ``capacity`` regardless of stream length — the
    always-on "trending items" topology.  Each update emits the whole
    sketch as one row (arrays of terms/counts); the serving read takes
    the LATEST update per shard and merges shards by summation —
    with ``capacity ≥ distinct keys`` the sketch never decrements, so
    the merged result is EXACT and the whole streaming topology
    value-checks against the batch count (st13).  The reference has no
    streaming at all (batch-only, src/Core/Std.hs:49-50)."""
    from mapreducehs_spark.operators.sketches import _mg_merge

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (shard,) = key
        if state.exists:
            terms, counts, seq = state.get
            parts = [pd.DataFrame({"term": list(terms), "est": list(counts)})]
        else:
            parts, seq = [], 0
        for pdf in batches:
            vc = pdf["event_type"].value_counts()
            parts.append(
                pd.DataFrame({"term": vc.index.to_list(), "est": vc.to_list()})
            )
        merged = _mg_merge(
            pd.concat(parts, ignore_index=True)
            if parts
            else pd.DataFrame({"term": [], "est": []}),
            capacity,
        )
        seq += 1
        state.update((list(merged.keys()), [int(v) for v in merged.values()], seq))
        yield pd.DataFrame(
            {
                "shard": [shard],
                "update_seq": [seq],
                "terms": [list(merged.keys())],
                "counts": [[int(v) for v in merged.values()]],
            }
        )

    return (
        events.filter(F.col("event_type") != FLUSH_TYPE)
        .withColumn("shard", F.col("user_id") % shards)
        .groupBy("shard")
        .applyInPandasWithState(
            fn,
            outputStructType=_MG_SKETCH_OUT,
            stateStructType=_MG_SKETCH_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def merge_mg_sketch_log(log: DataFrame) -> DataFrame:
    """Serving read for ``stateful_mg_sketch``: latest update per shard
    (update_seq argmax), then the cross-shard PODS merge — summation of
    entry counts (exact when capacity ≥ distinct keys).  Arrays explode
    to (term, est) rows; integer sums are order-free."""
    from pyspark.sql import Window

    w = Window.partitionBy("shard").orderBy(F.col("update_seq").desc())
    latest = (
        log.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    return (
        latest.select(
            F.explode_outer(F.arrays_zip("terms", "counts")).alias("e")
        )
        .filter(F.col("e").isNotNull())
        .groupBy(F.col("e.terms").alias("event_type"))
        .agg(F.sum("e.counts").cast("bigint").alias("est_total"))
    )


def clicks_left_outer_purchases(
    events: DataFrame, within: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Stream-stream LEFT OUTER join: every click, with ONE ROW PER
    matching purchase within ``within`` (a click with k in-window
    purchases emits k rows, exactly like the batch LEFT join the oracle
    runs) — or a single NULL row once the watermark proves no match can
    arrive.

    The outer side is the semantics inner joins can't express: an
    unmatched click is emitted (purchase columns NULL) only after the
    watermark passes ``click.ts + within`` — the state store must hold
    the click exactly that long and then give up on it.  Same bounded
    state as the inner join; the extra behavior is the watermark-closed
    NULL emission, which the flush sentinel forces for every click in a
    finite replay, so the result equals the batch LEFT join (st14)."""
    # the flush sentinel must REACH both EventTimeWatermark operators:
    # NULL emission for an unmatched click happens only when the
    # watermark passes click.ts + within, and the watermark is computed
    # from rows that survive the upstream filter.  Filtering to
    # event_type == 'click' alone (st05's inner-join shape, where
    # emission is match-driven and needs no watermark advance) leaves
    # the final ~window of unmatched clicks open FOREVER — measured:
    # exactly the tail clicks never emitted.  Sentinel rows carry
    # user_id -1 and are dropped from the batch result (st14's filter).
    clicks = (
        events.filter(F.col("event_type").isin("click", FLUSH_TYPE))
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type").isin("purchase", FLUSH_TYPE))
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", watermark)
    )
    cond = (
        (clicks["c_user"] == purchases["p_user"])
        & (purchases["p_ts"] >= clicks["c_ts"])
        & (purchases["p_ts"] <= clicks["c_ts"] + F.expr(f"INTERVAL {within}"))
    )
    return clicks.join(purchases, cond, "left_outer").select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        F.unix_timestamp("c_ts").alias("click_epoch"),
        (F.col("purchase_id").isNotNull()).alias("matched"),
    )


# ---------------------------------------------------------------------------
# st15: streaming incremental MinHash near-dup dedup
# ---------------------------------------------------------------------------

#: Schema of the replayed documents stream (st15).  ``ts`` is synthetic
#: arrival time (epoch + doc_id seconds) — the watermark axis that
#: bounds the dedup state.
DOCS_STREAM_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("source", StringType()),
        StructField("text", StringType()),
    ]
)

_MINHASH_PAIRS_OUT = StructType(
    [
        StructField("id_a", LongType()),
        StructField("id_b", LongType()),
        StructField("n_agree", LongType()),
    ]
)

#: band-bucket state: member doc ids + their signatures flattened
#: (NUM_PERM longs per id, same order as ids)
_MINHASH_STATE = StructType(
    [
        StructField("ids", ArrayType(LongType())),
        StructField("sigs", ArrayType(LongType())),
    ]
)


def prepare_docs_stream_dir(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 4,
    base_dir: str = "/tmp/mapreducehs_docs_stream",
) -> str:
    """Replay dir for the documents table: doc_id-ordered chunks with a
    synthetic arrival timestamp (epoch 2024-01-01 + doc_id seconds), one
    chunk per trigger.  Same idempotent build-once contract as
    ``prepare_stream_dir``.  No flush sentinel: st15 emits pairs on
    ARRIVAL (not on watermark close), so nothing needs flushing."""
    from mapreducehs_spark.sources.catalog import build_fixture_once, source_fingerprint

    key = (
        f"{os.path.basename(os.path.normpath(sf_dir))}_c{n_chunks}_v2"
        f"_{source_fingerprint(sf_dir, 'documents')}"
    )
    return build_fixture_once(
        os.path.join(base_dir, key),
        lambda tmp: _build_docs_stream_chunks(spark, sf_dir, n_chunks, tmp),
    )


def _build_docs_stream_chunks(
    spark: SparkSession, sf_dir: str, n_chunks: int, out: str
) -> None:
    from mapreducehs_spark.sources.catalog import guard_driver_fixture

    os.makedirs(out, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    guard_driver_fixture(docs, f"docs stream replay chunks ({sf_dir})")
    pdf = docs.toPandas().sort_values("doc_id", ignore_index=True)
    pdf["ts"] = pd.Timestamp("2024-01-01") + pd.to_timedelta(pdf["doc_id"], unit="s")
    pdf = pdf[["doc_id", "ts", "source", "text"]]
    n = len(pdf)
    now = time.time()
    bounds = [round(i * n / n_chunks) for i in range(n_chunks + 1)]
    for i in range(n_chunks):
        chunk = pdf.iloc[bounds[i] : bounds[i + 1]]
        if len(chunk) == 0:
            continue
        path = os.path.join(out, f"chunk_{i:04d}.parquet")
        chunk.to_parquet(
            path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
        )
        os.utime(path, (now + i * 10, now + i * 10))


def docs_stream(
    spark: SparkSession, replay_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over a docs replay dir (one chunk per trigger)."""
    return (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(replay_dir)
    )


#: Soft observability bound for ``stateful_minhash_dedup`` band buckets:
#: a bucket past this size means a hot band key (skewed corpus) whose
#: per-batch pair emission is quadratic — warn rather than degrade
#: silently (the TTL bounds state over time, not within a horizon).
HOT_BUCKET_WARN_MEMBERS = 10_000


def stateful_minhash_dedup(
    docs: DataFrame,
    ttl_sec: int = 10**9,
    watermark: str = "10 seconds",
) -> DataFrame:
    """Streaming INCREMENTAL MinHash-LSH near-dup detection — d11's
    checked banding law as bounded ``applyInPandasWithState`` state
    (the composition VERDICT r4 asked for: d11 value-check + st13
    bounded state).

    Topology: each arriving doc computes its 16-permutation checked
    signature in one Arrow pass (identical law to
    ``operators/dedup.minhash_lsh_pairs_checked`` — md5-hex-fold
    shingle ids, literal-seed universal hashes, so the DuckDB oracle
    replays it), explodes into its 4 LSH band keys, and each
    (band, band_key) BUCKET is a stateful group holding the ids +
    signatures of its members.  A new member emits a candidate pair
    against every current member with the signature-agreement count
    attached — candidates-then-verify, never all-pairs, exactly the
    batch operator's shape but incremental: a doc is compared the
    moment it arrives, against a bucket, not the corpus.

    State is bounded two ways: a bucket holds only docs whose band key
    collided (LSH's own sparsity), and ``ttl_sec`` of event time after
    a bucket's newest member the whole bucket is EVICTED via
    EventTimeTimeout — the at-scale knob: dedup-against-recent-history
    (the production posture for an always-on ingest; a replayed span
    shorter than the TTL sees no eviction and the emitted pairs equal
    the batch d11 result exactly, which is how st15 value-checks).

    At 100 TB/day: state per bucket is members × (1 + NUM_PERM) longs,
    buckets shard across state-store partitions by (band, bk), and the
    TTL keeps total state proportional to the dedup horizon, not the
    stream's history."""
    import hashlib
    import re

    import numpy as np
    from pyspark.sql.functions import pandas_udf

    from mapreducehs_spark.operators.dedup import (
        _H31,
        MINHASH_CHECK_BANDS,
        MINHASH_CHECK_NUM_PERM,
        minhash_check_seeds,
    )

    a_seeds, b_seeds = minhash_check_seeds()
    a_arr_rows = np.array(a_seeds, dtype=np.int64)[:, None]
    b_arr_rows = np.array(b_seeds, dtype=np.int64)[:, None]
    num_perm = MINHASH_CHECK_NUM_PERM
    bands = MINHASH_CHECK_BANDS
    rows_per_band = num_perm // bands
    ttl_ms = int(ttl_sec) * 1000

    @pandas_udf("array<bigint>")
    def sig_udf(texts: pd.Series) -> pd.Series:
        """Per-doc checked signature; None for docs with < 3 tokens
        (the batch operator filters them before shingling).  Same law
        as the batch path: x = md5-hex-15 fold mod p; m_i = min over
        shingles of (a_i*x + b_i) mod p.  a*x < 2^62, no overflow."""
        out = []
        for text in texts:
            # explicit ASCII whitespace class: the batch path tokenizes
            # with JVM F.split(r"\s+") whose \s is ASCII-only by
            # default, while Python's \s is Unicode-aware — a U+00A0 in
            # a document would fork the tokenization law (ADVICE r05)
            toks = [t for t in re.split(r"[ \t\n\r\f\v]+", text or "") if t != ""]
            if len(toks) < 3:
                out.append(None)
                continue
            xs = np.fromiter(
                (
                    int(hashlib.md5(" ".join(toks[i : i + 3]).encode()).hexdigest()[:15], 16)
                    % _H31
                    for i in range(len(toks) - 2)
                ),
                dtype=np.int64,
            )
            out.append(((a_arr_rows * xs[None, :] + b_arr_rows) % _H31).min(axis=1).tolist())
        return pd.Series(out)

    band_keys = F.array(
        *[
            F.concat_ws(
                "_",
                *[
                    F.element_at("sig", b * rows_per_band + r + 1).cast("string")
                    for r in range(rows_per_band)
                ],
            )
            for b in range(bands)
        ]
    )
    banded = (
        docs.withColumn("sig", sig_udf(F.col("text")))
        .filter(F.col("sig").isNotNull())
        .withColumn("__bks", band_keys)
        .select("doc_id", "ts", "sig", F.posexplode("__bks").alias("band", "bk"))
        .withWatermark("ts", watermark)
    )

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            ids, sigs = state.get
            ids = list(ids)
            n = len(ids)
            sig_mat = np.array(sigs, dtype=np.int64).reshape(-1, num_perm)
        else:
            ids, n, sig_mat = [], 0, np.empty((0, num_perm), dtype=np.int64)
        # O(1) membership + amortized-O(1) append (ADVICE r05: the list
        # scan + per-insert np.vstack were O(bucket²) per batch, which a
        # hot band key in a skewed corpus would hit hard): doubling
        # buffer, one copy per capacity doubling instead of per insert
        member_set = set(ids)
        cap = max(16, 2 * n)
        buf = np.empty((cap, num_perm), dtype=np.int64)
        buf[:n] = sig_mat
        out_a: list[int] = []
        out_b: list[int] = []
        out_n: list[int] = []
        max_ts_ms = 0
        # deterministic intra-batch order: concat ALL chunks, sort once
        # (per-chunk sorting is not a global doc_id order when a
        # micro-batch arrives as several Arrow chunks)
        chunks = [pdf for pdf in batches if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values("doc_id")
            max_ts_ms = int(pdf["ts"].max().value // 1_000_000)
            for doc_id, sig in zip(pdf["doc_id"], pdf["sig"]):
                doc_id = int(doc_id)
                if doc_id in member_set:
                    continue  # redelivery: already a member
                sv = np.array(list(sig), dtype=np.int64)
                if n:
                    agrees = (buf[:n] == sv[None, :]).sum(axis=1)
                    for other, n_ag in zip(ids, agrees):
                        lo, hi = (other, doc_id) if other < doc_id else (doc_id, other)
                        out_a.append(lo)
                        out_b.append(hi)
                        out_n.append(int(n_ag))
                if n == cap:
                    cap *= 2
                    grown = np.empty((cap, num_perm), dtype=np.int64)
                    grown[:n] = buf[:n]
                    buf = grown
                buf[n] = sv
                n += 1
                ids.append(doc_id)
                member_set.add(doc_id)
        if n > HOT_BUCKET_WARN_MEMBERS:
            # hot-bucket observability: TTL bounds state over time, not
            # within a horizon — surface degradation instead of hiding it
            warnings.warn(
                f"stateful_minhash_dedup: band bucket {key} holds {n} members "
                f"(> {HOT_BUCKET_WARN_MEMBERS}); pair emission is quadratic in "
                "bucket size — consider a shorter TTL or a salted band key",
                stacklevel=1,
            )
        state.update((ids, [int(v) for v in buf[:n].ravel()]))
        # evict the bucket ttl after its newest member's event time
        # (must exceed the current watermark at set time)
        state.setTimeoutTimestamp(
            max(max_ts_ms + ttl_ms, state.getCurrentWatermarkMs() + 1)
        )
        if out_a:
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "n_agree": out_n})

    return banded.groupBy("band", "bk").applyInPandasWithState(
        fn,
        outputStructType=_MINHASH_PAIRS_OUT,
        stateStructType=_MINHASH_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def minhash_pairs_from_log(log: DataFrame, est_threshold: float = 0.25) -> DataFrame:
    """Serving read for ``stateful_minhash_dedup``: a pair discovered in
    k shared bands appears k times with the SAME n_agree (the agreement
    is a pure function of the two signatures) — dedup, attach the d11
    estimate law, filter.  Column names match d11 so the same oracle
    checks both."""
    from mapreducehs_spark.operators.dedup import MINHASH_CHECK_NUM_PERM

    return (
        log.dropDuplicates(["id_a", "id_b"])
        .withColumn(
            "est_jaccard", F.round(F.col("n_agree") / float(MINHASH_CHECK_NUM_PERM), 6)
        )
        .filter(F.col("est_jaccard") >= est_threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


# ---------------------------------------------------------------------------
# st16: streaming strict-order funnel (q115's law as per-user state)
# ---------------------------------------------------------------------------

_FUNNEL_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("t1", LongType()),
        StructField("t2", LongType()),
        StructField("t3", LongType()),
        StructField("update_seq", LongType()),
    ]
)

_FUNNEL_STATE = StructType(
    [
        StructField("t1", LongType()),
        StructField("t2", LongType()),
        StructField("t3", LongType()),
        StructField("seq", LongType()),
    ]
)


def stateful_funnel(
    events: DataFrame,
    steps: tuple = ("view", "click", "purchase"),
) -> DataFrame:
    """Streaming STRICT-ORDER funnel — q115's batch law as a per-user
    state machine: state is the three first-completion epochs
    (t1 = first `view`, t2 = first `click` strictly after t1,
    t3 = first `purchase` strictly after t2), folded over the
    time-ordered replay.  Because the replay is event-time ordered,
    each tk is FINAL the moment it is set, so the sequential fold
    computes exactly the batch cascade of conditional mins and the
    topology value-checks against q115's oracle bit-for-bit (st13's
    exact-regime discipline).  Emits one snapshot row per touched user
    per micro-batch; the serving read (funnel_report_from_log) takes
    the latest snapshot per user — st10's upsert-serving shape.  State
    per user is 4 longs, bounded by the user population (add an
    EventTimeTimeout for cohort-window semantics on unbounded
    populations)."""
    s1, s2, s3 = steps

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user,) = key
        t1, t2, t3, seq = state.get if state.exists else (None, None, None, 0)
        # Concat ALL Arrow chunks before the single sort: a micro-batch
        # may arrive as several chunks, and sorting each independently
        # would replay events out of global (ts, event_id) order.
        chunks = [pdf for pdf in batches if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
            for et, ts in zip(pdf["event_type"], pdf["ts"]):
                t = int(ts.value // 1_000_000_000)  # epoch seconds
                if t1 is None:
                    if et == s1:
                        t1 = t
                elif t2 is None:
                    if et == s2 and t > t1:
                        t2 = t
                elif t3 is None:
                    if et == s3 and t > t2:
                        t3 = t
        seq += 1
        state.update((t1, t2, t3, seq))
        yield pd.DataFrame(
            {"user_id": [user], "t1": [t1], "t2": [t2], "t3": [t3], "update_seq": [seq]}
        )

    return (
        events.filter(F.col("event_type") != FLUSH_TYPE)
        .select("user_id", "event_type", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=_FUNNEL_OUT,
            stateStructType=_FUNNEL_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def funnel_report_from_log(log: DataFrame) -> DataFrame:
    """Serving read for ``stateful_funnel``: latest snapshot per user,
    then q115's aggregate (counts per step, 1-day completion window,
    truncating micro-unit conversion) — column-for-column the batch
    query's output, so the same oracle checks both."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.col("update_seq").desc())
    latest = (
        log.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .filter(F.col("t1").isNotNull())
    )
    return latest.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_viewed"),
        F.count("t2").cast("bigint").alias("n_clicked"),
        F.count("t3").cast("bigint").alias("n_purchased"),
        F.count(F.when(F.col("t3") - F.col("t1") <= 86400, 1))
        .cast("bigint")
        .alias("n_completed_1d"),
        F.expr("(count(t3) * 1000000L) div count(*)").cast("bigint").alias("conv_micro"),
    )


def hashed_linear_score_stream(docs: DataFrame, n_buckets: int = 4096) -> DataFrame:
    """STREAMING model inference — t26's hashed-linear quality
    classifier applied to the document stream as a STATELESS per-row
    fold: tokenize, md5-fold each token into its bucket, fold the
    deterministic weight law w(b) = (b·2654435761) mod 1000 − 500 over
    the token list, emit (doc_id, n_feats, score, keep).

    The scale point this query makes: model inference needs NO
    streaming state, no watermark, no shuffle — the model is a law (in
    production: a broadcast table) and scoring is a map, so throughput
    is bounded by the scan, exactly like the batch plan.  The whole
    fold runs in JVM higher-order functions; with the batch path's
    plan-shape caveat (HOFs evaluate interpreted) accepted here because
    the per-row token lists are small and the alternative (explode +
    per-doc aggregation) would force a stateful streaming aggregate —
    a far worse trade on a stream.

    Docs with zero tokens are dropped (t26's law: no feature rows →
    no output row), so batch t26's oracle checks this stream
    bit-for-bit (the st13/st15 discipline)."""
    from mapreducehs_spark.operators.text import tokens

    bucket = (
        f"CAST(conv(substring(md5(t), 1, 12), 16, 10) AS BIGINT) % {n_buckets}"
    )
    w = f"(({bucket}) * 2654435761L) % 1000 - 500"
    return (
        docs.withColumn("__toks", tokens(F.col("text")))
        .filter(F.size("__toks") > 0)
        .select(
            "doc_id",
            F.size("__toks").cast("bigint").alias("n_feats"),
            F.expr(
                f"aggregate(__toks, 0L, (acc, t) -> acc + ({w}))"
            ).alias("score"),
        )
        .withColumn("keep", F.col("score") > 0)
    )


def streaming_logreg_train(
    docs: DataFrame,
    n_buckets: int = 64,
    label_chars: int = 300,
) -> DataFrame:
    """STREAMING (online) model TRAINING — the missing cell of the
    train/infer × batch/stream matrix (t28 batch-train, t29 mini-batch
    train, t26 batch-infer, st17 stream-infer, HERE stream-train): each
    arriving micro-batch is one integer-law gradient step of the
    hashed-feature logistic regression (``operators/ml``), i.e. online
    SGD where the STREAM defines the mini-batches.

    Topology: ``foreachBatch`` — the Spark-native online-learning shape
    (per micro-batch: hashed features + labels for THIS batch only, one
    broadcast-model join, one dim-sized gradient aggregation, an
    integer update of driver-held weights).  State is dim+1 ints on the
    driver, exactly t28's discipline; no state store is involved
    because the model is the state and it is model-sized.  Micro-batch
    ORDER is the replay fixture's deterministic chunk order (file
    source, maxFilesPerTrigger=1, mtime-ascending), so the whole
    training trajectory is replayable: the oracle unrolls one step per
    chunk, with chunk membership derived from the fixture's positional
    law (doc_id rank r → chunk (r·n_chunks) div n; integral bounds at
    every fixture SF since doc counts divide by 4).

    Label: y = (length(text) ≥ label_chars) — identical to t28's
    n_chars law (the generator sets n_chars = len(text); verified
    ASCII, so Spark/DuckDB/Python length agree).

    Returns one weight snapshot per processed batch:
    (step, bucket, w) with bias as bucket −1, step 1-based in arrival
    order — the audit trail an online-learning serving layer keeps.

    At 100 TB/day this is the always-on trainer: per batch ONE scan of
    the new data, a 64-key shuffle, and a model-sized driver update —
    cost tracks ingest volume, never history."""
    from mapreducehs_spark.operators.iteration import materialize
    from mapreducehs_spark.operators.ml import hashed_features, logreg_gradient_step

    spark = docs.sparkSession
    weights = {b: 0 for b in range(n_buckets)}
    bias = 0
    snaps: list[tuple[int, dict[int, int], int]] = []

    def step(batch_df: DataFrame, batch_id: int) -> None:
        nonlocal weights, bias
        with materialize(batch_df.sparkSession) as m:
            rows = m.persist(
                batch_df.select(
                    "doc_id",
                    "text",
                    (F.length("text") >= label_chars).cast("bigint").alias("y"),
                )
            )
            n = rows.count()
            if n == 0:  # trailing empty batch: no step
                return
            feats = hashed_features(rows.select("doc_id", "text"), n_buckets)
            labels = rows.select("doc_id", "y")
            weights, bias = logreg_gradient_step(feats, labels, weights, bias, n)
            snaps.append((int(batch_id), dict(weights), bias))

    q = docs.writeStream.foreachBatch(step).trigger(availableNow=True).start()
    try:
        if not q.awaitTermination(timeout=600):
            raise TimeoutError("streaming_logreg_train did not finish in 600s")
    finally:
        if q.isActive:
            q.stop()

    out_rows: list[tuple[int, int, int]] = []
    for step_i, (_bid, w, b) in enumerate(sorted(snaps, key=lambda t: t[0]), start=1):
        out_rows.append((step_i, -1, b))
        out_rows.extend((step_i, k, w[k]) for k in range(n_buckets))
    return spark.createDataFrame(out_rows, "step bigint, bucket bigint, w bigint")


def mixture_filter_stream(docs: DataFrame, rates: DataFrame) -> DataFrame:
    """STREAMING corpus-mixture filtering — t30's data-dependent domain
    rates applied to the document stream as a STATELESS stream-static
    broadcast join + per-row draw (the st17 posture for sampling: the
    mixture model is n_sources rows, scoring is a map, so no state
    store, no watermark, no wide shuffle — throughput is the scan).

    ``rates`` is the STATIC (source, accept_ppm) frame built by the
    batch pass (queries._mixture_rates — the ONE mixture law); at
    100 TB it is domain-count-sized and broadcasts to every task, the
    standard online-serving split: rates re-derived in batch at
    whatever cadence, streamed docs filtered against the current
    broadcast.  The md5-fold draw (queries._mix_draw law, inlined here
    to avoid a circular import — agreement is oracle-pinned) keeps
    membership deterministic, so batch and stream keep EXACTLY the
    same documents and t30's oracle CTEs value-check the stream
    (the st13/st15/st17 stream==batch discipline)."""
    from mapreducehs_spark.operators.text import tokens

    draw = (
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.lit("mix"), F.col("doc_id"))), 1, 12),
            16,
            10,
        ).cast("bigint")
        % 1_000_000
    )
    return (
        docs.withColumn("n_tokens", F.size(tokens(F.col("text"))).cast("bigint"))
        .join(F.broadcast(rates.select("source", "accept_ppm")), "source")
        .withColumn("__draw", draw)
        .filter(F.col("__draw") < F.col("accept_ppm"))
        .select("doc_id", "source", "n_tokens")
    )


def curriculum_route_stream(docs: DataFrame, cutoffs: DataFrame) -> DataFrame:
    """STREAMING curriculum routing — t49/t55's committed decile
    boundaries applied to the document stream as a STATELESS
    stream-static broadcast join (the mixture_filter_stream posture:
    the boundary model is <= n_sources rows, classification is a map,
    so no state store, no watermark, no wide shuffle).

    ``cutoffs`` is the per-source frame (source, bounds) where
    ``bounds`` is the decile-sorted array of (decile, q_max) structs
    committed by the batch pass (t49's exact rank-decile table —
    re-derived at whatever cadence; the stream classifies against the
    current broadcast, the standard online-serving split).  Each
    arriving doc computes its SELF-CONTAINED quality key (the
    _quality_scored law, inlined here to avoid a circular import —
    agreement is oracle-pinned) and lands in the FIRST decile whose
    boundary admits it: min d with quality <= q_max(d), above every
    boundary -> the hardest decile present.  Deterministic, so the
    batch oracle value-checks the routed set bit-for-bit (the
    st13/st15/st17 stream==batch discipline)."""
    from mapreducehs_spark.operators.text import tokens

    toks = tokens(F.col("text"))
    scored = (
        docs.select(
            "doc_id",
            "source",
            F.size(toks).cast("bigint").alias("n_tok"),
            F.size(F.array_distinct(toks)).cast("bigint").alias("n_uniq"),
        )
        .filter(F.col("n_tok") > 0)
        .withColumn("quality_micro", F.expr("(n_uniq * 1000000L) div n_tok"))
    )
    return scored.join(F.broadcast(cutoffs), "source").select(
        "doc_id",
        "source",
        "n_tok",
        F.coalesce(
            F.expr("filter(bounds, x -> quality_micro <= x.q_max)[0].decile"),
            F.expr("bounds[size(bounds) - 1].decile"),
        )
        .cast("bigint")
        .alias("decile"),
    )


_ANOMALY_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("cents", LongType()),
        StructField("trail_sum", LongType()),
    ]
)
_ANOMALY_STATE = StructType([StructField("ring", ArrayType(LongType()))])


def stateful_trailing_anomaly(
    events: DataFrame, window: int = 8, num: int = 3
) -> DataFrame:
    """Streaming anomaly detection over a BOUNDED RING BUFFER of the
    last ``window`` per-user amounts — the always-on spike monitor
    (fraud / rate-anomaly topology): an event is anomalous when its
    integer-cents amount exceeds ``num``× the trailing-window mean,
    tested as the exact cross-multiplication
    ``cents * window > num * sum(ring)`` so no division ever happens
    and the law replays bit-for-bit in any engine.

    State per user is exactly ``window`` longs — independent of stream
    length, the st12/st13 bounded-state discipline — and the emitted
    rows are linear in ANOMALIES, not events.  Because the replay is
    event-time ordered and (user_id, ts) is unique in the corpus, the
    sequential fold sees each user's events in the batch window-frame
    order (ROWS BETWEEN ``window`` PRECEDING AND 1 PRECEDING), so the
    streaming topology value-checks against the batch window aggregate
    (st16's order-sensitive stream==batch discipline).  At 100 TB/day
    the state store holds |active users| × ``window`` longs and the
    only shuffle is the groupBy(user_id) route — no watermark needed
    for correctness (add EventTimeTimeout to bound the user population
    when it is unbounded).  The reference has no streaming at all
    (batch-only, src/Core/Std.hs:49-50)."""
    import math

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user,) = key
        ring = list(state.get[0]) if state.exists else []
        out_eid: list[int] = []
        out_c: list[int] = []
        out_s: list[int] = []
        # Single sort over the concatenation of ALL Arrow chunks — the
        # ring replay is order-sensitive, and per-chunk sorting would
        # break the global (ts, event_id) order on multi-chunk batches.
        chunks = [pdf for pdf in batches if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
            for eid, v in zip(pdf["event_id"], pdf["value"]):
                c = int(math.floor(float(v) * 100.0))
                if len(ring) == window:
                    s = sum(ring)
                    if c * window > num * s:
                        out_eid.append(int(eid))
                        out_c.append(c)
                        out_s.append(s)
                ring.append(c)
                if len(ring) > window:
                    ring.pop(0)
        state.update((ring,))
        if out_eid:
            yield pd.DataFrame(
                {
                    "user_id": user,
                    "event_id": out_eid,
                    "cents": out_c,
                    "trail_sum": out_s,
                }
            )

    return (
        events.filter(F.col("event_type") != FLUSH_TYPE)
        .select("user_id", "event_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=_ANOMALY_OUT,
            stateStructType=_ANOMALY_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_BLOOM_DEDUP_OUT = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
    ]
)
_BLOOM_DEDUP_STATE = StructType([StructField("words", ArrayType(LongType()))])


def stateful_bloom_dedup(
    events: DataFrame, shards: int = 8, m_bits: int | None = None
) -> DataFrame:
    """Streaming first-occurrence dedup against a BLOOM-FILTER state —
    the streaming sibling of d25's space-bounded history index, and the
    bounded-state answer st12's watermark eviction can't give: st12's
    state grows with |keys inside the redelivery horizon|, while a
    Bloom filter is O(m) BITS per shard FOREVER, whatever the key
    cardinality — the trade is a measured false-positive rate (a novel
    key whose 4 bits were all set by earlier keys is silently dropped),
    which is exactly how production stream dedup runs when the key
    space is unbounded (Bloom 1970).

    Law sharing: bit positions are d25's ``_bloom_positions`` md5-fold
    seeds over ``user_id || ':' || event_type`` (computed VECTORIZED in
    the JVM before the shuffle — the Python fold only tests/sets bits),
    the shard route is an md5-fold of the same key string, and the
    filter is probe-THEN-insert per event in (ts, event_id) order, so
    the emitted set is a deterministic function of the replay and the
    DuckDB oracle replays it relationally: a bit's set-time is the min
    first-occurrence seq over keys sharing that (shard, position), and
    a key emits iff NOT all of its positions were set strictly before
    its own first occurrence.

    State per shard: 2^20 bits as 32768 32-bit words — ~256 KB × shards
    total, independent of stream length.  Emitted rows are linear in
    NOVEL keys.  At 100 TB/day: the groupBy(shard) route is the only
    shuffle, and shard count scales the state linearly while the
    per-shard filter keeps its FPR (each shard sees 1/shards of the
    keys against the same m)."""
    import numpy as np

    from mapreducehs_spark.operators.dedup import BLOOM_M_BITS, _bloom_positions

    if m_bits is None:
        m_bits = BLOOM_M_BITS
    n_words = m_bits // 32

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        words = (
            np.array(state.get[0], dtype=np.int64)
            if state.exists
            else np.zeros(n_words, dtype=np.int64)
        )
        out_u: list[int] = []
        out_t: list[str] = []
        # Concat-then-sort: probe-then-insert order decides which keys
        # become false positives, so the replay must be globally
        # (ts, event_id)-ordered even when a micro-batch spans chunks.
        chunks = [pdf for pdf in batches if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values(["ts", "event_id"])
            pos = pdf[["p0", "p1", "p2", "p3"]].to_numpy(dtype=np.int64)
            users = pdf["user_id"].to_numpy()
            types = pdf["event_type"].to_numpy()
            for i in range(len(pdf)):
                ps = pos[i]
                novel = False
                for p in ps:
                    if not (int(words[p >> 5]) >> (p & 31)) & 1:
                        novel = True
                        break
                for p in ps:
                    words[p >> 5] |= np.int64(1 << (p & 31))
                if novel:
                    out_u.append(int(users[i]))
                    out_t.append(str(types[i]))
        state.update((words.tolist(),))
        if out_u:
            yield pd.DataFrame({"user_id": out_u, "event_type": out_t})

    kstr = F.concat_ws(":", F.col("user_id").cast("string"), F.col("event_type"))
    p0, p1, p2, p3 = _bloom_positions(kstr, m_bits=m_bits)
    shard = (
        F.conv(F.substring(F.md5(F.concat(F.lit("shard:"), kstr)), 1, 12), 16, 10)
        .cast("bigint")
        % shards
    )
    return (
        events.filter(F.col("event_type") != FLUSH_TYPE)
        .select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            p0.alias("p0"),
            p1.alias("p1"),
            p2.alias("p2"),
            p3.alias("p3"),
            shard.alias("shard"),
        )
        .groupBy("shard")
        .applyInPandasWithState(
            fn,
            outputStructType=_BLOOM_DEDUP_OUT,
            stateStructType=_BLOOM_DEDUP_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def enrich_asof_versions(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static TEMPORAL (as-of) enrichment: each arriving event
    joins the SCD2 dimension version whose [valid_from_s, valid_to_s)
    half-open interval contains the event's epoch second — the
    lakehouse pattern for attaching versioned reference data to an
    unbounded ingest (st07's equi-enrichment generalized to a range
    predicate).  Stateless: no watermark, no state store; the dim
    broadcasts (user_id equi-key hash join, the range as a post-join
    filter), so the stream never shuffles.  Inner join: an event in a
    zero-width floored-second interval drops in BOTH engines (the
    deterministic boundary law the batch oracle replays); flush
    sentinels never match a real user's versions and drop with it.

    ``dim`` columns: (d_user, version_type, valid_from_s, valid_to_s).
    """
    ts_s = F.floor(F.unix_timestamp("ts")).cast("bigint")
    ev = events.select(
        "event_id", "user_id", ts_s.alias("ts_s")
    )
    cond = (
        (ev["user_id"] == dim["d_user"])
        & (ev["ts_s"] >= dim["valid_from_s"])
        & (dim["valid_to_s"].isNull() | (ev["ts_s"] < dim["valid_to_s"]))
    )
    return ev.join(F.broadcast(dim), cond, "inner").select(
        "event_id", "user_id", "ts_s", "version_type", "valid_from_s"
    )


_HIST_OUT = StructType(
    [
        StructField("event_type", StringType()),
        StructField("update_seq", LongType()),
        StructField("buckets", ArrayType(LongType())),
        StructField("counts", ArrayType(LongType())),
    ]
)
_HIST_STATE = StructType(
    [
        StructField("buckets", ArrayType(LongType())),
        StructField("counts", ArrayType(LongType())),
        StructField("seq", LongType()),
    ]
)


def stateful_histogram(events: DataFrame) -> DataFrame:
    """Streaming integer-bucket HISTOGRAM state — the quantile member
    of the streaming-sketch family (st13 heavy hitters, st20 moments):
    per event_type, counts over floor(value) buckets.  Bucket counts
    are ASSOCIATIVE, so unlike compaction-based quantile sketches (KLL)
    the state is trigger-slicing-independent and the final quantiles
    value-check EXACTLY against the batch law — the bounded-domain
    histogram is how production latency percentiles actually ship
    (fixed-bucket histograms, not order-sensitive digests).  State per
    key is bounded by the value range, independent of stream length.
    Each update emits the whole histogram; the serving read takes the
    latest per key (st13's pattern)."""

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (etype,) = key
        hist: dict[int, int] = {}
        if state.exists:
            buckets, counts, seq = state.get
            hist = dict(zip([int(b) for b in buckets], [int(c) for c in counts]))
        else:
            seq = 0
        for pdf in batches:
            import numpy as np

            vc = pd.Series(
                np.floor(pdf["value"].to_numpy(dtype="float64")).astype("int64")
            ).value_counts()
            for b, c in vc.items():
                hist[int(b)] = hist.get(int(b), 0) + int(c)
        seq += 1
        keys = sorted(hist)
        state.update((keys, [hist[b] for b in keys], seq))
        yield pd.DataFrame(
            {
                "event_type": [etype],
                "update_seq": [seq],
                "buckets": [keys],
                "counts": [[hist[b] for b in keys]],
            }
        )

    return (
        events.filter(F.col("event_type") != FLUSH_TYPE)
        .groupBy("event_type")
        .applyInPandasWithState(
            fn,
            outputStructType=_HIST_OUT,
            stateStructType=_HIST_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def histogram_quantiles_log(log: DataFrame) -> DataFrame:
    """Serving read for ``stateful_histogram``: latest update per key,
    explode to (bucket, count), then the integer quantile law — p50 at
    rank (n+1) div 2 (lower median), p90 at rank ceil(9n/10) =
    (9n+9) div 10, each the smallest bucket whose cumulative count
    reaches the rank.  All integers; the batch oracle replays the law
    verbatim."""
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.col("update_seq").desc())
    latest = (
        log.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("event_type", F.arrays_zip("buckets", "counts").alias("z"))
        .select("event_type", F.explode("z").alias("e"))
        .select(
            "event_type",
            F.col("e.buckets").alias("bkt"),
            F.col("e.counts").alias("c"),
        )
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy(F.col("bkt").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wall = (
        Window.partitionBy("event_type")
        .orderBy(F.col("bkt").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    # total via the full-partition frame of the SAME window partitioning
    # (one exchange serves both sums; also avoids a self-join on the
    # exploded frame, which trips conflicting-reference resolution)
    cum = latest.withColumn("cum", F.sum("c").over(wcum)).withColumn(
        "n", F.sum("c").over(wall).cast("bigint")
    )
    return (
        cum.groupBy("event_type")
        .agg(
            F.first("n").alias("n_values"),
            F.min(
                F.when(
                    F.col("cum") >= F.expr("(n + 1) div 2"), F.col("bkt")
                )
            )
            .cast("bigint")
            .alias("p50_floor"),
            F.min(
                F.when(
                    F.col("cum") >= F.expr("(9 * n + 9) div 10"), F.col("bkt")
                )
            )
            .cast("bigint")
            .alias("p90_floor"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming sequence packing (st26): t40's law as per-source offset state
# ---------------------------------------------------------------------------

_PACK_OUT = StructType(
    [
        StructField("source", StringType()),
        StructField("doc_id", LongType()),
        StructField("start", LongType()),
        StructField("first_seq", LongType()),
        StructField("last_seq", LongType()),
    ]
)

_PACK_STATE = StructType([StructField("offset", LongType())])


def stateful_sequence_packer(
    docs: DataFrame, ctx_len: int, n_tokens_col: str = "n_tokens"
) -> DataFrame:
    """Streaming SEQUENCE PACKING — t40's arithmetic as per-source
    offset state: each source shard keeps ONE long (its cumulative
    token offset incl. EOS separators); every arriving doc is assigned
    its global start offset and context-window span
    (start div ctx_len .. (start+w-1) div ctx_len) and the offset
    advances by w = n_tokens + 1.  This is the CONTINUOUS corpus-export
    topology: a global cross-source packing order is inherently batch
    (t40's range-sort), but a production exporter packs per source
    shard exactly like this — state is O(sources) longs FOREVER, the
    stream never shuffles more than the source key, and emission is
    on arrival (no watermark needed).

    Determinism (stream == batch): the docs replay arrives doc_id-
    ordered across micro-batches (prepare_docs_stream_dir's chunking),
    and within a batch the fold sorts the CONCATENATION of all Arrow
    chunks by doc_id (the round-8 multi-chunk discipline), so the
    per-source prefix sums equal the batch window replay bit-for-bit
    regardless of trigger slicing."""

    def fn(
        key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (source,) = key
        off = int(state.get[0]) if state.exists else 0
        ids: list[int] = []
        starts: list[int] = []
        firsts: list[int] = []
        lasts: list[int] = []
        chunks = [pdf for pdf in batches if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks).sort_values("doc_id")
            for doc_id, nt in zip(pdf["doc_id"], pdf[n_tokens_col]):
                w = int(nt) + 1
                ids.append(int(doc_id))
                starts.append(off)
                firsts.append(off // ctx_len)
                lasts.append((off + w - 1) // ctx_len)
                off += w
        state.update((off,))
        if ids:
            yield pd.DataFrame(
                {
                    "source": source,
                    "doc_id": ids,
                    "start": starts,
                    "first_seq": firsts,
                    "last_seq": lasts,
                }
            )

    return docs.groupBy("source").applyInPandasWithState(
        fn,
        outputStructType=_PACK_OUT,
        stateStructType=_PACK_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_weighted_sample(docs: DataFrame, k: int = 25) -> DataFrame:
    """STREAMING weighted sampling without replacement — t31's
    Efraimidis-Spirakis exponential races as an ONLINE reservoir: A-ES
    is *the* streaming-native sampling algorithm (its keys are
    mergeable minima), so the per-source reservoir of the ``k``
    smallest keys, folded batch by batch, equals the batch sample over
    everything seen — exactly, not approximately.

    Topology (st18's "the model is the state" posture): per
    micro-batch, keys are computed JVM-side with t31's EXACT expression
    (md5-prefix draw, -ln(u)/w, w = length(text) — the generator's
    n_chars law), the batch's own per-source top-k survives a
    WindowGroupLimit window, and only those ≤ #sources·k candidate
    rows reach the driver, where they merge into the held reservoir
    (tie-break doc_id ASC, t31's law).  State is #sources·k tuples on
    the driver — no state store, no watermark; per-batch cost is one
    scan + a bounded-output window.  Because keys are content-hash
    deterministic, the final reservoir is replay-order-independent and
    t31's own oracle value-checks it verbatim."""
    from pyspark.sql import Window

    spark = docs.sparkSession
    reservoirs: dict[str, list[tuple[float, int, int]]] = {}

    h = F.conv(F.substring(F.md5(F.col("text")), 1, 8), 16, 10).cast("bigint")
    key = -F.log((h + F.lit(1)) / F.lit(4294967296.0)) / F.col("w")

    def step(batch_df: DataFrame, batch_id: int) -> None:
        keyed = batch_df.select(
            "source",
            "doc_id",
            F.length("text").cast("bigint").alias("w"),
            F.col("text"),
        ).withColumn("__key", key).drop("text")
        w_src = Window.partitionBy("source").orderBy(
            F.col("__key").asc(), F.col("doc_id").asc()
        )
        cand = (
            keyed.withColumn("__rk", F.row_number().over(w_src))
            .filter(F.col("__rk") <= k)
            .collect()
        )
        for r in cand:
            res = reservoirs.setdefault(r["source"], [])
            res.append((float(r["__key"]), int(r["doc_id"]), int(r["w"])))
        for src, res in reservoirs.items():
            res.sort(key=lambda t: (t[0], t[1]))
            del res[k:]

    q = docs.writeStream.foreachBatch(step).trigger(availableNow=True).start()
    try:
        if not q.awaitTermination(timeout=600):
            raise TimeoutError("streaming_weighted_sample did not finish in 600s")
    finally:
        if q.isActive:
            q.stop()

    rows = [
        (src, doc_id, w, kf)
        for src, res in reservoirs.items()
        for kf, doc_id, w in res
    ]
    return spark.createDataFrame(
        rows, "source string, doc_id bigint, w bigint, __key double"
    ).select(
        "source",
        "doc_id",
        "w",
        F.round(F.col("__key") * 1_000_000, 4).alias("cost_micro"),
    )


#: Schema of the q122-law CDC delta replay (st31): signed per-row
#: deltas against the stored monthly rollup, integer cents so the fold
#: is exact under any batch slicing.
CDC_MV_SCHEMA = StructType(
    [
        StructField("month", LongType()),
        StructField("dn", LongType()),
        StructField("dcents", LongType()),
    ]
)


def prepare_cdc_mv_dir(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 4,
    base_dir: str = "/tmp/mapreducehs_stream_cdc",
) -> tuple[str, str]:
    """Materialize st31's inputs: the STORED base rollup (the MV as it
    stood before the CDC arrived) and a chunked replay of q122's signed
    CDC deltas (delete ⇒ one retraction row; update ⇒ retraction from
    the old month + insertion into the shifted month, +10.00 cents law
    — queries/q_ext._Q122 law, integer cents).  Returns
    (base_mv_parquet, replay_dir).  Idempotent per sf_dir fingerprint
    (build_fixture_once); chunk mtimes are spaced so the file source
    replays them in order, one per trigger."""
    from mapreducehs_spark.sources.catalog import (
        build_fixture_once,
        guard_driver_fixture,
        source_fingerprint,
    )

    key = (
        f"{os.path.basename(os.path.normpath(sf_dir))}_c{n_chunks}"
        f"_{source_fingerprint(sf_dir, 'orders')}"
    )

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        orders = load_table(spark, sf_dir, "orders")
        key_c = F.col("o_orderkey")
        cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
        m_old = (F.year("o_orderdate") * 100 + F.month("o_orderdate")).cast("bigint")
        shifted = F.add_months("o_orderdate", 1)
        m_new = (F.year(shifted) * 100 + F.month(shifted)).cast("bigint")
        base_mv = orders.groupBy(m_old.alias("month")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(cents).cast("bigint").alias("cents"),
        )
        base_mv.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(tmp, "base_mv")
        )
        is_del = key_c % 11 == 0
        is_upd = (key_c % 11 != 0) & (key_c % 7 == 0)
        d_rows = orders.filter(is_del).select(
            key_c.alias("k"),
            m_old.alias("month"),
            F.lit(-1).cast("bigint").alias("dn"),
            (-cents).alias("dcents"),
        )
        u_retract = orders.filter(is_upd).select(
            key_c.alias("k"),
            m_old.alias("month"),
            F.lit(-1).cast("bigint").alias("dn"),
            (-cents).alias("dcents"),
        )
        u_insert = orders.filter(is_upd).select(
            key_c.alias("k"),
            m_new.alias("month"),
            F.lit(1).cast("bigint").alias("dn"),
            (cents + 1000).alias("dcents"),
        )
        cdc = d_rows.unionByName(u_retract).unionByName(u_insert)
        guard_driver_fixture(cdc, f"cdc mv replay chunks ({sf_dir})")
        pdf = (
            cdc.toPandas()
            .sort_values(["k", "dn"], kind="mergesort", ignore_index=True)
            .drop(columns=["k"])
        )
        replay = os.path.join(tmp, "replay")
        os.makedirs(replay, exist_ok=True)
        n = len(pdf)
        bounds = [round(i * n / n_chunks) for i in range(n_chunks + 1)]
        now = time.time()
        for i in range(n_chunks):
            chunk = pdf.iloc[bounds[i] : bounds[i + 1]]
            if len(chunk) == 0:
                continue
            p = os.path.join(replay, f"chunk_{i:04d}.parquet")
            chunk.to_parquet(p, index=False)
            os.utime(p, (now + i * 10, now + i * 10))

    base = build_fixture_once(os.path.join(base_dir, key), build)
    return os.path.join(base, "base_mv"), os.path.join(base, "replay")


#: st36's file-manifest replay schema — q105's `_q105_files` rows (one
#: row per synthetic data file).  Counts and byte sums are order-free,
#: so ANY chunking folds to the same monitor state.
MANIFEST_SCHEMA = StructType(
    [
        StructField("file_id", LongType()),
        StructField("n_rows", LongType()),
        StructField("bytes", LongType()),
    ]
)


def prepare_manifest_dir(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 4,
    base_dir: str = "/tmp/mapreducehs_stream_manifest",
) -> str:
    """Materialize q105's file manifest (the `_q105_files` seam) as a
    chunked replay directory for st36's small-file monitor: manifest
    rows in file_id order, split into ``n_chunks`` files with spaced
    mtimes so the file source replays them one per trigger — a live
    commit log of file-level table metadata, which is exactly what a
    lakehouse auto-compaction monitor tails.  Idempotent per sf_dir
    fingerprint (build_fixture_once)."""
    from mapreducehs_spark.queries.q_ext import _q105_files
    from mapreducehs_spark.sources.catalog import (
        build_fixture_once,
        guard_driver_fixture,
        source_fingerprint,
    )

    key = (
        f"{os.path.basename(os.path.normpath(sf_dir))}_c{n_chunks}"
        f"_{source_fingerprint(sf_dir, 'orders')}"
    )

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        manifest = _q105_files(load_table(spark, sf_dir, "orders"))
        guard_driver_fixture(manifest, f"manifest replay chunks ({sf_dir})")
        pdf = manifest.toPandas().sort_values(
            "file_id", kind="mergesort", ignore_index=True
        )
        n = len(pdf)
        bounds = [round(i * n / n_chunks) for i in range(n_chunks + 1)]
        now = time.time()
        for i in range(n_chunks):
            chunk = pdf.iloc[bounds[i] : bounds[i + 1]]
            if len(chunk) == 0:
                continue
            p = os.path.join(tmp, f"chunk_{i:04d}.parquet")
            chunk.to_parquet(p, index=False)
            os.utime(p, (now + i * 10, now + i * 10))

    return build_fixture_once(os.path.join(base_dir, key), build)


def manifest_monitor_fold(
    spark: SparkSession,
    replay_dir: str,
    monitor_dir: str,
    small_bytes: int,
    checkpoint_dir: str | None = None,
    timeout: int = 600,
) -> None:
    """st36's incremental small-file monitor fold, shared by the query
    and the restart tests: each micro-batch of manifest rows partial-
    aggregates per-table-partition counters (files, small files, small
    bytes, total bytes) and merges into the stored monitor table by
    keyed re-aggregate — st31's foreachBatch MERGE pattern.  The last
    applied batch_id travels INSIDE the atomically-renamed monitor dir
    (an underscore file, invisible to the parquet reader), so an
    at-least-once retried or fully re-replayed micro-batch can never
    double-count: data and watermark cannot disagree.  Initializes the
    monitor if absent (a restart RESUMES the existing one)."""
    from pyspark.sql import functions as F

    if not os.path.exists(os.path.join(monitor_dir, "_SUCCESS")):
        empty = spark.createDataFrame(
            [],
            "part_id bigint, n_files bigint, n_small bigint, "
            "small_bytes bigint, total_bytes bigint",
        )
        empty.write.mode("overwrite").parquet(monitor_dir)

    def last_applied() -> int:
        marker = os.path.join(monitor_dir, "_last_batch_id")
        if os.path.exists(marker):
            with open(marker) as fh:
                return int(fh.read().strip())
        return -1

    small = F.col("bytes") < small_bytes

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id <= last_applied():
            return
        sp = batch_df.sparkSession
        partial = batch_df.groupBy(F.expr("file_id div 64").alias("part_id")).agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum(small.cast("bigint")).cast("bigint").alias("n_small"),
            F.sum(F.when(small, F.col("bytes")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("small_bytes"),
            F.sum("bytes").cast("bigint").alias("total_bytes"),
        )
        merged = (
            sp.read.parquet(monitor_dir)
            .unionByName(partial)
            .groupBy("part_id")
            .agg(
                F.sum("n_files").cast("bigint").alias("n_files"),
                F.sum("n_small").cast("bigint").alias("n_small"),
                F.sum("small_bytes").cast("bigint").alias("small_bytes"),
                F.sum("total_bytes").cast("bigint").alias("total_bytes"),
            )
        )
        tmp = monitor_dir + ".tmp"
        merged.write.mode("overwrite").parquet(tmp)
        with open(os.path.join(tmp, "_last_batch_id"), "w") as fh:
            fh.write(str(batch_id))
        shutil.rmtree(monitor_dir)
        os.rename(tmp, monitor_dir)

    manifest = (
        spark.readStream.schema(MANIFEST_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(replay_dir)
    )
    writer = manifest.writeStream.foreachBatch(apply_batch)
    if checkpoint_dir is not None:
        writer = writer.option("checkpointLocation", checkpoint_dir)
    q = writer.trigger(availableNow=True).start()
    try:
        if not q.awaitTermination(timeout=timeout):
            raise TimeoutError("manifest monitor stream did not finish")
    finally:
        q.stop()


#: st32's CDC log replay schema — q117's change log rows, chunked one
#: commit sequence per file so per-key version order holds across
#: triggers by construction.
CDC_LOG_SCHEMA = StructType(
    [
        StructField("k", LongType()),
        StructField("status", StringType()),
        StructField("cents", LongType()),
        StructField("seq", LongType()),
        StructField("op", StringType()),
    ]
)


def prepare_cdc_log_dir(
    spark: SparkSession,
    sf_dir: str,
    base_dir: str = "/tmp/mapreducehs_stream_cdclog",
) -> str:
    """Materialize q117's change log (the `_q117_log` seam) as a
    seq-chunked replay directory: chunk i carries exactly the commit-
    sequence-i rows, so the file source's one-chunk-per-trigger replay
    delivers every key's versions in order — the property st32's
    stateful classification needs.  Idempotent per sf_dir fingerprint."""
    from mapreducehs_spark.queries.q_ext import _q117_log
    from mapreducehs_spark.sources.catalog import (
        build_fixture_once,
        guard_driver_fixture,
        source_fingerprint,
    )

    key = (
        f"{os.path.basename(os.path.normpath(sf_dir))}"
        f"_{source_fingerprint(sf_dir, 'orders')}"
    )

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        log = _q117_log(load_table(spark, sf_dir, "orders"))
        guard_driver_fixture(log, f"cdc log replay chunks ({sf_dir})")
        pdf = log.toPandas().sort_values(["seq", "k"], kind="mergesort",
                                         ignore_index=True)
        now = time.time()
        for i, s in enumerate(sorted(pdf["seq"].unique())):
            chunk = pdf[pdf["seq"] == s]
            p = os.path.join(tmp, f"chunk_{i:04d}.parquet")
            chunk.to_parquet(p, index=False)
            os.utime(p, (now + i * 10, now + i * 10))

    return build_fixture_once(os.path.join(base_dir, key), build)


_CDC_IMAGES_SCHEMA = StructType(
    [
        StructField("change_seq", LongType()),
        StructField("o_orderkey", LongType()),
        StructField("change_type", StringType()),
        StructField("status", StringType()),
        StructField("total_cents", LongType()),
    ]
)

#: Sharded CDF state: one state-store row per SHARD holding the
#: shard's key->latest-version map as parallel arrays.  Per-KEY Python
#: state (the obvious encoding) costs one interpreter call per live
#: key per trigger — measured 125 s at sf0.1's ~135k keys; sharding
#: reduces that to n_shards calls with the per-shard work a vectorized
#: pandas merge (the st13 sharded-sketch discipline).  numRowsTotal
#: then counts shards, not keys — state BYTES still track |live keys|,
#: which is the honest scale claim (docstring + STREAM_SCALING).
_CDC_STATE_SCHEMA = StructType(
    [
        StructField("ks", ArrayType(LongType())),
        StructField("ops", ArrayType(StringType())),
        StructField("statuses", ArrayType(StringType())),
        StructField("cents", ArrayType(LongType())),
    ]
)


def _cdc_images_fn(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-shard CDF classification: the shard's key->latest-version
    map is held as four parallel arrays; each trigger's rows (exactly
    one commit sequence per trigger, so at most one row per key —
    asserted) classify against it in ONE vectorized merge: no live
    prior => insert, live prior upsert => update pre+post images,
    delete of a live row => delete image, delete of a dead key =>
    nothing — then upsert into the map.  Only images in the requested
    window (1, 3] are emitted.  State bytes are O(|shard keys|)."""
    if state.exists:
        ks, ops, statuses, cents = state.get
        smap = pd.DataFrame(
            {"k": ks, "p_op": ops, "p_status": statuses, "p_cents": cents}
        )
    else:
        smap = pd.DataFrame(
            {"k": pd.Series(dtype="int64"), "p_op": pd.Series(dtype="object"),
             "p_status": pd.Series(dtype="object"),
             "p_cents": pd.Series(dtype="int64")}
        )
    pdf = pd.concat(list(batches), ignore_index=True).sort_values(["seq", "k"])
    assert pdf["k"].is_unique, "replay must deliver one commit seq per trigger"
    m = pdf.merge(smap, on="k", how="left")
    live = m["p_op"].eq("U")
    win = (m["seq"] > 1) & (m["seq"] <= 3)

    def images(rows: pd.DataFrame, ct: str, status_col: str, cents_col: str):
        return pd.DataFrame(
            {
                "change_seq": rows["seq"].astype("int64"),
                "o_orderkey": rows["k"].astype("int64"),
                "change_type": ct,
                "status": rows[status_col],
                "total_cents": rows[cents_col].astype("int64"),
            }
        )

    ins = m[win & m["op"].eq("U") & ~live]
    upd = m[win & m["op"].eq("U") & live]
    dele = m[win & m["op"].eq("D") & live]
    frames = []
    if len(ins):
        frames.append(images(ins, "insert", "status", "cents"))
    if len(upd):
        frames.append(images(upd, "update_preimage", "p_status", "p_cents"))
        frames.append(images(upd, "update_postimage", "status", "cents"))
    if len(dele):
        frames.append(images(dele, "delete", "p_status", "p_cents"))

    merged = pd.concat(
        [smap[~smap["k"].isin(pdf["k"])].rename(
            columns={"p_op": "op", "p_status": "status", "p_cents": "cents"}
        ), pdf[["k", "op", "status", "cents"]]],
        ignore_index=True,
    )
    state.update(
        (
            merged["k"].astype("int64").tolist(),
            merged["op"].tolist(),
            merged["status"].tolist(),
            merged["cents"].astype("int64").tolist(),
        )
    )
    if frames:
        yield pd.concat(frames, ignore_index=True)


def stateful_cdc_images(log_stream: DataFrame, n_shards: int = 64) -> DataFrame:
    """Streaming change-data-feed serve: q124's image classification
    held as sharded per-key state (`applyInPandasWithState` on
    k mod ``n_shards``) instead of a lag() window over the full log."""
    sharded = log_stream.withColumn(
        "kshard", (F.col("k") % n_shards).cast("bigint")
    )
    return sharded.groupBy("kshard").applyInPandasWithState(
        _cdc_images_fn,
        outputStructType=_CDC_IMAGES_SCHEMA,
        stateStructType=_CDC_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def prepare_emb_stream_dir(
    spark: SparkSession,
    sf_dir: str,
    n_chunks: int = 4,
    base_dir: str = "/tmp/mapreducehs_stream_emb",
) -> str:
    """Materialize st33's embedding re-ingest replay: s23's batch law
    (every third corpus vector re-arrives re-embedded — its reversed
    float array, id offset by 1e6) chunked into ``n_chunks`` files for
    one-batch-per-trigger replay.  Idempotent per sf_dir fingerprint."""
    from mapreducehs_spark.sources.catalog import (
        build_fixture_once,
        guard_driver_fixture,
        source_fingerprint,
    )

    key = (
        f"{os.path.basename(os.path.normpath(sf_dir))}_c{n_chunks}"
        f"_{source_fingerprint(sf_dir, 'embeddings')}"
    )

    def build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        emb = load_table(spark, sf_dir, "embeddings")
        batch = emb.filter(
            (F.col("vec_id") >= 8) & (F.col("vec_id") % 3 == 0)
        ).select(
            (F.col("vec_id") + 1000000).alias("vec_id"),
            F.reverse("embedding").alias("embedding"),
        )
        guard_driver_fixture(batch, f"embedding re-ingest chunks ({sf_dir})")
        pdf = batch.toPandas().sort_values("vec_id", ignore_index=True)
        n = len(pdf)
        bounds = [round(i * n / n_chunks) for i in range(n_chunks + 1)]
        now = time.time()
        for i in range(n_chunks):
            chunk = pdf.iloc[bounds[i] : bounds[i + 1]]
            if len(chunk) == 0:
                continue
            p = os.path.join(tmp, f"chunk_{i:04d}.parquet")
            chunk.to_parquet(p, index=False)
            os.utime(p, (now + i * 10, now + i * 10))

    return build_fixture_once(os.path.join(base_dir, key), build)
