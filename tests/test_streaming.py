"""Streaming semantics tests beyond the oracle differential.

The oracle test (test_queries_oracle) proves stream == batch when no
data is late.  These tests prove the *streaming-only* semantics: the
watermark actually drops late rows, and the replay harness feeds chunks
in distinct triggers.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from mapreducehs_spark import streaming as st
from mapreducehs_spark.streaming.ops import EVENTS_SCHEMA


def _write_chunk(path: str, rows: list[dict]) -> None:
    pdf = pd.DataFrame(rows)
    pdf["ts"] = pd.to_datetime(pdf["ts"])
    pdf.to_parquet(
        path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
    )


def _row(event_id, ts, user_id=1, event_type="click", value=1.0):
    return {
        "event_id": event_id,
        "ts": ts,
        "user_id": user_id,
        "event_type": event_type,
        "value": value,
        "props": "{}",
    }


@pytest.fixture()
def late_replay_dir(tmp_path):
    """3 chunks where chunk 1 advances time far ahead and chunk 2
    carries a row >watermark late — that row must be dropped."""
    import time

    d = str(tmp_path / "replay")
    os.makedirs(d)
    _write_chunk(
        os.path.join(d, "c0.parquet"),
        [_row(1, "2024-01-01 00:05:00"), _row(2, "2024-01-01 00:15:00")],
    )
    _write_chunk(os.path.join(d, "c1.parquet"), [_row(3, "2024-01-01 06:00:00")])
    # c1b exists so the hour-00 window is EVICTED (watermark 05:30 from
    # c1 applies at c1b's batch) BEFORE the late row arrives — a late
    # row arriving in the same batch as the eviction legally merges.
    _write_chunk(os.path.join(d, "c1b.parquet"), [_row(9, "2024-01-01 06:01:00")])
    # watermark is now 05:31; a 00:25 row is hours late → dropped
    _write_chunk(
        os.path.join(d, "c2.parquet"),
        [_row(4, "2024-01-01 00:25:00"), _row(5, "2024-01-01 06:10:00")],
    )
    _write_chunk(os.path.join(d, "c3.parquet"), [_row(6, "2025-01-01 00:00:00", event_type="__flush__")])
    # explicit well-spaced mtimes: the file source batches by mtime
    # order and sleep-based spacing is too fine-grained to rely on
    now = time.time()
    chunks = ["c0.parquet", "c1.parquet", "c1b.parquet", "c2.parquet", "c3.parquet"]
    for i, f in enumerate(chunks):
        os.utime(os.path.join(d, f), (now + i * 10, now + i * 10))
    return d


def test_watermark_drops_late_rows(spark, late_replay_dir):
    ev = st.events_stream(spark, late_replay_dir)
    agg = st.tumbling_aggregate(ev, window="1 hour", watermark="30 minutes")
    out = (
        st.run_to_batch(agg, "late_sink", output_mode="append")
        .filter("event_type != '__flush__'")
        .toPandas()
        .sort_values("bucket_start", ignore_index=True)
    )
    # hour-00 window flushed with only events 1,2 — the late event 4
    # (00:25, arriving after the window was evicted) was dropped.
    hour0 = out[out["bucket_start"] == 1704067200]
    assert hour0["n_events"].tolist() == [2]
    # hour-06 window holds events 3, 9, 5
    hour6 = out[out["bucket_start"] == 1704088800]
    assert hour6["n_events"].tolist() == [3]


def test_replay_dir_chunking(spark):
    replay = st.prepare_stream_dir(spark, "/root/testdata/sf0.001", n_chunks=4)
    files = sorted(f for f in os.listdir(replay) if f.endswith(".parquet"))
    assert len(files) == 5  # 4 chunks + flush sentinel
    # chunks are time-range partitions: each file's min ts >= previous max
    prev_max = None
    for f in files:
        pdf = pd.read_parquet(os.path.join(replay, f))
        if prev_max is not None:
            assert pdf["ts"].min() >= prev_max
        prev_max = pdf["ts"].max()


def test_stream_schema_matches_catalog(spark):
    replay = st.prepare_stream_dir(spark, "/root/testdata/sf0.001", n_chunks=4)
    stream = st.events_stream(spark, replay)
    assert stream.isStreaming
    assert stream.schema == EVENTS_SCHEMA


def test_foreachbatch_parquet_sink(spark, tmp_path):
    """Production sink shape: foreachBatch writing each micro-batch to
    parquet (exactly-once per batch via the (epoch, path) idempotence
    contract).  The drained directory equals the batch aggregate — the
    memory sink used by run_to_batch is the harness convenience, this
    is the deploy path."""
    out_dir = str(tmp_path / "agg_parquet")
    replay = st.prepare_stream_dir(spark, "/root/testdata/sf0.001", n_chunks=4)
    agg = st.tumbling_aggregate(st.events_stream(spark, replay), window="1 hour",
                                watermark="30 minutes")

    def write_batch(batch_df, epoch_id):
        batch_df.write.mode("append").parquet(out_dir)

    q = (
        agg.writeStream.foreachBatch(write_batch)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(timeout=600)

    from mapreducehs_spark.sources.catalog import load_table

    got = (
        spark.read.parquet(out_dir)
        .filter(F.col("event_type") != st.FLUSH_TYPE)
        .groupBy("bucket_start", "event_type")
        .agg(F.sum("n_events").alias("n_events"))
    )
    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    want = (
        ev.groupBy(
            (F.floor(F.unix_timestamp("ts") / 3600) * 3600).alias("bucket_start"),
            "event_type",
        ).agg(F.count(F.lit(1)).alias("n_events"))
    )
    as_map = lambda df: {
        (r["bucket_start"], r["event_type"]): r["n_events"] for r in df.collect()
    }
    assert as_map(got) == as_map(want)


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    """Kill-and-restart semantics: a checkpointed query that stops after
    the first files and restarts when more arrive must produce exactly
    the batch result — no missing chunks, no double-counted ones.  This
    is the recovery contract a 100 TB always-on pipeline leans on."""
    import glob, shutil, time as _time

    src = str(tmp_path / "src")
    os.makedirs(src)
    base = _time.time()
    for i in range(6):
        _write_chunk(
            os.path.join(src, f"c{i}.parquet"),
            [_row(10 * i + j, f"2024-01-01 0{i}:0{j}:00", value=1.0) for j in range(3)],
        )
        os.utime(os.path.join(src, f"c{i}.parquet"), (base + i, base + i))

    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    files = sorted(glob.glob(src + "/*.parquet"))
    for f in files[:3]:
        shutil.copy2(f, staged)

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(staged)
        )
        # stateless projection -> append file sink: restart-safe via the
        # checkpoint's file-source log + output commit protocol
        proj = stream.select("event_id", "user_id", "value")
        q = (
            proj.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    run_once()
    n_first = spark.read.parquet(out).count()
    assert n_first == 9  # 3 files x 3 rows

    for f in files[3:]:
        shutil.copy2(f, staged)
    run_once()  # restart from checkpoint: must process ONLY the new files

    got = spark.read.parquet(out)
    assert got.count() == 18
    assert got.select("event_id").distinct().count() == 18  # no double-processing


def _has_protobuf() -> bool:
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _has_protobuf(),
    reason="transformWithStateInPandas needs google.protobuf (absent in this container); "
    "applyInPandasWithState covers the same semantics (st03)",
)
def test_transform_with_state_totals(spark):
    """Spark 4 successor stateful API (transformWithStateInPandas) must
    reproduce the applyInPandasWithState result: last update per user ==
    batch groupBy aggregate.  Skip-marked until the container gains
    protobuf — the day it does, this exercises the new API with zero
    code changes."""
    from mapreducehs_spark.streaming.ops import latest_per_user

    sf_dir = "/root/testdata/sf0.001"
    replay = st.prepare_stream_dir(spark, sf_dir, n_chunks=4)
    events = st.events_stream(spark, replay)
    updates = st.stateful_user_totals_tws(events)
    log = st.run_to_batch(updates, "tws_sink", output_mode="append")
    got = {
        r["user_id"]: (r["n_events"], r["total_value"])
        for r in latest_per_user(log).collect()
    }

    from mapreducehs_spark.sources.catalog import load_table

    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum(F.coalesce("value", F.lit(0.0))), 4).alias("t"),
        )
    )
    want = {r["user_id"]: (r["n"], r["t"]) for r in batch.collect()}
    assert got == want


def test_mg_sketch_state_is_bounded(spark):
    """The st13 scale claim, pinned with a hard number: the state store
    holds exactly one row per SHARD (= shards × one bounded sketch),
    never a row per key or per event — `numRowsTotal` from the query's
    own progress metrics must be ≤ shards regardless of stream length."""
    replay = st.prepare_stream_dir(spark, "/root/testdata/sf0.001", n_chunks=4)
    updates = st.stateful_mg_sketch(st.events_stream(spark, replay), shards=16, capacity=8)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            updates.writeStream.format("memory")
            .queryName("st13_state_probe")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    try:
        assert q.awaitTermination(timeout=300)
        state_rows = [
            p["stateOperators"][0]["numRowsTotal"]
            for p in q.recentProgress
            if p.get("stateOperators")
        ]
        assert state_rows, "no state metrics captured"
        assert max(state_rows) <= 16
    finally:
        if q.isActive:
            q.stop()
    # and the serving merge still reproduces the exact batch counts
    out = st.merge_mg_sketch_log(spark.table("st13_state_probe")).collect()
    assert sum(r["est_total"] for r in out) > 0


def test_stateful_checkpoint_restart_recovers_state(spark, tmp_path):
    """Kill-and-restart for CUSTOM state (`applyInPandasWithState`):
    the per-user running totals must survive the restart — the state
    store must reload from the checkpoint and CONTINUE counting, so the
    final snapshot equals the batch aggregate over all chunks (a reset
    state would undercount; a replayed chunk would overcount)."""
    import glob, shutil, time as _time

    src = str(tmp_path / "src")
    os.makedirs(src)
    base = _time.time()
    for i in range(6):
        _write_chunk(
            os.path.join(src, f"c{i}.parquet"),
            [
                _row(10 * i + j, f"2024-01-01 0{i}:0{j}:00", user_id=j % 2, value=1.0)
                for j in range(3)
            ],
        )
        os.utime(os.path.join(src, f"c{i}.parquet"), (base + i, base + i))

    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    files = sorted(glob.glob(src + "/*.parquet"))
    for f in files[:3]:
        shutil.copy2(f, staged)

    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")

    def run_once():
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(staged)
        )
        updates = st.stateful_user_totals(stream)
        q = (
            updates.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    try:
        run_once()
        for f in files[3:]:
            shutil.copy2(f, staged)
        run_once()  # restart: state must RESUME, not reset
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)

    from mapreducehs_spark.streaming.ops import latest_per_user

    final = {
        r["user_id"]: r["n_events"]
        for r in latest_per_user(spark.read.parquet(out)).collect()
    }
    # 6 chunks x 3 rows: user 0 gets 2 rows/chunk (j=0,2), user 1 gets 1
    assert final == {0: 12, 1: 6}


def test_minhash_stream_equals_batch_d11(spark):
    """st15's core claim: with the TTL beyond the replay span (no
    eviction), the incremental per-bucket pair discovery must emit
    EXACTLY the batch d11 pair set with identical agreement counts —
    stream == batch for the whole LSH topology (signatures, banding,
    candidates, estimates)."""
    from mapreducehs_spark.operators import dedup
    from mapreducehs_spark.sources.catalog import load_table

    sf_dir = "/root/testdata/sf0.001"
    replay = st.prepare_docs_stream_dir(spark, sf_dir, n_chunks=4)
    pairs = st.stateful_minhash_dedup(st.docs_stream(spark, replay), ttl_sec=10**9)
    log = st.run_to_batch(pairs, "st15_test_sink", output_mode="append")
    got = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in st.minhash_pairs_from_log(log, est_threshold=0.25).collect()
    }

    docs = load_table(spark, sf_dir, "documents")
    want = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in dedup.minhash_lsh_pairs_checked(docs, est_threshold=0.25).collect()
    }
    assert got == want
    assert len(got) > 0, "replay produced no near-dup pairs — fixture degenerate"


def test_minhash_stream_state_is_bounded(spark):
    """The st15 scale claim, pinned like st13's: with a TTL shorter than
    the replay span, watermark-driven EventTimeTimeout must EVICT stale
    band buckets — the state-store row count must drop between progress
    reports, and the final total must sit well under the no-eviction
    bucket count."""
    sf_dir = "/root/testdata/sf0.001"
    replay = st.prepare_docs_stream_dir(spark, sf_dir, n_chunks=4)
    # doc ts spacing is 1 s/doc — a 30 s TTL is ~30 docs of history,
    # far less than the chunk span, so chunk N's buckets die by chunk N+1
    pairs = st.stateful_minhash_dedup(
        st.docs_stream(spark, replay), ttl_sec=30, watermark="5 seconds"
    )
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            pairs.writeStream.format("memory")
            .queryName("st15_state_probe")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    try:
        assert q.awaitTermination(timeout=300)
        state_rows = [
            p["stateOperators"][0]["numRowsTotal"]
            for p in q.recentProgress
            if p.get("stateOperators")
        ]
    finally:
        if q.isActive:
            q.stop()
    assert state_rows, "no state metrics captured"
    removed = [
        p["stateOperators"][0].get("numRowsRemoved", 0)
        for p in q.recentProgress
        if p.get("stateOperators")
    ]
    assert sum(removed) > 0, "TTL eviction never fired"
    # no-eviction upper bound: every doc signs into 4 buckets, so state
    # without a TTL would approach 4 rows/doc minus collisions; with the
    # 30 s horizon the peak must stay a small fraction of that
    n_docs = pd.read_parquet(os.path.join("/root/testdata/sf0.001", "documents.parquet")).shape[0]
    assert max(state_rows) < 2 * n_docs, (
        f"state {max(state_rows)} rows — TTL not bounding (no-TTL bound ~{4 * n_docs})"
    )


def test_minhash_stream_checkpoint_restart_same_pairs(spark, tmp_path):
    """Kill-and-restart for st15's custom band-bucket state: a
    checkpointed incremental-dedup query stopped mid-replay and
    restarted when the remaining chunks arrive must emit EXACTLY the
    batch d11 pair set — reloaded bucket state has to keep comparing
    new docs against members seen BEFORE the crash (a reset state
    would lose cross-restart pairs; a replayed chunk would duplicate
    emissions into the append sink)."""
    import glob
    import shutil

    from mapreducehs_spark.operators import dedup
    from mapreducehs_spark.sources.catalog import load_table

    sf_dir = "/root/testdata/sf0.001"
    replay = st.prepare_docs_stream_dir(spark, sf_dir, n_chunks=4)
    files = sorted(glob.glob(replay + "/*.parquet"))
    assert len(files) == 4

    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    for f in files[:2]:
        shutil.copy2(f, staged)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        pairs = st.stateful_minhash_dedup(
            st.docs_stream(spark, staged), ttl_sec=10**9
        )
        q = (
            pairs.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        run_once()
        for f in files[2:]:
            shutil.copy2(f, staged)
        run_once()  # restart: state reloads, only new chunks process
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)

    got = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in st.minhash_pairs_from_log(
            spark.read.parquet(out), est_threshold=0.25
        ).collect()
    }
    want = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in dedup.minhash_lsh_pairs_checked(
            load_table(spark, sf_dir, "documents"), est_threshold=0.25
        ).collect()
    }
    assert got == want
    assert len(got) > 0


def test_streaming_logreg_train_matches_numpy_online_replay(spark, tmp_path):
    """st18's online trajectory must equal a dense numpy replay of the
    same integer update law stepped over the SAME chunks in the SAME
    order — including the order-dependence online SGD has that batch
    training does not (chunk order is part of the contract: the replay
    fixture is doc_id-ordered, mtime-ascending)."""
    import os
    import time as _time

    import hashlib

    import numpy as np
    import pandas as pd

    from mapreducehs_spark.operators.ml import LR_DEN, MICRO
    from mapreducehs_spark.streaming.ops import docs_stream, streaming_logreg_train

    rows = [
        (i, " ".join(f"w{(i * 7 + j) % 23}" for j in range((i % 5) + 2)) + ("x" * 300 if i % 3 == 0 else ""))
        for i in range(30)
    ]
    # three doc_id-ordered chunks with ascending mtimes (the fixture law)
    replay = tmp_path / "replay"
    os.makedirs(replay)
    now = _time.time()
    for c in range(3):
        chunk = pd.DataFrame(rows[c * 10 : (c + 1) * 10], columns=["doc_id", "text"])
        chunk["ts"] = pd.Timestamp("2024-01-01") + pd.to_timedelta(chunk["doc_id"], unit="s")
        p = str(replay / f"chunk_{c:04d}.parquet")
        chunk[["doc_id", "ts", "text"]].to_parquet(p, index=False, coerce_timestamps="us")
        os.utime(p, (now + c * 10, now + c * 10))

    got = {
        (int(r["step"]), int(r["bucket"])): int(r["w"])
        for r in streaming_logreg_train(
            docs_stream(spark, str(replay)), n_buckets=8, label_chars=300
        ).collect()
    }

    # numpy replay: one step per chunk, normalized by the CHUNK size
    n_b = 8
    X = np.zeros((30, n_b), dtype=np.int64)
    y = np.zeros(30, dtype=np.int64)
    for i, text in rows:
        y[i] = 1 if len(text) >= 300 else 0
        for tok in text.split():
            b = int(hashlib.md5(tok.encode()).hexdigest()[:12], 16) % n_b
            X[i, b] += 1

    def trunc(v, d):
        return np.sign(v) * (np.abs(v) // d)

    w = np.zeros(n_b, dtype=np.int64)
    bias = 0
    want = {}
    for step in range(3):
        sel = slice(step * 10, (step + 1) * 10)
        z = X[sel] @ w + bias
        p = np.clip(trunc(z, 4) + MICRO // 2, 0, MICRO)
        r = p - y[sel] * MICRO
        w = w - trunc(trunc(X[sel].T @ r, 10), LR_DEN)
        bias = bias - int(trunc(trunc(int(r.sum()), 10), LR_DEN))
        want[(step + 1, -1)] = bias
        for b in range(n_b):
            want[(step + 1, b)] = int(w[b])
    assert got == want
    # the trajectory must actually evolve across steps (online, not
    # a repeated first step)
    assert any(want[(1, b)] != want[(3, b)] for b in range(n_b))


def test_moments_stream_equals_batch_var_pop(spark):
    """st20's law, pinned directly: the Chan-merged streaming moments'
    final snapshot equals the batch count/mean/var_pop per event_type
    at the oracle's rounding — regardless of how the replay slices the
    stream into triggers (4 chunks here; the merge is associative so
    any slicing folds to the same three numbers)."""
    from pyspark.sql import functions as F

    from mapreducehs_spark.sources.catalog import load_table
    from mapreducehs_spark.streaming.ops import latest_moments

    replay = st.prepare_stream_dir(spark, "/root/testdata/sf0.001", n_chunks=4)
    updates = st.stateful_moments(st.events_stream(spark, replay))
    log = st.run_to_batch(updates, "st20_test_sink", output_mode="append")
    got = {r["event_type"]: r for r in latest_moments(log).collect()}

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    want = {
        r["event_type"]: r
        for r in events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.avg(F.coalesce("value", F.lit(0.0))), 4).alias("mean_value"),
            F.round(F.var_pop(F.coalesce("value", F.lit(0.0))), 4).alias("var_value"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k]["n_events"] == want[k]["n_events"]
        assert got[k]["mean_value"] == pytest.approx(want[k]["mean_value"], abs=1e-3)
        assert got[k]["var_value"] == pytest.approx(want[k]["var_value"], abs=1e-3)
    # state is O(#event_types): one (n, mean, M2, seq) row per key
    assert len(got) <= 8


def test_trailing_anomaly_stream_equals_batch_window(spark):
    """st21's law, pinned directly: the ring-buffer fold's flagged set
    equals the batch ROWS-frame window computation (8 PRECEDING .. 1
    PRECEDING, full windows only) — the order-sensitive stream==batch
    check, valid because the replay is ts-ordered and (user_id, ts) is
    unique in the corpus."""
    from pyspark.sql import Window

    from mapreducehs_spark.sources.catalog import load_table

    replay = st.prepare_stream_dir(spark, "/root/testdata/sf0.001", n_chunks=4)
    flagged = st.stateful_trailing_anomaly(
        st.events_stream(spark, replay), window=8, num=3
    )
    log = st.run_to_batch(flagged, "st21_test_sink", output_mode="append")
    got = {
        (r["user_id"], r["event_id"]): (r["cents"], r["trail_sum"])
        for r in log.collect()
    }

    events = load_table(spark, "/root/testdata/sf0.001", "events")
    wspec = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(-8, -1)
    )
    cents = F.floor(F.col("value") * 100).cast("long")
    frame = events.select(
        "user_id",
        "event_id",
        cents.alias("cents"),
        F.sum(cents).over(wspec).alias("trail_sum"),
        F.count(F.lit(1)).over(wspec).alias("n_prev"),
    )
    want = {
        (r["user_id"], r["event_id"]): (r["cents"], r["trail_sum"])
        for r in frame.filter(
            (F.col("n_prev") == 8) & (F.col("cents") * 8 > 3 * F.col("trail_sum"))
        ).collect()
    }
    assert len(want) > 0  # the law is exercised, not vacuous
    assert got == want


def test_bloom_dedup_false_positive_regime(spark):
    """st22's filter law under FORCED false positives: with m_bits=64
    per shard the filter saturates, so novel keys get silently dropped
    — the emitted set must equal a Python replay of the exact law
    (probe-then-insert in (ts, event_id) order, md5-fold positions),
    proving the operator's behavior is the Bloom law, not an
    approximation of DISTINCT."""
    import hashlib

    from mapreducehs_spark.sources.catalog import load_table

    replay = st.prepare_stream_dir(spark, "/root/testdata/sf0.001", n_chunks=4)
    out = st.stateful_bloom_dedup(
        st.events_stream(spark, replay), shards=4, m_bits=64
    )
    log = st.run_to_batch(out, "st22_fp_test_sink", output_mode="append")
    got = {(r["user_id"], r["event_type"]) for r in log.collect()}

    rows = (
        load_table(spark, "/root/testdata/sf0.001", "events")
        .select("user_id", "event_type", "ts", "event_id")
        .collect()
    )
    rows.sort(key=lambda r: (r["ts"], r["event_id"]))

    def fold(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)

    filters = [0] * 4
    want = set()
    for r in rows:
        kstr = f"{r['user_id']}:{r['event_type']}"
        shard = fold("shard:" + kstr) % 4
        ps = [fold(f"{j}:" + kstr) % 64 for j in range(4)]
        novel = any(not (filters[shard] >> p) & 1 for p in ps)
        for p in ps:
            filters[shard] |= 1 << p
        if novel:
            want.add((r["user_id"], r["event_type"]))
    assert got == want
    # the saturated filter MUST have dropped some truly-novel keys —
    # otherwise this test isn't exercising the FP regime
    distinct = {(r["user_id"], r["event_type"]) for r in rows}
    assert len(want) < len(distinct)


def test_cdc_images_checkpoint_restart_matches_q124(spark, tmp_path):
    """Kill-and-restart for st32's SHARDED version-map state
    (`stateful_cdc_images`): the per-shard key->latest-version arrays
    must reload from the checkpoint so post-restart commit sequences
    classify against the PRE-kill state — a reset state would re-emit
    every post-restart upsert as an `insert` (wrong change_type, no
    preimage); a replayed chunk would duplicate images.  The recovered
    feed must equal q124's batch oracle verbatim (the stream == batch
    discipline, restart edition).  Reference witness: the retry loop's
    resume-not-restart discipline (src/ImplServer.hs:86-90)."""
    import glob
    import shutil

    from mapreducehs_spark.queries.q_ext import q124_change_data_feed

    sf = "/root/testdata/sf0.001"
    replay = st.prepare_cdc_log_dir(spark, sf)
    files = sorted(glob.glob(os.path.join(replay, "*.parquet")))
    assert len(files) >= 3, "need a mid-replay kill point"

    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_once():
        log = (
            spark.readStream.schema(st.CDC_LOG_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(staged)
        )
        q = (
            st.stateful_cdc_images(log)
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300)

    cols = ["change_seq", "o_orderkey", "change_type", "status", "total_cents"]
    # kill after all but the LAST commit sequence: the emit window is
    # (1, 3] over seqs 0..3, so run 1 emits the seq-2 images and the
    # restart emits seq-3's — both sides of the kill carry feed rows
    mid = len(files) - 1
    for f in files[:mid]:
        shutil.copy2(f, staged)
    run_once()
    emitted_before = spark.read.parquet(out).count()
    for f in files[mid:]:
        shutil.copy2(f, staged)
    run_once()  # restart: version maps must RESUME, not reset

    got = sorted(map(tuple, spark.read.parquet(out).select(*cols).collect()))
    want = sorted(
        map(tuple, q124_change_data_feed(spark, sf).select(*cols).collect())
    )
    assert got == want
    # the kill point must be genuinely mid-feed: both runs emitted rows
    assert 0 < emitted_before < len(got)


def test_st35_stream_schema_evolution_is_stateless_per_file(spark):
    """st35's contract, pinned on the live query handle: the mixed-
    generation read is STATELESS (no state store shows up in any
    micro-batch progress), generations arrive in SEPARATE micro-batches
    (maxFilesPerTrigger=1 => at least one trigger per physical file),
    and the id-resolved sink agrees with q126's batch read exactly."""
    from mapreducehs_spark.queries.q_ext import q126_schema_evolution_read
    from mapreducehs_spark.queries.st_streaming import _st35_stream

    sf = "/root/testdata/sf0.001"
    confs = {
        "spark.sql.parquet.fieldId.read.enabled": "true",
        "spark.sql.parquet.fieldId.read.ignoreMissing": "true",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        q = (
            _st35_stream(spark, sf)
            .writeStream.format("memory")
            .queryName("st35_pin_sink")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(timeout=600)
        progresses = [p for p in q.recentProgress if p["numInputRows"] > 0]
        # stateless: no micro-batch ever reports a state operator with
        # state rows (no state store, no watermark)
        for p in q.recentProgress:
            for sop in p.get("stateOperators") or []:
                assert sop["numRowsTotal"] == 0, p
        # per-file arrival: both generations cannot land in one trigger
        assert len(progresses) >= 2
        sink = spark.table("st35_pin_sink")
        got = {
            (r["generation"], r["status"]): (r["n"], r["cents"], r["chan"])
            for r in sink.groupBy("generation", "status")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("amount_cents").alias("cents"),
                F.count("channel").alias("chan"),
            )
            .collect()
        }
        want = {
            (r["generation"], r["status"]): (
                r["n_orders"], r["total_cents"], r["n_with_channel"]
            )
            for r in q126_schema_evolution_read(spark, sf).collect()
        }
        assert got == want
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_st36_monitor_matches_manifest_law_and_refolds_idempotently(spark):
    """st36's monitor state equals the batch fold of the `_q105_files`
    seam (conservation: every manifest file counted exactly once across
    partitions), the fire flag is exactly the n_small >= 9 law, and a
    second full run (fresh monitor dir, same replay chunks) folds to
    the identical table — the order-free/idempotency claim, observed."""
    from mapreducehs_spark.queries import QUERIES
    from mapreducehs_spark.queries.q_ext import _q105_files
    from mapreducehs_spark.queries.st_streaming import (
        _ST36_FIRE_N,
        _ST36_SMALL_BYTES,
    )
    from mapreducehs_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    got = {
        r["part_id"]: r
        for r in QUERIES["st36_stream_compaction_monitor"](spark, sf).collect()
    }
    manifest = _q105_files(load_table(spark, sf, "orders")).collect()
    want: dict[int, dict] = {}
    for m in manifest:
        w = want.setdefault(
            m["file_id"] // 64,
            {"n_files": 0, "n_small": 0, "small_bytes": 0, "total_bytes": 0},
        )
        w["n_files"] += 1
        w["total_bytes"] += m["bytes"]
        if m["bytes"] < _ST36_SMALL_BYTES:
            w["n_small"] += 1
            w["small_bytes"] += m["bytes"]
    assert set(got) == set(want)
    for pid, w in want.items():
        g = got[pid]
        assert (g["n_files"], g["n_small"], g["small_bytes"], g["total_bytes"]) == (
            w["n_files"], w["n_small"], w["small_bytes"], w["total_bytes"],
        ), pid
        assert g["fires"] == int(w["n_small"] >= _ST36_FIRE_N), pid
    assert sum(g["n_files"] for g in got.values()) == len(manifest)

    rerun = {
        r["part_id"]: r
        for r in QUERIES["st36_stream_compaction_monitor"](spark, sf).collect()
    }
    assert {p: tuple(r) for p, r in got.items()} == {
        p: tuple(r) for p, r in rerun.items()
    }


def test_st36_monitor_checkpoint_restart_and_replay_dedup(spark, tmp_path):
    """Kill-and-restart for st36's serving-table fold
    (`manifest_monitor_fold`): (1) a checkpointed run killed after the
    first chunks RESUMES — the restarted stream folds only the late
    chunks on top of the surviving monitor, and the final table equals
    the batch law; (2) a third run over the SAME fully-staged replay
    with a FRESH checkpoint re-reads every file, and the in-dir
    batch-id marker alone must absorb the full replay (at-least-once
    re-application can never double-count) — the monitor is unchanged
    bit-for-bit.  Reference witness: resume-not-restart retry
    discipline (src/ImplServer.hs:86-90)."""
    import glob
    import shutil

    from mapreducehs_spark.queries.q_ext import _q105_files
    from mapreducehs_spark.queries.st_streaming import _ST36_SMALL_BYTES
    from mapreducehs_spark.sources.catalog import load_table

    sf = "/root/testdata/sf0.001"
    replay = st.prepare_manifest_dir(spark, sf, n_chunks=4)
    files = sorted(glob.glob(os.path.join(replay, "*.parquet")))
    assert len(files) >= 3, "need a mid-replay kill point"

    staged = str(tmp_path / "staged")
    os.makedirs(staged)
    monitor = str(tmp_path / "monitor")
    ckpt = str(tmp_path / "ckpt")

    mid = len(files) - 1
    for f in files[:mid]:
        shutil.copy2(f, staged)
    st.manifest_monitor_fold(spark, staged, monitor, _ST36_SMALL_BYTES, checkpoint_dir=ckpt)
    partial_files = sum(
        r["n_files"] for r in spark.read.parquet(monitor).collect()
    )
    for f in files[mid:]:
        shutil.copy2(f, staged)
    # restart: resume from the checkpoint, fold only the late chunk
    st.manifest_monitor_fold(spark, staged, monitor, _ST36_SMALL_BYTES, checkpoint_dir=ckpt)

    def snapshot():
        return sorted(
            map(tuple, spark.read.parquet(monitor)
                .select("part_id", "n_files", "n_small", "small_bytes", "total_bytes")
                .collect())
        )

    got = snapshot()
    manifest = _q105_files(load_table(spark, sf, "orders")).collect()
    assert sum(r[1] for r in got) == len(manifest)
    assert 0 < partial_files < len(manifest)  # the kill was genuinely mid-fold
    want = {}
    for m in manifest:
        w = want.setdefault(m["file_id"] // 64, [0, 0, 0, 0])
        w[0] += 1
        w[3] += m["bytes"]
        if m["bytes"] < _ST36_SMALL_BYTES:
            w[1] += 1
            w[2] += m["bytes"]
    assert got == sorted((p, *w) for p, w in want.items())

    # full re-replay under a FRESH checkpoint: every file re-batches
    # from id 0, and the marker alone must absorb all of them
    st.manifest_monitor_fold(
        spark, staged, monitor, _ST36_SMALL_BYTES,
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    assert snapshot() == got


def test_state_bound_counts_parquet_directory_parts(tmp_path):
    """A directory-style copy of ``events`` (part file + Spark's hidden
    marker files) sizes the state store exactly like the single file;
    a missing table names its path instead of falling to the floor."""
    import shutil

    from mapreducehs_spark.queries.st_streaming import _state_bound
    from mapreducehs_spark.streaming.ops import state_partitions_for
    from tests.conftest import SF_DIR

    table = tmp_path / "events.parquet"
    table.mkdir()
    shutil.copy(os.path.join(SF_DIR, "events.parquet"), table / "part-00000.parquet")
    (table / "_SUCCESS").write_bytes(b"")
    (table / ".part-00000.parquet.crc").write_bytes(b"x" * 64)
    assert _state_bound(str(tmp_path)) == _state_bound(SF_DIR)
    assert state_partitions_for(_state_bound(str(tmp_path))) == state_partitions_for(
        _state_bound(SF_DIR)
    )
    with pytest.raises(FileNotFoundError, match="no_such_table.parquet"):
        _state_bound(str(tmp_path), "no_such_table")
