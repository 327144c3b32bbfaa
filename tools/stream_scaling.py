"""Streaming state gate: per-st-query state-store growth between two
``bench.py`` detail files (VERDICT r08 gap 3 — super-linear STATE
growth was unmeasured).  The walls of the same queries are gated with
every other query's by ``tools/scaling_gate.py``.

  python bench.py                                   # sf0.1 -> BENCH_local.json
  SPARK_GRAFT_SF_DIR=/tmp/sf1 SPARK_GRAFT_BENCH_REPEATS=1 \
      SPARK_GRAFT_BENCH_OUT=/tmp/bench_sf1.json python bench.py
  python tools/stream_scaling.py [sf1_detail] [sf01_detail] [out] \
      [sf1_dir] [sf01_dir]

Reads each file's ``state`` records (``peak_state_rows``,
``peak_state_bytes``, ``batches`` per query that ran micro-batches)
and writes STREAM_SCALING.json with, per query, ``state_ratio`` —
peak_state_rows(sf1)/peak_state_rows(sf0.1).  There is no single gate:
BOUNDED-state claims (st12's LRU, st22's Bloom shards, st25's fixed
histogram, st26's O(sources) offsets) must show ~1x and are flagged
past BOUNDED_SLACK; data-proportional states (st02 sessions, st15 band
buckets) legitimately track the 10x data and are flagged only past
GATE_RATIO, the batch gate's 10x-data budget.  Which law applies is
declared in BOUNDED_STATE below — the committed list IS the claim the
gate checks.

Reference discipline: measure, don't argue (test/Generator.hs:83-92).
"""

from __future__ import annotations

import json
import os
import sys

from scaling_gate import GATE_RATIO  # the batch gate's 10x-data budget

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

BOUNDED_SLACK = 2.0  # bounded-state claims may wobble (batch slicing), not grow

#: st queries whose docstrings claim state INDEPENDENT of corpus size
#: (fixed sketches, LRU/TTL windows, per-source scalars, driver-held
#: models).  Everything else is allowed to track the data volume.
BOUNDED_STATE = {
    # NOT st12 (TTL-evicted key window) or st21 (fixed ring PER USER):
    # those are bounded per KEY, so total state ∝ key cardinality —
    # and make_sf grows traffic density / users 10x in the SAME time
    # window, so their measured 10.0x state is exactly the linear-in-
    # keys law (st02/st15's class), not a leak.  Flat-total claims only
    # belong here; per-key claims get the PER_KEY_BOUNDED gate below.
    "st13_stream_heavy_hitters",  # fixed Misra-Gries sketch
    "st20_stream_moments",  # per-type scalar moments
    "st22_stream_bloom_dedup",  # fixed Bloom shards
    "st25_stream_histogram_quantiles",  # fixed histogram buckets
    "st26_stream_sequence_packing",  # one offset long per source
    # stateless / driver-held (no state store at all): peak stays 0
    "st17_stream_inference",
    "st18_stream_train",
    "st19_stream_mixture",
    "st24_stream_decode_dlq",
    "st27_stream_decontaminate",
    "st28_stream_pii_redact",
    "st29_stream_weighted_sample",
    "st31_stream_incremental_mv",  # foreachBatch serving-table fold
    "st33_stream_ivf_ingest",  # stateless argmax map, driver-held codebook
    "st34_stream_curriculum_router",  # stateless stream-static broadcast join
    "st35_stream_schema_evolution",  # stateless per-file id-resolved scan
    "st36_stream_compaction_monitor",  # foreachBatch serving-table fold
}


#: st queries whose docstrings claim state bounded PER KEY (a fixed
#: number of state rows/longs per live key): total state may track key
#: cardinality but must NOT outgrow it.  Gate: state_ratio must stay
#: within BOUNDED_SLACK of the measured distinct-key growth between the
#: two SFs — a leak in st12's TTL eviction or st21's ring trimming
#: shows up as state growing FASTER than keys (ADVICE r9: dropping them
#: to the generic 12x budget would mask exactly that).  Values are the
#: key expression counted over each SF's events table.
PER_KEY_BOUNDED = {
    "st12_stream_dedup_watermarked": ("events", "user_id, event_type"),
    "st21_stream_anomaly": ("events", "user_id"),
}

#: SHARDED-state class (VERDICT r10 gap 1): the state store holds a
#: fixed number of shard ROWS (st32: 64 version-map rows, flat by
#: construction — numRowsTotal is a vacuous gate there) while the real
#: state lives in per-shard arrays whose total size is O(|live keys|).
#: Gate the state BYTES (bench.py's peak_state_bytes, from the
#: progress telemetry's memoryUsedBytes) against measured key growth.
PER_KEY_BYTES = {
    "st32_stream_change_feed": ("orders", "o_orderkey"),
}


def _key_counts(sf_dir: str) -> dict[str, int]:
    """Distinct-key cardinality per gated query at sf_dir."""
    import duckdb

    con = duckdb.connect()
    out = {}
    for name, (table, keys) in {**PER_KEY_BOUNDED, **PER_KEY_BYTES}.items():
        path = os.path.join(sf_dir, f"{table}.parquet")
        if not os.path.exists(path):
            continue
        out[name] = con.execute(
            f"SELECT count(*) FROM (SELECT DISTINCT {keys} "
            f"FROM read_parquet('{path}'))"
        ).fetchone()[0]
    con.close()
    return out


def main() -> None:
    sf1_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/bench_sf1.json"
    sf01_path = (
        sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, "BENCH_local.json")
    )
    out_path = (
        sys.argv[3] if len(sys.argv) > 3 else os.path.join(REPO, "STREAM_SCALING.json")
    )
    sf1_dir = sys.argv[4] if len(sys.argv) > 4 else "/tmp/sf1"
    sf01_dir = sys.argv[5] if len(sys.argv) > 5 else "/root/testdata/sf0.1"
    keys1, keys01 = _key_counts(sf1_dir), _key_counts(sf01_dir)

    with open(sf1_path) as f:
        q1 = json.load(f)["state"]
    with open(sf01_path) as f:
        q01 = json.load(f)["state"]

    common = sorted(set(q1) & set(q01))
    missing = sorted(set(q01) ^ set(q1))

    rows: dict[str, dict] = {}
    state_flagged: list[str] = []
    for name in common:
        s01, s1 = int(q01[name]["peak_state_rows"]), int(q1[name]["peak_state_rows"])
        state_ratio = (s1 / s01) if s01 > 0 else (float("inf") if s1 > 0 else 1.0)
        bounded = name in BOUNDED_STATE
        per_key = name in PER_KEY_BOUNDED and name in keys1 and name in keys01
        per_key_skipped = name in PER_KEY_BOUNDED and not per_key
        if per_key_skipped:
            # the intended per-key gate could not run (key counts
            # unavailable — usually a missing sf data dir); fall back
            # LOUDLY, never silently (ADVICE r10)
            print(
                f"WARNING: per-key state gate SKIPPED for {name} "
                f"(key counts unavailable at {sf1_dir!r} / {sf01_dir!r}); "
                f"falling back to generic gate",
                file=sys.stderr,
            )
        if per_key:
            # state must not outgrow the measured key-cardinality growth
            key_ratio = keys1[name] / max(keys01[name], 1)
            state_gate = key_ratio * BOUNDED_SLACK
        else:
            key_ratio = None
            state_gate = BOUNDED_SLACK if bounded else GATE_RATIO
        state_flag = bool(state_ratio > state_gate)
        # sharded-state BYTES gate (PER_KEY_BYTES): rows are flat by
        # construction, so the leak signal is bytes vs key growth
        b01 = int(q01[name]["peak_state_bytes"])
        b1 = int(q1[name]["peak_state_bytes"])
        bytes_ratio = (b1 / b01) if b01 > 0 else (float("inf") if b1 > 0 else 1.0)
        per_key_b = (
            name in PER_KEY_BYTES
            and name in keys1
            and name in keys01
            and b01 > 0
        )
        bytes_gate_skipped = name in PER_KEY_BYTES and not per_key_b
        if bytes_gate_skipped:
            print(
                f"WARNING: state-BYTES gate SKIPPED for {name} "
                f"(key counts or peak_state_bytes unavailable); the "
                f"sharded-state claim is UNGATED this run",
                file=sys.stderr,
            )
        bytes_flag = False
        bkey_ratio = None
        if per_key_b:
            bkey_ratio = keys1[name] / max(keys01[name], 1)
            bytes_flag = bool(bytes_ratio > bkey_ratio * BOUNDED_SLACK)
        rows[name] = {
            "sf01_state_rows": s01,
            "sf1_state_rows": s1,
            "state_ratio": round(state_ratio, 3) if state_ratio != float("inf") else None,
            "bounded_state_claim": bounded,
            "per_key_bounded_claim": name in PER_KEY_BOUNDED,
            "per_key_gate_skipped": per_key_skipped,
            "key_ratio": round(key_ratio, 3) if key_ratio is not None else None,
            "sf01_state_bytes": b01,
            "sf1_state_bytes": b1,
            "state_bytes_ratio": (
                round(bytes_ratio, 3) if bytes_ratio != float("inf") else None
            ),
            "per_key_bytes_claim": name in PER_KEY_BYTES,
            "bytes_gate_skipped": bytes_gate_skipped,
            "bytes_key_ratio": (
                round(bkey_ratio, 3) if bkey_ratio is not None else None
            ),
            "state_flagged": state_flag,
            "bytes_flagged": bytes_flag,
        }
        if state_flag or bytes_flag:
            state_flagged.append(name)

    out = {
        "metric": "stream_state_sf1_over_sf01",
        "gate_ratio": GATE_RATIO,
        "bounded_slack": BOUNDED_SLACK,
        "n_queries": len(rows),
        "n_state_flagged": len(state_flagged),
        "state_flagged": state_flagged,
        "missing_in_one_file": missing,
        "queries": rows,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(
        json.dumps(
            {
                k: out[k]
                for k in ("metric", "n_queries", "n_state_flagged", "state_flagged")
            }
        )
    )


if __name__ == "__main__":
    main()
