"""Streaming bench: wall-time + state-store footprint for every st* query.

VERDICT r07 gap 2: the 25 streaming queries were value-checked at four
scale factors but had no recorded wall-times anywhere — a state-store or
trigger regression (st15's band-bucket state, st22's per-shard filters)
was invisible to the batch bench series.  This harness closes that:

  python tools/stream_bench.py [sf_dir]   # default /root/testdata/sf0.1

For each ``st*`` entry in ``__spark_entry__.queries()`` it runs the query
through its own ``run_to_batch`` drain (availableNow trigger, memory
sink) and records into ``STREAM_BENCH.json``:

- ``sec``      — wall seconds for build + drain + count (min of
                 ``SPARK_GRAFT_STREAM_REPEATS`` passes, default 2: the
                 first pass per query still pays some per-plan codegen,
                 min-of-2 reads steady state the way the batch bench's
                 warm-up pass does);
- ``secs``     — every repeat's wall, in run order, so two runs can be
                 told apart from the box's run-to-run spread;
- ``rows``     — rows emitted to the sink (the batch-read count);
- ``peak_state_rows`` — max over micro-batches of the SUM of
                 ``numRowsTotal`` across the query's state operators,
                 observed via a StreamingQueryListener.  THIS is the
                 scale signal: a bounded-state claim (st12's LRU,
                 st22's Bloom words, st25's fixed histogram) shows up
                 here as a constant, an unbounded leak as growth;
- ``batches``  — micro-batch count (progress events seen).

Stateless topologies (no state operators) legitimately report
``peak_state_rows = 0``.  Stream-replay fixtures are pre-warmed before
any timing so fixture builds are never conflated with query time (the
m05 lesson from round 6).

Reference witness: the per-stage barrier/ack timing the reference logs
(src/Impl.hs:59-67) is its only runtime measurement; this file is the
streaming analog over Spark's progress telemetry.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.chdir(REPO)

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
    "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
)
REPEATS = int(os.environ.get("SPARK_GRAFT_STREAM_REPEATS", "2"))

from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

from mapreducehs_spark.session import DEFAULT_CPUS as CPUS  # noqa: E402


class StateFootprintListener(StreamingQueryListener):
    """Accumulate per-sink-name peak state rows + batch count.

    Progress events arrive on a listener-bus thread, so access is
    lock-guarded; ``snapshot()`` copies the dict for diffing around a
    timed run.
    """

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.stats: dict[str, dict[str, int]] = {}

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        name = p.name or str(p.id)
        state_rows = sum(int(so.numRowsTotal) for so in p.stateOperators)
        # memoryUsedBytes is the honest scale signal for SHARDED state
        # (st32's 64 version-map rows): numRowsTotal is flat by
        # construction there, while the bytes track |live keys|
        # (VERDICT r10 gap 1)
        state_bytes = sum(int(so.memoryUsedBytes) for so in p.stateOperators)
        with self._lock:
            d = self.stats.setdefault(
                name, {"peak_state_rows": 0, "peak_state_bytes": 0, "batches": 0}
            )
            d["peak_state_rows"] = max(d["peak_state_rows"], state_rows)
            d["peak_state_bytes"] = max(d["peak_state_bytes"], state_bytes)
            d["batches"] += 1

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def snapshot(self) -> dict[str, dict[str, int]]:
        with self._lock:
            return {k: dict(v) for k, v in self.stats.items()}


def prewarm_fixtures(spark) -> None:
    """Build every stream-replay fixture the st queries read, untimed.

    The arg combos below are exactly the ones queries.py uses
    (_replayed_events n_chunks=4, st14's n_flush=2 variant, st08's late
    replay, _replayed_docs n_chunks=4); build_fixture_once makes each a
    no-op when the /tmp cache is already warm.
    """
    from mapreducehs_spark import streaming as st

    st.prepare_stream_dir(spark, SF_DIR)
    st.prepare_stream_dir(spark, SF_DIR, n_flush=2)
    st.prepare_late_stream_dir(spark, SF_DIR)
    st.prepare_docs_stream_dir(spark, SF_DIR)


def main() -> None:
    import __spark_entry__ as entry
    from bench import spawn_python_workers
    from mapreducehs_spark.session import get_spark

    spark = get_spark(
        app_name="mapreducehs_stream_bench", master=f"local[{CPUS}]"
    )
    listener = StateFootprintListener()
    spark.streams.addListener(listener)

    # the applyInPandasWithState queries should measure kernel time, not
    # one interpreter startup per core attributed to whichever runs first
    spawn_python_workers(spark)

    prewarm_fixtures(spark)

    st_queries = {
        name: fn for name, fn in entry.queries().items() if name.startswith("st")
    }
    results: dict[str, dict] = {}
    for name in sorted(st_queries):
        fn = st_queries[name]
        secs: list[float] = []
        rows = 0
        peak = 0
        peak_bytes = 0
        batches = 0
        for _ in range(max(REPEATS, 1)):
            before = listener.snapshot()
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            rows = df.count()
            secs.append(time.perf_counter() - t0)
            # progress events are async on the listener bus; poll until
            # the per-sink batch count stops increasing (with a timeout)
            # instead of a fixed sleep — a late final event would
            # otherwise silently record 0 state rows (ADVICE r8)
            after = listener.snapshot()
            deadline = time.monotonic() + 10.0
            stable = 0
            while time.monotonic() < deadline and stable < 3:
                time.sleep(0.25)
                nxt = listener.snapshot()
                stable = stable + 1 if nxt == after else 0
                after = nxt
            # peak/batches are the MAX across repeats: the state-store
            # footprint is a property of the plan, not of the fastest run
            for sink, d in after.items():
                prev = before.get(
                    sink,
                    {"peak_state_rows": 0, "peak_state_bytes": 0, "batches": 0},
                )
                if d["batches"] > prev["batches"]:
                    peak = max(peak, d["peak_state_rows"])
                    peak_bytes = max(peak_bytes, d.get("peak_state_bytes", 0))
                    batches = max(batches, d["batches"] - prev["batches"])
            results[name] = {
                "sec": round(min(secs), 4),
                "secs": [round(t, 4) for t in secs],
                "rows": int(rows),
                "peak_state_rows": int(peak),
                "peak_state_bytes": int(peak_bytes),
                "batches": int(batches),
            }
        print(
            f"{name}: {results[name]['sec']}s rows={rows} "
            f"state={results[name]['peak_state_rows']} "
            f"batches={results[name]['batches']}",
            flush=True,
        )

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    out = {
        "metric": "stream_suite_sec",
        "value": round(sum(r["sec"] for r in results.values()), 4),
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else SF_DIR,
        "n_queries": len(results),
        "repeats": REPEATS,
        "queries": results,
    }
    out_path = os.environ.get(
        "SPARK_GRAFT_STREAM_BENCH_OUT", os.path.join(REPO, "STREAM_BENCH.json")
    )
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({k: out[k] for k in ("metric", "value", "n_queries", "sf")}))
    spark.streams.removeListener(listener)


if __name__ == "__main__":
    main()
