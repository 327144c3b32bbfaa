"""Benchmark harness: the FULL batch query inventory at $SPARK_GRAFT_SF_DIR.

The measured set is every registered batch query (``full_inventory()``),
each timed as the median of ``REPEATS`` runs.  The compact line reports
the total (``value``) and ``calib_sec``, which normalizes box drift.

Prints exactly ONE COMPACT JSON line (headline total + per-family
subtotals + a calibration time) and writes the FULL per-query JSON to
``BENCH_local.json`` in the repo root.  The split exists because the
driver's stdout capture keeps only the tail of long lines: round 4's
86-query line was truncated past recovery (BENCH_r04 ``parsed: null``).
The compact line is ~300 bytes — it can never lose the headline again —
and the full detail lives in the committed file.

``calib_sec`` is a fixed, data-independent calibration workload
measured FIRST in the same session — VERSION 2 since round 12 (mixed
~4 s JVM-shuffle + Arrow/Python reps, median of 5, dispersion
recorded; see ``calibration()``).  Cross-round comparisons should
normalize by it WITHIN the same ``calib_version``: this box drifts
+-2x with load, and the v1 sub-second probe itself swung 2x across
round-11 sweeps, which is why v2 exists.

Each query is executed fully via the noop sink (no driver collect cost,
no skipped projections).  One warm-up run of the flagship query first so
JVM/codegen startup isn't attributed to the first measured query.
"""

from __future__ import annotations

import json
import os
import sys
import time

import pandas as pd  # module-level: pandas_udf type hints resolve here

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from mapreducehs_spark.session import DEFAULT_CPUS as CPUS  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
#: repeats per query in the measured pass; the reported time is the
#: MEDIAN, which strips the box-noise outliers that a single pass
#: shows (+-20% observed when anything else runs on the machine).
REPEATS = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))


def full_inventory() -> list[str]:
    """EVERY batch query in registry order.  The st-series stays
    excluded — its replay harness measures fixture IO, not the operator
    (the streaming ops are timed by their own tests)."""
    from mapreducehs_spark.queries import QUERIES

    return [n for n in QUERIES if not n.startswith("st")]


def calibration(spark) -> dict:
    """Fixed box-speed probe, VERSION 2 (round 12).

    The v1 probe (seeded 10 M-row codegen-only aggregate, sub-second)
    swung 1.17 → 0.74 → 0.60 across three round-11 sweeps while raw
    walls and plan fingerprints barely moved — a ±50% swing in every
    "calibration-normalized" cross-round comparison.  A sub-second
    codegen-only burst measures scheduler/JIT jitter, not sustained box
    speed.  v2 measures what the query suite actually exercises, long
    enough to amortize scheduling noise:

    - JVM leg: 150 M-row codegen scan → 9,973-key REPARTITION (real
      shuffle bytes) → hash aggregate (sum/avg/count);
    - Python leg: 30 M-row Arrow round-trip through a pandas UDF →
      97-key aggregate.

    ~4 s per rep on the reference box; warm-up + MEDIAN OF 5, with the
    raw reps and the dispersion (sample stdev / median) recorded so
    every artifact carries its own error bar.  Returns a dict:
    ``{"calib_sec", "calib_disp", "calib_reps", "calib_version"}``.
    Cross-round normalization is only meaningful within the same
    calib_version (v2 from round 12 on; BENCH_r11 and earlier carry v1).
    """
    import statistics

    from pyspark.sql import functions as F

    @F.pandas_udf("double")
    def _py_leg(v: pd.Series) -> pd.Series:
        return (v * 1.0000001).pow(0.5) + (v % 7.0)

    def once() -> float:
        t0 = time.perf_counter()
        (
            spark.range(0, 150_000_000, 1, int(CPUS))
            .select(
                ((F.col("id") * 2654435761) % 1000003).alias("k"),
                (F.col("id") % 9973).alias("g"),
            )
            .repartition(int(CPUS), "g")
            .groupBy("g")
            .agg(F.sum("k").alias("s"), F.avg("k").alias("a"), F.count(F.lit(1)).alias("n"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        (
            spark.range(0, 30_000_000, 1, int(CPUS))
            .select(
                _py_leg((F.col("id") % 1000003).cast("double")).alias("p"),
                (F.col("id") % 97).alias("g"),
            )
            .groupBy("g")
            .agg(F.sum("p").alias("sp"))
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        return time.perf_counter() - t0

    once()  # warm-up: JIT the generated code, spawn Python workers
    reps = [once() for _ in range(5)]
    med = statistics.median(reps)
    return {
        "calib_sec": round(med, 4),
        "calib_disp": round(statistics.stdev(reps) / med, 4),
        "calib_reps": [round(t, 4) for t in reps],
        "calib_version": 2,
    }


def main() -> None:
    from mapreducehs_spark.queries import QUERIES
    from mapreducehs_spark.session import get_spark

    # Round 13 (VERDICT r12 item 2b): snapshot the PREVIOUS round's
    # per-query inventory from the committed detail file BEFORE this run
    # overwrites it, so the compact line can report a subtotal over the
    # queries BOTH rounds measured.  Family sums over different
    # inventories made round-over-round comparison structurally noisy
    # (r12's q_family "regression" was q128+q129 being new, not code);
    # `common_inventory_total` removes that failure mode.  Additive only
    # — `value` and `queries` are unchanged.
    # None (reported as null) when the previous detail file is missing
    # or unparseable — never aliased to this run's total
    prev_inventory: set[str] | None = None
    try:
        with open(os.path.join(REPO, "BENCH_local.json")) as f:
            prev_inventory = set(json.load(f).get("queries", {}))
    except (OSError, ValueError):
        pass

    spark = get_spark(app_name="mapreducehs_spark_bench", master=f"local[{CPUS}]")

    calib = calibration(spark)

    def run(name: str) -> float:
        t0 = time.perf_counter()
        QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # spawn the Python UDF workers once, so Arrow-UDF queries measure
    # kernel time rather than one interpreter startup per core
    spark.range(0, 1024, 1, int(CPUS)).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    inventory = full_inventory()

    # full untimed warm-up pass: JIT-compile the generated code, prime
    # parquet footers and broadcast paths.  Measured pass = steady state
    # (per-query codegen+JIT startup was 2-5x the steady-state time and
    # measured the JVM, not the plan).
    for name in inventory:
        run(name)
    # drop frames persisted inside operators during the warm pass —
    # they are dead (each invocation builds fresh lineage) but would
    # occupy executor memory during the measured pass
    spark.catalog.clearCache()

    import statistics

    timings = {
        name: round(statistics.median(run(name) for _ in range(REPEATS)), 4)
        for name in inventory
    }
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else SF_DIR
    total = round(sum(timings.values()), 4)
    common_total = common_n = None
    if prev_inventory is not None:
        common = {n: t for n, t in timings.items() if n in prev_inventory}
        common_total, common_n = round(sum(common.values()), 4), len(common)

    # per-family subtotals keep the stdout line ~300 bytes: q relational,
    # d dedup, s similarity, t text, m multimodal, p pipeline
    families: dict[str, float] = {}
    for name, t in timings.items():
        fam = name.split("_")[0].rstrip("0123456789") + "_family"
        families[fam] = round(families.get(fam, 0.0) + t, 4)

    full = {
        "metric": "batch_inventory_total_wall",
        "value": total,
        "unit": "sec",
        **calib,
        "n_queries": len(timings),
        "common_inventory_total": common_total,
        "common_inventory_n": common_n,
        "queries": timings,
        "sf": sf_val,
    }
    # SPARK_GRAFT_BENCH_OUT redirects the detail file so off-sf runs
    # (the /tmp/sf1 scaling pass) never clobber the committed sf0.1
    # detail; the driver's default run is unchanged.
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_OUT", os.path.join(REPO, "BENCH_local.json")
    )
    with open(detail_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)
        f.write("\n")

    compact = {
        "metric": "batch_inventory_total_wall",
        "value": total,
        "unit": "sec",
        **calib,
        "n_queries": len(timings),
        "common_inventory_total": common_total,
        "common_inventory_n": common_n,
        "queries": dict(sorted(families.items())),
        "sf": sf_val,
        "detail": os.path.basename(detail_path),
    }
    print(json.dumps(compact))
    spark.stop()


if __name__ == "__main__":
    main()
