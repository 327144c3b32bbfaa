"""Scaling-exponent gate: per-query wall(sf1)/wall(sf0.1) over the FULL
inventory, batch and stream (VERDICT r07 gap 3).

SCALE.md argues near-linearity per family; this makes the claim a
committed TABLE with a GATE, so a super-linear query outside the
19-query skew set cannot hide.  Inputs are two bench detail files
produced by the same bench.py methodology (full warm-up pass, noop
sink, calibration probe first):

  python bench.py                                   # sf0.1 -> BENCH_local.json
  SPARK_GRAFT_SF_DIR=/tmp/sf1 SPARK_GRAFT_BENCH_REPEATS=1 \
      SPARK_GRAFT_BENCH_OUT=/tmp/bench_sf1.json python bench.py

  python tools/scaling_gate.py [sf1_detail] [sf01_detail] [out]
  python tools/scaling_gate.py --adjudicate [out]   # re-time flagged queries

``--adjudicate`` times each flagged query with ``bench.time_queries`` at
$SPARK_GRAFT_SF_DIR and $SPARK_GRAFT_SF1_DIR.  To re-time a few queries
at one scale, run ``bench.py`` on them (``python bench.py t02,q96``).

Writes SCALING.json: per query the raw ratio, the CALIB-NORMALIZED
ratio (each file records calib_sec — the fixed data-independent probe —
so box drift between the two runs divides out), and a flag when the
normalized ratio exceeds the gate.

GATE = 12x: 10x data + 20% headroom.  Sub-second queries get an
absolute floor instead (sf1 wall < FLOOR_SEC never flags): at 0.1 s a
single JIT/GC hiccup is a 5x "ratio" that measures the box, not the
plan — and a query whose 10x-data wall is still under a second cannot
be the 100 TB bottleneck this gate exists to catch.

Reference discipline: measure, don't argue (test/Generator.hs:83-92 —
the recorded run IS the spec).
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GATE_RATIO = 12.0
FLOOR_SEC = 1.0  # sf1 wall below this never flags (noise regime)


def main() -> None:
    sf1_path = sys.argv[1] if len(sys.argv) > 1 else "/tmp/bench_sf1.json"
    sf01_path = (
        sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, "BENCH_local.json")
    )
    out_path = sys.argv[3] if len(sys.argv) > 3 else os.path.join(REPO, "SCALING.json")

    with open(sf1_path) as f:
        b1 = json.load(f)
    with open(sf01_path) as f:
        b01 = json.load(f)

    calib_ratio = b1["calib_sec"] / b01["calib_sec"]
    # carry each side's instrument metadata (v2 probe, round 12) so the
    # gate artifact documents its own error bar and refuses silent
    # cross-version normalization
    calib_meta = {
        "calib_version": [b1.get("calib_version", 1), b01.get("calib_version", 1)],
        "calib_disp": [b1.get("calib_disp"), b01.get("calib_disp")],
    }
    if calib_meta["calib_version"][0] != calib_meta["calib_version"][1]:
        raise SystemExit(
            "calib_version mismatch between bench files: "
            f"{calib_meta['calib_version']} — re-run the older sweep"
        )
    q1, q01 = b1["queries"], b01["queries"]
    common = sorted(set(q1) & set(q01))
    missing = sorted(set(q01) ^ set(q1))

    rows: dict[str, dict] = {}
    flagged: list[str] = []
    for name in common:
        t01, t1 = float(q01[name]), float(q1[name])
        raw = t1 / t01 if t01 > 0 else float("inf")
        norm = raw / calib_ratio
        flag = bool(norm > GATE_RATIO and t1 >= FLOOR_SEC)
        rows[name] = {
            "sf01_sec": round(t01, 4),
            "sf1_sec": round(t1, 4),
            "ratio": round(raw, 3),
            "ratio_norm": round(norm, 3),
            "flagged": flag,
        }
        if flag:
            flagged.append(name)

    norms = sorted(r["ratio_norm"] for r in rows.values() if r["sf1_sec"] >= FLOOR_SEC)
    out = {
        "metric": "sf1_over_sf01_wall_ratio",
        "gate_ratio": GATE_RATIO,
        "floor_sec": FLOOR_SEC,
        "calib_ratio": round(calib_ratio, 4),
        **calib_meta,
        "n_queries": len(rows),
        "n_flagged": len(flagged),
        "flagged": flagged,
        "missing_in_one_file": missing,
        "median_ratio_norm_above_floor": (
            round(norms[len(norms) // 2], 3) if norms else None
        ),
        "queries": rows,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(
        json.dumps(
            {
                k: out[k]
                for k in (
                    "metric",
                    "n_queries",
                    "n_flagged",
                    "flagged",
                    "calib_ratio",
                    "median_ratio_norm_above_floor",
                )
            }
        )
    )


def adjudicate() -> None:
    """Re-measure every flagged AND near-threshold query ISOLATED
    (fresh session, own warm-up, median of 3 per scale) and record
    `adjudicated_*` fields.

    The sweep's single-pass sf1 numbers measure JVM state (GC debt,
    cache pressure from 200+ prior queries) as much as the plan — round
    8 measured t02 at 16.4 s in-sweep vs 3.5 s isolated on an idle box.
    The gate's verdict therefore comes from the isolated ratio; the
    in-sweep ratio stays recorded as the pressure signal it is.

    Near-threshold (ADVICE r8): a query whose in-sweep sf1 wall sat
    just under FLOOR_SEC, or whose normalized ratio sat just under the
    gate, could be super-linear in isolation — so anything within 20%
    of either boundary is re-measured too, under the same flag law.
    """
    out_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, "SCALING.json")
    with open(out_path) as f:
        data = json.load(f)
    gate, floor = float(data["gate_ratio"]), float(data["floor_sec"])
    near = sorted(
        name
        for name, r in data["queries"].items()
        if not r["flagged"]
        and r["ratio_norm"] > 0.8 * gate
        and r["sf1_sec"] >= 0.8 * floor
    )
    flagged = sorted(set(data.get("flagged", [])) | set(near))
    if not flagged:
        print("nothing flagged or near-threshold; no adjudication needed")
        return
    if near:
        print(f"near-threshold re-measured alongside flagged: {near}", flush=True)

    import statistics

    sys.path.insert(0, REPO)
    os.chdir(REPO)
    from bench import spawn_python_workers, time_queries

    from mapreducehs_spark.session import get_spark

    spark = get_spark(app_name="scaling_adjudicate")
    spawn_python_workers(spark)

    sf01_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf1_dir = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1")
    still = []
    for name in flagged:
        t01, t1 = (
            statistics.median(time_queries(spark, [name], sf_dir, 3)[0][name])
            for sf_dir in (sf01_dir, sf1_dir)
        )
        ratio = round(t1 / t01, 3) if t01 > 0 else float("inf")
        row = data["queries"][name]
        row["adjudicated_sf01_sec"] = round(t01, 4)
        row["adjudicated_sf1_sec"] = round(t1, 4)
        row["adjudicated_ratio"] = ratio
        row["flagged"] = bool(ratio > data["gate_ratio"] and t1 >= data["floor_sec"])
        if row["flagged"]:
            still.append(name)
        print(f"{name}: isolated {t01:.3f}s -> {t1:.3f}s = {ratio}x "
              f"({'STILL FLAGGED' if row['flagged'] else 'cleared'})", flush=True)
    data["flagged"] = still
    data["n_flagged"] = len(still)
    data["adjudicated"] = True
    with open(out_path, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({"n_flagged_after_adjudication": len(still), "flagged": still}))
    spark.stop()


if __name__ == "__main__":
    # single dispatch (ADVICE r8: the two mid-file __main__ blocks were
    # easy to misread): default is the sweep, --adjudicate re-measures
    if "--adjudicate" in sys.argv:
        raise SystemExit(adjudicate())
    main()
