"""Profile SEVERAL declared queries in ONE session (median of N noop runs).

    python tools/batch_profile.py q1,q2,... [sf_dir] [runs]

One shared session means one JVM/codegen warm-up cost total and
back-to-back measurement on the same box state — the right instrument
for same-session A/B comparisons when absolute box speed drifts.
Each query gets a warm-up run before its measured runs.
"""
from __future__ import annotations

import os
import statistics
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.chdir(REPO)


def main() -> None:
    names = sys.argv[1].split(",")
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 3

    from mapreducehs_spark.queries import QUERIES
    from mapreducehs_spark.session import DEFAULT_CPUS, get_spark

    spark = get_spark(app_name="batch_profile")
    # spawn Python workers once (bench.py discipline)
    spark.range(0, 1024, 1, int(DEFAULT_CPUS)).mapInPandas(
        lambda it: it, schema="id long"
    ).write.format("noop").mode("overwrite").save()

    def once(name: str) -> float:
        t0 = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    for name in names:
        spark.sparkContext.setJobDescription(name)
        warm = once(name)
        ts = [once(name) for _ in range(runs)]
        print(
            f"{name}: warm={warm:.2f} median={statistics.median(ts):.2f} "
            f"min={min(ts):.2f} max={max(ts):.2f}",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
