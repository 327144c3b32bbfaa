"""Plan-fingerprint audit: one row of plan metrics per batch query.

The 49 pin tests lock the plan SHAPES that matter most; this tool
records the coarse plan metrics (exchange / broadcast-join /
sort-merge-join / codegen-span counts) for EVERY batch query (the
st-series returns a read of its drained sink, whose plan says nothing
about the stream's) into ``PLANS.json``, committed per round —
so a silent plan regression anywhere in the inventory (a broadcast
degrading to SMJ, an extra exchange creeping into an iteration) shows
up as a one-line diff in review even where no pin test exists yet.
One query's full plan is ``plans.inspect.formatted_plan(df)``.

Plans are BUILT, never executed — with known exceptions that EXECUTE
real cluster work during build (ADVICE r06: this list had gone stale),
so a full-inventory audit is no longer "a few seconds":
- the iterative bodies that end in ``localCheckpoint`` (q96/q108/
  q111/d21/s05/s11/t18, the m11/m12 canonical dedup, d20);
- q71, which runs a distinct-count at build time to size its
  Misra-Gries exact-regime capacity from the measured vocabulary
  (the sf1 correctness fix; ADVICE r05 notes the cost — it is the
  price of a capacity that cannot silently under-size);
- t28/t29 (full training loop: per-step counts + model collects),
  s15 (executes all ANN arms plus the exact top-k), and the
  seeded-codebook collects in s02/s04/s06/s07/s16/d22;
- the mid-pipeline reuse barriers added round 7: the checked-simhash
  signature frame (d04/d12), d17's tokenized-corpus frame, and s18's
  per-term tf projection — each materializes a narrow frame once
  instead of recomputing a scan-heavy subtree per downstream
  reference;
- s19, which executes its entire BM25 retrieval stage at build time
  (the 100-row candidate set localCheckpoints so the rerank joins
  against a pinned frame, never a recomputed sort).
Those report the plan of the materialized result; their interesting
plan properties are pinned by dedicated tests instead (see
test_plans.py's `_build()` convention).

Caveat on absolute values: the counts come from the FORMATTED plan
text, which re-prints a subtree once per reference — a frame consumed
k times multiplies its exchanges k-fold in the text even though
runtime deduplicates them via ReuseExchange (a self-join such as
q100's co-occurrence pass prints its corpus subtree once per side, so
its text counts look inflated).
The numbers are STABLE fingerprints for diffing across rounds, not
runtime shuffle counts.

Usage: python tools/plan_audit.py  [writes PLANS.json in the repo root]
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
os.chdir(REPO)


def main() -> None:
    from mapreducehs_spark.plans.inspect import (
        broadcast_join_count,
        codegen_stage_count,
        exchange_count,
        sort_merge_join_count,
    )
    from mapreducehs_spark.queries import QUERIES
    from mapreducehs_spark.session import get_spark

    spark = get_spark(app_name="plan_audit")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    out: dict[str, dict] = {}
    for name in (n for n in QUERIES if not n.startswith("st")):
        try:
            df = QUERIES[name](spark, sf_dir)
            out[name] = {
                "exchanges": exchange_count(df),
                "broadcast_joins": broadcast_join_count(df),
                "sort_merge_joins": sort_merge_join_count(df),
                "codegen_spans": codegen_stage_count(df),
            }
        except Exception as ex:  # never let one query break the audit
            out[name] = {"error": f"{type(ex).__name__}: {str(ex)[:120]}"}
        print(f"{name}: {out[name]}", flush=True)

    with open(os.path.join(REPO, "PLANS.json"), "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"PLANS.json: {len(out)} queries")
    spark.stop()


if __name__ == "__main__":
    main()
