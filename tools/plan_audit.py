"""Plan-fingerprint audit: one row of plan metrics per batch query.

The pin tests in tests/test_plans.py lock the plan SHAPES that matter
most; this tool records the coarse plan metrics (exchange /
broadcast-join / sort-merge-join / codegen-span counts) for EVERY
batch query (the st-series returns a read of its drained sink, whose
plan says nothing about the stream's) into ``PLANS.json``, committed
per round — so a silent plan regression anywhere in the inventory (a
broadcast degrading to SMJ, an extra exchange creeping into an
iteration) shows up as a one-line diff in review even where no pin
test exists yet.  One query's full plan is
``plans.inspect.formatted_plan(df)``.

Plans are BUILT, never executed, except where a query materializes
while building (a checkpoint, a sizing count, a collect): such a query
reports the plan of its materialized result, and its pin tests take
the pre-checkpoint frame from its builder (``_t33_build(m, sf_dir)``
and the like).

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
