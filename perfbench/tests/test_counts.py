"""The traced run's counters repeat exactly between two runs of one seed.

Runs ``tail_streams`` (batch chains plus a stateful stream) traced,
twice, each in its own process with its own work directory, one set-up
and one warm pass.  Takes about two minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

COUNTS = [
    "exec.jobs",
    "exec.stages",
    "queries.construct_jobs",
    "plans.exchanges",
    "streaming.batches",
    "exec.leaked_rdds",
]

_RUN = """
import sys
sys.path.insert(0, {bench!r})
import run
run.WORK, run.SETUPS, run.MIN_WARM = {work!r}, 1, 1
sys.exit(run.main(["--workload", "tail_streams", "--seed", "7", "--seconds", "0", "--trace", "1"]))
"""


def _traced(work: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _RUN.format(bench=BENCH, work=work)],
        capture_output=True, text=True, timeout=600, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def test_counts_repeat_across_traced_runs(tmp_path):
    first, second = _traced(str(tmp_path / "a")), _traced(str(tmp_path / "b"))
    assert first["failed"] == second["failed"] == 0
    for name in COUNTS:
        assert first["metrics"][name]["value"] == second["metrics"][name]["value"], name
    assert first["metrics"]["streaming.batches"]["value"] > 0
    # q100 keeps a checkpoint registered after it returns (known leak)
    assert first["metrics"]["exec.leaked_rdds"]["value"] > 0
