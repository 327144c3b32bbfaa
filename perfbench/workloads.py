"""The benchmark's workloads: which queries run on which derived
dataset.  ``README.md`` says why each exists and which layers it is
meant to move."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    #: key-space replication of the committed sf0.01 tables
    factor: int
    #: query-name prefixes (``d03`` selects ``d03_minhash_lsh_pairs``)
    queries: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="tail_streams",
            why="multi-job query functions and stateful micro-batch replays: the cost is rounds, not bytes",
            factor=1,
            queries=("d03", "q100", "st02"),
        ),
        Workload(
            name="scan_shuffle_10x",
            why="10x replicated tables, few jobs per query: parquet scan, shuffle and the Pipeline Python boundary",
            factor=10,
            queries=("q28", "q83", "p01", "p03"),
        ),
    )
}


def query_names(workload: Workload) -> list[str]:
    """Registered names for the workload's prefixes, in declared order."""
    from mapreducehs_spark.queries import QUERIES

    by_prefix = {name.split("_", 1)[0]: name for name in QUERIES}
    return [by_prefix[p] for p in workload.queries]
