"""SparkSession factory.

Replaces the reference's entire execution machinery — TCP task server
(``src/ImplServer.hs``), worker loop (``src/ImplWorker.hs``), pluggable
shuffle store (``src/Core/Store.hs``), hash partitioner
(``src/Core/Partition.hs``), stage barriers and retry
(``src/Impl.hs:51-67``) — with Spark's built-in DAG scheduler, sort-based
shuffle, and task retry.  None of that is re-implemented here (SURVEY §3,
§7 "explicitly not needed"); we only configure the session.

Config notes for 100 TB posture (values here are local-mode defaults;
on a real cluster the same flags apply, sized to the cluster):

- AQE on (runtime partition coalescing, skew-join splitting, broadcast
  demotion) — replaces any hand-tuned partition count.
- ``spark.sql.shuffle.partitions`` seeds AQE's initial parallelism; on a
  1000-executor cluster this would be ~2-3x total cores, here ~cores.
- Session timezone pinned UTC so timestamp semantics match the DuckDB
  oracle (and are deterministic across clusters).
- Arrow enabled: every pandas-UDF boundary is Arrow-batched, never
  row-at-a-time pickling.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import SparkSession

#: The one core-count default for every session and tool:
#: ``SPARK_GRAFT_CPUS`` if set, else the cores this process may run on.
DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))

#: The one driver-heap default for every session and tool: half the
#: machine's physical memory in whole GiB (at least 1g), so a heap that
#: never has to collect cannot grow past what the machine holds.
#: ``SPARK_GRAFT_DRIVER_MEM`` overrides it.
DEFAULT_DRIVER_MEM = f"{max(1, os.sysconf('SC_PHYS_PAGES') * os.sysconf('SC_PAGE_SIZE') // 2**31)}g"


def get_spark(
    app_name: str = "mapreducehs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the SparkSession with engine defaults."""
    master = master or f"local[{DEFAULT_CPUS}]"
    cores = DEFAULT_CPUS if "*" in master else master.strip("local[]") or DEFAULT_CPUS
    try:
        n_shuffle = shuffle_partitions or int(cores)
    except ValueError:
        n_shuffle = shuffle_partitions or int(DEFAULT_CPUS)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE's coalesce target.  The 8m default here is a LOCAL/BENCH
        # profile: Spark's 64m default merges CPU-bound stages (window
        # sorts, per-group ranks) down to a couple of tasks on
        # small-to-mid data — measured 25-45% slower across the
        # window/agg headline at sf0.1 — while 8m keeps parallelism and
        # still merges tiny fragments.  On genuinely large shuffles the
        # small target multiplies reducer counts ~8x vs 64m, trading
        # shuffle IO and scheduling overhead, so a cluster deployment
        # should override via SPARK_GRAFT_ADVISORY_PARTITION (e.g.
        # "64m") rather than inherit the bench tuning.
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_PARTITION", "8m"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", DEFAULT_DRIVER_MEM))
        .config("spark.ui.enabled", "false")
        # the console progress bar would share stderr lines with callers'
        # per-query logging (bench.py); disabling the UI leaves it on
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_confs(spark: SparkSession, confs: dict[str, str]) -> Iterator[None]:
    """Set *confs* on the session for the body of the ``with``; on exit
    restore each key's old value, or unset a key that had none set."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
