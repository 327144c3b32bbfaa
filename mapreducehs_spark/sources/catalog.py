"""Table catalog over the parquet testdata + generic readers.

The reference has no scans at all — input is an in-memory assoc list
passed to ``runMapReduce`` (reference ``src/Impl.hs:90,98``).  The new
engine's sources are Spark's readers; parquet is the default so Catalyst
gets predicate pushdown + column pruning + partition pruning for free.

A table is either a single parquet file or a directory of part files
(the 100 TB layout: a partitioned/bucketed directory on object
storage); Spark reads both the same way, and every filesystem question
about a table ("which files make it up") goes through ``data_files``,
so sizing and fixture keys are layout-blind too.  Derived fixtures
(stream replays, partitioned rewrites, media files) live under one
root, ``FIXTURE_ROOT``, keyed by ``derived_fixture``.
"""

from __future__ import annotations

import os
import tempfile
from contextlib import contextmanager
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: The ten driver-generated tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables that should always be broadcast in joins.
BROADCAST_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})


#: Root of every derived fixture directory.  ``TMPDIR`` moves it.
FIXTURE_ROOT = tempfile.gettempdir()


def data_files(path: str) -> list[str]:
    """The data files at *path*, sorted: the path itself for a single
    file; for a directory, every file under its tree except hidden
    ``.``/``_`` files and directories (``_SUCCESS``, ``.crc``
    checksums, ``_temporary``), which Spark's reader skips too."""
    if os.path.isfile(path):
        return [path]
    if not os.path.isdir(path):
        raise FileNotFoundError(f"no table at {path}")
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
        out += [os.path.join(root, f) for f in files if not f.startswith((".", "_"))]
    return sorted(out)


def table_files(sf_dir: str, name: str) -> list[str]:
    """The data files of table *name* under *sf_dir* (``data_files``)."""
    return data_files(os.path.join(sf_dir, f"{name}.parquet"))


def source_fingerprint(sf_dir: str, *tables: str) -> str:
    """Short content token for *tables* under *sf_dir*, for fixture
    cache keys.

    Derived cached fixtures must be rebuilt when the testdata is
    regenerated in place — the sf-dir *name* stays the same, so a
    name-only cache key would silently serve fixtures built from stale
    data.  The name, size and mtime_ns of every data file change on any
    regeneration, including a part file rewritten in place inside a
    directory table; folding them into the key makes reuse safe.
    """
    import hashlib

    h = hashlib.md5()
    for name in tables or TABLES:
        for path in table_files(sf_dir, name):
            st = os.stat(path)
            rel = os.path.relpath(path, sf_dir)
            h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()[:12]


def derived_fixture(base_dir: str, sf_dir: str, tables: tuple[str, ...], build, *params) -> str:
    """Build (once) and return the fixture directory derived from
    *tables* under *sf_dir*: ``{base_dir}/{sf basename}_{params…}_{fp}``
    with ``fp = source_fingerprint(sf_dir, *tables)``, so two sf dirs
    with the same name but different data files never share a fixture.
    ``build(tmp)`` writes the fixture into *tmp* (``build_fixture_once``,
    looked up at call time so a tracer that rebinds it sees every build).

    A build supersedes the older generations of the same fixture: the
    siblings ``{sf basename}_{params…}_{other fp}`` whose ``_DONE`` names
    the same source dir are removed.  A same-named fixture of another sf
    path, or a legacy one whose ``_DONE`` names no source, is kept."""
    import re
    import shutil

    source = os.path.realpath(sf_dir)
    prefix = "_".join([os.path.basename(os.path.normpath(sf_dir)), *map(str, params)]) + "_"
    base = os.path.join(base_dir, prefix + source_fingerprint(sf_dir, *tables))
    built = not os.path.exists(os.path.join(base, "_DONE"))
    build_fixture_once(base, build, source)
    if built:
        generation = re.compile(re.escape(prefix) + "[0-9a-f]{12}")
        for name in os.listdir(base_dir):
            old = os.path.join(base_dir, name)
            if old != base and generation.fullmatch(name) and _done_source(old) == source:
                shutil.rmtree(old, ignore_errors=True)
    return base


@contextmanager
def scratch_dir(kind: str, sf_dir: str) -> Iterator[str]:
    """A process-private working directory for one query run over
    *sf_dir*: ``{FIXTURE_ROOT}/mapreducehs_{kind}_{sf basename}_{pid}``,
    absent on entry (a stale one is removed) and removed on exit."""
    import shutil

    path = os.path.join(
        FIXTURE_ROOT, f"mapreducehs_{kind}_{os.path.basename(os.path.normpath(sf_dir))}_{os.getpid()}"
    )
    shutil.rmtree(path, ignore_errors=True)
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _done_source(fixture: str) -> str | None:
    """The source dir a committed fixture's ``_DONE`` marker names."""
    try:
        with open(os.path.join(fixture, "_DONE")) as f:
            return f.read()
    except OSError:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table. Plain parquet scan → full pushdown.

    Timestamp discipline: the testdata stores naive (no-timezone)
    timestamps.  Spark 4 would infer those as TIMESTAMP_NTZ, a type
    that rejects numeric casts and diverges from the DuckDB oracle's
    plain-TIMESTAMP handling, so we disable NTZ inference and pin the
    session timezone to UTC — naive values then read as identical
    UTC instants on both engines.  Older generations of the testdata
    stored ``events.ts`` as TIMESTAMP(NANOS), which the reader
    rejects outright; the ``nanosAsLong`` fallback covers that.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
        return df
    return spark.read.parquet(path)


def read_any(spark: SparkSession, path: str, fmt: str = "parquet", schema=None, **options) -> DataFrame:
    """Generic reader covering the formats the engine supports.

    ``fmt`` in {parquet, orc, csv, json, text, binaryFile}.  Schema
    should be supplied for csv/json in production (no inference scans).
    """
    reader = spark.read.format(fmt)
    if schema is not None:
        reader = reader.schema(schema)
    if options:
        reader = reader.options(**options)
    return reader.load(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Managed bucketed table — the 100 TB co-located-join layout.

    ``bucketBy`` pre-hash-partitions the data ON DISK by the join key:
    two tables bucketed on their join keys with the same bucket count
    join with ZERO shuffle exchanges (each task reads bucket i of both
    sides), and a group-by on the bucket key skips its exchange too.
    This is the layout a fact table that is repeatedly joined/aggregated
    on the same key should be written in once, instead of re-shuffling
    ~100 TB on every query.  ``sort_cols`` additionally sorts within
    each bucket file (skips the sort-merge-join sort when Spark can
    prove one file per bucket).  Plan shape pinned in
    tests/test_plans.py::test_bucketed_join_has_no_exchange.
    """
    writer = df.write.format("parquet").mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def write_any(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options,
) -> None:
    """Generic sink. ``partition_by`` maps to hive-style dir partitioning
    (the 100 TB layout: partition on a low-cardinality pruning column)."""
    writer = df.write.format(fmt).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if options:
        writer = writer.options(**options)
    writer.save(path)


#: Ceiling for driver-materialized fixture builds (rows).  The stream
#: replay chunker and the m05 media writer pull a whole table through
#: the driver BY DESIGN (they play the external store feeding the
#: engine — not a query path), which is fine at test scale factors but
#: would OOM the driver silently at a real one.  5 M rows ~ a few
#: hundred MB of pandas for the events schema: far above every test
#: sf (sf1 events ~ 1 M rows) and far below driver heap.
DRIVER_FIXTURE_MAX_ROWS = int(
    os.environ.get("SPARK_GRAFT_DRIVER_FIXTURE_MAX_ROWS", "5000000")
)


def guard_driver_fixture(df: DataFrame, what: str, max_rows: int | None = None) -> int:
    """Refuse to driver-materialize *df* if it exceeds the fixture
    ceiling; returns the row count otherwise.

    The pre-count is a deliberate extra scan (key-only, a single long to
    the driver) — checking ``len()`` after ``toPandas()``/``collect()``
    would be after the OOM.  These builders run once per (sf, shape)
    and cache, so the scan is not on any query path.
    """
    limit = DRIVER_FIXTURE_MAX_ROWS if max_rows is None else max_rows
    n = df.count()
    if n > limit:
        raise RuntimeError(
            f"refusing to driver-materialize {what}: {n:,} rows exceeds the "
            f"fixture ceiling of {limit:,}. This builder plays a small "
            "external store; at this scale rewrite it as distributed "
            "foreachPartition writes or raise "
            "SPARK_GRAFT_DRIVER_FIXTURE_MAX_ROWS explicitly."
        )
    return n


def build_fixture_once(base: str, build, source: str) -> str:
    """Build a derived fixture directory exactly once, safely under
    CONCURRENT builders (bench + pytest on one box): build into a
    process-private sibling dir, stamp ``_DONE`` with the *source* dir it
    was derived from, then atomically rename into place; a loser's
    rename fails and its build is discarded.  The check-then-act
    ``if not exists(_DONE): write(base)`` pattern this replaces let two
    processes overwrite each other's half-written fixture."""
    import shutil

    done = os.path.join(base, "_DONE")
    if os.path.exists(done):
        return base
    tmp = f"{base}.tmp.{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        build(tmp)
        with open(os.path.join(tmp, "_DONE"), "w") as f:
            f.write(source)
    except BaseException:
        # don't leave a half-built pid dir behind for a failed build —
        # the same pid retrying would reuse the path, anyone else never
        # looks at it, so it is pure litter
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    try:
        os.rename(tmp, base)
    except OSError:
        if os.path.exists(done):
            # another builder won with a complete fixture — use theirs
            shutil.rmtree(tmp, ignore_errors=True)
        else:
            # a legacy half-built dir blocks the rename: replace it
            shutil.rmtree(base, ignore_errors=True)
            try:
                os.rename(tmp, base)
            except OSError:
                shutil.rmtree(tmp, ignore_errors=True)
                if not os.path.exists(done):
                    # both renames lost AND no complete fixture exists:
                    # returning `base` here would defer to a confusing
                    # read error downstream — fail loudly at the cause
                    raise RuntimeError(
                        f"fixture build lost both rename races and {base} "
                        "has no _DONE marker; retry the build"
                    )
    return base
