"""Physical-layout operators: z-order clustering for data skipping.

The reference has no storage layout at all (shuffle files keyed by
partition id, reference ``src/Core/Store.hs:56-62``).  At 100 TB the
dominant cost is the scan, and the scan is cheap only if file/row-group
min-max statistics let the reader SKIP data.  Hive-style partitioning
(``write_any(partition_by=...)``) handles ONE low-cardinality column;
z-ordering handles the multi-column case: interleave the bits of two
(or more) high-cardinality columns into one sort key, sort by it, and
every written file covers a small RECTANGLE of the (x, y) space — so a
predicate on EITHER column prunes most files, which no single-column
sort can do for both columns at once.  Same idea Delta/Iceberg expose
as ``OPTIMIZE ... ZORDER BY``; plain parquet + min/max pruning gets the
benefit too (Spark's parquet reader prunes row groups on pushed
filters).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapreducehs_spark.sources.catalog import data_files


def zorder_value(x_col: Column | str, y_col: Column | str, bits: int = 16) -> Column:
    """Morton (z-order) key: bit-interleave of two non-negative integer
    columns, ``bits`` low bits each → one ``2*bits``-bit key.

    Pure JVM expression (shifts/masks — whole-stage codegen), so it
    adds no kernel cost to the write path.  Columns with other types
    should be rank- or bucket-encoded to ints first (`F.ntile`,
    `F.hash`-mod, or unix epochs).
    """
    x = F.col(x_col) if isinstance(x_col, str) else x_col
    y = F.col(y_col) if isinstance(y_col, str) else y_col
    x = x.cast("bigint")
    y = y.cast("bigint")
    z = F.lit(0).cast("bigint")
    for k in range(bits):
        z = (
            z
            + F.shiftleft(F.shiftright(x, k).bitwiseAND(F.lit(1)), 2 * k)
            + F.shiftleft(F.shiftright(y, k).bitwiseAND(F.lit(1)), 2 * k + 1)
        )
    return z


def zorder_write(df: DataFrame, path: str, x_col: str, y_col: str, n_files: int) -> None:
    """Write ``df`` z-ordered on (x_col, y_col) into ~``n_files`` files.

    ``repartitionByRange`` on the z key range-partitions (sampled
    balanced bounds — one shuffle), and the within-partition sort makes
    parquet row-group min/max stats tight as well.  The result: files
    cover small rectangles of (x, y), so min-max pruning works for
    predicates on either column.  At 100 TB this is the nightly
    compaction/clustering job, not a per-query step.

    Both columns are min-max-rescaled to the same 8-bit range first
    (one cheap agg + broadcast of 4 scalars).  Without it, a wider column monopolizes the interleave's high bits
    and the narrower column gets no clustering at all (measured: raw
    16-bit interleave of an 11-bit and a 7-bit key clustered ONLY the
    11-bit one).  Min-max is linear, so locality is preserved; heavily
    skewed columns would use rank/percentile encoding instead.
    """
    lo_hi = df.agg(
        F.min(x_col).cast("double").alias("xlo"),
        F.max(x_col).cast("double").alias("xhi"),
        F.min(y_col).cast("double").alias("ylo"),
        F.max(y_col).cast("double").alias("yhi"),
    ).collect()[0]

    def scale(col: str, lo: float, hi: float) -> Column:
        span = (hi - lo) or 1.0
        return F.floor((F.col(col) - F.lit(lo)) / F.lit(span) * 255.0).cast("bigint")

    x_expr = scale(x_col, lo_hi["xlo"], lo_hi["xhi"])
    y_expr = scale(y_col, lo_hi["ylo"], lo_hi["yhi"])
    z = zorder_value(x_expr, y_expr, 8).alias("__z")
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.format("parquet")
        .mode("overwrite")
        .save(path)
    )


def execute_compaction_plan(spark, df: DataFrame, plan: DataFrame, out_dir: str) -> dict[int, int]:
    """Execute a q105-style compaction PLAN: rewrite the table so each
    plan bin becomes exactly ONE output file, preserving key order.

    q105 plans the bins (contiguous ``[first_file, last_file]``
    file-id ranges packed to a byte target); this is the rewrite job
    that consumes that plan.  Each row's file maps to its bin through
    a broadcast range join against the plan (the plan is a metadata
    frame, ~1 row per output file — the nested-loop is over bins, not
    data); all rows of a bin hash to one task (``repartition(bin)``),
    are re-sorted by file id inside it so min-max clustering survives
    the rewrite, and land in one file under ``bin=<b>/``.

    Returns {bin: data-file count} observed on disk after the write —
    the caller asserts it equals 1 per planned bin (the compaction
    contract) and that nothing else changed (content equivalence).
    """
    import os

    p = plan.select("bin", "first_file", "last_file")
    assigned = df.join(
        F.broadcast(p),
        (F.col("file_id") >= F.col("first_file"))
        & (F.col("file_id") <= F.col("last_file")),
    ).drop("first_file", "last_file")
    (
        assigned.repartition(F.col("bin"))
        .sortWithinPartitions("file_id")
        .write.mode("overwrite")
        .partitionBy("bin")
        .format("parquet")
        .save(out_dir)
    )
    realized: dict[int, int] = {}
    for entry in os.listdir(out_dir):
        if not entry.startswith("bin="):
            continue
        b = int(entry.split("=", 1)[1])
        realized[b] = len(data_files(os.path.join(out_dir, entry)))
    return realized
