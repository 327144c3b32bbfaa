"""Deterministic sampling / dataset-split operators for training-data
pipelines.

Absent in the reference (its kernel could express them as a Mapper with
a hash predicate, SURVEY §2.2 "Filter / predicates"); mandated by the
LLM-data-pipeline surface.  Everything here is *hash-deterministic* —
no RNG, no seed-dependent `sample()` — so results are reproducible
across clusters, re-runs, and engines (the DuckDB oracle computes the
identical split from the identical md5).

Scale notes (100 TB): both operators are pure per-row predicates on a
scan — no shuffle, no state, trivially parallel.  The md5 prefix gives
a uniform 32-bit draw per document keyed by *content*, so re-sharding
or re-ordering the corpus never changes an assignment, and dedup-then-
split commutes with split-then-dedup (same content → same split).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mapreducehs_spark.operators.iteration import Materialization

#: width of the md5 prefix used as the uniform draw: 8 hex chars = 32
#: bits; fraction f maps to the hex threshold floor(f * 16^8).
_HEX_DIGITS = 8
_SPACE = 16 ** _HEX_DIGITS


def fraction_to_hex(fraction: float) -> str:
    """Cumulative fraction in [0,1] → fixed-width lowercase hex string.

    Fixed-width lowercase hex compares lexicographically exactly as the
    underlying integer, so the assignment predicate is a plain string
    comparison — identical in Spark and any SQL oracle, no hex→int
    conversion needed on either side."""
    n = min(max(int(fraction * _SPACE), 0), _SPACE - 1)
    return format(n, f"0{_HEX_DIGITS}x")


def _draw(text_col: str) -> Column:
    return F.substring(F.md5(F.col(text_col)), 1, _HEX_DIGITS)


def hash_split(
    df: DataFrame,
    splits: dict[str, float],
    text_col: str = "text",
) -> DataFrame:
    """Assign each row to a named split by content hash.

    ``splits`` maps name → fraction (fractions sum to ~1; the last split
    absorbs rounding).  Assignment: the first split whose cumulative
    hex threshold exceeds the row's 32-bit md5 prefix.  Adds a
    ``split`` column.
    """
    names = list(splits)
    cum = 0.0
    expr: Column | None = None
    draw = _draw(text_col)
    for name in names[:-1]:
        cum += splits[name]
        cond = draw < F.lit(fraction_to_hex(cum))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    split_col = F.lit(names[0]) if expr is None else expr.otherwise(names[-1])
    return df.withColumn("split", split_col)


def hash_split_case_sql(splits: dict[str, float], text_col: str = "text") -> str:
    """The oracle-side CASE expression computing the identical split."""
    names = list(splits)
    cum = 0.0
    arms = []
    for name in names[:-1]:
        cum += splits[name]
        arms.append(
            f"WHEN substr(md5({text_col}), 1, {_HEX_DIGITS}) < '{fraction_to_hex(cum)}' "
            f"THEN '{name}'"
        )
    return "CASE " + " ".join(arms) + f" ELSE '{names[-1]}' END"


def stratified_sample(
    df: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    text_col: str = "text",
    default_rate: float = 0.0,
) -> DataFrame:
    """Keep a deterministic per-stratum fraction of rows.

    The per-stratum keep rate rebalances a skewed corpus (e.g.
    downsample the dominant language) without an RNG: a row survives iff
    its content draw falls below its stratum's threshold.  Strata not
    in ``rates`` get ``default_rate``.
    """
    draw = _draw(text_col)
    expr: Column = F.lit(fraction_to_hex(default_rate))
    for stratum, rate in rates.items():
        expr = F.when(F.col(strata_col) == stratum, F.lit(fraction_to_hex(rate))).otherwise(
            expr
        )
    return df.filter(draw < expr)


def stratified_threshold_case_sql(
    rates: dict[str, float], strata_col: str = "lang", default_rate: float = 0.0
) -> str:
    """Oracle-side CASE yielding each row's keep-threshold hex string."""
    arms = [
        f"WHEN {strata_col} = '{s}' THEN '{fraction_to_hex(r)}'" for s, r in rates.items()
    ]
    return "CASE " + " ".join(arms) + f" ELSE '{fraction_to_hex(default_rate)}' END"


def mixture_resample(
    df: DataFrame,
    weights: dict[str, float],
    target_fraction: float,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Deterministic mixture resampling: downsample each group so the
    kept corpus approximates ``target_fraction`` of the input with
    group shares proportional to ``weights`` (missing groups weigh 1).

    Two passes, both cheap: (1) per-group counts — a partial-agg shuffle
    of group keys only; (2) the rate for each group becomes a fixed
    32-bit hex threshold BROADCAST back onto the fact scan, so the
    actual sampling is a pure per-row predicate on the content hash —
    no shuffle of the corpus, reproducible across runs/engines/sharding
    (same md5 draw as `hash_split`), and rates adapt to whatever the
    actual group sizes are at run time.  Rates cap at 1 (a group smaller
    than its target keeps everything)."""
    w = F.lit(None)
    expr = None
    for name, wt in weights.items():
        expr = F.when(F.col(group_col) == name, float(wt)) if expr is None else expr.when(
            F.col(group_col) == name, float(wt)
        )
    w = F.lit(1.0) if expr is None else expr.otherwise(1.0)

    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__cnt")).withColumn("__wt", w)
    totals = counts.agg(
        F.sum("__cnt").alias("__total"), F.sum("__wt").alias("__sum_w")
    )
    rates = counts.crossJoin(F.broadcast(totals)).select(
        group_col,
        F.least(
            F.lit(1.0),
            (F.lit(target_fraction) * F.col("__total") * F.col("__wt") / F.col("__sum_w"))
            / F.col("__cnt"),
        ).alias("__rate"),
    )
    thresholds = rates.select(
        group_col,
        F.format_string(
            "%08x",
            F.least(
                F.floor(F.col("__rate") * F.lit(float(_SPACE))).cast("long"),
                F.lit(_SPACE - 1),
            ),
        ).alias("__thr"),
    )
    return (
        df.join(F.broadcast(thresholds), group_col)
        .filter(_draw(text_col) < F.col("__thr"))
        .drop("__thr")
    )


def global_positions(
    m: Materialization, df: DataFrame, order_cols: list[str], out_col: str = "pos"
) -> DataFrame:
    """Assign every row its 1-based position in the global order of
    ``order_cols`` — scalably.

    A bare ``row_number() OVER (ORDER BY ...)`` collapses to ONE task
    holding the whole dataset (Spark warns and obeys); this is the
    two-phase idiom that doesn't: range-repartition + in-partition sort
    (a real distributed sort — ranges are globally ordered by partition
    id), count rows per partition (a key-only aggregate; only
    #partitions longs reach the driver), then add each partition's
    cumulative offset to its local running index in an Arrow kernel.
    The sorted frame is persisted in the caller's scope ``m`` so both
    passes see the SAME sampled range boundaries — recomputing could
    re-sample different ones, so the positions must be materialized
    before the scope closes.

    The training-data use: a seeded content-hash order column turns
    this into a reproducible epoch shuffle (q89); downstream shard
    writers partition on arithmetic over the position.
    """
    from pyspark import TaskContext

    par = df.sparkSession.sparkContext.defaultParallelism
    s = m.persist(
        df.repartitionByRange(par, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
    )
    pid_counts = (
        s.select(F.spark_partition_id().alias("__pid"))
        .groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    counts = {r["__pid"]: r["n"] for r in pid_counts}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]

    out_schema = ", ".join(f"{n} {t}" for n, t in s.dtypes) + f", {out_col} long"

    def kernel(batches):
        tc = TaskContext.get()
        base = offsets.get(tc.partitionId(), 0)
        seen = 0
        for pdf in batches:
            pdf = pdf.copy()
            pdf[out_col] = range(base + seen + 1, base + seen + len(pdf) + 1)
            seen += len(pdf)
            yield pdf

    return s.mapInPandas(kernel, schema=out_schema)


def global_prefix_sums(
    m: Materialization,
    df: DataFrame,
    order_cols: list[str],
    weight_col: str,
    out_col: str = "start",
) -> DataFrame:
    """Assign every row the EXCLUSIVE prefix sum of ``weight_col`` over
    the global order of ``order_cols`` — the weighted generalization of
    ``global_positions`` (same two-phase idiom, same scope contract).

    This is the token-offset primitive of a pretraining corpus export:
    with weight = tokens-per-doc, ``out_col`` is each document's global
    token start offset in the concatenated corpus, from which sequence
    membership (``start div context_len``) and intra-sequence boundaries
    are pure arithmetic (t40).  A bare ``sum(w) OVER (ORDER BY ...)``
    collapses to ONE task holding the whole corpus; here the heavy data
    stays distributed: range-repartition + in-partition sort, ONE
    per-partition weight subtotal reaching the driver (#partitions
    longs), then an Arrow kernel adds each partition's cumulative base
    to its local running sum.
    """
    from pyspark import TaskContext

    par = df.sparkSession.sparkContext.defaultParallelism
    s = m.persist(
        df.repartitionByRange(par, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
    )
    pid_sums = (
        s.select(
            F.spark_partition_id().alias("__pid"),
            F.col(weight_col).cast("bigint").alias("__w"),
        )
        .groupBy("__pid")
        .agg(F.sum("__w").alias("w"))
        .collect()
    )
    sums = {r["__pid"]: int(r["w"]) for r in pid_sums}
    offsets: dict[int, int] = {}
    acc = 0
    for pid in sorted(sums):
        offsets[pid] = acc
        acc += sums[pid]

    out_schema = ", ".join(f"{n} {t}" for n, t in s.dtypes) + f", {out_col} long"

    def kernel(batches):
        tc = TaskContext.get()
        base = offsets.get(tc.partitionId(), 0)
        seen = 0
        for pdf in batches:
            pdf = pdf.copy()
            w = pdf[weight_col].to_numpy(dtype="int64")
            csum = w.cumsum()
            pdf[out_col] = base + seen + csum - w  # exclusive prefix
            seen += int(csum[-1]) if len(w) else 0
            yield pdf

    return s.mapInPandas(kernel, schema=out_schema)


def grouped_prefix_sums(
    m: Materialization,
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[str],
    weight_col: str,
    out_col: str = "start",
) -> DataFrame:
    """Assign every row the EXCLUSIVE prefix sum of ``weight_col``
    within its ``group_cols`` group, ordered by ``order_cols`` — the
    per-shard twin of ``global_prefix_sums`` (same scope contract).

    This is the per-shard token-offset primitive of a sharded corpus
    export (per-source packing, per-cluster topical packing): a bare
    ``sum(w) OVER (PARTITION BY group ORDER BY ...)`` puts each whole
    group on ONE task — with a handful of groups over 100 TB that is
    the skew cliff.  Here the heavy data stays range-distributed: the
    GLOBAL prefix sums run over ``group_cols + order_cols`` (groups are
    therefore contiguous spans of the global order), and each group's
    base offset — its first row's global prefix, i.e. ``min`` over the
    group — is a #groups-row aggregate broadcast back and subtracted.
    No per-group window ever materializes a group on one task; the
    only assumption is #groups ≪ #rows (it is a broadcast side).
    """
    g = global_prefix_sums(m, df, [*group_cols, *order_cols], weight_col, out_col="__gstart")
    base = g.groupBy(*group_cols).agg(F.min("__gstart").alias("__base"))
    return (
        g.join(F.broadcast(base), list(group_cols))
        .withColumn(out_col, (F.col("__gstart") - F.col("__base")).cast("long"))
        .drop("__gstart", "__base")
    )
