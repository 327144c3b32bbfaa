"""Shared helpers + oracle CTE fragments used by 2+ query families."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreducehs_spark.operators import dedup, text
from mapreducehs_spark.sources.catalog import load_table


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _minhash_banded_ctes() -> tuple[str, str, int]:
    """Shared CTE prefix (shingles → md5-fold ids → literal-seed
    signatures → banding, ending at ``banded``) rendered from the SAME
    seed constants the Spark operator uses
    (operators/dedup.minhash_check_seeds) — parity by construction.
    Returns (cte_body, agree_expr, num_perm); the caller appends its
    candidate join (``_minhash_checked_ctes`` the self-join, d26 the
    bipartite train/eval one) and its tail.  CTEs read more than once
    (here or by a tail) are ``AS MATERIALIZED``: DuckDB 1.0 otherwise
    inlines a CTE and recomputes it at every reference (FIXTURES.md,
    oracle capacity rules)."""
    from mapreducehs_spark.operators.dedup import (
        MINHASH_CHECK_BANDS,
        MINHASH_CHECK_NUM_PERM,
        minhash_check_seeds,
    )

    a, b = minhash_check_seeds()
    np_, nb = MINHASH_CHECK_NUM_PERM, MINHASH_CHECK_BANDS
    rows = np_ // nb
    mins = ",\n             ".join(
        f"min(({a[i]}*x + {b[i]}) % 2147483647) AS m{i}" for i in range(np_)
    )
    bkeys = ", ".join(
        "concat_ws('_', "
        + ", ".join(f"m{bi * rows + r}" for r in range(rows))
        + f") AS bk{bi}"
        for bi in range(nb)
    )
    unions = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, bk{bi} AS bk FROM bandcols" for bi in range(nb)
    )
    agree = " + ".join(f"CASE WHEN sa.m{i} = sb.m{i} THEN 1 ELSE 0 END" for i in range(np_))
    ctes = f"""toks AS (
      SELECT doc_id, list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '') AS t
      FROM documents
    ), pos AS (
      SELECT doc_id, t, unnest(range(1, greatest(len(t) - 2, 0) + 1)) AS i FROM toks
    ), sh AS MATERIALIZED (
      SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS s FROM pos
    ), ids AS (
      SELECT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647 AS x FROM sh
    ), sigs AS MATERIALIZED (
      SELECT doc_id, {mins}
      FROM ids GROUP BY doc_id
    ), bandcols AS MATERIALIZED (
      SELECT doc_id, {bkeys} FROM sigs
    ), banded AS MATERIALIZED ({unions})"""
    return ctes, agree, np_


def _minhash_checked_ctes() -> tuple[str, str, int]:
    """``_minhash_banded_ctes`` plus the candidate pairs ``cand``
    (id_a < id_b sharing a band key); d11 and d15 append different
    tails."""
    ctes, agree, np_ = _minhash_banded_ctes()
    ctes += """,
    cand AS MATERIALIZED (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM banded a JOIN banded b ON a.band = b.band AND a.bk = b.bk AND a.doc_id < b.doc_id
    )"""
    return ctes, agree, np_


def _d11_oracle(threshold: float = 0.25) -> str:
    """Checked-MinHash pair oracle; ``threshold`` must be a dyadic
    rational (k/32 boundary-exact in double) so both engines compare
    identically — 0.25 for d11, 0.375 for d03."""
    ctes, agree, np_ = _minhash_checked_ctes()
    return f"""
    WITH {ctes}
    SELECT c.id_a, c.id_b, round(({agree}) / {float(np_)}, 6) AS est_jaccard
    FROM cand c JOIN sigs sa ON sa.doc_id = c.id_a JOIN sigs sb ON sb.doc_id = c.id_b
    WHERE ({agree}) / {float(np_)} >= {threshold}
    """


def _d15_oracle(jaccard_threshold: float = 0.5) -> str:
    """d15/d07: the full composed drop list — checked-minhash candidates
    (shared CTEs) → exact string-shingle Jaccard ≥ ``jaccard_threshold``
    → recursive-CTE connected components → drop everything but the
    min-id representative.  d15 renders (0.25, 0.5); d07 the stricter
    (0.25, 0.6)."""
    ctes, agree, np_ = _minhash_checked_ctes()
    return f"""
    WITH RECURSIVE {ctes},
    est AS (
      SELECT c.id_a, c.id_b
      FROM cand c JOIN sigs sa ON sa.doc_id = c.id_a JOIN sigs sb ON sb.doc_id = c.id_b
      WHERE ({agree}) / {float(np_)} >= 0.25
    ), sized AS MATERIALIZED (
      SELECT doc_id, count(*) AS set_size FROM sh GROUP BY 1
    ), inter AS (
      SELECT e.id_a, e.id_b, count(*) AS inter
      FROM est e
      JOIN sh a ON a.doc_id = e.id_a
      JOIN sh b ON b.doc_id = e.id_b AND b.s = a.s
      GROUP BY 1, 2
    ), p AS MATERIALIZED (
      SELECT id_a, id_b
      FROM inter
      JOIN sized za ON za.doc_id = id_a
      JOIN sized zb ON zb.doc_id = id_b
      WHERE inter / CAST(za.set_size + zb.set_size - inter AS DOUBLE) >= {jaccard_threshold}
    ), edges AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM p
      UNION
      SELECT id_b, id_a FROM p
    ), reach(src, dst) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT e.src, r.dst FROM edges e JOIN reach r ON e.dst = r.src
    )
    SELECT src AS doc_id, CAST(min(dst) AS BIGINT) AS rep_id
    FROM reach
    GROUP BY src
    HAVING src != min(dst)
    """


#: d20/t27's shared quality-dominance rule: the SINGLE definition of
#: "which member of a near-dup pair is dropped" (shorter n_chars; ties →
#: higher doc_id) — threshold, tiebreak, and rule live here once.
_QUALITY_DROP_THRESHOLD = 0.25


def _quality_losers_ctes() -> str:
    """Oracle CTE chain: d11 checked candidates → dominance losers.
    Emits CTEs `pairs`, `meta`, `losers` (plus d11's own); used by both
    _d20_oracle and _t27_oracle so the drop rule cannot fork."""
    ctes, agree, np_ = _minhash_checked_ctes()
    return f"""{ctes}
    , pairs AS (
      SELECT c.id_a, c.id_b
      FROM cand c JOIN sigs sa ON sa.doc_id = c.id_a JOIN sigs sb ON sb.doc_id = c.id_b
      WHERE ({agree}) / {float(np_)} >= {_QUALITY_DROP_THRESHOLD}
    ), meta AS (
      SELECT doc_id, source, n_chars FROM documents
    ), losers AS (
      SELECT DISTINCT CASE
               WHEN ma.n_chars < mb.n_chars THEN p.id_a
               WHEN ma.n_chars > mb.n_chars THEN p.id_b
               ELSE greatest(p.id_a, p.id_b)
             END AS doc_id
      FROM pairs p
      JOIN meta ma ON ma.doc_id = p.id_a
      JOIN meta mb ON mb.doc_id = p.id_b
    )"""


def _quality_losers(docs: DataFrame) -> DataFrame:
    """Spark twin of _quality_losers_ctes: (doc_id, __dropped=1) rows
    for every pair-dominated document.  Candidates come from d11's
    banded LSH (never all-pairs); the quality lookup joins the
    candidate frame (≪ corpus) against the narrow (doc_id, n_chars)
    projection."""
    pairs = dedup.minhash_lsh_pairs_checked(
        docs, est_threshold=_QUALITY_DROP_THRESHOLD
    ).select("id_a", "id_b")
    ma = docs.select(F.col("doc_id").alias("id_a"), F.col("n_chars").alias("ca"))
    mb = docs.select(F.col("doc_id").alias("id_b"), F.col("n_chars").alias("cb"))
    return (
        pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.when(F.col("ca") < F.col("cb"), F.col("id_a"))
            .when(F.col("ca") > F.col("cb"), F.col("id_b"))
            .otherwise(F.greatest(F.col("id_a"), F.col("id_b")))
            .alias("doc_id")
        )
        .distinct()
        .withColumn("__dropped", F.lit(1))
    )


#: t26's oracle — shared verbatim by st17's streaming replay of the
#: same inference law (stream == batch, the st13/st15 discipline).
_T26_ORACLE = """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != '')) AS term
      FROM documents
    ), feats AS (
      SELECT doc_id,
             ('0x' || substr(md5(term), 1, 12))::BIGINT % 4096 AS bucket
      FROM toks
    ), weights AS (
      SELECT b.b AS bucket, (b.b * 2654435761) % 1000 - 500 AS w
      FROM (SELECT unnest(range(0, 4096)) AS b) b
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_feats,
           CAST(sum(w) AS BIGINT) AS score,
           sum(w) > 0 AS keep
    FROM feats JOIN weights USING (bucket)
    GROUP BY doc_id
    """


_Q115_FUNNEL_ORACLE = """
    WITH s1 AS (
      SELECT user_id, min(epoch(ts)) AS t1
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ), s2 AS (
      SELECT e.user_id, min(epoch(e.ts)) AS t2
      FROM events e JOIN s1 ON s1.user_id = e.user_id
      WHERE e.event_type = 'click' AND epoch(e.ts) > s1.t1
      GROUP BY e.user_id
    ), s3 AS (
      SELECT e.user_id, min(epoch(e.ts)) AS t3
      FROM events e JOIN s2 ON s2.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND epoch(e.ts) > s2.t2
      GROUP BY e.user_id
    ), funnel AS (
      SELECT s1.user_id, s1.t1, s2.t2, s3.t3
      FROM s1 LEFT JOIN s2 ON s2.user_id = s1.user_id
              LEFT JOIN s3 ON s3.user_id = s1.user_id
    )
    SELECT CAST(count(*) AS BIGINT) AS n_viewed,
           CAST(count(t2) AS BIGINT) AS n_clicked,
           CAST(count(t3) AS BIGINT) AS n_purchased,
           CAST(count(CASE WHEN t3 - t1 <= 86400 THEN 1 END) AS BIGINT)
             AS n_completed_1d,
           CAST(count(t3) * 1000000 // count(*) AS BIGINT) AS conv_micro
    FROM funnel
    """


#: t30/st19's shared mixture law, ONE definition (the d20/_quality_losers
#: discipline): per-source token totals → uniform-capped targets → ppm
#: acceptance rates → salted md5-fold per-doc draws.
_MIX_CTES = """
    tok AS (
      SELECT doc_id, source,
             CAST(len(list_filter(regexp_split_to_array(text, '\\s+'), x -> x != ''))
                  AS BIGINT) AS n_tokens
      FROM documents
    ), src AS (
      SELECT source, CAST(sum(n_tokens) AS BIGINT) AS tokens_total
      FROM tok GROUP BY source
    ), tot AS (
      SELECT CAST(sum(tokens_total) AS BIGINT) AS total_tokens,
             CAST(count(*) AS BIGINT) AS n_sources
      FROM src
    ), rates AS (
      SELECT s.source, s.tokens_total,
             CAST(least(s.tokens_total, t.total_tokens // t.n_sources) AS BIGINT)
               AS target_tokens,
             CAST((least(s.tokens_total, t.total_tokens // t.n_sources) * 1000000)
                  // s.tokens_total AS BIGINT) AS accept_ppm
      FROM src s, tot t
    ), draws AS (
      SELECT doc_id, source, n_tokens,
             ('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 12))::BIGINT
               % 1000000 AS draw
      FROM tok
    )"""


def _mixture_tok(docs: DataFrame) -> DataFrame:
    """(doc_id, source, n_tokens) — the narrow mixture projection."""
    return docs.select(
        "doc_id", "source", F.size(text.tokens("text")).cast("bigint").alias("n_tokens")
    )


def _mixture_rates(tok: DataFrame) -> DataFrame:
    """(source, tokens_total, target_tokens, accept_ppm) — the
    data-dependent uniform-capped mixture rates.  Totals via an
    unpartitioned window over the ALREADY-AGGREGATED n_sources-row
    frame (bounded: domains, not docs — the single partition holds
    n_sources rows, never corpus rows), so building rates costs ONE
    corpus scan + one tiny shuffle."""
    src = tok.groupBy("source").agg(
        F.sum("n_tokens").cast("bigint").alias("tokens_total")
    )
    everything = Window.partitionBy()
    return (
        src.select(
            "source",
            "tokens_total",
            F.sum("tokens_total").over(everything).cast("bigint").alias("total_tokens"),
            F.count(F.lit(1)).over(everything).cast("bigint").alias("n_sources"),
        )
        .select(
            "source",
            "tokens_total",
            F.least(
                F.col("tokens_total"), F.expr("total_tokens div n_sources")
            ).cast("bigint").alias("target_tokens"),
        )
        .select(
            "source",
            "tokens_total",
            "target_tokens",
            F.expr("cast((target_tokens * 1000000L) div tokens_total as bigint)").alias(
                "accept_ppm"
            ),
        )
    )


def _pack_sequences(starts: DataFrame, keys: list[str], ctx: int, n_name: str) -> DataFrame:
    """t40's packing law, shared by t40, t46 and m18: each row of
    *starts* (*keys*, doc_id, width ``w`` with its separator, global
    offset ``start`` within its *keys* group) explodes into the
    *ctx*-position windows it overlaps, and each (*keys*, seq_id)
    window reports its row count (named *n_name*), doc span, EOS
    boundaries, filled positions (interval intersection) and fill rate
    in integer micro-units."""
    C = ctx
    x = starts.select(
        *keys,
        "doc_id",
        "w",
        "start",
        F.explode_outer(
            F.expr(f"sequence(start div {C}, (start + w - 1) div {C})")
        ).alias("seq_id"),
    ).filter(F.col("seq_id").isNotNull())
    fill = F.least(
        F.col("start") + F.col("w"), (F.col("seq_id") + 1) * C
    ) - F.greatest(F.col("start"), F.col("seq_id") * C)
    return (
        x.select(
            *keys,
            "doc_id",
            "seq_id",
            fill.alias("__fill"),
            (F.expr(f"(start + w - 1) div {C}") == F.col("seq_id"))
            .cast("bigint")
            .alias("__eos"),
        )
        .groupBy(*keys, "seq_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias(n_name),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
            F.sum("__eos").cast("bigint").alias("n_eos"),
            F.sum("__fill").cast("bigint").alias("n_fill"),
        )
        .select(
            *keys,
            "seq_id",
            n_name,
            "first_doc",
            "last_doc",
            "n_eos",
            "n_fill",
            F.expr(f"cast((n_fill * 1000000L) div {C} as bigint)").alias(
                "fill_micro"
            ),
        )
    )
