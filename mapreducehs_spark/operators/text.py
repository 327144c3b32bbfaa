"""Text-analysis operators over the ``documents`` table.

LLM-data-pipeline surface mandated by BASELINE.json (absent in the
reference, SURVEY §2.2 "LLM-pipeline: text analysis").  Everything here
is built-in-function-only (split/regexp/aggregate) so the hot path stays
inside whole-stage codegen — no Python UDFs.

Operators: tokenization + token stats, quality scoring, language-ID
heuristic, n-grams, per-facet term statistics (TF-IDF).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

#: tiny English-ish stopword list used by quality scoring — deliberately
#: deterministic and SQL-expressible so the DuckDB oracle can mirror it.
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization (empty strings filtered)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, r"\s+"), lambda t: t != "")


def bpe_ish_tokens(col: Column | str) -> Column:
    """Sub-word-ish tokenization: alpha runs, digit runs, and single
    punctuation marks — the standard pre-tokenizer regex shape applied
    before BPE merges.  One codegen'd regexp pass per row."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"), 0)


def with_token_stats(df: DataFrame) -> DataFrame:
    """Adds n_tokens, n_chars_obs, avg_token_len, n_distinct_tokens.

    Tokens staged once as a column (split runs once per row, not once
    per derived stat)."""
    staged = df.withColumn("__toks", tokens("text"))
    toks = F.col("__toks")
    return (
        staged.withColumn("n_tokens", F.size(toks).cast("bigint"))
        .withColumn("n_chars_obs", F.length("text").cast("bigint"))
        .withColumn("n_distinct_tokens", F.size(F.array_distinct(toks)).cast("bigint"))
        .withColumn(
            "avg_token_len",
            F.aggregate(toks, F.lit(0.0), lambda acc, t: acc + F.length(t))
            / F.greatest(F.size(toks), F.lit(1)).cast("double"),
        )
        .drop("__toks")
    )


def with_quality_score(df: DataFrame) -> DataFrame:
    """Heuristic quality features + composite score in [0, 1].

    Features: stopword ratio (fluency proxy), punctuation density,
    mean token length sanity, length band.  The composite is a simple
    clipped linear blend — deterministic, tunable, cheap at 100 TB
    (pure column expressions over one pass).
    """
    staged = df.withColumn("__toks", tokens("text"))
    toks = F.col("__toks")
    n_tokens = F.greatest(F.size(toks), F.lit(1)).cast("double")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(stop_arr, F.lower(t))))
    punct_chars = F.length(F.regexp_replace(F.col("text"), r"[^!-/:-@\[-`{-~]", ""))
    text_len = F.greatest(F.length("text"), F.lit(1)).cast("double")

    out = (
        staged.withColumn("stopword_ratio", n_stop.cast("double") / n_tokens)
        .withColumn("punct_ratio", punct_chars.cast("double") / text_len)
        .withColumn(
            "len_band_ok",
            (F.length("text") >= 20) & (F.length("text") <= 100000),
        )
    )
    score = (
        F.lit(0.5)
        + F.least(F.col("stopword_ratio") * 2.0, F.lit(0.25))
        - F.least(F.col("punct_ratio") * 2.0, F.lit(0.25))
        + F.when(F.col("len_band_ok"), 0.25).otherwise(-0.25)
    )
    return out.withColumn(
        "quality_score", F.round(F.least(F.greatest(score, F.lit(0.0)), F.lit(1.0)), 6)
    ).drop("__toks")


def with_lang_guess(df: DataFrame) -> DataFrame:
    """Character-class language-ID heuristic.

    Real lang-ID is an n-gram model; the deterministic, oracle-testable
    core implemented here classifies by script ranges (CJK / Cyrillic /
    Arabic / latin) with an ASCII-stopword tiebreak for latin scripts.
    At 100 TB this is one regexp pass per row, fully codegen'd.
    """
    t = F.col("text")
    n_cjk = F.length(F.regexp_replace(t, r"[^一-鿿]", ""))
    n_cyr = F.length(F.regexp_replace(t, r"[^Ѐ-ӿ]", ""))
    n_ar = F.length(F.regexp_replace(t, r"[^؀-ۿ]", ""))
    n_total = F.greatest(F.length(t), F.lit(1))
    return df.withColumn(
        "lang_guess",
        F.when(n_cjk * 3 > n_total, "zh")
        .when(n_cyr * 3 > n_total, "ru")
        .when(n_ar * 3 > n_total, "ar")
        .otherwise("latin"),
    )


def ngrams(tok_col: Column | str, n: int = 3) -> Column:
    """Word n-grams as space-joined strings from a *materialized* token
    array column.  (Pass a staged column, not an inline split — outer
    expressions inside higher-order-function lambdas re-evaluate per
    element; see operators/dedup.py shingles_of.)"""
    toks = F.col(tok_col) if isinstance(tok_col, str) else tok_col
    idx = F.sequence(F.lit(1), F.greatest(F.size(toks) - (n - 1), F.lit(0)))
    return F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i, n))
    )


def term_stats_by_facet(df: DataFrame) -> DataFrame:
    """Top-5 terms per ``lang`` facet by TF-IDF-ish weight.

    tf = term count within facet; df = #facets containing the term;
    weight = tf * ln((N_facets + 1)/(df + 1)).  One explode + two hash
    aggregations + one window top-k: the canonical scalable shape (the
    explode is the only row blowup and is linear in corpus token count).
    """
    # explode_outer + not-null: plain explode infers size(tokens)>0 and
    # pushes it down with split() inlined — tokenization would run twice
    # (see operators/dedup.py ngram_jaccard_pairs).
    exploded = df.select(
        F.col("lang"), F.explode_outer(tokens("text")).alias("term")
    ).filter(F.col("term").isNotNull())
    tf = exploded.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("tf"))
    n_facets = df.select("lang").distinct().count()
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("facet_df"))
    weighted = tf.join(dfreq, "term").withColumn(
        "tfidf",
        F.round(
            F.col("tf")
            * F.log((F.lit(float(n_facets + 1))) / (F.col("facet_df") + F.lit(1.0))),
            6,
        ),
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("tfidf").desc(), F.col("tf").desc(), F.col("term").asc()
    )
    return (
        weighted.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 5)
        .select("lang", "term", "tf", "facet_df", "tfidf", "rk")
    )


def pack_sequences(df: DataFrame, budget_tokens: int) -> DataFrame:
    """Pack documents into fixed-token-budget training chunks.

    Offset packing: within each ``source`` shard, documents in
    ``doc_id`` order are laid end-to-end and the chunk id is the token
    offset divided by the budget — ``floor((running - n_tok)/budget)``,
    i.e. a chunk is every document whose *start* offset falls in the
    same budget window.  Deterministic, order-stable, one window pass.

    Scale note (100 TB): the running sum partitions by the shard column,
    so parallelism = #shards and no global sort exists.  Packing
    globally (a single total order) would serialize the window into one
    task; sharded packing is what a real pipeline does anyway (chunks
    never span input shards).  Returns per-chunk stats.
    """
    staged = df.select(
        F.col("source"), F.col("doc_id"), F.size(tokens("text")).cast("bigint").alias("n_tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    chunked = staged.withColumn(
        "chunk_id",
        F.floor((F.sum("n_tok").over(w) - F.col("n_tok")) / float(budget_tokens)).cast(
            "bigint"
        ),
    )
    return chunked.groupBy("source", "chunk_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("tok_total"),
        F.min("doc_id").alias("first_doc"),
        F.max("doc_id").alias("last_doc"),
    )


def normalize_text(col: Column | str) -> Column:
    """Normalization pass: lowercase, drop stopwords, collapse runs of
    whitespace, trim.  Pure regexp — whole-stage codegen, and exactly
    mirrorable in a SQL oracle (RE2 and Java regex agree on this
    pattern subset)."""
    c = F.col(col) if isinstance(col, str) else col
    pat = r"\b(" + "|".join(STOPWORDS) + r")\b"
    return F.trim(F.regexp_replace(F.regexp_replace(F.lower(c), pat, " "), r"\s+", " "))


def ngram_hash_rows(df: DataFrame) -> DataFrame:
    """One row per overlapping word-2-gram OCCURRENCE (multiset — unlike
    the dedup module's distinct shingle sets), the 2-gram as a 64-bit
    hash: (id, carry, gram).

    Arrow-batched numpy kernel, same rationale as
    operators/dedup.hashed_shingle_rows: Spark's array higher-order
    functions run interpreted (CodegenFallback) and the optimizer
    inlines staged token arrays into per-element lambdas — measured
    ~6 s for the 2-gram explode at sf0.1 vs <1 s for this kernel.
    Scan-shaped, no shuffle; downstream counting is hash-keyed
    (collision-safe at the birthday bound for any per-doc scope).
    """
    import numpy as np
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            ids: list[int] = []
            carries: list[str] = []
            counts: list[int] = []
            grams: list[str] = []
            for di, cv, txt in zip(
                pdf["id"].values, pdf["__carry"].values, pdf["__text"].values
            ):
                toks = txt.split()
                m = len(toks) - 1
                if m <= 0:
                    continue
                ids.append(di)
                carries.append(cv)
                counts.append(m)
                grams.extend(" ".join(toks[j : j + 2]) for j in range(m))
            if not ids:
                yield pd.DataFrame(
                    {
                        "id": np.empty(0, dtype="int64"),
                        "carry": np.empty(0, dtype=object),
                        "gram": np.empty(0, dtype="int64"),
                    }
                )
                continue
            c = np.asarray(counts, dtype="int64")
            h = pd.util.hash_array(np.array(grams, dtype=object)).view("int64")
            yield pd.DataFrame(
                {
                    "id": np.repeat(np.asarray(ids, dtype="int64"), c),
                    "carry": np.repeat(np.array(carries, dtype=object), c),
                    "gram": h,
                }
            )

    par = df.sparkSession.sparkContext.defaultParallelism
    staged = df.select(
        F.col("doc_id").alias("id"),
        F.col("lang").alias("__carry"),
        F.col("text").alias("__text"),
    ).repartition(par)
    return staged.mapInPandas(kernel, "id long, carry string, gram long")


def boilerplate_ngrams(
    df: DataFrame,
    n: int = 5,
    min_doc_frac: float = 0.05,
    top_k: int = 20,
) -> DataFrame:
    """Corpus-wide boilerplate detector: word ``n``-grams ranked by
    DOCUMENT frequency (how many distinct docs contain them), keeping
    those above ``min_doc_frac`` of the corpus, top ``top_k`` overall.

    High-doc-frequency long n-grams are headers/footers/templates — the
    removal list a web-scale cleaning pipeline derives first.  Shape:
    tokens staged once, n-grams per doc DISTINCT'd array-side (cheap,
    in-memory per row) so the explode emits each (doc, gram) once, then
    ONE hash aggregation on the gram string and a global top-k via
    ordered limit.  The gram aggregation key could be xxhash64-folded at
    100 TB to keep shuffle rows narrow; kept as text here because the
    output IS the removal list.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    staged = (
        df.select(F.col("doc_id").alias("id"), F.col("text").alias("__text"))
        .repartition(par)
        .select("id", tokens(F.col("__text")).alias("__toks"))
        .filter(F.size("__toks") >= n)
    )
    n_docs = df.count()
    exploded = staged.select(
        "id", F.explode_outer(F.array_distinct(ngrams("__toks", n))).alias("gram")
    ).filter(F.col("gram").isNotNull())
    dfreq = exploded.groupBy("gram").agg(F.count(F.lit(1)).alias("doc_freq"))
    return (
        dfreq.filter(F.col("doc_freq") >= float(min_doc_frac) * n_docs)
        .select(
            "gram",
            "doc_freq",
            F.round(F.col("doc_freq") / F.lit(float(n_docs)), 6).alias("doc_frac"),
        )
        .orderBy(F.col("doc_freq").desc(), F.col("gram").asc())
        .limit(top_k)
    )


# ---------------------------------------------------------------------------
# PII redaction (training-data compliance scrub)
# ---------------------------------------------------------------------------

#: (label, pattern, replacement) — applied in order.  Patterns stick to
#: the regex subset shared by Java (Spark) and RE2 (DuckDB): character
#: classes, \d, bounded repetition; no backrefs or lookaround, so the
#: oracle replays the cascade verbatim.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?\d{1,3}-\d{3}-\d{4}", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def redact_pii(col: Column | str) -> Column:
    """Cascaded PII redaction: emails → phones → IPv4 literals, each a
    codegen'd regexp_replace pass (3 passes per row, no Python).  Order
    matters — emails are scrubbed before the phone pass so digit runs
    inside addresses can't half-match.  At 100 TB this is one narrow
    projection over the corpus scan; the patterns are conservative
    (over-redaction is the safe failure mode for training data)."""
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, repl in PII_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return c


def pii_counts(col: Column | str) -> dict[str, Column]:
    """Per-row match counts for each PII pattern (pre-redaction)."""
    c = F.col(col) if isinstance(col, str) else col
    return {label: F.regexp_count(c, F.lit(pat)) for label, pat, _ in PII_PATTERNS}


# ---------------------------------------------------------------------------
# Document chunking (RAG / context-window preparation)
# ---------------------------------------------------------------------------


def chunk_documents(df: DataFrame) -> DataFrame:
    """Sliding-window token chunking with overlap: chunk ``i`` covers
    tokens [i*48, i*48 + 64).  The standard RAG / long-context
    preparation step — the 16-token overlap keeps boundary sentences
    retrievable from both sides.

    Emits (id, chunk_id, n_chunk_tokens, chunk_text).  All array-side:
    one split per row, a sequence+transform to slice windows, one
    explode — linear in token count, no shuffle at all (chunking is
    embarrassingly parallel; the explode fission is why this scales to
    100 TB: each output chunk row is independent downstream).
    """
    staged = df.select(
        F.col("doc_id").alias("id"), tokens("text").alias("__toks")
    ).filter(F.size("__toks") > 0)
    n = F.size("__toks")
    # number of windows: 1 + ceil(max(n - 64, 0) / 48)
    n_chunks = F.lit(1) + F.ceil(F.greatest(n - 64, F.lit(0)) / F.lit(48)).cast("int")
    windows = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("bigint").alias("chunk_id"),
            F.slice(F.col("__toks"), i * 48 + 1, 64).alias("toks"),
        ),
    )
    ex = staged.select("id", F.explode_outer(windows).alias("c")).filter(
        F.col("c").isNotNull()
    )
    return ex.select(
        "id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.size("c.toks").cast("bigint").alias("n_chunk_tokens"),
        F.concat_ws(" ", F.col("c.toks")).alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# BPE merge learning (iterative tokenizer-vocabulary induction)
# ---------------------------------------------------------------------------


def bpe_adjacent_pairs(sym_col: Column | str) -> Column:
    """All adjacent symbol pairs of a symbol-array column, as structs
    (a, b).  Overlapping pairs included — the BPE counting convention."""
    s = F.col(sym_col) if isinstance(sym_col, str) else sym_col
    return F.arrays_zip(
        F.slice(s, 1, F.greatest(F.size(s) - 1, F.lit(0))).alias("a"),
        F.slice(s, 2, F.greatest(F.size(s) - 1, F.lit(0))).alias("b"),
    )


def bpe_merge_steps(
    docs: DataFrame,
    iters: int = 3,
    with_vocab: bool = True,
) -> list[tuple[int, str, str, int, int]]:
    """Learn ``iters`` BPE merges over whitespace symbols; returns
    [(iter, pair_a, pair_b, pair_count, vocab_after)].

    Per iteration (the classic Sennrich et al. 2016 loop, distributed):
      1. count adjacent symbol pairs corpus-wide — one explode + one
         partial-aggregatable count shuffle keyed on the PAIR (narrow);
      2. argmax pair with (count desc, a asc, b asc) tiebreak — a
         driver-side collect of exactly ONE row (s05 discipline: the
         driver holds the model, never the data);
      3. merge corpus-wide: left-to-right non-overlapping replacement
         of ``" a b "`` with ``" a_b "`` over the space-joined symbol
         string — a single codegen'd literal `replace` per row.

    Merge semantics note: the delimiter-consuming string replace skips
    a pair that starts immediately after a replaced occurrence
    ("x y x y" merges once, textbook BPE merges twice).  This variant
    is deterministic and IDENTICALLY defined in Spark and DuckDB
    (both scan left-to-right, non-overlapping), which is what makes
    the whole iterative loop value-checkable by an engine-independent
    oracle — the trade the checked twins d11/s06 make too.

    The mutable corpus state (the merged symbol string) stays a Spark
    column; each iteration's lineage grows by one `replace`, so ``iters``
    stays small (tokenizer vocab induction runs a bounded merge budget).
    """
    state = docs.select(
        F.concat(F.lit(" "), F.concat_ws(" ", tokens("text")), F.lit(" ")).alias("s")
    )

    def _vocab_leg(st: DataFrame) -> DataFrame:
        return (
            st.select(
                F.explode_outer(
                    F.filter(F.split(F.trim(F.col("s")), " "), lambda t: t != "")
                ).alias("t")
            )
            .filter(F.col("t").isNotNull())
            .agg(F.count_distinct("t").cast("long").alias("n"))
            .select(
                F.lit("v").alias("k"),
                F.lit(None).cast("string").alias("a"),
                F.lit(None).cast("string").alias("b"),
                F.col("n"),
            )
        )

    out: list[tuple[int, str, str, int, int]] = []
    # the merge just taken, awaiting its vocab count: (it, a, b, cnt).
    # Round 12: iteration i's vocab_after and iteration i+1's pair
    # argmax both scan the SAME merged state, so they ride ONE driver
    # action (a 2-row union collect) — 2 actions/iteration -> 1, with
    # only the final vocab count left as its own job (guide §2.6).
    # Encode-only callers (t22/t48 via _t22_syms) pass with_vocab=False
    # and skip the vocab legs entirely (vocab_after = -1, never read).
    pending: tuple[int, str, str, int] | None = None
    for it in range(1, iters + 1):
        syms = F.filter(F.split(F.trim(F.col("s")), " "), lambda t: t != "")
        pairs = state.select(F.explode_outer(bpe_adjacent_pairs(syms)).alias("p")).filter(
            F.col("p").isNotNull()
        )
        pair_leg = (
            pairs.groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.col("cnt").desc(), F.col("a").asc(), F.col("b").asc())
            .limit(1)
            .select(F.lit("p").alias("k"), "a", "b", F.col("cnt").cast("long").alias("n"))
        )
        if with_vocab and pending is not None:
            rows = pair_leg.unionByName(_vocab_leg(state)).collect()
        else:
            rows = pair_leg.collect()
        vrow = next((r for r in rows if r["k"] == "v"), None)
        prow = next((r for r in rows if r["k"] == "p"), None)
        if pending is not None:
            if vrow is not None:
                out.append((*pending, int(vrow["n"])))
                pending = None
            elif not with_vocab:
                out.append((*pending, -1))
                pending = None
        if prow is None:
            break
        a, b, cnt = prow["a"], prow["b"], int(prow["n"])
        state = state.select(
            F.replace(F.col("s"), F.lit(f" {a} {b} "), F.lit(f" {a}_{b} ")).alias("s")
        )
        pending = (it, a, b, cnt)
    if pending is not None:
        if with_vocab:
            vocab_after = int(_vocab_leg(state).collect()[0]["n"])
        else:
            vocab_after = -1
        out.append((*pending, vocab_after))
    return out


def micro_ln_udf():
    """``floor(1e6 * ln(x))`` with the log evaluated by the C library
    (``math.log``) instead of the JVM intrinsic.

    The micro-nat laws (t17/t23/t24) floor-quantize a natural log: the
    IEEE spec does NOT require correctly-rounded ``ln``, and the JVM's
    and DuckDB's (glibc) implementations disagree by an ulp on some
    inputs — enough to flip the floor when 1e6*ln(x) sits within ~4e-9
    of an integer.  Invisible at test scale, it surfaced in the 10x
    sf1 sweep (t17: one vocabulary term hit the boundary).  Routing
    the log through CPython's ``math.log`` pins both engines to the
    SAME shared libm on any single host, which is the strongest
    invariant available for a transcendental.  Apply on
    vocabulary-sized frames only (it is an Arrow round trip); the
    RATIO must be computed JVM-side in double first — IEEE division is
    exactly specified, so the udf's input is bit-identical to the
    oracle's.
    """
    import math

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def _micro_ln(x: pd.Series) -> pd.Series:
        return pd.Series([math.floor(1e6 * math.log(v)) for v in x], dtype="int64")

    return _micro_ln
