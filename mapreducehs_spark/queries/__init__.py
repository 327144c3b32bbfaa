"""Declared query inventory + DuckDB oracle SQL.

Every operator family from SURVEY.md §2 (reference operator rows O1-O19
and the absent-category checklist §2.2) is witnessed by at least one
query here.  Each entry is a callable ``(spark, sf_dir) -> DataFrame``
registered in ``QUERIES``; SQL-expressible ones also register the
equivalent DuckDB SQL in ``ORACLE`` (identical column names — the
driver's hash compare sorts columns by name).

Determinism discipline (FIXTURES.md "Oracle discipline"):
- no raw ``events.ts`` in outputs (parquet is ns; Spark truncates to µs)
  — bucketed/epoch-second values only; ``orders``/``lineitem``
  timestamps are ms and safe, but are still emitted as formatted
  strings to avoid tz-representation drift.
- every float output rounded; every ranking totally ordered (explicit
  tiebreak columns); sums of integers cast to BIGINT on the DuckDB side
  (DuckDB widens to HUGEINT).

The package exports only the registries and ``query``; helpers live in
their family module (``_shared`` for the cross-family ones) and are
imported from there.
"""

from mapreducehs_spark.queries import (  # noqa: F401  (import order = registration order)
    q_core,
    q_ext,
    p_pipeline,
    d_dedup,
    s_similarity,
    t_text,
    m_multimodal,
    st_streaming,
)
from mapreducehs_spark.queries._registry import (  # noqa: F401
    ORACLE,
    QUERIES,
    STAGED_ORACLE,
    query,
)
