"""JVM-side dot product over ``array<float>`` columns.

``dot_product`` folds with Spark's higher-order functions (``zip_with``,
``aggregate``); ``operators/similarity.srp_signatures`` uses it to take
the sign of each row's projection on a random hyperplane.  Caveat
learned by measurement: HOFs are CodegenFallback expressions — they
evaluate INTERPRETED, outside whole-stage codegen, ~µs per array
element.  That is fine for O(1) dot products per row, and it keeps
results bit-identical to a sequential SQL fold (the DuckDB oracle).
Cosine scoring and any plan needing many dot products per row (IVF
cell assignment) run in the Arrow/numpy kernels of
``functions/vector_np.py`` (``cosine_udf``, ``cell_argmax_udf``).
(The reference engine has no vector ops; these support the
LLM-pipeline similarity operators mandated by BASELINE.json.)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dot_product(a: Column | str, b: Column | str) -> Column:
    """Elementwise product summed: ``sum_i a[i]*b[i]`` (double)."""
    a, b = F.col(a) if isinstance(a, str) else a, F.col(b) if isinstance(b, str) else b
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
