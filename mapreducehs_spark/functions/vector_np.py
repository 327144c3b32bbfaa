"""Arrow-vectorized (numpy) vector math for the ANN hot paths.

The JVM-side helpers in ``functions/vector.py`` are built on Spark's
higher-order functions — convenient and shuffle-free, but HOFs are
evaluated INTERPRETED (they are CodegenFallback expressions, outside
whole-stage codegen), costing ~µs per array element.  For plans that
evaluate many dot products per row (IVF cell assignment = n_cells dots
per vector), that interpretation overhead dominates; measured 8x+ on
the embeddings table.

These pandas UDFs move the arithmetic to numpy over Arrow batches: one
BLAS matmul per batch instead of per-element expression interpretation.
This is the documented exception to "stay JVM-side" — vectorized Arrow
UDFs for numeric kernels the SQL expression language can't express
efficiently.

Oracle note: numpy reductions use pairwise/SIMD summation, whose
floating-point addition ORDER differs from a sequential SQL fold.
Oracle-matched queries (s01) keep the sequential JVM fold; these
kernels serve the rows-only ANN/clustering paths.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, IntegerType


def _stack(series: pd.Series) -> np.ndarray:
    """Arrow array column → (batch, dim) float64 matrix.

    Each cell arrives as a numpy array; np.stack avoids the per-element
    Python-object round trip of ``Series.tolist()``.
    """
    return np.stack(series.to_numpy()).astype(np.float64, copy=False)


def cell_argmax_udf(centroids: np.ndarray):
    """UDF: unit-normalized centroid matrix → per-vector best cell id.

    One (batch × dim) @ (dim × n_cells) matmul per Arrow batch.
    Return types are DataType instances, not DDL strings — string
    parsing requires an active SparkContext, which would make importing
    this module before session creation fail.
    """
    cents = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64).T)

    @pandas_udf(IntegerType())
    def best_cell(vecs: pd.Series) -> pd.Series:
        m = _stack(vecs)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        np.divide(m, norms, out=m, where=norms > 0)
        return pd.Series(np.argmax(m @ cents, axis=1).astype(np.int32))

    return best_cell


def top_cells_udf(centroids: np.ndarray, n_probe: int):
    """UDF: per-vector array of the ``n_probe`` best cell ids."""
    cents = np.ascontiguousarray(np.asarray(centroids, dtype=np.float64).T)

    @pandas_udf(ArrayType(IntegerType()))
    def top_cells(vecs: pd.Series) -> pd.Series:
        m = _stack(vecs)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        np.divide(m, norms, out=m, where=norms > 0)
        scores = m @ cents
        top = np.argsort(-scores, axis=1)[:, :n_probe].astype(np.int32)
        return pd.Series(list(top))

    return top_cells


@pandas_udf(DoubleType())
def cosine_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Row-wise cosine of two array columns (batch einsum)."""
    ma, mb = _stack(a), _stack(b)
    num = np.einsum("ij,ij->i", ma, mb)
    den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
    out = np.where(den > 0, num / np.where(den > 0, den, 1.0), 0.0)
    return pd.Series(out)


def srp_band_keys_udf(planes: np.ndarray, bands: int):
    """UDF: per-vector array of banded SRP-LSH keys, band index folded
    into the key (band i spans planes [i*bits, (i+1)*bits), plane t in
    a band contributes 2^t, key offset i*2^bits).

    One (batch × dim) @ (dim × n_planes) matmul + bit-pack per Arrow
    batch.  The expression-language form (16 `aggregate` dots summed
    into a signature, re-sliced per band) is interpreted AND gets the
    whole signature inlined into every band-key projection by
    CollapseProject — measured ~6x the whole ANN query.
    """
    from pyspark.sql.types import LongType

    P = np.ascontiguousarray(np.asarray(planes, dtype=np.float64).T)
    n_planes = P.shape[1]
    bits = n_planes // bands
    weights = 1 << np.arange(bits, dtype=np.int64)
    offsets = np.arange(bands, dtype=np.int64) * (1 << bits)

    @pandas_udf(ArrayType(LongType()))
    def band_keys(vecs: pd.Series) -> pd.Series:
        m = _stack(vecs)
        signs = (m @ P) > 0
        vals = signs.reshape(len(m), bands, bits) @ weights
        return pd.Series(list(vals + offsets))

    return band_keys


def quantize_udf():
    """UDF: array<float> → array<long> int8-style scalar quantization.

    Per-vector symmetric quantization: ``q[i] = floor(x[i]/s * 127
    + 0.5)`` with ``s = max|x|`` — every op (float32→float64 widening,
    divide, multiply, add, floor) is an exactly-specified IEEE-754
    double op, so an engine-independent oracle reproduces the codes
    bit-for-bit (unlike any "round half to even vs away" builtin).
    Zero vectors quantize to zeros.
    """
    from pyspark.sql.types import LongType

    @pandas_udf(ArrayType(LongType()))
    def quantize(vecs: pd.Series) -> pd.Series:
        m = _stack(vecs)
        s = np.abs(m).max(axis=1, keepdims=True)
        q = np.floor(np.divide(m, s, out=np.zeros_like(m), where=s > 0) * 127.0 + 0.5)
        return pd.Series(list(q.astype(np.int64)))

    return quantize


@pandas_udf(DoubleType())
def int_cosine_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Cosine over integer-quantized code arrays.

    Integer dots/norms are exact in float64 (|q| ≤ 127, dim ≤ 2^38
    before 2^53 overflows); the one inexact op is the final
    dot/sqrt(n_a*n_b) — identical in any IEEE engine, so quantized
    scores value-check exactly where float-vector cosines only
    round-check."""
    ma, mb = _stack(a), _stack(b)
    num = np.einsum("ij,ij->i", ma, mb)
    den = np.sqrt(np.einsum("ij,ij->i", ma, ma) * np.einsum("ij,ij->i", mb, mb))
    return pd.Series(np.where(den > 0, num / np.where(den > 0, den, 1.0), 0.0))
