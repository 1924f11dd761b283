"""Vector column functions over ``array<float|double>`` embeddings.

Three tiers, fastest first:

- **Arrow-vectorized pandas UDFs** (:func:`vec_dot`, :func:`vec_norm`,
  :func:`band_buckets`): numpy BLAS over whole Arrow batches — the hot
  path for O(n·q) / O(n²) pair scoring.  ~10-100× the per-row JVM
  expression tree on wide vectors, because the work is one GEMM/einsum per
  batch instead of `dim` scalar ops per row.
- **Unrolled fixed-dim expressions** (``*_fixed``): whole-stage-codegen'd
  JVM scalar sums; fine for narrow vectors in simple projections, but the
  generated method exceeds janino's 64 KB limit near dim≈64 and falls back
  to interpretation — which is why the pandas tier exists.
- **Higher-order functions** (``dot``/``l2_norm``): dimension-agnostic,
  interpreted per row; kept for API completeness and tiny inputs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = [
    "dot",
    "l2_norm",
    "cosine_similarity",
    "dot_fixed",
    "l2_norm_fixed",
    "cosine_similarity_fixed",
    "infer_dim",
    "vec_dot",
    "vec_norm",
    "band_buckets",
    "int_band_buckets",
    "int8_quant_pd",
]


def _mat(s: pd.Series) -> np.ndarray:
    """Arrow batch of array<float|double> -> (n, dim) float64 matrix."""
    return np.stack(s.to_numpy()).astype(np.float64, copy=False)


def vec_dot(a: Column | str, b: Column | str) -> Column:
    """Batch dot product via numpy einsum (Arrow-vectorized)."""

    @F.pandas_udf(T.DoubleType())
    def _dot(x: pd.Series, y: pd.Series) -> pd.Series:
        if len(x) == 0:
            return pd.Series([], dtype="float64")
        return pd.Series(np.einsum("ij,ij->i", _mat(x), _mat(y)))

    return _dot(a, b)


def _cosine_kernel():
    """Pandas UDF: per row, the dot product of two vectors over the product
    of their norms, 0.0 where that product is 0.0; the same float
    operations as ``vec_dot`` over ``vec_norm`` products, in one pass."""

    @F.pandas_udf(T.DoubleType())
    def _cosine(x: pd.Series, y: pd.Series) -> pd.Series:
        if len(x) == 0:
            return pd.Series([], dtype="float64")
        a, b = _mat(x), _mat(y)
        denom = np.sqrt(np.einsum("ij,ij->i", a, a)) * np.sqrt(np.einsum("ij,ij->i", b, b))
        with np.errstate(divide="ignore", invalid="ignore"):
            cosine = np.einsum("ij,ij->i", a, b) / denom
        return pd.Series(np.where(denom == 0.0, 0.0, cosine))

    return _cosine


def vec_norm(a: Column | str) -> Column:
    """Batch L2 norm via numpy (Arrow-vectorized)."""

    @F.pandas_udf(T.DoubleType())
    def _norm(x: pd.Series) -> pd.Series:
        if len(x) == 0:
            return pd.Series([], dtype="float64")
        m = _mat(x)
        return pd.Series(np.sqrt(np.einsum("ij,ij->i", m, m)))

    return _norm(a)


def band_buckets(vec: Column | str, planes: list[list[float]], bands: int) -> Column:
    """Random-hyperplane LSH: per-band sign-bit bucket strings
    (``array<string>`` of length ``bands``), computed as one matmul per
    Arrow batch.  Bit ``p`` is '1' iff ``v · planes[p] >= 0``; band ``i``'s
    bucket is the concatenation of its ``len(planes)//bands`` bits."""
    P = np.asarray(planes, dtype=np.float64).T  # (dim, num_planes)
    per = P.shape[1] // bands

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _buckets(x: pd.Series) -> pd.Series:
        if len(x) == 0:
            return pd.Series([], dtype=object)
        bits = _mat(x) @ P >= 0  # (n, num_planes)
        out = []
        for row in bits:
            s = "".join("1" if b else "0" for b in row)
            out.append([s[i * per : (i + 1) * per] for i in range(bands)])
        return pd.Series(out)

    return _buckets(vec)


def int_band_buckets(
    vec: Column | str, planes_int: list[list[int]], bands: int, unit: int
) -> Column:
    """EXACT integer variant of :func:`band_buckets`: components are
    floor-quantized to ``unit`` (``floor(v·unit)`` — one IEEE multiply
    then floor, identical in any engine) and the sign bit is the sign of
    an INTEGER dot against integer plane coefficients.  Integer sums are
    order-free, so the buckets value-hash across engines — the float
    tier's last-ulp sign flips at the hyperplane boundary are exactly
    what kept E6 rows-only.

    int64 discipline: ``float64`` holds ``v·unit`` exactly below 2^53,
    the matmul runs in int64, and callers preflight
    ``dim · max|vq| · max|c| < 2^63`` (numpy wraps silently)."""
    P = np.asarray(planes_int, dtype=np.int64).T  # (dim, num_planes)
    per = P.shape[1] // bands

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def _buckets(x: pd.Series) -> pd.Series:
        if len(x) == 0:
            return pd.Series([], dtype=object)
        m = np.floor(_mat(x) * float(unit)).astype(np.int64)
        bits = m @ P >= 0  # (n, num_planes), exact int64 arithmetic
        out = []
        for row in bits:
            s = "".join("1" if b else "0" for b in row)
            out.append([s[i * per : (i + 1) * per] for i in range(bands)])
        return pd.Series(out)

    return _buckets(vec)


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a,
            F.lit(0.0),
            lambda acc, v: acc + v.cast("double") * v.cast("double"),
        )
    )


def cosine_similarity(a: Column, b: Column) -> Column:
    """dot(a,b) / (|a| * |b|); 0.0 when either norm is zero."""
    d = dot(a, b)
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(d / denom)


# -- fixed-dimension (unrolled) variants -------------------------------------
# Higher-order functions (aggregate/zip_with) are interpreted per row, NOT
# whole-stage-codegen'd — on an O(n²) pair join they dominate runtime.  When
# the dimension is known, unrolled element_at sums compile into codegen and
# run ~50-100× faster.  Summation stays strictly left-to-right, so results
# are bit-identical to the fold versions (and to the DuckDB oracle).


def _sum_terms(terms: list[Column]) -> Column:
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def dot_fixed(a: Column, b: Column, dim: int) -> Column:
    return _sum_terms(
        [
            F.element_at(a, i + 1).cast("double") * F.element_at(b, i + 1).cast("double")
            for i in range(dim)
        ]
    )


def l2_norm_fixed(a: Column, dim: int) -> Column:
    return F.sqrt(
        _sum_terms(
            [
                F.element_at(a, i + 1).cast("double")
                * F.element_at(a, i + 1).cast("double")
                for i in range(dim)
            ]
        )
    )


def cosine_similarity_fixed(a: Column, b: Column, dim: int) -> Column:
    d = dot_fixed(a, b, dim)
    denom = l2_norm_fixed(a, dim) * l2_norm_fixed(b, dim)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(d / denom)


def infer_dim(df, vec_col: str) -> int:
    """Probe the array length (one tiny job on one row)."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None or row["d"] is None:
        raise ValueError(f"cannot infer dimension of {vec_col!r} (empty input)")
    return row["d"]


def int8_quant_pd(vec: Column | str) -> Column:
    """Arrow kernel behind ``operators.quantize.quantize_embeddings``:
    symmetric per-vector int8 quantization + reconstruction audit in one
    numpy pass.  Per vector: ``scale = max|v| / 127``, ``code_i =
    floor(v_i/scale + 0.5)`` (half-up — ``floor`` is exact IEEE, unlike
    ``round()`` whose half-even/half-up split differs between engines),
    ``max_abs_err = max_i |v_i - code_i*scale|``.  Every op is exact
    IEEE float64 arithmetic and max/count are order-free, so a SQL
    oracle reproduces the struct bit-for-bit.  All-zero vectors get
    scale 0, all-zero codes, zero error."""
    schema = T.StructType(
        [
            T.StructField("n_dims", T.LongType()),
            T.StructField("scale", T.DoubleType()),
            T.StructField("max_abs_err", T.DoubleType()),
            T.StructField("n_saturated", T.LongType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    @F.pandas_udf(schema)
    def _quant(x: pd.Series) -> pd.DataFrame:
        rows = []
        for v in x:
            a = np.asarray(v, dtype=np.float64)
            n = a.shape[0]
            maxabs = float(np.max(np.abs(a))) if n else 0.0
            scale = maxabs / 127.0
            if scale > 0.0:
                codes = np.floor(a / scale + 0.5)
                err = float(np.max(np.abs(a - codes * scale)))
                sat = int(np.count_nonzero(np.abs(codes) == 127.0))
            else:
                codes = np.zeros(n)
                err = 0.0
                sat = 0
            rows.append(
                (n, scale, err, sat, codes.astype(np.int32).tolist())
            )
        return pd.DataFrame(
            rows,
            columns=["n_dims", "scale", "max_abs_err", "n_saturated", "codes"],
        )

    return _quant(vec)
