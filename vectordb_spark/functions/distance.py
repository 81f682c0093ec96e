"""Vector distance expressions — pure Spark Columns, no UDFs.

All distances are built from ``zip_with`` + ``aggregate`` (a sequential
left fold inside whole-stage codegen), computed in double precision with
an explicit per-element cast. The fold order is deterministic, which is
what lets the DuckDB oracle reproduce results bit-for-bit.

Semantics match the reference engine (see SURVEY.md §2.6):
  - EUCLIDEAN returns *squared* L2 (reference space_l2.hpp:9-26).
  - DOT_PRODUCT returns the *negative* dot product, so ascending order
    means highest dot first (reference engine/db/vector.cpp:7-9).
  - COSINE assumes ingest-time L2 normalization (reference
    table_segment_mvp.cpp:574-587) and returns 1 - dot on the
    normalized vectors.

Sparse vectors are ``struct<indices: array<int>, values: array<float>>``
mirroring the reference wire format (web_controller.hpp:762-788); sparse
distances walk the query's index list with a map lookup on the row side
(reference merge-join: engine/db/vector.cpp:7-100).

Two contracts every vector query relies on live here and nowhere else:

- **Literals cost one JVM call.** :func:`vector_literal`,
  :func:`bigint_literal` and :func:`sparse_vector_literal` render the
  whole (possibly nested) array as SQL text and parse it with one
  ``F.expr``; per-element ``F.lit`` pays one Python→JVM round trip per
  element (a 16×64 centroid matrix took ~0.65 s that way). Doubles are
  written with ``repr`` (shortest round-trip form) plus the ``D``
  suffix, so every value — ``-0.0``, subnormals, NaN and ±inf via
  ``CAST`` — is bit-identical to ``F.lit(float(v))``, and the optimizer
  folds the tree into the same single literal.
- **Nearest centroid is a first-occurrence argmin.**
  :func:`nearest_centroid_position` is ``array_position(d,
  array_min(d))`` over one ``transform`` of a centroid-matrix literal,
  so ties go to the lowest index, and a NULL or short vector (NULL
  distances) gives NULL. Its result is 1-based ``bigint``, like DuckDB's
  ``list_position``: the form PQ codes and coarse cells store.
  :func:`nearest_centroid` subtracts 1 and casts to ``int``: the 0-based
  form ``_cluster`` stores.
"""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

ColumnOrName = Column | str


def _c(col: ColumnOrName) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _fold_sum(terms: Column) -> Column:
    """Sequential left fold summing an array<double> column."""
    return F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)


def _dz(x: Column) -> Column:
    return x.cast("double")


def _sql_double(x: float) -> str:
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return "CAST('Infinity' AS DOUBLE)" if x > 0 else "CAST('-Infinity' AS DOUBLE)"
    return repr(x) + "D"


def _sql_array(values: Iterable, elem) -> str:
    """``array(...)`` SQL text; nested sequences become nested arrays."""
    return "array(" + ", ".join(
        _sql_array(v, elem) if isinstance(v, Iterable) else elem(v)
        for v in values
    ) + ")"


def vector_literal(values: Sequence) -> Column:
    """A query vector as one ``array<double>`` literal; a matrix (e.g.
    the centroids) gives ``array<array<double>>``."""
    return F.expr(_sql_array(values, _sql_double))


def bigint_literal(values: Sequence) -> Column:
    """Integers (PQ codebooks, ADC tables) as one ``array<bigint>``
    literal, nested like ``values``."""
    return F.expr(_sql_array(values, lambda v: f"{int(v)}L"))


def sparse_vector_literal(indices: Sequence[int], values: Sequence[float]) -> Column:
    """A sparse query as ``struct<indices: array<int>, values:
    array<float>>``; the values pass through double first, as
    ``F.lit(float(v))`` did."""
    idx = _sql_array(indices, lambda i: str(int(i)))
    vals = _sql_array(values, _sql_double)
    return F.expr(
        f"named_struct('indices', {idx}, 'values', CAST({vals} AS ARRAY<FLOAT>))"
    )


def l2_squared(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Squared L2 distance between two array-typed vector columns."""
    terms = F.zip_with(_c(a), _c(b), lambda x, y: (_dz(x) - _dz(y)) * (_dz(x) - _dz(y)))
    return _fold_sum(terms)


def l2_squared_int(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Squared L2 between two integer arrays in exact 64-bit arithmetic
    (the PQ grid distance)."""
    terms = F.zip_with(_c(a), _c(b), lambda x, y: (x - y) * (x - y))
    return F.aggregate(terms, F.lit(0).cast("bigint"), lambda acc, v: acc + v)


def dot_product(a: ColumnOrName, b: ColumnOrName) -> Column:
    terms = F.zip_with(_c(a), _c(b), lambda x, y: _dz(x) * _dz(y))
    return _fold_sum(terms)


def dot_product_distance(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Reference DOT_PRODUCT distance = -dot (vector.cpp:7-9)."""
    return -dot_product(a, b)


def cosine_distance(a: ColumnOrName, b: ColumnOrName, *, normalized: bool = True) -> Column:
    """1 - cos. With ``normalized=True`` both inputs are unit vectors
    (the engine normalizes COSINE fields at ingest) so cos == dot."""
    if normalized:
        return F.lit(1.0) - dot_product(a, b)
    num = dot_product(a, b)
    # nullif: zero-norm input → NULL, not an ANSI division error
    den = F.nullif(F.sqrt(dot_product(a, a)) * F.sqrt(dot_product(b, b)), F.lit(0.0))
    return F.lit(1.0) - num / den


def l2_norm(a: ColumnOrName) -> Column:
    return F.sqrt(dot_product(a, a))


def l2_normalize(a: ColumnOrName, *, as_float: bool = True) -> Column:
    """Ingest-time normalization for COSINE fields
    (reference table_segment_mvp.cpp:574-587 stores float32)."""
    norm = l2_norm(a)
    out = F.transform(
        _c(a), lambda x: F.when(norm != 0.0, _dz(x) / norm).otherwise(_dz(x))
    )
    if as_float:
        out = out.cast("array<float>")
    return out


def distance_for_metric(metric: str, a: ColumnOrName, b: ColumnOrName) -> Column:
    """Dense distance dispatch by reference metric name."""
    m = metric.upper()
    if m == "EUCLIDEAN":
        return l2_squared(a, b)
    if m == "COSINE":
        return cosine_distance(a, b)
    if m in ("DOT_PRODUCT", "DOTPRODUCT", "IP"):
        return dot_product_distance(a, b)
    raise ValueError(f"unknown metric: {metric}")


def nearest_centroid_position(
    vec: ColumnOrName, centroids: Column | Sequence, dist=l2_squared
) -> Column:
    """1-based ``bigint`` position of the centroid nearest ``vec`` under
    ``dist``: the first-occurrence argmin described in the module
    docstring. ``centroids`` is a matrix (built with
    :func:`vector_literal`) or an array-of-arrays Column."""
    if not isinstance(centroids, Column):
        centroids = vector_literal(centroids)
    v = _c(vec)
    d = F.transform(centroids, lambda c: dist(v, c))
    return F.array_position(d, F.array_min(d))


def nearest_centroid(
    vec: ColumnOrName, centroids: Column | Sequence, dist=l2_squared
) -> Column:
    """0-based ``int`` index of the nearest centroid — the ``_cluster``
    format (see :func:`nearest_centroid_position`)."""
    return (nearest_centroid_position(vec, centroids, dist) - 1).cast("int")


# --------------------------------------------------------------------------
# Sparse vectors: struct<indices: array<int>, values: array<float>>
# --------------------------------------------------------------------------


def _sparse_map(v: ColumnOrName) -> Column:
    v = _c(v)
    return F.map_from_arrays(v.getField("indices"), v.getField("values"))


def sparse_dot(a: ColumnOrName, b: ColumnOrName) -> Column:
    """Sum over a's indices of a.value * b[index] (0 when absent).
    Equivalent to the reference's sorted merge-join (vector.cpp:30-56)."""
    a = _c(a)
    bmap = _sparse_map(b)
    terms = F.zip_with(
        a.getField("indices"),
        a.getField("values"),
        lambda i, v: _dz(v) * F.coalesce(_dz(F.element_at(bmap, i)), F.lit(0.0)),
    )
    return _fold_sum(terms)


def sparse_norm_sq(a: ColumnOrName) -> Column:
    a = _c(a)
    return _fold_sum(F.transform(a.getField("values"), lambda v: _dz(v) * _dz(v)))


def sparse_dot_product_distance(a: ColumnOrName, b: ColumnOrName) -> Column:
    return -sparse_dot(a, b)


def sparse_l2_squared(a: ColumnOrName, b: ColumnOrName) -> Column:
    """||a||^2 - 2<a,b> + ||b||^2 composition (deterministic order)."""
    return sparse_norm_sq(a) - F.lit(2.0) * sparse_dot(a, b) + sparse_norm_sq(b)


def sparse_cosine_distance(a: ColumnOrName, b: ColumnOrName, *, normalized: bool = True) -> Column:
    if normalized:
        return F.lit(1.0) - sparse_dot(a, b)
    num = sparse_dot(a, b)
    den = F.nullif(
        F.sqrt(sparse_norm_sq(a)) * F.sqrt(sparse_norm_sq(b)), F.lit(0.0)
    )
    return F.lit(1.0) - num / den


def sparse_l2_normalize(v: ColumnOrName) -> Column:
    """Ingest-time normalization of sparse COSINE fields
    (reference table_segment_mvp.cpp:556-562)."""
    v = _c(v)
    norm = F.sqrt(sparse_norm_sq(v))
    vals = F.transform(
        v.getField("values"),
        lambda x: F.when(norm != 0.0, _dz(x) / norm).otherwise(_dz(x)),
    ).cast("array<float>")
    return F.struct(
        v.getField("indices").alias("indices"), vals.alias("values")
    )


def sparse_distance_for_metric(metric: str, a: ColumnOrName, b: ColumnOrName) -> Column:
    m = metric.upper()
    if m == "EUCLIDEAN":
        return sparse_l2_squared(a, b)
    if m == "COSINE":
        return sparse_cosine_distance(a, b)
    if m in ("DOT_PRODUCT", "DOTPRODUCT", "IP"):
        return sparse_dot_product_distance(a, b)
    raise ValueError(f"unknown metric: {metric}")
