"""Distance Column expressions vs a NumPy reference (sequential fold)."""

from __future__ import annotations

import math
import pathlib
import re
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from vectordb_spark.functions.distance import (
    bigint_literal,
    cosine_distance,
    dot_product_distance,
    l2_normalize,
    l2_squared,
    l2_squared_int,
    nearest_centroid,
    nearest_centroid_position,
    sparse_dot,
    sparse_l2_squared,
    sparse_vector_literal,
    vector_literal,
)

VECS = [
    [0.05, 0.61, 0.76, 0.74],
    [0.19, 0.81, 0.75, 0.11],
    [0.36, 0.55, 0.47, 0.94],
    [0.18, 0.01, 0.85, 0.80],
    [0.24, 0.18, 0.22, 0.44],
]
Q = [0.35, 0.55, 0.47, 0.94]


def _seq_l2(a, q):
    # stored vectors are float32; the query literal stays double
    acc = 0.0
    for x, y in zip(a, q):
        d = float(np.float32(x)) - float(y)
        acc += d * d
    return acc


@pytest.fixture(scope="module")
def vec_df(spark):
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField("v", T.ArrayType(T.FloatType()), False),
        ]
    )
    return spark.createDataFrame([(i, v) for i, v in enumerate(VECS)], schema)


def test_l2_squared_matches_sequential_fold(vec_df):
    rows = vec_df.select(
        "id", l2_squared("v", vector_literal(Q)).alias("d")
    ).collect()
    for r in rows:
        assert r.d == _seq_l2(VECS[r.id], Q)


def test_dot_distance_sign(vec_df):
    rows = vec_df.select(
        "id", dot_product_distance("v", vector_literal(Q)).alias("d")
    ).collect()
    for r in rows:
        ref = -sum(float(np.float32(x)) * y for x, y in zip(VECS[r.id], Q))
        assert r.d == pytest.approx(ref, abs=1e-12)


def test_cosine_unnormalized(vec_df):
    rows = vec_df.select(
        "id", cosine_distance("v", vector_literal(Q), normalized=False).alias("d")
    ).collect()
    for r in rows:
        a = np.array(VECS[r.id], dtype=np.float32).astype(np.float64)
        q = np.array(Q, dtype=np.float64)
        ref = 1.0 - float(a @ q) / (math.sqrt(float(a @ a)) * math.sqrt(float(q @ q)))
        assert r.d == pytest.approx(ref, rel=1e-12)


def test_l2_normalize_unit_norm(vec_df):
    rows = vec_df.select("id", l2_normalize("v").alias("n")).collect()
    for r in rows:
        norm = math.sqrt(sum(float(x) * float(x) for x in r.n))
        assert norm == pytest.approx(1.0, rel=1e-6)


def test_sparse_dot_and_l2(spark):
    schema = T.StructType(
        [
            T.StructField("id", T.IntegerType(), False),
            T.StructField(
                "v",
                T.StructType(
                    [
                        T.StructField("indices", T.ArrayType(T.IntegerType()), False),
                        T.StructField("values", T.ArrayType(T.FloatType()), False),
                    ]
                ),
                False,
            ),
        ]
    )
    data = [
        (0, ([0, 2, 5], [1.0, 2.0, 3.0])),
        (1, ([1, 2], [4.0, 5.0])),
    ]
    df = spark.createDataFrame(data, schema)
    q = F.struct(
        F.array(F.lit(0), F.lit(2)).alias("indices"),
        F.array(F.lit(2.0), F.lit(1.0)).cast("array<float>").alias("values"),
    )
    rows = {
        r.id: (r.dot, r.l2)
        for r in df.select(
            "id",
            sparse_dot("v", q).alias("dot"),
            sparse_l2_squared("v", q).alias("l2"),
        ).collect()
    }
    # id 0: shared indices {0,2}: 1*2 + 2*1 = 4
    assert rows[0][0] == pytest.approx(4.0)
    # ||a||^2=14, ||q||^2=5, l2 = 14 - 2*4 + 5 = 11
    assert rows[0][1] == pytest.approx(11.0)
    # id 1: shared {2}: 5*1 = 5 ; l2 = 41 - 10 + 5 = 36
    assert rows[1][0] == pytest.approx(5.0)
    assert rows[1][1] == pytest.approx(36.0)


_EDGE = [-0.0, 0.0, math.nan, math.inf, -math.inf, 5e-324, 1e308, -1e-300, 0.1, 3, -7]


def _bits(xs):
    return [None if x is None else struct.pack(">d", x).hex() for x in xs]


@pytest.mark.parametrize(
    "vals", [_EDGE, [], [2.5], [1, 2, 3]], ids=["edge", "empty", "one", "ints"]
)
def test_vector_literal_matches_per_element_lit(spark, vals):
    """One-call literal == the per-element F.lit form, bit for bit and
    type for type (signed zero, subnormals, NaN, ±inf, Python ints)."""
    old = F.array(*[F.lit(float(v)) for v in vals])
    df = spark.range(1).select(old.alias("a"), vector_literal(vals).alias("b"))
    assert df.dtypes[0][1] == df.dtypes[1][1]
    r = df.collect()[0]
    assert _bits(r.a) == _bits(r.b)


def test_nested_and_integer_literals(spark):
    m = [[0.5, -0.0], [math.inf, 1]]
    old = F.array(*[F.array(*[F.lit(float(v)) for v in row]) for row in m])
    r = spark.range(1).select(
        old.alias("a"),
        vector_literal(m).alias("b"),
        bigint_literal([[1, -2], [3, 2**40]]).alias("c"),
    )
    assert r.dtypes == [
        ("a", "array<array<double>>"),
        ("b", "array<array<double>>"),
        ("c", "array<array<bigint>>"),
    ]
    row = r.collect()[0]
    assert [_bits(x) for x in row.a] == [_bits(x) for x in row.b]
    assert row.c == [[1, -2], [3, 2**40]]
    assert spark.range(1).select(bigint_literal([7]).alias("x")).dtypes == [
        ("x", "array<bigint>")
    ]


def test_sparse_vector_literal_matches_struct_form(spark):
    idx, vals = [0, 2, 9], [1.5, -0.0, 3]
    old = F.struct(
        F.array(*[F.lit(int(i)) for i in idx]).alias("indices"),
        F.array(*[F.lit(float(x)) for x in vals]).cast("array<float>").alias("values"),
    )
    df = spark.range(1).select(
        old.alias("a"), sparse_vector_literal(idx, vals).alias("b")
    )
    assert df.schema["a"].dataType == df.schema["b"].dataType
    r = df.collect()[0]
    assert list(r.a.indices) == list(r.b.indices)
    assert _bits(r.a["values"]) == _bits(r.b["values"])


def test_nearest_centroid_matches_numpy_argmin(spark):
    rng = np.random.default_rng(5)
    dim, k = 8, 6
    cents = [[float(x) for x in rng.normal(size=dim)] for _ in range(k)]
    rows = [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(200)]
    df = spark.createDataFrame(rows, "id int, v array<float>")
    out = df.select("id", nearest_centroid("v", cents).alias("c"))
    assert dict(out.dtypes)["c"] == "int"
    got = {r.id: r.c for r in out.collect()}
    for i, v in rows:
        assert got[i] == int(np.argmin([_seq_l2(v, c) for c in cents]))


def test_nearest_centroid_ties_and_nulls(spark):
    """Duplicate centroids tie to the lowest index; a NULL or short
    vector has NULL distances and gets NULL."""
    cents = [[0.0, 0.0], [1.0, 1.0], [1.0, 1.0], [0.0, 0.0]]
    df = spark.createDataFrame(
        [(0, [0.9, 0.9]), (1, [0.1, 0.2]), (2, [0.5, 0.5]), (3, None), (4, [1.0])],
        "id int, v array<float>",
    )
    got = {
        r.id: r.c
        for r in df.select("id", nearest_centroid("v", cents).alias("c")).collect()
    }
    assert got == {0: 1, 1: 0, 2: 0, 3: None, 4: None}


def test_nearest_centroid_int_matches_encode_batch_np(spark):
    """The integer-L2 argmin (PQ's sub-code) matches the numpy GEMM
    encode, including a duplicated codeword."""
    from vectordb_spark.operators import pq as PQ

    rng = np.random.default_rng(9)
    dim, m = 16, 4
    sub = dim // m
    cb = PQ.seeded_codebook(dim, m=m, k=8, seed=3)
    for s_cb in cb:
        s_cb[5] = list(s_cb[2])
    X = rng.uniform(-0.5, 0.5, size=(120, dim))
    G = [[int(v) for v in g] for g in np.floor(X * PQ.QMUL + 0.5)]
    df = spark.createDataFrame(list(enumerate(G)), "id int, g array<bigint>")
    cols = [
        nearest_centroid_position(
            F.slice("g", mi * sub + 1, sub), bigint_literal(cb[mi]), dist=l2_squared_int
        ).alias(f"c{mi}")
        for mi in range(m)
    ]
    out = df.select("id", *cols)
    assert dict(out.dtypes)["c0"] == "bigint"
    got = {r.id: [r[f"c{mi}"] for mi in range(m)] for r in out.collect()}
    CB = np.asarray(cb, dtype=np.int64)
    want = PQ._encode_batch_np(X, CB, CB.astype(np.float64), (CB * CB).sum(axis=2))
    for i in range(len(X)):
        assert got[i] == [int(c) for c in want[i]]


def test_literals_and_argmin_live_only_in_distance_module():
    """Guard against regrowth: literal arrays and the nearest-centroid
    argmin are built only in functions/distance.py (DuckDB's
    list_position strings are allowed)."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "vectordb_spark"
    banned = re.compile(r"array_position\(|F\.lit\(\[|F\.array\(\*\[F\.lit\(|_spark_int_l2")
    hits = [
        f"{path.relative_to(pkg)}:{n}: {line.strip()}"
        for path in sorted(pkg.rglob("*.py"))
        if path != pkg / "functions" / "distance.py"
        for n, line in enumerate(path.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert not hits, "\n".join(hits)
