"""Sparse-vector queries over real pipeline data: TF (term-frequency)
bag-of-words sparse encodings of ``documents``, then sparse KNN with
the engine's sparse distance operators — all oracle-checked (SURVEY.md
§1.2 sparse model, §2.6 sparse distances; reference
engine/db/vector.cpp:7-100).

The sparse wire format is {indices sorted ascending, values}; here
indices are 60-bit token hashes (the hashed vocabulary space — exactly
how a 100 TB TF pipeline avoids a global vocabulary build) and values
are term counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from vectordb_spark.operators import dedup as D
from vectordb_spark.queries import query
from vectordb_spark.sources.readers import load_table

_TH_S, _TH_D = D.token_hashes("text")

_IDX_S = "array_sort(array_distinct(hs))"
_IDX_D = "list_sort(list_distinct(hs))"
_VAL_S = f"transform({_IDX_S}, i -> CAST(size(filter(hs, h -> h = i)) AS FLOAT))"
_VAL_D = f"list_transform({_IDX_D}, i -> CAST(len(list_filter(hs, h -> h = i)) AS FLOAT))"


# The driver's canonicalizer sorts result columns in pandas — array
# cells are unhashable there, so the wire-format arrays are emitted as
# md5 digests of a canonical CSV text form (identical on both engines:
# integer-valued elements rendered in decimal, joined with ',').
_IDXTXT_S = f"array_join(transform({_IDX_S}, x -> CAST(x AS STRING)), ',')"
_IDXTXT_D = f"array_to_string(list_transform({_IDX_D}, x -> CAST(x AS VARCHAR)), ',')"
_VALTXT_S = (
    f"array_join(transform({_VAL_S}, v -> CAST(CAST(v AS INT) AS STRING)), ',')"
)
_VALTXT_D = (
    f"array_to_string(list_transform({_VAL_D}, "
    "v -> CAST(CAST(v AS INTEGER) AS VARCHAR)), ',')"
)


@query(
    "sparse_tf_vectors",
    oracle=f"""
    SELECT doc_id, md5({_IDXTXT_D}) AS indices_md5,
           md5({_VALTXT_D}) AS tf_md5,
           len({_IDX_D}) AS nnz
    FROM (SELECT doc_id, {_TH_D} AS hs FROM documents)
    """,
)
def sparse_tf_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF sparse encoding: indices = sorted distinct token hashes,
    values = counts. Satisfies the engine's sparse validation rules
    (strictly increasing indices) by construction. The arrays travel as
    md5 digests of their canonical text form so the result is
    oracle-hashable; ``nnz`` keeps the cardinality visible."""
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    hs = d.select("doc_id", F.expr(_TH_S).alias("hs"))
    return hs.select(
        "doc_id",
        F.md5(F.expr(_IDXTXT_S)).alias("indices_md5"),
        F.md5(F.expr(_VALTXT_S)).alias("tf_md5"),
        F.size(F.expr(_IDX_S)).cast("long").alias("nnz"),
    )


# sparse dot of each doc's TF vector against doc 0's — folded over the
# ROW's indices with a lookup into the query's arrays, mirroring
# functions.distance.sparse_dot (reference merge-join vector.cpp:30-56).
# DuckDB lambdas can't contain subqueries, so the query vector joins in
# as plain columns (q_idx, q_val) first.
_DOT_D = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(list_zip(indices, tf_values), "
    "p -> CAST(p[2] AS DOUBLE) * "
    "coalesce(CAST(q_val[list_position(q_idx, p[1])] AS DOUBLE), 0.0))), "
    "(acc, x) -> acc + x)"
)


_TFIDF_ORACLE = f"""
WITH tf AS (
    SELECT doc_id, {_IDX_D} AS indices, {_VAL_D} AS tf_values
    FROM (SELECT doc_id, {_TH_D} AS hs FROM documents)
),
n_docs AS (SELECT COUNT(*) AS n FROM documents),
df AS (
    SELECT term, COUNT(*) AS doc_freq
    FROM (SELECT doc_id, unnest(indices) AS term FROM tf)
    GROUP BY term
)
SELECT term, doc_freq,
       (SELECT CAST(n AS DOUBLE) FROM n_docs) / CAST(doc_freq AS DOUBLE)
           AS inv_doc_freq
FROM df
ORDER BY doc_freq DESC, term
LIMIT 50
"""


@query("sparse_tfidf_weights", oracle=_TFIDF_ORACLE)
def sparse_tfidf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IDF weighting for the hashed TF space: document frequency per
    term via explode + groupBy; emits the exact N/df ratio (idf =
    ln(N/df) is a monotone transform applied client-side — Java's and
    libm's ln() differ in the last ulp, so the logged value cannot be
    oracle-hashed). The 50 most common terms — the weights that turn
    sparse TF vectors into TF-IDF via a map-side join.

    N folds into the plan as a cross-joined 1-row aggregate (exactly as
    the oracle's ``n_docs`` CTE does) — one Spark job per invocation,
    no separate ``count()`` driver action."""
    d = load_table(spark, sf_dir, "documents", rebalance=True)
    n_docs = d.agg(F.count(F.lit(1)).cast("double").alias("n"))
    tf = d.select("doc_id", F.expr(_TH_S).alias("hs")).select(
        "doc_id", F.expr(_IDX_S).alias("indices")
    )
    df_tbl = (
        tf.select(F.explode("indices").alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
    )
    return (
        df_tbl.crossJoin(F.broadcast(n_docs))
        .withColumn("inv_doc_freq", F.col("n") / F.col("doc_freq").cast("double"))
        .drop("n")
        .orderBy(F.col("doc_freq").desc(), F.col("term"))
        .limit(50)
    )


@query(
    "sparse_knn_tf_dot",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, {_IDX_D} AS indices, {_VAL_D} AS tf_values
        FROM (SELECT doc_id, {_TH_D} AS hs FROM documents)
    ),
    q AS (
        SELECT indices AS q_idx, tf_values AS q_val FROM tf WHERE doc_id = 0
    )
    SELECT doc_id, -({_DOT_D}) AS distance
    FROM tf CROSS JOIN q
    ORDER BY distance, doc_id
    LIMIT 10
    """,
)
def sparse_knn_tf_dot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse KNN: top-10 docs by DOT_PRODUCT distance (-dot, ascending
    ⇒ most similar first) against doc 0's TF vector, through the
    engine's sparse distance Column (map-lookup fold over the row's
    indices)."""
    from vectordb_spark.functions.distance import (
        sparse_dot_product_distance,
        sparse_vector_literal,
    )

    d = load_table(spark, sf_dir, "documents", rebalance=True)
    tf = d.select("doc_id", F.expr(_TH_S).alias("hs")).select(
        "doc_id",
        F.struct(
            F.expr(_IDX_S).alias("indices"),
            F.expr(_VAL_S).alias("values"),
        ).alias("vec"),
    )
    qrow = tf.where(F.col("doc_id") == 0).select("vec").head()
    q_idx = [int(i) for i in qrow[0]["indices"]]
    q_val = [float(v) for v in qrow[0]["values"]]
    qcol = sparse_vector_literal(q_idx, q_val)
    out = tf.withColumn(
        "distance", sparse_dot_product_distance(F.col("vec"), qcol)
    )
    return (
        out.orderBy(F.col("distance").asc(), F.col("doc_id").asc())
        .limit(10)
        .select("doc_id", "distance")
    )


_NORM_DOC_D = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(tf_values, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), "
    "(acc, x) -> acc + x)"
)
_NORM_Q_D = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(q_val, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))), "
    "(acc, x) -> acc + x)"
)


@query(
    "sparse_knn_l2",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, {_IDX_D} AS indices, {_VAL_D} AS tf_values
        FROM (SELECT doc_id, {_TH_D} AS hs FROM documents)
    ),
    q AS (
        SELECT indices AS q_idx, tf_values AS q_val FROM tf WHERE doc_id = 0
    )
    SELECT doc_id,
           ({_NORM_DOC_D}) - 2.0 * ({_DOT_D}) + ({_NORM_Q_D}) AS distance
    FROM tf CROSS JOIN q
    ORDER BY distance, doc_id
    LIMIT 10
    """,
)
def sparse_knn_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse KNN under EUCLIDEAN: squared L2 composed as
    ||a||² − 2⟨a,b⟩ + ||b||² (each term a deterministic sequential
    fold, so the composition is bit-stable across engines — the direct
    pairwise (a−b)² form can't merge sparse index sets
    deterministically). Completes the reference's three sparse metrics
    as gate queries (dot: sparse_knn_tf_dot; cosine is
    ingest-normalized dot, sparse_l2_normalize)."""
    from vectordb_spark.functions.distance import (
        sparse_l2_squared,
        sparse_vector_literal,
    )

    d = load_table(spark, sf_dir, "documents", rebalance=True)
    tf = d.select("doc_id", F.expr(_TH_S).alias("hs")).select(
        "doc_id",
        F.struct(
            F.expr(_IDX_S).alias("indices"),
            F.expr(_VAL_S).alias("values"),
        ).alias("vec"),
    )
    qrow = tf.where(F.col("doc_id") == 0).select("vec").head()
    q_idx = [int(i) for i in qrow[0]["indices"]]
    q_val = [float(v) for v in qrow[0]["values"]]
    qcol = sparse_vector_literal(q_idx, q_val)
    out = tf.withColumn("distance", sparse_l2_squared(F.col("vec"), qcol))
    return (
        out.orderBy(F.col("distance").asc(), F.col("doc_id").asc())
        .limit(10)
        .select("doc_id", "distance")
    )


@query(
    "sparse_index_knn_search",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, {_IDX_D} AS indices, {_VAL_D} AS tf_values
        FROM (SELECT doc_id, {_TH_D} AS hs FROM documents)
    ),
    q AS (
        SELECT indices AS q_idx, tf_values AS q_val FROM tf WHERE doc_id = 0
    )
    SELECT doc_id,
           ({_NORM_DOC_D}) - 2.0 * ({_DOT_D}) + ({_NORM_Q_D}) AS distance
    FROM tf CROSS JOIN q
    ORDER BY distance, doc_id
    LIMIT 10
    """,
)
def sparse_index_knn_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SPARSE INVERTED INDEX lifecycle through the gate: TF vectors
    from documents bulk-insert into an engine table (80%), the
    dim-partitioned posting index + norms sidecar build, the remaining
    20% insert as an unindexed tail, and the search answers through
    dim-pruned postings + void candidates + exact re-score
    (Table.search_sparse_indexed_df) — while the oracle recomputes
    brute-force sparse L2 over the raw corpus. Equality proves the
    pruned path is EXACT, tail included (the same agreement discipline
    as text_index_bm25_search; dim indices are 60-bit token hashes, so
    the field declares a 2^60 hashed-vocabulary dimension — exactly the
    no-global-vocab layout a 100 TB TF pipeline uses)."""
    import shutil as _shutil
    import tempfile as _tempfile

    work = _tempfile.mkdtemp(prefix="vdb_sparse_gate_")
    t, qv = build_sparse_gate_table(spark, sf_dir, work)
    out = (
        t.search_sparse_indexed_df(qv, limit=10)
        .select("doc_id", F.col("_distance").alias("distance"))
        .localCheckpoint()  # materialize before the temp warehouse dies
    )
    _shutil.rmtree(work, ignore_errors=True)
    return out


def build_sparse_gate_table(spark: SparkSession, sf_dir: str, work: str):
    """Build the sparse-index gate's table (80% bulk insert → inverted
    index build → 20% unindexed tail) under ``work`` and return
    ``(table, query_vector)``. Split out of the gate so bench.py can
    amortize the build across its interleaved runs and time only the
    dim-pruned search — the operation the gate exists to measure."""
    import os as _os

    from vectordb_spark.schema import FieldSchema, FieldType, TableSchema
    from vectordb_spark.table import Table

    d = load_table(spark, sf_dir, "documents")
    tf = d.select(
        "doc_id",
        F.struct(
            F.expr(_TH_S).alias("hs"),
        ).alias("_t"),
    ).select(
        "doc_id",
        F.struct(
            F.expr("array_sort(array_distinct(_t.hs))").alias("indices"),
            F.expr(
                "transform(array_sort(array_distinct(_t.hs)), "
                "i -> CAST(size(filter(_t.hs, h -> h = i)) AS FLOAT))"
            ).alias("values"),
        ).alias("Vec"),
    )
    qrow = tf.where(F.col("doc_id") == 0).select("Vec").head()
    qv = {
        "indices": [int(i) for i in qrow[0]["indices"]],
        "values": [float(v) for v in qrow[0]["values"]],
    }
    schema = TableSchema(
        name="sparse_idx_docs",
        fields=[
            FieldSchema(name="doc_id", field_type=FieldType.INT8, primary_key=True),
            FieldSchema(
                name="Vec",
                field_type=FieldType.SPARSE_VECTOR_FLOAT,
                dimension=1 << 60,
                metric="EUCLIDEAN",
            ),
        ],
    )
    t = Table(spark, schema, _os.path.join(work, "sparse_idx_docs"))
    t._init_storage()
    t.insert_df(tf.where(F.col("doc_id") % 5 != 4))
    t.rebuild_sparse_index("Vec", buckets=32)
    t.insert_df(tf.where(F.col("doc_id") % 5 == 4))  # unindexed tail
    return t, qv


# ---------------------------------------------------- sparse lifecycle
#
# Round-13 queue (VERDICT r11 #5): the sparse twin of
# table_ivf_sampled_train_search — the FULL sparse inverted-index
# lifecycle as one hash-checked row. Flow on the engine side:
#   bulk insert (60%) → rebuild_sparse_index → tail insert (20%)
#   → refresh_sparse_index (delta postings + delta norms dirs)
#   → filter DELETE (doc_id % 101 = 7; dead ids in the postings stay
#     handled by the mutation_seq semi-join)
#   → UPSERT (doc_id % 101 = 11 rows get a disjoint one-hot vector —
#     their old postings die, the new rows ride the unindexed tail)
#   → final unindexed tail insert (the remaining 20%, minus deleted)
#   → dim-pruned exact search.
# The oracle replays the same logical corpus from raw parquet: docs
# with doc_id % 101 = 7 removed, docs with doc_id % 101 = 11 (among
# the pre-tail 80%) carrying the upserted vector, everything else the
# plain TF encoding. Equality proves main postings + delta postings +
# live-tail scan + dead-id filtering + void-candidate completion
# compose EXACTLY through the whole mutation history.

_LIFE_ORACLE = f"""
WITH tf AS (
    SELECT doc_id, {_IDX_D} AS indices, {_VAL_D} AS tf_values
    FROM (SELECT doc_id, {_TH_D} AS hs FROM documents)
),
q AS (
    SELECT indices AS q_idx, tf_values AS q_val FROM tf WHERE doc_id = 0
),
fin AS (
    SELECT doc_id,
           CASE WHEN doc_id % 101 = 11 AND doc_id % 5 <> 4
                THEN [CAST(doc_id AS BIGINT)]
                ELSE indices END AS indices,
           CASE WHEN doc_id % 101 = 11 AND doc_id % 5 <> 4
                THEN [CAST(1.0 AS FLOAT)]
                ELSE tf_values END AS tf_values
    FROM tf
    WHERE doc_id % 101 <> 7
)
SELECT doc_id,
       ({_NORM_DOC_D}) - 2.0 * ({_DOT_D}) + ({_NORM_Q_D}) AS distance
FROM fin CROSS JOIN q
ORDER BY distance, doc_id
LIMIT 10
"""


def build_sparse_lifecycle_table(spark: SparkSession, sf_dir: str, work: str):
    """Run the sparse lifecycle gate's full mutation history on a
    table under ``work`` and return ``(table, query_vector)``. Split
    out so bench.py can amortize the build and time only the search."""
    import os as _os

    from vectordb_spark.schema import FieldSchema, FieldType, TableSchema
    from vectordb_spark.table import Table

    d = load_table(spark, sf_dir, "documents")
    tf = d.select(
        "doc_id",
        F.struct(F.expr(_TH_S).alias("hs")).alias("_t"),
    ).select(
        "doc_id",
        F.struct(
            F.expr("array_sort(array_distinct(_t.hs))").alias("indices"),
            F.expr(
                "transform(array_sort(array_distinct(_t.hs)), "
                "i -> CAST(size(filter(_t.hs, h -> h = i)) AS FLOAT))"
            ).alias("values"),
        ).alias("Vec"),
    )
    qrow = tf.where(F.col("doc_id") == 0).select("Vec").head()
    qv = {
        "indices": [int(i) for i in qrow[0]["indices"]],
        "values": [float(v) for v in qrow[0]["values"]],
    }
    schema = TableSchema(
        name="sparse_life_docs",
        fields=[
            FieldSchema(name="doc_id", field_type=FieldType.INT8, primary_key=True),
            FieldSchema(
                name="Vec",
                field_type=FieldType.SPARSE_VECTOR_FLOAT,
                dimension=1 << 60,
                metric="EUCLIDEAN",
            ),
        ],
    )
    t = Table(spark, schema, _os.path.join(work, "sparse_life_docs"))
    t._init_storage()
    five = F.col("doc_id") % 5
    t.insert_df(tf.where(five.isin(0, 1, 2)))          # 60% bulk
    t.rebuild_sparse_index("Vec", buckets=32)
    t.insert_df(tf.where(five == 3))                   # 20% tail
    t.refresh_sparse_index("Vec")                      # -> delta dirs
    t.delete(filter="doc_id % 101 = 7")
    upd = tf.where(
        (F.col("doc_id") % 101 == 11) & (five != 4)
    ).select(
        "doc_id",
        F.struct(
            F.array(F.col("doc_id").cast("long")).alias("indices"),
            F.array(F.lit(1.0)).cast("array<float>").alias("values"),
        ).alias("Vec"),
    )
    t.insert_df(upd, upsert=True)
    t.insert_df(                                       # final live tail
        tf.where((five == 4) & (F.col("doc_id") % 101 != 7))
    )
    return t, qv


@query("table_sparse_index_lifecycle", oracle=_LIFE_ORACLE)
def table_sparse_index_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full sparse inverted-index LIFECYCLE vs a brute-force oracle on
    the final logical corpus (module comment above): build → delta
    refresh (refresh_sparse_index, r12) → delete → upsert → unindexed
    tail → dim-pruned exact search. One hash match certifies that
    every serving path the index has (main postings, delta postings,
    live-tail scan, dead-id semi-join, void-candidate completion)
    composes exactly across the whole mutation history — the same
    agreement discipline as the reference's pre/post-rebuild test
    (db_server.cpp:1596-1612), extended to mutations."""
    import shutil as _shutil
    import tempfile as _tempfile

    work = _tempfile.mkdtemp(prefix="vdb_sparse_life_")
    t, qv = build_sparse_lifecycle_table(spark, sf_dir, work)
    out = (
        t.search_sparse_indexed_df(qv, limit=10)
        .select("doc_id", F.col("_distance").alias("distance"))
        .localCheckpoint()
    )
    _shutil.rmtree(work, ignore_errors=True)
    return out
