"""Table-level IVF index: rebuild job, partition-pruned search, hybrid
tail merge — mirroring the reference's pre/post-rebuild agreement tests
(db_server.cpp: QueryDenseVectorDuringRebuild etc.)."""

from __future__ import annotations

import os

import pytest

from vectordb_spark.catalog import Warehouse

SCHEMA = {
    "name": "vecs",
    "fields": [
        {"name": "ID", "dataType": "INT", "primaryKey": True},
        {
            "name": "Embedding",
            "dataType": "VECTOR_FLOAT",
            "dimensions": 4,
            "metricType": "EUCLIDEAN",
        },
    ],
}


def _vec(i: int) -> list[float]:
    # deterministic, mildly clustered vectors
    return [
        float((i * 37 % 100) / 100.0),
        float((i * 53 % 100) / 100.0),
        float((i % 10) / 10.0),
        float(i % 3),
    ]


@pytest.fixture
def table(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.load_db("idxdb").create_table(SCHEMA)
    t.insert([{"ID": i, "Embedding": _vec(i)} for i in range(200)])
    return t


def test_rebuild_and_search(table):
    info = table.rebuild("Embedding", k=8)
    assert info["version"] == 1 and info["indexedRecords"] == 200
    q = _vec(17)
    exact = [r._row_id for r in table.search_df(q, limit=5).collect()]
    # full probe == exact (every cluster scanned)
    full = [
        r._row_id
        for r in table.search_indexed_df(q, limit=5, nprobe=8).collect()
    ]
    assert full == exact
    # partial probe: the query's own row must be found (it is in the
    # probed nearest cluster by construction)
    part = table.search_indexed_df(q, limit=5, nprobe=2).collect()
    # stored vectors are float32; the double query literal differs in
    # the last ulp → distance ~1e-16, not exactly 0
    assert part[0]["ID"] == 17 and part[0]["_distance"] < 1e-10


def test_hybrid_tail_search(table):
    table.rebuild("Embedding", k=8)
    # rows inserted AFTER the build are unindexed; hybrid search must
    # still see them (reference T5 merge)
    table.insert([{"ID": 999, "Embedding": [10.0, 10.0, 10.0, 10.0]}])
    res = table.search_indexed_df([10.0, 10.0, 10.0, 10.0], limit=1, nprobe=1)
    assert res.head()["ID"] == 999


def test_rebuild_versions(table):
    v1 = table.rebuild("Embedding", k=8)
    table.insert([{"ID": 500, "Embedding": _vec(500)}])
    v2 = table.rebuild("Embedding", k=8)
    assert v2["version"] == v1["version"] + 1
    assert v2["indexedRecords"] == 201
    # after rebuild the tail is empty → pure index path, still exact at
    # full probe
    q = _vec(500)
    res = table.search_indexed_df(q, limit=1, nprobe=8)
    assert res.head()["ID"] == 500


def test_index_with_filter(table):
    table.rebuild("Embedding", k=8)
    q = _vec(17)
    res = table.search_indexed_df(q, limit=5, nprobe=8, filter="ID <= 20")
    rows = res.collect()
    assert rows and all(r["ID"] <= 20 for r in rows)


def test_rebuild_ivf_sq8_stores_codes_not_floats(table, spark):
    info = table.rebuild("Embedding", index_type="IVF_SQ8", k=8)
    meta = table._load_meta()
    idx_meta = meta["indexes"]["Embedding"]
    assert idx_meta["type"] == "IVF_SQ8"
    idx_df = spark.read.parquet(os.path.join(table.path, idx_meta["dir"]))
    # the index holds codes + scale + norm — never the float vectors
    assert sorted(idx_df.columns) == ["_cluster", "_norm2", "_q", "_row_id", "_scale"]
    assert dict(idx_df.dtypes)["_q"] == "array<tinyint>"
    assert idx_df.count() == 200
    assert info["indexedRecords"] == 200


def test_sq8_index_search_matches_exact(table):
    # quantized probe + exact re-rank must agree with brute force on
    # the full-probe path (every cluster scanned → candidate superset)
    table.rebuild("Embedding", index_type="IVF_SQ8", k=8)
    q = _vec(7)
    exact = [
        r["_row_id"]
        for r in table.search_df(q, query_field="Embedding", limit=5).collect()
    ]
    approx = [
        r["_row_id"]
        for r in table.search_indexed_df(
            q, query_field="Embedding", limit=5, nprobe=8
        ).collect()
    ]
    assert approx == exact


def test_sq8_index_tail_merge(table):
    # rows inserted after the rebuild are brute-forced and merged — the
    # reference's hybrid indexed+tail discipline holds for SQ8 too
    table.rebuild("Embedding", index_type="IVF_SQ8", k=8)
    table.insert([{"ID": 900, "Embedding": [0.11, 0.22, 0.33, 0.44]}])
    got = table.search_indexed_df(
        [0.11, 0.22, 0.33, 0.44], query_field="Embedding", limit=1, nprobe=8
    ).collect()
    assert got[0]["ID"] == 900  # the unindexed row is findable at once


def test_sq8_search_survives_heavy_deletes(table):
    # index ids for deleted rows must not consume the refine budget:
    # delete 75% of rows after the build, search still returns the
    # exact top-5 of the LIVE rows
    table.rebuild("Embedding", index_type="IVF_SQ8", k=8)
    table.delete(filter="ID >= 50")
    q = _vec(7)
    exact = [r["_row_id"] for r in table.search_df(q, limit=5).collect()]
    approx = [
        r["_row_id"]
        for r in table.search_indexed_df(q, limit=5, nprobe=8).collect()
    ]
    assert approx == exact
    assert len(approx) == 5


def test_persisted_index_separation_fallback(spark, tmp_path):
    # unclusterable vectors: the persisted index must carry the
    # separation stats and auto-probe (nprobe=None) must answer
    # exactly via the fallback — not lose recall probing
    import numpy as np

    from vectordb_spark.catalog import Warehouse

    rng = np.random.RandomState(3)
    wh = Warehouse(spark, str(tmp_path / "wh2"))
    t = wh.load_db("rnddb").create_table(
        {
            "name": "rnd",
            "fields": [
                {"name": "ID", "dataType": "INT", "primaryKey": True},
                {
                    "name": "Embedding",
                    "dataType": "VECTOR_FLOAT",
                    "dimensions": 16,
                    "metricType": "EUCLIDEAN",
                },
            ],
        }
    )
    t.insert(
        [
            {"ID": i, "Embedding": [float(x) for x in rng.standard_normal(16)]}
            for i in range(300)
        ]
    )
    t.rebuild("Embedding", k=16)
    info = t._load_meta()["indexes"]["Embedding"]
    assert info["mean_intra_radius"] is not None
    q = [float(x) for x in rng.standard_normal(16)]
    exact = [r["_row_id"] for r in t.search_df(q, limit=10).collect()]
    auto = [
        r["_row_id"] for r in t.search_indexed_df(q, limit=10).collect()
    ]
    assert auto == exact  # fallback fired → exact by construction


def test_writer_lock_reentrant_across_handles(tmp_path):
    # nested same-thread mutations through DIFFERENT Table handles on
    # one path must re-enter, not self-deadlock on the flock
    from vectordb_spark.schema import FieldSchema, FieldType, TableSchema
    from vectordb_spark.table import Table

    schema = TableSchema(
        name="reent",
        fields=[
            FieldSchema(name="ID", field_type=FieldType.INT8, primary_key=True),
            FieldSchema(
                name="Emb", field_type=FieldType.VECTOR_FLOAT,
                dimension=2, metric="EUCLIDEAN",
            ),
        ],
    )
    path = str(tmp_path / "reent")
    t1 = Table(None, schema, path)
    t1._init_storage()
    t2 = Table(None, schema, path)
    with t1.writer_lock():
        with t2.writer_lock():  # would hang before the held-paths fix
            meta = t2._load_meta()
            meta["version"] += 1
            t2._save_meta(meta)
    assert t1._load_meta()["version"] == 1


def test_rebuild_ivf_pq_stores_codes_and_codebook(table, spark):
    info = table.rebuild("Embedding", index_type="IVF_PQ", k=8)
    meta = table._load_meta()
    idx_meta = meta["indexes"]["Embedding"]
    assert idx_meta["type"] == "IVF_PQ"
    assert idx_meta["pq_codebook"]  # trained fine-quantizer persisted
    idx_df = spark.read.parquet(os.path.join(table.path, idx_meta["dir"]))
    # the index holds sub-codes only — never the float vectors
    assert sorted(idx_df.columns) == ["_cluster", "_pq_codes", "_row_id"]
    assert idx_df.count() == 200
    assert info["indexedRecords"] == 200


def test_ivf_pq_search_matches_exact_and_merges_tail(table):
    table.rebuild("Embedding", index_type="IVF_PQ", k=8)
    q = _vec(7)
    exact = [r["_row_id"] for r in table.search_df(q, limit=5).collect()]
    approx = [
        r["_row_id"]
        for r in table.search_indexed_df(q, limit=5, nprobe=8).collect()
    ]
    assert approx == exact
    # unindexed tail merges
    table.insert([{"ID": 900, "Embedding": [0.11, 0.22, 0.33, 0.44]}])
    got = table.search_indexed_df(
        [0.11, 0.22, 0.33, 0.44], limit=1, nprobe=8
    ).collect()
    assert got[0]["ID"] == 900


def test_ivf_pq_survives_heavy_deletes(table):
    table.rebuild("Embedding", index_type="IVF_PQ", k=8)
    table.delete(filter="ID >= 50")
    q = _vec(7)
    exact = [r["_row_id"] for r in table.search_df(q, limit=5).collect()]
    approx = [
        r["_row_id"]
        for r in table.search_indexed_df(q, limit=5, nprobe=8).collect()
    ]
    assert approx == exact


def test_ivf_pq_rejects_dot_product(spark, tmp_path):
    from vectordb_spark.schema import VectorDBError

    wh = Warehouse(spark, str(tmp_path / "whdot"))
    t = wh.load_db("dotdb").create_table(
        {
            "name": "dots",
            "fields": [
                {"name": "ID", "dataType": "INT", "primaryKey": True},
                {
                    "name": "Embedding",
                    "dataType": "VECTOR_FLOAT",
                    "dimensions": 4,
                    "metricType": "DOT_PRODUCT",
                },
            ],
        }
    )
    t.insert([{"ID": i, "Embedding": _vec(i)} for i in range(10)])
    with pytest.raises(VectorDBError, match="IVF_PQ"):
        t.rebuild("Embedding", index_type="IVF_PQ", k=2)


def test_refresh_index_appends_delta(table):
    """Incremental vector-index refresh: tail rows self-assign to the
    stored centroids into a delta dir — post-refresh searches probe
    both dirs and match the exact path at full probe, with no live
    tail left (indexed_up_to at head)."""
    table.rebuild("Embedding", k=8)
    # _vec is periodic mod 300 — tail rows need DISTINCT vectors so the
    # delta-resident row is the unambiguous nearest neighbor
    tail_vec = lambda i: [5.0 + i * 0.1, 5.0 - i * 0.1, 4.0, 3.0]  # noqa: E731
    table.insert([{"ID": 900 + i, "Embedding": tail_vec(i)} for i in range(40)])
    # an orphan of a refresh that died before its commit is replaced
    _plant_orphan(table.path, "index_Embedding_v1_delta1")
    out = table.refresh_index("Embedding")
    assert out["version"] == 1 and out["appendedRecords"] == 40
    # no-op second refresh
    assert table.refresh_index("Embedding")["appendedRecords"] == 0
    q = tail_vec(5)
    exact = [r["ID"] for r in table.search_df(q, limit=5).collect()]
    full = [
        r["ID"]
        for r in table.search_indexed_df(q, limit=5, nprobe=8).collect()
    ]
    assert full == exact
    # partial probe still finds the query's own (delta-resident) row
    part = table.search_indexed_df(q, limit=3, nprobe=2).collect()
    assert part[0]["ID"] == 905
    # vacuum keeps the live delta dir...
    table.vacuum(grace_seconds=0)
    left = {d for d in os.listdir(table.path) if d.startswith("index_")}
    assert left == {"index_Embedding_v1", "index_Embedding_v1_delta1"}
    # ...and a full rebuild supersedes both v1 dirs
    table.rebuild("Embedding", k=8)
    table.vacuum(grace_seconds=0)
    left = {d for d in os.listdir(table.path) if d.startswith("index_")}
    assert left == {"index_Embedding_v2"}
    full = [
        r["ID"]
        for r in table.search_indexed_df(q, limit=5, nprobe=8).collect()
    ]
    assert full == exact


def test_refresh_index_sq8_and_sizes(table):
    table.rebuild("Embedding", index_type="IVF_SQ8", k=4)
    meta_sizes_before = sum(
        int(n)
        for n in table._load_meta()["indexes"]["Embedding"]["cluster_sizes"].values()
    )
    tail_vec = lambda i: [6.0 + i * 0.1, 6.0 - i * 0.1, 5.0, 4.0]  # noqa: E731
    table.insert([{"ID": 900 + i, "Embedding": tail_vec(i)} for i in range(25)])
    assert table.refresh_index("Embedding")["appendedRecords"] == 25
    info = table._load_meta()["indexes"]["Embedding"]
    assert sum(int(n) for n in info["cluster_sizes"].values()) == (
        meta_sizes_before + 25
    )
    q = tail_vec(10)
    got = table.search_indexed_df(q, limit=3, nprobe=4).collect()
    assert got[0]["ID"] == 910


def test_refresh_index_ivf_pq_lloyd_delta_codes(table):
    """refresh_index after a LLOYD-trained IVF_PQ rebuild: tail rows
    residual-encode against the manifest's INTEGER codebook (the
    round-9 replayable trainer) into a delta dir, and post-refresh
    probe search serves them from stored codes."""
    table.rebuild("Embedding", index_type="IVF_PQ", k=8, train="lloyd",
                  rounds=1)
    info = table._load_meta()["indexes"]["Embedding"]
    assert info["train"] == "lloyd" and info["pq_residual"]
    tail_vec = lambda i: [7.0 + i * 0.1, 7.0 - i * 0.1, 6.0, 5.0]  # noqa: E731
    table.insert([{"ID": 900 + i, "Embedding": tail_vec(i)} for i in range(20)])
    assert table.refresh_index("Embedding")["appendedRecords"] == 20
    q = tail_vec(4)
    got = table.search_indexed_df(q, limit=3, nprobe=8).collect()
    assert got[0]["ID"] == 904
    exact = [r["_row_id"] for r in table.search_df(q, limit=5).collect()]
    approx = [
        r["_row_id"]
        for r in table.search_indexed_df(q, limit=5, nprobe=8).collect()
    ]
    assert approx == exact


def test_refresh_index_refuses_residual_convention_mismatch(table):
    """ADVICE r9: an IVF_PQ index persisted under a DIFFERENT residual
    arithmetic convention (or a pre-tag manifest) must not get delta
    codes appended under the current one — the mix is silent recall
    skew. refresh_index raises a typed error demanding rebuild()."""
    from vectordb_spark.schema import VectorDBError

    table.rebuild("Embedding", index_type="IVF_PQ", k=4)
    meta = table._load_meta()
    meta["indexes"]["Embedding"]["pq_residual_convention"] = "float-v1"
    table._save_meta(meta)
    table.insert([{"ID": 900, "Embedding": [9.0, 9.0, 9.0, 9.0]}])
    with pytest.raises(VectorDBError, match="convention"):
        table.refresh_index("Embedding")
    # rebuild() re-encodes and stamps the current tag: refresh works
    table.rebuild("Embedding", index_type="IVF_PQ", k=4)
    table.insert([{"ID": 901, "Embedding": [9.1, 9.1, 9.1, 9.1]}])
    assert table.refresh_index("Embedding")["appendedRecords"] >= 1


def test_refresh_index_probes_untagged_manifest(table):
    """An UNTAGGED residual manifest (pre-tag build) is ambiguous, not
    wrong: refresh_index re-encodes a sample of already-indexed rows
    under the current convention and compares with the STORED codes —
    a byte match adopts the tag and the refresh proceeds; a mismatch
    (here: a corrupted codebook makes every re-encode diverge) rejects."""
    from vectordb_spark.schema import VectorDBError

    table.rebuild("Embedding", index_type="IVF_PQ", k=4)
    meta = table._load_meta()
    del meta["indexes"]["Embedding"]["pq_residual_convention"]
    table._save_meta(meta)
    table.insert([{"ID": 900, "Embedding": [9.0, 9.0, 9.0, 9.0]}])
    assert table.refresh_index("Embedding")["appendedRecords"] == 1
    info = table._load_meta()["indexes"]["Embedding"]
    assert info["pq_residual_convention"] == "double-v2"  # tag adopted

    # untagged AND incompatible: swap every codeword pair in subspace 0
    # so each stored code's re-encode lands on a different index
    meta = table._load_meta()
    idx = meta["indexes"]["Embedding"]
    idx["pq_residual_convention"] = None
    cb0 = idx["pq_codebook"][0]
    idx["pq_codebook"][0] = [cb0[1], cb0[0], cb0[3], cb0[2]]
    table._save_meta(meta)
    table.insert([{"ID": 901, "Embedding": [9.2, 9.2, 9.2, 9.2]}])
    with pytest.raises(VectorDBError, match="convention"):
        table.refresh_index("Embedding")



def _plant_orphan(table_path: str, name: str) -> None:
    # what a refresh that died between its delta write and its
    # manifest commit leaves behind
    os.makedirs(os.path.join(table_path, name))
    with open(os.path.join(table_path, name, "part-00000-torn.parquet"), "w") as fh:
        fh.write("torn write")


def test_refresh_replaces_orphaned_text_and_sparse_deltas(spark, tmp_path):
    """Every family writes its delta dirs the same way: an orphaned
    ``<dir>_delta1`` (and sparse norms sidecar) is replaced by the next
    refresh, never an error (the vector case is in
    test_refresh_index_appends_delta)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    t = wh.load_db("orphdb").create_table(
        {
            "name": "ts",
            "fields": [
                {"name": "ID", "dataType": "INT", "primaryKey": True},
                {"name": "Body", "dataType": "STRING"},
                {
                    "name": "Sp",
                    "dataType": "SPARSE_VECTOR_FLOAT",
                    "dimensions": 100,
                    "metricType": "EUCLIDEAN",
                },
            ],
        }
    )

    def rows(lo, hi):
        return [
            {
                "ID": i,
                "Body": f"w{i % 5} w{i % 3} common",
                "Sp": {"indices": [i % 50, 50 + i % 7], "values": [1.0, 0.5]},
            }
            for i in range(lo, hi)
        ]

    t.insert(rows(0, 60))
    t.rebuild_text_index("Body", buckets=4)
    t.rebuild_sparse_index("Sp", buckets=4)
    t.insert(rows(60, 70))
    for d in (
        "textindex_Body_v1_delta1",
        "sparseindex_Sp_v1_delta1",
        "sparseindex_Sp_v1_delta1_norms",
    ):
        _plant_orphan(t.path, d)
    assert t.refresh_text_index("Body")["appendedRecords"] == 10
    assert t.refresh_sparse_index("Sp")["appendedRecords"] == 10
    assert t.search_text_df("common", limit=100).count() == 70
    sq = {"indices": [15, 52], "values": [1.0, 1.0]}
    assert [r["ID"] for r in t.search_sparse_indexed_df(sq, limit=5).collect()] == [
        r["ID"] for r in t.search_df(sq, limit=5).collect()
    ]
