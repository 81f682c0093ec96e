"""Index upkeep workload, on the ``Table`` API with no server.

One table holds a 64-d dense vector, a text field and its trigram
sparse vector. A run builds all three index families (IVF_PQ with the
seeded Lloyd trainer, BM25, sparse inverted index), then repeats a fixed
cycle: append a 1,000-row tail with ``insert_df``, refresh each family,
and search each family with ``collect()``. Index upkeep is reported per
operation on a growing tail, not as a one-off build.
"""

from __future__ import annotations

import functools
import os
import time

import numpy as np

import checks
import datagen
from common import Outcomes, manifest_files, peak_rss_mb

BASE = 10_000
TAIL = 1_000
K = 10
IVF_K = 16
LLOYD_ROUNDS = 1
CYCLE_SECONDS = 13.0  # nominal wall time of one cycle on 4 cores
RECALL_QUERIES = 3
FAMILIES = ("vector", "text", "sparse")


def _schema():
    from vectordb_spark.schema import FieldSchema, FieldType, TableSchema

    return TableSchema(
        name="docs",
        fields=[
            FieldSchema(name="id", field_type=FieldType.INT8, primary_key=True),
            FieldSchema(
                name="vec", field_type=FieldType.VECTOR_FLOAT,
                dimension=datagen.DIM, metric="EUCLIDEAN",
            ),
            FieldSchema(name="text", field_type=FieldType.STRING),
            FieldSchema(
                name="sp", field_type=FieldType.SPARSE_VECTOR_FLOAT,
                dimension=datagen.SPARSE_DIM, metric="EUCLIDEAN",
            ),
        ],
    )


def _appended(result: dict, what: str) -> None:
    checks.check_count(int(result["appendedRecords"]), TAIL, what)


def _probe(rows: datagen.IndexRows, i: int):
    """(id, dense query, sparse query, text query) that all find row ``i``."""
    idx, val = datagen.trigram_vector(rows.text[i])
    return (
        int(rows.ids[i]),
        rows.vec[i].tolist(),
        {"indices": idx.tolist(), "values": val.tolist()},
        " ".join(rows.text[i].split()[:3]),
    )


def run(seed: int, seconds: int, trace: bool, work: str) -> dict:
    from spark_env import start_spark, stop_spark

    cycles = max(1, round(seconds / CYCLE_SECONDS))
    t_setup = time.perf_counter()
    spark = start_spark(work, trace)
    t_session = time.perf_counter()

    from tracing import Tracer, spark_by_group
    from vectordb_spark.table import Table

    base = datagen.index_rows(seed, BASE)
    tails = [datagen.index_rows(seed, TAIL, start=BASE + c * TAIL) for c in range(cycles)]
    paths = []
    for i, rows in enumerate([base] + tails):
        paths.append(os.path.join(work, f"rows{i}.parquet"))
        datagen.write_index_parquet(rows, paths[-1])
    t_gen = time.perf_counter()
    table = Table(spark, _schema(), os.path.join(work, "table", "docs"))
    table._init_storage()
    table.insert_df(spark.read.parquet(paths[0]))
    t_load = time.perf_counter()
    setup_s = t_load - t_setup

    tracer = None
    if trace:
        tracer = Tracer(spark)
        tracer.install_probes()
    timed = Outcomes()
    rids: list[str] = []
    checks_todo = []

    def op(kind: str, fn, ok=lambda r: True):
        rid = f"t{len(rids)}"
        rids.append(rid)
        if tracer is None:
            return timed.call(kind, fn, ok=ok)

        def traced():
            with tracer.span("op." + kind, rid):
                return fn()

        return timed.call(kind, traced, ok=ok)

    # each cycle's searches look for one row of the tail just appended
    queries = [
        _probe(rows, int(np.random.default_rng([seed, 6, c]).integers(0, TAIL)))
        for c, rows in enumerate(tails)
    ]

    t0 = time.perf_counter()
    op("vector_build", lambda: table.rebuild(
        "vec", index_type="IVF_PQ", k=IVF_K, train="lloyd", rounds=LLOYD_ROUNDS))
    op("text_build", lambda: table.rebuild_text_index("text"))
    op("sparse_build", lambda: table.rebuild_sparse_index("sp", buckets=32))
    for c, rows in enumerate(tails):
        path = paths[c + 1]
        op("append", lambda: table.insert_df(spark.read.parquet(path)))
        for fam, fn in (
            ("vector", lambda: table.refresh_index("vec")),
            ("text", lambda: table.refresh_text_index("text")),
            ("sparse", lambda: table.refresh_sparse_index("sp")),
        ):
            checks_todo.append((op(f"{fam}_refresh", fn), functools.partial(
                _appended, what=f"{fam} refresh appendedRecords")))
        want, qv, qsp, words = queries[c]
        r = op("vector_search", lambda: [
            x["id"] for x in table.search_indexed_df(qv, query_field="vec", limit=K).collect()
        ])
        checks_todo.append((r, functools.partial(
            checks.check_first, expected=want, what="vector search of an appended vector")))
        op("text_search", lambda: table.search_text_df(words, query_field="text", limit=K).collect())
        r = op("sparse_search", lambda: [
            x["id"] for x in table.search_sparse_indexed_df(qsp, query_field="sp", limit=K).collect()
        ])
        checks_todo.append((r, functools.partial(
            checks.check_contains, expected=want, what="sparse search of an appended row")))
    window_s = time.perf_counter() - t0

    # ---- correctness, outside the timed window
    failures = []
    for r, check in checks_todo:
        if not r.ok:
            continue  # counted below as a failed operation
        try:
            check(r.result)
        except (checks.CheckFailed, KeyError, TypeError) as exc:
            failures.append(str(exc))
    if timed.failed:
        failures.append(f"{timed.failed} operations failed")

    rep = {
        "setup_s": setup_s,
        "setup_parts": {"session_s": t_session - t_setup, "gen_s": t_gen - t_session,
                        "load_s": t_load - t_gen},
        "window_s": window_s,
        "outcomes": timed,
        "warmup": Outcomes(),
        "failures": failures,
        "timed_rids": rids,
        "trace": None,
    }
    if trace:
        spark_by = spark_by_group(spark)
        rep["layer_extras"] = _layer_extras(seed, table, timed, rids, tails, spark_by)
        rep["trace"] = {
            "spans": tracer.spans,
            "spark": spark_by,
            "plan_ms": dict(tracer.plan_ms),
            "cost_s": tracer.cost_s,
        }
    rep["peak_rss_mb"] = peak_rss_mb(os.getpid())
    stop_spark(spark)
    return rep


def _layer_extras(seed, table, timed: Outcomes, rids, tails, spark_by) -> dict:
    from layers import sum_groups

    def kind_rids(*kinds):
        return [rid for rid, o in zip(rids, timed.ops) if o.kind in kinds]

    def ms(kind):
        vals = timed.seconds(kind)
        return float(np.median(vals)) * 1000.0 if vals else 0.0

    tail_bytes = sum(t.nbytes_json for t in tails)
    refresh_in = sum_groups(spark_by, kind_rids(*(f"{f}_refresh" for f in FAMILIES)))
    append_out = sum_groups(spark_by, kind_rids("append"))
    searches = kind_rids(*(f"{f}_search" for f in FAMILIES))
    returned = sum(
        len(o.result) for o in timed.ops if o.ok and o.kind.endswith("_search")
    )
    out = {
        "index.refresh_input_bytes": refresh_in.get("input_bytes", 0.0) / tail_bytes,
        "table.write_amp": append_out.get("output_bytes", 0.0) / tail_bytes,
        "table.segments_end": manifest_files(table.path),
        "table.rows_scanned_per_row_returned":
            sum_groups(spark_by, searches).get("input_records", 0.0) / max(1, returned),
        "index.vector_recall_at_10": _recall(seed, table),
    }
    for fam in FAMILIES:
        out[f"index.{fam}_build_s"] = ms(f"{fam}_build") / 1000.0
        out[f"index.{fam}_refresh_ms"] = ms(f"{fam}_refresh")
        out[f"index.{fam}_search_ms"] = ms(f"{fam}_search")
    return out


def _recall(seed: int, table) -> float:
    """Recall of the indexed search against the exact ``search_df`` top-10
    on random queries: a quality guard."""
    rng = np.random.default_rng([seed, 7])
    hits = 0
    for _ in range(RECALL_QUERIES):
        q = rng.standard_normal(datagen.DIM).astype(np.float32).tolist()
        exact = {r["id"] for r in table.search_df(q, query_field="vec", limit=K).collect()}
        got = {r["id"] for r in table.search_indexed_df(q, query_field="vec", limit=K).collect()}
        hits += len(exact & got)
    return hits / (K * RECALL_QUERIES)
