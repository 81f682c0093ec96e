"""The Spark-hosting server process of the serving workloads.

Builds the session, generates the seeded table and bulk-loads it with
``Table.insert_df``, then serves it with ``server.make_server`` on
loopback until its stdin closes. It then writes its peak RSS and, for
the traced run, its spans, Catalyst phase times and per-request Spark
stage metrics to ``--out``.

    python3 perfbench/serve_host.py --work DIR --seed N --rows N \
        --trace 0|1 --ready FILE --out FILE
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DB = "bench"
TABLE = "items"


def _atomic_json(path: str, obj: dict) -> None:
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f)
    os.replace(path + ".tmp", path)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--work", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--ready", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    sys.path.insert(0, ROOT)
    from spark_env import prepare_env, start_spark, stop_spark

    prepare_env(args.work)
    t0 = time.perf_counter()
    spark = start_spark(args.work, bool(args.trace))
    t_session = time.perf_counter()

    import datagen
    from common import peak_rss_mb
    from tracing import Tracer, self_times, span_counts, spark_by_group
    from vectordb_spark.catalog import Warehouse
    from vectordb_spark.server import make_server

    rows = datagen.serve_rows(args.seed, args.rows)
    src = os.path.join(args.work, "serve_rows.parquet")
    datagen.write_serve_parquet(rows, src)
    t_gen = time.perf_counter()

    root = os.path.join(args.work, "warehouse")
    table = Warehouse(spark, root).load_db(DB).create_table(datagen.serve_schema(TABLE))
    table.insert_df(spark.read.parquet(src))
    t_load = time.perf_counter()

    tracer = None
    if args.trace:
        tracer = Tracer(spark)
        tracer.install_probes()
    srv = make_server(spark, root, port=0)
    thread = threading.Thread(target=srv.serve_forever, daemon=True)
    thread.start()
    _atomic_json(
        args.ready,
        {
            "port": srv.server_address[1],
            "table_dir": os.path.join(root, DB, TABLE),
            "session_s": t_session - t0,
            "gen_s": t_gen - t_session,
            "load_s": t_load - t_gen,
        },
    )

    sys.stdin.read()  # the client closes stdin when the run is over
    srv.shutdown()
    srv.server_close()
    out: dict = {"peak_rss_mb": peak_rss_mb(os.getpid())}
    if tracer is not None:
        spans = tracer.spans
        by_rid: dict[str, list[dict]] = {}
        for s in spans:
            by_rid.setdefault(s["rid"], []).append(s)
        out["requests"] = {
            rid: {
                "self_s": self_times(group),
                "calls": span_counts(group),
                "engine_s": sum(s["t1"] - s["t0"] for s in group if s["name"] == "engine"),
                "plan_ms": tracer.plan_ms.get(rid, 0.0),
            }
            for rid, group in by_rid.items()
            if rid is not None
        }
        out["spark"] = spark_by_group(spark)
        out["trace_cost_s"] = tracer.cost_s
        out["spans"] = spans
    _atomic_json(args.out, out)
    stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
