"""Turns a workload report into the metric values of the result line and
the detail object printed before it."""

from __future__ import annotations

import json
import os
import statistics

import layers
from common import median, timing_summary
from tracing import self_times, span_counts

QUERY_KINDS = {
    "serve_write": ("query",),
    "index_refresh": ("vector_search", "text_search", "sparse_search"),
}
WRITE_KINDS = ("insert", "upsert", "delete", "delete_filter")
REFRESH_KINDS = ("vector_refresh", "text_refresh", "sparse_refresh")
# operations that write: a serving write request, or tail upkeep
UPKEEP_KINDS = {
    "serve_write": WRITE_KINDS,
    "index_refresh": ("append",) + REFRESH_KINDS,
}
BUILD_KINDS = ("vector_build", "text_build", "sparse_build")


def _end_to_end(workload: str, rep: dict) -> dict[str, float]:
    outcomes = rep["outcomes"]
    ok = outcomes.seconds()
    return {
        "setup_s": rep["setup_s"],
        "ops_per_s": len(ok) / rep["window_s"],
        "query_p50_ms": median(outcomes.seconds(*QUERY_KINDS[workload])) * 1000.0,
        "write_p50_ms": median(outcomes.seconds(*UPKEEP_KINDS[workload])) * 1000.0,
        "peak_rss_mb": rep["peak_rss_mb"],
    }


def _detail(workload: str, rep: dict) -> dict:
    o = rep["outcomes"]
    kinds = sorted({op.kind for op in o.ops})
    d: dict = {
        "setup_parts": rep["setup_parts"],
        "window_s": rep["window_s"],
        "fail_ratio": o.failed / max(1, o.attempted),
        "timings_ms": {k: timing_summary(o.seconds(k)) for k in kinds},
    }
    if workload == "serve_write":
        d["query_ms"] = timing_summary(o.seconds("query"))
        d["get_ms"] = timing_summary(o.seconds("get"))
        d["write_ms"] = timing_summary(o.seconds(*WRITE_KINDS))
    else:
        d["index_build_s"] = sum(o.seconds(*BUILD_KINDS))
        # one refresh = the tail append plus one family's refresh
        append = median(o.seconds("append"))
        d["refresh_p50_ms"] = (append + median(o.seconds(*REFRESH_KINDS))) * 1000.0
        d["indexed_search_p50_ms"] = median(o.seconds(*QUERY_KINDS[workload])) * 1000.0
    return d


def _per_layer(workload: str, rep: dict, names: list[str]) -> dict[str, float]:
    o = rep["outcomes"]
    tr = rep["trace"]
    timed = rep["timed_rids"]
    ok_s = sum(o.seconds())
    extras: dict[str, float] = {
        "trace.ops_per_s": len(o.seconds()) / rep["window_s"],
        "trace.overhead_ratio": ok_s / max(1e-9, ok_s - tr["cost_s"]),
    }
    spark_by = tr["spark"]
    if workload == "serve_write":
        reqs = [tr["requests"].get(rid, {}) for rid in timed]
        self_s: dict[str, float] = {}
        calls: dict[str, int] = {}
        for r in reqs:
            for k, v in r.get("self_s", {}).items():
                self_s[k] = self_s.get(k, 0.0) + v
            for k, v in r.get("calls", {}).items():
                calls[k] = calls.get(k, 0) + v
        plan_ms = sum(r.get("plan_ms", 0.0) for r in reqs)
        server_self = [
            op.seconds - r.get("engine_s", 0.0) for op, r in zip(o.ops, reqs) if op.ok
        ]
        reads = [rid for rid, op in zip(timed, o.ops) if op.kind in ("query", "get")]
        returned = sum(
            len(_records(op.result)) for op in o.ops if op.ok and op.kind in ("query", "get")
        )
        writes = [rid for rid, op in zip(timed, o.ops) if op.kind in WRITE_KINDS]
        extras.update(
            {
                "server.self_ms": statistics.fmean(server_self) * 1000.0 if server_self else 0.0,
                "table.rows_scanned_per_row_returned":
                    layers.sum_groups(spark_by, reads).get("input_records", 0.0) / max(1, returned),
                "table.segments_end": rep["segments_end"],
                "table.write_amp":
                    layers.sum_groups(spark_by, writes).get("output_bytes", 0.0)
                    / max(1, rep["inserted_json_bytes"]),
            }
        )
        divisor = len(o.ops)
    else:
        spans = [s for s in tr["spans"] if s["rid"] in set(timed)]
        self_s, calls = self_times(spans), span_counts(spans)
        plan_ms = sum(tr["plan_ms"].get(rid, 0.0) for rid in timed)
        extras.update(rep["layer_extras"])
        divisor = len(o.ops)
    return layers.assemble(
        names,
        divisor=divisor,
        self_s=self_s,
        calls=calls,
        spark=layers.sum_groups(spark_by, timed),
        plan_ms=plan_ms,
        extras=extras,
    )


def _records(reply) -> list:
    res = reply[1]["result"]
    return res["records"] if isinstance(res, dict) else res


def build(workload: str, rep: dict, names: list[str], trace: bool, work_root: str,
          seed: int) -> tuple[dict[str, float], dict]:
    detail = _detail(workload, rep)
    if not trace:
        return _end_to_end(workload, rep), detail
    values = _per_layer(workload, rep, names)
    path = os.path.join(work_root, f"trace-{workload}-{seed}.json")
    with open(path, "w") as f:
        json.dump({"spans": rep["trace"]["spans"], "per_layer": values}, f)
    detail["trace_file"] = os.path.relpath(path, os.path.dirname(work_root))
    return values, detail
