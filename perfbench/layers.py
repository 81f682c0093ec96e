"""Per-layer metrics of the traced run.

Layer times are self times (span time minus child spans) summed over
the timed operations and divided by the number of operations, so the
layers of one operation add up to its latency. Spark counters are
summed over the stages the timed operations launched, divided the same
way. A layer the workload does not touch reports 0.
"""

from __future__ import annotations

from collections import defaultdict

# per-layer metric -> span name of tracing.PROBES
SELF_MS = {
    "catalog.open_ms": "catalog",
    "expr.parse_ms": "expr",
    "table.plan_ms": "table.plan",
    "table.collect_ms": "table.collect",
    "facets.ms": "facets",
    "table.insert_ms": "table.insert",
    "table.delete_ms": "table.delete",
    "table.append_ms": "table.append",
}
SPARK = [
    "jobs", "stages", "tasks", "job_ms", "executor_run_ms", "executor_cpu_ms",
    "gc_ms", "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes",
    "spill_bytes",
]


def sum_groups(by_group: dict[str, dict[str, float]], groups) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for g in groups:
        for k, v in by_group.get(g, {}).items():
            out[k] += v
    return dict(out)


def assemble(names: list[str], *, divisor: int, self_s: dict[str, float],
             calls: dict[str, int], spark: dict[str, float], plan_ms: float,
             extras: dict[str, float]) -> dict[str, float]:
    """Every per-layer metric in ``names``; ``extras`` supplies the
    workload-specific ones."""
    d = max(1, divisor)
    values = {n: 0.0 for n in names}
    for metric, span in SELF_MS.items():
        values[metric] = self_s.get(span, 0.0) * 1000.0 / d
    values["expr.calls_per_op"] = calls.get("expr", 0) / d
    for key in SPARK:
        values[f"spark.{key}"] = spark.get(key, 0.0) / d
    values["spark.plan_ms"] = plan_ms / d
    values.update(extras)
    unknown = set(values) - set(names)
    if unknown:
        raise ValueError(f"metrics not in BENCHMARK.json per_layer: {sorted(unknown)}")
    return values
