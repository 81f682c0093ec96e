"""Shared pieces of the harness: percentiles, the per-operation outcome
log with failure isolation, host telemetry, and the result line."""

from __future__ import annotations

import json
import math
import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

# The percentile reported for a timing must have at least this many
# samples beyond it (p90 therefore needs 100 samples).
MIN_TAIL_SAMPLES = 10


class PercentileUnsupported(ValueError):
    """The sample is too small to support the requested percentile."""


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile ``q`` (0 < q < 1) of ``values``.

    The median needs one sample. A percentile above the median needs
    ``MIN_TAIL_SAMPLES`` samples beyond it and raises
    ``PercentileUnsupported`` otherwise, so a p90 read off 20 samples
    can never be reported."""
    if not 0.0 < q < 1.0:
        raise ValueError(f"percentile must be in (0, 1), got {q}")
    n = len(values)
    if n == 0:
        raise PercentileUnsupported("no samples")
    if q == 0.5:
        return statistics.median(values)
    if q > 0.5 and math.floor(n * (1.0 - q) + 1e-9) < MIN_TAIL_SAMPLES:
        raise PercentileUnsupported(
            f"p{q * 100:g} needs {math.ceil(MIN_TAIL_SAMPLES / (1.0 - q))} "
            f"samples, have {n}"
        )
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q * n) - 1)]


def median(values: list[float]) -> float:
    return percentile(values, 0.5)


@dataclass
class Op:
    kind: str
    seconds: float
    ok: bool
    error: str | None = None
    result: object = None


@dataclass
class Outcomes:
    """Every timed operation of a run. ``call`` isolates failures: an
    exception or a failed reply is recorded with its error string and
    counted, never raised, so one bad operation cannot abort the run or
    lose its result."""

    ops: list[Op] = field(default_factory=list)

    def call(self, kind: str, fn, *, ok=lambda result: True) -> Op:
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception as exc:  # noqa: BLE001 — failure isolation
            op = Op(kind, time.perf_counter() - t0, False, _error_string(exc))
        else:
            dt = time.perf_counter() - t0
            good = ok(result)
            op = Op(kind, dt, good, None if good else _reply_error(result), result)
        self.ops.append(op)
        return op

    @property
    def attempted(self) -> int:
        return len(self.ops)

    @property
    def failed(self) -> int:
        return sum(not o.ok for o in self.ops)

    def seconds(self, *kinds: str) -> list[float]:
        return [o.seconds for o in self.ops if o.ok and (not kinds or o.kind in kinds)]

    def errors(self) -> list[str]:
        return [f"{o.kind}: {o.error}" for o in self.ops if not o.ok]


def _error_string(exc: BaseException) -> str:
    last = traceback.extract_tb(exc.__traceback__)[-1:] if exc.__traceback__ else []
    where = f" at {last[0].filename}:{last[0].lineno}" if last else ""
    return f"{type(exc).__name__}: {str(exc)[:300]}{where}"


def _reply_error(result) -> str:
    if isinstance(result, tuple) and len(result) == 2:
        code, body = result
        msg = body.get("message") if isinstance(body, dict) else body
        return f"HTTP {code}: {str(msg)[:300]}"
    return f"unexpected result: {str(result)[:300]}"


def timing_summary(values: list[float], scale: float = 1000.0) -> dict:
    """Median and p90 (``None`` with the reason when the sample cannot
    support it) of ``values`` seconds, scaled (ms by default)."""
    out: dict = {"n": len(values)}
    for label, q in (("p50", 0.5), ("p90", 0.9)):
        try:
            out[label] = percentile(values, q) * scale
        except PercentileUnsupported as exc:
            out[label] = None
            out[f"{label}_unsupported"] = str(exc)
    return out


# ------------------------------------------------------------- telemetry


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(p) for p in f.read().split()]
    except OSError:
        return []


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def peak_rss_mb(pid: int) -> float:
    """Peak RSS (VmHWM) of the Spark-hosting Python process ``pid`` plus
    its JVM, the ``java`` process among its descendants."""
    kb = _status_kb(pid, "VmHWM")
    stack = _children(pid)
    while stack:
        child = stack.pop()
        if _comm(child) == "java":
            kb += _status_kb(child, "VmHWM")
        else:
            stack.extend(_children(child))
    return kb / 1024.0


def manifest_files(table_dir: str) -> int:
    """Data dirs listed by a table's newest committed manifest on disk
    (the highest ``_meta.s<N>.json``, else ``_meta.json``)."""
    seqs = [
        int(n[len("_meta.s"):-len(".json")])
        for n in os.listdir(table_dir)
        if n.startswith("_meta.s") and n.endswith(".json")
    ]
    name = f"_meta.s{max(seqs)}.json" if seqs else "_meta.json"
    with open(os.path.join(table_dir, name)) as f:
        return len(json.load(f)["files"])


def read_contract(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def result_line(contract: dict, trace: bool, correct: bool, outcomes: Outcomes,
                values: dict[str, float]) -> str:
    """The last stdout line: every metric the contract names for this
    mode (end-to-end untraced, per-layer traced), with its unit."""
    specs = contract["per_layer" if trace else "end_to_end"]
    missing = [s["name"] for s in specs if s["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not computed: {missing}")
    metrics = {
        s["name"]: {"value": float(values[s["name"]]), "unit": s["unit"]}
        for s in specs
    }
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": outcomes.attempted,
            "failed": outcomes.failed,
            "metrics": metrics,
        }
    )
