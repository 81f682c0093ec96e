"""Benchmark entry point: one workload, one seed, one result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The last stdout line is the result
object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, its per-layer metrics with
``--trace 1``. The line before it is a detail object with the
workload's own timings, host telemetry and any error strings. The exit
code is 0 for a correct run, 1 when a correctness check failed, and 2
when the run could not complete (no result line is printed then).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("serve_write", "index_refresh")


def _import_engine() -> None:
    """The engine must come from this checkout, never from elsewhere."""
    sys.path.insert(0, ROOT)
    import vectordb_spark

    where = os.path.dirname(os.path.abspath(vectordb_spark.__file__))
    if os.path.dirname(where) != ROOT:
        raise ImportError(f"vectordb_spark imported from {where}, not from {ROOT}")


def _run_workload(name: str, seed: int, seconds: int, trace: bool, work: str) -> dict:
    from spark_env import prepare_env

    prepare_env(work)
    if name == "serve_write":
        import serve

        return serve.run(seed, seconds, trace, work)
    import index_refresh

    return index_refresh.run(seed, seconds, trace, work)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    from common import cpu_ticks, loadavg, nproc, read_contract, result_line

    contract = read_contract(ROOT)
    _import_engine()
    import report

    load_start = loadavg()
    steal_start, ticks_start = cpu_ticks()
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    t0 = time.perf_counter()
    try:
        rep = _run_workload(args.workload, args.seed, args.seconds, bool(args.trace), work)
        names = [m["name"] for m in contract["per_layer" if args.trace else "end_to_end"]]
        values, detail = report.build(args.workload, rep, names, bool(args.trace), work_root,
                                      args.seed)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    load_end = loadavg()
    steal_end, ticks_end = cpu_ticks()
    detail.update(
        workload=args.workload,
        seed=args.seed,
        trace=args.trace,
        run_s=time.perf_counter() - t0,
        nproc=nproc(),
        loadavg_start=load_start,
        loadavg_end=load_end,
        contaminated=load_start > nproc(),
        cpu_steal_pct=100.0 * (steal_end - steal_start) / max(1, ticks_end - ticks_start),
        failures=rep["failures"],
        errors=rep["outcomes"].errors() + rep["warmup"].errors(),
    )
    correct = not rep["failures"]
    print(json.dumps({"detail": detail}, default=float))
    print(result_line(contract, bool(args.trace), correct, rep["outcomes"], values), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report and exit without a result line
        traceback.print_exc()
        sys.exit(2)
