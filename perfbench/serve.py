"""Serving workload: one closed-loop client over the REST server.

``serve_write`` runs a fixed cycle against a 100,000-row table held by a
separate server process (serve_host.py): insert a 100-record batch,
query, upsert 20 existing keys, get a page, delete 20 keys, delete by
filter, query. The client waits for each reply before sending the next
request. A numpy model of the table replays the same writes after the
timed window and checks every reply against it.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np

import checks
import datagen
from common import Outcomes, manifest_files

TABLE = "items"
ROWS = 100_000
BATCH = 100
UPSERT = 20
DELETE = 20
DELETE_FILTER = 20  # rows of each insert batch tagged for the filter delete
LIMIT = 10
PAGE = 20
CYCLE_SECONDS = 7.5  # nominal wall time of one warm cycle on 4 cores
HOST_TIMEOUT_S = 170
HERE = os.path.dirname(os.path.abspath(__file__))


# ------------------------------------------------------------------ model


class TableModel:
    """Exact state of the served table, by primary key."""

    def __init__(self, base: datagen.ServeRows, capacity: int):
        self.cat = np.zeros(capacity, np.int32)
        self.price = np.zeros(capacity, np.float64)
        self.tag = np.zeros(capacity, np.int32)
        self.vec = np.zeros((capacity, datagen.DIM), np.float32)
        self.live = np.zeros(capacity, bool)
        self.write(base)

    def write(self, rows: datagen.ServeRows) -> None:
        i = rows.ids
        self.cat[i], self.price[i], self.tag[i], self.vec[i] = (
            rows.cat, rows.price, rows.tag, rows.vec,
        )
        self.live[i] = True

    def delete(self, ids) -> int:
        ids = np.asarray(ids, dtype=np.int64)
        n = int(self.live[ids].sum())
        self.live[ids] = False
        return n

    def live_ids(self) -> np.ndarray:
        return np.flatnonzero(self.live)


# Pre-filter templates: (filter text, numpy predicate over the model).
# Cycle c uses template c % 3, so every seed runs the same mix.
def _prefilter(kind: int, rng: np.random.Generator):
    if kind == 0:
        a = int(rng.integers(3, 16))
        return f"cat < {a}", lambda m: m.cat < a
    if kind == 1:
        lo = float(rng.integers(0, 60))
        return (
            f"price >= {lo} AND price < {lo + 40.0}",
            lambda m: (m.price >= lo) & (m.price < lo + 40.0),
        )
    k = int(rng.integers(0, datagen.N_TAG))
    return f"tag = 't{k}'", lambda m: m.tag == k


@dataclass
class Request:
    kind: str
    call: str  # Client method
    kwargs: dict
    # fn(model, reply): applies the request to the model and checks the
    # reply against it, raising CheckFailed
    expect: object = None
    rid: str = ""


@dataclass
class Schedule:
    warmup: list[Request] = field(default_factory=list)
    timed: list[Request] = field(default_factory=list)


def _cycle(seed: int, c: int, base: datagen.ServeRows, model_ids_pool: np.ndarray,
           rng: np.random.Generator) -> list[Request]:
    """The seven requests of write cycle ``c``."""
    new = datagen.serve_rows(seed, BATCH, start=ROWS + c * BATCH)
    new.tag[:DELETE_FILTER] = 1000 + c
    up_ids = rng.choice(model_ids_pool, UPSERT, replace=False)
    up = datagen.serve_rows(seed, UPSERT, start=10_000_000 + c * UPSERT)
    up.ids = up_ids.astype(np.int64)
    del_ids = rng.choice(np.setdiff1d(model_ids_pool, up_ids), DELETE, replace=False)
    pre_filter, pre_pred = _prefilter(c % 3, rng)
    q1 = rng.standard_normal(datagen.DIM).astype(np.float32)
    q2 = rng.standard_normal(datagen.DIM).astype(np.float32)
    # the @distance bound sits midway between the 6th and 7th nearest
    # base rows, so the post-filter keeps fewer rows than the limit
    diff = base.vec.astype(np.float64) - q2
    d = np.sort(np.einsum("ij,ij->i", diff, diff))
    bound = float((d[5] + d[6]) / 2)
    g_cat = int(rng.integers(0, datagen.N_CAT))
    g_price = float(rng.integers(20, 80))
    g_skip = int(rng.integers(0, 60))
    g_filter = f"cat = {g_cat} AND price > {g_price}"
    facet = [{"group": ["cat"], "aggregate": ["COUNT(*)"]}]

    def query_expect(q, pred, n=LIMIT, facets=False):
        def expect(m: TableModel, reply) -> None:
            res = reply[1]["result"]
            records = res["records"] if facets else res
            got = [r["id"] for r in records]
            cand = m.live & pred(m)
            ids = np.flatnonzero(cand)
            checks.check_topk(got, ids, m.vec[ids], q, n)
            if facets:
                counts = {f["cat"]: int(f["COUNT(*)"]) for f in res["facets"][0]}
                want: dict[int, int] = {}
                for i in got:
                    want[int(m.cat[i])] = want.get(int(m.cat[i]), 0) + 1
                if counts != want:
                    raise checks.CheckFailed(f"facet counts {counts}, expected {want}")
        return expect

    def page_expect(m: TableModel, reply) -> None:
        matches = int((m.live & (m.cat == g_cat) & (m.price > g_price)).sum())
        checks.check_page(len(reply[1]["result"]), matches, g_skip, PAGE)

    def delete_filter_expect(m: TableModel, reply) -> None:
        n = m.delete(np.flatnonzero(m.live & (m.tag == 1000 + c)))
        checks.check_count(int(reply[1]["result"]["deleted"]), n, "deleted by filter")

    def delete_expect(m: TableModel, reply) -> None:
        n = m.delete(del_ids)
        checks.check_count(int(reply[1]["result"]["deleted"]), n, "deleted by key")

    def write_expect(rows, key_n):
        def expect(m: TableModel, reply) -> None:
            m.write(rows)
            checks.check_count(int(reply[1]["result"]["inserted"]), key_n, "inserted")
        return expect

    return [
        Request("insert", "insert", {"records": datagen.serve_records(new)},
                expect=write_expect(new, BATCH)),
        Request("query", "query",
                {"query_vector": q1.tolist(), "response_fields": ["id"],
                 "limit": LIMIT, "filter": pre_filter},
                expect=query_expect(q1, pre_pred)),
        Request("upsert", "upsert", {"records": datagen.serve_records(up)},
                expect=write_expect(up, UPSERT)),
        Request("get", "get",
                {"response_fields": ["id"], "filter": g_filter, "skip": g_skip,
                 "limit": PAGE},
                expect=page_expect),
        Request("delete", "delete", {"primary_keys": [int(i) for i in del_ids]},
                expect=delete_expect),
        Request("delete_filter", "delete", {"filter": f"tag = 'w{c}'"},
                expect=delete_filter_expect),
        Request("query", "query",
                {"query_vector": q2.tolist(), "response_fields": ["id"],
                 "limit": LIMIT, "filter": f"@distance < {bound!r}",
                 "facets": facet},
                expect=query_expect(
                    q2,
                    lambda m: np.einsum(
                        "ij,ij->i", m.vec.astype(np.float64) - q2,
                        m.vec.astype(np.float64) - q2,
                    ) < bound,
                    facets=True,
                )),
    ]


def schedule(seed: int, base: datagen.ServeRows, cycles: int) -> Schedule:
    """Timed cycles 1..cycles. The warm-up sends the reads of a cycle 0
    (both query shapes and a get page); the write paths warm up inside
    the first timed cycle, which keeps set-up short."""
    rng = np.random.default_rng([seed, 4])
    # upserts and key deletes draw from disjoint slices of the base rows,
    # one slice per cycle, so every drawn key is live when it is used
    pools = np.array_split(rng.permutation(ROWS), cycles + 1)
    reqs = [_cycle(seed, c, base, pools[c], rng) for c in range(cycles + 1)]
    s = Schedule(
        warmup=[r for r in reqs[0] if r.kind in ("query", "get")],
        timed=[r for cyc in reqs[1:] for r in cyc],
    )
    for i, r in enumerate(s.warmup):
        r.rid = f"w{i}"
    for i, r in enumerate(s.timed):
        r.rid = f"t{i}"
    return s


# ----------------------------------------------------------------- client


def _client_class():
    from vectordb_spark.client import Client

    class RidClient(Client):
        """Client that adds the current request id to every JSON payload
        (an extra key the server ignores) so server spans join up."""

        rid: str | None = None

        def _request(self, method, path, payload=None):
            if self.rid is not None and payload is not None:
                payload = {**payload, "_rid": self.rid}
            return super()._request(method, path, payload)

    return RidClient


def _send(client, req: Request):
    client.rid = req.rid
    return getattr(client, req.call)(TABLE, **req.kwargs)


def _ok(reply) -> bool:
    return reply[0] == 200


def _wait_ready(proc: subprocess.Popen, path: str, log: str) -> dict:
    deadline = time.monotonic() + HOST_TIMEOUT_S
    while time.monotonic() < deadline:
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        if proc.poll() is not None:
            break
        time.sleep(0.05)
    raise RuntimeError(f"server process did not become ready; log tail:\n{_tail(log)}")


def _tail(path: str, n: int = 30) -> str:
    try:
        with open(path, errors="replace") as f:
            return "".join(f.readlines()[-n:])
    except OSError:
        return ""


def run(seed: int, seconds: int, trace: bool, work: str) -> dict:
    """Run ``serve_write``; returns the workload report (see run.py)."""
    cycles = max(1, round(seconds / CYCLE_SECONDS))
    t_setup = time.perf_counter()
    log = os.path.join(work, "server.log")
    ready = os.path.join(work, "ready.json")
    out_path = os.path.join(work, "server_out.json")
    with open(log, "w") as logf:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "serve_host.py"), "--work", work,
             "--seed", str(seed), "--rows", str(ROWS), "--trace", str(int(trace)),
             "--ready", ready, "--out", out_path],
            stdin=subprocess.PIPE, stdout=logf, stderr=subprocess.STDOUT,
        )
    try:
        base = datagen.serve_rows(seed, ROWS)
        plan = schedule(seed, base, cycles)
        info = _wait_ready(proc, ready, log)
        client = _client_class()(port=info["port"])
        code, body = client.load_db("bench")
        if code != 200:
            raise RuntimeError(f"load_db failed: {code} {body}")
        warm = Outcomes()
        for req in plan.warmup:
            warm.call(req.kind, lambda: _send(client, req), ok=_ok)
        setup_s = time.perf_counter() - t_setup

        timed = Outcomes()
        t0 = time.perf_counter()
        for req in plan.timed:
            timed.call(req.kind, lambda: _send(client, req), ok=_ok)
        window_s = time.perf_counter() - t0
        client.rid = None

        # ---- correctness, outside the timed window
        model = TableModel(base, ROWS + BATCH * (cycles + 1))
        failures = []
        for req, op in zip(plan.warmup + plan.timed, warm.ops + timed.ops):
            if not op.ok:
                # a failed write leaves the model unknowable from here on
                failures.append(f"{req.rid} {req.kind}: {op.error}")
                break
            try:
                req.expect(model, op.result)
            except (checks.CheckFailed, KeyError, TypeError) as exc:
                failures.append(f"{req.rid} {req.kind}: {exc}")
        live = model.live_ids()
        code, body = client.statistics(TABLE)
        try:
            checks.check_count(int(body["result"]["totalRecords"]), len(live), "row count")
            rng = np.random.default_rng([seed, 5])
            ever = np.arange(ROWS + BATCH * (cycles + 1))
            for _ in range(3):
                sample = [int(i) for i in rng.choice(live, 4, replace=False)] + [
                    int(i) for i in rng.choice(np.setdiff1d(ever, live), 1)
                ]
                code, body = client.get(TABLE, response_fields=["id"], primary_keys=sample)
                checks.check_pk_get([r["id"] for r in body["result"]], sample, set(live.tolist()))
        except (checks.CheckFailed, KeyError, TypeError) as exc:
            failures.append(f"end state: {exc}")
        segments = manifest_files(info["table_dir"])
    finally:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if proc.returncode != 0 or not os.path.exists(out_path):
        raise RuntimeError(f"server process failed ({proc.returncode}):\n{_tail(log)}")
    with open(out_path) as f:
        host = json.load(f)

    return {
        "setup_s": setup_s,
        "setup_parts": {
            **{k: info[k] for k in ("session_s", "gen_s", "load_s")},
            "warmup_s": sum(warm.seconds()),
        },
        "window_s": window_s,
        "outcomes": timed,
        "warmup": warm,
        "failures": failures,
        "peak_rss_mb": host["peak_rss_mb"],
        "segments_end": segments,
        "trace": {
            "spark": host["spark"],
            "requests": host["requests"],
            "cost_s": host["trace_cost_s"],
            "spans": host["spans"],
        } if trace else None,
        "timed_rids": [r.rid for r in plan.timed],
        "inserted_json_bytes": sum(
            len(json.dumps(r.kwargs["records"])) for r in plan.timed if r.call in ("insert", "upsert")
        ),
    }
