"""Tests of the benchmark harness itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import datagen  # noqa: E402
import layers  # noqa: E402
import serve  # noqa: E402
from common import Outcomes, PercentileUnsupported, percentile  # noqa: E402
from tracing import self_times  # noqa: E402

# ------------------------------------------------------------ seeded inputs


def _same(a, b) -> bool:
    return all(np.array_equal(getattr(a, f), getattr(b, f)) for f in ("ids", "cat", "price", "tag", "vec"))


def test_serve_rows_follow_the_seed():
    assert _same(datagen.serve_rows(3, 500), datagen.serve_rows(3, 500))
    assert not _same(datagen.serve_rows(3, 500), datagen.serve_rows(4, 500))


def test_index_rows_follow_the_seed():
    a, b, c = (datagen.index_rows(s, 200) for s in (3, 3, 4))
    assert np.array_equal(a.vec, b.vec) and a.text == b.text
    assert not np.array_equal(a.vec, c.vec) and a.text != c.text


def test_serve_schedule_follows_the_seed():
    base = datagen.serve_rows(3, serve.ROWS)

    def payloads(seed):
        s = serve.schedule(seed, base, 2)
        return json.dumps([(r.kind, r.kwargs) for r in s.warmup + s.timed])

    assert payloads(3) == payloads(3)
    assert payloads(3) != payloads(4)


# ------------------------------------------------------------ percentiles


def test_percentile_refuses_unsupported_tail():
    with pytest.raises(PercentileUnsupported):
        percentile([1.0] * 99, 0.9)
    assert percentile(list(range(1, 101)), 0.9) == 90
    assert percentile([5.0], 0.5) == 5.0
    with pytest.raises(PercentileUnsupported):
        percentile([], 0.5)


# ------------------------------------------------------- correctness checks


def test_check_topk_rejects_a_wrong_neighbour():
    rng = np.random.default_rng(0)
    ids = np.arange(1000)
    vecs = rng.standard_normal((1000, 8)).astype(np.float32)
    q = rng.standard_normal(8).astype(np.float32)
    want, _ = checks.exact_topk(ids, vecs, q, 10)
    checks.check_topk([int(i) for i in want], ids, vecs, q, 10)
    far = int(checks.exact_topk(ids, vecs, -q * 100, 1)[0][0])
    bad = [int(i) for i in want[:-1]] + [far]
    with pytest.raises(checks.CheckFailed):
        checks.check_topk(bad, ids, vecs, q, 10)
    with pytest.raises(checks.CheckFailed):
        checks.check_topk([int(i) for i in want[:9]], ids, vecs, q, 10)


def test_simple_checks_reject_corrupted_results():
    checks.check_page(20, 100, 10, 20)
    checks.check_page(5, 15, 10, 20)
    with pytest.raises(checks.CheckFailed):
        checks.check_page(20, 15, 10, 20)
    checks.check_pk_get([1, 2], [1, 2, 9], {1, 2, 3})
    with pytest.raises(checks.CheckFailed):
        checks.check_pk_get([1, 2, 9], [1, 2, 9], {1, 2, 3})
    with pytest.raises(checks.CheckFailed):
        checks.check_count(999, 1000, "rows")
    with pytest.raises(checks.CheckFailed):
        checks.check_first([7, 3], 3, "self hit")
    checks.check_contains([7, 3], 3, "member")
    with pytest.raises(checks.CheckFailed):
        checks.check_contains([7, 4], 3, "member")


def _replies(model: serve.TableModel, reqs) -> list:
    """Correct replies to ``reqs``, computed from a copy of the model."""
    out = []
    for r in reqs:
        kw = r.kwargs
        if r.kind in ("insert", "upsert"):
            res = {"inserted": len(kw["records"]), "skipped": 0}
            for rec in kw["records"]:
                i = rec["id"]
                model.live[i] = True
                model.cat[i], model.price[i], model.vec[i] = rec["cat"], rec["price"], rec["vec"]
                t = rec["tag"]
                model.tag[i] = int(t[1:]) if t[0] == "t" else 1000 + int(t[1:])
        elif r.kind == "delete":
            res = {"deleted": model.delete(kw["primary_keys"])}
        elif r.kind == "delete_filter":
            c = int(kw["filter"].split("'w")[1].rstrip("'"))
            res = {"deleted": model.delete(np.flatnonzero(model.live & (model.tag == 1000 + c)))}
        elif r.kind == "get":
            # "cat = A AND price > P"
            parts = kw["filter"].split()
            a, p = int(parts[2]), float(parts[6])
            n = int((model.live & (model.cat == a) & (model.price > p)).sum())
            res = [{"id": 0}] * min(kw["limit"], max(0, n - kw["skip"]))
        else:
            q = np.asarray(kw["query_vector"], np.float32)
            ids = model.live_ids()
            if "facets" in kw:
                bound = float(kw["filter"].split("<")[1])
                diff = model.vec[ids].astype(np.float64) - q
                ids = ids[np.einsum("ij,ij->i", diff, diff) < bound]
            else:
                ids = ids[_prefilter_mask(model, kw["filter"])[ids]]
            top, _ = checks.exact_topk(ids, model.vec[ids], q, kw["limit"])
            recs = [{"id": int(i)} for i in top]
            if "facets" in kw:
                counts: dict = {}
                for i in top:
                    counts[int(model.cat[i])] = counts.get(int(model.cat[i]), 0) + 1
                res = {"records": recs, "facets": [[{"cat": k, "COUNT(*)": float(v)} for k, v in counts.items()]]}
            else:
                res = recs
        out.append((200, {"result": res}))
    return out


def _prefilter_mask(model, text: str) -> np.ndarray:
    p = text.split()
    if p[0] == "cat":
        return model.cat < int(p[2])
    if p[0] == "price":
        lo, hi = float(p[2]), float(p[6])
        return (model.price >= lo) & (model.price < hi)
    return model.tag == int(p[2].strip("'")[1:])


def test_serve_checks_accept_correct_and_reject_corrupted_replies():
    base = datagen.serve_rows(5, serve.ROWS)
    plan = serve.schedule(5, base, 1)
    reqs = plan.warmup + plan.timed
    cap = serve.ROWS + serve.BATCH * 2
    replies = _replies(serve.TableModel(base, cap), reqs)
    model = serve.TableModel(base, cap)
    for r, reply in zip(reqs, replies):
        r.expect(model, reply)
    for i, r in enumerate(reqs):
        bad = json.loads(json.dumps(replies[i]))
        res = bad[1]["result"]
        if r.kind in ("insert", "upsert"):
            res["inserted"] -= 1
        elif r.kind.startswith("delete"):
            res["deleted"] += 1
        elif r.kind == "get":
            res.append({"id": 0})
        else:
            recs = res["records"] if isinstance(res, dict) else res
            if recs:
                recs[-1]["id"] = cap + 5  # never a row of the table
            else:
                recs.append({"id": 0})
        model = serve.TableModel(base, cap)
        for r2, reply in zip(reqs[:i], replies[:i]):
            r2.expect(model, reply)
        with pytest.raises(checks.CheckFailed):
            r.expect(model, bad)


# ----------------------------------------------------- tracing and layers


def test_self_time_subtracts_child_spans():
    spans = [
        {"id": 1, "parent": None, "name": "engine", "t0": 0.0, "t1": 10.0},
        {"id": 2, "parent": 1, "name": "table.plan", "t0": 1.0, "t1": 4.0},
        {"id": 3, "parent": 2, "name": "expr", "t0": 2.0, "t1": 3.0},
        {"id": 4, "parent": 1, "name": "table.collect", "t0": 5.0, "t1": 9.0},
    ]
    st = self_times(spans)
    assert st == {"engine": 3.0, "table.plan": 2.0, "expr": 1.0, "table.collect": 4.0}


def test_assemble_fills_every_layer_and_rejects_unknown_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [m["name"] for m in json.load(f)["per_layer"]]
    values = layers.assemble(
        names, divisor=2, self_s={"expr": 0.004}, calls={"expr": 6},
        spark={"jobs": 4.0}, plan_ms=10.0, extras={"server.self_ms": 1.0},
    )
    assert set(values) == set(names)
    assert values["expr.parse_ms"] == pytest.approx(2.0)
    assert values["expr.calls_per_op"] == 3 and values["spark.jobs"] == 2
    with pytest.raises(ValueError):
        layers.assemble(names, divisor=1, self_s={}, calls={}, spark={}, plan_ms=0.0,
                        extras={"no.such_metric": 1.0})


def test_outcomes_isolate_failures():
    o = Outcomes()
    o.call("ok", lambda: (200, {}), ok=lambda r: r[0] == 200)
    o.call("refused", lambda: (500, {"message": "boom"}), ok=lambda r: r[0] == 200)
    o.call("raises", lambda: 1 / 0)
    assert (o.attempted, o.failed) == (3, 2)
    assert any("HTTP 500: boom" in e for e in o.errors())
    assert any("ZeroDivisionError" in e for e in o.errors())


# ------------------------------------------------------------ entry point


def test_run_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    command exits non-zero without printing a result line."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "serve_write", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
