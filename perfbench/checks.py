"""Correctness checks on recorded results. They run after the timed
window; each raises ``CheckFailed`` with the reason, and any failure
makes the run incorrect."""

from __future__ import annotations

import numpy as np


class CheckFailed(AssertionError):
    pass


def _fail(msg: str) -> None:
    raise CheckFailed(msg)


def exact_topk(ids: np.ndarray, vecs: np.ndarray, query: np.ndarray, k: int):
    """Exact squared-L2 top-``k`` over the candidate rows: (ids, dists)."""
    diff = vecs.astype(np.float64) - query.astype(np.float64)
    d = np.einsum("ij,ij->i", diff, diff)
    order = np.lexsort((ids, d))[:k]
    return ids[order], d[order]


def check_topk(returned: list[int], ids: np.ndarray, vecs: np.ndarray,
               query: np.ndarray, k: int) -> None:
    """``returned`` must be an exact top-``k`` of the candidates: the
    right count, no duplicates, and every returned row within the k-th
    nearest distance (so ties at the boundary may go either way)."""
    want_ids, want_d = exact_topk(ids, vecs, query, k)
    if len(returned) != len(want_ids):
        _fail(f"top-{k}: {len(returned)} rows, expected {len(want_ids)}")
    if len(set(returned)) != len(returned):
        _fail(f"top-{k}: duplicate ids {returned}")
    if not len(want_ids):
        return
    pos = {int(i): j for j, i in enumerate(ids)}
    missing = [r for r in returned if r not in pos]
    if missing:
        _fail(f"top-{k}: ids {missing[:5]} are not live candidates")
    bound = want_d[-1] * (1 + 1e-5) + 1e-6
    got = np.array([pos[r] for r in returned])
    diff = vecs[got].astype(np.float64) - query.astype(np.float64)
    d = np.einsum("ij,ij->i", diff, diff)
    if (d > bound).any():
        bad = [returned[i] for i in np.flatnonzero(d > bound)][:5]
        _fail(f"top-{k}: ids {bad} lie beyond the k-th distance {want_d[-1]:.6g}")


def check_page(n_returned: int, matches: int, skip: int, limit: int) -> None:
    want = min(limit, max(0, matches - skip))
    if n_returned != want:
        _fail(f"get page: {n_returned} rows, expected min({limit}, {matches} - {skip}) = {want}")


def check_pk_get(returned: list[int], requested: list[int], live: set[int]) -> None:
    want = sorted(set(requested) & live)
    if sorted(returned) != want:
        _fail(f"get by pk {requested}: returned {sorted(returned)}, live {want}")


def check_count(observed: int, expected: int, what: str) -> None:
    if observed != expected:
        _fail(f"{what}: {observed}, expected {expected}")


def check_first(returned: list[int], expected: int, what: str) -> None:
    if not returned or returned[0] != expected:
        _fail(f"{what}: first id {returned[:1]}, expected {expected}")


def check_contains(returned: list[int], expected: int, what: str) -> None:
    if expected not in returned:
        _fail(f"{what}: id {expected} not in {returned}")
