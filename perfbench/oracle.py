"""Independent numpy PageRank oracle for the benchmark's output checks.

Power iteration over deduplicated edges with the engine's documented
semantics: uniform init 1/N (or the reset vector), dangling mass
redistributed along the reset vector within the same iteration, and the
stop rule ``avg |Δpr| = Σ|Δ|/N <= tol`` once ``min_iter`` supersteps ran.
It shares no code with the engine.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np


@dataclass
class OracleResult:
    ids: np.ndarray  # sorted vertex ids
    pr: np.ndarray  # rank of ids[i]
    iterations: int
    converged: bool


def pagerank(
    src: np.ndarray,
    dst: np.ndarray,
    damping: float = 0.85,
    max_iter: int = 100,
    tol: float = 1e-6,
    min_iter: int = 5,
    weights: np.ndarray | None = None,
    personal: np.ndarray | None = None,
) -> OracleResult:
    """PageRank of the graph whose vertices are every id in ``src`` or
    ``dst``.  Duplicate (src, dst) pairs count once; pass ``weights`` (one
    positive weight per pair, pairs already distinct) for weight-
    proportional scatter, or ``personal`` (source ids) to restrict the
    teleport and the dangling redistribution to those sources."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = ids.size
    s, d = inv[: src.size], inv[src.size :]
    if weights is None:
        pairs = np.unique(np.stack([s, d], axis=1), axis=0)
        s, d = pairs[:, 0], pairs[:, 1]
        weights = np.ones(s.size)
    out_w = np.bincount(s, weights=weights, minlength=n)
    dangling = out_w == 0
    edge_share = weights / out_w[s]
    if personal is None:
        reset = np.full(n, 1.0 / n)
    else:
        reset = np.zeros(n)
        hit = np.searchsorted(ids, personal)
        hit = hit[(hit < n) & (ids[np.minimum(hit, n - 1)] == personal)]
        reset[hit] = 1.0 / len(personal)
    pr = reset.copy()
    iterations, converged = 0, False
    for i in range(max_iter):
        contrib = np.bincount(d, weights=pr[s] * edge_share, minlength=n)
        new = (1.0 - damping) * reset + damping * (contrib + pr[dangling].sum() * reset)
        avg_diff = np.abs(new - pr).sum() / n
        pr, iterations = new, i + 1
        if iterations >= min_iter and avg_diff <= tol:
            converged = True
            break
    return OracleResult(ids, pr, iterations, converged)


def compare(oracle: OracleResult, ids: np.ndarray, pr: np.ndarray, linf: float = 1e-6) -> list[str]:
    """Problems found comparing engine ranks (``ids``, ``pr``) against the
    oracle: a different vertex set, or an L∞ distance above ``linf``."""
    order = np.argsort(ids)
    ids, pr = ids[order], pr[order]
    if not np.array_equal(ids, oracle.ids):
        return [f"vertex set differs: engine {ids.size}, oracle {oracle.ids.size}"]
    err = float(np.max(np.abs(pr - oracle.pr))) if ids.size else 0.0
    return [f"L-inf {err:.3e} > {linf:g}"] if err > linf else []


def compare_top(oracle: OracleResult, top_ids: np.ndarray, k: int = 50, tie: float = 1e-12) -> list[str]:
    """Problems with an engine top-``k`` id list, best first.  Ties are
    allowed: the id at rank i passes when its oracle rank is within
    ``tie`` of the oracle's i-th largest rank."""
    k = min(k, oracle.ids.size)
    if len(top_ids) != k:
        return [f"top-{k} lists {len(top_ids)} ids"]
    pos = np.searchsorted(oracle.ids, top_ids)
    pos = np.minimum(pos, oracle.ids.size - 1)
    if not np.array_equal(oracle.ids[pos], top_ids):
        return [f"top-{k} lists ids outside the graph"]
    off = np.abs(oracle.pr[pos] - np.sort(oracle.pr)[::-1][:k]) > tie
    return [f"top-{k} differs at ranks {np.flatnonzero(off)[:5].tolist()}"] if off.any() else []
