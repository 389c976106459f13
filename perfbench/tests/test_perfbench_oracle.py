"""The numpy oracle against FIXTURES.md F2's closed forms (d = 0.85)."""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import oracle  # noqa: E402

D = 0.85
A = np.array


def solve(src, dst, **kw):
    kw = {"max_iter": 500, "tol": 1e-15, "min_iter": 1, **kw}
    return oracle.pagerank(A(src), A(dst), D, **kw)


def test_cycle2_is_uniform():
    r = solve([1, 2], [2, 1])
    assert r.ids.tolist() == [1, 2]
    assert r.pr == pytest.approx([0.5, 0.5], abs=1e-12)
    assert r.converged


def test_dup_edges_count_once():
    assert solve([1, 1, 1, 2], [2, 2, 2, 1]).pr == pytest.approx([0.5, 0.5], abs=1e-12)


def test_ring_is_uniform():
    n = 10
    r = solve(list(range(n)), [(i + 1) % n for i in range(n)])
    assert r.pr == pytest.approx([1 / n] * n, abs=1e-12)


def test_star4_with_dangling_hub():
    # 2→1, 3→1, 4→1; vertex 1 is dangling, so its mass teleports uniformly.
    n, a, b = 4, (1 - D) / 4, D / 4
    hub = a * (1 + 3 * D) / (1 - b * (3 * D + 1))
    leaf = a + b * hub
    r = solve([2, 3, 4], [1, 1, 1])
    assert r.pr == pytest.approx([hub, leaf, leaf, leaf], abs=1e-12)
    assert r.pr.sum() == pytest.approx(1.0, abs=1e-12)
    assert n == r.ids.size


def test_dangling_pair_fixed_point():
    # 1→2 with 2 dangling: p1 = a + b*p2 and p1 + p2 = 1.
    a, b = (1 - D) / 2, D / 2
    p1 = (a + b) / (1 + b)
    assert solve([1], [2]).pr == pytest.approx([p1, 1 - p1], abs=1e-12)


def test_personalized_cycle2():
    # Teleport only to 1: p1 = (1-d) + d*p2, p2 = d*p1.
    r = solve([1, 2], [2, 1], personal=A([1]))
    assert r.pr == pytest.approx([1 / (1 + D), D / (1 + D)], abs=1e-12)


def test_uniform_weights_reduce_to_unweighted():
    src, dst = A([1, 1, 2, 3, 3]), A([2, 3, 3, 1, 2])
    plain = oracle.pagerank(src, dst, D, 20, 0.0, 20)
    weighted = oracle.pagerank(src, dst, D, 20, 0.0, 20, weights=np.full(5, 7.0))
    assert weighted.pr == pytest.approx(plain.pr, abs=1e-15)


def test_stop_rule_counts_supersteps():
    r = oracle.pagerank(A([1]), A([2]), D, max_iter=3, tol=0.0, min_iter=3)
    assert (r.iterations, r.converged) == (3, False)
    # Uniform init is already the fixed point: stops at min_iter.
    r = oracle.pagerank(A([1, 2]), A([2, 1]), D, max_iter=100, tol=1e-9, min_iter=5)
    assert (r.iterations, r.converged) == (5, True)


def test_compare_flags_errors_and_allows_ties():
    ref = solve([1, 2, 3], [2, 1, 1])
    assert oracle.compare(ref, ref.ids[::-1], ref.pr[::-1]) == []
    assert oracle.compare(ref, ref.ids, ref.pr + 2e-6)
    assert oracle.compare(ref, ref.ids[:2], ref.pr[:2])
    best_first = ref.ids[np.argsort(-ref.pr)]
    assert oracle.compare_top(ref, best_first, k=3) == []
    assert oracle.compare_top(ref, best_first[::-1], k=3)
    tie = solve([1, 2], [2, 1])
    assert oracle.compare_top(tie, A([2, 1]), k=2) == []
