"""Seeded workload generator: determinism and the planted features."""

from __future__ import annotations

import sys
from pathlib import Path

import numpy as np
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from workloads import WORKLOADS, dedup_weighted, make_edges, snap_text  # noqa: E402

HUB_AUTO_FLOOR = 4096  # graph/pagerank.py: "auto" cap = max(floor, E // partitions)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_same_seed_same_inputs(name):
    w = WORKLOADS[name]
    a, b, c = make_edges(w, 7), make_edges(w, 7), make_edges(w, 8)
    for key in ("src", "dst", "personal"):
        assert np.array_equal(a[key], b[key])
    assert a["hub"] == b["hub"]
    assert not np.array_equal(a["src"], c["src"])
    assert snap_text(w, a, 7) == snap_text(w, b, 7)


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_planted_graph_features(name):
    w = WORKLOADS[name]
    e = make_edges(w, 3)
    src, dst = e["src"], e["dst"]
    pairs = np.stack([src, dst], axis=1)
    distinct = np.unique(pairs, axis=0)
    assert len(pairs) - len(distinct) >= 0.01 * len(pairs)  # ≥1% duplicates
    assert (distinct[:, 0] == distinct[:, 1]).sum() == w.self_loops
    dst_only = np.setdiff1d(dst, src)
    vertices = np.union1d(src, dst)
    assert dst_only.size >= 0.05 * vertices.size  # dangling, reached only as dst


def test_snap_text_planted_lines():
    w = WORKLOADS["snap_s1_load"]
    e = make_edges(w, 5)
    text, counts = snap_text(w, e, 5)
    lines = text.splitlines()
    assert counts["lines_total"] == len(lines)
    assert sum(line.startswith("#") for line in lines) == counts["lines_comment"]
    assert sum(line == "" for line in lines) == counts["lines_blank"] > 0
    edges = [line for line in lines if line and not line.startswith("#")]
    numeric = [line for line in edges if all(t.isdigit() for t in line.split()[:2])]
    assert len(numeric) == counts["edges"] == e["src"].size
    assert len(edges) - len(numeric) == counts["lines_malformed"] > 0
    # Every malformed line still has two tokens (see workloads.MALFORMED).
    assert all(len(line.split()) >= 2 for line in edges)


@pytest.mark.parametrize("partitions", [4, 8, 32])
def test_hub_exceeds_auto_cap(partitions):
    w = WORKLOADS["hub_variants"]
    e = make_edges(w, 11)
    src, dst, _ = dedup_weighted(e["src"], e["dst"])
    hub_outdeg = int((src == e["hub"]).sum())
    assert hub_outdeg > max(HUB_AUTO_FLOOR, src.size // partitions)
    others = np.bincount(np.unique(src[src != e["hub"]], return_inverse=True)[1])
    assert others.max() <= max(HUB_AUTO_FLOOR, src.size // partitions)


def test_snap_has_no_hub():
    w = WORKLOADS["snap_s1_load"]
    e = make_edges(w, 11)
    src, _, _ = dedup_weighted(e["src"], e["dst"])
    assert np.bincount(np.unique(src, return_inverse=True)[1]).max() <= HUB_AUTO_FLOOR


def test_weighted_edges_are_distinct_multiplicities():
    src, dst, w = dedup_weighted(np.array([1, 1, 2, 1]), np.array([2, 2, 1, 3]))
    assert list(zip(src.tolist(), dst.tolist(), w.tolist())) == [(1, 2, 2.0), (1, 3, 1.0), (2, 1, 1.0)]
