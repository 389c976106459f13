"""Seeded workload inputs for the PageRank benchmark.

Everything here is plain numpy: the benchmark generates a workload's
inputs from ``--seed`` before any Spark process starts, and the program
under test only ever sees the generated files.

Two workloads, chosen to stress different layers:

``snap_s1_load``
    A SNAP-format text file shaped like web-Google (S1): ``#`` headers,
    blank lines, malformed lines, duplicate edges, self-loops, dangling
    and dst-only vertices, and a power-law in-degree.  It replays the
    CLI's call sequence (parse, build, a few forced supersteps with phase
    timing, write the outputs), so the edge-list scan, the graph build
    and the sinks sit on its blocking path.  No source is big enough for
    the ``"auto"`` hub split to fire.

``hub_variants``
    An in-memory edge table in which one source owns 30% of the edges,
    each to a distinct destination, so the ``"auto"`` hub split fires.
    One prebuilt graph runs the uniform kernel (broadcast hub branch),
    then personalized and weighted PageRank, with forced supersteps.  It
    has no text parse and no sinks; it is the only workload that reaches
    the hub branch and the two variant loops.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

# Planted non-edge lines in the SNAP text.  Every malformed line has at
# least two whitespace-separated tokens, one of them non-numeric.
HEADER = (
    "# Directed graph (each unordered pair of nodes is saved once): synthetic-web.txt",
    "# Synthetic web graph shaped like web-Google (seeded)",
    "# Nodes: {nodes} Edges: {edges}",
    "# FromNodeId\tToNodeId",
)
MALFORMED = ("x\t{a}", "{a}\tnan", "node {a}", "{a} -> {b}", "foo bar")


@dataclass(frozen=True)
class Workload:
    """Sizes and solver settings of one workload."""

    name: str
    why: str
    n_vertices: int
    avg_outdeg: float
    damping: float = 0.85
    max_iter: int = 100
    min_iter: int = 5
    tol: float = 0.0
    # snap_s1_load only
    dangling_frac: float = 0.0
    zipf_a: float = 1.0
    dup_frac: float = 0.0
    self_loops: int = 0
    blank_lines: int = 0
    malformed_lines: int = 0
    mid_comments: int = 0
    # hub_variants only
    hub_frac: float = 0.0
    n_personal: int = 0


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="snap_s1_load",
            why="SNAP text in, outputs written: parse, build, forced supersteps and sinks on one path; no source is big enough for the hub split",
            n_vertices=10_000,
            avg_outdeg=4.0,
            max_iter=3,
            min_iter=3,
            tol=1e-8,
            dangling_frac=0.15,
            zipf_a=1.0,
            dup_frac=0.02,
            self_loops=7,
            blank_lines=40,
            malformed_lines=25,
            mid_comments=10,
        ),
        Workload(
            name="hub_variants",
            why="one source owns 30% of edges so the auto hub split fires; uniform, personalized and weighted kernels on one prebuilt graph",
            n_vertices=16_000,
            avg_outdeg=2.0,
            max_iter=1,
            min_iter=1,
            dangling_frac=0.10,
            zipf_a=0.8,
            dup_frac=0.05,
            self_loops=3,
            hub_frac=0.30,
            n_personal=8,
        ),
    )
}


def _power_law_targets(rng, n: int, size: int, a: float) -> np.ndarray:
    """``size`` vertex indices drawn with P(rank r) ∝ 1/(r+1)^a, ranks
    assigned to vertices by a random permutation."""
    cdf = np.cumsum(1.0 / np.arange(1, n + 1, dtype=np.float64) ** a)
    ranks = np.searchsorted(cdf, rng.random(size) * cdf[-1])
    return rng.permutation(n)[np.minimum(ranks, n - 1)]


def _random_edges(rng, w: Workload, n: int, n_src: int) -> tuple[np.ndarray, np.ndarray]:
    """Edges from vertex indices [0, n_src) (the vertices with out-edges)
    over [0, n): one uniform target per source plus power-law targets.

    The uniform edge keeps the graph well connected, so no small set of
    vertices traps rank mass whatever the seed."""
    extra = rng.geometric(1.0 / (w.avg_outdeg - 1.0), n_src) - 1
    src = np.concatenate([np.arange(n_src), np.repeat(np.arange(n_src), extra)])
    dst = np.concatenate(
        [rng.integers(0, n, n_src), _power_law_targets(rng, n, int(extra.sum()), w.zipf_a)]
    )
    loops = src == dst  # self-loops are planted explicitly below
    dst[loops] = (dst[loops] + 1) % n
    return src, dst


def make_edges(w: Workload, seed: int) -> dict[str, np.ndarray]:
    """Raw directed edges (int64 ids) of workload ``w`` for ``seed``.

    Returns ``src``/``dst`` in file order, duplicates and self-loops
    included, plus ``hub`` (the hub id, or -1) and ``personal`` (the
    personalized-PageRank source ids; empty when unused)."""
    rng = np.random.default_rng(seed)
    n = w.n_vertices
    # Sparse, shuffled ids, like SNAP's non-contiguous node ids.
    ids = rng.choice(np.int64(8 * n), size=n, replace=False).astype(np.int64)
    n_src = int(n * (1.0 - w.dangling_frac))
    src, dst = _random_edges(rng, w, n, n_src)
    hub = -1
    if w.hub_frac:
        # The hub reaches distinct targets, so its edges all survive dedup;
        # it owns hub_frac of the final edge count.
        hub_idx = 0
        n_hub = int(src.size * w.hub_frac / (1.0 - w.hub_frac))
        hub_dst = rng.choice(np.arange(1, n), size=min(n_hub, n - 1), replace=False)
        keep = src != hub_idx
        src = np.concatenate([src[keep], np.full(hub_dst.size, hub_idx)])
        dst = np.concatenate([dst[keep], hub_dst])
        hub = int(ids[hub_idx])
    loops = rng.choice(n_src, size=w.self_loops, replace=False)
    src = np.concatenate([src, loops])
    dst = np.concatenate([dst, loops])
    dups = rng.integers(0, src.size, size=int(src.size * w.dup_frac))
    src = np.concatenate([src, src[dups]])
    dst = np.concatenate([dst, dst[dups]])
    order = rng.permutation(src.size)
    personal = (
        ids[rng.choice(n_src, size=w.n_personal, replace=False)]
        if w.n_personal
        else np.empty(0, np.int64)
    )
    return {
        "src": ids[src[order]],
        "dst": ids[dst[order]],
        "hub": np.int64(hub),
        "personal": personal,
    }


def snap_text(w: Workload, edges: dict[str, np.ndarray], seed: int) -> tuple[str, dict[str, int]]:
    """The SNAP text of ``edges`` with planted comment, blank and malformed
    lines, and the exact count of each."""
    rng = np.random.default_rng(seed + 1)
    src, dst = edges["src"], edges["dst"]
    n_nodes = np.unique(np.concatenate([src, dst])).size
    body = [f"{s}\t{d}" for s, d in zip(src.tolist(), dst.tolist())]
    extra = (
        ["# mid-file comment"] * w.mid_comments
        + [""] * w.blank_lines
        + [
            MALFORMED[i % len(MALFORMED)].format(a=int(rng.integers(1, 10**6)), b=i)
            for i in range(w.malformed_lines)
        ]
    )
    at = np.sort(rng.integers(0, len(body) + 1, size=len(extra)))
    lines = [h.format(nodes=n_nodes, edges=src.size) for h in HEADER]
    prev = 0
    for pos, line in zip(at.tolist(), rng.permutation(np.array(extra, dtype=object)).tolist()):
        lines.extend(body[prev:pos])
        lines.append(line)
        prev = pos
    lines.extend(body[prev:])
    counts = {
        "lines_total": len(lines),
        "lines_comment": len(HEADER) + w.mid_comments,
        "lines_blank": w.blank_lines,
        "lines_malformed": w.malformed_lines,
        "edges": len(body),
    }
    return "\n".join(lines) + "\n", counts


def dedup_weighted(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Distinct (src, dst) pairs and each pair's multiplicity as weight."""
    pairs, w = np.unique(np.stack([src, dst], axis=1), axis=0, return_counts=True)
    return pairs[:, 0], pairs[:, 1], w.astype(np.float64)
