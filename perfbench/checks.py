"""Reference results and output checks for the benchmark (NumPy/pandas only).

Every check returns a list of problems; an empty list means the output is
correct. The checks never look at timings, so a failed check can fail an
operation but never change a measured number.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

PAGERANK_TOL = 1e-6
MASS_TOL = 1e-9
RANK_TOL = 1e-9
TOP_K = 10


@dataclass
class GraphReference:
    """Ground truth for one edge table, computed without Spark."""

    n_vertices: int
    n_edges: int  # distinct directed (src, dst) pairs
    n_components: int
    n_triangles: int
    pagerank_supersteps: int
    pagerank_top: list[tuple[int, float]]  # (vid, rank), rank-descending


def _index(src: np.ndarray, dst: np.ndarray):
    vids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    return vids, inv[: len(src)], inv[len(src):]


def pagerank_reference(
    src: np.ndarray, dst: np.ndarray, weight: np.ndarray,
    damping: float = 0.85, tol: float = PAGERANK_TOL, max_iter: int = 200,
):
    """Weighted PageRank with uniform dangling redistribution, float64.

    Returns ``(vids, ranks, supersteps)`` where ``supersteps`` is the first
    superstep whose L-infinity change is below ``tol``.
    """
    vids, s, t = _index(src, dst)
    n = len(vids)
    key = s.astype(np.int64) * n + t
    pairs, inv = np.unique(key, return_inverse=True)
    w = np.bincount(inv, weights=weight)
    s2, t2 = pairs // n, pairs % n
    out_w = np.bincount(s2, weights=w, minlength=n)
    p = w / out_w[s2]
    dangling = out_w == 0
    r = np.full(n, 1.0 / n)
    for k in range(1, max_iter + 1):
        gathered = np.bincount(t2, weights=p * r[s2], minlength=n)
        nxt = (1.0 - damping) / n + damping * (gathered + r[dangling].sum() / n)
        delta = float(np.abs(nxt - r).max())
        r = nxt
        if delta < tol:
            return vids, r, k
    raise RuntimeError(f"reference PageRank did not converge in {max_iter} supersteps")


def component_count(src: np.ndarray, dst: np.ndarray) -> int:
    """Connected components of the undirected graph (min-label + pointer jumping)."""
    _, s, t = _index(src, dst)
    label = np.arange(int(max(s.max(initial=-1), t.max(initial=-1))) + 1)
    while True:
        m = np.minimum(label[s], label[t])
        nxt = label.copy()
        np.minimum.at(nxt, s, m)
        np.minimum.at(nxt, t, m)
        nxt = nxt[nxt]
        if np.array_equal(nxt, label):
            return int(len(np.unique(label)))
        label = nxt


def triangle_count(src: np.ndarray, dst: np.ndarray) -> int:
    """Triangles of the undirected simple graph (degree-oriented wedge check)."""
    _, s, t = _index(src, dst)
    a, b = np.minimum(s, t), np.maximum(s, t)
    keep = a != b
    und = np.unique(np.stack([a[keep], b[keep]], axis=1), axis=0)
    if len(und) == 0:
        return 0
    deg = np.bincount(und.ravel())
    order = deg.astype(np.int64) * (len(deg) + 1) + np.arange(len(deg))
    u, v = und[:, 0], und[:, 1]
    flip = order[u] > order[v]
    lo, hi = np.where(flip, v, u), np.where(flip, u, v)
    fwd = pd.DataFrame({"u": lo, "v": hi})
    wedges = fwd.merge(fwd, on="u", suffixes=("", "_w"))
    wedges = wedges[order[wedges["v"].to_numpy()] < order[wedges["v_w"].to_numpy()]]
    closed = wedges.merge(fwd, left_on=["v", "v_w"], right_on=["u", "v"], how="inner")
    return int(len(closed))


def graph_reference(edges: pd.DataFrame) -> GraphReference:
    src = edges["src"].to_numpy(np.int64)
    dst = edges["dst"].to_numpy(np.int64)
    weight = edges["weight"].to_numpy(np.float64)
    vids, ranks, steps = pagerank_reference(src, dst, weight)
    top = np.argsort(-ranks, kind="stable")[:TOP_K]
    return GraphReference(
        n_vertices=len(vids),
        n_edges=int(len(np.unique(np.stack([src, dst], axis=1), axis=0))),
        n_components=component_count(src, dst),
        n_triangles=triangle_count(src, dst),
        pagerank_supersteps=steps,
        pagerank_top=[(int(vids[i]), float(ranks[i])) for i in top],
    )


# -- checks -------------------------------------------------------------------


def check_pagerank(metrics: list[dict], converged: bool, supersteps: int,
                   ref: GraphReference) -> list[str]:
    """A PageRank run to ``PAGERANK_TOL``: convergence, mass, sizes, supersteps."""
    if not metrics:
        return ["pagerank: no superstep metrics"]
    last = metrics[-1]
    bad = []
    if not converged:
        bad.append("pagerank: not converged")
    if not last.get("delta_max", 1.0) < PAGERANK_TOL:
        bad.append(f"pagerank: delta_max {last.get('delta_max')} >= {PAGERANK_TOL}")
    if not abs(last.get("total_mass", 0.0) - 1.0) <= MASS_TOL:
        bad.append(f"pagerank: total_mass {last.get('total_mass')!r} not within {MASS_TOL} of 1")
    bad += check_sizes(last, ref, "pagerank")
    if supersteps != ref.pagerank_supersteps:
        bad.append(f"pagerank: converged at superstep {supersteps}, reference {ref.pagerank_supersteps}")
    return bad


def check_sizes(last_metrics: dict, ref: GraphReference, what: str) -> list[str]:
    bad = []
    if last_metrics.get("n_vertices") != ref.n_vertices:
        bad.append(f"{what}: n_vertices {last_metrics.get('n_vertices')} != {ref.n_vertices}")
    if last_metrics.get("edges_processed") != ref.n_edges:
        bad.append(f"{what}: edges_processed {last_metrics.get('edges_processed')} != {ref.n_edges}")
    return bad


def check_top_ranks(top: list[tuple[int, float]], ref_top: list[tuple[int, float]],
                    what: str = "pagerank") -> list[str]:
    """Top-k ranks agree with the reference by value; ids agree unless tied."""
    if len(top) != len(ref_top):
        return [f"{what}: {len(top)} top ranks, reference has {len(ref_top)}"]
    bad = []
    for i, ((vid, r), (rvid, rr)) in enumerate(zip(top, ref_top)):
        if abs(r - rr) > RANK_TOL:
            bad.append(f"{what}: top-{i} rank {r!r} != reference {rr!r}")
        elif vid != rvid and not any(abs(r - x) <= RANK_TOL for v, x in ref_top if v == vid):
            bad.append(f"{what}: top-{i} vertex {vid} != reference {rvid}")
    return bad


def check_same_run(resumed, full, what: str = "resume") -> list[str]:
    """A resumed run ends where the uninterrupted one did, with equal top ranks.

    ``resumed``/``full`` are ``(supersteps, top)`` pairs.
    """
    bad = []
    if resumed[0] != full[0]:
        bad.append(f"{what}: converged at superstep {resumed[0]}, uninterrupted run at {full[0]}")
    bad += check_top_ranks(resumed[1], full[1], what)
    return bad


def check_resumed_from(resumed_from, expected: int, what: str = "resume") -> list[str]:
    if resumed_from != expected:
        return [f"{what}: resumed from {resumed_from}, expected {expected}"]
    return []


def check_equal(value, expected, what: str) -> list[str]:
    if value != expected:
        return [f"{what}: {value!r} != expected {expected!r}"]
    return []


def check_recorded(seed: int, size_key: str, observed: dict, recorded: dict) -> list[str]:
    """Each observed count equals the value recorded for (seed, size), where
    one is recorded; an op reports only the counts it produces."""
    row = recorded.get(size_key, {}).get(str(seed), {})
    return [
        f"recorded {size_key} seed {seed}: {k} {v!r} != {row[k]!r}"
        for k, v in observed.items()
        if k in row and v != row[k]
    ]


def check_query(name: str, cols: list[str], n_rows: int,
                ref_cols: list[str], ref_rows: int) -> list[str]:
    """Row count and column names (order-insensitive) equal the DuckDB oracle's."""
    bad = []
    if sorted(c.lower() for c in cols) != sorted(c.lower() for c in ref_cols):
        bad.append(f"{name}: columns {sorted(cols)} != oracle {sorted(ref_cols)}")
    if n_rows != ref_rows:
        bad.append(f"{name}: {n_rows} rows, oracle {ref_rows}")
    return bad
