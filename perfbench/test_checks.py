"""Each output check of the benchmark accepts a correct output and rejects a
corrupted one; the NumPy references agree with hand-computed graphs.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pandas as pd
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402

# two components: a 4-clique {1,2,3,4} (4 triangles) and a path 10-11-12
EDGES = pd.DataFrame({
    "src": [1, 1, 1, 2, 2, 3, 10, 11, 4],
    "dst": [2, 3, 4, 3, 4, 4, 11, 12, 1],
    "weight": [1.0, 2.0, 1.0, 1.0, 3.0, 1.0, 1.0, 1.0, 1.0],
})


@pytest.fixture(scope="module")
def ref() -> checks.GraphReference:
    return checks.graph_reference(EDGES)


def good_metrics(ref: checks.GraphReference) -> list[dict]:
    return [{"superstep": ref.pagerank_supersteps, "delta_max": 1e-8, "total_mass": 1.0,
             "n_vertices": ref.n_vertices, "edges_processed": ref.n_edges}]


def test_reference_counts(ref):
    assert ref.n_vertices == 7
    assert ref.n_edges == 9  # 1->4 and 4->1 are distinct directed pairs
    assert ref.n_components == 2
    assert ref.n_triangles == 4


def test_pagerank_reference_matches_dense_power_iteration():
    src, dst, w = (EDGES[c].to_numpy() for c in ("src", "dst", "weight"))
    vids, ranks, _steps = checks.pagerank_reference(src, dst, w, tol=1e-12)
    idx = {v: i for i, v in enumerate(vids)}
    n = len(vids)
    m = np.zeros((n, n))
    for s, t, x in zip(src, dst, w):
        m[idx[t], idx[s]] += x
    out = m.sum(axis=0)
    dangling = out == 0
    m[:, ~dangling] /= out[~dangling]
    r = np.full(n, 1.0 / n)
    for _ in range(500):
        r = 0.15 / n + 0.85 * (m @ r + r[dangling].sum() / n)
    assert np.allclose(ranks, r, atol=1e-10)
    assert abs(ranks.sum() - 1.0) < 1e-12


def test_check_pagerank_accepts_correct_run(ref):
    assert checks.check_pagerank(good_metrics(ref), True, ref.pagerank_supersteps, ref) == []


@pytest.mark.parametrize("corrupt", [
    lambda m, kw: kw.update(converged=False),
    lambda m, kw: m.update(delta_max=2e-6),
    lambda m, kw: m.pop("delta_max"),
    lambda m, kw: m.update(total_mass=1.0 + 1e-8),
    lambda m, kw: m.update(n_vertices=m["n_vertices"] + 1),
    lambda m, kw: m.update(edges_processed=m["edges_processed"] - 1),
    lambda m, kw: kw.update(supersteps=kw["supersteps"] + 1),
])
def test_check_pagerank_rejects_corrupted_run(ref, corrupt):
    metrics = good_metrics(ref)
    kw = {"converged": True, "supersteps": ref.pagerank_supersteps}
    corrupt(metrics[-1], kw)
    assert checks.check_pagerank(metrics, kw["converged"], kw["supersteps"], ref)


def test_check_top_ranks(ref):
    top = list(ref.pagerank_top)
    assert checks.check_top_ranks(top, ref.pagerank_top) == []
    assert checks.check_top_ranks(top[:-1], ref.pagerank_top)
    shifted = [(v, r + 1e-6) if i == 0 else (v, r) for i, (v, r) in enumerate(top)]
    assert checks.check_top_ranks(shifted, ref.pagerank_top)
    relabeled = [(999, top[0][1])] + top[1:]
    assert checks.check_top_ranks(relabeled, ref.pagerank_top)


def test_check_top_ranks_allows_tied_vertices_in_either_order():
    ref_top = [(1, 0.3), (2, 0.2), (3, 0.2)]
    assert checks.check_top_ranks([(1, 0.3), (3, 0.2), (2, 0.2)], ref_top) == []


def test_check_same_run(ref):
    full = (ref.pagerank_supersteps, list(ref.pagerank_top))
    assert checks.check_same_run(full, full) == []
    assert checks.check_same_run((full[0] + 1, full[1]), full)
    worse = [(v, r * 0.5) for v, r in full[1]]
    assert checks.check_same_run((full[0], worse), full)


def test_check_resumed_from():
    assert checks.check_resumed_from(4, 4) == []
    assert checks.check_resumed_from(None, 4)
    assert checks.check_resumed_from(3, 4)


def test_check_equal():
    assert checks.check_equal(2, 2, "cc components") == []
    assert checks.check_equal(3, 2, "cc components")


def test_check_recorded():
    recorded = {"iterate_local/10": {"7": {"n_vertices": 5, "n_triangles": 1}}}
    ok = {"n_vertices": 5, "n_triangles": 1}
    assert checks.check_recorded(7, "iterate_local/10", ok, recorded) == []
    assert checks.check_recorded(7, "iterate_local/10", dict(ok, n_triangles=2), recorded)
    assert checks.check_recorded(7, "iterate_local/10", {"n_vertices": 6}, recorded)
    # an op checks only the counts it reports
    assert checks.check_recorded(7, "iterate_local/10", {"n_vertices": 5}, recorded) == []
    # no record for this (seed, size): only the reference checks apply
    assert checks.check_recorded(8, "iterate_local/10", {"n_vertices": 9}, recorded) == []


def test_check_query():
    assert checks.check_query("q", ["a", "B"], 3, ["b", "a"], 3) == []
    assert checks.check_query("q", ["a", "b"], 4, ["a", "b"], 3)
    assert checks.check_query("q", ["a"], 3, ["a", "b"], 3)
