"""Connected components: min-label propagation + large-star/small-star.

Reference semantics being generalized: duplicate groups — ``embed duplicates
--threshold 0.95`` (reference ``README.md:216``) emits near-duplicate pairs;
the transitive closure of those pairs (the duplicate *groups*) is exactly
connected components over the similarity graph.

Two algorithms, one result (exact match with the union-find oracle):

* **min-label propagation** (default): every vertex starts labeled with its
  own id; each superstep takes ``min(own, neighbors)``. O(diameter)
  supersteps — right for the shallow Zipf-ish transcript graphs.
* **large-star / small-star** (``algorithm="star"``): the alternating
  star-contraction of Kiveris et al., "Connected Components in MapReduce and
  Beyond" (SOCC'14). Each round rewires every vertex's larger neighbors
  (large-star) / smaller-or-equal neighbors (small-star) to its minimum
  neighborhood id; converges in O(log n) rounds regardless of diameter —
  the scale path for long-chain similarity graphs where min-label's
  O(diameter) supersteps would be the bottleneck.

Edges are treated as **undirected**: the edge table is symmetrized once and
(for min-label) prepared through the same salted/persisted scatter machinery
as PageRank.
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import CheckpointStore
from .runner import GraphRun, run_supersteps
from .scatter import prepare_edges, scatter_gather

__all__ = ["connected_components", "connected_components_star", "symmetrize"]


def symmetrize(edges: DataFrame) -> DataFrame:
    """Distinct undirected adjacency ``(src, dst)`` — both directions, no loops."""
    fwd = edges.select("src", "dst")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    return fwd.unionByName(rev).where(F.col("src") != F.col("dst")).distinct()


def connected_components_star(
    edges: DataFrame,
    *,
    max_iter: int = 50,
    store: CheckpointStore | None = None,
    run_id: str | None = None,
    resume: bool = True,
    checkpoint_every: int = 1,
) -> GraphRun:
    """Large-star/small-star connected components (Kiveris et al., SOCC'14).

    O(log n) rounds independent of graph diameter — use for long-chain
    graphs where min-label's O(diameter) supersteps would dominate. The
    state is the evolving parent-edge set ``(u, v)`` with ``v < u`` pointing
    toward the component minimum; at the fixpoint every vertex points
    directly at its component's minimum id. Returns a :class:`GraphRun`
    whose ``state`` has ``(vid, label)`` — identical semantics to
    :func:`connected_components`.

    One round = large-star + small-star, each a groupBy(min) + join —
    pure DataFrame ops, hash-partitioned on the vertex key.
    """
    spark: SparkSession = edges.sparkSession
    store = store or CheckpointStore(tempfile.mkdtemp(prefix="twspark_ccs_"))
    run_id = run_id or f"ccstar-{uuid.uuid4().hex[:12]}"

    def _neighborhood_min(e: DataFrame) -> DataFrame:
        # m(u) = min(N(u) ∪ {u}) over the symmetric neighbor view of e
        nbrs = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        return (
            nbrs.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("mn", "u").alias("m"))
        )

    def _large_star(e: DataFrame) -> DataFrame:
        nbrs = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = _neighborhood_min(e)
        # rewire strictly larger neighbors v of u to m(u)
        return (
            nbrs.join(m.hint("shuffle_hash"), "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        nbrs = e.select("u", "v").unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = _neighborhood_min(e)
        # rewire smaller-or-equal neighbors (and u itself) to m(u)
        rewired = (
            nbrs.join(m.hint("shuffle_hash"), "u")
            .where(F.col("v") <= F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        self_edge = m.select(F.col("u"), F.col("m").alias("v"))
        return (
            rewired.unionByName(self_edge)
            .where(F.col("u") != F.col("v"))
            .distinct()
        )

    def init_fn() -> tuple[DataFrame, dict]:
        sym = symmetrize(edges)
        # canonical (u > v) parent edges; isolated self-loop vertices drop out
        e0 = sym.where(F.col("src") > F.col("dst")).select(
            F.col("src").alias("u"), F.col("dst").alias("v")
        ).distinct()
        return e0, {}

    def step_fn(state: DataFrame, carry: dict, k: int) -> DataFrame:
        return _small_star(_large_star(state))

    partition_aggs = [
        F.count(F.lit(1)).alias("p_edges"),
        F.bit_xor(F.xxhash64("u", "v")).alias("p_checksum"),
    ]

    def combine_fn(partials: list[dict], carry: dict, k: int) -> tuple[dict, dict, bool]:
        n_edges = sum(p["p_edges"] or 0 for p in partials)
        checksum = 0
        for p in partials:
            checksum ^= p["p_checksum"] or 0
        prev = (carry.get("edge_count"), carry.get("edge_checksum"))
        converged = k > 0 and prev == (n_edges, checksum)
        metrics = {
            "kernel": "cc_star",
            "edges_processed": n_edges,
            "n_vertices": n_edges,  # parent edges ≈ non-min vertices
            "active_vertices": n_edges,
        }
        return metrics, {"edge_count": n_edges, "edge_checksum": checksum}, converged

    run = run_supersteps(
        spark,
        store=store,
        run_id=run_id,
        init_fn=init_fn,
        step_fn=step_fn,
        partition_aggs=partition_aggs,
        combine_fn=combine_fn,
        max_iter=max_iter,
        resume=resume,
        checkpoint_every=checkpoint_every,
        partition_key="u",
    )
    # fixpoint parent edges (u → component min) + the minima themselves
    parents = run.state.select(F.col("u").alias("vid"), F.col("v").alias("label"))
    sym = symmetrize(edges)
    vertices = sym.select(F.col("src").alias("vid")).distinct()
    labels = vertices.join(parents, "vid", "left").select(
        "vid", F.coalesce("label", F.col("vid")).alias("label")
    )
    return GraphRun(labels, run.run_id, run.supersteps, run.converged, run.metrics, run.resumed_from)


def connected_components(
    edges: DataFrame,
    *,
    max_iter: int = 50,
    store: CheckpointStore | None = None,
    run_id: str | None = None,
    resume: bool = True,
    scatter_mode: str = "sql",
    checkpoint_every: int = 1,
) -> GraphRun:
    """Min-id connected components over ``edges(src, dst, ...)``.

    ``scatter_mode="sql"`` (default) runs the salted DataFrame loop of
    ``graph.runner`` with a Catalyst ``groupBy(dst).min`` gather;
    ``"local"`` runs the file-superstep engine on home-keyed edges.
    ``checkpoint_every`` sets the ``sql`` loop's durable-commit cadence.

    Returns a :class:`GraphRun` whose ``state`` has
    ``(vid:long, label:long, prev_label:long)`` (``vid, home, label`` in
    ``scatter_mode="local"``); ``label`` is the minimum vertex id of the
    component.
    """
    if scatter_mode not in ("local", "sql"):
        raise ValueError(
            f"connected_components: scatter_mode must be 'local' or 'sql', got {scatter_mode!r}"
        )
    spark: SparkSession = edges.sparkSession
    store = store or CheckpointStore(tempfile.mkdtemp(prefix="twspark_cc_"))
    run_id = run_id or f"cc-{uuid.uuid4().hex[:12]}"

    if scatter_mode == "local":
        # conversation-locality file supersteps (graph/filesteps.py, kernel
        # in cc_local.py) — requires home-keyed edges
        if "src_home" not in edges.columns or "dst_home" not in edges.columns:
            raise ValueError(
                "scatter_mode='local' needs src_home/dst_home locality columns "
                "(derive edges with include_home=True)"
            )
        from .cc_local import CCFiles
        from .filesteps import run_local

        return run_local(
            edges, CCFiles(), max_iter=max_iter, store=store, run_id=run_id, resume=resume
        )

    sym = symmetrize(edges)
    pe = prepare_edges(sym)
    vertices = sym.select(F.col("src").alias("vid")).distinct().persist()
    n = vertices.count()

    def init_fn() -> tuple[DataFrame, dict]:
        return vertices.select("vid", F.col("vid").alias("label"), F.col("vid").alias("prev_label")), {}

    def step_fn(state: DataFrame, carry: dict, k: int) -> DataFrame:
        nbr_min = scatter_gather(pe, state.select("vid", "label"), F.col("label"), agg="min")
        return (
            state.join(nbr_min.hint("shuffle_hash"), state["vid"] == nbr_min["dst"], "left_outer")
            .select(
                state["vid"],
                F.least(state["label"], F.coalesce(nbr_min["c"], state["label"])).alias("label"),
                state["label"].alias("prev_label"),
            )
        )

    partition_aggs = [
        F.count(F.when(F.col("label") != F.col("prev_label"), 1)).alias("p_changed"),
    ]

    def combine_fn(partials: list[dict], carry: dict, k: int) -> tuple[dict, dict, bool]:
        changed = sum(p["p_changed"] for p in partials)
        converged = k > 0 and changed == 0
        metrics = {
            "kernel": "connected_components",
            "changed": changed,
            "active_vertices": changed,
            "edges_processed": pe.num_edges,
            "n_vertices": n,
        }
        return metrics, {}, converged

    def restore_fn(loaded: DataFrame) -> DataFrame:
        if "prev_label" in loaded.columns:
            return loaded
        return loaded.select("vid", "label", F.col("label").alias("prev_label"))

    try:
        return run_supersteps(
            spark,
            store=store,
            run_id=run_id,
            init_fn=init_fn,
            step_fn=step_fn,
            partition_aggs=partition_aggs,
            combine_fn=combine_fn,
            max_iter=max_iter,
            resume=resume,
            checkpoint_every=checkpoint_every,
            checkpoint_cols=["vid", "label"],
            restore_fn=restore_fn,
        )
    finally:
        pe.unpersist()
        vertices.unpersist()
