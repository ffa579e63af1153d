"""Synchronous label propagation (community detection), deterministic.

Reference semantics being generalized: cluster membership assignment — the
reference's browser k-means assigns every transcript a cluster label
(``web/static/js/clustering.js:579-623``); LPA is the graph-native analog
over the role/tool/adjacency link graph.

Determinism contract (the reason the oracle can match exactly):

* **synchronous** updates — every superstep computes all new labels from the
  previous superstep's labels (async LPA is order-dependent);
* vote = sum of incident edge weights per neighbor label (both directions);
* tie-break: highest vote wins, then **smallest label** — a total order;
* a vertex keeps its label when it has no neighbors;
* fixed ``max_iter`` cap (synchronous LPA can 2-cycle on bipartite
  structures; the cap bounds that, and convergence = no label changed).
"""

from __future__ import annotations

import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.catalog import CheckpointStore
from .runner import GraphRun, run_supersteps
from .scatter import prepare_edges, scatter_join

__all__ = ["label_propagation"]


def label_propagation(
    edges: DataFrame,
    *,
    max_iter: int = 20,
    store: CheckpointStore | None = None,
    run_id: str | None = None,
    resume: bool = True,
    scatter_mode: str = "sql",
    checkpoint_every: int = 1,
) -> GraphRun:
    """Deterministic synchronous LPA over weighted ``edges(src, dst, weight)``.

    ``scatter_mode="sql"`` (default) runs the salted DataFrame loop of
    ``graph.runner``: votes are a Catalyst ``groupBy(dst, label).sum`` and
    the winner a window rank. ``"local"`` runs the file-superstep engine on
    home-keyed edges. ``checkpoint_every`` sets the ``sql`` loop's
    durable-commit cadence.

    Returns a :class:`GraphRun` whose ``state`` has
    ``(vid:long, label:long, prev_label:long)`` (``vid, home, label`` in
    ``scatter_mode="local"``).
    """
    if scatter_mode not in ("local", "sql"):
        raise ValueError(
            f"label_propagation: scatter_mode must be 'local' or 'sql', got {scatter_mode!r}"
        )
    spark: SparkSession = edges.sparkSession
    store = store or CheckpointStore(tempfile.mkdtemp(prefix="twspark_lpa_"))
    run_id = run_id or f"lpa-{uuid.uuid4().hex[:12]}"

    if scatter_mode == "local":
        if "src_home" not in edges.columns or "dst_home" not in edges.columns:
            raise ValueError(
                "scatter_mode='local' needs src_home/dst_home locality columns "
                "(derive edges with include_home=True)"
            )
        from .filesteps import run_local
        from .lpa_local import LPAFiles

        return run_local(
            edges, LPAFiles(), max_iter=max_iter, store=store, run_id=run_id, resume=resume
        )

    # Symmetrize with weights: vote strength of u on v = total weight of
    # edges between them in either direction.
    fwd = edges.select("src", "dst", "weight")
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "weight")
    sym = (
        fwd.unionByName(rev)
        .where(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.sum("weight").alias("w"))
    )
    pe = prepare_edges(sym, payload=("w",))
    vertices = sym.select(F.col("src").alias("vid")).distinct().persist()
    n = vertices.count()

    def init_fn() -> tuple[DataFrame, dict]:
        return vertices.select("vid", F.col("vid").alias("label"), F.col("vid").alias("prev_label")), {}

    def step_fn(state: DataFrame, carry: dict, k: int) -> DataFrame:
        # votes(dst, label) = Σ w over incident edges whose far end holds `label`
        votes = (
            scatter_join(pe, state.select("vid", "label"), [F.col("dst"), F.col("label"), F.col("w")])
            .groupBy("dst", "label")
            .agg(F.sum("w").alias("votes"))
        )
        # winner per dst: max votes, then min label (deterministic total order)
        w = Window.partitionBy("dst").orderBy(F.col("votes").desc(), F.col("label").asc())
        winners = (
            votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("dst"), F.col("label").alias("new_label"))
        )
        return (
            state.join(winners.hint("shuffle_hash"), state["vid"] == winners["dst"], "left_outer")
            .select(
                state["vid"],
                F.coalesce(winners["new_label"], state["label"]).alias("label"),
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
            "kernel": "label_propagation",
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
