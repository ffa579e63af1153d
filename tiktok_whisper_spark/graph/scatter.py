"""Skew-aware scatter join + Catalyst-combined gather: the salted ``sql``
path of PageRank, CC and LPA through ``graph.runner``, the plain DataFrame
path the tests use as the file-superstep engine's oracle. (The engine's
edge shards are written and read in ``graph/filesteps.py``.)

Every superstep of the salted kernels has the same hot loop:

    edges ⋈ vertex_state on (edges.src == state.vid)   -- "scatter"
    groupBy(edges.dst).agg(...)                        -- "gather"

At 100 TB the edge side dominates, so the design rules are:

1. **The edge side never moves twice.** Edges are normalized/split once,
   ``repartition(P, "src")``-ed and persisted; every superstep's join reuses
   that partitioning (Exchange reuse), so only the vertex-sized rank/label
   frame shuffles per superstep. (On a cluster with Iceberg, both sides are
   bucketed by key and even that shuffle disappears.)
2. **Hub keys are salted explicitly.** Zipf-skewed tools/roles concentrate
   edges on a few ``src`` keys; AQE's skew-join only splits *sort-merge*
   partitions after the fact. We split edges into hot/cold by a data-driven
   degree threshold, replicate the (tiny) hot vertex-state rows R times, and
   join hot edges on ``(src, salt)`` with ``salt = pmod(xxhash64(dst), R)``
   — deterministic spread of one hub's edges over R tasks.
3. **The gather combines map-side in codegen.** ``groupBy(dst).agg(sum|min)``
   plans Catalyst's ``partial_sum``/``partial_min`` hash aggregate before its
   single Exchange, so each task ships at most one row per distinct ``dst``
   and no row crosses into Python.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.edges import hot_keys

__all__ = [
    "PartitionedEdges",
    "prepare_edges",
    "scatter_gather",
]

# R: a hub's edges spread over this many (src, salt) join keys
NUM_SALTS = 8


@dataclass
class PartitionedEdges:
    """Edges split hot/cold, persisted, partitioned by src — built once per run."""

    cold: DataFrame  # (src, dst, <payload cols>)
    hot: DataFrame | None  # (src, dst, salt, <payload cols>)
    hot_vids: DataFrame | None  # (vid) — the salted hub keys, broadcast-joined
    num_edges: int

    def unpersist(self) -> None:
        self.cold.unpersist()
        if self.hot is not None:
            self.hot.unpersist()
        if self.hot_vids is not None:
            self.hot_vids.unpersist()


def prepare_edges(edges: DataFrame, payload: tuple[str, ...] = ()) -> PartitionedEdges:
    """Split, partition and persist ``edges(src, dst, *payload)`` for iteration.

    The hub cutoff is :func:`~tiktok_whisper_spark.operators.edges.hot_keys`'
    data-driven one (10× mean out-degree, min 64). Hub keys stay in a
    DataFrame and split the edges via broadcast semi/anti joins — on a Zipf
    graph at 100× there can be thousands of keys above the cutoff, so a
    collected list (giant ``In`` expression + driver round-trip) would not
    survive; a broadcast hash join does.
    """
    P = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    e = edges.select("src", "dst", *payload)
    hot_vids = hot_keys(e).persist()
    n_hot_keys = hot_vids.count()

    if n_hot_keys:
        cold = e.join(F.broadcast(hot_vids), e["src"] == hot_vids["vid"], "left_anti")
        hot = (
            e.join(F.broadcast(hot_vids), e["src"] == hot_vids["vid"], "left_semi")
            .withColumn("salt", F.pmod(F.xxhash64("dst"), F.lit(NUM_SALTS)).cast("int"))
            .repartition(P, "src", "salt")
            .persist()
        )
    else:
        cold, hot = e, None
        hot_vids.unpersist()
        hot_vids = None

    cold = cold.repartition(P, "src").persist()
    n_cold = cold.count()
    n_hot = hot.count() if hot is not None else 0
    return PartitionedEdges(cold, hot, hot_vids, n_cold + n_hot)


def scatter_join(pe: PartitionedEdges, state: DataFrame, select: list[F.Column]) -> DataFrame:
    """Skew-aware ``edges ⋈ state on src == vid``; projects ``select`` columns.

    Cold edges join the state frame directly; hot (hub) edges join the
    replicated state on ``(src, salt)``. ``select`` may reference edge
    payload columns, ``dst``, and state columns. Hub membership is a
    broadcast semi-join against ``pe.hot_vids`` (never a driver-side list).
    """
    cold_part = pe.cold.join(state, pe.cold["src"] == state["vid"], "inner").select(*select)
    if pe.hot is None:
        return cold_part
    hot_state = (
        state.join(F.broadcast(pe.hot_vids.select("vid")), "vid", "left_semi")
        .withColumn("vsalt", F.explode(F.sequence(F.lit(0), F.lit(NUM_SALTS - 1))))
        .withColumn("vsalt", F.col("vsalt").cast("int"))
    )
    cond = (pe.hot["src"] == hot_state["vid"]) & (pe.hot["salt"] == hot_state["vsalt"])
    hot_part = pe.hot.join(hot_state, cond, "inner").select(*select)
    return cold_part.unionByName(hot_part)


def scatter_gather(
    pe: PartitionedEdges, state: DataFrame, contrib: F.Column, *, agg: str = "sum"
) -> DataFrame:
    """One superstep's ``edges ⋈ state → groupBy(dst).agg(contrib)``.

    ``state`` must expose ``vid`` plus the columns ``contrib`` references.
    ``contrib`` is a Column over the joined (edge payload × state) row, e.g.
    ``F.col("p") * F.col("rank")`` for PageRank, ``F.col("label")`` for
    min-label propagation. Returns ``(dst, c)``.
    """
    if agg not in ("sum", "min"):
        raise ValueError(f"agg must be 'sum' or 'min', got {agg!r}")
    agg_col = F.sum("c") if agg == "sum" else F.min("c")
    return (
        scatter_join(pe, state, [F.col("dst"), contrib.alias("c")])
        .groupBy("dst")
        .agg(agg_col.alias("c"))
    )
