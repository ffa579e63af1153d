"""Skew-aware scatter join + Catalyst-combined gather.

Every superstep of the salted (``sql``) kernels has the same hot loop:

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

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.edges import hot_keys

__all__ = [
    "PartitionedEdges",
    "prepare_edges",
    "scatter_gather",
    "write_edge_shards_local",
    "purge_shard_dir",
    "shard_pid",
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


# -----------------------------------------------------------------------------
# Locality-split CSR shards: conversation-local edges never shuffle
# -----------------------------------------------------------------------------
#
# Transcript graphs have massive *edge locality*: turn-adjacency edges (the
# overwhelming majority) connect turns of the SAME conversation. When every
# vertex carries a `home` locality key (turns: their conversation's hash;
# tools: themselves) and state is hash-partitioned by `home`, an adjacency
# edge's src and dst land in the same partition BY CONSTRUCTION — so its
# contribution can be gathered AND applied entirely inside one Python worker,
# never crossing an exchange. Only the remote edges (turn → tool hubs, a few
# distinct dsts after per-shard pre-reduction) cross partitions. This is the
# PowerGraph-style placement insight: the file-superstep engine
# (``graph/filesteps.py``) relays ~|tools| hub entries per superstep through
# the driver instead of shuffling and hash-aggregating an edge-sized
# (75M-row at bench scale) partial table. Graphs with no locality hint
# (PageRank's csr mode) shard the same way with home = vid: an edge is then
# local when both endpoints hash to one partition.

def shard_pid(col: F.Column, num_partitions: int) -> F.Column:
    """Spark's HashPartitioning function: pmod(murmur3(col), n) — F.hash IS
    murmur3_32(seed=42), the same hash HashPartitioning evaluates."""
    return F.pmod(F.hash(col), F.lit(num_partitions))


def _factorize_shard(tbl):
    """Arrow table → factorized CSR-ish arrays (src/dst codes + uniques)."""
    src = tbl.column("src").to_numpy()
    dst = tbl.column("dst").to_numpy()
    p = tbl.column("p").to_numpy().astype(np.float64)
    src_codes, src_uniq = pd.factorize(src, sort=False)
    dst_codes, dst_uniq = pd.factorize(dst, sort=False)
    return (src_codes, src_uniq, dst_codes, dst_uniq, p)


def write_edge_shards_local(enorm: DataFrame, shard_dir: str, num_partitions: int) -> None:
    """One-time shard write for the file-superstep engine.

    ``enorm`` must carry ``(src, dst, p, src_home, dst_home)``; shards are
    keyed by ``pid = pmod(hash(src_home), P)`` with an ``is_local`` flag
    marking edges whose dst lives in the same partition.
    """
    (
        enorm.withColumn("pid", shard_pid(F.col("src_home"), num_partitions))
        .withColumn(
            "is_local",
            shard_pid(F.col("dst_home"), num_partitions) == F.col("pid"),
        )
        .select("src", "dst", "p", "pid", "is_local")
        .repartition("pid")
        .write.mode("overwrite")
        .partitionBy("pid")
        .parquet(shard_dir)
    )


def purge_shard_dir(shard_dir: str) -> None:
    """Delete a shard (or static) dir so it can be rewritten. The three
    file-superstep kernels (``graph/filesteps.py``) share one
    ``_edge_shards_p{P}`` layout but put different values in the ``p`` slot
    — PageRank normalized probabilities, CC constant 1.0, LPA raw summed
    weights — so the engine's cold prep purges a dir whose ``_META.json``
    does not match the kernel before it re-shards. Also drops the node-local
    compiled cache when the dir is an object-store URI; on a multi-node
    cluster, rewriting a URI dir in place would still leave OTHER nodes'
    caches stale — share run dirs across kernels only when the weight
    semantics match, or use a fresh run_id."""
    import shutil

    from ..sources import fsio
    from .filesteps import node_cache_root

    fsio.rmtree(shard_dir)
    if "://" in shard_dir:
        shutil.rmtree(node_cache_root(shard_dir), ignore_errors=True)


_SPLIT_ARRAYS = ("src_codes", "src_uniq", "dst_codes", "dst_uniq", "p")

# (shard_dir, pid, "split") -> (generation, entry); holds one shard_dir at a time
_SPLIT_CACHE: dict = {}


def _load_shard_split(shard_dir: str, pid: int):
    """Factorized (local, remote) halves of one locality shard.

    The factorized arrays are *compiled once* per shard into raw ``.npy``
    files (atomic rename) and loaded with ``np.load(mmap_mode="r")`` — every
    worker on the machine then shares ONE page-cached copy, and a task
    landing on a worker that never saw this pid costs microseconds instead
    of a parquet read + two factorizations (~1 core-second; Spark assigns
    tasks to workers arbitrarily, so per-worker private caches re-paid that
    constantly). The small in-process cache only avoids re-opening files.

    When ``shard_dir`` is an object-store URI the compiled files land in a
    NODE-LOCAL cache directory (keyed by the URI hash) — each machine pulls
    the parquet shard once via pyarrow's FileSystem, compiles into local
    storage, and mmaps from there; exactly the node-local NVMe cache of
    remote shards a real cluster wants.
    """
    key = (shard_dir, pid, "split")
    for stale in [k for k in _SPLIT_CACHE if k[0] != shard_dir]:
        del _SPLIT_CACHE[stale]
    import os

    from .filesteps import compiled_generation, node_cache_root

    if "://" in shard_dir:
        from pyarrow import fs as pafs

        filesystem, base = pafs.FileSystem.from_uri(shard_dir)
        remote_path = f"{base}/pid={pid}"
        if filesystem.get_file_info(remote_path).type == pafs.FileType.NotFound:
            _SPLIT_CACHE[key] = None
            return None
        cdir = os.path.join(node_cache_root(shard_dir), f"pid={pid}", "_compiled_v2")
        read_path, read_fs = remote_path, filesystem
    else:
        path = os.path.join(shard_dir, f"pid={pid}")
        if not os.path.isdir(path):
            _SPLIT_CACHE[key] = None
            return None
        cdir = os.path.join(path, "_compiled_v2")
        read_path, read_fs = path, None

    cached = _SPLIT_CACHE.get(key)
    if cached is not None and cached[0] == compiled_generation(cdir):
        # generation-checked hit: a rmtree+recompile under the same path
        # (shard rewrite for different weight semantics) republishes _OK
        # with a fresh inode, so a long-lived worker never serves the old
        # mmap arrays for a rewritten shard
        return cached[1]
    if not os.path.exists(os.path.join(cdir, "_OK")):
        _compile_shard_split(read_path, cdir, filesystem=read_fs)
    entry = {}
    for half in ("local", "remote"):
        if not os.path.exists(os.path.join(cdir, f"{half}_p.npy")):
            entry[half] = None
            continue
        arrs = tuple(
            np.load(os.path.join(cdir, f"{half}_{name}.npy"), mmap_mode="r")
            for name in _SPLIT_ARRAYS
        )
        entry[half] = arrs
    _SPLIT_CACHE[key] = (compiled_generation(cdir), entry)
    return entry


def _compile_shard_split(path: str, cdir: str, filesystem=None) -> None:
    """One-time factorization of a locality shard into mmap-able npy files.

    ``filesystem`` (pyarrow FileSystem) reads the parquet from a remote
    store; the compiled output is always a LOCAL directory (mmap needs it).
    """
    import pyarrow.parquet as pq

    from .filesteps import publish

    tbl = pq.read_table(path, columns=["src", "dst", "p", "is_local"], filesystem=filesystem)
    mask = tbl.column("is_local").to_numpy()
    arrays = {}
    for half, sub in (("local", tbl.filter(mask)), ("remote", tbl.filter(~mask))):
        if sub.num_rows == 0:
            continue
        for name, arr in zip(_SPLIT_ARRAYS, _factorize_shard(sub)):
            if name.endswith("_codes"):
                # per-shard code space is far below 2^31 — int32 codes cut
                # the per-superstep shard-scan bytes (the DRAM-bandwidth
                # floor of the gather) by a third
                arr = arr.astype(np.int32)
            arrays[f"{half}_{name}"] = arr
    publish(cdir, arrays)


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
