"""Weighted PageRank as a checkpointed iterative DataFrame job.

Semantics (matched exactly by the NumPy oracle in ``oracle/graph_oracle.py``):

* edge weights are combined per (src, dst) and row-normalized per src:
  ``p(u→v) = w(u,v) / Σ_x w(u,x)``;
* damping ``d`` (default 0.85), uniform teleport — or seed-uniform teleport
  when ``teleport_seeds`` is given (personalized PageRank: teleport AND
  dangling mass land only on the seeds, ``r' = (1-d)·t + d·(gather + D·t)``);
* **dangling mass redistribution** — vertices with no out-edges spread their
  rank over the teleport vector: ``r'(v) = (1-d)/N + d·(Σ_u p(u→v)·r(u) + D/N)``
  in the uniform case, where ``D = Σ_{dangling u} r(u)`` from the previous
  superstep;
* convergence: ``L∞(r' - r) < tol`` (default 1e-6), float64 throughout.

The reference motivates the graph: its duplicate/similarity graph and the
role→tool usage graph (SURVEY.md §1.5); its rank-like surface is the user
leaderboard (``web/handlers/api.go:377-388``) — PageRank generalizes "who
matters" from raw counts to link structure.

Scatter modes, one recurrence:

* ``local`` — **conversation-locality supersteps** for edge tables with
  ``src_home``/``dst_home`` keys: the state is hash-partitioned by home, so
  every turn-adjacency edge (the overwhelming majority) is partition-LOCAL.
  Runs on the file-superstep engine (``graph/filesteps.py``): each superstep
  is ONE small DataFrame job whose tasks gather + update their rank
  segments in NumPy and emit one metrics row per partition; only the
  tool-hub (remote) contributions — a handful of rows per shard after
  pre-reduction — cross partitions, as exchange segments addressed to the
  partition owning each hub. Durable per-superstep checkpoints are
  *inherent*: the superstep output IS the checkpoint.
* ``csr`` (default) — the same engine for graphs with no locality hint
  (similarity/duplicate graphs): every vertex is its own home, so the
  state is hash-partitioned by ``vid`` and an edge is local when both
  endpoints hash to one partition; every other edge's contribution is
  pre-reduced per destination and sent to its owner through the same
  exchange.
* ``sql`` — the plain DataFrame path through ``graph.runner``: salted
  scatter join (hub-key splitting via broadcast joins) and a Catalyst
  ``groupBy(dst).sum`` gather; the tests' oracle for the file engine.
"""

from __future__ import annotations

import os
import tempfile
import time
import uuid
import zlib
from collections.abc import Iterator, Sequence
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import CheckpointStore
from .filesteps import Kernel, Run, positions, read_state_part, run_local
from .runner import GraphRun, run_supersteps
from .scatter import prepare_edges, scatter_gather

__all__ = ["pagerank"]


def pagerank(
    edges: DataFrame,
    *,
    damping: float = 0.85,
    tol: float = 1e-6,
    max_iter: int = 100,
    store: CheckpointStore | None = None,
    run_id: str | None = None,
    resume: bool = True,
    scatter_mode: str = "csr",
    teleport_seeds: Sequence[int] | None = None,
) -> GraphRun:
    """Run PageRank over ``edges(src, dst, weight, ...)`` to convergence.

    ``teleport_seeds`` switches to personalized PageRank: teleport (and
    dangling) mass lands uniformly on the seed vertices instead of 1/N
    everywhere — ``r' = (1-d)·t + d·(gather + D·t)`` with ``t`` the
    seed-uniform vector. Init stays 1/N (the d<1 fixpoint is
    init-independent; fixed-iteration oracles replay the same trajectory).
    Seeds must exist in the graph (raises otherwise — a silent miss would
    leak rank mass). All scatter modes support it; the seed set rides as a
    sorted array in the kernel the superstep tasks receive (local/csr) or a
    broadcast-sized codegen predicate (sql), never a per-row Python call.

    Every mode commits every superstep: under local and csr each
    superstep's output files are its checkpoint.

    Returns a :class:`GraphRun` whose ``state`` has
    ``(vid:long, rank:double, prev_rank:double, dangling:boolean)``, plus
    ``home`` in local and csr modes, where it is read back from the run's
    superstep files (``home`` = ``vid`` under csr).
    """
    if scatter_mode not in ("local", "csr", "sql"):
        raise ValueError(
            f"pagerank: scatter_mode must be 'local', 'csr' or 'sql', got {scatter_mode!r}"
        )
    spark: SparkSession = edges.sparkSession
    store = store or CheckpointStore(tempfile.mkdtemp(prefix="twspark_pr_"))
    run_id = run_id or f"pagerank-{uuid.uuid4().hex[:12]}"

    seeds: list[int] | None = None
    seed_crc: int | None = None
    if teleport_seeds is not None:
        seeds = sorted(set(int(s) for s in teleport_seeds))
        if not seeds:
            raise ValueError("pagerank: teleport_seeds is empty")
        seed_crc = zlib.crc32(np.asarray(seeds, dtype=np.int64).tobytes())

    if scatter_mode in ("local", "csr"):
        if scatter_mode == "csr":
            # hash homes: every vertex is its own home, so shard and static
            # pids are pmod(hash(vid), P) and an edge is local exactly when
            # both endpoints hash to the same partition
            edges = edges.withColumn("src_home", F.col("src")).withColumn("dst_home", F.col("dst"))
        elif "src_home" not in edges.columns or "dst_home" not in edges.columns:
            raise ValueError(
                "scatter_mode='local' needs src_home/dst_home locality columns "
                "(derive edges with include_home=True); without them every edge "
                "is remote and the mode degenerates — use 'csr' instead"
            )
        return run_local(
            edges,
            _PageRankFiles(damping, tol, seeds, seed_crc, hash_homes=scatter_mode == "csr"),
            max_iter=max_iter, store=store, run_id=run_id, resume=resume,
        )

    # -- one-time graph preparation (recomputed cheaply on resume) ----------
    e = edges.groupBy("src", "dst").agg(F.sum("weight").alias("w"))
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    enorm = e.join(out_w, "src").select("src", "dst", (F.col("w") / F.col("out_w")).alias("p"))
    pe = prepare_edges(enorm, payload=("p",))

    vertices = (
        e.select(F.col("src").alias("vid"))
        .unionByName(e.select(F.col("dst").alias("vid")))
        .distinct()
        .join(out_w.select(F.col("src").alias("vid"), F.lit(True).alias("has_out")), "vid", "left")
        .select("vid", F.coalesce(F.col("has_out"), F.lit(False)).alias("has_out"))
        .persist()
    )
    n = vertices.count()
    if n == 0:
        raise ValueError("pagerank: empty edge set")

    if seeds is not None:
        n_hit = vertices.where(F.col("vid").isin(seeds)).count()
        if n_hit != len(seeds):
            raise ValueError(
                f"pagerank: {len(seeds) - n_hit} teleport seed(s) not in the "
                "graph — rank mass would silently leak"
            )

    def init_fn() -> tuple[DataFrame, dict]:
        cols = [
            F.col("vid"),
            F.lit(1.0 / n).alias("rank"),
            F.lit(1.0 / n).alias("prev_rank"),
            (~F.col("has_out")).alias("dangling"),
        ]
        if seeds is not None:
            # teleport weight as a state column: one codegen'd IN-list at
            # init, then it rides the vid partitioning — no per-superstep join
            cols.append(
                F.when(F.col("vid").isin(seeds), F.lit(1.0 / len(seeds)))
                .otherwise(F.lit(0.0))
                .alias("t")
            )
        return vertices.select(*cols), {"ppr_crc": seed_crc}

    def step_fn(state: DataFrame, carry: dict, k: int) -> DataFrame:
        d = damping
        sums = scatter_gather(pe, state.select("vid", "rank"), F.col("p") * F.col("rank"))
        gathered = F.coalesce(sums["c"], F.lit(0.0))
        if seeds is not None:
            rank = (
                F.lit(1.0 - d) * state["t"]
                + F.lit(d) * (gathered + F.lit(carry["dangling_sum"]) * state["t"])
            )
        else:
            rank = F.lit((1.0 - d) / n) + F.lit(d) * (
                gathered + F.lit(carry["dangling_sum"] / n)
            )
        # both sides are hash-partitioned on the join key (state by vid from
        # localCheckpoint, sums by dst from the gather groupBy) — the
        # shuffle_hash hint turns the exchange-free SMJ into an exchange-free
        # hash join, skipping two vertex-sized sorts per superstep.
        out_cols = [
            state["vid"],
            rank.alias("rank"),
            state["rank"].alias("prev_rank"),
            state["dangling"],
        ]
        if seeds is not None:
            out_cols.append(state["t"])
        return state.join(
            sums.hint("shuffle_hash"), state["vid"] == sums["dst"], "left_outer"
        ).select(*out_cols)

    # distributive per-partition partials, combined on the driver (evaluated
    # as a single observe row riding the materialization job)
    partition_aggs = [
        F.max(F.abs(F.col("rank") - F.col("prev_rank"))).alias("p_delta_max"),
        F.sum(F.when(F.col("dangling"), F.col("rank")).otherwise(F.lit(0.0))).alias(
            "p_dangling_sum"
        ),
        F.sum("rank").alias("p_total_mass"),
        F.count(F.when(F.abs(F.col("rank") - F.col("prev_rank")) > tol, 1)).alias("p_active"),
    ]

    def combine_fn(partials: list[dict], carry: dict, k: int) -> tuple[dict, dict, bool]:
        delta_max = max((p["p_delta_max"] for p in partials), default=0.0)
        dangling_sum = sum(p["p_dangling_sum"] for p in partials)
        total_mass = sum(p["p_total_mass"] for p in partials)
        active = sum(p["p_active"] for p in partials)
        converged = k > 0 and delta_max < tol
        metrics = {
            "kernel": "pagerank",
            "delta_max": delta_max,
            "total_mass": total_mass,
            "active_vertices": active,
            "edges_processed": pe.num_edges,
            "n_vertices": n,
        }
        return metrics, {"dangling_sum": dangling_sum, "ppr_crc": seed_crc}, converged

    def restore_fn(loaded: DataFrame) -> DataFrame:
        # prev_rank is regenerated every superstep — not persisted (halves
        # the durable write); the teleport column 't' is a pure function of
        # the seed set, so it is rebuilt here too instead of being persisted.
        out = loaded
        if "prev_rank" not in out.columns:
            out = out.select("vid", "rank", F.col("rank").alias("prev_rank"), "dangling")
        if seeds is not None and "t" not in out.columns:
            out = out.withColumn(
                "t",
                F.when(F.col("vid").isin(seeds), F.lit(1.0 / len(seeds)))
                .otherwise(F.lit(0.0)),
            )
        return out

    def resume_check_fn(carry: dict) -> None:
        # mirror local mode's ppr_crc guard: a resume under a different
        # teleport config (global vs PPR, or another seed set) would silently
        # blend two different recurrences — refuse instead.
        if carry.get("ppr_crc") != seed_crc:
            raise RuntimeError(
                f"cannot resume run {run_id!r}: committed with a different "
                "teleport-seed set — resuming would silently blend two "
                "different recurrences; use a fresh run_id"
            )

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
            checkpoint_cols=["vid", "rank", "dangling"],
            restore_fn=restore_fn,
            resume_check_fn=resume_check_fn,
        )
    finally:
        pe.unpersist()
        vertices.unpersist()


# =============================================================================
# Locality (file-superstep) mode: the PageRank kernel of ``graph.filesteps``
# =============================================================================

# chunk sized to stay LLC-resident across the fused passes below: all six
# reductions + the incremental crc touch a chunk while it is still cached,
# so the vector streams from DRAM ~twice instead of ~seven times (metrics
# was ~20% of a superstep, and the excess traffic inflated 4-core busy time
# by several percent — pure contention on this one-memory-controller box)
_METRICS_CHUNK = 1 << 20


def _part_metrics(ranks, prev, dangling, tol: float, vids_crc: int) -> dict[str, Any]:
    n_rows = int(len(ranks))
    delta_max, active, dangling_sum, total_mass = 0.0, 0, 0.0, 0.0
    crc = 0
    if n_rows:
        ranks = np.ascontiguousarray(ranks)
        dang = np.asarray(dangling)
        scratch = np.empty(min(_METRICS_CHUNK, len(ranks)))
        for lo in range(0, len(ranks), _METRICS_CHUNK):
            r = ranks[lo : lo + _METRICS_CHUNK]
            p = prev[lo : lo + _METRICS_CHUNK]
            d = scratch[: len(r)]
            np.subtract(r, p, out=d)
            np.abs(d, out=d)
            m = float(d.max())
            if m > delta_max:
                delta_max = m
            active += int(np.count_nonzero(d > tol))
            dangling_sum += float(np.sum(r, where=dang[lo : lo + _METRICS_CHUNK]))
            total_mass += float(r.sum())
            crc = zlib.crc32(memoryview(r).cast("B"), crc)
    return {
        "n_rows": n_rows,
        "checksum": int(vids_crc ^ crc),
        "delta_max": delta_max,
        "dangling_sum": dangling_sum,
        "total_mass": total_mass,
        "active": active,
    }


class _PageRankFiles(Kernel):
    """Home-keyed PageRank on the file-superstep engine (conversation homes
    in local mode, ``home = vid`` in csr mode).

    Each task reads its partition's compiled arrays, the previous rank
    segment and the partials other partitions sent it, computes the full
    local gather + rank update in NumPy, and sends the contributions along
    its REMOTE edges (turn→tool under conversation homes), pre-reduced to
    one ``(dst, c)`` row per destination, to the partition owning ``dst``.
    The owner adds each sender's partials in ascending sender order, so the
    float summation order does not depend on task packing.

    Compiled per partition, once, from the static file and the edge shard:
    the dangling flags, each edge's transition probability, and the
    positions of each edge's endpoints composed down to edge granularity
    (``pos[codes]``) — a superstep's gather is one rank fancy-index +
    in-place multiply + one bincount straight into the vid-indexed vector,
    with no vertex-sized aligned temp and no scatter pass. Remote edges keep
    their destination codes, ids and owner partitions for the pre-reduction.
    """

    name = "pagerank"
    tag = "aligned"
    version = "v4"
    dtype = np.float64
    arrays = (
        "dang", "epos_src_local", "epos_dst_local", "p_local",
        "epos_src_remote", "p_remote", "dst_codes_remote", "dst_uniq_remote", "owner_remote",
    )
    metrics_schema = (
        "n_rows long, checksum long, delta_max double, dangling_sum double, "
        "total_mass double, active long"
    )
    segment = ((np.int64, np.float64),)  # (dst, c) partials
    state_schema = "vid long, home long, rank double, prev_rank double, dangling boolean"
    meta = {"weights": "norm"}

    def __init__(self, damping: float, tol: float, seeds: list[int] | None,
                 seed_crc: int | None, hash_homes: bool = False) -> None:
        self.damping, self.tol = damping, tol
        self.seeds, self.seed_crc = seeds, seed_crc
        if hash_homes:
            # warm-gate marker: shards laid out by hash homes never serve a
            # locality-keyed run of the same run_id, nor the reverse
            self.meta = {**self.meta, "homes": "vid"}

    def shard_edges(self, edges: DataFrame) -> DataFrame:
        e = edges.groupBy("src", "dst").agg(
            F.sum("weight").alias("w"),
            F.first("src_home").alias("src_home"),
            F.first("dst_home").alias("dst_home"),
        )
        out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
        return e.join(out_w, "src").select(
            "src", "dst", (F.col("w") / F.col("out_w")).alias("p"), "src_home", "dst_home"
        )

    def vertices(self, v: DataFrame, e: DataFrame) -> DataFrame:
        has_out = e.select(F.col("src").alias("vid")).distinct().withColumn("has_out", F.lit(True))
        return v.join(has_out, "vid", "left").select(
            "vid", "home", (~F.coalesce(F.col("has_out"), F.lit(False))).alias("dangling")
        )

    def check(self, run: Run, carry: dict | None) -> None:
        if self.seeds is not None:
            # the vertex universe lives in the (sorted) static vid files —
            # one tiny job counts seed membership per partition
            static_dir, seeds = run.lay.static_dir, self.seeds

            def seed_hits(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
                tot = 0
                ss = np.asarray(seeds, dtype=np.int64)
                for pdf in batches:
                    for pid in pdf["pid"].to_numpy():
                        st = read_state_part(static_dir, int(pid), columns=["vid"])
                        if st is None:
                            continue
                        v = st.column("vid").to_numpy()
                        pos = np.minimum(np.searchsorted(v, ss), len(v) - 1)
                        tot += int(np.count_nonzero(v[pos] == ss))
                yield pd.DataFrame([{"hits": tot}])

            n_hit = sum(r["hits"] for r in run.pids.mapInPandas(seed_hits, "hits long").collect())
            if n_hit != len(seeds):
                raise ValueError(
                    f"pagerank: {len(seeds) - n_hit} teleport seed(s) not in the "
                    "graph — rank mass would silently leak"
                )
        if carry is not None and carry.get("ppr_crc") != self.seed_crc:
            raise RuntimeError(
                f"cannot resume run {os.path.basename(run.lay.run_dir)!r}: committed with a "
                "different teleport-seed set — resuming would silently blend "
                "two different recurrences; use a fresh run_id"
            )

    def params(self, carry: dict, k: int) -> dict:
        return {"dangling_sum": carry["dangling_sum"]} if k else {}

    def combine(self, rows: list[dict], carry: dict, k: int) -> tuple[dict, dict, bool]:
        delta_max = max(r["delta_max"] for r in rows)
        metrics = {
            "delta_max": delta_max,
            "total_mass": sum(r["total_mass"] for r in rows),
            "active_vertices": sum(r["active"] for r in rows),
        }
        carry = {"dangling_sum": sum(r["dangling_sum"] for r in rows), "ppr_crc": self.seed_crc}
        return metrics, carry, delta_max < self.tol

    def compile(self, st, vids, shard, pid: int) -> dict[str, np.ndarray]:
        out = {"dang": st.column("dangling").to_numpy()}
        for half in ("local", "remote"):
            h = None if shard is None else shard[half]
            if h is None:
                continue
            src_codes, src_uniq, dst_codes, dst_uniq, p = h
            epos = positions(vids, src_uniq, pid, f"{half} gather")
            out[f"epos_src_{half}"] = epos[src_codes]
            out[f"p_{half}"] = p
            if half == "local":
                epos = positions(vids, dst_uniq, pid, "local gather")
                out["epos_dst_local"] = epos[dst_codes]
            else:
                out["dst_codes_remote"] = dst_codes.astype(np.int32)
                out["dst_uniq_remote"] = dst_uniq
                out["owner_remote"] = shard["owner"]
        return out

    def decode(self, prm: dict) -> dict:
        n, d, dsum = prm["n"], self.damping, float(prm["dangling_sum"])
        return {
            "base": (1.0 - d) / n,
            "dpv": dsum / n,
            # personalized: teleport + dangling mass land ONLY on the seed
            # vertices — seed_add pre-folds (1-d)+d·D over |S|
            "seeds": None if self.seeds is None else np.asarray(self.seeds, dtype=np.int64),
            "seed_add": ((1.0 - d) + d * dsum) / len(self.seeds) if self.seeds else 0.0,
        }

    def init(self, pid, al, prm):
        ranks = np.full(len(al["vids"]), 1.0 / prm["n"])
        m = _part_metrics(ranks, ranks, al["dang"], self.tol, al["crc"])
        m["delta_max"] = 0.0
        m["active"] = 0
        return ranks, m, [self.remote_sums(al, ranks)]

    def update(self, pid, al, ranks, prm, incoming, mk):
        d, vids = self.damping, al["vids"]
        t0 = time.perf_counter()
        if al["epos_src_local"] is not None:
            g = ranks[al["epos_src_local"]]
            np.multiply(g, al["p_local"], out=g)
            local_c = np.bincount(al["epos_dst_local"], weights=g, minlength=len(vids))
        else:
            local_c = np.zeros(len(vids))
        mk("local", t0)
        t0 = time.perf_counter()
        if self.seeds is None:
            new_rank = prm["base"] + d * (local_c + prm["dpv"])
        else:
            new_rank = d * local_c
            seeds_np = prm["seeds"]
            pos = np.minimum(np.searchsorted(vids, seeds_np), len(vids) - 1)
            hit = np.asarray(vids[pos] == seeds_np)
            if hit.any():
                new_rank[pos[hit]] += prm["seed_add"]
        # remote partials, one pre-reduced (dst, c) set per sender, added in
        # ascending sender order against the (sorted) static vids
        for (dst, c), in incoming:
            if len(dst):
                new_rank[positions(vids, dst, pid, "pagerank exchange")] += d * c
        mk("remote_align", t0)
        t0 = time.perf_counter()
        m = _part_metrics(new_rank, ranks, al["dang"], self.tol, al["crc"])
        mk("metrics", t0)
        t0 = time.perf_counter()
        outgoing = [self.remote_sums(al, new_rank)]
        mk("rpartials", t0)
        return new_rank, m, outgoing

    @staticmethod
    def remote_sums(al: dict, ranks: np.ndarray):
        """Pre-reduced contributions ``(dst, c)`` along the REMOTE edges,
        routed to the owner of ``dst``."""
        if al["epos_src_remote"] is None:
            return None
        g = ranks[al["epos_src_remote"]]
        np.multiply(g, al["p_remote"], out=g)
        dst_uniq = al["dst_uniq_remote"]
        sums = np.bincount(al["dst_codes_remote"], weights=g, minlength=len(dst_uniq))
        return al["owner_remote"], (dst_uniq, sums)

    @staticmethod
    def state_frame(st, state: np.ndarray) -> dict:
        return {
            "vid": st.column("vid").to_numpy(),
            "home": st.column("home").to_numpy(),
            "rank": state,
            "prev_rank": state,
            "dangling": st.column("dangling").to_numpy(),
        }
