"""Connected components in conversation-locality (file-superstep) mode.

The min-label kernel of the file-superstep engine (``graph/filesteps.py``):
vertex labels live in raw int64 segments hash-partitioned by home, each
superstep's tasks run the min-label kernel in NumPy against mmap-compiled
per-edge alignments, and only O(#hubs) label entries cross partitions
through a driver-merged dict.

Undirected semantics WITHOUT a symmetrize/distinct shuffle: the directed
shards are symmetrized at alignment-compile time (both directions of every
partition-local edge enter the sorted gather), and the remote (turn→tool)
edges are used bidirectionally —

* gather: per-shard segmented min of local labels per remote dst (hub),
  reported to the driver (≤ #hubs rows per task);
* scatter: the driver's merged per-hub labels come back through the params
  file and each partition applies them to its local sources through the
  same edge list sorted by source position;
* ownership: the partition holding a hub vertex updates the hub's own
  segment entry AND reports its current label every superstep, so the
  driver's hub view can never go stale (a hub min arriving through a
  partition-local edge still reaches every other partition next superstep).

Duplicate edges are harmless under min-semantics, so — unlike the DataFrame
path (``cc.symmetrize``) — no ``distinct`` is needed anywhere.

Fixpoint equality: min-label propagation converges to the unique per-vertex
component minimum under ANY update order (the labels form a meet
semilattice), so the final labels match the DataFrame path and the
union-find oracle exactly even though the hub relay makes intermediate
supersteps Gauss-Seidel-fresh rather than strictly Jacobi.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .filesteps import Kernel, Run, checksum, load_compiled, positions

__all__ = ["CCFiles"]


def _apply_min_kernel(labels: np.ndarray, al: dict, rvids: np.ndarray, rvals: np.ndarray):
    """One Jacobi-with-hub-relay min step for one partition.

    Returns ``(out, changed, hub_reports)`` where ``hub_reports`` is a list
    of ``(hub_vid_array, label_array)`` pre-reduced contributions.
    """
    vids = al["vids"]
    out = labels.copy()
    if al["l_from"] is not None:
        m = np.minimum.reduceat(labels[al["l_from"]], al["l_off"])
        to = al["l_to"]
        out[to] = np.minimum(out[to], m)
    own_pos = own_hit = None
    if len(rvids):
        # hub labels scattered onto local sources through remote edges
        if al["r_s_hubcode"] is not None:
            hub_idx = np.searchsorted(rvids, al["r_dst_uniq"])
            hub_idx = np.minimum(hub_idx, len(rvids) - 1)
            ok = np.asarray(rvids[hub_idx] == al["r_dst_uniq"])
            hub_label = np.where(ok, rvals[hub_idx], np.iinfo(np.int64).max)
            m2 = np.minimum.reduceat(hub_label[al["r_s_hubcode"]], al["r_soff"])
            to = al["r_sto"]
            out[to] = np.minimum(out[to], m2)
        # hub vertices owned by this partition take the merged min directly
        own_pos = np.searchsorted(vids, rvids)
        own_pos = np.minimum(own_pos, len(vids) - 1)
        own_hit = np.asarray(vids[own_pos] == rvids)
        if own_hit.any():
            p = own_pos[own_hit]
            out[p] = np.minimum(out[p], rvals[own_hit])
    changed = int(np.count_nonzero(out != labels))
    reports: list[tuple[np.ndarray, np.ndarray]] = []
    if al["r_gfrom"] is not None:
        mins = np.minimum.reduceat(out[al["r_gfrom"]], al["r_goff"])
        reports.append((np.asarray(al["r_gdst_vid"]), mins))
    if own_hit is not None and own_hit.any():
        p = own_pos[own_hit]
        reports.append((np.asarray(rvids)[own_hit], out[p]))
    return out, changed, reports


class CCFiles(Kernel):
    """Min-label connected components over home-keyed edges; state
    ``(vid, home, label)``.

    Compiled per partition: the compile-time-SYMMETRIZED local edge list
    sorted by destination position (segment offsets for one
    ``minimum.reduceat`` per superstep), and the remote edge list in both
    sort orders (by hub for the gather, by local source for the scatter).
    """

    name = "connected_components"
    tag = "ccalign"
    version = "v1"
    dtype = np.int64
    arrays = (
        "l_from", "l_off", "l_to",
        "r_gfrom", "r_goff", "r_gdst_vid",
        "r_s_hubcode", "r_soff", "r_sto", "r_dst_uniq",
    )
    metrics_schema = "n_rows long, checksum long, changed long"
    exchange_schema = "dst long, c long"
    state_schema = "vid long, home long, label long"
    meta = {"weights": "unit"}
    # min-label ignores the shard p slot, so ANY kernel's warm shards are
    # reusable (norm/unit/raw) — the gate only requires the sorted layout
    any_weights = True

    def shard_edges(self, edges: DataFrame) -> DataFrame:
        # no groupBy/distinct prep: duplicate directed edges are idempotent
        # under min, so shards are written straight from the edge table
        return edges.select("src", "dst", F.lit(1.0).alias("p"), "src_home", "dst_home")

    def params(self, carry: dict, k: int) -> dict:
        if k == 0:
            return {}
        rv = sorted((int(h), int(v)) for h, v in carry["hub"].items())
        return {"rvids": [h for h, _ in rv], "rvals": [v for _, v in rv]}

    def combine(self, run: Run, rows: list[dict], exchange: list[dict], carry: dict,
                k: int) -> tuple[dict, dict, bool]:
        hub: dict[int, int] = {}
        for r in exchange:
            h, v = int(r["dst"]), int(r["c"])
            if h not in hub or v < hub[h]:
                hub[h] = v
        if k == 0:
            # hub's own init label is its vid — fold the identity into the merge
            hub = {h: min(v, h) for h, v in hub.items()}
        changed = sum(r["changed"] for r in rows)
        metrics = {"changed": changed, "active_vertices": changed}
        return metrics, {"hub": {str(h): v for h, v in hub.items()}}, changed == 0

    def compile(self, st, vids, shard, pid: int) -> dict[str, np.ndarray]:
        out: dict[str, np.ndarray] = {}
        if shard is not None and shard["local"] is not None:
            src_codes, src_uniq, dst_codes, dst_uniq, _p = shard["local"]
            e_src = positions(vids, src_uniq, pid, "cc local")[np.asarray(src_codes)]
            e_dst = positions(vids, dst_uniq, pid, "cc local")[np.asarray(dst_codes)]
            # symmetrize here, not in Spark: both directions of each local edge
            e_from = np.concatenate([e_src, e_dst])
            e_to = np.concatenate([e_dst, e_src])
            order = np.argsort(e_to, kind="stable")
            e_from = e_from[order]
            e_to = e_to[order]
            to_upos, starts = np.unique(e_to, return_index=True)
            out["l_from"] = e_from
            out["l_off"] = starts.astype(np.int64)
            out["l_to"] = to_upos.astype(np.int32)
        if shard is not None and shard["remote"] is not None:
            src_codes, src_uniq, dst_codes, dst_uniq, _p = shard["remote"]
            sp_e = positions(vids, src_uniq, pid, "cc remote")[np.asarray(src_codes)]
            dst_codes = np.asarray(dst_codes)
            dst_uniq = np.asarray(dst_uniq)
            og = np.argsort(dst_codes, kind="stable")
            g_dstc, g_off = np.unique(dst_codes[og], return_index=True)
            out["r_gfrom"] = sp_e[og]
            out["r_goff"] = g_off.astype(np.int64)
            out["r_gdst_vid"] = dst_uniq[g_dstc]
            osrt = np.argsort(sp_e, kind="stable")
            s_upos, s_off = np.unique(sp_e[osrt], return_index=True)
            out["r_s_hubcode"] = dst_codes[osrt].astype(np.int32)
            out["r_soff"] = s_off.astype(np.int64)
            out["r_sto"] = s_upos.astype(np.int32)
            out["r_dst_uniq"] = dst_uniq
        return out

    def decode(self, prm: dict) -> dict:
        return {
            "rvids": np.asarray(prm["rvids"], dtype=np.int64),
            "rvals": np.asarray(prm["rvals"], dtype=np.int64),
        }

    def init(self, lay, pid, st, prm):
        al = load_compiled(self, lay, pid)
        labels = np.array(al["vids"])  # own id
        row = {"n_rows": len(labels), "checksum": checksum(al["crc"], labels), "changed": 0}
        exch = None
        if al["r_gfrom"] is not None:
            mins = np.minimum.reduceat(labels[al["r_gfrom"]], al["r_goff"])
            exch = pd.DataFrame({"dst": np.asarray(al["r_gdst_vid"]), "c": mins})
        return labels, row, exch

    def update(self, lay, pid, al, labels, prm, mk):
        out, changed, reports = _apply_min_kernel(labels, al, prm["rvids"], prm["rvals"])
        row = {"n_rows": len(out), "checksum": checksum(al["crc"], out), "changed": changed}
        exch = None
        if reports:
            exch = pd.concat([pd.DataFrame({"dst": hv, "c": hl}) for hv, hl in reports],
                             ignore_index=True)
        return out, row, exch

    def merge(self, parts: list[pd.DataFrame], k: int) -> pd.DataFrame:
        return pd.concat(parts, ignore_index=True).groupby("dst", as_index=False)["c"].min()

    @staticmethod
    def state_frame(st, state: np.ndarray) -> dict:
        return {
            "vid": st.column("vid").to_numpy(),
            "home": st.column("home").to_numpy(),
            "label": state,
        }
