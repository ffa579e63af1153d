"""Connected components in conversation-locality (file-superstep) mode.

The min-label kernel of the file-superstep engine (``graph/filesteps.py``):
vertex labels live in raw int64 segments hash-partitioned by home, each
superstep's tasks run the min-label kernel in NumPy against mmap-compiled
per-edge alignments, and only O(#hubs) label entries per partition cross
partitions, as exchange segments.

Undirected semantics WITHOUT a symmetrize/distinct shuffle: the directed
shards are symmetrized at alignment-compile time (both directions of every
partition-local edge enter the sorted gather), and each remote edge a→b
(a owned here, b by another partition) is used in both directions —

* a→b: a message ``(b, min label of the a's)`` per b goes to owner(b),
  which takes the min into b's label;
* b→a: owner(b) replies with its label of b to every partition that sent
  it a message about b; the reply is the sender's *mirror label* of b, and
  each a takes the min over its mirrors through the remote edge list
  sorted by source position. Before the first reply arrives (superstep 1)
  the mirror label of b is b itself — label₀ — so superstep 1 already
  sees every remote edge in both directions.

A message sent at superstep k carries labels_k and is applied at k+1, and
so is a reply, so every superstep computes labels_k from labels_{k-1}
alone (Jacobi): no label changing means the fixpoint, and a label needs
two supersteps to cross a hub (u → owner(hub) → u′).

Duplicate edges are harmless under min-semantics, so — unlike the DataFrame
path (``cc.symmetrize``) — no ``distinct`` is needed anywhere. Min-label
propagation converges to the unique per-vertex component minimum, so the
final labels match the DataFrame path and the union-find oracle exactly.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .filesteps import Kernel, checksum, mirror_labels, positions, replies

__all__ = ["CCFiles"]


class CCFiles(Kernel):
    """Min-label connected components over home-keyed edges; state
    ``(vid, home, label)``.

    Compiled per partition: the compile-time-SYMMETRIZED local edge list
    sorted by destination position (segment offsets for one
    ``minimum.reduceat`` per superstep), and the remote edge list in both
    sort orders (by dst for the messages, by local source for the mirror
    labels). Exchange segment: messages ``(b, min label)`` then replies
    ``(b, label)``.
    """

    name = "connected_components"
    tag = "ccalign"
    version = "v2"
    dtype = np.int64
    arrays = (
        "l_from", "l_off", "l_to",
        "r_gfrom", "r_goff", "r_gdst_vid", "r_gowner",
        "r_s_hubcode", "r_soff", "r_sto", "r_dst_uniq",
    )
    metrics_schema = "n_rows long, checksum long, changed long"
    segment = ((np.int64, np.int64), (np.int64, np.int64))
    state_schema = "vid long, home long, label long"
    meta = {"weights": "unit"}
    # min-label ignores the shard p slot, so ANY kernel's warm shards are
    # reusable (norm/unit/raw) — the gate only requires the sorted layout
    any_weights = True

    def shard_edges(self, edges: DataFrame) -> DataFrame:
        # no groupBy/distinct prep: duplicate directed edges are idempotent
        # under min, so shards are written straight from the edge table
        return edges.select("src", "dst", F.lit(1.0).alias("p"), "src_home", "dst_home")

    def combine(self, rows: list[dict], carry: dict, k: int) -> tuple[dict, dict, bool]:
        changed = sum(r["changed"] for r in rows)
        return {"changed": changed, "active_vertices": changed}, {}, changed == 0

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
            out["r_gowner"] = shard["owner"][g_dstc]
            osrt = np.argsort(sp_e, kind="stable")
            s_upos, s_off = np.unique(sp_e[osrt], return_index=True)
            out["r_s_hubcode"] = dst_codes[osrt].astype(np.int32)
            out["r_soff"] = s_off.astype(np.int64)
            out["r_sto"] = s_upos.astype(np.int32)
            out["r_dst_uniq"] = dst_uniq
        return out

    def messages(self, al: dict, labels: np.ndarray):
        """``(to_pid, (b, min label))``: per remote dst b, the min label of
        its local sources, routed to owner(b)."""
        if al["r_gfrom"] is None:
            return None
        mins = np.minimum.reduceat(labels[al["r_gfrom"]], al["r_goff"])
        return al["r_gowner"], (al["r_gdst_vid"], mins)

    def init(self, pid, al, prm):
        labels = np.array(al["vids"])  # own id
        row = {"n_rows": len(labels), "checksum": checksum(al["crc"], labels), "changed": 0}
        return labels, row, [self.messages(al, labels), None]

    def update(self, pid, al, labels, prm, incoming, mk):
        vids = al["vids"]
        out = labels.copy()
        if al["l_from"] is not None:
            m = np.minimum.reduceat(labels[al["l_from"]], al["l_off"])
            to = al["l_to"]
            out[to] = np.minimum(out[to], m)
        if al["r_s_hubcode"] is not None:
            # b→a: every remote edge's mirror label of b onto its local source
            mirror = mirror_labels(al, pid, incoming)
            m2 = np.minimum.reduceat(mirror[al["r_s_hubcode"]], al["r_soff"])
            to = al["r_sto"]
            out[to] = np.minimum(out[to], m2)
        # a→b: the senders' per-b mins onto the owned b's
        asked = []
        for (b, lab), _ in incoming:
            asked.append(b)
            if len(b):
                pos = positions(vids, b, pid, "cc exchange")
                out[pos] = np.minimum(out[pos], lab)
        changed = int(np.count_nonzero(out != labels))
        row = {"n_rows": len(out), "checksum": checksum(al["crc"], out), "changed": changed}
        return out, row, [self.messages(al, out), replies(vids, pid, out, asked)]

    @staticmethod
    def state_frame(st, state: np.ndarray) -> dict:
        return {
            "vid": st.column("vid").to_numpy(),
            "home": st.column("home").to_numpy(),
            "label": state,
        }
