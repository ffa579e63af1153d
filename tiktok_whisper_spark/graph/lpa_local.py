"""Label propagation in conversation-locality (file-superstep) mode.

The LPA kernel of the file-superstep engine (``graph/filesteps.py``), like
local-mode PageRank and CC: int64 label segments hash-partitioned by home,
NumPy kernels against mmap-compiled per-edge alignments, durable
per-superstep checkpoints. What differs is the vote semantics (must match
``lpa.py`` EXACTLY — synchronous, weighted, max-votes-then-min-label):

* every superstep builds ONE vote pool per partition — local symmetric
  edges (labels from the previous segment) concatenated with the
  gather-direction votes of its remote edges a→b (b's mirror label onto a)
  — and resolves it so each vertex's winner sees ALL its votes in one
  summation: small-degree targets (almost all of a transcript graph)
  through the compile-time padded slot table (fixed-width K² vectorized
  pass, no sort, no hash), big targets through the packed-key sort path;
* votes ON a vertex b from remote edges a→b are ``(b × label)``-cardinality
  (≈ one triple per remote edge while labels are still distinct), so they
  never flow through the driver or a row-oriented shuffle: each partition
  pre-reduces its ``(b, label(a), w)`` votes per (b, label) and sends them
  to owner(b) as exchange segments. The owner decides b: ``_winners`` over
  one pool of its own votes on b plus every incoming vote, so a missed
  vote cannot silently flip a winner;
* owner(b) replies with its label of b to every partition that sent votes
  on b; the reply is the sender's *mirror label* of b for the gather
  direction. Before the first reply arrives (superstep 1) the mirror label
  of b is b itself, its label₀;
* strict synchrony is preserved: votes and replies sent at superstep k
  carry labels_k and are used at k+1, so labels_k are computed from
  labels_{k-1} everywhere, starting from labels_0 = the vertex ids.

Float caveat: a vote sum on b is the owner's partial plus per-sender
pre-reduced partials, summed in NumPy, while the DataFrame path reduces
through Spark partial aggregation — both are float64 sums, but the
association order differs, so a *fractional*-weight graph whose top-two
vote sums differ by < 1 ulp could tie-break differently. Integer-valued
weights (this engine's transcript graphs) are exact.
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .filesteps import Kernel, checksum, mirror_labels, positions, replies

__all__ = ["LPAFiles"]

_PAD_K = 8


def _packed_key(hi: np.ndarray, lab: np.ndarray):
    """``(key, lab_uniq, nl)``: ``(hi, label)`` packed into one int64 key,
    ``hi·nl + lcode``, with ``lcode`` the label's dense code. ``np.unique``
    is order-preserving, so ascending keys order labels ascending within
    each ``hi``. Vertex-id labels are ``xxhash64`` values spanning almost
    all of int64, so raw labels never pack; the dense codes do whenever the
    ``hi`` count times the distinct-label count fits — both are far below
    2³¹ in one call (int32 positions or hub codes; labels in one pool)."""
    lab_uniq, lcode = np.unique(lab, return_inverse=True)
    nl = np.int64(len(lab_uniq))
    if (int(hi.max()) + 1) * len(lab_uniq) - 1 > np.iinfo(np.int64).max:
        raise OverflowError(
            f"lpa vote key overflows int64: {int(hi.max()) + 1} targets × "
            f"{len(lab_uniq)} distinct labels"
        )
    return hi.astype(np.int64) * nl + lcode, lab_uniq, nl


def _run_heads(ks: np.ndarray) -> np.ndarray:
    """Mask of the first element of each run of equal values in sorted ``ks``."""
    first = np.empty(len(ks), dtype=bool)
    first[0] = True
    np.not_equal(ks[1:], ks[:-1], out=first[1:])
    return first


def _winners(to: np.ndarray, lab: np.ndarray, w: np.ndarray, return_sums: bool = False):
    """(targets, labels) of per-target vote winners: max Σw, then min label
    — the exact total order of ``lpa.py``'s row_number window.

    Pure NumPy (no pandas hash-groupby, no full three-column sort — the
    measured dominant cost of a superstep at 233M edges): pack ``(target,
    label code)`` into ONE int64 key (:func:`_packed_key`), sort it,
    segment-sum with ``add.reduceat``, then pick each target's winner with
    ``maximum.reduceat`` + a vectorized first-hit scan. Ascending keys put
    label codes ascending within each target, so the FIRST max-sum hit IS
    the min-label tie-break. Float caveat unchanged (module docstring): sums
    are float64 in a different association order than Spark's partial
    aggregation.
    """
    if not len(to):
        return (to, lab, w) if return_sums else (to, lab)
    key, lab_uniq, nl = _packed_key(to, lab)
    # quicksort, not stable: equal keys are SUMMED, so their relative order
    # is irrelevant (float association caveat already documented above)
    order = np.argsort(key)
    ks = key[order]
    starts = np.flatnonzero(_run_heads(ks))
    sums = np.add.reduceat(w[order], starts)
    gk = ks[starts]
    gt = gk // nl
    tfirst = _run_heads(gt)
    tstarts = np.flatnonzero(tfirst)
    smax = np.maximum.reduceat(sums, tstarts)
    seg = np.cumsum(tfirst) - 1
    idx = np.where(sums == smax[seg], np.arange(len(sums)), len(sums))
    win_idx = np.minimum.reduceat(idx, tstarts)
    labels_out = lab_uniq[gk[win_idx] % nl]
    targets_out = gt[tstarts].astype(to.dtype, copy=False)
    if return_sums:
        return targets_out, labels_out, smax  # winner's sum == segment max
    return targets_out, labels_out


def _reduce_votes(code, lab, w):
    """Sum votes per (code, label) before they leave the partition: once
    labels concentrate, a single (hot hub, label) pair can hold tens of
    millions of raw votes. Reduced, the pair is one row per sender (≤ P
    rows at its owner). Partial-then-total float summation matches the
    documented association-order caveat; integer weights exact."""
    key, lu, nl = _packed_key(np.asarray(code, dtype=np.int64), np.asarray(lab, dtype=np.int64))
    order = np.argsort(key)
    ks = key[order]
    starts = np.flatnonzero(_run_heads(ks))
    sums = np.add.reduceat(np.asarray(w, dtype=np.float64)[order], starts)
    gk = ks[starts]
    return gk // nl, lu[gk % nl], sums


_LAB_SENTINEL = np.iinfo(np.int64).max


def _padded_winners(votes_lab, w_all, slots, chunk: int = 1 << 16):
    """Winner label per slot-table row: max Σw then min label, computed with
    a fixed-width K² vectorized pass over the padded (label, weight)
    matrices — no sort, no hash table, cache-blocked row chunks. Pad columns
    are masked out of the argmax (their sum is forced to −inf), so they can
    never win even when every real vote sum is negative — relying on the
    pads' weight-0 sum "losing" would break for all-negative vote weights
    and emit the sentinel as a label, diverging from the sort-path fallback.
    Duplicate label columns produce identical sums and the min() tie-break
    still lands on the right value. Summation order per column is m=0..K-1
    (float caveat as in the module docstring; integer weights exact)."""
    n, K = slots.shape
    out = np.empty(n, dtype=np.int64)
    for lo in range(0, n, chunk):
        S = slots[lo : lo + chunk]
        valid = S >= 0
        idx = np.where(valid, S, 0)
        L = np.where(valid, votes_lab[idx], _LAB_SENTINEL)
        W = np.where(valid, w_all[idx], 0.0)
        SS = np.empty(L.shape)
        for j in range(K):
            SS[:, j] = ((L == L[:, j : j + 1]) * W).sum(axis=1)
        SS[~valid] = -np.inf  # pads out of the argmax (all-negative-weight safe)
        smax = SS.max(axis=1, keepdims=True)
        out[lo : lo + chunk] = np.where(SS == smax, L, _LAB_SENTINEL).min(axis=1)
    return out


def _padded_winners_pair(votes_lab, w_all, slots2):
    """Direct winner for the ≤2-vote class (the bulk of a transcript graph):
    no K² loop, no chunking — a handful of vectorized ops. Total order
    matches _padded_winners exactly: same label → that label (sum w0+w1 in
    slot order, only candidate); different labels → larger weight wins,
    equal weights → min label; a single vote wins outright."""
    i0 = slots2[:, 0]
    has1 = slots2[:, 1] >= 0
    i1 = np.where(has1, slots2[:, 1], i0)
    l0, l1 = votes_lab[i0], votes_lab[i1]
    w0, w1 = w_all[i0], w_all[i1]
    same = l0 == l1  # includes the single-vote rows (i1 == i0)
    return np.where(
        same | ~has1,
        l0,
        np.where(w1 > w0, l1, np.where(w0 > w1, l0, np.minimum(l0, l1))),
    )


def _apply_lpa_kernel(labels, al, mirror, incoming_votes, mk):
    """One synchronous LPA step for one partition: returns ``(out, changed)``.

    The vote pool is the compile-time virtual array [local | remote-gather]
    (``mirror``: the labels of the remote dsts); small-degree targets
    (almost all of a transcript graph) resolve through the padded slot
    table, the rare big targets through the sort path — identical total
    order either way. ``incoming_votes``: one ``(pos, label, w)`` per
    sender of votes on owned vertices; each such target is decided again by
    ``_winners`` over one pool of its own votes plus those."""
    out = labels.copy()
    t0 = time.perf_counter()
    lab_parts = []
    if al["l_to"] is not None:
        lab_parts.append(labels[al["l_from"]])
    if al["r_src_pos"] is not None:
        lab_parts.append(mirror[al["r_hubcode"]])
    mk("k_gather", t0)
    votes_lab = np.concatenate(lab_parts) if lab_parts else None
    w_all = None if al["all_w"] is None else np.asarray(al["all_w"])
    if al["p_classes"]:
        # degree-class sub-tables (see LPAFiles.loaded): same winners,
        # K²-pass cost proportional to each class's true vote width
        t0 = time.perf_counter()
        for ctg, cslots in al["p_classes"]:
            if cslots.shape[1] == 2:
                out[ctg] = _padded_winners_pair(votes_lab, w_all, cslots)
            else:
                out[ctg] = _padded_winners(votes_lab, w_all, cslots)
        mk("k_padded", t0)
    if al["b_to"] is not None and len(al["b_to"]):
        t0 = time.perf_counter()
        b_idx = np.asarray(al["b_idx"])
        tpos, tlab = _winners(
            np.asarray(al["b_to"], dtype=np.int64), votes_lab[b_idx], w_all[b_idx]
        )
        out[tpos] = tlab
        mk("k_sort", t0)
    if incoming_votes:
        t0 = time.perf_counter()
        flag = np.zeros(len(labels), dtype=bool)
        for pos, _, _ in incoming_votes:
            flag[pos] = True
        to_p, lab_p, w_p = [], [], []
        lo = 0
        for targets in (al["l_to"], al["r_src_pos"]):
            if targets is None:
                continue
            sel = np.flatnonzero(flag[targets])
            to_p.append(np.asarray(targets)[sel])
            lab_p.append(votes_lab[lo + sel])
            w_p.append(w_all[lo + sel])
            lo += len(targets)
        for pos, lab, w in incoming_votes:
            to_p.append(pos)
            lab_p.append(lab)
            w_p.append(w)
        tpos, tlab = _winners(
            np.concatenate(to_p).astype(np.int64), np.concatenate(lab_p), np.concatenate(w_p)
        )
        out[tpos] = tlab
        mk("k_owned", t0)
    changed = int(np.count_nonzero(out != labels))
    return out, changed


class LPAFiles(Kernel):
    """Synchronous LPA over home-keyed weighted edges; state
    ``(vid, home, label)``.

    Each superstep's one job applies the kernel, writes label segments and
    exchange segments (only P metrics rows come back). Exchange segment:
    votes ``(b, label, Σw)`` on vertices the reader owns, then replies
    ``(b, label)`` with the writer's labels of vertices the reader voted on.
    """

    name = "label_propagation"
    tag = "lpaalign"
    version = "v3"
    dtype = np.int64
    arrays = (
        "l_to", "l_from", "l_w", "r_src_pos", "r_hubcode", "r_w", "r_dst_uniq", "r_owner",
        # padded small-degree vote-slot table (v2 compile): almost every non-hub
        # vertex of a transcript graph receives <= _PAD_K votes (2 adjacency
        # neighbours + a few tool gathers), so its winner is computed with a
        # fixed-width K^2 vectorized pass instead of any sort/hash over the
        # ~|edges|-row vote relation -- the measured superstep floor
        "all_w", "p_targets", "p_slots", "b_to", "b_idx",
    )
    metrics_schema = "n_rows long, checksum long, changed long"
    segment = ((np.int64, np.int64, np.float64), (np.int64, np.int64))
    state_schema = "vid long, home long, label long"
    # the warm gate needs RAW summed weights in the shard p slot — a dir
    # warmed by PageRank holds normalized probabilities and CC constant
    # 1.0, and silently voting with those would mislabel every community
    meta = {"weights": "raw"}

    def shard_edges(self, edges: DataFrame) -> DataFrame:
        # vote weight of u on v = Σ weight over DIRECTED (u,v) rows; the
        # symmetric doubling happens at alignment-compile time, so one
        # groupBy here matches lpa.symmetrize's sum exactly
        return edges.groupBy("src", "dst").agg(
            F.sum("weight").alias("p"),  # RAW weight in the shard's p slot
            F.first("src_home").alias("src_home"),
            F.first("dst_home").alias("dst_home"),
        ).select("src", "dst", "p", "src_home", "dst_home")

    def combine(self, rows: list[dict], carry: dict, k: int) -> tuple[dict, dict, bool]:
        changed = sum(r["changed"] for r in rows)
        return {"changed": changed, "active_vertices": changed}, {}, changed == 0

    def compile(self, st, vids, shard, pid: int) -> dict[str, np.ndarray]:
        """Symmetric local (to, from, w) triples and remote (src_pos,
        hub_code, w) triples, self-loops dropped (matching
        ``lpa.symmetrize``'s ``src != dst`` filter), plus the padded
        vote-slot table."""
        out: dict[str, np.ndarray] = {}
        if shard is not None and shard["local"] is not None:
            src_codes, src_uniq, dst_codes, dst_uniq, w = shard["local"]
            e_src = positions(vids, src_uniq, pid, "lpa local")[np.asarray(src_codes)]
            e_dst = positions(vids, dst_uniq, pid, "lpa local")[np.asarray(dst_codes)]
            w = np.asarray(w, dtype=np.float64)
            keep = e_src != e_dst  # no self-votes
            e_src, e_dst, w = e_src[keep], e_dst[keep], w[keep]
            if len(e_src):
                out["l_to"] = np.concatenate([e_dst, e_src])
                out["l_from"] = np.concatenate([e_src, e_dst])
                out["l_w"] = np.concatenate([w, w])
        if shard is not None and shard["remote"] is not None:
            src_codes, src_uniq, dst_codes, dst_uniq, w = shard["remote"]
            out["r_src_pos"] = positions(vids, src_uniq, pid, "lpa remote")[np.asarray(src_codes)]
            out["r_hubcode"] = np.asarray(dst_codes, dtype=np.int32)
            out["r_w"] = np.asarray(w, dtype=np.float64)
            out["r_dst_uniq"] = np.asarray(dst_uniq)
            out["r_owner"] = shard["owner"]

        # ---- padded vote-slot table over the virtual vote array [local|remote]
        # (gather direction: remote edge src receives its dst hub's label). The
        # structure is static, so the per-target slot assignment compiles once;
        # each superstep then only gathers labels through it. Targets with more
        # than _PAD_K votes (rare: hubs with local edges, fan-in turns) keep a
        # target-sorted index list for the sort-path fallback.
        tgt_parts = []
        w_parts = []
        if "l_to" in out:
            tgt_parts.append(out["l_to"].astype(np.int64))
            w_parts.append(out["l_w"])
        if "r_src_pos" in out:
            tgt_parts.append(out["r_src_pos"].astype(np.int64))
            w_parts.append(out["r_w"])
        if tgt_parts:
            tgt = np.concatenate(tgt_parts) if len(tgt_parts) > 1 else tgt_parts[0]
            out["all_w"] = np.concatenate(w_parts) if len(w_parts) > 1 else w_parts[0]
            nv = len(vids)
            cnt = np.bincount(tgt, minlength=nv)
            order = np.argsort(tgt, kind="stable")
            ts = tgt[order]
            seg_start = np.zeros(nv + 1, dtype=np.int64)
            np.cumsum(cnt, out=seg_start[1:])
            rank = np.arange(len(ts), dtype=np.int64) - seg_start[ts]
            small = (cnt > 0) & (cnt <= _PAD_K)
            p_targets = np.flatnonzero(small).astype(np.int32)
            row_of = np.full(nv, -1, dtype=np.int64)
            row_of[p_targets] = np.arange(len(p_targets))
            sel = small[ts]
            slots = np.full((len(p_targets), _PAD_K), -1, dtype=np.int32)
            slots[row_of[ts[sel]], rank[sel]] = order[sel].astype(np.int32)
            out["p_targets"] = p_targets
            out["p_slots"] = slots
            big_sel = ~sel & (cnt[ts] > 0)
            if big_sel.any():
                out["b_to"] = ts[big_sel].astype(np.int32)
                out["b_idx"] = order[big_sel].astype(np.int32)
        if "all_w" in out:
            # l_w and r_w are exactly all_w's two halves — reconstructed as
            # views at load time instead of tripling the weight bytes on disk
            out.pop("l_w", None)
            out.pop("r_w", None)
        return out

    def loaded(self, ent: dict) -> None:
        if ent["all_w"] is not None and ent["l_w"] is None:
            # weight halves come back as views of the stored all_w
            n_local = len(ent["l_to"]) if ent["l_to"] is not None else 0
            ent["l_w"] = ent["all_w"][:n_local] if n_local else None
            ent["r_w"] = ent["all_w"][n_local:] if len(ent["all_w"]) > n_local else None
        # ---- degree-class split of the padded slot table (derived at load, not
        # stored): slot rows fill left-to-right, so a target with cnt votes keeps
        # all of them in the first cnt columns — truncated K∈{2,4,8} sub-tables
        # compute identical winners while the K² pass costs K²/64 of the full
        # table. A transcript graph averages ~2 votes/target (two adjacency
        # neighbours), so the flat K=8 table was ~16× more memory traffic than
        # the votes needed — measured 1.93 s → ~0.4 s per partition kernel.
        if ent["p_targets"] is not None and len(ent["p_targets"]):
            slots8 = np.asarray(ent["p_slots"])
            tg8 = np.asarray(ent["p_targets"])
            cnt8 = (slots8 >= 0).sum(axis=1)
            classes = []
            lo = 0
            for kk in (2, 4, slots8.shape[1]):
                m = (cnt8 > lo) & (cnt8 <= kk)
                if m.any():
                    classes.append(
                        (np.ascontiguousarray(tg8[m]), np.ascontiguousarray(slots8[m, :kk]))
                    )
                lo = kk
            ent["p_classes"] = classes
        else:
            ent["p_classes"] = None

    @staticmethod
    def votes(al: dict, labels: np.ndarray):
        """``(to_pid, (b, label, Σw))``: every remote edge a→b's vote
        ``label(a)`` on b, reduced per (b, label) and routed to owner(b)."""
        if al["r_src_pos"] is None:
            return None
        code, lab, sums = _reduce_votes(al["r_hubcode"], labels[al["r_src_pos"]], al["r_w"])
        return al["r_owner"][code], (al["r_dst_uniq"][code], lab, sums)

    def init(self, pid, al, prm):
        labels = np.array(al["vids"])  # own id
        row = {"n_rows": len(labels), "checksum": checksum(al["crc"], labels), "changed": 0}
        return labels, row, [self.votes(al, labels), None]

    def update(self, pid, al, labels, prm, incoming, mk):
        vids = al["vids"]
        mirror = None if al["r_src_pos"] is None else mirror_labels(al, pid, incoming)
        asked = [b for (b, _, _), _ in incoming]
        incoming_votes = [(positions(vids, b, pid, "lpa exchange"), lab, w)
                          for (b, lab, w), _ in incoming if len(b)]
        t0 = time.perf_counter()
        out, changed = _apply_lpa_kernel(labels, al, mirror, incoming_votes, mk=mk)
        mk("kernel", t0)
        row = {"n_rows": len(out), "checksum": checksum(al["crc"], out), "changed": changed}
        return out, row, [self.votes(al, out), replies(vids, pid, out, asked)]

    @staticmethod
    def state_frame(st, state: np.ndarray) -> dict:
        return {
            "vid": st.column("vid").to_numpy(),
            "home": st.column("home").to_numpy(),
            "label": state,
        }
