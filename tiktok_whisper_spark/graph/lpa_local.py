"""Label propagation in conversation-locality (file-superstep) mode.

The LPA kernel of the file-superstep engine (``graph/filesteps.py``), like
local-mode PageRank and CC: int64 label segments hash-partitioned by home,
NumPy kernels against mmap-compiled per-edge alignments, durable
per-superstep checkpoints. What differs is the vote semantics (must match ``lpa.py``
EXACTLY — synchronous, weighted, max-votes-then-min-label):

* every superstep builds ONE vote pool per partition — local symmetric
  edges (labels from the previous segment) concatenated with hub→local
  votes (hub labels of the previous superstep via the params file) — and
  resolves it so each vertex's winner sees ALL its votes in one summation:
  small-degree targets (almost all of a transcript graph) through the
  compile-time padded slot table (fixed-width K² vectorized pass, no sort,
  no hash), big targets through the packed-key sort path;
* votes ON a hub aggregate across partitions — and UNLIKE PageRank/CC's
  per-hub scalar exchange, hub votes are ``(hub × label)``-cardinality
  (≈ one triple per remote edge while labels are still distinct), so they
  must NEVER flow through the driver OR through a row-oriented shuffle.
  The exchange is file supersteps all the way down: each task writes its
  raw vote triples into P slot-sliced binary segments — slot = hash of the
  (hub, LABEL) pair mod P, superstep-stamped, atomic publish — so a Zipf
  hub's votes spread across all P slices while every pair's sum stays
  complete within one slice. A second tiny job's task j reads slice j of
  every partition's segment, reduces per-pair sums in NumPy (packed-key
  sort + reduceat), and returns its per-hub BEST (label, Σw) candidates;
  the driver merges the ≤ P×#hubs candidates with the exact total order
  (max Σw, then min label — per-slice bests are sufficient because the
  (hub, label) space is partitioned). Nothing edge-sized crosses Arrow,
  the JVM, or a Spark shuffle. Crucially the partition
  OWNING a hub reports that hub's COMPLETE incident-vote multiset share:
  its local-edge votes AND the gather-direction votes of its own remote
  edges (see ``_votes_on_hubs``) — a missed vote would silently flip a
  winner and diverge from the DataFrame path;
* strict synchrony is preserved: labels_k are computed from labels_{k-1}
  everywhere; hub labels for superstep k were decided by votes reported out
  of superstep k-1. Init is two-phase — the first job writes labels_0 and
  surfaces the hub universe (remote dst ids), the second replays the vote
  report from labels_0 with that universe known — so superstep 1's winners
  include owner-local votes too.

Float caveat: hub vote sums reduce per winner-slot via NumPy reduceat over
partition-ordered triples, the DataFrame path reduces through Spark
partial aggregation — both are float64 sums, but the association order
differs, so a *fractional*-weight graph whose top-two vote sums differ by
< 1 ulp could tie-break differently. Integer-valued weights (this engine's
transcript graphs) are exact.
"""

from __future__ import annotations

import os
import time
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..sources import fsio
from .filesteps import Kernel, Layout, Run, checksum, load_compiled, positions, read_rank_part

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


def _votes_on_hubs(lab_now, al, rvids, hub_lab_now):
    """This partition's COMPLETE share of the vote multiset on hub vertices,
    as parallel (hub_idx, hub_vid, label, w) array lists:

    1. scatter: every remote edge's src label votes on its dst hub;
    2. owner-local: local (compile-time-symmetrized) edges incident to a
       hub this partition owns vote with their far end's label;
    3. gather-direction: a remote edge whose SRC is itself a hub receives
       the dst hub's label as a vote on that src — the reverse orientation
       of (1). ``lpa.py`` symmetrizes so vote(u, v) sums BOTH directed
       weights of a cross-partition pair; without this case each hub's
       winner saw only the weight of edges pointing AT it, silently
       diverging whenever a pair has directed edges in both orientations
       with unequal weights.

    Every remote edge thus contributes exactly one vote on its dst (1) and,
    iff its src is a hub, exactly one vote on its src (3); the opposite
    directed edge of the same pair lives in the OTHER endpoint's shard and
    contributes the mirror votes there — together they reproduce
    ``lpa.symmetrize``'s summed weights with no double count.
    """
    vids = al["vids"]
    hidx_p, h_p, l_p, w_p = [], [], [], []
    if not len(rvids):
        return hidx_p, h_p, l_p, w_p
    if al["r_src_pos"] is not None:
        r_w = np.asarray(al["r_w"], dtype=np.float64)
        uniq_hidx = np.searchsorted(rvids, al["r_dst_uniq"])
        uniq_hidx = np.minimum(uniq_hidx, len(rvids) - 1)
        if not np.asarray(rvids[uniq_hidx] == al["r_dst_uniq"]).all():
            raise RuntimeError("lpa vote report: remote dst missing from hub universe")
        hidx1 = uniq_hidx[np.asarray(al["r_hubcode"])]
        hidx_p.append(hidx1)
        h_p.append(np.asarray(rvids)[hidx1])
        l_p.append(lab_now[np.asarray(al["r_src_pos"])])
        w_p.append(r_w)
        src_vid = np.asarray(vids)[np.asarray(al["r_src_pos"])]
        sp = np.searchsorted(rvids, src_vid)
        sp = np.minimum(sp, len(rvids) - 1)
        hit = np.asarray(rvids[sp] == src_vid)
        if hit.any():
            hidx_p.append(sp[hit])
            h_p.append(src_vid[hit])
            l_p.append(np.asarray(hub_lab_now)[hidx1[hit]])
            w_p.append(r_w[hit])
    own_pos = np.searchsorted(vids, rvids)
    own_pos = np.minimum(own_pos, len(vids) - 1)
    own_hit = np.asarray(vids[own_pos] == rvids)
    if own_hit.any() and al["l_to"] is not None:
        flag = np.zeros(len(vids), dtype=bool)
        flag[own_pos[own_hit]] = True
        l_to = np.asarray(al["l_to"])
        sel = flag[l_to]
        if sel.any():
            hvid = np.asarray(vids)[l_to[sel]]
            hidx_p.append(np.searchsorted(rvids, hvid))
            h_p.append(hvid)
            l_p.append(lab_now[np.asarray(al["l_from"])[sel]])
            w_p.append(np.asarray(al["l_w"])[sel].astype(np.float64))
    return hidx_p, h_p, l_p, w_p


# -----------------------------------------------------------------------------
# Hub-sliced vote segments: the file-superstep exchange for (hub × label)
# -----------------------------------------------------------------------------
#
# Layout: one binary file per (writer pid i, winner slot j), header
# [superstep, n] int64 then h[n] int64, l[n] int64, w[n] float64. A vote on
# hub rvids[idx] goes to slot idx % P. Every writer publishes ALL P slot
# files (empty included) atomically — existence is the winner job's
# completeness proof, the superstep stamp its freshness proof. On tmpfs the
# whole exchange runs at memcpy speed; on object-store roots each file is
# one PUT/GET. This replaces the previous in-Spark groupBy+window over a
# localCheckpoint-ed ~|remote-edge|-row relation, which was the measured
# 40× throughput floor of the kernel (round-4 verdict): the vote bytes now
# never cross Arrow, the JVM, or a shuffle.


def _vote_path(vdir: str, i: int, j: int) -> str:
    return os.path.join(vdir, f"v-{i:05d}-{j:05d}.bin")


_SLOT_A = np.uint64(0x9E3779B97F4A7C15)
_SLOT_B = np.uint64(0xC2B2AE3D27D4EB4F)


def _vote_slot(hidx, l, P: int):
    """Winner-slot of a vote: hash of (hub, LABEL) mod P. Slotting by hub
    alone sent a Zipf hub's ENTIRE vote list to one single-threaded task
    (measured 30 s on the hottest tool hub at 233M edges); keying the slot
    by the (hub, label) pair spreads it across all P slices while keeping
    every pair's sum complete within one slice — per-slice bests are then
    sufficient for the exact global argmax."""
    mixed = np.asarray(hidx, dtype=np.int64).astype(np.uint64) * _SLOT_A
    mixed ^= np.asarray(l, dtype=np.int64).astype(np.uint64) * _SLOT_B
    mixed ^= mixed >> np.uint64(33)
    return (mixed % np.uint64(P)).astype(np.int64)


def _reduce_votes(hidx, h, l, w):
    """Sum this writer's votes per (hub, label) before they hit the files:
    once labels concentrate, a single (hot hub, label) pair can hold tens of
    millions of raw votes — complete-within-slice slotting would hand them
    all to ONE winner task (measured 36 s). Reduced, the pair is one row per
    writer (≤ P rows globally). Partial-then-total float summation matches
    the documented association-order caveat; integer weights exact."""
    hidx = np.asarray(hidx, dtype=np.int64)
    key, lu, nl = _packed_key(hidx, np.asarray(l, dtype=np.int64))
    order = np.argsort(key)
    ks = key[order]
    starts = np.flatnonzero(_run_heads(ks))
    sums = np.add.reduceat(np.asarray(w, dtype=np.float64)[order], starts)
    gk = ks[starts]
    return gk // nl, np.asarray(h)[order][starts], lu[gk % nl], sums


def _write_vote_files(vdir: str, pid: int, P: int, k: int, hidx, h, l, w) -> None:
    if len(h):
        hidx, h, l, w = _reduce_votes(hidx, h, l, w)
        j_all = _vote_slot(hidx, l, P)
        order = np.argsort(j_all, kind="stable")
        h, l, w = h[order], l[order], w[order]
        bounds = np.searchsorted(j_all[order], np.arange(P + 1))
    else:
        h = l = np.empty(0, dtype=np.int64)
        w = np.empty(0, dtype=np.float64)
        bounds = np.zeros(P + 1, dtype=np.int64)
    uri = fsio.is_uri(vdir)
    if not uri:
        os.makedirs(vdir, exist_ok=True)
    for j in range(P):
        a, b = int(bounds[j]), int(bounds[j + 1])
        head = np.asarray([k, b - a], dtype=np.int64)
        hj = np.ascontiguousarray(h[a:b], dtype=np.int64)
        lj = np.ascontiguousarray(l[a:b], dtype=np.int64)
        wj = np.ascontiguousarray(w[a:b])
        path = _vote_path(vdir, pid, j)
        if uri:
            fsio.write_bytes(path, head.tobytes() + hj.tobytes() + lj.tobytes() + wj.tobytes())
            continue
        tmp = path + f".tmp-{os.getpid()}"
        with open(tmp, "wb") as f:
            head.tofile(f)
            hj.tofile(f)
            lj.tofile(f)
            wj.tofile(f)
        os.replace(tmp, path)


def _read_vote_file(vdir: str, i: int, j: int, expect_k: int):
    path = _vote_path(vdir, i, j)
    if fsio.is_uri(vdir):
        data = fsio.read_bytes(path)
        if data is None:
            raise RuntimeError(
                f"lpa vote exchange incomplete: segment ({i},{j}) missing for superstep {expect_k}"
            )
        head = np.frombuffer(data[:16], dtype=np.int64)
        k, n = int(head[0]), int(head[1])
        if k != expect_k:
            raise RuntimeError(
                f"lpa vote segment ({i},{j}) is stale: superstep {k}, expected {expect_k}"
            )
        off = 16
        h = np.frombuffer(data[off : off + 8 * n], dtype=np.int64)
        l = np.frombuffer(data[off + 8 * n : off + 16 * n], dtype=np.int64)
        w = np.frombuffer(data[off + 16 * n : off + 24 * n], dtype=np.float64)
        return h, l, w
    if not os.path.exists(path):
        raise RuntimeError(
            f"lpa vote exchange incomplete: segment ({i},{j}) missing for superstep {expect_k}"
        )
    with open(path, "rb") as f:
        head = np.fromfile(f, dtype=np.int64, count=2)
        k, n = int(head[0]), int(head[1])
        if k != expect_k:
            raise RuntimeError(
                f"lpa vote segment ({i},{j}) is stale: superstep {k}, expected {expect_k}"
            )
        h = np.fromfile(f, dtype=np.int64, count=n)
        l = np.fromfile(f, dtype=np.int64, count=n)
        w = np.fromfile(f, dtype=np.float64, count=n)
    return h, l, w


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


def _apply_lpa_kernel(labels, al, rvids, hub_prev, hub_new, mk=None):
    """One synchronous LPA step for one partition: returns ``(out, changed)``.

    The vote pool is the compile-time virtual array [local | remote-gather];
    small-degree targets (almost all of a transcript graph) resolve through
    the padded slot table, the rare big targets through the sort path —
    identical total order either way."""
    import time as _t

    _mk = mk or (lambda name, t0: None)
    vids = al["vids"]
    out = labels.copy()
    t0 = _t.perf_counter()
    lab_parts = []
    if al["l_to"] is not None:
        lab_parts.append(labels[al["l_from"]])
    if al["r_src_pos"] is not None and len(rvids):
        hub_idx = np.searchsorted(rvids, al["r_dst_uniq"])
        hub_idx = np.minimum(hub_idx, len(rvids) - 1)
        ok = np.asarray(rvids[hub_idx] == al["r_dst_uniq"])
        if not ok.all():
            raise RuntimeError("lpa hub relay missing labels for some remote dsts")
        uniq_prev = hub_prev[hub_idx]
        lab_parts.append(uniq_prev[al["r_hubcode"]])
    _mk("k_gather", t0)
    if lab_parts:
        votes_lab = np.concatenate(lab_parts) if len(lab_parts) > 1 else lab_parts[0]
        w_all = np.asarray(al["all_w"])
        if al["p_classes"]:
            # degree-class sub-tables (see LPAFiles.loaded): same winners,
            # K²-pass cost proportional to each class's true vote width
            t0 = _t.perf_counter()
            for ctg, cslots in al["p_classes"]:
                if cslots.shape[1] == 2:
                    out[ctg] = _padded_winners_pair(votes_lab, w_all, cslots)
                else:
                    out[ctg] = _padded_winners(votes_lab, w_all, cslots)
            _mk("k_padded", t0)
        if al["b_to"] is not None and len(al["b_to"]):
            t0 = _t.perf_counter()
            b_idx = np.asarray(al["b_idx"])
            tpos, tlab = _winners(
                np.asarray(al["b_to"], dtype=np.int64), votes_lab[b_idx], w_all[b_idx]
            )
            out[tpos] = tlab
            _mk("k_sort", t0)
    if len(rvids):
        own_pos = np.searchsorted(vids, rvids)
        own_pos = np.minimum(own_pos, len(vids) - 1)
        own_hit = np.asarray(vids[own_pos] == rvids)
        if own_hit.any():
            # the winner-job verdict (complete vote multiset) overrides any
            # partial local argmax on an owned hub
            out[own_pos[own_hit]] = hub_new[own_hit]
    changed = int(np.count_nonzero(out != labels))
    return out, changed


def _vote_dir(lay: Layout) -> str:
    return os.path.join(lay.run_dir, "_lpa_votes")


def _publish_votes(lay: Layout, pid: int, k: int, lab_now, al, rvids, hub_lab, mk) -> None:
    """Write this partition's hub-sliced vote segments for superstep ``k``."""
    t0 = time.perf_counter()
    hidx_p, h_p, l_p, w_p = _votes_on_hubs(lab_now, al, rvids, hub_lab)
    mk("votes_build", t0)
    t0 = time.perf_counter()
    if hidx_p:
        _write_vote_files(
            _vote_dir(lay), pid, lay.P, k,
            np.concatenate(hidx_p).astype(np.int64),
            np.concatenate(h_p).astype(np.int64),
            np.concatenate(l_p).astype(np.int64),
            np.concatenate(w_p),
        )
    else:
        _write_vote_files(_vote_dir(lay), pid, lay.P, k, None, [], [], [])
    mk("votes_write", t0)


def _no_marks(name, t0) -> None:
    pass


def _make_replay_task(kernel: LPAFiles, lay: Layout):
    """Phase 0b: every partition replays its vote report from labels_0 once
    the hub universe (params ``rvids``) is known."""

    def task(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rvids = np.asarray(fsio.read_json(lay.params_path)["rvids"], dtype=np.int64)
        for pdf in batches:
            for pid in pdf["pid"].to_numpy():
                pid = int(pid)
                al = load_compiled(kernel, lay, pid)
                labels = read_rank_part(lay.state_dir(0), pid, dtype=np.int64)
                if al is None or labels is None:
                    kernel.skip(lay, pid, {"superstep": 0, "rvids": rvids})
                    continue
                _publish_votes(lay, pid, 0, labels, al, rvids, rvids, _no_marks)
        yield from ()

    return task


def _collect_winners(run: Run, hubs: list[int]) -> dict[int, int]:
    """Exact merge of the per-slice candidates: max Σw then min label.

    ≤ P rows per hub arrive (one best per slice that saw the hub); the
    merge is O(P × #hubs) driver-side NumPy — fine for role/tool hub
    counts (this engine's transcript graphs). A graph with millions of
    hubs would want one more reduce job before the driver; the slot
    function already makes that a drop-in."""
    if not hubs:
        return {}
    rows = run.job("winners", _make_winner_task(run.lay), "h long, l long, s double").collect()
    if not rows:
        return {}
    h = np.fromiter((r["h"] for r in rows), dtype=np.int64, count=len(rows))
    l = np.fromiter((r["l"] for r in rows), dtype=np.int64, count=len(rows))
    sm = np.fromiter((r["s"] for r in rows), dtype=np.float64, count=len(rows))
    order = np.lexsort((l, -sm, h))  # by hub, then sum desc, then label asc
    hs_, ls_ = h[order], l[order]
    first = _run_heads(hs_)
    return {int(a): int(b) for a, b in zip(hs_[first], ls_[first])}


class LPAFiles(Kernel):
    """Synchronous LPA over home-keyed weighted edges; state
    ``(vid, home, label)``.

    Each superstep: the update job applies the kernel, writes label segments
    and publishes hub-sliced vote segments (only P metrics rows come back);
    ``combine`` then runs the winner job — per slot, read every partition's
    slice, one packed-key sort, return ≤ #hubs winner rows. Superstep 0 is
    two-phase: the update job writes labels_0 and surfaces the hub universe
    (remote dst ids), then ``combine`` replays the vote report from labels_0
    with that universe known, so superstep 1's winners include owner-local
    votes too.
    """

    name = "label_propagation"
    tag = "lpaalign"
    version = "v2"
    dtype = np.int64
    arrays = (
        "l_to", "l_from", "l_w", "r_src_pos", "r_hubcode", "r_w", "r_dst_uniq",
        # padded small-degree vote-slot table (v2 compile): almost every non-hub
        # vertex of a transcript graph receives <= _PAD_K votes (2 adjacency
        # neighbours + a few tool gathers), so its winner is computed with a
        # fixed-width K^2 vectorized pass instead of any sort/hash over the
        # ~|edges|-row vote relation -- the measured superstep floor
        "all_w", "p_targets", "p_slots", "b_to", "b_idx",
    )
    metrics_schema = "n_rows long, checksum long, changed long"
    exchange_schema = "h long"
    state_schema = "vid long, home long, label long"
    # the warm gate needs RAW summed weights in the shard p slot — a dir
    # warmed by PageRank holds normalized probabilities and CC constant
    # 1.0, and silently voting with those would mislabel every community
    meta = {"weights": "raw"}
    transient = "_lpa_votes"  # the exchange; superstep state is the checkpoint

    def shard_edges(self, edges: DataFrame) -> DataFrame:
        # vote weight of u on v = Σ weight over DIRECTED (u,v) rows; the
        # symmetric doubling happens at alignment-compile time, so one
        # groupBy here matches lpa.symmetrize's sum exactly
        return edges.groupBy("src", "dst").agg(
            F.sum("weight").alias("p"),  # RAW weight in the shard's p slot
            F.first("src_home").alias("src_home"),
            F.first("dst_home").alias("dst_home"),
        ).select("src", "dst", "p", "src_home", "dst_home")

    def params(self, carry: dict, k: int) -> dict:
        if k == 0:
            return {}
        hub_prev = {int(h): int(v) for h, v in carry["hub_prev"].items()}
        hub_new = {int(h): int(v) for h, v in carry["hub_new"].items()}
        hubs = sorted(hub_new)
        return {
            "rvids": hubs,
            "hub_prev": [hub_prev.get(h, h) for h in hubs],
            "hub_new": [hub_new[h] for h in hubs],
        }

    def combine(self, run: Run, rows: list[dict], exchange: list[dict], carry: dict,
                k: int) -> tuple[dict, dict, bool]:
        if k == 0:
            hubs = sorted({int(r["h"]) for r in exchange})
            # phase 0b: replay the vote report from labels_0 with the hub
            # universe known, winners decided by the slot job
            fsio.write_json_atomic(run.lay.params_path, {"superstep": 0, "rvids": hubs})
            if hubs:
                run.job("replay", _make_replay_task(self, run.lay), "h long").collect()
            winners = _collect_winners(run, hubs)
            carry = {
                # hub_prev at superstep 1 = the hubs' INITIAL labels (their vid)
                "hub_prev": {str(h): h for h in hubs},
                "hub_new": {str(h): winners.get(h, h) for h in hubs},
            }
        else:
            hub_new = {int(h): int(v) for h, v in carry["hub_new"].items()}
            winners = _collect_winners(run, sorted(hub_new))
            carry = {
                # next superstep's "previous" hub labels are the ones just written
                "hub_prev": {str(h): v for h, v in hub_new.items()},
                "hub_new": {str(h): winners.get(h, hub_new[h]) for h in sorted(hub_new)},
            }
        changed = sum(r["changed"] for r in rows)
        return {"changed": changed, "active_vertices": changed}, carry, changed == 0

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

    def decode(self, prm: dict) -> dict:
        return {
            "superstep": int(prm["superstep"]),
            "rvids": np.asarray(prm["rvids"], dtype=np.int64),
            "hub_prev": np.asarray(prm["hub_prev"], dtype=np.int64),
            "hub_new": np.asarray(prm["hub_new"], dtype=np.int64),
        }

    def init(self, lay, pid, st, prm):
        al = load_compiled(self, lay, pid)
        labels = np.array(al["vids"])  # own id
        row = {"n_rows": len(labels), "checksum": checksum(al["crc"], labels), "changed": 0}
        # phase 0a surfaces only the hub UNIVERSE (remote dst ids, tiny);
        # the vote replay happens in combine once every partition knows it
        exch = None if al["r_dst_uniq"] is None else pd.DataFrame({"h": np.asarray(al["r_dst_uniq"])})
        return labels, row, exch

    def update(self, lay, pid, al, labels, prm, mk):
        rvids = prm["rvids"]
        t0 = time.perf_counter()
        out, changed = _apply_lpa_kernel(labels, al, rvids, prm["hub_prev"], prm["hub_new"], mk=mk)
        mk("kernel", t0)
        if len(rvids):
            _publish_votes(lay, pid, prm["superstep"], out, al, rvids, prm["hub_new"], mk)
        row = {"n_rows": len(out), "checksum": checksum(al["crc"], out), "changed": changed}
        return out, row, None

    def skip(self, lay, pid, prm):
        if len(prm["rvids"]):
            # an empty partition still publishes its (empty) vote slots —
            # existence is the winner job's completeness proof
            _write_vote_files(_vote_dir(lay), pid, lay.P, prm["superstep"], None, [], [], [])

    @staticmethod
    def state_frame(st, state: np.ndarray) -> dict:
        return {
            "vid": st.column("vid").to_numpy(),
            "home": st.column("home").to_numpy(),
            "label": state,
        }


def _make_winner_task(lay: Layout):
    """Winner job: task j reads slice j of every partition's vote segment,
    resolves winners with one NumPy :func:`_winners` call in the exact total
    order of ``lpa.py``'s window (max Σw, then min label), and returns only
    winner rows — the (hub × label) relation never reaches the driver."""

    def task(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import time as _t

        instr = os.environ.get("TWSPARK_INSTR")
        marks: list = []
        kk, P, vdir = int(fsio.read_json(lay.params_path)["superstep"]), lay.P, _vote_dir(lay)
        for pdf in batches:
            for j in pdf["pid"].to_numpy():
                j = int(j)
                t0 = _t.perf_counter()
                hs, ls, ws = [], [], []
                for i in range(P):
                    h, l, w = _read_vote_file(vdir, i, j, kk)
                    if len(h):
                        hs.append(h)
                        ls.append(l)
                        ws.append(w)
                if instr:
                    marks.append(("win_read", _t.perf_counter() - t0))
                if not hs:
                    continue
                t0 = _t.perf_counter()
                h = np.concatenate(hs)
                # dense-code the hub ids so _winners can pack (hub, label)
                # into one sortable int64 key; every (hub, label)
                # pair's votes land WHOLLY in this slice (slot = hash of the
                # pair), so the per-pair sums here are complete and this
                # slice's per-hub best is an exact candidate for the global
                # argmax the driver merges
                h_uniq, hcode = np.unique(h, return_inverse=True)
                wt, wl, wsum = _winners(
                    hcode, np.concatenate(ls), np.concatenate(ws), return_sums=True
                )
                if instr:
                    marks.append(("win_solve", _t.perf_counter() - t0))
                yield pd.DataFrame({"h": h_uniq[wt], "l": wl, "s": wsum})
        if instr and marks:
            with open(f"{instr}/lpawin-{os.getpid()}.log", "a") as f:
                for name, dt in marks:
                    f.write(f"{name} {dt:.4f}\n")

    return task
