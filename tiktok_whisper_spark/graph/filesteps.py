"""File-superstep engine: the local-mode loop of PageRank, CC and LPA, and
PageRank's csr mode.

Edge tables with ``src_home``/``dst_home`` locality keys run as per-partition
*file supersteps*; PageRank's csr mode supplies hash homes (home = vid) for
graphs without them. The vertex state lives in raw fixed-width segments
(``superstep=NNNNNN/state/rank-PPPPP.f64``) hash-partitioned by home, next to
sorted static vertex files (``_static_p{P}``) and locality-split edge shards
(``_edge_shards_p{P}``). Every superstep is ONE analyzed DataFrame job over a
P-row ``pids`` frame: each task reads its partitions' previous segments and
the messages addressed to them, runs the kernel in NumPy against
mmap-compiled per-partition arrays, writes the next segments plus one
exchange segment per destination partition, and returns one metrics row
per partition. The driver sums the metrics, writes the manifest (the commit
point) and passes the next superstep's scalars through a small params file,
so the update DataFrame is analyzed once per call and only re-collected.
The superstep output IS the checkpoint; a killed run resumes from its last
manifest.

Everything that crosses partitions travels through one file exchange:
partition i's superstep-k messages for partition j are the segment
``superstep=k/exchange/x-i-j.bin``, and task j reads ``(0..P-1, j)`` at the
start of superstep k+1. The owner partition of a vertex applies the
messages about it and decides its state, so no kernel merges anything on
the driver: the manifest ``carry`` and the params file hold only scalars,
whatever the graph's size.

(Why files instead of streaming the state through mapInPandas: Spark 4.1's
JVM→Python Arrow writer walks the vector tree per row to enforce
maxBytesPerBatch — ~5µs/row of non-scaling CPU — while raw segment files
move at memory speed.)

A kernel (:class:`Kernel`) supplies three things: a per-partition
``compile`` of superstep-invariant arrays, a per-partition ``init`` /
``update`` of its state vector that also returns its outgoing messages, and
a driver-side ``combine`` of the metrics rows. The engine owns the rest:
the edge-shard and static-file formats, the warm-dir gate and cold prep,
task packing, resume guards, the params file, the exchange, coverage
checks, commits, retention and the one compile cache
(:func:`load_compiled`): a kernel's compile reads its partition's static
file and Parquet edge shard once per prep, and supersteps read only the
compiled arrays.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import tempfile
import time
import uuid
import zlib
from collections.abc import Iterator
from dataclasses import dataclass
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import local_slots
from ..sources import fsio
from ..sources.catalog import CheckpointStore
from .runner import GraphRun

__all__ = ["Kernel", "Layout", "committed_state", "run_local"]


# =============================================================================
# On-disk layout
# =============================================================================


@dataclass(frozen=True)
class Layout:
    """Where one file-superstep run keeps its files (all under ``run_dir``)."""

    run_dir: str
    P: int

    @property
    def shard_dir(self) -> str:
        return os.path.join(self.run_dir, f"_edge_shards_p{self.P}")

    @property
    def static_dir(self) -> str:
        return os.path.join(self.run_dir, f"_static_p{self.P}")

    @property
    def params_path(self) -> str:
        return os.path.join(self.run_dir, "_superstep_params.json")

    def state_dir(self, k: int) -> str:
        return os.path.join(self.run_dir, f"superstep={k:06d}", "state")

    def exchange_dir(self, k: int) -> str:
        return os.path.join(self.run_dir, f"superstep={k:06d}", "exchange")


def _part_path(state_dir: str, pid: int) -> str:
    return os.path.join(state_dir, f"part-{pid:05d}.parquet")


def _rank_path(state_dir: str, pid: int) -> str:
    return os.path.join(state_dir, f"rank-{pid:05d}.f64")


def write_rank_part(state_dir: str, pid: int, ranks: np.ndarray, recycle_dir: str | None) -> None:
    """Write one partition's state vector as raw fixed-width values,
    recycling pages. PageRank writes float64 ranks, CC and LPA int64 labels
    — the same 8-byte stride, so retired segments recycle across kernels of
    one run dir too.

    Postgres-WAL-style segment recycling: the retired superstep's file (same
    byte size — the vertex set is fixed) is renamed into place and
    overwritten WITHOUT truncation, so tmpfs pages are reused instead of
    freshly faulted. On the VM this was measured on, fresh anonymous/tmpfs
    pages zero at ~2.2 GB/s machine-wide while warm pages rewrite at
    ~15 GB/s — recycling turns the per-superstep durable write from the
    dominant fixed cost into noise. A torn write is harmless: the manifest
    (written after the whole job) is the commit point, and a retried task
    rewrites the full fixed-size segment.

    Object-store roots (any ``://`` URI) take a plain single-PUT write via
    pyarrow's FileSystem — atomic per object, no recycling (page reuse is a
    local-FS concept; on s3/gs the bytes dominate and a PUT is the floor).
    """
    buf = np.ascontiguousarray(ranks)
    path = _rank_path(state_dir, pid)
    if fsio.is_uri(state_dir):
        fsio.write_bytes(path, memoryview(buf).cast("B").tobytes())
        return
    os.makedirs(state_dir, exist_ok=True)
    if not os.path.exists(path) and recycle_dir is not None:
        old = _rank_path(recycle_dir, pid)
        if os.path.exists(old) and os.path.getsize(old) == buf.nbytes:
            try:
                os.replace(old, path)
            except OSError:
                pass
    with open(path, "r+b" if os.path.exists(path) else "wb") as f:
        f.write(memoryview(buf).cast("B"))
        f.truncate(buf.nbytes)


def read_rank_part(state_dir: str, pid: int, dtype=np.float64) -> np.ndarray | None:
    path = _rank_path(state_dir, pid)
    if fsio.is_uri(state_dir):
        data = fsio.read_bytes(path)
        return None if data is None else np.frombuffer(data, dtype=dtype)
    if not os.path.exists(path):
        return None
    return np.fromfile(path, dtype=dtype)


def read_state_part(state_dir: str, pid: int, columns: list[str] | None = None):
    import pyarrow.parquet as pq

    fs, base = fsio.fs_and_path(state_dir)  # one cached client per authority
    path = _part_path(base, pid)
    if fs is None:
        if not os.path.exists(path):
            return None
        return pq.read_table(path, columns=columns)
    from pyarrow import fs as pafs

    if fs.get_file_info(path).type == pafs.FileType.NotFound:
        return None
    return pq.read_table(path, columns=columns, filesystem=fs)


def write_state_part(state_dir: str, pid: int, table) -> None:
    """Atomic per-partition static write (tmp + rename survives task retries).

    On object-store URIs the single-PUT write is already atomic per object;
    the manifest (written only after the whole job succeeds) remains the
    all-or-nothing commit point either way.
    """
    import pyarrow.parquet as pq

    fs, base = fsio.fs_and_path(state_dir)
    if fs is not None:
        fs.create_dir(base, recursive=True)
        pq.write_table(table, _part_path(base, pid), compression="none", filesystem=fs)
        return
    os.makedirs(base, exist_ok=True)
    tmp = _part_path(base, pid) + f".tmp-{os.getpid()}"
    pq.write_table(table, tmp, compression="none")
    os.replace(tmp, _part_path(base, pid))


# =============================================================================
# Edge shards: conversation-local edges never cross partitions
# =============================================================================
#
# Transcript graphs have massive *edge locality*: turn-adjacency edges (the
# overwhelming majority) connect turns of the SAME conversation. When every
# vertex carries a `home` locality key (turns: their conversation's hash;
# tools: themselves) and state is hash-partitioned by `home`, an adjacency
# edge's src and dst land in the same partition BY CONSTRUCTION — so its
# contribution can be gathered AND applied entirely inside one Python worker,
# never crossing an exchange. Only the remote edges (turn → tool hubs, a few
# distinct dsts after per-shard pre-reduction) cross partitions. This is the
# PowerGraph-style placement insight: the engine exchanges ~|tools| hub
# entries per superstep instead of shuffling and hash-aggregating an
# edge-sized (75M-row at bench scale) partial table. Graphs with no locality
# hint (PageRank's csr mode) shard the same way with home = vid: an edge is
# then local when both endpoints hash to one partition.


def shard_pid(col: F.Column, num_partitions: int) -> F.Column:
    """Spark's HashPartitioning function: pmod(murmur3(col), n) — F.hash IS
    murmur3_32(seed=42), the same hash HashPartitioning evaluates."""
    return F.pmod(F.hash(col), F.lit(num_partitions))


def write_edge_shards_local(enorm: DataFrame, shard_dir: str, num_partitions: int) -> None:
    """One-time shard write.

    ``enorm`` must carry ``(src, dst, p, src_home, dst_home)``; shards are
    keyed by ``pid = pmod(hash(src_home), P)`` and every edge records the
    partition owning its dst, ``dst_pid = pmod(hash(dst_home), P)`` (the
    edge is local when ``dst_pid == pid``).
    """
    (
        enorm.withColumn("pid", shard_pid(F.col("src_home"), num_partitions))
        .withColumn("dst_pid", shard_pid(F.col("dst_home"), num_partitions))
        .select("src", "dst", "p", "pid", "dst_pid")
        .repartition("pid")
        .write.mode("overwrite")
        .partitionBy("pid")
        .parquet(shard_dir)
    )


def _factorize_shard(tbl):
    """Arrow table → factorized CSR-ish arrays (src/dst codes + uniques;
    the dst uniques sorted, so a message about a dst finds its code with
    one searchsorted)."""
    src_codes, src_uniq = pd.factorize(tbl.column("src").to_numpy(), sort=False)
    dst_codes, dst_uniq = pd.factorize(tbl.column("dst").to_numpy(), sort=True)
    p = tbl.column("p").to_numpy().astype(np.float64)
    return (src_codes, src_uniq, dst_codes, dst_uniq, p)


def read_shard(shard_dir: str, pid: int) -> dict | None:
    """The factorized ``local``/``remote`` halves of edge shard ``pid``, each
    ``(src_codes, src_uniq, dst_codes, dst_uniq, p)`` or None when empty,
    and ``owner``: the partition owning each remote ``dst_uniq`` (None: no
    shard). Read straight from Parquet: only a compile miss of
    :func:`load_compiled` calls it."""
    import pyarrow.parquet as pq

    path = os.path.join(shard_dir, f"pid={pid}")
    if not fsio.exists(path):
        return None
    fs, base = fsio.fs_and_path(path)
    tbl = pq.read_table(base, columns=["src", "dst", "p", "dst_pid"], filesystem=fs)
    mask = tbl.column("dst_pid").to_numpy() == pid
    out = {
        half: _factorize_shard(sub) if sub.num_rows else None
        for half, sub in (("local", tbl.filter(mask)), ("remote", tbl.filter(~mask)))
    }
    out["owner"] = None
    if out["remote"] is not None:
        dst_codes, dst_uniq = out["remote"][2], out["remote"][3]
        out["owner"] = np.empty(len(dst_uniq), dtype=np.int32)
        out["owner"][dst_codes] = tbl.column("dst_pid").to_numpy()[~mask]
    return out


def checksum(vids_crc: int, state: np.ndarray) -> int:
    """Lineage checksum of one partition: crc(vids) ^ crc(state bytes)."""
    return int(vids_crc ^ zlib.crc32(memoryview(np.ascontiguousarray(state)).cast("B")))


def positions(vids: np.ndarray, values, pid: int, what: str) -> np.ndarray:
    """int32 positions of ``values`` in a partition's sorted ``vids``.

    A value missing from the partition means the home-partitioning contract
    is broken, not a data condition — fail loudly."""
    values = np.asarray(values)
    pos = np.minimum(np.searchsorted(vids, values), len(vids) - 1)
    if not np.array_equal(vids[pos], values):
        raise RuntimeError(f"{what} misalignment: shard endpoints missing from partition {pid}")
    return pos.astype(np.int32)


# =============================================================================
# The exchange: one segment per (writer i, reader j) per superstep
# =============================================================================
#
# Segment (i, j) of superstep k holds partition i's superstep-k messages for
# partition j: an int64 header [k, #arrays, len_0, …] then the raw 8-byte
# arrays, one message group after another in the kernel's ``segment``
# layout. Every partition publishes all P of its segments every superstep
# (empty ones included, and a partition without vertices too), so a
# segment's existence proves it is complete and its stamp that it is
# fresh. Local roots write a tmp file and rename it; URI roots use one PUT.
# On tmpfs the exchange runs at memcpy speed; nothing crosses Arrow, the
# JVM, a shuffle or the driver.


def _segment_path(xdir: str, i: int, j: int) -> str:
    return os.path.join(xdir, f"x-{i:05d}-{j:05d}.bin")


def write_segments(xdir: str, pid: int, k: int, P: int, layout: tuple, outgoing) -> None:
    """Publish partition ``pid``'s P superstep-``k`` segments.

    ``outgoing`` holds one ``(to_pid, arrays)`` per message group of
    ``layout`` (None: no messages in that group): row r of the group goes
    to partition ``to_pid[r]``, in its original order."""
    per_j: list[list[np.ndarray]] = [[] for _ in range(P)]
    for dtypes, group in zip(layout, outgoing or [None] * len(layout)):
        if group is None:
            for arrs in per_j:
                arrs.extend(np.empty(0, dtype=dt) for dt in dtypes)
            continue
        to_pid, arrays = group
        order = np.argsort(to_pid, kind="stable")
        bounds = np.searchsorted(np.asarray(to_pid)[order], np.arange(P + 1))
        arrays = [np.asarray(a, dtype=dt)[order] for a, dt in zip(arrays, dtypes)]
        for j, arrs in enumerate(per_j):
            arrs.extend(a[bounds[j]:bounds[j + 1]] for a in arrays)
    uri = fsio.is_uri(xdir)
    if not uri:
        os.makedirs(xdir, exist_ok=True)
    for j, arrs in enumerate(per_j):
        head = np.asarray([k, len(arrs), *(len(a) for a in arrs)], dtype=np.int64)
        path = _segment_path(xdir, pid, j)
        if uri:
            fsio.write_bytes(path, b"".join([head.tobytes(), *(a.tobytes() for a in arrs)]))
            continue
        tmp = path + f".tmp-{os.getpid()}"
        with open(tmp, "wb") as f:
            head.tofile(f)
            for a in arrs:
                np.ascontiguousarray(a).tofile(f)
        os.replace(tmp, path)


def read_segment(xdir: str, i: int, j: int, k: int, layout: tuple) -> list[tuple]:
    """Segment ``(i, j)`` of superstep ``k``: one tuple of arrays per
    message group of ``layout``. A missing segment, one stamped with another
    superstep or one of another layout raises."""
    path = _segment_path(xdir, i, j)
    data = fsio.read_bytes(path)
    if data is None:
        raise RuntimeError(f"exchange segment {path} is missing (superstep {k})")
    dtypes = [dt for group in layout for dt in group]
    head = np.frombuffer(data, dtype=np.int64, count=2)
    if int(head[0]) != k or int(head[1]) != len(dtypes):
        raise RuntimeError(
            f"exchange segment {path} is stale: superstep {int(head[0])} with "
            f"{int(head[1])} arrays, expected superstep {k} with {len(dtypes)}"
        )
    lens = np.frombuffer(data, dtype=np.int64, count=len(dtypes), offset=16)
    off = 16 + 8 * len(dtypes)
    arrays = []
    for dt, n in zip(dtypes, lens.tolist()):
        arrays.append(np.frombuffer(data, dtype=dt, count=n, offset=off))
        off += 8 * n
    out, a = [], 0
    for group in layout:
        out.append(tuple(arrays[a:a + len(group)]))
        a += len(group)
    return out


def mirror_labels(al: dict, pid: int, incoming: list) -> np.ndarray:
    """Mirror labels: the labels of this partition's remote dsts
    (``al["r_dst_uniq"]``, sorted) as their owners last replied them (the
    last message group of each incoming segment); a dst not replied yet
    (superstep 1) keeps its own id, its label₀."""
    mirror = np.array(al["r_dst_uniq"])
    for groups in incoming:
        b, lab = groups[-1]
        if len(b):
            mirror[positions(al["r_dst_uniq"], b, pid, "mirror reply")] = lab
    return mirror


def replies(vids: np.ndarray, pid: int, labels: np.ndarray, asked: list) -> tuple | None:
    """``(to_pid, (b, label))``: the current label of each vertex b to every
    sender ``i`` that asked about it (``asked[i]``, ids of owned vertices)."""
    parts = [(i, np.unique(b)) for i, b in enumerate(asked) if len(b)]
    if not parts:
        return None
    b = np.concatenate([u for _, u in parts])
    to = np.concatenate([np.full(len(u), i, dtype=np.int32) for i, u in parts])
    return to, (b, labels[positions(vids, b, pid, "reply")])


# =============================================================================
# Compiled per-partition arrays (mmap, machine-shared)
# =============================================================================
#
# Everything a kernel compiles is SUPERSTEP-INVARIANT: the static vertex
# arrays of a partition, their checksum, and per-edge positions of each
# edge's endpoints within those arrays. A naive in-worker dict cache does NOT
# work: Spark assigns tasks to workers arbitrarily, so most supersteps miss
# and rebuild a vertex-sized alignment in freshly-faulted pages (measured:
# the rebuild anti-scales with cores — fresh-page zeroing is a machine-wide
# ~2 GB/s resource on the measured VM). Instead the arrays are COMPILED ONCE per
# (prep, kernel, pid) into mmap-able ``.npy`` files next to the static state
# (under the node-local ``TWSPARK_SHARD_CACHE`` root for URI stores): any
# worker's "miss" is then a mmap open (microseconds) against pages every
# worker on the machine shares. This is the only compile cache: a compile
# miss reads the static part and the Parquet edge shard (:func:`read_shard`)
# and keeps every array a superstep reads, so no superstep touches the
# shard again.


def node_cache_root(uri: str) -> str:
    """Node-local directory for arrays compiled from an object-store ``uri``
    (mmap needs a local file)."""
    return os.path.join(
        os.environ.get("TWSPARK_SHARD_CACHE", tempfile.gettempdir()),
        "twspark_shard_cache",
        hashlib.md5(uri.encode()).hexdigest(),
    )


def publish(cdir: str, stem: str, arrays: dict[str, np.ndarray]) -> None:
    """Atomic compile publish: ``.npy`` files and an ``_OK`` marker into a
    tmp dir, then one rename (concurrent compilers race benignly).

    Superseded dirs of the same ``stem`` (another version or prep) are
    dropped first: they would otherwise stay resident in the store forever
    (6.7 GB of orphaned dirs once contributed to a tmpfs OOM)."""
    parent = os.path.dirname(cdir)
    os.makedirs(parent, exist_ok=True)
    for old in glob.glob(os.path.join(parent, f"{stem}-*")):
        if old != cdir:
            shutil.rmtree(old, ignore_errors=True)
    tmp = tempfile.mkdtemp(dir=parent, prefix="_compile_")
    for name, arr in arrays.items():
        np.save(os.path.join(tmp, f"{name}.npy"), np.ascontiguousarray(arr))
    open(os.path.join(tmp, "_OK"), "w").close()
    try:
        os.replace(tmp, cdir)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)


# (kernel tag, static_dir, pid) -> (compile dir, arrays). One static_dir per
# kernel kind: a worker alternates kernels over different run dirs (e.g.
# PageRank on one, LPA on another), and evicting on ANY static_dir change
# would re-derive LPA's load-time tables on every call.
_COMPILED: dict = {}


def load_compiled(kernel: Kernel, lay: Layout, pid: int, prep: str) -> dict | None:
    """mmap-loaded compiled arrays of one partition (None: no static file).

    The compile dir is keyed by the run dir's prep id (``_META.json``), so
    a cold re-prep under the same static_dir compiles afresh, and neither a
    worker's in-process entry nor a node-local dir left by an earlier prep
    can serve stale arrays — whatever cache root the driver sees."""
    static_dir = lay.static_dir
    stem = f"{kernel.tag}-{pid:05d}"
    root = node_cache_root(static_dir) if fsio.is_uri(static_dir) else static_dir
    cdir = os.path.join(root, f"{stem}-{kernel.version}-{prep}")
    key = (kernel.tag, static_dir, pid)
    cached = _COMPILED.get(key)
    if cached is not None and cached[0] == cdir:
        return cached[1]
    for stale in [k for k in _COMPILED if k[0] == kernel.tag and k[1] != static_dir]:
        del _COMPILED[stale]
    if not os.path.exists(os.path.join(cdir, "_OK")):
        st = read_state_part(static_dir, pid)
        if st is None:
            return None
        vids = st.column("vid").to_numpy()
        arrays = kernel.compile(st, vids, read_shard(lay.shard_dir, pid), pid)
        crc = np.array([zlib.crc32(np.ascontiguousarray(vids).tobytes())], dtype=np.int64)
        publish(cdir, stem, {"vids": vids, "crc": crc, **arrays})
    ent = {
        "vids": np.load(os.path.join(cdir, "vids.npy"), mmap_mode="r"),
        "crc": int(np.load(os.path.join(cdir, "crc.npy"))[0]),
    }
    for arr in kernel.arrays:
        path = os.path.join(cdir, f"{arr}.npy")
        ent[arr] = np.load(path, mmap_mode="r") if os.path.exists(path) else None
    kernel.loaded(ent)
    _COMPILED[key] = (cdir, ent)
    return ent


# =============================================================================
# Kernel contract
# =============================================================================


class Kernel:
    """What a local-mode kernel supplies to :func:`run_local`.

    Instances are pickled into the superstep tasks, so they hold only
    per-call constants; driver-only state lives in :class:`Run`.

    Cross-partition data moves only as messages: ``init``/``update`` return
    ``outgoing``, one ``(to_pid, arrays)`` (or None) per message group of
    ``segment``, and ``update`` receives ``incoming``, the groups of
    segments ``(i, pid)`` of the previous superstep for i = 0..P-1 in
    ascending i. The owner of a vertex applies the messages about it, so
    ``combine`` only sums metrics and returns scalars.
    """

    name: str  # the "kernel" metric; prefixes errors
    tag: str  # compile-dir stem, one per kernel kind
    version: str  # compile-dir version suffix (bumped when the arrays change)
    dtype: Any  # state segment dtype
    arrays: tuple[str, ...] = ()  # compiled arrays loaded besides vids/crc
    metrics_schema: str  # per-partition metrics row (must include n_rows, checksum)
    segment: tuple  # dtypes of each message group of an exchange segment
    state_schema: str  # columns of the returned state DataFrame
    meta: dict  # shard weight semantics recorded in _META.json
    any_weights = False  # warm dirs of any weight semantics are reusable

    # -- driver side --------------------------------------------------------
    def shard_edges(self, edges: DataFrame) -> DataFrame:
        """``(src, dst, p, src_home, dst_home)`` rows to shard on a cold prep."""
        raise NotImplementedError

    def vertices(self, v: DataFrame, e: DataFrame) -> DataFrame:
        """Static vertex columns: ``v`` is ``(vid, home)`` over ``e``."""
        return v

    def check(self, run: Run, carry: dict | None) -> None:
        """Validate inputs, and a committed ``carry`` before a resume."""

    def params(self, carry: dict, k: int) -> dict:
        """Superstep-``k`` scalars for the params file (from ``carry``)."""
        return {}

    def combine(self, rows: list[dict], carry: dict, k: int) -> tuple[dict, dict, bool]:
        """Sum one superstep's metrics rows: returns ``(metrics, carry,
        converged)``, ``carry`` holding scalars only."""
        raise NotImplementedError

    # -- task side ----------------------------------------------------------
    def compile(self, st, vids: np.ndarray, shard, pid: int) -> dict[str, np.ndarray]:
        """Superstep-invariant arrays of one partition: ``st`` is its static
        table, ``shard`` its edge shard as :func:`read_shard` returns it."""
        return {}

    def loaded(self, ent: dict) -> None:
        """Derive load-time views of freshly mmap-loaded arrays in place."""

    def decode(self, prm: dict) -> dict:
        """Parse the params file once per task (supersteps ≥ 1)."""
        return prm

    def init(self, pid: int, al: dict, prm: dict):
        """Superstep 0 of one partition (``al`` its compiled arrays):
        ``(state, metrics_row, outgoing)``."""
        raise NotImplementedError

    def update(self, pid: int, al: dict, prev: np.ndarray, prm: dict, incoming: list, mk):
        """Superstep ≥ 1 of one partition: ``(state, metrics_row, outgoing)``."""
        raise NotImplementedError

    @staticmethod
    def state_frame(st, state: np.ndarray) -> dict:
        """Columns of the returned state for one partition (``st`` its static
        table); static, so a committed run reads back without its kernel's
        call arguments."""
        raise NotImplementedError


# =============================================================================
# Task side
# =============================================================================


def _make_task(kernel: Kernel, lay: Layout):
    P, layout = lay.P, kernel.segment

    def task(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prm = fsio.read_json(lay.params_path)
        k = int(prm["superstep"])
        ctx = kernel.decode(prm) if k else prm
        instr = os.environ.get("TWSPARK_INSTR")
        marks: list = []

        def mk(name, t0):
            if instr:
                marks.append((name, time.perf_counter() - t0))

        # metrics rows accumulate across ALL pids of this task and flush as
        # ONE frame: every yielded frame is a separate Arrow batch over the
        # worker socket, and 64 one-row batches measured ~100 ms/superstep
        # of pure serialization overhead
        macc: list[dict] = []
        for pdf in batches:
            for pid in pdf["pid"].to_numpy():
                pid = int(pid)
                t0 = time.perf_counter()
                al = load_compiled(kernel, lay, pid, prm["prep"])
                prev = read_rank_part(prm["prev_dir"], pid, dtype=kernel.dtype) if k else None
                mk("read", t0)
                if al is None or (k and prev is None):
                    # no vertices (or a lost segment, which the coverage
                    # check reports): publish empty segments all the same
                    write_segments(lay.exchange_dir(k), pid, k, P, layout, None)
                    continue
                if k == 0:
                    out, row, outgoing = kernel.init(pid, al, ctx)
                else:
                    t0 = time.perf_counter()
                    incoming = [read_segment(lay.exchange_dir(k - 1), i, pid, k - 1, layout)
                                for i in range(P)]
                    mk("exchange_read", t0)
                    out, row, outgoing = kernel.update(pid, al, prev, ctx, incoming, mk)
                t0 = time.perf_counter()
                write_rank_part(prm["next_dir"], pid, out, prm["recycle_dir"])
                write_segments(lay.exchange_dir(k), pid, k, P, layout, outgoing)
                mk("write", t0)
                macc.append({"pid": pid, **row})
        if macc:
            yield pd.DataFrame(macc)
        if instr and marks:
            with open(f"{instr}/{os.getpid()}.log", "a") as f:
                for name, dt in marks:
                    f.write(f"{name} {dt:.4f}\n")

    return task


# =============================================================================
# Driver side
# =============================================================================


@dataclass
class Run:
    """Driver-side context of one call, handed to the kernel's hooks."""

    lay: Layout
    pids: DataFrame  # one row per partition id, packed into min(P, slots) tasks


# shard layout marker of _META.json: edges record their dst's owner pid
_SHARDS = "dst_pid"


def _prepare(edges: DataFrame, kernel: Kernel, lay: Layout) -> dict:
    """The run dir's ``_META.json`` (``n``, ``num_edges``, ``prep``, …),
    prepared first when the dir is cold.

    Shards, static vertex files and graph meta are deterministic
    re-derivations of the edge table — a warm run dir (resume, another
    parallelism level, a fresh run under the same run_id) skips the whole
    shard/vertex pipeline. A cold prep writes only the shards, the sorted
    static files and the meta, with a fresh prep id that keys the compile
    cache; superstep 0 then starts from them like any warm run.
    """
    done = os.path.join(lay.shard_dir, "_DONE")
    meta_path = os.path.join(lay.static_dir, "_META.json")
    meta = fsio.read_json(meta_path) if fsio.exists(done) else None
    # meta["shards"] gates the shard layout (and meta["sorted"] the static
    # vid files' order); a dir of an older layout is re-prepped.
    # meta["weights"] gates the shard p slot's semantics: PageRank needs
    # normalized probabilities ("norm"), LPA raw summed weights ("raw"),
    # CC constant 1.0 ("unit") but accepts any — silently gathering or
    # voting with the wrong ones would corrupt every result.
    # meta["homes"] ("vid" for hash homes) gates the partitioning: a dir
    # sharded on the other kind of home must not be reused either.
    if (meta is not None and meta.get("sorted") and meta.get("shards") == _SHARDS
            and meta.get("homes") == kernel.meta.get("homes")
            and (kernel.any_weights or meta["weights"] == kernel.meta["weights"])):
        return meta
    # shards of unknown provenance or other weight semantics: purge rather
    # than trust — a stale _DONE must never gate out the rewrite
    fsio.rmtree(lay.shard_dir)
    fsio.rmtree(lay.static_dir)
    e = kernel.shard_edges(edges)
    write_edge_shards_local(e, lay.shard_dir, lay.P)
    fsio.touch(done)
    num_edges = e.count()
    v = (
        e.select(F.col("src").alias("vid"), F.col("src_home").alias("home"))
        .unionByName(e.select(F.col("dst").alias("vid"), F.col("dst_home").alias("home")))
        .groupBy("vid")
        .agg(F.min("home").alias("home"))
    )
    n = _write_static(kernel.vertices(v, e), lay)
    if n == 0:
        raise ValueError(f"{kernel.name}: empty edge set")
    meta = {"n": n, "num_edges": num_edges, "P": lay.P, "sorted": True, "shards": _SHARDS,
            "prep": uuid.uuid4().hex[:12], **kernel.meta}
    fsio.write_json_atomic(meta_path, meta)
    return meta


def _write_static(vertices: DataFrame, lay: Layout) -> int:
    """One job: each home partition's static vertex file, sorted by vid so
    every superstep can apply hub (remote) entries with one np.searchsorted.
    Returns the vertex count."""
    static_dir, cols = lay.static_dir, vertices.columns

    def write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import pyarrow as pa

        pdfs = [b for b in batches if len(b)]
        if not pdfs:
            return
        pdf = pd.concat(pdfs, ignore_index=True)
        order = np.argsort(pdf["vid"].to_numpy(), kind="stable")
        table = pa.table({c: pdf[c].to_numpy()[order] for c in cols})
        write_state_part(static_dir, int(pdf["pid"].iloc[0]), table)
        yield pd.DataFrame({"n": [len(pdf)]})

    # the pid of each file is spark_partition_id(), which equals
    # pmod(hash(home), P) only while AQE cannot coalesce partitions
    rows = (
        vertices.repartition(lay.P, "home")
        .select(F.spark_partition_id().alias("pid"), *cols)
        .mapInPandas(write, schema="n long")
        .collect()
    )
    return sum(r["n"] for r in rows)


def _pids(spark, P: int) -> DataFrame:
    """One row per partition id, packed into ~one task per core: every
    Python task costs a worker round-trip (~10 ms), so 64 tasks on 8 cores
    would pay the fixed job cost twice over for nothing."""
    sc = spark.sparkContext
    slots = local_slots(sc.master, sc.defaultParallelism)
    n_tasks = min(P, max(1, sc.defaultParallelism if slots is None else slots))
    return spark.range(P, numPartitions=n_tasks).select(F.col("id").cast("int").alias("pid"))


def _state_df(kernel: Kernel, run: Run, k: int) -> DataFrame:
    """Full state DataFrame reconstructed from static + superstep-k files.

    The files are read when the frame is evaluated. A run dir without
    ``_META.json`` (deleted, or never prepared), or a partition with a static
    file but no superstep-k segment (recycled by the retention window, or
    deleted), raises: an empty or partial frame would pass for a result.
    Partitions without a static file hold no vertices and yield no rows."""
    static_dir, state_dir = run.lay.static_dir, run.lay.state_dir(k)
    meta_path = os.path.join(static_dir, "_META.json")
    name, dtype, frame = kernel.name, kernel.dtype, kernel.state_frame

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        if not fsio.exists(meta_path):
            raise RuntimeError(
                f"{name}: {meta_path} is missing — the run directory was deleted "
                "or never prepared"
            )
        for pdf in batches:
            for pid in pdf["pid"].to_numpy():
                st = read_state_part(static_dir, int(pid))
                if st is None:
                    continue
                vec = read_rank_part(state_dir, int(pid), dtype=dtype)
                if vec is None:
                    raise RuntimeError(
                        f"{name}: partition {pid} has no superstep-{k} segment in "
                        f"{state_dir} — it was recycled or deleted"
                    )
                yield pd.DataFrame(frame(st, vec))

    return run.pids.mapInPandas(build, schema=kernel.state_schema)


def committed_state(spark, run_dir: str, k: int, manifest: dict) -> DataFrame:
    """The committed superstep-``k`` state of a file-superstep run, with the
    columns of its ``GraphRun.state``. ``manifest`` (superstep k's) names the
    kernel (``metrics.kernel``) and the partition count (``carry.P``)."""
    from .cc_local import CCFiles
    from .lpa_local import LPAFiles
    from .pagerank import _PageRankFiles

    kernels = {c.name: c for c in (_PageRankFiles, CCFiles, LPAFiles)}
    kernel = kernels[manifest["metrics"]["kernel"]]
    P = int(manifest["carry"]["P"])
    return _state_df(kernel, Run(Layout(run_dir, P), _pids(spark, P)), k)


def run_local(
    edges: DataFrame,
    kernel: Kernel,
    *,
    max_iter: int,
    store: CheckpointStore,
    run_id: str,
    resume: bool,
) -> GraphRun:
    """Run ``kernel`` over home-keyed ``edges`` as file supersteps.

    ``edges`` must carry ``src_home``/``dst_home``; the partition count is
    the session's ``spark.sql.shuffle.partitions``.
    """
    spark = edges.sparkSession
    # AQE off for the whole call: the static write derives each file's pid
    # from spark_partition_id(), which must equal pmod(hash(home), P) — AQE's
    # partition coalescing would renumber partitions and misalign the files
    # against the shards (same invariant as the runner's superstep loop).
    aqe = "spark.sql.adaptive.enabled"
    old_aqe = spark.conf.get(aqe, "true")
    spark.conf.set(aqe, "false")
    try:
        return _run_local(edges, kernel, max_iter=max_iter, store=store, run_id=run_id,
                          resume=resume)
    finally:
        spark.conf.set(aqe, old_aqe)


def _run_local(edges, kernel, *, max_iter, store, run_id, resume) -> GraphRun:
    spark = edges.sparkSession
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    lay = Layout(os.path.join(store.root, run_id), P)
    meta = _prepare(edges, kernel, lay)
    n, num_edges = int(meta["n"]), int(meta["num_edges"])
    run = Run(lay, _pids(spark, P))

    history: list[dict[str, Any]] = []
    carry: dict[str, Any] = {}
    resumed_from: int | None = None
    start = 0
    latest = store.latest(run_id) if resume else None
    if latest is not None:
        carry = store.manifest(run_id, latest)["carry"]
        # state segments and static files are keyed by partition id:
        # resuming under a different spark.sql.shuffle.partitions would read
        # misaligned (or missing) segments, and the files of a committed run
        # are not re-derivable state — refuse
        man_p = int(carry.get("P", -1))
        if man_p != P:
            raise RuntimeError(
                f"cannot resume {kernel.name} run {run_id!r}: committed under "
                f"{man_p} shuffle partitions, session has {P} — restart "
                "with the original partition count or a fresh run_id"
            )
        kernel.check(run, carry)
        history = store.metrics_history(run_id)
        resumed_from = latest
        if carry.get("_converged"):
            return GraphRun(_state_df(kernel, run, latest), run_id, latest, True, history,
                            resumed_from)
        start = latest + 1
    else:
        kernel.check(run, None)
        if not resume:
            store.clear_run(run_id)

    update_df = run.pids.mapInPandas(
        _make_task(kernel, lay), schema=f"pid int, {kernel.metrics_schema}"
    )
    instr = os.environ.get("TWSPARK_INSTR")
    converged = False
    last = start - 1
    for k in range(start, max_iter + 1):
        t0 = time.monotonic()
        fsio.write_json_atomic(lay.params_path, {
            "superstep": k,
            "n": n,
            "prep": meta["prep"],
            "prev_dir": lay.state_dir(k - 1) if k else None,
            "next_dir": lay.state_dir(k),
            # retention window 2: writing superstep k recycles k-2's
            # segments — k and k-1 stay durable, exactly what resume needs
            "recycle_dir": lay.state_dir(k - 2) if k >= 2 else None,
            **kernel.params(carry, k),
        })
        t_params = time.monotonic()
        metrics_rows = [r.asDict() for r in update_df.collect()]
        t_collect = time.monotonic()
        # an empty metrics set is NEVER convergence — it means every task
        # skipped (missing state/static files, e.g. a foreign run dir), and
        # treating it as no change would silently commit an empty
        # "converged" run; partial coverage likewise means misalignment.
        if not metrics_rows:
            raise RuntimeError(
                f"{kernel.name} superstep {k}: no partition emitted metrics — state "
                "files missing or partitioning mismatch in the run directory"
            )
        covered = sum(r["n_rows"] for r in metrics_rows)
        if covered != n:
            raise RuntimeError(
                f"{kernel.name} superstep {k}: tasks covered {covered} of {n} "
                "vertices — state/shard partitioning mismatch"
            )
        kmetrics, kcarry, done = kernel.combine(metrics_rows, carry, k)
        converged = k > 0 and done
        metrics = {
            "kernel": kernel.name,
            **kmetrics,
            "edges_processed": num_edges,
            "n_vertices": n,
            "superstep": k,
            "wall_ms": round(1000 * (time.monotonic() - t0), 1),
        }
        carry = {**kcarry, "_converged": converged, "P": P}
        lineage = [
            {"partition_id": r["pid"], "n_rows": r["n_rows"], "checksum": r["checksum"]}
            for r in metrics_rows
        ]
        if instr:
            with open(f"{instr}/driver.log", "a") as f:
                f.write(
                    f"{k} params {t_params - t0:.4f} collect {t_collect - t_params:.4f} "
                    f"post {time.monotonic() - t_collect:.4f}\n"
                )
        store.finalize(run_id, k, lineage, metrics, carry)
        if k >= 2:
            # retention window 2, as for the state: k+1 reads k's exchange
            fsio.rmtree(lay.exchange_dir(k - 2))
            if fsio.is_uri(store.root):
                # local roots recycle the k-2 state segment into k's slot;
                # URI stores skip recycling, so delete it explicitly or an
                # object-store run accumulates one full state vector per
                # partition per superstep
                fsio.rmtree(lay.state_dir(k - 2))
        history.append(metrics)
        last = k
        if converged:
            break

    return GraphRun(_state_df(kernel, run, last), run_id, last, converged, history, resumed_from)
