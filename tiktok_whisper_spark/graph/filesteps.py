"""File-superstep engine: the local-mode loop of PageRank, CC and LPA, and
PageRank's csr mode.

Edge tables with ``src_home``/``dst_home`` locality keys run as per-partition
*file supersteps*; PageRank's csr mode supplies hash homes (home = vid) for
graphs without them. The vertex state lives in raw fixed-width segments
(``superstep=NNNNNN/state/rank-PPPPP.f64``) hash-partitioned by home, next to
sorted static vertex files (``_static_p{P}``) and locality-split edge shards
(``_edge_shards_p{P}``). Every superstep is ONE analyzed DataFrame job over a
P-row ``pids`` frame: each task reads its partitions' previous segments,
runs the kernel in NumPy against mmap-compiled per-partition arrays, writes
the next segments and returns one metrics frame plus one pre-merged
exchange frame (the few hub entries that cross partitions). The driver
merges the exchange, writes the manifest (the commit point) and passes the
next superstep's parameters through a small params file, so the update
DataFrame is analyzed once per call and only re-collected. The superstep
output IS the checkpoint; a killed run resumes from its last manifest.

(Why files instead of streaming the state through mapInPandas: Spark 4.1's
JVM→Python Arrow writer walks the vector tree per row to enforce
maxBytesPerBatch — ~5µs/row of non-scaling CPU — while raw segment files
move at memory speed.)

A kernel (:class:`Kernel`) supplies three things: a per-partition
``compile`` of superstep-invariant arrays, a per-partition ``init`` /
``update`` of its state vector, and a driver-side ``combine`` of the
metrics and exchange rows (which may run extra jobs). The engine owns the
rest: the edge-shard and static-file formats, the warm-dir gate and cold
prep, task packing, resume guards, the params file, coverage checks,
commits, retention and the one compile cache (:func:`load_compiled`): a
kernel's compile reads its partition's static file and Parquet edge shard
once per run dir, and supersteps read only the compiled arrays.
"""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import tempfile
import time
import zlib
from collections.abc import Iterator
from dataclasses import dataclass, field
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
# PowerGraph-style placement insight: the engine relays ~|tools| hub entries
# per superstep through the driver instead of shuffling and hash-aggregating
# an edge-sized (75M-row at bench scale) partial table. Graphs with no
# locality hint (PageRank's csr mode) shard the same way with home = vid: an
# edge is then local when both endpoints hash to one partition.


def shard_pid(col: F.Column, num_partitions: int) -> F.Column:
    """Spark's HashPartitioning function: pmod(murmur3(col), n) — F.hash IS
    murmur3_32(seed=42), the same hash HashPartitioning evaluates."""
    return F.pmod(F.hash(col), F.lit(num_partitions))


def write_edge_shards_local(enorm: DataFrame, shard_dir: str, num_partitions: int) -> None:
    """One-time shard write.

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
    kernels share one ``_edge_shards_p{P}`` layout but put different values
    in the ``p`` slot — PageRank normalized probabilities, CC constant 1.0,
    LPA raw summed weights — so cold prep purges a dir whose ``_META.json``
    does not match the kernel before it re-shards. Also drops the node-local
    compile cache when the dir is an object-store URI; on a multi-node
    cluster, rewriting a URI dir in place would still leave OTHER nodes'
    caches stale — share run dirs across kernels only when the weight
    semantics match, or use a fresh run_id."""
    fsio.rmtree(shard_dir)
    if fsio.is_uri(shard_dir):
        shutil.rmtree(node_cache_root(shard_dir), ignore_errors=True)


def _factorize_shard(tbl):
    """Arrow table → factorized CSR-ish arrays (src/dst codes + uniques)."""
    src_codes, src_uniq = pd.factorize(tbl.column("src").to_numpy(), sort=False)
    dst_codes, dst_uniq = pd.factorize(tbl.column("dst").to_numpy(), sort=False)
    p = tbl.column("p").to_numpy().astype(np.float64)
    return (src_codes, src_uniq, dst_codes, dst_uniq, p)


def read_shard(shard_dir: str, pid: int) -> dict | None:
    """The factorized ``local``/``remote`` halves of edge shard ``pid``, each
    ``(src_codes, src_uniq, dst_codes, dst_uniq, p)`` or None when empty
    (None: no shard). Read straight from Parquet: only a compile miss of
    :func:`load_compiled` calls it."""
    import pyarrow.parquet as pq

    path = os.path.join(shard_dir, f"pid={pid}")
    if not fsio.exists(path):
        return None
    fs, base = fsio.fs_and_path(path)
    tbl = pq.read_table(base, columns=["src", "dst", "p", "is_local"], filesystem=fs)
    mask = tbl.column("is_local").to_numpy()
    return {
        half: _factorize_shard(sub) if sub.num_rows else None
        for half, sub in (("local", tbl.filter(mask)), ("remote", tbl.filter(~mask)))
    }


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
# (run, kernel, pid) into mmap-able ``.npy`` files next to the static state
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


def compiled_generation(cdir: str):
    """Identity token of one compiled-cache publish: the ``_OK`` marker's
    (inode, mtime). ``os.replace`` of a fresh tmp dir gives every publish a
    new inode, so worker-process caches keyed on the compile dir can detect
    a re-publish (a cold re-prep's purge+recompile under the same path)
    instead of serving a stale mmap. ``None`` = not compiled."""
    try:
        st = os.stat(os.path.join(cdir, "_OK"))
        return (st.st_ino, st.st_mtime_ns)
    except OSError:
        return None


def publish(cdir: str, arrays: dict[str, np.ndarray]) -> None:
    """Atomic compile publish: ``.npy`` files and an ``_OK`` marker into a
    tmp dir, then one rename (concurrent compilers race benignly).

    Superseded versions of the same dir (``<stem>-v*``) are dropped first: a
    version bump would otherwise leave the old arrays resident in the store
    forever (6.7 GB of orphaned v1 dirs once contributed to a tmpfs
    OOM)."""
    parent = os.path.dirname(cdir)
    os.makedirs(parent, exist_ok=True)
    stem = os.path.basename(cdir).rsplit("-", 1)[0]
    for old in glob.glob(os.path.join(parent, f"{stem}-v*")):
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


# (kernel tag, static_dir, pid) -> (generation, arrays). One static_dir per
# kernel kind: a worker alternates kernels over different run dirs (e.g.
# PageRank on one, LPA on another), and evicting on ANY static_dir change
# would re-derive LPA's load-time tables on every call.
_COMPILED: dict = {}


def load_compiled(kernel: Kernel, lay: Layout, pid: int) -> dict | None:
    """mmap-loaded compiled arrays of one partition (None: no static file).

    Entries carry the compile dir's publish generation and re-validate it on
    every hit, so a long-lived worker never serves a stale mmap after a
    purge+recompile under the same static_dir."""
    static_dir = lay.static_dir
    name = f"{kernel.tag}-{pid:05d}-{kernel.version}"
    root = node_cache_root(static_dir) if fsio.is_uri(static_dir) else static_dir
    cdir = os.path.join(root, name)
    key = (kernel.tag, static_dir, pid)
    cached = _COMPILED.get(key)
    if cached is not None and cached[0] == compiled_generation(cdir):
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
        publish(cdir, {"vids": vids, "crc": crc, **arrays})
    ent = {
        "vids": np.load(os.path.join(cdir, "vids.npy"), mmap_mode="r"),
        "crc": int(np.load(os.path.join(cdir, "crc.npy"))[0]),
    }
    for arr in kernel.arrays:
        path = os.path.join(cdir, f"{arr}.npy")
        ent[arr] = np.load(path, mmap_mode="r") if os.path.exists(path) else None
    kernel.loaded(ent)
    _COMPILED[key] = (compiled_generation(cdir), ent)
    return ent


# =============================================================================
# Kernel contract
# =============================================================================


def _cols(schema: str) -> list[str]:
    return [f.split()[0] for f in schema.split(",")]


class Kernel:
    """What a local-mode kernel supplies to :func:`run_local`.

    Instances are pickled into the superstep tasks, so they hold only
    per-call constants; driver-only state lives in :class:`Run`.
    """

    name: str  # the "kernel" metric; prefixes errors
    tag: str  # compile-dir stem, one per kernel kind
    version: str  # compile-dir version suffix (bumped when the arrays change)
    dtype: Any  # state segment dtype
    arrays: tuple[str, ...] = ()  # compiled arrays loaded besides vids/crc
    metrics_schema: str  # per-partition metrics row (must include n_rows, checksum)
    exchange_schema: str  # per-task exchange rows (pid NULL)
    state_schema: str  # columns of the returned state DataFrame
    meta: dict  # shard weight semantics recorded in _META.json
    any_weights = False  # warm dirs of any weight semantics are reusable
    transient: str | None = None  # per-run exchange dir dropped at the end on URI roots

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
        """Superstep-``k`` parameters for the params file (from ``carry``)."""
        return {}

    def combine(self, run: Run, rows: list[dict], exchange: list[dict], carry: dict,
                k: int) -> tuple[dict, dict, bool]:
        """Merge one superstep: returns ``(metrics, carry, converged)``."""
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

    def init(self, lay: Layout, pid: int, st, prm: dict):
        """Superstep 0 of one partition: ``(state, metrics_row, exchange)``."""
        raise NotImplementedError

    def update(self, lay: Layout, pid: int, al: dict, prev: np.ndarray, prm: dict, mk):
        """Superstep ≥ 1 of one partition: ``(state, metrics_row, exchange)``."""
        raise NotImplementedError

    def skip(self, lay: Layout, pid: int, prm: dict) -> None:
        """A partition without vertices in superstep ≥ 1."""

    def merge(self, parts: list[pd.DataFrame], k: int) -> pd.DataFrame:
        """Pre-merge one task's exchange frames."""
        return pd.concat(parts, ignore_index=True)

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
    m_cols, x_cols = _cols(kernel.metrics_schema), _cols(kernel.exchange_schema)

    def task(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        prm = fsio.read_json(lay.params_path)
        k = int(prm["superstep"])
        ctx = kernel.decode(prm) if k else prm
        instr = os.environ.get("TWSPARK_INSTR")
        marks: list = []

        def mk(name, t0):
            if instr:
                marks.append((name, time.perf_counter() - t0))

        # metrics AND exchange rows accumulate across ALL pids of this task
        # and flush as ONE frame each: every yielded frame is a separate
        # Arrow batch over the worker socket, and 64 one-row batches
        # measured ~100 ms/superstep of pure serialization overhead
        macc: list[dict] = []
        xacc: list[pd.DataFrame] = []
        for pdf in batches:
            for pid in pdf["pid"].to_numpy():
                pid = int(pid)
                t0 = time.perf_counter()
                if k == 0:
                    st = read_state_part(lay.static_dir, pid)
                    mk("read", t0)
                    if st is None:
                        continue
                    out, row, exch = kernel.init(lay, pid, st, ctx)
                else:
                    al = load_compiled(kernel, lay, pid)
                    prev = read_rank_part(prm["prev_dir"], pid, dtype=kernel.dtype)
                    mk("read", t0)
                    if al is None or prev is None:
                        kernel.skip(lay, pid, ctx)
                        continue
                    out, row, exch = kernel.update(lay, pid, al, prev, ctx, mk)
                t0 = time.perf_counter()
                write_rank_part(prm["next_dir"], pid, out, prm["recycle_dir"])
                mk("write", t0)
                macc.append({"pid": pid, **row})
                if exch is not None:
                    xacc.append(exch)
        if macc:
            yield pd.DataFrame(macc).assign(**{c: None for c in x_cols})
        if xacc:
            yield kernel.merge(xacc, k).assign(pid=None, **{c: None for c in m_cols})
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
    jobs: dict = field(default_factory=dict)

    def job(self, name: str, fn, schema: str) -> DataFrame:
        """A per-partition job over ``pids``, analyzed once per call."""
        if name not in self.jobs:
            self.jobs[name] = self.pids.mapInPandas(fn, schema=schema)
        return self.jobs[name]


def _prepare(edges: DataFrame, kernel: Kernel, lay: Layout) -> tuple[int, int]:
    """``(n, num_edges)`` of the run dir, from its ``_META.json`` when warm.

    Shards, static vertex files and graph meta are deterministic
    re-derivations of the edge table — a warm run dir (resume, another
    parallelism level, a fresh run under the same run_id) skips the whole
    shard/vertex pipeline. A cold prep writes only the shards, the sorted
    static files and the meta; superstep 0 then starts from them like any
    warm run.
    """
    done = os.path.join(lay.shard_dir, "_DONE")
    meta_path = os.path.join(lay.static_dir, "_META.json")
    meta = fsio.read_json(meta_path) if fsio.exists(done) else None
    # meta["sorted"] gates warm reuse: static vid files from before the
    # sorted layout would break the searchsorted hub application.
    # meta["weights"] gates the shard p slot's semantics: PageRank needs
    # normalized probabilities ("norm"), LPA raw summed weights ("raw"),
    # CC constant 1.0 ("unit") but accepts any — silently gathering or
    # voting with the wrong ones would corrupt every result. A dir without
    # the marker is of unknown semantics and is re-prepped.
    # meta["homes"] ("vid" for hash homes) gates the partitioning: a dir
    # sharded on the other kind of home must not be reused either.
    if (meta is not None and meta.get("sorted") and "weights" in meta
            and meta.get("homes") == kernel.meta.get("homes")
            and (kernel.any_weights or meta["weights"] == kernel.meta["weights"])):
        return int(meta["n"]), int(meta["num_edges"])
    # shards of unknown provenance or other weight semantics: purge rather
    # than trust — a stale _DONE must never gate out the rewrite
    purge_shard_dir(lay.shard_dir)
    purge_shard_dir(lay.static_dir)
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
    fsio.write_json_atomic(
        meta_path, {"n": n, "num_edges": num_edges, "P": lay.P, "sorted": True, **kernel.meta}
    )
    return n, num_edges


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
    n, num_edges = _prepare(edges, kernel, lay)
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

    update_df = run.job(
        "update", _make_task(kernel, lay),
        f"pid int, {kernel.metrics_schema}, {kernel.exchange_schema}",
    )
    instr = os.environ.get("TWSPARK_INSTR")
    converged = False
    last = start - 1
    for k in range(start, max_iter + 1):
        t0 = time.monotonic()
        fsio.write_json_atomic(lay.params_path, {
            "superstep": k,
            "n": n,
            "prev_dir": lay.state_dir(k - 1) if k else None,
            "next_dir": lay.state_dir(k),
            # retention window 2: writing superstep k recycles k-2's
            # segments — k and k-1 stay durable, exactly what resume needs
            "recycle_dir": lay.state_dir(k - 2) if k >= 2 else None,
            **kernel.params(carry, k),
        })
        t_params = time.monotonic()
        rows = update_df.collect()
        t_collect = time.monotonic()
        metrics_rows, exchange = [], []
        for r in rows:
            d = r.asDict()
            (metrics_rows if d["pid"] is not None else exchange).append(d)
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
        kmetrics, kcarry, done = kernel.combine(run, metrics_rows, exchange, carry, k)
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
        if k >= 2 and fsio.is_uri(store.root):
            # local roots enforce the retention window implicitly (the k-2
            # segment is renamed into k's slot by the recycle path); URI
            # stores skip recycling, so delete k-2 explicitly or an
            # object-store run accumulates one full state vector per
            # partition per superstep (retention window stays: k, k-1)
            fsio.rmtree(lay.state_dir(k - 2))
        history.append(metrics)
        last = k
        if converged:
            break

    if kernel.transient and fsio.is_uri(store.root):
        fsio.rmtree(os.path.join(lay.run_dir, kernel.transient))
    return GraphRun(_state_df(kernel, run, last), run_id, last, converged, history, resumed_from)
