"""Spark side of the benchmark: set-up, timed passes, output checks, spans.

``run.py`` starts this in a fresh process with the environment it needs
(local Spark dirs, temp dirs and caches inside the checkout) and samples its
memory from outside. This process writes one JSON result to ``--out``:
op counts, failures, the end-to-end numbers and, with ``--trace 1``, the
per-layer numbers.

Every call into ``tiktok_whisper_spark`` is one op. An op that raises, or
whose output fails a check, counts as failed; checks run outside the timed
region and never change a number.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from contextlib import contextmanager  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import checks  # noqa: E402
import procs  # noqa: E402

# Sizes, for 4 cores. Per-call fixed costs (Spark jobs, Python worker
# round-trips) dominate at these sizes; see README.md for the budget.
ITER_CONVS = 5_000         # iterate_local transcripts
GENERIC_CONVS = 3_000      # generic_csr transcripts ...
GENERIC_TURNS = 4          # ... truncated to their first turns (CC depth)
QUERY_SF = 0.01            # query-suite tables (traced generic_csr runs)
SETUP_REPEATS = 3          # set-up (derive, prep) runs this often; setup_s is the median
LPA_STEPS = 8
LOCAL_STOP = 4             # local PageRank stopped here, then resumed
CSR_STOP = 3               # csr PageRank stopped here, then resumed
CSR_WARM_UPS = 2           # untimed generic_csr passes before the timed ones
PINNED_STEPS = 5           # fixed-superstep PageRank for the scaling pair
FLOOR_JOBS = 7
CACHE_KEEP = 12            # cached input sets kept in the checkout

BENCH_QUERIES = [
    "agg_tpch_q1", "agg_user_event_stats", "agg_top_customers", "agg_ewma_per_user",
    "window_topk_per_group", "window_sessionization", "join_revenue_by_segment",
    "join_customers_without_orders", "dedup_exact", "dedup_minhash_lsh",
    "dedup_embedding_cosine", "dedup_embedding_lsh_gated", "text_profile",
    "vector_knn_cosine", "graph_adjacency_edges", "graph_triangle_count",
]


# -- spans and ops ------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent id); written out at exit."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "parent": parent, "name": name,
                               "start": start, "end": end, **attrs})
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sid = self.add(name, time.monotonic(), None, stack[-1] if stack else None,
                       thread=threading.current_thread().name, **attrs)
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.monotonic()

    def superstep_spans(self, parent: int | None, kernel: str, run, end: float) -> None:
        """Child spans from ``GraphRun.metrics``, laid back to back ending at ``end``."""
        if parent is None:
            return
        t = end
        for m in reversed(run.metrics):
            if run.resumed_from is not None and m["superstep"] <= run.resumed_from:
                continue
            start = t - m["wall_ms"] / 1000.0
            self.add(f"{kernel}.superstep", start, t, parent, superstep=m["superstep"],
                     derived_from="GraphRun.metrics")
            t = start


class Ops:
    """Attempted/failed accounting plus per-op wall times of the current pass."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.attempted = 0
        self.failures: list[str] = []
        self.failed_ids: set[int] = set()
        self.pass_times: dict[str, float] = {}
        self.pass_steps: list[float] = []  # steady PageRank superstep walls of this pass
        self.edges = 0  # edges one PageRank superstep gathers

    def run(self, name: str, fn):
        """Time ``fn()`` as one op; returns ``(op_id, result, span_id)``, result None on error."""
        op_id = self.attempted
        self.attempted += 1
        t0 = time.monotonic()
        try:
            with self.tracer.span(name) as sid:
                out = fn()
        except Exception:  # an op that raises is counted and the pass goes on
            self.fail(op_id, [f"{name}: " + traceback.format_exc(limit=3).strip().splitlines()[-1]])
            return op_id, None, None
        dt = time.monotonic() - t0
        self.pass_times[name] = self.pass_times.get(name, 0.0) + dt
        note(f"op {name} {dt:.3f}s")
        return op_id, out, sid

    def steady(self, run) -> None:
        """Record the PageRank superstep walls of ``run`` after the first one
        this call executed (which also reads or builds the call's inputs)."""
        self.pass_steps += steps(run, 1)[1:]
        self.edges = run.metrics[-1]["edges_processed"]

    def fail(self, op_id: int, problems: list[str]) -> None:
        if problems:
            self.failed_ids.add(op_id)
            self.failures.extend(problems)

    def check(self, op_id: int, fn) -> None:
        """Run a check of op ``op_id``'s output; a raising check fails the op too."""
        try:
            self.fail(op_id, fn())
        except Exception:
            self.fail(op_id, ["check raised: " + traceback.format_exc(limit=3).strip().splitlines()[-1]])

    @property
    def failed(self) -> int:
        return len(self.failed_ids)


def traced_store(root: str, tracer: Tracer):
    """A ``CheckpointStore`` whose public calls record spans.

    It pickles as a plain ``CheckpointStore``: kernels ship the store to
    Python workers inside task closures, and the tracer stays on the driver.
    """
    from tiktok_whisper_spark.sources.catalog import CheckpointStore

    class TracedStore(CheckpointStore):
        def __reduce__(self):
            return CheckpointStore, (self.root, self.backend, self.codec)

    def wrap(name: str):
        fn = getattr(CheckpointStore, name)

        def call(self, *a, **kw):
            with tracer.span(f"catalog.{name}"):
                return fn(self, *a, **kw)

        return call

    for name in ("clear_run", "write_state", "finalize", "completed_supersteps",
                 "latest", "manifest", "load_state", "metrics_history"):
        setattr(TracedStore, name, wrap(name))
    return TracedStore(root)


# -- helpers ------------------------------------------------------------------


def note(msg: str) -> None:
    print(f"perfbench: {time.monotonic() - T_PROCESS:7.2f}s {msg}", file=sys.stderr, flush=True)


def du(path: str, prefix: str = "") -> int:
    """Bytes of regular files under ``path`` whose top-level entry starts with ``prefix``."""
    if not os.path.isdir(path):
        return 0
    total = 0
    for top in os.listdir(path):
        if not top.startswith(prefix):
            continue
        full = os.path.join(path, top)
        if os.path.isfile(full):
            total += os.path.getsize(full)
        for dirpath, _dirs, files in os.walk(full):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


def steps(run, first: int = 1, last: int | None = None) -> list[float]:
    """Superstep walls (s) of ``run`` in ``[first, last]``, excluding resumed history."""
    lo = first if run.resumed_from is None else max(first, run.resumed_from + 1)
    return [m["wall_ms"] / 1000.0 for m in run.metrics
            if m["superstep"] >= lo and (last is None or m["superstep"] <= last)]


def med(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def top_ranks(state, k: int = checks.TOP_K) -> list[tuple[int, float]]:
    from pyspark.sql import functions as F

    rows = state.orderBy(F.desc("rank"), F.asc("vid")).limit(k).collect()
    return [(int(r["vid"]), float(r["rank"])) for r in rows]


def n_labels(state) -> int:
    return state.select("label").distinct().count()


def recorded_counts() -> dict:
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)


class Bench:
    """One benchmark run of one workload."""

    def __init__(self, args) -> None:
        self.args = args
        self.work = args.work_dir
        self.cache = args.cache_dir
        self.tracer = Tracer()
        self.ops = Ops(self.tracer)
        self.layers: dict[str, float] = {}
        self.counts: dict[str, dict[str, int]] = {}
        self.setup_s = 0.0
        self.cores = int(os.environ["SPARK_GRAFT_CPUS"])
        # Partitions: two per core for the hub-skewed local shards, as in the
        # 400k-conversation prototype; one per core (the engine's default for
        # a local master) for the small csr graph, whose supersteps are per-task
        # overhead: with two per core they run a third slower and keep
        # warming up for several passes.
        self.P = self.cores * (2 if args.workload == "iterate_local" else 1)
        self.spark = None

    # -- set-up pieces --------------------------------------------------------

    def start_session(self) -> float:
        """Process start to a session that has run one job; returns seconds."""
        from tiktok_whisper_spark.session import get_spark

        with self.tracer.span("session.start"):
            self.spark = get_spark(
                app_name=f"perfbench-{self.args.workload}",
                shuffle_partitions=self.P,
                extra_conf={"spark.driver.defaultJavaOptions":
                            f"-Djava.io.tmpdir={self.work} -XX:-UsePerfData"},
            )
        self.layers["session.start_s"] = time.monotonic() - T_PROCESS
        with self.tracer.span("spark.warmup"):
            self._noop_job()
        return time.monotonic() - T_PROCESS

    def _noop_job(self) -> None:
        from pyspark.sql import functions as F

        pids = self.spark.range(self.P, numPartitions=min(self.P, self.cores))
        pids.select(F.col("id").cast("int").alias("pid")).mapInPandas(
            lambda it: it, schema="pid int").collect()

    def job_floor(self) -> None:
        """Median wall of a no-op ``mapInPandas`` job over the P-row pid frame."""
        walls = []
        for _ in range(FLOOR_JOBS):
            t0 = time.monotonic()
            with self.tracer.span("spark.floor_job"):
                self._noop_job()
            walls.append(time.monotonic() - t0)
        self.layers["spark.job_floor_s"] = med(walls)

    def transcripts(self, n_convs: int, max_turns: int | None = None) -> str:
        """Seeded transcripts parquet, cached by (seed, size) outside any timing."""
        from tiktok_whisper_spark import datagen

        key = f"transcripts-s{self.args.seed}-n{n_convs}-t{max_turns or 0}"
        path = os.path.join(self.cache, key)
        if not os.path.exists(os.path.join(path, "_DONE")):
            shutil.rmtree(path, ignore_errors=True)
            t = datagen.transcripts(self.spark, n_convs=n_convs, seed=self.args.seed)
            if max_turns:
                t = t.where(t.turn_idx < max_turns)
            t.write.parquet(path)
            open(os.path.join(path, "_DONE"), "w").close()
        os.utime(path)
        entries = sorted((os.path.getmtime(os.path.join(self.cache, e)), e)
                         for e in os.listdir(self.cache))
        for _mtime, old in entries[:-CACHE_KEEP]:
            shutil.rmtree(os.path.join(self.cache, old), ignore_errors=True)
        return path

    def derive(self, transcripts_path: str, include_home: bool, out: str) -> float:
        """Turn-adjacency ∪ turn-tool edges written to ``out`` as parquet; returns seconds."""
        from tiktok_whisper_spark.operators.edges import turn_adjacency_edges, turn_tool_edges

        t0 = time.monotonic()
        with self.tracer.span("edges.derive"):
            t = self.spark.read.parquet(transcripts_path)
            e = turn_adjacency_edges(t, include_home=include_home).unionByName(
                turn_tool_edges(t, include_home=include_home))
            e.write.parquet(out)
        self.layers["edges.bytes"] = du(out)
        return time.monotonic() - t0

    def set_up(self, session_s: float, build) -> None:
        """Run ``build(i)`` (derive, prepare) SETUP_REPEATS times into fresh
        ``*-<i>`` directories, deleting each earlier repeat's; ``setup_s`` is
        session start plus the median repeat, and each timing ``build``
        returns goes to the per-layer numbers as its median."""
        walls, parts = [], {}
        for i in range(SETUP_REPEATS):
            t0 = time.monotonic()
            for name, dt in build(i).items():
                parts.setdefault(name, []).append(dt)
            walls.append(time.monotonic() - t0)
            if i:
                for top in os.listdir(self.work):
                    if top.endswith(f"-{i - 1}"):
                        shutil.rmtree(os.path.join(self.work, top), ignore_errors=True)
            note(f"set-up {i} {walls[-1]:.3f}s")
        self.setup_s = session_s + med(walls)
        self.layers.update({name: med(v) for name, v in parts.items()})

    def reference(self, edges_path: str) -> checks.GraphReference:
        import pyarrow.parquet as pq

        with self.tracer.span("bench.reference"):
            return checks.graph_reference(
                pq.read_table(edges_path, columns=["src", "dst", "weight"]).to_pandas())

    def store(self, name: str):
        from tiktok_whisper_spark.sources.catalog import CheckpointStore

        root = os.path.join(self.work, name)
        return traced_store(root, self.tracer) if self.args.trace else CheckpointStore(root)

    def record(self, op_id: int, size_key: str, observed: dict) -> None:
        """Check counts against ``expected.json`` and keep them for the result."""
        self.counts.setdefault(size_key, {}).update(observed)
        self.ops.check(op_id, lambda: checks.check_recorded(
            self.args.seed, size_key, observed, recorded_counts()))

    # -- passes ---------------------------------------------------------------

    def timed_passes(self, one_pass, warm_ups: int) -> dict[str, float]:
        """``warm_ups`` untimed passes, then untraced passes for ``--seconds``
        (at least one; exactly one with tracing, followed by one traced pass).

        Returns the end-to-end numbers of the untraced passes: the median pass
        wall, and the headline PageRank rate, edges per superstep over the
        median of all their steady superstep walls.
        """
        walls, pr_steps = [], []

        def measured() -> float:
            self.ops.pass_times, self.ops.pass_steps = {}, []
            one_pass()
            return sum(self.ops.pass_times.values())

        for _ in range(warm_ups):  # the first calls of a session load and compile code paths
            measured()
            note("warm-up pass done")
        t_start = time.monotonic()
        while not walls or (not self.args.trace
                            and time.monotonic() - t_start < self.args.seconds):
            walls.append(measured())
            pr_steps += self.ops.pass_steps
        if self.args.trace:
            self.tracer.enabled = True
            with self.tracer.span("pass"):
                traced = measured()
            self.layers["trace.overhead"] = traced / walls[0] - 1.0
        return {"wall_s": med(walls),
                "edges_per_s": self.ops.edges / med(pr_steps) if pr_steps else 0.0}

    # -- workloads ------------------------------------------------------------

    def iterate_local(self) -> dict[str, float]:
        from tiktok_whisper_spark.graph import label_propagation, pagerank
        from tiktok_whisper_spark.graph import connected_components

        session_s = self.start_session()
        note("session ready")
        tpath = self.transcripts(ITER_CONVS)
        note("inputs ready")
        g = {}

        def build(i: int) -> dict[str, float]:
            # prepared state: edges, shards, static vertex files and compiled alignments
            epath = os.path.join(self.work, f"edges-{i}")
            out = {"edges.derive_s": self.derive(tpath, True, epath)}
            edges = self.spark.read.parquet(epath)
            pr_store, lpa_store = self.store(f"pr_store-{i}"), self.store(f"lpa_store-{i}")
            for name, fn in (
                ("pagerank", lambda: pagerank(edges, store=pr_store, run_id="pr", resume=False,
                                              scatter_mode="local", max_iter=0)),
                ("lpa", lambda: label_propagation(edges, store=lpa_store, run_id="lpa",
                                                  resume=False, scatter_mode="local", max_iter=0)),
            ):
                t0 = time.monotonic()
                _op, run, _sid = self.ops.run(f"prep.{name}", fn)
                if run is not None:
                    out[f"prep.{name}_s"] = time.monotonic() - t0 - sum(
                        m["wall_ms"] for m in run.metrics) / 1000.0
            g.update(epath=epath, edges=edges, pr=pr_store, lpa=lpa_store)
            return out

        self.set_up(session_s, build)
        edges, pr_store, lpa_store = g["edges"], g["pr"], g["lpa"]
        self.layers["prep.shard_bytes"] = sum(
            du(os.path.join(s.root, rid), p) for s, rid in ((pr_store, "pr"), (lpa_store, "lpa"))
            for p in ("_edge_shards_p", "_static_p"))
        ref = self.reference(g["epath"])
        note("reference computed")
        self.layers["edges.rows"] = edges.count()
        size_key = f"iterate_local/{ITER_CONVS}"

        def one_pass() -> None:
            t = self.tracer
            op, run, sid = self.ops.run("pagerank", lambda: pagerank(
                edges, store=pr_store, run_id="pr", resume=False, scatter_mode="local"))
            full = None
            if run is not None:
                self.ops.steady(run)
                t.superstep_spans(sid, "pagerank", run, time.monotonic())
                walls = steps(run, 2)
                m = run.metrics[-1]
                self.layers.update({
                    "pagerank.call_s": self.ops.pass_times["pagerank"],
                    "pagerank.supersteps": run.supersteps,
                    "pagerank.superstep0_s": run.metrics[0]["wall_ms"] / 1000.0,
                    "pagerank.superstep_s_p50": med(walls),
                    "pagerank.superstep_s_max": max(walls, default=0.0),
                    "pagerank.edges_per_s": m["edges_processed"] / med(walls) if walls else 0.0,
                    "catalog.bytes_per_superstep":
                        du(os.path.join(pr_store.root, "pr"), "superstep=") / (run.supersteps + 1),
                })
                full = (run.supersteps, top_ranks(run.state))
                self.ops.check(op, lambda: checks.check_pagerank(
                    run.metrics, run.converged, run.supersteps, ref)
                    + checks.check_top_ranks(full[1], ref.pagerank_top))
                self.record(op, size_key, {"n_vertices": m["n_vertices"],
                                           "n_edges": m["edges_processed"]})

            op, run, sid = self.ops.run("cc", lambda: connected_components(
                edges, store=pr_store, run_id="pr", resume=False, scatter_mode="local",
                max_iter=200))
            if run is not None:
                t.superstep_spans(sid, "cc", run, time.monotonic())
                self.layers.update({"cc.call_s": self.ops.pass_times["cc"],
                                    "cc.supersteps": run.supersteps,
                                    "cc.superstep_s_p50": med(steps(run, 1))})
                n_cc = n_labels(run.state)
                self.ops.check(op, lambda: checks.check_equal(run.converged, True, "cc converged")
                               + checks.check_equal(n_cc, ref.n_components, "cc components"))
                self.record(op, size_key, {"n_components": n_cc})

            op, run, sid = self.ops.run("lpa", lambda: label_propagation(
                edges, store=lpa_store, run_id="lpa", resume=False, scatter_mode="local",
                max_iter=LPA_STEPS))
            if run is not None:
                t.superstep_spans(sid, "lpa", run, time.monotonic())
                by_step = {m["superstep"]: m["wall_ms"] / 1000.0 for m in run.metrics}
                late = sorted(k for k in by_step if k >= 3)[-3:]
                self.layers.update({
                    "lpa.call_s": self.ops.pass_times["lpa"],
                    "lpa.superstep_s_diverse": med([by_step[k] for k in (1, 2) if k in by_step]),
                    "lpa.superstep_s_concentrated": med([by_step[k] for k in late]),
                })
                self.ops.check(op, lambda: checks.check_equal(run.supersteps, LPA_STEPS, "lpa supersteps")
                               + checks.check_equal(run.metrics[-1]["n_vertices"], ref.n_vertices,
                                                    "lpa n_vertices"))

            op, run, _ = self.ops.run("pagerank_stop", lambda: pagerank(
                edges, store=pr_store, run_id="pr", resume=False, scatter_mode="local",
                max_iter=LOCAL_STOP))
            if run is not None:
                self.ops.steady(run)
                self.ops.check(op, lambda: checks.check_equal(run.supersteps, LOCAL_STOP,
                                                              "stopped supersteps"))
            if self.tracer.enabled:
                with t.span("catalog.resume_read"):
                    t0 = time.monotonic()
                    latest = pr_store.latest("pr")
                    pr_store.manifest("pr", latest)
                    pr_store.metrics_history("pr")
                    self.layers["catalog.resume_read_s"] = time.monotonic() - t0
            op, run, sid = self.ops.run("resume", lambda: pagerank(
                edges, store=pr_store, run_id="pr", resume=True, scatter_mode="local"))
            if run is not None:
                self.ops.steady(run)
                t.superstep_spans(sid, "pagerank", run, time.monotonic())
                self.layers["resume.call_s"] = self.ops.pass_times["resume"]
                self.layers["catalog.resume_recomputed"] = LOCAL_STOP - (run.resumed_from or 0)
                resumed = (run.supersteps, top_ranks(run.state))
                self.ops.check(op, lambda: checks.check_resumed_from(run.resumed_from, LOCAL_STOP)
                               + checks.check_pagerank(run.metrics, run.converged, run.supersteps, ref)
                               + (checks.check_same_run(resumed, full) if full else []))

        # after the set-up repeats a first pass reads like later ones: no warm-up
        e2e = self.timed_passes(one_pass, warm_ups=0)
        note("passes done")
        if self.args.trace:
            self.job_floor()
            self.scaling(edges, pr_store)
            self.triangles(edges, ref, size_key)
        return e2e

    def scaling(self, edges, pr_store) -> None:
        """Fixed-superstep local PageRank with the whole process tree pinned to
        1 core, then to 4: the superstep rate ratio is the scaling efficiency."""
        from tiktok_whisper_spark.graph import pagerank

        me, allowed, eps = os.getpid(), sorted(os.sched_getaffinity(0)), {}
        for n_cpu in (1, min(4, self.cores)):
            procs.pin(me, set(allowed[:n_cpu]))
            try:
                op, run, _ = self.ops.run(f"pinned_{n_cpu}core", lambda: pagerank(
                    edges, store=pr_store, run_id="pr", resume=False, scatter_mode="local",
                    max_iter=PINNED_STEPS, tol=0.0))
            finally:
                procs.pin(me, set(allowed))
            if run is not None:
                walls = steps(run, 2)
                self.layers[f"pagerank.superstep_s_{n_cpu}core"] = med(walls)
                eps[n_cpu] = run.metrics[-1]["edges_processed"] / med(walls)
                self.ops.check(op, lambda: checks.check_equal(run.supersteps, PINNED_STEPS,
                                                              "pinned supersteps"))
        if len(eps) == 2:
            self.layers["pagerank.scaling_efficiency"] = eps[max(eps)] / (max(eps) * eps[1])

    def triangles(self, edges, ref, size_key: str) -> None:
        """``triangle_counts_local`` with its spill in the run's work dir."""
        from tiktok_whisper_spark.graph import triangle_counts_local

        tri_dir = os.path.join(self.work, "tri")
        op, res, _ = self.ops.run("triangles", lambda: triangle_counts_local(
            edges, num_partitions=self.P, work_dir=tri_dir))
        self.layers["triangles.spill_bytes"] = du(tri_dir)
        shutil.rmtree(tri_dir, ignore_errors=True)
        if res is not None:
            self.layers.update({"triangles.call_s": self.ops.pass_times["triangles"],
                                "triangles.count": res.total})
            self.ops.check(op, lambda: checks.check_equal(res.total, ref.n_triangles, "triangles"))
            self.record(op, size_key, {"n_triangles": res.total})

    def generic_csr(self) -> dict[str, float]:
        from tiktok_whisper_spark.graph import pagerank

        session_s = self.start_session()
        note("session ready")
        tpath = self.transcripts(GENERIC_CONVS, GENERIC_TURNS)
        note("inputs ready")
        epath = ""

        def build(i: int) -> dict[str, float]:
            nonlocal epath
            epath = os.path.join(self.work, f"edges-{i}")
            return {"edges.derive_s": self.derive(tpath, False, epath)}

        self.set_up(session_s, build)
        ref = self.reference(epath)
        note("reference computed")
        edges = self.spark.read.parquet(epath)
        self.layers["edges.rows"] = edges.count()
        size_key = f"generic_csr/{GENERIC_CONVS}x{GENERIC_TURNS}"

        def one_pass() -> None:
            t = self.tracer
            csr_store = self.store("csr_store")
            op, run, sid = self.ops.run("pagerank_stop", lambda: pagerank(
                edges, store=csr_store, run_id="csr", resume=False, scatter_mode="csr",
                max_iter=CSR_STOP))
            runner_walls, commits, outside = [], [], 0.0
            if run is not None:
                self.ops.steady(run)
                t.superstep_spans(sid, "runner", run, time.monotonic())
                runner_walls += steps(run, 1)
                commits += [m["commit_ms"] / 1000.0 for m in run.metrics if "commit_ms" in m]
                outside += self.ops.pass_times["pagerank_stop"] - sum(steps(run, 0))
                self.ops.check(op, lambda: checks.check_equal(run.supersteps, CSR_STOP,
                                                              "stopped supersteps"))
            if self.tracer.enabled:
                with t.span("catalog.resume_read"):
                    t0 = time.monotonic()
                    latest = csr_store.latest("csr")
                    csr_store.manifest("csr", latest)
                    csr_store.metrics_history("csr")
                    csr_store.load_state(self.spark, "csr", latest).count()
                    self.layers["catalog.resume_read_s"] = time.monotonic() - t0
            op, run, sid = self.ops.run("resume", lambda: pagerank(
                edges, store=csr_store, run_id="csr", resume=True, scatter_mode="csr"))
            if run is not None:
                self.ops.steady(run)
                t.superstep_spans(sid, "runner", run, time.monotonic())
                runner_walls += steps(run, 1)
                commits += [m["commit_ms"] / 1000.0 for m in run.metrics
                            if "commit_ms" in m and m["superstep"] > (run.resumed_from or 0)]
                outside += self.ops.pass_times["resume"] - sum(steps(run, 0))
                self.layers.update({
                    "resume.call_s": self.ops.pass_times["resume"],
                    "pagerank.call_s": self.ops.pass_times["pagerank_stop"] + self.ops.pass_times["resume"],
                    "pagerank.supersteps": run.supersteps,
                    "catalog.resume_recomputed": CSR_STOP - (run.resumed_from or 0),
                    "catalog.bytes_per_superstep":
                        du(os.path.join(csr_store.root, "csr"), "superstep=") / (run.supersteps + 1),
                })
                top = top_ranks(run.state)
                m = run.metrics[-1]
                self.ops.check(op, lambda: checks.check_resumed_from(run.resumed_from, CSR_STOP)
                               + checks.check_pagerank(run.metrics, run.converged, run.supersteps, ref)
                               + checks.check_top_ranks(top, ref.pagerank_top))
                self.record(op, size_key, {"n_vertices": m["n_vertices"],
                                           "n_edges": m["edges_processed"]})
            self.layers.update({"runner.superstep_s_p50": med(runner_walls),
                                "runner.commit_s_p50": med(commits),
                                "runner.outside_steps_s": outside})

            shutil.rmtree(csr_store.root, ignore_errors=True)

        # the first csr calls of a session load and compile paths the set-up
        # does not touch: the first pass reads twice as slow, the second still
        # a fifth slower than later ones
        e2e = self.timed_passes(one_pass, warm_ups=CSR_WARM_UPS)
        note("passes done")
        if self.args.trace:
            self.job_floor()
            self.salted_cc(edges, ref, size_key)
            self.query_suite()
        return e2e

    def salted_cc(self, edges, ref, size_key: str) -> None:
        """``connected_components`` in its default salted mode, to its fixpoint."""
        from tiktok_whisper_spark.graph import connected_components

        cc_store = self.store("cc_store")
        op, run, sid = self.ops.run("cc", lambda: connected_components(
            edges, store=cc_store, run_id="cc", resume=False, max_iter=200))
        if run is not None:
            self.tracer.superstep_spans(sid, "salted", run, time.monotonic())
            self.layers.update({"cc.call_s": self.ops.pass_times["cc"],
                                "cc.supersteps": run.supersteps,
                                "salted.superstep_s_p50": med(steps(run, 1))})
            n_cc = n_labels(run.state)
            self.ops.check(op, lambda: checks.check_equal(run.converged, True, "cc converged")
                           + checks.check_equal(n_cc, ref.n_components, "cc components"))
            self.record(op, size_key, {"n_components": n_cc})
        shutil.rmtree(cc_store.root, ignore_errors=True)

    def query_suite(self) -> None:
        """The catalog queries: one warm-up pass, one timed pass, DuckDB-checked."""
        import duckdb
        import tables
        import __spark_entry__ as entry

        qdir = os.path.join(self.work, "tables")
        tables.generate(qdir, self.args.seed, QUERY_SF)
        fns, oracle = entry.queries(), entry.oracle_sql()
        for name in BENCH_QUERIES:
            with self.tracer.span("query.warmup", query=name):
                fns[name](self.spark, qdir).count()
        con = duckdb.connect()
        for tbl in tables.TABLES:
            con.execute(f"CREATE VIEW {tbl} AS SELECT * FROM '{qdir}/{tbl}.parquet'")
        for name in BENCH_QUERIES:
            op, out, _ = self.ops.run(f"query.{name}", lambda: (lambda df: (df.columns, df.count()))(
                fns[name](self.spark, qdir)))
            if out is None:
                continue
            self.layers[f"query.{name}_s"] = self.ops.pass_times[f"query.{name}"]
            res = con.execute(oracle[name])
            ref_cols, ref_rows = [c[0] for c in res.description], len(res.fetchall())
            self.ops.check(op, lambda: checks.check_query(name, out[0], out[1], ref_cols, ref_rows))
        self.layers["query.suite_s"] = sum(
            v for k, v in self.layers.items() if k.startswith("query.") and k != "query.suite_s")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--workload", required=True, choices=["iterate_local", "generic_csr"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--cache-dir", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace-out")
    args = ap.parse_args()

    bench = Bench(args)
    try:
        e2e = getattr(bench, args.workload)()
    finally:
        if bench.spark is not None:
            bench.spark.stop()
    result = {
        "attempted": bench.ops.attempted,
        "failed": bench.ops.failed,
        "failures": bench.ops.failures[:50],
        "end_to_end": {"setup_s": bench.setup_s, **e2e},
        "per_layer": bench.layers,
        "counts": bench.counts,
    }
    if args.trace and args.trace_out:
        with open(args.trace_out, "w") as f:
            json.dump(bench.tracer.spans, f)
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
