"""Shared superstep loop: checkpoint, resume, metrics, lineage.

Catalyst has no fixpoint operator, so iterative graph jobs are a driver
``while`` loop over DataFrame transformations — the same shape as the
reference's resumable batch loops (``internal/app/repository/migrate/
migrate.go:34-85`` and ``internal/app/embedding/orchestrator/
batch_processor.go:96-170``), with the checkpoint protocol of
:class:`~tiktok_whisper_spark.sources.catalog.CheckpointStore` replacing
``last_id.txt``.

Execution design (what makes a superstep cheap at scale):

* **State stays in memory, hash-partitioned by ``vid``.** Each superstep's
  output is ``localCheckpoint(eager=True)``-ed: the logical plan is
  truncated (no unbounded growth across iterations) and the partitioning is
  preserved, so the next superstep's ``edges ⋈ state`` (edges persisted
  partitioned by ``src``) and the state-update join (``vid == dst`` against
  the gather output) both run **exchange-free** — the only per-superstep
  shuffle of note is the gather ``groupBy(dst)``, combined map-side by
  Catalyst's partial aggregate.
* **Zero extra measurement jobs.** The kernel's convergence aggregates ride
  the materialization job itself via ``DataFrame.observe`` (Spark evaluates
  the ``CollectMetrics`` node while localCheckpoint materializes the state),
  so the critical path per superstep is exactly ONE job.
* **Durable commits run off the critical path.** A committer thread computes
  the per-partition lineage (row count + content checksum), streams the
  Parquet state write from cache, and lands the manifest (the atomic commit
  point) — all overlapping the NEXT superstep's compute, the same way
  async checkpointing overlaps the barrier in Flink/Chandy-Lamport designs.
  Ordering is preserved (one commit in flight; commit k completes before
  commit k+1 starts), so resume always sees a prefix of committed
  supersteps. The split is measured: ``wall_ms`` is the compute critical
  path, ``commit_ms`` the overlapped durable write.

Kernel contract:

* ``init_fn() -> (state_df, carry)`` — superstep-0 state; must expose the
  partition key column (default ``vid``) and whatever the partials need
  (kernels keep new + previous values per vertex, e.g. ``rank`` +
  ``prev_rank``).
* ``step_fn(state_df, carry, k) -> state_df`` — one superstep as a lazy
  DataFrame transformation.
* ``partition_aggs: list[Column]`` — aliased aggregate columns (must be
  distributive: sum/count/min/max). Evaluated as a single global
  ``observe`` row per superstep.
* ``combine_fn(partials: list[dict], carry, k) -> (metrics, carry,
  converged)`` — folds the aggregate row(s) into iteration metrics.
"""

from __future__ import annotations

import threading
import time
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import CheckpointStore

__all__ = ["GraphRun", "run_supersteps"]


@dataclass
class GraphRun:
    """Result of an iterative graph job."""

    state: DataFrame
    run_id: str
    supersteps: int  # number of the last committed superstep
    converged: bool
    metrics: list[dict[str, Any]] = field(default_factory=list)
    resumed_from: int | None = None


def _lineage(state: DataFrame) -> list[dict[str, Any]]:
    """Per-partition lineage rows (partition_id, n_rows, checksum).

    Reads the already-cached state blocks; runs inside the committer thread,
    concurrent with the next superstep's compute.
    """
    rows = (
        state.groupBy(F.spark_partition_id().alias("partition_id"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.bit_xor(F.xxhash64(*state.columns)).alias("checksum"),
        )
        .collect()
    )
    return [r.asDict() for r in rows]


class _Committer:
    """Single-in-flight background durable-commit worker.

    ``submit`` first waits for the previous commit (ordering + at most one
    concurrent write job), then launches lineage + state write + manifest in
    a daemon thread. Exceptions propagate on the next ``wait``/``submit``.
    """

    def __init__(self, store: CheckpointStore, run_id: str) -> None:
        self._store = store
        self._run_id = run_id
        self._thread: threading.Thread | None = None
        self._error: BaseException | None = None

    def wait(self) -> None:
        if self._thread is not None:
            self._thread.join()
            self._thread = None
        if self._error is not None:
            err, self._error = self._error, None
            raise err

    def submit(
        self,
        superstep: int,
        state: DataFrame,
        metrics: dict[str, Any],
        carry: dict[str, Any],
        checkpoint_cols: list[str] | None = None,
    ) -> None:
        self.wait()
        if checkpoint_cols:
            state = state.select(*checkpoint_cols)

        def work() -> None:
            try:
                t0 = time.monotonic()
                lineage = _lineage(state)
                self._store.write_state(self._run_id, superstep, state)
                metrics["commit_ms"] = round(1000 * (time.monotonic() - t0), 1)
                self._store.finalize(self._run_id, superstep, lineage, metrics, carry)
            except BaseException as exc:  # surfaced on next wait()
                self._error = exc

        self._thread = threading.Thread(
            target=work, name=f"commit-{self._run_id}-{superstep}", daemon=True
        )
        self._thread.start()


def _materialize(
    state: DataFrame, partition_aggs: list[F.Column], name: str, max_attempts: int = 2
) -> tuple[DataFrame, dict[str, Any]]:
    """localCheckpoint the state; kernel aggregates ride the same job via observe.

    Superstep-level retry mirrors the reference's batch retry policy (≤2
    attempts, exponential backoff — ``internal/app/temporal/workflows/
    batch.go:130-135``): Spark already retries *tasks*; this catches
    job-level transients (executor loss mid-localCheckpoint) without
    abandoning an otherwise-resumable run.
    """
    last: BaseException | None = None
    for attempt in range(max_attempts):
        try:
            obs = Observation(f"{name}-a{attempt}")
            cached = state.observe(obs, *partition_aggs).localCheckpoint(eager=True)
            return cached, dict(obs.get)
        except Exception as exc:  # noqa: BLE001 — deliberate job-level retry
            last = exc
            if attempt + 1 < max_attempts:
                time.sleep(2.0 * (2**attempt))
    raise last  # type: ignore[misc]


def run_supersteps(
    spark: SparkSession,
    *,
    store: CheckpointStore,
    run_id: str,
    init_fn: Callable[[], tuple[DataFrame, dict[str, Any]]],
    step_fn: Callable[[DataFrame, dict[str, Any], int], DataFrame],
    partition_aggs: list[F.Column],
    combine_fn: Callable[[list[dict[str, Any]], dict[str, Any], int], tuple[dict[str, Any], dict[str, Any], bool]],
    max_iter: int,
    resume: bool = True,
    checkpoint_every: int = 1,
    partition_key: str = "vid",
    checkpoint_cols: list[str] | None = None,
    restore_fn: Callable[[DataFrame], DataFrame] | None = None,
    resume_check_fn: Callable[[dict[str, Any]], None] | None = None,
) -> GraphRun:
    """Drive ``step_fn`` to convergence with per-superstep atomic commits.

    ``checkpoint_every`` sets the durable-commit cadence: 1 (default)
    commits every superstep per the engine contract; k>1 commits every k-th
    superstep plus the final/converged one — resume then recomputes at most
    k-1 supersteps.

    ``checkpoint_cols`` restricts the durable state to the columns resume
    actually needs (e.g. PageRank regenerates ``prev_rank`` every superstep
    — persisting it would double the write for nothing). ``restore_fn``
    rebuilds the full state schema from a loaded checkpoint on resume.
    """
    num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # The iterative loop depends on a FIXED hash partitioning (state by vid
    # aligned with the persisted edges). AQE must be OFF inside the
    # loop — not just partition coalescing: under AQE, Dataset.localCheckpoint
    # snapshots the AdaptiveSparkPlan's outputPartitioning as Unknown, so the
    # NEXT superstep's update join re-shuffles the ENTIRE vertex state every
    # iteration (measured: 2 exchanges/superstep instead of 1, the state
    # exchange being vertex-sized). With AQE off, the checkpointed state
    # keeps hashpartitioning(vid, P) and the join is exchange-free. AQE stays
    # on for everything outside the loop (right for one-shot relational
    # plans; wrong for a fixed-partitioning fixpoint loop).
    _aqe_key = "spark.sql.adaptive.enabled"
    _old_aqe = spark.conf.get(_aqe_key, "true")
    spark.conf.set(_aqe_key, "false")
    committer = _Committer(store, run_id)
    try:
        history: list[dict[str, Any]] = []
        carry: dict[str, Any] = {}
        state: DataFrame | None = None
        resumed_from: int | None = None
        start = 0

        if resume:
            latest = store.latest(run_id)
            if latest is not None:
                man = store.manifest(run_id, latest)
                carry = man["carry"]
                if resume_check_fn is not None:
                    # kernel-level compatibility guard (e.g. PPR teleport-seed
                    # fingerprint) — must run BEFORE the converged short-circuit
                    # below, or a mismatched config silently returns stale ranks
                    resume_check_fn(carry)
                history = store.metrics_history(run_id)
                loaded = store.load_state(spark, run_id, latest)
                if restore_fn is not None:
                    loaded = restore_fn(loaded)
                state = (
                    loaded
                    .repartition(num_partitions, partition_key)
                    .localCheckpoint(eager=True)
                )
                resumed_from = latest
                if carry.get("_converged"):
                    return GraphRun(state, run_id, latest, True, history, resumed_from)
                start = latest + 1
        else:
            # A fresh run must not inherit committed supersteps from an
            # earlier run under the same run_id: a later resume would pick
            # the STALE latest() above the new run's last superstep.
            store.clear_run(run_id)

        if state is None:
            t0 = time.monotonic()
            init_state, _init_carry = init_fn()
            carry = _init_carry
            state, partial = _materialize(
                init_state.repartition(num_partitions, partition_key),
                partition_aggs,
                f"{run_id}-s0",
            )
            metrics, carry, _ = combine_fn([partial], carry, 0)
            metrics.update(superstep=0, wall_ms=round(1000 * (time.monotonic() - t0), 1))
            committer.submit(0, state, metrics, carry, checkpoint_cols)
            history.append(metrics)
            start = 1

        converged = bool(carry.get("_converged"))
        last = start - 1
        prev_cached: DataFrame | None = state
        for k in range(start, max_iter + 1):
            t0 = time.monotonic()
            # the join in step_fn preserves the state side's hash partitioning,
            # localCheckpoint carries it into the next iteration, and the
            # kernel's convergence aggregates ride the same materialization job.
            new_state, partial = _materialize(
                step_fn(state, carry, k), partition_aggs, f"{run_id}-s{k}"
            )
            metrics, carry, converged = combine_fn([partial], carry, k)
            carry["_converged"] = converged
            # wall_ms is the compute critical path; the durable write runs
            # concurrently with the next superstep and reports commit_ms.
            metrics.update(superstep=k, wall_ms=round(1000 * (time.monotonic() - t0), 1))
            commit = (
                checkpoint_every <= 1 or k % checkpoint_every == 0 or k == max_iter or converged
            )
            if commit:
                # waits for commit k-1 (ordering), then overlaps superstep k+1
                committer.submit(k, new_state, metrics, carry, checkpoint_cols)
            else:
                committer.wait()  # commit k-1 must finish before state k-1 is dropped
            history.append(metrics)
            if prev_cached is not None:
                # blocking, and synchronously: async unpersist + py4j-held
                # RDD refs let localCheckpoint blocks accumulate across
                # supersteps (measured: superstep walls growing 36→92s)
                prev_cached.unpersist(blocking=True)
            prev_cached = new_state
            state = new_state
            last = k
            if converged:
                break

        committer.wait()
        return GraphRun(state, run_id, last, converged, history, resumed_from)

    finally:
        try:
            committer.wait()
        finally:
            spark.conf.set(_aqe_key, _old_aqe)
