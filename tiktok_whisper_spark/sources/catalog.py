"""Checkpointed table catalog — the engine's `_runs` / `_checkpoints` / `_metrics`.

The north rule requires per-superstep checkpoints of rank/component/label
vectors **plus per-partition lineage and iteration metrics**, resumable
mid-algorithm. The reference's analog is its checkpointed batch migration
(``internal/app/repository/migrate/migrate.go:16-32`` persists the last
committed id; ``:34-85`` resumes with ``WHERE id > ? ORDER BY id LIMIT
1000``) and its Redis job state machine
(``internal/api/v1/services/redis_job_service.go:144-163``).

Backend seam
------------
``backend="parquet"`` (default, always available): each superstep commits

* ``<root>/<run_id>/superstep=NNNNNN/state/`` — the vertex-state DataFrame
  as Parquet (``graph.runner`` kernels), or raw per-partition segments
  (file-superstep runs: PageRank local/csr, CC/LPA local);
* ``<root>/<run_id>/superstep=NNNNNN/manifest.json`` — written atomically
  (tmp file + ``os.replace``) AFTER the state write succeeds; a superstep
  exists iff its manifest exists, which makes commits all-or-nothing even if
  the job is killed mid-write. The manifest carries iteration metrics,
  carried scalars (e.g. PageRank dangling mass), and per-partition lineage
  rows ``(partition_id, n_rows, checksum)``.

``IcebergCheckpointStore``: the same two-phase protocol on Iceberg tables —
state snapshots partitioned by superstep, the ``checkpoints`` row (Iceberg's
atomic snapshot commit) as the commit point. The runtime jar is not present
in this sandbox (no network), so it raises with the exact cluster config
when the catalog class is missing; the protocol itself is identical and the
runner is duck-typed over either store.
"""

from __future__ import annotations

import json
import os
import re
import time
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import fsio

__all__ = ["CheckpointStore", "IcebergCheckpointStore"]

_MANIFEST = "manifest.json"


def _superstep_dir(root: str, run_id: str, superstep: int) -> str:
    return os.path.join(root, run_id, f"superstep={superstep:06d}")


class CheckpointStore:
    """Per-superstep atomic state + metrics + lineage commits.

    ``root`` may be a local/shared path OR any pyarrow FileSystem URI
    (``file://``, ``s3://``, ``gs://``, ``hdfs://``) — manifests and
    listings go through :mod:`fsio`, state parquet through Spark, so the
    durable protocol works against an object store on a real cluster.
    """

    def __init__(self, root: str, backend: str = "parquet", codec: str | None = None) -> None:
        if backend == "iceberg":
            raise NotImplementedError(
                "Use IcebergCheckpointStore(spark, catalog=...) for the Iceberg "
                "backend (needs iceberg-spark-runtime on the classpath plus a "
                "spark.sql.catalog.* entry — see its docstring for the exact "
                "spark-submit flags). The parquet backend implements the "
                "identical commit protocol."
            )
        if backend != "parquet":
            raise ValueError(f"unknown backend {backend!r}")
        self.root = root
        self.backend = backend
        # Checkpoint codec: 'none' on tmpfs/NVMe-local stores (CPU-bound
        # compression costs more than the bytes), snappy/zstd on object
        # stores where the bytes dominate. Env override for benches.
        self.codec = codec or os.environ.get("SPARK_GRAFT_CKPT_CODEC", "snappy")
        fsio.makedirs(root)

    # -- write path ---------------------------------------------------------
    #
    # Two-phase commit per superstep:
    #   store.write_state(run_id, k, state)            # data files (from cache)
    #   store.finalize(run_id, k, lineage, metrics, carry)  # manifest = commit point
    # A superstep exists iff its manifest exists; a kill between the two
    # phases leaves a torn directory that write_state clears on retry.

    def clear_run(self, run_id: str) -> None:
        """Drop every committed/torn superstep of ``run_id`` (fresh-run reset).

        A fresh run (``resume=False``) under a reused run_id must not leave
        committed supersteps from an earlier, longer run above the new run's
        last superstep — a later ``resume=True`` would silently resume from
        the stale ``latest()``. Non-superstep artifacts (e.g. edge shards,
        which are deterministic re-derivations) are preserved.
        """
        run_dir = os.path.join(self.root, run_id)
        for name in fsio.listdir(run_dir):
            if name.startswith("superstep="):
                fsio.rmtree(os.path.join(run_dir, name))

    def write_state(self, run_id: str, superstep: int, state: DataFrame) -> str:
        """Write the superstep's state Parquet; returns the state dir path.

        The caller keeps iterating on its in-memory (localCheckpoint-ed)
        state; these files exist for durability/resume only.
        """
        step_dir = _superstep_dir(self.root, run_id, superstep)
        state_dir = os.path.join(step_dir, "state")
        if fsio.exists(step_dir) and not fsio.exists(os.path.join(step_dir, _MANIFEST)):
            fsio.rmtree(step_dir)  # torn write from a killed run — redo
        state.write.mode("overwrite").option("compression", self.codec).parquet(state_dir)
        return state_dir

    def finalize(
        self,
        run_id: str,
        superstep: int,
        lineage: list[dict[str, Any]],
        metrics: dict[str, Any],
        carry: dict[str, Any] | None = None,
    ) -> None:
        """Write the manifest (the atomic commit point).

        ``lineage`` rows are ``(partition_id, n_rows, checksum)`` computed by
        the runner in the same aggregation as the convergence metrics —
        mirroring how an Iceberg commit records per-file stats.
        """
        step_dir = _superstep_dir(self.root, run_id, superstep)
        manifest = {
            "run_id": run_id,
            "superstep": superstep,
            "complete": True,
            "committed_at": time.time(),
            "metrics": metrics,
            "carry": carry or {},
            "lineage": lineage,
        }
        # atomic: tmp+rename locally, single-object PUT on stores
        fsio.write_json_atomic(os.path.join(step_dir, _MANIFEST), manifest)

    # -- read path ----------------------------------------------------------

    def completed_supersteps(self, run_id: str) -> list[int]:
        run_dir = os.path.join(self.root, run_id)
        out = []
        for name in sorted(fsio.listdir(run_dir)):
            if name.startswith("superstep=") and fsio.exists(
                os.path.join(run_dir, name, _MANIFEST)
            ):
                out.append(int(name.split("=")[1]))
        return out

    def latest(self, run_id: str) -> int | None:
        steps = self.completed_supersteps(run_id)
        return steps[-1] if steps else None

    def manifest(self, run_id: str, superstep: int) -> dict[str, Any]:
        man = fsio.read_json(
            os.path.join(_superstep_dir(self.root, run_id, superstep), _MANIFEST)
        )
        if man is None:
            raise FileNotFoundError(f"no manifest for {run_id} superstep {superstep}")
        return man

    def load_state(self, spark: SparkSession, run_id: str, superstep: int) -> DataFrame:
        """The committed state of ``superstep``. File-superstep runs (their
        manifest carries the partition count ``P``) keep raw per-partition
        segments, not Parquet; they are read back with the columns of the
        run's ``GraphRun.state``."""
        man = self.manifest(run_id, superstep)
        if "P" in man["carry"]:
            from ..graph.filesteps import committed_state

            return committed_state(spark, os.path.join(self.root, run_id), superstep, man)
        return spark.read.parquet(
            os.path.join(_superstep_dir(self.root, run_id, superstep), "state")
        )

    def metrics_history(self, run_id: str) -> list[dict[str, Any]]:
        return [self.manifest(run_id, s)["metrics"] for s in self.completed_supersteps(run_id)]


class IcebergCheckpointStore:
    """Per-superstep checkpoint protocol on Iceberg tables (cluster backend).

    Table layout under ``<catalog>.<namespace>``:

    * ``<run_id>_state`` — vertex state, partitioned by ``superstep``;
      superstep k's data lands via ``overwrite(superstep == k)`` (idempotent
      redo of torn writes);
    * ``checkpoints`` — one manifest row per committed superstep
      ``(run_id, superstep, committed_at, metrics, carry, lineage)``; the
      Iceberg snapshot commit of this append IS the atomic commit point, so
      a superstep exists iff its row exists — same all-or-nothing semantics
      as the parquet backend's manifest.json.

    Cluster prerequisites (submit-time config; jar absent in this sandbox):

    .. code-block:: bash

        spark-submit --py-files twspark.zip \\
          --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0 \\
          --conf spark.sql.catalog.lake=org.apache.iceberg.spark.SparkCatalog \\
          --conf spark.sql.catalog.lake.type=hadoop \\
          --conf spark.sql.catalog.lake.warehouse=s3://bucket/warehouse ...
    """

    def __init__(self, spark: SparkSession, catalog: str, namespace: str = "twspark") -> None:
        impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
        if not impl:
            raise NotImplementedError(
                f"No Iceberg catalog named {catalog!r} is configured. Set "
                f"spark.sql.catalog.{catalog}=org.apache.iceberg.spark.SparkCatalog "
                "(plus .type/.warehouse) and put iceberg-spark-runtime on the "
                "classpath — see IcebergCheckpointStore docstring for the exact "
                "spark-submit flags."
            )
        self.spark = spark
        self.catalog = catalog
        self.namespace = namespace
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.{namespace}")
        self._ckpt = f"{catalog}.{namespace}.checkpoints"
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self._ckpt} ("
            "run_id STRING, superstep INT, committed_at DOUBLE, "
            "metrics STRING, carry STRING, lineage STRING) USING iceberg"
        )

    # -- helpers -------------------------------------------------------------

    def _state_table(self, run_id: str) -> str:
        safe = re.sub(r"[^A-Za-z0-9_]", "_", run_id)
        return f"{self.catalog}.{self.namespace}.{safe}_state"

    # -- write path (same two-phase contract as CheckpointStore) -------------

    def write_state(self, run_id: str, superstep: int, state: DataFrame) -> str:
        table = self._state_table(run_id)
        df = state.withColumn("superstep", F.lit(superstep).cast("int"))
        if not self.spark.catalog.tableExists(table):
            df.writeTo(table).partitionedBy("superstep").using("iceberg").create()
        else:
            # idempotent redo: replaces any torn data for this superstep
            df.writeTo(table).overwrite(F.col("superstep") == superstep)
        return table

    def finalize(
        self,
        run_id: str,
        superstep: int,
        lineage: list[dict[str, Any]],
        metrics: dict[str, Any],
        carry: dict[str, Any] | None = None,
    ) -> None:
        row = [(run_id, superstep, time.time(), json.dumps(metrics),
                json.dumps(carry or {}), json.dumps(lineage))]
        self.spark.createDataFrame(
            row, "run_id string, superstep int, committed_at double, "
            "metrics string, carry string, lineage string"
        ).writeTo(self._ckpt).append()  # Iceberg snapshot commit = commit point

    def clear_run(self, run_id: str) -> None:
        self.spark.sql(f"DELETE FROM {self._ckpt} WHERE run_id = '{run_id}'")
        table = self._state_table(run_id)
        if self.spark.catalog.tableExists(table):
            self.spark.sql(f"DROP TABLE {table}")

    # -- read path -------------------------------------------------------------

    def completed_supersteps(self, run_id: str) -> list[int]:
        rows = (
            self.spark.table(self._ckpt)
            .where(F.col("run_id") == run_id)
            .select("superstep")
            .distinct()
            .collect()
        )
        return sorted(r["superstep"] for r in rows)

    def latest(self, run_id: str) -> int | None:
        steps = self.completed_supersteps(run_id)
        return steps[-1] if steps else None

    def manifest(self, run_id: str, superstep: int) -> dict[str, Any]:
        r = (
            self.spark.table(self._ckpt)
            .where((F.col("run_id") == run_id) & (F.col("superstep") == superstep))
            .orderBy(F.col("committed_at").desc())
            .first()
        )
        return {
            "run_id": run_id,
            "superstep": superstep,
            "complete": True,
            "committed_at": r["committed_at"],
            "metrics": json.loads(r["metrics"]),
            "carry": json.loads(r["carry"]),
            "lineage": json.loads(r["lineage"]),
        }

    def load_state(self, spark: SparkSession, run_id: str, superstep: int) -> DataFrame:
        return (
            spark.table(self._state_table(run_id))
            .where(F.col("superstep") == superstep)
            .drop("superstep")
        )

    def metrics_history(self, run_id: str) -> list[dict[str, Any]]:
        return [self.manifest(run_id, s)["metrics"] for s in self.completed_supersteps(run_id)]
