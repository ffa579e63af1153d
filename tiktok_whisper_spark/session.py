"""SparkSession builder for the engine.

Centralizes the configuration every job in this repo relies on:

* Arrow on (all our Python data crossings are Arrow-batched pandas UDFs);
* AQE on (runtime re-planning, skew-join mitigation as a backstop to our
  explicit salting);
* ``spark.sql.shuffle.partitions`` sized to the actual parallelism level —
  the 200 default is wrong both for local[32] and for a 1000-executor
  cluster (there it should be ~2-3x total cores, set at submit time);
* session timezone pinned to UTC so DuckDB oracle comparisons are stable.

On a real cluster this module is shipped via ``spark-submit --py-files`` and
the master/memory settings come from the submit command; everything here is
written so that only ``master`` changes between local tests and a
1000-executor deployment.
"""

from __future__ import annotations

import os
import re
import tempfile
import zipfile

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark", "ship_package", "build_pkg_zip", "local_slots"]


def local_slots(master: str, star: int) -> int | None:
    """Task slots of a ``local[N]``, ``local[N,F]``, ``local[*]`` or
    ``local[*,F]`` master (``F`` is the task-failure retry count); ``star``
    stands in for ``*``. ``None`` for any other master."""
    m = re.fullmatch(r"local\[(\d+|\*)(?:,\d+)?\]", master.strip())
    if m is None:
        return None
    return star if m.group(1) == "*" else int(m.group(1))


def build_pkg_zip(zpath: str) -> str:
    """Write this package as a ``--py-files``-ready zip at ``zpath``.

    The same artifact serves both deployment surfaces: ``spark-submit
    --py-files twspark.zip job.py`` on a cluster (exercised end-to-end by
    ``tests/test_spark_submit.py``) and the runtime ``sc.addPyFile`` below.
    Deterministic content (sorted .py files only), atomic publish.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    tmp = zpath + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for root, _dirs, files in os.walk(pkg_dir):
            _dirs.sort()  # os.walk dir order is fs-dependent; sort for a deterministic zip
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(root, f)
                    rel = os.path.join(
                        "tiktok_whisper_spark", os.path.relpath(full, pkg_dir)
                    )
                    z.write(full, rel)
    os.replace(tmp, zpath)
    return zpath


def ship_package(spark: SparkSession) -> None:
    """Ship this package to Python workers via ``addPyFile`` (idempotent).

    A driver process launched from outside the repo (the grading harness, or
    ``spark-submit`` from any cwd) can import us via ``sys.path``, but Python
    *workers* deserializing a ``mapInPandas`` closure cannot — they inherit
    the JVM's env, frozen at session start. ``sc.addPyFile`` is the runtime
    equivalent of ``spark-submit --py-files twspark.zip`` and fixes both
    local and cluster mode.
    """
    sc = spark.sparkContext
    if getattr(sc, "_twspark_shipped", False):
        return
    if not os.path.isdir(os.path.dirname(os.path.abspath(__file__))):
        # imported from a zip: the package already reached the workers via
        # spark-submit --py-files; nothing on the local fs to re-ship
        sc._twspark_shipped = True
        return
    zpath = os.path.join(
        tempfile.gettempdir(), f"tiktok_whisper_spark_pkg_{os.getpid()}.zip"
    )
    if not os.path.exists(zpath):
        build_pkg_zip(zpath)
    sc.addPyFile(zpath)
    sc._twspark_shipped = True


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "tiktok-whisper-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession configured for this engine.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` in the sandbox; on a
    cluster, pass ``None`` and let spark-submit own it.
    """
    cores = _default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    if shuffle_partitions is None:
        # local[N] → N threads; one shuffle partition per core keeps every
        # task busy without tiny-partition overhead at test scale. On a real
        # cluster this is overridden to ~2-3x total executor cores.
        slots = local_slots(master, cores)
        shuffle_partitions = 2 * cores if slots is None else slots

    # Iterative jobs allocate heavily and churn cached state; G1 with a
    # bounded pause target avoids multi-second stop-the-world stalls that
    # otherwise show up as superstep-time spikes. -Xms=-Xmx + AlwaysPreTouch
    # faults the whole heap in at startup (excluded from steady-state
    # timings) instead of paying kernel page-zeroing per superstep — profiled
    # 50-96% sys-CPU phases on this box came from fresh-page faults as the
    # heap grew and G1 uncommitted/recommitted regions.
    mem = driver_memory or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    gc_opts = f"-Xms{mem} -XX:+AlwaysPreTouch -XX:+UseG1GC -XX:MaxGCPauseMillis=200"
    # Python workers churn large NumPy buffers every superstep; glibc serves
    # >128 KiB allocations via mmap and returns them on free, so each
    # superstep re-faults (kernel-zeroes) gigabytes across workers. Raising
    # the mmap threshold keeps those buffers on the reused brk heap.
    os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", "268435456")
    os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "268435456")
    # Shuffle/spill directory: prefer tmpfs when present — the sandbox's
    # virtio disk serializes concurrent writers badly (32-thread parquet
    # writes measured 10x slower than tmpfs). On a real cluster this is
    # spark.local.dir on NVMe, set by the deployment.
    local_dir = None
    if os.path.isdir("/dev/shm"):
        local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR", "/dev/shm/spark-local")
        os.makedirs(local_dir, exist_ok=True)

    # Python ≤3.11 workers re-parse every zip on sys.path on EVERY task
    # (unconditional zipimporter.invalidate_caches, fixed upstream in 3.12)
    # — ~125 ms/task measured here, the dominant per-job fixed cost. The
    # pyspark_tw_worker shim (repo root) backports the 3.12 mtime guard;
    # local masters inherit the driver env, so prepending PYTHONPATH is
    # enough for the daemon to import it. Cluster wiring: see the shim's
    # docstring. TWSPARK_WORKER_PATCH=0 disables.
    worker_module_conf: dict[str, str] = {}
    if (
        master.startswith("local")
        and os.environ.get("TWSPARK_WORKER_PATCH", "1") != "0"
    ):
        shim_dir = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        if os.path.exists(os.path.join(shim_dir, "pyspark_tw_worker.py")):
            pp = os.environ.get("PYTHONPATH", "")
            if shim_dir not in pp.split(os.pathsep):
                os.environ["PYTHONPATH"] = (
                    f"{shim_dir}{os.pathsep}{pp}" if pp else shim_dir
                )
            worker_module_conf["spark.python.worker.module"] = "pyspark_tw_worker"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size bounds pandas-UDF memory per batch; 64k rows is a
        # good balance between per-batch overhead and executor memory.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", mem)
        .config("spark.driver.extraJavaOptions", gc_opts)
        # Parquet writes: stable output, no _SUCCESS noise in checkpoints.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in worker_module_conf.items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Workers must be able to import this package regardless of the driver's
    # cwd/sys.path (grading harness, bench subprocesses, spark-submit).
    ship_package(spark)
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
