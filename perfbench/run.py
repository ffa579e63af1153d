"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload iterate_local --seed 1 --seconds 5 --trace 0

Starts ``worker.py`` in its own process group with every Spark, temp and
cache directory inside the checkout, samples the resident memory of its
process tree (driver, JVM, Python workers) from ``/proc`` until it exits,
stops whatever it left running, deletes the run's stores and work files, and
prints one JSON line last: ``correct``, ``attempted``, ``failed`` and the
end-to-end metrics (``--trace 0``) or the per-layer metrics (``--trace 1``)
named in ``BENCHMARK.json``. Progress and Spark logs go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procs  # noqa: E402

WORKLOADS = ("iterate_local", "generic_csr")
TIMEOUT_S = 150  # worker limit; stopping it takes up to 20 s more, within 180 s
SAMPLE_S = 0.25
MIB = 1 << 20


def heap_size() -> str:
    """Driver heap from MemTotal: a sixth of RAM, 1-4 GiB (2g on 15 GiB)."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{max(1, min(4, kib // (6 << 20)))}g"


def stop_group(pgid: int) -> None:
    """Terminate every process of group ``pgid`` and wait until none is left."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        end = time.monotonic() + grace
        while procs.group_alive(pgid) and time.monotonic() < end:
            time.sleep(0.1)
        if not procs.group_alive(pgid):
            return


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "tiktok_whisper_spark", "__init__.py")):
        print(f"perfbench: no tiktok_whisper_spark package in {ROOT}; "
              "run from a checkout of the repository", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(ROOT, ".perfbench_work", f"run-{os.getpid()}")
    cache = os.path.join(ROOT, ".perfbench_cache")
    traces = os.path.join(ROOT, ".perfbench_traces")
    for d in (work, cache, traces):
        os.makedirs(d, exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    env = dict(
        os.environ,
        TMPDIR=work,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"),
        TWSPARK_SHARD_CACHE=os.path.join(work, "shard-cache"),
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_MASTER=f"local[{cores}]",
        SPARK_GRAFT_DRIVER_MEM=heap_size(),
        # the short-lived JVM that spark-submit runs to build the driver's command
        SPARK_LAUNCHER_OPTS=f"-XX:-UsePerfData -Djava.io.tmpdir={work}",
        OMP_NUM_THREADS="1",
        OPENBLAS_NUM_THREADS="1",
        MKL_NUM_THREADS="1",
        PYTHONDONTWRITEBYTECODE="1",
    )
    out_path = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work-dir", work, "--cache-dir", cache, "--out", out_path,
        "--trace-out", os.path.join(traces, f"{args.workload}.json"),
    ]
    peak = {"total": 0, "jvm": 0, "workers": 0}
    result = None
    child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=sys.stderr,
                             start_new_session=True)
    try:
        deadline = time.monotonic() + TIMEOUT_S
        while child.poll() is None and time.monotonic() < deadline:
            for key, val in zip(peak, procs.rss_by_role(child.pid)):
                peak[key] = max(peak[key], val)
            time.sleep(SAMPLE_S)
        if child.poll() is None:
            print(f"perfbench: worker exceeded {TIMEOUT_S}s, stopping it", file=sys.stderr)
        elif child.returncode == 0 and os.path.exists(out_path):
            with open(out_path) as f:
                result = json.load(f)
    finally:
        stop_group(child.pid)
        child.wait()
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        print(f"perfbench: worker failed (exit {child.returncode})", file=sys.stderr)
        return 1

    for problem in result["failures"]:
        print(f"perfbench: FAILED {problem}", file=sys.stderr)
    # the observed counts, in the layout of expected.json
    print("perfbench: counts " + json.dumps(
        {key: {str(args.seed): c} for key, c in result["counts"].items()}), file=sys.stderr)
    if args.trace:
        values = dict(result["per_layer"])
        values["rss.jvm_peak_mb"] = peak["jvm"] / MIB
        values["rss.workers_peak_mb"] = peak["workers"] / MIB
        declared = spec["per_layer"]
    else:
        values = dict(result["end_to_end"], peak_rss_mb=peak["total"] / MIB)
        declared = spec["end_to_end"]
    # a per-layer metric of a layer this workload does not exercise reads 0
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in declared}
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
