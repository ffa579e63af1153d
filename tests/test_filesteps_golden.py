"""Golden per-superstep lineage of the local-mode (file-superstep) kernels.

Every committed superstep of local PageRank, PPR, CC and LPA is recorded as
its manifest lineage ``(partition_id, n_rows, checksum)`` plus the
convergence metrics (``changed``/``delta_max``/``active_vertices``) and
compared against ``tests/filesteps_golden.json``. The checksums cover the
full state vector, so any change to the per-partition math, the on-disk
layout or the superstep sequence shows up here.

Every entry is compared at any task-slot count: each partition pre-reduces
its own remote PageRank partials and the owner adds them in ascending
sender order, so no float sum depends on how partitions are packed into
tasks. CC and LPA are exact integer kernels.

Regenerate the fixture (only when a change is meant to alter the results):

    python tests/test_filesteps_golden.py --write
"""

from __future__ import annotations

import json
import os
import sys

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "filesteps_golden.json")
P = 8
_METRIC_KEYS = ("changed", "delta_max", "active_vertices")


def _record(store, run_id: str, run) -> list[dict]:
    steps = []
    for k in range(run.supersteps + 1):
        man = store.manifest(run_id, k)
        entry = {
            "lineage": [
                [r["partition_id"], r["n_rows"], r["checksum"]]
                for r in sorted(man["lineage"], key=lambda r: r["partition_id"])
            ]
        }
        for key in _METRIC_KEYS:
            if key in man["metrics"]:
                entry[key] = man["metrics"][key]
        steps.append(entry)
    return steps


def compute(spark, root: str) -> dict:
    from tiktok_whisper_spark import datagen
    from tiktok_whisper_spark.graph import connected_components, label_propagation, pagerank
    from tiktok_whisper_spark.operators.edges import turn_adjacency_edges, turn_tool_edges
    from tiktok_whisper_spark.sources.catalog import CheckpointStore

    old_p = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(P))
    try:
        t = datagen.transcripts(spark, n_convs=60, seed=7)
        e = (
            turn_adjacency_edges(t, include_home=True)
            .unionByName(turn_tool_edges(t, include_home=True))
            .localCheckpoint()
        )
        seeds = sorted(r["dst"] for r in e.select("dst").distinct().collect())[:3]
        calls = {
            "pagerank": lambda s: pagerank(e, scatter_mode="local", store=s, run_id="g",
                                           resume=False),
            "ppr": lambda s: pagerank(e, scatter_mode="local", store=s, run_id="g",
                                      resume=False, teleport_seeds=seeds),
            "cc": lambda s: connected_components(e, scatter_mode="local", store=s,
                                                 run_id="g", resume=False, max_iter=200),
            "lpa": lambda s: label_propagation(e, scatter_mode="local", store=s, run_id="g",
                                               resume=False, max_iter=6),
        }
        runs = {}
        for name, call in calls.items():
            store = CheckpointStore(os.path.join(root, name))
            run = call(store)
            runs[name] = {"converged": run.converged, "supersteps": _record(store, "g", run)}
        return {"P": P, "seeds": seeds, "runs": runs}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_p)


def test_filesteps_golden_lineage(spark, tmp_path):
    with open(FIXTURE) as f:
        want = json.load(f)
    got = compute(spark, str(tmp_path))
    assert got["P"] == want["P"]
    assert got["seeds"] == want["seeds"]
    assert got["runs"].keys() == want["runs"].keys()
    for name, run in want["runs"].items():
        assert got["runs"][name] == run, f"{name}: per-superstep lineage diverged"


if __name__ == "__main__":
    if sys.argv[1:] != ["--write"]:
        sys.exit("usage: python tests/test_filesteps_golden.py --write")
    import tempfile

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from tiktok_whisper_spark.session import get_spark

    session = get_spark(
        app_name="twspark-golden",
        master=os.environ.get("SPARK_GRAFT_TEST_MASTER", "local[4]"),
        shuffle_partitions=P,
        driver_memory="8g",
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    try:
        with tempfile.TemporaryDirectory(prefix="twspark_golden_") as root:
            out = compute(session, root)
    finally:
        session.stop()
    with open(FIXTURE, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"wrote {FIXTURE}")
