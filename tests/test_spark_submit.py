"""End-to-end ``spark-submit --py-files`` deployment test.

The north-star contract says the engine "runs via spark-submit --py-files on
multi-executor clusters". This test exercises that exact surface, not a
simulation of it: it builds the deployable ``twspark.zip`` with
:func:`tiktok_whisper_spark.session.build_pkg_zip`, writes a job script to a
directory OUTSIDE the repo, scrubs ``PYTHONPATH`` so the only way the driver
and the Python workers can import ``tiktok_whisper_spark`` is the
``--py-files`` artifact, and launches the real ``spark-submit`` binary from
that foreign cwd. The job runs the two scalar-exchange kernels (PageRank to
convergence, connected components to fixpoint) over a skewed hub graph and
the test checks the collected results against the NumPy oracles — the same
bars as in-process (allclose 1e-6 / exact).

Reference parity: the reference ships a single self-contained binary
(``cmd/.../main.go``); our deployable unit is the package zip + a job script.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import numpy as np
import pytest

from oracle.graph_oracle import cc_oracle, pagerank_oracle

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _spark_submit() -> str:
    import pyspark

    cand = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    return cand if os.path.exists(cand) else "spark-submit"


# deterministic skewed graph: a 3-spoke hub cluster, a weighted cycle and an
# isolated pair — exercises dangling mass, weight normalization and >1
# component without needing test data files on the remote side
EDGES = [
    (1, 2, 3.0), (1, 3, 1.0), (1, 4, 1.0),
    (2, 1, 2.0), (3, 1, 0.5), (4, 1, 0.25),
    (5, 6, 1.0), (6, 7, 2.0), (7, 5, 4.0),
    (2, 5, 0.5),
    (10, 11, 1.0),
]

_JOB = textwrap.dedent(
    """
    import json, sys

    from tiktok_whisper_spark.session import get_spark  # from --py-files zip

    out_path, edges_json = sys.argv[1], sys.argv[2]
    edges = json.loads(edges_json)

    spark = get_spark(app_name="twspark-submit-e2e")
    df = spark.createDataFrame(edges, "src long, dst long, weight double")

    from tiktok_whisper_spark.graph import connected_components, pagerank

    # tol=1e-8 converges in ~110 supersteps (rate=damping 0.85) and
    # leaves <1e-7 residual vs the fixpoint -- far inside the 1e-6 bar
    pr = pagerank(df, tol=1e-8, max_iter=160)
    cc = connected_components(df, max_iter=30, checkpoint_every=10)
    result = {
        "ranks": {str(r["vid"]): r["rank"] for r in pr.state.collect()},
        "pr_converged": pr.converged,
        "labels": {str(r["vid"]): r["label"] for r in cc.state.collect()},
        "cc_converged": cc.converged,
    }
    with open(out_path, "w") as f:
        json.dump(result, f)
    spark.stop()
    """
)


def test_spark_submit_py_files_e2e(tmp_path):
    from tiktok_whisper_spark.session import build_pkg_zip

    zpath = build_pkg_zip(str(tmp_path / "twspark.zip"))
    job = tmp_path / "job.py"
    job.write_text(_JOB)
    out = tmp_path / "result.json"

    env = dict(os.environ)
    # the ONLY route to the package is the --py-files zip: no repo on
    # PYTHONPATH, cwd outside the repo, worker shim off (its module lives at
    # the repo root, which a real cluster submit would list in --py-files)
    env["PYTHONPATH"] = ""
    env["TWSPARK_WORKER_PATCH"] = "0"
    env["SPARK_GRAFT_MASTER"] = "local[4]"
    env["SPARK_GRAFT_CPUS"] = "4"
    env["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable

    proc = subprocess.run(
        [
            _spark_submit(),
            "--py-files", zpath,
            str(job),
            str(out),
            json.dumps(EDGES),
        ],
        cwd=str(tmp_path),
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert proc.returncode == 0, f"spark-submit failed:\n{proc.stderr[-4000:]}"
    result = json.loads(out.read_text())

    assert result["pr_converged"] and result["cc_converged"]
    want_pr = pagerank_oracle(EDGES, tol=1e-8, max_iter=160)
    got_pr = {int(k): v for k, v in result["ranks"].items()}
    assert set(got_pr) == set(want_pr)
    vids = sorted(want_pr)
    np.testing.assert_allclose(
        [got_pr[v] for v in vids], [want_pr[v] for v in vids], atol=1e-6, rtol=0
    )
    want_cc = cc_oracle(EDGES)
    assert {int(k): v for k, v in result["labels"].items()} == want_cc
