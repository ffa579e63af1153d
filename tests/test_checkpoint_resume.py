"""Checkpoint protocol + kill-resume semantics (north rule: resumable mid-algorithm).

Pattern from the reference's resumable migration
(``internal/app/repository/migrate/migrate.go:16-32``): persist progress
after each committed batch, resume from the last committed marker, never
recompute completed work.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from oracle.graph_oracle import pagerank_oracle
from tiktok_whisper_spark.graph import pagerank
from tiktok_whisper_spark.graph.runner import run_supersteps
from tiktok_whisper_spark.sources.catalog import CheckpointStore

EDGES = [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0), (4, 1, 1.0), (1, 5, 1.0), (5, 2, 3.0)]


def _edges_df(spark):
    return spark.createDataFrame(EDGES, "src long, dst long, weight double")


def test_manifest_commit_and_lineage(spark, tmp_path):
    store = CheckpointStore(str(tmp_path / "ckpt"))
    run = pagerank(_edges_df(spark), store=store, run_id="r1")
    steps = store.completed_supersteps("r1")
    assert steps == list(range(run.supersteps + 1))
    man = store.manifest("r1", run.supersteps)
    assert man["complete"] and man["carry"]["_converged"]
    # lineage rows cover every state row exactly once
    assert sum(l["n_rows"] for l in man["lineage"]) == 5
    # metrics history recorded per superstep
    hist = store.metrics_history("r1")
    assert [m["superstep"] for m in hist] == steps
    assert all("edges_processed" in m and "wall_ms" in m for m in hist[1:])


def test_kill_resume_identical_ranks(spark, tmp_path):
    """Kill after superstep k → resume → identical final ranks, no recompute."""
    store = CheckpointStore(str(tmp_path / "ckpt"))
    edges = _edges_df(spark)

    full = pagerank(edges, store=store, run_id="full")
    assert full.converged

    # simulate a kill: run only 3 supersteps, then resume to convergence
    partial = pagerank(edges, store=store, run_id="killed", max_iter=3)
    assert not partial.converged
    committed_before = store.completed_supersteps("killed")
    assert committed_before == [0, 1, 2, 3]
    t_before = store.manifest("killed", 3)["committed_at"]

    resumed = pagerank(edges, store=store, run_id="killed", resume=True)
    assert resumed.converged
    assert resumed.resumed_from == 3
    # supersteps ≤ 3 were NOT recomputed: manifests unchanged (same commit time)
    assert store.manifest("killed", 3)["committed_at"] == t_before

    got_full = {r["vid"]: r["rank"] for r in full.state.collect()}
    got_res = {r["vid"]: r["rank"] for r in resumed.state.collect()}
    assert got_full.keys() == got_res.keys()
    np.testing.assert_allclose(
        [got_res[v] for v in sorted(got_res)],
        [got_full[v] for v in sorted(got_full)],
        rtol=0,
        atol=1e-12,
    )
    # and both match the oracle
    want = pagerank_oracle(EDGES)
    np.testing.assert_allclose(
        [got_res[v] for v in sorted(got_res)], [want[v] for v in sorted(want)], atol=1e-6
    )


def test_resume_of_converged_run_is_noop(spark, tmp_path):
    store = CheckpointStore(str(tmp_path / "ckpt"))
    edges = _edges_df(spark)
    first = pagerank(edges, store=store, run_id="done")
    again = pagerank(edges, store=store, run_id="done")
    assert again.converged and again.resumed_from == first.supersteps
    assert store.completed_supersteps("done") == list(range(first.supersteps + 1))


def test_torn_write_is_cleared(spark, tmp_path):
    """A state dir without a manifest (kill mid-write) is redone cleanly."""
    store = CheckpointStore(str(tmp_path / "ckpt"))
    df = spark.range(5).select(F.col("id").alias("vid"), F.lit(1.0).alias("rank"))
    store.write_state("torn", 0, df)  # no finalize → torn
    assert store.latest("torn") is None
    # retry commits fine
    store.write_state("torn", 0, df)
    store.finalize("torn", 0, [{"partition_id": 0, "n_rows": 5, "checksum": 1}], {"m": 1}, {})
    assert store.latest("torn") == 0


def test_fresh_run_clears_stale_supersteps(spark, tmp_path):
    """resume=False under a reused run_id must not leave older supersteps
    that a later resume=True would silently pick up."""
    store = CheckpointStore(str(tmp_path / "ckpt"))
    edges = _edges_df(spark)
    full = pagerank(edges, store=store, run_id="r")  # to convergence
    assert full.converged and store.latest("r") == full.supersteps > 2
    # the state is file-backed: read it before the rerun clears its files
    want = {r["vid"]: r["rank"] for r in full.state.collect()}
    pagerank(edges, store=store, run_id="r", max_iter=2, resume=False)
    assert store.latest("r") == 2  # all later supersteps are gone
    resumed = pagerank(edges, store=store, run_id="r", resume=True)
    assert resumed.resumed_from == 2 and resumed.converged
    got = {r["vid"]: r["rank"] for r in resumed.state.collect()}
    for v in want:
        assert abs(got[v] - want[v]) < 1e-9


def test_iceberg_backend_selectable(spark, tmp_path):
    """Backend seam: path store raises a pointer; the Iceberg store runs the
    identical protocol end-to-end when the runtime jar + catalog exist
    (skip-marked here: no network to fetch iceberg-spark-runtime — config
    documented in IcebergCheckpointStore's docstring)."""
    from tiktok_whisper_spark.sources.catalog import IcebergCheckpointStore

    with pytest.raises(NotImplementedError):
        CheckpointStore(str(tmp_path), backend="iceberg")
    with pytest.raises(NotImplementedError):
        IcebergCheckpointStore(spark, catalog="lake")  # catalog not configured

    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
    except Exception:
        pytest.skip(
            "iceberg-spark-runtime not on classpath; on a cluster pass "
            "--packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:1.10.0 "
            "and spark.sql.catalog.lake[.type/.warehouse] at submit time"
        )
    store = IcebergCheckpointStore(spark, catalog="lake")
    # the Iceberg store holds graph.runner state; csr/local runs keep files
    run = pagerank(_edges_df(spark), store=store, run_id="iceberg-e2e", scatter_mode="sql")
    assert run.converged
    assert store.latest("iceberg-e2e") == run.supersteps


def test_runner_generic_loop(spark, tmp_path):
    """run_supersteps drives an arbitrary kernel (here: halving a value)."""
    store = CheckpointStore(str(tmp_path / "ckpt"))

    def init_fn():
        return spark.range(4).select(
            F.col("id").alias("vid"), F.lit(1.0).alias("x"), F.lit(1.0).alias("prev_x")
        ), {}

    def step_fn(state, carry, k):
        return state.select("vid", (F.col("x") / 2).alias("x"), F.col("x").alias("prev_x"))

    def combine_fn(partials, carry, k):
        mx = max(p["p_max_x"] for p in partials if p["p_max_x"] is not None)
        return {"max_x": mx}, {}, k > 0 and mx < 0.01

    out = run_supersteps(
        spark, store=store, run_id="halve", init_fn=init_fn, step_fn=step_fn,
        partition_aggs=[F.max("x").alias("p_max_x")], combine_fn=combine_fn, max_iter=20,
    )
    assert out.converged and out.supersteps == 7  # 1/2^7 < 0.01


def test_superstep_retry_recovers_transient_failure(spark, tmp_path, monkeypatch):
    """T2 (reference batch.go:130-135 retry policy): a job-level transient on
    a superstep's materialization is retried and the run completes with the
    SAME result and a normal commit history — the retry path actually
    executes (failure injected on the first in-run localCheckpoint). Runs on
    ``scatter_mode="sql"``, a kernel that still drives ``graph.runner``."""
    # patch the CONCRETE class (pyspark.sql.DataFrame is the abstract parent
    # in Spark 4; instances dispatch to the classic subclass's method)
    from pyspark.sql.classic.dataframe import DataFrame

    from tiktok_whisper_spark.graph import runner as runner_mod

    store = CheckpointStore(str(tmp_path / "retry"))
    clean = pagerank(_edges_df(spark), store=store, run_id="clean", tol=1e-3,
                     scatter_mode="sql")
    assert clean.converged

    monkeypatch.setattr(runner_mod.time, "sleep", lambda s: None)  # skip backoff
    orig = DataFrame.localCheckpoint
    state = {"armed": True, "failures": 0}

    def flaky(self, eager=True):
        if state["armed"]:
            state["armed"] = False
            state["failures"] += 1
            raise RuntimeError("injected transient executor loss")
        return orig(self, eager)

    monkeypatch.setattr(DataFrame, "localCheckpoint", flaky)
    run = pagerank(_edges_df(spark), store=store, run_id="flaky", tol=1e-3,
                   scatter_mode="sql")
    monkeypatch.setattr(DataFrame, "localCheckpoint", orig)

    assert state["failures"] == 1  # the injected failure really happened
    assert run.converged
    assert store.completed_supersteps("flaky") == list(range(run.supersteps + 1))
    got = {r["vid"]: r["rank"] for r in run.state.collect()}
    want = {r["vid"]: r["rank"] for r in clean.state.collect()}
    assert got == want


def test_ppr_resume_rebuilds_teleport_and_guards_seed_mismatch(spark, tmp_path):
    """PPR resume on both superstep loops: the default csr mode (file
    supersteps, seed set in the params file) and sql (``graph.runner``,
    where the 't' teleport column is not persisted — a pure function of the
    seed set — and must be rebuilt by restore_fn). A resume under a
    different teleport config must refuse, both mid-run and after
    convergence (the converged short-circuit returns stored state)."""
    store = CheckpointStore(str(tmp_path / "ckpt"))
    edges = _edges_df(spark)
    seeds = [1, 3]

    for mode in ("csr", "sql"):
        def ppr(run_id, **kw):
            return pagerank(edges, store=store, run_id=f"{run_id}-{mode}", scatter_mode=mode, **kw)

        full = ppr("pprfull", teleport_seeds=seeds)
        assert full.converged

        partial = ppr("ppr", teleport_seeds=seeds, max_iter=2)
        assert not partial.converged
        resumed = ppr("ppr", teleport_seeds=seeds, resume=True)
        assert resumed.resumed_from == 2 and resumed.converged
        got_full = {r["vid"]: r["rank"] for r in full.state.collect()}
        got_res = {r["vid"]: r["rank"] for r in resumed.state.collect()}
        np.testing.assert_allclose(
            [got_res[v] for v in sorted(got_res)],
            [got_full[v] for v in sorted(got_full)],
            rtol=0, atol=1e-12,
        )
        # mid-run resume with a different seed set → refuse
        partial2 = ppr("ppr2", teleport_seeds=seeds, max_iter=2)
        assert not partial2.converged
        with pytest.raises(RuntimeError, match="teleport-seed"):
            ppr("ppr2", teleport_seeds=[2], resume=True)
        # converged run_id resumed under GLOBAL teleport → refuse, not stale ranks
        with pytest.raises(RuntimeError, match="teleport-seed"):
            ppr("ppr", resume=True)


def test_file_backed_state_raises_after_store_deleted(spark, tmp_path):
    """csr/local state is read from the run's files when evaluated: once the
    store is gone, reading it must raise, not return an empty frame."""
    import shutil

    store = CheckpointStore(str(tmp_path / "gone"))
    run = pagerank(_edges_df(spark), store=store, run_id="r", max_iter=3)
    assert run.state.count() == 5
    shutil.rmtree(store.root)
    with pytest.raises(Exception, match="_META.json"):
        run.state.collect()
