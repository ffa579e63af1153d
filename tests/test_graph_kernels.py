"""Graph kernels vs NumPy/pure-Python oracles.

Mirrors the reference's exact-expected-value kernel tests
(``internal/app/embedding/similarity/calculator_test.go:28-198``): small
hand-built graphs with analytically known answers (FIXTURES.md §6), plus the
full synthetic transcript-derived graph cross-checked against the oracles.
"""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from oracle.graph_oracle import cc_oracle, lpa_oracle, pagerank_oracle, triangle_oracle
from tiktok_whisper_spark import datagen
from tiktok_whisper_spark.graph import (
    connected_components,
    label_propagation,
    pagerank,
    triangle_counts,
)
from tiktok_whisper_spark.operators.edges import derive_edges


def _edges_df(spark, triples):
    return spark.createDataFrame(
        [(int(s), int(d), float(w)) for s, d, w in triples],
        "src long, dst long, weight double",
    ).withColumn("etype", F.lit("test"))


# 4-node directed cycle + 1 dangling vertex hanging off node 1 (FIXTURES §6)
CYCLE_DANGLING = [(1, 2, 1.0), (2, 3, 1.0), (3, 4, 1.0), (4, 1, 1.0), (1, 5, 1.0)]
# two disjoint cliques K3 (1,2,3) and K4 (10,11,12,13)
TWO_CLIQUES = [
    (1, 2, 1.0), (2, 3, 1.0), (1, 3, 1.0),
    (10, 11, 1.0), (10, 12, 1.0), (10, 13, 1.0),
    (11, 12, 1.0), (11, 13, 1.0), (12, 13, 1.0),
]
# bipartite star: many roles → one hub tool + side edge (every out-degree ≤ 2)
HUB_STAR = [(i, 1000, 1.0) for i in range(1, 200)] + [(1000, 1, 2.0), (7, 8, 1.0)]
# bidirectional hub: out-degree 199 against the derived hub cutoff of 64, so
# the salted DataFrame path really splits the hub's edges
BIDIR_HUB = (
    [(i, 1000, 1.0) for i in range(1, 200)]
    + [(1000, i, 1.0) for i in range(1, 200)]
    + [(7, 8, 1.0)]
)
# weighted asymmetric graph
WEIGHTED = [(1, 2, 3.0), (1, 3, 1.0), (2, 3, 2.0), (3, 1, 1.0), (4, 1, 5.0), (2, 4, 1.0)]

GRAPHS = {
    "cycle_dangling": CYCLE_DANGLING,
    "two_cliques": TWO_CLIQUES,
    "hub_star": HUB_STAR,
    "weighted": WEIGHTED,
    "bidir_hub": BIDIR_HUB,
}


@pytest.fixture(scope="module")
def transcript_edges(spark):
    """Small synthetic transcript graph, collected once (role/tool vertices)."""
    t = datagen.transcripts(spark, n_convs=60, seed=42)
    df = derive_edges(t).persist()
    rows = [(r["src"], r["dst"], r["weight"]) for r in df.collect()]
    return df, rows


@pytest.mark.parametrize(
    "name,mode",
    [(n, "csr") for n in GRAPHS] + [(n, "sql") for n in ("hub_star", "weighted", "bidir_hub")],
)
def test_pagerank_matches_oracle(spark, name, mode, tmp_path):
    from tiktok_whisper_spark.graph.scatter import prepare_edges

    triples = GRAPHS[name]
    if (name, mode) == ("bidir_hub", "sql"):
        # the salted path is really taken: the hub's edges split off as hot
        pe = prepare_edges(_edges_df(spark, triples))
        try:
            assert pe.hot is not None and pe.hot_vids.count() == 1
        finally:
            pe.unpersist()
    run = pagerank(_edges_df(spark, triples), scatter_mode=mode, store=None)
    got = {r["vid"]: r["rank"] for r in run.state.collect()}
    want = pagerank_oracle(triples)
    assert run.converged
    assert set(got) == set(want)
    np.testing.assert_allclose(
        [got[v] for v in sorted(got)], [want[v] for v in sorted(want)], atol=1e-6
    )
    # rank mass is conserved (dangling redistribution correct)
    assert abs(sum(got.values()) - 1.0) < 1e-9


@pytest.mark.parametrize("name", list(GRAPHS))
def test_cc_matches_oracle(spark, name):
    triples = GRAPHS[name]
    run = connected_components(_edges_df(spark, triples), checkpoint_every=10)
    got = {r["vid"]: r["label"] for r in run.state.collect()}
    assert run.converged
    assert got == cc_oracle(triples)


def test_cc_two_cliques_component_count(spark):
    run = connected_components(_edges_df(spark, TWO_CLIQUES))
    labels = {r["label"] for r in run.state.collect()}
    assert labels == {1, 10}


@pytest.mark.parametrize("name", list(GRAPHS))
def test_cc_star_matches_oracle(spark, name):
    from tiktok_whisper_spark.graph import connected_components_star

    triples = GRAPHS[name]
    run = connected_components_star(_edges_df(spark, triples), checkpoint_every=10)
    got = {r["vid"]: r["label"] for r in run.state.collect()}
    assert run.converged
    assert got == cc_oracle(triples)


def test_cc_star_long_chain_converges_in_log_rounds(spark):
    """The scale property: a diameter-60 path needs ~60 min-label supersteps
    but only O(log n) star rounds — this is WHY the star variant exists."""
    from tiktok_whisper_spark.graph import connected_components_star

    chain = [(i, i + 1, 1.0) for i in range(60)]
    run = connected_components_star(_edges_df(spark, chain), checkpoint_every=10)
    assert run.converged
    assert run.supersteps <= 10  # log₂(61) ≈ 6 rounds, not 60
    got = {r["vid"]: r["label"] for r in run.state.collect()}
    assert got == cc_oracle(chain)
    assert set(got.values()) == {0}


def test_cc_local_mode_matches_dataframe_and_oracle(spark, tmp_path):
    """scatter_mode='local' CC (file supersteps, compile-time symmetrization,
    per-hub minima sent to the hub's owner, mirror labels replied back) must
    land on the EXACT same fixpoint as the DataFrame path and the union-find
    oracle — including the tool hubs, whose labels travel only through the
    exchange segments."""
    from tiktok_whisper_spark.operators.edges import turn_adjacency_edges, turn_tool_edges
    from tiktok_whisper_spark.sources.catalog import CheckpointStore

    t = datagen.transcripts(spark, n_convs=60, seed=7)
    e = (
        turn_adjacency_edges(t, include_home=True)
        .unionByName(turn_tool_edges(t, include_home=True))
        .localCheckpoint()
    )
    run_l = connected_components(
        e, scatter_mode="local",
        store=CheckpointStore(str(tmp_path / "cc_local")), resume=False,
    )
    assert run_l.converged
    got = {r["vid"]: r["label"] for r in run_l.state.collect()}
    rows = [(r["src"], r["dst"], r["weight"]) for r in e.select("src", "dst", "weight").collect()]
    assert got == cc_oracle(rows)
    run_df = connected_components(e.select("src", "dst", "weight"), checkpoint_every=10)
    want = {r["vid"]: r["label"] for r in run_df.state.collect()}
    assert got == want
    # per-partition lineage rows were committed with every superstep
    assert all(m["n_vertices"] == len(got) for m in run_l.metrics)


def _node_cache_env(spark, monkeypatch, root) -> None:
    """Point ``TWSPARK_SHARD_CACHE`` at ``root`` for the driver AND the Python
    workers: workers take their environment from the SparkContext, not from
    the driver process's ``os.environ``."""
    monkeypatch.setenv("TWSPARK_SHARD_CACHE", str(root))
    monkeypatch.setitem(spark.sparkContext.environment, "TWSPARK_SHARD_CACHE", str(root))


def _assert_one_compile_cache(spark, tmp_path, store, run_id):
    """Kernels compile straight from the Parquet shards into the per-kernel
    compile cache: nothing is compiled into a shard dir, nor into a
    node-local cache entry keyed on one; the static dir's entry is there."""
    from tiktok_whisper_spark.graph.filesteps import Layout, node_cache_root

    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    lay = Layout(os.path.join(store.root, run_id), P)
    assert not list(tmp_path.rglob("_compiled_v2"))
    assert not os.path.exists(node_cache_root(lay.shard_dir))
    assert os.path.isdir(node_cache_root(lay.static_dir))


def test_cc_lpa_local_mode_via_file_uri(spark, tmp_path, monkeypatch):
    """CC and LPA local modes share PageRank's durable-IO helpers — a
    ``file://`` root drives their label segments, alignments (node-local
    cache), and manifests through pyarrow's FileSystem API; labels must
    match plain local-path runs exactly."""
    from tiktok_whisper_spark.operators.edges import turn_adjacency_edges, turn_tool_edges
    from tiktok_whisper_spark.sources.catalog import CheckpointStore

    _node_cache_env(spark, monkeypatch, tmp_path / "nodelocal")
    t = datagen.transcripts(spark, n_convs=40, seed=5)
    e = (
        turn_adjacency_edges(t, include_home=True)
        .unionByName(turn_tool_edges(t, include_home=True))
        .localCheckpoint()
    )
    cc_store = CheckpointStore(f"file://{tmp_path}/cc_uri")
    cc_uri = connected_components(e, scatter_mode="local", store=cc_store, resume=False)
    cc_path = connected_components(
        e, scatter_mode="local",
        store=CheckpointStore(str(tmp_path / "cc_path")), resume=False,
    )
    assert cc_uri.converged and cc_path.converged
    gu = {r["vid"]: r["label"] for r in cc_uri.state.collect()}
    assert gu == {r["vid"]: r["label"] for r in cc_path.state.collect()}
    lpa_store = CheckpointStore(f"file://{tmp_path}/lpa_uri")
    lpa_uri = label_propagation(e, scatter_mode="local", max_iter=3, store=lpa_store,
                                resume=False)
    lpa_path = label_propagation(
        e, scatter_mode="local", max_iter=3,
        store=CheckpointStore(str(tmp_path / "lpa_path")), resume=False,
    )
    lu = {r["vid"]: r["label"] for r in lpa_uri.state.collect()}
    assert lu == {r["vid"]: r["label"] for r in lpa_path.state.collect()}
    assert list((tmp_path / "cc_uri").glob("*/superstep=*/state/rank-*.f64"))
    _assert_one_compile_cache(spark, tmp_path, cc_store, cc_uri.run_id)
    _assert_one_compile_cache(spark, tmp_path, lpa_store, lpa_uri.run_id)


def test_lpa_local_mode_matches_dataframe_and_oracle(spark, tmp_path):
    """scatter_mode='local' LPA must reproduce the DataFrame path's labels
    EXACTLY — synchronous updates, weighted votes, max-then-min tie-break —
    including hubs, whose owners decide them over their own votes plus the
    per-(hub, label) votes other partitions send them as exchange segments
    (the (hub × label) relation never reaches the driver)."""
    from tiktok_whisper_spark.operators.edges import turn_adjacency_edges, turn_tool_edges
    from tiktok_whisper_spark.sources.catalog import CheckpointStore

    t = datagen.transcripts(spark, n_convs=60, seed=7)
    e = (
        turn_adjacency_edges(t, include_home=True)
        .unionByName(turn_tool_edges(t, include_home=True))
        .localCheckpoint()
    )
    for iters in (2, 10):
        run_l = label_propagation(
            e, scatter_mode="local", max_iter=iters,
            store=CheckpointStore(str(tmp_path / f"lpa_local_{iters}")), resume=False,
        )
        run_df = label_propagation(
            e.select("src", "dst", "weight"), max_iter=iters, checkpoint_every=10,
        )
        got = {r["vid"]: r["label"] for r in run_l.state.collect()}
        want = {r["vid"]: r["label"] for r in run_df.state.collect()}
        assert got == want, f"divergence at max_iter={iters}"
        assert run_l.supersteps == run_df.supersteps
        assert run_l.converged == run_df.converged
    triples = [(r["src"], r["dst"], r["weight"]) for r in e.select("src", "dst", "weight").collect()]
    assert got == lpa_oracle(triples, max_iter=10)


def test_pagerank_local_mode_matches_csr_and_oracle(spark, tmp_path):
    """scatter_mode='local' (conversation-locality partitioning: adjacency
    edges never shuffle, only tool-hub contributions do) must produce the
    SAME ranks as the csr path and the NumPy oracle."""
    from tiktok_whisper_spark import datagen
    from tiktok_whisper_spark.operators.edges import turn_adjacency_edges, turn_tool_edges
    from tiktok_whisper_spark.sources.catalog import CheckpointStore

    t = datagen.transcripts(spark, n_convs=120, seed=7)
    e_home = (
        turn_adjacency_edges(t, include_home=True)
        .unionByName(turn_tool_edges(t, include_home=True))
        .localCheckpoint()
    )
    r_local = pagerank(
        e_home, scatter_mode="local",
        store=CheckpointStore(str(tmp_path / "l")), resume=False,
    )
    r_csr = pagerank(
        e_home.select("src", "dst", "weight"), scatter_mode="csr",
        store=CheckpointStore(str(tmp_path / "c")), resume=False,
    )
    assert r_local.converged and r_csr.converged
    gl = {r["vid"]: r["rank"] for r in r_local.state.collect()}
    gc = {r["vid"]: r["rank"] for r in r_csr.state.collect()}
    assert gl.keys() == gc.keys()
    for v in gl:
        assert abs(gl[v] - gc[v]) < 1e-12
    # and against the float64 oracle
    triples = [(r["src"], r["dst"], r["weight"]) for r in e_home.collect()]
    want = pagerank_oracle(triples)
    np.testing.assert_allclose(
        [gl[v] for v in sorted(gl)], [want[v] for v in sorted(want)], atol=1e-6
    )


@pytest.mark.parametrize("mode", ["local", "csr"])
def test_pagerank_local_mode_via_file_uri(spark, tmp_path, monkeypatch, mode):
    """A ``file://`` URI store root drives the ENTIRE file-superstep durable
    surface through pyarrow's FileSystem API — rank segments, static files,
    shard markers, manifests, and the node-local compiled-shard cache — the
    same code path an object-store (s3://, gs://) root takes on a cluster.
    Ranks must match a plain local-path run exactly, under conversation
    homes (local) and hash homes (csr) alike."""
    from tiktok_whisper_spark import datagen
    from tiktok_whisper_spark.operators.edges import turn_adjacency_edges, turn_tool_edges
    from tiktok_whisper_spark.sources.catalog import CheckpointStore

    _node_cache_env(spark, monkeypatch, tmp_path / "nodelocal")
    t = datagen.transcripts(spark, n_convs=60, seed=11)
    e = (
        turn_adjacency_edges(t, include_home=True)
        .unionByName(turn_tool_edges(t, include_home=True))
        .localCheckpoint()
    )
    uri_store = CheckpointStore(f"file://{tmp_path}/uri_store")
    r_uri = pagerank(e, scatter_mode=mode, store=uri_store, resume=False)
    r_path = pagerank(
        e, scatter_mode=mode,
        store=CheckpointStore(str(tmp_path / "path_store")), resume=False,
    )
    assert r_uri.converged and r_path.converged
    gu = {r["vid"]: r["rank"] for r in r_uri.state.collect()}
    gp = {r["vid"]: r["rank"] for r in r_path.state.collect()}
    assert gu.keys() == gp.keys() and len(gu) > 0
    for v in gu:
        assert gu[v] == gp[v]
    # the durable artifacts really landed under the URI root
    root = tmp_path / "uri_store"
    assert any(p.name.startswith("superstep=") for p in root.glob(f"{r_uri.run_id}/*"))
    assert list(root.glob(f"{r_uri.run_id}/superstep=*/state/rank-*.f64"))
    # retention window 2 on URI roots: superseded rank segments are deleted
    # (local roots recycle them implicitly) — only k-1 and k survive, while
    # every superstep keeps its manifest/metrics for lineage history
    steps_with_ranks = {
        int(p.parent.parent.name.split("=")[1])
        for p in root.glob(f"{r_uri.run_id}/superstep=*/state/rank-*.f64")
    }
    last = r_uri.supersteps
    assert steps_with_ranks == {last - 1, last}
    assert len(r_uri.metrics) == last + 1
    _assert_one_compile_cache(spark, tmp_path, uri_store, r_uri.run_id)


def _home_edges(spark, n_convs, seed):
    from tiktok_whisper_spark.operators.edges import turn_adjacency_edges, turn_tool_edges

    t = datagen.transcripts(spark, n_convs=n_convs, seed=seed)
    return (
        turn_adjacency_edges(t, include_home=True)
        .unionByName(turn_tool_edges(t, include_home=True))
        .localCheckpoint()
    )


# the file-superstep kernels behind their public calls (csr: PageRank with
# hash homes); synchronous LPA 2-cycles on transcript graphs, so it runs a
# fixed count
LOCAL_KERNELS = {
    "pagerank": lambda e, **kw: pagerank(e, scatter_mode="local", **kw),
    "csr": lambda e, **kw: pagerank(e, scatter_mode="csr", **kw),
    "cc": lambda e, **kw: connected_components(e, scatter_mode="local", **kw),
    "lpa": lambda e, max_iter=8, **kw: label_propagation(
        e, scatter_mode="local", max_iter=max_iter, **kw),
}


@pytest.mark.parametrize("kernel", list(LOCAL_KERNELS))
def test_local_mode_kill_resume(spark, tmp_path, kernel):
    """A run stopped after superstep 2 and resumed commits exactly the
    lineage of an uninterrupted run at every superstep and ends in the same
    state, bit for bit."""
    from tiktok_whisper_spark.sources.catalog import CheckpointStore

    run = LOCAL_KERNELS[kernel]
    e = _home_edges(spark, 40, 9)
    store = CheckpointStore(str(tmp_path / "ck"))
    full = run(e, store=store, run_id="full", resume=False)
    assert full.converged or kernel == "lpa"
    part = run(e, store=store, run_id="k", max_iter=2, resume=False)
    assert not part.converged and part.supersteps == 2
    res = run(e, store=store, run_id="k", resume=True)
    assert res.converged == full.converged and res.resumed_from == 2
    assert res.supersteps == full.supersteps
    for k in range(full.supersteps + 1):
        assert store.manifest("k", k)["lineage"] == store.manifest("full", k)["lineage"], k
    cols = res.state.columns
    assert sorted(map(tuple, res.state.collect())) == sorted(
        map(tuple, full.state.select(*cols).collect())
    )
    if kernel == "cc":
        got = {r["vid"]: r["label"] for r in res.state.collect()}
        rows = [(r["src"], r["dst"], r["weight"]) for r in e.select("src", "dst", "weight").collect()]
        assert got == cc_oracle(rows)


@pytest.mark.parametrize("kernel", list(LOCAL_KERNELS))
def test_load_state_matches_stopped_run(spark, tmp_path, kernel):
    """``CheckpointStore.load_state(k)`` of a file-superstep run returns the
    state a run stopped at superstep k returns, with the same columns; a
    superstep whose segments were recycled raises instead of reading back
    empty."""
    from tiktok_whisper_spark.sources.catalog import CheckpointStore

    run = LOCAL_KERNELS[kernel]
    e = _home_edges(spark, 40, 9)
    store = CheckpointStore(str(tmp_path / "ck"))
    full = run(e, store=store, run_id="full", resume=False)
    k = full.supersteps - 1
    stopped = run(e, store=store, run_id="stop", max_iter=k, resume=False)
    assert stopped.supersteps == k

    def rows(df):
        return sorted(map(tuple, df.collect()))

    loaded = store.load_state(spark, "full", k)
    assert loaded.columns == stopped.state.columns
    assert rows(loaded) == rows(stopped.state)
    assert rows(store.load_state(spark, "full", full.supersteps)) == rows(full.state)
    # retention window 2: superstep k-1's segments were recycled into k+1
    with pytest.raises(Exception, match="no superstep-"):
        store.load_state(spark, "full", k - 1).collect()


@pytest.mark.parametrize("kernel", list(LOCAL_KERNELS))
def test_local_mode_resume_under_different_partitions_raises(spark, tmp_path, kernel):
    """State segments are keyed by partition id: resuming a committed run
    under a different spark.sql.shuffle.partitions must refuse loudly, not
    silently return an empty 'converged' state."""
    from tiktok_whisper_spark.sources.catalog import CheckpointStore

    run = LOCAL_KERNELS[kernel]
    e = _home_edges(spark, 40, 13)
    store = CheckpointStore(str(tmp_path / "pstore"))
    part = run(e, store=store, run_id="r", max_iter=2, resume=False)
    assert not part.converged
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(int(old) * 2))
    try:
        with pytest.raises(RuntimeError, match="shuffle partitions"):
            run(e, store=store, run_id="r", resume=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


@pytest.mark.parametrize("kernel", list(LOCAL_KERNELS))
def test_local_mode_kill_after_exchange_write(spark, tmp_path, kernel):
    """A run killed after superstep 3's job wrote its state and exchange
    segments, before the manifest commits them, resumes from superstep 2
    and commits exactly the lineage of an uninterrupted run, bit for bit."""
    from tiktok_whisper_spark.sources.catalog import CheckpointStore

    run = LOCAL_KERNELS[kernel]
    e = _home_edges(spark, 40, 9)
    store = CheckpointStore(str(tmp_path / "ck"))
    full = run(e, store=store, run_id="full", resume=False)
    assert full.supersteps > 3
    finalize, killed = store.finalize, []

    def finalize_or_die(run_id, k, *args, **kw):
        if run_id == "k" and k == 3 and not killed:
            killed.append(k)
            raise RuntimeError("killed before the superstep-3 manifest")
        return finalize(run_id, k, *args, **kw)

    store.finalize = finalize_or_die
    with pytest.raises(RuntimeError, match="killed before"):
        run(e, store=store, run_id="k", resume=False)
    assert store.latest("k") == 2
    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert len(list((tmp_path / "ck" / "k" / "superstep=000003" / "exchange").glob("x-*"))) == P * P
    res = run(e, store=store, run_id="k", resume=True)
    assert res.resumed_from == 2 and res.supersteps == full.supersteps
    for k in range(full.supersteps + 1):
        assert store.manifest("k", k)["lineage"] == store.manifest("full", k)["lineage"], k
    cols = res.state.columns
    assert sorted(map(tuple, res.state.collect())) == sorted(
        map(tuple, full.state.select(*cols).collect())
    )


@pytest.mark.parametrize("kernel", list(LOCAL_KERNELS))
def test_local_mode_resume_without_exchange_raises(spark, tmp_path, kernel):
    """Resuming after the latest superstep's exchange segments were deleted
    raises, naming a missing segment, instead of running on without the
    messages."""
    import shutil

    from tiktok_whisper_spark.sources.catalog import CheckpointStore

    run = LOCAL_KERNELS[kernel]
    e = _home_edges(spark, 40, 9)
    store = CheckpointStore(str(tmp_path / "ck"))
    run(e, store=store, run_id="r", max_iter=2, resume=False)
    shutil.rmtree(tmp_path / "ck" / "r" / "superstep=000002" / "exchange")
    with pytest.raises(Exception, match=r"superstep=000002/exchange/x-\d{5}-\d{5}\.bin is missing"):
        run(e, store=store, run_id="r", resume=True)


@pytest.mark.parametrize("kernel", ["csr", "cc", "lpa"])
def test_driver_relays_only_scalars(spark, tmp_path, kernel):
    """Cross-partition data travels only through exchange files: at 40 and
    at 400 conversations every manifest ``carry`` value is a scalar, and
    the carry and each superstep's params file stay under 1 kB."""
    import json

    from tiktok_whisper_spark.sources.catalog import CheckpointStore

    run = LOCAL_KERNELS[kernel]
    for n_convs in (40, 400):
        store = CheckpointStore(str(tmp_path / f"s{n_convs}"))
        params_path = os.path.join(store.root, "r", "_superstep_params.json")
        finalize, params_bytes = store.finalize, []

        def finalize_and_measure(*args, **kw):
            params_bytes.append(os.path.getsize(params_path))
            return finalize(*args, **kw)

        store.finalize = finalize_and_measure
        r = run(_home_edges(spark, n_convs, 3), store=store, run_id="r", max_iter=3,
                resume=False)
        assert len(params_bytes) == r.supersteps + 1 == 4
        assert max(params_bytes) < 1024, (n_convs, params_bytes)
        for k in range(r.supersteps + 1):
            carry = store.manifest("r", k)["carry"]
            assert all(v is None or isinstance(v, (bool, int, float, str))
                       for v in carry.values()), (n_convs, k, carry)
            assert len(json.dumps(carry)) < 1024


def test_one_spark_job_per_superstep(spark, tmp_path):
    """On a warm run dir, local PageRank, CC and LPA each run exactly one
    Spark job per executed superstep: no per-superstep side job (such as a
    winner merge) and no replay at superstep 0."""
    from tiktok_whisper_spark.sources.catalog import CheckpointStore

    sc = spark.sparkContext
    e = _home_edges(spark, 40, 9)
    store = CheckpointStore(str(tmp_path / "jobs"))
    for kernel in ("pagerank", "cc", "lpa"):
        run = LOCAL_KERNELS[kernel]
        run(e, store=store, run_id=kernel, max_iter=0, resume=False)  # cold prep
        group = f"one-job-per-superstep-{kernel}"
        sc.setJobGroup(group, kernel)
        try:
            r = run(e, store=store, run_id=kernel, resume=False)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup(group)) == r.supersteps + 1, kernel


def test_reprep_under_split_cache_roots_recompiles(spark, tmp_path, monkeypatch):
    """A re-prepped ``file://`` run dir compiles afresh even when the driver
    and the workers see different node-local cache roots: PageRank on E1,
    then LPA on E2 (which purges and re-preps the shared run dir), then
    PageRank on E2 must give exactly a fresh run dir's ranks — compile dirs
    are keyed by the prep id, not trusted by name."""
    from tiktok_whisper_spark.sources.catalog import CheckpointStore

    monkeypatch.setenv("TWSPARK_SHARD_CACHE", str(tmp_path / "driver_cache"))
    monkeypatch.setitem(spark.sparkContext.environment, "TWSPARK_SHARD_CACHE",
                        str(tmp_path / "worker_cache"))
    e1, e2 = _home_edges(spark, 30, 1), _home_edges(spark, 30, 2)
    shared = CheckpointStore(f"file://{tmp_path}/shared")
    pagerank(e1, scatter_mode="local", store=shared, run_id="r", resume=False)
    label_propagation(e2, scatter_mode="local", max_iter=2, store=shared, run_id="r",
                      resume=False)
    got = pagerank(e2, scatter_mode="local", store=shared, run_id="r", resume=False)
    fresh = pagerank(e2, scatter_mode="local", store=CheckpointStore(f"file://{tmp_path}/fresh"),
                     run_id="r", resume=False)
    assert got.supersteps == fresh.supersteps
    assert sorted(map(tuple, got.state.collect())) == sorted(map(tuple, fresh.state.collect()))


def test_local_slots_parses_master_forms():
    """Task slots behind local-mode task packing and the session's default
    shuffle partitions: ``local[N,F]`` (F = task retries) is as valid a
    master as ``local[N]``; ``*`` takes the caller's core count."""
    from tiktok_whisper_spark.session import local_slots

    assert local_slots("local[4]", 7) == 4
    assert local_slots("local[4,2]", 7) == 4
    assert local_slots("local[*]", 7) == 7
    assert local_slots("local[*,3]", 7) == 7
    assert local_slots("local", 7) is None
    assert local_slots("spark://host:7077", 7) is None


@pytest.mark.parametrize("call,mode", [
    (pagerank, "salted"), (connected_components, "csr"),
    (pagerank, "arrow"), (connected_components, "arrow"), (label_propagation, "arrow"),
])
def test_unknown_scatter_mode_raises_before_any_job(spark, call, mode):
    sc = spark.sparkContext
    e = _edges_df(spark, TWO_CLIQUES)
    sc.setJobGroup("scatter-mode-check", "scatter_mode validation")
    try:
        with pytest.raises(ValueError, match="scatter_mode"):
            call(e, scatter_mode=mode)
        assert sc.statusTracker().getJobIdsForGroup("scatter-mode-check") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.mark.parametrize("name", list(GRAPHS))
def test_lpa_matches_oracle(spark, name):
    triples = GRAPHS[name]
    run = label_propagation(_edges_df(spark, triples), max_iter=10, checkpoint_every=10)
    got = {r["vid"]: r["label"] for r in run.state.collect()}
    assert got == lpa_oracle(triples, max_iter=10)


@pytest.mark.parametrize("name", list(GRAPHS))
def test_triangles_match_oracle(spark, name):
    triples = GRAPHS[name]
    res = triangle_counts(_edges_df(spark, triples))
    want_total, want_pv = triangle_oracle(triples)
    got_pv = {r["vid"]: r["triangles"] for r in res.per_vertex.collect()}
    assert res.total == want_total
    assert got_pv == want_pv


def test_triangles_known_values(spark):
    res = triangle_counts(_edges_df(spark, TWO_CLIQUES))
    assert res.total == 1 + 4  # K3 has 1 triangle, K4 has 4


def test_transcript_graph_all_kernels(spark, transcript_edges):
    """End-to-end: derived transcript graph matches every oracle."""
    df, rows = transcript_edges
    pr = pagerank(df)
    assert pr.converged
    got = {r["vid"]: r["rank"] for r in pr.state.collect()}
    want = pagerank_oracle(rows)
    np.testing.assert_allclose(
        [got[v] for v in sorted(got)], [want[v] for v in sorted(want)], atol=1e-6
    )

    cc = connected_components(df, checkpoint_every=10)
    assert {r["vid"]: r["label"] for r in cc.state.collect()} == cc_oracle(rows)

    lpa = label_propagation(df, max_iter=8, checkpoint_every=10)
    assert {r["vid"]: r["label"] for r in lpa.state.collect()} == lpa_oracle(rows, max_iter=8)

    tri = triangle_counts(df)
    want_total, want_pv = triangle_oracle(rows)
    assert tri.total == want_total
    assert {r["vid"]: r["triangles"] for r in tri.per_vertex.collect()} == want_pv


def test_cc_local_star_with_minimum_hub_matches_oracle(spark, tmp_path):
    """A star whose hub holds the component minimum, every leaf in its own
    home on another partition than the hub, every edge leaf→hub: the leaves
    learn the hub's label only from its mirror label, which is the hub's
    label₀ until the first reply arrives — without that default superstep 1
    changes nothing and the run would stop there."""
    from tiktok_whisper_spark.sources.catalog import CheckpointStore

    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    pids = {
        int(r["id"]): int(r["pid"])
        for r in spark.range(1, 200).select(
            "id", F.pmod(F.hash(F.col("id")), F.lit(P)).alias("pid")).collect()
    }
    hub = 1
    leaves = [v for v in sorted(pids) if pids[v] != pids[hub]][:30]
    triples = [(v, hub, 1.0) for v in leaves]
    run = connected_components(
        _homed_df(spark, triples, lambda v: v), scatter_mode="local",
        store=CheckpointStore(str(tmp_path / "star")), resume=False,
    )
    assert run.converged
    got = {r["vid"]: r["label"] for r in run.state.collect()}
    assert got == cc_oracle(triples)
    assert set(got.values()) == {hub}


def test_lpa_local_mode_bidirectional_cross_home_edges(spark, tmp_path):
    """Cross-partition vertex pairs with directed edges in BOTH orientations
    and unequal weights: lpa.py symmetrizes so vote(u,v) = w_fwd + w_rev;
    local mode must pool a vertex's gather-direction votes (mirror labels)
    with the votes other partitions send it, or its winner sees only one
    direction's weight (once seen live: vertex 1 flipped to label 3)."""
    from tiktok_whisper_spark.sources.catalog import CheckpointStore

    P = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # pick home keys that land on three DISTINCT shard partitions so every
    # edge below is cross-partition (remote) in local mode
    probe = spark.range(64).select(
        F.col("id"), F.pmod(F.hash(F.col("id")), F.lit(P)).alias("pid")
    ).collect()
    by_pid: dict[int, int] = {}
    for r in probe:
        by_pid.setdefault(int(r["pid"]), int(r["id"]))
        if len(by_pid) >= 3:
            break
    homes = list(by_pid.values())[:3]
    assert len(homes) == 3
    home = {1: homes[0], 2: homes[1], 3: homes[2]}
    triples = [(1, 2, 5.0), (2, 1, 1.0), (3, 1, 3.0)]
    rows = [(s, d, w, home[s], home[d]) for s, d, w in triples]
    e = spark.createDataFrame(
        rows, "src long, dst long, weight double, src_home long, dst_home long"
    )
    for iters in (1, 3):
        run_l = label_propagation(
            e, scatter_mode="local", max_iter=iters,
            store=CheckpointStore(str(tmp_path / f"bidir_{iters}")), resume=False,
        )
        got = {r["vid"]: r["label"] for r in run_l.state.collect()}
        run_df = label_propagation(
            e.select("src", "dst", "weight"), max_iter=iters, checkpoint_every=10,
        )
        want = {r["vid"]: r["label"] for r in run_df.state.collect()}
        assert got == want, f"divergence at max_iter={iters}: {got} != {want}"
    assert got == lpa_oracle(triples, max_iter=3)
    # superstep 1 ground truth: votes on vertex 1 are label-2 (w 5+1=6) and
    # label-3 (w 3) -> vertex 1 must take label 2, not 3
    run1 = label_propagation(
        e, scatter_mode="local", max_iter=1,
        store=CheckpointStore(str(tmp_path / "bidir_check")), resume=False,
    )
    l1 = {r["vid"]: r["label"] for r in run1.state.collect()}
    assert l1[1] == 2


def test_local_mode_shard_weight_semantics_gate(spark, tmp_path):
    """Sharing one store+run_id across kernels must never reuse shards whose
    p slot carries the wrong weight semantics (round-4 advisory, MEDIUM):
    PageRank writes normalized probabilities, CC constant 1.0, LPA raw
    summed weights. The meta gate purges and rewrites on mismatch; CC (which
    ignores weights) may warm any layout. csr's hash homes (home = vid) are
    gated the same way against conversation homes."""
    from tiktok_whisper_spark.sources.catalog import CheckpointStore

    t = datagen.transcripts(spark, n_convs=30, seed=11)
    from tiktok_whisper_spark.operators.edges import turn_adjacency_edges, turn_tool_edges

    e = (
        turn_adjacency_edges(t, include_home=True)
        .unionByName(turn_tool_edges(t, include_home=True))
        .localCheckpoint()
    )
    store = CheckpointStore(str(tmp_path / "shared"))
    # 1) PageRank warms the dir with normalized shards
    pr = pagerank(e, tol=1e-8, max_iter=30, store=store, run_id="shared",
                  resume=False, scatter_mode="local")
    assert pr.converged
    # 2) LPA under the SAME store+run_id must NOT vote with normalized
    #    probabilities — the gate purges and rewrites raw shards
    lpa_shared = label_propagation(
        e, scatter_mode="local", max_iter=4, store=store, run_id="shared",
        resume=False,
    )
    lpa_fresh = label_propagation(
        e, scatter_mode="local", max_iter=4,
        store=CheckpointStore(str(tmp_path / "fresh")), resume=False,
    )
    got = {r["vid"]: r["label"] for r in lpa_shared.state.collect()}
    want = {r["vid"]: r["label"] for r in lpa_fresh.state.collect()}
    assert got == want
    # 3) PageRank back on the now-raw dir: gate purges again, ranks match a
    #    fresh run exactly (identical deterministic pipeline)
    pr2 = pagerank(e, tol=1e-8, max_iter=30, store=store, run_id="shared",
                   resume=False, scatter_mode="local")
    pr_fresh = pagerank(e, tol=1e-8, max_iter=30,
                        store=CheckpointStore(str(tmp_path / "prfresh")),
                        resume=False, scatter_mode="local")
    r2 = {r["vid"]: r["rank"] for r in pr2.state.collect()}
    rf = {r["vid"]: r["rank"] for r in pr_fresh.state.collect()}
    assert r2 == rf
    # 4) csr on the conversation-homed dir: re-sharded on hash homes
    csr = pagerank(e, tol=1e-8, max_iter=30, store=store, run_id="shared",
                   resume=False, scatter_mode="csr")
    assert all(r["home"] == r["vid"] for r in csr.state.collect())


def test_triangles_hub_split_matches_plain(spark):
    """The heavy-hitter wedge path (broadcast hub adjacency + explode) must
    count exactly what the plain wedge join counts — per vertex too. A
    star-plus-cliques graph forces a hot center at threshold 0 and mixes
    hot/cold centers at threshold 2."""
    import itertools

    triples = []
    # hub 0 connected to 1..12 (oriented out-degree concentrates somewhere)
    for i in range(1, 13):
        triples.append((0, i, 1.0))
    # triangles through the hub: close some spokes
    for i in range(1, 12, 2):
        triples.append((i, i + 1, 1.0))
    # a separate K4 (cold centers)
    for a, b in itertools.combinations(range(20, 24), 2):
        triples.append((a, b, 1.0))
    df = _edges_df(spark, triples)
    plain = triangle_counts(df, hub_split=False)
    want_total, want_pv = triangle_oracle(triples)
    assert plain.total == want_total
    for thr in (0, 2, None):
        split = triangle_counts(df, hub_split=True, hub_threshold=thr)
        assert split.total == want_total, f"threshold={thr}"
        got_pv = {r["vid"]: r["triangles"] for r in split.per_vertex.collect()}
        assert got_pv == want_pv, f"threshold={thr}"


def _labels_df(spark, pairs):
    return spark.createDataFrame(
        [(int(v), int(l)) for v, l in pairs], "vid long, label long"
    )


def _modularity_oracle(triples, labels):
    """Pure-python Newman Q over the symmetrized summed-weight graph."""
    s: dict[tuple[int, int], float] = {}
    for a, b, w in triples:
        if a == b:
            continue
        s[(a, b)] = s.get((a, b), 0.0) + w
        s[(b, a)] = s.get((b, a), 0.0) + w
    two_m = sum(s.values())
    a_c: dict[int, float] = {}
    e_in: dict[int, float] = {}
    for (u, v), w in s.items():
        c = labels[u]
        a_c[c] = a_c.get(c, 0.0) + w
        if labels[v] == c:
            e_in[c] = e_in.get(c, 0.0) + w
    q = sum(e_in.values()) / two_m - sum(a * a for a in a_c.values()) / (two_m * two_m)
    return len(a_c), q


def test_modularity_two_cliques_by_component(spark):
    """Component partition of K3+K4: every edge internal, Q = 1 − Σ(a_c/2m)²
    = 1 − (36+144)/324 = 4/9 exactly."""
    from tiktok_whisper_spark.graph import modularity

    labels = _labels_df(spark, [(v, 1) for v in (1, 2, 3)] + [(v, 10) for v in (10, 11, 12, 13)])
    row = modularity(_edges_df(spark, TWO_CLIQUES), labels).collect()[0]
    assert row["n_communities"] == 2
    assert row["modularity"] == pytest.approx(4.0 / 9.0, abs=1e-12)


def test_modularity_degenerate_partitions(spark):
    """One community → Q = 0 exactly; all-singletons → Q = −Σ(a_v/2m)²
    (= −4/27 on K3+K4: strengths 2×3 and 3×4, 2m = 18)."""
    from tiktok_whisper_spark.graph import modularity

    edges = _edges_df(spark, TWO_CLIQUES)
    vids = sorted({v for t in TWO_CLIQUES for v in t[:2]})
    one = modularity(edges, _labels_df(spark, [(v, 0) for v in vids])).collect()[0]
    assert one["n_communities"] == 1 and one["modularity"] == 0.0
    sing = modularity(edges, _labels_df(spark, [(v, v) for v in vids])).collect()[0]
    assert sing["n_communities"] == len(vids)
    assert sing["modularity"] == pytest.approx(-4.0 / 27.0, abs=1e-12)


@pytest.mark.parametrize("name", ["weighted", "cycle_dangling", "hub_star"])
def test_modularity_matches_oracle_on_lpa_labels(spark, name):
    """Q of the 3-superstep LPA partition on directed/weighted graphs
    (both-direction pairs, fractional weights, hubs) vs the pure-python
    oracle — exercises the symmetrize-and-sum path end to end."""
    from tiktok_whisper_spark.graph import modularity

    triples = GRAPHS[name]
    df = _edges_df(spark, triples)
    run = label_propagation(df, max_iter=3)
    labels = {r["vid"]: r["label"] for r in run.state.collect()}
    want_n, want_q = _modularity_oracle(triples, labels)
    row = modularity(df, run.state.select("vid", "label")).collect()[0]
    assert row["n_communities"] == want_n
    assert row["modularity"] == pytest.approx(want_q, abs=1e-12)


@pytest.mark.parametrize("name,seeds", [
    ("weighted", [1]),
    ("weighted", [2, 4]),
    ("cycle_dangling", [5]),       # dangling-only seed: D·t feedback loop
    ("hub_star", [1000, 7]),       # hub + leaf seed mix
])
@pytest.mark.parametrize("mode", ["csr", "sql"])
def test_ppr_matches_oracle(spark, name, seeds, mode):
    """Personalized PageRank (seed-uniform teleport + dangling mass) vs the
    NumPy oracle, on the csr file engine and the sql DataFrame path."""
    triples = GRAPHS[name]
    # tol 1e-10 at damping .85 needs ~140 supersteps (geometric rate)
    run = pagerank(
        _edges_df(spark, triples), scatter_mode=mode, teleport_seeds=seeds,
        tol=1e-10, max_iter=250,
    )
    assert run.converged
    got = {r["vid"]: r["rank"] for r in run.state.collect()}
    want = pagerank_oracle(triples, tol=1e-10, max_iter=250, teleport_seeds=seeds)
    vids = sorted(want)
    np.testing.assert_allclose(
        [got[v] for v in vids], [want[v] for v in vids], atol=1e-8, rtol=0
    )
    # teleport + dangling mass both land on seeds only → total mass stays 1
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_ppr_uniform_seed_set_equals_global(spark):
    """Seeding EVERY vertex reproduces global PageRank exactly (t ≡ 1/N)."""
    triples = GRAPHS["weighted"]
    vids = sorted({v for t in triples for v in t[:2]})
    df = _edges_df(spark, triples)
    g = pagerank(df, tol=1e-12)
    p = pagerank(df, tol=1e-12, teleport_seeds=vids)
    gg = {r["vid"]: r["rank"] for r in g.state.collect()}
    pp = {r["vid"]: r["rank"] for r in p.state.collect()}
    for v in gg:
        assert abs(gg[v] - pp[v]) < 1e-12


def test_ppr_missing_seed_raises(spark):
    with pytest.raises(ValueError, match="teleport seed"):
        pagerank(_edges_df(spark, GRAPHS["weighted"]), teleport_seeds=[999])
    with pytest.raises(ValueError, match="empty"):
        pagerank(_edges_df(spark, GRAPHS["weighted"]), teleport_seeds=[])


def test_ppr_local_mode_matches_dataframe_and_oracle(spark, tmp_path):
    """Local-mode PPR (seed constants folded into the file-superstep update,
    seeds in the params file) ≡ csr path ≡ oracle; resume under a different
    seed set refuses."""
    from tiktok_whisper_spark import datagen
    from tiktok_whisper_spark.operators.edges import turn_adjacency_edges, turn_tool_edges
    from tiktok_whisper_spark.sources.catalog import CheckpointStore

    t = datagen.transcripts(spark, n_convs=120, seed=7)
    e_home = (
        turn_adjacency_edges(t, include_home=True)
        .unionByName(turn_tool_edges(t, include_home=True))
        .localCheckpoint()
    )
    # seed on two tool hubs (remote-heavy) + one turn vertex (local-heavy)
    some = sorted(r["dst"] for r in e_home.select("dst").distinct().limit(3).collect())
    store = CheckpointStore(str(tmp_path / "l"))
    r_local = pagerank(
        e_home, scatter_mode="local", teleport_seeds=some,
        store=store, run_id="ppr-l", resume=False,
    )
    r_csr = pagerank(
        e_home.select("src", "dst", "weight"), scatter_mode="csr",
        teleport_seeds=some, store=CheckpointStore(str(tmp_path / "c")), resume=False,
    )
    assert r_local.converged and r_csr.converged
    gl = {r["vid"]: r["rank"] for r in r_local.state.collect()}
    gc = {r["vid"]: r["rank"] for r in r_csr.state.collect()}
    assert gl.keys() == gc.keys()
    for v in gl:
        assert abs(gl[v] - gc[v]) < 1e-12
    triples = [(r["src"], r["dst"], r["weight"]) for r in e_home.collect()]
    want = pagerank_oracle(triples, teleport_seeds=some)
    np.testing.assert_allclose(
        [gl[v] for v in sorted(gl)], [want[v] for v in sorted(want)], atol=1e-6
    )
    # same run_id, different seeds → refuse (silent blend of two recurrences)
    with pytest.raises(RuntimeError, match="teleport-seed"):
        pagerank(
            e_home, scatter_mode="local", teleport_seeds=some[:1],
            store=store, run_id="ppr-l", resume=True,
        )
    # ...and a global resume against a PPR run refuses too
    with pytest.raises(RuntimeError, match="teleport-seed"):
        pagerank(e_home, scatter_mode="local", store=store, run_id="ppr-l", resume=True)


def _homed_df(spark, triples, home_of):
    return spark.createDataFrame(
        [
            (int(s), int(d), float(w), int(home_of(s)), int(home_of(d)))
            for s, d, w in triples
        ],
        "src long, dst long, weight double, src_home long, dst_home long",
    )


@pytest.mark.parametrize(
    "name,home_of",
    [
        ("two_cliques", lambda v: v // 10),          # cliques co-homed: 3-local
        ("two_cliques", lambda v: v),                # every vertex its own home: 0-local
        ("two_cliques", lambda v: v % 2),            # mixed classes
        ("hub_star", lambda v: 0 if v < 1000 else 1),
        ("weighted", lambda v: v % 3),
        ("cycle_dangling", lambda v: 0),
    ],
)
def test_triangles_local_matches_plain_and_oracle(spark, name, home_of):
    """The locality decomposition (3-local in-partition wedges, 1-local
    remote-intersects, 0-local residual wedge join) must count exactly what
    the plain path and the brute-force oracle count — totals AND per-vertex
    — for co-homed, all-cross and mixed home assignments."""
    from tiktok_whisper_spark.graph import triangle_counts_local

    triples = GRAPHS[name]
    df = _homed_df(spark, triples, home_of)
    res = triangle_counts_local(df, num_partitions=8)
    want_total, want_pv = triangle_oracle(triples)
    assert res.total == want_total
    got_pv = {r["vid"]: r["triangles"] for r in res.per_vertex.collect()}
    assert got_pv == {v: c for v, c in want_pv.items() if c}
    plain = triangle_counts(df.select("src", "dst", "weight"))
    assert plain.total == res.total


def test_triangles_local_one_local_pair_all_orientations(spark):
    """1-local triangles must count regardless of which direction the cross
    edges point (R deals every cross edge to both endpoint homes)."""
    from tiktok_whisper_spark.graph import triangle_counts_local

    # (1,2) co-homed; 9 in another home; vary cross-edge orientations
    for e13, e23 in [((1, 9), (2, 9)), ((9, 1), (2, 9)), ((9, 1), (9, 2))]:
        triples = [(1, 2, 1.0), (e13[0], e13[1], 1.0), (e23[0], e23[1], 1.0)]
        df = _homed_df(spark, triples, lambda v: 0 if v < 9 else 1)
        res = triangle_counts_local(df, num_partitions=4)
        assert res.total == 1, triples
        assert {r["vid"]: r["triangles"] for r in res.per_vertex.collect()} == {
            1: 1, 2: 1, 9: 1,
        }


def test_triangles_local_transcript_graph(spark, tmp_path):
    """Home-keyed transcript edges: locality path ≡ plain path ≡ oracle."""
    from tiktok_whisper_spark import datagen
    from tiktok_whisper_spark.graph import triangle_counts_local
    from tiktok_whisper_spark.operators.edges import turn_adjacency_edges, turn_tool_edges

    t = datagen.transcripts(spark, n_convs=80, seed=3)
    e = (
        turn_adjacency_edges(t, include_home=True)
        .unionByName(turn_tool_edges(t, include_home=True))
        .localCheckpoint()
    )
    res = triangle_counts_local(e, num_partitions=8)
    triples = [(r["src"], r["dst"], r["weight"]) for r in e.collect()]
    want_total, want_pv = triangle_oracle(triples)
    assert res.total == want_total
    got_pv = {r["vid"]: r["triangles"] for r in res.per_vertex.collect()}
    assert got_pv == {v: c for v, c in want_pv.items() if c}


@pytest.mark.parametrize("name", list(GRAPHS))
@pytest.mark.parametrize("k", [2, 3])
def test_kcore_matches_oracle(spark, name, k):
    """k-core peeling vs sequential-peel oracle: vertex set AND in-core
    degrees, on cliques (k-core = K4 at k=3), hub stars (core collapses),
    weighted digraphs, and cycles."""
    from oracle.graph_oracle import kcore_oracle
    from tiktok_whisper_spark.graph import kcore

    triples = GRAPHS[name]
    got = {r["vid"]: r["degree"] for r in kcore(_edges_df(spark, triples), k).collect()}
    assert got == kcore_oracle(triples, k)


def test_kcore_known_values(spark):
    """Analytic: at k=3 the K3 dies and K4 survives whole; at k=4 nothing
    survives; a chain's 2-core is empty (peels leaf-by-leaf to nothing)."""
    from tiktok_whisper_spark.graph import kcore

    df = _edges_df(spark, TWO_CLIQUES)
    core3 = {r["vid"]: r["degree"] for r in kcore(df, 3).collect()}
    assert core3 == {10: 3, 11: 3, 12: 3, 13: 3}
    assert kcore(df, 4).count() == 0
    chain = _edges_df(spark, [(i, i + 1, 1.0) for i in range(12)])
    assert kcore(chain, 2).count() == 0


def test_kcore_transcript_graph(spark, transcript_edges):
    from oracle.graph_oracle import kcore_oracle
    from tiktok_whisper_spark.graph import kcore

    df, rows = transcript_edges
    got = {r["vid"]: r["degree"] for r in kcore(df, 2).collect()}
    assert got == kcore_oracle(rows, 2)


def test_padded_winners_all_negative_weights():
    """Pad slots are masked out of the argmax: with every real vote sum
    negative, the winner must still be a real label (max sum, min-label
    tie-break) — never the pad sentinel (the round-5 'weight-0 pads lose'
    assumption broke exactly here)."""
    from tiktok_whisper_spark.graph.lpa_local import _LAB_SENTINEL, _padded_winners

    votes_lab = np.array([7, 9, 7, 9], dtype=np.int64)
    w = np.array([-2.0, -1.0, -3.0, -3.0])
    # target 0: sums 7→-2, 9→-1 → winner 9; target 1: tie at -3 → min label 7
    slots = np.array([[0, 1, -1, -1], [2, 3, -1, -1]], dtype=np.int64)
    out = _padded_winners(votes_lab, w, slots)
    assert out[0] == 9 and out[1] == 7
    assert _LAB_SENTINEL not in out


_I64 = np.iinfo(np.int64)
VOTE_CASES = ["xxhash_labels", "small_labels", "ties", "all_negative", "single_label"]


def _vote_case(kind: str, seed: int, n_targets: int = 30, n: int = 400):
    """``(to, lab, w)`` vote triples; weights are multiples of 0.5, so every
    sum is exact in any association order."""
    rng = np.random.default_rng(seed)
    if kind == "small_labels":
        pool = np.arange(6, dtype=np.int64)
    elif kind == "single_label":
        pool = rng.integers(_I64.min, _I64.max, 1, dtype=np.int64)
    else:  # xxhash-like vertex ids: both signs, the int64 extremes included
        pool = np.concatenate([
            [_I64.min, _I64.max, -1, 0],
            rng.integers(_I64.min, _I64.max, 8, dtype=np.int64, endpoint=True),
        ]).astype(np.int64)
    if kind == "ties":
        # every target receives each of three labels twice with weight 1:
        # all sums tie and the min label must win
        labs = pool[[0, 2, 5]]
        to = np.repeat(np.arange(n_targets), 6)
        lab = np.tile(labs, 2 * n_targets)
        w = np.ones(len(to))
        perm = rng.permutation(len(to))
        return to[perm], lab[perm], w[perm]
    to = rng.integers(0, n_targets, n)
    lab = pool[rng.integers(0, len(pool), n)]
    w = rng.integers(1, 7, n) * 0.5
    if kind == "all_negative":
        w = -w
    elif kind == "single_label":
        w = w - 1.5  # mixed signs, zero sums included
    return to, lab, w


def _ref_winners(to, lab, w) -> dict:
    """Brute force: per target, max Σw then min label → ``(label, Σw)``."""
    sums: dict = {}
    for t, l, x in zip(to.tolist(), lab.tolist(), w.tolist()):
        per = sums.setdefault(t, {})
        per[l] = per.get(l, 0.0) + x
    return {t: min(per.items(), key=lambda kv: (-kv[1], kv[0])) for t, per in sums.items()}


@pytest.mark.parametrize("kind", VOTE_CASES)
def test_lpa_winners_match_bruteforce(kind):
    """``_winners`` resolves per-target votes in ``lpa.py``'s total order
    (max Σw, then min label), with and without the winners' sums, for
    int32 positions and int64 codes alike."""
    from tiktok_whisper_spark.graph.lpa_local import _winners

    to, lab, w = _vote_case(kind, seed=3)
    want = _ref_winners(to, lab, w)
    for dtype in (np.int32, np.int64):
        t = to.astype(dtype)
        tg, tl = _winners(t, lab, w)
        assert tg.dtype == dtype and list(tg) == sorted(want)
        assert dict(zip(tg.tolist(), tl.tolist())) == {k: v[0] for k, v in want.items()}
        tg, tl, ts = _winners(t, lab, w, return_sums=True)
        assert {k: (a, b) for k, a, b in zip(tg.tolist(), tl.tolist(), ts.tolist())} == want
    empty = np.empty(0, dtype=np.int64)
    assert all(len(a) == 0 for a in _winners(empty, empty, np.empty(0), return_sums=True))


@pytest.mark.parametrize("kind", VOTE_CASES)
def test_lpa_vote_files_round_trip(kind, tmp_path):
    """Votes written as exchange segments by several partitions, routed to
    the owner of each voted-on vertex and read back segment by segment,
    hold each writer's per-(vertex, label) sums exactly once, in the
    segment of the vertex's owner; each owner's ``_winners`` over what it
    reads gives the brute-force winner of every vertex it owns."""
    from tiktok_whisper_spark.graph.filesteps import read_segment, write_segments
    from tiktok_whisper_spark.graph.lpa_local import LPAFiles, _reduce_votes, _winners

    P, k, xdir, layout = 4, 3, str(tmp_path / "exchange"), LPAFiles.segment
    rng = np.random.default_rng(11)
    bs = np.unique(rng.integers(_I64.min, _I64.max, 7, dtype=np.int64))
    owner = rng.integers(0, P, len(bs)).astype(np.int32)
    writers = []
    for i, seed in enumerate((5, 6)):
        code, lab, w = _vote_case(kind, seed, n_targets=len(bs))
        writers.append((bs[code], lab, w))
        rc, rl, rw = _reduce_votes(code, lab, w)
        write_segments(xdir, i, k, P, layout, [(owner[rc], (bs[rc], rl, rw)), None])
    write_segments(xdir, 2, k, P, layout, None)  # a partition without votes
    n_writers = 3

    for i in range(n_writers):
        got: dict = {}
        for j in range(P):
            (b, lab, w), (rb, rl) = read_segment(xdir, i, j, k, layout)
            assert len(rb) == len(rl) == 0
            assert (owner[np.searchsorted(bs, b)] == j).all()
            for key, x in zip(zip(b.tolist(), lab.tolist()), w.tolist()):
                assert key not in got  # reduced: one row per (vertex, label)
                got[key] = x
        want: dict = {}
        if i < len(writers):
            b, lab, w = writers[i]
            for key, x in zip(zip(b.tolist(), lab.tolist()), w.tolist()):
                want[key] = want.get(key, 0.0) + x
        assert got == want
    with pytest.raises(RuntimeError, match="stale"):
        read_segment(xdir, 0, 0, k + 1, layout)
    with pytest.raises(RuntimeError, match=r"x-00003-00000\.bin is missing"):
        read_segment(xdir, 3, 0, k, layout)

    best: dict = {}
    for j in range(P):
        parts = [read_segment(xdir, i, j, k, layout)[0] for i in range(n_writers)]
        b = np.concatenate([p[0] for p in parts])
        if not len(b):
            continue
        b_uniq, bcode = np.unique(b, return_inverse=True)
        wt, wl, ws = _winners(
            bcode, np.concatenate([p[1] for p in parts]),
            np.concatenate([p[2] for p in parts]), return_sums=True,
        )
        for v, lab_, s in zip(b_uniq[wt].tolist(), wl.tolist(), ws.tolist()):
            assert v not in best  # one owner decides each vertex
            best[v] = (lab_, s)
    all_b = np.concatenate([wr[0] for wr in writers])
    all_l = np.concatenate([wr[1] for wr in writers])
    all_w = np.concatenate([wr[2] for wr in writers])
    assert best == _ref_winners(all_b, all_l, all_w)
