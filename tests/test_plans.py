"""Plan-shape regression tests: pushdown, pruning, broadcast, exchange count.

These encode the scale-readiness properties (SURVEY §4): a change that
silently blocks predicate pushdown or re-shuffles the persisted edge side
every superstep must fail here, not at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tiktok_whisper_spark.graph.scatter import prepare_edges, scatter_gather
from tiktok_whisper_spark.plans import explain


def test_filter_pushdown_and_pruning(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .where(F.col("o_orderstatus") == "O")
        .select("o_orderkey", "o_totalprice")
    )
    assert "o_orderstatus" in explain.pushed_filters(df)
    cols = explain.read_schema_columns(df)[0]
    # only the 3 referenced columns are read, not all 6
    assert set(cols) == {"o_orderkey", "o_totalprice", "o_orderstatus"}


def test_small_dim_broadcasts(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    j = li.join(F.broadcast(cust), li["l_orderkey"] == cust["c_custkey"])
    assert explain.has_broadcast_join(j)


def _combined_before_single_exchange(df, partial: str) -> None:
    """The gather pays one Exchange, fed by Catalyst's map-side partial
    aggregate (the plan string lists children below their parent)."""
    assert explain.runtime_exchange_count(df) == 1
    lines = explain.physical_plan(df).splitlines()
    ex = next(i for i, ln in enumerate(lines) if "Exchange hashpartitioning(dst" in ln)
    assert any(partial in ln for ln in lines[ex + 1:]), "\n".join(lines)
    assert not any(partial in ln for ln in lines[:ex]), "\n".join(lines)


def test_superstep_pays_single_exchange(spark):
    """The iterative hot loop: edges persisted by src, state localCheckpoint-ed
    by vid → the only paid shuffle is the gather groupBy(dst), combined
    map-side by Catalyst (partial_sum for PageRank, partial_min for CC) with
    no Python stage. With AQE off (as the runner sets it) localCheckpoint
    must preserve hashpartitioning(vid, P) — under AQE the checkpointed plan
    reports UnknownPartitioning and every superstep re-shuffles the WHOLE
    vertex state (the round-1 scaling killer)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        edges = spark.createDataFrame(
            [(i, (i * 7) % 500, 1.0) for i in range(2000)], "src long, dst long, weight double"
        )
        e = edges.groupBy("src", "dst").agg(F.sum("weight").alias("w"))
        outw = e.groupBy("src").agg(F.sum("w").alias("out_w"))
        enorm = e.join(outw, "src").select("src", "dst", (F.col("w") / F.col("out_w")).alias("p"))
        pe = prepare_edges(enorm, payload=("p",))
        state = (
            e.select(F.col("src").alias("vid")).distinct()
            .select("vid", F.lit(1e-3).alias("rank"))
            .repartition(8, "vid")
            .localCheckpoint(eager=True)
        )
        part = state._jdf.queryExecution().executedPlan().outputPartitioning().toString()
        assert "hashpartitioning" in part, part
        sums = scatter_gather(pe, state, F.col("p") * F.col("rank"))
        _combined_before_single_exchange(sums, "partial_sum")
        new = state.join(sums, state["vid"] == sums["dst"], "left_outer").select(
            state["vid"], F.coalesce(sums["c"], F.lit(0.0)).alias("rank")
        )
        assert explain.runtime_exchange_count(new) == 1
        assert "MapInPandas" not in explain.physical_plan(new)
        pe.unpersist()

        # the CC gather: min-label over the same persisted, src-partitioned edges
        pe = prepare_edges(e.select("src", "dst"))
        labels = state.select("vid", F.col("vid").alias("label"))
        mins = scatter_gather(pe, labels, F.col("label"), agg="min")
        _combined_before_single_exchange(mins, "partial_min")
        pe.unpersist()
        state.unpersist()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)


def test_paginate_never_globally_windows_full_input(spark, sf_dir):
    """W3 fix: pagination must plan as TakeOrderedAndProject (per-partition
    top-k + driver merge), never a single-partition window over ALL rows."""
    from tiktok_whisper_spark.operators.relational import paginate

    df = paginate(
        spark.read.parquet(f"{sf_dir}/orders.parquet"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        page=5,
        page_size=20,
    )
    plan = explain.physical_plan(df)
    assert "TakeOrderedAndProject" in plan
    # the window (offset slice) sits ABOVE the take — its input is ≤ hi rows
    assert plan.index("Window") < plan.index("TakeOrderedAndProject")


def test_hot_key_split_uses_broadcast_join_not_in_list(spark):
    """Hub-key edge splitting must be a broadcast semi/anti join against the
    hot-key DataFrame — a collected isin() list becomes a giant In(...)
    expression + driver round-trip on Zipf graphs at scale."""
    rows = [(0, d, 1.0) for d in range(1, 800)]  # vertex 0 = hub
    rows += [(i, (i + 1) % 900, 1.0) for i in range(1, 900)]
    edges = spark.createDataFrame(rows, "src long, dst long, weight double")
    pe = prepare_edges(edges, payload=("weight",))
    assert pe.hot is not None and pe.hot_vids is not None
    for side in (pe.cold, pe.hot):
        plan = explain.physical_plan(side)
        assert "BroadcastHashJoin" in plan
        assert " IN (" not in plan and "In(src" not in plan
    state = edges.select(F.col("src").alias("vid")).distinct().select(
        "vid", F.lit(1.0).alias("rank")
    )
    joined = scatter_gather(pe, state, F.col("weight") * F.col("rank"))
    assert "In(vid" not in explain.physical_plan(joined)
    pe.unpersist()


def test_lsh_gated_embedding_dedup_has_no_cross_join(spark, sf_dir):
    """The registered embedding-dedup scale path must contain no cartesian /
    nested-loop product — candidates come from the band equi-join only."""
    from tiktok_whisper_spark.operators.dedup import embedding_near_dups_lsh

    df = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = embedding_near_dups_lsh(df, "vec_id", "embedding", threshold=0.42)
    plan = explain.physical_plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_kmeans_lloyd_has_no_per_dimension_aggregates_or_id_rejoin(spark):
    """K2 fix: the Lloyd update reduces per-partition NumPy partials with ONE
    small groupBy — never `dim` separate avg(element_at(vec,i)) aggregate
    expressions (codegen blowup at 1536/3072-d) and never a by-id re-join of
    assignments to data."""
    import inspect

    from tiktok_whisper_spark.operators import similarity

    src = inspect.getsource(similarity.kmeans)
    assert "element_at" not in src
    assert 'join(data, "id")' not in src
    # and the returned assignment frame involves no join at all
    rows = [(i, [float(i % 4), float((i * 3) % 5)]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    km = similarity.kmeans(df, "vec_id", "embedding", k=3, max_iter=3)
    assert "Join" not in explain.physical_plan(km.assignments)


def test_tpch_q1_wholestage_codegen(spark, sf_dir):
    from tiktok_whisper_spark.queries import agg_tpch_q1

    df = agg_tpch_q1(spark, sf_dir)
    assert explain.wholestage_codegen_spans(df) >= 1
    # the shipdate filter reaches the scan
    assert "l_shipdate" in explain.pushed_filters(df)


def test_worker_zipimport_patch_active(spark):
    """The per-task floor fix must actually engage: local sessions select the
    pyspark_tw_worker module, and inside a (reused) worker the 3.12-backported
    mtime guard has replaced CPython ≤3.11's unconditional zip directory
    re-read (~125 ms/task measured without it — the dominant fixed cost of
    every python job on this interpreter)."""
    import sys

    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.worker.module", "") == "pyspark_tw_worker"

    def probe(it):
        import zipimport

        list(it)
        return [zipimport.zipimporter.invalidate_caches.__name__]

    (name,) = sc.runJob(sc.parallelize([0], 1), probe)
    if sys.version_info < (3, 12):
        assert name == "_invalidate_if_changed"
    else:  # upstream already guards; the shim is a pass-through
        assert name == "invalidate_caches"
