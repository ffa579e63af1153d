"""Transcript → link-graph derivation (vertices, edges, degrees, salting).

The reference holds both edge flavors implicitly (SURVEY.md §1.5):

* **role→tool edges** — every transcription row ties a user to a
  provider/tool (``provider_type``, reference
  ``internal/app/repository/transcription_dao.go:21``, recorded at
  ``internal/app/converter/convert.go:104,122,166``);
* **conversation-adjacency edges** — segments are strictly ordered within a
  transcript (``scripts/python/transcribe_utils.py:37-38``), giving
  ``turn_i → turn_{i+1}`` speaker transitions under the stable
  ``(conv_id, turn_idx)`` ordering.

Everything here is pure DataFrame API: the adjacency derivation is one
window ``lag``, weights are one ``groupBy``; Catalyst handles pushdown and
partial aggregation. Vertex ids are stable 64-bit ``xxhash64`` values so the
graph can be re-derived on any cluster size and match exactly.

Skew is a first-class concern: tools are Zipf-distributed (one hub tool like
the reference's dominant ``whisper_cpp`` provider), so this module also
provides the degree histogram and the hub-key cutoff the graph kernels salt.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "vertex_id",
    "turn_vertex_id",
    "derive_vertices",
    "derive_edges",
    "conv_home",
    "turn_adjacency_edges",
    "turn_tool_edges",
    "degrees",
    "hot_keys",
]

EDGE_SCHEMA_COLS = ("src", "dst", "weight", "etype")


def vertex_id(kind: Column | str, name: Column | str) -> Column:
    """Stable 64-bit vertex id from (kind, name) — xxhash64, JVM-side.

    The kind prefix namespaces roles vs tools so `user` the role can never
    collide with a hypothetical `user` tool.
    """
    kind = F.lit(kind) if isinstance(kind, str) else kind
    name = F.col(name) if isinstance(name, str) else name
    return F.xxhash64(F.concat_ws(":", kind, name))


def derive_vertices(transcripts: DataFrame) -> DataFrame:
    """Distinct role and tool vertices: ``(vid:int64, kind:string, name:string)``."""
    roles = (
        transcripts.select(F.col("role").alias("name"))
        .where(F.col("name").isNotNull())
        .distinct()
        .select(vertex_id("role", "name").alias("vid"), F.lit("role").alias("kind"), "name")
    )
    tools = (
        transcripts.select(F.col("tool").alias("name"))
        .where(F.col("name").isNotNull())
        .distinct()
        .select(vertex_id("tool", "name").alias("vid"), F.lit("tool").alias("kind"), "name")
    )
    return roles.unionByName(tools)


def role_tool_edges(transcripts: DataFrame) -> DataFrame:
    """One weighted edge per (role, tool) pair; weight = #turns using it."""
    return (
        transcripts.where(F.col("tool").isNotNull() & F.col("role").isNotNull())
        .groupBy("role", "tool")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
        .select(
            vertex_id("role", "role").alias("src"),
            vertex_id("tool", "tool").alias("dst"),
            "weight",
            F.lit("role_tool").alias("etype"),
        )
    )


def adjacency_edges(transcripts: DataFrame) -> DataFrame:
    """Speaker-transition edges ``role_{i} → role_{i+1}`` per conversation.

    Stable turn ordering = ``Window.partitionBy(conv_id).orderBy(turn_idx)``
    (the engine-side equivalent of the reference's ordered segment loop,
    ``scripts/python/transcribe_utils.py:37-38``).
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    return (
        transcripts.select("conv_id", "turn_idx", "role")
        .withColumn("prev_role", F.lag("role").over(w))
        .where(F.col("prev_role").isNotNull())
        .groupBy("prev_role", "role")
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
        .select(
            vertex_id("role", "prev_role").alias("src"),
            vertex_id("role", "role").alias("dst"),
            "weight",
            F.lit("adjacency").alias("etype"),
        )
    )


def turn_vertex_id(conv_id: Column | str, turn_idx: Column | str) -> Column:
    """Stable 64-bit id for a single turn vertex."""
    conv = F.col(conv_id) if isinstance(conv_id, str) else conv_id
    turn = F.col(turn_idx) if isinstance(turn_idx, str) else turn_idx
    return F.xxhash64(F.concat_ws(":", F.lit("turn"), conv, turn.cast("string")))


def conv_home(conv_id: Column | str) -> Column:
    """Locality key of a conversation — the `home` of all its turn vertices.

    Vertices sharing a home hash-partition together, which makes every
    turn-adjacency edge partition-LOCAL (src and dst are turns of the same
    conversation) — the property `scatter_mode="local"` exploits to keep
    ~96% of gather traffic out of the shuffle entirely.
    """
    conv = F.col(conv_id) if isinstance(conv_id, str) else conv_id
    return F.xxhash64(F.concat(F.lit("convhome:"), conv))


def turn_adjacency_edges(transcripts: DataFrame, include_home: bool = False) -> DataFrame:
    """Turn-granularity adjacency: vertex per turn, edge ``turn_i → turn_{i+1}``.

    This is the 10^12-scale graph shape (vertices ≈ turns): one window lag,
    one projection — no shuffle beyond the window's partitioning by conv.
    ``include_home=True`` adds the ``src_home``/``dst_home`` locality keys
    (both = the conversation's home — adjacency edges are always local).
    """
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    cols = [
        turn_vertex_id("conv_id", "prev_idx").alias("src"),
        turn_vertex_id("conv_id", "turn_idx").alias("dst"),
        F.lit(1.0).alias("weight"),
        F.lit("turn_adjacency").alias("etype"),
    ]
    if include_home:
        cols += [conv_home("conv_id").alias("src_home"), conv_home("conv_id").alias("dst_home")]
    return (
        transcripts.select("conv_id", "turn_idx")
        .withColumn("prev_idx", F.lag("turn_idx").over(w))
        .where(F.col("prev_idx").isNotNull())
        .select(*cols)
    )


def turn_tool_edges(transcripts: DataFrame, include_home: bool = False) -> DataFrame:
    """Turn → tool edges at turn granularity.

    Tools are Zipf-skewed, so a handful of tool vertices collect a massive
    in-degree (the hub/skew case the kernels' salting + partial aggregation
    is designed for). With ``include_home=True`` a tool's home is itself —
    tool edges are the (pre-reducible) remote minority."""
    cols = [
        turn_vertex_id("conv_id", "turn_idx").alias("src"),
        vertex_id("tool", "tool").alias("dst"),
        F.lit(1.0).alias("weight"),
        F.lit("turn_tool").alias("etype"),
    ]
    if include_home:
        cols += [
            conv_home("conv_id").alias("src_home"),
            vertex_id("tool", "tool").alias("dst_home"),
        ]
    return (
        transcripts.where(F.col("tool").isNotNull())
        .select(*cols)
    )


def derive_edges(
    transcripts: DataFrame,
    include: tuple[str, ...] = ("role_tool", "adjacency"),
) -> DataFrame:
    """Union of the requested edge flavors: ``(src, dst, weight, etype)``."""
    flavors = {
        "role_tool": role_tool_edges,
        "adjacency": adjacency_edges,
        "turn_adjacency": turn_adjacency_edges,
        "turn_tool": turn_tool_edges,
    }
    unknown = set(include) - set(flavors)
    if unknown:
        raise ValueError(f"unknown edge flavors {sorted(unknown)}; choose from {sorted(flavors)}")
    parts = [flavors[name](transcripts) for name in include]
    if not parts:
        raise ValueError("include must name at least one edge flavor")
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def degrees(edges: DataFrame) -> DataFrame:
    """Per-vertex degree table: ``(vid, out_deg, in_deg, out_weight, in_weight)``.

    One full-outer merge of the two directional aggregates; used both for
    analytics (A1-style stats) and to pick salting thresholds for hubs.
    """
    out_d = edges.groupBy(F.col("src").alias("vid")).agg(
        F.count(F.lit(1)).alias("out_deg"), F.sum("weight").alias("out_weight")
    )
    in_d = edges.groupBy(F.col("dst").alias("vid")).agg(
        F.count(F.lit(1)).alias("in_deg"), F.sum("weight").alias("in_weight")
    )
    return (
        out_d.join(in_d, "vid", "full_outer")
        .select(
            "vid",
            F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
            F.coalesce("out_weight", F.lit(0.0)).alias("out_weight"),
            F.coalesce("in_weight", F.lit(0.0)).alias("in_weight"),
        )
    )


def hot_keys(edges: DataFrame, key: str = "src", threshold: int | None = None) -> DataFrame:
    """Keys whose edge count exceeds ``threshold`` (hub vertices).

    With ``threshold=None`` the cutoff is data-driven: 10× the mean degree
    (min 64), computed from the degree histogram rather than a constant — Zipf hubs
    (a whisper_cpp-like dominant tool) can hold >50% of edges.
    Returns a small DataFrame ``(vid)`` suitable for broadcasting.
    """
    counts = edges.groupBy(F.col(key).alias("vid")).agg(F.count(F.lit(1)).alias("deg"))
    if threshold is None:
        mean_deg = counts.agg(F.avg("deg").alias("m")).collect()[0]["m"] or 0.0
        threshold = max(int(10 * mean_deg), 64)
    return counts.where(F.col("deg") > threshold).select("vid")

