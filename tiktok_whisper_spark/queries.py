"""Driver-contract query catalog: Spark implementations + DuckDB oracle SQL.

Every entry is one operator from SURVEY.md §2 (or a training-data-pipeline
operator) expressed twice:

* a Spark callable ``(spark, sf_dir) -> DataFrame`` built from the engine's
  operator library;
* an ANSI-SQL twin DuckDB runs over the same parquet tables.

Contract rules (driver compares row-count + schema + order-insensitive
value hash): every computed column is aliased identically on both sides;
float aggregates are ``round((x) + 1e-9, 6)`` on both sides; deterministic tie-breaks
on every top-k/limit.

Graph kernels are included with *id-invariant* or *arithmetically mapped*
vertex ids so DuckDB can verify them:

* ``graph_pagerank_5iter`` — 5 fixed supersteps over the event-type
  adjacency graph; the oracle unrolls the same recurrence (incl. dangling
  mass) through chained CTEs;
* ``graph_cc_labels`` — per-vertex component labels over a supplier↔part
  graph with arithmetic vertex ids, oracle = recursive-CTE min-label;
* ``graph_triangle_count`` — global triangle count (id-invariant).
"""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.vector import cosine_expr
from .graph import connected_components, pagerank, triangle_counts
from .operators import dedup, relational, text
from .operators.edges import vertex_id
from .sources.catalog import CheckpointStore

QueryFn = Callable[[SparkSession, str], DataFrame]
QUERY_FNS: dict[str, QueryFn] = {}
ORACLE_SQL: dict[str, str] = {}



def _r6(col) -> F.Column:
    """round(x, 6) with a +1e-9 nudge, the engine-portable rounding convention.

    Spark rounds the exact binary double (HALF_UP on BigDecimal(bits));
    DuckDB rounds the shortest decimal representation — on exact decimal
    ties (common with integer-ratio data, e.g. 259/320*0.3+0.7 =
    0.9428125) they disagree by 1 ulp of the 6th decimal. Nudging both
    engines' (bit-identical) inputs off the tie makes round() agree; the
    matching oracle SQL uses round(x + 1e-9, 6).
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(c + F.lit(1e-9), 6)

def _register(name: str, sql: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERY_FNS[name] = fn
        if sql is not None:
            ORACLE_SQL[name] = sql
        return fn

    return deco


def load(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# =============================================================================
# §2.4 aggregations
# =============================================================================

@_register(
    "agg_user_event_stats",
    "SELECT user_id, count(*) AS cnt, round((avg(value)) + 1e-9, 6) AS avg_value "
    "FROM events GROUP BY user_id",
)
def agg_user_event_stats(spark, sf_dir):
    """A1: per-user count + avg (reference scripts/sqlite/sql/query.sql:1-4)."""
    out = relational.group_stats(load(spark, sf_dir, "events"), "user_id", "value")
    return out.select("user_id", "cnt", _r6("avg_value").alias("avg_value"))


@_register(
    "agg_top_customers",
    "SELECT o_custkey, count(*) AS cnt FROM orders "
    "GROUP BY o_custkey ORDER BY cnt DESC, o_custkey LIMIT 20",
)
def agg_top_customers(spark, sf_dir):
    """A2: top-20 groups by count desc (reference web/handlers/api.go:377-388)."""
    return relational.top_groups(load(spark, sf_dir, "orders"), "o_custkey", 20)


@_register(
    "agg_conditional_counts",
    "SELECT count(*) AS total, "
    "count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS open_cnt, "
    "count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS finished_cnt, "
    "round((avg(o_totalprice)) + 1e-9, 6) AS avg_price FROM orders",
)
def agg_conditional_counts(spark, sf_dir):
    """A3: global stats w/ conditional counts (reference api.go:415-423)."""
    orders = load(spark, sf_dir, "orders")
    out = relational.conditional_counts(
        orders,
        {
            "open_cnt": F.col("o_orderstatus") == "O",
            "finished_cnt": F.col("o_orderstatus") == "F",
        },
    )
    avg_price = orders.agg(_r6(F.avg("o_totalprice")).alias("avg_price"))
    return out.crossJoin(avg_price)


@_register(
    "agg_status_rollup",
    "SELECT o_orderpriority, count(*) AS total, "
    "count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS open_cnt, "
    "count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS finished_cnt, "
    "round((min(o_totalprice)) + 1e-9, 6) AS min_price, round((max(o_totalprice)) + 1e-9, 6) AS max_price "
    "FROM orders GROUP BY o_orderpriority",
)
def agg_status_rollup(spark, sf_dir):
    """A4: per-group multi-aggregate rollup (reference pgvector.go:258-288)."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("open_cnt"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("finished_cnt"),
            _r6(F.min("o_totalprice")).alias("min_price"),
            _r6(F.max("o_totalprice")).alias("max_price"),
        )
    )


@_register(
    "agg_tpch_q1",
    "SELECT l_returnflag, l_linestatus, round((sum(l_quantity)) + 1e-9, 6) AS sum_qty, "
    "round((sum(l_extendedprice)) + 1e-9, 6) AS sum_base_price, "
    "round((sum(l_extendedprice * (1 - l_discount))) + 1e-9, 6) AS sum_disc_price, "
    "round((avg(l_quantity)) + 1e-9, 6) AS avg_qty, round((avg(l_discount)) + 1e-9, 6) AS avg_disc, "
    "count(*) AS count_order FROM lineitem "
    "WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
    "GROUP BY l_returnflag, l_linestatus",
)
def agg_tpch_q1(spark, sf_dir):
    """TPC-H Q1 shape: the canonical multi-aggregate scan."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            _r6(F.sum("l_quantity")).alias("sum_qty"),
            _r6(F.sum("l_extendedprice")).alias("sum_base_price"),
            _r6(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "sum_disc_price"
            ),
            _r6(F.avg("l_quantity")).alias("avg_qty"),
            _r6(F.avg("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_register(
    "agg_queue_stats",
    "SELECT event_type, count(*) AS cnt FROM events GROUP BY event_type",
)
def agg_queue_stats(spark, sf_dir):
    """A8: per-status queue sizes (reference redis_job_service.go:294-316)."""
    return load(spark, sf_dir, "events").groupBy("event_type").agg(F.count(F.lit(1)).alias("cnt"))


@_register(
    "agg_ewma_per_user",
    "WITH x AS (SELECT user_id, value, "
    "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn, "
    "count(*) OVER (PARTITION BY user_id) AS n FROM events) "
    "SELECT user_id, round((sum(CASE WHEN rn = 1 THEN power(0.8, n - 1) * value "
    "ELSE 0.2 * power(0.8, n - rn) * value END)) + 1e-9, 6) AS ewma_value "
    "FROM x GROUP BY user_id",
)
def agg_ewma_per_user(spark, sf_dir):
    """A6: EWMA (α=0.2) per user, closed form (reference metrics.go:33-41)."""
    ev = load(spark, sf_dir, "events")
    # deterministic ordering: (ts, event_id)
    out = relational.ewma(
        ev.withColumn("_ord", F.struct("ts", "event_id")), "user_id", "_ord", "value", alpha=0.2
    )
    return out.select("user_id", _r6("ewma_value").alias("ewma_value"))


@_register(
    "agg_cube_status_priority",
    "SELECT o_orderstatus, o_orderpriority, count(*) AS cnt FROM orders "
    "GROUP BY CUBE (o_orderstatus, o_orderpriority)",
)
def agg_cube_status_priority(spark, sf_dir):
    """Grouping-sets coverage (free in Spark; SURVEY §2.4 note)."""
    return (
        load(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@_register(
    "agg_argmax_event_per_user",
    "SELECT user_id, event_type, round((value) + 1e-9, 6) AS value FROM ("
    "SELECT user_id, event_type, value, "
    "row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn "
    "FROM events) WHERE rn = 1",
)
def agg_argmax_event_per_user(spark, sf_dir):
    """A7: cross-group argmax with deterministic tie-break (metrics.go:133-156)."""
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        load(spark, sf_dir, "events")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "event_type", _r6("value").alias("value"))
    )


# =============================================================================
# §2.2 filters / projections
# =============================================================================

@_register(
    "filter_like_preview",
    "SELECT doc_id, CASE WHEN length(text) > 40 THEN substr(text, 1, 40) || '...' "
    "ELSE text END AS preview FROM documents "
    "WHERE text IS NOT NULL AND text <> '' AND text LIKE '%spark%'",
)
def filter_like_preview(spark, sf_dir):
    """F3+F4+F9: LIKE search with preview projection (api.go:323-328)."""
    docs = load(spark, sf_dir, "documents")
    out = relational.like_search(relational.non_empty_text(docs, "text"), "text", "spark")
    return relational.preview_projection(out, "text", 40).select("doc_id", "preview")


@_register(
    "filter_date_range",
    "SELECT o_orderstatus, count(*) AS cnt FROM orders "
    "WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00' AND "
    "TIMESTAMP '1996-12-31 00:00:00' GROUP BY o_orderstatus",
)
def filter_date_range(spark, sf_dir):
    """F7: timestamp-range filter (reference repository/dao_extended.go:59-62)."""
    out = relational.date_range(
        load(spark, sf_dir, "orders"), "o_orderdate", "1995-01-01 00:00:00", "1996-12-31 00:00:00"
    )
    return out.groupBy("o_orderstatus").agg(F.count(F.lit(1)).alias("cnt"))


@_register(
    "filter_soft_delete",
    "SELECT event_id FROM (SELECT event_id, "
    "CASE WHEN event_id % 97 = 0 THEN ts END AS deleted_at FROM events) "
    "WHERE deleted_at IS NULL",
)
def filter_soft_delete(spark, sf_dir):
    """F6: soft-delete filter (reference transcription_v2.go:167,204,235,312 —
    every v2 read appends ``WHERE deleted_at IS NULL``). The events table has
    no tombstone column, so one is synthesized deterministically (every 97th
    event is 'deleted'); the operator itself is the plain null filter."""
    ev = load(spark, sf_dir, "events").withColumn(
        "deleted_at", F.when(F.col("event_id") % 97 == 0, F.col("ts"))
    )
    return relational.exclude_soft_deleted(ev, "deleted_at").select("event_id")


@_register(
    "filter_json_extract",
    "SELECT event_id, coalesce(json_extract_string(props, '$.k'), '0') AS k_val "
    "FROM events WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) > 90",
)
def filter_json_extract(spark, sf_dir):
    """C14/C15+F10: JSON field extraction with COALESCE default
    (reference whisper_job_processor.go:138-146; api.go:294)."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return (
        ev.where(k.cast("int") > 90)
        .select("event_id", F.coalesce(k, F.lit("0")).alias("k_val"))
    )


# =============================================================================
# §2.5 windows / ordering
# =============================================================================

@_register(
    "window_pagination",
    "SELECT o_orderkey, round((o_totalprice) + 1e-9, 6) AS o_totalprice FROM orders "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 20 OFFSET 100",
)
def window_pagination(spark, sf_dir):
    """W3: limit/offset pagination (reference repository/dao_extended.go:52,62)."""
    out = relational.paginate(
        load(spark, sf_dir, "orders"),
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        page=5,
        page_size=20,
    )
    return out.select("o_orderkey", _r6("o_totalprice").alias("o_totalprice"))


@_register(
    "window_topk_per_group",
    "SELECT o_custkey, o_orderkey FROM (SELECT o_custkey, o_orderkey, "
    "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn "
    "FROM orders) WHERE rn <= 3",
)
def window_topk_per_group(spark, sf_dir):
    """W4: top-k per group (reference search_helpers.go:62-63 generalized)."""
    out = relational.top_k_per_group(
        load(spark, sf_dir, "orders"),
        "o_custkey",
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        3,
    )
    return out.select("o_custkey", "o_orderkey")


@_register(
    "window_running_total",
    "SELECT o_custkey, o_orderkey, round((sum(o_totalprice) OVER ("
    "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) + 1e-9, 6) AS running_total FROM orders",
)
def window_running_total(spark, sf_dir):
    """W-extra: per-group running sum under stable ordering (W1 analog)."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        load(spark, sf_dir, "orders")
        .select(
            "o_custkey", "o_orderkey", _r6(F.sum("o_totalprice").over(w)).alias("running_total")
        )
    )


@_register(
    "window_sessionization",
    "WITH g AS (SELECT user_id, CASE WHEN ts - lag(ts) OVER "
    "(PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE "
    "OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL "
    "THEN 1 ELSE 0 END AS new_session FROM events) "
    "SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions FROM g GROUP BY user_id",
)
def window_sessionization(spark, sf_dir):
    """Sessionization: lag-gap > 30 min starts a new session (guide pattern)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    new_s = F.when(
        prev.isNull() | (F.col("ts") - prev > F.expr("INTERVAL 30 MINUTES")), 1
    ).otherwise(0)
    return (
        load(spark, sf_dir, "events")
        .withColumn("new_session", new_s)
        .groupBy("user_id")
        .agg(F.sum("new_session").cast("bigint").alias("n_sessions"))
    )


# =============================================================================
# §2.3 joins / §2.6 sets
# =============================================================================

@_register(
    "join_revenue_by_segment",
    "SELECT c.c_mktsegment, round((sum(l.l_extendedprice * (1 - l.l_discount))) + 1e-9, 6) AS revenue, "
    "count(*) AS cnt FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey "
    "JOIN customer c ON o.o_custkey = c.c_custkey GROUP BY c.c_mktsegment",
)
def join_revenue_by_segment(spark, sf_dir):
    """J1: FK joins fact→dim with broadcast of the small dims."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            _r6(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias("revenue"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


@_register(
    "join_customers_without_orders",
    "SELECT c_custkey FROM customer c WHERE NOT EXISTS "
    "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
)
def join_customers_without_orders(spark, sf_dir):
    """F12/J4 anti-join: the unprocessed-files filter shape (convert.go:232-262)."""
    cust = load(spark, sf_dir, "customer").select(F.col("c_custkey"))
    done = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return relational.unprocessed_anti_join(cust, done, "c_custkey")


@_register(
    "join_customers_with_orders",
    "SELECT c_custkey FROM customer c WHERE EXISTS "
    "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
)
def join_customers_with_orders(spark, sf_dir):
    """J4 semi-join existence probe (transcription.go:29-35)."""
    cust = load(spark, sf_dir, "customer").select(F.col("c_custkey"))
    done = load(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return relational.processed_semi_join(cust, done, "c_custkey")


@_register(
    "set_union_dedup",
    "SELECT DISTINCT o_orderkey FROM (SELECT o_orderkey FROM orders WHERE o_totalprice > 100000 "
    "UNION ALL SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')",
)
def set_union_dedup(spark, sf_dir):
    """J2/U1: union worklists + dedup by id (batch_processor.go:177-195)."""
    orders = load(spark, sf_dir, "orders")
    a = orders.where(F.col("o_totalprice") > 100000).select("o_orderkey")
    b = orders.where(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    return relational.union_dedup(a, b, "o_orderkey")


@_register(
    "join_retry_overlay",
    "WITH base AS (SELECT user_id, value FROM (SELECT user_id, value, "
    "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn "
    "FROM events WHERE event_type = 'view') WHERE rn = 1), "
    "retry AS (SELECT user_id, value FROM (SELECT user_id, value, "
    "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn "
    "FROM events WHERE event_type = 'click') WHERE rn = 1) "
    "SELECT base.user_id, round((coalesce(retry.value, base.value)) + 1e-9, 6) AS final_value "
    "FROM base LEFT JOIN retry ON base.user_id = retry.user_id",
)
def join_retry_overlay(spark, sf_dir):
    """J3: overlay retry results over first pass (workflows/batch.go:40-81)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())

    def latest(etype):
        return (
            ev.where(F.col("event_type") == etype)
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("user_id", "value")
        )

    out = relational.retry_overlay(latest("view"), latest("click"), "user_id")
    return out.select("user_id", _r6("value").alias("final_value"))


# =============================================================================
# Text analysis (training-data ops)
# =============================================================================

_TEXT_NORM_SQL = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"

@_register(
    "text_profile",
    "SELECT doc_id, "
    "CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens, "
    f"md5({_TEXT_NORM_SQL}) AS fp "
    "FROM documents",
)
def text_profile_q(spark, sf_dir):
    """Token counting + fingerprinting (text-analysis ops, SURVEY datagen §2.7)."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        text.token_count("text").alias("n_tokens"),
        text.fingerprint("text").alias("fp"),
    )


@_register(
    "text_quality_lang",
    "WITH t AS (SELECT doc_id, text, length(text)::DOUBLE AS n_chars, "
    "len(string_split_regex(trim(text), '\\s+'))::DOUBLE AS n_tokens, "
    "length(regexp_replace(text, '[^a-zA-Z一-鿿]', '', 'g'))::DOUBLE AS alpha, "
    "length(regexp_replace(text, '[^一-鿿]', '', 'g'))::DOUBLE AS cjk, "
    "len(list_filter(string_split_regex(lower(trim(text)), '\\s+'), "
    "x -> x IN ('the','a','of','and','to','in','is','it','that','for')))::DOUBLE AS stop_hits "
    "FROM documents WHERE text IS NOT NULL AND text <> '') "
    "SELECT doc_id, round(("
    "(CASE WHEN n_chars BETWEEN 20 AND 10000 THEN 1.0 ELSE 0.3 END) * 0.4 + "
    "(CASE WHEN n_tokens > 0 AND n_chars / n_tokens BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.5 END) * 0.3 + "
    "(CASE WHEN n_chars > 0 THEN alpha / n_chars ELSE 0.0 END) * 0.3) + 1e-9, 6) AS quality, "
    "CASE WHEN n_chars > 0 AND cjk / n_chars > 0.3 THEN 'zh' "
    "WHEN n_tokens > 0 AND stop_hits / n_tokens >= 0.05 THEN 'en' ELSE 'unknown' END AS lang_guess "
    "FROM t",
)
def text_quality_lang(spark, sf_dir):
    """Quality scoring + language-ID heuristic over documents."""
    docs = relational.non_empty_text(load(spark, sf_dir, "documents"), "text")
    return docs.select(
        "doc_id",
        _r6(text.quality_score("text")).alias("quality"),
        text.lang_id("text").alias("lang_guess"),
    )


# =============================================================================
# Deduplication suite
# =============================================================================

@_register(
    "dedup_exact",
    f"SELECT md5({_TEXT_NORM_SQL}) AS fp, count(*) AS n_copies, min(doc_id) AS keep_id "
    "FROM documents GROUP BY 1",
)
def dedup_exact_q(spark, sf_dir):
    return dedup.exact_dedup(load(spark, sf_dir, "documents"), "doc_id", "text")


_SHINGLE_SQL = (
    "WITH toks AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t FROM documents), "
    "sh AS (SELECT DISTINCT doc_id, array_to_string(t[ix.i:ix.i+2], ' ') AS shingle "
    "FROM toks, LATERAL (SELECT unnest(range(1, len(t) - 1)) AS i) ix WHERE len(t) >= 3)"
)

@_register(
    "dedup_ngram_jaccard",
    _SHINGLE_SQL + ", "
    "sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id), "
    "shared AS (SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared FROM sh a "
    "JOIN sh b USING (shingle) WHERE a.doc_id < b.doc_id GROUP BY 1, 2) "
    "SELECT a, b, round((shared::DOUBLE / (sa.sz + sb.sz - shared)) + 1e-9, 6) AS jaccard "
    "FROM shared JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b "
    "WHERE shared::DOUBLE / (sa.sz + sb.sz - shared) >= 0.5",
)
def dedup_ngram_jaccard_q(spark, sf_dir):
    out = dedup.ngram_jaccard_pairs(
        load(spark, sf_dir, "documents"), "doc_id", "text", n=3, threshold=0.5
    )
    return out.select("a", "b", _r6("jaccard").alias("jaccard"))


_MINHASH_SQL_PREFIX = _SHINGLE_SQL + ", sigs AS (SELECT doc_id, " + ", ".join(
    f"min(md5(shingle || ':{k}')) AS h{k}" for k in range(8)
) + " FROM sh GROUP BY doc_id)"

@_register(
    "dedup_minhash_signatures",
    _MINHASH_SQL_PREFIX + " SELECT doc_id, h0, h1, h2, h3, h4, h5, h6, h7 FROM sigs",
)
def dedup_minhash_signatures_q(spark, sf_dir):
    sigs = dedup.minhash_signatures(load(spark, sf_dir, "documents"), "doc_id", "text", n=3, num_hashes=8)
    return sigs.select(
        "doc_id", *[F.element_at("sig", k + 1).alias(f"h{k}") for k in range(8)]
    )


@_register(
    "dedup_minhash_lsh",
    _MINHASH_SQL_PREFIX + ", "
    "bands AS ("
    + " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, md5(h{2*b} || '|' || h{2*b+1}) AS bhash, "
        "h0, h1, h2, h3, h4, h5, h6, h7 FROM sigs"
        for b in range(4)
    )
    + "), pairs AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b, "
    + " + ".join(f"(CASE WHEN a.h{k} = b.h{k} THEN 1 ELSE 0 END)" for k in range(8))
    + " AS eq FROM bands a JOIN bands b ON a.band = b.band AND a.bhash = b.bhash "
    "AND a.doc_id < b.doc_id) "
    "SELECT a, b, round((eq / 8.0) + 1e-9, 6) AS est_jaccard FROM pairs",
)
def dedup_minhash_lsh_q(spark, sf_dir):
    # Single linear plan: signatures (one mapInPandas pass) feed exactly ONE
    # consumer now — the banded repartition + in-partition scorer — so the
    # round-5 localCheckpoint barrier (needed when the band self-join +
    # signature re-attach consumed sigs three times) is gone along with its
    # eager materialization.
    sigs = dedup.minhash_signatures(
        load(spark, sf_dir, "documents"), "doc_id", "text", n=3, num_hashes=8
    )
    out = dedup.minhash_lsh_candidates(sigs, bands=4, rows_per_band=2)
    return out.select("a", "b", _r6("est_jaccard").alias("est_jaccard"))


@_register(
    "dedup_embedding_cosine",
    "SELECT a.vec_id AS a, b.vec_id AS b, "
    "round((list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])) + 1e-9, 6) AS cos "
    "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id "
    "WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.42",
)
def dedup_embedding_cosine_q(spark, sf_dir):
    """J8: all-pairs embedding near-duplicates (reference README.md:216) —
    the exact testable form; the registered scale path is
    ``dedup_embedding_lsh_gated``."""
    out = dedup.embedding_near_dups(load(spark, sf_dir, "embeddings"), "vec_id", "embedding", 0.42)
    return out.select("a", "b", _r6("cos").alias("cos"))


def _srp_bits_sql(bands: int, width: int) -> str:
    """DuckDB twin of the sign-random-projection band bits."""
    bits = " || ".join(
        f"CASE WHEN embedding[band*{width}+{d+1}] >= 0 THEN '1' ELSE '0' END"
        for d in range(width)
    )
    return (
        f"WITH bk AS (SELECT vec_id, band, bits FROM "
        f"(SELECT vec_id, unnest(range({bands})) AS band, embedding FROM embeddings "
        f"WHERE embedding IS NOT NULL) t, LATERAL (SELECT {bits} AS bits) x)"
    )


@_register(
    "dedup_embedding_lsh_gated",
    _srp_bits_sql(4, 8) + ", "
    "cand AS (SELECT DISTINCT a.vec_id AS a, b.vec_id AS b FROM bk a JOIN bk b "
    "ON a.band = b.band AND a.bits = b.bits AND a.vec_id < b.vec_id) "
    "SELECT cand.a, cand.b, "
    "round((list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[])) + 1e-9, 6) AS cos "
    "FROM cand JOIN embeddings ea ON ea.vec_id = cand.a "
    "JOIN embeddings eb ON eb.vec_id = cand.b "
    "WHERE list_cosine_similarity(ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) >= 0.42",
)
def dedup_embedding_lsh_gated_q(spark, sf_dir):
    """Embedding near-dups, LSH candidates → exact scorer — the 100-TB
    registered path (reference README.md:216): no all-pairs cross join
    anywhere in the plan; the oracle replays the identical sign-LSH banding."""
    out = dedup.embedding_near_dups_lsh(
        load(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        threshold=0.42, bands=4, band_width=8,
    )
    return out.select("a", "b", _r6("cos").alias("cos"))


@_register(
    "dedup_embedding_by_group",
    "SELECT a.vec_id AS a, b.vec_id AS b, a.label, "
    "round((list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[])) + 1e-9, 6) AS cos "
    "FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id "
    "WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.42",
)
def dedup_embedding_by_group_q(spark, sf_dir):
    """Group-scoped duplicate detection — the reference's ``embed duplicates
    --user <name>`` (README.md:216; DUAL_EMBEDDING_TDD_PLAN.md:742-743) with
    label standing in for user_nickname."""
    out = dedup.embedding_near_dups_grouped(
        load(spark, sf_dir, "embeddings"), "vec_id", "embedding", "label", threshold=0.42
    )
    return out.select("a", "b", "label", _r6("cos").alias("cos"))


# =============================================================================
# Vector search
# =============================================================================

@_register(
    "vector_knn_cosine",
    "SELECT vec_id AS id, round((sim) + 1e-9, 6) AS similarity FROM ("
    "SELECT vec_id, list_cosine_similarity(embedding::DOUBLE[], "
    "(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 0)) AS sim FROM embeddings) "
    "ORDER BY sim DESC, vec_id LIMIT 10",
)
def vector_knn_cosine(spark, sf_dir):
    """J6: 1×N cosine top-k (reference web/handlers/search_helpers.go:35-100)."""
    from .operators.similarity import knn_search

    emb = load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    out = knn_search(emb, "vec_id", "embedding", [float(x) for x in q], k=10)
    return out.select("id", _r6("similarity").alias("similarity"))


@_register("vector_pairwise_similarity",
    "SELECT 1 AS id1, 2 AS id2, round((list_cosine_similarity("
    "(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 1), "
    "(SELECT embedding::DOUBLE[] FROM embeddings WHERE vec_id = 2))) + 1e-9, 6) AS cos",
)
def vector_pairwise_similarity(spark, sf_dir):
    """J7: pairwise similarity by ids (reference README.md:213)."""
    from .operators.similarity import pairwise_similarity

    out = pairwise_similarity(load(spark, sf_dir, "embeddings"), "vec_id", "embedding", 1, 2)
    return out.select(
        F.col("id1").cast("int").alias("id1"),
        F.col("id2").cast("int").alias("id2"),
        _r6("cos").alias("cos"),
    )


# =============================================================================
# Graph kernels (driver-verifiable forms)
# =============================================================================

_ADJ_EDGES_SQL = (
    "WITH seq AS (SELECT user_id, event_type, "
    "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev "
    "FROM events), "
    "e AS (SELECT prev AS src_name, event_type AS dst_name, CAST(count(*) AS DOUBLE) AS weight "
    "FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2)"
)


def _event_adjacency_named(spark, sf_dir) -> DataFrame:
    """Conv-adjacency edge derivation over the events table (role = event_type,
    conversation = user): (src_name, dst_name, weight)."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .where(F.col("prev").isNotNull())
        .groupBy(F.col("prev").alias("src_name"), F.col("event_type").alias("dst_name"))
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )


@_register("graph_adjacency_edges", _ADJ_EDGES_SQL + " SELECT src_name, dst_name, weight FROM e")
def graph_adjacency_edges(spark, sf_dir):
    """Edge derivation via lag under stable ordering (SURVEY §1.5)."""
    return _event_adjacency_named(spark, sf_dir)


@_register(
    "graph_role_tool_edges",
    "SELECT event_type AS role, 'tool_' || CAST(CAST(json_extract_string(props, '$.k') AS INTEGER) % 5 AS VARCHAR) AS tool, "
    "CAST(count(*) AS DOUBLE) AS weight FROM events "
    "WHERE CAST(json_extract_string(props, '$.k') AS INTEGER) % 4 <> 0 GROUP BY 1, 2",
)
def graph_role_tool_edges(spark, sf_dir):
    """role→tool edge derivation (provider_type analog, SURVEY §1.5)."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.where(k % 4 != 0)
        .groupBy(
            F.col("event_type").alias("role"),
            F.concat(F.lit("tool_"), (k % 5).cast("string")).alias("tool"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )


@_register(
    "graph_degrees",
    _ADJ_EDGES_SQL + ", "
    "outd AS (SELECT src_name AS name, count(*) AS out_deg, sum(weight) AS out_weight FROM e GROUP BY 1), "
    "ind AS (SELECT dst_name AS name, count(*) AS in_deg, sum(weight) AS in_weight FROM e GROUP BY 1) "
    "SELECT coalesce(outd.name, ind.name) AS name, "
    "coalesce(out_deg, 0) AS out_deg, coalesce(in_deg, 0) AS in_deg, "
    "round((coalesce(out_weight, 0)) + 1e-9, 6) AS out_weight, round((coalesce(in_weight, 0)) + 1e-9, 6) AS in_weight "
    "FROM outd FULL OUTER JOIN ind ON outd.name = ind.name",
)
def graph_degrees(spark, sf_dir):
    """Degree table over the derived adjacency graph."""
    e = _event_adjacency_named(spark, sf_dir)
    outd = e.groupBy(F.col("src_name").alias("name")).agg(
        F.count(F.lit(1)).alias("out_deg"), F.sum("weight").alias("out_weight")
    )
    ind = e.groupBy(F.col("dst_name").alias("name")).agg(
        F.count(F.lit(1)).alias("in_deg"), F.sum("weight").alias("in_weight")
    )
    return outd.join(ind, "name", "full_outer").select(
        "name",
        F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
        F.coalesce("in_deg", F.lit(0)).alias("in_deg"),
        _r6(F.coalesce("out_weight", F.lit(0.0))).alias("out_weight"),
        _r6(F.coalesce("in_weight", F.lit(0.0))).alias("in_weight"),
    )


def _pagerank5_sql() -> str:
    """Chained-CTE unroll of 5 PageRank supersteps (damping .85, dangling mass)."""
    parts = [
        _ADJ_EDGES_SQL + ", "
        "ow AS (SELECT src_name AS name, sum(weight) AS out_w FROM e GROUP BY 1), "
        "v AS (SELECT DISTINCT name FROM (SELECT src_name AS name FROM e "
        "UNION ALL SELECT dst_name FROM e)), "
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v), "
        "p AS (SELECT e.src_name AS src, e.dst_name AS dst, e.weight / ow.out_w AS p "
        "FROM e JOIN ow ON e.src_name = ow.name), "
        "r0 AS (SELECT v.name, 1.0 / nn.n AS rank FROM v, nn)"
    ]
    for i in range(1, 6):
        prev = f"r{i-1}"
        parts.append(
            f", d{i} AS (SELECT coalesce(sum(r.rank), 0.0) AS dm FROM {prev} r "
            f"LEFT JOIN ow ON r.name = ow.name WHERE ow.name IS NULL)"
            f", s{i} AS (SELECT p.dst AS name, sum(p.p * r.rank) AS c "
            f"FROM p JOIN {prev} r ON p.src = r.name GROUP BY p.dst)"
            f", r{i} AS (SELECT v.name, 0.15 / nn.n + 0.85 * (coalesce(s.c, 0.0) + d.dm / nn.n) AS rank "
            f"FROM v CROSS JOIN nn CROSS JOIN d{i} d LEFT JOIN s{i} s ON v.name = s.name)"
        )
    parts.append(" SELECT name, round((rank) + 1e-9, 6) AS rank FROM r5")
    return "".join(parts)


def _ranks(run, store: CheckpointStore) -> DataFrame:
    """``(vid, rank)`` of a PageRank run held in executor memory, then its
    store deleted: file-backed state is read from the store when evaluated."""
    ranks = run.state.select("vid", "rank").localCheckpoint(eager=True)
    shutil.rmtree(store.root, ignore_errors=True)
    return ranks


@_register("graph_pagerank_5iter", _pagerank5_sql())
def graph_pagerank_5iter(spark, sf_dir):
    """PageRank, 5 fixed supersteps, over the event-adjacency graph — the
    default csr mode on the file-superstep engine (hash homes, per-superstep
    file checkpoints), verified by the chained-CTE SQL oracle."""
    named = _event_adjacency_named(spark, sf_dir)
    edges = named.select(
        vertex_id("role", "src_name").alias("src"),
        vertex_id("role", "dst_name").alias("dst"),
        "weight",
    )
    names = (
        named.select(F.col("src_name").alias("name"))
        .unionByName(named.select(F.col("dst_name").alias("name")))
        .distinct()
        .select(vertex_id("role", "name").alias("vid"), "name")
    )
    store = CheckpointStore(tempfile.mkdtemp(prefix="twspark_q_pr_"))
    run = pagerank(
        edges,
        max_iter=5,
        tol=1e-18,  # never converges early → exactly 5 supersteps
        store=store,
        resume=False,
    )
    return _ranks(run, store).join(names, "vid").select("name", _r6("rank").alias("rank"))


def _ppr5_sql() -> str:
    """Chained-CTE unroll of 5 personalized-PageRank supersteps: teleport AND
    dangling mass land only on the seed (the alphabetically-first vertex —
    replayable in any engine), ``r' = (1-d)·t + d·(gather + D·t)``; init 1/N
    exactly as the engine's."""
    parts = [
        _ADJ_EDGES_SQL + ", "
        "ow AS (SELECT src_name AS name, sum(weight) AS out_w FROM e GROUP BY 1), "
        "v AS (SELECT DISTINCT name FROM (SELECT src_name AS name FROM e "
        "UNION ALL SELECT dst_name FROM e)), "
        "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM v), "
        "sd AS (SELECT min(name) AS sname FROM v), "
        "p AS (SELECT e.src_name AS src, e.dst_name AS dst, e.weight / ow.out_w AS p "
        "FROM e JOIN ow ON e.src_name = ow.name), "
        "r0 AS (SELECT v.name, 1.0 / nn.n AS rank FROM v, nn)"
    ]
    for i in range(1, 6):
        prev = f"r{i-1}"
        parts.append(
            f", d{i} AS (SELECT coalesce(sum(r.rank), 0.0) AS dm FROM {prev} r "
            f"LEFT JOIN ow ON r.name = ow.name WHERE ow.name IS NULL)"
            f", s{i} AS (SELECT p.dst AS name, sum(p.p * r.rank) AS c "
            f"FROM p JOIN {prev} r ON p.src = r.name GROUP BY p.dst)"
            f", r{i} AS (SELECT v.name, 0.85 * coalesce(s.c, 0.0) + "
            f"CASE WHEN v.name = sd.sname THEN 0.15 + 0.85 * d.dm ELSE 0.0 END AS rank "
            f"FROM v CROSS JOIN sd CROSS JOIN d{i} d LEFT JOIN s{i} s ON v.name = s.name)"
        )
    parts.append(" SELECT name, round((rank) + 1e-9, 6) AS rank FROM r5")
    return "".join(parts)


@_register("graph_ppr_5iter", _ppr5_sql())
def graph_ppr_5iter(spark, sf_dir):
    """Personalized PageRank seeded on one vertex (the alphabetically-first
    event name), 5 fixed supersteps through the full engine path — the
    graph-native "similar items relative to THIS item" surface (reference
    analog: per-item similarity search, pgvector.go:258-288), verified by
    the chained-CTE SQL oracle."""
    named = _event_adjacency_named(spark, sf_dir)
    edges = named.select(
        vertex_id("role", "src_name").alias("src"),
        vertex_id("role", "dst_name").alias("dst"),
        "weight",
    )
    names = (
        named.select(F.col("src_name").alias("name"))
        .unionByName(named.select(F.col("dst_name").alias("name")))
        .distinct()
        .select(vertex_id("role", "name").alias("vid"), "name")
    )
    seed_vid = names.agg(F.min_by("vid", "name")).collect()[0][0]
    store = CheckpointStore(tempfile.mkdtemp(prefix="twspark_q_ppr_"))
    run = pagerank(
        edges,
        max_iter=5,
        tol=1e-18,  # never converges early → exactly 5 supersteps
        store=store,
        resume=False,
        teleport_seeds=[seed_vid],
    )
    return _ranks(run, store).join(names, "vid").select("name", _r6("rank").alias("rank"))


_SP_EDGES_SQL = (
    "WITH e AS (SELECT DISTINCT l_suppkey * 10 + 1 AS src, l_partkey * 10 + 2 AS dst "
    "FROM lineitem WHERE l_partkey % 20 = 0)"
)

@_register(
    "graph_cc_labels",
    _SP_EDGES_SQL.replace("WITH ", "WITH RECURSIVE ", 1) + ", "
    "u AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e), "
    "v AS (SELECT DISTINCT src AS vid FROM u), "
    "reach(vid, r) AS (SELECT vid, vid FROM v UNION "
    "SELECT u.dst, reach.r FROM reach JOIN u ON u.src = reach.vid) "
    "SELECT vid, min(r) AS label FROM reach GROUP BY vid",
)
def graph_cc_labels(spark, sf_dir):
    """Connected components with arithmetic vertex ids (supplier↔part graph),
    verified per-vertex by a recursive-CTE oracle. Requires WITH RECURSIVE in
    the oracle engine."""
    li = load(spark, sf_dir, "lineitem").where(F.col("l_partkey") % 20 == 0)
    edges = (
        li.select(
            (F.col("l_suppkey") * 10 + 1).alias("src"),
            (F.col("l_partkey") * 10 + 2).alias("dst"),
        )
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )
    store = CheckpointStore(tempfile.mkdtemp(prefix="twspark_q_cc_"))
    run = connected_components(edges, store=store, resume=False, checkpoint_every=10)
    if not run.converged:
        # min-label CC is O(diameter) supersteps; a silent cap would emit
        # partially-propagated labels — fail loudly instead.
        raise RuntimeError(
            f"connected_components did not converge within {run.supersteps} supersteps"
        )
    shutil.rmtree(store.root, ignore_errors=True)
    return run.state.select("vid", "label")


@_register(
    "graph_cc_local_labels",
    _SP_EDGES_SQL.replace("WITH ", "WITH RECURSIVE ", 1) + ", "
    "u AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e), "
    "v AS (SELECT DISTINCT src AS vid FROM u), "
    "reach(vid, r) AS (SELECT vid, vid FROM v UNION "
    "SELECT u.dst, reach.r FROM reach JOIN u ON u.src = reach.vid) "
    "SELECT vid, min(r) AS label FROM reach GROUP BY vid",
)
def graph_cc_local_labels(spark, sf_dir):
    """Connected components through the conversation-locality file-superstep
    engine (``scatter_mode="local"`` — label segments + hub relay, the
    10^12-turn scale path shared with PageRank), on the same supplier↔part
    graph and recursive-CTE oracle as ``graph_cc_labels``. Every vertex is
    its own home here (bipartite graph), so the run leans hardest on the
    remote hub relay; the min-label fixpoint is home-assignment-invariant."""
    li = load(spark, sf_dir, "lineitem").where(F.col("l_partkey") % 20 == 0)
    edges = (
        li.select(
            (F.col("l_suppkey") * 10 + 1).alias("src"),
            (F.col("l_partkey") * 10 + 2).alias("dst"),
        )
        .distinct()
        .select(
            "src", "dst", F.lit(1.0).alias("weight"),
            F.col("src").alias("src_home"), F.col("dst").alias("dst_home"),
        )
    )
    store = CheckpointStore(tempfile.mkdtemp(prefix="twspark_q_ccl_"))
    run = connected_components(
        edges, scatter_mode="local", store=store, resume=False, max_iter=100
    )
    if not run.converged:
        raise RuntimeError(
            f"local-mode connected_components did not converge within {run.supersteps} supersteps"
        )
    out = run.state.select("vid", "label").localCheckpoint()
    shutil.rmtree(store.root, ignore_errors=True)
    return out


@_register(
    "graph_cc_star_labels",
    _SP_EDGES_SQL.replace("WITH ", "WITH RECURSIVE ", 1) + ", "
    "u AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e), "
    "v AS (SELECT DISTINCT src AS vid FROM u), "
    "reach(vid, r) AS (SELECT vid, vid FROM v UNION "
    "SELECT u.dst, reach.r FROM reach JOIN u ON u.src = reach.vid) "
    "SELECT vid, min(r) AS label FROM reach GROUP BY vid",
)
def graph_cc_star_labels(spark, sf_dir):
    """Connected components via large-star/small-star (O(log n) rounds — the
    long-chain scale path), same labels as graph_cc_labels, same recursive-CTE
    oracle."""
    from .graph import connected_components_star

    li = load(spark, sf_dir, "lineitem").where(F.col("l_partkey") % 20 == 0)
    edges = (
        li.select(
            (F.col("l_suppkey") * 10 + 1).alias("src"),
            (F.col("l_partkey") * 10 + 2).alias("dst"),
        )
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )
    store = CheckpointStore(tempfile.mkdtemp(prefix="twspark_q_ccs_"))
    run = connected_components_star(edges, store=store, resume=False, checkpoint_every=10)
    if not run.converged:
        raise RuntimeError(f"cc_star did not converge within {run.supersteps} rounds")
    out = run.state.localCheckpoint(eager=True)  # labels join derives from store-backed state
    shutil.rmtree(store.root, ignore_errors=True)
    return out


@_register(
    "graph_triangle_count",
    "WITH pp AS (SELECT DISTINCT least(a.l_partkey, b.l_partkey) AS u, "
    "greatest(a.l_partkey, b.l_partkey) AS v FROM lineitem a "
    "JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey "
    "WHERE a.l_partkey % 5 = 0 AND b.l_partkey % 5 = 0) "
    "SELECT count(*) AS n_triangles FROM pp e1 "
    "JOIN pp e2 ON e1.v = e2.u JOIN pp e3 ON e3.u = e1.u AND e3.v = e2.v",
)
def graph_triangle_count(spark, sf_dir):
    """Global triangle count over the part co-occurrence graph (id-invariant),
    with the heavy-hitter split armed at its data-driven cutoff (10× the mean
    oriented out-degree, ``triangles.py``) — the 10^12-edge escape hatch
    engages only when a genuinely hot wedge center exists. Hot-path counting
    exactness is pytest-verified at forced low thresholds
    (``test_triangles_hub_split_matches_plain``); a hardcoded ``hub_
    threshold=4`` here misclassified ordinary centers as hot at bench scale
    and tripled the sf0.1 time (round-5 regression)."""
    li = (
        load(spark, sf_dir, "lineitem")
        .where(F.col("l_partkey") % 5 == 0)
        .select("l_orderkey", "l_partkey")
    )
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    # no .distinct() here: rows already satisfy src < dst, and the kernel's
    # canonical-edge dedup (one exchange) covers duplicates — a second
    # distinct exchange bought nothing
    edges = (
        a.join(b, "ok")
        .where(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .withColumn("weight", F.lit(1.0))
    )
    res = triangle_counts(edges, hub_split=True, assume_canonical=True)
    return spark.createDataFrame([(res.total,)], "n_triangles long")


def _event_adjacency_dense_ids(spark, sf_dir):
    """Event-adjacency graph with dense alphabetical-name-rank vertex ids
    (the oracle-replayable id scheme): returns ``(ids(name, vid),
    edges(src, dst, weight))``."""
    named = _event_adjacency_named(spark, sf_dir)
    names = (
        named.select(F.col("src_name").alias("name"))
        .unionByName(named.select(F.col("dst_name").alias("name")))
        .distinct()
    )
    # global row_number over ~|event types| names — a handful of rows, the
    # single-partition window is deliberate
    ids = names.select(
        "name", F.row_number().over(Window.orderBy("name")).alias("vid")
    )
    src_ids = ids.select(F.col("name").alias("src_name"), F.col("vid").alias("src"))
    dst_ids = ids.select(F.col("name").alias("dst_name"), F.col("vid").alias("dst"))
    edges = named.join(src_ids, "src_name").join(dst_ids, "dst_name").select(
        "src", "dst", "weight"
    )
    return ids, edges


def _lpa_cte_chain(iters: int) -> str:
    """Shared CTE prefix unrolling ``iters`` synchronous LPA supersteps over
    the event-adjacency graph, with vertex ids assigned by ALPHABETICAL NAME
    RANK (replayable in any engine, unlike xxhash64 vertex ids) so the
    min-label tie-break agrees bit-for-bit. Exposes ``s`` (the symmetrized
    summed-weight ordered-pair relation), ``ids`` and ``l{iters}`` to the
    caller's tail SELECT."""
    parts = [
        _ADJ_EDGES_SQL + ", "
        "v AS (SELECT DISTINCT name FROM (SELECT src_name AS name FROM e "
        "UNION ALL SELECT dst_name FROM e)), "
        "ids AS (SELECT name, row_number() OVER (ORDER BY name) AS vid FROM v), "
        "en AS (SELECT si.vid AS src, di.vid AS dst, e.weight AS w FROM e "
        "JOIN ids si ON e.src_name = si.name JOIN ids di ON e.dst_name = di.name), "
        "s AS (SELECT src, dst, sum(w) AS w FROM "
        "(SELECT src, dst, w FROM en UNION ALL SELECT dst AS src, src AS dst, w FROM en) "
        "WHERE src <> dst GROUP BY 1, 2), "
        "l0 AS (SELECT DISTINCT src AS vid, src AS label FROM s)"
    ]
    for i in range(1, iters + 1):
        parts.append(
            f", v{i} AS (SELECT s.dst AS vid, l.label, sum(s.w) AS votes "
            f"FROM s JOIN l{i - 1} l ON l.vid = s.src GROUP BY 1, 2)"
            f", l{i} AS (SELECT vid, label FROM (SELECT vid, label, row_number() OVER "
            f"(PARTITION BY vid ORDER BY votes DESC, label ASC) AS rn FROM v{i}) WHERE rn = 1)"
        )
    return "".join(parts)


def _lpa_communities_sql(iters: int = 10) -> str:
    """Unrolling exactly max_iter steps equals the run-to-convergence
    result: a converged state maps to itself under further supersteps, and
    a 2-cycle is reproduced identically by both engines."""
    return (
        _lpa_cte_chain(iters)
        + f" SELECT i.name, c.name AS community FROM l{iters} l "
        "JOIN ids i ON i.vid = l.vid JOIN ids c ON c.vid = l.label"
    )


def _modularity_sql(iters: int = 10) -> str:
    """Newman modularity of the unrolled-LPA partition, computed over the
    same symmetrized relation ``s`` the votes flowed through: per community
    ``a_c = Σ_{src∈c} w`` and ``e_in_c = Σ_{src∈c,dst∈c} w``, then
    ``Q = Σe_in/Σa − Σa² / (Σa)²``. Weights are integer counts, so every
    sum is float64-exact and the two divisions are bit-identical across
    engines; ``_r6`` rounding on top matches the Spark side."""
    return (
        _lpa_cte_chain(iters)
        + f", mm AS (SELECT ls.label AS c_src, ld.label AS c_dst, s.w FROM s "
        f"JOIN l{iters} ls ON ls.vid = s.src JOIN l{iters} ld ON ld.vid = s.dst), "
        "pc AS (SELECT c_src, sum(w) AS a_c, "
        "sum(CASE WHEN c_src = c_dst THEN w ELSE 0 END) AS e_in FROM mm GROUP BY c_src) "
        "SELECT CAST(count(*) AS BIGINT) AS n_communities, "
        "round(sum(e_in) / sum(a_c) - sum(a_c * a_c) / (sum(a_c) * sum(a_c)) + 1e-9, 6) "
        "AS modularity FROM pc"
    )


@_register("graph_lpa_communities", _lpa_communities_sql(10))
def graph_lpa_communities(spark, sf_dir):
    """LPA communities over the event-adjacency graph, labels mapped back to
    names — the full run-to-convergence community surface (reference analog:
    cluster membership, clustering.js:579-623), oracle-verified end to end.
    Vertex ids are dense alphabetical name ranks so the oracle can replay
    the min-label tie-break; ``max_iter`` equals the oracle's unroll depth
    (post-convergence supersteps are fixpoints in both engines)."""
    from .graph import label_propagation

    ids, edges = _event_adjacency_dense_ids(spark, sf_dir)
    store = CheckpointStore(tempfile.mkdtemp(prefix="twspark_q_lpa_"))
    run = label_propagation(edges, max_iter=10, store=store, resume=False, checkpoint_every=10)
    shutil.rmtree(store.root, ignore_errors=True)
    lbl_names = ids.select(F.col("vid").alias("label"), F.col("name").alias("community"))
    return (
        run.state.join(ids, "vid")
        .join(lbl_names, "label")
        .select("name", "community")
    )


@_register("graph_modularity", _modularity_sql(10))
def graph_modularity(spark, sf_dir):
    """Newman modularity of the LPA communities over the event-adjacency
    graph — the partition-quality number next to the membership surface
    (reference analog: per-cluster cohesion stats, clustering.js:331-361).
    Same dense-id edges and 10-superstep LPA run as ``graph_lpa_communities``;
    the oracle replays both the label chain AND the Q aggregation in ANSI
    SQL over the identical symmetrized relation."""
    from .graph import label_propagation, modularity

    _ids, edges = _event_adjacency_dense_ids(spark, sf_dir)
    store = CheckpointStore(tempfile.mkdtemp(prefix="twspark_q_mod_"))
    run = label_propagation(edges, max_iter=10, store=store, resume=False, checkpoint_every=10)
    q = modularity(edges, run.state.select("vid", "label"))
    out = q.select(
        F.col("n_communities").cast("bigint").alias("n_communities"),
        _r6("modularity").alias("modularity"),
    ).localCheckpoint()
    shutil.rmtree(store.root, ignore_errors=True)
    return out


def _kmeans_unrolled_sql(k: int = 8, iters: int = 10) -> str:
    """DuckDB twin of ``kmeans(..., init_centroids=first-k, tol=0)``: each
    Lloyd iteration is ANSI — argmin assignment (row_number over distance)
    then per-cluster coordinate mean (unnest + avg + re-list), with empty
    clusters keeping their previous centroid (the COALESCE). MATERIALIZED
    keeps DuckDB from re-inlining the centroid chain exponentially."""
    parts = [
        "WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
        f"c0 AS MATERIALIZED (SELECT vec_id AS cid, v AS cvec FROM e WHERE vec_id < {k})"
    ]
    for i in range(iters):
        parts += [
            f"a{i} AS (SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id "
            f"ORDER BY list_distance(e.v, c.cvec), c.cid) AS rn FROM e CROSS JOIN c{i} c)",
            f"s{i} AS (SELECT vec_id, cid FROM a{i} WHERE rn = 1)",
            f"u{i} AS (SELECT s.cid, generate_subscripts(e.v, 1) AS pos, unnest(e.v) AS val "
            f"FROM s{i} s JOIN e USING (vec_id))",
            f"g{i} AS (SELECT cid, list(mv ORDER BY pos) AS cvec FROM "
            f"(SELECT cid, pos, avg(val) AS mv FROM u{i} GROUP BY cid, pos) GROUP BY cid)",
            f"c{i + 1} AS MATERIALIZED (SELECT p.cid, coalesce(n.cvec, p.cvec) AS cvec "
            f"FROM c{i} p LEFT JOIN g{i} n USING (cid))",
        ]
    parts.append(
        f"fa AS (SELECT e.vec_id, c.cid, row_number() OVER (PARTITION BY e.vec_id "
        f"ORDER BY list_distance(e.v, c.cvec), c.cid) AS rn FROM e CROSS JOIN c{iters} c)"
    )
    return (
        ", ".join(parts)
        + " SELECT CAST(cid AS BIGINT) AS cluster, count(*) AS n FROM fa WHERE rn = 1 GROUP BY cid"
    )


@_register("vector_kmeans_10iter", _kmeans_unrolled_sql(8, 10))
def vector_kmeans_10iter(spark, sf_dir):
    """The FULL Lloyd pipeline (K2) as a driver-green row: fixed start
    (first-8 embeddings), exactly 10 distributed Lloyd iterations through the
    engine's partition-NumPy partials + k×dim-row reduction, final assignment
    histogram. Identical code to ``vector_kmeans_sizes`` minus the k-means++
    seeding draw (the one non-ANSI step), so the driver verifies the whole
    iterative kernel; the seeded path stays pytest-verified vs NumPy."""
    import numpy as np

    from .operators.similarity import kmeans

    emb = load(spark, sf_dir, "embeddings")
    cent_rows = sorted(
        emb.where(F.col("vec_id") < 8).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    c0 = np.asarray([[float(x) for x in r["embedding"]] for r in cent_rows])
    km = kmeans(emb, "vec_id", "embedding", k=8, max_iter=10, tol=0.0, init_centroids=c0)
    return km.assignments.groupBy(F.col("cluster").cast("bigint").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n")
    )


@_register(
    "vector_ann_ivf",
    "WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0), "
    "c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec FROM embeddings WHERE vec_id < 16), "
    "probe AS (SELECT cid FROM c, q ORDER BY list_distance(cvec, qv), cid LIMIT 4), "
    "d AS (SELECT e.vec_id, c.cid, list_distance(e.embedding::DOUBLE[], c.cvec) AS dist "
    "FROM embeddings e CROSS JOIN c), "
    "r AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d), "
    "asg AS (SELECT vec_id FROM r WHERE rn = 1 AND cid IN (SELECT cid FROM probe)), "
    "scored AS (SELECT e.vec_id AS id, list_cosine_similarity(e.embedding::DOUBLE[], q.qv) AS sim "
    "FROM embeddings e JOIN asg USING (vec_id), q) "
    "SELECT id, round(sim + 1e-9, 6) AS similarity FROM scored ORDER BY sim DESC, id LIMIT 10",
)
def vector_ann_ivf(spark, sf_dir):
    """IVF ANN top-10 for the vec_id=0 query (scale path for vector_knn_cosine)
    under a FIXED coarse quantizer (vec_id<16 rows as cells) so the whole
    index structure — cell assignment, probe selection, in-cell exact KNN —
    replays as plain SQL. The k-means-trained quantizer path is identical
    code (``ann_ivf_search`` without ``centroids``), recall-tested in pytest."""
    from .operators.similarity import ann_ivf_search

    emb = load(spark, sf_dir, "embeddings")
    cent_rows = sorted(
        emb.where(F.col("vec_id") < 16).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    c = [[float(x) for x in r["embedding"]] for r in cent_rows]
    q = [float(x) for x in emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]]
    out = ann_ivf_search(emb, "vec_id", "embedding", q, k=10, n_probe=4, centroids=c)
    return out.select("id", _r6("similarity").alias("similarity"))


def _simhash_sql(bits: int = 32, chunks: int = 4, max_hamming: int = 6) -> str:
    """DuckDB twin of the SimHash pipeline: the md5-derived 32-bit token hash
    is engine-portable, so the oracle replays fingerprints byte-for-byte."""
    width = bits // chunks
    mask = (1 << width) - 1
    bit_sums = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}" for i in range(bits)
    )
    fp = " + ".join(f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(bits))
    return (
        "WITH tk AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok "
        "FROM documents), "
        "t2 AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM tk "
        "WHERE length(tok) > 0), "
        f"sums AS (SELECT doc_id, {bit_sums} FROM t2 GROUP BY doc_id), "
        f"fp AS (SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM sums), "
        f"ch AS (SELECT doc_id, simhash, c AS chunk, (simhash >> (c * {width})) & {mask} AS cv "
        f"FROM fp, (SELECT unnest(range({chunks})) AS c) cs), "
        "cand AS (SELECT DISTINCT a.doc_id AS a, b.doc_id AS b, a.simhash AS ha, b.simhash AS hb "
        "FROM ch a JOIN ch b ON a.chunk = b.chunk AND a.cv = b.cv AND a.doc_id < b.doc_id) "
        "SELECT a, b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming FROM cand "
        f"WHERE bit_count(xor(ha, hb)) <= {max_hamming}"
    )


@_register("dedup_simhash", _simhash_sql(32, 4, 6))
def dedup_simhash(spark, sf_dir):
    """SimHash fingerprints + hamming-band near-dup candidates, fully
    oracle-verified (md5-derived token hash, portable to DuckDB)."""
    docs = load(spark, sf_dir, "documents")
    fps = dedup.simhash(docs, "doc_id", "text", bits=32)
    out = dedup.simhash_near_dups(fps, bits=32, chunks=4, max_hamming=6)
    return out.select("a", "b", F.col("hamming").cast("int").alias("hamming"))


# =============================================================================
# Clustering surface / dual embeddings / exports (round-2 additions)
# =============================================================================

@_register(
    "vector_centroid_assign",
    "WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec FROM embeddings WHERE vec_id < 8), "
    "d AS (SELECT e.vec_id, c.cid, list_distance(e.embedding::DOUBLE[], c.cvec) AS dist "
    "FROM embeddings e CROSS JOIN c), "
    "r AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d) "
    "SELECT CAST(cid AS BIGINT) AS cluster, count(*) AS n FROM r WHERE rn = 1 GROUP BY cid",
)
def vector_centroid_assign(spark, sf_dir):
    """K2's assignment kernel under fixed centroids (vec_id<8 rows), so the
    engine's Arrow argmin path is driver-verifiable: nearest-centroid
    histogram, ties to the smaller centroid index."""
    from .operators.similarity import _assign_udf
    import numpy as np

    emb = load(spark, sf_dir, "embeddings")
    cent_rows = emb.where(F.col("vec_id") < 8).select("vec_id", "embedding").collect()
    cent_rows.sort(key=lambda r: r["vec_id"])
    c = np.asarray([[float(x) for x in r["embedding"]] for r in cent_rows])
    data = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    assigned = data.mapInPandas(_assign_udf(c), schema="id long, cluster int, sq_dist double")
    return assigned.groupBy(F.col("cluster").cast("bigint").alias("cluster")).agg(
        F.count(F.lit(1)).alias("n")
    )


_LPA_EDGES_SQL = (
    "WITH e AS (SELECT l_suppkey * 10 + 1 AS src, l_partkey * 10 + 2 AS dst, "
    "CAST(count(*) AS DOUBLE) AS w FROM lineitem WHERE l_partkey % 20 = 0 GROUP BY 1, 2)"
)


@_register(
    "graph_lpa_1iter",
    _LPA_EDGES_SQL + ", "
    "s AS (SELECT src, dst, sum(w) AS w FROM "
    "(SELECT src, dst, w FROM e UNION ALL SELECT dst AS src, src AS dst, w FROM e) "
    "GROUP BY 1, 2), "
    "votes AS (SELECT dst AS vid, src AS label, w AS votes FROM s), "
    "win AS (SELECT vid, label, row_number() OVER "
    "(PARTITION BY vid ORDER BY votes DESC, label ASC) AS rn FROM votes) "
    "SELECT vid, label FROM win WHERE rn = 1",
)
def graph_lpa_1iter(spark, sf_dir):
    """One LPA superstep over the supplier↔part graph through the full engine
    path (symmetrize, salted scatter, argmax-vote window) — the synchronous
    recursion unrolled so the driver oracle can replay it as plain SQL."""
    from .graph import label_propagation

    li = load(spark, sf_dir, "lineitem").where(F.col("l_partkey") % 20 == 0)
    edges = (
        li.groupBy(
            (F.col("l_suppkey") * 10 + 1).alias("src"),
            (F.col("l_partkey") * 10 + 2).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    store = CheckpointStore(tempfile.mkdtemp(prefix="twspark_q_lpa1_"))
    run = label_propagation(
        edges, max_iter=1, store=store, resume=False, checkpoint_every=10
    )
    # run.state is localCheckpoint-ed in memory — the durable store can go
    shutil.rmtree(store.root, ignore_errors=True)
    return run.state.select("vid", "label")


@_register(
    "graph_lpa_2iter",
    _LPA_EDGES_SQL + ", "
    "s AS (SELECT src, dst, sum(w) AS w FROM "
    "(SELECT src, dst, w FROM e UNION ALL SELECT dst AS src, src AS dst, w FROM e) "
    "GROUP BY 1, 2), "
    "l1 AS (SELECT vid, label FROM (SELECT dst AS vid, src AS label, "
    "row_number() OVER (PARTITION BY dst ORDER BY w DESC, src ASC) AS rn FROM s) WHERE rn = 1), "
    "v2 AS (SELECT s.dst AS vid, l1.label AS label, sum(s.w) AS votes FROM s "
    "JOIN l1 ON l1.vid = s.src GROUP BY 1, 2), "
    "l2 AS (SELECT vid, label FROM (SELECT vid, label, row_number() OVER "
    "(PARTITION BY vid ORDER BY votes DESC, label ASC) AS rn FROM v2) WHERE rn = 1) "
    "SELECT vid, label FROM l2",
)
def graph_lpa_2iter(spark, sf_dir):
    """TWO synchronous LPA supersteps through the full engine path — the
    argmax-vote recursion unrolled twice so the driver oracle replays it as
    chained window CTEs (iteration 1: initial labels are the vids themselves;
    iteration 2: votes over iteration-1 labels). Together with
    ``graph_lpa_1iter`` this pins the recursion step AND its composition;
    the full run-to-convergence (``graph_lpa_communities``) stays
    pytest-verified against the Python oracle."""
    from .graph import label_propagation

    li = load(spark, sf_dir, "lineitem").where(F.col("l_partkey") % 20 == 0)
    edges = (
        li.groupBy(
            (F.col("l_suppkey") * 10 + 1).alias("src"),
            (F.col("l_partkey") * 10 + 2).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
    )
    store = CheckpointStore(tempfile.mkdtemp(prefix="twspark_q_lpa2_"))
    run = label_propagation(
        edges, max_iter=2, store=store, resume=False, checkpoint_every=10
    )
    shutil.rmtree(store.root, ignore_errors=True)
    return run.state.select("vid", "label")


@_register(
    "graph_lpa_local_2iter",
    _LPA_EDGES_SQL + ", "
    "s AS (SELECT src, dst, sum(w) AS w FROM "
    "(SELECT src, dst, w FROM e UNION ALL SELECT dst AS src, src AS dst, w FROM e) "
    "GROUP BY 1, 2), "
    "l1 AS (SELECT vid, label FROM (SELECT dst AS vid, src AS label, "
    "row_number() OVER (PARTITION BY dst ORDER BY w DESC, src ASC) AS rn FROM s) WHERE rn = 1), "
    "v2 AS (SELECT s.dst AS vid, l1.label AS label, sum(s.w) AS votes FROM s "
    "JOIN l1 ON l1.vid = s.src GROUP BY 1, 2), "
    "l2 AS (SELECT vid, label FROM (SELECT vid, label, row_number() OVER "
    "(PARTITION BY vid ORDER BY votes DESC, label ASC) AS rn FROM v2) WHERE rn = 1) "
    "SELECT vid, label FROM l2",
)
def graph_lpa_local_2iter(spark, sf_dir):
    """The same two synchronous LPA supersteps through the
    conversation-locality file-superstep engine (``scatter_mode="local"`` —
    label segments, in-Spark hub-vote argmax; the 10^12-turn scale path),
    against the identical chained-window-CTE oracle as ``graph_lpa_2iter``.
    Every vertex is its own home on this bipartite graph, so the run leans
    entirely on the hub vote relay — the hardest case for synchrony."""
    from .graph import label_propagation

    li = load(spark, sf_dir, "lineitem").where(F.col("l_partkey") % 20 == 0)
    edges = (
        li.groupBy(
            (F.col("l_suppkey") * 10 + 1).alias("src"),
            (F.col("l_partkey") * 10 + 2).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("double").alias("weight"))
        .select(
            "src", "dst", "weight",
            F.col("src").alias("src_home"), F.col("dst").alias("dst_home"),
        )
    )
    store = CheckpointStore(tempfile.mkdtemp(prefix="twspark_q_lpal_"))
    run = label_propagation(
        edges, scatter_mode="local", max_iter=2, store=store, resume=False
    )
    out = run.state.select("vid", "label").localCheckpoint()
    shutil.rmtree(store.root, ignore_errors=True)
    return out


@_register(
    "graph_cluster_edges",
    "WITH m AS (SELECT label AS cluster, vec_id AS id, "
    "row_number() OVER (PARTITION BY label ORDER BY vec_id) - 1 AS i, "
    "count(*) OVER (PARTITION BY label) AS n FROM embeddings), "
    "l AS (SELECT cluster, id AS src, (i + 1) % n AS j FROM m WHERE i < least(5, n - 1)) "
    "SELECT l.cluster, l.src, r.id AS dst FROM l JOIN m r ON r.cluster = l.cluster AND r.i = l.j",
)
def graph_cluster_edges(spark, sf_dir):
    """K8: intra-cluster ring edges (reference web/static/js/visualization.js:
    393-419) over the embeddings' label groups — cluster structure feeding
    the engine's edge table."""
    from .operators.similarity import intra_cluster_edges

    emb = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), F.col("label").alias("cluster")
    )
    return intra_cluster_edges(emb, max_connections=5)


@_register(
    "vector_elbow_k",
    "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), "
    "ks AS (SELECT unnest(range(2, 9)) AS k), "
    "pd AS (SELECT ks.k, p.vec_id, min(list_distance(p.v, c.v) ** 2) AS md "
    "FROM ks CROSS JOIN e p JOIN e c ON c.vec_id < ks.k GROUP BY ks.k, p.vec_id), "
    "curve AS (SELECT k, sum(md) AS inertia FROM pd GROUP BY k), "
    "rates AS (SELECT k, (lag(inertia) OVER (ORDER BY k) - inertia) "
    "- (inertia - lead(inertia) OVER (ORDER BY k)) AS rate FROM curve), "
    "best AS (SELECT k FROM rates WHERE rate IS NOT NULL AND rate > 0 "
    "ORDER BY rate DESC, k ASC LIMIT 1), "
    "opt AS (SELECT coalesce((SELECT k FROM best), 3) AS ok) "
    "SELECT CAST(k AS BIGINT) AS k, round(inertia + 1e-9, 6) AS inertia, "
    "k = (SELECT ok FROM opt) AS is_optimal FROM curve",
)
def vector_elbow_k(spark, sf_dir):
    """K3: elbow method (reference web/static/js/clustering.js:331-361):
    (k, inertia) curve for k=2..8 plus the chosen optimal k (largest
    rate-of-change drop, default 3). Seeds are FIXED (first-k embeddings) so
    the inertia curve AND the arg-selection replay as plain SQL; the
    production k-means++ seeding path is the same ``elbow_k`` code without
    ``seeds_fn``, pytest-verified."""
    import numpy as np

    from .operators.similarity import elbow_k

    emb = load(spark, sf_dir, "embeddings")
    rows = sorted(
        emb.where(F.col("vec_id") < 8).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    vecs = np.asarray([[float(x) for x in r["embedding"]] for r in rows])
    optimal, curve = elbow_k(emb, "vec_id", "embedding", k_max=8, seeds_fn=lambda k: vecs[:k])
    return spark.createDataFrame(
        [(k, round(float(i) + 1e-9, 6), k == optimal) for k, i in curve],
        "k long, inertia double, is_optimal boolean",
    )


@_register(
    "vector_cluster_info",
    "WITH c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec FROM embeddings WHERE vec_id < 8), "
    "d AS (SELECT e.vec_id, c.cid, list_distance(e.embedding::DOUBLE[], c.cvec) AS dist "
    "FROM embeddings e CROSS JOIN c), "
    "r AS (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cid) AS rn FROM d), "
    "asg AS (SELECT vec_id, cid AS cluster FROM r WHERE rn = 1), "
    "m AS (SELECT cluster, vec_id, row_number() OVER (PARTITION BY cluster ORDER BY vec_id) AS rn FROM asg), "
    "agg AS (SELECT cluster, count(*) AS size, "
    "string_agg(CASE WHEN rn <= 10 THEN CAST(vec_id AS VARCHAR) END, ',' ORDER BY vec_id) AS exemplar_ids "
    "FROM m GROUP BY cluster) "
    "SELECT CAST(row_number() OVER (ORDER BY size DESC, cluster) - 1 AS BIGINT) AS cluster_id, "
    "size, exemplar_ids FROM agg",
)
def vector_cluster_info(spark, sf_dir):
    """K4: full cluster-info surface (reference clustering.js:579-623):
    per-cluster size + exemplar ids, sorted by size desc and re-numbered like
    the reference. Fixed centroids (vec_id<8 rows) make the assignment
    SQL-replayable; exemplars are emitted comma-joined (scalar payload for
    the driver canon). The k-means-trained path is the same ``cluster_info``
    code without ``centroids``, pytest-verified."""
    from .operators.similarity import cluster_info

    emb = load(spark, sf_dir, "embeddings")
    cent_rows = sorted(
        emb.where(F.col("vec_id") < 8).select("vec_id", "embedding").collect(),
        key=lambda r: r["vec_id"],
    )
    c = [[float(x) for x in r["embedding"]] for r in cent_rows]
    out = cluster_info(emb, "vec_id", "embedding", k=8, max_exemplars=10, centroids=c)
    return out.select(
        F.col("cluster_id").cast("long").alias("cluster_id"),
        "size",
        F.concat_ws(",", F.col("exemplar_ids")).alias("exemplar_ids"),
    )


@_register(
    "agg_dual_embedding_status",
    "SELECT label, count(*) AS total, "
    "count(CASE WHEN vec_id % 3 <> 0 THEN 1 END) AS with_openai, "
    "count(CASE WHEN vec_id % 5 <> 0 THEN 1 END) AS with_gemini, "
    "count(CASE WHEN vec_id % 3 <> 0 AND vec_id % 5 <> 0 THEN 1 END) AS with_both, "
    "count(CASE WHEN vec_id % 3 <> 0 OR vec_id % 5 <> 0 THEN 1 END) AS with_either, "
    "count(CASE WHEN vec_id % 3 = 0 THEN 1 END) AS pending_openai, "
    "count(CASE WHEN vec_id % 5 = 0 THEN 1 END) AS pending_gemini "
    "FROM embeddings GROUP BY label",
)
def agg_dual_embedding_status(spark, sf_dir):
    """T9: dual-provider status rollup per group (reference
    add_dual_embeddings.sql:30-49, orchestrator.go:60-136). Provider coverage
    is synthesized deterministically (vec_id mod rules) so both engines see
    identical dual columns."""
    from .operators.dual_embedding import dual_status_rollup

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.when(F.col("vec_id") % 3 != 0, F.col("embedding")).alias("embedding_openai"),
        F.when(F.col("vec_id") % 5 != 0, F.col("embedding")).alias("embedding_gemini"),
    )
    return dual_status_rollup(emb, "embedding_openai", "embedding_gemini", "label")


@_register(
    "export_rfc3339",
    "SELECT event_id, strftime(ts AT TIME ZONE 'UTC', '%Y-%m-%dT%H:%M:%SZ') AS ts_rfc3339 "
    "FROM events WHERE event_id % 100 = 0",
)
def export_rfc3339(spark, sf_dir):
    """C6: RFC3339 timestamp formatting in exports (reference export.go:31,
    api/v1/services/export.go:105)."""
    from .sources.exports import rfc3339

    ev = load(spark, sf_dir, "events").where(F.col("event_id") % 100 == 0)
    return ev.select("event_id", rfc3339("ts").alias("ts_rfc3339"))


# =============================================================================
# Driver-roster policy (README §catalog): the harness verifies the FIRST 50
# catalog entries against their oracles at sf0.01. The catalog therefore
# keeps ≤50 primary rows; the PARKED entries below stay registered (full
# DuckDB-oracle pytest coverage via tests/test_queries_oracle.py, which
# parametrizes over ALL of ORACLE_SQL) but sit after position 50 because
# each is a strict subset of an in-window green row:
#
#   dedup_minhash_signatures — the signature relation feeding the in-window
#     dedup_minhash_lsh band join (which hash-matches on those signatures);
#   graph_cc_star_labels — same labels + oracle as the two in-window CC rows,
#     via the large-star/small-star variant (own algorithm pytest oracle);
#   graph_lpa_1iter — the l1 CTE of the in-window graph_lpa_2iter oracle;
#   vector_centroid_assign — the assignment kernel inside the in-window
#     vector_kmeans_10iter full-pipeline unroll;
#   vector_pairwise_similarity — the same HOF cosine expression the in-window
#     vector_knn_cosine ranks with, applied to one (id1, id2) pair (parked
#     round 5 to admit graph_modularity; green through r4);
#   graph_lpa_2iter — its oracle is the l2 prefix of the in-window
#     graph_lpa_communities l10 chain, and the in-window graph_lpa_local_2iter
#     hash-matches the identical 2-superstep labels through the local engine
#     (parked round 5 to admit graph_ppr_5iter; green through r4).
#
# Adding a new primary row means consciously parking (or deleting) another —
# never letting the window silently rotate.
_PARKED = (
    "dedup_minhash_signatures",
    "graph_cc_star_labels",
    "graph_lpa_1iter",
    "graph_lpa_2iter",
    "vector_centroid_assign",
    "vector_pairwise_similarity",
)
QUERY_FNS = {
    **{k: v for k, v in QUERY_FNS.items() if k not in _PARKED},
    **{k: QUERY_FNS[k] for k in _PARKED if k in QUERY_FNS},
}


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """entry(): full pipeline — derive adjacency edges from events, run
    PageRank to convergence with per-superstep checkpoints, return ranked
    vertices with names."""
    named = _event_adjacency_named(spark, sf_dir)
    edges = named.select(
        vertex_id("role", "src_name").alias("src"),
        vertex_id("role", "dst_name").alias("dst"),
        "weight",
    )
    names = (
        named.select(F.col("src_name").alias("name"))
        .unionByName(named.select(F.col("dst_name").alias("name")))
        .distinct()
        .select(vertex_id("role", "name").alias("vid"), "name")
    )
    store = CheckpointStore(tempfile.mkdtemp(prefix="twspark_flagship_"))
    run = pagerank(edges, store=store, resume=False)
    if not run.converged:
        raise RuntimeError(f"pagerank did not converge within {run.supersteps} supersteps")
    return (
        _ranks(run, store).join(names, "vid")
        .select("name", "rank")
        .orderBy(F.col("rank").desc(), F.col("name"))
    )
