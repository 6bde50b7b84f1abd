"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: one crawl-scheduling epoch (XOR-distance
priority + per-host token grant + global top-K) expressed over the driver's
TPC-H-ish tables (orders = URLs, customers = hosts).

``REGISTRY`` (end of module) — the one table that names a query: one
``Query(build, oracle, pushdown)`` row per implemented operator from
SURVEY.md §2 (plus the training-data operators). ``build`` is the Spark
builder, ``oracle`` its DuckDB SQL (checked at sf0.01; None only for the
self-verifying ``crawl_epoch``), ``pushdown`` the column whose filter must
reach the parquet scan. ``queries()`` / ``oracle_sql()`` are one-line views
of it. Column names and value types are aligned on both sides.

Value-type portability contract (round-2, replaces the round-1 DECIMAL
strategy that hash-diverged on 11 queries): every output column is BIGINT,
STRING, BOOLEAN, or DOUBLE. Non-integer aggregates are computed over exact
integer units (the source doubles are 2-decimal, so ``round(x*100)`` is an
exact BIGINT) and only converted to DOUBLE at the very end via one identical
division + ``round(_, 6)`` on both engines — bit-identical because IEEE
division of identical integers is correctly rounded on both. DuckDB integer
``sum()`` (HUGEINT) is always ``::BIGINT``-cast.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from maga_spark.functions.scalar import token_of, url_canonicalize, xor_dist
from maga_spark.operators.dedup import portable_hash64
from maga_spark.operators.topk import global_topk, per_group_topk
from maga_spark.session import spread_partitions

TARGET = 4242424242424242  # fixed XOR target for the oracle-checked queries


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# flagship
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """One scheduling epoch over sf0.001: orders are candidate URLs keyed by
    a portable hash, customers are hosts with budget = 3, global budget 50;
    returns the granted set in priority order (SURVEY.md §3.1)."""
    sf_dir = "/root/testdata/sf0.001"
    orders = _t(spark, sf_dir, "orders")
    cands = orders.select(
        F.col("o_orderkey").alias("url_key"),
        F.col("o_custkey").alias("host_key"),
        portable_hash64(F.col("o_orderkey").cast("string")).alias("url_hash"),
    ).withColumn("xor_d", xor_dist(F.col("url_hash"), F.lit(TARGET)))
    order = [F.col("xor_d").asc(), F.col("url_hash").asc()]
    eligible = per_group_topk(
        cands, ["host_key"], order, k=F.lit(3), salt_key="url_hash", rank_name="host_rank"
    )
    granted = global_topk(eligible, order, 50)
    return granted.withColumn(
        "rank", F.row_number().over(Window.orderBy(*order))
    ).select("rank", "url_key", "host_key", "xor_d")


# --------------------------------------------------------------------------
# queries + oracles
# --------------------------------------------------------------------------

def q_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-14 ★: URL canonicalization over synthesized raw URLs (4 variants)."""
    part = _t(spark, sf_dir, "part")
    raw = part.select(
        F.col("p_partkey"),
        F.concat(
            F.lit("http://H"),
            (F.col("p_partkey") % 50).cast("string"),
            F.lit(".TEST"),
            F.when(F.col("p_partkey") % 4 == 0, ":80").otherwise(""),
            F.lit("/p/"),
            F.col("p_partkey").cast("string"),
            F.when(F.col("p_partkey") % 3 == 0, "/").otherwise(""),
        ).alias("url"),
    )
    return raw.select("p_partkey", url_canonicalize("url").alias("url_canon")).orderBy(
        "p_partkey"
    )


SQL_CANONICALIZE = """
SELECT p_partkey,
       'http://h' || (p_partkey % 50)::VARCHAR || '.test/p/' || p_partkey::VARCHAR AS url_canon
FROM part ORDER BY p_partkey
"""


def q_xor_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-40 ★: XOR-distance priority top-K with deterministic tie-break."""
    orders = _t(spark, sf_dir, "orders")
    scored = orders.select(
        "o_orderkey",
        portable_hash64(F.col("o_orderkey").cast("string")).alias("url_hash"),
    ).withColumn("xor_d", xor_dist(F.col("url_hash"), F.lit(TARGET)))
    return global_topk(scored, [F.col("xor_d").asc(), F.col("url_hash").asc()], 100)


SQL_XOR_TOPK = f"""
SELECT o_orderkey,
       ('0x' || substr(md5(o_orderkey::VARCHAR),1,15))::BIGINT AS url_hash,
       xor(('0x' || substr(md5(o_orderkey::VARCHAR),1,15))::BIGINT, {TARGET}) AS xor_d
FROM orders ORDER BY xor_d, url_hash LIMIT 100
"""


def q_politeness_grant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-53 ★: per-host budget grant (k=3 per host) then global top-50 —
    the scheduling core, salted per-group top-K + TakeOrdered."""
    orders = _t(spark, sf_dir, "orders")
    # spread BEFORE deriving url_hash/xor_d: the md5 chain must run on all
    # cores, not on the 2 effective scan tasks of a 2-row-group file
    cands = (
        spread_partitions(orders.select("o_orderkey", F.col("o_custkey").alias("host_key")))
        .withColumn(
            "url_hash", portable_hash64(F.col("o_orderkey").cast("string"))
        )
        .withColumn("xor_d", xor_dist(F.col("url_hash"), F.lit(TARGET)))
    )
    order = [F.col("xor_d").asc(), F.col("url_hash").asc()]
    eligible = per_group_topk(
        cands, ["host_key"], order, k=F.lit(3), salt_key="url_hash", rank_name="host_rank"
    )
    return global_topk(eligible, order, 50).select("o_orderkey", "host_key", "xor_d", "host_rank")


SQL_POLITENESS_GRANT = f"""
WITH scored AS (
  SELECT o_orderkey, o_custkey AS host_key,
         ('0x' || substr(md5(o_orderkey::VARCHAR),1,15))::BIGINT AS url_hash
  FROM orders
), ranked AS (
  SELECT *, xor(url_hash, {TARGET}) AS xor_d,
         row_number() OVER (PARTITION BY host_key ORDER BY xor(url_hash, {TARGET}), url_hash) AS host_rank
  FROM scored
)
SELECT o_orderkey, host_key, xor_d, host_rank
FROM ranked WHERE host_rank <= 3
ORDER BY xor_d, url_hash LIMIT 50
"""


def q_anti_join_seen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-23 ★: the seen-set anti-join — customers with no orders."""
    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        customer.join(orders.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


SQL_ANTI_JOIN_SEEN = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
ORDER BY c_custkey
"""


def q_anti_join_cuckoo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-23 ★ cuckoo backend (operators/cuckoo.py — BASELINE.json's
    "cuckoo/bloom URL-seen"): customers with no URGENT order, routed
    through the REAL executor-side cuckoo prefilter (build with
    ``update_shard_cuckoo(None, …)`` → shard-cogroup probe → exact residual
    anti-join). The operator's contract is equality with the plain
    anti-join for any filter contents that hold the seen keys — exactly
    what the DuckDB NOT EXISTS oracle checks. ``nbuckets=1 << 13``: a 64 KB
    table per shard (the probe replicates it per salt slice; the default
    is 512 KB) with 32k slots, against 1651 keys in sf0.1's largest shard
    and about ten times that at sf1.0."""
    from maga_spark.operators.cuckoo import anti_join_cuckoo, update_shard_cuckoo

    customer = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    seen = (
        orders.filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("url_hash"))
        .distinct()
        .select(F.pmod("url_hash", F.lit(8)).cast("int").alias("shard"), "url_hash")
    )
    cands = customer.select(F.col("c_custkey").alias("url_hash"), "c_name")
    return (
        anti_join_cuckoo(cands, seen, update_shard_cuckoo(None, seen, nbuckets=1 << 13), 8)
        .select(F.col("url_hash").alias("c_custkey"), "c_name")
        .orderBy("c_custkey")
    )


SQL_ANTI_JOIN_CUCKOO = """
SELECT c_custkey, c_name FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders
  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT'
)
ORDER BY c_custkey
"""


def q_frontier_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-39 ★: frontier union of discovery channels + within-epoch dedup."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    a = orders.select(F.col("o_custkey").alias("key"))
    b = lineitem.select(F.col("l_suppkey").alias("key"))
    c = lineitem.select(F.col("l_partkey").alias("key"))
    return a.unionByName(b).unionByName(c).distinct().orderBy("key")


SQL_FRONTIER_UNION = """
SELECT DISTINCT key FROM (
  SELECT o_custkey AS key FROM orders
  UNION ALL SELECT l_suppkey FROM lineitem
  UNION ALL SELECT l_partkey FROM lineitem
) ORDER BY key
"""


def q_robots_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots prefix gate (★): drop rows whose name starts with a disallowed
    prefix (broadcast gate table + exists-predicate)."""
    part = _t(spark, sf_dir, "part")
    blocked = spark.createDataFrame([("alm",), ("ant",), ("aqu",)], "prefix string")
    joined = part.crossJoin(F.broadcast(blocked.groupBy().agg(F.collect_list("prefix").alias("ps"))))
    return (
        joined.filter(~F.exists("ps", lambda p: F.col("p_name").startswith(p)))
        .select("p_partkey", "p_name")
        .orderBy("p_partkey")
    )


SQL_ROBOTS_GATE = """
SELECT p_partkey, p_name FROM part
WHERE NOT (starts_with(p_name,'alm') OR starts_with(p_name,'ant') OR starts_with(p_name,'aqu'))
ORDER BY p_partkey
"""


def q_token_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-15: opaque token = 2-char prefix of the canonical key; O-41 upper."""
    part = _t(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        token_of(F.upper(F.md5(F.col("p_name")))).alias("token"),
    ).orderBy("p_partkey")


SQL_TOKEN_OF = """
SELECT p_partkey, substr(upper(md5(p_name)), 1, 2) AS token FROM part ORDER BY p_partkey
"""


def q_implied_port(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-17: implied-port coalesce as when/otherwise over lineitem."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.when(F.col("l_linenumber") != 1, F.col("l_suppkey"))
        .otherwise(F.col("l_partkey"))
        .alias("peer_port"),
    ).orderBy("l_orderkey", "l_linenumber")


SQL_IMPLIED_PORT = """
SELECT l_orderkey, l_linenumber,
       CASE WHEN l_linenumber != 1 THEN l_suppkey ELSE l_partkey END AS peer_port
FROM lineitem ORDER BY l_orderkey, l_linenumber
"""


def q_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-36: equally-spaced sampling — explode(sequence) generator."""
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 200)
    return (
        orders.select(
            "o_orderkey",
            F.explode(F.sequence(F.lit(1), F.lit(20))).alias("frame_idx"),
        )
        .withColumn(
            "ts",
            F.round(F.col("o_orderkey") / F.lit(21.0) * F.col("frame_idx"), 6),
        )
        .orderBy("o_orderkey", "frame_idx")
    )


SQL_FRAME_SAMPLING = """
SELECT o_orderkey, i AS frame_idx,
       round(o_orderkey / 21.0 * i, 6) AS ts
FROM orders, unnest(generate_series(1,20)) AS t(i)
WHERE o_orderkey <= 200
ORDER BY o_orderkey, frame_idx
"""


def q_argmin_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-32: argmin — per event_type, the event nearest value 50
    (deterministic via struct-min, the min_by pattern with total order)."""
    ev = _t(spark, sf_dir, "events")
    # value is 2-decimal: |value-50| in exact cents (BIGINT) gives a total,
    # portable ordering; present as double only at the end.
    diff_c = F.abs(F.round(F.col("value") * 100).cast("long") - 5000)
    best = ev.groupBy("event_type").agg(
        F.min(
            F.struct(
                diff_c.alias("diff_c"),
                F.col("event_id").alias("event_id"),
            )
        ).alias("m")
    )
    return best.select(
        "event_type",
        F.col("m.event_id").alias("event_id"),
        F.round(F.col("m.diff_c") / F.lit(100.0), 6).alias("diff"),
    ).orderBy("event_type")


SQL_ARGMIN_FRAME = """
WITH ranked AS (
  SELECT event_type, event_id,
         abs(CAST(round(value * 100) AS BIGINT) - 5000) AS diff_c,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY abs(CAST(round(value * 100) AS BIGINT) - 5000), event_id) AS rn
  FROM events
)
SELECT event_type, event_id, round(diff_c / 100.0, 6) AS diff
FROM ranked WHERE rn = 1 ORDER BY event_type
"""


def q_ordered_reassembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-28/O-37: sort-aggregate — stitch lineitems of an order by index."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 500)
    return (
        li.groupBy("l_orderkey")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("l_linenumber", "l_partkey"))
                    ),
                    lambda x: x["l_partkey"].cast("string"),
                ),
            ).alias("stitched"),
            F.count("*").alias("n_pieces"),
        )
        .orderBy("l_orderkey")
    )


SQL_ORDERED_REASSEMBLY = """
SELECT l_orderkey,
       string_agg(l_partkey::VARCHAR, ',' ORDER BY l_linenumber, l_partkey) AS stitched,
       count(*) AS n_pieces
FROM lineitem WHERE l_orderkey <= 500
GROUP BY l_orderkey ORDER BY l_orderkey
"""


def q_integrity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-29: integrity-check filter (hash-prefix accept, discard rest)."""
    part = _t(spark, sf_dir, "part")
    return (
        part.select("p_partkey", F.md5(F.col("p_name")).alias("checksum"))
        .filter(F.col("checksum").startswith("0"))
        .orderBy("p_partkey")
    )


SQL_INTEGRITY_FILTER = """
SELECT p_partkey, md5(p_name) AS checksum FROM part
WHERE starts_with(md5(p_name), '0') ORDER BY p_partkey
"""


def q_sequence_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-33: strict in-order sequence check — orders whose lineitem index
    set is NOT exactly 1..n (violations → dead-letter)."""
    li = _t(spark, sf_dir, "lineitem")
    chk = li.groupBy("l_orderkey").agg(
        F.count("*").alias("n"),
        F.max("l_linenumber").alias("mx"),
        F.min("l_linenumber").alias("mn"),
    )
    return (
        chk.withColumn(
            "in_order", (F.col("mx") == F.col("n")) & (F.col("mn") == 1)
        )
        .groupBy("in_order")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("in_order")
    )


SQL_SEQUENCE_CHECK = """
WITH chk AS (
  SELECT l_orderkey, count(*) AS n, max(l_linenumber) AS mx, min(l_linenumber) AS mn
  FROM lineitem GROUP BY l_orderkey
)
SELECT (mx = n AND mn = 1) AS in_order, count(*) AS n_orders
FROM chk GROUP BY 1 ORDER BY in_order
"""


def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 pricing summary — exact aggregation in integer units
    (quantity is integer-valued, price/discount are 2-decimal): sums are
    BIGINT and therefore order-independent; the final /100 ÷ round(·,6) is
    bit-identical on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    qty = F.round(F.col("l_quantity")).cast("long")
    price_c = F.round(F.col("l_extendedprice") * 100).cast("long")
    disc_c = F.round(F.col("l_discount") * 100).cast("long")
    return (
        li.filter(F.col("l_shipdate") <= "1998-09-02")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(qty).alias("sum_qty"),
            F.round(F.sum(price_c) / F.lit(100.0), 6).alias("sum_base_price"),
            F.round(F.sum(price_c * (F.lit(100) - disc_c)) / F.lit(10000.0), 6).alias(
                "sum_disc_price"
            ),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       sum(CAST(round(l_quantity) AS BIGINT))::BIGINT AS sum_qty,
       round(sum(CAST(round(l_extendedprice*100) AS BIGINT))::BIGINT / 100.0, 6) AS sum_base_price,
       round(sum(CAST(round(l_extendedprice*100) AS BIGINT)
                 * (100 - CAST(round(l_discount*100) AS BIGINT)))::BIGINT / 10000.0, 6) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
"""


def q_broadcast_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast dim joins: revenue per nation (customer⋈orders⋈nation)."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    return (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / F.lit(100.0), 6
            ).alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .orderBy("n_name")
    )


SQL_BROADCAST_JOIN_AGG = """
SELECT n_name,
       round(sum(CAST(round(o_totalprice*100) AS BIGINT))::BIGINT / 100.0, 6) AS revenue,
       count(*) AS n_orders
FROM orders JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
"""


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running per-supplier quantity (window frame, deterministic order)."""
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_suppkey") <= 5)
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        li.select(
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            F.sum(F.round(F.col("l_quantity")).cast("long"))
            .over(w)
            .alias("running_qty"),
        )
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    )


SQL_WINDOW_RUNNING = """
SELECT l_suppkey, l_orderkey, l_linenumber,
       CAST(sum(CAST(round(l_quantity) AS BIGINT)) OVER (
         PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_qty
FROM lineitem WHERE l_suppkey <= 5
ORDER BY l_suppkey, l_orderkey, l_linenumber
"""


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-25: as-of join — for each 'click' event, latest earlier 'view'
    value of the same user (keyframe-seek pattern)."""
    from maga_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", F.col("ts").cast("timestamp").cast("double").alias("cts")
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", F.col("ts").cast("timestamp").cast("double").alias("vts"))
        .agg(F.max(F.round(F.col("value") * 100).cast("long")).alias("vval_c"))
    )
    out = asof_join(
        clicks, views, on="user_id", left_ts="cts", right_ts="vts", right_cols=["vval_c"]
    )
    return out.select(
        "user_id",
        "event_id",
        F.round(F.coalesce(F.col("vval_c"), F.lit(-100)) / F.lit(100.0), 6).alias(
            "last_view_value"
        ),
        F.round(F.coalesce(F.col("asof_ts"), F.lit(-1.0)), 6).alias("view_ts"),
    ).orderBy("user_id", "event_id")


SQL_ASOF_JOIN = """
WITH clicks AS (
  SELECT user_id, event_id, epoch(ts) AS cts FROM events WHERE event_type = 'click'
), views AS (
  SELECT user_id, epoch(ts) AS vts, max(CAST(round(value*100) AS BIGINT)) AS vval_c
  FROM events WHERE event_type = 'view' GROUP BY user_id, epoch(ts)
)
SELECT c.user_id, c.event_id,
       round(coalesce(v.vval_c, -100) / 100.0, 6) AS last_view_value,
       round(coalesce(v.vts, -1.0), 6) AS view_ts
FROM clicks c ASOF LEFT JOIN views v
  ON c.user_id = v.user_id AND c.cts >= v.vts
ORDER BY c.user_id, c.event_id
"""


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-55: session windows in batch — lag + gap>30min cumsum per user."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("timestamp").cast("double") - F.lag(F.col("ts").cast("timestamp").cast("double")).over(w)
    sess = ev.withColumn(
        "new_sess", F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    ).withColumn("session_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    return (
        sess.groupBy("user_id", "session_id")
        .agg(F.count("*").alias("n_events"))
        .orderBy("user_id", "session_id")
    )


SQL_SESSIONIZE = """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN epoch(ts) - lag(epoch(ts)) OVER w IS NULL
                OR epoch(ts) - lag(epoch(ts)) OVER w > 1800 THEN 1 ELSE 0 END AS new_sess
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT user_id,
         CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
  FROM g
)
SELECT user_id, session_id, count(*) AS n_events
FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id
"""


def q_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows per event_type (epoch-hour keyed)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.floor(F.unix_timestamp("ts") / 3600).alias("hour_bucket"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.round(F.col("value") * 100).cast("long")) / F.lit(100.0), 6
            ).alias("sum_value"),
        )
        .orderBy("hour_bucket", "event_type")
    )


SQL_TUMBLING_AGG = """
SELECT floor(epoch(ts) / 3600)::BIGINT AS hour_bucket, event_type,
       count(*) AS n,
       round(sum(CAST(round(value*100) AS BIGINT))::BIGINT / 100.0, 6) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY hour_bucket, event_type
"""


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over documents (hash groupBy)."""
    docs = _t(spark, sf_dir, "documents")
    from maga_spark.operators.dedup import exact_dedup

    return exact_dedup(docs).orderBy("content_hash")


SQL_EXACT_DEDUP = """
SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS dup_count
FROM documents GROUP BY md5(text) ORDER BY content_hash
"""


def q_jaccard_chargram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup pairs (char 5-grams, j ≥ 0.4) over the first
    documents — shingle-explode equi-join, never all-pairs."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    text = F.lower(F.col("text"))
    shingles = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(text) - 4, F.lit(0))),
            lambda i: text.substr(i, F.lit(5)),
        )
    )
    # explode_outer + not-null (value-identical: shingle elements are
    # substrings of non-null lowered text, and a NULL text yields a NULL
    # array, dropped by both forms) — stops InferFiltersFromGenerate
    # injecting the shingle expression into the scan Filter where codegen
    # CSE evaluates it on every scanned row before the pushed doc_id cap
    # (same RC-1 as containment_pairs, OPTIMIZATION_r06.md)
    sh = (
        docs.select(F.col("doc_id").alias("id"), F.explode_outer(shingles).alias("s"))
        .filter(F.col("s").isNotNull())
        .distinct()
    )
    sizes = sh.groupBy("id").agg(F.count("*").alias("n"))
    # document-frequency cap: a stop-shingle in n docs yields n²/2 join
    # rows, so shingles with df > 1000 are dropped from the intersection
    # join only (they carry ~no Jaccard signal; set sizes keep them). A
    # no-op at this corpus size; the oracle applies the identical cap
    hot = sh.groupBy("s").agg(F.count("*").alias("df")).filter(F.col("df") > 1000).select("s")
    joinable = sh.join(F.broadcast(hot), "s", "left_anti")
    a, b = joinable.alias("a"), joinable.alias("b")
    inter = (
        a.join(b, "s")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("id").alias("a_id"), F.col("n").alias("na")), "a_id")
        .join(sizes.select(F.col("id").alias("b_id"), F.col("n").alias("nb")), "b_id")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")).cast("double"),
                6,
            ),
        )
        .filter(F.col("jaccard") >= 0.4)
        .select("a_id", "b_id", "jaccard")
        .orderBy("a_id", "b_id")
    )


SQL_JACCARD_CHARGRAM = """
WITH sh AS (
  SELECT DISTINCT doc_id AS id, s
  FROM documents,
       unnest(list_distinct(list_transform(generate_series(1, greatest(len(text)-4, 0)),
                                           i -> substr(lower(text), i, 5)))) AS t(s)
  WHERE doc_id <= 200
), sizes AS (
  SELECT id, count(*) AS n FROM sh GROUP BY id
), joinable AS (
  SELECT id, s FROM sh
  WHERE s NOT IN (SELECT s FROM sh GROUP BY s HAVING count(*) > 1000)
), inter AS (
  SELECT a.id AS a_id, b.id AS b_id, count(*) AS inter
  FROM joinable a JOIN joinable b USING (s) WHERE a.id < b.id
  GROUP BY a.id, b.id
)
SELECT a_id, b_id,
       round(inter / CAST(na.n + nb.n - inter AS DOUBLE), 6) AS jaccard
FROM inter JOIN sizes na ON na.id = a_id JOIN sizes nb ON nb.id = b_id
WHERE round(inter / CAST(na.n + nb.n - inter AS DOUBLE), 6) >= 0.4
ORDER BY a_id, b_id
"""


def q_minhash_banding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (portable md5 hash) — first 4 minhash values per
    doc, reproducible in SQL: per seed, min over word-3-gram shingles."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 100)
    from maga_spark.operators.dedup import minhash_signatures

    return minhash_signatures(docs, num_hashes=4).select(
        F.col("id").alias("doc_id"), "mh0", "mh1", "mh2", "mh3"
    ).orderBy("doc_id")


SQL_MINHASH_BANDING = """
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(regexp_split_to_array(lower(trim(text)), '\\s+')) - 2),
           i -> array_to_string(regexp_split_to_array(lower(trim(text)), '\\s+')[i:i+2], ' ')
         )) AS shingles
  FROM documents WHERE doc_id <= 100
)
SELECT doc_id,
       list_min([('0x' || substr(md5('mh0:' || s),1,15))::BIGINT for s in shingles]) AS mh0,
       list_min([('0x' || substr(md5('mh1:' || s),1,15))::BIGINT for s in shingles]) AS mh1,
       list_min([('0x' || substr(md5('mh2:' || s),1,15))::BIGINT for s in shingles]) AS mh2,
       list_min([('0x' || substr(md5('mh3:' || s),1,15))::BIGINT for s in shingles]) AS mh3
FROM sh WHERE len(shingles) > 0
ORDER BY doc_id
"""


def q_minhash_index_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup index (operators/dedup.py minhash_band_rows,
    append/query_minhash_index): corpus = doc_id % 3 != 0 indexed
    once, then the remaining docs arrive as a NEW ingest batch and are
    deduped AGAINST THE INDEX — O(batch ⋈ index) per batch, never a
    corpus×corpus re-join. Appending half the corpus incrementally first
    proves append == from-scratch inside the checked plan."""
    from maga_spark.operators.dedup import (
        append_to_minhash_index,
        minhash_band_rows,
        query_minhash_index,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus_a = docs.filter((F.col("doc_id") % 3 == 1))
    corpus_b = docs.filter((F.col("doc_id") % 3 == 2))
    batch = docs.filter(F.col("doc_id") % 3 == 0)
    idx = append_to_minhash_index(
        minhash_band_rows(corpus_a, num_hashes=8, bands=4),
        corpus_b,
        num_hashes=8,
        bands=4,
    )
    return query_minhash_index(idx, batch, num_hashes=8, bands=4).orderBy(
        "batch_id", "index_id"
    )


SQL_MINHASH_INDEX_QUERY = """
WITH sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(regexp_split_to_array(lower(trim(text)), '\\s+')) - 2),
           i -> array_to_string(regexp_split_to_array(lower(trim(text)), '\\s+')[i:i+2], ' ')
         )) AS shingles
  FROM documents
), sig AS (
  SELECT doc_id,
       list_min([('0x' || substr(md5('mh0:' || s),1,15))::BIGINT for s in shingles]) AS mh0,
       list_min([('0x' || substr(md5('mh1:' || s),1,15))::BIGINT for s in shingles]) AS mh1,
       list_min([('0x' || substr(md5('mh2:' || s),1,15))::BIGINT for s in shingles]) AS mh2,
       list_min([('0x' || substr(md5('mh3:' || s),1,15))::BIGINT for s in shingles]) AS mh3,
       list_min([('0x' || substr(md5('mh4:' || s),1,15))::BIGINT for s in shingles]) AS mh4,
       list_min([('0x' || substr(md5('mh5:' || s),1,15))::BIGINT for s in shingles]) AS mh5,
       list_min([('0x' || substr(md5('mh6:' || s),1,15))::BIGINT for s in shingles]) AS mh6,
       list_min([('0x' || substr(md5('mh7:' || s),1,15))::BIGINT for s in shingles]) AS mh7
  FROM sh WHERE len(shingles) > 0
), bands AS (
  SELECT doc_id, 0 AS band, mh0::VARCHAR || ',' || mh1::VARCHAR AS bh FROM sig
  UNION ALL SELECT doc_id, 1, mh2::VARCHAR || ',' || mh3::VARCHAR FROM sig
  UNION ALL SELECT doc_id, 2, mh4::VARCHAR || ',' || mh5::VARCHAR FROM sig
  UNION ALL SELECT doc_id, 3, mh6::VARCHAR || ',' || mh7::VARCHAR FROM sig
), idx AS (
  SELECT * FROM bands WHERE doc_id % 3 <> 0
), q AS (
  SELECT * FROM bands WHERE doc_id % 3 = 0
)
SELECT DISTINCT q.doc_id AS batch_id, idx.doc_id AS index_id
FROM q JOIN idx ON q.band = idx.band AND q.bh = idx.bh
WHERE q.doc_id <> idx.doc_id
ORDER BY batch_id, index_id
"""


def q_phash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash-style hamming near-dup pairs: bit_count(a^b) ≤ 20
    over portable 60-bit keys (the phash dedup shape, SURVEY.md §7.7)."""
    from maga_spark.operators.dedup import hamming_band_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 60)
    keyed = docs.select(F.col("doc_id").alias("id"), portable_hash64(F.col("text")).alias("k"))
    # exact pigeonhole banding (21 bands > r=20 over the 60-bit key) — same
    # output as the retired crossJoin, no CartesianProduct in the plan
    return hamming_band_pairs(
        keyed, max_hamming=20, n_bands=21, total_bits=60, id_col="id", key_col="k"
    ).orderBy("a_id", "b_id")


SQL_PHASH_HAMMING = """
WITH keyed AS (
  SELECT doc_id, ('0x' || substr(md5(text),1,15))::BIGINT AS k
  FROM documents WHERE doc_id <= 60
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id, bit_count(xor(a.k, b.k)) AS hamming
FROM keyed a, keyed b
WHERE a.doc_id < b.doc_id AND bit_count(xor(a.k, b.k)) <= 20
ORDER BY a_id, b_id
"""


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 vs the first embedding as query."""
    emb = _t(spark, sf_dir, "embeddings")
    first = emb.orderBy("vec_id").first()
    q = [float(x) for x in first["embedding"]]
    from maga_spark.operators.similarity import brute_force_topk

    out = brute_force_topk(emb, q, k=10)
    return out.select("id", F.round("cosine", 6).alias("cosine_r"))


SQL_EMBEDDING_TOPK = """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings ORDER BY vec_id LIMIT 1),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT vec_id AS id,
       round(list_dot_product(v, qv) /
             (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 6) AS cosine_r
FROM e, q
ORDER BY list_dot_product(v, qv) /
         (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) DESC, id ASC
LIMIT 10
"""


def q_embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine >= 0.4 — calibrated to the
    synthetic embeddings' similarity range) over the first 300 vectors —
    round-2: the banded sign-LSH production path (8 bands × 8 coordinate
    signs over the 64-dim vectors; candidate generation is an equi-join,
    never all-pairs). The oracle reproduces the SAME banding (float signs
    are bit-exact across engines), so the check validates the LSH pipeline
    itself; its recall vs brute force is covered by
    tests/test_operators.py::test_embedding_banded_recall_vs_bruteforce."""
    emb = spread_partitions(_t(spark, sf_dir, "embeddings").filter(F.col("vec_id") <= 300))
    from maga_spark.operators.dedup import embedding_near_dups_banded

    out = embedding_near_dups_banded(emb, threshold=0.4, n_bands=8, band_width=8)
    return out.select("a_id", "b_id", F.round("cosine", 6).alias("cosine_r")).orderBy(
        "a_id", "b_id"
    )


def _sql_band(i: int) -> str:
    return " + ".join(
        f"(CASE WHEN embedding[{i * 8 + j + 1}] > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(8)
    )


SQL_EMBEDDING_NEAR_DUPS = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         {", ".join(f"({_sql_band(i)}) AS band{i}" for i in range(8))}
  FROM embeddings WHERE vec_id <= 300
)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine_r
FROM e a, e b
WHERE a.vec_id < b.vec_id
  AND ({" OR ".join(f"a.band{i} = b.band{i}" for i in range(8))})
  AND list_dot_product(a.v, b.v) /
      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
ORDER BY a_id, b_id
"""


def q_embedding_near_dups_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact all-pairs cosine baseline (crossJoin) on a deliberately
    small slice — kept ONLY as the measured-recall oracle for the banded
    path; never the production operator at scale."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") <= 150)
    from maga_spark.operators.dedup import embedding_near_dups

    out = embedding_near_dups(emb, threshold=0.4)
    return out.select("a_id", "b_id", F.round("cosine", 6).alias("cosine_r")).orderBy(
        "a_id", "b_id"
    )


SQL_EMBEDDING_NEAR_DUPS_EXACT = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id <= 150)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       round(list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine_r
FROM e a, e b
WHERE a.vec_id < b.vec_id
  AND list_dot_product(a.v, b.v) /
      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4
ORDER BY a_id, b_id
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup cluster-then-dedup (operators/dedup.semantic_dedup; Abbas
    et al. 2023): assign each embedding to its nearest coarse centroid,
    then gate cosine ≥ 0.4 (τ=2/5) ONLY within a cluster — candidate
    generation is an equi-join on cid, never all-pairs. Centroids come
    from a PORTABLE quantizer: the 8 vectors with smallest
    ``md5(vec_id || ':sem')``, coordinates ``floor(x·1000)`` — integer-
    valued doubles keep the assignment argmax AND the BIGINT cosine gate
    bit-identical in DuckDB (every product < 2^53, every gate term
    < 2^63)."""
    import math

    # persist the 401 filtered rows: the 8-centroid assignment expression
    # otherwise re-derives per self-join branch, and the inferred join-key
    # not-null filter makes codegen CSE evaluate it eagerly on every
    # SCANNED row before the pushed vec_id predicate (measured 4.2 s →
    # 2.0 s at sf1.0; the cached plan keeps the vec_id pushdown visible)
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") <= 400).persist()
    keyed = emb.withColumn(
        "hk", F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(":sem")))
    )
    pivots = keyed.orderBy("hk", "vec_id").limit(8).select("embedding").collect()
    qcents = [
        [float(math.floor(float(x) * 1000.0)) for x in r["embedding"]] for r in pivots
    ]
    from maga_spark.operators.dedup import semantic_dedup

    out = semantic_dedup(emb, qcents, tau_num=2, tau_den=5, quant=1000)
    return out.orderBy("cid", "keep_id", "drop_id")


SQL_SEMANTIC_DEDUP = """
WITH base AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         md5(vec_id::VARCHAR || ':sem') AS hk
  FROM embeddings WHERE vec_id <= 400
), piv AS (
  SELECT list_transform(v, x -> floor(x * 1000.0)) AS qc, hk, vec_id
  FROM base ORDER BY hk, vec_id LIMIT 8
), cents AS (
  SELECT list(qc ORDER BY hk, vec_id) AS cs FROM piv
), scored AS (
  SELECT b.vec_id AS id, list_transform(b.v, x -> floor(x * 1000.0)) AS qv,
         list_transform(cents.cs,
           c -> 2.0 * list_dot_product(list_transform(b.v, x -> floor(x * 1000.0)), c)
                - list_dot_product(c, c)) AS scores
  FROM base b, cents
), e AS (
  SELECT id, qv, (list_position(scores, list_max(scores)) - 1)::INT AS cid FROM scored
), p AS (
  SELECT a.cid AS cid, a.id AS keep_id, bb.id AS drop_id,
         list_dot_product(a.qv, bb.qv)::BIGINT AS dot_q,
         list_dot_product(a.qv, a.qv)::BIGINT AS na_q,
         list_dot_product(bb.qv, bb.qv)::BIGINT AS nb_q
  FROM e a JOIN e bb ON a.cid = bb.cid AND a.id < bb.id
)
SELECT cid, keep_id, drop_id, dot_q, na_q, nb_q FROM p
WHERE dot_q >= 0 AND dot_q * dot_q * 25 >= 4 * na_q * nb_q
ORDER BY cid, keep_id, drop_id
"""


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID over documents."""
    docs = spread_partitions(_t(spark, sf_dir, "documents"))
    from maga_spark.operators.text import language_id

    return language_id(docs).groupBy("lang_pred").agg(F.count("*").alias("n")).orderBy("lang_pred")


SQL_LANGUAGE_ID = """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS t FROM documents
), scores AS (
  SELECT doc_id,
    len(list_intersect(t, ['the','and','of','to','is','in','that','it','was','for'])) AS s_en,
    len(list_intersect(t, ['der','die','das','und','ist','nicht','ein','mit','von','zu'])) AS s_de,
    len(list_intersect(t, ['le','la','les','et','est','une','des','que','pour','dans'])) AS s_fr,
    len(list_intersect(t, ['el','la','los','y','es','una','que','por','con','para'])) AS s_es
  FROM toks
), best AS (
  SELECT doc_id, CASE
    WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
    WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
    WHEN s_es >= s_fr THEN 'es'
    ELSE 'fr' END AS lang_pred
  FROM scores
)
SELECT lang_pred, count(*) AS n FROM best GROUP BY lang_pred ORDER BY lang_pred
"""


def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token count + punctuation ratio quality features (decimal-exact)."""
    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    n_tokens = F.when(F.length(F.trim(t)) == 0, F.lit(0)).otherwise(
        F.size(F.split(F.trim(t), r"\s+"))
    )
    n_punct = F.regexp_count(t, F.lit(r"[^a-zA-Z0-9\s]"))
    return docs.select(
        "doc_id",
        n_tokens.alias("n_tokens"),
        n_punct.alias("n_punct"),
        F.when(
            F.length(t) > 0,
            F.round(n_punct / F.length(t).cast("double"), 6),
        )
        .otherwise(F.lit(None).cast("double"))
        .alias("punct_ratio"),
    ).orderBy("doc_id")


SQL_TEXT_QUALITY = """
SELECT doc_id,
       CASE WHEN len(trim(text)) = 0 THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n_tokens,
       len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS n_punct,
       CASE WHEN len(text) > 0
            THEN round(len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) / CAST(len(text) AS DOUBLE), 6)
       END AS punct_ratio
FROM documents ORDER BY doc_id
"""


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish subword budget per source (letter-runs + digit-runs + punct)."""
    docs = _t(spark, sf_dir, "documents")
    pieces = F.regexp_count(F.col("text"), F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))
    return (
        docs.groupBy("source")
        .agg(F.sum(pieces).alias("total_pieces"), F.count("*").alias("n_docs"))
        .orderBy("source")
    )


SQL_TOKEN_BUDGET = """
SELECT source,
       sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')))::BIGINT AS total_pieces,
       count(*) AS n_docs
FROM documents GROUP BY source ORDER BY source
"""


def _multiline_docs(docs: DataFrame) -> DataFrame:
    """Deterministic multi-line twin of ``documents``: tokens re-joined in
    chunks of 7 per line. The driver corpus is single-line word-soup; this
    rebuild (expressible identically in DuckDB) gives the line-granular
    operators real duplicate lines to act on."""
    toks = F.split(F.trim(F.col("text")), r"\s+")
    nch = F.ceil(F.size(toks) / F.lit(7.0)).cast("int")
    ml = F.concat_ws(
        "\n",
        F.transform(
            F.sequence(F.lit(0), nch - 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i * F.lit(7) + 1, 7)),
        ),
    )
    return docs.select("doc_id", "source", ml.alias("text"))


SQL_MULTILINE_DOCS = """
  SELECT doc_id, source,
         array_to_string(
           list_transform(
             generate_series(0, CAST(ceil(len(regexp_split_to_array(trim(text), '\\s+')) / 7.0) AS INT) - 1),
             i -> array_to_string(regexp_split_to_array(trim(text), '\\s+')[i*7+1 : i*7+7], ' ')),
           chr(10)) AS text
  FROM documents
"""


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-family repetition cut signals (operators/text.py
    repetition_features — Rae et al. 2021 §A1.1): duplicate-line fraction,
    duplicate-line character fraction, most-covering word-2-gram character
    fraction, duplicated word-3-gram character fraction. All pure in-row
    expressions (zero shuffle — the statistic of a document never leaves
    its row), over the deterministic multi-line corpus rebuild."""
    from maga_spark.operators.text import repetition_features

    docs = _multiline_docs(_t(spark, sf_dir, "documents"))
    feats = repetition_features(docs, top_n=2, dup_n=3)
    return feats.select(
        "doc_id",
        "n_lines",
        F.round("dup_line_frac", 6).alias("dup_line_frac_r"),
        F.round("dup_line_char_frac", 6).alias("dup_line_char_frac_r"),
        F.round("top_ngram_char_frac", 6).alias("top_2gram_char_frac_r"),
        F.round("dup_ngram_char_frac", 6).alias("dup_3gram_char_frac_r"),
    ).orderBy("doc_id")


SQL_DOC_REPETITION = (
    """
WITH ml AS ("""
    + SQL_MULTILINE_DOCS
    + """
), feat AS (
  SELECT doc_id,
         str_split(text, chr(10)) AS ls,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS t,
         len(text) AS n_chars
  FROM ml
), g AS (
  SELECT doc_id, ls, n_chars,
         CASE WHEN len(t) >= 2 THEN list_transform(generate_series(1, len(t) - 1),
              i -> array_to_string(t[i : i+1], ' ')) ELSE [] END AS g2,
         CASE WHEN len(t) >= 3 THEN list_transform(generate_series(1, len(t) - 2),
              i -> array_to_string(t[i : i+2], ' ')) ELSE [] END AS g3
  FROM feat
)
SELECT doc_id,
       len(ls)::INT AS n_lines,
       round(CASE WHEN len(ls) > 0 THEN (len(ls) - len(list_distinct(ls))) / CAST(len(ls) AS DOUBLE) ELSE 0.0 END, 6) AS dup_line_frac_r,
       round(CASE WHEN list_sum(list_transform(ls, l -> len(l))) > 0
             THEN list_sum(list_transform(list_distinct(ls), l -> (len(list_filter(ls, x -> x = l)) - 1) * len(l)))
                  / CAST(list_sum(list_transform(ls, l -> len(l))) AS DOUBLE)
             ELSE 0.0 END, 6) AS dup_line_char_frac_r,
       round(CASE WHEN n_chars > 0 AND len(g2) > 0
             THEN list_max(list_transform(list_distinct(g2), x -> len(list_filter(g2, y -> y = x)) * len(x))) / CAST(n_chars AS DOUBLE)
             ELSE 0.0 END, 6) AS top_2gram_char_frac_r,
       round(CASE WHEN n_chars > 0
             THEN coalesce(list_sum(list_transform(list_distinct(g3), x -> (len(list_filter(g3, y -> y = x)) - 1) * len(x))), 0) / CAST(n_chars AS DOUBLE)
             ELSE 0.0 END, 6) AS dup_3gram_char_frac_r
FROM g ORDER BY doc_id
"""
)


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-global line-level exact dedup (operators/dedup.dedup_lines —
    the C4/RefinedWeb rule): each line survives only at its first
    (doc_id, position) occurrence corpus-wide; documents are reassembled
    from surviving lines. Keeper selection is a groupBy-min struct (NO
    window over the exploded lines — a 10^9-occurrence boilerplate line
    collapses in map-side combiners), then one groupBy-doc reassembly."""
    from maga_spark.operators.dedup import dedup_lines

    docs = _multiline_docs(_t(spark, sf_dir, "documents"))
    out = dedup_lines(docs)
    return out.select(
        "doc_id",
        F.md5(F.col("text_dedup")).alias("digest"),
        F.col("n_kept").cast("long").alias("n_kept"),
        F.col("n_lines").cast("long").alias("n_lines"),
    ).orderBy("doc_id")


SQL_LINE_DEDUP = (
    """
WITH ml AS ("""
    + SQL_MULTILINE_DOCS
    + """
), lines AS (
  SELECT doc_id, (u).pos AS pos, (u).ln AS ln
  FROM (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(str_split(text, chr(10)))),
                      i -> struct_pack(pos := i, ln := str_split(text, chr(10))[i]))) AS u
        FROM ml)
), kept AS (
  SELECT doc_id, pos, ln FROM (
    SELECT doc_id, pos, ln,
           row_number() OVER (PARTITION BY ln ORDER BY doc_id, pos) AS rn
    FROM lines) WHERE rn = 1
), rebuilt AS (
  SELECT doc_id, array_to_string(list(ln ORDER BY pos), chr(10)) AS td,
         count(*)::BIGINT AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT m.doc_id,
       md5(coalesce(r.td, '')) AS digest,
       coalesce(r.n_kept, 0)::BIGINT AS n_kept,
       len(str_split(m.text, chr(10)))::BIGINT AS n_lines
FROM ml m LEFT JOIN rebuilt r ON m.doc_id = r.doc_id
ORDER BY m.doc_id
"""
)


def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source top-5 terms (operators/text.tfidf_top_terms): explode →
    two combinable hash aggs → window only over the already-reduced
    (source, term) rows. Top-k selection orders by the pure-integer
    (sum_tf DESC, term ASC) so the kept set is float-independent; the
    tf·idf weight is an emitted value, round 6."""
    from maga_spark.operators.text import tfidf_top_terms

    docs = _t(spark, sf_dir, "documents")
    out = tfidf_top_terms(docs, k=5)
    return out.select(
        "source",
        F.col("rk").cast("long").alias("rk"),
        "term",
        "sum_tf",
        "df",
        "tfidf_r",
    ).orderBy("source", "rk")


SQL_TFIDF_TERMS = """
WITH toks AS (
  SELECT source, doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM documents
), t2 AS (
  SELECT * FROM toks WHERE len(term) > 0
), nd AS (
  SELECT count(DISTINCT doc_id) AS n_docs FROM documents
), dft AS (
  SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM t2 GROUP BY term
), gtf AS (
  SELECT source, term, count(*)::BIGINT AS sum_tf FROM t2 GROUP BY source, term
), rk AS (
  SELECT source, term, sum_tf,
         row_number() OVER (PARTITION BY source ORDER BY sum_tf DESC, term ASC) AS rk
  FROM gtf
)
SELECT r.source, r.rk::BIGINT AS rk, r.term, r.sum_tf, d.df,
       round(r.sum_tf * ln(CAST(n_docs AS DOUBLE) / d.df), 6) AS tfidf_r
FROM rk r JOIN dft d USING (term) CROSS JOIN nd
WHERE r.rk <= 5 ORDER BY source, rk
"""


def q_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED curation pipeline (operators/pipeline.py — VERDICT r3
    #2): language_id → quality gate → exact dedup → minhash-LSH near-dup
    removal → per-source token budget, chained over ``documents`` exactly
    the way a corpus run chains them. Every stage is oracle-checked alone;
    this query proves they compose (one plan, pure expressions, banded
    equi-join only — the plan-hygiene gate asserts it)."""
    from maga_spark.operators.pipeline import curate_corpus
    from maga_spark.operators.text import bpe_ish_piece_count

    docs = spread_partitions(_t(spark, sf_dir, "documents"))
    kept = curate_corpus(
        docs, lang="en", min_tokens=5, max_punct_ratio=0.2, num_hashes=8, n_bands=4
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(bpe_ish_piece_count(F.col("text"))).alias("total_pieces"),
        )
        .orderBy("source")
    )


SQL_CORPUS_CURATE = """
WITH toks AS (
  SELECT doc_id, text, source,
         regexp_split_to_array(lower(trim(text)), '\\s+') AS t
  FROM documents
), best AS (
  SELECT doc_id, text, source, CASE
    WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
    WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
    WHEN s_es >= s_fr THEN 'es'
    ELSE 'fr' END AS lang_pred
  FROM (
    SELECT doc_id, text, source,
      len(list_intersect(t, ['the','and','of','to','is','in','that','it','was','for'])) AS s_en,
      len(list_intersect(t, ['der','die','das','und','ist','nicht','ein','mit','von','zu'])) AS s_de,
      len(list_intersect(t, ['le','la','les','et','est','une','des','que','pour','dans'])) AS s_fr,
      len(list_intersect(t, ['el','la','los','y','es','una','que','por','con','para'])) AS s_es
    FROM toks
  )
), qual AS (
  SELECT doc_id, text, source FROM best
  WHERE lang_pred = 'en'
    AND (CASE WHEN len(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) >= 5
    AND len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) / CAST(len(text) AS DOUBLE) <= 0.2
), ded AS (
  SELECT doc_id, text, source FROM qual
  QUALIFY row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) = 1
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, len(regexp_split_to_array(lower(trim(text)), '\\s+')) - 2),
           i -> array_to_string(regexp_split_to_array(lower(trim(text)), '\\s+')[i:i+2], ' ')
         )) AS shingles
  FROM ded
), sig AS (
  SELECT doc_id,
       list_min([('0x' || substr(md5('mh0:' || s),1,15))::BIGINT for s in shingles]) AS mh0,
       list_min([('0x' || substr(md5('mh1:' || s),1,15))::BIGINT for s in shingles]) AS mh1,
       list_min([('0x' || substr(md5('mh2:' || s),1,15))::BIGINT for s in shingles]) AS mh2,
       list_min([('0x' || substr(md5('mh3:' || s),1,15))::BIGINT for s in shingles]) AS mh3,
       list_min([('0x' || substr(md5('mh4:' || s),1,15))::BIGINT for s in shingles]) AS mh4,
       list_min([('0x' || substr(md5('mh5:' || s),1,15))::BIGINT for s in shingles]) AS mh5,
       list_min([('0x' || substr(md5('mh6:' || s),1,15))::BIGINT for s in shingles]) AS mh6,
       list_min([('0x' || substr(md5('mh7:' || s),1,15))::BIGINT for s in shingles]) AS mh7
  FROM sh WHERE len(shingles) > 0
), bands AS (
  SELECT doc_id, 0 AS band, mh0 AS h0, mh1 AS h1 FROM sig
  UNION ALL SELECT doc_id, 1, mh2, mh3 FROM sig
  UNION ALL SELECT doc_id, 2, mh4, mh5 FROM sig
  UNION ALL SELECT doc_id, 3, mh6, mh7 FROM sig
), dropped AS (
  SELECT DISTINCT b.doc_id AS doc_id
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.h0 = b.h0 AND a.h1 = b.h1 AND a.doc_id < b.doc_id
), kept AS (
  SELECT * FROM ded WHERE doc_id NOT IN (SELECT doc_id FROM dropped)
)
SELECT source, count(*) AS n_docs,
       sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')))::BIGINT AS total_pieces
FROM kept GROUP BY source ORDER BY source
"""


def q_image_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED image-curation pipeline (operators/pipeline.curate_images)
    over BASELINE input_hint's exact table shape
    ``(image_id, bytes, w, h, fmt, caption, phash)``: payload gate →
    caption language/token gate → caption exact-dedup → phash hamming
    near-dup removal (exact pigeonhole banding, keep-smallest).

    The input table is synthesized DETERMINISTICALLY from ``documents`` so
    the DuckDB oracle rebuilds the identical table: caption = first 64 chars
    (creates real exact-dup groups), phash = portable 60-bit hash of the
    first 40 chars (near-dup texts → identical phash, hamming 0), geometry
    and fmt derived from ``doc_id`` arithmetic (the ``jpeg`` quarter is
    undecodable in-sandbox and must be gated out)."""
    from maga_spark.operators.pipeline import curate_images

    docs = spread_partitions(_t(spark, sf_dir, "documents"))
    fmts = F.array(F.lit("raw"), F.lit("rlez"), F.lit("q8"), F.lit("jpeg"))
    imgs = docs.select(
        F.format_string("img%08d", F.col("doc_id")).alias("image_id"),
        F.unhex(F.md5(F.col("text"))).alias("bytes"),
        (F.lit(8) + F.pmod(F.col("doc_id") * 7, F.lit(56))).cast("int").alias("w"),
        (F.lit(8) + F.pmod(F.col("doc_id") * 11, F.lit(56))).cast("int").alias("h"),
        F.element_at(fmts, (F.pmod(F.col("doc_id"), F.lit(4)) + 1).cast("int")).alias("fmt"),
        F.substring(F.col("text"), 1, 64).alias("caption"),
        portable_hash64(F.substring(F.col("text"), 1, 40), salt="ph:").alias("phash"),
    )
    kept = curate_images(
        imgs,
        allowed_fmts=("raw", "rlez", "q8"),
        min_side=8,
        max_aspect=4.0,
        lang="en",
        min_caption_tokens=3,
        max_hamming=6,
        n_bands=7,
        phash_bits=60,
    )
    from maga_spark.operators.text import token_count as _tc

    return (
        kept.groupBy("fmt")
        .agg(
            F.count("*").alias("n_images"),
            F.sum((F.col("w") * F.col("h")).cast("long")).alias("total_px"),
            F.sum(_tc(F.col("caption")).cast("long")).alias("caption_tokens"),
        )
        .orderBy("fmt")
    )


SQL_IMAGE_CURATE = """
WITH imgs AS (
  SELECT printf('img%08d', doc_id) AS image_id,
         unhex(md5(text)) AS bytes,
         (8 + (doc_id * 7) % 56)::INT AS w,
         (8 + (doc_id * 11) % 56)::INT AS h,
         (['raw','rlez','q8','jpeg'])[(doc_id % 4) + 1] AS fmt,
         substr(text, 1, 64) AS caption,
         ('0x' || substr(md5('ph:' || substr(text, 1, 40)), 1, 15))::BIGINT AS phash
  FROM documents
), gated AS (
  SELECT * FROM imgs
  WHERE fmt IN ('raw','rlez','q8')
    AND octet_length(bytes) > 0
    AND least(w, h) >= 8
    AND CAST(greatest(w, h) AS DOUBLE) <= 4.0 * CAST(least(w, h) AS DOUBLE)
), toks AS (
  SELECT *, regexp_split_to_array(lower(trim(caption)), '\\s+') AS t FROM gated
), best AS (
  SELECT image_id, bytes, w, h, fmt, caption, phash, CASE
    WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
    WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
    WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
    WHEN s_es >= s_fr THEN 'es'
    ELSE 'fr' END AS lang_pred
  FROM (
    SELECT *,
      len(list_intersect(t, ['the','and','of','to','is','in','that','it','was','for'])) AS s_en,
      len(list_intersect(t, ['der','die','das','und','ist','nicht','ein','mit','von','zu'])) AS s_de,
      len(list_intersect(t, ['le','la','les','et','est','une','des','que','pour','dans'])) AS s_fr,
      len(list_intersect(t, ['el','la','los','y','es','una','que','por','con','para'])) AS s_es
    FROM toks
  )
), qual AS (
  SELECT * FROM best
  WHERE lang_pred = 'en'
    AND (CASE WHEN len(trim(caption)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(caption), '\\s+')) END) >= 3
), ded AS (
  SELECT * FROM qual
  QUALIFY row_number() OVER (PARTITION BY md5(caption) ORDER BY image_id) = 1
), dropped AS (
  SELECT DISTINCT b.image_id AS image_id
  FROM ded a JOIN ded b
    ON a.image_id < b.image_id AND bit_count(xor(a.phash, b.phash)) <= 6
), kept AS (
  SELECT * FROM ded WHERE image_id NOT IN (SELECT image_id FROM dropped)
)
SELECT fmt, count(*) AS n_images,
       sum(w * h)::BIGINT AS total_px,
       sum(CASE WHEN len(trim(caption)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(caption), '\\s+')) END)::BIGINT AS caption_tokens
FROM kept GROUP BY fmt ORDER BY fmt
"""


def q_robots_rfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 robots gating (operators/robots.robots_gate): longest-match
    wildcard/anchor rules, allow-wins-ties, unlisted hosts allowed — the
    pure-expression per-URL hot path (the Arrow parser is host-cardinality
    and pytest-oracled vs urllib.robotparser + the RFC example matrix).
    Rule regexes are produced by pattern_to_rx from robots-syntax patterns,
    so the oracle's literal rx strings also pin the translation."""
    from maga_spark.operators.robots import pattern_to_rx, robots_gate

    part = _t(spark, sf_dir, "part")
    urls = part.select(
        F.format_string("h%d", F.pmod(F.col("p_partkey"), F.lit(6))).alias("host"),
        F.concat(F.lit("/"), F.replace(F.lower(F.col("p_name")), F.lit(" "), F.lit("/"))).alias("path"),
    )
    spec_rules = [  # (host, robots-syntax pattern, allow)
        ("h0", "/", False),
        ("h0", "/s", True),
        ("h1", "/*o", False),
        ("h1", "/*ol", True),
        ("h2", "/h*r$", False),
        ("h3", "/b", True),
        ("h3", "/b", False),  # exact tie → allow wins (RFC 9309 §2.2.2)
        ("h3", "/r", False),
    ]
    rules = spark.createDataFrame(
        [(h, p, pattern_to_rx(p), len(p), a) for h, p, a in spec_rules],
        "host string, pattern string, rx string, spec int, allow boolean",
    )
    return (
        robots_gate(urls, rules)
        .groupBy("host", "allowed")
        .agg(F.count("*").alias("n"), F.sum(F.length("path")).alias("path_chars"))
        .orderBy("host", "allowed")
    )


SQL_ROBOTS_RFC = """
WITH urls AS (
  SELECT printf('h%d', p_partkey % 6) AS host,
         '/' || replace(lower(p_name), ' ', '/') AS path
  FROM part
), rules AS (
  SELECT * FROM (VALUES
    ('h0', '^/',      1, false),
    ('h0', '^/s',     2, true),
    ('h1', '^/.*o',   3, false),
    ('h1', '^/.*ol',  4, true),
    ('h2', '^/h.*r$', 5, false),
    ('h3', '^/b',     2, true),
    ('h3', '^/b',     2, false),
    ('h3', '^/r',     2, false)
  ) AS t(host, rx, spec, allow)
), per_host AS (
  SELECT host, list(struct_pack(spec := spec, allow := allow, rx := rx)) AS rs
  FROM rules GROUP BY host
), gated AS (
  SELECT u.host, u.path,
    CASE WHEN p.rs IS NULL
              OR len(list_filter(p.rs, r -> regexp_matches(u.path, r.rx))) = 0
         THEN true
         ELSE (list_max(list_filter(p.rs, r -> regexp_matches(u.path, r.rx)))).allow
    END AS allowed
  FROM urls u LEFT JOIN per_host p ON u.host = p.host
)
SELECT host, allowed, count(*) AS n, sum(len(path))::BIGINT AS path_chars
FROM gated GROUP BY host, allowed ORDER BY host, allowed
"""


def q_krpc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-2/O-3: pure-expression bencode ENCODE of a find_node query from
    table-derived fields, then the Arrow decode UDF back to the KRPC struct;
    the oracle recomputes the expected fields directly — so the check proves
    decode(encode(x)) == x over 2000 distinct messages."""
    from maga_spark.functions.bencode import decode_krpc, encode_find_node_query

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    keyed = orders.select(
        "o_orderkey",
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2).cast("binary").alias("t"),
        F.unhex(
            F.substring(
                F.concat(
                    F.md5(F.concat(F.lit("nid:"), F.col("o_orderkey").cast("string"))),
                    F.md5(F.concat(F.lit("nid2:"), F.col("o_orderkey").cast("string"))),
                ),
                1,
                40,
            )
        ).alias("nid"),
        F.unhex(
            F.substring(
                F.concat(
                    F.md5(F.concat(F.lit("tgt:"), F.col("o_orderkey").cast("string"))),
                    F.md5(F.concat(F.lit("tgt2:"), F.col("o_orderkey").cast("string"))),
                ),
                1,
                40,
            )
        ).alias("tgt"),
    )
    dec = keyed.select(
        "o_orderkey",
        decode_krpc(encode_find_node_query(F.col("t"), F.col("nid"), F.col("tgt"))).alias("m"),
    )
    return dec.select(
        "o_orderkey",
        F.col("m.y").alias("y"),
        F.col("m.q").alias("q"),
        F.lower(F.hex(F.col("m.t"))).alias("t_hex"),
        F.lower(F.hex(F.col("m.args.id"))).alias("id_hex"),
        F.lower(F.hex(F.col("m.args.target"))).alias("target_hex"),
    ).orderBy("o_orderkey")


SQL_KRPC_ROUNDTRIP = """
SELECT o_orderkey,
       'q' AS y, 'find_node' AS q,
       lower(to_hex(substr(md5(o_orderkey::VARCHAR), 1, 2)::BLOB)) AS t_hex,
       substr(md5('nid:' || o_orderkey::VARCHAR) || md5('nid2:' || o_orderkey::VARCHAR), 1, 40) AS id_hex,
       substr(md5('tgt:' || o_orderkey::VARCHAR) || md5('tgt2:' || o_orderkey::VARCHAR), 1, 40) AS target_hex
FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey
"""


def q_frame_codec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-45/O-4: >I length framing encode + !IB header decode roundtrip over
    part names; the oracle recomputes the header fields directly."""
    from maga_spark.functions.wire import frame_decode, frame_encode

    part = _t(spark, sf_dir, "part")
    msg = F.concat(F.unhex(F.lpad(F.hex(F.col("p_partkey") % 256), 2, "0")),
                   F.col("p_name").cast("binary"))
    out = part.select(
        "p_partkey", frame_decode(frame_encode(msg)).alias("f")
    )
    return out.select(
        "p_partkey",
        F.col("f.length").alias("frame_len"),
        F.col("f.msg_id").alias("msg_id"),
        F.col("f.payload").cast("string").alias("payload"),
    ).orderBy("p_partkey")


SQL_FRAME_CODEC = """
SELECT p_partkey,
       len(p_name) + 1 AS frame_len,
       (p_partkey % 256)::INT AS msg_id,
       p_name AS payload
FROM part ORDER BY p_partkey
"""


def q_handshake_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-18: the binary handshake predicate (prefix equality + infohash
    equality + data[25] & 0x10 bit test) over synthesized handshakes with
    three corruption modes; the oracle recomputes the verdict from the
    corruption pattern."""
    from maga_spark.functions.wire import BT_HEADER, check_handshake

    part = _t(spark, sf_dir, "part")
    ih = F.unhex(
        F.substring(
            F.concat(F.md5(F.col("p_name")), F.md5(F.concat(F.lit("x"), F.col("p_name")))),
            1,
            40,
        )
    )
    wrong_ih = F.unhex(F.repeat(F.lit("00"), 20))
    peer = F.unhex(F.repeat(F.lit("aa"), 20))
    k = F.col("p_partkey")
    header = F.when(
        k % 3 == 0, F.concat(F.lit(BT_HEADER[:20]), F.unhex(F.repeat(F.lit("00"), 8)))
    ).otherwise(F.lit(BT_HEADER))  # %3==0 → extension bit unset
    sent_ih = F.when(k % 5 == 0, wrong_ih).otherwise(ih)  # %5==0 → wrong hash
    data = F.concat(header, sent_ih, peer)
    return part.select(
        "p_partkey", check_handshake(data, ih).alias("ok")
    ).orderBy("p_partkey")


SQL_HANDSHAKE_GATE = """
SELECT p_partkey, (p_partkey % 3 != 0 AND p_partkey % 5 != 0) AS ok
FROM part ORDER BY p_partkey
"""


def q_embedded_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-19/O-30: locate+substring+cast embedded-int parse of bencoded
    extension-handshake payloads + the ceil(size/2^14) piece-count
    derivation; oracle recomputes both directly."""
    from maga_spark.functions.wire import embedded_int_after, piece_count

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    payload = F.concat(
        F.lit("d1:md11:ut_metadatai"),
        (F.col("o_orderkey") % 7).cast("string"),
        F.lit("ee13:metadata_sizei"),
        F.when(F.col("o_orderkey") % 11 == 0, F.lit("")).otherwise(
            (F.col("o_orderkey") * 17).cast("string")
        ),
        F.lit("ee"),
    )
    ut = embedded_int_after(payload, "ut_metadata")
    ms = embedded_int_after(payload, "metadata_size")
    return orders.select(
        "o_orderkey",
        ut.alias("ut_metadata"),
        ms.alias("metadata_size"),
        piece_count(ms).alias("n_pieces"),
    ).orderBy("o_orderkey")


SQL_EMBEDDED_INT = """
SELECT o_orderkey,
       o_orderkey % 7 AS ut_metadata,
       CASE WHEN o_orderkey % 11 = 0 THEN NULL ELSE o_orderkey * 17 END AS metadata_size,
       CASE WHEN o_orderkey % 11 = 0 THEN NULL
            ELSE ceil((o_orderkey * 17) / 16384.0)::BIGINT END AS n_pieces
FROM orders WHERE o_orderkey <= 2000 ORDER BY o_orderkey
"""


def q_piece_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6: byte range → inclusive piece index range (the divmod derivation,
    screenshot_system/io_adapter.py:57-63) over lineitem extents."""
    from maga_spark.functions.wire import piece_range

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 500)
    off = F.col("l_partkey") * 100
    size = F.round(F.col("l_quantity")).cast("long") * 77
    pieces = piece_range(off, size, 1000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.get(pieces, 0).alias("first_piece"),
        F.get(pieces, F.size(pieces) - 1).alias("last_piece"),
        F.size(pieces).alias("n_pieces"),
    ).orderBy("l_orderkey", "l_linenumber")


SQL_PIECE_RANGE = """
SELECT l_orderkey, l_linenumber,
       (l_partkey * 100) // 1000 AS first_piece,
       (l_partkey * 100 + CAST(round(l_quantity) AS BIGINT) * 77 - 1) // 1000 AS last_piece,
       ((l_partkey * 100 + CAST(round(l_quantity) AS BIGINT) * 77 - 1) // 1000
        - (l_partkey * 100) // 1000 + 1)::INT AS n_pieces
FROM lineitem WHERE l_orderkey <= 500
ORDER BY l_orderkey, l_linenumber
"""


def q_dns_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O-50: the DNS-resolve stage (distinct-host mapInPandas + broadcast
    back, deterministic fake resolver); oracle recomputes the md5-derived
    IPs in SQL."""
    from maga_spark.operators.resolver import resolve_hosts

    customer = _t(spark, sf_dir, "customer")
    hosts = customer.select(
        "c_custkey",
        F.concat(F.lit("h"), (F.col("c_custkey") % 97).cast("string"), F.lit(".test")).alias(
            "host"
        ),
    )
    return resolve_hosts(hosts).select("c_custkey", "host", "ip").orderBy("c_custkey")


SQL_DNS_RESOLVE = """
SELECT c_custkey,
       'h' || (c_custkey % 97)::VARCHAR || '.test' AS host,
       '10.' || ('0x' || substr(md5('h' || (c_custkey % 97)::VARCHAR || '.test'), 1, 2))::INT::VARCHAR
            || '.' || ('0x' || substr(md5('h' || (c_custkey % 97)::VARCHAR || '.test'), 3, 2))::INT::VARCHAR
            || '.' || ('0x' || substr(md5('h' || (c_custkey % 97)::VARCHAR || '.test'), 5, 2))::INT::VARCHAR AS ip
FROM customer ORDER BY c_custkey
"""


# ---- near-dup fingerprints (oracle-checked) + the crawl-engine smoke (rows-only) ----

def q_simhash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simhash near-dup pairs — round-2: portable md5-60-bit token hashes so
    DuckDB recomputes the bit-vote signatures value-for-value (the Spark side
    is 100% built-in expressions; the round-1 Arrow-UDF token loop is gone)."""
    from maga_spark.operators.dedup import simhash_near_dups

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 300)
    return simhash_near_dups(docs, max_hamming=7, n_bands=8).orderBy("a_id", "b_id")


SQL_SIMHASH_NEAR_DUPS = """
WITH docs AS (SELECT doc_id, text FROM documents WHERE doc_id <= 300),
tok AS (
  SELECT doc_id, t
  FROM docs, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS u(t)
  WHERE t <> ''
), h AS (
  SELECT doc_id, ('0x' || substr(md5(t),1,15))::BIGINT AS hv FROM tok
), votes AS (
  SELECT doc_id, b, sum(CASE WHEN (hv >> b) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM h, unnest(generate_series(0,59)) AS g(b)
  GROUP BY doc_id, b
), sig0 AS (
  SELECT doc_id, sum(CASE WHEN v > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS sim
  FROM votes GROUP BY doc_id
), sig AS (
  SELECT d.doc_id, coalesce(s.sim, 0) AS sim FROM docs d LEFT JOIN sig0 s USING (doc_id)
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       bit_count(xor(a.sim, b.sim))::INT AS hamming
FROM sig a, sig b
WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sim, b.sim)) <= 7
ORDER BY a_id, b_id
"""


def q_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH ANN top-10, fully oracle-checked. Float hyperplane
    projections are summation-order-sensitive near 0, so the quantized
    variant (similarity.py lsh_bucket_topk_quantized) derives buckets from
    EXACT integer dot products (integer-valued doubles < 2^53): DuckDB
    rebuilds identical buckets and the full result hash-matches, including
    the ``in_exact_topk`` self-check column (membership in the brute-force
    top-20)."""
    from maga_spark.operators.similarity import brute_force_topk, lsh_bucket_topk_quantized

    emb = _t(spark, sf_dir, "embeddings")
    first = emb.orderBy("vec_id").first()
    q = [float(x) for x in first["embedding"]]
    approx = lsh_bucket_topk_quantized(emb, q, k=10, n_planes=10, probe_radius=2)
    exact20 = brute_force_topk(emb, q, k=20).select(
        F.col("id").alias("id"), F.lit(True).alias("in_exact_topk")
    )
    return (
        approx.join(F.broadcast(exact20), "id", "left")
        .select(
            "id",
            F.round("cosine", 6).alias("cosine_r"),
            F.coalesce("in_exact_topk", F.lit(False)).alias("in_exact_topk"),
        )
        .orderBy(F.desc("cosine_r"), F.asc("id"))
    )


def _sql_lsh_ann() -> str:
    """DuckDB twin of q_lsh_ann, built from the SAME quantized planes
    (integer-valued coefficients → exact dot products → identical
    buckets)."""
    from maga_spark.operators.similarity import quantized_planes

    planes = quantized_planes(64, 10, seed=42)
    plane_lits = [
        "[" + ", ".join(f"{c:.1f}" for c in p) + "]::DOUBLE[]" for p in planes
    ]
    bucket_expr = " + ".join(
        f"(CASE WHEN list_dot_product(ev, {lit}) > 0 THEN {1 << i} ELSE 0 END)"
        for i, lit in enumerate(plane_lits)
    )
    qbucket_expr = " + ".join(
        f"(CASE WHEN list_dot_product(qe, {lit}) > 0 THEN {1 << i} ELSE 0 END)"
        for i, lit in enumerate(plane_lits)
    )
    return f"""
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings ORDER BY vec_id LIMIT 1),
qq AS (SELECT qv, list_transform(qv, x -> floor(x * 1000000.0)) AS qe FROM q),
e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
             list_transform(embedding::DOUBLE[], x -> floor(x * 1000000.0)) AS ev
      FROM embeddings),
b AS (SELECT vec_id, v, ({bucket_expr})::BIGINT AS bucket FROM e),
qb AS (SELECT ({qbucket_expr})::BIGINT AS qbucket FROM qq),
exact20 AS (
  SELECT vec_id FROM e, q
  ORDER BY list_dot_product(v, qv) /
           (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))) DESC,
           vec_id ASC
  LIMIT 20
)
SELECT b.vec_id AS id,
       round(list_dot_product(b.v, q.qv) /
             (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(q.qv, q.qv))), 6)
         AS cosine_r,
       (b.vec_id IN (SELECT vec_id FROM exact20)) AS in_exact_topk
FROM b, qb, q
WHERE bit_count(xor(b.bucket, qb.qbucket)) <= 2
ORDER BY list_dot_product(b.v, q.qv) /
         (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(q.qv, q.qv))) DESC,
         id ASC
LIMIT 10
"""


def q_winnow_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint sizes — round-2: the portable pure-expression
    variant (md5 k-gram hashes) with a full DuckDB oracle."""
    from maga_spark.operators.text import winnow_fingerprint_portable

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 100)
    return docs.select(
        "doc_id", F.size(winnow_fingerprint_portable(F.col("text"))).alias("fp_size")
    ).orderBy("doc_id")


SQL_WINNOW_FINGERPRINT = """
WITH g AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, greatest(len(lower(text)) - 4, 0)),
           i -> ('0x' || substr(md5(substr(lower(text), i, 5)), 1, 15))::BIGINT
         ) AS hs
  FROM documents WHERE doc_id <= 100
)
SELECT doc_id,
       CASE WHEN len(hs) = 0 THEN 0
            WHEN len(hs) <= 4 THEN 1
            ELSE len(list_distinct(list_transform(
                   generate_series(1, len(hs) - 3), j -> list_min(hs[j:j+3]))))
       END::BIGINT AS fp_size
FROM g ORDER BY doc_id
"""


def q_crawl_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE full crawl epochs in CUCKOO seen-mode on generated fixtures
    (engine smoke inside the driver harness — exercises the incremental
    executor-side cuckoo-filter state end-to-end) — returns the
    multi-epoch ordering."""
    import os
    import tempfile

    from maga_spark.crawlspec import CrawlConfig
    from maga_spark.plans.frontier import CrawlEngine
    from maga_spark.sources.fixtures import generate

    # gate on the LAST table generate() writes (politeness), not the first:
    # a previously interrupted generation must not pass the existence check
    d = os.path.join(tempfile.gettempdir(), "maga_spark_driver_fixture_v1")
    if not os.path.exists(os.path.join(d, "politeness.parquet")):
        generate(d, n_urls=500, n_seeds=12)
    cfg = CrawlConfig(epochs=3, global_k=32)
    eng = CrawlEngine(spark, d, cfg, seen_mode="cuckoo")
    res = eng.run(collect_ordering=True)
    # rows-only BY DESIGN (justification: the epoch loop is iterative +
    # stateful — one SQL statement can't express the engine) — but the query
    # SELF-VERIFIES: every row carries matches_sim = equality against the
    # sequential Python simulator's ordering computed in-process.
    from maga_spark.sim import run as sim_run

    sim = sim_run(d, cfg)
    sim_map = {(e, r): u for (e, r, u) in sim.ordering}
    rows = [(e, r, u, sim_map.get((e, r)) == u) for (e, r, u) in res.ordering]
    # seen-set parity rows (VERDICT r3 #5): per-shard xxhash64 digest of the
    # sorted hash list, computed DISTRIBUTED on the engine side (Spark
    # xxhash64) and sequentially on the simulator side (the clean-room
    # xxh64_str, bit-equal by test_functions) — the driver artifact now
    # captures BASELINE's bit-for-bit seen criterion, not only ordering.
    from maga_spark.xxh64 import xxh64_str

    eng_digs = {
        int(r["shard"]): int(r["dig"])
        for r in eng.seen.groupBy("shard")
        .agg(
            F.xxhash64(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list("url_hash")),
                        lambda x: x.cast("string"),
                    ),
                )
            ).alias("dig")
        )
        .collect()
    }
    sim_digs = {
        int(s): xxh64_str(",".join(str(h) for h in hs)) for s, hs in sim.seen.items()
    }
    for s in sorted(set(eng_digs) | set(sim_digs)):
        rows.append(
            (-1, s, f"seen_digest:{eng_digs.get(s)}", eng_digs.get(s) == sim_digs.get(s))
        )
    return spark.createDataFrame(
        rows, "epoch int, rank int, url_canon string, matches_sim boolean"
    )


def q_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF inverted-list assignment (the ANN serving hot path —
    operators/similarity.py `_cid_expr`) over a PORTABLE pivot quantizer:
    pivots = the 8 vectors with lexicographically smallest
    ``md5(vec_id || ':ivf')`` (reproducible in any engine), coordinates
    quantized to integer-valued doubles (floor(x·1e6); every score term
    and partial sum < 2^53 ⇒ exact IEEE arithmetic in any order), argmin
    via first-max array_position — bit-identical cid in Spark and DuckDB.
    Lloyd training determinism is pytest-verified
    (test_ivf_index_recall_and_pruning); this query oracle-checks the
    assignment operator itself."""
    import numpy as np

    from maga_spark.operators.similarity import _dot, quantize_vec_col

    emb = _t(spark, sf_dir, "embeddings")
    keyed = emb.withColumn(
        "hk", F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(":ivf")))
    )
    pivots = keyed.orderBy("hk", "vec_id").limit(8).select("embedding").collect()
    qcents = np.floor(
        np.array([[float(x) for x in r["embedding"]] for r in pivots]) * 1e6
    )
    qe = quantize_vec_col(F.col("embedding"))
    scores = F.array(
        *[
            2.0 * _dot(qe, F.array(*[F.lit(float(x)) for x in c])) - float(c @ c)
            for c in qcents
        ]
    )
    cid = (F.array_position(scores, F.array_max(scores)) - 1).cast("int")
    return emb.select(F.col("vec_id").alias("id"), cid.alias("cid")).orderBy("id")


SQL_IVF_ASSIGN = """
WITH k AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         md5(vec_id::VARCHAR || ':ivf') AS hk
  FROM embeddings
), piv AS (
  SELECT list_transform(v, x -> floor(x * 1000000.0)) AS qc, hk, vec_id
  FROM k ORDER BY hk, vec_id LIMIT 8
), cents AS (
  SELECT list(qc ORDER BY hk, vec_id) AS cs FROM piv
), scored AS (
  SELECT k.vec_id AS id,
         list_transform(cents.cs,
           c -> 2.0 * list_dot_product(list_transform(k.v, x -> floor(x * 1000000.0)), c)
                - list_dot_product(c, c)) AS scores
  FROM k, cents
)
SELECT id, (list_position(scores, list_max(scores)) - 1)::INT AS cid
FROM scored ORDER BY id
"""


def q_ivf_topk_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF serving path end-to-end (operators/similarity.py ``ivf_topk``
    semantics): pick the ``nprobe``=3 inverted lists nearest the query,
    scan ONLY those lists, exact-rerank by dot product, return top 10.
    Same portable quantizer as ``ivf_assign`` (md5 pivots, floor(x·1e6)
    integer-valued doubles ⇒ every product and partial sum < 2^53 ⇒ exact
    IEEE arithmetic in any order), query = the vector with smallest
    ``md5(vec_id || ':qry')``; scores are integer-valued so they export as
    exact BIGINTs. The physical partition pruning of the parquet index is
    pytest-asserted (test_ivf_index_recall_and_pruning); this query
    oracle-checks the probe-selection + prune + rerank SEMANTICS."""
    import numpy as np

    from maga_spark.operators.similarity import _dot, quantize_vec_col

    emb = _t(spark, sf_dir, "embeddings")
    keyed = emb.withColumn(
        "hk", F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(":ivf")))
    )
    pivots = keyed.orderBy("hk", "vec_id").limit(8).select("embedding").collect()
    qcents = np.floor(
        np.array([[float(x) for x in r["embedding"]] for r in pivots]) * 1e6
    )
    qrow = (
        emb.withColumn(
            "hq", F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(":qry")))
        )
        .orderBy("hq", "vec_id")
        .limit(1)
        .collect()[0]
    )
    qv = np.floor(np.array([float(x) for x in qrow["embedding"]]) * 1e6)
    # probe selection: tiny (n_lists) and driver-side, as in ivf_topk
    cscores = [2.0 * float(qv @ c) - float(c @ c) for c in qcents]
    probes = sorted(range(len(qcents)), key=lambda i: (-cscores[i], i))[:3]

    qe = quantize_vec_col(F.col("embedding"))
    scores = F.array(
        *[
            2.0 * _dot(qe, F.array(*[F.lit(float(x)) for x in c])) - float(c @ c)
            for c in qcents
        ]
    )
    cid = (F.array_position(scores, F.array_max(scores)) - 1).cast("int")
    dot = _dot(qe, F.array(*[F.lit(float(x)) for x in qv])).cast("long")
    return (
        emb.withColumn("cid", cid)
        .filter(F.col("cid").isin([int(p) for p in probes]))
        .select(F.col("vec_id").alias("id"), dot.alias("dot"))
        .orderBy(F.col("dot").desc(), F.col("id"))
        .limit(10)
    )


SQL_IVF_TOPK_PRUNED = """
WITH k AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         md5(vec_id::VARCHAR || ':ivf') AS hk
  FROM embeddings
), piv AS (
  SELECT list_transform(v, x -> floor(x * 1000000.0)) AS qc, hk, vec_id
  FROM k ORDER BY hk, vec_id LIMIT 8
), cents AS (
  SELECT list(qc ORDER BY hk, vec_id) AS cs FROM piv
), qry AS (
  SELECT list_transform(v, x -> floor(x * 1000000.0)) AS qv
  FROM k ORDER BY md5(vec_id::VARCHAR || ':qry'), vec_id LIMIT 1
), cidx AS (
  SELECT generate_subscripts(cs, 1) AS i, unnest(cs) AS c FROM cents
), probes AS (
  SELECT (i - 1) AS cid
  FROM cidx, qry
  ORDER BY (2.0 * list_dot_product(qry.qv, c) - list_dot_product(c, c)) DESC, i
  LIMIT 3
), scored AS (
  SELECT k.vec_id AS id,
         list_transform(cents.cs,
           c -> 2.0 * list_dot_product(list_transform(k.v, x -> floor(x * 1000000.0)), c)
                - list_dot_product(c, c)) AS scores,
         list_dot_product(list_transform(k.v, x -> floor(x * 1000000.0)), qry.qv) AS dotd
  FROM k, cents, qry
)
SELECT id, dotd::BIGINT AS dot
FROM scored
WHERE (list_position(scores, list_max(scores)) - 1) IN (SELECT cid FROM probes)
ORDER BY dot DESC, id
LIMIT 10
"""


def q_link_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link extraction + RFC 3986 resolution (operators/links.py) — the
    URL-crawl analog of the compact-node explode O-13: href scan
    (single/double quotes, case-insensitive), absolute / protocol-relative
    / root-relative / path-relative resolution (dot segments removed by a
    pure-expression fold, pytest-checked against urllib urljoin), skip
    non-fetchable schemes and fragments, re-canonicalize, distinct. Pages
    are synthesized deterministically so the oracle resolves the same
    links in closed form."""
    from maga_spark.operators.links import extract_links

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    html = F.concat(
        F.lit('<a href="http://h'),
        F.pmod(k, F.lit(7)).cast("string"),
        F.lit('.test/p/'),
        F.pmod(k, F.lit(13)).cast("string"),
        F.lit('">x</a><A HREF=\'/root/'),
        F.pmod(k, F.lit(5)).cast("string"),
        F.lit("'>y</A>"),
        F.lit('<a href="//cdn.test/lib'),
        F.pmod(k, F.lit(3)).cast("string"),
        F.lit('.js">z</a><a href="../rel/'),
        F.pmod(k, F.lit(2)).cast("string"),
        F.lit('.html">w</a><a href="#frag">n</a><a href="mailto:a@b.test">n</a>'),
    )
    base = F.concat(
        F.lit("https://base"), F.pmod(k, F.lit(11)).cast("string"), F.lit(".example/dir/page.html")
    )
    pages = docs.select(base.alias("url_canon"), html.alias("html"))
    return extract_links(pages).orderBy("url_canon", "link")


SQL_LINK_EXTRACT = """
WITH pages AS (
  SELECT 'https://base' || (doc_id % 11) || '.example/dir/page.html' AS url_canon,
         '<a href="http://h' || (doc_id % 7) || '.test/p/' || (doc_id % 13) ||
         '">x</a><A HREF=''/root/' || (doc_id % 5) || '''>y</A>' ||
         '<a href="//cdn.test/lib' || (doc_id % 3) ||
         '.js">z</a><a href="../rel/' || (doc_id % 2) ||
         '.html">w</a><a href="#frag">n</a><a href="mailto:a@b.test">n</a>' AS html
  FROM documents
), hrefs AS (
  SELECT url_canon,
         unnest(regexp_extract_all(html, '(?i)href\\s*=\\s*["'']([^"'']*)["'']', 1)) AS h
  FROM pages
), resolved AS (
  SELECT url_canon,
         CASE
           WHEN h LIKE 'http://%' THEN h
           WHEN h LIKE '//%' THEN 'https:' || h
           WHEN h LIKE '/%' THEN replace(url_canon, '/dir/page.html', '') || h
           WHEN h LIKE '../%' THEN replace(url_canon, '/dir/page.html', '') || substr(h, 3)
         END AS link
  FROM hrefs
)
SELECT DISTINCT url_canon, link FROM resolved
WHERE link IS NOT NULL
ORDER BY url_canon, link
"""


def q_crawl_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robots ``Crawl-delay`` → per-host politeness rate
    (operators/robots.parse_crawl_delays + rates_from_delays): the
    de-facto directive parsed with RFC 9309 group semantics
    (specific-agent groups beat ``*``, merged groups take the minimum,
    non-numeric values ignored) and folded into the token-bucket rate as
    min(configured, 1/delay). The synthesized robots.txt matrix covers
    specific-beats-wildcard, wildcard-only, invalid-value, and
    merged-groups cases; the oracle re-derives the parse in closed form,
    so any parser regression breaks the hash."""
    from maga_spark.operators.robots import parse_crawl_delays, rates_from_delays

    nat = _t(spark, sf_dir, "nation")
    k = F.col("n_nationkey").cast("int")
    nl = "\n"
    txt = (
        F.when(
            F.pmod(k, F.lit(4)) == 0,
            F.concat(
                F.lit("User-agent: magaspark" + nl + "Crawl-delay: "),
                (F.lit(1) + F.pmod(k, F.lit(7))).cast("string"),
                F.lit(nl + "User-agent: *" + nl + "Crawl-delay: 99"),
            ),
        )
        .when(
            F.pmod(k, F.lit(4)) == 1,
            F.concat(
                F.lit("User-agent: *" + nl + "# maintenance window" + nl + "Crawl-delay: "),
                (F.lit(2) + F.pmod(k, F.lit(5))).cast("string"),
            ),
        )
        .when(
            F.pmod(k, F.lit(4)) == 2,
            F.lit("User-agent: magaspark" + nl + "Crawl-delay: fast" + nl + "Disallow: /x"),
        )
        .otherwise(
            F.lit(
                "User-agent: magaspark"
                + nl
                + "User-agent: *"
                + nl
                + "Crawl-delay: 3"
                + nl
                + "User-agent: magaspark"
                + nl
                + "Crawl-delay: 7"
            )
        )
    )
    host = F.concat(F.lit("h"), k.cast("string"))
    robots = nat.select(host.alias("host"), txt.alias("robots_txt"))
    politeness = nat.select(host.alias("host"), F.lit(0.5).alias("rate"))
    delays = parse_crawl_delays(robots)
    rates = rates_from_delays(politeness, delays)
    return (
        rates.join(delays, "host", "left")
        .select("host", "crawl_delay", F.round("rate", 6).alias("rate_r"))
        .orderBy("host")
    )


SQL_CRAWL_DELAY = """
WITH d AS (
  SELECT 'h' || n_nationkey AS host,
         CASE n_nationkey % 4
           WHEN 0 THEN CAST(1 + n_nationkey % 7 AS DOUBLE)
           WHEN 1 THEN CAST(2 + n_nationkey % 5 AS DOUBLE)
           WHEN 2 THEN NULL
           WHEN 3 THEN 3.0
         END AS crawl_delay
  FROM nation
)
SELECT host, crawl_delay,
       round(CASE WHEN crawl_delay IS NULL THEN 0.5
                  ELSE least(0.5, greatest(1.0 / crawl_delay, 0.001)) END, 6) AS rate_r
FROM d ORDER BY host
"""


def q_image_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-time payload statistics as PURE expressions
    (functions/payload.byte_stats): mean byte value (brightness for the
    ``raw`` codec, where bytes ARE pixels) and population variance
    (contrast), computed by hex-chunk parsing inside whole-stage codegen —
    zero Python, for quality gates that must run inside the 10^10-row
    scan. Payloads are
    synthesized deterministically (64 bytes of chained md5) so DuckDB
    rebuilds identical blobs; every sum is integer-exact and the divisions
    are by the power-of-two byte count, so round(·,6) is engine-stable."""
    from maga_spark.functions.payload import byte_stats

    docs = _t(spark, sf_dir, "documents")
    hexs = F.concat(
        F.md5(F.col("text")),
        F.md5(F.concat(F.col("text"), F.lit("x"))),
        F.md5(F.concat(F.col("text"), F.lit("y"))),
        F.md5(F.concat(F.col("text"), F.lit("z"))),
    )
    imgs = docs.select(
        F.format_string("img%08d", F.col("doc_id")).alias("image_id"),
        F.unhex(hexs).alias("bytes"),
    )
    st = byte_stats(F.col("bytes"))
    return imgs.select(
        "image_id",
        F.round(st["brightness"], 6).alias("brightness_r"),
        F.round(st["contrast"], 6).alias("contrast_r"),
    ).orderBy("image_id")


SQL_IMAGE_STATS = """
WITH im AS (
  SELECT printf('img%08d', doc_id) AS image_id,
         md5(text) || md5(text || 'x') || md5(text || 'y') || md5(text || 'z') AS hx
  FROM documents
), px AS (
  SELECT image_id,
         list_transform(generate_series(0, 63), i -> ('0x' || substr(hx, i*2+1, 2))::BIGINT) AS p
  FROM im
)
SELECT image_id,
       round(list_sum(p) / 64.0, 6) AS brightness_r,
       round(list_sum(list_transform(p, v -> v*v)) / 64.0
             - (list_sum(p) / 64.0) * (list_sum(p) / 64.0), 6) AS contrast_r
FROM px ORDER BY image_id
"""


def q_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup PAIR graph → dedup CLUSTERS (operators/graph.py
    connected_components — Kiveris et al. SOCC'14 alternating
    large-star/small-star, O(log n) rounds independent of component
    diameter). Edges = documents sharing a rare word-4-gram (corpus df in
    [2, 6]) — the same explode→groupBy→equi-join shape as the minhash
    candidate generator, never all-pairs. Output labels every clustered
    doc with its component minimum (the canonical representative a dedup
    pass would keep). Oracle = DuckDB recursive-CTE transitive closure —
    an independent algorithm validating the distributed one end-to-end."""
    from maga_spark.operators.graph import connected_components
    from maga_spark.operators.text import word_ngrams

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    sh = docs.select(
        "doc_id", F.explode(F.array_distinct(word_ngrams(F.col("text"), 4))).alias("g")
    )
    rare = (
        sh.groupBy("g")
        .agg(F.count("*").alias("n"))
        .filter((F.col("n") >= 2) & (F.col("n") <= 6))
        .select("g")
    )
    sa = sh.withColumnRenamed("doc_id", "u")
    sb = sh.withColumnRenamed("doc_id", "v")
    edges = (
        sa.join(rare, "g")
        .join(sb, "g")
        .filter(F.col("u") < F.col("v"))
        .select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .distinct()
    )
    comp = connected_components(edges)
    return comp.select(
        F.col("vertex").cast("long").alias("vertex"),
        F.col("component").cast("long").alias("component"),
    ).orderBy("vertex")


SQL_DUP_CLUSTERS = """
WITH RECURSIVE sh AS (
  SELECT doc_id,
         unnest(list_distinct(list_transform(
           generate_series(1, len(regexp_split_to_array(lower(trim(text)), '\\s+')) - 3),
           i -> array_to_string(regexp_split_to_array(lower(trim(text)), '\\s+')[i:i+3], ' ')
         ))) AS g
  FROM documents WHERE doc_id < 300
), rare AS (
  SELECT g FROM sh GROUP BY g HAVING count(*) BETWEEN 2 AND 6
), e AS (
  SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
  FROM sh a JOIN rare USING (g) JOIN sh b USING (g)
  WHERE a.doc_id < b.doc_id
), sym AS (
  SELECT u, v FROM e UNION SELECT v, u FROM e
), reach(a, b) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u
)
SELECT a::BIGINT AS vertex, least(a, min(b))::BIGINT AS component
FROM reach GROUP BY a ORDER BY vertex
"""


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (operators/similarity.pq_encode —
    Jégou et al., TPAMI'11): 64-dim vectors → 4 subspace codes from a
    ksub=8 codebook, i.e. 4 bytes per row instead of 256 — the compressed
    representation that makes billion-vector ANN scans byte-bound instead
    of float-bound. Codebook = portable md5 pivots (same determinism rules
    as ivf_assign: integer-quantized coordinates, every dot term < 2^53,
    first-max argmin) so DuckDB re-derives bit-identical codes."""
    from maga_spark.operators.similarity import pq_encode, pq_pivot_codebook

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_pivot_codebook(emb, dim=64, m=4, ksub=8)
    return (
        pq_encode(emb, cb)
        .select("vec_id", "c0", "c1", "c2", "c3")
        .orderBy("vec_id")
    )


SQL_PQ_CODES = """
WITH k AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         md5(vec_id::VARCHAR || ':pq') AS hk
  FROM embeddings
), q AS (
  SELECT vec_id, hk, list_transform(v, x -> floor(x * 1000000.0)) AS qv FROM k
), piv AS (
  SELECT qv, hk, vec_id FROM q ORDER BY hk, vec_id LIMIT 8
), cb AS (
  SELECT list(qv ORDER BY hk, vec_id) AS cs FROM piv
), scored AS (
  SELECT q.vec_id,
    list_transform(cb.cs, c -> 2.0 * list_dot_product(q.qv[1:16],  c[1:16])  - list_dot_product(c[1:16],  c[1:16]))  AS s0,
    list_transform(cb.cs, c -> 2.0 * list_dot_product(q.qv[17:32], c[17:32]) - list_dot_product(c[17:32], c[17:32])) AS s1,
    list_transform(cb.cs, c -> 2.0 * list_dot_product(q.qv[33:48], c[33:48]) - list_dot_product(c[33:48], c[33:48])) AS s2,
    list_transform(cb.cs, c -> 2.0 * list_dot_product(q.qv[49:64], c[49:64]) - list_dot_product(c[49:64], c[49:64])) AS s3
  FROM q, cb
)
SELECT vec_id,
       (list_position(s0, list_max(s0)) - 1)::INT AS c0,
       (list_position(s1, list_max(s1)) - 1)::INT AS c1,
       (list_position(s2, list_max(s2)) - 1)::INT AS c2,
       (list_position(s3, list_max(s3)) - 1)::INT AS c3
FROM scored ORDER BY vec_id
"""


def q_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-10 (operators/similarity.pq_adc_topk):
    the query (smallest ``md5(vec_id || ':qry')`` row, as in
    ivf_topk_pruned) builds a 4×8 lookup table driver-side; every row's
    score is 4 ``element_at`` lookups summed — the serving scan touches
    only the code columns, never the vectors. Integer-exact throughout, so
    the (score DESC, id) top-10 is engine-portable and exports as BIGINT."""
    from maga_spark.operators.similarity import pq_adc_topk, pq_encode, pq_pivot_codebook

    emb = _t(spark, sf_dir, "embeddings")
    cb = pq_pivot_codebook(emb, dim=64, m=4, ksub=8)
    qrow = (
        emb.orderBy(
            F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(":qry"))), F.col("vec_id")
        )
        .limit(1)
        .collect()[0]
    )
    query = [float(x) for x in qrow["embedding"]]
    coded = pq_encode(emb, cb)
    return pq_adc_topk(coded, cb, query, k=10).select(
        F.col("vec_id").alias("id"), F.col("adc_score").cast("long").alias("adc")
    )


SQL_PQ_ADC = """
WITH k AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         md5(vec_id::VARCHAR || ':pq') AS hk
  FROM embeddings
), q AS (
  SELECT vec_id, hk, list_transform(v, x -> floor(x * 1000000.0)) AS qv FROM k
), piv AS (
  SELECT qv, hk, vec_id FROM q ORDER BY hk, vec_id LIMIT 8
), cb AS (
  SELECT list(qv ORDER BY hk, vec_id) AS cs FROM piv
), qry AS (
  SELECT list_transform(v, x -> floor(x * 1000000.0)) AS qv
  FROM k ORDER BY md5(vec_id::VARCHAR || ':qry'), vec_id LIMIT 1
), coded AS (
  SELECT q.vec_id,
    (list_position(list_transform(cb.cs, c -> 2.0 * list_dot_product(q.qv[1:16],  c[1:16])  - list_dot_product(c[1:16],  c[1:16])),
       list_max(list_transform(cb.cs, c -> 2.0 * list_dot_product(q.qv[1:16],  c[1:16])  - list_dot_product(c[1:16],  c[1:16]))))) AS p0,
    (list_position(list_transform(cb.cs, c -> 2.0 * list_dot_product(q.qv[17:32], c[17:32]) - list_dot_product(c[17:32], c[17:32])),
       list_max(list_transform(cb.cs, c -> 2.0 * list_dot_product(q.qv[17:32], c[17:32]) - list_dot_product(c[17:32], c[17:32]))))) AS p1,
    (list_position(list_transform(cb.cs, c -> 2.0 * list_dot_product(q.qv[33:48], c[33:48]) - list_dot_product(c[33:48], c[33:48])),
       list_max(list_transform(cb.cs, c -> 2.0 * list_dot_product(q.qv[33:48], c[33:48]) - list_dot_product(c[33:48], c[33:48]))))) AS p2,
    (list_position(list_transform(cb.cs, c -> 2.0 * list_dot_product(q.qv[49:64], c[49:64]) - list_dot_product(c[49:64], c[49:64])),
       list_max(list_transform(cb.cs, c -> 2.0 * list_dot_product(q.qv[49:64], c[49:64]) - list_dot_product(c[49:64], c[49:64]))))) AS p3
  FROM q, cb
)
SELECT coded.vec_id AS id,
       (list_dot_product(qry.qv[1:16],  cb.cs[p0][1:16])
      + list_dot_product(qry.qv[17:32], cb.cs[p1][17:32])
      + list_dot_product(qry.qv[33:48], cb.cs[p2][33:48])
      + list_dot_product(qry.qv[49:64], cb.cs[p3][49:64]))::BIGINT AS adc
FROM coded, cb, qry
ORDER BY adc DESC, id
LIMIT 10
"""


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph PageRank (operators/graph.pagerank) with INTEGER-EXACT
    arithmetic: ranks are 10^12-scaled BIGINTs, contributions use integer
    division, damping is the rational 85/100 — so the output hash-matches
    DuckDB bit-for-bit (float PageRank never can: summation order). One
    equi-join + one map-side-combinable groupBy per iteration; dangling
    mass rides a 1-row broadcast aggregate, never a collect. The edge set
    is a deterministic mod-50 functional graph over documents with
    vertices ≡3 (mod 10) made dangling (no out-edges) to exercise the
    redistribution term. Oracle = the same recurrence unrolled as chained
    CTEs — an independent engine running the identical integer algebra."""
    from maga_spark.operators.graph import pagerank

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    e = docs.select(
        F.pmod(k, F.lit(50)).alias("src"), F.pmod(k * 31 + 7, F.lit(50)).alias("dst")
    ).filter((F.col("src") != F.col("dst")) & (F.pmod(F.col("src"), F.lit(10)) != 3))
    return (
        pagerank(e, iters=3)
        .select(F.col("vertex").cast("long").alias("vertex"), "rank_scaled")
        .orderBy("vertex")
    )


def _sql_pagerank(iters: int = 3) -> str:
    """Unrolled integer-exact PageRank CTE chain (see q_pagerank)."""
    s = "1000000000000"
    head = f"""
WITH e AS (
  SELECT DISTINCT (doc_id % 50)::BIGINT AS u, ((doc_id * 31 + 7) % 50)::BIGINT AS v
  FROM documents
  WHERE (doc_id % 50) <> ((doc_id * 31 + 7) % 50) AND (doc_id % 50) % 10 <> 3
), verts AS (
  SELECT u AS vertex FROM e UNION SELECT v FROM e
), nn AS (SELECT count(*)::BIGINT AS n FROM verts),
deg AS (SELECT u AS vertex, count(*)::BIGINT AS deg FROM e GROUP BY u),
r0 AS (SELECT vertex, ({s} // nn.n)::BIGINT AS r FROM verts, nn)"""
    body = ""
    for i in range(1, iters + 1):
        p = i - 1
        body += f""",
c{i} AS (SELECT e.v AS vertex, sum(r.r // d.deg)::BIGINT AS csum
  FROM e JOIN r{p} r ON r.vertex = e.u JOIN deg d ON d.vertex = e.u GROUP BY e.v),
d{i} AS (SELECT coalesce(sum(r.r), 0)::BIGINT AS dang
  FROM r{p} r LEFT JOIN deg d ON d.vertex = r.vertex WHERE d.deg IS NULL),
r{i} AS (SELECT v.vertex,
  ((15 * ({s} // nn.n)) // 100
   + (85 * (coalesce(c.csum, 0) + dd.dang // nn.n)) // 100)::BIGINT AS r
  FROM verts v CROSS JOIN nn CROSS JOIN d{i} dd LEFT JOIN c{i} c ON c.vertex = v.vertex)"""
    return head + body + f"""
SELECT vertex, r AS rank_scaled FROM r{iters} ORDER BY vertex
"""


def q_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution by pointer doubling
    (operators/links.resolve_redirects — ceil(log2(max_hops)) equi-joins
    instead of O(chain-length) self-joins; the page-identity-through-301s
    half of canonicalization, reference analog maga/utils.py:7-11). The
    fixture mixes ≤8-hop chains (every doc_id ≢7 mod 8 redirects to its
    successor) with genuine 3-cycles (one per doc_id ≡0 mod 97). Oracle =
    a DuckDB recursive CTE following chains hop-by-hop — an independent
    O(L) algorithm validating the O(log L) one, exact hops included."""
    from maga_spark.operators.links import resolve_redirects

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    chains = docs.filter(F.pmod(k, F.lit(8)) != 7).select(
        F.concat(F.lit("n"), k.cast("string")).alias("src"),
        F.concat(F.lit("n"), (k + 1).cast("string")).alias("dst"),
    )
    ci = F.concat(F.lit("c"), k.cast("string"))
    cyc = (
        docs.filter(F.pmod(k, F.lit(97)) == 0)
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.concat(ci, F.lit("a")).alias("src"),
                        F.concat(ci, F.lit("b")).alias("dst"),
                    ),
                    F.struct(
                        F.concat(ci, F.lit("b")).alias("src"),
                        F.concat(ci, F.lit("c")).alias("dst"),
                    ),
                    F.struct(
                        F.concat(ci, F.lit("c")).alias("src"),
                        F.concat(ci, F.lit("a")).alias("dst"),
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
    )
    return resolve_redirects(chains.unionByName(cyc), max_hops=32).orderBy("src")


SQL_REDIRECT_RESOLVE = """
WITH RECURSIVE rf AS (
  SELECT 'n' || doc_id AS src, 'n' || (doc_id + 1) AS dst
  FROM documents WHERE doc_id % 8 <> 7
  UNION ALL
  SELECT 'c' || doc_id || cyc.s AS src, 'c' || doc_id || cyc.t AS dst
  FROM documents, (VALUES ('a','b'),('b','c'),('c','a')) AS cyc(s, t)
  WHERE doc_id % 97 = 0
), srcs AS (
  SELECT DISTINCT src FROM rf
), chain(src, cur, hops) AS (
  SELECT src, dst, 1::BIGINT FROM rf
  UNION ALL
  SELECT c.src, r.dst, c.hops + 1 FROM chain c JOIN rf r ON r.src = c.cur
  WHERE c.hops < 32
), term AS (
  SELECT c.src, c.cur, c.hops FROM chain c
  WHERE c.cur NOT IN (SELECT src FROM srcs)
)
SELECT s.src AS src, t.cur AS final_url, t.hops AS hops, (t.src IS NULL) AS is_cycle
FROM srcs s LEFT JOIN term t ON t.src = s.src
ORDER BY s.src
"""


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional contained-duplicate pairs via shared winnowing
    fingerprints (operators/dedup.containment_pairs — the MOSS shape,
    Schleimer et al. SIGMOD'03): the quote-and-extend / boilerplate-block
    case Jaccard misses. Fixture plants known containment: each doc's
    80-char prefix is a second document, so (doc, doc+100000) pairs must
    surface with containment ≈ 1 alongside any organic overlap. Explode →
    equi-join on fingerprint → groupBy — never all-pairs. Oracle rebuilds
    the portable md5 fingerprints in DuckDB list algebra end-to-end."""
    from maga_spark.operators.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 100)
    parts = docs.select("doc_id", F.substring("text", 1, 80).alias("text")).unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    # max_doc_freq caps corpus-hot fingerprints BEFORE the self-join — the
    # operator's own skew guard (dedup.py docstring): without it one
    # boilerplate fingerprint shared by n docs builds n²/2 join groups
    # (VERDICT r4 "What's wrong" #1). The oracle applies the identical cap.
    out = containment_pairs(parts, min_shared=2, min_containment=0.5, max_doc_freq=50)
    return out.select(
        "u",
        "v",
        "shared",
        F.col("fp_u").cast("long").alias("fp_u"),
        F.round("containment", 6).alias("containment_r"),
    ).orderBy("u", "v")


def q_containment_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same containment contract served from a bucketed fingerprint index
    (operators/dedup.build_fingerprint_index → containment_pairs_from_index):
    the winnow hash is paid ONCE at ingest and the sharing self-join is
    bucket-aligned with ZERO Exchange on either side — the scale path for
    a corpus fingerprinted once and mined repeatedly. Identical fixture,
    cap, and output as containment_pairs, so the same oracle hash gates
    both plans."""
    import os
    import tempfile

    from maga_spark.operators.dedup import (
        build_fingerprint_index,
        containment_pairs_from_index,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 100)
    parts = docs.select("doc_id", F.substring("text", 1, 80).alias("text")).unionByName(
        docs.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    path = os.path.join(tempfile.gettempdir(), "maga_q_fp_index")
    build_fingerprint_index(parts, "q_fp_index", path, n_buckets=16, mode="overwrite")
    out = containment_pairs_from_index(
        spark, "q_fp_index", min_shared=2, min_containment=0.5, max_doc_freq=50
    )
    return out.select(
        "u",
        "v",
        "shared",
        F.col("fp_u").cast("long").alias("fp_u"),
        F.round("containment", 6).alias("containment_r"),
    ).orderBy("u", "v")


SQL_CONTAINMENT_PAIRS = """
WITH parts AS (
  SELECT doc_id, substr(text, 1, 80) AS text FROM documents WHERE doc_id <= 100
  UNION ALL
  SELECT doc_id + 100000, text FROM documents WHERE doc_id <= 100
), t AS (
  SELECT doc_id, lower(text) AS t FROM parts
), hs AS (
  SELECT doc_id,
         list_transform(
           generate_series(1, greatest(len(t) - 4, 0)),
           i -> ('0x' || substr(md5(substr(t, i, 5)), 1, 15))::BIGINT
         ) AS hs
  FROM t
), fp AS (
  SELECT doc_id,
         CASE WHEN len(hs) = 0 THEN []::BIGINT[]
              WHEN len(hs) <= 4 THEN [list_min(hs)]
              ELSE list_distinct(list_transform(
                     generate_series(1, len(hs) - 3), j -> list_min(hs[j:j+3])))
         END AS fp
  FROM hs
), ex AS (
  SELECT doc_id, unnest(fp) AS h FROM fp
), sz AS (
  SELECT doc_id, len(fp)::BIGINT AS fp_n FROM fp
), hot AS (
  SELECT h FROM ex GROUP BY h HAVING count(*) > 50
), exc AS (
  SELECT * FROM ex WHERE h NOT IN (SELECT h FROM hot)
), sh AS (
  SELECT a.doc_id AS u, b.doc_id AS v, count(*)::BIGINT AS shared
  FROM exc a JOIN exc b USING (h)
  WHERE a.doc_id <> b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT sh.u, sh.v, sh.shared, sz.fp_n AS fp_u,
       round(sh.shared / sz.fp_n::DOUBLE, 6) AS containment_r
FROM sh JOIN sz ON sz.doc_id = sh.u
WHERE sh.shared / sz.fp_n::DOUBLE >= 0.5
ORDER BY u, v
"""


def q_mime_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Magic-byte format sniff vs declared fmt
    (functions/payload.sniff_format) — the declared/actual cross-check a
    100-TB image ingest runs inside the first scan: only the first 12
    bytes are hexed, the blob never ships. Payloads are synthesized with
    real file signatures (PNG/JPEG/GIF/WEBP/BMP/TIFF on a mod-7 wheel,
    one arm signature-less) over a mod-5 declared-fmt wheel, so matches
    and mismatches both occur. Oracle re-sniffs the identical hex stream
    with independent LIKE logic in DuckDB."""
    from maga_spark.functions.payload import sniff_format

    docs = _t(spark, sf_dir, "documents")
    k = F.pmod(F.col("doc_id"), F.lit(7))
    prefix = (
        F.when(k == 0, "89504E470D0A1A0A")
        .when(k == 1, "FFD8FFE0")
        .when(k == 2, "474946383961")
        .when(k == 3, "524946460000000057454250")
        .when(k == 4, "424D")
        .when(k == 5, "49492A00")
        .otherwise("")
    )
    declared = F.element_at(
        F.array(F.lit("png"), F.lit("jpeg"), F.lit("gif"), F.lit("bmp"), F.lit("webp")),
        (F.pmod(F.col("doc_id"), F.lit(5)) + 1).cast("int"),
    )
    b = docs.select(
        F.format_string("img%08d", F.col("doc_id")).alias("image_id"),
        F.unhex(F.concat(prefix, F.md5("text"))).alias("bytes"),
        declared.alias("declared"),
    )
    return b.select(
        "image_id",
        "declared",
        sniff_format(F.col("bytes")).alias("sniffed"),
        sniff_format(F.col("bytes")).eqNullSafe(F.col("declared")).alias("matches"),
    ).orderBy("image_id")


SQL_MIME_SNIFF = """
WITH b AS (
  SELECT printf('img%08d', doc_id) AS image_id,
         CASE doc_id % 7
           WHEN 0 THEN '89504E470D0A1A0A' WHEN 1 THEN 'FFD8FFE0'
           WHEN 2 THEN '474946383961' WHEN 3 THEN '524946460000000057454250'
           WHEN 4 THEN '424D' WHEN 5 THEN '49492A00' ELSE '' END
           || upper(md5(text)) AS hx,
         CASE doc_id % 5 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' WHEN 2 THEN 'gif'
           WHEN 3 THEN 'bmp' ELSE 'webp' END AS declared
  FROM documents
), s AS (
  SELECT image_id, declared,
         CASE WHEN hx LIKE '89504E470D0A1A0A%' THEN 'png'
              WHEN hx LIKE 'FFD8FF%' THEN 'jpeg'
              WHEN hx LIKE '474946383761%' OR hx LIKE '474946383961%' THEN 'gif'
              WHEN hx LIKE '52494646%' AND substr(hx, 17, 8) = '57454250' THEN 'webp'
              WHEN hx LIKE '424D%' THEN 'bmp'
              WHEN hx LIKE '49492A00%' OR hx LIKE '4D4D002A%' THEN 'tiff'
         END AS sniffed
  FROM b
)
SELECT image_id, declared, sniffed, coalesce(sniffed = declared, false) AS matches
FROM s ORDER BY image_id
"""


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-mixture sampling (operators/sampling.py):
    exactly 7 docs per ``source`` stratum drawn by ranking the portable
    md5-derived uniform hash (no RNG — same rows in any engine/partitioning,
    and the emitted ``draw_rank`` makes every m ≤ 7 budget a prefix of this
    sample). ``in_quarter`` additionally marks the shuffle-free 1/4
    rate-sample membership (hash < 2^60/4 — subset-monotone: the 1/4 sample
    contains the 1/8 sample under the same salt). Oracle reruns the same
    integer hash algebra through DuckDB's row_number."""
    from maga_spark.operators.sampling import _MODULUS, sample_key, sample_per_stratum

    docs = _t(spark, sf_dir, "documents")
    out = sample_per_stratum(docs, n_per=7, stratum_col="source", id_col="doc_id")
    return out.select(
        "doc_id",
        "source",
        F.col("draw_rank").cast("long").alias("draw_rank"),
        (sample_key(F.col("doc_id")) < F.lit(_MODULUS // 4)).alias("in_quarter"),
    ).orderBy("source", "draw_rank")


SQL_STRATIFIED_SAMPLE = """
WITH keyed AS (
  SELECT doc_id, source,
         ('0x' || substr(md5('smp:' || doc_id), 1, 15))::BIGINT AS k
  FROM documents
), ranked AS (
  SELECT doc_id, source, k,
         row_number() OVER (PARTITION BY source ORDER BY k, doc_id) AS draw_rank
  FROM keyed
)
SELECT doc_id, source, draw_rank::BIGINT AS draw_rank,
       k < (1152921504606846976 // 4) AS in_quarter
FROM ranked WHERE draw_rank <= 7 ORDER BY source, draw_rank
"""


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-proportional document selection (operators/sampling.
    weighted_sample — the DCLM/FineWeb-style mixture step where each
    document's own score sets its inclusion odds): weight = min(n_chars,
    1000) out of 1000, so longer docs are proportionally likelier, all
    decided by exact int64 hash-threshold algebra with zero shuffles.
    Emits the verdict column (audit mode) for every doc plus the weight,
    so the oracle hash checks accept AND reject rows."""
    from maga_spark.operators.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    w = F.least(F.col("n_chars").cast("long"), F.lit(1000))
    out = weighted_sample(docs, w, 1000, out_col="picked")
    return out.select(
        "doc_id", w.alias("weight"), F.col("picked")
    ).orderBy("doc_id")


SQL_WEIGHTED_SAMPLE = """
WITH k AS (
  SELECT doc_id,
         least(n_chars::BIGINT, 1000) AS weight,
         ('0x' || substr(md5('wsmp:' || doc_id), 1, 15))::BIGINT AS h
  FROM documents
)
SELECT doc_id, weight,
       h < (1152921504606846976 // 1000) * weight AS picked
FROM k ORDER BY doc_id
"""


_HCLS_NB = 4096  # hashing-trick model size for the driver fixture


def _hcls_weights(spark: SparkSession) -> DataFrame:
    """Deterministic synthetic linear model, regenerable in the oracle:
    weight(bucket) = (bucket · 2654435761) % 2001 − 1000 micro-units
    (Knuth multiplicative spread over [−1000, 1000])."""
    return spark.range(_HCLS_NB).select(
        F.col("id").cast("long").alias("bucket"),
        ((F.col("id") * F.lit(2654435761)) % 2001 - 1000).cast("long").alias("weight"),
    )


def q_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick linear classifier inference (operators/text.
    hashed_classifier_score — the FineWeb-Edu/DCLM quality-filter pass):
    every token occurrence hashes into a 4096-bucket model broadcast to
    the executors; score = bias + Σ weight in exact int64 micro-units,
    keep = score >= 0. Explode → broadcast model join → one combinable
    groupBy; empty docs score the bias via explode_outer. The model is
    synthesized from the same integer recurrence in both engines."""
    from maga_spark.operators.text import hashed_classifier_score

    docs = _t(spark, sf_dir, "documents")
    out = hashed_classifier_score(
        docs, _hcls_weights(spark), _HCLS_NB, bias=50, threshold=0
    )
    return out.orderBy("doc_id")


SQL_CLASSIFIER_SCORE = """
WITH w AS (
  SELECT range::BIGINT AS bucket,
         ((range * 2654435761) % 2001 - 1000)::BIGINT AS weight
  FROM range(4096)
), occ AS (
  SELECT doc_id,
         ('0x' || substr(md5('hcls:' || tok), 1, 15))::BIGINT % 4096 AS bkt
  FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(trim(text)) > 0
                  THEN regexp_split_to_array(lower(trim(text)), '\\s+')
                  ELSE [] END) AS tok
    FROM documents
  )
), scored AS (
  SELECT o.doc_id, count(*) AS n_tokens, sum(w.weight) AS dot
  FROM occ o JOIN w ON o.bkt = w.bucket
  GROUP BY o.doc_id
)
SELECT d.doc_id,
       coalesce(s.n_tokens, 0)::BIGINT AS n_tokens,
       (coalesce(s.dot, 0) + 50)::BIGINT AS score,
       (coalesce(s.dot, 0) + 50) >= 0 AS keep
FROM documents d LEFT JOIN scored s USING (doc_id)
ORDER BY doc_id
"""


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-epoch shuffle (operators/training.
    epoch_shuffle): seed-keyed md5 permutation of the corpus into 16
    shard files with 0-based in-shard positions — reproducible across
    runs and parallelism levels, no rand(). One hash shuffle on shard;
    windows bounded by N/n_shards."""
    from maga_spark.operators.training import epoch_shuffle

    docs = _t(spark, sf_dir, "documents")
    return epoch_shuffle(docs, 16, seed="ep1").orderBy("shard", "pos")


SQL_EPOCH_SHUFFLE = """
WITH k AS (
  SELECT doc_id,
         ('0x' || substr(md5('ep1:' || doc_id), 1, 15))::BIGINT AS key
  FROM documents
)
SELECT doc_id, (key % 16)::BIGINT AS shard,
       (row_number() OVER (PARTITION BY key % 16 ORDER BY key, doc_id) - 1)::BIGINT AS pos,
       key
FROM k ORDER BY shard, pos
"""


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard manifest over the ep1 epoch shuffle (operators/training.
    shard_manifest): per-shard row count + order-independent int64 XOR
    digest of the keys — the loader-side integrity handshake. One
    map-side-combinable groupBy; bit_xor is exact in both engines."""
    from maga_spark.operators.training import epoch_shuffle, shard_manifest

    docs = _t(spark, sf_dir, "documents")
    return shard_manifest(epoch_shuffle(docs, 16, seed="ep1")).orderBy("shard")


SQL_SHARD_MANIFEST = """
WITH k AS (
  SELECT doc_id,
         ('0x' || substr(md5('ep1:' || doc_id), 1, 15))::BIGINT AS key
  FROM documents
)
SELECT (key % 16)::BIGINT AS shard, count(*)::BIGINT AS n_rows,
       bit_xor(key)::BIGINT AS key_digest
FROM k GROUP BY 1 ORDER BY shard
"""


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram-LM quality scoring (operators/text.
    train_bigram_lm + bigram_lm_score): the corpus trains its own
    add-one-smoothed bigram count model, then every document is scored by
    summed log-probability in micro-nats (the one ln per occurrence is
    snapped to integers the way bm25 does, so sums are order-independent
    and hash-exact). Model joins are plain hash equi-joins — the model is
    corpus-sized, never a broadcast; one combinable groupBy ends the
    plan. Single-token docs survive with n_bigrams = 0."""
    from maga_spark.operators.text import bigram_lm_score, train_bigram_lm

    docs = spread_partitions(_t(spark, sf_dir, "documents"))
    uni, bi, vocab = train_bigram_lm(docs)
    return bigram_lm_score(docs, uni, bi, vocab).orderBy("doc_id")


SQL_LM_SCORE = """
WITH base AS (
  SELECT doc_id,
         CASE WHEN len(trim(text)) > 0
              THEN regexp_split_to_array(lower(trim(text)), '\\s+')
              ELSE CAST([] AS VARCHAR[]) END AS ts
  FROM documents
), uni AS (
  SELECT ('0x' || substr(md5(t), 1, 15))::BIGINT AS h1, count(*)::BIGINT AS c1
  FROM (SELECT unnest(ts) AS t FROM base) GROUP BY 1
), vocab AS (
  SELECT count(*)::BIGINT AS v FROM uni
), bi AS (
  SELECT ('0x' || substr(md5(g), 1, 15))::BIGINT AS h12, count(*)::BIGINT AS c12
  FROM (
    SELECT unnest(list_transform(generate_series(1, len(ts) - 1),
                                 i -> ts[i] || ' ' || ts[i+1])) AS g
    FROM base
  ) GROUP BY 1
), occ AS (
  SELECT doc_id,
         ('0x' || substr(md5(ts[i]), 1, 15))::BIGINT AS h1,
         ('0x' || substr(md5(ts[i] || ' ' || ts[i+1]), 1, 15))::BIGINT AS h12
  FROM base, unnest(generate_series(1, len(ts) - 1)) AS u(i)
), lp AS (
  SELECT occ.doc_id,
         round(ln((coalesce(bi.c12, 0) + 1)::DOUBLE
                  / (coalesce(uni.c1, 0) + vocab.v)::DOUBLE)
               * 1000000.0)::BIGINT AS lpm
  FROM occ LEFT JOIN bi USING (h12) LEFT JOIN uni USING (h1), vocab
), agg AS (
  SELECT doc_id, count(*)::BIGINT AS n_bigrams, sum(lpm)::BIGINT AS logprob_micro
  FROM lp GROUP BY doc_id
)
SELECT b.doc_id,
       coalesce(a.n_bigrams, 0)::BIGINT AS n_bigrams,
       coalesce(a.logprob_micro, 0)::BIGINT AS logprob_micro,
       coalesce((-a.logprob_micro) // a.n_bigrams, 0)::BIGINT AS nlp_per_bigram
FROM base b LEFT JOIN agg a USING (doc_id)
ORDER BY doc_id
"""


def q_reg_domain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registrable-domain (eTLD+1) extraction under a public-suffix list
    (operators/links.registrable_domain — the key per-site politeness and
    budgets group by; per-HOST grouping gets blogspot subdomains and
    co.uk sites wrong in opposite directions). Fixture hosts cycle
    through listed 2-label suffixes, unknown TLDs (the implicit * rule),
    bare suffixes and single labels (→ NULL), and FQDN-dot + mixed-case
    forms. Pure expressions; the oracle replays PSL longest-match in
    CASE form."""
    from maga_spark.operators.links import domains_of

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    host = F.element_at(
        F.array(
            F.format_string("www.site%d.com", d),
            F.format_string("a%d.blogspot.com", d),
            F.format_string("news.bbc%d.co.uk", d),
            F.format_string("x.y%d.github.io", d),
            F.format_string("host%d.unknowntld", d),
            F.lit("co.uk"),
            F.lit("localhost"),
            F.format_string("Sub.Mixed%d.Example.", d),
        ),
        (F.pmod(d, F.lit(8)) + 1).cast("int"),
    )
    return (
        domains_of(docs.select("doc_id", host.alias("host")))
        .select("doc_id", "host", "reg_domain")
        .orderBy("doc_id")
    )


SQL_REG_DOMAIN = """
WITH hosts AS (
  SELECT doc_id,
         CASE doc_id % 8
           WHEN 0 THEN 'www.site' || doc_id || '.com'
           WHEN 1 THEN 'a' || doc_id || '.blogspot.com'
           WHEN 2 THEN 'news.bbc' || doc_id || '.co.uk'
           WHEN 3 THEN 'x.y' || doc_id || '.github.io'
           WHEN 4 THEN 'host' || doc_id || '.unknowntld'
           WHEN 5 THEN 'co.uk'
           WHEN 6 THEN 'localhost'
           ELSE 'Sub.Mixed' || doc_id || '.Example.'
         END AS host
  FROM documents
), parsed AS (
  SELECT doc_id, host,
         string_split(regexp_replace(lower(trim(host)), '\\.$', ''), '.') AS lab
  FROM hosts
), m AS (
  SELECT doc_id, host, lab, len(lab) AS n,
         CASE WHEN len(lab) >= 2 AND list_contains(
                ['co.uk','org.uk','ac.uk','com.au','net.au','co.jp',
                 'com.br','github.io','blogspot.com'],
                array_to_string(lab[len(lab)-1:len(lab)], '.'))
              THEN 2 ELSE 1 END AS k
  FROM parsed
)
SELECT doc_id, host,
       CASE WHEN n >= k + 1 THEN array_to_string(lab[n-k:n], '.') END AS reg_domain
FROM m ORDER BY doc_id
"""


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registrable-domain contribution cap (the C4/FineWeb rule that
    no one site dominates the mixture): compose registrable_domain with
    the salted exact per-group top-k (operators/topk.per_group_topk) —
    keep each domain's 5 best documents by length with a total-order
    tie-break. 20 synthetic domains × ~25 docs at sf0.01; the salted
    two-stage window keeps a hot domain from becoming one straggler
    task."""
    from maga_spark.operators.links import domains_of
    from maga_spark.operators.topk import per_group_topk

    docs = _t(spark, sf_dir, "documents")
    host = F.format_string("www.s%d.co.uk", F.pmod(F.col("doc_id"), F.lit(20)))
    capped = per_group_topk(
        domains_of(docs.select("doc_id", "n_chars", host.alias("host"))),
        ["reg_domain"],
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
        F.lit(5),
        salt_key="doc_id",
    )
    return capped.select(
        "doc_id", "reg_domain", F.col("group_rank").cast("long").alias("group_rank")
    ).orderBy("reg_domain", "group_rank")


SQL_DOMAIN_CAP = """
WITH ranked AS (
  SELECT doc_id,
         's' || (doc_id % 20) || '.co.uk' AS reg_domain,
         row_number() OVER (PARTITION BY doc_id % 20
                            ORDER BY n_chars DESC, doc_id ASC) AS group_rank
  FROM documents
)
SELECT doc_id, reg_domain, group_rank::BIGINT AS group_rank
FROM ranked WHERE group_rank <= 5
ORDER BY reg_domain, group_rank
"""


def q_corpus_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED training-export assembly (the round-5 stages chained
    the way a FineWeb-style run chains them): hashing-trick classifier
    gate (X-54) → benchmark decontamination (X-47, the same 41st-doc
    snippet benchmark as q_decontaminate) → per-registrable-domain
    contribution cap (X-57) → deterministic epoch shuffle into 8 shards
    (X-55). Every stage is oracle-checked alone; this query proves they
    compose in ONE plan — left_semi gates, banded/broadcast joins, salted
    cap windows, then the shuffle permutation, no Python anywhere. The
    oracle replays the full chain as CTEs."""
    from maga_spark.operators.links import domains_of
    from maga_spark.operators.text import hashed_classifier_score
    from maga_spark.operators.topk import per_group_topk
    from maga_spark.operators.training import decontaminate, epoch_shuffle

    docs = spread_partitions(_t(spark, sf_dir, "documents"))
    cls = hashed_classifier_score(
        docs, _hcls_weights(spark), _HCLS_NB, bias=50, threshold=0
    )
    kept = docs.join(cls.filter(F.col("keep")).select("doc_id"), "doc_id", "left_semi")
    bench = docs.filter(F.col("doc_id") % 41 == 0).select(
        F.array_join(
            F.slice(F.split(F.trim(F.col("text")), r"\s+"), 5, 16), " "
        ).alias("text")
    )
    dec = decontaminate(kept, bench, n=8)
    clean = kept.join(
        dec.filter(~F.col("contaminated")).select("doc_id"), "doc_id", "left_semi"
    )
    host = F.format_string("www.s%d.co.uk", F.pmod(F.col("doc_id"), F.lit(20)))
    capped = per_group_topk(
        domains_of(clean.select("doc_id", "n_chars", host.alias("host"))),
        ["reg_domain"],
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
        F.lit(15),
        salt_key="doc_id",
    )
    return epoch_shuffle(capped.select("doc_id"), 8, seed="ex1").orderBy(
        "shard", "pos"
    )


SQL_CORPUS_EXPORT = r"""
WITH w AS (
  SELECT range::BIGINT AS bucket,
         ((range * 2654435761) % 2001 - 1000)::BIGINT AS weight
  FROM range(4096)
), occ AS (
  SELECT doc_id,
         ('0x' || substr(md5('hcls:' || tok), 1, 15))::BIGINT % 4096 AS bkt
  FROM (
    SELECT doc_id,
           unnest(CASE WHEN len(trim(text)) > 0
                  THEN regexp_split_to_array(lower(trim(text)), '\s+')
                  ELSE [] END) AS tok
    FROM documents
  )
), scored AS (
  SELECT o.doc_id, sum(w.weight) AS dot
  FROM occ o JOIN w ON o.bkt = w.bucket GROUP BY o.doc_id
), keep1 AS (
  SELECT d.doc_id, d.text, d.n_chars
  FROM documents d LEFT JOIN scored s USING (doc_id)
  WHERE coalesce(s.dot, 0) + 50 >= 0
), toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM keep1
), bench AS (
  SELECT DISTINCT ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
  FROM (
    SELECT unnest(list_distinct(list_transform(
             generate_series(1, greatest(len(btk) - 7, 0)),
             i -> array_to_string(btk[i:i+7], ' ')))) AS g
    FROM (SELECT regexp_split_to_array(trim(text), '\s+')[5:20] AS btk
          FROM documents WHERE doc_id % 41 = 0)
  )
), doc_grams AS (
  SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
  FROM (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
             generate_series(1, greatest(len(tk) - 7, 0)),
             i -> array_to_string(tk[i:i+7], ' ')))) AS g
    FROM toks
  )
), clean AS (
  SELECT k.doc_id, k.n_chars FROM keep1 k
  WHERE k.doc_id NOT IN (
    SELECT DISTINCT doc_id FROM doc_grams WHERE h IN (SELECT h FROM bench)
  )
), ranked AS (
  SELECT doc_id,
         row_number() OVER (PARTITION BY doc_id % 20
                            ORDER BY n_chars DESC, doc_id ASC) AS rr
  FROM clean
), k AS (
  SELECT doc_id,
         ('0x' || substr(md5('ex1:' || doc_id), 1, 15))::BIGINT AS key
  FROM ranked WHERE rr <= 15
)
SELECT doc_id, (key % 8)::BIGINT AS shard,
       (row_number() OVER (PARTITION BY key % 8 ORDER BY key, doc_id) - 1)::BIGINT AS pos,
       key
FROM k ORDER BY shard, pos
"""


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nearest-rank quantiles per source (operators/stats.
    group_quantiles — the corpus-profile report that steers gate
    thresholds): p50/p90/p99 of n_chars as the ceil(q·n/100)-th order
    statistic, pure integers, deterministic under ties because equal
    values are interchangeable. One window + one combinable groupBy."""
    from maga_spark.operators.stats import group_quantiles

    docs = _t(spark, sf_dir, "documents")
    return group_quantiles(docs, ["source"], "n_chars").orderBy("source")


SQL_LENGTH_QUANTILES = """
WITH ranked AS (
  SELECT source, n_chars::BIGINT AS v,
         row_number() OVER (PARTITION BY source ORDER BY n_chars::BIGINT ASC) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
)
SELECT source, max(n)::BIGINT AS n_rows,
       max(CASE WHEN rn = (50 * n + 99) // 100 THEN v END)::BIGINT AS p50,
       max(CASE WHEN rn = (90 * n + 99) // 100 THEN v END)::BIGINT AS p90,
       max(CASE WHEN rn = (99 * n + 99) // 100 THEN v END)::BIGINT AS p99
FROM ranked GROUP BY source ORDER BY source
"""


def q_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-of-two length histogram per source (operators/stats.
    log2_histogram): bucket = floor(log2(n_chars)) derived from the
    binary-digit count — both engines print base-2 unpadded, so the
    bucket is exact integers end-to-end, never a float log. Pure in-row
    bucketing + one combinable groupBy over ≤64 buckets."""
    from maga_spark.operators.stats import log2_histogram

    docs = _t(spark, sf_dir, "documents")
    return log2_histogram(docs, ["source"], "n_chars").orderBy("source", "bucket")


SQL_LENGTH_HISTOGRAM = """
WITH b AS (
  SELECT source, n_chars::BIGINT AS v,
         (CASE WHEN n_chars > 0 THEN length(bin(n_chars::BIGINT)) - 1
               ELSE -1 END)::BIGINT AS bucket
  FROM documents
)
SELECT source, bucket, count(*)::BIGINT AS n_rows,
       min(v)::BIGINT AS min_v, max(v)::BIGINT AS max_v
FROM b GROUP BY source, bucket ORDER BY source, bucket
"""


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-crawl changelog between two table snapshots (plans/snapstore.
    snapshot_diff): each side reduces to (key, md5 digest with NULL
    sentinels) and ONE full-outer equi-join labels every key added /
    removed / changed. Fixture: the "old" epoch drops every 7th doc, the
    "new" epoch drops every 5th and rewrites n_chars on every 3rd — so
    all three statuses occur and the unchanged majority is filtered
    out."""
    from maga_spark.plans.snapstore import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    old = docs.filter(F.pmod(F.col("doc_id"), F.lit(7)) != 0).select(
        "doc_id", "source", "n_chars"
    )
    new = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) != 0).select(
        "doc_id",
        "source",
        F.when(
            F.pmod(F.col("doc_id"), F.lit(3)) == 0, F.col("n_chars") + 1
        ).otherwise(F.col("n_chars")).alias("n_chars"),
    )
    return snapshot_diff(old, new, ["doc_id"], ["source", "n_chars"]).orderBy(
        "doc_id"
    )


SQL_SNAPSHOT_DIFF = """
WITH old AS (
  SELECT doc_id,
         md5((CASE WHEN source IS NULL THEN 'n' ELSE 'v' || source END)
             || chr(31) ||
             (CASE WHEN n_chars IS NULL THEN 'n' ELSE 'v' || n_chars::VARCHAR END)) AS old_digest
  FROM documents WHERE doc_id % 7 <> 0
), new AS (
  SELECT doc_id,
         md5((CASE WHEN source IS NULL THEN 'n' ELSE 'v' || source END)
             || chr(31) ||
             (CASE WHEN n_chars IS NULL THEN 'n'
                   ELSE 'v' || (CASE WHEN doc_id % 3 = 0 THEN n_chars + 1 ELSE n_chars END)::VARCHAR END)) AS new_digest
  FROM documents WHERE doc_id % 5 <> 0
)
SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
       CASE WHEN o.old_digest IS NULL THEN 'added'
            WHEN n.new_digest IS NULL THEN 'removed'
            WHEN o.old_digest <> n.new_digest THEN 'changed'
            ELSE 'unchanged' END AS status,
       o.old_digest, n.new_digest
FROM old o FULL OUTER JOIN new n USING (doc_id)
WHERE NOT (o.old_digest IS NOT NULL AND n.new_digest IS NOT NULL
           AND o.old_digest = n.new_digest)
ORDER BY doc_id
"""


def q_mixture_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture solver (operators/sampling.mixture_rates): per-source token
    inventory + integer target weights → the exact ppm sampling rate each
    source applies, with desired/expected token accounting and the
    undersupplied flag. src0 carries a deliberately outsized weight (50
    vs 2-3) so the rate cap at 10^6 AND the undersupplied branch are both
    exercised; expected_tokens uses the overflow-safe split-multiply
    identity in both engines."""
    from maga_spark.operators.sampling import mixture_rates
    from maga_spark.operators.text import bpe_ish_piece_count

    docs = _t(spark, sf_dir, "documents")
    stats = (
        docs.groupBy("source")
        .agg(F.sum(bpe_ish_piece_count(F.col("text"))).cast("long").alias("tokens"))
        .withColumn(
            "weight",
            F.when(F.col("source") == "src0", F.lit(50))
            .otherwise(F.length("source") % 3 + 1)
            .cast("long"),
        )
    )
    return mixture_rates(stats, 20_000).orderBy("source")


SQL_MIXTURE_RATES = r"""
WITH stats AS (
  SELECT source,
         sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')))::BIGINT AS tokens
  FROM documents GROUP BY source
), t AS (
  SELECT source, tokens,
         (CASE WHEN source = 'src0' THEN 50
               ELSE length(source) % 3 + 1 END)::BIGINT AS weight
  FROM stats
), tot AS (
  SELECT sum(weight)::BIGINT AS tw FROM t
), r AS (
  SELECT source, tokens, weight,
         (20000 * weight) // tw AS desired_tokens,
         least(1000000,
               coalesce((((20000 * weight) // tw) * 1000000) // nullif(tokens, 0),
                        0))::BIGINT AS rate_ppm
  FROM t, tot
)
SELECT source, tokens, weight,
       desired_tokens::BIGINT AS desired_tokens, rate_ppm,
       ((tokens // 1000000) * rate_ppm
        + ((tokens % 1000000) * rate_ppm) // 1000000)::BIGINT AS expected_tokens,
       tokens < desired_tokens AS undersupplied
FROM r ORDER BY source
"""


def q_image_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup clustering with BEST-representative selection (the
    curation policy real image pipelines want: keep the highest-resolution
    copy, not the first-seen): phash pairs via exact pigeonhole banding
    (X-6, no CartesianProduct) → connected components (X-9) → per-cluster
    rank by pixel count with a total-order tie-break. Input is the
    input_hint image-table recipe (same deterministic synthesis as
    image_curate); the oracle replays banding as a bounded quadratic and
    the components as a recursive CTE."""
    from pyspark.sql import Window as _W

    from maga_spark.operators.dedup import hamming_band_pairs
    from maga_spark.operators.graph import connected_components

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 300)
    imgs = docs.select(
        F.col("doc_id").alias("image_id"),
        (F.lit(8) + F.pmod(F.col("doc_id") * 7, F.lit(56))).cast("long").alias("w"),
        (F.lit(8) + F.pmod(F.col("doc_id") * 11, F.lit(56))).cast("long").alias("h"),
        portable_hash64(F.substring(F.col("text"), 1, 40), salt="ph:").alias("phash"),
    )
    pairs = hamming_band_pairs(
        imgs.select(F.col("image_id").alias("id"), F.col("phash").alias("k")),
        max_hamming=6,
        n_bands=7,
        total_bits=60,
        id_col="id",
        key_col="k",
    )
    comp = connected_components(
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    )
    members = comp.join(
        imgs, comp["vertex"] == imgs["image_id"]
    ).select("component", "image_id", (F.col("w") * F.col("h")).cast("long").alias("px"))
    w = _W.partitionBy("component").orderBy(F.col("px").desc(), F.col("image_id").asc())
    return (
        members.withColumn("keeper", F.row_number().over(w) == 1)
        .select("component", "image_id", "px", "keeper")
        .orderBy("component", "image_id")
    )


SQL_IMAGE_KEEP_BEST = """
WITH RECURSIVE img AS (
  SELECT doc_id AS image_id,
         (8 + (doc_id * 7) % 56)::BIGINT AS w,
         (8 + (doc_id * 11) % 56)::BIGINT AS h,
         ('0x' || substr(md5('ph:' || substr(text, 1, 40)), 1, 15))::BIGINT AS phash
  FROM documents WHERE doc_id <= 300
), e AS (
  SELECT a.image_id AS u, b.image_id AS v
  FROM img a, img b
  WHERE a.image_id < b.image_id AND bit_count(xor(a.phash, b.phash)) <= 6
), sym AS (
  SELECT u, v FROM e UNION SELECT v, u FROM e
), reach(a, b) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.a, s.v FROM reach r JOIN sym s ON r.b = s.u
), comp AS (
  SELECT a::BIGINT AS image_id, least(a, min(b))::BIGINT AS component
  FROM reach GROUP BY a
), members AS (
  SELECT c.component, c.image_id, (i.w * i.h)::BIGINT AS px
  FROM comp c JOIN img i USING (image_id)
)
SELECT component, image_id, px,
       row_number() OVER (PARTITION BY component ORDER BY px DESC, image_id ASC) = 1 AS keeper
FROM members ORDER BY component, image_id
"""


def q_sitemap_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery channel (operators/links.parse_sitemap): <loc>
    extraction + XML entity unescape + <sitemapindex> routing flag, pure
    expressions. The fixture builds one sitemap per document — every 5th a
    sitemapindex whose locs are MORE sitemaps, the rest urlsets mixing
    whitespace-padded locs, an &amp;-escaped query URL, and an empty <loc>
    that must be dropped. Oracle re-extracts with DuckDB's RE2 (the regex is
    backreference-free for exactly this portability)."""
    from maga_spark.operators.links import parse_sitemap

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 300)
    h = F.format_string("https://h%d.example", F.col("doc_id"))
    body = F.when(
        F.pmod(F.col("doc_id"), F.lit(5)) == 0,
        F.format_string(
            "<?xml version=\"1.0\"?><sitemapindex><sitemap><loc>%s/sm1.xml</loc>"
            "</sitemap><sitemap><loc> %s/sm2.xml </loc></sitemap></sitemapindex>",
            h,
            h,
        ),
    ).otherwise(
        F.format_string(
            "<?xml version=\"1.0\"?><urlset><url><loc> %s/a </loc></url>"
            "<!-- c --><url><loc>%s/p?x=1&amp;y=2</loc></url>"
            "<url><loc></loc></url></urlset>",
            h,
            h,
        )
    )
    pages = docs.select(F.concat(h, F.lit("/sitemap.xml")).alias("url"), body.alias("body"))
    return parse_sitemap(pages).orderBy("sitemap_url", "loc")


SQL_SITEMAP_PARSE = """
WITH pages AS (
  SELECT 'https://h' || doc_id || '.example/sitemap.xml' AS sitemap_url,
         CASE WHEN doc_id % 5 = 0 THEN
           '<?xml version="1.0"?><sitemapindex><sitemap><loc>https://h' || doc_id
           || '.example/sm1.xml</loc></sitemap><sitemap><loc> https://h' || doc_id
           || '.example/sm2.xml </loc></sitemap></sitemapindex>'
         ELSE
           '<?xml version="1.0"?><urlset><url><loc> https://h' || doc_id
           || '.example/a </loc></url><!-- c --><url><loc>https://h' || doc_id
           || '.example/p?x=1&amp;y=2</loc></url><url><loc></loc></url></urlset>'
         END AS body
  FROM documents WHERE doc_id <= 300
), ex AS (
  SELECT sitemap_url,
         regexp_matches(body, '(?is)<\\s*sitemapindex[\\s>]') AS is_index,
         unnest(regexp_extract_all(body, '(?is)<loc>\\s*(.*?)\\s*</loc>', 1)) AS raw
  FROM pages
)
SELECT sitemap_url,
       replace(replace(replace(replace(replace(raw,
         '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''), '&amp;', '&')
         AS loc,
       is_index
FROM ex WHERE len(raw) > 0 ORDER BY sitemap_url, loc
"""


def q_html_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → visible text extraction (operators/text.html_to_text) feeding
    the token counter — the step between fetch and every text operator. The
    fixture wraps each document's text in a full page: <style> and <script>
    blocks (the script BODY contains '</p>' — element content must go before
    tag stripping eats it), an HTML comment, heading/paragraph markup, and
    entity-escaped punctuation. Oracle reruns the identical
    backreference-free regex chain through DuckDB's RE2 with 'g'."""
    from maga_spark.operators.text import html_to_text, token_count

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 300)
    html = F.format_string(
        "<html><head><title>t</title><style>p{color:red}</style>"
        "<script>var x=\"</p>\";</script></head><body><!-- c -->"
        "<h1>Doc %d</h1><p>%s</p><p>it&#39;s &amp; &lt;tagged&gt;</p></body></html>",
        F.col("doc_id"),
        F.col("text"),
    )
    extracted = html_to_text(html)
    return docs.select(
        "doc_id",
        extracted.alias("text_out"),
        token_count(extracted).cast("long").alias("n_tokens"),
    ).orderBy("doc_id")


SQL_HTML_TEXT = """
WITH pages AS (
  SELECT doc_id,
         '<html><head><title>t</title><style>p{color:red}</style>'
         || '<script>var x="</p>";</script></head><body><!-- c -->'
         || '<h1>Doc ' || doc_id || '</h1><p>' || text
         || '</p><p>it&#39;s &amp; &lt;tagged&gt;</p></body></html>' AS html
  FROM documents WHERE doc_id <= 300
), stripped AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(html,
           '(?is)<script\\b[^>]*>.*?</script\\s*>', ' ', 'g'),
           '(?is)<style\\b[^>]*>.*?</style\\s*>', ' ', 'g'),
           '(?s)<!--.*?-->', ' ', 'g'),
           '(?s)<[^>]*>', ' ', 'g') AS t
  FROM pages
), decoded AS (
  SELECT doc_id,
         replace(replace(replace(replace(replace(replace(t,
           '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&apos;', ''''),
           '&#39;', ''''), '&amp;', '&') AS t
  FROM stripped
), final AS (
  SELECT doc_id, trim(regexp_replace(t, '\\s+', ' ', 'g')) AS text_out
  FROM decoded
)
SELECT doc_id, text_out,
       CASE WHEN len(trim(text_out)) = 0 THEN 0
            ELSE len(regexp_split_to_array(trim(text_out), '\\s+')) END::BIGINT
         AS n_tokens
FROM final ORDER BY doc_id
"""


def q_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV bottom-k distinct-count sketch
    (operators/sampling.kmv_distinct_estimate): cardinality telemetry in
    portable integer algebra — distinct md5-60-bit hashes, k smallest,
    ``(k-1)·2^60/kth_min`` — reproducible bit-for-bit in DuckDB, unlike
    HLL-backed approx_count_distinct whose register merges are
    engine-internal. Fixture: doc texts deduplicated by a mod-fold
    (text of doc_id and doc_id+250 collide at sf0.01) so the sketch runs
    against a KNOWN duplicated stream; k=64 exercises the estimation
    branch and the oracle pins kth_min and the estimate exactly."""
    from maga_spark.operators.sampling import kmv_distinct_estimate

    docs = _t(spark, sf_dir, "documents")
    stream = docs.select(
        F.concat(F.lit("v"), F.pmod(F.col("doc_id"), F.lit(250)).cast("string")).alias("v")
    )
    return kmv_distinct_estimate(stream, "v", k=64)


SQL_KMV_DISTINCT = """
WITH hashes AS (
  SELECT DISTINCT ('0x' || substr(md5('kmv:' || ('v' || (doc_id % 250))), 1, 15))::BIGINT AS h
  FROM documents
), mins AS (
  SELECT h FROM hashes ORDER BY h ASC LIMIT 64
)
SELECT max(h) AS kth_min, count(*)::BIGINT AS n_mins,
       CASE WHEN count(*) < 64 THEN count(*)
            ELSE round(63 * 1152921504606846976.0 / max(h))::BIGINT END
         AS est_distinct
FROM mins
"""


def q_trap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawler-trap detection (operators/links.url_template + detect_traps):
    URLs collapse to structural templates (hex runs → H before digit runs →
    N, query values → V) and a template with many distinct URLs over few
    distinct contents is flagged — the calendar/faceted/session-id failure
    mode a 10^10-URL frontier must cut off at discovery. Fixture: a
    calendar trap (every doc a distinct date URL, ONE shared content), a
    healthy article family (distinct URL per distinct content), and a
    session-id mill (hex session values, content repeating mod 5). Oracle
    reruns the identical rewrite chain and integer thresholds in DuckDB."""
    from maga_spark.operators.links import detect_traps

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    m = F.pmod(k, F.lit(3))
    url = (
        F.when(
            m == 0,
            F.format_string("https://cal.example/day?d=2026-01-%d", F.pmod(k, F.lit(28)) + 1),
        )
        .when(m == 1, F.format_string("https://news.example/article/%d", k))
        .otherwise(
            F.concat(
                F.lit("https://shop.example/cart?session="),
                F.md5(k.cast("string")),
            )
        )
    )
    content = (
        F.when(m == 0, F.lit("calendar-shell"))
        .when(m == 1, F.concat(F.lit("article-"), k.cast("string")))
        .otherwise(F.concat(F.lit("cart-"), F.pmod(k, F.lit(5)).cast("string")))
    )
    fetches = docs.select(url.alias("url"), content.alias("content_hash"))
    return detect_traps(fetches, min_urls=20, max_content_ratio=4).orderBy("template")


SQL_TRAP_DETECT = """
WITH fetches AS (
  SELECT CASE doc_id % 3
           WHEN 0 THEN printf('https://cal.example/day?d=2026-01-%d', doc_id % 28 + 1)
           WHEN 1 THEN printf('https://news.example/article/%d', doc_id)
           ELSE 'https://shop.example/cart?session=' || md5(doc_id::VARCHAR)
         END AS url,
         CASE doc_id % 3
           WHEN 0 THEN 'calendar-shell'
           WHEN 1 THEN 'article-' || doc_id
           ELSE 'cart-' || (doc_id % 5)
         END AS content_hash
  FROM documents
), t AS (
  SELECT regexp_replace(regexp_replace(regexp_replace(lower(url),
           '[0-9a-f]{8,}', 'H', 'g'), '[0-9]+', 'N', 'g'),
           '=[^&#]*', '=V', 'g') AS template,
         url, content_hash
  FROM fetches
)
SELECT template,
       count(DISTINCT url)::BIGINT AS n_urls,
       count(DISTINCT content_hash)::BIGINT AS n_content,
       (count(DISTINCT url) >= 20
        AND count(DISTINCT url) > 4 * count(DISTINCT content_hash)) AS is_trap
FROM t GROUP BY template ORDER BY template
"""


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval over the curated corpus (operators/text.bm25_scores):
    Lucene-form idf (ln(1+(N-df+.5)/(df+.5)), never negative), length
    normalization against the corpus mean, per-term float gain rounded to
    BIGINT micro-units BEFORE the per-doc sum so the total and the ranking
    are independent of addition order — pure-integer sort (score DESC,
    doc_id), bit-reproducible in DuckDB. Query = three corpus-vocabulary
    terms; exploded tokens are filtered to the query set before any
    shuffle."""
    from maga_spark.operators.text import bm25_scores

    docs = _t(spark, sf_dir, "documents")
    return bm25_scores(docs, ["filter", "window", "join"], top_k=20)


SQL_BM25_SEARCH = """
WITH toks AS (
  SELECT doc_id AS did,
         unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM documents
), doclen AS (
  SELECT did, count(*)::BIGINT AS dl FROM toks GROUP BY did
), stats AS (
  SELECT count(*)::BIGINT AS n_docs, avg(dl) AS avgdl FROM doclen
), hits AS (
  SELECT did, term FROM toks WHERE term IN ('filter', 'join', 'window')
), tf AS (
  SELECT did, term, count(*)::BIGINT AS tf FROM hits GROUP BY did, term
), dfp AS (
  SELECT term, count(DISTINCT did)::BIGINT AS df FROM hits GROUP BY term
), gains AS (
  SELECT tf.did,
         round(
           ln(1.0 + (stats.n_docs - dfp.df + 0.5) / (dfp.df + 0.5))
           * (tf.tf * (1.2 + 1))
           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * doclen.dl / stats.avgdl))
           * 1000000.0
         )::BIGINT AS gm
  FROM tf JOIN dfp USING (term) JOIN doclen ON doclen.did = tf.did, stats
)
SELECT did AS doc_id, count(*)::BIGINT AS n_hit_terms,
       sum(gm)::BIGINT AS score_micro
FROM gains GROUP BY did
ORDER BY score_micro DESC, doc_id ASC LIMIT 20
"""


def q_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix accounting — the report a mixture build signs off on:
    per source, document/token mass at each gate of the pipeline (raw →
    integer quality gates → deterministic 1/4 hash sample). Gates are the
    C4-family rules kept in INTEGER form (n_tokens ≥ 20, punct·10 ≤ chars)
    so every engine agrees without float thresholds; the sample column
    shows exactly what the subset-monotone hash draw (operators/sampling)
    would feed the tokenizer. One groupBy, map-side combinable."""
    from maga_spark.operators.sampling import _MODULUS, sample_key
    from maga_spark.operators.text import bpe_ish_piece_count, token_count

    docs = _t(spark, sf_dir, "documents")
    t = F.col("text")
    pieces = bpe_ish_piece_count(t)
    n_tok = token_count(t)
    n_punct = F.regexp_count(t, F.lit(r"[^a-zA-Z0-9\s]"))
    kept = (n_tok >= 20) & (n_punct * 10 <= F.length(t))
    sampled = kept & (sample_key(F.col("doc_id")) < F.lit(_MODULUS // 4))
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(pieces).cast("long").alias("total_pieces"),
            F.sum(kept.cast("long")).cast("long").alias("kept_docs"),
            F.sum(F.when(kept, pieces).otherwise(F.lit(0))).cast("long").alias("kept_pieces"),
            F.sum(F.when(sampled, pieces).otherwise(F.lit(0))).cast("long").alias("sampled_pieces"),
        )
        .orderBy("source")
    )


SQL_MIXTURE_REPORT = """
WITH g AS (
  SELECT source, doc_id,
         len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS pieces,
         (CASE WHEN len(trim(text)) = 0 THEN 0
               ELSE len(regexp_split_to_array(trim(text), '\\s+')) END >= 20
          AND len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) * 10 <= len(text))
           AS kept,
         ('0x' || substr(md5('smp:' || doc_id), 1, 15))::BIGINT
           < (1152921504606846976 // 4) AS in_sample
  FROM documents
)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(pieces)::BIGINT AS total_pieces,
       sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS kept_docs,
       sum(CASE WHEN kept THEN pieces ELSE 0 END)::BIGINT AS kept_pieces,
       sum(CASE WHEN kept AND in_sample THEN pieces ELSE 0 END)::BIGINT AS sampled_pieces
FROM g GROUP BY source ORDER BY source
"""


def q_anchor_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation per target URL
    (operators/links.extract_anchors + anchor_text_profile): whole-element
    <a> scan, href + inner text split per element, inner markup stripped,
    RFC 3986 resolution, then inbound-reference counts and top-3 anchor
    terms (count DESC, term ASC — pure-integer order) per target — the
    anchor-text relevance signal as a labeled corpus for target pages. The
    fixture gives every document two anchors: one absolute to a mod-20
    shared target (anchor text = the doc's first two words + a <b>-wrapped
    term the strip must flatten), one root-relative to a mod-7 path on the
    page's own origin. Oracle reruns the identical backreference-free
    regex chain and aggregation in DuckDB; top_terms travels as a
    space-joined STRING (the driver hash whitelist has no arrays)."""
    from maga_spark.operators.links import anchor_text_profile, extract_anchors

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 300)
    k = F.col("doc_id")
    w12 = F.concat_ws(
        " ",
        F.element_at(F.split("text", " "), 1),
        F.element_at(F.split("text", " "), 2),
    )
    html = F.format_string(
        '<html><body><a href="https://t%d.example/">%s <b>hub</b></a>'
        '<p>noise</p><a href="/r/%d">go deep</a></body></html>',
        F.pmod(k, F.lit(20)),
        w12,
        F.pmod(k, F.lit(7)),
    )
    pages = docs.select(
        F.format_string("https://s.example/p%d", k).alias("url_canon"),
        html.alias("html"),
    )
    prof = anchor_text_profile(extract_anchors(pages))
    return prof.select(
        "link", "n_refs", F.array_join("top_terms", " ").alias("top_terms_s")
    ).orderBy("link")


SQL_ANCHOR_PROFILE = """
WITH pages AS (
  SELECT doc_id, 'https://s.example/p' || doc_id AS base,
         '<html><body><a href="https://t' || (doc_id % 20)
         || '.example/">' || split_part(text, ' ', 1) || ' ' || split_part(text, ' ', 2)
         || ' <b>hub</b></a><p>noise</p><a href="/r/' || (doc_id % 7)
         || '">go deep</a></body></html>' AS html
  FROM documents WHERE doc_id <= 300
), els AS (
  SELECT base, doc_id,
         unnest(regexp_extract_all(html,
           '(?is)<a\\b[^>]*\\bhref\\s*=\\s*["''][^"'']*["''][^>]*>.*?</a\\s*>', 0)) AS el
  FROM pages
), anchors AS (
  SELECT CASE WHEN regexp_extract(el, '(?is)\\bhref\\s*=\\s*["'']([^"'']*)["'']', 1)
                   LIKE 'https://%'
              THEN 'https://t' || (doc_id % 20) || '.example'
              ELSE 'https://s.example/r/' || (doc_id % 7) END AS link,
         trim(regexp_replace(regexp_replace(
           regexp_extract(el, '(?is)>(.*)</a\\s*>$', 1),
           '(?s)<[^>]*>', ' ', 'g'), '\\s+', ' ', 'g')) AS anchor_text
  FROM els
), terms AS (
  SELECT link, unnest(regexp_split_to_array(lower(trim(anchor_text)), '\\s+')) AS term
  FROM anchors WHERE anchor_text <> ''
), counts AS (
  SELECT link, term, count(*)::BIGINT AS tf FROM terms
  WHERE term <> '' GROUP BY link, term
), ranked AS (
  SELECT link, term, row_number() OVER (PARTITION BY link ORDER BY tf DESC, term) AS rk
  FROM counts
), tops AS (
  SELECT link, string_agg(term, ' ' ORDER BY rk) AS top_terms_s
  FROM ranked WHERE rk <= 3 GROUP BY link
), refs AS (
  SELECT link, count(*)::BIGINT AS n_refs FROM anchors GROUP BY link
)
SELECT r.link, r.n_refs, coalesce(t.top_terms_s, '') AS top_terms_s
FROM refs r LEFT JOIN tops t ON t.link = r.link ORDER BY r.link
"""


def q_robots_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery seeds from robots.txt
    (operators/robots.sitemaps_from_robots): RFC 9309 §2.3 Sitemap records
    — case-insensitive key, any indentation, interleaved with user-agent
    groups they do NOT belong to — extracted as pure expressions. The
    fixture synthesizes one robots.txt per source host mixing rule groups,
    0-2 Sitemap lines (one lowercase, one SITEMAP uppercase), comments and
    blank lines. Oracle re-extracts with the same backreference-free regex
    in DuckDB's RE2."""
    from maga_spark.operators.robots import sitemaps_from_robots

    docs = _t(spark, sf_dir, "documents")
    hosts = docs.groupBy(F.col("source").alias("host")).agg(
        F.count("*").cast("long").alias("n")
    )
    hid = F.regexp_extract("host", r"(\d+)", 1).cast("long")
    txt = F.concat(
        F.lit("User-agent: *\nDisallow: /private\n\n"),
        F.when(
            F.pmod(hid, F.lit(3)) != 2,
            F.format_string("Sitemap: https://%s.example/sitemap.xml\n", F.col("host")),
        ).otherwise(F.lit("")),
        F.lit("# comment\nUser-agent: magabot\nAllow: /\n"),
        F.when(
            F.pmod(hid, F.lit(3)) == 0,
            F.format_string("  SITEMAP:\thttps://%s.example/extra.xml.gz\n", F.col("host")),
        ).otherwise(F.lit("")),
    )
    robots = hosts.select("host", txt.alias("robots_txt"))
    return sitemaps_from_robots(robots).orderBy("host", "sitemap_url")


SQL_ROBOTS_SITEMAPS = """
WITH hosts AS (
  SELECT source AS host, CAST(regexp_extract(source, '(\\d+)', 1) AS BIGINT) AS hid
  FROM documents GROUP BY source
), robots AS (
  SELECT host,
         'User-agent: *' || chr(10) || 'Disallow: /private' || chr(10) || chr(10)
         || CASE WHEN hid % 3 <> 2
                 THEN 'Sitemap: https://' || host || '.example/sitemap.xml' || chr(10)
                 ELSE '' END
         || '# comment' || chr(10) || 'User-agent: magabot' || chr(10) || 'Allow: /' || chr(10)
         || CASE WHEN hid % 3 = 0
                 THEN '  SITEMAP:' || chr(9) || 'https://' || host || '.example/extra.xml.gz' || chr(10)
                 ELSE '' END AS robots_txt
  FROM hosts
)
SELECT host,
       unnest(regexp_extract_all(robots_txt,
         '(?im)^[ \\t]*sitemap[ \\t]*:[ \\t]*(\\S+)', 1)) AS sitemap_url
FROM robots ORDER BY host, sitemap_url
"""


def q_caption_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Caption↔image alignment gate (operators/similarity.alignment_gate):
    the CLIP-score curation filter decided entirely in BIGINT algebra —
    cos ≥ 4/5 tested as dot²·den² ≥ num²·|a|²·|b|² on 1000-quantized
    vectors, every intermediate < 2^63 and every per-term product < 2^53,
    so DuckDB re-runs it bit-for-bit. Pairs: each embedding against its
    even-floor neighbor — even ids self-pair (cos = 1, aligned), odd ids
    pair with a DIFFERENT vector (typically misaligned) — both verdicts
    occur without any float threshold ambiguity."""
    from maga_spark.operators.similarity import alignment_gate

    emb = _t(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("a"),
        (F.col("vec_id") - F.pmod(F.col("vec_id"), F.lit(2))).alias("pid"),
    )
    b = emb.select(F.col("vec_id").alias("pid"), F.col("embedding").alias("b"))
    pairs = a.join(b, "pid")
    return (
        alignment_gate(pairs, tau_num=4, tau_den=5, quant=1000)
        .select("id", "pid", "dot_q", "na_q", "nb_q", "aligned")
        .orderBy("id")
    )


SQL_CAPTION_ALIGN = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> floor(x::DOUBLE * 1000)::BIGINT) AS qe
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS id, b.vec_id AS pid, a.qe AS qa, b.qe AS qb
  FROM q a JOIN q b ON b.vec_id = a.vec_id - (a.vec_id % 2)
), terms AS (
  SELECT id, pid,
         list_sum(list_transform(generate_series(1, len(qa)), i -> qa[i] * qb[i]))::BIGINT AS dot_q,
         list_sum(list_transform(generate_series(1, len(qa)), i -> qa[i] * qa[i]))::BIGINT AS na_q,
         list_sum(list_transform(generate_series(1, len(qb)), i -> qb[i] * qb[i]))::BIGINT AS nb_q
  FROM pairs
)
SELECT id, pid, dot_q, na_q, nb_q,
       (dot_q >= 0 AND dot_q * dot_q * 25 >= 16 * na_q * nb_q) AS aligned
FROM terms ORDER BY id
"""


def q_revisit_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive re-crawl scheduling (operators/scheduling.revisit_schedule):
    exponential backoff on stable content, reset on change — the freshness
    policy a 10^10-URL frontier needs where the reference re-pings everything
    every sweep (maga/crawler.py:100-117). Fetch history is synthesized from
    documents: each doc_id becomes a URL fetched at epochs 1..(doc_id%5)+1,
    whose content hash flips mid-history on a mod-3 wheel — so first-fetch,
    never-changed, just-changed, and stable-after-change arms all occur.
    Oracle reruns the identical window algebra in DuckDB."""
    from maga_spark.operators.scheduling import revisit_schedule

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 400)
    k = F.col("doc_id")
    fetches = docs.select(
        F.format_string("u%06d", k).alias("url"),
        F.explode(F.sequence(F.lit(1), (F.pmod(k, F.lit(5)) + 1).cast("int"))).alias(
            "epoch"
        ),
    ).withColumn(
        "content_hash",
        F.when(
            (F.pmod(F.regexp_extract("url", r"u(\d+)", 1).cast("long"), F.lit(3)) == 0)
            & (F.col("epoch") >= 3),
            F.lit("B"),
        ).otherwise(F.lit("A")),
    )
    return revisit_schedule(fetches, base_interval=1, max_interval=8).orderBy("url")


SQL_REVISIT_SCHEDULE = """
WITH fetches AS (
  SELECT printf('u%06d', doc_id) AS url, e.epoch,
         CASE WHEN doc_id % 3 = 0 AND e.epoch >= 3 THEN 'B' ELSE 'A' END
           AS content_hash
  FROM documents, LATERAL (
    SELECT unnest(generate_series(1, (doc_id % 5) + 1)) AS epoch
  ) e
  WHERE doc_id <= 400
), hist AS (
  SELECT url, epoch,
         CASE WHEN lag(content_hash) OVER w IS NOT NULL
                   AND content_hash <> lag(content_hash) OVER w
              THEN 1 ELSE 0 END AS chg,
         row_number() OVER w AS n
  FROM fetches
  WINDOW w AS (PARTITION BY url ORDER BY epoch)
), agg AS (
  SELECT url, epoch, n,
         sum(chg) OVER w2 AS nchg,
         max(CASE WHEN chg = 1 THEN n END) OVER w2 AS last_chg_n,
         row_number() OVER (PARTITION BY url ORDER BY epoch DESC) AS rn
  FROM hist
  WINDOW w2 AS (PARTITION BY url ORDER BY epoch)
), last AS (
  SELECT url, n, nchg, epoch,
         greatest(n - coalesce(last_chg_n, 1), 0) AS streak
  FROM agg WHERE rn = 1
)
SELECT url, n::BIGINT AS n_fetches, nchg::BIGINT AS n_changes,
       epoch::BIGINT AS last_epoch, streak::BIGINT AS unchanged_streak,
       least(1 << least(streak, 63), 8)::BIGINT AS next_interval,
       (epoch + least(1 << least(streak, 63), 8))::BIGINT AS next_epoch
FROM last ORDER BY url
"""


def q_budget_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact largest-remainder budget apportionment
    (operators/scheduling.fair_share): the epoch's global grant K split
    across hosts ∝ pending work, floors + remainder seats, capped at each
    host's own pending (surplus returns to the next epoch, never an
    in-plan loop). Hosts = documents' sources with pending = per-source
    char mass mod 97 (+1) — skewed but deterministic. Oracle reruns the
    same BIGINT floor/mod algebra."""
    from maga_spark.operators.scheduling import fair_share

    docs = _t(spark, sf_dir, "documents")
    pending = docs.groupBy(F.col("source").alias("host")).agg(
        (F.pmod(F.sum("n_chars"), F.lit(97)) + 1).cast("long").alias("pending")
    )
    return fair_share(pending, budget=100).orderBy("host")


SQL_BUDGET_SHARE = """
WITH pending AS (
  SELECT source AS host, (sum(n_chars) % 97 + 1)::BIGINT AS pending
  FROM documents GROUP BY source
), tot AS (
  SELECT sum(pending)::BIGINT AS total FROM pending
), p AS (
  SELECT host, pending,
         (100 * pending) // total AS fl,
         (100 * pending) % total AS rem
  FROM pending, tot
), lo AS (
  SELECT 100 - sum(fl) AS leftover FROM p
)
SELECT host, pending,
       least(pending,
             fl + CASE WHEN row_number() OVER (ORDER BY rem DESC, host) <= leftover
                       THEN 1 ELSE 0 END)::BIGINT AS quota
FROM p, lo ORDER BY host
"""


def q_geometry_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-container geometry gate (functions/payload.header_dims /
    geometry_check): the (w, h) each container header claims, read at fixed
    byte offsets from a 26-byte hex prefix — PNG IHDR big-endian, GIF
    logical-screen little-endian, BMP info-header little-endian with a
    negative (top-down) height arm — cross-checked against the declared
    columns of the input_hint shape. The fixture synthesizes REAL headers
    on a mod-4 format wheel, corrupts the header width on a mod-11 wheel
    (geometry_ok=false), and leaves JPEG dims NULL (SOF is not
    fixed-offset). Oracle rebuilds the same hex algebra in DuckDB."""
    from maga_spark.functions.payload import geometry_check

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    w = (k % 32 + 16).cast("long")
    h = ((k * 7) % 32 + 16).cast("long")
    hw = F.when(F.pmod(k, F.lit(11)) == 0, w + 1).otherwise(w)  # corrupt arm
    be8 = lambda v: F.lpad(F.hex(v), 8, "0")  # noqa: E731
    le8 = lambda v: F.concat(  # noqa: E731
        F.substring(be8(v), 7, 2), F.substring(be8(v), 5, 2),
        F.substring(be8(v), 3, 2), F.substring(be8(v), 1, 2),
    )
    le4 = lambda v: F.concat(  # noqa: E731
        F.substring(F.lpad(F.hex(v), 4, "0"), 3, 2),
        F.substring(F.lpad(F.hex(v), 4, "0"), 1, 2),
    )
    m = F.pmod(k, F.lit(4))
    neg = F.pmod(k, F.lit(8)) == 1  # BMP top-down rows: height stored negative
    bmp_h = F.when(neg, F.lit(4294967296) - h).otherwise(h)
    hex_payload = (
        F.when(m == 0, F.concat(F.lit("89504E470D0A1A0A0000000D49484452"), be8(hw), be8(h), F.lit("08060000")))
        .when(m == 1, F.concat(F.lit("474946383961"), le4(hw), le4(h)))
        .when(
            m == 2,
            F.concat(
                F.lit("424D000000000000000036000000" + "28000000"), le8(hw), le8(bmp_h)
            ),
        )
        .otherwise(F.concat(F.lit("FFD8FFE0"), be8(w), be8(h)))
    )
    imgs = docs.select(
        F.format_string("img%08d", k).alias("image_id"),
        F.unhex(hex_payload).alias("bytes"),
        w.cast("int").alias("w"),
        h.cast("int").alias("h"),
        F.element_at(
            F.array(F.lit("png"), F.lit("gif"), F.lit("bmp"), F.lit("jpeg")),
            (m + 1).cast("int"),
        ).alias("fmt"),
    )
    return geometry_check(imgs).select(
        "image_id", "fmt", "hdr_fmt", "hdr_w", "hdr_h", "geometry_ok"
    ).orderBy("image_id")


SQL_GEOMETRY_CHECK = """
WITH base AS (
  SELECT doc_id, printf('img%08d', doc_id) AS image_id,
         (doc_id % 32 + 16)::BIGINT AS w, ((doc_id * 7) % 32 + 16)::BIGINT AS h,
         CASE WHEN doc_id % 11 = 0 THEN (doc_id % 32 + 17)::BIGINT
              ELSE (doc_id % 32 + 16)::BIGINT END AS hw,
         doc_id % 4 AS m,
         CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' WHEN 2 THEN 'bmp'
              ELSE 'jpeg' END AS fmt
  FROM documents
), built AS (
  SELECT *,
         lpad(hex(hw), 8, '0') AS hw8, lpad(hex(h), 8, '0') AS h8,
         lpad(hex(hw), 4, '0') AS hw4, lpad(hex(h), 4, '0') AS h4,
         lpad(hex(CASE WHEN doc_id % 8 = 1 THEN 4294967296 - h ELSE h END), 8, '0')
           AS bh8
  FROM base
), hx AS (
  SELECT image_id, fmt, w, h,
         CASE m
           WHEN 0 THEN '89504E470D0A1A0A0000000D49484452' || hw8 || h8 || '08060000'
           WHEN 1 THEN '474946383961'
                || substr(hw4, 3, 2) || substr(hw4, 1, 2)
                || substr(h4, 3, 2) || substr(h4, 1, 2)
           WHEN 2 THEN '424D00000000000000003600000028000000'
                || substr(hw8, 7, 2) || substr(hw8, 5, 2) || substr(hw8, 3, 2) || substr(hw8, 1, 2)
                || substr(bh8, 7, 2) || substr(bh8, 5, 2) || substr(bh8, 3, 2) || substr(bh8, 1, 2)
           ELSE 'FFD8FFE0' || lpad(hex(w), 8, '0') || h8
         END AS hx
  FROM built
), parsed AS (
  SELECT image_id, fmt, w, h,
         CASE WHEN hx LIKE '89504E470D0A1A0A%' THEN 'png'
              WHEN hx LIKE 'FFD8FF%' THEN 'jpeg'
              WHEN hx LIKE '474946383761%' OR hx LIKE '474946383961%' THEN 'gif'
              WHEN hx LIKE '52494646%' AND substr(hx, 17, 8) = '57454250' THEN 'webp'
              WHEN hx LIKE '424D%' THEN 'bmp'
              WHEN hx LIKE '49492A00%' OR hx LIKE '4D4D002A%' THEN 'tiff'
         END AS hdr_fmt,
         hx
  FROM hx
), dims AS (
  SELECT image_id, fmt, w, h, hdr_fmt,
         CASE WHEN hdr_fmt = 'png' AND len(hx) >= 48
                THEN ('0x' || substr(hx, 33, 8))::BIGINT
              WHEN hdr_fmt = 'gif' AND len(hx) >= 20
                THEN ('0x' || substr(hx, 15, 2) || substr(hx, 13, 2))::BIGINT
              WHEN hdr_fmt = 'bmp' AND len(hx) >= 52
                THEN CASE WHEN ('0x' || substr(hx, 43, 2) || substr(hx, 41, 2)
                            || substr(hx, 39, 2) || substr(hx, 37, 2))::BIGINT >= 2147483648
                          THEN ('0x' || substr(hx, 43, 2) || substr(hx, 41, 2)
                            || substr(hx, 39, 2) || substr(hx, 37, 2))::BIGINT - 4294967296
                          ELSE ('0x' || substr(hx, 43, 2) || substr(hx, 41, 2)
                            || substr(hx, 39, 2) || substr(hx, 37, 2))::BIGINT END
         END AS hdr_w,
         CASE WHEN hdr_fmt = 'png' AND len(hx) >= 48
                THEN ('0x' || substr(hx, 41, 8))::BIGINT
              WHEN hdr_fmt = 'gif' AND len(hx) >= 20
                THEN ('0x' || substr(hx, 19, 2) || substr(hx, 17, 2))::BIGINT
              WHEN hdr_fmt = 'bmp' AND len(hx) >= 52
                THEN abs(CASE WHEN ('0x' || substr(hx, 51, 2) || substr(hx, 49, 2)
                            || substr(hx, 47, 2) || substr(hx, 45, 2))::BIGINT >= 2147483648
                          THEN ('0x' || substr(hx, 51, 2) || substr(hx, 49, 2)
                            || substr(hx, 47, 2) || substr(hx, 45, 2))::BIGINT - 4294967296
                          ELSE ('0x' || substr(hx, 51, 2) || substr(hx, 49, 2)
                            || substr(hx, 47, 2) || substr(hx, 45, 2))::BIGINT END)
         END AS hdr_h
  FROM parsed
)
SELECT image_id, fmt, hdr_fmt, hdr_w, hdr_h,
       CASE WHEN hdr_w IS NULL THEN NULL
            ELSE hdr_fmt = fmt AND hdr_w = w AND hdr_h = h END AS geometry_ok
FROM dims ORDER BY image_id
"""


def q_rank_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Authority-blended frontier ordering (operators/graph.authority_blend):
    integer-exact pagerank over the mod-50 link graph coarsened to 8 BIGINT
    authority tiers, joined onto a synthetic per-host candidate set, top-2
    per host by the uniform priority key — the 'crawl hubs first' signal the
    reference's ping-everything loop (maga/crawler.py:121-126) never needed
    at its scale. Join + host-partitioned window only (no global window, no
    forced broadcast). Oracle chains the unrolled pagerank CTEs into the same
    tier/row_number algebra."""
    from maga_spark.operators.dedup import portable_hash64
    from maga_spark.operators.graph import authority_blend, pagerank

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    e = docs.select(
        F.pmod(k, F.lit(50)).alias("src"), F.pmod(k * 31 + 7, F.lit(50)).alias("dst")
    ).filter((F.col("src") != F.col("dst")) & (F.pmod(F.col("src"), F.lit(10)) != 3))
    ranks = pagerank(e, iters=3)
    frontier = docs.select(
        F.pmod(k, F.lit(50)).cast("long").alias("host"),
        portable_hash64(k.cast("string"), salt="pk:").alias("priority_key"),
    )
    return authority_blend(frontier, ranks, n_per_host=2).orderBy(
        "host", "host_rank"
    )


def _sql_rank_blend() -> str:
    pr = _sql_pagerank(3)
    head = pr[: pr.rindex("SELECT vertex")]
    return (
        head
        + """, pr AS (
  SELECT vertex, r AS rank_scaled FROM r3
), frontier AS (
  SELECT (doc_id % 50)::BIGINT AS host,
         ('0x' || substr(md5('pk:' || doc_id), 1, 15))::BIGINT AS priority_key
  FROM documents
), joined AS (
  SELECT f.host,
         coalesce(pr.rank_scaled // 125000000000, 0)::BIGINT AS auth_tier,
         f.priority_key,
         row_number() OVER (PARTITION BY f.host ORDER BY f.priority_key)::BIGINT
           AS host_rank
  FROM frontier f LEFT JOIN pr ON pr.vertex = f.host
)
SELECT host, auth_tier, priority_key, host_rank
FROM joined WHERE host_rank <= 2 ORDER BY host, host_rank
"""
    )


def _warc_fixture(spark: SparkSession, sf_dir: str, gen: int = 0) -> DataFrame:
    """Synthetic WARC files over the documents table, one file per doc:
    an optional warcinfo record (every 5th doc), a request record, and a
    response record whose HTTP body embeds the literal bytes
    ``WARC/1.0\\r\\n`` on every 7th doc — the case that makes
    delimiter-based record splitting WRONG by construction and forces the
    splitter to honor Content-Length (operators/warc.py). The oracle
    rebuilds the same strings and derives every offset/length
    ARITHMETICALLY from the construction — an independent derivation, not
    a re-implementation of the offset chase.

    ``gen`` models a RECRAWL of the same URLs one month later (file ids
    ``r<k>`` instead of ``w<k>``): every doc_id % 3 != 0 page changed
    content (distinct digest), the rest are byte-identical — the input
    shape cdx_revisits dedups."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 200)
    k = F.col("doc_id")
    m = F.pmod(k, F.lit(37))
    uri = F.format_string("https://www.h%d.example:443/p/%d?q=%d", m, k, k)
    # day/sec ranges start at 10 so both engines print two digits with no
    # lpad (format_string %d vs DuckDB int||string must agree char-for-char)
    wdate = F.format_string(
        f"2024-0{3 + gen}-%dT12:34:%dZ",
        F.pmod(k, F.lit(18)) + 10,
        F.pmod(k, F.lit(50)) + 10,
    )
    body = F.concat(
        F.lit("<html>"),
        F.substring("text", 1, 60),
        F.when(
            F.pmod(k, F.lit(7)) == 0, F.lit("\r\nWARC/1.0\r\nWARC-Type: fake")
        ).otherwise(F.lit("")),
        (
            F.when(F.pmod(k, F.lit(3)) != 0, F.lit(" rev2")).otherwise(F.lit(""))
            if gen >= 1
            else F.lit("")
        ),
        F.lit("</html>"),
    )
    sline = F.when(F.pmod(k, F.lit(11)) == 0, F.lit("404 Not Found")).otherwise(
        F.lit("200 OK")
    )
    mime_full = (
        F.when(F.pmod(k, F.lit(3)) == 0, F.lit("text/html; charset=utf-8"))
        .when(F.pmod(k, F.lit(3)) == 1, F.lit("text/plain"))
        .otherwise(F.lit("application/json"))
    )
    p_info = F.lit("software: maga_spark/5")
    p_req = F.format_string("GET /p/%d HTTP/1.1\r\nHost: h%d.example\r\n\r\n", k, m)
    p_resp = F.concat(
        F.lit("HTTP/1.1 "),
        sline,
        F.lit("\r\nContent-Type: "),
        mime_full,
        F.lit("\r\nServer: maga\r\n\r\n"),
        body,
    )

    def rec(wtype: str, payload, with_uri: bool):
        parts = [F.lit(f"WARC/1.0\r\nWARC-Type: {wtype}\r\nWARC-Date: "), wdate, F.lit("\r\n")]
        if with_uri:
            parts += [F.lit("WARC-Target-URI: "), uri, F.lit("\r\n")]
        parts += [
            F.lit("Content-Length: "),
            F.length(payload).cast("string"),
            F.lit("\r\n\r\n"),
            payload,
            F.lit("\r\n\r\n"),
        ]
        return F.concat(*parts)

    data = F.concat(
        F.when(F.pmod(k, F.lit(5)) == 0, rec("warcinfo", p_info, False)).otherwise(
            F.lit("")
        ),
        rec("request", p_req, True),
        rec("response", p_resp, True),
    )
    fpfx = "w" if gen == 0 else "r"
    return docs.select(F.format_string(f"{fpfx}%d", k).alias("file_id"), data.alias("data"))


def q_warc_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC record split + parse end-to-end (operators/warc.py X-43):
    length-prefixed record offsets chased with a pure higher-order
    ``aggregate`` (zero Python), then header + embedded-HTTP fields via
    RE2-portable expressions. The fixture's every-7th-doc response body
    embeds a fake ``WARC/1.0`` record header, so any delimiter-based
    split produces extra rows and fails the oracle's row count."""
    from maga_spark.operators.warc import parse_warc_records, split_warc

    files = _warc_fixture(spark, sf_dir)
    out = parse_warc_records(split_warc(files, max_records=8))
    return out.select(
        "file_id",
        "rec_no",
        "rec_offset",
        "rec_len",
        "warc_type",
        "target_uri",
        "warc_epoch",
        "content_length",
        "http_status",
        "http_content_type",
        "truncated",
    ).orderBy("file_id", "rec_no")


# shared fixture-construction CTEs for the WARC oracles: rebuild the same
# record strings and derive offsets/lengths arithmetically (r_info comes
# first when present, then r_req, then r_resp)
def _warc_fixture_sql(gen: int = 0, sfx: str = "") -> str:
    """Oracle half of ``_warc_fixture(gen=...)``: same strings, offsets
    derived arithmetically. ``sfx`` renames the CTEs (base/pay/recs →
    base_a/…) so two generations can share one WITH chain."""
    fpfx = "w" if gen == 0 else "r"
    rev = (
        ""
        if gen == 0
        else "\n           || CASE WHEN doc_id % 3 != 0 THEN ' rev2' ELSE '' END"
    )
    return rf"""
WITH base{sfx} AS (
  SELECT doc_id,
         '{fpfx}' || doc_id AS file_id,
         doc_id % 37 AS m,
         '2024-0{3 + gen}-' || (10 + doc_id % 18) || 'T12:34:' || (10 + doc_id % 50) || 'Z' AS wdate,
         'https://www.h' || (doc_id % 37) || '.example:443/p/' || doc_id || '?q=' || doc_id AS uri,
         '<html>' || substr(text, 1, 60)
           || CASE WHEN doc_id % 7 = 0 THEN e'\r\nWARC/1.0\r\nWARC-Type: fake' ELSE '' END{rev}
           || '</html>' AS body,
         CASE WHEN doc_id % 11 = 0 THEN '404 Not Found' ELSE '200 OK' END AS sline,
         CASE WHEN doc_id % 11 = 0 THEN 404 ELSE 200 END AS scode,
         CASE doc_id % 3 WHEN 0 THEN 'text/html; charset=utf-8'
              WHEN 1 THEN 'text/plain' ELSE 'application/json' END AS mime_full,
         CASE doc_id % 3 WHEN 0 THEN 'text/html'
              WHEN 1 THEN 'text/plain' ELSE 'application/json' END AS mime
  FROM documents WHERE doc_id <= 200
), pay{sfx} AS (
  SELECT *,
         'software: maga_spark/5' AS p_info,
         'GET /p/' || doc_id || e' HTTP/1.1\r\nHost: h' || m || e'.example\r\n\r\n' AS p_req,
         'HTTP/1.1 ' || sline || e'\r\nContent-Type: ' || mime_full
           || e'\r\nServer: maga\r\n\r\n' || body AS p_resp
  FROM base{sfx}
), recs{sfx} AS (
  SELECT *,
         CASE WHEN doc_id % 5 = 0 THEN
           e'WARC/1.0\r\nWARC-Type: warcinfo\r\nWARC-Date: ' || wdate
           || e'\r\nContent-Length: ' || len(p_info) || e'\r\n\r\n' || p_info || e'\r\n\r\n'
         END AS r_info,
         e'WARC/1.0\r\nWARC-Type: request\r\nWARC-Date: ' || wdate
           || e'\r\nWARC-Target-URI: ' || uri
           || e'\r\nContent-Length: ' || len(p_req) || e'\r\n\r\n' || p_req || e'\r\n\r\n' AS r_req,
         e'WARC/1.0\r\nWARC-Type: response\r\nWARC-Date: ' || wdate
           || e'\r\nWARC-Target-URI: ' || uri
           || e'\r\nContent-Length: ' || len(p_resp) || e'\r\n\r\n' || p_resp || e'\r\n\r\n' AS r_resp
  FROM pay{sfx}
)
"""


_WARC_FIXTURE_SQL = _warc_fixture_sql()

SQL_WARC_PARSE = (
    _WARC_FIXTURE_SQL
    + r""", rows3 AS (
  SELECT file_id, 1::BIGINT AS rec_no, 1::BIGINT AS rec_offset,
         len(r_info)::BIGINT AS rec_len, 'warcinfo' AS warc_type,
         NULL::VARCHAR AS target_uri,
         epoch(strptime(wdate, '%Y-%m-%dT%H:%M:%SZ'))::BIGINT AS warc_epoch,
         len(p_info)::BIGINT AS content_length,
         NULL::INTEGER AS http_status, NULL::VARCHAR AS http_content_type,
         false AS truncated
  FROM recs WHERE r_info IS NOT NULL
  UNION ALL
  SELECT file_id, (1 + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)::BIGINT,
         (1 + coalesce(len(r_info), 0))::BIGINT,
         len(r_req)::BIGINT, 'request', uri,
         epoch(strptime(wdate, '%Y-%m-%dT%H:%M:%SZ'))::BIGINT,
         len(p_req)::BIGINT, NULL::INTEGER, NULL::VARCHAR, false
  FROM recs
  UNION ALL
  SELECT file_id, (2 + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END)::BIGINT,
         (1 + coalesce(len(r_info), 0) + len(r_req))::BIGINT,
         len(r_resp)::BIGINT, 'response', uri,
         epoch(strptime(wdate, '%Y-%m-%dT%H:%M:%SZ'))::BIGINT,
         len(p_resp)::BIGINT, scode, mime, false
  FROM recs
)
SELECT * FROM rows3 ORDER BY file_id, rec_no
"""
)


def q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX capture index (operators/warc.cdx_index X-44): the sorted
    web-archive lookup artifact — SURT key (host-reversed canonical URL),
    compact timestamp, MIME, status, payload digest, and the (offset,
    length) pair that range-reads the capture straight out of its WARC
    file. The oracle constructs every field independently from the
    fixture arithmetic, including the SURT (string-built, not via the
    Spark operator) and the record offsets."""
    from maga_spark.operators.warc import cdx_index, parse_warc_records, split_warc

    files = _warc_fixture(spark, sf_dir)
    return cdx_index(parse_warc_records(split_warc(files, max_records=8))).orderBy(
        "surt", "ts"
    )


SQL_CDX_INDEX = (
    _WARC_FIXTURE_SQL
    + r"""
SELECT 'example,h' || m || ')/p/' || doc_id || '?q=' || doc_id AS surt,
       '202403' || (10 + doc_id % 18) || '1234' || (10 + doc_id % 50) AS ts,
       uri AS original_url,
       mime,
       scode AS status,
       md5(body) AS digest,
       (1 + coalesce(len(r_info), 0) + len(r_req))::BIGINT AS rec_offset,
       len(r_resp)::BIGINT AS rec_len,
       file_id AS file
FROM recs ORDER BY surt, ts
"""
)


def q_cdx_revisit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC revisit detection (operators/warc.cdx_revisits X-45): two
    crawl generations of the same URL universe — the recrawl changed 2/3
    of the pages and left 1/3 byte-identical — flow through split → parse
    → cdx_index → cdx_revisits; identical-digest recaptures must come out
    flagged ``revisit`` with (orig_ts, orig_file, orig_offset) pointing at
    the first capture. The oracle rebuilds both generations' digests and
    offsets arithmetically and re-derives the revisit flags with an
    independent SQL window."""
    from maga_spark.operators.warc import (
        cdx_index,
        cdx_revisits,
        parse_warc_records,
        split_warc,
    )

    files = _warc_fixture(spark, sf_dir).unionByName(_warc_fixture(spark, sf_dir, gen=1))
    cdx = cdx_index(parse_warc_records(split_warc(files, max_records=8)))
    return (
        cdx_revisits(cdx)
        .select(
            "surt", "ts", "file", "digest", "revisit", "orig_ts", "orig_file", "orig_offset"
        )
        .orderBy("surt", "ts", "file")
    )


def _cdx_captures_sql(gen: int, sfx: str) -> str:
    return rf"""SELECT 'example,h' || m || ')/p/' || doc_id || '?q=' || doc_id AS surt,
       '20240{3 + gen}' || (10 + doc_id % 18) || '1234' || (10 + doc_id % 50) AS ts,
       md5(body) AS digest,
       (1 + coalesce(len(r_info), 0) + len(r_req))::BIGINT AS rec_offset,
       file_id AS file
FROM recs{sfx}"""


SQL_CDX_REVISIT = (
    _warc_fixture_sql(0, "_a")
    + ", "
    + _warc_fixture_sql(1, "_b").strip().removeprefix("WITH ")
    + f""", cdx AS (
  {_cdx_captures_sql(0, "_a")}
  UNION ALL
  {_cdx_captures_sql(1, "_b")}
)
SELECT surt, ts, file, digest,
       row_number() OVER w > 1 AS revisit,
       first_value(ts) OVER w AS orig_ts,
       first_value(file) OVER w AS orig_file,
       first_value(rec_offset) OVER w AS orig_offset
FROM cdx
WINDOW w AS (PARTITION BY surt, digest ORDER BY ts, file, rec_offset)
ORDER BY surt, ts, file
"""
)


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequential context packing (operators/training.sequence_pack
    X-46): whitespace token counts, ctx_len=512, one independent packing
    stream per source (the scale contract — the window cumsum never sees
    more than one stream). Oracle: the same cumsum as a SQL window."""
    from maga_spark.operators.text import token_count
    from maga_spark.operators.training import sequence_pack

    docs = _t(spark, sf_dir, "documents")
    return sequence_pack(docs, 512, token_count(F.col("text"))).orderBy("doc_id")


SQL_SEQUENCE_PACK = r"""
WITH toks AS (
  SELECT doc_id, source,
         CASE WHEN len(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END::BIGINT AS n_tokens
  FROM documents
), packed AS (
  SELECT doc_id, source, n_tokens,
         coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS tok_start
  FROM toks
)
SELECT doc_id, source, n_tokens, tok_start,
       (tok_start + n_tokens)::BIGINT AS tok_end,
       (tok_start // 512)::BIGINT AS bin_first,
       (CASE WHEN n_tokens > 0 THEN (tok_start + n_tokens - 1) // 512
             ELSE tok_start // 512 END)::BIGINT AS bin_last,
       (CASE WHEN n_tokens > 0 THEN (tok_start + n_tokens - 1) // 512
             ELSE tok_start // 512 END - tok_start // 512 + 1)::BIGINT AS bins_spanned
FROM packed ORDER BY doc_id
"""


def q_packing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream packing capacity accounting (operators/training.
    packing_stats X-46): contexts filled, token totals, final-context
    padding — the numbers a training run budgets by."""
    from maga_spark.operators.text import token_count
    from maga_spark.operators.training import packing_stats, sequence_pack

    docs = _t(spark, sf_dir, "documents")
    packed = sequence_pack(docs, 512, token_count(F.col("text")))
    return packing_stats(packed, 512).orderBy("source")


SQL_PACKING_STATS = r"""
WITH toks AS (
  SELECT doc_id, source,
         CASE WHEN len(trim(text)) = 0 THEN 0
              ELSE len(regexp_split_to_array(trim(text), '\s+')) END::BIGINT AS n_tokens
  FROM documents
), packed AS (
  SELECT doc_id, source, n_tokens,
         coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS tok_start
  FROM toks
), bins AS (
  SELECT doc_id, source, n_tokens,
         CASE WHEN n_tokens > 0 THEN (tok_start + n_tokens - 1) // 512
              ELSE tok_start // 512 END::BIGINT AS bin_last
  FROM packed
), agg AS (
  SELECT source, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT AS total_tokens,
         (max(bin_last) + 1)::BIGINT AS n_bins
  FROM bins GROUP BY source
)
SELECT source, n_docs, total_tokens, n_bins,
       (n_bins * 512 - total_tokens)::BIGINT AS padding_tokens,
       (n_bins * 512 - total_tokens)::DOUBLE / (n_bins * 512)::DOUBLE AS padding_ratio
FROM agg ORDER BY source
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/training.decontaminate X-47):
    the "benchmark" is a deterministic 16-token snippet (tokens 5..20) of
    every 41st document, so contamination exists by construction — those
    documents (and any soup-collision neighbors, identically on both
    engines) must come out flagged with their shared-8-gram counts."""
    from maga_spark.operators.training import decontaminate

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 41 == 0).select(
        F.array_join(F.slice(F.split(F.trim(F.col("text")), r"\s+"), 5, 16), " ").alias(
            "text"
        )
    )
    return decontaminate(spread_partitions(docs), spread_partitions(bench), n=8).orderBy("doc_id")


SQL_DECONTAMINATE = r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk FROM documents
), grams AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(tk) - 7, 0)),
           i -> array_to_string(tk[i:i+7], ' '))) AS gs
  FROM toks
), bench AS (
  SELECT DISTINCT ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
  FROM (
    SELECT unnest(list_distinct(list_transform(
             generate_series(1, greatest(len(btk) - 7, 0)),
             i -> array_to_string(btk[i:i+7], ' ')))) AS g
    FROM (SELECT tk[5:20] AS btk FROM toks WHERE doc_id % 41 = 0)
  )
), doc_grams AS (
  SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, unnest(gs) AS g FROM grams)
), overlap AS (
  SELECT doc_id, count(*)::BIGINT AS n_overlap
  FROM doc_grams WHERE h IN (SELECT h FROM bench) GROUP BY doc_id
)
SELECT g.doc_id, len(g.gs)::BIGINT AS n_ngrams,
       coalesce(o.n_overlap, 0)::BIGINT AS n_overlap,
       coalesce(o.n_overlap, 0) >= 1 AS contaminated
FROM grams g LEFT JOIN overlap o USING (doc_id) ORDER BY doc_id
"""


def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (operators/training.pii_redact X-48): the corpus is
    word-soup, so contact-style PII is INJECTED deterministically (every
    5th doc an email, 7th a phone, 11th an IPv4 — co-occurring on the
    lcm rows) and must come out fully redacted with exact per-kind
    counts. The oracle applies the LITERAL same regex chain (patterns are
    the RE2 ∩ Java common dialect, built from training.PII_PATTERNS)."""
    from maga_spark.operators.training import pii_redact

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 300)
    k = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(
            k % 5 == 0,
            F.concat(F.lit(" contact user"), k.cast("string"), F.lit("@mail.example.org")),
        ).otherwise(F.lit("")),
        F.when(
            k % 7 == 0,
            F.concat(F.lit(" call +1 555 01"), F.lpad((k % 100).cast("string"), 2, "0")),
        ).otherwise(F.lit("")),
        F.when(
            k % 11 == 0,
            F.concat(F.lit(" host 10.2."), (k % 256).cast("string"), F.lit(".9")),
        ).otherwise(F.lit("")),
    )
    return (
        pii_redact(docs.select("doc_id", injected.alias("text")))
        .select("doc_id", "n_email", "n_ip", "n_phone", "text_redacted")
        .orderBy("doc_id")
    )


def _sql_pii_redact() -> str:
    """Oracle chain built from the SAME pattern tuple the operator uses —
    the patterns cannot drift apart."""
    from maga_spark.operators.training import PII_PATTERNS

    pats = {kind: (pat, repl) for kind, pat, repl in PII_PATTERNS}
    e_pat, e_rep = pats["email"]
    i_pat, i_rep = pats["ip"]
    p_pat, p_rep = pats["phone"]
    return rf"""
WITH inj AS (
  SELECT doc_id,
         text ||
         CASE WHEN doc_id % 5 = 0 THEN ' contact user' || doc_id || '@mail.example.org' ELSE '' END ||
         CASE WHEN doc_id % 7 = 0 THEN ' call +1 555 01' || lpad((doc_id % 100)::VARCHAR, 2, '0') ELSE '' END ||
         CASE WHEN doc_id % 11 = 0 THEN ' host 10.2.' || (doc_id % 256) || '.9' ELSE '' END AS t
  FROM documents WHERE doc_id <= 300
), s1 AS (
  SELECT doc_id,
         len(regexp_extract_all(t, '{e_pat}'))::BIGINT AS n_email,
         regexp_replace(t, '{e_pat}', '{e_rep}', 'g') AS t1
  FROM inj
), s2 AS (
  SELECT doc_id, n_email,
         len(regexp_extract_all(t1, '{i_pat}'))::BIGINT AS n_ip,
         regexp_replace(t1, '{i_pat}', '{i_rep}', 'g') AS t2
  FROM s1
)
SELECT doc_id, n_email, n_ip,
       len(regexp_extract_all(t2, '{p_pat}'))::BIGINT AS n_phone,
       regexp_replace(t2, '{p_pat}', '{p_rep}', 'g') AS text_redacted
FROM s2 ORDER BY doc_id
"""


SQL_PII_REDACT = _sql_pii_redact()


_BP1 = "subscribe to our newsletter for daily updates and exclusive offers today"
_BP2 = "all rights reserved terms of service apply to every visitor here"


def q_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-substring spans (operators/training.
    repeated_ngram_spans X-49, the Lee et al. exact-substring-dedup
    signal): boilerplate sentences are INJECTED deterministically (every
    10th doc gets one 11-token block, every 14th another), so repeated
    8-gram islands exist by construction and must coalesce to one span
    row per (doc, block). The oracle re-derives spans with an independent
    SQL gaps-and-islands window."""
    from maga_spark.operators.training import repeated_ngram_spans

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    injected = F.concat(
        F.col("text"),
        F.when(k % 10 == 0, F.lit(" " + _BP1)).otherwise(F.lit("")),
        F.when(k % 14 == 0, F.lit(" " + _BP2)).otherwise(F.lit("")),
    )
    return repeated_ngram_spans(
        spread_partitions(docs.select("doc_id", injected.alias("text"))),
        n=8,
        min_docs=2,
    ).orderBy("doc_id", "span_start")


SQL_REPEATED_NGRAMS = rf"""
WITH inj AS (
  SELECT doc_id,
         text ||
         CASE WHEN doc_id % 10 = 0 THEN ' {_BP1}' ELSE '' END ||
         CASE WHEN doc_id % 14 = 0 THEN ' {_BP2}' ELSE '' END AS t
  FROM documents
), toks AS (
  SELECT doc_id, regexp_split_to_array(trim(t), '\s+') AS tk FROM inj
), occ0 AS (
  SELECT doc_id, tk,
         unnest(generate_series(1, greatest(len(tk) - 7, 0))) AS pos
  FROM toks
), occ AS (
  SELECT doc_id, pos::BIGINT AS pos,
         ('0x' || substr(md5(array_to_string(tk[pos:pos+7], ' ')), 1, 15))::BIGINT AS g
  FROM occ0
), freq AS (
  SELECT g, count(DISTINCT doc_id)::BIGINT AS n_docs
  FROM occ GROUP BY g HAVING count(DISTINCT doc_id) >= 2
), rep AS (
  SELECT o.doc_id, o.pos, f.n_docs FROM occ o JOIN freq f USING (g)
), isl AS (
  SELECT doc_id, pos, n_docs,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM rep
)
SELECT doc_id, min(pos)::BIGINT AS span_start, (max(pos) + 7)::BIGINT AS span_end,
       count(*)::BIGINT AS n_grams, max(n_docs)::BIGINT AS max_docs
FROM isl GROUP BY doc_id, island ORDER BY doc_id, span_start
"""


def q_dedup_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring-dedup CUT (operators/training.dedup_cut — Lee et
    al. 2022 §4.2, the removal half of the repeated_ngrams protocol):
    same injected-boilerplate fixture as q_repeated_ngrams, spans mined
    with repeated_ngram_spans(n=8, min_docs=2), then every token inside a
    span is dropped and the survivors re-joined. The oracle re-derives
    the spans with its own SQL window AND re-applies the cut with an
    independent NOT EXISTS anti-membership — both halves are checked in
    one value hash (text_clean is a string, the counts exact BIGINTs)."""
    from maga_spark.operators.training import dedup_cut, repeated_ngram_spans

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") <= 2500)
    k = F.col("doc_id")
    injected = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(k % 10 == 0, F.lit(" " + _BP1)).otherwise(F.lit("")),
            F.when(k % 14 == 0, F.lit(" " + _BP2)).otherwise(F.lit("")),
        ).alias("text"),
    )
    spans = repeated_ngram_spans(injected, n=8, min_docs=2)
    return dedup_cut(injected, spans).orderBy("doc_id")


SQL_DEDUP_CUT = rf"""
WITH inj AS (
  SELECT doc_id,
         text ||
         CASE WHEN doc_id % 10 = 0 THEN ' {_BP1}' ELSE '' END ||
         CASE WHEN doc_id % 14 = 0 THEN ' {_BP2}' ELSE '' END AS t
  FROM documents WHERE doc_id <= 2500
), toks AS (
  SELECT doc_id, regexp_split_to_array(trim(t), '\s+') AS tk FROM inj
), occ0 AS (
  SELECT doc_id, tk,
         unnest(generate_series(1, greatest(len(tk) - 7, 0))) AS pos
  FROM toks
), occ AS (
  SELECT doc_id, pos::BIGINT AS pos,
         ('0x' || substr(md5(array_to_string(tk[pos:pos+7], ' ')), 1, 15))::BIGINT AS g
  FROM occ0
), freq AS (
  SELECT g FROM occ GROUP BY g HAVING count(DISTINCT doc_id) >= 2
), isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM occ JOIN freq USING (g)
), spans AS (
  SELECT doc_id, min(pos)::BIGINT AS s, (max(pos) + 7)::BIGINT AS e
  FROM isl GROUP BY doc_id, island
), pos AS (
  SELECT doc_id, tk, unnest(generate_series(1, len(tk))) AS p FROM toks
), kept AS (
  SELECT q.doc_id, q.tk[q.p] AS tok, q.p
  FROM pos q
  WHERE NOT EXISTS (
    SELECT 1 FROM spans s WHERE s.doc_id = q.doc_id AND q.p BETWEEN s.s AND s.e
  )
), agg AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text_clean,
         count(*)::BIGINT AS n_kept
  FROM kept GROUP BY doc_id
), nsp AS (
  SELECT doc_id, count(*)::BIGINT AS n_spans FROM spans GROUP BY doc_id
)
SELECT t.doc_id,
       coalesce(a.text_clean, '') AS text_clean,
       len(t.tk)::BIGINT AS n_tokens,
       coalesce(a.n_kept, 0)::BIGINT AS n_kept,
       coalesce(nsp.n_spans, 0)::BIGINT AS n_spans
FROM toks t
LEFT JOIN agg a USING (doc_id)
LEFT JOIN nsp USING (doc_id)
ORDER BY doc_id
"""


def q_aspect_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SDXL-style aspect-ratio bucketing (operators/training.aspect_bucket
    X-50): synthetic deterministic (w, h) per doc; each image takes the
    nearest-ratio bucket under the exact integer cross-product metric.
    The oracle bakes the SAME bucket list into generated SQL (argmin as a
    CASE chain, ties to the earlier bucket on both engines)."""
    from maga_spark.operators.training import aspect_bucket

    docs = _t(spark, sf_dir, "documents")
    k = F.col("doc_id")
    imgs = docs.select(
        "doc_id",
        (F.lit(256) + (k * 37) % 1024).cast("long").alias("w"),
        (F.lit(256) + (k * 61) % 1024).cast("long").alias("h"),
    )
    return aspect_bucket(imgs).orderBy("doc_id")


def _sql_aspect_buckets() -> str:
    """Oracle generated from the operator's own bucket list — the exact
    integer distances cannot drift from the Spark expressions."""
    from maga_spark.operators.training import DEFAULT_ASPECT_BUCKETS as B

    d_defs = []
    for i, (bw, bh) in enumerate(B):
        norm = 1
        for j, (ow, oh) in enumerate(B):
            if j != i:
                norm *= ow * oh
        d_defs.append(f"abs(w * {bh} - {bw} * h) * {norm} AS d{i}")
    cases = []
    for i in range(len(B)):
        conds = " AND ".join(f"d{i} <= d{j}" for j in range(len(B)) if j != i)
        cases.append(f"WHEN {conds} THEN {i}")
    wcase = " ".join(f"WHEN bucket_idx = {i} THEN {bw}" for i, (bw, _) in enumerate(B))
    hcase = " ".join(f"WHEN bucket_idx = {i} THEN {bh}" for i, (_, bh) in enumerate(B))
    return f"""
WITH imgs AS (
  SELECT doc_id,
         (256 + (doc_id * 37) % 1024)::BIGINT AS w,
         (256 + (doc_id * 61) % 1024)::BIGINT AS h
  FROM documents
), d AS (
  SELECT doc_id, w, h, {", ".join(d_defs)} FROM imgs
), assigned AS (
  SELECT doc_id, w, h, CASE {" ".join(cases)} END::INT AS bucket_idx FROM d
)
SELECT doc_id, w, h, bucket_idx,
       (CASE {wcase} END)::INT AS bucket_w,
       (CASE {hcase} END)::INT AS bucket_h
FROM assigned ORDER BY doc_id
"""


SQL_ASPECT_BUCKETS = _sql_aspect_buckets()


class Query(NamedTuple):
    """One registered query. ``build(spark, sf_dir)`` returns the Spark
    result; ``oracle`` is its DuckDB twin over the same sf tables, or None
    for a rows-only query; ``pushdown`` names the column whose filter must
    reach the parquet scan (tests/test_plan_hygiene.py), or None."""

    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    pushdown: str | None = None


# The one place a query is named: queries(), oracle_sql() and the plan
# hygiene gates all derive from this table.
REGISTRY: dict[str, Query] = {
    "canonicalize": Query(q_canonicalize, SQL_CANONICALIZE),
    "xor_topk": Query(q_xor_topk, SQL_XOR_TOPK),
    "politeness_grant": Query(q_politeness_grant, SQL_POLITENESS_GRANT),
    "anti_join_seen": Query(q_anti_join_seen, SQL_ANTI_JOIN_SEEN),
    "anti_join_cuckoo": Query(q_anti_join_cuckoo, SQL_ANTI_JOIN_CUCKOO),
    "frontier_union": Query(q_frontier_union, SQL_FRONTIER_UNION),
    "robots_gate": Query(q_robots_gate, SQL_ROBOTS_GATE),
    "robots_rfc": Query(q_robots_rfc, SQL_ROBOTS_RFC),
    "token_of": Query(q_token_of, SQL_TOKEN_OF),
    "implied_port": Query(q_implied_port, SQL_IMPLIED_PORT),
    "frame_sampling": Query(q_frame_sampling, SQL_FRAME_SAMPLING, "o_orderkey"),
    "argmin_frame": Query(q_argmin_frame, SQL_ARGMIN_FRAME),
    "ordered_reassembly": Query(q_ordered_reassembly, SQL_ORDERED_REASSEMBLY, "l_orderkey"),
    "integrity_filter": Query(q_integrity_filter, SQL_INTEGRITY_FILTER),
    "sequence_check": Query(q_sequence_check, SQL_SEQUENCE_CHECK),
    "tpch_q1": Query(q_tpch_q1, SQL_TPCH_Q1),
    "broadcast_join_agg": Query(q_broadcast_join_agg, SQL_BROADCAST_JOIN_AGG),
    "window_running": Query(q_window_running, SQL_WINDOW_RUNNING),
    "asof_join": Query(q_asof_join, SQL_ASOF_JOIN),
    "sessionize": Query(q_sessionize, SQL_SESSIONIZE),
    "tumbling_agg": Query(q_tumbling_agg, SQL_TUMBLING_AGG),
    "exact_dedup": Query(q_exact_dedup, SQL_EXACT_DEDUP),
    "jaccard_chargram": Query(q_jaccard_chargram, SQL_JACCARD_CHARGRAM, "doc_id"),
    "minhash_banding": Query(q_minhash_banding, SQL_MINHASH_BANDING),
    "minhash_index_query": Query(q_minhash_index_query, SQL_MINHASH_INDEX_QUERY),
    "phash_hamming": Query(q_phash_hamming, SQL_PHASH_HAMMING, "doc_id"),
    "embedding_topk": Query(q_embedding_topk, SQL_EMBEDDING_TOPK, "vec_id"),
    "embedding_near_dups": Query(q_embedding_near_dups, SQL_EMBEDDING_NEAR_DUPS, "vec_id"),
    "semantic_dedup": Query(q_semantic_dedup, SQL_SEMANTIC_DEDUP, "vec_id"),
    "embedding_near_dups_exact": Query(q_embedding_near_dups_exact, SQL_EMBEDDING_NEAR_DUPS_EXACT),
    "language_id": Query(q_language_id, SQL_LANGUAGE_ID),
    "text_quality": Query(q_text_quality, SQL_TEXT_QUALITY),
    "token_budget": Query(q_token_budget, SQL_TOKEN_BUDGET),
    "doc_repetition": Query(q_doc_repetition, SQL_DOC_REPETITION),
    "line_dedup": Query(q_line_dedup, SQL_LINE_DEDUP),
    "tfidf_terms": Query(q_tfidf_terms, SQL_TFIDF_TERMS),
    "corpus_curate": Query(q_corpus_curate, SQL_CORPUS_CURATE),
    "image_curate": Query(q_image_curate, SQL_IMAGE_CURATE),
    "krpc_roundtrip": Query(q_krpc_roundtrip, SQL_KRPC_ROUNDTRIP),
    "frame_codec": Query(q_frame_codec, SQL_FRAME_CODEC),
    "handshake_gate": Query(q_handshake_gate, SQL_HANDSHAKE_GATE),
    "embedded_int": Query(q_embedded_int, SQL_EMBEDDED_INT),
    "piece_range": Query(q_piece_range, SQL_PIECE_RANGE),
    "dns_resolve": Query(q_dns_resolve, SQL_DNS_RESOLVE),
    "ivf_assign": Query(q_ivf_assign, SQL_IVF_ASSIGN),
    "ivf_topk_pruned": Query(q_ivf_topk_pruned, SQL_IVF_TOPK_PRUNED),
    "pq_codes": Query(q_pq_codes, SQL_PQ_CODES),
    "pq_adc": Query(q_pq_adc, SQL_PQ_ADC),
    "image_stats": Query(q_image_stats, SQL_IMAGE_STATS),
    "dup_clusters": Query(q_dup_clusters, SQL_DUP_CLUSTERS),
    "link_extract": Query(q_link_extract, SQL_LINK_EXTRACT),
    "crawl_delay": Query(q_crawl_delay, SQL_CRAWL_DELAY),
    # pagerank/redirect_resolve synthesize their edges in memory (ExistingRDD):
    # no parquet scan to push a filter into
    "pagerank": Query(q_pagerank, _sql_pagerank()),
    "redirect_resolve": Query(q_redirect_resolve, SQL_REDIRECT_RESOLVE),
    "containment_pairs": Query(q_containment_pairs, SQL_CONTAINMENT_PAIRS, "doc_id"),
    "containment_from_index": Query(q_containment_from_index, SQL_CONTAINMENT_PAIRS),
    "warc_parse": Query(q_warc_parse, SQL_WARC_PARSE, "doc_id"),
    "cdx_index": Query(q_cdx_index, SQL_CDX_INDEX, "doc_id"),
    "cdx_revisit": Query(q_cdx_revisit, SQL_CDX_REVISIT, "doc_id"),
    "sequence_pack": Query(q_sequence_pack, SQL_SEQUENCE_PACK),
    "packing_stats": Query(q_packing_stats, SQL_PACKING_STATS),
    "decontaminate": Query(q_decontaminate, SQL_DECONTAMINATE),
    "pii_redact": Query(q_pii_redact, SQL_PII_REDACT, "doc_id"),
    "repeated_ngrams": Query(q_repeated_ngrams, SQL_REPEATED_NGRAMS),
    "dedup_cut": Query(q_dedup_cut, SQL_DEDUP_CUT, "doc_id"),
    "aspect_buckets": Query(q_aspect_buckets, SQL_ASPECT_BUCKETS),
    "mime_sniff": Query(q_mime_sniff, SQL_MIME_SNIFF, "doc_id"),
    "stratified_sample": Query(q_stratified_sample, SQL_STRATIFIED_SAMPLE, "doc_id"),
    "weighted_sample": Query(q_weighted_sample, SQL_WEIGHTED_SAMPLE),
    "classifier_score": Query(q_classifier_score, SQL_CLASSIFIER_SCORE),
    "epoch_shuffle": Query(q_epoch_shuffle, SQL_EPOCH_SHUFFLE),
    "shard_manifest": Query(q_shard_manifest, SQL_SHARD_MANIFEST),
    "lm_score": Query(q_lm_score, SQL_LM_SCORE),
    "reg_domain": Query(q_reg_domain, SQL_REG_DOMAIN),
    "domain_cap": Query(q_domain_cap, SQL_DOMAIN_CAP),
    "corpus_export": Query(q_corpus_export, SQL_CORPUS_EXPORT),
    "length_quantiles": Query(q_length_quantiles, SQL_LENGTH_QUANTILES),
    "length_histogram": Query(q_length_histogram, SQL_LENGTH_HISTOGRAM),
    "snapshot_diff": Query(q_snapshot_diff, SQL_SNAPSHOT_DIFF),
    "mixture_rates": Query(q_mixture_rates, SQL_MIXTURE_RATES),
    "image_keep_best": Query(q_image_keep_best, SQL_IMAGE_KEEP_BEST),
    "sitemap_parse": Query(q_sitemap_parse, SQL_SITEMAP_PARSE, "doc_id"),
    "html_text": Query(q_html_text, SQL_HTML_TEXT, "doc_id"),
    "rank_blend": Query(q_rank_blend, _sql_rank_blend()),
    "geometry_check": Query(q_geometry_check, SQL_GEOMETRY_CHECK, "doc_id"),
    "revisit_schedule": Query(q_revisit_schedule, SQL_REVISIT_SCHEDULE, "doc_id"),
    "budget_share": Query(q_budget_share, SQL_BUDGET_SHARE),
    "caption_align": Query(q_caption_align, SQL_CAPTION_ALIGN, "vec_id"),
    "robots_sitemaps": Query(q_robots_sitemaps, SQL_ROBOTS_SITEMAPS),
    "anchor_profile": Query(q_anchor_profile, SQL_ANCHOR_PROFILE, "doc_id"),
    "mixture_report": Query(q_mixture_report, SQL_MIXTURE_REPORT, "doc_id"),
    "bm25_search": Query(q_bm25_search, SQL_BM25_SEARCH, "doc_id"),
    "trap_detect": Query(q_trap_detect, SQL_TRAP_DETECT, "doc_id"),
    "kmv_distinct": Query(q_kmv_distinct, SQL_KMV_DISTINCT, "doc_id"),
    "simhash_near_dups": Query(q_simhash_near_dups, SQL_SIMHASH_NEAR_DUPS, "doc_id"),
    "lsh_ann": Query(q_lsh_ann, _sql_lsh_ann(), "vec_id"),
    "winnow_fingerprint": Query(q_winnow_fingerprint, SQL_WINNOW_FINGERPRINT, "doc_id"),
    "crawl_epoch": Query(q_crawl_epoch, None),
}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.build for name, q in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in REGISTRY.items() if q.oracle is not None}
