"""Skew-safe per-group top-K (SURVEY.md O-40/§4.2.4).

A crawl frontier's host distribution is power-law: a plain
``Window.partitionBy(host)`` puts a hot host's millions of candidate rows in
one task. The two-phase salted form keeps the exact same result with bounded
partition sizes:

  phase 1 — rank within (group, salt) where salt = pmod(key, S); keep rank <= k.
            Each (group, salt) bucket's local top-k is a superset of the
            group's global top-k members that fall in that bucket, so no
            survivor is lost (no false negatives).
  phase 2 — exact rank within group over the <= S*k survivors.

``k`` may be a per-row column (constant within each group) — the politeness
grant uses the host's refilled token count as k.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F



def _is_asc_on(col: Column, name: str) -> bool:
    """True iff ``col`` sorts exactly the column ``name`` ascending with
    the default NULLS FIRST — checked STRUCTURALLY on the underlying
    expression, so ``F.col('x').asc()``, ``F.asc('x')``, and
    ``df['x'].asc()`` all pass (ADVICE r4: comparing ``str(Column)`` reprs
    rejected semantically identical specs and breaks across Spark
    versions). Falls back to the repr comparison only if the JVM
    expression accessor is unavailable (e.g. Spark Connect columns)."""
    try:
        jexpr = col._jc.expr()
        if jexpr.getClass().getSimpleName() != "SortOrder":
            return False
        if jexpr.direction().sql() != "ASC":
            return False
        if jexpr.nullOrdering().sql() != "NULLS FIRST":
            return False
        child = jexpr.child()
        cls = child.getClass().getSimpleName()
        if cls not in ("UnresolvedAttribute", "AttributeReference"):
            return False
        # name() is the unqualified attribute name for both classes
        return str(child.name()) == name
    except Exception:
        return str(col) == str(F.col(name).asc())


def per_group_topk(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    k: Column,
    salt_key: str,
    rank_name: str = "group_rank",
) -> DataFrame:
    """Exact per-group top-k with salted pre-pruning; appends ``rank_name``.

    ``order_cols`` must be a total order within each group (deterministic
    tie-break required for parity — SURVEY.md §7.6b).
    """
    salted = df.withColumn("_salt", F.pmod(F.col(salt_key), F.lit(8)))
    w1 = Window.partitionBy(*group_cols, "_salt").orderBy(*order_cols)
    pre = (
        salted.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
        .drop("_r1", "_salt")
    )
    w2 = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return pre.withColumn(rank_name, F.row_number().over(w2)).filter(F.col(rank_name) <= k)


def global_topk(df: DataFrame, order_cols: list[Column], k: int) -> DataFrame:
    """Exact global top-k: ``orderBy().limit()`` compiles to
    TakeOrderedAndProject — per-partition heaps + driver merge, no global
    sort shuffle. Deterministic iff ``order_cols`` is a total order.

    Right for SMALL k only: the driver merges up to partitions×k rows. For
    budget-scale k (10^5+) over a hash-uniform leading key use
    ``global_topk_uniform_ranked``."""
    return df.orderBy(*order_cols).limit(k)


def global_topk_uniform_ranked(
    df: DataFrame,
    order_cols: list[Column],
    k: int,
    uniform_key: str,
    rank_name: str = "rank",
) -> DataFrame:
    """Exact global top-k WITH global rank and ZERO driver round-trips —
    for order keys whose FIRST column is a hash-derived signed int64
    (``order_cols[0]`` must be ``uniform_key`` ascending).

    A sampled range partitioner would pay two driver-serial jobs per call
    (the sampling pass + the per-partition offsets collect) — the dominant
    slice of the crawl engine's per-epoch serial floor (BENCH.md round 2:
    D≈122 s). When the leading key is uniform by construction (here:
    ``xor_d = xxhash64(url) ^ target`` — XOR of a uniform hash is uniform
    for any target), sampled boundaries are unnecessary:

    1. bucket = top 12 bits of the signed key, shifted to
       [0, 2^12) — monotonic in the signed order, so every tie-broken
       total order stays intra-bucket;
    2. per-bucket counts → cumulative offsets via a single-partition
       window over ≤ 2^12 tiny rows, broadcast-joined back (all inside
       ONE query — no collect);
    3. rank = bucket-local row_number + bucket offset; keep rank <= k.

    Ranks are the exact total order for ANY key distribution. Skew only
    costs time: 2^12 fine buckets hash onto the shuffle partitions, so a
    reducer straggles only when one 1/4096 key-range slice holds ≫
    1/partitions of all rows (measured on 150k rows all in one bucket, 4
    cores: 1.2 s vs 1.1 s for a sampled range partitioner)."""
    if not order_cols or not _is_asc_on(order_cols[0], uniform_key):
        # bucket-by-top-bits is consistent ONLY with uniform_key ascending
        # as the leading sort key — any other leading order silently yields
        # wrong global ranks (ADVICE r3), so enforce the contract loudly.
        raise ValueError(
            f"order_cols[0] must be F.col({uniform_key!r}).asc() "
            f"(got {order_cols[0] if order_cols else 'nothing'})"
        )
    pid = F.shiftright(F.col(uniform_key), 64 - 12) + F.lit(1 << 11)
    b = df.withColumn("_bkt", pid.cast("int"))
    counts = b.groupBy("_bkt").agg(F.count(F.lit(1)).alias("_n"))
    w_off = Window.orderBy("_bkt").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_n").over(w_off), F.lit(0))
    ).select("_bkt", "_off")
    w = Window.partitionBy("_bkt").orderBy(*order_cols)
    return (
        b.join(F.broadcast(offsets), "_bkt")
        .withColumn(rank_name, (F.row_number().over(w) + F.col("_off")).cast("int"))
        .filter(F.col(rank_name) <= k)
        .drop("_bkt", "_off")
    )

