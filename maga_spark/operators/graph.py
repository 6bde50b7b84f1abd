"""Distributed connected components for dedup clustering.

Near-dup detection yields PAIRS (minhash bands, simhash/phash pigeonhole,
embedding LSH — operators/dedup.py); acting on them needs CLUSTERS: every
transitively-connected group keeps one canonical representative. At web
scale the pair graph has billions of edges and components of wildly mixed
size, so the algorithm must converge in O(log n) rounds independent of
component diameter — plain min-label propagation needs O(diameter) rounds
and dies on long chains.

``connected_components`` implements the alternating large-star/small-star
algorithm of Kiveris et al., "Connected Components in MapReduce and
Beyond" (SOCC'14): both operations are a groupBy-min plus an equi-join
(map-side combinable, no collect_set neighborhood materialization — a
10^9-degree hub node reduces to one min), and the edge set provably
contracts toward per-component stars rooted at the minimum vertex id.
The driver loop detects convergence from a per-round edge checksum that
rides the round's checkpoint job (an observation), so a round is one
action.

The reference has no graph ops (its only identity notion is the canonical
infohash key, maga/utils.py:7-11); this generalizes the same "canonical
representative" idea to transitive content identity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from maga_spark.operators.observe import RobustObservation, obs_name
from maga_spark.plans.ckpt import local_ckpt, release

# pagerank's integer arithmetic: ranks sum to about RANK_SCALE, and the
# damping factor is the rational DAMPING_NUM / DAMPING_DEN
RANK_SCALE = 10**12
DAMPING_NUM, DAMPING_DEN = 85, 100


def _sym(e: DataFrame) -> DataFrame:
    """Both orientations of an edge set, self-loops dropped, deduped."""
    return (
        e.filter(F.col("u") != F.col("v"))
        .select("u", "v")
        .union(
            e.filter(F.col("u") != F.col("v")).select(
                F.col("v").alias("u"), F.col("u").alias("v")
            )
        )
        .distinct()
    )


def _min_star(e: DataFrame) -> DataFrame:
    """Per-u minimum over the closed neighborhood Γ⁺(u) = {u} ∪ Γ(u)."""
    return e.groupBy("u").agg(F.least(F.first("u"), F.min("v")).alias("m"))


def connected_components(edges: DataFrame) -> DataFrame:
    """(src, dst) pairs → (vertex, component) labels, component = minimum
    vertex id of the connected component. Isolated vertices don't appear
    in ``edges`` and thus not in the result (label them ``vertex`` by a
    left join at the call site if needed).

    Each round: large-star hangs every neighbor v > u onto min(Γ⁺(u)),
    small-star re-hangs the v ≤ u side; the edge set monotonically
    contracts to stars. Convergence = the (sorted) edge checksum repeats;
    asserts if 25 rounds don't converge (log₂-ish expected)."""
    e = _sym(edges.select(F.col("src").alias("u"), F.col("dst").alias("v")))
    prev = None
    for _ in range(25):
        # large-star: for v in Γ(u), v > u: (v, min(Γ⁺(u)))
        sym = _sym(e)
        large = (
            sym.join(_min_star(sym), "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct()
        )
        # small-star on canonical (big, small) orientation: re-hang the
        # small side (and u itself) onto the minimum
        canon = (
            large.filter(F.col("u") != F.col("v"))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .distinct()
        )
        mins = _min_star(canon)
        small = (
            canon.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(mins.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # order-independent digest; bit_xor never overflows under ANSI
        # (the edge set is distinct, so xor cancellation can't collide).
        # It rides the checkpoint job below instead of a separate action.
        obs = RobustObservation(
            obs_name("cc_round", id(edges)),
            small,
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        )
        # truncate lineage every round: without this the logical plan grows
        # a join+agg layer per iteration and Catalyst re-analysis goes
        # super-linear (use reliable checkpointing on a real cluster).
        # local_ckpt, not raw localCheckpoint: the raw form carries origin
        # size stats that compound across rounds (plans/ckpt.py)
        nxt = local_ckpt(obs.df)
        # read before release: a pruned observation re-aggregates obs.df,
        # whose lineage still reads e
        chk = obs.get
        release(e)
        e = nxt
        cur = (chk["n"], chk["h"])
        if cur == prev:
            break
        prev = cur
    else:
        raise AssertionError(f"connected_components: no convergence in 25 rounds")
    # converged edge set is a per-component star rooted at the minimum id;
    # _sym puts every vertex (roots included) on the u side, so one
    # closed-neighborhood min labels everyone — roots label themselves.
    return _min_star(_sym(e)).select(
        F.col("u").alias("vertex"), F.col("m").alias("component")
    )


def pagerank(edges: DataFrame, iters: int = 5) -> DataFrame:
    """Host-graph PageRank over ``(src, dst)`` edges → (vertex, rank_scaled)
    with INTEGER-EXACT
    arithmetic: ranks are ``RANK_SCALE``-scaled BIGINTs, per-edge contributions
    use integer division, and the damping factor is the rational
    ``DAMPING_NUM/DAMPING_DEN`` — so every engine that runs the same
    recurrence produces bit-identical ranks regardless of addition order
    (float PageRank sums are order-dependent and can never hash-match
    across engines; the truncation this trades away is < outdeg ulps per
    vertex per round, far below ranking noise).

    Crawl use: the frontier scheduler's priority is XOR distance
    (operators/topk.py); a real crawler blends in link-graph authority —
    this is that authority signal over the link_extract edge set
    (operators/links.py), the reference's "which node do I ping next"
    generalized to "which host do I crawl next" (maga/crawler.py:121-126
    fans out to EVERY discovered node; a 10^10-URL frontier must rank).

    Scale shape: per iteration ONE equi-join (ranks ⋈ edges on src — both
    sides hash-partitioned on the join key) + ONE groupBy(dst) sum with
    map-side partial aggregation; dangling mass is a 1-row aggregate
    broadcast back (never a driver collect). Lineage is truncated per
    round with localCheckpoint (same rationale as connected_components;
    use reliable checkpointing on a real cluster). The only driver action
    is the one-time vertex count.

    Semantics: uniform init 1/N; dangling vertices (no out-edges)
    redistribute their mass uniformly; sum of ranks ≈ RANK_SCALE (minus
    integer-truncation dust). ``edges`` are deduped; self-loops count.
    """
    e = edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).distinct()
    verts = local_ckpt(
        e.select(F.col("u").alias("vertex"))
        .union(e.select(F.col("v").alias("vertex")))
        .distinct()
    )
    n = verts.count()
    if n == 0:
        return verts.withColumn("rank_scaled", F.lit(0).cast("long"))
    outdeg = e.groupBy(F.col("u").alias("vertex")).agg(F.count("*").alias("deg"))
    vd = local_ckpt(verts.join(outdeg, "vertex", "left"))
    release(verts)
    ranks = vd.withColumn("r", F.lit(RANK_SCALE // n).cast("long"))
    base = ((DAMPING_DEN - DAMPING_NUM) * (RANK_SCALE // n)) // DAMPING_DEN
    for _ in range(iters):
        contribs = (
            ranks.filter(F.col("deg").isNotNull())
            .join(e, ranks["vertex"] == e["u"])
            .select(F.col("v").alias("vertex"), F.expr("r div deg").alias("c"))
            .groupBy("vertex")
            .agg(F.sum("c").alias("csum"))
        )
        dang = ranks.filter(F.col("deg").isNull()).agg(
            F.coalesce(F.sum("r"), F.lit(0)).cast("long").alias("_dang")
        )
        nxt = local_ckpt(
            vd.join(contribs, "vertex", "left")
            .join(F.broadcast(dang))
            .select(
                "vertex",
                "deg",
                (
                    F.lit(base)
                    + F.expr(
                        f"({DAMPING_NUM} * (coalesce(csum, 0L)"
                        f" + _dang div {n})) div {DAMPING_DEN}"
                    )
                ).cast("long").alias("r"),
            )
        )
        release(ranks)
        ranks = nxt
    release(vd)
    return ranks.select("vertex", F.col("r").alias("rank_scaled"))


def authority_blend(frontier: DataFrame, ranks: DataFrame, n_per_host: int = 2) -> DataFrame:
    """Blend link-graph authority (``pagerank`` output) into frontier
    ordering — (host, auth_tier, key, host_rank) for each host's top
    ``n_per_host`` candidates.

    The reference pings every discovered node unconditionally
    (maga/crawler.py:121-126); a 10^10-URL frontier must RANK, and pure
    XOR ordering (operators/topk.py) treats all hosts alike — this
    operator is the second signal: hosts with more link-graph mass get
    scheduled first. Authority is coarsened to 8 integer tiers
    (``rank_scaled div (RANK_SCALE/8)``): tiers keep the blend a pure
    BIGINT sort key (no float weights ⇒ bit-reproducible, oracle-able),
    and coarse-first ordering is what authority is FOR — separating
    hubs from the long tail, not micro-ordering within it. Within a
    host, candidates rank by the uniform key (the XOR-distance stand-in);
    unknown hosts (no rank row) land in tier 0.

    Scale shape: one equi-join on host (ranks is |hosts|-sized — AQE
    picks broadcast vs shuffle from its ACTUAL size, the same
    no-forced-hint rule as the engine's host-state joins) + one window
    PARTITIONED BY HOST (never a global window: per-host top-n shuffles
    once on the host key and each reducer sorts only its hosts' rows).
    The caller feeds tiers into the epoch's global schedule (topk.py)
    tier-by-tier, highest first."""
    from pyspark.sql import Window

    # integer div (not `/` + cast): float division then truncation could
    # disagree with the oracle's `//` on tier-boundary values
    tier = F.coalesce(
        F.expr(f"rank_scaled div {RANK_SCALE // 8}"), F.lit(0)
    ).cast("long")
    w = Window.partitionBy("host").orderBy(F.col("priority_key").asc())
    return (
        frontier.join(
            ranks.select(F.col("vertex").alias("host"), "rank_scaled"),
            "host",
            "left",
        )
        .select(
            F.col("host"),
            tier.alias("auth_tier"),
            F.col("priority_key"),
            F.row_number().over(w).cast("long").alias("host_rank"),
        )
        .filter(F.col("host_rank") <= n_per_host)
    )
