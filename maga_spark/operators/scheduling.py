"""Frontier scheduling policies beyond per-epoch ranking: re-crawl
freshness and global budget fair-share.

The reference crawls a churning swarm by re-announcing on a fixed clock
(maga/crawler.py:100-117's endless loop — every node is worth re-pinging
every sweep). A 10^10-URL frontier cannot afford uniform revisits: fetch
budget must follow CHANGE (news front pages hourly, archives yearly), and
each epoch's global grant K must split across hosts without starving the
long tail. Both policies are pure integer column algebra over fetch
history — window functions and one tiny aggregate, no Python, no driver
logic — so they compose into the epoch plan ahead of the XOR/authority
ranking (operators/topk.py, operators/graph.authority_blend) and are
bit-reproducible in the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def revisit_schedule(
    fetches: DataFrame,
    url_col: str = "url",
    epoch_col: str = "epoch",
    hash_col: str = "content_hash",
    base_interval: int = 1,
    max_interval: int = 64,
) -> DataFrame:
    """Adaptive revisit policy from fetch history → one row per URL:
    ``(url, n_fetches, n_changes, last_epoch, unchanged_streak,
    next_interval, next_epoch)``.

    Exponential backoff on stability (the standard incremental-crawler
    policy, cf. Cho & Garcia-Molina's freshness work): every consecutive
    fetch that observes the SAME content hash doubles the revisit
    interval — ``next_interval = min(base · 2^streak, max_interval)`` —
    and any observed change resets the streak to 0, snapping the URL back
    to ``base_interval``. A page's first fetch has no prior hash and does
    not count as a change.

    Scale shape: one window per URL ordered by epoch (lag + running
    change-count — the shuffle is hash-partitioned on the URL, perfectly
    parallel), then keep each URL's last row. All integers; ``2^streak``
    is ``shiftleft`` with the shift AMOUNT clamped to the smallest s such
    that ``base << s >= max_interval`` — so the shifted value can never
    exceed ``2·max_interval`` and in particular never wraps negative
    (``shiftleft(1L, 63)`` is Long.MIN_VALUE, which ``least`` would then
    happily pick, scheduling stable URLs into the past)."""
    if base_interval < 1:
        raise ValueError(f"base_interval must be >= 1, got {base_interval}")
    if max_interval < base_interval:
        raise ValueError(
            f"max_interval ({max_interval}) must be >= base_interval ({base_interval})"
        )
    if max_interval > 1 << 61:
        raise ValueError(f"max_interval must be <= 2^61, got {max_interval}")
    max_shift = 0
    while (base_interval << max_shift) < max_interval:
        max_shift += 1
    w = Window.partitionBy(url_col).orderBy(F.col(epoch_col).asc())
    changed = (
        F.lag(hash_col).over(w).isNotNull()
        & (F.col(hash_col) != F.lag(hash_col).over(w))
    ).cast("long")
    hist = (
        fetches.withColumn("_chg", changed)
        .withColumn("_n", F.count("*").over(w))
        .withColumn("_nchg", F.sum("_chg").over(w))
        .withColumn("_last_chg_n", F.max(F.when(F.col("_chg") == 1, F.col("_n"))).over(w))
    )
    last = hist.withColumn(
        "_rn",
        F.row_number().over(Window.partitionBy(url_col).orderBy(F.col(epoch_col).desc())),
    ).filter(F.col("_rn") == 1)
    # streak = fetches confirming stability since the last change (or since
    # the first fetch when nothing ever changed): n - index_of_last_change,
    # with the first fetch standing in as change index 1
    last = last.withColumn(
        "_streak",
        F.greatest(F.col("_n") - F.coalesce(F.col("_last_chg_n"), F.lit(1)), F.lit(0)),
    ).withColumn(
        # shiftleft via expr: the pyspark wrapper only takes literal bits
        "_interval",
        F.expr(
            f"least(shiftleft({base_interval}L, cast(least(_streak, {max_shift}) as int)),"
            f" {max_interval}L)"
        ).cast("long"),
    )
    return last.select(
        F.col(url_col),
        F.col("_n").alias("n_fetches"),
        F.col("_nchg").alias("n_changes"),
        F.col(epoch_col).cast("long").alias("last_epoch"),
        F.col("_streak").cast("long").alias("unchanged_streak"),
        F.col("_interval").alias("next_interval"),
        (F.col(epoch_col) + F.col("_interval")).cast("long").alias("next_epoch"),
    )


def fair_share(pending: DataFrame, budget: int) -> DataFrame:
    """Split a global fetch budget across hosts proportionally to pending
    work, integer-exact → ``(host, pending, quota)``.

    Largest-remainder (Hamilton) apportionment: every host gets
    ``floor(budget · pending / total)``, then the leftover
    ``budget - Σ floors`` seats go one each to the largest fractional
    remainders (ties broken by host for determinism). Quotas are finally
    capped at the host's own pending count — a host can never be granted
    more than it has — so ``Σ quota ≤ budget`` with equality whenever no
    cap binds (the cap's surplus is deliberately NOT redistributed: it
    returns to the next epoch's budget rather than buying an iterative
    in-plan loop; one epoch later the shares rebalance anyway).

    Scale shape: one 1-row total aggregate broadcast back, one global
    rank over the ≤|hosts| remainder rows (2-int rows; at real-web host
    counts this single-partition window is the step that stops scaling —
    only the top-``leftover`` (< |hosts|) slice of remainders matters, so
    operators/topk.global_topk can replace it while ``leftover`` is small).
    All BIGINT (remainders compared as
    ``budget·pending mod total`` — no floats anywhere)."""
    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    tot = pending.agg(F.sum("pending").cast("long").alias("_total"))
    p = pending.join(F.broadcast(tot))
    # nullif guards the all-drained frontier (Σ pending = 0): under ANSI
    # mode a bare div/% by zero fails the whole epoch job instead of
    # granting zero quotas — coalesce the degenerate case to 0/0
    p = p.withColumn(
        "_floor",
        F.expr(f"coalesce(({budget}L * pending) div nullif(_total, 0L), 0L)"),
    ).withColumn(
        "_rem", F.expr(f"coalesce(({budget}L * pending) % nullif(_total, 0L), 0L)")
    )
    leftover = F.lit(budget) - F.sum("_floor").over(Window.partitionBy())
    wr = Window.orderBy(F.col("_rem").desc(), F.col("host").asc())
    return (
        p.withColumn("_extra", (F.row_number().over(wr) <= leftover).cast("long"))
        .select(
            F.col("host"),
            F.col("pending").cast("long").alias("pending"),
            F.least(F.col("pending").cast("long"), F.col("_floor") + F.col("_extra"))
            .cast("long")
            .alias("quota"),
        )
    )
