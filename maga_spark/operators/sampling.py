"""Deterministic sampling for training-data mixture construction.

A 100-TB corpus is never trained on whole: the pipeline's last step is a
MIXTURE — "p% of web, q% of code, n documents per source…" — and at that
scale the sample must be (a) exactly reproducible across runs, engines and
partitionings (an RNG sample is none of those), (b) computed without any
global pass (no count-then-sample two-phase over 10^10 rows for the rate
variant), and (c) cheap. Both operators here key the decision off the
portable md5-derived 60-bit hash (operators/dedup.portable_hash64), so the
same (salt, id) always lands on the same side of the threshold in Spark AND
in the DuckDB oracle — the sampling twin of the engine's hash-derived
determinism rule (SURVEY.md O-46; the reference derives every "random"
token from hashes the same way, maga/crawler.py:56).

Scale shape: ``hash_sample`` is a pure per-row filter (no shuffle, no
aggregation — it composes with scan pushdown); ``sample_per_stratum`` is
one hash-partitioned window per stratum whose sort key is the uniform
hash, so reducers stay balanced regardless of how skewed the strata sizes
are (the window sorts within a stratum, and a per-stratum top-n needs that
stratum's rows together ANYWAY — one shuffle is the floor).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from maga_spark.operators.dedup import portable_hash64

# portable_hash64 yields a uniform value in [0, 2^60): thresholds are
# integer fractions of this modulus, so rate arithmetic is exact
_MODULUS = 1 << 60


def sample_key(id_col: Column, salt: str = "smp:") -> Column:
    """Uniform [0, 2^60) BIGINT decision key for a row — change ``salt``
    to draw an independent sample (the salt is the seed)."""
    return portable_hash64(id_col.cast("string"), salt=salt)


def hash_sample(
    df: DataFrame,
    rate_num: int,
    rate_den: int,
    id_col: str = "doc_id",
    salt: str = "smp:",
) -> DataFrame:
    """Keep a deterministic ``rate_num/rate_den`` fraction of rows: keep
    iff ``hash(salt||id) < floor(2^60 · num/den)``. Exactly reproducible,
    no shuffle, and SUBSET-MONOTONE: the 5% sample is a strict subset of
    the 10% sample under the same salt — the property that lets a mixture
    be dialed down without resampling (rows already processed stay
    processed). Rates are integer rationals so the threshold is exact
    (a float rate would make the boundary row engine-dependent)."""
    if not (0 <= rate_num <= rate_den) or rate_den <= 0:
        raise ValueError(f"need 0 <= rate_num <= rate_den > 0, got {rate_num}/{rate_den}")
    threshold = (_MODULUS * rate_num) // rate_den
    return df.filter(sample_key(F.col(id_col), salt) < F.lit(threshold))


def weighted_sample(
    df: DataFrame,
    weight_num: Column,
    weight_den: int,
    out_col: str | None = None,
) -> DataFrame:
    """Per-row-probability Bernoulli draw: keep a row with probability
    ``weight_num/weight_den`` where ``weight_num`` is an INTEGER column in
    ``[0, weight_den]`` (a quality score, a language confidence, an
    upsampling weight…). This is the quality-proportional selection step
    of mixture recipes à la DCLM/FineWeb — not a fixed rate, not a
    per-stratum quota: each document's own score sets its own odds, yet
    the draw stays deterministic (hash-keyed, no RNG) and engine-portable.

    Acceptance rule: ``hash("wsmp:"||doc_id) < (2^60 // den) · w`` — the
    division happens on the CONSTANT first, so the comparison is exact
    int64 algebra with no overflow ((2^60//den)·w ≤ 2^60 for w ≤ den);
    the quantization moves each row's acceptance probability by less than
    den/2^60 ≈ 1e-15 relative — far below any statistical relevance, and
    identically in every engine, which is what the oracle hashes.

    Subset-monotone in the weight: raising a row's w can only ADD it to
    the sample — a recalibrated quality model that only
    raises scores never un-picks processed rows. Scale shape: pure
    per-row filter, zero shuffle, composes with scan pushdown.

    With ``out_col`` set, rows are NOT filtered: the verdict is emitted
    as a boolean column instead (for audit/report queries)."""
    if weight_den <= 0:
        raise ValueError(f"weight_den must be positive, got {weight_den}")
    unit = _MODULUS // weight_den
    # clamp to [0, den]: an out-of-range score must mean "never"/"always",
    # not an int64 overflow in unit·w (unit ≈ 2^60/den, so w ≫ den would)
    w_eff = F.least(F.greatest(weight_num.cast("long"), F.lit(0)), F.lit(weight_den))
    verdict = sample_key(F.col("doc_id"), "wsmp:") < F.lit(unit) * w_eff
    if out_col is not None:
        return df.withColumn(out_col, verdict)
    return df.filter(verdict)


def sample_per_stratum(
    df: DataFrame,
    n_per: int,
    stratum_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exactly ``n_per`` rows per stratum (fewer iff the stratum is
    smaller), chosen by ranking the stratum's rows on the uniform hash —
    a deterministic 'random' n-per-group draw. Tie-break on id keeps the
    order total even if two hashes ever collided. One window per stratum
    over the stratum-partitioned shuffle; the emitted ``draw_rank`` makes
    the sample NESTED: rank ≤ m is precisely the m-per-stratum sample, so
    one pass serves every budget below ``n_per``."""
    w = Window.partitionBy(stratum_col).orderBy(
        sample_key(F.col(id_col), "smp:").asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("draw_rank", F.row_number().over(w))
        .filter(F.col("draw_rank") <= n_per)
    )


def kmv_distinct_estimate(df: DataFrame, value_col: str, k: int = 256) -> DataFrame:
    """K-minimum-values distinct-count estimate → one row
    ``(kth_min, n_mins, est_distinct)`` (Bar-Yossef et al. 2002; the
    KMV/bottom-k sketch behind theta sketches).

    At 10^10 rows an exact COUNT(DISTINCT url) shuffles every distinct
    key at full key width; the KMV sketch hashes each value to 8 bytes
    first, dedupes the HASHES (map-side-combined — the shuffle is still
    O(distinct) rows but 8 bytes each, and correctness needs the dedup:
    a value repeated 10^6 times must contribute its hash ONCE to the
    bottom-k, or one hot URL fills the window), then takes the k global
    minima with ``TakeOrderedAndProject`` (k rows per partition move to
    one reducer). Estimator: ``(k-1) · 2^60 / kth_min`` for the
    md5-60-bit hash. Error ~ 1/√k (k=256 ⇒ ~6%). Exact when fewer than
    k distincts exist (``n_mins < k`` ⇒ the estimate IS the count).

    Unlike Spark's ``approx_count_distinct`` (HLL++, whose register
    merges are engine-internal), every step here is portable integer
    algebra on the portable hash — the DuckDB oracle reproduces kth_min
    and the estimate bit-for-bit, which is what lets a 100-TB pipeline
    pin its cardinality telemetry in a correctness gate. The sketch is
    also MERGEABLE: union two tables' hash streams and re-take the k
    minima to sketch the union."""
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    hashes = df.select(
        portable_hash64(F.col(value_col).cast("string"), salt="kmv:").alias("h")
    ).distinct()
    mins = hashes.orderBy(F.col("h").asc()).limit(k)
    return mins.agg(
        F.max("h").alias("kth_min"),
        F.count("*").cast("long").alias("n_mins"),
    ).select(
        "kth_min",
        "n_mins",
        F.when(F.col("n_mins") < k, F.col("n_mins"))
        .otherwise(
            F.round((F.lit(k - 1) * F.lit(float(_MODULUS))) / F.col("kth_min")).cast("long")
        )
        .alias("est_distinct"),
    )


def mixture_rates(stats: DataFrame, budget_tokens: int) -> DataFrame:
    """Mixture solver: turn per-source token inventories plus target
    mixture WEIGHTS into the per-source sampling RATES a run applies —
    the missing step between the inventory report (mixture_report) and
    the per-row draw (hash_sample/weighted_sample). ``stats`` carries one
    row per source: available ``tokens`` and the integer target
    ``weight`` (shares need not be normalized — 60/30/10 and 6/3/1 are
    the same recipe).

    Exact integer algebra end to end: ``desired = (budget · w) div Σw``,
    ``rate_ppm = min(10^6, (desired · 10^6) div tokens)`` (0 for an empty
    source), ``expected_tokens = (tokens · rate_ppm) div 10^6``, and
    ``undersupplied = tokens < desired`` — the flag that says this source
    cannot fill its slice and the recipe needs upsampling or a new
    target. ``budget · weight`` and ``desired · 10^6`` must fit int64:
    enforced ``budget ≤ 2^42`` (≈4.4 T tokens — at larger budgets drop to
    per-shard budgets first) and ``weight ≤ 2^20``.

    Scale shape: ``stats`` is sources-sized (thousands of rows at web
    scale, built by one combinable groupBy upstream); the Σw total is a
    1-row broadcast crossJoin, everything else is per-row arithmetic. The
    emitted ``rate_ppm`` feeds ``hash_sample(rate_num=rate_ppm,
    rate_den=10^6)`` per source — deterministic, engine-portable, and
    subset-monotone under a raised budget."""
    if budget_tokens < 0:
        raise ValueError(f"budget_tokens must be >= 0, got {budget_tokens}")
    if budget_tokens > 1 << 42:
        raise ValueError(
            f"budget_tokens must be <= 2^42 (got {budget_tokens}); "
            "split larger budgets across shards first"
        )
    tot = stats.agg(F.sum(F.col("weight")).cast("long").alias("_tw"))
    s = stats.join(F.broadcast(tot))
    desired = F.expr(f"({budget_tokens}L * weight) div _tw")
    return (
        s.withColumn("_desired", desired)
        .withColumn(
            "rate_ppm",
            # coalesce INSIDE the least: Spark's least() skips NULL
            # operands, so least(10^6, NULL) would hand an empty source
            # the full rate instead of zero
            F.least(
                F.lit(1_000_000).cast("long"),
                F.coalesce(
                    F.expr(f"(_desired * 1000000L) div nullif(tokens, 0L)"),
                    F.lit(0),
                ),
            ).cast("long"),
        )
        .select(
            F.col("source"),
            F.col("tokens").cast("long").alias("tokens"),
            F.col("weight").cast("long").alias("weight"),
            F.col("_desired").cast("long").alias("desired_tokens"),
            F.col("rate_ppm"),
            # exact (tokens · rate) div 10^6 WITHOUT the tokens·rate
            # product (which overflows int64 past ~9.2e12 tokens — real at
            # web scale): with tokens = q·10^6 + s the identity
            # (q·10^6·r + s·r) div 10^6 = q·r + (s·r div 10^6) is exact
            F.expr(
                f"(tokens div 1000000L) * rate_ppm"
                f" + ((tokens % 1000000L) * rate_ppm) div 1000000L"
            ).cast("long").alias("expected_tokens"),
            (F.col("tokens") < F.col("_desired")).alias("undersupplied"),
        )
    )
