"""Corpus-profile statistics: exact nearest-rank quantiles and log2
histograms over grouped numeric columns.

The reporting tier of a curation run ("what does the length/token/score
distribution look like per source?") — numbers that steer gate thresholds
before anyone commits to a full pass. Both operators are integer-exact by
construction so the DuckDB oracle value-hashes them; floats never appear.
(Beyond-reference tier: the reference stops at fetch/store,
maga/crawler.py. SURVEY.md §2.10 X-59.)

Scale shapes (100 TB):
  * ``group_quantiles`` — ONE window per group (rank + count ride the same
    shuffle) and a map-side-combinable final groupBy. Exact nearest-rank
    needs the per-group sort; that is the price of exactness.
  * ``log2_histogram`` — pure in-row bucket expression + one combinable
    groupBy. Bucket = floor(log2(x)) via the binary-string length (both
    engines print base-2 the same way), -1 for x <= 0; buckets are
    bounded (≤ 64) so the aggregate never skews.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def group_quantiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    qs: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """Per-group quantiles of an integer column → one row per group:
    ``group_cols + n_rows + p<q> ...``.

    Uses the NEAREST-RANK definition (the classic ceil(q/100 · n)-th order
    statistic, ties broken by value order only — duplicates are fine
    because equal values are interchangeable): rank every row inside its
    group, then keep the values at the target ranks with conditional
    aggregation. Deterministic and engine-portable — unlike interpolating
    definitions, which differ between engines and produce floats."""
    if not qs:
        raise ValueError("qs must be non-empty")
    if any(q <= 0 or q > 100 for q in qs):
        raise ValueError(f"quantiles must be in (0, 100], got {qs!r}")
    v = F.col(value_col).cast("long")
    w = Window.partitionBy(*group_cols).orderBy(v.asc())
    ranked = df.select(
        *group_cols,
        v.alias("_v"),
        F.row_number().over(w).alias("_rn"),
        F.count("*").over(Window.partitionBy(*group_cols)).alias("_n"),
    )
    # nearest rank: ceil(q·n/100) = (q·n + 99) div 100 — exact for the
    # positive operands here (Spark's div truncates toward zero, so the
    # -floor(-x) ceil trick would be wrong)
    aggs = [F.max("_n").cast("long").alias("n_rows")] + [
        F.max(
            F.when(F.col("_rn") == F.expr(f"({q} * _n + 99) div 100"), F.col("_v"))
        ).cast("long").alias(f"p{q}")
        for q in qs
    ]
    return ranked.groupBy(*group_cols).agg(*aggs)


def log2_histogram(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
) -> DataFrame:
    """Power-of-two histogram of an integer column per group →
    ``group_cols + bucket + n_rows + min_v + max_v``: ``bucket =
    floor(log2(x))`` for positive x (so bucket b covers [2^b, 2^(b+1))),
    ``-1`` for x <= 0 or NULL. Exact integers only — the bucket is the
    binary-digit count, never a float log — and at most 64 buckets per
    group, so the single combinable groupBy cannot skew."""
    v = F.col(value_col).cast("long")
    bucket = F.when(v > 0, F.length(F.conv(v, 10, 2)) - 1).otherwise(
        F.lit(-1)
    ).cast("long")
    return (
        df.select(*group_cols, v.alias("_v"), bucket.alias("bucket"))
        .groupBy(*group_cols, "bucket")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.min("_v").cast("long").alias("min_v"),
            F.max("_v").cast("long").alias("max_v"),
        )
    )
