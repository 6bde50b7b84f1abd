"""Corpus-profile statistics: exact nearest-rank quantiles + log2 histogram.

Both have full DuckDB value-hash oracles in __spark_entry__
(length_quantiles / length_histogram); these tests pin hand-computed
nearest-rank semantics and tie/edge behavior.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from maga_spark.operators.stats import group_quantiles, log2_histogram


def test_group_quantiles_nearest_rank_hand_computed(spark):
    # group a: values 1..10 → p50 = 5th = 5, p90 = 9th = 9, p99 = 10th = 10
    # group b: 7 copies of 3 and 3 copies of 9 → p50 = 5th = 3, p90 = 9th = 9
    rows = [("a", v) for v in range(1, 11)]
    rows += [("b", 3)] * 7 + [("b", 9)] * 3
    df = spark.createDataFrame(rows, "g string, v long")
    out = {r.g: r for r in group_quantiles(df, ["g"], "v").collect()}
    assert (out["a"].n_rows, out["a"].p50, out["a"].p90, out["a"].p99) == (10, 5, 9, 10)
    assert (out["b"].n_rows, out["b"].p50, out["b"].p90, out["b"].p99) == (10, 3, 9, 9)
    # single-row group: every quantile is the row
    one = group_quantiles(
        spark.createDataFrame([("c", 42)], "g string, v long"), ["g"], "v"
    ).collect()[0]
    assert (one.n_rows, one.p50, one.p99) == (1, 42, 42)


def test_group_quantiles_rejects_bad_qs(spark):
    df = spark.createDataFrame([("a", 1)], "g string, v long")
    with pytest.raises(ValueError):
        group_quantiles(df, ["g"], "v", qs=())
    with pytest.raises(ValueError):
        group_quantiles(df, ["g"], "v", qs=(0,))
    with pytest.raises(ValueError):
        group_quantiles(df, ["g"], "v", qs=(101,))


def test_log2_histogram_buckets(spark):
    rows = [("a", 1), ("a", 2), ("a", 3), ("a", 4), ("a", 1023), ("a", 1024),
            ("a", 0), ("a", -5), ("a", None)]
    df = spark.createDataFrame(rows, "g string, v long")
    out = {r.bucket: r for r in log2_histogram(df, ["g"], "v").collect()}
    assert (out[0].n_rows, out[0].min_v, out[0].max_v) == (1, 1, 1)      # [1,2)
    assert (out[1].n_rows, out[1].min_v, out[1].max_v) == (2, 2, 3)      # [2,4)
    assert (out[2].n_rows,) == (1,)                                       # [4,8)
    assert (out[9].n_rows, out[9].max_v) == (1, 1023)                     # [512,1024)
    assert (out[10].n_rows, out[10].min_v) == (1, 1024)                   # [1024,2048)
    # non-positive and NULL all land in the -1 bucket
    assert out[-1].n_rows == 3
