"""local_ckpt: lineage truncation that does NOT compound size statistics.

Raw ``localCheckpoint`` carries the origin plan's ``sizeInBytes`` onto the
LogicalRDD; a loop whose next plan joins the checkpointed state back in
MULTIPLIES that estimate every round (Catalyst's size-only join estimate is
the product of the children), so the BigInt's digit count grows without
bound — the drained-frontier engine test OOMed the driver at epoch ~13 just
computing stats. These tests pin the helper's contract: same rows, same
persisted RDD (unpersist tracking), bounded stats across iterated rounds.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from maga_spark.plans.ckpt import _ckpt_rdd, local_ckpt, release


def _size_digits(df) -> int:
    st = df._jdf.queryExecution().optimizedPlan().stats().toString()
    # "Statistics(sizeInBytes=5.49E+11264800 B)" → exponent digits
    num = st.split("sizeInBytes=")[1].split(" ")[0].split(")")[0]
    if "E+" in num:
        return int(num.split("E+")[1])
    return len(num.split(".")[0])


def test_local_ckpt_preserves_rows_and_persisted_rdd(spark):
    df = (
        spark.range(100)
        .withColumn("k", F.col("id") % 10)
        .groupBy("k")
        .agg(F.sum("id").alias("s"))
    )
    ck = local_ckpt(df)
    assert sorted(map(tuple, ck.collect())) == sorted(map(tuple, df.collect()))
    rdd = _ckpt_rdd(ck)
    assert rdd is not None  # still a LogicalRDD: unpersist tracking works
    assert "memory" in rdd.getStorageLevel().toString()


def test_local_ckpt_stats_stay_bounded_across_rounds(spark):
    """Self-joining loop, 8 rounds: raw localCheckpoint stats DOUBLE in
    digit count per round (geometric); local_ckpt stays flat."""

    def loop(truncate, rounds=8):
        df = spark.range(50).withColumn("k", F.col("id") % 5)
        for _ in range(rounds):
            # row count stays 50 (distinct join key), but the PLAN joins the
            # checkpointed state against itself — the stats-compounding shape
            nxt = df.join(
                df.select(F.col("id"), F.col("k").alias("k2")), "id"
            ).select("id", "k")
            df = truncate(nxt)
        return _size_digits(df)

    raw = loop(lambda d: d.localCheckpoint(True))
    safe = loop(local_ckpt)
    assert raw > 100  # the compounding is real
    assert safe < 40  # and the helper stops it


def test_local_ckpt_empty_frame(spark):
    df = spark.range(10).filter(F.col("id") > 100)
    ck = local_ckpt(df)
    assert ck.count() == 0
    assert ck.schema == df.schema


def test_release_frees_checkpoints_and_caches(spark):
    """A checkpoint's RDD leaves the persistent set (``unpersist()`` alone
    would not free it), a counted persist loses its cache entry, and a
    plain frame or None is a no-op."""
    jsc = spark.sparkContext._jsc
    ck = local_ckpt(spark.range(20).withColumn("k", F.col("id") % 3))
    rdd_id = _ckpt_rdd(ck).id()
    assert jsc.getPersistentRDDs().containsKey(rdd_id)

    cached = spark.range(30).withColumn("k", F.col("id") * 7).persist()
    cached.count()
    assert cached.storageLevel.useMemory

    release(ck, cached, spark.range(5), None)
    assert not jsc.getPersistentRDDs().containsKey(rdd_id)
    assert not cached.storageLevel.useMemory  # the cache manager entry is gone
