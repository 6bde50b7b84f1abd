"""Seen-set membership operator (SURVEY.md §7.4): the exact anti-join and
the (shard, salt) cogroup the cuckoo prefilter probes through. The cuckoo
backend itself is covered in tests/test_cuckoo.py."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from maga_spark.operators.seen import anti_join_exact, salted_shard_cogroup


def _mk(spark, n_seen=500, n_cand=300, nshards=8):
    seen = (
        spark.range(n_seen)
        .select(F.xxhash64("id").alias("url_hash"))
        .withColumn("shard", F.pmod("url_hash", F.lit(nshards)).cast("int"))
        .select("shard", "url_hash")
    )
    # candidates: half overlap with seen, half new
    cand = spark.range(n_seen - n_cand // 2, n_seen + n_cand // 2).select(
        F.xxhash64("id").alias("url_hash"), F.col("id").alias("payload")
    )
    return seen, cand


def test_empty_seen(spark):
    seen, cand = _mk(spark, n_seen=0, n_cand=100)
    assert anti_join_exact(cand, seen).count() == cand.count()
    seen, cand = _mk(spark)
    assert anti_join_exact(cand, seen).count() == 150  # exactly the new half


def test_probe_salt_identity_and_parallelism(spark):
    """salted_shard_cogroup sub-splits each shard's probe group by salt so
    task count and per-task batch size decouple from nshards (ADVICE r3):
    for ANY salt every candidate reaches exactly one group, that group is
    its own pmod shard, and the shard's single state row meets it there."""
    nshards = 8
    _seen, cand = _mk(spark)
    state = spark.createDataFrame([(s, s * 10) for s in range(nshards)], "shard int, tag long")

    def probe(key, cpdf: pd.DataFrame, spdf: pd.DataFrame) -> pd.DataFrame:
        out = cpdf[["url_hash"]].copy()
        out["grp_shard"] = int(key[0])
        out["grp_salt"] = int(key[1])
        out["tag"] = int(spdf["tag"].iloc[0]) if len(spdf) == 1 else -1
        return out

    want = sorted(r["url_hash"] for r in cand.collect())
    for salt in (1, 3, 8):
        rows = salted_shard_cogroup(
            cand,
            state,
            "url_hash",
            nshards,
            salt,
            probe,
            "url_hash long, grp_shard int, grp_salt int, tag long",
        ).collect()
        assert sorted(r["url_hash"] for r in rows) == want, f"salt={salt} lost rows"
        for r in rows:
            assert r["grp_shard"] == r["url_hash"] % nshards
            assert r["tag"] == r["grp_shard"] * 10  # met its shard's one state row
            assert 0 <= r["grp_salt"] < salt
        if salt > 1:
            assert len({r["grp_salt"] for r in rows}) > 1, "salt did not split"
