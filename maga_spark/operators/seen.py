"""★ The sharded URL-seen set — the engine's core custom operator
(SURVEY.md §7.4; reference analog: piece-request dedup anti-join,
screenshot_system/io_adapter.py:65-69, and the infohash-dedup left to user
code, maga/crawler.py:216-223).

Representation: ``seen(shard int, url_hash long)`` with
``shard = pmod(url_hash, nshards)`` — hash-partitioned so membership tests
co-locate per shard and the final set compares bit-for-bit as per-shard
sorted hash arrays (BASELINE.json parity).

Two membership paths, one contract (both yield the exact set):

* ``anti_join_exact`` — plain ``left_anti`` on ``url_hash``; Spark's runtime
  bloom-filter join injection (enabled in the session factory) already
  prefilters the shuffle at scale.
* ``operators.cuckoo.anti_join_cuckoo`` — a per-shard cuckoo-filter
  prefilter probed EXECUTOR-SIDE through ``salted_shard_cogroup`` below;
  one anti-join in which only might-contain rows can match seen corrects
  the false positives, and the filter supports per-key deletion (the
  re-crawl primitive).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _hashes_u64(col: "pd.Series") -> np.ndarray:
    return col.to_numpy().astype(np.int64).view(np.uint64)


def anti_join_exact(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """candidates ∖ seen, exact."""
    return candidates.join(seen.select("url_hash"), "url_hash", "left_anti")


def _out_ddl(df: DataFrame, extra: str) -> str:
    cols = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)
    return f"{cols}, {extra}"


def salted_shard_cogroup(
    candidates: DataFrame,
    state: DataFrame,
    key: str,
    ns: int,
    salt: int,
    probe,
    out_schema: str,
) -> DataFrame:
    """(shard, salt)-cogroup plan for probing per-shard read-only state
    (the cuckoo tables): shuffle candidates once on ``(_shard, _psalt)``,
    replicate each shard's single state row per salt slice in-plan, apply
    ``probe`` per cogroup. The salt derivation — ``shiftright(key, 20)``,
    bits disjoint from the pmod shard bits so the sub-split is uniform
    within a shard — decouples probe-task count (ns·salt) and per-task
    batch size from nshards; results are identical for any salt because
    the probe is row-local."""
    s = max(1, int(salt))
    cand_b = candidates.withColumn(
        "_shard", F.pmod(F.col(key), F.lit(ns)).cast("int")
    ).withColumn("_psalt", F.pmod(F.shiftright(F.col(key), 20), F.lit(s)).cast("int"))
    state_rep = state.withColumn(
        "_psalt", F.explode(F.sequence(F.lit(0), F.lit(s - 1)))
    ).withColumn("_psalt", F.col("_psalt").cast("int"))
    return (
        cand_b.groupBy("_shard", "_psalt")
        .cogroup(state_rep.groupBy("shard", "_psalt"))
        .applyInPandas(probe, out_schema)
    )
