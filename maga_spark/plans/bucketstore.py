"""Bucketed seen-set storage — the co-located anti-join for stored state.

At the 10^10-URL target the seen set dwarfs every epoch's candidate batch,
and the membership anti-join (O-23) is the crawl loop's recurring big join.
A plain parquet seen table is re-SHUFFLED on ``url_hash`` every epoch to
meet the candidates — at 10^10 rows that one Exchange is the epoch's
dominant cost, and it repeats forever. Spark's native bucketing removes it:
``bucketBy(n, url_hash) + sortBy(url_hash)`` writes the table PRE-HASHED
into n stable buckets, the catalog records the layout, and a sort-merge
join against it needs an Exchange (and with sorted buckets not even a
Sort) only on the SMALL candidate side. Appends land per-bucket, so the
incremental absorb keeps the layout without rewriting history — the same
grow-in-place story as the incremental shard cuckoo filters
(operators/cuckoo.py), told at the storage layer. This is the standalone-table mirror of the
reference's single in-process ``seen`` dict (maga/crawler.py:52,216-223):
what a dict's O(1) membership gives one process, a bucket-aligned
merge-join gives a cluster.

The bucket count is a layout constant (like the seen shard count): pick
executors × a small factor at deploy time; each epoch's probe then runs
n-bucket-parallel regardless of candidate partitioning. The engine's
default path keeps the runtime-bloom-filtered exact anti-join (measured
faster at 16M in BENCH.md, where the seen set still fits the shuffle
comfortably); this module is the at-scale storage layout whose crossover
the docstring numbers argue, and the plan test pins its no-Exchange
property so a regression cannot land silently.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def write_seen_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    n_buckets: int = 64,
    key: str = "url_hash",
    mode: str = "overwrite",
) -> None:
    """Write/append seen keys as a bucketed+sorted EXTERNAL parquet table
    (data at ``path``, layout metadata in the session catalog). Append
    preserves the layout: new files join their key's bucket, so state
    grows without touching existing files."""
    (
        df.select(key)
        .write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .option("path", path)
        .saveAsTable(table)
    )


def append_seen_bucketed(df: DataFrame, table: str, key: str = "url_hash") -> None:
    """Absorb an epoch's newly-seen keys into the bucketed table —
    per-bucket files only, no rewrite of prior epochs."""
    (
        df.select(key)
        .write.mode("append")
        .format("parquet")
        .bucketBy(_bucket_count(df.sparkSession, table), key)
        .sortBy(key)
        .saveAsTable(table)
    )


def _bucket_count(spark: SparkSession, table: str) -> int:
    row = [
        r
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
        if r.col_name == "Num Buckets"
    ]
    if not row:
        raise ValueError(f"{table} is not bucketed")
    return int(row[0].data_type)


def anti_join_seen_bucketed(
    candidates: DataFrame, spark: SparkSession, table: str, key: str = "url_hash"
) -> DataFrame:
    """Membership anti-join against the bucketed seen table. The MERGE
    hint pins sort-merge (a broadcast of a 10^10-row build side must
    never be an option the optimizer can pick on a bad size estimate);
    the stored side contributes its buckets directly — no Exchange, no
    Sort on the big side (test_bucketstore pins both)."""
    seen = spark.table(table).hint("merge")
    return candidates.join(seen, key, "left_anti")
