"""expire_urls cost at bench scale: cuckoo vs exact (VERDICT r4 #5 — turn
the docstring claim into a cited number).

``CrawlEngine.expire_urls`` removes keys from the seen set so a future
absorb re-enqueues them (the re-crawl primitive). Per seen_mode:

* exact  — anti-join removal from the seen table only;
* cuckoo — the same removal plus per-key fingerprint DELETION: the extra
  cost is ~ O(batch + table bytes), independent of how many keys the
  filter holds.

This tool injects synthetic seen state of growing size (1M / 4M / 16M
keys) into engines of both modes and times ``expire_urls`` on the SAME
10k-key batch, so the cuckoo-over-exact ratio is the price of keeping the
prefilter in step with seen. Prints one JSON line; ``--bench-md`` appends
the table to BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from maga_spark.crawlspec import CrawlConfig  # noqa: E402
from maga_spark.operators.cuckoo import update_shard_cuckoo  # noqa: E402
from maga_spark.plans.frontier import CrawlEngine  # noqa: E402
from maga_spark.session import get_spark  # noqa: E402
from maga_spark.sources.fixtures import generate  # noqa: E402

SIZES = [1_000_000, 4_000_000, 16_000_000]
BATCH = 10_000
NSHARDS = 32


def synth_seen(spark, n: int):
    """n synthetic seen keys in the engine's (shard, url_hash) layout —
    xxhash64 of the row id is as uniform as real canonical-URL hashes."""
    return (
        spark.range(0, n, 1, 32)
        .select(F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
        .select(
            F.pmod("url_hash", F.lit(NSHARDS)).cast("int").alias("shard"), "url_hash"
        )
        .localCheckpoint(True)
    )


def time_expire(spark, fixture: str, mode: str, seen, batch) -> float:
    # size the per-shard state for the largest run: 16M/32 shards = 500k
    # keys/shard → cuckoo 2^18 buckets × 4 slots at ~0.5 load
    cfg = CrawlConfig(nshards=NSHARDS, cuckoo_nbuckets=1 << 18)
    eng = CrawlEngine(spark, fixture, cfg, seen_mode=mode)
    eng.seen = seen
    if mode == "cuckoo":
        eng.cuckoo = update_shard_cuckoo(None, seen, nbuckets=cfg.cuckoo_nbuckets).localCheckpoint(True)
    t0 = time.perf_counter()
    n = eng.expire_urls(batch)
    # expire_urls leaves the new seen table lazy — materialize it (and the
    # cuckoo state) so the timing covers what the next epoch would pay
    if mode == "cuckoo":
        eng.cuckoo.count()
    eng.seen.count()
    wall = time.perf_counter() - t0
    assert n == BATCH, f"expired {n} != {BATCH}"
    return wall


def main() -> None:
    spark = get_spark(
        app_name="bench_expire",
        master=f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]",
        shuffle_partitions=32,
    )
    fixture = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".bench_cache",
        "expire_fixture",
    )
    if not os.path.exists(os.path.join(fixture, "politeness.parquet")):
        generate(fixture, n_urls=200, n_seeds=4)

    rows = []
    for n in SIZES:
        seen = synth_seen(spark, n)
        batch = seen.limit(BATCH).select("url_hash").localCheckpoint(True)
        r = {"seen_keys": n}
        for mode in ("exact", "cuckoo"):
            r[mode + "_sec"] = round(time_expire(spark, fixture, mode, seen, batch), 2)
        r["cuckoo_over_exact"] = round(r["cuckoo_sec"] / r["exact_sec"], 2)
        rows.append(r)
        print(json.dumps(r), flush=True)
    print(json.dumps({"batch": BATCH, "nshards": NSHARDS, "rows": rows}))

    if "--bench-md" in sys.argv:
        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        table = "\n".join(
            f"| {r['seen_keys']:,} | {r['exact_sec']} | {r['cuckoo_sec']} | {r['cuckoo_over_exact']}x |"
            for r in rows
        )
        with open(os.path.join(repo, "BENCH.md"), "a") as f:
            f.write(
                f"""
## expire_urls: cuckoo vs exact

Same {BATCH:,}-key expiry batch against synthetic seen state of growing
size ({NSHARDS} shards, per-shard cuckoo 2^18x4 slots; timing includes
materializing the post-expiry seen and filter state):

| seen keys | exact (s) | cuckoo (s) | cuckoo/exact |
| --- | --- | --- | --- |
{table}

Both columns contain the shared O(seen) seen-table anti-join (the row
removal itself scans the seen state in every mode); the difference is the
cuckoo per-key deletion, whose cost depends on the batch and the fixed
table bytes, not on |seen|. Both modes re-enqueue expired URLs identically
(test_engine_expire_recrawl).
"""
            )
    spark.stop()


if __name__ == "__main__":
    main()
