"""spark-submit driver for the crawl engine — the deployment entrypoint
BASELINE.json's north rule names ("run via spark-submit --py-files on a
multi-executor cluster"):

    spark-submit --master <cluster> --py-files dist/maga_spark.zip \\
        tools/submit_crawl.py <fixtures_dir> --epochs 6 --global-k 64

The script imports ``maga_spark`` from the ``--py-files`` artifact (it has
no other way to find it — tests strip PYTHONPATH and run from a neutral
cwd), runs the engine, and prints ONE JSON line with the crawl's parity
digests (ordering + per-shard seen) and metrics, so any two deployments —
local[N], local[4N], a real cluster — can be diffed for bit-identical
results straight from their driver logs (tests/test_submit.py does exactly
that against the sequential simulator)."""

from __future__ import annotations

import argparse
import hashlib
import json


def ordering_digest(ordering: list) -> str:
    """sha256 over the (epoch, rank, url) sequence — order-sensitive."""
    h = hashlib.sha256()
    for e, rank, url in ordering:
        h.update(f"{e}\x00{rank}\x00{url}\x1e".encode())
    return h.hexdigest()


def seen_digest(seen: dict) -> str:
    """sha256 over per-shard SORTED hash arrays — the bit-for-bit artifact."""
    h = hashlib.sha256()
    for shard in sorted(seen):
        h.update(f"{shard}:{','.join(map(str, seen[shard]))};".encode())
    return h.hexdigest()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("fixtures_dir")
    ap.add_argument("--epochs", type=int, default=6)
    ap.add_argument("--global-k", type=int, default=64)
    ap.add_argument("--nshards", type=int, default=8)
    ap.add_argument("--seen-mode", default="exact", choices=["exact", "cuckoo"])
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--snapshot-dir", default=None)
    args = ap.parse_args()

    # imports resolve through the --py-files zip on driver AND executors
    from maga_spark.crawlspec import CrawlConfig
    from maga_spark.plans.frontier import CrawlEngine
    from maga_spark.session import get_submit_spark

    import maga_spark

    spark = get_submit_spark(
        app_name="maga_spark_crawl", shuffle_partitions=args.shuffle_partitions
    )
    cfg = CrawlConfig(epochs=args.epochs, global_k=args.global_k, nshards=args.nshards)
    eng = CrawlEngine(
        spark, args.fixtures_dir, cfg, seen_mode=args.seen_mode, snapshot_dir=args.snapshot_dir
    )
    res = eng.run(collect_ordering=True)
    seen = {r["shard"]: list(r["hashes"]) for r in eng.seen_per_shard()}
    print(
        json.dumps(
            {
                "master": spark.sparkContext.master,
                "pkg_path": maga_spark.__file__,  # proves the zip was the import source
                "epochs": args.epochs,
                "seen_mode": args.seen_mode,
                "granted": len(res.ordering),
                "fetched_valid": res.fetched_valid,
                "seen_count": res.seen_count,
                "ordering_digest": ordering_digest(res.ordering),
                "seen_digest": seen_digest(seen),
                "metrics": res.metrics,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
