"""Benchmark harness (driver contract).

Runs the headline workload on local[$SPARK_GRAFT_CPUS] against
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Headline = the crawl-frontier engine (the north_rule metric: URLs
scheduled+fetched/sec) over a deterministic synthetic fixture, plus the
analytic operator suite over the driver's sf tables. The two-parallelism
scaling evidence is produced by tools/bench_scaling.py → BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# In plain-python client mode the driver JVM launches on first pyspark
# import, BEFORE SparkSession.builder confs apply — so driver memory must be
# injected here (spark-submit runs ignore this; bench_scaling.py passes
# --driver-memory explicitly).
if "PYSPARK_SUBMIT_ARGS" not in os.environ and "SPARK_SUBMIT_OPTS" not in os.environ:
    _mem = os.environ.get("MAGA_SPARK_DRIVER_MEM", "8g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-memory {_mem} pyspark-shell"

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
BENCH_URLS = int(os.environ.get("MAGA_BENCH_URLS", "150000"))
BENCH_EPOCHS = int(os.environ.get("MAGA_BENCH_EPOCHS", "6"))
BENCH_GLOBAL_K = int(os.environ.get("MAGA_BENCH_GLOBAL_K", "15000"))
BENCH_RATE_BOOST = int(os.environ.get("MAGA_BENCH_RATE_BOOST", "8"))
BENCH_SEEDS = int(os.environ.get("MAGA_BENCH_SEEDS", "256"))
# seen-path A/B (tools/bench_seen.py): "exact" | "cuckoo" — results bit-equal
BENCH_SEEN_MODE = os.environ.get("MAGA_BENCH_SEEN_MODE", "exact")
# cuckoo mode: per-shard buckets (×4 slots). Default holds 16M keys / 32
# shards at ~0.48 load; an undersized table raises rather than dropping keys
BENCH_CUCKOO_NBUCKETS = int(os.environ.get("MAGA_BENCH_CUCKOO_NBUCKETS", str(1 << 18)))
BENCH_IMG_SIZES = tuple(
    int(x) for x in os.environ.get("MAGA_BENCH_IMG_SIZES", "16,24,32").split(",")
)
# untimed warm-up epochs before the measured window (steady-state protocol:
# epoch 0 carries the one-time fixture scan, cache materialization and JIT
# warm-up, none of which is crawl throughput — a 10^10-URL crawl runs for
# weeks, so steady-state epochs are the metric; the warm-up runs IDENTICALLY
# at every parallelism level)
BENCH_WARMUP_EPOCHS = int(os.environ.get("MAGA_BENCH_WARMUP_EPOCHS", "0"))
_REPO = os.path.dirname(os.path.abspath(__file__))


def bench_fixture_dir(n_urls: int, spark=None) -> str:
    from maga_spark.sources.fixtures import generate, generate_spark

    tag = f"fixture_{n_urls}_b{BENCH_RATE_BOOST}_s{BENCH_SEEDS}_i{'x'.join(map(str, BENCH_IMG_SIZES))}"
    if n_urls >= 500_000:
        tag += "_sparkgen"
    d = os.path.join(_REPO, ".bench_cache", tag)
    if not os.path.exists(os.path.join(d, "links.parquet")):
        if n_urls >= 500_000:  # vectorized generator for big universes
            from maga_spark.session import get_spark

            s = spark or get_spark(app_name="fixture_gen", master="local[32]")
            generate_spark(
                s,
                d,
                n_urls=n_urls,
                n_seeds=BENCH_SEEDS,
                n_images=2048,
                rate_boost=BENCH_RATE_BOOST,
                sizes=BENCH_IMG_SIZES,
            )
        else:
            generate(
                d,
                n_urls=n_urls,
                n_seeds=BENCH_SEEDS,
                n_images=2048,
                rate_boost=BENCH_RATE_BOOST,
                sizes=BENCH_IMG_SIZES,
            )
    return d


def control_sec(spark) -> float:
    """Same-day VM-drift control (VERDICT r3 protocol nit): a FROZEN
    synthetic job — 150M-row xxhash64 scan-agg plus a 30M-row 4096-bucket
    shuffle-agg — run at session start every bench invocation. Its wall
    time depends only on the VM, never on engine code, so round-over-round
    numbers normalize as ratio-to-control without re-running old git refs.
    DO NOT change this job; a changed control breaks every past baseline."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    spark.range(0, 150_000_000, 1, 64).select(
        # pmod keeps the ANSI-mode sum far from int64 overflow
        F.sum(F.pmod(F.xxhash64("id"), F.lit(1_000_000))).alias("s")
    ).collect()
    spark.range(0, 30_000_000, 1, 64).groupBy(
        F.pmod(F.xxhash64("id"), F.lit(4096)).alias("b")
    ).agg(F.count(F.lit(1)).alias("n")).agg(F.sum("n")).collect()
    return round(time.perf_counter() - t0, 3)


def main() -> None:
    from maga_spark.crawlspec import CrawlConfig
    from maga_spark.plans.frontier import CrawlEngine
    from maga_spark.session import get_spark

    import __spark_entry__ as entrymod

    fixture = bench_fixture_dir(BENCH_URLS)
    spark = get_spark(app_name="maga_spark_bench", master=f"local[{CPUS}]")

    ctl = control_sec(spark)
    timings: dict[str, float] = {}

    # --- headline: the crawl engine ---
    cfg = CrawlConfig(
        epochs=BENCH_EPOCHS,
        global_k=BENCH_GLOBAL_K,
        nshards=32,
        cuckoo_nbuckets=BENCH_CUCKOO_NBUCKETS,
    )
    eng = CrawlEngine(spark, fixture, cfg, seen_mode=BENCH_SEEN_MODE)
    if BENCH_WARMUP_EPOCHS:
        eng.run(epochs=BENCH_WARMUP_EPOCHS, collect_ordering=False)
    t0 = time.perf_counter()
    res = eng.run(epochs=BENCH_EPOCHS, collect_ordering=False)
    crawl_sec = time.perf_counter() - t0
    scheduled = sum(m["scheduled"] for m in res.metrics)
    fetched = res.fetched_valid
    timings["crawl_frontier"] = round(crawl_sec, 3)
    urls_per_sec = round((scheduled + fetched) / crawl_sec, 1)

    if os.environ.get("MAGA_BENCH_CRAWL_ONLY") == "1":
        print(
            json.dumps(
                {
                    "metric": "frontier throughput (URLs scheduled+fetched/sec)",
                    "value": urls_per_sec,
                    "unit": "urls/sec",
                    "queries": {"crawl_frontier": timings["crawl_frontier"]},
                    "sf": BENCH_URLS,
                    "scheduled": scheduled,
                    "fetched_valid": fetched,
                    "cpus": CPUS,
                    "control_sec": ctl,
                }
            )
        )
        spark.stop()
        return

    # --- analytic operator suite over the sf tables ---
    qs = entrymod.queries()
    bench_queries = [
        "tpch_q1",
        "broadcast_join_agg",
        "politeness_grant",
        "xor_topk",
        "window_running",
        "sessionize",
        "asof_join",
        "exact_dedup",
        "minhash_banding",
        "simhash_near_dups",
        "jaccard_chargram",
        "phash_hamming",
        "embedding_topk",
        "embedding_near_dups",
        "semantic_dedup",
        "winnow_fingerprint",
        "language_id",
        "text_quality",
        "token_budget",
        "corpus_curate",
        "image_curate",
        "robots_rfc",
        # round-4 additions: graph/redirect/curation/image/scheduling paths
        "pagerank",
        "redirect_resolve",
        "containment_pairs",
        "containment_from_index",
        "warc_parse",
        "cdx_index",
        "cdx_revisit",
        "sequence_pack",
        "packing_stats",
        "decontaminate",
        "pii_redact",
        "repeated_ngrams",
        "dedup_cut",
        "aspect_buckets",
        "html_text",
        "geometry_check",
        "stratified_sample",
        "weighted_sample",
        "classifier_score",
        "lm_score",
        "reg_domain",
        "domain_cap",
        "corpus_export",
        "length_quantiles",
        "length_histogram",
        "snapshot_diff",
        "mixture_rates",
        "image_keep_best",
        "epoch_shuffle",
        "shard_manifest",
        "caption_align",
        "revisit_schedule",
        "anchor_profile",
        "mixture_report",
        "bm25_search",
        "trap_detect",
        "kmv_distinct",
        "krpc_roundtrip",
        "frame_codec",
        "handshake_gate",
        "embedded_int",
        "piece_range",
        "dns_resolve",
    ]
    for name in bench_queries:
        t0 = time.perf_counter()
        n = qs[name](spark, SF_DIR).count()
        timings[name] = round(time.perf_counter() - t0, 3)
        _ = n

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline workload wall-time (crawl engine + operator suite)",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": SF_DIR.rstrip("/").split("sf")[-1],
                "frontier": {
                    "n_urls_universe": BENCH_URLS,
                    "epochs": BENCH_EPOCHS,
                    "global_k": BENCH_GLOBAL_K,
                    "scheduled": scheduled,
                    "fetched_valid": fetched,
                    "urls_scheduled_fetched_per_sec": urls_per_sec,
                },
                "cpus": CPUS,
                "control_sec": ctl,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
