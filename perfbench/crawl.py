"""Crawl workloads: a closed loop of ``CrawlEngine.run(epochs=1)`` calls.

``crawl_recrawl`` (cuckoo seen set) calls ``expire_urls`` with a seeded
batch after every steady epoch; ``crawl_steady`` (exact seen set) does not.
Both start from bench.py's 150k-URL fixture with a seeded seed list of
8192 URLs and a global budget of 4000 grants, so epoch 0 already fills the
budget and every steady epoch grants exactly 4000 URLs whatever the seed.
One warm-up epoch runs in set-up. The steady epochs after it still get
faster (JIT and codegen warm-up: -2 to -3 s per epoch over the first
three), a cost every run pays alike; a second warm-up epoch would add a
steady epoch's time (~15-20 s) to every run, which the benchmark's time
budget cannot hold.
A traced run goes on for two more steady epochs after the measured window,
for the per-layer metrics only.
"""

from __future__ import annotations

import gc
import hashlib
import json
import os
import random
import time

from common import CACHE, Clock, cached_json, median, peak_rss_mb, start_spark
from oracle import crawl_failures, ordering_digest, reference_crawl, seen_digest

FULL = {"urls": 150_000, "seeds": 8192, "global_k": 4000, "nshards": 8, "buckets": 1 << 14, "expire": 2000}
SMOKE = {"urls": 2_000, "seeds": 64, "global_k": 64, "nshards": 8, "buckets": 1 << 10, "expire": 10}
WARM_EPOCHS = 1
# steady epochs measured per run: one per EPOCH_NOMINAL_S of --seconds
EPOCH_NOMINAL_S = 16.0
# a traced run goes on for this many steady epochs after the measured
# window, so its per-layer slopes and medians have three or more epochs
TRACE_EXTRA_EPOCHS = 2
# untimed pause before the window, after a full GC of the driver JVM and of
# this process: the JIT's compile queue from the warm-up drains and warm-up
# garbage is gone, so neither lands in the measured epoch at random
SETTLE_S = 2.0


def base_fixture(p: dict, smoke: bool) -> str:
    if smoke:
        from maga_spark.sources.fixtures import generate

        d = os.path.join(CACHE, f"fixture_smoke_{p['urls']}")
        if not os.path.exists(os.path.join(d, "links.parquet")):
            generate(d, n_urls=p["urls"], n_seeds=16)
        return d
    import bench  # bench.py's fixture builder, cached under .bench_cache

    return bench.bench_fixture_dir(p["urls"])


def seeded_fixture(base: str, n_urls: int, n_seeds: int, seed: int) -> str:
    """Copy of ``base`` whose seed list is a seeded sample of the universe;
    every other table is the same file (hard link, or a copy)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from maga_spark.sources.fixtures import host_idx_of, n_hosts, raw_variant

    d = os.path.join(CACHE, "fixtures", f"{os.path.basename(base)}_n{n_seeds}_seed{seed}")
    if os.path.exists(os.path.join(d, "seeds.parquet")):
        return d
    tmp = f"{d}.{os.getpid()}.tmp"
    os.makedirs(tmp, exist_ok=True)
    for name in ("links", "images", "images_truth", "robots", "politeness"):
        src, dst = os.path.join(base, f"{name}.parquet"), os.path.join(tmp, f"{name}.parquet")
        try:
            os.link(src, dst)
        except OSError:
            import shutil

            shutil.copyfile(src, dst)
    nh = n_hosts(n_urls)
    ids = random.Random(seed).sample(range(n_urls), n_seeds)
    pq.write_table(
        pa.table(
            {
                "url": pa.array([raw_variant(i, 999, nh) for i in ids], pa.string()),
                "host": pa.array([f"h{host_idx_of(i, nh)}.test" for i in ids], pa.string()),
            }
        ),
        os.path.join(tmp, "seeds.parquet"),
    )
    os.replace(tmp, d)
    return d


def run(workload: str, seed: int, seconds: float, trace: bool, smoke: bool) -> dict:
    from maga_spark.crawlspec import CrawlConfig

    p = SMOKE if smoke else FULL
    recrawl = workload == "crawl_recrawl"
    n_steady = max(1, round(seconds / EPOCH_NOMINAL_S))
    n_run = n_steady + (TRACE_EXTRA_EPOCHS if trace else 0)
    cfg = CrawlConfig(
        epochs=WARM_EPOCHS + n_run,
        global_k=p["global_k"],
        nshards=p["nshards"],
        cuckoo_nbuckets=p["buckets"],
    )
    fx = seeded_fixture(base_fixture(p, smoke), p["urls"], p["seeds"], seed)
    expire_from = WARM_EPOCHS if recrawl else None
    key = hashlib.sha256(json.dumps([workload, fx, repr(cfg), p, expire_from]).encode()).hexdigest()[:16]
    ref = cached_json(
        os.path.join(CACHE, "oracle", f"{workload}_{key}.json"),
        lambda: reference_crawl(fx, cfg, seed, expire_from, p["expire"]),
    )

    from tracing import Tracer, eventlog_conf

    tracer = Tracer(workload) if trace else None
    log_dir = os.path.join(CACHE, "eventlog", tracer.run_id) if trace else None

    # ---- set-up: session, engine, warm-up epochs ----
    setup = Clock()
    spark = start_spark(f"perfbench_{workload}", eventlog_conf(log_dir) if trace else None)
    from maga_spark.plans.frontier import CrawlEngine

    eng = CrawlEngine(spark, fx, cfg, seen_mode="cuckoo" if recrawl else "exact")
    warm = eng.run(epochs=WARM_EPOCHS, collect_ordering=True)
    setup_s, s0, s1 = setup.stop()

    batches = [spark.createDataFrame([(u,) for u in b["urls"]], "url string") for b in ref["expiry"]]
    codegen = persisted = None
    if trace:
        from tracing import Codegen

        tracer.call("setup", "setup", s0, s1)
        codegen = Codegen(spark)
        persisted = spark.sparkContext._jsc.getPersistentRDDs

    epoch_s, expire_s, metrics, expired, seen_rows = [], [], [], [], []

    def step(i: int) -> None:
        """One steady epoch, then on crawl_recrawl one expiry call."""
        cg0 = codegen.read() if trace else None
        c = Clock()
        res = eng.run(epochs=1)
        dt, w0, w1 = c.stop()
        epoch_s.append(dt)
        metrics.append(res.metrics[0])
        seen_rows.append(res.seen_count)
        if trace:
            cg1 = codegen.read()
            tracer.call(
                f"epoch {WARM_EPOCHS + i}",
                "epoch",
                w0,
                w1,
                codegen_compiles=cg1[0] - cg0[0],
                codegen_s=cg1[1] - cg0[1],
                persisted_rdds=int(persisted().size()),
                **res.metrics[0],
            )
        if recrawl:
            c = Clock()
            n = eng.expire_urls(batches[i])
            dt, w0, w1 = c.stop()
            expire_s.append(dt)
            expired.append(n)
            if trace:
                tracer.call(f"expire after {WARM_EPOCHS + i}", "expire", w0, w1, requested=len(ref["expiry"][i]["urls"]), expired=n)

    # ---- measured window ----
    spark._jvm.java.lang.System.gc()
    gc.collect()
    time.sleep(SETTLE_S)
    window = Clock()
    for i in range(n_steady):
        step(i)
    window_s = window.stop()[0]
    for i in range(n_steady, n_run):
        step(i)

    # ---- checks (untimed) ----
    got = {
        "epochs": warm.metrics + metrics,
        "ordering0": ordering_digest(warm.ordering),
        "seen": seen_digest(eng.seen_per_shard()),
        "expired": expired,
    }
    failures = crawl_failures(ref, got)
    rss = peak_rss_mb(spark)

    layers = {}
    if trace:
        import bench

        layers["frontier.frontier_rows"] = float(eng.frontier.count())
        layers["spark.control_s"] = bench.control_sec(spark)
    spark.stop()

    scheduled = sum(m["scheduled"] for m in metrics[:n_steady])
    fetched = sum(m["fetched"] for m in metrics[:n_steady])
    e2e = {
        "setup_s": (setup_s, "s"),
        "window_s": (window_s, "s"),
    }
    info = {
        "peak_rss_mb": (rss, "MB"),
        "crawl_urls_per_s": ((scheduled + fetched) / window_s, "1/s"),
        "epoch_s_p50": (median(epoch_s[:n_steady]), "s", n_steady),
    }
    if recrawl:
        info["expire_s_p50"] = (median(expire_s[:n_steady]), "s", n_steady)
    if trace:
        layers.update(crawl_layers(tracer, log_dir, metrics, seen_rows, epoch_s, expire_s, ref))
    return {
        "attempted": len(got["epochs"]) + len(expired),
        "failures": failures,
        "e2e": e2e,
        "info": info,
        "layers": layers,
        "tracer": tracer,
    }


def crawl_layers(tracer, log_dir, metrics, seen_rows, epoch_s, expire_s, ref) -> dict:
    from tracing import interval_stats, read_event_log, slope

    events = read_event_log(log_dir)
    tracer.attach_events(events)
    epochs = tracer.calls("epoch")
    per = [interval_stats(events, s["start"], s["end"]) for s in epochs]

    def med(key):
        return median([x[key] for x in per])

    requested = sum(len(b["urls"]) for b in ref["expiry"][: len(expire_s)])
    expired = sum(s["attrs"]["expired"] for s in tracer.calls("expire"))
    sched = sum(m["scheduled"] for m in metrics)
    cands = sum(m["candidates"] for m in metrics)
    rdds = [s["attrs"]["persisted_rdds"] for s in epochs]
    return {
        "frontier.jobs_per_epoch": med("jobs"),
        "frontier.stages_per_epoch": med("stages"),
        "frontier.tasks_per_epoch": med("tasks"),
        "frontier.job_busy_s": med("busy_s"),
        "frontier.driver_only_share": med("driver_only_share"),
        "frontier.codegen_compiles_per_epoch": median([s["attrs"]["codegen_compiles"] for s in epochs]),
        "frontier.codegen_compile_s_per_epoch": median([s["attrs"]["codegen_s"] for s in epochs]),
        "frontier.executor_cpu_s_per_epoch": med("cpu_s"),
        "frontier.shuffle_write_mb_per_epoch": med("shuffle_write_mb"),
        "frontier.shuffle_read_mb_per_epoch": med("shuffle_read_mb"),
        "frontier.spill_mb_per_epoch": med("spill_mb"),
        "frontier.persisted_rdds": float(rdds[-1]),
        "frontier.persisted_rdds_slope": slope(rdds),
        "frontier.epoch_s_slope": slope(epoch_s),
        "frontier.seen_rows": float(seen_rows[-1]),
        "frontier.grants_per_epoch": median([m["scheduled"] for m in metrics]),
        "frontier.fetch_valid_ratio": sum(m["fetched"] for m in metrics) / max(sched, 1),
        "frontier.deferred_share": sum(m["deferred_politeness"] for m in metrics) / max(cands, 1),
        "payload.python_rows_per_epoch": med("py_rows"),
        "payload.python_mb_per_epoch": med("py_mb"),
        "seen.expire_s": median(expire_s),
        "seen.expired_keys": float(expired),
        "seen.expire_hit_ratio": expired / requested if requested else 0.0,
    }
