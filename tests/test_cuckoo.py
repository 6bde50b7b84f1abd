"""Cuckoo-filter seen set (operators/cuckoo.py): anti-join ≡ exact,
incremental ≡ from-scratch (result-level), deletion (the re-crawl
primitive), and the state-invariant guards."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from maga_spark.operators.cuckoo import (
    anti_join_cuckoo,
    delete_from_shard_cuckoo,
    update_shard_cuckoo,
)
from maga_spark.operators.seen import anti_join_exact

NSHARDS = 8


def _seen_df(spark, hashes):
    return spark.createDataFrame(
        [(int(h),) for h in hashes], "url_hash long"
    ).select(F.pmod("url_hash", F.lit(NSHARDS)).cast("int").alias("shard"), "url_hash")


def _cand_df(spark, hashes, dup_first=False):
    vals = [int(h) for h in hashes]
    if dup_first and vals:
        vals = vals + [vals[0], vals[0]]  # duplicate keys must all survive together
    return spark.createDataFrame(
        [(v, f"u{v}") for v in vals], "url_hash long, payload string"
    )


@pytest.fixture(scope="module")
def keysets():
    rng = np.random.default_rng(42)
    allk = np.unique(rng.integers(-(2**62), 2**62, size=6000, dtype=np.int64))
    return allk[:2500], allk[2500:4000], allk[4000:]  # seen_a, seen_b, never_seen


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_anti_join_cuckoo_equals_exact(spark, keysets):
    """Exact for a filter over the seen keys and for a dense one that also
    holds every fresh candidate, so every fresh key probes might-contain —
    the residual anti-join corrects every one."""
    seen_a, seen_b, fresh = keysets
    seen = _seen_df(spark, np.concatenate([seen_a, seen_b]))
    cands = _cand_df(spark, np.concatenate([seen_a[:300], fresh[:700]]), dup_first=True)
    want = _sorted_rows(anti_join_exact(cands, seen))
    assert len(want) >= 700  # the fresh keys (plus dups) all survive
    exact = update_shard_cuckoo(None, seen, nbuckets=1 << 11)
    dense = update_shard_cuckoo(
        None, _seen_df(spark, np.concatenate([seen_a, seen_b, fresh[:700]])), nbuckets=1 << 11
    )
    for filters in (exact, dense):
        got = anti_join_cuckoo(cands, seen, filters, NSHARDS)
        assert _sorted_rows(got) == want, f"dense={filters is dense}"


@pytest.mark.parametrize("case", ["empty", "sparse_top_shard"])
def test_anti_join_cuckoo_edge_seen_sets(spark, case):
    """An empty seen set keeps every candidate. A sparse
    one whose top shards are unpopulated (ADVICE round-1 regression) must
    be probed with the seen table's real modulus: hashes 8, 9, 10 sit in
    shards 0-2 of 8, and inferring max(shard)+1 = 3 would probe hash 10 in
    shard 10 % 3 = 1, whose filter does not hold it."""
    cand = spark.createDataFrame([(8,), (9,), (10,), (999,)], "url_hash long")
    if case == "empty":
        seen = spark.createDataFrame([], "shard int, url_hash long")
        got = anti_join_cuckoo(cand, seen, update_shard_cuckoo(None, seen, nbuckets=1 << 8), 8)
        assert {r["url_hash"] for r in got.collect()} == {8, 9, 10, 999}
    else:
        seen = spark.createDataFrame([(0, 8), (1, 9), (2, 10)], "shard int, url_hash long")
        got = anti_join_cuckoo(cand, seen, update_shard_cuckoo(None, seen, nbuckets=1 << 8), 8)
        assert {r["url_hash"] for r in got.collect()} == {999}


def test_cuckoo_rejects_inconsistent_nshards(spark):
    """Modulus-mismatch guard: a filter row whose shard id falls outside
    [0, nshards) fails the probe task (executor-side — filter bytes are
    never collected to the driver, so there is nothing to check there)."""
    seen = spark.createDataFrame([(5, 42)], "shard int, url_hash long")
    cand = spark.createDataFrame([(42,)], "url_hash long")
    with pytest.raises(Exception, match="different modulus|outside"):
        anti_join_cuckoo(cand, seen, update_shard_cuckoo(None, seen, nbuckets=1 << 8), 4).collect()


def test_cuckoo_single_probe_pass_no_driver_bytes(spark, keysets):
    """The probe runs once per call — one left-anti join consumes its
    output, with nothing cached — and filter bytes stay executor-side: no
    broadcast subtree builds the filter table."""
    seen_a, _seen_b, fresh = keysets
    seen = _seen_df(spark, seen_a)
    cands = _cand_df(spark, np.concatenate([seen_a[:100], fresh[:100]]))
    filters = update_shard_cuckoo(None, seen, nbuckets=1 << 11)
    out = anti_join_cuckoo(cands, seen, filters, NSHARDS)
    lines = out._jdf.queryExecution().executedPlan().toString().splitlines()
    assert sum("FlatMapCoGroupsInPandas" in ln for ln in lines) == 1
    assert not any("InMemoryRelation" in ln or "InMemoryTableScan" in ln for ln in lines)

    def depth(ln):
        return len(ln) - len(ln.lstrip(" :+-"))

    for i, ln in enumerate(lines):  # no broadcast subtree builds the filter
        if "BroadcastExchange" in ln:
            sub = []
            for nxt in lines[i + 1 :]:
                if depth(nxt) <= depth(ln):
                    break
                sub.append(nxt)
            assert not any("FlatMapGroupsInPandas" in x or "table#" in x for x in sub)


def test_incremental_update_equals_scratch_results(spark, keysets):
    """update_shard_cuckoo(build(A), B) must yield the same anti-join results
    as build(A ∪ B) — layouts may differ (insert order), results may not."""
    seen_a, seen_b, fresh = keysets
    df_a = _seen_df(spark, seen_a)
    df_ab = _seen_df(spark, np.concatenate([seen_a, seen_b]))
    scratch = update_shard_cuckoo(None, df_ab, nbuckets=1 << 11)
    incr = update_shard_cuckoo(
        update_shard_cuckoo(None, df_a, nbuckets=1 << 11),
        _seen_df(spark, seen_b),
        nbuckets=1 << 11,
    )
    cands = _cand_df(spark, np.concatenate([seen_b[:200], fresh[:500]]))
    want = _sorted_rows(anti_join_exact(cands, df_ab))
    for filters in (scratch, incr):
        got = anti_join_cuckoo(cands, df_ab, filters, NSHARDS)
        assert _sorted_rows(got) == want


def test_delete_enables_recrawl(spark, keysets):
    """The cuckoo USP: delete B from the filter (and seen), and B's URLs
    come back as definitely-crawlable — no rebuild, no false negatives on
    the surviving A keys."""
    seen_a, seen_b, fresh = keysets
    df_ab = _seen_df(spark, np.concatenate([seen_a, seen_b]))
    df_a = _seen_df(spark, seen_a)
    filters = update_shard_cuckoo(None, df_ab, nbuckets=1 << 11)
    after_del = delete_from_shard_cuckoo(filters, _seen_df(spark, seen_b))
    cands = _cand_df(spark, np.concatenate([seen_a[:200], seen_b[:400], fresh[:200]]))
    got = anti_join_cuckoo(cands, df_a, after_del, NSHARDS)
    want = anti_join_exact(cands, df_a)
    assert _sorted_rows(got) == _sorted_rows(want)
    # and the deleted keys really are in the result (re-crawlable)
    got_keys = {r["url_hash"] for r in got.collect()}
    assert set(int(h) for h in seen_b[:400]) <= got_keys


def test_delete_never_inserted_raises(spark, keysets):
    seen_a, _seen_b, fresh = keysets
    filters = update_shard_cuckoo(None, _seen_df(spark, seen_a), nbuckets=1 << 11)
    bad = delete_from_shard_cuckoo(filters, _seen_df(spark, fresh[:50]))
    with pytest.raises(Exception, match="never-inserted"):
        bad.collect()


def test_duplicate_state_rows_raise(spark, keysets):
    """A filter table carrying >1 row per shard violates the state
    invariant; probing or updating only the first would turn seen keys into
    false negatives — both must raise instead (ADVICE r3)."""
    seen_a, seen_b, _fresh = keysets
    f1 = update_shard_cuckoo(None, _seen_df(spark, seen_a), nbuckets=1 << 11)
    doubled = f1.unionByName(f1)
    cands = _cand_df(spark, seen_b[:100])
    with pytest.raises(Exception, match="expected 1"):
        anti_join_cuckoo(cands, _seen_df(spark, seen_a), doubled, NSHARDS).collect()
    with pytest.raises(Exception, match="expected 1"):
        update_shard_cuckoo(doubled, _seen_df(spark, seen_b[:10]), nbuckets=1 << 11).collect()


def test_overflow_raises_not_drops(spark, keysets):
    """A too-small table must fail loudly: silently dropping a key would be
    a false negative — a seen URL re-enqueued, a parity break."""
    seen_a, _b, _f = keysets
    with pytest.raises(Exception, match="over capacity"):
        update_shard_cuckoo(None, _seen_df(spark, seen_a), nbuckets=8).collect()


@pytest.mark.parametrize("mode", ["exact", "cuckoo"])
def test_engine_expire_recrawl(spark, tmp_path, mode):
    """Re-crawl end-to-end: expire fetched URLs from seen and the next
    absorb re-enqueues and re-grants them. Exercises the deletion path the
    cuckoo backend exists for (exact mode takes its anti-join removal
    path, same result). A URL still queued in the frontier is not expired:
    forgetting it would let the next absorb enqueue it a second time.
    The checkpoints expiry creates are released by the next epoch's
    commit, like every other superseded state checkpoint."""
    from maga_spark.crawlspec import CrawlConfig
    from maga_spark.plans.frontier import CrawlEngine
    from maga_spark.sources.fixtures import generate

    d = str(tmp_path / f"fx_{mode}")
    generate(d, n_urls=400, n_seeds=10)
    cfg = CrawlConfig(epochs=3, global_k=200, nshards=8)
    eng = CrawlEngine(spark, d, cfg, seen_mode=mode)
    res1 = eng.run(collect_ordering=True)
    assert len(res1.ordering) > 20
    seen_before = eng.seen.count()

    # pick crawled URLs on distinct hosts (politeness grants a few per host)
    by_host: dict[str, str] = {}
    for _e, _r, url in res1.ordering:
        by_host.setdefault(url.split("/")[2], url)
        if len(by_host) == 4:
            break
    urls = sorted(by_host.values())
    # a URL still waiting in the frontier (seen, never granted)
    queued_url = eng.frontier.orderBy("url_hash").first()["url_canon"]
    batch = urls + [queued_url]

    def persisted() -> set:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    expired = eng.expire_urls(spark.createDataFrame([(u,) for u in batch], "url string"))
    assert expired == len(urls)  # the queued URL is not counted
    assert eng.seen.count() == seen_before - len(urls)
    # idempotent: expiring again is a no-op (keys no longer in seen)
    assert eng.expire_urls(spark.createDataFrame([(u,) for u in batch], "url string")) == 0
    created = persisted() - before
    assert created, "expiry checkpointed nothing"

    # feed the expired URLs back as the next discovery batch: every one
    # must re-enter the crawl — re-granted already, or re-enqueued and
    # waiting on priority/politeness like any first-time URL
    eng._pending = spark.createDataFrame([(u,) for u in batch], "url string")
    res2 = eng.run(epochs=1, collect_ordering=True)
    regranted = {u for (_e, _r, u) in res2.ordering}
    frontier = eng.frontier.select("url_hash", "url_canon").collect()
    queued = {r["url_canon"] for r in frontier}
    assert set(urls) <= regranted | queued, f"lost: {set(urls) - regranted - queued}"
    assert regranted & set(urls), "expiry re-granted nothing"
    assert len(frontier) == len({r["url_hash"] for r in frontier}), "duplicate frontier url_hash"
    assert eng.seen.count() == seen_before  # re-absorbed into seen
    assert not created & persisted(), f"expiry checkpoints leaked: {created & persisted()}"


@pytest.mark.parametrize("mode", ["bloom", "Cuckoo", ""])
def test_unknown_seen_mode_raises(spark, tmp_path, mode):
    """Only "exact" and "cuckoo" exist; any other string (a stale "bloom"
    caller included) must fail, not silently run another backend."""
    from maga_spark.plans.frontier import CrawlEngine

    with pytest.raises(ValueError, match="seen_mode"):
        CrawlEngine(spark, str(tmp_path), seen_mode=mode)


def test_update_validates_geometry(spark):
    """ADVICE r4: fresh shards index with & (nbuckets-1), so a non-pow2
    size would silently address a fraction of the table."""
    with pytest.raises(ValueError, match="power of two"):
        update_shard_cuckoo(None, None, nbuckets=1000)


def test_expire_reenqueue_identical_across_modes(spark, tmp_path):
    """VERDICT r4 #5: the re-crawl cycle (crawl → expire → re-discover)
    must be bit-identical across seen backends — same post-expiry
    re-grant ordering and same final per-shard seen digests in exact and
    cuckoo modes, even though each takes a different removal path
    (anti-join / per-key delete)."""
    from pyspark.sql import functions as F

    from maga_spark.crawlspec import CrawlConfig
    from maga_spark.plans.frontier import CrawlEngine
    from maga_spark.sources.fixtures import generate

    d = str(tmp_path / "fx")
    generate(d, n_urls=300, n_seeds=8)
    cfg = CrawlConfig(epochs=2, global_k=64, nshards=8)

    results = {}
    for mode in ("exact", "cuckoo"):
        eng = CrawlEngine(spark, d, cfg, seen_mode=mode)
        res1 = eng.run(collect_ordering=True)
        urls = sorted({u for (_e, _r, u) in res1.ordering})[:10]
        n = eng.expire_urls(spark.createDataFrame([(u,) for u in urls], "url string"))
        assert n == len(urls)
        eng._pending = spark.createDataFrame([(u,) for u in urls], "url string")
        res2 = eng.run(epochs=1, collect_ordering=True)
        digs = {
            int(r["shard"]): int(r["dig"])
            for r in eng.seen.groupBy("shard")
            .agg(
                F.xxhash64(
                    F.concat_ws(
                        ",",
                        F.transform(
                            F.array_sort(F.collect_list("url_hash")),
                            lambda x: x.cast("string"),
                        ),
                    )
                ).alias("dig")
            )
            .collect()
        }
        results[mode] = (res1.ordering, res2.ordering, digs)

    assert results["exact"] == results["cuckoo"]
    assert len(results["exact"][1]) > 0  # the re-crawl epoch granted rows
