"""THE headline test: Spark engine ≡ sequential reference simulator
(BASELINE.json north_rule — crawl ordering exact-match, URL-seen set
bit-for-bit, under the same seed list + politeness budget)."""

from __future__ import annotations

import pytest

from maga_spark.crawlspec import CrawlConfig
from maga_spark.plans.frontier import CrawlEngine
from maga_spark.sim import run as sim_run
from maga_spark.sources.fixtures import generate

CFG = CrawlConfig(epochs=6, global_k=40, nshards=8)


@pytest.fixture(scope="module")
def fixtures_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("crawl_fixtures"))
    generate(d, n_urls=1000, n_seeds=16)
    return d


@pytest.fixture(scope="module")
def golden(fixtures_dir):
    return sim_run(fixtures_dir, CFG)


def _run_engine(spark, fixtures_dir, seen_mode="exact"):
    eng = CrawlEngine(spark, fixtures_dir, CFG, seen_mode=seen_mode)
    res = eng.run(collect_ordering=True)
    return eng, res


@pytest.fixture(scope="module")
def exact_run(spark, fixtures_dir):
    return _run_engine(spark, fixtures_dir)


def test_ordering_exact_match(exact_run, golden):
    _eng, res = exact_run
    assert len(res.ordering) == len(golden.ordering)
    for got, want in zip(res.ordering, golden.ordering):
        assert got == want
    # sanity: the run actually crawled and the gates actually fired
    assert len(res.ordering) > 100
    assert any(m["blocked_robots"] > 0 for m in golden.metrics)
    assert any(m["deferred_politeness"] > 0 for m in golden.metrics)


def test_seen_set_bit_for_bit(exact_run, golden):
    eng, _res = exact_run
    got = {r["shard"]: list(r["hashes"]) for r in eng.seen_per_shard()}
    assert got == golden.seen


def test_metrics_match(exact_run, golden):
    _eng, res = exact_run
    assert res.metrics == golden.metrics


def test_cuckoo_path_identical(spark, fixtures_dir, golden):
    """Cuckoo-prefiltered seen membership must be bit-exact (no false
    negatives ⇒ same final set and ordering — SURVEY.md §7.4): the filter
    state grows incrementally across epochs and an exact residual
    anti-join corrects its false positives (operators/cuckoo.py)."""
    eng, res = _run_engine(spark, fixtures_dir, seen_mode="cuckoo")
    assert res.ordering == golden.ordering
    got = {r["shard"]: list(r["hashes"]) for r in eng.seen_per_shard()}
    assert got == golden.seen


def test_parallelism_independence(fixtures_dir, golden, tmp_path):
    """Same output at a different parallelism level (local[2], shuffle=5) —
    the sandbox proxy for order-independence across cluster sizes
    (SURVEY.md §7.6e). MUST run in a separate process: getOrCreate() inside
    this JVM would silently reuse the existing local[4] context."""
    import json
    import subprocess
    import sys
    from pathlib import Path

    repo = str(Path(__file__).resolve().parent.parent)
    script = f"""
import json, sys
sys.path.insert(0, {repo!r})
from maga_spark.session import get_spark
from maga_spark.crawlspec import CrawlConfig
from maga_spark.plans.frontier import CrawlEngine
spark = get_spark(app_name="par2", master="local[2]", shuffle_partitions=5)
cfg = CrawlConfig(epochs={CFG.epochs}, global_k={CFG.global_k}, nshards={CFG.nshards})
res = CrawlEngine(spark, {str(fixtures_dir)!r}, cfg).run(collect_ordering=True)
out = {{"ordering": [list(t) for t in res.ordering], "metrics": res.metrics}}
print("RESULT:" + json.dumps(out))
spark.stop()
"""
    p = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=900
    )
    payload = [ln for ln in p.stdout.splitlines() if ln.startswith("RESULT:")]
    assert payload, f"no result from subprocess: {p.stdout[-500:]}\n{p.stderr[-1000:]}"
    got = json.loads(payload[0][len("RESULT:"):])
    assert [tuple(t) for t in got["ordering"]] == golden.ordering
    assert got["metrics"] == golden.metrics


def test_adaptive_host_joins_no_forced_broadcast(spark, fixtures_dir, golden):
    """VERDICT r3 #1: the host-keyed state joins (politeness / robots_agg /
    host_state) carry NO broadcast hint — AQE decides from runtime sizes;
    results stay bit-exact."""
    eng = CrawlEngine(spark, fixtures_dir, CFG)
    # mechanical hint check: the absorb plan (seen anti-join + robots_agg
    # host join) holds no deliberate broadcast, so any hint is a host hint
    probe = CrawlEngine(spark, fixtures_dir, CFG)
    seeds = spark.read.parquet(f"{fixtures_dir}/seeds.parquet").select("url")
    plan = probe._absorb(seeds, 0).df._jdf.queryExecution().analyzed().toString()
    for t in probe._epoch_temps:
        t.unpersist()
    assert "ResolvedHint" not in plan

    res = eng.run(collect_ordering=True)
    assert res.ordering == golden.ordering
    assert res.metrics == golden.metrics
    got = {r["shard"]: list(r["hashes"]) for r in eng.seen_per_shard()}
    assert got == golden.seen
