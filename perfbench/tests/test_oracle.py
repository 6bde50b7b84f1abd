"""Checker tests: the re-crawl reference agrees with ``sim.run``, and a
corrupted crawl or query result is counted as a failed operation.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from maga_spark.crawlspec import CrawlConfig  # noqa: E402
from maga_spark.sources.fixtures import generate  # noqa: E402

from oracle import crawl_failures, ordering_digest, query_failures, reference_crawl, seen_digest  # noqa: E402

CFG = CrawlConfig(epochs=4, global_k=48, nshards=8)


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("fx"))
    generate(d, n_urls=1500, n_seeds=24)
    return d


@pytest.fixture(scope="module")
def sim_result(fixture_dir):
    from maga_spark import sim

    return sim.run(fixture_dir, CFG)


def test_reference_without_expiry_is_sim(fixture_dir, sim_result):
    ref = reference_crawl(fixture_dir, CFG, seed=1)
    assert ref["epochs"] == sim_result.metrics
    assert ref["ordering0"] == ordering_digest(o for o in sim_result.ordering if o[0] == 0)
    assert ref["seen"] == seen_digest(sim_result.seen)
    assert ref["expiry"] == []


def test_reference_expires_only_seen_keys(fixture_dir, sim_result):
    ref = reference_crawl(fixture_dir, CFG, seed=1, expire_from=1, expire_batch=5)
    assert [b["expired"] for b in ref["expiry"]] == [5] * (CFG.epochs - 1)
    assert all(len(b["urls"]) == 10 for b in ref["expiry"])
    # expiry changes the crawl: re-discovered URLs are enqueued again
    assert ref["seen"] != seen_digest(sim_result.seen)


def _as_engine_result(ref: dict, shards: dict) -> dict:
    return {
        "epochs": copy.deepcopy(ref["epochs"]),
        "ordering0": ref["ordering0"],
        "seen": seen_digest(shards),
        "expired": [b["expired"] for b in ref["expiry"]],
    }


def test_checker_counts_corrupted_crawl_results(fixture_dir, sim_result):
    shards = sim_result.seen
    ref = reference_crawl(fixture_dir, CFG, seed=1)
    assert crawl_failures(ref, _as_engine_result(ref, shards)) == []

    dropped = copy.deepcopy(shards)
    dropped[min(dropped)].pop()  # one seen key lost
    got = _as_engine_result(ref, dropped)
    assert len(crawl_failures(ref, got)) == 1

    got = _as_engine_result(ref, shards)
    got["epochs"][2]["fetched"] += 1
    got["ordering0"] = "0" * 64
    assert len(crawl_failures(ref, got)) == 2

    rec = reference_crawl(fixture_dir, CFG, seed=1, expire_from=1, expire_batch=5)
    got = {"epochs": rec["epochs"], "ordering0": rec["ordering0"], "seen": rec["seen"], "expired": [5, 4, 5]}
    assert crawl_failures(rec, got) == ["expire after 2: returned 4 != 5"]


def test_checker_counts_corrupted_query_results():
    ref = {"rows": 20, "digest": "123"}
    assert query_failures(ref, 20, {"rows": 20, "digest": "123"}) == []
    assert query_failures(ref, 20, None) == []
    assert query_failures(ref, 19, None) == ["rows 19 != 20"]
    assert len(query_failures(ref, 20, {"rows": 20, "digest": "124"})) == 1
    assert query_failures(None, 20, None) == ["no stored reference"]
