"""Plan-hygiene gate over the driver contract: filters must reach the
parquet scans, queries must stay Python-free, no query may plan a
cartesian product (the banded near-dup rewrites exist precisely to kill
those), and no query may leave a persisted block behind once counted.

The Python-free, no-cartesian and leak gates parameterize over the ENTIRE
queries() registry (the round-5 shape, VERDICT r4 #1), and the pushdown gate over
every registry row that names a ``pushdown`` column — a newly registered query
is gated automatically, with exemptions listed explicitly and justified
inline. An allowlist that must be extended by hand rotted twice (r3, r4);
an exemption list cannot rot silently because test_exemptions_are_live
fails when an entry stops being needed.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entrymod  # noqa: E402

SF = "/root/testdata/sf0.001"

# Queries whose plans legitimately contain a Python evaluation node —
# each one an Arrow-vectorized UDF documented as irreducible.
PYTHON_ALLOWED = {
    # bencode is a recursive variable-length wire format: no Spark
    # expression can parse it, so decode is an Arrow batch UDF by design
    # (functions/bencode.py; SURVEY §4.3 O-2)
    "krpc_roundtrip",
}

# Engine-loop artifact (multi-epoch stateful run, not a single plan).
PLAN_EXEMPT = {"crawl_epoch"}

# every query must be free of cartesian products
NO_CARTESIAN_EXEMPT = {"robots_gate"}  # 1-row broadcast crossJoin by design

# Queries whose build plus count leaves ONE persistent RDD: the block the
# returned plan reads, which no owner could free before the caller is done.
_FINAL_GENERATION = "the final loop generation the returned plan reads"
LEAK_EXEMPT = {
    "corpus_curate": "curate_corpus persists its deduped intermediate for "
    "the band self-join's two sides and the final anti-join",
    "image_curate": "curate_images persists its caption-deduped images for "
    "the phash band self-join and the drop rejoin",
    "simhash_near_dups": "simhash_near_dups persists the signatures both "
    "sides of the band self-join read",
    "semantic_dedup": "the query persists its 401 filtered embeddings, read "
    "by the pivot collect and both self-join branches",
    "dup_clusters": _FINAL_GENERATION,
    "image_keep_best": _FINAL_GENERATION,
    "pagerank": _FINAL_GENERATION,
    "rank_blend": _FINAL_GENERATION,
    "redirect_resolve": _FINAL_GENERATION,
}

ALL_QUERIES = sorted(set(entrymod.queries()) - PLAN_EXEMPT)

_plan_cache: dict[str, str] = {}


def _plan(spark, name):
    if name not in _plan_cache:
        df = entrymod.queries()[name](spark, SF)
        _plan_cache[name] = df._jdf.queryExecution().executedPlan().toString()
    return _plan_cache[name]


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_no_python_in_plan(spark, name):
    if name in PYTHON_ALLOWED:
        pytest.skip("Arrow UDF documented as irreducible")
    assert "EvalPython" not in _plan(spark, name), name


@pytest.mark.parametrize(
    "name", sorted(n for n, q in entrymod.REGISTRY.items() if q.pushdown)
)
def test_filter_pushed_to_scan(spark, name):
    """Queries with a doc_id/vec_id/orderkey cap must push it to the scan;
    the column is the registry row's ``pushdown`` field."""
    plan = _plan(spark, name)
    key = entrymod.REGISTRY[name].pushdown
    assert "PushedFilters: [" in plan, name
    pushed = plan.split("PushedFilters: [", 1)[1][:200]
    assert key in pushed, (name, pushed)


def test_no_cartesian_products(spark):
    for name in ALL_QUERIES:
        if name in NO_CARTESIAN_EXEMPT:
            continue
        assert "CartesianProduct" not in _plan(spark, name), name


def test_exemptions_are_live(spark):
    """Every PYTHON_ALLOWED and LEAK_EXEMPT entry must still NEED its
    exemption (and still exist) — a stale exemption is how an allowlist rots in the other
    direction."""
    qs = entrymod.queries()
    for name in PYTHON_ALLOWED:
        assert name in qs, f"exempt query {name} no longer registered"
        assert "EvalPython" in _plan(spark, name), (
            f"{name} is now Python-free: drop it from PYTHON_ALLOWED"
        )
    for name in NO_CARTESIAN_EXEMPT:
        assert name in qs, f"exempt query {name} no longer registered"
    for name in LEAK_EXEMPT:
        assert name in qs, f"exempt query {name} no longer registered"
        assert _leaked(spark, name) > 0, (
            f"{name} now leaks no block: drop it from LEAK_EXEMPT"
        )


def test_registry_contract():
    """A dropped or misspelt oracle must fail here rather than turn into a
    silent rows-only pass in tools/check_oracles.py; and, like the other
    exemption sets, every PLAN_EXEMPT entry must still be registered."""
    qs = entrymod.queries()
    assert set(qs) - set(entrymod.oracle_sql()) == {"crawl_epoch"}
    for name in PLAN_EXEMPT:
        assert name in qs, f"exempt query {name} no longer registered"


_leak_cache: dict[str, int] = {}


def _leaked(spark, name):
    """New persistent RDD ids after build plus ``.count()``. New ids are
    counted, not the registry's size: the ContextCleaner may free older
    blocks mid-run. The cache is cleared first, or a ``persist()`` that an
    earlier build of the same query already materialized (semantic_dedup
    runs a job at build time) would add no new id."""
    if name not in _leak_cache:
        spark.catalog.clearCache()
        jsc = spark.sparkContext._jsc
        before = set(jsc.getPersistentRDDs().keySet())
        entrymod.queries()[name](spark, SF).count()
        _leak_cache[name] = len(set(jsc.getPersistentRDDs().keySet()) - before)
    return _leak_cache[name]


@pytest.mark.parametrize("name", ALL_QUERIES)
def test_iterative_builders_release_superseded_generations(spark, name):
    """Registry-wide leak gate, grown from the iterative builders' one: a
    query owns what it persists, so build plus ``.count()`` leaves no new
    block, or the one block a ``LEAK_EXEMPT`` entry names. The iterative
    builders checkpoint once per round and release each superseded
    generation inside the loop (plans/ckpt.release)."""
    assert _leaked(spark, name) <= (1 if name in LEAK_EXEMPT else 0), name
