"""Plan-hygiene gate over the driver contract: filters must reach the
parquet scans, queries must stay Python-free, and no query may plan a
cartesian product (the banded near-dup rewrites exist precisely to kill
those).

Round-5 shape (VERDICT r4 #1): the Python-free and no-cartesian gates
parameterize over the ENTIRE queries() registry, and the pushdown gate over
every registry row that names a ``pushdown`` column — a newly registered query
is gated automatically, with exemptions listed explicitly and justified
inline. An allowlist that must be extended by hand rotted twice (r3, r4);
an exemption list cannot rot silently because test_exemptions_are_live
fails when an entry stops being needed.
"""

from __future__ import annotations

import re
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
    """Every PYTHON_ALLOWED entry must still NEED its exemption (and still
    exist) — a stale exemption is how an allowlist rots in the other
    direction."""
    qs = entrymod.queries()
    for name in PYTHON_ALLOWED:
        assert name in qs, f"exempt query {name} no longer registered"
        assert "EvalPython" in _plan(spark, name), (
            f"{name} is now Python-free: drop it from PYTHON_ALLOWED"
        )
    for name in NO_CARTESIAN_EXEMPT:
        assert name in qs, f"exempt query {name} no longer registered"


def test_registry_contract():
    """A dropped or misspelt oracle must fail here rather than turn into a
    silent rows-only pass in tools/check_oracles.py; and, like the other
    exemption sets, every PLAN_EXEMPT entry must still be registered."""
    qs = entrymod.queries()
    assert set(qs) - set(entrymod.oracle_sql()) == {"crawl_epoch"}
    for name in PLAN_EXEMPT:
        assert name in qs, f"exempt query {name} no longer registered"


def test_spread_barrier_keeps_filters_above_spread(spark):
    """``_spread``'s nondeterministic CASE barrier keeps corpus_curate's
    language/quality Filter above the round-robin spread of the one-split
    documents scan: Filter, barrier Project, Exchange RoundRobin, then a
    scan with no data filters. This rests on Catalyst not folding a
    nondeterministic CASE (undocumented), so the order is pinned here."""
    lines = [ln.lstrip(" :+-") for ln in _plan(spark, "corpus_curate").splitlines()]
    barriers = [i for i, ln in enumerate(lines) if "monotonically_increasing_id()" in ln]
    assert barriers
    for i in barriers:
        assert lines[i - 1].startswith("Filter ") and "array_intersect" in lines[i - 1]
        assert lines[i].startswith("Project "), lines[i]
        assert re.search(r"THEN text#\d+ ELSE text#\d+ END AS text#", lines[i]), lines[i]
        assert lines[i + 1].startswith("Exchange RoundRobinPartitioning"), lines[i + 1]
        scan = lines[i + 2]
        assert scan.startswith("FileScan parquet") and "documents.parquet" in scan, scan
        assert "DataFilters: []" in scan, scan


@pytest.mark.parametrize(
    "name", ["dup_clusters", "image_keep_best", "pagerank", "rank_blend", "redirect_resolve"]
)
def test_iterative_builders_release_superseded_generations(spark, name):
    """The iterative builders checkpoint once per round; each superseded
    generation must be released inside the loop (plans/ckpt.release), so
    build plus ``.count()`` leaves at most the one block the returned plan
    reads. New ids are counted, not the registry's size: the ContextCleaner
    may free older blocks mid-run."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    df = entrymod.queries()[name](spark, SF)
    df.count()
    new = set(jsc.getPersistentRDDs().keySet()) - before
    assert len(new) <= 1, (name, sorted(new))


def test_anti_join_cuckoo_query_leaks_no_block(spark):
    """``anti_join_cuckoo`` persists its probe output only for a caller that
    passes ``temps`` to own it; the registered query passes none, so build
    plus ``.count()`` adds no persistent RDD."""
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet())
    df = entrymod.queries()["anti_join_cuckoo"](spark, SF)
    df.count()
    new = set(jsc.getPersistentRDDs().keySet()) - before
    assert not new, sorted(new)
