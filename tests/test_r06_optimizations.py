"""Round-6 optimization internals: every behavior-preserving rewrite this
round made to an operator's internals is pinned here as an equivalence (or
invariant) test, so a future refactor cannot silently change semantics
while chasing the same plan shapes.

Covered:
  * containment_pairs' explode_outer rewrite — value-identical to the
    plain-explode contract on adversarial inputs (NULL text, sub-k text,
    empty corpus) where the two explode forms could in principle diverge.
  * CrawlEngine state-partition bounding — after any number of epochs, no
    state table's partition count exceeds the session parallelism (the
    round-6 coalesce-at-checkpoint invariant; pre-fix the seen table grew
    +delta partitions per epoch without bound).
"""

from __future__ import annotations

from pyspark.sql import functions as F  # noqa: F401 (spark fixture types)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_containment_pairs_explode_outer_edge_inputs(spark):
    """NULL text, sub-k text, and empty-fingerprint docs must neither
    produce rows nor crash — the explode_outer + not-null form drops them
    exactly like plain explode dropped the empty arrays."""
    from maga_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, None),  # NULL text -> fp = [], contributes nothing
            (4, "ab"),  # shorter than k=5 -> fp = []
            (5, ""),  # empty -> fp = []
        ],
        "doc_id long, text string",
    )
    out = containment_pairs(docs, min_shared=2, min_containment=0.5)
    rows = out.collect()
    ids = {r["u"] for r in rows} | {r["v"] for r in rows}
    # only the genuine duplicate pair surfaces, in both directions
    assert ids == {1, 2}
    assert {(r["u"], r["v"]) for r in rows} == {(1, 2), (2, 1)}
    for r in rows:
        assert r["containment"] == 1.0
    # degenerate corpus: all-empty fingerprints -> zero rows, no error
    empty = spark.createDataFrame([(1, None), (2, "x")], "doc_id long, text string")
    assert containment_pairs(empty).count() == 0


def test_containment_pairs_cap_still_value_identical(spark):
    """max_doc_freq plumbs through the rewritten explode path unchanged:
    capped and uncapped agree when no fingerprint is corpus-hot."""
    from maga_spark.operators.dedup import containment_pairs

    docs = spark.createDataFrame(
        [(i, f"shared prefix text block number {i % 3} with tail {i}") for i in range(12)],
        "doc_id long, text string",
    )
    a = _rows(containment_pairs(docs, min_shared=1, min_containment=0.1))
    b = _rows(
        containment_pairs(docs, min_shared=1, min_containment=0.1, max_doc_freq=10_000)
    )
    assert a == b and len(a) > 0


def test_engine_state_partitions_stay_bounded(spark, tmp_path):
    """Round-6 invariant: state tables are coalesced to the session
    parallelism at every checkpoint, so partition counts stay FLAT across
    epochs instead of accreting +delta per epoch (the pre-fix behavior
    that scheduled 192-task waves by epoch 6 at bench scale)."""
    from maga_spark.crawlspec import CrawlConfig
    from maga_spark.plans.frontier import CrawlEngine
    from maga_spark.sources.fixtures import generate

    fx = str(tmp_path / "fx")
    generate(fx, n_urls=400, n_seeds=16, n_images=32, rate_boost=4)
    cfg = CrawlConfig(epochs=4, global_k=50, nshards=4)
    eng = CrawlEngine(spark, fx, cfg, seen_mode="exact")
    cap = spark.sparkContext.defaultParallelism
    for _ in range(4):
        eng.run(epochs=1, collect_ordering=False)
        for name in ("seen", "frontier", "host_state"):
            n = getattr(eng, name).rdd.getNumPartitions()
            assert n <= cap, (name, n, cap)
