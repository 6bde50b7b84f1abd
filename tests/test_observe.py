"""RobustObservation: per-epoch metrics must survive AQE's runtime
empty-relation pruning (AQEPropagateEmptyRelation) WITHOUT excluding the
rule — the rule is what short-circuits the crawl plan's routinely empty
branches, and excluding it measured 10-25% slower at bench scale.

Three pruning regimes (operators/observe.py):
  1. node survives          → metrics come from the Observation (no re-agg);
  2. observed side empty    → node pruned, fallback re-agg returns zeros;
  3. sibling-empty inner join → node pruned even though the OBSERVED side
     had rows — the raw Observation.get crashes in toPyRow (the round-4
     failure) and a substitute-zeros fix would silently mis-count; the
     fallback re-agg returns the REAL counts.
Plus the engine-level regression: a crawl run driven well past frontier
drain keeps producing exact metrics through all-empty epochs, matching the
sequential simulator row for row.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from maga_spark.operators.observe import RobustObservation, obs_name


def test_observation_survives_normal_plan(spark):
    df = spark.range(10).withColumn("v", F.col("id") * 2)
    o = RobustObservation(obs_name("t_norm"), df, F.count(F.lit(1)).alias("n"))
    o.df.localCheckpoint(True)
    assert o.get == {"n": 10}


def test_fallback_on_self_empty_pruning(spark):
    df = spark.range(10).filter(F.col("id") > 100)
    o = RobustObservation(
        obs_name("t_selfempty"),
        df,
        F.coalesce(F.sum("id"), F.lit(0)).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    # inner join forces AQE to propagate the runtime-empty stage through
    # the CollectMetrics node
    o.df.join(spark.range(5), "id").localCheckpoint(True)
    assert o.get == {"s": 0, "n": 0}


def test_fallback_on_sibling_empty_pruning(spark):
    """The dangerous case: the observed side has 10 real rows, but the
    OTHER side of the inner join turns out empty at runtime, so AQE prunes
    the whole join — including the CollectMetrics over the non-empty side.
    Zeros would be wrong here; the fallback must recount the 10 rows."""
    empty = spark.range(10).filter(F.col("id") > 100).select(F.col("id").alias("k"))
    df = spark.range(10).select(F.col("id").alias("k"))
    o = RobustObservation(obs_name("t_sibling"), df, F.count(F.lit(1)).alias("n"))
    o.df.join(empty, "k", "inner").localCheckpoint(True)
    assert o.get == {"n": 10}


def test_engine_metrics_through_drained_frontier(spark, tmp_path):
    """Run the crawl engine well past the point where the frontier drains:
    trailing epochs schedule nothing, every stage is runtime-empty, and the
    epoch metrics must (a) not crash, (b) report exact zeros, and (c) match
    the sequential simulator epoch by epoch — all WITHOUT the engine
    disabling any AQE rule (the session conf must be untouched afterwards)."""
    from maga_spark.crawlspec import CrawlConfig
    from maga_spark.plans.frontier import CrawlEngine
    from maga_spark.sim import run as sim_run
    from maga_spark.sources.fixtures import generate

    d = str(tmp_path / "fix")
    generate(d, n_urls=60, n_seeds=4)
    cfg = CrawlConfig(epochs=14, global_k=40, nshards=4)

    golden = sim_run(d, cfg)
    eng = CrawlEngine(spark, d, cfg)
    res = eng.run(collect_ordering=True)

    assert res.metrics == golden.metrics
    assert res.ordering == golden.ordering
    # the run genuinely drained: trailing epochs are all-zero
    tail = res.metrics[-1]
    assert tail["scheduled"] == 0 and tail["enqueued"] == 0 and tail["fetched"] == 0
    assert any(m["scheduled"] > 0 for m in res.metrics)
    # and the engine left AQE fully enabled the whole time
    assert (
        spark.conf.get("spark.sql.adaptive.optimizer.excludedRules", None) in (None, "")
    )
