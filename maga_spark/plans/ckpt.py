"""Stats-safe lineage truncation for iterative plans.

``Dataset.localCheckpoint`` truncates LINEAGE but deliberately carries the
origin plan's ``Statistics`` onto the resulting ``LogicalRDD`` (so join
planning after a checkpoint still sees pre-checkpoint size estimates).  For
a one-shot checkpoint that is the right default — but in an ITERATED loop
whose next round's plan multiplies the checkpointed stats again (Catalyst's
size-only estimator takes the PRODUCT of join children), the carried
``sizeInBytes`` compounds round over round.  When the loop's state enters
the next plan more than once (the crawl frontier appears both directly and
inside the granted subtree), the BigInt's digit count grows geometrically:
measured on the drained-frontier test, epoch 10's frontier stats were
``9.5E+3,754,906`` bytes — a 3.7-million-digit BigInt — and three epochs
later the driver OOMed inside ``SizeInBytesOnlyStatsPlanVisitor`` just
COMPUTING the estimate.  Any long-running crawl (the streaming loop's whole
point) would die the same way, at any data scale, drained or not.

``local_ckpt`` is the loop-safe variant: an eager ``localCheckpoint`` whose
result is re-wrapped over the SAME persisted RDD without the origin stats,
so every round's estimates are products over constant-size leaves instead
of last round's compounded number.  Join quality is unaffected in this
engine: the deliberate broadcasts are explicit ``F.broadcast`` hints, and
runtime join re-planning (AQE) uses materialized stage sizes, not logical
estimates — which were already astronomically wrong one multiplication in.

The rewrap uses ``SparkSession.internalCreateDataFrame`` (``private[sql]``,
hence reachable through py4j) over the checkpoint's own ``LogicalRDD.rdd``;
if any of that internal surface moves in a future Spark, the helper falls
back to the plain checkpoint — correctness never depends on the rewrap,
only long-loop planning cost does (tests/test_ckpt.py pins the behavior).

``release`` frees a superseded generation: a checkpoint's blocks are an RDD
persisted behind its ``LogicalRDD``, which ``DataFrame.unpersist()`` (a cache
manager call) skips, so every loop that supersedes one (the crawl engine, the
iterative graph and redirect operators) frees it through this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _ckpt_rdd(df: DataFrame):
    """The persisted RDD behind a local checkpoint (its analyzed plan is a
    ``LogicalRDD`` whose payload IS the checkpoint), or None for any other
    frame."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            return plan.rdd()
    except Exception:
        pass
    return None


def local_ckpt(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` WITHOUT origin-stats carry-over.

    Returns a DataFrame over the same persisted checkpoint blocks (so
    ``release`` frees them through the identical RDD), whose logical
    stats are reset to the constant per-leaf default."""
    ck = df.localCheckpoint(eager=True)
    rdd = _ckpt_rdd(ck)
    if rdd is None:
        return ck
    try:
        spark = df.sparkSession
        fresh = spark._jsparkSession.internalCreateDataFrame(rdd, ck._jdf.schema(), False)
        return DataFrame(fresh, spark)
    except Exception:
        return ck


def release(*dfs: DataFrame | None) -> None:
    """Free each frame's blocks once nothing reads it again (a checkpoint
    cannot recompute): a local checkpoint's RDD directly, any other frame
    through ``unpersist()``; ``None`` is skipped. A checkpoint is NOT also
    ``unpersist()``ed: with ``cascade=false``, ``CacheManager.uncacheQuery``
    re-plans every cached frame whose plan contains it (an epoch's temps)."""
    for df in dfs:
        if df is None:
            continue
        rdd = _ckpt_rdd(df)
        if rdd is not None:
            rdd.unpersist(False)
        else:
            df.unpersist()
