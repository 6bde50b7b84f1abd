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
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def local_ckpt(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint`` WITHOUT origin-stats carry-over.

    Returns a DataFrame over the same persisted checkpoint blocks (so
    callers tracking the internal RDD for deterministic unpersist — see
    ``frontier._ckpt_rdd`` — observe the identical RDD id), whose logical
    stats are reset to the constant per-leaf default."""
    ck = df.localCheckpoint(eager=True)
    try:
        spark = df.sparkSession
        plan = ck._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() != "LogicalRDD":
            return ck
        fresh = spark._jsparkSession.internalCreateDataFrame(
            plan.rdd(), plan.schema(), False
        )
        return DataFrame(fresh, spark)
    except Exception:
        return ck
