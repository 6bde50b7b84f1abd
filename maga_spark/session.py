"""Deterministic SparkSession factory.

Pins every conf that affects reproducibility (SURVEY.md §7.0/§7.6): fixed
shuffle partitions, UTC session timezone, AQE + Arrow on. Local mode is the
test harness; the same confs apply unchanged under ``spark-submit`` on a real
cluster (partition counts are taken from ``spark.sql.shuffle.partitions`` so a
cluster deployment only overrides that one knob).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# every conf that affects result reproducibility or the engine's measured
# plan shape, shared by local sessions and spark-submit deployments
PINNED_CONF = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
}


def get_spark(
    app_name: str = "maga_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the deterministic session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract);
    ``shuffle_partitions`` defaults to the core count — never Spark's 200.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    cores = master[master.index("[") + 1 : -1] if "[" in master else DEFAULT_CPUS
    n_shuffle = shuffle_partitions or (32 if cores == "*" else max(8, int(cores)))

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        # NOTE: spark.driver.memory set here only takes effect under
        # spark-submit (cluster deploy). In plain-python client mode the
        # driver JVM is already running before this conf applies, so for
        # `python bench.py`-style runs export PYSPARK_SUBMIT_ARGS
        # ("--driver-memory 8g pyspark-shell") or use spark-submit as
        # tools/bench_scaling.py does with --driver-memory.
        .config("spark.driver.memory", os.environ.get("MAGA_SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    for k, v in PINNED_CONF.items():
        b = b.config(k, v)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def get_submit_spark(app_name: str = "maga_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Session factory for ``spark-submit`` drivers (tools/submit_crawl.py):
    applies the same PINNED_CONF but sets NO master and no driver memory —
    those belong to the ``spark-submit --master/--driver-memory`` flags of
    the deployment (BASELINE.json: "run via spark-submit --py-files on a
    multi-executor cluster"). ``shuffle_partitions`` should be sized to the
    cluster (executors × cores is a sane floor)."""
    b = SparkSession.builder.appName(app_name)
    if shuffle_partitions is not None:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in PINNED_CONF.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def spread_partitions(df: DataFrame) -> DataFrame:
    """Round-robin repartition to the session's default parallelism when
    the input plans FEWER partitions (optimization guide §2.5 "input
    skew": a single-file parquet with ONE row group scans as one split
    however large ``files.minPartitionNum`` is — a row group is the atomic
    split unit), so an expensive per-row stage off such a scan would run
    on 1-2 cores with the rest idle.

    Scale-adaptive by construction: the target comes from
    ``sparkContext.defaultParallelism`` (cluster = executors × cores) and
    ``df`` itself is returned unchanged when it already plans at least
    that many splits — on a real multi-file input this is a no-op, so it
    can never coalesce a properly parallel input. Values are unaffected."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
