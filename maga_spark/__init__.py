"""maga_spark — a from-scratch PySpark-native crawl-frontier analytics engine.

Reimplements the semantics of the reference DHT crawler (supmind/maga,
surveyed in SURVEY.md) as deterministic DataFrame epochs over tables of
image+caption payloads: URL canonicalization, a hash-sharded URL-seen set
(cuckoo-filter prefilter + exact anti-join), XOR-distance priority top-K, per-host
token-bucket politeness, robots gating, vectorized payload decode/validate,
and snapshot-committed checkpoint/resume — plus the training-data operators a
100 TB pipeline needs (dedup, similarity search, text analysis, image
curation).

Everything here is public-API Spark: DataFrame/SQL expressions compiled by
Catalyst, Arrow-vectorized pandas UDFs on the slow path only.
"""

__version__ = "0.1.0"

from maga_spark.session import get_spark  # noqa: F401
