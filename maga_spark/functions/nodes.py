"""O-13: compact-node parse + explode (maga/utils.py:18-27).

The reference splits a ``nodes`` blob into 26-byte records — 20 B node id +
4 B IPv4 + 2 B big-endian port — and silently rejects blobs whose length is
not a multiple of 26 (maga/utils.py:20-21).

``split_nodes_sql`` does it in pure built-in expressions
(``transform(sequence(...))`` over binary ``substring``), fully codegen'd. It
returns one column ``nodes_arr: array<struct<nid:binary, ip:string,
port:int>>`` — callers ``F.explode`` it (generator → explode, SURVEY.md O-57).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from maga_spark.functions.scalar import be_u16, inet_ntoa

NODE_STRUCT = T.StructType(
    [
        T.StructField("nid", T.BinaryType()),
        T.StructField("ip", T.StringType()),
        T.StructField("port", T.IntegerType()),
    ]
)


def split_nodes_sql(blob: Column) -> Column:
    """26-byte-stride explode as a pure SQL expression.

    ``transform(sequence(0, len/26 - 1), i -> struct(substring(...)))``;
    blobs with ``length % 26 != 0`` yield an empty array (the reference's
    silent reject, maga/utils.py:20-21)."""
    n_rec = (F.length(blob) / 26).cast("int")
    idx = F.sequence(F.lit(0), n_rec - 1)
    rec = lambda i: F.struct(  # noqa: E731
        F.substring(blob, i * 26 + 1, 20).alias("nid"),
        inet_ntoa(F.substring(blob, i * 26 + 21, 4)).alias("ip"),
        be_u16(F.substring(blob, i * 26 + 25, 2)).alias("port"),
    )
    arr = F.transform(idx, rec)
    empty = F.array().cast(T.ArrayType(NODE_STRUCT))
    return (
        F.when((F.length(blob) % 26 == 0) & (F.length(blob) > 0), arr)
        .otherwise(empty)
        .alias("nodes_arr")
    )

