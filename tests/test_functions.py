"""Scalar core (SURVEY.md §2.2/§2.7) — byte-exact fixtures."""

from __future__ import annotations

import struct

from pyspark.sql import functions as F
from pyspark.sql import types as T

from maga_spark import urlnorm
from maga_spark.functions import (
    be_u16,
    canonical_hex,
    coalesce_implied_port,
    inet_ntoa,
    token_of,
    url_canonicalize,
    xor_dist,
)
from maga_spark.functions.nodes import split_nodes_sql
from maga_spark.xxh64 import xxh64, xxh64_long, xxh64_str

URLS = [
    "http://H3.TEST/p/7/",
    "http://h3.test/p/7",
    "https://a.Test:443/x?q=1#frag",
    "http://b.test:8080//weird///",
    "HTTP://c.test",
    "not a url",
    "ftp://f.test/file",
]


def test_xxh64_matches_spark(spark):
    """Our pure-Python XXH64 spec == Spark's built-in xxhash64 (strings and
    longs) — the property that lets the plain-Python simulator share identity
    with the engine."""
    strs = ["", "a", "hello world", "http://h1.test/p/42", "x" * 100, "ünïcode ✓"]
    df = spark.createDataFrame([(s,) for s in strs], "s string")
    got = {r["s"]: r["h"] for r in df.select("s", F.xxhash64("s").alias("h")).collect()}
    for s in strs:
        assert got[s] == xxh64_str(s), s

    longs = [0, 1, -1, 42, 2**62, -(2**62)]
    df2 = spark.createDataFrame([(v,) for v in longs], "v long")
    got2 = {r["v"]: r["h"] for r in df2.select("v", F.xxhash64("v").alias("h")).collect()}
    for v in longs:
        assert got2[v] == xxh64_long(v), v


def test_xxh64_reference_vectors():
    # published XXH64 test vectors (seed 0)
    assert xxh64(b"", 0) == 0xEF46DB3751D8E999
    assert xxh64(b"a", 0) == 0xD24EC4F1A98C6E5B
    assert xxh64(b"abc", 0) == 0x44BC2CF5AD770999


def test_url_canonicalize_spark_vs_python(spark):
    df = spark.createDataFrame([(u,) for u in URLS], "url string")
    got = df.select("url", url_canonicalize("url").alias("c")).collect()
    for r in got:
        assert r["c"] == urlnorm.canonicalize(r["url"]), r["url"]


def test_url_canonicalize_semantics(spark):
    df = spark.createDataFrame([(u,) for u in URLS], "url string")
    c = {r["url"]: r["c"] for r in df.select("url", url_canonicalize("url").alias("c")).collect()}
    assert c["http://H3.TEST/p/7/"] == "http://h3.test/p/7"
    assert c["http://h3.test/p/7"] == "http://h3.test/p/7"  # idempotent-equal
    assert c["https://a.Test:443/x?q=1#frag"] == "https://a.test/x?q=1"
    assert c["http://b.test:8080//weird///"] == "http://b.test:8080//weird"
    assert c["HTTP://c.test"] == "http://c.test"
    assert c["not a url"] is None
    assert c["ftp://f.test/file"] == "ftp://f.test/file"
    # idempotence: canonicalize(canonicalize(x)) == canonicalize(x)
    canon = [v for v in c.values() if v is not None]
    df2 = spark.createDataFrame([(u,) for u in canon], "url string")
    again = {r["url"]: r["c"] for r in df2.select("url", url_canonicalize("url").alias("c")).collect()}
    for u in canon:
        assert again[u] == u


def test_hex_roundtrip(spark):
    ih = bytes(range(20))
    df = spark.createDataFrame([(ih,)], T.StructType([T.StructField("b", T.BinaryType())]))
    r = df.select(
        canonical_hex("b").alias("hex"), F.unhex(canonical_hex("b")).alias("back")
    ).collect()[0]
    assert r["hex"] == ih.hex().upper()
    assert bytes(r["back"]) == ih
    # token = first 2 chars of canonical key (maga/crawler.py:135)
    t = df.select(token_of(canonical_hex("b")).alias("t")).collect()[0]["t"]
    assert t == "00"


def test_implied_port(spark):
    df = spark.createDataFrame(
        [(0, 6881, 999), (1, 6881, 999), (None, 6881, 999)],
        "implied int, src int, port int",
    )
    got = [
        r["p"]
        for r in df.select(
            coalesce_implied_port(F.col("implied"), F.col("src"), F.col("port")).alias("p")
        ).collect()
    ]
    assert got == [999, 6881, 999]


def _pack_nodes(recs):
    return b"".join(
        nid + bytes(int(x) for x in ip.split(".")) + struct.pack("!H", port)
        for nid, ip, port in recs
    )


def test_split_nodes_both_impls(spark):
    recs = [
        (bytes(range(20)), "1.2.3.4", 6881),
        (bytes(range(1, 21)), "255.0.128.7", 80),
        (bytes(20), "0.0.0.0", 65535),
    ]
    blob = _pack_nodes(recs)
    bad = blob + b"x"  # len % 26 != 0 → reject (maga/utils.py:20-21)
    df = spark.createDataFrame(
        [(blob,), (bad,), (b"",)], T.StructType([T.StructField("blob", T.BinaryType())])
    )
    rows = df.select(F.col("blob"), split_nodes_sql(F.col("blob")).alias("arr")).collect()
    by_len = {len(bytes(r["blob"])): r["arr"] for r in rows}
    good = by_len[len(blob)]
    assert len(good) == 3
    for got, (nid, ip, port) in zip(good, recs):
        assert bytes(got["nid"]) == nid and got["ip"] == ip and got["port"] == port
    assert by_len[len(bad)] == []
    assert by_len[0] == []


def test_inet_ntoa_be_u16(spark):
    df = spark.createDataFrame(
        [(bytes([192, 168, 1, 7]), struct.pack("!H", 54321))],
        T.StructType([T.StructField("ip", T.BinaryType()), T.StructField("p", T.BinaryType())]),
    )
    r = df.select(inet_ntoa(F.col("ip")).alias("ip"), be_u16(F.col("p")).alias("port")).collect()[0]
    assert r["ip"] == "192.168.1.7" and r["port"] == 54321


def test_xor_dist(spark):
    df = spark.createDataFrame([(5, 3), (-1, 0), (2**40, 2**40)], "a long, b long")
    got = [r["d"] for r in df.select(xor_dist(F.col("a"), F.col("b")).alias("d")).collect()]
    assert got == [6, -1, 0]


def test_url_canonicalize_control_bytes_total(spark):
    """ADVICE round-1 regression: C0 control bytes (incl. the \\x01 group
    separator used by the single-pass parser) are malformed in BOTH the
    engine and the Python mirror — no fabricated groups, no divergence."""
    from maga_spark.functions.scalar import url_canonicalize
    from maga_spark.urlnorm import canonicalize

    bad = [
        "http://h\x01evil/x",
        "a\x01b\x01c\x01d\x01e",
        "http://ok.com/p\x01q",
        "http://ok.com/\x00",
        "\x1fhttp://ok.com/",
    ]
    df = spark.createDataFrame([(u,) for u in bad], "u string")
    got = [r[0] for r in df.select(url_canonicalize("u")).collect()]
    assert got == [None] * len(bad)
    assert [canonicalize(u) for u in bad] == [None] * len(bad)
