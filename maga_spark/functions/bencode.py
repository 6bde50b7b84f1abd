"""Bencode / KRPC message codec (SURVEY.md §1.2/D1, §2 O-2/O-3).

The reference bdecodes every inbound datagram (maga/crawler.py:34) and
bencodes every reply (maga/crawler.py:49) with the external ``bencode2`` C
library. Spark-first split:

* **decode** — ``decode_krpc``: a vectorized Arrow UDF ``binary → struct``
  with the FIXED KRPC struct of SURVEY D1 (the key set is closed,
  maga/constants.py:8-41) — the ``from_json``-analog with PERMISSIVE
  semantics: unparseable input yields an all-NULL row with the original
  bytes in ``_raw`` (mirroring the drop-on-parse-error,
  maga/crawler.py:33-36). Per-row parsing of a variable-length recursive
  grammar is irreducible Python, so it is Arrow-batched — but note the
  ENCODE side needs no Python at all:

* **encode** — the reference's outbound messages have fixed shapes
  (maga/crawler.py:126-148), and bencode of a fixed-shape dict is pure
  string concatenation with sorted keys — so each outbound message type is
  a codegen'd column expression (``encode_*`` below). A generic Python
  ``bencode``/``bdecode`` pair (clean-room from the public BEP-3 spec) is
  exported for fixtures and tests.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# clean-room BEP-3 codec (public spec) — fixtures, tests, and the decode UDF
# ---------------------------------------------------------------------------


def bdecode(data: bytes):
    """Strict bencode decode (BEP-3): ints, byte strings, lists, dicts.
    Raises ValueError on malformed or trailing input."""

    def parse(i: int):
        c = data[i : i + 1]
        if c == b"i":
            j = data.index(b"e", i)
            body = data[i + 1 : j]
            # canonical forms only: "0", or [-]nonzero-leading digits —
            # reject leading zeros on BOTH signs ("-0", "-01" are
            # non-canonical per BEP-3, same as "01")
            if (
                body in (b"", b"-")
                or (body.startswith(b"0") and body != b"0")
                or body.startswith(b"-0")
            ):
                raise ValueError("bad int")
            return int(body), j + 1
        if c == b"l":
            i += 1
            out = []
            while data[i : i + 1] != b"e":
                v, i = parse(i)
                out.append(v)
            return out, i + 1
        if c == b"d":
            i += 1
            out = {}
            while data[i : i + 1] != b"e":
                k, i = parse(i)
                if not isinstance(k, bytes):
                    raise ValueError("dict key must be bytes")
                v, i = parse(i)
                out[k] = v
            return out, i + 1
        if c.isdigit():
            j = data.index(b":", i)
            n = int(data[i:j])
            end = j + 1 + n
            if end > len(data):
                raise ValueError("truncated string")
            return data[j + 1 : end], end
        raise ValueError(f"bad token at {i}")

    if not data:
        raise ValueError("empty")
    v, i = parse(0)
    if i != len(data):
        raise ValueError("trailing bytes")
    return v


def bencode(obj) -> bytes:
    """Canonical bencode encode (BEP-3; dict keys sorted bytewise)."""
    if isinstance(obj, bool):
        raise TypeError("bool is not bencodable")
    if isinstance(obj, int):
        return b"i%de" % obj
    if isinstance(obj, str):
        obj = obj.encode("utf-8")
    if isinstance(obj, (bytes, bytearray)):
        return str(len(obj)).encode() + b":" + bytes(obj)
    if isinstance(obj, (list, tuple)):
        return b"l" + b"".join(bencode(x) for x in obj) + b"e"
    if isinstance(obj, dict):
        items = sorted(
            (k if isinstance(k, bytes) else str(k).encode("utf-8"), v)
            for k, v in obj.items()
        )
        return b"d" + b"".join(bencode(k) + bencode(v) for k, v in items) + b"e"
    raise TypeError(f"not bencodable: {type(obj)}")


# ---------------------------------------------------------------------------
# O-2: decode UDF — binary → fixed KRPC struct (SURVEY D1)
# ---------------------------------------------------------------------------

KRPC_STRUCT = T.StructType(
    [
        T.StructField("t", T.BinaryType()),
        T.StructField("y", T.StringType()),
        T.StructField("q", T.StringType()),
        T.StructField(
            "args",
            T.StructType(
                [
                    T.StructField("id", T.BinaryType()),
                    T.StructField("info_hash", T.BinaryType()),
                    T.StructField("port", T.IntegerType()),
                    T.StructField("implied_port", T.IntegerType()),
                    T.StructField("token", T.BinaryType()),
                    T.StructField("target", T.BinaryType()),
                    T.StructField("nodes", T.BinaryType()),
                ]
            ),
        ),
        T.StructField("values", T.ArrayType(T.BinaryType())),
        T.StructField("e_code", T.IntegerType()),
        T.StructField("e_msg", T.StringType()),
        T.StructField("_raw", T.BinaryType()),
    ]
)

_ARG_BYTES = (b"id", b"info_hash", b"token", b"target", b"nodes")


def _parse_one(data) -> dict:
    null = {f.name: None for f in KRPC_STRUCT.fields}
    if data is None:
        return null
    data = bytes(data)
    try:
        msg = bdecode(data)
        if not isinstance(msg, dict):
            raise ValueError("not a dict")
    except Exception:
        return {**null, "_raw": data}
    out = dict(null)
    t = msg.get(b"t")
    out["t"] = bytes(t) if isinstance(t, (bytes, bytearray)) else None
    y = msg.get(b"y")
    out["y"] = y.decode("utf-8", "replace") if isinstance(y, bytes) else None
    q = msg.get(b"q")
    out["q"] = q.decode("utf-8", "replace") if isinstance(q, bytes) else None
    # queries carry `a`, responses carry `r` — one closed `args` struct
    # (maga/crawler.py:129,139 probe the same keys on either side)
    sub = msg.get(b"a") if isinstance(msg.get(b"a"), dict) else msg.get(b"r")
    args = {k.decode(): None for k in _ARG_BYTES} | {"port": None, "implied_port": None}
    if isinstance(sub, dict):
        for k in _ARG_BYTES:
            v = sub.get(k)
            if isinstance(v, (bytes, bytearray)):
                args[k.decode()] = bytes(v)
        for k in (b"port", b"implied_port"):
            v = sub.get(k)
            if isinstance(v, int):
                args[k.decode()] = v
        vals = sub.get(b"values")
        if isinstance(vals, list):
            out["values"] = [bytes(v) for v in vals if isinstance(v, (bytes, bytearray))]
    e = msg.get(b"e")
    if isinstance(e, list) and len(e) >= 2 and isinstance(e[0], int):
        out["e_code"] = e[0]
        if isinstance(e[1], (bytes, bytearray)):
            out["e_msg"] = bytes(e[1]).decode("utf-8", "replace")
    out["args"] = args
    return out


@F.pandas_udf(KRPC_STRUCT)
def decode_krpc(datagrams: pd.Series) -> pd.DataFrame:
    """O-2: bencoded datagram → KRPC struct, Arrow-batched; malformed →
    all-NULL fields with the bytes preserved in ``_raw`` (PERMISSIVE)."""
    rows = [_parse_one(d) for d in datagrams]
    return pd.DataFrame(rows, columns=[f.name for f in KRPC_STRUCT.fields])


# ---------------------------------------------------------------------------
# O-3: encode — fixed-shape outbound messages as pure column expressions
# ---------------------------------------------------------------------------


def _blen(col: Column) -> Column:
    """bencode byte-string length prefix of a binary column: b'<n>:'."""
    return F.concat(F.length(col).cast("string").cast("binary"), F.lit(b":"))


def _bstr(col: Column) -> Column:
    return F.concat(_blen(col), col)


def encode_find_node_query(t: Column, node_id: Column, target: Column) -> Column:
    """{'t': t, 'y': 'q', 'q': 'find_node', 'a': {'id': id, 'target': tgt}}
    (maga/crawler.py:203-210) — top keys sorted a<q<t<y."""
    return F.concat(
        F.lit(b"d1:ad2:id20:"),
        node_id,
        F.lit(b"6:target20:"),
        target,
        F.lit(b"e1:q9:find_node1:t"),
        _bstr(t),
        F.lit(b"1:y1:qe"),
    )
