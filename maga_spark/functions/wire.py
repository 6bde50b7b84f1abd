"""Wire-format operators — the reference's byte-level protocol logic as
pure built-in column expressions (whole-stage codegen, zero Python).

Covers SURVEY.md §2 items the round-1 build left open:

* O-45/O-4  — ``pack(">I")`` length framing encode + ``!IB`` header decode
              (maga/downloader.py:83-85 ``write_message``;
               maga/downloader.py:117-120 ``readexactly(5)`` + unpack).
* O-18      — binary handshake predicate: protocol-prefix equality,
              infohash equality, extension bit ``data[25] & 0x10``
              (maga/downloader.py:71-81 ``check_handshake``).
* O-19      — embedded bencoded-int parse: locate key, skip, read digits to
              the next ``e`` (maga/downloader.py:28-39 ``get_ut_metadata`` /
              ``get_metadata_size``).
* O-30      — piece count ``ceil(metadata_size / 2^14)``
              (maga/downloader.py:133-134).
* D6        — byte-range → piece-range ``divmod`` derivation
              (screenshot_system/io_adapter.py:57-63).

Everything is total: malformed input yields NULL / false, never an error
(the reference's bare-except drop contract, maga/crawler.py:33-36).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from maga_spark.functions.scalar import _byte_at

# the 20-byte BitTorrent protocol prefix + the 8 reserved bytes the
# reference sends (extension bit 0x10 set in reserved[5]) —
# maga/downloader.py:25 BT_HEADER
BT_HEADER = b"\x13BitTorrent protocol\x00\x00\x00\x00\x00\x10\x00\x01"
BLOCK = 1 << 14  # maga/downloader.py:23 BLOCK = 2^14


def frame_encode(payload: Column) -> Column:
    """O-45: length-prefix a binary payload — ``pack('>I', len) + payload``
    (maga/downloader.py:83-85). Pure codegen: hex(len) → lpad 8 → unhex
    gives the 4 big-endian bytes."""
    return F.concat(F.unhex(F.lpad(F.hex(F.length(payload)), 8, "0")), payload)


def frame_length(data: Column) -> Column:
    """``unpack('!I', data[:4])`` — big-endian u32 (maga/downloader.py:117).
    NULL when fewer than 4 bytes."""
    return F.when(
        F.length(data) >= 4, F.conv(F.hex(F.substring(data, 1, 4)), 16, 10).cast("long")
    )


def frame_decode(data: Column) -> Column:
    """O-4: one ``!IB``-headed frame → struct<length, msg_id, payload>
    (maga/downloader.py:117-120: total length includes the 1-byte msg id,
    payload_length = length - 1). Truncated frames → NULL fields."""
    length = frame_length(data)
    complete = length.isNotNull() & (F.length(data) >= length + 4) & (length >= 1)
    msg_id = F.when(complete, _byte_at(data, 5))
    payload = F.when(complete, data.substr(F.lit(6), (length - 1).cast("int")))
    return F.struct(
        F.when(complete, length).alias("length"),
        msg_id.alias("msg_id"),
        payload.alias("payload"),
    )


def check_handshake(data: Column, infohash: Column) -> Column:
    """O-18: the reference's conjunctive binary handshake gate
    (maga/downloader.py:71-81): 20-byte protocol prefix equality AND
    infohash equality at bytes [28:48] AND metadata-extension bit
    ``data[25] & 0x10 == 0x10``. False (not NULL) on short input."""
    long_enough = F.length(data) >= 68
    prefix_ok = F.substring(data, 1, 20) == F.lit(BT_HEADER[:20])
    ih_ok = F.substring(data, 29, 20) == infohash
    ext_ok = _byte_at(data, 26).bitwiseAND(F.lit(0x10)) == F.lit(0x10)
    return F.coalesce(long_enough & prefix_ok & ih_ok & ext_ok, F.lit(False))


def embedded_int_after(data: Column, key: str) -> Column:
    """O-19: ``int(data[data.index(key)+len(key)+1 : data.index('e')])`` —
    the reference's embedded bencoded-int scrape (maga/downloader.py:28-39):
    find the key, skip it plus the ``i`` marker, digits up to the next
    ``e``. NULL when the key is absent or the digits don't parse.

    Works on STRING columns (the bencoded keys/ints are ASCII; callers
    decode binary with ``cast("string")`` which is byte-preserving for
    ASCII payloads)."""
    idx = F.locate(key, data)  # 1-based; 0 = absent
    tail = data.substr(idx + len(key) + 1, F.lit(20))  # ints are short
    digits = F.split(tail, "e").getItem(0)
    val = F.when(digits.rlike("^-?[0-9]+$"), digits).cast("long")
    return F.when(idx > 0, val)


def piece_count(metadata_size: Column) -> Column:
    """O-30: ``math.ceil(metadata_size / BLOCK)``
    (maga/downloader.py:133-134). NULL-propagating. Ceil-div in LONG
    arithmetic (``(m + BLOCK - 1) div BLOCK``): ``ceil(m / BLOCK)`` is IEEE
    double division, which can diverge from integer divmod above 2^53."""
    return F.call_function(
        "div", metadata_size + F.lit(BLOCK - 1), F.lit(BLOCK)
    ).cast("long")


def piece_range(offset: Column, size: Column, piece_length: Column | int) -> Column:
    """D6: byte range [offset, offset+size) → array of piece indices —
    ``divmod(start, plen)`` / ``divmod(end-1, plen)`` then the inclusive
    range (screenshot_system/io_adapter.py:57-63). Empty array when
    size <= 0. Integral ``div`` (not ``floor(a / b)``): double division
    diverges from the reference's integer divmod for offsets above 2^53
    (~9 PB) — offsets are non-negative, so truncating div == floor div."""
    plen = F.lit(piece_length) if isinstance(piece_length, int) else piece_length
    first = F.call_function("div", offset, plen).cast("long")
    last = F.call_function("div", offset + size - 1, plen).cast("long")
    return F.when(size > 0, F.sequence(first, last)).otherwise(
        F.array().cast("array<long>")
    )
