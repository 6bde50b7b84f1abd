"""Property-based spot checks (SURVEY.md §5.5) — pure-Python, no Spark."""

from __future__ import annotations

import zlib

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from maga_spark import codec, urlnorm
from maga_spark.crawlspec import shard_of, xor_dist_signed
from maga_spark.xxh64 import xxh64, xxh64_str

url_text = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), min_size=0, max_size=80
)


@settings(max_examples=300)
@given(url_text)
def test_canonicalize_total_and_idempotent(s):
    """canonicalize never raises; canonicalize∘canonicalize == canonicalize
    (proper_infohash contract, maga/utils.py:7-11)."""
    c = urlnorm.canonicalize(s)
    if c is not None:
        assert urlnorm.canonicalize(c) == c


@settings(max_examples=200)
@given(st.integers(0, 10**6), st.integers(0, 63), st.booleans(), st.booleans())
def test_canonicalize_variants_collapse(n, host, slash, upper):
    base = f"http://h{host}.test/p/{n}"
    raw = base
    if upper:
        raw = raw.replace("http://h", "http://H").replace(".test", ".TEST")
    if slash:
        raw += "/"
    assert urlnorm.canonicalize(raw) == base


@settings(max_examples=200)
@given(st.binary(min_size=0, max_size=200))
def test_xxh64_matches_incremental_struct(data):
    """xxh64 is deterministic and signed-int64-rangeable."""
    a, b = xxh64(data), xxh64(data)
    assert a == b and 0 <= a < (1 << 64)
    s = xxh64_str(data.decode("latin1"))
    assert -(1 << 63) <= s < (1 << 63)


@settings(max_examples=100)
@given(st.integers(-(2**63), 2**63 - 1), st.integers(-(2**63), 2**63 - 1))
def test_xor_dist_signed_matches_two_complement(a, b):
    """xor_dist_signed == Java long ^ (two's-complement bit xor)."""
    u = (a & (2**64 - 1)) ^ (b & (2**64 - 1))
    want = u - (1 << 64) if u >= (1 << 63) else u
    assert xor_dist_signed(a, b) == want
    assert xor_dist_signed(a, a) == 0
    assert xor_dist_signed(a, b) == xor_dist_signed(b, a)


@settings(max_examples=100)
@given(st.integers(-(2**63), 2**63 - 1), st.integers(1, 64))
def test_shard_of_non_negative(h, n):
    s = shard_of(h, n)
    assert 0 <= s < n


@settings(max_examples=30)
@given(
    st.integers(1, 5).map(lambda k: 8 * k),
    st.integers(1, 5).map(lambda k: 8 * k),
    st.sampled_from(codec.FORMATS),
    st.integers(0, 2**32 - 1),
)
def test_codec_roundtrip_property(w, h, fmt, seed):
    rng = np.random.Generator(np.random.PCG64(seed))
    px = rng.integers(0, 256, size=(h, w, 3)).astype(np.uint8)
    back = codec.decode(codec.encode(px, fmt), w, h, fmt)
    if fmt in ("raw", "rlez"):
        assert np.array_equal(back, px)
    else:
        assert np.abs(back.astype(int) - px.astype(int)).max() <= 4  # q8 step bound


@settings(max_examples=50)
@given(st.binary(min_size=1, max_size=64))
def test_rlez_rejects_bitflip_or_differs(data):
    """A corrupted rlez payload either fails to decode or decodes to
    different bytes — never silently validates (maga/downloader.py:94-101)."""
    comp = bytearray(zlib.compress(data))
    comp[len(comp) // 2] ^= 0xFF
    try:
        out = zlib.decompress(bytes(comp))
        assert out != data
    except Exception:
        pass


# ---- cuckoo-filter model check (operators/cuckoo.py) -----------------------
# The engine's bit-for-bit seen parity rests on ONE property: the filter
# NEVER yields a false negative, across any interleaving of batch inserts
# and deletes of previously-inserted keys. Model-check it against a plain
# Python multiset of live keys.

_key64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(st.sampled_from(["ins", "del"]), st.lists(_key64, min_size=0, max_size=60)),
        min_size=1,
        max_size=8,
    )
)
def test_cuckoo_no_false_negatives_under_insert_delete(ops):
    from maga_spark.operators.cuckoo import _contains, _delete_hashes, _insert_hashes

    table = np.zeros((1 << 9, 4), dtype=np.uint16)  # 2048 slots
    live: set[int] = set()
    for op, keys in ops:
        ks = np.unique(np.array(keys, dtype=np.int64).view(np.uint64))
        if op == "ins":
            batch = np.array(sorted(int(k) for k in ks if int(k) not in live), dtype=np.uint64)
            if len(live) + len(batch) > 1600:  # stay under ~0.8 load
                batch = batch[: max(0, 1600 - len(live))]
            if len(batch):
                _insert_hashes(table, batch)
                live.update(int(k) for k in batch)
        else:
            batch = np.array(sorted(int(k) for k in ks if int(k) in live), dtype=np.uint64)
            if len(batch):
                _delete_hashes(table, batch)
                live.difference_update(int(k) for k in batch)
        # the invariant the engine depends on: every live key probes True
        if live:
            lv = np.array(sorted(live), dtype=np.uint64)
            assert _contains(table, lv).all(), "false negative!"
        # slot accounting never drifts (inserts raise rather than drop)
        assert int((table != 0).sum()) == len(live)
