"""★ Sharded cuckoo-filter URL-seen set — the engine's one approximate-
membership prefilter (BASELINE.json: "a partitioned cuckoo/bloom URL-seen
set").

One filter row ``(shard, table)`` per ``shard = pmod(url_hash, nshards)``,
built and grown by ``update_shard_cuckoo`` (``filters=None`` builds from
scratch), shrunk by ``delete_from_shard_cuckoo`` and probed
EXECUTOR-SIDE via the shard-cogroup ``applyInPandas`` of
``operators.seen.salted_shard_cogroup``. Only probe-positive rows can match
in the one anti-join against seen that follows, which corrects the false
positives; there are never false negatives, so ``anti_join_cuckoo``
returns exactly ``anti_join_exact``'s rows. Unlike a bloom bitset, which
can only grow, a cuckoo table stores per-key fingerprints that
``delete_from_shard_cuckoo`` removes individually — the re-crawl primitive
(expire a URL from seen so the frontier can re-enqueue it) in O(batch),
with no rebuild from the seen table.

Algorithm: partial-key cuckoo hashing per the public cuckoo-filter paper
(Fan, Andersen, Kaminsky, Mitzenmacher, "Cuckoo Filter: Practically Better
Than Bloom", CoNEXT 2014) with one fixed geometry: ``FP_BITS = 16``-bit
fingerprints in ``BUCKET_SIZE = 4`` slots per bucket (the paper's (2,4)
table, stable to ~0.95 load) and a power-of-two bucket count the row does
not store (it is the table's byte length over 8). Candidate buckets are
``i1 = H(key)`` and ``i2 = i1 XOR G(fp)`` (an involution, so a stored
fingerprint's alternate bucket is computable without the key), evictions
bounded at 500 kicks.
All hot paths are vectorized numpy over the Arrow batch: insertion places
whole contention-resolved rounds at once (per-item Python only on the rare
eviction tail), probe and delete are pure array ops — no per-row Python in
the Spark sense (input_hint).

Invariants the code maintains and relies on:
* occupied slots form a PREFIX of each bucket row (inserts append at the
  occupancy point, deletes compact) — lets the round-placer assign slots as
  ``occupancy + within-batch rank`` without scanning for holes;
* inserts RAISE on overflow instead of dropping a key (a dropped key is a
  false negative — it would break the engine's bit-for-bit seen parity);
  size ``nbuckets`` so the table stays below ~0.95 load;
* deletes RAISE when no matching fingerprint exists in either candidate
  bucket: deleting a never-inserted key is the one operation the paper
  forbids (it could strip another key's fingerprint). Same-fp keys sharing
  a bucket pair are indistinguishable by design; deleting one copy per
  deleted key keeps the multiset count right, so survivors keep their
  no-false-negative guarantee.

Reference analog: the reference keeps its dedup set as an in-memory Python
set the user code mutates (maga/crawler.py:216-223) — deletion is free
there; this module is what that mutability costs at 10^10 keys.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from maga_spark.operators.seen import (
    _hashes_u64,
    _out_ddl,
    salted_shard_cogroup,
)

CUCKOO_SCHEMA = "shard int, table binary"
FP_BITS = 16  # uint16 slots
BUCKET_SIZE = 4
# probe-group sub-split per shard (salted_shard_cogroup); the table row is
# read-only in the probe, so results are identical for any salt
PROBE_SALT = 4

# splitmix64-style avalanche constants (public domain mixers)
_FP_MIX = np.uint64(0xBF58476D1CE4E5B9)
_IDX_MIX = np.uint64(0x94D049BB133111EB)
_ALT_MIX = np.uint64(0x9E3779B97F4A7C15)


def _fps(h: np.ndarray) -> np.ndarray:
    """uint64 hashes → uint16 fingerprints; 0 is the empty-slot sentinel so
    a zero fingerprint is remapped to 1 (a 2^-FP_BITS bias, irrelevant)."""
    x = h * _FP_MIX
    x = x ^ (x >> np.uint64(33))
    fp = (x & np.uint64((1 << FP_BITS) - 1)).astype(np.uint16)
    return np.where(fp == 0, np.uint16(1), fp)


def _i1(h: np.ndarray, nbuckets: int) -> np.ndarray:
    x = h * _IDX_MIX
    x = x ^ (x >> np.uint64(29))
    return (x & np.uint64(nbuckets - 1)).astype(np.int64)


def _alt(idx: np.ndarray, fp: np.ndarray, nbuckets: int) -> np.ndarray:
    """Alternate bucket: i XOR G(fp) — self-inverse, key-free (the filter
    can relocate a stored fingerprint without ever knowing its key)."""
    x = fp.astype(np.uint64) * _ALT_MIX
    x = x ^ (x >> np.uint64(27))
    return (idx.view(np.uint64) ^ (x & np.uint64(nbuckets - 1))).view(np.int64)


def _key_buckets(h: np.ndarray, nbuckets: int):
    fp = _fps(h)
    b1 = _i1(h, nbuckets)
    return fp, b1, _alt(b1, fp, nbuckets)


def _place_round(table: np.ndarray, fps: np.ndarray, buckets: np.ndarray) -> np.ndarray:
    """One contention-resolved vectorized placement round: items targeting
    the same bucket are ranked (stable sort) and claim slots
    ``occupancy + rank``; ranks past the bucket's free space lose and stay
    pending. Returns the placed mask. Relies on the prefix invariant."""
    n = len(fps)
    if n == 0:
        return np.zeros(0, dtype=bool)
    order = np.argsort(buckets, kind="stable")
    b = buckets[order]
    first = np.r_[True, b[1:] != b[:-1]]
    rank = np.arange(n) - np.maximum.accumulate(np.where(first, np.arange(n), 0))
    slot = (table[b] != 0).sum(axis=1) + rank
    ok = slot < table.shape[1]
    table[b[ok], slot[ok]] = fps[order][ok]
    placed = np.zeros(n, dtype=bool)
    placed[order[ok]] = True
    return placed


def _kick_insert(table: np.ndarray, fp: int, b1: int, b2: int) -> None:
    """Per-item eviction chain for the rare both-buckets-full case.
    Deterministic victim choice (fingerprint- and round-derived — no RNG,
    SURVEY.md §7.6 determinism rule). Raises instead of dropping the key."""
    nbuckets, bucket_size = table.shape
    for b in (b1, b2):  # a prior kick may have freed a slot since the rounds ran
        free = np.flatnonzero(table[b] == 0)
        if len(free):
            table[b, free[0]] = fp
            return
    cur_fp, cur_b = np.uint16(fp), b1
    for k in range(500):
        slot = (int(cur_fp) * 40503 + k) % bucket_size
        victim = table[cur_b, slot]
        table[cur_b, slot] = cur_fp
        cur_fp = victim
        cur_b = int(_alt(np.array([cur_b], dtype=np.int64), np.array([cur_fp]), nbuckets)[0])
        free = np.flatnonzero(table[cur_b] == 0)
        if len(free):
            table[cur_b, free[0]] = cur_fp
            return
    raise ValueError(
        f"cuckoo filter over capacity: eviction chain exceeded 500 kicks "
        f"at {int((table != 0).sum())}/{table.size} slots — size nbuckets for "
        "<=~0.95 load (a dropped key would be a false negative)"
    )


def _insert_hashes(table: np.ndarray, h: np.ndarray) -> None:
    """Insert a batch of uint64 hashes. Callers sort the batch first so the
    table layout is a pure function of the key SET (Arrow row order is not
    deterministic across shuffles)."""
    nbuckets, _ = table.shape
    fp, b1, b2 = _key_buckets(h, nbuckets)
    placed = _place_round(table, fp, b1)
    rem = np.flatnonzero(~placed)
    if len(rem):
        placed2 = _place_round(table, fp[rem], b2[rem])
        rem = rem[~placed2]
    for j in rem:  # eviction tail — empty at moderate load
        _kick_insert(table, int(fp[j]), int(b1[j]), int(b2[j]))


def _contains(table: np.ndarray, h: np.ndarray) -> np.ndarray:
    nbuckets, _ = table.shape
    fp, b1, b2 = _key_buckets(h, nbuckets)
    w = fp[:, None]
    return (table[b1] == w).any(axis=1) | (table[b2] == w).any(axis=1)


def _clear_pass(table: np.ndarray, fp: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Clear up to one slot matching (bucket, fp) per item, duplicate-safe:
    items in the same (bucket, fp) group get distinct ranks and clear the
    rank-th matching slot — concurrent clears never collide. Returns the
    cleared mask (False = no rank-th match in this bucket)."""
    n = len(fp)
    if n == 0:
        return np.zeros(0, dtype=bool)
    gkey = b.astype(np.int64) * np.int64(1 << 17) + fp.astype(np.int64)
    order = np.argsort(gkey, kind="stable")
    gs = gkey[order]
    first = np.r_[True, gs[1:] != gs[:-1]]
    rank = np.arange(n) - np.maximum.accumulate(np.where(first, np.arange(n), 0))
    match = table[b[order]] == fp[order][:, None]
    sel = match & (match.cumsum(axis=1) == (rank + 1)[:, None])  # rank-th match, one-hot
    hit = sel.any(axis=1)
    table[b[order][hit], sel.argmax(axis=1)[hit]] = 0
    cleared = np.zeros(n, dtype=bool)
    cleared[order[hit]] = True
    return cleared


def _compact(table: np.ndarray, buckets: np.ndarray) -> None:
    """Restore the occupied-prefix invariant in the touched buckets: stable-
    sort each row by emptiness (occupied slots keep their relative order)."""
    ub = np.unique(buckets)
    rows = table[ub]
    order = np.argsort(rows == 0, axis=1, kind="stable")
    table[ub] = np.take_along_axis(rows, order, axis=1)


def _delete_hashes(table: np.ndarray, h: np.ndarray) -> None:
    nbuckets, _ = table.shape
    fp, b1, b2 = _key_buckets(h, nbuckets)
    cleared = _clear_pass(table, fp, b1)
    rem = np.flatnonzero(~cleared)
    if len(rem):
        cleared2 = _clear_pass(table, fp[rem], b2[rem])
        if not cleared2.all():
            missing = len(rem) - int(cleared2.sum())
            raise ValueError(
                f"cuckoo delete: {missing} key(s) have no stored fingerprint in "
                "either candidate bucket — deleting a never-inserted key is "
                "forbidden (it would strip another key's fingerprint and create "
                "a false negative)"
            )
    _compact(table, np.concatenate([b1, b2]))


def _state_table(fpdf: pd.DataFrame, shard: int) -> np.ndarray:
    if len(fpdf) > 1:
        # one filter row per shard is the state invariant — probing or
        # updating only the first would silently drop the others' keys
        # (false negatives) (ADVICE r3)
        raise ValueError(f"{len(fpdf)} cuckoo rows for shard {shard}; expected 1")
    return np.frombuffer(bytes(fpdf["table"].iloc[0]), dtype=np.uint16).reshape(-1, BUCKET_SIZE)


def _mutate(filters: DataFrame | None, hashes: DataFrame, fn, nbuckets: int | None) -> DataFrame:
    """Apply ``fn(table, sorted_hashes)`` per shard — the one body of insert
    and delete. A shard with hashes but no filter row gets a fresh
    ``nbuckets``-sized table, or raises when ``nbuckets`` is None (delete);
    ``filters=None`` means no filter rows at all (a from-scratch build).
    Filter bytes never visit the driver."""

    def _apply(key: tuple, hpdf: pd.DataFrame, fpdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(key[0])
        if len(fpdf):
            table = _state_table(fpdf, shard).copy()
        elif nbuckets is None:
            raise ValueError(f"cuckoo delete: no filter state for shard {shard}")
        else:
            table = np.zeros((nbuckets, BUCKET_SIZE), dtype=np.uint16)
        if len(hpdf):
            # sorted: the table layout is a pure function of the key set
            fn(table, np.sort(_hashes_u64(hpdf["url_hash"])))
        return pd.DataFrame({"shard": [shard], "table": [table.tobytes()]})

    if filters is None:  # one group per shard, no filter side to shuffle
        no_rows = pd.DataFrame({"table": []})
        return hashes.groupBy("shard").applyInPandas(
            lambda hpdf: _apply((hpdf["shard"].iloc[0],), hpdf, no_rows), CUCKOO_SCHEMA
        )
    return (
        hashes.groupBy("shard").cogroup(filters.groupBy("shard")).applyInPandas(
            _apply, CUCKOO_SCHEMA
        )
    )


def update_shard_cuckoo(
    filters: DataFrame | None, new_hashes: DataFrame, nbuckets: int = 1 << 16
) -> DataFrame:
    """Insert a batch of new keys (``shard, url_hash``) into per-shard cuckoo
    tables — O(batch + nshards·table bytes) per call, independent of how
    many keys the filters already hold. ``filters=None`` builds from
    scratch; shards appearing only in ``new_hashes`` get fresh
    ``nbuckets``-sized tables, existing shards keep their size (bucket
    indices depend on it). Capacity is ``nbuckets × BUCKET_SIZE`` keys per
    shard; an overflow raises rather than dropping a key."""
    if nbuckets < 1 or nbuckets & (nbuckets - 1):
        # _i1/_alt index with & (nbuckets-1): a non-pow2 size would silently
        # address only 2^popcount(mask) buckets and blow the eviction chain
        # far below the configured capacity
        raise ValueError(f"nbuckets must be a power of two (got {nbuckets})")
    return _mutate(filters, new_hashes, _insert_hashes, nbuckets)


def delete_from_shard_cuckoo(filters: DataFrame, del_hashes: DataFrame) -> DataFrame:
    """Remove previously-inserted keys — the operation a bloom bitset
    cannot do without a full rebuild. del_hashes(shard,
    url_hash) must contain only keys currently in the filter (one delete
    per prior insert); violations raise rather than corrupt. Use case:
    re-crawl scheduling — expire URLs from seen so the next absorb
    re-enqueues them, without rebuilding the filter from the seen table."""
    return _mutate(filters, del_hashes, _delete_hashes, None)


def anti_join_cuckoo(
    candidates: DataFrame,
    seen: DataFrame,
    filters: DataFrame,
    nshards: int,
) -> DataFrame:
    """candidates ∖ seen on ``url_hash`` with an executor-side per-shard
    cuckoo prefilter: the probe marks each candidate ``_maybe``, and one
    left-anti join on ``(url_hash, _maybe)`` against ``seen`` tagged
    ``_maybe = true`` drops the seen rows. A definitely-new candidate
    carries ``_maybe = false``, so it can never match, and the result
    equals ``anti_join_exact`` whenever ``filters`` holds every key of
    ``seen``, whatever else it holds (this also makes deletion safe
    end-to-end: a deleted key probes negative and stays new; an
    fp-collision survivor just fails to find its match).

    The probe runs once per execution and nothing is cached, so no block
    outlives the returned plan. ``seen`` is shuffled for the join either
    way: the probe decides which rows can match, not which rows move.

    ``nshards`` MUST be the modulus used to shard ``seen``: a wrong modulus
    buckets candidates against the wrong filter row. Any filter row whose
    shard id falls outside [0, nshards) fails the probe task
    (modulus-mismatch guard)."""
    marked = _probe_cogroup(candidates, filters, int(nshards))
    tagged = seen.select("url_hash", F.lit(True).alias("_maybe"))
    return marked.join(tagged, ["url_hash", "_maybe"], "left_anti").drop("_maybe")


def _probe_cogroup(candidates: DataFrame, filters: DataFrame, ns: int) -> DataFrame:
    """(shard, salt)-cogroup cuckoo probe appending ``_maybe`` (one
    candidate shuffle, filter replicated per salt slice in-plan)."""
    cand_cols = list(candidates.columns)
    out_schema = _out_ddl(candidates, "_maybe boolean")

    def _probe(key_t: tuple, cpdf: pd.DataFrame, fpdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(key_t[0])
        if shard >= ns or shard < 0:
            raise ValueError(
                f"seen-set cuckoo shard {shard} outside [0, {ns}): the seen table "
                "was sharded with a different modulus than nshards"
            )
        out = cpdf[cand_cols].copy()
        if not len(cpdf):
            out["_maybe"] = pd.Series([], dtype=bool)
            return out
        if not len(fpdf):
            out["_maybe"] = False  # empty shard → definitely unseen
            return out
        out["_maybe"] = _contains(_state_table(fpdf, shard), _hashes_u64(cpdf["url_hash"]))
        return out

    return salted_shard_cogroup(
        candidates, filters, "url_hash", ns, PROBE_SALT, _probe, out_schema
    )
