"""The authoritative crawl semantics — ONE spec, TWO implementations.

This module defines the pure, deterministic rules shared by the plain-Python
reference simulator (maga_spark.sim — the oracle) and the distributed Spark
engine (maga_spark.plans.frontier). Parity between the two is the project's
headline correctness requirement (BASELINE.json north_rule: "matching the
reference's crawl ordering and URL-seen set under the same seed list +
politeness budget").

Semantics, generalized from the reference crawler (SURVEY.md §3.1):

* identity      — ``url_hash = xxh64(url_canon)`` (canonicalization ≙
                  ``proper_infohash``, maga/utils.py:7-11)
* per-epoch target — ``epoch_target(e)`` replaces the reference's random
                  find_node target (maga/crawler.py:203-205) with a
                  hash-derived value (determinism, SURVEY.md §7.6)
* priority      — signed-int64 XOR distance to the epoch target, total order
                  ``(xor_dist, url_hash)`` (Kademlia ordering, O-40)
* enqueue       — canonicalize → in-batch dedup → anti-join seen → robots
                  gate (blocked URLs enter *seen* but never the frontier) →
                  append to frontier; seen = "ever enqueued or blocked"
                  (the seen-set pattern, O-23)
* schedule      — refill per-host token buckets (``tokens = min(burst,
                  tokens + rate)``), then walk candidates in priority order
                  granting while the host has tokens and the global budget K
                  is unspent. Equivalent set form (provably identical, see
                  tests/test_parity.py): host-eligible = per-host rank ≤
                  tokens; granted = first K host-eligible by priority.
* fetch         — granted ⋈ links ⋈ images; payload validated per
                  input_hint (PSNR/caption); missing link row = dead-letter
                  (O-7), URL still consumed
* outputs       — ordering rows ``(epoch, rank, url_canon)`` with rank =
                  1-based position in the granted priority order; final seen
                  as per-shard sorted hashes; per-epoch metrics.
"""

from __future__ import annotations

from dataclasses import dataclass

from maga_spark.xxh64 import xxh64_str

M64 = (1 << 64) - 1


@dataclass(frozen=True)
class CrawlConfig:
    epochs: int = 8
    global_k: int = 64  # per-epoch global fetch budget (reference analog: the 1 s sweep rate, maga/crawler.py:73)
    nshards: int = 8  # seen-set shards: shard = pmod(url_hash, nshards)
    default_rate: int = 2  # hosts missing from the politeness table
    default_burst: int = 4
    # cuckoo mode: fixed per-shard bucket count (power of two; capacity =
    # nbuckets × 4 slots). Fixed because bucket indices depend on the
    # size, so incremental inserts (operators/cuckoo.py
    # update_shard_cuckoo) need it stable. Size for
    # ≤~0.95 load at the projected per-shard key count; the default holds
    # 2^17 keys/shard at 0.5 load. Results are exact at any (sufficient)
    # value; an overflow raises rather than dropping a key.
    cuckoo_nbuckets: int = 1 << 16


def epoch_target(epoch: int) -> int:
    """Deterministic per-epoch XOR target (signed int64)."""
    return xxh64_str(f"epoch-target:{epoch}")


def xor_dist_signed(a: int, b: int) -> int:
    """Signed-int64 XOR — bit-identical to Spark's ``bigint ^ bigint``."""
    u = (a & M64) ^ (b & M64)
    return u - (1 << 64) if u >= (1 << 63) else u


def shard_of(url_hash: int, nshards: int) -> int:
    """pmod(url_hash, nshards) — matches Spark's ``pmod`` on negative longs."""
    return url_hash % nshards
