"""Reference results the benchmark checks the program against.

Crawls: ``maga_spark.sim.run`` is the golden oracle, but it has no expiry
hook and re-validates every fetched image. ``reference_crawl`` replays the
same crawl semantics (``maga_spark.crawlspec``) with optional seen-set
expiry between epochs; ``tests/test_oracle.py`` pins it to ``sim.run``
when nothing expires.

Queries: an order-insensitive digest of a DataFrame (row count plus the sum
of per-row hashes), computed inside Spark so no result is collected.

Everything here is pure Python except ``df_digest``; the check functions
take plain values so the checker self-test can feed them corrupted results.
"""

from __future__ import annotations

import hashlib
import json
import random

import pyarrow.parquet as pq

from maga_spark import codec, urlnorm
from maga_spark.crawlspec import CrawlConfig, epoch_target, shard_of, xor_dist_signed
from maga_spark.functions.payload import PSNR_MIN_DB
from maga_spark.xxh64 import xxh64_str

EPOCH_KEYS = (
    "epoch",
    "enqueued",
    "blocked_robots",
    "candidates",
    "deferred_politeness",
    "capped_global",
    "scheduled",
    "fetched",
    "fetch_invalid",
)


def seen_digest(shards) -> str:
    """Digest of a seen set given as ``{shard: hashes}`` or as
    ``CrawlEngine.seen_per_shard()`` rows."""
    if isinstance(shards, dict):
        items = sorted((int(s), sorted(int(h) for h in hs)) for s, hs in shards.items() if hs)
    else:
        items = sorted((int(r["shard"]), sorted(int(h) for h in r["hashes"])) for r in shards)
    return hashlib.sha256(json.dumps(items).encode()).hexdigest()


def ordering_digest(rows) -> str:
    """Digest of ``(epoch, rank, url_canon)`` rows in rank order."""
    items = [[int(e), int(r), str(u)] for e, r, u in rows]
    return hashlib.sha256(json.dumps(items).encode()).hexdigest()


def _epoch_record(m: dict) -> dict:
    return {k: int(m[k]) for k in EPOCH_KEYS}


def reference_crawl(
    fixtures_dir: str,
    cfg: CrawlConfig,
    seed: int,
    expire_from: int | None = None,
    expire_batch: int = 0,
) -> dict:
    """The crawl of ``sim.run`` (same semantics, image validation memoised
    per image id), optionally with seen-set expiry after every epoch from
    ``expire_from`` on.

    An expiry batch holds ``expire_batch`` URLs that were granted, have not
    been re-enqueued since and are still seen (the re-crawl case), plus as
    many universe URLs never seen (an expiry of an unknown key is a no-op).
    A URL still in the frontier is never expired: forgetting it lets the
    next absorb enqueue it a second time. The batches and the number each
    ``expire_urls`` call must return are part of the result, so the engine
    replays exactly this schedule."""
    t = lambda name: pq.read_table(f"{fixtures_dir}/{name}.parquet").to_pydict()  # noqa: E731
    lt = t("links")
    links = {u: (outs, iid) for u, outs, iid in zip(lt["url_canon"], lt["out_links"], lt["image_id"])}
    it = t("images")
    images = dict(zip(it["image_id"], zip(it["bytes"], it["w"], it["h"], it["fmt"], it["caption"])))
    tt = t("images_truth")
    truth = dict(zip(tt["image_id"], tt["px_npy"]))
    robots: dict[str, list[str]] = {}
    rt = t("robots")
    for h, p in zip(rt["host"], rt["disallow_prefix"]):
        robots.setdefault(h, []).append(p)
    pt = t("politeness")
    politeness = {h: (int(r), int(b)) for h, r, b in zip(pt["host"], pt["rate_per_epoch"], pt["burst"])}
    seeds = t("seeds")["url"]

    valid_memo: dict[str, bool] = {}

    def valid(iid: str) -> bool:
        # same checks as sim._validate; a pure function of the image id
        if iid not in valid_memo:
            import numpy as np

            ok = False
            if iid in images:
                b, w, h, fmt, cap = images[iid]
                if cap == f"img {iid} {w}x{h} {fmt}":
                    try:
                        px = codec.decode(b, w, h, fmt)
                    except Exception:
                        px = None
                    if px is not None:
                        ref = np.frombuffer(truth[iid], dtype=np.uint8).reshape(h, w, 3)
                        if fmt in ("raw", "rlez"):
                            ok = bool(np.array_equal(px, ref))
                        else:
                            ok = codec.psnr(px, ref) >= PSNR_MIN_DB
            valid_memo[iid] = ok
        return valid_memo[iid]

    seen: set[int] = set()
    frontier: dict[int, tuple[str, str]] = {}
    tokens: dict[str, tuple[int, int]] = {}
    granted_urls: dict[int, str] = {}
    rng = random.Random(seed)
    universe = sorted(links)
    epochs, expiry, ordering0 = [], [], []

    def avail(host: str, e: int) -> int:
        rate, burst = politeness.get(host, (cfg.default_rate, cfg.default_burst))
        if host in tokens:
            tk, ep = tokens[host]
            return min(burst, tk + rate * (e - ep))
        return min(burst, rate * (e + 1))

    pending = list(seeds)
    for e in range(cfg.epochs):
        batch: dict[int, str] = {}
        for u in pending:
            c = urlnorm.canonicalize(u)
            if c is not None:
                batch.setdefault(xxh64_str(c), c)
        enq = blocked = 0
        for hsh, c in batch.items():
            if hsh in seen:
                continue
            seen.add(hsh)
            host, path = urlnorm.host_of(c), urlnorm.path_of(c)
            if any(path.startswith(p) for p in robots.get(host, ())):
                blocked += 1
                continue
            frontier[hsh] = (c, host)
            enq += 1
        pending = []

        target = epoch_target(e)
        cands = sorted((xor_dist_signed(h, target), h, c, host) for h, (c, host) in frontier.items())
        av = {host: avail(host, e) for _d, _h, _c, host in cands}
        taken: dict[str, int] = {}
        eligible = []
        for d, hsh, c, host in cands:
            k = taken.get(host, 0)
            if k < av[host]:
                taken[host] = k + 1
                eligible.append((hsh, c, host))
        granted = eligible[: cfg.global_k]
        g_by_host: dict[str, int] = {}
        for _h, _c, host in granted:
            g_by_host[host] = g_by_host.get(host, 0) + 1
        for host in av:
            tokens[host] = (av[host] - g_by_host.get(host, 0), e)

        n_valid = n_invalid = 0
        for rank, (hsh, c, _host) in enumerate(granted, start=1):
            if e == 0:
                ordering0.append((e, rank, c))
            del frontier[hsh]
            granted_urls[hsh] = c
            if c in links and valid(links[c][1]):
                n_valid += 1
            else:
                n_invalid += 1
            if c in links:
                pending.extend(links[c][0])
        epochs.append(
            {
                "epoch": e,
                "enqueued": enq,
                "blocked_robots": blocked,
                "candidates": len(cands),
                "deferred_politeness": len(cands) - len(eligible),
                "capped_global": len(eligible) - len(granted),
                "scheduled": len(granted),
                "fetched": n_valid,
                "fetch_invalid": n_invalid,
            }
        )
        if expire_from is None or e < expire_from:
            continue
        hits = rng.sample(sorted(h for h in granted_urls if h in seen and h not in frontier), expire_batch)
        misses = []
        for u in rng.sample(universe, len(universe)):
            if len(misses) == expire_batch:
                break
            if xxh64_str(u) not in seen:
                misses.append(u)
        urls = [granted_urls[h] for h in hits] + misses
        rng.shuffle(urls)
        seen.difference_update(hits)
        expiry.append({"after_epoch": e, "urls": urls, "expired": len(hits)})

    shards: dict[int, list[int]] = {}
    for h in seen:
        shards.setdefault(shard_of(h, cfg.nshards), []).append(h)
    return {
        "epochs": epochs,
        "ordering0": ordering_digest(ordering0),
        "seen": seen_digest(shards),
        "expiry": expiry,
    }


def crawl_failures(ref: dict, got: dict) -> list[str]:
    """Mismatches between a crawl reference and the engine's results.

    ``got`` has the reference's shape: ``epochs`` (metric dicts),
    ``ordering0``, ``seen`` (digest) and ``expired`` (expire_urls returns).
    Each entry names one failed operation: an epoch or an expiry call. A
    wrong warm-up ordering fails epoch 0; a wrong final seen set fails the
    last epoch."""
    bad: dict[str, str] = {}
    n = len(got["epochs"])
    for want, have in zip(ref["epochs"], got["epochs"]):
        if _epoch_record(have) != want:
            bad[f"epoch {want['epoch']}"] = f"metrics {_epoch_record(have)} != {want}"
    if got["ordering0"] != ref["ordering0"]:
        bad.setdefault("epoch 0", "warm-up ordering differs")
    if n and got["seen"] != ref["seen"]:
        bad.setdefault(f"epoch {n - 1}", "final seen set differs")
    for want, have in zip(ref["expiry"], got["expired"]):
        if int(have) != want["expired"]:
            bad[f"expire after {want['after_epoch']}"] = f"returned {have} != {want['expired']}"
    return [f"{k}: {v}" for k, v in bad.items()]


def df_digest(df) -> dict:
    """Row count and order-insensitive digest of a DataFrame, in one job.

    Columns are taken in name order. Top-level floating values are rounded
    to 9 decimals so a re-ordered floating sum cannot flip the digest;
    nested and map values are hashed through their JSON form."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, DoubleType, FloatType, MapType, StructType

    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name.lower()):
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (DoubleType, FloatType)):
            c = F.round(c.cast("double"), 9)
        elif isinstance(f.dataType, (ArrayType, MapType, StructType)):
            c = F.to_json(c)
        cols.append(F.coalesce(c.cast("string"), F.lit("\u0000null")))
    row = (
        df.select(F.xxhash64(*cols).cast("decimal(38,0)").alias("h"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s"))
        .collect()[0]
    )
    return {"rows": int(row["n"]), "digest": str(row["s"] or 0)}


def query_failures(ref: dict | None, rows: int, digest: dict | None) -> list[str]:
    """Mismatches of one query's result against its stored reference.
    ``digest`` is None when this run checks only the row count."""
    if ref is None:
        return ["no stored reference"]
    bad = []
    if rows != ref["rows"]:
        bad.append(f"rows {rows} != {ref['rows']}")
    if digest is not None and digest != {"rows": ref["rows"], "digest": ref["digest"]}:
        bad.append(f"digest {digest} != {ref['digest']}")
    return bad
