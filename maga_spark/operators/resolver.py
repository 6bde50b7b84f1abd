"""O-50: the DNS-resolve stage — the reference resolves each bootstrap host
once at startup and drops unresolvable ones (maga/crawler.py:76-84,
``socket.gethostbyname`` inside try/except gaierror).

Spark shape: resolution is an external side-effecting lookup, so it runs as
``mapInPandas`` over the DISTINCT host set (never per URL row) with a
per-partition memo cache, and the tiny (host, ip) verdict table broadcasts
back onto the stream — the same distinct-then-broadcast-back pattern as
payload validation (functions/payload.py). Unresolvable hosts yield NULL ip
(callers drop them, mirroring the reference's silent skip).

The default resolver is a deterministic fake (md5-derived ``10.x.y.z``) so
tests and the driver oracle can reproduce results without a network; inject
a real ``socket.gethostbyname``-style callable in production.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def socket_resolve(host: str) -> str | None:
    """The production resolver — ``socket.gethostbyname`` exactly as the
    reference does at startup (maga/crawler.py:80), returning None on
    gaierror (the silent-skip branch :82-84). NEVER the default: tests and
    the driver oracle stay hermetic on ``fake_resolve``; opt in with
    ``resolve_hosts(df, resolver=socket_resolve)``. Runs executor-side
    inside the distinct-host ``mapInPandas`` stage — O(distinct hosts)
    lookups, memoized per partition."""
    import socket

    if host is None:
        return None
    try:
        return socket.gethostbyname(host)
    except (OSError, UnicodeError):
        # gaierror is an OSError subclass; UnicodeError is what CPython's
        # idna codec raises for hostile/overlong crawled hostnames (labels
        # > 63 chars) BEFORE the resolver is even consulted. Either way the
        # reference's silent-skip branch applies (maga/crawler.py:82-84) —
        # one bad hostname must not fail the whole mapInPandas task.
        return None


def fake_resolve(host: str) -> str | None:
    """Deterministic sandbox resolver: 10.x.y.z from md5(host) bytes;
    hosts containing 'invalid' fail (the gaierror branch)."""
    if host is None or "invalid" in host:
        return None
    d = hashlib.md5(host.encode("utf-8")).digest()
    return f"10.{d[0]}.{d[1]}.{d[2]}"


def resolve_hosts(df: DataFrame, resolver: Callable[[str], str | None] | None = None) -> DataFrame:
    """Append ``ip`` resolved from ``host``; NULL when resolution
    fails. Resolution cost is O(distinct hosts), not O(rows)."""
    fn = resolver or fake_resolve
    distinct = df.select("host").distinct()

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cache: dict[str, str | None] = {}
        for pdf in batches:
            ips = []
            for h in pdf["host"]:
                if h not in cache:
                    try:
                        cache[h] = fn(h)
                    except Exception:
                        cache[h] = None  # gaierror-style silent skip
                ips.append(cache[h])
            yield pd.DataFrame({"host": pdf["host"], "ip": ips})

    resolved = distinct.mapInPandas(gen, "host string, ip string")
    return df.join(F.broadcast(resolved), "host", "left")
