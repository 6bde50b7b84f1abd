"""RFC 9309 robots.txt parsing + longest-match gating.

The reference crawler has no robots layer (a DHT walker fetches peers, not
HTTP), but BASELINE's north_star names "robots gating" as a first-class
frontier stage; the engine's existing gate (plans/frontier.py robots_agg)
consumes a pre-parsed per-host prefix table. This module supplies the real
thing for a web deployment, split the way the cost splits:

* **parse_robots** — robots.txt TEXT → rules table. Runs once per host
  (robots.txt is fetched per host, so the input cardinality is hosts, not
  URLs); an Arrow-batched ``mapInPandas`` is the right tool — the grammar
  is line-stateful (user-agent group accumulation) and the per-host cost
  is microseconds. Verified against stdlib ``urllib.robotparser`` for the
  prefix subset and against RFC 9309 §2.2/§5 examples for wildcards.

* **robots_gate** — rules table → per-URL allow/deny, the HOT path (runs
  per frontier URL, 10^10 scale). Pure expressions only: rules aggregate
  to one array row per host (tens of rules), one equi-join on ``host``
  (AQE picks broadcast vs shuffle — same adaptive-host-side rule as the
  engine, VERDICT r3 #1), then ``filter`` + ``array_max`` pick the
  RFC 9309 winner: longest (most specific) matching pattern, ``allow``
  winning length ties. No match, or no rules for the host → allowed.

Pattern → regex translation keeps to the subset with identical semantics
in Java regex and RE2/DuckDB: literals escaped, ``*`` → ``.*``, one
trailing ``$`` → end anchor, always start-anchored with ``^``.
"""

from __future__ import annotations

import re
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

RULES_SCHEMA = "host string, pattern string, rx string, spec int, allow boolean"
# the user-agent token this crawler matches robots.txt groups by
AGENT = "magaspark"

# regex metacharacters to neutralize in robots patterns (everything except
# the two robots-special chars * and $, handled structurally below)
_META = re.compile(r"[.^+?{}\[\]|()\\]")


def pattern_to_rx(pattern: str) -> str:
    """RFC 9309 path pattern → anchored regex (Java/RE2-portable subset).

    ``*`` matches any char sequence; a single TRAILING ``$`` anchors the
    end (inner ``$`` are literal, the Google-parser behavior RFC 9309
    inherits); match is always anchored at the path start.
    """
    anchored = pattern.endswith("$")
    body = pattern[:-1] if anchored else pattern
    out = []
    for chunk in body.split("*"):
        out.append(_META.sub(lambda m: "\\" + m.group(0), chunk).replace("$", "\\$"))
    rx = "^" + ".*".join(out)
    return rx + "$" if anchored else rx


def _group_values(text: str, agent: str, value_of: Callable[[str, str], object]) -> list:
    """RFC 9309 group selection over one robots.txt: consecutive
    ``user-agent`` lines open a group sharing the directives that follow;
    all groups matching the product token (case-insensitive exact) MERGE;
    the ``*`` groups apply only when no specific group matched. Each
    directive line becomes ``value_of(key, val)`` (lower-cased key), and a
    None is dropped before it reaches a group, so an invalid value in a
    specific group cannot hide the ``*`` groups. ``#`` starts a comment."""
    agent = agent.lower()
    specific: list = []
    wildcard: list = []
    cur: list[list] = []  # value sinks for the open group
    in_agent_run = False
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key, val = key.strip().lower(), val.strip()
        if key == "user-agent":
            if not in_agent_run:
                cur, in_agent_run = [], True
            if val == "*":
                cur.append(wildcard)
            elif val.lower() == agent:
                cur.append(specific)
            continue
        in_agent_run = False
        v = value_of(key, val)
        if v is not None:
            for sink in cur:
                sink.append(v)
    return specific if specific else wildcard


def parse_robots_text(text: str, agent: str) -> list[tuple[str, str, int, bool]]:
    """One host's robots.txt → [(pattern, rx, spec, allow)] for ``agent``,
    groups selected by the RFC 9309 rules of ``_group_values``. Unknown
    directives and empty-pattern rules are ignored.
    """

    def rule(key: str, val: str) -> tuple[str, bool] | None:
        # an empty pattern is no rule (RFC 9309 §2.2.2)
        return (val, key == "allow") if key in ("allow", "disallow") and val else None

    rules = _group_values(text, agent, rule)
    return [(p, pattern_to_rx(p), len(p), allow) for p, allow in rules]


def parse_robots_delay(text: str, agent: str) -> float | None:
    """One host's robots.txt → effective ``Crawl-delay`` seconds for
    ``agent``, or None when unset.

    Crawl-delay is the de-facto extension (not in RFC 9309 but honored by
    most major crawlers); group selection follows the same RFC rules as
    ``parse_robots_text``. When merged groups disagree the MINIMUM (most
    conservative) delay wins; non-numeric or negative values are ignored
    like any unknown directive.
    """

    def delay(key: str, val: str) -> float | None:
        if key != "crawl-delay":
            return None
        try:
            d = float(val)
        except ValueError:
            return None
        return None if d < 0 else d

    delays = _group_values(text, agent, delay)
    return min(delays) if delays else None


def parse_crawl_delays(df: DataFrame) -> DataFrame:
    """(host, robots_txt) → (host, crawl_delay double) for hosts that set
    one for ``AGENT`` — host-cardinality input, Arrow-batched like ``parse_robots``."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            hosts, delays = [], []
            for host, text in zip(pdf["host"], pdf["robots_txt"]):
                d = parse_robots_delay(text or "", AGENT)
                if d is not None:
                    hosts.append(host)
                    delays.append(d)
            yield pd.DataFrame({"host": hosts, "crawl_delay": delays})

    return df.mapInPandas(fn, "host string, crawl_delay double")


def rates_from_delays(politeness: DataFrame, delays: DataFrame) -> DataFrame:
    """Fold robots ``Crawl-delay`` into the engine's per-host politeness
    table: a host's token-refill rate becomes min(configured rate,
    1/delay) — the crawl never exceeds what the host asked for, and hosts
    without a delay keep their configured rate. Left join on ``host``
    (AQE side choice, same adaptive-host rule as the engine: never force a
    broadcast of unbounded host-cardinality state); a 1e-3/s rate floor
    stops pathological delays so a 10^6-second delay can't divide to denormals.
    """
    d = delays.select("host", F.col("crawl_delay").alias("_cd"))
    return (
        politeness.join(d, "host", "left")
        .withColumn(
            "rate",
            F.when(
                F.col("_cd").isNotNull() & (F.col("_cd") > 0),
                F.least(F.col("rate"), F.greatest(F.lit(1.0) / F.col("_cd"), F.lit(1e-3))),
            ).otherwise(F.col("rate")),
        )
        .drop("_cd")
    )


def parse_robots(df: DataFrame, agent: str = AGENT) -> DataFrame:
    """(host, robots_txt) → RULES_SCHEMA rows, Arrow-batched. Input
    cardinality is hosts (one robots.txt each), so this never touches the
    per-URL hot path; NULL/empty text yields no rules (allow-all)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("host", "pattern", "rx", "spec", "allow")}
            for host, text in zip(pdf["host"], pdf["robots_txt"]):
                if not text:
                    continue
                for p, rx, spec, allow in parse_robots_text(text, agent):
                    rows["host"].append(host)
                    rows["pattern"].append(p)
                    rows["rx"].append(rx)
                    rows["spec"].append(spec)
                    rows["allow"].append(allow)
            yield pd.DataFrame(rows)

    return df.mapInPandas(fn, RULES_SCHEMA)


def robots_gate(urls: DataFrame, rules: DataFrame) -> DataFrame:
    """Per-URL RFC 9309 verdict as a pure-expression plan (the 10^10-row
    hot path): appends ``allowed`` to ``urls`` (``host``, ``path``).
    ``rules`` is RULES_SCHEMA (or any frame with host/rx/spec/
    allow). Longest-match wins; ``allow`` wins specificity ties (struct
    max over (spec, allow)); no matching rule or unlisted host → allowed.
    """
    per_host = rules.groupBy(F.col("host").alias("_rhost")).agg(
        F.collect_list(F.struct("spec", "allow", "rx")).alias("_rules")
    )
    joined = urls.join(per_host, urls["host"] == per_host["_rhost"], "left")
    matched = F.filter(
        "_rules", lambda r: F.regexp_like(F.col("path"), r["rx"])
    )
    winner = F.array_max(matched)
    verdict = F.when(
        F.col("_rules").isNull() | (F.size(matched) == 0), F.lit(True)
    ).otherwise(winner["allow"])
    return joined.withColumn("allowed", verdict).drop("_rhost", "_rules")


def sitemaps_from_robots(robots: DataFrame) -> DataFrame:
    """RFC 9309 §2.3 ``Sitemap:`` lines → (host, sitemap_url) rows, pure
    expressions — the third discovery channel's SEED list: robots.txt is
    already fetched once per host for the gate, and its Sitemap records
    (case-insensitive key, one absolute URL per line, NOT scoped to any
    user-agent group) point at the sitemap files whose fetched bodies
    links.parse_sitemap then explodes into frontier URLs. Input
    cardinality is hosts, and unlike the rule grammar this directive is
    line-stateless, so it stays out of the Arrow parser and inside
    whole-stage codegen (``regexp_extract_all`` + explode; the regex is
    backreference-free for the DuckDB oracle's RE2)."""
    urls = F.regexp_extract_all(
        F.col("robots_txt"), F.lit(r"(?im)^[ \t]*sitemap[ \t]*:[ \t]*(\S+)"), 1
    )
    return robots.select(
        F.col("host"), F.explode(urls).alias("sitemap_url")
    ).filter(F.length("sitemap_url") > 0)
