"""Link extraction — the URL-crawl discovery channel.

The reference's discovery fan-in is DHT gossip: compact node blobs exploded
from responses and announce edges (maga/crawler.py:121-126,156-163 →
SURVEY.md O-13/O-26/O-39). A URL crawler's equivalent is extracting
``href``s from fetched pages and resolving them against the page URL. This
module does both as PURE expressions — regexp_extract_all for the scan,
string cases for RFC 3986 §5.2 reference resolution, and a fold
(``aggregate`` over the split segments) for §5.2.4 remove_dot_segments —
so link explosion runs inside whole-stage codegen on the 10^10-row fetch
output, no Python in the loop. Discovered links feed the same absorb →
anti-join-seen → schedule path as every other channel (O-39).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from maga_spark.plans.ckpt import local_ckpt, release

from maga_spark.functions.scalar import url_canonicalize

# href attribute values in single or double quotes, case-insensitive
HREF_RX = r"""(?i)href\s*=\s*["']([^"']*)["']"""

# schemes we never enqueue (non-fetchable or non-HTTP)
_SKIP_RX = r"(?i)^(javascript|mailto|tel|data|ftp):"


def remove_dot_segments(path: Column) -> Column:
    """RFC 3986 §5.2.4 as a pure-expression fold: split on '/', push
    normal segments, pop on '..', drop on '.' — the output buffer is the
    fold accumulator. Empty inner segments ('//' runs) are preserved like
    the RFC's output of merge (they are distinct path segments); a
    trailing '/' survives via the trailing empty segment."""
    segs = F.split(path, "/")
    folded = F.aggregate(
        segs,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(s == ".", acc)
        .when(s == "..", F.slice(acc, F.lit(1), F.greatest(F.size(acc) - 1, F.lit(0))))
        .otherwise(F.concat(acc, F.array(s))),
    )
    # leading empty segment (absolute path) is re-added by the join below
    return F.concat(F.lit("/"), F.array_join(F.filter(
        folded, lambda s, i: (i > 0) | (s != F.lit(""))
    ), "/"))


def resolve_href(base_canon: Column, href: Column) -> Column:
    """RFC 3986 §5.2 reference resolution against a CANONICAL base URL,
    restricted to the fetchable subset: absolute http(s) passes through,
    protocol-relative inherits the base scheme, root-relative and
    path-relative merge with the base (dot segments removed); fragments,
    empty hrefs, and non-fetchable schemes (mailto/javascript/...) → NULL.
    The result is re-canonicalized, so the output is idempotent under the
    engine's identity rules (O-14)."""
    h = F.trim(href)
    scheme = F.regexp_extract(base_canon, r"^([a-z0-9+.\-]+)://", 1)
    origin = F.regexp_extract(base_canon, r"^([a-z0-9+.\-]+://[^/?#]+)", 1)
    base_path = F.regexp_extract(base_canon, r"^[a-z0-9+.\-]+://[^/?#]+([^?#]*)", 1)
    # directory of the base path ('' → '/')
    base_dir = F.regexp_replace(
        F.when(base_path == "", F.lit("/")).otherwise(base_path), r"[^/]*$", ""
    )
    # dot-segment removal applies to the PATH only (RFC 3986 §5.2.2):
    # split the reference into path and query, drop any fragment
    hpath = F.regexp_extract(h, r"^([^?#]*)", 1)
    hquery = F.regexp_extract(h, r"(\?[^#]*)", 1)
    base_path_n = F.when(base_path == "", F.lit("/")).otherwise(base_path)
    resolved = (
        F.when(h.rlike(_SKIP_RX), F.lit(None).cast("string"))
        .when((h == "") | h.startswith("#"), F.lit(None).cast("string"))
        .when(h.rlike(r"(?i)^https?://"), h)
        .when(h.startswith("//"), F.concat(scheme, F.lit(":"), h))
        # any OTHER scheme'd reference (ftps:, file:, ws:, ...) is
        # non-fetchable: without this catch-all it would fall into the
        # path-relative branch and fabricate garbage like
        # 'https://host/dir/file:///etc' (RFC 3986 §4.2: a colon before
        # the first '/' marks an absolute reference, never a relative one)
        .when(h.rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*:"), F.lit(None).cast("string"))
        # query-only reference (RFC 3986 §5.3: empty path + defined query
        # keeps the base path UNCHANGED — not the base directory)
        .when(
            (hpath == "") & (hquery != ""), F.concat(origin, base_path_n, hquery)
        )
        .when(h.startswith("/"), F.concat(origin, remove_dot_segments(hpath), hquery))
        .otherwise(
            F.concat(origin, remove_dot_segments(F.concat(base_dir, hpath)), hquery)
        )
    )
    return url_canonicalize(resolved)


def extract_links(pages: DataFrame) -> DataFrame:
    """(page, html) → one row per distinct resolved link: regexp scan →
    explode → resolve → canonicalize → drop nulls. The explode is the only
    row-multiplying step and feeds straight into the frontier absorb's
    dedup/anti-join, mirroring the compact-node explode O-13."""
    hrefs = F.regexp_extract_all(F.col("html"), F.lit(HREF_RX), 1)
    return (
        pages.select(F.col("url_canon"), F.explode(hrefs).alias("_href"))
        .withColumn("link", resolve_href(F.col("url_canon"), F.col("_href")))
        .filter(F.col("link").isNotNull())
        .select("url_canon", "link")
        .distinct()
    )


def urls_from_links(links: DataFrame) -> DataFrame:
    """Bridge extracted links into the crawl engine's absorb input (one
    ``url`` column — the same contract as streaming.ingest's
    urls_from_announces / urls_from_nodes): fetched pages' hrefs become
    frontier candidates and flow through canonicalize → seen anti-join →
    robots → politeness like every other discovery channel (O-39)."""
    return links.select(F.col("link").alias("url"))


def resolve_redirects(redirects: DataFrame, max_hops: int = 32) -> DataFrame:
    """Follow HTTP-redirect chains to their terminal URL in O(log L)
    shuffles — (src, dst) one-hop map → (src, final_url, hops, is_cycle).

    A crawl frontier must canonicalize THROUGH redirects (the page
    identity is the terminal URL, or the seen-set double-counts every
    301-chain; the reference's analog is the canonical infohash key,
    maga/utils.py:7-11). Following chains hop-by-hop is O(L) self-joins —
    at 10^10 URLs with chains of 20+, that is 20+ full shuffles. Pointer
    doubling (the same log-round trick as connected_components) squares
    the reach each round: round k knows where every src lands after up to
    2^k hops, so ``ceil(log2(max_hops))`` equi-joins resolve every chain
    up to ``max_hops``, each join hash-partitioned on the current target.

    Semantics: the one-hop map is made functional deterministically
    (duplicate src → min(dst), mirroring the engine's canonical-min
    convention). A chain still pointing at a redirecting URL after
    ``max_hops`` is reported ``is_cycle=true`` with NULL final/hops —
    real cycles AND over-cap chains alike, exactly the "too many
    redirects" abandonment every production fetcher applies (browsers cap
    near 20). ``hops`` is the exact chain length for resolved rows
    (doubling adds reach lengths, so counts stay exact). Lineage is
    truncated per round with localCheckpoint (reliable checkpointing on a
    real cluster)."""
    import math

    hop1 = local_ckpt(
        redirects.groupBy(F.col("src").alias("s")).agg(F.min(F.col("dst")).alias("t"))
    )
    f = hop1.withColumn("hops", F.lit(1).cast("long"))
    for _ in range(max(1, math.ceil(math.log2(max(2, max_hops))))):
        g = f.select(
            F.col("s").alias("_s2"), F.col("t").alias("_t2"), F.col("hops").alias("_h2")
        )
        nxt = local_ckpt(
            f.join(g, f["t"] == g["_s2"], "left").select(
                "s",
                F.coalesce(F.col("_t2"), F.col("t")).alias("t"),
                (F.col("hops") + F.coalesce(F.col("_h2"), F.lit(0))).alias("hops"),
            )
        )
        release(f)
        f = nxt
    release(hop1)
    # f keeps hop1's rows (left join): its src column IS the redirecting set
    dom = f.select(F.col("s").alias("t")).withColumn("_redirects", F.lit(True))
    unresolved = F.coalesce(F.col("_redirects"), F.lit(False)) | (
        F.col("hops") > max_hops
    )
    return f.join(dom, "t", "left").select(
        F.col("s").alias("src"),
        F.when(~unresolved, F.col("t")).alias("final_url"),
        F.when(~unresolved, F.col("hops")).cast("long").alias("hops"),
        unresolved.alias("is_cycle"),
    )


# sitemaps.org <loc> entries; non-greedy body, whitespace-tolerant.
# NO backreferences (the DuckDB oracle's RE2 engine has none).
SITEMAP_LOC_RX = r"(?is)<loc>\s*(.*?)\s*</loc>"


def xml_unescape(col: Column) -> Column:
    """Undo the five predefined XML entities (sitemap <loc> values MUST
    escape '&' per sitemaps.org). ``&amp;`` is decoded LAST so a literal
    ``&amp;lt;`` round-trips to ``&lt;`` and not to ``<`` — the same
    fixed order the oracle's replace chain uses."""
    c = F.replace(col, F.lit("&lt;"), F.lit("<"))
    c = F.replace(c, F.lit("&gt;"), F.lit(">"))
    c = F.replace(c, F.lit("&quot;"), F.lit('"'))
    c = F.replace(c, F.lit("&apos;"), F.lit("'"))
    return F.replace(c, F.lit("&amp;"), F.lit("&"))


def parse_sitemap(pages: DataFrame) -> DataFrame:
    """Sitemap XML → (sitemap_url, loc, is_index) rows, pure expressions.

    Sitemaps are the crawl frontier's SECOND discovery channel next to
    href extraction (extract_links): robots.txt advertises them
    (operators/robots.py parses the ``Sitemap:`` line per RFC 9309 §2.3),
    and a polite crawler seeds each host's frontier from them before
    spending fetch budget on link walking. ``is_index`` marks
    <sitemapindex> documents, whose <loc>s are MORE sitemaps to fetch
    (one recursion level, capped at 50k locs/file by the protocol) rather
    than page URLs — the caller routes them back to the fetch queue, same
    shape as the reference routing ``r.nodes`` blobs back into the ping
    loop vs announces into storage (maga/crawler.py:121-126 vs :156-163).

    Scale shape: regexp_extract_all + explode inside whole-stage codegen
    — the body column is scanned once per page and never shuffled (only
    the extracted locs move). Entity-unescape happens AFTER extraction,
    on the short loc strings. Output locs feed urls_from_links → the
    absorb like every discovery channel (O-39)."""
    locs = F.regexp_extract_all(F.col("body"), F.lit(SITEMAP_LOC_RX), 1)
    is_index = F.col("body").rlike(r"(?is)<\s*sitemapindex[\s>]")
    return (
        pages.select(
            F.col("url").alias("sitemap_url"),
            is_index.alias("is_index"),
            F.explode(locs).alias("_raw"),
        )
        .filter(F.length("_raw") > 0)
        .select(
            "sitemap_url",
            xml_unescape(F.col("_raw")).alias("loc"),
            "is_index",
        )
    )


# whole <a …>…</a> elements; backreference-free and non-greedy so the
# identical pattern runs under DuckDB's RE2 in the oracle
ANCHOR_RX = r"""(?is)<a\b[^>]*\bhref\s*=\s*["'][^"']*["'][^>]*>.*?</a\s*>"""


def extract_anchors(pages: DataFrame) -> DataFrame:
    """(page, html) → (page, link, anchor_text) — link extraction WITH the
    anchor's visible text, the classic web-scale relevance signal (anchor
    text describes the TARGET page; aggregated per target it is a labeled
    text corpus the target's own content can't provide — the signal behind
    anchor-text retrieval since TREC, and a caption-like supervision
    source for training data).

    ``regexp_extract_all`` returns ONE capture group, so the element scan
    keeps whole ``<a …>…</a>`` matches and a second per-element pass
    (cheap: elements are tiny) pulls href and inner text apart; the inner
    markup (``<b>…``) is stripped with the same tag regex as
    ``text.html_to_text`` and whitespace-collapsed. Pure expressions
    end-to-end; empty anchor texts (image links) survive as ''."""
    anchors = F.regexp_extract_all(F.col("html"), F.lit(ANCHOR_RX), 0)
    el = F.col("_el")
    href = F.regexp_extract(el, r"""(?is)\bhref\s*=\s*["']([^"']*)["']""", 1)
    inner = F.regexp_extract(el, r"(?is)>(.*)</a\s*>$", 1)
    text = F.trim(
        F.regexp_replace(F.regexp_replace(inner, r"(?s)<[^>]*>", " "), r"\s+", " ")
    )
    return (
        pages.select(F.col("url_canon"), F.explode(anchors).alias("_el"))
        .select(
            F.col("url_canon"),
            resolve_href(F.col("url_canon"), href).alias("link"),
            text.alias("anchor_text"),
        )
        .filter(F.col("link").isNotNull())
    )


def anchor_text_profile(anchors: DataFrame) -> DataFrame:
    """Aggregate anchor texts per TARGET url → (link, n_refs, top_terms):
    inbound-reference count and the 3 most frequent lower-cased
    anchor terms (count DESC, term ASC — a pure-integer order, no float
    tie-break). Two map-side-combinable aggregations + one small window
    over per-(link, term) rows already reduced to ≤ vocab cardinality —
    the same shape as text.tfidf_top_terms. The profile row is the
    target-page label a curation pipeline joins on before the page is
    even fetched."""
    from pyspark.sql import Window

    terms = anchors.select(
        "link",
        F.explode(F.split(F.lower(F.trim(F.col("anchor_text"))), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    counts = terms.groupBy("link", "term").agg(F.count("*").alias("tf"))
    w = Window.partitionBy("link").orderBy(F.col("tf").desc(), F.col("term").asc())
    tops = (
        counts.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= 3)
        .groupBy("link")
        .agg(F.array_sort(F.collect_list(F.struct("_rk", "term"))).alias("_tt"))
        .select("link", F.transform("_tt", lambda s: s["term"]).alias("top_terms"))
    )
    refs = anchors.groupBy("link").agg(
        F.count("*").cast("long").alias("n_refs")
    )
    return refs.join(tops, "link", "left").select(
        "link", "n_refs", F.coalesce("top_terms", F.array().cast("array<string>")).alias("top_terms")
    )


def url_template(url_col: Column) -> Column:
    """Collapse a URL to its structural TEMPLATE: lower-cased, digit runs
    → ``N``, 8+-char hex runs → ``H``, query VALUES → ``V`` (keys kept).
    ``/item/123?id=abc9f3310d2e&page=7`` and ``/item/999?id=77ddea10c001&
    page=2`` collapse to the same family — the grouping key under which
    crawler traps (calendars, faceted search, session-id mills) become
    visible as a single template with unbounded instance counts. Pure
    expressions; order of rewrites matters (hex first — a hex run may
    contain digits)."""
    t = F.lower(url_col)
    t = F.regexp_replace(t, r"[0-9a-f]{8,}", "H")
    t = F.regexp_replace(t, r"[0-9]+", "N")
    t = F.regexp_replace(t, r"=[^&#]*", "=V")
    return t


def detect_traps(fetches: DataFrame, min_urls: int = 20, max_content_ratio: int = 4) -> DataFrame:
    """Crawler-trap detection per URL template →
    ``(template, n_urls, n_content, is_trap)``.

    The failure mode: a calendar, faceted search, or session-id generator
    manufactures unbounded DISTINCT URLs over a tiny set of DISTINCT
    contents, and a frontier that treats URLs as the unit of work drowns
    in one host's template (the reference never meets this — a DHT's
    keyspace is fixed at 2^160 and uniform, maga/crawler.py:56 — but a
    10^10-URL web frontier lives or dies by it). Signal: within one
    ``url_template`` family, ``n_urls ≥ min_urls`` AND
    ``n_urls > max_content_ratio · n_content`` — many URLs, few contents,
    all in exact integers. Flagged templates feed the absorb as a
    broadcast deny-list (same shape as the robots gate) so the trap is
    cut off at discovery, before fetch budget burns.

    Scale shape: one map-side-combinable groupBy on the template; both
    counts are exact distincts WITHIN the already-grouped family (the
    family is the shuffle key — no global distinct)."""
    t = fetches.select(
        url_template(F.col("url")).alias("template"),
        F.col("url").alias("_u"),
        F.col("content_hash").alias("_c"),
    )
    return (
        t.groupBy("template")
        .agg(
            F.countDistinct("_c").cast("long").alias("n_content"),
            F.countDistinct("_u").cast("long").alias("n_urls"),
        )
        .select(
            "template",
            "n_urls",
            "n_content",
            (
                (F.col("n_urls") >= min_urls)
                & (F.col("n_urls") > max_content_ratio * F.col("n_content"))
            ).alias("is_trap"),
        )
    )


# ------------------------------------------------- registrable domains (PSL)

# Compact default suffix set for tests/fixtures — the real deployment
# passes the full Mozilla Public Suffix List (a few thousand rows; it
# compiles into the same literal-array expression). Multi-label entries
# matter: politeness and budgets keyed on "co.uk" alone would lump every
# British site into one queue.
DEFAULT_PUBLIC_SUFFIXES: tuple[str, ...] = (
    "com", "org", "net", "edu", "gov", "io", "info", "example",
    "co.uk", "org.uk", "ac.uk", "com.au", "net.au", "co.jp", "com.br",
    "github.io", "blogspot.com",
)


def registrable_domain(
    host_col: Column,
    suffixes: tuple[str, ...] = DEFAULT_PUBLIC_SUFFIXES,
) -> Column:
    """Registrable domain (eTLD+1) of a hostname under a public-suffix
    list — the key per-site crawl policy should group by: per-HOST
    politeness treats ``a.blogspot.com`` and ``b.blogspot.com`` as one
    site's subdomains or ``news.bbc.co.uk`` and ``www.bbc.co.uk`` as two
    sites, both wrong ways around. PSL semantics: the LONGEST listed
    suffix matching the host's trailing labels wins, the registrable
    domain is that suffix plus one more label; an unlisted TLD falls back
    to the implicit ``*`` rule (last label is the suffix). NULL when the
    host IS a suffix (nothing registered), has no extra label, or is
    blank.

    Pure expressions: split on dots, compare the last-k label joins
    against a literal array, longest k first — O(max-suffix-depth) string
    compares per row, zero shuffles, zero Python, codegen-friendly. The
    host is lowercased and a single trailing dot (FQDN form) dropped
    first."""
    if not suffixes:
        raise ValueError("suffixes must be non-empty")
    max_k = max(s.count(".") + 1 for s in suffixes)
    sufs = F.array(*[F.lit(s) for s in suffixes])
    h = F.regexp_replace(F.lower(F.trim(host_col)), r"\.$", "")
    labels = F.split(h, r"\.")
    n = F.size(labels)
    # longest listed suffix depth, else 1 (the implicit * rule)
    matched = F.lit(1)
    for k in range(2, max_k + 1):
        # greatest() keeps the slice start >= 1 even when n < k — slice
        # throws on start 0, and And-short-circuit is not a contract worth
        # leaning on through codegen
        cand = F.concat_ws(".", F.slice(labels, F.greatest(n - k + 1, F.lit(1)), k))
        matched = F.when(
            (n >= k) & F.array_contains(sufs, cand), F.lit(k)
        ).otherwise(matched)
    # listed 1-label suffix OR * fallback both need n >= matched + 1
    reg = F.when(
        (F.length(h) > 0) & (n >= matched + 1),
        F.concat_ws(".", F.slice(labels, F.greatest(n - matched, F.lit(1)), matched + 1)),
    )
    return reg


def domains_of(df: DataFrame) -> DataFrame:
    """Column-level ``registrable_domain`` of ``host`` as a DataFrame stage
    (appends ``reg_domain``)."""
    return df.withColumn("reg_domain", registrable_domain(F.col("host")))
