"""WARC (ISO 28500) record splitting, parsing, and CDX capture indexing.

WARC is the interchange format every production crawl writes and every
training-data pipeline reads (Common Crawl publishes ~100 TB of it per
month) — a crawl engine that schedules fetches (plans/frontier.py) but
cannot round-trip its own archive format stops one step short of being a
pipeline. The reference stores fetched payloads ad hoc; this module is a
beyond-reference extension in the SURVEY §2.10 family (X-43/X-44).

Three layers, all pure Spark expressions — zero Python on any path:

* ``warc_record_offsets`` / ``split_warc`` — split a string of
  concatenated WARC records into one row per record. WARC records are
  LENGTH-PREFIXED (``Content-Length`` names the exact payload size;
  payload may contain anything, including the bytes ``WARC/1.0\\r\\n``),
  so delimiter splitting is WRONG by construction. The offset chase —
  "read Content-Length from the current header, hop over the payload,
  land on the next record" — is a loop, but a loop with a per-row bound,
  so it fits ``F.aggregate`` over a ``sequence``: the accumulator is the
  array of record offsets and each step appends one hop. Whole-stage
  codegen keeps it JVM-side; no UDF, no mapPartitions.
* ``parse_warc_records`` — header fields + the embedded HTTP response
  (status, Content-Type, body) via anchored regexp_extract, all
  backreference-free so the DuckDB oracle runs the IDENTICAL patterns
  under RE2.
* ``surt_key`` / ``cdx_index`` — the standard web-archive lookup
  artifact: one row per response capture, keyed by SURT (scheme-dropped,
  host-reversed canonical URL — 'com,example)/path'), with timestamp,
  status, MIME, payload digest, and the record's (offset, length) into
  its WARC file, globally sorted by (surt, ts). This is what OpenWayback
  / pywb binary-search over; producing it IS the archive index build.

Scale shape: splitting is per-file-row independent (embarrassingly
parallel — real archives arrive as ~1 GiB files, each one row from a
binaryFile/text source, so the ``max_records`` bound is per file chunk,
not per corpus); parsing is in-row expressions; the only shuffle in
``cdx_index`` is the final global sort's range exchange, which is the
contract (CDX files ARE sorted). Offset arithmetic uses ``locate(sub,
str, pos)`` — scan-from-position, never substring-the-tail — so a file
with R records costs O(R · header_scan + file_len), not O(R · file_len).

Character vs byte caveat (documented, not hidden): these operators take
a STRING column, so ``Content-Length`` is honored in characters. For
ASCII/Latin-1 archives (and the fixtures) chars == bytes; a multi-byte
corpus must decode payloads after an offset pass over the raw binary —
the expression shape is identical, Spark just lacks byte-wise locate on
binary today.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "warc_record_offsets",
    "split_warc",
    "parse_warc_records",
    "surt_key",
    "cdx_index",
]

_CRLF2 = "\r\n\r\n"

# header-field patterns: anchored to a line start (after \r\n), value up
# to end-of-line; (?i) + non-capturing groups only — RE2-portable for the
# DuckDB oracle (no backreferences, no lookaround)
_CLEN_RX = r"(?i)\r\ncontent-length:[ \t]*([0-9]+)"


def _substr(s: Column, pos: Column, length: Column) -> Column:
    """substring with COLUMN pos/len (the pyspark wrapper wants ints)."""
    return F.call_function("substring", s, pos, length)


def _locate(needle: str, s: Column, pos: Column) -> Column:
    """locate with a COLUMN start position (scan from pos, no tail copy)."""
    return F.call_function("locate", F.lit(needle), s, pos)


def _hop(data: Column, off: Column) -> Column:
    """Offset of the record AFTER the one starting at 1-based ``off``:
    find the header/payload blank line, read Content-Length, skip payload
    and the two trailing CRLFs (ISO 28500 §4: every record ends with
    exactly two). NULL when the header is malformed (no blank line or no
    Content-Length)."""
    blank = _locate(_CRLF2, data, off)
    header = _substr(data, off, blank - off)
    clen = F.regexp_extract(header, _CLEN_RX, 1)
    clen = F.when(clen != "", clen.cast("long"))
    return F.when(blank > 0, blank + 4 + clen + 4)


def warc_record_offsets(data: Column, max_records: int = 1024) -> Column:
    """array<long> of 1-based record start offsets inside ``data``.

    The chase is ``F.aggregate`` over ``sequence(1, max_records)``: the
    accumulator holds the offsets found so far; each step parses the
    LAST offset's header and appends the hop target iff it lands on a
    well-formed next record (``WARC/`` magic within bounds). The first
    step that declines appends a ``-1`` sentinel instead, so every later
    step short-circuits on a cheap ``last < 0`` test — no repeated
    tail scans (CaseWhen evaluates only the matched branch). Records
    beyond ``max_records`` are NOT silently dropped: ``split_warc``
    raises them as ``truncated`` rows (no silent caps)."""
    init = F.when(
        F.substring(data, 1, 5) == "WARC/", F.array(F.lit(1).cast("long"))
    ).otherwise(F.slice(F.array(F.lit(1).cast("long")), 1, 0))

    def step(acc: Column, _i: Column) -> Column:
        last = F.element_at(acc, -1)
        nxt = _hop(data, last)
        ok = (
            nxt.isNotNull()
            & (nxt + 4 <= F.length(data))
            & (_substr(data, nxt, F.lit(5)) == "WARC/")
        )
        return (
            F.when(F.size(acc) == 0, acc)
            .when(last < 0, acc)
            .when(ok, F.concat(acc, F.array(nxt)))
            .otherwise(F.concat(acc, F.array(F.lit(-1).cast("long"))))
        )

    if int(max_records) < 1:
        raise ValueError(f"max_records must be >= 1, got {max_records}")
    steps = int(max_records) - 1  # init already holds record 1's offset
    if steps == 0:
        chased = init
    else:
        # sequence(1, steps) — NOT (1, max_records): Spark's sequence would
        # also happily run DESCENDING if steps were 0, so the degenerate
        # case is handled above instead of fed to it
        chased = F.aggregate(F.sequence(F.lit(1), F.lit(steps)), init, step)
    return F.filter(chased, lambda x: x > 0)


def split_warc(files: DataFrame, max_records: int = 1024) -> DataFrame:
    """One row per WARC record of a ``(file_id, data)`` table: (file_id,
    rec_no, rec_offset, rec_len, record, truncated).

    ``rec_offset``/``rec_len`` are the record's 1-based position and
    extent inside its file — the exact pair a CDX line publishes so a
    replay service can range-read one capture out of a 1 GiB archive
    file without parsing it. ``truncated`` is true on every row of a
    file whose tail was NOT consumed (malformed header mid-file or more
    than ``max_records`` records): downstream must route those files to
    the dead-letter channel, the same no-silent-drop contract as the
    datagram source's malformed-frame counter (O-1/O-7)."""
    data = F.col("data")
    staged = files.select(
        "file_id",
        data.alias("_data"),
        warc_record_offsets(data, max_records).alias("_offs"),
    )
    d = F.col("_data")
    offs = F.col("_offs")
    # end of the LAST record = its own parsed extent (earlier records end
    # where the next begins); the file is clean ONLY when that end is
    # exactly one-past end-of-file — short (garbage tail / record cap) AND
    # long (Content-Length overshooting a torn tail) both flag truncated.
    # NULL data is malformed by definition (coalesce → true), while an
    # EMPTY file is vacuously clean (zero records, nothing torn).
    last_end = F.coalesce(_hop(d, F.element_at(offs, -1)), F.element_at(offs, -1))
    truncated = F.when(
        F.size(offs) == 0, F.coalesce(F.length(d) > 0, F.lit(True))
    ).otherwise(last_end != F.length(d) + 1)
    # posexplode_OUTER: a file with no parseable records (not WARC at all)
    # still emits one all-NULL row with truncated=true — the dead-letter
    # contract is "route it", never "vanish it" (same as O-1's malformed
    # datagram counter)
    exploded = staged.withColumn("_truncated", truncated).select(
        "file_id",
        "_data",
        "_offs",
        "_truncated",
        F.posexplode_outer(offs).alias("_i", "_off"),
    )
    off = F.col("_off")
    # F.get is 0-based and NULL out-of-bounds (no ANSI error on the last
    # record, unlike element_at); the last record's extent is its own hop,
    # capped at end-of-file so an overshooting Content-Length (torn tail)
    # yields the bytes that EXIST, not a claimed length past the data
    rec_len = (
        F.least(
            F.coalesce(
                F.get(F.col("_offs"), F.col("_i") + 1),
                _hop(F.col("_data"), off),
            ),
            F.length("_data") + 1,
        )
        - off
    )
    return exploded.select(
        "file_id",
        (F.col("_i") + 1).cast("long").alias("rec_no"),
        off.alias("rec_offset"),
        rec_len.cast("long").alias("rec_len"),
        _substr(F.col("_data"), off, rec_len).alias("record"),
        F.col("_truncated").alias("truncated"),
    )


def _hdr(rec: Column, name: str) -> Column:
    """WARC named-field value: line-anchored, case-insensitive, trimmed.
    Only the WARC header block (before the first blank line) is eligible
    — the payload may contain look-alike lines, so the record is first
    cut at the blank line."""
    blank = F.call_function("locate", F.lit(_CRLF2), rec)
    head = _substr(rec, F.lit(1), blank + 1)
    return F.when(
        F.regexp_extract(head, rf"(?i)\r\n{name}:[ \t]*([^\r\n]+)", 1) != "",
        F.regexp_extract(head, rf"(?i)\r\n{name}:[ \t]*([^\r\n]+)", 1),
    )


def parse_warc_records(records: DataFrame) -> DataFrame:
    """Parsed fields appended to each record row:

    warc_type, target_uri, warc_date (the raw ISO 8601 string — timestamp
    comparison semantics differ across engines, so the portable integer
    ``warc_epoch`` carries the parsed value), content_length, payload,
    and — when the payload is an HTTP response — http_status,
    http_content_type (parameters stripped), http_body (after the HTTP
    header block). Non-response records (request/metadata/warcinfo) get
    NULL http_* fields, same rows kept: record-type routing is the
    caller's dispatch decision (O-12), not a silent filter here."""
    rec = F.col("record")
    blank = F.call_function("locate", F.lit(_CRLF2), rec)
    clen = F.regexp_extract(rec, _CLEN_RX, 1)
    clen = F.when(clen != "", clen.cast("long"))
    payload = _substr(rec, blank + 4, clen)
    wdate = _hdr(rec, "WARC-Date")
    is_http = F.substring(payload, 1, 5) == "HTTP/"
    hblank = F.call_function("locate", F.lit(_CRLF2), payload)
    status = F.regexp_extract(payload, r"^HTTP/[0-9.]+[ \t]+([0-9]{3})", 1)
    ctype = F.regexp_extract(payload, r"(?i)\r\ncontent-type:[ \t]*([^\r\n;]+)", 1)
    return records.select(
        "*",
        F.lower(F.coalesce(_hdr(rec, "WARC-Type"), F.lit(""))).alias("warc_type"),
        _hdr(rec, "WARC-Target-URI").alias("target_uri"),
        wdate.alias("warc_date"),
        F.unix_seconds(
            # try_to_timestamp: a malformed WARC-Date yields NULL instead of
            # failing the job under ANSI mode (dead-letter rows keep flowing)
            F.try_to_timestamp(wdate, F.lit("yyyy-MM-dd'T'HH:mm:ss'Z'"))
        ).alias("warc_epoch"),
        clen.alias("content_length"),
        payload.alias("payload"),
        F.when(is_http & (status != ""), status.cast("int")).alias("http_status"),
        F.when(is_http & (ctype != ""), F.trim(ctype)).alias("http_content_type"),
        F.when(
            is_http & (hblank > 0), _substr(payload, hblank + 4, clen)
        ).alias("http_body"),
    )


def surt_key(uri: Column) -> Column:
    """SURT (Sort-friendly URI Reordering Transform) of an absolute URL:
    lowercase the authority, drop a default port and a leading ``www.``,
    REVERSE the dot-separated host into comma-separated form, append
    ``)`` and the path+query — ``https://www.Example.COM/a?b=1`` →
    ``com,example)/a?b=1``. Reversed hosts make one domain's captures
    (and all its subdomains) a contiguous key range, which is the whole
    point: CDX consumers binary-search and range-scan by prefix, and at
    100 TB a Spark range partition on this key puts each domain's
    history on one partition run."""
    host = F.lower(F.regexp_extract(uri, r"^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1))
    host = F.regexp_replace(host, r":(80|443)$", "")
    host = F.regexp_replace(host, r"^www\.", "")
    rev = F.array_join(F.reverse(F.split(host, r"\.")), ",")
    path = F.regexp_extract(uri, r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    return F.when(host != "", F.concat(rev, F.lit(")"), path))


def cdx_index(parsed: DataFrame) -> DataFrame:
    """CDX capture index over parsed WARC rows: response records only,
    one row per capture — (surt, ts, original_url, mime, status, digest,
    rec_offset, rec_len, file) sorted by (surt, ts).

    ``ts`` is the 14-digit compact timestamp CDX uses
    (YYYYMMDDhhmmss, digits stripped from WARC-Date). ``digest`` is
    md5(http_body) here — classic CDX records sha1-base32; the digest
    column exists for dedup-at-replay and this engine's oracle gate needs
    a function BOTH engines implement bit-equally, so the choice is a
    parameter of the artifact, not a semantic difference. The global
    sort is the artifact's contract (range exchange, then per-partition
    sorted runs — exactly how the real index shards)."""
    resp = parsed.filter(
        (F.col("warc_type") == "response") & F.col("http_status").isNotNull()
    )
    return resp.select(
        surt_key(F.col("target_uri")).alias("surt"),
        F.regexp_replace(F.col("warc_date"), r"[^0-9]", "").alias("ts"),
        F.col("target_uri").alias("original_url"),
        F.coalesce(F.col("http_content_type"), F.lit("unk")).alias("mime"),
        F.col("http_status").alias("status"),
        F.md5(F.coalesce(F.col("http_body"), F.lit(""))).alias("digest"),
        F.col("rec_offset"),
        F.col("rec_len"),
        F.col("file_id").alias("file"),
    ).orderBy("surt", "ts")


def cdx_revisits(cdx: DataFrame) -> DataFrame:
    """WARC ``revisit`` detection over a CDX index (X-45): for every
    capture, decide whether an EARLIER capture of the same URL already
    holds byte-identical content — the standard web-archive dedup (WARC
    1.1 §6.7.2 "revisit" records with the ``identical-payload-digest``
    profile, the policy Heritrix/Internet Archive crawls store by). A
    revisit row keeps only a pointer at the original capture's (file,
    offset), so a weekly 100-TB recrawl whose pages mostly didn't change
    stores megabytes, not terabytes; composes with
    operators/scheduling.revisit_schedule, which decides WHEN to recrawl,
    while this decides WHAT the recrawl must re-store.

    Adds to each capture row: ``revisit`` (an earlier same-(surt, digest)
    capture exists), and the original capture's ``orig_ts`` /
    ``orig_file`` / ``orig_offset`` (= the row's own coordinates for a
    first capture). Order within a duplicate group is the deterministic
    total order (ts, file, rec_offset) — byte-equal reruns at any
    parallelism.

    Scale shape: ONE hash shuffle on (surt, digest) — no global sort, no
    self-join. Group size = number of byte-identical recaptures of one
    URL, bounded by the revisit policy's crawl count, never by corpus
    size; a viral page recrawled daily for a year is a 365-row group."""
    from pyspark.sql import Window

    w = Window.partitionBy("surt", "digest").orderBy("ts", "file", "rec_offset")
    return (
        cdx.withColumn("_rn", F.row_number().over(w))
        .withColumn("orig_ts", F.first("ts").over(w))
        .withColumn("orig_file", F.first("file").over(w))
        .withColumn("orig_offset", F.first("rec_offset").over(w))
        .withColumn("revisit", F.col("_rn") > 1)
        .drop("_rn")
    )
