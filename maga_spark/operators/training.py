"""Training-corpus assembly operators: sequence packing, benchmark
decontamination, and PII redaction.

These are the last-mile stages between a curated document set (dedup.py /
text.py / pipeline.py) and an LLM training run: pack documents into
fixed-length contexts, drop documents that leak evaluation benchmarks, and
scrub contact-style PII. Reference scope note: the reference engine stops at
fetch/store (maga/crawler.py); these stages are the beyond-reference tier
the brief asks for (SURVEY.md §2.10), built as pure column expressions and
single-shuffle aggregations.

Scale shapes (100 TB):
  * ``sequence_pack`` — ONE window cumsum per (stream) partition key; never
    a global single-partition window. Packing streams are independent, so
    the partition key (source, or source+shard) bounds every window group.
  * ``decontaminate`` — shingle equi-join: corpus n-grams ⋈ benchmark
    n-grams on a 60-bit hash. The benchmark side is eval-set-sized (10^3-6
    rows — tiny next to the corpus), so AQE broadcasts it; the corpus side
    is explode → distinct-per-doc → one hash join, never all-pairs.
  * ``pii_redact`` — pure in-row ``regexp_replace``/``regexp_count``
    expressions; zero shuffles, fully pushdown-friendly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from maga_spark.functions.scalar import let_
from maga_spark.operators.dedup import portable_hash64


# ---------------------------------------------------------------- packing


def sequence_pack(
    docs: DataFrame,
    ctx_len: int,
    token_count: Column,
    stream_cols: list[str] | None = None,
) -> DataFrame:
    """GPT-style sequential context packing: concatenate every document's
    tokens in a deterministic order and cut the stream every ``ctx_len``
    tokens. Each document maps to a half-open token interval
    [tok_start, tok_end) of its stream and therefore to the context bins
    ``bin_first .. bin_last`` (documents may straddle a cut — that is the
    point of packing; ``bins_spanned`` > 1 marks the straddlers).

    ``stream_cols`` partitions the corpus into independent packing streams
    (default ``["source"]``). This is the scale contract: the window cumsum
    runs per stream, so no single executor ever sees more than one stream's
    rows — at 100 TB you pack per (source, shard) and each stream is one
    task. A global single-stream pack (stream_cols=[]) would be a
    one-partition window and is deliberately not offered.

    Output: doc_id + stream_cols + n_tokens, tok_start, tok_end,
    bin_first, bin_last, bins_spanned, in ``doc_id`` order within each
    stream. Deterministic for any fixed stream_cols — ``doc_id`` must be
    UNIQUE within a stream (a tie would make the cumsum's row order engine-dependent);
    empty documents occupy zero tokens and are assigned to the bin at
    their offset."""
    if ctx_len <= 0:
        raise ValueError(f"ctx_len must be positive (got {ctx_len})")
    stream_cols = ["source"] if stream_cols is None else list(stream_cols)
    if not stream_cols:
        raise ValueError(
            "stream_cols must be non-empty: a global pack is a single-"
            "partition window (pack per source/shard instead)"
        )
    w = Window.partitionBy(*stream_cols).orderBy("doc_id")
    n_tok = token_count.cast("long")
    out = (
        docs.withColumn("n_tokens", n_tok)
        .withColumn(
            "tok_start",
            F.coalesce(
                F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0).cast("long"),
            ),
        )
        .withColumn("tok_end", F.col("tok_start") + F.col("n_tokens"))
        .withColumn("bin_first", F.expr(f"tok_start div {ctx_len}"))
        .withColumn(
            "bin_last",
            # an empty doc sits AT its offset; a non-empty doc's last token
            # is tok_end - 1
            F.when(F.col("n_tokens") > 0, F.expr(f"(tok_end - 1) div {ctx_len}"))
            .otherwise(F.col("bin_first")),
        )
        .withColumn("bins_spanned", F.col("bin_last") - F.col("bin_first") + 1)
    )
    return out.select(
        "doc_id", *stream_cols, "n_tokens", "tok_start", "tok_end",
        "bin_first", "bin_last", "bins_spanned",
    )


# ---------------------------------------------------------- decontamination


def cased_word_ngrams(text_col: Column, n: int) -> Column:
    """All word ``n``-grams of a text as an array of space-joined strings
    (empty array when the text has fewer than ``n`` tokens). Pure
    expressions; the token split is the same case-preserving ``\\s+``
    split the token budget and line operators use, ``let_``-bound so the
    per-gram slice doesn't re-split the whole text (the ``text`` twin's
    rule)."""

    def build(toks: Column) -> Column:
        k = F.size(toks)
        return F.when(
            (F.length(F.trim(text_col)) > 0) & (k >= n),
            F.transform(
                F.sequence(F.lit(1), k - n + 1),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return let_(F.split(F.trim(text_col), r"\s+"), build)


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3/PaLM n-gram protocol): flag
    every corpus document sharing at least one word ``n``-gram with the
    evaluation benchmark. Returns per-document
    doc_id, n_ngrams (distinct in the doc), n_overlap (distinct shared),
    contaminated (n_overlap >= 1); clean docs appear with
    n_overlap = 0 so the caller can anti-filter OR audit either side.

    Join key is the portable 60-bit md5 n-gram hash (dedup.portable_hash64)
    — 8 bytes through the shuffle instead of the n-gram string. The
    benchmark side is reduced to its DISTINCT hash set first; eval sets are
    tiny next to a training corpus, so AQE broadcasts that side and the
    corpus never shuffles. Corpus n-grams are deduped PER DOCUMENT
    (array_distinct before the explode), so a doc repeating one benchmark
    n-gram a thousand times is one join row, not a skew group."""
    grams = F.array_distinct(cased_word_ngrams(F.col("text"), n))
    # doc_grams feeds the semi-join and the per-doc count, and each branch
    # evaluates it: a checkpoint would share it but hold a block nothing frees
    doc_grams = corpus.select(
        F.col("doc_id"), F.explode_outer(grams).alias("_gram")
    ).select("doc_id", portable_hash64(F.col("_gram")).alias("_g"))
    bench_grams = (
        benchmark.select(F.explode(grams).alias("_gram"))
        .select(portable_hash64(F.col("_gram")).alias("_g"))
        .distinct()
    )
    hits = doc_grams.join(bench_grams, "_g", "left_semi")
    per_doc = doc_grams.groupBy("doc_id").agg(
        F.count(F.col("_g")).alias("n_ngrams")  # count() skips the explode_outer NULL
    )
    overlap = hits.groupBy("doc_id").agg(F.count("*").alias("n_overlap"))
    return (
        per_doc.join(overlap, "doc_id", "left")
        .select(
            "doc_id",
            "n_ngrams",
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias("n_overlap"),
        )
        .withColumn("contaminated", F.col("n_overlap") >= 1)
    )


def packing_stats(packed: DataFrame, ctx_len: int) -> DataFrame:
    """Capacity accounting over ``sequence_pack`` output: per ``source``
    packing stream, the number of contexts the stream fills (``n_bins`` — the last
    touched bin index + 1), total document tokens, the padding tokens the
    final partial context wastes, and the padding ratio. The numbers a
    training run budgets GPUs by. One map-combinable groupBy; padding and
    ratio derived from exact integers (the ratio is one per-row double
    division at the end — bit-reproducible)."""
    if ctx_len <= 0:
        raise ValueError(f"ctx_len must be positive (got {ctx_len})")
    return (
        packed.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            (F.max("bin_last") + 1).cast("long").alias("n_bins"),
        )
        .withColumn(
            "padding_tokens", F.col("n_bins") * ctx_len - F.col("total_tokens")
        )
        .withColumn(
            "padding_ratio",
            F.col("padding_tokens").cast("double")
            / (F.col("n_bins") * ctx_len).cast("double"),
        )
    )


# ------------------------------------------------------- repeated substrings


def repeated_ngram_spans(
    corpus: DataFrame,
    n: int = 16,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-substring detection at word-``n``-gram
    granularity (the exact-substring-dedup signal of Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better": repeated
    spans are memorization fuel and should be cut, not just whole-doc
    deduped). A token position is "repeated" when the ``n``-gram starting
    there occurs in at least ``min_docs`` DISTINCT documents; consecutive
    repeated positions are coalesced into maximal spans
    (gaps-and-islands), so a duplicated 300-token boilerplate block comes
    back as ONE row per document, not 285.

    Output: id, span_start / span_end (1-based token indices, inclusive —
    end covers the last repeated gram's full extent), n_grams (repeated
    positions inside the span), max_docs (the widest cross-doc spread of
    any gram in the span).

    Scale shape: shingle explode → two-stage distinct-doc count
    (groupBy(gram, doc) then groupBy(gram) — skew-safe for boilerplate
    grams present in millions of docs) → hash equi-join back → per-doc
    window for the island grouping (bounded by document length). Never
    all-pairs, never a global window."""
    grams = cased_word_ngrams(F.col("text"), n)
    # occ feeds the distinct-doc count and the join-back, and each branch
    # evaluates it (no checkpoint, as in decontaminate)
    occ = corpus.select(
        F.col("doc_id"), F.posexplode(grams).alias("_p0", "_gram")
    ).select(
        "doc_id",
        (F.col("_p0") + 1).cast("long").alias("pos"),
        portable_hash64(F.col("_gram")).alias("_g"),
    )
    freq = (
        occ.select("_g", "doc_id")
        .distinct()  # stage 1: per (gram, doc) — hot grams spread over docs
        .groupBy("_g")
        .agg(F.count("*").alias("n_docs"))  # stage 2: distinct-doc count
        .filter(F.col("n_docs") >= min_docs)
    )
    rep = occ.join(freq, "_g")
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        rep.withColumn("_island", F.col("pos") - F.row_number().over(w))
        .groupBy("doc_id", "_island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + n - 1).cast("long").alias("span_end"),
            F.count("*").alias("n_grams"),
            F.max("n_docs").alias("max_docs"),
        )
        .drop("_island")
    )


def dedup_cut(corpus: DataFrame, spans: DataFrame) -> DataFrame:
    """Apply exact-substring-dedup CUTS (Lee et al. 2022 §4.2: remove the
    repeated span, keep the rest of the document) — the second half of
    the protocol whose detection half is ``repeated_ngram_spans``.

    ``spans`` rows are (id, span_start, span_end) with 1-based inclusive
    token indices (exactly what repeated_ngram_spans emits; overlapping
    spans are fine — the test is membership, not partitioning). Tokens
    inside ANY span are dropped; the survivors re-join with single
    spaces, mirroring the ``\\s+`` tokenization every text operator here
    shares.

    Scale shape: ONE shuffle — spans collapse to a per-doc sorted array
    (groupBy id) and join back to the corpus; the cut itself is pure
    per-row higher-order expressions (zip_with index + exists + filter +
    array_join), cost O(tokens · spans-per-doc) with spans-per-doc small
    by construction. No window, no explode-regroup round trip of the
    corpus body.

    Returns (id, text_clean, n_tokens, n_kept, n_spans): exact integers
    ride along so the curation report (and the DuckDB oracle hash) needs
    no float.
    """
    sp = spans.groupBy("doc_id").agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col("span_start").cast("long").alias("s"),
                    F.col("span_end").cast("long").alias("e"),
                )
            )
        ).alias("_spans"),
        F.count("*").alias("n_spans"),
    )
    joined = corpus.join(sp, "doc_id", "left")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    spans_arr = F.coalesce(
        F.col("_spans"), F.array().cast("array<struct<s:bigint,e:bigint>>")
    )
    indexed = F.zip_with(
        toks,
        F.sequence(F.lit(1), F.size(toks)),
        lambda t, i: F.struct(t.alias("t"), i.cast("long").alias("i")),
    )
    kept = F.filter(
        indexed,
        lambda x: ~F.exists(
            spans_arr, lambda b: (x["i"] >= b["s"]) & (x["i"] <= b["e"])
        ),
    )
    return joined.select(
        F.col("doc_id"),
        F.array_join(F.transform(kept, lambda x: x["t"]), " ").alias("text_clean"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.size(kept).cast("long").alias("n_kept"),
        F.coalesce(F.col("n_spans"), F.lit(0)).cast("long").alias("n_spans"),
    )


# ----------------------------------------------------- aspect-ratio buckets

# SDXL-style training buckets as exact integer ratios (w, h); the list is a
# parameter — this default covers square, photo, portrait, and widescreen.
DEFAULT_ASPECT_BUCKETS: tuple[tuple[int, int], ...] = (
    (1, 1),
    (4, 3),
    (3, 4),
    (16, 9),
    (9, 16),
)


def aspect_bucket(
    images: DataFrame,
    buckets: tuple[tuple[int, int], ...] = DEFAULT_ASPECT_BUCKETS,
) -> DataFrame:
    """Aspect-ratio bucketing for image-batch training (the SDXL recipe:
    batches mix only images of one aspect bucket, so nothing is cropped to
    death): assign each image the bucket whose ratio is nearest its own.

    INTEGER-EXACT nearness, no floats: comparing w/h against bw/bh uses
    the cross-product distance |w·bh − bw·h| normalized per bucket by
    (bw·bh) — i.e. compare |w·bh − bw·h| · (bw'·bh') across buckets with
    exact 64-bit products. Float log-ratio distances would tie-break
    differently across engines; exact arithmetic is bit-reproducible
    everywhere (ties break to the EARLIER bucket in the list). Pure
    in-row expressions, zero shuffles.

    Adds: bucket_w, bucket_h (the ratio), bucket_idx."""
    if not buckets:
        raise ValueError("buckets must be non-empty")
    w, h = F.col("w").cast("long"), F.col("h").cast("long")
    # distance of (w, h) to bucket i as an exact rational |w/h - bw/bh| =
    # |w*bh - bw*h| / (h*bw*bh); h is common across buckets, so rank by
    # |w*bh - bw*h| * PROD-normalizer — implemented pairwise: bucket i
    # beats bucket j iff d_i * (bw_j*bh_j) < d_j * (bw_i*bh_i) (strict),
    # expressed as an array argmin over struct(d * lcm_weight, idx)
    structs = []
    for i, (bw, bh) in enumerate(buckets):
        d = F.abs(w * F.lit(bh) - F.lit(bw) * h)
        # normalize by the OTHER buckets' denominators: multiply each d by
        # prod(bw_j*bh_j for j != i) → a common denominator, exact in int64
        # for sane bucket lists (product of denominators must fit; the
        # default list's product is 1*12*12*144*144 < 2^22, leaving 41 bits
        # for w·bh — images up to ~2e12 px on a side)
        norm = 1
        for j, (ow, oh) in enumerate(buckets):
            if j != i:
                norm *= ow * oh
        structs.append(
            F.struct((d * F.lit(norm)).alias("d"), F.lit(i).alias("idx"))
        )
    best = F.array_min(F.array(*structs))
    idx = best["idx"]
    bw_expr = F.element_at(F.array(*[F.lit(b[0]) for b in buckets]), idx + 1)
    bh_expr = F.element_at(F.array(*[F.lit(b[1]) for b in buckets]), idx + 1)
    return images.select(
        "*",
        idx.alias("bucket_idx"),
        bw_expr.alias("bucket_w"),
        bh_expr.alias("bucket_h"),
    )


# ---------------------------------------------------------------- PII scrub


# Patterns are the RE2 ∩ Java-regex common dialect (no lookaround, no
# backreferences) so the Spark expression and the DuckDB oracle run the
# LITERAL same pattern. Order matters: emails first (their local part can
# contain digits a later pass would chew on), then IPs (dotted quads must
# not be half-eaten by the phone pass), then phones.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d -]{7,}\d", "<PHONE>"),
)


def pii_redact(df: DataFrame) -> DataFrame:
    """Scrub contact-style PII (emails, IPv4s, phone-shaped digit runs)
    from ``text``: adds ``text_redacted`` with every match replaced by its
    typed placeholder plus one ``n_<kind>`` count column per pattern.
    Counts are taken on the ORIGINAL text per kind, each kind counted on
    the text with the earlier kinds already redacted — so an email's
    digits are never double-counted as a phone. Pure in-row expressions:
    zero shuffles, zero Python."""
    cur: Column = F.col("text")
    counts = []
    for kind, pat, repl in PII_PATTERNS:
        counts.append(F.regexp_count(cur, F.lit(pat)).alias(f"n_{kind}"))
        cur = F.regexp_replace(cur, pat, repl)
    return df.select("*", *counts, cur.alias("text_redacted"))


# ------------------------------------------------------ epoch shuffle/shards


def epoch_shuffle(df: DataFrame, n_shards: int, seed: str = "epoch0") -> DataFrame:
    """Deterministic global training-data shuffle + shard assignment — the
    export step between packing (``sequence_pack``) and the training run:
    every example gets a pseudorandom but REPRODUCIBLE position, keyed
    only by (seed, id), so two runs (or a resumed run) shuffle an epoch
    identically and a different ``seed`` yields an independent
    permutation. (Beyond-reference tier: the reference's pipeline ends at
    fetch/store, maga/crawler.py.)

    ``key = portable_hash64(seed || ':' || id)`` orders the permutation;
    ``shard = key % n_shards`` scatters neighbors-by-id across shards;
    ``pos`` is the example's 0-based offset within its shard file in key
    order. Output: ``(doc_id, shard, pos, key)``.

    Scale shape: ONE hash shuffle on ``shard``; the per-shard window is
    bounded by N/n_shards rows because the key is uniform (XOR-folded
    md5), so pick n_shards to make a shard one task's worth (10^4 shards
    at 10^10 examples → 10^6-row windows). No global single-partition
    window, no sampling pass (contrast repartitionByRange, which needs
    one), no rand() — determinism is the contract, Spark's ``rand(seed)``
    is partitioning-dependent and would not survive a re-run at different
    parallelism."""
    if n_shards <= 0:
        raise ValueError(f"n_shards must be positive (got {n_shards})")
    key = portable_hash64(F.col("doc_id").cast("string"), f"{seed}:")
    w = Window.partitionBy("shard").orderBy("key", "doc_id")
    return (
        df.select(
            F.col("doc_id"),
            key.alias("key"),
        )
        .withColumn("shard", F.pmod(F.col("key"), F.lit(n_shards)).cast("long"))
        .withColumn("pos", (F.row_number().over(w) - 1).cast("long"))
        .select("doc_id", "shard", "pos", "key")
    )


def shard_manifest(shuffled: DataFrame) -> DataFrame:
    """Per-shard manifest over ``epoch_shuffle`` output: row count plus an
    order-independent XOR digest of the shard's keys — the artifact a
    training loader checks before reading a shard (row count for batch
    accounting, digest for a cheap integrity handshake with the writer).
    One map-side-combinable groupBy; ``bit_xor`` is exact int64 in both
    Spark and the DuckDB oracle."""
    return (
        shuffled.groupBy("shard")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.expr("bit_xor(key)").cast("long").alias("key_digest"),
        )
    )
