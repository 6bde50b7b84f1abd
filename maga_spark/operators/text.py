"""Text-analysis operators for training-data curation over ``documents``.

All logic is built-in expressions (codegen'd). Each operator has a
DuckDB-expressible twin registered in __spark_entry__ where SQL can express
it.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny deterministic stopword profiles for the n-gram/stopword language ID
LANG_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "was", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "von", "zu"],
    "fr": ["le", "la", "les", "et", "est", "une", "des", "que", "pour", "dans"],
    "es": ["el", "la", "los", "y", "es", "una", "que", "por", "con", "para"],
}

# line split pattern of the line-level operators: one line per "\n"
LINE_SPLIT = re.escape("\n")
# winnowing: char WINNOW_K-grams, min per window of WINNOW_W grams
WINNOW_K, WINNOW_W = 5, 4
# BM25 term-saturation and length-normalisation constants
BM25_K1, BM25_B = 1.2, 0.75


def tokens_of(text_col: Column) -> Column:
    return F.split(F.lower(F.trim(text_col)), r"\s+")


def language_scores(text_col: Column) -> dict[str, Column]:
    """Per-language stopword-hit counts."""
    toks = tokens_of(text_col)
    return {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in LANG_PROFILES.items()
    }


def language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Argmax language with deterministic tie-break by language code;
    'und' when no profile matches at all."""
    scores = language_scores(F.col(text_col))
    ordered = sorted(scores.keys())
    pairs = F.array(*[F.struct((-scores[lg]).alias("neg"), F.lit(lg).alias("lang")) for lg in ordered])
    best = F.array_min(pairs)
    pred = F.when(-best["neg"] > 0, best["lang"]).otherwise(F.lit("und"))
    return df.withColumn("lang_pred", pred)


def token_count(text_col: Column) -> Column:
    """Whitespace token count (0 for blank text)."""
    t = F.trim(text_col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def bpe_ish_piece_count(text_col: Column) -> Column:
    """BPE-ish subword proxy: count of letter-runs, digit-runs, and
    punctuation singletons (a cheap, deterministic token-budget estimator)."""
    return F.regexp_count(text_col, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))


def winnow_fingerprint_portable(text_col: Column) -> Column:
    """Winnowing fingerprint as 100% built-in expressions with the portable
    md5-60-bit k-gram hash — value-for-value reproducible in DuckDB
    (list_transform/generate_series twin in __spark_entry__).

    Char ``WINNOW_K``-grams → hash → min per length-``WINNOW_W`` window →
    distinct set. Guards: <WINNOW_K chars → empty; ≤WINNOW_W grams → single
    global min.
    (Spark's ``sequence(1, 0)`` DESCENDS — both sequences are when-guarded.)

    The lowered text and the gram-hash array are ``let_``-bound: HOF
    lambdas re-evaluate outer expressions per element, so without the
    binding the window-min stage recomputes the ENTIRE md5 gram array for
    every window — O(L²) md5 calls per row (measured 80 s for 200 short
    docs; ~2 s let-bound)."""
    from maga_spark.functions.scalar import let_
    from maga_spark.operators.dedup import portable_hash64

    def windows(hs: Column) -> Column:
        ng = F.size(hs)
        mins = (
            F.when(ng == 0, F.array().cast("array<long>"))
            .when(ng <= WINNOW_W, F.array(F.array_min(hs)))
            .otherwise(
                F.transform(
                    F.sequence(F.lit(1), ng - (WINNOW_W - 1)),
                    lambda j: F.array_min(F.slice(hs, j, WINNOW_W)),
                )
            )
        )
        return F.array_sort(F.array_distinct(mins))

    def hashes(t: Column) -> Column:
        n = F.length(t)
        grams = F.when(
            n >= WINNOW_K,
            F.transform(
                F.sequence(F.lit(1), n - (WINNOW_K - 1)), lambda i: t.substr(i, F.lit(WINNOW_K))
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.transform(grams, lambda g: portable_hash64(g))

    return let_(F.lower(text_col), lambda t: let_(hashes(t), windows))


def word_ngrams(text_col: Column, n: int) -> Column:
    """Word n-grams as space-joined strings, pure expressions: the token
    list sliced with a transform over ``sequence`` (when-guarded — Spark's
    ``sequence(1, 0)`` DESCENDS). Empty/short text → empty array. The
    token array is ``let_``-bound so the per-gram slice doesn't re-split
    the whole text (HOF lambdas re-evaluate outer expressions per
    element)."""
    from maga_spark.functions.scalar import let_

    def build(toks: Column) -> Column:
        nt = F.size(toks)
        return F.when(
            nt >= n,
            F.transform(
                F.sequence(F.lit(1), nt - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return let_(tokens_of(text_col), build)


def repetition_features(df: DataFrame, top_n: int = 2, dup_n: int = 3) -> DataFrame:
    """Gopher-family repetition signals (Rae et al. 2021, §A1.1) as pure
    in-row expressions — zero shuffle, zero Python, embarrassingly parallel
    at any corpus scale (the per-row cost is O(items²) in whole-stage
    codegen over short arrays, not a join):

    * ``n_lines`` / ``dup_line_frac`` — fraction of ``text`` lines (split
      on ``"\n"``) that are repeats of another line in the document.
    * ``dup_line_char_frac`` — fraction of line characters belonging to
      occurrences beyond the first of each duplicated line.
    * ``top_ngram_char_frac`` — characters covered by the single most
      covering word ``top_n``-gram (count × gram length) over total chars;
      taking max coverage (not max count) keeps the statistic a single
      integer max — deterministic and engine-portable with no struct
      tie-break.
    * ``dup_ngram_char_frac`` — characters in beyond-first occurrences of
      duplicated word ``dup_n``-grams over total chars (the published
      rule's overlap-free approximation; occurrences may overlap in text,
      so this upper-bounds the exact covered-character fraction).

    High values on any of these are the Gopher cut signals for
    machine-generated / boilerplate text.
    """
    t = F.col("text")
    lines = F.split(t, LINE_SPLIT)
    n_lines = F.size(lines)
    n_dist = F.size(F.array_distinct(lines))
    dup_line_frac = F.when(n_lines > 0, (n_lines - n_dist) / n_lines).otherwise(F.lit(0.0))
    from maga_spark.functions.scalar import let_

    line_chars = F.aggregate(lines, F.lit(0), lambda acc, l: acc + F.length(l))
    # let_-bound: the inner filter scans the line array per DISTINCT line —
    # unbound it would re-split the document per distinct line (O(n²·L))
    dup_line_chars = let_(
        lines,
        lambda ls: F.aggregate(
            F.array_distinct(ls),
            F.lit(0),
            lambda acc, l: acc
            + (F.size(F.filter(ls, lambda x: x == l)) - 1) * F.length(l),
        ),
    )
    dup_line_char_frac = F.when(line_chars > 0, dup_line_chars / line_chars).otherwise(
        F.lit(0.0)
    )

    n_chars = F.length(t)
    top_g = word_ngrams(t, top_n)
    top_cover = let_(
        top_g,
        lambda tg: F.array_max(
            F.transform(
                F.array_distinct(tg),
                lambda g: F.size(F.filter(tg, lambda x: x == g)) * F.length(g),
            )
        ),
    )
    top_frac = F.when(
        (n_chars > 0) & F.size(top_g).cast("boolean"), top_cover / n_chars
    ).otherwise(F.lit(0.0))

    dup_g = word_ngrams(t, dup_n)
    dup_chars = let_(
        dup_g,
        lambda dg: F.aggregate(
            F.array_distinct(dg),
            F.lit(0),
            lambda acc, g: acc
            + (F.size(F.filter(dg, lambda x: x == g)) - 1) * F.length(g),
        ),
    )
    dup_frac = F.when(n_chars > 0, dup_chars / n_chars).otherwise(F.lit(0.0))

    return (
        df.withColumn("n_lines", n_lines)
        .withColumn("dup_line_frac", dup_line_frac)
        .withColumn("dup_line_char_frac", dup_line_char_frac)
        .withColumn("top_ngram_char_frac", top_frac)
        .withColumn("dup_ngram_char_frac", dup_frac)
    )


def tfidf_top_terms(docs: DataFrame, k: int = 5) -> DataFrame:
    """Top-``k`` terms per group by total term frequency, annotated with
    document frequency and the rounded tf·idf weight.

    Shape at scale: explode → two hash aggregations (both map-side
    combinable) → one small window over per-group term rows already
    reduced to ≤ |vocab| rows per group — no joins on the exploded data
    except a broadcast of the global doc count and the per-term df (vocab
    cardinality, tiny next to the corpus). Selection order is
    (sum_tf DESC, term ASC): a pure-integer sort, so the top-k set never
    depends on float rounding; ``tfidf_r`` (sum_tf · ln(N/df), round 6) is
    an emitted VALUE, not a sort key.
    """
    from pyspark.sql import Window

    toks = docs.select(
        F.col("source").alias("grp"),
        F.col("doc_id").alias("did"),
        F.explode(tokens_of(F.col("text"))).alias("term"),
    ).filter(F.length("term") > 0)
    n_docs = docs.select(F.countDistinct("doc_id").alias("n_docs"))
    df_term = toks.groupBy("term").agg(F.countDistinct("did").alias("df"))
    grp_tf = toks.groupBy("grp", "term").agg(F.count("*").alias("sum_tf"))
    w = Window.partitionBy("grp").orderBy(F.col("sum_tf").desc(), F.col("term").asc())
    return (
        grp_tf.join(F.broadcast(df_term), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            F.col("grp").alias("source"),
            "rk",
            "term",
            "sum_tf",
            "df",
            F.round(F.col("sum_tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias(
                "tfidf_r"
            ),
        )
    )


def html_to_text(html_col: Column) -> Column:
    """Fetched HTML → whitespace-normalized visible text, 100% built-in
    expressions — the extraction step between the crawler's payload
    validation and EVERY text operator in this module (language_id,
    quality, dedup shingles all assume prose, not markup; feeding them
    raw HTML makes boilerplate tags dominate shingles and quality
    features meaningless).

    Pipeline (each step one regexp_replace, all replace-all, chained in
    one projection inside whole-stage codegen; the page body is scanned a
    constant number of times and never shuffled):
      1. drop <script>/<style> ELEMENT CONTENT (two separate patterns —
         no backreferences, the DuckDB oracle's RE2 has none),
      2. drop comments <!-- … -->,
      3. every remaining tag → ' ' (block boundaries must not glue words),
      4. decode the five predefined entities plus the ubiquitous
         ``&#39;`` apostrophe (&amp; LAST, same fixed order as
         links.xml_unescape),
      5. collapse whitespace runs, trim.

    This is deliberately the grep-level extractor, not a DOM parse: at
    crawl scale the first-pass text column feeds dedup and language
    gates, where recall beats DOM fidelity, and a pure-expression scan is
    the only shape that runs inside codegen on 10^10 pages. NULL html →
    NULL."""
    c = F.regexp_replace(html_col, r"(?is)<script\b[^>]*>.*?</script\s*>", " ")
    c = F.regexp_replace(c, r"(?is)<style\b[^>]*>.*?</style\s*>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"(?s)<[^>]*>", " ")
    c = F.replace(c, F.lit("&lt;"), F.lit("<"))
    c = F.replace(c, F.lit("&gt;"), F.lit(">"))
    c = F.replace(c, F.lit("&quot;"), F.lit('"'))
    c = F.replace(c, F.lit("&apos;"), F.lit("'"))
    c = F.replace(c, F.lit("&#39;"), F.lit("'"))
    c = F.replace(c, F.lit("&amp;"), F.lit("&"))
    return F.trim(F.regexp_replace(c, r"\s+", " "))


def bm25_scores(docs: DataFrame, query_terms: list[str], top_k: int = 20) -> DataFrame:
    """BM25 ranking of documents for a bag-of-terms query →
    ``(doc_id, n_hit_terms, score_micro)`` for the global top-``top_k``.

    ``score_micro`` is the BM25 score in integer MICRO-units: each term's
    float gain is rounded to a BIGINT of 1e-6 units FIRST and the per-doc
    sum runs on integers — so the total is independent of addition order
    (a float sum is not: different partitionings can flip the last ulp,
    and with it a rank), the sort key is pure-integer (score DESC, doc_id
    ASC), and the DuckDB oracle reproduces the ranking bit-for-bit. The
    only float steps are per-term ln/division — the same round-to-6
    portability contract ``tfidf_top_terms`` already relies on.

    Robertson/Spärck Jones BM25 with the +1 idf floor (the Lucene form,
    never negative): ``idf = ln(1 + (N - df + 0.5)/(df + 0.5))``, term
    gain ``idf · tf·(k1+1)/(tf + k1·(1 - b + b·len/avglen))`` with
    ``k1, b = BM25_K1, BM25_B``. The
    engine's retrieval query over the corpus it curates — dedup picks
    what to KEEP, retrieval proves the kept corpus is queryable.

    Shape at scale: tokenize → filter to the query's term set FIRST (a
    literal IN-list pushed into the scan projection — the exploded stream
    shrinks to query-term hits before any shuffle) → per-(doc, term) tf →
    broadcast df/N/avglen (1-row + |query| rows) → per-doc sum →
    TakeOrderedAndProject for the global top-k (never a full sort)."""
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    qlit = F.array(*[F.lit(t.lower()) for t in sorted(set(query_terms))])
    toks = docs.select(
        F.col("doc_id").alias("did"), F.explode(tokens_of(F.col("text"))).alias("term")
    )
    doclen = toks.groupBy("did").agg(F.count("*").alias("dl"))
    stats = doclen.agg(
        F.count("*").cast("long").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    hits = toks.filter(F.array_contains(qlit, F.col("term")))
    tf = hits.groupBy("did", "term").agg(F.count("*").alias("tf"))
    dfp = hits.groupBy("term").agg(F.countDistinct("did").alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    gain = idf * (
        F.col("tf")
        * (BM25_K1 + 1)
        / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")))
    )
    gain_micro = F.round(gain * F.lit(1_000_000.0)).cast("long")
    scored = (
        tf.join(F.broadcast(dfp), "term")
        .join(doclen, "did")
        .crossJoin(F.broadcast(stats))
        .groupBy("did")
        .agg(
            F.sum(gain_micro).cast("long").alias("score_micro"),
            F.count("*").cast("long").alias("n_hit_terms"),
        )
    )
    return (
        scored.select(F.col("did").alias("doc_id"), "n_hit_terms", "score_micro")
        .orderBy(F.col("score_micro").desc(), F.col("doc_id").asc())
        .limit(top_k)
    )


def hashed_classifier_score(
    docs: DataFrame,
    weights: DataFrame,
    n_buckets: int,
    bias: int = 0,
    threshold: int = 0,
) -> DataFrame:
    """Linear text-classifier inference with the hashing trick — the shape
    of the FineWeb-Edu / DCLM quality-filter pass, run as a Spark plan: a
    trained linear model over hashed bag-of-words features scores every
    document, and ``keep = score >= threshold`` drives the corpus cut.
    (The reference stops at fetch/store — maga/crawler.py — so this is
    beyond-reference curation tier; the MODEL is an input, not trained
    here.)

    ``weights`` is the model: ``(bucket:long, weight:long)`` with weights
    in integer micro-units — a hashing-trick model has at most
    ``n_buckets`` rows (2^18..2^20 in practice), i.e. model-sized, so it
    is explicitly ``broadcast()``. Every token occurrence (term frequency,
    not presence) hashes to ``bucket = portable_hash64("hcls:" || token) %
    n_buckets`` and contributes its bucket's weight; a document's score is
    ``bias + Σ weight``. All int64 — bit-identical in the DuckDB oracle,
    no float dot products.

    Scale shape: explode tokens → broadcast hash-join against the model →
    ONE map-side-combinable groupBy(``doc_id``). No shuffle of the corpus
    body (only (id, bucket) pairs move), no Python, and no doc-spine
    re-join: ``explode_outer`` keeps empty/NULL documents as a NULL token
    row, so every document reaches the aggregate and scores ``bias``.

    Output: ``(doc_id, n_tokens, score, keep)``."""
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive (got {n_buckets})")
    toks = F.when(
        F.length(F.trim(F.col("text"))) > 0, tokens_of(F.col("text"))
    ).otherwise(F.array().cast("array<string>"))
    from maga_spark.operators.dedup import portable_hash64

    occ = docs.select(F.col("doc_id"), F.explode_outer(toks).alias("_tok")).select(
        "doc_id", F.pmod(portable_hash64(F.col("_tok"), "hcls:"), F.lit(n_buckets)).alias("_bkt")
    )
    w = F.broadcast(
        weights.select(F.col("bucket").alias("_bkt"), F.col("weight").alias("_w"))
    )
    scored = (
        occ.join(w, "_bkt", "left")
        .groupBy("doc_id")
        .agg(
            F.count("_bkt").cast("long").alias("n_tokens"),
            F.coalesce(F.sum("_w"), F.lit(0)).cast("long").alias("_dot"),
        )
    )
    return scored.select(
        F.col("doc_id"),
        F.col("n_tokens"),
        (F.col("_dot") + F.lit(bias)).cast("long").alias("score"),
        ((F.col("_dot") + F.lit(bias)) >= threshold).alias("keep"),
    )


def train_bigram_lm(corpus: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Count model for the CCNet-style LM quality filter: returns
    ``(unigrams, bigrams, vocab)`` — ``(h1, c1)``, ``(h12, c12)`` and a
    1-row ``(v)`` vocabulary size. Keys are the portable 60-bit md5 token
    hashes (``dedup.portable_hash64``); a bigram is keyed by the hash of
    the space-joined pair exactly as ``word_ngrams(…, 2)`` emits it, so
    the DuckDB oracle reproduces every key. Two map-side-combinable
    groupBys + one count — the standard vocabulary-build shape."""
    from maga_spark.operators.dedup import portable_hash64

    toks = F.when(
        F.length(F.trim(F.col("text"))) > 0, tokens_of(F.col("text"))
    ).otherwise(F.array().cast("array<string>"))
    uni = (
        corpus.select(F.explode(toks).alias("_t"))
        .groupBy(portable_hash64(F.col("_t")).alias("h1"))
        .agg(F.count("*").cast("long").alias("c1"))
    )
    bi = (
        corpus.select(F.explode(word_ngrams(F.col("text"), 2)).alias("_g"))
        .groupBy(portable_hash64(F.col("_g")).alias("h12"))
        .agg(F.count("*").cast("long").alias("c12"))
    )
    vocab = uni.agg(F.count("*").cast("long").alias("v"))
    return uni, bi, vocab


def bigram_lm_score(
    docs: DataFrame,
    unigrams: DataFrame,
    bigrams: DataFrame,
    vocab: DataFrame,
) -> DataFrame:
    """CCNet-style language-model quality scoring: each document's
    add-one-smoothed bigram log-probability under a count model
    (``train_bigram_lm`` — trained on a reference corpus, or on the
    corpus itself for a self-consistency score). Word-soup and boilerplate
    score low; text whose bigrams the model has seen scores high — the
    filter CCNet/fastText pipelines run with KenLM, here as a pure Spark
    plan over integer counts.

    Per bigram occurrence: ``lp = round(1e6 · ln((c12 + 1)/(c1 + V)))``
    micro-nats — the ln is the ONE float step, snapped to micro units the
    way bm25_scores does, so sums are order-independent and the DuckDB
    oracle is bit-exact. Unseen bigrams fall back to ``1/(c1+V)``; unseen
    context words to ``1/V``.

    Scale shape: docs explode to (gram-hash, head-hash) pairs → TWO hash
    equi-joins against the count model (model side is corpus-sized →
    never broadcast by hand; AQE decides) → ONE combinable groupBy(id).
    Docs with < 2 tokens survive via explode_outer with ``n_bigrams = 0``.

    Output: ``(doc_id, n_bigrams, logprob_micro, nlp_per_bigram)`` — the
    last is the integer mean negative log-prob (micro-nats/bigram, 0 for
    bigram-less docs): the thresholdable quality number."""
    from maga_spark.operators.dedup import portable_hash64

    toks = F.when(
        F.length(F.trim(F.col("text"))) > 0, tokens_of(F.col("text"))
    ).otherwise(F.array().cast("array<string>"))
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        word_ngrams(F.col("text"), 2),
        lambda w1, g: F.struct(
            portable_hash64(w1).alias("h1"), portable_hash64(g).alias("h12")
        ),
    )
    occ = docs.select(F.col("doc_id"), F.explode_outer(pairs).alias("_p")).select(
        "doc_id", F.col("_p.h1").alias("h1"), F.col("_p.h12").alias("h12")
    )
    scored = (
        occ.join(bigrams, "h12", "left")
        .join(unigrams, "h1", "left")
        .join(F.broadcast(vocab))
        .withColumn(
            "_lp",
            F.when(
                F.col("h12").isNotNull(),
                F.round(
                    F.log(
                        (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(1)).cast("double")
                        / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("v")).cast("double")
                    )
                    * F.lit(1_000_000.0)
                ).cast("long"),
            ),
        )
        .groupBy("doc_id")
        .agg(
            F.count("_lp").cast("long").alias("n_bigrams"),
            F.coalesce(F.sum("_lp"), F.lit(0)).cast("long").alias("logprob_micro"),
        )
    )
    return scored.select(
        F.col("doc_id"),
        "n_bigrams",
        "logprob_micro",
        F.coalesce(
            F.expr("(-logprob_micro) div nullif(n_bigrams, 0L)"), F.lit(0)
        ).cast("long").alias("nlp_per_bigram"),
    )
