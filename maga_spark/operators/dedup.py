"""Deduplication family for web-scale training-data pipelines.

Four strategies over a ``documents(doc_id, text, ...)`` table, each chosen by
the scale/precision trade:

* exact            — hash groupBy; bit-exact duplicates only.
* minhash LSH      — shingle → minhash signature → band buckets → candidate
                     pairs (``minhash_signatures`` → ``minhash_band_rows``,
                     the one unit every MinHash path uses). At 10^9 docs
                     only same-bucket pairs are compared (the classic
                     Broder/LSH construction), all as built-in expressions.
* simhash          — 60-bit charikar fingerprint as built-in expressions
                     (token explode + per-bit vote groupBy); hamming ≤ r
                     pairs via band-exact-match pre-join (pigeonhole).
* embedding cosine — near-dup by cosine ≥ τ over an embedding column.

Everything is deterministic; every content hash is the portable md5-prefix
hash (``portable_hash64``), so the DuckDB oracles reproduce the values.
The reference's only dedup is the canonical-key anti-join pattern
(screenshot_system/io_adapter.py:65-69, maga/crawler.py:216-223); these
operators generalize it to content identity.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from maga_spark.operators.text import LINE_SPLIT, word_ngrams


def portable_hash64(col: Column, salt: str = "") -> Column:
    """Deterministic 60-bit positive int64 reproducible in DuckDB as
    ``('0x' || substr(md5(salt || x), 1, 15))::BIGINT``."""
    salted = F.concat(F.lit(salt), col) if salt else col
    return F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("long")


def exact_dedup(df: DataFrame) -> DataFrame:
    """Keep the min-id representative of each exact-content group."""
    return (
        df.groupBy(F.md5(F.col("text")).alias("content_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("dup_count"))
    )


def dedup_lines(docs: DataFrame) -> DataFrame:
    """Corpus-global line-level exact dedup (the C4/RefinedWeb rule): every
    line keeps only its FIRST occurrence across the whole corpus, ordered
    by (doc id, position); later occurrences — including repeats inside
    the same document — are dropped, and documents are reassembled from
    their surviving lines in original order.

    Scale shape: two hash aggregations, both map-side combinable, and NO
    window over the exploded lines — the keeper of each line group is
    ``min(struct(id, pos))`` computed by groupBy, so a boilerplate line
    with 10^9 occurrences collapses in the combiners instead of landing on
    one window partition. Docs whose every line was seen earlier come back
    with empty ``text`` and ``n_kept = 0`` (they stay countable for the
    drop report).
    """
    lines = docs.select(
        F.col("doc_id").alias("_id"),
        F.posexplode(F.split(F.col("text"), LINE_SPLIT)).alias("_pos", "line"),
    )
    keepers = lines.groupBy("line").agg(
        F.min(F.struct(F.col("_id"), F.col("_pos"))).alias("k")
    )
    rebuilt = (
        keepers.select(F.col("k._id").alias("_id"), F.col("k._pos").alias("_pos"), "line")
        .groupBy("_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("_pos", "line"))).alias("arr"),
        )
        .select(
            "_id",
            F.concat_ws("\n", F.transform("arr", lambda s: s["line"])).alias("text_dedup"),
            F.size("arr").alias("n_kept"),
        )
    )
    n_total = docs.select(
        F.col("doc_id").alias("_id"),
        F.size(F.split(F.col("text"), LINE_SPLIT)).alias("n_lines"),
    )
    return (
        n_total.join(rebuilt, "_id", "left")
        .select(
            F.col("_id").alias("doc_id"),
            F.coalesce("text_dedup", F.lit("")).alias("text_dedup"),
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            "n_lines",
        )
    )


def minhash_signatures(df: DataFrame, num_hashes: int = 16) -> DataFrame:
    """``(id, mh0..mh{num_hashes-1})`` MinHash signatures: per seed i, the
    min over the doc's shingles (its distinct lower-cased word
    3-grams, ``text.word_ngrams``) of
    ``portable_hash64(shingle, "mh{i}:")`` (DuckDB-reproducible). Docs with
    no shingles get no row.

    Built as explode → groupBy-min, not as an array transform per row: a
    later projection that reads an array-minhash column lets
    CollapseProject inline the whole shingle+md5 tree once per hash (8×
    the generated code, seconds of janino compile and no runtime CSE;
    measured 16.6 s vs 2 s at sf0.1). The row-wise min keeps every
    expression tree tiny, combines map-side and shuffles only (id, N
    longs)."""
    sh = df.select(
        F.col("doc_id").alias("id"),
        F.explode(F.array_distinct(word_ngrams(F.col("text"), 3))).alias("_s"),
    )
    return sh.groupBy("id").agg(
        *[
            F.min(portable_hash64(F.col("_s"), salt=f"mh{i}:")).alias(f"mh{i}")
            for i in range(num_hashes)
        ]
    )


def minhash_band_rows(df: DataFrame, num_hashes: int = 16, bands: int = 4) -> DataFrame:
    """``(id, band, bh)`` LSH band rows over ``minhash_signatures`` — the
    shared banding unit of the self-join candidate generator AND the
    incremental near-dup index (one definition, so stored indexes can never
    diverge from the ad-hoc path). ``bh`` is the band's comma-joined
    signature values: exact band equality, bit-reproducible in DuckDB.

    As a STORED near-dup index (the incremental-state analog of
    ``update_shard_cuckoo`` / ``append_to_ivf_index`` for dedup) a growing
    corpus dedupes each NEW ingest batch against these rows
    (``query_minhash_index``) in O(batch-bands ⋈ index) instead of
    re-running the corpus×corpus self-join every batch. Persist with
    ``.write.partitionBy("band")`` so serving prunes to the probed bands;
    at cluster scale, bucket on ``bh`` for a shuffle-free probe join."""
    if num_hashes % bands:
        raise ValueError(f"num_hashes={num_hashes} not divisible by bands={bands}")
    r = num_hashes // bands
    sig = minhash_signatures(df, num_hashes)

    def bh(b: int) -> Column:
        return F.concat_ws(",", *[F.col(f"mh{b * r + j}").cast("string") for j in range(r)])

    rows = F.array(*[F.struct(F.lit(b).alias("band"), bh(b).alias("bh")) for b in range(bands)])
    return sig.select("id", F.explode(rows).alias("bb")).select("id", "bb.band", "bb.bh")


def minhash_lsh_candidates(df: DataFrame, num_hashes: int = 16, bands: int = 4) -> DataFrame:
    """Candidate near-dup pairs (a_id < b_id) that collide in ≥1 LSH band.

    Scale shape: explode to (band, band_hash) — one shuffle groups collisions;
    no all-pairs comparison ever happens."""
    banded = minhash_band_rows(df, num_hashes, bands)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bh") == F.col("b.bh")))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("a_id"), F.col("b.id").alias("b_id"))
        .distinct()
    )


def append_to_minhash_index(
    index: DataFrame,
    new_docs: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Index ∪ the new batch's band rows — cost O(batch), no touch of the
    existing rows (append-only partitions on disk). The result is
    row-identical to ``minhash_band_rows`` over the full corpus: banding
    is per-document, so incremental == from-scratch (tested)."""
    rows = minhash_band_rows(new_docs, num_hashes, bands)
    return index.unionByName(rows)


def query_minhash_index(
    index: DataFrame,
    batch: DataFrame,
    num_hashes: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Near-dup candidate pairs between a NEW ingest batch and the indexed
    corpus: ``(batch_id, index_id)`` distinct, self-matches dropped. The
    banding params MUST match the index's build params (band strings only
    collide within the same scheme). One equi-join on ``(band, bh)`` —
    the batch side shuffles O(batch); never all-pairs, never a corpus
    rescan."""
    qb = minhash_band_rows(batch, num_hashes, bands)
    return (
        qb.alias("q")
        .join(index.alias("x"), ["band", "bh"])
        .filter(F.col("q.id") != F.col("x.id"))
        .select(F.col("q.id").alias("batch_id"), F.col("x.id").alias("index_id"))
        .distinct()
    )


def _band_blocks(total_bits: int, n_bands: int) -> list[tuple[int, int]]:
    """Partition [0, total_bits) into n_bands contiguous (start, width)
    blocks of near-equal width (covers every bit — required for the
    pigeonhole guarantee)."""
    base, rem = divmod(total_bits, n_bands)
    blocks, start = [], 0
    for w in [base + 1] * rem + [base] * (n_bands - rem):
        blocks.append((start, w))
        start += w
    return blocks


def hamming_band_pairs(
    keyed: DataFrame,
    max_hamming: int,
    n_bands: int,
    total_bits: int,
    id_col: str = "id",
    key_col: str = "k",
) -> DataFrame:
    """EXACT hamming ≤ r pair generation with no crossJoin (pigeonhole):
    split the key's bits into n_bands blocks; any pair within distance
    r < n_bands must agree exactly on ≥1 block → per-block equi-join on
    (blk, bits) is a complete candidate generator; ``bit_count(a^b)``
    verifies survivors. One shuffle keyed by (blk, bits) — at 10^9 rows
    only same-block-value groups ever meet, never all-pairs."""
    assert max_hamming < n_bands, "pigeonhole needs max_hamming < n_bands"
    blocks = _band_blocks(total_bits, n_bands)
    exploded = keyed.select(
        F.col(id_col).alias("id"),
        F.col(key_col).alias("k"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("blk"),
                        F.shiftrightunsigned(F.col(key_col), s)
                        .bitwiseAND(F.lit((1 << w) - 1))
                        .alias("bits"),
                    )
                    for i, (s, w) in enumerate(blocks)
                ]
            )
        ).alias("bb"),
    ).select("id", "k", F.col("bb.blk").alias("blk"), F.col("bb.bits").alias("bits"))
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(b, (F.col("a.blk") == F.col("b.blk")) & (F.col("a.bits") == F.col("b.bits")))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            F.bit_count(F.col("a.k").bitwiseXOR(F.col("b.k"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def simhash_signatures(df: DataFrame) -> DataFrame:
    """Charikar simhash per doc as (id, sim) — 100% built-in expressions:
    explode word tokens, hash each with the 60-bit ``portable_hash64``
    (the DuckDB oracle recomputes it value-for-value), bit-vote with one
    groupBy carrying per-bit sum columns, then repack the sign bits.

    Token weights follow term frequency (duplicates kept, as in the
    reference Charikar construction); docs with no tokens get sim = 0."""
    tok = F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok")
    toks = df.select(F.col("doc_id").alias("id"), tok).filter(F.col("tok") != "")
    hashed = toks.select("id", portable_hash64(F.col("tok")).alias("hv"))
    votes = hashed.groupBy("id").agg(
        *[
            F.sum(
                F.shiftrightunsigned("hv", b).bitwiseAND(F.lit(1)).cast("long") * 2 - 1
            ).alias(f"v{b}")
            for b in range(60)
        ]
    )
    sig = None
    for b in range(60):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        sig = term if sig is None else sig.bitwiseOR(term)
    signed = votes.select("id", sig.alias("sim"))
    # empty/whitespace-only docs vote on nothing → sim = 0 (UDF-era contract)
    return (
        df.select(F.col("doc_id").alias("id"))
        .join(signed, "id", "left")
        .select("id", F.coalesce("sim", F.lit(0).cast("long")).alias("sim"))
    )


def simhash_near_dups(df: DataFrame, max_hamming: int = 3, n_bands: int = 4) -> DataFrame:
    """Pairs with simhash hamming distance ≤ max_hamming; exact pair
    generation via the pigeonhole band join (``hamming_band_pairs``) over
    the 60-bit ``simhash_signatures``."""
    # the band self-join consumes sh on BOTH sides; without a cache each
    # side re-runs the full per-bit vote aggregation over the corpus (one
    # (id, sim) row per doc is tiny next to recomputing)
    sh = simhash_signatures(df).persist()
    return hamming_band_pairs(
        sh, max_hamming=max_hamming, n_bands=n_bands, total_bits=60, id_col="id", key_col="sim"
    )


def _cos_prep(emb: DataFrame) -> DataFrame:
    return emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v"),
        F.sqrt(
            F.aggregate("embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double") * x)
        ).alias("norm"),
    )


def _pair_cosine() -> Column:
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return dot / (F.col("a.norm") * F.col("b.norm"))


def embedding_near_dups(emb: DataFrame, threshold: float = 0.95) -> DataFrame:
    """Pairs (a_id < b_id) with cosine ≥ threshold — brute force O(n²).

    TEST-ORACLE BASELINE ONLY: the production path at scale is
    ``embedding_near_dups_banded`` (sign-LSH candidate generation, no
    crossJoin); this exact form exists to measure its recall."""
    n = _cos_prep(emb)
    a, b = n.alias("a"), n.alias("b")
    return (
        a.crossJoin(b)
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            _pair_cosine().alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def sign_bands(
    vec_col: Column, n_bands: int, band_width: int, planes=None
) -> list[Column]:
    """n_bands packed sign-bit bucket columns over an ``array<float>``.

    planes=None → axis-aligned: bit j of band i = (v[i*w + j] > 0). No
    arithmetic at all — the sign of a stored float is bit-exact across any
    engine (this is what makes the banded near-dup DuckDB-oracle-able).
    planes=ndarray (n_bands*band_width, dim) → random-hyperplane signs
    (``similarity.hyperplanes``), the classic SRP-LSH used at scale."""
    bands = []
    for i in range(n_bands):
        packed = F.lit(0).cast("long")
        for j in range(band_width):
            if planes is None:
                proj = F.get(vec_col, i * band_width + j).cast("double")
            else:
                p = planes[i * band_width + j]
                proj = F.aggregate(
                    F.zip_with(
                        vec_col,
                        F.array(*[F.lit(float(x)) for x in p]),
                        lambda x, y: x.cast("double") * y,
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            packed = packed.bitwiseOR(
                F.when(proj > 0, F.lit(1 << j).cast("long")).otherwise(F.lit(0).cast("long"))
            )
        bands.append(packed)
    return bands


def embedding_near_dups_banded(
    emb: DataFrame,
    threshold: float = 0.95,
    n_bands: int = 8,
    band_width: int = 8,
    planes=None,
) -> DataFrame:
    """Near-dup pairs by sign-LSH banding: candidates = pairs agreeing on
    ≥1 full band of sign bits (equi-join on (band, bucket) — one shuffle,
    never all-pairs), then exact cosine ≥ threshold verify on survivors.

    Approximate by construction (recall < 1 possible; measured ≥0.95 vs the
    brute-force baseline in tests/test_operators.py at 10^4 vectors). With
    planes=None the candidate generation itself is deterministic float-sign
    reads, reproducible in the DuckDB oracle."""
    prep = _cos_prep(emb)
    bands = sign_bands(F.col("v"), n_bands, band_width, planes)
    banded = prep.select(
        "id",
        "v",
        "norm",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(i).alias("band"), bexpr.alias("bucket"))
                    for i, bexpr in enumerate(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "v", "norm", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bucket") == F.col("b.bucket")))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("a_id"),
            F.col("b.id").alias("b_id"),
            _pair_cosine().alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .groupBy("a_id", "b_id")
        .agg(F.first("cosine").alias("cosine"))
    )


def containment_pairs(
    docs: DataFrame,
    min_shared: int = 2,
    min_containment: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Directional contained-duplicate detection via shared winnowing
    fingerprints (the MOSS construction, Schleimer et al. SIGMOD'03) —
    (u, v, shared, fp_u, containment) where containment = |fp(u)∩fp(v)| /
    |fp(u)|: how much of document u reappears inside v.

    Jaccard/minhash near-dup misses the quote-and-extend case (a short
    doc wholly embedded in a long one has tiny Jaccard but containment
    ≈ 1) — for training-data curation that case is exactly the boilerplate
    /ToS/license-block class worth stripping. Winnowing guarantees any
    shared run of ≥ ``text.WINNOW_W + text.WINNOW_K - 1`` chars leaves at least one common fingerprint,
    so containment over fingerprint sets tracks containment over text.

    Scale shape: explode fingerprints → equi-join on the fingerprint
    value → groupBy(u, v) count — the same never-all-pairs banding shape
    as minhash_lsh_candidates. ``max_doc_freq`` drops corpus-hot
    fingerprints (stop-boilerplate) from the self-join before it can
    build n²/2 hot groups; the cap is a broadcast anti-join on the small
    hot-fingerprint list. Both directions of every qualifying pair are
    emitted (containment is directional). Pure expressions end-to-end."""
    from maga_spark.operators.text import winnow_fingerprint_portable

    fps = docs.select(
        F.col("doc_id"), winnow_fingerprint_portable(F.col("text")).alias("fp")
    )
    # explode_outer + h-not-null instead of plain explode — value-identical
    # (fp never holds NULL elements: every element is conv(md5(non-null
    # gram)), and a NULL/short text yields fp = [], which both forms drop)
    # but it stops InferFiltersFromGenerate injecting `size(fp) > 0 AND
    # isnotnull(fp)` into the scan-side Filter, where codegen subexpression
    # elimination evaluates the ENTIRE winnow expression EAGERLY on every
    # scanned row BEFORE the short-circuiting id predicate (guide §7.2
    # "duplicated UDF evaluation" in expression form; measured 119 s →
    # 1.4 s on the driver bench fixture at sf1.0, where only 202 of 50k
    # scanned rows survive the pushed id filter).
    ex = fps.select(F.col("doc_id"), F.explode_outer("fp").alias("h")).filter(
        F.col("h").isNotNull()
    )

    def pairs(ex: DataFrame) -> DataFrame:
        a = ex.select(F.col("doc_id").alias("u"), "h")
        b = ex.select(F.col("doc_id").alias("v"), "h")
        return a.join(b, "h").filter(F.col("u") != F.col("v")).select("u", "v")

    return _containment(ex, pairs, min_shared, min_containment, max_doc_freq)


def _containment(
    ex: DataFrame,
    pairs: Callable[[DataFrame], DataFrame],
    min_shared: int,
    min_containment: float,
    max_doc_freq: int | None,
) -> DataFrame:
    """The containment tail both paths share, over exploded ``(doc_id, h)``
    fingerprint rows: drop corpus-hot fingerprints (more than
    ``max_doc_freq`` docs) with a broadcast anti-join on the small hot list,
    count shared fingerprints per ``pairs(ex)`` row ``(u, v)`` (one row per
    fingerprint the two docs share, u != v), and divide by |fp(u)|.
    |fp(u)| is counted from ``ex`` BEFORE the cap (fp is already distinct
    per doc), which costs no extra winnow evaluation; empty-fp docs drop
    out of ``ex`` but can never reach ``shared`` anyway."""
    sizes = ex.groupBy("doc_id").agg(F.count("*").alias("fp_n"))
    if max_doc_freq is not None:
        hot = (
            ex.groupBy("h")
            .agg(F.count("*").alias("_df"))
            .filter(F.col("_df") > max_doc_freq)
            .select("h")
        )
        ex = ex.join(F.broadcast(hot), "h", "left_anti")
    shared = (
        pairs(ex)
        .groupBy("u", "v")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )
    return (
        shared.join(sizes.select(F.col("doc_id").alias("u"), "fp_n"), "u")
        .withColumn("containment", F.col("shared") / F.col("fp_n"))
        .filter(F.col("containment") >= min_containment)
        .select("u", "v", "shared", F.col("fp_n").alias("fp_u"), "containment")
    )


def build_fingerprint_index(
    docs: DataFrame,
    table: str,
    path: str,
    n_buckets: int = 16,
    mode: str = "overwrite",
) -> None:
    """Materialize winnowing fingerprints ONCE into a bucketed index table
    ``(doc_id, h)`` — bucketed AND sorted by the fingerprint value ``h``.

    The ad-hoc ``containment_pairs`` recomputes the winnow expression on
    every branch that references it (self-join sides, hot-list, sizes —
    Spark has no cross-branch expression CSE without materialization),
    which is the right trade for one exploratory query but not for a
    corpus that is fingerprinted once and mined repeatedly. Storing the
    exploded fingerprints bucketed by ``h`` pays the hash ONCE at ingest
    and makes every later sharing join bucket-aligned: the self-join in
    ``containment_pairs_from_index`` runs with ZERO Exchange — both sides
    are the same catalog table, already co-partitioned and sorted on the
    join key (plan-pinned in test_operators). Same storage idiom as the
    minhash band index (minhash_band_rows): state tables carry their
    partitioning on disk.
    ``mode='append'`` absorbs new documents per-bucket without rewriting
    history."""
    from maga_spark.operators.text import winnow_fingerprint_portable

    ex = docs.select(
        F.col("doc_id"),
        F.explode(winnow_fingerprint_portable(F.col("text"))).alias("h"),
    )
    (
        ex.write.mode(mode)
        .format("parquet")
        .bucketBy(n_buckets, "h")
        .sortBy("h")
        .option("path", path)
        .saveAsTable(table)
    )


def containment_pairs_from_index(
    spark,
    table: str,
    min_shared: int = 2,
    min_containment: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """``containment_pairs`` served from a ``build_fingerprint_index``
    table: identical output contract (u, v, shared, fp_u, containment),
    but the expensive winnow hash is never recomputed and the sharing
    self-join is bucket-aligned — no Exchange on either side (the only
    shuffles left are the small (u, v) aggregation and the doc-size
    aggregate). ``max_doc_freq`` drops corpus-hot fingerprints via the
    same broadcast anti-join as the ad-hoc path."""

    def pairs(ex: DataFrame) -> DataFrame:
        return (
            ex.alias("A")
            .join(ex.alias("B").hint("merge"), F.col("A.h") == F.col("B.h"))
            .filter(F.col("A.doc_id") != F.col("B.doc_id"))
            .select(F.col("A.doc_id").alias("u"), F.col("B.doc_id").alias("v"))
        )

    return _containment(spark.table(table), pairs, min_shared, min_containment, max_doc_freq)


def semantic_dedup(
    emb: DataFrame,
    qcents,
    tau_num: int = 4,
    tau_den: int = 5,
    quant: int = 1000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) as one Spark plan:
    assign every vector to its nearest coarse centroid (pure-expression
    argmin, same construction as similarity._cid_expr), then look for
    semantic duplicates ONLY within a cluster — the candidate join is an
    equi-join on ``cid`` whose group size is the cluster size, never a
    global all-pairs. The cosine gate is similarity.alignment_gate's
    BIGINT squared-inequality (dot ≥ 0 ∧ dot²·τden² ≥ τnum²·|a|²·|b|²)
    over floor(x·quant) integer coordinates, so every verdict is
    bit-reproducible across engines (and DuckDB-oracle-able).

    ``qcents``: centroid matrix ALREADY quantized with the same ``quant``
    (integer-valued floats) — callers derive it portably (md5-pivot picks,
    as the driver query does) or from similarity.ivf_train output via
    ``floor(c·quant)``.

    Returns (cid, keep_id, drop_id, dot_q, na_q, nb_q): for each
    qualifying pair the smaller id is the keeper — the paper keeps one
    representative per duplicate group; this keep-lowest-id rule is the
    deterministic greedy pairwise variant. Consumers wanting the
    transitive-closure grouping feed (keep_id, drop_id) edges to
    graph.connected_components and keep each component's min id.

    100-TB shape: ONE shuffle (hash on cid); the per-cluster quadratic
    term is governed by the centroid count — SemDeDup §3 runs ~11k
    clusters over 2B embeddings precisely so cluster size stays a knob,
    not a property of the data. Skewed (over-dense) clusters surface as
    large join groups and are split by raising n_lists, exactly like the
    paper's re-clustering knob.
    """
    from maga_spark.operators.similarity import _dot, alignment_gate, quantize_vec_col

    qcents = list(qcents)
    if not qcents:
        raise ValueError("semantic_dedup needs at least one centroid")
    qe = quantize_vec_col(F.col("embedding"), float(quant))
    scores = F.array(
        *[
            2.0 * _dot(qe, F.array(*[F.lit(float(x)) for x in c]))
            - float(sum(float(x) * float(x) for x in c))
            for c in qcents
        ]
    )
    cid = (F.array_position(scores, F.array_max(scores)) - 1).cast("int")
    assigned = emb.select(
        F.col("vec_id").alias("id"), F.col("embedding").alias("v"), cid.alias("cid")
    )
    a = assigned.select("cid", F.col("id").alias("keep_id"), F.col("v").alias("_va"))
    b = assigned.select("cid", F.col("id").alias("drop_id"), F.col("v").alias("_vb"))
    pairs = a.join(b, "cid").filter(F.col("keep_id") < F.col("drop_id"))
    gated = alignment_gate(
        pairs, a_col="_va", b_col="_vb", tau_num=tau_num, tau_den=tau_den, quant=quant
    )
    return gated.filter(F.col("aligned")).select(
        "cid", "keep_id", "drop_id", "dot_q", "na_q", "nb_q"
    )
