"""Training-corpus assembly: sequence packing, decontamination, PII scrub.

Each operator also has a full DuckDB value-hash oracle in __spark_entry__
(sequence_pack / decontaminate / pii_redact); these tests pin the semantic
edge cases and the plan shapes the oracle can't see.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from maga_spark.operators.training import (
    PII_PATTERNS,
    decontaminate,
    pii_redact,
    sequence_pack,
    cased_word_ngrams,
)


def test_sequence_pack_offsets_and_bins(spark):
    rows = [
        # stream a: 3+5+0+4 tokens, ctx_len 4 → cuts at 4, 8, 12
        (1, "a", 3),
        (2, "a", 5),
        (3, "a", 0),
        (4, "a", 4),
        # stream b packs independently from offset 0
        (5, "b", 9),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, nt long")
    out = {
        r.doc_id: r
        for r in sequence_pack(df, 4, F.col("nt")).collect()
    }
    assert (out[1].tok_start, out[1].tok_end, out[1].bin_first, out[1].bin_last) == (0, 3, 0, 0)
    # doc 2 straddles the first cut: tokens [3, 8) → bins 0..1
    assert (out[2].tok_start, out[2].tok_end, out[2].bin_first, out[2].bin_last) == (3, 8, 0, 1)
    assert out[2].bins_spanned == 2
    # empty doc sits at its offset, spans exactly one bin
    assert (out[3].tok_start, out[3].tok_end, out[3].bins_spanned) == (8, 8, 1)
    assert (out[4].tok_start, out[4].tok_end, out[4].bin_first, out[4].bin_last) == (8, 12, 2, 2)
    # stream b restarts at 0 and spans ceil(9/4)=3 bins
    assert (out[5].tok_start, out[5].bin_first, out[5].bin_last) == (0, 0, 2)


def test_sequence_pack_rejects_degenerate_configs(spark):
    df = spark.createDataFrame([(1, "a", 3)], "doc_id long, source string, nt long")
    with pytest.raises(ValueError):
        sequence_pack(df, 0, F.col("nt"))
    with pytest.raises(ValueError):
        sequence_pack(df, 4, F.col("nt"), stream_cols=[])


def test_word_ngrams_edges(spark):
    df = spark.createDataFrame(
        [("a b c d",), ("a b",), ("",), ("   ",)], "t string"
    )
    out = [r.g for r in df.select(cased_word_ngrams(F.col("t"), 3).alias("g")).collect()]
    assert out[0] == ["a b c", "b c d"]
    assert out[1] == []  # fewer tokens than n
    assert out[2] == [] and out[3] == []


def test_decontaminate_flags_benchmark_leaks(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),  # contains bench 1
            (2, "completely unrelated text with no overlap at all here"),
            (3, "xx the quick brown fox jumps over the lazy dog yy"),  # contains it too
            (4, "ab"),  # too short for any 8-gram
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog",)], "text string"
    )
    out = {r.doc_id: r for r in decontaminate(corpus, bench, n=8).collect()}
    assert out[1].contaminated and out[1].n_overlap == 2  # both 8-grams of the 9-gram
    assert not out[2].contaminated and out[2].n_overlap == 0
    assert out[3].contaminated  # the benchmark 8-grams appear embedded
    # doc 4 has zero 8-grams but still appears (auditable), clean
    assert out[4].n_ngrams == 0 and not out[4].contaminated


def test_decontaminate_repeated_gram_is_one_overlap(spark):
    """A doc repeating one benchmark n-gram many times counts once —
    the per-doc distinct is what keeps the join skew-free."""
    phrase = "a b c d e f g h"
    corpus = spark.createDataFrame(
        [(1, " ".join([phrase] * 50))], "doc_id long, text string"
    )
    bench = spark.createDataFrame([(phrase,)], "text string")
    row = decontaminate(corpus, bench, n=8).collect()[0]
    # the repeated text has many distinct 8-grams (across the seams) but
    # each shared gram counts exactly once
    assert row.contaminated
    assert row.n_overlap <= row.n_ngrams


def test_pii_redact_kinds_and_order(spark):
    df = spark.createDataFrame(
        [
            ("mail bob.smith+x@corp.example.com now",),
            ("server at 10.0.255.7 port",),
            ("call +1 555 0100 42 today",),
            ("alice@ex.org and 192.168.1.1 and 555-123-4567",),
            ("no pii here",),
        ],
        "text string",
    )
    out = pii_redact(df).collect()
    assert out[0].text_redacted == "mail <EMAIL> now" and out[0].n_email == 1
    assert out[1].text_redacted == "server at <IP> port" and out[1].n_ip == 1
    assert out[2].text_redacted == "call <PHONE> today" and out[2].n_phone == 1
    r = out[3]
    assert r.n_email == 1 and r.n_ip == 1 and r.n_phone == 1
    assert r.text_redacted == "<EMAIL> and <IP> and <PHONE>"
    clean = out[4]
    assert clean.text_redacted == "no pii here"
    assert clean.n_email == clean.n_ip == clean.n_phone == 0
    # an email's digits are not double-counted as a phone, and an IP's
    # dotted quad is not half-eaten by the phone pass
    df2 = spark.createDataFrame([("x 123456789@digits.example y",)], "text string")
    r2 = pii_redact(df2).collect()[0]
    assert r2.n_email == 1 and r2.n_phone == 0
    assert r2.text_redacted == "x <EMAIL> y"


def test_training_plans_are_python_free_and_shuffle_lean(spark):
    docs = spark.createDataFrame(
        [(1, "a", "w x y z"), (2, "a", "p q")], "doc_id long, source string, text string"
    )
    red = pii_redact(docs)
    plan = red._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "Exchange" not in plan  # pure in-row
    packed = sequence_pack(docs, 4, F.lit(2))
    plan = packed._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    # exactly ONE exchange: the per-stream window partitioning
    assert plan.count("Exchange hashpartitioning") == 1
    dec = decontaminate(docs, docs.select("text"), n=2)
    assert "EvalPython" not in dec._jdf.queryExecution().executedPlan().toString()
    assert len(PII_PATTERNS) == 3


def test_repeated_ngram_spans_coalesces_islands(spark):
    """Two docs share a 10-token block (3 repeated 8-gram positions →
    ONE span row per doc); a third doc is clean. Span extents cover the
    full block; intra-doc-only repeats don't count toward min_docs."""
    from maga_spark.operators.training import repeated_ngram_spans

    block = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
    corpus = spark.createDataFrame(
        [
            (1, f"u1 u2 {block} u3 u4"),
            (2, f"{block} v1 v2 v3"),
            (3, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"),
        ],
        "doc_id long, text string",
    )
    out = repeated_ngram_spans(corpus, n=8, min_docs=2).collect()
    by_doc = {r.doc_id: r for r in out}
    assert set(by_doc) == {1, 2}
    # doc 1: block occupies tokens 3..12 → repeated 8-gram starts 3,4,5
    r1 = by_doc[1]
    assert (r1.span_start, r1.span_end, r1.n_grams, r1.max_docs) == (3, 12, 3, 2)
    # doc 2: block at tokens 1..10 → starts 1,2,3
    r2 = by_doc[2]
    assert (r2.span_start, r2.span_end, r2.n_grams) == (1, 10, 3)


def test_repeated_ngram_spans_distinct_doc_count(spark):
    """A gram repeated 5x INSIDE one doc but present in no other doc is
    not 'repeated' under min_docs=2 (distinct-document semantics)."""
    from maga_spark.operators.training import repeated_ngram_spans

    phrase = "a b c d e f g h"
    corpus = spark.createDataFrame(
        [(1, " ".join([phrase] * 5)), (2, "z1 z2 z3 z4 z5 z6 z7 z8 z9")],
        "doc_id long, text string",
    )
    assert repeated_ngram_spans(corpus, n=8, min_docs=2).count() == 0


def test_aspect_bucket_exact_assignment(spark):
    from maga_spark.operators.training import DEFAULT_ASPECT_BUCKETS, aspect_bucket

    rows = [
        (1, 512, 512),   # exactly 1:1
        (2, 1024, 768),  # exactly 4:3
        (3, 768, 1024),  # 3:4
        (4, 1920, 1080), # 16:9
        (5, 1080, 1920), # 9:16
        (6, 1000, 990),  # near-square → 1:1
        (7, 1400, 1000), # 1.4 → nearer 4:3 (1.333) than 16:9 (1.778)
    ]
    df = spark.createDataFrame(rows, "img long, w long, h long")
    out = {r.img: r for r in aspect_bucket(df).collect()}
    for img, expect in [(1, (1, 1)), (2, (4, 3)), (3, (3, 4)), (4, (16, 9)),
                        (5, (9, 16)), (6, (1, 1)), (7, (4, 3))]:
        assert (out[img].bucket_w, out[img].bucket_h) == expect, img
        assert DEFAULT_ASPECT_BUCKETS[out[img].bucket_idx] == expect
    # pure in-row: no shuffle, no Python
    plan = aspect_bucket(df)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_aspect_bucket_tie_breaks_to_earlier_bucket(spark):
    """(w, h) equidistant between two buckets takes the earlier one:
    7:12 is exactly between 3:4 (=9:12) and ... construct a genuine tie:
    ratio sqrt(4/3 * 1) has no exact tie in ints — use buckets (2,1),(1,2)
    with a square image: |1*1-2*1| = |1*2-1*1| = 1 on cross products,
    normalized equally → earlier bucket (2,1) wins."""
    from maga_spark.operators.training import aspect_bucket

    df = spark.createDataFrame([(1, 100, 100)], "img long, w long, h long")
    out = aspect_bucket(df, buckets=((2, 1), (1, 2))).collect()[0]
    assert (out.bucket_w, out.bucket_h) == (2, 1) and out.bucket_idx == 0


def test_dedup_cut_removes_spanned_tokens(spark):
    """Lee-et-al cut semantics: tokens inside any mined span vanish, the
    rest re-join in order; docs without spans pass through verbatim; a
    fully-covered doc comes back empty (not NULL)."""
    from maga_spark.operators.training import dedup_cut

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "x y z"),
            (3, "p q"),
        ],
        "doc_id long, text string",
    )
    spans = spark.createDataFrame(
        [
            (1, 2, 4),  # cut b c d
            (1, 4, 5),  # overlapping: also cuts e
            (3, 1, 2),  # covers the whole doc
        ],
        "doc_id long, span_start long, span_end long",
    )
    out = {r.doc_id: r for r in dedup_cut(docs, spans).collect()}
    assert out[1].text_clean == "a f" and out[1].n_tokens == 6 and out[1].n_kept == 2
    assert out[1].n_spans == 2
    assert out[2].text_clean == "x y z" and out[2].n_spans == 0
    assert out[3].text_clean == "" and out[3].n_kept == 0

    # cut itself is expression-only: the one Exchange is the span groupBy
    plan = dedup_cut(docs, spans)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_dedup_cut_composes_with_span_miner(spark):
    """End-to-end: repeated 8-gram boilerplate injected into two docs is
    mined and cut; after the cut no 8-gram repeats across docs."""
    from maga_spark.operators.training import dedup_cut, repeated_ngram_spans

    bp = "the quick brown fox jumps over the lazy dog today"
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma " + bp),
            (2, bp + " delta epsilon"),
            (3, "unrelated words only here"),
        ],
        "doc_id long, text string",
    )
    spans = repeated_ngram_spans(docs, n=8, min_docs=2)
    out = {r.doc_id: r for r in dedup_cut(docs, spans).collect()}
    assert out[1].n_kept < out[1].n_tokens and out[2].n_kept < out[2].n_tokens
    assert out[3].text_clean == "unrelated words only here"
    cleaned = spark.createDataFrame(
        [(d, r.text_clean) for d, r in out.items()], "doc_id long, text string"
    )
    assert repeated_ngram_spans(cleaned, n=8, min_docs=2).count() == 0


# ---------------------------------------------------- epoch shuffle / shards


def test_epoch_shuffle_contract(spark):
    from maga_spark.operators.training import epoch_shuffle, shard_manifest

    df = spark.range(40).select(F.col("id").alias("doc_id"))
    out = epoch_shuffle(df, 4, seed="s1").collect()
    assert len(out) == 40
    assert {r.doc_id for r in out} == set(range(40))
    # positions are a contiguous 0..n-1 run per shard, ordered by key
    by_shard: dict[int, list] = {}
    for r in out:
        by_shard.setdefault(r.shard, []).append(r)
    for shard, rows in by_shard.items():
        rows.sort(key=lambda r: r.pos)
        assert [r.pos for r in rows] == list(range(len(rows)))
        keys = [r.key for r in rows]
        assert keys == sorted(keys)
        assert all(r.key % 4 == shard for r in rows)
    # deterministic: a second run is bit-identical
    again = epoch_shuffle(df, 4, seed="s1").collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, out))
    # a different seed is a different permutation of the same ids
    other = epoch_shuffle(df, 4, seed="s2").collect()
    assert {r.doc_id for r in other} == set(range(40))
    assert sorted(map(tuple, other)) != sorted(map(tuple, out))
    # manifest: counts sum to N, digest is the xor of the shard's keys
    man = {r.shard: r for r in shard_manifest(epoch_shuffle(df, 4, seed="s1")).collect()}
    assert sum(r.n_rows for r in man.values()) == 40
    for shard, rows in by_shard.items():
        digest = 0
        for r in rows:
            digest ^= r.key
        assert man[shard].n_rows == len(rows)
        assert man[shard].key_digest == digest


def test_epoch_shuffle_parallelism_independent(spark):
    from maga_spark.operators.training import epoch_shuffle

    df = spark.range(200).select(F.col("id").alias("doc_id"))
    a = epoch_shuffle(df.repartition(1), 8, seed="x").collect()
    b = epoch_shuffle(df.repartition(16), 8, seed="x").collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_epoch_shuffle_rejects_bad_shards(spark):
    from maga_spark.operators.training import epoch_shuffle

    df = spark.range(3).select(F.col("id").alias("doc_id"))
    with pytest.raises(ValueError):
        epoch_shuffle(df, 0)
