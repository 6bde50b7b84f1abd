"""Training-data operators: dedup families, similarity, text, as-of."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from maga_spark.operators.asof import asof_join
from maga_spark.operators.dedup import (
    embedding_near_dups,
    exact_dedup,
    minhash_lsh_candidates,
    simhash_near_dups,
)
from maga_spark.operators.similarity import brute_force_topk, lsh_bucket_topk_quantized
from maga_spark.operators.text import language_id, winnow_fingerprint_portable

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog and runs away fast"),
    (2, "the quick brown fox jumps over the lazy dog and runs away fast"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog and walks away fast"),  # near dup of 1
    (4, "der hund und die katze sind nicht ein gutes team von tieren"),
    (5, "completely different content about quantum chromodynamics lattice simulations"),
    (6, "le chat est dans la maison et les enfants sont pour dans le jardin"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark, docs):
    out = exact_dedup(docs).collect()
    groups = {r["keep_id"]: r["dup_count"] for r in out}
    assert groups[1] == 2  # docs 1,2 collapse
    assert len(out) == 5


def test_minhash_lsh_finds_near_dup(spark, docs):
    pairs = {(r["a_id"], r["b_id"]) for r in minhash_lsh_candidates(docs).collect()}
    assert (1, 2) in pairs  # exact dup always collides
    assert (1, 3) in pairs or (2, 3) in pairs  # near dup collides in >=1 band
    assert (1, 5) not in pairs and (4, 5) not in pairs  # unrelated don't


def test_minhash_signatures_match_python_reference(spark, docs):
    """The one MinHash signature == a plain-python recomputation: per seed
    i, the min over the doc's distinct lower-case word 3-gram shingles of
    the 60-bit md5 prefix of "mh{i}:" + shingle."""
    import hashlib

    from maga_spark.operators.dedup import minhash_signatures

    def py_sig(t, n=16, k=3):
        w = t.lower().split()
        sh = {" ".join(w[j : j + k]) for j in range(len(w) - k + 1)}
        return tuple(
            min(int(hashlib.md5(f"mh{i}:{s}".encode()).hexdigest()[:15], 16) for s in sh)
            for i in range(n)
        )

    got = {
        r["id"]: tuple(r[f"mh{i}"] for i in range(16))
        for r in minhash_signatures(docs, num_hashes=16).collect()
    }
    assert got == {i: py_sig(t) for i, t in DOCS}


def test_minhash_index_incremental(spark, docs):
    """Incremental near-dup index: append == from-scratch (row-identical,
    the cuckoo/IVF incremental-state contract), batch-vs-index query finds
    exactly the cross pairs of the self-join, self-matches dropped."""
    from maga_spark.operators.dedup import (
        append_to_minhash_index,
        minhash_band_rows,
        query_minhash_index,
    )

    corpus = docs.filter(F.col("doc_id") <= 4)
    batch = docs.filter(F.col("doc_id") > 4)

    # incremental == from-scratch, bit-identical band rows
    full = {tuple(r) for r in minhash_band_rows(docs).collect()}
    inc = {tuple(r) for r in append_to_minhash_index(minhash_band_rows(corpus), batch).collect()}
    assert inc == full and len(full) > 0

    # querying a batch containing a near-dup of an indexed doc finds it;
    # novel docs match nothing; self-pairs never appear
    idx = minhash_band_rows(corpus)
    probe = spark.createDataFrame(
        [(7, DOCS[0][1]), (8, "novel text about nothing seen before in any indexed document body")],
        "doc_id long, text string",
    )
    got = {(r["batch_id"], r["index_id"]) for r in query_minhash_index(idx, probe).collect()}
    assert (7, 1) in got and (7, 2) in got  # exact dup of docs 1/2
    assert all(b != 8 for (b, _) in got)  # novel doc matches nothing

    # consistency with the self-join: cross-pairs(corpus, batch) via the
    # index == the self-join's pairs restricted to one id on each side
    self_pairs = {(r["a_id"], r["b_id"]) for r in minhash_lsh_candidates(docs).collect()}
    cross_self = {(a, b) for (a, b) in self_pairs if (a <= 4) != (b <= 4)}
    via_index = {(r["batch_id"], r["index_id"]) for r in query_minhash_index(idx, batch).collect()}
    assert {(min(a, b), max(a, b)) for (a, b) in via_index} == cross_self


def test_simhash_near_dups(spark, docs):
    """Short docs need a wider radius: one word swapped in 13 tokens flips
    3 of 60 bits here (plain-Python md5); unrelated docs sit at ~25.
    radius 7 < 8 bands satisfies the pigeonhole precondition."""
    got = {
        (r["a_id"], r["b_id"]): r["hamming"]
        for r in simhash_near_dups(docs, max_hamming=7, n_bands=8).collect()
    }
    assert got[(1, 2)] == 0
    assert (1, 3) in got and got[(1, 3)] <= 7
    assert (1, 5) not in got


def test_simhash_matches_python_reference(spark):
    """JVM bit-vote simhash == independent plain-python recomputation over
    60-bit md5-prefix token hashes."""
    import hashlib

    from maga_spark.operators.dedup import simhash_signatures

    def py_simhash(t):
        v = [0] * 60
        for w in t.lower().split():
            h = int(hashlib.md5(w.encode()).hexdigest()[:15], 16)
            for b in range(60):
                v[b] += 1 if (h >> b) & 1 else -1
        return sum(1 << b for b in range(60) if v[b] > 0)

    df = spark.createDataFrame(list(DOCS), "doc_id long, text string")
    got = {
        r["id"]: r["sim"]
        for r in simhash_signatures(df).collect()
    }
    assert got == {i: py_simhash(t) for i, t in DOCS}


def test_simhash_no_python_in_plan(spark):
    """The signatures and the default near-dup pairs must be
    whole-stage-codegen'd — no Arrow or row-Python evaluation nodes
    anywhere in either plan."""
    from maga_spark.operators.dedup import simhash_signatures

    df = spark.createDataFrame(list(DOCS), "doc_id long, text string")
    for out in (simhash_signatures(df), simhash_near_dups(df)):
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "EvalPython" not in plan  # covers BatchEvalPython + ArrowEvalPython


def test_simhash_portable_empty_doc(spark):
    from maga_spark.operators.dedup import simhash_signatures

    df = spark.createDataFrame(
        [(1, "hello hello world"), (2, ""), (3, "   ")], "doc_id long, text string"
    )
    got = {r["id"]: r["sim"] for r in simhash_signatures(df).collect()}
    assert got[2] == 0 and got[3] == 0
    assert 0 < got[1] < (1 << 60)


def test_hamming_band_pairs_exact_vs_bruteforce(spark):
    """Pigeonhole banding is EXACT: equals the all-pairs answer on >10^4
    random 64-bit keys (uneven block widths covered: 64 bits / 7 bands)."""
    from maga_spark.operators.dedup import hamming_band_pairs

    n = 12000
    keyed = spark.range(n).select(
        F.col("id"),
        F.xxhash64(F.col("id").cast("string")).alias("k"),
    )
    # plant near-dup pairs: ids n..n+9 are 2-bit flips of ids 0..9
    import pyspark.sql.functions as SF

    planted = spark.range(10).select(
        (F.col("id") + n).alias("id"),
        SF.xxhash64(F.col("id").cast("string")).bitwiseXOR(F.lit(3)).alias("k"),
    )
    keyed = keyed.unionByName(planted)
    got = {
        (r["a_id"], r["b_id"], r["hamming"])
        for r in hamming_band_pairs(
            keyed, max_hamming=6, n_bands=7, total_bits=64, id_col="id", key_col="k"
        ).collect()
    }
    a = keyed.select(F.col("id").alias("a_id"), F.col("k").alias("ka"))
    b = keyed.select(F.col("id").alias("b_id"), F.col("k").alias("kb"))
    brute = {
        (r["a_id"], r["b_id"], r["hamming"])
        for r in a.crossJoin(b)
        .filter(F.col("a_id") < F.col("b_id"))
        .withColumn("hamming", F.bit_count(F.col("ka").bitwiseXOR(F.col("kb"))))
        .filter(F.col("hamming") <= 6)
        .collect()
    }
    assert got == brute
    assert len(got) >= 10  # the planted pairs are all found


def test_embedding_near_dups_and_topk(spark):
    base = np.random.Generator(np.random.PCG64(7)).standard_normal((20, 8))
    rows = [(i, [float(x) for x in base[i]]) for i in range(20)]
    rows.append((20, [float(x * 1.001) for x in base[3]]))  # near-dup of 3
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    nd = {(r["a_id"], r["b_id"]) for r in embedding_near_dups(emb, threshold=0.99).collect()}
    assert (3, 20) in nd

    q = [float(x) for x in base[5]]
    top = brute_force_topk(emb, q, k=3).collect()
    assert top[0]["id"] == 5 and top[0]["cosine"] > 0.999


def test_lsh_ann_recall(spark):
    """Planted-cluster recall: 10 true neighbors around the query inside 200
    random distractors — the workload LSH bucketing exists for."""
    rng = np.random.Generator(np.random.PCG64(11))
    base = rng.standard_normal((200, 16))
    center = base[42]
    planted = [center + rng.standard_normal(16) * 0.08 for _ in range(9)]
    rows = [(i, [float(x) for x in base[i]]) for i in range(200)]
    rows += [(200 + j, [float(x) for x in v]) for j, v in enumerate(planted)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    q = [float(x) for x in (center + rng.standard_normal(16) * 0.05)]
    exact = [r["id"] for r in brute_force_topk(emb, q, k=10).collect()]
    approx = [
        r["id"] for r in lsh_bucket_topk_quantized(emb, q, k=10, n_planes=10, probe_radius=3).collect()
    ]
    recall = len(set(exact) & set(approx)) / 10
    assert 42 in exact and all(i >= 200 or i == 42 for i in exact)  # cluster wins
    assert 42 in approx
    assert recall >= 0.7, f"recall {recall}"


def test_language_id(spark, docs):
    got = {r["doc_id"]: r["lang_pred"] for r in language_id(docs).collect()}
    assert got[1] == "en" and got[4] == "de" and got[6] == "fr"
    empty = language_id(spark.createDataFrame([("xyzzy plugh",)], "text string")).collect()
    assert empty[0]["lang_pred"] == "und"


def test_winnow_fingerprint(spark, docs):
    out = {r["doc_id"]: r["fp"] for r in docs.select("doc_id", winnow_fingerprint_portable(F.col("text")).alias("fp")).collect()}
    assert out[1] == out[2]  # identical docs → identical fingerprints
    overlap = len(set(out[1]) & set(out[3])) / len(set(out[1]) | set(out[3]))
    assert overlap > 0.5  # near-dups share most fingerprints
    assert len(set(out[1]) & set(out[5])) == 0 or len(set(out[1]) & set(out[5])) < 3


def test_asof_join(spark):
    left = spark.createDataFrame(
        [(1, 10.0, "a"), (1, 20.0, "b"), (1, 5.0, "c"), (2, 7.0, "d")],
        "k long, ts double, tag string",
    )
    right = spark.createDataFrame(
        [(1, 8.0, 100), (1, 15.0, 200), (2, 9.0, 300)], "k long, rts double, val long"
    )
    out = {r["tag"]: (r["val"], r["asof_ts"]) for r in asof_join(left, right, "k", "ts", "rts").collect()}
    assert out["a"] == (100, 8.0)
    assert out["b"] == (200, 15.0)
    assert out["c"] == (None, None)  # nothing precedes ts=5
    assert out["d"] == (None, None)  # right @9 > left @7
    # tolerance bounds staleness
    tol = {
        r["tag"]: r["val"]
        for r in asof_join(left, right, "k", "ts", "rts", tolerance=3.0).collect()
    }
    assert tol["a"] == 100 and tol["b"] is None  # 20-15=5 > 3


def test_embedding_banded_recall_vs_bruteforce(spark):
    """Sign-LSH banded near-dup pairs recall ≥ 0.95 vs the exact crossJoin
    baseline at 10^4 vectors (random hyperplanes, threshold 0.9 with
    planted near-dup pairs)."""
    from maga_spark.operators.dedup import embedding_near_dups, embedding_near_dups_banded
    from maga_spark.operators.similarity import hyperplanes

    rng = np.random.Generator(np.random.PCG64(11))
    dim, n = 16, 10_000
    base = rng.standard_normal((n, dim))
    rows = [(i, [float(x) for x in base[i]]) for i in range(n)]
    # plant 50 near-dups: id n+j ≈ id j (tiny perturbation → cosine ≈ 1)
    for j in range(50):
        rows.append((n + j, [float(x + 0.02 * e) for x, e in zip(base[j], rng.standard_normal(dim))]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(8)

    exact = {
        (r["a_id"], r["b_id"])
        for r in embedding_near_dups(emb, threshold=0.9).collect()
    }
    planes = hyperplanes(dim, 12 * 6, seed=5)
    banded = embedding_near_dups_banded(
        emb, threshold=0.9, n_bands=12, band_width=6, planes=planes
    )
    plan = banded._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    got = {(r["a_id"], r["b_id"]) for r in banded.collect()}
    assert got <= exact  # verify step makes it precision-1
    assert len(exact) > 0
    recall = len(got & exact) / len(exact)
    assert recall >= 0.95, f"recall {recall:.3f} over {len(exact)} true pairs"


def test_global_topk_uniform_exact_ranks(spark):
    """The zero-driver-action uniform-bucket top-K (the scheduler's global
    rank) must reproduce a plain sort of the rows: same rows, same global
    ranks, over a hash-uniform key with negatives and a tie-broken total
    order — including k larger than the row count, and an adversarial key
    set whose every row lands in ONE top-12-bit bucket."""
    from pyspark.sql import functions as F

    from maga_spark.operators.topk import global_topk_uniform_ranked

    uniform = (
        spark.range(20000)
        .select(F.xxhash64("id").alias("k"), F.col("id").alias("payload"))
        .withColumn("k", F.when(F.col("payload") % 97 == 0, F.lit(0)).otherwise(F.col("k")))
    )  # a clump of equal keys exercises the intra-bucket tie-break
    # keep only the top 12 bits of a fixed key, vary the low 52: every row
    # shares one bucket, with distinct keys and a tie clump inside it
    one_bucket = uniform.withColumn(
        "k", F.col("k").bitwiseAND(F.lit((1 << 52) - 1)).bitwiseOR(F.lit(0x5A3 << 52))
    )
    order = [F.col("k").asc(), F.col("payload").asc()]
    for df in (uniform, one_bucket):
        rows = sorted((r["k"], r["payload"]) for r in df.collect())
        for k in (500, 50000):
            got = {
                (r["k"], r["payload"], r["rank"])
                for r in global_topk_uniform_ranked(df, order, k, uniform_key="k").collect()
            }
            want = {(key, p, i + 1) for i, (key, p) in enumerate(rows[:k])}
            assert got == want and len(got) == min(k, 20000)


def test_ivf_index_recall_and_pruning(spark, tmp_path):
    """IVF-Flat ANN: deterministic training (two Lloyd steps), list
    assignment as a pure-expression argmin, partition-pruned probe reads,
    and measured recall on clustered data (the regime IVF exists for)."""
    from maga_spark.operators.similarity import (
        brute_force_topk,
        build_ivf_index,
        ivf_topk,
        with_ivf_list,
    )

    rng = np.random.Generator(np.random.PCG64(11))
    centers = rng.standard_normal((8, 16)) * 5.0
    pts = np.vstack([c + rng.standard_normal((50, 16)) for c in centers])
    rows = [(i, [float(x) for x in pts[i]]) for i in range(len(pts))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / "ivf_idx")
    cents = build_ivf_index(emb, path, n_lists=8, iters=2)
    assert cents.shape == (8, 16)

    # determinism: retraining yields identical centroids
    from maga_spark.operators.similarity import ivf_train

    assert np.array_equal(cents, ivf_train(emb, n_lists=8, iters=2))

    # recall@10 over clustered queries vs brute force
    hits = tot = 0
    for qi in (3, 77, 141, 260, 333):
        q = [float(x) for x in pts[qi]]
        exact = {r["id"] for r in brute_force_topk(emb, q, k=10).collect()}
        approx_df = ivf_topk(spark, path, cents, q, k=10, nprobe=3)
        approx = {r["id"] for r in approx_df.collect()}
        hits += len(exact & approx)
        tot += len(exact)
    assert hits / tot >= 0.9, f"IVF recall {hits/tot:.2f} < 0.9"

    # the probed read is partition-pruned on cid
    plan = approx_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "cid" in plan
    # assignment stays whole-stage-codegen'd (no Python)
    aplan = with_ivf_list(emb, cents)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in aplan


def test_uniform_topk_order_contract_enforced(spark):
    """order_cols[0] must be uniform_key ascending — any other leading
    order would silently yield wrong global ranks, so the operator raises
    (ADVICE r3)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from maga_spark.operators.topk import global_topk_uniform_ranked

    df = spark.range(100).select(F.xxhash64("id").alias("k"), F.col("id").alias("p"))
    with _pytest.raises(ValueError, match="order_cols"):
        global_topk_uniform_ranked(df, [F.col("p").asc(), F.col("k").asc()], 10, uniform_key="k")
    with _pytest.raises(ValueError, match="order_cols"):
        global_topk_uniform_ranked(df, [F.col("k").desc()], 10, uniform_key="k")
    with _pytest.raises(ValueError, match="order_cols"):
        global_topk_uniform_ranked(df, [], 10, uniform_key="k")


def test_uniform_topk_order_contract_structural(spark):
    """ADVICE r4: the contract is validated on the SortOrder expression,
    not str(Column) reprs — semantically identical specs built three
    different ways must all be accepted and give identical results."""
    from pyspark.sql import functions as F

    from maga_spark.operators.topk import global_topk_uniform_ranked

    df = spark.range(200).select(F.xxhash64("id").alias("k"), F.col("id").alias("p"))
    specs = [
        [F.col("k").asc(), F.col("p").asc()],
        [F.asc("k"), F.col("p").asc()],
        [df["k"].asc(), F.col("p").asc()],
    ]
    outs = [
        sorted(
            (r["k"], r["p"], r["rank"])
            for r in global_topk_uniform_ranked(df, s, 25, uniform_key="k").collect()
        )
        for s in specs
    ]
    assert outs[0] == outs[1] == outs[2] and len(outs[0]) == 25


def test_curate_corpus_stages(spark):
    """Composed pipeline (operators/pipeline.py): each gate must bite —
    language, quality, exact dup, near-dup — and survivors keep their
    original columns."""
    from pyspark.sql import functions as F

    from maga_spark.operators.pipeline import curate_corpus

    base = "the cat and the dog went to the market in town for food and more food again"
    rows = [
        (1, base, "a"),                                   # keeper
        (2, base, "a"),                                   # exact dup of 1 → dropped
        (3, base + " extra tail words here", "b"),        # near-dup of 1 → dropped
        (4, "der hund und die katze sind nicht mit von zu haus", "a"),  # German → dropped
        (5, "tiny text", "a"),                            # < 5 tokens → dropped
        (6, "!!! ??? ;;; ::: @@@ short and the of to is", "a"),  # punct ratio → dropped
        (7, "a completely different english story about the sea and the ships that sail it", "b"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    kept = curate_corpus(docs, min_tokens=5, max_punct_ratio=0.2)
    ids = sorted(r["doc_id"] for r in kept.select("doc_id").collect())
    assert ids == [1, 7]
    cols = set(kept.columns)
    assert {"doc_id", "text", "source", "lang_pred"} <= cols
    # plan purity: the composition introduces no Python eval node
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_curate_images_stages(spark):
    """Image twin of the composed pipeline (BASELINE input_hint shape):
    every gate must bite — fmt, geometry, caption language/length, exact
    caption dup, phash near-dup — and survivors keep original columns."""
    from pyspark.sql import functions as F

    from maga_spark.operators.pipeline import curate_images

    cap = "the cat and the dog went to the market for food"
    rows = [
        # (image_id, bytes, w, h, fmt, caption, phash)
        ("img1", b"\x01\x02", 32, 32, "raw", cap, 0b1010101),            # keeper
        ("img2", b"\x01\x02", 32, 32, "raw", cap, 0b1111111111),         # exact caption dup → dropped
        ("img3", b"\x01\x02", 32, 32, "rlez", cap + " tail", 0b1010100), # phash hamming 1 vs img1 → dropped
        ("img4", b"\x01\x02", 32, 32, "jpeg", cap + " x", 1 << 20),      # fmt gate → dropped
        ("img5", b"\x01\x02", 4, 32, "raw", cap + " y", 1 << 21),        # min_side gate → dropped
        ("img6", b"\x01\x02", 10, 60, "raw", cap + " z", 1 << 22),       # aspect gate → dropped
        ("img7", b"", 32, 32, "raw", cap + " w", 1 << 23),               # empty bytes → dropped
        ("img8", b"\x01", 32, 32, "q8", "der hund und die katze sind nicht von zu", 1 << 24),  # lang → dropped
        ("img9", b"\x01", 32, 32, "q8", "so short", 1 << 25),            # token floor → dropped
        ("imgA", b"\x01", 24, 48, "q8", "a different english story about the sea and ships", 0x3FFF),  # keeper (hamming(0x3FFF, 0b1010101) = 10 > 6)
    ]
    imgs = spark.createDataFrame(
        rows, "image_id string, bytes binary, w int, h int, fmt string, caption string, phash long"
    )
    kept = curate_images(imgs, min_caption_tokens=5, max_hamming=6, n_bands=7)
    ids = sorted(r["image_id"] for r in kept.select("image_id").collect())
    assert ids == ["img1", "imgA"]
    assert {"image_id", "bytes", "w", "h", "fmt", "caption", "phash", "lang_pred"} <= set(kept.columns)
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_append_incremental(spark, tmp_path):
    """append_to_ivf_index (VERDICT r3 #7): new vectors join the index via
    stored-centroid assignment + partition append — existing files are
    untouched, recall on the original corpus is unchanged, and appended
    vectors are immediately servable through the pruned read path."""
    import glob
    import os

    from maga_spark.operators.similarity import (
        append_to_ivf_index,
        brute_force_topk,
        build_ivf_index,
        ivf_topk,
    )

    rng = np.random.Generator(np.random.PCG64(23))
    centers = rng.standard_normal((4, 8)) * 5.0
    pts = np.vstack([c + rng.standard_normal((40, 8)) for c in centers])
    rows = [(i, [float(x) for x in pts[i]]) for i in range(len(pts))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / "ivf_grow")
    cents = build_ivf_index(emb, path, n_lists=4, iters=2)

    def files():
        return {
            f: os.path.getmtime(f)
            for f in glob.glob(f"{path}/cid=*/*.parquet")
        }

    before = files()

    # append a new batch drawn from the same distribution
    new_pts = np.vstack([c + rng.standard_normal((10, 8)) for c in centers])
    new_rows = [(1000 + i, [float(x) for x in new_pts[i]]) for i in range(len(new_pts))]
    append_to_ivf_index(
        spark.createDataFrame(new_rows, "vec_id long, embedding array<float>"), path, cents
    )
    after = files()
    # no rewrite: every pre-existing file survives byte-identical (same
    # path, same mtime); the append only adds files
    assert set(before) <= set(after)
    assert all(after[f] == m for f, m in before.items())
    assert len(after) > len(before)

    # recall on the grown corpus: exact top-k over the union vs pruned reads
    all_emb = spark.createDataFrame(rows + new_rows, "vec_id long, embedding array<float>")
    hits = tot = 0
    for qi in (5, 60, 120, 155):
        q = [float(x) for x in pts[qi]]
        exact = {r["id"] for r in brute_force_topk(all_emb, q, k=8).collect()}
        approx = {r["id"] for r in ivf_topk(spark, path, cents, q, k=8, nprobe=2).collect()}
        hits += len(exact & approx)
        tot += len(exact)
    assert hits / tot >= 0.9, f"post-append recall {hits/tot:.2f} < 0.9"
    # an appended vector is itself findable (self-query → top-1 is itself)
    qnew = [float(x) for x in new_pts[0]]
    top = ivf_topk(spark, path, cents, qnew, k=1, nprobe=2).collect()
    assert top and top[0]["id"] == 1000


def test_ivf_compact_after_append(spark, tmp_path):
    """compact_ivf_index (VERDICT r4 #7): repeated appends accrete one
    small file per touched list per batch; compaction rewrites to one file
    per list with BIT-IDENTICAL query results, and the index stays
    appendable afterwards."""
    import glob

    from maga_spark.operators.similarity import (
        append_to_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        ivf_topk,
    )

    rng = np.random.Generator(np.random.PCG64(31))
    centers = rng.standard_normal((4, 8)) * 5.0
    pts = np.vstack([c + rng.standard_normal((30, 8)) for c in centers])
    rows = [(i, [float(x) for x in pts[i]]) for i in range(len(pts))]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / "ivf_compact")
    cents = build_ivf_index(emb, path, n_lists=4, iters=2)

    for b in range(3):  # three append batches → ≥4 files in hot lists
        new_pts = np.vstack([c + rng.standard_normal((8, 8)) for c in centers])
        nrows = [(1000 * (b + 1) + i, [float(x) for x in new_pts[i]]) for i in range(len(new_pts))]
        append_to_ivf_index(
            spark.createDataFrame(nrows, "vec_id long, embedding array<float>"), path, cents
        )

    q = [float(x) for x in pts[7]]
    before_rows = sorted(
        (r["id"], round(r["cosine"], 9))
        for r in ivf_topk(spark, path, cents, q, k=10, nprobe=4).collect()
    )
    n_files_before = len(glob.glob(f"{path}/cid=*/*.parquet"))

    rep = compact_ivf_index(spark, path)
    assert rep["files_before"] == n_files_before
    assert rep["files_after"] <= rep["n_lists"] < rep["files_before"]
    after_rows = sorted(
        (r["id"], round(r["cosine"], 9))
        for r in ivf_topk(spark, path, cents, q, k=10, nprobe=4).collect()
    )
    assert after_rows == before_rows  # contents bit-identical

    # still appendable post-compaction, and the appended vector servable
    extra = [(9999, [float(x) for x in (centers[0] + 0.01)])]
    append_to_ivf_index(
        spark.createDataFrame(extra, "vec_id long, embedding array<float>"), path, cents
    )
    top = ivf_topk(spark, path, cents, extra[0][1], k=1, nprobe=2).collect()
    assert top and top[0]["id"] == 9999


def test_repetition_features(spark):
    """Gopher repetition stats on hand-checked docs (fractions derived by
    hand): duplicate lines, duplicate-line chars, top-2gram coverage,
    dup-3gram chars; empty text and single-token text stay defined (0.0)."""
    from maga_spark.operators.text import repetition_features

    df = spark.createDataFrame(
        [
            (0, "a b\na b\nc d e"),  # 3 lines, one dup pair
            (1, "x y x y x y"),  # heavy 2gram/3gram repetition, single line
            (2, "one two three four"),  # no repetition at all
            (3, ""),  # empty: everything 0
            (4, "solo"),  # 1 token: no 2-grams
        ],
        "doc_id int, text string",
    )
    out = {
        r["doc_id"]: r
        for r in repetition_features(df).collect()
    }
    r0 = out[0]
    assert r0["n_lines"] == 3 and abs(r0["dup_line_frac"] - 1 / 3) < 1e-12
    # dup line chars: one extra "a b" (3 chars) over 3+3+5=11 line chars
    assert abs(r0["dup_line_char_frac"] - 3 / 11) < 1e-12
    r1 = out[1]
    assert r1["dup_line_frac"] == 0.0
    # "x y" occurs 3x among 5 grams, covers 9 of 11 chars
    assert abs(r1["top_ngram_char_frac"] - 9 / 11) < 1e-12
    # 3-grams: "x y x" x2, "y x y" x2 -> dup chars (1+1)*5 = 10 of 11
    assert abs(r1["dup_ngram_char_frac"] - 10 / 11) < 1e-12
    r2 = out[2]
    assert r2["dup_line_frac"] == 0.0 and r2["dup_ngram_char_frac"] == 0.0
    assert out[3]["top_ngram_char_frac"] == 0.0
    assert out[4]["top_ngram_char_frac"] == 0.0


def test_dedup_lines_global_first_keep(spark):
    """Line dedup keeps exactly the first (doc_id, pos) occurrence of each
    line corpus-wide — including intra-doc repeats — and reassembles docs
    in original order; a fully-shadowed doc returns empty with n_kept=0."""
    from maga_spark.operators.dedup import dedup_lines

    df = spark.createDataFrame(
        [
            (10, "keep me\nboiler\nkeep me"),  # intra-doc repeat of line 1
            (20, "boiler\nunique twenty"),  # 'boiler' shadowed by doc 10
            (30, "boiler"),  # fully shadowed
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in dedup_lines(df).collect()}
    assert out[10]["text_dedup"] == "keep me\nboiler"
    assert out[10]["n_kept"] == 2 and out[10]["n_lines"] == 3
    assert out[20]["text_dedup"] == "unique twenty"
    assert out[30]["text_dedup"] == "" and out[30]["n_kept"] == 0
    # monotone: total kept lines == number of distinct lines in the corpus
    assert sum(r["n_kept"] for r in out.values()) == 3


def test_tfidf_top_terms(spark):
    """Integer-exact selection: the top-k per group is chosen by
    (sum_tf DESC, term ASC) alone; df and the rounded tf-idf value ride
    along. Terms appearing in every doc get idf ln(1)=0."""
    import math

    from maga_spark.operators.text import tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "g1", "alpha alpha beta common"),
            (2, "g1", "alpha gamma common"),
            (3, "g2", "delta delta delta common"),
        ],
        "doc_id int, source string, text string",
    )
    rows = tfidf_top_terms(df, k=2).collect()
    byg = {}
    for r in rows:
        byg.setdefault(r["source"], []).append(r)
    g1 = sorted(byg["g1"], key=lambda r: r["rk"])
    assert [r["term"] for r in g1] == ["alpha", "common"]  # 3 vs 2 (ties->asc)
    assert g1[0]["sum_tf"] == 3 and g1[0]["df"] == 2
    assert abs(g1[0]["tfidf_r"] - round(3 * math.log(3 / 2), 6)) < 1e-9
    g2 = sorted(byg["g2"], key=lambda r: r["rk"])
    assert g2[0]["term"] == "delta" and g2[0]["df"] == 1
    # 'common' is in all 3 docs -> idf 0
    common = [r for r in rows if r["term"] == "common"][0]
    assert common["tfidf_r"] == 0.0


def test_pq_adc_recall_and_code_width(spark):
    """Trained product quantization end-to-end: pivot codebook -> per-
    subspace Lloyd refinement -> encode -> ADC shortlist -> exact re-rank.
    On clustered data the 50-deep ADC shortlist must recover >= 0.8 of the
    exact top-10, the codes must stay in [0, ksub), and the ADC scan plan
    must stay Python-free (the serving path reads only code columns)."""
    import numpy as np

    from maga_spark.operators.similarity import (
        brute_force_topk,
        pq_adc_topk,
        pq_encode,
        pq_pivot_codebook,
        pq_refine_codebook,
    )

    rng = np.random.default_rng(7)
    centers = rng.normal(size=(6, 32))
    pts = np.concatenate([c + 0.05 * rng.normal(size=(40, 32)) for c in centers])
    emb = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(len(pts))],
        "vec_id long, embedding array<float>",
    )
    cb = pq_pivot_codebook(emb, dim=32, m=4, ksub=8)
    cb = pq_refine_codebook(emb, cb, iters=2)
    coded = pq_encode(emb, cb)
    rows = coded.select("c0", "c1", "c2", "c3").collect()
    assert all(0 <= r[f"c{s}"] < 8 for r in rows for s in range(4))
    plan = coded._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan

    hits = tot = 0
    for qi in (3, 77, 150, 220):
        q = [float(x) for x in pts[qi]]
        exact = {r["id"] for r in brute_force_topk(emb, q, k=10).collect()}
        short = pq_adc_topk(coded, cb, q, k=50)
        approx = {r["id"] for r in brute_force_topk(short, q, k=10).collect()}
        hits += len(exact & approx)
        tot += len(exact)
    assert hits / tot >= 0.8, f"PQ shortlist recall {hits/tot:.2f} < 0.8"

    # determinism: re-deriving the codebook and codes is bit-identical
    cb2 = pq_refine_codebook(emb, pq_pivot_codebook(emb, dim=32, m=4, ksub=8), iters=2)
    assert np.array_equal(cb, cb2)


def test_connected_components_vs_union_find(spark):
    """Model-check the alternating large-star/small-star components
    against an independent union-find on random graphs, plus adversarial
    shapes (a 120-edge chain whose diameter >> the round count, a star
    hub, an isolated pair)."""
    import random

    from maga_spark.operators.graph import connected_components

    def uf_labels(edge_list):
        verts = sorted({x for e in edge_list for x in e})
        parent = {v: v for v in verts}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edge_list:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comps = {}
        for v in verts:
            comps.setdefault(find(v), []).append(v)
        return {v: min(vs) for vs in comps.values() for v in vs}

    rnd = random.Random(99)
    for _ in range(4):
        n = rnd.randint(8, 40)
        edge_list = [
            (rnd.randrange(n), rnd.randrange(n)) for _ in range(rnd.randint(4, 2 * n))
        ]
        edge_list = [e for e in edge_list if e[0] != e[1]]
        if not edge_list:
            continue
        df = spark.createDataFrame(edge_list, "src long, dst long")
        got = {r["vertex"]: r["component"] for r in connected_components(df).collect()}
        assert got == uf_labels(edge_list)

    chain = [(i, i + 1) for i in range(120)]
    star = [(500, 500 + i) for i in range(1, 40)]
    edge_list = chain + star + [(900, 901)]
    df = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r["vertex"]: r["component"] for r in connected_components(df).collect()}
    assert got == uf_labels(edge_list)
    assert len(set(got.values())) == 3


def test_byte_stats_matches_numpy(spark):
    """The pure-expression byte stats must equal numpy's mean/population
    variance over the real fixture image payloads (fmt='raw', where bytes
    are pixels), and the plan must stay Python-free."""
    import numpy as np

    from maga_spark.functions.payload import byte_stats
    from maga_spark.sources.fixtures import generate

    import tempfile

    with tempfile.TemporaryDirectory() as td:
        generate(td, n_urls=256)
        imgs = spark.read.parquet(f"{td}/images.parquet").filter(F.col("fmt") == "raw")
        st = byte_stats(F.col("bytes"))
        got = {
            r["image_id"]: (r["b"], r["c"])
            for r in imgs.select(
                "image_id", st["brightness"].alias("b"), st["contrast"].alias("c")
            ).collect()
        }
        plan = (
            imgs.select(st["brightness"].alias("b"))
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "EvalPython" not in plan
        raw = {r["image_id"]: bytes(r["bytes"]) for r in imgs.collect()}
        assert got and len(got) == len(raw)
        for iid, blob in raw.items():
            a = np.frombuffer(blob, dtype=np.uint8).astype(np.float64)
            assert abs(got[iid][0] - a.mean()) < 1e-9, iid
            assert abs(got[iid][1] - a.var()) < 1e-6, iid


def test_semantic_dedup_cluster_scoped(spark):
    """SemDeDup contract: near-identical vectors in the SAME cluster pair
    up; an equally-similar pair split across clusters is (by design) never
    compared — cluster scoping is the operator's scale guarantee, and the
    miss it buys is exactly the paper's recall trade."""
    from maga_spark.operators.dedup import semantic_dedup

    # two well-separated cluster anchors in 4-d
    c0, c1 = [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0]
    rows = [
        (0, [1.0, 0.02, 0.0, 0.0]),   # cluster 0
        (1, [0.99, 0.03, 0.01, 0.0]), # cluster 0, near-dup of 0
        (2, [0.02, 1.0, 0.0, 0.0]),   # cluster 1
        (3, [0.03, 0.99, 0.0, 0.01]), # cluster 1, near-dup of 2
        (4, [0.7, 0.0, 0.71, 0.0]),   # cluster 0, NOT a dup (cos ~ 0.7)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qcents = [[x * 1000.0 for x in c0], [x * 1000.0 for x in c1]]

    got = semantic_dedup(emb, qcents, tau_num=95, tau_den=100, quant=1000).collect()
    pairs = {(r["keep_id"], r["drop_id"]) for r in got}
    assert (0, 1) in pairs and (2, 3) in pairs
    # cross-cluster and low-cosine pairs never emitted
    assert all(p in {(0, 1), (2, 3)} for p in pairs), pairs
    # keeper is always the smaller id and the BIGINT gate terms ride along
    for r in got:
        assert r["keep_id"] < r["drop_id"]
        assert r["dot_q"] * r["dot_q"] * 100 * 100 >= 95 * 95 * r["na_q"] * r["nb_q"]


def test_hashed_classifier_score(spark):
    from maga_spark.operators.dedup import portable_hash64
    from maga_spark.operators.text import hashed_classifier_score

    docs = spark.createDataFrame(
        [
            (1, "good good bad"),
            (2, ""),
            (3, None),
            (4, "GOOD gOOd"),  # case-folds onto doc 1's feature
            (5, "unseen-token"),
        ],
        "doc_id long, text string",
    )
    nb = 64
    # model: +7 for 'good', -5 for 'bad', nothing else
    h = (
        spark.createDataFrame([("good", 7), ("bad", -5)], "tok string, w long")
        .select(
            F.pmod(portable_hash64(F.col("tok"), "hcls:"), F.lit(nb)).alias("bucket"),
            F.col("w").cast("long").alias("weight"),
        )
    )
    out = {
        r.doc_id: r
        for r in hashed_classifier_score(docs, h, nb, bias=1, threshold=3).collect()
    }
    assert len(out) == 5
    assert (out[1].n_tokens, out[1].score, out[1].keep) == (3, 7 + 7 - 5 + 1, True)
    # empty and NULL docs survive with score = bias
    assert (out[2].n_tokens, out[2].score, out[2].keep) == (0, 1, False)
    assert (out[3].n_tokens, out[3].score, out[3].keep) == (0, 1, False)
    # tokenization lower-cases before hashing
    assert (out[4].score, out[4].keep) == (7 + 7 + 1, True)
    # tokens hashing to an unweighted bucket contribute zero
    assert out[5].score == 1


def test_hashed_classifier_rejects_bad_buckets(spark):
    from maga_spark.operators.text import hashed_classifier_score

    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    w = spark.createDataFrame([(0, 1)], "bucket long, weight long")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        hashed_classifier_score(docs, w, 0)


def test_bigram_lm_score_hand_computed(spark):
    import math

    from maga_spark.operators.text import bigram_lm_score, train_bigram_lm

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b"), (3, "z"), (4, "")],
        "doc_id long, text string",
    )
    uni, bi, vocab = train_bigram_lm(docs)
    # model: c(a)=3 c(b)=3 c(z)=1, V=3; c("a b")=3 c("b a")=1
    assert {(r.c1,) for r in uni.collect()} == {(3,), (3,), (1,)}
    assert vocab.collect()[0].v == 3
    out = {r.doc_id: r for r in bigram_lm_score(docs, uni, bi, vocab).collect()}
    lp_ab = round(math.log((3 + 1) / (3 + 3)) * 1e6)  # seen bigram, seen head
    lp_ba = round(math.log((1 + 1) / (3 + 3)) * 1e6)
    assert (out[1].n_bigrams, out[1].logprob_micro) == (3, 2 * lp_ab + lp_ba)
    assert out[1].nlp_per_bigram == (-(2 * lp_ab + lp_ba)) // 3
    assert (out[2].n_bigrams, out[2].logprob_micro) == (1, lp_ab)
    # single-token and empty docs survive with zeroed scores
    assert (out[3].n_bigrams, out[3].logprob_micro, out[3].nlp_per_bigram) == (0, 0, 0)
    assert (out[4].n_bigrams, out[4].logprob_micro, out[4].nlp_per_bigram) == (0, 0, 0)
    # an unseen-context doc scores the 1/(0+V) floor per bigram
    probe = spark.createDataFrame([(9, "q r")], "doc_id long, text string")
    pr = bigram_lm_score(probe, uni, bi, vocab).collect()[0]
    assert pr.logprob_micro == round(math.log(1 / 3) * 1e6)


def test_fingerprint_index_matches_adhoc_and_is_exchange_free(spark, tmp_path):
    """build_fingerprint_index + containment_pairs_from_index: identical
    results to the ad-hoc containment_pairs, with the sharing self-join
    consuming BOTH sides from the bucketed catalog table — zero Exchange
    under the join (winnow hashes computed once at ingest, never again)."""
    from maga_spark.operators.dedup import (
        build_fingerprint_index,
        containment_pairs,
        containment_pairs_from_index,
    )

    small = "the quick brown fox jumps over the lazy dog near the river bank today"
    docs = [(1, small), (2, "padding before. " + small + " padding after with more words"),
            (3, "entirely different content with no shared phrasing at all here")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    try:
        build_fingerprint_index(df, "fp_idx_test", str(tmp_path / "fp_idx"), n_buckets=4)
        out = containment_pairs_from_index(spark, "fp_idx_test", min_containment=0.3)
        want = containment_pairs(df, min_containment=0.3)
        got_rows = sorted(((r.u, r.v, r.shared, r.fp_u, round(r.containment, 9)) for r in out.collect()))
        want_rows = sorted(((r.u, r.v, r.shared, r.fp_u, round(r.containment, 9)) for r in want.collect()))
        assert got_rows == want_rows and got_rows  # same pairs, non-empty

        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        # the h-keyed self-join takes both sides straight from buckets: the
        # only hash Exchanges left belong to the (u,v) and size aggregates
        join_part = plan.split("SortMergeJoin")[-1]
        assert "Exchange hashpartitioning(h" not in join_part
        assert "Bucketed: true" in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS fp_idx_test")



def test_fingerprint_index_append_and_doc_freq_cap(spark, tmp_path):
    from maga_spark.operators.dedup import (
        build_fingerprint_index,
        containment_pairs_from_index,
    )

    boiler = "standard legal boilerplate notice applies to this document entirely"
    batch1 = spark.createDataFrame(
        [(i, f"unique content number {i} about topic {i * 7} " * 3 + boiler) for i in range(10)],
        "doc_id long, text string",
    )
    batch2 = spark.createDataFrame(
        [(i, f"unique content number {i} about topic {i * 7} " * 3 + boiler) for i in range(10, 20)],
        "doc_id long, text string",
    )
    try:
        build_fingerprint_index(batch1, "fp_idx_app", str(tmp_path / "fp_app"), n_buckets=4)
        base = containment_pairs_from_index(spark, "fp_idx_app", min_containment=0.2).count()
        build_fingerprint_index(batch2, "fp_idx_app", str(tmp_path / "fp_app"), mode="append", n_buckets=4)
        grown = containment_pairs_from_index(spark, "fp_idx_app", min_containment=0.2).count()
        assert grown > base  # new docs share the boilerplate with everyone
        capped = containment_pairs_from_index(
            spark, "fp_idx_app", min_containment=0.2, max_doc_freq=10
        ).count()
        assert capped == 0  # nothing but the boilerplate is shared
    finally:
        spark.sql("DROP TABLE IF EXISTS fp_idx_app")

