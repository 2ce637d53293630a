"""Semantic tests for the dedup family and similarity search."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank today"
    near = base.replace("today", "tonight")  # 1-word edit → high jaccard
    far = "completely unrelated text about spark sql execution engines and plans"
    dup = "The  quick brown fox jumps over the lazy dog near the river bank today!"
    return spark.createDataFrame(
        [(1, base), (2, near), (3, far), (4, dup)],
        "doc_id long, text string",
    )


def test_exact_dedup_groups(spark, docs):
    from knot_another_pipeline_spark.operators.dedup import exact_dedup

    out = {r["id"]: r for r in exact_dedup(docs, id_col="doc_id", text_col="text").collect()}
    # 1 and 4 normalize identically → one group, min-id representative
    assert out[1]["fingerprint"] == out[4]["fingerprint"]
    assert out[1]["group_size"] == 2 and out[4]["group_size"] == 2
    assert out[1]["representative"] is True
    assert out[4]["representative"] is False
    assert out[3]["group_size"] == 1


def test_ngram_jaccard_ranks_near_dups(spark, docs):
    from knot_another_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
        shingle_table,
    )

    sh = shingle_table(docs, id_col="doc_id", text_col="text", n=3)
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(sh).collect()
    }
    assert pairs[(1, 2)] > 0.5  # near-dup
    assert (1, 3) not in pairs or pairs[(1, 3)] < 0.1  # unrelated


def test_ngram_jaccard_stop_shingle_cap(spark):
    """max_doc_freq drops hot shingles BEFORE the self-join: a
    boilerplate shingle shared by every doc must not create pairs, while
    genuinely shared rare shingles still do."""
    from knot_another_pipeline_spark.operators.dedup import (
        ngram_jaccard_pairs,
        shingle_table,
    )

    boiler = "subscribe to our newsletter today"
    docs = spark.createDataFrame(
        [
            (1, f"unique alpha text one {boiler}"),
            (2, f"unique beta text two {boiler}"),
            (3, f"unique gamma text three {boiler}"),
            (4, f"unique alpha text one {boiler}"),  # true near-dup of 1
        ],
        "doc_id long, text string",
    )
    sh = shingle_table(docs, id_col="doc_id", text_col="text", n=3)
    capped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(sh, max_doc_freq=3).collect()
    }
    # boilerplate-only overlaps (1,2), (1,3), (2,3) vanish: their shared
    # shingles appear in all 4 docs (> cap); the true dup pair survives.
    assert (1, 4) in capped and capped[(1, 4)] == 1.0
    assert (1, 2) not in capped and (2, 3) not in capped
    # uncapped, boilerplate creates the spurious pairs
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(sh).collect()
    }
    assert (1, 2) in uncapped


def test_minhash_lsh_finds_near_dups(spark, docs):
    from knot_another_pipeline_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        minhash_similarity,
        shingle_table,
    )

    sh = shingle_table(docs, id_col="doc_id", text_col="text", n=3)
    sig = minhash_signatures(sh, num_hashes=16)
    rows = sig.collect()
    assert len(rows) == 4  # wide: one row per doc
    assert {c for c in sig.columns} == {"id"} | {f"m{j}" for j in range(16)}
    cands = lsh_candidate_pairs(sig, bands=4, rows_per_band=4)
    cand_set = {(r["id_a"], r["id_b"]) for r in cands.collect()}
    assert (1, 2) in cand_set  # near-dups share a band
    sims = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_similarity(sig, cands, num_hashes=16).collect()
    }
    assert sims[(1, 2)] > 0.4


def test_simhash_near_dup_hamming(spark, docs):
    from knot_another_pipeline_spark.operators.dedup import simhash

    out = {r["id"]: r["simhash"] for r in simhash(docs, id_col="doc_id", text_col="text").collect()}

    def hamming(a, b):
        return bin((a ^ b) & (2**64 - 1)).count("1")

    assert hamming(out[1], out[2]) < hamming(out[1], out[3])
    assert hamming(out[1], out[4]) <= hamming(out[1], out[3])


def test_cosine_topk_exact(spark):
    from knot_another_pipeline_spark.operators.similarity import cosine_topk

    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),   # closest to 1
            (3, [0.0, 1.0, 0.0]),
            (4, [-1.0, 0.0, 0.0]),  # opposite
        ],
        "vec_id long, embedding array<float>",
    )
    out = cosine_topk(
        vecs.filter(F.col("vec_id") == 1), vecs, id_col="vec_id",
        vec_col="embedding", k=3,
    ).collect()
    ranked = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked[0] == 2 and ranked[-1] == 4
    assert out[0]["query_id"] == 1


def test_cosine_topk_arrow_matches_fold(spark):
    """The BLAS engine (arrow=True) must return the identical neighbor
    set and ranks as the sequential-fold engine on data with sane
    rank-boundary margins, across partitionings, including self-match
    exclusion, sub-k corpora, and null vectors."""
    import random

    from knot_another_pipeline_spark.operators.similarity import cosine_topk

    rnd = random.Random(41)
    rows = [
        (i, [rnd.gauss(0, 1) for _ in range(16)]) for i in range(150)
    ] + [(900, None)]
    vecs = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).repartition(7)
    queries = vecs.filter(F.col("vec_id") % 10 == 0)
    for k in (3, 200):  # 200 > corpus: every neighbor ranks
        fold = sorted(
            (r["query_id"], r["neighbor_id"], r["rank"])
            for r in cosine_topk(queries, vecs, k=k).collect()
        )
        arrow = sorted(
            (r["query_id"], r["neighbor_id"], r["rank"])
            for r in cosine_topk(queries, vecs, k=k, arrow=True).collect()
        )
        assert arrow == fold
        assert all(q != n for q, n, _ in arrow)  # self excluded


def test_cosine_topk_arrow_empty_queries(spark):
    from knot_another_pipeline_spark.operators.similarity import cosine_topk

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    out = cosine_topk(
        vecs.filter(F.col("vec_id") < 0), vecs, k=3, arrow=True
    )
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "cos_sim", "rank"]


def test_lsh_ann_recall_against_bruteforce(spark):
    """LSH ANN must recover most of the true top-k on clustered data."""
    import random

    from knot_another_pipeline_spark.operators.similarity import (
        cosine_topk,
        lsh_bucket_topk,
    )

    rnd = random.Random(7)
    rows = []
    for i in range(120):
        center = [1.0, 0, 0, 0] if i % 2 == 0 else [0, 0, 0, 1.0]
        rows.append(
            (i, [c + rnd.gauss(0, 0.15) for c in center])
        )
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = vecs.filter(F.col("vec_id") < 4)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(queries, vecs, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_bucket_topk(
            queries, vecs, dim=4, bands=2, rows_per_band=1, k=5
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_multimodal_decode_plumbing(spark):
    from knot_another_pipeline_spark.operators.multimodal import decode_media_meta

    df = spark.createDataFrame(
        [(1, bytearray(b"hello world")), (2, None)],
        "doc_id long, payload binary",
    )
    out = {r["doc_id"]: r for r in decode_media_meta(df, id_col="doc_id", payload_col="payload").collect()}
    assert out[1]["n_bytes"] == 11
    assert 64 <= out[1]["width"] < 257
    assert out[1]["fmt"] is not None
    assert out[2]["width"] is None


def test_simhash_pairs_recall_within_band_guarantee(spark):
    """For max_hamming < bands, banding recall is exact: every pair with
    hamming <= 3 must be found (pigeonhole on 4 bands)."""
    from knot_another_pipeline_spark.operators.dedup import simhash_near_dup_pairs

    fps = spark.createDataFrame(
        [
            (1, 0b1010),            # vs 2: 1 bit apart
            (2, 0b1011),
            (3, 0b1010 ^ (1 << 62) ^ (1 << 1)),  # vs 1: 2 bits apart
            (4, -1),                # far from everything small
        ],
        "id long, simhash long",
    )
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_near_dup_pairs(fps, max_hamming=3, bands=4).collect()
    }
    assert got[(1, 2)] == 1
    assert got[(1, 3)] == 2
    assert got[(2, 3)] == 3
    assert all(h <= 3 for h in got.values())
    assert (1, 4) not in got


def test_multimodal_frame_sampling(spark):
    import hashlib

    from knot_another_pipeline_spark.operators.multimodal import (
        _decode_payload,
        sample_frames,
    )

    payload = b"hello world video"  # 17 bytes -> n_frames = 1 + 17%7 = 4
    df = spark.createDataFrame(
        [(1, bytearray(payload)), (2, None)], "doc_id long, payload binary"
    )
    assert _decode_payload(payload)["n_frames"] == 4
    rows = sample_frames(
        df, id_col="doc_id", payload_col="payload", stride=2
    ).collect()
    # null payload emits nothing; doc 1 keeps frames 0 and 2
    assert sorted((r["doc_id"], r["frame_idx"]) for r in rows) == [(1, 0), (1, 2)]
    f0 = next(r for r in rows if r["frame_idx"] == 0)
    expect = hashlib.md5(payload + b"-0").digest()
    assert bytes(f0["frame"]) == expect
    assert f0["frame_md5"] == expect.hex()
    with pytest.raises(ValueError):
        sample_frames(df, id_col="doc_id", payload_col="payload", stride=0)


def test_multimodal_features_and_resize(spark):
    from knot_another_pipeline_spark.operators.multimodal import (
        FEATURES_DIM,
        extract_features,
        resize_media,
    )

    big = b"x" * 1000
    df = spark.createDataFrame(
        [(1, bytearray(big)), (2, bytearray(b"tiny")), (3, None)],
        "doc_id long, payload binary",
    )
    feats = {
        r["doc_id"]: r["features"]
        for r in extract_features(df, id_col="doc_id", payload_col="payload").collect()
    }
    assert feats[3] is None
    assert len(feats[1]) == FEATURES_DIM
    assert all(0.0 <= v <= 1.0 for v in feats[1])
    assert feats[1] != feats[2]

    resized = {
        r["doc_id"]: r
        for r in resize_media(
            df, id_col="doc_id", payload_col="payload", width=4, height=4
        ).collect()
    }
    assert resized[1]["n_bytes"] == 16 and bytes(resized[1]["payload"]) == b"x" * 16
    assert resized[2]["n_bytes"] == 4  # smaller than budget: unchanged
    assert resized[3]["payload"] is None and resized[3]["n_bytes"] is None
    with pytest.raises(ValueError):
        resize_media(df, id_col="doc_id", payload_col="payload", width=0, height=4)


def test_winnow_fingerprints_localize_overlap(spark, docs):
    from knot_another_pipeline_spark.operators.text_analysis import (
        winnow_fingerprints,
    )

    fps = winnow_fingerprints(docs, id_col="doc_id", text_col="text", k=8, window=4)
    by_id = {}
    for r in fps.collect():
        by_id.setdefault(r["id"], set()).add(r["fp_hash"])
    # identical-after-whitespace docs share nearly all fingerprints;
    # (1,4) differ only by double-space + trailing '!' in doc 4
    inter_14 = len(by_id[1] & by_id[4]) / len(by_id[1] | by_id[4])
    assert inter_14 > 0.7
    # near-dup (one word changed) shares most; unrelated shares ~none
    inter_12 = len(by_id[1] & by_id[2]) / len(by_id[1] | by_id[2])
    inter_13 = len(by_id[1] & by_id[3]) / len(by_id[1] | by_id[3])
    assert inter_12 > 0.5
    assert inter_13 < 0.05
    # winnowing must select far fewer hashes than there are grams
    n_grams = len(docs.collect()[0]["text"]) - 8 + 1
    assert 0 < len(by_id[1]) < n_grams


def test_embedding_near_dup_blocking(spark):
    from knot_another_pipeline_spark.operators.dedup import (
        embedding_near_dup_pairs,
    )

    base = [1.0, 2.0, -1.0, 0.5, 1.5, -0.5, 2.5, 1.0] + [0.1] * 8
    near = list(base)
    near[8] = 0.12  # tiny perturbation — same signs, cosine ≈ 1
    flipped = [-x for x in base]  # opposite bucket, cosine = -1
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, flipped)],
        "vec_id long, embedding array<double>",
    )
    out = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_near_dup_pairs(
            df, id_col="vec_id", vec_col="embedding", threshold=0.9, dim=16
        ).collect()
    }
    assert (1, 2) in out and out[(1, 2)] > 0.99
    # blocked: every hyperplane dot flips sign for the negated vector, so
    # all four band keys differ (and cosine -1 fails the confirm anyway)
    assert (1, 3) not in out


def test_ivf_topk_recall_against_bruteforce(spark):
    import math
    import random

    from knot_another_pipeline_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    rng = random.Random(7)
    dim = 16
    # 4 well-separated cluster directions + jitter
    centers = [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(4)]
    rows = []
    for i in range(200):
        c = centers[i % 4]
        rows.append((i, [x + rng.gauss(0, 0.15) for x in c]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = df.filter(F.col("vec_id") < 4)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(qs, df, id_col="vec_id", vec_col="embedding", k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(
            qs, df, id_col="vec_id", vec_col="embedding",
            num_centroids=10, nprobe=2, k=5,
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall {recall} too low"


def test_semantic_dedup_pairs_within_cluster_only(spark):
    """SemDeDup: pairs only form inside a cluster; identical vectors in
    the same cluster always pair; the candidate space is the per-cluster
    quadratic, never the global one."""
    from knot_another_pipeline_spark.operators.dedup import semantic_dedup_pairs
    from knot_another_pipeline_spark.operators.similarity import (
        assign_cells,
        deterministic_centroids,
    )

    # three well-separated directions, four copies each
    emb = spark.createDataFrame(
        [(i, [1.0 * (i % 3 == 0), 1.0 * (i % 3 == 1), 1.0 * (i % 3 == 2), 0.1])
         for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    pairs = semantic_dedup_pairs(emb, num_clusters=3, threshold=0.99).collect()
    cents = deterministic_centroids(emb, num_centroids=3)
    cells = {
        r["id"]: r["cell"] for r in assign_cells(emb, cents).collect()
    }
    assert pairs, "identical-direction vectors must pair"
    for r in pairs:
        assert r["id_a"] < r["id_b"]
        assert cells[r["id_a"]] == cells[r["id_b"]] == r["cell"]
        assert r["id_a"] % 3 == r["id_b"] % 3  # same direction group
        assert r["cos_sim"] >= 0.99


def test_repetition_stats_multiline(spark):
    """Gopher repetition metrics on a multi-line, repeated-gram doc (the
    synthetic corpus is single-line, so the line signal is pinned here)."""
    from knot_another_pipeline_spark.operators.text_analysis import repetition_stats

    df = spark.createDataFrame(
        [(1, "spam spam spam spam"),  # 3 x 'spam spam' of 3 2-grams
         (2, "a\nb\na\nb\nc"),        # 5 lines, 2 dups
         (3, "one token"),            # 1 2-gram
         (4, "")],
        "doc_id long, text string",
    )
    got = {r["id"]: r for r in repetition_stats(df, id_col="doc_id", text_col="text").collect()}
    assert got[1]["n_2grams"] == 3 and got[1]["top_2gram_cnt"] == 3
    assert got[1]["top_2gram_frac"] == 1.0
    assert got[2]["n_lines"] == 5 and got[2]["dup_line_frac"] == 0.4
    assert got[3]["n_2grams"] == 1 and got[3]["top_2gram_frac"] == 1.0
    assert got[4]["n_2grams"] == 0 and got[4]["top_2gram_frac"] == 0.0


def test_quality_filter_reasons(spark):
    """C4/Gopher verdict: rule order is deterministic, keep means no
    failed rule."""
    from knot_another_pipeline_spark.operators.text_analysis import quality_filter

    good = "the cat and the dog ran to the house of our kind friends " * 5
    df = spark.createDataFrame(
        [(1, good), (2, "tiny doc"), (3, "!!! ??? ... ;;; " * 40)],
        "doc_id long, text string",
    )
    got = {
        r["id"]: r
        for r in quality_filter(
            df, id_col="doc_id", text_col="text", min_tokens=20
        ).collect()
    }
    assert got[1]["keep"] and got[1]["reasons"] == ""
    assert not got[2]["keep"]
    assert "too_few_tokens" in got[2]["reasons"]
    assert not got[3]["keep"]
    assert "punct_ratio_high" in got[3]["reasons"]
    # reasons join in fixed rule order
    assert got[2]["reasons"].index("too_few_tokens") == 0


def test_hash_sample_and_split_deterministic(spark):
    """Sampling/splitting are pure functions of the id: stable across
    reruns, splits partition the corpus, bad weights rejected."""
    from knot_another_pipeline_spark.operators.sampling import (
        hash_sample,
        split_by_hash,
    )

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    s1 = {r["doc_id"] for r in hash_sample(df, id_col="doc_id", percent=10).collect()}
    s2 = {r["doc_id"] for r in hash_sample(df, id_col="doc_id", percent=10).collect()}
    assert s1 == s2 and 0 < len(s1) < 1000
    # a 20% sample is a superset of the 10% sample (bucket-prefix property)
    s20 = {r["doc_id"] for r in hash_sample(df, id_col="doc_id", percent=20).collect()}
    assert s1 <= s20

    splits = split_by_hash(
        df, id_col="doc_id", weights={"train": 90, "val": 5, "test": 5}
    )
    counts = {
        r["split"]: r["n"]
        for r in splits.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert set(counts) == {"train", "val", "test"}
    assert sum(counts.values()) == 1000
    assert counts["train"] > counts["val"]

    with pytest.raises(ValueError):
        split_by_hash(df, id_col="doc_id", weights={"train": 50})
    with pytest.raises(ValueError):
        hash_sample(df, id_col="doc_id", percent=101)


def test_token_budget_select_greedy_order(spark):
    """Budgeted selection takes the best-scored docs first and stops at
    the budget; the distributed prefix-sum equals the naive global
    cumulative sum."""
    from knot_another_pipeline_spark.operators.sampling import token_budget_select

    df = spark.createDataFrame(
        [(1, 0.9, 40), (2, 0.9, 40), (3, 0.5, 40), (4, 0.2, 40)],
        "id long, score double, toks long",
    )
    out = token_budget_select(
        df, id_col="id", score_col="score", token_col="toks", budget=100
    ).collect()
    got = {r["id"]: r["cum_tokens"] for r in out}
    # ids 1,2 (score .9, id order) then 3; 4 would exceed 100
    assert got == {1: 40, 2: 80}
    out2 = token_budget_select(
        df, id_col="id", score_col="score", token_col="toks", budget=120
    ).collect()
    assert {r["id"] for r in out2} == {1, 2, 3}


def test_token_budget_by_group_independent_budgets(spark):
    """Each group gets its own greedy budget; one group exhausting its
    budget never affects another."""
    from knot_another_pipeline_spark.operators.sampling import (
        token_budget_by_group,
    )

    df = spark.createDataFrame(
        [
            ("a", 1, 0.9, 60), ("a", 2, 0.8, 60), ("a", 3, 0.7, 60),
            ("b", 4, 0.1, 50), ("b", 5, 0.05, 40),
        ],
        "src string, id long, score double, toks long",
    )
    out = token_budget_by_group(
        df, group_col="src", id_col="id", score_col="score",
        token_col="toks", budget_per_group=100,
    ).collect()
    got = {(r["src"], r["id"]): r["cum_tokens"] for r in out}
    # group a: best doc only (60; adding 2nd hits 120 > 100)
    # group b: low scores but its own budget -> both fit (50, 90)
    assert got == {("a", 1): 60, ("b", 4): 50, ("b", 5): 90}


def test_assign_shards_matches_naive_cumsum(spark):
    """Range-bucketed prefix-sum sharding equals the naive id-ordered
    cumulative sum; shard boundaries land every tokens_per_shard."""
    from knot_another_pipeline_spark.operators.sampling import assign_shards

    rows = [(i, 30) for i in range(10)]  # 300 tokens, shards of 100
    df = spark.createDataFrame(rows, "id long, toks long")
    got = {
        r["id"]: r["shard"]
        for r in assign_shards(
            df, id_col="id", token_col="toks", tokens_per_shard=100
        ).collect()
    }
    cum = 0
    expected = {}
    for i, t in rows:
        expected[i] = cum // 100
        cum += t
    assert got == expected
    assert sorted(set(got.values())) == [0, 1, 2]

    with pytest.raises(TypeError):
        assign_shards(
            df.withColumn("id", F.col("id").cast("string")),
            id_col="id", token_col="toks", tokens_per_shard=100,
        )


def test_assign_shards_auto_width_hashed_ids(spark):
    """With no bucket_width, the width derives from the id span — so ids
    hashed over a ~2^60 range still get ~sqrt(N)-row buckets instead of
    one row per bucket (the degenerate shape the old fixed default
    produced), and the shard assignment still equals the naive
    id-ordered cumulative sum."""
    from knot_another_pipeline_spark.operators.sampling import assign_shards

    step = (1 << 60) // 400
    rows = [((i * 2654435761) % 400 * step + i, 25) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, toks long")
    got = {
        r["id"]: r["shard"]
        for r in assign_shards(
            df, id_col="id", token_col="toks", tokens_per_shard=100
        ).collect()
    }
    cum, expected = 0, {}
    for i, t in sorted(rows):
        expected[i] = cum // 100
        cum += t
    assert got == expected
    # 400 docs * 25 tokens / 100 per shard = 100 shards, 4 docs each
    assert sorted(set(got.values())) == list(range(100))


def test_new_operators_on_empty_input(spark):
    """Empty inputs flow through without errors and yield empty outputs
    (schema intact) — the behavior a scheduled pipeline needs on a quiet
    partition."""
    from knot_another_pipeline_spark.operators.dedup import semantic_dedup_pairs
    from knot_another_pipeline_spark.operators.sampling import (
        assign_shards,
        token_budget_select,
    )
    from knot_another_pipeline_spark.operators.text_analysis import (
        quality_filter,
        repetition_stats,
    )

    docs = spark.createDataFrame([], "doc_id long, text string")
    assert repetition_stats(docs, id_col="doc_id", text_col="text").count() == 0
    assert quality_filter(docs, id_col="doc_id", text_col="text").count() == 0

    emb = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert semantic_dedup_pairs(emb, num_clusters=4).count() == 0

    scored = spark.createDataFrame([], "id long, score double, toks long")
    assert token_budget_select(
        scored, id_col="id", score_col="score", token_col="toks", budget=10
    ).count() == 0
    assert assign_shards(
        scored.select("id", "toks"), id_col="id", token_col="toks",
        tokens_per_shard=10,
    ).count() == 0


def test_chunk_audio_windows(spark):
    """Overlapping byte windows: boundaries, partial tail, empty/null
    payloads, validation."""
    from knot_another_pipeline_spark.operators.multimodal import chunk_audio

    df = spark.createDataFrame(
        [(1, bytearray(b"x" * 100)), (2, bytearray(b"")), (3, None),
         (4, bytearray(b"short"))],
        "doc_id long, payload binary",
    )
    out = chunk_audio(
        df, id_col="doc_id", payload_col="payload",
        chunk_bytes=64, hop_bytes=48,
    ).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1 (100 bytes): chunks at 0 (64), 48 (52), 96 (4)
    got = [(r["chunk_idx"], r["start_byte"], r["n_bytes"])
           for r in sorted(by_doc[1], key=lambda r: r["chunk_idx"])]
    assert got == [(0, 0, 64), (1, 48, 52), (2, 96, 4)]
    assert 2 not in by_doc and 3 not in by_doc  # empty/null yield nothing
    assert [(r["chunk_idx"], r["n_bytes"]) for r in by_doc[4]] == [(0, 5)]
    # overlap region is byte-identical between consecutive chunks
    c0 = bytes(by_doc[1][0]["chunk"])
    c1 = bytes(by_doc[1][1]["chunk"])
    assert c0[48:64] == c1[0:16]

    with pytest.raises(ValueError):
        chunk_audio(df, id_col="doc_id", payload_col="payload", hop_bytes=0)


def test_contamination_check_plants(spark):
    """A planted benchmark n-gram is detected; clean docs report an
    explicit zero row; min_hits raises the bar."""
    from knot_another_pipeline_spark.operators.dedup import contamination_check

    bench = spark.createDataFrame(
        [(100, "the secret benchmark answer is forty two exactly")],
        "doc_id long, text string",
    )
    corpus = spark.createDataFrame(
        [
            (1, "totally clean document about gardening and rivers"),
            (2, "i memorized the secret benchmark answer is forty two exactly ha"),
            (3, "another unrelated text with no overlap whatsoever here"),
        ],
        "doc_id long, text string",
    )
    out = {
        r["id"]: r
        for r in contamination_check(
            corpus, bench, id_col="doc_id", text_col="text", n=5
        ).collect()
    }
    assert len(out) == 3  # every corpus doc reported
    assert out[2]["contaminated"] and out[2]["eval_shingle_hits"] >= 3
    assert not out[1]["contaminated"] and out[1]["eval_shingle_hits"] == 0
    assert not out[3]["contaminated"]

    strict = {
        r["id"]: r["contaminated"]
        for r in contamination_check(
            corpus, bench, id_col="doc_id", text_col="text", n=5,
            min_hits=100,
        ).collect()
    }
    assert not any(strict.values())


def test_scrub_pii_and_clean_lines(spark):
    """Planted PII is masked with typed tokens and counted; line cleaning
    drops short boilerplate lines and reassembles the rest."""
    from knot_another_pipeline_spark.operators.text_analysis import (
        clean_lines,
        scrub_pii,
    )

    df = spark.createDataFrame(
        [(1, "mail a.b+c@sub.example.org or call 555-123-4567; also 555 987 6543"),
         (2, "server at 10.0.0.1 and 192.168.1.255 up"),
         (3, "nothing sensitive here")],
        "doc_id long, text string",
    )
    got = {r["id"]: r for r in scrub_pii(df, id_col="doc_id", text_col="text").collect()}
    assert got[1]["n_email"] == 1 and got[1]["n_phone"] == 2
    assert "[EMAIL]" in got[1]["text"] and got[1]["text"].count("[PHONE]") == 2
    assert "@" not in got[1]["text"]
    assert got[2]["n_ipv4"] == 2 and got[2]["text"].count("[IP]") == 2
    assert got[3]["text"] == "nothing sensitive here"

    lines_df = spark.createDataFrame(
        [(1, "home\nabout\nthis line has enough words to survive\nlogin")],
        "doc_id long, text string",
    )
    out = clean_lines(lines_df, id_col="doc_id", text_col="text", min_words=4).collect()[0]
    assert out["text"] == "this line has enough words to survive"
    assert out["n_lines_kept"] == 1 and out["n_lines_dropped"] == 3


def test_connected_components_chains_and_cliques(spark):
    """A≈B, B≈C chain collapses to one component with min-id label;
    disjoint pairs stay separate; propagation crosses multiple hops."""
    from knot_another_pipeline_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    got = {r["id"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1,      # 3-hop chain -> min id 1
        10: 10, 11: 10,               # separate pair
        20: 20, 21: 20, 22: 20,       # triangle
    }


def test_profile_table_stats(spark):
    """Null/distinct/min-max per column; numeric min/max use native
    ordering (9 < 10), not lexicographic ('10' < '9')."""
    from knot_another_pipeline_spark.operators.quality import profile_table

    df = spark.createDataFrame(
        [(9, "a"), (10, "b"), (2, None), (10, "a")],
        "v long, s string",
    )
    got = {r["col_name"]: r for r in profile_table(df).collect()}
    assert got["v"]["n_rows"] == 4 and got["v"]["n_nulls"] == 0
    assert got["v"]["n_distinct"] == 3
    assert got["v"]["min_value"] == "2" and got["v"]["max_value"] == "10"
    assert got["s"]["n_nulls"] == 1 and got["s"]["n_distinct"] == 2
    # approx mode still produces a sane profile shape
    approx = {r["col_name"]: r for r in profile_table(df, approx=True).collect()}
    assert approx["v"]["n_distinct"] >= 1


def test_keyword_search_ranking(spark):
    """Rarer query terms weigh more (IDF); higher term frequency wins
    within a term; non-matching docs never appear; empty query rejected."""
    from knot_another_pipeline_spark.operators.search import keyword_search

    df = spark.createDataFrame(
        [
            (1, "spark spark spark engine"),        # tf(spark)=3
            (2, "spark engine"),                    # tf(spark)=1
            (3, "rare unicorn word here"),          # only doc with 'unicorn'
            (4, "nothing relevant at all"),
        ],
        "doc_id long, text string",
    )
    out = keyword_search(
        df, id_col="doc_id", text_col="text", query="spark unicorn", k=10
    ).collect()
    ranked = [r["id"] for r in out]
    scores = {r["id"]: r["score"] for r in out}
    assert 4 not in scores
    # doc 3's single hit on the rarer term outweighs doc 2's common term
    assert scores[3] > scores[2]
    # within 'spark', tf=3 beats tf=1
    assert scores[1] > scores[2]
    assert ranked[0] == max(scores, key=lambda i: (scores[i], -i))

    import pytest as pt
    with pt.raises(ValueError):
        keyword_search(df, id_col="doc_id", text_col="text", query="   ")


def test_assign_shards_group_col_restarts_per_group(spark):
    """group_col='split' restarts shard numbering per group so each
    split's shards independently fill ~tokens_per_shard (advice r3:
    global numbering under-filled per-split shard files)."""
    from knot_another_pipeline_spark.operators.sampling import assign_shards

    rows = [(i, 10, "train" if i % 10 else "val") for i in range(1, 101)]
    df = spark.createDataFrame(rows, "id long, n_tokens long, split string")
    out = assign_shards(
        df, id_col="id", token_col="n_tokens", tokens_per_shard=100,
        bucket_width=8, group_col="split",
    ).collect()
    # reconstruct split membership (assign_shards returns id/n_tokens/shard)
    split_of = {r[0]: r[2] for r in rows}
    by_grp: dict = {}
    for r in out:
        by_grp.setdefault(split_of[r["id"]], []).append(r)
    # both groups start at shard 0
    for grp, grp_rows in by_grp.items():
        assert min(r["shard"] for r in grp_rows) == 0, grp
        # per-group naive cumsum oracle
        grp_rows.sort(key=lambda r: r["id"])
        cum = 0
        for r in grp_rows:
            assert r["shard"] == cum // 100, (grp, r)
            cum += r["n_tokens"]
    # train: 90 docs * 10 tok / 100 -> shards 0..8; val: 10 docs -> shard 0
    assert max(r["shard"] for r in by_grp["train"]) == 8
    assert max(r["shard"] for r in by_grp["val"]) == 0


def test_unigram_logprob_score_ranks_common_prose_higher(spark):
    """Docs made of corpus-common tokens outscore rare-vocabulary docs;
    a doc scored against a foreign model is all-OOV and scores lowest;
    empty docs produce no row."""
    from knot_another_pipeline_spark.operators.text_analysis import (
        unigram_logprob_score,
    )

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat " * 5),
            (2, "the cat sat on the mat"),
            (3, "zyx qwv jkq plm vbn"),     # vocabulary of hapaxes
            (4, "   "),                      # no tokens -> no row
        ],
        "doc_id long, text string",
    )
    out = {
        r["id"]: r
        for r in unigram_logprob_score(
            docs, id_col="doc_id", text_col="text"
        ).collect()
    }
    assert set(out) == {1, 2, 3}
    assert out[1]["avg_logprob"] > out[3]["avg_logprob"]
    assert out[1]["perplexity"] < out[3]["perplexity"]
    assert out[2]["n_tokens"] == 6

    # scoring against an external model: all-OOV text scores below
    # anything in-vocabulary
    model = docs.filter("doc_id = 1")
    scored = {
        r["id"]: r["avg_logprob"]
        for r in unigram_logprob_score(
            docs.filter("doc_id in (2, 3)"),
            id_col="doc_id", text_col="text", model_df=model,
        ).collect()
    }
    assert scored[2] > scored[3]


def test_incremental_dedup_screens_new_batch(spark):
    """New batch vs existing corpus: exact dup flagged with its corpus
    anchor, near dup caught by the banded screen, within-batch dup keeps
    the smaller id, novel docs keep. Corpus never pairs with itself."""
    from knot_another_pipeline_spark.operators.dedup import incremental_dedup

    body = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "to the deep green forest before the hunters arrive tonight"
    )
    corpus = spark.createDataFrame(
        [
            (1, body),
            (2, "completely unrelated corpus text about spark physical plans"),
            (3, body.replace("green", "blue")),  # corpus-internal near dup of 1
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            (10, body),                             # exact dup of corpus 1
            (11, body.replace("tonight", "today")), # near dup of corpus 1/3
            (12, "a wholly novel document with its own fresh vocabulary set"),
            (13, "a wholly novel document with its own fresh vocabulary set"),
        ],  # 12/13: exact dups within the batch
        "doc_id long, text string",
    )
    out = {
        r["id"]: (r["status"], r["dup_of"])
        for r in incremental_dedup(new, corpus).collect()
    }
    assert out[10] == ("exact_dup", 1)
    assert out[11][0] == "near_dup" and out[11][1] in (1, 3)
    assert out[12] == ("keep", None)
    # 13 is a within-batch duplicate of 12: exact screen (batch on its
    # own build side) anchors it to the smaller surviving id
    assert out[13] == ("exact_dup", 12)
    assert len(out) == 4


def test_incremental_dedup_catches_short_text_batch_dups(spark):
    """Texts below the shingle width have no minhash signature; the
    exact screen must still catch identical copies within the batch
    (review finding r4)."""
    from knot_another_pipeline_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "some corpus document with plenty of words in it")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(10, "hi there"), (11, "hi there"), (12, "bye now")],
        "doc_id long, text string",
    )
    out = {
        r["id"]: (r["status"], r["dup_of"])
        for r in incremental_dedup(new, corpus).collect()
    }
    assert out[10] == ("keep", None)
    assert out[11] == ("exact_dup", 10)
    assert out[12] == ("keep", None)


def test_chunk_documents_windows_and_overlap(spark):
    from knot_another_pipeline_spark.operators.text_analysis import (
        chunk_documents,
    )

    text10 = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, text10), (2, "a b c"), (3, "   ")], "doc_id long, text string"
    )
    # chunk=4, no overlap: 10 tokens -> [0:4],[4:8],[8:10]
    out = chunk_documents(
        docs, id_col="doc_id", text_col="text", chunk_tokens=4
    ).collect()
    got = {(r["id"], r["chunk_id"]): (r["chunk_text"], r["n_tokens"]) for r in out}
    assert got[(1, 0)] == ("w0 w1 w2 w3", 4)
    assert got[(1, 1)] == ("w4 w5 w6 w7", 4)
    assert got[(1, 2)] == ("w8 w9", 2)          # tail kept
    assert got[(2, 0)] == ("a b c", 3)          # short doc: one chunk
    assert all(k[0] != 3 for k in got)          # blank doc: no chunks
    assert len(got) == 4

    # overlap=2, chunk=4 -> stride 2: starts 0,2,4,6 for 10 tokens
    ov = chunk_documents(
        docs.filter("doc_id = 1"), id_col="doc_id", text_col="text",
        chunk_tokens=4, overlap_tokens=2,
    ).collect()
    texts = [r["chunk_text"] for r in sorted(ov, key=lambda r: r["chunk_id"])]
    assert texts[0] == "w0 w1 w2 w3" and texts[1] == "w2 w3 w4 w5"
    # starts 0,2,4,6: last window is full and covers the tail
    assert texts[-1] == "w6 w7 w8 w9"
    # every token appears in at least one chunk; consecutive chunks share
    # exactly `overlap` tokens
    assert len(texts) == 4

    import pytest as pt
    with pt.raises(ValueError):
        chunk_documents(docs, id_col="doc_id", text_col="text",
                        chunk_tokens=4, overlap_tokens=4)


def test_ngram_topk_counts_and_short_docs(spark):
    from knot_another_pipeline_spark.operators.text_analysis import ngram_topk

    df = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the cat ran"),
            (3, "single"),        # shorter than n: contributes nothing
            (4, ""),
            (5, None),
        ],
        "doc_id long, text string",
    )
    got = [
        (r["ngram"], r["n_occurrences"])
        for r in ngram_topk(df, text_col="text", n=2, k=3).collect()
    ]
    assert got[0] == ("the cat", 2)
    assert len(got) == 3 and all(c >= 1 for _, c in got)
    # trigram path + k larger than vocabulary
    tri = ngram_topk(df, text_col="text", n=3, k=100).collect()
    assert ("the cat sat", 1) in [(r["ngram"], r["n_occurrences"]) for r in tri]
    import pytest
    with pytest.raises(ValueError):
        ngram_topk(df, text_col="text", n=0, k=5)
