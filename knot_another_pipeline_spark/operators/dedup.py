"""Deduplication family: window dedup, exact, MinHash-LSH, SimHash, n-gram Jaccard.

The reference's only dedup semantic is the consumer-side "keep latest
``ingested_at`` per (mmsi, base_date_time)" window contract
(``/root/reference/docs/data_contracts.md:49,89,113`` — recommended, never
implemented there; implemented here as :func:`latest_row_dedup`).

The rest is the training-data-pipeline extension set (BASELINE.json north
star): exact/near-duplicate detection over a document corpus, designed so
the candidate-generation step is an equi-join (the same discretize-then-
equi-join trick the reference plays with H3 cells):

- exact:    md5 of normalized text → groupBy. One shuffle of (hash, id).
- MinHash:  shingles → k md5-derived min-hashes → band buckets → pairs
            join on (band, band_hash). Never compares all N² docs.
- SimHash:  64-bit weighted-bit fingerprint; near-dups share the
            fingerprint (or a band of it).
- n-gram Jaccard: explode distinct shingles → self-join on shingle →
            |A∩B| / |A∪B|. Exact, for verification of candidates.

All hashes derive from md5 so every step is reproducible in any engine
with md5() — including the DuckDB differential oracle.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import (
    DataFrame,
    Observation,
    Window,
    functions as F,
    types as T,
)

from knot_another_pipeline_spark.functions.hashing import (
    content_fingerprint,
    hash64,
    hash_hex,
)
from knot_another_pipeline_spark.functions.partitioning import (
    fan_out_small_scan,
)
from knot_another_pipeline_spark.sources.warehouse import _path_ops

#: Pin the raw shingle relation in the posting-list pair operators
#: (ngram_jaccard_pairs / containment_pairs) so their two different-key
#: aggregates don't each re-run the tokenize chain. Module-level only so
#: an interleaved A/B can toggle it inside one session; always True in
#: production code paths.
_PIN_SHINGLES = True

#: Round index from which ``connected_components`` forces at least one
#: pointer jump per half-step regardless of ``pointer_jumps`` — the
#: O(log diameter) backstop for jump-free defaults. 8 jump-free rounds
#: x 3 half-steps cover diameter ~24 cheaply; anything deeper is a
#: pathological chain where the jump joins earn their exchanges.
_JUMP_ESCALATION_ROUND = 8

#: Diagnostics: pinned-round count of the most recent
#: ``connected_components`` call in this process — measurement tooling
#: (scale probes, composition A/Bs) reads it to report convergence
#: depth; never used by query logic.
_LAST_CC_ROUNDS = 0


def latest_row_dedup(
    df: DataFrame, keys: list[str], order_col: str, tiebreak: str | None = None
) -> DataFrame:
    """Keep the latest row per key group (``row_number`` window,
    data_contracts.md:113). ``tiebreak`` breaks order ties
    deterministically. At scale this shuffles once on ``keys`` — the same
    partitioning the silver layer's bucket-by-entity layout already has,
    so with bucketed storage it is shuffle-free."""
    order = [F.col(order_col).desc()]
    if tiebreak:
        order.append(F.col(tiebreak).desc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def exact_dedup(df: DataFrame, *, id_col: str, text_col: str) -> DataFrame:
    """Exact near-normalized duplicate groups: fingerprint → min-id
    representative. Output: id, fingerprint, group_size, representative
    (is this row the keeper)."""
    with_fp = df.select(
        F.col(id_col).alias("id"), content_fingerprint(text_col).alias("fingerprint")
    )
    groups = with_fp.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("group_size"), F.min("id").alias("keep_id")
    )
    return (
        with_fp.join(groups, "fingerprint")
        .withColumn("representative", F.col("id") == F.col("keep_id"))
        .select("id", "fingerprint", "group_size", "representative")
    )


def shingle_table(
    df: DataFrame, *, id_col: str, text_col: str, n: int = 3, distinct: bool = True
) -> DataFrame:
    """Exploded (id, shingle) table — the base relation for MinHash and
    Jaccard.

    Shingling is ONE codegen'd ``regexp_extract_all``: whitespace is
    normalized to single spaces, then overlapping word n-grams are
    captured with a lookbehind-anchored lookahead
    (``(?<=^| )(?=(\\S+( \\S+){n-1}))``). This replaces the
    transform/slice higher-order-function formulation, which Spark
    evaluates interpreted per element (~7× slower on the document
    corpus) — HOFs never enter whole-stage codegen.

    ``distinct=True`` gives set semantics (required for Jaccard counts;
    one extra shuffle). MinHash callers pass False: ``min`` over a
    multiset equals ``min`` over its set, so duplicates are harmless and
    the dedup shuffle is skipped.
    """
    norm = F.regexp_replace(F.trim(F.lower(F.col(text_col))), r"\s+", " ")
    pattern = rf"(?<=^| )(?=(\S+(?: \S+){{{n - 1}}}))"
    # Regex shingling is the expensive row-local step of every MinHash /
    # Jaccard chain; an unsplittable one-row-group input would run it
    # single-threaded (guide §2.5 input skew). fan_out is a no-op on
    # already-parallel scans. Measured at sf0.1: full minhash chain
    # 1.76 → 1.27 s warm.
    out = fan_out_small_scan(df).select(
        F.col(id_col).alias("id"),
        F.explode(F.regexp_extract_all(norm, F.lit(pattern), 1)).alias("shingle"),
    )
    return out.distinct() if distinct else out


def minhash_signatures(
    shingles: DataFrame, *, num_hashes: int = 16
) -> DataFrame:
    """k min-hashes per doc, Carter-Wegman style, no row blowup.

    Two md5-derived 40-bit base hashes per shingle (h1 = md5('1:s'),
    h2 = md5('2:s')); permutation j is the linear combination
    ``h_j = h1 + j·h2`` (< 2^45 for k ≤ 16 — no overflow, and exactly
    reproducible in any engine with md5). The signature is one hash
    aggregate with k ``min`` expressions — the shuffle carries one
    k-column row per doc (map-side combined), versus the naive
    explode×k which multiplies the shingle table by k.

    Output (wide): id, m0 … m{k-1} (bigint).
    """
    h1 = F.conv(F.substring(F.md5(F.concat(F.lit("1:"), F.col("shingle"))), 1, 10), 16, 10).cast("long")
    h2 = F.conv(F.substring(F.md5(F.concat(F.lit("2:"), F.col("shingle"))), 1, 10), 16, 10).cast("long")
    based = shingles.select("id", h1.alias("h1"), h2.alias("h2"))
    aggs = [
        F.min(F.col("h1") + F.lit(j) * F.col("h2")).alias(f"m{j}")
        for j in range(num_hashes)
    ]
    return based.groupBy("id").agg(*aggs)


def _band_buckets(
    signatures: DataFrame, *, bands: int, rows_per_band: int
) -> DataFrame:
    """(id, band, bucket) rows from wide minhash signatures: each band's
    bucket key is the md5 of its signature slice, all bands emitted in
    ONE pass (posexplode of a bands-wide array) rather than a per-band
    union that would rescan the signature lineage ``bands`` times.
    Shared by the batch LSH pair search and the incremental screen so
    the banding scheme can never drift between them."""
    band_keys = [
        F.md5(
            F.concat_ws(
                ",",
                *[
                    F.col(f"m{b * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            )
        )
        for b in range(bands)
    ]
    return signatures.select(
        "id", F.posexplode(F.array(*band_keys)).alias("band", "bucket")
    )


def lsh_candidate_pairs(
    signatures: DataFrame, *, bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """LSH banding over wide signatures: each band's bucket key is the md5
    of its signature slice; docs sharing any (band, bucket) are
    candidates. The pair search is an equi-join on the bucket key — never
    all-pairs. Band keys come from :func:`_band_buckets` (one pass).
    Output: id_a, id_b (id_a < id_b), distinct."""
    buckets = _band_buckets(
        signatures, bands=bands, rows_per_band=rows_per_band
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )


def minhash_similarity(
    signatures: DataFrame, candidates: DataFrame, *, num_hashes: int = 16
) -> DataFrame:
    """Estimated Jaccard for candidate pairs = fraction of equal signature
    components; one join per side, equality folded into a single column
    expression (no explode). Output: id_a, id_b, est_jaccard."""
    sa = signatures.select(
        F.col("id").alias("id_a"),
        *[F.col(f"m{j}").alias(f"a{j}") for j in range(num_hashes)],
    )
    sb = signatures.select(
        F.col("id").alias("id_b"),
        *[F.col(f"m{j}").alias(f"b{j}") for j in range(num_hashes)],
    )
    matches = sum(
        F.when(F.col(f"a{j}") == F.col(f"b{j}"), 1).otherwise(0)
        for j in range(num_hashes)
    )
    return (
        candidates.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (matches.cast("double") / F.lit(float(num_hashes))).alias("est_jaccard"),
        )
    )


def ngram_jaccard_pairs(
    shingles: DataFrame,
    *,
    min_jaccard: float = 0.0,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact pairwise Jaccard over docs sharing ≥1 shingle.

    |A∩B| from the self-join on shingle; |A| and |B| joined from per-doc
    set sizes; J = inter / (|A|+|B|-inter).

    ``max_doc_freq`` is the stop-shingle cap: a shingle appearing in d
    docs contributes d² rows to the intersection counts, so one
    boilerplate shingle is a job-killer at corpus scale. With the cap
    set, shingle document frequencies are pre-counted (one cheap
    aggregate) and shingles with df > cap are dropped *before* postings
    are collected; Jaccard is then computed over the capped shingle
    sets on both the intersection and size sides, so the metric stays
    internally consistent. Production default: a few hundred
    (boilerplate lives in the df ≫ 10³ tail; true near-dup pairs share
    plenty of rare shingles).

    The intersection counts come from POSTING LISTS, not a self-join
    (guide §2.3/§2.4): one groupBy collects the df-capped ids per
    shingle (group size bounded by the cap), then the C(d, 2) ordered
    pairs are enumerated row-locally — the shingle strings shuffle
    once instead of riding both sides of a self-equi-join, and the
    pair stream goes straight into the (id_a, id_b) count aggregate.

    The shingles are pinned with a lazy ``localCheckpoint`` that the
    returned frame reads, so it cannot be freed when this returns: its
    blocks stay in executor storage until the frame is dropped and the
    ContextCleaner reclaims them, and a lost executor makes the result
    fail (a missing checkpoint block), not recompute.
    Output: id_a, id_b, jaccard.
    """
    from knot_another_pipeline_spark.functions.postings import (
        sorted_pairs_from_postings,
    )

    # The raw shingle relation feeds TWO aggregates with DIFFERENT keys
    # (df/keep by shingle, sizes by id) plus the cap join's probe side —
    # with the posting rewrite there is no self-join exchange left for
    # Spark to reuse, so without a pin the upstream tokenize+explode
    # chain compiles (and runs) once per consumer. Pin it lazily
    # (guide §3.3/§5), same as prefix_filter_jaccard_pairs.
    if _PIN_SHINGLES:
        shingles = shingles.localCheckpoint(eager=False)
    if max_doc_freq is not None:
        keep = (
            shingles.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("shingle")
        )
        shingles = shingles.join(keep, "shingle")
    sizes = shingles.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    posts = shingles.groupBy("shingle").agg(
        F.collect_list("id").alias("_ids")
    )
    inter = (
        sorted_pairs_from_postings(
            posts, items_col="_ids", a_col="id_a", b_col="id_b"
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sza = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    szb = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        inter.join(sza, "id_a")
        .join(szb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(min_jaccard))
        .select("id_a", "id_b", "jaccard")
    )


def simhash(df: DataFrame, *, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """SimHash fingerprint: for each bit position, sum ±1 over token
    hashes; bit set where the sum is positive.

    ROW-LOCAL, shuffle-free (guide §2.4): each document is one input
    row, so the whole per-bit vote tally is a SQL ``aggregate`` fold
    over the document's distinct-token array — per token, one md5 hash
    and a ``bits``-wide ±1 vector ``zip_with``-added into the
    accumulator — and the fingerprint reassembles from the final vote
    array, all inside the projection.  This replaced the historical
    explode → groupBy(id) formulation with ``bits`` conditional sums,
    whose wide aggregate (and its shuffle) measured 3.4 s vs 1.3 s
    row-local at sf0.1 (interleaved min-of-5, −62%), bit-identical
    output: integer vote addition is order-independent, and hash64 is
    60-bit so bits 60..63 vote uniformly −1 and stay clear either way.
    Docs whose text is NULL produce no output row (the explode dropped
    them; the explicit size filter preserves that).

    Output: id, simhash (bigint). Near-duplicates differ in few bits
    (hamming distance).
    """
    # hash64(tok, seed=0) in SQL form — the identical md5-derived
    # 60-bit hash the exploded formulation used (oracle parity).
    h = "CAST(conv(substring(md5(concat('0:', t)), 1, 15), 16, 10) AS BIGINT)"
    votes = (
        "aggregate(_toks, "
        f"array_repeat(0, {bits}), "
        "(acc, t) -> zip_with(acc, "
        f"transform(sequence(0, {bits - 1}), "
        f"b -> IF((shiftright({h}, b) & 1) = 1, 1, -1)), "
        "(x, y) -> x + y))"
    )
    fp = (
        f"aggregate(zip_with({votes}, sequence(0, {bits - 1}), "
        "(v, j) -> IF(v > 0, shiftleft(CAST(1 AS BIGINT), j), "
        "CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    # fan_out: tokenize+md5 is the expensive row-local step; a one-row-
    # group scan would otherwise run it on one core (guide §2.5).
    return (
        fan_out_small_scan(df)
        .select(
            F.col(id_col).alias("id"),
            F.array_distinct(
                F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
            ).alias("_toks"),
        )
        .filter(F.size("_toks") > 0)
        .select("id", F.expr(fp).alias("simhash"))
    )


def simhash_near_dup_pairs(
    fingerprints: DataFrame, *, max_hamming: int = 3, bands: int = 4
) -> DataFrame:
    """Near-duplicate pairs from SimHash fingerprints: hamming-LSH
    banding, then exact bit_count confirm.

    The 64-bit fingerprint splits into ``bands`` contiguous slices; by
    pigeonhole, any pair within hamming distance < ``bands`` shares at
    least one identical slice, so candidates come from an equi-join on
    (band, slice) — never all-pairs (same blocking shape as MinHash
    banding; recall is exact for ``max_hamming < bands``, approximate
    above). Both fingerprints ride through the bucket join so the
    hamming confirm is a single ``bit_count(a^b)`` with no re-join.
    Input: (id, simhash) from :func:`simhash`.
    Output: id_a, id_b (id_a < id_b), hamming — distinct.
    """
    bits_per_band = 64 // bands
    mask = (1 << bits_per_band) - 1
    # Pin the fingerprint frame: both bucket-join sides reference it,
    # and since simhash() became a row-local projection (no aggregate
    # exchange) there is no longer a shuffle subtree for ReuseExchange
    # to share — unpinned, each side re-runs the per-token hash fold
    # (measured 4.6 → 11.3 s at sf0.1 when the pin was missing).
    fingerprints = fingerprints.localCheckpoint(eager=False)
    band_keys = [
        F.shiftright(F.col("simhash"), i * bits_per_band).bitwiseAND(F.lit(mask))
        for i in range(bands)
    ]
    buckets = fingerprints.select(
        "id",
        "simhash",
        F.posexplode(F.array(*band_keys)).alias("band", "bucket"),
    )
    a, b = buckets.alias("a"), buckets.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).cast("long").alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= F.lit(max_hamming))
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    threshold: float = 0.35,
    dim: int = 64,
    bands: int = 4,
    rows_per_band: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs with banded hyperplane LSH
    blocking.

    Candidates come from an equi-join on (band, bucket) keys built from
    bands × rows_per_band deterministic md5-derived hyperplanes
    (``similarity.hyperplane_band_keys``) — the same bands×rows shape as
    MinHash/SimHash banding, so the corpus never cross-joins and recall
    vs blocking factor is tunable: per-band blocking is ``2^R`` (defaults
    4×8 → 256 buckets/band; at ~10⁹ vectors raise R to 16 → 65 536
    buckets/band), recall ``1-(1-s^R)^B`` for sign-agreement rate s.
    Exact cosine then confirms candidates against ``threshold``; pairs
    colliding in several bands dedupe once, after the cheap projection.
    Output: id_a, id_b (id_a < id_b), cos_sim.
    """
    from knot_another_pipeline_spark.operators.similarity import (
        attach_band_keys,
        dot,
        l2_norm,
    )

    # NOT fan_out: the band keys are an Arrow/BLAS matmul per batch and
    # the confirm join reshuffles anyway — the extra repartition measured
    # +6-9% at sf0.1 (r12 A/B); at cluster scale the scan is already
    # parallel, so there is nothing to buy.
    side = attach_band_keys(
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            l2_norm(F.col(vec_col)).alias("n"),
        ),
        vec_col="v", dim=dim, bands=bands, rows_per_band=rows_per_band,
    )
    a = side.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("n").alias("na"), "band", "bucket",
    )
    b = side.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("n").alias("nb"), "band", "bucket",
    )
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_sim", dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb"))
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
        .distinct()
    )


def semantic_dedup_pairs(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_clusters: int = 16,
    threshold: float = 0.4,
    unroll_dim: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, then pairwise cosine
    *within clusters only* — never all-pairs.

    Clustering reuses the fixed-size md5-ranked centroid selection and
    aggregate-argmax cell assignment from ``similarity`` (deterministic →
    mirrorable in the DuckDB oracle; a production run swaps in k-means
    centroids of the same shape). The within-cluster self-join is an
    equi-join on the cell id, so the quadratic term is bounded by cluster
    size: with C clusters over N vectors the expected per-cluster pair
    count is ``(N/C)²/2`` — the scale dial is C (SemDeDup used 50k
    clusters for LAION-440M; C ≈ N/10⁴ keeps per-cluster work < 10⁸).
    Output: id_a, id_b (id_a < id_b, same cluster), cell, cos_sim.
    """
    from knot_another_pipeline_spark.operators.similarity import (
        assign_cells,
        deterministic_centroids,
        dot,
    )

    cents = deterministic_centroids(
        df, id_col=id_col, vec_col=vec_col, num_centroids=num_clusters
    )
    assigned = assign_cells(
        df, cents, id_col=id_col, vec_col=vec_col, fan_out=True
    )
    a = assigned.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"),
        F.col("n").alias("na"), "cell",
    )
    b = assigned.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"),
        F.col("n").alias("nb"), "cell",
    )
    return (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn(
            "cos_sim",
            dot("va", "vb", unroll_dim=unroll_dim)
            / (F.col("na") * F.col("nb")),
        )
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cell", "cos_sim")
    )


def contamination_check(
    corpus: DataFrame,
    eval_set: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark-contamination scan (the GPT-3 appendix-C / Llama-2 A.6
    recipe): count exact word n-gram collisions between each training
    document and an eval/benchmark set; flag documents at or above
    ``min_hits`` for removal before training.

    Scale shape: the eval side is small *by definition* (benchmarks are
    thousands of documents, the corpus is billions), so its distinct
    shingle set broadcasts and the corpus shingles never shuffle — the
    only shuffled relation is the per-document hit count, bounded by the
    number of contaminated docs. One row per corpus document (zero hits
    included: an audit wants explicit all-clear rows, and the join that
    restores them is on the pre-shingle corpus ids).
    Output: id, eval_shingle_hits, contaminated.
    """
    # corpus side: multiset shingles (distinct=False) — set semantics are
    # restored by countDistinct AFTER the broadcast join, when the rows
    # are already reduced to contaminated-shingle occurrences. A
    # distinct() here would global-shuffle every corpus shingle before
    # the join, defeating the whole shape.
    c = shingle_table(
        corpus, id_col=id_col, text_col=text_col, n=n, distinct=False
    )
    e = (
        shingle_table(eval_set, id_col=id_col, text_col=text_col, n=n)
        .select("shingle")
        .distinct()
    )
    hits = (
        c.join(F.broadcast(e), "shingle")
        .groupBy("id")
        .agg(F.countDistinct("shingle").alias("eval_shingle_hits"))
    )
    return (
        corpus.select(F.col(id_col).alias("id"))
        .join(hits, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("eval_shingle_hits"), F.lit(0))
            .cast("bigint")
            .alias("eval_shingle_hits"),
            (
                F.coalesce(F.col("eval_shingle_hits"), F.lit(0))
                >= F.lit(min_hits)
            ).alias("contaminated"),
        )
    )


def connected_components(
    pairs: DataFrame,
    *,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 25,
    scratch_dir: str | None = None,
    half_steps_per_round: int = 3,
    pointer_jumps: int = 0,
) -> DataFrame:
    """Union near-duplicate pairs into duplicate GROUPS: the step that
    turns any pair generator's output (MinHash/SimHash/embedding/semantic)
    into one canonical representative per cluster — without it, "A≈B,
    B≈C" keeps both B and C.

    Min-label propagation over the undirected edge list with a self-loop
    per node, so min-over-neighbors includes the node's own label and a
    half-step is one join + one groupBy. Each half-step then follows
    ``pointer_jumps`` parent pointers (one keyed self-join each), and
    each pinned ROUND composes ``half_steps_per_round`` half-steps: the
    loop's cost at convergence is per-round job latency, not data. The
    defaults are jump-free (3, 0), which reach the fixpoint of the
    measured near-dup graphs in as many rounds as jumped compositions
    (the A/B history is in ``docs/scale_design.md``); grid graphs with
    genuine chains pass (2, 1). From round ``_JUMP_ESCALATION_ROUND`` on
    every half-step forces at least one pointer jump, so a pathological
    chain still converges in O(log diameter) rounds after a bounded
    cheap prefix. ``max_iterations`` bounds pinned rounds.

    Convergence rides the round's own write job via ``observe()``: the
    label sum (exact, in ``decimal(38,0)``) after every composed
    half-step and the round's row count. Labels are monotone
    non-increasing per node, so any two equal adjacent sums prove a
    fixed point, and an empty graph ends after one round.

    Ids that are not integral (strings, decimals, doubles) are mapped
    once to unique longs (``monotonically_increasing_id`` over the
    distinct nodes, written to the scratch), run the same loop, and each
    component is relabelled with its minimum original id afterwards.

    Each round's labels are written to a two-slot PARQUET scratch; round
    N reads slot (N-1)%2 while writing slot N%2, so the footprint is two
    label tables plus the id map. A parquet scan carries real file-size
    statistics, so the next round's joins and the caller's joins over
    the result can broadcast a small label table (a block-storage pin
    of the round's join plan carries the join's inflated estimate
    instead). The scratch is ``scratch_dir`` when given; otherwise a
    fresh directory under the SparkContext's checkpoint directory
    (``setCheckpointDir``) when one is set; otherwise, on a local master
    only, a driver temp dir. A non-local master with
    neither RAISES: executors cannot see the driver's disk. A scratch
    this function made is deleted on return (through the Hadoop
    FileSystem API, so ``hdfs://`` and ``s3a://`` scratches go too).

    Executor loss: with a caller's ``scratch_dir`` the returned frame
    reads the final parquet slot (and the id map) directly, so it stays
    recomputable for as long as the caller keeps the scratch. With a
    default scratch the final state is pinned to executor block storage
    (``localCheckpoint``) before the scratch is deleted, which does not
    survive executor loss. The pinned edge list and stale pins are left
    to the ContextCleaner, as everywhere else in the package. For graphs
    with giant components at extreme scale, swap in the
    large-star/small-star variant (Kiveris et al. 2014) — same
    interface, fewer rounds.

    Output: id, component (the component's minimum id), in the input's
    id type. Only ids that appear in at least one pair are returned;
    singletons need no canonicalization.
    """
    spark = pairs.sparkSession
    scratch, own_scratch = _components_scratch(spark, scratch_dir)
    slots = [
        os.path.join(scratch, "labels_a"),
        os.path.join(scratch, "labels_b"),
    ]
    edges = pairs.select(F.col(src_col).alias("a"), F.col(dst_col).alias("b"))
    try:
        ids = None
        if not isinstance(
            edges.schema["a"].dataType,
            (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
        ):
            # a sum over strings is NULL and a sum over doubles inexact,
            # so the loop only ever sees longs
            ids_plan = (
                edges.select(F.col("a").alias("orig"))
                .union(edges.select("b"))
                .distinct()
                .withColumn("id", F.monotonically_increasing_id())
            )
            ids_path = os.path.join(scratch, "ids")
            ids_plan.write.mode("overwrite").parquet(ids_path)
            ids = spark.read.schema(ids_plan.schema).parquet(ids_path)
            for end in ("a", "b"):
                edges = edges.join(
                    ids.select(
                        F.col("orig").alias(end), F.col("id").alias(f"n{end}")
                    ),
                    end,
                )
            edges = edges.select(
                F.col("na").alias("a"), F.col("nb").alias("b")
            )
        nodes = edges.select("a").union(edges.select("b")).distinct()
        # the edge list is materialized ONCE: every round joins against
        # it, and without the pin each round would re-run the whole
        # upstream pair generation (measured 16 s -> 3 s at sf0.1 over
        # the MinHash pairs). NOT pre-partitioned by the join key: that
        # pins the join stages at N tasks and defeats AQE's coalescing
        # (measured 3.9 -> 5.7 s at sf0.1).
        bidir = (
            edges.union(
                edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
            )
            .union(nodes.select("a", F.col("a").alias("b")))
            .distinct()
            .localCheckpoint(eager=True)
        )

        def _propagate(cur: DataFrame | None, jumps: int) -> DataFrame:
            """One propagation, then ``jumps`` pointer jumps. ``cur=None``
            means the labels are still the identity map, so propagation
            collapses to one aggregate over the pinned edge list."""
            if cur is None:
                propagated = bidir.groupBy("a").agg(
                    F.min("b").alias("component")
                )
            else:
                propagated = (
                    bidir.join(
                        cur.select(
                            F.col("id").alias("b"),
                            F.col("component").alias("nc"),
                        ),
                        "b",
                    )
                    .groupBy("a")
                    .agg(F.min("nc").alias("component"))
                )
            propagated = propagated.withColumnRenamed("a", "id")
            # pointer jumping: component <- label[component]. Labels only
            # decrease, so the parent's label is always <= ours, and each
            # jump can halve the remaining pointer depth.
            for _ in range(max(0, jumps)):
                propagated = propagated.join(
                    propagated.select(
                        F.col("id").alias("component"),
                        F.col("component").alias("parent_comp"),
                    ),
                    "component",
                    "left",
                ).select(
                    "id",
                    F.coalesce("parent_comp", F.col("component")).alias(
                        "component"
                    ),
                )
            return propagated

        global _LAST_CC_ROUNDS
        _LAST_CC_ROUNDS = 0
        label_sum = F.sum(F.col("component").cast("decimal(38,0)")).alias("m")
        labels = None
        prev_sum = None
        for it in range(max(1, max_iterations)):
            jumps = (
                pointer_jumps
                if it < _JUMP_ESCALATION_ROUND
                else max(1, pointer_jumps)
            )
            cur = labels
            mid_obs: list[Observation] = []
            for step in range(max(1, half_steps_per_round)):
                if step:
                    # zero-job probe: the sum after every composed
                    # half-step rides the round's write job, so
                    # stagnation inside a round needs no confirming round
                    ob = Observation(f"cc_mid_{it}_{step}_{id(cur)}")
                    cur = cur.observe(ob, label_sum)
                    mid_obs.append(ob)
                cur = _propagate(cur, jumps)
            obs = Observation(f"cc_{id(cur)}_{it}")
            slot = slots[it % 2]
            cur.observe(
                obs, label_sum, F.count(F.lit(1)).alias("n")
            ).write.mode("overwrite").parquet(slot)
            # explicit schema: an empty graph writes a part-less directory
            # that schema inference rejects
            labels = spark.read.schema(cur.schema).parquet(slot)
            _LAST_CC_ROUNDS = it + 1
            metrics = obs.get
            if metrics["n"] == 0:
                break
            # any two equal adjacent non-NULL sums along the chain —
            # previous round's final, this round's probes, this round's
            # final — certify a fixed point (a NULL sum is an overflow,
            # never proof); later steps of a converged round are identity
            # maps, so the pinned state IS the fixpoint
            chain = [prev_sum, *(ob.get["m"] for ob in mid_obs), metrics["m"]]
            if any(x is not None and x == y for x, y in zip(chain, chain[1:])):
                break
            prev_sum = metrics["m"]
        if ids is not None:
            named = labels.join(ids, "id").select(
                F.col("orig").alias("id"), "component"
            )
            labels = named.join(
                named.groupBy("component").agg(F.min("id").alias("label")),
                "component",
            ).select("id", F.col("label").alias("component"))
        # a scratch made here is deleted below, so the final state is
        # pinned off its files first
        final = labels.localCheckpoint(eager=True) if own_scratch else labels
    finally:
        if own_scratch:
            _path_ops(spark, scratch).delete(scratch)
    return final


def _components_scratch(spark, scratch_dir: str | None) -> tuple[str, bool]:
    """(scratch path, whether ``connected_components`` made it and must
    delete it): the caller's ``scratch_dir``, else a fresh directory
    under the SparkContext's checkpoint directory, else a driver temp dir
    on a local master."""
    if scratch_dir:
        return scratch_dir, False
    try:
        checkpoint_dir = spark.sparkContext.getCheckpointDir()
    except AttributeError:  # Spark Connect: no SparkContext
        checkpoint_dir = None
    if checkpoint_dir:
        scratch = os.path.join(checkpoint_dir, f"knap_cc_{uuid.uuid4().hex}")
        return scratch, True
    try:
        master = str(spark.conf.get("spark.master", "") or "")
    except Exception:  # Spark Connect: no spark.master conf
        master = ""
    if not master.startswith("local"):
        raise ValueError(
            "connected_components has no usable default scratch on master "
            f"{master!r}: no checkpoint directory is set, and a driver-local "
            "temp dir is invisible to remote executors. Pass scratch_dir= on "
            "a shared filesystem/object store, or set one with "
            "SparkContext.setCheckpointDir."
        )
    return tempfile.mkdtemp(prefix="knap_cc_"), True


def incremental_dedup(
    new_docs: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    min_jaccard: float = 0.7,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus without re-pairing
    the corpus with itself — the daily-increment shape of a training-data
    pipeline (yesterday's crawl lands; drop what the lake already has).

    A full re-run of minhash_pairs over corpus+batch re-pays the
    corpus×corpus candidate join every day. Incremental screening only
    ever joins *new × (new ∪ corpus)*:

    1. exact screen: md5 content fingerprints, new LEFT SEMI–style
       matched against corpus fingerprints (a hash join on a 1-column
       key; at scale, keep the fingerprint column as a maintained index
       table instead of recomputing from corpus text).
    2. near screen: minhash band buckets for both sides, equi-join on
       (band, bucket) *restricted to new-batch probes* — corpus rows
       only ever appear on the build side, never pair with each other.
       Candidates are verified with the full-signature Jaccard estimate
       before a verdict.
    3. within-batch duplicates (new × new) are caught by BOTH screens —
       the exact screen includes the batch on its build side (covering
       texts too short to shingle), the band join likewise — so the
       surviving set is internally clean.

    Output: one row per new doc — id, status
    ('keep' | 'exact_dup' | 'near_dup'), dup_of (the matched existing or
    in-batch doc id; the smallest match for determinism), est_jaccard
    (NULL for exact dups/keeps). Precedence: exact beats near.

    Scale: both screens are equi-joins keyed on hashes; the corpus side
    is never self-joined, so daily cost is O(batch × collision rate),
    not O(corpus²). For repeated runs, persist fingerprints + signatures
    as the dedup index and feed them in place of raw corpus text.
    """
    nd = new_docs.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    )
    cd = corpus.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    )
    rows_per_band = num_hashes // bands

    # -- exact screen ------------------------------------------------------
    # build side = corpus ∪ the batch itself, so within-batch exact
    # duplicates are caught here too (the near screen can't see them
    # when the text is shorter than the shingle width — no shingles, no
    # signature); in-batch matches only count when the candidate id is
    # smaller, so exactly one copy of each group survives as 'keep'.
    nfp = nd.select("id", content_fingerprint("text").alias("fp"))
    cfp = cd.select(
        F.col("id").alias("dup_of"), content_fingerprint("text").alias("fp")
    )
    exact_build = cfp.withColumn("in_batch", F.lit(False)).unionByName(
        nfp.select(F.col("id").alias("dup_of"), "fp").withColumn(
            "in_batch", F.lit(True)
        )
    )
    exact = (
        nfp.join(exact_build, "fp")
        .filter((~F.col("in_batch")) | (F.col("dup_of") < F.col("id")))
        .groupBy("id")
        .agg(F.min("dup_of").alias("dup_of"))
        .withColumn("status", F.lit("exact_dup"))
    )

    # -- near screen (banded minhash, probe = new only) --------------------
    def _buckets(sigs: DataFrame) -> DataFrame:
        return _band_buckets(sigs, bands=bands, rows_per_band=rows_per_band)

    nsig = minhash_signatures(
        shingle_table(nd, id_col="id", text_col="text"),
        num_hashes=num_hashes,
    )
    csig = minhash_signatures(
        shingle_table(cd, id_col="id", text_col="text"),
        num_hashes=num_hashes,
    )
    nb = _buckets(nsig).alias("n")
    # build side = corpus ∪ new batch; within-batch matches keep only the
    # (smaller id -> larger id) orientation so exactly one of a dup pair
    # survives (the smaller id stays 'keep' and anchors the group).
    cb = _buckets(csig).withColumn("in_batch", F.lit(False)).unionByName(
        _buckets(nsig).withColumn("in_batch", F.lit(True))
    ).alias("c")
    cands = (
        nb.join(
            cb,
            (F.col("n.band") == F.col("c.band"))
            & (F.col("n.bucket") == F.col("c.bucket"))
            & (
                (~F.col("c.in_batch"))
                | (F.col("c.id") < F.col("n.id"))
            ),
        )
        .select(
            F.col("n.id").alias("id_a"), F.col("c.id").alias("id_b")
        )
        .distinct()
    )
    # ids must be globally unique across batch and corpus (the usual
    # contract for an id column; hash64 string ids upstream if needed)
    all_sigs = nsig.unionByName(csig)
    verified = minhash_similarity(
        all_sigs, cands, num_hashes=num_hashes
    ).filter(F.col("est_jaccard") >= F.lit(min_jaccard))
    near = (
        verified.groupBy(F.col("id_a").alias("id"))
        .agg(
            F.min("id_b").alias("dup_of"),
            F.max("est_jaccard").alias("est_jaccard"),
        )
        .withColumn("status", F.lit("near_dup"))
    )

    # -- verdict (exact beats near; default keep) --------------------------
    verdict = (
        nd.select("id")
        .join(exact.select("id", F.col("dup_of").alias("_edup")), "id", "left")
        .join(
            near.select(
                "id",
                F.col("dup_of").alias("_ndup"),
                F.col("est_jaccard").alias("_nj"),
            ),
            "id",
            "left",
        )
        .select(
            "id",
            F.when(F.col("_edup").isNotNull(), F.lit("exact_dup"))
            .when(F.col("_ndup").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("keep"))
            .alias("status"),
            F.coalesce(F.col("_edup"), F.col("_ndup")).alias("dup_of"),
            F.when(F.col("_edup").isNull(), F.col("_nj")).alias(
                "est_jaccard"
            ),
        )
    )
    return verdict


def _deletion_variants(frame: DataFrame) -> DataFrame:
    """FastSS / SymSpell deletion-neighborhood keys for a frame with a
    ``txt`` column: identity (i=0) plus every one-char deletion
    (i=1..len) as md5 join keys in ``_v``.  Two strings at Levenshtein
    distance ≤ 1 necessarily share a key, so an equi-join on ``_v`` is
    an exact-recall candidate generator for distance 1.
    ``Column.substr`` takes Column args, so the variant is pure
    codegen; ``xxhash64`` keeps the join key narrow through the
    shuffle — 8 bytes vs the 32-char md5 hex it replaced (guide §2.3
    "narrower types"), provably result-safe because BOTH consumers
    (:func:`fuzzy_match_pairs`, :func:`blocking_quality`) verify every
    candidate with an exact ``levenshtein`` afterward, so a hash
    collision can only add a candidate, never a result row."""
    fr = frame.withColumn(
        "_i",
        F.explode(F.sequence(F.lit(0), F.length("txt"))),
    )
    variant = F.when(F.col("_i") == 0, F.col("txt")).otherwise(
        F.concat(
            F.col("txt").substr(F.lit(1), F.col("_i") - 1),
            F.col("txt").substr(F.col("_i") + 1, F.length("txt")),
        )
    )
    return fr.withColumn("_v", F.xxhash64(variant)).drop("_i")


def fuzzy_match_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    max_distance: int = 2,
    block_cols: list | None = None,
) -> DataFrame:
    """Edit-distance entity matching with blocking: pairs of rows whose
    ``text_col`` values are within ``max_distance`` Levenshtein edits.

    All-pairs Levenshtein is O(n²·len²) — impossible at corpus scale.
    The classic entity-resolution shape keeps it tractable:

    - **block** on cheap exact keys first (``block_cols``, defaulting to
      the string's first token + a length band): candidate pairs come
      from a self equi-join *within blocks only*, so the quadratic term
      is per-block, not global. Two strings within k edits differ by at
      most k in length, so a length band of width > 2·max_distance never
      drops a true pair whose first token survived (first-token blocking
      is the recall/cost dial — swap in a phonetic key or q-gram
      blocking for fuzzier fronts);
    - **verify** with the built-in ``levenshtein`` (JVM codegen, no UDF)
      and keep pairs ≤ ``max_distance``. ``id_a < id_b`` dedupes the
      symmetric pair inside the join condition so the filter prunes
      during the join, not after.

    For ``max_distance == 1`` the candidate step upgrades from the
    within-block quadratic join to an EXACT deletion-neighborhood
    equi-join (the FastSS / SymSpell idea): each string emits itself
    plus every one-character-deletion variant (len+1 keys); two strings
    at Levenshtein distance ≤ 1 necessarily share a key (distance 0 →
    the string itself; substitution at i → both delete position i;
    insertion/deletion → the longer one's deletion equals the shorter
    string).  Candidates become a hash join on md5(variant) within the
    block instead of |block|² comparisons — the verify still runs, so
    hash collisions can only add candidates, never results.  At sf0.1
    this took the customer-name match from 49 s (22.5M levenshtein
    evaluations across 3000-row blocks) to under 2 s, and the shape is
    linear in corpus size (one shuffle on the variant key) instead of
    quadratic per block.

    Output: id_a, id_b, text_a, text_b, distance.
    """
    if block_cols is None:
        blocked = df.select(
            F.col(id_col).alias("id"),
            F.col(text_col).alias("txt"),
            F.split(F.col(text_col), " ")[0].alias("_b0"),
            F.floor(
                F.length(text_col) / F.lit(2 * max_distance + 1)
            ).alias("_b1"),
        )
        block_keys = ["_b0", "_b1"]
        # a pair within k edits differs by ≤ k < band width in length, so
        # its band indices differ by at most 1 — but in EITHER direction:
        # probe rows appear in their own band and both neighbors.
        probe = blocked.withColumn(
            "_b1", F.explode(F.array(F.col("_b1") - 1, F.col("_b1"), F.col("_b1") + 1))
        )
    else:
        blocked = df.select(
            F.col(id_col).alias("id"),
            F.col(text_col).alias("txt"),
            *[F.col(c) for c in block_cols],
        )
        block_keys = list(block_cols)
        probe = blocked
    if max_distance == 1:
        # The variant join ships only (id, block keys, _v) — txt, the
        # wide payload, re-attaches per side AFTER the pair dedup when
        # the relation is down to the few candidates (guide §2.3:
        # shuffle keys and metadata instead of payloads; r12).
        a = _deletion_variants(blocked).drop("txt").alias("a")
        b = _deletion_variants(probe).drop("txt").alias("b")
        cond = (F.col("a.id") < F.col("b.id")) & (
            F.col("a._v") == F.col("b._v")
        )
        for k in block_keys:
            cond = (F.col(f"a.{k}") == F.col(f"b.{k}")) & cond
        cands = (
            a.join(b, cond)
            .select(
                F.col("a.id").alias("id_a"),
                F.col("b.id").alias("id_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        ta = blocked.select(
            F.col("id").alias("id_a"), F.col("txt").alias("text_a")
        )
        tb = blocked.select(
            F.col("id").alias("id_b"), F.col("txt").alias("text_b")
        )
        return (
            cands.join(ta, "id_a")
            .join(tb, "id_b")
            .select("id_a", "id_b", "text_a", "text_b")
            .withColumn("distance", F.levenshtein("text_a", "text_b"))
            .filter(F.col("distance") <= max_distance)
        )
    a = blocked.alias("a")
    b = probe.alias("b")
    cond = (F.col("a.id") < F.col("b.id")) & (
        F.levenshtein(F.col("a.txt"), F.col("b.txt")) <= max_distance
    )
    for k in block_keys:
        cond = (F.col(f"a.{k}") == F.col(f"b.{k}")) & cond
    return (
        a.join(b, cond)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.txt").alias("text_a"),
            F.col("b.txt").alias("text_b"),
            F.levenshtein(F.col("a.txt"), F.col("b.txt")).alias("distance"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def prefix_filter_jaccard_pairs(
    shingles: DataFrame,
    *,
    threshold: float,
) -> DataFrame:
    """Exact Jaccard-threshold set-similarity self-join via PREFIX
    FILTERING (the SSJoin/PPJoin family: Chaudhuri/Ganti/Kaushik,
    ICDE'06; Xiao/Wang/Lin/Yu, WWW'08) — the scale path past
    :func:`ngram_jaccard_pairs`' df-cap heuristic: provably NO false
    negatives at any corpus size, and candidate volume that shrinks as
    the threshold rises instead of being fixed by a tuning knob.

    Principle: order each document's shingle set by a global total order
    (ascending document frequency, then lexicographic — rarest first).
    Two sets with ``J ≥ t`` must overlap in ≥ ``t/(1+t)·(|A|+|B|)``
    elements, so each set's first ``|X| − ⌈t·|X|⌉ + 1`` ordered elements
    (its *prefix*) must share at least one element with the other's.
    Candidates are therefore generated by an equi-join on prefix
    shingles only — the frequent (boilerplate) shingles sort LAST and
    almost never enter a prefix, so the quadratic blowup that forces
    ngram_jaccard_pairs' df-cap never happens, with zero recall loss.

    Plan: one df aggregate + join tags each posting with its global
    rank key; a per-doc window (partitioned by id — no global sort)
    numbers positions and takes the prefix; the prefix self-join (with
    the SSJoin LENGTH filter ``t·|A| ≤ |B| ≤ |A|/t`` folded in as an
    in-join conjunct) emits distinct candidate pairs. Verification
    joins each candidate to the two docs' SORTED SHINGLE ARRAYS (one
    row per doc, array bounded by doc length) and computes
    ``|A∩B| = size(array_intersect)`` row-locally in codegen —
    NOT by re-exploding posting lists, which would cost
    |candidates|·|doc| join rows. ``J = inter/(|A|+|B|−inter) ≥ t``
    filters. Everything is equi-join + hash aggregate + row-local
    array ops; nothing is all-pairs.

    Input: distinct (id, shingle). Output: id_a, id_b, jaccard.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    # The shingle relation feeds THREE subtrees (df counts, the tagged
    # prefix build, the verify-side set arrays); pin it so the
    # upstream shingling work runs once instead of per consumer (guide
    # §3.3/§5 — interleaved A/B at sf0.1: 4.66 → 4.13 s, −11%).
    shingles = shingles.localCheckpoint(eager=False)
    dfreq = shingles.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w_pos = Window.partitionBy("id").orderBy("df", "shingle")
    w_sz = Window.partitionBy("id")
    tagged = (
        shingles.join(dfreq, "shingle")
        .withColumn("pos", F.row_number().over(w_pos))
        .withColumn("sz", F.count(F.lit(1)).over(w_sz))
    )
    # The candidate join only needs EQUALITY of prefix shingles, and
    # every candidate is re-verified below with an exact
    # array_intersect over the true shingle arrays — so the join key
    # can be the 8-byte xxhash64 of the shingle instead of the shingle
    # string (guide §2.3 narrower types): a collision only ever ADDS a
    # candidate pair, which the exact verify then scores identically.
    prefix = tagged.filter(
        F.col("pos")
        <= F.col("sz") - F.ceil(F.lit(threshold) * F.col("sz")) + 1
    ).select("id", F.xxhash64("shingle").alias("_sh"), "sz", "pos")
    # length filter (SSJoin): J(A,B) >= t forces t·|A| <= |B| <= |A|/t,
    # so size-incompatible pairs are dropped inside the candidate join
    # (an in-join conjunct on the equi-key match, not a separate pass).
    # POSITIONAL filter (PPJoin, Xiao/Wang/Lin/Yu WWW'08): for the
    # FIRST shared element of a pair under the global order — obtained
    # as min(pos) per side, valid because any earlier shared element
    # would itself sit in both prefixes — the remaining overlap is at
    # most 1 + min(|A|−pa, |B|−pb), so pairs whose bound cannot reach
    # the required overlap t/(1+t)·(|A|+|B|) are pruned BEFORE the
    # verify join ever sees them. Provably no false negatives; the
    # 1e-6 slack only ever ADMITS borderline pairs (float-safe
    # direction). Measured at sf0.1: candidates 309,803 → far fewer
    # rows through the two set joins + array_intersect verify.
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a._sh") == F.col("b._sh"))
            & (F.col("a.id") < F.col("b.id"))
            & (
                F.col("b.sz") * F.lit(threshold) <= F.col("a.sz")
            )
            & (
                F.col("a.sz") * F.lit(threshold) <= F.col("b.sz")
            ),
        )
        .groupBy(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sz").alias("_sza"),
            F.col("b.sz").alias("_szb"),
        )
        .agg(
            F.min(F.col("a.pos")).alias("_pa"),
            F.min(F.col("b.pos")).alias("_pb"),
        )
        .filter(
            (
                F.lit(1.0)
                + F.least(
                    F.col("_sza") - F.col("_pa"),
                    F.col("_szb") - F.col("_pb"),
                )
            )
            * F.lit(1.0 + threshold)
            >= F.lit(threshold) * (F.col("_sza") + F.col("_szb"))
            - F.lit(1e-6)
        )
        .select("id_a", "id_b")
    )
    # per-doc shingle sets as arrays (order irrelevant — array_intersect
    # is set-semantics, and |A∩B| is order-insensitive)
    sets = shingles.groupBy("id").agg(
        F.collect_list("shingle").alias("toks"),
        F.count(F.lit(1)).alias("sz"),
    )
    inter = F.size(F.array_intersect(F.col("toks_a"), F.col("toks_b")))
    return (
        cand.join(
            sets.select(
                F.col("id").alias("id_a"),
                F.col("toks").alias("toks_a"),
                F.col("sz").alias("sz_a"),
            ),
            "id_a",
        )
        .join(
            sets.select(
                F.col("id").alias("id_b"),
                F.col("toks").alias("toks_b"),
                F.col("sz").alias("sz_b"),
            ),
            "id_b",
        )
        .withColumn(
            "jaccard",
            inter.cast("double")
            / (F.col("sz_a") + F.col("sz_b") - inter).cast("double"),
        )
        .filter(F.col("jaccard") >= F.lit(threshold))
        .select("id_a", "id_b", "jaccard")
    )


def canonical_docs(
    corpus: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Cluster-aware representative selection: union the near-dup pairs
    into clusters (``connected_components``) and keep ONE canonical
    document per cluster — the step that turns pair output into an
    actual deduplicated corpus. "A≈B, B≈C" yields one survivor, not two,
    and the survivor is chosen by merit (longest text, ties toward the
    smallest id), not by partition order.

    Scale shape: components via jump-free min-label propagation over
    the pairs only (the corpus never enters the loop), with pointer
    jumps as an escalation backstop for deep chains; the
    corpus joins the component map once (ids absent from every pair are
    their own singleton cluster via coalesce); the representative is an
    aggregate argmax (``max`` over ``struct(n_chars, -id)``) — map-side
    partials, no per-cluster window sort, so a giant boilerplate
    cluster costs one combine chain instead of one task's sort. The
    ``-id`` tie-break needs a numeric id (same rule and same remedy —
    pre-hash to bigint — as ``similarity.assign_cells``).

    Output per input document: doc_id, cluster_id (component min-label,
    or the doc's own id for singletons), cluster_size, rep_id, is_rep.
    Filtering ``is_rep`` materializes the deduplicated corpus;
    ``cluster_size > 1 AND NOT is_rep`` is the removal list.
    """
    id_type = dict(corpus.dtypes).get(id_col, "")
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"canonical_docs requires an integral id column; {id_col!r} is "
            f"{id_type!r} (hash string ids to a bigint first, e.g. "
            "functions.hashing.hash64)"
        )
    comps = connected_components(pairs, src_col=src_col, dst_col=dst_col)
    members = corpus.select(
        F.col(id_col).alias("id"),
        F.length(F.col(text_col)).cast("long").alias("n_chars"),
    ).join(
        comps.withColumnRenamed("component", "cluster_id"), "id", "left"
    ).withColumn("cluster_id", F.coalesce("cluster_id", F.col("id")))
    reps = members.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("cluster_size"),
        F.max(
            F.struct(F.col("n_chars"), (-F.col("id")).alias("neg_id"))
        ).alias("best"),
    ).select(
        "cluster_id",
        "cluster_size",
        (-F.col("best.neg_id")).alias("rep_id"),
    )
    return members.join(reps, "cluster_id").select(
        F.col("id").alias("doc_id"),
        "cluster_id",
        "cluster_size",
        "rep_id",
        (F.col("id") == F.col("rep_id")).alias("is_rep"),
    )


def linkage_weights(
    pairs: DataFrame,
    *,
    match_col: str,
    agreement_cols: list[str],
    smoothing: float = 0.5,
    round_to: int = 6,
) -> DataFrame:
    """Fellegi–Sunter field weights for probabilistic record linkage,
    estimated from LABELED candidate pairs: for every comparison field
    ``f``, ``m_f = P(field agrees | pair is a match)`` and
    ``u_f = P(field agrees | pair is a non-match)``, with the
    log-odds agreement weight ``log2(m/u)`` and disagreement weight
    ``log2((1−m)/(1−u))`` — the scoring table behind every
    Splink-style entity-resolution pipeline: sum the weights of a
    candidate pair's agreement pattern and threshold.  The natural
    companion to :func:`fuzzy_match_pairs`, which generates the
    candidate pairs these weights then score.

    One conditional hash aggregate computes every field's four counts
    together (the pair frame shuffles ZERO times — it's a global
    aggregate with map-side partials), then a row-local ``stack``
    unpivots to one row per field.  Probabilities are add-``smoothing``
    estimated — ``(hits + s)/(n + 2s)`` — so a field that agrees on
    every labeled match (finite sample, not a law) keeps finite
    weights; set ``smoothing=0`` for raw MLE (infinite/NULL-guarded
    weights become NULL).  A pair with a NULL agreement flag counts in
    neither numerator nor denominator for that field (NULL-safe
    comparisons are the caller's policy decision).

    Output per field: field, n_match, n_nonmatch, m, u, w_agree,
    w_disagree.
    """
    if not agreement_cols:
        raise ValueError("agreement_cols must not be empty")
    if smoothing < 0:
        raise ValueError(f"smoothing must be >= 0, got {smoothing}")
    lab = F.col(match_col).cast("boolean")
    aggs = []
    for c in agreement_cols:
        flag = F.col(c).cast("boolean")
        aggs += [
            F.sum(F.when(lab & flag.isNotNull(), 1).otherwise(0)).alias(
                f"{c}__nm"
            ),
            F.sum(F.when(lab & flag, 1).otherwise(0)).alias(f"{c}__am"),
            F.sum(F.when(~lab & flag.isNotNull(), 1).otherwise(0)).alias(
                f"{c}__nu"
            ),
            F.sum(F.when(~lab & flag, 1).otherwise(0)).alias(f"{c}__au"),
        ]
    row = pairs.filter(lab.isNotNull()).agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__nm, {c}__am, {c}__nu, {c}__au" for c in agreement_cols
    )
    long = row.selectExpr(
        f"stack({len(agreement_cols)}, {stack_args})"
        " as (field, _nm, _am, _nu, _au)"
    )
    s = F.lit(float(smoothing))
    m = (F.col("_am") + s) / (F.col("_nm") + 2 * s)
    u = (F.col("_au") + s) / (F.col("_nu") + 2 * s)
    valid_m = (F.col("_nm") + 2 * s) > 0
    valid_u = (F.col("_nu") + 2 * s) > 0
    w_agree = F.when(
        valid_m & valid_u & (u > 0), F.log2(m / u)
    )
    w_dis = F.when(
        valid_m & valid_u & (u < 1), F.log2((1 - m) / (1 - u))
    )
    return long.select(
        "field",
        F.col("_nm").cast("bigint").alias("n_match"),
        F.col("_nu").cast("bigint").alias("n_nonmatch"),
        F.round(F.when(valid_m, m), round_to).alias("m"),
        F.round(F.when(valid_u, u), round_to).alias("u"),
        F.round(w_agree, round_to).alias("w_agree"),
        F.round(w_dis, round_to).alias("w_disagree"),
    )


def score_linkage_pairs(
    pairs: DataFrame,
    weights: DataFrame,
    *,
    agreement_cols: list[str],
    round_to: int = 6,
) -> DataFrame:
    """Score candidate pairs with learned Fellegi–Sunter field weights
    (:func:`linkage_weights`): each pair's match weight is the sum over
    fields of ``w_agree`` where the field agrees and ``w_disagree``
    where it disagrees — the log₂-odds the pair is a match, thresholded
    downstream exactly like Splink's ``match_weight``.  Together the
    two functions are the train/apply halves of probabilistic entity
    resolution.

    The weights frame (one row per field — never more than a handful)
    collapses to ONE broadcast row via a conditional pivot, so scoring
    is a row-local expression over the pair frame: zero shuffles, zero
    joins against the corpus-sized side.  A NULL agreement flag
    contributes 0 (no evidence either way — the standard FS treatment);
    a NULL weight (boundary MLE, see ``linkage_weights``) also
    contributes 0, keeping scores finite.

    Output: every input pair column + match_weight.
    """
    if not agreement_cols:
        raise ValueError("agreement_cols must not be empty")
    wide = weights.agg(
        *[
            agg
            for c in agreement_cols
            for agg in (
                F.max(
                    F.when(F.col("field") == c, F.col("w_agree"))
                ).alias(f"_wa_{c}"),
                F.max(
                    F.when(F.col("field") == c, F.col("w_disagree"))
                ).alias(f"_wd_{c}"),
            )
        ]
    )
    terms = [
        F.coalesce(
            F.when(F.col(c).cast("boolean"), F.col(f"_wa_{c}")).when(
                ~F.col(c).cast("boolean"), F.col(f"_wd_{c}")
            ),
            F.lit(0.0),
        )
        for c in agreement_cols
    ]
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return (
        pairs.crossJoin(F.broadcast(wide))
        .withColumn("match_weight", F.round(total, round_to))
        .drop(
            *[f"_wa_{c}" for c in agreement_cols],
            *[f"_wd_{c}" for c in agreement_cols],
        )
    )


def containment_pairs(
    shingles: DataFrame,
    *,
    min_containment: float = 0.5,
    max_doc_freq: int | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Directed shingle containment ``C(a→b) = |A∩B| / |A|`` — the
    asymmetric cousin of Jaccard that catches *inclusion* duplicates
    (a quoted excerpt, a page embedded in a larger crawl record, a
    chunk re-packed into a longer doc) which symmetric Jaccard misses
    because the union is dominated by the bigger side.  This is the
    dedup signal behind "drop subsumed documents": high containment of
    a in b with |A| ≪ |B| means a adds nothing b doesn't already have.

    Same scale shape as :func:`ngram_jaccard_pairs`: the quadratic
    step is posting-list pair enumeration on the shingle key, bounded
    by the ``max_doc_freq`` stop-shingle cap (df > cap shingles are
    dropped before postings are collected — one boilerplate shingle is
    d² rows; containment is then measured over the capped sets on both
    numerator and denominator, so the metric stays internally
    consistent).  The shingle strings shuffle once into the postings
    aggregate instead of riding both sides of a self-equi-join (guide
    §2.3/§2.4).  Each undirected intersection is computed ONCE
    (``id < id`` pair orientation) and fanned into the two directed
    rows row-locally — the pair cost isn't paid twice for an
    asymmetric measure.  The shingle pin is the one
    :func:`ngram_jaccard_pairs` documents: read by the returned frame,
    reclaimed by the ContextCleaner, and not recomputable after
    executor loss.

    Output: id_a, id_b (direction: containment OF id_a IN id_b),
    size_a, inter, containment — pairs with C ≥ ``min_containment``.
    """
    if not 0 <= min_containment <= 1:
        raise ValueError(
            f"min_containment must be in [0, 1], got {min_containment}"
        )
    from knot_another_pipeline_spark.functions.postings import (
        sorted_pairs_from_postings,
    )

    # Same two-consumer shape as ngram_jaccard_pairs post-rewrite (df/
    # keep by shingle, sizes by id, no reusable self-join exchange):
    # pin the raw shingles so the tokenize chain runs once.
    if _PIN_SHINGLES:
        shingles = shingles.localCheckpoint(eager=False)
    if max_doc_freq is not None:
        keep = (
            shingles.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= max_doc_freq)
            .select("shingle")
        )
        shingles = shingles.join(keep, "shingle")
    sizes = shingles.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    posts = shingles.groupBy("shingle").agg(
        F.collect_list("id").alias("_ids")
    )
    inter = (
        sorted_pairs_from_postings(
            posts, items_col="_ids", a_col="u", b_col="v"
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    szu = sizes.select(F.col("id").alias("u"), F.col("sz").alias("sz_u"))
    szv = sizes.select(F.col("id").alias("v"), F.col("sz").alias("sz_v"))
    both = inter.join(szu, "u").join(szv, "v")
    directed = both.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("u").alias("id_a"),
                    F.col("v").alias("id_b"),
                    F.col("sz_u").alias("size_a"),
                    F.col("inter").alias("inter"),
                ),
                F.struct(
                    F.col("v").alias("id_a"),
                    F.col("u").alias("id_b"),
                    F.col("sz_v").alias("size_a"),
                    F.col("inter").alias("inter"),
                ),
            )
        ).alias("p")
    ).select("p.*")
    return (
        directed.withColumn(
            "containment",
            F.round(
                F.col("inter").cast("double") / F.col("size_a"), round_to
            ),
        )
        .filter(F.col("containment") >= F.lit(min_containment))
    )


def linkage_em_step(
    pairs: DataFrame,
    *,
    agreement_cols: list[str],
    m: dict[str, float],
    u: dict[str, float],
    p: float,
    round_to: int = 6,
) -> DataFrame:
    """One EM iteration of UNSUPERVISED Fellegi–Sunter parameter
    estimation (Winkler 1988; the fit loop inside Splink): given
    current per-field match/non-match agreement probabilities
    ``m_f``/``u_f`` and the match prior ``p``, the E-step scores every
    candidate pair's posterior match probability

        w = p·Π_f m_f^γ_f (1−m_f)^(1−γ_f)
            / (p·Π … + (1−p)·Π_f u_f^γ_f (1−u_f)^(1−γ_f))

    and the M-step re-estimates ``m_f = Σ w·γ_f / Σ w``,
    ``u_f = Σ (1−w)·γ_f / Σ (1−w)`` and ``p = Σ w / n`` — no labels
    needed, which is the realistic regime (:func:`linkage_weights` is
    the supervised shortcut when a labeled pair sample exists).  Same
    one-iteration-per-call contract as ``kmeans_step``/``hits_step``:
    the caller loops to convergence, each call is one pass.

    Scale shape: the E-step is a row-local product over ≤ a handful of
    fields (current params enter as literals — no join), and the
    M-step is ONE global conditional aggregate with map-side partials
    — the pair frame never shuffles.  A NULL agreement flag
    contributes factor 1 to both likelihoods (no evidence) and is
    excluded from that field's M-step numerator and denominator.

    Output per field: field, m_new, u_new, p_new (prior repeated on
    every row so the frame is self-contained for the next call),
    n_pairs — all probabilities rounded to ``round_to``.
    """
    if not agreement_cols:
        raise ValueError("agreement_cols must not be empty")
    if not 0 < p < 1:
        raise ValueError(f"p must be in (0, 1), got {p}")
    for c in agreement_cols:
        if c not in m or c not in u:
            raise ValueError(f"missing m/u parameter for field {c!r}")
        if not 0 < m[c] < 1 or not 0 < u[c] < 1:
            raise ValueError(
                f"m/u for {c!r} must be in (0, 1), got {m[c]}/{u[c]}"
            )
    like_m = F.lit(float(p))
    like_u = F.lit(1.0 - float(p))
    for c in agreement_cols:
        flag = F.col(c).cast("boolean")
        like_m = like_m * F.when(flag, F.lit(float(m[c]))).when(
            ~flag, F.lit(1.0 - float(m[c]))
        ).otherwise(F.lit(1.0))
        like_u = like_u * F.when(flag, F.lit(float(u[c]))).when(
            ~flag, F.lit(1.0 - float(u[c]))
        ).otherwise(F.lit(1.0))
    scored = pairs.withColumn("_w", like_m / (like_m + like_u))
    aggs = [
        F.sum("_w").alias("_sw"),
        F.count(F.lit(1)).alias("_n"),
    ]
    for c in agreement_cols:
        flag = F.col(c).cast("boolean")
        aggs += [
            F.sum(F.when(flag.isNotNull(), F.col("_w"))).alias(f"{c}__dw"),
            F.sum(F.when(flag, F.col("_w"))).alias(f"{c}__nw"),
            F.sum(F.when(flag.isNotNull(), 1 - F.col("_w"))).alias(
                f"{c}__du"
            ),
            F.sum(F.when(flag, 1 - F.col("_w"))).alias(f"{c}__nu"),
        ]
    row = scored.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__dw, {c}__nw, {c}__du, {c}__nu" for c in agreement_cols
    )
    long = row.selectExpr(
        "_sw",
        "_n",
        f"stack({len(agreement_cols)}, {stack_args})"
        " as (field, _dw, _nw, _du, _nu)",
    )
    return long.select(
        "field",
        F.round(
            F.when(F.col("_dw") > 0, F.col("_nw") / F.col("_dw")), round_to
        ).alias("m_new"),
        F.round(
            F.when(F.col("_du") > 0, F.col("_nu") / F.col("_du")), round_to
        ).alias("u_new"),
        F.round(
            F.when(F.col("_n") > 0, F.col("_sw") / F.col("_n")), round_to
        ).alias("p_new"),
        F.col("_n").cast("bigint").alias("n_pairs"),
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    *,
    id_col: str,
    sort_key_col: str,
    window: int = 5,
) -> DataFrame:
    """Sorted-neighborhood candidate generation (Hernández & Stolfo's
    SNM): order the corpus by a fuzzy sort key (normalized name, zip,
    phonetic code) and emit every pair within ``window`` positions —
    the classic blocking alternative for entity resolution when no
    clean equi-join block exists: near-duplicates sort near each other
    even when no field matches exactly.  Feeds the same downstream as
    blocked candidates: ``linkage_weights``/``score_linkage_pairs``.

    Scale shape: the global position comes from ``global_rank``
    (operators/relational.py) — range-partitioned prefix sums, NEVER a
    single-task ``row_number() OVER (ORDER BY …)``.  The neighborhood
    join is an equi-join on the rank block ``⌊rank/window⌋``: each row
    is emitted into its own block and the previous one (row-local
    2-element explode), so any pair within ``window`` positions shares
    a block — candidates = one partitioned equi-join with the distance
    filter folded in as an in-join conjunct, output exactly the
    O(N·window) SNM pair set, no post-dedup needed (the a-side is
    always the block's own copy).

    Output: id_a, id_b (rank order: a precedes b), rank_a, rank_b,
    rank_gap (1..window−1).
    """
    if window < 2:
        raise ValueError(f"window must be >= 2, got {window}")
    from knot_another_pipeline_spark.operators.relational import global_rank

    ranked = global_rank(
        df.select(
            F.col(id_col).alias("id"), F.col(sort_key_col).alias("key")
        ),
        [F.col("key").asc(), F.col("id").asc()],
        rank_col="rank",
    ).select("id", "rank")
    a = ranked.select(
        F.col("id").alias("id_a"),
        F.col("rank").alias("rank_a"),
        F.explode(
            F.array(
                F.floor(F.col("rank") / window),
                F.floor(F.col("rank") / window) + 1,
            )
        ).alias("blk"),
    )
    b = ranked.select(
        F.col("id").alias("id_b"),
        F.col("rank").alias("rank_b"),
        F.floor(F.col("rank") / window).alias("blk"),
    )
    return (
        a.join(
            b,
            (a["blk"] == b["blk"])
            & (F.col("rank_b") > F.col("rank_a"))
            & (F.col("rank_b") - F.col("rank_a") < window),
        )
        .select(
            "id_a",
            "id_b",
            "rank_a",
            "rank_b",
            (F.col("rank_b") - F.col("rank_a")).alias("rank_gap"),
        )
    )


def dedup_summary(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """Duplicate-group size histogram for the exact-dedup fingerprint —
    the one-page readout a dedup run ships with: how many groups of
    each size exist, what fraction of the corpus is redundant, and how
    big the worst pile is.  "group_size = 1" rows are the unique
    documents; everything above is removable mass
    (``n_docs − n_groups`` copies).

    Two chained hash aggregates — fingerprint → group sizes, then
    size → histogram — both with map-side partials; corpus-total
    figures ride along via a broadcast 1-row aggregate so every
    histogram row is self-describing (no driver-side stitching).

    Output per distinct group size: group_size, n_groups, n_docs_in
    (= size·groups), pct_of_corpus (rounded 6), with corpus-wide
    n_docs_total / n_groups_total / dup_rate repeated on each row.
    """
    fp = df.select(
        F.col(id_col).alias("id"),
        content_fingerprint(text_col).alias("fingerprint"),
    )
    groups = fp.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("group_size")
    )
    hist = groups.groupBy("group_size").agg(
        F.count(F.lit(1)).alias("n_groups")
    )
    totals = groups.agg(
        F.sum("group_size").alias("n_docs_total"),
        F.count(F.lit(1)).alias("n_groups_total"),
    )
    return (
        hist.crossJoin(F.broadcast(totals))
        .select(
            F.col("group_size").cast("bigint").alias("group_size"),
            F.col("n_groups").cast("bigint").alias("n_groups"),
            (F.col("group_size") * F.col("n_groups"))
            .cast("bigint")
            .alias("n_docs_in"),
            F.round(
                (F.col("group_size") * F.col("n_groups")).cast("double")
                / F.col("n_docs_total"),
                6,
            ).alias("pct_of_corpus"),
            F.col("n_docs_total").cast("bigint").alias("n_docs_total"),
            F.col("n_groups_total").cast("bigint").alias("n_groups_total"),
            F.round(
                (F.col("n_docs_total") - F.col("n_groups_total")).cast(
                    "double"
                )
                / F.col("n_docs_total"),
                6,
            ).alias("dup_rate"),
        )
    )


def tfidf_cosine_pairs(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    min_cosine: float = 0.5,
    max_doc_freq: int | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Exact TF-IDF cosine similarity self-join — the WEIGHTED text
    similarity tier between set-based Jaccard (every shared token
    counts equally) and embedding cosine (needs a model): rare shared
    terms dominate the score, so two docs sharing "mitochondrial
    genome" outrank two sharing "the and of".  Smoothed IDF
    ``ln((N+1)/(df+1)) + 1`` (same convention as ``doc_keywords``).

    Scale shape — the sparse-dot-product-as-postings-join classic:
    per-doc TF-IDF weights L2-normalize through one doc-key window,
    the quadratic step is the postings self-join ON THE TOKEN KEY
    (cosine = Σ over shared tokens of w_a·w_b — docs sharing nothing
    never meet), and ``max_doc_freq`` caps the join fanout exactly
    like ``ngram_jaccard_pairs``' stop-shingle dial — with the cap
    set, df is pre-counted and hot tokens drop BEFORE the join, and
    weights/norms are computed over the capped vocabulary so the
    metric stays internally consistent.  Production default: a few
    hundred (stopwords live in the df ≫ 10³ tail and carry ~zero IDF
    anyway).

    Output: id_a < id_b, n_shared_tokens, cosine (≥ ``min_cosine``,
    rounded).
    """
    if not 0 <= min_cosine <= 1:
        raise ValueError(f"min_cosine must be in [0, 1], got {min_cosine}")
    from knot_another_pipeline_spark.operators.text_analysis import _tokens

    tf = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(_tokens(F.col(text_col))).alias("token"),
        )
        .groupBy("id", "token")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    n_docs = df.select(F.col(id_col)).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    dfreq = tf.groupBy("token").agg(F.countDistinct("id").alias("df"))
    if max_doc_freq is not None:
        dfreq = dfreq.filter(F.col("df") <= max_doc_freq)
    weighted = (
        tf.join(dfreq, "token")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "w",
            F.col("tf")
            * (
                F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
                + 1.0
            ),
        )
    )
    wn = Window.partitionBy("id")
    normed = weighted.withColumn(
        "w", F.col("w") / F.sqrt(F.sum(F.col("w") * F.col("w")).over(wn))
    ).select("id", "token", "w")
    a = normed.alias("a")
    b = normed.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.token") == F.col("b.token"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared_tokens"),
            F.round(F.sum(F.col("a.w") * F.col("b.w")), round_to).alias(
                "cosine"
            ),
        )
    )
    return pairs.filter(F.col("cosine") >= F.lit(min_cosine))


def segment_dedup(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    segment_tokens: int = 8,
) -> DataFrame:
    """Cross-document EXACT segment-level dedup — the Lee et al. 2021
    "Deduplicating Training Data" move applied at segment granularity
    across documents (``repeated_spans`` is the within-document half):
    every repeated segment keeps only its FIRST occurrence in the
    global (doc id, position) order; the per-document readout is how
    much of each doc survives once earlier documents have claimed its
    segments.

    Segmentation matches :func:`~knot_another_pipeline_spark.operators.
    text_analysis.boilerplate_segments` (non-overlapping
    ``segment_tokens``-word windows of the whitespace tokenization).

    Scale shape: explode to (doc, position, md5(segment)) — only the
    digest shuffles — then ONE window on the digest key ordered by
    (doc, position) marks first occurrences, and ONE per-doc aggregate
    reads back kept/removed counts.  Identical to the exact-dedup
    plan, one level finer.

    Output per doc: doc id, n_segments, n_kept, n_removed,
    removed_ratio.
    """
    if segment_tokens < 1:
        raise ValueError(f"segment_tokens must be >= 1, got {segment_tokens}")
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.filter(
            F.split(F.trim(F.lower(F.col(text_col))), r"\s+"),
            lambda x: x != "",
        ).alias("_t"),
    ).filter(F.size("_t") > 0)
    n_seg = F.ceil(F.size("_t") / F.lit(segment_tokens)).cast("bigint")
    segs = toks.select(
        "doc",
        F.explode(F.sequence(F.lit(0), n_seg - 1)).alias("seg_idx"),
        "_t",
    ).select(
        "doc",
        "seg_idx",
        F.md5(
            F.array_join(
                F.slice(
                    F.col("_t"),
                    F.col("seg_idx").cast("int") * segment_tokens + 1,
                    segment_tokens,
                ),
                " ",
            )
        ).alias("_h"),
    )
    w = Window.partitionBy("_h").orderBy(
        F.col("doc").asc(), F.col("seg_idx").asc()
    )
    marked = segs.withColumn(
        "_keep", F.row_number().over(w) == 1
    )
    return (
        marked.groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(F.when(F.col("_keep"), 1).otherwise(0)).alias("n_kept"),
        )
        .select(
            "doc",
            F.col("n_segments").cast("bigint").alias("n_segments"),
            F.col("n_kept").cast("bigint").alias("n_kept"),
            (F.col("n_segments") - F.col("n_kept"))
            .cast("bigint")
            .alias("n_removed"),
            F.round(
                (F.col("n_segments") - F.col("n_kept"))
                / F.col("n_segments"),
                6,
            ).alias("removed_ratio"),
        )
    )


def substring_dedup(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int = 5,
) -> DataFrame:
    """Corpus-level EXACT substring dedup with first-copy RETENTION —
    the closest Spark-native analog of Lee et al. 2022's ExactSubstr
    dedup (``deduplicate-text-datasets``' suffix-array pass) without a
    distributed suffix array: every ``n``-token gram keeps its FIRST
    occurrence in global (doc id, position) order; every later
    occurrence is removable, and overlapping/adjacent removable gram
    positions in the same document merge into maximal REMOVAL spans.

    The third member of the exact span-dedup family, distinct from both
    siblings: :func:`~knot_another_pipeline_spark.operators.
    text_analysis.repeated_ngram_spans` lists shared spans in EVERY
    document that carries them (a masking list — removing it everywhere
    would delete all copies), and :func:`segment_dedup` keeps first
    copies but only at fixed NON-overlapping segment grain (a segment
    shifted by one token escapes it). This operator is keep-first at
    overlapping-gram grain: cutting the returned spans leaves at least
    one verbatim copy of every duplicated ``n``-gram in the corpus.

    Scale shape: grams are built row-local (slice + concat over the
    materialized token array — never re-tokenize inside the lambda) and
    shuffle ONCE on the 60-bit gram key for the keep-first window
    (``row_number`` ordered by (doc, pos) — a rank-then-filter
    streaming window, O(1) state per key, no Expand); span merging is
    the per-document gaps-and-islands window every other span operator
    uses. Hot boilerplate grams skew the gram-key partitions, but a
    running rank spills nothing. The 60-bit key can alias two grams
    (≈1e-10 at 10⁷ grams) — same documented tradeoff as
    ``repeated_ngram_spans``.

    Output: doc_id, span_start, span_end (inclusive token indices,
    0-based), span_tokens, n_grams (removable grams merged into the
    span). Documents with nothing to remove are absent.
    """
    if n < 2:
        raise ValueError(f"n must be >= 2, got {n}")
    from knot_another_pipeline_spark.operators.text_analysis import _tokens

    toked = df.select(
        F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("toks")
    )
    toks = F.col("toks")
    grams = toked.select(
        "id",
        F.posexplode(
            F.transform(
                F.slice(
                    toks, 1, F.greatest(F.size(toks) - (n - 1), F.lit(0))
                ),
                lambda _, i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
            )
        ).alias("pos", "gram"),
    ).select("id", "pos", hash64(F.col("gram")).alias("gh"))
    first_w = Window.partitionBy("gh").orderBy(
        F.col("id").asc(), F.col("pos").asc()
    )
    removable = (
        grams.withColumn("_rn", F.row_number().over(first_w))
        .filter(F.col("_rn") >= 2)
        .select("id", "pos")
    )
    prev_w = (
        Window.partitionBy("id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = (
        removable.withColumn(
            "prev_max_end", F.max(F.col("pos") + (n - 1)).over(prev_w)
        )
        .withColumn(
            "new_span",
            F.when(
                F.col("prev_max_end").isNull()
                | (F.col("pos") > F.col("prev_max_end") + 1),
                1,
            ).otherwise(0),
        )
        .withColumn(
            "span_id",
            F.sum("new_span").over(
                Window.partitionBy("id")
                .orderBy("pos")
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    return (
        islands.groupBy("id", "span_id")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + (n - 1)).alias("span_end"),
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
        )
        .select(
            F.col("id").alias("doc_id"),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
            "n_grams",
        )
    )


def blocking_quality(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    block_cols: list,
    max_distance: int = 1,
    round_to: int = 6,
) -> DataFrame:
    """Evaluate a blocking scheme for entity resolution with the two
    standard figures of merit (Christen, TKDE'12): **reduction ratio**
    (what fraction of the all-pairs comparison space the blocks prune)
    and **pairs completeness** (what fraction of TRUE matches survive
    into some block — blocking recall).  The go/no-go readout before a
    blocking key is trusted on a full corpus.

    Nothing quadratic is ever materialized:

    - the candidate-pair COUNT is ``Σ_b C(|b|, 2)`` — ONE hash
      aggregate over the block key, then a 1-row sum; the candidate
      pairs themselves are never formed;
    - the truth set (Levenshtein ≤ 1, the only distance this supports)
      comes from the exact-recall FastSS deletion-neighborhood
      equi-join (:func:`_deletion_variants`, linear in corpus size) —
      never an all-pairs verify;
    - each side's block keys RIDE THROUGH the variant join, so
      blocked-truth counting is row-local on the truth pairs — no
      join-back onto per-id block keys — and n_truth_pairs /
      n_truth_blocked come from ONE aggregate over the single truth
      subtree (guide §2.4: the two-aggregate form compiled the
      deletion join twice).

    Three 1-row aggregates crossJoined at the end; every shuffle is
    key-bounded. Output (one row): n_rows, n_candidate_pairs,
    n_truth_pairs, n_truth_blocked, reduction_ratio (NULL when n < 2),
    pairs_completeness (NULL when no truth pairs).
    """
    if max_distance != 1:
        raise ValueError(
            "blocking_quality supports max_distance=1 (exact-recall "
            f"deletion-neighborhood truth), got {max_distance}"
        )
    base = df.filter(
        F.col(id_col).isNotNull() & F.col(text_col).isNotNull()
    )
    for c in block_cols:
        base = base.filter(F.col(c).isNotNull())
    base = base.select(
        F.col(id_col).alias("id"),
        F.col(text_col).alias("txt"),
        *[F.col(c) for c in block_cols],
    )
    n_rows = base.agg(F.count(F.lit(1)).alias("n_rows"))
    cand = (
        base.groupBy(*block_cols)
        .agg(F.count(F.lit(1)).alias("_c"))
        .agg(
            F.coalesce(
                F.sum(F.col("_c") * (F.col("_c") - 1) / 2), F.lit(0.0)
            )
            .cast("bigint")
            .alias("n_candidate_pairs")
        )
    )
    # The variant self-join ships ONLY (id, _v) — 16 bytes/row — through
    # its exchanges; txt and the block keys re-attach per side AFTER the
    # pair dedup, when the relation is down to the few true candidates
    # (guide §2.3 "shuffle keys and metadata instead of payloads": the
    # former form carried txt + block cols through BOTH sides of the
    # ~len(txt)×-exploded variant exchange and the pair-dedup shuffle).
    va = _deletion_variants(base.select("id", "txt")).select(
        F.col("id").alias("id_a"), "_v"
    )
    vb = _deletion_variants(base.select("id", "txt")).select(
        F.col("id").alias("id_b"), "_v"
    )
    cand_pairs = (
        va.alias("a")
        .join(
            vb.alias("b"),
            (F.col("a._v") == F.col("b._v"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    pa = base.select(
        F.col("id").alias("id_a"),
        F.col("txt").alias("ta"),
        *[F.col(c).alias(f"_a_{c}") for c in block_cols],
    )
    pb = base.select(
        F.col("id").alias("id_b"),
        F.col("txt").alias("tb"),
        *[F.col(c).alias(f"_b_{c}") for c in block_cols],
    )
    truth = (
        cand_pairs.join(pa, "id_a")
        .join(pb, "id_b")
        .filter(F.levenshtein("ta", "tb") <= max_distance)
    )
    same_block = F.lit(True)
    for c in block_cols:
        same_block = same_block & (
            F.col(f"_a_{c}") == F.col(f"_b_{c}")
        )
    t_counts = truth.agg(
        F.count(F.lit(1)).alias("n_truth_pairs"),
        F.coalesce(F.sum(same_block.cast("bigint")), F.lit(0)).alias(
            "n_truth_blocked"
        ),
    )
    return (
        n_rows.crossJoin(F.broadcast(cand))
        .crossJoin(F.broadcast(t_counts))
        .select(
            F.col("n_rows").cast("bigint").alias("n_rows"),
            "n_candidate_pairs",
            F.col("n_truth_pairs").cast("bigint").alias("n_truth_pairs"),
            F.col("n_truth_blocked").cast("bigint").alias(
                "n_truth_blocked"
            ),
            F.round(
                F.when(
                    F.col("n_rows") >= 2,
                    1.0
                    - F.col("n_candidate_pairs")
                    / (F.col("n_rows") * (F.col("n_rows") - 1) / 2.0),
                ),
                round_to,
            ).alias("reduction_ratio"),
            F.round(
                F.col("n_truth_blocked")
                / F.nullif(F.col("n_truth_pairs"), F.lit(0)),
                round_to,
            ).alias("pairs_completeness"),
        )
    )


def split_contamination(
    pairs: DataFrame,
    assignments: DataFrame,
    *,
    id_col: str = "doc_id",
    split_col: str = "split",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Split-contamination matrix: how many near-duplicate pairs CROSS
    split boundaries — the train/test-leak audit every pipeline should
    run after sharding (a near-dup of a test document sitting in train
    is memorization fuel that whole-document dedup inside each split
    never sees).

    Shape: the pair list joins the assignment table twice on the id
    key — two ordinary shuffled equi-joins (the assignment table is
    corpus-sized, NEVER broadcast), then one tiny aggregate over the
    split-pair matrix.  The split pair is canonicalized with
    least/greatest so (train, test) and (test, train) land in one cell
    regardless of pair orientation.

    Output: split_a <= split_b (lexicographic), n_pairs. Off-diagonal
    rows are the leaks.
    """
    a = assignments.select(
        F.col(id_col).alias(src_col), F.col(split_col).alias("_sa")
    )
    b = assignments.select(
        F.col(id_col).alias(dst_col), F.col(split_col).alias("_sb")
    )
    return (
        pairs.select(src_col, dst_col)
        .join(a, src_col)
        .join(b, dst_col)
        .groupBy(
            F.least("_sa", "_sb").alias("split_a"),
            F.greatest("_sa", "_sb").alias("split_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .orderBy("split_a", "split_b")
    )


def remove_spans(
    corpus: DataFrame,
    spans: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply a removal-span list (:func:`substring_dedup`'s output — or
    any (doc_id, span_start, span_end) token ranges) to the corpus and
    return the CLEANED text — the execute half of exact substring
    dedup, after which every duplicated gram survives exactly once
    corpus-wide.

    Text is rebuilt from the canonical whitespace tokenization (the
    same lowercase/trim normalization the span positions were computed
    over), tokens inside any span dropped, survivors re-joined with
    single spaces.  Documents with no spans pass through normalized;
    fully-removed and empty documents yield an empty string, never a
    missing row.

    Scale shape: spans collapse to one array per doc (span counts are
    small by construction — they are maximal merged ranges), ONE
    doc-key join against the corpus, and the removal itself is a
    row-local HOF filter (token index ∉ any range) — no explode of the
    token stream, no per-token shuffle.

    Output: doc id, clean_text, n_tokens (kept), n_removed.
    """
    from knot_another_pipeline_spark.operators.text_analysis import _tokens

    sp = spans.groupBy(F.col(id_col).alias("id")).agg(
        F.collect_list(
            F.struct(
                F.col("span_start").cast("long").alias("s"),
                F.col("span_end").cast("long").alias("e"),
            )
        ).alias("sp")
    )
    toked = corpus.select(
        F.col(id_col).alias("id"), _tokens(F.col(text_col)).alias("toks")
    ).join(sp, "id", "left")
    ranges = F.coalesce(
        F.col("sp"),
        F.array().cast("array<struct<s:bigint,e:bigint>>"),
    )
    indexed = F.transform(
        F.col("toks"),
        lambda t, i: F.struct(t.alias("t"), i.cast("long").alias("i")),
    )
    with_ranges = toked.select("id", indexed.alias("ti"), ranges.alias("rg"))
    rg = F.col("rg")
    kept = F.filter(
        F.col("ti"),
        lambda x: ~F.exists(
            rg, lambda r: (x["i"] >= r["s"]) & (x["i"] <= r["e"])
        ),
    )
    # materialize the filtered array once — it is consumed three times
    # below, and an inline HOF expression would re-evaluate per use
    with_kept = with_ranges.select(
        "id", F.size("ti").alias("_n_all"), kept.alias("_kept")
    )
    return with_kept.select(
        F.col("id").alias(id_col),
        F.array_join(
            F.transform(F.col("_kept"), lambda x: x["t"]), " "
        ).alias("clean_text"),
        F.size("_kept").cast("bigint").alias("n_tokens"),
        (F.col("_n_all") - F.size("_kept")).cast("bigint").alias(
            "n_removed"
        ),
    )


def lsh_tuning(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    threshold: float,
    grid: list[tuple[int, int]] | None = None,
    sample_pct: int = 20,
    max_sample_docs: int | None = None,
    shingle_n: int = 3,
    max_doc_freq: int | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Data-driven MinHash banding selection — pick (bands, rows) from
    THIS corpus's similarity distribution instead of the textbook
    S-curve sketch: on a deterministic hash-sample of documents,
    compute the exact pairwise Jaccard (via
    :func:`ngram_jaccard_pairs`) and score every candidate (b, r) by
    its expected behavior, ``P(candidate | s) = 1 − (1 − s^r)^b``:

    - ``est_recall``  — mean candidate probability over the true
      pairs (s ≥ ``threshold``): the fraction of real near-dups this
      banding would surface;
    - ``est_fp_candidates`` — expected candidate count from
      below-threshold pairs: the verification load the banding buys;
    - ``candidate_share`` — expected candidates over ALL sampled
      pairs C(n,2) (zero-overlap pairs contribute exactly 0, so the
      shingle join's sparsity is not an approximation).

    Scale shape: the sample membership is ``hash64`` % 100 < pct
    (reproducible — the same arithmetic the oracle replays), but a
    pct-of-corpus sample still grows LINEARLY with the corpus and its
    exact-Jaccard leg quadratically (VERDICT r9 task #2), so
    ``max_sample_docs`` adds the absolute cap: keep the N sampled docs
    with the smallest (hash64, id) — a distributed top-N
    (TakeOrderedAndProject: per-partition heads, single merge of
    N·partitions rows), never a global sort, and just as replayable
    (``ORDER BY hash, id LIMIT N``).  With the cap set, the
    exact-Jaccard join is O(cap²) worst-case regardless of corpus
    size; the (b, r) grid is a broadcast crossJoin over the bounded
    pair table — |grid| rows out.  The full corpus is never paired.

    Output per candidate: bands, rows_per_band, sig_size,
    n_docs_sampled, n_true_pairs, est_recall (NULL when the sample
    has no true pairs), est_fp_candidates, candidate_share.
    """
    from knot_another_pipeline_spark.functions.hashing import hash64

    if not (0 < sample_pct <= 100):
        raise ValueError(f"sample_pct must be in (0, 100], got {sample_pct}")
    if not (0 < threshold <= 1):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    gd = grid if grid is not None else [
        (2, 8), (4, 4), (8, 2), (4, 8), (8, 4), (16, 4)
    ]
    if not gd or any(b < 1 or r < 1 for b, r in gd):
        raise ValueError(f"grid must be positive (bands, rows), got {gd}")
    if max_sample_docs is not None and max_sample_docs < 2:
        raise ValueError(
            f"max_sample_docs must be >= 2, got {max_sample_docs}"
        )
    spark = df.sparkSession
    sample = df.filter(
        F.pmod(hash64(F.col(id_col), seed=1), F.lit(100)) < sample_pct
    )
    if max_sample_docs is not None:
        sample = sample.orderBy(
            hash64(F.col(id_col), seed=1).asc(), F.col(id_col).asc()
        ).limit(int(max_sample_docs))
    sh = shingle_table(sample, id_col=id_col, text_col=text_col, n=shingle_n)
    pairs = ngram_jaccard_pairs(
        sh, min_jaccard=0.0, max_doc_freq=max_doc_freq
    )
    nd = sh.agg(
        F.countDistinct("id").cast("double").alias("_nd")
    )
    grid_df = spark.createDataFrame(
        [(int(b), int(r)) for b, r in gd], "bands long, rows_per_band long"
    )
    prob = 1.0 - F.pow(
        1.0 - F.pow(F.col("jaccard"), F.col("rows_per_band")),
        F.col("bands"),
    )
    is_true = F.col("jaccard") >= F.lit(float(threshold))
    scored = (
        pairs.crossJoin(F.broadcast(grid_df))
        .groupBy("bands", "rows_per_band")
        .agg(
            F.sum(F.when(is_true, 1).otherwise(0))
            .cast("long")
            .alias("n_true_pairs"),
            F.sum(F.when(is_true, prob).otherwise(0.0)).alias("_et"),
            F.sum(F.when(~is_true, prob).otherwise(0.0)).alias("_ef"),
        )
        .crossJoin(F.broadcast(nd))
    )
    total_pairs = F.col("_nd") * (F.col("_nd") - 1) / 2.0
    return scored.select(
        "bands",
        "rows_per_band",
        (F.col("bands") * F.col("rows_per_band"))
        .cast("bigint")
        .alias("sig_size"),
        F.col("_nd").cast("bigint").alias("n_docs_sampled"),
        "n_true_pairs",
        F.round(
            F.when(
                F.col("n_true_pairs") > 0,
                F.col("_et") / F.col("n_true_pairs"),
            ),
            round_to,
        ).alias("est_recall"),
        F.round(F.col("_ef"), round_to).alias("est_fp_candidates"),
        F.round(
            F.when(
                total_pairs > 0,
                (F.col("_et") + F.col("_ef")) / total_pairs,
            ),
            round_to,
        ).alias("candidate_share"),
    ).orderBy("bands", "rows_per_band")
