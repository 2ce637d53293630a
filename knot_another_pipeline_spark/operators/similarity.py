"""Similarity search over embedding columns (array<float>).

Training-data-pipeline extension (BASELINE.json north star). Two tiers:

- :func:`cosine_topk` — exact brute-force top-k. The query side is small
  and gets broadcast; the corpus streams through in parallel, so the cost
  is one corpus scan per batch of queries — the right baseline, and at
  100 TB still viable when queries ≪ corpus because no shuffle of the
  corpus ever happens.
- :func:`lsh_bucket_topk` — random-hyperplane LSH variant: both sides map
  to sign-bit bucket keys; candidate pairs come from an equi-join on the
  bucket, so the corpus never cross-joins. Hyperplanes are derived
  deterministically from md5, so results are reproducible run-to-run
  (and the bucketing is expressible in the differential oracle).

Vector math is built-in higher-order functions (``zip_with`` +
``aggregate``) — JVM-side, no Python in the loop. The fold is sequential
over the array, so the floating-point sum order is deterministic —
differential engines computing the same left-to-right double fold match
bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from knot_another_pipeline_spark.functions.hashing import hash64


def _dot_fold_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * "
        f"CAST(y AS DOUBLE)), 0.0D, (acc, v) -> acc + v)"
    )


def dot(
    a: Column | str, b: Column | str, *, unroll_dim: int | None = None
) -> Column:
    """Σ aᵢ·bᵢ as a left-to-right double fold (deterministic order).

    ``unroll_dim`` (requires both inputs as COLUMN NAME strings): when
    the caller KNOWS the vector length, the fold is unrolled into an
    explicit add-chain of ``getItem`` terms guarded by a runtime size
    check that falls back to the fold for rows of any other length —
    semantics never depend on the hint being right. The chain starts
    from the same ``0.0`` and adds in the same left-to-right order, so
    the IEEE result is bit-identical to the fold. Measured on the
    124k-pair confirm shape at sf0.1: fold 0.63 s, guarded chain
    0.43 s (filter shape 0.60 → 0.28 s); the UNguarded chain is
    SLOWER than the fold (2.0 s) — keep the guard. The whole guarded
    expression is built as ONE ``F.expr`` parse because constructing
    the 64-term chain through py4j Column operators costs ~0.4 s of
    driver time per call site (measured r12), which had erased the
    execution win.
    """
    if unroll_dim and unroll_dim >= 1:
        if not (isinstance(a, str) and isinstance(b, str)):
            raise TypeError(
                "dot(unroll_dim=...) requires column-name strings so the "
                "chain builds as one SQL parse; pass Columns only on the "
                "fold path"
            )
        chain = "0.0D" + "".join(
            f" + CAST({a}[{i}] AS DOUBLE) * CAST({b}[{i}] AS DOUBLE)"
            for i in range(unroll_dim)
        )
        return F.expr(
            f"CASE WHEN size({a}) = {unroll_dim} "
            f"AND size({b}) = {unroll_dim} THEN {chain} "
            f"ELSE {_dot_fold_sql(a, b)} END"
        )
    if isinstance(a, str):
        a = F.col(a)
    if isinstance(b, str):
        b = F.col(b)
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column | str, *, unroll_dim: int | None = None) -> Column:
    """√Σ aᵢ² — same fold/unroll contract as :func:`dot`."""
    if unroll_dim and unroll_dim >= 1:
        if not isinstance(a, str):
            raise TypeError(
                "l2_norm(unroll_dim=...) requires a column-name string; "
                "pass a Column only on the fold path"
            )
        chain = "0.0D" + "".join(
            f" + CAST({a}[{i}] AS DOUBLE) * CAST({a}[{i}] AS DOUBLE)"
            for i in range(unroll_dim)
        )
        fold = (
            f"aggregate({a}, 0.0D, (acc, v) -> acc + CAST(v AS DOUBLE) * "
            f"CAST(v AS DOUBLE))"
        )
        return F.sqrt(
            F.expr(
                f"CASE WHEN size({a}) = {unroll_dim} THEN {chain} "
                f"ELSE {fold} END"
            )
        )
    if isinstance(a, str):
        a = F.col(a)
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


#: Default ceiling for the exact (brute-force) feeders below.  The
#: exact paths cost O(queries × corpus) pair evaluations; past ~1M
#: corpus rows that is never the right plan — the LSH/IVF feeders
#: compute the same neighbor tables with an equi-join.  Callers doing a
#: deliberate exact run at larger sizes must raise the ceiling
#: explicitly; the guard makes the docstrings' scale story enforced
#: behavior instead of prose (VERDICT r9 task #5 / r10 task #4).
MAX_EXACT_ROWS = 1_000_000


def _guard_exact_feeder(
    df: DataFrame, max_exact_rows: int | None, op: str, scale_path: str
) -> None:
    """Refuse an exact all-pairs feeder above ``max_exact_rows`` rows.

    The count is bounded (``limit(n+1).count()``) so the guard costs at
    most one scan of n+1 rows, never a full count of a 100 TB table.
    Raises ``ValueError`` naming the scale-path swap rather than
    silently switching engines: the exact and approximate feeders have
    different recall contracts, and a silent swap would make oracle
    hashes depend on data volume.
    """
    if max_exact_rows is None:
        return
    n = df.limit(max_exact_rows + 1).count()
    if n > max_exact_rows:
        raise ValueError(
            f"{op}: exact all-pairs feeder refused at >{max_exact_rows} "
            f"input rows. At this scale compute the neighbor table with "
            f"{scale_path} and reduce the same downstream formula, or "
            f"pass max_exact_rows= a higher ceiling (or None) for a "
            f"deliberate exact run."
        )


def cosine_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    arrow: bool = False,
    max_exact_rows: int | None = MAX_EXACT_ROWS,
    fan_out: bool = False,
) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector.

    Two engines, same exact semantics (self-matches excluded, ties
    broken by neighbor id):

    - ``arrow=False`` (default): broadcast-join + left-to-right double
      fold — bit-identical to the DuckDB ``list_dot_product`` oracle,
      the right choice when cos_sim VALUES are part of the output
      contract (``knn_bruteforce`` rounds them to 6 decimals).
    - ``arrow=True``: one numpy matmul per Arrow batch of the corpus
      (queries collected once to a q×d matrix — the queries side is
      broadcast-small by contract either way), per-(batch, query)
      top-k prune via argpartition, then one global window over the
      ≤ q·k·n_batches candidates.  Every global top-k neighbor beats
      its own batch's k-th best, so the prune is lossless.  BLAS
      throughput instead of an interpreted per-row fold — the same
      dense-linear-algebra exception :func:`attach_band_keys`
      documents — with the same float caveat: the matmul may
      reassociate sums, so ranks could flip only across a gap smaller
      than ~1e-13·‖v‖; measured rank-boundary margins on the driver
      fixtures are ≥ 8.7e-6, seven orders above it.  Use for
      rank-consuming pipelines (``knn_label_noise``); keep the fold
      when emitting cos_sim values the differential oracle re-derives.

    Output: query_id, neighbor_id, cos_sim, rank.

    Scale guard: the corpus side is counted (bounded scan) and the call
    refuses above ``max_exact_rows`` (default 1M), naming
    :func:`lsh_bucket_topk` / :func:`ivf_topk` as the scale path — the
    brute-force cost is queries × corpus and must be opted into
    explicitly past that size.
    """
    _guard_exact_feeder(
        corpus,
        max_exact_rows,
        "cosine_topk",
        "lsh_bucket_topk / ivf_topk (same k)",
    )
    if arrow:
        return _cosine_topk_arrow(
            queries, corpus, id_col=id_col, vec_col=vec_col, k=k
        )
    # null-vector queries yield no rows (same rule in both engines — a
    # "neighbor list" with null similarity is never meaningful)
    q = queries.filter(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        l2_norm(F.col(vec_col)).alias("qn"),
    )
    # Corpus side carries the per-query interpreted dot folds —
    # parallelize a one-row-group scan (guide §2.5; no-op at scale).
    # Caller-gated: the repartition costs one shuffle, a win only when
    # queries×corpus work is large (hybrid_search −20%; knn/ann_recall
    # measured neutral-to-worse and keep the default).
    from knot_another_pipeline_spark.functions.partitioning import (
        fan_out_small_scan,
    )

    _corpus = corpus.filter(F.col(vec_col).isNotNull())
    c = (fan_out_small_scan(_corpus) if fan_out else _corpus).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("cv"),
        l2_norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos_sim", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _cosine_topk_arrow(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    k: int,
) -> DataFrame:
    """Arrow/BLAS engine behind ``cosine_topk(..., arrow=True)``."""
    import numpy as np
    from pyspark.sql import types as T

    q_rows = (
        queries.select(
            F.col(id_col).cast("long").alias("query_id"),
            F.col(vec_col).alias("qv"),
        )
        .filter(F.col("qv").isNotNull())
        .collect()
    )
    if not q_rows:
        spark = queries.sparkSession
        return spark.createDataFrame(
            [],
            "query_id long, neighbor_id long, cos_sim double, rank int",
        )
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    qm = np.array([np.asarray(r["qv"], dtype=np.float64) for r in q_rows])
    qm = qm / np.linalg.norm(qm, axis=1, keepdims=True)
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, qm))

    cand_schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("neighbor_id", T.LongType()),
            T.StructField("cos_sim", T.DoubleType()),
        ]
    )

    def score_batches(it):
        import pandas as pd

        ids, Q = bq.value
        nq = len(ids)
        for pdf in it:
            mask = pdf[vec_col].notna()
            if not mask.any():
                continue
            c_ids = pdf.loc[mask, id_col].to_numpy(dtype=np.int64)
            C = np.array(
                [
                    np.asarray(v, dtype=np.float64)
                    for v in pdf.loc[mask, vec_col]
                ]
            )
            C = C / np.linalg.norm(C, axis=1, keepdims=True)
            S = Q @ C.T  # nq × batch
            # self-match exclusion: push own id below any real score
            S[ids[:, None] == c_ids[None, :]] = -np.inf
            kk = min(k, S.shape[1])
            top = np.argpartition(-S, kk - 1, axis=1)[:, :kk]
            rows_q = np.repeat(np.arange(nq), kk)
            cols = top.ravel()
            sims = S[rows_q, cols]
            keep = np.isfinite(sims)
            yield pd.DataFrame(
                {
                    "query_id": ids[rows_q[keep]],
                    "neighbor_id": c_ids[cols[keep]],
                    "cos_sim": sims[keep],
                }
            )

    cand = corpus.select(
        F.col(id_col).cast("long").alias(id_col), F.col(vec_col).alias(vec_col)
    ).mapInPandas(score_batches, cand_schema)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def _hyperplane(plane_id: int, dim: int) -> list[float]:
    """Deterministic pseudo-random ±1 hyperplane from md5 — computed on
    the driver once (tiny), broadcast as a literal array."""
    import hashlib

    comps = []
    for d in range(dim):
        h = hashlib.md5(f"{plane_id}:{d}".encode()).hexdigest()
        comps.append(1.0 if int(h[:8], 16) % 2 == 0 else -1.0)
    return comps


def hyperplane_band_keys(
    vec: Column, *, dim: int, bands: int = 4, rows_per_band: int = 8
) -> list[Column]:
    """One bucket key per band, bands × rows_per_band hyperplanes total.

    Band ``b``'s key packs the sign bits of planes ``b·R … b·R+R-1``
    (first plane is the most significant bit). Two vectors collide when
    *every* sign in at least one band agrees — the classic bands×rows
    trade: per-band blocking factor is ``2^R`` (uniformly ~N/2^R
    candidates per vector per band) while recall decays only as
    ``1-(1-s^R)^B`` for sign-agreement rate ``s``. Scaling up means
    raising ``rows_per_band`` (defaults: 4×8 → 256 buckets/band;
    at ~10⁹ vectors use R=16 → 65 536 buckets/band, with B=4-8 bands to
    buy recall back). Same banding shape as
    ``dedup.simhash_near_dup_pairs`` / MinHash ``lsh_candidate_pairs``.

    Planes are deterministic md5-derived ±1 vectors (:func:`_hyperplane`)
    so the whole blocking reproduces in the DuckDB differential oracle.

    This column-expression form folds every plane into one projection;
    prefer :func:`attach_band_keys` on the hot path — same math, but
    staged so whole-stage codegen actually compiles it (see there).
    """
    keys = []
    for b in range(bands):
        key = F.lit(0).cast("long")
        for r in range(rows_per_band):
            plane = F.array(
                *[F.lit(v) for v in _hyperplane(b * rows_per_band + r, dim)]
            )
            bit = F.when(dot(vec, plane) > 0, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            key = key * 2 + bit
        keys.append(key)
    return keys


def attach_band_keys(
    df: DataFrame,
    *,
    vec_col: str,
    dim: int,
    bands: int = 4,
    rows_per_band: int = 8,
    band_col: str = "band",
    bucket_col: str = "bucket",
) -> DataFrame:
    """Explode ``df`` to one row per (row, band) with the hyperplane
    bucket keys of :func:`hyperplane_band_keys` — same planes, same
    bit packing, but the bands·rows_per_band plane dots run as ONE
    numpy matmul per Arrow batch inside a pandas UDF.

    Why not column expressions, given the UDF-is-slow-path rule: this
    is dense linear algebra (N×dim @ dim×planes), the one workload
    where the expression engine has no good execution. The
    ``aggregate``/``zip_with`` fold is evaluated interpreted per row
    (~6.6 s to band the sf0.1 corpus); unrolling it into explicit
    add-chains overflows Janino's 64 KB method limit (one fused
    bands×rows×dim expression, or even one projection of 32 dim-term
    chains, cannot be split mid-expression) and silently falls back
    to interpretation, slower still. The Arrow-batched matmul is the
    shape that holds at 10⁹ vectors — BLAS throughput, payload column
    never shuffled, output is just (band, bucket) per row.

    Float caveat: the matmul may reassociate the per-plane sums, so a
    dot within ~1e-13·‖v‖ of zero could round to the other side of
    the sign threshold than a sequential fold would. Candidates are
    always exact-verified downstream, and the differential oracles
    (which fold sequentially) have never observed a flip — the margin
    distribution keeps the event measure-zero in practice.
    """
    import numpy as np
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    n_planes = bands * rows_per_band
    signs = np.array(
        [_hyperplane(j, dim) for j in range(n_planes)], dtype=np.float64
    ).T  # dim × planes
    weights = (1 << np.arange(rows_per_band - 1, -1, -1)).astype(np.int64)

    @pandas_udf(T.ArrayType(T.LongType()))
    def band_keys(vecs):  # pd.Series of list<float> -> pd.Series of list<long>
        import pandas as pd

        out = []
        mask = vecs.notna()
        if mask.any():
            rows = [np.asarray(v, dtype=np.float64) for v in vecs[mask]]
            bad = {r.shape for r in rows if r.shape != (dim,)}
            if bad:
                raise ValueError(
                    f"attach_band_keys(dim={dim}): vector(s) with shape "
                    f"{sorted(bad)} in batch — every vector must have "
                    f"exactly {dim} components"
                )
            mat = np.asarray(rows)
            # NOT(dot <= 0) rather than (dot > 0): SQL comparisons order
            # NaN greater than every value, so a NaN dot folds to bit 1
            # in the column/oracle path — mirror that here.
            bits = ~((mat @ signs) <= 0)  # N × planes
            keys = (
                bits.reshape(-1, bands, rows_per_band).astype(np.int64)
                * weights
            ).sum(axis=2)  # N × bands
            key_iter = iter(keys)
            for ok in mask:
                out.append(next(key_iter).tolist() if ok else None)
        else:
            out = [None] * len(vecs)
        return pd.Series(out)

    return df.select(
        *df.columns,
        F.posexplode(band_keys(F.col(vec_col))).alias(band_col, bucket_col),
    )


def lsh_bucket_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bands: int = 4,
    rows_per_band: int = 8,
    k: int = 5,
) -> DataFrame:
    """Approximate top-k via banded random-hyperplane LSH: each side
    posexplodes its ``bands`` bucket keys, candidates come from the
    (band, bucket) equi-join, duplicates across bands collapse once, and
    exact cosine re-ranks the candidates. Recall < 1 by design; the
    corpus never cross-joins — per query the candidate set is
    ~``bands·N/2^rows_per_band`` for near-uniform buckets (see
    :func:`hyperplane_band_keys` for the scale dial)."""
    q = attach_band_keys(
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("qv"),
            l2_norm(F.col(vec_col)).alias("qn"),
        ),
        vec_col="qv", dim=dim, bands=bands, rows_per_band=rows_per_band,
    )
    c = attach_band_keys(
        corpus.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("cv"),
            l2_norm(F.col(vec_col)).alias("cn"),
        ),
        vec_col="cv", dim=dim, bands=bands, rows_per_band=rows_per_band,
    )
    cands = (
        q.join(c, ["band", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "qv", "qn", "neighbor_id", "cv", "cn")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    scored = cands.withColumn(
        "cos_sim", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def deterministic_centroids(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 64,
) -> DataFrame:
    """Fixed-size deterministic centroid set: the ``num_centroids`` corpus
    vectors ranking lowest by ``md5(id)`` — a hash-sample reproducible in
    the differential oracle, no training step, size independent of corpus
    size so the broadcast stays bounded at any scale. Spark executes the
    orderBy+limit as a per-partition top-C reduce (TakeOrdered), one
    corpus pass. A production deployment swaps in k-means-trained
    centroids of the same (cent_id, centv, centn) shape."""
    return (
        corpus.orderBy(F.md5(F.col(id_col).cast("string")))
        .limit(num_centroids)
        .select(
            F.col(id_col).alias("cent_id"),
            F.col(vec_col).alias("centv"),
            l2_norm(F.col(vec_col)).alias("centn"),
        )
    )


def assign_cells(
    corpus: DataFrame,
    cents: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    unroll_dim: int | None = None,
    fan_out: bool = False,
) -> DataFrame:
    """Voronoi cell assignment: each corpus vector → its max-cosine
    centroid (ties toward the lowest cent_id).

    The broadcast cross product is reduced by an *aggregate* argmax
    (``max`` over ``struct(cos, -cent_id)``) — partial aggregation
    collapses the C-per-row expansion map-side, so the one shuffle
    carries a single row per corpus vector (a window/row_number
    formulation would shuffle and sort all C× rows).

    Requires a **numeric** id column: the tie-break negates ``cent_id``
    inside the struct-max (the only struct-ordering trick that stays in
    codegen); a string id would cast to NULL and silently assign every
    row a NULL cell, so it is rejected here instead.
    Output: id, v, n (precomputed norm), cell.
    """
    id_type = dict(corpus.dtypes).get(id_col, "")
    if id_type not in ("tinyint", "smallint", "int", "bigint", "float", "double"):
        raise TypeError(
            f"assign_cells requires a numeric id column; {id_col!r} is "
            f"{id_type!r} (hash string ids to a bigint first, e.g. "
            "functions.hashing.hash64)"
        )
    # The C-per-row centroid dots are interpreted HOF folds — the
    # expensive row-local step of every IVF/SemDeDup chain; an
    # unsplittable one-row-group scan would run them single-threaded
    # (guide §2.5 input skew; r12 profile: 1.0-1.1 s single-task jobs
    # at sf0.1). fan_out is a no-op on already-parallel scans, but the
    # repartition itself costs one shuffle, so it is CALLER-GATED:
    # worth it when per-row work is large (ivf_topk's C=64 dots,
    # SemDeDup: measured −25%/−4%), a measured LOSS for small-C callers
    # (kmeans_step +27%, cluster_purity +19% — they keep the default).
    from knot_another_pipeline_spark.functions.partitioning import (
        fan_out_small_scan,
    )

    c = (fan_out_small_scan(corpus) if fan_out else corpus).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        l2_norm(f"`{vec_col}`", unroll_dim=unroll_dim).alias("n"),
    )
    # -cent_id makes struct-max break ties toward the lowest centroid id,
    # matching the oracle's row_number ordering exactly.
    return (
        c.crossJoin(F.broadcast(cents))
        .withColumn(
            "cent_cos",
            dot("v", "centv", unroll_dim=unroll_dim)
            / (F.col("n") * F.col("centn")),
        )
        .groupBy("id")
        .agg(
            F.first("v").alias("v"),
            F.first("n").alias("n"),
            F.max(
                F.struct(
                    F.col("cent_cos").alias("cos"),
                    (-F.col("cent_id")).alias("neg_id"),
                )
            ).alias("best"),
        )
        .select("id", "v", "n", (-F.col("best.neg_id")).alias("cell"))
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 64,
    nprobe: int = 2,
    k: int = 5,
    unroll_dim: int | None = None,
) -> DataFrame:
    """IVF-style approximate top-k: partition the corpus into Voronoi
    cells around a *fixed-size* deterministic centroid set, then search
    only the ``nprobe`` cells nearest each query.

    Centroid selection is the ``num_centroids`` corpus vectors ranking
    lowest by ``md5(id)`` — a deterministic hash-sample (reproducible in
    the differential oracle, no training step) whose size is independent
    of corpus size, so the broadcast stays bounded at any scale. Spark
    executes the orderBy+limit as a per-partition top-C reduce
    (TakeOrdered), one corpus pass, no global sort materialization. A
    production deployment swaps in k-means-trained centroids of the same
    shape; C ≈ √N capped to what broadcasts (~10⁵ rows) is the usual
    sizing.

    Scale shape: the centroid table is tiny and broadcast; cell
    assignment is the broadcast cross product reduced by an *aggregate*
    argmax (``max`` over ``struct(cos, -cent_id)``) — partial aggregation
    collapses the C-per-row expansion map-side, so the one shuffle
    carries a single row per corpus vector (a window/row_number
    formulation would shuffle and sort all C× rows). The candidate join
    is an equi-join on cell id touching ~nprobe/C of the corpus. Exact
    cosine re-ranks within the probed cells (recall < 1 by design).
    Output: query_id, neighbor_id, cos_sim, rank.
    """
    cents = deterministic_centroids(
        corpus, id_col=id_col, vec_col=vec_col, num_centroids=num_centroids
    )
    assigned = (
        assign_cells(
            corpus, cents, id_col=id_col, vec_col=vec_col,
            unroll_dim=unroll_dim, fan_out=True,
        )
        .withColumnRenamed("id", "neighbor_id")
        .withColumnRenamed("v", "cv")
        .withColumnRenamed("n", "cn")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        l2_norm(f"`{vec_col}`", unroll_dim=unroll_dim).alias("qn"),
    )
    probe_w = Window.partitionBy("query_id").orderBy(
        F.col("cent_cos").desc(), F.col("cent_id").asc()
    )
    probes = (
        q.crossJoin(F.broadcast(cents))
        .withColumn(
            "cent_cos",
            dot("qv", "centv", unroll_dim=unroll_dim)
            / (F.col("qn") * F.col("centn")),
        )
        .withColumn("cent_rank", F.row_number().over(probe_w))
        .filter(F.col("cent_rank") <= nprobe)
        .select("query_id", "qv", "qn", F.col("cent_id").alias("cell"))
    )
    scored = (
        probes.join(assigned, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cos_sim",
            dot("qv", "cv", unroll_dim=unroll_dim)
            / (F.col("qn") * F.col("cn")),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def embedding_centroids(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    by: str = "label",
    round_to: int = 6,
) -> DataFrame:
    """Element-wise mean vector per group — class centroids for IVF
    coarse quantizers, dataset-cartography cluster summaries, or
    prototype-based labeling.

    posexplode flattens (group, position, component); one groupBy on
    (group, position) averages map-side-combined partials. The flat
    (group, pos, value) output is deliberate: it IS the join-ready shape
    (joining a flat centroid table against exploded vectors beats
    shipping re-assembled arrays), and re-assembly is one
    ``array_agg`` away when needed. Scale: explode multiplies rows by
    dim, but each row is 3 narrow columns and partial aggregation
    collapses them before the (groups × dim)-sized shuffle.

    Output: group col, pos (0-based), centroid (rounded for
    cross-engine reproducibility), n_vectors.
    """
    flat = df.select(
        F.col(by), F.posexplode(F.col(vec_col)).alias("pos", "v")
    )
    return (
        flat.groupBy(by, "pos")
        .agg(
            F.round(F.avg(F.col("v").cast("double")), round_to).alias(
                "centroid"
            ),
            F.count(F.lit(1)).alias("n_vectors"),
        )
    )


def quantize_embeddings(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector int8 scalar quantization: max-abs scale + rounded
    codes — the 4× storage/bandwidth cut that makes billion-vector ANN
    serving affordable (float32 → int8 with sub-percent recall loss is
    the industry default; re-rank survivors against full precision).

    ``scale = max(|v_i|)``; ``code_i = round(v_i / scale · 127)`` ∈
    [−127, 127]; a zero vector quantizes to all-zero codes with scale 0.
    ``max_abs_err`` reports the per-vector reconstruction bound
    ``max|v_i − code_i·scale/127|`` so a consumer can gate on actual
    quantization error instead of trusting the dogma.

    Everything is row-local higher-order array expressions (transform /
    aggregate) — zero shuffle, zero UDF; the operator streams at scan
    speed and parallelizes embarrassingly. All arithmetic is plain
    double ops + round, reproducible in any engine (the DuckDB oracle
    runs the identical formula).

    Output: id, scale (round 6), codes (array<int>), max_abs_err
    (round 6).
    """
    # Stage v → scale → codes as MATERIALIZED columns: a lambda that
    # references an outer non-attribute expression re-evaluates it per
    # element, so an inline `scale` (itself an O(d) array_max) inside
    # the code/err lambdas costs O(d²) per vector. Each projection
    # below only ever hands the next one attributes; multi-referenced
    # aliases are not re-inlined by the optimizer.
    staged = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
            "_v"
        ),
    ).select(
        "id",
        "_v",
        F.array_max(F.transform(F.col("_v"), F.abs)).alias("_scale"),
    )
    scale = F.col("_scale")
    coded = staged.select(
        "id",
        "_v",
        "_scale",
        F.transform(
            F.col("_v"),
            lambda x: F.when(scale == 0.0, F.lit(0))
            .otherwise(F.round(x / scale * F.lit(127.0), 0))
            .cast("int"),
        ).alias("_codes"),
    )
    err = F.array_max(
        F.zip_with(
            F.col("_v"),
            F.col("_codes"),
            lambda x, c: F.abs(
                x - c.cast("double") * scale / F.lit(127.0)
            ),
        )
    )
    return coded.select(
        "id",
        F.round(scale, 6).alias("scale"),
        F.col("_codes").alias("codes"),
        F.round(err, 6).alias("max_abs_err"),
    )


def kmeans_step(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_centroids: int = 8,
    centroids: DataFrame | None = None,
    round_to: int = 6,
) -> DataFrame:
    """One Lloyd iteration of k-means over an embedding column: assign
    every vector to its max-cosine centroid, then recompute each
    centroid as the element-wise mean of its cell — the training step
    behind IVF coarse quantizers and SemDeDup cluster maps (their
    ``deterministic_centroids`` hash-sample is exactly a k-means *init*;
    this is the refinement loop body).

    Deterministic end-to-end: init centroids are the md5-ordered hash
    sample, assignment ties break toward the lowest centroid id, and
    the per-component mean is order-insensitive — so a fixed-iteration
    loop is reproducible run-to-run and engine-to-engine (the catalog
    oracle replays one identical step in SQL).

    ``centroids`` feeds a previous round's output back in: a
    ``(cent_id, centv)`` frame (a norm is derived if absent), e.g.
    ``prev.select(F.col("cell").alias("cent_id"),
    F.col("new_centroid").alias("centv"))``. Iterating = a loop of
    these calls that pins the fed-back centroids with
    ``functions.pins.pin_without_stats`` (the ``connected_components``
    lineage lesson; a plain ``localCheckpoint`` keeps a size estimate
    that the centroid join multiplies every round); within-cluster SSE
    is non-increasing per Lloyd's guarantee (property-tested).

    Scale shape per iteration: centroids broadcast (bounded —
    ``num_centroids`` is the dial, not corpus size); assignment is the
    broadcast cross product collapsed map-side by an aggregate argmax
    (one shuffle row per vector, see ``assign_cells``); the centroid
    update posexplodes to (cell, pos, component) and partial-aggregates
    into a (cells × dim)-row shuffle.

    Output: cell (centroid id), n_vectors, new_centroid
    (array<double>, elements rounded), shift (L2 distance old→new
    centroid, rounded — the convergence signal).
    """
    if centroids is not None:
        cents = centroids.select(
            "cent_id",
            "centv",
            (
                F.col("centn")
                if "centn" in centroids.columns
                else l2_norm(F.col("centv")).alias("centn")
            ),
        )
    else:
        cents = deterministic_centroids(
            corpus, id_col=id_col, vec_col=vec_col,
            num_centroids=num_centroids,
        )
    assigned = assign_cells(corpus, cents, id_col=id_col, vec_col=vec_col)
    flat = assigned.select(
        "cell", F.posexplode(F.col("v")).alias("pos", "comp")
    )
    per_comp = flat.groupBy("cell", "pos").agg(
        F.avg(F.col("comp").cast("double")).alias("m"),
        F.count(F.lit(1)).alias("n_vectors"),
    )
    per_cell = per_comp.groupBy("cell").agg(
        F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"),
        F.max("n_vectors").alias("n_vectors"),
    )
    mean_vec = F.transform(F.col("pm"), lambda s: s["m"])
    out = per_cell.join(
        F.broadcast(cents.select(F.col("cent_id").alias("cell"), "centv")),
        "cell",
    )
    shift = F.sqrt(
        F.aggregate(
            F.zip_with(
                mean_vec,
                F.col("centv"),
                lambda a, b: F.pow(a - b.cast("double"), F.lit(2.0)),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return out.select(
        "cell",
        "n_vectors",
        F.transform(mean_vec, lambda x: F.round(x, round_to)).alias(
            "new_centroid"
        ),
        F.round(shift, round_to).alias("shift"),
    )


def ann_recall(
    exact: DataFrame,
    approx: DataFrame,
    *,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
    round_to: int = 6,
) -> DataFrame:
    """Recall@k evaluation of an approximate neighbor search against
    exact ground truth: per query, the fraction of the exact top-k that
    the approximate index returned. The standard ANN quality dial —
    tune bands/rows-per-band/nprobe until mean recall clears the SLO,
    then ship the cheap index. Both inputs are (query, neighbor) top-k
    tables, e.g. ``cosine_topk`` (truth) vs ``lsh_bucket_topk`` or
    ``ivf_topk`` (candidate).

    Scale shape: both sides are ≤ |queries|·k rows — tiny relative to
    the corpus that produced them — ONE full-outer equi-join on
    (query, neighbor) then one per-query hash aggregate, counting
    exact/approx/hit membership from the join's presence flags. The
    single-pass shape matters when the inputs are unmaterialized topk
    PLANS (the usual case): each expensive subtree is evaluated
    exactly once, instead of once per aggregate as in the naive
    three-join formulation. Nothing touches the original vectors.

    Output per query in ``exact``: query_id, n_exact, n_approx
    (0 when the index returned nothing), n_hit, recall (round_to).
    """
    ex = exact.select(
        F.col(query_col).alias("query_id"),
        F.col(neighbor_col).alias("neighbor_id"),
        F.lit(1).alias("_e"),
    )
    ap = approx.select(
        F.col(query_col).alias("query_id"),
        F.col(neighbor_col).alias("neighbor_id"),
        F.lit(1).alias("_a"),
    )
    j = ex.join(ap, ["query_id", "neighbor_id"], "full_outer")
    n_exact = F.sum(F.coalesce("_e", F.lit(0)))
    n_approx = F.sum(F.coalesce("_a", F.lit(0)))
    n_hit = F.sum(
        F.when(F.col("_e").isNotNull() & F.col("_a").isNotNull(), 1)
        .otherwise(0)
    )
    return (
        j.groupBy("query_id")
        .agg(
            n_exact.cast("bigint").alias("n_exact"),
            n_approx.cast("bigint").alias("n_approx"),
            n_hit.cast("bigint").alias("n_hit"),
        )
        .filter(F.col("n_exact") > 0)
        .withColumn(
            "recall",
            F.round(F.col("n_hit") / F.col("n_exact"), round_to),
        )
    )


# Max total literal doubles (Σ selected k·d) inlined into an MMR round
# plan before switching to the broadcast-frame penalty; well under the
# codegen limits the broadcast path exists for (hit at k≥50, d≥1024).
_MMR_LIT_BUDGET = 8192


def _mmr_round_plan(
    cands: DataFrame,
    *,
    chosen_ids: list,
    chosen_vecs: list,
    lam: float,
    round_to: int,
) -> DataFrame:
    """One MMR round's scored-candidate plan.

    Two penalty encodings, picked by total selected-vector volume:

    - **small k·d (≤ ``_MMR_LIT_BUDGET`` literals)**: the selected
      vectors are inlined as ``F.array(F.lit(...))`` literal arrays and
      the penalty is ``greatest`` over per-vector dot folds.  No
      broadcast frame, no crossJoin, no per-round ``createDataFrame``
      driver→JVM conversion — the round's job is a bare
      TakeOrderedAndProject over the pinned candidates.  Interleaved
      A/B at sf0.1 (k=5, d=64, min-of-5): 4.24 → 2.90 s end-to-end
      (−32%), bit-identical selection sequence.
    - **large k·d**: the selected vectors travel as DATA in a broadcast
      1-row frame (nested-array ``_sel`` column) cross-joined to the
      remaining candidates — never as codegen literals — so the plan
      size is CONSTANT in k·d (asserted by tests/test_round7_ops.py at
      k=50, d=1024, which exceeds the literal budget and exercises this
      path).  The redundancy penalty is a row-local ``array_max`` over
      per-selected dot folds: k·d-bounded work per row, zero shuffle.

    Both encodings compute the identical float arithmetic (same dot
    fold, same rounding), so the argmax sequence cannot differ.
    """
    if not chosen_vecs:
        return cands.withColumn("_mmr", F.round(F.col("rel"), round_to))
    if sum(len(v) for v in chosen_vecs) <= _MMR_LIT_BUDGET:
        dots = [
            dot(F.col("v"), F.array(*[F.lit(float(x)) for x in vec]))
            for vec in chosen_vecs
        ]
        penalty_lit = F.greatest(*dots) if len(dots) > 1 else dots[0]
        return cands.filter(~F.col("id").isin(chosen_ids)).withColumn(
            "_mmr",
            F.round(
                F.lit(lam) * F.col("rel")
                - F.lit(1.0 - lam) * penalty_lit,
                round_to,
            ),
        )
    from pyspark.sql import types as T

    sel_schema = T.StructType(
        [T.StructField("_sel", T.ArrayType(T.ArrayType(T.DoubleType())))]
    )
    sel_df = cands.sparkSession.createDataFrame(
        [([[float(x) for x in v] for v in chosen_vecs],)], schema=sel_schema
    )
    penalty = F.array_max(
        F.transform(F.col("_sel"), lambda s: dot(F.col("v"), s))
    )
    return (
        cands.filter(~F.col("id").isin(chosen_ids))
        .crossJoin(F.broadcast(sel_df))
        .withColumn(
            "_mmr",
            F.round(
                F.lit(lam) * F.col("rel") - F.lit(1.0 - lam) * penalty,
                round_to,
            ),
        )
    )


def mmr_select(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    rel_col: str,
    k: int = 5,
    lam: float = 0.7,
    round_to: int = 6,
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein
    1998): greedily pick ``k`` items maximizing
    ``λ·relevance − (1−λ)·max_cos_sim(item, already-selected)`` — the
    standard diversify-the-top-k step for retrieval results and
    training-example curation, where pure relevance ranking returns k
    near-copies of the best hit and plain dedup can't trade the two
    objectives off.

    Greedy-iterative by definition (selection ``i`` depends on the
    previous ``i−1``), so this is a k-round driver loop — the same
    contract as ``kmeans_step``/``bpe_learn``: each round is ONE pass
    over the candidate frame plus a 1-row argmax collect.  The k−1
    already-selected vectors ride along as a BROADCAST 1-row frame
    (nested-array column) cross-joined to the candidates — data in the
    broadcast relation, never codegen literals — so the plan size is
    constant in k·d (the same rewrite ``pca_power_iteration`` carries
    its iterate with; embedding vectors as ``F.lit`` folds O(k²·d)
    literals into the plan across the loop and hits codegen limits at
    k≥50, d≥1024).  The similarity penalty is a row-local
    ``array_max`` over per-selected dot folds, k·d-bounded work per
    row, no shuffle.  The candidate frame is pinned once with an eager
    localCheckpoint; for huge corpora prefilter to a top-m relevance
    slice first — MMR is a re-ranker, not a scanner.

    Round 1 scores pure relevance (nothing selected yet to be
    redundant with).  Every argmax compares ``round_to``-rounded
    scores with an id tiebreak, so the selection sequence is
    bit-reproducible cross-engine (the catalog oracle replays the same
    rounds).  Vectors are L2-normalized once up front; zero-norm
    vectors are dropped (cosine undefined).

    Output: rank (1..k), id, relevance, mmr_score — in selection
    order.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not 0 <= lam <= 1:
        raise ValueError(f"lam must be in [0, 1], got {lam}")
    cands = (
        df.select(
            F.col(id_col).alias("id"),
            F.col(rel_col).cast("double").alias("rel"),
            F.col(vec_col).alias("_raw"),
            l2_norm(F.col(vec_col)).alias("_n"),
        )
        .filter(F.col("rel").isNotNull() & (F.col("_n") > 0))
        .select(
            "id",
            "rel",
            F.transform(
                F.col("_raw"), lambda x: x.cast("double") / F.col("_n")
            ).alias("v"),
        )
        .localCheckpoint(eager=True)
    )
    spark = df.sparkSession
    from pyspark.sql import types as T

    selected: list = []  # rows: (rank, id, rel, mmr, vec)
    for rank in range(1, k + 1):
        scored = _mmr_round_plan(
            cands,
            chosen_ids=[s[1] for s in selected],
            chosen_vecs=[s[4] for s in selected],
            lam=lam,
            round_to=round_to,
        )
        top = (
            scored.orderBy(F.desc("_mmr"), F.col("id").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        r = top[0]
        selected.append((rank, r["id"], r["rel"], r["_mmr"], list(r["v"])))
    schema = T.StructType(
        [
            T.StructField("rank", T.LongType()),
            T.StructField("id", cands.schema["id"].dataType),
            T.StructField("relevance", T.DoubleType()),
            T.StructField("mmr_score", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(
        [(rk, i, round(rel, round_to), mmr) for rk, i, rel, mmr, _ in selected],
        schema=schema,
    )


def cluster_quality(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    label_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-cluster quality readout over a labeled embedding table —
    centroid scatter, nearest rival centroid, and the Davies–Bouldin
    term — the numbers that say whether a clustering (kmeans output,
    IVF partitions, topic assignment) actually separated anything
    before it's used for dedup buckets or sampling strata.

        s_i   = mean ‖x − c_i‖ over cluster i          (scatter)
        d_ij  = ‖c_i − c_j‖                            (separation)
        DB_i  = max_{j≠i} (s_i + s_j) / d_ij           (lower = better)

    Scale shape: everything runs in LONG (label, dim, value) form —
    no array rebuilds, no per-cluster collects.  Centroids are one
    hash aggregate on (label, dim) — k·d rows, broadcastable by
    construction.  Point-to-own-centroid distances join the exploded
    points to that broadcast table and re-aggregate per point, then
    per label (the only corpus-sized shuffles: one on (id), one on
    (label)).  The centroid-pair matrix is k²·d rows of row-local
    arithmetic — trivial for any k that fits a human-readable report.
    NULL labels and zero-length vectors are dropped.

    Output per label: label, n_points, scatter, nearest_label,
    nearest_dist, db_term (all rounded; single-cluster inputs emit
    NULL nearest/db).
    """
    pts = df.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("label"),
        F.col(vec_col).alias("v"),
    ).filter(F.col("label").isNotNull() & (F.size("v") > 0))
    long = pts.select(
        "id",
        "label",
        F.posexplode(F.col("v").cast("array<double>")).alias("dim", "x"),
    )
    cent = long.groupBy("label", "dim").agg(F.avg("x").alias("c"))
    d2 = (
        long.join(F.broadcast(cent), ["label", "dim"])
        .groupBy("id", "label")
        .agg(F.sum(F.pow(F.col("x") - F.col("c"), 2)).alias("_d2"))
    )
    scat = d2.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.avg(F.sqrt("_d2")).alias("s"),
    )
    ca = cent.select(
        F.col("label").alias("la"), "dim", F.col("c").alias("xa")
    )
    cb = cent.select(
        F.col("label").alias("lb"), "dim", F.col("c").alias("xb")
    )
    cdist = (
        ca.join(cb, "dim")
        .filter(F.col("la") != F.col("lb"))
        .groupBy("la", "lb")
        .agg(F.sqrt(F.sum(F.pow(F.col("xa") - F.col("xb"), 2))).alias("d"))
    )
    sa = scat.select(F.col("label").alias("la"), F.col("s").alias("s_a"))
    sb = scat.select(F.col("label").alias("lb"), F.col("s").alias("s_b"))
    rival = (
        cdist.join(sa, "la")
        .join(sb, "lb")
        .groupBy(F.col("la").alias("label"))
        .agg(
            F.min(
                F.struct(
                    F.col("d").alias("d"), F.col("lb").alias("lb")
                )
            ).alias("_nearest"),
            F.max(
                F.round((F.col("s_a") + F.col("s_b")) / F.col("d"), round_to)
            ).alias("db_term"),
        )
        .select(
            "label",
            F.col("_nearest.lb").alias("nearest_label"),
            F.round(F.col("_nearest.d"), round_to).alias("nearest_dist"),
            "db_term",
        )
    )
    return (
        scat.join(rival, "label", "left")
        .select(
            "label",
            F.col("n_points").cast("bigint").alias("n_points"),
            F.round("s", round_to).alias("scatter"),
            "nearest_label",
            "nearest_dist",
            "db_term",
        )
    )


def pca_power_iteration(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    dim: int,
    iterations: int = 3,
    center: bool = True,
    round_to: int = 6,
) -> DataFrame:
    """Top principal component by MATRIX-FREE power iteration — the
    direction of maximum variance in an embedding corpus (dominant
    topic axis, batch-effect detector, whitening input), computed
    without ever materializing the d×d covariance: each iteration is
    the two matvecs ``v ← Xᵀ(Xv)`` in long (id, dim, x) form —

        s_i = Σ_d x_id·v_d      (join broadcast v, aggregate per row)
        w_d = Σ_i s_i·x_id      (join s back, aggregate per dim)

    then normalize.  Two corpus shuffles per iteration, state is one
    d-row vector — the classic planet-scale PCA shape (covariance
    needs d² memory and an O(n·d²) pass; this is O(n·d·iters)).

    DETERMINISTIC: v₀ = 1/√d on every coordinate (no random init — the
    iterate sequence is reproducible and the oracle unrolls it), so
    inputs exactly orthogonal to the all-ones direction would stall;
    real data never is.  Sign convention: the returned component is
    flipped so its largest-|loading| coordinate is positive (power
    iteration's sign is otherwise arbitrary).  ``center=True``
    subtracts the per-dim mean first (true PCA; False gives the top
    singular direction of raw X).

    Output: one row per dimension — dim, loading (unit vector),
    eigenvalue (Rayleigh estimate ‖XᵀXv‖/n at the final iterate,
    repeated on every row; = variance explained when centered).
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    if dim < 1:
        raise ValueError(f"dim must be >= 1, got {dim}")
    long = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias(
            "dim", "x"
        ),
    ).filter(F.col("x").isNotNull())
    if center:
        mu = long.groupBy("dim").agg(F.avg("x").alias("mu"))
        long = long.join(F.broadcast(mu), "dim").select(
            "id", "dim", (F.col("x") - F.col("mu")).alias("x")
        )
    long = long.localCheckpoint(eager=True)
    n_rows = long.select("id").distinct().count()
    import math as _m

    v = [1.0 / _m.sqrt(dim)] * dim
    spark = df.sparkSession
    lam = 0.0
    for _ in range(iterations):
        # v rides as a BROADCAST d-row frame, not a 2d-literal map —
        # literal plans grow with dimension (and would hit codegen
        # limits for wide embeddings); a broadcast join is constant
        # plan size at any d
        vdf = spark.createDataFrame(
            [(j, v[j]) for j in range(dim)], ["dim", "_v"]
        )
        s = (
            long.join(F.broadcast(vdf), "dim")
            .groupBy("id")
            .agg(F.sum(F.col("x") * F.col("_v")).alias("s"))
        )
        w_rows = (
            long.join(s, "id")
            .groupBy("dim")
            .agg(F.sum(F.col("s") * F.col("x")).alias("w"))
            .collect()
        )
        w = [0.0] * dim
        for r in w_rows:
            w[r["dim"]] = r["w"]
        norm = _m.sqrt(sum(x * x for x in w))
        if norm == 0:
            break
        v = [x / norm for x in w]
        # Rayleigh: vᵀXᵀXv = vᵀw_prev·norm ... use ‖Xv‖²/n on the NEW v
        lam = norm / max(n_rows, 1)
    # sign convention: largest-|loading| coordinate positive
    j_star = max(range(dim), key=lambda j: (abs(v[j]), -j))
    if v[j_star] < 0:
        v = [-x for x in v]
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("dim", T.IntegerType()),
            T.StructField("loading", T.DoubleType()),
            T.StructField("eigenvalue", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(
        [
            (j, round(v[j], round_to), round(lam, round_to))
            for j in range(dim)
        ],
        schema=schema,
    )


def random_projection(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    in_dim: int,
    out_dim: int,
    round_to: int = 6,
) -> DataFrame:
    """Johnson–Lindenstrauss random projection to ``out_dim``
    dimensions with a DETERMINISTIC md5-derived ±1 matrix —
    ``y_j = (1/√k)·Σ_i x_i·sign(i,j)`` — the dimensionality squeeze
    run before ANN/LSH when raw embeddings are too wide: pairwise
    distances are preserved within (1±ε) for k = O(ln n / ε²), and
    because the matrix is a hash, there is nothing to store, ship, or
    version — any engine regenerates it bit-for-bit (same portability
    contract as ``hash_features``).

    Scale shape: the projection matrix is GENERATED as an
    (in_dim·out_dim)-row table (``spark.range`` — a few thousand rows,
    broadcast), the corpus explodes to long (id, i, x) form once, ONE
    partitioned equi-join on the input dimension and ONE hash
    aggregate on (id, j) produce the output — O(n·d·k) work spread
    over the cluster with no per-row Python.  Long output (id, out_i,
    value): feed to downstream long-form consumers or pivot at k
    columns.

    Output: id, out_i (0..out_dim−1), value (rounded).
    """
    if in_dim < 1 or out_dim < 1:
        raise ValueError("in_dim and out_dim must be >= 1")
    spark = df.sparkSession
    import math as _m

    scale = 1.0 / _m.sqrt(out_dim)
    proj = spark.range(in_dim * out_dim).select(
        (F.col("id") / out_dim).cast("int").alias("i"),
        (F.col("id") % out_dim).cast("int").alias("out_i"),
        F.when(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            ":",
                            (F.col("id") / out_dim).cast("int"),
                            (F.col("id") % out_dim).cast("int"),
                        )
                    ),
                    1,
                    10,
                ),
                16,
                10,
            )
            .cast("long")
            .bitwiseAND(F.lit(1))
            == 1,
            F.lit(1.0),
        )
        .otherwise(F.lit(-1.0))
        .alias("sign"),
    )
    long = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.col(vec_col).cast("array<double>")).alias("i", "x"),
    ).filter(F.col("x").isNotNull() & (F.col("i") < in_dim))
    return (
        long.join(F.broadcast(proj), "i")
        .groupBy("id", "out_i")
        .agg(
            F.round(
                F.sum(F.col("x") * F.col("sign")) * F.lit(scale), round_to
            ).alias("value")
        )
    )


def cluster_purity(
    df: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    label_col: str,
    num_centroids: int = 16,
    round_to: int = 6,
) -> DataFrame:
    """Label purity of the deterministic Voronoi cells — the
    external-validity companion to :func:`cluster_quality`'s geometric
    readout: assign every labeled vector to its cell
    (:func:`deterministic_centroids` + :func:`assign_cells` — the same
    partitioning ``ivf_topk`` and ``semantic_dedup`` search), then per
    cell report the majority label and its share.  High purity means
    the embedding geometry already separates the classes — IVF cells
    double as cheap classifiers and dedup buckets stay
    label-homogeneous; low purity means cluster-level shortcuts will
    mix classes.

    One broadcast assignment pass (argmax collapsed map-side), one
    (cell, label) hash aggregate, and an argmax fold
    ``max(struct(count, -label))`` per cell — no windows.  The
    corpus-weighted overall purity rides along so the one-number
    summary needs no second query.  NULL labels are dropped.

    Output per cell: cell, n_vectors, n_labels, majority_label,
    majority_share, overall_purity (corpus-weighted, repeated;
    rounded).
    """
    cents = deterministic_centroids(
        df, id_col=id_col, vec_col=vec_col, num_centroids=num_centroids
    )
    assigned = assign_cells(
        df.filter(F.col(label_col).isNotNull()),
        cents,
        id_col=id_col,
        vec_col=vec_col,
    )
    lab = df.select(
        F.col(id_col).alias("id"), F.col(label_col).alias("label")
    ).filter(F.col("label").isNotNull())
    cl = (
        assigned.select("id", "cell")
        .join(lab, "id")
        .groupBy("cell", "label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    per_cell = cl.groupBy("cell").agg(
        F.sum("cnt").alias("n_vectors"),
        F.count(F.lit(1)).alias("n_labels"),
        F.max(
            F.struct(
                F.col("cnt").alias("cnt"),
                (-F.col("label")).alias("neg_label"),
            )
        ).alias("_top"),
    )
    shaped = per_cell.select(
        F.col("cell").cast("bigint").alias("cell"),
        F.col("n_vectors").cast("bigint").alias("n_vectors"),
        F.col("n_labels").cast("bigint").alias("n_labels"),
        (-F.col("_top.neg_label")).cast("bigint").alias("majority_label"),
        (F.col("_top.cnt").cast("double") / F.col("n_vectors")).alias("_ms"),
        F.col("_top.cnt").alias("_mc"),
    )
    overall = shaped.agg(
        (F.sum("_mc") / F.sum("n_vectors")).alias("_op")
    )
    return shaped.crossJoin(F.broadcast(overall)).select(
        "cell",
        "n_vectors",
        "n_labels",
        "majority_label",
        F.round("_ms", round_to).alias("majority_share"),
        F.round("_op", round_to).alias("overall_purity"),
    )


def embedding_drift(
    baseline: DataFrame,
    current: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    label_col: str | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Embedding-space drift between two snapshots — per group (or
    globally with ``label_col=None``): the L2 shift and cosine of the
    two snapshot centroids plus the change in mean vector norm — the
    monitor that catches a re-trained/upgraded encoder silently moving
    the space out from under every stored index, threshold, and
    centroid (ANN recall decays, dedup thresholds drift, and nothing
    errors).

    Everything runs in long (group, dim) form: each snapshot reduces
    to a centroid table (groups × dim rows) via ONE hash aggregate,
    the comparison joins those two small frames on (group, dim), and
    the rollup is closed-form sums — the corpora never join each
    other.  Groups present in only one snapshot are reported with
    NULL geometry (they ARE drift).

    Output per group: group, n_base, n_cur, centroid_shift (L2),
    centroid_cosine, norm_ratio (cur mean-norm / base mean-norm;
    rounded).
    """
    def side(df: DataFrame, tag: str):
        g = (
            F.col(label_col).cast("string")
            if label_col is not None
            else F.lit("(all)")
        )
        long = df.select(
            g.alias("group"),
            F.posexplode(F.col(vec_col).cast("array<double>")).alias(
                "dim", "x"
            ),
            l2_norm(F.col(vec_col)).alias("_nrm"),
        ).filter(F.col("group").isNotNull())
        cent = long.groupBy("group", "dim").agg(
            F.avg("x").alias(f"c_{tag}")
        )
        stats = (
            df.select(
                g.alias("group"), l2_norm(F.col(vec_col)).alias("_nrm")
            )
            .filter(F.col("group").isNotNull())
            .groupBy("group")
            .agg(
                F.count(F.lit(1)).alias(f"n_{tag}"),
                F.avg("_nrm").alias(f"mn_{tag}"),
            )
        )
        return cent, stats

    cb, sb = side(baseline, "base")
    cc, sc = side(current, "cur")
    geom = (
        cb.join(cc, ["group", "dim"])
        .groupBy("group")
        .agg(
            F.sqrt(
                F.sum(F.pow(F.col("c_cur") - F.col("c_base"), 2))
            ).alias("_shift"),
            F.sum(F.col("c_cur") * F.col("c_base")).alias("_dot"),
            F.sqrt(F.sum(F.col("c_base") * F.col("c_base"))).alias("_nb"),
            F.sqrt(F.sum(F.col("c_cur") * F.col("c_cur"))).alias("_nc"),
        )
    )
    return (
        sb.join(sc, "group", "full_outer")
        .join(geom, "group", "left")
        .select(
            "group",
            F.coalesce("n_base", F.lit(0)).cast("bigint").alias("n_base"),
            F.coalesce("n_cur", F.lit(0)).cast("bigint").alias("n_cur"),
            F.round("_shift", round_to).alias("centroid_shift"),
            F.round(
                F.when(
                    (F.col("_nb") > 0) & (F.col("_nc") > 0),
                    F.col("_dot") / (F.col("_nb") * F.col("_nc")),
                ),
                round_to,
            ).alias("centroid_cosine"),
            F.round(
                F.when(F.col("mn_base") > 0, F.col("mn_cur") / F.col("mn_base")),
                round_to,
            ).alias("norm_ratio"),
        )
    )


def knn_label_noise(
    neighbors: DataFrame,
    labels: DataFrame,
    *,
    query_col: str = "query_id",
    neighbor_col: str = "neighbor_id",
    id_col: str = "vec_id",
    label_col: str = "label",
    suspect_threshold: float = 0.5,
    round_to: int = 6,
) -> DataFrame:
    """Label-noise screening via neighborhood disagreement (the
    Confident-Learning / deep-kNN heuristic): an example whose k
    nearest neighbors mostly carry a DIFFERENT label is a mislabeling
    candidate — the triage list a labeling team re-reviews before the
    data reaches training.

    Takes any (query, neighbor) top-k table — exact ``cosine_topk`` on
    small corpora, ``lsh_bucket_topk``/``ivf_topk`` at scale — so the
    expensive neighbor search is whatever index the corpus already
    justifies; this operator is two broadcast-able label joins (the
    label table is (id, label), tiny relative to the vectors) and ONE
    per-query aggregate.  Nothing here touches the vectors.

    Output per query id: id, label, n_neighbors, n_disagree,
    disagree_rate, suspect (rate >= ``suspect_threshold``).
    """
    lab = labels.select(
        F.col(id_col).alias("_id"), F.col(label_col).alias("_lab")
    ).filter(F.col("_lab").isNotNull())
    pairs = (
        neighbors.select(
            F.col(query_col).alias("_q"), F.col(neighbor_col).alias("_n")
        )
        .join(
            F.broadcast(lab.select(F.col("_id").alias("_q"),
                                   F.col("_lab").alias("_q_lab"))),
            "_q",
        )
        .join(
            F.broadcast(lab.select(F.col("_id").alias("_n"),
                                   F.col("_lab").alias("_n_lab"))),
            "_n",
        )
    )
    agg = pairs.groupBy(
        F.col("_q").alias("id"), F.col("_q_lab").alias("label")
    ).agg(
        F.count(F.lit(1)).alias("n_neighbors"),
        F.sum(
            F.when(F.col("_n_lab") != F.col("_q_lab"), 1).otherwise(0)
        ).alias("n_disagree"),
    )
    rate = F.col("n_disagree") / F.col("n_neighbors")
    return agg.select(
        "id",
        "label",
        F.col("n_neighbors").cast("bigint").alias("n_neighbors"),
        F.col("n_disagree").cast("bigint").alias("n_disagree"),
        F.round(rate, round_to).alias("disagree_rate"),
        (rate >= F.lit(suspect_threshold)).alias("suspect"),
    )


def dim_truncation_error(
    pairs: DataFrame,
    *,
    vec_a_col: str,
    vec_b_col: str,
    dims: list[int],
    round_to: int = 6,
) -> DataFrame:
    """Matryoshka-style truncation audit: how much does cosine
    similarity move when vectors are cut to their first ``d``
    dimensions?  The number that says whether a cheaper truncated
    index (MRL embeddings, PCA'd shards) can serve retrieval without
    re-embedding — measured on real similarity pairs, not on norms.

    Input is a pair table (two vector columns per row) — sample pairs
    however the corpus allows (the catalog query uses a deterministic
    adjacent-id join).  All per-pair work is row-local array folds
    (full-dim cosine once, one sliced cosine per budget via
    ``F.slice``); ONE aggregate per dim budget, unpivoted from a
    single pass with ``stack``.  No shuffle beyond the final
    len(dims)-row reduction.

    Output per dim budget: dim, n_pairs, mean_abs_err, max_abs_err,
    mean_full_cos, mean_trunc_cos.
    """
    if not dims:
        raise ValueError("dims must be non-empty")
    a, b = F.col("_va"), F.col("_vb")
    base = pairs.select(
        F.col(vec_a_col).alias("_va"), F.col(vec_b_col).alias("_vb")
    ).filter(
        (l2_norm(a) > 0) & (l2_norm(b) > 0)
    )
    full = dot(a, b) / (l2_norm(a) * l2_norm(b))
    cols = [full.alias("_full")]
    for d in dims:
        ta, tb = F.slice(a, 1, int(d)), F.slice(b, 1, int(d))
        tcos = F.when(
            (l2_norm(ta) > 0) & (l2_norm(tb) > 0),
            dot(ta, tb) / (l2_norm(ta) * l2_norm(tb)),
        )
        cols.append(tcos.alias(f"_t{d}"))
    scored = base.select(*cols)
    aggs = [F.count(F.lit(1)).alias("n_pairs")]
    for d in dims:
        err = F.abs(F.col(f"_t{d}") - F.col("_full"))
        aggs += [
            F.avg(err).alias(f"mae_{d}"),
            F.max(err).alias(f"maxe_{d}"),
            F.avg(f"_t{d}").alias(f"mt_{d}"),
        ]
    aggs.append(F.avg("_full").alias("mean_full"))
    row = scored.agg(*aggs)
    stack = ", ".join(
        f"CAST({d} AS BIGINT), mae_{d}, maxe_{d}, mt_{d}" for d in dims
    )
    long = row.selectExpr(
        "n_pairs",
        "mean_full",
        f"stack({len(dims)}, {stack}) as (dim, mae, maxe, mt)",
    )
    return long.select(
        "dim",
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.round("mae", round_to).alias("mean_abs_err"),
        F.round("maxe", round_to).alias("max_abs_err"),
        F.round("mean_full", round_to).alias("mean_full_cos"),
        F.round("mt", round_to).alias("mean_trunc_cos"),
    )


def silhouette_score(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 6,
) -> DataFrame:
    """Simplified (centroid-based) silhouette per cluster: for each
    vector, a = distance to its OWN cluster centroid, b = distance to
    the NEAREST OTHER centroid, s = (b − a) / max(a, b); report each
    cluster's mean s — the standard "are these clusters real"
    diagnostic for k-means/IVF partitions and labeling audits.  The
    centroid form is the one that scales: the classic pairwise
    silhouette is O(N²) by definition; this is the variant every
    large-scale library (e.g. Spark MLlib) ships.

    Shape: centroids via the flat ``embedding_centroids`` aggregate
    (k×d rows), broadcast into the exploded vectors joined ON
    POSITION; squared-difference partials collapse map-side before the
    (id, candidate-cluster) shuffle, so the shuffle carries N×k rows,
    never N×k×d.  One final k-row aggregate.  Vectors in a cluster of
    one with no other clusters (k = 1) have undefined s and yield a
    NULL mean.

    Output per cluster: label, n, avg_silhouette (rounded), ordered by
    label.
    """
    flat = df.select(
        F.col(id_col).alias("_id"),
        F.col(label_col).alias("_label"),
        F.posexplode(F.col(vec_col)).alias("pos", "_v"),
    ).withColumn("_v", F.col("_v").cast("double"))
    cent = flat.groupBy(
        F.col("_label").alias("_cand"), F.col("pos")
    ).agg(F.avg("_v").alias("_c"))
    dist = (
        flat.join(F.broadcast(cent), "pos")
        .groupBy("_id", "_label", "_cand")
        .agg(
            F.sqrt(
                F.sum(
                    (F.col("_v") - F.col("_c"))
                    * (F.col("_v") - F.col("_c"))
                )
            ).alias("_d")
        )
    )
    per_vec = dist.groupBy("_id", "_label").agg(
        F.min(F.when(F.col("_cand") == F.col("_label"), F.col("_d"))).alias(
            "_a"
        ),
        F.min(F.when(F.col("_cand") != F.col("_label"), F.col("_d"))).alias(
            "_b"
        ),
    )
    s = F.when(
        F.col("_b").isNotNull()
        & (F.greatest(F.col("_a"), F.col("_b")) > 0),
        (F.col("_b") - F.col("_a")) / F.greatest(F.col("_a"), F.col("_b")),
    ).when(F.col("_b").isNotNull(), F.lit(0.0))
    return (
        per_vec.withColumn("_s", s)
        .groupBy(F.col("_label").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.avg("_s"), round_to).alias("avg_silhouette"),
        )
        .orderBy("label")
    )


def twonn_dimension(
    df: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    group_cols: list[str] | None = None,
    round_to: int = 6,
    max_exact_rows: int | None = MAX_EXACT_ROWS,
) -> DataFrame:
    """TwoNN intrinsic-dimension estimate (Facco et al. 2017): from
    each point's two nearest Euclidean neighbors, μ_i = r₂/r₁ follows
    a Pareto law with exponent d, so the MLE is ``d = n / Σ ln μ_i``.
    The number that says whether a 768-wide embedding column really
    spans 768 directions or lives on a ~20-dimensional manifold —
    which calibrates :func:`random_projection` / PCA target dims and
    explains when :func:`lsh_bucket_topk` recall will be easy.

    Exact-2NN feeder: the broadcast self-join + per-point top-2 window
    — the same bench-size-deliberate pattern as
    :func:`knn_label_noise`'s feeder (distances via the norm identity
    ``d² = ‖a‖² + ‖b‖² − 2a·b``, no length-d intermediate per pair).
    At corpus scale, compute the neighbor table with
    :func:`lsh_bucket_topk` / :func:`ivf_topk` (k=2) instead and
    reduce the same μ formula; the estimator only needs each point's
    two nearest, not the join this feeder uses to find them.

    Exact duplicates (r₁ = 0) carry no slope information and are
    excluded from the MLE (the reference implementation's rule);
    r₂ = r₁ ties contribute ln μ = 0.  Output per group (single row
    ungrouped): n_points (points that had two same-group neighbors),
    n_used, intrinsic_dim (NULL when no usable point or Σ ln μ = 0).
    Degenerate groups — too small for any point to have two neighbors
    (1 point, or 2 sharing an id) — still emit a row with n_points = 0
    and NULL intrinsic_dim, via a left join from the distinct group
    keys (ADVICE r9 item #2: the top-2 filter used to drop them from
    the output entirely, contradicting this docstring).

    Scale guard: the exact-2NN feeder refuses above ``max_exact_rows``
    input rows (default 1M) with an error naming the
    ``lsh_bucket_topk`` / ``ivf_topk`` k=2 swap — the scale story
    above is enforced, not prose.
    """
    gcols = list(group_cols or [])
    _guard_exact_feeder(
        df,
        max_exact_rows,
        "twonn_dimension",
        "lsh_bucket_topk / ivf_topk with k=2 (feed r1, r2 into the "
        "same mu-MLE reduction)",
    )
    pts = df.filter(
        F.col(vec_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(
        *[F.col(c) for c in gcols],
        F.col(id_col).alias("_id"),
        F.col(vec_col).alias("_v"),
        dot(F.col(vec_col), F.col(vec_col)).alias("_nn"),
    )
    left = pts.select(
        *[F.col(c).alias(f"_q_{c}") for c in gcols],
        F.col("_id").alias("_qid"),
        F.col("_v").alias("_qv"),
        F.col("_nn").alias("_qn"),
    )
    cond = F.lit(True)
    for c in gcols:
        cond = cond & (F.col(f"_q_{c}") == F.col(c))
    pairs = F.broadcast(left).join(pts, cond).filter(
        F.col("_qid") != F.col("_id")
    )
    d2 = F.greatest(
        F.lit(0.0),
        F.col("_qn") + F.col("_nn") - 2.0 * dot(F.col("_qv"), F.col("_v")),
    )
    scored = pairs.select(
        *[F.col(f"_q_{c}").alias(c) for c in gcols],
        "_qid",
        d2.alias("_d2"),
        F.col("_id").alias("_nid"),
    )
    w = Window.partitionBy(*[F.col(c) for c in gcols], F.col("_qid")).orderBy(
        F.col("_d2").asc(), F.col("_nid").asc()
    )
    top2 = (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= 2)
        .groupBy(*gcols, "_qid")
        .agg(
            F.min(F.when(F.col("_rk") == 1, F.col("_d2"))).alias("_r1sq"),
            F.min(F.when(F.col("_rk") == 2, F.col("_d2"))).alias("_r2sq"),
        )
        .filter(F.col("_r1sq").isNotNull() & F.col("_r2sq").isNotNull())
    )
    # ln μ = ln(r2/r1) = (ln(r2²/r1²))/2 — stays in squared distances
    mu = top2.select(
        *gcols,
        F.when(
            F.col("_r1sq") > 0,
            F.log(F.col("_r2sq") / F.col("_r1sq")) / 2.0,
        ).alias("_lnmu"),
    )
    agg = mu.groupBy(*gcols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.count("_lnmu").cast("bigint").alias("n_used"),
        F.sum("_lnmu").alias("_slm"),
    )
    if gcols:
        # Groups where NO point has two neighbors vanish before the
        # groupBy; re-attach them from the distinct group keys so each
        # emits (0, 0, NULL) instead of no row at all.
        agg = (
            pts.select(*gcols)
            .distinct()
            .join(agg, on=gcols, how="left")
            .select(
                *gcols,
                F.coalesce("n_points", F.lit(0))
                .cast("bigint")
                .alias("n_points"),
                F.coalesce("n_used", F.lit(0))
                .cast("bigint")
                .alias("n_used"),
                "_slm",
            )
        )
    out = agg.select(
        *gcols,
        "n_points",
        "n_used",
        F.round(
            F.when(
                (F.col("n_used") > 0) & (F.col("_slm") > 0),
                F.col("n_used").cast("double") / F.col("_slm"),
            ),
            round_to,
        ).alias("intrinsic_dim"),
    )
    return out.orderBy(*gcols) if gcols else out
