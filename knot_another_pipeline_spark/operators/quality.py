"""Data-quality reconciliation checks.

The reference's correctness oracle is five post-refresh SQL checks
(``/root/reference/pipelines/refresh_gold_tables.py:468-558``): gold row
count, SUM(message_count) and SUM(source_row_count) vs the filtered silver
row count (delta logged), per-day row counts, pairs row count. Here the
checks run in-session and return one structured report DataFrame instead
of driver-side polling + dict diffing.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F


def reconciliation_report(
    spark: SparkSession,
    *,
    silver_filtered_count: int,
    hourly: DataFrame,
    pairs: DataFrame,
    trimmed_cell_windows: int | None = None,
) -> DataFrame:
    """One row per check: check_name, observed, expected, delta, passed.

    Mirrors ``_run_data_checks``: the hourly table's SUM(message_count)
    and SUM(source_row_count) must reconcile to the silver row count that
    survived the filters; row counts must be positive.
    """
    # SUM over no rows is NULL; an empty rollup reconciles to 0.
    agg = hourly.agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum("message_count"), F.lit(0)).alias("msg"),
        F.coalesce(F.sum("source_row_count"), F.lit(0)).alias("src"),
    ).collect()[0]
    pair_rows = pairs.count()
    checks = [
        ("uid_hourly_rows_positive", agg["rows"], 1, agg["rows"] >= 1),
        (
            "sum_message_count_matches_silver",
            agg["msg"],
            silver_filtered_count,
            agg["msg"] == silver_filtered_count,
        ),
        (
            "sum_source_row_count_matches_silver",
            agg["src"],
            silver_filtered_count,
            agg["src"] == silver_filtered_count,
        ),
        ("pairs_rows_nonnegative", pair_rows, 0, pair_rows >= 0),
    ]
    if trimmed_cell_windows is not None:
        # Informational: how many (day, window, cell) combos the mega-cell
        # skew guard removed from the pairs join. Nonzero means capped
        # data, a documented deviation from reference all-pairs output —
        # observable here rather than silent (ADVICE r2). Always "passed";
        # the delta column carries the signal.
        checks.append(
            (
                "mega_cell_windows_trimmed",
                trimmed_cell_windows,
                0,
                True,
            )
        )
    return spark.createDataFrame(
        [
            (name, int(obs), int(exp), int(obs) - int(exp), bool(ok))
            for name, obs, exp, ok in checks
        ],
        "check_name string, observed long, expected long, delta long, passed boolean",
    )


def profile_table(
    df: DataFrame,
    columns: list[str] | None = None,
    *,
    approx: bool = False,
) -> DataFrame:
    """Per-column data profile: row count, null count, distinct count,
    min/max — the table-health snapshot a warehouse surfaces next to
    every dataset.

    One aggregation pass computes every column's stats together; min/max
    aggregate in the column's NATIVE type and stringify afterwards (a
    pre-cast would silently switch numeric columns to lexicographic
    ordering). ``approx=True`` swaps exact ``countDistinct`` — whose
    multi-column form costs an Expand (one duplicated pass per profiled
    column) — for HyperLogLog ``approx_count_distinct``: the right
    setting at 100 TB, off by default so the differential oracle can
    match exactly.
    Output: col_name, n_rows, n_nulls, n_distinct, min_value, max_value.
    """
    cols = columns or df.columns
    nd = F.approx_count_distinct if approx else F.countDistinct
    aggs = [F.count(F.lit(1)).alias("_rows")]
    for c in cols:
        aggs += [
            F.count(F.col(c)).alias(f"{c}__nn"),
            nd(F.col(c)).alias(f"{c}__nd"),
            F.min(F.col(c)).cast("string").alias(f"{c}__min"),
            F.max(F.col(c)).cast("string").alias(f"{c}__max"),
        ]
    row = df.agg(*aggs)
    out = None
    for c in cols:
        piece = row.select(
            F.lit(c).alias("col_name"),
            F.col("_rows").cast("bigint").alias("n_rows"),
            (F.col("_rows") - F.col(f"{c}__nn")).cast("bigint").alias("n_nulls"),
            F.col(f"{c}__nd").cast("bigint").alias("n_distinct"),
            F.col(f"{c}__min").alias("min_value"),
            F.col(f"{c}__max").alias("max_value"),
        )
        out = piece if out is None else out.unionAll(piece)
    return out


def daily_counts(df: DataFrame, date_col: str, limit: int = 5) -> DataFrame:
    """Per-day row counts preview (``refresh_gold_tables.py:511-521``):
    GROUP BY dt ORDER BY dt LIMIT n → TakeOrderedAndProject, no global
    sort materialization."""
    return (
        df.groupBy(F.col(date_col).alias("dt"))
        .agg(F.count(F.lit(1)).alias("row_count"))
        .orderBy("dt")
        .limit(limit)
    )


def kmv_distinct(
    df: DataFrame,
    col: str,
    by: str | list[str] | None = None,
    k: int = 64,
) -> DataFrame:
    """KMV (k-minimum-values) approximate distinct count per group —
    a *deterministic* cardinality sketch.

    Spark's ``approx_count_distinct`` (HyperLogLog++) is the usual tool,
    but its estimates are engine-internal: not reproducible across
    engines or versions, so it can't be differential-tested and two
    systems profiling the same table disagree. KMV is the classic
    alternative (Bar-Yossef et al. 2002): hash every value with a fixed
    hash, keep the k smallest hashes; if fewer than k exist the count is
    exact, else estimate ``(k-1) / kth_smallest_normalized_hash``. With
    md5-derived hashes the sketch — and therefore the estimate — is
    bit-identical in any engine with md5(), our DuckDB oracle included.
    Standard error ≈ 1/sqrt(k-2) (~13% at k=64; k is the accuracy dial,
    payable per group).

    Scale shape: a per-group top-k must not funnel a group's whole
    distinct set through one task. This runs the two-stage tournament:
    values dedupe to distinct (group, hash) rows (shuffle 1, the only
    full-data one), stage one ranks within 16 hash-suffix subgroups in
    parallel and keeps k each (≤ 16k rows per group survive), stage two
    ranks those ≤ 16k survivors per group — bounded work regardless of
    corpus size. Sketches are also mergeable (union the hash sets, re-
    take the k smallest) — the same tournament, applied again.
    """
    from knot_another_pipeline_spark.functions.hashing import hash_hex

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    keys = [by] if isinstance(by, str) else list(by or [])
    grp = keys if keys else [F.lit(1).alias("_g")]
    grp_names = keys if keys else ["_g"]
    d = (
        df.filter(F.col(col).isNotNull())
        .select(*grp, hash_hex(col).alias("_h"))
        .distinct()
    )
    topk = _kmv_tournament(d, grp_names, k)
    out = topk.groupBy(*grp_names).agg(
        _kmv_estimate(k).cast("bigint").alias("n_distinct_est")
    )
    return out.drop("_g") if not keys else out


def _kmv_tournament(d: DataFrame, grp_names: list[str], k: int) -> DataFrame:
    """Two-stage per-group k-smallest over distinct (group, _h) rows:
    stage one ranks inside 16 hash-suffix subgroups (parallel, bounded),
    stage two ranks the ≤ 16k survivors per group."""
    sub = F.substring("_h", 15, 1)  # last hex char: 16 uniform subgroups
    w1 = Window.partitionBy(*grp_names, sub).orderBy(F.col("_h").asc())
    w2 = Window.partitionBy(*grp_names).orderBy(F.col("_h").asc())
    return (
        d.withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= k)
    )


def _kmv_estimate(k: int) -> Column:
    """Aggregate KMV estimator over a group's surviving hashes:
    exact count below k, else (k−1)/kth_smallest_normalized.
    16^15 = 2^60: exactly representable, same literal in the oracle."""
    norm = F.conv(F.max("_h"), 16, 10).cast("double") / F.lit(float(1 << 60))
    return F.when(
        F.count(F.lit(1)) < k, F.count(F.lit(1)).cast("double")
    ).otherwise(F.round(F.lit(float(k - 1)) / norm, 0))


def kmv_sketch(
    df: DataFrame,
    col: str,
    by: str | list[str] | None = None,
    k: int = 64,
) -> DataFrame:
    """Materialize the per-group KMV sketch itself (sorted array of the
    k smallest md5-derived hashes) instead of just the estimate — the
    MERGEABLE form that makes distinct-count rollups incremental.

    This is the missing piece `reaggregate` points at: algebraic
    aggregates (count/sum/min/max) re-aggregate from partials, but
    COUNT(DISTINCT) does not — you either rescan raw data per grain or
    store a mergeable sketch per fine-grained cell and fold sketches
    upward (:func:`kmv_merge`). KMV merges EXACTLY: the k smallest of a
    union equals the k smallest of the union of each part's k smallest,
    so merged estimates are bit-identical to sketching the union
    directly (property-tested, and deterministic in any engine with
    md5 — unlike HLL registers, which are engine-internal).

    Scale: identical two-stage tournament as :func:`kmv_distinct`; the
    sketch adds one ≤ k-element sorted array per group (collect_list
    over the ≤ k survivors — bounded by construction).

    Output: group cols, ``hashes`` (sorted array, ≤ k), ``n_exact``
    (count of hashes — equals exact distinct when < k).
    """
    from knot_another_pipeline_spark.functions.hashing import hash_hex

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    keys = [by] if isinstance(by, str) else list(by or [])
    grp = keys if keys else [F.lit(1).alias("_g")]
    grp_names = keys if keys else ["_g"]
    d = (
        df.filter(F.col(col).isNotNull())
        .select(*grp, hash_hex(col).alias("_h"))
        .distinct()
    )
    out = (
        _kmv_tournament(d, grp_names, k)
        .groupBy(*grp_names)
        .agg(
            F.sort_array(F.collect_list("_h")).alias("hashes"),
            F.count(F.lit(1)).alias("n_exact"),
        )
    )
    return out.drop("_g") if not keys else out


def kmv_merge(
    sketches: DataFrame,
    by: str | list[str] | None = None,
    *,
    hashes_col: str = "hashes",
    k: int = 64,
) -> DataFrame:
    """Fold fine-grained KMV sketches up to coarser groups and estimate
    — the distinct-count analogue of `reaggregate`'s partial-merge:
    daily sketches roll to monthly/total without touching raw data.

    Explode the child sketch arrays, dedupe hashes within the target
    group (a value seen by several children must count once), re-run
    the same k-smallest tournament, apply the same estimator. Because
    each child kept ITS k smallest, the union's k smallest are all
    present — the merge is exact, not approximate-on-approximate.
    Shuffle is bounded by (children × k) rows, never corpus-sized.

    Output: group cols, n_distinct_est — identical to running
    :func:`kmv_distinct` on the raw union (property-tested).
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    keys = [by] if isinstance(by, str) else list(by or [])
    grp = keys if keys else [F.lit(1).alias("_g")]
    grp_names = keys if keys else ["_g"]
    d = (
        sketches.select(*grp, F.explode(hashes_col).alias("_h"))
        .distinct()
    )
    out = (
        _kmv_tournament(d, grp_names, k)
        .groupBy(*grp_names)
        .agg(_kmv_estimate(k).cast("bigint").alias("n_distinct_est"))
    )
    return out.drop("_g") if not keys else out


def equi_width_histogram(
    df: DataFrame,
    col: str,
    *,
    bins: int,
    lo: float,
    hi: float,
) -> DataFrame:
    """Fixed-bin histogram of a numeric column: one aggregation pass,
    deterministic bin edges — the distribution-profiling companion to
    :func:`profile_table` (score distributions, length distributions,
    drift checks between corpus snapshots).

    ``bins`` equal-width buckets over [lo, hi); values below ``lo`` clamp
    into bin 0, values at/above ``hi`` into the last bin (so the counts
    always total the non-null rows — out-of-range data is visible at the
    edges rather than silently dropped). Bin index math is plain double
    arithmetic, bit-identical across engines. Empty bins are absent from
    the output (left to the caller/plot layer to densify — emitting them
    would need a range join against a generated series for no analytic
    gain).

    Scale: groupBy on the bin index — at most ``bins`` groups, so the
    shuffle is bounded by the histogram resolution, not the data.
    """
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi})")
    width = (float(hi) - float(lo)) / bins
    v = F.col(col).cast("double")
    idx = F.floor((v - F.lit(float(lo))) / F.lit(width)).cast("bigint")
    clamped = F.least(F.greatest(idx, F.lit(0)), F.lit(bins - 1))
    return (
        # NaN would otherwise clamp into bin 0 (floor(NaN) -> 0) and
        # silently skew the distribution low; exclude like NULL
        df.filter(v.isNotNull() & ~F.isnan(v))
        .groupBy(clamped.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "bin",
            F.round(F.lit(float(lo)) + F.col("bin") * F.lit(width), 6).alias(
                "bin_lo"
            ),
            F.round(
                F.lit(float(lo)) + (F.col("bin") + 1) * F.lit(width), 6
            ).alias("bin_hi"),
            "n",
        )
    )


def histogram_quantiles(
    df: DataFrame,
    col: str,
    *,
    probs: list[float],
    bins: int = 1024,
    lo: float,
    hi: float,
) -> DataFrame:
    """Deterministic approximate quantiles from an equi-width histogram:
    the scalable alternative to exact ``percentile`` (a full sort per
    group at 100 TB) and to ``percentile_approx`` (whose GK-sketch
    output depends on merge order — not reproducible across engines or
    even runs).

    One histogram pass (shuffle bounded by ``bins``), then the quantile
    is linearly interpolated inside the bin where the cumulative count
    crosses ``p·N``. Max error is one bin width — ``bins`` is the
    accuracy dial, paid in histogram size, not data passes. Every step
    is plain double arithmetic on exact integer counts: bit-reproducible
    in any engine.

    Values outside [lo, hi) clamp to the edge bins (same contract as
    :func:`equi_width_histogram`), so a misjudged range shows up as
    quantiles piling onto ``lo``/``hi`` rather than silently wrong
    interior values.

    Output: one row per requested probability — p, quantile.
    """
    if not probs:
        raise ValueError("probs must be non-empty")
    if any(not 0.0 <= p <= 1.0 for p in probs):
        raise ValueError(f"probs must be in [0, 1], got {probs}")
    hist = equi_width_histogram(df, col, bins=bins, lo=lo, hi=hi)
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("n").over(w)).crossJoin(
        F.broadcast(hist.agg(F.sum("n").alias("total")))
    )
    # ONE pass over one histogram: join a tiny literal probs relation
    # against the <=bins-row cumulative table and keep the first bin
    # that reaches each target (a per-prob union of orderBy/limit
    # subplans would re-evaluate the histogram aggregate once per
    # probability unless exchange reuse happens to kick in). The theta
    # join is broadcast-nested-loop over len(probs) x bins rows —
    # driver-scale by construction.
    probs_df = df.sparkSession.createDataFrame(
        [(float(p),) for p in probs], "p double"
    )
    target = F.col("p") * F.col("total")
    w_hit = Window.partitionBy("p").orderBy("bin")
    return (
        F.broadcast(probs_df)
        .join(cum, F.col("cum").cast("double") >= F.col("p") * F.col("total"))
        .withColumn("_rn", F.row_number().over(w_hit))
        .filter(F.col("_rn") == 1)
        .select(
            "p",
            F.round(
                F.col("bin_lo")
                + (F.col("bin_hi") - F.col("bin_lo"))
                * ((target - (F.col("cum") - F.col("n"))) / F.col("n")),
                6,
            ).alias("quantile"),
        )
    )


def histogram_drift(
    current: DataFrame,
    reference: DataFrame,
    col: str,
    *,
    bins: int = 64,
    lo: float,
    hi: float,
) -> DataFrame:
    """Distribution drift between two snapshots of a numeric column:
    total-variation distance between their equi-width histograms — the
    cheap, deterministic corpus-drift alarm (did today's crawl's length/
    score/perplexity distribution move?).

    TV = 0.5 · Σ_bins |p_cur − p_ref| ∈ [0, 1]; 0 = identical binned
    distributions, 1 = disjoint. Both sides share the same fixed bin
    grid (clamping included), so the metric is well-defined even when
    ranges differ, and every step is exact-integer counts + one
    double division — reproducible anywhere. Cost: one bounded-shuffle
    histogram per side, then a ≤``bins``-row join.

    Output: one row — tv_distance, n_current, n_reference.
    """
    cur = equi_width_histogram(current, col, bins=bins, lo=lo, hi=hi).select(
        "bin", F.col("n").alias("n_cur")
    )
    ref = equi_width_histogram(reference, col, bins=bins, lo=lo, hi=hi).select(
        "bin", F.col("n").alias("n_ref")
    )
    joined = cur.join(ref, "bin", "full_outer").select(
        F.coalesce("n_cur", F.lit(0)).alias("n_cur"),
        F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
    )
    totals = joined.agg(
        F.sum("n_cur").alias("tc"), F.sum("n_ref").alias("tr")
    )
    per_bin = joined.crossJoin(F.broadcast(totals)).select(
        F.abs(
            F.col("n_cur").cast("double") / F.col("tc")
            - F.col("n_ref").cast("double") / F.col("tr")
        ).alias("d"),
        "tc",
        "tr",
    )
    return per_bin.groupBy("tc", "tr").agg(
        F.round(F.sum("d") / 2.0, 6).alias("tv_distance")
    ).select(
        "tv_distance",
        F.col("tc").cast("bigint").alias("n_current"),
        F.col("tr").cast("bigint").alias("n_reference"),
    )


def anomaly_zscore(
    df: DataFrame,
    keys: str | list[str],
    *,
    value_col: str,
    threshold: float = 3.0,
    round_to: int = 6,
) -> DataFrame:
    """Per-group z-score outlier flagging: standardize ``value_col``
    against its group's mean/stddev and flag |z| > threshold — the
    monitoring primitive behind "this domain's document lengths went
    weird today" and per-source metric guards before training-data
    admission.

    Two-pass shape, both passes scale-clean: one hash aggregate builds
    the per-group (mean, stddev) table — grows with group count, not row
    count — and one equi-join (AQE broadcasts it while small) attaches
    the stats back. Never a window over the raw rows: a per-row window
    would sort every group's full row set just to compute two scalars.

    Sample stddev (n-1), matching SQL STDDEV in Spark and DuckDB.
    Groups with fewer than 2 rows or zero variance yield NULL z (no
    basis for an outlier call) and are never flagged. NULL values or
    group keys pass through unflagged with NULL z.
    Output: input columns + z (rounded), is_anomaly.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    if threshold <= 0:
        raise ValueError(f"threshold must be > 0, got {threshold}")
    stats = (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*keys)
        .agg(
            F.avg(value_col).alias("_mu"),
            F.stddev_samp(value_col).alias("_sigma"),
        )
    )
    joined = df.join(stats, keys, "left")
    z = F.when(
        F.col("_sigma").isNotNull() & (F.col("_sigma") > 0),
        (F.col(value_col) - F.col("_mu")) / F.col("_sigma"),
    )
    return (
        joined.withColumn("z", F.round(z, round_to))
        .withColumn(
            "is_anomaly",
            F.coalesce(F.abs(F.col("z")) > F.lit(threshold), F.lit(False)),
        )
        .drop("_mu", "_sigma")
    )


def winsorized_stats(
    df: DataFrame,
    group_col: str,
    *,
    value_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
    exact: bool = True,
) -> DataFrame:
    """Per-group winsorized mean/stddev: clip each value to the group's
    [lo, hi] quantiles, then aggregate — robust location/scale for
    quality-score normalization and outlier-tolerant drift baselines
    (a handful of corrupt records must not drag a group's mean).

    Two aggregation passes, no window: (1) per-group quantile bounds via
    one hash aggregate, (2) bounds joined back (broadcast — one row per
    group) and a second hash aggregate over the clipped value. With
    ``exact=True`` the bounds use Spark's exact ``percentile``
    (linear-interpolation, matching DuckDB ``quantile_cont`` for the
    oracle); it buffers each group's values on an executor, so at
    100 TB flip ``exact=False`` for ``approx_percentile`` (bounded
    memory, rank error ≤ 1e-4) — same plan shape, sketch-backed bounds.

    Output: group, n_rows, q_lo, q_hi, win_mean, win_std (sample,
    rounded 4).
    """
    if not 0.0 <= lo < hi <= 1.0:
        raise ValueError(f"need 0 <= lo < hi <= 1, got {lo}, {hi}")
    fn = "percentile" if exact else "approx_percentile"
    extra = "" if exact else ", 10000"
    bounds = df.groupBy(group_col).agg(
        F.expr(f"{fn}({value_col}, {lo}{extra})").alias("q_lo"),
        F.expr(f"{fn}({value_col}, {hi}{extra})").alias("q_hi"),
    )
    clipped = F.least(
        F.greatest(F.col(value_col).cast("double"), F.col("q_lo")),
        F.col("q_hi"),
    )
    return (
        df.join(F.broadcast(bounds), group_col)
        .groupBy(group_col, "q_lo", "q_hi")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(F.avg(clipped), 4).alias("win_mean"),
            F.round(F.stddev_samp(clipped), 4).alias("win_std"),
        )
        .select(
            group_col,
            "n_rows",
            F.round("q_lo", 4).alias("q_lo"),
            F.round("q_hi", 4).alias("q_hi"),
            "win_mean",
            "win_std",
        )
    )


def majority_vote(
    df: DataFrame,
    *,
    item_col: str,
    label_col: str,
) -> DataFrame:
    """Label aggregation over redundant annotations: per item, the
    majority label plus agreement diagnostics — the consensus step for
    crowd-labeled / multi-judge training data (RLHF preference sets,
    classifier gold sets), where each item was rated k times and the
    pipeline must emit ONE label and a confidence signal.

    Deterministic: ties break toward the lexicographically smallest
    label, so replays and engine ports agree (a bare ``max_by`` leaves
    equal-vote winners partition-order-dependent).

    Scale shape: one hash aggregate to (item, label) vote counts —
    partial aggregation collapses duplicate votes map-side — then a
    window over the counts table partitioned by item (rows = items ×
    distinct labels per item, i.e. already reduced far below the input;
    an annotation workload has small per-item label fanout by
    construction). No self-joins, no driver state.

    Output: item, majority_label, n_votes (winner's), n_total,
    n_labels (distinct labels seen), agreement (n_votes/n_total,
    rounded 6).
    """
    counts = (
        df.select(
            F.col(item_col).alias("item"), F.col(label_col).alias("label")
        )
        .filter(F.col("label").isNotNull())
        .groupBy("item", "label")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    part = Window.partitionBy("item")
    w = part.orderBy(F.col("n").desc(), F.col("label").asc())
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .withColumn("n_total", F.sum("n").over(part))
        .withColumn("n_labels", F.count(F.lit(1)).over(part))
        .filter(F.col("rn") == 1)
        .select(
            "item",
            F.col("label").alias("majority_label"),
            F.col("n").alias("n_votes"),
            "n_total",
            "n_labels",
            F.round(
                F.col("n").cast("double") / F.col("n_total").cast("double"), 6
            ).alias("agreement"),
        )
    )


def k_anonymity_audit(
    df: DataFrame,
    *,
    quasi_cols: list[str],
    k: int = 5,
    sensitive_col: str | None = None,
) -> DataFrame:
    """Privacy audit over quasi-identifier combinations: the size of
    every equivalence class (rows sharing the same quasi-identifier
    tuple) and whether it violates k-anonymity — the release gate for
    datasets carrying indirect identifiers (a class smaller than ``k``
    re-identifies its members by attribute intersection). With
    ``sensitive_col``, also the class's distinct sensitive-value count
    (l-diversity: a k-anonymous class whose sensitive values are all
    identical still leaks the attribute).

    Scale shape: ONE hash aggregate on the quasi tuple — partial
    aggregation collapses classes map-side, the distinct-sensitive
    count rides the same shuffle (count_distinct rewrites to a
    two-phase Expand aggregate, still keyed by the class). No windows,
    no joins, no driver state.

    Output: quasi cols, class_size, below_k, and (if sensitive_col)
    l_diversity.
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    aggs = [F.count(F.lit(1)).alias("class_size")]
    if sensitive_col is not None:
        aggs.append(
            F.count_distinct(F.col(sensitive_col)).alias("l_diversity")
        )
    out = df.groupBy(*quasi_cols).agg(*aggs)
    cols = [
        *quasi_cols,
        "class_size",
        (F.col("class_size") < k).alias("below_k"),
    ]
    if sensitive_col is not None:
        cols.append(F.col("l_diversity"))
    return out.select(*cols)


def sketch_overlap(
    a: DataFrame,
    b: DataFrame,
    col: str,
    *,
    k: int = 256,
) -> DataFrame:
    """Corpus-overlap estimate from two KMV sketches: approximate
    |A|, |B|, |A∪B| (inclusion–exclusion gives |A∩B|) and the Jaccard
    of two value sets — "how much of dataset B is already in A", the
    pre-ingest question asked before paying to dedup a new crawl
    against a 100 TB corpus. Each side reduces to one ≤ k-element
    sketch, so the comparison costs two corpus scans and then
    driver-trivial array math — no join between the corpora, ever.

    Deterministic (md5-derived hashes, same as :func:`kmv_distinct`),
    so the estimate is bit-identical in any engine with md5 — the
    union's k smallest hashes are all present among the two children's
    k smallest (the KMV merge identity), making the union estimate
    exactly what sketching A∪B directly would give. Error ≈ 1/√(k−2)
    per estimate; the intersection inherits both errors (clamped at 0).

    Output (single row): n_a_est, n_b_est, n_union_est,
    n_intersect_est, jaccard_est (rounded 6).
    """
    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    sa = kmv_sketch(a, col, k=k).select(F.col("hashes").alias("ha"))
    sb = kmv_sketch(b, col, k=k).select(F.col("hashes").alias("hb"))

    def _est(arr: Column) -> Column:
        m = F.size(arr)
        # F.get (not element_at): NULL — never an ANSI error — when m < k
        norm = F.conv(F.get(arr, k - 1), 16, 10).cast("double") / F.lit(
            float(1 << 60)
        )
        return F.when(m < k, m.cast("double")).otherwise(
            F.round(F.lit(float(k - 1)) / norm, 0)
        )

    merged = F.slice(
        F.sort_array(F.array_distinct(F.concat(F.col("ha"), F.col("hb")))),
        1,
        k,
    )
    row = sa.crossJoin(F.broadcast(sb)).select(
        _est(F.col("ha")).alias("n_a"),
        _est(F.col("hb")).alias("n_b"),
        _est(merged).alias("n_u"),
    )
    inter = F.greatest(
        F.lit(0.0), F.col("n_a") + F.col("n_b") - F.col("n_u")
    )
    return row.select(
        F.col("n_a").cast("bigint").alias("n_a_est"),
        F.col("n_b").cast("bigint").alias("n_b_est"),
        F.col("n_u").cast("bigint").alias("n_union_est"),
        inter.cast("bigint").alias("n_intersect_est"),
        F.round(
            F.when(F.col("n_u") > 0, inter / F.col("n_u")).otherwise(
                F.lit(0.0)
            ),
            6,
        ).alias("jaccard_est"),
    )


#: Benford first-digit probabilities log10(1 + 1/d), d = 1..9 — module
#: constants so the operator and the differential oracle share the
#: exact double literals.
BENFORD_EXPECTED = [math.log10(1.0 + 1.0 / d) for d in range(1, 10)]


def benford_check(
    df: DataFrame,
    *,
    value_col: str,
    by: str | list[str] | None = None,
    chi2_threshold: float = 15.507,
) -> DataFrame:
    """Benford's-law conformance test per group — the forensic DQ
    signal for fabricated or truncated numeric data (organic amounts
    follow log-uniform first digits; invented ones don't).

    The first significant digit comes from the value's STRING form
    (first ``[1-9]`` character) — robust to plain and scientific
    rendering, immune to the float-boundary errors of the
    ``log10``-arithmetic extraction, and identical in any engine.
    Zero/NULL values carry no digit and are excluded.

    Per group: observed digit counts (all nine, zeros included — a
    digit that never occurs still deviates), the chi-square statistic
    ``Σ (n_d − n·e_d)² / (n·e_d)`` against the Benford expectation,
    the mean absolute deviation of the digit distribution, and a flag
    at ``chi2_threshold`` (default 15.507 = χ²₈ at 95%).

    Scale shape: ONE hash aggregate — the nine digit counts are
    conditional sums riding a single shuffle keyed by the group;
    everything after is row-local arithmetic on a #groups-row table.

    Output: group cols (if any), n, chi2 (round 6), mad (round 6),
    suspicious.
    """
    keys = [by] if isinstance(by, str) else list(by or [])
    digit = F.regexp_extract(
        F.col(value_col).cast("string"), "[1-9]", 0
    )
    s = df.select(*keys, digit.alias("_d")).filter(F.col("_d") != "")
    counts = s.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.when(F.col("_d") == str(d), 1).otherwise(0)).alias(
                f"_n{d}"
            )
            for d in range(1, 10)
        ],
    )
    n = F.col("n").cast("double")
    chi2 = sum(
        F.pow(F.col(f"_n{d}") - n * F.lit(e), 2) / (n * F.lit(e))
        for d, e in zip(range(1, 10), BENFORD_EXPECTED)
    )
    mad = sum(
        F.abs(F.col(f"_n{d}") / n - F.lit(e))
        for d, e in zip(range(1, 10), BENFORD_EXPECTED)
    ) / F.lit(9.0)
    return counts.select(
        *keys,
        F.col("n"),
        F.round(chi2, 6).alias("chi2"),
        F.round(mad, 6).alias("mad"),
        (chi2 > F.lit(float(chi2_threshold))).alias("suspicious"),
    )


def mad_outliers(
    df: DataFrame,
    *,
    id_col: str,
    value_col: str,
    by: str | None = None,
    k: float = 3.5,
    round_to: int = 6,
) -> DataFrame:
    """Robust outlier detection via the median absolute deviation: flag
    rows whose modified z-score ``|value − median| / (1.4826·MAD)``
    exceeds ``k`` (3.5 is the classic Iglewicz-Hoban cutoff). Unlike
    ``anomaly_zscore``, the estimator itself is outlier-proof — a few
    extreme values cannot inflate the scale and mask each other, which
    is exactly the failure mode of mean/stddev on heavy-tailed money
    or latency columns.

    Two grouped EXACT percentile aggregates (median, then median of
    absolute deviations) with a join back between them. Exact
    ``percentile`` is chosen for bit-reproducibility (and DuckDB
    ``quantile_cont`` parity); it holds one group's values per
    aggregation buffer, so for millions of rows per group switch the
    dial to ``percentile_approx`` — the flag threshold is robust to
    small quantile error by construction. Both shuffles are on the
    (low-cardinality) group key; the scored rows themselves shuffle
    twice — at 100 TB pre-aggregate or sample the scale estimate
    instead (the same top-V degradation argument as the LM scorer).

    The modified z-score is computed from the ``round_to``-rounded
    median and MAD so the flag decision reproduces cross-engine.
    Groups with MAD = 0 (>50% of rows at the median) yield NULL
    robust_z and are never flagged — use ``value != med`` there.

    Output (flagged rows only): id, group, value, med, mad, robust_z.
    """
    group = F.col(by) if by else F.lit("all")
    s = df.select(
        F.col(id_col).alias("id"),
        group.alias("grp"),
        F.col(value_col).cast("double").alias("value"),
    ).filter(F.col("value").isNotNull())
    med = s.groupBy("grp").agg(
        F.round(F.percentile("value", F.lit(0.5)), round_to).alias("med")
    )
    dev = s.join(med, "grp").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("grp").agg(
        F.round(F.percentile("adev", F.lit(0.5)), round_to).alias("mad")
    )
    scored = dev.join(mad, "grp").withColumn(
        "robust_z",
        F.round(
            (F.col("value") - F.col("med"))
            / F.nullif(F.lit(1.4826) * F.col("mad"), F.lit(0.0)),
            round_to,
        ),
    )
    return scored.filter(
        F.abs(F.col("robust_z")) > F.lit(float(k))
    ).select("id", F.col("grp").alias("grp"), "value", "med", "mad",
             "robust_z")


def ab_test(
    df: DataFrame,
    *,
    arm_col: str,
    metric_col: str,
    control: str,
    treatment: str,
    by: str | None = None,
    z_threshold: float = 1.96,
    round_to: int = 6,
) -> DataFrame:
    """Two-sample experiment readout: per segment, compare the
    treatment arm's metric mean against control with a Welch z
    statistic (unequal variances, the safe default) — the analysis
    every A/B-tested pipeline change ends in, computed in one pass.

    One conditional hash aggregate per segment — count/mean/variance
    for each arm via ``when()`` filters inside the same groupBy, so
    the metric rows shuffle once on the (low-cardinality) segment key
    and never per arm. The z statistic is computed from the
    ``round_to``-rounded moments, making the significance verdict
    reproducible across engines (single-pass variance accumulations
    differ in low-order bits). Welch's normal approximation needs
    n ≳ 30 per arm — the NULL z for empty/singleton arms (variance
    undefined) marks segments too thin to read.

    Output per segment: grp, n_ctl, n_trt, mean_ctl, mean_trt,
    var_ctl, var_trt, lift (relative), z, significant.
    """
    group = F.col(by) if by else F.lit("all")
    arm = F.col(arm_col)
    metric = F.col(metric_col).cast("double")
    s = df.select(
        group.alias("grp"), arm.alias("arm"), metric.alias("m")
    ).filter(F.col("m").isNotNull() & F.col("arm").isin(control, treatment))
    ctl = F.when(F.col("arm") == control, F.col("m"))
    trt = F.when(F.col("arm") == treatment, F.col("m"))
    agg = s.groupBy("grp").agg(
        F.count(ctl).alias("n_ctl"),
        F.count(trt).alias("n_trt"),
        F.round(F.avg(ctl), round_to).alias("mean_ctl"),
        F.round(F.avg(trt), round_to).alias("mean_trt"),
        F.round(F.var_samp(ctl), round_to).alias("var_ctl"),
        F.round(F.var_samp(trt), round_to).alias("var_trt"),
    )
    se = F.sqrt(
        F.col("var_ctl") / F.col("n_ctl") + F.col("var_trt") / F.col("n_trt")
    )
    z = F.round(
        (F.col("mean_trt") - F.col("mean_ctl")) / F.nullif(se, F.lit(0.0)),
        4,
    )
    lift = F.round(
        F.col("mean_trt") / F.nullif(F.col("mean_ctl"), F.lit(0.0)) - 1.0,
        round_to,
    )
    return agg.select(
        "grp", "n_ctl", "n_trt", "mean_ctl", "mean_trt", "var_ctl",
        "var_trt",
        lift.alias("lift"),
        z.alias("z"),
        F.coalesce(
            F.abs(z) > F.lit(float(z_threshold)), F.lit(False)
        ).alias("significant"),
    )


def spearman_corr(
    df: DataFrame,
    *,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-group Spearman rank correlation: Pearson correlation of the
    AVERAGE ranks of x and y — the monotone-association readout that is
    robust to outliers and nonlinearity, where raw Pearson (``corr``)
    is neither.  The standard screen for "does value move with time of
    day / size / position" over thousands of segments at once.

    Average (midrank) tie handling is exact, not approximate:
    ``rank() + (count(*) over ties − 1)/2`` assigns every member of a
    tie group the mean of the positions it spans — the same midranks
    SciPy's ``spearmanr`` uses, computed with two window functions and
    no UDF.  One shuffle (partition by group; both rank windows and the
    tie counts share it), then one hash aggregate.  Degenerate groups
    (constant x or y — zero rank variance) yield NULL rho rather than
    an engine-dependent NaN.

    Rows with NULL x or y are dropped (pairwise-complete).  Output:
    group cols, n, rho.
    """
    s = df.select(
        *[F.col(c) for c in group_cols],
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
    ).filter(F.col("_x").isNotNull() & F.col("_y").isNotNull())
    gp = [F.col(c) for c in group_cols]
    rank_x = F.rank().over(Window.partitionBy(*gp).orderBy("_x")) + (
        F.count(F.lit(1)).over(Window.partitionBy(*gp, F.col("_x"))) - 1
    ) / 2.0
    rank_y = F.rank().over(Window.partitionBy(*gp).orderBy("_y")) + (
        F.count(F.lit(1)).over(Window.partitionBy(*gp, F.col("_y"))) - 1
    ) / 2.0
    ranked = s.withColumn("_rx", rank_x).withColumn("_ry", rank_y)
    # corr() divides by a zero stddev under ANSI mode; build the Pearson
    # quotient from guarded moments instead (NULL for degenerate groups).
    agg = ranked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.covar_pop("_rx", "_ry").alias("_cov"),
        F.var_pop("_rx").alias("_vx"),
        F.var_pop("_ry").alias("_vy"),
    )
    return agg.select(
        *group_cols,
        "n",
        F.round(
            F.when(
                (F.col("_vx") > 0) & (F.col("_vy") > 0),
                F.col("_cov") / F.sqrt(F.col("_vx") * F.col("_vy")),
            ),
            round_to,
        ).alias("rho"),
    )


def gini_concentration(
    df: DataFrame,
    *,
    group_cols: list[str],
    value_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-group Gini coefficient of value concentration: 0 = the
    group's total is spread evenly across its rows, →1 = one row holds
    everything.  The inequality lens on any "who contributes the
    volume" question — revenue per customer, tokens per source, events
    per user — and the canonical skew early-warning for partitioning
    keys.

    Computed from the sorted-rank identity
    ``G = 2·Σᵢ i·vᵢ / (n·Σv) − (n+1)/n`` (values ascending, i
    1-based): ONE rank window plus one hash aggregate, no pairwise
    |vᵢ−vⱼ| self-join (the definitional form is O(n²) and unusable at
    scale).  Ties need no tiebreak: equal values contribute the same
    Σ i·vᵢ under any permutation of their consecutive ranks, so the
    result is deterministic even though row_number over ties is not.

    Values are assumed non-negative (the Gini's domain); NULLs are
    dropped, and a group whose total is 0 yields NULL.  Output: group
    cols, n, total, gini.
    """
    s = df.select(
        *[F.col(c) for c in group_cols],
        F.col(value_col).cast("double").alias("_v"),
    ).filter(F.col("_v").isNotNull())
    gp = [F.col(c) for c in group_cols]
    ranked = s.withColumn(
        "_i", F.row_number().over(Window.partitionBy(*gp).orderBy("_v"))
    )
    agg = ranked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("_v").alias("_total"),
        F.sum(F.col("_i") * F.col("_v")).alias("_iv"),
    )
    gini = F.when(
        F.col("_total") > 0,
        F.lit(2.0) * F.col("_iv") / (F.col("n") * F.col("_total"))
        - (F.col("n") + 1) / F.col("n"),
    )
    return agg.select(
        *group_cols,
        "n",
        F.round("_total", round_to).alias("total"),
        F.round(gini, round_to).alias("gini"),
    )


def cms_sketch(
    df: DataFrame,
    *,
    item_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Count-min sketch of item frequencies: a fixed ``depth × width``
    table of bucket counts, each row of the sketch keyed by an
    independent md5-derived hash.  The mergeable, bounded-size
    frequency summary for streams and incremental corpora — estimates
    never undercount, and overcount by at most the collision mass of
    the narrowest row (ε ≈ e/width with probability 1−e^−depth).

    Build cost: one row-local explode to ``depth`` rows per item, then
    ONE map-side-combinable aggregate whose result is at most
    depth·width rows no matter the input size — the same
    bounded-shuffle shape as the KMV sketches.  Two sketches built
    with the same (depth, width) merge by adding bucket counts
    (``union → groupBy(d, bucket) → sum``), which is what makes the
    structure incremental.  Hashing is :func:`hash64` (md5-derived),
    so the sketch — not just its estimates — is replayable bit-for-bit
    in any engine with ``md5()``.

    Output: d (0-based row), bucket, n.
    """
    from knot_another_pipeline_spark.functions.hashing import hash64

    if depth < 1:
        raise ValueError(f"depth must be >= 1, got {depth}")
    if width < 2:
        raise ValueError(f"width must be >= 2, got {width}")
    return (
        df.select(F.col(item_col).alias("item"))
        .filter(F.col("item").isNotNull())
        .select(
            F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d"),
            F.col("item"),
        )
        .select(
            "d", F.pmod(hash64(F.col("item"), F.col("d")), F.lit(width)).alias("bucket")
        )
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


def cms_estimate(
    sketch: DataFrame,
    items: DataFrame,
    *,
    item_col: str,
    depth: int,
    width: int,
) -> DataFrame:
    """Point-query a :func:`cms_sketch`: for every item in ``items``,
    the count-min estimate ``min_d sketch[d][h_d(item)]``.  Must be
    called with the SAME (depth, width) the sketch was built with —
    the hash family is derived from them.

    Each queried item expands row-locally to its ``depth`` probe keys;
    the probe joins the sketch on (d, bucket) — the sketch side is at
    most depth·width rows, so AQE broadcasts it — and one hash
    aggregate takes the min.  An item absent from the corpus can still
    collide into occupied buckets: the estimate is its collision mass
    (the classic CMS overcount), never an error; a probe that misses
    the sketch entirely counts 0.

    Output: item, est_n.
    """
    probes = (
        items.select(F.col(item_col).alias("item"))
        .filter(F.col("item").isNotNull())
        .distinct()
        .select(
            F.col("item"),
            F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("d"),
        )
    )
    from knot_another_pipeline_spark.functions.hashing import hash64

    keyed = probes.select(
        "item",
        "d",
        F.pmod(hash64(F.col("item"), F.col("d")), F.lit(width)).alias("bucket"),
    )
    joined = keyed.join(sketch, ["d", "bucket"], "left")
    return joined.groupBy("item").agg(
        F.min(F.coalesce(F.col("n"), F.lit(0))).cast("bigint").alias("est_n")
    )


def did_readout(
    df: DataFrame,
    *,
    treat_col: str,
    post_col: str,
    metric_col: str,
    by: str | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Difference-in-differences experiment readout: the change in the
    treated group's mean minus the change in the control group's mean,
    ``(ȳ_T,post − ȳ_T,pre) − (ȳ_C,post − ȳ_C,pre)`` — the standard
    causal estimate when treatment was NOT randomized (a feature
    shipped to one region, a pipeline change on one source) and a raw
    post-period comparison would absorb the secular trend
    :func:`ab_test` assumes away.

    ``treat_col`` and ``post_col`` are boolean (or 0/1) flags.  ONE
    hash aggregate per ``by`` segment computes all four cell counts
    and means as conditional aggregates — no joins, no second scan,
    the same shape as :func:`ab_test`.  The estimate is derived from
    the ROUNDED cell means, so any two engines (or partitionings)
    agree bit-for-bit.  A segment missing any of the four cells yields
    NULL ``did`` rather than a misleading zero.

    Output per segment: grp, the four cell ns and means, pre/post
    deltas per arm, did.
    """
    grp = F.col(by) if by else F.lit("all")
    t = F.col(treat_col).cast("boolean")
    p = F.col(post_col).cast("boolean")
    m = F.col(metric_col).cast("double")
    s = df.select(
        grp.alias("grp"), t.alias("_t"), p.alias("_p"), m.alias("_m")
    ).filter(
        F.col("_m").isNotNull()
        & F.col("_t").isNotNull()
        & F.col("_p").isNotNull()
    )

    def cell(tv: bool, pv: bool) -> tuple:
        cond = (F.col("_t") == tv) & (F.col("_p") == pv)
        name = f"{'trt' if tv else 'ctl'}_{'post' if pv else 'pre'}"
        return (
            F.sum(cond.cast("long")).alias(f"n_{name}"),
            F.round(F.avg(F.when(cond, F.col("_m"))), round_to).alias(
                f"mean_{name}"
            ),
        )

    aggs = [a for tv in (False, True) for pv in (False, True) for a in cell(tv, pv)]
    out = s.groupBy("grp").agg(*aggs)
    delta_ctl = F.round(
        F.col("mean_ctl_post") - F.col("mean_ctl_pre"), round_to
    )
    delta_trt = F.round(
        F.col("mean_trt_post") - F.col("mean_trt_pre"), round_to
    )
    return out.select(
        "grp",
        "n_ctl_pre", "mean_ctl_pre",
        "n_ctl_post", "mean_ctl_post",
        "n_trt_pre", "mean_trt_pre",
        "n_trt_post", "mean_trt_post",
        delta_ctl.alias("delta_ctl"),
        delta_trt.alias("delta_trt"),
        F.round(delta_trt - delta_ctl, round_to).alias("did"),
    )


def chi2_independence(
    df: DataFrame,
    *,
    row_col: str,
    col_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Chi-square test of independence between two categorical columns,
    with Cramér's V as the normalized effect size — "does event mix
    depend on time of day / source / region?", the workhorse
    categorical-drift and segmentation screen.

    One hash aggregate builds the contingency table (|R|·|C| rows);
    row totals, column totals, and the grand total are DISTRIBUTED
    aggregates over that table joined back on the margin keys — not
    whole-table windows, which would funnel every cell through one
    task and break for high-cardinality categorical pairs (millions of
    cells is a plain join here, an OOM there); one final aggregate
    sums the per-cell ``(observed − expected)²/expected``
    contributions.  The statistic is emitted with its degrees of
    freedom and Cramér's V (``sqrt(χ²/(N·min(R−1, C−1)))``) rather
    than a p-value — SQL engines have no portable chi-square CDF, and
    V is the scale-free number dashboards actually compare.

    Output (single row): n, n_rows, n_cols, dof, chi2, cramers_v.
    """
    cells = (
        df.select(
            F.col(row_col).alias("_r"), F.col(col_col).alias("_c")
        )
        .filter(F.col("_r").isNotNull() & F.col("_c").isNotNull())
        .groupBy("_r", "_c")
        .agg(F.count(F.lit(1)).cast("double").alias("_n"))
    )
    # NB: column resolution is case-insensitive — "_N" would collide
    # with "_n", so the grand total is "_tot".
    row_totals = cells.groupBy("_r").agg(F.sum("_n").alias("_rt"))
    col_totals = cells.groupBy("_c").agg(F.sum("_n").alias("_ct"))
    grand = cells.agg(F.sum("_n").alias("_tot"))
    scored = (
        cells.join(row_totals, "_r")
        .join(col_totals, "_c")
        .crossJoin(F.broadcast(grand))
    ).withColumn(
        # chi2 = sum over ALL cells of (o-e)^2/e, including the
        # structural zeros groupBy never materializes. The identity
        # sum (o-e)^2/e = sum o^2/e - N makes the empty cells free:
        # they contribute 0 to sum o^2/e.
        "_contrib",
        F.col("_n") * F.col("_n") * F.col("_tot")
        / (F.col("_rt") * F.col("_ct")),
    )
    agg = scored.agg(
        F.max("_tot").cast("bigint").alias("n"),
        F.count_distinct("_r").cast("bigint").alias("n_rows"),
        F.count_distinct("_c").cast("bigint").alias("n_cols"),
        F.round(F.sum("_contrib") - F.max("_tot"), round_to).alias("chi2"),
    )
    k = F.least(F.col("n_rows") - 1, F.col("n_cols") - 1)
    return agg.select(
        "n",
        "n_rows",
        "n_cols",
        ((F.col("n_rows") - 1) * (F.col("n_cols") - 1))
        .cast("bigint")
        .alias("dof"),
        "chi2",
        F.round(
            F.when(k > 0, F.sqrt(F.col("chi2") / (F.col("n") * k))),
            round_to,
        ).alias("cramers_v"),
    )


def weighted_median(
    df: DataFrame,
    *,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-group weighted (lower) median: the smallest value whose
    cumulative weight reaches half the group's total — "the median
    price weighted by quantity", "the median latency weighted by
    request volume" — where the unweighted median would let a million
    1-unit rows outvote the rows carrying the actual volume.

    One rank-window pass (cumulative weight over values ascending) and
    one aggregate taking the first crossing.  Value ties need no
    tiebreak: whichever tied row's cumulative weight crosses the
    half-total first, the SELECTED VALUE is the same — the answer is
    deterministic even though the intra-tie order is not.  Zero or
    negative weights are dropped (they have no mass interpretation);
    a group with no positive weight disappears from the output.

    Output: group cols, n, total_weight, weighted_median.
    """
    s = df.select(
        *[F.col(c) for c in group_cols],
        F.col(value_col).cast("double").alias("_v"),
        F.col(weight_col).cast("double").alias("_w"),
    ).filter(
        F.col("_v").isNotNull() & F.col("_w").isNotNull() & (F.col("_w") > 0)
    )
    gp = [F.col(c) for c in group_cols]
    cum = Window.partitionBy(*gp).orderBy("_v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    full = Window.partitionBy(*gp)
    scored = s.select(
        *group_cols,
        "_v",
        "_w",
        F.sum("_w").over(cum).alias("_cw"),
        F.sum("_w").over(full).alias("_tw"),
        F.count(F.lit(1)).over(full).alias("_n"),
    ).filter(F.col("_cw") >= F.col("_tw") / 2)
    return scored.groupBy(*group_cols).agg(
        F.max("_n").cast("bigint").alias("n"),
        F.round(F.max("_tw"), round_to).alias("total_weight"),
        F.round(F.min("_v"), round_to).alias("weighted_median"),
    )


def ks_test(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    *,
    by: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic per group: the largest
    gap between the two samples' empirical CDFs — the
    distribution-shape drift alarm that catches what mean/variance
    screens (``ab_test``) and fixed-grid screens (``psi_stability``,
    ``histogram_drift``) miss: same mean but different tails, mass
    moving WITHIN a histogram bin, a new mode between grid lines.  KS
    needs no binning decisions at all, which is why it's the standard
    "did this feature's distribution change between snapshots"
    two-sample test.

    Exact, not sampled: both sides aggregate to per-(group, value)
    counts in ONE shuffle (the only corpus-sized exchange), the CDF gap
    comes from running sums over THAT frame — windows keyed by the
    group, so per-task work is bounded by a group's distinct values —
    and a final hash aggregate takes the max gap.  With ``by=None``
    everything keys on a constant: the window frame is then the
    combined DISTINCT-value table (bounded by value cardinality, far
    below row count for real metrics, but document-level scores with
    billions of distinct values should pass a group).  ``D`` is
    evaluated AT the pooled jump points, which is exactly where the
    sup of an ECDF difference is attained — no grid approximation.

    Also emits the scaled statistic ``sqrt(n_a·n_b/(n_a+n_b))·D``
    (compare to the Kolmogorov quantile, 1.358 at α=0.05) — no
    p-value, same portability rationale as ``chi2_independence``.

    Output per group: by cols, n_a, n_b, ks_d, ks_scaled.
    """
    gcols = list(by or [])
    a = df_a.select(
        *[F.col(c) for c in gcols],
        F.col(value_col).cast("double").alias("_v"),
        F.lit(1).alias("_ina"),
        F.lit(0).alias("_inb"),
    )
    b = df_b.select(
        *[F.col(c) for c in gcols],
        F.col(value_col).cast("double").alias("_v"),
        F.lit(0).alias("_ina"),
        F.lit(1).alias("_inb"),
    )
    pooled = (
        a.unionByName(b)
        .filter(F.col("_v").isNotNull() & ~F.isnan(F.col("_v")))
        .groupBy(*gcols, "_v")
        .agg(
            F.sum("_ina").cast("double").alias("_na"),
            F.sum("_inb").cast("double").alias("_nb"),
        )
    )
    gp = [F.col(c) for c in gcols]
    cum = Window.partitionBy(*gp).orderBy("_v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    full = Window.partitionBy(*gp)
    gaps = pooled.select(
        *gcols,
        F.sum("_na").over(full).alias("_ta"),
        F.sum("_nb").over(full).alias("_tb"),
        F.abs(
            F.sum("_na").over(cum) / F.sum("_na").over(full)
            - F.sum("_nb").over(cum) / F.sum("_nb").over(full)
        ).alias("_gap"),
    ).filter((F.col("_ta") > 0) & (F.col("_tb") > 0))
    d = F.round(F.max("_gap"), round_to)
    return gaps.groupBy(*gcols).agg(
        F.max("_ta").cast("bigint").alias("n_a"),
        F.max("_tb").cast("bigint").alias("n_b"),
        d.alias("ks_d"),
        F.round(
            F.max("_gap")
            * F.sqrt(
                F.max("_ta") * F.max("_tb") / (F.max("_ta") + F.max("_tb"))
            ),
            round_to,
        ).alias("ks_scaled"),
    )


def cohens_kappa(
    df: DataFrame,
    *,
    rater_a: str,
    rater_b: str,
    round_to: int = 6,
) -> DataFrame:
    """Cohen's kappa: chance-corrected agreement between two categorical
    labelings of the same items — THE consensus-quality number for a
    labeling pipeline (raw percent agreement flatters raters who both
    spam the majority class; kappa subtracts the agreement their
    marginal label rates would produce by luck).  Pairs with
    ``majority_vote``: vote picks the consensus label, kappa tells you
    whether the raters agree enough for that consensus to mean
    anything (Landis-Koch reading: <0 poor, 0.2 slight … >0.8 almost
    perfect).

    ``κ = (p_o − p_e)/(1 − p_e)`` with ``p_o`` = observed agreement
    rate and ``p_e = Σ_c p_a(c)·p_b(c)`` from the two marginal
    distributions.  Everything derives from ONE contingency-table
    aggregate ``groupBy(a, b).count()`` (r12, guide §2.4): the input —
    and whatever expensive labeling chain feeds it — is scanned once
    into a single exchange that every downstream aggregate reuses
    (the old shape's three direct aggregates each re-instantiated the
    upstream; measured two ~1.4 s duplicate jobs on label_agreement's
    detect-language chain).  The initial physical plan holds that
    exchange once per consumer (``obs``, ``ma``, ``mb``), so a static
    census such as tools/plan_shapes.py counts it three times; at run
    time AQE executes it once and the other two are
    ``ReusedExchange``.  The marginals and totals are re-aggregates
    of the C²-row table; all intermediate counts are exact integers
    (≤2⁵³) so sums are order-independent and the output is
    bit-identical to the three-pass form, including on empty input
    (``n = 0``, the three ratios NULL).  Rows where either label is
    NULL are dropped (abstentions are a coverage question, not an
    agreement question).  Perfect chance agreement (``p_e = 1``: both
    raters constant on the same label) leaves kappa undefined → NULL.

    Output (one row): n, p_observed, p_expected, kappa.
    """
    s = df.select(
        F.col(rater_a).cast("string").alias("_a"),
        F.col(rater_b).cast("string").alias("_b"),
    ).filter(F.col("_a").isNotNull() & F.col("_b").isNotNull())
    # contingency table: C_a × C_b rows, bounded by label cardinality
    ct = s.groupBy("_a", "_b").agg(F.count(F.lit(1)).alias("_cnt"))
    obs = ct.agg(
        # n counts rows, so it is 0 (not the NULL of a SUM over no rows);
        # _agree stays NULL there, so the ratios are NULL, not 0.0/0.0
        F.coalesce(F.sum("_cnt"), F.lit(0)).cast("double").alias("_n"),
        F.sum(
            F.when(F.col("_a") == F.col("_b"), F.col("_cnt")).otherwise(
                F.lit(0)
            )
        )
        .cast("double")
        .alias("_agree"),
    )
    ma = ct.groupBy(F.col("_a").alias("_cat")).agg(
        F.sum("_cnt").cast("double").alias("_ca")
    )
    mb = ct.groupBy(F.col("_b").alias("_cat")).agg(
        F.sum("_cnt").cast("double").alias("_cb")
    )
    pe = (
        ma.join(mb, "_cat", "full_outer")
        .agg(
            F.sum(
                F.coalesce("_ca", F.lit(0.0)) * F.coalesce("_cb", F.lit(0.0))
            ).alias("_pe_num")
        )
    )
    return (
        obs.crossJoin(pe)
        .select(
            F.col("_n").cast("bigint").alias("n"),
            F.round(F.col("_agree") / F.col("_n"), round_to).alias(
                "p_observed"
            ),
            F.round(
                F.col("_pe_num") / (F.col("_n") * F.col("_n")), round_to
            ).alias("p_expected"),
            F.round(
                F.when(
                    F.col("_pe_num") / (F.col("_n") * F.col("_n")) < 1.0,
                    (
                        F.col("_agree") / F.col("_n")
                        - F.col("_pe_num") / (F.col("_n") * F.col("_n"))
                    )
                    / (
                        F.lit(1.0)
                        - F.col("_pe_num") / (F.col("_n") * F.col("_n"))
                    ),
                ),
                round_to,
            ).alias("kappa"),
        )
    )


def hll_distinct(
    df: DataFrame,
    *,
    group_cols: list[str],
    value_col: str,
    p: int = 9,
    round_to: int = 2,
) -> DataFrame:
    """HyperLogLog distinct-count estimate per group (Flajolet et al.
    2007) with DETERMINISTIC md5-derived hashing — unlike Spark's
    built-in ``approx_count_distinct`` (xxhash-based, JVM-private
    layout), every register value here is reproducible in any engine
    with ``md5()``, so the estimate itself is oracle-checkable and
    stable across reruns, engines, and versions — the same
    engine-portability contract as the KMV/CMS sketches in this
    module, with HLL's fixed 2^p-register footprint instead of KMV's
    k-value heap.

    Layout: h = first 40 bits of md5(value); register index = top
    ``p`` bits; rho = position of the first 1-bit in the remaining
    ``w = 40−p`` bits (w+1 if all zero).  Estimate = α_m·m²/Σ2^{−rho}
    with empty registers contributing 2^0, and the standard
    small-range linear-counting correction (E ≤ 2.5m with empty
    registers → m·ln(m/V)).

    Scale shape: ONE hash aggregate to per-(group, register) max-rho
    — the shuffle carries at most m=2^p rows per group regardless of
    input size (map-side combined), then a per-group rollup to the
    estimate.  Registers MERGE by max, so per-partition /
    per-partition-then-union rollups give bit-identical results —
    the sketch property that makes incremental daily rollups exact.
    The exact distinct count is NOT computed here (that's the
    expensive thing this avoids); compare against ``kmv_distinct``
    or an exact count in tests.

    Output per group: group_cols…, n_registers_hit, hll_estimate
    (rounded).
    """
    regs = hll_registers(df, group_cols=group_cols, value_col=value_col, p=p)
    folded = regs.groupBy(*group_cols, "register").agg(
        F.max("rho").alias("rho")
    )
    return hll_estimate(
        folded, group_cols=group_cols, p=p, round_to=round_to
    )


def hll_registers(
    df: DataFrame,
    *,
    group_cols: list[str],
    value_col: str,
    p: int = 9,
) -> DataFrame:
    """ROW-LEVEL HLL register observations (group…, register, rho) —
    the pre-fold form :func:`hll_distinct` max-aggregates, exposed so
    incremental consumers can merge registers themselves: a streaming
    sink keyed on (group, register) with latest-by-``rho`` upsert IS
    the HLL merge (``streaming/rollup_stream.py
    streaming_distinct_monitor``).  Entirely row-local codegen — safe
    on a streaming DataFrame (no aggregation before the sink)."""
    if not group_cols:
        raise ValueError("group_cols must not be empty")
    if not 4 <= p <= 16:
        raise ValueError(f"p must be in [4, 16], got {p}")
    w = 40 - p
    h = F.conv(
        F.substring(F.md5(F.col(value_col).cast("string")), 1, 10), 16, 10
    ).cast("long")
    idx = F.shiftright(h, w)
    rem = h.bitwiseAND(F.lit((1 << w) - 1))
    # bit length via the base-2 string: exact, no float log2 edge cases
    rho = F.when(
        rem > 0, F.lit(w + 1) - F.length(F.conv(rem, 10, 2))
    ).otherwise(F.lit(w + 1))
    return df.filter(F.col(value_col).isNotNull()).select(
        *group_cols, idx.alias("register"), rho.alias("rho")
    )


def hll_estimate(
    registers: DataFrame,
    *,
    group_cols: list[str],
    p: int = 9,
    round_to: int = 2,
) -> DataFrame:
    """Estimate from a MAX-FOLDED register table (group…, register,
    rho) — the read side of the mergeable HLL state. Standard alpha_m
    bias correction plus the small-range linear-counting branch."""
    m = 1 << p
    alpha = 0.7213 / (1.0 + 1.079 / m)
    per_group = registers.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("_hit"),
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("_zsum"),
    )
    z = F.col("_zsum") + (F.lit(m) - F.col("_hit"))  # empty regs add 2^0
    raw = F.lit(alpha * m * m) / z
    v = F.lit(m) - F.col("_hit")
    est = F.when(
        (raw <= 2.5 * m) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v),
    ).otherwise(raw)
    return per_group.select(
        *group_cols,
        F.col("_hit").cast("bigint").alias("n_registers_hit"),
        F.round(est, round_to).alias("hll_estimate"),
    )


def join_health(
    fact: DataFrame,
    dim: DataFrame,
    *,
    fact_key: str,
    dim_key: str,
    round_to: int = 6,
) -> DataFrame:
    """Referential-integrity health report for a fact→dimension join —
    the pre-flight check that catches the three silent join killers
    before a pipeline ships: orphaned fact keys (rows that vanish on an
    inner join), duplicated dimension keys (rows that FAN OUT and
    inflate every downstream aggregate), and NULL keys (dropped by
    equi-joins without a trace).

    Scale shape: the dimension side reduces to a per-key count table
    first (dim-cardinality, one hash aggregate), and the fact side
    LEFT-joins that table once — at 100× this is the same partitioned
    equi-join the real query would run, never a crossJoin, and all
    report numbers fall out of ONE conditional aggregate over the
    joined frame plus one over the key table.  Fan-out figures are
    computed from the dim-side key counts weighted by fact matches, so
    ``max_fanout`` is exactly "the most rows one fact row would become".

    Output (one row): n_fact, n_fact_null_key, n_dim, n_dim_dup_keys,
    n_matched, n_orphan, match_rate, avg_fanout (expected output rows
    per matched fact row), max_fanout.
    """
    f = fact.select(F.col(fact_key).alias("k"))
    d = dim.select(F.col(dim_key).alias("k")).filter(F.col("k").isNotNull())
    dcnt = d.groupBy("k").agg(F.count(F.lit(1)).alias("n_dim_rows"))
    joined = f.join(dcnt, "k", "left")
    rep = joined.agg(
        F.count(F.lit(1)).alias("n_fact"),
        F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).alias(
            "n_fact_null_key"
        ),
        F.sum(
            F.when(F.col("n_dim_rows").isNotNull(), 1).otherwise(0)
        ).alias("n_matched"),
        F.sum(F.coalesce("n_dim_rows", F.lit(0))).alias("_out_rows"),
        F.max(F.coalesce("n_dim_rows", F.lit(0))).alias("_max_fanout"),
    )
    dstats = dcnt.agg(
        F.sum("n_dim_rows").alias("n_dim"),
        F.sum(F.when(F.col("n_dim_rows") > 1, 1).otherwise(0)).alias(
            "n_dim_dup_keys"
        ),
    )
    return rep.crossJoin(F.broadcast(dstats)).select(
        F.col("n_fact").cast("bigint").alias("n_fact"),
        F.col("n_fact_null_key").cast("bigint").alias("n_fact_null_key"),
        F.coalesce("n_dim", F.lit(0)).cast("bigint").alias("n_dim"),
        F.coalesce("n_dim_dup_keys", F.lit(0))
        .cast("bigint")
        .alias("n_dim_dup_keys"),
        F.col("n_matched").cast("bigint").alias("n_matched"),
        (F.col("n_fact") - F.col("n_matched"))
        .cast("bigint")
        .alias("n_orphan"),
        F.round(
            F.when(
                F.col("n_fact") > 0,
                F.col("n_matched").cast("double") / F.col("n_fact"),
            ),
            round_to,
        ).alias("match_rate"),
        F.round(
            F.when(
                F.col("n_matched") > 0,
                F.col("_out_rows").cast("double") / F.col("n_matched"),
            ),
            round_to,
        ).alias("avg_fanout"),
        F.col("_max_fanout").cast("bigint").alias("max_fanout"),
    )


# Poisson(1) CDF thresholds for the deterministic bootstrap: a uniform
# u in [0,1) maps to the replicate weight k = #{thresholds < u}. Module
# constant so the DuckDB oracle interpolates the IDENTICAL binary64
# literals (repr) — the weights must agree bit-for-bit cross-engine.
_POISSON1_CDF = [
    math.exp(-1.0) * s
    for s in [
        1.0,
        2.0,
        2.5,
        2.6666666666666665,
        2.708333333333333,
        2.7166666666666663,
        2.7180555555555554,
        2.718253968253968,
        2.71827876984127,
    ]
]


def bootstrap_ci(
    df: DataFrame,
    *,
    id_col: str,
    value_col: str,
    reps: int = 100,
    level: float = 0.95,
    round_to: int = 6,
) -> DataFrame:
    """Poisson-bootstrap confidence interval for a mean — the
    cluster-scale bootstrap (Chamandy et al., "Estimating Uncertainty
    for Massive Data Streams"): classical resampling needs N draws per
    replicate from a dataset no single machine holds, but Poisson(1)
    per-row weights approximate multinomial resampling with NO
    coordination — each row independently decides how many times it
    appears in each replicate.

    DETERMINISTIC: the weight for (row, rep) is the Poisson(1) inverse
    CDF applied to a 40-bit md5 uniform of ``id:rep`` — reruns, engines
    and partitionings all produce the same replicates (the same
    reproducibility contract as ``hash_sample``/``split_assign``).

    Scale shape: rows explode ×``reps`` (a plan-time literal array),
    then ONE hash aggregate to ``reps`` (Σw·x, Σw) partials — map-side
    combined, so the shuffle carries ``reps`` rows per task, not
    ``reps``×N.  The replicate means (≤ ``reps`` rows) sort on the
    driver-side scale only — the single-partition window is bounded by
    ``reps``, never by data.  The interval is the order-statistic CI:
    lo/hi are the replicate means at ranks ⌊(B−1)·α/2⌋+1 and B−⌊…⌋.

    Output (one row): n_rows, reps, mean, boot_lo, boot_hi (rounded).
    """
    if reps < 10:
        raise ValueError(f"reps must be >= 10, got {reps}")
    if not 0 < level < 1:
        raise ValueError(f"level must be in (0, 1), got {level}")
    base = df.select(
        F.col(id_col).cast("string").alias("_id"),
        F.col(value_col).cast("double").alias("_x"),
    ).filter(F.col("_x").isNotNull())
    rep = base.select(
        "_id", "_x", F.explode(F.sequence(F.lit(0), F.lit(reps - 1))).alias("_r")
    )
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.col("_id"), F.col("_r"))), 1, 10
        ),
        16,
        10,
    ).cast("long")
    u = h.cast("double") / F.lit(float(1 << 40))
    w = sum(
        (F.when(u >= F.lit(t), 1).otherwise(0) for t in _POISSON1_CDF),
        F.lit(0),
    ).cast("double")
    means = (
        rep.withColumn("_w", w)
        .groupBy("_r")
        .agg(
            F.sum(F.col("_w") * F.col("_x")).alias("_sx"),
            F.sum("_w").alias("_sw"),
        )
        .select(
            "_r",
            F.when(F.col("_sw") > 0, F.col("_sx") / F.col("_sw")).alias(
                "_m"
            ),
        )
        .filter(F.col("_m").isNotNull())
    )
    wdw = Window.orderBy(F.col("_m").asc(), F.col("_r").asc())
    ranked = means.withColumn("_rk", F.row_number().over(wdw))
    alpha = (1.0 - level) / 2.0
    n_means = ranked.count()
    lo_rk = int((n_means - 1) * alpha) + 1
    hi_rk = n_means - lo_rk + 1
    lo = ranked.filter(F.col("_rk") == lo_rk).select(
        F.col("_m").alias("_lo")
    )
    hi = ranked.filter(F.col("_rk") == hi_rk).select(
        F.col("_m").alias("_hi")
    )
    overall = base.agg(
        F.count(F.lit(1)).alias("n_rows"), F.avg("_x").alias("_mean")
    )
    return (
        overall.crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.lit(reps).cast("bigint").alias("reps"),
            F.round("_mean", round_to).alias("mean"),
            F.round("_lo", round_to).alias("boot_lo"),
            F.round("_hi", round_to).alias("boot_hi"),
        )
    )


def correlation_matrix(
    df: DataFrame,
    *,
    cols: list[str],
    round_to: int = 6,
) -> DataFrame:
    """Pairwise Pearson correlation over a set of numeric columns — the
    feature-redundancy screen run before any model or monitoring
    dashboard (two 0.98-correlated features are one feature plus
    noise).  The numeric companion to ``spearman_corr`` (which ranks
    first) and ``chi2_independence`` (categorical).

    All C(k,2) pairs compute in ONE pass over the data: per pair the
    five sufficient statistics (n, Σx, Σy, Σx², Σy², Σxy) are
    conditional aggregates gated on BOTH columns being non-null
    (pairwise-complete deletion — each pair uses every row where its
    two columns exist; documented because it differs from listwise).
    The shuffle carries one ~6·C(k,2)-column row per task — map-side
    combined, zero joins, zero windows.  Constant columns (zero
    variance) yield NULL.  Explicit closed-form sums, not corr() —
    identical algebra in any engine.

    Output: col_a ≺ col_b (name order), n, corr (rounded).
    """
    if len(cols) < 2:
        raise ValueError(f"need >= 2 cols, got {len(cols)}")
    pairs = [
        (a, b) for i, a in enumerate(cols) for b in cols[i + 1:]
    ]
    aggs = []
    for i, (a, b) in enumerate(pairs):
        x = F.col(a).cast("double")
        y = F.col(b).cast("double")
        ok = x.isNotNull() & y.isNotNull()
        aggs += [
            F.sum(F.when(ok, 1).otherwise(0)).alias(f"n_{i}"),
            F.sum(F.when(ok, x)).alias(f"sx_{i}"),
            F.sum(F.when(ok, y)).alias(f"sy_{i}"),
            F.sum(F.when(ok, x * x)).alias(f"sxx_{i}"),
            F.sum(F.when(ok, y * y)).alias(f"syy_{i}"),
            F.sum(F.when(ok, x * y)).alias(f"sxy_{i}"),
        ]
    row = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{a}', '{b}', n_{i}, sx_{i}, sy_{i}, sxx_{i}, syy_{i}, sxy_{i}"
        for i, (a, b) in enumerate(pairs)
    )
    long = row.selectExpr(
        f"stack({len(pairs)}, {stack_args})"
        " as (col_a, col_b, n, sx, sy, sxx, syy, sxy)"
    )
    n = F.col("n").cast("double")
    cov = n * F.col("sxy") - F.col("sx") * F.col("sy")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    return long.select(
        "col_a",
        "col_b",
        F.col("n").cast("bigint").alias("n"),
        F.round(
            F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy)), round_to
        ).alias("corr"),
    )


def slice_diversity(
    df: DataFrame,
    *,
    group_cols: list[str],
    category_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Within-slice categorical diversity — Shannon entropy, normalized
    entropy, Simpson concentration and top-level share of a category
    mix per slice (sources per language, event types per cohort …):
    the dataset-balance readout behind "is this corpus slice dominated
    by one source?" — the number a mixing/sampling stage checks before
    and after reweighting (``domain_mix``/``temperature_mix``).

    Two chained hash aggregates — (slice, category) counts, then the
    slice rollup with entropy/Simpson as conditional sums and the top
    share via ``max`` — no windows, no joins, category cardinality
    bounded state.  NULL categories form their own level.

        entropy  = −Σ p·ln p          (nats)
        norm_entropy = entropy / ln(L)  (NULL when L = 1)
        simpson  = Σ p²               (1 = one level dominates)
        top_share = max p

    Output per slice: group_cols…, n, n_levels, entropy, norm_entropy,
    simpson, top_share (rounded).
    """
    if not group_cols:
        raise ValueError("group_cols must not be empty")
    counts = (
        df.select(
            *group_cols,
            F.coalesce(
                F.col(category_col).cast("string"), F.lit("(null)")
            ).alias("_lvl"),
        )
        .groupBy(*group_cols, "_lvl")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    totals = counts.groupBy(*group_cols).agg(
        F.sum("_c").alias("_n"), F.count(F.lit(1)).alias("_l")
    )
    p = F.col("_c").cast("double") / F.col("_n")
    per = counts.join(totals, group_cols).groupBy(
        *group_cols, "_n", "_l"
    ).agg(
        F.sum(-p * F.log(p)).alias("_h"),
        F.sum(p * p).alias("_simp"),
        F.max(p).alias("_top"),
    )
    return per.select(
        *group_cols,
        F.col("_n").cast("bigint").alias("n"),
        F.col("_l").cast("bigint").alias("n_levels"),
        F.round("_h", round_to).alias("entropy"),
        F.round(
            F.when(F.col("_l") > 1, F.col("_h") / F.log(F.col("_l").cast("double"))),
            round_to,
        ).alias("norm_entropy"),
        F.round("_simp", round_to).alias("simpson"),
        F.round("_top", round_to).alias("top_share"),
    )


def weighted_quantiles(
    df: DataFrame,
    *,
    group_cols: list[str],
    value_col: str,
    weight_col: str,
    quantiles: list[float] = (0.25, 0.5, 0.75, 0.9),
    round_to: int = 6,
) -> DataFrame:
    """Per-group weighted quantiles — the generalization of
    :func:`weighted_median` to an arbitrary quantile list: for each q,
    the smallest value whose cumulative weight reaches ``q·W`` (the
    weighted lower quantile).  "p90 latency weighted by request
    volume", "quartile price weighted by quantity" — the unweighted
    version lets a million 1-unit rows outvote the rows carrying the
    volume.

    ONE pass for ALL quantiles: weights first collapse to per-(group,
    value) mass (bounding the window frame by DISTINCT values, not
    rows), one cumulative-weight window over values ascending, then
    every requested q is a conditional ``min`` in the same aggregate —
    no per-q jobs, no sorting beyond the one window.  Value ties need
    no tiebreak (the selected VALUE is identical whichever tied row
    crosses).  Zero/negative/NULL weights are dropped; a group with no
    positive mass disappears.

    Output per group: group_cols…, then one column per quantile named
    ``q25``/``q50``/… (rounded).
    """
    if not group_cols:
        raise ValueError("group_cols must not be empty")
    qs = sorted(set(float(q) for q in quantiles))
    if not qs or any(not 0 < q < 1 for q in qs):
        raise ValueError(f"quantiles must be in (0, 1), got {quantiles}")
    w = F.col(weight_col).cast("double")
    mass = (
        df.select(
            *group_cols,
            F.col(value_col).cast("double").alias("_v"),
            w.alias("_w"),
        )
        .filter(F.col("_v").isNotNull() & (F.col("_w") > 0))
        .groupBy(*group_cols, "_v")
        .agg(F.sum("_w").alias("_m"))
    )
    win = Window.partitionBy(*group_cols).orderBy(F.col("_v").asc())
    wall = Window.partitionBy(*group_cols)
    cum = mass.withColumn("_cw", F.sum("_m").over(win)).withColumn(
        "_tw", F.sum("_m").over(wall)
    )
    aggs = []
    for q in qs:
        name = f"q{int(round(q * 100)):02d}"
        aggs.append(
            F.round(
                F.min(
                    F.when(
                        F.col("_cw") >= F.lit(q) * F.col("_tw"),
                        F.col("_v"),
                    )
                ),
                round_to,
            ).alias(name)
        )
    return cum.groupBy(*group_cols).agg(*aggs)


def proportion_test(
    df: DataFrame,
    *,
    group_col: str,
    success_col: str,
    group_a,
    group_b,
    round_to: int = 6,
) -> DataFrame:
    """Two-proportion z-test — "did the conversion rate really move
    between variant A and variant B?" — the binary-outcome sibling of
    the Welch-t :func:`ab_test` (means): pooled-proportion standard
    error, z statistic, and the fixed-α verdicts at 1.96/2.576 (95%/
    99% two-sided critical values; emitted as booleans because Spark
    SQL has no erf — the z value itself is there for exact p-values
    downstream).

    ONE conditional aggregate over the frame — both groups' counts in
    the same pass, no join, no second scan.  Rows outside the two
    groups or with NULL outcome are ignored.  Degenerate inputs (an
    empty group, or pooled p of exactly 0 or 1 — no variance) yield
    NULL z.

    Output (one row): n_a, n_b, successes_a, successes_b, p_a, p_b,
    diff, z, significant_95, significant_99.
    """
    g = F.col(group_col)
    y = F.col(success_col).cast("boolean")
    in_a, in_b = g == F.lit(group_a), g == F.lit(group_b)
    agg = df.filter(y.isNotNull() & (in_a | in_b)).agg(
        F.sum(F.when(in_a, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(in_b, 1).otherwise(0)).alias("n_b"),
        F.sum(F.when(in_a & y, 1).otherwise(0)).alias("s_a"),
        F.sum(F.when(in_b & y, 1).otherwise(0)).alias("s_b"),
    )
    na, nb = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    pa = F.when(na > 0, F.col("s_a") / na)
    pb = F.when(nb > 0, F.col("s_b") / nb)
    pool = F.when(
        na + nb > 0, (F.col("s_a") + F.col("s_b")) / (na + nb)
    )
    se = F.sqrt(pool * (1 - pool) * (1 / na + 1 / nb))
    z = F.when(
        (na > 0) & (nb > 0) & (pool > 0) & (pool < 1), (pa - pb) / se
    )
    return agg.select(
        F.col("n_a").cast("bigint").alias("n_a"),
        F.col("n_b").cast("bigint").alias("n_b"),
        F.col("s_a").cast("bigint").alias("successes_a"),
        F.col("s_b").cast("bigint").alias("successes_b"),
        F.round(pa, round_to).alias("p_a"),
        F.round(pb, round_to).alias("p_b"),
        F.round(pa - pb, round_to).alias("diff"),
        F.round(z, round_to).alias("z"),
        F.when(z.isNotNull(), F.abs(z) > 1.959963984540054).alias(
            "significant_95"
        ),
        F.when(z.isNotNull(), F.abs(z) > 2.5758293035489004).alias(
            "significant_99"
        ),
    )


def profile_drift(
    baseline: DataFrame,
    current: DataFrame,
    columns: list[str] | None = None,
    *,
    null_rate_tol: float = 0.05,
    distinct_ratio_tol: float = 0.5,
    round_to: int = 6,
) -> DataFrame:
    """Schema-health drift between two snapshots of the same table —
    :func:`profile_table` run on both sides and diffed per column,
    with verdicts on the two silent killers: a null-rate jump (an
    upstream field went dark) and a distinct-count collapse/explosion
    (an id column started truncating, an enum gained garbage).  The
    check a daily pipeline runs BEFORE publishing, because these
    breaks don't fail jobs — they fail analyses weeks later.

    Scale shape: each side is ONE profile aggregation pass (all
    columns together); the diff joins two column-count-sized frames.
    Row-count-relative rates, so snapshots of different sizes compare
    fairly.  ``min/max_changed`` flags value-range movement without
    judging it (ranges legitimately move; rates shouldn't).

    Output per column: col_name, n_rows_base, n_rows_cur,
    null_rate_base, null_rate_cur, null_rate_delta,
    distinct_ratio (cur distinct / base distinct; NULL when base is
    0), minmax_changed, verdict ('ok' | 'null_rate_drift' |
    'distinct_drift' | 'null_rate_drift+distinct_drift').
    """
    if null_rate_tol <= 0 or distinct_ratio_tol <= 0:
        raise ValueError("tolerances must be > 0")
    b = profile_table(baseline, columns).select(
        "col_name",
        F.col("n_rows").alias("n_rows_base"),
        F.col("n_nulls").alias("_nn_b"),
        F.col("n_distinct").alias("_nd_b"),
        F.col("min_value").alias("_min_b"),
        F.col("max_value").alias("_max_b"),
    )
    c = profile_table(current, columns).select(
        "col_name",
        F.col("n_rows").alias("n_rows_cur"),
        F.col("n_nulls").alias("_nn_c"),
        F.col("n_distinct").alias("_nd_c"),
        F.col("min_value").alias("_min_c"),
        F.col("max_value").alias("_max_c"),
    )
    j = b.join(c, "col_name")
    nr_b = F.when(
        F.col("n_rows_base") > 0,
        F.col("_nn_b").cast("double") / F.col("n_rows_base"),
    ).otherwise(F.lit(0.0))
    nr_c = F.when(
        F.col("n_rows_cur") > 0,
        F.col("_nn_c").cast("double") / F.col("n_rows_cur"),
    ).otherwise(F.lit(0.0))
    dr = F.when(
        F.col("_nd_b") > 0, F.col("_nd_c").cast("double") / F.col("_nd_b")
    )
    null_drift = F.abs(nr_c - nr_b) > null_rate_tol
    dist_drift = dr.isNotNull() & (
        (dr < F.lit(1.0 - distinct_ratio_tol))
        | (dr > F.lit(1.0 + distinct_ratio_tol))
    )
    verdict = F.concat_ws(
        "+",
        F.when(null_drift, F.lit("null_rate_drift")),
        F.when(dist_drift, F.lit("distinct_drift")),
    )
    return j.select(
        "col_name",
        "n_rows_base",
        "n_rows_cur",
        F.round(nr_b, round_to).alias("null_rate_base"),
        F.round(nr_c, round_to).alias("null_rate_cur"),
        F.round(nr_c - nr_b, round_to).alias("null_rate_delta"),
        F.round(dr, round_to).alias("distinct_ratio"),
        (
            (~F.col("_min_b").eqNullSafe(F.col("_min_c")))
            | (~F.col("_max_b").eqNullSafe(F.col("_max_c")))
        ).alias("minmax_changed"),
        F.when(verdict == "", F.lit("ok")).otherwise(verdict).alias(
            "verdict"
        ),
    )


def fano_burstiness(
    df: DataFrame,
    *,
    group_cols: list[str],
    bucket_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Fano factor (index of dispersion) of per-bucket event counts —
    ``F = Var(n)/Mean(n)`` over time buckets — the one-number
    burstiness readout: a Poisson-like steady stream sits at F ≈ 1,
    batch-loaded or flash-crowd traffic sits F ≫ 1, and a
    rate-limited/quantized source sits F < 1.  The signal that says
    whether a partitioning/trigger strategy tuned for steady arrival
    will face bursts instead.

    Two chained hash aggregates — (group, bucket) counts, then the
    per-group moment rollup (population variance, closed form) — no
    windows, no collect.  Groups with a single bucket have undefined
    variance → NULL fano.

    Output per group: group_cols…, n_buckets, mean_count, var_count,
    fano (rounded).
    """
    if not group_cols:
        raise ValueError("group_cols must not be empty")
    counts = (
        df.select(*group_cols, F.col(bucket_col).alias("_b"))
        .groupBy(*group_cols, "_b")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    agg = counts.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.avg("_n").alias("_mean"),
        F.sum(F.col("_n").cast("double") * F.col("_n")).alias("_sq"),
    )
    var = F.when(
        F.col("n_buckets") > 1,
        F.col("_sq") / F.col("n_buckets") - F.col("_mean") * F.col("_mean"),
    )
    return agg.select(
        *group_cols,
        F.col("n_buckets").cast("bigint").alias("n_buckets"),
        F.round("_mean", round_to).alias("mean_count"),
        F.round(var, round_to).alias("var_count"),
        F.round(
            F.when(F.col("_mean") > 0, var / F.col("_mean")), round_to
        ).alias("fano"),
    )


def wasserstein_drift(
    expected: DataFrame,
    actual: DataFrame,
    col: str,
    *,
    bins: int = 50,
    lo: float,
    hi: float,
    round_to: int = 6,
) -> DataFrame:
    """Earth-mover (1-D Wasserstein) drift between two snapshots over
    a fixed equi-width grid — the distance PSI and KS both miss the
    point of: KS sees the worst single gap, PSI sees log-ratio
    surprise, but neither says HOW FAR the mass moved.  W₁ is in the
    units of the column ("the latency distribution shifted right by
    ~40 ms"), which makes it the drift number a human can act on.

        W₁ ≈ Σ_bins |CDF_e(b) − CDF_a(b)| · bin_width

    Same deterministic fixed-grid contract as :func:`psi_stability` /
    ``binned_mutual_info``: explicit [lo, hi), no data-driven
    binning, so snapshots compare like-for-like and the oracle
    replays the digit.  Out-of-range rows clamp into the edge bins
    (mass beyond the grid is still mass — dropping it would hide
    exactly the tail excursions being hunted).

    Scale shape: one bounded histogram aggregate per side (≤ bins
    rows), a full-outer join on the bin spine, one cumulative window
    over ≤ bins rows.  Output (one row): w1, mean_shift (signed
    difference of binned means — direction), n_expected, n_actual.
    """
    if bins < 2:
        raise ValueError(f"bins must be >= 2, got {bins}")
    if not hi > lo:
        raise ValueError("hi must be > lo")
    width = (hi - lo) / bins

    def hist(df: DataFrame, out: str) -> DataFrame:
        x = F.col(col).cast("double")
        b = F.least(
            F.lit(bins - 1),
            F.greatest(F.lit(0), F.floor((x - lo) / width)),
        )
        return (
            df.filter(x.isNotNull())
            .groupBy(b.cast("bigint").alias("bin"))
            .agg(F.count(F.lit(1)).alias(out))
        )

    e = hist(expected, "n_e")
    a = hist(actual, "n_a")
    grid = expected.sparkSession.range(bins).select(
        F.col("id").cast("bigint").alias("bin")
    )
    j = (
        grid.join(e, "bin", "left")
        .join(a, "bin", "left")
        .select(
            "bin",
            F.coalesce("n_e", F.lit(0)).cast("double").alias("n_e"),
            F.coalesce("n_a", F.lit(0)).cast("double").alias("n_a"),
        )
    )
    totals = j.agg(F.sum("n_e").alias("te"), F.sum("n_a").alias("ta"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = j.crossJoin(F.broadcast(totals)).select(
        "bin",
        "n_e",
        "n_a",
        "te",
        "ta",
        (F.sum("n_e").over(w) / F.col("te")).alias("ce"),
        (F.sum("n_a").over(w) / F.col("ta")).alias("ca"),
    )
    center = lo + width / 2.0
    agg = cum.groupBy("te", "ta").agg(
        F.round(
            F.sum(F.abs(F.col("ce") - F.col("ca"))) * F.lit(width),
            round_to,
        ).alias("w1"),
        F.round(
            F.sum(
                (F.col("n_a") / F.col("ta") - F.col("n_e") / F.col("te"))
                * (F.lit(center) + F.col("bin") * F.lit(width))
            ),
            round_to,
        ).alias("mean_shift"),
    )
    return agg.select(
        "w1",
        "mean_shift",
        F.col("te").cast("bigint").alias("n_expected"),
        F.col("ta").cast("bigint").alias("n_actual"),
    )


def poisson_rate_ci(
    df: DataFrame,
    *,
    group_cols: list[str],
    exposure: float = 1.0,
    level_z: float = 1.959963984540054,
    round_to: int = 6,
) -> DataFrame:
    """Per-group event rate with a Poisson normal-approximation CI —
    ``rate = n/exposure``, CI ``(n ± z·√n)/exposure`` (clamped at 0)
    — the honest version of every "errors per hour" tile: a rate of
    3 events carries a ±3.4 interval, and decisions made inside the
    interval are noise.  ``exposure`` is the denominator in whatever
    unit the rate should be quoted (hours observed, requests served,
    km sailed).

    ONE hash aggregate; the CI is row-local arithmetic.  The normal
    approximation degrades below n ≈ 10 (stated — use an exact
    Poisson inversion off-cluster when small counts matter; the
    z-form is kept because it is closed-form and engine-portable).

    Output per group: group_cols…, n, rate, rate_lo, rate_hi
    (rounded).
    """
    if exposure <= 0:
        raise ValueError(f"exposure must be > 0, got {exposure}")
    if not group_cols:
        raise ValueError("group_cols must not be empty")
    agg = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("n"))
    n = F.col("n").cast("double")
    half = F.lit(level_z) * F.sqrt(n)
    return agg.select(
        *group_cols,
        F.col("n").cast("bigint").alias("n"),
        F.round(n / exposure, round_to).alias("rate"),
        F.round(
            F.greatest(F.lit(0.0), (n - half)) / exposure, round_to
        ).alias("rate_lo"),
        F.round((n + half) / exposure, round_to).alias("rate_hi"),
    )


def mann_whitney(
    df: DataFrame,
    *,
    group_cols: list[str],
    value_col: str,
    class_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-group Mann-Whitney U (Wilcoxon rank-sum) test between two
    classes — the standard nonparametric "did the distribution shift"
    readout when values are skewed and a t-test's normality assumption
    is indefensible (latency, spend, token counts).

    ``class_col`` must be 0/1 (castable to int); the U statistic is
    reported for class 1.  Exact midrank tie handling (the same
    ``rank + (ties-1)/2`` construction as ``spearman_corr``), and the
    normal approximation uses the TIE-CORRECTED variance

        Var(U) = n1*n0/12 * [ (n+1) - sum(t^3 - t) / (n*(n-1)) ]

    so heavy ties don't inflate |z| — matching
    ``scipy.stats.mannwhitneyu(use_continuity=False)``.

    One shuffle: the midrank windows and both aggregates share the
    group hash partitioning.  Tie sizes come from one extra aggregate
    per (group, value) — never a self-join.  Degenerate groups (one
    class absent, or all values tied) yield NULL z.

    Output: group cols, n1, n0, u, z.
    """
    s = df.select(
        *[F.col(c) for c in group_cols],
        F.col(value_col).cast("double").alias("_v"),
        F.col(class_col).cast("int").alias("_y"),
    ).filter(
        F.col("_v").isNotNull() & F.col("_y").isin(0, 1)
    )
    gp = [F.col(c) for c in group_cols]
    midrank = F.rank().over(Window.partitionBy(*gp).orderBy("_v")) + (
        F.count(F.lit(1)).over(Window.partitionBy(*gp, F.col("_v"))) - 1
    ) / 2.0
    ranked = s.withColumn("_r", midrank)
    # tie-size cubes: one aggregate per (group, value), then per group
    ties = (
        ranked.groupBy(*group_cols, "_v")
        .agg(F.count(F.lit(1)).cast("double").alias("_t"))
        .groupBy(*group_cols)
        .agg(
            F.sum(F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t")).alias(
                "_tie3"
            )
        )
    )
    agg = ranked.groupBy(*group_cols).agg(
        F.sum(F.col("_y")).cast("bigint").alias("n1"),
        F.sum(1 - F.col("_y")).cast("bigint").alias("n0"),
        F.sum(F.when(F.col("_y") == 1, F.col("_r"))).alias("_r1"),
    )
    out = agg.join(ties, group_cols)
    n1, n0 = F.col("n1").cast("double"), F.col("n0").cast("double")
    n = n1 + n0
    u = F.col("_r1") - n1 * (n1 + 1) / 2.0
    var_u = (
        n1 * n0 / 12.0
        * ((n + 1) - F.col("_tie3") / (n * (n - 1)))
    )
    return out.select(
        *group_cols,
        "n1",
        "n0",
        F.round(u, round_to).alias("u"),
        F.round(
            F.when(
                (F.col("n1") > 0) & (F.col("n0") > 0) & (var_u > 0),
                (u - n1 * n0 / 2.0) / F.sqrt(var_u),
            ),
            round_to,
        ).alias("z"),
    )


def kendall_tau(
    df: DataFrame,
    *,
    group_cols: list[str],
    x_col: str,
    y_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-group Kendall tau-b rank correlation — the concordant-vs-
    discordant-pairs association measure, with the tie-b correction in
    the denominator:

        tau_b = (C - D) / sqrt((n0 - tx) * (n0 - ty)),
        n0 = n(n-1)/2, tx/ty = tied pairs in x / y.

    CONTRACT: pair counting is an in-group self-join, quadratic in the
    GROUP size — this operator is for tau between bounded PROFILES
    (hour-of-day curves, decile grids, rank lists), where an upstream
    aggregate has already compressed arbitrarily many raw rows into
    <= a few hundred rows per group.  The upstream aggregate is the
    scale story; the pair join never sees raw data.  For raw-row tau at
    scale use a merge-sort/Knight O(n log n) construction instead.

    Rows with NULL x or y are dropped.  Output: group cols, n, tau.
    """
    s = df.select(
        *[F.col(c) for c in group_cols],
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
    ).filter(F.col("_x").isNotNull() & F.col("_y").isNotNull())
    w = Window.partitionBy(*[F.col(c) for c in group_cols]).orderBy(
        F.col("_x").asc(), F.col("_y").asc()
    )
    idx = s.withColumn("_i", F.row_number().over(w))
    left = idx.select(
        *group_cols, F.col("_i").alias("_ia"),
        F.col("_x").alias("_xa"), F.col("_y").alias("_ya"),
    )
    right = idx.select(
        *group_cols, F.col("_i").alias("_ib"),
        F.col("_x").alias("_xb"), F.col("_y").alias("_yb"),
    )
    pairs = left.join(right, group_cols).filter(F.col("_ia") < F.col("_ib"))
    dx = F.signum(F.col("_xb") - F.col("_xa"))
    dy = F.signum(F.col("_yb") - F.col("_ya"))
    agg = pairs.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("double").alias("_n0"),
        F.sum(F.when(dx * dy > 0, 1).otherwise(0)).cast("double").alias("_c"),
        F.sum(F.when(dx * dy < 0, 1).otherwise(0)).cast("double").alias("_d"),
        F.sum(F.when(dx == 0, 1).otherwise(0)).cast("double").alias("_tx"),
        F.sum(F.when(dy == 0, 1).otherwise(0)).cast("double").alias("_ty"),
    )
    n = idx.groupBy(*group_cols).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    denom = F.sqrt(
        (F.col("_n0") - F.col("_tx")) * (F.col("_n0") - F.col("_ty"))
    )
    # LEFT join: a singleton group has no pairs at all — keep it with
    # NULL tau rather than dropping it from the readout
    return (
        n.join(agg, group_cols, "left")
        .select(
            *group_cols,
            "n",
            F.round(
                F.when(denom > 0, (F.col("_c") - F.col("_d")) / denom),
                round_to,
            ).alias("tau"),
        )
    )


def heavy_hitters(
    df: DataFrame,
    *,
    item_col: str,
    support_num: int = 1,
    support_den: int = 500,
    margin: int = 2,
) -> DataFrame:
    """EXACT frequent-items census with a Misra–Gries pre-prune: every
    item whose count is ≥ ``support_num/support_den`` of the stream,
    with its exact count — the corpus-vocabulary / hot-key / stopword
    census that a plain ``groupBy(item).count()`` also computes, except
    that the plain plan shuffles EVERY distinct item (the long tail is
    the whole corpus at 100 TB) while this one shuffles only the
    candidate set.

    Two passes:

    1. Per-partition Misra–Gries summaries (iterator ``mapInPandas``,
       batch-merged with the Agarwal et al. 2012 mergeable-summaries
       rule: add batch value_counts, subtract the (k+1)-th largest,
       keep positives) with ``k = margin · ceil(den/num)`` counters.
       MG guarantees every item with LOCAL count > N_p/k survives its
       partition summary; an item with GLOBAL count ≥ N·num/den must
       have local count ≥ N_p·num/den > N_p/k in at least one
       partition (else the global sum would fall short), so the UNION
       of partition summaries contains every true heavy hitter.  The
       same pass emits one marker row per partition carrying the
       partition's item count, so N needs no extra scan.
    2. Exact recount restricted to the candidates: broadcast semi-join
       (map-side filter — tail items never reach the shuffle), one
       hash aggregate over ≤ k·P candidate keys, then the EXACT
       integer-arithmetic threshold ``cnt·den ≥ N·num`` (no float
       support fraction — bit-identical in any engine, DuckDB oracle
       included).

    The output is therefore exact — the sketch only prunes, never
    decides — and the oracle hash-match against a plain
    ``GROUP BY … HAVING`` proves the prune lost nothing.

    Output: item (string), cnt, share (= cnt/N rounded 6), ordered by
    cnt desc then item.  NULL items are ignored.
    """
    if support_num < 1 or support_den < 1:
        raise ValueError(
            f"support must be a positive fraction, got "
            f"{support_num}/{support_den}"
        )
    if margin < 2:
        raise ValueError(f"margin must be >= 2, got {margin}")
    k = margin * math.ceil(support_den / support_num)
    name = item_col

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    summary_schema = StructType(
        [
            StructField("item", StringType()),
            StructField("approx", LongType()),
            StructField("part_n", LongType()),
        ]
    )

    def mg_partition(it):
        import pandas as pd

        counters = pd.Series(dtype="int64")
        n_seen = 0
        for pdf in it:
            vals = pdf["_hh_v"].dropna().astype(str)
            n_seen += len(vals)
            counters = counters.add(vals.value_counts(), fill_value=0)
            if len(counters) > k:
                cut = counters.nlargest(k + 1).iloc[-1]
                counters = counters[counters > cut] - cut
        yield pd.DataFrame(
            {
                "item": list(counters.index) + [None],
                "approx": [int(v) for v in counters.values] + [0],
                "part_n": [0] * len(counters) + [n_seen],
            }
        )

    items = df.select(F.col(name).cast("string").alias("_hh_v"))
    summaries = items.mapInPandas(mg_partition, summary_schema)
    summaries = summaries.localCheckpoint(eager=True)
    candidates = (
        summaries.filter(F.col("item").isNotNull())
        .select("item")
        .distinct()
    )
    total = summaries.agg(F.sum("part_n").cast("bigint").alias("n_total"))
    exact = (
        items.filter(F.col("_hh_v").isNotNull())
        .join(
            F.broadcast(candidates),
            F.col("_hh_v") == F.col("item"),
            "left_semi",
        )
        .groupBy(F.col("_hh_v").alias("item"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(
            F.col("cnt") * F.lit(support_den)
            >= F.col("n_total") * F.lit(support_num)
        )
        .select(
            "item",
            "cnt",
            F.round(
                F.col("cnt").cast("double") / F.col("n_total"), 6
            ).alias("share"),
        )
        .orderBy(F.col("cnt").desc(), "item")
    )


def normal_sf_two_sided(z: Column) -> Column:
    """Two-sided normal p-value ``2·(1 − Φ(|z|))`` via the
    Abramowitz–Stegun 26.2.17 polynomial (|error| < 7.5e-8) — pure
    ``exp`` + polynomial arithmetic, so the DuckDB oracle can evaluate
    the identical expression (Spark SQL has no erf; same workaround
    family as :func:`proportion_test`'s fixed-α booleans, but yielding
    the p-value itself for FDR pipelines).  NULL z propagates.
    """
    az = F.abs(z)
    k = 1.0 / (1.0 + 0.2316419 * az)
    poly = k * (
        0.319381530
        + k
        * (
            -0.356563782
            + k * (1.781477937 + k * (-1.821255978 + k * 1.330274429))
        )
    )
    pdf = F.exp(-az * az / 2) / math.sqrt(2 * math.pi)
    return F.when(z.isNotNull(), 2 * pdf * poly)


def fdr_adjust(
    df: DataFrame,
    *,
    key_col: str,
    z_col: str,
    alpha: float = 0.05,
    round_to: int = 6,
) -> DataFrame:
    """Benjamini–Hochberg FDR adjustment over a family of z-tests —
    the multiple-comparisons step every per-segment testing sweep
    (:func:`proportion_test` / :func:`ab_test` per slice) needs before
    acting on "significant" segments: with m hypotheses at α, ~α·m
    slices come up falsely significant; BH caps the FALSE DISCOVERY
    RATE at α instead.

    ``q_i = min_{j ≥ i} (p_(j) · m / j)`` over p-values in ascending
    order, clamped to 1; reject where q ≤ α.  Ranking is by
    ``|z| DESC`` (exactly ascending p, since p is monotone in |z|) so
    the ORDER never touches the ``exp``-based p approximation — only
    the reported values do, computed from the ROUNDED z so both
    engines feed ``exp`` identical inputs.

    Scale note: the input is one row per HYPOTHESIS (a per-segment
    test readout, thousands of rows at most), so the two rank/suffix
    windows run on a single partition by construction; for
    millions of hypotheses swap in ``global_rank``'s range-partitioned
    rank and a reversed cumulative min.  NULL z rows (degenerate
    tests) are excluded from m and reported unranked.

    Output per key: key, z, p_value, rank, q_value, reject —
    ordered by rank.
    """
    if not (0 < alpha < 1):
        raise ValueError(f"alpha must be in (0,1), got {alpha}")
    d = df.select(
        F.col(key_col).alias("key"),
        F.round(F.col(z_col).cast("double"), round_to).alias("z"),
    ).filter(F.col("z").isNotNull())
    m = d.count()
    if m == 0:
        spark = df.sparkSession
        return spark.createDataFrame(
            [], "key string, z double, p_value double, rank long, "
            "q_value double, reject boolean"
        )
    w_rank = Window.orderBy(F.abs(F.col("z")).desc(), F.col("key").asc())
    ranked = d.select(
        "key",
        "z",
        normal_sf_two_sided(F.col("z")).alias("_p"),
        F.row_number().over(w_rank).alias("rank"),
    )
    w_suffix = (
        Window.orderBy(F.col("rank").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ranked.withColumn(
            "_q",
            F.least(
                F.lit(1.0),
                F.min(F.col("_p") * F.lit(float(m)) / F.col("rank")).over(
                    w_suffix
                ),
            ),
        )
        .select(
            "key",
            "z",
            F.round("_p", round_to).alias("p_value"),
            F.col("rank").cast("bigint").alias("rank"),
            F.round("_q", round_to).alias("q_value"),
            (F.col("_q") <= F.lit(float(alpha))).alias("reject"),
        )
        .orderBy("rank")
    )


def kruskal_wallis(
    df: DataFrame,
    *,
    group_cols: list[str],
    value_col: str,
    class_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-family Kruskal–Wallis H test — the k-class generalization of
    :func:`mann_whitney`: "does this metric's DISTRIBUTION differ
    across k segments" without normality assumptions (the one-way
    ANOVA replacement for skewed latency/spend/volume metrics).

    Exact midrank ties (the same ``rank + (ties−1)/2`` construction as
    ``mann_whitney``/``spearman_corr``), tie-corrected
    ``H_c = H / (1 − Σ(t³−t)/(N³−N))``, and a p-value via the
    Wilson–Hilferty cube-root chi-square→normal approximation feeding
    :func:`fdr_adjust`-style sweeps (cbrt/exp only — no gamma
    function, so the DuckDB oracle evaluates the identical
    expression).

    One data shuffle: the midrank windows and every aggregate share
    the family hash partitioning; tie cubes come from a (family,
    value) aggregate, never a self-join.  Families with < 2 classes
    or all-tied values yield NULL H.

    Output per family: group cols, n_total, k_classes, h_corrected,
    df, p_value.
    """
    s = df.select(
        *[F.col(c) for c in group_cols],
        F.col(value_col).cast("double").alias("_v"),
        F.col(class_col).cast("string").alias("_c"),
    ).filter(F.col("_v").isNotNull() & F.col("_c").isNotNull())
    gp = [F.col(c) for c in group_cols]
    midrank = F.rank().over(Window.partitionBy(*gp).orderBy("_v")) + (
        F.count(F.lit(1)).over(Window.partitionBy(*gp, F.col("_v"))) - 1
    ) / 2.0
    ranked = s.withColumn("_r", midrank)
    per_class = ranked.groupBy(*group_cols, "_c").agg(
        F.count(F.lit(1)).cast("double").alias("_nc"),
        F.sum("_r").alias("_rc"),
    )
    fam = per_class.groupBy(*group_cols).agg(
        F.sum("_nc").alias("_n"),
        F.count(F.lit(1)).cast("long").alias("k_classes"),
        F.sum(F.col("_rc") * F.col("_rc") / F.col("_nc")).alias("_rr"),
    )
    ties = (
        ranked.groupBy(*group_cols, "_v")
        .agg(F.count(F.lit(1)).cast("double").alias("_t"))
        .groupBy(*group_cols)
        .agg(
            F.sum(
                F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t")
            ).alias("_tie3")
        )
    )
    j = fam.join(ties, group_cols)
    n = F.col("_n")
    h = 12.0 / (n * (n + 1)) * F.col("_rr") - 3.0 * (n + 1)
    corr = 1.0 - F.col("_tie3") / (n * n * n - n)
    hc = F.when(
        (F.col("k_classes") >= 2) & (corr > 0) & (n > 1), h / corr
    )
    dof = (F.col("k_classes") - 1).cast("double")
    # Wilson–Hilferty: (H/df)^(1/3) ~ Normal(1 - 2/(9df), 2/(9df))
    zwh = (
        F.cbrt(hc / dof) - (1.0 - 2.0 / (9.0 * dof))
    ) / F.sqrt(2.0 / (9.0 * dof))
    p = F.when(
        zwh.isNotNull(),
        F.when(
            zwh >= 0, normal_sf_two_sided(zwh) / 2
        ).otherwise(1.0 - normal_sf_two_sided(zwh) / 2),
    )
    return j.select(
        *group_cols,
        n.cast("bigint").alias("n_total"),
        F.col("k_classes").cast("bigint").alias("k_classes"),
        F.round(hc, round_to).alias("h_corrected"),
        dof.cast("bigint").alias("df"),
        F.round(p, round_to).alias("p_value"),
    ).orderBy(*group_cols)


def jackknife_ratio(
    df: DataFrame,
    *,
    num_col: str,
    den_col: str,
    bucket_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Leave-one-bucket-out jackknife CI for a RATIO metric
    ``Σnum / Σden`` — the correct error bar for rates like
    revenue-per-session or tokens-per-document, where per-row averages
    are biased and the delta method needs a variance the data may not
    satisfy.  The standard large-scale recipe (search/ads metric
    platforms): hash users into B buckets, drop one bucket at a time.

    Scale shape: ONE hash aggregate to (bucket) partial sums — the
    only pass over the data; totals reduce from the B bucket rows and
    broadcast back, so every pseudo-value
    ``θ_(−b) = (Σx − x_b)/(Σy − y_b)`` is row-local arithmetic over B
    rows.  ``se = sqrt((B−1)/B · Σ(θ_(−b) − θ̄)²)`` with the classic
    (B−1)/B inflation; CI at ±1.96·se.

    Output (one row): ratio, n_buckets, jk_se, ci_lo, ci_hi.
    """
    b = (
        df.select(
            F.col(bucket_col).alias("_b"),
            F.col(num_col).cast("double").alias("_x"),
            F.col(den_col).cast("double").alias("_y"),
        )
        .groupBy("_b")
        .agg(F.sum("_x").alias("_sx"), F.sum("_y").alias("_sy"))
    )
    tot = b.agg(
        F.sum("_sx").alias("_tx"),
        F.sum("_sy").alias("_ty"),
        F.count(F.lit(1)).cast("double").alias("_nb"),
    )
    pseudo = b.crossJoin(F.broadcast(tot)).select(
        "_nb",
        "_tx",
        "_ty",
        (
            (F.col("_tx") - F.col("_sx")) / (F.col("_ty") - F.col("_sy"))
        ).alias("_theta"),
    )
    nb = F.col("_nb")
    agg = pseudo.groupBy("_nb", "_tx", "_ty").agg(
        F.sum("_theta").alias("_st"),
        F.sum(F.col("_theta") * F.col("_theta")).alias("_stt"),
    )
    mean_t = F.col("_st") / nb
    var_jk = (nb - 1) / nb * (F.col("_stt") - nb * mean_t * mean_t)
    se = F.sqrt(F.greatest(var_jk, F.lit(0.0)))
    ratio = F.col("_tx") / F.col("_ty")
    return agg.select(
        F.round(ratio, round_to).alias("ratio"),
        nb.cast("bigint").alias("n_buckets"),
        F.round(se, round_to).alias("jk_se"),
        F.round(ratio - 1.959963984540054 * se, round_to).alias("ci_lo"),
        F.round(ratio + 1.959963984540054 * se, round_to).alias("ci_hi"),
    )


def capture_recapture(
    df: DataFrame,
    *,
    id_col: str,
    pct_a: int = 20,
    pct_b: int = 20,
    round_to: int = 6,
) -> DataFrame:
    """Chapman capture–recapture population estimate from two
    independent deterministic hash-samples — "how big is the
    population my pipeline can only sample?" (total distinct crawl
    frontier, true dedup-cluster count, coverage of an external
    corpus).  Samples are ``hash64(id, seed)``-derived (seeds 1 and
    2), so both "captures" are reproducible and independent by hash
    construction rather than by luck.

    ``N̂ = (n_a+1)(n_b+1)/(m+1) − 1`` with the Seber variance
    ``(n_a+1)(n_b+1)(n_a−m)(n_b−m) / ((m+1)²(m+2))`` and a ±1.96·se
    interval.  Chapman's +1 correction keeps the estimator finite and
    near-unbiased even when the overlap m is small — exactly the
    regime that motivates estimating instead of counting.

    Scale shape: ONE conditional aggregate over distinct ids — the
    membership tests are map-side hash arithmetic, no join between
    the samples, no second pass.  The id column must already be
    distinct (dedupe upstream if not — the estimator counts
    individuals, not events).

    Output (one row): n_a, n_b, overlap, n_hat, se, ci_lo, ci_hi.
    """
    from knot_another_pipeline_spark.functions.hashing import hash64

    if not (0 < pct_a <= 100 and 0 < pct_b <= 100):
        raise ValueError(
            f"sample percents must be in (0, 100], got {pct_a}/{pct_b}"
        )
    in_a = F.pmod(hash64(F.col(id_col), seed=1), F.lit(100)) < pct_a
    in_b = F.pmod(hash64(F.col(id_col), seed=2), F.lit(100)) < pct_b
    agg = df.agg(
        F.sum(F.when(in_a, 1).otherwise(0)).cast("double").alias("na"),
        F.sum(F.when(in_b, 1).otherwise(0)).cast("double").alias("nb"),
        F.sum(F.when(in_a & in_b, 1).otherwise(0))
        .cast("double")
        .alias("m"),
    )
    na, nb, m = F.col("na"), F.col("nb"), F.col("m")
    n_hat = (na + 1) * (nb + 1) / (m + 1) - 1
    var = (
        (na + 1) * (nb + 1) * (na - m) * (nb - m)
        / ((m + 1) * (m + 1) * (m + 2))
    )
    se = F.sqrt(F.greatest(var, F.lit(0.0)))
    return agg.select(
        na.cast("bigint").alias("n_a"),
        nb.cast("bigint").alias("n_b"),
        m.cast("bigint").alias("overlap"),
        F.round(n_hat, round_to).alias("n_hat"),
        F.round(se, round_to).alias("se"),
        F.round(n_hat - 1.959963984540054 * se, round_to).alias("ci_lo"),
        F.round(n_hat + 1.959963984540054 * se, round_to).alias("ci_hi"),
    )


def _f_dist_p_one_sided(f: Column, df1: Column, df2: Column) -> Column:
    """Upper-tail F p-value via the Paulson (1942) double cube-root
    normal approximation — the two-df generalization of the
    Wilson–Hilferty construction :func:`kruskal_wallis` uses:
    ``z = ((1 − 2/9df₂)·F^⅓ − (1 − 2/9df₁))
    / sqrt(2/9df₁ + F^⅔·2/9df₂)``.  cbrt/sqrt/exp only — no
    beta function, so a DuckDB oracle evaluates the identical
    expression.  NULL F propagates.
    """
    fc = F.cbrt(f)
    num = (1.0 - 2.0 / (9.0 * df2)) * fc - (1.0 - 2.0 / (9.0 * df1))
    den = F.sqrt(2.0 / (9.0 * df1) + fc * fc * 2.0 / (9.0 * df2))
    z = num / den
    return F.when(
        z.isNotNull(),
        F.when(z >= 0, normal_sf_two_sided(z) / 2).otherwise(
            1.0 - normal_sf_two_sided(z) / 2
        ),
    )


def oneway_anova(
    df: DataFrame,
    *,
    group_cols: list[str],
    value_col: str,
    class_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-family one-way ANOVA — the parametric sibling of
    :func:`kruskal_wallis`: "do the class MEANS of this metric differ
    across k segments", with the effect size (η²) that tells you
    whether a significant F is worth acting on.

    Everything collapses onto moment sums: per (family, class) n, Σv,
    Σv² in ONE hash aggregate (the only shuffle that sees row volume),
    then SSB/SSW/SST by algebra on the k class rows.  F = (SSB/df₁) /
    (SSW/df₂); p via :func:`_f_dist_p_one_sided`'s Paulson cube-root
    normal approximation (cbrt/exp only, oracle-replayable — same
    convention as the Wilson–Hilferty p in ``kruskal_wallis``).

    Guards: families with < 2 classes, df₂ < 1, or zero within-class
    variance yield NULL F/p (constant data proves nothing either way).
    NULL values are excluded.

    Output per family: group cols, n_total, k_classes, f_stat, df1,
    df2, eta_sq, p_value.
    """
    s = df.select(
        *[F.col(c) for c in group_cols],
        F.col(value_col).cast("double").alias("_v"),
        F.col(class_col).cast("string").alias("_c"),
    ).filter(F.col("_v").isNotNull() & F.col("_c").isNotNull())
    per_class = s.groupBy(*group_cols, "_c").agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum("_v").alias("_s"),
        F.sum(F.col("_v") * F.col("_v")).alias("_q"),
    )
    fam = per_class.groupBy(*group_cols).agg(
        F.sum("_n").alias("_nt"),
        F.count(F.lit(1)).cast("double").alias("_k"),
        F.sum(F.col("_s") * F.col("_s") / F.col("_n")).alias("_sb"),
        F.sum("_q").alias("_qq"),
        F.sum("_s").alias("_t"),
    )
    n, k = F.col("_nt"), F.col("_k")
    ssb = F.col("_sb") - F.col("_t") * F.col("_t") / n
    ssw = F.col("_qq") - F.col("_sb")
    sst = F.col("_qq") - F.col("_t") * F.col("_t") / n
    # nullable dfs: a k = 1 family must propagate NULL through the
    # divisions instead of tripping ANSI divide-by-zero in a branch
    # codegen evaluates eagerly
    df1 = F.when(k >= 2, k - 1)
    df2 = F.when(n - k >= 1, n - k)
    ok = (k >= 2) & (n - k >= 1) & (ssw > 0)
    f_stat = F.when(ok, (ssb / df1) / (ssw / df2))
    return fam.select(
        *group_cols,
        n.cast("bigint").alias("n_total"),
        k.cast("bigint").alias("k_classes"),
        F.round(f_stat, round_to).alias("f_stat"),
        df1.cast("bigint").alias("df1"),
        df2.cast("bigint").alias("df2"),
        F.round(
            F.when(sst > 0, ssb / sst), round_to
        ).alias("eta_sq"),
        F.round(
            _f_dist_p_one_sided(f_stat, df1, df2), round_to
        ).alias("p_value"),
    ).orderBy(*group_cols)


def levene_test(
    df: DataFrame,
    *,
    group_cols: list[str],
    value_col: str,
    class_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-family Brown–Forsythe test (Levene with median centers) —
    "do the class VARIANCES differ", the homogeneity gate in front of
    :func:`oneway_anova` and the drift test that catches a segment
    whose mean held but whose spread exploded.  Median centering
    (rather than Levene's original mean) keeps the test robust under
    the skewed latency/spend metrics it is pointed at.

    Two shuffles by construction: (1) per-(family, class) EXACT
    medians via ``percentile(0.5)`` — the same interpolating midpoint
    DuckDB's ``median()`` computes, so the oracle replays the centers
    bit-for-bit; (2) the absolute deviations' moment sums, after an
    equi-join of the class medians back onto the rows (class-count
    sized — AQE broadcasts it).  The W statistic is then ordinary
    one-way ANOVA algebra on |v − med| with the same Paulson
    cube-root p as :func:`oneway_anova`.

    Output per family: group cols, n_total, k_classes, w_stat, df1,
    df2, p_value.
    """
    s = df.select(
        *[F.col(c) for c in group_cols],
        F.col(value_col).cast("double").alias("_v"),
        F.col(class_col).cast("string").alias("_c"),
    ).filter(F.col("_v").isNotNull() & F.col("_c").isNotNull())
    meds = s.groupBy(*group_cols, "_c").agg(
        F.percentile("_v", F.lit(0.5)).alias("_med")
    )
    z = s.join(meds, [*group_cols, "_c"]).select(
        *group_cols,
        "_c",
        F.abs(F.col("_v") - F.col("_med")).alias("_z"),
    )
    per_class = z.groupBy(*group_cols, "_c").agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum("_z").alias("_s"),
        F.sum(F.col("_z") * F.col("_z")).alias("_q"),
    )
    fam = per_class.groupBy(*group_cols).agg(
        F.sum("_n").alias("_nt"),
        F.count(F.lit(1)).cast("double").alias("_k"),
        F.sum(F.col("_s") * F.col("_s") / F.col("_n")).alias("_sb"),
        F.sum("_q").alias("_qq"),
        F.sum("_s").alias("_t"),
    )
    n, k = F.col("_nt"), F.col("_k")
    ssb = F.col("_sb") - F.col("_t") * F.col("_t") / n
    ssw = F.col("_qq") - F.col("_sb")
    df1 = F.when(k >= 2, k - 1)
    df2 = F.when(n - k >= 1, n - k)
    ok = (k >= 2) & (n - k >= 1) & (ssw > 0)
    w_stat = F.when(ok, (ssb / df1) / (ssw / df2))
    return fam.select(
        *group_cols,
        n.cast("bigint").alias("n_total"),
        k.cast("bigint").alias("k_classes"),
        F.round(w_stat, round_to).alias("w_stat"),
        df1.cast("bigint").alias("df1"),
        df2.cast("bigint").alias("df2"),
        F.round(
            _f_dist_p_one_sided(w_stat, df1, df2), round_to
        ).alias("p_value"),
    ).orderBy(*group_cols)


def srm_check(
    df: DataFrame,
    *,
    arm_col: str,
    expected: dict[str, float],
    alpha: float = 0.001,
    round_to: int = 6,
) -> DataFrame:
    """Sample-ratio-mismatch gate — the validity check that must pass
    BEFORE any experiment readout (:func:`ab_test`,
    :func:`~.evaluation.cuped_readout`, :func:`~.evaluation.
    msprt_readout`) is believed: if the realized arm counts are
    incompatible with the design ratios, the assignment (or logging)
    is broken and every downstream metric is biased.  χ² of observed
    vs expected counts, df = k−1, p via the Wilson–Hilferty cube-root
    normal approximation; flagged at the industry-conventional
    α = 0.001 (an SRM alarm should mean "stop", not "hmm").

    Scale shape: ONE count-by-arm aggregate (k rows shuffled), the
    design ratios broadcast from a k-row literal table, the χ²
    reduction on k rows.  Arms observed in the data but absent from
    ``expected`` make the test meaningless and raise at plan time if
    declared weights are incomplete — unseen DECLARED arms count as
    observed 0, which is exactly an SRM signal.

    Output (one row): n, k_arms, chi2, df, p_value, srm_detected.
    """
    if not expected or any(w <= 0 for w in expected.values()):
        raise ValueError(
            f"expected must map arms to positive weights, got {expected}"
        )
    if not (0 < alpha < 1):
        raise ValueError(f"alpha must be in (0,1), got {alpha}")
    spark = df.sparkSession
    total_w = float(sum(expected.values()))
    exp_df = spark.createDataFrame(
        [(str(a), float(w) / total_w) for a, w in expected.items()],
        "arm string, w double",
    )
    counts = (
        df.select(F.col(arm_col).cast("string").alias("arm"))
        .filter(F.col("arm").isin(list(expected)))
        .groupBy("arm")
        .agg(F.count(F.lit(1)).cast("double").alias("o"))
    )
    j = exp_df.join(counts, "arm", "left").select(
        "arm", "w", F.coalesce("o", F.lit(0.0)).alias("o")
    )
    tot = j.agg(F.sum("o").alias("_n"))
    g = j.crossJoin(F.broadcast(tot)).groupBy("_n").agg(
        F.count(F.lit(1)).cast("double").alias("_k"),
        F.sum(
            (F.col("o") - F.col("_n") * F.col("w"))
            * (F.col("o") - F.col("_n") * F.col("w"))
            / (F.col("_n") * F.col("w"))
        ).alias("_chi2"),
    )
    dof = F.when(F.col("_k") >= 2, F.col("_k") - 1)
    c2 = F.when(dof.isNotNull() & (F.col("_n") > 0), F.col("_chi2"))
    zwh = (
        F.cbrt(c2 / dof) - (1.0 - 2.0 / (9.0 * dof))
    ) / F.sqrt(2.0 / (9.0 * dof))
    p = F.when(
        zwh.isNotNull(),
        F.when(
            zwh >= 0, normal_sf_two_sided(zwh) / 2
        ).otherwise(1.0 - normal_sf_two_sided(zwh) / 2),
    )
    return g.select(
        F.col("_n").cast("bigint").alias("n"),
        F.col("_k").cast("bigint").alias("k_arms"),
        F.round(c2, round_to).alias("chi2"),
        dof.cast("bigint").alias("df"),
        F.round(p, round_to).alias("p_value"),
        F.coalesce(p <= F.lit(float(alpha)), F.lit(False)).alias(
            "srm_detected"
        ),
    )


def holm_adjust(
    df: DataFrame,
    *,
    key_col: str,
    z_col: str,
    alpha: float = 0.05,
    round_to: int = 6,
) -> DataFrame:
    """Holm–Bonferroni step-down over a family of z-tests — the
    FAMILY-WISE error-rate sibling of :func:`fdr_adjust`: use Holm
    when even ONE false positive is unacceptable (launch gates,
    guardrail metrics), BH-FDR when a controlled fraction of false
    discoveries is fine (screening sweeps).  Uniformly more powerful
    than plain Bonferroni at identical FWER control.

    ``p̃_(i) = max_{j ≤ i} min(1, p_(j)·(m−j+1))`` over p ascending —
    the same |z|-DESC ranking trick as ``fdr_adjust`` (order never
    touches the exp-based p approximation; reported values are
    computed from the ROUNDED z so both engines feed ``exp``
    identical inputs), with a running MAX over the prefix instead of
    BH's suffix min.  Same bounded hypothesis-table windows; same
    ``global_rank`` scale path for millions of hypotheses.

    Output per key: key, z, p_value, rank, p_holm, reject — ordered
    by rank.
    """
    if not (0 < alpha < 1):
        raise ValueError(f"alpha must be in (0,1), got {alpha}")
    d = df.select(
        F.col(key_col).alias("key"),
        F.round(F.col(z_col).cast("double"), round_to).alias("z"),
    ).filter(F.col("z").isNotNull())
    m = d.count()
    if m == 0:
        spark = df.sparkSession
        return spark.createDataFrame(
            [], "key string, z double, p_value double, rank long, "
            "p_holm double, reject boolean"
        )
    w_rank = Window.orderBy(F.abs(F.col("z")).desc(), F.col("key").asc())
    ranked = d.select(
        "key",
        "z",
        normal_sf_two_sided(F.col("z")).alias("_p"),
        F.row_number().over(w_rank).alias("rank"),
    )
    w_prefix = (
        Window.orderBy(F.col("rank").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    adj = F.max(
        F.least(
            F.lit(1.0),
            F.col("_p") * (F.lit(float(m)) - F.col("rank") + 1),
        )
    ).over(w_prefix)
    return (
        ranked.withColumn("_h", adj)
        .select(
            "key",
            "z",
            F.round("_p", round_to).alias("p_value"),
            F.col("rank").cast("bigint").alias("rank"),
            F.round("_h", round_to).alias("p_holm"),
            (F.col("_h") <= F.lit(float(alpha))).alias("reject"),
        )
        .orderBy("rank")
    )


def fleiss_kappa(
    df: DataFrame,
    *,
    item_col: str,
    label_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Fleiss' kappa: chance-corrected agreement among MANY raters —
    the multi-annotator generalization of :func:`cohens_kappa`, and the
    gate on crowdsourced label quality before ``majority_vote`` output
    is trusted as training data.  Input is one row per individual
    rating (item, assigned label); rater identity is irrelevant to the
    statistic (Fleiss' design — raters need not even be the same people
    across items).

    Uses the variable-rater generalization: per item with ``n_i ≥ 2``
    ratings, observed agreement ``P_i = (Σ_c n_ic² − n_i)/(n_i(n_i−1))``;
    ``P̄`` averages P_i over items; chance agreement ``P_e = Σ_c p_c²``
    with p_c the overall label shares (over included items); ``κ =
    (P̄ − P_e)/(1 − P_e)``.  Items with a single rating carry no
    agreement signal and are excluded from both P̄ and p_c — the same
    exclusion the textbook equal-n formula makes implicitly.

    Scale shape: one (item, label) cell count, one item-level
    aggregate on the same item key (no second data pass), label totals
    from the cells joined to the per-item n_i — every shuffle is on a
    grouping key, nothing widens, and the final κ assembles from
    three broadcast-sized scalar aggregates.

    Output (single row): n_items, n_ratings, k_categories, p_bar,
    p_e, kappa (NULL when no multi-rated item exists or P_e = 1 —
    unanimous single-category data has undefined κ).
    """
    base = df.select(
        F.col(item_col).alias("_i"), F.col(label_col).alias("_c")
    ).filter(F.col("_i").isNotNull() & F.col("_c").isNotNull())
    cells = base.groupBy("_i", "_c").agg(
        F.count(F.lit(1)).cast("double").alias("_n")
    )
    items = (
        cells.groupBy("_i")
        .agg(
            F.sum("_n").alias("_ni"),
            F.sum(F.col("_n") * F.col("_n")).alias("_agree"),
        )
        .filter(F.col("_ni") >= 2)
    )
    pbar = items.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
        F.sum("_ni").cast("bigint").alias("n_ratings"),
        F.avg(
            (F.col("_agree") - F.col("_ni"))
            / (F.col("_ni") * (F.col("_ni") - 1))
        ).alias("_pbar"),
    )
    # label shares over the included items only (join on the item key
    # both sides are already partitioned by)
    shares = (
        cells.join(items.select("_i"), "_i")
        .groupBy("_c")
        .agg(F.sum("_n").alias("_nc"))
    )
    pe = shares.agg(
        F.count(F.lit(1)).cast("bigint").alias("k_categories"),
        (
            F.sum(F.col("_nc") * F.col("_nc"))
            / (F.sum("_nc") * F.sum("_nc"))
        ).alias("_pe"),
    )
    out = pbar.crossJoin(pe)
    kappa = F.when(
        (F.col("n_items") > 0) & (F.col("_pe") < 1.0),
        (F.col("_pbar") - F.col("_pe")) / (1.0 - F.col("_pe")),
    )
    return out.select(
        "n_items",
        "n_ratings",
        "k_categories",
        F.round(F.when(F.col("n_items") > 0, F.col("_pbar")), round_to).alias(
            "p_bar"
        ),
        F.round(F.when(F.col("n_items") > 0, F.col("_pe")), round_to).alias(
            "p_e"
        ),
        F.round(kappa, round_to).alias("kappa"),
    )


def energy_drift(
    df: DataFrame,
    *,
    value_col: str,
    sample_col: str,
    baseline: str,
    current: str,
    group_cols: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Exact 1-D energy distance between two samples — Székely's
    ``D² = 2·E|X−Y| − E|X−X'| − E|Y−Y'|`` — the drift statistic that
    is zero IFF the distributions are identical and, unlike a binned
    PSI or KS's single max-gap, weights the whole shape.  The
    all-pairs definition is O(n·m); this computes every term from ONE
    pooled sort via the prefix identity

        Σ_{i<j} |z_j − z_i| = Σ_t (cnt_before(t)·z_t − sum_before(t))

    applied per "which group does the earlier element belong to" —
    so cross and both within sums come out of the same window pass.
    Ties contribute exactly zero to every term, so tie order cannot
    change the result.

    Scale shape: one sort-window per group key (the per-series window
    contract of ``acf``/``ks_drift``: a group's values visit one
    partition), one hash aggregate of the three pair sums — one
    shuffle, no joins, no binning error.  For ungrouped use at extreme
    N, pre-bucket by a coarse quantile key first.

    Output per group: n_base, n_cur, e_cross, e_within_base,
    e_within_cur (all mean absolute differences), energy_distance
    (NULL when either sample is empty).  Rows with NULL value or a
    sample tag that is neither ``baseline`` nor ``current`` are
    dropped.
    """
    gcols = list(group_cols or [])
    s = df.select(
        *[F.col(c) for c in gcols],
        F.col(value_col).cast("double").alias("_v"),
        F.when(F.col(sample_col) == baseline, F.lit(0))
        .when(F.col(sample_col) == current, F.lit(1))
        .alias("_g"),
    ).filter(F.col("_v").isNotNull() & F.col("_g").isNotNull())
    w = (
        Window.partitionBy(*[F.col(c) for c in gcols])
        .orderBy("_v", "_g")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    is_b = (F.col("_g") == 0).cast("double")
    is_c = (F.col("_g") == 1).cast("double")
    scored = s.select(
        *gcols,
        "_v",
        "_g",
        F.coalesce(F.sum(is_b).over(w), F.lit(0.0)).alias("_cb"),
        F.coalesce(F.sum(is_b * F.col("_v")).over(w), F.lit(0.0)).alias(
            "_sb"
        ),
        F.coalesce(F.sum(is_c).over(w), F.lit(0.0)).alias("_cc"),
        F.coalesce(F.sum(is_c * F.col("_v")).over(w), F.lit(0.0)).alias(
            "_sc"
        ),
    )
    # pair sums: the earlier element's group picks which accumulator
    # this row's (cnt·v − sum) contribution feeds
    cross = F.when(
        F.col("_g") == 0, F.col("_cc") * F.col("_v") - F.col("_sc")
    ).otherwise(F.col("_cb") * F.col("_v") - F.col("_sb"))
    within_b = F.when(
        F.col("_g") == 0, F.col("_cb") * F.col("_v") - F.col("_sb")
    ).otherwise(F.lit(0.0))
    within_c = F.when(
        F.col("_g") == 1, F.col("_cc") * F.col("_v") - F.col("_sc")
    ).otherwise(F.lit(0.0))
    agg = scored.groupBy(*gcols).agg(
        F.sum(is_b).cast("bigint").alias("n_base"),
        F.sum(is_c).cast("bigint").alias("n_cur"),
        F.sum(cross).alias("_x"),
        F.sum(within_b).alias("_wb"),
        F.sum(within_c).alias("_wc"),
    )
    nb = F.col("n_base").cast("double")
    nc = F.col("n_cur").cast("double")
    ec = F.col("_x") / (nb * nc)
    eb = 2.0 * F.col("_wb") / (nb * nb)
    ecur = 2.0 * F.col("_wc") / (nc * nc)
    ok = (F.col("n_base") > 0) & (F.col("n_cur") > 0)
    out = agg.select(
        *gcols,
        "n_base",
        "n_cur",
        F.round(F.when(ok, ec), round_to).alias("e_cross"),
        F.round(F.when(F.col("n_base") > 0, eb), round_to).alias(
            "e_within_base"
        ),
        F.round(F.when(F.col("n_cur") > 0, ecur), round_to).alias(
            "e_within_cur"
        ),
        F.round(F.when(ok, 2.0 * ec - eb - ecur), round_to).alias(
            "energy_distance"
        ),
    )
    return out.orderBy(*gcols) if gcols else out


def wilcoxon_signed_rank(
    df: DataFrame,
    *,
    group_cols: list[str],
    a_col: str,
    b_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-family Wilcoxon signed-rank test — the PAIRED sibling of
    :func:`mann_whitney`: each row is one subject measured twice
    (before/after, variant A vs variant B on the same unit), and the
    test asks whether the paired differences are symmetric about zero
    without assuming normality.  The standard readout for "did the
    rewrite move per-user latency" when the deltas are skewed.

    Method (the standard normal approximation on W⁺, no continuity
    correction): d = a − b; zero differences are DROPPED (the classic
    Wilcoxon rule); |d| gets exact midranks per family;
    W⁺ = Σ ranks of positive d; under H₀

        E[W⁺] = n(n+1)/4,
        Var[W⁺] = n(n+1)(2n+1)/24 − Σ(t³−t)/48   (ties on |d|),

    z = (W⁺ − E)/√Var with the shared two-sided normal p.

    One data shuffle: the midrank window and both aggregates share the
    family hash partitioning; tie cubes come from a (family, |d|)
    aggregate, never a self-join — the :func:`mann_whitney`
    construction on |d|.

    Output per family: group cols, n_pairs (nonzero d), n_zero,
    w_plus, z, p_value (NULL z/p when n_pairs = 0 or Var = 0).
    """
    d = (F.col(a_col).cast("double") - F.col(b_col).cast("double"))
    s = df.select(
        *[F.col(c) for c in group_cols], d.alias("_d")
    ).filter(F.col("_d").isNotNull())
    gp = [F.col(c) for c in group_cols]
    nz = s.filter(F.col("_d") != 0).withColumn("_ad", F.abs(F.col("_d")))
    midrank = F.rank().over(Window.partitionBy(*gp).orderBy("_ad")) + (
        F.count(F.lit(1)).over(Window.partitionBy(*gp, F.col("_ad"))) - 1
    ) / 2.0
    ranked = nz.withColumn("_r", midrank)
    ties = (
        ranked.groupBy(*group_cols, "_ad")
        .agg(F.count(F.lit(1)).cast("double").alias("_t"))
        .groupBy(*group_cols)
        .agg(
            F.sum(
                F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t")
            ).alias("_tie3")
        )
    )
    agg = ranked.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum(F.when(F.col("_d") > 0, F.col("_r"))).alias("_wp"),
    )
    zeros = s.groupBy(*group_cols).agg(
        F.sum(F.when(F.col("_d") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_zero")
    )
    # zeros covers EVERY family (it aggregates all pairs); agg/ties only
    # families with a nonzero diff — left-join so an all-tied family
    # still emits (n_pairs=0, w_plus=0, NULL z) instead of vanishing
    # (the twonn_dimension ADVICE class of bug, pinned in tests).
    j = zeros.join(agg, group_cols, "left").join(ties, group_cols, "left")
    n = F.coalesce(F.col("_n"), F.lit(0.0))
    wp = F.coalesce(F.col("_wp"), F.lit(0.0))
    mean_w = n * (n + 1.0) / 4.0
    var_w = n * (n + 1.0) * (2.0 * n + 1.0) / 24.0 - F.col("_tie3") / 48.0
    z = F.when((n > 0) & (var_w > 0), (wp - mean_w) / F.sqrt(var_w))
    return j.select(
        *group_cols,
        n.cast("bigint").alias("n_pairs"),
        "n_zero",
        F.round(wp, round_to).alias("w_plus"),
        F.round(z, round_to).alias("z"),
        F.round(normal_sf_two_sided(z), round_to).alias("p_value"),
    ).orderBy(*group_cols)


def friedman_test(
    df: DataFrame,
    *,
    group_cols: list[str],
    block_col: str,
    treatment_col: str,
    value_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-family Friedman test — the repeated-measures sibling of
    :func:`kruskal_wallis`: k treatments measured on the SAME n blocks
    (k ranking models scored on the same queries, k prompts on the
    same documents), ranks taken WITHIN each block so between-block
    level differences cancel by construction.

    Cells collapse to one value per (block, treatment) by mean; only
    COMPLETE blocks — those with all k of the family's treatments —
    enter the test (the standard complete-block requirement; the
    incomplete count is reported, not silently dropped).  Midranks
    within block handle ties, with the tie-corrected statistic

        Q = [12/(n·k·(k+1))]·ΣRⱼ² − 3n(k+1),
        Q_c = Q / (1 − ΣT_b / (n·k·(k²−1))),   T_b = Σ(t³−t) in block b,

    and p via the shared Wilson–Hilferty chi²(k−1) approximation.

    Scale shape: cell means in one (family, block, treatment) hash
    aggregate — the only pass over row volume; the rank window runs
    per (family, block) on ≤ k rows; everything after reduces n·k
    cells → k treatment rows → 1 family row.

    Output per family: group cols, n_blocks, n_incomplete,
    k_treatments, q_corrected, df, p_value (NULL when k < 2, n = 0,
    or every block is fully tied).
    """
    s = df.select(
        *[F.col(c) for c in group_cols],
        F.col(block_col).cast("string").alias("_b"),
        F.col(treatment_col).cast("string").alias("_trt"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(
        F.col("_b").isNotNull()
        & F.col("_trt").isNotNull()
        & F.col("_v").isNotNull()
    )
    cells = s.groupBy(*group_cols, "_b", "_trt").agg(
        F.avg("_v").alias("_v")
    )
    gp = [F.col(c) for c in group_cols]
    k_fam = cells.groupBy(*group_cols).agg(
        F.countDistinct("_trt").cast("double").alias("_k")
    )
    blk_sizes = cells.groupBy(*group_cols, "_b").agg(
        F.count(F.lit(1)).cast("double").alias("_bn")
    )
    sized = blk_sizes.join(k_fam, group_cols)
    complete = sized.filter(F.col("_bn") == F.col("_k")).select(
        *group_cols, "_b"
    )
    n_incomplete = sized.groupBy(*group_cols).agg(
        F.sum(F.when(F.col("_bn") != F.col("_k"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_incomplete")
    )
    kept = cells.join(complete, [*group_cols, "_b"], "left_semi")
    midrank = F.rank().over(
        Window.partitionBy(*gp, F.col("_b")).orderBy("_v")
    ) + (
        F.count(F.lit(1)).over(
            Window.partitionBy(*gp, F.col("_b"), F.col("_v"))
        )
        - 1
    ) / 2.0
    ranked = kept.withColumn("_r", midrank)
    per_trt = ranked.groupBy(*group_cols, "_trt").agg(
        F.sum("_r").alias("_rj")
    )
    fam = per_trt.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("double").alias("_kk"),
        F.sum(F.col("_rj") * F.col("_rj")).alias("_rr"),
    )
    nblk = ranked.groupBy(*group_cols).agg(
        F.countDistinct("_b").cast("double").alias("_n")
    )
    ties = (
        ranked.groupBy(*group_cols, "_b", "_v")
        .agg(F.count(F.lit(1)).cast("double").alias("_t"))
        .groupBy(*group_cols)
        .agg(
            F.sum(
                F.col("_t") * F.col("_t") * F.col("_t") - F.col("_t")
            ).alias("_tie3")
        )
    )
    # n_incomplete and k_fam cover EVERY family (they aggregate all
    # blocks); fam/nblk/ties only families with >= 1 complete block —
    # left-join so a family whose blocks are ALL incomplete still
    # emits a row (n_blocks=0, NULL stats) instead of vanishing (the
    # twonn_dimension ADVICE class of bug, pinned in tests).
    j = (
        n_incomplete.join(k_fam, group_cols)
        .join(fam, group_cols, "left")
        .join(nblk, group_cols, "left")
        .join(ties, group_cols, "left")
    )
    n, k = F.coalesce(F.col("_n"), F.lit(0.0)), F.col("_k")
    q = 12.0 / (n * k * (k + 1.0)) * F.col("_rr") - 3.0 * n * (k + 1.0)
    corr = 1.0 - F.col("_tie3") / (n * k * (k * k - 1.0))
    qc = F.when((k >= 2) & (n > 0) & (corr > 0), q / corr)
    dof = (k - 1.0)
    zwh = (
        F.cbrt(qc / dof) - (1.0 - 2.0 / (9.0 * dof))
    ) / F.sqrt(2.0 / (9.0 * dof))
    p = F.when(
        zwh.isNotNull(),
        F.when(
            zwh >= 0, normal_sf_two_sided(zwh) / 2
        ).otherwise(1.0 - normal_sf_two_sided(zwh) / 2),
    )
    return j.select(
        *group_cols,
        n.cast("bigint").alias("n_blocks"),
        "n_incomplete",
        k.cast("bigint").alias("k_treatments"),
        F.round(qc, round_to).alias("q_corrected"),
        dof.cast("bigint").alias("df"),
        F.round(p, round_to).alias("p_value"),
    ).orderBy(*group_cols)


def mood_median(
    df: DataFrame,
    *,
    group_cols: list[str],
    value_col: str,
    class_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-family Mood's median test — the blunt-but-robust k-class
    location test: classify every value as above vs not-above the
    FAMILY's grand median and chi²-test the resulting 2×k contingency
    table.  Less powerful than :func:`kruskal_wallis` but immune to
    outliers and unequal variances — the sanity check when KW and
    ANOVA disagree.

    The grand median is exact (one ``percentile`` aggregate per
    family, matching the DuckDB oracle bit-for-bit; at raw-event scale
    feed an aggregated input or accept approx drift), joined back
    family-keyed; the 2×k table collapses from one conditional hash
    aggregate; chi² = Σ(O−E)²/E over the 2k cells by algebra on the k
    class rows, p via the shared Wilson–Hilferty chi²(k−1)
    approximation.

    Output per family: group cols, n_total, k_classes, chi2, df,
    p_value (NULL when k < 2 or any expected margin is zero — e.g.
    every value equal to the median).
    """
    s = df.select(
        *[F.col(c) for c in group_cols],
        F.col(value_col).cast("double").alias("_v"),
        F.col(class_col).cast("string").alias("_c"),
    ).filter(F.col("_v").isNotNull() & F.col("_c").isNotNull())
    med = s.groupBy(*group_cols).agg(
        F.expr("percentile(_v, 0.5)").alias("_med")
    )
    tagged = s.join(med, group_cols).withColumn(
        "_above", (F.col("_v") > F.col("_med")).cast("int")
    )
    per_class = tagged.groupBy(*group_cols, "_c").agg(
        F.count(F.lit(1)).cast("double").alias("_nc"),
        F.sum("_above").cast("double").alias("_ac"),
    )
    fam = per_class.groupBy(*group_cols).agg(
        F.sum("_nc").alias("_n"),
        F.sum("_ac").alias("_a"),
        F.count(F.lit(1)).cast("double").alias("_k"),
        # chi2 = Σ_c [(a_c − n_c·p)²/(n_c·p) + ((n_c−a_c) − n_c·q)²/(n_c·q)]
        # with p = A/N computed after; carry the per-class pieces as sums
        F.sum(F.col("_ac") * F.col("_ac") / F.col("_nc")).alias("_saa"),
    )
    n, a, k = F.col("_n"), F.col("_a"), F.col("_k")
    p_above = a / n
    # algebra: Σ(a_c − n_c p)²/(n_c p q) = (Σa_c²/n_c − A²/N) / (p·q)
    chi2 = F.when(
        (k >= 2) & (p_above > 0) & (p_above < 1),
        (F.col("_saa") - a * a / n) / (p_above * (1.0 - p_above)),
    )
    dof = k - 1.0
    zwh = (
        F.cbrt(chi2 / dof) - (1.0 - 2.0 / (9.0 * dof))
    ) / F.sqrt(2.0 / (9.0 * dof))
    p = F.when(
        zwh.isNotNull(),
        F.when(
            zwh >= 0, normal_sf_two_sided(zwh) / 2
        ).otherwise(1.0 - normal_sf_two_sided(zwh) / 2),
    )
    return fam.select(
        *group_cols,
        n.cast("bigint").alias("n_total"),
        k.cast("bigint").alias("k_classes"),
        F.round(chi2, round_to).alias("chi2"),
        dof.cast("bigint").alias("df"),
        F.round(p, round_to).alias("p_value"),
    ).orderBy(*group_cols)


def anderson_darling(
    df: DataFrame,
    *,
    group_cols: list[str],
    value_col: str,
    class_col: str,
    crit_5pct: float = 2.492,
    round_to: int = 6,
) -> DataFrame:
    """Per-family two-sample Anderson–Darling test (Pettitt 1976) —
    the tail-weighted sibling of :func:`ks_drift`: KS sees only the
    single largest CDF gap, AD integrates the squared gap with
    1/(F(1−F)) weighting, so shifts in the TAILS (exactly where
    latency/spend/token-count drift lives) move it far sooner.

        A² = (1/(n·m)) Σ_{i=1}^{N−1} (M_i·N − n·i)² / (i·(N−i)),

    with M_i = how many of the first i pooled-order values are class 1
    and N = n+m.  Compared against the fixed 5% critical value 2.492
    (Pettitt's table) — the same fixed-α contract as
    ``proportion_test``; AD p-values have no elementary closed form.

    Tie discipline: the pooled order is (value, class) — within equal
    values class-1 rows sort first, which pins M_i deterministically
    so both engines compute the identical statistic (a tie's internal
    permutation within one class cannot change M_i).

    Scale shape: the ``mann_whitney`` contract — one pooled window
    per family (row_number + running class-1 count share the same
    (family, value, class) sort), then ONE hash aggregate of the
    Σ term.  Families each pass through one sort task; feed
    pre-aggregated or bounded families at raw-corpus scale.

    Output per family: group cols, n1, n0, ad_stat (NULL when either
    class is absent), exceeds_5pct.
    """
    s = df.select(
        *[F.col(c) for c in group_cols],
        F.col(value_col).cast("double").alias("_v"),
        F.col(class_col).cast("int").alias("_y"),
    ).filter(F.col("_v").isNotNull() & F.col("_y").isin(0, 1))
    gp = [F.col(c) for c in group_cols]
    w = Window.partitionBy(*gp).orderBy(
        F.col("_v").asc(), F.col("_y").desc()
    )
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    full = Window.partitionBy(*gp)
    staged = s.select(
        *group_cols,
        F.row_number().over(w).cast("double").alias("_i"),
        F.sum("_y").over(cum).cast("double").alias("_mi"),
        F.sum("_y").over(full).cast("double").alias("_n1"),
        F.count(F.lit(1)).over(full).cast("double").alias("_nn"),
    )
    i, mi = F.col("_i"), F.col("_mi")
    n1, nn = F.col("_n1"), F.col("_nn")
    term = F.when(
        i < nn,
        (mi * nn - n1 * i) * (mi * nn - n1 * i) / (i * (nn - i)),
    ).otherwise(F.lit(0.0))
    agg = staged.groupBy(*group_cols).agg(
        F.max(n1).alias("_n1f"),
        F.max(nn).alias("_nnf"),
        F.sum(term).alias("_s"),
    )
    n1f, nnf = F.col("_n1f"), F.col("_nnf")
    n0f = nnf - n1f
    ad = F.when(
        (n1f > 0) & (n0f > 0), F.col("_s") / (n1f * n0f)
    )
    return agg.select(
        *group_cols,
        n1f.cast("bigint").alias("n1"),
        n0f.cast("bigint").alias("n0"),
        F.round(ad, round_to).alias("ad_stat"),
        (ad > F.lit(float(crit_5pct))).alias("exceeds_5pct"),
    ).orderBy(*group_cols)


def krippendorff_alpha(
    df: DataFrame,
    *,
    unit_col: str,
    value_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Krippendorff's alpha for NOMINAL ratings — the inter-annotator
    agreement coefficient that, unlike :func:`fleiss_kappa`, is
    defined with MISSING ratings (units rated by any subset of
    annotators) — the realistic label-quality gate for crowdsourced
    LLM training labels where nobody rates everything.

        α = 1 − D_o / D_e,
        D_o = [Σ_u Σ_c n_uc·(m_u − n_uc)/(m_u − 1)] / n..,
        D_e = Σ_c n_c·(n.. − n_c) / (n..·(n..−1)),

    with n_uc = ratings of category c in unit u, m_u = ratings in
    unit u, summed over PAIRABLE units (m_u ≥ 2; singletons carry no
    agreement information and are excluded from n.. per the standard
    definition, reported as n_unpairable).

    Scale shape: two narrowing hash aggregates — (unit, category)
    cells, then unit totals joined back cell-keyed (one shuffle each,
    map-side combined) — and a final scalar reduce; category totals
    reduce from the same cell table.  No windows, no pair joins: the
    n_uc·(m_u − n_uc) algebra counts disagreeing pairs without
    enumerating them.

    Output (one row): n_units, n_unpairable, n_ratings (pairable),
    k_categories, d_o, d_e, alpha (NULL when D_e = 0 — fewer than two
    categories ever used).
    """
    s = df.select(
        F.col(unit_col).alias("_u"),
        F.col(value_col).cast("string").alias("_c"),
    ).filter(F.col("_u").isNotNull() & F.col("_c").isNotNull())
    cells = s.groupBy("_u", "_c").agg(
        F.count(F.lit(1)).cast("double").alias("_nuc")
    )
    units = cells.groupBy("_u").agg(F.sum("_nuc").alias("_mu"))
    pairable = units.filter(F.col("_mu") >= 2)
    joined = cells.join(pairable, "_u")
    do_num = joined.agg(
        F.sum(
            F.col("_nuc") * (F.col("_mu") - F.col("_nuc"))
            / (F.col("_mu") - 1.0)
        ).alias("_don"),
        F.countDistinct("_c").cast("bigint").alias("k_categories"),
        F.countDistinct("_u").cast("bigint").alias("n_units"),
        F.sum(F.col("_nuc")).alias("_ntot"),
    )
    cat_tot = (
        joined.groupBy("_c")
        .agg(F.sum("_nuc").alias("_nc"))
        .agg(
            F.sum(F.col("_nc") * F.col("_nc")).alias("_snc2"),
            F.sum("_nc").alias("_snc"),
        )
    )
    unpair = units.agg(
        F.sum(F.when(F.col("_mu") < 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_unpairable")
    )
    out = (
        do_num.crossJoin(F.broadcast(cat_tot))
        .crossJoin(F.broadcast(unpair))
    )
    ntot = F.col("_ntot")
    d_o = F.col("_don") / ntot
    d_e = (ntot * ntot - F.col("_snc2")) / (ntot * (ntot - 1.0))
    alpha = F.when(d_e > 0, 1.0 - d_o / d_e)
    return out.select(
        "n_units",
        "n_unpairable",
        ntot.cast("bigint").alias("n_ratings"),
        "k_categories",
        F.round(d_o, round_to).alias("d_o"),
        F.round(d_e, round_to).alias("d_e"),
        F.round(alpha, round_to).alias("alpha"),
    )


def l_diversity_summary(
    df: DataFrame,
    *,
    quasi_cols: list[str],
    sensitive_col: str,
    min_entropy_l: float = 2.0,
    round_to: int = 6,
) -> DataFrame:
    """Entropy l-diversity release gate — the one-row summary that
    complements :func:`k_anonymity_audit`'s per-class rows: a class
    can pass distinct-l while one sensitive value holds 99% of it, so
    the entropy criterion (Machanavajjhala et al. 2007) requires
    ``exp(H(class))`` ≥ l for EVERY class.  The dataset-level verdict
    is driven by the WORST class.

    Scale shape: two narrowing hash aggregates — (quasi, sensitive)
    cells, then per-class entropy from the cell shares (the Σp·ln p
    algebra needs only the cell counts and the class total, joined
    back cell-keyed) — and a final scalar reduce.  No windows; the
    worst class is a MIN, not a sort.

    Output (one row): n_classes, n_rows, min_class_size,
    min_distinct_l, min_entropy_l, n_classes_below (entropy-l <
    ``min_entropy_l``), release_ok.
    """
    if not quasi_cols:
        raise ValueError("quasi_cols must be non-empty")
    s = df.select(
        *[F.col(c) for c in quasi_cols],
        F.col(sensitive_col).cast("string").alias("_s"),
    ).filter(F.col("_s").isNotNull())
    cells = s.groupBy(*quasi_cols, "_s").agg(
        F.count(F.lit(1)).cast("double").alias("_n")
    )
    classes = cells.groupBy(*quasi_cols).agg(
        F.sum("_n").alias("_tot"),
        F.count(F.lit(1)).cast("bigint").alias("_l"),
        # H = ln(tot) - (Σ n·ln n)/tot
        F.sum(F.col("_n") * F.log("_n")).alias("_nln"),
    )
    ent = classes.withColumn(
        "_el",
        F.exp(F.log(F.col("_tot")) - F.col("_nln") / F.col("_tot")),
    )
    return ent.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_classes"),
        F.sum("_tot").cast("bigint").alias("n_rows"),
        F.min("_tot").cast("bigint").alias("min_class_size"),
        F.min("_l").cast("bigint").alias("min_distinct_l"),
        F.round(F.min("_el"), round_to).alias("min_entropy_l"),
        F.sum(
            F.when(F.col("_el") < F.lit(float(min_entropy_l)), 1).otherwise(
                0
            )
        )
        .cast("bigint")
        .alias("n_classes_below"),
        (F.min("_el") >= F.lit(float(min_entropy_l))).alias("release_ok"),
    )


def tail_dependence(
    df: DataFrame,
    *,
    x_col: str,
    y_col: str,
    q: float = 0.95,
    round_to: int = 6,
) -> DataFrame:
    """Empirical tail-dependence coefficients between two paired
    metrics — "when X is extreme, is Y extreme TOO?", the question a
    correlation coefficient cannot answer (Gaussian-looking pairs can
    be tail-independent; risk co-movement lives in the tails):

        λ_U = P(Y > F_Y⁻¹(q) | X > F_X⁻¹(q)),
        λ_L = P(Y ≤ F_Y⁻¹(1−q) | X ≤ F_X⁻¹(1−q)),

    with exact marginal quantiles.  λ near (1−q)·…·0 means the tails
    are independent; λ ≫ 1−q means joint blowups — the usual argument
    for capping by BOTH metrics in outlier filters rather than each
    marginally.

    Scale shape: one exact-percentile aggregate (two quantiles per
    margin, one pass), broadcast back as a 1-row frame, then ONE
    conditional hash aggregate over the pairs — no sorts beyond the
    percentile's internal one, no joins on row volume.

    Output (one row): n, q, x_hi, y_hi, n_x_hi, lambda_upper,
    lambda_lower (NULL when the conditioning tail is empty).
    """
    if not (0.5 < q < 1.0):
        raise ValueError(f"q must be in (0.5, 1), got {q}")
    s = df.select(
        F.col(x_col).cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
    ).filter(F.col("_x").isNotNull() & F.col("_y").isNotNull())
    qs = s.agg(
        F.expr(f"percentile(_x, {q!r})").alias("_xq"),
        F.expr(f"percentile(_y, {q!r})").alias("_yq"),
        F.expr(f"percentile(_x, {1.0 - q!r})").alias("_xl"),
        F.expr(f"percentile(_y, {1.0 - q!r})").alias("_yl"),
    )
    agg = s.crossJoin(F.broadcast(qs)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.max("_xq").alias("_xqf"),
        F.max("_yq").alias("_yqf"),
        F.sum(F.when(F.col("_x") > F.col("_xq"), 1).otherwise(0))
        .cast("double")
        .alias("_nxh"),
        F.sum(
            F.when(
                (F.col("_x") > F.col("_xq")) & (F.col("_y") > F.col("_yq")),
                1,
            ).otherwise(0)
        )
        .cast("double")
        .alias("_nboth_hi"),
        F.sum(F.when(F.col("_x") <= F.col("_xl"), 1).otherwise(0))
        .cast("double")
        .alias("_nxl"),
        F.sum(
            F.when(
                (F.col("_x") <= F.col("_xl"))
                & (F.col("_y") <= F.col("_yl")),
                1,
            ).otherwise(0)
        )
        .cast("double")
        .alias("_nboth_lo"),
    )
    return agg.select(
        "n",
        F.lit(float(q)).alias("q"),
        F.round(F.col("_xqf"), round_to).alias("x_hi"),
        F.round(F.col("_yqf"), round_to).alias("y_hi"),
        F.col("_nxh").cast("bigint").alias("n_x_hi"),
        F.round(
            F.when(F.col("_nxh") > 0, F.col("_nboth_hi") / F.col("_nxh")),
            round_to,
        ).alias("lambda_upper"),
        F.round(
            F.when(F.col("_nxl") > 0, F.col("_nboth_lo") / F.col("_nxl")),
            round_to,
        ).alias("lambda_lower"),
    )


def distribution_overlap(
    df: DataFrame,
    *,
    group_cols: list[str],
    value_col: str,
    class_col: str,
    n_bins: int = 20,
    round_to: int = 6,
) -> DataFrame:
    """Per-family overlapping coefficient (OVL) between two classes'
    value distributions — the "how much do these two histograms
    actually share" number in [0, 1] that a p-value cannot give: an
    enormous sample makes a 0.98-overlap pair "significantly
    different" (:func:`ks_drift` fires) while OVL says the practical
    difference is 2%.

        OVL = Σ_bins min(share₁(b), share₀(b)),

    over ``n_bins`` equal-width bins spanning the FAMILY's pooled
    [min, max] (degenerate families with min = max collapse to one
    bin and OVL = 1 when both classes are present).

    Scale shape: one (family) min/max aggregate joined back
    family-keyed, then ONE (family, bin) conditional hash aggregate
    and a ≤n_bins-row reduce per family — no sorts, no windows.

    Output per family: group cols, n1, n0, n_bins, ovl (NULL when
    either class is empty).
    """
    if n_bins < 1:
        raise ValueError(f"n_bins must be >= 1, got {n_bins}")
    s = df.select(
        *[F.col(c) for c in group_cols],
        F.col(value_col).cast("double").alias("_v"),
        F.col(class_col).cast("int").alias("_y"),
    ).filter(F.col("_v").isNotNull() & F.col("_y").isin(0, 1))
    rng = s.groupBy(*group_cols).agg(
        F.min("_v").alias("_lo"), F.max("_v").alias("_hi")
    )
    width = F.when(
        F.col("_hi") > F.col("_lo"),
        (F.col("_hi") - F.col("_lo")) / F.lit(float(n_bins)),
    )
    binned = s.join(rng, group_cols).withColumn(
        "_bin",
        F.when(width.isNull(), F.lit(0)).otherwise(
            F.least(
                F.lit(n_bins - 1),
                F.floor((F.col("_v") - F.col("_lo")) / width).cast("int"),
            )
        ),
    )
    cells = binned.groupBy(*group_cols, "_bin").agg(
        F.sum("_y").cast("double").alias("_c1"),
        F.sum(1 - F.col("_y")).cast("double").alias("_c0"),
    )
    fam = cells.groupBy(*group_cols).agg(
        F.sum("_c1").alias("_n1"),
        F.sum("_c0").alias("_n0"),
    )
    j = cells.join(fam, group_cols)
    n1 = F.when(F.col("_n1") > 0, F.col("_n1"))
    n0 = F.when(F.col("_n0") > 0, F.col("_n0"))
    ovl_term = F.least(F.col("_c1") / n1, F.col("_c0") / n0)
    out = j.groupBy(*group_cols).agg(
        F.max("_n1").cast("bigint").alias("n1"),
        F.max("_n0").cast("bigint").alias("n0"),
        F.sum(ovl_term).alias("_ovl"),
    )
    return out.select(
        *group_cols,
        "n1",
        "n0",
        F.lit(int(n_bins)).alias("n_bins"),
        F.round(
            F.when((F.col("n1") > 0) & (F.col("n0") > 0), F.col("_ovl")),
            round_to,
        ).alias("ovl"),
    ).orderBy(*group_cols)


def cliffs_delta(
    df: DataFrame,
    *,
    group_cols: list[str],
    value_col: str,
    class_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-family Cliff's delta — the rank-based EFFECT SIZE that
    belongs next to every :func:`mann_whitney` z: δ = P(x₁ > x₀) −
    P(x₁ < x₀) ∈ [−1, 1], i.e. how often a class-1 value beats a
    class-0 value, net of losses.  Reported with Romano et al.'s
    conventional magnitude bands (|δ| < .147 negligible, < .33 small,
    < .474 medium, else large) so a "significant" z on a negligible
    effect reads as exactly that.

    Computed from the same midrank construction as ``mann_whitney``
    (one shared family shuffle, tie cells never a self-join):
    U₁ = R₁ − n₁(n₁+1)/2 counts wins + half-ties, so
    δ = 2·U₁/(n₁·n₀) − 1 nets ties out exactly.

    Output per family: group cols, n1, n0, delta (NULL when either
    class is empty), magnitude (NULL with it).
    """
    s = df.select(
        *[F.col(c) for c in group_cols],
        F.col(value_col).cast("double").alias("_v"),
        F.col(class_col).cast("int").alias("_y"),
    ).filter(F.col("_v").isNotNull() & F.col("_y").isin(0, 1))
    gp = [F.col(c) for c in group_cols]
    midrank = F.rank().over(Window.partitionBy(*gp).orderBy("_v")) + (
        F.count(F.lit(1)).over(Window.partitionBy(*gp, F.col("_v"))) - 1
    ) / 2.0
    ranked = s.withColumn("_r", midrank)
    agg = ranked.groupBy(*group_cols).agg(
        F.sum(F.col("_y")).cast("double").alias("_n1"),
        F.sum(1 - F.col("_y")).cast("double").alias("_n0"),
        F.sum(F.when(F.col("_y") == 1, F.col("_r"))).alias("_r1"),
    )
    n1 = F.when(F.col("_n1") > 0, F.col("_n1"))
    n0 = F.when(F.col("_n0") > 0, F.col("_n0"))
    u1 = F.col("_r1") - n1 * (n1 + 1.0) / 2.0
    delta = 2.0 * u1 / (n1 * n0) - 1.0
    mag = (
        F.when(F.abs(delta) < 0.147, F.lit("negligible"))
        .when(F.abs(delta) < 0.33, F.lit("small"))
        .when(F.abs(delta) < 0.474, F.lit("medium"))
        .when(delta.isNotNull(), F.lit("large"))
    )
    return agg.select(
        *group_cols,
        F.col("_n1").cast("bigint").alias("n1"),
        F.col("_n0").cast("bigint").alias("n0"),
        F.round(delta, round_to).alias("delta"),
        mag.alias("magnitude"),
    ).orderBy(*group_cols)


def theil_index(
    df: DataFrame,
    *,
    group_cols: list[str],
    value_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Theil T inequality index with its exact between/within-group
    decomposition — the inequality measure :func:`gini_concentration`
    cannot give you: ``T = T_between + T_within`` holds as an identity
    (Gini does not decompose), so "how much of the revenue inequality
    is ACROSS nations vs WITHIN them" is a pair of numbers, not a
    narrative.

    Algebra (all from sums, no ranking):
    ``T = Σ xᵢ ln xᵢ / Σx − ln(Σx/n)``;
    ``T_between = Σ_g s_g ln(μ_g/μ)`` with ``s_g`` the group's value
    share; ``T_within = T − T_between = Σ_g s_g T_g``.

    Scale shape: one hash aggregate per group (n, Σx, Σ x ln x), then
    a 1-row reduce — no window, no sort, the cheapest possible shape
    for an inequality statistic (the definitional Gini needs a global
    rank; Theil needs only ``x ln x``).  Non-positive values are
    outside the index's domain and dropped (logarithms).

    Output (single row): n, n_groups, mean, theil_total,
    theil_between, theil_within.
    """
    s = df.select(
        *[F.col(c) for c in group_cols],
        F.col(value_col).cast("double").alias("_x"),
    ).filter(F.col("_x").isNotNull() & (F.col("_x") > 0))
    per_g = s.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("double").alias("_ng"),
        F.sum("_x").alias("_sg"),
        F.sum(F.col("_x") * F.log("_x")).alias("_slg"),
    )
    tot = per_g.agg(
        F.sum("_ng").alias("_n"),
        F.sum("_sg").alias("_s"),
        F.sum("_slg").alias("_sl"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        # T_between needs mu inside the per-group log, but
        # Σ s_g ln(μ_g/μ) = Σ s_g ln μ_g − ln μ  (shares sum to 1),
        # so the per-group term is mu-free and one pass suffices.
        F.sum(
            (F.col("_sg")) * F.log(F.col("_sg") / F.col("_ng"))
        ).alias("_sglmg"),
    )
    mu = F.col("_s") / F.col("_n")
    t_total = F.col("_sl") / F.col("_s") - F.log(mu)
    t_between = F.col("_sglmg") / F.col("_s") - F.log(mu)
    return tot.select(
        F.col("_n").cast("bigint").alias("n"),
        "n_groups",
        F.round(mu, round_to).alias("mean"),
        F.round(t_total, round_to).alias("theil_total"),
        F.round(t_between, round_to).alias("theil_between"),
        F.round(t_total - t_between, round_to).alias("theil_within"),
    )


def hill_tail_index(
    df: DataFrame,
    *,
    group_cols: list[str],
    value_col: str,
    id_col: str,
    k: int = 50,
    round_to: int = 6,
) -> DataFrame:
    """Hill estimator of the power-law tail exponent per group:
    ``α̂ = k / Σ_{i=1..k} ln(x₍ᵢ₎ / x₍ₖ₊₁₎)`` over the k largest
    values (x₍ₖ₊₁₎ the threshold order statistic) — the standard
    answer to "HOW heavy is this heavy tail?" that
    :func:`~.text_analysis.zipf_fit` asks of ranks and
    ``tail_dependence`` asks of joint extremes.  α ≈ 1 is
    Zipf-extreme (means barely exist), α > 2 has finite variance —
    the number that decides whether mean-based SLAs and samplers are
    even defined for this column.

    Scale shape: per-group top-(k+1) via ONE rank window (the
    grouped-top-k shape — per-partition heaps feed the window's sort,
    never a global sort), then a row-local log ratio and one hash
    aggregate.  The sum of log ratios is invariant to how ties order
    among themselves (the multiset of top values is what enters), so
    ``id_col`` tiebreaking only pins WHICH rows rank, not the α̂.
    Groups with fewer than k+1 positive values emit NULL α̂ (the
    estimator needs a threshold below the tail).

    Output per group: group cols, n_pos, k, threshold, hill_alpha,
    tail_index (= 1/α̂, the extreme-value γ).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    s = df.select(
        *[F.col(c) for c in group_cols],
        F.col(value_col).cast("double").alias("_x"),
        F.col(id_col).alias("_id"),
    ).filter(F.col("_x").isNotNull() & (F.col("_x") > 0))
    gp = [F.col(c) for c in group_cols]
    w = Window.partitionBy(*gp).orderBy(
        F.col("_x").desc(), F.col("_id").asc()
    )
    ranked = s.withColumn("_rn", F.row_number().over(w)).filter(
        F.col("_rn") <= k + 1
    )
    thr = ranked.filter(F.col("_rn") == k + 1).select(
        *group_cols, F.col("_x").alias("_thr")
    )
    n_pos = s.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pos")
    )
    summed = (
        ranked.filter(F.col("_rn") <= k)
        .join(thr, list(group_cols), "inner")
        .groupBy(*group_cols)
        .agg(
            F.sum(F.log(F.col("_x") / F.col("_thr"))).alias("_slr"),
            F.max("_thr").alias("_threshold"),
        )
    )
    alpha = F.when(F.col("_slr") > 0, F.lit(float(k)) / F.col("_slr"))
    return (
        n_pos.join(summed, list(group_cols), "left")
        .select(
            *group_cols,
            "n_pos",
            F.lit(k).cast("int").alias("k"),
            F.round("_threshold", round_to).alias("threshold"),
            F.round(alpha, round_to).alias("hill_alpha"),
            F.round(
                F.when(alpha.isNotNull(), F.lit(1.0) / alpha), round_to
            ).alias("tail_index"),
        )
        .orderBy(*group_cols)
    )


def eb_shrinkage(
    df: DataFrame,
    *,
    item_col: str,
    success_col: str,
    trial_col: str,
    min_trials: int = 1,
    round_to: int = 6,
) -> DataFrame:
    """Empirical-Bayes beta-binomial shrinkage of per-item rates — the
    standard cure for "this part has a 100% return rate (n=1)"
    leaderboard noise: fit a Beta(α, β) prior to the ACROSS-item rate
    distribution by method of moments, then report each item's
    posterior mean ``(s + α)/(n + α + β)``, which shrinks small-n
    items toward the global rate and leaves well-measured items alone.

    Method of moments on the raw rates of items with
    ``n ≥ min_trials``: with p̄ the mean rate and v the (population)
    variance, ``ν = p̄(1−p̄)/v − 1``, ``α = p̄ν``, ``β = (1−p̄)ν``.
    Degenerate fits — v = 0 (all rates equal) or v ≥ p̄(1−p̄) (more
    dispersed than any beta) — emit NULL priors and NULL shrunk rates
    rather than a fabricated prior.

    Scale shape: one hash aggregate per item, one 1-row moment
    reduce broadcast back — two narrowing passes, no window, no
    iteration (no MLE loop: MoM is closed-form and deterministic,
    which is what a differential oracle can replay).

    Output per item: item, trials, successes, raw_rate, prior_alpha,
    prior_beta, shrunk_rate.
    """
    per_item = (
        df.select(
            F.col(item_col).alias("item"),
            F.col(success_col).cast("double").alias("_s"),
            F.col(trial_col).cast("double").alias("_n"),
        )
        .filter(F.col("_n") > 0)
        .groupBy("item")
        .agg(
            F.sum("_s").alias("_succ"),
            F.sum("_n").alias("_tri"),
        )
        .withColumn("_rate", F.col("_succ") / F.col("_tri"))
    )
    fit = per_item.filter(F.col("_tri") >= min_trials).agg(
        F.avg("_rate").alias("_pbar"),
        F.var_pop("_rate").alias("_v"),
    )
    nu = F.when(
        (F.col("_v") > 0)
        & (F.col("_v") < F.col("_pbar") * (1 - F.col("_pbar"))),
        F.col("_pbar") * (1 - F.col("_pbar")) / F.col("_v") - 1,
    )
    priors = fit.select(
        (F.col("_pbar") * nu).alias("_alpha"),
        ((1 - F.col("_pbar")) * nu).alias("_beta"),
    )
    return (
        per_item.crossJoin(F.broadcast(priors))
        .select(
            "item",
            F.col("_tri").cast("bigint").alias("trials"),
            F.col("_succ").cast("bigint").alias("successes"),
            F.round("_rate", round_to).alias("raw_rate"),
            F.round("_alpha", round_to).alias("prior_alpha"),
            F.round("_beta", round_to).alias("prior_beta"),
            F.round(
                (F.col("_succ") + F.col("_alpha"))
                / (F.col("_tri") + F.col("_alpha") + F.col("_beta")),
                round_to,
            ).alias("shrunk_rate"),
        )
        .orderBy("item")
    )


def lorenz_curve(
    df: DataFrame,
    *,
    value_col: str,
    id_col: str,
    n_points: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Lorenz-curve points: split the population (ranked by value
    ascending) into ``n_points`` equal-count buckets and report each
    bucket's cumulative share of the total — the "bottom 50% of
    customers hold 9% of revenue" readout that makes
    :func:`gini_concentration`'s scalar visible as a curve (the Gini
    is twice the area between this curve and the diagonal).

    Scale shape: one :func:`~.relational.global_rank`-style rank —
    here a plain rank window is avoided: bucket membership needs only
    the rank QUANTILE, so rows are bucketed by
    ``floor((rank−1)·n_points / n)`` from a distributed rank
    (row_number over a range-partition-friendly total order), then two
    tiny aggregates (per-bucket sums, then a cumulative over
    ``n_points`` rows).  Ties across a bucket boundary are pinned by
    the ``id_col`` tiebreak, identically in every engine.

    Output per bucket: bucket (1-based), n, bucket_sum, cum_share.
    """
    if n_points < 1:
        raise ValueError(f"n_points must be >= 1, got {n_points}")
    from knot_another_pipeline_spark.operators.relational import global_rank

    s = df.select(
        F.col(value_col).cast("double").alias("_v"),
        F.col(id_col).alias("_id"),
    ).filter(F.col("_v").isNotNull() & (F.col("_v") >= 0))
    ranked = global_rank(
        s, [F.col("_v"), F.col("_id")], rank_col="_rk"
    )
    tot = ranked.agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_v").alias("_tot")
    )
    bucketed = (
        ranked.crossJoin(F.broadcast(tot))
        .groupBy(
            (
                F.floor(
                    (F.col("_rk") - 1) * F.lit(n_points) / F.col("_n")
                ) + 1
            )
            .cast("int")
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("_v").alias("_bsum"),
            F.max("_tot").alias("_t"),
        )
    )
    wc = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    # n_points rows — the unpartitioned cumulative window is a
    # driver-sized frame, not a funnel.
    return bucketed.select(
        "bucket",
        "n",
        F.round("_bsum", round_to).alias("bucket_sum"),
        F.round(
            F.when(F.col("_t") > 0, F.sum("_bsum").over(wc) / F.col("_t")),
            round_to,
        ).alias("cum_share"),
    ).orderBy("bucket")


def h_index(
    df: DataFrame,
    *,
    group_cols: list[str],
    value_col: str,
    id_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-group h-index: the largest ``h`` such that the group has at
    least ``h`` rows with value ≥ ``h`` — the citation metric
    generalized to any contribution profile ("a supplier with h-index
    40 filled at least 40 orders of at least 40 units").  It is the
    robust middle ground the existing lenses miss:
    :func:`gini_concentration` normalizes away VOLUME, a plain top-k
    ignores DEPTH; h answers both with one integer immune to a single
    outlier row.

    Computed from the sorted-rank identity ``h = #{i : v₍ᵢ₎ ≥ i}``
    (values descending, i 1-based) — v₍ᵢ₎ ≥ i is a prefix property of
    the descending sort, so the count IS the h-index.  One per-group
    rank window plus one hash aggregate; ties need no tiebreak for
    the RESULT (any permutation of equal values crosses the v ≥ i
    diagonal at the same point), ``id_col`` just pins a total order.

    Output per group: group cols, n, h_index, plus ``h_ratio`` =
    h / √n — the scale-free score (√n is the h-index ceiling for a
    group of n rows, achieved when all values ≥ √n).
    """
    s = df.select(
        *[F.col(c) for c in group_cols],
        F.col(value_col).cast("double").alias("_v"),
        F.col(id_col).alias("_id"),
    ).filter(F.col("_v").isNotNull())
    gp = [F.col(c) for c in group_cols]
    w = Window.partitionBy(*gp).orderBy(
        F.col("_v").desc(), F.col("_id").asc()
    )
    ranked = s.withColumn("_rn", F.row_number().over(w))
    return (
        ranked.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("_v") >= F.col("_rn"), 1).otherwise(0))
            .cast("bigint")
            .alias("h_index"),
        )
        .select(
            *group_cols,
            "n",
            "h_index",
            F.round(
                F.col("h_index") / F.sqrt(F.col("n")), round_to
            ).alias("h_ratio"),
        )
        .orderBy(*group_cols)
    )
