"""Model-evaluation metrics over scored rows: AUC, calibration, lift,
and population stability.

A training-data pipeline does not stop at producing features and labels
— it has to judge the models scored back onto the data (is the quality
classifier separating? is the dedup scorer calibrated? did the score
distribution drift after a retrain?).  These are the four standard
readouts, each computed exactly (no sampling, no sketch) with the
classic distributed shapes:

- ``auc_scores`` — ROC AUC via the Mann–Whitney rank identity: midrank
  the scores per group, sum the positive ranks, done.  One shuffle.
- ``calibration_curve`` — predicted-vs-observed reliability per
  equal-width score bin.  One aggregate.
- ``lift_table`` — decile gains: tiles from exact-percentile
  THRESHOLDS (1-row broadcast + map-side compare, never a one-task
  global NTILE sort), cumulative capture over the tiny tile table.
- ``psi_stability`` — Population Stability Index between two score
  snapshots on a shared fixed bin grid, Laplace-smoothed so empty bins
  are priced deterministically instead of exploding ln(0).

The reference has no model-evaluation surface at all (its apps render
descriptive charts); these follow the same oracle-replayable design as
the rest of the catalog — every float rounds, every rank has exact tie
semantics, every hash is engine-portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from knot_another_pipeline_spark.functions.pins import pin_without_stats

__all__ = [
    "auc_scores",
    "average_precision",
    "bradley_terry",
    "brier_decomposition",
    "calibration_curve",
    "categorical_psi",
    "classification_report",
    "cochran_q",
    "conformal_threshold",
    "cuped_readout",
    "dedup_pr_curve",
    "delong_auc",
    "group_fairness",
    "hosmer_lemeshow",
    "ips_policy_value",
    "isotonic_calibration",
    "lift_table",
    "mantel_haenszel",
    "mcnemar_readout",
    "mde_power",
    "msprt_from_moments",
    "msprt_readout",
    "pair_eval",
    "permutation_test",
    "psi_stability",
    "qte_readout",
    "rank_biased_overlap",
    "ranking_metrics",
    "regression_report",
    "smd_balance",
    "tost_equivalence",
    "uplift_table",
]


def auc_scores(
    df: DataFrame,
    *,
    group_cols: list[str],
    score_col: str,
    label_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Exact ROC AUC per group via the Mann–Whitney U identity:
    ``AUC = (Σ ranks(positives) − n₊(n₊+1)/2) / (n₊·n₋)`` with AVERAGE
    (midrank) tie handling — equal scores contribute exactly ½, which
    is the probabilistic definition P(score₊ > score₋) + ½P(=).  This
    matches sklearn's ``roc_auc_score`` without materializing a single
    ROC point, threshold sweep, or pairwise join.

    One shuffle: the rank window and the tie-count window share the
    group partitioning (HashPartitioning(group) satisfies the
    (group, score) clustering — same plan shape as ``spearman_corr``,
    ONE Exchange), then one hash aggregate.  Groups with no positives
    or no negatives yield NULL (AUC is undefined), not an error.

    Labels are truthy ints/booleans (positive = 1/true).  Rows with
    NULL score or label are dropped.  Output: group cols, n_pos,
    n_neg, auc.
    """
    s = df.select(
        *[F.col(c) for c in group_cols],
        F.col(score_col).cast("double").alias("_s"),
        F.col(label_col).cast("int").alias("_y"),
    ).filter(F.col("_s").isNotNull() & F.col("_y").isNotNull())
    gp = [F.col(c) for c in group_cols]
    midrank = F.rank().over(Window.partitionBy(*gp).orderBy("_s")) + (
        F.count(F.lit(1)).over(Window.partitionBy(*gp, F.col("_s"))) - 1
    ) / 2.0
    ranked = s.withColumn("_r", midrank)
    agg = ranked.groupBy(*group_cols).agg(
        F.sum("_y").cast("bigint").alias("n_pos"),
        F.sum(F.lit(1) - F.col("_y")).cast("bigint").alias("n_neg"),
        F.sum(F.when(F.col("_y") == 1, F.col("_r"))).alias("_rsum"),
    )
    auc = (
        F.col("_rsum") - F.col("n_pos") * (F.col("n_pos") + 1) / 2.0
    ) / (F.col("n_pos") * F.col("n_neg"))
    return agg.select(
        *group_cols,
        "n_pos",
        "n_neg",
        F.round(
            F.when((F.col("n_pos") > 0) & (F.col("n_neg") > 0), auc),
            round_to,
        ).alias("auc"),
    )


def calibration_curve(
    df: DataFrame,
    *,
    score_col: str,
    label_col: str,
    n_bins: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Reliability diagram data: scores (assumed in [0, 1]) bucketed
    into ``n_bins`` equal-width bins, each bin reporting its mean
    predicted score against the observed event rate.  A calibrated
    scorer tracks the diagonal; a quality classifier that says "0.9"
    where only 40% are positive needs recalibrating before its scores
    gate data.

    ONE hash aggregate over row-local bin assignment (``n_bins``
    output rows); scores exactly 1.0 fold into the top bin.  Output:
    bin, lo, hi, n, mean_score, event_rate.
    """
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    s = df.select(
        F.col(score_col).cast("double").alias("_s"),
        F.col(label_col).cast("int").alias("_y"),
    ).filter(F.col("_s").isNotNull() & F.col("_y").isNotNull())
    b = F.least(
        F.lit(n_bins - 1), F.floor(F.col("_s") * n_bins).cast("int")
    )
    return (
        s.withColumn("_b", b)
        .groupBy("_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.avg("_s"), round_to).alias("mean_score"),
            F.round(F.avg("_y"), round_to).alias("event_rate"),
        )
        .select(
            F.col("_b").alias("bin"),
            F.round(F.col("_b") / n_bins, round_to).alias("lo"),
            F.round((F.col("_b") + 1) / n_bins, round_to).alias("hi"),
            "n",
            "mean_score",
            "event_rate",
        )
    )


def lift_table(
    df: DataFrame,
    *,
    score_col: str,
    label_col: str,
    n_tiles: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Decile gains/lift table: rows tiled by score (tile 1 = highest
    scores), each tile's event rate compared to the base rate, with
    cumulative event capture — "the top 20% of scores capture 63% of
    positives", the number targeting/curation decisions are made on.

    Tiles come from exact-percentile THRESHOLDS (one aggregate → a
    1-row broadcast → a map-side comparison), the same
    global-sort-free shape as ``rfm_segments`` — a global NTILE would
    serialize the corpus through one sort task.  Rows tied on a
    threshold land deterministically in the higher tile; tile sizes
    wobble at ties, boundaries don't.  The cumulative columns window
    over the ``n_tiles``-row aggregate.

    Output: tile, n, n_events, event_rate, lift, cum_events,
    cum_capture.
    """
    if n_tiles < 2:
        raise ValueError(f"n_tiles must be >= 2, got {n_tiles}")
    s = df.select(
        F.col(score_col).cast("double").alias("_s"),
        F.col(label_col).cast("int").alias("_y"),
    ).filter(F.col("_s").isNotNull() & F.col("_y").isNotNull())
    qs = [i / n_tiles for i in range(1, n_tiles)]
    qarr = "array({})".format(", ".join(str(q) for q in qs))
    thresholds = s.agg(F.expr(f"percentile(_s, {qarr})").alias("_q"))
    terms = [
        F.when(
            F.col("_s") < F.element_at(F.col("_q"), i), F.lit(1)
        ).otherwise(F.lit(0))
        for i in range(1, n_tiles)
    ]
    tile = (F.lit(1) + sum(terms[1:], terms[0])).cast("int")
    tiles = (
        s.crossJoin(F.broadcast(thresholds))
        .withColumn("_tile", tile)
        .groupBy("_tile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("_y").cast("bigint").alias("n_events"),
        )
    )
    w_all = Window.partitionBy()
    w_cum = Window.partitionBy().orderBy("_tile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    base_rate = F.sum("n_events").over(w_all) / F.sum("n").over(w_all)
    total_events = F.sum("n_events").over(w_all)
    return tiles.select(
        F.col("_tile").alias("tile"),
        "n",
        "n_events",
        F.round(F.col("n_events") / F.col("n"), round_to).alias("event_rate"),
        F.round(
            F.when(
                base_rate > 0, (F.col("n_events") / F.col("n")) / base_rate
            ),
            round_to,
        ).alias("lift"),
        F.sum("n_events").over(w_cum).cast("bigint").alias("cum_events"),
        F.round(
            F.when(
                total_events > 0, F.sum("n_events").over(w_cum) / total_events
            ),
            round_to,
        ).alias("cum_capture"),
    )


def psi_stability(
    expected: DataFrame,
    actual: DataFrame,
    col: str,
    *,
    bins: int = 10,
    lo: float,
    hi: float,
    round_to: int = 6,
) -> DataFrame:
    """Population Stability Index between two snapshots of a score (or
    feature) distribution: ``PSI = Σ_bins (p_a − p_e)·ln(p_a/p_e)``
    over a SHARED fixed equal-width grid — the industry-standard
    "did the scoring population shift since the model was fit" alarm,
    with its conventional reading (< 0.1 stable, < 0.25 moderate,
    else shifted) emitted as a verdict column.

    Complements ``histogram_drift`` (total variation): TV is bounded
    and symmetric-additive; PSI weights tail moves logarithmically,
    which is why scorecard monitoring standardized on it.  Both sides
    reuse :func:`equi_width_histogram` (bounded shuffle, ≤ ``bins``
    rows each) and join on the bin grid.  Empty bins are
    Laplace-smoothed — ``p = (n + 0.5)/(N + 0.5·bins)`` — a
    DETERMINISTIC convention that keeps ln() finite and the metric
    reproducible, instead of the ad-hoc epsilon many implementations
    bury.

    Output (one row): psi, verdict, n_expected, n_actual.
    """
    from knot_another_pipeline_spark.operators.quality import (
        equi_width_histogram,
    )

    e = equi_width_histogram(expected, col, bins=bins, lo=lo, hi=hi).select(
        "bin", F.col("n").alias("n_e")
    )
    a = equi_width_histogram(actual, col, bins=bins, lo=lo, hi=hi).select(
        "bin", F.col("n").alias("n_a")
    )
    # Densify to the FULL fixed grid 0..bins-1 before smoothing: a bin
    # empty in BOTH snapshots still contributes a (generally nonzero)
    # Laplace-smoothed term whenever the two totals differ, so dropping
    # it (as a bare full_outer join of the two sparse histograms would)
    # deviates from the documented "Σ over the shared fixed grid".
    grid = expected.sparkSession.range(bins).select(
        F.col("id").cast("bigint").alias("bin")
    )
    joined = (
        grid.join(e, "bin", "left")
        .join(a, "bin", "left")
        .select(
            F.coalesce("n_e", F.lit(0)).cast("double").alias("n_e"),
            F.coalesce("n_a", F.lit(0)).cast("double").alias("n_a"),
        )
    )
    totals = joined.agg(
        F.sum("n_e").alias("te"), F.sum("n_a").alias("ta")
    )
    sm = F.lit(0.5)
    per_bin = joined.crossJoin(F.broadcast(totals)).select(
        "te",
        "ta",
        (
            (
                (F.col("n_a") + sm) / (F.col("ta") + sm * bins)
                - (F.col("n_e") + sm) / (F.col("te") + sm * bins)
            )
            * F.log(
                ((F.col("n_a") + sm) / (F.col("ta") + sm * bins))
                / ((F.col("n_e") + sm) / (F.col("te") + sm * bins))
            )
        ).alias("_term"),
    )
    agg = per_bin.groupBy("te", "ta").agg(
        F.round(F.sum("_term"), round_to).alias("psi")
    )
    return agg.select(
        "psi",
        F.when(F.col("psi") < 0.1, F.lit("stable"))
        .when(F.col("psi") < 0.25, F.lit("moderate"))
        .otherwise(F.lit("shifted"))
        .alias("verdict"),
        F.col("te").cast("bigint").alias("n_expected"),
        F.col("ta").cast("bigint").alias("n_actual"),
    )


def uplift_table(
    df: DataFrame,
    *,
    score_col: str,
    label_col: str,
    arm_col: str,
    control: str,
    treatment: str,
    n_tiles: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Uplift decile table with cumulative Qini: rows tiled by an uplift
    model's score (tile 1 = highest), each tile comparing the TREATED
    rows' event rate to the CONTROL rows' — "who converts BECAUSE we
    intervened", the causal reading a plain :func:`lift_table` cannot
    give (it conflates persuadables with sure-things).  The cumulative
    Qini value — ``cum_events_trt − cum_events_ctl·(cum_n_trt/
    cum_n_ctl)`` — is the standard uplift-model quality curve (its
    area is the Qini coefficient).

    Same global-sort-free shape as ``lift_table``: thresholds are exact
    percentiles of the POOLED scores (one aggregate → 1-row broadcast;
    pooling keeps both arms on identical boundaries, so a tile is the
    same score range in both arms — the comparison Qini assumes), tile
    assignment is a map-side comparison, and the per-tile arm split is
    a conditional aggregate.  The cumulative columns window over the
    ``n_tiles``-row result only.  Arms beyond the named two are
    dropped; an empty arm inside a tile yields NULL rates/uplift for
    that tile (not zero — no evidence is not "no effect").

    Output: tile, n_trt, n_ctl, events_trt, events_ctl, rate_trt,
    rate_ctl, uplift, cum_qini.
    """
    if n_tiles < 2:
        raise ValueError(f"n_tiles must be >= 2, got {n_tiles}")
    s = df.select(
        F.col(score_col).cast("double").alias("_s"),
        F.col(label_col).cast("int").alias("_y"),
        F.col(arm_col).alias("_arm"),
    ).filter(
        F.col("_s").isNotNull()
        & F.col("_y").isNotNull()
        & F.col("_arm").isin(control, treatment)
    )
    qs = [i / n_tiles for i in range(1, n_tiles)]
    qarr = "array({})".format(", ".join(str(q) for q in qs))
    thresholds = s.agg(F.expr(f"percentile(_s, {qarr})").alias("_q"))
    below = [
        F.when(
            F.col("_s") < F.element_at(F.col("_q"), i), F.lit(1)
        ).otherwise(F.lit(0))
        for i in range(1, n_tiles)
    ]
    tile = (F.lit(1) + sum(below[1:], below[0])).cast("int")
    is_trt = F.col("_arm") == treatment
    tiles = (
        s.crossJoin(F.broadcast(thresholds))
        .withColumn("_tile", tile)
        .groupBy("_tile")
        .agg(
            F.sum(is_trt.cast("long")).cast("bigint").alias("n_trt"),
            F.sum((~is_trt).cast("long")).cast("bigint").alias("n_ctl"),
            F.sum(F.when(is_trt, F.col("_y"))).cast("bigint").alias(
                "events_trt"
            ),
            F.sum(F.when(~is_trt, F.col("_y"))).cast("bigint").alias(
                "events_ctl"
            ),
        )
    )
    cum = Window.partitionBy().orderBy("_tile").rowsBetween(
        Window.unboundedPreceding, 0
    )
    rate_trt = F.when(
        F.col("n_trt") > 0, F.col("events_trt") / F.col("n_trt")
    )
    rate_ctl = F.when(
        F.col("n_ctl") > 0, F.col("events_ctl") / F.col("n_ctl")
    )
    cum_nt = F.sum("n_trt").over(cum)
    cum_nc = F.sum("n_ctl").over(cum)
    cum_et = F.sum(F.coalesce("events_trt", F.lit(0))).over(cum)
    cum_ec = F.sum(F.coalesce("events_ctl", F.lit(0))).over(cum)
    return tiles.select(
        F.col("_tile").alias("tile"),
        "n_trt",
        "n_ctl",
        F.coalesce("events_trt", F.lit(0)).cast("bigint").alias("events_trt"),
        F.coalesce("events_ctl", F.lit(0)).cast("bigint").alias("events_ctl"),
        F.round(rate_trt, round_to).alias("rate_trt"),
        F.round(rate_ctl, round_to).alias("rate_ctl"),
        F.round(rate_trt - rate_ctl, round_to).alias("uplift"),
        F.round(
            F.when(cum_nc > 0, cum_et - cum_ec * (cum_nt / cum_nc)),
            round_to,
        ).alias("cum_qini"),
    )


def pair_eval(
    predicted: DataFrame,
    truth: DataFrame,
    *,
    id_a_col: str = "id_a",
    id_b_col: str = "id_b",
    round_to: int = 6,
) -> DataFrame:
    """Precision / recall / F1 of a predicted pair set against a
    ground-truth pair set — the readout that closes the dedup loop:
    MinHash/SimHash/embedding-LSH emit candidate pairs, and this says
    how many are real and how much of the truth they cover, per
    threshold choice.  Without it, "the dedup ran" is the only
    evidence.

    Pairs are canonicalized (``least``/``greatest``) and deduplicated
    on both sides, so orientation and repeats can't inflate the
    counts; self-pairs are dropped.  True positives come from ONE
    inner join on the canonical pair key; the three counts are tiny
    aggregates.  Empty sides degrade to NULL metrics (0/0 is
    undefined, not zero).

    Output (one row): n_pred, n_true, tp, precision, recall, f1.
    """

    def canon(df: DataFrame) -> DataFrame:
        a, b = F.col(id_a_col), F.col(id_b_col)
        return (
            df.filter(a.isNotNull() & b.isNotNull() & (a != b))
            .select(
                F.least(a, b).alias("pa"), F.greatest(a, b).alias("pb")
            )
            .distinct()
        )

    p = canon(predicted)
    t = canon(truth)
    tp = p.join(t, ["pa", "pb"])
    counts = (
        p.agg(F.count(F.lit(1)).alias("n_pred"))
        .crossJoin(t.agg(F.count(F.lit(1)).alias("n_true")))
        .crossJoin(tp.agg(F.count(F.lit(1)).alias("tp")))
    )
    precision = F.when(
        F.col("n_pred") > 0, F.col("tp") / F.col("n_pred")
    )
    recall = F.when(F.col("n_true") > 0, F.col("tp") / F.col("n_true"))
    return counts.select(
        F.col("n_pred").cast("bigint").alias("n_pred"),
        F.col("n_true").cast("bigint").alias("n_true"),
        F.col("tp").cast("bigint").alias("tp"),
        F.round(precision, round_to).alias("precision"),
        F.round(recall, round_to).alias("recall"),
        F.round(
            F.when(
                precision.isNotNull()
                & recall.isNotNull()
                & (precision + recall > 0),
                2 * precision * recall / (precision + recall),
            ),
            round_to,
        ).alias("f1"),
    )


def ranking_metrics(
    ranked: DataFrame,
    truth: DataFrame,
    *,
    query_col: str = "query_id",
    id_col: str = "id",
    rank_col: str = "rank",
    rel_col: str = "rel",
    k: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Offline ranking evaluation — NDCG@k, MRR, precision@k, recall@k
    per query — the readout that turns "the retriever returned
    something" into a measured quality number, for BM25/hybrid/ANN
    results against a graded relevance set.  LINEAR gain
    (``gain = rel``, not ``2^rel−1``) so the metric is
    engine-portable without pow() rounding drift; documented here
    because the two conventions disagree above rel=1.

        DCG@k  = Σ_{rank≤k} rel / log2(rank+1)
        IDCG@k = the same sum over the query's top-k truth rels
                 (sorted rel desc, id asc)
        MRR    = 1 / min rank among retrieved-and-relevant (any k)
        P@k    = |retrieved∩relevant, rank≤k| / k
        R@k    = |retrieved∩relevant, rank≤k| / |relevant|

    Scale shape: ONE equi-join of the ranked lists against truth on
    ``(query, id)`` (both sides are top-k × queries — millions of
    rows, not corpora), one hash aggregate per query for the
    observed sums, and one window over truth (partitioned by query)
    for the ideal DCG.  Queries present in ``ranked`` but with no
    relevant truth rows emit NULL ndcg/recall (0/0 is undefined);
    relevance is ``coalesce(rel, 0)`` for unjudged retrieved docs —
    the standard pessimistic convention.

    Output per query: query, n_retrieved, n_relevant, ndcg, mrr,
    precision_at_k, recall_at_k (rounded).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    r = ranked.select(
        F.col(query_col).alias("q"),
        F.col(id_col).alias("id"),
        F.col(rank_col).cast("bigint").alias("rank"),
    )
    t = truth.select(
        F.col(query_col).alias("q"),
        F.col(id_col).alias("id"),
        F.col(rel_col).cast("double").alias("rel"),
    ).filter(F.col("rel") > 0)
    joined = r.join(t, ["q", "id"], "left").withColumn(
        "rel", F.coalesce("rel", F.lit(0.0))
    )
    log2 = F.log(F.lit(2.0))
    per_q = joined.groupBy("q").agg(
        F.count(F.lit(1)).alias("n_retrieved"),
        F.sum(
            F.when(
                F.col("rank") <= k,
                F.col("rel") / (F.log(F.col("rank") + 1.0) / log2),
            ).otherwise(F.lit(0.0))
        ).alias("_dcg"),
        F.min(F.when(F.col("rel") > 0, F.col("rank"))).alias("_minrank"),
        F.sum(
            F.when((F.col("rank") <= k) & (F.col("rel") > 0), 1).otherwise(0)
        ).alias("_hits"),
    )
    w = Window.partitionBy("q").orderBy(F.desc("rel"), F.asc("id"))
    ideal = (
        t.withColumn("_pos", F.row_number().over(w))
        .groupBy("q")
        .agg(
            F.count(F.lit(1)).alias("n_relevant"),
            F.sum(
                F.when(
                    F.col("_pos") <= k,
                    F.col("rel") / (F.log(F.col("_pos") + 1.0) / log2),
                ).otherwise(F.lit(0.0))
            ).alias("_idcg"),
        )
    )
    out = per_q.join(ideal, "q", "left")
    return out.select(
        F.col("q").alias("query"),
        F.col("n_retrieved").cast("bigint").alias("n_retrieved"),
        F.coalesce("n_relevant", F.lit(0)).cast("bigint").alias("n_relevant"),
        F.round(
            F.when(F.col("_idcg") > 0, F.col("_dcg") / F.col("_idcg")),
            round_to,
        ).alias("ndcg"),
        F.round(
            F.when(
                F.col("_minrank").isNotNull(), 1.0 / F.col("_minrank")
            ),
            round_to,
        ).alias("mrr"),
        F.round(F.col("_hits").cast("double") / k, round_to).alias(
            "precision_at_k"
        ),
        F.round(
            F.when(
                F.col("n_relevant") > 0,
                F.col("_hits").cast("double") / F.col("n_relevant"),
            ),
            round_to,
        ).alias("recall_at_k"),
    )


def categorical_psi(
    expected: DataFrame,
    actual: DataFrame,
    col: str,
    *,
    round_to: int = 6,
) -> DataFrame:
    """Population Stability Index over CATEGORICAL levels — the
    companion to the numeric :func:`psi_stability`: level shares in the
    baseline snapshot vs the current one, ``Σ (p_a − p_e)·ln(p_a/p_e)``
    over the UNION of observed levels (a level present in only one
    snapshot still contributes — that's exactly the drift being
    hunted: a new country code, a renamed event type, a vanished
    source).  NULL is its own ``(null)`` level; missingness drift is
    drift.

    Same deterministic Laplace smoothing as the numeric PSI —
    ``p = (n + 0.5)/(N + 0.5·L)`` with L the union level count — so
    zero-count levels keep finite terms and the number is reproducible
    to the digit.  Scale shape: each snapshot collapses to one
    level-count table (one hash aggregate each, level-cardinality
    rows), a full-outer join on the level key, and a 1-row rollup.

    Output (one row): psi, verdict (stable/moderate/shifted at the
    0.1/0.25 conventions), n_levels, n_expected, n_actual.
    """
    def counts(df: DataFrame, out: str) -> DataFrame:
        return (
            df.select(
                F.coalesce(F.col(col).cast("string"), F.lit("(null)")).alias(
                    "level"
                )
            )
            .groupBy("level")
            .agg(F.count(F.lit(1)).alias(out))
        )

    e = counts(expected, "n_e")
    a = counts(actual, "n_a")
    joined = e.join(a, "level", "full_outer").select(
        "level",
        F.coalesce("n_e", F.lit(0)).cast("double").alias("n_e"),
        F.coalesce("n_a", F.lit(0)).cast("double").alias("n_a"),
    )
    totals = joined.agg(
        F.sum("n_e").alias("te"),
        F.sum("n_a").alias("ta"),
        F.count(F.lit(1)).alias("nl"),
    )
    sm = F.lit(0.5)
    per = joined.crossJoin(F.broadcast(totals)).select(
        "te",
        "ta",
        "nl",
        (
            (
                (F.col("n_a") + sm) / (F.col("ta") + sm * F.col("nl"))
                - (F.col("n_e") + sm) / (F.col("te") + sm * F.col("nl"))
            )
            * F.log(
                ((F.col("n_a") + sm) / (F.col("ta") + sm * F.col("nl")))
                / ((F.col("n_e") + sm) / (F.col("te") + sm * F.col("nl")))
            )
        ).alias("_term"),
    )
    agg = per.groupBy("te", "ta", "nl").agg(
        F.round(F.sum("_term"), round_to).alias("psi")
    )
    return agg.select(
        "psi",
        F.when(F.col("psi") < 0.1, F.lit("stable"))
        .when(F.col("psi") < 0.25, F.lit("moderate"))
        .otherwise(F.lit("shifted"))
        .alias("verdict"),
        F.col("nl").cast("bigint").alias("n_levels"),
        F.col("te").cast("bigint").alias("n_expected"),
        F.col("ta").cast("bigint").alias("n_actual"),
    )


def ips_policy_value(
    logs: DataFrame,
    *,
    action_col: str,
    propensity_col: str,
    reward_col: str,
    policy_action_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Off-policy evaluation by inverse-propensity scoring — "what
    reward WOULD the new policy have earned on the logged traffic?" —
    answered from logs alone, no A/B test:

        IPS   = (1/n) Σ r·𝟙[a = π(x)] / p(a|x)
        SNIPS = Σ r·𝟙/p ÷ Σ 𝟙/p        (self-normalized — trades a
                little bias for much lower variance when propensities
                are small; report both, trust their agreement)

    The standard bandit/recsys replay readout (Li et al. 2011).  Rows
    whose logged propensity is NULL or ≤ 0 are dropped and counted —
    a zero propensity means the logging policy could never take that
    action and the estimator is undefined there.

    ONE conditional aggregate over the log — no joins, no windows;
    the heavy lifting (computing the target policy's action per
    context) happens upstream in whatever produced
    ``policy_action_col``.

    Output (one row): n, n_dropped, match_rate, avg_logged_reward,
    ips_value, snips_value (NULL when no row matches, rounded).
    """
    p = F.col(propensity_col).cast("double")
    r = F.col(reward_col).cast("double")
    ok = p.isNotNull() & (p > 0) & r.isNotNull()
    hit = F.col(action_col) == F.col(policy_action_col)
    agg = logs.agg(
        F.sum(F.when(ok, 1).otherwise(0)).alias("n"),
        F.sum(F.when(~ok, 1).otherwise(0)).alias("n_dropped"),
        F.sum(F.when(ok & hit, 1).otherwise(0)).alias("_nm"),
        F.avg(F.when(ok, r)).alias("_avg_r"),
        F.sum(F.when(ok & hit, r / p)).alias("_swr"),
        F.sum(F.when(ok & hit, 1.0 / p)).alias("_sw"),
    )
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.col("n_dropped").cast("bigint").alias("n_dropped"),
        F.round(
            F.when(
                F.col("n") > 0, F.col("_nm").cast("double") / F.col("n")
            ),
            round_to,
        ).alias("match_rate"),
        F.round("_avg_r", round_to).alias("avg_logged_reward"),
        F.round(
            F.when(F.col("n") > 0, F.coalesce("_swr", F.lit(0.0)) / F.col("n")),
            round_to,
        ).alias("ips_value"),
        F.round(
            F.when(F.col("_sw") > 0, F.col("_swr") / F.col("_sw")),
            round_to,
        ).alias("snips_value"),
    )


def dedup_pr_curve(
    scored_pairs: DataFrame,
    truth: DataFrame,
    *,
    score_col: str,
    thresholds: list[float],
    id_a_col: str = "id_a",
    id_b_col: str = "id_b",
    round_to: int = 6,
) -> DataFrame:
    """Precision/recall curve over a threshold grid — the
    threshold-PICKING companion to the single-point :func:`pair_eval`:
    score every candidate pair once (MinHash estimate, linkage weight,
    cosine), then read precision, recall and F1 at each cut from ONE
    pass — the table that turns "est_jaccard ≥ 0.5 seemed fine" into
    a chosen operating point with its measured trade-off.

    Scale shape: pairs canonicalize and keep their MAX score per
    canonical pair (orientation duplicates can't double-count), ONE
    left join against the truth pair set marks true positives, and
    every threshold is a conditional sum in the SAME aggregate — the
    candidate set is scanned once however long the grid.  Recall's
    denominator is the full truth-set size (including truth pairs the
    candidate generator never surfaced — missing candidates are
    recall loss, not invisible).

    Output per threshold: threshold, n_pred, tp, precision, recall,
    f1 (NULL where undefined; rounded).
    """
    if not thresholds:
        raise ValueError("thresholds must not be empty")
    ths = sorted(set(float(t) for t in thresholds))
    a, b = F.col(id_a_col), F.col(id_b_col)
    cand = (
        scored_pairs.filter(a.isNotNull() & b.isNotNull() & (a != b))
        .select(
            F.least(a, b).alias("pa"),
            F.greatest(a, b).alias("pb"),
            F.col(score_col).cast("double").alias("s"),
        )
        .filter(F.col("s").isNotNull())
        .groupBy("pa", "pb")
        .agg(F.max("s").alias("s"))
    )
    t = (
        truth.filter(a.isNotNull() & b.isNotNull() & (a != b))
        .select(F.least(a, b).alias("pa"), F.greatest(a, b).alias("pb"))
        .distinct()
    )
    n_true = t.agg(F.count(F.lit(1)).alias("n_true"))
    marked = cand.join(
        t.withColumn("_hit", F.lit(1)), ["pa", "pb"], "left"
    )
    aggs = []
    for i, th in enumerate(ths):
        over = F.col("s") >= F.lit(th)
        aggs += [
            F.sum(F.when(over, 1).otherwise(0)).alias(f"np_{i}"),
            F.sum(
                F.when(over & F.col("_hit").isNotNull(), 1).otherwise(0)
            ).alias(f"tp_{i}"),
        ]
    row = marked.agg(*aggs).crossJoin(F.broadcast(n_true))
    stack = ", ".join(
        f"CAST({th} AS DOUBLE), np_{i}, tp_{i}" for i, th in enumerate(ths)
    )
    long = row.selectExpr(
        "n_true",
        f"stack({len(ths)}, {stack}) as (threshold, n_pred, tp)",
    )
    prec = F.when(F.col("n_pred") > 0, F.col("tp") / F.col("n_pred"))
    rec = F.when(F.col("n_true") > 0, F.col("tp") / F.col("n_true"))
    return long.select(
        "threshold",
        F.col("n_pred").cast("bigint").alias("n_pred"),
        F.col("tp").cast("bigint").alias("tp"),
        F.round(prec, round_to).alias("precision"),
        F.round(rec, round_to).alias("recall"),
        F.round(
            F.when(
                prec.isNotNull() & rec.isNotNull() & (prec + rec > 0),
                2 * prec * rec / (prec + rec),
            ),
            round_to,
        ).alias("f1"),
    )


def classification_report(
    df: DataFrame,
    *,
    true_col: str,
    pred_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-class precision / recall / F1 / support from a (true, pred)
    prediction table — the sklearn ``classification_report`` readout,
    computed engine-side so model-eval jobs never collect raw
    predictions to the driver.

    Scale shape: ONE hash aggregate on the (true, pred) pair key
    reduces N rows to the ≤C² confusion table; the per-class margins
    come from two re-aggregations of that tiny table (broadcast-sized
    by construction — C is the label cardinality, not the data).  No
    window, no self-join, no second scan of the predictions.

    Output per class seen in either column: label, support (true
    count), predicted (pred count), tp, precision, recall, f1
    (``round_to``; NULL where the denominator is 0).
    """
    conf = (
        df.filter(F.col(true_col).isNotNull() & F.col(pred_col).isNotNull())
        .groupBy(
            F.col(true_col).alias("_t"), F.col(pred_col).alias("_p")
        )
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    support = conf.groupBy(F.col("_t").alias("label")).agg(
        F.sum("_n").alias("support")
    )
    predicted = conf.groupBy(F.col("_p").alias("label")).agg(
        F.sum("_n").alias("predicted")
    )
    tp = (
        conf.filter(F.col("_t") == F.col("_p"))
        .select(F.col("_t").alias("label"), F.col("_n").alias("tp"))
    )
    out = (
        support.join(predicted, "label", "full_outer")
        .join(tp, "label", "left")
        .na.fill({"support": 0, "predicted": 0, "tp": 0})
    )
    prec = F.when(
        F.col("predicted") > 0, F.col("tp") / F.col("predicted")
    )
    rec = F.when(F.col("support") > 0, F.col("tp") / F.col("support"))
    return out.select(
        "label",
        F.col("support").cast("bigint").alias("support"),
        F.col("predicted").cast("bigint").alias("predicted"),
        F.col("tp").cast("bigint").alias("tp"),
        F.round(prec, round_to).alias("precision"),
        F.round(rec, round_to).alias("recall"),
        F.round(
            F.when(
                prec.isNotNull() & rec.isNotNull() & (prec + rec > 0),
                2 * prec * rec / (prec + rec),
            ),
            round_to,
        ).alias("f1"),
    )


def conformal_threshold(
    df: DataFrame,
    *,
    group_col: str,
    score_col: str,
    id_col: str,
    alpha: float = 0.1,
    cal_pct: int = 50,
    round_to: int = 6,
) -> DataFrame:
    """Split-conformal calibration per group: hash-split the scored
    rows into a calibration and an evaluation half, take the
    ceil((n+1)(1−α))-th smallest calibration score as the conformal
    threshold (Vovk et al.; the finite-sample-valid quantile), and
    read back the empirical coverage on the held-out half — the
    distribution-free "how big must the prediction set be" number.

    Determinism: the split is ``md5(id) % 100 < cal_pct`` (replayable
    cross-engine, same idiom as ``hash_sample``); the order statistic
    is an exact rank selection (row_number on score with an id
    tiebreak), NOT ``percentile_approx``.

    Scale shape: one shuffle on the group key serves both the rank
    window (calibration side) and the coverage aggregate; the
    per-group thresholds (≤|groups| rows) broadcast back onto the
    evaluation side.

    Output per group: n_cal, n_eval, threshold, target (1−α),
    coverage (fraction of eval scores ≤ threshold).
    """
    if not 0 < alpha < 1:
        raise ValueError(f"alpha must be in (0, 1), got {alpha}")
    scored = df.select(
        F.col(group_col).alias("grp"),
        F.col(score_col).cast("double").alias("score"),
        F.col(id_col).cast("string").alias("_id"),
    ).filter(F.col("score").isNotNull())
    bucket = (
        F.conv(F.substring(F.md5(F.col("_id")), 1, 15), 16, 10)
        .cast("bigint") % 100
    )
    scored = scored.withColumn("_cal", bucket < F.lit(int(cal_pct)))
    cal = scored.filter(F.col("_cal"))
    w = Window.partitionBy("grp").orderBy(
        F.col("score").asc(), F.col("_id").asc()
    )
    ranked = cal.withColumn("_rn", F.row_number().over(w))
    n_cal = cal.groupBy("grp").agg(F.count(F.lit(1)).alias("n_cal"))
    # k = ceil((n+1)(1-alpha)), clamped to n (alpha smaller than 1/(n+1)
    # would demand a rank beyond the sample).
    k_expr = F.least(
        F.ceil((F.col("n_cal") + 1) * F.lit(1.0 - alpha)).cast("bigint"),
        F.col("n_cal"),
    )
    ks = n_cal.select("grp", "n_cal", k_expr.alias("_k"))
    thresholds = (
        ranked.join(F.broadcast(ks), "grp")
        .filter(F.col("_rn") == F.col("_k"))
        .select("grp", "n_cal", F.col("score").alias("threshold"))
    )
    cov = (
        scored.filter(~F.col("_cal"))
        .join(F.broadcast(thresholds), "grp")
        .groupBy("grp", "n_cal", "threshold")
        .agg(
            F.count(F.lit(1)).alias("n_eval"),
            F.sum(
                F.when(F.col("score") <= F.col("threshold"), 1).otherwise(0)
            ).alias("_cov"),
        )
    )
    return cov.select(
        F.col("grp").alias("group_key"),
        F.col("n_cal").cast("bigint").alias("n_cal"),
        F.col("n_eval").cast("bigint").alias("n_eval"),
        F.round("threshold", round_to).alias("threshold"),
        F.round(F.lit(1.0 - alpha), round_to).alias("target"),
        F.round(F.col("_cov") / F.col("n_eval"), round_to).alias("coverage"),
    )


def bradley_terry(
    matches: DataFrame,
    *,
    winner_col: str,
    loser_col: str,
    iterations: int = 2,
    round_to: int = 6,
) -> DataFrame:
    """Bradley–Terry strength estimation from pairwise outcomes — the
    standard model behind LLM preference leaderboards (win matrix →
    latent strengths): ``iterations`` rounds of the Zermelo/MM update

        s_i ← W_i / Σ_{j≠i} n_ij / (s_i + s_j)

    from a uniform start, renormalized each round so strengths mean to
    1 (the likelihood is scale-invariant; pinning the mean makes the
    sequence reproducible cross-engine).

    Scale shape: the match log reduces to the ≤C² (i, j, n_ij, w_ij)
    pair table with ONE hash aggregate; every MM round is two joins of
    that tiny table against the C-row strength frame plus one per-item
    aggregate — broadcast-sized throughout (C = number of items, not
    rows).  Like ``kmeans_step``/``pagerank``, the iterate lives in a
    DataFrame, never in plan literals, and is round-pinned with
    ``localCheckpoint`` so plan depth stays constant in ``iterations``.

    Output per item: item, n_matches, n_wins, strength (after
    ``iterations`` rounds), win_rate.
    """
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    m = matches.select(
        F.col(winner_col).cast("string").alias("_w"),
        F.col(loser_col).cast("string").alias("_l"),
    ).filter(
        F.col("_w").isNotNull() & F.col("_l").isNotNull()
        & (F.col("_w") != F.col("_l"))
    )
    # Directed win counts, then the symmetric pair table.
    wins = m.groupBy("_w", "_l").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        wins.select(
            F.col("_w").alias("i"), F.col("_l").alias("j"),
            F.col("n").alias("w_ij"),
        )
        .unionByName(
            wins.select(
                F.col("_l").alias("i"), F.col("_w").alias("j"),
                F.lit(0).cast("bigint").alias("w_ij"),
            )
        )
        .groupBy("i", "j")
        .agg(F.sum("w_ij").alias("w_ij"))
    )
    n_ij = (
        pairs.alias("a")
        .join(
            pairs.select(
                F.col("i").alias("j"), F.col("j").alias("i"),
                F.col("w_ij").alias("w_ji"),
            ).alias("b"),
            ["i", "j"],
        )
        .select("i", "j", "w_ij", (F.col("w_ij") + F.col("w_ji")).alias("n_ij"))
        .localCheckpoint(eager=True)
    )
    items = n_ij.groupBy(F.col("i").alias("item")).agg(
        (F.sum("n_ij")).alias("n_matches"),
        F.sum("w_ij").alias("n_wins"),
    )
    s = items.select("item", F.lit(1.0).alias("s"))
    for _ in range(iterations):
        joined = (
            n_ij.join(
                F.broadcast(s.select(F.col("item").alias("i"),
                                     F.col("s").alias("s_i"))), "i"
            )
            .join(
                F.broadcast(s.select(F.col("item").alias("j"),
                                     F.col("s").alias("s_j"))), "j"
            )
            .groupBy(F.col("i").alias("item"))
            .agg(
                F.sum(F.col("n_ij") / (F.col("s_i") + F.col("s_j"))).alias(
                    "_denom"
                )
            )
        )
        s = (
            items.join(joined, "item")
            .select(
                "item",
                F.when(
                    F.col("_denom") > 0, F.col("n_wins") / F.col("_denom")
                ).otherwise(F.lit(0.0)).alias("s"),
            )
        )
        mean = s.agg(F.avg("s").alias("_m"))
        # Round-pin the C-row iterate (the kmeans/pagerank contract):
        # without it each MM round nests the previous round's joins, so
        # plan depth — and analysis time — grows with ``iterations``.
        s = pin_without_stats(
            s.crossJoin(F.broadcast(mean))
            .select("item", (F.col("s") / F.col("_m")).alias("s"))
        )
    return (
        items.join(s, "item")
        .select(
            "item",
            F.col("n_matches").cast("bigint").alias("n_matches"),
            F.col("n_wins").cast("bigint").alias("n_wins"),
            F.round("s", round_to).alias("strength"),
            F.round(
                F.when(
                    F.col("n_matches") > 0,
                    F.col("n_wins") / F.col("n_matches"),
                ),
                round_to,
            ).alias("win_rate"),
        )
    )


def group_fairness(
    df: DataFrame,
    *,
    group_col: str,
    score_col: str,
    label_col: str,
    threshold: float,
    round_to: int = 6,
) -> DataFrame:
    """Per-group fairness audit of a thresholded scorer — the standard
    readout before a quality/toxicity classifier is allowed to gate a
    training corpus: does the filter remove one slice's documents at a
    different rate than everyone else's?

    Metrics per group (prediction = ``score >= threshold``):

    - ``base_rate``   — observed positive-label fraction;
    - ``pos_rate``    — predicted-positive fraction (selection rate);
    - ``tpr`` / ``fpr`` / ``precision`` — the confusion readout, NULL
      when the denominator class is absent (no positives → NULL tpr,
      no negatives → NULL fpr, no predicted positives → NULL
      precision) instead of a fabricated 0;
    - ``dp_gap``      — demographic-parity gap: group pos_rate minus
      the OVERALL pos_rate;
    - ``tpr_gap`` / ``fpr_gap`` — equalized-odds gaps vs the overall
      rates (NULL propagates from a NULL group rate).

    Shape: ONE conditional aggregate per group (map-side partials,
    single shuffle on the group key) plus a 1-row overall aggregate
    broadcast back with a crossJoin — no second pass over the rows, no
    per-group filtering.  At 100 TB the cost is the one group-key
    shuffle of pre-aggregated partials; group cardinality is the only
    driver-visible size.

    Rows with a NULL group, score, or label are excluded up front (the
    oracle applies the identical predicate).

    Output per group: group, n, base_rate, pos_rate, tpr, fpr,
    precision, dp_gap, tpr_gap, fpr_gap.
    """
    y = F.col("_y")
    pred = F.col("_p")
    base = df.filter(
        F.col(group_col).isNotNull()
        & F.col(score_col).isNotNull()
        & F.col(label_col).isNotNull()
    ).select(
        F.col(group_col).alias("group"),
        F.col(label_col).cast("int").alias("_y"),
        (F.col(score_col) >= F.lit(threshold)).cast("int").alias("_p"),
    )

    def _metrics(grouped):
        return grouped.agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(y).alias("base_rate"),
            F.avg(pred).alias("pos_rate"),
            (
                F.sum(pred * y) / F.nullif(F.sum(y), F.lit(0))
            ).alias("tpr"),
            (
                F.sum(pred * (1 - y))
                / F.nullif(F.sum(1 - y), F.lit(0))
            ).alias("fpr"),
            (
                F.sum(pred * y) / F.nullif(F.sum(pred), F.lit(0))
            ).alias("precision"),
        )

    per_group = _metrics(base.groupBy("group"))
    overall = _metrics(base.groupBy()).select(
        F.col("pos_rate").alias("_o_pos"),
        F.col("tpr").alias("_o_tpr"),
        F.col("fpr").alias("_o_fpr"),
    )
    return per_group.crossJoin(F.broadcast(overall)).select(
        "group",
        F.col("n").cast("bigint").alias("n"),
        F.round("base_rate", round_to).alias("base_rate"),
        F.round("pos_rate", round_to).alias("pos_rate"),
        F.round("tpr", round_to).alias("tpr"),
        F.round("fpr", round_to).alias("fpr"),
        F.round("precision", round_to).alias("precision"),
        F.round(F.col("pos_rate") - F.col("_o_pos"), round_to).alias(
            "dp_gap"
        ),
        F.round(F.col("tpr") - F.col("_o_tpr"), round_to).alias(
            "tpr_gap"
        ),
        F.round(F.col("fpr") - F.col("_o_fpr"), round_to).alias(
            "fpr_gap"
        ),
    )


def regression_report(
    df: DataFrame,
    *,
    group_cols: list[str],
    pred_col: str,
    truth_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-group regression scorecard — the numeric-target counterpart
    of ``classification_report``: n, rmse, mae, bias (mean error,
    signed), r2 (1 - MSE / Var(truth), the population convention), and
    mape over the rows whose truth is nonzero.

    ONE hash aggregate: every metric is a sum/mean of a row-local
    residual expression, so the whole report is map-side partial
    aggregation regardless of group count.  Degenerate groups
    (constant truth) yield NULL r2 instead of a division blow-up;
    all-zero-truth groups yield NULL mape.
    """
    s = df.select(
        *[F.col(c) for c in group_cols],
        F.col(pred_col).cast("double").alias("_p"),
        F.col(truth_col).cast("double").alias("_t"),
    ).filter(F.col("_p").isNotNull() & F.col("_t").isNotNull())
    err = F.col("_p") - F.col("_t")
    agg = s.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg(err * err).alias("_mse"),
        F.avg(F.abs(err)).alias("_mae"),
        F.avg(err).alias("_bias"),
        F.var_pop("_t").alias("_vt"),
        F.avg(
            F.when(F.col("_t") != 0, F.abs(err) / F.abs(F.col("_t")))
        ).alias("_mape"),
    )
    return agg.select(
        *group_cols,
        "n",
        F.round(F.sqrt("_mse"), round_to).alias("rmse"),
        F.round("_mae", round_to).alias("mae"),
        F.round("_bias", round_to).alias("bias"),
        F.round(
            F.when(F.col("_vt") > 0, 1 - F.col("_mse") / F.col("_vt")),
            round_to,
        ).alias("r2"),
        F.round("_mape", round_to).alias("mape"),
    )


def brier_decomposition(
    df: DataFrame,
    *,
    score_col: str,
    label_col: str,
    bins: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Murphy decomposition of the Brier score for a probabilistic
    binary forecaster: BRIER (mean squared error of the probability)
    split into RELIABILITY (calibration gap per score bin, weighted),
    RESOLUTION (how far bin outcome rates move from the base rate —
    the part skill earns), and UNCERTAINTY (base-rate variance, the
    floor no forecaster beats).  Within-bin score variance makes the
    identity brier = reliability - resolution + uncertainty inexact
    under binning; the residual (exactly that within-bin variance) is
    reported rather than silently absorbed.

    Scores must lie in [0, 1]; equal-width bins, top edge closed.
    Shape: one row-level aggregate (brier + base rate) and one
    ``bins``-row aggregate, combined by a 1-row broadcast — two
    map-side-combinable shuffles, no sort, any scale.

    Output (single row): n, brier, reliability, resolution,
    uncertainty, residual.
    """
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")
    s = df.select(
        F.col(score_col).cast("double").alias("_p"),
        F.col(label_col).cast("int").cast("double").alias("_o"),
    ).filter(
        F.col("_p").isNotNull()
        & F.col("_o").isNotNull()
        & F.col("_p").between(0.0, 1.0)
    )
    binned = s.withColumn(
        "_b",
        F.least(F.floor(F.col("_p") * bins), F.lit(bins - 1)).cast("int"),
    )
    per_bin = binned.groupBy("_b").agg(
        F.count(F.lit(1)).cast("double").alias("_nb"),
        F.avg("_p").alias("_pb"),
        F.avg("_o").alias("_ob"),
    )
    overall = binned.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.avg((F.col("_p") - F.col("_o")) * (F.col("_p") - F.col("_o"))).alias(
            "_brier"
        ),
        F.avg("_o").alias("_obar"),
    )
    parts = (
        per_bin.crossJoin(F.broadcast(overall))
        .agg(
            F.sum(
                F.col("_nb")
                * (F.col("_pb") - F.col("_ob"))
                * (F.col("_pb") - F.col("_ob"))
            ).alias("_rel_w"),
            F.sum(
                F.col("_nb")
                * (F.col("_ob") - F.col("_obar"))
                * (F.col("_ob") - F.col("_obar"))
            ).alias("_res_w"),
        )
    )
    return (
        overall.crossJoin(F.broadcast(parts))
        .select(
            "n",
            F.round("_brier", round_to).alias("brier"),
            F.round(F.col("_rel_w") / F.col("n"), round_to).alias(
                "reliability"
            ),
            F.round(F.col("_res_w") / F.col("n"), round_to).alias(
                "resolution"
            ),
            F.round(
                F.col("_obar") * (1 - F.col("_obar")), round_to
            ).alias("uncertainty"),
            F.round(
                F.col("_brier")
                - (
                    F.col("_rel_w") / F.col("n")
                    - F.col("_res_w") / F.col("n")
                    + F.col("_obar") * (1 - F.col("_obar"))
                ),
                round_to,
            ).alias("residual"),
        )
    )


def average_precision(
    df: DataFrame,
    *,
    group_cols: list[str],
    score_col: str,
    label_col: str,
    id_col: str,
    round_to: int = 6,
) -> DataFrame:
    """PR-AUC as AVERAGE PRECISION per group — the ranking metric for
    heavily imbalanced labels, where ROC AUC (``auc_scores``) saturates:
    ``AP = (1/P) Σ_{k: item_k positive} precision@k`` over the
    score-descending ranking, i.e. sklearn's ``average_precision_score``
    under a deterministic total order.

    Scores tie: AP depends on the order WITHIN a tie, so the ranking is
    made total with ``id_col`` ascending as the tiebreak — deterministic
    on every rerun and replayable by any SQL engine (the oracle runs
    the identical ``ROW_NUMBER`` ordering).  Groups with no positives
    report NULL, not 0 (no ranking of nothing).

    Scale shape: one window shuffle per group key carries BOTH running
    quantities (rank and cumulative true positives share the sort), and
    a final per-group hash aggregate reduces the positives' precision
    terms.  No threshold sweep, no pairwise join, no curve
    materialization.

    Output per group: group cols, n, n_pos, avg_precision.
    """
    w = Window.partitionBy(*group_cols).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    ranked = (
        df.select(
            *group_cols,
            F.col(score_col),
            F.col(id_col),
            F.col(label_col).cast("int").alias("_y"),
        )
        .withColumn("_k", F.row_number().over(w))
        .withColumn(
            "_tp",
            F.sum("_y").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
    )
    return (
        ranked.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("_y").cast("bigint").alias("n_pos"),
            F.sum(
                F.when(F.col("_y") == 1, F.col("_tp") / F.col("_k"))
            ).alias("_ap_sum"),
        )
        .select(
            *group_cols,
            "n",
            "n_pos",
            F.round(
                F.when(
                    F.col("n_pos") > 0, F.col("_ap_sum") / F.col("n_pos")
                ),
                round_to,
            ).alias("avg_precision"),
        )
    )


def isotonic_calibration(
    df: DataFrame,
    *,
    score_col: str,
    label_col: str,
    group_cols: list[str] | None = None,
    n_bins: int = 50,
    round_to: int = 6,
) -> DataFrame:
    """Isotonic (PAV) probability calibration per group — the
    monotone-regression upgrade of :func:`calibration_curve`: instead
    of reporting raw per-bin rates, fit the best monotone
    non-decreasing probability curve (the classic
    Platt-vs-isotonic choice for calibrating ranker/classifier scores
    before they gate data selection).

    Scale shape: the N input rows collapse to at most ``n_bins``
    fixed-width score bins per group in ONE distributed hash aggregate
    (the only shuffle that sees data volume); the pool-adjacent-
    violators solve then runs per group over <= ``n_bins`` rows inside
    ``applyInPandas``.  PAV block merges compare pooled rates with
    EXACT integer cross-multiplication (``pos_i·n_j > pos_j·n_i``), so
    the fitted values are bit-deterministic: each output equals
    ``double(Σpos/Σn)`` of its final block.  The catalog oracle
    computes the same fit through the closed-form minimax identity
    ``iso(i) = max_{a<=i} min_{b>=i} mean(a..b)`` over all bin ranges
    — the hash match is a proof that the O(B) PAV pooling equals the
    O(B²) minimax solution on real data.

    Empty bins are absent (monotonicity is over the ORDER of present
    bins, identical on both sides).  Output per (group, bin):
    group cols, bin, lo (= bin/n_bins), n, pos, raw_rate, iso_prob.
    """
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    groups = list(group_cols or [])
    bin_col = F.least(
        F.lit(n_bins - 1),
        F.greatest(
            F.lit(0), F.floor(F.col(score_col) * n_bins).cast("int")
        ),
    )
    binned = (
        df.filter(
            F.col(score_col).isNotNull() & F.col(label_col).isNotNull()
        )
        .select(
            *groups,
            bin_col.alias("bin"),
            F.col(label_col).cast("long").alias("_y"),
        )
        .groupBy(*groups, "bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("_y").cast("long").alias("pos"),
        )
    )

    out_fields = ", ".join(
        [f"`{g}` string" for g in groups]
        + ["bin int", "n long", "pos long", "iso_prob double"]
    )

    def pav(pdf):
        import pandas as pd

        pdf = pdf.sort_values("bin").reset_index(drop=True)
        # blocks of (weight, positives, first_idx); rates compared via
        # exact integer cross-multiplication, division only at the end
        blocks: list[list[int]] = []  # [n, pos, n_bins_in_block]
        for n_i, p_i in zip(pdf["n"], pdf["pos"]):
            blocks.append([int(n_i), int(p_i), 1])
            while (
                len(blocks) >= 2
                and blocks[-2][1] * blocks[-1][0]
                >= blocks[-1][1] * blocks[-2][0]
            ):
                w2, s2, c2 = blocks.pop()
                blocks[-1][0] += w2
                blocks[-1][1] += s2
                blocks[-1][2] += c2
        iso = []
        for w, s, c in blocks:
            iso.extend([s / w] * c)
        out = pdf[[*groups, "bin", "n", "pos"]].copy()
        out["iso_prob"] = pd.Series(iso, dtype="float64")
        return out

    grouped = (
        binned.withColumns(
            {g: F.col(g).cast("string") for g in groups}
        ).groupBy(*groups)
        if groups
        else binned.withColumn("_g", F.lit(0)).groupBy("_g")
    )
    if not groups:
        out_fields = "_g int, " + out_fields
    fitted = grouped.applyInPandas(
        (lambda pdf: pav(pdf))
        if groups
        else (lambda pdf: pav(pdf).assign(_g=0)),
        out_fields,
    )
    if not groups:
        fitted = fitted.drop("_g")
    return fitted.select(
        *groups,
        "bin",
        F.round(F.col("bin") / F.lit(float(n_bins)), round_to).alias("lo"),
        "n",
        "pos",
        F.round(F.col("pos") / F.col("n"), round_to).alias("raw_rate"),
        F.round("iso_prob", round_to).alias("iso_prob"),
    ).orderBy(*groups, "bin")


def cuped_readout(
    df: DataFrame,
    *,
    metric_col: str,
    covariate_col: str,
    arm_col: str,
    round_to: int = 6,
) -> DataFrame:
    """CUPED variance-reduced experiment readout (Deng et al. 2013,
    "Improving the Sensitivity of Online Controlled Experiments"): the
    per-arm metric mean re-centered on a pre-experiment covariate,
    ``ŷ_adj = ȳ_arm − θ·(x̄_arm − x̄_pool)`` with
    ``θ = cov(x, y) / var(x)`` fitted POOLED across arms — the
    standard A/B-platform move that cuts metric variance by the
    squared covariate correlation without touching the point estimate
    under randomization.

    Scale shape: ONE hash aggregate over the data computes the six
    per-arm moment sums (n, Σy, Σy², Σx, Σx², Σxy) — the only shuffle
    that sees row volume; θ and the pooled covariate mean come from a
    second aggregate over the HANDFUL of arm rows, broadcast back with
    a 1-row crossJoin.  Everything after the moment sums is row-local
    arithmetic — no second pass over the data, no per-row adjustment
    materialized (the algebra ``mean(y − θ(x − x̄))`` collapses onto
    the sums).

    Rows with NULL metric or covariate are excluded (they carry no
    moment).  Output per arm: arm, n, mean_metric, mean_adjusted,
    theta (same every row), var_reduction (1 − var_adj/var_metric,
    population form; NULL for a zero-variance arm).
    """
    y = F.col(metric_col).cast("double")
    x = F.col(covariate_col).cast("double")
    arms = (
        df.filter(y.isNotNull() & x.isNotNull())
        .groupBy(F.col(arm_col).alias("arm"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(y).alias("sy"),
            F.sum(y * y).alias("syy"),
            F.sum(x).alias("sx"),
            F.sum(x * x).alias("sxx"),
            F.sum(x * y).alias("sxy"),
        )
    )
    pool = arms.agg(
        F.sum("n").alias("pn"),
        F.sum("sy").alias("psy"),
        F.sum("sx").alias("psx"),
        F.sum("sxx").alias("psxx"),
        F.sum("sxy").alias("psxy"),
    ).select(
        (
            (F.col("psxy") / F.col("pn"))
            - (F.col("psx") / F.col("pn")) * (F.col("psy") / F.col("pn"))
        ).alias("_cov"),
        (
            (F.col("psxx") / F.col("pn"))
            - F.pow(F.col("psx") / F.col("pn"), 2)
        ).alias("_varx"),
        (F.col("psx") / F.col("pn")).alias("mx_pool"),
    ).select(
        F.when(F.col("_varx") > 0, F.col("_cov") / F.col("_varx"))
        .otherwise(F.lit(0.0))
        .alias("theta"),
        "mx_pool",
    )
    j = arms.crossJoin(F.broadcast(pool))
    my = F.col("sy") / F.col("n")
    mx = F.col("sx") / F.col("n")
    var_y = F.col("syy") / F.col("n") - my * my
    cov_a = F.col("sxy") / F.col("n") - mx * my
    var_x = F.col("sxx") / F.col("n") - mx * mx
    th = F.col("theta")
    var_adj = var_y - 2 * th * cov_a + th * th * var_x
    return j.select(
        "arm",
        "n",
        F.round(my, round_to).alias("mean_metric"),
        F.round(
            my - th * (mx - F.col("mx_pool")), round_to
        ).alias("mean_adjusted"),
        F.round(th, round_to).alias("theta"),
        F.when(var_y > 0, F.round(1 - var_adj / var_y, round_to))
        .otherwise(F.lit(None).cast("double"))
        .alias("var_reduction"),
    ).orderBy("arm")


def mcnemar_readout(
    df: DataFrame,
    *,
    a_correct_col: str,
    b_correct_col: str,
    group_cols: list[str] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """McNemar paired comparison of two classifiers scored on the SAME
    eval items — the correct test when model A and model B share the
    eval set (a two-proportion z-test double-counts the shared items
    and understates significance).  Only the DISCORDANT pairs carry
    information: ``z = (|n10 − n01| − 1) / sqrt(n10 + n01)`` with the
    Edwards continuity correction, p two-sided normal (χ²₁ ≡ z², so no
    chi-square CDF is needed and the DuckDB oracle evaluates the
    identical ``exp``-polynomial via ``normal_sf_two_sided``).

    Scale shape: ONE conditional hash aggregate over the eval rows —
    the four cells are map-side ``sum(when(...))``s, so the shuffle
    carries |groups| rows.  With ``group_cols`` the readout becomes a
    per-slice sweep whose z column feeds :func:`~.quality.fdr_adjust`
    directly.  Rows where either correctness flag is NULL are
    excluded (the item wasn't scored by both models).

    Output per group: group cols, n, both_correct, only_a, only_b,
    both_wrong, acc_a, acc_b, z, p_value (NULL z/p when no discordant
    pairs — the models are indistinguishable on this slice).
    """
    from knot_another_pipeline_spark.operators.quality import (
        normal_sf_two_sided,
    )

    gcols = list(group_cols or [])
    a = F.col(a_correct_col).cast("boolean")
    b = F.col(b_correct_col).cast("boolean")

    def cell(pred):
        return F.sum(F.when(pred, 1).otherwise(0)).cast("long")

    agg = (
        df.filter(a.isNotNull() & b.isNotNull())
        .groupBy(*gcols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            cell(a & b).alias("both_correct"),
            cell(a & ~b).alias("only_a"),
            cell(~a & b).alias("only_b"),
            cell(~a & ~b).alias("both_wrong"),
        )
    )
    n10 = F.col("only_a").cast("double")
    n01 = F.col("only_b").cast("double")
    disc = n10 + n01
    z = F.when(
        disc > 0, (F.abs(n10 - n01) - 1.0) / F.sqrt(disc)
    )
    out = agg.select(
        *gcols,
        "n",
        "both_correct",
        "only_a",
        "only_b",
        "both_wrong",
        F.round(
            (F.col("both_correct") + F.col("only_a")) / F.col("n"), round_to
        ).alias("acc_a"),
        F.round(
            (F.col("both_correct") + F.col("only_b")) / F.col("n"), round_to
        ).alias("acc_b"),
        F.round(z, round_to).alias("z"),
        F.round(normal_sf_two_sided(z), round_to).alias("p_value"),
    )
    return out.orderBy(*gcols) if gcols else out


def cochran_q(
    df: DataFrame,
    *,
    item_col: str,
    treatment_col: str,
    success_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Cochran's Q test across k matched binary treatments — the
    k-model generalization of :func:`mcnemar_readout` (and its exact
    reduction at k = 2): "do these k classifiers/prompts/checkpoints
    differ on the same eval items?", asked once instead of k(k−1)/2
    pairwise McNemars.

    ``Q = k(k−1)·Σ_j (G_j − T/k)² / (k·T − Σ_i L_i²)`` with G_j the
    per-treatment success totals, L_i the per-item success totals and
    T = ΣL_i; Q ~ χ²_{k−1} under H₀, p via the same Wilson–Hilferty
    cube-root normal approximation as :func:`~.quality.kruskal_wallis`
    (cbrt/exp only — the oracle replays it bit-for-bit).

    Complete-block enforcement at scale: k comes from a global
    distinct over the treatment column (k rows), items missing any
    treatment are DROPPED via a per-item count filter — one item-keyed
    hash aggregate, one broadcast of the 1-row k, one semi-join back.
    The per-treatment totals then aggregate the surviving long rows
    map-side (k-row shuffle).  No item×item or treatment×treatment
    pairing ever materializes.

    Output (one row): n_items, k_treatments, q_stat, df, p_value
    (NULL q/p when the denominator is 0 — all items unanimous).
    """
    from knot_another_pipeline_spark.operators.quality import (
        normal_sf_two_sided,
    )

    s = df.select(
        F.col(item_col).alias("_i"),
        F.col(treatment_col).cast("string").alias("_t"),
        F.col(success_col).cast("boolean").cast("int").alias("_y"),
    ).filter(
        F.col("_i").isNotNull()
        & F.col("_t").isNotNull()
        & F.col("_y").isNotNull()
    )
    kdf = s.agg(
        F.countDistinct("_t").cast("double").alias("_k")
    )
    items = (
        s.groupBy("_i")
        .agg(
            F.count(F.lit(1)).cast("double").alias("_cnt"),
            F.sum("_y").cast("double").alias("_l"),
        )
        .crossJoin(F.broadcast(kdf))
        .filter(F.col("_cnt") == F.col("_k"))
    )
    item_tot = items.agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("_l").alias("_tt"),
        F.sum(F.col("_l") * F.col("_l")).alias("_ll"),
        F.max("_k").alias("_k"),
    )
    g = (
        s.join(items.select("_i"), "_i", "left_semi")
        .groupBy("_t")
        .agg(F.sum("_y").cast("double").alias("_g"))
        .crossJoin(F.broadcast(item_tot))
        .groupBy("n_items", "_tt", "_ll", "_k")
        .agg(
            F.sum(
                (F.col("_g") - F.col("_tt") / F.col("_k"))
                * (F.col("_g") - F.col("_tt") / F.col("_k"))
            ).alias("_gg")
        )
    )
    k = F.col("_k")
    denom = k * F.col("_tt") - F.col("_ll")
    q = F.when(denom > 0, k * (k - 1) * F.col("_gg") / denom)
    dof = (k - 1).cast("double")
    zwh = (
        F.cbrt(q / dof) - (1.0 - 2.0 / (9.0 * dof))
    ) / F.sqrt(2.0 / (9.0 * dof))
    p = F.when(
        zwh.isNotNull(),
        F.when(
            zwh >= 0, normal_sf_two_sided(zwh) / 2
        ).otherwise(1.0 - normal_sf_two_sided(zwh) / 2),
    )
    return g.select(
        "n_items",
        k.cast("bigint").alias("k_treatments"),
        F.round(q, round_to).alias("q_stat"),
        dof.cast("bigint").alias("df"),
        F.round(p, round_to).alias("p_value"),
    )


def hosmer_lemeshow(
    df: DataFrame,
    *,
    score_col: str,
    label_col: str,
    id_col: str,
    bins: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Hosmer–Lemeshow goodness-of-fit test for a probabilistic
    classifier — the significance companion to
    :func:`calibration_curve`: bin the eval set into score deciles and
    test whether observed positives match the sum of predicted
    probabilities, ``χ² = Σ_g (O_g − E_g)² / (E_g·(1 − E_g/n_g))``
    over the valid bins, df = bins − 2.

    Determinism + scale: the decile assignment is
    ``floor((rank−1)·bins/N)`` over a TOTAL order (score, id) computed
    with :func:`~.relational.global_rank`'s range-partitioned rank —
    no single-partition ``ntile()`` window, and the explicit formula
    (rather than NTILE's ceil-first fill) is replayed verbatim by the
    DuckDB oracle.  After the rank, one bins-row hash aggregate; the
    χ² reduction runs on ≤ ``bins`` rows.  Degenerate bins (E_g = 0 or
    E_g = n_g, where the variance term vanishes) are excluded and df
    shrinks with them.  p-value via the Wilson–Hilferty cube-root
    normal approximation (cbrt/exp only, oracle-replayable).

    Output (one row): n, n_bins_valid, chi2, df, p_value (NULL when
    df < 1).
    """
    from knot_another_pipeline_spark.operators.quality import (
        normal_sf_two_sided,
    )
    from knot_another_pipeline_spark.operators.relational import global_rank

    if bins < 3:
        raise ValueError(f"bins must be >= 3 for df = bins - 2, got {bins}")
    s = df.select(
        F.col(score_col).cast("double").alias("_s"),
        F.col(label_col).cast("double").alias("_y"),
        F.col(id_col).alias("_id"),
    ).filter(F.col("_s").isNotNull() & F.col("_y").isNotNull())
    total = s.agg(F.count(F.lit(1)).cast("long").alias("_n"))
    ranked = global_rank(
        s, [F.col("_s"), F.col("_id")], rank_col="_rk"
    ).crossJoin(F.broadcast(total))
    binned = ranked.select(
        "_s",
        "_y",
        "_n",
        F.floor(
            (F.col("_rk") - 1) * F.lit(int(bins)) / F.col("_n")
        ).alias("_b"),
    )
    per_bin = binned.groupBy("_b").agg(
        F.max("_n").alias("_n"),
        F.count(F.lit(1)).cast("double").alias("_ng"),
        F.sum("_y").alias("_o"),
        F.sum("_s").alias("_e"),
    )
    valid = (F.col("_e") > 0) & (F.col("_e") < F.col("_ng"))
    contrib = F.when(
        valid,
        (F.col("_o") - F.col("_e"))
        * (F.col("_o") - F.col("_e"))
        / (F.col("_e") * (1.0 - F.col("_e") / F.col("_ng"))),
    )
    red = per_bin.groupBy("_n").agg(
        F.sum(F.when(valid, 1).otherwise(0)).cast("long").alias("nb"),
        F.sum(contrib).alias("chi2"),
    )
    dof = (F.col("nb") - 2).cast("double")
    c2 = F.when(dof >= 1, F.col("chi2"))
    zwh = (
        F.cbrt(c2 / dof) - (1.0 - 2.0 / (9.0 * dof))
    ) / F.sqrt(2.0 / (9.0 * dof))
    p = F.when(
        zwh.isNotNull(),
        F.when(
            zwh >= 0, normal_sf_two_sided(zwh) / 2
        ).otherwise(1.0 - normal_sf_two_sided(zwh) / 2),
    )
    return red.select(
        F.col("_n").alias("n"),
        F.col("nb").alias("n_bins_valid"),
        F.round(c2, round_to).alias("chi2"),
        F.when(dof >= 1, dof).cast("bigint").alias("df"),
        F.round(p, round_to).alias("p_value"),
    )


def mde_power(
    df: DataFrame,
    *,
    arm_col: str,
    value_col: str,
    control: str,
    treatment: str,
    alpha_z: float = 1.959963984540054,
    power_z: float = 0.8416212335729143,
    round_to: int = 6,
) -> DataFrame:
    """Experiment sensitivity readout — "what effect COULD this test
    have detected?": the minimal detectable effect at the observed
    sample sizes and variances, the achieved power against the
    observed difference, and the per-arm n a follow-up needs.  The
    honest companion to :func:`cuped_readout`/``ab_test`` — a
    non-significant readout is only reassuring if the MDE is small.

    Closed forms (two-sided α = 0.05, target power 80% by default):
    ``se = sqrt(s²_c/n_c + s²_t/n_t)``,
    ``MDE = (z_{α/2} + z_{pow})·se``,
    ``power(Δ̂) = Φ(|Δ̂|/se − z_{α/2})``,
    ``n/arm = (z_{α/2} + z_{pow})²·(s²_c + s²_t)/Δ̂²``.
    Φ comes from :func:`~.quality.normal_sf_two_sided`'s
    exp-polynomial, so the DuckDB oracle replays the identical
    arithmetic.

    Scale shape: ONE conditional hash aggregate over the rows (n, Σv,
    Σv² per arm as map-side ``sum(when(...))``s, 1-row shuffle);
    everything after is row-local algebra on that single row.  Sample
    variances (n−1); NULL se/derived columns when either arm has < 2
    rows or zero variance sum.

    Output (one row): n_control, n_treatment, mean_control,
    mean_treatment, diff, se, mde_abs, mde_rel, power_at_observed,
    n_per_arm_next.
    """
    from knot_another_pipeline_spark.operators.quality import (
        normal_sf_two_sided,
    )

    v = F.col(value_col).cast("double")
    arm = F.col(arm_col).cast("string")
    is_c = arm == F.lit(control)
    is_t = arm == F.lit(treatment)

    def arm_sums(pred, tag):
        return [
            F.sum(F.when(pred, 1).otherwise(0))
            .cast("double")
            .alias(f"n{tag}"),
            F.sum(F.when(pred, v).otherwise(0.0)).alias(f"s{tag}"),
            F.sum(F.when(pred, v * v).otherwise(0.0)).alias(f"q{tag}"),
        ]

    agg = df.filter(v.isNotNull() & (is_c | is_t)).agg(
        *arm_sums(is_c, "c"), *arm_sums(is_t, "t")
    )
    nc, nt = F.col("nc"), F.col("nt")
    mc = F.col("sc") / nc
    mt = F.col("st") / nt
    vc = (F.col("qc") - nc * mc * mc) / (nc - 1)
    vt = (F.col("qt") - nt * mt * mt) / (nt - 1)
    ok = (nc > 1) & (nt > 1)
    se = F.when(ok, F.sqrt(F.greatest(vc / nc + vt / nt, F.lit(0.0))))
    diff = mt - mc
    zsum = F.lit(alpha_z + power_z)
    mde = zsum * se
    zeff = F.when(se > 0, F.abs(diff) / se - F.lit(alpha_z))
    power = F.when(
        zeff.isNotNull(),
        F.when(zeff >= 0, 1.0 - normal_sf_two_sided(zeff) / 2).otherwise(
            normal_sf_two_sided(zeff) / 2
        ),
    )
    n_next = F.when(
        ok & (diff != 0),
        zsum * zsum * F.greatest(vc + vt, F.lit(0.0)) / (diff * diff),
    )
    return agg.select(
        nc.cast("bigint").alias("n_control"),
        nt.cast("bigint").alias("n_treatment"),
        F.round(mc, round_to).alias("mean_control"),
        F.round(mt, round_to).alias("mean_treatment"),
        F.round(diff, round_to).alias("diff"),
        F.round(se, round_to).alias("se"),
        F.round(mde, round_to).alias("mde_abs"),
        F.round(
            F.when(mc != 0, mde / F.abs(mc)), round_to
        ).alias("mde_rel"),
        F.round(power, round_to).alias("power_at_observed"),
        F.ceil(n_next).cast("bigint").alias("n_per_arm_next"),
    )


def msprt_readout(
    df: DataFrame,
    *,
    look_col: str,
    arm_col: str,
    value_col: str,
    control: str,
    treatment: str,
    tau_sq: float,
    alpha: float = 0.05,
    round_to: int = 6,
) -> DataFrame:
    """Always-valid sequential A/B readout via the mixture SPRT
    (Johari et al., "Peeking at A/B Tests") — the p-value you may
    look at EVERY day without inflating false positives, unlike the
    fixed-horizon z-test that :func:`~.quality.ab_test` reports.  At
    each look the mixture likelihood ratio against H₀: Δ = 0 with a
    N(0, τ²) alternative is
    ``Λ_n = √(V_n/(V_n+τ²)) · exp(Δ̂_n²·τ² / (2·V_n·(V_n+τ²)))``
    and the always-valid p is the RUNNING MIN of ``min(1, 1/Λ)`` —
    monotone by construction, so a rejection never un-rejects.

    Scale shape: the only data-sized shuffle is the per-(look, arm)
    moment aggregate; cumulative sums, Λ and the running min then run
    in windows over ONE ROW PER LOOK (days/hours — bounded by
    calendar, not by data), the same bounded single-partition
    convention as :func:`~.quality.fdr_adjust`'s hypothesis table.
    Looks where either arm has < 2 cumulative rows (or zero variance)
    yield NULL Λ and inherit the running p.

    ``tau_sq`` is the prior variance of the effect under H₁ — set it
    near the square of the effect size worth detecting (too small
    wastes power on tiny effects, too large on huge ones).

    Output per look: look, n_control, n_treatment, diff,
    lambda_mixture, p_always_valid, reject.
    """
    if tau_sq <= 0:
        raise ValueError(f"tau_sq must be positive, got {tau_sq}")
    if not (0 < alpha < 1):
        raise ValueError(f"alpha must be in (0,1), got {alpha}")
    v = F.col(value_col).cast("double")
    arm = F.col(arm_col).cast("string")
    is_c = arm == F.lit(control)
    is_t = arm == F.lit(treatment)
    per_look = (
        df.filter(v.isNotNull() & (is_c | is_t))
        .groupBy(F.col(look_col).alias("look"))
        .agg(
            F.sum(F.when(is_c, 1).otherwise(0)).cast("double").alias("dnc"),
            F.sum(F.when(is_c, v).otherwise(0.0)).alias("dsc"),
            F.sum(F.when(is_c, v * v).otherwise(0.0)).alias("dqc"),
            F.sum(F.when(is_t, 1).otherwise(0)).cast("double").alias("dnt"),
            F.sum(F.when(is_t, v).otherwise(0.0)).alias("dst"),
            F.sum(F.when(is_t, v * v).otherwise(0.0)).alias("dqt"),
        )
    )
    return msprt_from_moments(
        per_look, tau_sq=tau_sq, alpha=alpha, round_to=round_to
    )


def msprt_from_moments(
    looks: DataFrame,
    *,
    tau_sq: float,
    alpha: float = 0.05,
    round_to: int = 6,
) -> DataFrame:
    """The always-valid readout of :func:`msprt_readout` computed from
    PRE-AGGREGATED per-look moment increments — the consumption path
    for :func:`~.streaming.rollup_stream.streaming_msprt_monitor`'s
    accumulated output (and for any warehouse table that already
    stores per-day experiment sums).  ``looks`` must have one row per
    look with columns ``look, dnc, dsc, dqc, dnt, dst, dqt`` (count /
    Σv / Σv² increments per arm) — exactly what the streaming monitor
    emits per window.  Everything here runs in windows over one row
    per look; no data-sized work.
    """
    if tau_sq <= 0:
        raise ValueError(f"tau_sq must be positive, got {tau_sq}")
    if not (0 < alpha < 1):
        raise ValueError(f"alpha must be in (0,1), got {alpha}")
    per_look = looks
    w = Window.orderBy("look").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per_look.select(
        "look",
        F.sum("dnc").over(w).alias("nc"),
        F.sum("dsc").over(w).alias("sc"),
        F.sum("dqc").over(w).alias("qc"),
        F.sum("dnt").over(w).alias("nt"),
        F.sum("dst").over(w).alias("st"),
        F.sum("dqt").over(w).alias("qt"),
    )
    nc, nt = F.col("nc"), F.col("nt")
    mc = F.col("sc") / nc
    mt = F.col("st") / nt
    vc = (F.col("qc") - nc * mc * mc) / F.when(nc > 1, nc - 1)
    vt = (F.col("qt") - nt * mt * mt) / F.when(nt > 1, nt - 1)
    vn = F.when((nc > 1) & (nt > 1), vc / nc + vt / nt)
    diff = mt - mc
    lam = F.when(
        vn > 0,
        F.sqrt(vn / (vn + tau_sq))
        * F.exp(diff * diff * tau_sq / (2.0 * vn * (vn + tau_sq))),
    )
    stepped = cum.select(
        "look",
        nc.cast("bigint").alias("n_control"),
        nt.cast("bigint").alias("n_treatment"),
        F.round(F.when((nc > 0) & (nt > 0), diff), round_to).alias("diff"),
        lam.alias("_lam"),
        F.least(F.lit(1.0), F.coalesce(1.0 / lam, F.lit(1.0))).alias("_p"),
    )
    return stepped.select(
        "look",
        "n_control",
        "n_treatment",
        "diff",
        F.round("_lam", round_to).alias("lambda_mixture"),
        F.round(F.min("_p").over(w), round_to).alias("p_always_valid"),
        (F.min("_p").over(w) <= F.lit(float(alpha))).alias("reject"),
    ).orderBy("look")


def qte_readout(
    df: DataFrame,
    *,
    arm_col: str,
    value_col: str,
    control: str,
    treatment: str,
    quantiles: list[float] | None = None,
    round_to: int = 6,
) -> DataFrame:
    """Quantile treatment effects — WHERE in the distribution the
    experiment moved the metric: ``QTE(q) = Q_treatment(q) −
    Q_control(q)`` at each requested quantile.  A flat mean diff with
    a positive tail QTE ("only the heaviest users responded") and a
    uniform shift read identically in :func:`mde_power`'s means but
    completely differently here.

    Scale shape: ONE aggregate computes each arm's EXACT interpolated
    percentile vector (``percentile(col, array(...))``); the readout
    then reshapes 2 arm rows × k quantiles row-locally.  Exact
    percentiles sort within the aggregate — at extreme scale swap in
    ``approx_percentile`` feeders; the shape is unchanged.  The
    interpolating definition matches DuckDB's ``quantile_cont``
    bit-for-bit, which is what the differential oracle replays.

    Output per quantile: q, q_control, q_treatment, qte — ordered
    by q.
    """
    qs = quantiles if quantiles is not None else [
        0.1, 0.25, 0.5, 0.75, 0.9
    ]
    if not qs or any(not (0 <= q <= 1) for q in qs):
        raise ValueError(f"quantiles must be within [0, 1], got {qs}")
    v = F.col(value_col).cast("double")
    arm = F.col(arm_col).cast("string")
    is_c = arm == F.lit(control)
    is_t = arm == F.lit(treatment)
    agg = df.filter(v.isNotNull() & (is_c | is_t)).agg(
        F.percentile(F.when(is_c, v), F.array(*[F.lit(q) for q in qs]))
        .alias("qc"),
        F.percentile(F.when(is_t, v), F.array(*[F.lit(q) for q in qs]))
        .alias("qt"),
    )
    pairs = F.arrays_zip(
        F.array(*[F.lit(float(q)) for q in qs]).alias("q"),
        F.col("qc").alias("c"),
        F.col("qt").alias("t"),
    )
    return (
        agg.select(F.explode(pairs).alias("z"))
        .select(
            F.col("z.q").alias("q"),
            F.round(F.col("z.c"), round_to).alias("q_control"),
            F.round(F.col("z.t"), round_to).alias("q_treatment"),
            F.round(F.col("z.t") - F.col("z.c"), round_to).alias("qte"),
        )
        .orderBy("q")
    )


def delong_auc(
    df: DataFrame,
    *,
    group_cols: list[str],
    score_col: str,
    label_col: str,
    z_crit: float = 1.959963984540054,
    round_to: int = 6,
) -> DataFrame:
    """ROC AUC with DeLong (1988) standard error and confidence
    interval per group — the error bar :func:`auc_scores` doesn't
    carry, and the number that decides whether model A's 0.743
    actually beats model B's 0.739 or the eval set is just small.

    DeLong's estimator from midranks (Sun & Xu 2014): each positive's
    placement ``V₁₀ = (pooled midrank − within-positive midrank)/n₋``
    and each negative's ``V₀₁ = 1 − (pooled midrank −
    within-negative midrank)/n₊``; then ``Var(AUC) = S₁₀/n₊ +
    S₀₁/n₋`` with the usual n−1 sample variances.  No pairwise
    positive×negative join ever materializes — the classic O(n₊·n₋)
    definition collapses to rank arithmetic.

    Scale shape — the :func:`~.quality.mann_whitney` shared-group-
    shuffle midrank construction, not per-row rank windows: rows
    compress to (group, score) tie-cells first (ONE hash aggregate),
    and within a tie-cell the placement difference d = pooled midrank
    − within-class midrank is CONSTANT per class, so every per-row
    sum collapses to cell-level arithmetic:

        d₁(cell) = (C₋ + (n+1)/2) − (P₋ + (n₊+1)/2)

    with C₋/P₋ the cumulative total/positive counts before the cell
    — one cumulative window over the COMPRESSED cells per group, then
    one final aggregate.  A full-row formulation needs four window
    functions over every row; probed at 16× rows it went superlinear
    (sort spill), which is why this shape exists.  ``z_crit`` is the
    normal critical value passed as a literal, the :func:`mde_power`
    convention (default = two-sided 95%).

    Output per group: n_pos, n_neg, auc, se (NULL unless both classes
    have ≥2 rows and the variance is finite), ci_lo, ci_hi (clamped
    to [0, 1]).  Rows with NULL score/label are dropped.
    """
    s = df.select(
        *[F.col(c) for c in group_cols],
        F.col(score_col).cast("double").alias("_s"),
        F.col(label_col).cast("int").alias("_y"),
    ).filter(F.col("_s").isNotNull() & F.col("_y").isNotNull())
    cells = s.groupBy(*group_cols, "_s").agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum("_y").cast("double").alias("_np"),
    )
    wcum = (
        Window.partitionBy(*[F.col(c) for c in group_cols])
        .orderBy("_s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    scored = cells.select(
        *group_cols,
        "_n",
        "_np",
        F.coalesce(F.sum("_n").over(wcum), F.lit(0.0)).alias("_cb"),
        F.coalesce(F.sum("_np").over(wcum), F.lit(0.0)).alias("_pb"),
    )
    nn_cell = F.col("_n") - F.col("_np")  # negatives in the cell
    neg_before = F.col("_cb") - F.col("_pb")
    d1 = (F.col("_cb") + (F.col("_n") + 1) / 2.0) - (
        F.col("_pb") + (F.col("_np") + 1) / 2.0
    )
    d0 = (F.col("_cb") + (F.col("_n") + 1) / 2.0) - (
        neg_before + (nn_cell + 1) / 2.0
    )
    agg = scored.groupBy(*group_cols).agg(
        F.sum("_np").cast("bigint").alias("n_pos"),
        F.sum(nn_cell).cast("bigint").alias("n_neg"),
        F.sum(F.col("_np") * d1).alias("_d1"),
        F.sum(F.col("_np") * d1 * d1).alias("_d1sq"),
        F.sum(nn_cell * d0).alias("_d0"),
        F.sum(nn_cell * d0 * d0).alias("_d0sq"),
    )
    np_, nn_ = F.col("n_pos").cast("double"), F.col("n_neg").cast("double")
    # V10 mean = mean(d1)/n_neg = AUC; sample variances from moments
    auc = F.col("_d1") / (np_ * nn_)
    s10 = (
        (F.col("_d1sq") - F.col("_d1") * F.col("_d1") / np_)
        / (np_ - 1)
        / (nn_ * nn_)
    )
    s01 = (
        (F.col("_d0sq") - F.col("_d0") * F.col("_d0") / nn_)
        / (nn_ - 1)
        / (np_ * np_)
    )
    var = s10 / np_ + s01 / nn_
    se = F.when(
        (F.col("n_pos") >= 2) & (F.col("n_neg") >= 2) & (var >= 0),
        F.sqrt(var),
    )
    auc_ok = F.when((F.col("n_pos") > 0) & (F.col("n_neg") > 0), auc)
    return agg.select(
        *group_cols,
        "n_pos",
        "n_neg",
        F.round(auc_ok, round_to).alias("auc"),
        F.round(se, round_to).alias("se"),
        F.round(
            F.greatest(F.lit(0.0), auc_ok - F.lit(z_crit) * se), round_to
        ).alias("ci_lo"),
        F.round(
            F.least(F.lit(1.0), auc_ok + F.lit(z_crit) * se), round_to
        ).alias("ci_hi"),
    )


def smd_balance(
    df: DataFrame,
    *,
    arm_col: str,
    treatment: str,
    control: str,
    covariate_cols: list[str],
    weight_col: str | None = None,
    threshold: float = 0.1,
    round_to: int = 6,
) -> DataFrame:
    """Covariate balance audit by standardized mean difference — THE
    pre-readout gate for observational comparisons and the check that
    an IPW/DSIR weighting actually worked: ``SMD = (x̄_t − x̄_c) /
    √((s²_t + s²_c)/2)`` per covariate, conventionally flagged above
    0.1.  Run unweighted to diagnose raw imbalance; pass ``weight_col``
    (e.g. :func:`~.features.dsir_weights` output or inverse-propensity
    weights) to verify the weighted population is balanced before
    :func:`cuped_readout` / :func:`did_readout` numbers are trusted.

    Weighted moments use the Hájek (normalized-weight) estimator —
    means and variances from Σw, Σwx, Σwx² per arm — so a handful of
    huge weights cannot silently dominate a "balanced" verdict without
    also inflating the variance term.

    Scale shape: ONE hash aggregate over the whole input computes all
    six moment sums for every covariate at once (2 arms × 3 moments ×
    k covariates columns, map-side combined); the per-covariate rows
    are then unpivoted from that single row driver-side — no second
    data pass, no per-covariate jobs.  Rows in neither arm are
    dropped; NULL covariate values are excluded per covariate (their
    weight drops from that covariate's sums only).  Rows whose weight
    is NULL are excluded from BOTH the moment sums and the per-arm
    counts, so n_treat/n_control always equal the rows that actually
    contribute to the reported means/SMD (ADVICE r9 item #1 — counting
    them while the moments dropped them overstated arm sizes).

    Output per covariate: covariate, n_treat, n_control, mean_treat,
    mean_control, smd (NULL when both variances are zero), balanced
    (NULL propagates).
    """
    if not covariate_cols:
        raise ValueError("covariate_cols must be non-empty")
    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1.0)
    )
    is_t = F.col(arm_col) == treatment
    is_c = F.col(arm_col) == control
    base = df.filter(is_t | is_c)
    aggs = []
    for c in covariate_cols:
        x = F.col(c).cast("double")
        for tag, pred in (("t", is_t), ("c", is_c)):
            ok = pred & x.isNotNull() & w.isNotNull()
            aggs += [
                F.sum(F.when(ok, w)).alias(f"_w_{tag}_{c}"),
                F.sum(F.when(ok, w * x)).alias(f"_wx_{tag}_{c}"),
                F.sum(F.when(ok, w * x * x)).alias(f"_wxx_{tag}_{c}"),
                F.sum(F.when(ok, F.lit(1)).otherwise(F.lit(0)))
                .cast("bigint")
                .alias(f"_n_{tag}_{c}"),
            ]
    moments = base.agg(*aggs)
    outs = []
    for c in covariate_cols:
        wt, wc = F.col(f"_w_t_{c}"), F.col(f"_w_c_{c}")
        mt = F.col(f"_wx_t_{c}") / wt
        mc = F.col(f"_wx_c_{c}") / wc
        vt = F.col(f"_wxx_t_{c}") / wt - mt * mt
        vc = F.col(f"_wxx_c_{c}") / wc - mc * mc
        pooled = F.sqrt((vt + vc) / 2.0)
        smd = F.when(
            wt.isNotNull() & wc.isNotNull() & (pooled > 0),
            (mt - mc) / pooled,
        )
        outs.append(
            moments.select(
                F.lit(c).alias("covariate"),
                F.coalesce(F.col(f"_n_t_{c}"), F.lit(0)).alias("n_treat"),
                F.coalesce(F.col(f"_n_c_{c}"), F.lit(0)).alias("n_control"),
                F.round(mt, round_to).alias("mean_treat"),
                F.round(mc, round_to).alias("mean_control"),
                F.round(smd, round_to).alias("smd"),
                (F.abs(smd) <= F.lit(float(threshold))).alias("balanced"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("covariate")


def permutation_test(
    df: DataFrame,
    *,
    id_col: str,
    arm_col: str,
    value_col: str,
    treatment: str,
    control: str,
    n_perm: int = 200,
    round_to: int = 6,
) -> DataFrame:
    """Hash-seeded permutation test for a difference in means — the
    assumption-free significance readout when neither the normal
    approximation (:func:`cuped_readout`-style z) nor rank tests fit:
    the null distribution is built by RE-RANDOMIZING the arm labels
    and recomputing the statistic, so it is exact for whatever metric
    distribution the data actually has (Fisher 1935; the standard
    heavy-tail fallback in experimentation platforms).

    Determinism contract: permutation s reassigns row i to the
    pseudo-arm ``hash64(id_i, seed=s) % 2`` — reproducible arithmetic
    the DuckDB oracle replays bit-for-bit, no RNG state anywhere.
    Pseudo-arms are balanced in expectation (not exactly), which is
    the standard "random relabeling" variant; the p-value uses the
    add-one estimator ``(1 + #{|Δ_s| ≥ |Δ_obs|}) / (S + 1)`` so it is
    never exactly 0.

    Scale shape: the observed Δ is one conditional hash aggregate.
    The S permutations come from ONE pass too: a broadcast crossJoin
    with the S-row seed list, then a (seed) hash aggregate whose
    map-side partial combine reduces each partition to S rows before
    the shuffle — S·partitions rows move, never S·N.  Cost is S× the
    scan's CPU (the hash is per (row, seed)), so pick S for the
    precision you need: S = 200 resolves p ≈ 0.005.

    Output (one row): n_treat, n_control, obs_diff, n_perm,
    n_extreme, p_value (NULL diff when either arm is empty).
    """
    from knot_another_pipeline_spark.functions.hashing import hash64

    if n_perm < 1:
        raise ValueError(f"n_perm must be >= 1, got {n_perm}")
    spark = df.sparkSession
    s = df.select(
        F.col(id_col).alias("_id"),
        F.col(arm_col).cast("string").alias("_arm"),
        F.col(value_col).cast("double").alias("_v"),
    ).filter(
        F.col("_v").isNotNull()
        & F.col("_arm").isin([str(treatment), str(control)])
    )
    obs = s.agg(
        F.sum(F.when(F.col("_arm") == str(treatment), 1).otherwise(0))
        .cast("bigint")
        .alias("n_treat"),
        F.sum(F.when(F.col("_arm") == str(control), 1).otherwise(0))
        .cast("bigint")
        .alias("n_control"),
        F.avg(F.when(F.col("_arm") == str(treatment), F.col("_v"))).alias(
            "_mt"
        ),
        F.avg(F.when(F.col("_arm") == str(control), F.col("_v"))).alias(
            "_mc"
        ),
    ).select(
        "n_treat",
        "n_control",
        (F.col("_mt") - F.col("_mc")).alias("_obs"),
    )
    seeds = spark.createDataFrame(
        [(int(i),) for i in range(1, n_perm + 1)], "seed long"
    )
    pseudo = F.pmod(hash64(F.col("_id"), seed=F.col("seed")), F.lit(2))
    per_seed = (
        s.crossJoin(F.broadcast(seeds))
        .groupBy("seed")
        .agg(
            F.avg(F.when(pseudo == 1, F.col("_v"))).alias("_pt"),
            F.avg(F.when(pseudo == 0, F.col("_v"))).alias("_pc"),
        )
        .select("seed", (F.col("_pt") - F.col("_pc")).alias("_pd"))
    )
    tally = per_seed.crossJoin(F.broadcast(obs)).agg(
        F.max("n_treat").alias("n_treat"),
        F.max("n_control").alias("n_control"),
        F.max("_obs").alias("_obs"),
        F.count(F.lit(1)).cast("bigint").alias("n_perm"),
        F.sum(
            F.when(
                F.abs(F.col("_pd")) >= F.abs(F.col("_obs")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_extreme"),
    )
    return tally.select(
        "n_treat",
        "n_control",
        F.round(F.col("_obs"), round_to).alias("obs_diff"),
        "n_perm",
        "n_extreme",
        F.round(
            (1.0 + F.col("n_extreme"))
            / (F.col("n_perm").cast("double") + 1.0),
            round_to,
        ).alias("p_value"),
    )


def tost_equivalence(
    df: DataFrame,
    *,
    group_cols: list[str],
    arm_col: str,
    value_col: str,
    treatment: str,
    control: str,
    margin: float,
    alpha: float = 0.05,
    round_to: int = 6,
) -> DataFrame:
    """Per-family TOST equivalence test (two one-sided tests,
    Schuirmann 1987) — the readout a "no-regression" launch actually
    needs: a non-significant difference test is NOT evidence of
    equivalence, TOST is.  H₀ is |Δ| ≥ margin; equivalence is claimed
    when BOTH one-sided tests reject:

        z_lo = (Δ + margin)/se,   z_hi = (margin − Δ)/se,
        p_tost = max(P(Z > z_lo), P(Z > z_hi)),

    with the Welch standard error from per-arm moment sums, one-sided
    ps via the shared A&S normal polynomial (oracle-replayable), and
    equivalent ⇔ p_tost < α.

    Scale shape: everything collapses onto ONE conditional hash
    aggregate (n/Σv/Σv² per arm per family) — the :func:`cuped`-family
    shape; the TOST algebra is row-local on the family rows.

    Output per family: group cols, n_treat, n_control, diff, se,
    p_tost, equivalent (NULL stats when an arm is empty or se = 0).
    """
    from knot_another_pipeline_spark.operators.quality import (
        normal_sf_two_sided,
    )

    if margin <= 0:
        raise ValueError(f"margin must be positive, got {margin}")
    arm = F.col(arm_col).cast("string")
    v = F.col(value_col).cast("double")
    is_t = arm == str(treatment)
    is_c = arm == str(control)
    s = df.filter(v.isNotNull() & (is_t | is_c)).select(
        *[F.col(c) for c in group_cols],
        F.when(is_t, 1.0).otherwise(0.0).alias("_it"),
        F.when(is_t, v).otherwise(0.0).alias("_vt"),
        F.when(is_t, v * v).otherwise(0.0).alias("_qt"),
        F.when(is_c, 1.0).otherwise(0.0).alias("_ic"),
        F.when(is_c, v).otherwise(0.0).alias("_vc"),
        F.when(is_c, v * v).otherwise(0.0).alias("_qc"),
    )
    agg = s.groupBy(*group_cols).agg(
        F.sum("_it").alias("_nt"),
        F.sum("_vt").alias("_st"),
        F.sum("_qt").alias("_sqt"),
        F.sum("_ic").alias("_nc"),
        F.sum("_vc").alias("_sc"),
        F.sum("_qc").alias("_sqc"),
    )
    nt, nc = F.col("_nt"), F.col("_nc")
    mt = F.col("_st") / nt
    mc = F.col("_sc") / nc
    # unbiased per-arm variances
    vt = (F.col("_sqt") - nt * mt * mt) / (nt - 1.0)
    vc = (F.col("_sqc") - nc * mc * mc) / (nc - 1.0)
    se = F.sqrt(vt / nt + vc / nc)
    diff = mt - mc
    ok = (nt > 1) & (nc > 1) & (se > 0)
    z_lo = (diff + F.lit(float(margin))) / se
    z_hi = (F.lit(float(margin)) - diff) / se

    def one_sided(z):
        # P(Z > z) from the shared two-sided polynomial
        return F.when(
            z >= 0, normal_sf_two_sided(z) / 2
        ).otherwise(1.0 - normal_sf_two_sided(z) / 2)

    p_tost = F.when(ok, F.greatest(one_sided(z_lo), one_sided(z_hi)))
    return agg.select(
        *group_cols,
        nt.cast("bigint").alias("n_treat"),
        nc.cast("bigint").alias("n_control"),
        F.round(F.when(ok, diff), round_to).alias("diff"),
        F.round(F.when(ok, se), round_to).alias("se"),
        F.round(p_tost, round_to).alias("p_tost"),
        (p_tost < F.lit(float(alpha))).alias("equivalent"),
    ).orderBy(*group_cols)


def mantel_haenszel(
    df: DataFrame,
    *,
    stratum_col: str,
    exposure_col: str,
    outcome_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Mantel–Haenszel stratified 2×2 analysis — the pooled odds ratio
    and Cochran–MH χ² that answer "is exposure associated with outcome
    AFTER controlling for the stratifier": the guard against
    Simpson's-paradox reversals that a naive pooled 2×2 walks into
    whenever the strata differ in both exposure mix and base rate.

        OR_MH = Σ_s (a_s·d_s/n_s) / Σ_s (b_s·c_s/n_s),
        χ²_CMH = (Σa_s − ΣE_s)² / ΣV_s,  E = (a+b)(a+c)/n,
        V = (a+b)(c+d)(a+c)(b+d) / (n²(n−1)),

    on 1 df; p via the exact-at-df-1 normal identity (the
    ``log_rank_test`` convention).  Strata with n < 2 contribute
    nothing to V and are excluded (reported in n_strata_skipped).

    Scale shape: ONE conditional hash aggregate to per-stratum 2×2
    cells (the only pass over rows, map-side combined), then a 1-row
    reduce of the MH sums — no windows, no joins.

    Output (one row): n_strata, n_strata_skipped, n_rows, or_mh (NULL
    when Σbc/n = 0), cmh_chi2, df, p_value.
    """
    from knot_another_pipeline_spark.operators.quality import (
        normal_sf_two_sided,
    )

    e = F.col(exposure_col).cast("boolean")
    o = F.col(outcome_col).cast("boolean")
    s = df.filter(e.isNotNull() & o.isNotNull()).select(
        F.col(stratum_col).cast("string").alias("_s"),
        F.when(e & o, 1.0).otherwise(0.0).alias("_a"),
        F.when(e & ~o, 1.0).otherwise(0.0).alias("_b"),
        F.when(~e & o, 1.0).otherwise(0.0).alias("_c"),
        F.when(~e & ~o, 1.0).otherwise(0.0).alias("_d"),
    )
    cells = s.groupBy("_s").agg(
        F.sum("_a").alias("_a"),
        F.sum("_b").alias("_b"),
        F.sum("_c").alias("_c"),
        F.sum("_d").alias("_d"),
    )
    a, b, c, d = F.col("_a"), F.col("_b"), F.col("_c"), F.col("_d")
    n = a + b + c + d
    usable = n >= 2
    red = cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata_all"),
        F.sum(F.when(~usable, 1).otherwise(0))
        .cast("bigint")
        .alias("n_strata_skipped"),
        F.sum(n).cast("bigint").alias("n_rows"),
        F.sum(F.when(usable, a * d / n)).alias("_sad"),
        F.sum(F.when(usable, b * c / n)).alias("_sbc"),
        F.sum(F.when(usable, a)).alias("_sa"),
        F.sum(F.when(usable, (a + b) * (a + c) / n)).alias("_se"),
        F.sum(
            F.when(
                usable,
                (a + b) * (c + d) * (a + c) * (b + d) / (n * n * (n - 1.0)),
            )
        ).alias("_sv"),
    )
    or_mh = F.when(F.col("_sbc") > 0, F.col("_sad") / F.col("_sbc"))
    chi2 = F.when(
        F.col("_sv") > 0,
        (F.col("_sa") - F.col("_se"))
        * (F.col("_sa") - F.col("_se"))
        / F.col("_sv"),
    )
    p = normal_sf_two_sided(F.sqrt(chi2))
    return red.select(
        (F.col("n_strata_all") - F.col("n_strata_skipped")).alias(
            "n_strata"
        ),
        "n_strata_skipped",
        "n_rows",
        F.round(or_mh, round_to).alias("or_mh"),
        F.round(chi2, round_to).alias("cmh_chi2"),
        F.lit(1).cast("bigint").alias("df"),
        F.round(p, round_to).alias("p_value"),
    )


def rank_biased_overlap(
    ranking_a: DataFrame,
    ranking_b: DataFrame,
    *,
    item_col: str = "item",
    rank_col: str = "rank",
    k: int = 20,
    p: float = 0.9,
    round_to: int = 6,
) -> DataFrame:
    """Truncated rank-biased overlap (Webber, Moffat & Zobel 2010)
    between two top-``k`` rankings — the top-weighted "how similar are
    these two leaderboards?" number that plain set overlap gets wrong
    (it ignores WHERE items agree) and rank correlations get wrong
    (they need identical domains).  RBO@k =
    ``(1−p)/p · Σ_{d=1..k} p^d · |A₁..d ∩ B₁..d| / d``; persistence
    ``p`` sets how fast attention decays down the list (0.9 ≈ top-10
    carries ~86% of the weight).

    The depth sum never materializes per-depth prefixes: an item
    entering both lists at ranks (ra, rb) is inside every prefix
    intersection from depth ``m = max(ra, rb)`` on, so its total
    contribution is the closed weight ``W(m) = (1−p)/p · Σ_{d=m..k}
    p^d/d`` — precomputed as a k-entry literal array (k is a
    parameter, never data-sized) and paid with ONE ``element_at`` per
    matched item.  Cost: two rank filters, one equi-join on item, one
    1-row aggregate — no explode, no series join.

    Inputs are (item, rank) tables (1-based, dense, unique per side —
    build them with a row_number window and a deterministic tiebreak).
    Output (single row): k, p, n_common, rbo.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not (0.0 < p < 1.0):
        raise ValueError(f"p must be in (0, 1), got {p}")
    # W(m) = (1-p)/p * sum_{d=m..k} p^d / d, for m = 1..k
    tail = 0.0
    weights = [0.0] * (k + 1)
    for m in range(k, 0, -1):
        tail += (p**m) / m
        weights[m] = (1.0 - p) / p * tail
    warr = F.array(*[F.lit(w) for w in weights[1:]])
    a = ranking_a.select(
        F.col(item_col).alias("_item"),
        F.col(rank_col).cast("int").alias("_ra"),
    ).filter(F.col("_ra") <= k)
    b = ranking_b.select(
        F.col(item_col).alias("_item"),
        F.col(rank_col).cast("int").alias("_rb"),
    ).filter(F.col("_rb") <= k)
    joined = a.join(b, "_item").select(
        F.greatest(F.col("_ra"), F.col("_rb")).alias("_m")
    )
    return joined.agg(
        F.lit(k).cast("int").alias("k"),
        F.round(F.lit(float(p)), round_to).alias("p"),
        F.count(F.lit(1)).cast("bigint").alias("n_common"),
        F.round(
            F.coalesce(F.sum(F.element_at(warr, F.col("_m"))), F.lit(0.0)),
            round_to,
        ).alias("rbo"),
    )
