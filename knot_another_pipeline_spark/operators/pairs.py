"""Co-movement pair detection — the reference's core analytic.

Reference semantics (``/root/reference/sql/gold/create_pairs_daily.sql``,
programmatic form ``pipelines/refresh_gold_tables.py:184-262``; math spec
``README.md:157-168``):

1. Self equi-join of the hourly rollup on (dt, hour, h3_index) with the
   anti-symmetry predicate ``a.mmsi < b.mmsi`` (halves output, kills
   self-pairs, ``README.md:132``) → co-located vessel-hours.   [J1]
2. Per (pair, day): ``hT = COUNT(DISTINCT hour)``,
   ``gT = COUNT(DISTINCT h3)``.                                [A3]
3. Per (vessel, day) activity stats ``win_cnt``/``geo_cnt`` — computed
   once, joined twice (the reference repeats the subquery for ua/ub;
   here one (vessel, day) window derives them, and the same window feeds
   the pre-join prune). [A4, J2]
4. Overlap scores: ``temporal_o = hT / NULLIF(LEAST(hA,hB),0)``,
   ``spatial_o = gT / NULLIF(LEAST(gA,gB),0)``,
   ``gto = 0.5*(temporal_o+spatial_o)``; keep pairs with ``gT > 1``
   (drop single-cell coincidences, ``create_pairs_daily.sql:79``). [P14-P18]

Scale design (100 TB story):
- The join input is the *pre-aggregated* rollup (one row per entity-window),
  never raw positions — the same shrink-before-join decision the reference
  makes (``README.md:130``).
- Both join sides shuffle on (period, window, cell); hot cells (ports,
  anchorages) are skewed → AQE skew-join splitting is enabled in the
  session factory. For extreme skew, cap pairs per cell upstream by
  salting or filtering mega-cells before the join.
- The per-entity stats table is orders of magnitude smaller than the pair
  table; Catalyst picks broadcast automatically below the threshold, and
  both stats joins reuse one window.
- Exact pre-join prune (REPOSE-style: prune with an exact bound before the
  expensive join). Every cell a pair shares is a cell of both vessels, so
  ``gT <= min(gA, gB)``; a (vessel, day) with ``geo_cnt <=
  min_shared_cells`` can never pass the ``gT`` filter and leaves the join
  input. Moored vessels (one cell all day) are the quadratic bulk of a
  port cell, so this removes most of its join rows without a cap.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from knot_another_pipeline_spark.functions.geo import haversine_m


def _shuffle_partitions(spark) -> int:
    """The session's tuned shuffle-partition count (fallback: default
    parallelism when the conf is non-numeric, e.g. "auto")."""
    try:
        return int(spark.conf.get("spark.sql.shuffle.partitions"))
    except (TypeError, ValueError):
        return spark.sparkContext.defaultParallelism


def _with_entity_period_stats(base: DataFrame) -> DataFrame:
    """``base`` plus each row's entity-period activity: ``win_cnt`` (its
    windows) and ``geo_cnt`` (its distinct cells), over one
    (uid, day_date) window."""
    per = Window.partitionBy("uid", "day_date")
    return base.withColumns(
        {
            "win_cnt": F.count(F.lit(1)).over(per),
            "geo_cnt": F.size(F.collect_set("cell").over(per)).cast("long"),
        }
    )


def oversize_cell_windows(
    base: DataFrame, max_entities_per_cell: int
) -> DataFrame:
    """Cell-windows whose entity count exceeds the skew cap.

    Columns: day_date, w, cell (keys only). Small by construction —
    oversize cells ARE the skew the cap exists for — so the result is
    safe to ``F.broadcast`` and to ``.count()`` for trim observability
    (the count is one partial-agg pass over the pre-aggregated rollup).
    """
    return (
        base.groupBy("day_date", "w", "cell")
        .agg(F.count(F.lit(1)).alias("_n_entities"))
        .filter(F.col("_n_entities") > max_entities_per_cell)
        .drop("_n_entities")
    )


def co_movement_pairs(
    rollup: DataFrame,
    *,
    uid_col: str = "uid",
    window_col: str = "window_ts",
    cell_col: str = "cell",
    period: Column | str | None = None,
    min_shared_cells: int = 1,
    max_entities_per_cell: int | None = None,
    pin_join_parallelism: bool = True,
) -> DataFrame:
    """Build the pairs-per-period table from a windowed rollup.

    ``period`` defaults to ``to_date(window_col)`` — the reference's
    hour-windows-grouped-by-day shape. Pass a coarser expression (e.g.
    ``F.trunc(window_col, 'month')``) for sparser data.

    The input must be a *rollup*: one row per (entity, window), as the
    output of a groupBy on exactly those keys is (the reference's
    ``uid_hourly_h3`` is). Under that invariant every (pair, window)
    match occurs exactly once, so ``hT = COUNT(*)`` — same value as the
    reference's ``COUNT(DISTINCT hour)`` but without a second distinct
    aggregate, which lets Spark skip the Expand (row-doubling) plan for
    multi-distinct aggregation; only the cell-distinct remains.

    ``max_entities_per_cell``: skew guard for the self-join. A cell-window
    with n entities emits n(n-1)/2 pairs — a single mega-cell (a port
    anchorage at AIS scale) can dominate the whole job quadratically.
    When set, cell-windows above the cap are dropped *before* the join
    (they carry little pairing signal: everyone is "co-located" in a
    mega-cell). AQE skew-join splitting handles moderate skew; this
    handles the pathological tail. Note the per-entity stats still count
    dropped windows — the denominators keep reference semantics.

    ``pin_join_parallelism``: the self-join EXPANDS — n entities per
    cell-window emit n(n−1)/2 pairs, and the pair aggregation's
    map-side combine runs inside the join's output tasks. AQE sizes the
    join's partition count from its INPUT bytes, so a compact rollup
    (small input, large expansion) gets coalesced to a handful of
    partitions and the whole expansion+combine runs nearly serial —
    measured 2-4× on the monthly benchmark (32-thread local, AQE chose
    3 partitions for a 40k-row input that expands 300×). Pinning
    repartitions the join input by the join keys at the session's
    ``spark.sql.shuffle.partitions`` — the count the deployment already
    tuned — which the join reuses as its exchange (no extra shuffle).
    The cost: a pinned exchange is not eligible for AQE's skew-join
    splitting, so keep ``max_entities_per_cell`` as the skew guard.
    Disable when the rollup itself is shuffle-sized (expansion factor
    near 1), where AQE's byte-based sizing is already right.

    Output: uid_a, uid_b, day_date, hA, hB, gA, gB, hT, gT,
    temporal_o, spatial_o, gto — exactly FIXTURES.md F4.
    """
    if period is None:
        period_expr = F.to_date(F.col(window_col))
    elif isinstance(period, str):
        period_expr = F.col(period)
    else:
        period_expr = period

    # uid keeps its input type: the anti-symmetry `<` and all grouping run
    # on the native column, so numeric entity ids hash/compare as longs —
    # at sf0.1 that's ~40% faster through the pair aggregation than the
    # former unconditional string cast (string ids behave as before).
    # NOTE pair orientation follows the column type's ordering (numeric
    # for numbers, lexicographic for strings).
    base = rollup.select(
        F.col(uid_col).alias("uid"),
        period_expr.alias("day_date"),
        F.col(window_col).alias("w"),
        F.col(cell_col).alias("cell"),
    )

    # Exact pre-join prune: gT <= min(gA, gB), so an entity-period with
    # geo_cnt <= min_shared_cells can never reach an output row. The same
    # window feeds the ua/ub denominators in score_co_located.
    counted = _with_entity_period_stats(base)
    join_input = counted.filter(
        F.col("geo_cnt") > F.lit(min_shared_cells)
    ).select("uid", "day_date", "w", "cell")
    if max_entities_per_cell is not None:
        # Broadcast the OVERSIZE set, not the keep-list. The keep-list is
        # nearly every distinct (day, window, cell) combo — at AIS month
        # scale 10⁸-10⁹ rows, a driver OOM if broadcast. The over-cap set
        # is tiny *by construction* (it is the skew being guarded), so its
        # broadcast is bounded regardless of corpus size; remove matches
        # with a left_anti join. Same semantics, scale-safe.
        # The oversize set is counted on the UNPRUNED base: pruned
        # entities still crowd the cell-window, so the trim is the same
        # with or without the prune.
        join_input = join_input.join(
            F.broadcast(oversize_cell_windows(base, max_entities_per_cell)),
            ["day_date", "w", "cell"],
            "left_anti",
        )

    if pin_join_parallelism:
        n_part = _shuffle_partitions(rollup.sparkSession)
        join_input = join_input.repartition(
            n_part, "day_date", "w", "cell"
        )

    a = join_input.alias("a")
    b = join_input.alias("b")
    # Equi keys (day_date, w, cell) → hash/sort-merge joinable; the `<` is
    # evaluated as a post-match filter inside the join (SURVEY §2.3 J1).
    # Under the unique-window invariant the post-join `w` column is never
    # aggregated (hT = COUNT(*)), so don't even project it — narrower
    # rows through the join → partial-agg pipeline.
    co_located = a.join(
        b,
        (F.col("a.day_date") == F.col("b.day_date"))
        & (F.col("a.w") == F.col("b.w"))
        & (F.col("a.cell") == F.col("b.cell"))
        & (F.col("a.uid") < F.col("b.uid")),
        "inner",
    ).select(
        F.col("a.uid").alias("uid_a"),
        F.col("b.uid").alias("uid_b"),
        F.col("a.day_date").alias("day_date"),
        F.col("a.cell").alias("cell"),
    )

    return score_co_located(co_located, counted, min_shared_cells=min_shared_cells)


def score_co_located(
    co_located: DataFrame,
    base: DataFrame,
    *,
    min_shared_cells: int = 1,
) -> DataFrame:
    """Day-grain pair scoring over an already-built co-located table.

    ``co_located``: uid_a, uid_b, day_date, cell — the intermediate
    :func:`co_movement_pairs` builds with its self-join, or the streaming
    co-location log (``streaming.rollup_stream.read_co_location_log``)
    whose per-micro-batch joins produced the same rows incrementally.
    ``base``: uid, day_date, w, cell — the rollup the per-entity
    denominators come from (reference computes vessel stats from the full
    hourly table, ``create_pairs_daily.sql:57-66``, before any pairing).
    When ``base`` already carries ``win_cnt``/``geo_cnt`` (the windowed
    frame :func:`co_movement_pairs` pruned with) they are used as is.
    """
    # ONE explicit exchange on (pair, period), then BOTH aggregation
    # levels run Complete-mode on top of it with no further shuffle:
    # the repartition's HashPartitioning on (uid_a, uid_b, day_date)
    # satisfies the 4-key group's ClusteredDistribution (partition
    # keys ⊂ group keys) and the 3-key group's exactly.  Valid
    # because under the unique-window invariant each (pair, window)
    # match lands in exactly one cell, so summing per-cell match
    # counts = total matches (= the reference's DISTINCT hour count).
    #
    # Why not let the two groupBys plan their own exchanges: the
    # map-side partial for the 4-key aggregate runs INSIDE the
    # self-join's tasks, and its hash-map state is bounded only by
    # join output per task — at the 16× scale probe it capped every
    # task's memory share (400 MB × 32), spilled 17 GiB, and spent
    # 9.3 min in aggregation build, while the stage-2 partial built
    # 5 GiB of maps to shrink 51.7 M rows by 1.4 % (pairs in
    # different cells never combine).  The one-exchange form shuffles
    # raw co-located rows (~3.8× more bytes here) but its reduce-side
    # state is bounded by the PARTITION COUNT — the knob a deployment
    # scales with data — and measured 2.0× faster end-to-end at 16×
    # (7.6 s vs 15.6 s for the aggregation subchain) with zero spill.
    # Re-enable map-side combine only when the network is the
    # bottleneck AND the co-located/pairs ratio is high.
    n_agg_part = _shuffle_partitions(co_located.sparkSession)
    pair_day = (
        co_located.repartition(
            n_agg_part, "uid_a", "uid_b", "day_date"
        )
        .groupBy("uid_a", "uid_b", "day_date", "cell")
        .agg(F.count(F.lit(1)).alias("_n"))
        .groupBy("uid_a", "uid_b", "day_date")
        .agg(
            F.sum("_n").alias("hT"),
            F.count(F.lit(1)).alias("gT"),
        )
    )

    # Per-entity per-period activity stats — built once, joined twice.
    if "geo_cnt" not in base.columns:
        base = _with_entity_period_stats(base)
    # The window output is already hash-partitioned on (uid, day_date),
    # so this distinct adds no exchange.
    stats = base.select("uid", "day_date", "win_cnt", "geo_cnt").distinct()

    ua = stats.select(
        F.col("uid").alias("uid_a"),
        F.col("day_date").alias("day_date"),
        F.col("win_cnt").alias("hA"),
        F.col("geo_cnt").alias("gA"),
    )
    ub = stats.select(
        F.col("uid").alias("uid_b"),
        F.col("day_date").alias("day_date"),
        F.col("win_cnt").alias("hB"),
        F.col("geo_cnt").alias("gB"),
    )

    joined = pair_day.join(ua, ["uid_a", "day_date"], "inner").join(
        ub, ["uid_b", "day_date"], "inner"
    )

    temporal_o = F.col("hT").cast("double") / F.nullif(
        F.least("hA", "hB").cast("double"), F.lit(0.0)
    )
    spatial_o = F.col("gT").cast("double") / F.nullif(
        F.least("gA", "gB").cast("double"), F.lit(0.0)
    )

    return (
        joined.withColumn("temporal_o", temporal_o)
        .withColumn("spatial_o", spatial_o)
        .withColumn("gto", 0.5 * (F.col("temporal_o") + F.col("spatial_o")))
        .filter(F.col("gT") > F.lit(min_shared_cells))
        .select(
            "uid_a", "uid_b", "day_date",
            "hA", "hB", "gA", "gB", "hT", "gT",
            "temporal_o", "spatial_o", "gto",
        )
    )


def pairs_total(pairs_daily: DataFrame) -> DataFrame:
    """Lifetime pair summary (``sql/gold/create_pairs_total.sql:11-21``).

    ``median_gto`` is the exact ``F.median`` (deterministic; matches any
    exact-median oracle), where the reference takes
    ``approx_percentile(gto, 0.5)``.
    """
    return pairs_daily.groupBy("uid_a", "uid_b").agg(
        F.countDistinct("day_date").alias("total_days_observed"),
        F.sum(F.when(F.col("gto") >= F.lit(0.4), 1).otherwise(0)).alias(
            "days_with_gto_above_0_4"
        ),
        F.max("gto").alias("max_gto"),
        F.min("gto").alias("min_gto"),
        F.avg("gto").alias("avg_gto"),
        F.median("gto").alias("median_gto"),
    )


def radius_pairs(
    positions: DataFrame,
    *,
    id_col: str,
    lat_col: str = "lat",
    lon_col: str = "lon",
    radius_m: float,
    time_col: str | None = None,
    time_grain: str = "hour",
    max_abs_lat: float = 75.0,
) -> DataFrame:
    """Proximity self-join: all pairs of points within ``radius_m``
    meters (haversine), optionally restricted to the same ``time_grain``
    bucket — the distance-true upgrade over cell-EQUALITY co-location
    (`create_pairs_daily.sql` joins on identical H3 cells, which misses
    neighbors straddling a cell boundary; this operator cannot).

    Candidate generation is grid blocking with NO false negatives:

    - cell height = radius in latitude degrees (via the minimum meridian
      arc, 110 574 m/deg, ×1.05 margin) — a qualifying pair can differ
      by at most one lat cell;
    - cell width  = the EXACT spherical bound on the longitude
      separation of any in-band pair within ``radius_m``:
      ``Δlon_max = 2·asin(sin(r/2R)/cos(max_abs_lat))`` (from the
      haversine identity with both points at the band edge — a linear
      ``r/(111320·cos φ)`` approximation UNDERSTATES this for large
      radii and would silently drop pairs), ×1.02 margin; when the
      bound reaches 180° every longitude is reachable and the lon axis
      collapses to one cell. The lon axis uses MODULAR cell indices
      over an equal-width partition of 360° — so adjacency wraps the
      antimeridian and a pair at lon ±179.9° still blocks together;
    - rows with |lat| > ``max_abs_lat`` are excluded (documented band
      limit: near the poles fixed-width lon blocking is unsound — at
      100 TB route polar traffic to a dedicated small partition and
      brute-force it).

    One side replicates to its 3×3 neighbor cells (row-local explode of
    9 offsets — replication factor 9, independent of data); the other
    side joins on exact cell, so each unordered pair is produced exactly
    once (cell(b) is unique) and ``id_a < id_b`` kills mirrors and
    self-pairs. Exact haversine verifies every candidate in codegen.
    The catalog oracle computes the ALL-PAIRS distances, so the hash
    match differentially proves the blocking loses nothing.

    Output: id_a, id_b (+ the time bucket when ``time_col`` is given),
    distance_m (rounded 3).
    """
    if radius_m <= 0:
        raise ValueError(f"radius_m must be > 0, got {radius_m}")
    if not 0.0 < max_abs_lat < 90.0:
        raise ValueError(f"max_abs_lat must be in (0, 90), got {max_abs_lat}")
    import math as _math

    lat_cell_deg = 1.05 * radius_m / 110574.0
    # exact spherical lon-separation bound for an in-band pair:
    # sin²(d/2R) = sin²(Δφ/2) + cosφ·cosφ'·sin²(Δλ/2) with the budget
    # spent entirely on Δλ and both points at the band edge gives
    # sin(Δλ_max/2) = sin(r/2R)/cos(φ_max).
    sin_half = _math.sin(min(radius_m / (2.0 * 6371000.0), _math.pi / 2))
    cos_max = _math.cos(_math.radians(max_abs_lat))
    if sin_half >= cos_max:
        n_lon = 1  # any longitude reachable within r: one wrapped cell
    else:
        min_lon_deg = 1.02 * _math.degrees(
            2.0 * _math.asin(sin_half / cos_max)
        )
        # equal-width modular lon cells: n uniform cells >= min_lon_deg
        n_lon = max(1, int(360.0 // min_lon_deg))
    lon_cell_deg = 360.0 / n_lon

    cols = [
        F.col(id_col).alias("_id"),
        F.col(lat_col).cast("double").alias("_lat"),
        F.col(lon_col).cast("double").alias("_lon"),
    ]
    if time_col is not None:
        cols.append(F.date_trunc(time_grain, F.col(time_col)).alias("_tb"))
    p = positions.select(*cols).filter(
        F.abs(F.col("_lat")) <= F.lit(max_abs_lat)
    )
    cl = F.floor((F.col("_lat") + F.lit(90.0)) / F.lit(lat_cell_deg)).cast(
        "long"
    )
    cn = F.pmod(
        F.floor((F.col("_lon") + F.lit(180.0)) / F.lit(lon_cell_deg)).cast(
            "long"
        ),
        F.lit(n_lon),
    )
    keyed = p.withColumn("_cl", cl).withColumn("_cn", cn)
    # left side replicated to the 9-cell neighborhood (lon wraps mod n).
    # The lon neighbor set is array_distinct'ed AFTER the mod: with a
    # huge radius n_lon can drop below 3, where ±1 offsets collapse onto
    # the same wrapped cell — without the distinct each collapsed
    # replica would emit the same pair twice.
    left = (
        keyed.withColumn("_dl", F.expr("explode(array(-1, 0, 1))"))
        .withColumn(
            "_cn",
            F.explode(
                F.array_distinct(
                    F.array(
                        *[
                            F.pmod(F.col("_cn") + F.lit(d), F.lit(n_lon))
                            for d in (-1, 0, 1)
                        ]
                    )
                )
            ),
        )
        .select(
            F.col("_id").alias("id_a"),
            F.col("_lat").alias("lat_a"),
            F.col("_lon").alias("lon_a"),
            *([F.col("_tb")] if time_col is not None else []),
            (F.col("_cl") + F.col("_dl")).alias("_cl"),
            "_cn",
        )
    )
    right = keyed.select(
        F.col("_id").alias("id_b"),
        F.col("_lat").alias("lat_b"),
        F.col("_lon").alias("lon_b"),
        *([F.col("_tb")] if time_col is not None else []),
        "_cl",
        "_cn",
    )
    join_keys = ["_cl", "_cn"] + (["_tb"] if time_col is not None else [])
    dist = haversine_m(
        F.col("lat_a"), F.col("lon_a"), F.col("lat_b"), F.col("lon_b")
    )
    out_cols = ["id_a", "id_b"] + (["_tb"] if time_col is not None else [])
    return (
        left.join(right, join_keys)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("distance_m", F.round(dist, 3))
        .filter(F.col("distance_m") <= F.lit(float(radius_m)))
        .select(*out_cols, "distance_m")
        .withColumnsRenamed({"_tb": "bucket_ts"} if time_col else {})
    )
