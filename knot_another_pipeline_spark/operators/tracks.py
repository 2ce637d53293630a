"""Cohort track extraction + per-track path assembly.

Reference: ``/root/reference/apps/export_tracks_to_explore.py:31-69`` (a
VALUES-list semi-join cohort filter, tiered timestamp normalization,
coordinate-validity bounds, inclusive BETWEEN time range, global
``ORDER BY event_ts, mmsi``) and the app-side path packer
``apps/track_explorer.py:53-84`` (sort by (track, time) → list of
[lon, lat] points per track, keep tracks with > 2 points).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from knot_another_pipeline_spark.functions.geo import haversine_m, valid_coords


def export_tracks(
    df: DataFrame,
    *,
    uid_col: str,
    ts_col: str,
    lat_col: str,
    lon_col: str,
    uids: Sequence[str],
    start=None,
    stop=None,
) -> DataFrame:
    """Ordered track extract for a cohort of entity ids.

    The cohort filter is ``isin`` — Catalyst compiles small lists to an
    in-filter pushed into the parquet scan; a huge cohort should instead be
    a broadcast left-semi join (same semantics, SURVEY §2.3 J3).

    On a silver frame (``event_ts`` plus its ``year/month/day`` partition
    columns) a time window also bounds the day partitions, so the scan
    lists only the days the window touches. ``to_silver`` derives those
    columns from ``event_ts`` in UTC, and the bounds are the UTC days of
    the window's instants, so the day filter drops no row the time filter
    keeps.
    """
    uid = F.col(uid_col).cast("string")
    out = df.filter(uid.isin([str(u) for u in uids]))
    ts = F.col(ts_col)
    if start is not None and stop is not None:
        out = out.filter(ts.between(F.lit(start), F.lit(stop)))
        if ts_col == "event_ts" and {"year", "month", "day"} <= set(df.columns):
            out = out.filter(
                F.make_date("year", "month", "day").between(
                    _utc_day(start), _utc_day(stop)
                )
            )
    out = out.filter(
        valid_coords(F.col(lat_col).cast("double"), F.col(lon_col).cast("double"))
    )
    return out.select(
        uid.alias("uid"),
        ts.alias("event_ts"),
        F.col(lat_col).cast("double").alias("latitude"),
        F.col(lon_col).cast("double").alias("longitude"),
    ).orderBy("event_ts", "uid")


def _utc_day(bound):
    """UTC calendar day of a window bound, whatever the session time zone:
    the instant's epoch seconds floored to whole days."""
    secs = F.lit(bound).cast("timestamp").cast("long")
    return F.date_from_unix_date(F.floor(secs / 86400).cast("int"))


def backfill_track_ids(df: DataFrame, id_col: str = "track_id") -> DataFrame:
    """Synthesize stable placeholder ids for missing track ids [P20].

    Reference ``apps/track_explorer.py:179-185``: the id column is
    stringified, ``'nan'/'None'/'NaT'`` count as missing, and missing rows
    get ``"track_" + row_index``. Here the placeholder suffix is
    ``monotonically_increasing_id()`` — unique per row and generated
    entirely map-side (a ``row_number()`` over a global window would
    shuffle everything to one partition at scale; the reference's pandas
    index is just as arbitrary, only uniqueness+stability-within-run
    matter to the app).
    """
    sid = F.col(id_col).cast("string")
    missing = sid.isNull() | sid.isin("nan", "None", "NaT")
    return df.withColumn(
        id_col,
        F.when(
            missing,
            F.concat(
                F.lit("track_"),
                F.monotonically_increasing_id().cast("string"),
            ),
        ).otherwise(sid),
    )


def assemble_paths(
    df: DataFrame,
    *,
    uid_col: str = "uid",
    ts_col: str = "event_ts",
    lat_col: str = "latitude",
    lon_col: str = "longitude",
    min_points: int = 2,
) -> DataFrame:
    """Per-track ordered coordinate path (track_explorer.py `make_paths`):
    ``collect_list(struct(ts, lon, lat))`` sorted in-array — the struct's
    leading ts field makes ``sort_array`` a time sort without a global
    shuffle-sort; only the groupBy shuffles.
    Output: uid, path array<struct<ts,lon,lat>>, npts.
    """
    packed = df.groupBy(F.col(uid_col).alias("uid")).agg(
        F.sort_array(
            F.collect_list(
                F.struct(
                    F.col(ts_col).alias("ts"),
                    F.col(lon_col).alias("lon"),
                    F.col(lat_col).alias("lat"),
                )
            )
        ).alias("path")
    )
    return packed.withColumn("npts", F.size("path")).filter(
        F.col("npts") > F.lit(min_points)
    )


def speed_filter(
    df: DataFrame,
    *,
    uid_col: str = "uid",
    ts_col: str = "event_ts",
    lat_col: str = "latitude",
    lon_col: str = "longitude",
    max_speed_mps: float = 30.0,
    drop: bool = False,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Flag (or drop) position fixes whose implied speed from the
    previous fix exceeds ``max_speed_mps`` — the standard AIS track
    cleaner: GPS glitches and mistyped MMSIs teleport a vessel across
    an ocean, and every downstream track product (paths, co-location
    pairs, interpolation) amplifies the error unless it is caught at
    ingestion.

    Implied speed = haversine(prev → cur) / Δt seconds, evaluated per
    entity in time order via ONE ``lag`` window (the single shuffle is
    on the entity key, identical to sessionize's); the first fix of an
    entity and exact-duplicate timestamps (Δt = 0) are never flagged as
    speeders — a zero Δt with displacement is its own data error and is
    flagged separately as ``dup_ts``.

    Pure codegen trig on the lagged columns — no UDF, no self-join.
    With ``drop=True`` only clean rows return (same columns as input);
    otherwise all rows return with ``speed_mps`` (rounded 3, NULL for
    first fixes), ``flag`` ('ok' | 'speed' | 'dup_ts').

    Pass ``tiebreak_col`` (a unique id) whenever (uid, ts) may repeat:
    without it, lag order among equal timestamps is partition-order
    nondeterministic and a retry could flag different rows.
    """
    if max_speed_mps <= 0:
        raise ValueError(f"max_speed_mps must be > 0, got {max_speed_mps}")
    order = [F.col(ts_col).asc()] + (
        [F.col(tiebreak_col).asc()] if tiebreak_col else []
    )
    w = Window.partitionBy(uid_col).orderBy(*order)
    prev_lat = F.lag(F.col(lat_col).cast("double")).over(w)
    prev_lon = F.lag(F.col(lon_col).cast("double")).over(w)
    prev_ts = F.lag(F.col(ts_col)).over(w)
    dt = (
        F.col(ts_col).cast("timestamp").cast("double")
        - prev_ts.cast("timestamp").cast("double")
    )
    dist = haversine_m(
        prev_lat,
        prev_lon,
        F.col(lat_col).cast("double"),
        F.col(lon_col).cast("double"),
    )
    speed = F.when(prev_ts.isNull(), F.lit(None).cast("double")).when(
        dt > 0, dist / dt
    )
    flag = (
        F.when(prev_ts.isNull(), F.lit("ok"))
        .when((dt == 0) & (dist > 0), F.lit("dup_ts"))
        .when(speed > F.lit(float(max_speed_mps)), F.lit("speed"))
        .otherwise(F.lit("ok"))
    )
    out = df.withColumn("speed_mps", F.round(speed, 3)).withColumn(
        "flag", flag
    )
    if drop:
        return out.filter(F.col("flag") == "ok").drop("speed_mps", "flag")
    return out


def dwell_segments(
    df: DataFrame,
    *,
    uid_col: str = "uid",
    ts_col: str = "event_ts",
    lat_col: str = "latitude",
    lon_col: str = "longitude",
    move_threshold_m: float = 500.0,
    min_duration_s: int = 1800,
    min_fixes: int = 2,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Stop/dwell detection: maximal runs of consecutive fixes where the
    entity moved ≤ ``move_threshold_m`` between fixes, lasting ≥
    ``min_duration_s`` — anchorage/port-call detection for vessels,
    dwell-time analytics for any moving entity.

    Gaps-and-islands on a movement flag: per entity in time order, a
    fix starts a new island when it is the first fix or its haversine
    displacement from the previous fix exceeds the threshold; the
    island id is the running sum of that flag (``interval_merge``'s
    pattern — one lag + one running-sum window SHARING the same
    entity-key shuffle, never an overlap self-join). Each island then
    aggregates to one segment row; the dwell centroid uses the
    CIRCULAR longitude mean (atan2 of mean sin/cos) so an anchorage on
    the antimeridian doesn't average to the wrong hemisphere.

    Pass ``tiebreak_col`` when (uid, ts) may repeat — same
    determinism contract as :func:`speed_filter`.

    Fixes with a NULL coordinate are dropped BEFORE island
    construction: kept, a null row would poison the next row's lag
    (prev_lat NULL → spurious new-island flag), silently splitting an
    8-hour dwell into two halves that can each fall under the duration
    gate. Dropping the row keeps the island contiguous across the gap
    (the next fix compares against the last VALID position).

    Output: uid, start_ts, end_ts, duration_s, n_fixes, center_lat,
    center_lon (coords rounded 6).
    """
    if move_threshold_m <= 0:
        raise ValueError(
            f"move_threshold_m must be > 0, got {move_threshold_m}"
        )
    df = df.filter(
        F.col(lat_col).isNotNull() & F.col(lon_col).isNotNull()
    )
    order = [F.col(ts_col).asc()] + (
        [F.col(tiebreak_col).asc()] if tiebreak_col else []
    )
    w = Window.partitionBy(uid_col).orderBy(*order)
    lat = F.col(lat_col).cast("double")
    lon = F.col(lon_col).cast("double")
    prev_lat, prev_lon = F.lag(lat).over(w), F.lag(lon).over(w)
    moved = F.when(prev_lat.isNull(), F.lit(1)).otherwise(
        (haversine_m(prev_lat, prev_lon, lat, lon)
         > F.lit(float(move_threshold_m))).cast("int")
    )
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lon_rad = F.radians(lon)
    return (
        df.withColumn("_mv", moved)
        .withColumn("_island", F.sum("_mv").over(w_run))
        .groupBy(F.col(uid_col).alias("uid"), "_island")
        .agg(
            F.min(F.col(ts_col)).alias("start_ts"),
            F.max(F.col(ts_col)).alias("end_ts"),
            F.count(F.lit(1)).alias("n_fixes"),
            F.round(F.avg(lat), 6).alias("center_lat"),
            F.round(
                F.degrees(
                    F.atan2(F.avg(F.sin(lon_rad)), F.avg(F.cos(lon_rad)))
                ),
                6,
            ).alias("center_lon"),
        )
        .withColumn(
            "duration_s",
            (
                F.col("end_ts").cast("timestamp").cast("long")
                - F.col("start_ts").cast("timestamp").cast("long")
            ),
        )
        .filter(
            (F.col("n_fixes") >= F.lit(min_fixes))
            & (F.col("duration_s") >= F.lit(min_duration_s))
        )
        .select(
            "uid", "start_ts", "end_ts", "duration_s", "n_fixes",
            "center_lat", "center_lon",
        )
    )


def assign_zones(
    points: DataFrame,
    zones: DataFrame,
    *,
    id_col: str,
    lat_col: str = "lat",
    lon_col: str = "lon",
    zone_col: str = "zone",
    polygon_col: str = "polygon",
) -> DataFrame:
    """Geofencing: tag each point with every zone polygon containing it
    — port/anchorage attribution for AIS tracks, region tagging for any
    lat/lon stream. Inner-join semantics: points inside no zone drop
    out; a point inside overlapping zones appears once per zone.

    Scale shape: the zone table broadcasts (a geofence catalog is
    thousands of rows, not corpus-scale) with its bounding box
    precomputed ROW-LOCALLY from the polygon ring; candidate pruning is
    the bbox test inside the broadcast join, and only bbox survivors
    pay the exact O(vertices) ray cast (``functions.geo
    .point_in_polygon`` — pure expression, JVM-side). The points table
    never shuffles. For zone catalogs too big to broadcast, pre-block
    both sides by ``grid_cell`` over the bbox cover and equi-join on
    the cell — the ``radius_pairs`` discipline; this operator keeps
    the broadcast shape because that is the real cardinality regime.

    Output: id, zone, lat, lon.
    """
    from knot_another_pipeline_spark.functions.geo import point_in_polygon

    poly = F.col(polygon_col)
    lats = F.transform(poly, lambda p: p["lat"])
    lons = F.transform(poly, lambda p: p["lon"])
    z = zones.select(
        F.col(zone_col).alias("zone"),
        poly.alias("_poly"),
        F.array_min(lats).alias("_lat_lo"),
        F.array_max(lats).alias("_lat_hi"),
        F.array_min(lons).alias("_lon_lo"),
        F.array_max(lons).alias("_lon_hi"),
    )
    p = points.select(
        F.col(id_col).alias("id"),
        F.col(lat_col).cast("double").alias("lat"),
        F.col(lon_col).cast("double").alias("lon"),
    )
    return (
        p.crossJoin(F.broadcast(z))
        .filter(
            F.col("lat").between(F.col("_lat_lo"), F.col("_lat_hi"))
            & F.col("lon").between(F.col("_lon_lo"), F.col("_lon_hi"))
        )
        .filter(point_in_polygon(F.col("lat"), F.col("lon"), F.col("_poly")))
        .select("id", "zone", "lat", "lon")
    )


def dbscan_grid(
    df: DataFrame,
    *,
    lat_col: str,
    lon_col: str,
    cell_deg: float,
    min_pts: int,
) -> DataFrame:
    """Grid-density spatial clustering (DBSCAN-lite): bucket positions
    into ``cell_deg``-degree grid cells, keep cells with ≥ ``min_pts``
    points (the density test), and union 8-neighbor-adjacent dense
    cells into clusters — anchorages, ports, congestion zones from raw
    position streams, without DBSCAN's per-point ε-neighborhood query
    (which is a quadratic self-join at corpus scale).  Cell size plays
    ε; ``min_pts`` is the density knob, same as DBSCAN.

    Scale shape: the density test is ONE hash aggregate on the cell
    key (discretize-then-equi-join — the engine's standard spatial
    trick).  Adjacency joins the DENSE-cell table (already reduced by
    the density cut, orders of magnitude smaller than the input)
    against its own 9-offset explode; components come from
    :func:`~knot_another_pipeline_spark.operators.dedup
    .connected_components` (min-label propagation over the dense-cell
    pairs only).  Dense cells with no dense neighbor are their own
    singleton cluster.  Cluster ids are deterministic: the
    lexicographic minimum ``"x:y"`` key in the component.

    Output per dense cell: cell_x, cell_y, n_points, cluster.
    """
    if cell_deg <= 0:
        raise ValueError(f"cell_deg must be > 0, got {cell_deg}")
    if min_pts < 1:
        raise ValueError(f"min_pts must be >= 1, got {min_pts}")
    from knot_another_pipeline_spark.operators.dedup import (
        connected_components,
    )

    cells = (
        df.select(
            F.floor(F.col(lon_col) / cell_deg).alias("cell_x"),
            F.floor(F.col(lat_col) / cell_deg).alias("cell_y"),
        )
        .filter(F.col("cell_x").isNotNull() & F.col("cell_y").isNotNull())
        .groupBy("cell_x", "cell_y")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .filter(F.col("n_points") >= min_pts)
    )
    key = F.concat_ws(":", F.col("cell_x"), F.col("cell_y"))
    # The components loop runs on a PACKED NUMERIC cell key: a string
    # key would pay connected_components' id map (one more write and
    # two joins), and the old string-keyed loop took 4.7 s against
    # 1.3 s on this graph at sf0.1. 2^29/2^30 packing supports |cell index|
    # < 5.4e8, i.e. cell_deg down to ~1e-6°, without overflowing int64.
    # The public cluster label stays the lexicographic minimum "x:y"
    # string, restored afterwards by a min-per-component remap over the
    # (bounded) dense-cell table.
    nkey = (
        (F.col("cell_x") + F.lit(536_870_912)) * F.lit(1_073_741_824)
        + (F.col("cell_y") + F.lit(536_870_912))
    ).cast("bigint")
    dense = (
        cells.withColumn("cell_key", key)
        .withColumn("nkey", nkey)
        .localCheckpoint(eager=False)
    )
    offsets = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)]
    probe = dense.select(
        "nkey",
        F.explode(
            F.array(
                *[
                    F.struct(
                        (F.col("cell_x") + dx).alias("nx"),
                        (F.col("cell_y") + dy).alias("ny"),
                    )
                    for dx, dy in offsets
                    if (dx, dy) != (0, 0)
                ]
            )
        ).alias("nb"),
    ).select(
        F.col("nkey").alias("key_a"),
        F.col("nb.nx").alias("cell_x"),
        F.col("nb.ny").alias("cell_y"),
    )
    pairs = (
        probe.join(dense.select("cell_x", "cell_y", "nkey"), ["cell_x", "cell_y"])
        .filter(F.col("key_a") < F.col("nkey"))
        .select(F.col("key_a").alias("id_a"), F.col("nkey").alias("id_b"))
        .distinct()
    )
    # Explicit JUMPED composition: grid adjacency has genuine chains
    # (an anchorage strip is a path of cells), where jump-free
    # propagation measured 8 rounds vs 4 — unlike the near-dup pair
    # graphs the jump-free default is tuned for.
    comp = connected_components(pairs, half_steps_per_round=2, pointer_jumps=1)
    members = dense.join(
        comp.withColumnRenamed("id", "nkey"), "nkey", "left"
    )
    labels = (
        members.filter(F.col("component").isNotNull())
        .groupBy("component")
        .agg(F.min("cell_key").alias("_cluster"))
    )
    return (
        members.join(labels, "component", "left")
        .select(
            F.col("cell_x").cast("bigint").alias("cell_x"),
            F.col("cell_y").cast("bigint").alias("cell_y"),
            F.col("n_points").cast("bigint").alias("n_points"),
            F.coalesce("_cluster", F.col("cell_key")).alias("cluster"),
        )
    )


def track_length(
    df: DataFrame,
    *,
    entity_col: str,
    ts_col: str,
    lat_col: str,
    lon_col: str,
    tiebreak_col: str | None = None,
    round_to: int = 3,
) -> DataFrame:
    """Great-circle track length and speed summary per entity — total
    haversine distance over the time-ordered fix sequence, elapsed
    span, and the implied average speed — the first summary row of
    every track analytics page, and the sanity denominator for
    anything quoted "per km sailed".

    One lag window on the entity key (the same single shuffle every
    operator in this module rides), codegen haversine per consecutive
    fix pair, one aggregate.  ``tiebreak_col`` pins the order under
    duplicate timestamps (same contract as ``speed_filter``).  Fixes
    with NULL coordinates contribute no segment but do count in
    ``n_fixes``.

    Output per entity: entity, n_fixes, total_km, elapsed_hours,
    avg_kmh (NULL when elapsed is 0; rounded).
    """
    order = [F.col("_ts").asc()] + (
        [F.col("_tb").asc()] if tiebreak_col else []
    )
    base = df.select(
        F.col(entity_col).alias("entity"),
        F.col(ts_col).alias("_ts"),
        *([F.col(tiebreak_col).alias("_tb")] if tiebreak_col else []),
        F.col(lat_col).cast("double").alias("_lat"),
        F.col(lon_col).cast("double").alias("_lon"),
    )
    w = Window.partitionBy("entity").orderBy(*order)
    seg = (
        base.withColumn("_plat", F.lag("_lat").over(w))
        .withColumn("_plon", F.lag("_lon").over(w))
        .withColumn(
            "_km",
            F.when(
                F.col("_lat").isNotNull()
                & F.col("_lon").isNotNull()
                & F.col("_plat").isNotNull()
                & F.col("_plon").isNotNull(),
                haversine_m(
                    F.col("_plat"), F.col("_plon"),
                    F.col("_lat"), F.col("_lon"),
                ) / F.lit(1000.0),
            ),
        )
    )
    hours = (
        F.unix_micros(F.max("_ts").cast("timestamp"))
        - F.unix_micros(F.min("_ts").cast("timestamp"))
    ).cast("double") / F.lit(3600.0 * 1e6)
    return seg.groupBy("entity").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fixes"),
        F.round(F.coalesce(F.sum("_km"), F.lit(0.0)), round_to).alias(
            "total_km"
        ),
        F.round(hours, round_to).alias("elapsed_hours"),
        F.round(
            F.when(
                hours > 0, F.coalesce(F.sum("_km"), F.lit(0.0)) / hours
            ),
            round_to,
        ).alias("avg_kmh"),
    )


def signal_gaps(
    df: DataFrame,
    *,
    entity_col: str,
    ts_col: str,
    min_gap_hours: float = 24.0,
    tiebreak_col: str | None = None,
    round_to: int = 3,
) -> DataFrame:
    """Reporting-gap detection: every silence longer than
    ``min_gap_hours`` between an entity's consecutive events — the
    maritime "dark period" screen (AIS transponders that stop
    reporting), equally the sensor/heartbeat-outage screen.

    One lag window on the entity key (the module's shared single
    shuffle), a row-local duration compare, done — the filter keeps
    only the rare gap rows, so the output is tiny however large the
    event stream.  ``tiebreak_col`` pins ordering under duplicate
    timestamps.

    Output per gap: entity, gap_start, gap_end, gap_hours (rounded),
    ordered (entity, gap_start).
    """
    order = [F.col("_ts").asc()] + (
        [F.col("_tb").asc()] if tiebreak_col else []
    )
    base = df.select(
        F.col(entity_col).alias("entity"),
        F.col(ts_col).alias("_ts"),
        *([F.col(tiebreak_col).alias("_tb")] if tiebreak_col else []),
    ).filter(F.col("_ts").isNotNull())
    w = Window.partitionBy("entity").orderBy(*order)
    # unix_micros via a timestamp cast: NTZ-sourced columns (parquet
    # nanos) don't cast to double directly (same idiom as track_length)
    hours = (
        F.unix_micros(F.col("_ts").cast("timestamp"))
        - F.unix_micros(F.col("_prev").cast("timestamp"))
    ).cast("double") / F.lit(3600.0 * 1e6)
    return (
        base.withColumn("_prev", F.lag("_ts").over(w))
        .filter(
            F.col("_prev").isNotNull() & (hours > F.lit(min_gap_hours))
        )
        .select(
            "entity",
            F.col("_prev").alias("gap_start"),
            F.col("_ts").alias("gap_end"),
            F.round(hours, round_to).alias("gap_hours"),
        )
        .orderBy("entity", "gap_start")
    )


def od_matrix(
    df: DataFrame,
    *,
    entity_col: str,
    ts_col: str,
    lat_col: str,
    lon_col: str,
    cell_deg: float = 10.0,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Origin-destination matrix: each (entity, day) contributes one
    trip from its FIRST to its LAST position of the day; trips then
    aggregate into zone-pair counts — the classic flow matrix behind
    traffic-density and route-demand charts.

    Zones are ``cell_deg``-degree lat/lon boxes (coarse by design: an
    OD matrix over fine cells is all-distinct pairs and says nothing).
    Shape: one (entity, day) window shuffle for first/last (shared by
    both), then one small aggregate over trips — event volume per
    (entity, day) compresses before anything pairs up.  Stationary
    trips (origin = destination) are kept: the diagonal is the
    dwell signal.

    Output: origin_zone, dest_zone, n_trips, n_entities (distinct
    entities on that flow), ordered by n_trips desc then zones.
    """
    order = [F.col("_ts").asc()] + (
        [F.col("_tb").asc()] if tiebreak_col else []
    )
    zone = lambda lat, lon: F.concat_ws(  # noqa: E731
        ":",
        F.floor(F.col(lat) / cell_deg).cast("bigint").cast("string"),
        F.floor(F.col(lon) / cell_deg).cast("bigint").cast("string"),
    )
    base = df.select(
        F.col(entity_col).alias("entity"),
        F.col(ts_col).alias("_ts"),
        F.to_date(ts_col).alias("_day"),
        *([F.col(tiebreak_col).alias("_tb")] if tiebreak_col else []),
        zone(lat_col, lon_col).alias("_zone"),
    ).filter(F.col("_ts").isNotNull())
    w = Window.partitionBy("entity", "_day").orderBy(*order)
    w_rev = Window.partitionBy("entity", "_day").orderBy(
        *[o.desc() for o in [F.col("_ts")]]
        + ([F.col("_tb").desc()] if tiebreak_col else [])
    )
    trips = (
        base.withColumn("_rn", F.row_number().over(w))
        .withColumn("_origin", F.first("_zone").over(w))
        .withColumn("_dest", F.first("_zone").over(w_rev))
        .filter(F.col("_rn") == 1)
        .select("entity", "_day", "_origin", "_dest")
    )
    return (
        trips.groupBy(
            F.col("_origin").alias("origin_zone"),
            F.col("_dest").alias("dest_zone"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_trips"),
            F.countDistinct("entity").cast("bigint").alias("n_entities"),
        )
        .orderBy(
            F.col("n_trips").desc(),
            F.col("origin_zone").asc(),
            F.col("dest_zone").asc(),
        )
    )


def track_sinuosity(
    df: DataFrame,
    *,
    entity_col: str,
    ts_col: str,
    lat_col: str,
    lon_col: str,
    tiebreak_col: str | None = None,
    min_direct_km: float = 1.0,
    round_to: int = 3,
) -> DataFrame:
    """Track sinuosity: path length over straight-line (great-circle)
    displacement per entity — 1.0 is a beeline, loitering/search
    patterns score high.  The standard trajectory-shape screen next to
    ``track_length``'s absolute distance.

    Same single entity-key window shuffle as the rest of the module:
    lag for segment lengths, first/last (by the shared order) for the
    displacement endpoints, one aggregate.  Tracks displaced less than
    ``min_direct_km`` get NULL sinuosity (the ratio is numerically
    meaningless around zero displacement) but keep their path_km.

    Output per entity: entity, n_fixes, path_km, direct_km, sinuosity
    (all rounded).
    """
    order = [F.col("_ts").asc()] + (
        [F.col("_tb").asc()] if tiebreak_col else []
    )
    base = df.select(
        F.col(entity_col).alias("entity"),
        F.col(ts_col).alias("_ts"),
        *([F.col(tiebreak_col).alias("_tb")] if tiebreak_col else []),
        F.col(lat_col).cast("double").alias("_lat"),
        F.col(lon_col).cast("double").alias("_lon"),
    ).filter(
        F.col("_ts").isNotNull()
        & F.col("_lat").isNotNull()
        & F.col("_lon").isNotNull()
    )
    w = Window.partitionBy("entity").orderBy(*order)
    w_all = Window.partitionBy("entity").orderBy(*order).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    seg_km = (
        haversine_m(
            F.col("_plat"), F.col("_plon"), F.col("_lat"), F.col("_lon")
        )
        / 1000.0
    )
    enriched = (
        base.withColumn("_plat", F.lag("_lat").over(w))
        .withColumn("_plon", F.lag("_lon").over(w))
        .withColumn(
            "_seg",
            F.when(F.col("_plat").isNotNull(), seg_km).otherwise(F.lit(0.0)),
        )
        .withColumn("_lat0", F.first("_lat").over(w_all))
        .withColumn("_lon0", F.first("_lon").over(w_all))
        .withColumn("_lat1", F.last("_lat").over(w_all))
        .withColumn("_lon1", F.last("_lon").over(w_all))
    )
    agg = enriched.groupBy("entity").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_fixes"),
        F.sum("_seg").alias("_path"),
        (
            F.first(
                haversine_m(
                    F.col("_lat0"),
                    F.col("_lon0"),
                    F.col("_lat1"),
                    F.col("_lon1"),
                )
            )
            / 1000.0
        ).alias("_direct"),
    )
    return agg.select(
        "entity",
        "n_fixes",
        F.round("_path", round_to).alias("path_km"),
        F.round("_direct", round_to).alias("direct_km"),
        F.round(
            F.when(
                F.col("_direct") >= min_direct_km,
                F.col("_path") / F.col("_direct"),
            ),
            round_to,
        ).alias("sinuosity"),
    )
