"""Per-entity time-window rollup (the reference's ``uid_hourly_h3`` builder).

Reference semantics (``/root/reference/sql/gold/create_uid_hourly_h3.sql:56-72``,
programmatic form ``pipelines/refresh_gold_tables.py:124-142``):

    SELECT mmsi, date_trunc('hour', event_ts) AS hour_ts,
           AVG(lat) AS avg_lat, AVG(lon) AS avg_lon,
           lat_lng_to_cell_address(AVG(lat), AVG(lon), 7) AS h3_index,
           COUNT(*) AS message_count, AVG(sog) AS avg_sog,
           CAST(current_timestamp AS TIMESTAMP) AS ingested_at,
           COUNT(*) AS source_row_count,
           date(date_trunc('day', event_ts)) AS dt,
           EXTRACT(hour FROM event_ts) AS hour
    FROM cleaned GROUP BY 1, 2

Spark shape: a single ``groupBy`` hash aggregate — Catalyst plans
partial (map-side) + final aggregation automatically, so the shuffle
carries one row per (entity, window) not per input row. At 100 TB this is
the step that collapses billions of positions into the join-sized table;
the later self-join never sees raw rows.

The cell address is computed *after* aggregation from the averaged
position (A2 in SURVEY §2.4) — one encode per entity-window, not per row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from knot_another_pipeline_spark.functions.geo import h3_cell, valid_coords
from knot_another_pipeline_spark.functions.timestamps import as_timestamp


def build_uid_hourly_h3(
    silver: DataFrame,
    *,
    uid_col: str = "mmsi",
    ts_col: str = "base_date_time",
    lat_col: str = "latitude",
    lon_col: str = "longitude",
    sog_col: str = "sog",
) -> DataFrame:
    """Exact reference ``uid_hourly_h3`` schema (FIXTURES.md F3) from a
    silver-layer AIS DataFrame.

    Cleaning stage inlined per ``create_uid_hourly_h3.sql:27-55``: tiered
    timestamp normalization (skipped for a column already typed
    TIMESTAMP, such as silver's ``event_ts``), null-rejection on (uid,
    ts), try-cast numerics, coordinate-validity filter. All filters are built-in
    predicates → pushed into the parquet scan where possible.
    """
    cleaned = (
        silver.withColumn("event_ts", as_timestamp(silver, ts_col))
        .withColumn("lat", F.col(lat_col).cast("double"))
        .withColumn("lon", F.col(lon_col).cast("double"))
        .withColumn("sog_d", F.col(sog_col).cast("double") if sog_col in silver.columns else F.lit(None).cast("double"))
        .filter(F.col(uid_col).isNotNull() & F.col("event_ts").isNotNull())
        .filter(valid_coords(F.col("lat"), F.col("lon")))
    )
    hourly = (
        cleaned.groupBy(
            F.col(uid_col).cast("string").alias("mmsi"),
            F.date_trunc("hour", F.col("event_ts")).alias("hour_ts"),
        )
        .agg(
            F.avg("lat").alias("avg_lat"),
            F.avg("lon").alias("avg_lon"),
            F.count(F.lit(1)).alias("message_count"),
            F.avg("sog_d").alias("avg_sog"),
            F.count(F.lit(1)).alias("source_row_count"),
        )
        .withColumn("h3_index", h3_cell(F.col("avg_lat"), F.col("avg_lon")))
        .withColumn("ingested_at", F.current_timestamp())
        .withColumn("dt", F.to_date("hour_ts"))
        .withColumn("hour", F.hour("hour_ts"))
    )
    return hourly.select(
        "mmsi", "hour_ts", "avg_lat", "avg_lon", "h3_index",
        "message_count", "avg_sog", "ingested_at", "source_row_count",
        "dt", "hour",
    )
