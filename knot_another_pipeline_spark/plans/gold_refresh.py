"""Gold-layer refresh orchestration: silver → uid_hourly_h3 → pairs_daily
→ pairs_total, with replace/append modes and DQ reconciliation.

Reference: ``/root/reference/pipelines/refresh_gold_tables.py`` — its
day-at-a-time CTAS loop (:648-669), temp-table dance, `MSCK REPAIR`, and
`aws s3 rm` replace mode (:452-465, 633-646) all collapse into Spark's
dynamic partition overwrite: one job writes exactly the day partitions it
recomputed, atomically per partition, and late-arriving days append by
simply being present in the input.

Single scan of silver, one pin per gold table. As in the reference
(``:306-358``), each table is materialized once and everything downstream
reads it, never the silver → rollup chain again:

1. silver (filtered to ``days`` first, so the rollup and the DQ count see
   the same rows) → ``uid_hourly_h3``, pinned with ``localCheckpoint()``.
   An ``Observation`` on that scan counts the silver rows that pass the
   rollup's filters: the DQ expectation, in band, with no separate
   ``count()`` job.
2. The hourly pin is written to ``uid_hourly_h3`` (with ``output_root``)
   and feeds the pairs join, the trim count and the reconciliation, so
   they see exactly this run's rows, whatever older partitions or
   appended rows the table on disk holds.
3. The pairs built from it are pinned too: the pin is written to
   ``pairs_daily``, is the returned ``pairs`` and is what the DQ counts.
   ``pairs_total`` aggregates the whole ``pairs_daily`` read back.
4. The DQ report reads the two pins.

Runs with and without ``output_root`` and with ``catalog_tables`` share
this flow; only the writes differ. A pin lives in executor block storage:
if an executor that holds part of one dies, the refresh fails with an
error naming the lost checkpoint block; it never recomputes or returns
wrong rows.

Each gold partition is written as one AQE-sized file set. Every write is
rebalanced on the table's own partition columns, so the table's layout,
not an upstream exchange, sets its file count: one file per partition
(per bucket in catalog mode) at small scale, files near
``advisoryPartitionSizeInBytes`` at large scale. Before, ``pairs_daily``
inherited the pairs join's fixed 32-way exchange and got up to 32 files
per day.

Measured with ``perfbench`` (``--trace 1``, ``gold_refresh``, 4-core
host): the single silver scan and the pre-join prune in
``co_movement_pairs`` took seed 5 from 8 silver scans to 1, Spark jobs
40 → 33, refresh span 20.6 s → 10.0 s and pairs join rows 3 831 580 →
1 180. Reading the pins instead of filtered read-backs, with the DQ
counting the pairs pin instead of re-running the join, then took seed 1
from 33 jobs to 28 and its refresh span 8.05 s → 7.37 s. Rebalancing the
writes took its ``pairs_daily`` from 45 files (151.6 KB) to 2 (8.5 KB),
files written 94 → 51 and files opened by the pair lookups 46 → 3, for
two more Spark jobs (28 → 30).

Scale story: the reference bounded each Athena query to one silver day
partition to cap query size. Spark needs no such manual dicing — AQE
sizes the shuffles — but the ``days`` filter is kept for targeted
rebuilds (reprocess one bad day without touching the month).
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F

from knot_another_pipeline_spark.operators.pairs import (
    co_movement_pairs,
    oversize_cell_windows,
    pairs_total,
)
from knot_another_pipeline_spark.operators.quality import reconciliation_report
from knot_another_pipeline_spark.operators.rollup import build_uid_hourly_h3


@dataclass
class GoldRefreshResult:
    hourly: DataFrame
    pairs: DataFrame
    totals: DataFrame
    report: DataFrame | None = None
    written: dict[str, str] = field(default_factory=dict)


def refresh_gold(
    spark: SparkSession,
    silver: DataFrame,
    *,
    output_root: str | None = None,
    mode: str = "replace",
    days: Sequence[str] | None = None,
    uid_col: str = "mmsi",
    ts_col: str = "base_date_time",
    lat_col: str = "latitude",
    lon_col: str = "longitude",
    sog_col: str = "sog",
    run_checks: bool = True,
    min_shared_cells: int = 1,
    catalog_tables: bool = False,
    max_entities_per_cell: int | None = 10_000,
) -> GoldRefreshResult:
    """Rebuild the gold tables from silver.

    - ``days``: optional list of 'YYYY-MM-DD' strings → rebuild of just
      those days (the reference's per-day CTAS, minus the loop). Applied
      to silver's event dates before the rollup; callers reading a
      partitioned silver root also filter its partitions (the CLI does).
    - ``mode='replace'``: dynamic partition overwrite of exactly the
      computed day partitions; ``'append'``: add new partitions.
    - ``output_root``: when set, writes hourly/pairs/totals parquet under
      it, partitioned like the reference layout (dt/hour and
      year/month/day).
    - ``catalog_tables``: write through the session catalog with the
      reference's bucketing (`uid_hourly_h3` CLUSTERED BY mmsi ×64,
      `pairs_daily` by (uid_a, uid_b) ×32 —
      `refresh_gold_tables.py:306-358`) so later joins/aggs keyed on the
      bucket columns read shuffle-free. Plain partitioned parquet
      otherwise.
    - ``max_entities_per_cell``: mega-cell skew guard, ON by default. The
      pairs self-join (reference skew point:
      ``sql/gold/create_pairs_daily.sql:40-54``) emits n(n-1)/2 rows per
      cell-window; at AIS scale one port anchorage goes quadratic before
      AQE can split it. Cell-windows above the cap are dropped before the
      join; per-entity denominators still count them (reference
      semantics). 10 000 entities → ≤5·10⁷ pairs from a single
      cell-window, the most a healthy task should absorb. ``None``
      disables.
    """
    from knot_another_pipeline_spark.functions.geo import valid_coords
    from knot_another_pipeline_spark.functions.timestamps import as_timestamp
    from knot_another_pipeline_spark.sources.warehouse import save_bucketed_table

    # Parse the timestamp once: the days filter, the DQ count and the
    # rollup all read the same column.
    silver = silver.withColumn("_ts", as_timestamp(silver, ts_col))
    if days:
        # Filter silver, not hourly: the rollup and the observed DQ count
        # must see the same rows (dt = to_date(event_ts)).
        silver = silver.filter(F.to_date("_ts").isin(list(days)))
    # The DQ silver count rides on the rollup's own scan: the rows that
    # survive the rollup's filters, counted in band.
    silver_obs = Observation("silver")
    silver = silver.observe(
        silver_obs,
        F.count_if(
            F.col(uid_col).isNotNull()
            & F.col("_ts").isNotNull()
            & valid_coords(
                F.col(lat_col).cast("double"), F.col(lon_col).cast("double")
            )
        ).alias("kept"),
    )
    hourly = build_uid_hourly_h3(
        silver,
        uid_col=uid_col,
        ts_col="_ts",
        lat_col=lat_col,
        lon_col=lon_col,
        sog_col=sog_col,
    ).localCheckpoint()

    written: dict[str, str] = {}
    write_mode = "overwrite" if mode == "replace" else "append"

    def materialize(df, name, partition_by, **bucketing) -> None:
        """Write ``df`` as gold table ``name`` under ``output_root``, one
        AQE-sized file set per ``partition_by`` partition."""
        if not output_root:
            return
        path = written[name] = f"{output_root}/{name}"
        df = df.hint("rebalance", *partition_by)
        if catalog_tables:
            save_bucketed_table(
                df, name, partition_by=partition_by, mode=write_mode,
                path=path, **bucketing,
            )
        else:
            df.write.mode(write_mode).partitionBy(*partition_by).parquet(path)

    materialize(
        hourly.withColumn("hour_part", F.col("hour")),
        "uid_hourly_h3",
        ("dt", "hour_part"),
        bucket_by=("mmsi",),
        num_buckets=64,
        sort_by=("mmsi",),
    )
    pairs = co_movement_pairs(
        hourly.select(
            F.col("mmsi").alias("uid"),
            F.col("hour_ts").alias("window_ts"),
            F.col("h3_index").alias("cell"),
        ),
        uid_col="uid",
        window_col="window_ts",
        cell_col="cell",
        min_shared_cells=min_shared_cells,
        max_entities_per_cell=max_entities_per_cell,
    ).localCheckpoint()
    daily = (
        pairs.withColumn("year", F.year("day_date"))
        .withColumn("month", F.month("day_date"))
        .withColumn("day", F.dayofmonth("day_date"))
    )
    materialize(
        daily,
        "pairs_daily",
        ("year", "month", "day"),
        bucket_by=("uid_a", "uid_b"),
        num_buckets=32,
    )

    if output_root:
        # The lifetime summary must aggregate the WHOLE materialized
        # pairs_daily table (reference create_pairs_total.sql reads the
        # full table) — unconditionally, not just for append/targeted
        # runs: 'replace' uses dynamic partition overwrite, which keeps
        # on-disk day partitions absent from this run's input, so even a
        # replace run can cover fewer days than the table holds. Cheap
        # relative to the refresh (one scan of the pre-built pairs table).
        # Explicit schema: an empty run writes no parquet footers, so
        # schema inference on the read-back would fail.
        totals = pairs_total(
            spark.table("pairs_daily")
            if catalog_tables
            else spark.read.schema(daily.schema).parquet(written["pairs_daily"])
        )
        totals_path = written["pairs_total"] = f"{output_root}/pairs_total"
        if catalog_tables:
            totals.write.mode("overwrite").option("path", totals_path).saveAsTable(
                "pairs_total"
            )
        else:
            totals.write.mode("overwrite").parquet(totals_path)
    else:
        totals = pairs_total(pairs)

    report = None
    if run_checks:
        trimmed = None
        if max_entities_per_cell is not None:
            trimmed = oversize_cell_windows(
                hourly.select(
                    F.to_date("hour_ts").alias("day_date"),
                    F.col("hour_ts").alias("w"),
                    F.col("h3_index").alias("cell"),
                ),
                max_entities_per_cell,
            ).count()
        report = reconciliation_report(
            spark,
            # No hourly row means no silver row passed the rollup's
            # filters; AQE then drops the empty rollup's stages, and with
            # them the silver observation, so it is not read.
            silver_filtered_count=(
                0 if hourly.isEmpty() else silver_obs.get["kept"]
            ),
            hourly=hourly,
            pairs=pairs,
            trimmed_cell_windows=trimmed,
        )

    return GoldRefreshResult(
        hourly=hourly, pairs=pairs, totals=totals, report=report, written=written
    )
